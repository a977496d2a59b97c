package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every entry point shares. */
object Sessions {

  /** Configs required for correctness (UTC parity with the DuckDB oracle,
    * nanosecond-timestamp reads) and for sane local-mode execution.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    // Shuffle/spill files on tmpfs: local-mode shuffles create O(maps ×
    // reducers) small files, and this host's disk has bursty metadata
    // latency that stalls otherwise-idle executors. On a real cluster this
    // is the usual fast-local-disk requirement for shuffle storage.
    val localDir = new java.io.File("/dev/shm/spark-local")
    val shuffleBase =
      if (localDir.isDirectory || localDir.mkdirs()) localDir.getAbsolutePath
      else System.getProperty("java.io.tmpdir")
    b.config("spark.local.dir", shuffleBase)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not the deprecated INT96: footers then carry real
      // min/max stats, which the manifest zone maps (file skipping) and
      // engine row-group pruning both rely on
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // The testdata tables are single parquet files; 128 MB split targets
      // would scan a multi-hundred-MB file with 1-2 tasks on a 32-core
      // local box. 16 MB splits give row-group-granular parallelism on
      // medium files and change nothing for files below the target (a
      // split can't be smaller than a row group either way). This is
      // per-deployment tuning against file layout — overridable so a
      // cluster with 128 MB row groups isn't pinned to 8x task counts.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
      // Partitioned-store reads (16-shard × bucket × origin layouts) list
      // 64-128 leaf dirs; above this threshold Spark launches a whole
      // distributed LISTING JOB (~0.2-1 s of fixed job overhead per read)
      // where a driver-side listing of local dirs is sub-millisecond.
      // 512 keeps every store read driver-side here; an object-store
      // deployment with tens of thousands of partition dirs should lower
      // it back toward the 32 default (remote listing IS worth a job
      // there), hence the env override.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_JOB_THRESHOLD", "512"))
      // The generated-class cache defaults to 100 entries; a session
      // running the whole query registry produces several hundred
      // codegen units per pass, so every re-execution recompiles every
      // stage (measured: the cdf1 scan job drops 5.6 s → 0.5 s once its
      // generated classes are cache-hits). Static conf, driver-memory
      // bounded (generated classes are small); any long-lived
      // many-query session wants this, not just the bench.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_CODEC", "zstd"))
      // Local-mode only: without libhadoop, every create/mkdirs on the
      // default local FS forks a `chmod` subprocess (10-25 ms each; a
      // 96-file dynamic-partition write pays hundreds). This impl skips
      // permission fixup — files keep the process umask. Cluster schemes
      // (hdfs://, s3a://) are unaffected by fs.file.impl.
      .config("spark.hadoop.fs.file.impl", "graft.lake.FastLocalFileSystem")
      .config("spark.ui.enabled", "false")
    // A/B experiment hook: arbitrary conf overrides without a code edit
    // (e.g. SPARK_GRAFT_EXTRA_CONF="spark.graft.path=distributed" to
    // force every local kernel and batch twin to its distributed or
    // stateful side, see graft.exec.PathChoice, for a before/after plan
    // dump or bench). Applied LAST so they win over the defaults above;
    // production deployments pass real conf files instead. Known
    // limitation (debug hook, not a config surface): entries split on
    // ';' with no escaping, so a conf VALUE
    // containing a semicolon cannot be expressed here — it would split
    // into a bogus entry and fail the key=value require below.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry is not key=value: $kv")
        b.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    b
  }

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
