package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `--workload lake_serve|lake_ingest`,
  * `--trace 0` for the end-to-end metrics, `--trace 1` for the per-layer
  * ones. Writes the result line and a detail artifact as JSON files;
  * `perfbench/run.py` prints the result line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, artifact: String, expected: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m("artifact"), m("expected"))
  }

  def session(work: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the program's own session configuration; only the scratch
    // directories move into the run's work directory
    val s = graft.Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Result of a run: the contract line's fields plus the metric map. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def op(ok: Boolean, why: => String): Unit = synchronized {
      attempted += 1
      if (!ok) { failed += 1; if (problems.size < 50) problems += why }
    }
  }

  /** Host-noise stamp: a fixed CPU-bound Spark job whose time moves only
    * when the host does — the shape of `graft.Bench`'s
    * `range200M_sum_mod97`, at a tenth of its size. It runs at the end of
    * set-up, when the JVM is warm, and again at the end of the run. */
  def cpuProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 8).selectExpr("sum(id % 97)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Share of the host's CPU used by other processes, sampled every
    * 500 ms while the run lasts: what competed with the run. */
  final class OtherCpu extends Thread("perfbench-other-cpu") {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val samples = mutable.ArrayBuffer.empty[Double]
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      val all = os.getCpuLoad; val own = os.getProcessCpuLoad
      if (all >= 0 && own >= 0) samples.synchronized(samples += math.max(0.0, all - own))
      Thread.sleep(500)
    }
    def mean: Double = samples.synchronized(if (samples.isEmpty) 0.0 else samples.sum / samples.size)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val other = new OtherCpu; other.start()
    val spark = session(args.work)
    val os = ManagementFactory.getOperatingSystemMXBean
    val mapper = new ObjectMapper()
    val art = mapper.createObjectNode()
    val host = art.putObject("host")
    host.put("cores", Runtime.getRuntime.availableProcessors())
    host.put("loadavg_before", os.getSystemLoadAverage)

    val res = new Result
    val run = new Workloads(spark, args, res, art, jvmStartMs)
    try {
      (args.workload, args.trace) match {
        case ("lake_serve" | "lake_ingest", false) => run.lakeRun()
        case ("lake_serve" | "lake_ingest", true) => run.traced()
        case (w, _) => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        res.op(ok = false, s"run aborted: $e")
        e.printStackTrace()
    }
    host.put("cpu_probe_after_s", cpuProbe(spark))
    host.put("loadavg_after", os.getSystemLoadAverage)
    other.running = false
    // other processes used a quarter of the host or more while the run
    // lasted: its timings may be the host's, not the program's
    host.put("other_cpu_share", other.mean)
    host.put("loaded", other.mean > 0.25)
    run.shutdown()

    val out = mapper.createObjectNode()
    out.put("correct", res.failed == 0 && res.attempted > 0)
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    val ms = out.putObject("metrics")
    res.metrics.foreach { case (k, (v, u)) =>
      val o = ms.putObject(k); o.put("value", v); o.put("unit", u)
    }
    art.put("workload", args.workload); art.put("seed", args.seed)
    art.put("trace", args.trace); art.put("seconds", args.seconds)
    art.put("fail_ratio", if (res.attempted == 0) 1.0 else res.failed.toDouble / res.attempted)
    art.set[ObjectNode]("result", out.deepCopy())
    val p = art.putArray("problems"); res.problems.foreach(p.add)
    Files.write(Paths.get(args.artifact), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(art).getBytes(UTF_8))
    Files.write(Paths.get(args.out), mapper.writeValueAsString(out).getBytes(UTF_8))
    spark.stop()
  }
}
