package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedupe.Dedupe

/** Streaming NEAR-duplicate suppression: the LSH twin of [[DedupStream]]
  * for an always-on crawl feed — a document whose MinHash band buckets
  * collide with anything previously admitted (or with a lower-id
  * batch-mate) is dropped; novel documents pass and their band keys join
  * the state.
  *
  * Candidate-granularity by design: streaming state keeps (band, bucket)
  * keys, not token sets, so there is no jaccard verification pass — a
  * band collision IS the verdict. That is the standard stream-side first
  * line of defense; the batch pipeline (d2b candidates → d4 jaccard)
  * remains the precise second pass. False-positive rate is tuned by
  * (k, rowsPerBand) exactly as in batch LSH.
  *
  * Scale shape: per micro-batch, one groupBy for signatures (map-side
  * partial min per hash), a semi-join of the batch's band rows against
  * the bucketed state table (micro-batch side is small — AQE broadcasts
  * it), and one min-per-bucket aggregation for the in-batch pass. State
  * grows with admitted-corpus × bands — the same linear artifact the
  * batch pipeline materializes. Commit/recovery: [[ExactlyOnceBatches]]
  * (state first, output second, marker last, reconcile on start, lake
  * lock for the run).
  *
  * One-shot drains take the [[DrainRewrite]] fast path: unlike st5/sk3,
  * the exactly-once commit IS this operator's product, but the protocol
  * lives entirely in [[ExactlyOnceBatches]] — the Spark checkpoint here
  * is a throwaway per-run UUID path (crash recovery is the
  * state/output/marker reconcile, never a stream resume). So a
  * single-batch drain can run [[processBatch]] — the SAME function the
  * foreachBatch sink calls, same batch key, same state-first/output/
  * marker write order — directly on the batch source, under the same
  * lake lock and reconcile. Equality is structural (one code path), the
  * torn-batch recovery story is byte-identical, and the rewrite sheds
  * only the stream lifecycle + the micro-batch staging round-trip.
  * Callers declare `singleBatch` (only they know their source options);
  * multi-batch feeds keep the stateful plan because cross-batch state
  * collisions are the semantics.
  *
  * Documents shorter than the shingle width yield no bands: they are
  * admitted but never recorded — near-dup semantics need at least one
  * shingle to compare.
  */
object NearDupStream {

  /** One micro-batch of the admit rule over (existing state, `batch`):
    * state collisions drop, then lowest-id-per-shared-bucket within the
    * batch; admitted docs' bands join the state. Writes state first,
    * output second, marker last ([[ExactlyOnceBatches]]) and returns the
    * admitted-row count. Both the foreachBatch sink and the one-shot
    * batch twin run EXACTLY this function — that identity is the
    * rewrite's exactness argument.
    */
  private def processBatch(spark: SparkSession, batch: DataFrame,
      batchKey: String, idCol: String, textCol: String,
      stateDir: String, outDir: String,
      k: Int, rowsPerBand: Int, shingle: Int): Long = {
    // micro-batch frames are re-read thrice below → stage them; the
    // batch twin's input is already a plain parquet scan → no-op
    val b = graft.functions.F.materializeIfNeeded(batch)
    val sig = Dedupe.minhashSignatureFromTerms(
      Dedupe.shingleRows(b, idCol, textCol, n = shingle), idCol, k)
    val bands = graft.functions.F.materialize(
      Dedupe.bandRows(sig, idCol, k, rowsPerBand))
    // state collision: any admitted doc already owns one of my buckets
    val dropState = ExactlyOnceBatches.readState(spark, stateDir) match {
      case Some(s) => bands.join(
        s.filter(col("__batch") =!= lit(batchKey))
          .select(col("band"), col("bucket")),
        Seq("band", "bucket"), "left_semi")
        .select(col(idCol)).distinct()
      case None => bands.select(col(idCol)).limit(0)
    }
    // in-batch collision: only the lowest id per shared bucket
    // survives (greedy, deterministic; non-transitive by design —
    // candidate semantics, same as a band-bucket pair list)
    val dropBatch = bands
      .join(bands.groupBy(col("band"), col("bucket"))
          .agg(min(col(idCol)).as("__mn")),
        Seq("band", "bucket"))
      .filter(col(idCol) > col("__mn"))
      .select(col(idCol)).distinct()
    val novel = b.join(
      dropState.unionByName(dropBatch).distinct(), Seq(idCol), "left_anti")
    // admitted count rides the staging write as an observe metric — a
    // separate count() job over the staged file would double the action
    val (staged, admitted) = graft.functions.F.materializeObserved(
      novel.withColumn("__batch", lit(batchKey)), count(lit(1)))
    // state records only ADMITTED docs' bands: the dedup set is what
    // passed, not what was seen
    val novelBands = bands
      .join(staged.select(col(idCol)), Seq(idCol), "left_semi")
      .withColumn("__batch", lit(batchKey))
    ExactlyOnceBatches.writePartition(
      novelBands.select(col("band"), col("bucket"), col("__batch")), stateDir)
    ExactlyOnceBatches.writePartition(staged, outDir)
    ExactlyOnceBatches.commitMarker(spark, stateDir, batchKey)
    admitted
  }

  /** Drain `docs` through the near-dup gate. `batchTwin` is the batch
    * read of the same source — supplied by callers whose feed drains in
    * ONE AvailableNow batch (uncapped source); when present and the
    * [[graft.exec.PathChoice.NearDup]] site chooses the twin, the drain
    * executes [[processBatch]] directly on it instead of spinning up a
    * stream.
    */
  def run(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, outDir: String,
      k: Int = 8, rowsPerBand: Int = 2, shingle: Int = 3,
      batchTwin: Option[DataFrame] = None): Long = {
    val name = s"graft_neardup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    graft.lake.FsOps.mkdirs(fs, statePath)
    graft.lake.Locks.withLock(fs, statePath) {
    ExactlyOnceBatches.reconcile(spark, stateDir, outDir)
    // the twin path consults only PathChoice — no checkpoint marker
    // protocol. The checkpoint here is a throwaway per-run UUID nobody
    // else can observe, so a claim would protect nothing: double-drain
    // safety is the lake lock above (one drain per state dir at a time)
    // and torn-batch safety is ExactlyOnceBatches' reconcile/commit.
    val twin = batchTwin.filter(_ =>
      graft.exec.PathChoice.twin(graft.exec.PathChoice.NearDup, spark))
    twin match {
      case Some(batch) =>
        // same function, same batch key as the stream's first batch,
        // same protocol writes — see class doc; a crash mid-batch is
        // reconciled by ExactlyOnceBatches on the retry
        processBatch(spark, batch, s"$name-0", idCol, textCol,
          stateDir, outDir, k, rowsPerBand, shingle)
      case None =>
        val ckpt = graft.functions.F.stageTempPath(spark, "ckpt")
        val emitted = spark.sparkContext.longAccumulator(name)
        val q = docs.writeStream
          .queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            emitted.add(processBatch(spark, batch, s"$name-$batchId", idCol,
              textCol, stateDir, outDir, k, rowsPerBand, shingle))
          }
          .start()
        q.awaitTermination()
        emitted.value
    }
    }
  }
}
