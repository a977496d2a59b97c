package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.exec.PathChoice
import graft.sketch.Sketches

/** Streaming count-min sketch maintenance: the heavy-hitter estimator of
  * [[graft.sketch.Sketches]] kept continuously up to date over an event
  * stream — the abuse/hot-key detector shape (which users dominate the
  * last N billion events?) that at 100 TB/day runs as a stream, never as
  * a batch rescan.
  *
  * State is the sketch itself: depth×width counter cells (constant ~4k
  * keys) in a Complete-mode stateful aggregation — state size is
  * INDEPENDENT of stream volume, the defining property that makes a
  * sketch the right streaming aggregate. The per-batch update is
  * map-side combinable (explode d cells per event, partial-sum before
  * the state shuffle).
  *
  * Drained with Trigger.AvailableNow against the static events table, so
  * the result equals the batch build bit-for-bit and the DuckDB oracle
  * replays it (same argument as `EventStream.windowAggStreaming`).
  */
object SketchStream {

  /** Build the CMS over `user_id` occurrences by streaming the events
    * table through per-batch sketch updates. Returns the finished
    * sketch (row, bucket, n).
    *
    * Per micro-batch (foreachBatch, every step whole-stage codegen):
    * pre-count the batch by the term HASH (`groupBy(tokenHash(uid))` —
    * map-side combinable, and cell-equivalent to grouping by the uid
    * since the cells are a pure function of the hash), explode d cells
    * per DISTINCT key weighted by its count, partial-sum to ≤ d×width
    * cell rows, and write them as one idempotent `__batch` partition
    * (dynamic overwrite — a Spark retry of the same batch id rewrites
    * its own partition, never double-counts). The finished sketch is
    * the cell-sum over partitions, by CMS linearity equal to the batch
    * build bit for bit.
    *
    * This shape replaces an earlier Complete-mode stateful aggregation:
    * the explode-before-partial-agg fed d×events rows through the
    * streaming state machinery, which at 100M events/batch cost ~10×
    * the equivalent batch group-by. State per batch is ≤ d×width cells
    * regardless of stream volume — the defining sketch property — and
    * the state table compacts on read.
    */
  /** One micro-batch's (or the whole table's) CMS cell counts — shared
    * by the streaming body and the drain-mode batch twin, so the two
    * can't drift. Groups by the NATIVE key first (long hash-agg, no
    * per-row string materialization), then string-hashes only the
    * distinct keys; hash collisions between distinct uids re-sum in the
    * cell aggregate, identically to hashing per row.
    */
  private def cmsCells(b: DataFrame, width: Int): DataFrame = {
    val keyed = b
      .groupBy(col("user_id")).agg(count(lit(1)).as("__n"))
      .select(graft.dedupe.Dedupe.tokenHash(
        col("user_id").cast("string")).as("__h"), col("__n"))
    keyed
      .select(col("__n"),
        explode(Sketches.cmsCellsFromHash(col("__h"), width)).as("__rb"))
      .groupBy(col("__rb.row").as("row"), col("__rb.bucket").as("bucket"))
      .agg(sum(col("__n")).as("n"))
  }

  def countMinStreaming(spark: SparkSession, dir: String,
      width: Int = 1024): DataFrame = {
    // ONE-SHOT drains take the [[DrainRewrite]] fast path: the stream
    // block of this drain's profile record showed its residual cost is
    // pure stream lifecycle (ZERO state-store rows — the cells live in
    // the agg), plus the __batch partition round-trip. CMS linearity
    // makes the twin trivially exact: the single batch IS the table, so
    // its cell counts equal the batch build bit for bit, with no
    // staging write or compaction read-back. Throwaway UUID checkpoint
    // (st9 precedent: PathChoice-only gate, no marker, lazy twin on the
    // PARENT session — cached schema, no clone); the uncapped file
    // source drains in one batch (the singleBatch precondition).
    if (PathChoice.twin(PathChoice.CountMin, spark))
      return cmsCells(graft.Tables.events(spark, dir), width)
    // the per-batch pre-count shuffles by user_id — size it to the source
    val ss = StreamConf.streamSessionFor(spark, dir)
    val batch = ss.read.parquet(s"$dir/events.parquet")
    val name = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = graft.functions.F.stageTempPath(ss, "ckpt")
    val src = graft.Tables.normalizeTs(
      ss.readStream
        .schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    // stageTempPath (not a bare stageRoot child): registers the state
    // dir for exit-time cleanup — it only needs to outlive the drain's
    // own read-back below
    val stateDir = graft.functions.F.stageTempPath(ss, "cms")
    val q = src.writeStream
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // one idempotent __batch partition per micro-batch (dynamic
        // overwrite — a Spark retry of the same batch id rewrites its
        // own partition, never double-counts)
        cmsCells(b, width)
          .withColumn("__batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(stateDir)
      }
      .start()
    q.awaitTermination()
    ss.read.parquet(stateDir)
      .groupBy(col("row"), col("bucket")).agg(sum(col("n")).as("n"))
  }

  /** Streaming HyperLogLog register maintenance: per-event_type distinct
    * user cardinality kept continuously current. The register update is
    * a Complete-mode stateful MAX over (group, register) — constant
    * group×64 state, and because max is duplicate-insensitive the stream
    * needs NO dedup before the aggregate (the property that makes HLL
    * the streaming cardinality sketch where an exact count-distinct
    * would hold unbounded user-id state). Drained with AvailableNow so
    * the registers equal the batch [[Sketches.hllRegisters]] build
    * bit-for-bit and the DuckDB oracle replays them.
    */
  def hllStreaming(spark: SparkSession, dir: String): DataFrame = {
    // ONE-SHOT drains take the [[DrainRewrite]] fast path: the register
    // update is a Complete-mode MAX aggregate, and a fresh-checkpoint
    // single-batch AvailableNow drain emits exactly the aggregate of
    // that one batch — which IS the table, so the registers equal the
    // batch [[Sketches.hllRegisters]] build bit for bit (integer max is
    // order-exact; max's duplicate-insensitivity is what made the
    // streaming form stateless-safe in the first place). The stateful
    // plan below runs unchanged for resumable deployments. Throwaway
    // UUID checkpoint (st9 precedent: PathChoice-only gate, no marker, lazy
    // twin on the PARENT session); the uncapped file source drains in
    // one batch (singleBatch).
    if (PathChoice.twin(PathChoice.Hll, spark))
      return Sketches.hllRegisters(
        graft.Tables.events(spark, dir)
          .select(col("event_type"), col("user_id").cast("string").as("uid")),
        "event_type", "uid")
    val ss = StreamConf.streamSession(spark)
    val batch = ss.read.parquet(s"$dir/events.parquet")
    val ckpt = graft.functions.F.stageTempPath(ss, "ckpt")
    val src = graft.Tables.normalizeTs(
      ss.readStream
        .schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    val regs = Sketches.hllRegisters(
      src.select(col("event_type"), col("user_id").cast("string").as("uid")),
      "event_type", "uid")
    val name = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = regs.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(name)
  }
}
