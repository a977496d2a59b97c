package perfbench

import java.io.File

import scala.collection.mutable
import scala.io.Source
import scala.util.Random

import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

import graft.api.ApiLakeRepository

/** The two lake workloads, untraced (end-to-end metrics) and traced
  * (per-layer metrics). Both start from the same seeded base lake, built
  * and optimized through the HTTP API during set-up.
  *
  *  - `lake_serve`: 2 closed-loop clients read the fixed, optimized lake,
  *    a fixed number of requests each; then a short writer tail (bulk, deletes,
  *    flush), so that every end-to-end metric has a value on this
  *    workload too.
  *  - `lake_ingest`: one writer runs `seconds / CycleSeconds` bulk →
  *    deletes → flush cycles, with OptimizeJob every [[OptimizeEvery]]
  *    cycles, while one client keeps reading.
  */
final class Workloads(spark: SparkSession, args: Main.Args, res: Main.Result,
    art: ObjectNode, setupStartMs: Long) {
  import Lake._
  import Workloads._

  val gen = new LakeGen(args.seed, BaseEntities)
  val lk = new Lake(spark, s"${args.work}/lake", gen)
  private val batches = mutable.ArrayBuffer.empty[Vector[LakeGen.Ent]]
  private val deleted = mutable.Set.empty[String]

  /** Each `lake_serve` client sends `seconds / SecondsPerRead` requests:
    * a fixed amount of work, like `lake_ingest`'s cycles. A deadline would
    * let a small change in speed add or drop a client's last search, and
    * with it move the median of the few searches a run sees. */
  val SecondsPerRead = 3
  /** Writer cycles the `lake_serve` tail runs after its read window. The
    * first flush after the window is cold and much slower than the next,
    * so it takes three for the median flush to be a warm one. */
  val TailCycles = 3
  /** `lake_ingest` runs `seconds / CycleSeconds` writer cycles: a fixed
    * amount of work, so the count of cycles does not vary from run to run.
    * A cycle takes 4–5 s here and the one OptimizeJob about 5 s, which
    * stretches the window to about 1.3 × `seconds`; that much is needed
    * for the one reader to see several searches. */
  val CycleSeconds = 4
  /** `lake_ingest` runs OptimizeJob after every this many cycles, the
    * flush policy of a batch importer: small files pile up for five
    * cycles, then one compaction. */
  val OptimizeEvery = 5

  def shutdown(): Unit = lk.stop()

  private val heapChecks = mutable.ArrayBuffer.empty[Double]
  /** Heap still occupied after full collections, taken at the end of
    * set-up and at the end of the run; the higher is `peak_heap_mb`.
    * Unlike sampled heap use it does not depend on when the collector
    * happened to run. The pause lets Spark's cleaner drop the blocks the
    * first collection orphaned. */
  private def heapCheckpoint(): Unit = {
    System.gc(); Thread.sleep(300); System.gc()
    heapChecks += java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def record(s: Sample, statsFrozen: Boolean): Unit = {
    val why = Lake.check(gen, s, statsFrozen)
    res.op(why.isEmpty, why.getOrElse(""))
  }

  private def attempt[T](what: String)(body: => T): Option[T] =
    try { val v = body; res.op(ok = true, ""); Some(v) }
    catch { case e: Exception => res.op(ok = false, s"$what: $e"); None }

  /** Base lake, then a warm-up read of each timed kind. Returns set-up
    * seconds from JVM start. */
  private[perfbench] def setup(): Double = {
    val s = art.putObject("setup")
    s.put("session_s", (System.currentTimeMillis() - setupStartMs) / 1000.0)
    val t0 = System.nanoTime()
    lk.build()
    s.put("lake_build_s", (System.nanoTime() - t0) / 1e9)
    // warm-up: a search and a lookup, the two timed read kinds, in
    // parallel and checked like every other reply
    val r = new Random(args.seed ^ 0x77L)
    val key = gen.zipfKeys(r)
    val search = gen.searches(r)
    val warm = Seq(Seq(SearchOp(search())), Seq(Lookup(key())))
    val threads = warm.map { ops =>
      val t = new Thread(() => {
        val c = lk.client()
        ops.foreach { op =>
          val (reply, stats) = execute(c, op)
          record(Sample(op, 0, reply, stats), statsFrozen = true)
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val setupS = (System.currentTimeMillis() - setupStartMs) / 1000.0
    art.get("host").asInstanceOf[ObjectNode].put("cpu_probe_before_s", Main.cpuProbe(spark))
    setupS
  }

  /** One writer cycle: JSONL bulk of a fresh batch, DELETE of 1% of its
    * entities (still staged in the journal), then `entities/flush`.
    * Returns the flush latency in ms. */
  private[perfbench] def cycle(c: ApiLakeRepository, i: Int): Double = {
    val batch = gen.ingestBatch(i, CycleEntities)
    attempt("bulk")(lk.bulk(c, gen.jsonl(gen.payloads(batch), LakeGen.cycleTs(i))))
    val dels = batch.filter(_.schema != "Ownership").take(math.max(1, batch.size / 100))
    dels.foreach(e => attempt(s"delete ${e.id}")(c.deleteEntity(e.id)).foreach(n =>
      res.op(n == gen.statementCount(Seq(e)), s"delete ${e.id}: $n tombstones")))
    val t0 = System.nanoTime()
    attempt("flush")(lk.flush(c))
    val ms = (System.nanoTime() - t0) / 1e6
    batches += batch
    deleted ++= dels.map(_.id)
    ms
  }

  def lakeRun(): Unit = {
    res.put("setup_s", setup(), "s")
    heapCheckpoint()
    val c = lk.client()
    val flushes = mutable.ArrayBuffer.empty[Double]
    val committedBefore = lk.flushedStatements
    var reads = Vector.empty[Sample]
    var readS = 0.0
    var writerStart = 0L
    var windowStart = 0L
    args.workload match {
      case "lake_serve" =>
        val t0 = System.nanoTime()
        windowStart = t0
        val perClient = args.seconds / SecondsPerRead
        reads = closedLoop(lk, 2, args.seed, _ >= perClient)
        readS = (System.nanoTime() - t0) / 1e9
        writerStart = System.nanoTime()
        (0 until TailCycles).foreach(i => flushes += cycle(c, i))
      case "lake_ingest" =>
        @volatile var done = false
        writerStart = System.nanoTime()
        windowStart = writerStart
        val writer = new Thread(() => {
          try {
            (1 to math.max(1, args.seconds / CycleSeconds)).foreach { i =>
              flushes += cycle(c, i - 1)
              if (i % OptimizeEvery == 0) attempt("OptimizeJob")(c.optimize())
            }
          } finally done = true
        }, "perfbench-writer")
        writer.start()
        reads = closedLoop(lk, 1, args.seed, _ => done)
        writer.join()
        readS = (System.nanoTime() - writerStart) / 1e9
    }
    val writerS = (System.nanoTime() - writerStart) / 1e9
    val committed = lk.flushedStatements - committedBefore

    reads.foreach(record(_, statsFrozen = args.workload == "lake_serve"))
    def p50(kind: String): Double = {
      val xs = reads.filter(_.op.kind == kind).map(_.ms)
      require(xs.nonEmpty, s"no $kind replies in the window")
      Stats.median(xs)
    }
    res.put("read_qps", reads.size / readS, "1/s")
    res.put("lookup_p50_ms", p50("lookup"), "ms")
    res.put("search_p50_ms", p50("search"), "ms")
    res.put("ingest_stmts_per_s", committed / writerS, "1/s")
    res.put("flush_p50_ms", Stats.median(flushes.toSeq), "ms")
    res.put("stored_bytes_per_input_byte", lk.diskBytes().toDouble / lk.ackedBytes, "ratio")
    finalChecks(c)
    heapCheckpoint()
    res.put("peak_heap_mb", heapChecks.max, "MB")

    val d = art.putObject("detail")
    d.put("read_window_s", readS); d.put("writer_s", writerS)
    d.put("committed_statements", committed); d.put("cycles", flushes.size)
    val counts = d.putObject("read_samples")
    reads.groupBy(_.op.kind).foreach { case (k, ss) =>
      val o = counts.putObject(k)
      o.put("n", ss.size); o.put("p50_ms", Stats.median(ss.map(_.ms)))
      o.put("max_ms", ss.map(_.ms).max)
      // each reply: [start s after the writer or window start, latency ms]
      val all = o.putArray("samples")
      ss.sortBy(_.startNs).foreach { x =>
        all.addArray().add((x.startNs - windowStart) / 1e9).add(x.ms)
      }
    }
    val fl = d.putArray("flush_ms"); flushes.foreach(x => fl.add(x))
    d.put("lake_bytes", lk.diskBytes()); d.put("acked_jsonl_bytes", lk.ackedBytes)
    val hc = d.putArray("heap_checkpoints_mb"); heapChecks.foreach(x => hc.add(x))
  }

  private def written: Vector[LakeGen.Ent] = batches.flatten.toVector
  /** Statements ever imported: live plus tombstoned. */
  private def everStatements: Long = gen.statementCount(gen.base) + gen.statementCount(written)

  /** The lake's final state against ground truth: the live statement
    * count over the wire. */
  private def finalChecks(c: ApiLakeRepository): Unit = {
    val liveWant = everStatements - gen.statementCount(written.filter(e => deleted(e.id)))
    attempt("live statements")(c.statementsRaw().size.toLong).foreach(n =>
      res.op(n == liveWant, s"live statements $n, want $liveWant"))
  }

  /** Writer batches imported outside [[cycle]] (the traced run's). */
  private[perfbench] def addBatch(b: Vector[LakeGen.Ent]): Unit = batches += b

  /** Row counts of the exported `statements.csv` and `entities.ftm.json`
    * in `exports` against ground truth. */
  private[perfbench] def checkExports(exports: File): Unit = {
    def lines(name: String): Long = {
      val src = Source.fromFile(new File(exports, name), "UTF-8")
      try src.getLines().count(_.nonEmpty).toLong finally src.close()
    }
    // statements.csv carries a header row and, within the tombstone grace
    // window, one tombstone per deleted statement
    attempt("statements.csv")(lines("statements.csv")).foreach(n =>
      res.op(n == everStatements + 1, s"statements.csv $n lines, want ${everStatements + 1}"))
    val liveEntities = gen.base.size + written.size - written.count(e => deleted(e.id))
    attempt("entities.ftm.json")(lines("entities.ftm.json")).foreach(n =>
      res.op(n == liveEntities, s"entities.ftm.json $n lines, want $liveEntities"))
  }

  def traced(): Unit = new Traced(spark, args, res, art, this).run()

}

object Workloads {
  /** Entities in the seeded base lake, about 3k statements. */
  val BaseEntities = 600
  /** Entities each writer cycle bulk-posts. */
  val CycleEntities = 100
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
