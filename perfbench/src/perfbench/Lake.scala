package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.api.{ApiLakeRepository, LakeHttpServer}
import graft.lake.Catalog

/** One lake under test: a catalog root, the program's HTTP server over
  * it, and API clients. Every read and write goes through the wire, the
  * way an `ApiLakeRepository` caller or the CLI `--api` uses the lake.
  */
final class Lake(val spark: SparkSession, val root: String, val gen: LakeGen) {
  import Lake._
  import LakeGen._

  new Catalog(spark, root).ensureDataset(Dataset, shards = Shards)
  val server = new LakeHttpServer(spark, root, apiCreds = None)
  val url = s"http://127.0.0.1:${server.start()}"
  def client(): ApiLakeRepository = new ApiLakeRepository(url, Dataset, apiCreds = None)
  val datasetDir = new java.io.File(root, Dataset)

  /** JSONL bytes the server acknowledged so far. */
  @volatile var ackedBytes = 0L
  /** Statements acknowledged by `entities/flush`. */
  @volatile var flushedStatements = 0L

  def bulk(c: ApiLakeRepository, lines: Seq[String]): Long = {
    val n = c.addStatements(lines)
    require(n == lines.size, s"journal/bulk acknowledged $n of ${lines.size} rows")
    ackedBytes += lines.iterator.map(_.getBytes(UTF_8).length + 1L).sum
    n
  }

  def flush(c: ApiLakeRepository): Long = {
    val n = c.flush()
    flushedStatements += n
    n
  }

  /** The base lake: first import per origin and the re-imports dated a
    * day later, flushed together, then optimized — the fixed state
    * `lake_serve` reads. */
  def build(): Unit = {
    val c = client()
    bulk(c, gen.jsonl(gen.payloads(gen.base), T0))
    bulk(c, gen.jsonl(gen.reimports.map { case (e, o, p) => (e.id, e.schema, p, o) }, T1))
    flush(c)
    c.optimize()
  }

  def stop(): Unit = server.stop()

  def diskBytes(): Long = du(datasetDir, skip = Set("_exports"))
}

object Lake {
  /** Shard count of the benchmark dataset: a small dataset's layout. */
  val Shards = 4

  private def du(f: java.io.File, skip: Set[String]): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.filterNot(x => skip(x.getName)).map(du(_, skip)).sum

  /** The read mix of `lake_serve`: 50% lookups, 30% searches, 15%
    * statement queries, 5% stats. */
  sealed trait Op { def kind: String }
  final case class Lookup(id: String) extends Op { def kind = "lookup" }
  final case class SearchOp(s: LakeGen.Search) extends Op { def kind = "search" }
  final case class Statements(id: String) extends Op { def kind = "statements" }
  case object StatsOp extends Op { def kind = "stats" }

  def mix(gen: LakeGen, r: Random): () => Op = {
    val key = gen.zipfKeys(r)
    val search = gen.searches(r)
    // the kinds follow a fixed 20-slot pattern with exactly those shares,
    // so a short window sees the same sequence of kinds on every seed;
    // the seed picks the keys and the search filters
    val pattern = "LSLTLSLSLALSLTLSLSLT"
    var i = 0
    () => {
      val k = pattern(i % pattern.length); i += 1
      k match {
        case 'L' => Lookup(key())
        case 'S' => SearchOp(search())
        case 'T' => Statements(key())
        case _ => StatsOp
      }
    }
  }

  /** A completed request: what was asked, how long the reply took, and
    * the reply itself for the correctness pass after the window. */
  final case class Sample(op: Op, ms: Double, reply: Either[String, Seq[String]],
      stats: Map[(String, String), (Long, Long)] = Map.empty, startNs: Long = 0L)

  def rql(id: String): String = s"""eq(entity_id, "${ApiLakeRepository.rqlEscape(id)}")"""

  def execute(c: ApiLakeRepository, op: Op): (Either[String, Seq[String]], Map[(String, String), (Long, Long)]) =
    try op match {
      case Lookup(id) => (Right(c.queryRaw(rql(id)).toVector), Map.empty)
      case SearchOp(s) =>
        (Right(c.queryRaw(s.rql, Seq(s.orderProp), Some(LakeGen.PageSize), s.offset).toVector), Map.empty)
      case Statements(id) => (Right(c.statementsRaw(rql(id)).toVector), Map.empty)
      case StatsOp => (Right(Vector.empty), c.statistics)
    } catch { case e: Exception => (Left(e.toString), Map.empty) }

  /** Closed loop: each client sends its next request when the previous
    * reply has arrived, until `done(requests it has sent)` — but always at
    * least its first two, a lookup and a search, so every read metric has
    * a sample. */
  def closedLoop(lake: Lake, clients: Int, seed: Long, done: Int => Boolean): Vector[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        val c = lake.client()
        val next = mix(lake.gen, new Random(seed * 31 + i))
        var sent = 0
        while (sent < 2 || !done(sent)) {
          val op = next()
          sent += 1
          val t0 = System.nanoTime()
          val (reply, stats) = execute(c, op)
          out.add(Sample(op, (System.nanoTime() - t0) / 1e6, reply, stats, t0))
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toVector
  }

  private val mapper = new ObjectMapper()

  /** Checks one reply against the generator's ground truth; returns the
    * reason it is wrong, if it is. Stats are checked only on a lake whose
    * entity set is not moving (`statsFrozen`). */
  def check(gen: LakeGen, s: Sample, statsFrozen: Boolean): Option[String] = s.reply match {
    case Left(err) => Some(s"${s.op.kind} failed: $err")
    case Right(lines) => s.op match {
      case Lookup(id) =>
        val e = gen.entity(id).get
        lines match {
          case Seq(l) =>
            val doc = mapper.readTree(l)
            val props = doc.get("properties").properties.asScala.map(p =>
              p.getKey -> p.getValue.elements.asScala.map(_.asText).toSet).toMap - "id"
            val want = e.props.map { case (k, vs) => k -> vs.toSet }
            if (doc.get("id").asText != id || doc.get("schema").asText != e.schema) Some(s"lookup $id: wrong doc")
            else if (props != want) Some(s"lookup $id: properties $props != $want")
            else None
          case other => Some(s"lookup $id: ${other.size} docs")
        }
      case SearchOp(q) =>
        val got = lines.map(l => mapper.readTree(l).get("id").asText)
        val want = gen.searchPage(q)
        if (got != want) Some(s"search $q: got ${got.take(3)}… (${got.size}) want ${want.take(3)}… (${want.size})")
        else None
      case Statements(id) =>
        val e = gen.entity(id).get
        val want = gen.statementCount(Seq(e))
        val ok = lines.forall(l => mapper.readTree(l).get("entity_id").asText == id)
        if (!ok || lines.size != want) Some(s"statements $id: ${lines.size} rows, want $want")
        else None
      case StatsOp =>
        if (!statsFrozen) None
        else {
          val bySchema = gen.base.groupBy(_.schema).map { case (k, v) => k -> v.size.toLong }
          val got = s.stats.collect { case (("schemata", k), (n, _)) => k.split('/').last -> n }
          if (got != bySchema) Some(s"stats: schemata $got != $bySchema") else None
        }
    }
  }
}
