package graft.exec

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one place graft chooses between a fast path and the general plan.
  *
  * Two kinds of site choose:
  *  - a [[Kernel]] site runs an executor-local single-task kernel when its
  *    input measures small, else the distributed loop. The measure is
  *    driver metadata (the optimizer's size estimate — the file size for
  *    staged parquet or a plain scan — or a count the operator already
  *    observed), so choosing costs no job; non-scan inputs carry
  *    over-estimates, so the gate fails safe toward the distributed plan.
  *  - a [[Twin]] site drains a one-shot AvailableNow stream through its
  *    batch twin, a batch plan proven equal to the stateful drain
  *    (preconditions in [[graft.streaming.DrainRewrite]]), else the
  *    stateful streaming plan.
  *
  * `spark.graft.path` (read from the session that owns the inputs, or the
  * caller's session for a twin) is `auto`, the default, or `distributed`,
  * which forces every site to the distributed or stateful side — how the
  * specs prove the two sides equal and how a bench times the general plan.
  *
  * Every choice bumps a JVM-wide `<site>.<local|distributed|twin|stateful>`
  * counter; [[graft.obs.Profile.record]] reports their deltas as `paths`.
  * A site whose fast path cannot apply to its input (a node type the
  * kernel cannot order, prior stream state) makes no choice and records
  * nothing.
  */
object PathChoice {

  val Key = "spark.graft.path"

  sealed abstract class Site(val name: String)
  final class Kernel private[PathChoice] (name: String) extends Site(name)
  final class Twin private[PathChoice] (name: String) extends Site(name)

  // executor-local kernels (graft.graph.GraphLocal, graft.text.Bpe)
  val Expand = new Kernel("expand")                   // gr2
  val PageRank = new Kernel("pagerank")               // gr3
  val PersonalizedPageRank = new Kernel("ppr")        // gr6
  val KCore = new Kernel("kcore")                     // gr7
  val Components = new Kernel("components")           // gr4, d6
  val Bpe = new Kernel("bpe")                         // tok2
  // streaming drains with a batch twin
  val WindowAgg = new Twin("window_agg")              // st0
  val IntervalJoin = new Twin("interval_join")        // st5
  val Sessionize = new Twin("sessionize")             // st6
  val SessionTimeout = new Twin("session_timeout")    // st7
  val StreamStatic = new Twin("stream_static")        // st8
  val NearDup = new Twin("neardup")                   // st9
  val CountMin = new Twin("countmin")                 // sk3
  val Hll = new Twin("hll")                           // sk5

  val sites: Seq[Site] = Seq(Expand, PageRank, PersonalizedPageRank, KCore,
    Components, Bpe, WindowAgg, IntervalJoin, Sessionize, SessionTimeout,
    StreamStatic, NearDup, CountMin, Hll)

  /** Default kernel gate: 32 MB of staged input ≈ 2-3M zstd edge rows,
    * the same working-set band as [[KCoreLocalEdges]]. At 100 TB the
    * staged artifacts are orders of magnitude past it.
    */
  val LocalBytes: Long = 32L << 20

  /** The rank kernels do `iters×` more single-task work per edge than
    * union-find/BFS, and the distributed iteration parallelizes that
    * work well — measured crossover on this class of graph: local wins
    * at ~2 MB of staged edges (1.0 s vs 1.6-3.0 s), loses 2× at ~30 MB
    * (6.6 s vs 3.0 s at ×10). 8 MB keeps the win and cedes the loss.
    */
  val RankLocalBytes: Long = 8L << 20

  /** kCore's gate is the edge count its first degree pass observes. */
  val KCoreLocalEdges: Long = 2000000L

  /** Is every site forced to its distributed or stateful side? Lenient
    * parse: a misspelling names the key instead of silently picking auto.
    */
  private def forced(spark: SparkSession): Boolean =
    spark.conf.get(Key, "auto").trim.toLowerCase(java.util.Locale.ROOT) match {
      case "auto" => false
      case "distributed" => true
      case other => throw new IllegalArgumentException(
        s"$Key must be auto or distributed, got '$other'")
    }

  /** Run `site`'s local kernel? Yes unless forced, when every input's
    * size estimate is at most `maxBytes`.
    */
  def local(site: Kernel, inputs: Seq[DataFrame], maxBytes: Long): Boolean =
    choose(site, inputs.head.sparkSession, "local", "distributed",
      inputs.forall(_.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes))

  /** Run `site`'s local kernel? Yes unless forced, when the `observed`
    * count is at most `max`.
    */
  def local(site: Kernel, spark: SparkSession, observed: Long, max: Long): Boolean =
    choose(site, spark, "local", "distributed", observed <= max)

  /** Drain `site` through its batch twin? Yes unless forced. */
  def twin(site: Twin, spark: SparkSession): Boolean =
    choose(site, spark, "twin", "stateful", fits = true)

  /** A single-task kernel over all of `df`'s rows: one executor-local
    * partition, not a driver collect.
    */
  def kernel(df: DataFrame, schema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame =
    df.coalesce(1).mapPartitions(f)(Encoders.row(schema))

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  /** Choices made in this JVM so far, by `<site>.<path>`. */
  def counts: Map[String, Long] =
    counters.asScala.iterator.map { case (k, n) => k -> n.sum }.toMap

  private def choose(site: Site, spark: SparkSession, fast: String, general: String,
      fits: Boolean): Boolean = {
    val take = !forced(spark) && fits
    counters.computeIfAbsent(s"${site.name}.${if (take) fast else general}",
      _ => new LongAdder).increment()
    take
  }
}
