package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec.forcedDistributed
import graft.graph.EntityGraph

/** Entity-graph analytics: degree, bounded-hop expand (min-hop BFS),
  * integer-exact PageRank. PageRank is checked against a naive driver-side
  * reference that replays the identical scaled-BIGINT arithmetic — any
  * divergence in join/aggregate shape, coalesce handling, or division
  * order shows up as a bit mismatch.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(rows: (String, String)*) =
    rows.toDF("src", "dst")

  test("degrees counts both directions of the undirected view") {
    val e = edges("a" -> "x", "a" -> "y", "b" -> "x")
    val d = EntityGraph.degrees(e).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d === Map("a" -> 2L, "b" -> 1L, "x" -> 2L, "y" -> 1L))
  }

  test("expand reports minimum hop, respects maxHops, survives cycles") {
    // a - x - b - y - c plus a cycle a-x-b-z-a reaching z at hop 2
    val e = edges("a" -> "x", "b" -> "x", "b" -> "y", "c" -> "y", "b" -> "z", "z" -> "a")
    val seeds = Seq("a").toDF("node")
    val got = EntityGraph.expand(e, seeds, maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // hop0: a; hop1: x, z; hop2: b (via x) — y/c are 3+ hops, cut off
    assert(got === Map("a" -> 0, "x" -> 1, "z" -> 1, "b" -> 2))
  }

  test("expand keeps isolated seeds at hop 0") {
    val e = edges("a" -> "x")
    val seeds = Seq("lonely").toDF("node")
    val got = EntityGraph.expand(e, seeds, maxHops = 2).collect()
    assert(got.map(r => (r.getString(0), r.getInt(1))).toSet === Set("lonely" -> 0))
  }

  test("pageRank matches a naive integer-arithmetic reference") {
    val raw = Seq("a" -> "x", "a" -> "y", "b" -> "x", "c" -> "y", "c" -> "x")
    val iters = 3
    val got = EntityGraph.pageRank(edges(raw: _*), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // naive reference: same scaled-BIGINT recurrence, computed in a loop
    val und = raw ++ raw.map(_.swap)
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val S = 1000000000L
    var rank = deg.keys.map(_ -> S).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((s, d) <- und) sums(d) += rank(s) / deg(s)
      rank = deg.keys.map(n => n -> (S * 15L / 100L + 85L * sums(n) / 100L)).toMap
    }
    assert(got === rank)
  }

  test("customer-supplier edge list is distinct and namespaced") {
    val e = EntityGraph.customerSupplierEdges(spark, sf001)
    assert(e.count() === e.distinct().count())
    val bad = e.filter(!col("src").startsWith("c") || !col("dst").startsWith("s")).count()
    assert(bad === 0L)
  }

  test("triangleCounts: each triangle counted once, per-node participation") {
    // 4-clique on {1,2,3,4} (C(4,3)=4 triangles, every node in 3) plus a
    // pendant path 4-5-6 (no triangle) and an isolated edge 7-8
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (7L, 8L)).toDF("src", "dst")
    val got = EntityGraph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: hub star has zero triangles, hub+rim counts once") {
    // star 0-{1..6}: no triangles; closing rim edge 1-2 makes exactly one
    val star = (1L to 6L).map(i => (0L, i))
    val none = EntityGraph.triangleCounts(star.toDF("src", "dst")).count()
    assert(none === 0L)
    val one = EntityGraph.triangleCounts((star :+ (1L, 2L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("personalized PageRank: rank decays from seeds, other components stay 0") {
    // path a-b-c-d seeded at a, plus a disconnected edge x-y
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y")
    val seeds = Seq("a").toDF("node")
    val got = EntityGraph.personalizedPageRank(e, seeds, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set("a", "b", "c", "d", "x", "y"))
    // every reachable node carries mass; decay compares nodes of the SAME
    // walk parity (finite iterations leave the odd/even oscillation of a
    // path walk unmixed, so a-vs-b is parity, not distance): at even
    // distance a > c, at odd distance b > d
    assert(Seq("a", "b", "c", "d").forall(got(_) > 0L))
    assert(got("a") > got("c") && got("b") > got("d"))
    // the unreachable component carries exact zero
    assert(got("x") === 0L && got("y") === 0L)
  }

  test("kCore peels to the maximal subgraph of min degree k") {
    import spark.implicits._
    // 4-clique {1..4} is the 3-core; node 5 hangs off it with degree 3
    // via {2,3,4} BUT its neighbors keep degree ≥ 3 without it only
    // through the clique — build: 5-2, 5-3, 5-4 gives 5 degree 3, so 5
    // SURVIVES a 3-core; chain 6-7 peels immediately
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 2L), (5L, 3L), (5L, 4L), (6L, 7L)).toDF("src", "dst")
    val got = graft.graph.EntityGraph.kCore(e, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) === 3L && got(2L) === 4L && got(5L) === 3L)
    // cascade: removing one clique edge demotes the whole structure —
    // peeling must CASCADE (1 falls, then others lose degree, ...)
    val e2 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(graft.graph.EntityGraph.kCore(e2, k = 3).count() === 0L)
    // a cycle IS its own 2-core
    assert(graft.graph.EntityGraph.kCore(e2, k = 2).count() === 4L)
  }

  test("kCore local fast path == forced-distributed peel, cap included") {
    import spark.implicits._
    // deterministic pseudo-random graph with a layered core structure
    val rnd = new scala.util.Random(42)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      if (a < b) (a, b) else (b, a + 1)
    }.distinct.filter(p => p._1 != p._2).toDF("src", "dst")
    for (k <- Seq(2, 3, 4); cap <- Seq(1, 2, 8)) {
      def run(se: Int) = graft.graph.EntityGraph
        .kCore(edges, k = k, maxRounds = cap, stageEvery = se)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val local = run(0) // adaptive → single-task synchronous peel
      val dist1 = run(1) // forced one-peel-per-job distributed loop
      val dist2 = run(2) // forced two-peel blocks
      assert(local == dist1 && local == dist2,
        s"k=$k cap=$cap: local=${local.size} d1=${dist1.size} d2=${dist2.size}")
    }
  }

  private def pseudoRandomEdges(n: Int, nodes: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      (s"n${rnd.nextInt(nodes)}", s"n${rnd.nextInt(nodes)}")
    }.distinct.filter(p => p._1 != p._2).toDF("src", "dst")
  }

  test("expand local fast path == forced-distributed frontier BFS") {
    val e = pseudoRandomEdges(300, 80)
    val seeds = Seq("n1", "n17", "n999").toDF("node") // n999 isolated seed
    def run(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    for (hops <- Seq(0, 1, 3)) {
      val local = run(EntityGraph.expand(e, seeds, hops))
      val dist = forcedDistributed(spark)(run(EntityGraph.expand(e, seeds, hops)))
      assert(local === dist, s"maxHops=$hops")
    }
  }

  test("pageRank/PPR local fast paths == forced-distributed iteration") {
    val e = pseudoRandomEdges(300, 80)
    val seeds = Seq("n3", "n44", "n999").toDF("node") // n999 outside graph
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prLocal = m(EntityGraph.pageRank(e, iters = 3))
    val prDist = forcedDistributed(spark)(m(EntityGraph.pageRank(e, iters = 3)))
    assert(prLocal === prDist)
    val pprLocal = m(EntityGraph.personalizedPageRank(e, seeds, iters = 3))
    val pprDist =
      forcedDistributed(spark)(m(EntityGraph.personalizedPageRank(e, seeds, iters = 3)))
    assert(pprLocal === pprDist)
  }

  test("dupClusters local union-find == forced-distributed propagation") {
    // long chain (diameter 40, exercises the shortcutting schedule) plus
    // a pseudo-random blob and a two-node island
    val chain = (0 until 40).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val rnd = new scala.util.Random(3)
    val blob = (1 to 120).map(_ => (s"b${rnd.nextInt(30)}", s"b${rnd.nextInt(30)}"))
      .filter(p => p._1 != p._2)
    val pairs = (chain ++ blob ++ Seq(("zz1", "zz2"))).toDF("id_a", "id_b")
    def run(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val local = run(graft.dedupe.Dedupe.dupClusters(pairs))
    val dist = forcedDistributed(spark)(run(graft.dedupe.Dedupe.dupClusters(pairs)))
    assert(local === dist)
    assert(local.filter(_._1.startsWith("c")).map(_._2) === Set("c000"))
  }

  test("dupClusters local min matches Spark's UTF8 binary string order") {
    // U+FFFD (UTF-8 EF BF BD) vs U+10000 (F0 90 80 80): Java
    // String.compareTo ranks the surrogate pair FIRST (0xD800 < 0xFFFD),
    // UTF8String binary order ranks U+FFFD first — the component min must
    // be the UTF8-binary one on both branches
    val pairs = Seq(("𐀀", "�")).toDF("id_a", "id_b")
    def run(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val local = run(graft.dedupe.Dedupe.dupClusters(pairs))
    val dist = forcedDistributed(spark)(run(graft.dedupe.Dedupe.dupClusters(pairs)))
    assert(local === dist)
    assert(local.forall(_._2 == "�"))
  }

  test("co-supplier projection is canonical and thresholded") {
    val e = EntityGraph.coSupplierEdges(spark, sf001, minCoOrders = 2)
    assert(e.filter(col("src") >= col("dst")).count() === 0L)
    // threshold monotonicity: raising the bar can only shrink the graph
    val loose = EntityGraph.coSupplierEdges(spark, sf001, minCoOrders = 1).count()
    assert(e.count() <= loose)
  }
}
