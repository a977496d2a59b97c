package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.exec.PathChoice
import graft.functions.F

/** Entity-graph analytics over the statement lake's natural graph shape.
  *
  * FtM data is a graph: interval schemata (Ownership, Directorship,
  * Payment) reference other entities through entity-typed properties
  * (reference `model/statement.py` stores them as plain statements whose
  * `prop_type` is `entity`; Aleph-style exploration expands along them).
  * The reference stops at statement storage; these operators add the
  * graph-side read path a lakehouse of resolved entities needs: degree
  * profiles, bounded-hop neighbourhood expansion, and a deterministic
  * PageRank for entity prominence ranking.
  *
  * On the testdata star schema the edge list is the customer–supplier
  * bipartite graph derived from `orders ⋈ lineitem` — the same
  * two-entity-reference shape an FtM `Payment` (payer → payee) produces.
  *
  * Scale shape: the edge list is staged once (one shuffle to distinct),
  * and every algorithm below touches it only through hash joins on the
  * edge endpoints — no adjacency matrices, no driver-side graph object.
  * State per node is one row; per-iteration cost is one join + one
  * aggregate over E edges, both map-side-combinable.
  */
object EntityGraph {

  private def rankSchema(e0: DataFrame) =
    new StructType().add("node", e0.schema("src").dataType).add("rank", LongType)

  /** Edge rows (src, dst, __seed = false) plus one (node, null, true)
    * row per seed: the input of the seeded local kernels.
    */
  private def seedTagged(e0: DataFrame, seeds: DataFrame): DataFrame =
    e0.select(col("src"), col("dst"), lit(false).as("__seed"))
      .unionAll(seeds.select(col("node").as("src"),
        lit(null).cast(e0.schema("src").dataType).as("dst"), lit(true).as("__seed")))

  /** Distinct directed edge list (src, dst) from the order fact chain:
    * customer `c<custkey>` → supplier `s<suppkey>` for every distinct
    * (custkey, suppkey) with at least one lineitem between them.
    *
    * One join (orderkey, AQE picks broadcast vs shuffle by orders' actual
    * size) + one distinct (single shuffle on the edge pair).
    */
  def customerSupplierEdges(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = graft.Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
  }

  /** Undirected view: each edge contributes both directions. */
  def undirected(edges: DataFrame): DataFrame =
    edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Per-node degree over the undirected graph — one map-side-combinable
    * aggregate; the edge distinct upstream guarantees simple-graph
    * semantics (parallel edges collapse before counting).
    *
    * Uses explode(array(src, dst)) rather than `undirected(...)`: a
    * self-union would inline the edge-derivation subtree (join+distinct)
    * into the plan twice — explode doubles rows inside the SAME scan, so
    * the upstream join and distinct each run exactly once.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))

  /** Bounded-hop neighbourhood expansion from a seed set: returns
    * (node, hop) where hop is the MINIMUM distance from any seed,
    * hop ∈ [0, maxHops]. The Aleph "expand" primitive.
    *
    * Frontier BFS: each round joins only the CURRENT frontier against the
    * edge table and anti-joins the visited set — cost per hop is
    * O(frontier × avg-degree), not O(V), and the loop is bounded by
    * `maxHops` (graph diameter caps it naturally). Frontiers are staged
    * per round so lineage stays one join deep (no 2^hops recompute).
    */
  def expand(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16, s"maxHops out of range: $maxHops")
    // Stage the DIRECTED edge list and take the undirected view lazily:
    // the derivation (join+distinct) runs once, each hop re-scans the
    // staged file twice (cheap columnar read), and the staged bytes are
    // half of what writing the undirected table would cost.
    val e0 = F.materializeIfNeeded(edges)
    // Local kernel (PathChoice.Expand): the whole per-hop loop (join +
    // distinct + anti-join + stage write per hop) collapses to ONE
    // executor-local BFS task over the seed-tagged edge rows — identical
    // min-hop output by construction.
    val nodeType = e0.schema("src").dataType
    if (GraphLocal.orderingFor(nodeType).isDefined &&
        PathChoice.local(PathChoice.Expand, Seq(e0, seeds), PathChoice.LocalBytes))
      return PathChoice.kernel(seedTagged(e0, seeds),
        new StructType().add("node", nodeType).add("hop", IntegerType))(
        it => GraphLocal.localBfs(it, maxHops))
    val und = undirected(e0)
    val seed0 = F.materialize(
      seeds.select(col("node")).distinct().withColumn("hop", lit(0)))
    // Only each round's NEW frontier is staged; the visited set is the
    // lazy union of the already-staged layers (scanning k small staged
    // files beats re-writing a growing visited table every round — one
    // job per hop instead of two, and no O(V) rewrite at each step).
    var layers = Vector(seed0)
    var frontier = seed0
    var hop = 0
    while (hop < maxHops) {
      hop += 1
      val visited = layers.map(_.select(col("node"))).reduce(_ unionAll _)
      val next = und.join(frontier.select(col("node")), und("src") === col("node"))
        .select(und("dst").as("node")).distinct()
        .join(visited.select(col("node").as("__v")), col("node") === col("__v"), "left_anti")
        .withColumn("hop", lit(hop))
      val staged = F.materialize(next)
      layers :+= staged
      frontier = staged
    }
    layers.reduce(_ unionAll _)
  }

  /** Integer-exact PageRank: damping 0.85, fixed iteration count, all
    * arithmetic in scaled BIGINT (scale = 1e9) with truncating division —
    * sums of integers are associative, so the result is bit-identical
    * regardless of partitioning or aggregation order, and a SQL oracle
    * replays it exactly (same reasoning as cur3's integer-exact mixture
    * planner). Runs on the undirected view; every node has degree ≥ 1 so
    * there is no dangling-mass term.
    *
    * Scale shape: the (src, dst, out-degree) table is staged ONCE and
    * reused every iteration; each iteration is one hash join (rank ⋈
    * edges on src — E rows out) + one map-side-combinable sum groupBy
    * (dst — one row per node leaves each task) + one left join back to
    * the node set for isolated-contribution nodes. Rank state never
    * leaves the cluster; iterations are a fixed small constant.
    */
  def pageRank(edges: DataFrame, iters: Int, stageEvery: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    // 0 would divide-by-zero the staging cadence check; negatives would
    // silently disable staging and let the iteration lineage grow unbounded
    require(stageEvery >= 1, s"stageEvery must be >= 1: $stageEvery")
    val S = 1000000000L // rank scale: 1.0 == 1e9
    val base = S * 15L / 100L
    // Stage the DIRECTED edges once: `und` appears in the plan both as
    // the join probe side and (via deg) the build side — without staging,
    // the upstream join+distinct would be inlined and re-executed up to
    // four times in the edgesDeg job.
    val e0 = F.materializeIfNeeded(edges)
    // Local kernel (PathChoice.PageRank): the integer-exact recurrence
    // (Long sums, truncating division — associative, order-free) replays
    // bit-identically in one executor-local task, skipping the edgesDeg
    // stage write and the per-iteration join chain (see
    // GraphLocal.localPageRank).
    if (GraphLocal.orderingFor(e0.schema("src").dataType).isDefined &&
        PathChoice.local(PathChoice.PageRank, Seq(e0), PathChoice.RankLocalBytes))
      return PathChoice.kernel(e0.select(col("src"), col("dst")), rankSchema(e0))(
        it => GraphLocal.localPageRank(it, iters, seeded = false))
    val und = undirected(e0)
    val deg = degrees(e0).withColumnRenamed("degree", "d")
    // (src, dst, d_src) staged once — reused by every iteration
    val edgesDeg = F.materialize(
      und.join(deg.withColumnRenamed("node", "src"), "src")
        .select(col("src"), col("dst"), col("d")))
    // node set re-derived from the STAGED edge table — a cheap columnar
    // re-scan, not a second derivation of the join+distinct upstream
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
    var rank = nodes.withColumn("rank", lit(S))
    for (i <- 1 to iters) {
      val contrib = edgesDeg
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(85 * coalesce(s, 0L)) div 100")).as("rank"))
      // Iterations CHAIN as lineage — each is one extra shuffle stage in
      // the same job. The rank⋈edges join is left to AQE: broadcast when
      // the node count measures small, the standard per-iteration hash
      // join on src (E-row exchange, the irreducible PageRank cost) when
      // it does not — either way the staged edge table is re-scanned,
      // never re-derived. A periodic stage write caps plan depth for
      // large iteration counts; for the common fixed 3-5 iterations the
      // whole rank runs as ONE job instead of one write+read round trip
      // per iteration.
      rank = if (i % stageEvery == 0 && i < iters) F.materialize(next) else next
    }
    rank
  }

  /** Personalized PageRank: random-walk-with-restart prominence RELATIVE
    * to a seed set — the "what matters around these entities"
    * exploration primitive (restart mass returns to the seeds instead of
    * spreading uniformly, so rank decays with distance from the seed
    * neighbourhood and unrelated hubs score zero).
    *
    * Same integer-exact recurrence and scale shape as [[pageRank]] (all
    * scaled-BIGINT, truncating division, staged (src, dst, d) table, one
    * join + one map-side-combinable sum per iteration); the only changes
    * are the initial vector (S on seeds, 0 elsewhere) and the restart
    * term (S·15/100 on seeds, 0 elsewhere — unnormalized per-seed
    * restart, a prominence score rather than a probability). Nodes the
    * walk has not reached carry exact 0 and are kept (the oracle's
    * LEFT JOIN twin keeps them too).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    val S = 1000000000L
    val base = S * 15L / 100L
    val e0 = F.materializeIfNeeded(edges)
    // same single-task replay as pageRank, over the seed-tagged edge rows
    // (seeds outside the node set drop out exactly like the distributed
    // node-set join)
    if (GraphLocal.orderingFor(e0.schema("src").dataType).isDefined &&
        PathChoice.local(PathChoice.PersonalizedPageRank, Seq(e0, seeds),
          PathChoice.RankLocalBytes))
      return PathChoice.kernel(seedTagged(e0, seeds), rankSchema(e0))(
        it => GraphLocal.localPageRank(it, iters, seeded = true))
    val und = undirected(e0)
    val deg = degrees(e0).withColumnRenamed("degree", "d")
    val edgesDeg = F.materialize(
      und.join(deg.withColumnRenamed("node", "src"), "src")
        .select(col("src"), col("dst"), col("d")))
    val seedSet = F.materialize(seeds.select(col("node")).distinct()
      .withColumn("__seed", lit(true)))
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
      .join(seedSet, Seq("node"), "left_outer")
      .withColumn("__base",
        when(col("__seed"), lit(base)).otherwise(lit(0L)))
      .select(col("node"), col("__base"))
    var rank = nodes.select(col("node"),
      when(col("__base") > 0, lit(S)).otherwise(lit(0L)).as("rank"))
    for (i <- 1 to iters) {
      val contrib = edgesDeg
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__base") + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      rank = if (i % 5 == 0 && i < iters) F.materialize(next) else next
    }
    rank
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k —
    * the standard cohesion filter (community cores, collusion rings)
    * computed by iterative peeling: drop all nodes with induced degree
    * < k, recompute, repeat to fixpoint. Peeling converges in at most
    * |V| rounds but in practice a handful; the loop early-exits when the
    * edge count is stable, and the FIXED-round oracle agrees because a
    * converged subgraph is invariant under further peels (the gr4
    * early-exit == fixed-round argument).
    *
    * Scale shape: degrees are computed ONCE and then carried — each peel
    * decrements the surviving neighbours of just-dropped nodes instead
    * of re-aggregating the whole graph (the Batagelj–Zaveršnik update,
    * distributed): one broadcast-join classification pass over the edge
    * table + a decrement aggregate over only the removed edges. The
    * edge table shrinks lazily at stage points; decrements aimed at
    * already-dead endpoints are ignored by the degree join, which is
    * what makes the lazy shrink exact. Returns the surviving nodes with
    * their induced core degrees.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12,
      stageEvery: Int = 0): DataFrame = {
    require(k >= 1 && maxRounds >= 1,
      s"bad k/maxRounds: $k/$maxRounds")
    // the DOUBLED adjacency (each undirected edge as two directed rows)
    // is the loop's working table: "edges removed by dropping node u"
    // are exactly the rows with s = u, so one broadcast semi-scan per
    // peel replaces the canonical table's two-key classification. Staged
    // once; its degree aggregate doubles as the first observe, which
    // also measures the edge count (Σ degree / 2) for the adaptive plan
    // below — steering costs no extra jobs.
    // a scan-shaped input skips the doubled-table write: the lazy union
    // re-reads the input twice per use, which costs the same IO as one
    // read of a staged double-size file
    val undRaw = edges.select(col("src").as("s"), col("dst").as("t")).unionAll(
      edges.select(col("dst").as("s"), col("src").as("t")))
    var und = if (F.isPlainScan(edges)) undRaw else F.materialize(undRaw)
    val belowK = sum(when(col("degree") < k, 1L).otherwise(0L))
    val (deg0, nDrop0, degSum) = F.materializeObserved2(
      und.groupBy(col("s")).agg(count(lit(1)).as("degree"))
        .select(col("s").as("node"), col("degree")),
      belowK, sum(col("degree")))
    var deg = deg0
    var nDrop = nDrop0
    // degrees are CARRIED and decremented, never re-aggregated (the
    // Batagelj–Zaveršnik update, distributed): a peel's induced degrees
    // differ from the previous round's only at surviving neighbours of
    // just-dropped nodes, so one peel = one broadcast join of the
    // adjacency against the tiny drop set + a decrement aggregate over
    // only the removed rows. A decrement aimed at an endpoint that died
    // in an earlier round lands on a node absent from the degree table
    // and is ignored — which is what makes a lazily-shrunk adjacency
    // exact.
    def peel(d: DataFrame): DataFrame = {
      val drop = d.filter(col("degree") < k).select(col("node").as("s"))
      val dec = und.join(broadcast(drop), Seq("s"))
        .groupBy(col("t")).agg(count(lit(1)).as("__dec"))
        .select(col("t").as("node"), col("__dec"))
      d.filter(col("degree") >= k) // the anti-join IS the < k filter
        .join(dec, Seq("node"), "left")
        .select(col("node"),
          (col("degree") - coalesce(col("__dec"), lit(0L))).as("degree"))
    }
    // stageEvery ≤ 0 = adaptive, steered by the OBSERVED edge count (the
    // AQE-style runtime re-plan): a graph that fits comfortably in one
    // task's working set chains 2 peels per job and never bothers
    // shrinking the adjacency (job launch + stage write is the whole
    // cost down here — and chains deeper than ~2 lose more to plan
    // growth and per-broadcast AQE jobs than they save in launches,
    // measured over kCore's stageEvery variants), while a genuinely big
    // graph runs one staged round per job so the shrinking table is
    // scanned once per peel and lineage stays flat.
    val small = degSum / 2 <= PathChoice.KCoreLocalEdges
    // Local kernel (PathChoice.KCore): the remaining subgraph is
    // dimension-sized (a thresholded projection, not the corpus), so the
    // capped synchronous peel runs as ONE single-partition task instead
    // of maxRounds/blockLen distributed jobs. The local rounds replicate
    // the distributed semantics EXACTLY (survivors decided on pre-round
    // degrees, decrements to same-round-dropped nodes ignored, round
    // cap, final ≥ k filter), so the two branches — and the fixed-round
    // oracle — agree bit for bit.
    if (stageEvery <= 0 && nDrop > 0 && PathChoice.local(PathChoice.KCore,
        edges.sparkSession, degSum / 2, PathChoice.KCoreLocalEdges))
      return PathChoice.kernel(und.select(col("s"), col("t")),
        new StructType().add("node", und.schema("s").dataType)
          .add("core_degree", LongType))(
        it => localPeel(it, k, maxRounds))
    val blockLen = if (stageEvery > 0) stageEvery else if (small) 2 else 1
    var done = 0
    // Probe-forced distributed runs on a small graph still drop the
    // per-job machinery cost: 32-reducer shuffles over thousand-row
    // degree tables and AQE's per-broadcast sub-jobs buy nothing at
    // this size. Scope the peel loop's jobs to 1 shuffle partition with
    // AQE off (the broadcasts are explicit; there is nothing for AQE to
    // re-plan) and restore the session conf after — the big-graph
    // branch keeps the ambient parallelism untouched.
    val conf = edges.sparkSession.conf
    val savedAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val savedParts = conf.get("spark.sql.shuffle.partitions", "32")
    if (small) {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "1")
    }
    try {
      while (done < maxRounds && nDrop > 0) {
        // peels inside a block chain as one job; a peel on an already-
        // converged graph drops nothing, so skipping the per-round
        // convergence check inside a block cannot change the result
        // (peel-invariance)
        val steps = math.min(blockLen, maxRounds - done)
        var d = deg
        for (_ <- 1 to steps) d = peel(d)
        val step = F.materializeObserved(d, belowK)
        deg = step._1
        nDrop = step._2
        done += steps
        // on a big graph, shrink + stage the adjacency at block ends so
        // later rounds scan only the remaining graph (pure scan-size
        // optimization — decrements to dead endpoints are ignored either
        // way, see above); a small graph skips the write and rescans the
        // staged table, which is ≤ 2 cheap scans per block
        if (!small && done < maxRounds && nDrop > 0) {
          und = F.materialize(und
            .join(deg.select(col("node").as("s")), Seq("s"), "left_semi")
            .join(deg.select(col("node").as("t")), Seq("t"), "left_semi")
            .select(col("s"), col("t")))
        }
      }
    } finally if (small) {
      conf.set("spark.sql.adaptive.enabled", savedAqe)
      conf.set("spark.sql.shuffle.partitions", savedParts)
    }
    deg.filter(col("degree") >= k)
      .select(col("node"), col("degree").as("core_degree"))
  }

  /** The capped synchronous peel over one partition's doubled adjacency
    * rows (s, t) — the executor-local twin of the distributed
    * carried-decrement loop in [[kCore]], round-for-round identical:
    * each round drops ALL nodes below k simultaneously (survivors
    * judged on pre-round degrees), decrements surviving neighbours of
    * the dropped set, and stops at convergence or the round cap; nodes
    * still below k at the cap are filtered like the distributed
    * branch's final `degree >= k`.
    */
  private def localPeel(rows: Iterator[org.apache.spark.sql.Row], k: Int,
      maxRounds: Int): Iterator[org.apache.spark.sql.Row] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    rows.foreach { r =>
      adj.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r.get(1)
    }
    val deg = mutable.HashMap.empty[Any, Long]
    adj.foreach { case (u, ns) => deg(u) = ns.size.toLong }
    var done = 0
    var converged = false
    while (done < maxRounds && !converged) {
      val drop = deg.iterator.collect { case (u, d) if d < k => u }.toVector
      if (drop.isEmpty) converged = true
      else {
        drop.foreach(deg.remove) // survivors fixed before decrements land
        drop.foreach(u => adj(u).foreach { v =>
          deg.updateWith(v)(_.map(_ - 1L)) // dead endpoints are ignored
        })
        done += 1
      }
    }
    deg.iterator.collect { case (u, d) if d >= k =>
      org.apache.spark.sql.Row(u, d)
    }
  }

  /** Co-participation edges between suppliers: `a — b` when suppliers a
    * and b appear in at least `minCoOrders` common orders — the
    * projection of the bipartite order–supplier graph onto suppliers,
    * thresholded so hub orders don't densify the projection into a
    * near-clique (the same reason xref thresholds its candidate scores).
    *
    * Scale shape: the self-join keys on the order id, so both sides
    * hash-partition identically (one co-partitioned shuffle) and the
    * per-order pair fan-out is bounded by the order's supplier count
    * squared — order size is bounded by the business domain (TPC-H ≤ 7
    * lineitems), never by corpus size. The pair aggregate is map-side
    * combinable. Canonical orientation src < dst.
    */
  def coSupplierEdges(spark: SparkSession, dir: String,
      minCoOrders: Int = 8): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCoOrders)
      .select(col("src"), col("dst"))
  }

  /** Per-node triangle counts over an undirected simple graph given as
    * canonical (src < dst) edges — the clustering-structure primitive
    * (community cores, collusion rings) on the entity graph.
    *
    * Degree-ordered node-iterator (the MapReduce formulation of
    * Cohen 2009 / Suri–Vassilvitskii 2011): every edge is oriented from
    * its lower-(degree, id) endpoint to the higher one, so each
    * triangle is counted exactly once at its lowest-rank corner and —
    * the scale argument — the oriented OUT-degree is O(√E) even for
    * hubs: a node keeps only neighbours of higher rank, and fewer than
    * √E nodes can have degree above √E. The wedge self-join is therefore
    * Σ out-deg² ≤ E^1.5 instead of the Σ deg² blow-up a naive
    * id-ordered orientation hits when a low-id hub keeps all its edges.
    *
    * Two shuffle joins over the staged oriented-edge table (wedge
    * build on u, closing-edge semi-join on (b, c)) + one
    * map-side-combinable corner count. The triangle SET is orientation-
    * independent, so the id-ordered SQL enumeration is the oracle twin.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = F.materializeIfNeeded(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val deg = degrees(e)
    val er = e
      .join(deg.select(col("node").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("degree").as("dd")), "dst")
    val ru = struct(col("ds"), col("src"))
    val rv = struct(col("dd"), col("dst"))
    val oriented = F.materialize(er.select(
      when(ru < rv, col("src")).otherwise(col("dst")).as("u"),
      when(ru < rv, col("dst")).otherwise(col("src")).as("v"),
      when(ru < rv, col("dd")).otherwise(col("ds")).as("dv")))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (struct(col("x.dv"), col("x.v")) < struct(col("y.dv"), col("y.v"))))
      .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
    val tri = wedges.join(
      oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}
