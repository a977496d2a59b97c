package graft.graph

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

import scala.collection.mutable

/** Executor-local kernels behind the observed-small fast paths of the
  * iterative graph operators (connected components, BFS expand,
  * PageRank). Each is the single-task twin of a distributed loop and
  * reproduces its output EXACTLY — same fixpoint, same integer
  * arithmetic, same ordering semantics — so the two branches (and the
  * SQL oracles) agree bit for bit. They run inside `mapPartitions` over
  * a `coalesce(1)` of the (observed-small) staged input: executor-local
  * work, never a driver collect.
  *
  * The point is job count: a distributed iterative loop pays 1-2 Spark
  * jobs per round (propagate + stage write) — pure fixed overhead on a
  * graph that fits one task's working set. [[graft.exec.PathChoice]]
  * chooses between a kernel and its distributed loop.
  *
  * All kernels intern node ids to dense ints on ingest and run over
  * primitive arrays (CSR adjacency) — a boxed-HashMap formulation was
  * measured 4-5x slower at the million-edge sizes the byte gate admits,
  * which matters because the task is single-threaded by design.
  */
object GraphLocal {

  /** Ordering matching Spark's own `min`/sort semantics for the id
    * types the graph operators use: integrals natural, strings by
    * UNSIGNED UTF-8 byte comparison (UTF8String binary order — Java
    * String.compareTo disagrees beyond ASCII, so it is not used).
    * None for any other type — callers skip the fast path.
    */
  def orderingFor(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          java.lang.Long.compare(
            a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
      })
    case StringType =>
      Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          java.lang.Integer.compare(x.length, y.length)
        }
      })
    case _ => None
  }

  /** Dense-int interner: node value ↔ int id, insertion-ordered. */
  private final class Interner {
    private val ids = new java.util.HashMap[Any, Integer]()
    private val vals = mutable.ArrayBuffer.empty[Any]
    def intern(v: Any): Int = {
      val got = ids.get(v)
      if (got != null) got.intValue()
      else {
        val id = vals.length
        ids.put(v, id)
        vals += v
        id
      }
    }
    def lookup(v: Any): Int = { // -1 when unseen
      val got = ids.get(v)
      if (got != null) got.intValue() else -1
    }
    def size: Int = vals.length
    def value(id: Int): Any = vals(id)
  }

  /** Edge accumulator → CSR adjacency over interned ids. `undirect`
    * stores each (s, t) in both directions.
    */
  private final class EdgeBuf(undirect: Boolean) {
    val in = new Interner
    private var ss = new Array[Int](1024)
    private var ts = new Array[Int](1024)
    private var n = 0
    def add(s: Any, t: Any): Unit = {
      if (n == ss.length) {
        ss = java.util.Arrays.copyOf(ss, n * 2)
        ts = java.util.Arrays.copyOf(ts, n * 2)
      }
      ss(n) = in.intern(s); ts(n) = in.intern(t); n += 1
    }
    def nEdges: Int = n
    def edgeS(i: Int): Int = ss(i)
    def edgeT(i: Int): Int = ts(i)
    /** (offsets of size nodes+1, neighbor array). */
    def csr(): (Array[Int], Array[Int]) = {
      val nn = in.size
      val degCnt = new Array[Int](nn)
      var i = 0
      while (i < n) {
        degCnt(ss(i)) += 1
        if (undirect) degCnt(ts(i)) += 1
        i += 1
      }
      val off = new Array[Int](nn + 1)
      i = 0
      while (i < nn) { off(i + 1) = off(i) + degCnt(i); i += 1 }
      val cur = java.util.Arrays.copyOf(off, nn)
      val adj = new Array[Int](if (undirect) n * 2 else n)
      i = 0
      while (i < n) {
        adj(cur(ss(i))) = ts(i); cur(ss(i)) += 1
        if (undirect) { adj(cur(ts(i))) = ss(i); cur(ts(i)) += 1 }
        i += 1
      }
      (off, adj)
    }
  }

  /** Union-find with path compression over (src, dst) edge rows (the
    * staged "star" — both directions + self-loops; directions and loops
    * are harmless to union-find). Emits one (node, component-min) row
    * per distinct node: exactly the min-label-propagation fixpoint.
    * Null endpoints never occur in the callers' pair tables; a lone
    * null is registered like the distributed groupBy would but never
    * unioned.
    */
  def localComponents(rows: Iterator[Row], ord: Ordering[Any]): Iterator[Row] = {
    val buf = new EdgeBuf(undirect = false)
    val lone = mutable.ArrayBuffer.empty[Int]
    rows.foreach { r =>
      val s = r.get(0); val t = r.get(1)
      if (s != null && t != null) buf.add(s, t)
      else if (s != null) lone += buf.in.intern(s)
      else if (t != null) lone += buf.in.intern(t)
    }
    val n = buf.in.size
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < buf.nEdges) {
      val rs = find(buf.edgeS(i)); val rt = find(buf.edgeT(i))
      if (rs != rt) parent(rs) = rt
      i += 1
    }
    val minOf = new Array[Int](n)
    java.util.Arrays.fill(minOf, -1)
    i = 0
    while (i < n) {
      val root = find(i)
      if (minOf(root) < 0 ||
          ord.lt(buf.in.value(i), buf.in.value(minOf(root)))) minOf(root) = i
      i += 1
    }
    (0 until n).iterator.map { id =>
      Row(buf.in.value(id), buf.in.value(minOf(find(id))))
    }
  }

  /** Min-hop BFS over a tagged union of edge rows (src, dst, false) and
    * seed rows (node, null, true): the single-task twin of
    * [[EntityGraph.expand]]. Seeds are hop 0 (distinct, present even if
    * absent from the edge set); each hop h ≤ maxHops emits the
    * not-yet-visited undirected neighbours of the previous frontier.
    */
  def localBfs(rows: Iterator[Row], maxHops: Int): Iterator[Row] = {
    val buf = new EdgeBuf(undirect = true)
    val seedIds = mutable.ArrayBuffer.empty[Int]
    val seen = mutable.HashSet.empty[Int]
    rows.foreach { r =>
      if (r.getBoolean(2)) {
        if (!r.isNullAt(0)) {
          val id = buf.in.intern(r.get(0))
          if (seen.add(id)) seedIds += id
        }
      } else {
        val s = r.get(0); val t = r.get(1)
        if (s != null && t != null) buf.add(s, t)
      }
    }
    val n = buf.in.size
    val (off, adj) = buf.csr()
    val hopOf = new Array[Int](n)
    java.util.Arrays.fill(hopOf, -1)
    var frontier = seedIds.toArray
    frontier.foreach(hopOf(_) = 0)
    var hop = 0
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        var j = off(u)
        while (j < off(u + 1)) {
          val v = adj(j)
          if (hopOf(v) < 0) { hopOf(v) = hop; next += v }
          j += 1
        }
      }
      frontier = next.toArray
    }
    (0 until n).iterator.filter(hopOf(_) >= 0)
      .map(id => Row(buf.in.value(id), hopOf(id)))
  }

  /** Integer-exact (personalized) PageRank over directed edge rows
    * (src, dst) plus optional seed rows (node, null) tagged by a third
    * boolean column — the single-task twin of [[EntityGraph.pageRank]] /
    * [[EntityGraph.personalizedPageRank]]. All arithmetic is the same
    * scaled-BIGINT recurrence (truncating division, Long sums —
    * associative, so task-local accumulation is bit-identical to the
    * distributed aggregation). `seeded=false` replays plain PageRank
    * (rank0 = S everywhere, uniform base); `seeded=true` replays PPR
    * (rank0 = S on seed∩nodes, base only on seeds; seeds outside the
    * graph are dropped, matching the distributed node-set join).
    */
  def localPageRank(rows: Iterator[Row], iters: Int,
      seeded: Boolean): Iterator[Row] = {
    val S = 1000000000L
    val base = S * 15L / 100L
    val buf = new EdgeBuf(undirect = true)
    val seedVals = mutable.ArrayBuffer.empty[Any]
    rows.foreach { r =>
      if (seeded && r.getBoolean(2)) { if (!r.isNullAt(0)) seedVals += r.get(0) }
      else {
        val s = r.get(0); val t = r.get(1)
        if (s != null && t != null) buf.add(s, t)
      }
    }
    val n = buf.in.size
    val (off, adj) = buf.csr()
    val isSeed = new Array[Boolean](n)
    // seeds interned AFTER all edges: lookup-only, so a seed outside the
    // node set never creates a node (the distributed node-set semi-join)
    seedVals.foreach { v =>
      val id = buf.in.lookup(v)
      if (id >= 0) isSeed(id) = true
    }
    var rank = new Array[Long](n)
    var i = 0
    while (i < n) {
      rank(i) = if (!seeded || isSeed(i)) S else 0L
      i += 1
    }
    var it = 0
    while (it < iters) {
      val contrib = new Array[Long](n)
      var u = 0
      while (u < n) {
        val d = off(u + 1) - off(u)
        if (d > 0) {
          val c = rank(u) / d // truncating div, ranks non-negative
          var j = off(u)
          while (j < off(u + 1)) { contrib(adj(j)) += c; j += 1 }
        }
        u += 1
      }
      val next = new Array[Long](n)
      u = 0
      while (u < n) {
        val b = if (!seeded || isSeed(u)) base else 0L
        next(u) = b + (85L * contrib(u)) / 100L
        u += 1
      }
      rank = next
      it += 1
    }
    (0 until n).iterator.map(id => Row(buf.in.value(id), rank(id)))
  }
}
