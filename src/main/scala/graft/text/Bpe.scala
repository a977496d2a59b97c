package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Byte-pair-encoding merge training over tokenized documents (Sennrich
  * et al. 2016 — the vocabulary-induction loop under BPE/WordPiece
  * tokenizers): each round finds the globally most frequent ADJACENT
  * token pair and merges its non-overlapping occurrences greedily left
  * to right, producing the next round's token stream. The learned merge
  * list IS the tokenizer vocabulary.
  *
  * Determinism: the winning pair tie-breaks on (count desc, a, b); the
  * greedy scan is defined positionally (below), so every round is a pure
  * function of the corpus — a SQL twin replays it bit for bit.
  *
  * Greedy-without-a-scan: a merge consumes its right token, so among
  * MATCH STARTS (positions i with (wᵢ,wᵢ₊₁) = pair) a start is taken
  * iff an ODD number of consecutive match starts immediately precede it
  * (itself included). Distinct-token pairs can't have adjacent starts —
  * every start is taken; equal-token runs ("aaaa") alternate. That turns
  * the inherently sequential tokenizer scan into three window
  * aggregates: cumulative match index (run id = pos − index is constant
  * within a run of consecutive starts, strictly increasing across runs),
  * in-run rank, parity test — NO joins, no per-doc UDF loop.
  *
  * Scale shape: every window partitions on doc_id with the same
  * ordering, so one exchange + one sort per round serves the lead,
  * run-id, rank, lag, and renumber steps (Spark reuses the child
  * ordering); the pair count is a map-side-combinable groupBy whose
  * top-1 is a TakeOrdered broadcast back. Docs bound window state (a
  * document's tokens, never the corpus). Each round's stream is staged:
  * round r+1 re-reads a columnar file, not a 5-window lineage.
  */
object Bpe {

  /** One merge round. `toks`: (doc_id, pos, w) with pos consecutive
    * from 1 per doc. Returns the merged stream (same shape, renumbered)
    * and a 1-row summary (a, b, n_pair) of the winning pair.
    *
    * Merged units join with `+`; a production tokenizer keeps the merge
    * PAIR list as the vocabulary artifact (token strings containing a
    * literal `+` would alias — use the pair list, not string surgery,
    * to interpret merged units).
    */
  def mergeRound(toks: DataFrame): (DataFrame, DataFrame) = {
    val top = topPair(toks)
    (applyMerge(toks, top), top)
  }

  /** The round's winning adjacent pair: 1 row (a, b, n_pair), tie-broken
    * (count desc, a, b); empty when the corpus has no adjacent pair.
    */
  def topPair(toks: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks.withColumn("__nx", lead(col("w"), 1).over(byDoc))
      .filter(col("__nx").isNotNull)
      .groupBy(col("w").as("a"), col("__nx").as("b"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("a"), col("b")).limit(1)
  }

  /** Greedily merge occurrences of the (1-row) winning pair `top` —
    * split from the pair count so a caller can STAGE the winner once
    * and reuse it (tok2 reads it again for its summary report; without
    * staging, the full pair aggregation re-runs in every consumer).
    */
  def applyMerge(toks: DataFrame, top: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withNext = toks.withColumn("__nx", lead(col("w"), 1).over(byDoc))
    // LEFT broadcast join, not crossJoin: when the corpus has no adjacent
    // pair at all, `top` is empty and a crossJoin would silently drop
    // every token — a left join keeps the stream intact (and hash-joins
    // on the pair key instead of nested-looping)
    val flagged = withNext.join(broadcast(top),
        col("w") === col("a") && col("__nx") === col("b"), "left")
      .withColumn("__m", col("a").isNotNull)
      .withColumn("__run",
        col("pos") - sum(when(col("__m"), 1L).otherwise(0L)).over(cum))
    val runCum = Window.partitionBy(col("doc_id"), col("__run"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selected = flagged
      .withColumn("__rr", sum(when(col("__m"), 1L).otherwise(0L)).over(runCum))
      .withColumn("__sel", col("__m") && col("__rr") % 2 === 1)
      .withColumn("__consumed",
        coalesce(lag(col("__sel"), 1).over(byDoc), lit(false)))
    selected.filter(!col("__consumed"))
      .select(col("doc_id"),
        row_number().over(byDoc).as("pos"),
        when(col("__sel"), concat_ws("+", col("w"), col("__nx")))
          .otherwise(col("w")).as("w"))
  }

  /** Executor-local twin of `nRounds` consecutive merge rounds, emitting
    * tok2's summary rows directly: (round, pair, n_pair, n_merged,
    * tokens_after) — the single-task fast path behind the observed-small
    * gate in tok2 (the [[graft.graph.GraphLocal]] precedent: greedy BPE
    * is inherently sequential per document, so one task over the staged
    * token table replaces 2 staged-write jobs + ~10 window passes per
    * round with one in-memory scan). Runs inside `mapPartitions` over a
    * `coalesce(1)` of the staged (doc_id, pos, w) table, when
    * [[graft.exec.PathChoice]] chooses it over the distributed rounds.
    *
    * Exactness — replays the distributed semantics bit for bit:
    *   - pair counts: adjacent (w, next) within a doc ordered by pos,
    *     last position excluded ([[topPair]]'s lead+filter), overlaps
    *     counted ("a a a" = 2 pairs);
    *   - winner: (n_pair desc, a asc, b asc) with Spark's string order —
    *     unsigned UTF-8 bytes, nulls first (a null `w` can pair; the
    *     greedy join then matches nothing, exactly like `w === a` on a
    *     null, and the summary's concat_ws skips the null);
    *   - greedy merge: among consecutive match starts, every odd-ranked
    *     start merges ([[applyMerge]]'s parity rule) — identical to the
    *     left-to-right scan with consumption used here;
    *   - a round with NO adjacent pair emits no summary row and leaves
    *     the stream unchanged (an empty `top` joins nothing and the
    *     summary select over it is empty).
    *
    * Tokens are interned to dense ints (pair keys pack into one Long);
    * string comparisons happen only on count ties among winner
    * candidates.
    *
    * Precondition: `pos` is non-null in every row (it is read as a
    * primitive int). tok2's staged token table derives it from
    * `posexplode`, so it always is; a null `pos` throws instead of being
    * ordered.
    */
  def localSummary(rows: Iterator[Row], nRounds: Int): Iterator[Row] = {
    val ordS = graft.graph.GraphLocal.orderingFor(
      org.apache.spark.sql.types.StringType).get
    val vocabIds = new java.util.HashMap[String, Integer]()
    val vocab = mutable.ArrayBuffer.empty[String]
    def intern(s: String): Int = {
      val got = vocabIds.get(s)
      if (got != null) got.intValue()
      else { val id = vocab.length; vocabIds.put(s, id); vocab += s; id }
    }
    // Spark asc string order: nulls FIRST, then unsigned UTF-8 bytes
    def cmpTok(x: Int, y: Int): Int = {
      val a = vocab(x); val b = vocab(y)
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else ordS.compare(a, b)
    }
    // group by doc, order by pos (pos is consecutive from 1 per doc)
    val byDoc = new java.util.LinkedHashMap[Any, mutable.ArrayBuffer[(Int, Int)]]()
    rows.foreach { r =>
      val doc = r.get(0)
      val pos = r.getInt(1)
      val w = if (r.isNullAt(2)) null else r.getString(2)
      var buf = byDoc.get(doc)
      if (buf == null) { buf = mutable.ArrayBuffer.empty; byDoc.put(doc, buf) }
      buf += ((pos, intern(w)))
    }
    var streams = new Array[Array[Int]](byDoc.size)
    val it0 = byDoc.values().iterator()
    var d = 0
    while (it0.hasNext) {
      streams(d) = it0.next().sortBy(_._1).map(_._2).toArray
      d += 1
    }
    var total = 0L
    streams.foreach(total += _.length)
    val out = mutable.ArrayBuffer.empty[Row]
    var round = 1
    while (round <= nRounds) {
      val counts = mutable.LongMap.empty[Long]
      streams.foreach { ws =>
        var i = 0
        while (i < ws.length - 1) {
          val key = (ws(i).toLong << 32) | (ws(i + 1) & 0xffffffffL)
          counts(key) = counts.getOrElse(key, 0L) + 1L
          i += 1
        }
      }
      if (counts.nonEmpty) {
        // winner: count desc, then (a, b) asc in Spark's ordering
        var bestKey = 0L
        var bestN = -1L
        def aOf(x: Long) = (x >> 32).toInt
        def bOf(x: Long) = x.toInt
        counts.foreach { case (k, n) =>
          val better =
            if (n != bestN) n > bestN
            else {
              val ca = cmpTok(aOf(k), aOf(bestKey))
              if (ca != 0) ca < 0 else cmpTok(bOf(k), bOf(bestKey)) < 0
            }
          if (better) { bestKey = k; bestN = n }
        }
        val aId = (bestKey >> 32).toInt
        val bId = bestKey.toInt
        val aTok = vocab(aId)
        val bTok = vocab(bId)
        // b is never null (it is a lead value that passed isNotNull);
        // a null `a` merges nothing (null never equals), like the join
        val canMerge = aTok != null
        val mergedId = if (canMerge) intern(aTok + "+" + bTok) else -1
        var newTotal = 0L
        if (canMerge) {
          var s = 0
          while (s < streams.length) {
            val ws = streams(s)
            val nw = new Array[Int](ws.length)
            var i = 0
            var o = 0
            while (i < ws.length) {
              if (i < ws.length - 1 && ws(i) == aId && ws(i + 1) == bId) {
                nw(o) = mergedId; o += 1; i += 2
              } else { nw(o) = ws(i); o += 1; i += 1 }
            }
            streams(s) = java.util.Arrays.copyOf(nw, o)
            newTotal += o
            s += 1
          }
        } else newTotal = total
        val pairStr = if (aTok == null) bTok else aTok + " " + bTok
        out += Row(round, pairStr, bestN, total - newTotal, newTotal)
        total = newTotal
      }
      round += 1
    }
    out.iterator
  }
}
