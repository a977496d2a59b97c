package graft.dedupe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash signatures + LSH banding (near-dup candidate
  * generation without the quadratic join), SimHash bit-vector
  * fingerprints, and verified n-gram Jaccard.
  *
  * Scale shape: everything is hash-partitioned groupBy/join on derived
  * keys — at 100 TB the LSH band join shuffles only (band, bucket) keys,
  * never the quadratic pair space; candidate verification touches only
  * bucket-collision pairs. All hashes are md5-derived integer arithmetic
  * (exact, engine-portable, no floating point).
  */
object Dedupe {

  /** Stable 32-bit token hash: first 8 hex chars of md5 as unsigned int —
    * computed by the fused digest-prefix kernel
    * ([[graft.functions.TokenHash]]; value-identical to
    * `conv(substring(md5(token), 1, 8), 16, 10)`, which is what the SQL
    * oracles replay).
    */
  def tokenHash(token: Column): Column =
    graft.functions.TokenHash(token.cast("string"))

  /** Large prime > 2^32 for the universal-hash family. */
  val P = 4294967311L

  /** MinHash family member j (affine universal hashing mod P). */
  def hashParams(j: Int): (Long, Long) = (2L * j + 3L, 12345L + j)

  /** Distinct n-word shingle rows (id, __tok), built shuffle-first: one
    * cheap posexplode in the scan stage, then the window/concat work runs
    * AFTER the hash exchange on the id — parallelism is data-size-shaped,
    * not file-count-shaped, and nothing re-evaluates `split` per element
    * (the array-lambda formulation did, catastrophically). Documents
    * shorter than n tokens yield no rows.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      distinct: Boolean = true): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    // NB: position 0 must be the row's own column — lead(col, 0) falls off
    // Spark's O(1) offset-frame fast path and turns quadratic per group
    val parts = col("__w") +: (1 until n).map(i => lead(col("__w"), i).over(w))
    val rows = toks
      .withColumn("__tok", concat_ws(" ", parts: _*))
      .withColumn("__last", parts.last)
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("__tok"))
    // consumers whose aggregate is duplicate-insensitive (MinHash: min())
    // skip the distinct and save a full shuffle of the shingle volume
    if (distinct) rows.dropDuplicates(idCol, "__tok") else rows
  }

  /** Exploded distinct unigram-token rows (id, __tok). */
  def tokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
      .dropDuplicates(idCol, "__tok")

  /** Per-document MinHash signature columns mh0..mh{k-1} over exploded
    * term rows. One groupBy — linear, no joins.
    */
  def minhashSignatureFromTerms(terms: DataFrame, idCol: String, k: Int): DataFrame = {
    val toks = terms.withColumn("__h", tokenHash(col("__tok")))
    val aggs = (0 until k).map { j =>
      val (a, b) = hashParams(j)
      min((col("__h") * a + b) % P).as(s"mh$j")
    }
    toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Column-expression convenience (small inputs / tests). */
  def minhashSignature(df: DataFrame, idCol: String, terms: Column, k: Int): DataFrame =
    minhashSignatureFromTerms(
      df.select(col(idCol), explode(terms).as("__tok")), idCol, k)

  /** LSH banding: split the k signature columns into bands of `rowsPerBand`
    * and emit one bucket key per band. Documents sharing any band bucket
    * become candidate pairs — the join runs on (band, bucket) keys, never
    * the full cross product.
    */
  /** One (id, band, bucket) row per band of the signature: the LSH state
    * keys — documents sharing any (band, bucket) are near-dup candidates.
    */
  def bandRows(sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    // validated, not silent: rowsPerBand > k would reduce over ZERO bands
    // (an unexplained empty.reduce crash), and a non-dividing rowsPerBand
    // would silently ignore the trailing signature columns — lower LSH
    // recall than the caller configured, with no sign anything was dropped
    require(rowsPerBand >= 1 && k >= rowsPerBand && k % rowsPerBand == 0,
      s"rowsPerBand must divide k: k=$k rowsPerBand=$rowsPerBand")
    val bands = k / rowsPerBand
    (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j"))
      sig.select(col(idCol).cast("long"), lit(b).as("band"),
        md5(concat_ws(",", cols: _*)).as("bucket"))
    }.reduce(_ unionByName _)
  }

  /** The shared per-bucket pair loop: group banded rows per (band,
    * bucket) and emit pairs in-task instead of a self-join — one shuffle
    * on the bucket key, pair generation is a local loop bounded by
    * bucket size (oversized buckets are dropped: a bucket that collects
    * a large fraction of the corpus carries no discriminating signal).
    */
  private def bucketPairs(banded: DataFrame, idCol: String,
      maxBucket: Int = 10000): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    // a dropped bucket is never silent: the skip counters surface how
    // many groups (and member rows) the cap discarded — see SkipStats
    val (skB, skR) = graft.functions.SkipStats.pair(spark, "lsh")
    banded.select(col(idCol), col("band"), col("bucket")).as[(Long, Int, String)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroups { (key: (Int, String), rows: Iterator[(Long, Int, String)]) =>
        // take(cap+1) BEFORE toArray: an over-cap bucket is detected from
        // the first cap+1 rows and never materialized in task memory —
        // the remainder of the group iterator is only COUNTED, never
        // stored (same bound as Xref.candidates /
        // Similarity.nearDupPairs). A mega-bucket at 100 TB is a
        // counted skip, not an OOM.
        val ids = rows.map(_._1).take(maxBucket + 1).toArray
        if (ids.length > maxBucket) {
          var extra = 0L
          rows.foreach(_ => extra += 1)
          skB.add(1); skR.add(ids.length + extra)
          Iterator.empty
        }
        else {
          java.util.Arrays.sort(ids)
          for {
            i <- ids.indices.iterator
            j <- (i + 1 until ids.length).iterator
          } yield (ids(i), ids(j))
        }
      }
      .toDF("id_a", "id_b")
      .distinct()
  }

  def lshCandidatePairs(sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Int = 10000): DataFrame =
    bucketPairs(bandRows(sig, idCol, k, rowsPerBand), idCol, maxBucket)

  /** Incremental LSH maintenance: candidate pairs TOUCHING a new ingest
    * batch, recomputed over dirty (band, bucket) keys only — the
    * daily-ingest form of [[lshCandidatePairs]], same equivalence
    * argument as the xref dirty-block shortcut
    * ([[graft.ops.Xref.incrementalScoredFromLive]]): a pair touching a
    * new doc shares at least one band bucket CONTAINING that new doc, so
    * every such bucket is dirty; bucket membership — and therefore the
    * oversize cap — is unchanged by the restriction, so the dirty-bucket
    * pairs filtered to touching-new equal the full recompute filtered
    * the same way. Old-old pairs inside dirty buckets are dropped after
    * the loop.
    *
    * Scale shape: the banded table is staged once (it feeds dirty-key
    * discovery AND the pair loop); the new-batch keys arrive via one
    * semi-join the optimizer broadcasts; on a quiet day the pair loop
    * touches only the buckets the ingest touched, never the corpus.
    */
  def incrementalLshPairs(sig: DataFrame, newIds: DataFrame, idCol: String,
      k: Int, rowsPerBand: Int): DataFrame = {
    val banded = graft.functions.F.materialize(
      bandRows(sig, idCol, k, rowsPerBand))
    val nw = newIds
      .select(col(newIds.columns.head).cast("long").as("__new")).distinct()
    val dirtyKeys = banded
      .join(nw, col(idCol) === col("__new"), "left_semi")
      .select(col("band"), col("bucket")).distinct()
    val pairs = bucketPairs(
      banded.join(dirtyKeys, Seq("band", "bucket"), "left_semi"), idCol)
    pairs
      .join(nw.select(col("__new").as("id_a"), lit(true).as("__na")),
        Seq("id_a"), "left_outer")
      .join(nw.select(col("__new").as("id_b"), lit(true).as("__nb")),
        Seq("id_b"), "left_outer")
      .filter(col("__na").isNotNull || col("__nb").isNotNull)
      .select(col("id_a"), col("id_b"))
  }

  /** 32-bit SimHash over the distinct token set: per bit position, the
    * sign of the summed ±1 votes from each token's hash bit. Hamming-close
    * SimHashes ⇒ similar token sets. Integer-only — engine-portable.
    */
  def simhash32(df: DataFrame, idCol: String, terms: Column): DataFrame =
    simhash32FromTerms(df.select(col(idCol), explode(terms).as("__tok")), idCol)

  def simhash32FromTerms(terms: DataFrame, idCol: String): DataFrame = {
    // one aggregation with 32 vote columns, NOT an explode to (token, bit)
    // rows: the exploded form shuffles 32× the token volume; this form
    // shuffles the token rows once with map-side partial sums
    val toks = terms.withColumn("__h", tokenHash(col("__tok")))
    val votes = (0 until 32).map { b =>
      sum(when(expr(s"(__h >> $b) & 1") === 1, lit(1L)).otherwise(lit(-1L))).as(s"__v$b")
    }
    val bitvals = (0 until 32).map { b =>
      when(col(s"__v$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .withColumn("simhash", bitvals.reduce(_ + _))
      .select(col(idCol), col("simhash"))
  }

  /** SimHash near-dup pairs: byte-banded candidate generation (two
    * 32-bit hashes within hamming distance 3 must agree on at least one
    * of their 4 bytes — pigeonhole), verified by popcount(a xor b).
    *
    * Same in-task shape as [[lshCandidatePairs]]: ONE shuffle on the
    * (band, byte) key, then a local pair loop per bucket with the hamming
    * verify inline — the join formulation shuffles both banded sides and
    * then distincts the full candidate volume; this emits only verified
    * near-dup pairs into the final distinct. Oversized buckets (beyond
    * `maxBucket`) carry no discriminating signal and are dropped, which
    * bounds the in-task loop at 100 TB.
    */
  def simhashPairs(sig0: DataFrame, idCol: String, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    val spark = sig0.sparkSession
    import spark.implicits._
    val (skB, skR) = graft.functions.SkipStats.pair(spark, "simhash")
    sig0.select(col(idCol).cast("long"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("__band"))
      .withColumn("__byte", expr("(simhash >> (__band * 8)) & 255"))
      .as[(Long, Long, Int, Long)]
      .groupByKey { case (_, _, band, byte) => (band, byte) }
      .flatMapGroups { (key: (Int, Long), rows: Iterator[(Long, Long, Int, Long)]) =>
        val band = key._1
        // bounded materialization: take(cap+1) detects an over-cap bucket
        // from its first cap+1 rows without pulling the rest into memory
        // (see bucketPairs) — a hot byte-bucket is a counted skip
        // (SkipStats), never an OOM
        val docs = rows.map(r => (r._1, r._2)).take(maxBucket + 1).toArray
        if (docs.length > maxBucket) {
          var extra = 0L
          rows.foreach(_ => extra += 1)
          skB.add(1); skR.add(docs.length + extra)
          Iterator.empty
        }
        else {
          java.util.Arrays.sort(docs,
            java.util.Comparator.comparingLong((p: (Long, Long)) => p._1))
          for {
            i <- docs.indices.iterator
            j <- (i + 1 until docs.length).iterator
            ham = java.lang.Long.bitCount(docs(i)._2 ^ docs(j)._2)
            if ham <= maxHamming
            // emit from the FIRST agreeing band only: near-identical hashes
            // agree on several bytes, and re-emitting the pair per band
            // would force a result-volume distinct shuffle afterwards. The
            // first-band rule makes emission globally unique by
            // construction — no dedup pass over the (huge) pair output.
            x = docs(i)._2 ^ docs(j)._2
            if !(0 until band).exists(b => ((x >> (b * 8)) & 255L) == 0L)
          } yield (docs(i)._1, docs(j)._1, ham)
        }
      }
      .toDF("id_a", "id_b", "hamming")
  }

  /** Cross-document boilerplate removal (the CCNet/MassiveText pipeline
    * step between doc-level dedupe and quality filtering): chunk each
    * document into consecutive `span`-word segments, count each distinct
    * segment's document frequency across the corpus, drop segments
    * appearing in more than `maxDocFreq` documents (headers, footers,
    * cookie banners, license blocks — content no model should memorize N
    * times), and reassemble the surviving segments in order.
    *
    * Output: (doc_id, n_chunks, n_dropped, scrubbed).
    *
    * Scale shape: one posexplode-free chunking pass (array slice per
    * chunk index), one map-side-partial distinct count on the chunk key,
    * and one join of the chunk table against the HOT set only — hot
    * chunks are bounded by corpus/maxDocFreq and in practice tiny (the
    * whole point of a DF cap), so AQE broadcasts them; the full
    * chunk-frequency table is never joined. Reassembly is one shuffle on
    * the doc id with an ordered in-group sort.
    */
  def boilerplateScrub(docs: DataFrame, idCol: String, textCol: String,
      span: Int = 3, maxDocFreq: Long = 3L): DataFrame = {
    // span 0 would make the chunk-index sequence infinite (ceil(n/0) -> ∞)
    require(span > 0, s"span must be positive: $span")
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__ws"))
    val chunks = base
      .select(col("doc_id"), col("__ws"),
        explode(sequence(lit(1L),
          ceil(size(col("__ws")) / lit(span.toDouble)).cast("long"))).as("__ci"))
      .select(col("doc_id"), col("__ci"),
        concat_ws(" ", slice(col("__ws"),
          ((col("__ci") - 1) * span + 1).cast("int"), lit(span))).as("__chunk"))
    val hot = chunks
      .groupBy(col("__chunk"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__chunk"), lit(true).as("__hot"))
    // deliberately unhinted: hot is small by construction, AQE broadcasts
    chunks.join(hot, Seq("__chunk"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__hot"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(!coalesce(col("__hot"), lit(false)),
              struct(col("__ci"), col("__chunk"))))),
          x => x.getField("__chunk"))).as("scrubbed"))
  }

  /** Exact duplicated-span coverage (substring-level dedupe), after the
    * suffix-array substring dedupe of Lee et al. 2022 (arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * fixed-width k-token window stands in for the suffix-array search —
    * any cross-document duplicated span of >= k tokens necessarily
    * shares a k-token window, so k-gram collision detection finds every
    * document position inside such a span. Returns one row per doc:
    * n_tokens, n_dup_tokens (positions covered by some cross-doc
    * duplicated k-gram), dup_frac — the per-doc signal the span-cut
    * step of that pipeline consumes.
    *
    * Scale shape: ONE full-corpus shuffle (groupBy on the gram key);
    * duplicated grams are detected with min!=max over doc ids (no
    * countDistinct rewrite into two aggregations), the gram->dup
    * semi-join flows back over the same key partitioning, and the
    * position explode is bounded at k rows per dup gram before the
    * map-side-partial per-doc count. With `hashGrams` the shuffled key
    * is a 64-bit hash instead of the string — at corpus scale this cuts
    * the shuffle ~10x; a collision only ever over-marks a position.
    */
  def substringDupCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, hashGrams: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__ws"))
      .withColumn("__n", size(col("__ws")).cast("long"))
    val gramStr = array_join(slice(col("__ws"), col("__i").cast("int"), lit(k)), " ")
    val grams = toks.filter(col("__n") >= k)
      .select(col(idCol), explode(sequence(lit(1L), col("__n") - (k - 1))).as("__i"),
        col("__ws"))
      .select(col(idCol), col("__i"),
        (if (hashGrams) xxhash64(gramStr) else gramStr).as("__g"))
    val dup = grams.groupBy(col("__g"))
      .agg(min(col(idCol)).as("__d0"), max(col(idCol)).as("__d1"))
      .filter(col("__d0") =!= col("__d1"))
      .select("__g")
    val covered = grams.join(dup, Seq("__g"))
      .select(col(idCol), explode(sequence(col("__i"), col("__i") + (k - 1))).as("__pos"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__pos")).as("n_dup_tokens"))
    toks.select(col(idCol), col("__n").as("n_tokens"))
      .join(covered, Seq(idCol), "left_outer")
      .na.fill(0L, Seq("n_dup_tokens"))
      .withColumn("dup_frac",
        col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Corpus-overlap matrix between groups (sources/datasets): for every
    * unordered group pair, the distinct-shingle intersection with both
    * directed containments and Jaccard. The curation question this
    * answers — "how much of source A is already inside source B?" —
    * drives mixture weights and dedupe-scope decisions before training.
    *
    * Scale shape: the group->shingle table is distinct once (shuffle on
    * (group, shingle)), the pair expansion joins that table to itself on
    * the shingle — bounded by (#groups choose 2) per shingle, never the
    * doc-pair space — and group sizes broadcast onto the pair rows. All
    * counts are exact integers; at petabyte scale the same matrix drops
    * in from MinHash sketches ([[minhashSignatureFromTerms]]) at the
    * cost of +-1/k error per cell.
    */
  def groupShingleOverlap(docs: DataFrame, groupCol: String, idCol: String,
      termRows: DataFrame): DataFrame = {
    // staged once: the distinct table feeds three consumers (sizes, both
    // join sides) — without staging, the explode+join+distinct runs 3x
    val st = graft.functions.F.materialize(termRows
      .join(docs.select(col(idCol), col(groupCol).as("__grp")), Seq(idCol))
      .select(col("__grp"), col("__tok")).distinct())
    val sz = st.groupBy(col("__grp")).agg(count(lit(1)).as("__n"))
    val inter = st.as("a").join(st.as("b"),
        col("a.__tok") === col("b.__tok") && col("a.__grp") < col("b.__grp"))
      .groupBy(col("a.__grp").as("src_a"), col("b.__grp").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    // EVERY unordered group pair gets a row, as documented: disjoint
    // sources must report overlap 0, not silently vanish from the matrix
    // (a mixture-weight consumer reading "no row" as "no data" is wrong
    // either way). The pair skeleton is the size table self-joined —
    // #groups² rows, broadcast-bounded like the size lookups
    val pairs = sz.select(col("__grp").as("src_a"), col("__n").as("n_a"))
      .join(broadcast(sz.select(col("__grp").as("src_b"), col("__n").as("n_b"))),
        col("src_a") < col("src_b"))
    pairs
      .join(inter, Seq("src_a", "src_b"), "left_outer")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") / col("n_a").cast("double")).as("containment_a"),
        (col("n_common").cast("double") / col("n_b").cast("double")).as("containment_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** Exact-duplicate groups by an arbitrary key expression: groups with
    * >1 member, with sorted member lists. Pure hash aggregation.
    */
  def exactDupGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.select(key.as("dup_key"), col(idCol).cast("string").as("__id"))
      .groupBy(col("dup_key"))
      .agg(count(lit(1)).as("group_size"),
        array_join(sort_array(collect_list(col("__id"))), ",").as("members"))
      .filter(col("group_size") > 1)

  /** Full near-dup pipeline: one token materialization feeds signature,
    * banding, and verification. Returns verified pairs with jaccard >=
    * `threshold`, ordered.
    */
  def nearDupJaccard(docs: DataFrame, idCol: String, termRows: DataFrame,
      k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val toks = graft.functions.F.materialize(termRows)
    val sig = minhashSignatureFromTerms(toks, idCol, k)
    nearDupJaccardFromSig(sig, idCol, toks, k, rowsPerBand, threshold)
  }

  /** [[nearDupJaccard]] fed from an existing signature table — the shape a
    * staged-artifact pipeline uses (signatures computed once per campaign,
    * candidates + verification derived from the staged table).
    */
  def nearDupJaccardFromSig(sig: DataFrame, idCol: String, termRows: DataFrame,
      k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val cand = graft.functions.F.materialize(lshCandidatePairs(sig, idCol, k, rowsPerBand))
    jaccardPairsPre(termRows.select(col(idCol).as("__id"), col("__tok")), cand)
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over verified near-dup pairs → one cluster id
    * (the component's min member id) per document: the canonical-pick
    * step of a dedup pipeline ("keep one doc per duplicate cluster").
    *
    * Min-label propagation with LABEL SHORTCUTTING: every node starts
    * labeled with itself; each round takes the min of its own and its
    * neighbors' labels, and from round `shortcutFrom` on additionally
    * replaces each label by ITS label (pointer doubling) — so the
    * propagation frontier roughly doubles per round and a diameter-d
    * component converges in O(log d) rounds instead of d. Duplicate
    * clusters (tiny diameters) converge inside the plain-propagation
    * prefix with a plan identical to the pre-shortcut form; the doubling
    * only engages on long-chain shapes (ownership chains in the general
    * entity graph). Label state is re-staged per round — flat lineage,
    * no plan growth; a plain round is one join + one map-side-combinable
    * min, a shortcut round adds one join against the (small) label
    * table.
    *
    * The output is the FIXPOINT (label = component min — monotone
    * decreasing, bounded by the component min, stable once reached), so
    * it is independent of which round schedule got there. Non-convergence
    * at `maxRounds` is never silent: it throws by default
    * (`failOnNonConvergence=false` downgrades to a stderr warning and
    * returns the partial labels) — with 16 doubling rounds that means
    * components of diameter beyond ~2^12, a data-quality signal in any
    * dedup corpus, not a workload.
    */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 16,
      shortcutFrom: Int = 4, failOnNonConvergence: Boolean = true): DataFrame = {
    import graft.functions.F
    import graft.exec.PathChoice
    import graft.graph.GraphLocal
    // Local kernel (PathChoice.Components): the whole label propagation
    // loop (2 jobs per round: propagate + shortcut-stage) collapses to
    // ONE executor-local union-find task. The output is the same
    // fixpoint by construction: label = exact component min under
    // Spark's own ordering for the id type (longs natural, strings
    // unsigned UTF-8 bytes — UTF8String order). A plain scan of a staged
    // table is measured as is (the pairs' endpoints ARE the star's node
    // set, so skipping the star write changes nothing); any other input
    // is measured by the staged star below (one unavoidable stage write,
    // then one local task).
    val nodeType = pairs.schema("id_a").dataType
    val ordOpt = GraphLocal.orderingFor(nodeType)
    def localCc(edgeRows: DataFrame): DataFrame =
      PathChoice.kernel(edgeRows, new org.apache.spark.sql.types.StructType()
        .add("doc_id", nodeType).add("cluster_id", nodeType))(
        it => GraphLocal.localComponents(it, ordOpt.get))
    val pairsScan = F.isPlainScan(pairs)
    if (ordOpt.isDefined && pairsScan &&
        PathChoice.local(PathChoice.Components, Seq(pairs), PathChoice.LocalBytes))
      return localCc(pairs.select(col("id_a"), col("id_b")))
    // the "star": both edge directions plus a self-loop per node. The
    // self-loop makes every round a single join + single aggregation — the
    // node's own label rides the self-loop row, so no left_outer back-join
    // is needed for either the update or the convergence check.
    val undirected = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val star = F.materialize(undirected.unionByName(
      undirected.select(col("src")).distinct().withColumn("dst", col("src"))))
    if (ordOpt.isDefined && !pairsScan &&
        PathChoice.local(PathChoice.Components, Seq(star), PathChoice.LocalBytes))
      return localCc(star)
    // round 1 fused into initialization: label = min(self, neighbors)
    var labels = F.materialize(
      star.groupBy(col("src").as("id")).agg(min(col("dst")).as("lbl")))
    var changed = 1L
    var round = 1
    while (changed > 0 && round < maxRounds) {
      val prop = star.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("dst") === col("src"), col("lbl"))).as("__old"))
      val stepped =
        if (round + 1 >= shortcutFrom) {
          // shortcut: label := label's label. Every label is a node id
          // (a min over star dst ids, all of which carry a self-loop and
          // therefore a label row), so the lookup always hits; the
          // left+coalesce is belt-and-braces. Staged first so the
          // self-referential lookup reads one computed table instead of
          // recomputing the propagation join twice.
          val p = F.materialize(prop)
          p.join(
            p.select(col("id").as("lbl"), col("lbl").as("__lbl2")),
            Seq("lbl"), "left_outer")
            .select(col("id"),
              coalesce(col("__lbl2"), col("lbl")).as("lbl"), col("__old"))
        } else prop
      // the convergence count rides the stage write itself (observe) —
      // one job per round, no separate aggregate over the staged parquet
      val (next, chg) = F.materializeObserved(
        stepped
          .withColumn("__chg", (col("lbl") =!= col("__old")).cast("long"))
          .drop("__old"),
        sum(col("__chg")))
      changed = chg
      labels = next.drop("__chg")
      round += 1
    }
    if (changed > 0) {
      val msg = s"connected components did not converge in $maxRounds " +
        s"rounds ($changed labels still moving) — component diameter " +
        "exceeds the doubling schedule's reach; raise maxRounds or " +
        "inspect the pair graph for pathological chains"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else System.err.println(s"[dedupe] WARNING: $msg")
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Verified Jaccard over distinct token sets for candidate pairs
    * (id_a, id_b): |A∩B| / |A∪B| via an exploded token join — shuffles
    * only the tokens of candidate documents. The single final division is
    * order-independent, so the double is engine-deterministic.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, terms: Column,
      pairs: DataFrame): DataFrame = {
    // toks feeds three consumers (sizes, both join sides) — persist so the
    // explode pipeline runs once, not three times
    val toks = graft.functions.F.materialize(
      docs.select(col(idCol).as("__id"), explode(terms).as("__tok"))
        .dropDuplicates("__id", "__tok"))
    jaccardPairsPre(toks, pairs)
  }

  private def jaccardPairsPre(toks: DataFrame, pairs: DataFrame): DataFrame = {
    // No explicit broadcast() hints here: the LSH bucket cap (10k) bounds
    // each bucket's pair count, but the GLOBAL candidate set is the union
    // over all buckets — at 100 TB that union can exceed the 8 GiB
    // broadcast hard cap, and an explicit hint fails outright rather than
    // degrading. AQE sees the real post-LSH sizes at runtime and promotes
    // these joins to broadcast exactly when they actually fit. sizes is
    // per-document (scales with the corpus); its joins key on ids and
    // shuffle only candidate rows.
    val sizes = toks.groupBy("__id").agg(count(lit(1)).as("__n"))
    val ta = toks.select(col("__id").as("id_a"), col("__tok"))
    // prune BOTH token sides to candidate documents before the (id, token)
    // equi-join: without the semi-join the right side shuffles the entire
    // token table on (id_b, __tok) even though only candidate docs matter
    val tb = toks.select(col("__id").as("id_b"), col("__tok"))
      .join(pairs.select(col("id_b")).distinct(), Seq("id_b"), "left_semi")
    val inter = ta.join(pairs, Seq("id_a")).join(tb, Seq("id_b", "__tok"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .na.fill(0L, Seq("__inter"))
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
