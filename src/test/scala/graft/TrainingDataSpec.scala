package graft

import org.apache.spark.sql.functions._

import graft.dedupe.Dedupe
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextFunctions

class TrainingDataSpec extends SparkSpec {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words appear in this sentence here"),
      (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("minhash+LSH surfaces the near/exact dup pair, jaccard verifies") {
    val sh = TextFunctions.shingles(col("text"), 3)
    val sig = Dedupe.minhashSignature(docsDf, "doc_id", sh, 8)
    val cand = Dedupe.lshCandidatePairs(sig, "doc_id", 8, 2)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    val j = Dedupe.jaccardPairs(docsDf, "doc_id", sh, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    j.get((1L, 2L)).foreach(v => assert(v > 0.4 && v < 1.0))
    // doc 3 shares no shingle with anything
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental LSH equals full pairs restricted to touching-new") {
    import spark.implicits._
    val sh = TextFunctions.shingles(col("text"), 3)
    val sig = Dedupe.minhashSignature(docsDf, "doc_id", sh, 8)
    val full = Dedupe.lshCandidatePairs(sig, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every choice of "new batch" must reproduce exactly the touching
    // slice of the full recompute — including batches with no dups (2,3)
    // and the empty batch
    for (batch <- Seq(Seq(1L), Seq(4L), Seq(2L, 3L), Seq.empty[Long])) {
      val inc = Dedupe.incrementalLshPairs(sig, batch.toDF("doc_id"), "doc_id", 8, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => batch.contains(p._1) || batch.contains(p._2))
      assert(inc === expected, s"batch $batch")
    }
  }

  test("mega-bucket is skipped under the cap, not materialized: LSH and simhash") {
    import spark.implicits._
    // 5000 docs sharing ONE signature → every band collects them into a
    // single bucket far past the cap; the loop must skip it from the
    // first cap+1 rows (take-bounded), never emit its ~12.5M pairs. Two
    // extra docs share a bucket of their own and must still pair up.
    val mega = (1L to 5000L).map(id => (id, 7L, 7L, 7L, 7L, 7L, 7L, 7L, 7L))
    val small = Seq((9001L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      (9002L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    val sig = (mega ++ small).toDF("doc_id",
      "mh0", "mh1", "mh2", "mh3", "mh4", "mh5", "mh6", "mh7")
    val pairs = Dedupe.lshCandidatePairs(sig, "doc_id", 8, 2, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((9001L, 9002L)))

    // simhash analogue: 5000 docs with one hash value flood all four
    // byte-buckets; the distinct near pair (hamming 1) still emits
    val megaSh = (1L to 5000L).map(id => (id, 0x11111111L))
    val smallSh = Seq((9001L, 0x7F3F5F0FL), (9002L, 0x7F3F5F0EL))
    val shSig = (megaSh ++ smallSh).toDF("doc_id", "simhash")
    val shPairs = Dedupe.simhashPairs(shSig, "doc_id", maxHamming = 3, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shPairs === Set((9001L, 9002L)))
  }

  test("simhash: identical docs equal, near-dups hamming-close") {
    val sh = Dedupe.simhash32(docsDf, "doc_id", array_distinct(TextFunctions.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming < hammingFar)
  }

  test("quality/langid/fingerprint column functions behave") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and the dog is fast"),
      (2L, "der hund ist und die katze das"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("lang") == "en")
    assert(out(2L).getAs[String]("lang") == "de")
    assert(out(3L).getAs[String]("lang") == "und")
    assert(out(1L).getAs[Double]("q") > 0 && out(1L).getAs[Double]("q") <= 1.0)
    // fingerprint ignores case/extra spaces
    val fp2 = Seq((9L, "  THE cat is on the mat  and the dog is fast ")).toDF("doc_id", "text")
      .select(TextFunctions.fingerprint(col("text"))).collect().head.getString(0)
    assert(fp2 == out(1L).getAs[String]("fp"))
  }

  test("multimodal: metadata sniffs magic bytes, feature pipeline is deterministic") {
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9, 9)
    val df = Seq((1L, png), (2L, jpeg)).toDF("media_id", "payload")
    val meta = Multimodal.withMetadata(df, "media_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("format")).toMap
    assert(meta(1L) == "png" && meta(2L) == "jpeg")

    // stub decode paths FAIL LOUD without the explicit opt-in conf —
    // production can never silently ship fake features (metadata above
    // is real and stays ungated)
    spark.conf.unset(Multimodal.StubConfKey)
    intercept[UnsupportedOperationException] {
      Multimodal.extractFeatures(df, "media_id", "payload")
    }
    intercept[UnsupportedOperationException] {
      Multimodal.sampleFrames(df, "media_id", "payload")
    }
    intercept[UnsupportedOperationException] {
      Multimodal.resized(df, "media_id", "payload", targetBytes = 16)
    }
    spark.conf.set(Multimodal.StubConfKey, "true")

    val feats = Multimodal.extractFeatures(df, "media_id", "payload").collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).format == "png" && feats(1L).feature.length == 8)
    // deterministic: second run identical
    val again = Multimodal.extractFeatures(df, "media_id", "payload").collect()
      .map(f => f.media_id -> f.feature).toMap
    assert(again(1L) == feats(1L).feature && again(2L) == feats(2L).feature)

    // frame sampling: capped fan-out, monotonic timeline, executor-side
    val big = Seq((9L, Array.fill(4096)(7.toByte))).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(big, "media_id", "payload",
      everyMs = 500, maxFrames = 5).collect().sortBy(_.frame_idx)
    assert(frames.length == 5)
    assert(frames.map(_.frame_ms).toSeq == Seq(0L, 500L, 1000L, 1500L, 2000L))
    assert(frames.forall(_.frame.nonEmpty))

    // resize: under budget, deterministic, tiny payloads pass through
    val shrunk = Multimodal.resized(big, "media_id", "payload", targetBytes = 256)
      .collect()(0).getAs[Array[Byte]]("resized")
    assert(shrunk.length <= 260 && shrunk.length > 0)
    val small = Multimodal.resized(df, "media_id", "payload", targetBytes = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    assert(small(1L).length == png.length)
  }

  test("kmeansTrain converges to the planted clusters; trained cents drop into ivfTopK") {
    import spark.implicits._
    import graft.similarity.Similarity
    // two well-separated direction clusters; ids 0 and 1 seed one each
    val a = Array(1.0f, 0.0f, 0.05f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.05f)
    def jitter(v: Array[Float], e: Float) = v.zipWithIndex.map { case (x, i) =>
      x + (if (i % 2 == 0) e else -e)
    }
    val vecs = Seq(
      0L -> a, 1L -> b,
      2L -> jitter(a, 0.02f), 3L -> jitter(a, 0.04f), 4L -> jitter(a, 0.06f),
      5L -> jitter(b, 0.02f), 6L -> jitter(b, 0.04f), 7L -> jitter(b, 0.06f))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansTrain(vecs, "vec_id", nlist = 2, iters = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1).toArray, r.getLong(2))).toMap
    assert(cents.keySet == Set(0L, 1L))
    // every point's nearest trained centroid is its own cluster's
    val points = Similarity.prepared(vecs, "vec_id")
      .select(col("vec_id"), col("__q"), col("__n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2)))
    points.foreach { case (id, (q, n)) =>
      val simTo = cents.map { case (cid, (qk, nk)) =>
        cid -> Similarity.cosineOf(q, qk, n, nk)
      }
      val nearest = simTo.maxBy(_._2)._1
      val wantCluster = if (id == 1L || id >= 5L) 1L else 0L
      assert(nearest == wantCluster, s"vec $id -> $nearest")
    }
    // deterministic: a second training run yields identical centroids
    val again = Similarity.kmeansTrain(vecs, "vec_id", nlist = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cents.keys.forall(k => again(k) == cents(k)._1.toSeq))
    // trained centroids drop into the IVF machinery unchanged
    val topk = Similarity.ivfTopKWithCents(
      vecs, "vec_id", vecs.filter(col("vec_id") < 2), k = 2,
      Similarity.kmeansTrain(vecs, "vec_id", nlist = 2, iters = 2), nprobe = 1)
      .collect()
    assert(topk.length == 4) // 2 queries × k=2
  }

  test("boilerplateScrub drops cross-doc hot spans, keeps order, survives all-boilerplate docs") {
    import spark.implicits._
    import graft.dedupe.Dedupe
    val boiler = "click accept cookies"
    val docs = (
      (1L to 5L).map(i => i -> s"$boiler unique words ${i}a ${i}b ${i}c") :+
        (6L -> s"totally fresh content here never repeated once") :+
        (7L -> boiler) // all-boilerplate doc: scrubbed to empty, row kept
      ).toDF("doc_id", "text")
    val out = Dedupe.boilerplateScrub(docs, "doc_id", "text",
      span = 3, maxDocFreq = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the planted span appears in 6 docs > cap 3 → dropped everywhere
    // (9 words = 3 chunks: the boilerplate span + two kept spans)
    assert(out(1L) == ((3L, 1L, "unique words 1a 1b 1c")))
    assert(out(5L)._2 == 1L && out(5L)._3 == "unique words 5a 5b 5c")
    // unique content is untouched (df 1 ≤ cap), chunking is 3-word spans
    assert(out(6L) == ((3L, 0L, "totally fresh content here never repeated once")))
    // all chunks dropped: the doc stays in the output with empty text
    assert(out(7L) == ((1L, 1L, "")))
  }

  test("brute-force topk: rank 1 is the true argmax; bucketed ANN ⊆ brute-force candidates") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(-1f, 0f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", vecs.filter(col("vec_id") === 0), 2)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(top.head == (1L, 1)) // closest is vec 1
    val ann = Similarity.bucketedTopK(vecs, "vec_id", vecs.filter(col("vec_id") === 0), 2, bits = 2)
      .collect().map(_.getLong(1)).toSet
    assert(ann.contains(1L)) // same-signs bucket keeps the true neighbor
    assert(!ann.contains(3L)) // opposite-sign vector is in another bucket
  }

  test("semanticDedup: near-dups within a cluster drop, lowest id survives, cross-cluster kept") {
    import spark.implicits._
    // centroids = vec 0 and 1 (nlist=2): x-axis vs y-axis clusters.
    // 2 is a near-dup of 0 (x cluster) and 3 of 1 (y cluster) → both drop,
    // the lowest id of each cluster survives; 4 is in the x cluster but
    // dissimilar to everything → kept alongside the representative.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.99f, 0.01f, 0f, 0f)),
      (3L, Seq(0.1f, 0.95f, 0f, 0f)),
      (4L, Seq(0.7f, 0.1f, 0.7f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, "vec_id", nlist = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(0L) == (0L, true))   // cluster representative
    assert(got(2L) == (0L, false))  // near-dup of 0 in the same cluster
    assert(got(1L) == (1L, true))
    assert(got(3L) == (1L, false))  // near-dup of 1 in the y cluster
    assert(got(4L) == (0L, true))   // x cluster, but not similar → kept
  }

  test("dupClusters: components get min-id labels, chains converge, parts stay apart") {
    import spark.implicits._
    import graft.dedupe.Dedupe
    // component {1,2,3,4} as a chain (diameter 3), component {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedupe.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // canonical pick: keep one doc per cluster
    val keep = got.filter { case (id, c) => id == c }.keySet
    assert(keep == Set(1L, 10L))
  }

  test("dupClusters: diameter-40 chain converges inside 16 rounds via label shortcutting") {
    import spark.implicits._
    import graft.dedupe.Dedupe
    // a 41-node path 0-1-2-...-40: plain min-label propagation needs 40
    // rounds (the old silent-mislabel shape); the doubling schedule
    // reaches the far end in ~7 — the long-ownership-chain case of the
    // general entity graph
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedupe.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 41 && got.values.forall(_ == 0L), got)
    // the cap/convergence surface belongs to the DISTRIBUTED branch (the
    // local union-find always converges) — force it
    SparkSpec.forcedDistributed(spark) {
      val distGot = Dedupe.dupClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distGot === got) // the two branches agree at the fixpoint
      // non-convergence is surfaced, never silent: with shortcutting pushed
      // out of reach and a tight cap, the same chain throws...
      val ex = intercept[IllegalStateException](
        Dedupe.dupClusters(chain, maxRounds = 4, shortcutFrom = 99))
      assert(ex.getMessage.contains("did not converge"), ex.getMessage)
      // ...and the opt-out returns partial labels with a warning instead
      val partial = Dedupe.dupClusters(chain, maxRounds = 4, shortcutFrom = 99,
        failOnNonConvergence = false).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(partial(40L) > 0L) // far end provably not yet at the fixpoint
    }
  }

  test("TokenHash: fused kernel equals the conv(substring(md5)) recipe on both eval paths") {
    import spark.implicits._
    import graft.functions.TokenHash
    val df = (Seq("", "a", "the quick brown fox", "蜘蛛 與 网", "x" * 500, "café")
      .zipWithIndex.map(_.swap)).toDF("i", "s")
    def reference = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    val rows = df.select(reference.as("ref"), TokenHash(col("s")).as("fused")).collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
    // interpreted path must agree too
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(TokenHash(col("s"))).collect().map(_.getLong(0))
      assert(interp.toSeq == rows.map(_.getLong(0)).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null in, null out; SQL surface registered
    assert(df.select(TokenHash(lit(null).cast("string"))).collect()(0).isNullAt(0))
    assert(spark.sql("SELECT token_hash('a') = token_hash('a') AND token_hash('a') <> token_hash('b')")
      .collect()(0).getBoolean(0))
  }

  test("TermCounts: doc-local tf equals split+explode+groupBy on both eval paths") {
    import spark.implicits._
    import graft.functions.TermCounts
    // fixtures hit the split(-1) edge semantics: double spaces (empty
    // tokens), leading/trailing spaces, a bare empty string, repeats,
    // multi-byte UTF-8
    val df = Seq("the quick the fox the", "a  b ", " lead", "", "café café 蜘蛛")
      .zipWithIndex.map(_.swap).toDF("i", "s")
    def viaMap = df.select(col("i"),
      explode(TermCounts(col("s"))).as(Seq("term", "tf")))
    val composed = df
      .select(col("i"), explode(split(col("s"), " ")).as("term"))
      .groupBy(col("i"), col("term")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val fused = viaMap.collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fused == composed)
    // interpreted path must agree too
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = viaMap.collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(interp == composed)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null in, null out (explode then drops the row, like split's null)
    assert(df.limit(1).select(TermCounts(lit(null).cast("string")))
      .collect()(0).isNullAt(0))
  }

  test("TokenCount: equals size(split(s,' ')) on both eval paths") {
    import spark.implicits._
    import graft.functions.TokenCount
    // same split(-1) edge fixtures as TermCounts: empty tokens from
    // double/leading/trailing spaces, bare empty string, multi-byte
    // UTF-8 (no 0x20 inside a multi-byte sequence)
    val df = Seq("the quick the fox the", "a  b ", " lead", "", "café café 蜘蛛")
      .zipWithIndex.map(_.swap).toDF("i", "s")
    def both = df.select(col("i"), TokenCount(col("s")).as("tc"),
      size(split(col("s"), " ")).cast("long").as("ss")).collect()
    assert(both.forall(r => r.getLong(1) == r.getLong(2)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(both.forall(r => r.getLong(1) == r.getLong(2)))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(df.limit(1).select(TokenCount(lit(null).cast("string")))
      .collect()(0).isNullAt(0))
  }

  test("salted two-phase top-k equals the single-window form under skew") {
    // cur6's per-source cap claim: every global top-15 row is within its
    // (source, salt) bucket's top-15, so re-ranking only per-salt
    // survivors is EXACT. Pin it against the naive single window on a
    // skewed fixture (one source holds 90% of rows, ties on the sort
    // key broken by id like cur6's ordering).
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val W = Window
    val rows = (1L to 900L).map(i => (i, "big", (i % 37).toInt)) ++
      (901L to 990L).map(i => (i, "mid", (i % 11).toInt)) ++
      (991L to 1000L).map(i => (i, "tiny", 5))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val ord = Seq(col("n_chars").desc, col("doc_id"))
    val naive = df.withColumn("__rk", row_number().over(
        W.partitionBy(col("source")).orderBy(ord: _*)))
      .filter(col("__rk") <= 15)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = df
      .withColumn("__salt", pmod(hash(col("doc_id")), lit(32)))
      .withColumn("__rs", row_number().over(
        W.partitionBy(col("source"), col("__salt")).orderBy(ord: _*)))
      .filter(col("__rs") <= 15)
      .withColumn("__rk", row_number().over(
        W.partitionBy(col("source")).orderBy(ord: _*)))
      .filter(col("__rk") <= 15)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == naive)
    assert(naive.count(_._2 == "big") == 15 &&
      naive.count(_._2 == "mid") == 15 && naive.count(_._2 == "tiny") == 10)
  }

  test("QuantizedCosine: codegen and interpreted paths agree with the scala twin") {
    import spark.implicits._
    import graft.functions.QuantizedCosine
    val rows = Seq(
      (Array(10000L, 0L, 3L), Array(9000L, 1000L, -3L)),
      (Array(-5L, -5L, -5L), Array(5L, 5L, 5L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))).toDF("a", "b")
      .withColumn("na", Similarity.dotQ(col("a"), col("a")))
      .withColumn("nb", Similarity.dotQ(col("b"), col("b")))
    val expected = rows.collect().map { r =>
      Similarity.cosineOf(r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray,
        r.getLong(2), r.getLong(3))
    }
    // wholestage codegen path
    val gen = rows.select(
      QuantizedCosine(col("a"), col("b"), col("na"), col("nb"))).collect().map(_.getDouble(0))
    assert(gen.toSeq == expected.toSeq)
    // interpreted eval path (codegen off) must be bit-identical
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = rows.select(
        QuantizedCosine(col("a"), col("b"), col("na"), col("nb"))).collect().map(_.getDouble(0))
      assert(interp.toSeq == expected.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null inputs → null out
    val n = Seq((Option.empty[Array[Long]], Array(1L))).toDF("a", "b")
      .select(QuantizedCosine(col("a"), col("b"), lit(1L), lit(1L))).collect()
    assert(n(0).isNullAt(0))
  }

  test("cluster pick keeps exactly the best-quality doc; gopher gates and int8 quantization behave") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // d8 shape: one keep per cluster, winner by (quality desc, doc_id asc)
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.4), (2L, 0.9), (4L, 0.9), (10L, 0.5), (11L, 0.2))
      .toDF("doc_id", "quality")
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("quality").desc, col("doc_id"))
    val picked = clusters.join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
    val keeps = picked.filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(keeps == Set(2L, 10L)) // 2 beats 4 on the id tiebreak at equal quality
    assert(picked.filter(col("keep")).count() == picked.select("cluster_id").distinct().count())

    // t8 gates: word-count and mean-word-length bounds
    val t8 = Seq(
      (1L, Seq.fill(60)("words").mkString(" ")),      // passes both gates
      (2L, "too short"),                              // n_words gate fails
      (3L, Seq.fill(60)("a").mkString(" "))           // mean-word-length gate fails
    ).toDF("doc_id", "text")
    val n = size(split(col("text"), " "))
    val meanWl = (length(col("text")) - (n - lit(1))).cast("double") / n.cast("double")
    val kept = t8.filter(n >= 50 && n <= 100000 && meanWl >= 3.0 && meanWl <= 10.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))

    // e1: clamped symmetric int8 — exact at the rails, norm is exact integer
    val q8 = transform(col("embedding"), x =>
      greatest(lit(-127L), least(lit(127L), round(x.cast("double") * 127).cast("long"))))
    val out = Seq((1L, Seq(1.0f, -1.0f, 0.5f, 2.0f)))
      .toDF("vec_id", "embedding")
      .select(array_join(transform(q8, _.cast("string")), ",").as("csv"),
        aggregate(q8, lit(0L), (acc, v) => acc + v * v).as("l2"))
      .collect()(0)
    assert(out.getString(0) == "127,-127,64,127") // 2.0f clamps to the rail
    assert(out.getLong(1) == 127L * 127 * 3 + 64L * 64)
  }

  test("curation: hash split is total+stable, sample is a subset, scrub redacts") {
    import spark.implicits._
    val split = col("doc_id").cast("string")
    val bucket = pmod(Dedupe.tokenHash(split), lit(100))
    val assigned = docsDf.select(col("doc_id"), bucket.as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
    val rows = assigned.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L)) // total: every doc assigned
    // stable: recomputation gives identical assignment
    assert(assigned.collect().map(r => r.getLong(0) -> r.getString(2)).toMap == rows)
    // sample: the kept set is exactly the hash-threshold subset
    val kept = docsDf.filter(pmod(Dedupe.tokenHash(split), lit(2)) === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(Set(1L, 2L, 3L, 4L)))
    // scrub: email/url hits counted and removed
    val scrubbed = Seq((1L, "mail me a@b.com or see https://x.y/z now"))
      .toDF("doc_id", "text")
      .select(
        regexp_count(col("text"), lit("[a-z0-9.]+@[a-z0-9.]+")).as("ne"),
        regexp_replace(regexp_replace(col("text"), "https?://[a-z0-9./]+", "<url>"),
          "[a-z0-9.]+@[a-z0-9.]+", "<email>").as("t"))
      .collect()(0)
    assert(scrubbed.getInt(0) == 1)
    assert(scrubbed.getString(1) == "mail me <email> or see <url> now")
  }

  test("substringDupCoverage marks exactly the shared-span positions") {
    import spark.implicits._
    // docs 1/2 share a 6-token span; doc 3 is disjoint; k=4 windows
    val span = "a b c d e f"
    val df = Seq(
      (1L, s"x1 x2 $span y1 y2"),   // span at positions 3..8 of 10
      (2L, s"z1 $span z2 z3 z4"),   // span at positions 2..7 of 10
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val out = Dedupe.substringDupCoverage(df, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((10L, 6L, 0.6)))
    assert(out(2L) == ((10L, 6L, 0.6)))
    assert(out(3L) == ((8L, 0L, 0.0)))
    // hashed-gram scale path agrees on collision-free input
    val hashed = Dedupe.substringDupCoverage(df, "doc_id", "text", k = 4, hashGrams = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(hashed == out)
    // a doc shorter than k contributes no grams but still reports
    val short = Dedupe.substringDupCoverage(
      Seq((1L, "a b"), (2L, "a b c d e"), (3L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(short(1L) == 0L && short(2L) == 5L && short(3L) == 5L)
  }

  test("groupShingleOverlap: exact containment and jaccard per group pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", "s1"), // shingles: {abc, bcd}
      (2L, "b c d e", "s2"), // shingles: {bcd, cde}
      (3L, "x y z w", "s3")  // disjoint
    ).toDF("doc_id", "text", "source")
    val terms = Dedupe.shingleRows(df, "doc_id", "text", 3)
    val out = Dedupe.groupShingleOverlap(df, "source", "doc_id", terms)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(7))).toMap
    // EVERY unordered pair appears — disjoint sources report overlap 0,
    // they don't silently vanish from the matrix
    assert(out.keySet == Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    val (na, nb, common, contA, jac) = out(("s1", "s2"))
    assert(na == 2L && nb == 2L && common == 1L)
    assert(contA == 0.5 && jac == 1.0 / 3.0)
    val (na13, nb13, common13, contA13, jac13) = out(("s1", "s3"))
    assert(na13 == 2L && nb13 == 2L && common13 == 0L)
    assert(contA13 == 0.0 && jac13 == 0.0)
  }

  test("PQ codes match a Scala brute-force twin; ADC is exact-integer; no shuffle") {
    import spark.implicits._
    def cent(m: Int, k: Int, j: Int): Long =
      (((m * 131 + k * 31 + j * 17 + 7) % 97) - 48) * 62L
    def qProbe(i: Int): Long = (((i * 37 + 11) % 89) - 44) * 68L
    // deterministic fixture vectors, data-like range ±0.2
    val vecs = (0 until 5).map { v =>
      (v.toLong, Array.tabulate(64)(i => (((v * 7 + i) * 13) % 40 - 20) / 100.0f))
    }
    val expected = vecs.map { case (id, xs) =>
      val q = xs.map(x => math.round(x.toDouble * 10000))
      val codes = (0 until 8).map { m =>
        (0 until 16).minBy { k =>
          (0 until 8).map { j =>
            val d = q(m * 8 + j) - cent(m, k, j); d * d
          }.sum
        }
      }
      val adc = (0 until 8).map { m =>
        (0 until 8).map { j =>
          val d = qProbe(m * 8 + j) - cent(m, codes(m), j); d * d
        }.sum
      }.sum
      id -> ((codes, adc))
    }.toMap
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.similarity.Similarity.pqCodes(
          graft.similarity.Similarity.quantize(col("embedding"))).as("codes"))
      .withColumn("pq_dist", graft.similarity.Similarity.pqAdcDist(col("codes")))
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getLong(2)))).toMap
    expected.foreach { case (id, (codes, adc)) =>
      assert(got(id)._1 == codes, s"codes for $id")
      assert(got(id)._2 == adc, s"adc for $id")
    }
    // encode + score is a stateless projection: no Exchange in the plan
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    // SQL surface: pq_encode/pq_adc registered and consistent with the
    // Column path
    val viaSql = spark.sql(
      "SELECT pq_adc(pq_encode(array(" +
        (0 until 64).map(_ => "0L").mkString(",") + ")))").head().getLong(0)
    assert(viaSql == PqZeroAdc)
  }

  // ADC of the all-zeros vector's codes — pinned from the Scala twin
  private lazy val PqZeroAdc: Long = {
    def cent(m: Int, k: Int, j: Int): Long =
      (((m * 131 + k * 31 + j * 17 + 7) % 97) - 48) * 62L
    def qProbe(i: Int): Long = (((i * 37 + 11) % 89) - 44) * 68L
    val codes = (0 until 8).map { m =>
      (0 until 16).minBy(k => (0 until 8).map { j =>
        val d = -cent(m, k, j); d * d
      }.sum)
    }
    (0 until 8).map { m =>
      (0 until 8).map { j =>
        val d = qProbe(m * 8 + j) - cent(m, codes(m), j); d * d
      }.sum
    }.sum
  }

  test("MediaProbe parses real container headers; total over junk") {
    import spark.implicits._
    def hx(s: String): Array[Byte] = s.replaceAll("\\s", "")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val cases: Seq[(Long, Array[Byte])] = Seq(
      // PNG 640x480
      1L -> hx("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 06 00 00 00 DEADBEEF"),
      // JPEG with fill bytes, COM segment, RST standalone, then SOF2 31x17
      2L -> hx("FFD8 FFFE 0004 4849 FFD1 FFFF FFC2 000B 08 0011 001F 01 011100 FFD9"),
      // GIF89a 322x7 (LE)
      3L -> hx("474946383961 4201 0700 F7"),
      // BMP 100x(-200) top-down (LE int32, height abs'd)
      4L -> hx("424D 00000000 00000000 36000000 28000000 64000000 38FFFFFF 0100"),
      // WAV with a JUNK chunk before fmt: 2ch 22050Hz
      5L -> hx("52494646 24000000 57415645 4A554E4B 04000000 00000000" +
        "666D7420 10000000 0100 0200 22560000 00000000 0400 1000"),
      // MP3: ID3v2 tag (10-byte header, 5-byte body) then MPEG1 Layer3 sync,
      // 44100 (idx 0), joint stereo
      6L -> hx("494433 0400 00 00000005 0000000000 FFFB 90 40"),
      // truncated PNG: signature only -> format known, dims null
      7L -> hx("89504E470D0A1A0A 000000"),
      // garbage
      8L -> Array[Byte](1, 2, 3, 4, 5),
      // mp4 ftyp detect
      9L -> hx("00000018 66747970 69736F6D"))
    val df = cases.toDF("media_id", "payload")
    val out = Multimodal.probed(df, "media_id", "payload")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    assert(out(1L) == (("png", Some(640), Some(480), None, None)))
    assert(out(2L) == (("jpeg", Some(31), Some(17), None, None)))
    assert(out(3L) == (("gif", Some(322), Some(7), None, None)))
    assert(out(4L) == (("bmp", Some(100), Some(200), None, None)))
    assert(out(5L) == (("wav", None, None, Some(22050), Some(2))))
    assert(out(6L) == (("mp3", None, None, Some(44100), Some(2))))
    assert(out(7L) == (("png", None, None, None, None)))
    assert(out(8L) == (("bin", None, None, None, None)))
    assert(out(9L) == (("mp4", None, None, None, None)))
    // registered as a SQL function; interpreted path agrees with codegen
    df.createOrReplaceTempView("probe_in")
    val viaSql = spark.sql(
      "SELECT media_id, media_probe(payload).format AS f FROM probe_in")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql(2L) == "jpeg" && viaSql(6L) == "mp3")
  }

  test("hashedLinearScore: exact mean of integer bucket weights, no shuffle") {
    import spark.implicits._
    // expected weight computed from the same md5-prefix recipe
    def weight(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      ((h % 4096L) * 2654435761L + 12345L) % 1000003L - 500001L
    }
    val df = Seq((1L, "alpha"), (2L, "alpha alpha beta")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextFunctions.hashedLinearScore(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == weight("alpha").toDouble / 1000003.0)
    assert(out(2L) ==
      (2 * weight("alpha") + weight("beta")).toDouble / (1000003.0 * 3.0))
    // stateless projection: the plan contains no Exchange at all
    val plan = df.select(TextFunctions.hashedLinearScore(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("tfIdfTopTerms ranks distinctive terms first; postings exact under salting") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2 common common"),
      (3L, "common common common common")).toDF("doc_id", "text")
    val kw = graft.text.Search.tfIdfTopTerms(df, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // rare terms beat the everywhere-term despite 3x lower tf
    assert(kw == Map(1L -> "rare1", 2L -> "rare2", 3L -> "common"))
    // postings: exact df and exact smallest-cap ids, salts partition docs
    val docs10 = (0L until 10L).map(i => (i, if (i % 2 == 0) "even x" else "x"))
      .toDF("doc_id", "text")
    val p = graft.text.Search.postings(docs10, "doc_id", "text", cap = 3, salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toList
    val byTerm = p.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byTerm("x") == ((10L, Seq(0L, 1L, 2L))))
    assert(byTerm("even") == ((5L, Seq(0L, 2L, 4L))))
  }

  test("bm25: tf monotone, rational and log idf agree on ranking, topk plan") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark spark filler filler"),
      (2L, "spark filler filler filler filler"),
      (3L, "filler filler filler filler filler"),
      (4L, "spark spark filler filler filler")).toDF("doc_id", "text")
    def ranks(logIdf: Boolean) = graft.text.Search
      .bm25(df, "doc_id", "text", Seq("spark"), logIdf = logIdf)
      .orderBy(col("score").desc, col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    // higher tf ranks higher at equal length; absent term scores last
    assert(ranks(logIdf = false) == Seq(1L, 4L, 2L, 3L))
    assert(ranks(logIdf = true) == Seq(1L, 4L, 2L, 3L))
    // zero-tf docs score exactly 0 contribution
    val s3 = graft.text.Search.bm25(df, "doc_id", "text", Seq("spark"))
      .filter(col("doc_id") === 3L).select("score").as[Double].head()
    assert(s3 == 0.0)
    // top-k plans as TakeOrderedAndProject, never a global sort
    val topk = graft.text.Search.bm25TopK(df, "doc_id", "text", Seq("spark"), 2)
    assert(topk.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(topk.select("doc_id").as[Long].collect().toSeq == Seq(1L, 4L))
  }

  test("search fromLive: tombstoned entities drop out of retrieval") {
    import spark.implicits._
    val docs = Tables(spark, sf001, "documents")
    val live = graft.ops.MergeDedupe.live(
      graft.lake.DocumentStatements.statements(docs))
    // the mapping tombstones doc_id % 97 == 0; live view must not carry them
    val tombed = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(concat(lit("d"), col("doc_id"))).as[String].collect().toSet
    assert(tombed.nonEmpty)
    val liveIds = live.select("entity_id").distinct().as[String].collect().toSet
    assert(tombed.intersect(liveIds).isEmpty)
    // ranked retrieval over the live view can, by construction, never
    // surface a tombstoned entity — the composition srch2 oracle-gates
    val hits = graft.text.Search
      .fromLive(live, "bodyText", Seq("the"), k = 50)
      .select("entity_id").as[String].collect().toSet
    assert(hits.nonEmpty && hits.intersect(tombed).isEmpty)
    // and the live view carries the three-prop entity shape
    val props = live.select("prop").distinct().as[String].collect().toSet
    assert(props == Set("name", "bodyText", "language"))
  }

  test("cur5 DSIR weights: target-vocabulary docs outrank off-target docs") {
    import spark.implicits._
    // target corpus speaks {alpha..delta}; web corpus speaks {noise*};
    // one web doc ("w1") is written in the target vocabulary and one
    // target doc ("t3") drifted off-vocabulary — importance weighting
    // must rank by VOCABULARY, not by source label
    val corpus = Seq(
      (1L, "tgt", "alpha beta gamma delta alpha beta"),
      (2L, "tgt", "beta gamma alpha delta delta gamma"),
      (3L, "tgt", "noiseA noiseB noiseC noiseD noiseE noiseF"),
      (10L, "web", "alpha beta gamma delta beta alpha"),
      (11L, "web", "noiseA noiseB noiseC noiseD noiseA noiseB"),
      (12L, "web", "noiseG noiseH noiseI noiseJ noiseK noiseL"))
      .toDF("doc_id", "source", "text")
    val ranked = graft.queries.TrainingData
      .dsirWeights(corpus, Seq("tgt"), limit = 6)
      .select("doc_id", "score").as[(Long, Long)].collect()
    val score = ranked.toMap
    // scores non-increasing in rank order, all positive
    val scores = ranked.map(_._2).toSeq
    assert(scores === scores.sorted.reverse && scores.forall(_ > 0))
    // target-vocabulary docs (1, 2, 10) all outrank pure-noise docs (11, 12)
    // — in particular the WEB doc written in target vocabulary (10) ranks
    // above web docs that aren't: selection is by vocabulary, not label
    for (hi <- Seq(1L, 2L, 10L); lo <- Seq(11L, 12L))
      assert(score(hi) > score(lo), s"doc $hi should outrank doc $lo")
    // note doc 3 is NOT asserted below doc 10: it sits inside the target
    // sample, so its tokens legitimately count toward the target
    // distribution (in-sample self-inclusion — the published method has
    // the same property; held-out scoring is a pipeline choice)
  }

  test("BPE merge round: greedy overlap, tie-break, renumbered stream") {
    import spark.implicits._
    // doc 1: "a a a a b" — top pair (a,a) has 3 adjacent occurrences but
    // greedy merges only positions 1 and 3 (2 merges); doc 2 is inert
    val t = Seq(
      (1L, 1, "a"), (1L, 2, "a"), (1L, 3, "a"), (1L, 4, "a"), (1L, 5, "b"),
      (2L, 1, "x"), (2L, 2, "y")).toDF("doc_id", "pos", "w")
    val (m, top) = graft.text.Bpe.mergeRound(t)
    val t1 = top.select("a", "b", "n_pair").as[(String, String, Long)].head()
    assert(t1 === (("a", "a", 3L)))
    val out = m.orderBy("doc_id", "pos")
      .as[(Long, Int, String)].collect().toSeq
    assert(out === Seq((1L, 1, "a+a"), (1L, 2, "a+a"), (1L, 3, "b"),
      (2L, 1, "x"), (2L, 2, "y")))
    // equal counts tie-break lexicographically on (a, b)
    val tie = Seq((1L, 1, "p"), (1L, 2, "q"), (2L, 1, "m"), (2L, 2, "n"))
      .toDF("doc_id", "pos", "w")
    val (_, top2) = graft.text.Bpe.mergeRound(tie)
    assert(top2.select("a", "b").as[(String, String)].head() === (("m", "n")))
  }

  test("BPE local kernel replays the distributed rounds bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.F
    // tok2's two-round summary computed the DISTRIBUTED way (the staged
    // topPair/applyMerge loop — the exact plan the query runs past the
    // byte gate)…
    def distSummary(toks: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long, Long, Long)] = {
      var t = toks
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long)]
      for (r <- 1 to 2) {
        val top = F.materialize(graft.text.Bpe.topPair(t))
        val nb = t.count()
        val merged = F.materialize(graft.text.Bpe.applyMerge(t, top))
        val na = merged.count()
        out ++= top.select(lit(r), concat_ws(" ", col("a"), col("b")),
            col("n_pair"), lit(nb - na), lit(na))
          .as[(Int, String, Long, Long, Long)].collect()
        t = merged
      }
      out.toSeq
    }
    // …vs the single-task kernel
    def localSummary(toks: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long, Long, Long)] = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("pair", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_pair", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_merged", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tokens_after", org.apache.spark.sql.types.LongType)))
      toks.select(col("doc_id"), col("pos"), col("w")).coalesce(1)
        .mapPartitions(it => graft.text.Bpe.localSummary(it, 2))(
          org.apache.spark.sql.Encoders.row(schema))
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    }
    def check(rows: Seq[(Long, Int, String)]): Unit = {
      val toks = rows.toDF("doc_id", "pos", "w")
      assert(localSummary(toks) === distSummary(toks))
    }
    // greedy overlap runs + the winner feeding round 2
    check(Seq((1L, 1, "a"), (1L, 2, "a"), (1L, 3, "a"), (1L, 4, "a"),
      (1L, 5, "b"), (2L, 1, "a"), (2L, 2, "a"), (2L, 3, "b")))
    // count tie decided by STRING order — U+FFFF (UTF-8 ef bf bf) sorts
    // BELOW U+10000 (f0 90 80 80) in Spark's unsigned-byte order, while
    // Java UTF-16 order says the opposite: pins the kernel's comparator
    check(Seq((1L, 1, "𐀀"), (1L, 2, "z"),
      (2L, 1, "￿"), (2L, 2, "z")))
    // single-token docs only: no adjacent pair, zero summary rows
    check(Seq((1L, 1, "solo"), (2L, 1, "alone")))
    // second round exhausts: round 1 merges the only pair type completely
    check(Seq((1L, 1, "x"), (1L, 2, "y"), (2L, 1, "x"), (2L, 2, "y")))
    // multi-doc mixed: out-of-order pos ingestion, '+'-bearing tokens
    check(Seq((3L, 2, "q"), (3L, 1, "p+r"), (3L, 3, "q"), (3L, 4, "q"),
      (7L, 1, "p+r"), (7L, 2, "q"), (9L, 1, "lone")))
  }

  test("MediaDecode: real PCM/BMP decode on hand-built byte fixtures") {
    import spark.implicits._
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // WAV with 3 samples: +1, -2 (FEFF), -32768 (0080) — signed decode
    val wav = hx("52494646" + "2A000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
      "0200" + "1000" + "64617461" + "06000000" + "0100" + "FEFF" + "0080")
    // BMP 2×2 24bpp (rowSize 8: 6 data + 2 pad bytes per row)
    val pix = "010203" + "040506" + "0000" + "070809" + "0A0B0C" + "0000"
    val bmpUp = hx("424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "02000000" + "02000000" + "0100" + "1800" +
      "00000000" * 6 + pix)
    // top-down twin: negative height, same pixel bytes → same sums
    val bmpDown = hx("424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "02000000" + "FEFFFFFF" + "0100" + "1800" +
      "00000000" * 6 + pix)
    val rows = Seq(
      (1L, wav), (2L, bmpUp), (3L, bmpDown),
      (4L, "not media".getBytes), (5L, wav.take(20)) // foreign + truncated
    ).toDF("id", "payload")
      .select(col("id"),
        graft.functions.WavPcmStats(col("payload")).as("w"),
        graft.functions.BmpPixelStats(col("payload")).as("b"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val w = rows(1L)._1.asInstanceOf[org.apache.spark.sql.Row]
    assert((w.getInt(0), w.getInt(1), w.getLong(2)) === ((3, 32768, 32771L)))
    for (id <- Seq(2L, 3L)) {
      val b = rows(id)._2.asInstanceOf[org.apache.spark.sql.Row]
      assert((b.getInt(0), b.getInt(1)) === ((2, 2)))
      assert((b.getLong(2), b.getLong(3), b.getLong(4)) === ((30L, 26L, 22L)))
    }
    // decoders never throw: foreign/truncated payloads are null, and the
    // wav decoder rejects a bmp (and vice versa)
    assert(rows(1L)._2 == null && rows(2L)._1 == null)
    assert(rows(4L) == ((null, null)) && rows(5L) == ((null, null)))
  }

  test("mm5: real JPEG/PNG pixel decode via JDK ImageIO") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // hand-built 4×2 bitmap with known channel means:
    // left half solid (200, 100, 50), right half solid (0, 255, 10)
    def paint(): BufferedImage = {
      val img = new BufferedImage(4, 2, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 2; x <- 0 until 4) {
        val (r, g, b) = if (x < 2) (200, 100, 50) else (0, 255, 10)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      img
    }
    def encode(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(paint(), fmt, out), s"JDK has no $fmt writer")
      out.toByteArray
    }
    val png = encode("png"); val jpeg = encode("jpg")
    val rows = Seq(
      (1L, png), (2L, jpeg),
      (3L, "not an image at all".getBytes), (4L, png.take(12)) // foreign + truncated
    ).toDF("media_id", "payload")
    val out = Multimodal.imageStats(rows, "media_id", "payload")
      .collect().map(s => s.media_id -> s).toMap

    // PNG is lossless: stats are EXACT
    val p = out(1L)
    assert(p.decoded && p.width.contains(4) && p.height.contains(2) &&
      p.n_pixels.contains(8L))
    assert(p.mean_r.contains(100.0) && p.mean_g.contains(177.5) &&
      p.mean_b.contains(30.0))
    assert(p.mean_luma.exists(l => math.abs(l - (0.2126 * 100 + 0.7152 * 177.5 + 0.0722 * 30)) < 1e-9))
    // JPEG is lossy but its decode is deterministic: geometry exact,
    // channel means within codec error of the painted values
    val j = out(2L)
    assert(j.decoded && j.width.contains(4) && j.height.contains(2))
    assert(j.mean_r.exists(v => math.abs(v - 100.0) < 40) &&
      j.mean_g.exists(v => math.abs(v - 177.5) < 40))
    // undecodable rows are KEPT with decoded=false, never dropped/thrown
    assert(!out(3L).decoded && out(3L).width.isEmpty)
    assert(!out(4L).decoded)
    // determinism: a second pass is bit-identical
    val again = Multimodal.imageStats(rows, "media_id", "payload")
      .collect().map(s => s.media_id -> s).toMap
    assert(again == out)

    // extractFeatures now yields REAL features for decodable images —
    // gate still applies (non-image rows in the same corpus would stub)
    spark.conf.set(Multimodal.StubConfKey, "true")
    val feats = Multimodal.extractFeatures(rows, "media_id", "payload")
      .collect().map(f => f.media_id -> f.feature).toMap
    assert(feats(1L).length == 8)
    assert(math.abs(feats(1L)(3) - 100.0 / 255.0) < 1e-6) // real mean_r/255
    assert(math.abs(feats(1L)(0) - 4f / 16384f) < 1e-9)   // real width
    assert(feats(3L).length == 8)                          // stub fallback
  }

  test("MediaDecode: payload-declared sizes near 2^31 return null, never throw") {
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // WAV whose first chunk declares size 0x7FFFFFF0: the Int chunk-walk
    // would wrap `pos` negative past the bounds guard and throw from
    // `new String`; the Long walk must bail to null
    val hugeChunk = hx("52494646" + "24000000" + "57415645" +
      "4A554E4B" + "F0FFFF7F" + "00" * 28)
    assert(graft.functions.MediaDecode.wavStats(hugeChunk) == null)
    // a data chunk declaring 2 GB with 2 real bytes decodes what is
    // there (min with the payload), still without wrapping the walk
    val wrapData = hx("52494646" + "30000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
      "0200" + "1000" + "64617461" + "F8FFFF7F" + "0100")
    val truncated = graft.functions.MediaDecode.wavStats(wrapData)
    assert(truncated != null && truncated.getInt(0) == 1)
    // BMP header width 0x30000000: 3*w+3 overflows Int to negative
    // rowSize, which would slip the old bounds check and throw in the
    // pixel loop; the Long row arithmetic must bail to null
    val hugeWidth = hx("424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "00000030" + "02000000" + "0100" + "1800" +
      "00000000" * 6 + "00" * 16)
    assert(graft.functions.MediaDecode.bmpStats(hugeWidth) == null)
    // and a width whose 3*w stays positive but exceeds the payload
    val wideWidth = hx("424D" + "46000000" + "00000000" + "36000000" +
      "28000000" + "00001000" + "02000000" + "0100" + "1800" +
      "00000000" * 6 + "00" * 16)
    assert(graft.functions.MediaDecode.bmpStats(wideWidth) == null)
  }

  test("qc2 perceptron: trained weights separate a separable corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, true, "good clean prose here"),
      (2L, true, "clean good wording here"),
      (3L, false, "spam junk noise blob"),
      (4L, false, "junk spam blob noise"))
      .toDF("doc_id", "label", "text")
    val w = graft.queries.TrainingData.perceptronWeights(corpus)
      .select("bucket", "w2").as[(Long, Long)].collect().toMap
    // score each doc with the trained vector — positives above negatives,
    // and with disjoint vocabularies the signs separate exactly
    def score(text: String): Long =
      text.split(" ").groupBy(identity).map { case (tok, occ) =>
        val h = java.math.BigInteger.valueOf(
          java.lang.Long.parseLong(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(tok).take(8), 16))
        w(h.longValue() % 64) * occ.length
      }.sum
    assert(score("good clean prose here") > 0)
    assert(score("spam junk noise blob") < 0)
  }

  test("sim10 recall: IVF probing every list recovers brute force exactly") {
    import spark.implicits._
    val e = Tables(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val exact = key(graft.similarity.Similarity.bruteForceTopK(e, "vec_id", q, 3))
    val full = key(graft.similarity.Similarity.ivfTopK(e, "vec_id", q, k = 3,
      nlist = 8, nprobe = 8))
    // nprobe == nlist makes the index exhaustive — recall is exactly 1
    assert(full === exact)
    // and the gated configuration reports recall within [0, 1]
    val rec = graft.queries.TrainingData.sim10Recall(spark, sf001)
      .select("recall").as[Double].collect()
    assert(rec.nonEmpty && rec.forall(r => r >= 0.0 && r <= 1.0))
  }
}
