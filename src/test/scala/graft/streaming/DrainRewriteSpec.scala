package graft.streaming

/** The drain-mode rewrite ([[DrainRewrite]]): a fresh-checkpoint
  * single-batch AvailableNow drain of the st5 inner interval join must
  * equal the stateful streaming plan row for row, the fallback
  * preconditions must actually route to the stateful plan, and a spent
  * checkpoint must never silently re-emit.
  */
class DrainRewriteSpec extends graft.SparkSpec {
  import graft.SparkSpec.forcedDistributed
  import graft.exec.PathChoice.IntervalJoin


  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

  test("st5 rewrite drain equals the stateful drain exactly") {
    val fast = rows(EventStream.intervalJoinStreaming(spark, sf001))
    val slow = rows(forcedDistributed(spark)(EventStream.intervalJoinStreaming(spark, sf001)))
    assert(fast.nonEmpty)
    assert(fast == slow)
  }

  test("sk3 rewrite drain equals the stateful foreachBatch drain exactly") {
    // generic getters + schema capture: the two paths must agree on the
    // column NAMES and TYPES as well as the values (the oracle hashes
    // both; nullability is NOT compared — the lazy twin's plan keeps
    // non-null aggregate outputs where the stateful path's parquet
    // round-trip erases them, and the oracle never sees nullability)
    def cells(df: org.apache.spark.sql.DataFrame): (String, Seq[(Long, Long, Long)]) =
      (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.collect().map(r => (Seq(0, 1, 2).map(i => r.get(i) match {
          case i: Int => i.toLong
          case l: Long => l
        })) match { case Seq(a, b, c) => (a, b, c) }).sorted.toSeq)
    val (fastSchema, fast) = cells(SketchStream.countMinStreaming(spark, sf001))
    val (slowSchema, slow) =
      cells(forcedDistributed(spark)(SketchStream.countMinStreaming(spark, sf001)))
    assert(fast.nonEmpty)
    assert(fast == slow)
    assert(fastSchema == slowSchema)
  }

  // generic fast-vs-stateful comparator: same column names+types, same
  // row multiset (both sides are then also pinned by the DuckDB oracle)
  private def snap(df: org.apache.spark.sql.DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq,
      df.collect().map(_.toString).sorted.toSeq)
  private def assertSameDrain(fast: org.apache.spark.sql.DataFrame,
      slow: org.apache.spark.sql.DataFrame, allowEmpty: Boolean = false): Unit = {
    val (fs, fr) = snap(fast)
    val (ss, sr) = snap(slow)
    assert(fs == ss)
    assert(allowEmpty || fr.nonEmpty)
    assert(fr == sr)
  }

  test("st0 rewrite drain equals the stateful Complete-mode window agg exactly") {
    assertSameDrain(EventStream.windowAggStreaming(spark, sf001),
      forcedDistributed(spark)(EventStream.windowAggStreaming(spark, sf001)))
  }

  test("st8 rewrite drain equals the stateful enrichment drain exactly") {
    assertSameDrain(EventStream.streamStaticEnrich(spark, sf001),
      forcedDistributed(spark)(EventStream.streamStaticEnrich(spark, sf001)))
  }

  test("sk5 rewrite drain equals the stateful HLL register drain exactly") {
    assertSameDrain(SketchStream.hllStreaming(spark, sf001),
      forcedDistributed(spark)(SketchStream.hllStreaming(spark, sf001)))
  }

  test("st6 rewrite drain equals the stateful sessionizer exactly") {
    assertSameDrain(EventStream.sessionizeStreamingFromDir(spark, sf001, 30),
      forcedDistributed(spark)(EventStream.sessionizeStreamingFromDir(spark, sf001, 30)))
  }

  test("st7 rewrite drain equals the stateful event-time-timeout sessionizer exactly") {
    assertSameDrain(
      EventStream.sessionizeStreamingEventTimeFromDir(spark, sf001, 30),
      forcedDistributed(spark)(EventStream.sessionizeStreamingEventTimeFromDir(spark, sf001, 30)))
  }

  test("st6/st7 twins match the stateful drains on adversarial session shapes") {
    // boundary semantics the sf001 table may not exercise: ts ties broken
    // by event_id, out-of-order file rows, a gap of EXACTLY the threshold
    // (not a break — strictly-greater), a session ending exactly gap
    // before the global max (st7: closes, end+gap <= wm), a user whose
    // last event IS the global max (st7: stays open; st6: emitted unless
    // it's their only session), and single-session users (st6: nothing)
    import spark.implicits._
    val gapMs = 30 * 60000L
    val base = 1700000000000L
    def ev(id: Long, uid: Long, t: Long) = (id, new java.sql.Timestamp(t), uid,
      "click", 1.0, "{}")
    val rows = Seq(
      // user 1: two sessions; second ends exactly gap before max → both close in st7
      ev(1, 1, base), ev(2, 1, base + 1000),
      ev(3, 1, base + 1000 + gapMs + 1), // breaks (gap exceeded by 1ms)
      // user 2: gap EXACTLY at threshold — same session (strictly greater breaks)
      ev(4, 2, base), ev(5, 2, base + gapMs),
      // user 3: ts tie with distinct event_ids, then the GLOBAL MAX event
      ev(6, 3, base + 500), ev(7, 3, base + 500),
      ev(8, 3, base + 2 * gapMs + 1000 + gapMs + 1), // their 2nd session holds the max
      // user 4: single event (one session only)
      ev(9, 4, base + 42)
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-twin").toString
    // write SHUFFLED so the stateful iterator sees out-of-order arrival;
    // the drivers' pathGlobFilter matches a leaf FILE named
    // events.parquet (the testdata layout), so promote the single part
    // file to that name
    scala.util.Random.shuffle(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/__stage")
    val part = new java.io.File(s"$dir/__stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    assertSameDrain(EventStream.sessionizeStreamingFromDir(spark, dir, 30),
      forcedDistributed(spark)(EventStream.sessionizeStreamingFromDir(spark, dir, 30)))
    assertSameDrain(
      EventStream.sessionizeStreamingEventTimeFromDir(spark, dir, 30),
      forcedDistributed(spark)(EventStream.sessionizeStreamingEventTimeFromDir(spark, dir, 30)))
  }

  test("a rewritten checkpoint is spent: reruns fail loudly, never re-emit") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-spent")
      .toAbsolutePath.toString + "/c1"
    assert(EventStream.intervalJoinStreaming(spark, sf001, Some(ckpt)).count() > 0)
    // re-draining it — with the rewrite on OR off — must throw, not
    // silently replay the already-emitted matches
    intercept[IllegalStateException](
      EventStream.intervalJoinStreaming(spark, sf001, Some(ckpt)))
    intercept[IllegalStateException](
      forcedDistributed(spark)(EventStream.intervalJoinStreaming(spark, sf001, Some(ckpt))))
  }

  test("prior Spark stream state and rate-capped sources take the stateful plan") {
    // a stateful drain leaves offsets/ behind → the rewrite stands down
    // and Spark's native exactly-once resume owns the checkpoint
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-stateful")
      .toAbsolutePath.toString + "/c1"
    forcedDistributed(spark)(EventStream.intervalJoinStreaming(spark, sf001, Some(ckpt))).count()
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true) ==
      DrainRewrite.Stateful)
    // ...and that route hands the checkpoint to Spark's own recovery
    // rules, which for the drains' append-mode MEMORY sink means Spark
    // itself refuses the rerun — loudly, never a silent re-emit (a
    // durable sink would resume exactly-once here instead)
    intercept[Exception](
      EventStream.intervalJoinStreaming(spark, sf001, Some(ckpt)).count())
    // a rate-capped (multi-batch) source never rewrites, even fresh:
    // across batch boundaries the advanced watermark drops late rows,
    // so the drain is NOT the batch join
    val fresh = java.nio.file.Files.createTempDirectory("graft-drain-fresh")
      .toAbsolutePath.toString + "/c1"
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, fresh, singleBatch = false) ==
      DrainRewrite.Stateful)
    // the path key is read from the PARENT session, so callers/tests can
    // toggle it without reaching into the per-query session clone —
    // neither path above CLAIMED the checkpoint, so it is still fresh
    assert(forcedDistributed(spark)(
      DrainRewrite.decide(IntervalJoin, spark, spark, fresh, singleBatch = true)) ==
      DrainRewrite.Stateful)
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, fresh, singleBatch = true) ==
      DrainRewrite.BatchDrain)
  }

  test("st9 one-shot drain runs the batch twin; its state/output resume incrementally") {
    // NearDupStream's rewrite preserves the ExactlyOnceBatches product:
    // both paths call the SAME processBatch (state first, output,
    // marker), so the twin's artifacts must be indistinguishable to a
    // later incremental run — that, not just the admitted set, is the
    // equality the rewrite claims
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-neardup-twin").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val A = "the quick brown fox jumps over the lazy dog tonight"
    val B = "completely different content about spark shuffles and parquet footers"
    Seq(1L -> A, 2L -> A, 3L -> B).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/feed")
    def runTo(tag: String, feed: String = s"$base/feed") =
      graft.streaming.NearDupStream.run(spark,
        spark.readStream.schema(schema).parquet(feed), "doc_id", "text",
        s"$base/$tag/state", s"$base/$tag/out",
        batchTwin = Some(spark.read.parquet(feed)))
    // auto → twin path; forced distributed → the stateful stream even
    // though a twin was offered (the key is the operator's escape hatch)
    val nTwin = runTo("twin")
    val nSlow = forcedDistributed(spark)(runTo("slow"))
    assert(nTwin == 2 && nSlow == 2)
    def outSet(tag: String) = spark.read.parquet(s"$base/$tag/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outSet("twin") == outSet("slow"))
    // protocol artifacts equal: same schemas, same committed band state
    // (modulo the run-scoped __batch key)
    assert(spark.read.parquet(s"$base/twin/state").schema ==
      spark.read.parquet(s"$base/slow/state").schema)
    assert(spark.read.parquet(s"$base/twin/out").schema ==
      spark.read.parquet(s"$base/slow/out").schema)
    def stateSet(tag: String) = spark.read.parquet(s"$base/$tag/state")
      .select("band", "bucket").as[(Int, String)].collect().toSet
    assert(stateSet("twin") == stateSet("slow"))
    // incremental resume OVER the twin-written state: a new feed's dup
    // of A is suppressed by batch-1's committed bands, the novel doc
    // passes — prior state is judged, so the rewrite stays legal beyond
    // the first run (unlike st5/sk3 it never requires fresh state)
    Seq(4L -> A, 5L -> "yet another unrelated subject entirely here now")
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$base/feed2")
    val n2 = runTo("twin", s"$base/feed2")
    assert(n2 == 1)
    assert(outSet("twin") == Set(1L, 3L, 5L))
  }

  test("BatchDrain decisions claim the checkpoint atomically — no concurrent double-drain") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-claim")
      .toAbsolutePath.toString + "/c1"
    // first decide wins the claim...
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true) ==
      DrainRewrite.BatchDrain)
    // ...so a second drain racing on the same checkpoint (it too saw no
    // offsets) fails loudly instead of emitting a second copy — and the
    // message distinguishes the uncommitted claim (delete-to-retry) from
    // a spent checkpoint (never delete)
    val raced = intercept[IllegalStateException](
      DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true))
    assert(raced.getMessage.contains("UNCOMMITTED drain claim"))
    // the stateful route refuses it too: the claim means a twin may be
    // mid-flight, so no plan may touch the checkpoint
    val statefulRaced = intercept[IllegalStateException](
      forcedDistributed(spark)(
        DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true)))
    assert(statefulRaced.getMessage.contains("UNCOMMITTED drain claim"))
    // commit finalizes the claim: reruns now get the SPENT message (no
    // delete-to-retry — the drained rows were emitted)
    DrainRewrite.commit(spark, ckpt, "spec-fingerprint")
    val spent = intercept[IllegalStateException](
      DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true))
    assert(spent.getMessage.contains("holds no resumable stream state"))
    // legacy markers (pre-claim format, no state field) are committed
    // drains — they must never be told delete-to-retry
    val legacy = java.nio.file.Files.createTempDirectory("graft-drain-legacy")
      .toAbsolutePath
    java.nio.file.Files.write(legacy.resolve("_graft_drain"),
      "{\"drained_by\":\"batch-rewrite\",\"source\":\"x\"}\n".getBytes("UTF-8"))
    val old = intercept[IllegalStateException](
      DrainRewrite.decide(IntervalJoin, spark, spark, legacy.toString, singleBatch = true))
    assert(old.getMessage.contains("holds no resumable stream state"))
  }

  test("a twin failure under runClaimed releases the claim — the retry drains cleanly") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drain-abort")
      .toAbsolutePath.toString + "/c1"
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true) ==
      DrainRewrite.BatchDrain)
    // transient twin failure (executor loss, disk full): the claim must
    // not survive it, or the checkpoint is bricked behind delete-to-retry
    // instructions until an operator hand-deletes the marker
    val boom = intercept[RuntimeException](
      DrainRewrite.runClaimed(spark, ckpt, "fp") {
        throw new RuntimeException("twin lost an executor")
      })
    assert(boom.getMessage.contains("twin lost an executor"))
    // the retry decides cleanly (no marker left), runs, and commits
    assert(DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true) ==
      DrainRewrite.BatchDrain)
    assert(DrainRewrite.runClaimed(spark, ckpt, "fp") { 42 } == 42)
    // ...after which the checkpoint is SPENT as usual
    val spent = intercept[IllegalStateException](
      DrainRewrite.decide(IntervalJoin, spark, spark, ckpt, singleBatch = true))
    assert(spent.getMessage.contains("holds no resumable stream state"))
  }
}
