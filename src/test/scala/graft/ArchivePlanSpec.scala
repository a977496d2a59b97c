package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.lake.Archive
import graft.ops.Documents

class ArchivePlanSpec extends SparkSpec {

  test("archive: content-addressed put/get is idempotent and validated") {
    val dir = Files.createTempDirectory("graft-archive").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val archive = new Archive(fs, root)

    val payload = "hello lakehouse".getBytes("UTF-8")
    val c1 = archive.put(payload)
    val c2 = archive.put(payload) // same content → same key, no rewrite
    assert(c1 == c2 && c1.length == 64)
    assert(archive.get(c1).map(new String(_, "UTF-8")).contains("hello lakehouse"))
    assert(archive.exists(c1))
    assert(archive.get("0" * 64).isEmpty)
    intercept[IllegalArgumentException] { archive.keyPath("not-a-checksum") }
    // ab/cd/ef nesting (reference F9 path convention)
    assert(archive.keyPath(c1).toString.endsWith(
      s"${c1.take(2)}/${c1.slice(2, 4)}/${c1.slice(4, 6)}/$c1"))
    assert(archive.publicUrl("https://x/files", c1).contains(s"/${c1.take(2)}/"))
  }

  test("archive putStream: same address as the byte put, spool never left behind") {
    val dir = Files.createTempDirectory("graft-archive-stream").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val archive = new Archive(fs, root)
    val payload = "streamed blob éé".getBytes("UTF-8")
    val cs = archive.putStream(new java.io.ByteArrayInputStream(payload))
    assert(cs == archive.put(payload)) // identical content address
    assert(archive.get(cs).map(_.toSeq).contains(payload.toSeq))
    // idempotent on re-upload; the hashing spool is always cleaned up
    assert(archive.putStream(new java.io.ByteArrayInputStream(payload)) == cs)
    val leftovers = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".upload-"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("crawl archives files and routes mimetypes to document schemas") {
    val src = Files.createTempDirectory("graft-src")
    Files.createDirectories(src.resolve("sub"))
    Files.write(src.resolve("a.txt"), "plain text".getBytes)
    Files.write(src.resolve("sub/b.pdf"), "%PDF-1.4 fake".getBytes)
    val arDir = Files.createTempDirectory("graft-ar")
    val fs = new Path(arDir.toString).getFileSystem(spark.sessionState.newHadoopConf())
    val archive = new Archive(fs, new Path(arDir.toString))

    val crawled = Documents.crawl(fs, new Path(src.toString), archive)
      .map(f => f.fileName -> f).toMap
    assert(crawled.keySet == Set("a.txt", "b.pdf"))
    assert(crawled("a.txt").schema == "PlainText")
    assert(crawled("b.pdf").schema == "Pages")
    assert(crawled("b.pdf").parentId.startsWith("folder-"))
    assert(archive.exists(crawled("a.txt").checksum))
    // ids are deterministic in (path, checksum)
    assert(crawled("a.txt").id ==
      Documents.fileId("a.txt", crawled("a.txt").checksum))
  }

  test("crawlDistributed: executor fan-out yields the driver loop's exact result set") {
    // a multi-file tree with nesting, an include filter, and duplicate
    // content (two paths, one blob — the content address dedupes)
    val src = Files.createTempDirectory("graft-src-dist")
    Files.createDirectories(src.resolve("sub/deep"))
    Files.write(src.resolve("a.txt"), "alpha".getBytes)
    Files.write(src.resolve("sub/b.pdf"), "%PDF-1.4 fake".getBytes)
    Files.write(src.resolve("sub/deep/c.txt"), "alpha".getBytes) // dup content
    Files.write(src.resolve("skip.bin"), "excluded".getBytes)
    val include = (rel: String) => !rel.endsWith(".bin")

    // driver path
    val ar1 = Files.createTempDirectory("graft-ar-drv")
    val fs = new Path(ar1.toString).getFileSystem(spark.sessionState.newHadoopConf())
    val viaDriver = Documents.crawl(
      fs, new Path(src.toString), new Archive(fs, new Path(ar1.toString)), include)

    // distributed path, forced across several tasks
    val ar2 = Files.createTempDirectory("graft-ar-dist")
    val viaCluster = Documents.crawlDistributed(
      spark, new Path(src.toString), ar2.toString, include, maxTasks = 3)

    // identical CrawledFile sets — ids, checksums, schemas, parents
    assert(viaCluster.toSet == viaDriver.toSet,
      s"driver=${viaDriver.toSet} cluster=${viaCluster.toSet}")
    assert(viaCluster.map(_.path) == viaCluster.map(_.path).sorted)
    assert(viaCluster.size == 3 && !viaCluster.exists(_.path == "skip.bin"))
    // both archives hold the same blobs (dup content → one address)
    val archive2 = new Archive(
      new Path(ar2.toString).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(ar2.toString))
    viaCluster.foreach(f => assert(archive2.exists(f.checksum), f.path))
    assert(viaCluster.map(_.checksum).distinct.size == 2)
    // no spool litter from the concurrent executor puts
    val litter = new java.io.File(ar2.toString).list().filter(_.startsWith(".upload-"))
    assert(litter.isEmpty, litter.mkString(","))
  }

  test("archive fence: concurrent putStream of the same content is race-safe") {
    val dir = Files.createTempDirectory("graft-archive-race").toString
    val root = new Path(dir)
    val payload = ("the same blob " * 1000).getBytes("UTF-8")
    // 8 writers, each with its OWN Archive handle (the executor shape),
    // all publishing the same content address concurrently: exactly one
    // rename wins, every caller gets the checksum, no torn blob, no
    // leftover spools
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val gate = new java.util.concurrent.CyclicBarrier(8)
    val futs = (1 to 8).map { _ =>
      scala.concurrent.Future {
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val a = new Archive(fs, root)
        gate.await()
        a.putStream(new java.io.ByteArrayInputStream(payload))
      }
    }
    val checksums = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(60, "s"))
    pool.shutdown()
    assert(checksums.distinct.size == 1)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val archive = new Archive(fs, root)
    assert(archive.get(checksums.head).map(_.toSeq).contains(payload.toSeq))
    val litter = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(".upload-"))
    assert(litter.isEmpty, litter.mkString(","))
  }

  test("downloadArchive copies blobs to nice paths, skips existing, rejects traversal") {
    import spark.implicits._
    val arDir = Files.createTempDirectory("graft-dl-ar")
    val target = Files.createTempDirectory("graft-dl-out")
    val fs = new Path(arDir.toString).getFileSystem(spark.sessionState.newHadoopConf())
    val archive = new Archive(fs, new Path(arDir.toString))
    val c1 = archive.put("hello world".getBytes)
    val c2 = archive.put("other bytes".getBytes)
    val docs = Seq(
      ("d1", "a.txt", c1, "top/docs"),
      ("d2", "b.txt", c2, null)).toDF("id", "file_name", "content_hash", "path")

    val (done1, skip1) = Documents.downloadArchive(docs, arDir.toString, target.toString)
    assert((done1, skip1) == (2L, 0L))
    assert(new String(Files.readAllBytes(target.resolve("top/docs/a.txt"))) == "hello world")
    assert(new String(Files.readAllBytes(target.resolve("b.txt"))) == "other bytes")

    // idempotent re-run: everything already present
    val (done2, skip2) = Documents.downloadArchive(docs, arDir.toString, target.toString)
    assert((done2, skip2) == (0L, 2L))

    // traversal-unsafe names are SKIPPED (counted, logged), nothing is
    // written outside target — and one hostile imported filename must
    // not abort the export for every other document in the batch
    val evil = Seq(
      ("d3", "pwned.txt", c1, "../escape"),
      ("d5", "ok.txt", c2, "fine")).toDF("id", "file_name", "content_hash", "path")
    val (done3, skip3) =
      Documents.downloadArchive(evil, arDir.toString, target.toString)
    assert((done3, skip3) == (1L, 1L)) // the safe sibling still lands
    assert(new String(Files.readAllBytes(target.resolve("fine/ok.txt"))) == "other bytes")
    assert(!Files.exists(target.getParent.resolve("escape/pwned.txt")))

    // scheme-qualified names would make Hadoop Path resolution REPLACE
    // the target root (new Path(troot, "file:/tmp/x") is absolute) —
    // the ':' reject closes that bypass of the '..' check
    val evilScheme = Seq(("d4", s"file:$arDir/evil-scheme.txt", c1, null))
      .toDF("id", "file_name", "content_hash", "path")
    val (done4, skip4) =
      Documents.downloadArchive(evilScheme, arDir.toString, target.toString)
    assert((done4, skip4) == (0L, 1L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$arDir/evil-scheme.txt")))

    // same destination path claimed by two different checksums: exactly
    // one deterministic winner (smallest hash), the loser is a logged
    // conflict — never a nondeterministic race across runs
    val clash = Seq(
      ("d6", "dup.txt", c1, "clash"),
      ("d7", "dup.txt", c2, "clash")).toDF("id", "file_name", "content_hash", "path")
    val (done5, _) =
      Documents.downloadArchive(clash, arDir.toString, target.toString)
    assert(done5 == 1L)
    val want = new String(
      (if (c1 < c2) "hello world" else "other bytes").getBytes)
    assert(new String(Files.readAllBytes(target.resolve("clash/dup.txt"))) == want)
  }

  test("resolvePaths walks parent chains and survives cycles") {
    import spark.implicits._
    val nodes = Seq(
      ("root", "", "top"),
      ("mid", "root", "docs"),
      ("leaf", "mid", "report.pdf"),
      // a cycle: x -> y -> x
      ("x", "y", "a"), ("y", "x", "b")).toDF("id", "parent", "name0")
      .withColumnRenamed("name0", "name")
      .select($"id", $"name", $"parent")
    val paths = Documents.resolvePaths(nodes, maxDepth = 8)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(paths("leaf") == "top/docs/report.pdf")
    assert(paths("mid") == "top/docs")
    // cycle: bounded, no hang; path contains the loop up to the budget
    assert(paths.contains("x"))
  }

  // ---- physical-plan shape assertions (the explain audit, executable) ----

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  /** For each BroadcastNestedLoopJoin line in the indented plan string,
    * walk its parent chain upward: true if an Aggregate appears before
    * any Exchange — i.e. the broadcast cross product is collapsed by a
    * map-side partial aggregate inside the producing task, and never
    * shuffled in full.
    */
  private def bnljCollapsedBeforeExchange(p: String): Seq[Boolean] = {
    val lines = p.linesIterator.filter(_.trim.nonEmpty).toVector
    def ind(l: String) = l.segmentLength(c => " :+-|".contains(c))
    lines.indices.filter(lines(_).contains("BroadcastNestedLoopJoin")).map { bi =>
      var i = bi
      var cur = ind(lines(bi))
      var verdict: Option[Boolean] = None
      while (i > 0 && verdict.isEmpty) {
        i -= 1
        val li = ind(lines(i))
        if (li < cur) {
          cur = li
          if (lines(i).contains("Aggregate")) verdict = Some(true)
          else if (lines(i).contains("Exchange")) verdict = Some(false)
        }
      }
      verdict.getOrElse(true)
    }
  }

  test("centroid assignment collapses N×nlist map-side before any exchange") {
    // the broadcast-centroid cross product must be argmax-collapsed by a
    // partial aggregate inside the task that produced it — the shuffle
    // then carries one row per vector, not one per (vector, centroid)
    for (q <- Seq("sim4_kmeans_update", "d9_semantic_dedup")) {
      val p = plan(q)
      val flags = bnljCollapsedBeforeExchange(p)
      assert(flags.nonEmpty && flags.forall(identity), s"$q:\n$p")
    }
    // ivfTopK / ivfSq8TopK: corpus side collapsed; the small query side
    // keeps its windowed top-nprobe (keep > 1 has no single-row argmax)
    for (q <- Seq("sim3_ivf_topk", "sim6_ivf_sq8")) {
      val p3 = plan(q)
      assert(bnljCollapsedBeforeExchange(p3).count(identity) >= 1, s"$q:\n$p3")
    }
  }

  test("s1_scan pushes its filter and prunes columns at the parquet scan") {
    val p = plan("s1_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    // only the 4 needed columns reach the reader
    assert(p.contains("ReadSchema") && !p.contains("l_comment") && !p.contains("l_extendedprice"), p)
  }

  test("q2_star_join broadcasts every dimension") {
    val p = plan("q2_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o4_global_topk plans a distributed top-k, not a global sort") {
    val p = plan("o4_global_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j1_semi_join: AQE converts the unhinted semi-join to broadcast at small size") {
    // no static broadcast() hint on the filtered-fact build side — AQE
    // must measure it small at runtime and convert; at 100 TB with a
    // wide-matching filter the same plan degrades to a shuffle join
    // instead of OOMing on an honored hint
    val df = SparkEntry.queries("j1_semi_join")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("a1_merge_dedupe plans one pass per branch with the rank-limit pushdown") {
    val p = plan("a1_merge_dedupe")
    // the one-pass window form is the MEASURED production choice (see
    // MergeDedupe's class doc: the skew-safe aggregation form costs
    // 1.5-3.6× on realistic shapes); WindowGroupLimit = Catalyst
    // pre-filters each group to the top row before the full window
    // evaluation (rank pushdown for rn = 1)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Window"), p)
    // no diamond: the aggregation form's join-back is gone — one scan,
    // no join anywhere in a plain canonicalize read
    assert(!p.contains("min_by"), p)
  }

  test("LSH candidate generation never plans a cartesian pair space") {
    val p = plan("d2b_lsh_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cur1_source_cap: per-source rank window with group-limit pushdown") {
    val p = plan("cur1_source_cap")
    // WindowGroupLimit pre-filters each source to its top rows before the
    // full window — the cap never materializes a whole source's ranking
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("d9_semantic_dedup: bounded centroid cross-join, per-cluster loop, no pair blowup") {
    val p = plan("d9_semantic_dedup")
    // the only nested-loop join is the broadcast against the nlist-bounded
    // centroid set (intentional); the within-cluster prune is the typed
    // per-group loop after ONE shuffle on the cluster id — no join-based
    // pair space at all. (The final keep-flag join is deliberately
    // unhinted — dropped-id side is unbounded at 100 TB, AQE decides.)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("MapGroups"), p)
  }

  test("x2_xref_scores: block-bounded pair loop, no cartesian scoring joins") {
    val p = plan("x2_xref_scores")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("MapGroups"), p)
  }

  test("d10/cur2: corpus joins resolve to broadcasts, the corpus never shuffles for them") {
    // d10: the hot-chunk set (bounded by corpus/maxDocFreq) must arrive
    // broadcast; cur2: the rates table (mixture cardinality) likewise —
    // in both, the only corpus exchanges are the aggregation/sort ones
    for (q <- Seq("d10_boilerplate_scrub", "cur2_mixture_sample")) {
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("live-view scan keeps the tombstone filter pushdown-eligible") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan-live").toString
    val store = new graft.lake.StatementStore(spark, tmp, 4)
    store.append(graft.lake.EventStatements.statements(Tables.events(spark, sf001)))
    val p = store.live.filter(col("prop") === "click")
      .queryExecution.executedPlan.toString
    // windowless view: both predicates reach the parquet reader
    assert(p.contains("PushedFilters") && p.contains("IsNull(deleted_at)"), p)
    assert(p.contains("EqualTo(prop,click)"), p)
    assert(!p.contains("Window"), p)
  }

  test("entity-grain prop-filter semi-join is AQE-chosen, not hint-forced") {
    import graft.query.FtmQuery
    import graft.query.FtmQuery._
    import org.apache.spark.sql.functions.col
    val live = graft.ops.MergeDedupe.live(
      graft.lake.EventStatements.statements(Tables.events(spark, sf001)))
    val df = FtmQuery.compile(
      Query(propFilters = Seq(P("click", GteOp, Seq("50")))), live)
    // no static hint anywhere in the analyzed plan: the id side is
    // unbounded, the join strategy must be a runtime decision
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      df.queryExecution.analyzed.toString)
    df.collect()
    // at this scale AQE promotes the small id side to a broadcast join
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin") && finalPlan.contains("LeftSemi"),
      finalPlan)
  }

  test("resolvePaths output has bounded lineage: no join pyramid in the final plan") {
    import spark.implicits._
    val nodes = Seq(
      ("root", "", "top"), ("mid", "root", "docs"), ("leaf", "mid", "x"))
      .toDF("id", "parent", "name")
      .select($"id", $"name", $"parent")
    val resolved = Documents.resolvePaths(nodes, maxDepth = 8)
    // the parents-only closure is staged per iteration, so the returned
    // plan is exactly ONE join: corpus × closed-ancestor-paths (broadcast
    // at this size) — depth-independent, no nested join pyramid, and the
    // corpus is scanned exactly once
    val p = resolved.queryExecution.executedPlan.toString
    assert(p.sliding("HashJoin".length).count(_ == "HashJoin") == 1, p)
    assert(p.linesIterator.count(_.contains("LocalTableScan")) == 1, p)
  }
}
