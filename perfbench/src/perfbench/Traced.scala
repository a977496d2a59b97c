package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.api.JournalWire
import graft.lake.{LakeRepository, Manifest}
import graft.ops.{Diff, EntityAssembly, Explode, Make, MergeDedupe, Stats => FacetStats}
import graft.query.{FtmQuery, Rql}

/** The traced run: per-layer metrics, timed around the calls into each
  * module's public functions from here, never from inside the program.
  *
  * It builds the same base lake as the untraced run (for `lake_ingest`
  * also runs a writer cycle over the wire, so the store carries its
  * small files), then drives each layer directly: `query` (Rql, FtmQuery),
  * `ops` (MergeDedupe, EntityAssembly, Stats, Explode, Make's exports,
  * Diff), `api` (the same reads over HTTP and embedded), `lake` (Journal,
  * flush, merge → compact → vacuum in `Make.optimize` order, Manifest),
  * and the `queries` registry modules. A listener charges Spark's work to
  * the span whose job group it ran under.
  */
final class Traced(spark: SparkSession, args: Main.Args, res: Main.Result,
    art: ObjectNode, w: Workloads) {
  private val sc = spark.sparkContext
  private val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toDouble
  private val counters = new SparkCounters
  private val tr = new Tracer(sc)
  private val lk = w.lk
  private val gen = w.gen
  private val mapper = new ObjectMapper()

  private def put(name: String, v: Double, unit: String): Unit = res.put(name, v, unit)
  private def med(xs: Seq[Double]): Double = Stats.median(xs)
  private def selfMs(name: String): Double = med(tr.named(name).map(tr.selfMs))
  private def durMs(name: String): Double = med(tr.named(name).map(tr.ms))
  private def engine(name: String): counters.C = {
    PerfbenchBridge.drainListeners(sc)
    counters.sum(tr.groupsUnder(name))
  }
  private def check(ok: Boolean, why: => String): Unit = res.op(ok, why)

  def run(): Unit = {
    val t0 = System.nanoTime()
    w.setup()
    val c = lk.client()
    if (args.workload == "lake_ingest") w.cycle(c, 0)
    val repo = new LakeRepository(spark, lk.datasetDir.getPath, LakeGen.Dataset, Lake.Shards)
    val fs = repo.store.root.getFileSystem(spark.sessionState.newHadoopConf())
    // one lookup key and one search page: overheadAndApi repeats them
    // Rounds times, the layer breakdown runs them once; more would not fit
    // the per-run time limit, and per-layer metrics carry no bound
    val r = new Random(args.seed ^ 0x7aceL)
    val id = gen.zipfKeys(r)()
    val page = gen.searches(r)()

    overheadAndApi(repo, id, page)
    sc.addSparkListener(counters)
    readPath(repo, id, page)
    put("lake.store_files", Manifest.liveFiles(fs, repo.store.root).size, "count")
    put("lake.versions", Manifest.presentVersions(fs, repo.store.root).size, "count")
    commitPath(repo, c)
    exports(repo)
    registry()
    spanMetrics()
    art.put("trace_run_s", (System.nanoTime() - t0) / 1e9)
    writeSpans()
  }

  /** Rounds of [[overheadAndApi]]: its figures are medians over them. */
  val Rounds = 3

  /** Traced against untraced, and HTTP against embedded, on the same
    * requests: after one untimed embedded lookup (set-up already warmed
    * the search over HTTP, and a search costs seconds), each round
    * runs the search embedded and over HTTP, one untimed lookup (so every
    * timed lookup follows a lookup), then the lookup embedded with nothing
    * attached, embedded under a span with the engine listener attached,
    * and over HTTP. The order inside each group rotates from round to
    * round, so no variant always runs first. Every reply is checked. */
  private def overheadAndApi(repo: LakeRepository, id: String, s: LakeGen.Search): Unit = {
    def lookup(): Int = repo.query(Rql.parse(Lake.rql(id))).collect().length
    def search(): Seq[String] =
      repo.query(Rql.parse(s.rql, Seq(s.orderProp), Some(LakeGen.PageSize), s.offset)).collect().map(_.id).toSeq
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e6)
    }
    def rotate[T](xs: Seq[T], r: Int): Seq[T] = xs.drop(r % xs.size) ++ xs.take(r % xs.size)
    val plain, traced, embeddedSearch = mutable.ArrayBuffer.empty[Double]
    val searches = Seq[() => Unit](
      () => {
        val (ids, ms) = timed(search())
        check(ids == gen.searchPage(s), s"embedded search $s")
        embeddedSearch += ms
      },
      () => {
        val page = tr.span("api.search")(countBytes(
          lk.client().queryRaw(s.rql, Seq(s.orderProp), Some(LakeGen.PageSize), s.offset).toVector))
        check(page.map(l => mapper.readTree(l).get("id").asText) == gen.searchPage(s), s"http search $s")
      })
    val lookups = Seq[() => Unit](
      () => {
        val (n, ms) = timed(lookup())
        check(n == 1, s"embedded lookup $id: $n docs")
        plain += ms
      },
      () => {
        sc.addSparkListener(counters)
        traced += timed(tr.span("trace.probe")(lookup()))._2
        PerfbenchBridge.drainListeners(sc)
        sc.removeSparkListener(counters)
      },
      () => {
        val lines = tr.span("api.lookup")(countBytes(lk.client().queryRaw(Lake.rql(id)).toVector))
        check(lines.size == 1, s"http lookup $id: ${lines.size} docs")
      })
    lookup()
    (0 until Rounds).foreach { r =>
      rotate(searches, r).foreach(_())
      lookup()
      rotate(lookups, r).foreach(_())
    }
    val o = art.putObject("overhead_rounds_ms")
    Seq("plain_lookup" -> plain.toSeq, "traced_lookup" -> traced.toSeq,
      "http_lookup" -> tr.named("api.lookup").map(tr.ms), "embedded_search" -> embeddedSearch.toSeq,
      "http_search" -> tr.named("api.search").map(tr.ms)).foreach { case (k, xs) =>
      val a = o.putArray(k); xs.foreach(x => a.add(x))
    }
    put("trace.overhead_ratio", med(traced.toSeq) / med(plain.toSeq), "ratio")
    put("api.lookup_overhead_ms", durMs("api.lookup") - med(plain.toSeq), "ms")
    put("api.search_overhead_ms", durMs("api.search") - med(embeddedSearch.toSeq), "ms")
    put("api.response_bytes", replyBytes.toDouble / replies, "bytes")
  }

  private var replyBytes = 0L
  private var replies = 0L
  private def countBytes(lines: Seq[String]): Seq[String] = {
    replyBytes += lines.map(_.getBytes(UTF_8).length + 1L).sum; replies += 1; lines
  }

  /** `query` and read-side `ops`: one lookup and one search decomposed
    * into parse, compile, plan and execution, embedded in this JVM. */
  private def readPath(repo: LakeRepository, id: String, s: LakeGen.Search): Unit = {
    var returned = 0L
    tr.span("lookup", 1) {
      val q = tr.span("query.parse", 1)(Rql.parse(Lake.rql(id)))
      val df = tr.span("query.compile", 1)(FtmQuery.compile(q, repo.live))
      tr.span("query.plan", 1)(df.queryExecution.executedPlan)
      val docs = tr.span("ops.assemble", 1)(EntityAssembly.assemble(df).collect())
      check(docs.length == 1 && docs.head.id == id, s"embedded lookup $id: ${docs.length} docs")
      returned += docs.length
    }
    tr.span("search", 2) {
      val q = tr.span("query.parse", 2)(Rql.parse(s.rql, Seq(s.orderProp), Some(LakeGen.PageSize), s.offset))
      val (page, _) = tr.span("query.compile", 2)(FtmQuery.entityIdPage(q, repo.live))
      tr.span("query.plan", 2)(page.queryExecution.executedPlan)
      val docs = tr.span("search.exec", 2)(repo.query(q).collect())
      check(docs.map(_.id).toSeq == gen.searchPage(s), s"embedded search $s")
      returned += docs.length
    }
    val scanned = engine("lookup").recordsRead + engine("search").recordsRead
    put("query.parse_ms", selfMs("query.parse"), "ms")
    put("query.compile_ms", selfMs("query.compile"), "ms")
    put("query.plan_ms", selfMs("query.plan"), "ms")
    put("query.rows_scanned_per_row_returned", scanned.toDouble / math.max(1L, returned), "ratio")
    put("ops.assemble_ms", selfMs("ops.assemble"), "ms")
    tr.span("ops.live")(MergeDedupe.live(repo.store.raw).write.format("noop").mode("overwrite").save())
    tr.span("ops.stats")(FacetStats.facets(repo.live).collect())
    put("ops.live_ms", selfMs("ops.live"), "ms")
    put("ops.stats_ms", selfMs("ops.stats"), "ms")
  }

  /** `lake` commit path and write-side `ops`: one batch bulk-posted over
    * HTTP, a second written through the journal in this JVM (and also
    * exploded by the Spark path), the flush; then optimize's steps called
    * one by one. */
  private def commitPath(repo: LakeRepository, c: graft.api.ApiLakeRepository): Unit = {
    val httpBatch = gen.ingestBatch(100, Workloads.CycleEntities)
    val viaHttp = gen.jsonl(gen.payloads(httpBatch), LakeGen.cycleTs(0))
    val b0 = lk.ackedBytes
    tr.span("api.bulk")(check(lk.bulk(c, viaHttp) == viaHttp.size, "api bulk"))
    val bulkBytes = lk.ackedBytes - b0
    val batch = gen.ingestBatch(200, Workloads.CycleEntities)
    val embedded = gen.jsonl(gen.payloads(batch), LakeGen.cycleTs(0))
    val inputBytes = bulkBytes + embedded.map(_.getBytes(UTF_8).length + 1L).sum
    tr.span("lake.journal_write")(check(
      JournalWire.writeRows(spark, repo, LakeGen.Dataset, embedded) == embedded.size, "journal write"))
    val session = spark
    import session.implicits._
    val payloads = batch.flatMap(e => e.parts.map { case (_, p) => Explode.EntityPayload(e.id, e.schema, p) })
    tr.span("ops.explode")(Explode.explode(payloads.toDS(), LakeGen.Dataset, "explode_probe", Lake.Shards,
      LakeGen.cycleTs(0)).write.format("noop").mode("overwrite").save())
    put("lake.journal_depth_rows", repo.journal.count().toDouble, "rows")
    tr.span("flush")(repo.flush())
    w.addBatch(httpBatch)
    w.addBatch(batch)
    tr.span("optimize") {
      tr.span("lake.drain")(repo.journal.drain(repo.store))
      tr.span("lake.merge")(repo.store.merge())
      tr.span("lake.compact")(repo.store.compact())
      tr.span("lake.vacuum")(repo.store.vacuum())
    }
    put("api.bulk_ms", durMs("api.bulk"), "ms")
    put("api.bulk_bytes_per_s", bulkBytes / (durMs("api.bulk") / 1000), "bytes/s")
    put("lake.journal_write_ms", durMs("lake.journal_write"), "ms")
    put("lake.flush_ms", durMs("flush"), "ms")
    put("lake.merge_ms", durMs("lake.merge"), "ms")
    put("lake.compact_ms", durMs("lake.compact"), "ms")
    put("lake.vacuum_ms", durMs("lake.vacuum"), "ms")
    put("ops.explode_ms", durMs("ops.explode"), "ms")
    val written = engine("lake.journal_write").bytesWritten + engine("flush").bytesWritten +
      engine("optimize").bytesWritten
    put("lake.bytes_written_per_input_byte", written.toDouble / inputBytes, "ratio")
    put("lake.optimize_rewrite_bytes", engine("optimize").bytesWritten.toDouble, "bytes")
  }

  /** The first (full) entity diff, then one `ExportJob` kind at a time
    * through `Make.make(only = …)`, with the exported row counts checked. */
  private def exports(repo: LakeRepository): Unit = {
    val out = s"${lk.datasetDir.getPath}/_trace_exports"
    val label = tr.span("ops.diff")(Diff.exportDiff(repo.store, out))
    check(label.isDefined, "the first diff of a store wrote nothing")
    put("ops.diff_ms", durMs("ops.diff"), "ms")
    val kinds = Seq("statements" -> "statements.csv", "entities" -> "entities.ftm.json",
      "documents" -> "documents.csv", "statistics" -> "statistics.json", "index" -> "index.json")
    tr.span("make") {
      kinds.foreach { case (k, file) =>
        tr.span(s"ops.export_$k")(Make.make(repo.store, repo.journal, out,
          datasetNameOpt = Some(LakeGen.Dataset), force = true, only = Some(file)))
        put(s"ops.export_${k}_ms", durMs(s"ops.export_$k"), "ms")
      }
    }
    w.checkExports(new java.io.File(out))
  }

  /** `queries`: the registry subset. The digest pass runs first — it is
    * the correctness check and the warm pass — then one timed pass under
    * a span per module. */
  private def registry(): Unit = {
    val expected = Registry.loadExpected(args.expected)
    val digests = Registry.Subset.map(q => q -> Registry.digestOf(spark, Registry.DataDir, q)).toMap
    val timings = Registry.Subset.zipWithIndex.map { case (q, n) =>
      tr.span(Registry.moduleOf(q), n)(Registry.timeOne(spark, Registry.DataDir, q))
    }
    val detail = art.putObject("registry")
    timings.foreach { t =>
      val o = detail.putObject(t.name)
      o.put("module", t.module); o.put("build_s", t.buildS); o.put("plan_s", t.planS)
      o.put("exec_s", t.execS)
    }
    Registry.Subset.foreach { q =>
      val got = digests(q)
      detail.get(q).asInstanceOf[ObjectNode].put("digest", got)
      expected.get(q) match {
        case Some(want) => check(got == want, s"registry $q digest $got, want $want")
        case None => check(ok = false, s"registry $q: no expected digest")
      }
    }
    Registry.modules.map(_._1).foreach { m =>
      val ts = timings.filter(_.module == m)
      put(s"queries.$m.build_s", ts.map(_.buildS).sum, "s")
      put(s"queries.$m.plan_s", ts.map(_.planS).sum, "s")
      put(s"queries.$m.exec_s", ts.map(_.execS).sum, "s")
      val e = engine(m)
      put(s"spark.$m.jobs", e.jobs, "count")
      put(s"spark.$m.tasks", e.tasks, "count")
      put(s"spark.$m.shuffle_bytes", e.shuffle, "bytes")
      put(s"spark.$m.spill_bytes", e.spill, "bytes")
    }
    put("queries.build_s", timings.map(_.buildS).sum, "s")
    put("queries.plan_s", timings.map(_.planS).sum, "s")
    put("queries.exec_s", timings.map(_.execS).sum, "s")
    timings.zipWithIndex.foreach { case (t, n) =>
      val e = counters.sum(tr.all.filter(s => s.name == t.module && s.request == n).map(_.group).toSet)
      val o = detail.get(t.name).asInstanceOf[ObjectNode]
      o.put("jobs", e.jobs); o.put("tasks", e.tasks); o.put("shuffle_bytes", e.shuffle)
      o.put("spill_bytes", e.spill)
    }
  }

  /** Engine counters of the lookup, search, flush, optimize and make
    * spans, with busy ratio = task time ÷ (span time × cores). */
  private def spanMetrics(): Unit =
    Seq("lookup", "search", "flush", "optimize", "make").foreach { s =>
      val e = engine(s)
      val wallMs = tr.named(s).map(tr.ms).sum
      put(s"spark.$s.jobs", e.jobs, "count")
      put(s"spark.$s.tasks", e.tasks, "count")
      put(s"spark.$s.shuffle_bytes", e.shuffle, "bytes")
      put(s"spark.$s.spill_bytes", e.spill, "bytes")
      put(s"spark.$s.busy_ratio", e.runMs / (wallMs * cores), "ratio")
    }

  private def writeSpans(): Unit = {
    val a = art.putArray("spans")
    val t0 = tr.all.map(_.startNs).minOption.getOrElse(0L)
    tr.all.foreach { s =>
      val o = a.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("request", s.request); o.put("start_ms", (s.startNs - t0) / 1e6)
      o.put("end_ms", (s.endNs - t0) / 1e6); o.put("self_ms", tr.selfMs(s))
    }
  }
}
