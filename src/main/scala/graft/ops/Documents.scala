package graft.ops

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.FtmModel

/** Document/crawl operations (reference S16 crawl, J4 folder-path
  * resolution, F10 mime routing, F11 file/folder id synthesis).
  */
object Documents {

  private def sha1Hex(parts: String*): String =
    MessageDigest.getInstance("SHA-1")
      .digest(parts.mkString("").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** F11: deterministic ids from path/checksum and name/parent. */
  def fileId(path: String, checksum: String): String = s"file-${sha1Hex(path, checksum)}"
  def folderId(name: String, parent: String): String = s"folder-${sha1Hex(name, parent)}"

  case class CrawledFile(
      id: String, fileName: String, path: String, checksum: String,
      size: Long, mimeType: String, schema: String, parentId: String)

  /** One listed file awaiting archive: absolute URI (openable from any
    * node), dataset-relative path, and size from the listing metadata.
    */
  case class CrawlTask(uri: String, rel: String, size: Long)

  /** The driver-side LISTING half of a crawl: cheap recursive metadata
    * walk, `include` applied to the relative path. Blob IO happens in
    * [[crawl]] (driver loop, small trees) or [[crawlDistributed]]
    * (executor fan-out, the 100 TB path).
    */
  def listCrawl(fs: FileSystem, src: Path,
      include: String => Boolean = _ => true): Seq[CrawlTask] = {
    val out = scala.collection.mutable.ListBuffer.empty[CrawlTask]
    val it = fs.listFiles(src, true)
    val base = src.toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      if (st.isFile && include(rel))
        out += CrawlTask(st.getPath.toString, rel, st.getLen)
    }
    out.toList
  }

  /** Entity descriptor for one archived file (shared by both crawl
    * forms): mime from the extension, FtM schema from the mime, parent
    * folder id from the relative path.
    */
  private def describe(rel: String, size: Long, checksum: String): CrawledFile = {
    val name = rel.split('/').last
    val mime = mimeFor(name)
    val parentRel = rel.split('/').dropRight(1).mkString("/")
    val parent =
      if (parentRel.isEmpty) "" else folderId(parentRel.split('/').last, parentRel)
    CrawledFile(fileId(rel, checksum), name, rel, checksum,
      size, mime, FtmModel.schemaForMime(mime), parent)
  }

  /** S16: walk a filesystem prefix, archive every file, and emit File
    * entity descriptors routed to FtM document schemas by extension-based
    * mime sniffing. This is the SINGLE-NODE form (the reference's own
    * loop, operation/crawl.py:91-172): every blob streams through the
    * caller's process. Use [[crawlDistributed]] when the tree is big —
    * same result set, cluster-aggregate IO bandwidth.
    */
  def crawl(fs: FileSystem, src: Path, archive: graft.lake.Archive,
      include: String => Boolean = _ => true): Seq[CrawledFile] =
    listCrawl(fs, src, include).map { t =>
      // streamed into the archive spool while hashing — a multi-GB
      // crawled file must not materialize as a byte[] on the driver
      // (size comes from the FileStatus, not a buffered copy)
      val in = fs.open(new Path(t.uri))
      val checksum = try archive.putStream(in) finally in.close()
      describe(t.rel, t.size, checksum)
    }

  /** [[crawl]] with the blob IO fanned out across the cluster: the
    * driver keeps the cheap metadata listing, then the (path) list
    * partitions across executors and each task streams its files into
    * the content-addressed archive — hash-and-spool runs where the task
    * runs, so ingest bandwidth is the cluster's aggregate, not one
    * driver NIC (the mirror image of [[downloadArchive]]'s fan-out).
    * Tasks ship the SESSION'S Hadoop conf (credentials, fs impls) the
    * same way downloadArchive does; concurrent puts of the same content
    * are safe — the archive's spool-then-rename publish is idempotent
    * per checksum, whichever task wins the rename. `include` runs on the
    * driver during listing, so it needn't be serializable.
    *
    * Returns the same CrawledFile set as [[crawl]], sorted by path (the
    * result is entity METADATA — O(files), driver-collectable; the blob
    * bytes never leave the executors).
    */
  def crawlDistributed(spark: org.apache.spark.sql.SparkSession, src: Path,
      archiveRoot: String, include: String => Boolean = _ => true,
      maxTasks: Int = 0): Seq[CrawledFile] = {
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val tasks = listCrawl(fs, src, include)
    if (tasks.isEmpty) return Nil
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val slices = math.max(1, math.min(
      if (maxTasks > 0) maxTasks else spark.sparkContext.defaultParallelism * 2,
      tasks.size))
    spark.sparkContext.parallelize(tasks, slices)
      .mapPartitions { ts =>
        val conf = serConf.value
        val aroot = new Path(archiveRoot)
        val archive = new graft.lake.Archive(aroot.getFileSystem(conf), aroot)
        ts.map { t =>
          val p = new Path(t.uri)
          val in = p.getFileSystem(conf).open(p)
          val checksum = try archive.putStream(in) finally in.close()
          describe(t.rel, t.size, checksum)
        }
      }
      .collect().toSeq.sortBy(_.path)
  }

  /** Crawled files (+ their ancestor directories as Folder entities,
    * chained by `parent`) as entity payloads for the statement import
    * path — the `make_entities` half of the reference's crawl operation
    * (cli/crawl.py:27-29 → operation/crawl.py): file props fileName /
    * contentHash / mimeType / fileSize / parent, so [[documentsTable]]
    * and J4 path resolution work on the result unchanged.
    */
  def crawlPayloads(crawled: Seq[CrawledFile]): Seq[Explode.EntityPayload] = {
    val files = crawled.map { f =>
      val base = Map(
        "fileName" -> Seq(f.fileName),
        "contentHash" -> Seq(f.checksum),
        "mimeType" -> Seq(f.mimeType),
        "fileSize" -> Seq(f.size.toString))
      val withParent =
        if (f.parentId.nonEmpty) base + ("parent" -> Seq(f.parentId)) else base
      Explode.EntityPayload(f.id, f.schema, withParent)
    }
    val dirs = crawled.map(_.path.split('/').dropRight(1)).filter(_.nonEmpty)
      .flatMap(parts => (1 to parts.length).map(i => parts.take(i).toSeq))
      .distinct
    val folders = dirs.map { parts =>
      val rel = parts.mkString("/")
      val base = Map("fileName" -> Seq(parts.last))
      val withParent =
        if (parts.length > 1)
          base + ("parent" ->
            Seq(folderId(parts(parts.length - 2), parts.dropRight(1).mkString("/"))))
        else base
      Explode.EntityPayload(folderId(parts.last, rel), "Folder", withParent)
    }
    files ++ folders
  }

  /** F10-adjacent: extension → mimetype (content sniffing would slot in
    * here; the schema routing goes through FtmModel.schemaForMime).
    */
  def mimeFor(name: String): String = {
    // a dot-less name has NO extension: without the guard, a file
    // literally named "pdf" would read its whole name as the extension
    // and route a non-PDF blob into the Pages ingest path
    val dot = name.lastIndexOf('.')
    val ext = if (dot < 0) "" else name.substring(dot + 1).toLowerCase
    ext match {
      case "pdf" => "application/pdf"
      case "txt" | "text" => "text/plain"
      case "html" | "htm" => "text/html"
      case "csv" => "text/csv"
      case "png" => "image/png"
      case "jpg" | "jpeg" => "image/jpeg"
      case "mp3" => "audio/mpeg"
      case "mp4" => "video/mp4"
      case "eml" => "message/rfc822"
      case _ => "application/octet-stream"
    }
  }

  /** Document table for export (reference repository/documents.py:88-129):
    * one row per live Document-schema entity carrying a `contentHash`,
    * excluding Folders, with folder paths resolved via the parent chain
    * (J4) and `public_url` attached when a prefix is configured (J6/F14).
    *
    * `live` is statement-grain; the fold to document-grain is one
    * aggregation keyed on entity_id. Folder path resolution runs over the
    * folder entities only — a tiny fraction of a document corpus.
    */
  def documentsTable(live: DataFrame, publicUrlPrefix: Option[String] = None,
      folderSource: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_set, min, when, concat_ws, lit, udf}
    val docSchemas = (FtmModel.descendants("Document") - "Folder").toSeq
    def prop(p: String) = min(when(col("prop") === p, col("value")))
    // schema resolution matches A4 entity assembly (FtmModel.mostSpecific
    // over the entity's schema set): a nondeterministic first() would
    // flap the byte-reproducible documents.csv between identical runs
    // whenever an entity carries statements under two document schemas,
    // and disagree with the assembled entity. Evaluated once per
    // DOCUMENT ENTITY on the post-aggregation row, not per statement —
    // outside any corpus-scan hot path.
    val mostSpecificSchema =
      udf((ss: scala.collection.immutable.Seq[String]) => FtmModel.mostSpecific(ss.toSet))
    val docs = live.filter(col("schema").isin(docSchemas: _*))
      .groupBy(col("entity_id").as("id"))
      .agg(
        mostSpecificSchema(collect_set(col("schema"))).as("schema"),
        prop("fileName").as("file_name"),
        prop("mimeType").as("mime_type"),
        prop("fileSize").as("size"),
        prop("contentHash").as("content_hash"),
        prop("parent").as("parent"))
      .filter(col("content_hash").isNotNull)
    // folderSource: callers whose `live` view is scoped to a subset of
    // documents (the incremental diff) must supply the folder entities
    // separately, or path resolution silently finds nothing
    val folders = folderSource.getOrElse(live).filter(col("schema") === "Folder")
      .groupBy(col("entity_id").as("id"))
      .agg(prop("fileName").as("name"), prop("parent").as("parent"))
    val paths = resolvePaths(folders).withColumnRenamed("id", "parent")
    val withPath = docs.join(paths, Seq("parent"), "left_outer")
    val withUrl = publicUrlPrefix match {
      case Some(prefix) => withPath.withColumn("public_url",
        concat_ws("/", lit(prefix.stripSuffix("/")),
          col("content_hash").substr(1, 2), col("content_hash").substr(3, 2),
          col("content_hash").substr(5, 2), col("content_hash"), lit("blob")))
      case None => withPath.withColumn("public_url", lit(null).cast("string"))
    }
    withUrl.select(
      col("id"), col("schema"), col("file_name"), col("mime_type"),
      col("size"), col("content_hash"), col("path"), col("public_url"))
  }

  /** Download archived blobs into `targetRoot` under their resolved
    * document paths (reference operation/download.py
    * `DownloadArchiveOperation`: archive → target with "nice paths" from
    * the documents export; files already present are skipped). Input is
    * the [[documentsTable]] shape (`file_name`, `content_hash`, `path`).
    * Returns (downloaded, skipped).
    *
    * Scale shape: the reference loops the copy on one node; here the
    * (path, checksum) list partitions across the cluster and each task
    * copies its files via the Hadoop FS API — the fan-out is the
    * cluster's aggregate IO bandwidth, not a driver loop. Traversal-unsafe
    * names are skipped in-task (counted + logged, nothing written outside
    * the target; name validation mirrors the reference's boundary checks,
    * tests/test_security_origin_checksum_validation.py) — one hostile
    * imported filename must not abort the export for every other document.
    */
  def downloadArchive(docs: DataFrame, archiveRoot: String,
      targetRoot: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, concat_ws, countDistinct, min}
    val spark = docs.sparkSession
    val done = spark.sparkContext.longAccumulator("graft_download_done")
    val skipped = spark.sparkContext.longAccumulator("graft_download_skipped")
    // executor tasks must see the SESSION'S Hadoop conf: a bare
    // `new Configuration()` drops every spark.hadoop.* setting —
    // object-store credentials, registered fs implementations — so the
    // job would fail auth on a real deployment while passing locally
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    docs
      .filter(col("content_hash").isNotNull && col("file_name").isNotNull)
      .select(
        concat_ws("/", col("path"), col("file_name")).as("rel"),
        col("content_hash"))
      // ONE writer per destination path, deterministically: two documents
      // resolving to the same rel with DIFFERENT hashes would race the
      // rename and the loser would be miscounted as "already present" on
      // some runs and win on others — pick the smallest hash (stable
      // across runs) and log the collision in-task
      .groupBy(col("rel")).agg(
        min(col("content_hash")).as("content_hash"),
        countDistinct(col("content_hash")).as("__nhash"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conf = serConf.value
        val aroot = new org.apache.hadoop.fs.Path(archiveRoot)
        val troot = new org.apache.hadoop.fs.Path(targetRoot)
        val afs = aroot.getFileSystem(conf)
        val tfs = troot.getFileSystem(conf)
        val buf = new Array[Byte](256 * 1024)
        rows.foreach { r =>
          val rel = r.getString(0)
          val checksum = r.getString(1)
          if (r.getLong(2) > 1) System.err.println(
            s"[download] $rel: ${r.getLong(2)} conflicting checksums share " +
              "this path — exporting the smallest")
          // path traversal guard: document names come from imported data.
          // '..' segments climb out of targetRoot; a ':' anywhere makes
          // Hadoop Path read the name as a scheme-qualified URI whose
          // absolute part REPLACES targetRoot on resolution
          // (new Path(troot, "file:/etc/x") ignores troot). An unsafe
          // name is SKIPPED, not fatal: one hostile (or merely
          // colon-carrying) imported filename must not permanently abort
          // the whole archive export for everyone
          val safe = !rel.split('/').contains("..") && !rel.startsWith("/") &&
            !rel.contains(":")
          if (!safe) {
            System.err.println(s"[download] skipping unsafe document path: $rel")
            skipped.add(1)
          } else {
            val dest = new org.apache.hadoop.fs.Path(troot, rel)
            // post-resolution escape after the guard would be a code bug,
            // not bad data — this one stays fatal
            require(dest.toString.startsWith(troot.toString + "/"),
              s"unsafe document path resolution: $rel")
            if (tfs.exists(dest)) skipped.add(1)
            else {
              val src = new org.apache.hadoop.fs.Path(aroot, graft.lake.Archive.blobRel(checksum))
              tfs.mkdirs(dest.getParent)
              // write-then-rename: a killed task never leaves a torn file
              // that a retry (or a later run's exists-check) would trust;
              // the outer finally reclaims the spool on ANY failure (a
              // missing blob, a mid-copy IO error) instead of littering
              // the user-visible target tree with dot-tmp files per retry
              val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
                s".${dest.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
              try {
                val in = afs.open(src)
                try {
                  val out = tfs.create(tmp, true)
                  try {
                    var n = in.read(buf)
                    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
                  } finally out.close()
                } finally in.close()
                if (tfs.rename(tmp, dest)) done.add(1)
                else if (tfs.exists(dest)) skipped.add(1) // concurrent winner
                else throw new IllegalStateException(s"download rename failed: $rel")
              } finally tfs.delete(tmp, false) // no-op when the rename consumed it
            }
          }
        }
      }
    (done.value, skipped.value)
  }

  /** J4: resolve each node's path to the root by iterating a self-join to
    * fixpoint (bounded depth, cycle-safe: a cycle stops extending once the
    * hop budget is spent). `nodes` needs (id, name, parent) where parent
    * is empty/null at roots (reference walk: repository/documents.py:53-86).
    *
    * Scale shape: the join side is the *parent candidates only* (nodes
    * referenced as someone's parent — folders, a tiny fraction of a
    * document corpus), staged once; AQE broadcasts it when it fits. The
    * frontier (rows still walking) is re-materialized each iteration, so
    * lineage stays one-join deep — no O(depth²) recompute, no nested
    * BroadcastHashJoin pyramid — and shrinks as chains complete, so each
    * iteration touches only unresolved rows.
    */
  def resolvePaths(nodes: DataFrame, maxDepth: Int = 32): DataFrame = {
    import graft.functions.F
    val hasCursor = col("cursor").isNotNull && col("cursor") =!= ""
    // nodes referenced as someone's parent — the folder set, a tiny
    // fraction of a document corpus. Only THIS set is ever iterated; the
    // full corpus is touched exactly once, by the final join below.
    val parents = F.materialize(
      nodes.join(
        nodes.filter(col("parent").isNotNull && col("parent") =!= "")
          .select(col("parent").as("id")).distinct(),
        Seq("id"), "left_semi")
        .select(col("id"), col("name"), col("parent")))
    val lookup = parents.select(col("id").as("cursor"),
      col("name").as("__pname"), col("parent").as("__pparent"))

    // close ancestor paths to the root over the parents-only table:
    // anc(id) = root-to-node path of that parent node. Per-iteration
    // state is re-staged so lineage stays one join deep; cycles stop
    // extending once the hop budget is spent and resolve with the
    // accumulated path. Resolved rows LEAVE the loop: each round stages
    // only the still-walking frontier (that round's real work), so a
    // deep hierarchy pays O(frontier) stage IO per level instead of
    // re-writing every already-resolved path at every depth. The
    // resolved slices are filters over the per-round stage tables —
    // flat lineage, one parquet read each — unioned once at the end;
    // the walk count rides each stage write (observe), one job per
    // round, no standalone pre-loop jobs.
    val anc = {
      val resolvedParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val initial = parents.select(
        col("id"), col("name").cast("string").as("path"), col("parent").as("cursor"))
      resolvedParts += initial.filter(!hasCursor)
      var frontier = initial.filter(hasCursor)
      var depth = 0
      var walking = Long.MaxValue
      while (depth < maxDepth && walking > 0) {
        val (staged, stillWalking) = F.materializeObserved(
          frontier
            .join(lookup, Seq("cursor"), "left_outer")
            .withColumn("path",
              when(col("__pname").isNotNull, concat(col("__pname"), lit("/"), col("path")))
                .otherwise(col("path")))
            .withColumn("cursor",
              when(col("__pname").isNotNull, col("__pparent")).otherwise(lit(null)))
            .drop("__pname", "__pparent"),
          sum(when(hasCursor, 1L).otherwise(0L)))
        resolvedParts += staged.filter(!hasCursor)
        frontier = staged.filter(hasCursor)
        walking = stillWalking
        depth += 1
      }
      // hop-budget-exhausted cycle rows resolve with their accumulated
      // path, exactly as before — they ride along as the final slice
      (resolvedParts.toSeq :+ frontier).reduce(_ unionByName _)
    }

    // every node resolves with a single join against the closed ancestor
    // paths — no per-level pass over the corpus; AQE broadcasts the closed
    // side when it fits
    nodes
      .join(anc.select(col("id").as("parent"), col("path").as("__ppath")),
        Seq("parent"), "left_outer")
      .select(col("id"),
        when(col("__ppath").isNotNull && col("parent").isNotNull && col("parent") =!= "",
          concat(col("__ppath"), lit("/"), col("name")))
          .otherwise(col("name").cast("string")).as("path"))
  }
}
