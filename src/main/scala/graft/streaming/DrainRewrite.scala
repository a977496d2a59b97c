package graft.streaming

import org.apache.spark.sql.SparkSession

/** Drain-mode rewrite for AvailableNow streaming queries whose drained
  * result provably equals a batch plan.
  *
  * The stream block of st5's ×100 profile record ([[graft.obs.Profile]],
  * run with the rewrite off) showed its drain cost IS the
  * state-store insert of the full in-window set (3.97M rows / 1.04 GB,
  * 41.7 task-sec of update inside one addBatch) — a cost the
  * exactly-once machinery mandates for RESUMABLE streams, but pure waste
  * for a one-shot drain: an inner stream-stream join drained from a
  * FRESH checkpoint in a SINGLE AvailableNow batch emits exactly the
  * batch join of its sources (every match forms inside the one batch;
  * the watermark only evicts state afterwards). So when those
  * preconditions hold, run the batch twin instead and record the drain
  * in the checkpoint.
  *
  * Preconditions — all checked, fall back to the stateful plan
  * otherwise:
  *  - the path is not forced (`spark.graft.path=distributed`, see
  *    [[graft.exec.PathChoice]]; read from the PARENT session so
  *    callers/tests force it without reaching into the per-query session
  *    clone);
  *  - the checkpoint holds no Spark streaming state (`offsets/` empty or
  *    absent) — a checkpoint with prior progress belongs to Spark's own
  *    recovery rules, and a batch twin could double-emit what earlier
  *    batches already produced. What those rules then do depends on the
  *    SINK: a durable sink resumes exactly-once natively, while the
  *    drain queries' append-mode MEMORY sink does not support recovery
  *    at all, so Spark itself refuses the rerun loudly. Either way the
  *    invariant holds: no path over a used checkpoint can silently
  *    re-emit;
  *  - the caller's source is uncapped (no maxFilesPerTrigger /
  *    maxBytesPerTrigger), so AvailableNow drains in ONE data batch.
  *    This is a caller-declared fact (`singleBatch`), because only the
  *    caller knows its source options. It matters for exactness: across
  *    batch boundaries the advanced watermark DROPS late rows (file
  *    order is not time order), so a multi-batch drain can legally emit
  *    fewer matches than the batch join.
  *
  * Bookkeeping: a rewrite CLAIMS `_graft_drain` under the checkpoint
  * atomically (create-exclusive) the moment [[decide]] chooses
  * BatchDrain — two concurrent drains over the same checkpoint would
  * otherwise both see "no marker, no offsets" and both emit; with the
  * claim, exactly one wins and the loser fails loudly. [[commit]]
  * finalizes the marker (`state: committed`) AFTER the twin's result is
  * materialized. A checkpoint that carries the marker in EITHER state is
  * unusable for another run: committed means SPENT (no Spark state to
  * resume from — re-running anything would re-emit the drained rows);
  * claimed means a drain is in flight or crashed mid-twin, and only the
  * operator can tell which — the error says to delete the marker to
  * retry once no other drain is running. Same crash-safety posture as
  * [[ExactlyOnceBatches]]: no path ever double-emits silently.
  */
object DrainRewrite {

  private val MarkerName = "_graft_drain"

  sealed trait Decision
  /** Fresh checkpoint, single-batch drain: run the batch twin. */
  case object BatchDrain extends Decision
  /** Path forced or Spark state present: run the stateful plan. */
  case object Stateful extends Decision

  private def fs(ss: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(ss.sessionState.newHadoopConf())

  /** Decide how to drain `checkpoint`. Throws on a marker-bearing
    * checkpoint (spent or concurrently claimed — see class doc). A
    * BatchDrain decision has already CLAIMED the marker atomically:
    * the caller must run the twin under [[runClaimed]] (commit on
    * success, claim released on abort). `site` records the choice;
    * `parent` is the caller's session (path source); `ss` the per-query
    * clone (filesystem conf). Drains whose checkpoint is a throwaway UUID
    * no other run can observe claim nothing and ask
    * [[graft.exec.PathChoice.twin]] directly.
    */
  def decide(site: graft.exec.PathChoice.Twin, parent: SparkSession,
      ss: SparkSession, checkpoint: String, singleBatch: Boolean): Decision = {
    val root = new org.apache.hadoop.fs.Path(checkpoint)
    val f = fs(ss, root)
    val marker = new org.apache.hadoop.fs.Path(root, MarkerName)
    if (f.exists(marker)) throw spentOrClaimed(f, marker, checkpoint)
    val offsets = new org.apache.hadoop.fs.Path(root, "offsets")
    val hasSparkState =
      try f.exists(offsets) && f.listStatus(offsets).nonEmpty
      catch { case _: java.io.FileNotFoundException => false }
    if (singleBatch && !hasSparkState && graft.exec.PathChoice.twin(site, parent)) {
      // atomic claim: create-exclusive is the decide/commit race guard.
      // Two concurrent drains both reach this point having seen no
      // marker and no offsets; exactly one claim succeeds, the other
      // fails loudly instead of double-emitting (the lock fence
      // primitive, same as Locks.withLock).
      val won = graft.lake.FsOps.createExclusive(f, marker,
        "{\"drained_by\":\"batch-rewrite\",\"state\":\"claimed\"}\n".getBytes("UTF-8"))
      if (!won) throw spentOrClaimed(f, marker, checkpoint)
      BatchDrain
    } else Stateful
  }

  /** Run a CLAIMED twin to completion: `body`, then [[commit]]. On any
    * failure the claim marker is deleted before rethrowing — a transient
    * twin error (executor loss, disk full) must leave the checkpoint
    * retryable, not bricked behind delete-to-retry instructions until an
    * operator intervenes. Deleting the claim on abort is safe because the
    * rewrite emits nothing durable before commit (callers whose twin DOES
    * write durably — st9 — run under their own exactly-once protocol
    * whose reconcile step owns torn output). The marker here is still in
    * `claimed` state (commit unreached), so only our own claim can be
    * deleted.
    */
  def runClaimed[T](ss: SparkSession, checkpoint: String,
      fingerprint: String)(body: => T): T = {
    val out =
      try body
      catch {
        case e: Throwable =>
          try {
            val root = new org.apache.hadoop.fs.Path(checkpoint)
            fs(ss, root).delete(new org.apache.hadoop.fs.Path(root, MarkerName), false)
          } catch { case cleanup: Throwable => e.addSuppressed(cleanup) }
          throw e
      }
    commit(ss, checkpoint, fingerprint)
    out
  }

  private def spentOrClaimed(f: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path, checkpoint: String): IllegalStateException = {
    // a marker is a CLAIM only when it says so explicitly; legacy
    // markers (no state field) are committed drains, and an unreadable
    // marker defaults to the spent message — "delete to retry" must
    // never be suggested for a checkpoint that may have emitted
    val claimed =
      try {
        val in = f.open(marker)
        try {
          val buf = new Array[Byte](4096) // marker is one short JSON line
          val n = math.max(0, in.read(buf))
          new String(buf, 0, n, "UTF-8").contains("\"state\":\"claimed\"")
        } finally in.close()
      } catch { case _: java.io.IOException => false }
    if (!claimed) new IllegalStateException(
      s"checkpoint $checkpoint was drained by a batch rewrite and holds no " +
        "resumable stream state: use a fresh checkpoint (full recompute), or " +
        s"set ${graft.exec.PathChoice.Key}=distributed from the FIRST run for an " +
        "incrementally-resumable stream")
    else new IllegalStateException(
      s"checkpoint $checkpoint carries an UNCOMMITTED drain claim ($MarkerName): " +
        "another drain is in flight, or a prior one crashed mid-twin. If no other " +
        "drain is running, delete the marker to retry (the crashed run emitted " +
        "nothing durable before commit)")
  }

  /** Finalize a claimed batch drain. Call AFTER the twin's result is
    * safely materialized — a crash before this point leaves the CLAIMED
    * marker in place, so the retry fails loudly with delete-to-retry
    * instructions instead of guessing (see [[decide]]'s claim).
    */
  def commit(ss: SparkSession, checkpoint: String, fingerprint: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(checkpoint)
    val f = fs(ss, root)
    graft.lake.FsOps.mkdirs(f, root)
    // JSON-escape the caller-supplied fingerprint (paths can legally
    // carry quotes/backslashes) so the marker always parses
    val esc = fingerprint.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // atomic publish over the CLAIMED marker: a crash mid-write must
    // leave the parseable claim, not a torn prefix of "committed"
    graft.lake.FsOps.publishSmall(f, new org.apache.hadoop.fs.Path(root, MarkerName),
      s"""{"drained_by":"batch-rewrite","state":"committed","source":"$esc"}\n"""
        .getBytes("UTF-8"))
  }
}
