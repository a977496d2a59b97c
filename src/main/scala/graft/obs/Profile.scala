package graft.obs

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.exec.PathChoice

/** What one recorded body cost, layer by layer (see [[Profile.record]];
  * the README's "Profiling" section lists every JSON field). Times are
  * seconds; `build_s + plan_s + exec_s` partitions `wall_s`: `plan_s` is
  * the Catalyst planning of every Dataset action in the window, `exec_s`
  * the final action (the last to start) less its planning, and `build_s`
  * the rest, eager staging jobs included.
  */
final case class Profile(wallS: Double, buildS: Double, planS: Double, execS: Double,
    rows: Option[Long], jobs: Seq[Profile.Job], counts: ListMap[String, Long],
    skips: Map[String, Long], paths: Map[String, Long], stream: ListMap[String, Long]) {

  def json: String = {
    def f(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def q(s: String): String =
      "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    def fields(kvs: Iterable[(String, Any)]): String =
      kvs.map { case (k, v) => q(k) + ":" + v }.mkString(",")
    val jobList = jobs.map(j =>
      s"""{"id":${j.id},"s":${f(j.seconds)},"stages":${j.stages},"desc":${q(j.description)}}""")
    s"""{"wall_s":${f(wallS)},"build_s":${f(buildS)},"plan_s":${f(planS)},""" +
      s""""exec_s":${f(execS)},"rows":${rows.getOrElse("null")},"jobs":${jobs.size},""" +
      s"""${fields(counts)},"skips":{${fields(skips.toSeq.sorted)}},""" +
      s""""paths":{${fields(paths.toSeq.sorted)}},""" +
      s""""stream":{${fields(stream)}},"job_list":${jobList.mkString("[", ",", "]")}}"""
  }
}

object Profile {

  /** One finished Spark job: wall seconds, stage count, description. */
  final case class Job(id: Int, seconds: Double, stages: Int, description: String)

  /** Runs `body` once and returns its result with the profile of
    * everything it ran; `rows` is the result when that is a `count()`.
    * One listener on the shared bus, attached for the call only: the
    * session-scoped `StreamingQueryListener`/`QueryExecutionListener` would
    * miss the streaming drains, which run on sibling sessions
    * ([[graft.streaming.StreamConf]]). The bus is drained before the
    * listener attaches (no stale events) and before the profile is read.
    */
  def record[A](spark: SparkSession)(body: => A): (A, Profile) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val listener = new Recorder
    sc.addSparkListener(listener)
    try {
      val paths0 = PathChoice.counts
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val wallNs = System.nanoTime() - t0
      ListenerBridge.drain(sc)
      val rows = Some(result).collect { case n: Long => n }
      val paths = PathChoice.counts.collect {
        case (k, n) if n > paths0.getOrElse(k, 0L) => k -> (n - paths0.getOrElse(k, 0L))
      }
      (result, listener.profile(t0Ms, wallNs, rows, paths))
    } finally sc.removeSparkListener(listener)
  }

  private val PlanPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private def add(m: mutable.Map[String, Long], k: String, v: Long): Unit =
    m(k) = m.getOrElse(k, 0L) + v

  private final class Recorder extends SparkListener {
    private val jobStarts = mutable.Map.empty[Int, (Long, Int, String)]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val counts = mutable.LinkedHashMap.from(Seq("stages", "tasks",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_memory_bytes",
      "spill_disk_bytes").map(_ -> 0L))
    private val skips = mutable.Map.empty[String, Long]
    private val stream = mutable.LinkedHashMap.empty[String, Long]
    private val actionStarts = mutable.Map.empty[Long, Long]
    // (start ms, planning phases) of each finished Dataset action
    private val actions = mutable.ArrayBuffer.empty[(Long, Seq[QueryPlanningTracker.PhaseSummary])]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a set job description, else the result stage's call site
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      jobStarts(e.jobId) = (e.time, e.stageIds.size, desc.getOrElse(""))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, n, desc) =>
        jobs += Job(e.jobId, (e.time - t) / 1e3, n, desc)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(add(counts, "stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add(counts, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add(counts, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(counts, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(counts, "spill_memory_bytes", m.memoryBytesSpilled)
        add(counts, "spill_disk_bytes", m.diskBytesSpilled)
      }
      // the scheduler reports a named accumulator's non-zero task update
      // here, for exactly the tasks whose updates it merges
      for (a <- e.taskInfo.accumulables; name <- a.name if name.startsWith("graft.skip.");
           n <- a.update.collect { case n: Long => n })
        add(skips, name.stripPrefix("graft.skip."), n)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => actionStarts(s.executionId) = s.time
        case s: SparkListenerSQLExecutionEnd =>
          val start = actionStarts.remove(s.executionId).getOrElse(s.time)
          ListenerBridge.action(s).foreach(t => actions += ((start, PlanPhases.flatMap(t.phases.get))))
        case p: QueryProgressEvent => addProgress(p.progress)
        case _ => ()
      }
    }

    private def addProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
      def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      Seq("batches" -> 1L, "input_rows" -> p.numInputRows,
        "add_batch_ms" -> ms("addBatch"), "trigger_execution_ms" -> ms("triggerExecution"),
        "wal_commit_ms" -> ms("walCommit"), "query_planning_ms" -> ms("queryPlanning"),
        "commit_ms" -> (ms("commitOffsets") + ms("commitBatch"))
      ).foreach { case (k, v) => add(stream, k, v) }
      p.stateOperators.foreach { op =>
        Seq("state_update_ms" -> op.allUpdatesTimeMs, "state_removal_ms" -> op.allRemovalsTimeMs,
          "state_commit_ms" -> op.commitTimeMs, "state_rows_updated" -> op.numRowsUpdated,
          "state_rows_removed" -> op.numRowsRemoved).foreach { case (k, v) => add(stream, k, v) }
        stream("state_rows_total_max") =
          math.max(stream.getOrElse("state_rows_total_max", 0L), op.numRowsTotal)
      }
    }

    def profile(t0Ms: Long, wallNs: Long, rows: Option[Long],
        paths: Map[String, Long]): Profile = synchronized {
      val wall = wallNs / 1e9
      val plan = actions.iterator.flatMap(_._2).map(_.durationMs).sum / 1e3
      val exec = actions.maxByOption(_._1).fold(0.0) { case (startMs, phases) =>
        val planAfterStart = phases.map(p =>
          math.max(0L, p.endTimeMs - math.max(p.startTimeMs, startMs))).sum
        val s = (t0Ms + wallNs / 1e6 - startMs - planAfterStart) / 1e3
        math.min(math.max(0.0, s), math.max(0.0, wall - plan))
      }
      Profile(wall, math.max(0.0, wall - plan - exec), plan, exec, rows,
        jobs.sortBy(_.id).toSeq, ListMap.from(counts), skips.toMap, paths, ListMap.from(stream))
    }
  }
}
