package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's side of each layer boundary.
  *
  * A span has a name, start and end (ns), its parent (the span open on the
  * same thread when it started) and a request id shared by the spans of
  * one request. Spans are kept in memory and written out with the
  * artifact when the run ends. While a span is open its thread runs Spark
  * jobs under a job group named after it, so [[SparkCounters]] can charge
  * engine work to the span.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, request: Long,
      startNs: Long, endNs: Long, group: String)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String, request: Long = -1L)(body: => T): T = {
    val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption) }
    val group = s"$name#$id"
    stack.set((id, group) :: stack.get)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      stack.get.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      synchronized { spans += Span(id, name, parent.map(_._1).getOrElse(0), request, t0, t1, group) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Job groups of the spans called `name` and of all their descendants. */
  def groupsUnder(name: String): Set[String] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    ss.filter(_.name == name).flatMap(walk).map(_.group).toSet
  }

  /** Duration minus the part of its interval covered by child spans. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var until = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, until); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; until = hi }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6
}

/** Engine counters per job group, from a listener the benchmark
  * registers: jobs, tasks, shuffle bytes (read + written), spill bytes
  * (memory + disk), task run time, input records and output bytes. */
final class SparkCounters extends SparkListener {
  final case class C(jobs: Long = 0, tasks: Long = 0, shuffle: Long = 0, spill: Long = 0,
      runMs: Long = 0, recordsRead: Long = 0, bytesWritten: Long = 0) {
    def +(o: C): C = C(jobs + o.jobs, tasks + o.tasks, shuffle + o.shuffle, spill + o.spill,
      runMs + o.runMs, recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
  }
  private val byGroup = new ConcurrentHashMap[String, C]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def add(g: String, c: C): Unit = byGroup.merge(g, c, (a: C, b: C) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, C(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    add(g, if (m == null) C(tasks = 1) else C(tasks = 1,
      shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled, runMs = m.executorRunTime,
      recordsRead = m.inputMetrics.recordsRead, bytesWritten = m.outputMetrics.bytesWritten))
  }

  /** Sum over the job groups in `groups`. */
  def sum(groups: Set[String]): C =
    byGroup.asScala.collect { case (g, c) if groups(g) => c }.foldLeft(C())(_ + _)
}
