package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the span that caused it (0 for an op itself). Times are epoch ms.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Engine counts gathered through Spark's public listener API. Only
  * attached in traced runs. Events arrive on Spark's listener thread, so
  * every access is synchronized.
  */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int]) {
    var end: Long = -1L
  }
  final case class Stage(id: Int, submitted: Long, completed: Long)
  final case class Task(stage: Int, launch: Long, runMs: Long,
      inputBytes: Long, inputRows: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, shuffleRecords: Long, spillBytes: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  /** Wait until every started job has ended and the event stream has been
    * quiet for a moment (the listener bus delivers asynchronously).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((jobs.size + stages.size + tasks.size, jobs.exists(_.end < 0)))
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      if (!open && System.currentTimeMillis() - quietSince > 300) return
      Thread.sleep(50)
    }
  }
}

/** Records the benchmark's spans around each call into graft and times
  * every op. Op latency is measured the same way with tracing on or off;
  * only traced runs keep phase spans and attach the engine listener.
  */
final class Recorder(val tracing: Boolean, spark: SparkSession) {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def now(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  val listener: Option[EngineListener] =
    if (tracing) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current: Option[Span] = None

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def add(op: Int, name: String, parent: Int, start: Double, end: Double): Span = {
    val s = Span(nextId, op, name, parent, start, end)
    nextId += 1
    spans += s
    s
  }

  /** Run one op; returns its result and its span. In traced runs every
    * Spark job the op starts carries the op's id as its job group.
    */
  def op[T](index: Int)(body: => T): (T, Span) = {
    if (tracing) spark.sparkContext.setJobGroup(s"op-$index", s"perfbench op $index")
    val placeholder = Span(nextId, index, "op", 0, now(), 0)
    nextId += 1
    current = Some(placeholder)
    val start = now()
    var span = placeholder
    val result = try body finally {
      current = None
      if (tracing) spark.sparkContext.clearJobGroup()
      span = placeholder.copy(start = start, end = now())
      spans += span
    }
    (result, span)
  }

  /** A named phase inside the current op; recorded only when tracing. */
  def phase[T](name: String)(body: => T): T =
    current match {
      case Some(op) if tracing =>
        val start = now()
        val r = body
        add(op.op, name, op.id, start, now())
        r
      case _ => body
    }

  def opSpans: Seq[Span] = spans.filter(_.name == "op").toSeq
}

object Spans {

  /** Duration of `span` not covered by any of `children` (clipped to it). */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.start.max(span.start), c.end.min(span.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = ce.max(b)
      else { covered += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) covered += ce - cs
    span.ms - covered
  }

  /** Adds job and stage spans from the listener under the phase span of
    * the same op that contains their start, so the trace links engine
    * work to the call that caused it. A job belongs to the op named by its
    * job group; jobs without one (stream triggers) to the op whose
    * interval holds their start.
    */
  def withEngine(recorded: Seq[Span], l: EngineListener, firstId: Int): Seq[Span] = {
    var id = firstId
    val out = ArrayBuffer.empty[Span] ++ recorded
    val ops = recorded.filter(_.name == "op")
    val (jobs, stages) = l.synchronized((l.jobs.toList, l.stages.toList))
    val stageParent = scala.collection.mutable.Map.empty[Int, Span]
    jobs.filter(_.end >= 0).sortBy(_.start).foreach { j =>
      ops.find(o => j.group == s"op-${o.op}")
        .orElse(ops.find(o => j.start >= o.start - 1 && j.start <= o.end + 1)).foreach { o =>
        val holders = recorded.filter(s => s.op == o.op && s.name != "op" &&
          j.start >= s.start - 1 && j.start <= s.end + 1)
        val parent = if (holders.isEmpty) o else holders.maxBy(_.start)
        val js = Span(id, o.op, "spark.job", parent.id, j.start.toDouble,
          j.end.toDouble.max(j.start))
        id += 1
        out += js
        j.stages.foreach(s => if (!stageParent.contains(s)) stageParent(s) = js)
      }
    }
    stages.foreach { s =>
      stageParent.get(s.id).foreach { js =>
        out += Span(id, js.op, "spark.stage", js.id, s.submitted.toDouble,
          s.completed.toDouble.max(s.submitted))
        id += 1
      }
    }
    out.toSeq
  }

  /** Median total and self ms per span name, over ops. */
  def summary(all: Seq[Span]): Seq[(String, Double, Double, Int)] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val self = ss.map(s => selfMs(s, children.getOrElse(s.id, Nil)))
      (name, Stats.median(ss.map(_.ms)), Stats.median(self), ss.size)
    }
  }
}
