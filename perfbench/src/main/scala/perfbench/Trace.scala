package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a layer call made by the benchmark. All spans
  * of one operation share `traceId`; `parent` is 0 for an operation's
  * root span. Times are epoch microseconds. */
final case class Span(id: Long, traceId: Long, parent: Long, name: String,
                      start: Long, end: Long)

object Span {
  /** Self time of each span: its duration minus the part of it that
    * its direct children cover (children are clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.coveredWithin(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** A finished Spark job and the accumulators of the stages it ran.
  * Times are epoch microseconds (Spark reports milliseconds). */
final case class JobRec(id: Int, group: String, start: Long, end: Long,
                        stages: Seq[StageAcc])

final case class StageAcc(tasks: Int, runMs: Long, shuffleBytes: Long,
                          spillBytes: Long, durations: Seq[Long]) {
  /** Slowest task over the median task; 1 when the stage is even. */
  def skew: Double = {
    val med = Stats.median(durations.map(_.toDouble))
    if (durations.length < 2 || med <= 0) 1.0 else durations.max / med
  }
}

/** Jobs, stages and tasks attributed to spans through the job group
  * the tracer sets while a span is open. Events arrive on Spark's
  * listener bus thread, so every access is synchronized. */
final class SpanListener extends SparkListener {
  private final class Acc {
    var tasks = 0; var runMs = 0L; var shuffle = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val starts = mutable.LinkedHashMap.empty[Int, (String, Long, Seq[Int])]
  private val ends = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.HashMap.empty[Int, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    starts(e.jobId) = (group, e.time * 1000L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ends(e.jobId) = e.time * 1000L
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate(e.stageId, new Acc)
    acc.tasks += 1
    acc.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      acc.runMs += m.executorRunTime
      acc.shuffle += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def endedGroup(group: String): Boolean = synchronized {
    starts.exists { case (id, (g, _, _)) => g == group && ends.contains(id) }
  }

  /** Every finished job; stages that ran no task (skipped) are left out. */
  def finishedJobs: Seq[JobRec] = synchronized {
    starts.toSeq.collect { case (id, (g, st, stageIds)) if ends.contains(id) =>
      JobRec(id, g, st, ends(id), stageIds.flatMap(stages.get).map(a =>
        StageAcc(a.tasks, a.runMs, a.shuffle, a.spill, a.durations.toSeq)))
    }
  }
}

/** Spans around the benchmark's calls into graft. Disabled, `span`
  * only runs its body: no job group is set and no listener is
  * registered, so untraced timings carry no tracing cost. Enabled,
  * each span sets the Spark job group `span-<id>` for the jobs its
  * body submits and keeps the span in memory until [[writeJson]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long, String, Long)] = Nil // (id, trace, name, start)
  private var nextId = 1L
  private var nextTrace = 1L
  private var suspended = false

  /** Runs `body` with no spans opened inside it. */
  def untraced[T](body: => T): T = {
    val was = suspended
    suspended = true
    try body finally suspended = was
  }

  def spans: Seq[Span] = done.toSeq

  private def setGroup(): Unit = stack match {
    case (id, _, name, _) :: _ => sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    case Nil => sc.clearJobGroup()
  }

  /** A span that starts a new trace when no span is open, else a child
    * of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || suspended) body
    else {
      val id = nextId; nextId += 1
      val trace = stack.headOption.map(_._2).getOrElse { val t = nextTrace; nextTrace += 1; t }
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, trace, name, nowUs) :: stack
      setGroup()
      try body
      finally {
        val (_, _, _, start) = stack.head
        stack = stack.tail
        setGroup()
        done += Span(id, trace, parent, name, start, nowUs)
      }
    }

  /** Waits until the listener has seen every job submitted so far:
    * listener events are delivered in order, so once a marker job's
    * end arrives, all earlier events have been handled. */
  def drain(): Unit = listener.foreach { l =>
    val group = s"drain-${System.nanoTime()}"
    sc.setJobGroup(group, "trace drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.endedGroup(group) && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Span id → the jobs submitted while it was the innermost span. */
  def jobsBySpan: Map[Long, Seq[JobRec]] =
    listener.map(_.finishedJobs.filter(_.group.startsWith("span-"))
      .groupBy(_.group.stripPrefix("span-").toLong)).getOrElse(Map.empty)

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = Span.selfTimes(spans)
    val jobs = jobsBySpan
    val body = spans.map { s =>
      val js = jobs.getOrElse(s.id, Nil)
      s"""{"id":${s.id},"trace_id":${s.traceId},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.start},"end_us":${s.end},"self_us":${self(s.id)},""" +
        s""""jobs":${js.map(_.id).mkString("[", ",", "]")}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}
