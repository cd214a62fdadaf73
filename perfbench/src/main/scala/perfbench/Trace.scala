package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** A timed region around one public call the benchmark makes. Jobs the
  * call ran become child spans named `job:<id>`. */
final case class Span(id: String, name: String, startMs: Long, endMs: Long,
    parent: String, runId: String)

/** Spark job, stage and task records keyed by job group. Registered with
  * the public `SparkContext.addSparkListener`; the benchmark sets one job
  * group per span, so every record maps to the innermost span that ran it. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[(String, Int)]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobs.add(Job(e.jobId, g, e.time))
    events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    events.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.add((stageGroup.getOrDefault(e.stageInfo.stageId, ""), e.stageInfo.stageId))
    events.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks.add(Task(stageGroup.getOrDefault(e.stageId, ""), e.stageId,
      info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten))
    events.incrementAndGet()
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for a quiet period (bounded), so the records cover every finished call. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }
}

object JobRecorder {
  final case class Job(id: Int, group: String, startMs: Long)
  final case class Task(group: String, stageId: Int, launchMs: Long,
      finishMs: Long, runMs: Long, shuffleWrite: Long, output: Long)
}

/** Aggregate listener figures over a set of job groups. */
final case class GroupStats(jobs: Int, stages: Int, tasks: Int,
    shuffleWrite: Long, output: Long, taskRunMs: Long, busyMs: Long,
    maxTaskMs: Long, coveredMs: Long)

/** Spans around the benchmark's calls. With tracing off, `span` only runs
  * its body: no job group, no listener, no records. */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  val recorder: Option[JobRecorder] =
    if (enabled) { val r = new JobRecorder; sc.addSparkListener(r); Some(r) } else None
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private var stack: List[String] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = s"$runId-${ids.incrementAndGet()}"
      val parent = stack.headOption.getOrElse("")
      stack = id :: stack
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans.add(Span(id, name, t0, System.currentTimeMillis(), parent, runId))
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** The ids of every span named by `pred`, and of all spans beneath them. */
  def groupsUnder(pred: Span => Boolean): Set[String] = {
    val all = allSpans
    val roots = all.filter(pred).map(_.id).toSet
    val children = all.groupBy(_.parent)
    def down(id: String): Set[String] =
      Set(id) ++ children.getOrElse(id, Nil).flatMap(s => down(s.id))
    roots.flatMap(down)
  }

  def stats(groups: Set[String]): GroupStats = recorder match {
    case None => GroupStats(0, 0, 0, 0, 0, 0, 0, 0, 0)
    case Some(r) =>
      val ts = r.tasks.asScala.filter(t => groups.contains(t.group)).toSeq
      GroupStats(
        jobs = r.jobs.asScala.count(j => groups.contains(j.group)),
        stages = r.stages.asScala.count(s => groups.contains(s._1)),
        tasks = ts.size,
        shuffleWrite = ts.map(_.shuffleWrite).sum,
        output = ts.map(_.output).sum,
        taskRunMs = ts.map(_.runMs).sum,
        busyMs = ts.map(t => t.finishMs - t.launchMs).sum,
        maxTaskMs = if (ts.isEmpty) 0L else ts.map(t => t.finishMs - t.launchMs).max,
        coveredMs = Tracer.covered(ts.map(t => (t.launchMs, t.finishMs))))
  }

  /** Spans plus one child span per job, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val jobSpans = recorder.toSeq.flatMap { r =>
      r.jobs.asScala.toSeq.map { j =>
        Span(s"job:${j.id}", s"job:${j.id}", j.startMs,
          Option(r.jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs),
          j.group, runId)
      }
    }
    val lines = (allSpans ++ jobSpans).sortBy(_.startMs).map { s =>
      s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${Json.str(s.parent)},"run_id":${Json.str(s.runId)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Tracing off: `span` just runs its body. */
  val off = new Tracer(null, false, "")

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
