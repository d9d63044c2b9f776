package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. Spans nest on the thread
  * that opens them; the Spark listener parents each job to the span
  * open when the job started. Times are seconds since the tracer started.
  */
final class Tracer(val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, start: Double,
      var end: Double, attrs: Map[String, String])

  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var top: Int = -1

  def now(): Double = (System.nanoTime() - t0Nanos) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - t0EpochMs) / 1e3

  def current: Int = top

  def span[A](name: String, attrs: (String, String)*)(f: => A): A = {
    val s = synchronized {
      val s = Span(spans.length, top, name, now(), Double.NaN, attrs.toMap)
      spans += s
      stack.push(s.id); top = s.id
      s
    }
    try f
    finally synchronized {
      s.end = now()
      stack.pop()
      top = if (stack.isEmpty) -1 else stack.top
    }
  }

  /** A span whose times come from elsewhere (a Spark job). */
  def record(parent: Int, name: String, start: Double, end: Double,
      attrs: Map[String, String]): Unit = synchronized {
    spans += Span(spans.length, parent, name, start, end, attrs)
  }

  def count: Int = synchronized(spans.length)

  def durations(name: String): Seq[Double] = synchronized {
    spans.iterator.filter(_.name == name).map(s => s.end - s.start).toSeq
  }

  /** One JSON object per line: name, start, end, parent, run id, attrs. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      Stats.json(scala.collection.immutable.ListMap[String, Any](
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end) ++ s.attrs)
    }
    java.nio.file.Files.write(path, lines.toSeq.map(_ + "\n").mkString.getBytes("UTF-8"))
  }
}

/** Spark runtime counters over the windows in which `on` is set, plus job
  * spans into an optional tracer.
  */
final class RuntimeListener(tracer: Option[Tracer]) extends SparkListener {
  @volatile var on = false
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, (Int, Double, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs += 1
      tracer.foreach { t =>
        // the job's final stage is named after the action's call site
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobStart(e.jobId) = (t.current, t.fromEpochMs(e.time), site)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (t <- tracer; (parent, start, site) <- jobStart.remove(e.jobId))
      t.record(parent, "spark.job", start, t.fromEpochMs(e.time),
        Map("job" -> e.jobId.toString, "call_site" -> site))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (on) {
      stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Wall milliseconds of [fromMs, toMs) with no stage running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    var covered = 0L
    var reach = fromMs
    stageSpans.map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1).foreach { case (s, c) =>
        if (c > reach) { covered += c - math.max(s, reach); reach = c }
      }
    (toMs - fromMs) - covered
  }

  /** Max over stages with at least 2 tasks of max / median task time. */
  def skew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      ds.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def waitForEvents(sc: SparkContext): Unit =
    org.apache.spark.graftbench.ListenerBusAccess.drain(sc)
}
