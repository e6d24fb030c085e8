package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch nanoseconds; `parent` is 0
  * for a root span, and every span of one operation shares its root's
  * `trace` id. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    trace: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic epoch nanoseconds, comparable with Spark's millisecond
    * listener and progress timestamps. */
  def now: Long = offset + System.nanoTime()
  def ms(epochMs: Long): Long = epochMs * 1000000L
}

/** Collects spans in memory; a disabled tracer only runs the body. A traced
  * run enables it once set-up and warm-up are over, so only the measured
  * phase is traced. A span sets its id as a Spark local property on the
  * calling thread, so jobs it submits, also from pool threads created
  * inside it (`Parallel.run`), carry that id to [[SparkMetrics]]. */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile var sc: SparkContext = _

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val outer = stack.get
    val (parent, trace) = outer.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
    val ctx = sc
    val prev = if (ctx == null) null else ctx.getLocalProperty(Tracer.Key)
    if (ctx != null) ctx.setLocalProperty(Tracer.Key, id.toString)
    stack.set((id, trace) :: outer)
    val t0 = Clock.now
    try body
    finally {
      finished.add(Span(id, name, layer, parent, trace, t0, Clock.now))
      stack.set(outer)
      if (ctx != null) ctx.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** A span observed after the fact (a streaming trigger, from its
    * progress report), attached under `parent`. */
  def record(name: String, layer: String, parent: Span, start: Long, end: Long): Unit =
    if (enabled) finished.add(Span(ids.incrementAndGet(), name, layer, parent.id,
      parent.trace, start, end))

  def spans: Seq[Span] = finished.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val Key = "perfbench.span"

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = Stats.coveredWithin(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> (s.dur - cover)
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** The ids of `root` and all its descendants. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Set(root)
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(p => kids.getOrElse(p, Nil).map(_.id))
      out ++= next
      frontier = next
    }
    out.toSet
  }
}

/** Per-span and whole-run Spark scheduler counters, from the listener bus. */
final class SparkMetrics extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runNs = 0L; var overheadNs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var gcNs = 0L; var serialStageNs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val total = new Acc
  val bySpan = mutable.Map.empty[Long, Acc]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var eventsSeen = 0L

  private def accsOf(jobId: Option[Int]): Seq[Acc] =
    total +: jobId.flatMap(jobSpan.get).map(s => bySpan.getOrElseUpdate(s, new Acc)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    eventsSeen += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach(s => jobSpan(e.jobId) = s.toLong)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    accsOf(Some(e.jobId)).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    eventsSeen += 1
    val iv = (Clock.ms(jobStart.getOrElse(e.jobId, e.time)), Clock.ms(e.time))
    accsOf(Some(e.jobId)).foreach(_.jobIntervals += iv)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    eventsSeen += 1
    val si = e.stageInfo
    val accs = accsOf(stageJob.get(si.stageId))
    accs.foreach(_.stages += 1)
    if (si.numTasks == 1) for (s <- si.submissionTime; c <- si.completionTime)
      accs.foreach(_.serialStageNs += Clock.ms(c - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    eventsSeen += 1
    val m = e.taskMetrics
    accsOf(stageJob.get(e.stageId)).foreach { a =>
      a.tasks += 1
      if (m != null) {
        val run = m.executorRunTime * 1000000L
        a.runNs += run
        a.overheadNs += math.max(0L, e.taskInfo.duration * 1000000L - run)
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcNs += m.jvmGCTime * 1000000L
      }
    }
  }

  /** Wait until the listener bus has gone quiet, so counters are final. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = eventsSeen
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  /** Counters of the given spans' jobs, summed. */
  def over(spanIds: Set[Long]): Acc = synchronized {
    val out = new Acc
    spanIds.flatMap(bySpan.get).foreach { a =>
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.runNs += a.runNs; out.overheadNs += a.overheadNs
      out.inputBytes += a.inputBytes; out.shuffleWrite += a.shuffleWrite
      out.shuffleRead += a.shuffleRead; out.spill += a.spill; out.gcNs += a.gcNs
      out.serialStageNs += a.serialStageNs; out.jobIntervals ++= a.jobIntervals
    }
    out
  }
}
