package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into the engine. `parent` is 0 for a
  * root span; every span of one benchmark run shares `run`. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, startMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans are recorded only
  * around the benchmark's own calls into the engine; the current span id
  * rides a Spark local property so the listener can attribute every job
  * to the innermost span that submitted it. A disabled tracer runs the
  * body and records nothing. */
final class Tracer(val enabled: Boolean, run: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      val saved = sc.getLocalProperty(Tracer.SpanKey)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, saved)
        spans += Span(id, parent, name, run, t0, t1, ms0)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Span ids of `root` and all its descendants. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }

  /** Self time per span: its duration minus the time its children cover
    * (children of one span run one after another on the calling thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.map(s => s.id -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark listener registered by the traced run: attributes jobs, stages
  * and task counters to the span whose thread submitted the job. */
final class Probe extends SparkListener {
  final class Job(val span: Int, val startMs: Long) { var endMs: Long = -1L }
  final class Stage(val span: Int) {
    var tasks = 0
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new Job(span, e.time)
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val st = stages.getOrElseUpdate(e.stageId, new Stage(stageSpan.getOrElse(e.stageId, 0)))
    st.tasks += 1
    st.durations += e.taskInfo.duration
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.gcMs += m.jvmGCTime
      st.inBytes += m.inputMetrics.bytesRead
      st.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobsIn(spans: Set[Int]): Seq[Job] = synchronized(jobs.values.filter(j => spans(j.span)).toSeq)
  def stagesIn(spans: Set[Int]): Seq[Stage] = synchronized(stages.values.filter(s => spans(s.span)).toSeq)
}

object Probe {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Slowest task over the median task, across the given stages' tasks
    * (stages with a single task carry no skew and are skipped). */
  def skew(stages: Seq[Probe#Stage]): Double = {
    val ratios = stages.filter(_.durations.size > 1).map { s =>
      val med = median(s.durations.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else s.durations.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Wall span of the given jobs: first start to last end, in ms. */
  def jobSpanMs(jobs: Seq[Probe#Job]): Double =
    if (jobs.isEmpty) 0.0 else (jobs.map(_.endMs).max - jobs.map(_.startMs).min).toDouble
}

/** JVM-side counters: GC time, and heap used after each collection. */
object Jvm {
  private val memory = ManagementFactory.getMemoryMXBean
  @volatile private var maxAfterGc = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              if (after > maxAfterGc) maxAfterGc = after
            }
        }, null, null)
      case _ =>
    }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resetMaxAfterGc(): Unit = maxAfterGc = 0L
  def maxAfterGcMb: Double = maxAfterGc / 1048576.0

  /** Live heap: heap used after a full collection, taken after a second
    * collection so that what Spark's context cleaner released in between
    * (broadcasts and shuffles of finished plans) is not counted. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    memory.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
