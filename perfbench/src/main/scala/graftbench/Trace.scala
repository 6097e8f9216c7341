package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed region. `layer` is the repo module the region calls into
  * (`api`, `sources`, `operators.quantile`, ...); `kind` is `op` for a
  * whole call, `build` for constructing its result (eager preflights and
  * pins run here) and `force` for materializing it. Times are epoch
  * milliseconds with sub-millisecond digits, on the same clock as the
  * Spark listener's event times.
  */
final case class Span(id: Int, parent: Int, trace: Int, layer: String, op: String, kind: String,
    start: Double, var end: Double = 0.0)

/** Per-span Spark counters, filled by [[LayerListener]] through the job
  * group the tracer sets around every span.
  */
final class SpanStats {
  var jobs = 0; var failedJobs = 0; var tasks = 0; var failedTasks = 0
  var taskMs = 0L; var maxTaskMs = 0L; var queueMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L; var gcMs = 0L; var pinB = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Records spans in memory and, while enabled, tags every Spark job with
  * the innermost open span (`setJobGroup`). Disabled tracing is a plain
  * call-through: no job groups, no listener, no records.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  /** Identifier shared by the spans of one operation. */
  var trace = 0
  private var stack = List.empty[Span]
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](layer: String, op: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), trace, layer, op, kind, now())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), s"$layer $op $kind", interruptOnCancel = false)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), s"${p.layer} ${p.op} ${p.kind}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
}

/** Spark listener keyed by the tracer's job groups. Stage and RDD ids are
  * mapped to the span of the job that submitted them, so task metrics and
  * block writes (pins) land on the span that caused them.
  */
final class LayerListener extends SparkListener {
  val stats = mutable.HashMap.empty[Int, SpanStats]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val rddSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stageFirstLaunch = mutable.HashMap.empty[(Int, Int), Long]

  private def of(span: Int): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.Prefix)).foreach { grp =>
      val span = grp.stripPrefix(Tracer.Prefix).toInt
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time.toDouble
      of(span).jobs += 1
      e.stageInfos.foreach { si =>
        stageSpan(si.stageId) = span
        si.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { span =>
      val st = of(span)
      st.jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time.toDouble), e.time.toDouble))
      e.jobResult match {
        case JobSucceeded => ()
        case _ => st.failedJobs += 1
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { span =>
      si.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
      si.submissionTime.foreach(t => stageSubmit((si.stageId, si.attemptNumber())) = t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (span <- stageSpan.get(key._1); sub <- stageSubmit.remove(key); first <- stageFirstLaunch.remove(key))
      of(span).queueMs += math.max(0L, first - sub)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val st = of(span)
      val key = (e.stageId, e.stageAttemptId)
      val launch = e.taskInfo.launchTime
      stageFirstLaunch(key) = stageFirstLaunch.get(key).fold(launch)(math.min(_, launch))
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.maxTaskMs = math.max(st.maxTaskMs, m.executorRunTime)
        st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        st.spillB += m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    (info.blockId, info.storageLevel.isValid) match {
      case (RDDBlockId(rdd, _), true) =>
        rddSpan.get(rdd).foreach(span => of(span).pinB += info.memSize + info.diskSize)
      case _ => ()
    }
  }
}

/** Process-level costs: CPU time of the JVM's Java threads, and the
  * old-generation occupancy right after a full collection (the live set
  * the collector cannot reclaim: results, pins, memos, anything a
  * driver-side path still holds).
  */
final class JvmWatch {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.isCollectionUsageThresholdSupported && p.getName.toLowerCase.contains("old"))

  /** CPU nanoseconds per live Java thread (the driver and Spark's task and
    * exchange threads). JIT compiler and GC worker threads are not Java
    * threads: their work is JVM warm-up and collection that lands on
    * whichever pass runs while it happens.
    */
  def cpuSnapshot(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads spent since `before`. */
  def cpuSince(before: Map[Long, Long]): Double =
    cpuSnapshot().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  /** A full collection, then a pause in which Spark's ContextCleaner drops
    * the blocks and broadcasts it found unreachable, so garbage left by
    * earlier passes is not read as live by the next `liveMb`.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  /** Old-generation MB after a full collection run now. */
  def liveMb(): Double = {
    System.gc()
    oldPool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / (1024.0 * 1024.0)).getOrElse(0.0)
  }
}
