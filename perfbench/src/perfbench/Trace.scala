package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: its wall interval, the run it belongs to, the span
  * that caused it, and the listener counters of the jobs it ran. */
final class Span(val id: Int, val parent: Int, val run: String, val name: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Every span runs its Spark jobs under its own job
  * group, so [[Probe]] can attribute jobs, stages and tasks to it. */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var run: String = "setup"

  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), run, name)
    spans += s
    stack ::= s
    sc.setJobGroup(Tracer.group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def inRun(run: String): Seq[Span] = spans.filter(_.run == run).toSeq
}

object Tracer {
  private val Prefix = "perfbench-"
  def group(id: Int): String = Prefix + id
  def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt)
}

/** Listener counters of one span. */
final class SpanStats {
  var jobs = 0
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs: mutable.HashMap[Int, mutable.ArrayBuffer[Long]] = mutable.HashMap.empty
}

/** SparkListener for jobs, stages and tasks. Job and stage events and the
  * per-stage shuffle-write total are always recorded (they are few); task
  * events are aggregated only while `taskLevel` is on, i.e. in traced runs. */
final class Probe extends SparkListener {
  @volatile var taskLevel = false
  private val stats = mutable.HashMap.empty[Int, SpanStats]
  private val jobOf = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOf = mutable.HashMap.empty[Int, Int]
  private var shuffleWritten = 0L

  private def st(span: Int) = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Tracer.spanOf(e.properties).foreach { s =>
      st(s).jobs += 1
      jobOf(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageOf(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.remove(e.jobId).foreach { case (s, t0) => st(s).jobIntervals += (t0 -> e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) shuffleWritten += m.shuffleWriteMetrics.bytesWritten
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (taskLevel) synchronized {
    val m = e.taskMetrics
    if (m != null) stageOf.get(e.stageId).foreach { s =>
      val x = st(s)
      x.tasks += 1
      x.runMs += m.executorRunTime
      x.gcMs += m.jvmGCTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.diskBytesSpilled
      x.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def statsOf(span: Int): SpanStats = synchronized(stats.getOrElse(span, new SpanStats))

  /** Shuffle bytes written since the previous call. */
  def takeShuffleWritten(): Long = synchronized {
    val b = shuffleWritten
    shuffleWritten = 0L
    b
  }
}

/** QueryExecutionListener: per-action durations by function name, and the
  * time spent in file writes under the checkpoint root. */
final class Actions(checkpointRoot: String) extends QueryExecutionListener {
  private var checkpointNs = 0L
  private val byFunc = mutable.TreeMap.empty[String, (Int, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val (n, t) = byFunc.getOrElse(funcName, (0, 0L))
      byFunc(funcName) = (n + 1, t + durationNs)
      val target = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
      }
      if (target.exists(_.startsWith(checkpointRoot))) checkpointNs += durationNs
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** (checkpoint-write seconds, per-function (count, seconds)) since the
    * previous call. */
  def take(): (Double, Map[String, (Int, Double)]) = synchronized {
    val out = (checkpointNs / 1e9, byFunc.map { case (k, (n, t)) => k -> (n, t / 1e9) }.toMap)
    checkpointNs = 0L
    byFunc.clear()
    out
  }
}

/** Peak heap in use after GC, from the JVM's GC notifications. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      => ()
  }

  def reset(): Unit = peak = 0L

  /** Collect, then report the peak since [[reset]], the collection included
    * (so a run short enough to see no collection still reports its heap). */
  def peakAfterGc(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak, now)
  }
}
