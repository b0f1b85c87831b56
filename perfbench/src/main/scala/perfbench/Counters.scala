package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side counters, attributed to the benchmark operation that ran
  * the job. The benchmark tags each operation with the local property
  * `perfbench.op` before it calls the engine; every job, stage and task
  * it causes is charged to that tag.
  */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
  }

  private val stageOp = mutable.HashMap.empty[Int, String]
  private val byOp = mutable.HashMap.empty[String, Acc]

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OP_KEY))).getOrElse("untagged")
    acc(op).jobs += 1
    e.stageIds.foreach(s => stageOp(s) = op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = acc(stageOp.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Totals for `op`, after every event posted so far was delivered. */
  def get(sc: SparkContext, op: String): Acc = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byOp.getOrElse(op, new Acc))
  }

  /** Forget everything counted so far, once it has been delivered. */
  def reset(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { byOp.clear() }
  }
}

object SparkCounters {
  val OP_KEY = "perfbench.op"

  def tag[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(OP_KEY)
    sc.setLocalProperty(OP_KEY, op)
    try body finally sc.setLocalProperty(OP_KEY, prev)
  }
}

/** Largest post-GC heap occupancy seen, from the garbage collectors'
  * completion notifications (RSS says nothing when the heap is
  * pre-touched at its full size).
  */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile var gcs = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized {
          gcs += 1
          if (used > peak) peak = used
        }
      }
  }

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L; gcs = 0L }

  /** Fold in the collectors' last completed GC now (notifications
    * arrive asynchronously).
    */
  def sample(): Unit = beans.foreach {
    case b: com.sun.management.GarbageCollectorMXBean =>
      Option(b.getLastGcInfo).foreach { info =>
        val used = info.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
    case _ =>
  }

  def peakMb: Double = synchronized(peak / (1024.0 * 1024.0))

  def close(): Unit =
    beans.foreach(b => scala.util.Try(b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)))
}
