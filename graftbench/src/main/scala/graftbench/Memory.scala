package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Memory the program holds, as opposed to what the heap flags reserve:
  * the largest heap left live after a full collection at a client
  * operation boundary since `reset`, and the peak of the non-heap pools
  * (metaspace, code cache) over the same interval. The heap is fixed and
  * pre-touched, so resident size would only echo its size, and the heap
  * in use after an ordinary collection follows collector timing. */
object Memory {

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private var maxLive = 0L

  /** Collect the whole heap and record what stays live. Called between
    * client operations, outside their timing. */
  def sample(): Unit = {
    System.gc()
    maxLive = maxLive.max(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def reset(): Unit = {
    maxLive = 0L
    pools.foreach(_.resetPeakUsage())
  }

  /** (peak live heap, peak non-heap) since `reset`, in MiB. */
  def peakMb(): (Double, Double) = {
    val nonHeap = pools.filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (maxLive / mib, nonHeap / mib)
  }

  private val mib = 1024.0 * 1024.0
}
