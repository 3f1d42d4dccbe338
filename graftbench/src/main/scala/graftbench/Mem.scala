package graftbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak memory the program holds, as opposed to what the JVM reserved.
  *
  * The heap is pinned to a fixed size, so the process RSS mostly reports
  * that size. This figure follows the program instead: heap occupancy right
  * after each collection (what survived it), plus the non-heap pools
  * (metaspace with its class space, the code cache holding generated and
  * JIT-compiled code) and direct and mapped buffers.
  */
object Mem {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // "Metaspace" already counts its compressed class space
  private val nonHeapPools =
    pools.filter(p => p.getType == MemoryType.NON_HEAP && p.getName != "Compressed Class Space")
  private val buffers =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.toSeq

  private var registered = false
  @volatile private var on = false
  private var peakHeap = 0L
  private var peakBuffers = 0L

  private def bufferBytes: Long = buffers.map(_.getMemoryUsed).sum

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heap = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      val buf = bufferBytes
      Mem.synchronized { peakHeap = peakHeap max heap; peakBuffers = peakBuffers max buf }
    }

  /** Start tracking the peak from now on. */
  def start(): Unit = synchronized {
    if (!registered) {
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
        _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
      registered = true
    }
    peakHeap = 0L
    peakBuffers = bufferBytes
    nonHeapPools.foreach(_.resetPeakUsage())
    on = true
  }

  /** Peak since [[start]] or the last lap, in MiB, and a new lap from now
    * on. Call it right after a collection, so the heap figure includes what
    * the lap left live.
    */
  def lap(): Double = {
    val nonHeap = nonHeapPools.map(_.getPeakUsage.getUsed).sum
    val (heap, buf) = synchronized {
      val v = (peakHeap, peakBuffers max bufferBytes)
      peakHeap = 0L; peakBuffers = bufferBytes
      v
    }
    nonHeapPools.foreach(_.resetPeakUsage())
    (heap + nonHeap + buf).toDouble / (1 << 20)
  }

  /** Peak since [[start]], in MiB. Collects once more first, so a run with
    * no collection of its own still has a heap figure.
    */
  def peakMib(): Double = {
    System.gc()
    Thread.sleep(200) // GC notifications arrive on their own thread
    val nonHeap = nonHeapPools.map(_.getPeakUsage.getUsed).sum
    val (heap, buf) = synchronized { on = false; (peakHeap, peakBuffers max bufferBytes) }
    val mib = (x: Long) => x.toDouble / (1 << 20)
    Main.log(f"peak memory MiB: heap after GC ${mib(heap)}%.1f, non-heap ${mib(nonHeap)}%.1f, " +
      f"buffers ${mib(buf)}%.1f")
    mib(heap + nonHeap + buf)
  }
}
