package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._

/** Task totals of one job group. */
final case class GroupTotals(
    jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, rowsWritten: Long,
    /** max ÷ median task time of the stage that ran longest in total */
    taskSkew: Double)

/**
 * Bench-side metrics collector: a SparkListener that totals task metrics
 * per job group (the traced run gives every span its own group) and
 * follows the size of the RDD blocks in the block store (cached tables
 * and lineage cuts) from block updates.
 *
 * Events arrive on the listener bus thread, so every read first drains
 * the bus ([[org.apache.spark.perfbench.ListenerBus]]).
 */
final class Collector(sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var rowsWritten = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val groups = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[(Int, String), Long] // (rdd id, block) -> bytes
  private var storeBytes = 0L
  private var peakBytes = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(ListenerBus.JobGroupId)))
      .getOrElse("")
    val acc = groups.getOrElseUpdate(g, new Acc)
    acc.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc)
    acc.tasks += 1
    acc.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.diskBytesSpilled
      acc.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  // RDD blocks only: cached tables and lineage cuts, not broadcast pieces
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, s"${info.blockManagerId.executorId}/${id.name}")
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      setBlock(key, bytes)
    }
  }

  // unpersisting drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._1 == e.rddId).toSeq.foreach(setBlock(_, 0L))
  }

  private def setBlock(key: (Int, String), bytes: Long): Unit = {
    storeBytes += bytes - blocks.getOrElse(key, 0L)
    if (bytes > 0) blocks(key) = bytes else blocks.remove(key)
    peakBytes = math.max(peakBytes, storeBytes)
  }

  def totals(group: String): GroupTotals = {
    ListenerBus.drain(sc)
    synchronized {
      groups.get(group).fold(GroupTotals(0, 0, 0, 0, 0, 0, 0, 1.0)) { a =>
        val skew = if (a.stageTaskMs.isEmpty) 1.0 else {
          val ds = a.stageTaskMs.values.maxBy(_.sum).sorted
          val median = ds(ds.size / 2)
          if (median <= 0) 1.0 else ds.last.toDouble / median
        }
        GroupTotals(a.jobs, a.tasks, a.cpuNs / 1e9, a.gcMs / 1e3,
          a.shuffleWrite, a.spill, a.rowsWritten, skew)
      }
    }
  }

  /** (current, peak) bytes held in the block store. */
  def store(): (Long, Long) = {
    ListenerBus.drain(sc)
    synchronized((storeBytes, peakBytes))
  }
}
