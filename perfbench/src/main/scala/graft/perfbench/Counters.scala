package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Engine counters taken from Spark's public listener events — the
  * program is never edited to report them.
  *
  * Executor CPU and shuffle-write bytes are always summed (they feed
  * end-to-end metrics). With `detailed` on, the listener also keeps each
  * task's interval and metrics, every SQL execution's interval and plan
  * text, and the cached RDD blocks' memory — the per-layer view.
  * All callbacks run on the listener-bus thread; readers drain the bus
  * first (see [[org.apache.spark.BusDrain]]) and then read under the lock.
  */
final class Counters extends SparkListener {
  @volatile var detailed = false

  var cpuNs = 0L
  var shuffleWriteBytes = 0L

  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  /** (launch, finish) epoch ms of every finished task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskBusyMs = 0L
  var taskWaitMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var outputBytes = 0L
  /** executionId -> (start ms, end ms or -1, physical plan text). */
  val sql = mutable.LinkedHashMap.empty[Long, (Long, Long, String)]
  private val blockMem = mutable.HashMap.empty[RDDBlockId, Long]
  private var cacheBytes = 0L
  var cachePeakBytes = 0L

  def reset(): Unit = synchronized {
    cpuNs = 0; shuffleWriteBytes = 0; jobs = 0; stages = 0; tasks = 0
    taskSpans.clear(); taskBusyMs = 0; taskWaitMs = 0; inputBytes = 0
    inputRecords = 0; shuffleRecords = 0; fetchWaitMs = 0; spillBytes = 0
    peakExecBytes = 0; outputBytes = 0; sql.clear()
    cachePeakBytes = cacheBytes
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
    if (detailed) {
      val info = e.taskInfo
      tasks += 1
      taskSpans += ((info.launchTime, info.finishTime))
      taskBusyMs += info.duration
      if (m != null) {
        // scheduler delay + deserialization + result fetch: the part of a
        // task's life it does not spend running or serializing its result
        taskWaitMs += math.max(0L,
          info.duration - m.executorRunTime - m.resultSerializationTime)
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillBytes += m.diskBytesSpilled
        peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { if (detailed) jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (detailed) stages += 1 }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val mem = if (e.blockUpdatedInfo.storageLevel.isValid)
          e.blockUpdatedInfo.memSize else 0L
        cacheBytes += mem - blockMem.getOrElse(id, 0L)
        if (mem > 0) blockMem(id) = mem else blockMem.remove(id)
        cachePeakBytes = math.max(cachePeakBytes, cacheBytes)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockMem.keys.filter(_.rddId == e.rddId).toList.foreach { id =>
      cacheBytes -= blockMem.remove(id).getOrElse(0L)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (detailed) e match {
      case s: SparkListenerSQLExecutionStart =>
        sql(s.executionId) = (s.time, -1L, s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        sql.get(s.executionId).foreach { case (t0, _, plan) =>
          sql(s.executionId) = (t0, s.time, plan)
        }
      case _ =>
    }
  }
}

object Counters {
  /** Total length of the union of `spans` clipped to [from, to]. */
  def covered(spans: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
