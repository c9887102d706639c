package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Cumulative Spark counters at one instant. A call's counts are the
  * difference of the snapshots taken at its start and end. */
final case class Counts(
    jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0, gcMs: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, outputBytes: Long = 0,
    smallStageTasks: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputBytes - o.outputBytes, smallStageTasks - o.smallStageTasks)
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords,
    outputBytes + o.outputBytes, smallStageTasks + o.smallStageTasks)
}

/** One listener for everything the benchmark counts: job, task and
  * stage counters, and the bytes pinned in the block manager (cache,
  * localCheckpoint and broadcast pieces) with a resettable running max.
  * It is registered in traced and untraced runs alike. */
final class Meter(sc: SparkContext) extends SparkListener {

  /** Stages reading less than this are "small": their task count is a
    * fixed cost that does not shrink with the data. */
  val SmallStageBytes: Long = 1L << 20

  private var counts = Counts()
  private val blocks = mutable.HashMap.empty[String, Long]
  /** Blocks that existed at the last [[resetPeak]]; they do not count. */
  private var old = Set.empty[String]
  private var pinned = 0L
  private var peak = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts = counts.copy(jobs = counts.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    counts = if (m == null) counts.copy(tasks = counts.tasks + 1) else counts.copy(
      tasks = counts.tasks + 1,
      taskMs = counts.taskMs + m.executorRunTime,
      gcMs = counts.gcMs + m.jvmGCTime,
      shuffleBytes = counts.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = counts.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = counts.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = counts.inputRecords + m.inputMetrics.recordsRead,
      outputBytes = counts.outputBytes + m.outputMetrics.bytesWritten)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    val read = if (m == null) 0L
      else m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
    if (read < SmallStageBytes)
      counts = counts.copy(smallStageTasks = counts.smallStageTasks + info.numTasks)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
    val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    if (!old.contains(key)) {
      pinned += size - blocks.getOrElse(key, 0L)
      peak = math.max(peak, pinned)
    }
    if (size == 0L) blocks.remove(key) else blocks(key) = size
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counts = { PerfbenchBus.drain(sc); synchronized(counts) }

  /** Starts a new running max, over the blocks created from now on. */
  def resetPeak(): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { old = blocks.keySet.toSet; pinned = 0L; peak = 0L }
  }

  /** Running max of the bytes pinned by blocks created since the last
    * [[resetPeak]]. */
  def peakBytes(): Long = { PerfbenchBus.drain(sc); synchronized(peak) }
}
