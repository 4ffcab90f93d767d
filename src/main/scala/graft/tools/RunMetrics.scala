package graft.tools

import java.util.concurrent.TimeoutException

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The engine's one metrics collector: a `SparkListener` that keeps
  * running totals over every job of its `SparkContext`, and separately
  * per job group (`spark.jobGroup.id`), so a caller can measure its own
  * work while other threads run jobs in the same context.
  *
  * Listener events arrive asynchronously; every read first [[drain]]s
  * the bus, so the numbers cover every job that finished before the
  * call — no sleeps, no polling.
  */
final class RunMetrics private (private val sc: SparkContext) extends SparkListener {
  import RunMetrics._

  private val overallAcc = new Acc(keepDurations = false)
  private val groups = mutable.Map.empty[String, Acc]
  // stage id -> job group of the job that submitted it; tasks carry only
  // their stage id, so this is how a task is attributed to a group
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupAcc(g: String): Acc =
    groups.getOrElseUpdate(g, new Acc(keepDurations = true))
  private def accs(group: Option[String]): Seq[Acc] =
    overallAcc +: group.map(groupAcc).toSeq
  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(JobGroupKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    accs(groupOf(e.properties)).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    accs(stageGroup.remove(e.stageInfo.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    accs(stageGroup.get(e.stageId)).foreach(_.addTask(e))
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit =
    try ListenerBusAccess.drain(sc)
    catch { case t: TimeoutException =>
      System.err.println(s"[run-metrics] listener bus did not drain: ${t.getMessage}")
    }

  /** Totals over every job since the collector was installed. */
  def overall(): Totals = { drain(); synchronized(overallAcc.totals) }

  /** Totals over the jobs run in job group `g` (zero if none ran). */
  def group(g: String): Totals = {
    drain()
    synchronized(groups.get(g).map(_.totals).getOrElse(Totals.zero))
  }
}

object RunMetrics {

  private val JobGroupKey = "spark.jobGroup.id"

  /** Task and job totals. `taskMs` sums task wall time; `maxTaskMs`,
    * `p50TaskMs` and `peakExecMemBytes` are maxima/medians (the median
    * only for a job group; the overall totals report it as -1).
    */
  final case class Totals(
      jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, maxTaskMs: Long, p50TaskMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      peakExecMemBytes: Long, inputBytes: Long) {
    def spillBytes: Long = memorySpillBytes + diskSpillBytes

    /** One-line summary: `jobs=… stages=… tasks=… shuffle_w=…MB …`. */
    def summary: String =
      f"jobs=$jobs stages=$stages tasks=$tasks task_max=${maxTaskMs / 1e3}%.2fs " +
        f"gc=${gcMs}ms shuffle_r=${shuffleReadBytes / 1e6}%.1fMB " +
        f"shuffle_w=${shuffleWriteBytes / 1e6}%.1fMB spill=${spillBytes / 1e6}%.1fMB " +
        f"peak_mem=${peakExecMemBytes / 1e6}%.1fMB input=${inputBytes / 1e6}%.1fMB"
  }
  object Totals {
    val zero: Totals = Totals(0, 0, 0, 0, 0, -1, 0, 0, 0, 0, 0, 0, 0)
  }

  private final class Acc(keepDurations: Boolean) {
    var jobs, stages, tasks, taskMs, maxTaskMs, gcMs = 0L
    var shuffleRead, shuffleWrite, memSpill, diskSpill, peakMem, input = 0L
    private val durations = mutable.ArrayBuffer.empty[Long]

    def addTask(e: SparkListenerTaskEnd): Unit = {
      val d = e.taskInfo.duration
      tasks += 1
      taskMs += d
      maxTaskMs = math.max(maxTaskMs, d)
      if (keepDurations) durations += d
      val m = e.taskMetrics
      if (m != null) {
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
        input += m.inputMetrics.bytesRead
      }
    }

    def totals: Totals = {
      val p50 =
        if (!keepDurations || durations.isEmpty) -1L
        else durations.sorted.apply(durations.size / 2)
      Totals(jobs, stages, tasks, taskMs, maxTaskMs, p50, gcMs,
        shuffleRead, shuffleWrite, memSpill, diskSpill, peakMem, input)
    }
  }

  private var installed: Option[RunMetrics] = None

  /** The collector of `sc`, installed on first use. */
  def of(sc: SparkContext): RunMetrics = synchronized {
    installed.filter(_.sc eq sc).getOrElse {
      val m = new RunMetrics(sc)
      sc.addSparkListener(m)
      installed = Some(m)
      m
    }
  }

  /** Runs `body` with the calling thread's jobs in job group `g`, then
    * restores the previous group.
    */
  def inGroup[T](sc: SparkContext, g: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobGroupKey)
    sc.setLocalProperty(JobGroupKey, g)
    try body finally sc.setLocalProperty(JobGroupKey, prev)
  }
}
