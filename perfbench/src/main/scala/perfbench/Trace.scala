package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Named running totals fed by Spark's listener bus. */
final class Counters {
  private val m = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
  def snapshot(): Map[String, Long] = m.asScala.map { case (k, v) => k -> v.get }.toMap
}

/** One traced interval. Times are `System.nanoTime`; `counts` holds the
  * counter deltas over the interval.
  */
final case class Span(
    id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * counts at the same boundaries. Listeners are attached only while
  * tracing is on, so untraced rounds run without them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = new Counters
  private val spans = ArrayBuffer.empty[Span]
  private val sqlOpen = new ConcurrentHashMap[Long, Long]()
  private val sqlDone = ArrayBuffer.empty[(Long, Long)] // epoch ms intervals
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var on = false
  // maps epoch milliseconds (listener event times) onto nanoTime
  private val epochToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counters.add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("tasks", 1)
      val tm = e.taskMetrics
      if (tm != null) {
        counters.add("task_gc_ms", tm.jvmGCTime)
        counters.add("task_cpu_ns", tm.executorCpuTime)
        counters.add("shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten)
        counters.add("shuffle_read_bytes",
          tm.shuffleReadMetrics.localBytesRead + tm.shuffleReadMetrics.remoteBytesRead)
        counters.add("spill_bytes", tm.memoryBytesSpilled + tm.diskBytesSpilled)
        counters.add("output_bytes", tm.outputMetrics.bytesWritten)
        counters.add("input_records", tm.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlOpen.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlOpen.remove(x.executionId)).foreach { start =>
          sqlDone.synchronized(sqlDone += ((start, x.time)))
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      counters.add("queries", 1)
      counters.add("plan_ms", planMs)
      counters.add("exec_ns", durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      counters.add("query_failures", 1)
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  private def snapshot(): Map[String, Long] = {
    ListenerBusAccess.drain(sc)
    counters.snapshot() ++ Jvm.counts()
  }

  /** Runs `body` inside a span when tracing is on; otherwise just runs it. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      val before = snapshot()
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val after = snapshot()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
        spans += Span(id, parent, name, t0, t1, delta)
      }
    }
  def recorded: Seq[Span] = spans.toSeq

  /** SQL executions as nanoTime intervals. */
  def sqlIntervals: Seq[(Long, Long)] = sqlDone.synchronized(sqlDone.toSeq).map {
    case (s, e) => (s * 1000000L + epochToNanoNs, e * 1000000L + epochToNanoNs)
  }

  /** Seconds of [start, end) not covered by any of `intervals`. */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (end - start - covered) / 1e9
  }

  /** A span's self time: its duration minus what its child spans and the
    * SQL executions inside it cover.
    */
  def selfSeconds(s: Span): Double = {
    val children = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
    uncovered(s.startNs, s.endNs, children.toSeq ++ sqlIntervals)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":$v" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        s""""self_s":${selfSeconds(s)},"counts":{$counts}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Process-wide JVM counters: GC time over all collectors and process CPU. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs(): Long = os.getProcessCpuTime

  def counts(): Map[String, Long] = Map("jvm_gc_ms" -> gcMs(), "process_cpu_ns" -> cpuNs())

  /** High-water resident set size of this process, in MB. */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }

  /** Seconds from JVM start to now. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
