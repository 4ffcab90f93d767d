package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Scaffolding shared by the `Stress*` scale studies: a session on
  * [[GraftSession.defaultCores]] (`SPARK_GRAFT_CPUS`), timers that
  * report the [[RunMetrics]] numbers of exactly the timed work, and
  * `stop`. `tag` prefixes every printed line, e.g. `[stress-ann]`.
  */
final class Study private (val spark: SparkSession, tag: String) {
  import Study.Measured

  val cores: Int = GraftSession.defaultCores
  private val metrics = RunMetrics.of(spark.sparkContext)
  private val seq = new AtomicInteger

  /** Runs `body` in a job group of its own and returns its value, wall
    * time and the collector's totals for that group.
    */
  def measure[T](body: => T): Measured[T] = {
    val group = s"study-$tag-${seq.incrementAndGet()}"
    val t0 = System.nanoTime()
    val value = RunMetrics.inGroup(spark.sparkContext, group)(body)
    val secs = (System.nanoTime() - t0) / 1e9
    Measured(value, secs, metrics.group(group))
  }

  /** [[measure]], printing `[tag] label  secs  <collector summary>`. */
  def timed[T](label: String)(body: => T): T = {
    val m = measure(body)
    println(f"[$tag] $label%-40s ${m.seconds}%8.2f s  ${m.metrics.summary}")
    m.value
  }

  def stop(): Unit = spark.stop()
}

object Study {
  final case class Measured[T](value: T, seconds: Double, metrics: RunMetrics.Totals)

  /** A study session named `graft-<tag>`; `conf` entries go to the
    * builder (context-level settings such as memory fractions must be
    * set before the context starts).
    */
  def apply(tag: String, conf: (String, String)*): Study = {
    val b = GraftSession.builder(s"graft-$tag")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarn()
    new Study(spark, tag)
  }
}
