package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Plan and cost evidence for registry gates, from one tool. Each gate
  * runs cold (first in the JVM), then warm, the way Bench times it: the
  * gate-fn call (an eager index build or write happens here) and then
  * `count()`. Per run it prints both times and the [[RunMetrics]]
  * numbers of the run's job group; per SQL execution inside the run
  * (writes made by the fn call included) the analysis / optimization /
  * planning / execution split, and the node counts of the AQE-final
  * plan ([[PlanCounts]]). The cold run's formatted plans go to
  * `<outDir>/<gate>_<n>.txt`, or to stdout without an `outDir`.
  *
  *   runMain graft.tools.GateProbe <sfDir> <gate[,gate…]> [outDir]
  */
object GateProbe {
  private val Phases = Seq("analysis", "optimization", "planning")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GateProbe <sfDir> <gate[,gate…]> [outDir]")
    val Seq(sfDir, names) = args.toSeq.take(2)
    val outDir = args.lift(2)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = GraftSession.builder("graft-gate-probe")
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarn()
    val metrics = RunMetrics.of(spark.sparkContext)
    val executions = ArrayBuffer.empty[(String, QueryExecution, Long)]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.synchronized(executions += ((fn, qe, durationNs)))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    for (gate <- names.split(",").toSeq; run <- Seq("cold", "warm")) {
      executions.synchronized(executions.clear())
      val group = s"gateprobe-$gate-$run"
      try {
        val (callS, countS, rows) = RunMetrics.inGroup(spark.sparkContext, group) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(gate)(spark, sfDir)
          val t1 = System.nanoTime()
          val n = df.count()
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, n)
        }
        // group() drains the bus, which also delivers every execution above
        val m = metrics.group(group)
        val execs = executions.synchronized(executions.toList)
        val phaseMs = execs.map { case (_, qe, ns) =>
          val ph = qe.tracker.phases
          Phases.map(p => ph.get(p).map(_.durationMs).getOrElse(0L)) :+ ns / 1000000L
        }
        val tot = phaseMs.transpose.map(_.sum).padTo(4, 0L)
        println(f"[gateprobe] $gate $run fn=$callS%.3fs count=$countS%.3fs rows=$rows")
        println(s"[gateprobe] $gate $run ${m.summary}")
        println(s"[gateprobe] $gate $run sql=${execs.size} analysis=${tot(0)}ms " +
          s"optimization=${tot(1)}ms planning=${tot(2)}ms exec=${tot(3)}ms")
        execs.zip(phaseMs).zipWithIndex.foreach { case (((fn, qe, _), ms), i) =>
          val counts = PlanCounts(PlanCounts.finalPlan(qe.executedPlan).toString)
          println(s"[gateprobe] $gate $run sql#$i $fn analysis=${ms(0)}ms " +
            s"optimization=${ms(1)}ms planning=${ms(2)}ms exec=${ms(3)}ms $counts")
          if (run == "cold") {
            val plan = qe.explainString(FormattedMode)
            outDir match {
              case Some(d) =>
                val path = Paths.get(d, s"${gate}_$i.txt")
                Files.writeString(path, plan)
                println(s"[gateprobe] $gate sql#$i plan -> $path")
              case None =>
                println(s"[gateprobe] $gate sql#$i plan:\n$plan")
            }
          }
        }
      } catch { case e: Exception =>
        println(s"[gateprobe] $gate $run failed: $e")
      }
    }
    spark.stop()
  }
}
