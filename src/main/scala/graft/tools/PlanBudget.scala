package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-cost measurement for the budget regression guard
  * (PlanBudgetSpec): runs one registry gate end-to-end and reports
  *
  *   - `shuffles`: shuffle exchanges in the executed plan after AQE —
  *     every one is a full repartition of its input at scale;
  *   - `broadcasts`: broadcast exchanges (cheap but counted, so a
  *     broadcast→shuffle degradation and the reverse both show);
  *   - `jobs`: Spark jobs executed while building AND running the
  *     gate — this is what catches eager materializations
  *     (`localCheckpoint`, `count`, `collect`) that never appear in
  *     the final plan string. The round-6 graph_bfs regression added
  *     five such jobs while the final plan looked identical.
  *
  * Jobs are counted in the gate's own job group, so concurrently
  * running suites (sbt runs test suites in parallel in one JVM) can't
  * pollute the count.
  */
object PlanBudget {

  final case class Cost(shuffles: Int, broadcasts: Int, jobs: Int) {
    override def toString = s"Cost(shuffles=$shuffles, broadcasts=$broadcasts, jobs=$jobs)"
  }

  def measure(spark: SparkSession, sfDir: String, gate: String): Cost = {
    val fn = graft.SparkEntry.queries(gate)
    val group = s"planbudget-$gate-${System.nanoTime()}"
    val metrics = RunMetrics.of(spark.sparkContext)
    val df = RunMetrics.inGroup(spark.sparkContext, group) {
      val df = fn(spark, sfDir)
      df.collect()
      df
    }
    // the tree string carries both the final and the initial AQE plan
    val c = PlanCounts(df.queryExecution.executedPlan.toString)
    Cost(c.exchanges, c.broadcasts, metrics.group(group).jobs.toInt)
  }

  /** Print the measured cost for the given gates (or the committed
    * budget list when none given) — the tool that (re)computes the
    * numbers committed in PlanBudgetSpec.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val gates =
      if (args.length > 1) args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.local("graft-plan-budget")
    gates.foreach { g =>
      val c = measure(spark, sfDir, g)
      println(s"""BUDGET "$g" -> Budget(${c.shuffles}, ${c.broadcasts}, ${c.jobs}),""")
    }
    spark.stop()
  }
}
