package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Node counts of a physical plan's tree string — the plan evidence
  * PlanBudget pins and GateProbe reports.
  *
  *   - `exchanges`: shuffle exchanges of every partitioning flavor —
  *     RoundRobinPartitioning is exactly the "someone added a
  *     .repartition(n)" regression (ReusedExchange prints without a
  *     partitioning clause, so it never inflates the count);
  *   - `broadcasts`: broadcast exchanges;
  *   - `parquetScans`: file scans of parquet tables;
  *   - `existingRdds`: scans of frozen (checkpointed) frames;
  *   - `lambdas`: higher-order-function lambdas (interpreted per row).
  */
final case class PlanCounts(
    exchanges: Int, broadcasts: Int, parquetScans: Int, existingRdds: Int, lambdas: Int) {
  override def toString: String =
    s"exchange=$exchanges broadcast=$broadcasts scan_parquet=$parquetScans " +
      s"existing_rdd=$existingRdds lambdafunction=$lambdas"
}

object PlanCounts {
  private val Shuffle =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)".r

  def apply(tree: String): PlanCounts = {
    def n(s: String) = s.r.findAllIn(tree).size
    PlanCounts(Shuffle.findAllIn(tree).size, n("BroadcastExchange"), n("Scan parquet"),
      n("ExistingRDD"), n("lambdafunction"))
  }

  /** `plan` with every adaptive node replaced by the plan it settled on,
    * so the tree string holds the AQE-final plan only.
    */
  def finalPlan(plan: SparkPlan): SparkPlan = plan.transformUp {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
  }
}
