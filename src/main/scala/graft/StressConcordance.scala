package graft

import org.apache.spark.sql.functions._

import graft.operators.Concordance
import graft.tools.Study

/** Scale study for the bucket-grid concordance decomposition (VERDICT
  * r9 item 8): wall time at 1×/10×/100× the sf-cohort under the
  * B ≈ √n policy, plus a SKEWED variant (heavy-hitter value on half
  * the rows + one extreme outlier) that the round-10 equi-depth bucket
  * map must absorb — under the old equal-width map the outlier
  * collapsed every other row into one impure bucket and the
  * "bounded" in-bucket join went data-sized. Exactness at stress scale
  * is checked WITHOUT the infeasible quadratic join: the decomposition
  * is exact for every bucket count, so counts at B and at 4B must be
  * IDENTICAL (any in-bucket/algebra miscount would move between
  * classes when boundaries move).
  *
  * Usage: runMain graft.StressConcordance <sfDir> <k>
  */
object StressConcordance {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val study = Study("concscale")
    val spark = study.spark

    def timed[T](what: String)(f: => T): (T, Double) = {
      val m = study.measure(f)
      println(f"[concscale] k=$k $what: ${m.seconds}%.2f s  ${m.metrics.summary}")
      (m.value, m.seconds)
    }

    // the a93_cindex_scalable cohort shape, replicated ×k with a tiny
    // replica-dependent score perturbation (distinct-value count grows
    // with k, as a real cohort's would)
    val base = Tables.load(spark, sfDir, "lineitem").as("l")
      .join(Tables.load(spark, sfDir, "orders").as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .filter(col("l.l_orderkey") % 3 === 0)
      .select(
        (floor(unix_timestamp(col("l.l_shipdate")) / 86400)
          - floor(unix_timestamp(col("o.o_orderdate")) / 86400))
          .cast("int").as("dur"),
        (col("l.l_returnflag") =!= "R").cast("boolean").as("ev"),
        col("l.l_extendedprice").cast("double").as("score"),
        col("l.l_orderkey").as("okey"))
    val reps = spark.range(k).select(col("id").as("rep"))
    val cohort = base.crossJoin(broadcast(reps))
      .select(col("dur"), col("ev"),
        (col("score") + col("rep") * 1e-5).as("score"), col("okey"), col("rep"))
      .repartition(study.cores * 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cohort.count()
    val b = math.max(64, math.sqrt(n.toDouble).toInt)
    println(s"[concscale] k=$k rows=$n B=$b (~sqrt-n policy)")

    def run(df: org.apache.spark.sql.DataFrame, buckets: Int) = {
      val r = Concordance.counts(df, "dur", "score", col("ev"), buckets).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    val (u1, tUniform) = timed(s"uniform B=$b")(run(cohort, b))
    println(s"[concscale] uniform counts=$u1")
    // exactness invariance: boundaries move, counts must not
    val (u2, _) = timed(s"uniform B=${4 * b} (invariance twin)")(
      run(cohort, 4 * b))
    require(u1 == u2, s"bucket-count variance: $u1 at B=$b vs $u2 at B=${4 * b}")

    // skew: half the rows share ONE score value (heavy hitter — must
    // isolate into a pure bucket and cost algebra, not a join) and one
    // row carries an extreme outlier duration (under equal-width this
    // single row collapsed the whole dur axis into one bucket)
    val skewed = cohort
      .withColumn("score",
        when(col("okey") % 2 === 0, lit(50000.0)).otherwise(col("score")))
      .withColumn("dur",
        when(col("okey") === 3 && col("rep") === 0, lit(1000000000))
          .otherwise(col("dur")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    skewed.count()
    val (s1, tSkew) = timed(s"skewed B=$b")(run(skewed, b))
    println(s"[concscale] skewed counts=$s1")
    val (s2, _) = timed(s"skewed B=${4 * b} (invariance twin)")(
      run(skewed, 4 * b))
    require(s1 == s2, s"skewed bucket-count variance: $s1 vs $s2")

    println(f"[concscale] RESULT k=$k rows=$n B=$b " +
      f"uniform=$tUniform%.2f skewed=$tSkew%.2f")
    study.stop()
  }
}
