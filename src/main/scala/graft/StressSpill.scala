package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.Study

/** Spill-pressure study (round-6 verdict item 8): run the engine's
  * shuffle-heaviest shapes twice — once with default execution memory,
  * once with `spark.memory.fraction` crushed (default 0.12 ≈ the
  * per-task memory a 100 TB job sees when partitions outgrow executor
  * heap; 0.05 is BELOW Spark's workable floor — task page allocation
  * itself fails with UNABLE_TO_ACQUIRE_MEMORY before any operator can
  * spill, a Spark-core bound, not an operator bug — measured here and
  * recorded in SCALE.md) —
  * and verify results are HASH-IDENTICAL while recording how many
  * bytes each workload spilled to disk. The claim under test: every
  * operator degrades to spill, none degrades to OOM or wrong answers.
  *
  * Workloads (replicated-k lineitem/documents, same scaling trick as
  * [[StressRelational]]):
  *   1. high-cardinality hash aggregate (groupBy l_orderkey)
  *   2. global two-phase rank (TotalOrder over l_extendedprice)
  *   3. sort-merge self-join on a non-broadcastable key
  *   4. MinHash signatures + LSH banding over documents
  *
  * Usage: runMain graft.StressSpill <sfDir> [k] [fraction]
  * Results recorded in SCALE.md §spill.
  */
object StressSpill {

  /** Each workload returns a single order-independent checksum row so
    * the constrained-memory run is comparable value-for-value.
    */
  private def workloads(spark: SparkSession, sfDir: String, k: Int)
      : Seq[(String, () => String)] = {
    import spark.implicits._
    def rep(name: String): DataFrame = {
      val base = Tables.load(spark, sfDir, name)
      (0 until k).map(i => base.withColumn("__rep", lit(i))).reduce(_ unionByName _)
    }
    val li = rep("lineitem")
    // disjoint-vocab replication (the Stress trick): per-replica token
    // suffixes keep cross-replica jaccard at 0, so LSH candidates grow
    // LINEARLY in k — naive text replication floods every band bucket
    // with k copies and the candidate join goes quadratic in k (measured:
    // 185 s / 5.1 GB spill at k=8 before this)
    val docs = rep("documents")
      .select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            t => concat(t, lit("_r"), col("__rep")))).as("text"))

    Seq(
      ("hash-agg groupBy orderkey", () =>
        li.groupBy(col("l_orderkey"), col("__rep"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
            count(lit(1)).as("n"))
          .agg(sum(crc32(concat_ws("|", col("l_orderkey"), col("__rep"),
            col("q"), col("n")))).as("chk"))
          .as[Option[java.math.BigDecimal]].head().map(_.toString).getOrElse("∅")),
      ("two-phase global rank", () =>
        graft.operators.TotalOrder.rowNumber(
            li.select(col("l_extendedprice"), col("l_orderkey"), col("__rep")),
            Seq(col("l_extendedprice").asc, col("l_orderkey").asc, col("__rep").asc))
          .agg(sum(crc32(concat_ws("|", col("l_orderkey"), col("__rep"),
            col("rn")))).as("chk"))
          .as[Option[java.math.BigDecimal]].head().map(_.toString).getOrElse("∅")),
      ("sort-merge self-join", () => {
        val a = li.select(col("l_partkey"), col("l_orderkey"), col("__rep"))
        val b = li.select(col("l_partkey"),
          col("l_orderkey").as("rk"), col("__rep").as("rrep"))
        a.hint("merge").join(b, Seq("l_partkey"))
          .filter(col("l_orderkey") % 500 === col("rk") % 500)
          .agg(count(lit(1)).cast("string").as("chk")).as[String].head()
      }),
      ("minhash + LSH banding", () => {
        val sigs = graft.operators.Dedup.minHashSignature(
          docs, "doc_id", "text", numHashes = 32)
        graft.operators.Dedup.minHashCandidates(sigs, numHashes = 32, bands = 8)
          .agg(sum(crc32(concat_ws("|", col("id1"), col("id2")))).as("chk"))
          .as[Option[java.math.BigDecimal]].head().map(_.toString).getOrElse("∅")
      }))
  }

  private def run(sfDir: String, k: Int, memFraction: Option[Double])
      : Seq[(String, String, Long, Long, Double)] = {
    val study = Study(s"spill-${memFraction.getOrElse("default")}",
      memFraction.toSeq.flatMap(f => Seq(
        "spark.memory.fraction" -> f.toString,
        "spark.memory.storageFraction" -> "0.1")): _*)
    val out = workloads(study.spark, sfDir, k).map { case (name, body) =>
      val m = study.measure(body())
      (name, m.value, m.metrics.memorySpillBytes, m.metrics.diskSpillBytes, m.seconds)
    }
    study.stop()
    // a fresh session per configuration — SparkContext confs are fixed
    // at startup, so memory.fraction can't be toggled in place
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val squeezeFraction = if (args.length > 2) args(2).toDouble else 0.12

    val baseline = run(sfDir, k, None)
    val squeezed = run(sfDir, k, Some(squeezeFraction))

    val pct = f"${squeezeFraction * 100}%.0f%%"
    println(f"[stress-spill] ${"workload"}%-26s ${"spill(base)"}%14s ${s"spill($pct)"}%14s ${"t base"}%8s ${s"t $pct"}%8s  match")
    baseline.zip(squeezed).foreach {
      case ((name, c1, _, d1, t1), (_, c2, _, d2, t2)) =>
        val ok = if (c1 == c2) "OK" else s"MISMATCH $c1 != $c2"
        println(f"[stress-spill] $name%-26s ${d1 / 1e6}%12.1f MB ${d2 / 1e6}%12.1f MB $t1%7.1fs $t2%7.1fs  $ok")
    }
    require(baseline.map(_._2) == squeezed.map(_._2),
      "constrained-memory run changed results")
    println("[stress-spill] all checksums identical under memory pressure")
  }
}
