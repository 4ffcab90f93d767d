package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.queries.Registry
import graft.tools.Study

/** Scale-up stress for the relational core: replicates the fact tables
  * (lineitem, orders) k× with per-replica ORDERKEY offsets — so order↔
  * lineitem join cardinality is preserved exactly while every dim key's
  * fan-out grows k× ("more facts, same dims", which is what a growing
  * warehouse actually looks like) — then re-runs registered §2/TPC-H
  * gate queries UNCHANGED against a symlink farm (scaled facts +
  * original dims) and reports the wall-clock ratio vs the k× data
  * growth.
  *
  * The pass/fail intuition: a query whose plan is scan→partial-agg→
  * final-agg or broadcast-star should scale ≈linearly (ratio ≈ k up to
  * fixed costs); anything super-linear has a hidden quadratic or a
  * collapsed partition. Because the queries come straight from the
  * Registry, this measures the exact code the correctness gate pins.
  *
  * Usage: runMain graft.StressRelational [k]
  * Results recorded in SCALE.md.
  */
object StressRelational {

  private val queries = Seq(
    "q1_agg", "a5_conditional_agg", "a4_count_distinct", "j3_star_join",
    "w2_top1_per_group", "o2_topk", "tpch_q3_shape", "tpch_q5_shape",
    "tpch_q9_shape", "tpch_q18_shape", "tpch_q21_shape", "skew_hotcold_join")

  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 100
    val baseDir = "/root/testdata/sf0.1"
    val scaledDir = s"/tmp/graft_scaled_x$k"

    val study = Study("scale")
    val spark = study.spark
    val cpus = study.cores

    // ---- build the scaled symlink farm (idempotent) -------------------
    if (!Files.exists(Paths.get(s"$scaledDir/.done"))) {
      Files.createDirectories(Paths.get(scaledDir))
      val reps = spark.range(k).select(col("id").as("rep"))
      val keyStride = 1000000000L
      def scaleFacts(table: String, keyCol: String): Unit =
        study.timed(s"built $table x$k") {
          Tables.load(spark, baseDir, table)
            .crossJoin(reps)
            .withColumn(keyCol, col(keyCol) + col("rep") * keyStride)
            .drop("rep")
            .repartition(cpus * 4)
            .write.mode("overwrite").parquet(s"$scaledDir/$table.parquet")
        }
      scaleFacts("lineitem", "l_orderkey")
      scaleFacts("orders", "o_orderkey")
      for (t <- Seq("customer", "supplier", "part", "nation", "region",
          "events", "documents", "embeddings")) {
        val link = Paths.get(s"$scaledDir/$t.parquet")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, Paths.get(s"$baseDir/$t.parquet"))
      }
      Files.writeString(Paths.get(s"$scaledDir/.done"), "ok")
    }

    // ---- time each registry query at 1x and kx ------------------------
    val byName = Registry.all.map(q => q.name -> q).toMap
    println(s"[scale] facts x$k (${"%,d".format(60004L * k)} lineitem rows), " +
      s"dims unchanged, local[$cpus]")
    println(f"[scale] ${"query"}%-20s ${"base_s"}%8s ${"scaled_s"}%9s ${"ratio"}%7s  (linear = $k)")
    for (name <- queries; q <- byName.get(name)) {
      def time(dir: String): Double = study.measure(q.build(spark, dir).count()).seconds
      val base = time(baseDir)
      val scaled = time(scaledDir)
      println(f"[scale] $name%-20s $base%8.2f $scaled%9.1f ${scaled / base}%7.1f")
    }
    study.stop()
  }
}
