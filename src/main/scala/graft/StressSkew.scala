package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.tools.Study

/** Scale-stress driver for skewed shuffle joins: one hot key owning a
  * configurable fraction of a generated fact table, joined against a
  * dimension deliberately too large to broadcast. Runs the SAME join
  * three ways and reports wall-clock plus per-task duration spread (the
  * skew signature is max-task ≫ p50-task):
  *
  *   1. `smj_unmitigated` — AQE skew split disabled: the hot key's
  *      rows land on ONE sort-merge task; the stage runs at the speed
  *      of that task.
  *   2. `aqe_skew_split`  — AQE skew-join enabled (the engine default,
  *      `GraftSession` turns it on): the oversized partition is split
  *      into per-split joins against a replicated other side at
  *      runtime. No query change.
  *   3. `salted_join`     — `Skew.saltedJoin`: deterministic per-row
  *      salt on the big side, dim replicated `saltBuckets`×. The plan
  *      a 100 TB pipeline writes when it cannot rely on runtime
  *      re-planning (e.g., the hot side feeds further co-partitioned
  *      stages and the split must be stable across runs).
  *
  * The skew thresholds are lowered so AQE's detector fires at local
  * stress sizes (hot partition ~hundreds of MB, not the 256 MB-default
  * regime × 1000-executor scale); at production scale the defaults
  * trigger on the same shape without tuning.
  *
  * Usage: runMain graft.StressSkew [rows] [hotPct]
  * Prints one line per variant; results recorded in SCALE.md.
  */
object StressSkew {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 50000000L
    val hotPct = if (args.length > 1) args(1).toInt else 30
    val nKeys = 2000000L
    val hotKey = 42L

    val study = Study("skew")
    val spark = study.spark
    val cpus = study.cores
    // no broadcast escape hatch: the dim must shuffle so the join can skew
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // detector sized for local stress volumes (defaults assume executor-
    // scale partitions); factor stays at the 5x-median default
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    // fact: hotPct% of rows on ONE key, the rest uniform over nKeys.
    // Deterministic (id-derived) so every variant joins identical data.
    val fact = spark.range(rows).select(
      when(pmod(col("id"), lit(100L)) < hotPct, lit(hotKey))
        .otherwise(pmod(hash(col("id")), lit(nKeys))).as("key"),
      (col("id") % 1000L).cast("double").as("v"))
    // dim: 2M rows x ~100B payload ≈ 200 MB serialized — over any sane
    // broadcast budget, so the join must shuffle both sides.
    val dim = spark.range(nKeys).select(
      col("id").as("key"),
      concat(lit("payload_"), lpad(col("id").cast("string"), 80, "x")).as("tag"),
      (col("id") % 97L).cast("double").as("w"))

    // max task vs p50 task is the direct evidence of whether one
    // straggler task carried the stage
    def run(label: String)(job: => DataFrame): Unit = {
      val m = study.measure(job.agg(
          count(lit(1)).as("n"),
          sum((col("v") * col("w")).cast("decimal(28,2)")).as("chk"))
        .collect()(0))
      val (res, t) = (m.value, m.metrics)
      println(f"[skew] $label%-16s ${m.seconds}%7.1f s   rows=${res.getLong(0)}" +
        f"   chk=${res.getDecimal(1)}   tasks=${t.tasks}%4d" +
        f"  task_p50=${t.p50TaskMs / 1e3}%6.1f s  task_max=${t.maxTaskMs / 1e3}%6.1f s")
    }

    println(s"[skew] fact=$rows rows ($hotPct% on one key), dim=$nKeys rows, " +
      s"local[$cpus]")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    run("smj_unmitigated") { fact.join(dim, "key") }

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    run("aqe_skew_split") { fact.join(dim, "key") }

    run("salted_join") { Skew.saltedJoin(fact, dim, Seq("key"), saltBuckets = cpus * 4) }

    // hot/cold split: detection is a seeded sample (bounded driver
    // traffic), hot rows broadcast-join the hot dim slice
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val hotKeys = study.timed("detect_hot_keys") {
      Skew.detectHotKeys(fact, "key", sampleFraction = 0.0001)
    }
    println(s"[skew] hot keys found=${hotKeys.sortBy(_.toString).mkString(",")}")
    run("hot_cold_split") { Skew.hotKeyJoin(fact, dim, "key", hotKeys) }

    // control: the same volume with NO hot key — the floor this join
    // costs when perfectly uniform
    val uniform = spark.range(rows).select(
      pmod(hash(col("id")), lit(nKeys)).as("key"),
      (col("id") % 1000L).cast("double").as("v"))
    run("uniform_control") { uniform.join(dim, "key") }

    study.stop()
  }
}
