package graft

import org.apache.spark.sql.functions._

import graft.operators.TableStore
import graft.tools.Study

/** Small-files stress: the classic lakehouse failure mode measured.
  * The ×100 events table (60M rows) is written three ways — shattered
  * into thousands of small files (what per-batch appends produce),
  * OPTIMIZE-compacted to a sane file count, and compacted+z-ordered —
  * and the same selective scan + full aggregate run against each.
  *
  * What it isolates: footer/open overhead per file (the scan plans one
  * split per tiny file), min/max pruning efficacy after clustering, and
  * that the engine's own `TableStore.compact` / `overwriteClustered`
  * close the gap. At 100 TB the shattered layout is not 2× slower, it
  * is a cluster outage — listing and opening 10^7 files dominates I/O.
  *
  * Usage: runMain graft.StressCompact [replicas]
  * Results recorded in SCALE.md.
  */
object StressCompact {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 100
    val shatterFiles = 4000
    val study = Study("compact")
    val spark = study.spark
    val cpus = study.cores

    val reps = spark.range(k).select(col("id").as("rep"))
    val events = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * 1000000000L)
      .drop("rep")
      .localCheckpoint(true)
    val n = events.count()
    println(s"[compact] corpus: $n event rows, local[$cpus]")

    val store = new TableStore(spark,
      graft.queries.GateScratch.dir("graft-compact-").toString)

    def timeScan(label: String): Unit = {
      def t(what: String)(f: => Long): Unit =
        println(s"[compact] rows=${study.timed(s"$label $what")(f)}")
      t("selective_scan") {
        store.read("ev")
          .filter(col("user_id").between(100, 120) && col("value") > 50)
          .count()
      }
      t("full_agg") {
        store.read("ev")
          .groupBy(col("event_type"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
          .count()
      }
    }

    // 1. shattered: thousands of tiny files (per-batch append pattern)
    study.timed(s"write shattered ($shatterFiles files)") {
      store.overwrite("ev", events.repartition(shatterFiles))
    }
    timeScan(s"shattered_$shatterFiles")

    // 2. OPTIMIZE to one file per core
    study.timed(s"OPTIMIZE -> $cpus files")(store.compact("ev", cpus))
    timeScan(s"compacted_$cpus")

    // 3. compact + z-order on the selective-scan dimensions
    study.timed(s"z-order(user_id,value) -> $cpus files") {
      store.compactClustered("ev", Seq("user_id", "value"), cpus)
    }
    timeScan("zordered")

    study.stop()
  }
}
