package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedup
import graft.tools.Study

/** State-size scaling for streaming near-dup dedup (VERDICT r8 item 5:
  * the streaming family had rate-axis numbers but no state-axis 100×
  * point). [[StressStreamDedup]] answers "how many docs/sec does one
  * node sustain"; this answers the orthogonal question a long-lived
  * ingest pipeline actually hits: as the RocksDB state grows from 50k
  * to 5M indexed documents, what happens to the cost of the NEXT
  * batch?
  *
  * Method: a MemoryStream feeds fixed-size triggers (so per-batch work
  * offered is CONSTANT), state accumulates across triggers with no
  * TTL, and we record each trigger's wall-clock. The claim under test:
  * per-batch cost is O(batch × colliding-bucket population), NOT
  * O(state) — bucket keys are (band, band-hash) pairs, new docs only
  * open/extend the buckets they fall in, and RocksDB point lookups are
  * ~log(state). A flat trigger-time curve across two decades of state
  * is the measurement; a rising one is a super-linear bug.
  *
  * The document generator plants a 3% duplicate rate across the WHOLE
  * history (a late doc can match the very first trigger), so bucket
  * collisions — the thing that could scale with state — are genuinely
  * exercised, not avoided.
  *
  * Usage: runMain graft.StressStreamState [docsPerTrigger] [triggers] [minDeltasForSnapshot]
  * Results in SCALE.md §streaming-state.
  */
object StressStreamState {

  def main(args: Array[String]): Unit = {
    val docsPerTrigger = if (args.length > 0) args(0).toInt else 50000
    val triggers = if (args.length > 1) args(1).toInt else 100

    val study = Study("sstate")
    val spark = study.spark
    val cpus = study.cores
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: upload only the per-batch delta, not a
    // full RocksDB snapshot per trigger. Without it this study's
    // checkpoint dir grows O(state × triggers) — the first 5M-doc run
    // hit 32 GB of snapshots before finishing — which measures
    // checkpoint IO, not the lookup scaling the study is after. This is
    // also the right production setting for a long-lived large-state
    // query; pair with a bounded retain horizon.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    // args(2): snapshot cadence (batches between full RocksDB snapshot
    // constructions). The default (10) folds an O(state) snapshot into
    // every 10th trigger; raising it isolates the pure lookup/commit
    // cost — the A/B that attributes any rising trigger-time tail to
    // snapshot maintenance (tunable, async-able) vs per-lookup growth
    // (a scaling bug). See SCALE.md §streaming-state.
    if (args.length > 2)
      spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", args(2))
    import spark.implicits._

    // splitmix64 finalizer: content keys must not alias across 5M docs
    def mix(a: Long, b: Long): Long = {
      var z = a * 0x9E3779B97F4A7C15L + b
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & 0x7fffffffffffffL
    }
    // 3% of docs duplicate an earlier family (uniform over history so
    // late batches collide with old state); the rest are unique
    def docText(id: Long): String = {
      val fam = if (id % 33 == 0 && id > 100) mix(id, 7) % (id / 2 + 1) else id
      (0 until 20).map(j => "w" + mix(fam, j) % 5000000).mkString(" ")
    }

    val mem = MemoryStream[Long](spark, numPartitions = cpus)
    val pairs = StreamingDedup.nearDupPairs(
      mem.toDF().select(col("value").as("doc_id"),
        udf(docText _).apply(col("value")).as("text")),
      numHashes = 16, bands = 8, threshold = 0.8, estMargin = 0.15)

    val scratch = graft.queries.GateScratch.dir("graft-sstate-")
    val q = pairs.writeStream
      .format("memory").queryName("sstate_pairs").outputMode("append")
      .option("checkpointLocation", s"$scratch/ckpt")
      .start()

    val times = new Array[Double](triggers)
    var t = 0
    var next = 0L
    while (t < triggers) {
      mem.addData((next until next + docsPerTrigger))
      next += docsPerTrigger
      val t0 = System.nanoTime()
      q.processAllAvailable()
      times(t) = (System.nanoTime() - t0) / 1e9
      val state = next
      // report on decade boundaries + a running picture every 10
      if (t < 3 || (t + 1) % 10 == 0)
        println(f"[sstate] trigger ${t + 1}%3d  state=$state%9d docs  " +
          f"batch=${times(t)}%6.2f s")
      t += 1
    }
    val found = spark.table("sstate_pairs").count()
    println(s"[sstate] pairs found: $found")
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val first = median(times.slice(1, 11).toSeq)
    val last = median(times.takeRight(10).toSeq)
    println(f"[sstate] median trigger time: first decade ${first}%.2f s, " +
      f"last decade ${last}%.2f s, ratio ${last / first}%.2fx " +
      f"(state grew ${triggers}x trigger size)")
    q.stop()
    study.stop()
  }
}
