package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDedup
import graft.tools.Study

/** Throughput stress for [[StreamingDedup.nearDupPairs]] — dedup ON
  * INGEST: a rate source synthesizes documents with controlled near-dup
  * structure (families of 3 variants sharing a 20-token template, so
  * ~2/3 of docs have an earlier near-dup to find), and the full
  * tokenize → sign → band → keyed-bucket-state path runs under the
  * RocksDB provider, reporting sustained docs/sec, micro-batch latency,
  * and state size from StreamingQueryProgress.
  *
  * Two scenarios: unbounded state (the corpus accumulates — the cost of
  * "dedup against everything ever seen") and a 60-second TTL window
  * (bounded state — "dedup against the recent past", the shape an
  * unbounded 100 TB ingest actually ships).
  *
  * Usage: runMain graft.StressStreamDedup [docsPerSec] [seconds]
  * Results recorded in SCALE.md.
  */
object StressStreamDedup {

  def main(args: Array[String]): Unit = {
    // default sits under the measured ~8k docs/s saturation so an
    // unparameterized run reaches steady state inside the window
    val docsPerSec = if (args.length > 0) args(0).toLong else 5000L
    val seconds = if (args.length > 1) args(1).toInt else 45

    val study = Study("sdedup")
    val spark = study.spark
    val cpus = study.cores
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    /** value → document: family = value/3 shares a 20-token template
      * drawn from a 5000-word vocabulary; variant = value%3 appends one
      * distinguishing token, so same-family docs have jaccard 20/22.
      */
    def docs(): DataFrame = {
      val family = (col("value") / 3L).cast("long")
      val templateWords = (0 until 20).map(j =>
        format_string("w%d", pmod(family * 7919L + j * 104729L, lit(5000L))))
      spark.readStream.format("rate")
        .option("rowsPerSecond", docsPerSec.toString)
        .option("numPartitions", cpus.toString)
        .load()
        .select(
          col("value").as("doc_id"),
          concat_ws(" ",
            (templateWords :+
              format_string("variant%d", pmod(col("value"), lit(3L)))): _*).as("text"))
    }

    def scenario(label: String, ttl: Option[java.time.Duration]): Unit = {
      val ckpt = graft.queries.GateScratch.dir(s"graft-sdedup-$label-").toString
      val q = StreamingDedup.nearDupPairs(
          docs(), numHashes = 16, bands = 8, threshold = 0.8, ttl = ttl)
        .writeStream
        .format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      val steady = progress.drop(3).filter(_.numInputRows > 0)
      if (steady.isEmpty) { println(s"[sdedup] $label: no steady batches"); return }
      // numInputRows counts the BANDED stream (docs × bands) at the
      // state operator; report docs/sec off the source rows instead
      val thr = steady.map(_.processedRowsPerSecond).sorted
      val lat = steady.map(_.batchDuration).sorted
      val stateRows = steady.last.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
      val stateMem = steady.last.stateOperators.headOption.map(_.memoryUsedBytes).getOrElse(-1L)
      println(f"[sdedup] $label%-16s thr_p50=${thr(thr.size / 2)}%,.0f docs/s" +
        f"   batch_p50=${lat(lat.size / 2)}%5d ms  batch_max=${lat.last}%5d ms" +
        f"   state_rows=$stateRows%,d  state_mem=${stateMem / 1024 / 1024}%,d MB" +
        f"   batches=${steady.size}")
    }

    println(s"[sdedup] rate=$docsPerSec docs/s x ${seconds}s per scenario, " +
      s"16 hashes x 8 bands, local[$cpus], rocksdb")
    scenario("unbounded", None)
    scenario("ttl_60s", Some(java.time.Duration.ofSeconds(60)))
    study.stop()
  }
}
