package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams
import graft.tools.Study

/** Throughput stress for the streaming operators: a rate source drives
  * the two stateful shapes that dominate real pipelines — session-window
  * aggregation and watermark-bounded dedup — under BOTH state-store
  * backends (default HDFS-heap and RocksDB), reporting sustained
  * processed rows/sec, micro-batch latency, and state size from the
  * engine's own StreamingQueryProgress.
  *
  * What this measures (and the gates can't): the steady-state cost of
  * state maintenance. Correctness gates replay streams over the events
  * table batch-equivalently; this driver answers "how many events/sec
  * does one node sustain, and what does the state store charge for it" —
  * the number that sizes a 1000-executor deployment.
  *
  * Usage: runMain graft.StressStream [rowsPerSec] [seconds]
  * Prints one line per scenario; results recorded in SCALE.md.
  */
object StressStream {

  def main(args: Array[String]): Unit = {
    val rowsPerSec = if (args.length > 0) args(0).toLong else 300000L
    val seconds = if (args.length > 1) args(1).toInt else 45
    val nUsers = 100000L

    val study = Study("stream")
    val spark = study.spark
    val cpus = study.cores
    import spark.implicits._

    val providers = Seq(
      "hdfs_heap" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def source(): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSec.toString)
        .option("numPartitions", cpus.toString)
        .load()
        .select(
          col("value").as("event_id"),
          col("timestamp").as("ts"),
          pmod(col("value"), lit(nUsers)).as("user_id"),
          concat(lit("type_"), pmod(col("value"), lit(7L))).as("event_type"),
          (col("value") % 100L).cast("double").as("value"))

    def scenario(label: String, provider: String, mode: String = "append")(
        pipeline: DataFrame => DataFrame): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      val ckpt = graft.queries.GateScratch.dir(s"graft-stream-$label-").toString
      val q = pipeline(source()).writeStream
        .format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // steady state: drop the warmup batches (source backlog + JIT)
      val steady = progress.drop(3).filter(_.numInputRows > 0)
      if (steady.isEmpty) { println(s"[stream] $label: no steady batches"); return }
      val thr = steady.map(_.processedRowsPerSecond).sorted
      val lat = steady.map(_.batchDuration).sorted
      val stateRows = steady.last.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
      val stateMem = steady.last.stateOperators.headOption.map(_.memoryUsedBytes).getOrElse(-1L)
      println(f"[stream] $label%-24s thr_p50=${thr(thr.size / 2)}%,.0f rows/s" +
        f"   batch_p50=${lat(lat.size / 2)}%5d ms  batch_max=${lat.last}%5d ms" +
        f"   state_rows=$stateRows%,d  state_mem=${stateMem / 1024 / 1024}%,d MB" +
        f"   batches=${steady.size}")
    }

    println(s"[stream] rate=$rowsPerSec rows/s x ${seconds}s per scenario, " +
      s"$nUsers users, local[$cpus]")

    for ((pname, pclass) <- providers) {
      scenario(s"session_window_$pname", pclass)(
        EventStreams.sessionWindowsStream(_, gap = "30 seconds", watermark = "10 seconds"))
      scenario(s"dedup_watermark_$pname", pclass)(
        EventStreams.dedupedEventsStream(_, watermark = "10 seconds"))
    }

    study.stop()
  }
}
