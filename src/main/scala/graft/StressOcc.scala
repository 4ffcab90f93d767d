package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.operators.{OptimisticWriter, TableStore}
import graft.tools.Study

/** Scale-stress driver for the optimistic multi-writer layer: N writer
  * threads each compute and commit a partition-scoped replace of their
  * OWN partition slice of one shared table, comparing
  *
  *   1. `serialized` — the plain [[TableStore.overwritePartitions]]
  *      path, where the table lock is held for the WHOLE operation
  *      (Spark job included): writers queue; total wall-clock is the
  *      sum of the jobs.
  *   2. `optimistic` — [[OptimisticWriter.commitReplacePartitions]]:
  *      every writer stages its Spark job concurrently OUTSIDE the
  *      lock; only the file-move + version-bump critical sections
  *      serialize. Total wall-clock approaches the slowest single job
  *      plus N tiny commits.
  *
  * Also reported: mean/max commit-critical-section time (the part that
  * cannot parallelize — Amdahl's serial fraction of the writer fleet)
  * and the retry count (zero here: the slices are disjoint by
  * construction, which is the workload OCC is FOR; overlapping writers
  * degrade to the serialized path by retrying).
  *
  * At 100 TB the same shape holds: commit cost is O(partition file
  * count) renames, never O(data), so writer concurrency is bounded by
  * conflict rate — not by table size or lock hold time.
  *
  * Usage: runMain graft.StressOcc [writers] [rowsPerPartition]
  * Results recorded in SCALE.md §occ.
  */
object StressOcc {

  def main(args: Array[String]): Unit = {
    val writers = if (args.length > 0) args(0).toInt else 8
    val rowsPer = if (args.length > 1) args(1).toLong else 2000000L
    val study = Study("stress-occ")
    val spark = study.spark

    def freshTable(root: String): TableStore = {
      // the serialized scenario intentionally queues all writers on one
      // lock: the wait budget must cover (writers - 1) x job time, or
      // late writers time out and the "serialized" total undercounts
      // (seen at 8 x 250k: two writers dropped at the 3 s default)
      val store = new TableStore(spark, root, lockWaitMs = 600000)
      val base = spark.range(writers.toLong * rowsPer)
        .select(col("id").as("k"),
          concat(lit("p"), (col("id") % writers).cast("string")).as("p"),
          lit("old").as("v"))
      store.overwrite("t", base, partitionBy = Seq("p"))
      store
    }
    def slice(i: Int) = spark.range(rowsPer)
      .select((col("id") * writers + i).as("k"),
        lit(s"p$i").as("p"),
        sha2(concat(lit(i.toString), col("id").cast("string")), 256).as("v"))

    // ---- 1. serialized: lock held across each full Spark job --------
    val st1 = freshTable(graft.queries.GateScratch.dir("graft-occ-serial-").toString)
    val t1 = System.nanoTime()
    val serialThreads = (0 until writers).map { i =>
      new Thread(() => st1.overwritePartitions("t", slice(i), "p", Seq(s"p$i")))
    }
    serialThreads.foreach(_.start()); serialThreads.foreach(_.join())
    val serialSec = (System.nanoTime() - t1) / 1e9

    // ---- 2. optimistic: jobs stage concurrently, commits serialize --
    val st2 = freshTable(graft.queries.GateScratch.dir("graft-occ-opt-").toString)
    val occ = new OptimisticWriter(st2)
    val commitNanos = new AtomicLong(0)
    val maxCommit = new AtomicLong(0)
    val start = new CountDownLatch(1)
    val t2 = System.nanoTime()
    occ.commitTimer = dt => {
      commitNanos.addAndGet(dt)
      maxCommit.getAndUpdate(m => math.max(m, dt))
    }
    val optThreads = (0 until writers).map { i =>
      new Thread(() => {
        start.await()
        // the REAL public path: conflict check + txlog record included
        occ.commitReplacePartitions(occ.begin("t"), slice(i), "p", Seq(s"p$i"))
      })
    }
    optThreads.foreach(_.start()); start.countDown(); optThreads.foreach(_.join())
    val optSec = (System.nanoTime() - t2) / 1e9

    val check = st2.read("t").filter(col("v") =!= "old").count()
    require(check == writers.toLong * rowsPer, s"lost rows: $check")

    println(f"serialized  writers=$writers rows/part=$rowsPer  ${serialSec}%.1f s  " +
      f"(lock held ~${serialSec / writers * 1000}%.0f ms per write = the whole job)")
    println(f"optimistic  writers=$writers rows/part=$rowsPer  ${optSec}%.1f s  " +
      f"(speedup ${serialSec / optSec}%.1fx; lock held ${commitNanos.get / writers / 1e6}%.0f ms " +
      f"mean / ${maxCommit.get / 1e6}%.0f ms max per commit)")
    study.stop()
  }
}
