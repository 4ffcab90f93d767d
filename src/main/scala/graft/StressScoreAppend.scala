package graft

import org.apache.spark.sql.functions._

import graft.operators.{QualityModel, TableStore}
import graft.tools.Study

/** Scale study for [[operators.QualityModel.scoreIncremental]] (VERDICT
  * r10 item 6): per-batch cost of maintaining a scored corpus under
  * append-only ingest as the EXISTING state grows across decades.
  *
  * The operator's claim is O(batch + touched partitions), never
  * O(state): scoring is a pure map over the batch (weights as codegen
  * literals) and the aligned insert-only merge opens only the
  * partitions the batch lands in. Two ingest shapes are measured:
  *
  *   - NEW-partition append (the production shape: a new day/source
  *     partition arrives) — cost must stay FLAT as state grows 100×;
  *   - SAME-partition append (re-ingesting into one existing partition)
  *     — cost grows with THAT partition's size (the merge must re-read
  *     and rewrite it to dedup keys), which is the honest contract of
  *     an insert-only merge, reported here so nobody mistakes it for
  *     the flat path.
  *
  * Usage: runMain graft.StressScoreAppend <stateRows>
  */
object StressScoreAppend {
  private val Dim = 4
  private val BatchRows = 20000L
  private val PartsInState = 64

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val study = Study("scoreappend")
    val spark = study.spark

    val w = Array(0.5, 1.5, -0.25, 2.0)
    def docs(from: Long, count: Long, partOf: org.apache.spark.sql.Column) =
      spark.range(from, from + count)
        .select(col("id").as("k"), partOf.as("p"),
          array(lit(1.0), (col("id") % 97).cast("double"),
            (col("id") % 13).cast("double"),
            (col("id") % 7).cast("double")).as("f"))

    val root = java.nio.file.Files.createTempDirectory("graft-scoreappend-")
    val store = new TableStore(spark, root.toString)
    def timed[T](f: => T): Double = study.measure(f).seconds

    // state: n rows over PartsInState partitions p0..p63
    val tState = timed {
      QualityModel.scoreIncremental(store, "scored",
        docs(0, n, concat(lit("p"), (col("id") % PartsInState).cast("string"))),
        "f", w, keyCol = "k", partCol = "p")
    }
    println(f"[scoreappend] state=$n build: $tState%.2f s")

    // new-partition append: the batch lands entirely in a fresh pNEW
    val tNew = timed {
      QualityModel.scoreIncremental(store, "scored",
        docs(n, BatchRows, lit("pNEW")), "f", w, keyCol = "k", partCol = "p")
    }
    // same-partition append: the batch lands in existing p0
    val tSame = timed {
      QualityModel.scoreIncremental(store, "scored",
        docs(n + BatchRows, BatchRows, lit("p0")),
        "f", w, keyCol = "k", partCol = "p")
    }
    val total = store.read("scored").count()
    println(f"[scoreappend] state=$n batch=$BatchRows " +
      f"new_partition=$tNew%.2f s same_partition=$tSame%.2f s rows=$total")
    study.stop()
  }
}
