package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe
import graft.tools.Study

/** BPE training scale study: sequential (batchSize=1) vs batched
  * (round-6 change) on the documents corpus, same JVM so codegen and
  * scan caches are warm for both. The interesting number is jobs saved:
  * training cost is (rounds × per-round vocab aggregate), and batching
  * shrinks rounds while BpeSpec pins the merge list bit-identical.
  *
  * Usage: runMain graft.StressBpe <sfDir> [numMerges]
  */
object StressBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numMerges = if (args.length > 1) args(1).toInt else 40
    val study = Study("stress-bpe")
    val spark = study.spark
    import study.timed

    val docs = Tables.load(spark, sfDir, "documents")
    docs.count() // warm the scan

    // warm-up round so neither variant pays first-job costs
    Bpe.train(docs.limit(200), "text", 5)

    val seq = timed(s"sequential x$numMerges") {
      Bpe.train(docs, "text", numMerges, batchSize = 1)
    }
    val bat = timed(s"batched(16) x$numMerges") {
      Bpe.train(docs, "text", numMerges, batchSize = 16)
    }
    require(seq == bat, "batched merge list diverged from sequential")
    println(s"[stress-bpe] merge lists identical (${seq.size} merges)")
    study.stop()
  }
}
