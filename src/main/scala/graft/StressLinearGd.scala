package graft

import org.apache.spark.sql.functions._

import graft.operators.QualityModel
import graft.tools.Study

/** Scale study for the trained quality filter ([[operators.QualityModel]]
  * round 10): per-epoch gradient-pass cost across a replicated documents
  * corpus — the claim under test is that one epoch is ONE distributed
  * scan whose cost is ~linear in corpus size (exponent ≈ 1 across
  * decades), with O(d) driver traffic regardless of rows, and that the
  * map-side scoring pass costs the same as any single filter scan.
  *
  * Replication multiplies rows at constant feature width (the realistic
  * axis for a quality filter: more documents, same featurizer). Each
  * replica perturbs the label threshold's input by a replica-dependent
  * epsilon so replicas are not byte-identical rows.
  *
  * Usage: runMain graft.StressLinearGd <sfDir> <k>
  */
object StressLinearGd {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val study = Study("lineargd")
    val spark = study.spark

    def timed[T](what: String)(f: => T): (T, Double) = {
      val m = study.measure(f)
      println(f"[lineargd] k=$k $what: ${m.seconds}%.2f s  ${m.metrics.summary}")
      (m.value, m.seconds)
    }

    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val reps = spark.range(k).select(col("id").as("rep"))
    val corpus = base.crossJoin(broadcast(reps))
      .select(
        array(
          lit(1.0),
          size(split(trim(col("text")), "\\s+")).cast("double"),
          (col("n_chars") + col("rep") % 7).cast("double"),
          (length(col("text")) - length(expr("replace(text, 'e', '')")))
            .cast("double")).as("features"),
        when(col("n_chars") + col("rep") % 7 > 300, 1.0).otherwise(0.0)
          .as("y"))
      .repartition(study.cores * 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    println(s"[lineargd] k=$k rows=$n")

    val epochs = 3
    val (w, tTrain) = timed(s"trainGD ($epochs epochs = $epochs scans, quantizeDp=9)") {
      QualityModel.trainGD(corpus, "features", "y", dim = 4,
        epochs = epochs, lrLog2 = -17, quantizeDp = 9)
    }
    println(s"[lineargd] k=$k per-epoch: " +
      f"${tTrain / epochs}%.2f s, final w=${w.last.map(x => f"$x%.6g").mkString(",")}")

    val (kept, tScore) = timed("map-side score + filter (1 scan, no shuffle)") {
      corpus.filter(QualityModel.scoreExpr(col("features"), w.last) > 0.5)
        .count()
    }
    println(f"[lineargd] k=$k kept=$kept (${100.0 * kept / n}%.1f%%) " +
      f"train=$tTrain%.2f s score=$tScore%.2f s")
    corpus.unpersist(false)
    study.stop()
  }
}
