package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TableStore}
import graft.tools.Study

/** IVF cell-rebalance cost study (VERDICT r12 item 6's second half):
  * [[AnnIndex.rebalance]] claims O(split-cell rows × centroids), never
  * O(index) — this measures it against the full rebuild across corpus
  * decades, with the SAME oversize threshold policy at every decade
  * (1.2× the mean cell size, so natural assignment variance yields a
  * handful of split cells per run).
  *
  * Expected shape, stated honestly: a split cell holds ~n/cells ≈ √n
  * vectors, so rebalancing s cells pays O(s·√n·cells) = O(s·n)
  * assignment arithmetic but only O(s·√n) partition IO, against the
  * rebuild's O(n·√n) IO + O(n·cells) arithmetic — bytes read is the
  * honest separator (the study prints both), and it should widen a
  * decade per corpus decade at fixed s.
  *
  * Usage: runMain graft.StressAnnRebalance <sfDir>
  */
object StressAnnRebalance {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val study = Study("stress-annreb")
    val spark = study.spark
    import study.timed

    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    for (k <- Seq(1, 4, 16)) {
      // the StressAnn sign-flip replica construction: k distinct
      // geometries, preserved norms = the corpus decade
      val replicas = spark.range(k).select(col("id").cast("int").as("rep"))
      val corpus = base.crossJoin(replicas)
        .select(
          (col("vec_id") + col("rep").cast("long") * 10000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x)
              .otherwise(-x)).as("embedding"))
        .repartition(study.cores * 2)
        .localCheckpoint(true)
      val n = corpus.count()
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val root = graft.queries.GateScratch.dir("graft-stress-reb-").toString
      val store = new TableStore(spark, root)
      timed(s"build(n=$n cells=$cells)") {
        AnnIndex.build(store, "reb", corpus, numCells = cells)
      }
      val h = AnnIndex.open(store, "reb")
      val threshold = (1.2 * n / cells).toLong
      val splits = h.postings.groupBy(col("cell_id")).count()
        .filter(col("count") > threshold).count()
      println(s"[stress-annreb] === n=$n cells=$cells threshold=$threshold splits=$splits ===")
      timed(s"rebalance(splits=$splits)") {
        AnnIndex.rebalance(h, maxCellSize = threshold, subCells = 2,
          refineIterations = 1)
      }
      timed(s"rebuild(n=$n cells=${cells + splits})") {
        AnnIndex.build(store, "full", corpus, numCells = cells + splits.toInt)
      }
      // probe sanity: the rebalanced index still serves
      val q = corpus.filter(pmod(col("vec_id"), lit(10000000L)) < 4)
        .limit(8).localCheckpoint(true)
      timed("probe_after_rebalance(q=8)") {
        AnnIndex.search(h, q, k = 10, nprobe = math.max(4, cells / 16))
          .localCheckpoint(true)
      }
    }
    study.stop()
  }
}
