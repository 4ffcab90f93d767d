package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.tools.Study

/** Scale-stress driver for the ANN family: replicates the sf embeddings
  * corpus `k`× under per-replica Rademacher sign flips — elementwise
  * ±1 masks drawn from `hash(rep, dim)`. A sign mask preserves norms
  * AND within-replica dot products exactly ((s∘x)·(s∘y) = x·y), while
  * cross-replica dot products become random-sign sums ≈ 0 — so the
  * replicated corpus is n·k geometrically DISTINCT vectors whose true
  * neighbor structure is k disjoint copies of the base corpus's, and no
  * two replicas collide (2^dim masks).
  *
  * Measures, per scale: exact brute-force top-10 over a bounded query
  * set (the ground truth — linear in k·|corpus|·|queries|), IVF
  * build+search time with cells scaled as ~sqrt(n), and recall@10 of
  * IVF vs exact. At local corpus sizes (~130 MB of postings) the scan
  * is job-overhead-bound, so the input bytes each stage prints, not
  * its seconds, are the honest measure of what cell pruning saves.
  *
  * Usage: runMain graft.StressAnn <sfDir> <replicas> [nQueries]
  * Prints one summary line per stage; results recorded in SCALE.md.
  */
object StressAnn {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val nQueries = if (args.length > 2) args(2).toInt else 100
    val study = Study("stress-ann")
    val spark = study.spark
    import study.timed

    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val replicas = spark.range(k).select(col("id").cast("int").as("rep"))
    val corpus = base.crossJoin(replicas)
      .select(
        (col("vec_id") + col("rep").cast("long") * lit(10000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x)
            .otherwise(-x)).as("embedding"))
      .repartition(study.cores * 2)
      .localCheckpoint(true)
    val n = corpus.count()
    println(s"[stress-ann] corpus: $n vectors ($k replicas)")

    // bounded query set spread across replicas: one query per replica
    // round-robin over base ids until nQueries
    val queries = corpus
      .filter(pmod(col("vec_id"), lit(10000000L)) < lit((nQueries + k - 1) / k))
      .orderBy(col("vec_id")).limit(nQueries)
      .localCheckpoint(true)
    println(s"[stress-ann] queries: ${queries.count()}")

    val exact = timed("brute_force_top10") {
      Similarity.bruteForceTopK(corpus, queries, 10).localCheckpoint(true)
    }
    val nExact = exact.count()

    val cells = math.max(16, math.sqrt(n.toDouble).toInt)
    val cents = timed(s"centroids(cells=$cells,lloyd=2)") {
      Similarity.refineCentroids(corpus,
        Similarity.centroids(corpus, cells), iterations = 2).localCheckpoint(true)
    }
    // index build = one corpus×cells assignment pass, paid ONCE; query
    // batches then cost only the probed-cell join (the production split)
    val index = timed(s"ivf_index_build(cells=$cells)") {
      Similarity.assignCells(corpus, cents).localCheckpoint(true)
    }
    for (nprobe <- Seq(math.max(4, cells / 16), math.max(8, cells / 4))) {
      val ivf = timed(s"ivf_search_top10(probe=$nprobe)") {
        Similarity.ivfSearch(index, queries, 10, cents, nprobe)
          .localCheckpoint(true)
      }
      val hits = ivf.join(exact, Seq("query_id", "corpus_id")).count()
      println(f"[stress-ann] recall@10(probe=$nprobe): ${hits.toDouble / nExact}%.3f ($hits/$nExact)")
    }

    val quant = timed("quantized_top10") {
      Similarity.bruteForceTopKQuantized(corpus, queries, 10).localCheckpoint(true)
    }
    val qHits = quant.join(exact, Seq("query_id", "corpus_id")).count()
    println(f"[stress-ann] quant recall@10: ${qHits.toDouble / nExact}%.3f")

    // persisted index: one partitioned write, then serve off disk with
    // cell pruning — measures the build-once/query-forever split plus
    // how much the pruned scan saves vs reading the whole posting table
    val root = graft.queries.GateScratch.dir("graft-stress-annidx-").toString
    val store = new graft.operators.TableStore(spark, root)
    val h = timed(s"persisted_build(cells=$cells)") {
      val hh = graft.operators.AnnIndex.Handle(store, "s", "vec_id", "embedding")
      store.overwrite(hh.centroidsTable, cents, numFiles = 1)
      store.overwrite(hh.postingsTable,
        index.repartition(col("cell_id")), partitionBy = Seq("cell_id"))
      hh
    }
    val nprobe = math.max(8, cells / 4)
    val persisted = timed(s"persisted_search(probe=$nprobe)") {
      graft.operators.AnnIndex.search(h, queries, 10, nprobe).localCheckpoint(true)
    }
    val pHits = persisted.join(exact, Seq("query_id", "corpus_id")).count()
    println(f"[stress-ann] persisted recall@10: ${pHits.toDouble / nExact}%.3f")
    timed("full_posting_scan_baseline") {
      // what the same query batch costs without cell pruning: the whole
      // posting table re-read and shuffled into the probe join
      Similarity.ivfSearch(h.postings, queries, 10, h.centroids, nprobe)
        .localCheckpoint(true)
    }
    // the pruning payoff case: a SMALL batch (one request's worth) probes
    // few cells, so the pruned scan touches a fraction of the partitions —
    // saturated batches above cover every cell and pruning cannot help
    val fewQueries = queries.limit(5).localCheckpoint(true)
    val smallProbe = math.max(4, cells / 16)
    timed(s"persisted_search(q=5,probe=$smallProbe)") {
      graft.operators.AnnIndex.search(h, fewQueries, 10, smallProbe)
        .localCheckpoint(true)
    }
    timed(s"full_scan_search(q=5,probe=$smallProbe)") {
      Similarity.ivfSearch(h.postings, fewQueries, 10, h.centroids, smallProbe)
        .localCheckpoint(true)
    }
    study.stop()
  }
}
