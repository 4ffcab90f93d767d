package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.tools.Study

/** Scale-stress driver for the dedup pipeline: replicates the sf
  * documents corpus `k`× with a per-replica token suffix, so replica
  * vocabularies are DISJOINT — within-replica jaccard is preserved
  * exactly and cross-replica jaccard is 0, making true pairs AND
  * candidate pairs grow linearly in k. (A weaker additive salt leaves
  * cross-replica jaccard ≈ n/(n+2s) ≈ 0.89 — below the verify
  * threshold but inside the banding's candidate zone, which quadratically
  * floods the verify join: measured >30 min at k=100 before this fix.)
  * Runs MinHash-LSH near-dups at the production tuning and connected
  * components over the found pairs, timing each stage.
  *
  * Usage: runMain graft.Stress <sfDir> <replicas>
  * Prints one summary line per stage; results recorded in SCALE.md.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val study = Study("stress")
    val spark = study.spark

    val base = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val replicas = spark.range(k).select(col("id").as("rep"))
    val corpus = base.crossJoin(replicas)
      .select(
        (col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            t => concat(t, lit("_r"), col("rep")))).as("text"))
      .repartition(study.cores * 2)
      .localCheckpoint(true)
    val nDocs = corpus.count()

    import study.timed
    println(s"[stress] corpus: $nDocs docs ($k replicas)")
    val pairs = timed("minhash_lsh_neardups") {
      Dedup.minHashNearDups(corpus, "doc_id", "text",
          numHashes = 32, bands = 4, threshold = 0.9)
        .localCheckpoint(true)
    }
    val nPairs = pairs.count()
    println(s"[stress] verified pairs: $nPairs")
    val cc = timed("connected_components") {
      Dedup.connectedComponents(pairs.select("id1", "id2"))
        .localCheckpoint(true)
    }
    val nClusters = cc.select("component").distinct().count()
    println(s"[stress] clusters: $nClusters over ${cc.count()} member rows")

    // incremental-dedup economics: index the corpus ONCE, then dedup a
    // 10%-sized "daily batch" by probing — vs re-running the full
    // pipeline over (corpus ∪ batch), which is what a pipeline without
    // a persisted index must do every day
    // corpus ids are multiples of 5 (plus replica offsets): take the
    // ids ≡ 5 (mod 50) — a deterministic 10% slice
    val batch = corpus.filter(col("doc_id") % 50 === 5)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    println(s"[stress] incremental batch: ${batch.count()} docs")
    val root = graft.queries.GateScratch.dir("graft-stress-lsh-").toString
    val store = new graft.operators.TableStore(spark, root)
    val idx = timed("lsh_index_build") {
      graft.operators.LshTextIndex.build(store, "c", corpus,
        numHashes = 32, bands = 4)
    }
    val probed = timed("lsh_index_probe(batch)") {
      graft.operators.LshTextIndex.probe(idx, batch, threshold = 0.9)
        .localCheckpoint(true)
    }
    println(s"[stress] probe pairs: ${probed.count()}")
    timed("full_rerun(corpus+batch)") {
      Dedup.minHashNearDups(corpus.unionByName(batch), "doc_id", "text",
          numHashes = 32, bands = 4, threshold = 0.9)
        .localCheckpoint(true)
    }
    // the realistic ingest case: a batch of mostly NOVEL content (fresh
    // vocabulary) — probe work collapses to the batch's own map-side
    // pass because nothing buckets with the corpus
    val novel = batch.select(
        (col("doc_id") + 1000000000L).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            t => concat(t, lit("_new")))).as("text"))
      .localCheckpoint(true)
    val novelPairs = timed("lsh_index_probe(novel batch)") {
      graft.operators.LshTextIndex.probe(idx, novel, threshold = 0.9)
        .localCheckpoint(true)
    }
    println(s"[stress] novel probe pairs: ${novelPairs.count()}")
    study.stop()
  }
}
