package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.tools.Study

/** Scale study for the shortlist path of
  * [[operators.Similarity.hardNegatives]] (VERDICT r10 item 4): recall
  * vs shortlist size on a LABEL-DENSE adversarial corpus across three
  * decades of corpus size.
  *
  * Adversarial construction: vectors form tight clusters of `M`
  * near-duplicates; within a cluster all but two members share one
  * label, so a query's Hamming neighborhood is dominated by SAME-label
  * vectors — exactly the regime where the label-blind 1-bit shortlist
  * starves after the label filter. The study measures, per corpus
  * decade and per shortlist s:
  *   - recall of the exact cross-label top-k,
  *   - the fraction of queries left with found_k < k (the starvation
  *     rate the new `emitFoundK`/`requireK` signal surfaces),
  *   - wall time of the shortlist path vs the exact path.
  *
  * The claim under test: starvation is a real, measurable event on
  * adversarial data (not a theoretical footnote), it decays as s grows
  * at FIXED cluster size (the dense neighborhood is bounded, so s past
  * the cluster width reaches cross-label candidates), and the
  * shortlist path's cost stays far below exact while recall climbs —
  * the knob a 100 TB user actually turns. Results in SCALE.md.
  *
  * Deterministic: vectors and labels derive from splitmix64 of the row
  * id — no RNG state, same corpus every run.
  *
  * Usage: runMain graft.StressHardNeg <n>
  */
object StressHardNeg {

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Cluster width: M near-dup members per cluster, M−2 of them
    * sharing the cluster label — so a shortlist must see past ~M−2
    * same-label near-dups before any negative appears.
    */
  private val M = 24
  private val Dim = 16
  private val K = 5

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val study = Study("hardneg")
    val spark = study.spark
    import spark.implicits._

    val corpus = spark.range(n).mapPartitions(_.map { id =>
      val g = id / M
      val p = (id % M).toInt
      // cluster center: a deterministic unit-ish direction per cluster;
      // members perturb each coordinate by ≤ 1% — near-dups by cosine
      val vec = Array.tabulate(Dim) { j =>
        val c = (mix64(g * 131 + j) % 1000L).toFloat / 500f
        val eps = (mix64(id * 131 + j) % 100L).toFloat / 10000f
        c + eps
      }
      // all but the last two members share the cluster label — the
      // label-dense neighborhood; the two dissenters are the only
      // nearby negatives
      val label = if (p < M - 2) (g % 10).toInt else ((g + 1) % 10).toInt
      (id, vec, label)
    }).toDF("vec_id", "embedding", "label")
      .repartition(study.cores * 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()

    // 64 queries, one per cluster stride, all label-majority members
    val qStride = math.max(1L, n / 64 / M) * M
    val queries = corpus.filter(col("vec_id") % qStride === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nq = queries.count()
    println(s"[hardneg] n=$n queries=$nq clusterWidth=$M k=$K")

    def timed[T](f: => T): (T, Double) = {
      val m = study.measure(f)
      (m.value, m.seconds)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("corpus_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (exactPairs, tExact) = timed {
      pairs(Similarity.hardNegatives(corpus, queries, k = K))
    }
    println(f"[hardneg] n=$n exact: ${tExact}%.2f s, ${exactPairs.size} pairs")

    for (s <- Seq(K, M, 4 * M, 16 * M)) {
      val ((got, starvedQ), t) = timed {
        val out = Similarity.hardNegatives(corpus, queries, k = K,
          shortlist = Some(s), emitFoundK = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val p = pairs(out)
        val starved = out.select(col("query_id"), col("found_k")).distinct()
          .filter(col("found_k") < K).count() +
          (nq - out.select(col("query_id")).distinct().count())
        out.unpersist(false)
        (p, starved)
      }
      val recall = (got & exactPairs).size.toDouble / exactPairs.size
      println(f"[hardneg] n=$n s=$s%5d recall=$recall%.3f " +
        f"starved_queries=$starvedQ/$nq time=${t}%.2f s (exact ${tExact}%.2f s)")
    }

    // the adaptive operator: starts at s = k, retries starved queries
    // alone at 4x — the engine turning the knob the table above shows
    // the user would otherwise have to turn
    val ((aPairs, aStarved), tAdaptive) = timed {
      val out = Similarity.hardNegativesAdaptive(corpus, queries, k = K,
        initialShortlist = K)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = pairs(out)
      val starved = out.select(col("query_id"), col("found_k")).distinct()
        .filter(col("found_k") < K).count() +
        (nq - out.select(col("query_id")).distinct().count())
      out.unpersist(false)
      (p, starved)
    }
    val aRecall = (aPairs & exactPairs).size.toDouble / exactPairs.size
    println(f"[hardneg] n=$n ADAPTIVE(s0=$K) recall=$aRecall%.3f " +
      f"starved_queries=$aStarved/$nq time=${tAdaptive}%.2f s")
    study.stop()
  }
}
