package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry

/** Library operators the pipeline never reaches: each round runs 15
  * registry gates from `SparkEntry.queries` over the gate tables, in an
  * order shuffled by the seed. One gate is the gate-fn call (which builds
  * the plan, and for index gates the index) followed by `count()`.
  */
final class OperatorGates(ctx: Ctx) extends Workload {
  import ctx._
  import OperatorGates._

  private val dir = work.resolve("tables")
  private val fns = SparkEntry.queries
  private var tableRows: Map[String, Long] = Map.empty
  private var tableHashes: Seq[String] = Nil
  private val expected: Map[String, (Long, String)] = readExpected()
  private val observed = mutable.Map.empty[String, (Long, String)]
  private val latency = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val persisted = mutable.ArrayBuffer.empty[Double]

  private def readExpected(): Map[String, (Long, String)] = {
    val f = benchDir.resolve("gates_expected.json")
    if (!Files.exists(f)) Map.empty
    else "\"([a-z0-9_]+)\": \\{\"rows\": ([0-9]+), \"digest\": \"([^\"]+)\"\\}".r
      .findAllMatchIn(new String(Files.readAllBytes(f), UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def prepare(rep: Int): Unit = ledger.op("prepare") {
    tableRows = GateData.write(spark, dir, sf)
    val hashes = tableRows.keys.toSeq.sorted.map(t => Fs.sha256Under(dir.resolve(s"$t.parquet")))
    if (rep > 0) ledger.check("gate tables byte-identical across generations", hashes == tableHashes)
    tableHashes = hashes
  }

  /** One gate: the gate-fn call, then `count()`. The row count is checked
    * every round, the output digest in the first round only, after the
    * timed interval.
    */
  private def gate(name: String, digest: Boolean): Op = {
    var op = Op(0, 0)
    ledger.op(s"gate.$name") {
      val (df, n) = Op.time(op = _) {
        val df = tracer.span(s"gate.$name.build")(fns(name)(spark, dir.toString))
        (df, tracer.span(s"gate.$name.count")(df.count()))
      }
      if (tracer.enabled) persisted += spark.sparkContext.getPersistentRDDs.size
      val want = expected.get(name)
      ledger.check(s"$name has a recorded result", want.nonEmpty)
      want.foreach(w => ledger.expectEq(s"$name rows", n, w._1))
      if (digest) {
        val d = Digest.of(df)
        observed(name) = (n, d)
        want.foreach(w => ledger.expectEq(s"$name digest", d, w._2))
      }
    }
    if (tracer.enabled) latency.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += op.seconds
    op
  }

  def warmUp(): Unit = ledger.op("warm-up") {
    tableRows.keys.foreach(t => graft.Tables.load(spark, dir.toString, t).count())
    WarmUp.synthetic(spark)
  }

  def round(i: Int): Seq[Op] = {
    val done = new Random(seed * 1000003L + i).shuffle(gates).map(gate(_, digest = i == 0))
    if (i == 0) {
      val body = gates.map { g =>
        val (n, d) = observed.getOrElse(g, (-1L, ""))
        s"""  "$g": {"rows": $n, "digest": "$d"}"""
      }
      Files.write(work.resolve("gates_observed.json"),
        body.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    }
    done
  }

  def layerMetrics(): Map[String, Double] = {
    val all = tracer.recorded.filter(_.name.startsWith("gate."))
    val m = mutable.Map.empty[String, Double]
    gates.foreach(g => m(s"gate.$g.s") = Stats.median(latency.getOrElse(g, Nil).toSeq))
    val passes = latency.values.map(_.size).maxOption.getOrElse(0).max(1).toDouble
    def perPass(k: String, div: Double) = all.map(_.counts.getOrElse(k, 0L)).sum / div / passes
    m("gates.build_s") = all.filter(_.name.endsWith(".build")).map(_.seconds).sum / passes
    m("gates.count_s") = all.filter(_.name.endsWith(".count")).map(_.seconds).sum / passes
    m("gates.plan_s") = perPass("plan_ms", 1000)
    m("gates.jobs") = perPass("jobs", 1)
    m("gates.gc_ms") = perPass("jvm_gc_ms", 1)
    m("gates.shuffle_mb") = perPass("shuffle_write_bytes", 1 << 20)
    m("gates.spill_mb") = perPass("spill_bytes", 1 << 20)
    m("gates.persisted_rdds") = Stats.median(persisted.toSeq)
    m("gates.self_s") = all.map(tracer.selfSeconds).sum / passes
    m("trace.span_coverage") = all.map(_.seconds).sum / latency.values.flatten.sum
    m.toMap
  }

  def report(): Seq[String] = Seq(
    s"input: gate tables at sf $sf: " +
      tableRows.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(" ")) ++
    gates.map(g => s"gate $g rows=${observed.get(g).map(_._1).getOrElse(-1L)}")
}

object OperatorGates {
  val sf = 0.01
  val gates: Seq[String] = Seq(
    "s7_scd1_merge", "s15_scd2_merge", "s21_precombine_merge", "pagerank_parts", "graph_bfs",
    "ivm_join_refresh", "sim_ivf_rebalance", "sim_ivf_topk", "dedup_minhash_lsh",
    "text_tfidf", "lm_greedy_decode", "tpch_q3_shape", "j3_star_join", "w1_row_number",
    "zorder_cluster")

  val layerNames: Seq[String] = gates.map(g => s"gate.$g.s") ++
    Seq("build_s", "count_s", "plan_s", "jobs", "gc_ms", "shuffle_mb", "spill_mb",
      "persisted_rdds", "self_s").map(k => s"gates.$k")
}
