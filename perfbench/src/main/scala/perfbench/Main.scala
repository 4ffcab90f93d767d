package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession, val tracer: Tracer, val ledger: Ledger,
    val seed: Long, val work: Path, val benchDir: Path)

/** One timed operation: wall and process CPU seconds. */
final case class Op(seconds: Double, cpuSeconds: Double)

object Op {
  /** Runs `body`, timing it; the timing is also handed to `record`. */
  def time[T](record: Op => Unit)(body: => T): T = {
    val (t0, c0) = (System.nanoTime(), Jvm.cpuNs())
    val out = body
    record(Op((System.nanoTime() - t0) / 1e9, (Jvm.cpuNs() - c0) / 1e9))
    out
  }
}

/** One benchmark workload: a set-up that can be repeated, a warm-up, and
  * rounds of timed operations run in a closed loop by a single client.
  */
trait Workload {
  /** One repetition of the set-up work; the last repetition's state is used. */
  def prepare(rep: Int): Unit
  /** Untimed work, after the last set-up, that takes the session's
    * first-query costs.
    */
  def warmUp(): Unit
  /** One round; returns each operation's timing. */
  def round(i: Int): Seq[Op]
  /** Per-layer metrics from the traced rounds. */
  def layerMetrics(): Map[String, Double]
  /** Human-readable lines for the report. */
  def report(): Seq[String]
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`
  *
  * Prints a report and, as the last line, the result JSON. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`,
  * every round is traced and the metrics are the per-layer ones.
  */
object Main {
  val setupReps = 3

  val perLayer: Seq[String] = (MedallionBatch.layerNames ++ OperatorGates.layerNames ++
    Seq("trace.round_s", "trace.span_coverage")).sorted

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val out = Paths.get(opts("out")).toAbsolutePath
    val work = out.resolve("work").resolve(workload)
    Fs.deleteRecursively(work)
    Files.createDirectories(work)

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val ansi = workload == "operator_gates"
    val spark = GraftSession.builder("perfbench", cores)
      .config("spark.sql.ansi.enabled", ansi.toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", out.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarn()
    val sessionS = Jvm.sinceStart()

    val tracer = new Tracer(spark)
    val ledger = new Ledger
    val ctx = new Ctx(spark, tracer, ledger, seed, work, out.getParent)
    val wl: Workload = workload match {
      case "medallion_batch" => new MedallionBatch(ctx)
      case "operator_gates" => new OperatorGates(ctx)
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prepS = (0 until setupReps).map(rep => timed(wl.prepare(rep)))
    val warmS = timed(wl.warmUp())
    val setupS = sessionS + Stats.median(prepS) + warmS

    // closed loop: the next round starts when the previous one ends. A
    // traced run traces every round; its round time against an untraced
    // run's is the tracing overhead.
    val rounds = ArrayBuffer.empty[(Double, Double)]
    val ops = ArrayBuffer.empty[Double]
    if (trace) tracer.enable()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || rounds.isEmpty) {
      val done = wl.round(rounds.size)
      rounds += ((done.map(_.seconds).sum, done.map(_.cpuSeconds).sum))
      ops ++= done.map(_.seconds)
    }
    tracer.disable()
    val measuredS = elapsed

    val roundS = Stats.median(rounds.map(_._1).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("setup_s", setupS, "s"), ("round_s", roundS, "s"))
      else {
        val spanFile = out.resolve("trace").resolve(s"$workload-seed$seed.jsonl")
        tracer.write(spanFile)
        println(s"spans: $spanFile")
        val measured = wl.layerMetrics() + ("trace.round_s" -> roundS)
        // every per-layer metric, on every workload: 0 where a layer is not run
        perLayer.map(k => (k, measured.getOrElse(k, 0.0), Units.of(k)))
      }

    println(s"workload: $workload  seed: $seed  trace: $trace")
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX:"))
    println(s"settings: local[$cores], spark.sql.shuffle.partitions=$cores, " +
      s"spark.sql.ansi.enabled=$ansi, AQE on, spark ${spark.version}, " +
      s"JVM ${jvmFlags.mkString(" ")}")
    println(f"setup: session ${sessionS}%.3f s, prepare ${prepS.map(x => f"$x%.3f").mkString("/")} s" +
      f" (median of $setupReps), warm-up ${warmS}%.3f s")
    println(f"rounds: ${rounds.size} in ${measuredS}%.2f s")
    println(Stats.describe("round", "s", rounds.map(_._1).toSeq))
    println(Stats.describe("round_cpu", "s", rounds.map(_._2).toSeq))
    println(Stats.describe("op", "s", ops.toSeq))
    println(f"peak_rss_mb: ${Jvm.peakRssMb()}%.1f")
    wl.report().foreach(println)
    println(f"failed_frac: ${ledger.failed.toDouble / math.max(1, ledger.attempted)}%.4f " +
      s"(${ledger.failed} of ${ledger.attempted} operations)")
    ledger.failures.take(20).foreach(f => println(s"failure: $f"))

    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }
    println(s"""{"correct": ${ledger.failed == 0}, "attempted": ${ledger.attempted}, """ +
      s""""failed": ${ledger.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}

/** Units of per-layer metrics, from their names. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith(".s")) "s"
    else if (name.endsWith("_frac") || name.endsWith("coverage")) "ratio"
    else if (name.contains("per_")) "ratio"
    else "count"
}
