package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of p50/p90/p95/p99/p99.9 with at least ten samples
    * above it, as (percentile, value); p50 when there are too few samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ps = Seq(99.9, 99.0, 95.0, 90.0)
    val p = ps.find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, if (xs.isEmpty) 0.0 else percentile(xs, p))
  }

  /** "median, p<k> with n samples", for the printed report. */
  def describe(name: String, unit: String, xs: Seq[Double]): String = {
    val (p, v) = tail(xs)
    f"$name: median ${median(xs)}%.4f $unit, p${p}%s ${v}%.4f $unit, n=${xs.size}%d"
  }
}

/** Order-independent digests of query results. Doubles are compared at
  * six significant digits, so a different summation order does not
  * change a digest.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6g", c.cast(DoubleType))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.6g", x.cast(DoubleType)))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The row count and the sum of per-row hashes, as `count:sum`. */
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Operation and check bookkeeping shared by the workloads. A failed
  * check marks its operation failed; every failure is printed to stderr.
  */
final class Ledger {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private var opFailed = false

  /** Runs one operation; an exception or a failed check inside it fails it. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val out = try Some(body)
    catch {
      case e: Throwable =>
        note(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        opFailed = true
        None
    }
    if (opFailed) failed += 1
    out
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      opFailed = true
      note(s"check $name failed $detail")
    }

  def expectEq[A](name: String, actual: A, expected: A): Unit =
    check(name, actual == expected, s"(got $actual, expected $expected)")

  private def note(s: String): Unit = {
    failures += s
    System.err.println(s"[perfbench] $s")
  }
}

/** A workload's warm-up, besides reading each of its inputs once: one
  * synthetic join, window and aggregate, as `graft.Bench` runs before its
  * timed gates, so the session's first-query costs (class loading, code
  * generation, JIT of the shared operators) land in set-up instead of on
  * the first timed operation. One round of a workload costs as much as
  * the whole time budget allows, so no full untimed round precedes it.
  */
object WarmUp {
  def synthetic(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = spark.range(200000).select(col("id"), (col("id") % 97).as("g"),
      (col("id") % 13).as("j"))
    val dim = spark.range(13).select(col("id").as("j"), (col("id") * 2).as("v"))
    w.join(broadcast(dim), Seq("j"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))
      .groupBy(col("g")).agg(sum(col("v")).as("s"), max(col("rn")))
      .orderBy(col("s").desc).count()
  }
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** SHA-256 over the contents of the regular files under `p`, in file-name order. */
  def sha256Under(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).sorted().forEach(f => md.update(Files.readAllBytes(f)))
    finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def dataFilesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(".parquet"))
      .count()
    finally s.close()
  }
}
