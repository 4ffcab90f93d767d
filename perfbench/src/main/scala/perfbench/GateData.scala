package perfbench

import java.nio.file.Path
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** The TPC-H-like tables the registry gates read (TESTDATA.md): the same
  * ten tables, columns and types, one parquet directory each, written
  * from a fixed seed so every checkout sees identical inputs. `sf` scales
  * row counts as in TESTDATA.md (sf 0.01: 60k lineitem rows).
  */
object GateData {
  val seed = 42L

  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val colors = Vector("red", "blue", "green", "small", "large", "steel", "brass", "pale")
  private val nouns = Vector("widget", "ring", "bolt", "gear", "valve", "panel", "spring")
  private val types = Vector("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "view", "purchase", "signup", "error")
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val vocab = Vector("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
    "column", "join", "small", "big", "customer", "query", "order", "group", "filter",
    "stream", "vector")
  private val dim = 64

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  // 1992-01-01 .. 1998-12-31 and 2024-01-01, in microseconds since epoch
  private val day = 86400L * 1000000L
  private val d1992 = 8035L * day
  private val d2024 = 19723L * day

  /** Writes every table under `dir`; returns rows per table. */
  def write(spark: SparkSession, dir: Path, sf: Double): Map[String, Long] = {
    Fs.deleteRecursively(dir)
    val r = new Random(seed)
    val nCust = math.max(150, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(200, (200000 * sf).toInt)
    val nOrders = math.max(1500, (1500000 * sf).toInt)
    val nEvents = math.max(1000, (1000000 * sf).toInt)
    val nDocs = 500
    val nVecs = 500

    val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def table(name: String, schema: StructType, rows: Seq[Row],
        micros: Seq[String] = Nil): (String, Long) = {
      frames += name -> micros.foldLeft(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema))((d, c) =>
        d.withColumn(c, timestamp_micros(col(c))))
      name -> rows.size.toLong
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    val region = table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    val nation = table("nation",
      st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = table("customer",
      st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), segments(r.nextInt(segments.size)))))
    val supplier = table("supplier",
      st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999, 9999))))
    val part = table("part",
      st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${colors(r.nextInt(colors.size))} ${nouns(r.nextInt(nouns.size))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderRows = (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
      Vector("F", "O", "P")(r.nextInt(3)), money(r, 900, 500000),
      d1992 + r.nextInt(2557) * day, priorities(r.nextInt(priorities.size))))
    val orders = table("orders",
      st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> LongType,
        "o_orderpriority" -> StringType),
      orderRows, micros = Seq("o_orderdate"))
    val lineRows = orderRows.flatMap { o =>
      val ok = o.getLong(0)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(ok, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q,
          math.round(q * money(r, 900, 2100) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Vector("A", "N", "R")(r.nextInt(3)), Vector("F", "O")(r.nextInt(2)),
          o.getLong(4) + (1 + r.nextInt(121)) * day)
      }
    }
    val lineitem = table("lineitem",
      st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> LongType),
      lineRows, micros = Seq("l_shipdate"))
    var ts = d2024
    val events = table("events",
      st("event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map { i =>
        ts += 1000000L + (r.nextDouble() * 300000000L).toLong
        Row(i.toLong, ts, r.nextInt(math.max(15, nEvents * 3 / 200)).toLong,
          eventTypes(r.nextInt(eventTypes.size)),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      }, micros = Seq("ts"))
    val documents = table("documents",
      st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        val text = Seq.fill(20 + r.nextInt(60))(vocab(r.nextInt(vocab.size))).mkString(" ")
        Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      })
    val centers = Vector.fill(10, dim)(r.nextGaussian() * 0.15)
    val embeddings = table("embeddings",
      st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        Row(i.toLong, centers(label).map(c => (c + r.nextGaussian() * 0.05).toFloat), label)
      })
    // the ten writes are independent jobs: run them side by side
    val pool = Executors.newFixedThreadPool(4)
    try frames.map { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit = df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Map(region, nation, customer, supplier, part, orders, lineitem, events, documents,
      embeddings)
  }
}
