package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.TableStore
import graft.pipeline._

/** The write path: each round runs, from an empty warehouse, a full load
  * of 2022-2024 and an incremental run of 2025, each through
  * `Pipeline.run` with a fixed clock. Traced rounds make the same calls
  * `Pipeline.run` makes, one span per stage.
  */
final class MedallionBatch(ctx: Ctx) extends Workload {
  import ctx._
  import MedallionBatch._

  private var landing: LandingGen.Landing = _
  private var fileHashes: Seq[String] = Nil
  private var checkSeconds = 0.0
  private val phaseTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var bytesRatio = 0.0
  private val files = mutable.Map.empty[String, Double]

  def prepare(rep: Int): Unit = ledger.op("prepare") {
    landing = LandingGen.write(work.resolve("landing"), seed, scale)
    val hashes = (landing.full ++ landing.incremental).map(f => Fs.sha256Under(Path.of(f.path)))
    if (rep > 0) ledger.check("landing byte-identical across generations", hashes == fileHashes)
    fileHashes = hashes
  }

  private def config(mode: String, wh: Path): PipelineConfig =
    if (mode == PipelineConfig.FullLoad)
      PipelineConfig(mode, None, landing.full, wh.toString)
    else PipelineConfig(mode, Some(LandingGen.incrementalYear), landing.incremental, wh.toString)

  /** Pipeline.run's call sequence, one span per stage. */
  private def tracedRun(c: PipelineConfig): TableStore = {
    tracer.span("validate")(PipelineConfig.validateFiles(c))
    val store = new TableStore(spark, c.warehouse)
    tracer.span("bronze")(Bronze.run(spark, store, c, Some(clock)))
    tracer.span("silver")(Silver.run(spark, store, c))
    tracer.span("dims")(Dims.run(spark, store, c, Some(clock)))
    tracer.span("fact")(Fact.run(spark, store, c))
    tracer.span("views_register")(Views.registerAll(spark, store))
    store
  }

  private def runPhase(phase: String, mode: String, wh: Path): (Op, TableStore) = {
    val c = config(mode, wh)
    var op: Op = null
    val store = Op.time(op = _) {
      if (tracer.enabled) tracer.span(s"run.$phase")(tracedRun(c))
      else Pipeline.run(spark, c, Some(clock))
    }
    (op, store)
  }

  /** Bronze, silver and fact row counts, in one Spark job. */
  private def rowCounts(store: TableStore): Seq[Long] = {
    import PipelineConfig.tables._
    val tables = Seq(bronze, silver, fact)
    val counts = tables.map(t => store.read(t).select(lit(t).as("t"))).reduce(_ union _)
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.map(counts.getOrElse(_, 0L))
  }

  def warmUp(): Unit = ledger.op("warm-up") {
    (landing.full ++ landing.incremental).foreach(f =>
      spark.read.option("header", "true").csv(f.path).count())
    WarmUp.synthetic(spark)
  }

  /** From an empty warehouse: the full load, then the 2025 increment. */
  def round(i: Int): Seq[Op] = {
    val wh = work.resolve("warehouse")
    Fs.deleteRecursively(wh)
    def phase(name: String, mode: String)(checks: TableStore => Unit): Option[Op] =
      ledger.op(s"pipeline.$name") {
        val (op, store) = runPhase(name, mode, wh)
        phaseTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += op.seconds
        val t0 = System.nanoTime()
        checks(store)
        checkSeconds += (System.nanoTime() - t0) / 1e9
        op
      }
    Seq(
      phase("full", PipelineConfig.FullLoad) { store =>
        val fullRows = landing.rows.count(r => LandingGen.fullYears.contains(r._1)).toLong
        ledger.expectEq("full load bronze/silver/fact rows", rowCounts(store),
          Seq.fill(3)(fullRows))
        tableNames.foreach { case (short, t) =>
          files(short) = Fs.dataFilesUnder(Path.of(store.path(t))).toDouble
        }
      },
      phase("incr", PipelineConfig.Incremental) { store =>
        if (i == 0) checkLayers(store, Expect(landing.rows))
        else ledger.expectEq("bronze/silver/fact rows", rowCounts(store),
          Seq.fill(3)(landing.rows.size.toLong))
        bytesRatio = Fs.bytesUnder(wh).toDouble / landing.csvBytes
      }).flatten
  }

  /** Every layer against what the landing rows imply. */
  private def checkLayers(store: TableStore, e: Expect): Unit = {
    import PipelineConfig.tables._
    def chk[A](what: String, got: A, want: A): Unit = ledger.expectEq(what, got, want)
    val b = store.read(bronze).agg(
      count(lit(1)), countDistinct(col("row_key")),
      sum(when(!col("row_key").endsWith("_1"), 1).otherwise(0)),
      sum(when(!col("row_key").rlike("^[0-9]+_[MF]_[a-z0-9]*_[0-9]+$"), 1).otherwise(0)),
      sum(when(col("athlete_name").rlike("[^\\x00-\\x7F]"), 1).otherwise(0))).head()
    chk("bronze rows", b.getLong(0), e.total)
    chk("bronze row_key unique", b.getLong(1), e.total)
    chk("bronze duplicate cleaned names", b.getLong(2), e.duplicateRows)
    chk("bronze row_key ascii", b.getLong(3), 0L)
    chk("bronze diacritic names", b.getLong(4), e.nonAsciiNames)
    val silverDf = store.read(silver)
    val s = silverDf.agg(
      count(lit(1)), countDistinct(col("row_key")),
      sum(col("is_finisher").cast("int")), sum(col("is_dnf").cast("int")),
      sum(col("is_dns").cast("int")), sum(col("is_dq").cast("int")),
      sum(col("has_data_issue").cast("int")),
      sum(when(col("swim_time") === "0:00:00" && col("swim_time_seconds").isNull, 1)
        .otherwise(0)),
      countDistinct(when(col("year") === LandingGen.singleGenderYear, col("source_gender"))))
      .head()
    chk("silver rows", s.getLong(0), e.total)
    chk("silver row_key unique", s.getLong(1), e.total)
    chk("silver is_finisher", s.getLong(2), e.flag("FINISHER"))
    chk("silver is_dnf", s.getLong(3), e.flag("DNF"))
    chk("silver is_dns", s.getLong(4), e.flag("DNS"))
    chk("silver is_dq", s.getLong(5), e.flag("DQ"))
    chk("silver has_data_issue", s.getLong(6), e.hasDataIssue)
    chk("silver 0:00:00 parsed as null", s.getLong(7), e.zeroTimes)
    chk("silver single-gender year", s.getLong(8), 1L)
    chk("silver time audit", Silver.timeConsistencyAudit(silverDf).count(), e.timeAudit)
    val f = Fact.fkAudit(store.read(fact)).head()
    chk("fact unmatched athletes", f.getLong(0), 0L)
    chk("fact unmatched divisions", f.getLong(1), e.nullDivision)
    chk("fact unmatched countries", f.getLong(2), e.nullCountry)
    chk("fact rows", f.getLong(3), e.total)
    chk("fact row_key unique",
      store.read(fact).select(countDistinct(col("row_key"))).head().getLong(0), e.total)
    chk("dim_athletes rows", store.read(dimAthletes).count(), e.athletes)
    val c = store.read(dimCountries)
      .agg(count(lit(1)), sum(when(col("continent") === "Unknown", 1).otherwise(0))).head()
    chk("dim_countries rows", c.getLong(0), e.countries.size.toLong)
    chk("dim_countries unmapped", c.getLong(1), e.unknownContinent)
    val d = store.read(dimDivisions)
      .agg(count(lit(1)), sum(when(col("gender") === "UNKNOWN", 1).otherwise(0))).head()
    chk("dim_divisions rows", d.getLong(0), e.divisions.size.toLong)
    chk("dim_divisions unknown gender", d.getLong(1), e.unknownGenderDivisions)
    // the gold tables' keys, as sets, against the landing rows
    def keys(what: String, table: String, c: String, want: Set[String]): Unit = {
      val got = store.read(table).select(c).collect().map(_.getString(0)).toSet
      ledger.check(what, got == want, s"(unexpected ${(got -- want).size}, e.g. " +
        s"${(got -- want).take(3).mkString(" ")}; missing ${(want -- got).size}, e.g. " +
        s"${(want -- got).take(3).mkString(" ")})")
    }
    keys("fact row_keys", fact, "row_key", e.rowKeys)
    keys("dim_athletes natural keys", dimAthletes, "athlete_natural_key", e.athleteKeys)
    keys("dim_countries codes", dimCountries, "country", e.countries)
    keys("dim_divisions codes", dimDivisions, "division", e.divisions)
  }

  def layerMetrics(): Map[String, Double] = {
    val spans = tracer.recorded
    val runs = spans.filter(_.name.startsWith("run."))
    val m = mutable.Map.empty[String, Double]
    for (ph <- phaseNames; runSpans = runs.filter(_.name == s"run.$ph")) {
      val stageSpans = runSpans.flatMap(tracer.children)
      for (st <- stageNames; ss = stageSpans.filter(_.name == st)) {
        m(s"$st.$ph.wall_s") = Stats.median(ss.map(_.seconds))
        m(s"$st.$ph.plan_s") = Stats.median(ss.map(_.counts.getOrElse("plan_ms", 0L) / 1000.0))
        m(s"$st.$ph.jobs") = Stats.median(ss.map(_.counts.getOrElse("jobs", 0L).toDouble))
      }
      def med(k: String, div: Double) =
        Stats.median(runSpans.map(_.counts.getOrElse(k, 0L) / div))
      m(s"$ph.shuffle_mb") = med("shuffle_write_bytes", 1 << 20)
      m(s"$ph.written_mb") = med("output_bytes", 1 << 20)
      m(s"$ph.gc_ms") = med("jvm_gc_ms", 1)
      m(s"$ph.cpu_s") = med("process_cpu_ns", 1e9)
    }
    // self time of one round: the sum over its steps of each step's median
    def perStep(spans: String => Seq[Span]): Double = phaseNames.map(ph =>
      Stats.median(spans(ph).map(tracer.selfSeconds))).sum
    for (st <- stageNames)
      m(s"$st.self_s") = perStep(ph =>
        runs.filter(_.name == s"run.$ph").flatMap(tracer.children).filter(_.name == st))
    m("pipeline.self_s") = perStep(ph => runs.filter(_.name == s"run.$ph"))
    m("trace.span_coverage") =
      runs.flatMap(tracer.children).map(_.seconds).sum / runs.map(_.seconds).sum
    for ((ph, k) <- phaseNames.zip(Seq("full_load_s", "incremental_s")))
      m(k) = Stats.median(runs.filter(_.name == s"run.$ph").map(_.seconds))
    m("warehouse_bytes_per_input_byte") = bytesRatio
    files.foreach { case (k, v) => m(s"files.$k") = v }
    m.toMap
  }

  def report(): Seq[String] = Seq(
    s"input: ${landing.rows.size} rows in ${landing.full.size + landing.incremental.size} CSVs, " +
      s"${landing.csvBytes} bytes (scale $scale)",
    s"manifest: ${landing.manifest.toJson}") ++
    phaseNames.map(ph => Stats.describe(ph, "s", phaseTimes.getOrElse(ph, Nil).toSeq)) ++
    Seq(f"warehouse_bytes_per_input_byte: $bytesRatio%.4f",
      f"output checks: $checkSeconds%.2f s",
      s"files after full load: ${files.toSeq.sorted.map { case (k, v) => s"$k=${v.toInt}" }.mkString(" ")}")
}

object MedallionBatch {
  val scale = 1.0
  val clock: java.sql.Timestamp = java.sql.Timestamp.valueOf("2025-10-12 06:00:00")
  val phaseNames = Seq("full", "incr")
  val stageNames = Seq("bronze", "silver", "dims", "fact", "views_register")
  val tableNames: Seq[(String, String)] = {
    import PipelineConfig.tables._
    Seq("bronze" -> bronze, "silver" -> silver, "dim_athletes" -> dimAthletes,
      "dim_countries" -> dimCountries, "dim_divisions" -> dimDivisions, "fact" -> fact)
  }

  val layerNames: Seq[String] =
    (for (st <- stageNames; ph <- phaseNames; k <- Seq("wall_s", "plan_s", "jobs"))
      yield s"$st.$ph.$k") ++
    (for (ph <- phaseNames; k <- Seq("shuffle_mb", "written_mb", "gc_ms", "cpu_s"))
      yield s"$ph.$k") ++
    tableNames.map(t => s"files.${t._1}") ++
    stageNames.map(st => s"$st.self_s") ++
    Seq("pipeline.self_s", "full_load_s", "incremental_s", "warehouse_bytes_per_input_byte")
}
