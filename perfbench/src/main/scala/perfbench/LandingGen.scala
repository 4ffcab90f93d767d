package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.pipeline.LandingFile

/** Seeded landing zone for the medallion pipeline: one CSV per (year,
  * gender) in the scraper's 30-column layout (FIXTURES.md §1), with every
  * FIXTURES.md §2 edge case planted. The same (seed, scale) writes
  * byte-identical files.
  *
  * Layout: 2022 has a women's file only (the single-gender year), 2023
  * and 2024 have both genders and form the full load with 2022, and 2025
  * (both genders) is the incremental year. Scale 1 is about 2,100 rows
  * per two-gender file, the reference's size.
  *
  * [[Expect]] recomputes what each layer should hold from the generated
  * rows alone, with plain Scala restating the pipeline's documented
  * semantics, so the checks never consult the engine's own results.
  */
object LandingGen {

  val columns: Seq[String] = Seq(
    "rank", "athlete_name", "country", "div_rank", "gender_rank", "overall_rank",
    "designation", "bib", "division", "points", "swim_time", "swim_time_detail",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank", "transition_1",
    "transition_1_detail", "bike_time", "bike_time_detail", "bike_div_rank",
    "bike_gender_rank", "bike_overall_rank", "transition_2", "transition_2_detail",
    "run_time", "run_time_detail", "run_div_rank", "run_gender_rank",
    "run_overall_rank", "finish_time")

  val singleGenderYear = 2022
  val fullYears: Seq[Int] = Seq(2022, 2023, 2024)
  val incrementalYear = 2025
  val rowsPerFileAtScale1 = 2088

  // Codes present in the engine's country mapping, and codes absent from
  // it (which must fall back to name = code, continent 'Unknown').
  private val mappedCodes = Vector("US", "US", "US", "DE", "GB", "AU", "CA", "FR", "JP",
    "CH", "NZ", "ES", "IT", "BR", "MX", "NL", "DK", "AT", "BE", "SE", "NO", "ZA", "AR",
    "CN", "KR", "IE", "PL", "CZ", "FI", "PT")
  val unmappedCodes: Vector[String] =
    Vector("XK", "ZW", "QA", "KE", "BO", "GT", "SV", "LB", "JO", "MA", "TN", "CU", "JM")

  private val firstM = Vector("James", "Lukas", "Mateo", "Noah", "Oliver", "Jan", "Kristian",
    "Sam", "Patrick", "Magnus", "Frederic", "Rudy", "Jérôme", "Søren", "Björn", "Łukasz",
    "Gustav", "Leon", "Tim", "Ben", "Max", "Kacper", "Diego", "Hugo", "Arthur", "Felix",
    "Marten", "Trevor", "Cameron", "Kyle", "Bradley", "Sebastian", "Thomas", "Daniel")
  private val firstF = Vector("Lucy", "Anne", "Laura", "Daniela", "Chelsea", "Kat", "Taylor",
    "Solveig", "Zoë", "Maja", "Hannah", "Sarah", "Emma", "Lisa", "Julia", "Fenella",
    "Skye", "Marjolaine", "Nikki", "India", "Ruth", "Chloé", "Åsa", "Carrie", "Heather",
    "Paula", "Imogen", "Lotte", "Tamara", "Els", "Rachel", "Mirinda", "Jodie", "Ellie")
  // Three-letter syllables: a last name is two of them, so every cleaned
  // name is a distinct first name plus exactly six letters and no two
  // athletes' cleaned names collide except where planted.
  private val syllables = Vector("ber", "lin", "dor", "kas", "mon", "tel", "vig", "ran",
    "sel", "hof", "gar", "nik", "pol", "rud", "sta", "wen", "cor", "fal", "jun", "lek",
    "mar", "quo", "tis", "zan", "bro", "del", "fin", "hal", "ken", "lor", "ves", "yan",
    "par", "sun", "tor", "wil", "gus", "hem", "rik", "son")

  /** Counts the benchmark checks, per file and as planted. */
  final case class Manifest(
      seed: Long, scale: Double, files: Seq[(String, Int, String, Int)],
      planted: Map[String, Int]) {
    def toJson: String = {
      val fs = files.map { case (name, year, g, rows) =>
        s"""{"file":"$name","year":$year,"gender":"$g","rows":$rows}""" }
      val ps = planted.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      s"""{"seed":$seed,"scale":$scale,"files":[${fs.mkString(",")}],""" +
        s""""planted":{${ps.mkString(",")}}}"""
    }
  }

  final case class Landing(
      dir: Path, full: Seq[LandingFile], incremental: Seq[LandingFile],
      rows: Seq[(Int, String, Array[String])], manifest: Manifest) {
    def csvBytes: Long = (full ++ incremental).map(f => Files.size(Path.of(f.path))).sum
  }

  private final case class Athlete(name: String, country: String, division: String)

  private def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L)((h, x) =>
    java.lang.Long.rotateLeft((h ^ x) * 0xBF58476D1CE4E5B9L, 31))

  private def hms(s: Int): String = f"${s / 3600}%d:${s % 3600 / 60}%02d:${s % 60}%02d"

  private def population(seed: Long, gender: String, size: Int): IndexedSeq[Athlete] = {
    val firsts = if (gender == "M") firstM else firstF
    val s = syllables.size
    (0 until size).map { j =>
      val r = new Random(mix(seed, gender.head.toLong, j))
      val first = firsts(j % firsts.size)
      val k = j / firsts.size
      val last = (syllables(k % s) + syllables(k / s % s)).capitalize
      val u = r.nextDouble()
      val country =
        if (u < 0.28) "" else if (u < 0.36) unmappedCodes(r.nextInt(unmappedCodes.size))
        else mappedCodes(r.nextInt(mappedCodes.size))
      val division =
        if (j % 397 == 5) "HC"
        else if (j % 401 == 7) "PC/ID"
        else if (j % 409 == 11) s"${gender}Guide"
        else if (j % 33 == 0) s"${gender}PRO"
        else {
          val lo = 18 + 5 * (if (r.nextDouble() < 0.1) 0 else 1 + r.nextInt(12))
          val hi = if (lo == 18) 24 else lo + 4
          s"$gender$lo-$hi"
        }
      Athlete(s"$first $last", country, division)
    }
  }

  /** One file's rows, and the counts of what was planted in it. */
  private def fileRows(
      seed: Long, year: Int, gender: String, n: Int, pop: IndexedSeq[Athlete])
      : (Seq[Array[String]], Map[String, Int]) = {
    val r = new Random(mix(seed, year, gender.head.toLong))
    val athletes = r.shuffle(pop.indices.toVector).take(n).map(pop)
    val planted = mutable.Map.empty[String, Int].withDefaultValue(0)
    final class Row0(val a: Athlete, var name: String, var designation: String,
        var division: String) {
      val segs: Array[Int] = Array(2900 + r.nextInt(2500), 120 + r.nextInt(300),
        15000 + r.nextInt(8400), 60 + r.nextInt(300), 9600 + r.nextInt(10200))
      var finish: Int = segs.sum
      val times: Array[String] = segs.map(hms)
      var finishStr: String = hms(finish)
      var rankBlank = false
    }
    val rows = athletes.map { a =>
      val u = r.nextDouble()
      val des =
        if (u < 0.906) "Finisher" else if (u < 0.955) "DNF" else if (u < 0.997) "DNS" else ""
      new Row0(a, a.name, des, a.division)
    }
    // planted cases on distinct finishers
    val finishers = r.shuffle(rows.indices.filter(i => rows(i).designation == "Finisher"))
    var next = 0
    def take(): Row0 = { val x = rows(finishers(next)); next += 1; x }
    def plant(kind: String, k: Int)(f: Row0 => Unit): Unit =
      (1 to k).foreach { _ => f(take()); planted(kind) += 1 }
    plant("finisher_missing_segment", 2)(x => x.times(2) = "")
    plant("zero_time", 2)(x => x.times(0) = "0:00:00")
    plant("dash_run_time", 1)(x => x.times(4) = "-")
    plant("finisher_blank_rank", 1)(x => x.rankBlank = true)
    plant("discrepancy_gt_60s", 3) { x =>
      x.finish += 61 + r.nextInt(900); x.finishStr = hms(x.finish)
    }
    plant("designation_dq", 1)(x => x.designation = "DQ")
    plant("designation_lowercase", 1)(x => x.designation = " finisher ")
    // duplicate cleaned names: a second row whose name differs only in
    // punctuation or case
    val dups = (1 to 3).map { i =>
      val src = take()
      val variant = if (i % 2 == 0) src.name.replace(' ', '-') else src.name.toUpperCase
      planted("duplicate_clean_name") += 1
      new Row0(src.a, variant, "Finisher", src.division)
    }
    val all = rows ++ dups

    // DNF: swim and T1 (sometimes bike); DNS: nothing; some lose the division
    all.foreach { x =>
      x.designation match {
        case "DNF" =>
          val reached = 2 + r.nextInt(2)
          (reached until 5).foreach(i => x.times(i) = "")
          if (r.nextBoolean()) x.times(4) = "-"
          x.finishStr = ""
          if (r.nextDouble() < 0.2) x.division = ""
        case "DNS" | "" =>
          x.times.indices.foreach(i => x.times(i) = "")
          x.finishStr = ""
          if (r.nextDouble() < 0.3) x.division = ""
        case _ =>
      }
    }
    val isFinisher = (x: Row0) => x.designation.trim.equalsIgnoreCase("finisher")
    def ranks(key: Row0 => Option[Int], group: Row0 => String): Map[Row0, Int] =
      all.filter(x => isFinisher(x) && key(x).nonEmpty).groupBy(group).values.flatMap { g =>
        g.sortBy(x => key(x).get).zipWithIndex.map { case (x, i) => x -> (i + 1) }
      }.toMap
    val overall = ranks(x => Some(x.finish), _ => "")
    val div = ranks(x => Some(x.finish), _.division)
    def seg(i: Int)(x: Row0) = Some(x.segs(i)).filter(_ => x.times(i).contains(':'))
    val segRanks = Seq(0, 2, 4).map(i => (ranks(seg(i), _ => ""), ranks(seg(i), _.division)))
    val bibs = r.shuffle((1 to all.size).toVector)

    val out = all.zipWithIndex.map { case (x, idx) =>
      def rk(m: Map[Row0, Int]) = m.get(x).map(_.toString).getOrElse("")
      val o = rk(overall)
      val detail = (i: Int) => if (x.times(i).contains(':')) s"${x.times(i)} (${i + 1})" else ""
      val sr = segRanks.map { case (ov, dv) => (rk(dv), rk(ov), rk(ov)) }
      Array(
        if (x.rankBlank) "" else o, x.name, x.a.country, rk(div), o, o,
        x.designation, bibs(idx).toString, x.division,
        overall.get(x).map(k => math.max(0, 5000 - 3 * k).toString).getOrElse(""),
        x.times(0), detail(0), sr(0)._1, sr(0)._2, sr(0)._3,
        x.times(1), detail(1),
        x.times(2), detail(2), sr(1)._1, sr(1)._2, sr(1)._3,
        x.times(3), detail(3),
        x.times(4), if (x.times(4) == "-") "-" else detail(4), sr(2)._1, sr(2)._2, sr(2)._3,
        x.finishStr)
    }
    (out, planted.toMap)
  }

  /** Writes the landing zone under `dir` (replacing it) and its manifest. */
  def write(dir: Path, seed: Long, scale: Double): Landing = {
    Fs.deleteRecursively(dir)
    Files.createDirectories(dir)
    val n = math.max(60, math.round(rowsPerFileAtScale1 * scale).toInt)
    val pops = Seq("M", "F").map(g => g -> population(seed, g, n * 8 / 5)).toMap
    val specs = Seq((singleGenderYear, "F", n / 4)) ++
      (fullYears.tail :+ incrementalYear).flatMap(y => Seq((y, "M", n), (y, "F", n)))
    val planted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val all = mutable.ArrayBuffer.empty[(Int, String, Array[String])]
    val files = specs.map { case (year, g, rows) =>
      val (data, p) = fileRows(seed, year, g, rows, pops(g))
      p.foreach { case (k, v) => planted(k) += v }
      all ++= data.map(r => (year, g, r))
      val name = s"$year/${if (g == "M") "men" else "women"}.csv"
      val path = dir.resolve(name)
      Files.createDirectories(path.getParent)
      val text = (columns +: data.map(_.toSeq)).map(_.mkString(",")).mkString("", "\n", "\n")
      Files.write(path, text.getBytes(UTF_8))
      (LandingFile(path.toString, year, g), (name, year, g, data.size))
    }
    val manifest = Manifest(seed, scale, files.map(_._2), planted.toMap +
      ("single_gender_years" -> 1))
    Files.write(dir.resolve("manifest.json"), manifest.toJson.getBytes(UTF_8))
    val (incr, full) = files.map(_._1).partition(_.year == incrementalYear)
    Landing(dir, full, incr, all.toSeq, manifest)
  }
}

/** What each layer should hold after loading `rows`, restated from the
  * documented pipeline semantics: CSV empty and `-` become NULL, times
  * parse as H:MM:SS with 0 meaning missing, flags compare the trimmed
  * upper-cased designation, names clean to lower-case ASCII letters and
  * digits.
  */
final case class Expect(keyed: Seq[(Int, String, Array[String])]) {
  import LandingGen.columns
  private val ix = columns.zipWithIndex.toMap
  private def v(r: Array[String], c: String): Option[String] =
    Option(r(ix(c))).filter(s => s.nonEmpty && s != "-")
  private def secs(r: Array[String], c: String): Option[Int] =
    v(r, c).map(_.split(":").map(_.toInt)).map(p => p(0) * 3600 + p(1) * 60 + p(2))
      .filter(_ != 0)
  private def designation(r: Array[String]) = v(r, "designation").map(_.trim.toUpperCase)
  private def clean(s: String) = s.replaceAll("[^a-zA-Z0-9]", "").toLowerCase
  private def country(r: Array[String]) = v(r, "country").map(_.trim.toUpperCase)
  private def division(r: Array[String]) = v(r, "division").map(_.trim.toUpperCase)
  private def isFinisher(r: Array[String]) = designation(r).contains("FINISHER")
  private val rows = keyed.map(_._3)

  def total: Long = rows.size.toLong
  def flag(d: String): Long = rows.count(r => designation(r).contains(d)).toLong

  def hasDataIssue: Long = rows.count { r =>
    isFinisher(r) && (v(r, "rank").isEmpty ||
      Seq("swim_time", "bike_time", "run_time", "finish_time").exists(c => secs(r, c).isEmpty))
  }.toLong

  def timeAudit: Long = rows.count { r =>
    val parts = Seq("swim_time", "transition_1", "bike_time", "transition_2", "run_time")
      .map(secs(r, _))
    isFinisher(r) && parts.forall(_.nonEmpty) && secs(r, "finish_time").exists(f =>
      math.abs(f - parts.flatten.sum) > 60)
  }.toLong

  /** Rows beyond the first per (year, gender, cleaned name): their
    * row_key carries a dup_rank above 1.
    */
  def duplicateRows: Long = keyed.groupBy { case (y, g, r) =>
    (y, g, v(r, "athlete_name").map(clean).getOrElse(""))
  }.values.map(_.size - 1).sum.toLong

  def zeroTimes: Long = rows.count(r => v(r, "swim_time").contains("0:00:00")).toLong

  def nonAsciiNames: Long =
    rows.count(r => v(r, "athlete_name").exists(_.exists(_ > 127))).toLong

  def nullDivision: Long = rows.count(r => division(r).isEmpty).toLong
  def nullCountry: Long = rows.count(r => country(r).isEmpty).toLong

  /** `year_gender_cleanedname_duprank`, dup ranks 1..n within each group. */
  def rowKeys: Set[String] = keyed.groupBy { case (y, g, r) =>
    s"${y}_${g}_${v(r, "athlete_name").map(clean).getOrElse("")}"
  }.flatMap { case (k, g) => (1 to g.size).map(i => s"${k}_$i") }.toSet

  /** Athlete natural keys: cleaned name `_` country, NULL country as UNKNOWN. */
  def athleteKeys: Set[String] = rows.flatMap(r => v(r, "athlete_name").map(n =>
    (clean(n.trim) + "_" + country(r).getOrElse("UNKNOWN")).toLowerCase)).toSet
  def athletes: Long = athleteKeys.size.toLong

  def countries: Set[String] = rows.flatMap(country).toSet
  def unknownContinent: Long =
    countries.count(LandingGen.unmappedCodes.contains).toLong
  def divisions: Set[String] = rows.flatMap(division).toSet
  def unknownGenderDivisions: Long =
    divisions.count(d => !d.startsWith("M") && !d.startsWith("F")).toLong
}
