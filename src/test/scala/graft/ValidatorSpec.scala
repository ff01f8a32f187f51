package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Seeds
import graft.operators.Validator
import graft.sources.Readers

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("valid CSV frame passes with exact row count") {
    val dir = Fixtures.tmpDir("val")
    Fixtures.write(dir.resolve("good.csv"), Fixtures.csvGood)
    val df = Readers.csv(spark, Seeds.hospitalA, dir.resolve("good.csv").toString)
    val r = Validator.validate(df, Seeds.hospitalA)
    assert(r.valid && r.rowCount == 3 && r.missingColumns.isEmpty)
  }

  test("a CSV is validated by header name; a repeated name takes its last column, as csv.DictReader") {
    val dir = Fixtures.tmpDir("valnames")
    def check(name: String, text: String): (Boolean, Seq[String], Seq[String]) = {
      val r = Validator.validate(Readers.csv(spark, Seeds.hospitalA,
        Fixtures.write(dir.resolve(name), text).toString), Seeds.hospitalA)
      (r.valid, r.missingColumns, r.errors)
    }
    val header = "patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes"
    val row = "P1,Ann Lee,123-45-6789,1971-04-12,2025-02-01,Flu,n"
    assert(check("reversed.csv", header.split(",").reverse.mkString(",") + "\n" +
      row.split(",").reverse.mkString(",") + "\n") == ((true, Nil, Nil)))
    assert(check("last_dob_good.csv", s"$header,dob\n$row,1980-01-01\n".replace("1971-04-12", "bad")) ==
      ((true, Nil, Nil)))
    assert(check("last_dob_bad.csv", s"$header,dob\n$row,bad\n") == ((false, Nil, Seq("type_error:dob:bad"))))
    assert(check("no_ssn.csv", header.replace("ssn", "SSN") + "\n" + row + "\n")._2 == Seq("ssn"))
  }

  test("missing column + null violation + type error all reported") {
    // csvBad has no ssn column; read with inferred header so the frame
    // really lacks it (schema-on-read like the reference DictReader)
    val dir = Fixtures.tmpDir("val")
    Fixtures.write(dir.resolve("bad.csv"), Fixtures.csvBad)
    val df = Readers.csvInferHeader(spark, dir.resolve("bad.csv").toString)
    val r = Validator.validate(df, Seeds.hospitalA)
    assert(!r.valid)
    assert(r.missingColumns == Seq("ssn"))
    assert(r.errors.exists(_.startsWith("null_violation:patient_name")))
    assert(r.errors.exists(_.startsWith("type_error:dob:not-a-date")))
  }

  test("type probes only sample the first 200 rows but count is exact") {
    val rows = (1 to 300).map(i => (s"P$i", s"name$i", "123-45-6789",
      if (i > 250) "BADDATE" else "1990-01-01", "2025-01-01", "Flu", "n"))
    val df = rows.toDF("patient_id", "patient_name", "ssn", "dob", "visit_date", "diagnosis", "notes")
    val r = Validator.validate(df, Seeds.hospitalA)
    assert(r.rowCount == 300)
    assert(r.valid, s"bad rows beyond the 200-row sample must not fail validation: ${r.errors}")
  }

  test("error samples capped at 20") {
    val rows = (1 to 50).map(i => (s"P$i", "", "x", "1990-01-01", "2025-01-01", "Flu", "n"))
    val df = rows.toDF("patient_id", "patient_name", "ssn", "dob", "visit_date", "diagnosis", "notes")
    val r = Validator.validate(df, Seeds.hospitalA)
    assert(!r.valid && r.errors.size == 20)
  }

  test("lenient date parsing accepts multiple formats") {
    val rows = Seq(("P1", "n", "s", "19900115", "2025-01-01", "F", "x"),
      ("P2", "n", "s", "01/15/1990", "2025-01-01 10:00:00", "F", "x"))
    val df = rows.toDF("patient_id", "patient_name", "ssn", "dob", "visit_date", "diagnosis", "notes")
    val r = Validator.validate(df, Seeds.hospitalA)
    assert(r.valid, r.errors.mkString(";"))
  }

  test("lenientTimestamp matches a dateutil-generated accept/reject table") {
    // ground truth generated with python dateutil.parser.parse on
    // 2026-08-12 (the reference's validator, validate.py:19-37)
    val accepted = Seq(
      "2025-02-15", "20250215", "02/15/2025", "15-02-2025", "2025/02/15",
      "2025-02-15 10:30:00", "2025-02-15T10:30:00", "2025-02-15T10:30:00Z",
      "2025-02-15T10:30:00+05:30", "2025-02-15T10:30:00.123456",
      "20250215103000", "Feb 15 2025", "feb 15 2025", "15 Feb 2025",
      "February 15, 2025", "february 15 2025", "15 February 2025",
      "FEB 15 2025", "Feb 15, 2025", "10:30:00", "10:30",
      "02/15/2025 10:30", "2025", "15.02.2025", "Sat Feb 15 10:30:00 2025",
      // year-less month-day forms: dateutil fills today's defaults
      "Feb 15", "feb 15", "15 Feb", "February 15", "15 February",
      "15 feb")
    val rejected = Seq(
      "not a date", "2025-13-45", "99/99/9999", "hello 123",
      "13/13/2025", "0", "2025-02-30",
      // calendar-invalid year-less forms (2026 is not a leap year)
      "Feb 30", "Feb 29", "31 Apr")
    val df = (accepted.map((_, true)) ++ rejected.map((_, false))).toDF("s", "expect")
    val got = df.select(col("s"), col("expect"),
        Validator.lenientTimestamp(col("s")).isNotNull.as("parsed")).collect()
    val wrong = got.filter(r => r.getBoolean(1) != r.getBoolean(2))
      .map(r => s"${r.getString(0)} expected=${r.getBoolean(1)}")
    assert(wrong.isEmpty, s"dateutil-parity mismatches: ${wrong.mkString(", ")}")
  }

  /** The 25-term `coalesce` of `try_to_timestamp` calls that
    * [[Validator.lenientTimestamp]] replaced: the reference it must equal.
    */
  private def coalesceReference(c: Column): Column = {
    val n = initcap(regexp_replace(trim(c), "\\s+", " "))
    val bareYear = when(trim(c).rlike("^\\d{4}$"), trim(c))
    val y = concat(n, lit(" 2001"))
    coalesce(
      try_to_timestamp(c),
      try_to_timestamp(c, lit("yyyy-MM-dd")),
      try_to_timestamp(c, lit("yyyyMMdd")),
      try_to_timestamp(c, lit("MM/dd/yyyy")),
      try_to_timestamp(c, lit("dd/MM/yyyy")),
      try_to_timestamp(c, lit("dd-MM-yyyy")),
      try_to_timestamp(c, lit("yyyy/MM/dd")),
      try_to_timestamp(c, lit("dd.MM.yyyy")),
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyyMMddHHmmss")),
      try_to_timestamp(c, lit("MM/dd/yyyy HH:mm")),
      try_to_timestamp(c, lit("HH:mm:ss")),
      try_to_timestamp(c, lit("HH:mm")),
      try_to_timestamp(n, lit("MMM d yyyy")),
      try_to_timestamp(n, lit("MMM d, yyyy")),
      try_to_timestamp(n, lit("d MMM yyyy")),
      try_to_timestamp(n, lit("MMMM d yyyy")),
      try_to_timestamp(n, lit("MMMM d, yyyy")),
      try_to_timestamp(n, lit("d MMMM yyyy")),
      try_to_timestamp(regexp_replace(n, "^(Mon|Tue|Wed|Thu|Fri|Sat|Sun) ", ""), lit("MMM d HH:mm:ss yyyy")),
      try_to_timestamp(y, lit("MMM d yyyy")),
      try_to_timestamp(y, lit("d MMM yyyy")),
      try_to_timestamp(y, lit("MMMM d yyyy")),
      try_to_timestamp(y, lit("d MMMM yyyy")),
      try_to_timestamp(bareYear, lit("yyyy")))
  }

  /** Date-like strings: every form of the probe, in several cases and
    * spacings, plus near misses, invalid calendar days and noise.
    */
  private def fuzzedDates(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val months = Seq("Jan", "feb", "MAR", "April", "may", "JUNE", "Jul", "aUg", "September", "oct", "Nov", "DECEMBER", "Sept", "Febr")
    val days = Seq("Mon", "tue", "WED", "Thu", "Fri", "sat", "Sun", "Monday")
    def pad(i: Int) = if (rnd.nextBoolean()) f"$i%02d" else i.toString
    def num(hi: Int) = pad(rnd.nextInt(hi + 2))
    def year = Seq("2025", "2024", "1999", "0001", "99", "20250", "1900")(rnd.nextInt(7))
    def ws = Seq(" ", "  ", "\t", " \n ", "")(rnd.nextInt(5))
    def month = months(rnd.nextInt(months.size))
    def one(): String = rnd.nextInt(16) match {
      case 0 => s"$year-${num(12)}-${num(31)}"
      case 1 => s"$year${num(12)}${num(31)}"
      case 2 => s"${num(12)}/${num(31)}/$year"
      case 3 => s"${num(31)}-${num(12)}-$year"
      case 4 => s"$year/${num(12)}/${num(31)}"
      case 5 => s"${num(31)}.${num(12)}.$year"
      case 6 => s"$year-${num(12)}-${num(31)}${Seq(" ", "T")(rnd.nextInt(2))}${num(24)}:${num(59)}:${num(59)}" +
        Seq("", "Z", "+05:30", ".123456", "-0800")(rnd.nextInt(5))
      case 7 => s"${num(12)}/${num(31)}/$year ${num(24)}:${num(59)}"
      case 8 => s"${num(24)}:${num(59)}" + (if (rnd.nextBoolean()) s":${num(59)}" else "")
      case 9 => s"$ws$month$ws${num(31)}${Seq("", ",")(rnd.nextInt(2))}$ws$year$ws"
      case 10 => s"$ws${num(31)}$ws$month$ws$year"
      case 11 => s"${days(rnd.nextInt(days.size))}$ws$month ${num(31)} ${num(24)}:${num(59)}:${num(59)} $year"
      case 12 => s"$ws$month$ws${num(31)}$ws"
      case 13 => s"$ws${num(31)}$ws$month"
      case 14 => s"$ws$year$ws"
      case _ => Seq("", " ", "not a date", "0", "hello 123", "2025-02-30", "Feb 29", "31 Apr", "2025\n",
        "T10:30", "2025-W07", "15th Feb 2025", "ſep 15 2025", "\u212Aug 1 2025")(rnd.nextInt(14))
    }
    Seq.fill(600)(one())
  }

  test("lenientTimestamp equals the 25-term coalesce on the dateutil table and fuzzed strings") {
    val table = Seq("2025-02-15", "20250215", "02/15/2025", "15-02-2025", "2025/02/15",
      "2025-02-15 10:30:00", "2025-02-15T10:30:00", "2025-02-15T10:30:00Z", "2025-02-15T10:30:00+05:30",
      "2025-02-15T10:30:00.123456", "20250215103000", "Feb 15 2025", "feb 15 2025", "15 Feb 2025",
      "February 15, 2025", "february 15 2025", "15 February 2025", "FEB 15 2025", "Feb 15, 2025", "10:30:00",
      "10:30", "02/15/2025 10:30", "2025", "15.02.2025", "Sat Feb 15 10:30:00 2025", "Feb 15", "feb 15",
      "15 Feb", "February 15", "15 February", "15 feb", "not a date", "2025-13-45", "99/99/9999", "hello 123",
      "13/13/2025", "0", "2025-02-30", "Feb 30", "Feb 29", "31 Apr")
    val values = (table ++ fuzzedDates(5) ++ fuzzedDates(6)).map(Option(_)) :+ None
    // from parquet, so both run as compiled plans rather than being
    // folded into a local relation at planning time
    val path = Fixtures.tmpDir("lenient").resolve("d.parquet").toString
    values.toDF("s").repartition(3).write.parquet(path)
    val got = spark.read.parquet(path)
      .select(col("s"), Validator.lenientTimestamp(col("s")).as("got"), coalesceReference(col("s")).as("want"))
      .collect()
    assert(got.length == values.size)
    val wrong = got.filter(r => r.get(1) != r.get(2)).map(r => s"'${r.getString(0)}': ${r.get(1)} vs ${r.get(2)}")
    assert(wrong.isEmpty, wrong.mkString(", "))
    val parsed = got.count(r => r.get(2) != null)
    assert(parsed > values.size / 4 && parsed < values.size * 3 / 4, s"$parsed of ${values.size} parse")
  }

  /** CSV validation as it was: an exact `count()` plus a probe of the
    * first [[Validator.SampleRows]] rows through `limit` — the reference
    * the one-scan probe must equal.
    */
  private def limitReference(df: DataFrame): (Long, Seq[String]) = {
    val probed = df.limit(Validator.SampleRows)
    (df.count(), probed.select(explode(Validator.errorArray(probed, Seeds.hospitalA)))
      .limit(Validator.MaxErrorSamples).collect().map(_.getString(0)).toSeq)
  }

  test("CSV validation in one scan equals count plus the limit(200) probe, over any partitioning") {
    val rnd = new scala.util.Random(3)
    for (layout <- Seq(Seq(300), Seq(50, 90, 120, 40), Seq(0, 199, 2, 0, 150), Seq(10, 10, 10), Seq(0), Seq(250, 250))) {
      val rows = layout.flatMap { n =>
        Seq.fill(n) {
          val i = rnd.nextInt(1000)
          Row(s"P$i", if (rnd.nextInt(40) == 0) "" else s"name$i", "123-45-6789",
            if (rnd.nextInt(25) == 0) s"bad$i" else "1990-01-01", "2025-01-01", "Flu", "n")
        }
      }
      val parts = layout.scanLeft(0)(_ + _)
      val rdd = spark.sparkContext.parallelize(rows, layout.size).mapPartitionsWithIndex { (p, _) =>
        rows.slice(parts(p), parts(p + 1)).iterator
      }
      val df = spark.createDataFrame(rdd, Seeds.hospitalA.rawSchema)
      assert(df.rdd.glom().map(_.length).collect().toSeq == layout)
      val (count, errors) = limitReference(df)
      val r = Validator.validate(df, Seeds.hospitalA)
      assert((r.rowCount, r.errors) == ((count, errors)), layout)
      assert(r.valid == errors.isEmpty)
    }
  }

  test("HL7: message missing PID fails, good messages pass") {
    val dir = Fixtures.tmpDir("val")
    Fixtures.write(dir.resolve("good.hl7"), Fixtures.hl7Good)
    Fixtures.write(dir.resolve("bad.hl7"), Fixtures.hl7MissingPid)
    val good = Validator.validateHl7(
      Readers.hl7Messages(spark, dir.resolve("good.hl7").toString), Seeds.hospitalCHl7)
    assert(good.valid && good.rowCount == 2)
    val bad = Validator.validateHl7(
      Readers.hl7Messages(spark, dir.resolve("bad.hl7").toString), Seeds.hospitalCHl7)
    assert(!bad.valid && bad.errors.contains("missing_PID_segment"))
  }
}
