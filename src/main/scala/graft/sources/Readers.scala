package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{SourceFormat, SourceSpec}

/** Format readers for the three clinical source formats.
  *
  * All raw reads are schema-on-read with every column string-typed,
  * mirroring the reference's csv.DictReader / json.loads /
  * pd.read_csv(dtype=str) semantics (reference: etl/validate.py:98-99,
  * etl/transform.py:171). Typed casts happen only after validation.
  *
  * Scale note: all of these are plain DataFrame sources — Spark splits
  * CSV/JSON by HDFS block and parallelizes across executors for free.
  * The HL7 reader keeps one row per message (multi-char lineSep split
  * done by Hadoop's record reader), so a 100 TB HL7 corpus still scans
  * in parallel without whole-file reads.
  */
object Readers {

  def read(spark: SparkSession, spec: SourceSpec, path: String): DataFrame =
    spec.format match {
      case SourceFormat.Csv   => csv(spark, spec, path)
      case SourceFormat.Jsonl => jsonl(spark, spec, path)
      case SourceFormat.Hl7   => hl7Messages(spark, path)
    }

  /** CSV with header, the spec's columns read as string by their header
    * names, as csv.DictReader reads them (S4): a repeated name takes its
    * last column's value, and a spec column the header lacks is absent
    * from the frame. The header line is parsed on the driver, so no
    * Spark job infers the schema. PERMISSIVE mode retains malformed rows
    * for quarantine accounting.
    */
  def csv(spark: SparkSession, spec: SourceSpec, path: String): DataFrame = {
    val header = csvHeaderFields(spark, path)
    val taken = header.filter(_ != null).groupBy(_.toLowerCase).view.mapValues(_.size).toMap
    // a column keeps a name the header holds once, so the CSV source
    // finds the header conforming; a repeated or empty one is renamed
    val names = header.zipWithIndex.map { case (h, i) =>
      if (h != null && taken(h.toLowerCase) == 1) h
      else Iterator.iterate(s"_c$i")(_ + "_").find(n => !taken.contains(n.toLowerCase)).get
    }
    val at = header.zipWithIndex.filter(_._1 != null).toMap // a name's last column
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(StructType(names.padTo(1, "_c0").map(StructField(_, StringType))))
      .csv(path)
      .select(spec.fields.filter(f => at.contains(f.name)).map { f =>
        col("`" + names(at(f.name)).replace("`", "``") + "`").as(f.name)
      }: _*)
  }

  /** CSV where we must keep *whatever* header the file has (used by the
    * scrub stage, which preserves input fieldnames — K3), every column
    * read as string. The header is the file's first non-blank line, read
    * on the driver; Spark's own CSV header logic names the columns
    * (empty and duplicate names made unique) over a one-line local
    * Dataset, so no Spark job infers the schema. A file without a
    * non-blank line reads with no columns.
    */
  def csvInferHeader(spark: SparkSession, path: String): DataFrame = {
    val header = spark.createDataset(firstNonBlankLine(spark, path).toSeq)(Encoders.STRING)
    val schema = spark.read.option("header", "true").csv(header).schema
    spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** The fields of a CSV file's header line by position, null where a
    * name is empty; empty for a file without a non-blank line.
    */
  private def csvHeaderFields(spark: SparkSession, path: String): Seq[String] =
    firstNonBlankLine(spark, path).toSeq.flatMap { line =>
      val options = new CSVOptions(Map.empty[String, String], false,
        spark.sessionState.conf.sessionLocalTimeZone)
      new CsvParser(options.asParserSettings).parseLine(line).toSeq
    }

  /** The first line of a text file that is not empty or all spaces (the
    * CSV source's own test), less a leading byte-order mark.
    */
  private def firstNonBlankLine(spark: SparkSession, path: String): Option[String] = {
    val p = new HPath(path)
    val in = new BufferedReader(new InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).zipWithIndex
      .map { case (l, i) => if (i == 0) l.stripPrefix("\uFEFF") else l }
      .find(_.exists(_ != ' '))
    finally in.close()
  }

  /** JSONL: one JSON object per line, blank lines skipped by the JSON
    * source; invalid lines land in `_corrupt_record` (S5).
    */
  def jsonl(spark: SparkSession, spec: SourceSpec, path: String): DataFrame = {
    val schema = spec.rawSchema.add(StructField("_corrupt_record", StringType, nullable = true))
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .json(path)
  }

  /** HL7 v2 scan (S6): messages are text blocks separated by blank
    * lines (reference: etl/validate.py:179-184 splits on "\n\n").
    * `lineSep` gives one DataFrame row per message; surrounding
    * whitespace (newlines included, so a file's final newline never
    * becomes part of a message) stripped and empty chunks dropped like
    * the reference's `[m.strip() for m in text.split("\n\n") if m.strip()]`.
    */
  def hl7Messages(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("lineSep", "\n\n")
      .text(path)
      .select(regexp_replace(col("value"), "\\A\\s+|\\s+\\z", "").as("message"))
      .filter(length(col("message")) > 0)

  /** HL7 PID/OBX field extraction (S7) as pure column expressions over
    * the `message` column — no UDF, fully codegen'd.
    *
    * Positional semantics per reference etl/transform.py:81-117:
    * parts[0] == "PID", field n at split index n; OBX_TEXT is the
    * space-join of all OBX| lines.
    */
  def hl7Parse(messages: DataFrame): DataFrame = {
    val lines = split(col("message"), "\n")
    // first PID line (reference takes the first match and breaks);
    // try_element_at: ANSI-safe null when a message has no PID segment
    val pidLine = try_element_at(filter(lines, l => l.startsWith("PID|")), lit(1))
    val parts = split(pidLine, "\\|")
    // `get` is 0-based and ANSI-safe (null when out of range) — field n
    // lives at split index n because parts(0) == "PID".
    def fld(n: Int) = trim(get(parts, lit(n)))
    val obx = filter(lines, l => l.startsWith("OBX|"))
    messages.select(
      col("message"),
      fld(3).as("PID-3"),
      fld(5).as("PID-5"),
      fld(7).as("PID-7"),
      fld(11).as("PID-11"),
      fld(16).as("PID-16"),
      fld(17).as("PID-17"),
      fld(19).as("PID-19"),
      when(size(obx) > 0, array_join(obx, " ")).otherwise(lit(null).cast(StringType)).as("OBX_TEXT"))
  }

  /** HL7 component access: component `c` (1-based) of a composite field
    * value, split on the `^` separator — e.g. family name =
    * hl7Component(pid5, 1). ANSI-safe null when absent.
    */
  def hl7Component(field: Column, c: Int): Column =
    get(split(field, "\\^"), lit(c - 1))
}
