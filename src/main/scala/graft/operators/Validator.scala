package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{FieldSpec, SourceSpec}

/** Result of validating one batch frame (reference: etl/validate.py). */
final case class ValidationResult(
    valid: Boolean,
    rowCount: Long,
    missingColumns: Seq[String],
    errors: Seq[String]) // sampled, ≤ maxErrorSamples

/** Schema validation compiled from metadata into column predicates
  * (P6/P7, reference: etl/validate.py).
  *
  * Reference behaviors preserved:
  *  - column-presence diff is driver-side over df.columns (validate.py:100-105);
  *  - CSV type probes run on the first `sampleRows` rows only, while
  *    the row count stays exact (validate.py:111-120); JSONL and HL7
  *    check every row (validate.py:127-158, 160-213);
  *  - at most `maxErrorSamples` error strings are retained (validate.py:123);
  *  - empty string counts as null for nullability checks (validate.py:115-116);
  *  - unknown declared types pass (validate.py:23-34).
  *
  * Scale: for CSV the probe frame is a limit(sampleRows) — Catalyst
  * plans it as a LocalLimit that short-circuits the scan — and the
  * exact count is a separate count(*) over the (columnar, pushed-down)
  * source. Where the probe covers every row (JSONL, HL7), the exact
  * count is observed on the probe's own scan, one Spark job: each
  * partition reads to its end and keeps only its first
  * maxErrorSamples errors, so a 100 TB file never ships per-row error
  * objects to the driver.
  */
object Validator {

  val SampleRows = 200
  val MaxErrorSamples = 20

  /** Lenient type-conformance predicate (F8): true when the value does
    * NOT conform. Empty/null passes (counted by nullability instead).
    * try_* keeps this ANSI-safe and mirrors dateutil's "parses or not"
    * probe with a multi-format coalesce.
    */
  def typeViolation(c: Column, f: FieldSpec): Column = {
    val nonEmpty = c.isNotNull && c =!= ""
    val parsed: Column = f.sparkType match {
      case LongType    => c.try_cast("long")
      case DoubleType  => c.try_cast("double")
      case BooleanType => c.try_cast("boolean")
      case DateType | TimestampType => lenientTimestamp(c)
      case _           => c // unknown/string → always conforms
    }
    nonEmpty && parsed.isNull
  }

  /** dateutil-parity permissive date probe: first format that sticks
    * (reference validate.py:19-37 calls dateutil.parser.parse). Month
    * names are case-normalized via initcap (dateutil is
    * case-insensitive), US month-first slash dates are tried before
    * day-first (dateutil's default ordering), bare 4-digit years and
    * time-only values parse (dateutil fills today's defaults), and
    * offset/'T'/fraction ISO forms ride on Spark's default parser, and
    * year-less month-day forms ("Feb 15", "15 Feb") parse against a
    * fixed non-leap default year.
    * ValidatorSpec pins this against a generated table of
    * dateutil-accepted/rejected strings.
    */
  def lenientTimestamp(c: Column): Column = {
    val n = initcap(regexp_replace(trim(c), "\\s+", " "))
    val bareYear = when(trim(c).rlike("^\\d{4}$"), trim(c))
    // Year-less month-day forms ("Feb 15", "15 Feb"): dateutil fills
    // today's year. A fixed NON-leap default year keeps the probe
    // deterministic while matching dateutil's calendar validation in a
    // non-leap year ("Feb 29" rejected, "Feb 28" accepted) — the one
    // divergence is Feb 29 probed during a real leap year, which
    // dateutil would then accept.
    val y = concat(n, lit(" 2001"))
    coalesce(
      try_to_timestamp(c), // ISO date/datetime incl. 'T', offsets, fractions
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
      // ctime(): Spark forbids day-of-week in parse patterns, so the
      // leading weekday token is stripped instead (dateutil ignores it)
      try_to_timestamp(
        regexp_replace(n, "^(Mon|Tue|Wed|Thu|Fri|Sat|Sun) ", ""),
        lit("MMM d HH:mm:ss yyyy")),
      // year-less forms (dateutil today-defaults; see `y` above) —
      // an input that already ends in a year fails these patterns on
      // the appended token and is caught by the with-year forms above
      try_to_timestamp(y, lit("MMM d yyyy")),
      try_to_timestamp(y, lit("d MMM yyyy")),
      try_to_timestamp(y, lit("MMMM d yyyy")),
      try_to_timestamp(y, lit("d MMMM yyyy")),
      try_to_timestamp(bareYear, lit("yyyy")))
  }

  def nullabilityViolation(c: Column, f: FieldSpec): Column =
    if (f.nullable) lit(false) else c.isNull || c === ""

  /** Per-row array<string> of error descriptions for the sampled probe
    * frame; exploded/limited by the caller.
    */
  def errorArray(df: DataFrame, spec: SourceSpec): Column = {
    val checks: Seq[Column] = spec.fields.filter(f => df.columns.contains(f.name)).flatMap { f =>
      val c = col(f.name)
      Seq(
        when(nullabilityViolation(c, f), lit(s"null_violation:${f.name}")),
        when(typeViolation(c, f), concat(lit(s"type_error:${f.name}:"), c)))
    }
    if (checks.isEmpty) array().cast(ArrayType(StringType))
    else filter(array(checks: _*), x => x.isNotNull)
  }

  /** Validate a tabular batch frame against its metadata. The probes
    * cover the first [[SampleRows]] rows (CSV, validate.py:111-120), or
    * every row with `probeAll` (JSONL, validate.py:127-158).
    */
  def validate(df: DataFrame, spec: SourceSpec, probeAll: Boolean = false): ValidationResult = {
    val expected = spec.fields.map(_.name)
    val missing = expected.diff(df.columns.toSeq)
    val (rowCount, errors) =
      if (probeAll) countAndProbe(df, errorArray(df, spec))
      else {
        val probed = df.limit(SampleRows)
        (df.count(), // exact, full scan — columnar + pushdown
          probed.select(explode(errorArray(probed, spec))).limit(MaxErrorSamples)
            .collect().map(_.getString(0)).toSeq)
      }
    ValidationResult(missing.isEmpty && errors.isEmpty, rowCount, missing, errors)
  }

  /** The exact row count of `df` and the first [[MaxErrorSamples]]
    * error strings of `errors` over every row, in one Spark job: the
    * count is observed on the probe's scan, so no partition may stop
    * early — each reads to its end and keeps its first samples.
    */
  private def countAndProbe(df: DataFrame, errors: Column): (Long, Seq[String]) = {
    val obs = Observation()
    val max = MaxErrorSamples
    val samples = df.observe(obs, count(lit(1)).as("n"))
      .select(explode(errors)).as(Encoders.STRING)
      .mapPartitions(it => it.foldLeft(Vector.empty[String])((kept, e) =>
        if (kept.size < max) kept :+ e else kept).iterator)(Encoders.STRING)
      .collect().take(max).toSeq
    (obs.get("n").asInstanceOf[Long], samples)
  }

  /** HL7 validation (etl/validate.py:160-213): every message must have
    * a PID segment and non-empty values at each required PID-n position.
    */
  def validateHl7(messages: DataFrame, spec: SourceSpec): ValidationResult = {
    import org.apache.spark.sql.functions.{get => arrGet}
    val lines = split(col("message"), "\n")
    // try_element_at: ANSI-safe null when a message has no PID segment
    val pidLine = try_element_at(filter(lines, l => l.startsWith("PID|")), lit(1))
    val parts = split(pidLine, "\\|")
    val required = spec.fields.filter(f => !f.nullable && f.name.startsWith("PID-"))
      .map(f => f.name.stripPrefix("PID-").toInt -> f.name)
    val checks: Seq[Column] =
      when(pidLine.isNull, lit("missing_PID_segment")) +:
        required.map { case (n, name) =>
          val v = trim(arrGet(parts, lit(n)))
          when(pidLine.isNotNull && (v.isNull || v === ""), lit(s"missing_required:$name"))
        }
    val (rowCount, errors) = countAndProbe(messages, filter(array(checks: _*), x => x.isNotNull))
    ValidationResult(errors.isEmpty, rowCount, Nil, errors)
  }
}
