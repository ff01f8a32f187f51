package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.LenientDate
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
  * Scale: every format validates in one Spark job, one scan that counts
  * the rows exactly and probes them on the way ([[countAndProbe]]). For
  * CSV the type and null probes are evaluated only on each partition's
  * first `sampleRows` rows, and the driver keeps the errors of the file's
  * first `sampleRows` rows, as the reference's sample does; JSONL and
  * HL7 probe every row. Each partition ships at most maxErrorSamples
  * error strings to the driver, so a 100 TB file never ships per-row
  * error objects.
  */
object Validator {

  val SampleRows = 200
  val MaxErrorSamples = 20

  /** Lenient type-conformance predicate (F8): true when the value does
    * NOT conform. Empty/null passes (counted by nullability instead).
    * try_cast and [[lenientTimestamp]] keep this ANSI-safe: a value that
    * does not parse is null, never an error.
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

  /** dateutil-parity permissive date probe: the first form that parses
    * (reference validate.py:19-37 calls dateutil.parser.parse), null
    * when none does. Month names are case-normalized (dateutil is
    * case-insensitive), US month-first slash dates are tried before
    * day-first (dateutil's default ordering), bare 4-digit years and
    * time-only values parse (dateutil fills today's defaults),
    * offset/'T'/fraction ISO forms ride on Spark's default parser, and
    * year-less month-day forms ("Feb 15", "15 Feb") parse against a
    * fixed non-leap default year; [[graft.expressions.LenientDate]]
    * lists the forms. ValidatorSpec pins this against a generated table
    * of dateutil-accepted/rejected strings.
    */
  def lenientTimestamp(c: Column): Column = LenientDate(c)

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
    * every row with `probeAll` (JSONL, validate.py:127-158). A spec
    * column is missing when `df` lacks it.
    */
  def validate(df: DataFrame, spec: SourceSpec, probeAll: Boolean = false): ValidationResult = {
    val expected = spec.fields.map(_.name)
    val missing = expected.diff(df.columns.toSeq)
    val (rowCount, errors) = countAndProbe(df, errorArray(df, spec), if (probeAll) None else Some(SampleRows))
    ValidationResult(missing.isEmpty && errors.isEmpty, rowCount, missing, errors)
  }

  /** The exact row count of `df` and the first [[MaxErrorSamples]]
    * error strings of `errors` over its first `probeRows` rows (every
    * row when None), in one Spark job. Each partition reads to its end,
    * counting its rows, and reports its first MaxErrorSamples errors
    * among its own first `probeRows` rows, each with its row index in
    * the partition; past those rows `errors` is not evaluated. The
    * driver walks the partitions in order, the order a limit takes
    * them, and keeps the errors of rows within the first `probeRows`
    * overall, so a 100 TB file never ships per-row error objects to
    * the driver.
    */
  private def countAndProbe(df: DataFrame, errors: Column, probeRows: Option[Int]): (Long, Seq[String]) = {
    val limit = probeRows.fold(Long.MaxValue)(_.toLong)
    val max = MaxErrorSamples
    // the row's index in its partition: monotonically_increasing_id's
    // low 33 bits
    val probed = probeRows.fold(errors)(n => when((monotonically_increasing_id() % (1L << 33)) < n, errors))
    val parts = df.select(probed).mapPartitions { rows =>
      var n = 0L
      val at = Vector.newBuilder[Long]
      val kept = Vector.newBuilder[String]
      var k = 0
      rows.foreach { r =>
        if (n < limit && k < max && !r.isNullAt(0))
          r.getSeq[String](0).iterator.take(max - k).foreach { e => at += n; kept += e; k += 1 }
        n += 1
      }
      Iterator[(Long, Seq[Long], Seq[String])]((n, at.result(), kept.result()))
    }(Encoders.product[(Long, Seq[Long], Seq[String])]).collect()
    var offset = 0L
    val kept = Vector.newBuilder[String]
    parts.foreach { case (n, at, es) =>
      at.zip(es).foreach { case (i, e) => if (offset + i < limit) kept += e }
      offset += n
    }
    (offset, kept.result().take(max))
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
    val (rowCount, errors) = countAndProbe(messages, filter(array(checks: _*), x => x.isNotNull), None)
    ValidationResult(errors.isEmpty, rowCount, Nil, errors)
  }
}
