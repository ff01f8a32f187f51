package graft.expressions

import java.time.ZoneId
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** dateutil-parity permissive date parse as one native expression: the
  * timestamp of the first form that parses, in the order the
  * companion lists them, null when none does. Equal, value for value, to the
  * `coalesce` of `try_to_timestamp` calls it replaces (pinned by
  * ValidatorSpec): the first form is Spark's string → timestamp cast,
  * the rest are Spark's own `TimestampFormatter`s, built once per task
  * and probed with `parseOptional`, so a value no form parses throws
  * nothing.
  */
case class LenientDate(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = LenientDate.FnName

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${LenientDate.FnName} expects a string argument, got ${child.dataType.catalogString}")

  override def withTimeZone(timeZoneId: String): LenientDate = copy(timeZoneId = Option(timeZoneId))

  // initcap's own case mapping switch, read where initcap reads it
  private def parser = new LenientDateParser(zoneId, SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))

  @transient private lazy val evalParser = parser

  override protected def nullSafeEval(input: Any): Any =
    evalParser.micros(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val parserRef = ctx.addReferenceObj("lenientDate", parser)
    nullSafeCodeGen(ctx, ev, s => {
      val micros = ctx.freshName("micros")
      s"""
        java.lang.Long $micros = $parserRef.micros($s);
        if ($micros == null) ${ev.isNull} = true; else ${ev.value} = $micros.longValue();
        """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LenientDate =
    copy(child = newChild)
}

/** The parse of a [[LenientDate]]: what its generated code calls. */
final class LenientDateParser(zoneId: ZoneId, icuCaseMappings: Boolean) extends Serializable {
  import LenientDate._

  private def formatters(forms: Seq[String]): Array[TimestampFormatter] =
    forms.map(f => TimestampFormatter(f, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toArray

  @transient private lazy val raw = formatters(RawForms)
  @transient private lazy val named = formatters(NamedForms)
  @transient private lazy val ctime = formatters(Seq(CtimeForm)).head
  @transient private lazy val yearless = formatters(YearlessForms)
  @transient private lazy val year = formatters(Seq("yyyy")).head

  private def first(s: String, fs: Array[TimestampFormatter]): Option[Long] = {
    var i = 0
    while (i < fs.length) {
      val v = fs(i).parseOptional(s)
      if (v.isDefined) return v
      i += 1
    }
    None
  }

  /** Microseconds since the epoch, or null when no form parses. */
  def micros(s: UTF8String): java.lang.Long = {
    lazy val trimmed = s.trim()
    lazy val n = {
      val collapsed = UTF8String.fromString(Whitespace.matcher(trimmed.toString).replaceAll(" "))
      // Spark's formatters parse text case-insensitively, so initcap
      // changes no result on ASCII, and its ICU case mapping costs
      // seconds of CPU the first time a JVM loads it
      if (collapsed.isFullAscii) collapsed.toString
      else CollationSupport.InitCap.exec(collapsed, CollationFactory.UTF8_BINARY_COLLATION_ID, icuCaseMappings).toString
    }
    DateTimeUtils.stringToTimestamp(s, zoneId)
      .orElse(first(s.toString, raw))
      .orElse(first(n, named))
      .orElse(ctime.parseOptional(Weekday.matcher(n).replaceAll("")))
      .orElse(first(n + " 2001", yearless))
      .orElse(if (BareYear.matcher(trimmed.toString).find()) year.parseOptional(trimmed.toString) else None)
      .map(Long.box).orNull
  }
}

object LenientDate {

  val FnName = "lenient_date"

  /** Forms tried on the value as it is, after Spark's own cast (ISO
    * date/datetime incl. 'T', offsets, fractions).
    */
  val RawForms: Seq[String] = Seq(
    "yyyy-MM-dd", "yyyyMMdd", "MM/dd/yyyy", "dd/MM/yyyy", "dd-MM-yyyy", "yyyy/MM/dd",
    "dd.MM.yyyy", "yyyy-MM-dd HH:mm:ss", "yyyyMMddHHmmss", "MM/dd/yyyy HH:mm", "HH:mm:ss", "HH:mm")

  /** Month-name forms, tried on the value trimmed, its whitespace runs
    * collapsed to one space and initcapped (dateutil is
    * case-insensitive; so are Spark's formatters on ASCII text, so an
    * ASCII value skips the initcap).
    */
  val NamedForms: Seq[String] = Seq(
    "MMM d yyyy", "MMM d, yyyy", "d MMM yyyy", "MMMM d yyyy", "MMMM d, yyyy", "d MMMM yyyy")

  /** ctime(), on the normalised value less a leading weekday: Spark
    * forbids day-of-week in parse patterns, and dateutil ignores it.
    */
  val CtimeForm = "MMM d HH:mm:ss yyyy"

  /** Year-less month-day forms ("Feb 15", "15 Feb"), on the normalised
    * value plus " 2001". dateutil fills today's year; a fixed NON-leap
    * year keeps the probe deterministic while matching dateutil's
    * calendar validation in a non-leap year ("Feb 29" rejected, "Feb 28"
    * accepted) — the one divergence is Feb 29 probed during a real leap
    * year, which dateutil would then accept. A value that already ends
    * in a year fails these on the appended token.
    */
  val YearlessForms: Seq[String] = Seq("MMM d yyyy", "d MMM yyyy", "MMMM d yyyy", "d MMMM yyyy")

  private[expressions] val Whitespace = Pattern.compile("\\s+")
  /** A leading weekday; ASCII case-insensitive, as an ASCII value is not
    * initcapped (on initcapped text it matches exactly what the
    * case-sensitive pattern would).
    */
  private[expressions] val Weekday = Pattern.compile("^(Mon|Tue|Wed|Thu|Fri|Sat|Sun) ", Pattern.CASE_INSENSITIVE)
  /** A bare year, on the trimmed value, parses as "yyyy". */
  private[expressions] val BareYear = Pattern.compile("^\\d{4}$")

  /** The one expression builder — shared by [[register]] and
    * GraftExtensions so the two registration paths can't drift.
    */
  val builder: Seq[Expression] => Expression = exprs => LenientDate(exprs.head)

  /** Idempotent per-session registration (temp function). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(FnName)))
      reg.createOrReplaceTempFunction(FnName, builder, "built-in")
  }

  /** Column form (Column↔Expression bridges are private[sql] in
    * Spark 4, so this routes through the function registry).
    */
  def apply(c: Column): Column = {
    register(SparkSession.active)
    call_function(FnName, c)
  }
}
