package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.PhiRule

/** A PHI rule chain over one string as one native expression:
  * `struct<value, fired, n>` where `value` is the fold
  * `regexp_replace(… regexp_replace(child, p1, r1) …, pk, rk)` over
  * the rules in order, `fired` the ids of the rules that changed the
  * running value (in rule order) and `n` their count. A null child
  * gives a null value, no fired rules and 0.
  *
  * Each pattern is used as given, with `regexp_replace`'s semantics
  * (`Pattern.compile`, `Matcher.appendReplacement` over every match);
  * the callers pass [[graft.operators.Scrubber.ciPattern]] patterns.
  * The generated code is one call into [[PhiChainRules]], whose
  * patterns are compiled once per task, so a scrub's code stays the
  * same size per column whatever the rule count. Pinned equal to the
  * `regexp_replace` fold by ScrubberSpec.
  */
case class PhiChain(child: Expression, rules: Seq[PhiRule]) extends UnaryExpression {

  override def dataType: DataType = PhiChain.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = PhiChain.FnName

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${PhiChain.FnName} expects a string argument, got ${child.dataType.catalogString}")

  @transient private lazy val chain = new PhiChainRules(rules)

  override def eval(input: InternalRow): Any =
    chain(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val rulesRef = ctx.addReferenceObj("phiChain", new PhiChainRules(rules))
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = $rulesRef.apply(${c.isNull} ? null : ${c.value});
        """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PhiChain =
    copy(child = newChild)
}

/** The compiled rules of a [[PhiChain]]: what its generated code calls. */
final class PhiChainRules(rules: Seq[PhiRule]) extends Serializable {

  private val patterns = rules.map(r => Pattern.compile(r.pattern)).toArray
  private val replacements = rules.map(_.replacement).toArray
  private val ids = rules.map(r => UTF8String.fromString(r.ruleId)).toArray

  def apply(s: UTF8String): InternalRow = {
    if (s == null) return new GenericInternalRow(Array[Any](null, PhiChain.NoneFired, 0L))
    var v = s.toString
    val fired = Array.newBuilder[Any]
    var n = 0L
    var i = 0
    while (i < patterns.length) {
      val m = patterns(i).matcher(v)
      if (m.find()) {
        val sb = new java.lang.StringBuilder
        while ({ m.appendReplacement(sb, replacements(i)); m.find() }) ()
        m.appendTail(sb)
        val next = sb.toString
        if (next != v) {
          fired += ids(i)
          n += 1
          v = next
        }
      }
      i += 1
    }
    val value = if (n == 0) s else UTF8String.fromString(v)
    new GenericInternalRow(Array[Any](value, new GenericArrayData(fired.result()), n))
  }
}

object PhiChain {

  val FnName = "phi_chain"

  val ResultType: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("fired", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))

  private[expressions] val NoneFired: ArrayData = new GenericArrayData(Array.empty[Any])

  private def strings(name: String, e: Expression): Seq[String] = {
    val values = e.dataType match {
      case ArrayType(_: StringType, _) if e.foldable =>
        Option(e.eval().asInstanceOf[ArrayData]).map(_.toSeq[UTF8String](StringType))
      case _ => None
    }
    values.filterNot(_.contains(null)).map(_.map(_.toString)).getOrElse(
      throw new IllegalArgumentException(
        s"$FnName: argument '$name' must be a constant array of non-null strings, got ${e.sql}"))
  }

  /** The one expression builder — shared by [[register]] and
    * GraftExtensions: `phi_chain(text, ids, patterns, replacements)`
    * with three constant string arrays of one length.
    */
  val builder: Seq[Expression] => Expression = exprs => {
    if (exprs.size != 4) throw new IllegalArgumentException(
      s"$FnName takes (text, ids, patterns, replacements), got ${exprs.size} arguments")
    val Seq(ids, patterns, replacements) =
      Seq("ids" -> exprs(1), "patterns" -> exprs(2), "replacements" -> exprs(3)).map((strings _).tupled)
    if (patterns.size != ids.size || replacements.size != ids.size) throw new IllegalArgumentException(
      s"$FnName: ids, patterns and replacements differ in length")
    PhiChain(exprs.head, ids.indices.map(i => PhiRule(ids(i), patterns(i), replacements(i), "")))
  }

  /** Idempotent per-session registration (temp function). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(FnName)))
      reg.createOrReplaceTempFunction(FnName, builder, "built-in")
  }

  /** Column form (Column↔Expression bridges are private[sql] in
    * Spark 4, so this routes through the function registry).
    */
  def apply(c: Column, rules: Seq[PhiRule]): Column = {
    register(SparkSession.active)
    call_function(FnName, c, typedLit(rules.map(_.ruleId)), typedLit(rules.map(_.pattern)),
      typedLit(rules.map(_.replacement)))
  }
}
