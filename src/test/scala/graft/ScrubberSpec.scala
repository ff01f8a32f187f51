package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model.{FieldSpec, PhiRule, Seeds, SourceFormat, SourceSpec}
import graft.operators.Scrubber

class ScrubberSpec extends SparkSpec {
  import spark.implicits._

  private def scrub(s: String): String =
    Seq(s).toDF("t").select(Scrubber.applyRules($"t", Seeds.phiRulesV1)).as[String].collect()(0)

  test("SSN dashed form is redacted (address rule blocked by punctuation)") {
    // NB: with a space after the digits the ADDRESS rule (first in
    // rule_id order, greedy) would eat "6789 end" — reference-true.
    assert(scrub("ssn 123-45-6789.") == "ssn [REDACTED_SSN].")
    assert(scrub("ssn 123-45-6789 end") == "ssn 123-45-[REDACTED_ADDRESS]")
  }

  test("phone is redacted by the phone rule, not the ssn rule") {
    assert(scrub("call 555-123-4567!") == "call [REDACTED_PHONE]!")
  }

  test("email is redacted") {
    assert(scrub("mail john.doe+x@example.com please") == "mail [REDACTED_EMAIL] please")
  }

  test("8-digit date beats 9-digit ssn rule by rule order") {
    // PHI_DATE_YYYYMMDD sorts before PHI_SSN_DIGITS (rule_id order) and
    // \b\d{8}\b matches inside nothing-else; a 9-digit run is left for
    // the SSN rule.
    assert(scrub("on 20250215.") == "on [REDACTED_DATE].")
    assert(scrub("id 123456789.") == "id [REDACTED_SSN].")
  }

  test("ISO date redacted; sequential fold feeds later rules") {
    assert(scrub("dob 1971-04-12.") == "dob [REDACTED_DATE].")
  }

  test("street address redacted (greedy approximate rule)") {
    assert(scrub("lives at 12 Main Street") startsWith "lives at [REDACTED_ADDRESS]")
  }

  test("case-insensitive matching mirrors reference IGNORECASE") {
    // patterns here are digit-based; exercise (?i) via an email with caps
    assert(scrub("MAIL John.DOE@EXAMPLE.COM!") == "MAIL [REDACTED_EMAIL]!")
  }

  test("null and empty pass through") {
    val out = Seq[Option[String]](None, Some("")).toDF("t")
      .select(Scrubber.applyRules($"t", Seeds.phiRulesV1)).as[Option[String]].collect()
    assert(out.toSeq == Seq(None, Some("")))
  }

  test("firedRules reports exactly the rules that changed the value") {
    val fired = Seq("ssn 123-45-6789, mail a@b.co").toDF("t")
      .select(Scrubber.firedRules($"t", Seeds.phiRulesV1)).as[Seq[String]].collect()(0)
    assert(fired.contains("PHI_SSN") && fired.contains("PHI_EMAIL"))
    assert(!fired.contains("PHI_PHONE"))
  }

  test("property: no SSN/phone/email pattern survives scrubbing (fuzz)") {
    val words = Vector("visit", "note", "checkup", "ok", "stable",
      "111-22-3333", "555-867-5309", "a.b@c.org", "19990101", "2024-12-31")
    val patterns = Seq("""\d{3}-\d{2}-\d{4}""", """\d{3}-\d{3}-\d{4}""", """[\w.+-]+@[\w-]+\.[\w.-]+""").map(_.r)
    val rnd = new scala.util.Random(42)
    val texts = (1 to 60).map(_ => (1 to 6).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    val outs = texts.toDF("t").select(Scrubber.applyRules($"t", Seeds.phiRulesV1)).as[String].collect()
    texts.zip(outs).foreach { case (in, out) =>
      patterns.foreach(p => assert(p.findFirstIn(out).isEmpty, s"'$in' -> '$out'"))
    }
  }

  test("scrub is idempotent on fuzzed corpora (second pass is a no-op)") {
    val words = Vector("visit", "note", "stable", "111-22-3333", "555-867-5309",
      "a.b@c.org", "19990101", "2024-12-31", "12 Main Street", "123-45-6789 end")
    val rnd = new scala.util.Random(7)
    val texts = (1 to 80).map(_ => (1 to 5).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    val out = texts.toDF("t")
      .select(Scrubber.applyRules($"t", Seeds.phiRulesV1).as("once"))
      .select($"once", Scrubber.applyRules($"once", Seeds.phiRulesV1).as("twice"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("column-level redaction: PHI columns get contextual tokens, others regex") {
    val df = Seq(("P1", "John Doe", "123-45-6789", "1971-04-12", "see 555-123-4567"))
      .toDF("patient_id", "patient_name", "ssn", "dob", "notes")
    val out = Scrubber.scrubTabular(df, Seeds.hospitalA, Seeds.phiRulesV1)
    val r = out.collect()(0)
    assert(r.getAs[String]("patient_id") == "P1") // non-PHI, no pattern
    assert(r.getAs[String]("patient_name") == "[REDACTED_NAME]")
    assert(r.getAs[String]("ssn") == "[REDACTED]") // generic: no name/dob in col, type=string
    assert(r.getAs[String]("dob") == "[REDACTED_DATE]")
    assert(r.getAs[String]("notes") == "see [REDACTED_PHONE]")
    assert(r.getAs[Long]("_redactions") == 4L)
  }

  /** The tabular scrub as one `foldLeft` of the rules per column plus a
    * `filter` over per-rule flags, each flag re-running its own prefix
    * of the fold: the reference [[Scrubber.scrubTabular]] must equal.
    */
  private def referenceScrub(df: DataFrame, spec: SourceSpec, rules: Seq[PhiRule], byName: Boolean): DataFrame = {
    def fired(c: Column): Column = {
      val (_, flags) = rules.foldLeft((c, Seq.empty[Column])) { case ((acc, fs), r) =>
        val next = regexp_replace(acc, Scrubber.ciPattern(r.pattern), r.replacement)
        (next, fs :+ when(acc.isNotNull && (next =!= acc), lit(r.ruleId)))
      }
      filter(array(flags: _*), x => x.isNotNull)
    }
    var redactions: Column = lit(0L)
    var firedAll: Column = array()
    val outCols = df.columns.toSeq.map { c =>
      spec.field(c) match {
        case Some(f) if f.isPhi =>
          val token = if (byName) Scrubber.phiTokenByName(c) else Scrubber.phiToken(c, f.dataType)
          val ruleId = token match {
            case "[REDACTED_NAME]" => "PHI_COLUMN_REDACT_NAME"
            case "[REDACTED_DATE]" => "PHI_COLUMN_REDACT_DATE"
            case _                 => "PHI_COLUMN_REDACT_GENERIC"
          }
          redactions = redactions + lit(1L)
          firedAll = array_union(firedAll, array(lit(ruleId)))
          lit(token).as(c)
        case Some(_) =>
          val v = col(c)
          val rf = fired(v)
          redactions = redactions + size(rf).cast(LongType)
          firedAll = array_union(firedAll, rf)
          when(v.isNull || v === "", v).otherwise(Scrubber.applyRules(v, rules)).as(c)
        case None => col(c)
      }
    }
    df.select(outCols :+ redactions.as("_redactions") :+ firedAll.as("_fired_rules"): _*)
  }

  /** A fuzzed corpus in the shape of `spec` plus one column outside it,
    * with nulls and empty strings, read back from parquet so the scrub
    * runs as a compiled plan rather than being folded into a local
    * relation at planning time.
    */
  private def fuzzedFrame(spec: SourceSpec, seed: Int): DataFrame = {
    val words = Vector("visit", "note", "stable", "111-22-3333", "555-867-5309",
      "a.b@c.org", "19990101", "2024-12-31", "12 Main Street", "123-45-6789 end", "123456789", "(x)")
    val rnd = new scala.util.Random(seed)
    def cell(): String = rnd.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case _ => (1 to 1 + rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    }
    val cols = spec.fields.map(_.name) :+ "extra"
    val rows = (1 to 120).map(_ => Row(cols.map(_ => cell()): _*))
    val schema = StructType(cols.map(StructField(_, StringType)))
    val path = Fixtures.tmpDir("scrubfuzz").resolve("t.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(path)
    spark.read.parquet(path)
  }

  /** Rules of the seed set plus one whose pattern is not a valid regex
    * (the literal-match fallback).
    */
  private val fuzzRules = Seeds.phiRulesV1 :+ PhiRule("PHI_ZZ_LITERAL", "(x", "[X]", "invalid regex")

  test("scrubTabular equals the foldLeft/filter reference on fuzzed corpora") {
    for ((spec, byName, seed) <- Seq((Seeds.hospitalA, false, 11), (Seeds.clinicB, true, 12))) {
      val df = fuzzedFrame(spec, seed)
      val got = Scrubber.scrubTabular(df, spec, fuzzRules, byName).collect().map(_.toSeq).toSeq
      val want = referenceScrub(df, spec, fuzzRules, byName).collect().map(_.toSeq).toSeq
      assert(got.size == 120)
      got.zip(want).foreach { case (g, w) => assert(g == w, spec.name) }
      assert(got.exists(_.last.asInstanceOf[scala.collection.Seq[String]].contains("PHI_ZZ_LITERAL")))
    }
  }

  test("scrubTabular plans no CodegenFallback expression and compiles in whole-stage codegen") {
    val out = Scrubber.scrubTabular(fuzzedFrame(Seeds.hospitalA, 13), Seeds.hospitalA, fuzzRules)
    val plan = out.queryExecution.executedPlan
    val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName }))
    assert(fallbacks.isEmpty, s"interpreted expressions in the scrub plan: ${fallbacks.distinct}")
    assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, plan.toString)
    // with the fallback off, a whole-stage compile failure throws
    // instead of quietly running the plan without whole-stage codegen
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(out.collect().length == 120)
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("a 100-column source compiles in whole-stage codegen, one rule chain per cell, and equals the reference") {
    // 99 spec columns (90 of them scrubbed by the rules) plus one outside it
    val wide = SourceSpec("wide", SourceFormat.Csv, "wide",
      (1 to 99).map(i => FieldSpec(s"c$i", "string", nullable = true, isPhi = i % 10 == 0)))
    val df = fuzzedFrame(wide, 14)
    assert(df.columns.length == 100)
    val want = referenceScrub(df, wide, fuzzRules, byName = false).collect().map(_.toSeq).toSeq
    // the scrub's 102 output fields exceed Spark's default whole-stage
    // field limit (100), which would plan it outside whole-stage codegen
    spark.conf.set("spark.sql.codegen.maxFields", "200")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Scrubber.scrubTabular(df, wide, fuzzRules)
      val got = out.collect().map(_.toSeq).toSeq
      assert(got.size == 120 && got == want)
      val plan = out.queryExecution.executedPlan
      assert(plan.collectFirst { case w: WholeStageCodegenExec if w.child.exists(_.isInstanceOf[ProjectExec]) => w }
        .nonEmpty, plan.toString)
      // subexpression elimination generates each column's chain once,
      // for its value, fired rules and count together
      val source = out.queryExecution.debug.codegenToSeq().map(_._2).mkString
      assert("/\\* phiChain \\*/".r.findAllIn(source).size == 90)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.maxFields")
    }
  }

  test("HL7 scrub mirrors reference positional semantics exactly") {
    val msg = Fixtures.hl7Good.split("\n\n")(0).trim
    val out = Scrubber.scrubHl7(Seq(msg).toDF("message"), Seeds.hospitalCHl7, Seeds.phiRulesV1)
      .as[String].collect()(0)
    val pid = out.split("\n").find(_.startsWith("PID|")).get.split("\\|", -1)
    assert(pid(3) == "[REDACTED]")           // PID-3 in metadata, no rule fires → hard redact
    assert(pid(5) == "[REDACTED_NAME]")      // PID-5 name
    assert(pid(7) == "[REDACTED_DATE]")      // PID-7 dob
    assert(pid(11) == "[REDACTED_ADDRESS]")  // PID-11: "other" → address regex fires
    // PID-16 is NOT in metadata (metadata says PID-17): the SSN there
    // survives, exactly like the reference on its generator quirk.
    assert(pid(16) == "234-56-7890")
    assert(out.split("\n").length == msg.split("\n").length) // line structure preserved
  }
}
