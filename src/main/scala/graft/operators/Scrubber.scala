package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.PhiChain
import graft.model.{PhiRule, SourceSpec}

/** PHI scrubbing (reference: etl/scrub_phi.py).
  *
  * Everything is compiled to column expressions at plan-build time: the
  * rule list is *data* loaded once per run and the expressions are
  * built from it once. No UDFs anywhere. The tabular scrub
  * ([[scrubTabular]]) gives each non-PHI column one
  * [[graft.expressions.PhiChain]], which compiles the rule patterns once
  * per task (the reference's single compiled-regex reuse,
  * etl/scrub_phi.py:26) and returns the scrubbed value, the fired rules
  * and the replacement count together. Its plan stays inside whole-stage
  * codegen, whose subexpression elimination evaluates each chain once
  * per cell, and its generated code is one call per column whatever the
  * rule count, so wide sources compile too. The HL7 scrub
  * ([[scrubHl7]]) is built from `transform` over split lines and fields
  * with the [[applyRules]] fold inside, which Spark evaluates
  * interpreted.
  *
  * Semantics preserved from the reference:
  *  - rules apply case-insensitively, in rule_id order, sequentially —
  *    output of rule k feeds rule k+1 (etl/scrub_phi.py:26,41,119-124);
  *  - PHI-flagged columns are redacted wholesale with contextual tokens
  *    (name-like → [REDACTED_NAME], date-like → [REDACTED_DATE], else
  *    [REDACTED]) (etl/scrub_phi.py:92-114);
  *  - non-PHI columns still get the regex fold (free-text leak defense,
  *    etl/scrub_phi.py:115-124).
  */
object Scrubber {

  /** Sequential fold of all rules over one text column (F2). An invalid
    * user pattern falls back to a case-insensitive literal match, like
    * the reference's re.escape fallback (etl/scrub_phi.py:25-28).
    */
  def applyRules(c: Column, rules: Seq[PhiRule]): Column =
    rules.foldLeft(c) { (acc, r) =>
      regexp_replace(acc, ciPattern(r.pattern), r.replacement)
    }

  private[graft] def ciPattern(p: String): String = {
    val ok =
      try { java.util.regex.Pattern.compile(p); true }
      catch { case _: Exception => false }
    if (ok) "(?i)" + p else "(?i)" + java.util.regex.Pattern.quote(p)
  }

  /** The rule fold over `c` as one [[PhiChain]]: `struct<value, fired,
    * n>`, the value after every rule, the ids of the rules that changed
    * it (the reference's subn count>0 on the running value) and their
    * count.
    */
  private def phiChain(c: Column, rules: Seq[PhiRule]): Column =
    PhiChain(c, rules.map(r => r.copy(pattern = ciPattern(r.pattern))))

  /** Which rules fired on a value — an array<string> of rule ids in rule
    * order, used for the per-file rules_applied set (A3).
    */
  def firedRules(c: Column, rules: Seq[PhiRule]): Column = phiChain(c, rules).getField("fired")

  /** Contextual whole-column redaction token for a PHI column (F3).
    * CSV branch: name-like column → NAME; "dob" in the column name or
    * "date" in the *declared type* → DATE; else generic
    * (etl/scrub_phi.py:99-114). The choice is static per column, so it
    * compiles to a literal.
    */
  def phiToken(colName: String, declaredType: String): String = {
    val n = colName.toLowerCase
    if (n.contains("name")) "[REDACTED_NAME]"
    else if (n.contains("dob") || declaredType.toLowerCase.contains("date")) "[REDACTED_DATE]"
    else "[REDACTED]"
  }

  /** JSONL branch keys the DATE token off the column *name*, not the
    * declared type (etl/scrub_phi.py:166-171) — preserved quirk.
    */
  def phiTokenByName(colName: String): String = {
    val n = colName.toLowerCase
    if (n.contains("name")) "[REDACTED_NAME]"
    else if (n.contains("dob") || n.contains("date")) "[REDACTED_DATE]"
    else "[REDACTED]"
  }

  /** Scrub a tabular (CSV/JSONL) frame per source metadata. Adds
    * bookkeeping columns `_redactions` (long, per-row replacement count
    * for A2) and `_fired_rules` (array<string> for A3) which callers
    * aggregate then drop.
    */
  def scrubTabular(df: DataFrame, spec: SourceSpec, rules: Seq[PhiRule], byName: Boolean = false): DataFrame = {
    var redactions: Column = lit(0L)
    var fired: Column = array()
    val outCols: Seq[Column] = df.columns.toSeq.map { c =>
      spec.field(c) match {
        case Some(f) if f.isPhi =>
          val token = if (byName) phiTokenByName(c) else phiToken(c, f.dataType)
          val ruleId = token match {
            case "[REDACTED_NAME]" => "PHI_COLUMN_REDACT_NAME"
            case "[REDACTED_DATE]" => "PHI_COLUMN_REDACT_DATE"
            case _                 => "PHI_COLUMN_REDACT_GENERIC"
          }
          redactions = redactions + lit(1L)
          fired = array_union(fired, array(lit(ruleId)))
          lit(token).as(c)
        case Some(_) =>
          // one rule chain per column: the scrubbed value, the fired ids
          // and the count read one PhiChain, which subexpression
          // elimination evaluates once per cell
          val v = col(c)
          val chain = phiChain(v, rules)
          redactions = redactions + chain.getField("n")
          fired = array_union(fired, chain.getField("fired"))
          // empty/null values pass through untouched (reference `if val:`)
          when(v.isNull || v === "", v).otherwise(chain.getField("value")).as(c)
        case None =>
          col(c) // column not in metadata → untouched (reference skips)
      }
    }
    df.select(outCols :+ redactions.as("_redactions") :+ fired.as("_fired_rules"): _*)
  }

  /** HL7 scrub (etl/scrub_phi.py:199-270): within each message, every
    * PID-n position listed in metadata (PHI or not — preserved
    * reference behavior) is processed when non-empty: NAME-ish / PID-5
    * → [REDACTED_NAME]; DOB-ish / PID-7 → [REDACTED_DATE]; any other
    * metadata position gets the regex fold, falling back to hard
    * [REDACTED] when no rule fires. Non-PID lines get the plain regex
    * fold. Positions NOT in metadata are left untouched (so e.g. an
    * SSN at PID-16 when metadata says PID-17 survives — exactly the
    * reference's behavior on its own generator quirk, FIXTURES.md §3).
    *
    * Pure higher-order-function expressions (F5): transform over split
    * lines, transform over split fields, array_join back.
    */
  def scrubHl7(messages: DataFrame, spec: SourceSpec, rules: Seq[PhiRule]): DataFrame = {
    val pidFields: Seq[(Int, String)] = spec.fields
      .filter(_.name.toUpperCase.startsWith("PID-"))
      .flatMap(f => f.name.stripPrefix("PID-").toIntOption.map(_ -> f.name.toUpperCase))

    val scrubLine: Column => Column = { line =>
      val isPid = line.startsWith("PID|")
      val parts = split(line, "\\|")
      val redacted = transform(parts, (x, i) => {
        pidFields.foldLeft(x) { case (acc, (n, cname)) =>
          val repl: Column =
            if (cname.contains("NAME") || cname == "PID-5") lit("[REDACTED_NAME]")
            else if (cname.contains("DOB") || cname == "PID-7") lit("[REDACTED_DATE]")
            else {
              val scrubbed = applyRules(x, rules)
              when(scrubbed =!= x, scrubbed).otherwise(lit("[REDACTED]"))
            }
          when(i === lit(n) && trim(x) =!= "", repl).otherwise(acc)
        }
      })
      when(isPid, array_join(redacted, "|")).otherwise(applyRules(line, rules))
    }

    messages.withColumn(
      "message",
      array_join(transform(split(col("message"), "\n"), scrubLine), "\n"))
  }
}
