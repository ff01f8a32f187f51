package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Seeds
import graft.operators.{ParquetControlBackend, Provenance, Scrubber}
import graft.service.LineageService
import graft.sources.Readers

/** End-to-end pipeline smoke over generated clinical fixtures: statuses,
  * quarantine, hash chain, canonical artifacts (SURVEY.md §5.4).
  */
class PipelineSpec extends SparkSpec {

  test("full ingest→validate→scrub→transform run") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("src"))
    val lake = Fixtures.tmpDir("lake").toString
    val p = new Pipeline(spark, lake)

    val batches = p.ingest(base.toString)
    assert(batches.size == 6)

    val validated = p.validatePending().toMap
    assert(validated.size == 6)
    assert(validated.count(_._2) == 3, s"expected 3 valid batches: $validated")

    // quarantine: bad CSV, invalid-JSON file, PID-less HL7 moved out of raw
    val quarantined = Files.walk(Paths.get(lake, "quarantine")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSet
    assert(quarantined == Set("2025-02-02_clinical.csv", "clinical_2025-02-02.jsonl", "msgs_002.hl7"))

    val scrubbed = p.scrubPending()
    assert(scrubbed.size == 3)

    // curated CSV must contain no raw SSN and have redaction tokens
    val curatedCsv = Files.readString(
      Paths.get(lake, "curated", "hospital_a", "2025-02-01_clinical.csv"))
    assert(!curatedCsv.contains("123-45-6789"))
    assert(curatedCsv.contains("[REDACTED_NAME]"))
    assert(curatedCsv.contains("[REDACTED_PHONE]"))

    // curated HL7 keeps blank-line framing
    val curatedHl7 = Files.readString(
      Paths.get(lake, "curated", "hospital_c_hl7", "msgs_001.hl7"))
    assert(curatedHl7.contains("\n\n"))
    assert(curatedHl7.contains("[REDACTED_NAME]"))

    // curated JSONL: PHI-flagged fields redacted, regex leak defense on rest
    val curatedJsonl = Files.readString(
      Paths.get(lake, "curated", "clinic_b", "clinical_2025-02-01.jsonl"))
    assert(!curatedJsonl.contains("maria.williams@example.com"))
    assert(curatedJsonl.contains("[REDACTED_NAME]"))

    val transformed = p.transformPending()
    assert(transformed.size == 3)

    // status machine: 3 COMPLETED, 2 FAILED_VALIDATION
    val rollup = p.provenance.statusRollup.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rollup == Set(
      ("hospital_a", "COMPLETED", 1L), ("hospital_a", "FAILED_VALIDATION", 1L),
      ("clinic_b", "COMPLETED", 1L), ("clinic_b", "FAILED_VALIDATION", 1L),
      ("hospital_c_hl7", "COMPLETED", 1L), ("hospital_c_hl7", "FAILED_VALIDATION", 1L)))

    // hash chain: completed batches have all three hashes
    val done = p.provenance.batches.filter(col("status") === "COMPLETED").collect()
    done.foreach { r =>
      assert(r.getAs[String]("raw_sha256") != null)
      assert(r.getAs[String]("curated_sha256") != null)
      assert(r.getAs[String]("final_sha256") != null)
      assert(r.getAs[String]("version_path") != null)
    }

    // canonical artifact readable with canonical schema; scrubbed values
    val canon = spark.read.parquet(
      done.find(_.getAs[String]("source_name") == "hospital_a").get.getAs[String]("version_path"))
    assert(canon.columns.toSeq == graft.model.Canonical.columns)
    val names = canon.select("patient_name").collect().map(_.getString(0)).toSet
    assert(names == Set("[REDACTED_NAME]"))

    // lineage queries answer over the run
    assert(p.provenance.batchTimeline(transformed.head._1).size >= 3)
    assert(p.provenance.latestBatches(Some("hospital_a"), 10).size == 2)
    assert(p.provenance.search(Some("FAILED_VALIDATION"), None).size == 3)
    assert(p.provenance.batchRules(scrubbed.head).size >= 1)
  }

  test("control plan schedules and runs the four stages in order") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("src"))
    val lake = Fixtures.tmpDir("lake3").toString
    val p = new Pipeline(spark, lake)
    val control = new graft.operators.Control(spark, lake)
    control.schedule("job1", Seq("INGEST", "VALIDATE", "SCRUB_PHI", "TRANSFORM"))
    assert(control.pendingSteps("job1") == Seq("INGEST", "VALIDATE", "SCRUB_PHI", "TRANSFORM"))
    val executed = control.run("job1", p, base.toString)
    assert(executed == Seq("INGEST", "VALIDATE", "SCRUB_PHI", "TRANSFORM"))
    assert(control.pendingSteps("job1").isEmpty)
    assert(p.provenance.batches.filter(col("status") === "COMPLETED").count() == 3)
    // audit tail returns latest-first
    assert(p.provenance.auditTail(3).count() == 3)
  }

  test("scrub passes invalid JSONL lines through verbatim") {
    // stage a VALIDATED batch directly (validation would quarantine it;
    // the reference scrub path still supports verbatim passthrough,
    // etl/scrub_phi.py:155-160)
    val lake = Fixtures.tmpDir("lake2").toString
    val raw = Fixtures.write(
      java.nio.file.Paths.get(lake, "raw", "clinic_b", "mixed.jsonl"), Fixtures.jsonlWithInvalid)
    val p = new Pipeline(spark, lake)
    p.provenance.createBatch("bx", "clinic_b", raw.toString, "sha")
    p.provenance.setRowCount("bx", "VALIDATED", 3L)
    p.scrubPending()
    val curated = Files.readString(Paths.get(lake, "curated", "clinic_b", "mixed.jsonl"))
    assert(curated.contains("this is { not json"))
    assert(!curated.contains("maria.williams@example.com"))
    assert(curated.contains("[REDACTED_NAME]"))
  }

  test("a JSONL file with an invalid line after the first 200 rows is quarantined") {
    val base = Fixtures.tmpDir("srcjl")
    val good = Fixtures.jsonlGood.linesIterator.next()
    Fixtures.write(base.resolve("clinic_b/late_bad.jsonl"),
      Seq.fill(300)(good).mkString("", "\n", "\n") + "this is { not json\n")
    val lake = Fixtures.tmpDir("lakejl").toString
    val p = new Pipeline(spark, lake)
    p.ingest(base.toString)
    assert(p.validatePending().map(_._2) == Seq(false))
    assert(p.provenance.batches.select("status").collect().map(_.getString(0)).toSeq ==
      Seq("FAILED_VALIDATION"))
    assert(Files.exists(Paths.get(lake, "quarantine", "clinic_b", "late_bad.jsonl")))
    assert(!Files.exists(Paths.get(lake, "raw", "clinic_b", "late_bad.jsonl")))
  }

  test("an HL7 file ending in a newline gives one canonical row per message") {
    val third = Fixtures.hl7Good.split("\n\n")(0).replace("MSG1", "MSG9")
    val text = Fixtures.hl7Good + "\n" + third + "\n"
    val base = Fixtures.tmpDir("srchl7")
    val file = Fixtures.write(base.resolve("hospital_c_hl7/three.hl7"), text)
    val messages = Readers.hl7Messages(spark, file.toString).collect().map(_.getString(0))
    assert(messages.length == 3 && messages.forall(m => m == m.trim && m.nonEmpty))
    val p = new Pipeline(spark, Fixtures.tmpDir("lakehl7").toString)
    p.runAll(base.toString)
    val Seq((status, version)) = p.provenance.batches.select("status", "version_path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(status == "COMPLETED")
    val canon = spark.read.parquet(version)
    assert(canon.count() == 3)
    assert(canon.filter(col("patient_id").isNull).isEmpty, "no all-null row")
  }

  test("a CSV read as several splits gives one qlm_ready part hashed as final_sha256") {
    val rows = (1 to 600).map(i => s"P$i,Name $i,123-45-6789,1971-04-12,2025-02-01,Flu,note $i")
    val base = Fixtures.tmpDir("srcsplit")
    Fixtures.write(base.resolve("hospital_a/big.csv"),
      (Fixtures.csvGood.linesIterator.next() +: rows).mkString("", "\n", "\n"))
    val p = new Pipeline(spark, Fixtures.tmpDir("lakesplit").toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    val r = try {
      p.runAll(base.toString)
      val r = p.provenance.batches.collect()(0)
      assert(Readers.csvInferHeader(spark, r.getAs[String]("curated_path")).rdd.getNumPartitions > 1,
        "the curated file must be read as several splits")
      r
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(r.getAs[String]("status") == "COMPLETED")
    val parts = graft.util.Fs.list(Paths.get(r.getAs[String]("version_path")))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.size == 1)
    assert(graft.operators.Provenance.sha256File(parts.head.toString) == r.getAs[String]("final_sha256"))
    assert(spark.read.parquet(r.getAs[String]("version_path")).count() == 600)
  }

  test("a zero-byte CSV is quarantined; the CSV beside it completes") {
    val base = Fixtures.tmpDir("srcempty")
    Fixtures.write(base.resolve("hospital_a/a_empty.csv"), "")
    Fixtures.write(base.resolve("hospital_a/b_good.csv"), Fixtures.csvGood)
    val lake = Fixtures.tmpDir("lakeempty").toString
    val p = new Pipeline(spark, lake)
    p.runAll(base.toString)
    val rows = p.provenance.batchRows.map(r =>
      Paths.get(r.getAs[String]("raw_file_path")).getFileName.toString -> r).toMap
    assert(rows.view.mapValues(_.getAs[String]("status")).toMap ==
      Map("a_empty.csv" -> "FAILED_VALIDATION", "b_good.csv" -> "COMPLETED"))
    val failed = p.provenance.batchTimeline(rows("a_empty.csv").getAs[String]("batch_id"))
      .find(_.getAs[String]("step_name") == "VALIDATION_FAILED").get.getAs[String]("details_json")
    assert(failed.contains(s""""missing_columns":"${Seeds.hospitalA.fields.map(_.name).mkString(",")}""""), failed)
    assert(Files.exists(Paths.get(lake, "quarantine", "hospital_a", "a_empty.csv")))
  }

  test("CSV validation reads columns by header name: a file with dob and diagnosis swapped completes") {
    // the good rows with dob and diagnosis swapped in header and rows,
    // as csv.DictReader reads them alike
    def swapped(line: String): String = {
      val f = line.split(",", -1)
      f.updated(3, f(5)).updated(5, f(3)).mkString(",")
    }
    val base = Fixtures.tmpDir("srcswap")
    Fixtures.write(base.resolve("hospital_a/swapped.csv"),
      Fixtures.csvGood.linesIterator.map(swapped).mkString("", "\n", "\n"))
    val p = new Pipeline(spark, Fixtures.tmpDir("lakeswap").toString)
    p.ingest(base.toString)
    val (verdicts, jobs) = jobsDuring(p.validatePending())
    assert(verdicts.map(_._2) == Seq(true) && jobs == 1)
    p.scrubPending(); p.transformPending()
    val r = p.provenance.batchRows.head
    assert(r.getAs[String]("status") == "COMPLETED" && r.getAs[Long]("total_rows") == 3L)
    assert(spark.read.parquet(r.getAs[String]("version_path")).select("diagnosis")
      .collect().map(_.getString(0)).toSet == Set("Hypertension", "Flu", "Migraine"))
  }

  test("an HL7 file whose message 230 of 250 has no PID segment is quarantined") {
    val good = Fixtures.hl7Good.split("\n\n")(0).trim
    def file(bad: Option[Int]): String = (1 to 250).map(i =>
      if (bad.contains(i)) Fixtures.hl7MissingPid.trim else good.replace("MSG1", s"MSG$i")).mkString("", "\n\n", "\n")
    val base = Fixtures.tmpDir("srchl7late")
    Fixtures.write(base.resolve("hospital_c_hl7/a_late_bad.hl7"), file(Some(230)))
    Fixtures.write(base.resolve("hospital_c_hl7/b_all_good.hl7"), file(None))
    val lake = Fixtures.tmpDir("lakehl7late").toString
    val p = new Pipeline(spark, lake)
    p.ingest(base.toString)
    assert(p.validatePending().map(_._2) == Seq(false, true))
    val state = p.provenance.batchRows.map(r => Paths.get(r.getAs[String]("raw_file_path")).getFileName.toString ->
      (r.getAs[String]("status"), r.getAs[String]("error_details"), r.getAs[Long]("total_rows"))).toMap
    assert(state("a_late_bad.hl7") == (("FAILED_VALIDATION", "missing_PID_segment", 0L)))
    assert(state("b_all_good.hl7") == (("VALIDATED", null, 250L)))
    assert(Files.exists(Paths.get(lake, "quarantine", "hospital_c_hl7", "a_late_bad.hl7")))
  }

  test("with an all-nullable JSONL spec, an unparsable line passes scrub verbatim in its place") {
    val nullable = Seeds.clinicB.copy(fields = Seeds.clinicB.fields.map(_.copy(nullable = true)))
    val Seq(first, second) = Fixtures.jsonlGood.linesIterator.toSeq
    val base = Fixtures.tmpDir("srcjlnull")
    Fixtures.write(base.resolve("clinic_b/good.jsonl"), Fixtures.jsonlGood)
    Fixtures.write(base.resolve("clinic_b/mixed.jsonl"), Seq(first, "not json", second).mkString("", "\n", "\n"))
    val lake = Fixtures.tmpDir("lakejlnull").toString
    val p = new Pipeline(spark, lake, registry = Seq(nullable))
    p.ingest(base.toString)
    assert(p.validatePending().map(_._2) == Seq(true, true))
    assert(p.scrubPending().size == 2)
    def curated(f: String) = Files.readString(Paths.get(lake, "curated", "clinic_b", f)).split("\n").toSeq
    val good = curated("good.jsonl")
    assert(good.size == 2 && good.forall(_.contains("[REDACTED_NAME]")))
    assert(curated("mixed.jsonl") == Seq(good(0), "not json", good(1)))
    // every line counts as a row; the unparsable one adds no replacement or rule
    def stats(f: String): (String, String, Set[String]) = {
      val id = p.provenance.batchRows.find(_.getAs[String]("raw_file_path").endsWith(f)).get.getAs[String]("batch_id")
      val details = p.provenance.batchTimeline(id).find(_.getAs[String]("step_name") == "SCRUB_PHI").get
        .getAs[String]("details_json")
      def field(k: String) = s""""$k":"(\\d+)"""".r.findFirstMatchIn(details).get.group(1)
      (field("rows"), field("replacements"), p.provenance.batchRules(id).map(_.getAs[String]("rule_id")).toSet)
    }
    val (rows, replacements, rules) = stats("good.jsonl")
    assert(rows == "2" && rules.contains("PHI_COLUMN_REDACT_NAME"))
    assert(stats("mixed.jsonl") == (("3", replacements, rules)))
  }

  private def countingPipeline(lake: String): (Pipeline, CountingControlBackend) = {
    val be = new CountingControlBackend(new ParquetControlBackend(lake))
    (new Pipeline(spark, lake, controlBackend = Some(be)), be)
  }

  test("each stage call appends each control table at most once") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srcbatch"))
    val (p, be) = countingPipeline(Fixtures.tmpDir("lakebatch").toString)
    val stages = Seq[(String, () => Any)](
      "ingest" -> (() => p.ingest(base.toString)),
      "validate" -> (() => p.validatePending()),
      "scrub" -> (() => p.scrubPending()),
      "transform" -> (() => p.transformPending()))
    val perStage = stages.map { case (name, run) => run(); name -> be.drain() }.toMap
    perStage.foreach { case (name, counts) =>
      assert(counts.values.forall(_ == 1), s"$name: $counts")
    }
    assert(perStage("ingest").keySet ==
      Set("provenance_batch_events", "provenance_steps", "audit_log"))
    assert(perStage("scrub").keySet ==
      Set("provenance_batch_events", "provenance_steps", "provenance_rules_applied"))
    assert(p.provenance.batches.filter(col("status") === "COMPLETED").count() == 3)
  }

  test("a batched run writes the same control rows as the per-event path") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srceq")).toString
    def controlRows(perEvent: Boolean): Map[String, Seq[String]] = {
      val lake = Fixtures.tmpDir("lakeeq").toString
      val p = new Pipeline(spark, lake)
      if (perEvent) p.provenance.perEvent(p.runAll(base)) else p.runAll(base)
      // timestamps aside: event times, and the clock in batch ids and
      // version directories; paths relative to the lake
      def norm(df: DataFrame, timeCol: String): Seq[String] =
        df.drop(timeCol).collect().toSeq.map(_.toSeq.map(v => s"$v"
          .replace(lake, "<lake>").replaceAll("_\\d{14}", "_<ts>")
          .replaceAll("\\d{8}T\\d{6}", "<ts>")).mkString("|")).sorted
      val pr = p.provenance
      Map("batches" -> norm(pr.batches, "ingest_time"), "steps" -> norm(pr.steps, "step_time"),
        "rules" -> norm(pr.rulesApplied, "created_at"), "audit" -> norm(pr.auditLog, "created_at"))
    }
    val batched = controlRows(perEvent = false)
    val perEvent = controlRows(perEvent = true)
    assert(batched("batches").size == 6 && batched("steps").size == 18)
    Seq("batches", "steps", "rules", "audit").foreach(t =>
      assert(batched(t) == perEvent(t), s"$t differs"))
  }

  test("a stage that fails at batch k keeps the events of batches 1..k-1") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srcfail"))
    val (p, be) = countingPipeline(Fixtures.tmpDir("lakefail").toString)
    p.ingest(base.toString)
    p.validatePending()
    val queue = p.provenance.pending("VALIDATED")
      .map(r => (r.getAs[String]("batch_id"), r.getAs[String]("raw_file_path")))
    assert(queue.size == 3)
    Files.delete(Paths.get(queue(1)._2)) // batch 2's raw file vanishes
    be.drain()
    intercept[Exception](p.scrubPending())
    assert(be.drain().values.forall(_ == 1))
    val status = p.provenance.batches.select("batch_id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(queue.map(b => status(b._1)) == Seq("SCRUBBED", "VALIDATED", "VALIDATED"))
    val scrubSteps = p.provenance.steps.filter(col("step_name") === "SCRUB_PHI")
      .select("batch_id").collect().map(_.getString(0)).toSeq
    assert(scrubSteps == Seq(queue(0)._1))
    assert(p.provenance.batchRules(queue(0)._1).nonEmpty)
  }

  test("scrub stats observed on the write equal a separate aggregation") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srcobs"))
    val p = new Pipeline(spark, Fixtures.tmpDir("lakeobs").toString)
    p.ingest(base.toString)
    p.validatePending()
    val scrubbed = p.scrubPending()
    assert(scrubbed.size == 3)
    val raw = p.provenance.batches.select("batch_id", "source_name", "raw_file_path").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    def aggStats(df: DataFrame): (Long, Long, Set[String]) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("_redactions")), lit(0L)),
        coalesce(array_distinct(flatten(collect_list(col("_fired_rules")))), array())).collect()(0)
      (r.getLong(0), r.getLong(1), r.getSeq[String](2).toSet)
    }
    scrubbed.foreach { id =>
      val (source, path) = raw(id)
      val expected = source match {
        case "hospital_a" => aggStats(Scrubber.scrubTabular(
          Readers.csvInferHeader(spark, path), Seeds.hospitalA, Seeds.phiRulesV1))
        case "clinic_b" => aggStats(Scrubber.scrubTabular(
          Readers.jsonl(spark, Seeds.clinicB, path).drop("_corrupt_record"),
          Seeds.clinicB, Seeds.phiRulesV1, byName = true))
        case "hospital_c_hl7" =>
          (Readers.hl7Messages(spark, path).count(), 0L, Set("PHI_HL7_POSITIONAL"))
      }
      val details = p.provenance.steps.filter(col("batch_id") === id && col("step_name") === "SCRUB_PHI")
        .select(get_json_object(col("details_json"), "$.rows"),
          get_json_object(col("details_json"), "$.replacements")).collect()(0)
      val rules = p.provenance.batchRules(id).map(_.getAs[String]("rule_id")).toSet
      assert((details.getString(0).toLong, details.getString(1).toLong, rules) == expected, source)
      assert(expected._1 > 0, source)
    }
  }

  /** `body`'s result and the number of Spark jobs launched while it ran. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val (a, jobs) = Fixtures.jobsDuring(spark)(body)
    (a, jobs.size)
  }

  test("each stage launches one Spark job per batch, every one inside a SQL execution") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srconejob"))
    // a CSV with no data rows, and one whose header repeats a name and
    // ends in an empty one: the scrub keeps the header Spark makes of it
    Fixtures.write(base.resolve("hospital_a/2025-02-03_header_only.csv"), Fixtures.csvGood.linesIterator.next() + "\n")
    Fixtures.write(base.resolve("hospital_a/2025-02-04_dup_header.csv"),
      "patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes,notes,\n" +
        "P1,Ann Lee,123-45-6789,1971-04-12,2025-02-01,Flu,call 555-123-4567,x 12 Main Street,z\n")
    val lake = Fixtures.tmpDir("lakeonejob").toString
    val p = new Pipeline(spark, lake)
    p.ingest(base.toString)
    def oneJobPerBatch[A](stage: String)(run: => Seq[A]): Unit = {
      val (batches, jobs) = Fixtures.jobsDuring(spark)(run)
      assert(jobs.size == batches.size && jobs.forall(_.isDefined), s"$stage: ${batches.size} batches, jobs $jobs")
    }
    oneJobPerBatch("validate")(p.validatePending())
    oneJobPerBatch("scrub")(p.scrubPending())
    oneJobPerBatch("transform")(p.transformPending())
    assert(p.provenance.batches.filter(col("status") === "COMPLETED").count() == 5)
    // no source field metadata reaches a qlm_ready footer
    p.provenance.batchRows.flatMap(r => Option(r.getAs[String]("version_path"))).foreach { v =>
      assert(spark.read.parquet(v).schema.forall(_.metadata == org.apache.spark.sql.types.Metadata.empty), v)
    }

    // the curated bytes and canonical rows of the two odd headers, as
    // the header inference read gave them
    def curated(f: String) = Files.readString(Paths.get(lake, "curated", "hospital_a", f))
    def canonical(f: String) = spark.read.parquet(p.provenance.batchRows
      .find(_.getAs[String]("raw_file_path").endsWith(f)).get.getAs[String]("version_path"))
      .collect().map(_.toSeq.mkString("|")).toSeq
    assert(curated("2025-02-03_header_only.csv") == "patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes\n")
    assert(canonical("2025-02-03_header_only.csv").isEmpty)
    assert(curated("2025-02-04_dup_header.csv") ==
      "patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes6,notes7,_c8\n" +
        "P1,[REDACTED_NAME],[REDACTED],[REDACTED_DATE],[REDACTED_DATE],Flu,call 555-123-4567,x 12 Main Street,z\n")
    assert(canonical("2025-02-04_dup_header.csv") ==
      Seq("P1|[REDACTED_NAME]|[REDACTED_DATE]|[REDACTED_DATE]|Flu|null|null|null|hospital_a"))
  }

  test("csvInferHeader names the columns as the inference read does, with no Spark job") {
    val dir = Fixtures.tmpDir("csvheader")
    val body = "1,2,3,4,5\n"
    val headers = Seq(
      "plain" -> "a,b,c,d,e\n",
      "blank_lead" -> "\n   \n\ta,b,c,d,e \n",
      "bom" -> "\uFEFFa,b,c,d,e\n",
      "duplicates" -> "a,A,a,b,\n",
      "quoted" -> "\"a,b\",\"c\"\"d\",,e,\n",
      "crlf" -> "a,b,c,d,e\r\n")
    headers.foreach { case (name, header) =>
      val f = Fixtures.write(dir.resolve(s"$name.csv"), header + body).toString
      val (df, jobs) = Fixtures.jobsDuring(spark)(Readers.csvInferHeader(spark, f))
      assert(jobs.isEmpty, name)
      val inferred = spark.read.option("header", "true").csv(f)
      assert(df.schema == inferred.schema, name)
      assert(df.collect().toSeq == inferred.collect().toSeq, name)
    }
    val empty = Fixtures.write(dir.resolve("empty.csv"), "").toString
    assert(Readers.csvInferHeader(spark, empty).schema.isEmpty)
  }

  test("in a CSV read as several splits, a bad date at row 150 fails validation and one at row 250 passes") {
    def file(badRow: Int): String = (Fixtures.csvGood.linesIterator.next() +: (1 to 600).map(i =>
      s"P$i,Name $i,123-45-6789,1971-04-12,${if (i == badRow) "BADDATE" else "2025-02-01"},Flu,note $i"))
      .mkString("", "\n", "\n")
    val base = Fixtures.tmpDir("srcsplitdate")
    Fixtures.write(base.resolve("hospital_a/a_bad_150.csv"), file(150))
    Fixtures.write(base.resolve("hospital_a/b_bad_250.csv"), file(250))
    val p = new Pipeline(spark, Fixtures.tmpDir("lakesplitdate").toString)
    p.ingest(base.toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    try {
      val raw = p.pendingBatches("INGESTED").map(_._3)
      assert(raw.forall(f => Readers.csv(spark, Seeds.hospitalA, f).rdd.getNumPartitions > 3))
      val (verdicts, jobs) = jobsDuring(p.validatePending())
      assert(verdicts.map(_._2) == Seq(false, true) && jobs == 2)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val state = p.provenance.batchRows.map(r => Paths.get(r.getAs[String]("raw_file_path")).getFileName.toString ->
      (r.getAs[String]("status"), r.getAs[String]("error_details"), r.getAs[Long]("total_rows"))).toMap
    assert(state("a_bad_150.csv") == (("FAILED_VALIDATION", "type_error:visit_date:BADDATE", 0L)))
    assert(state("b_bad_250.csv") == (("VALIDATED", null, 600L)))
  }

  test("stage queues and lineage requests launch no Spark jobs; a cold reader sees the same rows") {
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srcnojobs"))
    val lake = Fixtures.tmpDir("lakenojobs").toString
    val p = new Pipeline(spark, lake)
    assert(jobsDuring(spark.range(3).count())._2 > 0, "the counter must see a job")
    var queueJobs = 0
    def queue(status: String, stage: => Unit): Unit = {
      val (q, n) = jobsDuring(p.pendingBatches(status))
      assert(q.nonEmpty, status)
      queueJobs += n
      stage
    }
    p.ingest(base.toString)
    queue("INGESTED", p.validatePending())
    queue("VALIDATED", p.scrubPending())
    queue("SCRUBBED", p.transformPending())
    assert(queueJobs == 0, "the three stage-queue reads launched Spark jobs")

    val id = p.provenance.pending("COMPLETED").head.getAs[String]("batch_id")
    val svc = new LineageService(p.provenance)
    val port = svc.start()
    try {
      val (responses, lineageJobs) = jobsDuring(Seq(s"/provenance/batch/$id", s"/provenance/steps/$id",
        s"/provenance/rules/$id", "/provenance/source/hospital_a?limit=5",
        "/provenance/search?status=COMPLETED&source=clinic_b").map(Fixtures.httpGet(port, _)))
      assert(responses.forall(r => r._1 == 200 && r._2 != "[]"), responses)
      assert(lineageJobs == 0, "the five lineage requests launched Spark jobs")
    } finally svc.stop()

    // a second instance on the same lake root starts with a cold cache,
    // and after the writer's compaction finds its cached files gone
    def control(pr: Provenance): Seq[Seq[String]] =
      Seq(pr.batches, pr.steps, pr.rulesApplied, pr.auditLog).map(_.collect().map(_.toString).toSeq.sorted)
    val reader = new Provenance(spark, lake)
    def sameRows(when: String): Unit = {
      val writer = control(p.provenance)
      assert(writer.map(_.size) == Seq(6, 18, writer(2).size, 6) && writer(2).nonEmpty, when)
      assert(control(reader) == writer, s"a reader that was warm $when")
      assert(control(new Provenance(spark, lake)) == writer, s"a cold reader $when")
    }
    sameRows("after the run")
    p.provenance.compact()
    sameRows("after compact()")
    // the state between compact's two moves of a crashed swap
    val events = Paths.get(lake, "_control", "provenance_batch_events")
    Files.move(events, Paths.get(s"$events" + "_old"))
    sameRows("after the mid-swap crash repair")
    assert(Files.exists(events))
  }
}
