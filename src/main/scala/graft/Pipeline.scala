package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model._
import graft.operators._
import graft.sources.Readers

/** The four-stage clinical ETL flow (reference: README.md:88-106,
  * INGEST → VALIDATE → SCRUB_PHI → TRANSFORM) over a local/HDFS lake
  * root with zones raw/ quarantine/ curated/ qlm_ready/ and a
  * parquet-backed control plane ([[operators.Provenance]]).
  *
  * Control flow (batch discovery, status transitions, file moves) is
  * driver-side and idempotent; all record-level work is DataFrame
  * plans, so each batch scales with executors. Each stage call runs in
  * one [[operators.Provenance.batched]] scope, so it appends each
  * control table once for all the batches it moves, and reads its
  * queue from driver-local control rows without a Spark job. Batches
  * are per-file to mirror the reference's unit of work
  * (etl/ingest.py:71-77), and so are the stages: each runs one Spark job
  * per file — validation's count-and-probe scan
  * ([[operators.Validator]]), the scrub's write, the transform's write —
  * and no header or schema inference job (the CSV header is read on
  * the driver, curated JSONL with its spec's fields). Stage jobs still
  * grow linearly with the file count. The operators are plain
  * DataFrame transforms that would take a set of files as well; one
  * scan per source per stage is not built yet.
  *
  * Deliberate behavioral fix vs the reference: TRANSFORM reads the
  * *curated* (scrubbed) file, not the raw one — the reference
  * transforms raw_file_path (etl/transform.py:222-227) contradicting
  * its own documented flow (see SURVEY.md §3.3 / §7.4-5).
  */
final class Pipeline(
    spark: SparkSession,
    lakeRoot: String,
    registry: Seq[SourceSpec] = Seeds.registry,
    rules: Seq[PhiRule] = Seeds.phiRulesV1,
    controlBackend: Option[ControlBackend] = None) {

  /** Control plane: lake-native parquet by default, or any injected
    * [[operators.ControlBackend]] — e.g. [[operators.JdbcControlBackend]]
    * for the reference's RDBMS-as-system-of-record architecture.
    */
  val provenance = controlBackend match {
    case Some(be) => new Provenance(spark, be)
    case None => new Provenance(spark, lakeRoot)
  }

  private def zone(z: String, parts: String*): Path =
    Paths.get((s"$lakeRoot/$z" +: parts).mkString("/"))

  private def ts(): String = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
    .format(java.time.Instant.now())

  // ------------------------------------------------------------------
  // Stage 1: INGEST (etl/ingest.py:52-114)
  // ------------------------------------------------------------------

  /** Copy every file of every active source into the raw zone, hash it,
    * and register the batch as INGESTED. With `skipIfSeen` this is an
    * idempotent sweep (only unseen path+content registers) — the
    * compensating pass a streaming watch pairs with, since Spark file
    * sources never surface zero-byte files.
    */
  def ingest(sourceBase: String, skipIfSeen: Boolean = false): Seq[String] = provenance.batched {
    registry.filter(_.active).flatMap { spec =>
      val srcDir = Paths.get(s"$sourceBase/${spec.name}")
      if (!Files.isDirectory(srcDir)) Nil
      else graft.util.Fs.list(srcDir).filter(Files.isRegularFile(_)).sortBy(_.toString)
        .flatMap(f => ingestFile(spec.name, f, skipIfSeen))
    }
  }

  /** Ingest one file for `sourceName` — the per-file unit shared by
    * [[ingest]] and the streaming twin
    * ([[graft.streaming.StreamingIngest]]). With `skipIfSeen`, a file
    * whose raw path + content sha is already registered is skipped, so
    * replays (e.g. a streaming restart after checkpoint loss) never
    * double-register a batch; re-delivery of the same path with NEW
    * content still registers, like the reference's re-ingest.
    */
  def ingestFile(sourceName: String, f: Path, skipIfSeen: Boolean = false): Option[String] =
    registry.find(s => s.name == sourceName && s.active).flatMap { spec =>
      val sha = Provenance.sha256File(f.toString)
      val rawPath = zone("raw", spec.name, f.getFileName.toString)
      if (skipIfSeen && provenance.hasIngested(rawPath.toString, sha)) None
      else {
        val batchId = Provenance.batchId(spec.name, f.getFileName.toString)
        Provenance.copyFile(f.toString, rawPath.toString)
        provenance.createBatch(batchId, spec.name, rawPath.toString, sha)
        provenance.recordStep(batchId, "INGEST",
          Map("raw_path" -> rawPath.toString, "sha256" -> sha))
        provenance.writeAudit("pipeline", "INGEST", batchId)
        Some(batchId)
      }
    }

  // ------------------------------------------------------------------
  // Stage 2: VALIDATE (etl/validate.py:225-306)
  // ------------------------------------------------------------------

  def validatePending(): Seq[(String, Boolean)] = provenance.batched {
    pendingBatches("INGESTED").map { case (batchId, source, rawPath, _) =>
      val spec = registry.find(_.name == source)
      val result =
        if (!Files.exists(Paths.get(rawPath))) ValidationResult(valid = false, 0, Nil, Seq("missing_file"))
        else spec match {
          case None => ValidationResult(valid = true, 0, Nil, Nil) // VALIDATION_SKIPPED
          case Some(sp) => sp.format match {
            // columns by the file's header line (SURVEY P6): a zero-byte
            // file has none
            case SourceFormat.Csv   => Validator.validate(Readers.csv(spark, sp, rawPath), sp)
            // every JSONL row is checked (etl/validate.py:127-158)
            case SourceFormat.Jsonl => Validator.validate(Readers.jsonl(spark, sp, rawPath), sp, probeAll = true)
            case SourceFormat.Hl7   => Validator.validateHl7(Readers.hl7Messages(spark, rawPath), sp)
          }
        }
      if (result.valid) {
        provenance.recordStep(batchId, "VALIDATION_PASSED",
          Map("rows" -> result.rowCount.toString))
        provenance.setRowCount(batchId, "VALIDATED", result.rowCount)
      } else {
        // quarantine move (K2, etl/validate.py:216-223)
        val qPath = zone("quarantine", source, Paths.get(rawPath).getFileName.toString)
        if (Files.exists(Paths.get(rawPath))) {
          Files.createDirectories(qPath.getParent)
          Files.move(Paths.get(rawPath), qPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        provenance.recordStep(batchId, "VALIDATION_FAILED",
          Map("errors" -> result.errors.mkString(";"),
            "missing_columns" -> result.missingColumns.mkString(",")))
        provenance.updateStatus(batchId, "FAILED_VALIDATION",
          result.errors.take(Validator.MaxErrorSamples).mkString(";"))
      }
      batchId -> result.valid
    }
  }

  // ------------------------------------------------------------------
  // Stage 3: SCRUB_PHI (etl/scrub_phi.py:280-318)
  // ------------------------------------------------------------------

  def scrubPending(): Seq[String] = provenance.batched {
    pendingBatches("VALIDATED").map { case (batchId, source, rawPath, _) =>
      val spec = registry.find(_.name == source).getOrElse(sys.error(s"unknown source $source"))
      val fileName = Paths.get(rawPath).getFileName.toString
      val outPath = zone("curated", source, fileName)
      Files.createDirectories(outPath.getParent)

      // HL7 dispatch keys off the source-name suffix like the reference
      // (etl/scrub_phi.py:303) — preserved quirk.
      val (rowCount, replacements, fired) =
        if (source.endsWith("hl7")) scrubHl7File(spec, rawPath, outPath)
        else spec.format match {
          case SourceFormat.Csv   => scrubCsvFile(spec, rawPath, outPath)
          case SourceFormat.Jsonl => scrubJsonlFile(spec, rawPath, outPath)
          case SourceFormat.Hl7   => scrubHl7File(spec, rawPath, outPath)
        }

      val sha = Provenance.sha256File(outPath.toString)
      provenance.updateCuratedHash(batchId, sha, outPath.toString)
      provenance.recordStep(batchId, "SCRUB_PHI",
        Map("curated_path" -> outPath.toString, "rows" -> rowCount.toString,
          "replacements" -> replacements.toString))
      fired.toSeq.sorted.foreach(r => provenance.recordRule(batchId, r, "applied"))
      batchId
    }
  }

  /** Hand a scrubbed frame, less its Scrubber bookkeeping columns
    * (A1/A2/A3), to `write`, and return (rowCount, totalReplacements,
    * firedRules) observed on the job that writes it (the util/Actions
    * pattern) instead of by a job of their own. Replacements and rules
    * count only the rows where `scrubbedRow` holds.
    */
  private def writeScrubbed(scrubbed: DataFrame, scrubbedRow: Column = lit(true))(
      write: DataFrame => Unit): (Long, Long, Set[String]) = {
    val obs = Observation()
    write(scrubbed.observe(obs,
      count(lit(1)).as("n"),
      coalesce(sum(when(scrubbedRow, col("_redactions"))), lit(0L)).as("replacements"),
      // distinct rule sets, not one array per row: a few per batch
      coalesce(array_distinct(flatten(collect_set(when(scrubbedRow, col("_fired_rules"))))), array())
        .as("fired"))
      .drop("_redactions", "_fired_rules"))
    val m = obs.get
    (m("n").asInstanceOf[Long], m("replacements").asInstanceOf[Long],
      m("fired").asInstanceOf[scala.collection.Seq[String]].toSet)
  }

  private def scrubCsvFile(spec: SourceSpec, in: String, out: Path): (Long, Long, Set[String]) = {
    // preserve the file's own header set (K3): read with the header the file has
    val df = Readers.csvInferHeader(spark, in)
    writeScrubbed(Scrubber.scrubTabular(df, spec, rules))(writeSingleFile(_, out, "csv"))
  }

  private def scrubJsonlFile(spec: SourceSpec, in: String, out: Path): (Long, Long, Set[String]) = {
    // scrubTabular carries _corrupt_record through untouched; a line that
    // did not parse is not scrubbed, so it counts no replacement or rule
    val scrubbed = Scrubber.scrubTabular(Readers.jsonl(spark, spec, in), spec, rules, byName = true)
    writeScrubbed(scrubbed, scrubbedRow = col("_corrupt_record").isNull) { df =>
      val fields = df.columns.toIndexedSeq.filter(_ != "_corrupt_record").map(col)
      // an invalid JSON line passes through verbatim, in its place
      // (etl/scrub_phi.py:155-160)
      writeSingleFile(df.select(coalesce(col("_corrupt_record"), to_json(struct(fields: _*))).as("line")),
        out, "text")
    }
  }

  private def scrubHl7File(spec: SourceSpec, in: String, out: Path): (Long, Long, Set[String]) = {
    val messages = Readers.hl7Messages(spark, in)
    val obs = Observation()
    val scrubbed = Scrubber.scrubHl7(messages, spec, rules).observe(obs, count(lit(1)).as("n"))
    // message framing round-trip: each message followed by a blank line
    // (etl/scrub_phi.py:270 writes "\n".join(lines) + "\n\n")
    writeSingleFile(scrubbed.select(concat(col("message"), lit("\n")).as("value")), out, "text")
    (obs.get("n").asInstanceOf[Long], 0L, Set("PHI_HL7_POSITIONAL"))
  }

  /** Write a small per-batch artifact as ONE file at `out` (reference
    * writes one output file per input file). coalesce(1) is correct
    * here: batches are file-granular; large-corpus flows use the
    * DataFrame writers directly without this helper.
    */
  private def writeSingleFile(df: DataFrame, out: Path, format: String): Unit = {
    val tmp = out.getParent.resolve(s".tmp_${out.getFileName}_${System.nanoTime()}")
    val w = df.coalesce(1).write.mode("overwrite")
    format match {
      case "csv"  => w.option("header", "true").option("emptyValue", "").csv(tmp.toString)
      case "text" => w.text(tmp.toString)
    }
    val part = graft.util.Fs.list(tmp)
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.util.Fs.deleteRecursively(tmp)
  }

  // ------------------------------------------------------------------
  // Stage 4: TRANSFORM (etl/transform.py:159-241)
  // ------------------------------------------------------------------

  def transformPending(): Seq[(String, String)] = provenance.batched {
    pendingBatches("SCRUBBED").map { case (batchId, source, rawPath, curated) =>
      val curatedPath = Option(curated).getOrElse(
        zone("curated", source, Paths.get(rawPath).getFileName.toString).toString)
      val spec = registry.find(_.name == source)
      val df = spec match {
        // scrub writes only spec fields, as JSON strings, plus unparsable
        // lines verbatim: the spec's fields as plain strings read it with
        // no inference job (rawSchema's field metadata would reach the
        // qlm_ready footer)
        case Some(sp) if sp.format == SourceFormat.Jsonl =>
          spark.read.schema(StructType(sp.fields.map(f => StructField(f.name, StringType)))).json(curatedPath)
        case Some(sp) if sp.format == SourceFormat.Hl7   => Readers.hl7Messages(spark, curatedPath)
        case _ => Readers.csvInferHeader(spark, curatedPath) // CSV, and P8 best effort
      }
      val canonical = Canonicalizer.canonicalize(source, df)
      val outDir = zone("qlm_ready", source, ts(), batchId)
      // one part file per batch, like the reference's one parquet per
      // batch, so final_sha256 hashes the whole artifact
      canonical.coalesce(1).write.mode("overwrite").parquet(outDir.toString)
      val partFile = graft.util.Fs.list(outDir)
        .find(_.getFileName.toString.endsWith(".parquet")).map(_.toString).getOrElse(outDir.toString)
      val sha = Provenance.sha256File(partFile)
      provenance.updateFinalHash(batchId, sha, outDir.toString)
      provenance.recordStep(batchId, "TRANSFORM",
        Map("version_path" -> outDir.toString))
      batchId -> outDir.toString
    }
  }

  // ------------------------------------------------------------------

  /** (batch_id, source_name, raw_file_path, curated_path) of the
    * batches in `status`, FIFO.
    */
  private[graft] def pendingBatches(status: String): Seq[(String, String, String, String)] =
    provenance.pending(status).map(r => (r.getAs[String]("batch_id"), r.getAs[String]("source_name"),
      r.getAs[String]("raw_file_path"), r.getAs[String]("curated_path")))

  /** Full run over a source directory tree. */
  def runAll(sourceBase: String): Unit = {
    ingest(sourceBase)
    validatePending()
    scrubPending()
    transformPending()
  }
}
