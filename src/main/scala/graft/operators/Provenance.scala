package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Provenance + batch state machine (reference: etl/provenance_recorder.py,
  * etl/audit.py, db/init.sql:3-36,90-98).
  *
  * The reference keeps all control-flow state in Postgres; here the
  * control plane is an append-only event log per table behind a
  * [[ControlBackend]] (parquet by default, JDBC-shaped contract), with
  * "current batch state" derived by a last-event-wins aggregation — the
  * idempotent Spark analogue of the reference's single-threaded
  * UPDATEs. Reads are normal DataFrame scans, so lineage queries
  * distribute like any other.
  *
  * Writes: outside a [[batched]] scope every event is its own
  * driver-side `append`. Inside one, the calling thread's events are
  * buffered and written when the scope exits, as ONE local frame (one
  * file on the parquet backend) per touched table — so a pipeline
  * stage pays one append per control table however many batches it
  * moves. Each buffered row keeps the `event_time` taken when it was
  * recorded, so last-event-wins is unchanged; reads inside a scope do
  * not see its buffered rows.
  */
final class Provenance(spark: SparkSession, backend: ControlBackend) {
  import Provenance._
  import spark.implicits._

  def this(spark: SparkSession, root: String) =
    this(spark, new ParquetControlBackend(spark, root))

  /** The calling thread's open scope; null outside any. */
  private val scope = new ThreadLocal[Scope]
  private val lastMillis = new AtomicLong(0L)

  private def write(table: String, rows: Seq[Row]): Unit =
    backend.append(table, spark.createDataFrame(rows.asJava, tableSchemas(table)).coalesce(1))

  private def record(table: String, row: Row): Unit = scope.get match {
    case b: Buffer => b.rows.getOrElseUpdate(table, mutable.ArrayBuffer.empty) += row
    case _ => write(table, Seq(row))
  }

  private def readOrEmpty(name: String): DataFrame =
    backend.read(name)(spark.createDataFrame(java.util.List.of[Row](), tableSchemas(name)))

  /** Buffer every event this thread records while `body` runs, then
    * append each touched control table once — also when `body` throws,
    * so the events of the batches finished before the failure persist
    * (a failing write is then attached to the exception as
    * suppressed). Nested scopes join the outer one; other threads keep
    * appending per event.
    */
  def batched[A](body: => A): A =
    if (scope.get != null) body
    else {
      val buf = new Buffer
      scope.set(buf)
      var failed: Throwable = null
      try body
      catch { case t: Throwable => failed = t; throw t }
      finally {
        scope.remove()
        try buf.rows.foreach { case (table, rows) => write(table, rows.toSeq) }
        catch { case t: Throwable if failed != null => failed.addSuppressed(t) }
      }
    }

  /** Run `body` with every event appended on its own, [[batched]]
    * scopes inside included: the per-event control plane that specs
    * compare the batched one against.
    */
  private[graft] def perEvent[A](body: => A): A = {
    val outer = scope.get
    scope.set(PerEvent)
    try body finally scope.set(outer)
  }

  /** Event time, strictly increasing per instance: a buffered scope
    * records events faster than one per millisecond, and a tie would
    * make FIFO order and last-event-wins ambiguous.
    */
  def nowTs: String = {
    val now = System.currentTimeMillis()
    TsFormat.format(Instant.ofEpochMilli(lastMillis.updateAndGet(last => math.max(last + 1, now))))
  }

  private def batchEvent(batchId: String, status: String, source: String = null,
      filePath: String = null, rawSha: String = null, errorDetails: String = null,
      totalRows: Long = 0L, curatedSha: String = null, curatedPath: String = null,
      finalSha: String = null, versionPath: String = null): Unit =
    record("provenance_batch_events", Row.fromTuple(BatchEvent(batchId, source, filePath,
      rawSha, status, nowTs, errorDetails, totalRows, curatedSha, curatedPath, finalSha, versionPath)))

  /** create_batch, status=INGESTED (provenance_recorder.py:10-17);
    * duplicate batch_ids are collapsed by the last-event-wins view,
    * mirroring ON CONFLICT DO NOTHING idempotence.
    */
  def createBatch(batchId: String, source: String, filePath: String, rawSha: String): Unit =
    batchEvent(batchId, "INGESTED", source = source, filePath = filePath, rawSha = rawSha)

  def updateStatus(batchId: String, status: String, errorDetails: String = null): Unit =
    batchEvent(batchId, status, errorDetails = errorDetails)

  def updateCuratedHash(batchId: String, sha: String, curatedPath: String): Unit =
    batchEvent(batchId, "SCRUBBED", curatedSha = sha, curatedPath = curatedPath)

  def updateFinalHash(batchId: String, sha: String, versionPath: String): Unit =
    batchEvent(batchId, "COMPLETED", finalSha = sha, versionPath = versionPath)

  def setRowCount(batchId: String, status: String, n: Long): Unit =
    batchEvent(batchId, status, totalRows = n)

  def recordStep(batchId: String, stepName: String, details: Map[String, String]): Unit =
    record("provenance_steps", Row(batchId, stepName, nowTs, detailsJson(details)))

  def recordRule(batchId: String, ruleId: String, action: String): Unit =
    record("provenance_rules_applied", Row(batchId, ruleId, action, nowTs))

  def writeAudit(actor: String, action: String, details: String): Unit =
    record("audit_log", Row(actor, action, details, nowTs))

  /** Current batch state: per batch, last non-null value per field in
    * event order (the UPDATE-semantics view). row_number + first-value
    * aggregation keeps this a single shuffle by batch_id.
    */
  def batches: DataFrame = {
    val ev = readOrEmpty("provenance_batch_events")
    ev.groupBy($"batch_id").agg(
      max_by($"source_name", when($"source_name".isNotNull, $"event_time")).as("source_name"),
      max_by($"raw_file_path", when($"raw_file_path".isNotNull, $"event_time")).as("raw_file_path"),
      max_by($"raw_sha256", when($"raw_sha256".isNotNull, $"event_time")).as("raw_sha256"),
      max_by($"status", when($"status".isNotNull, $"event_time")).as("status"),
      min($"event_time").as("ingest_time"),
      max_by($"error_details", when($"error_details".isNotNull, $"event_time")).as("error_details"),
      max($"total_rows").as("total_rows"),
      max_by($"curated_sha256", when($"curated_sha256".isNotNull, $"event_time")).as("curated_sha256"),
      max_by($"curated_path", when($"curated_path".isNotNull, $"event_time")).as("curated_path"),
      max_by($"final_sha256", when($"final_sha256".isNotNull, $"event_time")).as("final_sha256"),
      max_by($"version_path", when($"version_path".isNotNull, $"event_time")).as("version_path"))
  }

  def steps: DataFrame = readOrEmpty("provenance_steps")

  def rulesApplied: DataFrame = readOrEmpty("provenance_rules_applied")

  def auditLog: DataFrame = readOrEmpty("audit_log")

  /** Pending-batch queue for a stage (S10): status filter + FIFO order. */
  def pending(status: String): DataFrame =
    batches.filter($"status" === status).orderBy($"ingest_time")

  /** Cheap ingest-idempotence probe: has any event registered this raw
    * path with this content hash? Scans the raw event log with a
    * pushed-down filter — deliberately NOT the [[batches]] view, whose
    * last-event-wins aggregation costs a groupBy over the whole log per
    * call (too heavy for a per-file check in a streaming watch).
    */
  def hasIngested(rawFilePath: String, rawSha256: String): Boolean = {
    val ev = readOrEmpty("provenance_batch_events")
    !ev.filter($"raw_file_path" === rawFilePath && $"raw_sha256" === rawSha256).isEmpty
  }

  // ---- lineage queries (api/app.py:63-152) ----

  def batchById(batchId: String): DataFrame = batches.filter($"batch_id" === batchId)

  def batchTimeline(batchId: String): DataFrame =
    steps.filter($"batch_id" === batchId).orderBy($"step_time")

  def batchRules(batchId: String): DataFrame =
    rulesApplied.filter($"batch_id" === batchId).orderBy($"created_at")

  def latestBatches(source: Option[String], n: Int = 20): DataFrame =
    source.fold(batches)(s => batches.filter($"source_name" === s))
      .orderBy($"ingest_time".desc).limit(n)

  def search(status: Option[String], source: Option[String]): DataFrame = {
    var df = batches
    status.foreach(s => df = df.filter($"status" === s))
    source.foreach(s => df = df.filter($"source_name" === s))
    df.orderBy($"ingest_time".desc)
  }

  /** Audit tail (O4, README.md:223-226): latest n audit entries. */
  def auditTail(n: Int = 50): DataFrame =
    auditLog.orderBy($"created_at".desc).limit(n)

  def statusRollup: DataFrame =
    batches.groupBy($"source_name", $"status").count().orderBy($"source_name", $"status")

  /** Compact every control table (delegates to the backend's storage
    * maintenance; the parquet backend also self-compacts on append past
    * its file threshold, see [[ParquetControlBackend]]).
    */
  def compact(): Unit = Provenance.controlTables.foreach(backend.compact)
}

object Provenance {
  final case class BatchEvent(
      batch_id: String, source_name: String, raw_file_path: String,
      raw_sha256: String, status: String, event_time: String,
      error_details: String, total_rows: Long, curated_sha256: String,
      curated_path: String, final_sha256: String, version_path: String)

  /** The control tables and their row schemas (db/init.sql:3-98
    * table-per-concern layout).
    */
  val tableSchemas: Map[String, StructType] = {
    def strings(cols: String*) = StructType(cols.map(StructField(_, StringType)))
    Map(
      "provenance_batch_events" -> Encoders.product[BatchEvent].schema,
      "provenance_steps" -> strings("batch_id", "step_name", "step_time", "details_json"),
      "provenance_rules_applied" -> strings("batch_id", "rule_id", "action", "created_at"),
      "audit_log" -> strings("actor", "action", "details", "created_at"))
  }

  val controlTables: Seq[String] = tableSchemas.keys.toSeq

  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  /** A thread's open [[Provenance.batched]] scope: buffered rows per
    * table in first-touch order, or the per-event marker.
    */
  private sealed trait Scope
  private final class Buffer extends Scope {
    val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Row]]
  }
  private case object PerEvent extends Scope

  /** F6: streaming SHA-256 of a local file (8 KiB chunks like
    * etl/ingest.py:18-25); used for the artifact hash chain.
    */
  def sha256File(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** F7: batch id `<source>_<filename dots→underscores>_<utc ts>`
    * (etl/ingest.py:45-50).
    */
  def batchId(source: String, fileName: String): String = {
    val ts = DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC).format(Instant.now())
    s"${source}_${fileName.replace(".", "_")}_$ts"
  }

  /** RFC 8259-safe string escape (control chars included — an error
    * sample carrying a tab/newline must not yield unparseable JSON).
    */
  def jsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def detailsJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      jsonEscape(k) + ":" + jsonEscape(Option(v).getOrElse(""))
    }.mkString("{", ",", "}")

  def copyFile(src: String, dst: String): Unit = {
    val d = Paths.get(dst)
    Files.createDirectories(d.getParent)
    Files.copy(Paths.get(src), d, StandardCopyOption.REPLACE_EXISTING)
  }
}
