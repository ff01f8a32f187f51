package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Provenance + batch state machine (reference: etl/provenance_recorder.py,
  * etl/audit.py, db/init.sql:3-36,90-98).
  *
  * The reference keeps all control-flow state in Postgres; here the
  * control plane is an append-only event log per table behind a
  * [[ControlBackend]] (parquet by default, JDBC-shaped contract), with
  * "current batch state" derived by a last-event-wins fold — the
  * idempotent analogue of the reference's single-threaded UPDATEs.
  * Reads are driver-local: the backend hands over the table's rows
  * (the parquet backend from a cache it tops up only with part files it
  * has not seen), and the batch fold, the stage queues and the lineage
  * queries are plain Scala over them, so none launches a Spark job. The
  * DataFrame accessors ([[batches]], [[steps]], …) wrap the same rows
  * in a local relation for callers that join them with data.
  *
  * Scale bound: the driver holds every control event row, and each
  * state read folds all batch events. That is cheap for the thousands
  * of batches a lake of per-file batches has; past about 10^6 batches
  * the [[JdbcControlBackend]] — the reference's own architecture — is
  * the answer.
  *
  * Writes: outside a [[batched]] scope every event is its own
  * driver-side `append`. Inside one, the calling thread's events are
  * buffered and written when the scope exits, as ONE append (one file
  * on the parquet backend) per touched table — so a pipeline stage
  * pays one append per control table however many batches it moves.
  * Each buffered row keeps the `event_time` taken when it was
  * recorded, so last-event-wins is unchanged; reads inside a scope do
  * not see its buffered rows.
  */
final class Provenance(spark: SparkSession, backend: ControlBackend) {
  import Provenance._

  def this(spark: SparkSession, root: String) =
    this(spark, new ParquetControlBackend(root))

  /** The calling thread's open scope; null outside any. */
  private val scope = new ThreadLocal[Scope]
  private val lastMillis = new AtomicLong(0L)

  private def record(table: String, values: Any*): Unit = {
    val row = new GenericRowWithSchema(values.toArray, tableSchemas(table))
    scope.get match {
      case b: Buffer => b.rows.getOrElseUpdate(table, mutable.ArrayBuffer.empty) += row
      case _ => backend.append(table, Seq(row))
    }
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

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
        try buf.rows.foreach { case (table, rows) => backend.append(table, rows.toSeq) }
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
    record("provenance_batch_events", batchId, source, filePath, rawSha, status, nowTs,
      errorDetails, totalRows, curatedSha, curatedPath, finalSha, versionPath)

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
    record("provenance_steps", batchId, stepName, nowTs, detailsJson(details))

  def recordRule(batchId: String, ruleId: String, action: String): Unit =
    record("provenance_rules_applied", batchId, ruleId, action, nowTs)

  def writeAudit(actor: String, action: String, details: String): Unit =
    record("audit_log", actor, action, details, nowTs)

  /** Current batch state, one row per batch in [[BatchSchema]], in
    * first-event order: per field the last non-null value in event-time
    * order (on a tie, the later-stored event), `ingest_time` the first
    * event time and `total_rows` the largest count (the
    * UPDATE-semantics view).
    */
  def batchRows: Seq[Row] = {
    val state = mutable.LinkedHashMap.empty[String, BatchFold]
    backend.rows("provenance_batch_events").foreach(ev =>
      state.getOrElseUpdate(ev.getString(0), new BatchFold).add(ev))
    state.values.map(_.row).toSeq
  }

  def batches: DataFrame = frame(batchRows, BatchSchema)

  def steps: DataFrame = table("provenance_steps")

  def rulesApplied: DataFrame = table("provenance_rules_applied")

  def auditLog: DataFrame = table("audit_log")

  private def table(name: String): DataFrame = frame(backend.rows(name), tableSchemas(name))

  private def str(r: Row, field: String): String = r.getAs[String](field)

  private def newestFirst(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(str(_, "ingest_time"))(Ordering[String].reverse)

  /** Pending-batch queue for a stage (S10): status filter + FIFO order. */
  def pending(status: String): Seq[Row] =
    batchRows.filter(str(_, "status") == status).sortBy(str(_, "ingest_time"))

  /** Ingest-idempotence probe: has any event registered this raw path
    * with this content hash? A scan of the raw events, without the
    * [[batchRows]] fold.
    */
  def hasIngested(rawFilePath: String, rawSha256: String): Boolean =
    backend.rows("provenance_batch_events").exists(r =>
      str(r, "raw_file_path") == rawFilePath && str(r, "raw_sha256") == rawSha256)

  // ---- lineage queries (api/app.py:63-152) ----

  def batchById(batchId: String): Seq[Row] = batchRows.filter(str(_, "batch_id") == batchId)

  def batchTimeline(batchId: String): Seq[Row] =
    backend.rows("provenance_steps").filter(str(_, "batch_id") == batchId).sortBy(str(_, "step_time"))

  def batchRules(batchId: String): Seq[Row] =
    backend.rows("provenance_rules_applied").filter(str(_, "batch_id") == batchId)
      .sortBy(str(_, "created_at"))

  def latestBatches(source: Option[String], n: Int = 20): Seq[Row] =
    newestFirst(batchRows.filter(r => source.forall(_ == str(r, "source_name")))).take(n)

  def search(status: Option[String], source: Option[String]): Seq[Row] =
    newestFirst(batchRows.filter(r =>
      status.forall(_ == str(r, "status")) && source.forall(_ == str(r, "source_name"))))

  /** Audit tail (O4, README.md:223-226): latest n audit entries. */
  def auditTail(n: Int = 50): DataFrame =
    auditLog.orderBy(col("created_at").desc).limit(n)

  def statusRollup: DataFrame =
    batches.groupBy("source_name", "status").count().orderBy("source_name", "status")

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

  /** Row schema of the folded batch state: the event columns, with the
    * first event time as `ingest_time`.
    */
  val BatchSchema: StructType = StructType(tableSchemas("provenance_batch_events").map(f =>
    if (f.name == "event_time") f.copy(name = "ingest_time") else f))

  private val EventTime = BatchSchema.fieldIndex("ingest_time")
  private val TotalRows = BatchSchema.fieldIndex("total_rows")
  /** Columns folded last-non-null-wins: all but batch_id (the key),
    * event_time (min, as ingest_time) and total_rows (max).
    */
  private val LastWins = BatchSchema.indices.filterNot(Set(0, EventTime, TotalRows)).toArray

  /** One batch's running [[Provenance.batchRows]] state. */
  private final class BatchFold {
    private val values = new Array[Any](BatchSchema.length)
    private val times = new Array[String](BatchSchema.length)

    def add(ev: Row): Unit = {
      val t = ev.getString(EventTime)
      values(0) = ev.get(0)
      LastWins.foreach { i =>
        if (!ev.isNullAt(i) && (times(i) == null || t >= times(i))) { values(i) = ev.get(i); times(i) = t }
      }
      if (values(EventTime) == null || t < values(EventTime).asInstanceOf[String]) values(EventTime) = t
      if (!ev.isNullAt(TotalRows) &&
          (values(TotalRows) == null || ev.getLong(TotalRows) > values(TotalRows).asInstanceOf[Long]))
        values(TotalRows) = ev.get(TotalRows)
    }

    def row: Row = new GenericRowWithSchema(values, BatchSchema)
  }

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
