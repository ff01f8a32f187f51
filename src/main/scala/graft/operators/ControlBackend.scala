package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage seam for the control plane. The reference keeps all batch /
  * step / rule / audit state in Postgres behind a tiny DB module
  * (reference: etl/db.py:12-63; tables in db/init.sql:3-98); the engine
  * only ever needs two verbs per control table — INSERT rows and
  * SELECT * — so that pair is the whole contract. `Provenance` derives
  * every state view relationally on top of `read`, which keeps the
  * backend swappable: parquet for a lake-native control plane, JDBC
  * (append = batched INSERT, read = SELECT *) where an RDBMS is the
  * system of record like the reference's Postgres.
  */
trait ControlBackend {
  def append(table: String, df: DataFrame): Unit
  def read(table: String)(empty: => DataFrame): DataFrame
  /** Storage-maintenance hook; no-op for stores that self-compact
    * (an RDBMS needs nothing here).
    */
  def compact(table: String): Unit = ()
}

/** Append-only parquet event log per control table under
  * `<root>/_control/`. Every append writes one small parquet file —
  * one per table per pipeline stage call under
  * [[Provenance.batched]], one per event outside it — so the backend
  * self-compacts: once a table exceeds `autoCompactAt` part files, it
  * is rewritten as a single consolidated file set (write to temp + dir
  * swap, so readers see either the old or the new layout).
  * Control-plane appends are driver-side and serialized per pipeline
  * (mirroring the reference's single-threaded UPDATE flow), which makes
  * the count-then-compact check race-free in practice.
  */
final class ParquetControlBackend(spark: SparkSession, root: String,
    autoCompactAt: Int = 64) extends ControlBackend {

  private def dir(table: String) = s"$root/_control/$table"

  private def partFileCount(table: String): Int =
    graft.util.Fs.list(Paths.get(dir(table))).count(_.toString.endsWith(".parquet"))

  /** Repair a compact that crashed mid-swap: the table dir is missing
    * but the complete previous generation sits in `_old` — move it
    * back BEFORE any read or append. (Reading through a fallback
    * instead would break at the first append, which recreates the main
    * dir with only new rows and thereby hides — and on the next
    * compact, deletes — the whole history.)
    */
  private def recover(table: String): Unit = {
    val p = Paths.get(dir(table))
    val old = Paths.get(dir(table) + "_old")
    if (!Files.exists(p) && Files.exists(old)) Files.move(old, p)
  }

  override def append(table: String, df: DataFrame): Unit = {
    recover(table)
    df.write.mode(SaveMode.Append).parquet(dir(table))
    if (autoCompactAt > 0 && partFileCount(table) > autoCompactAt) compact(table)
  }

  override def read(table: String)(empty: => DataFrame): DataFrame = {
    recover(table)
    if (Files.exists(Paths.get(dir(table)))) spark.read.parquet(dir(table)) else empty
  }

  override def compact(table: String): Unit = {
    recover(table)
    val p = Paths.get(dir(table))
    if (Files.exists(p)) {
      val old = Paths.get(dir(table) + "_old")
      // stale generations (only possible AFTER a successful swap, so
      // the main dir is the newest data) would break the moves below
      graft.util.Fs.deleteRecursively(old)
      val df = spark.read.parquet(dir(table)).coalesce(1)
      val tmp = dir(table) + "_compact_tmp"
      graft.util.Fs.deleteRecursively(Paths.get(tmp))
      df.write.mode(SaveMode.Overwrite).parquet(tmp)
      Files.move(p, old)
      Files.move(Paths.get(tmp), p)
      graft.util.Fs.deleteRecursively(old) // best-effort cleanup
      // Known small race: a DataFrame PLANNED before this swap holds
      // the old part-file paths and will fail fast (FileNotFound) if
      // collected afterwards — retention couldn't help, since the
      // rename invalidates the planned paths either way. Control-plane
      // reads are tiny and re-plan on retry; data is never lost (the
      // swap is repair-safe via recover()).
    }
  }
}

/** Real JDBC control plane — the reference's architecture
  * (etl/db.py:12-63 over Postgres), runnable here against embedded
  * Derby (which ships with Spark). Appends are driver-side batched
  * INSERTs exactly like the reference's single-threaded psycopg2 flow;
  * reads come back through Spark's JDBC source so every lineage query
  * is still a distributed DataFrame plan. Tables are created on demand
  * from the DataFrame schema with quoted (case-preserving) identifiers
  * so read-back column names match the engine's expectations.
  */
/** @param statementListener invoked with every SQL statement this
  *   backend hands to JDBC, in emission order — the seam
  *   ProvenanceSpec's golden-file test records through, so an
  *   accidental dialect drift shows as a readable statement diff
  *   rather than a property failure. Default: no-op.
  */
final class JdbcControlBackend(spark: SparkSession, url: String,
    statementListener: String => Unit = _ => ()) extends ControlBackend {
  import java.sql.{Connection, DriverManager, SQLException, Types}
  import org.apache.spark.sql.types.{IntegerType, LongType}
  JdbcControlBackend.init()

  /** Resolved from the URL, so pointing the same code at
    * `jdbc:postgresql://…` — the reference's actual control plane,
    * etl/db.py:12-34 — is a config-only swap: every emitted statement
    * is the ANSI intersection and only the type/SQLState entries in
    * the dialect differ. See [[JdbcControlBackend.SqlDialect]].
    */
  private val dialect = JdbcControlBackend.dialectForUrl(url)

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def jdbcType(f: org.apache.spark.sql.types.StructField): Int = f.dataType match {
    case LongType => Types.BIGINT
    case IntegerType => Types.INTEGER
    case org.apache.spark.sql.types.DoubleType => Types.DOUBLE
    case _ if JdbcControlBackend.unboundedTextFields.contains(f.name) => Types.CLOB
    case _ => Types.VARCHAR
  }

  private def ensureTable(c: Connection, table: String, schema: StructType): Unit = {
    val sql = JdbcControlBackend.createTableSql(table, schema, dialect)
    statementListener(sql)
    val st = c.createStatement()
    try st.executeUpdate(sql)
    catch { case e: SQLException
      if dialect.duplicateTableStates.contains(e.getSQLState) => () } // exists
    finally st.close()
  }

  private def tableExists(c: Connection, table: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, table, null)
    try rs.next() finally rs.close()
  }

  /** CONTRACT: control-plane rows ONLY — batch/step/rule/audit records,
    * O(1..100) rows per call, never a data-plane frame. The append
    * necessarily funnels through the driver (same as the reference's
    * psycopg2 INSERT flow), so a data-plane misuse would both OOM the
    * driver and hammer the RDBMS; nothing in the type signature stops
    * that, so a hard row cap does: the frame is fetched with
    * limit(cap+1) — the guard itself can't OOM — and over-cap appends
    * abort with a clear error instead of degrading.
    */
  override def append(table: String, df: DataFrame): Unit = withConn { c =>
    val rows = df.limit(JdbcControlBackend.MaxControlRows + 1).collect()
    require(rows.length <= JdbcControlBackend.MaxControlRows,
      s"JdbcControlBackend.append('$table') got more than " +
        s"${JdbcControlBackend.MaxControlRows} rows — this backend is for " +
        "control-plane records only; write data-plane frames to the lake " +
        "(parquet/VersionedTable), not the RDBMS")
    ensureTable(c, table, df.schema)
    val ins = JdbcControlBackend.insertSql(table, df.schema)
    statementListener(ins)
    val ps = c.prepareStatement(ins)
    try {
      rows.foreach { row =>
        df.schema.indices.foreach { i =>
          val v = row.get(i)
          if (v == null) ps.setNull(i + 1, jdbcType(df.schema(i)))
          else ps.setObject(i + 1, v)
        }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  override def read(table: String)(empty: => DataFrame): DataFrame =
    if (!withConn(tableExists(_, table))) empty
    else spark.read.format("jdbc")
      .option("url", url).option("dbtable", s""""$table"""").load()
}

object JdbcControlBackend {
  /** Hard cap on rows per [[JdbcControlBackend.append]] call. Real
    * control tables write a handful of rows per batch/step; 10k leaves
    * three orders of magnitude of headroom while still failing fast on
    * a data-plane frame.
    */
  val MaxControlRows = 10000

  /** The dialect seam — the ONLY place backend SQL may vary. Every
    * statement this backend emits (enumerated by [[createTableSql]] /
    * [[insertSql]], pinned by ProvenanceSpec's portability test) is
    * the ANSI intersection of Derby and Postgres: quoted
    * case-preserving identifiers, `CREATE TABLE`, positional-`?`
    * `INSERT` — no upserts (the control plane is append-only, state
    * transitions are new rows), no sequences/SERIAL, no vendor DDL.
    * What genuinely differs between the engines is captured here:
    * the unbounded-text type name (Derby CLOB / Postgres TEXT — Derby
    * has no TEXT, Postgres no CLOB) and the duplicate-table SQLState
    * the create-if-absent probe must swallow. `DOUBLE PRECISION` is
    * the one spelling both accept, so it is emitted for both.
    */
  final case class SqlDialect(name: String, doubleType: String,
      unboundedText: String, duplicateTableStates: Set[String])
  val Derby = SqlDialect("derby", "DOUBLE PRECISION", "CLOB", Set("X0Y32"))
  val Postgres = SqlDialect("postgres", "DOUBLE PRECISION", "TEXT", Set("42P07"))

  def dialectForUrl(url: String): SqlDialect =
    if (url.startsWith("jdbc:postgresql:")) Postgres else Derby

  /** Unbounded-text fields (error samples, details blobs) get the
    * dialect's unbounded type so a long value can't make this backend
    * reject an append the parquet and in-memory backends accept (Derby
    * SQLState 22001 truncation). Key/short fields stay VARCHAR — Derby
    * forbids comparisons on CLOB, and Spark pushes equality filters
    * (batch_id etc.) into the query.
    */
  val unboundedTextFields = Set("details_json", "error_details", "details")

  private def sqlType(f: org.apache.spark.sql.types.StructField,
      d: SqlDialect): String = f.dataType match {
    case org.apache.spark.sql.types.LongType => "BIGINT"
    case org.apache.spark.sql.types.IntegerType => "INTEGER"
    case org.apache.spark.sql.types.DoubleType => d.doubleType
    case _ if unboundedTextFields.contains(f.name) => d.unboundedText
    case _ => "VARCHAR(32000)"
  }

  /** The complete DDL the backend can emit, exposed so the dialect
    * portability is testable as data rather than asserted in prose.
    */
  def createTableSql(table: String, schema: StructType, d: SqlDialect): String = {
    val cols = schema.map(f => s""""${f.name}" ${sqlType(f, d)}""").mkString(", ")
    s"""CREATE TABLE "$table" ($cols)"""
  }

  /** The complete DML the backend can emit (dialect-invariant). */
  def insertSql(table: String, schema: StructType): String = {
    val cols = schema.map(f => s""""${f.name}"""").mkString(", ")
    val marks = schema.map(_ => "?").mkString(", ")
    s"""INSERT INTO "$table" ($cols) VALUES ($marks)"""
  }

  /** Keep embedded Derby's derby.log out of the working directory. */
  private lazy val initOnce: Unit = {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        Files.createTempDirectory("derby-home").toString)
  }
  private def init(): Unit = initOnce
}

/** RDBMS-contract stand-in: rows live in driver memory, appends are
  * transactional row inserts, reads rebuild a DataFrame from the stored
  * rows — behaviorally what a JDBC backend returns from SELECT *. Kept
  * alongside [[JdbcControlBackend]] as the dependency-free contract
  * reference.
  */
final class InMemoryControlBackend(spark: SparkSession) extends ControlBackend {

  private val tables = TrieMap.empty[String, (StructType, Vector[Row])]

  override def append(table: String, df: DataFrame): Unit = synchronized {
    val rows = df.collect().toVector
    tables.get(table) match {
      case Some((schema, existing)) => tables.update(table, (schema, existing ++ rows))
      case None => tables.update(table, (df.schema, rows))
    }
  }

  override def read(table: String)(empty: => DataFrame): DataFrame =
    tables.get(table) match {
      case Some((schema, rows)) => spark.createDataFrame(rows.asJava, schema)
      case None => empty
    }
}
