package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{LongType, StructType}

/** Storage seam for the control plane. The reference keeps all batch /
  * step / rule / audit state in Postgres behind a tiny DB module
  * (reference: etl/db.py:12-63; tables in db/init.sql:3-98); the engine
  * only ever needs two verbs per control table — INSERT rows and
  * SELECT * — so that pair is the whole contract. Rows are positional
  * in the table's [[Provenance.tableSchemas]] order, and a control
  * table is a few KB to MB of metadata, so both verbs move driver-local
  * rows: `Provenance` folds every state view in plain Scala over
  * `rows`, and no read launches a Spark job once the rows are loaded.
  * The backend stays swappable: parquet for a lake-native control
  * plane, JDBC (append = batched INSERT, rows = SELECT) where an RDBMS
  * is the system of record like the reference's Postgres.
  */
trait ControlBackend {
  def append(table: String, rows: Seq[Row]): Unit
  def rows(table: String): Seq[Row]
  /** Storage-maintenance hook; no-op for stores that self-compact
    * (an RDBMS needs nothing here).
    */
  def compact(table: String): Unit = ()
}

/** Append-only parquet event log per control table under
  * `<root>/_control/`, written and read on the driver with parquet's own
  * writer and reader over local files: no Spark job, no Hadoop
  * committer. Every append writes one small parquet file — one per
  * table per pipeline stage call under [[Provenance.batched]], one per
  * event outside it — to a hidden `.*.tmp` name, then publishes it
  * under its `part-<epoch ms>-<uuid>.parquet` name with an atomic
  * rename, so a listing never shows a partial file. The files are plain
  * parquet in [[Provenance.tableSchemas]] (UTF-8 strings, int64
  * `total_rows`), readable by any parquet reader. The backend
  * self-compacts: once a table exceeds `autoCompactAt` part files, it
  * is rewritten as one file (written to a temp dir, then a dir swap, so
  * readers see either the old or the new layout).
  *
  * Reads are served from a driver-side cache of rows keyed by part-file
  * name: part files are immutable, and this backend records the rows of
  * each file it writes under the name it wrote, so its own appends and
  * compactions never read anything back. A read lists the table dir
  * and loads only the files it has not seen (after a restart, another
  * writer's append, or another writer's compaction). All of it runs
  * under one lock, which also serializes the count-then-compact check.
  */
final class ParquetControlBackend(root: String, autoCompactAt: Int = 64) extends ControlBackend {
  import ParquetControlBackend._

  /** Cached rows per table, by part-file name. Guarded by `this`. */
  private val cache = mutable.Map.empty[String, mutable.LinkedHashMap[String, Seq[Row]]]

  private def dir(table: String): Path = Paths.get(root, "_control", table)

  private def sibling(table: String, suffix: String): Path = Paths.get(s"${dir(table)}$suffix")

  /** Part-file names of `table`, in name order. */
  private def partFiles(table: String): Seq[String] =
    graft.util.Fs.list(dir(table)).map(_.getFileName.toString)
      .filter(f => f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_")).sorted

  /** The cached files of `table` that are still listed (a compaction
    * elsewhere removes the ones it folded).
    */
  private def known(table: String, listed: Seq[String]): mutable.LinkedHashMap[String, Seq[Row]] = {
    val files = cache.getOrElseUpdate(table, mutable.LinkedHashMap.empty)
    files.filterInPlace((f, _) => listed.contains(f))
  }

  /** Repair a compact that crashed mid-swap: the table dir is missing
    * but the complete previous generation sits in `_old` — move it
    * back BEFORE any read or append. (Reading through a fallback
    * instead would break at the first append, which recreates the main
    * dir with only new rows and thereby hides — and on the next
    * compact, deletes — the whole history.)
    */
  private def recover(table: String): Unit = {
    val old = sibling(table, "_old")
    if (!Files.exists(dir(table)) && Files.exists(old)) Files.move(old, dir(table))
  }

  override def append(table: String, rows: Seq[Row]): Unit = synchronized {
    recover(table)
    val name = writeFile(dir(table), Provenance.tableSchemas(table), rows)
    val listed = partFiles(table)
    known(table, listed)(name) = rows
    if (autoCompactAt > 0 && listed.size > autoCompactAt) compact(table)
  }

  override def rows(table: String): Seq[Row] = synchronized {
    refresh(table)
    cache(table).values.flatten.toSeq
  }

  /** Bring the cached files of `table` in line with its listing: drop
    * the vanished, load the unseen.
    */
  private def refresh(table: String, relist: Boolean = true): Unit = {
    recover(table)
    val listed = partFiles(table)
    val files = known(table, listed)
    val schema = Provenance.tableSchemas(table)
    try listed.filterNot(files.contains).foreach(f => files(f) = readFile(dir(table).resolve(f), schema))
    catch {
      // a listed file can vanish in another writer's compaction swap;
      // its rows then sit in the compacted file: list once more
      case _: java.io.IOException if relist && listed.exists(f => !Files.exists(dir(table).resolve(f))) =>
        refresh(table, relist = false)
    }
  }

  override def compact(table: String): Unit = synchronized {
    val all = rows(table)
    if (Files.exists(dir(table))) {
      val old = sibling(table, "_old")
      // stale generations (only possible AFTER a successful swap, so
      // the main dir is the newest data) would break the moves below
      graft.util.Fs.deleteRecursively(old)
      val tmp = sibling(table, "_compact_tmp")
      graft.util.Fs.deleteRecursively(tmp)
      val name = writeFile(tmp, Provenance.tableSchemas(table), all)
      Files.move(dir(table), old)
      Files.move(tmp, dir(table))
      graft.util.Fs.deleteRecursively(old) // best-effort cleanup
      cache(table) = mutable.LinkedHashMap(name -> all)
    }
  }
}

object ParquetControlBackend {
  import org.apache.parquet.conf.PlainParquetConfiguration
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}

  /** Parquet's own settings, without a Hadoop `Configuration`. */
  private def conf = new PlainParquetConfiguration()

  /** The parquet schema of a control table: longs as int64, the other
    * columns (all strings) as UTF-8 binary, required where the column is
    * not nullable.
    */
  private def messageType(schema: StructType): MessageType =
    new MessageType("spark_schema", schema.map[Type] { f =>
      val repetition = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t =
        if (f.dataType == LongType) Types.primitive(INT64, repetition)
        else Types.primitive(BINARY, repetition).as(LogicalTypeAnnotation.stringType())
      t.named(f.name)
    }.asJava)

  /** Write `rows` as one parquet file in `dir` and return its name. */
  private def writeFile(dir: Path, schema: StructType, rows: Seq[Row]): String = {
    Files.createDirectories(dir)
    val name = f"part-${System.currentTimeMillis()}%013d-${UUID.randomUUID()}.parquet"
    val tmp = dir.resolve(s".$name.tmp")
    val parquetSchema = messageType(schema)
    try {
      val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp)).withConf(conf)
        .withType(parquetSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.foreach { r =>
        val g = new SimpleGroup(parquetSchema)
        schema.indices.filterNot(r.isNullAt).foreach { i =>
          if (schema(i).dataType == LongType) g.add(i, r.getLong(i)) else g.add(i, r.getString(i))
        }
        writer.write(g)
      } finally writer.close()
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } catch { case t: Throwable => Files.deleteIfExists(tmp); throw t }
    name
  }

  /** The rows of one part file in `schema`, columns matched by name. */
  private def readFile(path: Path, schema: StructType): Seq[Row] = {
    val reader = new ParquetReader.Builder[Group](new LocalInputFile(path), conf) {
      override protected def getReadSupport = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      val values = schema.map { f =>
        if (g.getFieldRepetitionCount(f.name) == 0) null
        else if (f.dataType == LongType) g.getLong(f.name, 0)
        else g.getString(f.name, 0)
      }
      new GenericRowWithSchema(values.toArray, schema): Row
    }.toVector
    finally reader.close()
  }
}

/** Real JDBC control plane — the reference's architecture
  * (etl/db.py:12-63 over Postgres), runnable here against embedded
  * Derby (which ships with Spark). Appends are driver-side batched
  * INSERTs exactly like the reference's single-threaded psycopg2 flow;
  * reads are one plain `SELECT` of the table's columns over the same
  * connection, so lineage and stage queues read the system of record
  * directly, with no Spark job. Tables are created on demand from the
  * control table's schema with quoted (case-preserving) identifiers so
  * read-back column names match the engine's expectations.
  *
  * @param statementListener invoked with every SQL statement this
  *   backend hands to JDBC, in emission order — the seam
  *   ProvenanceSpec's golden-file test records through, so an
  *   accidental dialect drift shows as a readable statement diff
  *   rather than a property failure. Default: no-op.
  */
final class JdbcControlBackend(url: String,
    statementListener: String => Unit = _ => ()) extends ControlBackend {
  import java.sql.{Connection, DriverManager, ResultSet, SQLException, Types}
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
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
    case DoubleType => Types.DOUBLE
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
    * funnels through the driver (same as the reference's psycopg2
    * INSERT flow), so a data-plane misuse would both OOM the driver and
    * hammer the RDBMS; a hard row cap makes over-cap appends abort with
    * a clear error, before any statement runs, instead of degrading.
    */
  override def append(table: String, rows: Seq[Row]): Unit = {
    require(rows.size <= JdbcControlBackend.MaxControlRows,
      s"JdbcControlBackend.append('$table') got more than " +
        s"${JdbcControlBackend.MaxControlRows} rows — this backend is for " +
        "control-plane records only; write data-plane frames to the lake " +
        "(parquet/VersionedTable), not the RDBMS")
    val schema = Provenance.tableSchemas(table)
    withConn { c =>
      ensureTable(c, table, schema)
      val ins = JdbcControlBackend.insertSql(table, schema)
      statementListener(ins)
      val ps = c.prepareStatement(ins)
      try {
        rows.foreach { row =>
          schema.indices.foreach { i =>
            val v = row.get(i)
            if (v == null) ps.setNull(i + 1, jdbcType(schema(i)))
            else ps.setObject(i + 1, v)
          }
          ps.addBatch()
        }
        ps.executeBatch()
      } finally ps.close()
    }
  }

  override def rows(table: String): Seq[Row] = withConn { c =>
    if (!tableExists(c, table)) Nil
    else {
      val schema = Provenance.tableSchemas(table)
      val sql = JdbcControlBackend.selectSql(table, schema)
      statementListener(sql)
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(sql)
        val out = Vector.newBuilder[Row]
        while (rs.next())
          out += new GenericRowWithSchema(schema.indices.map(i => column(rs, i + 1, schema(i))).toArray, schema)
        out.result()
      } finally st.close()
    }
  }

  private def column(rs: ResultSet, i: Int, f: org.apache.spark.sql.types.StructField): Any = {
    val v = f.dataType match {
      case LongType => rs.getLong(i)
      case IntegerType => rs.getInt(i)
      case DoubleType => rs.getDouble(i)
      case _ => rs.getString(i)
    }
    if (rs.wasNull) null else v
  }
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
    * [[insertSql]] / [[selectSql]], pinned by ProvenanceSpec's
    * portability test) is the ANSI intersection of Derby and Postgres:
    * quoted case-preserving identifiers, `CREATE TABLE`, positional-`?`
    * `INSERT`, a plain column-list `SELECT` — no upserts (the control plane is append-only, state
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
    * forbids comparisons on CLOB, so a keyed lookup (batch_id etc.)
    * needs them comparable.
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

  /** The one query the backend can emit (dialect-invariant): every
    * column of the table, quoted, in schema order.
    */
  def selectSql(table: String, schema: StructType): String =
    schema.map(f => s""""${f.name}"""").mkString("SELECT ", ", ", s""" FROM "$table"""")

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
  * transactional row inserts, reads return the stored rows —
  * behaviorally what a JDBC backend returns from SELECT. Kept alongside
  * [[JdbcControlBackend]] as the dependency-free contract reference.
  */
final class InMemoryControlBackend extends ControlBackend {

  private val tables = TrieMap.empty[String, Vector[Row]]

  override def append(table: String, rows: Seq[Row]): Unit = synchronized {
    tables.update(table, tables.getOrElse(table, Vector.empty) ++ rows)
  }

  override def rows(table: String): Seq[Row] = tables.getOrElse(table, Vector.empty)
}
