package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.ControlBackend

/** Counts the appends per control table that reach `inner`. */
final class CountingControlBackend(inner: ControlBackend) extends ControlBackend {
  private val counts = scala.collection.mutable.Map.empty[String, Int]
  override def append(table: String, rows: Seq[Row]): Unit = {
    synchronized(counts(table) = counts.getOrElse(table, 0) + 1)
    inner.append(table, rows)
  }
  override def rows(table: String): Seq[Row] = inner.rows(table)
  override def compact(table: String): Unit = inner.compact(table)
  /** Appends per table since the last call. */
  def drain(): Map[String, Int] = synchronized { val m = counts.toMap; counts.clear(); m }
}

/** Clinical test fixtures matching FIXTURES.md (shapes of the
  * reference's synthetic generator, independently implemented).
  */
object Fixtures {

  /** GET `path` from a local server: (status, body). */
  def httpGet(port: Int, path: String): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** `body`'s result and, for each Spark job launched while it ran, the
    * SQL execution the job belongs to (None for a job outside any, such
    * as a parquet schema-inference job), seen on the listener bus
    * between two marker jobs.
    */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Seq[Option[String]]) = {
    val (a, jobs) = jobShufflesDuring(spark)(body)
    (a, jobs.map(_._1))
  }

  /** [[jobsDuring]], with the shuffle map stages each job's stages read
    * (their parent stages): empty for a job that reads no shuffle. A
    * shuffle that AQE runs as a job of its own shows in the job that
    * reads it.
    */
  def jobShufflesDuring[A](spark: SparkSession)(body: => A): (A, Seq[(Option[String], Set[Int])]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String], Set[Int])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.job.description").getOrElse(""), prop("spark.sql.execution.id"),
          e.stageInfos.flatMap(_.parentIds).toSet))
      }
    }
    val sc = spark.sparkContext
    def mark(m: String): Unit = {
      sc.setJobDescription(m)
      try spark.range(1).count() finally sc.setJobDescription(null)
    }
    def seen(m: String) = jobs.asScala.exists(_._1 == m)
    sc.addSparkListener(listener)
    try {
      mark("jobs-during:start")
      val a = body
      mark("jobs-during:end")
      val deadline = System.nanoTime() + 30000000000L
      while (!seen("jobs-during:end") && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen("jobs-during:end"), "end marker never reached the listener")
      val during = jobs.asScala.toSeq.dropWhile(_._1 != "jobs-during:start")
        .dropWhile(_._1 == "jobs-during:start").takeWhile(_._1 != "jobs-during:end")
      (a, during.map(j => j._2 -> j._3))
    } finally sc.removeSparkListener(listener)
  }

  def write(path: Path, content: String): Path = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, content)
    path
  }

  /** hospital_a CSV: header patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes */
  val csvGood: String =
    """patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes
      |P10000,John Doe,123-45-6789,1971-04-12,2025-02-01,Hypertension,Patient John Doe attended for Flu. Contact: 555-123-4567
      |P10001,Jane Roe,987-65-4321,1985-06-03,2025-02-02,Flu,Email: jane.roe@example.com lives at 12 Main Street
      |P10002,Alice Poe,111-22-3333,1990-01-15,2025-02-03,Migraine,SSN 123456789 visited on 20250215
      |""".stripMargin

  /** Bad CSV: missing the `ssn` column entirely + empty non-nullable patient_name. */
  val csvBad: String =
    """patient_id,patient_name,dob,visit_date,diagnosis,notes
      |P20000,,1971-04-12,2025-02-01,Hypertension,note one
      |P20001,Named Person,not-a-date,2025-02-02,Flu,note two
      |""".stripMargin

  /** clinic_b JSONL incl. one invalid JSON line. */
  val jsonlGood: String =
    """{"id":"C20000","name":"Maria Williams","date_of_birth":"1985-06-03","encounter":"2025-02-01","icd":"J10","free_text":"Complained of cough. Email: maria.williams@example.com"}
      |{"id":"C20001","name":"Pat Smith","date_of_birth":"1990-12-12","encounter":"2025-02-02","icd":"E11","free_text":"Phone 555-987-6543 and ssn 321-54-9876"}
      |""".stripMargin

  val jsonlWithInvalid: String = jsonlGood + "this is { not json\n"

  /** hospital_c_hl7: 2 messages separated by a blank line; name quoted
    * at PID-5, ssn at PID-16 of the split (FIXTURES.md §3).
    */
  val hl7Good: String =
    """MSH|^~\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201120000||ORU^R01|MSG1|P|2.3
      |PID|1||H30000||"Gary Host"||19710412|M|||44 Elm Street|||||234-56-7890
      |OBR|1||ORD1|TEST^TESTNAME
      |OBX|1|ST|RESULT||42|units||N
      |
      |MSH|^~\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201130000||ORU^R01|MSG2|P|2.3
      |PID|1||H30001||"Lee Host"||19850603|F|||9 Oak Avenue|||||
      |OBR|1||ORD2|TEST^TESTNAME
      |OBX|1|ST|RESULT||77|units||N
      |OBX|2|ST|RESULT||78|units||N
      |""".stripMargin

  /** HL7 with a message missing its PID segment. */
  val hl7MissingPid: String =
    """MSH|^~\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201140000||ORU^R01|MSG3|P|2.3
      |OBR|1||ORD3|TEST^TESTNAME
      |OBX|1|ST|RESULT||13|units||N
      |""".stripMargin

  /** Lay out a full source tree for Pipeline.ingest. The invalid-JSON
    * file fails validation (reference validates every JSONL row,
    * etl/validate.py:140-146) and lands in quarantine.
    */
  def sourceTree(base: Path): Path = {
    write(base.resolve("hospital_a/2025-02-01_clinical.csv"), csvGood)
    write(base.resolve("hospital_a/2025-02-02_clinical.csv"), csvBad)
    write(base.resolve("clinic_b/clinical_2025-02-01.jsonl"), jsonlGood)
    write(base.resolve("clinic_b/clinical_2025-02-02.jsonl"), jsonlWithInvalid)
    write(base.resolve("hospital_c_hl7/msgs_001.hl7"), hl7Good)
    write(base.resolve("hospital_c_hl7/msgs_002.hl7"), hl7MissingPid)
    base
  }
}
