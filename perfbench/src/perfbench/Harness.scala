package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Pipeline
import graft.model.Canonical
import graft.operators.VersionedTable
import graft.service.LineageService

/** Drives the clinical pipeline, its versioned lake and its lineage
  * service through their public entry points, one round at a time.
  *
  * A round runs the phases whose inputs the workload has: the four
  * pipeline stages over a source tree into a fresh lake followed by
  * closed-loop lineage requests from one client against that lake's
  * control plane, and a stream of versioned-table commits with a read
  * after each. Every timed call is written to `ops.jsonl` with what the
  * check needs to verify it; the JVM itself judges nothing.
  *
  * Usage: perfbench.Harness --inputs DIR --out DIR --seconds S
  *   --trace 0|1 --spawn-ns NANOS
  */
object Harness {
  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def js(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val traced = opt("trace") == "1"
    val census = if (traced) Some(new Census) else None
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // 128 KB splits: a file of a few hundred KB is read as several
      // splits, as a multi-GB file would be, at a size one run affords
      .config("spark.sql.files.maxPartitionBytes", "128k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    census.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(traced)
    val h = new Harness(spark, Paths.get(opt("inputs")), out, spans, traced)

    // warm-up: one trivial job, so the session's scheduler is live; the
    // program's own first-use costs stay in the first round, as they do
    // in every batch run of the pipeline
    spark.range(1).count()
    val setupS = (epochUs() * 1000L - opt("spawn-ns").toLong) / 1e9
    val setupCpuS = cpuNs() / 1e9
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    var rounds = 0
    val t0 = System.nanoTime()
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < opt("seconds").toDouble) {
      spans.span("round") { h.round(rounds) }
      rounds += 1
    }
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    census.foreach { c =>
      spark.sparkContext.setJobDescription(Census.Sentinel)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!c.sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
      Files.writeString(out.resolve("trace.json"),
        s"""{"spans":${spans.json},"census":${c.json}}""")
    }
    Files.write(out.resolve("ops.jsonl"), h.log.asJava)
    Files.writeString(out.resolve("result.json"),
      s"""{"setup_s":$setupS,"setup_cpu_s":$setupCpuS,"rounds":$rounds,"peak_rss_mb":${peakRssMb()},""" +
        s""""gc_s":${(gcMs() - gc0) / 1000.0},"heap_peak_mb":$heapPeakMb}""")
    spark.stop()
  }

  /** CPU time of this process, all threads. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

final class Harness(spark: SparkSession, inputs: Path, out: Path, spans: Spans, traced: Boolean) {
  import Harness.js

  /** One JSON line per timed operation (kept in memory until the end). */
  val log = ArrayBuffer.empty[String]
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Runs `body` in a span; returns its result and its cost as JSON
    * fields: wall milliseconds, and the milliseconds of CPU the process
    * spent meanwhile (all threads, so JIT and GC work counts too).
    */
  private def timed[A](name: String)(body: => A): (A, String) = spans.span(name) {
    val (t0, c0) = (System.nanoTime(), Harness.cpuNs())
    val a = body
    (a, s""""ms":${(System.nanoTime() - t0) / 1e6},"cpu_ms":${(Harness.cpuNs() - c0) / 1e6}""")
  }

  private def tsv(name: String): Seq[Array[String]] =
    Files.readAllLines(inputs.resolve(name)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1))

  /** One round: the phases whose inputs the workload has. */
  def round(id: Int): Unit = {
    val dir = out.resolve(s"round_$id")
    def rec(kind: String, cost: String, extra: String): Unit =
      log += s"""{"round":$id,"kind":"$kind",$cost$extra}"""
    if (Files.isDirectory(inputs.resolve("tree"))) pipeline(dir, rec)
    if (Files.exists(inputs.resolve("lake_ops.tsv"))) lake(dir, rec)
  }

  private type Rec = (String, String, String) => Unit

  /** The four stages over the source tree into a fresh lake, then
    * closed-loop lineage requests from one client against it. */
  private def pipeline(dir: Path, rec: Rec): Unit = {
    val p = new Pipeline(spark, dir.resolve("lake").toString)
    val batches = spans.span("pipeline") {
      val (ids, cI) = timed("ingest")(p.ingest(inputs.resolve("tree").toString))
      rec("ingest", cI, s""","batches":${ids.map(js).mkString("[", ",", "]")}""")
      val (v, cV) = timed("validate")(p.validatePending())
      rec("validate", cV, s""","batches":${v.map(b => js(b._1)).mkString("[", ",", "]")}""")
      val (s, cS) = timed("scrub")(p.scrubPending())
      rec("scrub", cS, s""","batches":${s.map(js).mkString("[", ",", "]")}""")
      val (t, cT) = timed("transform")(p.transformPending())
      rec("transform", cT, s""","batches":${t.map(b => js(b._1)).mkString("[", ",", "]")}""")
      ids
    }
    val svc = new LineageService(p.provenance)
    val port = svc.start()
    try spans.span("lineage") {
      tsv("lineage.tsv").foreach { r =>
        val path = r(0) match {
          case "source" => s"/provenance/source/${r(1)}?limit=${r(2)}"
          case "search" => s"/provenance/search?status=${r(1)}&source=${r(2)}&limit=${r(3)}"
          case ep => s"/provenance/$ep/${batches(r(1).toInt)}"
        }
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
        val (resp, c) = timed("lineage." + r(0))(http.send(req, HttpResponse.BodyHandlers.ofString()))
        rec("lineage", c, s""","endpoint":"${r(0)}","path":${js(path)},""" +
          s""""code":${resp.statusCode},"body":${js(resp.body)}""")
      }
    } finally svc.stop()
  }

  /** The lake stream: commits with a read after each, on a fresh table
    * keyed on patient_id with precombine visit_date (register_hudi.py). */
  private def lake(dir: Path, rec: Rec): Unit = spans.span("lake") {
    val vt = new VersionedTable(spark, dir.resolve("table").toString, "patient_id", "visit_date")
    val commits = ArrayBuffer.empty[String]
    val ops = tsv("lake_ops.tsv")
    var i = 0
    while (i < ops.length) {
      val op = ops(i)
      op(0) match {
        case "upsert" | "delete" =>
          val n = op(1).toInt
          val rows = ops.slice(i + 1, i + 1 + n)
          val (c, cost) =
            if (op(0) == "upsert")
              timed("vt.upsert")(vt.upsert(frame(rows.map(r => Row(r.toSeq: _*)), Canonical.schema)))
            else
              timed("vt.delete")(vt.delete(frame(rows.map(r => Row(r(0))),
                StructType(Seq(StructField("patient_id", StringType))))))
          rec(op(0), cost, s""","ordinal":${commits.length},"commit":${js(c)}""")
          commits += c
          i += n
        case kind =>
          val past = commits(op(1).toInt)
          val latest = commits.last
          val ((rows, schema, files), cost) = timed("vt." + kind) {
            val df = kind match {
              case "snapshot" => vt.snapshot
              case "asof" => vt.asOf(past)
              case "diff" => vt.diff(past, latest)
              case "incremental" => vt.incremental(past)
            }
            (df.collect(), df.schema, if (traced) df.inputFiles.length else -1)
          }
          rec(kind, cost, s""","past":${js(past)},"latest":${js(latest)},"rows":${rows.length},""" +
            s""""digest":${js(digest(rows, schema))},"files":$files""")
      }
      i += 1
    }
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Order-free digest of a read result: each row as its values in
    * column-name order, tab-joined (\N for null), lines sorted, SHA-256
    * over the newline-joined lines. check.py builds the same digest
    * from its model.
    */
  private def digest(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString("\t")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }
}
