package graft

import java.net.URI
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{ControlBackend, InMemoryControlBackend, JdbcControlBackend, ParquetControlBackend, Provenance}
import graft.service.LineageService

class LineageServiceSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = Fixtures.httpGet(port, path)

  test("all five reference endpoints serve provenance state as JSON") {
    val p = new Provenance(spark, new InMemoryControlBackend)
    p.createBatch("b1", "hospital_a", "/raw/f1.csv", "sha1")
    p.setRowCount("b1", "VALIDATED", 10L)
    p.recordStep("b1", "INGEST", Map("k" -> "v"))
    p.recordStep("b1", "VALIDATION_PASSED", Map("rows" -> "10"))
    p.recordRule("b1", "PHI_SSN", "applied")
    p.createBatch("b2", "hospital_a", "/raw/f2.csv", "sha2")
    p.createBatch("b3", "clinic_b", "/raw/f3.jsonl", "sha3")

    val svc = new LineageService(p)
    val port = svc.start()
    try {
      // 1. batch by id (api/app.py:63-89)
      val (c1, batch) = get(port, "/provenance/batch/b1")
      assert(c1 == 200 && batch.contains("\"batch_id\":\"b1\"")
        && batch.contains("\"status\":\"VALIDATED\"") && batch.contains("\"raw_sha256\":\"sha1\""))
      // 404 on unknown id (api/app.py:75-76)
      val (c404, _) = get(port, "/provenance/batch/nope")
      assert(c404 == 404)
      // 2. steps timeline asc (api/app.py:92-103)
      val (c2, steps) = get(port, "/provenance/steps/b1")
      assert(c2 == 200
        && steps.indexOf("INGEST") < steps.indexOf("VALIDATION_PASSED"))
      // 3. rules applied (api/app.py:106-120)
      val (c3, rules) = get(port, "/provenance/rules/b1")
      assert(c3 == 200 && rules.contains("PHI_SSN"))
      // 4. latest batches for a source with limit (api/app.py:123-135)
      val (c4, bySource) = get(port, "/provenance/source/hospital_a?limit=1")
      assert(c4 == 200 && bySource.contains("b2") && !bySource.contains("b3"))
      assert(bySource.split("batch_id").length == 2, "limit=1 must return one row")
      // 5. search with optional filters (api/app.py:138-152)
      val (c5, found) = get(port, "/provenance/search?status=INGESTED&source=clinic_b")
      assert(c5 == 200 && found.contains("b3") && !found.contains("b1"))
      val (c5b, all) = get(port, "/provenance/search")
      assert(c5b == 200 && Seq("b1", "b2", "b3").forall(all.contains))
      // search honors ?limit= (newest first), default cap 20
      val (c5c, capped) = get(port, "/provenance/search?limit=1")
      assert(c5c == 200 && capped.split("batch_id").length == 2,
        s"limit=1 must return one row: $capped")
      assert(capped.contains("b3"), s"newest batch wins the cap: $capped")
    } finally svc.stop()
  }

  test("full pipeline on a Derby JDBC control plane, served over HTTP " +
      "(the complete reference architecture end-to-end)") {
    // reference shape: ETL writes provenance to an RDBMS (Postgres,
    // etl/db.py) and FastAPI serves lineage from it (api/app.py) — here:
    // Pipeline → JdbcControlBackend(Derby) → LineageService
    val base = Fixtures.sourceTree(Fixtures.tmpDir("srcjdbc"))
    val lake = Fixtures.tmpDir("lakejdbc").toString
    val be = new JdbcControlBackend(
      s"jdbc:derby:${Fixtures.tmpDir("derbye2e")}/db;create=true")
    val p = new Pipeline(spark, lake, controlBackend = Some(be))
    p.ingest(base.toString)
    p.validatePending()
    p.scrubPending()
    val transformed = p.transformPending()
    assert(transformed.size == 3)

    val svc = new LineageService(p.provenance)
    val port = svc.start()
    try {
      // search by status hits the Derby-backed state machine
      val (cs, completed) = get(port, "/provenance/search?status=COMPLETED")
      assert(cs == 200)
      transformed.foreach { case (batchId, _) =>
        assert(completed.contains(batchId), s"$batchId missing from $completed")
      }
      // a single batch round-trips with its full hash chain
      val b1 = transformed.head._1
      val (cb, batch) = get(port, s"/provenance/batch/$b1")
      assert(cb == 200 && batch.contains("\"status\":\"COMPLETED\"")
        && batch.contains("raw_sha256") && batch.contains("final_sha256"))
      // the step timeline of that batch covers all four stages
      val (ct, steps) = get(port, s"/provenance/steps/$b1")
      assert(ct == 200)
      Seq("INGEST", "VALIDATION_PASSED", "SCRUB_PHI", "TRANSFORM").foreach(st =>
        assert(steps.contains(st), s"missing step $st in $steps"))
      // rules applied during the scrub are queryable
      val (cr, rules) = get(port, s"/provenance/rules/$b1")
      assert(cr == 200 && rules.contains("PHI_"))
    } finally svc.stop()
  }

  test("a negative limit or a malformed query escape is a 400; an escaped percent sign is a value") {
    val p = new Provenance(spark, new InMemoryControlBackend)
    p.createBatch("b1", "hospital_a", "/raw/f1.csv", "sha1")
    p.createBatch("b2", "100%zz", "/raw/f2.csv", "sha2")
    val svc = new LineageService(p)
    val port = svc.start()
    try {
      for (path <- Seq("/provenance/source/hospital_a?limit=-1", "/provenance/search?limit=-3")) {
        val (code, body) = get(port, path)
        assert(code == 400, s"$path: $code $body")
        assert(body.startsWith("""{"detail":"limit must be non-negative""") && body.endsWith("}"), s"$path: $body")
      }
      // a malformed escape never reaches the routes: the HTTP server
      // refuses the request line
      assert(get(port, "/provenance/search?status=%zz")._1 == 400)
      // the query is decoded once: %25 is a literal percent sign, not
      // the start of a second, malformed escape
      val (code, body) = get(port, "/provenance/search?source=100%25zz")
      assert(code == 200 && body.contains("\"batch_id\":\"b2\"") && !body.contains("b1"), s"$code $body")
    } finally svc.stop()
  }

  test("every route returns the bytes Dataset.toJSON gives for the same rows, on every backend") {
    // control characters, quotes, backslashes and non-ASCII text in
    // every kind of field the routes serve
    val odd = "q\"uote \\back\ttab\nline\bbs\fff é 中文 \uD83D\uDE00"
    val backends: Seq[(String, () => ControlBackend)] = Seq(
      "parquet" -> (() => new ParquetControlBackend(Fixtures.tmpDir("provjson").toString)),
      "in-memory" -> (() => new InMemoryControlBackend),
      "jdbc (embedded derby)" -> (() => new JdbcControlBackend(
        s"jdbc:derby:${Fixtures.tmpDir("derbyjson")}/db;create=true")))
    for ((label, mk) <- backends) {
      val be = mk()
      val p = new Provenance(spark, be)
      p.batched {
        p.createBatch("b1", odd, s"/raw/$odd.csv", "sha1")
        p.setRowCount("b1", "VALIDATED", 42L)
        p.updateCuratedHash("b1", s"cur-$odd", s"/curated/$odd")
        p.createBatch("b2", odd, "/raw/f2.csv", "sha2")
        p.updateStatus("b2", "FAILED_VALIDATION", s"bad row: $odd")
        p.createBatch("b3", "clinic_b", s"/raw/$odd.jsonl", "sha3")
        p.recordStep("b1", "INGEST", Map("raw_path" -> odd))
        p.recordStep("b1", odd, Map("rows" -> "42"))
        p.recordRule("b1", s"PHI_$odd", "applied")
        p.recordRule("b1", "PHI_SSN", odd)
      }
      p.updateFinalHash("b1", "sha-fin", s"/qlm/$odd")

      // the reference: the Spark plans and Dataset.toJSON each route ran
      // on, over the backend's own rows
      def table(t: String) = spark.createDataFrame(be.rows(t).asJava, Provenance.tableSchemas(t))
      val ev = table("provenance_batch_events")
      def last(c: String) = max_by(col(c), when(col(c).isNotNull, col("event_time"))).as(c)
      val batches = ev.groupBy(col("batch_id")).agg(last("source_name"), last("raw_file_path"),
        last("raw_sha256"), last("status"), min(col("event_time")).as("ingest_time"),
        last("error_details"), max(col("total_rows")).as("total_rows"), last("curated_sha256"),
        last("curated_path"), last("final_sha256"), last("version_path"))
      def arr(df: DataFrame) = df.toJSON.collect().mkString("[", ",", "]")
      val newest = col("ingest_time").desc
      val expected = Seq(
        "/provenance/batch/b1" -> batches.filter(col("batch_id") === "b1").toJSON.collect().head,
        "/provenance/steps/b1" -> arr(table("provenance_steps").filter(col("batch_id") === "b1")
          .orderBy("step_time")),
        "/provenance/rules/b1" -> arr(table("provenance_rules_applied").filter(col("batch_id") === "b1")
          .orderBy("created_at")),
        s"/provenance/source/$odd?limit=1" -> arr(batches.filter(col("source_name") === odd)
          .orderBy(newest).limit(1)),
        s"/provenance/source/$odd?limit=5" -> arr(batches.filter(col("source_name") === odd)
          .orderBy(newest).limit(5)),
        s"/provenance/search?source=$odd" -> arr(batches.filter(col("source_name") === odd)
          .orderBy(newest).limit(20)),
        "/provenance/search?status=INGESTED&limit=5" -> arr(batches.filter(col("status") === "INGESTED")
          .orderBy(newest).limit(5)))

      val svc = new LineageService(p)
      val port = svc.start()
      try expected.foreach { case (route, want) =>
        val (path, query) = route.split("\\?", 2) match {
          case Array(pa, q) => (pa, q)
          case Array(pa) => (pa, null)
        }
        val (code, body) = get(port, new URI("http", null, "127.0.0.1", port, path, query, null)
          .toASCIIString.stripPrefix(s"http://127.0.0.1:$port"))
        assert(code == 200, s"[$label] $route: $body")
        assert(body == want, s"[$label] $route")
        assert(!body.contains("null") && body.contains("\\b") && body.contains("\\f"),
          s"[$label] $route: null fields are omitted, \\b and \\f take short escapes: $body")
      } finally svc.stop()
      assert(expected.count(_._2.contains("\"total_rows\":42")) == 3, s"[$label] total_rows is a number")
    }
  }
}
