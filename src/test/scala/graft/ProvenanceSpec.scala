package graft

import org.apache.spark.sql.functions._

import graft.operators.{ControlBackend, InMemoryControlBackend, JdbcControlBackend, ParquetControlBackend, Provenance}

class ProvenanceSpec extends SparkSpec {

  /** Contract tests run against every backend: the parquet event log,
    * the in-memory stand-in, and a REAL JDBC database (embedded Derby,
    * the reference's Postgres architecture) must be indistinguishable
    * through the Provenance API.
    */
  private def backends: Seq[(String, () => ControlBackend)] = Seq(
    "parquet" -> (() => new ParquetControlBackend(Fixtures.tmpDir("prov").toString)),
    "in-memory" -> (() => new InMemoryControlBackend),
    "jdbc (embedded derby)" -> (() => new JdbcControlBackend(
      s"jdbc:derby:${Fixtures.tmpDir("derby")}/db;create=true")))

  for ((label, mkBackend) <- backends) {

    test(s"[$label] state machine: last event wins, earlier fields survive") {
      val p = new Provenance(spark, mkBackend())
      p.createBatch("b1", "hospital_a", "/raw/f.csv", "sha-raw")
      p.setRowCount("b1", "VALIDATED", 42L)
      p.updateCuratedHash("b1", "sha-cur", "/curated/f.csv")
      p.updateFinalHash("b1", "sha-fin", "/qlm/v1")
      val r = p.batches.collect()(0)
      assert(r.getAs[String]("status") == "COMPLETED")
      assert(r.getAs[String]("source_name") == "hospital_a") // from first event
      assert(r.getAs[String]("raw_sha256") == "sha-raw")
      assert(r.getAs[Long]("total_rows") == 42L)
      assert(r.getAs[String]("curated_sha256") == "sha-cur")
      assert(r.getAs[String]("curated_path") == "/curated/f.csv")
      assert(r.getAs[String]("final_sha256") == "sha-fin")
      assert(r.getAs[String]("version_path") == "/qlm/v1")
    }

    test(s"[$label] duplicate createBatch collapses (ON CONFLICT DO NOTHING analog)") {
      val p = new Provenance(spark, mkBackend())
      p.createBatch("b1", "s", "/f", "h1")
      p.createBatch("b1", "s", "/f", "h1")
      assert(p.batches.count() == 1)
    }

    test(s"[$label] pending queue filters by status in FIFO order") {
      val p = new Provenance(spark, mkBackend())
      p.createBatch("b1", "s", "/f1", "h")
      p.createBatch("b2", "s", "/f2", "h")
      p.updateStatus("b1", "VALIDATED")
      val pending = p.pending("INGESTED").map(_.getAs[String]("batch_id"))
      assert(pending == Seq("b2"))
    }

    test(s"[$label] steps / rules / audit append and order") {
      val p = new Provenance(spark, mkBackend())
      p.recordStep("b1", "INGEST", Map("k" -> "v"))
      p.recordStep("b1", "VALIDATION_PASSED", Map("rows" -> "7"))
      p.recordRule("b1", "PHI_SSN", "applied")
      p.writeAudit("tester", "RUN", "ok")
      val steps = p.batchTimeline("b1").map(_.getAs[String]("step_name"))
      assert(steps == Seq("INGEST", "VALIDATION_PASSED"))
      assert(p.batchRules("b1").size == 1)
      assert(p.auditLog.count() == 1)
      val details = p.steps.filter(col("batch_id") === "b1" && col("step_name") === "VALIDATION_PASSED")
        .select(get_json_object(col("details_json"), "$.rows")).collect()(0).getString(0)
      assert(details == "7")
    }

    test(s"[$label] a batched scope appends each table once, with the per-event rows") {
      val be = new CountingControlBackend(mkBackend())
      val p = new Provenance(spark, be)
      p.batched {
        p.createBatch("b1", "s", "/f1", "h1")
        p.createBatch("b2", "s", "/f2", "h2")
        p.batched(p.setRowCount("b1", "VALIDATED", 7L)) // joins the outer scope
        p.recordStep("b1", "INGEST", Map("k" -> "v"))
        p.recordStep("b1", "VALIDATION_PASSED", Map("rows" -> "7"))
        p.recordRule("b1", "PHI_SSN", "applied")
        p.writeAudit("tester", "RUN", "ok")
        assert(be.drain().isEmpty, "nothing is written before the scope exits")
      }
      assert(be.drain() == Provenance.controlTables.map(_ -> 1).toMap)
      val state = p.batches.orderBy("batch_id")
        .select("batch_id", "status", "total_rows", "raw_sha256").collect().map(_.toSeq).toSeq
      assert(state == Seq(Seq("b1", "VALIDATED", 7L, "h1"), Seq("b2", "INGESTED", 0L, "h2")))
      assert(p.pending("INGESTED").map(_.getAs[String]("batch_id")) == Seq("b2"))
      assert(p.batchTimeline("b1").map(_.getAs[String]("step_name")) ==
        Seq("INGEST", "VALIDATION_PASSED"))
      assert(p.batchRules("b1").size == 1 && p.auditLog.count() == 1)
    }
  }

  test("a batched scope writes one parquet file per table; other threads append at once") {
    import java.nio.file.Paths
    val lake = Fixtures.tmpDir("prov").toString
    val be = new CountingControlBackend(new ParquetControlBackend(lake))
    val p = new Provenance(spark, be)
    def files = graft.util.Fs.list(Paths.get(s"$lake/_control/provenance_batch_events"))
      .count(_.toString.endsWith(".parquet"))
    p.batched {
      (1 to 5).foreach(i => p.createBatch(s"b$i", "s", s"/f$i", "h"))
      val other = new Thread(() => p.createBatch("other", "s", "/o", "h"))
      other.start()
      other.join()
      assert(be.drain() == Map("provenance_batch_events" -> 1))
      assert(p.batches.select("batch_id").collect().map(_.getString(0)).toSeq == Seq("other"))
    }
    assert(be.drain() == Map("provenance_batch_events" -> 1))
    assert(files == 2)
    assert(p.batches.count() == 6)
  }

  test("parquet control files are plain parquet in the control table schema; no temp file is left") {
    import java.nio.file.Paths
    val lake = Fixtures.tmpDir("prov").toString
    val p = new Provenance(spark, new ParquetControlBackend(lake))
    p.createBatch("b1", "s", "/f1", "h1")
    p.setRowCount("b1", "VALIDATED", 7L)
    val events = s"$lake/_control/provenance_batch_events"
    val df = spark.read.parquet(events)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Provenance.tableSchemas("provenance_batch_events").map(f => f.name -> f.dataType))
    val rows = df.orderBy("event_time").select("status", "total_rows", "source_name").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq(("INGESTED", 0L, Some("s")), ("VALIDATED", 7L, None)))
    assert(graft.util.Fs.list(Paths.get(events)).map(_.getFileName.toString)
      .forall(f => f.startsWith("part-") && f.endsWith(".parquet")))
  }

  test("parquet backend auto-compacts past the file threshold, data intact") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val lake = Fixtures.tmpDir("prov").toString
    val p = new Provenance(spark, new ParquetControlBackend(lake, autoCompactAt = 5))
    (1 to 12).foreach(i => p.createBatch(s"b$i", "s", s"/f$i", "h"))
    val dir = Paths.get(s"$lake/_control/provenance_batch_events")
    val nFiles = Files.list(dir).iterator().asScala.count(_.toString.endsWith(".parquet"))
    // 12 appends would leave 12 part files without compaction; the
    // threshold keeps the live count bounded by autoCompactAt + 1
    assert(nFiles <= 6, s"expected <= 6 part files after auto-compaction, got $nFiles")
    assert(p.batches.count() == 12)
    assert(Files.list(Paths.get(s"$lake/_control")).iterator().asScala
      .count(_.getFileName.toString.contains("_compact_tmp")) == 0)
  }

  test("a compact that crashed mid-swap is repaired before the next access") {
    import java.nio.file.{Files, Paths}
    val lake = Fixtures.tmpDir("prov").toString
    val be = new ParquetControlBackend(lake)
    val p = new Provenance(spark, be)
    (1 to 3).foreach(i => p.createBatch(s"b$i", "s", s"/f$i", "h"))
    // simulate the crash window: table dir moved to _old, new dir never
    // written (the state between compact's two Files.move calls)
    val dir = Paths.get(s"$lake/_control/provenance_batch_events")
    Files.move(dir, Paths.get(s"$lake/_control/provenance_batch_events_old"))
    // the next append must NOT create a fresh dir that hides history
    p.createBatch("b4", "s", "/f4", "h")
    assert(p.batches.count() == 4, "history must survive the crash window")
    assert(!Files.exists(Paths.get(s"$lake/_control/provenance_batch_events_old")))
  }

  test("long detail values round-trip on every backend (no truncation)") {
    val big = "x" * 40000 + "\ttab\nnewline"
    for ((label, mk) <- backends) {
      val p = new Provenance(spark, mk())
      p.recordStep("b1", "VALIDATION_FAILED", Map("errors" -> big))
      val json = p.batchTimeline("b1").head.getAs[String]("details_json")
      assert(json.contains("x" * 100), s"[$label] long value must persist")
      // RFC 8259: control characters must be escaped in the JSON blob
      assert(!json.exists(c => c == '\n' || c == '\t'), s"[$label] raw control char in JSON")
    }
  }

  test("jdbc backend rejects a data-plane-sized append with a clear error") {
    import org.apache.spark.sql.Row
    val be = new JdbcControlBackend(
      s"jdbc:derby:${Fixtures.tmpDir("derbycap")}/db;create=true")
    def steps(n: Int) = (1 to n).map(i => Row(s"b$i", "INGEST", s"t$i", "{}"))
    // at the cap: accepted
    be.append("provenance_steps", steps(JdbcControlBackend.MaxControlRows))
    assert(be.rows("provenance_steps").size == JdbcControlBackend.MaxControlRows)
    // one over: refused before any insert, with the contract in the message
    val e = intercept[IllegalArgumentException] {
      be.append("provenance_rules_applied", steps(JdbcControlBackend.MaxControlRows + 1))
    }
    assert(e.getMessage.contains("control-plane"))
    assert(be.rows("provenance_rules_applied").isEmpty,
      "refused append must not create/populate the table")
  }

  // CONTRACT: the reference's control plane is Postgres (etl/db.py);
  // the Derby-backed e2e above must therefore exercise only SQL a
  // Postgres swap would also accept. The backend pins that by
  // construction — every emitted statement comes from
  // createTableSql/insertSql/selectSql, and the dialect object is the only
  // permitted variation point — and this test enumerates the emitted
  // SQL to keep it that way.
  test("jdbc backend emits only the Derby/Postgres-portable SQL subset") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("batch_id", StringType), StructField("n_rows", LongType),
      StructField("retry", IntegerType), StructField("score", DoubleType),
      StructField("details_json", StringType)))
    val derby = JdbcControlBackend.createTableSql("batches", schema,
      JdbcControlBackend.Derby)
    val pg = JdbcControlBackend.createTableSql("batches", schema,
      JdbcControlBackend.Postgres)
    assert(derby == """CREATE TABLE "batches" ("batch_id" VARCHAR(32000), """ +
      """"n_rows" BIGINT, "retry" INTEGER, "score" DOUBLE PRECISION, """ +
      """"details_json" CLOB)""")
    // the Postgres form differs ONLY in the unbounded-text type name
    assert(pg == derby.replace("CLOB", "TEXT"), s"$pg vs $derby")
    // DOUBLE PRECISION is the one spelling both engines accept; bare
    // DOUBLE (Derby-ism) must never be emitted
    assert(!derby.matches(".*DOUBLE(?! PRECISION).*"))
    val ins = JdbcControlBackend.insertSql("batches", schema)
    assert(ins == """INSERT INTO "batches" ("batch_id", "n_rows", "retry", """ +
      """"score", "details_json") VALUES (?, ?, ?, ?, ?)""")
    // dialect-invariant DML: no vendor syntax can hide in the insert
    assert(!ins.contains("`") && !ins.toUpperCase.contains("SERIAL"))
    // the one query: a quoted column list, no vendor paging or hints
    val sel = JdbcControlBackend.selectSql("batches", schema)
    assert(sel == """SELECT "batch_id", "n_rows", "retry", "score", "details_json" FROM "batches"""")
    assert(!sel.contains("`") && !Seq("LIMIT", "TOP", "FETCH", "*")
      .exists(sel.toUpperCase.contains))
    // URL routing: the swap is config-only
    assert(JdbcControlBackend.dialectForUrl("jdbc:postgresql://h/db") ==
      JdbcControlBackend.Postgres)
    assert(JdbcControlBackend.dialectForUrl("jdbc:derby:/tmp/x;create=true") ==
      JdbcControlBackend.Derby)
  }

  // GOLDEN FILE (VERDICT r11 item 8): the property test above pins
  // characteristics of the emitted SQL; this one snapshots the COMPLETE
  // ordered statement stream of a full batch lifecycle, so any drift —
  // a new statement, a reordered emission, a type change — shows as a
  // readable diff against src/test/resources/jdbc_control_statements
  // .golden. Regenerate intentionally with GRAFT_UPDATE_GOLDEN=1
  // (sbt "testOnly graft.ProvenanceSpec -- -z golden") and review the
  // diff like any schema migration.
  test("jdbc backend full-lifecycle statement stream matches the golden file") {
    val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
    val p = new Provenance(spark, new JdbcControlBackend(
      s"jdbc:derby:${Fixtures.tmpDir("derbygold")}/db;create=true", stmts += _))
    // the reference pipeline's full happy path plus one failure probe:
    // create → validated count → curated → final, steps, a PHI rule,
    // an audit row, then the pending-queue read
    p.createBatch("b1", "hospital_a", "/raw/f.csv", "sha-raw")
    p.setRowCount("b1", "VALIDATED", 42L)
    p.updateCuratedHash("b1", "sha-cur", "/curated/f.csv")
    p.updateFinalHash("b1", "sha-fin", "/qlm/v1")
    p.recordStep("b1", "INGEST", Map("k" -> "v"))
    p.recordStep("b1", "VALIDATION_PASSED", Map("rows" -> "42"))
    p.recordRule("b1", "PHI_SSN", "applied")
    p.writeAudit("tester", "RUN", "ok")
    p.pending("INGESTED")
    val actual = stmts.mkString("\n")
    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/jdbc_control_statements.golden")
    if (sys.env.get("GRAFT_UPDATE_GOLDEN").contains("1")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, actual + "\n")
      info(s"golden file rewritten: $goldenPath (${stmts.length} statements)")
    } else {
      assert(java.nio.file.Files.exists(goldenPath),
        s"missing $goldenPath — run once with GRAFT_UPDATE_GOLDEN=1 to create it")
      val expected = java.nio.file.Files.readString(goldenPath).trim
      assert(actual == expected,
        "emitted JDBC statement stream drifted from the golden file — if " +
          "intentional, regenerate with GRAFT_UPDATE_GOLDEN=1 and review " +
          s"the diff\n--- actual ---\n$actual\n--- golden ---\n$expected")
    }
    // the postgres render of the same lifecycle differs from the golden
    // ONLY at the documented dialect seam (CLOB -> TEXT, pinned by the
    // property test above), so CLOB->TEXT over the golden IS the
    // Postgres statement stream; that mapping is well-defined only if
    // the derby stream never contains the token TEXT itself
    assert(!actual.contains("TEXT"),
      "derby stream must not contain TEXT or the CLOB->TEXT dialect map is ambiguous")
  }

  test("sha256File matches a known digest") {
    val f = Fixtures.write(Fixtures.tmpDir("sha").resolve("x.txt"), "abc")
    assert(Provenance.sha256File(f.toString) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }
}
