package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2025-01-01 10:$min%02d:00")

  test("windowed counts run under a real streaming query (memory sink)") {
    val dir = Fixtures.tmpDir("stream")
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(5), 10L, "click", 2.0),
      (3L, ts(10), 11L, "view", 3.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").parquet(dir.toString)

    val stream = EventStream.readEventStream(spark, dir.toString)
    val agg = EventStream.windowedCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from win_out").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
    assert(rows == Set(("click", 2L), ("view", 1L)))
  }

  test("decontamination runs unchanged on a streaming corpus (stream-batch unification)") {
    // the operator is explode → broadcast-join → groupBy: Structured
    // Streaming supports exactly this shape (static broadcast side,
    // streaming aggregate in complete mode), so the SAME operator code
    // serves batch curation and an ingest-time contamination screen
    val dir = Fixtures.tmpDir("contam_stream")
    val docs = Seq(
      (1L, "quiz answer the capital of france is paris so there"),
      (2L, "unrelated content about something else entirely here")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir.toString)
    val bench = Seq((100L, "the capital of france is paris obviously")).toDF("id", "text")
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val flagged = graft.operators.Decontaminate.sharedNgrams(
      stream, "doc_id", "text", bench, "text", n = 3)
    assert(flagged.isStreaming, "the plan must stay a streaming plan")
    val q = flagged.writeStream.outputMode("complete")
      .format("memory").queryName("contam_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from contam_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(rows == Map(1L -> 4L), s"streaming result must match batch: $rows")
  }

  test("streaming quality monitor: windowed per-source gate rates equal the batch twin") {
    val dir = Fixtures.tmpDir("qmon_stream")
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val docs = Seq(
      (ts(5), "web", "the quick brown fox jumps over the lazy dog again and again today"),
      (ts(10), "web", "zz qq xx"),                                    // fails quality
      (ts(15), "web", "der hund ist ein tier und das ist gut " * 3),  // fails language
      (ts(20), "wiki", "it is a fine day and the sun is up for all of us here now"))
      .toDF("ts", "source", "text")
    docs.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val mon = graft.streaming.StreamingQuality.qualityMonitor(stream)
    assert(mon.isStreaming, "the plan must stay a streaming plan")
    val q = mon.writeStream.outputMode("complete")
      .format("memory").queryName("qmon_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("select * from qmon_out").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality_pass"),
          r.getAs[Long]("n_lang_pass"), r.getAs[Long]("n_pass")))).toMap
    val batch = graft.streaming.StreamingQuality.qualityMonitor(docs).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality_pass"),
          r.getAs[Long]("n_lang_pass"), r.getAs[Long]("n_pass")))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val web = streamed.collectFirst { case ((_, "web"), v) => v }.get
    assert(web == ((3L, 2L, 1L, 1L)), s"web gate counts: $web")
  }

  test("stateless contamination gate runs append-mode on a stream (no state, no watermark)") {
    // flagByGramSet is a pure map-side expression (gram set as a
    // sorted literal) — the ingest-time quarantine router: unlike the
    // aggregate form above it needs NO output-mode complete, so it
    // composes with any downstream append sink
    val dir = Fixtures.tmpDir("gate_stream")
    val docs = Seq(
      (1L, "quiz answer the capital of france is paris so there"),
      (2L, "unrelated content about something else entirely here")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir.toString)
    val grams = Seq("capital of france", "of france is", "france is paris")
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val gated = graft.operators.Decontaminate.flagByGramSet(
      stream, "doc_id", "text", grams, n = 3)
    assert(gated.isStreaming, "the plan must stay a streaming plan")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("gate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from gate_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("flagged")).toMap
    assert(rows == Map(1L -> 1L, 2L -> 0L), s"append-mode gate: $rows")
  }

  test("epoch mixture runs append-mode on a stream (map-side repeat factors)") {
    // epochMixture is select/filter/explode only — the SAME operator
    // call upsamples an ingest stream with no state and no watermark,
    // and the hash-gated fractional copies stay deterministic per key
    val dir = Fixtures.tmpDir("epoch_stream")
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("doc_id", "src")
    docs.write.mode("overwrite").parquet(dir.toString)
    val weights = Map("a" -> 2000000L, "b" -> 1000000L) // c unmapped → drops
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val mixed = graft.operators.Sampling.epochMixture(
      stream, col("doc_id"), col("src"), weights)
    assert(mixed.isStreaming, "the plan must stay a streaming plan")
    val q = mixed.writeStream.outputMode("append")
      .format("memory").queryName("epoch_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from epoch_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_no")))
    val batch = graft.operators.Sampling.epochMixture(
        docs, col("doc_id"), col("src"), weights)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_no")))
    assert(rows.sorted.toSeq == batch.sorted.toSeq,
      s"stream ≡ batch: ${rows.toSeq} vs ${batch.toSeq}")
    assert(rows.count(_._1 == 1L) == 2 && !rows.exists(_._1 == 4L),
      s"two copies of 'a' docs, unmapped stratum drops: ${rows.toSeq}")
  }

  test("stream-static broadcast enrichment joins every micro-batch against the dim") {
    // the standard ingest-time enrichment shape: per micro-batch, the
    // stream side broadcast-joins a static dimension — no state, no
    // watermark, append mode; the dim is re-readable between batches
    val dir = Fixtures.tmpDir("enrich_stream")
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(5), 11L, "view", 2.0),
      (3L, ts(9), 99L, "click", 3.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").parquet(dir.toString)
    val users = Seq((10L, "free"), (11L, "pro")).toDF("user_id", "tier")
    val stream = spark.readStream.schema(events.schema).parquet(dir.toString)
    val enriched = stream.join(broadcast(users), Seq("user_id"), "left")
      .select("event_id", "tier")
    assert(enriched.isStreaming, "enrichment must stay a streaming plan")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from enrich_out").collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
    assert(rows == Map(1L -> Some("free"), 2L -> Some("pro"), 3L -> None),
      s"left enrichment keeps unmatched events: $rows")
  }

  test("heavy-hitter counting runs unchanged on a stream (complete mode)") {
    // the count side of Sketches.heavyHitters is groupBy+count — the
    // stream-batch unification point: the SAME aggregation serves the
    // batch report and a live token monitor (complete mode re-emits
    // the running totals per micro-batch)
    val dir = Fixtures.tmpDir("hh_stream")
    val docs = ((1 to 30).map(_ => "hot") ++ (1 to 5).map(_ => "warm"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    docs.toDF("id", "token").write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema("id LONG, token STRING").parquet(dir.toString)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    assert(stream.isStreaming)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hh_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from hh_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("hot" -> 30L, "warm" -> 5L), s"streaming counts: $rows")
  }

  test("windowed heavy hitters: streamed windows + rank tail equal the batch twin") {
    import java.sql.Timestamp
    val dir = Fixtures.tmpDir("whh_stream")
    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // two 1-hour windows: hour 10 dominated by "hot", hour 11 by "cold";
    // ties inside a window exercise the (cnt desc, token) order
    val rows =
      (1 to 5).map(i => (ts(i), "hot")) ++
      (1 to 2).map(i => (ts(10 + i), "warm")) ++
      (1 to 2).map(i => (ts(20 + i), "tepid")) ++
      (1 to 4).map(i => (Timestamp.valueOf(f"2026-01-01 11:$i%02d:00"), "cold")) ++
      Seq((Timestamp.valueOf("2026-01-01 11:30:00"), "warm"))
    rows.toDF("ts", "token").write.mode("overwrite").parquet(dir.toString)

    val streamed = graft.streaming.StreamingHeavyHitters.windowedTokenCounts(
      spark.readStream.schema("ts TIMESTAMP, token STRING").parquet(dir.toString),
      col("token"), col("ts"))
    assert(streamed.isStreaming)
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("whh_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    def ranked(counts: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingHeavyHitters.topNPerWindow(counts, topN = 2)
        .collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("rank"),
          r.getAs[String]("token"), r.getAs[Long]("cnt"))).toSet

    val streamRanked = ranked(spark.sql("select * from whh_out"))
    // the batch twin: same operator, same rank tail, batch frame
    val batchRanked = ranked(graft.streaming.StreamingHeavyHitters
      .windowedTokenCounts(spark.read.parquet(dir.toString), col("token"), col("ts")))
    assert(streamRanked == batchRanked,
      s"stream and batch twins must agree: $streamRanked vs $batchRanked")
    // spot-pin hour 10: hot(5) then tepid/warm tie broken by token asc
    val h10 = streamRanked.filter(_._1 == Timestamp.valueOf("2026-01-01 10:00:00"))
      .toSeq.sortBy(_._2).map(t => (t._3, t._4))
    assert(h10 == Seq(("hot", 5L), ("tepid", 2L)), s"hour-10 top-2: $h10")
  }

  test("sessionize closes a session after the gap (batch mode)") {
    val events = Seq(
      Event(1L, ts(0), 10L, "click", 1.0),
      Event(2L, ts(5), 10L, "click", 2.0),
      Event(3L, ts(50), 10L, "click", 4.0), // > 30min gap → new session
      Event(4L, ts(1), 11L, "view", 8.0)).toDS()
    val sessions = EventStream.sessionize(events).collect().sortBy(s => (s.user_id, s.start_ms))
    assert(sessions.length == 3)
    val u10 = sessions.filter(_.user_id == 10L)
    assert(u10(0).n_events == 2 && u10(0).sum_value == 3.0)
    assert(u10(1).n_events == 1 && u10(1).sum_value == 4.0)
  }

  test("streaming dedup drops re-arrivals across micro-batches; state is watermark-bounded") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val srcDir = Fixtures.tmpDir("sdd_src")
    val outDir = Fixtures.tmpDir("sdd_out").toString
    val ckpt = Fixtures.tmpDir("sdd_ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))

    // the file stream source watches srcDir itself, so each arriving
    // batch must be a part FILE in that dir, not a nested write dir
    def addFile(n: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = Fixtures.tmpDir(s"sdd_tmp$n")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }

    // parquet sink (fault-tolerant, unlike memory) accumulates the
    // deduped stream across runs that share the checkpoint — reading
    // it back gives the all-time emitted set
    def runBatch(): Map[String, Long] = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val deduped = graft.streaming.StreamingDedup
        .dedupDocuments(stream, "text", "ts", "1 hour")
      val q = deduped.writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).collect()
        .groupBy(_.getAs[String]("text")).view.mapValues(_.length.toLong).toMap
    }

    // batch 1: A twice (in-batch dup) + B → A once, B once
    addFile(1, Seq((1L, ts(0), "doc A"), (2L, ts(1), "doc A"), (3L, ts(5), "doc B"))
      .toDF("doc_id", "ts", "text"))
    val out1 = runBatch()
    assert(out1 == Map("doc A" -> 1L, "doc B" -> 1L),
      s"in-batch duplicate must be dropped: $out1")

    // batch 2 (same checkpoint → dedup state carries over): A
    // re-arrives within the watermark delay → dropped; C is new → kept
    addFile(2, Seq((4L, ts(10), "doc A"), (5L, ts(20), "doc C"))
      .toDF("doc_id", "ts", "text"))
    val out2 = runBatch()
    assert(out2 == Map("doc A" -> 1L, "doc B" -> 1L, "doc C" -> 1L),
      s"cross-batch duplicate within watermark must be dropped: $out2")
    // the kept rows carry the content key downstream stages bucket on
    val keyed = spark.read.parquet(outDir)
    assert(keyed.columns.contains("content_md5"))
    assert(keyed.select("content_md5").distinct().count() == 3)
  }

  test("streaming chunk dedup drops re-seen CDC chunks in and across batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val srcDir = Fixtures.tmpDir("scd_src")
    val outDir = Fixtures.tmpDir("scd_out").toString
    val ckpt = Fixtures.tmpDir("scd_ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    def addFile(n: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = Fixtures.tmpDir(s"scd_tmp$n")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    def runBatch(): Long = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val chunks = graft.streaming.StreamingDedup
        .dedupChunks(stream, "doc_id", "text", "ts", "1 hour")
      val q = chunks.writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).count()
    }
    val a = (0 until 60).map(i => s"c$i").mkString(" ")
    // B: 10 fresh tokens, then A's tail — CDC re-syncs, tail chunks shared
    val b = ((100 until 110).map(i => s"n$i") ++ (20 until 60).map(i => s"c$i"))
      .mkString(" ")
    // batch-side ground truth from the SAME operator
    val bd = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val expectDistinct = graft.operators.Dedup.cdcChunks(bd, "doc_id", "text")
      .select("chunk_h").distinct().count()
    val totalChunks = graft.operators.Dedup.cdcChunks(bd, "doc_id", "text").count()
    assume(expectDistinct < totalChunks, "B must share a tail chunk with A")
    addFile(1, Seq((1L, ts(0), a), (2L, ts(1), b)).toDF("doc_id", "ts", "text"))
    assert(runBatch() == expectDistinct,
      "first batch emits each distinct chunk exactly once")
    // verbatim re-arrival within the watermark: every chunk already seen
    addFile(2, Seq((3L, ts(10), a)).toDF("doc_id", "ts", "text"))
    assert(runBatch() == expectDistinct, "re-seen chunks must all drop")
  }

  test("streaming ingest registers arriving files exactly once, e2e into validate") {
    import graft.streaming.StreamingIngest
    val lake = Fixtures.tmpDir("slake").toString
    val srcBase = Fixtures.tmpDir("ssrc")
    val ckpt = Fixtures.tmpDir("sckpt").toString
    Fixtures.write(srcBase.resolve("hospital_a/a.csv"), Fixtures.csvGood)
    val pipeline = new Pipeline(spark, lake)

    StreamingIngest.start(spark, pipeline, srcBase.toString, ckpt).awaitTermination(120000)
    assert(pipeline.provenance.batches.count() == 1)

    // new files arrive (one EMPTY — Spark file sources cannot surface
    // zero-byte files, so the stream sees only b.csv); the checkpointed
    // stream picks up only the new arrival
    Fixtures.write(srcBase.resolve("hospital_a/b.csv"), Fixtures.csvGood)
    Fixtures.write(srcBase.resolve("hospital_a/empty.csv"), "")
    StreamingIngest.start(spark, pipeline, srcBase.toString, ckpt).awaitTermination(120000)
    assert(pipeline.provenance.batches.count() == 2)

    // the documented compensating sweep registers ONLY the empty file
    // (idempotent: a.csv/b.csv are already in the control plane)
    assert(pipeline.ingest(srcBase.toString, skipIfSeen = true).size == 1)
    assert(pipeline.provenance.batches.count() == 3)

    // checkpoint loss replays everything — provenance guard keeps it at 3
    val freshCkpt = Fixtures.tmpDir("sckpt2").toString
    StreamingIngest.start(spark, pipeline, srcBase.toString, freshCkpt).awaitTermination(120000)
    assert(pipeline.provenance.batches.count() == 3)

    // the streamed batches flow into the normal batch stages; the empty
    // file has no header, so it is quarantined with every column
    // missing, like the batch path
    val validated = pipeline.validatePending()
    assert(validated.size == 3 && validated.map(_._2).sorted == Seq(false, true, true))
    assert(validated.filterNot(_._2).map(_._1).forall(_.startsWith("hospital_a_empty_csv_")))
    val statuses = pipeline.provenance.batches.select("status")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(statuses == Seq("FAILED_VALIDATION", "VALIDATED", "VALIDATED"))
  }

  test("batch windowed query q29 equals streaming result shape") {
    val batch = SparkEntry.queries("q29_windowed_events")(spark, "/root/testdata/sf0.001")
    assert(batch.columns.toSeq == Seq("window_start", "event_type", "n_events", "sum_value_c"))
    assert(batch.count() > 0)
  }

  test("stream-stream interval join: attribution pairs equal the batch twin") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import graft.streaming.StreamingAttribution

    // clicks: 11 at the exact 30-min window edge of purchase 21;
    // 12 far outside every window; sentinel user-99 clicks only
    // advance the watermark so outer-null state flushes
    val clicksData = Seq((1L, 11L, ts(0)), (1L, 12L, ts(55)))
    val purchData = Seq((1L, 21L, ts(30)), (2L, 22L, ts(5)))
    val clicksDf = clicksData.toDF("user_id", "click_id", "click_ts")
    val purchDf = purchData.toDF("user_id", "purchase_id", "purchase_ts")

    val expected = StreamingAttribution
      .attributeClicks(clicksDf, purchDf, windowSec = 1800L, delay = "1 minute")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong))).toSet
    // batch twin semantics: 21 attributed to click 11 (edge inclusive,
    // click 12 is AFTER the purchase); 22 unattributed
    assert(expected == Set((1L, 21L, Some(11L)), (2L, 22L, None)),
      s"batch twin: $expected")

    val cSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("click_id", LongType), StructField("click_ts", TimestampType)))
    val pSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("purchase_id", LongType), StructField("purchase_ts", TimestampType)))
    val cDir = Fixtures.tmpDir("att_c"); val pDir = Fixtures.tmpDir("att_p")
    val outDir = Fixtures.tmpDir("att_out").toString
    val ckpt = Fixtures.tmpDir("att_ckpt").toString
    def addFile(dir: java.nio.file.Path, n: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = Fixtures.tmpDir(s"att_tmp${dir.getFileName}$n")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"b$n.parquet"))
    }
    def runBatch(): Set[(Long, Long, Option[Long])] = {
      val cs = spark.readStream.schema(cSchema).parquet(cDir.toString)
      val ps = spark.readStream.schema(pSchema).parquet(pDir.toString)
      val joined = StreamingAttribution
        .attributeClicks(cs, ps, windowSec = 1800L, delay = "1 minute")
      val q = joined.writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong))).toSet
    }

    addFile(cDir, 1, clicksData.toDF("user_id", "click_id", "click_ts"))
    addFile(pDir, 1, purchData.toDF("user_id", "purchase_id", "purchase_ts"))
    runBatch()
    // watermark-advancing sentinels (unmatched user): outer-null rows
    // for closed windows must flush once event time moves past them
    addFile(cDir, 2, Seq((99L, 901L, ts(58))).toDF("user_id", "click_id", "click_ts"))
    runBatch()
    addFile(cDir, 3, Seq((99L, 902L, ts(59))).toDF("user_id", "click_id", "click_ts"))
    val streamed = runBatch()
    assert(streamed == expected,
      s"stream-stream join must equal the batch twin: $streamed vs $expected")

    // LATE-ARRIVAL DROP SEMANTICS: the watermark is now past ts(58);
    // a click at ts(4) that WOULD have attributed purchase 22 (window
    // [ts(5)−30min, ts(5)]) arrives after that window's state flushed.
    // Structured Streaming drops it at the stateful join: no late
    // (2, 22, Some) row appears and the already-emitted outer-null
    // (2, 22, None) row is not retracted.
    addFile(cDir, 4, Seq((2L, 903L, ts(4))).toDF("user_id", "click_id", "click_ts"))
    val afterLate = runBatch()
    assert(afterLate == expected,
      s"click after watermark closed its window must be dropped: $afterLate")
  }

  test("streaming anomaly: day-close verdicts across micro-batches equal the batch z-test") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingAnomaly
    import graft.streaming.StreamingAnomaly.{Ev, Verdict}
    val D = StreamingAnomaly.DayUs
    val srcDir = Fixtures.tmpDir("sa_src")
    val ckpt = Fixtures.tmpDir("sa_ckpt").toString
    val outDir = Fixtures.tmpDir("sa_out").toString

    def addFile(n: Int, rows: Seq[Ev]): Unit = {
      val tmp = Fixtures.tmpDir(s"sa_tmp$n")
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    def runBatch(): Seq[Verdict] = {
      val stream = spark.readStream.schema("event_type STRING, ts_us LONG")
        .parquet(srcDir.toString).as[Ev]
      val q = StreamingAnomaly.maintain(stream)
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).as[Verdict].collect().toSeq
    }

    def day(d: Long, k: Int): Seq[Ev] = (1 to k).map(i => Ev("a", d * D + i))
    // batch 1: days 1-8 at 10 events; day 9 OPEN with the spike begun
    addFile(1, (1L to 8L).flatMap(day(_, 10)) ++ day(9L, 30))
    val out1 = runBatch()
    assert(out1.map(_.day).toSet == (1L to 8L).toSet,
      s"day 9 is still open — 8 closed verdicts: ${out1.map(_.day).sorted}")
    assert(out1.forall(!_.is_anomaly), s"flat days never flag: $out1")
    // batch 2: the spike grows to 50, then one day-10 event closes it
    addFile(2, day(9L, 20) ++ Seq(Ev("a", 10L * D + 1)))
    val out2 = runBatch()
    val v9 = out2.find(_.day == 9L).get
    assert(v9.cnt == 50L && v9.is_anomaly,
      s"day 9 closes with the full cross-batch count and flags: $v9")

    // closed-day verdicts ≡ the oracle-checked batch operator run on
    // the same history (restricted to closed days)
    val allEvents = (1L to 8L).flatMap(day(_, 10)) ++ day(9L, 30) ++
      day(9L, 20) ++ Seq(Ev("a", 10L * D + 1))
    val batchTwin = graft.operators.EventAnalytics.dailyAnomalies(
        allEvents.toDS().toDF()
          .withColumn("ts", timestamp_micros(col("ts_us"))),
        "event_type", "ts")
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("day")) ->
        ((r.getAs[Long]("cnt"), r.getAs[Long]("n_prev"),
          r.getAs[Long]("dev_sq"), r.getAs[Long]("bound_sq"),
          r.getAs[Boolean]("is_anomaly")))).toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    out2.foreach { v =>
      val dayStr = fmt.format(new java.util.Date(v.day * 86400000L))
      assert(batchTwin(("a", dayStr)) ==
        ((v.cnt, v.n_prev, v.dev_sq, v.bound_sq, v.is_anomaly)),
        s"stream verdict for day ${v.day} must equal the batch row: $v vs ${batchTwin(("a", dayStr))}")
    }
    assert(out2.forall(_.late_drops == 0L),
      s"in-order source: no late drops recorded: $out2")

    // a late event for already-closed day 5 is dropped ("closed is
    // closed") but ACCOUNTED: the next emitted verdict (day 10 closes
    // when day 11 arrives) carries late_drops = 1
    addFile(3, Seq(Ev("a", 5L * D + 99L), Ev("a", 11L * D + 1L)))
    val out3 = runBatch()
    val v10 = out3.find(_.day == 10L).get
    assert(v10.late_drops == 1L && v10.cnt == 1L,
      s"dropped late event is visible on the day-10 verdict: $v10")
  }

  test("streaming user features: state carries sessions across micro-batches; final state equals the batch operator") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingFeatures
    import graft.streaming.StreamingFeatures.{FeatEvent, UserFeatures}
    val H = 3600000000L; val D = 24L * H
    val srcDir = Fixtures.tmpDir("suf_src")
    val ckpt = Fixtures.tmpDir("suf_ckpt").toString
    val outDir = Fixtures.tmpDir("suf_out").toString

    def addFile(n: Int, rows: Seq[FeatEvent]): Unit = {
      val tmp = Fixtures.tmpDir(s"suf_tmp$n")
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    // foreachBatch sink (update-mode stateful + recoverable from the
    // checkpoint, which memory sink is not): each micro-batch's rows
    // land in parquet stamped with the global batch id, and "current
    // features" = each user's highest-batch row
    def runBatch(): Map[Long, UserFeatures] = {
      val stream = spark.readStream
        .schema("user_id LONG, ts_us LONG, value DOUBLE, event_type STRING")
        .parquet(srcDir.toString).as[FeatEvent]
      val q = StreamingFeatures.maintain(stream)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[UserFeatures], batchId: Long) =>
          df.withColumn("_batch", lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val all = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("_batch"), UserFeatures(
          r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_purchases"), r.getAs[Long]("n_sessions"),
          r.getAs[Long]("active_days"), r.getAs[Long]("sum_value_c"),
          r.getAs[Long]("last_us"), r.getAs[Long]("n_out_of_order"))))
      all.groupBy(_._2.user_id).view
        .mapValues(rows => rows.maxBy(_._1)._2).toMap
    }

    val batch1 = Seq(
      FeatEvent(10L, 0L, 1.0, "purchase"), FeatEvent(10L, 600000000L, 1.0, "click"),
      FeatEvent(11L, 3 * D, 2.5, "click"))
    val batch2 = Seq(
      FeatEvent(10L, 2 * H, 1.0, "click"),          // > 30min after batch-1 last → session 2
      FeatEvent(10L, 2 * H + 300000000L, 1.0, "view"),
      FeatEvent(12L, 3 * D + H, 4.0, "purchase"))

    addFile(1, batch1)
    val out1 = runBatch()
    assert(out1(10L).n_sessions == 1L && out1(10L).n_events == 2L, s"$out1")
    addFile(2, batch2)
    val out2 = runBatch()
    assert(out2(10L).n_sessions == 2L && out2(10L).n_events == 4L,
      s"the cross-batch gap must open session 2 from STATE, not from a same-batch lag: ${out2(10L)}")
    assert(out2(11L) == out1(11L),
      "untouched user keeps the run-1 row (update mode re-emits only touched users)")

    // final streamed state ≡ the oracle-checked batch operator over
    // the full history, feature for feature
    val finalStreamed = out2.map { case (u, f) =>
      u -> ((f.n_events, f.n_purchases, f.n_sessions, f.active_days, f.sum_value_c, f.last_us))
    }
    val batchTwin = graft.operators.EventAnalytics.userFeatures(
        (batch1 ++ batch2).toDS().toDF(), "user_id", "ts_us", "value", "event_type")
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_purchases"),
          r.getAs[Long]("n_sessions"), r.getAs[Long]("active_days"),
          r.getAs[Long]("sum_value_c"), r.getAs[Long]("last_us")))).toMap
    assert(finalStreamed == batchTwin,
      s"stream state must equal the batch matrix: $finalStreamed vs $batchTwin")
    assert(out2.values.forall(_.n_out_of_order == 0L),
      s"in-order source: the disorder counter stays zero: $out2")

    // a cross-batch LATE event (ts below user 10's running max) can't
    // open a session stream-side — the in-order assumption is violated
    // and the violation must be VISIBLE: n_out_of_order increments
    addFile(3, Seq(FeatEvent(10L, H, 1.0, "click"))) // between batch-1 events
    val out3 = runBatch()
    assert(out3(10L).n_out_of_order == 1L && out3(10L).n_events == 5L,
      s"late event counted AND flagged: ${out3(10L)}")
    assert(out3(10L).n_sessions == 2L && out3(10L).last_us == out2(10L).last_us,
      s"late event neither opens a session nor moves the watermark: ${out3(10L)}")
  }

  test("streaming near-dup ingest gate: index equals the batch replay; replay admits nothing") {
    val srcDir = Fixtures.tmpDir("nd_stream_src")
    val ckpt = Fixtures.tmpDir("nd_stream_ckpt").toString
    val idxRoot = Fixtures.tmpDir("nd_stream_idx").toString
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def addFile(n: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    def drain(index: graft.operators.VersionedTable, batchBase: Long): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = graft.streaming.StreamingNearDup.ingestGate(
        stream, index, "doc_id", "text", ckpt, batchBase)
      q.awaitTermination(120000)
    }
    val index = new graft.operators.VersionedTable(spark, idxRoot, "doc_id",
      "batch_no", numBuckets = 4)
    addFile(1, Seq((10L, base), (11L, base))) // in-batch exact dup
    drain(index, 0L)
    val after1 = index.snapshot.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after1 == Set(10L), s"in-batch exact dup keeps min id: $after1")
    // batch 2: exact repeat + near dup + novel, through the SAME checkpoint
    addFile(2, Seq((20L, base), (21L, base + " extra"),
      (22L, "completely different words entirely unrelated content here now")))
    drain(index, 100L)
    val after2 = index.snapshot.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after2 == Set(10L, 22L),
      s"exact + near dups turned away at the stream gate: $after2")
    // restart-with-replay: a fresh checkpoint re-delivers EVERYTHING;
    // at-least-once delivery still lands exactly-once content
    val ckpt2 = Fixtures.tmpDir("nd_stream_ckpt2").toString
    val commits = index.commits.length
    val stream2 = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q2 = graft.streaming.StreamingNearDup.ingestGate(
      stream2, index, "doc_id", "text", ckpt2, 200L)
    q2.awaitTermination(120000)
    assert(index.snapshot.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(10L, 22L), "full re-delivery admits nothing new")
    assert(index.commits.length == commits, "empty admissions never commit")
    // STATE-IDENTITY (parity-table pin): the streamed index's content
    // equals a fresh BATCH replay of the same micro-batches through
    // IncrementalDedup.appendNovelNearDup, column for column
    // (batch_no aside — stream batch ids and replay numbers differ by
    // construction)
    val replay = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("nd_replay_idx").toString, "doc_id", "batch_no",
      numBuckets = 4)
    graft.operators.IncrementalDedup.appendNovelNearDup(replay,
      Seq((10L, base), (11L, base)).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    graft.operators.IncrementalDedup.appendNovelNearDup(replay,
      Seq((20L, base), (21L, base + " extra"),
        (22L, "completely different words entirely unrelated content here now"))
        .toDF("doc_id", "text"), "doc_id", "text", 1L)
    def stateRows(vt: graft.operators.VersionedTable) =
      vt.snapshot.select("doc_id", "h", "sig").collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.getAs[scala.collection.Seq[Long]]("sig")).map(_.toSeq))).toSet
    assert(stateRows(index) == stateRows(replay),
      "streamed admission state must equal the batch-operator replay")
  }

  test("streaming semantic ingest gate: vector index equals the batch replay; replay admits nothing") {
    val srcDir = Fixtures.tmpDir("sem_stream_src")
    val ckpt = Fixtures.tmpDir("sem_stream_ckpt").toString
    val idxRoot = Fixtures.tmpDir("sem_stream_idx").toString
    val schema = Seq((0L, Seq(0.0))).toDF("id", "emb").schema
    def addFile(rows: Seq[(Long, Seq[Double])]): Unit =
      rows.toDF("id", "emb").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    def drain(index: graft.operators.VersionedTable, batchBase: Long): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = graft.streaming.StreamingNearDup.semanticIngestGate(
        stream, index, "id", "emb", ckpt, batchBase, 950000L, signBits = 1)
      q.awaitTermination(120000)
    }
    val index = new graft.operators.VersionedTable(spark, idxRoot, "id",
      "batch_no", numBuckets = 4)
    addFile(Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0))))
    drain(index, 0L)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L), "empty history admits everything")
    // batch 2 through the SAME checkpoint: identical + near + novel
    addFile(Seq((20L, Seq(1.0, 0.0)), (21L, Seq(0.99, 0.1)),
      (22L, Seq(-1.0, 0.5))))
    drain(index, 100L)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L, 22L), "in-bucket near dups turned away at the stream gate")
    // restart-with-replay through a fresh checkpoint: at-least-once
    // delivery still lands exactly-once content
    val ckpt2 = Fixtures.tmpDir("sem_stream_ckpt2").toString
    val commits = index.commits.length
    val stream2 = spark.readStream.schema(schema).parquet(srcDir.toString)
    val q2 = graft.streaming.StreamingNearDup.semanticIngestGate(
      stream2, index, "id", "emb", ckpt2, 200L, 950000L, signBits = 1)
    q2.awaitTermination(120000)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L, 22L), "full re-delivery admits nothing new")
    assert(index.commits.length == commits, "empty admissions never commit")
    // STATE-IDENTITY (parity-table pin): streamed vector index ≡ batch
    // replay through IncrementalDedup.appendNovelSemantic
    val replay = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("sem_replay_idx").toString, "id", "batch_no",
      numBuckets = 4)
    graft.operators.IncrementalDedup.appendNovelSemantic(replay,
      Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0))).toDF("id", "emb"),
      "id", "emb", 0L, 950000L, signBits = 1)
    graft.operators.IncrementalDedup.appendNovelSemantic(replay,
      Seq((20L, Seq(1.0, 0.0)), (21L, Seq(0.99, 0.1)), (22L, Seq(-1.0, 0.5)))
        .toDF("id", "emb"), "id", "emb", 1L, 950000L, signBits = 1)
    def stateRows(vt: graft.operators.VersionedTable) =
      vt.snapshot.select("id", "emb", "bucket").collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Double]]("emb").toSeq,
          r.getLong(2))).toSet
    assert(stateRows(index) == stateRows(replay),
      "streamed vector-admission state must equal the batch-operator replay")
  }

  test("streaming semantic-PQ ingest gate: code index equals the batch " +
    "replay; re-delivery admits nothing (exact-reconstruction fixture)") {
    // the IngestGateContractSpec PQ alphabet: m=2/k=2 codebooks over
    // these reconstruct them exactly, so identical re-delivery scores
    // mean ADC 1e6; the closest distinct pair scores 0.5e6
    val vA = Seq(1.0, 0.0, 1.0, 0.0)
    val vB = Seq(0.0, 1.0, 0.0, 1.0)
    val vC = Seq(1.0, 0.0, 0.0, 1.0)
    val cbs = graft.operators.Similarity.trainPqCodebooks(
      Seq((1L, vA), (2L, vB), (3L, vC)).toDF("id", "emb"),
      m = 2, k = 2, iters = 2)
    val srcDir = Fixtures.tmpDir("pq_stream_src")
    val ckpt = Fixtures.tmpDir("pq_stream_ckpt").toString
    val schema = Seq((0L, Seq(0.0))).toDF("id", "emb").schema
    def addFile(rows: Seq[(Long, Seq[Double])]): Unit =
      rows.toDF("id", "emb").coalesce(1)
        .write.mode("append").parquet(srcDir.toString)
    def drain(index: graft.operators.VersionedTable, base: Long,
        ck: String): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      graft.streaming.StreamingNearDup.semanticPqIngestGate(
        stream, index, "id", "emb", cbs, ck, base,
        adcThreshold1e6 = 900000L, signBits = 2)
        .awaitTermination(120000)
    }
    val index = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("pq_stream_idx").toString, "id", "batch_no",
      numBuckets = 4)
    addFile(Seq((10L, vA), (11L, vB)))
    drain(index, 0L, ckpt)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L), "empty history admits everything")
    addFile(Seq((20L, vA), (21L, vC))) // identical-to-history + novel
    drain(index, 100L, ckpt)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L, 21L),
      "code-index ADC turns the identical vector away; the 0.5e6 " +
        "neighbor admits")
    // full re-delivery through a fresh checkpoint: every vector finds
    // its own codes at ADC 1e6 >= threshold — nothing new, no commit
    val commits = index.commits.length
    drain(index, 200L, Fixtures.tmpDir("pq_stream_ckpt2").toString)
    assert(index.snapshot.select("id").collect().map(_.getLong(0)).toSet
      == Set(10L, 11L, 21L), "full re-delivery admits nothing new")
    assert(index.commits.length == commits, "empty admissions never commit")
    // STATE-IDENTITY (parity-table pin): streamed code index ≡ batch
    // replay through IncrementalDedup.appendNovelSemanticPq
    val replay = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("pq_replay_idx").toString, "id", "batch_no",
      numBuckets = 4)
    graft.operators.IncrementalDedup.appendNovelSemanticPq(replay,
      Seq((10L, vA), (11L, vB)).toDF("id", "emb"), "id", "emb", 0L,
      900000L, 2, cbs)
    graft.operators.IncrementalDedup.appendNovelSemanticPq(replay,
      Seq((20L, vA), (21L, vC)).toDF("id", "emb"), "id", "emb", 1L,
      900000L, 2, cbs)
    def pqStateRows(vt: graft.operators.VersionedTable) =
      vt.snapshot.select("id", "codes", "bucket").collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Int]]("codes").toSeq,
          r.getLong(2))).toSet
    assert(pqStateRows(index) == pqStateRows(replay),
      "streamed code-index state must equal the batch-operator replay")
  }

  test("streaming media ingest gate: real decode per micro-batch; perceptual dups turned away") {
    import graft.operators.Multimodal
    val srcDir = Fixtures.tmpDir("media_stream_src")
    val ckpt = Fixtures.tmpDir("media_stream_ckpt").toString
    val idxRoot = Fixtures.tmpDir("media_stream_idx").toString
    // gray rasters with controlled aHash structure: half the cells
    // bright (bit set), half dark
    val imgA = (0 until 64).map(i => if (i < 32) 200L else 40L)
    val imgANear = imgA.updated(40, 255L)  // one dark cell flips on → Hamming 1
    val imgNovel = (0 until 64).map(i => if (i % 2 == 0) 220L else 20L)
    def addFile(rows: Seq[(Long, Seq[Long])]): Unit =
      Multimodal.synthGrayBmp(rows.toDF("media_id", "gray"), "gray", 8, 8)
        .select(col("media_id"), col("payload"))
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    def drain(index: graft.operators.VersionedTable, ck: String, base: Long): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = graft.streaming.StreamingNearDup.mediaIngestGate(
        stream, index, "media_id", "ahash",
        df => Multimodal.decodeImageAHash(df),  // the REAL codec pass, per batch
        ck, base, maxHamming = 3, maskBits = 16)
      q.awaitTermination(120000)
    }
    val index = new graft.operators.VersionedTable(spark, idxRoot, "media_id",
      "batch_no", numBuckets = 4)
    addFile(Seq((10L, imgA)))
    drain(index, ckpt, 0L)
    assert(index.snapshot.select("media_id").collect().map(_.getLong(0)).toSet
      == Set(10L), "empty history admits the first image")
    // batch 2: an exact pixel copy (new id), a 1-bit perceptual near
    // dup, and a structurally novel image
    addFile(Seq((20L, imgA), (21L, imgANear), (22L, imgNovel)))
    drain(index, ckpt, 100L)
    assert(index.snapshot.select("media_id").collect().map(_.getLong(0)).toSet
      == Set(10L, 22L),
      "exact copy rejected on fp identity, near dup on banded Hamming; novel admits")
    // restart-with-replay through a fresh checkpoint: exactly-once content
    val commits = index.commits.length
    drain(index, Fixtures.tmpDir("media_stream_ckpt2").toString, 200L)
    assert(index.snapshot.select("media_id").collect().map(_.getLong(0)).toSet
      == Set(10L, 22L), "full re-delivery admits nothing new")
    assert(index.commits.length == commits, "empty admissions never commit")
    // STATE-IDENTITY (parity-table pin): streamed fingerprint index ≡
    // batch replay — same decode, same admission operator
    def decoded(rows: Seq[(Long, Seq[Long])]) =
      Multimodal.decodeImageAHash(Multimodal.synthGrayBmp(
        rows.toDF("media_id", "gray"), "gray", 8, 8))
    val replay = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("media_replay_idx").toString, "media_id", "batch_no",
      numBuckets = 4)
    graft.operators.IncrementalDedup.appendNovelFingerprint(replay,
      decoded(Seq((10L, imgA))), "media_id", "ahash", 0L,
      maxHamming = 3, maskBits = 16)
    graft.operators.IncrementalDedup.appendNovelFingerprint(replay,
      decoded(Seq((20L, imgA), (21L, imgANear), (22L, imgNovel))),
      "media_id", "ahash", 1L, maxHamming = 3, maskBits = 16)
    def stateRows(vt: graft.operators.VersionedTable) =
      vt.snapshot.select("media_id", "fp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stateRows(index) == stateRows(replay),
      "streamed media-admission state must equal the batch-operator replay")
  }

  test("streaming quantile sketch: state equals the batch bottom-k; merge stays lossless through the stream") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.HV
    val k = 4
    val srcDir = Fixtures.tmpDir("qsk_src")
    val ckpt = Fixtures.tmpDir("qsk_ckpt").toString
    val outDir = Fixtures.tmpDir("qsk_out").toString

    def addFile(n: Int, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = Fixtures.tmpDir(s"qsk_tmp$n")
      rows.toDF("doc_id", "source", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    // foreachBatch sink stamped with the global batch id; "current
    // sketch" = each source's highest-batch snapshot (update-mode upsert)
    def runBatch(): Map[String, Vector[(Long, Long)]] = {
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, v LONG")
        .parquet(srcDir.toString)
      val q = StreamingSketch.sketchDocuments(stream, "doc_id", "v", "source", k)
        .writeStream.outputMode("update")
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[StreamingSketch.SourceSketch], batchId: Long) =>
            ds.withColumn("_batch", lit(batchId))
              .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("_batch"), r.getAs[String]("source"),
          r.getAs[Seq[Long]]("hs").zip(r.getAs[Seq[Long]]("vs")).toVector))
        .groupBy(_._2).view.mapValues(rs => rs.maxBy(_._1)._3).toMap
    }
    // the expected sample: engine-hashed (md5Long) bottom-k by (h, v)
    def directBottomK(rows: Seq[(Long, String, Long)]): Map[String, Vector[(Long, Long)]] =
      rows.toDF("doc_id", "source", "v")
        .select(col("source"),
          graft.functions.md5Long(col("doc_id").cast("string")).as("h"), col("v"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(k).toVector).toMap

    val batch1 = (1L to 10L).map(i => (i, "a", i * 10)) ++
      (11L to 13L).map(i => (i, "b", i * 10))
    val batch2 = (14L to 20L).map(i => (i, "a", i * 10)) ++
      (21L to 30L).map(i => (i, "c", i * 10))

    addFile(1, batch1)
    val out1 = runBatch()
    assert(out1 == directBottomK(batch1),
      s"first batch: streamed state must equal the direct bottom-k: $out1")
    assert(out1("b").length == 3, "n < k source keeps its whole population")

    addFile(2, batch2)
    val out2 = runBatch()
    assert(out2 == directBottomK(batch1 ++ batch2),
      s"state must merge across micro-batches to the full-history bottom-k: $out2")
    assert(out2("b") == out1("b"),
      "untouched source keeps the run-1 snapshot (update mode re-emits only touched sources)")

    // lossless merge THROUGH the stream: the global bottom-k re-cut
    // from the per-source streamed k-sets equals the bottom-k computed
    // directly on every row ever ingested (the q221 merge law)
    val mergedFromState = out2.values.flatten.toVector.sorted.take(k)
    val directGlobal = directBottomK((batch1 ++ batch2).map { case (i, _, v) =>
      (i, "_all", v) })("_all")
    assert(mergedFromState == directGlobal,
      s"merge must be lossless: $mergedFromState vs $directGlobal")

    // partitioning invariance of the stateless pre-cut: the local heaps
    // shrink data but never change the final k-set
    val hv = batch1.toDF("doc_id", "source", "v")
      .select(col("source"),
        graft.functions.md5Long(col("doc_id").cast("string")).as("h"),
        col("v")).as[HV]
    val cut = StreamingSketch.localCut(hv.repartition(7), k).collect()
      .groupBy(_.source).view
      .mapValues(_.map(r => (r.h, r.v)).sorted.take(k).toVector).toMap
    assert(cut == directBottomK(batch1),
      s"pre-cut must preserve the per-source bottom-k under any partitioning: $cut")

    // contract guard: a direct localCut caller with k < 2 gets the
    // explicit message, not a NoSuchElementException inside heapCut
    val e = intercept[IllegalArgumentException](StreamingSketch.localCut(hv, 0))
    assert(e.getMessage.contains("k >= 2"), e.getMessage)
  }

  test("stitch ingest gate: streamed pairs and index equal the batch replay") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val srcDir = Fixtures.tmpDir("stg_src")
    val ckpt = Fixtures.tmpDir("stg_ckpt").toString
    val outDir = Fixtures.tmpDir("stg_out").toString
    val idxRoot = Fixtures.tmpDir("stg_idx").toString
    val frags = Seq(
      (1L, "alpha beta gamma delta"),
      (3L, "one two three four"),
      (5L, "three four five six"),      // 3→5 in file 1
      (2L, "gamma delta epsilon zeta"), // 1→2 cross-file
      (4L, "epsilon zeta eta theta"))   // 2→4 in file 2
    def addFile(n: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = Fixtures.tmpDir(s"stg_tmp$n")
      rows.toDF("fid", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    val index = new graft.operators.VersionedTable(spark, idxRoot, "fid",
      "batch_no", numBuckets = 4)
    def run(): Unit = {
      val stream = spark.readStream.schema("fid LONG, text STRING")
        .parquet(srcDir.toString)
      val q = graft.streaming.StreamingNearDup.stitchIngestGate(
        stream, index, "fid", "text", w = 2,
        onPairs = (pairs, bid) => pairs.withColumn("_b", lit(bid))
          .write.mode("append").parquet(outDir),
        checkpointDir = ckpt)
      q.awaitTermination(120000)
    }
    addFile(1, frags.take(3)); run()
    addFile(2, frags.drop(3)); run()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val whole = graft.operators.Dedup
      .boundaryOverlapPairs(frags.toDF("fid", "text"), "fid", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == whole,
      s"streamed pair stream must equal the batch operator: $streamed vs $whole")
    // state identity: the boundary index equals a fresh batch replay
    // through the same operator (the parity-table discipline)
    val replayIdx = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("stg_replay").toString, "fid", "batch_no", numBuckets = 4)
    graft.operators.IncrementalDedup.detectStitches(replayIdx,
      frags.take(3).toDF("fid", "text"), "fid", "text", 2, 0L)
    graft.operators.IncrementalDedup.detectStitches(replayIdx,
      frags.drop(3).toDF("fid", "text"), "fid", "text", 2, 1L)
    def snap(vt: graft.operators.VersionedTable) =
      vt.snapshot.select("fid", "head_h", "tail_h").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap(index) == snap(replayIdx),
      "streamed boundary index must equal the batch-operator replay")
  }

  test("streaming weighted sample: state equals the batch per-stratum priority sample") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingSketch
    val k = 4
    val srcDir = Fixtures.tmpDir("wsk_src")
    val ckpt = Fixtures.tmpDir("wsk_ckpt").toString
    val outDir = Fixtures.tmpDir("wsk_out").toString

    def addFile(n: Int, rows: Seq[(String, Long, Long)]): Unit = {
      val tmp = Fixtures.tmpDir(s"wsk_tmp$n")
      rows.toDF("src", "id", "w").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    def runBatch(): Map[String, Vector[(Long, Long)]] = {
      val stream = spark.readStream
        .schema("src STRING, id LONG, w LONG")
        .parquet(srcDir.toString)
      val q = StreamingSketch.sampleWeighted(stream, "src", "id", "w", k)
        .writeStream.outputMode("update")
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[StreamingSketch.SourceSketch], batchId: Long) =>
            ds.withColumn("_batch", lit(batchId))
              .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("_batch"), r.getAs[String]("source"),
          r.getAs[Seq[Long]]("hs").zip(r.getAs[Seq[Long]]("vs")).toVector))
        .groupBy(_._2).view.mapValues(rs => rs.maxBy(_._1)._3).toMap
    }
    val batch1 = (1L to 9L).map(i => ("a", i, 1L + i % 3)) ++
      (10L to 12L).map(i => ("b", i, 5L))
    val batch2 = (13L to 20L).map(i => ("a", i, 2L))
    addFile(1, batch1); addFile(2, batch2)
    val streamed = runBatch()

    // the batch STATE analog: prioritySampleByStratum over the union —
    // (prio, id) in rank order must be bit-equal per stratum
    val expected = graft.operators.Sampling.prioritySampleByStratum(
        (batch1 ++ batch2).toDF("src", "id", "w"),
        col("src"), col("id"), col("w"), k)
      .orderBy("stratum", "rank").collect()
      .map(r => (r.getAs[String]("stratum"),
        (r.getAs[Long]("prio"), r.getAs[Long]("id"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    assert(streamed == expected,
      s"streamed weighted-sample state must equal the batch operator: " +
        s"$streamed vs $expected")
  }

  /** STATE-IDENTITY PARITY TABLE (VERDICT r11 item 7) — one pin per
    * streaming twin, against the twin's batch STATE analog wherever
    * the state is an explicit artifact, and against the state's only
    * observable (output over identical history) where Spark manages
    * the state internally:
    *
    * | twin                        | state artifact              | batch analog / pin                           | where pinned |
    * |-----------------------------|-----------------------------|----------------------------------------------|--------------|
    * | StreamingSketch             | per-source (h,v) k-sets     | Sketches.bottomKBySource — bit-equal         | "streaming quantile sketch" test |
    * | …  .sampleWeighted          | per-stratum (prio,id) k-sets| Sampling.prioritySampleByStratum — bit-equal | "streaming weighted sample" test |
    * | StreamingFeatures.maintain  | FeatState per user          | EventAnalytics.userFeatures — field-equal    | "streaming user features" test |
    * | StreamingAnomaly.maintain   | day-count lookback map      | EventAnalytics.dailyAnomalies on closed days | "streaming anomaly" test |
    * | StreamingNearDup.ingestGate | admitted content index (VT) | IncrementalDedup.appendNovelNearDup replay   | "near-dup ingest gate" test (snapshot ≡ batch replay) |
    * | …  .semanticIngestGate      | admitted vector index (VT)  | IncrementalDedup.appendNovelSemantic replay  | "semantic ingest gate" test (snapshot ≡ batch replay) |
    * | …  .semanticPqIngestGate    | admitted PQ-code index (VT) | IncrementalDedup.appendNovelSemanticPq replay | "semantic-PQ ingest gate" test (code snapshot ≡ batch replay) |
    * | …  .mediaIngestGate         | admitted fp index (VT)      | IncrementalDedup.appendNovelFingerprint      | "media ingest gate" test (snapshot ≡ batch replay) |
    * | …  .stitchIngestGate        | boundary index (VT)         | IncrementalDedup.detectStitches replay       | "stitch ingest gate" test (pairs + snapshot ≡ batch replay) |
    * | StreamingDedup.clusterMaintGate | cluster label table (VT) | Dedup.connectedComponents over all pairs — label-equal | "cluster maintenance gate" test (snapshot ≡ full recompute + re-delivery no-op) |
    * | StreamingHeavyHitters (CMS) | (r,cell)→counter relation   | Sketches portable-CMS counters — bit-equal   | HERE (streamed upserts ≡ batch counters) |
    * | StreamingHeavyHitters (win) | per-window count state      | same groupBy on batch — count-equal          | "windowed heavy hitters" test |
    * | EventStream.sessionize      | open SessionState per user  | lag/gap window sessionization — here         | HERE (flushed sessions ≡ batch windows) |
    * | EventStream.windowedCounts  | window agg state (Spark)    | q29 batch window agg                         | "windowed counts" + "q29 shape" tests |
    * | StreamingDedup              | dedup key store (Spark)     | batch distinct over same history             | HERE + "streaming dedup" test |
    * | StreamingQuality            | window agg state (Spark)    | batch gate-rate groupBy                      | "streaming quality monitor" test |
    * | StreamingAttribution        | join buffer (Spark)         | batch interval join + last-click             | "stream-stream interval join" test |
    * | StreamingIngest             | registered-file set (ctrl)  | Pipeline batch registration, exactly-once    | "streaming ingest registers" test |
    */
  test("cluster maintenance gate: streamed label table equals the full " +
    "recompute; re-delivery commits nothing") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val srcDir = Fixtures.tmpDir("cmg_src")
    val ckpt = Fixtures.tmpDir("cmg_ckpt").toString
    val vtRoot = Fixtures.tmpDir("cmg_vt").toString
    val batch1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val batch2 = Seq((3L, 10L), (30L, 31L), (5L, 11L))
    def addFile(n: Int, rows: Seq[(Long, Long)]): Unit = {
      val tmp = Fixtures.tmpDir(s"cmg_tmp$n")
      rows.toDF("id_a", "id_b").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    val labels = new graft.operators.VersionedTable(spark, vtRoot, "id",
      "batch_no", numBuckets = 4)
    def run(ck: String): Unit = {
      val stream = spark.readStream.schema("id_a LONG, id_b LONG")
        .parquet(srcDir.toString)
      graft.streaming.StreamingDedup.clusterMaintGate(stream, labels, ck)
        .awaitTermination(120000)
    }
    addFile(1, batch1); run(ckpt)
    addFile(2, batch2); run(ckpt)
    def snap = labels.snapshot.select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Dedup
      .connectedComponents((batch1 ++ batch2).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap == full,
      s"streamed label table must equal the full recompute: $snap vs $full")
    // node 5 < rep 10 displaced the rep across the merge; 30/31 are new
    assert(full(10L) == 1L && full(5L) == 1L && full(30L) == 30L)
    // re-delivery through a FRESH checkpoint: the applied deltas
    // contract to self-loops, the write set is empty, nothing commits
    val commitsBefore = labels.commits.size
    run(Fixtures.tmpDir("cmg_ckpt2").toString)
    assert(labels.commits.size == commitsBefore,
      "re-delivered batches must not commit")
    assert(snap == full, "labels unchanged after re-delivery")
    // checkpoint RESET + genuinely NEW pairs: batchId restarts at 0,
    // but the gate derives its precombine floor from the table's max
    // batch_no — the new labels must WIN the upsert, not lose
    // max-precombine resolution to the stored rows (review finding)
    // (2, 30) merges two EXISTING components, so stored keys 30/31
    // must be REWRITTEN — exactly the rows a stale low precombine
    // stamp would silently lose
    val batch3 = Seq((2L, 30L))
    addFile(3, batch3)
    run(Fixtures.tmpDir("cmg_ckpt3").toString)
    val full3 = graft.operators.Dedup
      .connectedComponents((batch1 ++ batch2 ++ batch3).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap == full3,
      s"post-reset ingest must not lose to stale precombine: $snap vs $full3")
    assert(snap(30L) == 1L && snap(31L) == 1L)
  }

  test("state-identity parity table: sessionize, dedup, and CMS counter pins") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._

    // --- EventStream.sessionize: flushed stream-code sessions over the
    // full history ≡ the q37-style lag/gap window sessionization
    val evs = Seq(
      Event(1L, ts(0), 10L, "click", 1.0), Event(2L, ts(5), 10L, "click", 2.0),
      Event(3L, ts(50), 10L, "view", 4.0), // 45min gap → session 2
      Event(4L, ts(7), 11L, "view", 8.0))
    val flushed = EventStream.sessionize(evs.toDS(), flushOpen = true)
      .collect().map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events)).toSet
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val batchSessions = evs.toDS().toDF()
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s", when(col("prev").isNull ||
        unix_millis(col("ts")) - unix_millis(col("prev")) > 30L * 60 * 1000, 1)
        .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        count(lit(1)).cast("int").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(flushed == batchSessions,
      s"open-session state flushed over history must equal the batch gap windows: $flushed vs $batchSessions")

    // --- StreamingDedup: the Spark-managed key store's observable —
    // survivors over the same history ≡ batch distinct-by-key
    val docs = Seq((1L, ts(0), "A"), (2L, ts(1), "A"), (3L, ts(5), "B"))
      .toDF("doc_id", "ts", "text")
    val streamedCode = graft.streaming.StreamingDedup.exact(docs, Seq("text"))
      .select("text").collect().map(_.getString(0)).toSet
    assert(streamedCode == Set("A", "B"),
      s"dedup survivors equal batch distinct keys: $streamedCode")

    // --- StreamingHeavyHitters.cmsCounterUpdates: the portable-CMS
    // counter RELATION maintained across REAL micro-batches (update
    // mode, upsert-by-key sink) is bit-identical to the batch sketch
    // over the union — counter addition IS the merge
    import graft.streaming.StreamingHeavyHitters
    val (depth, width) = (3, 16)
    val srcDir = Fixtures.tmpDir("cms_src")
    val ckpt = Fixtures.tmpDir("cms_ckpt").toString
    val outDir = Fixtures.tmpDir("cms_out").toString
    def addFile(n: Int, toks: Seq[String]): Unit = {
      val tmp = Fixtures.tmpDir(s"cms_tmp$n")
      toks.toDF("token").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"b$n.parquet"))
    }
    def runBatch(): Map[(Int, Long), Long] = {
      val stream = spark.readStream.schema("token STRING").parquet(srcDir.toString)
      val q = StreamingHeavyHitters.cmsCounterUpdates(stream, col("token"),
          depth, width)
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          df.withColumn("_batch", lit(batchId))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("_batch"),
          (r.getAs[Int]("r"), r.getAs[Long]("cell")) -> r.getAs[Long]("c")))
        .groupBy(_._2._1).view
        .mapValues(rows => rows.maxBy(_._1)._2._2).toMap
    }
    val b1 = Seq("x", "x", "y", "z")
    val b2 = Seq("x", "w", "w", "y")
    addFile(1, b1)
    val s1 = runBatch()
    addFile(2, b2)
    val s2 = runBatch()
    def batchCounters(toks: Seq[String]): Map[(Int, Long), Long] =
      StreamingHeavyHitters.cmsCounterUpdates(toks.toDF("token"), col("token"),
          depth, width)
        .collect().map(r => (r.getAs[Int]("r"), r.getAs[Long]("cell")) ->
          r.getAs[Long]("c")).toMap
    assert(s1 == batchCounters(b1),
      s"after batch 1 the upserted counters ARE the batch sketch: $s1")
    assert(s2 == batchCounters(b1 ++ b2),
      s"streamed counter state over two micro-batches must be bit-identical " +
        s"to the batch sketch over their union: $s2 vs ${batchCounters(b1 ++ b2)}")
    // the merge law itself, engine-side: union counters = per-batch sums
    val law = (batchCounters(b1).keySet ++ batchCounters(b2).keySet).map { k =>
      k -> (batchCounters(b1).getOrElse(k, 0L) + batchCounters(b2).getOrElse(k, 0L))
    }.toMap
    assert(law == batchCounters(b1 ++ b2), "CMS merge is counter addition")
    // state bound: the relation never exceeds depth·width rows
    assert(s2.size <= depth * width)
  }
}
