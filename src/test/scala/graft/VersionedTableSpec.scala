package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.operators.{AsOf, VersionedTable}

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  /** Bucket of string key `k` in an `n`-bucket key-bucketed table. */
  private def bucketOf(k: String, n: Int): Int =
    Math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(k),
      org.apache.spark.sql.types.StringType, 42L), n.toLong).toInt

  /** One key per bucket of an `n`-bucket table: the first of K1, K2, … that lands there. */
  private def keyPerBucket(n: Int): IndexedSeq[String] = {
    val byBucket = (1 to 500).map(i => s"K$i").groupBy(bucketOf(_, n))
    (0 until n).map(b => byBucket(b).minBy(_.drop(1).toInt))
  }

  /** The table at commit `ts` as the per-writer-commit union of
    * `spark.read.parquet` reads over the commit's `manifest.tsv`,
    * oldest writer first (the read path before commit metadata was
    * memoized), limited to the buckets whose writer passes `keep`.
    */
  private def referenceRead(root: String, ts: String,
      keep: String => Boolean = _ => true): Option[DataFrame] = {
    val entries = Files.readAllLines(Paths.get(s"$root/$ts/manifest.tsv")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .map(a => a(0).toInt -> a(1)).filter(e => keep(e._2))
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (c, kvs) =>
      spark.read.parquet(kvs.map(kv => s"$root/$c/data/_bucket=${kv._1}").sorted: _*)
    }.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSameRead(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema,
      s"$what: schema\n${got.schema.treeString}differs from\n${want.schema.treeString}")
    assert(sortedRows(got) == sortedRows(want), s"$what: rows differ")
  }

  /** Every read of `vt` — snapshot, asOf and incremental at each commit —
    * against [[referenceRead]]: same fields in the same order, types and
    * nullability, and the same rows.
    */
  private def assertReadsMatchReference(vt: VersionedTable, root: String, what: String): Unit = {
    val latest = vt.commits.head
    assertSameRead(vt.snapshot, referenceRead(root, latest).get, s"$what snapshot")
    vt.commits.foreach { c =>
      assertSameRead(vt.asOf(c), referenceRead(root, c).get, s"$what asOf($c)")
      val inc = referenceRead(root, latest, _ > c)
        .getOrElse(referenceRead(root, latest).get.limit(0))
        .filter($"_commit_time" > c)
      assertSameRead(vt.incremental(c), inc, s"$what incremental($c)")
    }
  }

  /** Physical file scans in `df`'s plan. */
  private def fileScans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size

  /** Spark jobs `body` launched outside any SQL execution (a parquet
    * schema-inference job is one). */
  private def jobsOutsideSql(body: => Any): Int =
    Fixtures.jobsDuring(spark)(body)._2.count(_.isEmpty)

  test("upsert merges by recordkey with precombine max; time travel works") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "patient_id", "visit_date")

    val c1 = vt.upsert(Seq(
      ("P1", "2025-01-01", "flu"), ("P2", "2025-01-02", "cold"))
      .toDF("patient_id", "visit_date", "diagnosis"))
    val c2 = vt.upsert(Seq(
      ("P1", "2025-02-01", "checkup"), // newer visit wins
      ("P2", "2024-12-01", "old"),     // older visit loses to existing
      ("P3", "2025-02-03", "new"))
      .toDF("patient_id", "visit_date", "diagnosis"))

    val snap = vt.snapshot.collect()
      .map(r => r.getAs[String]("patient_id") -> r.getAs[String]("diagnosis")).toMap
    assert(snap == Map("P1" -> "checkup", "P2" -> "cold", "P3" -> "new"))

    // time travel to the first commit
    val old = vt.asOf(c1).collect()
      .map(r => r.getAs[String]("patient_id") -> r.getAs[String]("diagnosis")).toMap
    assert(old == Map("P1" -> "flu", "P2" -> "cold"))

    // commit history: two commits desc
    assert(vt.commits == Seq(c2, c1))
    assert(vt.commitHistory.collect().map(_.getString(0)).toSeq == Seq(c2, c1))
  }

  test("releaseDelta: per-dimension insert/update/delete counts; delete keeps before-image dim") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "id", "pre")
    val c1 = vt.upsert(Seq(
      (1L, "web", "aa", 1L), (2L, "web", "bb", 1L), (3L, "books", "cc", 1L))
      .toDF("id", "src", "txt", "pre"))
    vt.upsert(Seq((1L, "web", "aa2", 2L), (9L, "wiki", "new", 1L))
      .toDF("id", "src", "txt", "pre"))
    val head = vt.delete(Seq(Tuple1(3L)).toDF("id"))
    val out = vt.releaseDelta(c1, head, "src").collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("change_type")) ->
        r.getAs[Long]("n")).toMap
    assert(out == Map(
      ("web", "update") -> 1L, ("wiki", "insert") -> 1L, ("books", "delete") -> 1L))
  }

  test("precombine tie: incoming update wins (Hudi latest-write-wins)") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "v")
    vt.upsert(Seq(("a", "1", "old")).toDF("k", "v", "payload"))
    vt.upsert(Seq(("a", "1", "new")).toDF("k", "v", "payload"))
    assert(vt.snapshot.collect()(0).getAs[String]("payload") == "new")
  }

  test("upsert rewrites only touched buckets; untouched files are reused as-is") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Fixtures.tmpDir("vtp").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 8)
    val c1 = vt.upsert((1 to 100).map(i => (s"K$i", "1", s"p$i"))
      .toDF("k", "v", "payload"))
    def filesUnder(dir: String): Map[String, Long] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
    val c1Files = filesUnder(s"$root/$c1/data")
    val c1Mtimes = c1Files.keys.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    // file-group layout: the pre-write bucket repartition keeps each
    // bucket to one file, not (shuffle tasks × buckets) fragments
    val perBucket = c1Files.keys.groupBy(f => f.split("/").takeRight(2).head)
    perBucket.foreach { case (b, fs) =>
      assert(fs.size == 1, s"bucket $b has ${fs.size} files, expected 1")
    }

    // second commit touches exactly one key → exactly one bucket dir
    val c2 = vt.upsert(Seq(("K1", "2", "p1b")).toDF("k", "v", "payload"))
    val c2Buckets = Files.list(Paths.get(s"$root/$c2/data")).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(_.startsWith("_bucket=")).toSeq
    assert(c2Buckets.size == 1, s"expected 1 touched bucket dir, got $c2Buckets")

    // untouched buckets' files under c1 are untouched on disk (same
    // paths, sizes, mtimes) and still referenced by the c2 manifest
    val c1FilesAfter = filesUnder(s"$root/$c1/data")
    assert(c1FilesAfter == c1Files)
    c1Mtimes.foreach { case (f, t) =>
      assert(Files.getLastModifiedTime(Paths.get(f)).toMillis == t, s"$f was rewritten")
    }
    val manifest = Files.readAllLines(Paths.get(s"$root/$c2/manifest.tsv")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0).toInt -> a(1)).toMap
    assert(manifest.values.toSet.contains(c1), "c2 manifest must reference c1 buckets")
    assert(manifest.count(_._2 == c2) == 1)

    // snapshot is still the merged view
    val snap = vt.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(snap.size == 100 && snap("K1") == "p1b" && snap("K2") == "p2")
    // time travel still sees the pre-update row
    val old = vt.asOf(c1).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(old("K1") == "p1")
  }

  test("delete removes keys as a COW commit; time travel resurrects; re-insert works") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    vt.upsert((1 to 20).map(i => (s"K$i", 1L, s"v$i")).toDF("k", "pre", "payload"))
    val c2 = vt.upsert(Seq(("K1", 2L, "v1b")).toDF("k", "pre", "payload"))
    val manifestBefore = vt.commits.size

    val cDel = vt.delete(Seq("K1", "K3", "KNOPE").toDF("k"))
    val snap = vt.snapshot.collect().map(_.getAs[String]("k")).toSet
    assert(!snap.contains("K1") && !snap.contains("K3"), s"deleted keys present: $snap")
    assert(snap.size == 18, s"only the two live deleted keys drop: $snap")
    // time travel to before the delete resurrects the rows
    val asOf = vt.asOf(c2).collect().map(_.getAs[String]("k")).toSet
    assert(asOf.contains("K1") && asOf.contains("K3"))
    assert(vt.commits.size == manifestBefore + 1 && vt.commits.head == cDel)
    // carried rows keep their commit time: a delete is invisible to
    // incremental consumers (non-CDC Hudi semantics)
    assert(vt.incremental(cDel).count() == 0)

    // re-insert after delete: no resurrection of the old payload
    vt.upsert(Seq(("K1", 1L, "reborn")).toDF("k", "pre", "payload"))
    val m = vt.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(m("K1") == "reborn" && !m.contains("K3") && m("K2") == "v2")
  }

  test("applyDelta ≡ delete-then-upsert: one fused commit, same snapshot (r16)") {
    import org.apache.spark.sql.functions.col
    def seed(vt: VersionedTable): Unit = {
      vt.upsert((1 to 20).map(i => (s"K$i", 1L, s"v$i")).toDF("k", "pre", "payload"))
      vt.upsert(Seq(("K1", 2L, "v1b")).toDF("k", "pre", "payload"))
    }
    // reference: sequential delete + upsert (two commits)
    val ref = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "k", "pre", numBuckets = 4)
    seed(ref)
    val dels = Seq("K2", "K3", "K5", "KNOPE").toDF("k")
    // K5 in BOTH sets: delete-then-upsert leaves the incoming row even
    // at a LOWER precombine than the deleted stored one
    val ups = Seq(("K5", 0L, "k5new"), ("K1", 1L, "ignored_low_pre"),
      ("K21", 1L, "fresh")).toDF("k", "pre", "payload")
    ref.delete(dels); ref.upsert(ups)
    // fused: one commit
    val fused = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "k", "pre", numBuckets = 4)
    seed(fused)
    val commitsBefore = fused.commits.size
    fused.applyDelta(dels, ups)
    assert(fused.commits.size == commitsBefore + 1, "applyDelta is ONE commit")
    def m(vt: VersionedTable) = vt.snapshot.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("pre"), r.getAs[String]("payload")))
      .toSet
    assert(m(fused) == m(ref), s"fused=${m(fused)} ref=${m(ref)}")
    assert(m(fused).exists(r => r._1 == "K5" && r._3 == "k5new"),
      "key in both sets takes the incoming row")
    assert(m(fused).exists(r => r._1 == "K1" && r._3 == "v1b"),
      "low-precombine update loses to the surviving stored row")
    // emptied-bucket parity: delete EVERY row via the fused op, schema survives
    val vt3 = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "k", "pre", numBuckets = 4)
    vt3.upsert(Seq(("A", 1L, "x")).toDF("k", "pre", "payload"))
    vt3.applyDelta(Seq("A").toDF("k"), Seq.empty[(String, Long, String)].toDF("k", "pre", "payload"))
    assert(vt3.snapshot.count() == 0 && vt3.snapshot.columns.contains("payload"))
    // partitioned-table move parity: relabel crosses buckets, old bucket emptied
    val pRef = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "ek", "pre",
      numBuckets = 8, partitionColOpt = Some("cid"))
    val pFus = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "ek", "pre",
      numBuckets = 8, partitionColOpt = Some("cid"))
    val base = Seq(("e1", 10L, 1L), ("e2", 10L, 1L), ("e3", 20L, 1L))
      .toDF("ek", "cid", "pre")
    pRef.upsert(base); pFus.upsert(base)
    val pDel = Seq(("e3", 20L)).toDF("ek", "cid")
    val pUps = Seq(("e1", 30L, 2L), ("e2", 30L, 2L)).toDF("ek", "cid", "pre")
    val pOld = Seq(("e1", 10L), ("e2", 10L)).toDF("ek", "cid")
    pRef.delete(pDel); pRef.upsertMoved(pUps, pOld)
    pFus.applyDelta(pDel, pUps, Some(pOld))
    def pm(vt: VersionedTable) = vt.snapshot.select(col("ek"), col("cid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(pm(pFus) == pm(pRef) && pm(pFus) == Set("e1" -> 30L, "e2" -> 30L),
      s"partitioned move parity: fused=${pm(pFus)} ref=${pm(pRef)}")
  }

  test("delete drops fully-emptied buckets from the manifest; untouched buckets carry by reference") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val keys = (1 to 40).map(i => s"K$i")
    val c1 = vt.upsert(keys.map(k => (k, 1L, s"p$k")).toDF("k", "pre", "payload"))
    // empty one whole bucket: delete every key the bucket holds
    val byBucket = keys.groupBy(k =>
      Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(k),
          org.apache.spark.sql.types.StringType, 42L), 4L).toInt)
    val (victimBucket, victims) = byBucket.maxBy(_._2.size)
    vt.delete(victims.toDF("k"))
    val snap = vt.snapshot.collect().map(_.getAs[String]("k")).toSet
    assert(snap == keys.toSet -- victims, "exactly the victim bucket's keys drop")
    // untouched buckets still reference the ORIGINAL commit's files
    val manifest = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/${vt.commits.head}/manifest.tsv"))
    val entries = manifest.toArray.map(_.toString).filter(l => !l.startsWith("#"))
      .map { l => val p = l.split("\t"); p(0).toInt -> p(1) }.toMap // v2 lines carry a 3rd (stamp) field
    assert(!entries.contains(victimBucket), s"emptied bucket must leave the manifest: $entries")
    assert(entries.values.forall(_ == c1), s"survivor buckets carry by reference: $entries")
  }

  test("delete of every row keeps the schema readable; delete matches null keys") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 2)
    vt.upsert(Seq(("a", 1L, "x"), (null: String, 1L, "nullrow")).toDF("k", "pre", "payload"))
    // null-safe equality: a null key in the delete set removes null-key rows
    vt.delete(Seq[String](null).toDF("k"))
    assert(vt.snapshot.collect().map(_.getAs[String]("payload")).toSeq == Seq("x"))
    vt.delete(Seq("a").toDF("k"))
    val empty = vt.snapshot
    assert(empty.count() == 0 && empty.columns.toSet == Set("k", "pre", "payload", "_commit_time"))
    // the table remains usable after a full wipe
    vt.upsert(Seq(("b", 1L, "back")).toDF("k", "pre", "payload"))
    assert(vt.snapshot.collect().map(_.getAs[String]("k")).toSeq == Seq("b"))
    // a first upsert of no rows leaves no bucket either: same guard
    val vt0 = new VersionedTable(spark, Fixtures.tmpDir("vt").toString, "k", "pre", numBuckets = 2)
    vt0.upsert(Seq.empty[(String, Long, String)].toDF("k", "pre", "payload"))
    assert(vt0.snapshot.count() == 0 &&
      vt0.snapshot.columns.toSet == Set("k", "pre", "payload", "_commit_time"))
  }

  test("diff classifies insert/delete/update; identical rewrites and null keys handled") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val c1 = vt.upsert(Seq(
      ("A", 1L, "a1"), ("B", 1L, "b1"), ("C", 1L, "c1"),
      (null: String, 1L, "n1")).toDF("k", "pre", "payload"))
    vt.upsert(Seq(
      ("A", 2L, "a2"),                  // payload update
      ("B", 1L, "b1"),                  // tie-rewrite, payload IDENTICAL → not a change
      ("D", 1L, "d1"),                  // insert
      (null: String, 2L, "n2")          // null-key update
    ).toDF("k", "pre", "payload"))
    val head = vt.delete(Seq("C").toDF("k"))
    val out = vt.diff(c1, head).collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") ->
        r.getAs[String]("change_type")).toMap
    assert(out == Map("A" -> "update", "C" -> "delete", "D" -> "insert",
      "<null>" -> "update"), s"B's identical rewrite must not surface: $out")
    // before/after payloads ride along, null on the absent side
    val rows = vt.diff(c1, head).collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") ->
        (Option(r.getAs[String]("before_payload")),
          Option(r.getAs[String]("after_payload")))).toMap
    assert(rows("A") == ((Some("a1"), Some("a2"))))
    assert(rows("C") == ((Some("c1"), None)) && rows("D") == ((None, Some("d1"))))
    // a diff of a commit against itself is empty
    assert(vt.diff(head, head).count() == 0)
  }

  test("diff prunes unchanged buckets via manifest references") {
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val c1 = vt.upsert((1 to 40).map(i => (s"K$i", 1L, s"p$i"))
      .toDF("k", "pre", "payload"))
    // base spreads keys over all 4 buckets; this commit rewrites ONE
    val c2 = vt.upsert(Seq(("K7", 2L, "p7b")).toDF("k", "pre", "payload"))
    val d = vt.diff(c1, c2)
    val rows = d.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("change_type") == "update")
    // the scan pin: only the touched bucket's file group is read on
    // either side — unchanged buckets' identical references pruned
    val buckets = d.inputFiles
      .flatMap("_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(buckets.size == 1,
      s"diff of a 1-bucket-touch commit must read 1 bucket, read: $buckets")
    val allBuckets = vt.snapshot.inputFiles
      .flatMap("_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(allBuckets.size == 4, s"base must populate all buckets: $allBuckets")
  }

  test("maintainRollup recomputes touched groups (incl. moved-from), carries the rest") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.operators.RollupMaintenance
    val root = Fixtures.tmpDir("vt").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val aggs = Seq("n" -> count(lit(1)), "s" -> sum(col("v")))
    val c1 = vt.upsert(Seq(
      ("K1", "a", 10L, 1L), ("K2", "a", 20L, 1L),
      ("K3", "b", 30L, 1L), ("K4", "c", 40L, 1L),
      ("K6", "e", 60L, 1L)).toDF("k", "grp", "v", "pre"))
    val s1 = RollupMaintenance.fullRollup(vt, "grp", aggs).localCheckpoint()
    // K3 MOVES b → a (b empties!), K4 updates in place, K5 is new in d
    vt.upsert(Seq(("K3", "a", 31L, 2L), ("K4", "c", 41L, 2L),
      ("K5", "d", 50L, 1L)).toDF("k", "grp", "v", "pre"))
    val got = RollupMaintenance.maintainRollup(vt, c1, s1, "grp", aggs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = RollupMaintenance.fullRollup(vt, "grp", aggs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == full, s"maintained must equal full recompute: $got vs $full")
    assert(got == Map("a" -> ((3L, 61L)), "c" -> ((1L, 41L)),
      "d" -> ((1L, 50L)), "e" -> ((1L, 60L))),
      s"moved-from group b must disappear: $got")
    // documented caveat, pinned: deleting a pre-sinceTs key in an
    // otherwise-untouched group is invisible to incremental — the
    // carried summary row goes STALE under the non-CDC refresh...
    val headDel = vt.delete(Seq("K6").toDF("k"))
    val afterDel = RollupMaintenance.maintainRollup(vt, c1, s1, "grp", aggs)
      .collect().map(r => r.getString(0)).toSet
    assert(afterDel.contains("e"), "delete staleness is the documented contract")
    assert(!RollupMaintenance.fullRollup(vt, "grp", aggs)
      .collect().map(_.getString(0)).toSet.contains("e"))
    // ...and the CDC refresh closes exactly that hole: group e's last
    // row was deleted, so its carried row disappears and the result
    // equals the full recompute
    val cdc = RollupMaintenance.maintainRollupCdc(vt, c1, headDel, s1, "grp", aggs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fullDel = RollupMaintenance.fullRollup(vt, "grp", aggs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cdc == fullDel, s"CDC-maintained must equal full recompute: $cdc vs $fullDel")
    assert(!cdc.contains("e"), "emptied group must disappear under CDC refresh")
  }

  test("a crashed commit (data/ but no manifest) is skipped, not read as legacy") {
    import java.nio.file.{Files, Paths}
    val root = Fixtures.tmpDir("vtc").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 4)
    val c1 = vt.upsert((1 to 20).map(i => (s"K$i", "1", s"p$i")).toDF("k", "v", "payload"))
    // simulate an upsert that wrote one bucket's data but died before
    // its manifest: the partial data/ dir must not shadow c1
    val crashed = (c1.toLong + 7).toString
    Seq(("K1", "9", "SHOULD_NOT_WIN")).toDF("k", "v", "payload")
      .write.parquet(s"$root/$crashed/data/_bucket=0")
    assert(vt.commits == Seq(c1), "crashed commit must not be listed")
    assert(vt.snapshot.count() == 20)
    // the next upsert merges against c1, not the partial write
    vt.upsert(Seq(("K2", "2", "p2b")).toDF("k", "v", "payload"))
    val snap = vt.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(snap.size == 20 && snap("K1") == "p1" && snap("K2") == "p2b")
    assert(Files.exists(Paths.get(s"$root/$crashed")), "crashed dir left for inspection")
  }

  test("a handle opened with another bucket count adopts the stored one") {
    val root = Fixtures.tmpDir("vtb").toString
    new VersionedTable(spark, root, "k", "v", numBuckets = 8)
      .upsert((1 to 40).map(i => (s"K$i", "1", s"p$i")).toDF("k", "v", "payload"))
    // hashed into 16 buckets, these keys would land in buckets the
    // 8-bucket manifest does not cover and survive next to their old rows
    val other = new VersionedTable(spark, root, "k", "v", numBuckets = 16)
    val up = Seq("K1", "K2", "K41")
    val c2 = other.upsert(Seq(("K1", "2", "p1b"), ("K2", "0", "stale"), ("K41", "1", "p41"))
      .toDF("k", "v", "payload"))
    val c3 = other.delete(Seq("K3").toDF("k"))
    def written(c: String): Set[Int] = graft.util.Fs.list(Paths.get(s"$root/$c/data"))
      .map(_.getFileName.toString).filter(_.startsWith("_bucket="))
      .map(_.stripPrefix("_bucket=").toInt).toSet
    assert(written(c2) == up.map(bucketOf(_, 8)).toSet)
    assert(written(c3).subsetOf(Set(bucketOf("K3", 8))))
    for (c <- Seq(c2, c3))
      assert(Files.readAllLines(Paths.get(s"$root/$c/manifest.tsv")).get(0) == "#buckets=8", c)
    val want = (1 to 41).map(i => s"K$i" -> s"p$i").toMap + ("K1" -> "p1b") - "K3"
    for (t <- Seq(other, new VersionedTable(spark, root, "k", "v"))) {
      val rows = t.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload"))
      assert(rows.length == want.size && rows.toMap == want)
    }
  }

  test("upsert merges rows with null record keys") {
    val root = Fixtures.tmpDir("vtn").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 4)
    vt.upsert(Seq((null.asInstanceOf[String], "1", "n1"), ("A", "1", "a1"))
      .toDF("k", "v", "payload"))
    assert(vt.snapshot.count() == 2)
    vt.upsert(Seq((null.asInstanceOf[String], "2", "n2")).toDF("k", "v", "payload"))
    val snap = vt.snapshot.collect()
      .map(r => Option(r.getAs[String]("k")) -> r.getAs[String]("payload")).toMap
    assert(snap == Map(None -> "n2", Some("A") -> "a1"))
  }

  test("incremental pull returns only records last written after the given commit") {
    val root = Fixtures.tmpDir("vti").toString
    // one bucket: the second commit rewrites the bucket containing ALL
    // keys, so carried rows prove per-record commit preservation
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 1)
    val c1 = vt.upsert(Seq(("A", "1", "a1"), ("B", "1", "b1"), ("C", "1", "c1"))
      .toDF("k", "v", "payload"))
    val c2 = vt.upsert(Seq(("B", "2", "b2")).toDF("k", "v", "payload"))

    // carried rows keep their original commit even through the rewrite
    val commits = vt.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String](vt.CommitCol)).toMap
    assert(commits("A") == c1 && commits("C") == c1 && commits("B") == c2)

    // incremental since c1 → exactly the c2-written record
    val inc = vt.incremental(c1).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(inc == Map("B" -> "b2"))
    // since the epoch → everything; since c2 → nothing
    assert(vt.incremental("00000000000000").count() == 3)
    assert(vt.incremental(c2).count() == 0)
  }

  test("clean retains commits whose buckets the live manifest references") {
    import java.nio.file.{Files, Paths}
    val root = Fixtures.tmpDir("vtr").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 8)
    val c1 = vt.upsert((1 to 50).map(i => (s"K$i", "1", s"p$i")).toDF("k", "v", "payload"))
    val c2 = vt.upsert(Seq(("K1", "2", "p1b")).toDF("k", "v", "payload"))
    val c3 = vt.upsert(Seq(("K1", "3", "p1c")).toDF("k", "v", "payload"))
    // a crashed dir older than the horizon must be swept too
    Seq(("X", "9", "junk")).toDF("k", "v", "payload")
      .write.parquet(s"$root/${(c1.toLong - 5).toString}/data/_bucket=0")
    val crashedOld = (c1.toLong - 5).toString
    // keep only the latest commit: c1 must SURVIVE (c3's manifest still
    // references c1's untouched buckets); c2's bucket was superseded
    val deleted = vt.clean(keepLast = 1)
    assert(deleted.toSet == Set(c2, crashedOld), s"got $deleted")
    assert(Files.exists(Paths.get(s"$root/$c1")) && !Files.exists(Paths.get(s"$root/$c2")))
    // snapshot is fully intact after cleaning
    val snap = vt.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(snap.size == 50 && snap("K1") == "p1c" && snap("K2") == "p2")
    assert(vt.commits == Seq(c3, c1))
  }

  test("clean retention is transitive: a kept-by-reference commit stays readable") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, pmod, xxhash64}
    // With numBuckets=2, pick one key per bucket (probed with the SAME
    // hash the table uses). c0 writes both buckets; c1 rewrites bucket
    // of kA; c2 rewrites bucket of kB. Then c2's manifest = {A→c1,
    // B→c2} — it does NOT reference c0 directly; only c1's manifest
    // does ({A→c1, B→c0}). clean(1) keeps c2; c1 survives by direct
    // reference; c0 must survive via the TRANSITIVE closure through
    // c1 — a one-level implementation would delete it.
    val root = Fixtures.tmpDir("vtt").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 2)
    val candidates = (1 to 20).map(i => s"K$i")
    val byBucket = candidates.toDF("k")
      .select(col("k"), pmod(xxhash64(coalesce(col("k").cast("string"),
        lit("__graft_null_key__"))), lit(2L)).as("b"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(byBucket.size == 2, "need keys in both buckets")
    val (kA, kB) = (byBucket(0L), byBucket(1L))
    val c0 = vt.upsert(Seq((kA, "1", "a1"), (kB, "1", "b1")).toDF("k", "v", "payload"))
    val c1 = vt.upsert(Seq((kA, "2", "a2")).toDF("k", "v", "payload"))
    val c2 = vt.upsert(Seq((kB, "2", "b2")).toDF("k", "v", "payload"))
    val deleted = vt.clean(keepLast = 1)
    assert(deleted.isEmpty, s"nothing is deletable in this chain, got $deleted")
    // c1 is still listed (so asOf really reads IT, not a fallback) and
    // every commit in the chain resolves all its bucket paths
    assert(vt.commits.contains(c1))
    val atC1 = vt.asOf(c1).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(atC1 == Map(kA -> "a2", kB -> "b1"))
    assert(vt.asOf(c0).count() == 2 && vt.asOf(c2).count() == 2)
  }

  test("rebucket migrates 4→16 buckets with content unchanged and history intact") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Fixtures.tmpDir("vtm").toString
    val vt4 = new VersionedTable(spark, root, "k", "v", numBuckets = 4)
    val c1 = vt4.upsert((1 to 80).map(i => (s"K$i", "1", s"p$i")).toDF("k", "v", "payload"))
    val c2 = vt4.upsert(Seq(("K1", "2", "p1b")).toDF("k", "v", "payload"))
    val before = vt4.snapshot.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("payload"))).toSet

    val vt16 = vt4.rebucket(16)
    val mig = vt16.commits.head

    // snapshot content is byte-for-byte the same set of records
    val after = vt16.snapshot.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("payload"))).toSet
    assert(after == before)
    // the migration commit's manifest carries the new bucket count and
    // references ONLY itself (full rewrite)
    val lines = Files.readAllLines(Paths.get(s"$root/$mig/manifest.tsv")).asScala
    assert(lines.head == "#buckets=16")
    val entries = lines.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0).toInt -> a(1))
    assert(entries.forall(_._2 == mig))
    assert(entries.map(_._1).toSet.subsetOf((0 until 16).toSet))
    assert(entries.map(_._1).exists(_ >= 4), "keys must spread beyond the old 4 buckets")

    // old commits stay time-travel readable after the migration
    assert(vt16.asOf(c1).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap.apply("K1") == "p1")
    assert(vt16.asOf(c2).count() == 80)

    // the migrated table takes upserts at 16...
    vt16.upsert(Seq(("K2", "3", "p2c")).toDF("k", "v", "payload"))
    assert(vt16.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap.apply("K2") == "p2c")
    // ...and so does a handle opened with the old count: it adopts 16
    val stale = new VersionedTable(spark, root, "k", "v", numBuckets = 4)
    val c4 = stale.upsert(Seq(("K3", "3", "x")).toDF("k", "v", "payload"))
    assert(Files.readAllLines(Paths.get(s"$root/$c4/manifest.tsv")).get(0) == "#buckets=16")
    val m = stale.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload"))
    assert(m.length == 80 && m.toMap.apply("K3") == "x" && m.toMap.apply("K2") == "p2c")
  }

  test("suggestBucketCount sizes by ~1 GB per bucket in powers of two") {
    val G = 1L << 30
    assert(VersionedTable.suggestBucketCount(0L, G) == 1)
    assert(VersionedTable.suggestBucketCount(G, G) == 1)
    assert(VersionedTable.suggestBucketCount(G + 1, G) == 2)
    assert(VersionedTable.suggestBucketCount(100L * G, G) == 128)
    assert(VersionedTable.suggestBucketCount(100L * 1024 * G, G) == 131072, "100 TB")
    assert(VersionedTable.suggestBucketCount(Long.MaxValue / 2, G) == (1 << 20), "capped")
    assert(VersionedTable.suggestBucketCount(Long.MaxValue, G) == (1 << 20),
      "near-max sizes must hit the cap, not overflow to 1")
    intercept[IllegalArgumentException](VersionedTable.suggestBucketCount(-1, G))
    // the default target is 128 MB
    assert(VersionedTable.suggestBucketCount(128L << 20) == 1)
    assert(VersionedTable.suggestBucketCount((128L << 20) + 1) == 2)
    assert(VersionedTable.suggestBucketCount(G) == 8)
  }

  test("rebucket preserves per-record commit times (incremental sees no phantoms)") {
    val root = Fixtures.tmpDir("vtmi").toString
    val vt = new VersionedTable(spark, root, "k", "v", numBuckets = 2)
    val c1 = vt.upsert(Seq(("A", "1", "a1"), ("B", "1", "b1")).toDF("k", "v", "payload"))
    val c2 = vt.upsert(Seq(("B", "2", "b2")).toDF("k", "v", "payload"))
    val vt8 = vt.rebucket(8)
    // a rebucket moves bytes, not records: incremental since c1 is
    // still exactly the c2-written record, not the whole table
    val inc = vt8.incremental(c1).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap
    assert(inc == Map("B" -> "b2"))
    assert(vt8.incremental(c2).count() == 0)
    val commits = vt8.snapshot.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String](vt8.CommitCol)).toMap
    assert(commits("A") == c1 && commits("B") == c2)
  }

  test("joinWithin equals the naive range-join result") {
    import org.apache.spark.sql.functions.{abs, col}
    val rnd = new scala.util.Random(3)
    val left = (1 to 200).map(i => (i.toLong % 5, rnd.nextInt(10000).toLong, s"L$i")).toDF("k", "lt", "ln")
    val right = (1 to 200).map(i => (i.toLong % 5, rnd.nextInt(10000).toLong, s"R$i")).toDF("k", "rt", "rn")
    val tol = 500L
    val fast = AsOf.joinWithin(left, right, "k", col("lt"), col("rt"), tol)
      .select("ln", "rn").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val naive = left.join(right, "k")
      .filter(abs(col("lt") - col("rt")) <= tol)
      .select("ln", "rn").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast == naive, s"missing=${naive.diff(fast).take(3)} extra=${fast.diff(naive).take(3)}")
  }

  test("hl7Component splits composite fields on caret") {
    import org.apache.spark.sql.functions.col
    val df = Seq("DOE^JOHN^A").toDF("f")
    val r = df.select(
      graft.sources.Readers.hl7Component(col("f"), 1).as("family"),
      graft.sources.Readers.hl7Component(col("f"), 2).as("given"),
      graft.sources.Readers.hl7Component(col("f"), 5).as("missing")).collect()(0)
    assert(r.getString(0) == "DOE" && r.getString(1) == "JOHN" && r.isNullAt(2))
  }

  test("as-of join picks the latest prior right row per key") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 6L, 300L))
      .toDF("k", "ts", "v")
    val out = AsOf.joinPrior(left, right, "k", "ts", "v", "prior_v")
      .orderBy("name").collect()
      .map(r => r.getAs[String]("name") -> Option(r.getAs[java.lang.Long]("prior_v")).map(_.toLong)).toMap
    assert(out("e1").contains(100L)) // same-instant right included
    assert(out("e2").contains(200L))
    assert(out("e3").isEmpty)        // right ts=6 is after left ts=5
  }

  test("schema evolution: added column surfaces with nulls; untouched buckets keep old files") {
    val root = Fixtures.tmpDir("vt_evo").toString
    val vt = new VersionedTable(spark, root, "id", "pre", numBuckets = 4)
    val c1 = vt.upsert((1L to 8L).map(i => (i, 1L, s"v$i")).toDF("id", "pre", "val"))
    // commit 2 adds `extra`, touching only a subset of keys/buckets
    vt.upsert(Seq((4L, 2L, "v4b", 44L), (8L, 2L, "v8b", 88L))
      .toDF("id", "pre", "val", "extra"))
    val snap = vt.snapshot.orderBy("id").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("val"), Option(r.getAs[java.lang.Long]("extra"))))).toMap
    assert(snap(4L) == (("v4b", Some(44L))) && snap(8L) == (("v8b", Some(88L))))
    assert((1L to 8L).filterNot(Set(4L, 8L)).forall(i =>
      snap(i) == ((s"v$i", None))), s"pre-evolution rows carry NULL extra: $snap")
    // time travel to commit 1 shows the pre-evolution schema
    assert(!vt.asOf(c1).columns.contains("extra"),
      "the old commit must not grow the new column")
    // the evolution is metadata-cheap: commit 2 rewrote only the
    // touched buckets — the live snapshot still reads some commit-1
    // bucket files (layout: <root>/<commit>/data/_bucket=<b>)
    val c1Buckets = new java.io.File(s"$root/$c1/data").listFiles()
      .count(_.getName.startsWith("_bucket="))
    assert(c1Buckets >= 1, "commit 1 bucket dirs survive (shared via manifest)")
    val c2 = vt.commits.head // commits is newest-first; head = the evolution commit
    val c2Buckets = new java.io.File(s"$root/$c2/data").listFiles()
      .count(_.getName.startsWith("_bucket="))
    assert(c2Buckets < 4,
      s"commit 2 must rewrite only its touched buckets, saw $c2Buckets of 4")
  }

  test("implicit widening: later long commit reads table-wide as long; old commit keeps int") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = Fixtures.tmpDir("vt_widen_i").toString
    val vt = new VersionedTable(spark, root, "id", "pre", numBuckets = 4)
    val c1 = vt.upsert((1L to 8L).map(i => (i, 1L, i.toInt * 10)).toDF("id", "pre", "n")
      .select(col("id"), col("pre"), col("n").cast("int").as("n")))
    // commit 2 writes n as BIGINT with values beyond Int.MaxValue —
    // mergeSchema would refuse the mixed int/long files outright
    vt.upsert(Seq((4L, 2L, 3000000004L), (8L, 2L, 3000000008L)).toDF("id", "pre", "n"))
    val snap = vt.snapshot
    assert(snap.schema("n").dataType == LongType, "snapshot reads wide")
    val m = snap.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n")).toMap
    assert(m(4L) == 3000000004L && m(8L) == 3000000008L && m(1L) == 10L, s"$m")
    assert(vt.asOf(c1).schema("n").dataType == IntegerType,
      "time travel: the old commit keeps its narrow schema")
  }

  test("dropColumn/renameColumn migrate the live schema only; history and commit times survive") {
    import org.apache.spark.sql.functions.col
    val root = Fixtures.tmpDir("vt_mig").toString
    val vt = new VersionedTable(spark, root, "id", "pre", numBuckets = 4)
    val c1 = vt.upsert((1L to 8L).map(i => (i, 1L, s"a$i", s"b$i")).toDF("id", "pre", "a", "b"))
    val cDrop = vt.dropColumn("a")
    assert(!vt.snapshot.columns.contains("a") && vt.asOf(c1).columns.contains("a"),
      "drop is live-only; time travel resurrects the column")
    val cRen = vt.renameColumn("b", "bb")
    val cols = vt.snapshot.columns.toSet
    assert(cols.contains("bb") && !cols.contains("b"), s"$cols")
    assert(vt.asOf(cDrop).columns.contains("b"), "pre-rename commit keeps the old name")
    assert(vt.snapshot.orderBy("id").collect().map(_.getAs[String]("bb")).toSeq ==
      (1L to 8L).map(i => s"b$i"), "values carry through both migrations")
    // migrations move bytes, not records: per-row commit times are
    // preserved, so an incremental consumer sees no phantom changes
    assert(vt.incremental(c1).count() == 0L,
      "migration commits must be invisible to incremental reads")
    intercept[IllegalArgumentException](vt.dropColumn("id"))
    intercept[IllegalArgumentException](vt.renameColumn("bb", "pre"))
  }

  test("widenColumn: explicit widen rewrites on disk; narrowing refused") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val root = Fixtures.tmpDir("vt_widen_x").toString
    val vt = new VersionedTable(spark, root, "id", "pre", numBuckets = 4)
    vt.upsert((1L to 6L).map(i => (i, 1L, i.toInt)).toDF("id", "pre", "n")
      .select(col("id"), col("pre"), col("n").cast("int").as("n")))
    vt.widenColumn("n", "bigint")
    assert(vt.snapshot.schema("n").dataType == LongType)
    assert(vt.snapshot.orderBy("id").collect().map(_.getAs[Long]("n")).toSeq ==
      (1L to 6L), "values are preserved by the widen")
    intercept[IllegalArgumentException](vt.widenColumn("n", "int"))
  }

  test("maintainPostings follows upsert+delete; untouched postings carry verbatim") {
    import org.apache.spark.sql.functions.col
    val root = Fixtures.tmpDir("idxmaint").toString
    val vt = new VersionedTable(spark, root, "doc_id", "pre", numBuckets = 4)
    val c1 = vt.upsert(Seq((1L, "a b a", 1L), (2L, "c d", 1L), (3L, "e f", 1L))
      .toDF("doc_id", "text", "pre"))
    val p1 = graft.operators.TextSearch.postingRows(vt.snapshot, "doc_id", "text")
      .localCheckpoint()
    vt.upsert(Seq((2L, "c x", 2L)).toDF("doc_id", "text", "pre")) // update
    val c3 = vt.delete(Seq(3L).toDF("doc_id"))                    // delete
    val maintained = graft.operators.TextSearch
      .maintainPostings(vt, c1, c3, p1, "text")
    val full = graft.operators.TextSearch.postingRows(vt.snapshot, "doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(key(maintained) == key(full), "maintained must equal full recompute")
    assert(!key(maintained).exists(_._2 == 3L), "deleted doc's postings drop")
    assert(key(maintained).contains(("a", 1L, 3L, 2L)), "untouched postings carry")
    assert(key(maintained).contains(("x", 2L, 2L, 1L)), "updated doc re-tokenized")
  }

  test("incremental dedup admits only history-novel content; re-ingest is a no-op") {
    import org.apache.spark.sql.functions.col
    val root = Fixtures.tmpDir("incdedup").toString
    val index = new VersionedTable(spark, root, "h", "batch_no", numBuckets = 4)
    val b1 = Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha")).toDF("doc_id", "text")
    val a1 = graft.operators.IncrementalDedup.appendNovel(index, b1, "doc_id", "text", 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a1.values.toSet == Set(10L, 11L), s"within-batch dup keeps min id: $a1")
    // batch 2: one repeat of history, one novel
    val b2 = Seq((20L, "beta"), (21L, "gamma")).toDF("doc_id", "text")
    val a2 = graft.operators.IncrementalDedup.appendNovel(index, b2, "doc_id", "text", 2L)
      .collect().map(r => r.getLong(1)).toSet
    assert(a2 == Set(21L), s"history repeat must not re-admit: $a2")
    // index state: 3 distinct contents, first-seen ids and batches
    val snap = index.snapshot.select(col("doc_id"), col("batch_no")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap == Map(10L -> 1L, 11L -> 1L, 21L -> 2L), s"index: $snap")
    // idempotence: replaying batch 2 admits nothing and commits nothing
    val commits = index.commits.length
    val a3 = graft.operators.IncrementalDedup.appendNovel(index, b2, "doc_id", "text", 3L)
    assert(a3.isEmpty, "re-ingest admits nothing")
    assert(index.commits.length == commits, "empty admission must not commit")
  }

  test("appendNovelNearDup: exact + near-dup rejection against the signature index") {
    val root = Fixtures.tmpDir("vtnd").toString
    val index = new graft.operators.VersionedTable(spark, root, "doc_id", "batch_no",
      numBuckets = 4)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val b1 = Seq((10L, base), (11L, "hi")).toDF("doc_id", "text") // 11: no grams → null sig
    val a1 = graft.operators.IncrementalDedup
      .appendNovelNearDup(index, b1, "doc_id", "text", 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a1 == Set(10L, 11L), s"empty history admits everything: $a1")
    val b2 = Seq(
      (20L, base),                     // exact repeat of history → rejected
      (21L, base + " extra"),          // near dup of 10 → rejected by agreement
      (22L, "completely different words entirely unrelated content here now"),
      (23L, "hi")                      // exact repeat of the no-sig doc → rejected
    ).toDF("doc_id", "text")
    val a2 = graft.operators.IncrementalDedup
      .appendNovelNearDup(index, b2, "doc_id", "text", 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a2 == Set(22L), s"exact + near dups must be turned away: $a2")
    // the index carries the admitted signatures, null for the sig-less doc
    val snap = index.snapshot.collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Seq[Long]]("sig") == null)).toMap
    assert(snap.keySet == Set(10L, 11L, 22L), s"index keys: $snap")
    assert(snap(11L) && !snap(10L), s"no-gram doc indexes with null sig: $snap")
    // idempotence: replay admits nothing, commits nothing
    val commits = index.commits.length
    val a3 = graft.operators.IncrementalDedup
      .appendNovelNearDup(index, b2, "doc_id", "text", 3L)
    assert(a3.isEmpty, "re-ingest admits nothing")
    assert(index.commits.length == commits, "empty admission must not commit")
  }

  test("appendNovelSemantic: in-bucket cosine rejection against the vector index") {
    import org.apache.spark.sql.functions.col
    val root = Fixtures.tmpDir("vtsem").toString
    val index = new graft.operators.VersionedTable(spark, root, "id", "batch_no",
      numBuckets = 4)
    val b1 = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0))).toDF("id", "emb")
    val a1 = graft.operators.IncrementalDedup
      .appendNovelSemantic(index, b1, "id", "emb", 1L,
        simThreshold1e6 = 950000L, signBits = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a1 == Set(10L, 11L), s"empty history admits everything: $a1")
    val b2 = Seq(
      (20L, Seq(1.0, 0.0)),    // identical to 10 (same bucket, cos 1e6) → rejected
      (21L, Seq(0.99, 0.1)),   // near dup of 10 (same bucket, cos ≈ 0.995) → rejected
      (22L, Seq(-1.0, 0.5))    // bucket 0 with 11, but cos < 0.95 → admitted
    ).toDF("id", "emb")
    val a2 = graft.operators.IncrementalDedup
      .appendNovelSemantic(index, b2, "id", "emb", 2L,
        simThreshold1e6 = 950000L, signBits = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a2 == Set(22L), s"in-bucket near dups must be turned away: $a2")
    val snap = index.snapshot.select(col("id"), col("batch_no")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap == Map(10L -> 1L, 11L -> 1L, 22L -> 2L), s"index: $snap")
    // idempotence: replayed vectors find THEMSELVES at cosine 10^6
    val commits = index.commits.length
    val a3 = graft.operators.IncrementalDedup
      .appendNovelSemantic(index, b2, "id", "emb", 3L,
        simThreshold1e6 = 950000L, signBits = 1)
    assert(a3.isEmpty, "re-ingest admits nothing")
    assert(index.commits.length == commits, "empty admission must not commit")
  }

  test("detectStitches: two-batch replay finds the batch operator's pairs, each once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val frags = Seq(
      (1L, "alpha beta gamma delta"),    // tail2 "gamma delta"
      (2L, "gamma delta epsilon zeta"),  // head2 matches 1 (cross-batch)
      (3L, "one two three four"),        // tail2 "three four"
      (5L, "three four five six"),       // head2 matches 3 (in-batch 1)
      (4L, "epsilon zeta eta theta")     // head2 "epsilon zeta" matches 2's
                                         // tail (batch2-precedes-hist dir? no:
                                         // 2 is batch 2... both in batch 2)
    ).toDF("fid", "text")
    val index = new graft.operators.VersionedTable(spark,
      Fixtures.tmpDir("sti").toString, "fid", "batch_no", numBuckets = 4)
    val b1 = frags.filter(col("fid") % 2 === 1) // fids 1, 3, 5
    val b2 = frags.filter(col("fid") % 2 === 0) // fids 2, 4
    val p1 = graft.operators.IncrementalDedup
      .detectStitches(index, b1, "fid", "text", 2, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = graft.operators.IncrementalDedup
      .detectStitches(index, b2, "fid", "text", 2, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((3L, 5L)), s"in-batch-1 pair only: $p1")
    // ingest 2 finds: 1→2 (hist tail → batch head) and 2→4 (in-batch)
    assert(p2 == Set((1L, 2L), (2L, 4L)), s"cross + in-batch-2 pairs: $p2")
    // the union equals the batch operator on the whole corpus
    val whole = graft.operators.Dedup
      .boundaryOverlapPairs(frags, "fid", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((p1 ++ p2) == whole, s"${p1 ++ p2} vs $whole")
    // the index holds every fragment's boundary exactly once
    assert(index.snapshot.count() == 5)
  }

  test("detectStitches maxKeyDf: hot seams spanning batch AND history " +
    "are dropped per side; organic seams survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // history: 3 fragments ending in the boilerplate footer + 1 organic
    val hist = Seq(
      (1L, "unique1 words copyright footer"),
      (2L, "unique2 words copyright footer"),
      (3L, "unique3 words copyright footer"),
      (4L, "alpha beta gamma delta")).toDF("fid", "text")
    // batch: a 4th footer fragment, the footer continuation (head =
    // the hot seam), and the organic continuation of fid 4
    val batch = Seq(
      (10L, "unique4 words copyright footer"),
      (11L, "copyright footer continues onward"),
      (12L, "gamma delta epsilon zeta")).toDF("fid", "text")
    def run(cap: Option[Int]) = {
      val index = new graft.operators.VersionedTable(spark,
        Fixtures.tmpDir("sti_cap").toString, "fid", "batch_no",
        numBuckets = 4)
      graft.operators.IncrementalDedup
        .detectStitches(index, hist, "fid", "text", 2, 1L, cap).count()
      graft.operators.IncrementalDedup
        .detectStitches(index, batch, "fid", "text", 2, 2L, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // uncapped: every footer tail (df 4 across batch ∪ history)
    // stitches to fid 11's head, plus the organic 4→12 pair
    assert(run(None) ==
      Set((1L, 11L), (2L, 11L), (3L, 11L), (10L, 11L), (4L, 12L)))
    // capped at 3: the footer seam (df 4 > 3) drops from BOTH its tail
    // and head sides; the organic df-1 seam is untouched
    assert(run(Some(3)) == Set((4L, 12L)),
      "hot boilerplate seam must drop, organic continuation must survive")
    intercept[IllegalArgumentException](run(Some(0)))
  }

  test("maxPrecombineStat ≡ agg(max(precombine)) across commit kinds (r17)") {
    import org.apache.spark.sql.functions.{col, max}
    // the stat must EXACTLY match the snapshot agg in every state —
    // it replaces the maintenance gates' per-ingest full-table scan
    def aggMax(vt: VersionedTable): Option[Long] = {
      val r = vt.snapshot.agg(max(col(vt.precombine))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    def check(vt: VersionedTable, where: String): Unit =
      assert(vt.maxPrecombineStat == Some(aggMax(vt)),
        s"$where: stat=${vt.maxPrecombineStat} agg=${aggMax(vt)}")

    val vt = new VersionedTable(spark, Fixtures.tmpDir("vts").toString,
      "k", "pre", numBuckets = 4)
    assert(vt.maxPrecombineStat.isEmpty, "no commits: stat unavailable")
    vt.upsert((1 to 30).map(i => (s"K$i", i.toLong, s"v$i"))
      .toDF("k", "pre", "payload"))
    check(vt, "after initial upsert")
    // carried buckets keep their stamp; a touched one refreshes
    vt.upsert(Seq(("K1", 99L, "hot")).toDF("k", "pre", "payload"))
    check(vt, "after partial upsert raising the max")
    // deleting the max row must DROP the stat (its bucket rewrites)
    vt.delete(Seq("K1").toDF("k"))
    check(vt, "after deleting the max row")
    assert(vt.maxPrecombineStat == Some(Some(30L)))
    // fused commit
    vt.applyDelta(Seq("K30").toDF("k"),
      Seq(("K40", 50L, "x")).toDF("k", "pre", "payload"))
    check(vt, "after fused applyDelta")
    // table emptied: known-empty, not unavailable
    vt.delete((2 to 29).map(i => s"K$i").toDF("k")
      .unionAll(Seq("K40").toDF("k")))
    assert(vt.maxPrecombineStat == Some(None), "emptied table: known no max")

    // null precombine values contribute nothing (like agg(max))
    val vtn = new VersionedTable(spark, Fixtures.tmpDir("vts").toString,
      "k", "pre", numBuckets = 2)
    vtn.upsert(Seq(("A", Some(5L), "x"), ("B", None, "y"))
      .toDF("k", "pre", "payload"))
    check(vtn, "nullable precombine")
    val vtAllNull = new VersionedTable(spark,
      Fixtures.tmpDir("vts").toString, "k", "pre", numBuckets = 2)
    vtAllNull.upsert(Seq(("A", None: Option[Long], "x"))
      .toDF("k", "pre", "payload"))
    assert(vtAllNull.maxPrecombineStat == Some(None), "all-null: known no max")

    // payload-partitioned table: stamps work the same
    val vtp = new VersionedTable(spark, Fixtures.tmpDir("vts").toString,
      "ek", "pre", numBuckets = 4, partitionColOpt = Some("cid"))
    vtp.upsert(Seq(("e1", 10L, 3L), ("e2", 20L, 7L)).toDF("ek", "cid", "pre"))
    check(vtp, "payload-partitioned")
    vtp.upsertMoved(Seq(("e1", 30L, 9L)).toDF("ek", "cid", "pre"),
      Seq(("e1", 10L)).toDF("ek", "cid"))
    check(vtp, "after cross-partition move")

    // v1 (stampless) manifest lines disable the stat — back-compat. A
    // commit is immutable and memoized per instance, so the rewritten
    // manifest is read by a table opened after the rewrite
    val vtlRoot = Fixtures.tmpDir("vts").toString
    val vtl = new VersionedTable(spark, vtlRoot, "k", "pre", numBuckets = 2)
    vtl.upsert(Seq(("A", 1L, "x"), ("B", 2L, "y")).toDF("k", "pre", "payload"))
    val manifest = Paths.get(
      vtl.snapshot.inputFiles.head.stripPrefix("file:")
        .split("/data/").head + "/manifest.tsv")
    val legacy = Files.readAllLines(manifest).asScala.map { l =>
      if (l.startsWith("#")) l else l.split("\t").take(2).mkString("\t")
    }
    Files.writeString(manifest, legacy.mkString("", "\n", "\n"))
    assert(new VersionedTable(spark, vtlRoot, "k", "pre", numBuckets = 2)
      .maxPrecombineStat.isEmpty,
      "v1 manifest: stat unavailable, consumers fall back to the agg")
    // a non-integer precombine never stamps (stat stays unavailable)
    val vts = new VersionedTable(spark, Fixtures.tmpDir("vts").toString,
      "k", "ts", numBuckets = 2)
    vts.upsert(Seq(("A", "2025-01-01", "x")).toDF("k", "ts", "payload"))
    assert(vts.maxPrecombineStat.isEmpty, "string precombine: no stat")
  }

  test("reads and commits launch no schema-inference job; a snapshot scans once per schema") {
    val root = Fixtures.tmpDir("vtjobs").toString
    val kb = keyPerBucket(4)
    val writer = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val c1 = writer.upsert((1 to 40).map(i => (s"K$i", 1L, s"p$i")).toDF("k", "pre", "payload"))
    writer.upsert(Seq((kb(0), 2L, "b0")).toDF("k", "pre", "payload"))
    val c3 = writer.upsert(Seq((kb(1), 2L, "b1")).toDF("k", "pre", "payload"))
    assert(jobsOutsideSql(spark.read.parquet(s"$root/$c1/data/_bucket=0")) > 0,
      "the counter must see an inference job")
    assert(fileScans(writer.snapshot) == 1, "three writer commits, one schema, one scan")
    // a fourth writer commit adds a column: two schemas, two scans
    writer.upsert(Seq((kb(2), 2L, "b2", 7L)).toDF("k", "pre", "payload", "extra"))
    assert(fileScans(writer.snapshot) == 2)
    assert(fileScans(new VersionedTable(spark, root, "k", "pre", numBuckets = 4).snapshot) == 2)
    def reads(vt: VersionedTable): Seq[(String, () => Any)] = Seq(
      "snapshot" -> (() => vt.snapshot.collect()),
      "asOf" -> (() => vt.asOf(c3).collect()),
      "diff" -> (() => vt.diff(c1, vt.commits.head).collect()),
      "incremental" -> (() => vt.incremental(c1).collect()),
      "snapshotPrunedBy" -> (() => vt.snapshotPrunedBy(Seq(kb(0), kb(2)).toDF("k")).collect()))
    val cold = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val commits: Seq[(String, () => Any)] = Seq(
      "upsert" -> (() => cold.upsert(Seq((kb(3), 3L, "b3")).toDF("k", "pre", "payload"))),
      "delete" -> (() => cold.delete(Seq(kb(1)).toDF("k"))),
      "applyDelta" -> (() => cold.applyDelta(Seq(kb(0)).toDF("k"),
        Seq((kb(2), 3L, "b2c", 8L)).toDF("k", "pre", "payload", "extra"))))
    for ((name, op) <- reads(new VersionedTable(spark, root, "k", "pre", numBuckets = 4)) ++
        reads(writer) ++ commits)
      assert(jobsOutsideSql(op()) == 0, s"$name launched a job outside a SQL execution")
    assert(cold.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload"))
      .toMap == (1 to 40).map(i => s"K$i" -> s"p$i").toMap - kb(0) - kb(1) +
        (kb(2) -> "b2c") + (kb(3) -> "b3"))
  }

  test("a manifest is published by an atomic move: a temp manifest alone is no commit") {
    val root = Fixtures.tmpDir("vtpub").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    val c1 = vt.upsert((1 to 20).map(i => (s"K$i", 1L, s"p$i")).toDF("k", "pre", "payload"))
    val c2 = vt.delete(Seq("K1").toDF("k"))
    for (c <- Seq(c1, c2)) assert(graft.util.Fs.list(Paths.get(s"$root/$c"))
      .map(_.getFileName.toString).toSet == Set("data", "manifest.tsv"),
      s"commit $c must leave no temp file")
    // a commit that died after its data, while its manifest was still a
    // temp file, and one that died holding only the temp file
    val body = Files.readString(Paths.get(s"$root/$c2/manifest.tsv"))
    val torn = (c2.toLong + 5).toString
    Seq(("K2", 9L, "SHOULD_NOT_WIN")).toDF("k", "pre", "payload")
      .write.parquet(s"$root/$torn/data/_bucket=0")
    Files.writeString(Paths.get(s"$root/$torn/.manifest.tsv.tmp"), body)
    val bare = (c2.toLong + 9).toString
    Files.createDirectories(Paths.get(s"$root/$bare"))
    Files.writeString(Paths.get(s"$root/$bare/.manifest.tsv.tmp"), body)
    val want = (2 to 20).map(i => s"K$i" -> s"p$i").toMap
    for (t <- Seq(vt, new VersionedTable(spark, root, "k", "pre", numBuckets = 4))) {
      assert(t.commits == Seq(c2, c1))
      assert(t.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload"))
        .toMap == want)
    }
    // the next commit lands after both dead ones and merges against c2
    val c3 = vt.upsert(Seq(("K3", 2L, "p3b")).toDF("k", "pre", "payload"))
    assert(c3 > bare && vt.commits == Seq(c3, c2, c1))
    assert(vt.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload"))
      .toMap == want + ("K3" -> "p3b"))
  }

  test("schema evolution reads as the per-writer-commit union, after clean and rebucket too") {
    import org.apache.spark.sql.functions.col
    val root = Fixtures.tmpDir("vtevo").toString
    val kb = keyPerBucket(4)
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 4)
    // schema A: n and m are ints
    def rowsA(keys: Seq[String], pre: Long) = keys.map(k => (k, pre, k.length, 7, s"a$k$pre"))
      .toDF("k", "pre", "n", "m", "a")
    vt.upsert(rowsA((1 to 40).map(i => s"K$i"), 1L))
    // an added column in bucket 0
    vt.upsert(rowsA(Seq(kb(0)), 2L).withColumn("extra", col("pre") * 10))
    // implicit int→long widening in bucket 1
    vt.upsert(rowsA(Seq(kb(1)), 2L).withColumn("n", col("n").cast("long") + 3000000000L))
    // back to schema A in bucket 2: writers c1 and c4 share a schema
    val c4 = vt.upsert(rowsA(Seq(kb(2)), 2L))
    assert(fileScans(vt.asOf(c4)) == 3, "four writer commits, three schemas")
    assertReadsMatchReference(vt, root, "alternating schemas")
    vt.widenColumn("m", "bigint")
    vt.upsert(rowsA(Seq(kb(3)), 3L))
    vt.renameColumn("a", "aa")
    vt.dropColumn("extra")
    vt.upsert(rowsA(Seq(kb(0)), 4L).withColumnRenamed("a", "aa"))
    def cold(buckets: Int) = new VersionedTable(spark, root, "k", "pre", numBuckets = buckets)
    assertReadsMatchReference(vt, root, "warm")
    assertReadsMatchReference(cold(4), root, "cold")
    assert(vt.clean(keepLast = 3).nonEmpty)
    assertReadsMatchReference(vt, root, "warm after clean")
    assertReadsMatchReference(cold(4), root, "cold after clean")
    val vt8 = vt.rebucket(8)
    assertReadsMatchReference(vt8, root, "rebucketed")
    assertReadsMatchReference(cold(8), root, "cold after rebucket")
    assertReadsMatchReference(vt, root, "pre-rebucket handle")
  }

  /** `df`'s rows with each commit id in `_commit_time` replaced by its
    * ordinal in `ids`, so two tables' reads compare across commit ids.
    */
  private def rowsByOrdinal(df: DataFrame, ids: Seq[String]): Seq[String] = {
    val ord = ids.zipWithIndex.toMap
    val at = df.columns.indexOf("_commit_time")
    df.collect().map(r => r.toSeq.zipWithIndex.map { case (v, i) =>
      if (i == at) s"c${ord(v.asInstanceOf[String])}" else v
    }.mkString("|")).toSeq.sorted
  }

  /** Every read of `got` equals the same read of `want`, commit ids
    * matched by ordinal: snapshot, and at each commit of `at` (every
    * one by default) asOf, incremental and diff to the next and the
    * last commit; and the precombine stat.
    */
  private def assertSameTable(got: VersionedTable, gotIds: Seq[String],
      want: VersionedTable, wantIds: Seq[String], what: String,
      at: Seq[Int] = Nil): Unit = {
    def same(g: DataFrame, w: DataFrame, read: String): Unit = {
      assert(g.schema == w.schema, s"$what $read: schema")
      assert(rowsByOrdinal(g, gotIds) == rowsByOrdinal(w, wantIds), s"$what $read: rows")
    }
    same(got.snapshot, want.snapshot, "snapshot")
    assert(got.maxPrecombineStat == want.maxPrecombineStat, s"$what maxPrecombineStat")
    for (i <- if (at.isEmpty) gotIds.indices else at) {
      same(got.asOf(gotIds(i)), want.asOf(wantIds(i)), s"asOf($i)")
      same(got.incremental(gotIds(i)), want.incremental(wantIds(i)), s"incremental($i)")
      for (j <- Set(i + 1, gotIds.size - 1) if j > i && j < gotIds.size)
        same(got.diff(gotIds(i), gotIds(j)), want.diff(wantIds(i), wantIds(j)), s"diff($i, $j)")
    }
  }

  private def parquetBytes(dir: String): Seq[Long] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(Files.size(_)).toSeq

  test("a small default table is one bucket and reads as a 16-bucket table") {
    val rnd = new scala.util.Random(12)
    def rec(k: String, pre: Long): (String, Long, String, String) =
      (k, pre, s"name ${rnd.nextInt(1000)}", rnd.alphanumeric.take(40).mkString)
    var next = 0
    def newKey() = { next += 1; f"P$next%07d" }
    // the op mix of the lake_versioned bench: a bulk load, then upserts
    // of higher, lower and equal precombine on live keys, re-inserts of
    // deleted keys and new keys, and deletes of live and absent keys
    val live = scala.collection.mutable.Map.empty[String, Long]
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = scala.collection.mutable.ArrayBuffer
      .empty[Either[Seq[String], Seq[(String, Long, String, String)]]]
    def upsert(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.foreach(r => if (live.get(r._1).forall(r._2 >= _)) live(r._1) = r._2)
      ops += Right(rows)
    }
    upsert(Seq.fill(1000)(rec(newKey(), rnd.nextInt(1000).toLong)))
    for (_ <- 1 to 2; step <- 0 until 4) {
      if (step == 2) {
        val keys = rnd.shuffle(live.keys.toSeq.sorted).take(4)
        keys.foreach(live.remove); deleted ++= keys
        ops += Left(keys :+ newKey())
      } else {
        val chosen = rnd.shuffle(live.keys.toSeq.sorted).take(8)
        val rows = chosen.zipWithIndex.map { case (k, i) =>
          rec(k, live(k) + (if (i < 3) 3 else if (i < 6) -3 else 0))
        } ++ (1 to math.min(deleted.size, 2)).map(_ => rec(deleted.remove(rnd.nextInt(deleted.size)), 5L))
        upsert(rows ++ Seq.fill(16 - rows.size)(rec(newKey(), rnd.nextInt(1000).toLong)))
      }
    }
    def run(vt: VersionedTable): Seq[String] = ops.toSeq.map {
      case Right(rows) => vt.upsert(rows.toDF("patient_id", "pre", "name", "note"))
      case Left(keys) => vt.delete(keys.toDF("patient_id"))
    }
    val sizedRoot = Fixtures.tmpDir("vtsized").toString
    val sized = new VersionedTable(spark, sizedRoot, "patient_id", "pre")
    val fixed = new VersionedTable(spark, Fixtures.tmpDir("vtfixed").toString, "patient_id", "pre",
      numBuckets = 16)
    val (sizedIds, fixedIds) = (run(sized), run(fixed))
    assert(parquetBytes(s"$sizedRoot/${sizedIds.head}/data").size == 1, "the bulk load is one file")
    assert(sized.commits == sizedIds.reverse, "no growth commit on a 1,000-row table")
    for (c <- sizedIds)
      assert(Files.readAllLines(Paths.get(s"$sizedRoot/$c/manifest.tsv")).get(0) == "#buckets=1")
    assert(sized.snapshot.collect().map(_.getAs[String]("patient_id")).toSet == live.keySet)
    assertSameTable(sized, sizedIds, fixed, fixedIds, "sized vs fixed")
  }

  test("past the target a table doubles its buckets; 16-row commits stay small") {
    val target = 16L << 10
    val rnd = new scala.util.Random(7)
    def rows(keys: Seq[Int], pre: Long) =
      keys.map(k => (f"K$k%06d", pre, rnd.alphanumeric.take(48).mkString)).toDF("k", "pre", "payload")
    val root = Fixtures.tmpDir("vtgrow").toString
    val vt = new VersionedTable(spark, root, "k", "pre")
    vt.targetBucketBytes = target
    val ref = new VersionedTable(spark, Fixtures.tmpDir("vtgrowref").toString, "k", "pre",
      numBuckets = 16)
    def buckets: Int = Files.readAllLines(Paths.get(s"$root/${vt.commits.head}/manifest.tsv"))
      .get(0).stripPrefix("#buckets=").toInt
    val ids = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // (ordinal of the commit that grew the table, count before, after)
    val growth = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    def both(df: DataFrame): String = {
      val before = if (ids.isEmpty) 1 else buckets
      ids += vt.upsert(df) -> ref.upsert(df)
      if (buckets != before) growth += ((ids.size - 1, before, buckets))
      ids.last._1
    }
    both(rows(1 to 100, 1L))
    assert(buckets == 1)
    var size = 100
    val smallCommitBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (size < 10000) {
      // at most double the rows: every insert rewrites every bucket, so
      // the mean bucket starts at most at the target and ends at most at
      // twice it, and each growth is one doubling
      val add = math.min(size, 10000 - size)
      both(rows(size + 1 to size + add, 1L))
      size += add
      // a 16-row upsert: 12 updates spread over the keys, 4 new keys
      val keys = (1 to 12).map(i => i * size / 13) ++ (size + 1 to size + 4)
      size += 4
      smallCommitBytes += parquetBytes(s"$root/${both(rows(keys, 2L))}/data").sum
    }
    assert(vt.snapshot.count() >= 100 * 100)
    assert(growth.size >= 4 && growth.forall { case (_, a, b) => b == 2 * a }, s"growth: $growth")
    assert(smallCommitBytes.forall(_ <= 16 * target), s"bytes per 16-row commit: $smallCommitBytes")
    // reads before, across and after each doubling
    val around = growth.flatMap(g => Seq(g._1 - 1, g._1, g._1 + 1)).filter(ids.indices.contains)
    assertSameTable(vt, ids.map(_._1).toSeq, ref, ids.map(_._2).toSeq, "grown vs fixed",
      around.distinct.sorted.toSeq)
  }

  test("commit ids carry milliseconds: asOf(now) sees ten back-to-back commits") {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC)
    val root = Fixtures.tmpDir("vtclock").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 1)
    val ids = (1 to 10).map(i => vt.upsert(Seq(("A", i.toLong, s"v$i")).toDF("k", "pre", "payload")))
    val now = fmt.format(java.time.Instant.now())
    assert(ids.forall(_.matches("\\d{17}")) && ids.distinct == ids.sorted, s"$ids")
    assert(vt.asOf(now).collect().map(_.getAs[String]("payload")).toSeq == Seq("v10"))
    // a 14-digit id, a second ahead of the clock as the old minting
    // could leave it: it still reads, and the next id sorts after it
    val old = (ids.last.take(14).toLong + 1).toString
    Files.move(Paths.get(s"$root/${ids.last}"), Paths.get(s"$root/$old"))
    val manifest = Paths.get(s"$root/$old/manifest.tsv")
    Files.writeString(manifest, Files.readString(manifest).replace(ids.last, old))
    val reopened = new VersionedTable(spark, root, "k", "pre")
    assert(reopened.commits.take(2) == Seq(old, ids(8)))
    assert(reopened.snapshot.collect().map(_.getAs[String]("payload")).toSeq == Seq("v10"))
    val after = reopened.upsert(Seq(("A", 11L, "v11")).toDF("k", "pre", "payload"))
    assert(after.length == 17 && after > old && reopened.commits.take(2) == Seq(after, old))
  }

  /** Spark jobs `body` launched, each with the shuffles it wrote or read. */
  private def jobShuffles(body: => Any): Seq[(Option[String], Set[Int])] =
    Fixtures.jobShufflesDuring(spark)(body)._2

  test("on a one-bucket table an upsert is one job, a delete two and a diff one, none shuffling") {
    val root = Fixtures.tmpDir("vtonejob").toString
    val vt = new VersionedTable(spark, root, "k", "pre")
    val c1 = vt.upsert((1 to 200).map(i => (s"K$i", 1L, s"p$i")).toDF("k", "pre", "payload"))
    val up = jobShuffles(vt.upsert(Seq(("K1", 2L, "p1b"), ("K201", 1L, "p201")).toDF("k", "pre", "payload")))
    val del = jobShuffles(vt.delete(Seq("K2", "KNOPE").toDF("k")))
    val head = vt.commits.head
    val diff = jobShuffles(vt.diff(c1, head).collect())
    for ((name, jobs, want) <- Seq(("upsert", up, 1), ("delete", del, 2), ("diff", diff, 1)))
      assert(jobs.size == want && jobs.forall(j => j._1.isDefined && j._2.isEmpty), s"$name: $jobs")
    assert(vt.diff(c1, head).collect().map(r => r.getString(0) -> r.getAs[String]("change_type")).toMap ==
      Map("K1" -> "update", "K2" -> "delete", "K201" -> "insert"))
    for (c <- vt.commits) {
      assert(Files.readAllLines(Paths.get(s"$root/$c/manifest.tsv")).get(0) == "#buckets=1")
      assert(parquetBytes(s"$root/$c/data").size == 1, s"commit $c is one file")
    }
  }

  test("on an 8-bucket table an upsert of several buckets is a probe job and one shuffle") {
    val root = Fixtures.tmpDir("vtshuffle").toString
    val vt = new VersionedTable(spark, root, "k", "pre", numBuckets = 8)
    vt.upsert((1 to 80).map(i => (s"K$i", 1L, s"payload $i")).toDF("k", "pre", "payload"))
    val keys = keyPerBucket(8).take(4)
    // however small, a several-bucket write shuffles on the bucket, so
    // each touched bucket has its own task
    val jobs = jobShuffles(vt.upsert(keys.map(k => (k, 2L, s"new $k")).toDF("k", "pre", "payload")))
    assert(jobs.size == 3 && jobs.head._2.isEmpty && jobs.flatMap(_._2).toSet.size == 1, s"$jobs")
    val c2 = vt.commits.head
    assert(Files.readAllLines(Paths.get(s"$root/$c2/manifest.tsv")).get(0) == "#buckets=8", "no growth")
    assert(graft.util.Fs.list(Paths.get(s"$root/$c2/data")).filter(_.getFileName.toString.startsWith("_bucket="))
      .map(d => parquetBytes(d.toString).size) == Seq(1, 1, 1, 1), "one file per touched bucket")
    assert(vt.snapshot.collect().map(r => r.getAs[String]("k") -> r.getAs[String]("payload")).toMap ==
      (1 to 80).map(i => s"K$i" -> s"payload $i").toMap ++ keys.map(k => k -> s"new $k"))
    // one touched bucket is one write task either way: no shuffle
    val one = jobShuffles(vt.upsert(Seq((keys.head, 3L, "one")).toDF("k", "pre", "payload")))
    assert(one.size == 2 && one.forall(_._2.isEmpty), s"one touched bucket: $one")
  }

  /** The commit and diff plans as they were before the bucket clustering,
    * over a whole table state: the merge windows on the record key (one
    * shuffle) and repartitions on the bucket for the write (a second),
    * and the diff full-outer joins the two sides through two exchanges.
    */
  private object Before {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._

    def merge(state: Option[DataFrame], updates: DataFrame, deleteKeys: Option[DataFrame],
        ts: String): DataFrame = {
      val tagged = updates.withColumn("_is_update", lit(1)).withColumn("_commit_time", lit(ts))
      val merged = state.fold(tagged)(s => deleteKeys.fold(s)(delete(s, _))
        .withColumn("_is_update", lit(0)).unionByName(tagged, allowMissingColumns = true))
      val w = Window.partitionBy(col("k")).orderBy(col("pre").desc, col("_is_update").desc)
      merged.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn", "_is_update")
        .withColumn("_bucket", pmod(xxhash64(coalesce(col("k"), lit("-"))), lit(4L)))
        .repartition(4, col("_bucket")).drop("_bucket")
    }

    def delete(rows: DataFrame, keys: DataFrame): DataFrame =
      rows.join(keys.select(col("k").as("_del_key")), rows("k") <=> col("_del_key"), "left_anti")

    def diff(a: DataFrame, b: DataFrame, payload: Seq[String]): DataFrame = {
      val ap = a.select(col("k").as("_ka") +: lit(true).as("_pa") +: payload.map(c => col(c).as(s"before_$c")): _*)
      val bp = b.select(col("k").as("_kb") +: lit(true).as("_pb") +: payload.map(c => col(c).as(s"after_$c")): _*)
      val same = struct(payload.map(c => col(s"before_$c")): _*) <=> struct(payload.map(c => col(s"after_$c")): _*)
      ap.join(bp, col("_ka") <=> col("_kb"), "full_outer")
        .withColumn("k", coalesce(col("_ka"), col("_kb")))
        .withColumn("change_type", when(col("_pa").isNull, lit("insert"))
          .when(col("_pb").isNull, lit("delete")).when(!same, lit("update")))
        .filter(col("change_type").isNotNull)
        .select(col("k") +: col("change_type") +: payload.flatMap(c => Seq(col(s"before_$c"), col(s"after_$c"))): _*)
    }
  }

  /** `got` holds `want`'s rows over `got`'s columns; a column only
    * `want` has is all null (a bucket-emptying delete can drop an added
    * column's last writer from the manifest).
    */
  private def assertSameState(got: DataFrame, want: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.functions.col
    assert(got.columns.toSet.subsetOf(want.columns.toSet), s"$what: ${got.columns.toSeq}")
    for (c <- want.columns if !got.columns.contains(c))
      assert(want.filter(col(c).isNotNull).isEmpty, s"$what: $c")
    val cols = got.columns.sorted.toSeq.map(col)
    assert(sortedRows(got.select(cols: _*)) == sortedRows(want.select(cols: _*)), s"$what: rows")
  }

  /** A fuzzed op mix on `vt` (key `k`, precombine `pre`, payload, and a
    * partition column `part` when `vt` is payload-partitioned), checked
    * against [[Before]] after every commit, then asOf at every commit and
    * diff between neighbouring and first-to-last commits. Precombine
    * values are few, so ties are common; key-bucketed tables also see
    * null keys; past the middle, upserts may add an `extra` column.
    * Returns, per commit, whether it ran a shuffle.
    */
  private def fuzzAgainstBefore(vt: VersionedTable, seed: Int, ops: Int): Seq[Boolean] = {
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(seed)
    val parted = vt.partitionColOpt.isDefined
    val pool: IndexedSeq[String] = (0 until 40).map(i => s"K$i") ++ (if (parted) Nil else Seq(null))
    var state: Option[DataFrame] = None
    val states = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val shuffled = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def keep(df: DataFrame): DataFrame = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    def pick(n: Int): Seq[String] = rnd.shuffle(pool).take(n)
    def current(keys: Seq[String]): DataFrame =
      state.get.filter(col("k").isin(keys.filter(_ != null): _*)).select("k", "part")
    def updates(keys: Seq[String], i: Int): DataFrame = {
      val base = keys.map(k => (k, rnd.nextInt(3).toLong, s"v$i-${rnd.nextInt(100)}", rnd.nextInt(6).toLong))
        .toDF("k", "pre", "payload", "part")
      val df = if (parted) base else base.drop("part")
      if (i > ops / 2 && rnd.nextBoolean()) df.withColumn("extra", lit(s"x$i")) else df
    }
    def deleteKeys(keys: Seq[String]): DataFrame =
      if (!parted) keys.toDF("k")
      else current(keys).unionByName(Seq(("KNOPE", 0L)).toDF("k", "part"))
    for (i <- 0 until ops) {
      val op = if (i == 0) 0 else rnd.nextInt(3)
      val keys = pick(if (i == 0) 30 else 1 + rnd.nextInt(8))
      val dels = pick(1 + rnd.nextInt(4)) :+ "KNOPE"
      val ups = updates(keys, i)
      val old = state.filter(_ => parted).map(_ => current(keys))
      var ts = ""
      val jobs = jobShuffles {
        ts = op match {
          case 0 => old.fold(vt.upsert(ups))(vt.upsertMoved(ups, _))
          case 1 => vt.delete(deleteKeys(dels))
          case _ => vt.applyDelta(deleteKeys(dels), ups, old)
        }
      }
      shuffled += jobs.exists(_._2.nonEmpty)
      val next = keep(op match {
        case 0 => Before.merge(state, ups, None, ts)
        case 1 => Before.delete(state.get, dels.toDF("k"))
        case _ => Before.merge(state, ups, Some(dels.toDF("k")), ts)
      })
      state = Some(next)
      states += ts -> next
      assertSameState(vt.snapshot, next, s"seed $seed op $i snapshot")
    }
    for (((ts, want), i) <- states.zipWithIndex) {
      assertSameState(vt.asOf(ts), want, s"seed $seed asOf($i)")
      for (j <- Set(i + 1, states.size - 1) if j > i && j < states.size) {
        val got = vt.diff(ts, states(j)._1)
        val payload = got.columns.toSeq.filter(_.startsWith("before_")).map(_.stripPrefix("before_"))
        val ref = Before.diff(want, states(j)._2, payload)
        assert(got.columns.toSeq == ref.columns.toSeq && sortedRows(got) == sortedRows(ref),
          s"seed $seed diff($i, $j)")
      }
    }
    shuffled.toSeq
  }

  test("clustered commits and diffs equal the shuffled plans over fuzzed op mixes") {
    // a default (one-bucket) table: no probe job, one task per commit
    val one = fuzzAgainstBefore(new VersionedTable(spark, Fixtures.tmpDir("vtfz1").toString, "k", "pre"), 1, 14)
    assert(!one.exists(identity), s"one bucket: $one")
    // 8 buckets: a commit touching one bucket runs in one task, a wider
    // one shuffles on the bucket
    for ((part, seed) <- Seq(None -> 2, Some("part") -> 3)) {
      val vt = new VersionedTable(spark, Fixtures.tmpDir("vtfz8").toString, "k", "pre", numBuckets = 8,
        partitionColOpt = part)
      val shuffled = fuzzAgainstBefore(vt, seed, 16)
      assert(shuffled.contains(true) && shuffled.tail.contains(false), s"$part: both sides of the guard: $shuffled")
    }
  }
}
