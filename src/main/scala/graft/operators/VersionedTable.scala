package graft.operators

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths,
  StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Hudi-semantics versioned table on plain parquet (the image ships no
  * Hudi jars, so this reimplements the reference's surface —
  * hudi/register_hudi.py:44-96 — as copy-on-write snapshots):
  *
  *  - `upsert`: key-equality merge on `recordKey`, ties resolved by
  *    max(`precombine`) (Hudi precombine semantics, register_hudi.py:65);
  *    writes only the key-hash buckets the update touches (COW at
  *    bucket granularity).
  *  - `delete`: key-set removal as a COW commit (Hudi delete
  *    operation) — touched buckets rewritten without the keys, older
  *    commits untouched for time travel.
  *  - `diff`: key-level change feed (insert/delete/update) between
  *    any two commits via snapshot comparison — sees deletes, unlike
  *    `incremental`.
  *  - `snapshot`: latest commit read (S8's latest-version autodiscovery
  *    — lexicographic max dir, register_hudi.py:22-41).
  *  - `asOf`: time travel — newest commit ≤ the given ts
  *    (README.md:196-199 `as.of.instant`).
  *  - `commits`: distinct commit times desc (A4/O6).
  *
  * Layout and scale: rows are hash-partitioned on `recordKey` into
  * buckets. Each commit dir holds `data/_bucket=<b>/` parquet for ONLY
  * the buckets its updates touched, plus a manifest mapping every live
  * bucket to the commit that last wrote it. A snapshot read unions the
  * manifest's bucket paths; untouched buckets' files are shared between
  * commits without being copied or rewritten — so a 1-row upsert into a
  * 100 TB table rewrites one bucket, not the table. This is the same
  * file-group/commit-timeline idea Hudi uses.
  *
  * The bucket layout does the clustering a commit needs, as Hudi's
  * bucket index does (https://hudi.apache.org/docs/indexes). The
  * touched buckets come from one probe with no shuffle (no job at all on
  * a one-bucket table). The touched rows are tagged with their bucket
  * and clustered once before the precombine window: into one task when
  * the commit touches one bucket (a one-bucket write is one task
  * either way), else by a shuffle on the bucket. A record-key-bucketed
  * table windows over (bucket, recordKey) — the same groups as
  * recordKey alone, as the bucket is a function of the key — so neither
  * the window nor the bucket-partitioned write adds an exchange: an
  * upsert into a one-bucket table is one Spark job, and every touched
  * bucket is one file. A [[diff]] that reads at most one bucket per
  * side joins its two sides in one task the same way.
  *
  * The bucket count follows the table's bytes, as Hudi's file sizing
  * does (https://hudi.apache.org/docs/file_sizing). A table's first
  * commit takes the count its caller seeded, or else
  * [[VersionedTable.suggestBucketCount]] of the input's Catalyst size
  * estimate, which runs no job: a small table is one bucket, one file.
  * Every later commit, on any handle, takes the count from the latest
  * manifest's `#buckets=` header. When the buckets a commit rewrote
  * average more than [[VersionedTable.TargetBucketBytes]], the same
  * call migrates a record-key-bucketed table to at least twice the
  * buckets (a [[rebucket]] commit), so bytes per small commit stay
  * bounded as the table grows. A file group costs a task, a parquet
  * writer or footer and its directories on every commit and read that
  * touches it, which on a small table outweighs the bytes.
  *
  * Commit metadata is memoized per instance: a complete commit never
  * changes, so its manifest and the row schema of the files it wrote
  * are read from disk at most once (the schema from one parquet footer
  * on the driver, or from the footers a commit reads anyway for its
  * stamps). Every scan is built with that schema, so no read or commit
  * launches a schema-inference job, and a read's branch count is
  * bounded by the distinct schemas its manifest references.
  */
object VersionedTable {
  /** The size a bucket's file group is kept at or under: Hudi's default
    * maximum parquet file size (`hoodie.parquet.max.file.size`), so a
    * touched-bucket rewrite stays one comfortable task.
    */
  val TargetBucketBytes: Long = 128L << 20

  private val FooterOptions = ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  /** The bucket-sizing rule: enough buckets to keep each at or under
    * `targetBucketBytes`, rounded UP to a power of two so successive
    * growth migrations double cleanly. A table sizes its first commit
    * and its growth with it (see the class doc's layout paragraph).
    */
  def suggestBucketCount(tableBytes: Long, targetBucketBytes: Long = TargetBucketBytes): Int = {
    require(tableBytes >= 0 && targetBucketBytes > 0)
    // div-then-round-up: the add-before-divide ceiling would overflow
    // Long for near-Long.MaxValue sizes and answer 1
    val needed = math.max(1L, tableBytes / targetBucketBytes +
      (if (tableBytes % targetBucketBytes == 0) 0L else 1L))
    val capped = math.min(needed, 1L << 20) // 2^20 buckets ≈ 128 TB at 128 MB each
    var p = 1L
    while (p < capped) p <<= 1
    p.toInt
  }

  /** One commit's `manifest.tsv`, the single codec of its format: header
    * lines `#buckets=<n>` and, on payload-partitioned tables,
    * `#partcol=<c>`, then one line per live bucket naming the commit that
    * last wrote it, `bucket \t writer` (v1) or `bucket \t writer \t stamp`
    * (v2). The stamp is the bucket's exact max(<precombine>) as of its
    * writing commit, `-` when it holds no non-null value; a v1 line or an
    * unparsable stamp leaves the bucket out of `stamps` (stat unknown).
    * `buckets` is None for a pre-header or unparsable header.
    */
  private final case class Manifest(buckets: Option[Int], partCol: Option[String],
      writers: Map[Int, String], stamps: Map[Int, Option[Long]]) {
    def render: String =
      (buckets.map(n => s"#buckets=$n").toSeq ++ partCol.map(c => s"#partcol=$c") ++
        writers.toSeq.sortBy(_._1).map { case (b, c) =>
          stamps.get(b).fold(s"$b\t$c")(s => s"$b\t$c\t${s.fold("-")(_.toString)}")
        }).mkString("", "\n", "\n")
  }

  private object Manifest {
    def parse(lines: Seq[String]): Manifest = {
      def header(key: String) =
        lines.find(_.startsWith(s"#$key=")).map(_.stripPrefix(s"#$key=").trim)
      val entries = lines.filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      Manifest(header("buckets").flatMap(_.toIntOption), header("partcol"),
        entries.map(p => p(0).toInt -> p(1)).toMap,
        entries.filter(_.length >= 3).flatMap { p =>
          if (p(2) == "-") Some(p(0).toInt -> None)
          else p(2).toLongOption.map(v => p(0).toInt -> Some(v))
        }.toMap)
    }
  }
}

/** @param numBuckets the bucket count of a NEW table's first commit; 0
  *   (the default) sizes it from the input's bytes. An existing table
  *   keeps the count its manifest records, whatever a handle passes.
  * @param partitionColOpt bucket the table's FILES by this payload
  *   column instead of the record key (VERDICT r15 item 2 — e.g. a
  *   dedup edge store bucketed by `cluster_id` so a takedown's
  *   induced-subgraph read is file-pruned via [[VersionedTable.snapshotPrunedBy]]).
  *   The record key stays the merge identity. This is Hudi's
  *   PARTITION-SCOPED (non-global) index contract, stated not hidden:
  *   the upsert merge only sees the buckets the incoming rows' partition
  *   values hash to, so an update that CHANGES a row's partition value
  *   must go through [[VersionedTable.upsertMoved]] with the old values — a plain
  *   [[VersionedTable.upsert]] would leave the stale copy alive in its old bucket
  *   (exactly the duplicate Hudi documents for non-global indexes when a
  *   record's partition path changes). Same rule for [[VersionedTable.delete]]:
  *   the keys frame must carry the partition column with the rows'
  *   CURRENT values. The partition column is part of the persisted
  *   layout (manifest header) — reopening with a different one fails.
  */
final class VersionedTable(spark: SparkSession, root: String,
    val recordKey: String, val precombine: String, numBuckets: Int = 0,
    val partitionColOpt: Option[String] = None) {
  require(numBuckets >= 0, s"numBuckets must be >= 0, got $numBuckets")

  val CommitCol = "_commit_time"
  private val BucketCol = "_bucket"

  /** The mean rewritten-bucket size past which a commit grows the
    * table; package-visible so specs can grow a table of a few KB.
    */
  private[graft] var targetBucketBytes: Long = VersionedTable.TargetBucketBytes

  /** The column whose hash places a row's FILE: the payload partition
    * column when configured, else the record key.
    */
  private val bucketCol: String = partitionColOpt.getOrElse(recordKey)

  /** Deterministic value→bucket hash. Values are hashed via their
    * string form so the assignment is stable across physical column
    * types; nulls coalesce to a sentinel so they land in a real bucket
    * (xxhash64 of a null column would be null → rows lost to an
    * unreferenced default partition). COMPAT: the sentinel is part of
    * the persisted layout — changing it re-buckets null keys, so
    * existing tables with null-key rows would stop merging them.
    */
  private def bucketExpr(n: Int) =
    pmod(xxhash64(coalesce(col(bucketCol).cast("string"), lit("__graft_null_key__"))),
      lit(n.toLong))

  /** Commit dirs, oldest first: ids are `yyyyMMddHHmmssSSS`, or
    * `yyyyMMddHHmmss` from before commit ids carried milliseconds; a
    * 14-digit id sorts as the first millisecond of its second.
    */
  private def commitDirsAll: Seq[String] =
    graft.util.Fs.list(Paths.get(root))
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(_.matches("\\d{14}(\\d{3})?")).sorted

  /** A commit is COMPLETE when its manifest exists. A dir with `data/`
    * but no manifest is a crashed commit and is ignored: its data/ holds
    * only the touched buckets, and reading that partial write as the
    * whole table would drop every other bucket. A dir that died before
    * its data, or while publishing its manifest's temp file, is no
    * commit either.
    */
  private def isComplete(ts: String): Boolean =
    manifests.contains(ts) || Files.exists(manifestPath(ts))

  private def commitDirs: Seq[String] = commitDirsAll.filter(isComplete)

  def commits: Seq[String] = commitDirs.reverse

  /** Mint a commit id and claim its dir: the clock's millisecond, or
    * the millisecond after the newest dir when the clock has not passed
    * it (crashed, incomplete commits still reserve their name). A name
    * another writer claimed first moves the id on by one.
    */
  private def newCommitTs(): String = {
    val now = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()).toLong
    val after = commitDirsAll.lastOption.fold(0L)(_.padTo(17, '0').toLong + 1)
    Files.createDirectories(Paths.get(root))
    Iterator.iterate(math.max(now, after))(_ + 1).map(_.toString).find { id =>
      try { Files.createDirectory(Paths.get(s"$root/$id")); true }
      catch { case _: FileAlreadyExistsException => false }
    }.get
  }

  // ---- commit metadata, memoized per instance ----
  //
  // A complete commit never changes, so its parsed manifest and the row
  // schema of the files it wrote are kept by commit id. Only a manifest
  // that exists is memoized: an absent one may be a commit still in
  // flight. A manifest is published with an atomic move, so a reader
  // never parses (and memoizes) a torn one.

  private val manifests = TrieMap.empty[String, VersionedTable.Manifest]
  private val schemas = TrieMap.empty[String, StructType]

  private def manifestPath(ts: String) = Paths.get(s"$root/$ts/manifest.tsv")

  /** The commit's manifest, or None for an incomplete dir. */
  private def manifest(ts: String): Option[VersionedTable.Manifest] =
    manifests.get(ts).orElse {
      try {
        val m = VersionedTable.Manifest.parse(Files.readAllLines(manifestPath(ts)).asScala.toSeq)
        manifests.put(ts, m)
        Some(m)
      } catch { case _: NoSuchFileException => None }
    }

  /** Bucket → writer map of a complete commit. */
  private def writersOf(ts: String): Map[Int, String] =
    manifest(ts).getOrElse(sys.error(s"commit $ts under $root has no manifest")).writers

  private def isParquet(p: Path) = p.getFileName.toString.endsWith(".parquet")

  private def parquetFiles(dir: String): Seq[Path] =
    graft.util.Fs.list(Paths.get(dir)).filter(isParquet).sortBy(_.toString)

  /** A parquet file's footer, read on the driver with parquet's own
    * settings: the default options would build a Hadoop `Configuration`
    * per footer, which re-reads its XML resources.
    */
  private def footer(f: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(new LocalInputFile(f), VersionedTable.FooterOptions)
    try r.getFooter finally r.close()
  }

  /** The row schema of a parquet file as a `spark.read.parquet`
    * inference job gives it: Spark's own row schema from the footer key
    * `org.apache.spark.sql.parquet.row.metadata`, else Spark's conversion
    * of the parquet schema, then made nullable throughout, as Spark makes
    * every file source's data schema. Commits that differ only in
    * nullability (a first write from non-nullable literals, say) thus
    * share one scan.
    */
  private def schemaOf(file: Path, meta: ParquetMetadata): StructType =
    nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(new org.apache.hadoop.fs.Path(file.toUri), meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Row schema of the files commit `ts` wrote (one write, one schema),
    * from the first footer under `dir`, one of its bucket directories.
    */
  private def writerSchema(ts: String, dir: String): StructType =
    schemas.getOrElseUpdate(ts, {
      val f = parquetFiles(dir).headOption.getOrElse(
        sys.error(s"commit $ts references $dir, which holds no parquet file"))
      schemaOf(f, footer(f))
    })

  // ---- per-bucket precombine stamp stats (r17 optimization) --------
  //
  // The v2 manifest stamp (see [[VersionedTable.Manifest]]) is the
  // bucket's EXACT max(<precombine>) as of its writing commit. v1
  // two-field lines read as "stamp unknown" and simply disable the stat
  // for the table until every bucket rewrites — full back-compat.
  // The stamps come from the parquet FOOTER statistics of the files
  // each commit just wrote (driver-side metadata reads, zero Spark
  // jobs), and carried-forward buckets carry their stamp with them, so
  // the table-wide floor max(precombine) becomes a manifest read:
  // max over live bucket stamps ≡ agg(max(precombine)) over the
  // snapshot, exactly (every live bucket's rows were written wholesale
  // by its referencing commit). This removes the last history-scale
  // driver term in the maintenance gates (VERDICT r16 item 1a): the
  // per-ingest maintainClusters floor was a full-table columnar scan.

  /** Exact max(<precombine>) over one bucket's parquet footers, from
    * their statistics alone — no Spark job. Returns None when the stat
    * cannot be trusted (missing/untyped stats, a non-integer precombine
    * column): the caller then writes a stampless line and consumers fall
    * back to the agg. Some(None) means "known: no non-null precombine
    * values".
    */
  private def stampOf(fs: Seq[ParquetMetadata]): Option[Option[Long]] =
    try {
      var best: Option[Long] = None
      for (f <- fs; blk <- f.getBlocks.asScala) {
        blk.getColumns.asScala.find(_.getPath.toDotString == precombine) match {
          case None =>
            // column absent from this file (possible only across
            // schema evolution) — contributes no values, which is
            // exactly what agg(max) would see (nulls)
            ()
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null) return None
            if (st.hasNonNullValue) {
              val mx = st.genericGetMax match {
                case n: java.lang.Number => n.longValue()
                case _ => return None // non-integer precombine
              }
              best = Some(best.fold(mx)(math.max(_, mx)))
            } else if (!(st.isNumNullsSet && st.getNumNulls == blk.getRowCount)) {
              // no min/max AND we cannot prove the block is
              // all-null → stats were not gathered; distrust
              if (blk.getRowCount > 0) return None
            }
        }
      }
      Some(best)
    } catch { case _: Exception => None }

  /** EXACT table-wide max(<precombine>) over the current snapshot,
    * derived from manifest stamp stats alone — no Spark job, no table
    * scan. Some(Some(v)): the max is v. Some(None): known — every live
    * row's precombine is null (or the table is logically empty).
    * None: the stat is unavailable (no commits, a v1 or partially
    * stamped manifest) — fall back to the aggregation. Equivalence:
    * the snapshot is the disjoint union of its manifest's buckets,
    * each written wholesale by its referencing commit with its stamp
    * recorded from the written files' footers at commit time.
    */
  def maxPrecombineStat: Option[Option[Long]] = commitDirs.lastOption.flatMap(manifest)
    .filter(m => m.writers.nonEmpty && m.writers.keySet.forall(m.stamps.contains))
    .map(_.stamps.values.flatten.reduceOption((a, b) => math.max(a, b)))

  /** Shared open-guard for every mutating path: the partition column is
    * persisted layout — opening with a different one would hash rows
    * into buckets the old manifest doesn't cover and silently unmerge
    * them. The bucket count needs no guard: every commit adopts the
    * stored one ([[bucketsOf]]).
    */
  private def requireLayoutMatches(prev: String): Unit = manifest(prev).foreach { m =>
    require(m.partCol == partitionColOpt,
      s"table at $root was written with partitionCol=${m.partCol}, " +
        s"opened with $partitionColOpt")
  }

  /** The bucket count commit `ts` was written with: its manifest's
    * `#buckets=`, else (a manifest from before the header) the count
    * this handle was seeded with, if any.
    */
  private def bucketsOf(ts: String): Option[Int] = manifest(ts).flatMap(_.buckets).orElse(seeded)

  private def seeded: Option[Int] = Some(numBuckets).filter(_ > 0)

  /** The bucket count of a commit after `prev` (None: the first): the
    * stored or seeded one, else [[VersionedTable.suggestBucketCount]] of
    * `rows`' Catalyst size estimate (no job). An estimate Spark could
    * not make (`spark.sql.defaultSizeInBytes`) counts as one bucket,
    * which the first commit's growth check then corrects.
    */
  private def commitBuckets(prev: Option[String], rows: => DataFrame): Int =
    prev.fold(seeded)(bucketsOf).getOrElse(
      estimatedBytes(rows).fold(1)(VersionedTable.suggestBucketCount(_, targetBucketBytes)))

  /** `rows`' Catalyst size estimate over the analyzed plan, which runs
    * no job and no optimizer pass; None when Spark could not make one
    * (`spark.sql.defaultSizeInBytes` or more).
    */
  private def estimatedBytes(rows: DataFrame): Option[Long] = {
    val est = rows.queryExecution.analyzed.stats.sizeInBytes
    if (est >= spark.sessionState.conf.defaultSizeInBytes) None else Some(est.toLong)
  }

  /** The buckets `frames`' bucket-column values hash to under `n`
    * buckets. A one-bucket table needs no job, so every commit on it
    * reads bucket 0, even for an empty input. Otherwise one job with no
    * shuffle, each input partition returning its distinct ids: the
    * driver collects at most `n` ints per input partition, however many
    * rows the frames hold.
    */
  private def probeBuckets(n: Int, frames: Seq[DataFrame]): Set[Int] =
    if (n == 1) Set(0)
    else frames.map(_.select(bucketExpr(n).cast("int"))).reduce(_.unionAll(_))
      .as(Encoders.scalaInt).mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
      .collect().toSet

  /** Bucket-tagged `rows` clustered for a write of `width` touched
    * buckets, each bucket within one task: one bucket in one task with
    * no shuffle, more by a shuffle on the bucket.
    */
  private def cluster(rows: DataFrame, width: Int): DataFrame =
    if (width == 1) rows.coalesce(1) else rows.repartition(width, col(BucketCol))

  /** Grow an oversized layout: when the `rewritten` buckets of a commit
    * under `n` buckets hold more than [[targetBucketBytes]] on average,
    * migrate the table to at least twice the buckets, or as many as its
    * extrapolated size needs. Only record-key buckets grow: a payload-
    * partitioned bucket holds whole partition values, and one value
    * past the target would double the table on every commit.
    */
  private def growIfOversized(n: Int, rewritten: Int, bytes: Long): Unit =
    if (partitionColOpt.isEmpty && rewritten > 0 && bytes / rewritten > targetBucketBytes)
      migrationCommit(identity, Some(math.max(2 * n,
        VersionedTable.suggestBucketCount(bytes / rewritten * n, targetBucketBytes))))

  /** Publish commit `ts` of an `n`-bucket layout with bucket → writer
    * map `writers`: one footer pass over the buckets it `written` gives
    * their stamps and the commit's row schema; every other bucket
    * carries its stamp from `prev`. The manifest goes to a hidden temp
    * file in the commit dir and is moved into place atomically, so a
    * reader sees all of it or none (the commit is complete from that
    * moment); this instance then memoizes both without reading them
    * back. Returns the bytes of the written buckets' files.
    */
  private def publish(ts: String, n: Int, writers: Map[Int, String], written: Seq[Int],
      prev: Option[String]): Long = {
    val read = written.map(b => b -> parquetFiles(bucketPath(b, ts)).map(f => f -> footer(f)))
    val carried = prev.flatMap(manifest).fold(Map.empty[Int, Option[Long]])(_.stamps)
    val stamps = ((carried -- written) ++
      read.flatMap { case (b, fs) => stampOf(fs.map(_._2)).map(b -> _) })
      .filter(kv => writers.contains(kv._1))
    val m = VersionedTable.Manifest(Some(n), partitionColOpt, writers, stamps)
    val tmp = Paths.get(s"$root/$ts/.manifest.tsv.tmp")
    Files.writeString(tmp, m.render)
    Files.move(tmp, manifestPath(ts), StandardCopyOption.ATOMIC_MOVE)
    read.iterator.flatMap(_._2).nextOption().foreach { case (f, meta) =>
      schemas.put(ts, schemaOf(f, meta))
    }
    manifests.put(ts, m)
    read.flatMap(_._2).map(fm => Files.size(fm._1)).sum
  }

  private def bucketPath(b: Int, commit: String) = s"$root/$commit/data/$BucketCol=$b"

  /** Bucket ids a commit actually wrote, listed from its data/ dir —
    * the single parser of the `_bucket=N` partition-dir layout (used
    * by both [[upsert]] and [[rebucket]] to build manifests).
    */
  private def writtenBuckets(ts: String): Seq[Int] =
    graft.util.Fs.list(Paths.get(s"$root/$ts/data"))
      .map(_.getFileName.toString).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)

  /** Read the table as of a commit via its manifest. */
  private def readCommit(ts: String): DataFrame = readGrouped(writersOf(ts))

  /** Manifest-driven read with SCHEMA EVOLUTION across commits: bucket
    * files are grouped by the memoized row schema of their writing
    * commit (files inside one commit share a schema), each group is ONE
    * scan built with that schema, and the groups are unioned by name
    * with implicit up-cast coercion — a column a later commit ADDED
    * null-fills on pre-evolution rows, and a column a later commit
    * WIDENED (int→long, the union's wider common type) reads as the
    * wide type table-wide. Plain parquet `mergeSchema` refuses mixed
    * int/long files outright, so the union-of-groups IS the widening
    * read path. Groups are unioned in the order of their oldest writer
    * commit, so the oldest schema anchors column order and evolved
    * columns append. Scans stay manifest-pruned and filters/pruning
    * push into every branch; the branch count is bounded by the
    * distinct schemas a manifest references (one scan on a table that
    * never evolved).
    */
  private def readGrouped(m: Map[Int, String]): DataFrame = {
    val byWriter = m.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (c, kvs) =>
      val paths = kvs.map(kv => bucketPath(kv._1, c)).sorted
      writerSchema(c, paths.head) -> paths
    }
    byWriter.map(_._1).distinct
      .map(s => spark.read.schema(s).parquet(byWriter.filter(_._1 == s).flatMap(_._2): _*))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** COW upsert: touched buckets' latest rows ⟕ updates, keep
    * max-precombine row per key; on precombine ties the incoming
    * (update) row wins, matching Hudi's "latest write wins" for equal
    * precombine values. Buckets the update doesn't touch are carried
    * forward by manifest reference — zero data movement. The touched
    * rows are clustered once by bucket (see the class doc): an upsert
    * is one Spark job on a one-bucket table, and a probe job plus the
    * write on a larger one. A one-bucket table runs no probe, so even an
    * empty `updates0` rewrites bucket 0 (same rows, same per-row commit
    * times) rather than writing nothing.
    */
  def upsert(updates0: DataFrame): String = merge("upsert", None, updates0, None)

  /** [[upsert]] for updates that MOVE rows across partitions — the
    * partition-scoped-index escape hatch (see the class doc): `oldValues`
    * is any frame carrying the partition column with the moved rows'
    * OLD values, so the merge also reads (and rewrites) the buckets the
    * stale copies live in. Within the merge the record-key window keeps
    * the incoming row (higher precombine / update-wins tie), the stale
    * copy is dropped, and a source bucket left empty falls out of the
    * manifest. On a record-key-bucketed table this degenerates to a
    * plain [[upsert]] (keys never move), so callers can use it
    * unconditionally when old values are at hand.
    */
  def upsertMoved(updates0: DataFrame, oldValues: DataFrame): String =
    merge("upsert", None, updates0, Some(oldValues))

  /** COW delete (Hudi `delete` operation): remove every row whose
    * `recordKey` appears in `keys0` (any frame with that column; extra
    * columns ignored; null keys match null-key rows via null-safe
    * equality). Touched buckets are rewritten without the deleted keys;
    * untouched buckets carry forward by manifest reference, and a
    * bucket left with no rows is dropped from the manifest entirely.
    * Carried rows keep their per-record `_commit_time` — so, matching
    * Hudi's non-CDC incremental reads, a pure delete is invisible to
    * [[incremental]] consumers (the snapshot is authoritative); older
    * commits still hold the rows, so [[asOf]] before the delete
    * resurrects them, exactly like Hudi COW time travel.
    *
    * Like [[upsert]], the keys plan is evaluated twice (bucket probe,
    * then the anti-join; a one-bucket table needs no probe);
    * non-deterministic key sets should be checkpointed first — a key the
    * probe missed would survive in an unrewritten bucket. The survivors
    * are clustered by bucket as [[upsert]]'s rows are, so a one-bucket
    * delete is the anti join's key broadcast and the write; with no
    * probe, an empty key set on a one-bucket table still rewrites
    * bucket 0 unchanged. Crash-safe: data before manifest.
    */
  def delete(keys0: DataFrame): String = {
    val prev = commitDirs.lastOption.getOrElse(
      sys.error(s"delete on $root: table has no commits"))
    requireLayoutMatches(prev)
    // under payload partitioning the keys frame must also carry the
    // partition column (the rows' CURRENT values) — the probe hashes
    // it to find the buckets the doomed rows live in
    requireCarriesPartCol("delete", keys0)
    val ts = newCommitTs()
    val n = commitBuckets(Some(prev), readCommit(prev))
    val prevManifest = writersOf(prev)
    val probed = probeBuckets(n, Seq(keys0)).filter(prevManifest.contains)
    val live = prevManifest.filter { case (b, _) => probed(b) }
    val surv = if (live.isEmpty) None else {
      val rows = withoutKeys(readGrouped(live), keys0)
      Some(cluster(rows.withColumn(BucketCol, bucketExpr(n)), probed.size))
    }
    val written = surv.fold(Seq.empty[Int]) { s =>
      s.write.mode("overwrite").partitionBy(BucketCol).parquet(s"$root/$ts/data")
      writtenBuckets(ts)
    }
    growIfOversized(n, written.size, publishRewrite(ts, n, Some(prev), probed, written, surv.get))
    ts
  }

  /** Fused COW mutation (r16 optimization): apply a key-set DELETE and
    * an UPSERT as ONE commit — byte-for-byte the snapshot `delete(keys)`
    * followed by `upsert(updates)` would produce, at half the commit
    * cost. The maintenance gates (takedown, sample repair, cluster
    * relabel) always carry both a remove set and a rewrite set; paying
    * two commits meant two bucket probes, two touched-bucket reads,
    * two writes and two manifests per gate call — measured as pure
    * dispatch overhead in the r16 TakedownProf census. Equivalence
    * argument: a key in both sets sees its stored row anti-joined away
    * before the precombine window, exactly as a delete-then-upsert
    * leaves only the incoming row for the merge; keys in one set only
    * take the corresponding single-op path unchanged. Probe/rewrite
    * discipline, crash-safety (data before manifest), emptied-bucket
    * manifest drops, and the non-determinism abort are [[upsert]]'s.
    * `oldValues` plays [[upsertMoved]]'s role for partition-crossing
    * updates; under payload partitioning `deleteKeys0` must carry the
    * partition column (current values), like [[delete]].
    */
  def applyDelta(deleteKeys0: DataFrame, updates0: DataFrame,
      oldValues: Option[DataFrame] = None): String = {
    requireCarriesPartCol("applyDelta", deleteKeys0)
    merge("applyDelta", Some(deleteKeys0), updates0, oldValues)
  }

  private def requireCarriesPartCol(op: String, keys: DataFrame): Unit =
    partitionColOpt.foreach { pc =>
      require(keys.columns.contains(pc),
        s"$op on a $pc-partitioned table needs the keys frame to " +
          s"carry $pc (the rows' current values) for bucket pruning")
    }

  /** `rows` without those whose record key appears in `keys` (null-safe).
    * An anti join never repeats a left row, so duplicate keys need no
    * distinct.
    */
  private def withoutKeys(rows: DataFrame, keys: DataFrame): DataFrame =
    rows.join(keys.select(col(recordKey).as("_del_key")),
      rows(recordKey) <=> col("_del_key"), "left_anti")

  /** The merge commit of [[upsert]], [[upsertMoved]] and [[applyDelta]]:
    * the touched buckets' rows, minus `deleteKeys0`'s keys, ⟕ the
    * updates under the precombine window, written back bucket by bucket.
    */
  private def merge(op: String, deleteKeys0: Option[DataFrame], updates0: DataFrame,
      extraProbe: Option[DataFrame]): String = {
    val prev = commitDirs.lastOption
    prev.foreach(requireLayoutMatches)
    val ts = newCommitTs()
    val n = commitBuckets(prev, updates0)
    val prevManifest = prev.fold(Map.empty[Int, String])(writersOf)
    // incoming rows are stamped with this commit; carried rows keep the
    // commit that last wrote them (Hudi per-record _hoodie_commit_time
    // semantics — rewritten-but-unchanged rows don't advance), which is
    // what makes [[incremental]] reads record-accurate.
    val tagged = updates0.withColumn("_is_update", lit(1)).withColumn(CommitCol, lit(ts))
    // The input plans are evaluated twice: a cheap column-pruned probe
    // for the touched buckets, then the merged write. For a
    // NON-deterministic plan the two could diverge — writing a bucket
    // the probe never read would silently shadow its history — so the
    // written set is verified against the probe below and the commit
    // aborted on divergence (explicit error instead of data loss;
    // callers with non-deterministic sources should checkpoint first).
    // ONE probe over every frame that names a bucket: the update rows,
    // the doomed keys, and (for moves) the old partition values.
    val touched = probeBuckets(n, updates0 +: (deleteKeys0 ++ extraProbe).toSeq)
    val touchedM = prevManifest.filter { case (b, _) => touched(b) }
    val merged =
      if (touchedM.isEmpty) tagged
      else {
        // delete BEFORE the merge window — the stored copy of a doomed
        // key must not survive via precombine
        val p = readGrouped(touchedM)
        deleteKeys0.fold(p)(withoutKeys(p, _)).withColumn("_is_update", lit(0))
          .unionByName(tagged, allowMissingColumns = true)
      }
    // Cluster once, before the window. Width = the TOUCHED bucket count,
    // not the table's: a 10-bucket maintenance commit on a
    // 2048-bucket table otherwise launches 2048 near-empty write tasks.
    // A key-bucketed table windows over (bucket, key): the bucket is a
    // function of the key, so the groups are the key's, and the bucket
    // clustering satisfies both the window and the write. A payload-
    // partitioned table must window on the key alone — a moved row's
    // stale copy sits in another bucket — so unless the commit touches
    // one bucket, it shuffles on the key and then on the bucket.
    val width = math.min(n, math.max(1, touched.size))
    val rows = merged.withColumn(BucketCol, bucketExpr(n))
    val out =
      if (partitionColOpt.isEmpty) latestPerKey(cluster(rows, width), Seq(col(BucketCol)))
      else if (width == 1) latestPerKey(cluster(rows, width), Nil)
      else cluster(latestPerKey(rows, Nil), width)
    out.write.mode("overwrite").partitionBy(BucketCol).parquet(s"$root/$ts/data")
    val written = writtenBuckets(ts)
    val unexpected = written.toSet -- touched
    if (unexpected.nonEmpty) {
      graft.util.Fs.deleteRecursively(Paths.get(s"$root/$ts"))
      sys.error(s"$op aborted: inputs wrote buckets $unexpected the probe " +
        "never read — a plan is non-deterministic; checkpoint it first")
    }
    growIfOversized(n, written.size, publishRewrite(ts, n, prev, touched, written, out))
    ts
  }

  /** Each record key's winning row of `rows` under the precombine
    * window (max precombine; on ties the incoming row), grouped by
    * `clusterCols` and the key.
    */
  private def latestPerKey(rows: DataFrame, clusterCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(clusterCols :+ col(recordKey): _*)
      .orderBy(col(precombine).desc, col("_is_update").desc)
    rows.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn", "_is_update")
  }

  /** Publish a commit that rewrote `written` of the `probed` buckets:
    * written buckets point at `ts`, and a probed bucket it did NOT
    * write back has no surviving rows (deleted, or under payload
    * partitioning every row MOVED out) — keeping its old manifest entry
    * would resurrect them from the stale file, so it falls out. A
    * commit left with no bucket keeps one empty bucket file in `rows`'
    * schema: a manifest that references nothing would make the snapshot
    * schema unrecoverable. Returns [[publish]]'s written bytes.
    */
  private def publishRewrite(ts: String, n: Int, prev: Option[String], probed: Set[Int],
      written: Seq[Int], rows: => DataFrame): Long = {
    val prevManifest = prev.fold(Map.empty[Int, String])(writersOf)
    val emptied = probed.filter(prevManifest.contains) -- written
    val writers = (prevManifest -- emptied) ++ written.map(_ -> ts)
    if (writers.nonEmpty) publish(ts, n, writers, written, prev)
    else {
      rows.limit(0).drop(BucketCol).write.mode("overwrite").parquet(bucketPath(0, ts))
      publish(ts, n, Map(0 -> ts), Seq(0), prev)
    }
  }

  /** [[applyDelta]] with the write sets PINNED here (r16): upserts and
    * delete keys union into ONE tagged checkpoint whose per-op counts
    * ride the checkpoint job as observed metrics, then apply as ONE
    * fused commit; empty sides degrade to the single op, an empty
    * delta commits nothing (the maintenance gates' idempotency
    * contract). Record-key-bucketed tables only — payload-partitioned
    * tables need explicit old values ([[applyDelta]]'s `oldValues`).
    * Returns the pinned upsert write set (the gates' shared contract).
    */
  def applyDeltaPinned(deleteKeys: DataFrame, upserts: DataFrame): DataFrame = {
    require(partitionColOpt.isEmpty,
      "applyDeltaPinned is for record-key-bucketed tables; under payload " +
        "partitioning use applyDelta with explicit old values")
    val upSchema = upserts.schema
    val delT = deleteKeys.select(
      (col(recordKey) +: upSchema.filter(_.name != recordKey).toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name))) :+ lit("_del").as("_op"): _*)
    val (ws, m) = graft.util.Actions.checkpointObserved(
      upserts.withColumn("_op", lit("_up")).unionByName(delT),
      "nUp" -> count(when(col("_op") === "_up", 1)),
      "nDel" -> count(when(col("_op") === "_del", 1)))
    val nUp = graft.util.Actions.longOr(m, "nUp", 0L)
    val nDel = graft.util.Actions.longOr(m, "nDel", 0L)
    val up = ws.filter(col("_op") === "_up").drop("_op")
    val del = ws.filter(col("_op") === "_del").select(col(recordKey))
    if (nDel > 0L && nUp > 0L) applyDelta(del, up)
    else if (nDel > 0L) delete(del)
    else if (nUp > 0L) upsert(up)
    up
  }

  /** Change feed between two commits — the snapshot-diff CDC a
    * non-CDC lake can still offer: a key-level FULL OUTER join of the
    * two as-of states, classifying every key as insert / delete /
    * update (payload columns compared null-safely, `_commit_time`
    * excluded — a rewrite that changes no payload is not a change) and
    * dropping unchanged keys. Unlike [[incremental]] this SEES deletes
    * (they surface as missing keys on the newer side) at the cost of
    * reading both snapshots rather than only changed buckets — the
    * classic completeness/cost trade; at scale, run it per bucket or
    * over manifest-diff-pruned buckets. When each side reads at most
    * one bucket (one file), both are read into one task, so the join
    * runs without an exchange: one Spark job.
    *
    * Output: recordKey, change_type, then `before_<c>` / `after_<c>`
    * for every shared payload column (null on the absent side).
    */
  def diff(tsA: String, tsB: String): DataFrame = {
    val dirA = resolveCommit(tsA); val dirB = resolveCommit(tsB)
    val mA = writersOf(dirA); val mB = writersOf(dirB)
    // manifest pruning: a bucket whose manifests reference the SAME
    // writing commit holds byte-identical files on both sides — it
    // cannot contribute a change row, so only buckets whose references
    // differ (or exist on one side only) enter the snapshot compare.
    // Prunable only when both manifests agree on the bucket count (a
    // rebucket migration renumbers keys, making bucket ids
    // incomparable); otherwise fall back to the full compare. At
    // 100 TB this turns "diff two snapshots" into "diff the touched
    // file groups" — the same bucket-granularity COW argument as
    // upsert.
    val prunable = {
      val (ba, bb) = (manifest(dirA).flatMap(_.buckets), manifest(dirB).flatMap(_.buckets))
      ba.isDefined && ba == bb
    }
    val (a0, b0, one) =
      if (!prunable) (readCommit(dirA), readCommit(dirB), mA.size <= 1 && mB.size <= 1)
      else {
        val changed = (mA.keySet ++ mB.keySet)
          .filter(bk => mA.get(bk) != mB.get(bk))
        val (cA, cB) = (mA.filter(kv => changed(kv._1)), mB.filter(kv => changed(kv._1)))
        def side(cm: Map[Int, String]): DataFrame =
          if (cm.isEmpty) readCommit(dirA).filter(lit(false)) // schema-only
          else readGrouped(cm)
        (side(cA), side(cB), cA.size <= 1 && cB.size <= 1)
      }
    val (a, b) = if (one) (a0.coalesce(1), b0.coalesce(1)) else (a0, b0)
    val payload = a.columns.toSeq.filter(c => c != recordKey && c != CommitCol)
      .filter(b.columns.contains)
    val ap = a.select(col(recordKey).as("_ka") +: lit(true).as("_pa") +:
      payload.map(c => col(c).as(s"before_$c")): _*)
    val bp = b.select(col(recordKey).as("_kb") +: lit(true).as("_pb") +:
      payload.map(c => col(c).as(s"after_$c")): _*)
    val joined = ap.join(bp, col("_ka") <=> col("_kb"), "full_outer")
    val sameLoad = struct(payload.map(c => col(s"before_$c")): _*) <=>
      struct(payload.map(c => col(s"after_$c")): _*)
    joined
      .withColumn(recordKey, coalesce(col("_ka"), col("_kb")))
      .withColumn("change_type",
        when(col("_pa").isNull, lit("insert"))
          .when(col("_pb").isNull, lit("delete"))
          .when(!sameLoad, lit("update")))
      .filter(col("change_type").isNotNull)
      .drop("_ka", "_kb", "_pa", "_pb")
      .select(col(recordKey) +: col("change_type") +:
        payload.flatMap(c => Seq(col(s"before_$c"), col(s"after_$c"))): _*)
  }

  /** Release-delta report: [[diff]] between two commits aggregated by a
    * dimension column — the per-feed "what changed in this corpus
    * release" note (inserts/updates/deletes per source) published with
    * every versioned dataset drop. The dimension of a delete comes from
    * the before-image, of an insert from the after-image. Costs the
    * manifest-pruned diff plus one bounded (dim × 3) aggregate.
    */
  def releaseDelta(tsA: String, tsB: String, dim: String): DataFrame =
    diff(tsA, tsB)
      .select(coalesce(col(s"after_$dim"), col(s"before_$dim")).as(dim),
        col("change_type"))
      .groupBy(col(dim), col("change_type"))
      .agg(count(lit(1)).as("n"))

  /** Bucket-count migration — the growth path for a table whose data
    * outlives its layout (Hudi solves the same problem with sized file
    * groups, register_hudi.py:56-69 at real scale). Rewrites the FULL
    * current snapshot into `newBuckets` key-hash buckets as one
    * migration commit and stamps the new `#buckets=` manifest header;
    * returns this handle. Every later commit, on any handle, adopts the
    * new count from that header.
    *
    * Older commits stay time-travel readable: every read is driven by
    * its own commit's manifest, so per-commit bucket counts never leak
    * across commits. Per-row `_commit_time`s are preserved — a rebucket
    * moves bytes, not records, so [[incremental]] consumers see no
    * phantom changes — though incremental FILE pruning degrades to a
    * full read until newer commits shrink the changed-bucket set again
    * (every bucket's last writer is now the migration commit).
    *
    * A commit whose rewritten buckets outgrow
    * [[VersionedTable.TargetBucketBytes]] calls this itself (see the
    * class doc); an explicit call re-sizes ahead of a known load. The
    * migration is one full-table rewrite (read manifest paths → re-hash
    * → partitioned write), the same cost as Hudi clustering.
    *
    * Crash-safe like [[upsert]]: data is written before the manifest,
    * so a dir with `data/` but no manifest is ignored as a crashed
    * commit.
    */
  def rebucket(newBuckets: Int): VersionedTable = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    migrationCommit(identity, Some(newBuckets))
    this
  }

  /** Full-snapshot rewrite commit — the shared engine of [[rebucket]]
    * and the schema migrations below. Reads the current snapshot,
    * applies `transform`, rewrites every bucket into `buckets` buckets
    * (the current count when None), and stamps a complete manifest (all
    * buckets → this commit). Per-row `_commit_time`s are preserved — a
    * migration moves bytes, not records, so [[incremental]] consumers
    * see no phantom changes. Older commits keep their own schema and layout:
    * every read is driven by its commit's manifest, so [[asOf]] before
    * the migration returns the pre-migration schema (the time-travel
    * contract a long-lived table depends on). Crash-safe like
    * [[upsert]]: data before manifest.
    */
  private def migrationCommit(transform: DataFrame => DataFrame,
      buckets: Option[Int] = None): String = {
    val prev = commitDirs.lastOption.getOrElse(sys.error(s"no commits under $root"))
    // same open-guard as upsert: refuse to migrate a table opened with
    // the wrong partition column (the caller's mental model of the
    // layout is stale — make them re-open correctly first)
    requireLayoutMatches(prev)
    val ts = newCommitTs()
    val snap = readCommit(prev)
    val n = buckets.getOrElse(commitBuckets(Some(prev), snap))
    val out = transform(snap)
    require(out.columns.contains(CommitCol),
      "migration transform must preserve the per-row commit-time column")
    cluster(out.withColumn(BucketCol, bucketExpr(n)), n) // one file per bucket
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$root/$ts/data")
    val written = writtenBuckets(ts)
    publish(ts, n, written.map(_ -> ts).toMap, written, None)
    ts
  }

  private def requireMigratable(name: String): Unit =
    require(name != recordKey && name != precombine && name != CommitCol,
      s"column $name is structural (recordKey/precombine/$CommitCol) and cannot be migrated")

  /** Schema migration: DROP a payload column from the live schema as a
    * full-rewrite commit. Older commits keep the column ([[asOf]]
    * before the drop still reads it); [[upsert]]s after the drop must
    * not reintroduce it unless the evolution is intended — an upsert
    * carrying the column simply ADDS it back (null on other rows), the
    * same add-column path as any new column.
    */
  def dropColumn(name: String): String = {
    requireMigratable(name)
    require(snapshot.columns.contains(name), s"no column $name to drop")
    migrationCommit(_.drop(name))
  }

  /** Schema migration: RENAME a payload column in the live schema as a
    * full-rewrite commit; older commits keep the old name.
    */
  def renameColumn(from: String, to: String): String = {
    requireMigratable(from); requireMigratable(to)
    val cols = snapshot.columns
    require(cols.contains(from), s"no column $from to rename")
    require(!cols.contains(to), s"column $to already exists")
    migrationCommit(_.withColumnRenamed(from, to))
  }

  /** Schema migration: WIDEN a column's type (int→long, float→double,
    * …) as a full-rewrite commit. Only lossless up-casts are allowed
    * (Catalyst's `Cast.canUpCast` — the same rule ANSI store
    * assignment uses), so a widen can never corrupt data. Note the
    * read path already widens IMPLICITLY when a later commit writes a
    * wider type into some buckets (see [[readGrouped]]); the explicit
    * form rewrites the files so every bucket carries the wide type —
    * the difference between "reads as long" and "is long on disk".
    * Widening the precombine or recordKey column is allowed: key
    * hashing goes through the string form (bucket-stable) and
    * precombine ordering is preserved by any up-cast.
    */
  def widenColumn(name: String, toType: String): String = {
    val schema = snapshot.schema
    require(schema.fieldNames.contains(name), s"no column $name to widen")
    val from = schema(name).dataType
    val to = org.apache.spark.sql.types.DataType.fromDDL(toType)
    require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to),
      s"cast ${from.simpleString} -> ${to.simpleString} is not a lossless widening")
    migrationCommit(_.withColumn(name, col(name).cast(to)))
  }

  /** Incremental pull (Hudi incremental-query semantics): records whose
    * last write is AFTER `sinceTs` (exclusive), as of the latest
    * commit. File-pruned via the manifest — only buckets written by a
    * commit newer than `sinceTs` are read at all — then record-filtered
    * on the per-row commit time, so carried-forward rows inside a
    * rewritten bucket are correctly excluded. At 100 TB an incremental
    * consumer reads only the changed file groups, never the table.
    */
  def incremental(sinceTs: String): DataFrame = {
    val latest = commitDirs.lastOption.getOrElse(sys.error(s"no commits under $root"))
    val touched = writersOf(latest).filter { case (_, c) => c > sinceTs }
    if (touched.isEmpty) readCommit(latest).filter(lit(false))
    else readGrouped(touched).filter(col(CommitCol) > sinceTs)
  }

  /** Metadata-only existence check: whether the table has any complete
    * commit — unlike [[snapshotOpt]].isDefined this constructs NO read
    * plan, so it never pays the manifest-wide directory listing (a
    * 2048-bucket table's listing costs seconds; measured in the
    * takedownlake2 probe).
    */
  def hasCommits: Boolean = commitDirs.nonEmpty

  def snapshotOpt: Option[DataFrame] = commitDirs.lastOption.map(readCommit)

  def snapshot: DataFrame =
    snapshotOpt.getOrElse(sys.error(s"no commits under $root"))

  /** Bucket-PRUNED snapshot read (VERDICT r15 item 2): only the
    * buckets `values`' bucket-column values hash to are read AT ALL —
    * file-level pruning by construction, since every bucket is its own
    * manifest-addressed directory. `values` is any frame carrying the
    * table's bucket column (the payload partition column when
    * configured, else the record key); it may be arbitrarily large —
    * what's collected is each input partition's distinct bucket ids,
    * ≤ bucket-count ints per partition, bounded by the partition count
    * and not by the row count. Values hash under the count the
    * latest commit was written with. Returns the touched buckets'
    * FULL rows (a bucket holds other values too — the caller's
    * semi-join/filter restores exactness, e.g. repairParts' affected-
    * cluster semi). The bucket ids come from [[probeBuckets]]: no job on
    * a one-bucket table, else one job with no shuffle. A manifest whose
    * bucket count is unknown falls back to the full read. Verify the
    * pruning with `df.inputFiles` — every path carries its `_bucket=N`.
    */
  def snapshotPrunedBy(values: DataFrame): DataFrame = {
    require(values.columns.contains(bucketCol),
      s"snapshotPrunedBy needs a frame carrying the bucket column " +
        s"'$bucketCol', got [${values.columns.mkString(", ")}]")
    val prev = commitDirs.lastOption.getOrElse(
      sys.error(s"no commits under $root"))
    val m = writersOf(prev)
    val n = bucketsOf(prev).getOrElse(0)
    if (n == 0) return readCommit(prev) // nothing to prune by
    val wanted = probeBuckets(n, Seq(values))
    val pruned = m.filter { case (b, _) => wanted(b) }
    // schema-stable empty WITHOUT a full-manifest listing: one bucket
    // dir carries the schema (a 2048-bucket table's full listing
    // costs seconds — measured in the takedownlake2 probe's no-op leg)
    if (pruned.isEmpty) readGrouped(Map(m.head)).limit(0)
    else readGrouped(pruned)
  }

  /** Time travel: newest commit with commitTs <= asOfTs. */
  def asOf(asOfTs: String): DataFrame = readCommit(resolveCommit(asOfTs))

  private def resolveCommit(asOfTs: String): String =
    commitDirs.filter(_ <= asOfTs).lastOption
      .getOrElse(sys.error(s"no commit at or before $asOfTs"))

  /** Distinct commit times desc — the reference's commit-history query
    * (`select distinct _hoodie_commit_time ... order by desc`).
    */
  def commitHistory: DataFrame = {
    import spark.implicits._
    commits.toDF(CommitCol)
  }

  /** Retention cleaner (Hudi's cleaner service): keep the newest
    * `keepLast` commits as time-travel points and delete older commit
    * dirs — EXCEPT any whose bucket files a retained manifest still
    * references (buckets are shared across commits, so an old commit's
    * data can be live in the current snapshot). Also removes crashed
    * (incomplete) dirs older than the retention horizon. Returns the
    * deleted commit ids. Without this, a frequently-upserted table's
    * storage grows with every commit forever.
    */
  def clean(keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the latest commit")
    val all = commitDirsAll
    val retained = all.filter(isComplete).takeRight(keepLast)
    val horizon = retained.headOption.getOrElse(return Nil)
    // TRANSITIVE closure over manifests: a commit kept by reference is
    // itself a readable time-travel point, so the commits ITS manifest
    // references must survive too — one-level retention would leave a
    // surviving manifest pointing at deleted bucket dirs
    var keep = retained.toSet
    var frontier = retained.toSet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(ts => writersOf(ts).values) -- keep
      keep ++= next
      frontier = next
    }
    val deletable = all
      .filter(_ < horizon) // in-flight (crashed) dirs ≥ horizon survive
      .filterNot(keep)
    deletable.foreach { ts =>
      graft.util.Fs.deleteRecursively(Paths.get(s"$root/$ts"))
      manifests.remove(ts); schemas.remove(ts)
    }
    deletable
  }
}
