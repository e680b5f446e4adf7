package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{lit, pmod, shiftleft, shiftrightunsigned}
import org.apache.spark.sql.types.StructType

/** Readers/sinks for the engine (SURVEY §2.1 S1–S4).
  *
  * The reference leans on schema inference everywhere (`goodreads.py:33–37`)
  * — fine in a notebook, wrong at scale: inference costs an extra full
  * pass (CSV/JSON) and freezes accidental types (isbn13 as double).
  * These helpers take an explicit `StructType` and fall back to
  * inference only when none is given, so production paths skip the
  * inference pass and pin their schemas.
  */
object Sources {

  /** S2 (goodreads.py:34,36,37): CSV with header; explicit schema
    * preferred, `inferSchema` only as the no-schema fallback. */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None => r.option("inferSchema", "true").csv(path)
    }
  }

  /** S1 (goodreads.py:33,35): newline-JSON; explicit schema skips the
    * inference pass (which reads the whole input once at scale). */
  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None => spark.read.json(path)
    }

  /** Quarantining JSON reader for dirty 100 TB ingest: malformed lines
    * must neither kill the job (FAILFAST) nor vanish silently
    * (DROPMALFORMED). PERMISSIVE mode + a corrupt-record column splits
    * the stream into (good rows with the declared schema, quarantined
    * raw lines) — reprocess the quarantine after fixing the producer.
    * Spark requires the corrupt column in the read schema and a
    * cache/materialization barrier before filtering on it (a direct
    * filter over the lazy scan is disallowed); the persist here is that
    * barrier. Returns (good, quarantined-raw-lines). */
  def jsonWithQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val corrupt = "_corrupt_record"
    val withCorrupt = schema.add(corrupt, "string")
    // registered in Caches so a long-lived ingest session can release
    // it (graft.Caches.clear) instead of pinning storage per call
    val raw = graft.Caches.cached(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(withCorrupt).json(path))
    val good = raw.filter(col(corrupt).isNull)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val bad = raw.filter(col(corrupt).isNotNull).select(col(corrupt).as("raw"))
    (good, bad)
  }

  /** S4 (goodreads.py:133–141): parquet scan (self-describing schema). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet scan with schema MERGING across files written at
    * different schema versions: a plain read trusts one footer's
    * schema (columns added later silently vanish for old files);
    * mergeSchema unions all footers and null-fills the gaps — the
    * read path a long-lived evolving corpus needs. Costs a footer
    * scan per file at planning time, which is why Spark doesn't
    * default to it — turn it on per evolving dataset, not globally. */
  def parquetMergeSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S3 (goodreads.py:121–129): parquet path sink, optionally
    * partitioned — partition columns become directory-level pruning keys
    * for every downstream scan. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S3: catalog-managed table (the reference's `saveAsTable`), making
    * the relation visible to `spark.sql` (EP2). */
  def saveTable(df: DataFrame, name: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(name)

  /** S3 at 100 TB: bucketed catalog table — pre-shuffles rows by key at
    * write time so every downstream equi-join/agg on the bucket key
    * reads co-located data with NO exchange (PlanSpec pins the
    * shuffle-free join). The bucket count is a physical contract: both
    * sides of a co-located join must declare the same count. */
  def saveBucketed(df: DataFrame, name: String, bucketCol: String,
      nBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol).saveAsTable(name)

  /** Small-file compaction — the 100 TB housekeeping operator: a
    * directory fragmented by high-parallelism writers (one file per
    * task per partition) is rewritten into `targetFiles` balanced
    * files. `coalesce`, not `repartition`: collapsing 64 → 4 files
    * needs no shuffle (each output task just concatenates input
    * splits); use repartition only when the inputs are skewed enough
    * that balanced outputs are worth a full shuffle. */
  def compact(df: DataFrame, path: String, targetFiles: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.coalesce(targetFiles).write.mode(mode).parquet(path)

  /** Dynamic-partition overwrite: re-deliver ONE partition's data and
    * replace only the directories the incoming frame actually touches
    * (static overwrite would drop every other partition). The
    * incremental-ingest primitive for partitioned 100 TB corpora.
    * Session-conf scoped to this call. */
  def overwritePartitions(df: DataFrame, path: String,
      partitionBy: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** S1 sink: newline-JSON. */
  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** S2 sink: header CSV (Spark's writer quotes embedded delimiters,
    * so `csv(...)` with the same options round-trips losslessly). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** ORC scan — Spark's other in-box columnar format (some lakes are
    * ORC, not parquet); explicit schema skips footer merging across a
    * large file listing. */
  def orc(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).orc(path)
      case None => spark.read.orc(path)
    }

  /** ORC sink. */
  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Line-oriented text scan (single `value` string column) — the
    * format raw-crawl corpora arrive in before any schema exists. */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Text sink: requires exactly one string column; line framing means
    * embedded newlines are the caller's responsibility. */
  def writeText(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).text(path)

  /** Z-value (Morton code) of two non-negative ints already quantized
    * to `bits` bits each: bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure integer bit expressions — codegen'd scan-stage
    * work, replayable in portable SQL. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Quantize a non-negative value onto [0, 2^bits): (v · 2^bits) div
    * (max + 1). Spark's `/` on longs is DOUBLE division, so integer
    * div is built exactly as (n − n mod d) / d — the numerator is then
    * exactly divisible and the double division exact at any magnitude. */
  def zQuantize(v: org.apache.spark.sql.Column, maxV: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    val n = v.cast("long") * (1L << bits)
    val d = maxV.cast("long") + 1L
    ((n - pmod(n, d)) / d).cast("long")
  }

  /** Z-ORDER layout: cluster rows by the interleaved bits of two
    * columns so files are tight in BOTH dimensions — the multi-column
    * data-skipping layout (Delta's OPTIMIZE ZORDER, Hudi clustering)
    * that lets min/max footer stats prune scans filtered on either
    * column. Rows land in 2^bucketBits directories by z-value prefix
    * (a deterministic assignment — unlike repartitionByRange's sampled
    * boundaries — so the layout is oracle-checkable), sorted by full
    * z within each, and written via partitionBy. Quantization maxes
    * come from one tiny agg broadcast into the scan. Returns the
    * bucketed frame (with `zbucket`) for callers that write
    * elsewhere. */
  def zOrderWrite(df: DataFrame, colA: String, colB: String, path: String,
      bits: Int = 8, bucketBits: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, max}
    val maxes = df.agg(max(col(colA)).as("__ma"), max(col(colB)).as("__mb"))
    val z = zValue(zQuantize(col(colA), col("__ma"), bits),
      zQuantize(col(colB), col("__mb"), bits), bits)
    val bucketed = df.crossJoin(broadcast(maxes))
      .withColumn("__z", z)
      .withColumn("zbucket",
        shiftrightunsigned(col("__z"), 2 * bits - bucketBits).cast("int"))
      .drop("__ma", "__mb")
    bucketed
      .repartition(col("zbucket"))
      .sortWithinPartitions("zbucket", "__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).partitionBy("zbucket").parquet(path)
    bucketed.drop("__z")
  }

  /** RANGE-sharded sorted export — the 1D sorted-layout sibling of
    * [[zOrderWrite]] and the lakehouse standard for a single-key
    * access pattern: rows land in shard directories by VALUE RANGE
    * and sorted within files, so both the directory manifest and the
    * parquet min/max footers prune range predicates.
    *
    * Shard boundaries come from the mergeable HISTOGRAM sketch
    * (graft.text.Sketches.histogramQuantiles, one global group) at
    * the requested quantiles — deterministic at bucket-width
    * granularity, unlike Spark's sample-based RangePartitioner, so
    * the whole layout is oracle-replayable AND the boundary pass is
    * one cell-space aggregation at any corpus size. The ≤ |qs|
    * boundary values are the only driver fetch (the broadcast-
    * threshold pattern); shard(v) = #boundaries ≤ v is then pure
    * scan-stage. Duplicate quantile buckets collapse (a shard may be
    * empty on skewed data — the manifest shows it). Returns the
    * sharded frame (with `shard`); callers read the manifest back
    * from the written files (io11 proves the on-disk layout). */
  def rangeShardWrite(df: DataFrame, valueCol: String, path: String,
      width: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val bounds = graft.text.Sketches.histogramQuantiles(
        df.select(lit(1).as("g"), col(valueCol)), "g", col(valueCol),
        width, qs)
      .select("bucket_lo").distinct()
      .collect().map(_.getLong(0)).sorted
    val shard = bounds.map(b => when(col(valueCol) >= b, 1).otherwise(0))
      .reduceOption[org.apache.spark.sql.Column](_ + _)
      .getOrElse(lit(0)).cast("int")
    val sharded = df.withColumn("shard", shard)
    sharded.repartition(col("shard"))
      .sortWithinPartitions("shard", valueCol)
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
    sharded
  }

  // ---- snapshot-versioned table: manifest time travel (io12) -------
  //
  // The lakehouse snapshot contract (what Delta/Iceberg provide)
  // built from first principles on plain parquet: every commit writes
  // IMMUTABLE files into its own uniquely-named `data/` dir and
  // publishes manifest rows (version, commit) enumerating the EXACT
  // commit set visible at that version, via an atomic per-version
  // manifest file (the CAS commit point — see casManifest). A reader
  // picks a version and unions only its manifest's dirs — so old
  // snapshots stay readable after later appends AND after an
  // overwrite (compaction / GDPR rewrite) replaces the visible set;
  // nothing is ever mutated in place. At 100 TB the manifest is a
  // version-count-sized parquet and the snapshot read is an ordinary
  // multi-dir parquet scan with all pushdown intact.

  /** One manifest row: `version` sees commit entry `commit`. `app` and
    * `batch` are the txn marker of the commit that wrote the entry
    * (None on carried-over rows and on pre-txn manifests). */
  private[sources] case class ManifestRow(version: Int, commit: String,
      app: Option[String], batch: Option[Long])

  /** The manifest's rows in scan order, fetched once per call —
    * version-count-sized driver work. The latest version, a version's
    * commit set and the txn markers all derive from these rows, so an
    * operation needing several of them scans the manifest once. Empty
    * when the table doesn't exist yet. */
  private[sources] def manifestRows(spark: SparkSession,
      path: String): Seq[ManifestRow] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val p = s"$path/manifest"
    if (!graft.Fs.exists(spark, p)) return Nil
    // mergeSchema: a manifest appended to across engine upgrades mixes
    // the pre-txn 2-column footers with the 4-column (app, batch) ones;
    // footer-sampling a random file would resolve columns by luck. A
    // pure pre-txn manifest has no (app, batch) footer anywhere: those
    // columns null-fill, so it simply carries no markers
    val m = graft.Fs.readParquet(spark, Seq(p), mergeSchema = true)
    def orNull(c: String, t: String) =
      (if (m.columns.contains(c)) col(c) else lit(null).cast(t)).as(c)
    m.select(col("version"), col("commit"), orNull("app", "string"),
      orNull("batch", "long")).as[ManifestRow].collect().toSeq
  }

  private[sources] def latestOf(rows: Seq[ManifestRow]): Int =
    rows.map(_.version).maxOption.getOrElse(0)

  private[sources] def commitsAt(rows: Seq[ManifestRow], v: Int): Seq[String] =
    rows.collect { case r if r.version == v => r.commit }

  /** Version `v`'s commit entries, failing loudly on a missing table or
    * an unknown (or vacuumed) version. */
  private def liveCommits(rows: Seq[ManifestRow], path: String,
      v: Int): Seq[String] = {
    if (rows.isEmpty) sys.error(s"no snapshot table at $path")
    val commits = commitsAt(rows, v)
    require(commits.nonEmpty, s"unknown snapshot version $v at $path")
    commits
  }

  /** Whether a manifest row already carries `txn`'s (appId, batchId). */
  private def committed(rows: Seq[ManifestRow],
      txn: Option[(String, Long)]): Boolean = txn.exists { case (app, batch) =>
    rows.exists(r => r.app.contains(app) && r.batch.contains(batch))
  }

  /** Latest committed version (0 when the table doesn't exist yet). */
  def snapshotLatestVersion(spark: SparkSession, path: String): Int =
    latestOf(manifestRows(spark, path))

  /** Number of commit dirs version `v` unions — the small-file count
    * an auto-compaction trigger (sw27) watches. Version-count-sized
    * driver work, like every manifest fetch. */
  def snapshotCommitDirs(spark: SparkSession, path: String, v: Int): Int =
    commitsAt(manifestRows(spark, path), v).size

  /** Atomically PUBLISH version `v`'s manifest rows — THE commit
    * point of the optimistic-concurrency protocol: the rows land as
    * ONE file at the version-deterministic name `manifest/v<v>.parquet`
    * via a rename that fails when the destination exists, so exactly
    * one committer can ever own a version (the Delta log-store
    * contract: per-version log files, atomic put-if-absent). Returns
    * false when another committer already published `v` — the caller
    * retries at a later version (append) or fails loudly (overwrite).
    *
    * In-process interleavings are serialized by a JVM-wide monitor
    * around the exists-check + rename; across processes the rename's
    * no-overwrite atomicity is the filesystem's contract (atomic on
    * HDFS-family stores — the same assumption Delta's HDFSLogStore
    * makes; eventually-consistent object stores need a CAS-capable
    * log service, Delta's caveat verbatim). Old appended part-files
    * (the pre-CAS layout) and v-named files read together under one
    * mergeSchema scan — existing tables upgrade in place. */
  private val commitMonitor = new Object
  private def casManifest(spark: SparkSession, rows: Seq[ManifestRow],
      path: String, v: Int): Boolean = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = s"$path/.tmp-manifest-" +
      java.util.UUID.randomUUID().toString.take(8)
    rows.toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    try {
      val part = fs.listStatus(tmpPath)
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = fs.makeQualified(
        new org.apache.hadoop.fs.Path(f"$path/manifest/v$v%09d.parquet"))
      fs.mkdirs(dst.getParent)
      commitMonitor.synchronized {
        if (fs.exists(dst)) false
        else
          try {
            org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
              .rename(fs.makeQualified(part), dst)
            true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          }
      }
    } finally fs.delete(tmpPath, true)
  }

  /** One unique commit-dir name per commit ATTEMPT (the Delta shape:
    * uniquely-named data files, conflicts resolved at the log) — two
    * racing committers can never interleave part files in one dir,
    * and a conflict retry re-attempts only the manifest row, never
    * the data write. `v` is the version the committer targeted when
    * it wrote — cosmetic after a conflict retry (the manifest row is
    * the truth; dir names are opaque to every reader). */
  private def newCommitDirName(v: Int): String =
    s"c$v-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Commit `df` as the next version. `overwrite = false` appends (the
    * new version sees every prior commit plus this one); `overwrite =
    * true` REPLACES the visible set (the new version sees only this
    * commit — prior versions keep reading their own snapshots).
    * Returns the committed version number.
    *
    * CONCURRENCY (optimistic, the Delta protocol): data files land
    * once under a commit dir no other writer can collide with
    * ([[newCommitDirName]]); the commit point is [[casManifest]]'s
    * atomic put-if-absent of the version's manifest file. Losing the
    * race on an APPEND is retried at the next version — the carried
    * prior set is re-read, so the winner's rows are never lost or
    * doubled; losing on an OVERWRITE fails loudly (the visible set
    * the caller decided to replace has changed under it — blind
    * retry would silently drop the winner's commit; re-run the
    * operation against the new state instead). A commit that crashes
    * between data write and manifest publish leaves an unreferenced
    * dir no reader ever sees; vacuum's orphan GC reclaims it.
    * Concurrent `statsCols` writers race on the shared stats
    * side-table's temp dir (a Spark append limitation) — stats are
    * advisory (a missing row only disables pruning for that commit),
    * but concurrent stats-bearing committers should serialize.
    *
    * `txn = Some((appId, batchId))` makes the commit IDEMPOTENT
    * (io21/sw28 — Delta's txn appId/version): the marker lands in
    * the manifest row itself, so the commit and its dedup record are
    * one append, and a RETRY of an already-committed (appId, batchId)
    * is a no-op returning the current version — the exactly-once
    * contract a foreachBatch sink needs, because the streaming
    * engine replays batches after failures. The marker is re-checked
    * after every lost race, so twin writers replaying one batch
    * commit it exactly once. Markers live as long as some retained
    * version's manifest rows carry them; vacuum preserves the
    * columns, so the idempotence window is the vacuum retention
    * window (Delta's is the log retention, same shape). */
  def snapshotCommit(df: DataFrame, path: String,
      overwrite: Boolean = false, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Int = {
    val spark = df.sparkSession
    val rows = manifestRows(spark, path)
    // a table whose manifest predates the txn columns entirely simply
    // has no markers: the idempotence check degrades to "not committed"
    if (committed(rows, txn)) latestOf(rows)
    else commitAfter(df, path, overwrite, statsCols, txn, rows)
  }

  /** [[snapshotCommit]] after the idempotence check: `seen` is the
    * manifest as the caller last read it, so the first attempt
    * targets the version after `seen` without another manifest scan
    * (a caller that derived `df` from `seen` — merge, optimize,
    * restore, a view refresh — thereby commits against exactly the
    * state it read). A lost race re-reads the manifest: that re-read
    * is the concurrency protocol. */
  private[sources] def commitAfter(df: DataFrame, path: String,
      overwrite: Boolean, statsCols: Seq[String], txn: Option[(String, Long)],
      seen: Seq[ManifestRow]): Int = {
    val spark = df.sparkSession
    var rows = seen
    var v = latestOf(rows) + 1
    val dirName = newCommitDirName(v)
    df.write.mode(SaveMode.Overwrite).parquet(s"$path/data/$dirName")
    writeStats(spark, path, Seq(dirName), statsCols)
    var attempt = 0
    while (true) {
      val prior: Seq[String] =
        if (overwrite || v == 1) Seq.empty else commitsAt(rows, v - 1)
      // carried-over rows get no txn marker: the marker belongs to the
      // commit it deduplicates, and it stays on that commit's own rows
      val entries = prior.map(ManifestRow(v, _, None, None)) :+
        ManifestRow(v, dirName, txn.map(_._1), txn.map(_._2))
      if (casManifest(spark, entries, path, v)) return v
      // lost the race: version v belongs to another committer
      require(!overwrite,
        s"concurrent commit conflict: version $v of $path was published " +
          "by another writer while this overwrite was in flight; re-run " +
          "the operation against the new table state")
      attempt += 1
      require(attempt <= 1000,
        s"gave up after $attempt commit conflicts on $path")
      rows = manifestRows(spark, path)
      if (committed(rows, txn)) {
        // a twin writer replaying the same (appId, batchId) won — this
        // attempt's data dir is now an orphan; reclaim it eagerly
        graft.Fs.deleteRecursive(spark, s"$path/data/$dirName")
        return latestOf(rows)
      }
      v = latestOf(rows) + 1
    }
    -1 // unreachable
  }

  /** Append zone-map stats rows (commit, column, smin, smax) for the
    * given written commit entries. Stats describe the FILES, so they
    * are computed from each written dir (one column-pruned scan), not
    * from the committed frame — a nondeterministic input can't
    * desynchronize stats from data. */
  private def writeStats(spark: SparkSession, path: String,
      commits: Seq[String], statsCols: Seq[String]): Unit =
    if (statsCols.nonEmpty) {
      import org.apache.spark.sql.functions.{col, max, min}
      import spark.implicits._
      val aggs = statsCols.flatMap(c =>
        Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
      commits.flatMap { c =>
        val row = graft.Fs.readParquet(spark, commitDir(path, c))
          .agg(aggs.head, aggs.tail: _*).head
        def at(i: Int) = if (row.isNullAt(i)) None else Some(row.getDouble(i))
        statsCols.zipWithIndex.map { case (s, i) =>
          (c, s, at(2 * i), at(2 * i + 1)) }
      }.toDF("commit", "column", "smin", "smax")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/stats")
    }

  /** OPTIMIZE the current snapshot (io17) — Delta OPTIMIZE / Iceberg
    * rewrite_data_files at the commit grain: rewrite the LATEST
    * version's visible set as ONE compacted commit (an overwrite
    * commit, content-identical), folding a long append chain's
    * small files into `targetFiles` and recomputing zone-map stats
    * for the compacted dir when `statsCols` is given. Older versions
    * keep reading their own snapshots (io12's immutability); vacuum
    * (io15) reclaims the superseded dirs afterwards.
    *
    * At 100 TB the compaction read/write is one pass over the live
    * set with full pushdown; a production variant compacts per
    * range-cluster (io11 layout) so post-optimize commits keep
    * tight zones — a single global rewrite collapses the commit
    * grain to one dir, trading skipping granularity for file count,
    * which is why `statsCols` re-records the (now wide) zone
    * honestly. Returns the new version. */
  def snapshotOptimize(spark: SparkSession, path: String,
      targetFiles: Int = 1, statsCols: Seq[String] = Nil): Int = {
    val rows = manifestRows(spark, path)
    val latest = latestOf(rows)
    require(latest > 0, s"no snapshot table at $path")
    // no pin: the commit writes a fresh, uniquely named commit dir, so
    // it never overwrites the files this plan scans
    val cur = readCommits(spark, path, commitsAt(rows, latest))
      .coalesce(targetFiles)
    commitAfter(cur, path, overwrite = true, statsCols, None, rows)
  }

  /** RESTORE the table to an earlier version (io23 — Delta RESTORE /
    * Iceberg rollback, in the audited form): re-commit version `v`'s
    * content as a NEW overwrite commit, so the rollback is itself a
    * history event — every prior version (including the bad one being
    * rolled back) stays readable for forensics, and downstream CDC
    * subscribers (io14) see the restore as an ordinary diff instead
    * of history rewriting itself under them. One pass over v's live
    * set with full pushdown; manifest work is version-count-sized.
    * Returns the new version. */
  def snapshotRestore(spark: SparkSession, path: String, v: Int): Int = {
    val rows = manifestRows(spark, path)
    val latest = latestOf(rows)
    require(v >= 1 && v <= latest, s"version $v not in [1, $latest]")
    // no pin: the commit writes a fresh, uniquely named commit dir, so
    // it never overwrites the files this plan scans
    commitAfter(readCommits(spark, path, liveCommits(rows, path, v)), path,
      overwrite = true, Nil, None, rows)
  }

  /** Declare a CHECK constraint on a snapshot table (io22 — Delta's
    * ALTER TABLE ADD CONSTRAINT): `checkSql` is a boolean SQL
    * expression every FUTURE checked commit must satisfy on every
    * row. Stored as (name, expr) beside the manifest; engine-neutral
    * (the expression is SQL text, not a serialized plan). */
  def snapshotAddConstraint(spark: SparkSession, path: String,
      name: String, checkSql: String): Unit = {
    import spark.implicits._
    require(name.nonEmpty && checkSql.nonEmpty, "name and check required")
    Seq((name, checkSql)).toDF("name", "check_sql")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/constraints")
  }

  /** The table's declared constraints (empty when none). */
  def snapshotConstraintsOf(spark: SparkSession,
      path: String): Seq[(String, String)] = {
    import spark.implicits._
    val p = s"$path/constraints"
    if (!graft.Fs.exists(spark, p)) Seq.empty
    else graft.Fs.readParquet(spark, p).as[(String, String)].collect().toSeq.sorted
  }

  /** Commit with CHECK enforcement (io22): ONE aggregation pass counts
    * each declared constraint's violating rows in `df`; any violation
    * fails the whole commit LOUDLY (names + counts) and the table is
    * untouched — enforcement is all-or-nothing at the commit boundary,
    * the Delta constraint contract. A null check result counts as a
    * violation (unknown is not proof of validity). Clean batches
    * delegate to [[snapshotCommit]] unchanged. Costs one validation
    * pass over the batch before the write pass (all constraints fold
    * into a single agg); Delta folds validation into the write
    * itself — the two-pass form keeps the reject path table-neutral
    * without write-side hooks. */
  def snapshotCommitChecked(df: DataFrame, path: String,
      overwrite: Boolean = false, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val spark = df.sparkSession
    val cs = snapshotConstraintsOf(spark, path)
    if (cs.nonEmpty) {
      // outer coalesce: sum() over an EMPTY batch is null, and an
      // empty micro-batch must commit as a no-op, not NPE on getLong
      val aggs = cs.map { case (n, c) =>
        coalesce(
          sum(when(!coalesce(expr(c), lit(false)), 1L).otherwise(0L)),
          lit(0L)).as(n)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head
      val bad = cs.zipWithIndex
        .map { case ((n, c), i) => (n, c, row.getLong(i)) }
        .filter(_._3 > 0)
      require(bad.isEmpty, "constraint violation(s), commit rejected: " +
        bad.map { case (n, c, k) => s"$n [$c]: $k row(s)" }.mkString("; "))
    }
    snapshotCommit(df, path, overwrite, statsCols, txn)
  }

  /** Batch MERGE INTO (io19) — the Delta MERGE / Iceberg merge-on-read
    * upsert as one snapshot commit: `changes` rows whose `deleteCol`
    * is true delete their key, every other change row REPLACES its
    * key's current row (update) or lands new (insert), and untouched
    * current rows carry over. Commits the merged set as an OVERWRITE
    * version — prior versions keep reading their own snapshots, so
    * the merge is also a time-travelable audit point (the GDPR/
    * takedown shape: the pre-merge version proves what was removed).
    *
    * Scale shape: ONE keyed left-anti join of the current snapshot
    * against the change keys plus a union — the same plan the sw25
    * streaming CDC apply runs per micro-batch; the snapshot scan
    * keeps full pushdown, nothing is collected. Change rows must
    * carry the table schema plus `deleteCol`; the key must be unique
    * in `changes` (one verdict per key per merge). Returns the new
    * version. */
  def snapshotMerge(spark: SparkSession, path: String, changes: DataFrame,
      keyCol: String, deleteCol: String,
      statsCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    val rows = manifestRows(spark, path)
    val latest = latestOf(rows)
    require(latest > 0, s"no snapshot table at $path")
    val cur = readCommits(spark, path, commitsAt(rows, latest))
    val next = cur
      .join(changes.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(changes.filter(!col(deleteCol)).drop(deleteCol))
    // no pin: the commit writes a fresh, uniquely named commit dir, so
    // it never overwrites the files this plan scans
    commitAfter(next, path, overwrite = true, statsCols, None, rows)
  }

  /** CLUSTERED optimize (io18) — io17's compaction without its
    * skipping-granularity loss: the latest live set is rewritten as
    * ONE new version whose data lands in per-cluster commit dirs
    * (cluster i = the `clusterCol` range between explicit
    * `bounds(i-1)` and `bounds(i)`, the io11 range-layout rule), each
    * dir with its own tight zone-map stats. A later range read prunes
    * at the cluster grain — where io17's single wide commit scans
    * 1 of 1, the clustered form scans only the overlapping clusters.
    * This is Delta OPTIMIZE ZORDER / Iceberg rewrite with a sort
    * order, at the commit-dir grain.
    *
    * One shuffle write (repartition by cluster + partitionBy), then
    * clusters-bounded driver work: enumerate the written cluster
    * dirs, one column-pruned stats scan per dir, k manifest rows
    * under a single version. Empty clusters write no dir and get no
    * manifest row. Older versions keep reading their own snapshots;
    * vacuum reclaims superseded dirs (a reclaimed cluster dir leaves
    * its empty `c<v>` parent behind — harmless, listed nowhere).
    * Returns the new version. */
  def snapshotOptimizeClustered(spark: SparkSession, path: String,
      clusterCol: String, bounds: Seq[Double],
      statsCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{col, when}
    val rows = manifestRows(spark, path)
    val latest = latestOf(rows)
    require(latest > 0, s"no snapshot table at $path")
    require(bounds.nonEmpty && bounds == bounds.sorted,
      "bounds must be non-empty and ascending")
    val shard = bounds.map(b => when(col(clusterCol).cast("double") >= b, 1)
        .otherwise(0))
      .reduce[org.apache.spark.sql.Column](_ + _).cast("int")
    val v = latest + 1
    val dirName = newCommitDirName(v)
    // no pin: the rewrite lands in a fresh, uniquely named commit dir,
    // so it never overwrites the files this plan scans
    readCommits(spark, path, commitsAt(rows, latest))
      .withColumn("__cluster", shard)
      .repartition(col("__cluster"))
      .sortWithinPartitions(col("__cluster"), col(clusterCol))
      .write.mode(SaveMode.Overwrite).partitionBy("__cluster")
      .parquet(s"$path/data/$dirName")
    val commits = graft.Fs.listDirNames(spark, s"$path/data/$dirName")
      .filter(_.startsWith("__cluster=")).sorted.map(d => s"$dirName/$d")
    require(commits.nonEmpty, "optimize of an empty table")
    writeStats(spark, path, commits, statsCols)
    // an OVERWRITE-style commit: losing the CAS means the live set
    // changed under the rewrite — fail loudly, same as snapshotCommit
    require(casManifest(spark, commits.map(ManifestRow(v, _, None, None)),
      path, v),
      s"concurrent commit conflict: version $v of $path was published " +
        "by another writer during the clustered optimize; re-run it " +
        "against the new table state")
    v
  }

  private def statsOf(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = s"$path/stats"
    if (graft.Fs.exists(spark, p)) Some(graft.Fs.readParquet(spark, p)) else None
  }

  /** ZONE-MAP pruned snapshot read (io16) — the data-skipping half of
    * the lakehouse contract (Delta data skipping / Iceberg min-max
    * pruning / parquet row-group zone maps, lifted to the commit-dir
    * grain): read version `asOf` keeping only the commit dirs whose
    * [smin, smax] for `column` overlaps [lo, hi], then apply the
    * range predicate to the surviving scan (pushdown intact). Commits
    * with no stats row for `column` (committed without `statsCols`,
    * or an all-null column) can't be pruned and are always scanned —
    * skipping is an optimization, never a filter.
    *
    * At 100 TB this is THE scan lever: the manifest+stats fetch is
    * version-count-sized driver work, and a range predicate over a
    * range-clustered table (io11 layout / date-partitioned ingest)
    * reads only the matching commits instead of the whole table.
    * Returns (rows, scanned commit dirs, total commit dirs). */
  def snapshotReadPruned(spark: SparkSession, path: String, asOf: Int,
      column: String, lo: Double, hi: Double): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val commits = liveCommits(manifestRows(spark, path), path, asOf)
    val ranges: Map[String, (Option[Double], Option[Double])] =
      statsOf(spark, path).map(_.filter(col("column") === column)
        .select("commit", "smin", "smax")
        .collect()
        .map(r => (r.getString(0),
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap).getOrElse(Map.empty)
    val kept = commits.filter { c =>
      ranges.get(c) match {
        case Some((Some(mn), Some(mx))) => mx >= lo && mn <= hi
        case _ => true // no stats / all-null column: can't prune
      }
    }
    val pred = col(column).cast("double") >= lo &&
      col(column).cast("double") <= hi
    val df =
      if (kept.isEmpty)
        // every dir pruned: preserve the schema, scan nothing
        readCommits(spark, path, commits.take(1))
          .filter(org.apache.spark.sql.functions.lit(false))
      else readCommits(spark, path, kept).filter(pred)
    (df, kept.size, commits.size)
  }

  /** Resolve a manifest commit entry to its data dir: locally-owned
    * commits live under this table's `data/`; `ref:`-prefixed entries
    * (written by [[snapshotClone]]) reference ANOTHER table's commit
    * dir verbatim — zero-copy borrowed storage. */
  private[sources] def commitDir(path: String, c: String): String =
    if (c.startsWith("ref:")) c.substring(4) else s"$path/data/$c"

  /** A commit entry this table physically owns (vs a clone borrow). */
  private def isOwnedCommit(c: String): Boolean = !c.startsWith("ref:")

  /** Read the table AS OF `version`: union exactly the commit dirs
    * that version's manifest lists. The commit list is a
    * version-sized driver fetch (the broadcast-threshold pattern);
    * the read is a plain parquet scan — pushdown/pruning intact.
    * `mergeSchema = true` unions EVOLVED commit schemas (io20 — the
    * Delta schema-evolution read: a column added by a later commit
    * null-fills in earlier commits' rows and vice versa) at the cost
    * of a footer read per commit dir; the default single-footer
    * inference is right for tables whose commits share a schema. */
  def snapshotRead(spark: SparkSession, path: String,
      version: Int, mergeSchema: Boolean = false): DataFrame =
    readCommits(spark, path, liveCommits(manifestRows(spark, path), path,
      version), mergeSchema)

  /** One scan over the given commit entries' data dirs. */
  private[sources] def readCommits(spark: SparkSession, path: String,
      commits: Seq[String], mergeSchema: Boolean = false): DataFrame =
    graft.Fs.readParquet(spark, commits.map(c => commitDir(path, c)),
      mergeSchema)

  /** SHALLOW CLONE (io24 — Delta CLONE): create a new snapshot table
    * at `dstPath` whose version 1 REFERENCES the source's latest
    * commit dirs (`ref:`-prefixed manifest entries) — zero data
    * copied, a metadata-only operation however large the source. The
    * clone then evolves independently: its own commits land under
    * its own `data/`, and vacuuming the clone drops borrowed entries
    * from its manifest WITHOUT deleting the source's dirs (only
    * locally-owned dirs are ever physically deleted). Caveat shared
    * with Delta: vacuuming the SOURCE can remove dirs a clone still
    * references — source retention policy must outlive its clones
    * (SourcesSpec pins both sides). An OPTIMIZE of the clone (io17)
    * rewrites the live set into owned storage — the deep-copy
    * escape hatch. */
  def snapshotClone(spark: SparkSession, srcPath: String,
      dstPath: String): Int = {
    val rows = manifestRows(spark, srcPath)
    val v = latestOf(rows)
    require(v > 0, s"no snapshot table at $srcPath")
    require(snapshotLatestVersion(spark, dstPath) == 0,
      s"$dstPath is already a snapshot table")
    // ref: entries must be CWD-independent: a relative srcPath would
    // bake the current working directory into the clone's manifest and
    // break its reads from any other session
    val srcQualified = graft.Fs.qualify(spark, srcPath)
    // clone-of-clone: an already-borrowed entry stays as written
    require(casManifest(spark, commitsAt(rows, v).map { c =>
        ManifestRow(1, if (isOwnedCommit(c)) s"ref:$srcQualified/data/$c" else c,
          None, None)
      }, dstPath, 1),
      s"concurrent clone conflict: $dstPath version 1 was published " +
        "by another writer")
    1
  }

  /** VACUUM retention (io15) — the storage-reclaim half of the io12
    * contract (Delta VACUUM / Iceberg expire_snapshots): drop every
    * version below `keepFrom` and physically delete the commit dirs
    * no surviving version references. Versions ≥ keepFrom keep
    * reading byte-identically (their commit sets are untouched);
    * reads of expired versions fail loudly at the manifest lookup.
    * Also garbage-collects ORPHAN data dirs — dirs no manifest row
    * (kept or expired) references, left by commits that crashed
    * before their manifest publish — but only those older than
    * `orphanGraceMs`, so an IN-FLIGHT concurrent commit's data (also
    * unreferenced until its CAS lands) is never swept (Delta VACUUM's
    * retention-window rule, same reason). Unlike commits, vacuum is
    * an administrative op run SINGLE-WRITER: it rewrites the manifest
    * dir in place, so don't race it with committers. Driver work is
    * version-count-sized. Returns (kept commit dirs, deleted commit
    * dirs — orphans not counted). */
  def snapshotVacuum(spark: SparkSession, path: String,
      keepFrom: Int, orphanGraceMs: Long = 86400000L): (Int, Int) = {
    import spark.implicits._
    val rows = manifestRows(spark, path)
    if (rows.isEmpty) sys.error(s"no snapshot table at $path")
    require(rows.exists(_.version >= keepFrom),
      s"vacuum would drop every version of $path (keepFrom=$keepFrom)")
    val keep = rows.filter(_.version >= keepFrom)
    val keepSet = keep.map(_.commit).toSet
    val drop = rows.map(_.commit).toSet -- keepSet
    // borrowed (ref:) entries leave the manifest but their dirs belong
    // to the clone SOURCE — never physically delete another table's data
    drop.filter(isOwnedCommit)
      .foreach(c => graft.Fs.deleteRecursive(spark, s"$path/data/$c"))
    // txn markers (app, batch) survive the rewrite: the idempotence
    // window is exactly the vacuum retention window, and a pre-txn
    // manifest comes out in the 4-column layout
    keep.toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/manifest")
    // zone-map stats rows of deleted dirs go with them, so a later
    // pruned read never consults stats for a commit that no longer
    // exists (pin the surviving rows before overwriting the dir)
    statsOf(spark, path).foreach { st =>
      val live = st.filter(!org.apache.spark.sql.functions.col("commit")
        .isin(drop.toSeq: _*)).localCheckpoint()
      live.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/stats")
    }
    // ORPHAN GC: data dirs no manifest row ever referenced — crashed
    // commits (data written, CAS never published) and lost-overwrite
    // retries. Referenced roots are the first path segment (clustered
    // commits record `dir/__cluster=k`). The grace window protects
    // in-flight concurrent commits, whose dirs are also unreferenced
    // until their CAS lands.
    locally {
      val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
      val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dataPath)) {
        val referenced = rows.map(_.commit).filter(isOwnedCommit)
          .map(_.split('/').head).toSet
        val cutoff = System.currentTimeMillis() - orphanGraceMs
        fs.listStatus(dataPath)
          .filter(st => st.isDirectory &&
            !referenced.contains(st.getPath.getName) &&
            st.getModificationTime < cutoff)
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
    (keepSet.size, drop.size)
  }

  /** CHANGE FEED between two committed versions (io14) — the CDC
    * contract lakehouse formats expose (Delta CDF / Iceberg
    * changelog), derived here from the io12 snapshots themselves:
    * key-resolved row diff of the `fromVersion` and `toVersion`
    * reads. A key present only in `to` emits `insert` (to-side
    * values), only in `from` emits `delete` (from-side values), and
    * present in both with ANY non-key column changed emits `update`
    * (to-side values — the post-image). Unchanged rows emit nothing.
    *
    * Scale shape: ONE full outer join keyed on `keyCol` between two
    * plain multi-dir parquet scans (pushdown intact) — no snapshot
    * is ever collected, and the change classification is a codegen'd
    * struct comparison, so the feed costs one shuffle of the two
    * snapshot reads regardless of how many versions lie between.
    * Requires `keyCol` unique per snapshot (the committed tables here
    * are keyed); a multiset diff would need row-count pairing. */
  def snapshotChanges(spark: SparkSession, path: String, keyCol: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val (joined, valCols) = diffJoin(spark, path, manifestRows(spark, path),
      keyCol, fromVersion, toVersion)
    joined
      .withColumn("change",
        when(col("__f").isNull, lit("insert"))
          .when(col("__t").isNull, lit("delete"))
          .when(col("__f") =!= col("__t"), lit("update")))
      .filter(col("change").isNotNull)
      .select(Seq(col("change"), col(keyCol)) ++ valCols.map(c =>
        when(col("change") === "delete", col(s"__f.$c"))
          .otherwise(col(s"__t.$c")).as(c)): _*)
  }

  /** The keyed diff both change feeds classify: ONE full outer join on
    * `keyCol` of the two versions' scans, each side's non-key values
    * packed into one struct (`__f` from, `__t` to; null where the key
    * is absent on that side). `rows` is the manifest as read once by
    * the caller. Returns the join and the non-key column names. */
  private def diffJoin(spark: SparkSession, path: String,
      rows: Seq[ManifestRow], keyCol: String, fromVersion: Int,
      toVersion: Int): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, struct}
    val from = readCommits(spark, path, liveCommits(rows, path, fromVersion))
    val to = readCommits(spark, path, liveCommits(rows, path, toVersion))
    val valCols = to.columns.filter(_ != keyCol).toIndexedSeq
    require(from.columns.sorted.sameElements(to.columns.sorted),
      s"snapshot schemas diverge between v$fromVersion and v$toVersion")
    def pack(df: DataFrame, side: String) = df.select(col(keyCol),
      struct(valCols.map(col): _*).as(s"__$side"))
    (pack(from, "f").join(pack(to, "t"), Seq(keyCol), "full_outer"), valCols)
  }

  /** Delta-CDF-style change feed (io25) — [[snapshotChanges]] with
    * UPDATE rows emitted as BOTH images: `update_preimage` (the old
    * values) and `update_postimage` (the new), Delta's `_change_type`
    * contract. The two-image form is what an incremental AGGREGATE
    * maintainer needs — it subtracts the pre-image and adds the
    * post-image, so a changed row moves its mass between groups
    * without rescanning the table ([[MaterializedView.refresh]]).
    * Same ONE full-outer key join of two snapshot scans as io14 —
    * never a log replay — with the image split done by a bounded
    * explode (≤2 rows per changed key) in the same scan stage. */
  def snapshotChangesCdf(spark: SparkSession, path: String,
      keyCol: String, fromVersion: Int, toVersion: Int): DataFrame =
    changesCdf(spark, path, manifestRows(spark, path), keyCol, fromVersion,
      toVersion)

  /** [[snapshotChangesCdf]] over a manifest the caller already read. */
  private[sources] def changesCdf(spark: SparkSession, path: String,
      rows: Seq[ManifestRow], keyCol: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit,
      struct, when}
    val (joined, valCols) = diffJoin(spark, path, rows, keyCol, fromVersion,
      toVersion)
    joined
      .select(col(keyCol), explode(
        when(col("__f").isNull,
          array(struct(lit("insert").as("change"), col("__t").as("v"))))
        .when(col("__t").isNull,
          array(struct(lit("delete").as("change"), col("__f").as("v"))))
        .when(col("__f") =!= col("__t"), array(
          struct(lit("update_preimage").as("change"), col("__f").as("v")),
          struct(lit("update_postimage").as("change"), col("__t").as("v"))))
        .otherwise(array())).as("__c"))
      .select(Seq(col("__c.change").as("change"), col(keyCol)) ++
        valCols.map(c => col(s"__c.v.$c").as(c)): _*)
  }
}
