package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.ScratchDirs.deleteDir

/** Executes a FINITE Structured Streaming pipeline end-to-end and
  * returns its materialized result — the bridge that lets the
  * streaming operators participate in the batch-oriented driver
  * contract (SparkEntry.queries → Verify/Bench → DuckDB oracle).
  *
  * Mechanics: the batch input is written to a parquet staging dir,
  * streamed back through the FILE SOURCE (the same source a production
  * deployment tails, schema pinned explicitly), run through
  * `transform` with `Trigger.AvailableNow` (process-everything-then-
  * stop — the replay/backfill trigger), and collected in a memory
  * sink. The query that comes back out is the REAL streaming engine's
  * output: micro-batch planner, state store, watermark accounting —
  * not a batch rewrite of it.
  *
  * Scale notes: the staging write is an artifact of the harness, not
  * the operator (production reads the live source directly); the
  * memory sink bounds are the aggregate's, not the stream's (windowed
  * counts / dedup survivors). Sink table names are uniquified per run
  * so repeated invocations in one session never read a stale view.
  */
object StreamRunner {

  private val runSeq = new AtomicLong(0)

  // latest memory-sink view per (still-running session, query name):
  // each new run drops its predecessor so a long session (Perf loops,
  // repeated Bench) holds at most ONE materialized result per query,
  // not one per invocation. Dropping only the PREVIOUS sink keeps the
  // frame we just returned alive for the caller.
  private val lastSink = scala.collection.mutable.Map[(SparkSession, String), String]()

  // staged-input reuse per (session, name, input plan): the parquet
  // staging write is a HARNESS artifact (production tails its live
  // source directly), so a repeat run of the same query over the same
  // input — Bench's warm second run, Perf loops — must not re-pay it.
  // Keyed by the analyzed input plan so the same query name at a
  // different sf stages fresh; dirs are pid-scoped tmp, one per
  // (query, input) per session, deleted by the shutdown hook below
  // (per-run deletion would defeat the reuse).
  private val stagedInputs =
    scala.collection.mutable.Map[(SparkSession, String), String]()

  // one hook for the JVM: staged dirs would otherwise accumulate one
  // set per pid across repeated sweeps until the tmp volume fills
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    stagedInputs.synchronized { stagedInputs.values.foreach(deleteDir) }))

  /** Seed a foreachBatch parquet sink empty (truncating prior runs'
    * rows) with EXACTLY the schema the stream will append. Mixed
    * schemas in one sink dir are the trap this guards: a seed with
    * extra columns makes the read-back schema depend on which footer
    * parquet samples — green locally, red at the gate. */
  def seedSink(appendSchema: DataFrame, path: String): Unit =
    appendSchema.limit(0).write.mode("overwrite").parquet(path)

  /** Read back a foreachBatch parquet sink, failing LOUDLY if the dir
    * holds any schema beyond `cols` (mergeSchema surfaces every
    * column any footer carries, so a mixed-schema sink can't hide
    * behind footer-sampling luck). */
  def readSink(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    require(df.columns.sorted.toSeq == cols.sorted,
      s"sink $path read-back schema (${df.columns.sorted.mkString(",")}) != " +
        s"appended schema (${cols.sorted.mkString(",")}) — mixed-schema sink")
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
  }

  def runAvailableNow(spark: SparkSession, batch: DataFrame, name: String,
      outputMode: String, extraConfs: Map[String, String] = Map.empty)
      (transform: DataFrame => DataFrame): DataFrame = {
    // canonicalized 128-bit plan digest: attribute ids (#123) are
    // fresh per analysis, so a raw plan string would never repeat
    // across runs — canonicalization renumbers ids positionally so
    // only true semantic twins share a key, and the MD5 digest (vs
    // the old 32-bit semanticHash) makes a silent cross-query
    // collision computationally implausible. Schema stays in the key
    // as a cheap second discriminator.
    val stageKey = (spark, name + "|" + graft.Memo.planKey(batch) + "|" +
      batch.schema.catalogString)
    // pid + runSeq scope the staging dir: concurrent JVMs (a Bench
    // sweep racing a Verify run) and re-runs at a different sf must
    // never overwrite a directory another AvailableNow stream is
    // reading mid-flight
    val stage = stagedInputs.synchronized {
      // reclaim dirs of stopped sessions NOW — eviction without
      // deletion would leak them until JVM exit (the shutdown hook
      // only walks surviving entries)
      val dead = stagedInputs.keys
        .filter { case (s, _) => s.sparkContext.isStopped }.toSeq
      dead.foreach(k => stagedInputs.remove(k).foreach(deleteDir))
      // a tmp reaper may have removed a memoized dir mid-session:
      // re-stage rather than hand the file source a dead path
      stagedInputs.get(stageKey)
        .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
    }.getOrElse {
      val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_stream/" +
        s"${name}_p${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"
      // modest file count: the file source lists + tracks every staged
      // file per micro-batch, and the harness batches are aggregate-sized
      batch.coalesce(8).write.mode("overwrite").parquet(dir)
      stagedInputs.synchronized {
        stagedInputs.get(stageKey)
          .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
          match {
            // lost a stage race: use the winner's dir, reclaim ours
            // (safe — no stream has read it yet)
            case Some(winner) => deleteDir(dir); winner
            case None => stagedInputs.put(stageKey, dir); dir
          }
      }
    }
    val src = spark.readStream.schema(batch.schema).parquet(stage)
    execToMemorySink(spark, src, name, outputMode, extraConfs)(transform)
  }

  /** [[runAvailableNow]] with TIME-ORDERED multi-batch replay: the
    * staged input is range-partitioned on `orderCol` into `files`
    * parquet files whose modification times are stamped in range
    * order, and the file source replays them ONE PER MICRO-BATCH
    * (`maxFilesPerTrigger` = 1, and the source picks pending files in
    * mod-time order) — so event time advances monotonically across
    * batches, the watermark never retro-drops a staged row, and a
    * stateful operator genuinely carries state across ≥ `files`
    * micro-batches instead of seeing everything in one (the sw41
    * custom-state gate's whole point). Production needs none of this:
    * a tailed directory arrives in time order by construction. */
  def runAvailableNowOrdered(spark: SparkSession, batch: DataFrame,
      name: String, outputMode: String, orderCol: String, files: Int = 4,
      extraConfs: Map[String, String] = Map.empty)
      (transform: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val stage = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_stream/" +
      s"${name}_p${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"
    batch.repartitionByRange(files, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(stage)
    // part-0000i carries the i-th range: stamp strictly increasing
    // mtimes in name order so the source's mod-time ordering replays
    // the ranges oldest-first deterministically
    locally {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val dir = Paths.get(stage)
      // Files.list opens a directory handle the stream must close —
      // unclosed, every ordered run leaks one fd for the process life
      val listing = Files.list(dir)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toList
          .sortBy(_.getFileName.toString)
        finally listing.close()
      // Zero part files: zero rows have no batches to order. Current
      // Spark writes one schema-preserving empty part file for an
      // empty frame (so on today's writer this branch is dormant —
      // the fallback itself is spec'd via emptyReplayResult), but
      // that is a writer implementation detail: a future Spark/AQE
      // that stages NOTHING for an empty write must hit the
      // documented zero-row path, not a hard require (ADVICE r14).
      if (parts.isEmpty) {
        deleteDir(stage)
        return emptyReplayResult(batch)(transform)
      }
      val base = Files.getLastModifiedTime(parts.head).toMillis
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base + (i + 1) * 2000L))
      }
    }
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    // the memory sink holds the result rows; the staging dir can go
    try execToMemorySink(spark, src, name, outputMode, extraConfs)(transform)
    finally deleteDir(stage)
  }

  /** The zero-row replay contract: an empty input's result is the
    * transform over a same-schema empty BATCH frame — output schema
    * preserved, zero rows. Batch execution is legal for the stream
    * transforms this runner hosts (EliminateEventTimeWatermark drops
    * the watermark node on non-streaming children; stateful ops have
    * a batch path whose timeouts simply never fire), and with no rows
    * there is no state to carry, so batch ≡ a replay of no batches. */
  private[graft] def emptyReplayResult(batch: DataFrame)
      (transform: DataFrame => DataFrame): DataFrame =
    transform(batch.limit(0))

  /** Each stateful operator commits one state store PER shuffle
    * partition PER micro-batch — at the session default (32) a 3-batch
    * AvailableNow run pays ~100 state commits of pure orchestration.
    * The harness aggregates are small; 8 partitions keeps the same
    * plan shape (a real deployment sizes this to its key cardinality)
    * at a quarter of the fixed cost. */
  private val StreamShufflePartitions = "8"

  /** Run `body` (start a stream and await its termination) with
    * `spark.sql.shuffle.partitions` = [[StreamShufflePartitions]] plus
    * `extraConfs` set on the session, then restore every key — unset
    * again if it was unset — so batch queries in the same session are
    * unaffected. Restored only after termination: the stream thread
    * clones the session conf asynchronously after start(), so an
    * early restore would race it. */
  private def withStreamConfs(spark: SparkSession,
      extraConfs: Map[String, String] = Map.empty)(body: => Unit): Unit = {
    val overrides =
      Map("spark.sql.shuffle.partitions" -> StreamShufflePartitions) ++ extraConfs
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def execToMemorySink(spark: SparkSession, src: DataFrame,
      name: String, outputMode: String, extraConfs: Map[String, String])
      (transform: DataFrame => DataFrame): DataFrame = {
    val sink = s"${name}_${runSeq.incrementAndGet()}"
    withStreamConfs(spark, extraConfs) {
      val q = transform(src).writeStream
        .format("memory").queryName(sink).outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // runAvailableNow's staging dir is deliberately NOT deleted here:
    // it is memoized in stagedInputs for the session's repeat runs
    // (see above); dirs are pid-scoped tmp, one per (query, input),
    // megabytes not gigabytes. (The ordered variant deletes its own —
    // its caller materializes the sink first.)
    lastSink.synchronized {
      lastSink.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      lastSink.put((spark, name), sink).foreach(spark.catalog.dropTempView)
    }
    spark.table(sink)
  }

  /** Generic `foreachBatch` driver for SIDE-EFFECTING sinks (index
    * maintenance, external appends): stages the input, streams it
    * back through the file source with `maxFilesPerTrigger` = 2 (so
    * the effect really applies over SEVERAL micro-batches, not one
    * rebuild), and calls `fn` once per micro-batch. The stream's
    * output is whatever `fn` wrote — callers verify by reading their
    * own artifact afterwards (sw16 serves from the index the stream
    * grew). Staging/checkpoint dirs are reclaimed before returning. */
  def runForeachBatch(spark: SparkSession, batch: DataFrame,
      name: String)(fn: DataFrame => Unit): Unit =
    runForeachBatchWithId(spark, batch, name)((b, _) => fn(b))

  /** [[runForeachBatch]] passing the engine's micro-batch id through
    * to `fn` — the id a transactional sink keys its idempotence on
    * (sw28: a retried batch re-arrives with the SAME id, which is
    * what lets `snapshotCommit(txn = …)` no-op the duplicate). */
  def runForeachBatchWithId(spark: SparkSession, batch: DataFrame,
      name: String)(fn: (DataFrame, Long) => Unit): Unit = {
    val root = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_stream/" +
      s"${name}_p${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"
    val stage = s"$root/in"
    batch.coalesce(8).write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 2).parquet(stage)
    withStreamConfs(spark) {
      val q = src.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => fn(b.toDF(), id)
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    deleteDir(root)
  }

  /** Streaming UPSERT ingest via `foreachBatch` — the
    * merge-into-a-table sink pattern (CDC apply / incremental
    * re-delivery): each micro-batch is merged with the current target
    * and collapsed to the latest row per key (`dedupLatest` — the
    * same operator as batch q06), then committed as a NEW immutable
    * version directory whose path advances only after the write
    * succeeds — the poor-man's transactional commit every table
    * format (Delta/Iceberg/Hudi) formalizes; a real deployment swaps
    * the version-dir swap for MERGE INTO. `maxFilesPerTrigger` forces
    * several micro-batches so the merge really runs incrementally.
    *
    * The merge is associative — latest of (previous-latest ∪ batch) =
    * global latest — so the result is independent of how the stream
    * splits into batches, which is what makes it oracle-checkable.
    * Returns the final table, materialized (the harness then reclaims
    * every staging/version directory). */
  def runUpsertLatest(spark: SparkSession, batch: DataFrame, name: String,
      keyCols: Seq[String], latestByCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_stream/" +
      s"${name}_p${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"
    val stage = s"$root/in"
    batch.coalesce(8).write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 2).parquet(stage)
    @volatile var current: Option[String] = None
    withStreamConfs(spark) {
      val q = src.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val merged = current match {
            case Some(p) => spark.read.parquet(p).unionByName(b)
            case None => b.toDF()
          }
          val latest = graft.operators.Relational.dedupLatest(
            merged, keyCols, latestByCols.map(col(_).desc))
          val out = s"$root/target/v$batchId"
          latest.write.mode("overwrite").parquet(out)
          current = Some(out) // advance the pointer only after success
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // materialize before reclaiming the version dirs
    val result = current.map(p => spark.read.parquet(p).localCheckpoint())
      .getOrElse(batch.limit(0))
    deleteDir(root)
    result
  }
}
