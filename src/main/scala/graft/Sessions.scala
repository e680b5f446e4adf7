package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine's entry points (Verify/Bench/Smoke).
  *
  * Central place for engine-wide session config so loaders never
  * mutate a live session's conf:
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the driver testdata's
  *    events.parquet is TIMESTAMP(NANOS), which Spark's reader
  *    otherwise rejects ([PARQUET_TYPE_ILLEGAL]); Tables.events
  *    normalizes the raw nanos to TimestampType micros.
  *  - shuffle partitions sized to the core count (local mode), not the
  *    200 default meant for clusters. SPARK_GRAFT_SHUFFLE_PARTITIONS
  *    overrides for scale probes: at N× replicas a shuffle partition
  *    holds N× the rows, and past ~30× the sort/agg spill turns keyed
  *    shuffles super-linear — exactly the knob a cluster deployment
  *    sizes by input bytes (spark.sql.files.maxPartitionBytes + AQE
  *    target size do it automatically there).
  *  - `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`: the `file:`
  *    scheme's `FileSystem` and `FileContext` classes. The target
  *    machines have no native `libhadoop`, so Hadoop's local
  *    filesystem forks a `chmod` for every file and directory it
  *    creates and a `readlink` for every `FileContext` rename
  *    (streaming checkpoints, the snapshot CAS manifest); the
  *    classes in LocalFileSystems.scala make both calls in-process,
  *    with the same results and the same `.crc` checksums.
  *  - `spark.sql.codegen.cache.maxEntries`: the size of Janino's
  *    compiled-class cache, one LRU for the whole JVM (sized once, by
  *    the first session that generates code). One pass of the
  *    engine's write/serve/stream mix (perfbench ingest_serve) uses
  *    about 300 distinct classes; at Spark's default of 100 each is
  *    evicted before the next pass asks for it again, so every warm
  *    pass compiled ~306 of them again. Warm-pass compiles by size
  *    (isolation off, 4-core VM): 300 → 69, 400 → 3–9, 500 → 5–9,
  *    1000 → 1–11, the rest being classes no earlier pass compiled;
  *    500 keeps a margin over the cliff below 400 (PERF.md).
  *  - `spark.sql.artifact.isolation.enabled` off: the compiled-class
  *    cache is keyed by the task's context classloader as well as the
  *    code, and with isolation on every session (so every streaming
  *    query, which runs on a cloned session with its own UUID) gets
  *    its own executor classloader, so a stream compiled again every
  *    class the previous stream of the same shape had compiled. The
  *    isolation exists to keep jars and artifacts added to one session
  *    away from another; the engine adds none to any session.
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", "500")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Quiesce streaming machinery BEFORE `spark.stop()` in a main that
    * ran Structured Streaming queries: stop any still-active query,
    * then shut the state-store maintenance task and unload loaded
    * providers. Skipping this lets the maintenance thread race
    * SparkContext teardown and print an RpcEnvStoppedException wall
    * into the process tail (the r13 bench-artifact failure). Each step
    * is best-effort — teardown noise must never fail the run that
    * produced the results. */
  def quiesceStreaming(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    ()
  }
}
