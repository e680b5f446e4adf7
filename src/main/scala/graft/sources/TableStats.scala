package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType,
  StringType}

/** ANALYZE-style table statistics artifact over a snapshot table
  * (io36) — the driver input every cost-based decision needs: per
  * column, the row count, null count, min/max, and a Datasketches HLL
  * distinct-count estimate, computed in ONE pass over the snapshot
  * (a single aggregate — no per-column rescan) and published as a
  * tiny parquet keyed by the table version it reflects.
  *
  * What consumes it:
  *   - [[broadcastIfSmall]] — the cost-based join-strategy pick: hint
  *     broadcast when the RECORDED row count clears the threshold,
  *     keyed shuffle join otherwise. The decision reads the artifact
  *     (driver-sized), never the table — on a 100 TB fact/dim join
  *     the planner must not scan either side to choose a strategy.
  *   - zone-map style pruning decisions and NDV-based aggregate
  *     sizing (the mv_count/cnt artifacts already cover the MV path).
  *
  * Stats are VERSION-PINNED like MV registrations: `statsVersion`
  * exposes the table version analyzed, and a consumer comparing it to
  * `snapshotLatestVersion` knows staleness structurally. min/max are
  * emitted as strings so one artifact row shape carries every column
  * type (the consumer knows its own schema). */
object TableStats {

  /** One-pass ANALYZE of the table's latest snapshot. Returns the
    * analyzed version. Columns whose type the HLL sketch does not
    * accept (it takes int/long/string/binary only) still get
    * count/null/min/max; their `ndv_est` is NULL rather than failing
    * the whole aggregate — byte/short/date ride the sketch via a
    * value-preserving widening cast, and timestamps via unix_micros
    * (a straight cast("long") truncates to whole SECONDS, collapsing
    * every sub-second timestamp in a burst to one distinct value —
    * the exact NDV the artifact exists to report). */
  def analyze(spark: SparkSession, tablePath: String, statsPath: String,
      cols: Seq[String], lgK: Int = 12): Int = {
    val v = Sources.snapshotLatestVersion(spark, tablePath)
    require(v > 0, s"no snapshot table at $tablePath")
    val df = Sources.snapshotRead(spark, tablePath, v)
    val typeOf = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // a sketchable image of the column, or None → no NDV for it
    def sketchable(c: String) = typeOf.get(c).collect {
      case IntegerType | LongType | StringType | BinaryType => col(c)
      case t if Seq("byte", "short", "date").contains(t.typeName) =>
        col(c).cast("long")
      case t if t.typeName == "timestamp" => unix_micros(col(c))
    }
    // one aggregate row carrying every column's stats, then unpivoted
    // driver-side (cols is schema-sized, not data-sized)
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as(s"__nulls_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        sketchable(c)
          .map(sc => hll_sketch_estimate(hll_sketch_agg(sc, lit(lgK))))
          .getOrElse(lit(null).cast("long")).as(s"__ndv_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val n = row.getAs[Long]("__n")
    import spark.implicits._
    val out = cols.map { c =>
      (v, c, n, row.getAs[Long](s"__nulls_$c"),
        Option(row.getAs[String](s"__min_$c")),
        Option(row.getAs[String](s"__max_$c")),
        if (row.isNullAt(row.fieldIndex(s"__ndv_$c"))) None
        else Some(row.getAs[Long](s"__ndv_$c")))
    }.toDF("version", "column", "n_rows", "n_nulls", "min_s", "max_s",
      "ndv_est")
    out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsPath)
    v
  }

  def stats(spark: SparkSession, statsPath: String): DataFrame =
    graft.Fs.readParquet(spark, statsPath)

  /** The table version the artifact reflects. */
  def statsVersion(spark: SparkSession, statsPath: String): Int =
    stats(spark, statsPath).select(max(col("version"))).head.getInt(0)

  /** Recorded row count (any column's row — stats are one-pass). */
  def rowCount(spark: SparkSession, statsPath: String): Long =
    stats(spark, statsPath).select(max(col("n_rows"))).head.getLong(0)

  /** Cost-based join-side decision from the ARTIFACT: broadcast-hint
    * `df` when the recorded row count is at most `maxRows`, return it
    * unhinted (keyed shuffle join) otherwise. The table itself is
    * never scanned for the decision — but the decision is only as
    * good as the artifact is FRESH, so when `tablePath` is given the
    * recorded stats version is compared to the table's live snapshot
    * version and a stale artifact falls back to no hint (a table that
    * grew past the threshold since ANALYZE must not be broadcast on
    * its old count — that is a driver/executor OOM at scale, not a
    * perf miss). */
  def broadcastIfSmall(spark: SparkSession, df: DataFrame,
      statsPath: String, maxRows: Long,
      tablePath: Option[String] = None): DataFrame = {
    val fresh = tablePath.forall(t =>
      statsVersion(spark, statsPath) ==
        Sources.snapshotLatestVersion(spark, t))
    if (fresh && rowCount(spark, statsPath) <= maxRows) broadcast(df)
    else df
  }
}
