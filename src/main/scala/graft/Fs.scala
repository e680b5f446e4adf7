package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.{broadcast, col}

/** Filesystem helpers that resolve the filesystem OF the path being
  * asked about, not the configured default. `FileSystem.get(conf)`
  * answers for `fs.defaultFS` only — against an index artifact on a
  * non-default scheme (s3a://bucket/…, hdfs://nn/…) its `exists`
  * returns false and a tombstone/manifest side-table would be
  * SILENTLY ignored: deleted content served as if never opted out.
  * `Path.getFileSystem` routes by the path's own scheme, so the same
  * code is correct on local tmp dirs and on object storage.
  *
  * Also the one reader for parquet artifacts the engine wrote itself
  * ([[readParquet]]) and the one tombstone side-table reader the
  * persisted indexes share ([[tombstones]], [[minusTombstones]]).
  */
object Fs {

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  /** `path` qualified against its own filesystem (scheme + authority +
    * absolute path), so it names the same files from any working
    * directory and compares equal to the roots Spark's scans carry. */
  private[graft] def qualify(spark: SparkSession, path: String): String = {
    val (fs, p) = resolve(spark, path)
    fs.makeQualified(p).toString
  }

  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.delete(p, true)
  }

  /** Names of the immediate subdirectories of `path` (empty when the
    * path doesn't exist). Used by the clustered-optimize commit to
    * enumerate which cluster dirs the partitioned write produced —
    * a clusters-bounded driver fetch. */
  def listDirNames(spark: SparkSession, path: String): Seq[String] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** `spark.read.parquet(paths: _*)` (with `mergeSchema`, its
    * `option("mergeSchema", "true")` form) for parquet the engine wrote
    * itself, without Spark's schema-inference job: the footers are read
    * on the driver and the schema Spark would infer from them is handed
    * to the reader. Partition columns are still discovered by the file
    * index, on the driver. Where the driver-side schema does not apply
    * (see `GraftParquetBridge.footerSchema`) this is the plain read, so
    * Spark's behaviour and its errors are unchanged. Data that comes
    * from outside the engine keeps Spark's own inference (`Tables`). */
  def readParquet(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame =
    GraftParquetBridge.footerSchema(spark, paths, mergeSchema) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None if mergeSchema =>
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, Seq(path))

  /** Append delete requests to the tombstone side-table of the index
    * at `path`: `ids`' `idCol`, as long, under the index's id column
    * `key`. O(|deletes|) — index files untouched. */
  def tombstone(ids: DataFrame, idCol: String, key: String,
      path: String): Unit =
    ids.select(col(idCol).cast("long").as(key))
      .write.mode("append").parquet(s"$path/tombstones")

  /** Drop the tombstone side-table of the index at `path`: after a
    * compaction has folded it in, and on every (re)build, whose delete
    * requests named the replaced index's rows, not the new one's. */
  def clearTombstones(spark: SparkSession, path: String): Unit =
    deleteRecursive(spark, s"$path/tombstones")

  /** The tombstone side-table of the index at `path` (None when no
    * delete was ever requested). A public index call reads it once and
    * passes the frame to every anti-join it needs. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = s"$path/tombstones"
    if (exists(spark, p)) Some(readParquet(spark, p)) else None
  }

  /** `df` minus the rows whose `keys` are tombstoned: a broadcast
    * left-anti join against the delete-batch-sized side-table. No
    * `distinct()` on the build side: duplicate keys (an id tombstoned
    * twice) do not change a left-anti result, and deduplicating them
    * would cost a shuffle job per serve. */
  def minusTombstones(df: DataFrame, ts: Option[DataFrame],
      keys: String*): DataFrame = ts match {
    case Some(t) =>
      df.join(broadcast(t.select(keys.map(col): _*)), keys, "left_anti")
    case None => df
  }
}
