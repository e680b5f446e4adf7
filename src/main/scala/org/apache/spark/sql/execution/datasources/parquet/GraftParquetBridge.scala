package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's package-private parquet schema rule.
  *
  * `spark.read.parquet(paths)` infers its data schema with
  * `ParquetUtils.inferSchema`, which always runs a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel` parallelizes the footer
  * reads), even for one footer. [[footerSchema]] makes the same
  * decision on the driver: it lists the leaf files with Spark's own
  * listing, touches the footers Spark's inference would touch, and
  * turns them into a schema with `ParquetFileFormat.readSchema`.
  */
object GraftParquetBridge {

  /** The data schema (partition columns excluded) that
    * `spark.read.parquet(paths: _*)` would infer, or with
    * `mergeSchema` the one `option("mergeSchema", "true")` would. Footer
    * choice follows `ParquetUtils.inferSchema`: without merging,
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path; with merging, every data file, then the summary files.
    * `None` leaves the decision to Spark: glob paths, a listing or
    * footer read that fails, no data file, or more footers to read
    * than `spark.sql.sources.parallelPartitionDiscovery.threshold`. */
  def footerSchema(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val roots = paths.map(new Path(_))
    if (roots.isEmpty || roots.exists(SparkHadoopUtil.get.isGlobPath)) return None
    try {
      val hadoopConf = session.sessionState.newHadoopConf()
      val leaves = InMemoryFileIndex
        .bulkListLeafFiles(roots, hadoopConf, null, session)
        .flatMap(_._2).sortBy(_.getPath.toString)
      def named(n: String) = leaves.filter(_.getPath.getName == n)
      val meta = named(ParquetFileWriter.PARQUET_METADATA_FILE)
      val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      val data = leaves.filterNot(f => meta.contains(f) || common.contains(f))
      val touch =
        if (mergeSchema || conf.isParquetSchemaMergingEnabled)
          (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ meta ++ common
        else common.headOption.orElse(meta.headOption)
          .orElse(data.headOption).toSeq
      if (data.isEmpty || touch.size > conf.parallelPartitionDiscoveryThreshold) None
      else ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(hadoopConf, touch,
          conf.ignoreCorruptFiles), session)
    } catch {
      case NonFatal(_) => None
    }
  }
}
