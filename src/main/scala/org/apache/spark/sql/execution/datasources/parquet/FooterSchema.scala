/* Bridge into Spark's package-private parquet footer helpers.
 * `ParquetFileFormat.readParquetFootersInParallel` and `readSchema` are
 * `private[parquet]`, so the shim lives in their package, like the
 * `org.apache.spark.sql.graftbridge` shims do for `private[sql]` API.
 */
package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

object FooterSchema {

  /** The data schema `spark.read.parquet(path)` would infer, read from
    * the parquet footers on the driver: no Spark job. Spark's own
    * inference (`ParquetUtils.inferSchema`) reads the same footers, but
    * inside a job (`SchemaMergeUtils.mergeSchemasInParallel`). Like the
    * inferred one, the schema keeps the writer's nullability; the reader
    * it is handed to makes it nullable.
    *
    * The files are chosen exactly as `ParquetUtils.inferSchema` does:
    * the leaf files Spark's file index lists (hidden `_`/`.` names
    * dropped, summary files kept) in path order, then `_common_metadata`,
    * else `_metadata`, else the first data file — or, under the session's
    * `mergeSchema`, every data file (unless `respectSummaries`) plus the
    * summaries. Corrupt footers honour the session's `ignoreCorruptFiles`.
    */
  def read(spark: SparkSession, path: Path, conf: Configuration): StructType = {
    val sqlConf = spark.sessionState.conf
    val fs = path.getFileSystem(conf)
    val root = fs.makeQualified(path)
    val leaves = InMemoryFileIndex.bulkListLeafFiles(Seq(root), conf, null, spark)
      .flatMap(_._2).sortBy(_.getPath.toString)
    def named(f: FileStatus, n: String) = f.getPath.getName == n
    val (summaries, data) = leaves.partition(f =>
      named(f, PARQUET_COMMON_METADATA_FILE) || named(f, PARQUET_METADATA_FILE))
    val commonMetadata = summaries.filter(named(_, PARQUET_COMMON_METADATA_FILE))
    val metadata = summaries.filter(named(_, PARQUET_METADATA_FILE))
    val toRead =
      if (sqlConf.isParquetSchemaMergingEnabled)
        (if (sqlConf.isParquetSchemaRespectSummaries) Nil else data) ++
          metadata ++ commonMetadata
      else
        commonMetadata.headOption.orElse(metadata.headOption)
          .orElse(data.headOption).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, toRead, sqlConf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark).getOrElse {
      if (!fs.exists(root))
        throw QueryCompilationErrors.dataPathNotExistError(root.toString)
      throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
    }
  }
}
