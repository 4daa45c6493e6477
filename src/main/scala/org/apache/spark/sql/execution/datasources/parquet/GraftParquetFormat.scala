package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Spark's Parquet source with schema inference done on the driver.
  *
  * Without `mergeSchema`, Spark reads exactly one footer to infer a
  * table's schema, but it reads it inside a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel` -> `parallelize.collect`),
  * so every open of a table pays a job launch before any query runs.
  * This format reads that same footer on the calling thread and converts
  * it with `ParquetFileFormat.readSchema`, which applies the same session
  * conf (binary-as-string, INT96, inferTimestampNTZ, nanosAsLong) and the
  * same Spark row-metadata key. With `mergeSchema` on, the number of
  * footers grows with the data, so the distributed merge is kept.
  *
  * Only schema inference changes: scan, pushdown, the vectorized reader
  * and `explain` output (`FileScan parquet`, `Format: Parquet`) are
  * inherited. Nothing is cached; every open re-reads the footer. Lives in
  * Spark's parquet package because `readSchema` is `private[parquet]`.
  * Open tables through `graft.Tables.parquet`.
  */
class GraftParquetFormat extends ParquetFileFormat {
  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val parquetOptions = new ParquetOptions(options, getSqlConf(sparkSession))
    if (parquetOptions.mergeSchema) super.inferSchema(sparkSession, options, files)
    else
      GraftParquetFormat.schemaFile(files)
        .flatMap(readFooter(_, getHadoopConf(sparkSession, options),
          parquetOptions.ignoreCorruptFiles))
        .flatMap(footer => ParquetFileFormat.readSchema(Seq(footer), sparkSession))
  }

  /** One footer without row groups, with the failure contract of
    * `ParquetFileFormat.readParquetFootersInParallel`: an unreadable
    * footer is skipped under `ignoreCorruptFiles`, else it fails with
    * Spark's FAILED_READ_FILE error.
    */
  private def readFooter(
      file: FileStatus, conf: Configuration, ignoreCorruptFiles: Boolean): Option[Footer] =
    try Some(new Footer(file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)))
    catch {
      case e: RuntimeException =>
        if (ignoreCorruptFiles) {
          logWarning(s"Skipped the footer in the corrupted file: ${file.getPath}", e)
          None
        } else throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e)
    }
}

object GraftParquetFormat {
  import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}

  /** The file `ParquetUtils.inferSchema` takes the schema from when
    * schemas are not merged: in path order, `_common_metadata` first,
    * then `_metadata`, then the first data file.
    */
  def schemaFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.find(_.getPath.getName == name)
    named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(sorted.find { f =>
        val name = f.getPath.getName
        name != PARQUET_COMMON_METADATA_FILE && name != PARQUET_METADATA_FILE
      })
  }
}
