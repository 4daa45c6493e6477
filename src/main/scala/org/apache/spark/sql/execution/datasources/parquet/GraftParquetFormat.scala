package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.SparkException
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
  * same Spark row-metadata key. With `mergeSchema` on, the footers of
  * the files Spark would touch are merged on the driver in Spark's file
  * order and with its merge rule, as long as they number at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (the store
  * roots' delete sets: a few fragments); above it the number of
  * footers grows with the data, and Spark's distributed merge is kept.
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
    val sqlConf = getSqlConf(sparkSession)
    val parquetOptions = new ParquetOptions(options, sqlConf)
    def schemas(touch: Seq[FileStatus]): Seq[StructType] = {
      val conf = getHadoopConf(sparkSession, options)
      touch.flatMap(readFooter(_, conf, parquetOptions.ignoreCorruptFiles))
        .flatMap(footer => ParquetFileFormat.readSchema(Seq(footer), sparkSession))
    }
    if (!parquetOptions.mergeSchema) schemas(GraftParquetFormat.schemaFile(files).toSeq).headOption
    else {
      val touch = GraftParquetFormat.mergeFiles(files, sqlConf.isParquetSchemaRespectSummaries)
      if (touch.size > sqlConf.parallelPartitionDiscoveryThreshold)
        super.inferSchema(sparkSession, options, files)
      else schemas(touch).reduceOption { (merged, next) =>
        // SchemaMergeUtils.mergeSchemasInParallel's fold and error
        try merged.merge(next, sqlConf.caseSensitiveAnalysis)
        catch {
          case cause: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, cause)
        }
      }
    }
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
    val (data, metadata, commonMetadata) = split(files)
    commonMetadata.headOption.orElse(metadata.headOption).orElse(data.headOption)
  }

  /** The files `ParquetUtils.inferSchema` merges, in its order: every
    * data file by path, then the `_metadata` and `_common_metadata`
    * summaries — only the summaries when `respectSummaries`
    * (`spark.sql.parquet.respectSummaryFiles`).
    */
  def mergeFiles(files: Seq[FileStatus], respectSummaries: Boolean): Seq[FileStatus] = {
    val (data, metadata, commonMetadata) = split(files)
    (if (respectSummaries) Nil else data) ++ metadata ++ commonMetadata
  }

  /** `ParquetUtils.splitFiles`: (data, `_metadata`, `_common_metadata`)
    * files, each sorted by path.
    */
  private def split(files: Seq[FileStatus]): (Seq[FileStatus], Seq[FileStatus], Seq[FileStatus]) = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.filter(_.getPath.getName == name)
    (sorted.filterNot { f =>
      val name = f.getPath.getName
      name == PARQUET_COMMON_METADATA_FILE || name == PARQUET_METADATA_FILE
    }, named(PARQUET_METADATA_FILE), named(PARQUET_COMMON_METADATA_FILE))
  }
}
