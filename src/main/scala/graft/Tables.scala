package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFormat

/** Catalog: name -> Parquet table under a scale-factor directory.
  *
  * The reference's "catalog" is one file = one table
  * (`/root/reference/columnar-analytics-engine/include/format.h:86-90`); ours
  * is a directory of Parquet tables (the TPC-H-ish test data described in
  * TESTDATA.md). Every Parquet open goes through [[parquet]]:
  * Spark's Parquet source, so the reference's footer/metadata validation
  * (src/format.cpp:444-616) and column-chunk decode (src/format.cpp:618-718)
  * come for free, hardened and vectorized. Like the reference, opening a
  * table reads its schema from one footer on the driver and starts no Spark
  * job ([[GraftParquetFormat]]); `spark.read.parquet` would launch a
  * one-task job per open for that read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Open Parquet files or directories as `DataFrameReader.parquet` does,
    * with the schema resolved on the driver. Reads that merge schemas
    * (`Map("mergeSchema" -> "true")`) merge on the driver too, up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files, and
    * in Spark's job above it.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  /** [[parquet]] with reader options, e.g. `basePath`. */
  def parquet(spark: SparkSession, options: Map[String, String], paths: String*): DataFrame = {
    // a session that takes "parquet" off useV1SourceList reads through
    // Spark's V2 source and its own rules (aggregate pushdown); that path
    // keeps Spark's schema inference
    val v1 = spark.conf.get("spark.sql.sources.useV1SourceList").toLowerCase(Locale.ROOT)
      .split(",").map(_.trim).contains("parquet")
    spark.read.options(options)
      .format(if (v1) classOf[GraftParquetFormat].getName else "parquet")
      .load(paths: _*)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = parquet(spark, s"$dir/$name.parquet")
    // events.ts has shipped as two physical layouts across testdata
    // generations; dispatch on the read type so both load identically:
    //  - TIMESTAMP(NANOS): arrives as nano longs (GraftSession's
    //    nanosAsLong) -> truncate to microsecond TimestampType, the same
    //    ns->us truncation DuckDB applies;
    //  - timestamp[us] (isAdjustedToUTC=false): arrives as
    //    TIMESTAMP_NTZ -> cast to TimestampType, an identity on the
    //    micros value because the session timezone is pinned to UTC.
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }

  /** Register every table as a temp view so `spark.sql` works against sfDir. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
