package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Small-file compaction — the unglamorous operator every 100 TB lake
  * needs: streaming ingestion and fine-grained partitioning leave behind
  * thousands of kilobyte files whose per-file open/footer cost dominates
  * scans. Compaction rewrites a directory to ~`targetBytes` files.
  *
  * The rewrite is one job: read (parallel over input files), repartition
  * to ceil(inputBytes/targetBytes) — a round-robin shuffle, the only data
  * movement — and write to a fresh directory (atomic swap is the
  * caller's rename; we never modify the source in place).
  */
object Compaction {

  def inputBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  /** Rewrite `inDir` (parquet) into `outDir` as ~targetBytes files.
    * Returns the chosen file count.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val bytes = inputBytes(spark, inDir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.parquet(spark, inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
