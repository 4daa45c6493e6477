package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session factory with the engine's standard configuration.
  *
  * The reference engine is single-threaded and single-process
  * (`/root/reference/columnar-analytics-engine/src/execution.cpp`, README:131);
  * our equivalent of its "runtime" is a tuned SparkSession. Settings are chosen
  * for the local[N] test harness but mirror what a 1000-executor cluster job
  * would set: AQE on (runtime re-planning, skew-join splitting, shuffle
  * coalescing), shuffle parallelism sized to the core count rather than the
  * 200 default, UTC session time zone for oracle parity.
  */
object GraftSession {

  /** Task threads of the local master (`local[cpus]`) and the default
    * shuffle parallelism: `SPARK_GRAFT_CPUS`, or 32 when unset.
    */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Apply the engine's standard configs to a builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Parquet scan-side pushdown: the Spark subsumption of the reference's
    // stats-based row-group skipping (src/execution.cpp:48-71,101-129).
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.parquet.enableVectorizedReader", "true")
    // The events table carries TIMESTAMP(NANOS) parquet columns, which Spark
    // has no native type for; read them as raw nano longs and normalize to
    // microsecond TimestampType in Tables.load.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Spark 4.1's union-partitioning propagation is unsound for our
    // stacked upsert folds (Merge.applyChanges: anti-join ∪ upserts,
    // iterated by the CDC delta-log read): UnionExec advertises its
    // children's common HashPartitioning(key, N) while its RDD is the
    // 2N-partition concatenation, so a downstream sort-merge join that
    // trusts the claim zips N-vs-2N partitions and throws ("Can't zip
    // RDDs with unequal numbers of partitions"). Disabling restores the
    // exchange the consumer needs — the pre-4.1 plan shape.
    .config("spark.sql.unionOutputPartitioning", "false")
    .config("spark.ui.enabled", "false")

  /** Local session for tests/CLI on [[cpus]] task threads. */
  def local(appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerMetricsLogger(s)
    // SQL names for the native expressions (cosine_similarity, simhash64,
    // nearest_cells, ...) so the CLI `sql` passthrough covers the
    // north-star operators, not just built-ins
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Surfaces `df.observe("graft.*", ...)` counters (e.g. LSH oversized-
    * bucket drops) in the executor log when the observed query actually
    * runs — coverage caps are never silent, and the metric costs zero
    * extra passes (it piggybacks on the job that computes the result).
    * Idempotent per session.
    */
  def registerMetricsLogger(s: SparkSession): Unit = synchronized {
    val marker = "graft.metricsLogger.registered"
    if (s.conf.getOption(marker).isEmpty) {
      s.conf.set(marker, "true")
      s.listenerManager.register(new QueryExecutionListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft.")) {
              val nonZero = row.schema.fieldNames.zip(row.toSeq).collect {
                case (f, v: Long) if v != 0L => s"$f=$v"
              }
              if (nonZero.nonEmpty) log.warn(s"$name: ${nonZero.mkString(" ")}")
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }
  }
}
