package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.exec.ColumnarPartialAgg

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
    * shuffle parallelism: `SPARK_GRAFT_CPUS`, or 32 when unset. Lazy, so
    * a bad value fails each use with [[parseCpus]]'s message rather than
    * the object's initializer.
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `SPARK_GRAFT_CPUS` value: 32 when unset, else a positive int; a
    * non-integer or non-positive value is refused (it would build
    * `local[0]` and zero shuffle partitions).
    */
  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => 32
    case Some(s) => s.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$s' is not a positive int"))
  }

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
    // Compiled-class cache (static: one per JVM, sized when the first
    // session compiles). Spark's default of 100 classes is smaller than
    // one graftbench store_churn cycle, so each cycle recompiled classes
    // the cycle before had compiled and evicted. Classes compiled in one
    // timed cycle and the retained heap (4-core VM, seeds 31-33; one
    // seed for 100 and 200):
    //   entries   compiles   heap MB
    //     100       354       84.6
    //     200       323       86.9
    //     300     121-159   89.5-90.1
    //     400      91-94    92.5-93.2
    // The ~90 left are classes new in every cycle (plans whose literals
    // vary); each cached class holds 25-30 KB of heap.
    .config("spark.sql.codegen.cache.maxEntries", "400")
    .config("spark.ui.enabled", "false")
    // The driver's status store keeps the last 1000 jobs and stages and
    // SQL executions by default, UI or not. Retained heap at the end of a
    // graftbench run (4-core VM): each key at 20, seed 1: store_churn
    // (4 cycles) 106.3 -> 92.9 MB, olap_scan 71.7 -> 69.0 MB; at 50, with
    // the columnar aggregate below also in, seeds 1-4: store_churn
    // 98.7-106.0 -> 94.7-94.9 MB. Nothing in the engine or its specs
    // reads the status store.
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.sql.ui.retainedExecutions", "50")
    // A partial aggregate over the vectorized Parquet scan folds the
    // reader's batches in one operator (graft.exec.ColumnarPartialAggExec).
    .withExtensions(_.injectColumnar(_ => ColumnarPartialAgg.columnar))

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
