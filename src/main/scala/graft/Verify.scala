package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Queries that assert PHYSICAL PARQUET ENCODINGS of their own writes
    * run EXCLUSIVELY, after the pool drains: parquet-mr's
    * ParquetProperties.Builder defaults every writer to the JVM-shared
    * mutable DEFAULT_VALUES_WRITER_FACTORY, and constructing ANY new
    * ParquetProperties re-initializes that singleton's delegate — so a
    * concurrent write (any options) can flip an open writer's
    * version/dictionary choices at its next row-group boundary (values
    * stay lossless; only the encoding gate is sensitive). Reproduced and
    * bisected in round 15; see ParquetWrite.writeLock. q88 gates
    * row-group-granularity layout (group counts / prune fractions) of
    * its own write — same race class, so it drains too.
    */
  val exclusive = Set("q87_write_control", "q88_zorder_skipping")

  /** The pool width: `SPARK_GRAFT_VERIFY_PAR`, default 4; 1 runs the
    * catalog strictly sequentially.
    */
  private def poolWidth: Int = sys.env.get("SPARK_GRAFT_VERIFY_PAR") match {
    case None => 4
    case Some(v) => v.toIntOption match {
      case Some(n) if n >= 1 => n
      case _ =>
        System.err.println(
          s"[verify] SPARK_GRAFT_VERIFY_PAR='$v' is not a positive int; using 4")
        4
    }
  }

  /** The CATALOG RUNNER behind Verify and SparkEntrySpec's sweep: build
    * each of `queries` against `sfDir` and hand its frame to `act`, on a
    * pool of [[poolWidth]] threads, then run the [[exclusive]] ones one
    * at a time after the pool drains. Returns each query's outcome (what
    * `act` returned, or what the query or `act` threw), in the order of
    * `queries`; logs `[verify-time] <name> <s> s` for each success and
    * `[verify] <name> failed: <message>` for each failure on stderr.
    *
    * The catalog's queries are INDEPENDENT (each works in its own
    * scratch/output directory against read-only inputs), and at test
    * scale their wall time is dominated by driver-side job-launch
    * latency of many tiny Spark actions, not by executor compute — so a
    * few in flight back-fill each other's scheduling gaps (guide §2.6:
    * overlap independent jobs). Results are byte-identical to the
    * sequential sweep (verified against a sequential run's dumps).
    */
  def runCatalog[A](spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])(
      act: (String, DataFrame) => A): Seq[(String, Try[A])] = {
    require(exclusive.subsetOf(SparkEntry.queries.keySet),
      s"exclusive names not in the catalog: " +
        exclusive.diff(SparkEntry.queries.keySet).toSeq.sorted.mkString(", "))
    def run1(name: String, fn: (SparkSession, String) => DataFrame): Try[A] = {
      val t0 = System.nanoTime()
      // every Throwable: a fatal error escaping a pooled future would
      // leave it uncompleted and the await below hung
      val out = try Success(act(name, fn(spark, sfDir)))
        catch { case e: Throwable => Failure(e) }
      out match {
        // per-query wall time on stderr: the optimization rounds'
        // measure-first loop needs to rank the catalog by cost (guide
        // §1); stdout and the dumped parquet stay identical
        case Success(_) => System.err.println(
          f"[verify-time] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        case Failure(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      out
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolWidth)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val pooled = queries.filterNot(kv => exclusive(kv._1))
        .map { case (name, fn) => Future(name -> run1(name, fn)) }
      val done = Await.result(Future.sequence(pooled), Duration.Inf).toMap ++
        queries.filter(kv => exclusive(kv._1))
          .map { case (name, fn) => name -> run1(name, fn) }
      queries.map { case (name, _) => name -> done(name) }
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev targeted runs)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[${GraftSession.cpus}]")
        .appName("graft-verify")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.registerMetricsLogger(spark)
    new java.io.File(outDir).mkdirs()
    runCatalog(spark, sfDir, SparkEntry.queries.filter(kv => selected(kv._1)).toSeq) {
      (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
