package graft

import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.ColumnarPartialAggExec
import graft.operators.ColeQuery._

/** [[ColumnarPartialAggExec]] against Spark's row path: every query runs
  * once over the vectorized Parquet reader, where the exec folds the partial
  * aggregate, and once with `spark.sql.parquet.enableVectorizedReader=false`,
  * where Spark's ColumnarToRow-free row scan and partial `HashAggregateExec`
  * run instead; the rows must be equal.
  */
class ColumnarAggSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Vectorized = "spark.sql.parquet.enableVectorizedReader"
  private lazy val dir = Files.createTempDirectory("graft-colagg").toString

  private def write(df: DataFrame, name: String, options: (String, String)*): String = {
    val path = s"$dir/$name"
    df.write.mode("overwrite").options(options.toMap).parquet(path)
    path
  }

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def execs(plan: SparkPlan): Seq[ColumnarPartialAggExec] =
    collect(plan) { case e: ColumnarPartialAggExec => e }

  private def partialHashAggs(plan: SparkPlan): Seq[HashAggregateExec] =
    collect(plan) { case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Partial) => h }

  /** `q` over the table at `path`, vectorized and row path; its rows (equal
    * on both) and the vectorized run's executed plan.
    */
  private def run(path: String, conf: (String, String)*)(q: DataFrame => DataFrame): (Seq[Row], SparkPlan) = {
    def once(extra: (String, String)*) = withConf(conf ++ extra: _*) {
      val df = q(Tables.parquet(spark, path))
      (df.collect().toSeq.sortBy(_.toString), df.queryExecution.executedPlan)
    }
    val (got, plan) = once()
    val (want, oracle) = once(Vectorized -> "false")
    assert(execs(oracle).isEmpty, oracle)
    assert(got == want)
    (got, plan)
  }

  /** [[run]], requiring the exec in the vectorized plan; returns its rows and the exec. */
  private def check(path: String, conf: (String, String)*)(q: DataFrame => DataFrame)
      : (Seq[Row], ColumnarPartialAggExec) = {
    val (rows, plan) = run(path, conf: _*)(q)
    val found = execs(plan)
    assert(found.size == 1, plan)
    assert(partialHashAggs(plan).isEmpty, plan)
    (rows, found.head)
  }

  // 3000 rows in two files: keys s (string), i (int), l (long), each with
  // nulls; value v (long) with nulls, all null for key "z"; value w (int)
  private lazy val mixedRows = (0 until 3000).map { n =>
    val s = if (n % 97 == 0) None else Some(if (n % 10 == 9) "z" else s"k${n % 7}")
    val i = if (n % 89 == 0) None else Some(n % 11 - 5)
    val l = if (n % 83 == 0) None else Some((n % 13).toLong * 1000000007L)
    val v = if (n % 10 == 9 || n % 31 == 0) None else Some(n.toLong * 37 - 40000)
    (s, i, l, v, n % 101 - 50)
  }.toDF("s", "i", "l", "v", "w")
  private lazy val mixed = write(mixedRows.repartition(2), "mixed")

  private val aggs = Seq(count(lit(1)), count($"v"), sum($"v"), min($"v"), max($"v"),
    sum($"w"), min($"w"), max($"w"))
  private def grouped(key: String)(df: DataFrame) = df.groupBy(key).agg(aggs.head, aggs.tail: _*)
  private def global(df: DataFrame) = df.agg(aggs.head, aggs.tail: _*)

  test("string, int and long keys and the global form equal the row path, nulls included") {
    val (bys, _) = check(mixed)(grouped("s"))
    val z = bys.find(_.getString(0) == "z").get
    assert(z.getLong(2) == 0L && (3 to 5).forall(z.isNullAt), z)
    assert(bys.exists(_.isNullAt(0)))
    Seq("i", "l").foreach(k => assert(check(mixed)(grouped(k))._1.exists(_.isNullAt(0))))
    val (g, _) = check(mixed)(global)
    assert(g.size == 1 && g.head.getLong(0) == 3000L)
  }

  test("ColeQuery's aggregate shapes run through the exec") {
    check(mixed)(Query(agg = Some((Sum, "v")), groupBy = Seq("s")).compile)
    check(mixed)(Query(agg = Some((Count, "v")), groupBy = Seq("i")).compile)
    check(mixed)(Query(agg = Some((Sum, "w"))).compile)
    check(mixed)(Query(agg = Some((Count, "v")), filters = Seq(Predicate("w", Gt, 0))).compile)
  }

  test("empty and all-filtered input: global min and max are null, no groups") {
    val empty = write(mixedRows.limit(0).coalesce(1), "empty")
    val none = (df: DataFrame) => df.filter($"v" > 1000000000L)
    Seq[DataFrame => DataFrame](identity, none).foreach { pick =>
      val src = if (pick eq none) mixed else empty
      val (g, _) = check(src)(df => global(pick(df)))
      assert(g.size == 1 && g.head.getLong(0) == 0L && (2 to 7).forall(g.head.isNullAt), g)
      // over an empty file AQE replaces the grouped plan with an empty relation
      assert(run(src)(df => grouped("s")(pick(df)))._1.isEmpty)
    }
  }

  test("each ColeQuery predicate op, on an int and a long column, either side of the literal") {
    for {
      op <- Seq(Eq, Ne, Lt, Le, Gt, Ge)
      p <- Seq(Predicate("i", op, 2), Predicate("l", op, 6000000042L))
      shape <- Seq(Query(agg = Some((Sum, "v")), groupBy = Seq("s"), filters = Seq(p)),
        Query(agg = Some((Sum, "w")), filters = Seq(p)))
    } check(mixed)(shape.compile)
    check(mixed)(df => grouped("s")(df.filter(lit(2) < $"i" && lit(3000000021L) >= $"l")))
  }

  test("a string key read with dictionary pages, plain, and falling back to plain mid-chunk") {
    val keys = (0 until 20000).map(n => (if (n < 12000) s"k${n % 5}" else s"key-$n", n.toLong))
      .toDF("s", "v").coalesce(1)
    def metric(e: ColumnarPartialAggExec, name: String) = e.metrics(name).value
    val q = (df: DataFrame) => df.groupBy("s").agg(count(lit(1)), sum($"v"), min($"v"), max($"v"))
    val dict = check(write(keys.filter($"v" < 12000), "dict"))(q)._2
    assert(metric(dict, "dictionaryBatches") > 0 && metric(dict, "rowBatches") == 0)
    val plain = check(write(keys, "plain", "parquet.enable.dictionary" -> "false"))(q)._2
    assert(metric(plain, "dictionaryBatches") == 0 && metric(plain, "rowBatches") > 0)
    val fallback = check(write(keys, "fallback", "parquet.dictionary.page.size" -> "1024",
      "parquet.page.size" -> "2048", "parquet.page.row.count.limit" -> "1000"))(q)._2
    assert(metric(fallback, "dictionaryBatches") > 0 && metric(fallback, "rowBatches") > 0)
  }

  test("a partition column as the key") {
    val path = s"$dir/partitioned"
    mixedRows.withColumn("p", when($"w" > 30, lit(null)).otherwise(($"w" % 3).cast("string")))
      .write.mode("overwrite").partitionBy("p").parquet(path)
    val (rows, _) = check(path)(grouped("p"))
    assert(rows.size == 6 && rows.exists(_.isNullAt(0)), rows)
  }

  test("more than 65,536 keys in one task flush and merge in the final aggregate") {
    val n = ColumnarPartialAggExec.MaxGroups + 4464
    val many = spark.range(2L * n).select(
      (($"id" * 7919) % n).as("l"), format_string("k%06d", ($"id" * 7919) % n).as("s"), $"id".as("v"),
      ($"id" % 1000).cast("int").as("w")).coalesce(1)
    val path = write(many, "many")
    Seq("s", "l").foreach { k =>
      val (rows, e) = check(path)(grouped(k))
      assert(rows.size == n && rows.forall(_.getLong(1) == 2L))
      assert(e.metrics("flushes").value > 0)
    }
  }

  test("sum overflow: ARITHMETIC_OVERFLOW under ANSI, the same wrapped value without") {
    val big = write(Seq(("a", Long.MaxValue - 5), ("a", 10L), ("b", 1L)).toDF("s", "v").coalesce(1), "big")
    def condition(f: => Any): String = {
      val e = intercept[Throwable](f)
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }.orNull
    }
    // (query, its sums without ANSI): a's wrapped and b's, then all three
    val shapes = Seq[(DataFrame => DataFrame, Seq[Long])](
      (_.groupBy("s").agg(sum($"v")), Seq(Long.MinValue + 4, 1L)),
      (_.agg(sum($"v")), Seq(Long.MinValue + 5)))
    shapes.foreach { case (q, wrapped) =>
      Seq("true", "false").foreach { vectorized =>
        val got = withConf("spark.sql.ansi.enabled" -> "true", Vectorized -> vectorized) {
          condition(q(Tables.parquet(spark, big)).collect())
        }
        assert(got == "ARITHMETIC_OVERFLOW")
      }
      val (rows, _) = check(big, "spark.sql.ansi.enabled" -> "false")(q)
      assert(rows.map(r => r.getLong(r.length - 1)) == wrapped, rows)
    }
  }

  test("plan shape: ColeQuery's group_by and sum over Parquet run the exec, no partial HashAggregateExec") {
    val bench = s"$dir/bench"
    DataGen.write(DataGen.benchTable(spark, 20000, 1), bench)
    check(bench)(Query(agg = Some((Count, "value")), groupBy = Seq("region")).compile)
    check(bench)(Query(agg = Some((Sum, "value"))).compile)
  }

  test("plan shape: Double and Decimal sums, count(distinct), two keys and a column predicate keep Spark's plan") {
    val typed = write(mixedRows.select($"s", $"i", $"v", $"w", $"v".cast("double").as("d"),
      $"v".cast("decimal(20,2)").as("dec")).repartition(2), "typed")
    Seq[DataFrame => DataFrame](
      _.groupBy("s").agg(sum($"d")),
      _.agg(sum($"dec")),
      _.agg(countDistinct($"v")),
      _.groupBy("s", "i").agg(sum($"v")),
      df => df.filter($"i" < $"w").groupBy("s").agg(sum($"v"))
    ).foreach { q =>
      val (_, plan) = run(typed)(q)
      assert(execs(plan).isEmpty, plan)
      assert(partialHashAggs(plan).nonEmpty, plan)
    }
  }
}
