package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DataGen, Tables}
import graft.operators.ColeQuery._

/** The reference query surface: five `ColeQuery` shapes over a generated
  * table in the reference schema, one shape per op, in a seeded order.
  * Answers are checked against aggregates of the generator frame, which
  * never touches the written Parquet.
  */
final class OlapScan(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  private val rows = OlapScan.Rows
  private val skipLen = rows / 100
  private val cols = Seq("id", "value", "score", "region")
  private val rng = new scala.util.Random(seed)
  private var tableDir = ""
  private var nSteps = 0

  private var total = 0L
  private var sumValue = 0L
  private var filtered = 0L
  private var groups: Seq[(String, Long, Long, Long, Long)] = Nil

  def setup(dir: String): Unit = {
    DataGen.write(DataGen.benchTable(spark, rows, seed), s"$dir/bench.parquet")
    tableDir = dir
  }

  override def prepareChecks(): Unit = {
    val perRegion = DataGen.benchTable(spark, rows, seed).groupBy("region")
      .agg(count(lit(1)), sum(col("value")), min(col("value")), max(col("value")),
        sum(when(col("value") > 50000, 1L).otherwise(0L)))
      .orderBy("region").collect().toSeq
    groups = perRegion.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    total = groups.map(_._2).sum
    sumValue = groups.map(_._3).sum
    filtered = perRegion.map(_.getLong(5)).sum
  }

  // the JIT keeps speeding the shapes up for about six cycles; a window
  // that starts earlier measures how fast it compiles, not the shapes
  val warmSteps: Int = OlapScan.WarmCycles * OlapScan.Shapes.size
  override def traceUnit: Int = OlapScan.Shapes.size
  def stepsDone: Int = nSteps

  /** Decode every projected column and count rows without collecting them. */
  private def consume(df: DataFrame): Long = {
    val n = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator(n)
    }.collect().sum
    if (rec.tracing) rec.counters.foreach(_.noteQe(df.queryExecution))
    n
  }

  private def compiled(q: Query): DataFrame = {
    val df = rec.span("Tables.load")(Tables.load(spark, tableDir, "bench"))
    rec.span("ColeQuery.compile")(q.compile(df))
  }

  private def shape(name: String): Unit = name match {
    case "full_scan" =>
      rec.op("read", name)(consume(compiled(Query(projection = cols))))
        .foreach(n => rec.check(n == total, s"full_scan rows $n != $total"))
    case "filtered_scan" =>
      rec.op("read", name)(consume(compiled(Query(projection = cols,
        filters = Seq(Predicate("value", Gt, 50000L))))))
        .foreach(n => rec.check(n == filtered, s"filtered_scan rows $n != $filtered"))
    case "skip_scan" =>
      val lo = rng.between(0L, rows - skipLen)
      rec.op("read", name)(consume(compiled(Query(projection = cols,
        filters = Seq(Predicate("id", Ge, lo), Predicate("id", Lt, lo + skipLen))))))
        .foreach(n => rec.check(n == skipLen, s"skip_scan rows $n != $skipLen at id >= $lo"))
    case "sum" =>
      rec.op("read", name)(compiled(Query(agg = Some((Sum, "value")))).collect())
        // the reference aggregate materialises count, sum, min and max together
        .foreach(r => rec.check(r.length == 1 && r(0).getLong(0) == total && r(0).getLong(1) == sumValue,
          s"sum ${r.mkString} != count $total, sum $sumValue"))
    case "group_by" =>
      rec.op("read", name)(compiled(Query(agg = Some((Count, "value")),
          groupBy = Seq("region"))).collect())
        .foreach { r =>
          val got = r.toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
          rec.check(got == groups, s"group_by ${got.take(2)}... != ${groups.take(2)}...")
        }
  }

  private var cycle = List.empty[String]

  /** One op: the next shape of the cycle, which runs the five in a seeded
    * order. The timed window ends on an op, not a cycle: the shapes still
    * speed up from cycle to cycle, so a window of whole cycles splits runs
    * into those a little too slow for one more cycle and those that fit it.
    */
  def step(): Unit = {
    if (cycle.isEmpty) cycle = rng.shuffle(OlapScan.Shapes).toList
    shape(cycle.head)
    cycle = cycle.tail
    nSteps += 1
  }
}

object OlapScan {
  val Rows: Long = 5000000L
  val WarmCycles = 6
  val Shapes: Seq[String] = Seq("full_scan", "filtered_scan", "skip_scan", "sum", "group_by")
}
