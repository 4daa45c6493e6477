package graft

import org.apache.spark.sql.DataFrame

import graft.operators.ColeQuery
import graft.operators.ColeQuery._

/** O13 — CLI query front-end mirroring the reference's flag surface
  * (src/cli.cpp:16-27,172-298):
  *
  * {{{
  * graft.Cli query <parquet-path> [--select a,b] [--where col op val]...
  *                 [--agg count|sum|min|max|avg col] [--groupby col[,col2]]
  * graft.Cli sql <sf-dir> "<ANSI SQL over region/nation/.../embeddings>"
  * graft.Cli scan <parquet-path>          # = graft.Inspect (O12)
  * graft.Cli write <out-path> <rows> [seed] [--bench]   # = DataGen (O11)
  * }}}
  *
  * Result display truncates at 20 rows like the reference
  * (src/cli.cpp:276-279) — a print concern; the full result is computed.
  */
object Cli {

  private[graft] def parseQueryArgs(args: List[String]): ColeQuery.Query = {
    def loop(rest: List[String], q: ColeQuery.Query): ColeQuery.Query = rest match {
      case Nil => q
      case "--select" :: cols :: tail =>
        loop(tail, q.copy(projection = cols.split(',').toSeq.map(_.trim)))
      case "--where" :: c :: op :: v :: tail =>
        // literal typing by shape: int64 -> double -> ISO timestamp ->
        // string. The reference CLI is int-only (src/cli.cpp:205-215);
        // the engine's columns include doubles and timestamps, and a
        // double literal silently compared as a STRING was a real
        // user-facing trap (1.5 > "1.0" is lexicographic).
        val value: Any =
          if (v.matches("-?\\d+")) v.toLong
          else if (v.matches("-?\\d*\\.\\d+([eE][+-]?\\d+)?|-?\\d+[eE][+-]?\\d+")) v.toDouble
          else if (v.matches("\\d{4}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?)?"))
            // STRICT resolution (Timestamp.valueOf is lenient: it would
            // roll 1996-02-31 over to Mar 2) — an invalid date falls
            // through as a plain string literal instead of silently
            // matching the wrong day. The instant is constructed in
            // UTC, the session's fixed zone, so the literal means the
            // same wall-clock time regardless of the launching JVM's
            // default timezone.
            try {
              val ldt = java.time.LocalDateTime.parse(
                if (v.length == 10) v + "T00:00:00" else v.replace(' ', 'T'))
              java.sql.Timestamp.from(ldt.atZone(java.time.ZoneOffset.UTC).toInstant)
            } catch { case _: java.time.format.DateTimeParseException => v }
          else v
        loop(tail, q.copy(filters = q.filters :+ Predicate(c, CmpOp.parse(op), value)))
      case "--agg" :: f :: c :: tail =>
        val fn = f.toLowerCase match {
          case "count" => Count
          case "sum" => Sum
          case "min" => Min
          case "max" => Max
          case "avg" => Avg
          case other => throw new IllegalArgumentException(s"unknown agg: $other")
        }
        loop(tail, q.copy(agg = Some((fn, c))))
      case "--groupby" :: cols :: tail =>
        loop(tail, q.copy(groupBy = cols.split(',').toSeq.map(_.trim)))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown flag: $other")
    }
    loop(args, ColeQuery.Query())
  }

  /** The `sql` subcommand's work, session passed in (testable without the
    * process-lifecycle spin-up/stop): registered tables + graft's SQL
    * functions, then plain ANSI SQL.
    */
  private[graft] def runSql(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, query: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sfDir)
    spark.sql(query)
  }

  private def show(df: DataFrame): Unit = {
    val rows = df.limit(21).collect()
    println(df.columns.mkString(" | "))
    rows.take(20).foreach(r => println(r.toSeq.mkString(" | ")))
    if (rows.length > 20) println("... (truncated at 20 rows)")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "scan" :: path :: Nil =>
      println(Inspect.describe(path))
    case "write" :: rest =>
      DataGen.main(rest.toArray)
    case "query" :: path :: rest =>
      val spark = GraftSession.local("graft-cli")
      try show(parseQueryArgs(rest).compile(Tables.parquet(spark, path)))
      finally spark.stop()
    case "sql" :: sfDir :: query :: Nil =>
      val spark = GraftSession.local("graft-cli")
      try show(runSql(spark, sfDir, query))
      finally spark.stop()
    case _ =>
      System.err.println(
        """usage: graft.Cli query <parquet> [--select a,b] [--where col op val]... [--agg fn col] [--groupby cols]
          |       graft.Cli sql <sf-dir> "<sql>"
          |       graft.Cli scan <parquet>
          |       graft.Cli write <out> <rows> [seed] [--bench]""".stripMargin)
      sys.exit(1)
  }
}
