package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's full query surface, re-expressed declaratively.
  *
  * Mirrors `QueryExecutor` (`/root/reference/columnar-analytics-engine/
  * include/execution.h:78-131`): a projection (setProjection), a conjunction
  * of integer comparison predicates (addFilter), an optional global aggregate
  * (setAggregation), and an optional single-key group-by (setGroupBy). The
  * three entry points executeQuery / executeAggregate / executeGroupBy
  * (src/execution.cpp:251-401) compile here to one DataFrame expression and
  * let Catalyst do what the reference hand-fuses:
  *
  *  - column pruning (src/execution.cpp:136-157)   -> ColumnPruning rule
  *  - predicate evaluation (src/execution.cpp:23-46) -> codegen'd Filter
  *  - stats-based row-group skipping (src/execution.cpp:48-71) -> Parquet
  *    pushed filters (visible as PushedFilters in explain)
  *  - single-pass count+sum+min+max (src/execution.cpp:300-334) and the
  *    single-key group-by (src/execution.cpp:339-401) -> four agg
  *    expressions; over the vectorized Parquet scan the partial half is
  *    `graft.exec.ColumnarPartialAggExec`, one fold of the reader's batches
  *    (a string key's dictionary codes, a filter of integer comparisons),
  *    and the final half after the exchange is Spark's HashAggregateExec
  *  - group-key output ordering (src/execution.cpp:396-398) -> orderBy
  *
  * Extensions over the reference, marked below: Ne/Lt/... also accept string
  * and double literals, Avg, multi-key groupBy — the reference is int-only
  * (include/execution.h:52 "Only numeric predicates for MVP") and
  * single-string-key (src/execution.cpp:367).
  */
object ColeQuery {

  sealed trait CmpOp
  case object Eq extends CmpOp
  case object Ne extends CmpOp
  case object Lt extends CmpOp
  case object Le extends CmpOp
  case object Gt extends CmpOp
  case object Ge extends CmpOp

  object CmpOp {
    /** Parse the CLI spellings (src/cli.cpp:172-188). */
    def parse(s: String): CmpOp = s match {
      case "==" | "=" | "eq" => Eq
      case "!=" | "<>" | "ne" => Ne
      case "<" | "lt" => Lt
      case "<=" | "le" => Le
      case ">" | "gt" => Gt
      case ">=" | "ge" => Ge
      case other => throw new IllegalArgumentException(s"unknown operator: $other")
    }
  }

  /** One conjunct: column OP literal (include/execution.h:39-59). */
  case class Predicate(column: String, op: CmpOp, value: Any) {
    def toColumn: Column = {
      val c = col(column)
      op match {
        case Eq => c === lit(value)
        case Ne => c =!= lit(value)
        case Lt => c < lit(value)
        case Le => c <= lit(value)
        case Gt => c > lit(value)
        case Ge => c >= lit(value)
      }
    }
  }

  sealed trait AggFunc
  case object Count extends AggFunc
  case object Sum extends AggFunc
  case object Min extends AggFunc
  case object Max extends AggFunc
  /** Extension: not in the reference enum (include/execution.h:62-67). */
  case object Avg extends AggFunc

  /** The reference always materializes count+sum+min+max together in one pass
    * (`AggResult`, include/execution.h:69-75); [[aggResult]] reproduces that
    * shape as four agg expressions in one aggregation. The Avg extension (not
    * in the reference enum) appends a fifth, which keeps Spark's partial
    * HashAggregateExec (its buffer is a Double sum).
    */
  def aggResult(valueCol: String, withAvg: Boolean = false): Seq[Column] = {
    val base = Seq(
      count(lit(1)).as("count"),
      sum(col(valueCol)).as("sum"),
      min(col(valueCol)).as("min"),
      max(col(valueCol)).as("max"))
    if (withAvg) base :+ avg(col(valueCol)).as("avg") else base
  }

  /** Full query description; `Query(...)` fields mirror QueryExecutor's four
    * mutable members (include/execution.h:116-119).
    */
  case class Query(
      projection: Seq[String] = Nil,
      filters: Seq[Predicate] = Nil,
      agg: Option[(AggFunc, String)] = None,
      groupBy: Seq[String] = Nil) {

    /** Compile to a DataFrame. Dispatch order mirrors cli.cpp:245-297:
      * group-by wins, then global aggregate, then plain scan.
      */
    def compile(df: DataFrame): DataFrame = {
      val filtered = filters.foldLeft(df)((d, p) => d.filter(p.toColumn))
      (groupBy, agg) match {
        case (keys, Some((f, valueCol))) if keys.nonEmpty =>
          // executeGroupBy (src/execution.cpp:339-401): hash agg keyed on the
          // group column, AggResult per key, output sorted ascending by key.
          val aggs = aggResult(valueCol, withAvg = f == Avg)
          filtered
            .groupBy(keys.map(col): _*)
            .agg(aggs.head, aggs.tail: _*)
            .orderBy(keys.map(col): _*)
        case (keys, None) if keys.nonEmpty =>
          filtered.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("count"))
            .orderBy(keys.map(col): _*)
        case (_, Some((f, valueCol))) =>
          // executeAggregate (src/execution.cpp:275-337): single global
          // AggResult; COUNT needs no data column (Catalyst reads none).
          f match {
            case Count => filtered.agg(count(lit(1)).as("count"))
            case _ =>
              val aggs = aggResult(valueCol, withAvg = f == Avg)
              filtered.agg(aggs.head, aggs.tail: _*)
          }
        case _ =>
          // executeQuery (src/execution.cpp:251-273): empty projection means
          // all columns (src/execution.cpp:252-259).
          if (projection.isEmpty) filtered
          else filtered.select(projection.map(col): _*)
      }
    }
  }
}
