package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality gate: constraint checks evaluated over a
  * snapshot, emitting one row per check with its exact violation count —
  * the admission test a curation pipeline runs before promoting a batch
  * of training data (null keys, duplicate ids, out-of-range values,
  * unknown enum codes, dangling foreign keys).
  *
  * Scale shape: all row-local checks fold into ONE aggregation pass over
  * the table (a `sum(CASE WHEN violated)` per check; uniqueness adds
  * count-distincts, which Spark plans through a single Expand). Only
  * referential integrity needs a second input and runs as a left-anti
  * hash join (dim side broadcast when small) whose count unions in. No
  * check ever materializes the violating rows — counts only; a
  * `violations(df, check)` helper returns the offending rows for the
  * checks that fail, which is a debugging path, not the gate.
  *
  * Modeled on the public constraint-suite idea (AWS Deequ, Great
  * Expectations) re-expressed as plain Catalyst aggregates. The reference
  * engine has no validation surface (/root/reference/README.md:127-138);
  * north-star extension.
  */
object Checks {

  sealed trait Check { def name: String }

  /** Column must have no NULLs. */
  final case class NotNull(col: String) extends Check {
    val name = s"not_null($col)"
  }

  /** Column tuple must be unique across rows. */
  final case class Unique(cols: Seq[String]) extends Check {
    require(cols.nonEmpty, "Unique needs at least one column")
    val name = s"unique(${cols.mkString(",")})"
  }

  /** Non-null values must lie in [lo, hi]. */
  final case class InRange(col: String, lo: Double, hi: Double) extends Check {
    val name = s"in_range($col,$lo,$hi)"
  }

  /** Non-null values must be one of `values`. */
  final case class Accepted(col: String, values: Seq[String]) extends Check {
    val name = s"accepted($col)"
  }

  /** Non-null values must match `regex` (full-match semantics via rlike
    * of an anchored pattern is the caller's choice).
    */
  final case class Matches(col: String, regex: String) extends Check {
    val name = s"matches($col)"
  }

  /** Every non-null value must exist in `dim.dimCol` (foreign key). */
  final case class RefIntegrity(col: String, dim: DataFrame, dimCol: String)
      extends Check {
    val name = s"ref_integrity($col)"
  }

  private def violationCount(c: Check): Option[Column] = c match {
    case NotNull(col0) =>
      Some(sum(when(col(col0).isNull, 1L).otherwise(0L)))
    case Unique(cols0) =>
      // duplicates = rows - distinct tuples; the struct wrapper is never
      // NULL (even when its fields are), so no row escapes the DISTINCT
      Some(count(lit(1)) - count_distinct(struct(cols0.map(col): _*)))
    case InRange(col0, lo, hi) =>
      Some(sum(when(col(col0).isNotNull &&
        (col(col0) < lo || col(col0) > hi), 1L).otherwise(0L)))
    case Accepted(col0, values) =>
      Some(sum(when(col(col0).isNotNull &&
        !col(col0).isin(values: _*), 1L).otherwise(0L)))
    case Matches(col0, regex) =>
      Some(sum(when(col(col0).isNotNull &&
        !col(col0).rlike(regex), 1L).otherwise(0L)))
    case _: RefIntegrity => None
  }

  /** Evaluate `checks` against `df`: returns (check, violations, passed),
    * one row per check. Row-local checks share one aggregation; each
    * RefIntegrity adds one anti-join count.
    */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks given")
    val names = checks.map(_.name)
    require(names.distinct == names,
      s"duplicate check names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val local = checks.flatMap(c => violationCount(c).map(c.name -> _))
    val localDf: Option[DataFrame] = if (local.isEmpty) None else Some {
      val aggs = local.map { case (n, c) => c.cast("long").as(n) }
      val one = df.agg(aggs.head, aggs.tail: _*)
      // unpivot the single row to (check, violations); '' escapes any
      // quote inside a check name so the name survives verbatim
      val stacked = local.map { case (n, _) => s"'${n.replace("'", "''")}', `$n`" }
      one.selectExpr(
        s"stack(${local.size}, ${stacked.mkString(", ")}) AS (check, violations)")
    }

    val refDfs = checks.collect { case RefIntegrity(c, dim, dimCol) =>
      val dangling = df.filter(col(c).isNotNull)
        .join(dim.select(col(dimCol)), col(c) === col(dimCol), "left_anti")
        .agg(count(lit(1)).cast("long").as("violations"))
      dangling.select(lit(s"ref_integrity($c)").as("check"), col("violations"))
    }

    val all = (localDf.toSeq ++ refDfs).reduce(_ unionAll _)
    all.withColumn("passed", (col("violations") === 0L))
  }

  /** The rows violating one row-local check (debugging aid; not the gate). */
  def violations(df: DataFrame, c: Check): DataFrame = c match {
    case NotNull(col0) => df.filter(col(col0).isNull)
    case InRange(col0, lo, hi) =>
      df.filter(col(col0).isNotNull && (col(col0) < lo || col(col0) > hi))
    case Accepted(col0, values) =>
      df.filter(col(col0).isNotNull && !col(col0).isin(values: _*))
    case Matches(col0, regex) =>
      df.filter(col(col0).isNotNull && !col(col0).rlike(regex))
    case Unique(cols0) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(cols0.map(col): _*)
      df.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") > 1).drop("__n")
    case RefIntegrity(col0, dim, dimCol) =>
      df.filter(col(col0).isNotNull)
        .join(dim.select(col(dimCol)), col(col0) === col(dimCol), "left_anti")
  }

  /** MULTISET equality of two frames in ONE action — the equality-gate
    * primitive of the lifecycle capstones. The classic
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` pair costs two
    * jobs and evaluates EACH input twice (Spark rewrites ExceptAll
    * itself as a union + signed-count aggregate, so the pair is four
    * input computations); this is that same rewrite, stated once: tag
    * rows +1/−1, aggregate the signed count per distinct row, and the
    * multisets are equal iff no group sums non-zero. Same null/NaN/−0.0
    * key semantics as ExceptAll (both are grouping-key comparisons) —
    * one job, each input computed once.
    *
    * Contract: both frames must have the same column names, in the same
    * order, with the same data types; otherwise it throws an
    * IllegalArgumentException instead of answering (no int-vs-bigint
    * coercion, no by-name reordering).
    */
  def multisetEq(a: DataFrame, b: DataFrame): Boolean = {
    require(a.columns.toSeq == b.columns.toSeq,
      s"multisetEq needs identical schemas: ${a.columns.mkString(",")} vs " +
        b.columns.mkString(","))
    // types too: unionByName would silently coerce int-vs-bigint sides —
    // a gate comparing mixed-width frames should say so, not coerce
    require(a.schema.map(f => (f.name, f.dataType)) ==
        b.schema.map(f => (f.name, f.dataType)),
      s"multisetEq needs identical column types: ${a.schema.simpleString} " +
        s"vs ${b.schema.simpleString}")
    // weight/diff column names guaranteed absent from the inputs — a real
    // "__w" column must count toward equality, not be overwritten
    val w = Iterator.from(0).map(i => s"__w$i")
      .find(n => !a.columns.contains(n)).get
    val dd = Iterator.from(0).map(i => s"__d$i")
      .find(n => !a.columns.contains(n) && n != w).get
    val cols = a.columns.toSeq.map(col)
    a.withColumn(w, lit(1L))
      .unionByName(b.withColumn(w, lit(-1L)))
      .groupBy(cols: _*).agg(sum(col(w)).as(dd))
      .filter(col(dd) =!= 0L)
      .isEmpty
  }
}
