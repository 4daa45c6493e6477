package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The partial half of an aggregation, folded straight off the vectorized
  * Parquet reader's `ColumnarBatch`es: the reference's fused count+sum+min+max
  * (src/execution.cpp:300-334) and single-key group-by (:339-401) over
  * decoded columns, where Spark would run ColumnarToRow, then a codegen'd
  * partial `HashAggregateExec` over UnsafeRows.
  *
  * It replaces exactly that partial operator (see [[ColumnarPartialAgg]]) and
  * emits the same attributes and buffer layout, so the exchange, the final
  * `HashAggregateExec` and everything above stay Spark's. Per batch:
  *  - the filter, a conjunction of `IsNotNull` and integral `attr op literal`
  *    tests, narrows a selection vector column by column;
  *  - a dictionary-encoded key maps each code to its group once per batch
  *    (the code's value is decoded once); any other key goes through a per-row
  *    map lookup;
  *  - each aggregate folds its column over the selection into per-group
  *    accumulators with Spark's semantics: nulls skipped, a group with no
  *    value gives null, `sum` overflow raises ARITHMETIC_OVERFLOW under ANSI
  *    and wraps otherwise.
  * A task emits its groups and starts over at [[MaxGroups]] groups (or
  * [[MaxKeyBytes]] of string keys); the final aggregate merges the repeats.
  */
case class ColumnarPartialAggExec(
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    condition: Option[Expression],
    child: SparkPlan) extends UnaryExecNode {
  import ColumnarPartialAggExec._

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  // the grouping key keeps its expression id, so a partitioning of the scan
  // on that key still holds for the output
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case e: Expression if !e.references.subsetOf(outputSet) =>
      UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "dictionaryBatches" -> SQLMetrics.createMetric(sparkContext, "batches grouped by dictionary code"),
    "rowBatches" -> SQLMetrics.createMetric(sparkContext, "batches folded by value"),
    "flushes" -> SQLMetrics.createMetric(sparkContext, "group-map flushes"))

  protected override def doExecute(): RDD[InternalRow] = {
    val k = kernel(groupingExpressions, aggregateExpressions, condition, child.output)
      .getOrElse(throw new IllegalStateException(s"unsupported partial aggregate: $this"))
    val types = output.map(_.dataType).toArray
    val m = Seq("numOutputRows", "dictionaryBatches", "rowBatches", "flushes").map(longMetric)
    child.executeColumnar().mapPartitions { batches =>
      new Folder(k, UnsafeProjection.create(types), m(0), m(1), m(2), m(3)).rows(batches)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ColumnarPartialAggExec =
    copy(child = newChild)
}

object ColumnarPartialAggExec extends PredicateHelper {

  /** Groups one task holds before it emits them and starts over. */
  val MaxGroups = 65536
  /** String-key bytes one task holds before it emits its groups. */
  val MaxKeyBytes: Long = 64L << 20

  /** One aggregate, reading batch column `col`; `int` marks an Int column
    * (buffer and result types follow Spark's: `sum` is Long, `min`/`max`
    * keep the column type).
    */
  private[exec] sealed trait Fold extends Serializable
  private[exec] case object CountRows extends Fold
  private[exec] case class CountValues(col: Int) extends Fold
  private[exec] case class Combine(op: Int, col: Int, int: Boolean) extends Fold
  private final val SumWrap = 0
  private final val SumAnsi = 1
  private final val MinOp = 2
  private final val MaxOp = 3

  /** One filter conjunct on batch column `col`. */
  private[exec] sealed trait Test extends Serializable
  private[exec] case class NotNull(col: Int) extends Test
  private[exec] case class Cmp(col: Int, int: Boolean, op: Int, value: Long) extends Test
  private final val Eq = 0
  private final val Ne = 1
  private final val Lt = 2
  private final val Le = 3
  private final val Gt = 4
  private final val Ge = 5

  /** What one task runs: the key column and its type, the folds in buffer
    * order, the filter conjuncts.
    */
  private[exec] case class Kernel(key: Option[(Int, DataType)], folds: Seq[Fold], tests: Seq[Test])

  /** The kernel for a partial aggregate over `input` (the scan's output), or
    * None when some key, aggregate or conjunct is outside the supported set.
    */
  private[exec] def kernel(
      grouping: Seq[NamedExpression],
      aggs: Seq[AggregateExpression],
      condition: Option[Expression],
      input: Seq[Attribute]): Option[Kernel] = {
    def ordinal(e: Expression, ok: DataType => Boolean): Option[Int] = e match {
      case a: AttributeReference if ok(a.dataType) =>
        Some(input.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
      case _ => None
    }
    val integral: DataType => Boolean = t => t == IntegerType || t == LongType
    // StringType alone is the binary collation: bytes equal, keys equal
    val keyType: DataType => Boolean = t => t == StringType || integral(t)
    val key: Option[Option[(Int, DataType)]] = grouping match {
      case Seq() => Some(None)
      case Seq(k) => ordinal(k, keyType).map(i => Some((i, k.dataType)))
      case _ => None
    }
    def combine(op: Int, c: Expression) =
      ordinal(c, integral).map(Combine(op, _, c.dataType == IntegerType))
    val folds = aggs.map(_.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => Some(CountRows)
      case Count(Seq(c)) => ordinal(c, _ => true).map(CountValues)
      case Sum(c, ctx) if ctx.evalMode == EvalMode.ANSI => combine(SumAnsi, c)
      case Sum(c, ctx) if ctx.evalMode == EvalMode.LEGACY => combine(SumWrap, c)
      case Min(c) => combine(MinOp, c)
      case Max(c) => combine(MaxOp, c)
      case _ => None
    })
    def cmp(op: Int, flipped: Int, l: Expression, r: Expression): Option[Test] = (l, r) match {
      case (a, Literal(v: Number, t)) if integral(t) =>
        ordinal(a, integral).map(Cmp(_, a.dataType == IntegerType, op, v.longValue))
      case (Literal(_, _), _) => cmp(flipped, op, r, l)
      case _ => None
    }
    val tests = condition.toSeq.flatMap(splitConjunctivePredicates).map {
      case IsNotNull(c) => ordinal(c, _ => true).map(NotNull)
      case Not(EqualTo(l, r)) => cmp(Ne, Ne, l, r)
      case EqualTo(l, r) => cmp(Eq, Eq, l, r)
      case LessThan(l, r) => cmp(Lt, Gt, l, r)
      case LessThanOrEqual(l, r) => cmp(Le, Ge, l, r)
      case GreaterThan(l, r) => cmp(Gt, Lt, l, r)
      case GreaterThanOrEqual(l, r) => cmp(Ge, Le, l, r)
      case _ => None
    }
    if (folds.forall(_.isDefined) && tests.forall(_.isDefined))
      key.map(Kernel(_, folds.flatten, tests.flatten))
    else None
  }

  /** The exec for a partial `HashAggregateExec` over
    * `[ProjectExec of attributes] ← [FilterExec] ← ColumnarToRowExec ←`
    * a vectorized Parquet `FileSourceScanExec`, or None for any other plan.
    */
  def replace(agg: HashAggregateExec): Option[ColumnarPartialAggExec] = {
    val partial = !agg.isStreaming && agg.requiredChildDistributionExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(a => a.mode == Partial && !a.isDistinct && a.filter.isEmpty)
    // the operator emits its keys then each function's buffer, in order
    val layout = agg.resultExpressions.map(_.exprId) ==
      agg.groupingExpressions.map(_.exprId) ++
      agg.aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes.map(_.exprId))
    val unprojected = agg.child match {
      case ProjectExec(list, c) if list.forall(_.isInstanceOf[Attribute]) => c
      case c => c
    }
    val (condition, below) = unprojected match {
      case FilterExec(cond, c) => (Some(cond), c)
      case c => (None, c)
    }
    below match {
      case ColumnarToRowExec(scan: FileSourceScanExec) if partial && layout &&
          scan.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
          kernel(agg.groupingExpressions, agg.aggregateExpressions, condition, scan.output).isDefined =>
        Some(ColumnarPartialAggExec(agg.groupingExpressions, agg.aggregateExpressions,
          agg.resultExpressions, condition, scan))
      case _ => None
    }
  }

  /** An integer column read once per batch for every `sum`, `min` and `max`
    * over it (a dictionary-encoded column decodes each row once, not once
    * per aggregate): `xs(j)` and `nulls(j)` for the j-th selected row.
    */
  private final class Decoded(val col: Int, int: Boolean) {
    var xs = new Array[Long](4096)
    var nulls = new Array[Boolean](4096)
    var anyNull = false

    def load(batch: ColumnarBatch, sel: Array[Int], n: Int): Unit = {
      if (xs.length < n) { xs = new Array[Long](n); nulls = new Array[Boolean](n) }
      val v = batch.column(col)
      anyNull = v.hasNull
      var j = 0
      while (j < n) {
        val r = sel(j)
        val isNull = anyNull && v.isNullAt(r)
        nulls(j) = isNull
        if (!isNull) xs(j) = if (int) v.getInt(r).toLong else v.getLong(r)
        j += 1
      }
    }
  }

  /** One aggregate's per-group state: the count, sum, min or max, and
    * whether the group has seen a value. `in` is the column a `Combine` reads.
    */
  private final class Acc(f: Fold, in: Decoded) {
    var vals = new Array[Long](16)
    var seen = new Array[Boolean](16)

    def ensure(n: Int): Unit = if (n > vals.length) {
      val cap = math.max(n, vals.length * 2)
      vals = java.util.Arrays.copyOf(vals, cap)
      seen = java.util.Arrays.copyOf(seen, cap)
    }

    def clear(n: Int): Unit = {
      java.util.Arrays.fill(vals, 0, n, 0L)
      java.util.Arrays.fill(seen, 0, n, false)
    }

    /** Fold selected rows `sel(from until until)` into the groups in
      * `slots` (the same indexes), or into group 0 when `slots` is null.
      */
    def fold(batch: ColumnarBatch, sel: Array[Int], slots: Array[Int], from: Int, until: Int): Unit =
      f match {
        case CountRows =>
          if (slots == null) vals(0) += until - from
          else { var j = from; while (j < until) { vals(slots(j)) += 1; j += 1 } }
        case CountValues(c) =>
          val v = batch.column(c)
          val nulls = v.hasNull
          var j = from
          while (j < until) {
            if (!nulls || !v.isNullAt(sel(j))) vals(if (slots == null) 0 else slots(j)) += 1
            j += 1
          }
        case Combine(op, _, _) =>
          val xs = in.xs
          val nulls = in.nulls
          val anyNull = in.anyNull
          var j = from
          if (slots == null) {
            // one group: the running value stays in registers
            var acc = vals(0)
            var any = seen(0)
            while (j < until) {
              if (!anyNull || !nulls(j)) {
                acc = if (any) combine(op, acc, xs(j)) else xs(j)
                any = true
              }
              j += 1
            }
            vals(0) = acc
            seen(0) = any
          } else while (j < until) {
            if (!anyNull || !nulls(j)) {
              val s = slots(j)
              vals(s) = if (seen(s)) combine(op, vals(s), xs(j)) else xs(j)
              seen(s) = true
            }
            j += 1
          }
      }

    private def combine(op: Int, a: Long, x: Long): Long = (op: @scala.annotation.switch) match {
      case SumWrap => a + x
      case SumAnsi => MathUtils.addExact(a, x)
      case MinOp => math.min(a, x)
      case _ => math.max(a, x)
    }

    /** Group `s`'s partial buffer value, typed as Spark's buffer. */
    def result(s: Int): Any = f match {
      case CountRows | CountValues(_) => vals(s)
      case Combine(op, _, int) =>
        if (!seen(s)) null else if (int && op != SumWrap && op != SumAnsi) vals(s).toInt else vals(s)
    }
  }

  /** One task's fold: batches in, partial rows out. */
  private final class Folder(
      k: Kernel,
      project: UnsafeProjection,
      numOutputRows: SQLMetric,
      dictionaryBatches: SQLMetric,
      rowBatches: SQLMetric,
      flushes: SQLMetric) {
    private val decoded = k.folds.collect { case Combine(_, c, int) => (c, int) }.distinct
      .map { case (c, int) => new Decoded(c, int) }
    private val accs = k.folds.map {
      case f @ Combine(_, c, _) => new Acc(f, decoded.find(_.col == c).get)
      case f => new Acc(f, null)
    }.toArray
    private val done = ArrayBuffer.empty[InternalRow]
    private var sel = new Array[Int](4096)
    private var slots = new Array[Int](4096)
    // keyed state: key -> group, group -> key, the null key's group
    private val index = new java.util.HashMap[AnyRef, Integer]()
    private var keys = new Array[AnyRef](16)
    private var groups = 0
    private var nullGroup = -1
    private var keyBytes = 0L
    // a dictionary batch's code -> group (-1: not seen in this batch)
    private var codeGroup = Array.fill(64)(-1)
    private var touched = new Array[Int](64)
    private var nTouched = 0

    if (k.key.isEmpty) { groups = 1; accs.foreach(_.ensure(1)) }

    def rows(batches: Iterator[ColumnarBatch]): Iterator[InternalRow] = new Iterator[InternalRow] {
      private var pos = 0
      private var finished = false
      def hasNext: Boolean = {
        while (pos == done.length && !finished) {
          done.clear()
          pos = 0
          if (batches.hasNext) add(batches.next())
          else { emit(); finished = true }
        }
        pos < done.length
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        pos += 1
        numOutputRows += 1
        done(pos - 1)
      }
    }

    private def add(batch: ColumnarBatch): Unit = {
      val n = select(batch)
      decoded.foreach(_.load(batch, sel, n))
      k.key match {
        case None =>
          rowBatches += 1
          accs.foreach(_.fold(batch, sel, null, 0, n))
        case Some((c, t)) =>
          val v = batch.column(c)
          val ids = v match {
            case w: WritableColumnVector if w.hasDictionary => w.getDictionaryIds
            case _ => null
          }
          if (ids != null) dictionaryBatches += 1 else rowBatches += 1
          var from = 0
          while (from < n) {
            val upto = assign(v, t, ids, from, n)
            accs.foreach(_.fold(batch, sel, slots, from, upto))
            if (upto < n) { emit(); flushes += 1 }
            from = upto
          }
          forgetCodes()
      }
    }

    /** Fill `sel` with the batch's rows that pass every conjunct; return how many. */
    private def select(batch: ColumnarBatch): Int = {
      var n = batch.numRows
      if (sel.length < n) { sel = new Array[Int](n); slots = new Array[Int](n) }
      var i = 0
      while (i < n) { sel(i) = i; i += 1 }
      k.tests.foreach { t =>
        var j = 0
        var m = 0
        t match {
          case NotNull(c) =>
            val v = batch.column(c)
            if (v.hasNull) {
              while (j < n) { val r = sel(j); if (!v.isNullAt(r)) { sel(m) = r; m += 1 }; j += 1 }
              n = m
            }
          case Cmp(c, int, op, lit) =>
            val v = batch.column(c)
            val nulls = v.hasNull
            while (j < n) {
              val r = sel(j)
              if (!nulls || !v.isNullAt(r)) {
                val x = if (int) v.getInt(r).toLong else v.getLong(r)
                val pass = (op: @scala.annotation.switch) match {
                  case Eq => x == lit
                  case Ne => x != lit
                  case Lt => x < lit
                  case Le => x <= lit
                  case Gt => x > lit
                  case _ => x >= lit
                }
                if (pass) { sel(m) = r; m += 1 }
              }
              j += 1
            }
            n = m
        }
      }
      n
    }

    /** Fill `slots(from until n)` with each selected row's group; stop early,
      * returning the first row left, when a new group would overflow the map.
      */
    private def assign(v: ColumnVector, t: DataType, ids: WritableColumnVector, from: Int, n: Int): Int = {
      var j = from
      while (j < n) {
        val r = sel(j)
        val s =
          if (v.isNullAt(r)) {
            if (nullGroup < 0 && !full) nullGroup = newGroup(null)
            nullGroup
          } else if (ids == null) groupOf(v, t, r)
          else {
            val code = ids.getInt(r)
            if (code >= codeGroup.length) {
              val grown = Array.fill(math.max(code + 1, codeGroup.length * 2))(-1)
              System.arraycopy(codeGroup, 0, grown, 0, codeGroup.length)
              codeGroup = grown
            }
            if (codeGroup(code) < 0) {
              val g = groupOf(v, t, r)
              if (g >= 0) {
                codeGroup(code) = g
                if (nTouched == touched.length) touched = java.util.Arrays.copyOf(touched, nTouched * 2)
                touched(nTouched) = code
                nTouched += 1
              }
            }
            codeGroup(code)
          }
        if (s < 0) return j
        slots(j) = s
        j += 1
      }
      n
    }

    private def full: Boolean = groups >= MaxGroups || keyBytes >= MaxKeyBytes

    private def groupOf(v: ColumnVector, t: DataType, r: Int): Int = {
      val key: AnyRef = t match {
        case IntegerType => Integer.valueOf(v.getInt(r))
        case LongType => java.lang.Long.valueOf(v.getLong(r))
        case _ => v.getUTF8String(r)
      }
      val hit = index.get(key)
      if (hit != null) hit.intValue
      else if (full) -1
      else {
        val owned = key match {
          case u: UTF8String => keyBytes += u.numBytes; u.clone()
          case o => o
        }
        val g = newGroup(owned)
        index.put(owned, g)
        g
      }
    }

    private def newGroup(key: AnyRef): Int = {
      if (groups == keys.length) keys = java.util.Arrays.copyOf(keys, groups * 2)
      keys(groups) = key
      accs.foreach(_.ensure(groups + 1))
      groups += 1
      groups - 1
    }

    private def forgetCodes(): Unit = {
      var i = 0
      while (i < nTouched) { codeGroup(touched(i)) = -1; i += 1 }
      nTouched = 0
    }

    /** Append every group's partial row to `done` and start over. */
    private def emit(): Unit = {
      val width = accs.length + (if (k.key.isEmpty) 0 else 1)
      var g = 0
      while (g < groups) {
        val row = new GenericInternalRow(width)
        var i = 0
        if (k.key.isDefined) { row.update(0, keys(g)); i = 1 }
        accs.foreach { a => row.update(i, a.result(g)); i += 1 }
        done += project(row).copy()
        g += 1
      }
      if (k.key.isDefined) {
        accs.foreach(_.clear(groups))
        java.util.Arrays.fill(keys, 0, groups, null)
        index.clear()
        groups = 0
        nullGroup = -1
        keyBytes = 0L
        forgetCodes()
      }
    }
  }
}

/** Puts [[ColumnarPartialAggExec]] in place of every partial aggregate it
  * supports. It runs after Spark has inserted the columnar transitions, so
  * the plan it matches already holds the `ColumnarToRowExec` it removes.
  */
object ColumnarPartialAgg extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case agg: HashAggregateExec => ColumnarPartialAggExec.replace(agg).getOrElse(agg)
  }

  /** The rule as a session extension: `injectColumnar(_ => ColumnarPartialAgg.columnar)`. */
  object columnar extends ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = ColumnarPartialAgg
  }
}
