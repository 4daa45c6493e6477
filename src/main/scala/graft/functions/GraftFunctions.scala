package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** SQL registration of graft's custom Catalyst expressions, so
  * `spark.sql("SELECT simhash64(...)")` works alongside the Column API.
  * Two entry points:
  *  - [[register]] adds them to an existing session's function registry;
  *  - [[GraftExtensions]] injects them at session build time
  *    (`SparkSession.builder().withExtensions(new GraftExtensions)`), the
  *    deployment path for a shared cluster where sessions are created by
  *    the platform.
  */
object GraftFunctions {

  private def intArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"expected int literal, got $other")
    }

  private def doubleArg(e: Expression): Double =
    e.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => throw new IllegalArgumentException(s"expected numeric literal, got $other")
    }

  /** A foldable literal centroid matrix (e.g. `array(array(1.0, 0.0), ...)`
    * — any numeric element type, normalized through a cast to
    * array<array<double>>) for the SQL form of nearest_cells. The Column
    * API takes the matrix as driver-side data ([[Similarity.fitCentroids]]
    * output); SQL callers inline it as a literal, which is also how a
    * saved index would be spliced into generated SQL.
    */
  private def centsArg(e: Expression): Seq[Seq[Double]] = {
    require(e.foldable, "nearest_cells centroids must be a foldable array literal")
    val ad = Cast(e, ArrayType(ArrayType(DoubleType))).eval(null).asInstanceOf[ArrayData]
    (0 until ad.numElements()).map { i =>
      val row = ad.getArray(i)
      (0 until row.numElements()).map(row.getDouble).toList
    }.toList
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (args => HashExprs.SimHash64(args.head)),
    "minhash_signature" -> (args => args match {
      case Seq(c) => HashExprs.MinHashSignature(c, 128)
      case Seq(c, n) => HashExprs.MinHashSignature(c, intArg(n))
      case _ => throw new IllegalArgumentException("minhash_signature(shingles[, numHashes])")
    }),
    "rolling_fingerprints" -> (args => args match {
      case Seq(c) => HashExprs.RollingFingerprints(c, 8, 16)
      case Seq(c, k, w) => HashExprs.RollingFingerprints(c, intArg(k), intArg(w))
      case _ => throw new IllegalArgumentException("rolling_fingerprints(text[, k, w])")
    }),
    "token_gram_hashes" -> (args => args match {
      case Seq(c, n) => HashExprs.TokenGramHashes(c, intArg(n))
      case _ => throw new IllegalArgumentException("token_gram_hashes(tokens, n)")
    }),
    "cosine_similarity" -> (args => args match {
      case Seq(a, b) => VectorExprs.CosineSimilarity(a, b)
      case _ => throw new IllegalArgumentException("cosine_similarity(vec, vec)")
    }),
    "unit_vector" -> (args => args match {
      case Seq(v) => VectorExprs.UnitVector(v)
      case _ => throw new IllegalArgumentException("unit_vector(vec)")
    }),
    "sign_lsh_bands" -> (args => args match {
      case Seq(v) => VectorExprs.SignLshBands(v, 4, 8)
      case Seq(v, bands, bits) => VectorExprs.SignLshBands(v, intArg(bands), intArg(bits))
      case _ => throw new IllegalArgumentException("sign_lsh_bands(vec[, bands, bitsPerBand])")
    }),
    "nearest_cells" -> (args => args match {
      case Seq(v, cents) => VectorExprs.NearestCells(v, centsArg(cents), 1)
      case Seq(v, cents, nprobe) => VectorExprs.NearestCells(v, centsArg(cents), intArg(nprobe))
      case _ => throw new IllegalArgumentException("nearest_cells(vec, centroids[, nprobe])")
    }),
    "sq_encode" -> (args => args match {
      case Seq(v) => VectorExprs.SqEncode(v)
      case _ => throw new IllegalArgumentException("sq_encode(vec)")
    }),
    "sq_dot" -> (args => args match {
      case Seq(q, sq) => VectorExprs.SqDot(q, sq)
      case _ => throw new IllegalArgumentException("sq_dot(vec, sq_struct)")
    }),
    "mmr_select" -> (args => args match {
      case Seq(c, k, l) => VectorExprs.MmrSelect(c, intArg(k), doubleArg(l))
      case _ => throw new IllegalArgumentException(
        "mmr_select(candidates, k, lambda)")
    }))
  // Note: the Column-composition functions (TextFunctions/VectorFunctions)
  // are deliberately NOT SQL-registered — a composed Column converted back
  // to an Expression carries unresolved ColumnNode wrappers that Spark 4's
  // analyzer rejects inside a function builder. Their SQL equivalents are
  // plain built-in expressions (see the oracle SQL in Queries.scala).

  /** Register into a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  private[functions] def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[HashExprs.type].getName, name)

  /** Builder-time injection for new sessions: the functions, and the
    * columnar partial aggregate [[graft.exec.ColumnarPartialAgg]].
    */
  class GraftExtensions extends (SparkSessionExtensions => Unit) {
    override def apply(ext: SparkSessionExtensions): Unit = {
      all.foreach { case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name), info(name), builder))
      }
      ext.injectColumnar(_ => graft.exec.ColumnarPartialAgg.columnar)
    }
  }
}
