package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, written with
  * higher-order functions (`zip_with`/`aggregate`) so Catalyst codegens the
  * inner loop — no UDF serialization per row.
  *
  * All accumulation is in double with strict left-to-right order, which
  * makes results reproducible run-to-run and engine-to-engine (the oracle
  * computes the same fold).
  */
object VectorFunctions {

  /** Left-to-right double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. Delegates to
    * the native codegen'd [[VectorExprs.CosineSimilarity]] (one fused
    * loop, no per-row lambda dispatch or intermediate arrays — Spark's
    * higher-order functions are interpreted). [[cosineComposed]] keeps
    * the declarative formulation as the bit-equality reference.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.CosineSimilarity(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Unit-normalize a vector in one native pass (array<numeric> ->
    * array<double>; zero vectors pass through). See
    * [[graft.functions.VectorExprs.UnitVector]] for why this must not
    * be a composed transform-over-norm.
    */
  def unit(v: Column): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.UnitVector(
      org.apache.spark.sql.GraftBridge.expression(v)))

  /** v - cents[cell], the IVF-PQ residual, in one native pass (see
    * [[graft.functions.VectorExprs.Residual]] for why the composed
    * zip_with-over-centroid-lookup form is an O(dim^2) trap).
    */
  def residual(v: Column, cell: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.Residual(
      org.apache.spark.sql.GraftBridge.expression(v),
      org.apache.spark.sql.GraftBridge.expression(cell),
      cents.map(_.toSeq).toSeq))

  /** The `nprobe` nearest cells of `v` with their exact dot(v, centroid)
    * terms, as array<struct<cell:int, dot:double>> nearest-first — the
    * narrow query-side probe build for IVF-PQ (see
    * [[graft.functions.VectorExprs.NearestCellDots]]).
    */
  def nearestCellDots(v: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.NearestCellDots(
      org.apache.spark.sql.GraftBridge.expression(v),
      cents.map(_.toSeq).toSeq, nprobe))

  /** Per-row PQ lookup table (array<double>, length m*k) against literal
    * codebooks (see [[graft.functions.VectorExprs.PqLut]]).
    */
  def pqLut(v: Column, books: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.PqLut(
      org.apache.spark.sql.GraftBridge.expression(v),
      books.map(_.map(_.toSeq).toSeq).toSeq))

  /** SQ8-encode a vector (typically the IVF residual) into
    * struct<scale:double, codes:binary> — 8 bits/dim, the resolution
    * tier between PQ codes and the raw vector (see
    * [[graft.functions.VectorExprs.SqEncode]]).
    */
  def sqEncode(v: Column): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.SqEncode(
      org.apache.spark.sql.GraftBridge.expression(v)))

  /** Asymmetric dot of a full-precision query vector with SQ8 codes
    * (see [[graft.functions.VectorExprs.SqDot]]).
    */
  def sqDot(q: Column, sq: Column): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.SqDot(
      org.apache.spark.sql.GraftBridge.expression(q),
      org.apache.spark.sql.GraftBridge.expression(sq)))

  /** Greedy MMR selection over a bounded candidate array (see
    * [[graft.functions.VectorExprs.MmrSelect]]).
    */
  def mmrSelect(cands: Column, k: Int, lambda: Double): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.MmrSelect(
      org.apache.spark.sql.GraftBridge.expression(cands), k, lambda))

  /** The near-dup survivors of one semantic-dedup cell (see
    * [[graft.functions.VectorExprs.CellSurvivors]]).
    */
  def cellSurvivors(members: Column, hub: Column, threshold: Double): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.CellSurvivors(
      org.apache.spark.sql.GraftBridge.expression(members),
      org.apache.spark.sql.GraftBridge.expression(hub), threshold))

  /** The composed (zip_with/aggregate) cosine — same math, same strict
    * left-to-right accumulation; used to cross-check the native
    * expression and as the pattern reference for new vector ops.
    */
  def cosineComposed(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /** Signed projection of `vec` onto pseudo-random hyperplane `p`.
    * Hyperplane components are pseudo-random in [-1,1), derived from
    * xxhash64 so every executor derives identical planes — no broadcast
    * of random state needed at cluster scale.
    */
  private def hyperplaneProjection(vec: Column, p: Int): Column =
    aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1), (x, j) =>
        x.cast("double") *
          ((pmod(xxhash64(lit(p), j), lit(2001L)).cast("double") - 1000.0) / 1000.0)),
      lit(0.0), (acc, v) => acc + v)

  /** Sign-LSH bucket id: `bits` hyperplane-sign bits packed into a long. */
  def signLshBucket(vec: Column, bits: Int): Column =
    (0 until bits).map { p =>
      when(hyperplaneProjection(vec, p) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Banded sign-LSH: `bands` bucket ids of `bitsPerBand` sign bits each
    * (distinct hyperplanes per band). Two vectors are LSH candidates when
    * ANY band matches — OR-amplification, so near-identical-but-not-
    * bit-identical vectors (one noisy projection flipping a sign) still
    * collide with high probability: at cos 0.99, P(bit) ≈ 0.971,
    * P(any of 4 8-bit bands) ≈ 1-(1-0.971^8)^4 ≈ 0.998.
    *
    * Delegates to the native [[VectorExprs.SignLshBands]] (one fused
    * mat-vec per row against a per-JVM cached plane matrix, instead of
    * bands*bitsPerBand interpreted higher-order aggregates);
    * [[signLshBandBucketsComposed]] keeps the declarative formulation as
    * the bit-equality reference.
    */
  def signLshBandBuckets(vec: Column, bands: Int, bitsPerBand: Int): Column =
    org.apache.spark.sql.GraftBridge.column(VectorExprs.SignLshBands(
      org.apache.spark.sql.GraftBridge.expression(vec), bands, bitsPerBand))

  /** The composed formulation of [[signLshBandBuckets]] — same hash
    * family, same arithmetic; cross-checked bit-equal in tests.
    */
  def signLshBandBucketsComposed(vec: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { b =>
      (0 until bitsPerBand).map { i =>
        val p = b * bitsPerBand + i
        when(hyperplaneProjection(vec, p) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
}
