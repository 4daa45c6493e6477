package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted, mergeable QUANTILE state — the third member of the
  * sketch-store family (distinct counts: [[SketchStore]] HLL;
  * frequencies: [[HeavyHitters]] Misra-Gries; order statistics: THIS).
  * Each ingest batch reduces to per-(key, bin) counts of a FIXED-RANGE
  * equi-width histogram, landed in its own `batch_id=N` fragment;
  * quantile questions then read only the histogram rows — the raw
  * stream is never rescanned. Bin-count addition is associative and
  * commutative, so batches merge in any order, any tree, and
  * compaction (one groupBy-sum, the [[GenStore]] discipline) is
  * LOSSLESS: post-compaction answers are bit-identical, the strongest
  * gate in the family (HLL shares it; MG's is the contract bound).
  *
  * Accuracy contract: the estimate returned for quantile q is the
  * LOWER EDGE of the first bin whose cumulative count reaches
  * rank ceil(q*N) — within one bin WIDTH of the exact order statistic
  * by construction, and EXACT (the order statistic itself, discrete
  * semantics) whenever values are integral and the store is configured
  * with unit bins covering the domain (`lo` integral, `width` 1), the
  * common telemetry/quality-score shape. Values outside
  * [lo, lo + width*nbins) clamp to the edge bins — the standard
  * fixed-range histogram stance: configure the range to the domain,
  * read edge-bin answers as range bounds, or use the HDR log-width
  * mode ([[appendBatchHdr]]) for unbounded heavy-tailed domains, which
  * trades the absolute one-bin-width bound for a relative-error
  * contract that holds at any magnitude. Ranks are
  * computed with INTEGER ceiling division (rank = (N*num + den-1) div
  * den for q = num/den), so estimates are engine-portable — no float
  * rank ever rounds differently between this store and an oracle.
  *
  * The reference engine has no quantile surface (README scope list);
  * north-star extension. q158 gates the lifecycle end-to-end.
  */
object QuantileStore extends GenStore.MergeableStore {

  private def binOf(valueCol: String, lo: Double, width: Double, nbins: Int): Column =
    least(greatest(floor((col(valueCol) - lo) / width), lit(0L)),
      lit(nbins - 1L)).cast("long")

  /** Exact long integral division (the [[RangeJoin.bucketOf]] idiom):
    * no double round-trip, so it cannot lose precision at any
    * magnitude and both engines of an oracle compare agree bit for bit.
    */
  private def intDiv(num: Column, den: Long): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftBridge.expression(num.cast("long")),
        org.apache.spark.sql.GraftBridge.expression(lit(den))))

  private def shiftR(v: Column, n: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRight(
        org.apache.spark.sql.GraftBridge.expression(v.cast("long")),
        org.apache.spark.sql.GraftBridge.expression(n.cast("int"))))

  private def shiftL(v: Column, n: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.GraftBridge.expression(v.cast("long")),
        org.apache.spark.sql.GraftBridge.expression(n.cast("int"))))

  // -------------------------------------------------------------------------
  // HDR (log-width) binning: the unbounded-domain mode. Fixed-range
  // equi-width bins clamp heavy-tailed domains into the edge bin —
  // every quantile above the configured range collapses to one answer.
  // The HDR-histogram stance (base-2 exponent buckets, 2^subBits
  // linear sub-buckets each) keeps a RELATIVE-error contract instead:
  // estimate <= exact < estimate * (1 + 2^-subBits), at any magnitude,
  // with ~subBits*64 bins total. Bin assignment is EXACT INTEGER math
  // (bit length + shifts — no float log whose last ulp could differ
  // between engines), so a DuckDB oracle recomputes identical bins:
  //   e     = bitlength(v) - 1            (= floor(log2 v), 0 for v=0)
  //   shift = max(e - subBits, 0)
  //   bin   = shift * 2^subBits + (v >> shift)   [clamped to nbins-1]
  // and the inverse lower edge: for bin >= 2^(subBits+1),
  //   shift = bin div 2^subBits - 1, edge = (bin - shift*2^subBits) << shift;
  // below that, edge = bin (the linear unit-bin region). Negative
  // values clamp to bin 0 — the domain contract is non-negative
  // integral measures (sizes, counts, latencies, prices in cents).
  // -------------------------------------------------------------------------

  private def hdrBinOf(valueCol: String, subBits: Int, nbins: Int): Column = {
    val v = greatest(col(valueCol).cast("long"), lit(0L))
    val e = (length(bin(v)) - lit(1)).cast("long")
    val shift = greatest(e - subBits, lit(0L))
    least(shift * (1L << subBits) + shiftR(v, shift), lit(nbins - 1L)).cast("long")
  }

  /** The lower edge of an HDR bin — the value [[quantilesOfHdr]] emits. */
  private def hdrEdge(binCol: Column, subBits: Int): Column = {
    val sub = 1L << subBits
    val shift = greatest(intDiv(binCol, sub) - 1L, lit(0L))
    shiftL(binCol.cast("long") - shift * sub, shift)
  }

  /** Reduce one ingest batch to per-(key, bin) count rows under
    * `batch_id=N` (mode overwrite: replayed batches are storage
    * no-ops — the family layout). One map-side-combined aggregation
    * over the batch; at most `nbins` rows per key per batch.
    */
  def appendBatch(batch: DataFrame, keyCols: Seq[String], valueCol: String,
      lo: Double, width: Double, nbins: Int,
      batchId: Long, path: String): Unit = {
    require(keyCols.nonEmpty, "appendBatch needs at least one key column")
    require(width > 0 && nbins > 0, "width and nbins must be positive")
    batch.filter(col(valueCol).isNotNull)
      .groupBy((keyCols.map(col) :+ binOf(valueCol, lo, width, nbins).as("bin")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
  }

  /** The merged histogram across every persisted fragment: one scan of
    * count rows (never the raw stream), one sum per (key, bin).
    */
  def mergedHistogram(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame =
    Tables.parquet(spark, path)
      .groupBy((keyCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a merged histogram: for each (name, num,
    * den) the value at integer rank ceil(N * num/den) — smallest bin
    * lower edge whose cumulative count reaches the rank. Bounded state:
    * the windows partition BY key over at most nbins rows each.
    */
  def quantilesOf(hist: DataFrame, keyCols: Seq[String],
      qs: Seq[(String, Int, Int)], lo: Double, width: Double): DataFrame = {
    val byKey = Window.partitionBy(keyCols.map(col): _*)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(byKey.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byKey))
    val aggs = qs.map { case (name, num, den) =>
      // rank = ceil(N * num/den), in PURE long arithmetic end to end
      val rank = intDiv(col("n") * num + (den - 1), den.toLong)
      min(when(col("cum") >= rank, lit(lo) + col("bin") * width)).as(name)
    }
    cum.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[appendBatch]] under HDR (log-width) binning — same fragment
    * schema (keyCols..., bin, cnt), so the whole lifecycle (admit
    * fences, lossless compaction, straggler sweep) is shared verbatim.
    */
  def appendBatchHdr(batch: DataFrame, keyCols: Seq[String], valueCol: String,
      subBits: Int, nbins: Int, batchId: Long, path: String): Unit = {
    require(keyCols.nonEmpty, "appendBatchHdr needs at least one key column")
    require(subBits >= 1 && subBits <= 16, "subBits must be in [1, 16]")
    require(nbins > 0, "nbins must be positive")
    batch.filter(col(valueCol).isNotNull)
      .groupBy((keyCols.map(col) :+ hdrBinOf(valueCol, subBits, nbins).as("bin")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
  }

  /** [[quantilesOf]] under HDR binning: the value at integer rank
    * ceil(N*num/den) is the LOWER EDGE of its bin — within the
    * relative-error contract `edge <= exact < edge * (1 + 2^-subBits)`
    * of the exact order statistic (exact whenever the rank falls in
    * the linear unit-bin region below 2^(subBits+1)).
    */
  def quantilesOfHdr(hist: DataFrame, keyCols: Seq[String],
      qs: Seq[(String, Int, Int)], subBits: Int): DataFrame = {
    val byKey = Window.partitionBy(keyCols.map(col): _*)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(byKey.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byKey))
    val aggs = qs.map { case (name, num, den) =>
      val rank = intDiv(col("n") * num + (den - 1), den.toLong)
      min(when(col("cum") >= rank, hdrEdge(col("bin"), subBits))).as(name)
    }
    cum.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[admitBatch]] under HDR binning — the same lifecycle fences. */
  def admitBatchHdr(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      valueCol: String, subBits: Int, nbins: Int,
      batchId: Long, root: String): Unit =
    GenStore.admit(root, currentGen(root), batchId)(
      appendBatchHdr(batch, keyCols, valueCol, subBits, nbins, batchId, _))

  /** [[quantilesOfHdr]] over the current generation's merged histogram. */
  def quantilesCurrentHdr(spark: SparkSession, root: String, keyCols: Seq[String],
      qs: Seq[(String, Int, Int)], subBits: Int): DataFrame =
    quantilesOfHdr(
      mergedHistogram(spark, genDir(root, currentGen(root)), keyCols),
      keyCols, qs, subBits)

  // -------------------------------------------------------------------------
  // Generational store + COMPACTION ([[GenStore]] discipline, the q148
  // pattern): fragments accumulate one per crawl batch; compaction sums
  // each (key, bin)'s counts ONCE into a sealed fragment. Addition is
  // lossless, so every post-compaction answer is bit-identical.
  // -------------------------------------------------------------------------

  /** Admit one batch under the CURRENT generation through the family's
    * fences ([[GenStore.admit]]): sealed batch ids refused, pointer
    * re-read after the write so an admission racing a compaction fails
    * loudly.
    */
  def admitBatch(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      valueCol: String, lo: Double, width: Double, nbins: Int,
      batchId: Long, root: String): Unit =
    GenStore.admit(root, currentGen(root), batchId)(
      appendBatch(batch, keyCols, valueCol, lo, width, nbins, batchId, _))

  // -------------------------------------------------------------------------
  // EXACT RETRACTION — the takedown surface (q161/q165 family) restated
  // for count state: bin counts form an abelian GROUP, not just a
  // monoid, so unlike HLL registers (max — no inverse) and Misra-Gries
  // counters (lossy — no inverse) this store can DELETE exactly. A
  // retraction batch is the ordinary per-(key, bin) aggregation with
  // NEGATED counts, landed as a normal fragment: every read's merge sum
  // and the compaction it materializes subtract it with zero new
  // machinery, and the whole lifecycle (fences, sweep, streaming sinks)
  // applies verbatim. The sealed-id fence matters MORE here than for
  // key-set deletes: retraction is not idempotent once compacted (a
  // replay would subtract twice), and the hwm fence is exactly what
  // refuses it. Integrity: retracting rows that were never ingested
  // drives some (key, bin) negative — compaction VALIDATES the merged
  // histogram and fails loudly before publishing, so the error cannot
  // propagate past the generation that introduced it.
  // -------------------------------------------------------------------------

  /** Retract one batch: [[admitBatch]] with negated counts. Retract the
    * SAME rows that were ingested (same key/value columns, same bin
    * geometry) under a FRESH batch id — the inverse fragment of the
    * original. Uncompacted replays overwrite idempotently; compacted
    * replays are refused by the sealed-id fence.
    */
  def retractBatch(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      valueCol: String, lo: Double, width: Double, nbins: Int,
      batchId: Long, root: String): Unit =
    admitNegated(spark, batch, keyCols,
      binOf(valueCol, lo, width, nbins), valueCol, batchId, root)

  /** [[retractBatch]] under HDR (log-width) binning. */
  def retractBatchHdr(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      valueCol: String, subBits: Int, nbins: Int,
      batchId: Long, root: String): Unit =
    admitNegated(spark, batch, keyCols,
      hdrBinOf(valueCol, subBits, nbins), valueCol, batchId, root)

  private def admitNegated(spark: SparkSession, batch: DataFrame,
      keyCols: Seq[String], binCol: Column, valueCol: String,
      batchId: Long, root: String): Unit =
    GenStore.admit(root, currentGen(root), batchId,
        verb = "retraction",
        sealedWhy = "a replayed retraction would subtract twice and is refused") {
      dir =>
        batch.filter(col(valueCol).isNotNull)
          .groupBy((keyCols.map(col) :+ binCol.as("bin")): _*)
          .agg((-count(lit(1))).cast("long").as("cnt"))
          .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
    }

  /** COMPACT the current generation: sum every fragment's (key, bin)
    * counts into ONE fragment at the high-water batch id under
    * `gen=G+1`, sealed and published behind the atomic pointer.
    * Compare-and-swap on `expectedGen` (retry no-ops). Lossless —
    * the read path performs this same sum; compaction materializes it.
    * Straggler sweep as the family ([[KeySetStore.compactStore]]):
    * batches admitted since the fragment listing are re-listed and
    * copied through unmerged, once before the seal and once after the
    * pointer move — an admit racing the compaction either lands or
    * throws, never silently vanishes.
    *
    * Retractions ([[retractBatch]]) are applied PHYSICALLY here: fully
    * retracted (key, bin) cells (sum 0) are dropped, so the compacted
    * fragment is bit-identical to one a store built without the
    * retracted rows would produce; a merged count below zero means
    * rows were retracted that were never ingested, and the compaction
    * fails LOUDLY before sealing or publishing — readers keep the old
    * generation, the bad retraction fragment stays visible for repair.
    */
  def compactStore(spark: SparkSession, root: String, expectedGen: Long,
      keyCols: Seq[String]): Long =
    compactStoreHooked(spark, root, expectedGen, keyCols, () => ())

  /** [[compactStore]] with a hook run between the fragment listing and
    * the merge — the test seam for the straggler-sweep race window.
    */
  private[graft] def compactStoreHooked(spark: SparkSession, root: String,
      expectedGen: Long, keyCols: Seq[String], midHook: () => Unit): Long =
    GenStore.publish(spark, root, expectedGen, midHook = midHook) { l =>
      // fully retracted cells (sum 0) are dropped — the physical purge
      val dst = s"${l.dst}/batch_id=${l.hwm}"
      Tables.parquet(spark, l.paths(l.src, l.ids): _*)
        .groupBy((keyCols :+ "bin").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") =!= 0L)
        .write.mode("overwrite").parquet(dst)
      // over-retraction fence: validate BEFORE sealing/publishing (one
      // scan of the nbins-x-keys-sized fragment, never the raw stream)
      val negatives = Tables.parquet(spark, dst).filter(col("cnt") < 0L).count()
      require(negatives == 0L,
        s"compaction of ${l.src} found $negatives (key, bin) cells with " +
          "negative merged counts: more rows were retracted than ingested — " +
          "the new generation is NOT published; repair or remove the " +
          "offending retraction fragment and retry")
      l.carry(spark)
    }

  /** The continuous-compaction policy ([[GenStore.MergeableStore]]'s
    * fragment leg): compact once `maxFragments` accumulate. Returns the
    * new generation when it fired. Retractions here ARE ordinary
    * fragments (negated counts in the group algebra — q166), so
    * "pending retraction weight" and read amplification are both
    * governed by the same fragment count; there is no separate delete
    * surface to fraction-bound, and the dashboard's pending side is
    * zero.
    */
  def compactIfNeeded(spark: SparkSession, root: String,
      keyCols: Seq[String], maxFragments: Int): Option[Long] =
    compactWhenDue(spark, root, maxFragments)(
      compactStore(spark, root, _, keyCols))

  /** [[quantilesOf]] over the current generation's merged histogram. */
  def quantilesCurrent(spark: SparkSession, root: String, keyCols: Seq[String],
      qs: Seq[(String, Int, Int)], lo: Double, width: Double): DataFrame =
    quantilesOf(
      mergedHistogram(spark, genDir(root, currentGen(root)), keyCols),
      keyCols, qs, lo, width)
}
