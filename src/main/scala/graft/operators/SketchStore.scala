package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted, mergeable sketch state — the incremental-pipeline shape of
  * approximate distinct counting. Each ingest batch reduces to one tiny
  * row of Apache DataSketches HLL bytes per key, written to its own
  * `batch_id=N` subdirectory of the stats table with mode("overwrite")
  * (so a replayed/retried batch is a storage no-op, not duplicate rows);
  * corpus-wide estimates then come from unioning the persisted sketches
  * WITHOUT rescanning any history. At 100 TB this is the difference
  * between a per-batch O(batch) scan and a per-question O(all-data)
  * scan: the stats table stays KBs per batch regardless of corpus size,
  * and HLL union is associative/commutative so batches can land in any
  * order, from any executor, even concurrently (each lands in its own
  * partition directory). NOTE: this per-batch-directory layout replaced
  * an earlier flat-append layout (batch_id as a data column in root
  * files); stores written by that layout are not readable alongside this
  * one — acceptable pre-1.0, but rewrite old stores if any exist.
  *
  * The reference engine has no sketch surface (its README scope list,
  * /root/reference/README.md:127-138); north-star extension. In-query
  * mergeability is proven by q77; THIS is the storage surface (q83).
  */
object SketchStore extends GenStore.MergeableStore {

  /** Default HLL precision: 2^12 registers, ~1.6% relative error. */
  final val DefaultLgK = 12

  /** Reduces one ingest batch to per-key sketch rows and lands them in
    * the stats table at `path`: (keyCols..., lgk, sketch) under a
    * `batch_id=N` subdirectory written with mode("overwrite") — the
    * same per-batch idempotent layout as [[HeavyHitters.appendBatch]]
    * and the dedup admission stores. HLL's register-max union already
    * made retried batches harmless for ESTIMATES, but an appending
    * write still grew the store with duplicate rows on every
    * micro-batch replay; per-batch overwrite keeps replay a no-op for
    * storage too, and the mergeable-store family keeps one layout. The
    * directory name doubles as the `batch_id` column via partition
    * discovery on read. One map-side-combined aggregation over the
    * batch — the only pass over the raw data this key ever needs.
    */
  def appendBatch(
      batch: DataFrame, keyCols: Seq[String], valueCol: String,
      batchId: Long, path: String, lgK: Int = DefaultLgK): Unit = {
    require(keyCols.nonEmpty, "appendBatch needs at least one key column")
    batch.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("lgk", lit(lgK))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
  }

  /** Distinct-count estimates per key across EVERY persisted batch: one
    * scan of the stats table (KBs per batch), one union aggregation.
    * Output: (keyCols..., n_batches, est).
    */
  def mergedEstimates(
      spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame =
    Tables.parquet(spark, path)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_batches"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))

  // -------------------------------------------------------------------------
  // Generational store + COMPACTION ([[GenStore]] discipline): sketch
  // fragments accumulate one per crawl batch forever, and the read-side
  // union re-merges every batch's row for a key on every estimate.
  // Compaction runs that union ONCE — HLL union is associative and
  // commutative (register max), so the single pre-unioned sketch per key
  // yields BIT-IDENTICAL estimates — and seals the merged batch ids
  // behind the `_COMPACTED` high-water mark. The q143 pattern on the
  // sketch store; q148 gates it.
  // -------------------------------------------------------------------------

  /** Admit one batch under the CURRENT generation — [[appendBatch]]
    * routed through the pointer and the family's fences
    * ([[GenStore.admit]]): sealed batch ids are refused (they are inside
    * the compacted fragment), and an admission racing a compaction
    * fails loudly instead of landing invisibly in a superseded
    * generation.
    */
  def admitBatch(spark: SparkSession, batch: DataFrame, keyCols: Seq[String],
      valueCol: String, batchId: Long, root: String,
      lgK: Int = DefaultLgK): Unit =
    GenStore.admit(root, currentGen(root), batchId)(
      appendBatch(batch, keyCols, valueCol, batchId, _, lgK))

  /** COMPACT the current generation: union every fragment's sketch rows
    * into ONE row per key (the same register-max union the read path
    * performs, run once and materialized), written as a single
    * `batch_id=<hwm>` fragment under `gen=G+1`, sealed, and published
    * behind the atomic pointer. Compare-and-swap on `expectedGen`
    * (retry no-ops); readers are generation-isolated throughout. ONE
    * map-side-combined aggregation of KB-sized sketch rows — the raw
    * corpus is never touched. Straggler sweep as the family
    * ([[GenStore.publish]]): an admit racing the compaction either
    * lands in the new generation or throws at its own pointer re-check
    * — never silently vanishes.
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
      Tables.parquet(spark, l.paths(l.src, l.ids): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("sketch"),
          max(col("lgk")).as("lgk"))
        .write.mode("overwrite").parquet(s"${l.dst}/batch_id=${l.hwm}")
      l.carry(spark)
    }

  /** The continuous-compaction policy ([[GenStore.MergeableStore]]'s
    * fragment leg — a sketch store has no delete surface, HLL deletion
    * being impossible, the TAKEDOWN contract below): compact once
    * `maxFragments` accumulate. Returns the new generation when it
    * fired.
    */
  def compactIfNeeded(spark: SparkSession, root: String,
      keyCols: Seq[String], maxFragments: Int): Option[Long] =
    compactWhenDue(spark, root, maxFragments)(
      compactStore(spark, root, _, keyCols))

  /** [[mergedEstimates]] through the pointer. `n_batches` counts the
    * FRAGMENTS contributing per key (post-compaction: the compacted
    * fragment plus appended batches), which is exactly the read
    * amplification compaction bounds.
    */
  def estimatesCurrent(spark: SparkSession, root: String,
      keyCols: Seq[String]): DataFrame =
    mergedEstimates(spark, genDir(root, currentGen(root)), keyCols)

  // -------------------------------------------------------------------------
  // TAKEDOWN contract. HLL deletion is information-theoretically
  // impossible: the state is a register MAX, and max is not invertible
  // — once a value raised a register there is no record of what it
  // displaced, so no delete fragment, anti-join, or compaction can
  // unsee it (the q161/q165/q166 machinery deliberately does NOT exist
  // here). STALENESS SEMANTICS a takedown therefore induces: estimates
  // keep counting the dead documents' values until a rebuild — they
  // are upper bounds on the surviving corpus' distinct counts, drifting
  // upward as takedowns accumulate, and the drift is silent (a sketch
  // cannot report how much of it is dead). Deployments that must serve
  // post-takedown-accurate counts use [[rebuildKeys]]: recompute ONLY
  // the affected keys from the caller's surviving corpus slice and
  // swap the result in as a new generation — the refit-actuator
  // pattern ([[VectorStore.refit]]) applied to sketches. Keys never
  // touched by a takedown carry their existing registers bit-for-bit.
  // -------------------------------------------------------------------------

  /** Scoped REBUILD: roll a new generation in which every key in
    * `affectedKeys` has its sketch recomputed from `survivors` (the
    * surviving raw rows for those keys — the caller's retained-corpus
    * slice, post-takedown) and every other key carries its merged
    * registers unchanged. One sealed fragment, published behind the
    * atomic pointer with the family's CAS; the superseded generation
    * keeps serving readers mid-rebuild. At 100 TB the cost is ONE scan
    * of the affected keys' surviving rows plus the KB-sized sketch
    * union — never a whole-corpus recount (that is [[appendBatch]] on
    * an empty store, the unscoped fallback).
    *
    * Rebuilt estimates equal a from-scratch store over the surviving
    * rows for the AFFECTED keys (spec-gated): both sides are one
    * hll_sketch_agg over the same multiset — insertion-order- and
    * split-insensitive, exactly one answer. Carried keys keep their
    * merged REGISTERS unchanged instead; a register union is not
    * estimate-identical to a hypothetical one-pass sketch at high
    * cardinality, and no gate should (or does) claim it is.
    */
  def rebuildKeys(spark: SparkSession, root: String, expectedGen: Long,
      keyCols: Seq[String], valueCol: String,
      affectedKeys: DataFrame, survivors: DataFrame,
      lgK: Int = DefaultLgK): Long = {
    require(keyCols.nonEmpty, "rebuildKeys needs at least one key column")
    GenStore.publish(spark, root, expectedGen, action = "rebuild") { l =>
      rebuildFrame(spark, l.src, l.ids, keyCols, valueCol, affectedKeys,
          survivors, lgK)
        .write.mode("overwrite").parquet(s"${l.dst}/batch_id=${l.hwm}")
      // an admit racing the rebuild rides through unmerged (its
      // registers are NEW post-takedown data — carrying them raw is
      // correct; the read union folds them in)
      l.carry(spark)
    }
  }

  /** The scoped-rebuild frame [[rebuildKeys]] materializes — exposed
    * for the plan audit (PLANS.md q176): the cost claim "recompute
    * ONLY the affected keys from the surviving slice" must be visible
    * in the executed plan, not just asserted. Check: the store side is
    * the KB-sized sketch-fragment scan minus a BROADCAST left-anti on
    * the affected keys (register union untouched for carried keys);
    * the corpus side enters through a BROADCAST left-semi on the same
    * key set BEFORE the hll_sketch_agg, so only the affected keys'
    * surviving rows feed the one aggregation that touches data rows.
    */
  private[graft] def rebuildFrame(spark: SparkSession, src: String,
      ids: Seq[Long], keyCols: Seq[String], valueCol: String,
      affectedKeys: DataFrame, survivors: DataFrame, lgK: Int): DataFrame = {
    val affected = broadcast(affectedKeys.select(keyCols.map(col): _*)
      .distinct())
    // unaffected keys: the ordinary compaction union, minus affected
    val carried = Tables.parquet(spark, ids.map(i => s"$src/batch_id=$i"): _*)
      .join(affected, keyCols, "left_anti")
      .groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        max(col("lgk")).as("lgk"))
    // affected keys: recomputed from the surviving slice only (a key
    // whose survivors are empty simply disappears — a from-scratch
    // store would not hold it either)
    val rebuilt = survivors
      .join(affected, keyCols, "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("lgk", lit(lgK))
    carried.unionByName(rebuilt)
  }
}
