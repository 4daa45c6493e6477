package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** Misra-Gries heavy hitters: find the keys whose frequency exceeds
  * N/(m+1) in ONE pass with m counters — the vocabulary / hot-key /
  * heavy-URL detector for corpora where an exact group-by's key
  * cardinality (billions) dwarfs the interesting output (dozens).
  *
  * Why Misra-Gries and not Space-Saving: both give the same guarantee,
  * but MG summaries merge by "add counters, subtract the (m+1)-th
  * largest, drop non-positive" — the cleanly mergeable formulation
  * (Agarwal et al., "Mergeable Summaries", PODS'12) — so the partial
  * aggregation / shuffle / final merge pipeline Spark already gives an
  * [[Aggregator]] preserves the error bound with no coordination.
  * Guarantees after any merge tree:
  *  - `est <= true_count` (MG only ever undercounts);
  *  - `true_count - est <= N/(m+1)` where N is the total stream length;
  *  - therefore every key with `true_count > N/(m+1)` is IN the summary.
  *
  * At 100 TB: the only thing that crosses the shuffle is one <= m-entry
  * summary per partition (KBs), whatever the key cardinality. The
  * reference has no sketch surface at all; north-star extension beside
  * the HLL sketch store (SketchStore.scala).
  */
object HeavyHitters extends GenStore.MergeableStore {

  final case class Counter(key: String, est: Long)
  final case class MGBuf(entries: Seq[Counter])

  /** The mergeable Misra-Gries summary over string keys. Linear scans of
    * the counter list are O(m) per evicting row — right for the m <= a
    * few hundred this targets; a larger-m deployment would drop to a
    * TypedImperativeAggregate over a hash-indexed array, same algebra.
    */
  final class MisraGries(m: Int) extends Aggregator[String, MGBuf, MGBuf] {
    def zero: MGBuf = MGBuf(Vector.empty)

    def reduce(b: MGBuf, k: String): MGBuf = {
      val i = b.entries.indexWhere(_.key == k)
      if (i >= 0)
        MGBuf(b.entries.updated(i, Counter(k, b.entries(i).est + 1)))
      else if (b.entries.size < m) MGBuf(b.entries :+ Counter(k, 1L))
      else // classic MG step: decrement every counter, drop zeros
        MGBuf(b.entries.collect {
          case Counter(key, c) if c > 1 => Counter(key, c - 1)
        })
    }

    def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val sum = (a.entries ++ b.entries).groupBy(_.key)
        .map { case (k, cs) => Counter(k, cs.map(_.est).sum) }.toVector
      if (sum.size <= m) MGBuf(sum)
      else {
        // subtract the (m+1)-th largest count from all, keep positives:
        // the merge that keeps the N/(m+1) bound additive across parts
        val cut = sum.map(_.est).sorted(Ordering[Long].reverse)(m)
        MGBuf(sum.collect {
          case Counter(k, c) if c > cut => Counter(k, c - cut)
        })
      }
    }

    def finish(r: MGBuf): MGBuf = r
    def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    def outputEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
  }

  /** One-pass summary of `keyCol`: up to m `(key, est)` rows. Every key
    * with true frequency > N/(m+1) is present; `est` undercounts by at
    * most N/(m+1). Null keys are excluded (they are absence, not a key).
    */
  def summarize(df: DataFrame, keyCol: String, m: Int): DataFrame = {
    require(m > 0, "heavy-hitter summary needs at least one counter")
    val mg = udaf(new MisraGries(m), Encoders.STRING)
    df.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull)
      .agg(mg(col("k")).as("mg"))
      .select(explode(col("mg.entries")).as("e"))
      .select(col("e.key").as("key"), col("e.est").as("est"))
  }

  /** Merge PERSISTED per-batch summaries (the [[SketchStore]] pattern for
    * frequency: append each ingest batch's `(key, est)` rows, merge on
    * read) without rescanning any batch. Mergeability means the result
    * still carries a provable guarantee after the final prune to m
    * entries: if batch i of length N_i was summarized with m_i >= m
    * counters, every key with total frequency > sum(N_i)/(m+1) is
    * present in the merge (Agarwal et al.'s bound for the FINAL m — the
    * tighter sum(N_i/(m_i+1)) holds only before pruning back to m, so
    * over-provisioned per-batch summaries with m_i > m improve the est
    * values but not the survival bound).
    *
    * Implementation: summing per-key ests is an ordinary group-by (ests
    * are exact partials under the MG algebra), then one final MG prune to
    * m entries — expressed as a single-group aggregate over the summed
    * rows, which reuses [[MisraGries.merge]]'s prune via the Aggregator.
    */
  def mergeSummaries(summaries: DataFrame, m: Int): DataFrame = {
    require(m > 0, "heavy-hitter merge needs at least one counter")
    val summed = summaries
      .groupBy(col("key")).agg(sum(col("est")).cast("long").as("est"))
    val mgMerge = udaf(new MergeAgg(m), Encoders.product[Counter])
    // product input encoder binds one argument per field
    summed.agg(mgMerge(col("key"), col("est")).as("mg"))
      .select(explode(col("mg.entries")).as("e"))
      .select(col("e.key").as("key"), col("e.est").as("est"))
  }

  /** Persist one ingest batch's summary to the frequency stats table at
    * `path` as `(key, est, batch_id)` rows — [[SketchStore.appendBatch]]'s
    * shape for frequency instead of distinct counts. One summarize pass
    * over the batch, <= m rows appended; [[mergeSummaries]] over
    * `Tables.parquet(spark, path)` recovers the heavy hitters of the UNION
    * of all batches without rescanning any of them.
    *
    * Each batch lands in its own `batch_id=N` subdirectory with
    * mode("overwrite") — IDEMPOTENT per batch id, which matters because
    * foreachBatch re-executes a failed micro-batch with the SAME batchId:
    * an appending write would double-count the retried summary (MG ests
    * sum, unlike HLL's idempotent register-max union), breaking the
    * est <= true_count guarantee. The directory name doubles as the
    * `batch_id` column via partition discovery on read.
    */
  def appendBatch(batch: DataFrame, keyCol: String, m: Int,
      batchId: Long, path: String): Unit =
    summarize(batch, keyCol, m)
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  // -------------------------------------------------------------------------
  // Generational store + COMPACTION ([[GenStore]] discipline, the q143/
  // q148 pattern on the frequency store): per-batch summary fragments
  // accumulate forever, and every read re-merges all of them. Compaction
  // runs [[mergeSummaries]] once and materializes the m-entry result as
  // a sealed single fragment. Unlike HLL (q148's bit-identical union),
  // the MG prune is LOSSY BY DESIGN — estimates after an early prune can
  // differ from the fragmented read path — but the mergeable-summaries
  // contract (Agarwal et al., PODS 2012) holds over ANY merge tree with
  // fixed m: every key with frequency > N/(m+1) survives, and
  // est <= exact <= est + N/(m+1) over the TOTAL stream. Those
  // guarantees, not bit equality, are the gate (q149).
  // -------------------------------------------------------------------------

  /** Admit one batch under the CURRENT generation — [[appendBatch]]
    * routed through the pointer and the family's fences
    * ([[GenStore.admit]]).
    */
  def admitBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      m: Int, batchId: Long, root: String): Unit =
    GenStore.admit(root, currentGen(root), batchId)(
      appendBatch(batch, keyCol, m, batchId, _))

  /** COMPACT the current generation: [[mergeSummaries]] over every
    * fragment, materialized as a single sealed `batch_id=<hwm>` fragment
    * under `gen=G+1` behind the atomic pointer (CAS on `expectedGen`;
    * retry no-ops). The compacted summary keeps `m` entries, so the
    * survival/bounds guarantees above hold for all later merges with
    * appended batches. Straggler sweep as the family
    * ([[GenStore.publish]]): an admit racing the compaction either lands
    * or throws, never silently vanishes.
    */
  def compactStore(spark: SparkSession, root: String, expectedGen: Long,
      m: Int): Long =
    compactStoreHooked(spark, root, expectedGen, m, () => ())

  /** [[compactStore]] with a hook run between the fragment listing and
    * the merge — the test seam for the straggler-sweep race window.
    */
  private[graft] def compactStoreHooked(spark: SparkSession, root: String,
      expectedGen: Long, m: Int, midHook: () => Unit): Long =
    GenStore.publish(spark, root, expectedGen, midHook = midHook) { l =>
      mergeSummaries(Tables.parquet(spark, l.paths(l.src, l.ids): _*), m)
        .write.mode("overwrite").parquet(s"${l.dst}/batch_id=${l.hwm}")
      l.carry(spark)
    }

  /** The continuous-compaction policy ([[GenStore.MergeableStore]]'s
    * fragment leg — MG summaries have no delete surface, the TAKEDOWN
    * contract below): compact once `maxFragments` accumulate. Returns
    * the new generation when it fired.
    */
  def compactIfNeeded(spark: SparkSession, root: String, m: Int,
      maxFragments: Int): Option[Long] =
    compactWhenDue(spark, root, maxFragments)(compactStore(spark, root, _, m))

  /** [[mergeSummaries]] through the pointer: the heavy hitters of the
    * union of everything admitted, from (compacted fragment + appended
    * batches) — never the raw stream.
    */
  def hittersCurrent(spark: SparkSession, root: String, m: Int): DataFrame =
    mergeSummaries(Tables.parquet(spark, genDir(root, currentGen(root))), m)

  // -------------------------------------------------------------------------
  // TAKEDOWN contract. MG deletion is impossible: the prune step
  // discards evicted keys' counts irrecoverably, so subtracting a dead
  // document's contribution from a summary that may have pruned it has
  // no well-defined answer (the q161/q166 delete machinery deliberately
  // does NOT exist here — negative counts would break est <= exact, the
  // structure's only hard guarantee). STALENESS SEMANTICS a takedown
  // induces: estimates keep counting the dead documents' keys until a
  // rebuild — upper bounds on the surviving stream, drifting upward and
  // silently. Deployments that must serve post-takedown-accurate
  // frequencies use [[rebuildBatches]]: recompute ONLY the fragments
  // whose source batches contained dead documents, from the caller's
  // surviving slice of those batches, and publish as a new generation.
  // The scope is per-FRAGMENT, not per-key, because an MG summary is
  // one pruned structure — unlike the sketch store's per-key rows
  // ([[SketchStore.rebuildKeys]]) there is no finer unit to swap.
  // -------------------------------------------------------------------------

  /** Scoped REBUILD: roll a new generation in which each fragment named
    * in `survivorsByBatch` is replaced by a summary recomputed from
    * that batch's surviving raw rows (the caller's retained-corpus
    * slice, post-takedown), while every other fragment is carried
    * bit-for-bit. CAS on `expectedGen`; sealed and published behind the
    * atomic pointer, readers generation-isolated throughout. Cost: one
    * summarize pass over the AFFECTED batches' surviving rows only —
    * fragments a takedown never touched are copies of <= m-row files.
    * The mergeable-summaries guarantees then hold over the surviving
    * stream exactly as a from-scratch store would state them
    * (spec-gated: rebuilt == from-scratch on the surviving rows,
    * fragment for fragment).
    */
  def rebuildBatches(spark: SparkSession, root: String, expectedGen: Long,
      keyCol: String, m: Int,
      survivorsByBatch: Seq[(Long, DataFrame)]): Long = {
    val affected = survivorsByBatch.map(_._1)
    // the seal covers the REBUILT ids (and whatever the source
    // generation already sealed): an admission replay of a rebuilt batch
    // id would overwrite the post-takedown summary with the pre-takedown
    // one — the exact overwrite the seal exists to refuse
    GenStore.publish(spark, root, expectedGen, action = "rebuild",
        sealAt = _ => (compactedHwm(root, expectedGen) +: affected).max) { l =>
      val unknown = affected.filterNot(l.ids.contains)
      require(unknown.isEmpty,
        s"rebuildBatches names fragments the store does not hold: " +
          unknown.sorted.mkString(", "))
      // rebuilt fragments from the surviving slices, under their own ids
      survivorsByBatch.foreach { case (i, survivors) =>
        appendBatch(survivors, keyCol, m, i, l.dst)
      }
      // carry every unaffected listed fragment bit-for-bit — LITERALLY:
      // a byte-level parallel copy of the immutable summary fragments
      // (GenStore.copyFragments), no decode, no Spark job per fragment
      GenStore.copyFragments(spark,
        (l.ids.toSet -- affected.toSet).toSeq.sorted.map(i =>
          (s"${l.src}/batch_id=$i", s"${l.dst}/batch_id=$i")))
      l.carry(spark)
    }
  }

  /** Folds pre-counted `(key, est)` rows through the MG merge algebra —
    * the reduce side treats each row as a one-key summary, so reduce and
    * merge are the SAME pruning operation and any merge tree is valid.
    */
  private final class MergeAgg(m: Int) extends Aggregator[Counter, MGBuf, MGBuf] {
    private val alg = new MisraGries(m)
    def zero: MGBuf = MGBuf(Vector.empty)
    def reduce(b: MGBuf, c: Counter): MGBuf = alg.merge(b, MGBuf(Vector(c)))
    def merge(a: MGBuf, b: MGBuf): MGBuf = alg.merge(a, b)
    def finish(r: MGBuf): MGBuf = r
    def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    def outputEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
  }
}
