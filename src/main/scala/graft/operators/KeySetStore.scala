package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Generational DISTINCT-KEY-SET store — the [[GenStore]] discipline
  * (q143 postings / q148 sketches / q149 frequencies / q150 coded
  * vectors) for the dedup admission family, whose persisted state is a
  * set of keys: the span-dedup gram store (distinct gram hashes,
  * [[Dedup.appendGramStore]]) and the MinHash signature store (distinct
  * (band, bucket) rows, [[Dedup.appendMinHashStore]]). Schema-generic:
  * a fragment holds whatever key columns the owner admits.
  *
  * Why compaction matters MORE here than for the other stores: the
  * state is a set, so fragments across crawl batches overlap — an exact
  * reclone admitted in every batch writes its keys every time. The
  * per-batch fragments are each internally distinct but not mutually,
  * so compaction (union all fragments, distinct ONCE, one sealed
  * fragment) is genuine data reduction, not just file-count reduction —
  * and every post-compaction semi-join probes a smaller store. Reads
  * stay correct against any fragmentation because a LEFT-SEMI join is
  * multiset-insensitive: duplicate keys across fragments change
  * nothing, which is also why the compacted store serves BIT-IDENTICAL
  * admission decisions (the gate q151 states).
  *
  * Lifecycle contract (shared with the family): CAS compaction on
  * `expectedGen` (retry no-ops), `_COMPACTED` seal refuses replays of
  * merged batch ids (a per-batch overwrite would silently drop every
  * OTHER batch's keys that were merged into the fragment), post-write
  * pointer re-check fences an admit racing a compaction, straggler
  * sweep re-lists around the pointer move.
  */
object KeySetStore extends GenStore.PendingDeleteStore {

  /** [[initStore]] under the key-set store's own name. */
  def init(root: String): Unit = initStore(root)

  /** Admit one batch's key rows (made distinct here) under the CURRENT
    * generation through the family's fences ([[GenStore.admit]]).
    * Idempotent per batch id (mode overwrite).
    */
  def admitBatch(keys: DataFrame, batchId: Long, root: String): Unit =
    admitBatchHooked(keys, batchId, root, () => ())

  /** [[admitBatch]] with a hook between the write and the post-write
    * fences — the quiesce-TOCTOU race-test seam: a quiesce landing
    * inside the hook (i.e. while the write was in flight) must make
    * THIS admission throw, so its caller re-admits at the successor.
    */
  private[graft] def admitBatchHooked(keys: DataFrame, batchId: Long,
      root: String, midHook: () => Unit): Unit =
    GenStore.admit(root, currentGen(root), batchId,
      sealedWhy = "replays of compacted batches are refused (a per-batch " +
        "overwrite would drop the other merged batches' keys)",
      midHook = midHook) { dir =>
      keys.distinct().write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
    }

  // ---------------------------------------------------------------------
  // DELETION/TAKEDOWN — the q161 LSM delete-marker discipline
  // (InvertedIndex / VectorStore), restated for a store WITHOUT row
  // attribution: fragments hold bare keys, so a delete is a KEY-SET
  // subtraction, not a per-document purge. Taking down a document means
  // deleting the keys DERIVED FROM IT ([[Dedup.deleteMinHashBatch]]);
  // if a surviving near-clone contributed the same (band, bucket), that
  // shared key is forgotten too — the surviving doc stays in the
  // corpus, but future dedup against it through those bands weakens.
  // That trade is inherent to set-state (the alternative, attributing
  // every key to its admitting doc ids, forfeits the cross-batch
  // distinct that makes this store KB-sized at 100 TB) and is exactly
  // what takedown needs: a RE-CRAWL of removed content must be
  // re-admittable, which ghost signatures would block forever.
  // Contract: reads equal a store rebuilt from (admitted keys) EXCEPT
  // (deleted keys); the next compaction applies the subtraction
  // physically and the new generation carries no pending set.
  // ---------------------------------------------------------------------

  /** Admit one batch of keys to DELETE under the current generation's
    * `deletes/batch_id=N` (same schema as the data fragments). Replays
    * are semantic no-ops whether or not a compaction already applied
    * them — subtracting an absent key removes nothing — so there is no
    * compaction seal on delete ids, only the family's pointer re-check
    * plus the merge-renumbered-id fence ([[GenStore.deletesHwm]]).
    */
  def admitDeleteBatch(keys: DataFrame, batchId: Long, root: String): Unit =
    GenStore.admit(root, currentGen(root), batchId, deletes = true) { dir =>
      keys.distinct().write.mode("overwrite")
        .parquet(s"$dir/deletes/batch_id=$batchId")
    }

  /** Pending delete keys of one generation directory, or None when no
    * deletes were ever admitted (the zero-cost common case — read plans
    * are untouched).
    */
  private def pendingDeletes(spark: SparkSession, dir: String): Option[DataFrame] =
    // BROADCAST by construction — O(dead docs' keys); the distinct
    // defeats size estimation and an unhinted anti-join would reshuffle
    // the whole key-set scan (see InvertedIndex.pendingDeletes). The
    // needsCompaction policy keeps the set fraction-bounded.
    pendingDeletesUnder(spark, dir).map(d => broadcast(d.drop("batch_id").distinct()))

  /** The key set through the pointer — every key column of every
    * fragment of the current generation. A multiset until compacted;
    * callers semi-join against it, so overlap across fragments is
    * harmless. Pending deletes are subtracted by ONE anti-join on the
    * key columns (index-sized rows, never a corpus); with none pending
    * the plan is the bare fragment scan.
    */
  def keysCurrent(spark: SparkSession, root: String): DataFrame =
    keysAt(spark, root, currentGen(root))

  /** [[keysCurrent]] at a PINNED generation (manifest reads, q152/q168):
    * generations are immutable, so the same pin always serves the same
    * key set — including its own pending deletes, which belong to the
    * generation that admitted them.
    */
  def keysAt(spark: SparkSession, root: String, gen: Long): DataFrame = {
    val dir = genDir(root, gen)
    val ids = GenStore.listBatchIds(spark, dir)
    require(ids.nonEmpty, s"no fragments under $dir")
    keysOf(spark, dir, ids)
  }

  private def keysOf(spark: SparkSession, dir: String,
      ids: Seq[Long]): DataFrame = {
    val df = Tables.parquet(spark, ids.map(i => s"$dir/batch_id=$i"): _*)
    pendingDeletes(spark, dir) match {
      case None => df
      case Some(del) => df.join(del, df.columns.toSeq, "left_anti")
    }
  }

  /** [[keysCurrent]] MINUS one fragment — the checkpoint-replay probe
    * (streaming curation, [[graft.streaming.EventStreams
    * .curationIngestCompacting]]): a replayed micro-batch must decide
    * admission against everything admitted BEFORE it, never against the
    * keys its own crashed first attempt already landed under
    * `batch_id=excludeBatchId` (probing those would reject every doc as
    * its own clone and overwrite the fragment with an empty set). None
    * when no OTHER fragments exist — the caller admits everything, the
    * same answer an empty store gives. Fragments the replayed id was
    * compacted into are unreachable here by construction: the sealed
    * high-water mark refuses such replays before any probe runs.
    */
  def keysCurrentExcluding(spark: SparkSession, root: String,
      excludeBatchId: Long): Option[DataFrame] = {
    val dir = genDir(root, currentGen(root))
    val ids = GenStore.listBatchIds(spark, dir).filterNot(_ == excludeBatchId)
    if (ids.isEmpty) None else Some(keysOf(spark, dir, ids))
  }

  /** COMPACT the current generation: union every fragment, distinct
    * ONCE, subtract the pending delete set, one sealed `batch_id=<hwm>`
    * fragment under `gen=G+1` behind the atomic pointer — the new
    * generation holds no trace of the deleted keys and no pending set,
    * bit-identical to a store rebuilt from the surviving keys. CAS on
    * `expectedGen`; straggler sweep as the family
    * ([[VectorStore.compactGen]]), covering DELETE fragments too (a
    * delete admitted after the listing rides through pending).
    */
  def compactStore(spark: SparkSession, root: String,
      expectedGen: Long): Long =
    compactStoreHooked(spark, root, expectedGen, () => ())

  /** FEDERATION MERGE for the dedup memory — K crawl partitions build
    * signature stores independently, then merge into one memory
    * ([[InvertedIndex.mergeStores]]'s pattern): data fragments copy
    * under fresh sequential ids, pending delete fragments ride along,
    * occupied ids seal. Key multisets union — exactly what the
    * LEFT-SEMI probe semantics want (overlap across builders is
    * harmless, the next compaction distincts it away). Caller
    * contract: same key schema across sources; fresh `dstRoot`.
    *
    * `compactFirst` folds each source before the copy (the
    * compact-before-quiesce economics, [[InvertedIndex.mergeStores]]) —
    * for THIS family the fold also DISTINCTs each source's key multiset
    * and applies its pending deletes, so the copy moves near-minimal
    * bytes. Legal on quiesced sources (the fence guards admission
    * fronts only).
    */
  def mergeStores(spark: SparkSession, srcRoots: Seq[String],
      dstRoot: String, compactFirst: Boolean = false): Long =
    GenStore.mergeStores(spark, srcRoots, dstRoot, layout.tables,
      if (compactFirst) Some(compactStore(spark, _, _)) else None,
      scopedFence = false)

  /** AGE-OUT RETENTION for the dedup memory — forget signatures older
    * than the watermark so stale content can re-enter the corpus (the
    * re-crawl policy: a page deduped against a 2-year-old snapshot of
    * itself should be admitted when it returns changed). Compacts the
    * current generation keeping ONLY fragments with `batch_id >=
    * minRetainedBatch`; expired ids stay sealed (replays refused),
    * re-ingestion is a new admission. Same fragment-granularity
    * contract as [[InvertedIndex.expireBatches]]: a merged fragment
    * expires with its NEWEST input — compact within retention windows
    * or expire before compacting.
    */
  def expireBatches(spark: SparkSession, root: String, expectedGen: Long,
      minRetainedBatch: Long): Long =
    compactStoreHooked(spark, root, expectedGen, () => (),
      _ >= minRetainedBatch)

  /** [[compactStore]] with a hook run between the fragment/delete
    * listing and the merge — the family's race-test seam: work
    * admitted inside the window must ride through the sweep (data
    * fragments unmerged, delete fragments still pending), never vanish.
    */
  private[graft] def compactStoreHooked(spark: SparkSession, root: String,
      expectedGen: Long, midHook: () => Unit,
      retain: Long => Boolean = _ => true): Long =
    GenStore.publish(spark, root, expectedGen, retain = retain,
        midHook = midHook) { l =>
      // the LISTED delete set, applied to the fold AND re-applied to
      // swept data stragglers: a listed delete can target keys of a data
      // batch admitted AFTER the listing (delete lands, listing runs,
      // data batch admits inside the window), and it is NOT carried
      // pending (the new generation must not re-subtract it from
      // genuinely-later re-admissions), so the swept copy must subtract
      // it or the takedown silently vanishes — the read semantics
      // exactly: [[keysAt]] applied the pending set to EVERY fragment
      val listedDel =
        if (l.delIds.isEmpty) None
        else Some(broadcast( // O(dead docs' keys) — see pendingDeletes
          Tables.parquet(spark, l.delPaths: _*).distinct()))
      def survivors(df: DataFrame): DataFrame =
        listedDel.fold(df)(d => df.join(d, df.columns.toSeq, "left_anti"))
      survivors(Tables.parquet(spark, l.paths(l.src, l.ids): _*).distinct())
        .write.mode("overwrite").parquet(s"${l.dst}/batch_id=${l.hwm}")
      i => survivors(Tables.parquet(spark, s"${l.src}/batch_id=$i"))
        .write.mode("overwrite").parquet(s"${l.dst}/batch_id=$i")
    }
}
