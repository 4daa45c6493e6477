package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GenStore, InvertedIndex, Similarity, VectorStore}

/** CDC → DERIVED-STORE SYNC: keep a serving store (the retrieval index
  * here; [[graft.operators.VectorStore]] has the vector twin) tracking
  * a mutating corpus WITHOUT rebuilds, by consuming the CDC snapshot
  * store's delta log ([[EventStreams.cdcChangesBetween]]) and applying
  * each window as one admission tick:
  *
  *   - upserts (I/U) become [[InvertedIndex.admitReplaceBatch]]'s
  *     shape: a SCOPED delete (mask every copy admitted so far) plus
  *     admission of the new versions — the lakehouse change-data-feed
  *     → index-maintenance pattern (Delta CDF readers, Lucene soft
  *     deletes) on this repo's store discipline;
  *   - deletes (D) become scoped takedowns, leaving the door open for
  *     a later re-insert of the same key.
  *
  * Cost per tick on the delta fast path: O(window change bytes) to
  * compute the feed (plus one narrow (key, seq) scan of the watermark
  * snapshot), O(changed docs) to admit — FLAT in corpus and index
  * size. The index's own `needsCompaction` policy bounds read
  * amplification between ticks exactly as for append-only admission.
  *
  * EXACTLY-ONCE without a transaction log: the tick's admissions all
  * use `batchId = <target CDC version>` (idempotent per-path
  * overwrites), the watermark file advances LAST, and a crash between
  * admission and watermark is self-healing — the retry tick's window
  * nests the orphan's, so its scoped delete (hwm = newVersion - 1)
  * masks every copy the orphan admitted, and the re-admitted versions
  * serve alone. No distributed coordination, no cleanup pass.
  *
  * SINGLE-WRITER contract: one sync driver per (cdcDir, root) pair
  * runs ticks and maintenance (compaction) serially — scoped deletes
  * must not race a compaction ([[InvertedIndex.admitReplaceBatch]]'s
  * contract; the compaction sweep refuses a straggling scoped delete
  * rather than mis-carrying it).
  *
  * RESYNC: if the watermark version has been vacuumed from the CDC
  * store, the incremental feed is unrecoverable — build a FRESH root
  * (first sync call bootstraps from the current snapshot) and cut
  * serving over via the manifest (the q152/q195 pin-and-cutover
  * pattern); this front refuses rather than silently full-diffing.
  * The q207 catalog query drives the whole recovery end to end.
  *
  * Both ticks run one skeleton (`tick`: binding and lag checks, the
  * persisted change feed, scoped delete, upsert, watermark last); each
  * store passes only its bootstrap and its two store calls. The
  * streaming form runs on [[EventStreams]]' one sink runner.
  *
  * DELIBERATE EXCLUSION — no sync front for the signature/gram
  * stores ([[graft.operators.KeySetStore]]): an upsert there must
  * delete keys DERIVED FROM THE OLD PAYLOAD (the grams/bands of the
  * text being replaced), and the O(change-bytes) delta feed does not
  * carry old payloads — hauling them would cost a state-sized payload
  * scan per tick, the exact cost this front exists to avoid. Dedup
  * memories stay on their own contract: ghost-tolerant admission
  * (a stale signature can only cause a conservative rejection, never
  * a correctness error) plus the takedown / scoped-rebuild surface
  * (q169, q176-q178) run at maintenance cadence.
  */
object CdcSync {

  private def watermarkPath(root: String) =
    java.nio.file.Paths.get(root, "_CDC_SYNC")

  /** The applied CDC (version, source dir) recorded at the store root,
    * or None before the bootstrap tick. */
  def appliedState(root: String): Option[(Long, String)] =
    readState(root).map { case (v, dir, _) => (v, dir) }

  /** (version, cdcDir, batchBase): `batchBase` offsets the batch ids
    * ticks admit under — 0 for an ordinary pipeline (batch id = CDC
    * version), set above the sealed id spaces by [[rebind]] after a
    * federation merge (merged fragments occupy [0, K) and the merged
    * clock restarts at 0, so unoffset ticks would collide with the
    * compaction seal).
    */
  private def readState(root: String): Option[(Long, String, Long)] = {
    val p = watermarkPath(root)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val kv = GenStore.readMarker(p)
      Some((kv("version").toLong, kv("cdcDir"),
        kv.getOrElse("base", "0").toLong))
    }
  }

  // atomic pointer write (the _CURRENT discipline): a reader never sees
  // a torn watermark and a crash leaves the old one — the tick replays,
  // which the hwm mask makes idempotent
  private def writeApplied(root: String, v: Long, cdcDir: String,
      base: Long = 0L): Unit =
    GenStore.atomicWrite(watermarkPath(root),
      s"version=$v\ncdcDir=$cdcDir\nbase=$base\n")

  /** One sync TICK for the retrieval index: advance the store at
    * `root` to the CDC store's current version. First call bootstraps
    * (admits the full current snapshot as one batch); later calls
    * apply the net change feed for `(applied, current]`. `prep` maps
    * change-feed payload rows (`keyCol` + snapshot payload, no op) to
    * the indexable frame (`keyCol`, `toksCol`) — tokenization lives
    * with the caller, the sync owns only the lifecycle. Returns the
    * new applied version (= current at the cut); a no-op tick (already
    * current) returns it untouched.
    */
  def syncIndexFromCdc(spark: SparkSession, cdcDir: String, root: String,
      keyCol: String, toksCol: String, bucketSize: Long,
      prep: DataFrame => DataFrame,
      seqCol: String = "seq", opCol: String = "op"): Long =
    tick(spark, cdcDir, root, keyCol, prep, seqCol, opCol) { (docs, cur) =>
      InvertedIndex.initStore(root)
      if (!docs.isEmpty)
        InvertedIndex.admitBatch(spark, docs, keyCol, toksCol,
          bucketSize, batchId = cur, root = root)
    }((keys, id) =>
      // one scoped delete covers updates AND deletes (for a freshly
      // inserted key it masks nothing, harmlessly) — hwm = base + cur - 1
      // reaches every earlier tick's batch id AND, post-federation,
      // every merged fragment below the rebind base
      InvertedIndex.admitScopedDeleteBatch(spark, keys, keyCol,
        batchId = id, root = root),
    (ups, id) => InvertedIndex.admitBatch(spark, ups, keyCol, toksCol,
      bucketSize, batchId = id, root = root))

  /** One sync TICK's skeleton, shared by [[syncIndexFromCdc]] and
    * [[syncVectorsFromCdc]]. Before the first tick (no watermark) it
    * runs `bootstrap(snapshot, cur)` on the prepped current snapshot.
    * Afterwards it checks the binding (one store tracks one CDC source)
    * and the lag (a no-op when already current; refused when the
    * watermark is ahead), persists the net change feed for
    * `(applied, cur]`, and, when the feed is non-empty, runs
    * `scopedDelete` on its keys and `upsert` on its prepped I/U rows,
    * both under batch id `base + cur`. The watermark moves last, in
    * every case. Returns the new applied version.
    */
  private def tick(spark: SparkSession, cdcDir: String, root: String,
      keyCol: String, prep: DataFrame => DataFrame, seqCol: String,
      opCol: String)(bootstrap: (DataFrame, Long) => Unit)(
      scopedDelete: (DataFrame, Long) => Unit,
      upsert: (DataFrame, Long) => Unit): Long = {
    val cur = EventStreams.currentCdcVersion(cdcDir)
    readState(root) match {
      case None =>
        bootstrap(prep(EventStreams.cdcSnapshotAt(spark, cdcDir, cur)), cur)
        writeApplied(root, cur, cdcDir)
        cur
      case Some((applied, src, base)) =>
        require(src == cdcDir,
          s"store $root syncs from $src — refusing a tick against " +
            s"$cdcDir (one store tracks one CDC source; federate the " +
            "sources or build a second store)")
        if (applied == cur) return cur
        require(applied < cur,
          s"applied watermark $applied is ahead of the CDC store's " +
            s"current version $cur — was the CDC store at $cdcDir " +
            "reset or replaced? Resync into a fresh root")
        val changes = EventStreams.cdcChangesBetween(spark, cdcDir,
          applied, cur, Seq(keyCol), seqCol, opCol).persist()
        try {
          if (!changes.isEmpty) {
            scopedDelete(changes.select(col(keyCol)), base + cur)
            val ups = prep(changes.filter(col(opCol) =!= "D").drop(opCol))
            if (!ups.isEmpty) upsert(ups, base + cur)
          }
          writeApplied(root, cur, cdcDir, base)
        } finally changes.unpersist()
        cur
    }
  }

  /** REBIND a synced store to a (new) CDC source at a stated version —
    * the federation leg of the sync lifecycle. After a fleet merges
    * its CDC stores ([[EventStreams.mergeCdcStores]] — the merged
    * clock starts at v0) and its synced serving stores
    * ([[InvertedIndex.mergeStores]] / [[VectorStore.mergeStores]],
    * `compactFirst = true`: the scoped-delete fence requires the fold,
    * and a merged store should start compacted anyway), the merged
    * serving store has no watermark and the old pipelines' watermarks
    * mean nothing against the merged clock. Rebinding writes the
    * watermark `(version, cdcDir)` so ordinary ticks continue from
    * there.
    *
    * CONTRACT (the caller's, not checkable cheaply here): the store's
    * content equals the CDC snapshot at `version` — the federation
    * runbook satisfies it by syncing each source to its final version
    * before quiescing, so the merged index content IS the union of
    * the cut states, which IS the merged store's v0. Refused if the
    * store already has a watermark (a bound store re-binds by resync,
    * not by fiat) or if `version` is not published at `cdcDir`.
    *
    * The rebind also records a BATCH-ID BASE above the merged store's
    * sealed id spaces (the compaction seal covers the renumbered
    * fragments [0, K), and the merged clock restarts at 0 — an
    * unoffset tick's `batchId = version` would collide with the seal
    * and be refused): subsequent ticks admit at `base + version`, and
    * their scoped deletes' `hwm = base + version - 1` reaches every
    * merged fragment, exactly as intended.
    */
  def rebind(cdcDir: String, root: String, version: Long): Unit = {
    require(appliedState(root).isEmpty,
      s"store $root is already bound (${appliedState(root).get}) — " +
        "rebind is for freshly merged stores; a bound store moves " +
        "sources by resyncing into a fresh root")
    val cur = EventStreams.currentCdcVersion(cdcDir)
    require(version >= 0 && version <= cur,
      s"version $version is not published at $cdcDir (current is $cur)")
    val gen = GenStore.currentGen(root)
    val base = math.max(GenStore.compactedHwm(root, gen),
      GenStore.deletesHwm(root, gen)) + 1L
    writeApplied(root, version, cdcDir, base)
  }

  /** TIME-TRAVEL over the synced index: the term-lookup answer AS OF a
    * CDC `version` — "what did serving look like when the log stood at
    * v<N>" — the reproducibility read a training pipeline needs to
    * re-derive exactly the retrieval context an old run saw. The
    * version maps to the admission-batch bound `batchBase + version`
    * ([[InvertedIndex.storeLookupAsOf]]: fragments and delete
    * fragments above the bound are PARTITION-pruned away, so the read
    * costs what the store cost then). The window reaches back to the
    * last compaction fold — the fold collapses per-version attribution
    * (that is its point: bounded read amplification), so a bound below
    * the sealed high-water mark is refused with the retention-style
    * error, exactly like a vacuumed CDC version. Compaction cadence IS
    * the time-travel-window dial, the same trade every parts-merging
    * store exposes.
    */
  def lookupIndexAsOf(spark: SparkSession, root: String,
      terms: Seq[String], version: Long): DataFrame = {
    val (applied, _, base) = readState(root).getOrElse(
      throw new IllegalArgumentException(
        s"store $root is not a synced store (no _CDC_SYNC watermark)"))
    require(version >= 0 && version <= applied,
      s"version $version is not applied at $root (watermark is $applied)")
    val bound = base + version
    val gen = GenStore.currentGen(root)
    val hwm = GenStore.compactedHwm(root, gen)
    require(hwm < 0 || bound >= hwm,
      s"version $version has been folded away (the gen=$gen compaction " +
        s"sealed batches <= $hwm into one fragment): as-of reads reach " +
        "back to the last fold — compaction cadence is the time-travel " +
        "window dial")
    InvertedIndex.storeLookupAsOf(spark,
      InvertedIndex.genDir(root, gen), terms, bound)
  }

  /** The SYNC DASHBOARD — the q174/q181 maintenance-status discipline
    * applied to the corpus-tracking pair: one row per synced store
    * with its binding, version lag, fragment growth and pending-delete
    * pressure, built from DRIVER-SIDE file reads and parquet FOOTER
    * counts only ([[GenStore.footerRowCount]]) — ZERO
    * Spark jobs over store data, so a scheduler can afford the check
    * every tick. Columns: store root, bound cdc dir, applied/current
    * versions, `lag_versions` (how far serving trails the log),
    * `batch_base` (0 unless federation rebound the store), fragment
    * count of the current generation (the compaction dial's input) and
    * pending delete-marker rows (the mask the next fold clears).
    * Store family is detected from the generation layout (postings =
    * index, coded = vectors).
    */
  def syncStatus(spark: SparkSession,
      pairs: Seq[(String, String)]): DataFrame = {
    val rows = pairs.map { case (cdcDir, root) =>
      val (applied, base) = readState(root) match {
        case Some((v, src, b)) =>
          require(src == cdcDir,
            s"store $root is bound to $src, not $cdcDir")
          (v, b)
        case None => (-1L, 0L)
      }
      val cur = EventStreams.currentCdcVersion(cdcDir)
      val gen = GenStore.currentGen(root)
      val gdir = GenStore.genDir(root, gen)
      val family =
        if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(gdir, "postings"))) "index"
        else "vectors"
      val dataDir =
        if (family == "index") s"$gdir/postings" else s"$gdir/coded"
      val frags = GenStore.listBatchIds(spark, dataDir).size.toLong
      val delDir = s"$gdir/deletes"
      val pending =
        if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(delDir))) 0L
        else GenStore.footerRowCount(spark, Seq(delDir))
      (root.split('/').last, family, applied, cur, cur - applied,
        base, gen, frags, pending)
    }
    import spark.implicits._
    rows.toDF("store", "family", "applied_version", "current_version",
      "lag_versions", "batch_base", "generation", "fragments",
      "pending_delete_rows")
  }

  /** The WHOLE corpus-tracking pipeline as ONE streaming sink: each
    * micro-batch of changes (payload + op rows) is PUBLISHED to the CDC
    * store's delta log ([[EventStreams.publishCdcBatch]] — O(batch)
    * write, policy-driven checkpoints), then a sync TICK advances the
    * serving index to the new version, then the index's own compaction
    * policy folds when its dials say so — publish, sync, maintain,
    * serialized per micro-batch, which IS the scoped-delete
    * single-writer contract (foreachBatch runs batches one at a time).
    *
    * Exactly-once composition: a replayed micro-batch re-publishes as
    * a NEW version whose changes are all stale (the seq guard), so the
    * tick's feed nets empty and the index is untouched; a crash
    * between publish and tick just widens the next tick's window. Call
    * [[EventStreams.initCdcState]] once before starting; the first
    * tick bootstraps the index from that snapshot.
    */
  def cdcIngestSyncing(changes: DataFrame, stateDir: String,
      indexRoot: String, keyCol: String, toksCol: String,
      bucketSize: Long, prep: DataFrame => DataFrame,
      checkpointDir: String,
      seqCol: String = "seq", opCol: String = "op",
      maxDeltas: Int = 8, maxDeltaFraction: Double = 0.5,
      maxFragments: Int = GenStore.MaxFragments,
      maxPendingFraction: Double = GenStore.MaxPendingFraction)
      : org.apache.spark.sql.streaming.StreamingQuery =
    EventStreams.sink(changes, checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      EventStreams.publishCdcBatch(s, stateDir, batch, Seq(keyCol),
        seqCol, opCol, maxDeltas, maxDeltaFraction)
      syncIndexFromCdc(s, stateDir, indexRoot, keyCol, toksCol,
        bucketSize, prep, seqCol, opCol)
      InvertedIndex.compactIfNeeded(s, indexRoot, maxFragments,
        maxPendingFraction)
    }

  /** One sync TICK for the CODED VECTOR store — [[syncIndexFromCdc]]'s
    * twin for embeddings: the bootstrap tick FITS the IVF-PQ artifact
    * on the initial snapshot (the one fit; later ticks encode against
    * it — geometry refresh is the drift policy's job,
    * [[VectorStore.needsRefit]], orthogonal to sync), and each
    * incremental tick applies the net change feed as scoped deletes +
    * re-encoded admissions ([[VectorStore.admitReplace]]'s shape).
    * `prep` maps change-feed payload rows to (`keyCol`, `vecCol`)
    * embedding rows. Same watermark-last, nested-window crash
    * discipline as the index twin. Returns the new applied version.
    */
  def syncVectorsFromCdc(spark: SparkSession, cdcDir: String, root: String,
      keyCol: String, vecCol: String, prep: DataFrame => DataFrame,
      nlist: Int, kmeansIters: Int, m: Int, kcode: Int, pqIters: Int,
      nassign: Int = 2,
      seqCol: String = "seq", opCol: String = "op"): Long =
    tick(spark, cdcDir, root, keyCol, prep, seqCol, opCol) { (vecs, cur) =>
      require(!vecs.isEmpty,
        "vector bootstrap needs a non-empty snapshot: the tick fits " +
          "the IVF-PQ artifact on it (an empty corpus has no geometry)")
      val (cents, books) = Similarity.fitIvfPq(vecs, keyCol, vecCol,
        nlist, kmeansIters, m, kcode, pqIters)
      VectorStore.init(spark, root, cents, books)
      VectorStore.admit(spark, root, vecs, keyCol, vecCol,
        batchId = cur, nassign = nassign)
    }((keys, id) =>
      VectorStore.admitScopedDeletes(spark, root, keys, keyCol, batchId = id),
    (ups, id) => VectorStore.admit(spark, root, ups, keyCol, vecCol,
      batchId = id, nassign = nassign))
}
