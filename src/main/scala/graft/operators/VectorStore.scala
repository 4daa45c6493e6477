package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Generation-versioned coded-vector store: the REFIT ACTUATOR that
  * closes the incremental-ANN lifecycle started by the admission store
  * ([[Similarity.appendCodedBatch]] / [[Similarity.searchCodedStore]])
  * and its drift signal ([[Similarity.codedStoreDriftStats]]).
  *
  * The problem it solves: a coded store grows batch-at-a-time against a
  * FROZEN index. When admitted data drifts off the fitted
  * centroid/codebook geometry, the drift stats say so — but until this
  * object existed, "rebuild by hand" was the only migration story. The
  * actuator turns the trigger into a safe swap: fit a new index
  * generation on the store's own vectors, re-encode every batch into a
  * `gen=N+1` directory (one narrow pass per batch — the admission
  * encode reused), and atomically advance the [[GenStore]] `_CURRENT`
  * pointer, the same reader-isolation discipline as every store of the
  * family.
  *
  * Layout under one root:
  * {{{
  *   root/_CURRENT                  # current generation number (text)
  *   root/gen=N/index/{centroids,codebooks}
  *   root/gen=N/coded/batch_id=K/   # the admission store of that gen
  *   root/gen=N/coded_stats/batch_id=K/
  * }}}
  *
  * Correctness/retry contract (gated by catalog query q128 + spec):
  *  - readers of generation N are byte-unaffected by a refit until the
  *    pointer moves (the refit only ever writes `gen=N+1` paths);
  *  - post-refit store search equals an inline from-scratch encode+
  *    search of the same corpus under the new generation's index, row
  *    for row — migration is a pure re-encode, it loses nothing;
  *  - refit is compare-and-swap on the generation it was planned
  *    against: a retry after success (or a racing second refit) sees
  *    `currentGen != expectedGen` and no-ops; a retry after a crash
  *    redoes idempotent per-path overwrites and then moves the pointer.
  *
  * 100 TB posture: the fit is the usual driver-action index build
  * (narrow Lloyd passes, nlist x dim shuffles — never the corpus);
  * migration reads each batch once, narrowly, and never joins batches;
  * the pointer move is O(1). A migration of that size is not atomic in
  * practice, which is what [[searchTransitional]] is for: serve queries
  * as the exact top-k merge of migrated batches (new index) and
  * not-yet-migrated batches (old index) — exact because every search
  * re-ranks on true cosine, so scores are comparable across
  * generations ([[Similarity.mergeTopK]]).
  *
  * The reference engine is write-once with no index surface at all
  * (/root/reference/README.md:127-138); this is north-star extension
  * territory shaped by the published IVF/PQ lineage (Jegou et al., PAMI
  * 2011) and ordinary snapshot-isolation storage practice.
  */
object VectorStore extends GenStore.PendingDeleteStore {

  private def indexDir(root: String, gen: Long) = genDir(root, gen) + "/index"
  /** The admission-store directory of one generation — the `path` that
    * [[Similarity.appendCodedBatch]]/[[Similarity.searchCodedStore]]
    * operate on (stats land beside it at `coded_stats`).
    */
  def codedDir(root: String, gen: Long): String = genDir(root, gen) + "/coded"

  /** The vector store's generation layout: coded and coded-stats
    * fragments share each batch id; the data rows are the admitted
    * vectors, summed from the KB stats fragments (the [[needsRefit]]
    * read) — the one count of the policy that is a Spark read. Delete
    * markers for never-admitted ids inflate the pending side, which is
    * acceptable for a trigger: it fires early, never late.
    */
  override private[graft] val layout = GenStore.Layout(Seq("coded", "coded_stats"),
    (spark, dir) => Tables.parquet(spark, s"$dir/coded_stats")
      .agg(coalesce(sum(col("n_vectors")), lit(0L))).head().getLong(0))

  /** Create the store: persist the generation-1 index and point
    * `_CURRENT` at it. Idempotent (overwrite + pointer rewrite).
    */
  def init(spark: SparkSession, root: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Unit = {
    Similarity.saveIvfPqIndex(spark, cents, books, indexDir(root, 1L))
    GenStore.init(root)
  }

  /** Load one generation's index artifact. */
  def loadGenIndex(spark: SparkSession, root: String,
      gen: Long): (Array[Array[Double]], Array[Array[Array[Double]]]) =
    Similarity.loadIvfPqIndex(spark, indexDir(root, gen))

  /** Admit one crawl batch under the CURRENT generation: load the (tiny)
    * index artifact, encode the batch against it in one narrow pass,
    * land it in `gen=cur/coded/batch_id=N` — exactly
    * [[Similarity.appendCodedBatch]], routed through the pointer and the
    * family's fences ([[GenStore.admit]]). If a refit published a new
    * generation during the write, the batch landed in a SUPERSEDED
    * generation the migration may not have seen, so admit fails loudly
    * (the caller re-admits under the new generation; the orphan
    * directory is dead weight for the vacuum, never served). Together
    * with [[refitFinish]]'s post-publish straggler sweep, an admission
    * racing a refit either lands in both generations or throws — never
    * silently vanishes.
    */
  def admit(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, batchId: Long, nassign: Int = 2): Unit =
    admitAt(spark, root, batch, idCol, vecCol, batchId, currentGen(root), nassign)

  /** [[admit]] with the pointer read the caller already took — the
    * seam that makes the race fence testable: a real race interleaves
    * (read pointer, write, refit publishes, re-check) inside one admit
    * call; a test hands in a stale `asOfGen` to stand for the first
    * step having happened before the refit.
    */
  private[graft] def admitAt(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, batchId: Long, asOfGen: Long,
      nassign: Int = 2): Unit =
    GenStore.admit(root, asOfGen, batchId, racedWith = "a refit",
        sealedWhy = "replays of compacted batches are refused (a per-batch " +
          "overwrite would replace the MERGED fragment)") { dir =>
      val (cents, books) = loadGenIndex(spark, root, asOfGen)
      Similarity.appendCodedBatch(batch, idCol, vecCol, cents, books,
        batchId, s"$dir/coded", nassign)
    }

  // -------------------------------------------------------------------------
  // DELETION (takedown): pending delete sets as `gen=N/deletes/
  // batch_id=K` fragments of vec ids — the [[InvertedIndex]] delete
  // discipline on the coded store. Reads anti-join the set (a narrow
  // filter above the store scan — cell pruning still applies);
  // [[compactGen]] removes the rows physically; a refit CARRIES the
  // pending set into the new generation ([[refitFinish]]), so a
  // takedown admitted mid-migration is never lost. Replayed delete
  // batches are no-ops (overwrite + anti-join of absent ids); so are
  // deletes of never-admitted ids.
  //
  // AGE-OUT RETENTION rides THIS surface, deliberately NOT the
  // fragment-drop `expireBatches` the index/signature stores have
  // ([[InvertedIndex.expireBatches]]): coded rows carry id attribution,
  // so aging out a crawl is `admitDeletes` of its ids (the caller knows
  // which ids aged — the same frame it admitted), and the stats
  // baseline fragment — [[needsRefit]]'s fit-time drift reference,
  // `_stats/batch_id=<min>` — stays intact, which fragment dropping
  // would destroy (the drift policy would silently re-baseline to the
  // oldest survivor).
  // -------------------------------------------------------------------------

  private def deletesDir(root: String, gen: Long) = genDir(root, gen) + "/deletes"

  /** TAKEDOWN: admit one batch of vec ids to delete under the CURRENT
    * generation, with the [[admit]] pointer-re-read fence. No
    * compaction seal on delete ids — delete replay is a semantic no-op
    * — but ids a federation merge renumbered are fenced
    * ([[GenStore.deletesHwm]]): overwriting one would clobber a
    * carried builder takedown. `hwm` scopes the mask to admission
    * batches at or below it (the [[InvertedIndex.appendDeleteBatch]]
    * ordered-delete rule; default: unbounded — plain takedown).
    */
  def admitDeletes(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String, batchId: Long, hwm: Long = Long.MaxValue): Unit =
    GenStore.admit(root, currentGen(root), batchId, deletes = true,
        racedWith = "a refit/compaction") { dir =>
      ids.select(col(idCol).cast("long").as("cid")).distinct()
        .withColumn("hwm", lit(hwm))
        .write.mode("overwrite").parquet(s"$dir/deletes/batch_id=$batchId")
    }

  /** UPSERT one batch of vectors: a SCOPED delete at `hwm = batchId -
    * 1` (masks every copy admitted so far; nothing, harmlessly, for a
    * new id) followed by admission of the re-embedded versions at
    * `batchId` — [[InvertedIndex.admitReplaceBatch]]'s shape on the
    * coded store. The old encoding is masked from every read (search,
    * transitional search, the refit fit corpus) and removed physically
    * at the next compaction. Single-writer contract as the index twin:
    * upsert ticks serialize against compaction — a scoped delete
    * straggling into a compaction window is refused by the sweep.
    */
  def admitReplace(spark: SparkSession, root: String, batch: DataFrame,
      idCol: String, vecCol: String, batchId: Long, nassign: Int = 2): Unit = {
    admitDeletes(spark, root, batch.select(col(idCol)), idCol, batchId,
      hwm = batchId - 1)
    admit(spark, root, batch, idCol, vecCol, batchId, nassign)
  }

  /** SCOPED takedown: delete every copy of `ids` admitted at or below
    * `batchId - 1`, leaving later re-admissions of the same ids
    * unmasked — the CDC delete-then-reinsert lifecycle
    * ([[InvertedIndex.admitScopedDeleteBatch]]'s twin).
    */
  def admitScopedDeletes(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit =
    admitDeletes(spark, root, ids, idCol, batchId, hwm = batchId - 1)

  /** The pending delete set of one generation as `(cid, del_hwm)` —
    * one row per dead/replaced vector with the highest mask bound
    * across its delete rows — or None when nothing was ever deleted
    * (the common case keeps every read plan untouched). Fragments
    * written before the hwm column existed read as unbounded.
    */
  private def pendingDeletes(spark: SparkSession, root: String,
      gen: Long): Option[DataFrame] =
    pendingDeletesUnder(spark, genDir(root, gen), GenStore.MergeSchema)
      .map(GenStore.deleteMask(_, "cid"))

  /** Excludes a generation's pending deletes from a coded frame — the
    * one anti-join every delete-aware read shares. Applied BEFORE the
    * top-k cut (a post-filter would let deleted rows crowd real ones
    * out of the shortlist). The delete side is BROADCAST explicitly:
    * it is O(dead set) by construction (delete fragments hold bare
    * cids, compaction folds them away), so a planner that estimated it
    * corpus-sized would otherwise shuffle the entire coded scan into a
    * sort-merge anti-join — the 2.85× pending-window serving tax the
    * r12 takedown-economics probe measured. Broadcast keeps the coded
    * side's partitioning and its In(cell) pushed pruning intact: the
    * anti-join is a streamed hash-probe above the pruned scan.
    */
  private def minusDeleted(spark: SparkSession, root: String, gen: Long,
      coded: DataFrame): DataFrame =
    pendingDeletes(spark, root, gen)
      .map(d => GenStore.maskLive(coded, broadcast(d), "cid"))
      .getOrElse(coded)

  /** The current generation's per-batch drift dashboard
    * ([[Similarity.codedStoreDriftStats]]): (batch_id, n_vectors,
    * mean_err, max_err) ordered by batch. Counts are ADMISSION-time
    * (pending deletes don't rewrite history rows — the dashboard reads
    * fit-time quantization drift, not serving cardinality).
    */
  def driftStats(spark: SparkSession, root: String): DataFrame =
    Similarity.codedStoreDriftStats(spark, codedDir(root, currentGen(root)))

  /** The refit-policy predicate over the drift dashboard: true when the
    * latest admitted batch's mean quantization error exceeds
    * `tolerance` times the fit-time baseline (the lowest batch id,
    * which the generation's index was fit around). One scan of KBs.
    */
  def needsRefit(spark: SparkSession, root: String,
      tolerance: Double = 1.5): Boolean = {
    val rows = driftStats(spark, root).collect()
    if (rows.length < 2) false
    else {
      def err(r: org.apache.spark.sql.Row): Option[Double] =
        if (r.isNullAt(r.fieldIndex("mean_err"))) None
        else Some(r.getAs[Double]("mean_err"))
      (err(rows.head), err(rows.last)) match {
        case (Some(base), Some(latest)) => base > 0 && latest > tolerance * base
        case _ => false
      }
    }
  }

  /** One row per vector from a coded frame (which carries `nassign`
    * replica rows per vector): keep the replica whose cell is the
    * vector's NEAREST cell under the generation's centroids. A narrow
    * codegen'd filter — no distinct(), no shuffle of the store. Exact
    * because the encode emitted cells nearest-first from the same
    * deterministic argmax ([[Similarity.bestCells]] ties resolve to the
    * lowest cell id), so exactly one replica row passes.
    */
  private def primaryRows(coded: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    coded.filter(col("cell") === element_at(
      Similarity.bestCells(VectorFunctions.unit(col("cv")), cents, 1), 1))

  /** Batch ids already present under a generation's coded dir — for
    * generation N+1 mid-migration, the migrated prefix.
    */
  def migratedBatchIds(spark: SparkSession, root: String, gen: Long): Seq[Long] =
    GenStore.listBatchIds(spark, codedDir(root, gen))

  /** Phase 1 of a refit: fit generation `expectedGen + 1`'s index on the
    * store's own vectors (one narrow primary-replica filter recovers one
    * row per vector — the store is self-contained for migration, no
    * raw-source rescan) and persist it. Does NOT move the pointer.
    * Returns the new generation number, or the current generation
    * unchanged if `expectedGen` is stale (compare-and-swap no-op).
    */
  def refitStart(spark: SparkSession, root: String, expectedGen: Long,
      nlist: Int, kmeansIters: Int,
      m: Int, kcode: Int, pqIters: Int): Long = {
    val cur = currentGen(root)
    if (cur != expectedGen) return cur
    val (oldCents, _) = loadGenIndex(spark, root, cur)
    // pending takedowns are excluded from the fit corpus: a new
    // geometry must not be shaped around vectors the store will never
    // serve again
    val corpus = minusDeleted(spark, root, cur, primaryRows(
      Tables.parquet(spark, codedDir(root, cur))
        .select("cid", "cv", "cell", "codes", "batch_id"),
      oldCents))
    val (nc, nb) = Similarity.fitIvfPq(corpus, "cid", "cv",
      nlist, kmeansIters, m, kcode, pqIters)
    Similarity.saveIvfPqIndex(spark, nc, nb, indexDir(root, cur + 1))
    // the compaction seal survives a refit: migrated fragments keep
    // their (merged) batch ids, so a replay of a pre-compaction id
    // must stay refused in the new generation too
    val sealedHwm = compactedHwm(root, cur)
    if (sealedHwm >= 0) GenStore.seal(root, cur + 1, sealedHwm)
    cur + 1
  }

  /** Phase 2, once per batch: re-encode one admitted batch from its own
    * coded rows (primary replicas carry the original vectors) against
    * the new generation's index — one narrow pass, landed with the same
    * per-batch idempotent overwrite as admission. History batches other
    * than `batchId` are untouched.
    */
  def migrateBatch(spark: SparkSession, root: String,
      fromGen: Long, toGen: Long, batchId: Long, nassign: Int = 2): Unit = {
    val (oldCents, _) = loadGenIndex(spark, root, fromGen)
    val (nc, nb) = loadGenIndex(spark, root, toGen)
    val batch = Tables.parquet(spark, s"${codedDir(root, fromGen)}/batch_id=$batchId")
    Similarity.appendCodedBatch(primaryRows(batch, oldCents), "cid", "cv",
      nc, nb, batchId, codedDir(root, toGen), nassign)
  }

  /** Phase 3: atomically advance `_CURRENT`. Refuses to publish a
    * generation missing any of the previous generation's batches — the
    * guard that a crashed partial migration cannot be published by a
    * buggy retry that skips phase 2, AND the fence that catches a
    * batch admitted to the source generation after the refit's phase-2
    * batch listing (the re-list here runs at publish time, so such a
    * straggler fails the subset check loudly instead of silently
    * missing from the new generation). After the pointer moves, the
    * source generation is re-listed ONCE more and any batch admitted
    * in the list→publish window is migrated into the published
    * generation (idempotent, converges) — closing the last
    * interleaving; an admit that lands later still re-checks the
    * pointer itself and throws ([[admit]]).
    */
  def refitFinish(spark: SparkSession, root: String, toGen: Long,
      nassign: Int = 2): Unit = {
    val prev = GenStore.listBatchIds(spark, codedDir(root, toGen - 1)).toSet
    val got = GenStore.listBatchIds(spark, codedDir(root, toGen)).toSet
    require(prev.subsetOf(got),
      s"refusing to publish gen=$toGen: batches ${(prev -- got).toSeq.sorted.mkString(",")} not migrated")
    // a refit migrates every admitted row, deleted or not (migration is
    // a pure re-encode); the pending delete set rides along as PENDING
    // fragments, copied before AND after the pointer move so a
    // takedown admitted in the publish window is never lost — the next
    // compaction applies them physically
    def sweepDeletes(): Unit =
      GenStore.listBatchIds(spark, deletesDir(root, toGen - 1)).foreach { i =>
        Tables.parquet(spark, s"${deletesDir(root, toGen - 1)}/batch_id=$i")
          .write.mode("overwrite").parquet(s"${deletesDir(root, toGen)}/batch_id=$i")
      }
    sweepDeletes()
    GenStore.writePointer(root, toGen)
    sweepDeletes()
    val stragglers = GenStore.listBatchIds(spark, codedDir(root, toGen - 1)).toSet -- got
    stragglers.toSeq.sorted.foreach(
      migrateBatch(spark, root, toGen - 1, toGen, _, nassign))
  }

  /** The whole actuator: CAS-guarded fit + per-batch migration + atomic
    * pointer move. Retry semantics: after success the CAS guard no-ops;
    * after a crash every step is an idempotent per-path overwrite, so
    * rerunning converges to the same published generation.
    */
  def refit(spark: SparkSession, root: String, expectedGen: Long,
      nlist: Int, kmeansIters: Int, m: Int, kcode: Int, pqIters: Int,
      nassign: Int = 2): Long = {
    val cur = currentGen(root)
    if (cur != expectedGen) return cur
    val ng = refitStart(spark, root, cur, nlist, kmeansIters, m, kcode, pqIters)
    GenStore.listBatchIds(spark, codedDir(root, cur))
      .foreach(migrateBatch(spark, root, cur, ng, _, nassign))
    refitFinish(spark, root, ng, nassign)
    ng
  }

  /** COMPACT the current generation — the layout-only sibling of
    * [[refit]], closing the last fragmenting store in the admission
    * family (the [[GenStore]] q143/q148/q149 discipline applied to
    * coded vectors). At crawl cadence `gen=N/coded` holds one
    * `batch_id=K` directory per admitted batch, forever: every search
    * lists and opens all of them, and each is small. Compaction rewrites
    * them as ONE fragment under `gen=N+1` with the SAME index artifact —
    * the encoding is untouched, so serving is row-identical by
    * construction — and globally cell-clusters the rows (range-partition
    * by cell + within-file sort), upgrading the search path's In(cell)
    * pushdown from per-row-group skipping inside every batch file to
    * whole-FILE skipping across the store.
    *
    * Drift stats survive with their semantics intact: the fit-time
    * baseline row (lowest batch id — what [[needsRefit]] anchors on) is
    * copied bit-for-bit, and the later batches' rows merge into one
    * exactly-weighted aggregate (counts sum, means weight by count, max
    * of max), so the head-vs-last drift comparison still reads
    * fit-baseline vs latest-admitted.
    *
    * Race discipline as [[refitFinish]]: after the merged fragment
    * lands, the source generation is re-listed and any batch admitted
    * since the first listing is copied through unmerged (its own id,
    * above the seal — still replayable); the `_COMPACTED` seal is
    * written BEFORE the pointer moves so a reader that sees the
    * generation also sees its retry fence; an admit that raced the
    * publish re-checks the pointer itself and throws ([[admit]]).
    * CAS on `expectedGen`: a retry after success no-ops. At 100 TB this
    * is one shuffle of the coded rows (narrow: id, vector, cell, codes)
    * and KBs of stats — and it is the operation that keeps a
    * years-running admission store's file count O(1) instead of
    * O(batches).
    */
  def compactGen(spark: SparkSession, root: String, expectedGen: Long): Long =
    compactGenHooked(spark, root, expectedGen, () => ())

  /** The family's compaction body ([[GenStore.PendingDeleteStore]]):
    * [[compactGen]]. Layout-only, so the policy composes freely with the
    * refit policy ([[needsRefit]]) — drift decides WHEN the geometry
    * changes, fragmentation and pending takedowns when the files do.
    */
  private[graft] def compactStore(spark: SparkSession, root: String,
      expectedGen: Long): Long =
    compactGen(spark, root, expectedGen)

  /** [[compactGen]] with a hook run after the fragment and delete
    * listings — the family's race-test seam ([[KeySetStore
    * .compactStoreHooked]]): work admitted inside the window must ride
    * through the sweep with the LISTED deletes applied, never vanish
    * and never serve rows a listed takedown covered.
    */
  private[graft] def compactGenHooked(spark: SparkSession, root: String,
      expectedGen: Long, midHook: () => Unit): Long =
    GenStore.publish(spark, root, expectedGen, layout.table,
        midHook = midHook) { l =>
      // same geometry, new generation directory: readers of the source
      // generation are byte-unaffected until the pointer moves
      val (cents, books) = loadGenIndex(spark, root, expectedGen)
      Similarity.saveIvfPqIndex(spark, cents, books, s"${l.dst}/index")
      val src = s"${l.src}/coded"
      // pending takedowns listed alongside the data fragments are applied
      // PHYSICALLY everywhere this compaction writes data rows: the
      // merged fragment AND swept straggler copies (a listed delete can
      // target rows of a data batch admitted after the listing; reads
      // applied the pending set to every fragment of the generation, and
      // a listed delete is purged here, not carried, so skipping the
      // straggler would lose the takedown)
      val del = if (l.delIds.isEmpty) None
        else Some(broadcast( // O(dead ids) — see minusDeleted
          GenStore.deleteMask(
            Tables.parquet(spark, GenStore.MergeSchema, l.delPaths: _*), "cid")))
      // compaction is layout-only, so it carries whatever code tiers the
      // store was admitted with — a pre-SQ8 store (no sq column) compacts
      // fine and stays pq-only; adding the tier is refit's job, not this
      def mergeInto(dstId: Long, srcIds: Seq[Long]): Unit = {
        // basePath keeps the batch_id partition column on explicit-path
        // reads — the scoped-delete mask is a per-(vector, batch)
        // predicate: a replaced vector's live re-encode (admitted above
        // its mask bound) folds through, its old copies die
        val frags = Tables.parquet(spark, Map("basePath" -> src),
          l.paths(src, srcIds): _*)
        del.fold(frags)(GenStore.maskLive(frags, _, "cid"))
          .select(("cid" +: "cv" +: "cell" +: "codes" +:
            (if (frags.columns.contains("sq")) Seq("sq") else Nil)).map(col): _*)
          .repartitionByRange(col("cell"), col("cid"))
          .sortWithinPartitions(col("cell"))
          .write.mode("overwrite")
          .parquet(s"${l.dst}/coded/batch_id=$dstId")
      }
      mergeInto(l.hwm, l.ids)
      // stats: baseline copied bit-for-bit, the rest exactly-weighted
      val base = l.ids.min
      l.carry(spark, "coded_stats")(base)
      if (l.ids.size > 1)
        Tables.parquet(spark, s"${src}_stats").filter(col("batch_id") > base)
          .agg(sum(col("n_vectors")).as("n_vectors"),
            (sum(col("mean_err") * col("n_vectors")) / sum(col("n_vectors")))
              .as("mean_err"),
            max(col("max_err")).as("max_err"))
          .write.mode("overwrite").parquet(s"${l.dst}/coded_stats/batch_id=${l.hwm}")
      // a straggler rides through unmerged, its own id above the seal,
      // with the LISTED deletes applied (see above)
      i => { mergeInto(i, Seq(i)); l.carry(spark, "coded_stats")(i) }
    }

  /** FEDERATION MERGE — the vector half of the scale-out ingestion
    * pattern ([[InvertedIndex.mergeStores]]): FIT ONCE, ENCODE IN K
    * INDEPENDENT PARTITIONS, MERGE. Every builder was initialized with
    * the same index artifact and ran the ordinary admit lifecycle on
    * its own partition of the corpus; the merge copies coded + stats
    * fragments under fresh sequential ids — byte-level and parallel
    * ([[GenStore.copyFragments]]): no decode, no re-encode, no Spark
    * job — carries pending delete fragments, seals the occupied data
    * ids AND the renumbered delete-id space ([[GenStore.deletesHwm]]),
    * and is crash-retryable ([[GenStore.mergeOpen]]). Artifact equality is
    * CHECKED, not trusted (a KB comparison): coded rows are
    * meaningless across artifacts — different centroids/books need a
    * refit, not a merge. Caller contract: disjoint vec_id spaces;
    * fresh `dstRoot`. Returns the published generation (1).
    *
    * `compactFirst` folds each source (one coded fragment, pending
    * deletes applied) before the byte copy — the compact-before-quiesce
    * economics ([[InvertedIndex.mergeStores]]): the copy moves
    * near-minimal bytes and the merged store starts compacted. Legal on
    * quiesced sources (the quiesce fence guards admission fronts only).
    */
  def mergeStores(spark: SparkSession, srcRoots: Seq[String],
      dstRoot: String, compactFirst: Boolean = false): Long = {
    val arts = srcRoots.map(r => loadGenIndex(spark, r, currentGen(r)))
    val (c0, b0) = arts.head
    require(arts.tail.forall { case (c, b) =>
      c.length == c0.length &&
        c.zip(c0).forall { case (x, y) => x.sameElements(y) } &&
        b.length == b0.length &&
        b.zip(b0).forall { case (x, y) =>
          x.length == y.length &&
            x.zip(y).forall { case (p, q) => p.sameElements(q) } }
    }, "mergeStores requires every source to carry the SAME index " +
      "artifact — coded rows are not comparable across artifacts; " +
      "refit, don't merge")
    GenStore.mergeStores(spark, srcRoots, dstRoot, layout.tables,
      if (compactFirst) Some(compactGen(spark, _, _)) else None,
      scopedFence = true, prepare = () => init(spark, dstRoot, c0, b0))
  }

  /** The admitted corpus reconstructed from the CURRENT generation's
    * own rows — one row per vector (the primary-replica filter
    * [[refitStart]]'s fit uses): (idCol, vecCol) with the original
    * vectors. The store is self-contained: exact-search tiers, refits,
    * and audits never need the raw source again. One narrow codegen'd
    * filter over the store scan, no shuffle.
    */
  def vectors(spark: SparkSession, root: String,
      idCol: String, vecCol: String): DataFrame = {
    val gen = currentGen(root)
    val (cents, _) = loadGenIndex(spark, root, gen)
    minusDeleted(spark, root, gen, primaryRows(
      Tables.parquet(spark, codedDir(root, gen))
        .select("cid", "cv", "cell", "codes", "batch_id"),
      cents))
      .select(col("cid").as(idCol), col("cv").as(vecCol))
  }

  /** Search one explicit generation (old-reader path during and after a
    * refit — generation directories are immutable once written).
    */
  def searchGen(spark: SparkSession, root: String, gen: Long,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame = {
    val (cents, books) = loadGenIndex(spark, root, gen)
    // pending takedowns are excluded BEFORE the shortlist/top-k cut —
    // a narrow anti-join above the store scan (cell pruning intact)
    Similarity.searchCodedFrame(
      minusDeleted(spark, root, gen, Tables.parquet(spark, codedDir(root, gen))),
      queries, idCol, vecCol, k, cents, books, nprobe, shortlistFactor,
      broadcastQueries, tier)
  }

  /** Search whatever `_CURRENT` points at. `tier` is the read-time
    * resolution dial ([[Similarity.searchCodedFrame]]): "pq" for
    * candidate generation, "sq" for within-cluster resolution —
    * admission stores both, so no re-encode is ever needed to switch.
    */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame =
    searchGen(spark, root, currentGen(root), queries, idCol, vecCol, k,
      nprobe, shortlistFactor, broadcastQueries, tier)

  /** FILTERED ANN — the metadata-predicate search every production
    * vector store needs ("nearest English documents", "nearest vectors
    * this tenant may read"): top-k restricted to vectors whose id
    * appears in `allowed` (a frame carrying an `idCol` column — the
    * caller's metadata predicate, evaluated against whatever table
    * holds the metadata). This is a PRE-filter: the coded store
    * LEFT-SEMI joins `allowed` BEFORE scoring/shortlist/top-k, so a
    * disallowed vector can never occupy a result slot or displace an
    * allowed one — unlike the post-filter shortcut (search k' > k, then
    * filter), which under-fills and leaks rank distortion at low
    * selectivity. Scale posture: the semi join is hint-free — a small
    * allowed list broadcasts by stats, a corpus-sized one co-partitions
    * on the id — and the probed-cell In(cell) predicate still pushes
    * through the semi join into the store scan, so cell pruning
    * composes with the filter instead of dying under it. Recall is
    * measured against brute force over the FILTERED corpus; a highly
    * selective filter thins the probed cells' candidate pool, so dial
    * `nprobe` up with selectivity (the q199 gate runs at nprobe 12/16).
    * Pending takedowns are excluded on top, exactly as [[searchGen]].
    */
  def searchWhere(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, allowed: DataFrame,
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame = {
    val gen = currentGen(root)
    val (cents, books) = loadGenIndex(spark, root, gen)
    val ids = allowed.select(col(idCol).as("cid"))
    Similarity.searchCodedFrame(
      minusDeleted(spark, root, gen,
        Tables.parquet(spark, codedDir(root, gen))
          .join(ids, Seq("cid"), "left_semi")),
      queries, idCol, vecCol, k, cents, books, nprobe, shortlistFactor,
      broadcastQueries, tier)
  }

  /** Serve queries MID-MIGRATION with no read downtime: batches already
    * under `newGen` search with the new index, the rest with the old,
    * and the exact top-k merge ([[Similarity.mergeTopK]]) combines them
    * — sound because both sides re-rank on true cosine, so scores are
    * index-independent and comparable. With zero batches migrated this
    * IS the old-generation search; with all batches migrated it IS the
    * new-generation search (both served directly, no merge shuffle).
    * This is what lets a 100 TB refit proceed batch-at-a-time under
    * live traffic, with [[refitFinish]]'s pointer move as the cheap
    * final cutover rather than a downtime window.
    */
  def searchTransitional(spark: SparkSession, root: String,
      oldGen: Long, newGen: Long, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame = {
    val migrated = migratedBatchIds(spark, root, newGen)
    val remaining = GenStore.listBatchIds(spark, codedDir(root, oldGen))
      .filterNot(migrated.toSet)
    // a takedown admitted mid-migration lives in whichever generation
    // its admit landed in; both sides exclude the UNION of the two
    // pending sets (by cid, so it applies to migrated re-encodes too)
    val del = (pendingDeletes(spark, root, oldGen),
        pendingDeletes(spark, root, newGen)) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b)
        .groupBy(col("cid")).agg(max(col("del_hwm")).as("del_hwm")))
      case (a, b) => a.orElse(b)
    }
    def side(gen: Long, ids: Seq[Long]): Option[DataFrame] =
      if (ids.isEmpty) None
      else {
        val (cents, books) = loadGenIndex(spark, root, gen)
        // basePath keeps batch_id for the scoped mask; migrated
        // re-encodes keep their source batch ids, so one mask bound
        // applies identically on both sides of the transition
        val coded0 = Tables.parquet(spark, Map("basePath" -> codedDir(root, gen)),
          ids.map(i => s"${codedDir(root, gen)}/batch_id=$i"): _*)
        val coded = del.map(d => GenStore.maskLive(coded0, broadcast(d), "cid"))
          .getOrElse(coded0)
        Some(Similarity.searchCodedFrame(coded, queries, idCol, vecCol, k,
          cents, books, nprobe, shortlistFactor, broadcastQueries, tier))
      }
    (side(newGen, migrated), side(oldGen, remaining)) match {
      case (Some(n), Some(o)) => Similarity.mergeTopK(n.unionByName(o), k)
      case (Some(n), None) => n
      case (None, Some(o)) => o
      case (None, None) =>
        sys.error(s"searchTransitional: no batches under gen=$oldGen or gen=$newGen of $root")
    }
  }

  /** Published generations still on disk, ascending (at or below the
    * pointer — an unfinished refit's `gen=N+1` is not listed).
    */
  def listGenerations(root: String): Seq[Long] = GenStore.listGenerations(root)

  /** Retention for superseded generations, the vector twin of
    * [[graft.streaming.EventStreams.vacuumCdc]]: drop every published
    * generation older than the newest `keepLast` (the current one is
    * always kept). Each generation holds a full re-encode of every
    * admitted batch, so at 100 TB old generations are the store's
    * dominant residual cost once a refit lands; keeping one or two back
    * preserves a rollback path, and an in-flight transitional window
    * must finish (pointer moved) before its old side becomes eligible.
    * Deleting never touches the pointer or any retained generation;
    * readers of a vacuumed generation fail loudly in [[loadGenIndex]]
    * rather than seeing partial data: the generation directory is
    * atomically renamed to a `gen=<N>.deleted` tombstone before the
    * recursive delete (the CDC vacuum's discipline,
    * [[GenStore.tombstoneDelete]]), so a crash
    * mid-vacuum or a racing reader can never observe a partial
    * generation that still resolves.
    */
  def vacuumGenerations(root: String, keepLast: Int): Seq[Long] =
    GenStore.vacuumExcept(root, keepLast, Set.empty)
}
