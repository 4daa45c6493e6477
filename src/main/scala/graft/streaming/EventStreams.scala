package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.Tables
import graft.operators.GenStore

/** Structured Streaming surface over the events table: windowed
  * aggregation with watermarking, and stateful gap sessionization whose
  * semantics mirror graft.operators.Sessionize (the batch form the oracle
  * verifies).
  *
  * The reference engine is fully batch ("Streaming: none", SURVEY.md §2);
  * this module is the north-star streaming extension, built only on
  * Structured Streaming primitives: event-time windows + watermark for
  * bounded state, flatMapGroupsWithState for custom session state. At
  * scale, state lives in the executor state store (RocksDB-backed on a
  * real cluster) partitioned by the grouping key — the same hash shuffle
  * as the batch groupBy.
  *
  * Every foreachBatch sink here and in [[CdcSync]] runs through one
  * runner ([[sink]]) and, where replays of compacted batches must be
  * refused, one sealed-replay guard ([[unlessSealed]]). The CDC snapshot
  * and label roots are [[graft.operators.GenStore]] versioned roots
  * (`_CURRENT` over `v<N>` directories, tombstone retention).
  */
object EventStreams {

  /** Tumbling-window count/sum per event_type with a watermark bounding
    * state. Batch mirror: Queries q21_events_hourly.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("event_type"), unix_millis(col("window.start")).as("hour_ms"),
        col("cnt"), col("sum_value"))

  /** Stream-stream join: each click joined to the same user's views from
    * the preceding `windowMinutes`. Watermarks on both sides bound the
    * join state store (views older than click-watermark + range are
    * evicted). Works identically on batch DataFrames — the test asserts
    * stream == batch.
    */
  def clickViewJoin(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("v_ts") <= col("c_ts"))
      .select(col("click_id"), col("view_id"), col("c_user").as("user_id"))
  }

  case class Ev(user_id: Long, event_id: Long, ts_ms: Long)
  case class EvT(user_id: Long, event_id: Long, ts_ms: Long, et: java.sql.Timestamp)
  case class SessionState(sessionNo: Long, lastMs: Long, nEvents: Long, startMs: Long)
  case class SessionOut(user_id: Long, session_no: Long, n_events: Long,
      start_ms: Long, end_ms: Long)

  /** Stateful gap sessionization with a REAL event-time timeout: a session
    * row is emitted either when a later event for the same user arrives
    * past the gap, or — for idle users — when the watermark passes
    * `lastMs + gapMs` and the registered EventTimeTimeout fires, so open
    * sessions close without needing another event. Same output contract
    * as Sessionize.sessions (session numbering continues across timeout
    * closes: a small closed-sentinel state per user is retained instead
    * of removed, keeping stream numbering equal to the batch mirror;
    * production deployments that don't need stable numbering can remove
    * state on timeout for strictly watermark-bounded state).
    *
    * `watermarkDelayMs` is how much event-time lateness is tolerated
    * before events are dropped. Per-group buffering is bounded by one
    * micro-batch per key (the within-batch sort), not by session length.
    * In batch execution the watermark/timeout machinery is inert (Spark
    * semantics) and the final open session per user is emitted by the
    * batch mirror Sessionize.sessions instead.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long,
      watermarkDelayMs: Long = 0L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val withEventTime = events
      .withColumn("et", timestamp_millis(col("ts_ms")))
      .withWatermark("et", s"$watermarkDelayMs milliseconds")
      .as[EvT]
    withEventTime.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[EvT], state: GroupState[SessionState]) =>
          // closed-sentinel: lastMs == Long.MinValue, sessionNo = last closed
          val closed = SessionState(0L, Long.MinValue, 0L, 0L)
          if (state.hasTimedOut) {
            val st = state.get
            state.update(closed.copy(sessionNo = st.sessionNo))
            Iterator.single(
              SessionOut(userId, st.sessionNo, st.nEvents, st.startMs, st.lastMs))
          } else {
            val sorted = evs.toArray.sortBy(e => (e.ts_ms, e.event_id))
            var st = state.getOption.getOrElse(closed)
            val out = Seq.newBuilder[SessionOut]
            for (e <- sorted) {
              if (st.lastMs == Long.MinValue) {
                st = SessionState(st.sessionNo + 1, e.ts_ms, 1L, e.ts_ms)
              } else if (e.ts_ms - st.lastMs > gapMs) {
                out += SessionOut(userId, st.sessionNo, st.nEvents, st.startMs, st.lastMs)
                st = SessionState(st.sessionNo + 1, e.ts_ms, 1L, e.ts_ms)
              } else {
                st = st.copy(lastMs = e.ts_ms, nEvents = st.nEvents + 1)
              }
            }
            state.update(st)
            // fire when the watermark passes the gap after the last event;
            // must be strictly above the current watermark (API contract).
            // getCurrentWatermarkMs throws in batch execution, where the
            // timeout is inert anyway — skip registration there.
            try {
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(st.lastMs + gapMs + 1, wm + 1))
            } catch { case _: UnsupportedOperationException => }
            out.result().iterator
          }
      }
  }

  /** Streaming ADMISSION dedup for embedding ingest: drop vectors whose
    * banded sign-LSH signature was already admitted within the watermark
    * window ([[graft.functions.VectorFunctions.signLshBandBuckets]] — the
    * same bucketing [[graft.operators.Dedup.embeddingNearDupPairs]] joins
    * on). Identical vectors hash to identical signatures on every
    * executor (deterministic XXH64-derived hyperplanes, no coordinated
    * state), so exact re-crawls and signature-identical near-exact
    * duplicates are rejected at the door;
    * `dropDuplicatesWithinWatermark` keeps per-signature state only
    * until the watermark passes, so state is bounded by arrival rate x
    * delay, never corpus size. Spark defines
    * dropDuplicatesWithinWatermark only for streaming plans, so in batch
    * execution this operator substitutes the plain dropDuplicates on the
    * same signature key (the batch semantics of "admitted once") — the
    * stream==batch equivalence StreamingSpec asserts.
    *
    * Scoping (the deliberate contract): near-dup PAIR FORMATION
    * (embeddingNearDupPairs / minHashNearDupPairs) stays batch-only.
    * Banded LSH pairing needs a self-join where both sides' buckets stay
    * live indefinitely — unbounded stream-stream join state — so the
    * scale pattern is this admission filter on the stream plus periodic
    * batch near-dup sweeps over the admitted corpus.
    */
  def admitNewEmbeddings(vecs: DataFrame, vecCol: String, tsCol: String,
      delay: String, bands: Int = 4, bitsPerBand: Int = 8): DataFrame = {
    val keyed = vecs.filter(col(vecCol).isNotNull)
      .withColumn("__sig",
        graft.functions.VectorFunctions.signLshBandBuckets(col(vecCol), bands, bitsPerBand))
    val deduped =
      if (vecs.isStreaming)
        keyed.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("__sig")
      else keyed.dropDuplicates("__sig")
    deduped.drop("__sig")
  }

  // ---------------------------------------------------------------------
  // SINKS — every foreachBatch sink below (and
  // [[CdcSync.cdcIngestSyncing]]) runs through ONE runner ([[sink]]);
  // the admission sinks share one sealed-replay guard ([[unlessSealed]]),
  // the six compacting sinks one admit-then-compact step
  // ([[admitThenCompact]]), the three takedown sinks one takedown step
  // ([[takedownStep]]) and the two label sinks one label-version step
  // ([[nextLabels]]).
  // ---------------------------------------------------------------------

  /** The streaming SINK RUNNER: run `step(batch, batchId)` on each
    * micro-batch of `in`, with the stream's progress checkpointed under
    * `checkpointDir`. foreachBatch runs one micro-batch at a time, so a
    * step always sees the previous step's writes.
    */
  private[streaming] def sink(in: DataFrame, checkpointDir: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => step(batch, batchId) }
      .start()

  /** The compacted high-water mark of `root`'s current generation. */
  private def sealedHwm(root: String): Long =
    GenStore.compactedHwm(root, GenStore.currentGen(root))

  /** The SEALED-REPLAY GUARD of the admission sinks: run `admit` only for
    * a store id above the compacted high-water mark of the current
    * generation. A micro-batch replayed after a compaction sealed its id
    * (sink crash after the admission but before the checkpoint commit)
    * is a no-op: its rows are durably inside the compacted fragment (the
    * policy runs only after its admission completed; single-writer
    * discipline excludes concurrent compactors), so skipping is
    * exactness, not loss. An UNSEALED replay overwrites its own
    * fragment as always.
    */
  private[graft] def unlessSealed(root: String, id: Long)(admit: => Unit): Unit =
    if (id > sealedHwm(root)) admit

  /** The ADMIT-THEN-COMPACT step of the compacting admission sinks:
    * admit the micro-batch under its id, then run the store's compaction
    * policy — both skipped for a sealed replay ([[unlessSealed]]).
    */
  private[graft] def admitThenCompact(root: String)(
      admit: (SparkSession, DataFrame, Long) => Unit)(
      compact: SparkSession => Any): (DataFrame, Long) => Unit =
    (batch, batchId) => unlessSealed(root, batchId) {
      admit(batch.sparkSession, batch, batchId)
      compact(batch.sparkSession)
    }

  /** The TAKEDOWN step of the signature, index and vector takedown
    * sinks: land the micro-batch's delete markers under
    * `baseBatchId + batchId`, then, when `compactAt` > 0, run the store's
    * pending-fraction compaction policy. No sealed-replay guard: a
    * replayed delete is a semantic no-op whether or not a compaction
    * already applied it (subtracting an absent key removes nothing).
    */
  private[graft] def takedownStep(baseBatchId: Long, compactAt: Double)(
      delete: (SparkSession, DataFrame, Long) => Unit)(
      compactIfNeeded: (SparkSession, Double) => Any): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      delete(batch.sparkSession, batch, baseBatchId + batchId)
      if (compactAt > 0) compactIfNeeded(batch.sparkSession, compactAt)
    }

  /** The LABEL-VERSION step of [[componentsIngest]] and
    * [[crawlAdmissionIngest]]: read the label snapshot before this
    * micro-batch — capped at `batchId`, so a retry after the pointer
    * moved replays onto the PRE-batch state — derive the next labels from
    * it, write them as `v<batchId+1>`, move the pointer, and drop the
    * in-memory checkpoint (the labels now live in parquet, so a long
    * stream holds zero label RDDs per batch).
    */
  private def nextLabels(spark: SparkSession, labelDir: String,
      batchId: Long)(derive: DataFrame => DataFrame): Unit = {
    val prevV = math.min(currentCdcVersion(labelDir), batchId)
    val next = derive(Tables.parquet(spark, s"$labelDir/v$prevV"))
    next.write.mode("overwrite").parquet(s"$labelDir/v${batchId + 1}")
    GenStore.publishVersion(labelDir, batchId + 1)
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(next)
  }

  /** Continuous CDC ingestion: maintain a versioned snapshot store from
    * a change stream via foreachBatch + [[publishCdcBatch]] — each
    * micro-batch publishes one version under the DELTA-LOG layout
    * (change batch appended as a delta fragment; a policy-driven
    * checkpoint periodically folds the chain — see [[publishCdcBatch]]
    * for the layout and cost model). The `_CURRENT` pointer advances
    * only AFTER the version is fully written — readers never observe a
    * partial version, and a crash between write and pointer-advance
    * just re-publishes the batch, which the stale-seq guard makes a
    * state-preserving no-op (idempotent-by-seq). This is the
    * continuously-updated-corpus shape at 100 TB: each micro-batch
    * WRITES O(change-batch) bytes, never O(state).
    *
    * Call [[initCdcState]] once before starting the query.
    */
  def cdcIngest(
      changes: DataFrame, stateDir: String, keyCols: Seq[String],
      seqCol: String, opCol: String, maxDeltas: Int = 8,
      maxDeltaFraction: Double = 0.5): StreamingQuery =
    sink(changes, s"$stateDir/_checkpoint") { (batch, _) =>
      publishCdcBatch(batch.sparkSession, stateDir, batch, keyCols,
        seqCol, opCol, maxDeltas, maxDeltaFraction)
    }

  /** Continuous dedup-group maintenance: each micro-batch of (src, dst)
    * near-dup pair edges is admitted against the CURRENT label snapshot
    * via [[graft.operators.Components.incrementalComponents]] — prior
    * batches' edges are never rescanned (converged labels replay as a
    * diameter-2 star forest), so per-batch cost tracks the label table
    * plus the batch, not the stream's history. Snapshot versioning is
    * the [[cdcIngest]] discipline: `stateDir/v<N>` + an atomically
    * advanced `_CURRENT` pointer, so readers never see a partial label
    * table. Idempotent under micro-batch retry twice over: the version
    * read as "previous" is capped at this batchId ([[nextLabels]]: a
    * crash between pointer-advance and checkpoint commit re-reads the
    * PRE-batch state), and even re-admitting the same edges onto
    * post-batch labels would be a semantic no-op (CC is idempotent to
    * edge re-union). Call [[initCcState]] once before starting.
    */
  def componentsIngest(
      edges: DataFrame, srcCol: String, dstCol: String,
      stateDir: String): StreamingQuery =
    sink(edges, s"$stateDir/_checkpoint") { (batch, batchId) =>
      nextLabels(batch.sparkSession, stateDir, batchId)(prev =>
        graft.operators.Components
          .incrementalComponents(prev, batch, srcCol, dstCol))
    }

  /** Seed [[componentsIngest]]'s state: `initial` must be an (id, comp)
    * label table — pass an empty frame for a cold start. The label root
    * is a CDC-style versioned root, seeded exactly like [[initCdcState]].
    */
  def initCcState(initial: DataFrame, stateDir: String): Unit =
    initCdcState(initial, stateDir)

  /** The label snapshot readers see: whatever `_CURRENT` points at. */
  def currentCcLabels(spark: SparkSession, stateDir: String): DataFrame =
    Tables.parquet(spark, s"$stateDir/v${currentCdcVersion(stateDir)}")

  /** Continuous sketch-store maintenance: every micro-batch appends its
    * per-key HLL sketches to the stats table via
    * [[graft.operators.SketchStore.appendBatch]], so incremental
    * distinct-count stats stay current DURING ingestion — no rescan of
    * the corpus, ever. HLL union is register-wise max (lossless), so the
    * merged estimate equals the single-pass batch estimate exactly, which
    * is what the spec asserts. Per micro-batch cost: one
    * map-side-combined aggregation over just that batch; the stats table
    * grows by KBs per key per batch regardless of batch row count — the
    * same mergeable-summary shape q83 persists, now fed by a stream.
    */
  def sketchIngest(
      events: DataFrame, keyCols: Seq[String], valueCol: String,
      path: String, checkpointDir: String,
      lgK: Int = graft.operators.SketchStore.DefaultLgK): StreamingQuery =
    sink(events, checkpointDir) { (batch, batchId) =>
      graft.operators.SketchStore.appendBatch(
        batch, keyCols, valueCol, batchId, path, lgK)
    }

  /** Continuous heavy-hitter maintenance, the frequency twin of
    * [[sketchIngest]]: each micro-batch appends its <= m-entry
    * Misra-Gries summary via [[graft.operators.HeavyHitters.appendBatch]];
    * [[graft.operators.HeavyHitters.mergeSummaries]] over the stats table
    * yields the heavy hitters of everything ingested so far, with the
    * additive bound sum(N_i)/(m+1) — hot-key detection that never
    * rescans the stream's history. appendBatch writes each batch to its
    * own `batch_id=N` directory with overwrite, so a micro-batch retry
    * (same batchId) replaces rather than double-counts its summary.
    */
  def heavyHitterIngest(
      events: DataFrame, keyCol: String, m: Int,
      path: String, checkpointDir: String): StreamingQuery =
    sink(events, checkpointDir) { (batch, batchId) =>
      graft.operators.HeavyHitters.appendBatch(batch, keyCol, m, batchId, path)
    }

  /** Continuous ANN-index admission, the vector member of the
    * streaming-maintenance family ([[sketchIngest]] distinct counts,
    * [[heavyHitterIngest]] frequencies, [[componentsIngest]] dedup
    * groups): each micro-batch of embeddings encodes against the FIXED
    * persisted IVF-PQ index (loaded once, closed over — the tiny
    * artifact, not the corpus) and lands in the coded store via
    * [[graft.operators.Similarity.appendCodedBatch]]. Search over the
    * store serves everything ingested so far with no refit and no
    * history rescan; a micro-batch retry (same batchId) overwrites its
    * own directory rather than duplicating rows. Refit-on-drift
    * remains a policy above this layer, exactly as in the batch path.
    */
  def codedBatchIngest(
      vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      path: String, checkpointDir: String,
      nassign: Int = 2): StreamingQuery =
    sink(vectors, checkpointDir) { (batch, batchId) =>
      graft.operators.Similarity.appendCodedBatch(
        batch, idCol, vecCol, cents, books, batchId, path, nassign)
    }

  /** The WHOLE incremental crawl-admission loop as ONE streaming sink —
    * the q127 batch capstone (coded-store vector admission -> store-
    * search edge discovery -> label replay) driven by a micro-batch
    * stream. Per micro-batch: (1) encode the batch against the FIXED
    * index into its `batch_id=N` coded directory
    * ([[graft.operators.Similarity.appendCodedBatch]] — history never
    * rescanned or rewritten); (2) kNN-search the batch against the
    * NOW-GROWN store, so new-vs-history clone edges are found without
    * touching history's raw vectors; (3) admit the thresholded edges
    * into the versioned label snapshot via incremental components +
    * the per-batch singleton union (every admitted vector gets a
    * label, edge-less ones self-labeled — an O(batch) anti join).
    * Labels version exactly like [[componentsIngest]] ([[nextLabels]]:
    * `v<N>` + `_CURRENT`, the "previous" version capped at this batchId
    * so a micro-batch retry replays onto the PRE-batch state) —
    * combined with the coded store's per-batch overwrite, the whole loop
    * is retry-idempotent. The end state is gated equal to the ONE-SHOT
    * closed form (q142 == q124's semantics), whichever order the
    * batches arrive in: cross-batch edges are discovered by whichever
    * side arrives second, and CC is a function of the edge union.
    */
  def crawlAdmissionIngest(
      vectors: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      storeDir: String, labelDir: String, checkpointDir: String,
      k: Int, threshold: Double,
      nprobe: Int = 12, shortlistFactor: Int = 32): StreamingQuery =
    sink(vectors, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      import graft.operators.{Components, Similarity}
      Similarity.appendCodedBatch(batch, idCol, vecCol, cents, books,
        batchId, storeDir)
      val edges = Similarity.searchCodedStore(spark, batch, idCol, vecCol,
          k, cents, books, storeDir, nprobe, shortlistFactor,
          broadcastQueries = false)
        .filter(col("cos") >= threshold)
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      nextLabels(spark, labelDir, batchId)(prev =>
        Components.withSingletonComponents(
          Components.incrementalComponents(prev, edges, "id_a", "id_b"),
          batch, idCol))
    }

  /** Continuous retrieval-index admission, the text-retrieval member of
    * the streaming-maintenance family: each micro-batch of tokenized
    * documents lands its posting buckets / doc lengths / additive corpus
    * stats via [[graft.operators.InvertedIndex.appendBatch]] — BM25
    * search over the store serves everything ingested so far with no
    * history rescan, and a micro-batch retry (same batchId) overwrites
    * its own directories rather than double-counting df or corpus stats.
    */
  def indexIngest(
      docs: DataFrame, idCol: String, toksCol: String, bucketSize: Long,
      path: String, checkpointDir: String): StreamingQuery =
    sink(docs, checkpointDir) { (batch, batchId) =>
      graft.operators.InvertedIndex.appendBatch(
        batch, idCol, toksCol, bucketSize, batchId, path)
    }

  /** [[indexIngest]] against the GENERATIONAL store with the compaction
    * policy applied per micro-batch ([[admitThenCompact]]): after each
    * admission, [[graft.operators.InvertedIndex.compactIfFragmented]]
    * merges the fragments into a new generation once `maxFragments`
    * accumulate — the continuous form of the q143 compactor, bounding
    * read amplification at crawl cadence with no operator in the loop.
    * A replayed micro-batch whose id the meantime compaction already
    * sealed is a no-op ([[unlessSealed]]); an unsealed replay
    * overwrites its own directories as always.
    */
  def indexIngestCompacting(
      docs: DataFrame, idCol: String, toksCol: String, bucketSize: Long,
      root: String, checkpointDir: String,
      maxFragments: Int): StreamingQuery = {
    import graft.operators.InvertedIndex
    // cold start only: a RESTARTED stream must keep the advanced pointer
    // (a plain initStore rewrites _CURRENT=1, which would resurrect a
    // compacted-away generation for readers)
    GenStore.initIfAbsent(root)
    sink(docs, checkpointDir)(admitThenCompact(root) { (spark, batch, id) =>
      InvertedIndex.admitBatch(spark, batch, idCol, toksCol, bucketSize, id, root)
    }(InvertedIndex.compactIfFragmented(_, root, maxFragments)))
  }

  /** Streaming VECTOR admission with the compaction policy — the
    * [[indexIngestCompacting]] pattern on the coded vector store: each
    * micro-batch encodes against the current generation's index
    * ([[graft.operators.VectorStore.admit]], one narrow pass) and
    * [[graft.operators.VectorStore.compactIfFragmented]] keeps the
    * fragment count bounded at crawl cadence. The store must already be
    * initialized with a fitted index ([[graft.operators.VectorStore
    * .init]] — fitting is a policy-layer action, not a sink side
    * effect); a restarted stream keeps whatever generation the pointer
    * reached. Sealed replays are no-ops ([[unlessSealed]]).
    * Refit-on-drift composes above this sink exactly as in batch —
    * compaction never changes the geometry.
    */
  def vectorIngestCompacting(
      vectors: DataFrame, idCol: String, vecCol: String,
      root: String, checkpointDir: String, maxFragments: Int,
      nassign: Int = 2): StreamingQuery = {
    import graft.operators.VectorStore
    sink(vectors, checkpointDir)(admitThenCompact(root) { (spark, batch, id) =>
      VectorStore.admit(spark, root, batch, idCol, vecCol, id, nassign)
    }(VectorStore.compactIfFragmented(_, root, maxFragments)))
  }

  /** Streaming KEY-SET admission with the compaction policy — the same
    * pattern on the dedup stores ([[graft.operators.KeySetStore]]):
    * `keys` is a streaming frame of key rows (e.g.
    * [[graft.operators.Dedup.minHashBandKeys]] over a crawl stream —
    * per-row expressions, so it streams as a map); each micro-batch
    * lands as one distinct fragment and the policy's cross-batch
    * distinct keeps both the fragment count AND the key overlap
    * bounded. Cold-start initializes generation 1; a restart keeps the
    * advanced pointer; sealed replays are no-ops.
    */
  def keySetIngestCompacting(
      keys: DataFrame, root: String, checkpointDir: String,
      maxFragments: Int): StreamingQuery = {
    import graft.operators.KeySetStore
    GenStore.initIfAbsent(root)
    sink(keys, checkpointDir)(admitThenCompact(root) { (_, batch, id) =>
      KeySetStore.admitBatch(batch, id, root)
    }(KeySetStore.compactIfFragmented(_, root, maxFragments)))
  }

  /** Per-sink LANE-PROGRESS file at a store root: the highest remapped
    * batch id sink `sinkId` has fully admitted there — what lets a
    * multi-sink fleet distinguish "my own replay" (skip, idempotent)
    * from "a fresh admission that merely sits below ANOTHER lane's
    * compacted high-water mark" (must admit — and if a compaction
    * really did seal across the lane, the store's clobber fence throws
    * LOUDLY instead of this sink silently dropping the batch). Written
    * AFTER each successful admit; a crash between admit and this write
    * makes the replay re-admit, which mode-overwrites the identical
    * fragment — idempotent.
    */
  private def laneLast(root: String, sinkId: Int): Option[Long] = {
    val p = java.nio.file.Paths.get(root, "_LANES", s"sink$sinkId")
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p)).trim.toLong)
  }

  private def writeLaneLast(root: String, sinkId: Int, mapped: Long): Unit =
    GenStore.atomicWrite(
      java.nio.file.Paths.get(root, "_LANES", s"sink$sinkId"), mapped.toString)

  /** Streaming SIGNATURE admission under the LIVE-MERGE QUIESCE
    * contract ([[graft.operators.GenStore.quiesce]]) — the sink half of
    * merging a store whose builder is still ingesting: each micro-batch
    * derives the crawl batch's MinHash band keys and admits them, but
    * FIRST chases the store's forwarding chain — a quiesced store's
    * `_MERGING` mark names the merged successor, and the sink re-points
    * there at the micro-batch boundary (foreachBatch is serial per
    * query, so the in-flight batch fully landed before this pre-check
    * runs; the merge's movement fence and the admit's post-write
    * quiesce re-check catch anything that still races). Zero lost and
    * zero duplicated admissions across a mid-stream merge is the q196
    * gate.
    *
    * MULTI-SINK LANES (round 15): K live builders' sinks can all
    * re-point into ONE successor. Each sink owns a lane of the
    * remapped id space — `mapped = gen1Seal + 1 + sinkId*laneWidth +
    * batchId` — so re-pointed fleets never collide (requires
    * `batchId < laneWidth`, fenced). The gen-1 seal is the merge's
    * last write and immutable, so every lane base is stable across
    * restarts and clears every merge-renumbered id. Replay detection
    * is PER-SINK ([[laneLast]] progress files), not the global
    * compacted high-water mark: with multiple lanes, "my id is below
    * the seal" no longer implies "my id was folded" (another lane's
    * higher ids may have been) — a lane-lagging FRESH admission must
    * not be silently skipped. If a compaction genuinely sealed across
    * a lagging lane, the store's clobber fence refuses the admit
    * loudly; the maintenance runbook is therefore: compact a shared
    * successor only when its live lanes are quiet (the
    * compact-before-quiesce discipline, lane-shaped).
    */
  def signatureIngestQuiesceAware(
      docs: DataFrame, idCol: String, textCol: String, root: String,
      checkpointDir: String, n: Int = 3, numHashes: Int = 32,
      bands: Int = 8, portableKeys: Boolean = false,
      maxFragments: Int = Int.MaxValue, sinkId: Int = 0,
      laneWidth: Long = 1L << 20): StreamingQuery = {
    require(sinkId >= 0 && laneWidth >= 1, "sinkId/laneWidth out of range")
    GenStore.initIfAbsent(root)
    sink(docs, checkpointDir) { (batch, batchId) =>
      import graft.operators.{Dedup, KeySetStore}
      val spark = batch.sparkSession
      require(batchId < laneWidth,
        s"micro-batch id $batchId overflows the sink lane (width " +
          s"$laneWidth) — restart the stream with a wider lane")
      // chase the forwarding chain (a merged store may itself have
      // been quiesced into a later merge)
      var target = root
      var offset = 0L
      var hop = GenStore.quiescedSuccessor(target)
      while (hop.isDefined) {
        target = hop.get
        // gen 1's seal is the merge's last write and never changes:
        // a stable base that clears every merge-renumbered id
        offset = GenStore.compactedHwm(target, 1L) + 1 +
          sinkId * laneWidth
        hop = GenStore.quiescedSuccessor(target)
      }
      val mapped = offset + batchId
      // per-sink replay detection; no lane file (pre-lane stores, or
      // a fresh stream against a compacted store) falls back to the
      // conservative global seal — exactly the pre-lane semantics
      val last = laneLast(target, sinkId).getOrElse(sealedHwm(target))
      if (mapped > last) {
        Dedup.admitMinHashBatch(batch, idCol, textCol, n, numHashes,
          bands, batchId = mapped, root = target,
          portableKeys = portableKeys)
        writeLaneLast(target, sinkId, mapped)
        if (maxFragments != Int.MaxValue)
          KeySetStore.compactIfFragmented(spark, target, maxFragments)
      } // else: this sink's own replay — the fragment already landed
        // (and may since have been folded); skipping is exactness
    }
  }

  /** The STREAMING CURATION pipeline — q153's batch capstone as one
    * continuous foreachBatch job. Every micro-batch of crawled docs
    * flows the full admission sequence: quality gate (threshold on
    * [[graft.functions.TextFunctions.qualityScore]]) -> MinHash-LSH
    * dedup probe against the generational signature store (ONE
    * semi-join per batch; history never rescanned; an empty store
    * admits everything, so batch 0 needs no special casing at the
    * call site) -> survivors' band keys admitted under this batch id
    * -> [[graft.operators.KeySetStore.compactIfFragmented]] keeps the
    * fragment count bounded for the life of the stream -> the retained
    * docs land as `retainedDir/batch_id=N` (the curated-corpus output,
    * input columns unchanged).
    *
    * Ordering fence: the admission DECISION is pinned with a
    * localCheckpoint BEFORE anything of this batch lands. Intra-batch
    * duplicates are both retained (the q153 stance: the store dedups
    * ACROSS crawl batches; within a batch the docs arrived together).
    *
    * Replay (at-least-once checkpoint recovery) semantics, each window
    * of the step covered: (1) the probe EXCLUDES this batch's own
    * fragment ([[graft.operators.KeySetStore.keysCurrentExcluding]]) —
    * a replay after the first attempt admitted its keys but crashed
    * before committing would otherwise reject every previously
    * admitted doc as its own clone and overwrite both the fragment and
    * the retained output with EMPTY sets; deciding against strictly
    * earlier fragments re-derives the SAME decision the first attempt
    * made (same offsets → same batch rows, deterministic quality and
    * key maps). (2) the retained corpus is written BEFORE the keys are
    * admitted and before any compaction can seal this id — once
    * [[graft.operators.KeySetStore.compactIfFragmented]] folds the
    * fragment away, a replay is a sealed no-op, so the curated rows
    * must already be on disk by then (retained-last lost the batch's
    * docs forever on a crash inside that window). (3) a batch at or
    * below the compacted high-water mark is a sealed no-op
    * ([[unlessSealed]]).
    *
    * At 100 TB each micro-batch costs narrow quality/shingle maps plus
    * one key-set semi-join — no stage touches prior batches' raw docs.
    */
  def curationIngestCompacting(
      docs: DataFrame, idCol: String, textCol: String,
      root: String, retainedDir: String, checkpointDir: String,
      maxFragments: Int, qualityThreshold: Double,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      portableKeys: Boolean = false): StreamingQuery = {
    GenStore.initIfAbsent(root)
    sink(docs, checkpointDir) { (batch, batchId) =>
      curationStep(batch, batchId, idCol, textCol, root, retainedDir,
        maxFragments, qualityThreshold, n, numHashes, bands, portableKeys)
    }
  }

  /** One micro-batch of [[curationIngestCompacting]] — factored out so
    * the replay contract above is directly testable: calling the step
    * twice with the same `batchId` (the crash-recovery interleaving)
    * must land the same fragment and the same retained rows as calling
    * it once.
    */
  private[graft] def curationStep(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      root: String, retainedDir: String, maxFragments: Int,
      qualityThreshold: Double, n: Int, numHashes: Int, bands: Int,
      portableKeys: Boolean): Unit = unlessSealed(root, batchId) {
    import graft.operators.{Dedup, KeySetStore}
    val spark = batch.sparkSession
    val keep = batch.filter(
      graft.functions.TextFunctions.qualityScore(col(textCol))
        >= qualityThreshold)
    // probe ONLY fragments other than our own (replay window 1 above)
    val admitted = KeySetStore.keysCurrentExcluding(spark, root, batchId)
      match {
        case None => keep // empty store (or only our own crashed fragment)
        case Some(keys) => keep.join(
          Dedup.admitAgainstKeys(keep, idCol, textCol,
              n, numHashes, bands, keys, portableKeys)
            .filter(col("admit")).select(col("id").as(idCol)),
          Seq(idCol), "left_semi")
      }
    val landed = admitted.localCheckpoint()
    // retained corpus FIRST (replay window 2 above): after the keys
    // admit, a compaction may seal this id and turn replays into
    // no-ops — the curated rows must already be on disk by then
    landed.write.mode("overwrite")
      .parquet(s"$retainedDir/batch_id=$batchId")
    Dedup.admitMinHashBatch(landed, idCol, textCol, n, numHashes,
      bands, batchId, root, portableKeys)
    KeySetStore.compactIfFragmented(spark, root, maxFragments)
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(landed)
  }

  /** Streaming TAKEDOWN for the signature store — the delete-marker
    * side of [[curationIngestCompacting]]: each micro-batch of
    * documents to take down lands its derived band keys as one delete
    * fragment ([[graft.operators.Dedup.deleteMinHashBatch]] — key-set
    * subtraction, q165 semantics) through [[takedownStep]]. No hwm
    * guard: a replayed delete is a semantic no-op whether or not a
    * compaction already applied it, so at-least-once delivery is safe
    * without one — the asymmetry with the admission sinks, whose
    * replays of compacted batches must be REFUSED.
    * Delete batch ids live in their own subdirectory, so a takedown
    * stream and a crawl stream on the same store never collide — but
    * a SECOND takedown stream (fresh checkpoint, micro-batch ids back
    * at 0) would overwrite the first one's still-pending fragments:
    * give each takedown stream a `baseBatchId` above every id the
    * previous one used (store id = base + micro-batch id; the mapping
    * is fixed, so checkpoint replays stay idempotent).
    *
    * `compactAtPendingFraction` > 0 turns on the maintenance leg: after
    * each delete admit, [[graft.operators.KeySetStore.compactIfNeeded]]
    * folds the pending set away once it crosses that fraction of the
    * data rows — the pending-read window is then bounded by CONTRACT,
    * not by someone remembering to schedule a compaction. Use it only
    * under the store family's single-writer discipline: a compaction
    * fired here races a concurrent ADMISSION stream's writes, which the
    * family fences loudly (the admit's pointer re-check throws and the
    * micro-batch retries under the new generation) — safe, but a
    * deployment that wants zero admission retries should run the
    * maintenance tick in the admission stream instead.
    */
  def signatureTakedownIngest(
      docs: DataFrame, idCol: String, textCol: String,
      root: String, checkpointDir: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      portableKeys: Boolean = false, baseBatchId: Long = 0L,
      compactAtPendingFraction: Double = 0.0): StreamingQuery = {
    GenStore.initIfAbsent(root)
    sink(docs, checkpointDir)(takedownStep(baseBatchId,
        compactAtPendingFraction) { (_, batch, id) =>
      graft.operators.Dedup.deleteMinHashBatch(batch, idCol, textCol,
        n, numHashes, bands, id, root, portableKeys)
    }(graft.operators.KeySetStore.compactIfNeeded(_, root, Int.MaxValue, _)))
  }

  /** Streaming TAKEDOWN for the retrieval index — doc-id delete
    * markers ([[graft.operators.InvertedIndex.admitDeleteBatch]], q161
    * semantics) landed per micro-batch. Replay-idempotent like the
    * signature sink (anti-joining an absent id removes nothing), so no
    * hwm guard; `baseBatchId` separates successive takedown streams'
    * fragment ids exactly as [[signatureTakedownIngest]] documents —
    * as does `compactAtPendingFraction`, the contract-bound window
    * through [[graft.operators.InvertedIndex.compactIfNeeded]].
    */
  def indexTakedownIngest(
      ids: DataFrame, idCol: String, root: String, checkpointDir: String,
      baseBatchId: Long = 0L, compactAtPendingFraction: Double = 0.0)
      : StreamingQuery = {
    import graft.operators.InvertedIndex
    GenStore.initIfAbsent(root)
    sink(ids, checkpointDir)(takedownStep(baseBatchId,
        compactAtPendingFraction) { (spark, batch, id) =>
      InvertedIndex.admitDeleteBatch(spark, batch, idCol, id, root)
    }(InvertedIndex.compactIfNeeded(_, root, Int.MaxValue, _)))
  }

  /** Streaming TAKEDOWN for the coded vector store — vec-id delete
    * markers ([[graft.operators.VectorStore.admitDeletes]], q161
    * semantics). Same replay, id-space and maintenance contract as
    * [[indexTakedownIngest]] — `compactAtPendingFraction` bounds the
    * kNN pending-read window through
    * [[graft.operators.VectorStore.compactIfNeeded]].
    */
  def vectorTakedownIngest(
      ids: DataFrame, idCol: String, root: String, checkpointDir: String,
      baseBatchId: Long = 0L, compactAtPendingFraction: Double = 0.0)
      : StreamingQuery = {
    import graft.operators.VectorStore
    sink(ids, checkpointDir)(takedownStep(baseBatchId,
        compactAtPendingFraction) { (spark, batch, id) =>
      VectorStore.admitDeletes(spark, root, batch, idCol, id)
    }(VectorStore.compactIfNeeded(_, root, Int.MaxValue, _)))
  }

  /** Streaming RETRACTION for the quantile store — the group-inverse
    * side of [[quantileIngestCompacting]]: each micro-batch of rows to
    * retract lands its negated per-(key, bin) counts as one fragment
    * ([[graft.operators.QuantileStore.retractBatch]]). UNLIKE the
    * signature takedown, a replay here is NOT harmless once compacted
    * (it would subtract twice), so the sink keeps the admission sinks'
    * sealed-replay guard ([[unlessSealed]]): a micro-batch at or below
    * the compacted high-water mark is a checkpoint replay of
    * already-applied work and is skipped. Retraction fragments share the
    * admissions' id space (they ARE ordinary fragments with negated
    * counts), so `baseBatchId` MUST clear every id the store already
    * holds — store id = base + micro-batch id, a fixed mapping that keeps
    * checkpoint replays idempotent while never overwriting an admission
    * fragment.
    */
  def quantileRetractIngest(
      rows: DataFrame, keyCols: Seq[String], valueCol: String,
      lo: Double, width: Double, nbins: Int,
      root: String, checkpointDir: String, baseBatchId: Long)
      : StreamingQuery = {
    GenStore.initIfAbsent(root)
    sink(rows, checkpointDir) { (batch, batchId) =>
      val id = baseBatchId + batchId
      unlessSealed(root, id) {
        graft.operators.QuantileStore.retractBatch(batch.sparkSession,
          batch, keyCols, valueCol, lo, width, nbins, id, root)
      }
    }
  }

  /** Streaming SKETCH admission with the compaction policy — the same
    * pattern on the per-key HLL store: each micro-batch lands its
    * sketch rows and [[graft.operators.SketchStore.compactIfFragmented]]
    * unions fragments per key once the policy fires (estimates
    * bit-identical, q148's gate). Cold-start initializes generation 1;
    * sealed replays are no-ops.
    */
  def sketchIngestCompacting(
      events: DataFrame, keyCols: Seq[String], valueCol: String,
      root: String, checkpointDir: String, maxFragments: Int,
      lgK: Int = graft.operators.SketchStore.DefaultLgK): StreamingQuery = {
    import graft.operators.SketchStore
    GenStore.initIfAbsent(root)
    sink(events, checkpointDir)(admitThenCompact(root) { (spark, batch, id) =>
      SketchStore.admitBatch(spark, batch, keyCols, valueCol, id, root, lgK)
    }(SketchStore.compactIfFragmented(_, root, keyCols, maxFragments)))
  }

  /** Streaming FREQUENCY admission with the compaction policy — the
    * same pattern on the Misra-Gries store: each micro-batch summarizes
    * to at most `m` counters and the policy merges fragments under the
    * mergeable-summaries contract (q149's gate). Cold-start initializes
    * generation 1; sealed replays are no-ops.
    */
  def frequencyIngestCompacting(
      rows: DataFrame, keyCol: String, m: Int,
      root: String, checkpointDir: String, maxFragments: Int): StreamingQuery = {
    import graft.operators.HeavyHitters
    GenStore.initIfAbsent(root)
    sink(rows, checkpointDir)(admitThenCompact(root) { (spark, batch, id) =>
      HeavyHitters.admitBatch(spark, batch, keyCol, m, id, root)
    }(HeavyHitters.compactIfFragmented(_, root, m, maxFragments)))
  }

  /** Streaming QUANTILE admission with the compaction policy — the
    * family pattern on the histogram store ([[graft.operators
    * .QuantileStore]]): each micro-batch reduces to at most nbins count
    * rows per key and the policy sums fragments losslessly (q158's
    * bit-identity gate). Cold-start initializes generation 1; sealed
    * replays are no-ops (their counts are already inside the fragment —
    * re-adding them would double-count, which is exactly what the
    * high-water fence prevents).
    */
  def quantileIngestCompacting(
      rows: DataFrame, keyCols: Seq[String], valueCol: String,
      lo: Double, width: Double, nbins: Int,
      root: String, checkpointDir: String, maxFragments: Int): StreamingQuery = {
    import graft.operators.QuantileStore
    GenStore.initIfAbsent(root)
    sink(rows, checkpointDir)(admitThenCompact(root) { (spark, batch, id) =>
      QuantileStore.admitBatch(spark, batch, keyCols, valueCol,
        lo, width, nbins, id, root)
    }(QuantileStore.compactIfFragmented(_, root, keyCols, maxFragments)))
  }

  /** Seed a CDC snapshot store (and, through [[initCcState]], a label
    * root): `initial` becomes checkpoint version v0, then the pointer
    * publishes it.
    */
  def initCdcState(initial: DataFrame, stateDir: String): Unit = {
    initial.write.mode("overwrite").parquet(s"$stateDir/v0")
    GenStore.publishVersion(stateDir, 0)
  }

  /** The snapshot readers see: whatever version `_CURRENT` points at,
    * resolved through the delta log (nearest checkpoint + replay of at
    * most `maxDeltas` pending deltas — the policy-bounded read cost).
    */
  def currentCdcSnapshot(spark: SparkSession, stateDir: String): DataFrame =
    resolveCdcSnapshot(spark, stateDir, currentCdcVersion(stateDir))

  // ---------------------------------------------------------------------
  // DELTA-LOG CDC LAYOUT — versions under `stateDir/v<N>` are either
  //   CHECKPOINTS (a full materialized snapshot — the only kind v0 ever
  //     is, and what [[initCdcState]] writes), or
  //   DELTAS (the raw change batch: payload + op column, plus a
  //     `_DELTA` marker recording key/seq/op column names — `_`-prefixed
  //     files are invisible to parquet scans).
  // A read at version V resolves to the nearest checkpoint at-or-below V
  // plus an ordered [[graft.operators.Merge.cdcApply]] replay of the
  // deltas between — BIT-IDENTICAL to eager application, because eager
  // publish computed exactly that fold (cdcApply is a deterministic
  // function of (state, batch), and the replay applies the same batches
  // in the same order to the same base). What the layout buys at
  // 100 TB: publish WRITES O(change-batch) bytes, never O(state) — the
  // full-state rewrite the pre-r15 layout paid per publish is now paid
  // only when the CHECKPOINT POLICY fires (chain length or
  // delta-bytes-fraction, footer-metadata reads only), amortizing it
  // across many publishes exactly like a log-structured table format.
  // Read cost is bounded by the same policy: at most `maxDeltas` joins
  // above one checkpoint scan.
  // ---------------------------------------------------------------------

  private def cdcVersionDir(stateDir: String, v: Long) = s"$stateDir/v$v"

  private def cdcDeltaMarker(stateDir: String, v: Long) =
    java.nio.file.Paths.get(cdcVersionDir(stateDir, v), "_DELTA")

  /** Is published version `v` a delta fragment (vs a checkpoint)? */
  private[graft] def isCdcDelta(stateDir: String, v: Long): Boolean =
    java.nio.file.Files.exists(cdcDeltaMarker(stateDir, v))

  /** A PROMOTED checkpoint twin for version `v` (`v<N>c/` + `_SEALED`
    * written last): the vacuum's materialization of a delta version
    * whose chain it is about to drop — readers prefer a sealed twin, so
    * history below it can be reclaimed without breaking the version.
    * An unsealed twin is a crashed promotion and is ignored (the
    * original chain is still intact: the vacuum drops nothing before
    * the seal).
    */
  private def cdcTwinDir(stateDir: String, v: Long) = s"$stateDir/v${v}c"

  private def cdcTwinSealed(stateDir: String, v: Long): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(cdcTwinDir(stateDir, v), "_SEALED"))

  private case class CdcDeltaMeta(keyCols: Seq[String], seqCol: String,
      opCol: String)

  private def writeCdcDeltaMarker(stateDir: String, v: Long,
      m: CdcDeltaMeta): Unit =
    java.nio.file.Files.write(cdcDeltaMarker(stateDir, v),
      (s"keyCols=${m.keyCols.mkString(",")}\n" +
        s"seqCol=${m.seqCol}\nopCol=${m.opCol}\n").getBytes)

  private def readCdcDeltaMeta(stateDir: String, v: Long): CdcDeltaMeta = {
    val kv = GenStore.readMarker(cdcDeltaMarker(stateDir, v))
    CdcDeltaMeta(kv("keyCols").split(',').toSeq, kv("seqCol"), kv("opCol"))
  }

  /** The resolution chain for version `v`: (base checkpoint directory,
    * the ordered deltas above it). Walks down from `v` preferring a
    * sealed promoted twin, then a checkpoint directory; a missing
    * directory on the way down means the chain was vacuumed.
    */
  private def resolveCdcChain(stateDir: String, v: Long):
      (String, Seq[(String, CdcDeltaMeta)]) = {
    var w = v
    var deltas: List[(String, CdcDeltaMeta)] = Nil
    while (true) {
      require(w >= 0, s"version $v has been vacuumed (its checkpoint " +
        "chain is no longer on disk)")
      if (cdcTwinSealed(stateDir, w))
        return (cdcTwinDir(stateDir, w), deltas)
      val dir = java.nio.file.Paths.get(cdcVersionDir(stateDir, w))
      require(java.nio.file.Files.isDirectory(dir),
        s"version $v has been vacuumed (retention window passed)")
      if (!isCdcDelta(stateDir, w))
        return (cdcVersionDir(stateDir, w), deltas)
      deltas = (cdcVersionDir(stateDir, w),
        readCdcDeltaMeta(stateDir, w)) :: deltas
      w -= 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Resolve the snapshot at version `v`: nearest checkpoint + ordered
    * delta replay. The replay IS the eager fold — see the layout note
    * above for why this is bit-identical to the pre-delta-log store.
    * Plan shape per chain length: a single pending delta replays
    * through [[graft.operators.Merge.cdcApply]] (broadcast shape — the
    * checkpoint never shuffles); a deeper chain replays through
    * [[graft.operators.Merge.cdcApplyJoined]], whose single-reference
    * levels keep the plan LINEAR in chain depth (cdcApply's
    * double-reference would re-derive the checkpoint 2^N times) and
    * reuse one hash partitioning across all levels.
    */
  private def resolveCdcSnapshot(spark: SparkSession, stateDir: String,
      v: Long): DataFrame = {
    val (base, deltas) = resolveCdcChain(stateDir, v)
    val step =
      if (deltas.size <= 1) graft.operators.Merge.cdcApply _
      else graft.operators.Merge.cdcApplyJoined _
    deltas.foldLeft(Tables.parquet(spark, base)) { case (df, (d, m)) =>
      step(df, Tables.parquet(spark, d), m.keyCols, m.seqCol, m.opCol)
    }
  }

  /** Deltas pending above the last checkpoint at version `v` — the
    * chain length a read of `v` pays. */
  private[graft] def cdcDeltasSinceCheckpoint(stateDir: String,
      v: Long): Int = resolveCdcChain(stateDir, v)._2.size

  /** The CHECKPOINT POLICY predicate (the q174 `needsCompaction`
    * pattern, restated for the delta log): true when the pending delta
    * chain reached `maxDeltas` (read amplification — every as-of read
    * above the checkpoint pays one cdcApply per delta) OR the pending
    * delta rows grew past `maxDeltaFraction` of the checkpoint's rows
    * (write amplification of the NEXT checkpoint is then already
    * bounded by a constant factor of what the deltas cost anyway).
    * Footer-metadata reads only ([[graft.operators.GenStore
    * .footerRowCount]]): no Spark job, so every publish can afford the
    * check. `maxDeltas = 0` forces a checkpoint every publish (the
    * pre-r15 behavior).
    */
  def cdcNeedsCheckpoint(spark: SparkSession, stateDir: String,
      maxDeltas: Int = 8, maxDeltaFraction: Double = 0.5): Boolean = {
    require(maxDeltas >= 0, "maxDeltas must be non-negative")
    require(maxDeltaFraction > 0, "maxDeltaFraction must be positive")
    val (base, deltas) = resolveCdcChain(stateDir, currentCdcVersion(stateDir))
    if (deltas.size >= maxDeltas) true
    else if (deltas.isEmpty) false
    else {
      val pending = GenStore.footerRowCount(spark,
        deltas.map(_._1))
      val ckpt = GenStore.footerRowCount(spark, Seq(base))
      pending.toDouble >= maxDeltaFraction * ckpt
    }
  }

  /** Batch-path version publisher — one [[cdcIngest]] micro-batch
    * without the stream. Under the delta-log layout the common case
    * APPENDS the change batch as a delta version — an O(change-batch)
    * write, flat in state size — and the checkpoint policy
    * ([[cdcNeedsCheckpoint]]) periodically folds the chain into a full
    * snapshot version, amortizing the state-sized write across many
    * publishes. Only then does `_CURRENT` advance. Returns the
    * published version.
    *
    * Crash discipline unchanged: an unadvanced pointer means the write
    * never happened as far as any reader is concerned (the retry's
    * mode-overwrite wipes the orphan, marker included), and a replayed
    * batch re-published as a NEW version is state-preserving through
    * the stale-seq guard — replayed at read time exactly as it was
    * applied eagerly. Quiesce fences on both sides of the write
    * ([[graft.operators.GenStore.publishVersion]]): a publish
    * completing inside a federation merge's cut window throws before
    * the pointer advances, so the cut never silently misses it.
    */
  def publishCdcBatch(
      spark: SparkSession, stateDir: String, changes: DataFrame,
      keyCols: Seq[String], seqCol: String, opCol: String,
      maxDeltas: Int = 8, maxDeltaFraction: Double = 0.5): Long = {
    GenStore.requireNotQuiesced(stateDir)
    val cur = currentCdcVersion(stateDir)
    val next = cur + 1
    if (cdcNeedsCheckpoint(spark, stateDir, maxDeltas, maxDeltaFraction)) {
      // checkpoint publish: fold chain + batch into a full snapshot
      graft.operators.Merge.cdcApply(
          resolveCdcSnapshot(spark, stateDir, cur), changes,
          keyCols, seqCol, opCol)
        .write.mode("overwrite").parquet(cdcVersionDir(stateDir, next))
    } else {
      // delta publish: the raw change batch, O(batch) bytes. Contract
      // check against the chain base's schema (one footer read): the
      // batch must carry exactly payload + op, or the read-time replay
      // would fail far from the writer that caused it.
      val payload = Tables.parquet(spark,
        resolveCdcChain(stateDir, cur)._1).columns.toSet
      require(changes.columns.toSet == payload + opCol,
        s"delta batch columns ${changes.columns.sorted.mkString(",")} " +
          s"must be exactly the snapshot payload + $opCol " +
          s"(${(payload + opCol).toSeq.sorted.mkString(",")})")
      changes.write.mode("overwrite")
        .parquet(cdcVersionDir(stateDir, next))
      writeCdcDeltaMarker(stateDir, next,
        CdcDeltaMeta(keyCols, seqCol, opCol))
    }
    GenStore.publishVersion(stateDir, next, s"publish of version $next")
    next
  }

  /** Explicit CHECKPOINT: materialize the current state as a new
    * checkpoint version (no changes applied). A no-op returning the
    * current version when it is already a checkpoint. The
    * checkpoint-before-quiesce runbook step: a federation merge
    * byte-copies checkpoint sources ([[mergeCdcStores]]) but must
    * resolve-and-rewrite delta-current ones — checkpointing each source
    * before quiescing keeps the merge on the zero-decode fast path,
    * exactly like compact-before-quiesce for the fragment stores.
    */
  def checkpointCdc(spark: SparkSession, stateDir: String): Long = {
    GenStore.requireNotQuiesced(stateDir)
    val cur = currentCdcVersion(stateDir)
    if (!isCdcDelta(stateDir, cur)) return cur
    val next = cur + 1
    resolveCdcSnapshot(spark, stateDir, cur)
      .write.mode("overwrite").parquet(cdcVersionDir(stateDir, next))
    GenStore.publishVersion(stateDir, next, s"checkpoint at version $next")
    next
  }

  /** FEDERATION MERGE for CDC SNAPSHOT stores — the last store family
    * without one (every fragment store merges by fragment copy;
    * q190–q194). What federates here is the STATE, not the log:
    * version counters are per-pipeline LOCAL CLOCKS (two pipelines'
    * v3 directories are not the same instant — interleaving their
    * histories is semantically meaningless), so the merge is a CUT:
    * the merged store's v0 is the union of each source's CURRENT
    * snapshot, and the merged clock starts at 0. A source whose
    * current version is a CHECKPOINT is byte-copied file for file
    * (the [[graft.operators.GenStore.copyFragments]] mover — no
    * decode, no Spark job); a source whose current version is a DELTA
    * is resolved (checkpoint + replay) and written once — run
    * [[checkpointCdc]] on each source BEFORE quiescing to keep the
    * whole merge on the byte-copy fast path. Pre-merge history stays
    * readable in the quiesced sources until they are retired — an
    * as-of question about a pre-merge instant is a question about ONE
    * pipeline's clock and is answered by that pipeline's store.
    *
    * Why per-key correctness survives without any clock
    * reconciliation: the caller contract everywhere in the federation
    * family — DISJOINT key spaces across sources — means
    * [[graft.operators.Merge.cdcApply]]'s stale-seq guard only ever
    * compares seqs of the same key, i.e. seqs minted by the same
    * pipeline. Cross-pipeline seqs never meet. Post-merge changes keyed
    * into either half carry that half's seq lineage forward unchanged.
    * Pass `verifyKeyCols` to CHECK disjointness (one group-by over the
    * merged state before the pointer publishes — the pointer is the
    * last write, so a failed check leaves no readable store); empty
    * trusts the contract like every other store's merge.
    *
    * Quiesce the sources first ([[graft.operators.GenStore.quiesce]]);
    * the publish fronts fence on the mark BEFORE and AFTER their
    * writes, and this merge re-reads each source's `_CURRENT` after
    * the copy (the movement fence) — a publish that still advanced a
    * source inside the cut window makes the merge REFUSE to publish
    * its pointer instead of serving a cut that silently misses the
    * batch. The pointer-less target is wiped and redone on retry: any
    * stale files from a refused or crashed previous attempt are
    * deleted before the copy, never silently unioned in. Returns the
    * merged store's published version (0).
    */
  def mergeCdcStores(spark: SparkSession, srcDirs: Seq[String],
      dstDir: String, verifyKeyCols: Seq[String] = Nil): Long = {
    require(srcDirs.size >= 2, "mergeCdcStores needs at least two sources")
    require(!GenStore.hasPointer(dstDir),
      s"merge target $dstDir must be a fresh store root")
    val conf = spark.sessionState.newHadoopConf()
    // wipe-and-redo (the mergeOpen discipline): a pointer-less target
    // is an unsealed prior attempt — stale part files from a refused
    // or crashed merge must not survive into this one's union
    val v0 = new org.apache.hadoop.fs.Path(s"$dstDir/v0")
    val dfs = v0.getFileSystem(conf)
    if (dfs.exists(v0)) dfs.delete(v0, true)
    // the cut: record each source's version, then move the bytes
    val cuts = srcDirs.map(src => (src, currentCdcVersion(src)))
    val (deltaCut, ckptCut) = cuts.partition { case (src, cur) =>
      isCdcDelta(src, cur)
    }
    if (deltaCut.nonEmpty)
      deltaCut.map { case (src, cur) => resolveCdcSnapshot(spark, src, cur) }
        .reduce(_.unionByName(_))
        .write.mode(if (deltaCut.size == cuts.size) "overwrite" else "append")
        .parquet(s"$dstDir/v0")
    val pairs = ckptCut.flatMap { case (src, cur) =>
      val k = srcDirs.indexOf(src)
      val (base, _) = resolveCdcChain(src, cur) // checkpoint or sealed twin
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.toString,
          s"$dstDir/v0/src$k-${s.getPath.getName}"))
    }
    require(deltaCut.nonEmpty || pairs.nonEmpty,
      "no snapshot files found under any source's current version")
    GenStore.copyFragments(spark, pairs)
    // movement fence (requireSourcesUnmoved semantics): a publish that
    // passed its pre-check before the quiesce mark landed may have
    // advanced a source inside the copy window — refuse to publish the
    // cut rather than silently missing its batch
    cuts.foreach { case (src, cur) =>
      val now = currentCdcVersion(src)
      if (now != cur) throw new IllegalStateException(
        s"source $src advanced during the merge cut (v$cur -> v$now): " +
          "a publish landed inside the copy window — quiesce the source " +
          "(GenStore.quiesce) and retry; the pointer-less target is " +
          "wiped and redone on retry")
    }
    if (verifyKeyCols.nonEmpty) {
      val dup = Tables.parquet(spark, s"$dstDir/v0")
        .groupBy(verifyKeyCols.map(org.apache.spark.sql.functions.col): _*)
        .count()
        .filter(org.apache.spark.sql.functions.col("count") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"sources share key ${dup.head.toSeq.init.mkString("(", ", ", ")")}" +
          " — CDC federation requires disjoint key spaces (per-key seq " +
          "clocks are per-pipeline and cannot be compared); the unsealed " +
          "target has no pointer and is not readable")
    }
    GenStore.publishVersion(dstDir, 0)
    0L
  }


  /** TIME TRAVEL: the snapshot exactly as it stood at `version`. Every
    * [[cdcIngest]] batch (and the batch-path equivalents) writes a NEW
    * `v<N>` directory and only then advances `_CURRENT` — old versions
    * are immutable history, so an as-of read is the version's
    * checkpoint chain (nearest checkpoint at-or-below + ordered delta
    * replay), the same policy-bounded cost shape as the current read.
    * Versions above `_CURRENT` are refused even if their directory
    * exists: a crash between snapshot write and pointer advance leaves
    * an unpublished `v<N+1>` that no reader may observe (it will be
    * overwritten by the batch's retry).
    */
  def cdcSnapshotAt(spark: SparkSession, stateDir: String, version: Long): DataFrame = {
    val cur = currentCdcVersion(stateDir)
    require(version >= 0 && version <= cur,
      s"version $version is not published (current is $cur)")
    require(cdcTwinSealed(stateDir, version) ||
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(stateDir, s"v$version")),
      s"version $version has been vacuumed (retention window passed)")
    resolveCdcSnapshot(spark, stateDir, version)
  }

  /** Published versions still on disk, ascending. Tombstoned directories
    * (`v<N>.deleted`, a vacuum in progress or crashed mid-delete) do not
    * match and are correctly reported as vacuumed.
    */
  def listCdcVersions(stateDir: String): Seq[Long] =
    GenStore.listVersions(stateDir, "v")

  /** SNAPSHOT DIFF: the minimal change feed that turns version `fromV`
    * into version `toV` — inserts (key only in `toV`), updates (key in
    * both, any payload column changed), deletes (key only in `fromV`).
    * I/U rows carry the `toV` payload (including its seq, so the feed
    * replays through [[graft.operators.Merge.applyChanges]] and lands
    * exactly at `toV` — the round-trip property the spec gates); D rows
    * carry the deleted `fromV` payload. Scale shape: both sides are
    * as-of version scans; the diff is ONE full-outer hash join on the
    * key comparing payload structs — no log replay, no per-version
    * change storage (versions ARE the log's checkpoints).
    */
  def cdcDiff(spark: SparkSession, stateDir: String, fromV: Long, toV: Long,
      keyCols: Seq[String], opCol: String = "op"): DataFrame = {
    val a = cdcSnapshotAt(spark, stateDir, fromV)
    val b = cdcSnapshotAt(spark, stateDir, toV)
    require(a.columns.toSeq == b.columns.toSeq,
      s"schema drift between v$fromV and v$toV: " +
        s"${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    require(!a.columns.contains(opCol), s"snapshot already carries $opCol")
    val payload = a.columns.toSeq.filterNot(keyCols.contains)
    val aa = a.select(keyCols.map(col) :+
      struct(payload.map(col): _*).as("__from"): _*)
    val bb = b.select(keyCols.map(col) :+
      struct(payload.map(col): _*).as("__to"): _*)
    aa.join(bb, keyCols, "full_outer")
      .withColumn(opCol,
        when(col("__from").isNull, "I")
          .when(col("__to").isNull, "D")
          .when(!(col("__from") <=> col("__to")), "U"))
      .filter(col(opCol).isNotNull)
      .select(keyCols.map(col) ++
        payload.map(f => when(col(opCol) === "D", col(s"__from.$f"))
          .otherwise(col(s"__to.$f")).as(f)) :+ col(opCol): _*)
  }

  /** The published version `_CURRENT` points at — the public read of
    * the pointer (the sync front's cut coordinate). */
  def currentCdcVersion(stateDir: String): Long = GenStore.currentGen(stateDir)

  /** NET CHANGES between two published versions — the change feed a
    * DERIVED store consumes to track this one without rebuilds
    * ([[CdcSync]]): one row per key whose state at `toV` may differ
    * from its state at `fromV`, carrying the `toV` payload and an op
    * computed AGAINST `fromV` (I: absent then, present now; U: present
    * both; D: present then, absent now — D rows carry null payload,
    * the key is the authoritative part).
    *
    * FAST PATH — every version in `(fromV, toV]` is a retained DELTA:
    * the feed is computed from the raw delta batches, O(window change
    * bytes), plus the stale-seq guard's base state — computed for the
    * WINDOW'S KEYS ONLY, as one narrow (key, seq) scan of `fromV`'s
    * nearest checkpoint semi-filtered to those keys, with the
    * below-`fromV` delta chain folded on top of it per key (the same
    * survivor + ordered-fold machinery as the window itself, over
    * O(chain change bytes)). NO state-wide join at any chain depth —
    * the first probe draft resolved the full `fromV` snapshot for the
    * guard, and its per-tick cost grew with the pending chain times
    * the state size (measured 5.5 s → 46 s over four ticks at 10M
    * rows); this formulation measures flat. The fold is bit-faithful
    * to the replay: within a version the survivor is
    * [[graft.operators.Merge.applyChanges]]' lexicographic-max rule;
    * across versions changes apply in version order under the strict
    * seq guard, a D tombstones the key so ANY later change applies
    * (the documented post-delete-resurrection semantics of
    * [[graft.operators.Merge.cdcApply]]) — so applying this feed to
    * the `fromV` snapshot lands exactly at `toV`.
    *
    * FALLBACK — a CHECKPOINT crosses the window (its publish folded
    * its change batch into the snapshot, so no raw delta exists for
    * it): [[cdcDiff]], the O(state) snapshot diff. That cost is paid
    * exactly when the store itself paid a state-sized write, so a
    * consumer syncing at least once per checkpoint interval never
    * leaves the delta path — the runbook line, same economics as
    * compact-before-quiesce.
    *
    * Caveat (superset, harmless to appliers): a key republished with
    * an advanced seq but byte-identical payload is emitted as U here;
    * [[cdcDiff]] compares payloads and drops it. Both land at `toV`
    * when applied.
    */
  def cdcChangesBetween(spark: SparkSession, stateDir: String,
      fromV: Long, toV: Long, keyCols: Seq[String],
      seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    val cur = currentCdcVersion(stateDir)
    require(fromV >= 0 && fromV <= toV && toV <= cur,
      s"need 0 <= fromV <= toV <= current ($cur); got ($fromV, $toV)")
    val cols = Tables.parquet(spark, resolveCdcChain(stateDir, fromV)._1)
      .columns.toSeq
    require(keyCols.forall(cols.contains),
      s"key columns ${keyCols.mkString(",")} not all present in " +
        s"snapshot schema ${cols.mkString(",")}")
    require(cols.contains(seqCol), s"snapshot must carry $seqCol")
    val payload = cols.filterNot(keyCols.contains) // includes seqCol
    val outCols = (keyCols ++ payload :+ opCol).map(col)
    if (fromV == toV)
      return resolveCdcSnapshot(spark, stateDir, fromV)
        .withColumn(opCol, lit("U")).select(outCols: _*).limit(0)
    val window = (fromV + 1) to toV
    val allDeltas = window.forall { v =>
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(cdcVersionDir(stateDir, v))) &&
        isCdcDelta(stateDir, v)
    }
    if (!allDeltas)
      return cdcDiff(spark, stateDir, fromV, toV, keyCols, opCol)
    window.foreach { v =>
      val m = readCdcDeltaMeta(stateDir, v)
      require(m.keyCols == keyCols && m.seqCol == seqCol && m.opCol == opCol,
        s"delta v$v was published as (keys=${m.keyCols.mkString(",")}, " +
          s"seq=${m.seqCol}, op=${m.opCol}) — caller asked for " +
          s"(keys=${keyCols.mkString(",")}, seq=$seqCol, op=$opCol)")
    }
    val pStruct = struct(payload.map(col): _*)
    // survivor per (key, version): applyChanges' within-batch rule
    def perVersionOf(dirs: Seq[(String, Long)]): DataFrame = dirs.map {
        case (dir, ord) =>
          Tables.parquet(spark, dir).withColumn("__v", lit(ord))
      }.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col) :+ col("__v"): _*)
      .agg(max_by(struct(col(opCol).as("op"), pStruct.as("p")),
        struct(col(seqCol) +: col(opCol) +: payload.map(col): _*)).as("c"))
    // ordered change list per key (leading __v sorts the structs)
    def byKeyOf(perVersion: DataFrame): DataFrame =
      perVersion.groupBy(keyCols.map(col): _*)
        .agg(array_sort(collect_list(struct(col("__v"),
          col("c.op").as("op"), col("c.p").as("p")))).as("cs"))
    val perVersion = perVersionOf(
      window.map(v => (cdcVersionDir(stateDir, v), v)))
    val pType = perVersion.select(col("c.p").as("p")).schema("p").dataType
    val byKey = byKeyOf(perVersion)
    def st(present: Column, seq: Column, p: Column, changed: Column) =
      struct(present.as("present"), seq.as("seq"), p.as("p"),
        changed.as("changed"))
    def foldCs(init: Column, cs: Column) =
      aggregate(cs, init, (acc, c) => {
        val applies = !acc.getField("present") ||
          c.getField("p").getField(seqCol) > acc.getField("seq")
        when(!applies, acc)
          .when(c.getField("op") === "D",
            st(lit(false), acc.getField("seq"),
              lit(null).cast(pType), lit(true)))
          .otherwise(st(lit(true), c.getField("p").getField(seqCol),
            c.getField("p"), lit(true)))
      })
    // base state AT fromV for the window's keys only: nearest
    // checkpoint's narrow (key, seq) rows semi-filtered to those keys,
    // with the below-fromV delta chain folded on top — never a
    // state-wide join, whatever the chain depth
    val (ckptDir, lower) = resolveCdcChain(stateDir, fromV)
    lower.foreach { case (_, m) =>
      require(m.keyCols == keyCols && m.seqCol == seqCol && m.opCol == opCol,
        s"a pending delta below v$fromV was published as " +
          s"(keys=${m.keyCols.mkString(",")}, seq=${m.seqCol}, " +
          s"op=${m.opCol}) — caller asked for (keys=" +
          s"${keyCols.mkString(",")}, seq=$seqCol, op=$opCol)")
    }
    val wKeys = byKey.select(keyCols.map(col): _*)
    val ckptNarrow = Tables.parquet(spark, ckptDir)
      .select(keyCols.map(col) :+ col(seqCol).as("__ck_seq"): _*)
      .join(wKeys, keyCols, "left_semi")
    val ckInit = st(col("__ck_seq").isNotNull,
      coalesce(col("__ck_seq"), lit(Long.MinValue)),
      lit(null).cast(pType), lit(false))
    val baseState =
      if (lower.isEmpty)
        ckptNarrow.withColumn("b",
          st(lit(true), col("__ck_seq"), lit(null).cast(pType), lit(false)))
      else {
        val lowByKey = byKeyOf(perVersionOf(
          lower.zipWithIndex.map { case ((dir, _), i) => (dir, i.toLong) }))
          .join(wKeys, keyCols, "left_semi")
          .withColumnRenamed("cs", "__low_cs")
        val csType = lowByKey.schema("__low_cs").dataType
        ckptNarrow.join(lowByKey, keyCols, "full_outer")
          .withColumn("b", foldCs(ckInit,
            coalesce(col("__low_cs"), array().cast(csType))))
      }
    val folded = byKey
      .join(baseState.select(keyCols.map(col) :+
        col("b.present").as("__b_present") :+
        col("b.seq").as("__b_seq"): _*), keyCols, "left")
      .withColumn("__at_from", coalesce(col("__b_present"), lit(false)))
      .withColumn("f", foldCs(
        st(col("__at_from"),
          coalesce(col("__b_seq"), lit(Long.MinValue)), // only read when present
          lit(null).cast(pType), lit(false)),
        col("cs")))
    folded
      // net no-ops drop: nothing applied, or insert-then-delete
      .filter(col("f.changed") && (col("f.present") || col("__at_from")))
      .withColumn(opCol,
        when(!col("f.present"), "D")
          .when(!col("__at_from"), "I")
          .otherwise("U"))
      .select(keyCols.map(col) ++
        payload.map(f => col(s"f.p.$f").as(f)) :+ col(opCol): _*)
  }

  /** Retention: drop every published version older than the newest
    * `keepLast` (the current version is always kept). Retention is what
    * bounds storage — the time-travel window is an explicit cost dial,
    * exactly as in log-structured table formats; under the delta log,
    * storage between checkpoints is O(change bytes), so the window is
    * cheaper than it was when every version was a full snapshot.
    *
    * If the OLDEST RETAINED version is a delta (its chain reaches into
    * the drop set), the vacuum first PROMOTES it: materializes its
    * resolved state as a sealed `v<N>c` twin — readers prefer the twin
    * from the instant its `_SEALED` marker lands, and only then does
    * anything below get dropped, so a crash mid-vacuum leaves either
    * the intact chain or the sealed twin, never a broken version. The
    * promotion is the ONLY state-sized cost in the whole publish/read/
    * retire lifecycle, paid once per vacuum at most — align retention
    * windows to checkpoint boundaries (or [[checkpointCdc]] first) to
    * avoid even that.
    *
    * Deleting old directories never touches the pointer or any retained
    * version, so concurrent readers of retained versions are
    * unaffected; readers of a vacuumed version get [[cdcSnapshotAt]]'s
    * retention error, not silent absence — the directory is atomically
    * renamed to a `v<N>.deleted` tombstone BEFORE the recursive delete,
    * so a crash mid-vacuum (or a reader racing the delete) can never
    * observe a partial `v<N>` that still passes the as-of existence
    * check and serves truncated data.
    */
  def vacuumCdc(spark: SparkSession, stateDir: String,
      keepLast: Int): Seq[Long] =
    GenStore.vacuumVersions(stateDir, "v", keepLast, suffixes = Seq("", "c"),
      beforeDrop = boundary =>
        if (isCdcDelta(stateDir, boundary) && !cdcTwinSealed(stateDir, boundary)) {
          // promotion: seal the twin BEFORE dropping anything below it
          resolveCdcSnapshot(spark, stateDir, boundary)
            .write.mode("overwrite").parquet(cdcTwinDir(stateDir, boundary))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(cdcTwinDir(stateDir, boundary), "_SEALED"),
            Array.emptyByteArray)
        })

  /** Read an events directory as a file stream (one parquet file per
    * micro-batch when `maxFilesPerTrigger` is set), for local smoke tests
    * driving the streaming operators with deterministic input.
    * `schemaDir` is a testdata sf directory used only for the schema; the
    * file-stream source itself requires `eventsDir` to be a directory of
    * parquet files.
    */
  def readEventsStream(spark: SparkSession, eventsDir: String, schemaDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
    // Match Tables.load's dual-layout handling: TIMESTAMP(NANOS) data
    // arrives as nano longs (nanosAsLong) and is truncated to micros;
    // timestamp[us] data arrives as TIMESTAMP_NTZ and is cast to
    // TimestampType (identity under the UTC session timezone).
    // The layout is inferred from the files that will actually be
    // STREAMED whenever any exist — eventsDir and schemaDir can come
    // from different testdata generations (exactly the mixed-layout
    // situation this handling exists for), and inferring from the wrong
    // one would, e.g., cast nano longs as NTZ micros: silently wrong
    // timestamps. schemaDir is only the cold-start fallback for an
    // as-yet-empty ingest directory.
    val evFiles = Option(new java.io.File(eventsDir).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val raw =
      if (evFiles.nonEmpty) Tables.parquet(spark, eventsDir).schema
      else Tables.parquet(spark, s"$schemaDir/events.parquet").schema
    val stream = spark.readStream.schema(StructType(raw))
      .option("maxFilesPerTrigger", 1)
      .parquet(eventsDir)
    raw("ts").dataType match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }
}
