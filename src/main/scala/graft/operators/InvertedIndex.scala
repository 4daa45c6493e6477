package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bucketed inverted index (posting lists) for corpus-scale retrieval.
  *
  * A flat `term -> [doc_id...]` index breaks at web scale: a stop-word-like
  * term can appear in billions of documents, so a single posting row would
  * hold an unbounded array and its reducer becomes the straggler. The
  * standard fix (e.g. the sharded posting layout in Lucene/Anserini-style
  * batch indexers) is to key posting lists by `(term, doc_id div B)`: every
  * posting row then holds at most `B` ids, high-df terms simply span more
  * buckets, and the build is ONE shuffle on the composite key with map-side
  * pre-aggregation. Because buckets partition the doc-id space into
  * disjoint, ordered ranges, a term lookup re-assembles the globally sorted
  * posting list by concatenating its buckets in bucket order — no re-sort
  * of the ids themselves.
  *
  * The reference engine has no retrieval-index surface at all (its scope
  * list, /root/reference/README.md:129-138); north-star extension.
  */
object InvertedIndex extends GenStore.PendingDeleteStore {

  /** Builds the bucketed index from `(doc_id: long, tok: string)` posting
    * rows (one row per token occurrence; duplicates collapse here).
    * Output: `(tok, bucket, n_docs, postings)` with `bucket = doc_id div
    * bucketSize` and `postings` the sorted distinct doc ids of that
    * bucket — each array bounded by `bucketSize` regardless of document
    * frequency.
    */
  def build(postings: DataFrame, bucketSize: Long): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    postings
      .groupBy(col("tok"),
        expr(s"doc_id div $bucketSize").cast("long").as("bucket"))
      // n_docs is the SIZE of the deduped set, not count_distinct: pairing
      // a distinct aggregate with collect_set makes Spark plan the
      // distinct-expansion rewrite (an extra shuffle keyed on doc_id);
      // collect_set already dedups, so size() gets the same number free.
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
      .select(col("tok"), col("bucket"),
        size(col("postings")).cast("long").as("n_docs"), col("postings"))
  }

  /** Term lookup over a bucketed index: merges each term's buckets back
    * into one globally sorted posting list. Buckets cover disjoint
    * ascending doc-id ranges, so sorting the (bucket, postings) structs by
    * bucket and flattening yields the sorted list directly; `n_docs` sums
    * exactly because buckets are disjoint. The term filter sits below the
    * merge aggregation (and is pushed below the build's group-by when the
    * two compose in one plan), so only the requested terms shuffle.
    */
  def lookup(index: DataFrame, terms: Seq[String]): DataFrame =
    index.filter(col("tok").isin(terms: _*))
      .groupBy(col("tok"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        flatten(transform(
          array_sort(collect_list(struct(col("bucket"), col("postings")))),
          _.getField("postings"))).as("postings"))

  // -------------------------------------------------------------------------
  // Incremental admission: the persisted retrieval index that grows one
  // crawl batch at a time — the same batch_id=N overwrite discipline as
  // the MinHash/span/sketch/heavy-hitter/vector admission stores. Each
  // batch is tokenized and reduced ONCE (per-(doc,term) tf, per-doc
  // length, one corpus-stats row) into its own subdirectories; history is
  // never rescanned or rewritten, a retried batch overwrites itself (a
  // storage no-op), and every read — term lookup or BM25 search — touches
  // only index-sized rows (bounded posting buckets, 2-long doc-length
  // rows, 1-row-per-batch stats), never the raw corpus. Contract: a
  // doc_id is admitted by exactly ONE batch (the crawl pipeline's
  // upstream exact-dedup guarantees this), so document frequencies and
  // corpus stats sum exactly across batches.
  // -------------------------------------------------------------------------

  /** The BM25 weight (k1=1.2, b=0.75) for one (doc, term), as a SQL
    * string evaluated verbatim on BOTH engines (Spark here, DuckDB in the
    * oracle) so the IEEE evaluation order coincides; only ln() may differ
    * (≤1 ulp), absorbed by the round(..., 6) callers apply to final
    * scores.
    */
  def bm25Weight(n: String, df: String, tf: String, dl: String, avgdl: String): String =
    s"ln(1 + ($n - $df + 0.5) / ($df + 0.5)) * ($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * $dl / $avgdl))"

  /** Admits one batch of tokenized documents `(idCol: long, toksCol:
    * array<string>)` into the index store at `path`: posting buckets
    * (with per-doc term frequency, document length, and the 0-based
    * token POSITIONS of every occurrence), doc lengths, and one
    * additive corpus-stats row, each under `batch_id=N`. One
    * tokenize-and-reduce pass over the batch — the only time this
    * batch's text is ever touched.
    *
    * Posting entries are SELF-CONTAINED for scoring: `dl` rides inside
    * the struct (duplicated per (doc, term) — 8 bytes against the
    * positions array it sits next to), so BM25 search never joins the
    * corpus-sized doclens relation: an index lookup touches candidate
    * rows only (the doclens table remains the per-doc surface for
    * stats and other readers). Positions are what phrase/proximity
    * queries intersect ([[phraseSearchStore]]) — the standard
    * positional-postings layout; tf stays explicit (== positions
    * length) so the BM25 weight expression is untouched.
    */
  def appendBatch(docs: DataFrame, idCol: String, toksCol: String,
      bucketSize: Long, batchId: Long, path: String): Unit = {
    require(bucketSize > 0, "bucketSize must be positive")
    val tf = docs.select(col(idCol).as("doc_id"),
        size(col(toksCol)).cast("long").as("dl"),
        posexplode(col(toksCol)).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"),
        // constant per doc; first() would be nondeterministic-LOOKING,
        // max() states the invariance
        max(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("positions"))
    tf.groupBy(col("tok"),
        expr(s"doc_id div $bucketSize").cast("long").as("bucket"))
      // struct sort key is the leading doc_id field -> postings ascend by id
      .agg(sort_array(collect_list(
          struct(col("doc_id"), col("tf"), col("dl"), col("positions"))))
        .as("postings"))
      .select(col("tok"), col("bucket"),
        size(col("postings")).cast("long").as("n_docs"), col("postings"))
      .write.mode("overwrite").parquet(s"$path/postings/batch_id=$batchId")
    val dl = docs.select(col(idCol).as("doc_id"),
      size(col(toksCol)).cast("long").as("dl"))
    dl.write.mode("overwrite").parquet(s"$path/doclens/batch_id=$batchId")
    dl.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$path/stats/batch_id=$batchId")
  }

  // -------------------------------------------------------------------------
  // DELETION (takedown): the pending-delete set of a store directory —
  // `path/deletes/batch_id=N` fragments of doc_id rows, the LSM
  // delete-marker pattern on the existing per-batch admission layout. A
  // takedown/contamination purge admits the doc ids once ([[
  // admitDeleteBatch]]); every read then excludes them by an anti-join
  // on index-sized candidate rows (never the corpus), corpus stats
  // (N, avgdl, df) shrink exactly, and compaction applies the set
  // PHYSICALLY — the compacted generation is bit-identical to a store
  // built without those documents, and carries no pending deletes.
  // Replaying a delete batch is a no-op twice over: the per-batch
  // overwrite is a storage no-op, and anti-joining an already-removed
  // id changes nothing. Deleting an id the store never admitted is
  // equally harmless.
  //
  // ORDERED (hwm-SCOPED) deletes — the upsert enabler: every delete row
  // carries a high-water mark, and it masks ONLY posting/doclens rows
  // from admission batches with batch_id <= hwm (the Lucene/Delta rule:
  // a delete applies to the segments that existed when it was issued,
  // never to later ones). A takedown keeps hwm = Long.MaxValue and
  // behaves exactly as before; an UPSERT writes a scoped delete at
  // hwm = B-1 and re-admits the document's new version at batch B in
  // one front ([[admitReplaceBatch]]) — the old copy is masked from
  // every read and physically removed at the next compaction, the new
  // one serves, and the "one live copy per doc_id" contract the bucket
  // layout needs holds per READ even while two physical copies exist.
  // -------------------------------------------------------------------------

  /** Lands one batch of doc ids to delete under `path/deletes` — the
    * flat-path form ([[appendBatch]]'s sibling); id space is the
    * delete table's own (a delete batch id never collides with an
    * admission batch id — different subdirectory). `hwm` scopes the
    * mask to admission batches at or below it (default: unbounded —
    * the plain-takedown semantics).
    */
  def appendDeleteBatch(ids: DataFrame, idCol: String, batchId: Long,
      path: String, hwm: Long = Long.MaxValue): Unit =
    ids.select(col(idCol).cast("long").as("doc_id")).distinct()
      .withColumn("hwm", lit(hwm))
      .write.mode("overwrite").parquet(s"$path/deletes/batch_id=$batchId")

  /** The pending delete set of a store directory as `(doc_id,
    * del_hwm)` — one row per dead/replaced doc with the HIGHEST mask
    * bound across its delete rows (a doc has at most one live copy, so
    * the max bound is the one that matters: batches above it hold the
    * live version, batches at or below hold masked history) — or None
    * when no deletes were ever admitted (the zero-cost common case —
    * read plans are unchanged). Fragments written before the hwm
    * column existed read as null and coalesce to unbounded.
    */
  private def pendingDeletes(spark: SparkSession, path: String,
      bound: Option[Long] = None): Option[DataFrame] =
    // BROADCAST by construction: the delete set is O(dead ids) — the
    // distinct above a tiny fragment scan defeats the planner's size
    // estimate, and an unhinted plan degrades to sort-merge anti-joins
    // that reshuffle every candidate relation (measured 5.9× clean at a
    // 10M-doc/100k-dead store, vs 1.5× broadcast — SCALE.md). The
    // needsCompaction policy is what keeps the set fraction-bounded, so
    // the broadcast never outgrows the driver by contract.
    pendingDeletesUnder(spark, path, GenStore.MergeSchema).map { raw =>
      // as-of reads exclude delete fragments above the bound (a
      // partition prune on the batch_id directory key)
      broadcast(GenStore.deleteMask(
        bound.fold(raw)(b => raw.filter(col("batch_id") <= b)), "doc_id"))
    }

  /** Restrict a candidate frame (carrying the admission `batch_id`
    * partition column) to rows that survive the scoped-delete mask
    * ([[GenStore.maskLive]]) — a left join against the O(dead ids)
    * broadcast set, then a filter.
    */
  private def maskLive(cands: DataFrame, del: DataFrame): DataFrame =
    GenStore.maskLive(cands, del, "doc_id")

  /** Term lookup across EVERY admitted batch, equal to [[lookup]] over a
    * fresh [[build]] of the union corpus — in ONE aggregation (the r9
    * review's double-shuffle nit, closed): buckets cover disjoint
    * ascending doc-id ranges and a doc_id is admitted by exactly one
    * batch, so the globally sorted flatten of every fragment's id
    * arrays IS the bucket-ordered concatenation of per-bucket merges
    * that [[lookup]]-over-[[build]] produces, and `n_docs` sums exactly
    * — no intermediate (term, bucket) cell-merge exchange needed. Rows
    * entering the aggregation are bounded by fragments × buckets of the
    * queried terms; on a freshly [[compactStore]]-ed generation that is
    * one row per (term, bucket).
    *
    * With pending deletes the candidate ids anti-join the delete set
    * before re-aggregation (per-id rows instead of the array flatten —
    * still bounded by the queried terms' candidates, never the corpus);
    * with none, the plan is untouched.
    */
  def storeLookup(spark: SparkSession, path: String, terms: Seq[String]): DataFrame =
    storeLookupBounded(spark, path, terms, None)

  /** [[storeLookup]] AS OF an admission-batch bound — the TIME-TRAVEL
    * read of the sync lifecycle ([[graft.streaming.CdcSync
    * .lookupIndexAsOf]] maps a CDC version to the bound): only
    * fragments with `batch_id <= bound` serve, and only delete
    * fragments at or below the bound apply — so the answer is exactly
    * what [[storeLookup]] returned when the bound was the store's
    * newest batch. Both filters are PARTITION prunes (batch_id is the
    * directory key): an as-of read costs what the store cost THEN,
    * not what it costs now. Reaches back to the last compaction fold
    * (the fold collapses per-batch attribution into one fragment at
    * the listing high-water mark — bounds below it are unanswerable
    * and refused by the caller-facing wrapper), the bounded-window
    * semantics of every parts-merging store.
    */
  def storeLookupAsOf(spark: SparkSession, path: String,
      terms: Seq[String], bound: Long): DataFrame =
    storeLookupBounded(spark, path, terms, Some(bound))

  private def storeLookupBounded(spark: SparkSession, path: String,
      terms: Seq[String], bound: Option[Long]): DataFrame = {
    val base0 = Tables.parquet(spark, s"$path/postings")
      .filter(col("tok").isin(terms: _*))
    val base = bound.map(b => base0.filter(col("batch_id") <= b))
      .getOrElse(base0)
    pendingDeletes(spark, path, bound) match {
      case None =>
        base.select(col("tok"), col("n_docs"),
            transform(col("postings"), _.getField("doc_id")).as("ids"))
          .groupBy(col("tok"))
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            array_sort(flatten(collect_list(col("ids")))).as("postings"))
      case Some(del) =>
        maskLive(base.select(col("tok"), col("batch_id"),
            explode(transform(col("postings"), _.getField("doc_id"))).as("doc_id")),
            del)
          .groupBy(col("tok"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sort_array(collect_list(col("doc_id"))).as("postings"))
    }
  }

  /** BM25 top-k over the persisted store — the textbook corpus-wide
    * score (df, N, avgdl across ALL admitted batches) computed from
    * index rows only: corpus stats from the 1-row-per-batch stats table,
    * document frequency as the exact sum of bucket sizes (doc ids are
    * unique across batches), and candidate (doc, term, tf, dl) rows
    * from the query terms' posting buckets — `dl` rides inside the
    * posting struct, so the search NEVER touches the corpus-sized
    * doclens relation: the only non-broadcast rows in the plan are the
    * query terms' own candidates (the r9 full-doclens shuffle is
    * structurally gone). Per-doc term weights sum in the FIXED written
    * order of `terms` (coalesce(w0)+coalesce(w1)+..., the q68
    * discipline) — never an order-free SUM over doubles — so the score
    * is reproducible bit for bit against a single-shot engine.
    */
  def bm25SearchStore(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame =
    bm25Scores(spark, path, terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)

  /** FILTERED BM25 — tenant-scoped / predicate-scoped retrieval, the
    * retrieval twin of [[VectorStore.searchWhere]]: top-k restricted to
    * documents whose id appears in `allowed` (one column, the doc id —
    * the caller's metadata predicate evaluated against whatever table
    * holds the metadata). The Lucene filtered-query stance on stats:
    * corpus-level N/avgdl/df are kept, so the filter decides WHO may
    * hold a result slot, never the weights — a surviving document's
    * score is bit-identical to its unconstrained-search score (scores
    * stay comparable across differently-filtered views of one corpus,
    * which is what a multi-tenant ranking layer needs; per-sub-corpus
    * IDF is a different product decision and would be a different
    * function). Pre-filter semantics like the vector twin: the semi
    * join restricts the CANDIDATE frame (the query terms' posting rows
    * — never the corpus) before the top-k cut, so a disallowed document
    * cannot under-fill k. Hint-free: a small allowed list broadcasts by
    * stats, a corpus-sized predicate frame co-partitions on doc_id.
    */
  def bm25SearchStoreWhere(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, allowed: DataFrame): DataFrame =
    bm25Scores(spark, path, terms)
      .join(allowed.select(col(allowed.columns.head).as("doc_id")),
        Seq("doc_id"), "left_semi")
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)

  /** The per-candidate-document BM25 score frame of [[bm25SearchStore]]
    * — (doc_id, bm25) for every document containing at least one query
    * term, before the top-k cut. Shared with [[phraseBm25SearchStore]],
    * which restricts it to phrase-matching documents instead of taking
    * the global top-k.
    */
  private def bm25Scores(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "BM25 search needs at least one term")
    val del = pendingDeletes(spark, path)
    // corpus stats: with pending deletes, N and sum(dl) shrink by
    // EXACTLY the deleted docs' doclens rows (one aggregate over the
    // semi-joined 2-long rows — the only read that touches doclens,
    // and it vanishes once compaction applies the set physically)
    val st = del match {
      case None =>
        Tables.parquet(spark, s"$path/stats")
          .agg(sum(col("n_docs")).cast("long").as("n"),
            (sum(col("sum_dl")).cast("double") / sum(col("n_docs"))).as("avgdl"))
      case Some(d) =>
        val full = Tables.parquet(spark, s"$path/stats")
          .agg(sum(col("n_docs")).cast("long").as("n0"),
            sum(col("sum_dl")).cast("long").as("sd0"))
        // a doclens row is "gone" iff its batch falls under its doc's
        // mask bound — for a replaced doc that subtracts exactly the
        // old copy's row, so N and sum(dl) count the doc ONCE with the
        // new version's length
        val gone = Tables.parquet(spark, s"$path/doclens")
          .join(d, Seq("doc_id"))
          .filter(col("batch_id") <= col("del_hwm"))
          .agg(count(lit(1)).cast("long").as("dn"),
            coalesce(sum(col("dl")), lit(0L)).cast("long").as("dsum"))
        full.crossJoin(gone)
          .select((col("n0") - col("dn")).as("n"),
            ((col("sd0") - col("dsum")).cast("double") /
              (col("n0") - col("dn"))).as("avgdl"))
    }
    val post = Tables.parquet(spark, s"$path/postings")
      .filter(col("tok").isin(terms: _*))
    val tf0 = post.select(col("tok"), col("batch_id"),
        explode(col("postings")).as("p"))
      .select(col("tok"), col("batch_id"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.dl").as("dl"))
    val tf = del.map(d => maskLive(tf0, d)).getOrElse(tf0).drop("batch_id")
    // document frequency: bucket-size sums when nothing is deleted
    // (never explodes); the exact count of surviving candidates when
    // deletes are pending — df shrinks with N, term by term
    val dfc = del match {
      case None => post.groupBy(col("tok"))
        .agg(sum(col("n_docs")).cast("long").as("df"))
      case Some(_) => tf.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("df"))
    }
    val w = tf.join(broadcast(dfc), "tok")
      .crossJoin(broadcast(st))
      .withColumn("w", expr(bm25Weight("n", "df", "tf", "dl", "avgdl")))
    val byTerm = terms.zipWithIndex.map { case (term, i) =>
      max(when(col("tok") === term, col("w"))).as(s"w$i")
    }
    val score = terms.indices
      .map(i => coalesce(col(s"w$i"), lit(0.0)))
      .reduceLeft(_ + _)
    w.groupBy(col("doc_id")).agg(byTerm.head, byTerm.tail: _*)
      .select(col("doc_id"), round(score, 6).as("bm25"))
  }

  /** PHRASE-CONSTRAINED BM25: documents containing `phrase` as
    * consecutive tokens, RANKED by the BM25 weight of the phrase's
    * terms — the standard two-stage phrase query (positional
    * intersection decides membership, bag-of-words weights rank). The
    * candidate set is [[phraseSearchStore]]'s positional intersection;
    * the score frame is exactly [[bm25SearchStore]]'s (same fixed-order
    * summation, so scores are bit-identical to the unconstrained
    * search), restricted by an equi-join on doc_id — at 100 TB both
    * sides are candidate lists of the phrase's terms, never the corpus,
    * and the phrase side (the intersection) is the smaller: it drives
    * the join. Output: (doc_id, n_occurrences, bm25) top-k by
    * (bm25 desc, doc_id).
    */
  def phraseBm25SearchStore(spark: SparkSession, path: String,
      phrase: Seq[String], k: Int): DataFrame =
    phraseSearchStore(spark, path, phrase)
      .join(bm25Scores(spark, path, phrase.distinct), "doc_id")
      .select(col("doc_id"), col("n_occurrences"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)

  /** Exact-PHRASE search over the persisted store: documents containing
    * `terms` as consecutive tokens, with the occurrence count. The
    * classic positional-postings intersection: term i's position list is
    * shifted by -i, and the intersection of the shifted lists is exactly
    * the set of phrase START positions — i adjacent-position
    * intersections over index rows only (the query terms' posting
    * buckets; a doc_id is admitted by ONE batch, so each (term, doc)
    * entry exists exactly once across the store and no cross-batch
    * position merge is ever needed). The joins are per-term candidate
    * lists meeting on doc_id — each side is df(term)-sized, never the
    * corpus, and the most selective term bounds the output.
    * Output: (doc_id, n_occurrences), phrase-matching docs only,
    * ordered by doc_id.
    */
  def phraseSearchStore(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    val post0 = Tables.parquet(spark, s"$path/postings")
      .filter(col("tok").isin(terms.distinct: _*))
      .select(col("tok"), col("batch_id"), explode(col("postings")).as("p"))
      .select(col("tok"), col("batch_id"), col("p.doc_id").as("doc_id"),
        col("p.positions").as("positions"))
    // pending deletes excluded at the candidate-row level — one masked
    // join below every phrase slot (a replaced doc keeps exactly its
    // live copy's positions)
    val post = pendingDeletes(spark, path)
      .map(d => maskLive(post0, d)).getOrElse(post0).drop("batch_id")
    // one side per PHRASE SLOT (a token may occupy several slots:
    // "the more the merrier" — each slot filters the same posting rows)
    val sides = terms.zipWithIndex.map { case (term, i) =>
      post.filter(col("tok") === term)
        .select(col("doc_id"),
          transform(col("positions"), p => p - i).as(s"pos$i"))
    }
    sides.reduce(_.join(_, "doc_id"))
      .select(col("doc_id"),
        size(terms.indices.map(i => col(s"pos$i")).reduce(array_intersect))
          .cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // Generational store + COMPACTION: the retrieval-index twin of
  // VectorStore's refit discipline. Admission fragments monotonically —
  // at crawl cadence a (term, bucket) cell spans one fragment per batch,
  // and storeLookup's cross-batch cell merge (plus the small-file count)
  // grows linearly with batch count, forever. Compaction runs that cell
  // merge ONCE, materializes the result as a single fragment under
  // `gen=G+1`, swaps an atomic `_CURRENT` pointer, and admissions keep
  // appending on top — bounding every future read at (1 compacted
  // fragment + batches since last compaction) regardless of store age.
  //
  // Layout: root/_CURRENT (text gen number)
  //         root/gen=G/{postings,doclens,stats}/batch_id=N
  // The flat-path functions above operate on ONE generation directory;
  // the functions below route through the pointer.
  //
  // Retry barrier: compaction collapses batches 0..hwm into a single
  // fragment written AS batch_id=hwm, so later admissions (ids > hwm)
  // append undisturbed — but a RETRY of an already-compacted batch id
  // must not run against the compacted generation (the LSM rule: once
  // segments merge, the old WAL is sealed). compactedHwm exposes the
  // barrier; admitBatch enforces it.
  // -------------------------------------------------------------------------

  // generational primitives shared with the rest of the admission-store
  // family live in [[GenStore]] ([[GenStore.PendingDeleteStore]]: init,
  // pointer, seal and policy); `genDir(root, gen)` is the `path` the
  // flat functions take

  /** The index store's generation layout: postings, doclens and stats
    * fragments share each batch id; the policy counts postings
    * fragments, and the data rows are the doclens rows (one per indexed
    * doc), counted from footers — the r12-measured 1.61× pending-read
    * tax persists until a compaction folds the delete set away.
    */
  override private[graft] val layout = GenStore.Layout(
    Seq("postings", "doclens", "stats"),
    (spark, dir) => GenStore.footerRowCount(spark,
      GenStore.listBatchIds(spark, s"$dir/doclens")
        .map(i => s"$dir/doclens/batch_id=$i")))

  /** Admit one tokenized batch under the CURRENT generation (the
    * [[appendBatch]] pass routed through the pointer) through the
    * family's fences ([[GenStore.admit]]): batch ids at or below the
    * generation's compacted high-water mark are refused (they are INSIDE
    * the compacted fragment — a replay would duplicate their postings),
    * and an admission racing a compaction fails loudly instead of
    * landing invisibly in a superseded generation.
    */
  def admitBatch(spark: SparkSession, docs: DataFrame, idCol: String,
      toksCol: String, bucketSize: Long, batchId: Long, root: String): Unit =
    admitBatchAt(spark, docs, idCol, toksCol, bucketSize, batchId, root,
      currentGen(root))

  /** [[admitBatch]] with the pointer read the caller already took — the
    * test seam for the race fence (the [[VectorStore.admitAt]] pattern).
    */
  private[graft] def admitBatchAt(spark: SparkSession, docs: DataFrame,
      idCol: String, toksCol: String, bucketSize: Long, batchId: Long,
      root: String, gen: Long, midHook: () => Unit = () => ()): Unit =
    GenStore.admit(root, gen, batchId, midHook = midHook)(
      appendBatch(docs, idCol, toksCol, bucketSize, batchId, _))

  /** TAKEDOWN: admit one batch of doc ids to delete under the CURRENT
    * generation ([[appendDeleteBatch]] routed through the pointer).
    * Every subsequent read excludes them; the next [[compactStore]]
    * removes them physically. Same pointer-re-read fence as
    * [[admitBatch]]; no sealed-id fence — replaying a delete batch is a
    * semantic no-op whether or not a compaction already applied it
    * (anti-joining an absent id removes nothing), as is deleting an id
    * the store never admitted.
    */
  def admitDeleteBatch(spark: SparkSession, ids: DataFrame, idCol: String,
      batchId: Long, root: String): Unit =
    admitDeleteBatchAt(spark, ids, idCol, batchId, root, currentGen(root))

  /** [[admitDeleteBatch]] with the pointer read the caller already took
    * — the race-fence test seam (the [[admitBatchAt]] pattern).
    */
  private[graft] def admitDeleteBatchAt(spark: SparkSession, ids: DataFrame,
      idCol: String, batchId: Long, root: String, gen: Long,
      hwm: Long = Long.MaxValue): Unit =
    GenStore.admit(root, gen, batchId, deletes = true)(
      appendDeleteBatch(ids, idCol, batchId, _, hwm))

  /** UPSERT one batch of documents: a SCOPED delete at `hwm = batchId -
    * 1` (masks every copy admitted so far — for a new doc it masks
    * nothing, harmlessly) followed by admission of the new versions at
    * `batchId`, under one generation read. Serves immediately: every
    * read sees exactly the new version (the old copy is masked, its
    * stats/doclens contributions subtracted row-exactly), and the next
    * compaction removes the old copies physically — the folded
    * generation is bit-identical to a store that only ever saw the
    * final versions. Replay-safe: both writes are per-batch overwrites
    * of themselves.
    *
    * Single-writer contract (stronger than [[admitBatch]]'s): scoped
    * deletes must not race a compaction — the fold seals pre-fold batch
    * ids, so a straggling scoped delete would be refused by the sweep
    * ([[compactStoreHooked]]) rather than carried. The CDC sync front
    * ([[graft.streaming.CdcSync]]) serializes ticks and maintenance on
    * one writer, which is the intended caller shape.
    */
  def admitReplaceBatch(spark: SparkSession, docs: DataFrame, idCol: String,
      toksCol: String, bucketSize: Long, batchId: Long, root: String): Unit = {
    val gen = currentGen(root)
    admitDeleteBatchAt(spark, docs.select(col(idCol)), idCol, batchId, root,
      gen, hwm = batchId - 1)
    admitBatchAt(spark, docs, idCol, toksCol, bucketSize, batchId, root, gen)
  }

  /** SCOPED takedown: delete every copy of `ids` admitted at or below
    * `batchId - 1`, leaving the door open for a LATER re-admission of
    * the same ids (batch ids above the bound are unmasked) — the CDC
    * delete-then-reinsert lifecycle. A plain [[admitDeleteBatch]]
    * masks unboundedly and needs a compaction before the id can live
    * again.
    */
  def admitScopedDeleteBatch(spark: SparkSession, ids: DataFrame,
      idCol: String, batchId: Long, root: String): Unit =
    admitDeleteBatchAt(spark, ids, idCol, batchId, root, currentGen(root),
      hwm = batchId - 1)

  /** COMPACT the current generation: merge every batch fragment of
    * postings (per-(term, bucket) cell merge — [[storeLookup]]'s
    * flatten + bounded re-sort, run ONCE at compaction instead of every
    * read), doclens (plain concatenation: doc ids are unique across
    * batches), and stats (summed to one row) into a single
    * `batch_id=<hwm>` fragment under `gen=G+1`, then atomically advance
    * `_CURRENT`. Compare-and-swap on `expectedGen`: a retry after
    * success (or a racing second compaction) no-ops; a retry after a
    * crash redoes idempotent per-path overwrites and then publishes.
    * Readers are generation-isolated throughout (old readers keep
    * scanning `gen=G`, which the compaction never writes). Returns the
    * published generation.
    *
    * 100 TB shape: ONE shuffle of the postings table keyed on
    * (term, bucket) — each reduce group is bounded by bucketSize ×
    * batch-count structs, never a term's full df — plus narrow unions;
    * the raw corpus is never touched.
    *
    * Straggler discipline ([[KeySetStore.compactStore]] /
    * [[VectorStore.compactGen]]): a batch admitted to `gen=G` AFTER the
    * fragment listing would otherwise vanish from `gen=G+1` while its
    * admit reported success (its pointer re-check can run before the
    * publish). The source generation is therefore re-listed and any new
    * batch copied through unmerged — once before the seal, once after
    * the pointer move; an admit landing later than that re-checks the
    * pointer itself and throws.
    */
  def compactStore(spark: SparkSession, root: String, expectedGen: Long): Long =
    compactStoreHooked(spark, root, expectedGen, () => ())

  /** FEDERATION MERGE — the scale-out ingestion pattern: partition the
    * crawl across K INDEPENDENT builders (no coordination, no shared
    * state, each runs the ordinary admit/compact lifecycle on its own
    * root) and merge the finished stores into one serving store at the
    * end. The merge is a BYTE-LEVEL parallel fragment copy
    * ([[GenStore.copyFragments]]) — the fragments are immutable sealed
    * parquet, so no decode, no re-encode, no Spark job: postings/
    * doclens/stats fragments copy under fresh sequential batch ids
    * (reads union fragments, so pairing never matters), pending DELETE
    * fragments ride along (a takedown admitted to one builder stays
    * pending in the merged store until its compaction), the occupied
    * data ids are sealed so later admissions cannot overwrite them,
    * and the RENUMBERED delete-id space is sealed too
    * ([[GenStore.deletesHwm]]) so a post-merge takedown cannot clobber
    * a carried builder takedown. No shuffle anywhere: stats stay
    * per-fragment rows the read-side aggregation already sums, so
    * merged serving is bit-identical to a single store admitted with
    * every builder's batches (spec gate). Crash-retryable: the data
    * seal is written last, so an unsealed target is a wipe-and-redo
    * prefix ([[GenStore.mergeOpen]]).
    *
    * Caller contract: doc_id spaces are disjoint across builders (the
    * same uniqueness admission already requires) and `dstRoot` is
    * fresh. Returns the published generation (1).
    *
    * `compactFirst` is the COMPACT-BEFORE-QUIESCE economics as a knob
    * (SCALE.md's K-sweep: K builders' uncompacted fragments hold ~K×
    * the postings bytes of one folded store — duplicated per-fragment
    * term entries, worse compression — so the byte-copy pays a
    * fragmentation tax that grows with K): fold each source to one
    * fragment (and apply its pending deletes) before listing, so the
    * copy moves near-minimal bytes and the merged store starts
    * compacted. Legal on quiesced sources — the quiesce fence guards
    * ADMISSION fronts only, and once the sinks re-pointed the merge is
    * the sources' sole actor.
    */
  def mergeStores(spark: SparkSession, srcRoots: Seq[String],
      dstRoot: String, compactFirst: Boolean = false): Long =
    GenStore.mergeStores(spark, srcRoots, dstRoot, layout.tables,
      if (compactFirst) Some(compactStore(spark, _, _)) else None,
      scopedFence = true)

  /** AGE-OUT RETENTION — the time-based sibling of the takedown
    * surface: compact the current generation keeping ONLY fragments
    * with `batch_id >= minRetainedBatch`; everything older is dropped
    * whole and the new generation's stats shrink to the survivors, so
    * post-expiry serving is bit-identical to an index that never saw
    * the aged-out batches. The sealed high-water mark still covers the
    * EXPIRED ids — replaying an aged-out batch is refused (it would
    * resurrect the dropped docs); re-ingesting that content is a NEW
    * admission under a fresh batch id, exactly like re-crawl after a
    * takedown.
    *
    * Granularity contract (the partition-drop stance of every LSM/
    * columnar store): retention drops FRAGMENTS, and a merged fragment
    * carries the high-water mark of its inputs — so a fold across a
    * retention boundary makes the merged data expire only when its
    * NEWEST input does. An operator running both policies compacts
    * within retention windows (the `maxFragments` dial) or expires
    * BEFORE compacting; expiry itself folds the survivors, so it never
    * needs a separate compaction pass. Cost: one compaction over the
    * surviving fragments — the dropped ones are never read.
    */
  def expireBatches(spark: SparkSession, root: String, expectedGen: Long,
      minRetainedBatch: Long): Long =
    compactStoreHooked(spark, root, expectedGen, () => (),
      _ >= minRetainedBatch)

  /** [[compactStore]] with a hook run between the fragment listing and
    * the merge — the test seam that makes the straggler sweep's race
    * window reproducible (the [[VectorStore.admitAt]] pattern).
    */
  private[graft] def compactStoreHooked(spark: SparkSession, root: String,
      expectedGen: Long, midHook: () => Unit,
      retain: Long => Boolean = _ => true): Long =
    GenStore.publish(spark, root, expectedGen, layout.table, retain,
        midHook) { l =>
      def frag(table: String, is: Seq[Long]) =
        Tables.parquet(spark, l.paths(s"${l.src}/$table", is): _*)
      // same fragments, with the admission batch_id retained as a column
      // (basePath keeps partition discovery on explicit-path reads) — the
      // scoped-delete mask is a per-(doc, batch) predicate
      def fragB(table: String, is: Seq[Long]) =
        Tables.parquet(spark, Map("basePath" -> s"${l.src}/$table"),
          l.paths(s"${l.src}/$table", is): _*)
      def write(df: DataFrame, table: String, id: Long): Unit =
        df.write.mode("overwrite").parquet(s"${l.dst}/$table/batch_id=$id")
      // stats recomputed from the surviving doclens rows — N, sum_dl
      // shrink exactly, so post-compaction BM25 needs no pending set
      def restat(id: Long): Unit =
        write(Tables.parquet(spark, s"${l.dst}/doclens/batch_id=$id")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).cast("long").as("sum_dl")),
          "stats", id)
      // posting cells rebuilt from surviving entries (struct sort restores
      // the doc_id order the admission layout guarantees); cells whose
      // entries all die disappear entirely, as a fresh build would have it
      def cells(entries: DataFrame): DataFrame =
        entries.groupBy(col("tok"), col("bucket"))
          .agg(sort_array(collect_list(col("p"))).as("postings"))
          .select(col("tok"), col("bucket"),
            size(col("postings")).cast("long").as("n_docs"), col("postings"))
      // pending deletes listed alongside the data fragments are applied
      // PHYSICALLY here: the compacted generation holds no trace of the
      // deleted docs (postings entries removed, doclens rows dropped,
      // stats recomputed) and starts with no pending set — bit-identical
      // to a store built without those documents. Scoped (hwm) deletes
      // apply per batch: a replaced doc's OLD copies die, its live copy
      // (admitted above the mask bound) folds through untouched.
      val del = if (l.delIds.isEmpty) None
        else Some(broadcast( // O(dead ids) — see pendingDeletes
          GenStore.deleteMask(
            Tables.parquet(spark, GenStore.MergeSchema, l.delPaths: _*), "doc_id")))
      del match {
        case None =>
          write(frag("postings", l.ids)
            .groupBy(col("tok"), col("bucket"))
            .agg(array_sort(flatten(collect_list(col("postings")))).as("postings"))
            .select(col("tok"), col("bucket"),
              size(col("postings")).cast("long").as("n_docs"), col("postings")),
            "postings", l.hwm)
          write(frag("doclens", l.ids).select(col("doc_id"), col("dl")),
            "doclens", l.hwm)
          write(frag("stats", l.ids)
            .agg(sum(col("n_docs")).cast("long").as("n_docs"),
              sum(col("sum_dl")).cast("long").as("sum_dl")),
            "stats", l.hwm)
        case Some(d) =>
          write(cells(maskLive(fragB("postings", l.ids)
              .select(col("tok"), col("bucket"), col("batch_id"),
                explode(col("postings")).as("p"))
              .withColumn("doc_id", col("p.doc_id")), d)),
            "postings", l.hwm)
          write(maskLive(fragB("doclens", l.ids), d)
            .select(col("doc_id"), col("dl")), "doclens", l.hwm)
          restat(l.hwm)
      }
      // a LISTED delete is purged by this compaction and NOT carried
      // pending — so it is re-applied to swept DATA stragglers (a delete
      // can land before a data batch admits inside the window; reads
      // applied the pending set to every fragment, and the published
      // generation must serve the same answers). A listed scoped delete
      // masks straggler i only if its bound reaches i — within one
      // fragment the mask is a plain anti-join against that subset.
      i => del.map(_.filter(col("del_hwm") >= lit(i))) match {
        case None => layout.tables.foreach(l.carry(spark, _)(i))
        case Some(d) =>
          write(cells(frag("postings", Seq(i))
              .select(col("tok"), col("bucket"), explode(col("postings")).as("p"))
              .withColumn("doc_id", col("p.doc_id"))
              .join(d, Seq("doc_id"), "left_anti")),
            "postings", i)
          write(frag("doclens", Seq(i)).select(col("doc_id"), col("dl"))
            .join(d, Seq("doc_id"), "left_anti"), "doclens", i)
          restat(i)
      }
    }

  /** [[storeLookup]] through the pointer. */
  def lookupCurrent(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    storeLookup(spark, genDir(root, currentGen(root)), terms)

  /** [[bm25SearchStore]] through the pointer. */
  def bm25SearchCurrent(spark: SparkSession, root: String,
      terms: Seq[String], k: Int): DataFrame =
    bm25SearchStore(spark, genDir(root, currentGen(root)), terms, k)

  /** [[bm25SearchStoreWhere]] through the pointer. */
  def bm25SearchCurrentWhere(spark: SparkSession, root: String,
      terms: Seq[String], k: Int, allowed: DataFrame): DataFrame =
    bm25SearchStoreWhere(spark, genDir(root, currentGen(root)), terms, k,
      allowed)

  /** [[phraseSearchStore]] through the pointer. */
  def phraseSearchCurrent(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    phraseSearchStore(spark, genDir(root, currentGen(root)), terms)
}
