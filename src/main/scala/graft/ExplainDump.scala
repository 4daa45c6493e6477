package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of representative
  * queries with the scale-relevant facts (PushedFilters, ReadSchema,
  * broadcast vs shuffle joins, partial/final aggregation) visible —
  * the `.explain` review the build rules require, kept as a committed
  * artifact so plan regressions show up in diffs.
  *
  * Usage: `sbt "runMain graft.ExplainDump"` from the repository root
  * (writes PLANS.md in the working directory).
  */
object ExplainDump {

  private val picks = Seq(
    "q02_filter_scan" -> "predicate pushdown + column pruning (O5/O6): all six comparisons reach PushedFilters; ReadSchema is the 4-column projection",
    "q03_agg_global" -> "single-pass AggResult (O7): one HashAggregate pair (partial/final), scan reads only the filter+agg columns",
    "q06_tpch_q1" -> "wide aggregation: 7 aggregates in one HashAggregate, decimal sums, one shuffle on the group keys",
    "q08_join_multi" -> "the 100 TB join shape: lineitem-orders shuffle join on the key, customer/nation broadcast, aggregation on top",
    "q12_topk" -> "top-k without global sort: TakeOrderedAndProject",
    "q24_minhash_neardup" -> "LSH dedup: shuffle on (band,bucket) for candidates (bucket-size cap shares the same exchange via its window count), hash joins back to shingle sets for verification — no all-pairs stage",
    "q30_cosine_topk" -> "ANN brute force: broadcast query vectors, narrow scoring, partial top-k aggregation before the per-query shuffle",
    "q35_ivf_topk" -> "IVF ANN with in-query recall gate: cell assignment is a narrow literal-centroid argmax over the scan (no crossJoin+window exchange of N*nlist rows); probes broadcast-join the cell-tagged corpus; the brute-force reference shares the same broadcast",
    "q61_merge_upsert" -> "MERGE/upsert: the base side is ONE broadcast left-anti hash join away from unchanged — no shuffle of the corpus at any scale; updates union in",
    "q63_fuzzy_join" -> "fuzzy entity resolution: BroadcastNestedLoopJoin by construction (edit distance is not equi-joinable), corpus scan narrow, probe side broadcast",
    "q66_pack_sequences" -> "sequence packing: ONE window (running sum partitioned by shard) over a narrow token-count projection; no global sort in the packing itself",
    "q69_bloom_semi" -> "bloom-prefiltered semi join: might_contain filter sits directly above the fact scan, dim side broadcast for the exact join — non-matching rows die before any join",
    "q70_pagerank" -> "iterative integer PageRank: per-iteration hash join + map-side-combined groupBy; edges localCheckpoint'd so the lineage does not grow with iterations",
    "q74_checks" -> "data-quality gate: all row-local checks in one aggregation (Expand for the distinct), FK check as broadcast left-anti join",
    "q88_zorder_skipping" -> "z-order layout payoff: the 2-D range box reaches PushedFilters on the clustered table's scan, so the tight per-row-group stats (proven by the in-query footer gate) actually prune",
    "q89_partition_pruning" -> "hive-partitioned read: PartitionFilters on event_type prune whole directories at listing time; only the data filter remains in PushedFilters",
    "q91_weighted_sample" -> "weighted sampling without replacement: TakeOrderedAndProject on the u^(1/w) score — k rows per partition cross to the driver, never a global sort",
    "q92_heavy_hitters" -> "Misra-Gries summary: ObjectHashAggregate partial/final pair — at most m counters per partition cross the shuffle, whatever the key cardinality",
    "q94_tpch_q5" -> "the 6-table TPC-H Q5 shape: ONE shuffle (lineitem⋈orders); region/nation/supplier/customer all BroadcastHashJoin; date+region filters pushed to the scans",
    "q96_duplicate_spans" -> "span-level dedup: postings explode narrow off the scan; the gram aggregation is a partial/final HashAggregate pair (boilerplate grams combine map-side); islands window is partitioned BY doc_id (bounded per-doc state, never a single-partition sort)",
    "q105_minhash_admission" -> "incremental near-dup admission: the new batch's band keys semi-join the persisted signature store (history never rescanned); per-doc hit count is a partial/final HashAggregate pair; no cartesian anywhere",
    "q106_tpch_q3" -> "TPC-H Q3 shape: ONE shuffle (lineitem⋈orders on the orderkey), segment-filtered customer BroadcastHashJoin, both date filters in PushedFilters, top-10 as TakeOrderedAndProject — no global sort",
    "q107_tpch_q10" -> "TPC-H Q10 shape: returnflag filter pushed to the lineitem scan, date window to orders; nation BroadcastHashJoin; group-by-customer aggregation partial/final; top-20 as TakeOrderedAndProject",
    "q99_gap_fill" -> "time-series gap fill: hourly aggregation and the forward-fill window share the user_id partitioning; the grid explode is narrow between them — per-user bounded state, parallel across users",
    "q109_tpch_q18" -> "TPC-H Q18 shape: the HAVING subquery is one partial/final HashAggregate over lineitem whose rare survivors semi-join orders (AQE can broadcast them); the final per-order aggregation reuses the orderkey partitioning of the lineitem join",
    "q110_tpch_q19" -> "TPC-H Q19 shape: the OR-of-ANDs predicate partially pushes — the extracted l_quantity bounds reach the lineitem scan's PushedFilters and the brand/size disjunction reaches the part scan; part side BroadcastHashJoin; no cartesian",
    "q111_bigram_lm" -> "bigram LM counts: explodes are narrow off the scan; both counts are partial/final HashAggregate pairs on token keys; V is a 1-row broadcast cross join; top-15 as TakeOrderedAndProject",
    "q116_ivfpq_topk" -> "IVF-PQ: corpus-side encode is one narrow pass (unitize kernel, replica-cell explode, residual + PQ-code kernels — no join, no shuffle); the probe list broadcasts so the corpus never moves; LUT scoring feeds the bounded top-k udaf; only the shortlist touches original vectors",
    "q112_cc_incremental" -> "incremental dedup-group admission: batch 1's persisted labels replay as star-forest edges unioned with batch 2's pairs — history edges never rescanned; the label iteration is the q57 Shiloach-Vishkin shape (hash joins + map-side-combined min-aggregations, localCheckpoint'd so lineage stays flat); the LSH candidate stage underneath is the q24 bucketed plan, no all-pairs",
    "q113_tpch_q21" -> "TPC-H Q21 decorrelation: the correlated EXISTS/NOT-EXISTS pair becomes two countDistinct aggregations joined back to the late-line stream — every JOIN exchange is on l_orderkey (the nLate side's Sort even reuses its aggregation's l_orderkey partitioning with no extra Exchange); the only other shuffles are the countDistincts' inherent (l_orderkey,l_suppkey) pre-aggregation phases and the final group-by-s_name; supplier and the gate-scale nSupp side are BroadcastHashJoin, top-20 is TakeOrderedAndProject",
    "q114_lm_score" -> "self-trained bigram-LM scoring: token/bigram count tables are partial/final HashAggregate pairs; the big exchange is the doc-bigram stream keyed (w1,w2) joining its count table; vocab is a 1-row broadcast cross join; the per-doc mean re-shuffles on doc_id; bottom-10 is TakeOrderedAndProject — nothing all-pairs",
    "q115_hashed_embedding" -> "feature-hashed embeddings: ONE narrow explode + ONE map-side-combinable aggregation builds every vector (32 conditional counts); the 1-row query side broadcasts; scoring is the codegen'd CosineSimilarity kernel; top-10 is TakeOrderedAndProject",
    "q117_tpch_q15" -> "TPC-H Q15 view reuse: the revenue aggregation is computed ONCE — the max side's partial-sum exchange shows ReusedExchange over the left branch's (this dump is the EXECUTED final adaptive plan: AQE performs exchange reuse at stage materialization, so the initial plan cannot show it), the 1-row max and supplier both BroadcastHashJoin back onto it",
    "q118_corpus_health" -> "per-source corpus health: two stacked map-side-combinable HashAggregate pairs (token frequency on (source,w), then the per-source rollup); ratios are scalar projections — one explode, two exchanges, nothing wide",
    "q119_ivfpq_persisted" -> "persisted composite index equality gate: two ivfPqSearch branches (fresh vs loaded centroids/books) — each is the q116 narrow-encode shape with broadcast probes (10 queries); the full-outer null-safe compare joins them on (query_id, rank); index load is two tiny parquet scans",
    "q121_tpch_q17" -> "TPC-H Q17 decorrelation: the correlated per-part avg fence becomes one map-side-combinable aggregation over the part-restricted lineitem rows, broadcast back onto the same rows — part subset and fence both BroadcastHashJoin, brand+size reach the part scan's PushedFilters, no cartesian/nested-loop anywhere (spec-asserted)",
    "q122_tpch_q22" -> "TPC-H Q22 decorrelation: the scalar avg subquery is a 1-row broadcast cross join (computed once, never per-row) and NOT EXISTS is a left-anti hash join against the date-filtered orders projection — the dormancy date reaches the orders scan's PushedFilters so the anti side ships only recent custkeys",
    "q125_tpch_q2" -> "TPC-H Q2 decorrelation (argmin witness): the correlated MIN subquery becomes one map-side-combinable min aggregation over the part-restricted rows, equality-joined back (broadcast) to select the witnesses — size filter in the part scan's PushedFilters, supplier BroadcastHashJoin, no cartesian",
    "q126_tpch_q20" -> "TPC-H Q20 decorrelation (nested IN + correlated HAVING sum): two aggregations share the l_partkey-restricted scan — per-(part,supplier) 1996 volume and per-part total — joined on l_partkey and filtered; survivors LEFT-SEMI into supplier; brand reaches the part scan, the 1996 window the lineitem scan; nothing correlated executes per row",
    "q120_knn_join" -> "distributed kNN join: the probe frame builds as a narrow map over the corpus scan (never collected) and the candidate join on cell carries NO broadcast hint (spec-asserted on the optimized plan) — strategy stays stats-driven, so this sf0.001 dump rightly shows the tiny probe side broadcast while the identical plan becomes the co-partitioned shuffle join at corpus scale; TopKAgg partial/final (ObjectHashAggregate pair) bounds what crosses the per-query shuffle; the BroadcastNestedLoopJoin branch is the fenced in-query brute-force recall gate, not the operator",
    "q123_ivfpq_admission" -> "incremental vector admission (store search vs fresh inline): the left branch reads the PERSISTED coded store — check the scan node reads the batch_id=N directory layout with ReadSchema limited to (cid, cv, cell, codes), the probed-cell In(cell) filter in PushedFilters (row-group skipping against the cell-sorted store layout), and NO encode expressions above it (encoding already on disk — that is the admission claim); the right branch is the q116 narrow inline encode of the same corpus; both feed the same broadcast-probe + TopKAgg shape and the full-outer equality compare joins their 5-row-per-query outputs",
    "q124_semdedup_knn" -> "SemDeDup on the kNN join: the edge stage underneath is exactly the audited q120 plan (narrow probe map, hint-free candidate join, TopKAgg partial/final); above it the threshold filter feeds Shiloach-Vishkin label iterations — hash joins + map-side-combined min-aggregations over (id, comp) pairs only (never vectors), with the singleton union a left-anti join of the vertex ids against edge endpoints; nothing all-pairs, no stage carries the corpus",
    "q127_semdedup_admission" -> "the incremental crawl-admission capstone: batch 2's query side reads the GROWN coded store (scan of batch_id=0 and batch_id=1 directories, ReadSchema (cid, cv, cell, codes) — history searched, never re-encoded); the candidate join stays hint-free (co-partition at scale); label replay is the q112 star-forest shape — batch 1's persisted labels enter as (id, comp) edges through hash joins + min-aggregations, so no component iteration ever rescans batch 1's vectors or edges; the final singleton union is an O(batch) left-anti join",
    "q128_index_refit" -> "refit actuator equality gate: the store branch scans gen=2's migrated coded directories (ReadSchema (cid, cv, cell, codes), no encode above the scan); the inline branch re-encodes the corpus from scratch under the same gen-2 artifact (the q116 narrow encode — unitize, replica-cell explode, residual+PQ-code kernels); both sides search through the same broadcast-probe + TopKAgg shape, and the gen-1 stability compare joins a 50-row collected literal frame — the refit machinery itself (fit, migrate, pointer move) ran eagerly before this plan and leaves no trace in it, which is the point: readers see plain generation-scoped scans",
    "q129_tpch_q13" -> "TPC-H Q13 (outer-join-aggregate): the o_orderpriority <> literal conjunct must appear in the ORDERS scan's PushedFilters/filter node, NOT above the join — as a right-side-only conjunct of a LEFT OUTER join it filters the right input safely, while the join itself stays outer so zero-order customers survive into count(o_orderkey)=0; both aggregations (per-customer count, then the histogram) are partial/final HashAggregate pairs; the sort is a tiny 2-column frame",
    "q130_transitional_search" -> "mid-refit serving: the final frame is only the three tiny equality-verdict joins (the per-state searches ran eagerly during construction), but the MID-state transitional search inside it is the audit target one level up: each side is the audited q123 coded-frame scan (gen-scoped directories, ReadSchema (cid, cv, cell, codes), no encode above the scan) and the merge is ONE k-bounded per-query TopKAgg over their union — check no side's plan references the other generation's directories and no full-corpus exchange appears between the sides and the merge",
    "q132_tpch_q7" -> "TPC-H Q7 (bidirectional nation-pair trade): both nation lookups and the nation-filtered supplier side BroadcastHashJoin; customer pre-filters to the two nations BEFORE its join (check the customer side of the orders join carries the nation filter below the exchange, not above); the one big shuffle is lineitem⋈orders on the orderkey with the 2-year shipdate window in the lineitem scan's PushedFilters; the (n1,n2) pair disjunction evaluates as a post-join Filter — it references both sides, so it structurally cannot push lower",
    "q133_tpch_q8" -> "TPC-H Q8 (market share): the widest TPC-H topology — check part (type-filtered), supplier⋈nation, and the region-restricted customer-key set are ALL broadcast, customer membership is a LEFT-SEMI BroadcastHashJoin (c_custkey unique: semi == inner without carrying customer columns), and lineitem⋈orders is the only shuffle; both CASE branches of the market-share ratio accumulate in ONE HashAggregate pair — there must be exactly one aggregation, never a second scan for the denominator",
    "q135_tpch_q11" -> "TPC-H Q11 decorrelation (scalar subquery in HAVING): the global-total threshold is a 1-row aggregate broadcast cross-joined above the per-part aggregation — computed ONCE (the oracle's correlated form re-evaluates it per HAVING row); supplier membership is a broadcast LEFT-SEMI directly on the lineitem scan so the corpus never shuffles before its per-part HashAggregate pair; both aggregations share the same region-restricted scan lineage",
    "q136_tpch_q12" -> "TPC-H Q12 (lateness classification): the defining constraint — l_shipdate >= o_orderdate + 60 days references BOTH join sides, so it must appear as a post-join Filter (structurally unpushable), while the single-column shipdate year window DOES reach the lineitem scan's PushedFilters; both priority classes count in one conditional-sum HashAggregate pair, never two passes",
    "q138_tpch_q16" -> "TPC-H Q16 (NOT-IN under count-distinct): the arrears exclusion is a broadcast LEFT-ANTI hash join (NOT IN on a non-null key), the attribute-filtered part side broadcasts with brand/type/size predicates in its scan's PushedFilters; count-distinct runs as Spark's two-phase distinct-aggregate — check the partial/final pair on the (brand,type,size) group key and that no row explosion precedes the anti join",
    "q131_tpch_q6" -> "TPC-H Q6 (pure scan query): ALL FOUR predicates (both shipdate bounds, the discount band, the quantity cap) must appear in the lineitem scan's PushedFilters — at 100 TB this query IS row-group pruning, nothing else; above the scan exactly ONE partial/final HashAggregate pair (decimal-exact revenue sum) and the 1-row exchange between them; no join, no other shuffle, ReadSchema limited to the 4 referenced columns",
    "q134_tpch_q9" -> "TPC-H Q9 (profit rollup): the red-name substring filter evaluates on the PART side (Contains reaches the part scan's filter; a substring predicate prunes ~87% of parts BEFORE broadcast), part and supplier⋈nation are BroadcastHashJoins, and the ONE shuffle is lineitem⋈orders on the orderkey; the profit expression (extendedprice/discount/retailprice/quantity) is a scalar projection above the joins feeding a single partial/final HashAggregate pair on (nation, year) — one pass, decimal-exact",
    "q137_tpch_q14" -> "TPC-H Q14 (promo ratio): both shipdate bounds in the lineitem scan's PushedFilters — one month of a 7-year range means ~98.8% of row groups prune on stats before the join; part is a BroadcastHashJoin carrying only (p_partkey, p_type); the conditional numerator and the denominator accumulate in the SAME single HashAggregate pair (check exactly one aggregation — a second scan for the denominator is the classic mistake this shape punishes); the ratio is a 1-row scalar projection",
    "q139_index_admission" -> "incremental retrieval-index admission: the search plan reads ONLY store rows — check the postings scan lists both batch_id directories with the 4-term isin filter in PushedFilters (term buckets, never the corpus), the stats side is a 1-row-per-batch scan aggregated and broadcast (cross join), and df is an aggregation of bucket sizes broadcast onto the exploded posting rows; since round 10 `dl` rides INSIDE the posting struct, so the corpus-sized doclens relation appears NOWHERE in this plan (r9's only non-broadcast exchange is structurally gone — the remaining exchange is the per-doc score aggregation over candidate rows only); the raw documents table must appear NOWHERE — text was touched at admission, which ran eagerly before",
    "q142_index_lookup_store" -> "index-store lookup surface: the ONLY file scan in the plan is the postings store (both batch_id directories) with the 4-term isin filter in PushedFilters and ReadSchema limited to (tok, n_docs, postings) — queried-term bucket rows only, never raw text, never doclens/stats; above it exactly ONE partial/final aggregation pair on tok (disjoint ascending buckets + unique doc admission make the global sorted flatten equal the per-cell-merge-then-concat form, so r9's intermediate (tok,bucket) exchange is structurally gone); rows entering it are bounded by bucketSize x batches — the linear-in-batch-count read cost this plan shows is exactly what q143's compaction bounds",
    "q143_index_compaction" -> "post-compaction serving: the BM25 search reads the COMPACTED generation — check the postings scan path is gen=2 with batch_id=2 (the single merged fragment) AND batch_id=3 (the post-compaction admission appended on top: two fragments total, not four), the term isin filter in PushedFilters, and the same candidates-only shape as q139 (stats/df broadcast, dl from the posting struct, no doclens, no raw text); the compaction itself (one (term,bucket)-keyed shuffle of index rows + the atomic _CURRENT swap) ran eagerly and correctly leaves NO trace here — readers see a plain store scan with a bounded fragment list",
    "q145_phrase_search" -> "positional phrase search: each phrase slot's candidate list comes off the SAME postings store scan (term isin filter in PushedFilters; ReadSchema includes the positions array), the slots meet on doc_id in an equi-join (at df scale both sides are candidate lists — broadcast here at toy scale, co-partitioned hash join at 100 TB; NEVER a nested-loop), and the adjacency test is the array_intersect of shifted position arrays as a scalar projection above the join — no corpus scan, no per-position explode (positions stay packed in their arrays end to end)",
    "q147_phrase_bm25" -> "phrase-constrained BM25 (two-stage phrase query): the membership side is the audited q145 positional-intersection plan, the ranking side is the audited q139 candidates-only score plan (stats/df broadcast, dl from the posting struct, no doclens), and they meet in ONE equi-join on doc_id — check both sides read ONLY the phrase terms' posting buckets (same isin PushedFilters on every store scan) and that the smaller intersection side drives the join; the raw corpus appears nowhere in either stage",
    "q141_snapshot_diff" -> "snapshot diff: ONE full-outer join of the two as-of version scans (hash join on the key; at toy scale AQE may broadcast a side — at 100 TB it is the co-partitioned shuffle) comparing payload STRUCTS, then the I/U/D classification as a scalar projection — no log replay, no per-version change storage, no second pass; both inputs are plain v<N> directory scans, the same cost shape as a current read",
    "q146_hybrid_retrieval" -> "hybrid retrieval capstone (RRF over BM25 + vector tiers, both from STORES): the BM25 side is the audited q139 candidates-only shape (postings scan with the term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct — raw documents appear NOWHERE); the vector side reads the coded store's primary replicas (ReadSchema (cid, cv, cell, codes), the nearest-cell filter as a scalar projection over the scan — no re-encode, the store is self-contained) into the brute-force top-k's broadcast+TopKAgg shape; the fusion is ONE full-outer equi-join on (query_id, doc_id) — both sides are k-bounded candidate lists, so at 100 TB this join moves KBs per query — and the final per-query rank is a window partitioned BY query_id (bounded state, parallel across queries; the BM25 side's global row_number over its own top-20 is a 20-row single-partition window, constant-size by construction)",
    "q148_sketch_compaction" -> "post-compaction sketch-store read: the store-side scan must list gen=2 with exactly TWO batch_id directories (the merged fragment + the post-compaction admission) and ReadSchema limited to (event_type, sk, batch_id) sketch rows — KBs however large the stream that produced them; above it ONE partial/final aggregation pair unions registers per key (hll_union_agg is the whole read cost); the events scan in this plan belongs to the ORACLE side (exact count-distinct + whole-corpus sketch the gates compare against), not the store read — the store path never touches raw events",
    "q149_heavyhitter_compaction" -> "post-compaction frequency-store read: the store-side scan lists gen=2's two fragments (merged m-entry summary + the appended batch) with ReadSchema (key, est, batch_id) — at most m rows per fragment, KBs forever; above it the MG merge is ONE ObjectHashAggregate partial/final pair (reduce and merge are the same pruning algebra, so at most m counters cross any exchange); the documents scan is the exact-count oracle side of the gate row, not the store read — the raw stream is never rescanned to serve hitters",
    "q155_ivfsq_topk" -> "IVF-SQ8 (the within-cluster resolution tier): structurally the q116 IVF-PQ shape — corpus-side encode is ONE narrow pass off the embeddings scan (unitize kernel, replica-cell explode, residual kernel, then sq_encode instead of pq codes; no join, no shuffle, no codebook anywhere because SQ has none to fit), the 10-query probe frame broadcasts carrying the unit query vector itself (d doubles — SMALLER than q116's m*k LUT payload), per-candidate scoring is the codegen'd sq_dot kernel inside the cell join's stage, TopKAgg partial/final bounds the shuffle at k*4 per query (q116 needs k*32 — the whole point: 8-bit-per-dim codes rank within-cluster candidates the 4-bit product codes cannot, so the shortlist collapses), and only the 4x shortlist touches original vectors in the exact re-rank; the BroadcastNestedLoopJoin branch is the fenced in-query brute-force recall gate, not the operator",
    "q157_sq_store_tier" -> "the SQ8 tier served from the persisted store (read-time tier dial): the store branch's scan must show ReadSchema (cid, cv, cell, sq) — the PQ codes column is NOT read (parquet pruning: each tier pays only for its own bytes) and NO encode expression sits above the scan (both tiers landed at admission from one residual pass); the probed-cell In(cell) filter reaches this scan exactly as in the audited q123 PQ read; scoring is the codegen'd sq_dot kernel against the broadcast probe frame (which carries the 64-double unit query vector, not a LUT); the fresh branch is the q155 inline encode of the same corpus; both feed TopKAgg partial/final at the CHEAP 4x shortlist and the full-outer null-safe compare joins their 5-row-per-query outputs",
    "q158_quantile_store" -> "post-compaction quantile-store read (the sketch-family triad's order-statistics member): the store-side scan lists gen=2's two fragments (the summed histogram + the appended batch) with ReadSchema (l_returnflag, bin, cnt, batch_id) — at most nbins rows per key per fragment, KBs forever, the lineitem scan in this plan is the gate construction's admission side, never the read path; above the store scan ONE partial/final aggregation pair re-sums (key, bin) cells, then the rank windows partition BY KEY over <= nbins rows each (bounded state, parallel across keys — no global sort, no corpus-sized exchange), and the four quantile picks are conditional mins in ONE aggregation; addition is associative so the compacted read is bit-identical to the fragmented one — the defining family gate",
    "q159_mmr_rerank" -> "diversified retrieval (MMR): the candidate pool is the audited q30 brute-force shape (broadcast query vectors, codegen'd cosine, TopKAgg partial/final bounding the shuffle at 25 rows per query); candidate vectors join back by id (pool side tiny — stats-driven broadcast); then ONE groupBy collects each query's bounded pool (the only shuffle MMR adds, k*poolFactor rows per query) and the greedy selection is a single codegen'd mmr_select kernel call per query row followed by a narrow posexplode — the sequential k-step greedy that cannot be one window function never touches the driver and never sees corpus-sized data; check no per-step join/shuffle ladder exists in the plan (the oracle pays five chained CTE steps; the engine pays one kernel)",
    "q156_interval_overlap" -> "two-sided range join (interval x interval): the defining NEGATIVE check again — a bare intersection predicate (a_s <= b_e AND b_s <= a_e) with no equi-key must NOT plan as a nested loop over the two order families; both sides' explode(sequence(...)) bucket replications are narrow above their pushed-filter orders scans (the mod-10 family split reaches PushedFilters), the sides meet in ONE equi-join on the bucket id (broadcast at this toy scale, the co-partitioned shuffle hash join at 100 TB — same plan, stats-driven strategy), the exact intersection predicate and the first-overlap-bucket dedup (bucket == floor(max(a_s, b_s)/width), pure integer arithmetic) are post-join Filters — no distinct anywhere, because the dedup is algebraic, not a shuffle",
    "q154_range_join" -> "bucketed range join: the defining check is NEGATIVE — the point-x-interval condition is a bare BETWEEN with no equi-key, yet it must NOT execute as a nested-loop/cartesian over the two relations; the bucketed rewrite surfaces it as an ordinary equi-join on the derived bucket id (broadcast here because 100 windows are tiny — at 100 TB the same plan becomes the co-partitioned shuffle hash join, exactly like the audited q120 candidate join) with the interval side's explode(sequence(...)) replication narrow above its input and the exact containment predicate as a post-join Filter; the one BroadcastNestedLoopJoin in the dump is NOT the range join — it is the 1-row min-event-time aggregate broadcast into the 100-row window construction (a constant-size cross by construction, the audited q111/q122 scalar-broadcast shape), computed once, never per data row",
    "q153_training_pipeline" -> "the training-data capstone (quality gate -> dedup admission -> token count -> packing, end to end): the quality score and token count are narrow codegen'd projections off the documents scan (no UDF, no shuffle); batch 2's band keys are per-row expressions meeting the signature-store scan in a LEFT-SEMI hash join on (band, bucket) with the per-doc hit count one partial/final HashAggregate pair (the audited q151 shape — history is never rescanned); the retained corpus unions and feeds EXACTLY ONE window (running sum partitioned BY source — per-shard bounded state, parallel across shards, the audited q66 shape); check there is no global sort before the packing window and no corpus-sized exchange anywhere except the window's shard partitioning — at 100 TB every stage is an O(batch) map or one bounded join per crawl batch",
    "q161_store_takedown" -> "post-takedown BM25 serving (the compaction already applied the delete set): the postings scan lists gen=2's single purged fragment with the term isin filter in PushedFilters and the audited q143 candidates-only shape above it (stats/df broadcast, dl from the posting struct) — check NO delete anti-join appears anywhere (the pending set is gone; a takedown costs the read path literally nothing after compaction) and the stats side is the shrunken single-row scan; the raw corpus appears nowhere; the PENDING-delete read this plan no longer needs is dumped as its own aux section below",
    "q162_store_mmr" -> "MMR from the persisted store (the 100 TB diversity composition): the pool side must be the audited q157 SQ-tier store read — coded scan with ReadSchema (cid, cv, cell, sq) (the PQ codes column is NOT read), broadcast probe frame, sq_dot scoring, TopKAgg partial/final, exact-cosine re-rank on the shortlist — and the candidate VECTORS come from VectorStore.vectors (a second scan of the SAME coded store reading only (cid, cv)): no raw-source table appears anywhere in the plan; above both, the q159 MMR shape — ONE groupBy collects each query's 25-row pool and the greedy is a single codegen'd mmr_select kernel call per query row plus a narrow posexplode, never a per-step join ladder",
    "q163_quantile_hdr" -> "HDR quantile-store read: the store-side scan lists the current generation's fragments with ReadSchema (l_returnflag, bin, cnt, batch_id) — at most nbins rows per key per fragment, KBs forever; ONE partial/final aggregation pair re-sums (key, bin) cells; the rank windows partition BY KEY over <= nbins rows each; bin-edge reconstruction (shifts off the bin id) is a scalar projection — EXACT integer math, no float log anywhere; the lineitem scans in this dump belong to the gate CONSTRUCTION (admission ran eagerly), never the read path",
    "q164_streaming_curation" -> "the streaming-curation capstone's final read: the retained corpus (landed per micro-batch by the foreachBatch job) scans as a plain batch_id-partitioned parquet source, token counts are narrow codegen'd projections, and the packing is EXACTLY ONE window (running sum partitioned BY source — the audited q66 shape, per-shard bounded state); check no global sort before the window and no corpus-sized exchange except the shard partitioning; the per-micro-batch internals (quality gate, store semi-join probe, band-key admission) are the audited q151/q153 plans and ran inside the stream",
    "q165_signature_takedown" -> "post-takedown dedup admission (the compaction already subtracted the deleted keys): the store side scans gen=2's single purged fragment with ReadSchema (band, bucket) — check NO delete anti-join appears (pending set applied and dropped; same zero-cost-after-purge claim as q161) and no distinct above the scan (the semi-join is multiset-insensitive); the probe's band keys build as narrow per-row expressions off the documents scan, meet the store in a LEFT-SEMI hash join on (band, bucket), per-doc hit count one partial/final HashAggregate pair — the audited q151 shape, unchanged by the takedown machinery; the PENDING-delete read is dumped as its own aux section below",
    "q166_quantile_retraction" -> "post-retraction quantile read: the store scans gen=2's single compacted fragment — the negated retraction fragment and the fully-retracted cells are GONE (physical purge), so the plan is indistinguishable from the audited q158 read over a store that never saw the retracted batch: ReadSchema (l_returnflag, bin, cnt, batch_id), one partial/final sum pair, per-key rank windows over <= nbins rows, conditional-min quantile picks in ONE aggregation; the lineitem scans are gate construction, not the read path",
    "q167_hard_negatives" -> "hard-negative mining (kNN minus SemDeDup components): the candidate stage is the audited q30 brute-force shape (broadcast 10-query frame, codegen'd cosine kernel, TopKAgg partial/final bounding the shuffle at 6 rows per query); the component labels join ON ID — two hash joins of label-sized (id, comp) rows against the k-bounded candidate list, never against vectors; the same-component exclusion is a post-join Filter and the re-rank is ONE window partitioned BY query_id over <= 6 rows; check nothing corpus-sized moves after the kNN stage and the label computation's plan underneath is the audited q124 shape",
    "q168_takedown_cutover" -> "the post-cutover serving read (v2 of the takedown capstone): the BM25 search resolves through the manifest pin to gen=3 — the generation the second compaction purged — so the plan must be the audited q143/q161 post-purge shape: postings scan of the single gen=3 fragment with the term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct, NO delete anti-join anywhere (the pending set died with gen 2's compaction) and NO manifest machinery (pin resolution is a driver-side file read; readers see a plain generation-scoped scan, which is the entire point of publishing takedowns as generation rolls)",
    "q170_curation_takedown" -> "the full-circle capstone's final read: the retained corpus scans as a batch_id-partitioned parquet source and the taken-down originals leave via ONE broadcast LEFT-ANTI hash join against the checkpointed takedown id set (the LSM read-side purge — id-sized, never corpus-shaped) before the q66 packing window (running sum partitioned BY source); check exactly one anti-join, no global sort before the window, and no corpus-sized exchange except the shard partitioning; the in-stream machinery (admission probes against the delete-subtracted key set, mid-stream compactions) ran inside foreachBatch and is audited as the q151/q153 and q165-pending shapes",
    "q172_curation_funnel" -> "the curation funnel report: quality score and token count are narrow codegen'd projections off the documents scan; the dedup-admission decision enters as the audited q151 LEFT-SEMI probe shape (band keys vs the signature store on (band, bucket), per-doc hit count one HashAggregate pair); the retained flag joins back BY ID and the report itself is ONE map-side-combined aggregation on source with conditional sums (no separate pass per metric); the dump shows documents scanned once per pipeline BRANCH (quality gate, probe keys, semi join, report) because this in-query form re-derives the decision frame — the production form is q164's, where decisions LAND in the retained store and the funnel reads one decision table; either way nothing corpus-sized moves except the per-source groupBy exchange",
    "q173_decontamination_purge" -> "the post-purge BM25 serving read of the decontamination capstone: detection (gram semi-join against the benchmark store) and the purge compaction ran eagerly, so the plan must be the audited q143/q161 post-purge shape — postings scan of the purged gen=2 fragment, term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct, NO delete anti-join (the contaminated docs are physically gone) and no gram-store scan (detection is not a read-path cost); the raw corpus appears nowhere",
    "q175_video_motion" -> "real-decode motion features: the fixture corpus enters as a driver-local relation (a parquet binary scan in production — the operator is source-agnostic), and the ENTIRE extraction is ONE object pipeline — DeserializeToObject -> MapPartitions (AVI container parse + ImageIO pixel decode + pairwise delta-squared fold, all inside the one flatMap) -> SerializeFromObject — check NO exchange appears anywhere except the final display Sort: per-row cost is the decode itself and the operator adds zero shuffles at any corpus size; non-AVI rows die INSIDE the flatMap (parser returns None), so no separate filter stage precedes the decode",
    "q182_video_curation" -> "motion-gated video curation: the plan is the q175 object pipeline (one MapPartitions decode) with the curation Filter (still_fraction/mean_diff_energy thresholds) sitting directly ABOVE the serialized motion features — a decoded-feature predicate structurally cannot push below the decode, and nothing else may separate them; check exactly ONE MapPartitions, ONE Filter, and no exchange before the display sort: curating a 100 TB video corpus costs exactly one decode pass, the decision itself is free",
    "q183_audio_curation" -> "audio curation (the third measured-feature modality): one MapPartitions (WAV header parse + rms/zero-crossing fold over the 16-bit samples) with the rms >= floor AND zcr > 0 Filter above it — check no exchange anywhere before the display sort and no second pass over the payload bytes; non-audio noise rows are dropped inside the flatMap (the JDK parser returns None), never in a separate corpus-sized stage",
    "q184_multimodal_curation" -> "the multimodal curation capstone: exactly TWO MapPartitions passes over the same binary corpus relation — the typed feature route (container-magic dispatch + image/audio decode) and the motion pass (video needs the per-frame-pair fold the feature route does not compute) — then three narrow Filters (one per modality's measured-feature rules) and a Union; check NO join and NO exchange before the final display Sort: curating a mixed 100 TB media column costs the two decode passes and nothing else, and each branch reads only the features its modality needs",
    "q181_store_health" -> "the maintenance dashboard's NEGATIVE audit: all three delete-capable stores hold data AND pending deletes when this frame is built, yet the plan must contain NO file scan of any store directory — every status row is driver-built from parquet FOOTER counts (GenStore.footerRowCount reads one footer per fragment file, no data pages, no Spark job), so the dashboard is a Union of LocalTableScans plus a projection and the display sort; check no FileScan node exists anywhere: a scheduler evaluates the whole fleet's maintenance posture without launching a job over store data — the cost model that makes per-batch policy evaluation affordable at 100 TB",
    "q185_mergeable_health" -> "the mergeable-store dashboard (sketch/frequency/quantile), same NEGATIVE audit as q181: three stores each holding two admitted fragments, yet the plan is a Union of driver-built LocalTableScan rows — check NO FileScan of any store directory appears (data cardinalities come from footer counts; the structurally-zero pending side is a driver constant because these stores have no delete surface — their takedown contract is the q176/q177 scoped rebuild)",
    "q180_maintenance_sweep" -> "the post-sweep serving read (v2 through the manifest): bm25SearchStore resolves the pin to the generation the POLICY-driven sweep purged, so the plan must be the audited q143/q161/q168 post-purge shape — single-fragment postings scan with the term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct, NO delete anti-join anywhere (the sweep's compactions folded every pending set away) and NO policy or manifest machinery (needsCompaction evaluated parquet footers at tick time, pin resolution is a driver-side file read); the verdict booleans are literal columns — check the takedown+maintenance lifecycle leaves the read path indistinguishable from a store that never saw a delete",
    "q174_compaction_policy" -> "the maintenance-trigger lifecycle's returned frame, a NEGATIVE audit in the q181/q185 dashboard discipline: every policy verdict (fresh_quiet, tight_threshold_fires, policy_fired_gen2, quiet_after_fold...) is a LITERAL column — needsCompaction evaluated parquet FOOTER counts on the driver (GenStore.footerRowCount: one footer read per fragment file, no data pages, zero Spark jobs) and compactIfNeeded ran eagerly — so the only FileScan in the plan is the documents count that sizes the gates; check NO signature-store directory appears in any scan: deciding WHETHER to compact must stay a metadata read a maintenance loop can afford every batch, and this plan is the proof the decision never touches store data",
    "q178_takedown_sink_policy" -> "the in-stream bounded-takedown gate frame, same NEGATIVE audit: the streaming sink (signatureTakedownIngest with compactAtPendingFraction) landed delete fragments, evaluated the footer-count predicate, and fired the mid-stream compaction entirely inside foreachBatch — all eager, none of it in this plan — so the returned frame is the documents count plus literal verdict columns; check NO store FileScan and NO streaming machinery appears: the per-micro-batch policy cost (one tiny fragment write + two footer reads) is driver-side metadata work, invisible to the read path, which is what lets the window stay bounded in-stream at any corpus size; the pending-window read itself is the audited q165-pending aux shape",
    "q179_vector_compaction_policy" -> "the vector-store policy lifecycle's returned frame: a driver-built local relation (the search results were collected across the fold to compare them) ordered for display — check NO FileScan at all, not even the corpus: every expensive read this query gates (the PENDING-delete kNN at 1.13x clean, the post-fold q150 store search, the from-scratch twin) ran eagerly and is audited in its own section (the q161 vector-pending aux, the q150 post-compaction aux); what this frame proves is that the policy verdicts — footer-counted delete markers vs KB stats-fragment vector counts — cost the plan nothing",
    "q186_token_budget_mix" -> "the training-mixture assembly step: token counts are a narrow codegen'd projection off the documents scan, the running-sum window partitions BY SOURCE ordered by the portable md5 draw (ONE exchange on source, per-source bounded sort state, parallel across sources — never a global sort), and the budget cut is a scalar Filter above the window; check exactly one exchange before the display sort and no join anywhere: assembling a tokens-per-source mix at 100 TB costs one shuffle of (id, source, ntok) triples, not documents",
    "q188_signature_retention" -> "the post-expiry re-admission probe (the re-crawl policy's serving read): the store side scans ONLY the surviving fragment (batch_id=1 — the expired batch 0 directory appears NOWHERE in the plan, the entire point of fragment-drop retention), the probe's band keys build as narrow per-row expressions off the documents scan, meet the store in the audited q151 LEFT-SEMI hash join on (band, bucket), per-doc hit count one partial/final HashAggregate pair; the lifecycle gates are literal columns — check no delete anti-join either (expiry is a fragment drop, not a pending set: there is nothing to subtract at read time, ever)",
    "q189_epoch_order" -> "per-epoch training order: BOTH epoch windows partition BY source, so the plan must show ONE exchange on source feeding two Window operators back to back (the second reuses the first's partitioning — no second shuffle; each epoch's rank is a different hash expression over the same partitioned stream); the hash draws are narrow codegen'd projections, no join anywhere, and the only other exchange is the display sort: re-ordering a 100 TB corpus for epoch N costs one shuffle of (id, shard) pairs — and nothing at all if the previous epoch's layout is still partitioned by shard",
    "q190_index_federation" -> "the merged store's serving read (two builders' fragments + builder B's pending takedown): the postings scan must list all FOUR renumbered batch_id directories under the merged gen=1 with the term isin filter in PushedFilters, and the carried delete set joins in as the audited q161-pending LEFT-ANTI broadcast shape at each bounded relation — check the plan is indistinguishable from a single-pipeline store with the same fragments and pending set (federation leaves no machinery in the read path; the merge itself was narrow fragment copies that ran eagerly), and the raw corpus appears nowhere",
    "q191_signature_federation" -> "the merged dedup memory's admission probe: the store side scans BOTH builders' renumbered fragments (two batch_id directories, ReadSchema (band, bucket)) feeding the audited q151 LEFT-SEMI hash join — no distinct above the scan (the probe is multiset-insensitive, so the cross-builder key overlap the merge tolerates costs nothing at read time), probe keys build narrow off the documents scan, per-doc hit count one partial/final HashAggregate pair; check no delete machinery and no merge machinery anywhere — a federated memory reads exactly like a single one",
    "q193_mergeable_federation" -> "the mergeable family's federated reads in one frame: the frequency side is the audited q92/q149 ObjectHashAggregate partial/final MG merge over the merged store's TWO copied fragments (at most m counters cross the exchange), the quantile side re-sums (key, bin) cells in one partial/final pair then windows per key over <= nbins rows, the sketch side is one hll_union_agg pair over KB sketch rows — check every store-side scan lists exactly two batch_id fragments and the joins above are key-count-sized (the events scan in the plan is the gate's exact-distinct oracle side, never the store read): federation changes the fragment COUNT, never the plan shape",
    "q194_federated_fleet" -> "the capstone's v2 serving read — BM25 through the manifest pin over the MERGED index store after the policy sweep purged the takedown: the postings scan must be the audited q143/q161/q168/q180 post-purge shape (single gen=3 fragment, term isin in PushedFilters, stats/df broadcast, dl from the posting struct), with NO delete anti-join, NO manifest machinery, and NO trace of federation (two builder fleets, a merge, a roll, a takedown and a policy sweep all ran eagerly and leave the read path indistinguishable from a store that lived one quiet life) — the whole round-13 claim in one negative audit",
    "q195_retention_cutover" -> "the retention cutover's v2 serving read (the q168 discipline applied to AGE-OUT): BM25 through the manifest pin over the EXPIRED generation — postings scan of gen=2's single fragment (the aged-out batch 0 appears nowhere; there is no delete set because expiry is a fragment drop), term isin in PushedFilters, stats/df broadcast, dl from the posting struct; NO anti-join, NO manifest machinery, NO vacuum trace (the pinned-generation protection and the post-retire drop ran eagerly against the filesystem) — retention, like takedown, costs the read path literally nothing once published",
    "q196_live_merge_quiesce" -> "the live-merge capstone's returned frame — the probe partition's admission decisions against the MERGED store after a mid-stream quiesce+merge+re-point: the store side scans the merged gen=1 fragments (builder A's copied batches + builder B's + the re-pointed sink's remapped admissions — five batch_id directories) feeding the audited q151 LEFT-SEMI hash join on (band, bucket), probe band keys build narrow off the documents scan, per-doc hit count one partial/final HashAggregate pair, lifecycle gates are literal columns; check NO quiesce/merge/stream machinery appears anywhere — the _MERGING marks, the movement fence, the id remap and the retire all ran eagerly against the filesystem, and a store assembled by a live merge reads exactly like one that never saw a stream",
    "q197_cdc_federation" -> "the CDC federation capstone's returned frame — the merged store's CURRENT snapshot after two post-merge DELTA publishes (r15's delta-log layout): the base is the merged v0 checkpoint scan (byte-copied src1-* files beside the resolve-written part files — the two merge movers, visible in one directory), and above it exactly TWO replay steps for the two pending deltas (policy-bounded by maxDeltas — never the store's history), each one max_by aggregation over a tiny delta scan joined to the state; check NO trace of the merge machinery (the state cut, the quiesce marks, the movement fence, the overlap refusal all ran eagerly) and that the deltas' scans are the 10-to-200-row change batches, never a second state scan — the read pays checkpoint + policy-bounded chain, the write path that used to rewrite the state per publish appears nowhere because it no longer exists",
    "q198_cdc_delta_log" -> "the delta-log CDC economics gate's returned frame — literal per-version stats captured eagerly, so the INTERESTING plans ran before this one: the as-of v4 read (a bare checkpoint scan: the policy folded the 3-delta chain at publish 4), the as-of v3 read pre-vacuum (checkpoint + 3 cdcApplyJoined replay levels — each level ONE full-outer sort-merge join whose state side reuses the previous level's hash partitioning on key, the linear plan shape that replaced the 2^N double-reference fold), and the post-vacuum v3 read (ONE scan of the sealed v3c promotion twin — a vacuumed-boundary version serves at checkpoint cost, zero replay); the returned frame itself is a 5-row literal toDF with the display sort",
    "q151_signature_compaction" -> "post-compaction dedup-admission read: the store side scans gen=2's two fragments (the cross-batch-distinct merged key set + the appended batch) with ReadSchema (band, bucket, batch_id) and NO distinct/aggregation above it — the generational read path drops the flat form's read-side distinct because the LEFT-SEMI probe is multiset-insensitive (one shuffle less per admission check); the probe batch's band keys build as narrow per-row expressions (shingle -> signature -> posexplode) off the documents scan, meet the store in a left-semi hash join on (band, bucket), and the per-doc hit count is a partial/final HashAggregate pair — admitted history is never rescanned or re-signatured, and the semi-join's store side shrinks to distinct-corpus size after compaction (q152's manifest reads resolve to exactly these audited store plans plus a driver-side pin-file lookup — no additional Spark plan exists to audit)",
    "q171_takedown_impact" -> "the rank-diff impact report's returned frame: both ranked lists were pinned with localCheckpoint (generation isolation made 'before' readable after the purge; the pins erase the upstream read plans, audited in the aux section below), so the report itself must be exactly ONE full-outer SortMergeJoin/BroadcastHashJoin of two 15-row LogicalRDD scans plus a null-safe classification projection — nothing corpus-sized anywhere: the compliance report costs two k-row lists and one k-row join whatever the corpus size; the RANKED-LIST READ under the pins is dumped as its own aux section below",
    "q203_cdc_sync_streaming" -> "the streamed-synced index's POST-COMPACTION lookup (the q203 returned frame — the stream's publish/tick/maintain machinery ran eagerly inside foreachBatch, and the armed policy folded the upsert history): the postings scan must list ONE compacted fragment per surviving batch range under the rolled generation with the term isin filter in PushedFilters, NO delete mask anywhere (the in-stream folds applied the scoped sets physically — the pending-window mask shape is the q201 aux section), and NO trace of the stream, the CDC store, or the sync watermark in the plan: a store maintained by a continuous corpus-tracking pipeline reads exactly like one that was built once from the final corpus, which is the whole q203 claim",
    "q205_cdc_federated_sync" -> "the federated synced index's POST-MERGE-TICK lookup (the q205 returned frame): the postings scan lists the merged gen=1 fragments — the two compacted builder fragments (renumbered batch_id=0,1) PLUS the post-rebind tick's admissions at the OFFSET batch ids (base+1 for the data batch; the rebind base sits above the merge seal, which is why the tick was admittable at all) — with the term isin filter in PushedFilters; the tick's pending scoped delete joins in as the r15 broadcast mask (LEFT-OUTER + hwm filter) over candidate rows only; check NO federation, quiesce, CDC or watermark machinery anywhere: two pipelines, a two-layer cut, a rebind and a cross-partition tick leave a read path indistinguishable from a single always-lived store with one pending upsert",
    "q206_sync_status" -> "the sync dashboard's NEGATIVE audit (the q181/q185 discipline applied to the corpus-tracking pair): both synced stores hold fragments AND pending scoped deletes, the vector store lags the log by one version, yet the returned frame must be a driver-built LocalTableScan (a toDF of per-store rows assembled from _CDC_SYNC/_CURRENT file reads and parquet FOOTER counts — GenStore.footerRowCount opens footers, never data pages) — check NO FileScan of any store, CDC or corpus directory appears anywhere in the plan: lag/fragments/pending are affordable every tick at any store size because the dashboard never launches a job over data",
    "q207_resync_cutover" -> "the resynced store's serving read (the q207 returned frame, after the vacuumed-watermark refusal, the fresh-root bootstrap, the manifest cutover and one post-cutover tick): the postings scan lists the bootstrap fragment plus the post-cutover tick's batch with the term isin filter in PushedFilters and the r15 scoped mask (LEFT-OUTER + hwm filter) over the tick's pending replace set — check NO manifest machinery (pin resolution is a driver-side file read) and NO trace of the retired r1 store or the vacuumed CDC versions: recovery from a lost retention window is a root swap behind a pointer, invisible to the read path")

  /** Queries whose audit target only exists in the EXECUTED final
    * adaptive plan: AQE performs exchange/stage reuse at stage
    * materialization, so a pre-execution explain structurally cannot
    * show ReusedExchange. These run (cheap at sf0.001) before dumping.
    */
  private val executeFirst = Set("q117_tpch_q15")

  /** Plans whose audit target lives INSIDE eager store machinery — the
    * catalog query's returned frame is a driver-built verdict table, so
    * the read path under audit never appears in it. These build the
    * store here and dump the actual serving plan.
    */
  private def auxPlans(spark: org.apache.spark.sql.SparkSession,
      sf: String): Seq[(String, String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions._
    import graft.streaming.EventStreams
    // q140: three published CDC versions, then the as-of read of v1
    val dir = Files.createTempDirectory("explain-q140-").toString + "/cdc"
    val cust = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    EventStreams.initCdcState(
      cust.filter(col("key") % 4 === 0).withColumn("seq", lit(0L)), dir)
    EventStreams.publishCdcBatch(spark, dir,
      cust.filter(col("key") % 8 === 0)
        .select(col("key"), (col("bal") + 100).as("bal"),
          lit(1L).as("seq"), lit("U").as("op")),
      Seq("key"), "seq", "op")
    EventStreams.publishCdcBatch(spark, dir,
      cust.filter(col("key") % 8 === 4)
        .select(col("key"), col("bal"), lit(2L).as("seq"), lit("D").as("op")),
      Seq("key"), "seq", "op")
    val cdcPlan = ("q140_time_travel (the as-of read itself)",
      "time travel: the q140 catalog row is a driver-built verdict table (its as-of reads ran eagerly), so this is the read under audit, dumped directly — cdcSnapshotAt(dir, 1) with v0/v1/v2 all on disk. Check the scan's Location lists exactly the .../v1 directory (v0 and v2 appear nowhere in the plan) and that NOTHING sits above the scan — no join, no window, no log replay: a historical read costs exactly one version-directory scan, same shape as a current read, which is the point of version checkpoints",
      EventStreams.cdcSnapshotAt(spark, dir, 1L))
    // q150: a 3-batch coded vector store, compacted, one batch appended
    // — the serving plan AFTER compaction is the audit target (the q150
    // catalog row is a driver-built verdict table)
    import graft.operators.{Similarity, VectorStore}
    val vroot = Files.createTempDirectory("explain-q150-").toString + "/vstore"
    val emb = Tables.load(spark, sf, "embeddings")
    val (vc, vb) = Similarity.fitIvfPq(emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", nlist = 16, kmeansIters = 2,
      m = 8, kcode = 16, pqIters = 2)
    VectorStore.init(spark, vroot, vc, vb)
    (0L to 2L).foreach(b => VectorStore.admit(spark, vroot,
      emb.filter(col("vec_id") % 4 === b), "vec_id", "embedding", b))
    VectorStore.compactGen(spark, vroot, expectedGen = 1L)
    VectorStore.admit(spark, vroot, emb.filter(col("vec_id") % 4 === 3),
      "vec_id", "embedding", 3L)
    val vplan = ("q150_vector_compaction (the post-compaction search itself)",
      "post-compaction vector serving: the q150 catalog row is a driver-built verdict table, so this dumps the search against the compacted store directly. Check the coded scan's Location is gen=2's coded directory with exactly TWO batch_id fragments (batch_id=2, the merged cell-clustered rewrite of batches 0-2, plus batch_id=3 appended after) and ReadSchema (cid, cv, cell, codes); the probed-cell In(cell) filter must sit in PushedFilters — against the compacted fragment's global cell-range layout that filter now skips whole FILES, not just row groups inside each batch file (the layout half of the compaction claim); above the scan the plan is the audited q123 store-search shape — broadcast probes, LUT scoring, bounded TopKAgg — with NO encode expressions (encoding is on disk; compaction never re-encoded)",
      VectorStore.search(spark, vroot, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 8, shortlistFactor = 16))
    val fplan = ("q199_filtered_ann (the filtered store search itself)",
      "filtered ANN (VectorStore.searchWhere): the q199 catalog row is the recall/containment gate frame, so this dumps the pre-filtered search directly, against the same compacted store as the q150 section. Check the allowed-id LEFT-SEMI hash join sits directly ABOVE the coded store scan — disallowed vectors die before any scoring, which is the pre-filter claim (a post-filter would score them and leak rank distortion) — with the allowed side built narrow off the embeddings scan and broadcast by stats (hint-free: a corpus-sized predicate frame co-partitions on the id instead); the probed-cell In(cell) filter must STILL sit in the coded scan's PushedFilters, i.e. cell pruning composes with the metadata filter rather than dying under the join; above the semi-join the plan is the audited q123/q150 store-search shape — broadcast probes, LUT scoring, bounded TopKAgg — with no encode above the scan",
      VectorStore.searchWhere(spark, vroot, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5,
        emb.filter(col("label") % 2 === 0).select("vec_id"),
        nprobe = 8, shortlistFactor = 16))
    // q144: refit to gen 2, vacuum gen 1, dump the POST-VACUUM serving
    // read (the q144 catalog row is a driver-built verdict table)
    val wroot = Files.createTempDirectory("explain-q144-").toString + "/vstore"
    val (wc, wb) = Similarity.fitIvfPq(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 16, kmeansIters = 2,
      m = 8, kcode = 16, pqIters = 2)
    VectorStore.init(spark, wroot, wc, wb)
    VectorStore.admit(spark, wroot, emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", 0L)
    VectorStore.admit(spark, wroot, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", 1L)
    VectorStore.refit(spark, wroot, expectedGen = 1L,
      nlist = 16, kmeansIters = 2, m = 8, kcode = 16, pqIters = 2)
    VectorStore.vacuumGenerations(wroot, keepLast = 1)
    val wplan = ("q144_vector_vacuum (the post-vacuum serving read itself)",
      "post-vacuum vector serving: the q144 catalog row is a driver-built verdict table (vacuum + the loud-failure probe ran eagerly), so this dumps the search against the RETAINED generation after gen 1 was tombstone-deleted. Check the coded scan's Location lists ONLY gen=2 directories — gen=1 (or its .deleted tombstone) appears NOWHERE in the plan, which is the whole retention claim: dropping superseded generations cannot perturb the serving read because readers were generation-scoped all along; above the scan the plan is the audited q123/q128 store-search shape (ReadSchema (cid, cv, cell, codes), broadcast probes, TopKAgg) with no encode above the scan",
      VectorStore.search(spark, wroot, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 8, shortlistFactor = 16))
    // q160: the SQ-tier kNN-join EDGE stage (the q160 catalog row is
    // the label table after eager component iterations — the join
    // under audit never appears in its final frame)
    val recrawl = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.select((col("vec_id") + (1L << 40)).as("vec_id"), col("embedding")))
    val sqCents = Similarity.fitCentroids(recrawl, "vec_id", "embedding",
      nlist = 16, iters = 2)
    val sqPlan = ("q160_semdedup_sq (the SQ-tier kNN-join edge stage itself)",
      "SemDeDup's SQ-tier edge stage: the q160 catalog row is the component-label table (edge building + label iterations ran eagerly through localCheckpoints), so this dumps the kNN join under audit directly. Check the corpus-side encode is ONE narrow pass off the embeddings scan — unitize, replica-cell explode, residual kernel, then sq_encode ONLY (no pq_encode, no codebook object anywhere in the plan: the SQ tier needs no codebook fit, part of why it wins this workload); per-candidate scoring is the codegen'd sq_dot kernel inside the cell equi-join's stage; the join carries NO broadcast hint (corpus-as-queries — co-partitioned shuffle at scale, stats-driven here); TopKAgg partial/final bounds the shuffle at k*4 per query (the SQ shortlist, vs PQ's 32x); only the shortlist touches original vectors in the exact re-rank",
      Similarity.ivfSqKnnJoin(recrawl, "vec_id", "embedding", 10,
        sqCents, nprobe = 12, nassign = 2, shortlistFactor = 4))
    // q161/q165: the PENDING-delete serving reads — the q161/q165
    // catalog rows return post-compaction frames (purged, anti-join
    // gone), so the window where the delete set is still pending is
    // the plan that needs its own dump
    import graft.operators.{Dedup, InvertedIndex, KeySetStore}
    val iroot = Files.createTempDirectory("explain-q161-").toString + "/istore"
    val docs = Tables.load(spark, sf, "documents")
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    InvertedIndex.initStore(iroot)
    InvertedIndex.admitBatch(spark, toks, "doc_id", "tk", 64L,
      batchId = 0L, root = iroot)
    InvertedIndex.admitDeleteBatch(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id",
      0L, iroot)
    val iplan = ("q161_store_takedown (the PENDING-delete BM25 read)",
      "takedown still pending (delete admitted, compaction not yet run): the postings scan is the audited q139 candidates-only shape, and the delete set joins in as the r15 SCOPED-DELETE MASK at each bounded relation it feeds (candidate posting entries, the doclens-derived stats inputs, per-term df): a BroadcastHashJoin LEFT-OUTER on doc_id against the (doc_id, max hwm) set followed by the mask filter (del_hwm null OR batch_id > del_hwm) — the batch_id comes from the partition column, zero extra bytes read; for this plain takedown every hwm is unbounded so the mask filters exactly what the old anti-join did, and the broadcast stays O(dead ids); check the raw corpus appears nowhere and no mask input is corpus-sized: pending-delete serving costs one small masked join per bounded relation, which is exactly what the next compaction folds away (the zero-cost post-purge plan is the main q161 section above)",
      InvertedIndex.bm25SearchCurrent(spark, iroot,
        Seq("join", "vector", "stream", "window"), 15))
    val f2plan = ("q200_filtered_bm25 (the filtered read, composed with a pending takedown)",
      "filtered BM25 (InvertedIndex.bm25SearchStoreWhere) against the SAME pending-delete store as the q161 section — the two restriction mechanisms compose: the allowed-id LEFT-SEMI hash join (the tenant filter) sits on the per-document score frame next to the takedown's broadcast mask joins (LEFT-OUTER + hwm filter since r15), all of them over candidate rows of the query's terms (df-sized, never the corpus) with the tiny allowed list broadcast by stats, hint-free; the corpus-level stats inputs (N, avgdl, df) are NOT filtered — the Lucene stance: a surviving doc's weight is bit-identical to its unconstrained weight, so the semi join may sit anywhere on the per-candidate doc_id stream but NEVER inside the stats legs; Catalyst actually pushes it BELOW the final per-doc score aggregation (legal: doc_id is the grouping key; fewer docs aggregate — strictly better than the declared position above it), while the broadcast stats legs stay unfiltered; candidates-only postings scan unchanged underneath (term isin in PushedFilters)",
      InvertedIndex.bm25SearchStoreWhere(spark,
        InvertedIndex.genDir(iroot, InvertedIndex.currentGen(iroot)),
        Seq("join", "vector", "stream", "window"), 15,
        docs.filter(col("doc_id") % 4 =!= 1).select("doc_id")))
    val kroot = Files.createTempDirectory("explain-q165-").toString + "/sigstore"
    KeySetStore.init(kroot)
    Dedup.admitMinHashBatch(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", n = 3, numHashes = 32, bands = 8,
      batchId = 0L, root = kroot, portableKeys = true)
    Dedup.deleteMinHashBatch(
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"), col("text")),
      "doc_id", "text", n = 3, numHashes = 32, bands = 8,
      batchId = 0L, root = kroot, portableKeys = true)
    val kplan = ("q165_signature_takedown (the PENDING-delete admission read)",
      "signature takedown still pending: the store side is the fragment scan with ONE LEFT-ANTI hash join against the delete fragments' distinct (band, bucket) rows — both sides index-sized key rows (the delete set broadcasts at any realistic purge size) — feeding the audited LEFT-SEMI admission probe; check the anti-join sits BETWEEN the fragment scan and the semi-join (subtract, then probe), the probe's band keys build narrow off the documents scan, and nothing corpus-sized enters either join; after compaction the anti-join disappears entirely (the main q165 section above)",
      Dedup.admitAgainstMinHashStoreGen(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3, numHashes = 32, bands = 8,
        root = kroot, portableKeys = true))
    // vector store PENDING-delete search — the r12-weak window, now
    // broadcast: the q161 catalog row returns post-compaction frames,
    // so the pending window needs its own dump (like iplan/kplan)
    val proot = Files.createTempDirectory("explain-vpend-").toString + "/vstore"
    VectorStore.init(spark, proot, vc, vb)
    VectorStore.admit(spark, proot, emb, "vec_id", "embedding", 0L)
    VectorStore.admitDeletes(spark, proot,
      emb.filter(col("vec_id") % 10 === 2).select("vec_id"), "vec_id", 0L)
    val pplan = ("q161_store_takedown (the PENDING-delete kNN read, vector store)",
      "vector takedown still pending (delete admitted, compaction not yet run) — the window SCALE.md prices at 1.13x clean after round 13's broadcast fix (was 2.85x): check the delete side enters as a BroadcastExchange feeding a BroadcastHashJoin LeftOuter + the scoped-mask filter (del_hwm null OR batch_id > del_hwm — r15's ordered deletes; batch_id is the partition column, zero extra bytes) sitting between the coded scan and the LUT scoring — the pending set is O(dead ids) by construction (minusDeleted broadcasts it explicitly), so the coded side's partitioning never reshuffles for the subtraction; check the probed-cell In(cell) filter STILL reaches the coded scan's PushedFilters below the anti-join (cell pruning survives the delete machinery — the scan reads ~nprobe/nlist of the store, deletes pending or not); above it the plan is the audited q123 store-search shape (broadcast probes, LUT scoring, bounded TopKAgg, shortlist-only exact re-rank); the compaction the needsCompaction policy triggers folds the anti-join away entirely (the main q150/q161 post-compaction sections)",
      VectorStore.search(spark, proot, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 8, shortlistFactor = 16))
    // q169: the POST-TAKEDOWN span-dedup read (the q169 catalog row is
    // a driver-built verdict table of span counts)
    val groot = Files.createTempDirectory("explain-q169-").toString + "/gstore"
    KeySetStore.init(groot)
    Dedup.admitGramBatch(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", minTokens = 8, batchId = 0L, root = groot,
      portableKeys = true)
    Dedup.deleteGramBatch(
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"), col("text")),
      "doc_id", "text", minTokens = 8, batchId = 0L, root = groot,
      portableKeys = true)
    val gplan = ("q169_gram_takedown (the PENDING-delete span read)",
      "gram-store takedown still pending: the store side is the gram-key fragment scan with ONE LEFT-ANTI hash join against the delete fragments' distinct gram rows — both sides key-hash rows, index-sized (the delete set is O(dead docs' grams) and broadcasts) — feeding the audited q96/q104 span machinery: probe grams build narrow off the documents scan (tokenize -> rolling 8-gram hash -> posexplode), meet the subtracted store in a LEFT-SEMI join on g, and the island/coverage aggregation is partitioned BY doc_id (bounded per-doc state); check the anti-join sits between the fragment scan and the semi-join, nothing corpus-sized enters either join, and the raw corpus appears nowhere on the store side; after the compaction the anti-join disappears (same zero-cost-after-purge claim as q161/q165)",
      Dedup.spansAgainstStoreGen(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"), col("text")),
        "doc_id", "text", minTokens = 8, root = groot, portableKeys = true))
    // q171: the RANKED-LIST read the impact report pins (the catalog
    // row's localCheckpoints erase this plan from its returned frame)
    val rroot = Files.createTempDirectory("explain-q171-").toString + "/istore"
    InvertedIndex.initStore(rroot)
    InvertedIndex.admitBatch(spark, toks, "doc_id", "tk", 64L,
      batchId = 0L, root = rroot)
    val rplan = ("q171_takedown_impact (the ranked-list read under the pins)",
      "one side of the impact report before its localCheckpoint pin: the BM25 store read is the audited q139/q143 candidates-only shape (postings scan with the term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct) capped to 15 rows by TakeOrderedAndProject, and the rank is a row_number window OVER THAT 15-ROW FRAME — the no-partition Window the warning flags is over k rows by construction, never the corpus (the report's rank arithmetic costs nothing at any corpus size); check the window sits ABOVE the top-k cut, not below it",
      InvertedIndex.bm25SearchCurrent(spark, rroot,
          Seq("join", "vector", "stream", "window"), 15)
        .withColumn("rank", org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))).cast("long")))
    // q187: the POST-EXPIRY index read (the q187 catalog row is a
    // driver-built verdict table; SCALE.md's "indistinguishable from a
    // never-saw-it store" claim cites the q188 signature-side audit —
    // this is the index side, dumped from an expired store directly)
    val eroot = Files.createTempDirectory("explain-q187-").toString + "/istore"
    InvertedIndex.initStore(eroot)
    (0L to 2L).foreach { b =>
      InvertedIndex.admitBatch(spark,
        toks.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
          org.apache.spark.sql.functions.lit(3)) === b),
        "doc_id", "tk", 64L, batchId = b, root = eroot)
    }
    InvertedIndex.expireBatches(spark, eroot, expectedGen = 1L,
      minRetainedBatch = 1L)
    val eplan = ("q187_index_retention (the POST-EXPIRY BM25 read)",
      "age-out retention's serving read, dumped from the expired store: expiry IS a compaction over the survivors (the dropped batch-0 fragment was never read), so the plan must be the audited q143/q161 post-purge shape — a postings scan of gen=2's SINGLE folded fragment with the term isin filter in PushedFilters, stats/df broadcast, dl from the posting struct; check the aged-out batch's directory appears NOWHERE in any scan Location, there is NO delete anti-join (expiry is a fragment drop — no pending set exists, ever), and no retention machinery of any kind sits in the plan: post-expiry serving is bit-identical in SHAPE to an index that never saw the aged-out docs, which is the plan-level half of the claim the q187 oracle proves value-level",
      InvertedIndex.bm25SearchCurrent(spark, eroot,
        Seq("join", "vector", "stream", "window"), 15))
    // q192: the MERGED vector store's search (the q192 catalog row is a
    // driver-built verdict table) — two same-artifact builders merged,
    // builder B's pending takedown carried
    val mbase = Files.createTempDirectory("explain-q192-").toString
    val (mra, mrb, mm) = (s"$mbase/a", s"$mbase/b", s"$mbase/m")
    Seq(mra, mrb).foreach(r => VectorStore.init(spark, r, vc, vb))
    VectorStore.admit(spark, mra,
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 0L)
    VectorStore.admit(spark, mrb,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", 0L)
    VectorStore.admitDeletes(spark, mrb,
      emb.filter(col("vec_id") % 2 === 1 && col("vec_id") % 7 === 3)
        .select("vec_id"), "vec_id", 0L)
    VectorStore.mergeStores(spark, Seq(mra, mrb), mm)
    val mplan = ("q192_vector_federation (the MERGED store's kNN read)",
      "the federated vector store's serving read (two builders' byte-copied fragments + builder B's carried pending takedown): check the probed-cell In(cell) filter reaches the coded scan's PushedFilters — CELL PRUNING SURVIVES THE MERGE, because the merge copied the cell-clustered fragments byte-for-byte (same row-group cell locality, same stats) and renumbering the batch_id directories touches nothing the pruning reads; the scan's Location must list BOTH renumbered fragments (batch_id=0 and 1) under the merged gen=1; the carried delete set enters as the audited broadcast mask (LeftOuter + hwm filter since r15 — an unbounded takedown's infinity bound is renumber-invariant, which is why the merge may carry it at all; finite-hwm scoped deletes are fenced out pre-copy) between the coded scan and the LUT scoring (the r13 1.13x-clean pending window, unchanged by federation); above it the plan is the audited q123 store-search shape (broadcast probes, LUT scoring, bounded TopKAgg, shortlist-only exact re-rank) — federation leaves NO machinery in the read path",
      VectorStore.search(spark, mm, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 8, shortlistFactor = 16))
    // q176: the scoped sketch rebuild's WRITE-SIDE frame (rebuildKeys
    // ran eagerly inside the catalog row; this is the exact frame it
    // materializes, built by the same code path)
    import graft.operators.{HeavyHitters, SketchStore}
    val sroot = Files.createTempDirectory("explain-q176-").toString + "/sstore"
    val ev = Tables.load(spark, sf, "events")
    SketchStore.initStore(sroot)
    (0L to 1L).foreach { b =>
      SketchStore.admitBatch(spark,
        ev.filter(org.apache.spark.sql.functions.pmod(col("event_id"),
          org.apache.spark.sql.functions.lit(2)) === b),
        Seq("event_type"), "user_id", b, sroot)
    }
    import spark.implicits._
    val affectedT = Seq("click", "view")
    val sgen = graft.operators.GenStore.genDir(sroot, 1L)
    val sids = graft.operators.GenStore.listBatchIds(spark, sgen)
    val splan = ("q176_sketch_takedown_rebuild (the scoped rebuild's merge frame)",
      "the frame rebuildKeys materializes as the new generation (the q176 catalog row is a driver-built verdict table; this is the same frame from the same code path): the claim 'recompute ONLY the affected keys from the surviving slice' must be visible — check (a) the CARRIED side is the KB-sized sketch-fragment scan (ReadSchema (event_type, sketch, lgk)) minus a BroadcastHashJoin LeftAnti on the affected keys feeding hll_union_agg — register union, no data rows; (b) the REBUILT side reaches the events corpus through a BroadcastHashJoin LeftSemi on the same 2-row affected-key relation BEFORE the hll_sketch_agg, so the only aggregation that touches corpus rows processes the affected keys' survivors and nothing else (at 100 TB with the corpus partitioned by key, that semi-join is also the partition-pruning hook); (c) the two sides meet in a Union with no exchange above it — the rebuild writes one fragment, reads the corpus once, and never rescans unaffected history",
      SketchStore.rebuildFrame(spark, sgen, sids, Seq("event_type"),
        "user_id", affectedT.toDF("event_type"),
        ev.filter(!(col("event_type").isInCollection(affectedT) &&
          col("user_id") % 10 === 3)), 12))
    // q177: the frequency rebuild's recomputed-fragment summary (the
    // carry side is now a BYTE copy — GenStore.copyFragments — so the
    // only Spark plan the rebuild runs is this summarize)
    val hplan = ("q177_frequency_takedown_rebuild (the rebuilt fragment's summary)",
      "the ONLY Spark plan HeavyHitters.rebuildBatches runs (the unaffected fragments are carried by BYTE-LEVEL copies — GenStore.copyFragments, literally bit-for-bit, no decode, no Spark job — so the scoped-rebuild cost IS this frame): the affected batch's surviving slice aggregates through the audited q92/q149 MG shape — ObjectHashAggregate partial/final with at most m counters crossing the exchange — off ONE events scan with the survivor predicate sitting directly above it as a codegen'd Filter (modulo predicates are not parquet-pushable — only the IsNotNull guards reach PushedFilters); check nothing else scans the corpus, and no store fragment appears anywhere (the store side of a scoped rebuild costs zero reads for unaffected fragments, which is the entire economics claim SCALE.md prices)",
      HeavyHitters.summarize(
        ev.filter(org.apache.spark.sql.functions.pmod(col("event_id"),
            org.apache.spark.sql.functions.lit(2)) === 0 &&
          !(col("user_id") % 10 === 3)),
        "event_type", 64))
    // q201/q202: the PENDING-UPSERT masked reads — the r15 scoped-delete
    // window between a sync tick and the next compaction, where TWO
    // physical copies of a replaced doc exist and exactly one serves
    // (the catalog rows return post-compaction/gate frames)
    val uroot = Files.createTempDirectory("explain-q201-").toString + "/istore"
    InvertedIndex.initStore(uroot)
    InvertedIndex.admitBatch(spark, toks, "doc_id", "tk", 64L,
      batchId = 0L, root = uroot)
    InvertedIndex.admitReplaceBatch(spark,
      docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" graftsync"))).as("tk")),
      "doc_id", "tk", 64L, batchId = 1L, root = uroot)
    val uplan = ("q201_cdc_index_sync (the PENDING-upsert masked BM25 read)",
      "the sync tick's serving window — %10 docs were REPLACED (scoped delete at hwm=0 + re-admission at batch 1), compaction not yet run, so both physical copies are on disk and the read must serve exactly the new one: the postings scan lists BOTH batch_id directories with the term isin filter in PushedFilters, and the r15 scoped mask sits above each bounded candidate relation as a BroadcastHashJoin LEFT-OUTER on doc_id against the (doc_id, max hwm) set plus the mask filter (del_hwm null OR batch_id > del_hwm) — batch_id is the partition column, so deciding WHICH copy lives costs zero data bytes; the stats legs subtract exactly the masked doclens rows (N and sum_dl count each replaced doc ONCE, at its new length — the bit-equality claim q201 oracle-gates); check no mask input is corpus-sized and the raw corpus appears nowhere; the next compaction folds the mask away entirely (the q161/q180 post-purge shape)",
      InvertedIndex.bm25SearchCurrent(spark, uroot,
        Seq("graftsync", "join", "vector"), 15))
    val u2root = Files.createTempDirectory("explain-q202-").toString + "/vstore"
    VectorStore.init(spark, u2root, vc, vb)
    VectorStore.admit(spark, u2root, emb, "vec_id", "embedding", 0L)
    VectorStore.admitReplace(spark, u2root,
      emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), org.apache.spark.sql.functions.reverse(
          col("embedding")).as("embedding")),
      "vec_id", "embedding", batchId = 1L)
    val u2plan = ("q202_cdc_vector_sync (the PENDING-upsert masked kNN read)",
      "the vector sync tick's serving window — %5 vectors were RE-EMBEDDED (scoped delete at hwm=0 + re-encode at batch 1), compaction not yet run: the coded scan lists BOTH batch_id directories with the probed-cell In(cell) filter STILL in PushedFilters (cell pruning survives the upsert machinery — each copy was encoded into its own nearest cells, and the mask decides between them after the pruned scan), and the scoped mask is the BroadcastExchange -> BroadcastHashJoin LEFT-OUTER + hwm filter between the scan and the LUT scoring (batch_id from the partition column, zero extra bytes; the old encodings die in the filter, the new ones score); above it the audited q123 store-search shape — broadcast probes, LUT scoring, bounded TopKAgg, shortlist-only exact re-rank; the next compaction folds both copies to one and the mask away (the q150 post-compaction shape)",
      VectorStore.search(spark, u2root, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 8, shortlistFactor = 16))
    // q208: the AS-OF lookup over the synced index — the returned
    // catalog frame is a captured literal, so the time-travel read
    // itself is dumped here (same store as the q201 upsert-window aux:
    // batch 0 plus the replace tick at batch 1 — the as-of bound 0
    // excludes the tick's fragment AND its scoped delete)
    val a8plan = ("q208_sync_time_travel (the AS-OF lookup itself)",
      "time travel on the synced index (storeLookupAsOf, bound = 0 against the q201-aux store whose replace tick sits at batch 1): BOTH cuts must be PARTITION prunes — check the postings scan's PartitionFilters carries batch_id <= 0 (the tick's fragment never enters the plan, so the read costs what the store cost at version 0) and the delete-side scan carries the same bound in ITS PartitionFilters, which at this bound empties the delete set (the scoped delete belongs to the excluded tick); the term isin filter stays in PushedFilters underneath; the answer is bit-equal to what storeLookup returned before the tick — an as-of read is the ordinary read of an older fragment prefix, no log, no replay, no snapshot copies",
      InvertedIndex.storeLookupAsOf(spark,
        InvertedIndex.genDir(uroot, InvertedIndex.currentGen(uroot)),
        Seq("graftsync", "join", "vector"), bound = 0L))
    Seq(cdcPlan, vplan, fplan, wplan, sqPlan, iplan, f2plan, kplan, pplan,
      gplan, rplan, eplan, mplan, splan, hplan, uplan, u2plan, a8plan)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-explain")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries\n\n")
    sb.append("Generated by `graft.ExplainDump` on sf0.001. The annotations\n")
    sb.append("name what to check; regenerate after plan-affecting changes.\n")
    def dump(name: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      // clip giant literals (e.g. q69's inlined bloom-filter bytes) —
      // the plan SHAPE is the audit target, not the constant payload
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(plan.linesIterator.map { l =>
        if (l.length > 400) l.take(400) + s"…[${l.length - 400} chars clipped]"
        else l
      }.mkString("\n"))
      sb.append("\n```\n")
    }
    picks.foreach { case (name, note) =>
      val df = Queries.queries(name)(spark, sf)
      if (executeFirst(name)) df.collect()
      dump(name, note, df)
    }
    val aux = auxPlans(spark, sf)
    aux.foreach { case (name, note, df) => dump(name, note, df) }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size + aux.size} plans)")
    spark.stop()
  }
}
