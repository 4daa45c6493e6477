package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HashExprs, TextFunctions, VectorFunctions}

/** Deduplication operators for web-scale corpus curation — exact,
  * MinHash-LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale stance (the part that matters at 100 TB):
  *  - exact dedup is one hash-partitioned groupBy on the dedup key — the
  *    minimal shuffle for the semantics;
  *  - near-dup NEVER does an all-pairs comparison: MinHash-LSH banding
  *    turns O(N^2) similarity into a shuffle on (band, bucket) keys where
  *    only same-bucket rows meet, then candidate pairs are verified with
  *    the exact measure. Bucket skew (a degenerate shingle shared by
  *    millions of docs) is handled by AQE skew-join splitting plus the
  *    signature length / band count knobs;
  *  - signatures are computed with deterministic XXH64-based families
  *    (graft.functions.HashExprs), so executors agree without coordination.
  *
  * The reference engine has no dedup surface (its README's own scope list,
  * /root/reference/README.md:127-138); these are north-star operators.
  */
object Dedup {

  // per-invocation suffix for observed-metric names (duplicate
  // CollectMetrics names in one query are an analysis error)
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup: keep the minimal row per key, ordered by survivorCol
    * first (nulls first, per struct ordering) with the remaining-column
    * tuple as tie-break. Every output column comes from the SAME
    * orderKey-minimal row — a deterministic function of the data
    * regardless of partitioning, never a synthetic mix of tied rows.
    * One shuffle on the key; min_by avoids a sort.
    */
  def exact(df: DataFrame, keyCols: Seq[String], survivorCol: String): DataFrame = {
    val others = df.columns.filterNot(c => keyCols.contains(c) || c == survivorCol)
    val orderKey = struct((survivorCol +: others).map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(
        min_by(col(survivorCol), orderKey).as(survivorCol),
        others.map(c => min_by(col(c), orderKey).as(c)): _*)
  }

  /** Per-doc distinct word n-gram shingle sets: (id, shingles). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), n).as("sh"))

  /** Near-duplicate pairs by MinHash-LSH with exact-Jaccard verification.
    *
    * Pipeline: shingle -> minhash signature (numHashes) -> band into
    * `bands` buckets of r = numHashes/bands rows -> self-join on
    * (band, bucket-hash) for candidates -> verify exact Jaccard >= threshold.
    * With (128, 32) the candidate probability at j=0.8 is
    * 1-(1-0.8^4)^32 ≈ 1-5e-8, i.e. recall ~1 above threshold while docs
    * below j≈0.5 almost never become candidates.
    *
    * Output: (id_a, id_b, inter, uni, jaccard), id_a < id_b.
    *
    * `maxBucketSize = 0` (the default) derives the cap from corpus size:
    * `max(1000, 4 * sqrt(N))`, so the worst case a single degenerate
    * bucket can contribute is ~16N candidate pairs — the quadratic term
    * stays LINEAR in corpus size at every scale, instead of a constant
    * cap that is simultaneously too tight for 10B docs and too loose for
    * 100k. N is read with one `count()` on the input (footer-only for a
    * parquet-backed frame); pass an explicit cap to skip that job.
    */
  def minHashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucketSize == 0 || maxBucketSize > 1,
      "maxBucketSize must allow at least one pair (or 0 = adaptive)")
    val bucketCap =
      if (maxBucketSize > 0) maxBucketSize.toLong
      else math.max(1000L, 4L * math.sqrt(docs.count().toDouble).toLong)
    val r = numHashes / bands
    // recomputed (cheap, narrow) rather than cached: pinning the full
    // per-doc shingle sets in executor storage for the session lifetime
    // is the wrong trade at corpus scale.
    // Empty shingle sets (docs shorter than n tokens) are excluded up
    // front: they all share the sentinel signature, which would funnel
    // every short doc of the corpus into one bucket (an O(M^2) hot key)
    // and their pairwise Jaccard is 0/0-undefined anyway. Matches the
    // oracle's WHERE len(tk) >= n.
    val sets = shingleSets(docs, idCol, textCol, n).filter(size(col("sh")) > 0)

    val sigs = sets.select(col("id"),
      HashExprs.minhashSignature(col("sh"), numHashes).as("sig"))
    // one row per (doc, band): bucket key hashes the band's slice of the sig
    val banded = sigs.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(b, slice(col("sig"), b * r + 1, lit(r)))))
      .as(Seq("band", "bucket")))
      .select(col("id"), col("band"), col("bucket"))

    // Degenerate-bucket cap: a boilerplate shingle shared by millions of
    // docs would turn one (band, bucket) into an O(M^2) candidate bomb.
    // Buckets over the cap are dropped — NEVER silently: the drop
    // count is emitted as an observed metric ("graft.minhash_lsh" /
    // dropped_band_buckets, logged by GraftSession's listener when the
    // query runs, zero extra passes over the data). A doc in one hot
    // bucket keeps its other (bands-1) buckets, so only pairs whose
    // EVERY matching band is oversized are lost — at web scale those are
    // exact-duplicate boilerplate clusters, which belong to [[exact]]
    // dedup upstream, not to LSH.
    // The window count shuffles on the same (band, bucket) key the
    // candidate self-join needs, so the exchange is reused, not added —
    // and ReuseExchange dedups the banded-signature exchange across the
    // two self-join sides even though only one carries the metrics node
    // (verified: 2 ReusedExchange under a forced shuffle join), so the
    // shingle+minhash map work runs once at scale.
    val a = cappedBuckets(banded, bucketCap, Some("graft.minhash_lsh")).alias("a")
    val b = cappedBuckets(banded, bucketCap, None).alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifyJaccard(candidates, sets, threshold)
  }

  /** Degenerate-bucket cap shared by every banded-LSH candidate path
    * (MinHash shingle buckets and sign-LSH embedding buckets): rows of
    * (band, bucket) groups larger than `bucketCap` are dropped — NEVER
    * silently: when `metricPrefix` is set, the drop count is emitted as
    * an observed metric (oversized_rows / dropped_band_buckets, logged by
    * GraftSession's listener when the query runs — zero extra passes over
    * the data). The window count shuffles on the same (band, bucket) key
    * the candidate self-join needs, so the exchange is reused, not added.
    *
    * The metric node may appear only once per query (CheckAnalysis
    * rejects a duplicated CollectMetrics name), so only ONE side of a
    * self-join should pass `metricPrefix`; the name also carries a
    * per-invocation sequence number so two LSH calls composed into one
    * query never collide. Observed metrics forbid DISTINCT aggregates;
    * the dropped-bucket count is still exact without one: every row of an
    * oversized bucket contributes 1/__n, so each bucket sums to exactly 1.
    */
  private def cappedBuckets(
      banded: DataFrame, bucketCap: Long, metricPrefix: Option[String]): DataFrame = {
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val counted = banded.withColumn("__n", count(lit(1)).over(wb))
    val maybeObserved = metricPrefix.fold(counted)(prefix => counted.observe(
      s"$prefix.${metricSeq.incrementAndGet()}",
      sum(when(col("__n") > bucketCap, 1L).otherwise(0L)).as("oversized_rows"),
      round(sum(when(col("__n") > bucketCap,
        lit(1.0) / col("__n")).otherwise(0.0))).cast("long")
        .as("dropped_band_buckets")))
    maybeObserved.filter(col("__n") <= bucketCap).drop("__n")
  }

  /** Exact Jaccard verification of candidate (id_a, id_b) pairs against
    * shingle sets; the only joins are hash joins on doc id.
    */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val withSets = candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    withSets
      // uni > 0 guard: two empty sets give 0/0, which under Spark's
      // default ANSI mode is a DIVIDE_BY_ZERO error, not NaN (empty sets
      // are also pre-filtered upstream; this keeps the helper total)
      .filter(uni > 0)
      .select(col("id_a"), col("id_b"), inter.as("inter"), uni.as("uni"),
        (inter.cast("double") / uni).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact n-gram-Jaccard near-dup pairs (no LSH): correct for any
    * threshold but O(N^2) compare — the verification oracle for
    * [[minHashNearDupPairs]] and the right tool only for small N.
    *
    * The cartesian is structurally fenced, not just documented: the
    * operator counts the input up front (one cheap narrow pass) and
    * refuses to build the pair plan beyond `maxDocs` rows, so pointing
    * it at a corpus-sized table fails fast with a pointer to the LSH
    * path instead of launching an O(N^2) job.
    */
  def exactJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDocs: Long = 100000): DataFrame = {
    // fence on the RAW row count (an upper bound on shingled docs): one
    // cheap count, no shingling work spent before the refusal
    val nDocs = docs.count()
    require(nDocs <= maxDocs,
      s"exactJaccardPairs is an all-pairs O(N^2) verification oracle: got " +
        s"$nDocs docs > maxDocs=$maxDocs. Use minHashNearDupPairs for corpus-" +
        "scale near-dup detection (LSH-then-verify, no all-pairs stage).")
    require(threshold > 0,
      "exactJaccardPairs needs threshold > 0 (candidate pruning keeps " +
        "only pairs sharing a shingle; zero-overlap pairs have J = 0)")
    val sets = shingleSets(docs, idCol, textCol, n).filter(size(col("sh")) > 0)
    // EXACT with inverted-index candidate pruning: a pair with J >= any
    // positive threshold shares at least one shingle, so joining the
    // exploded postings on the shingle generates a superset of every
    // qualifying pair, and the exact intersect/union verification below
    // is unchanged. Same results as the naive cartesian, but compare
    // count is sum over shingles of df^2 instead of N^2 — 12.5M pairs ->
    // ~30k candidates on the sf0.1 corpus (651 s -> seconds). The fence
    // stays: a corpus whose shingles are ubiquitous degenerates back to
    // ~N^2 candidates, and the LSH path is the corpus-scale tool.
    val posted = sets.select(col("id"), explode(col("sh")).as("g"))
    val pairs = posted.as("pa")
      .join(posted.as("pb"),
        col("pa.g") === col("pb.g") && col("pa.id") < col("pb.id"))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"))
      .distinct()
    verifyJaccard(pairs, sets, threshold)
  }

  /** 64-bit SimHash fingerprint per document over word n-gram shingles
    * (XXH64 family — the fast native-kernel path).
    */
  def simHashFingerprints(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("id"),
      HashExprs.simhash64(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), n)).as("simhash"))

  /** Majority-vote 32-bit simhash half over md5-derived per-shingle
    * hashes: bit j is set iff strictly more than half the shingles have
    * bit j set in `hex8(md5(shingle))[off..off+8)` — exactly the native
    * kernel's vote rule, over a hash family every SQL engine can
    * recompute (md5 is bit-identical everywhere; XXH64 is not).
    */
  private def md5VoteHalf(sh: Column, off: Int): Column = {
    val hs = transform(sh, s => conv(substring(md5(s), off, 8), 16, 10).cast("long"))
    (0 until 32).map { j =>
      when(lit(2) * size(filter(hs, h => h.bitwiseAND(lit(1L << j)) =!= lit(0L))) > size(hs),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Portable SimHash fingerprints as two 32-bit halves (id, sim_hi,
    * sim_lo) — same Charikar construction as [[simHashFingerprints]] but
    * over an md5-derived hash family, so the fingerprints (and the
    * near-dup pairs built from them) are recomputable in plain SQL and
    * the catalog entries carry full cross-engine oracles (q25/q38). The
    * XXH64 native-kernel family stays the throughput path; this one is
    * the verification-grade family. Two non-negative 32-bit halves
    * instead of one signed 64-bit word keep every downstream operation
    * (block split, xor, popcount) in arithmetic both engines define
    * identically on signed integers.
    */
  def simHashFingerprintsPortable(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleSets(docs, idCol, textCol, n)
      .select(col("id"), md5VoteHalf(col("sh"), 1).as("sim_hi"),
        md5VoteHalf(col("sh"), 9).as("sim_lo"))

  /** SimHash near-dup pairs over the PORTABLE family: 4 16-bit block
    * buckets (pigeonhole recall guarantee for hamming <= 3, as in
    * [[simHashNearDupPairs]]), true-Hamming verification, output
    * (id_a, id_b, hamming). Empty shingle sets are excluded up front —
    * they all share the all-zero fingerprint, which would both pair
    * unrelated sub-n-token docs and funnel them into one hot bucket.
    */
  def simHashNearDupPairsPortable(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming out of range: 4x16-bit block LSH guarantees " +
        "candidate recall only for maxHamming <= 3 (pigeonhole over 4 blocks)")
    val fp = shingleSets(docs, idCol, textCol, n).filter(size(col("sh")) > 0)
      .select(col("id"), md5VoteHalf(col("sh"), 1).as("hi"),
        md5VoteHalf(col("sh"), 9).as("lo"))
    // halves are non-negative 32-bit values, so shift/mask == the
    // oracle's // 65536 and % 65536 integer arithmetic
    val blocks = fp.select(col("id"), col("hi"), col("lo"), posexplode(array(
      shiftright(col("hi"), 16), col("hi").bitwiseAND(lit(0xffffL)),
      shiftright(col("lo"), 16), col("lo").bitwiseAND(lit(0xffffL))))
      .as(Seq("blk", "key")))
    val a = blocks.alias("a"); val b = blocks.alias("b")
    val hamming = (bit_count(col("a.hi").bitwiseXOR(col("b.hi")))
      + bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).cast("long")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowed document fingerprints over the PORTABLE md5 hash family
    * (id, fp: array<long>) — the same Schleimer et al. winnowing scheme
    * as [[graft.functions.HashExprs.RollingFingerprints]] (min hash of
    * every `w`-window of consecutive k-gram hashes, deduplicated and
    * sorted; one window of all grams when a document has fewer than `w`)
    * but with per-gram hashes `hex8(md5(gram))` instead of a rolling
    * XXH64 polynomial, so any SQL engine recomputes the fingerprints
    * bit-for-bit (q29's oracle does). The XXH64 kernel stays the
    * throughput path; this is the verification-grade family.
    *
    * Everything is per-row array arithmetic (sequence/transform/slice) —
    * no explode, no window function, NO shuffle: the narrow shape that
    * survives 100 TB. Cost is O(grams * w) per document vs the kernel's
    * O(grams) deque, the price of staying SQL-expressible.
    */
  def winnowedFingerprintsPortable(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16): DataFrame = {
    require(k > 0 && w > 0, "winnowing needs positive gram size and window")
    val txt = col(textCol)
    val grams = sequence(lit(1), greatest(length(txt) - (k - 1), lit(1)))
    val hashes = transform(grams,
      i => conv(substring(md5(txt.substr(i, lit(k))), 1, 8), 16, 10).cast("long"))
    docs.select(col(idCol).as("id"), hashes.as("hs"))
      .select(col("id"),
        when(size(col("hs")) >= w,
          transform(sequence(lit(w), size(col("hs"))),
            j => array_min(slice(col("hs"), j - (w - 1), lit(w)))))
          .otherwise(array(array_min(col("hs")))).as("mins"))
      .select(col("id"), array_sort(array_distinct(col("mins"))).as("fp"))
  }

  /** SimHash near-dup pairs: bucket by rotated fingerprint blocks (each
    * pair within Hamming distance `maxHamming` of a 64-bit fingerprint
    * shares at least one of the 4 16-bit blocks when maxHamming <= 3),
    * then verify true Hamming distance. Same LSH-then-verify shape as
    * MinHash — no all-pairs pass.
    */
  def simHashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    // 4 blocks of 16 bits guarantee (pigeonhole) that any pair within
    // Hamming distance d <= 3 shares at least one untouched block; a
    // larger d would silently lose pairs, so it is rejected, not allowed.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming out of range: 4x16-bit block LSH guarantees " +
        "candidate recall only for maxHamming <= 3 (pigeonhole over 4 blocks)")
    // empty shingle sets (sub-n-token docs) all share one fingerprint:
    // excluding them avoids both meaningless pairs and a hot bucket,
    // matching the minhash path's boundary rule
    val fp = shingleSets(docs, idCol, textCol, n).filter(size(col("sh")) > 0)
      .select(col("id"), HashExprs.simhash64(col("sh")).as("simhash"))
    val blocks = fp.select(col("id"), col("simhash"), posexplode(
      array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xffffL))): _*))
      .as(Seq("blk", "key")))
    val a = blocks.alias("a"); val b = blocks.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic deduplication (public method: cluster the
    * embedding space, compare only within clusters): spherical-k-means
    * cells via [[Similarity.fitCentroids]], within-cell pairs with
    * cosine >= threshold form the near-dup graph, and exactly ONE
    * member — the minimum id — of each connected near-dup GROUP
    * survives (chains A~B~C collapse to one survivor even when A!~C,
    * the standard near-dup-group semantics; a one-hop drop rule would
    * delete chain members whose only near-duplicate was itself
    * deleted). Deterministic for any partitioning. Ids must be unique.
    * Rows with a null embedding or a null id are dropped at the
    * boundary: neither can be compared or named as a survivor.
    *
    * Scale: pairwise work is bounded per cell and the bound is ENFORCED,
    * not advisory. Bit-identical vectors collapse to a min-id
    * representative FIRST (cosine is invariant across identical copies,
    * so this is lossless for the near-dup relation and costs one
    * shuffle) — which is also what makes the bound enforceable, because
    * k-means can never split a set of identical points and a re-crawled
    * page's embedding megacluster is exactly the skew that otherwise
    * defeats nlist tuning. Then [[boundedCells]] re-clusters any cell
    * above `maxCellSize` (default max(4096, 8·sqrt(N)); N is counted
    * only when some cell is above 4096, since no smaller cell can be
    * over that cap) into sub-cells, and the rare cell no split can
    * reduce within `refineRounds` falls back to an O(n) hub compare
    * instead of O(n^2) pairs, so a skewed embedding space cannot
    * produce a quadratic stage.
    *
    * Cell locality: every near-dup edge stays inside one cell. Each
    * representative sits in exactly one cell; cell pairs and hub pairs
    * join members of the same cell; and a clone's only edge is to its
    * representative, which has the lower id. So every clone is dropped,
    * and the groups among representatives are the connected components
    * of each cell's own pair graph. One grouped pass per cell
    * ([[graft.functions.VectorExprs.CellSurvivors]]: all-pairs
    * [[graft.functions.VectorExprs.cosineKernel]], the same threshold
    * test the pair self-join applied, plus a min-id union-find, or the
    * hub test for a residual cell) finds each cell's survivors with no
    * global component rounds; memory per task is O(cap x dim). The
    * cluster-scoped alternative to [[embeddingNearDupPairs]]' LSH when
    * near-dup groups should follow the corpus's semantic structure.
    */
  def semanticDedup(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, nlist: Int = 16, kmeansIters: Int = 3,
      maxCellSize: Int = 0, refineRounds: Int = 3): DataFrame = {
    val v = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val capFloor = if (maxCellSize > 0) maxCellSize.toLong else 4096L
    def cap: Long =
      if (maxCellSize > 0) maxCellSize.toLong
      else math.max(4096L, 8L * math.sqrt(v.count().toDouble).toLong)
    // exact-collapse (see scale note above): one representative per
    // distinct vector enters the cell machinery; clones never survive,
    // and a null id is never its vector's representative
    val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val reps = v.withColumn("rep_id", min(col("id")).over(wv))
      .filter(col("id") === col("rep_id")).select("id", "v")
    val (cells, residual) = boundedCells(reps, nlist, kmeansIters, cap, refineRounds, capFloor)
    // all-pairs compare ONLY inside cells proven <= cap by boundedCells;
    // residual (irreducible) cells get the O(n) hub test instead. What
    // the hub test approximates: two members near-dup to each other but
    // BOTH outside threshold of the hub stay unlinked — for a cell that
    // k-means cannot split, such pairs are rare by construction (the
    // cell is tight), and boundedness at scale is the contract here.
    val hub = if (residual.isEmpty) lit(false) else col("cell").isInCollection(residual)
    cells.groupBy(col("cell"))
      .agg(collect_list(struct(col("id").cast("long").as("key"), col("id"), col("v"))).as("m"))
      .select(explode(VectorFunctions.cellSurvivors(col("m"), hub, threshold)).as("s"))
      .select(col("s.id").as(idCol), col("s.v").as(vecCol))
  }

  /** Cell assignment with ENFORCED cell-size bound: k-means cells, then
    * up to `refineRounds` driver-loop rounds re-clustering every cell
    * above `cap` into sub-cells (a fresh [[Similarity.fitCentroids]] fit
    * on just that cell's members — skew at scale means a FEW giant
    * cells, so the driver loop is short, and each fit's shuffles carry
    * only centroid partials, never the corpus). Cells that stay above
    * cap after the rounds — an extremely tight blob the sampled seeds
    * never separate (callers should exact-collapse identical vectors
    * first; k-means can NEVER split those) — are returned in the
    * residual list for the caller to handle with a linear-cost
    * strategy. Returns (id, v, cell) with cell ids unique across rounds.
    * `cap` is evaluated at most once, and only if some cell is larger
    * than `capFloor`, a lower bound on it.
    */
  private[graft] def boundedCells(
      v: DataFrame, nlist: Int, kmeansIters: Int,
      cap: => Long, refineRounds: Int, capFloor: Long = 0L): (DataFrame, Seq[Long]) = {
    lazy val limit = cap
    val cents = Similarity.fitCentroids(v, "id", "v", nlist, kmeansIters)
    var cells = Similarity.assignCells(v, "v", cents)
      .withColumn("cell", col("cell").cast("long"))
    var nextCell = nlist.toLong
    def oversized(above: Long): Seq[(Long, Long)] =
      cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .filter(col("n") > above).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a cell no larger than capFloor is within the cap, whatever it is
    var over = oversized(capFloor).filter(_._2 > limit)
    var round = 0
    var prevCp: DataFrame = null
    while (over.nonEmpty && round < refineRounds) {
      for ((c, n) <- over) {
        val members = cells.filter(col("cell") === c)
        // enough sub-cells to land near cap/2 if the split is even,
        // bounded so a single round's fit stays cheap
        val k = math.min(64, math.max(2, (2L * n / limit).toInt))
        val subCents = Similarity.fitCentroids(members, "id", "v", k, 2)
        val reassigned = Similarity
          .assignCells(members.drop("cell"), "v", subCents, "sub")
          .withColumn("cell", lit(nextCell) + col("sub").cast("long"))
          .drop("sub")
        nextCell += subCents.length.toLong
        cells = cells.filter(col("cell") =!= c).unionByName(reassigned)
      }
      // each round stacks filters/unions on the plan: cut lineage so
      // refineRounds stays O(rounds), not O(rounds^2) in plan size —
      // stats-free, because cells feed a downstream SELF-join whose
      // estimate would square the carried snapshot; the previous round's
      // checkpoint (round >= 1) is released once this one materializes
      // (GraftBridge scaladoc)
      cells = org.apache.spark.sql.GraftBridge.statsFreeLocalCheckpointReleasing(
        cells, release = if (round > 0) Seq(prevCp) else Nil)
      prevCp = cells
      round += 1
      over = oversized(limit)
    }
    (cells, over.map(_._1))
  }

  /** Embedding near-dup pairs: banded sign-LSH (OR-amplified — any of
    * `bands` bucket matches makes a candidate) then exact cosine
    * verification. Identical vectors always collide (equal inputs hash
    * identically); near-identical vectors survive a flipped sign bit in
    * one band because another band still matches (≈0.998 recall at
    * cos 0.99 with 4×8 bits). No all-pairs compare happens — including
    * under adversarial sign skew: a corpus whose embeddings share one
    * sign pattern (e.g. all-non-negative vectors out of a ReLU encoder)
    * funnels into a single (band, bucket), and those degenerate buckets
    * are capped exactly like the MinHash path ([[cappedBuckets]]:
    * `maxBucketSize = 0` derives max(1000, 4·sqrt(N)) so the worst-case
    * candidate count stays LINEAR in corpus size, and every dropped
    * bucket is counted in the "graft.sign_lsh" observed metric). A doc
    * in one hot bucket keeps its other (bands-1) buckets, so only pairs
    * whose EVERY band is oversized are lost — at that point sign-LSH
    * carries no signal for the corpus and a projection-based family
    * (or [[semanticDedup]]) is the right tool; the metric is the alarm.
    */
  def embeddingNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bitsPerBand: Int = 8,
      threshold: Double = 0.99, maxBucketSize: Int = 0): DataFrame = {
    require(maxBucketSize == 0 || maxBucketSize > 1,
      "maxBucketSize must allow at least one pair (or 0 = adaptive)")
    val v = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val bucketCap =
      if (maxBucketSize > 0) maxBucketSize.toLong
      else math.max(1000L, 4L * math.sqrt(v.count().toDouble).toLong)
    val bucketed = v.select(col("id"), posexplode(
      VectorFunctions.signLshBandBuckets(col("v"), bands, bitsPerBand))
      .as(Seq("band", "bucket")))
    val a = cappedBuckets(bucketed, bucketCap, Some("graft.sign_lsh")).alias("a")
    val b = cappedBuckets(bucketed, bucketCap, None).alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(v.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Span-level duplicate detection (the "ExactSubstr" shape of
    * suffix-array training-data dedup, at word-token granularity):
    * maximal runs of >= minTokens consecutive tokens in which EVERY
    * minTokens-token window appears verbatim in at least one other
    * document — the standard gram-based approximation of ExactSubstr.
    * (Adjacent windows may match DIFFERENT documents, so a merged span
    * as a whole need not appear verbatim anywhere else; for span
    * removal that is the semantics you want — every window of the cut
    * text was duplicated somewhere.) Whole-doc dedup
    * misses these entirely — boilerplate headers, license blocks, and
    * quoted passages duplicate at span level inside otherwise-unique
    * documents, and span removal is what actually shrinks a crawl.
    *
    * Distributed shape (no suffix array — that is a single-machine
    * structure; this is the shuffle-native equivalent):
    *  1. one posting row per token position: (gram = the minTokens-token
    *     window starting there, doc_id, pos) — rows scale with corpus
    *     token count, embarrassingly parallel off the scan;
    *  2. grams seen in >= 2 distinct docs survive one hash-partitioned
    *     aggregation (partial_count_distinct combines map-side, so a
    *     boilerplate gram in a billion docs still ships one partial row
    *     per map task, not a billion);
    *  3. duplicated positions merge into maximal spans per doc with the
    *     classic islands step (pos - row_number() over the per-doc
    *     window) — the only per-doc-bounded shuffle in the plan.
    * The shuffle key is a HASH of the gram, not the gram string — and
    * like the SimHash pair (q25 native / q38 portable), it comes in the
    * repo's two families: the default is the native
    * [[graft.functions.HashExprs.TokenGramHashes]] rolling kernel (each
    * token XXH64'd once, consecutive n-tuples combined with a rolling
    * polynomial — O(tokens) per doc; no gram string or slice array is
    * ever built), while `portableKeys = true` keys by the md5 half of
    * the gram string so a plain-SQL oracle recomputes the identical key
    * (q96). A hash collision (~2^-64 per pair) could only ever ADD a
    * candidate position — never lose a span.
    *
    * Output: (doc_id, span_start 1-based token index, span_tokens,
    * span_text), one row per maximal duplicated span.
    */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, portableKeys: Boolean = false): DataFrame = {
    require(minTokens >= 2, "a 1-token 'span' is vocabulary, not duplication")
    val tok = tokenized(docs, idCol, textCol, minTokens)
    val grams = gramPostings(tok, minTokens, portableKeys)
    // "seen in >= 2 distinct docs" as min != max: ONE map-side-combined
    // aggregation pass and one exchange, where count_distinct would
    // shuffle the postings twice (partial-dedup exchange + count
    // exchange). A gram repeated only WITHIN one doc has min == max.
    val dupGrams = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("g"))
    val dupPos = grams.join(dupGrams, "g").select(col("doc_id"), col("pos"))
    spansFromPositions(dupPos, tok, minTokens)
  }

  /** (doc_id, tk) rows of docs with at least minTokens tokens. */
  private def tokenized(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= minTokens)

  /** Positional gram postings (doc_id, pos 0-based, g) of tokenized docs,
    * keyed by the selected hash family.
    */
  private def gramPostings(
      tok: DataFrame, minTokens: Int, portableKeys: Boolean): DataFrame = {
    val keys =
      if (portableKeys)
        transform(TextFunctions.ngrams(col("tk"), minTokens),
          s => substring(md5(s), 1, 16))
      else HashExprs.tokenGramHashes(col("tk"), minTokens)
    tok.select(col("doc_id"), posexplode(keys).as(Seq("pos", "g")))
  }

  /** Islands-merge of duplicated positions into maximal spans + span
    * text recovery — the shared tail of the batch and incremental paths.
    */
  private def spansFromPositions(
      dupPos: DataFrame, tok: DataFrame, minTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .select(col("doc_id"),
        (col("p0") + 1).cast("long").as("span_start"),
        (col("p1") - col("p0") + minTokens).cast("long").as("span_tokens"))
    spans.join(tok, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_tokens"),
        array_join(slice(col("tk"), col("span_start").cast("int"),
          col("span_tokens").cast("int")), " ").as("span_text"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Append a batch's DISTINCT gram keys to a persisted gram store —
    * the incremental-crawl state for [[spansAgainstStore]]. The store is
    * the span-dedup analogue of SketchStore: mergeable by construction
    * (distinct keys union trivially), bounded by corpus gram count, and
    * append-only — admitting a new crawl batch never rescans history.
    * Batches land in separate subdirectories, so concurrent appends of
    * DIFFERENT batch ids never collide.
    */
  def appendGramStore(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      batchId: Long, path: String, portableKeys: Boolean = false): Unit =
    gramPostings(tokenized(docs, idCol, textCol, minTokens), minTokens, portableKeys)
      .select(col("g")).distinct()
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Maximal spans of `docs` that appear verbatim ANYWHERE in the
    * persisted gram store (i.e. in any previously admitted batch) —
    * incremental span-dedup: the new batch is checked against the whole
    * corpus history with one semi-join against the store, never a
    * rescan of the admitted documents. Same output shape and islands
    * arithmetic as [[duplicateSpans]].
    */
  def spansAgainstStore(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      path: String, portableKeys: Boolean = false): DataFrame = {
    val tok = tokenized(docs, idCol, textCol, minTokens)
    val grams = gramPostings(tok, minTokens, portableKeys)
    val store = Tables.parquet(docs.sparkSession, path).select(col("g")).distinct()
    val dupPos = grams.join(store, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spansFromPositions(dupPos, tok, minTokens)
  }

  /** Banded MinHash bucket keys per doc: (id, band, bucket), one row per
    * band (docs shorter than n tokens produce none). Like the span-dedup
    * key family this comes in two flavors: the default keys by the
    * native XXH64 signature ([[graft.functions.HashExprs.MinHashSignature]]
    * — the scale path, identical keying to [[minHashNearDupPairs]]),
    * while `portableKeys = true` derives signatures as lexicographic
    * minima of salted md5 hex strings and band buckets as the md5 of the
    * band's joined slice, so a plain-SQL oracle recomputes the identical
    * keys (q105). The portable flavor runs interpreted HOFs — it is the
    * verification family, not the throughput one.
    */
  def minHashBandKeys(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      portableKeys: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sets = shingleSets(docs, idCol, textCol, n).filter(size(col("sh")) > 0)
    val sigs =
      if (portableKeys) sets.select(col("id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => array_min(transform(col("sh"),
            s => md5(concat(i.cast("string"), lit(":"), s))))).as("sig"))
      else sets.select(col("id"),
        HashExprs.minhashSignature(col("sh"), numHashes).as("sig"))
    val bucket: Column => Column =
      if (portableKeys) b => md5(concat_ws("|", slice(col("sig"), b * r + 1, lit(r))))
      else b => hash(b, slice(col("sig"), b * r + 1, lit(r))).cast("string")
    sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bucket))
          .as(Seq("band", "bucket")))
      .select(col("id"), col("band"), col("bucket"))
  }

  /** Append a batch's DISTINCT (band, bucket) MinHash keys to a
    * persisted signature store — the whole-doc analogue of
    * [[appendGramStore]]: admitting a crawl batch against corpus history
    * becomes one semi-join against the store ([[admitAgainstMinHashStore]]),
    * never a rescan (or re-signature) of admitted documents. Store size
    * is `bands` rows per admitted doc before dedup — O(corpus), tiny
    * next to the corpus text. Batches land in separate subdirectories
    * with overwrite, so a foreachBatch retry of the SAME batch id is
    * idempotent and concurrent appends of different ids never collide.
    */
  def appendMinHashStore(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      batchId: Long = 0L, path: String, portableKeys: Boolean = false): Unit =
    minHashBandKeys(docs, idCol, textCol, n, numHashes, bands, portableKeys)
      .select(col("band"), col("bucket")).distinct()
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Admission decision for a new crawl batch against the persisted
    * MinHash signature store: per doc, how many of its `bands` band
    * buckets collide with ANY previously admitted batch (`hit_bands`),
    * and `admit` = no collision at all. An exact clone of any admitted
    * doc collides in every band (identical shingle set -> identical
    * signature); a near-dup at Jaccard j collides in a band with the
    * usual 1-(1-j^r)^bands LSH odds; intra-batch duplicates do NOT flag
    * each other (the store is history, not the batch). One aggregation
    * and one semi-join against the (band, bucket) store — history
    * documents are never rescanned. Docs too short to shingle have no
    * bands and are admitted.
    */
  def admitAgainstMinHashStore(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      path: String, portableKeys: Boolean = false): DataFrame =
    admitAgainstKeys(docs, idCol, textCol, n, numHashes, bands,
      Tables.parquet(docs.sparkSession, path)
        .select(col("band"), col("bucket")).distinct(),
      portableKeys)

  // ---------------------------------------------------------------------
  // Generational forms of the two dedup admission stores, through
  // [[KeySetStore]] (the GenStore compaction family): same keys, same
  // decisions, but fragments stay bounded at crawl cadence and
  // compaction dedups keys ACROSS batches (the flat `batch=` stores
  // above keep every batch's overlap forever). The read paths skip the
  // flat forms' read-side distinct(): a LEFT-SEMI probe is
  // multiset-insensitive, so fragment overlap is harmless pre-compaction
  // and gone after — one shuffle less per admission check either way.
  // ---------------------------------------------------------------------

  /** [[appendMinHashStore]] through the generational store. */
  def admitMinHashBatch(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      batchId: Long, root: String, portableKeys: Boolean = false): Unit =
    KeySetStore.admitBatch(
      minHashBandKeys(docs, idCol, textCol, n, numHashes, bands, portableKeys)
        .select(col("band"), col("bucket")),
      batchId, root)

  /** [[admitAgainstMinHashStore]] through the generational store —
    * decisions are BIT-IDENTICAL to the flat form on the same admitted
    * history (semi-join against the same key set), which is what lets
    * q151 gate compaction as a pure serving no-op.
    */
  def admitAgainstMinHashStoreGen(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      root: String, portableKeys: Boolean = false): DataFrame =
    admitAgainstKeys(docs, idCol, textCol, n, numHashes, bands,
      KeySetStore.keysCurrent(docs.sparkSession, root), portableKeys)

  /** [[admitAgainstMinHashStoreGen]] at a PINNED generation — the
    * manifest-resolved read (q152/q168): same decision logic over
    * [[KeySetStore.keysAt]], so a pinned reader's admission answers
    * never move under later publishes.
    */
  def admitAgainstMinHashStoreAt(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      root: String, gen: Long, portableKeys: Boolean = false): DataFrame =
    admitAgainstKeys(docs, idCol, textCol, n, numHashes, bands,
      KeySetStore.keysAt(docs.sparkSession, root, gen), portableKeys)

  /** The admission decision against an EXPLICIT key frame — the seam
    * the generational probes above share, and what the streaming
    * curation sink probes with its own fragment excluded
    * ([[KeySetStore.keysCurrentExcluding]]): a checkpoint replay must
    * never decide against keys its crashed first attempt landed.
    */
  private[graft] def admitAgainstKeys(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int,
      store: DataFrame, portableKeys: Boolean): DataFrame =
    decideAgainstKeys(docs.select(col(idCol).as("id")),
      minHashBandKeys(docs, idCol, textCol, n, numHashes, bands, portableKeys),
      store)

  /** The decision kernel under [[admitAgainstKeys]], from PRECOMPUTED
    * band keys: `ids` is one `id` column per probed doc (docs too short
    * to shingle have no key rows and must still be admitted — the ids
    * frame, not the key frame, drives the left join), `keys` is their
    * (id, band, bucket) rows. Decisions are bit-identical to deriving
    * the keys inline (same semi-join, same per-id count) — what lets a
    * lifecycle query signature its dead set ONCE and probe it many
    * times (guide §1.2: don't recompute what you already have).
    */
  private[graft] def decideAgainstKeys(ids: DataFrame, keys: DataFrame,
      store: DataFrame): DataFrame = {
    val hits = keys.join(store.select(col("band"), col("bucket")),
        Seq("band", "bucket"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).cast("long").as("hit_bands"))
    ids.join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hit_bands"), lit(0L)).as("hit_bands"),
        (coalesce(col("hit_bands"), lit(0L)) === 0L).as("admit"))
      .orderBy(col("id"))
  }

  // ---------------------------------------------------------------------
  // PRECOMPUTED-KEY forms (guide §1.2: one signature pass, many uses).
  // A lifecycle query touches the same doc subset repeatedly — admit it,
  // probe it, delete it, probe again — and the MinHash derivation
  // (shingles + numHashes md5s per shingle) is by far the costliest part
  // of each touch. These variants accept the (id, band, bucket) frame
  // from ONE [[minHashBandKeys]] pass (typically localCheckpoint'd inside
  // the query — never cached across runs) and are otherwise the same
  // store calls: admissions/deletes land identical key sets, decisions
  // are bit-identical (see [[decideAgainstKeys]]).
  // ---------------------------------------------------------------------

  /** [[admitMinHashBatch]] from precomputed (id, band, bucket) keys. */
  def admitMinHashKeysBatch(keys: DataFrame, batchId: Long,
      root: String): Unit =
    KeySetStore.admitBatch(keys.select(col("band"), col("bucket")),
      batchId, root)

  /** [[deleteMinHashBatch]] from precomputed (id, band, bucket) keys. */
  def deleteMinHashKeysBatch(keys: DataFrame, batchId: Long,
      root: String): Unit =
    KeySetStore.admitDeleteBatch(keys.select(col("band"), col("bucket")),
      batchId, root)

  /** [[admitAgainstMinHashStoreGen]] from precomputed keys: `ids` is one
    * `id` column per probed doc (shingle-less docs carry no keys but
    * still decide), `keys` their band keys.
    */
  def admitKeysAgainstMinHashStoreGen(ids: DataFrame, keys: DataFrame,
      root: String): DataFrame =
    decideAgainstKeys(ids, keys,
      KeySetStore.keysCurrent(ids.sparkSession, root))

  /** [[admitAgainstMinHashStoreAt]] from precomputed keys — the
    * manifest-pinned probe (q152/q168) from one signature pass.
    */
  def admitKeysAgainstMinHashStoreAt(ids: DataFrame, keys: DataFrame,
      root: String, gen: Long): DataFrame =
    decideAgainstKeys(ids, keys,
      KeySetStore.keysAt(ids.sparkSession, root, gen))

  /** TAKEDOWN through the signature store: delete the band keys DERIVED
    * FROM `docs` ([[KeySetStore.admitDeleteBatch]] — key-set
    * subtraction; see that method's shared-key caveat). Same
    * key-derivation parameters as the admissions, or the subtraction
    * misses. After this (and bit-identically after the next
    * compaction), a re-crawl of a removed document is re-admittable —
    * the takedown surface q161 gave the index and vector stores, for
    * the dedup family.
    */
  def deleteMinHashBatch(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      batchId: Long, root: String, portableKeys: Boolean = false): Unit =
    KeySetStore.admitDeleteBatch(
      minHashBandKeys(docs, idCol, textCol, n, numHashes, bands, portableKeys)
        .select(col("band"), col("bucket")),
      batchId, root)

  /** [[appendGramStore]] through the generational store. */
  def admitGramBatch(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      batchId: Long, root: String, portableKeys: Boolean = false): Unit =
    KeySetStore.admitBatch(
      gramPostings(tokenized(docs, idCol, textCol, minTokens), minTokens,
        portableKeys).select(col("g")),
      batchId, root)

  /** TAKEDOWN through the gram store — [[deleteMinHashBatch]]'s twin
    * for the span-dedup family: delete the gram keys DERIVED FROM
    * `docs` ([[KeySetStore.admitDeleteBatch]] — key-set subtraction;
    * a gram shared with a surviving doc is forgotten too, the q165
    * caveat). After this (bit-identically after compaction), spans a
    * removed document contributed stop flagging re-crawls.
    */
  def deleteGramBatch(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      batchId: Long, root: String, portableKeys: Boolean = false): Unit =
    KeySetStore.admitDeleteBatch(
      gramPostings(tokenized(docs, idCol, textCol, minTokens), minTokens,
        portableKeys).select(col("g")),
      batchId, root)

  /** [[spansAgainstStore]] through the generational store. */
  def spansAgainstStoreGen(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      root: String, portableKeys: Boolean = false): DataFrame = {
    val tok = tokenized(docs, idCol, textCol, minTokens)
    val grams = gramPostings(tok, minTokens, portableKeys)
    val store = KeySetStore.keysCurrent(docs.sparkSession, root).select(col("g"))
    val dupPos = grams.join(store, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spansFromPositions(dupPos, tok, minTokens)
  }

  /** SemDeDup in its corpus-scale form: kNN join -> threshold ->
    * connected components. Every vector meets only its approximate
    * top-`k` neighbors (the [[Similarity.ivfPqKnnJoin]] bucketed plan —
    * candidates pair up inside probed cells, never Q x N, no broadcast,
    * no collect), edges are the exactly re-ranked pairs at
    * cos >= `threshold`, and groups come from the same O(log n)
    * component pass as [[semanticDedup]]. Output: (id, comp), comp =
    * min member id — survivors are `id === comp` rows, and EVERY input
    * vector appears: vectors with no neighbor at `threshold` (unique
    * documents, the common case in a real corpus) are unioned back as
    * their own singleton components, since the component pass itself
    * labels only edge endpoints.
    *
    * vs [[semanticDedup]]'s cell-scoped pairs: no per-cell O(cap^2)
    * stage and no hub fallback — `k` bounds every vector's edge degree
    * STRUCTURALLY (a 10k-clone megacluster emits 10k*k edges, not
    * 10k^2/2; its members still chain into one component through their
    * shared nearest neighbors), which is the SemDeDup semantics: a doc
    * is a duplicate because something in its near-neighborhood crosses
    * the threshold, and transitive closure does the rest. The trade is
    * approximation in CANDIDATES (a pair beyond each other's top-k
    * probed shortlists goes unseen — tunable with k/nprobe/
    * shortlistFactor), while every emitted edge is exact (re-ranked
    * cosine). q124 gates the groups against the same closed-form
    * reachability oracle as q56/q57.
    *
    * `tier` picks the candidate-ranking codes: "pq" (default, the q124
    * shape — m/kcode/pqIters apply, shortlistFactor ~32 on clustered
    * data) or "sq" (the 8-bit-per-dim resolution tier — SemDeDup is
    * EXACTLY the within-cluster-ordering workload SQ8 exists for:
    * near-threshold pairs live inside tight clusters where 4-bit
    * product codes cannot rank them; the measured SCALE.md row reaches
    * recall 1.000 at a 4x shortlist FASTER than any PQ setting, and no
    * codebook fit is needed, so pass shortlistFactor ~4 and m/kcode/
    * pqIters are ignored). Both tiers emit exactly re-ranked edges, so
    * the groups differ only through candidate recall.
    */
  def semanticDedupGroupsKnn(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, k: Int = 5,
      nlist: Int = 16, kmeansIters: Int = 3,
      m: Int = 16, kcode: Int = 16, pqIters: Int = 2,
      nprobe: Int = 12, nassign: Int = 2, shortlistFactor: Int = 32,
      tier: String = "pq"): DataFrame = {
    val v = vecs.filter(col(vecCol).isNotNull)
    val knn = tier match {
      case "pq" =>
        val (cents, books) = Similarity.fitIvfPq(v, idCol, vecCol,
          nlist, kmeansIters, m, kcode, pqIters)
        Similarity.ivfPqKnnJoin(v, idCol, vecCol, k,
          cents, books, nprobe, nassign, shortlistFactor)
      case "sq" =>
        val cents = Similarity.fitCentroids(v, idCol, vecCol,
          nlist, kmeansIters)
        Similarity.ivfSqKnnJoin(v, idCol, vecCol, k,
          cents, nprobe, nassign, shortlistFactor)
      case other => throw new IllegalArgumentException(
        s"unknown SemDeDup tier '$other' (expected pq or sq)")
    }
    val edges = knn
      .filter(col("cos") >= threshold)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    Components.withSingletonComponents(
      Components.connectedComponents(edges, "id_a", "id_b"), v, idCol)
  }
}
