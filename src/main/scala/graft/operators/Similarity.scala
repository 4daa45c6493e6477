package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Approximate/exact nearest-neighbor search over embedding columns.
  *
  * Two paths, per the standard scale playbook:
  *  - [[bruteForceTopK]]: exact. The (small) query set is broadcast, the
  *    corpus is scanned once (narrow), and per-query top-k is reduced with
  *    a bounded-heap Aggregator — map-side partial aggregation means only
  *    k candidates per partition per query cross the shuffle, never the
  *    full N×Q score matrix.
  *  - [[ivfTopK]]: IVF-style ANN. Corpus vectors are assigned to their
  *    nearest centroid once (broadcast centroid table, narrow map); a
  *    query probes only the `nprobe` nearest cells, cutting scan cost by
  *    ~nlist/nprobe at a small recall cost.
  *
  * The reference has no similarity surface (its own scope list,
  * /root/reference/README.md:127-138); north-star extension.
  */
object Similarity {

  case class TopItem(cos: Double, id: Long)
  case class TopKBuf(items: Seq[TopItem])

  /** Bounded top-k of (cos, id) ordered by cos desc then id asc. The
    * buffer never exceeds k items, so partial (map-side) aggregation caps
    * shuffle volume at k rows per partition per group — the idiomatic
    * distributed top-k (what TakeOrderedAndProject does globally, done
    * per group).
    */
  class TopKAgg(k: Int) extends Aggregator[TopItem, TopKBuf, TopKBuf] {
    // buffer invariant: items sorted by (cos desc, id asc), size <= k,
    // ids unique. reduce is O(k) insertion into the sorted buffer (no
    // re-sort in the per-row hot path); merge is an O(k) sorted-merge.
    // The id-dedup makes the aggregator idempotent under duplicate
    // (cos, id) inputs — required by the IVF path, where a corpus vector
    // replicated into nassign cells can meet the same query in more than
    // one probed cell.
    private def beats(a: TopItem, b: TopItem): Boolean =
      a.cos > b.cos || (a.cos == b.cos && a.id < b.id)
    def zero: TopKBuf = TopKBuf(Vector.empty)
    def reduce(b: TopKBuf, a: TopItem): TopKBuf = {
      val items = b.items
      // cheap rejection FIRST: once the buffer is full, the overwhelming
      // majority of rows lose to the k-th item and must cost O(1), not
      // an O(k) dedup scan (at shortlist-sized k this is the difference
      // between seconds and minutes over a 10M-row score stream). This
      // is still max-per-id correct: a resident duplicate's score is
      // >= items.last >= a.cos, so the rejected replica could not have
      // improved its entry.
      if (items.size >= k && !beats(a, items.last)) b
      else {
        // dedup keeps the BEST replica score per id (IVF-PQ replicas of
        // one vector score differently against different cell centroids;
        // keeping whichever arrived first would make the buffer — and
        // the shortlist boundary — partition-order-dependent)
        val ex = items.indexWhere(_.id == a.id)
        if (ex >= 0 && !beats(a, items(ex))) b
        else {
          // single-allocation sorted insert: ONE pre-sized array filled in
          // one merge pass (skipping the displaced duplicate, dropping the
          // overflow tail). The previous take/:+/++ chain allocated 3-4
          // intermediate vectors per ACCEPTED row — on clustered-corpus
          // kNN joins, where high-cos candidates keep displacing the
          // buffer, that allocation rate alone collapsed a 32-thread
          // 8 GB JVM into GCLocker-retry OOM (SCALE.md round-9 runs).
          val n = items.size
          val outSize = if (ex >= 0) n else math.min(n + 1, k)
          val out = new Array[TopItem](outSize)
          var o = 0
          var i = 0
          var placed = false
          while (o < outSize) {
            if (i == ex) i += 1 // the displaced worse replica falls out
            if (!placed && (i >= n || beats(a, items(i)))) {
              out(o) = a; placed = true
            } else {
              out(o) = items(i); i += 1
            }
            o += 1
          }
          TopKBuf(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
        }
      }
    }
    def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
      // sorted-merge in beats-order: the FIRST occurrence of an id is its
      // best replica score, so first-wins dedup here IS max-per-id
      val out = Vector.newBuilder[TopItem]
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var (i, j, n) = (0, 0, 0)
      val (xs, ys) = (x.items, y.items)
      while (n < k && (i < xs.size || j < ys.size)) {
        val takeX = j >= ys.size || (i < xs.size && beats(xs(i), ys(j)))
        val item = if (takeX) { i += 1; xs(i - 1) } else { j += 1; ys(j - 1) }
        if (seen.add(item.id)) { out += item; n += 1 }
      }
      TopKBuf(out.result())
    }
    def finish(r: TopKBuf): TopKBuf = r
    def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  }

  /** Per-query bounded top-k reduction of (query_id, neighbor_id, cos)
    * scores: map-side partial aggregation, then rank emission. Shared by
    * the exact and IVF paths.
    */
  private def emitTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k), Encoders.product[TopItem])
    scored.groupBy(col("query_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")).as(Seq("pos", "item")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("item.id").as("neighbor_id"), col("item.cos").as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors. Output: (query_id, rank, neighbor_id, cos), rank 1..k,
    * ordered by cos desc with neighbor_id as the deterministic tie-break.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // null embeddings (failed encodes) are normal in a web corpus:
    // dropped explicitly at the operator boundary, never scored
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cos"))
    emitTopK(scored, k)
  }

  /** DIVERSIFIED top-k via maximal marginal relevance: a plain
    * similarity top-k over a near-duplicate-rich corpus returns k
    * copies of one document; MMR re-ranks a bounded candidate pool so
    * each pick balances relevance against similarity to what is
    * already picked (`lambda` = 1 is pure relevance, 0 pure
    * diversity). The scale shape: the pool (k*poolFactor per query)
    * comes from an existing search tier, candidate vectors join in by
    * id, ONE groupBy collects each query's pool (bounded rows — this
    * is the only shuffle MMR adds), and the greedy selection runs as
    * one codegen'd kernel call per query ([[graft.functions
    * .VectorExprs.MmrSelect]]) — O(k * pool * d) per query, never a
    * driver loop, never corpus-sized. Output: (query_id, rank,
    * neighbor_id, cos, mmr_score), rank 1..k in selection order.
    */
  def mmrTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      poolFactor: Int = 5, lambda: Double = 0.5): DataFrame =
    mmrRerank(bruteForceTopK(queries, corpus, idCol, vecCol, k * poolFactor),
      corpus, idCol, vecCol, k, lambda)

  /** MMR over a caller-supplied candidate pool — (query_id,
    * neighbor_id, cos) rows from ANY search tier, which is the 100 TB
    * composition: generate the pool with the index ([[ivfSqSearch]],
    * [[ivfPqSearch]], [[VectorStore.search]]...), then diversify it
    * here. Every public search emits exactly re-ranked cosines, so
    * pools are tier-interchangeable; the greedy itself only ever sees
    * the bounded pool.
    */
  def mmrRerank(
      pool: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      lambda: Double = 0.5): DataFrame = {
    // the pool is nq * poolsize rows — the small side; the corpus
    // never re-keys (stats-driven broadcast at any realistic pool size)
    val withVec = pool.select(col("query_id"), col("neighbor_id"), col("cos"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
        "neighbor_id")
    withVec.groupBy(col("query_id"))
      .agg(collect_list(struct(col("cos"), col("neighbor_id").as("id"),
        col("nv").as("vec"))).as("cands"))
      .select(col("query_id"),
        posexplode(VectorFunctions.mmrSelect(col("cands"), k, lambda))
          .as(Seq("pos", "pick")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("pick.id").as("neighbor_id"), col("pick.cos").as("cos"),
        col("pick.score").as("mmr_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Unit-normalize a centroid so cosine argmax reduces to a plain dot
    * product (|v| is constant across cells for a given row, so it cancels
    * out of the argmax; zero vectors stay zero).
    */
  private def unitize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Dot product of a vector column with a driver-side literal centroid —
    * a single narrow codegen'd expression, no join, no shuffle.
    */
  private def dotLit(v: Column, cent: Array[Double]): Column =
    aggregate(zip_with(v, typedlit(cent.toSeq), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  /** The `nprobe` nearest cells of `v` given literal unit centroids, as an
    * int array ordered nearest-first. Pure expression — the scale-critical
    * property: cell assignment of N corpus vectors is a NARROW map over
    * the scan (the old shape, crossJoin(centroids) + row_number window,
    * pushed N*nlist rows through an Exchange just to pick an argmax).
    * Ties: equal dot products resolve to the lowest cell id.
    *
    * Native codegen'd kernel (one fused pass over all centroids —
    * VectorExprs.NearestCells); [[bestCellsComposed]] is the
    * bit-equality reference.
    */
  private[graft] def bestCells(v: Column, unitCents: Array[Array[Double]], nprobe: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.VectorExprs.NearestCells(
        org.apache.spark.sql.GraftBridge.expression(v),
        unitCents.map(_.toSeq).toSeq, nprobe))

  /** Composed formulation of [[bestCells]]: per-cell dot via zip_with +
    * aggregate, sort of (negdot, cell) structs, slice. Same ordering and
    * tie-break; kept as the cross-check reference.
    */
  private[graft] def bestCellsComposed(
      v: Column, unitCents: Array[Array[Double]], nprobe: Int): Column = {
    val scored = array(unitCents.zipWithIndex.map { case (ct, i) =>
      struct((-dotLit(v, ct)).as("negdot"), lit(i).as("cell"))
    }: _*)
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cell"))
  }

  /** Fit `nlist` spherical-k-means centroids over a vector column: seed
    * with a deterministic id-hash sample (uniform over the corpus, no
    * count or global sort — plans as TakeOrderedAndProject), then
    * `iters` Lloyd refinements. Like fitting any index this is a driver
    * action, but each iteration is one NARROW assignment pass plus a
    * map-side-combined groupBy whose shuffle carries only nlist x dim
    * partial sums — never the corpus. Returns unit-normalized centroids.
    */
  def fitCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): Array[Array[Double]] = {
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    var cents: Array[Array[Double]] = c
      .orderBy(xxhash64(col("cid")), col("cid")).limit(nlist)
      .select(col("cv")).collect()
      // Number, not Float: the vector column may be array<float> (the
      // testdata) or array<double> — both must work, as in bruteForceTopK
      .map(r => unitize(r.getSeq[Number](0).map(_.doubleValue).toArray))
    require(cents.nonEmpty, "fitCentroids needs a non-empty corpus")
    val dim = cents.head.length
    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cell", element_at(bestCells(col("cv"), cents, 1), 1))
      val dimSums = (0 until dim).map(i =>
        sum(element_at(col("cv"), i + 1).cast("double")).as(s"s$i"))
      val rows = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .collect()
      val next = cents.clone()
      rows.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        next(cell) = unitize(Array.tabulate(dim)(i => r.getDouble(2 + i) / n))
      }
      cents = next // cells with no members keep their previous centroid
    }
    cents
  }

  /** Tag each row with the id of its nearest centroid — one narrow
    * codegen'd argmax over the scan, no join, no shuffle. Shared by the
    * IVF search path and cluster-scoped operators (semantic dedup).
    */
  def assignCells(
      df: DataFrame, vecCol: String, cents: Array[Array[Double]],
      outCol: String = "cell"): DataFrame =
    df.withColumn(outCol, element_at(bestCells(col(vecCol), cents, 1), 1))

  /** Persist a fitted IVF index (the centroid table) to parquet:
    * (cell: int, centroid: array<double>). Separating index BUILD from
    * SEARCH is the production shape — fit once on a sample, save, then
    * every search job loads the (tiny) index instead of re-running
    * Lloyd iterations over the corpus.
    */
  def saveIndex(spark: SparkSession, cents: Array[Array[Double]], path: String): Unit = {
    require(cents.nonEmpty, "cannot save an empty index")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1) // nlist x dim doubles: one small file
      .write.mode("overwrite").parquet(path)
  }

  // -------------------------------------------------------------------
  // Index-artifact load memo (r15): the KB-sized centroid/codebook
  // tables are re-loaded by EVERY admit/search/encode against a store
  // (VectorStore.admitAt, searchGen, ...), and each load was a full
  // Spark job (scan + collect) — hundreds of milliseconds of scheduling
  // for a few hundred doubles, paid per admission in the lifecycle
  // queries. The memo is DRIVER-SIDE SESSION STATE in the warehouse
  // sense (a table's file index/footer metadata is session state, not
  // per-query work — the Bench.scala stance) and is validated against
  // the FILESYSTEM on every access: the key is the artifact's file
  // manifest (part-file names, lengths, mtimes — a mode-overwrite
  // rewrite always lands NEW uuid part names, so any rewrite misses).
  // The first load after any write is therefore always a real parquet
  // read — the q84/q103/q119 round-trip gates keep their meaning — and
  // nothing survives the JVM, so no state crosses bench/verify runs.
  // -------------------------------------------------------------------
  private val artifactCache =
    new java.util.LinkedHashMap[String, (Seq[(String, Long, Long)], AnyRef)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Seq[(String, Long, Long)], AnyRef)])
          : Boolean = size() > 64
    }

  private def artifactSignature(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }

  private def cachedArtifact[T <: AnyRef](spark: SparkSession, path: String)
      (load: => T): T = {
    val sig = artifactSignature(spark, path)
    if (sig.isEmpty) return load // missing/empty: the loader's own error
    artifactCache.synchronized {
      Option(artifactCache.get(path)).collect {
        case (s, v) if s == sig => v.asInstanceOf[T]
      }
    }.getOrElse {
      val v = load
      artifactCache.synchronized { artifactCache.put(path, (sig, v)) }
      v
    }
  }

  /** Load a persisted IVF index. Parquet round-trips doubles exactly, so
    * a loaded index searches bit-identically to the freshly fitted one
    * (asserted in SimilarityOpsSpec and gated in-query by q84).
    * Memoized per file manifest (see [[artifactCache]]); the returned
    * arrays are defensive copies, so callers can never alias the cache.
    */
  def loadIndex(spark: SparkSession, path: String): Array[Array[Double]] =
    cachedArtifact(spark, path) {
      val rows = Tables.parquet(spark, path).orderBy("cell").collect()
      require(rows.nonEmpty, s"no index at $path")
      rows.zipWithIndex.foreach { case (r, i) =>
        require(r.getInt(0) == i, s"index at $path is missing cell $i")
      }
      rows.map(_.getSeq[Double](1).toArray)
    }.map(_.clone())

  /** IVF search against PREBUILT centroids (fit via [[fitCentroids]], or
    * [[loadIndex]] from a persisted index): queries probe the `nprobe`
    * nearest cells. The centroids enter the plan as literals inside the
    * codegen'd NearestCells expression — assignment stays a narrow map
    * over the scan, exactly as in the fit-inline path.
    *
    * Output: (query_id, rank, neighbor_id, cos) — approximate top-k.
    */
  def ivfSearch(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      nprobe: Int = 4, nassign: Int = 2): DataFrame = {
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))

    // replicated assignment: each corpus vector lands in its `nassign`
    // nearest cells (IVF replica lists — storage x nassign, and probe
    // cost stays nprobe/nlist per replica). A neighbor straddling a cell
    // boundary is reachable through its second-nearest cell, which is
    // what lifts recall on weakly-clustered (near-uniform) embeddings;
    // duplicate (query, neighbor) meetings are deduped inside TopKAgg.
    val corpusCells = c
      .select(col("cid"), col("cv"),
        explode(bestCells(col("cv"), cents, nassign)).as("cell"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val queryCells = q
      .select(col("query_id"), col("qv"),
        explode(bestCells(col("qv"), cents, nprobe)).as("cell"))

    // one hash join on cell (queries broadcast: the probe list is tiny
    // next to the corpus), exact cosine on the original vectors
    val scored = corpusCells.join(broadcast(queryCells), "cell")
      .filter(col("query_id") =!= col("cid"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cos"))
    emitTopK(scored, k)
  }

  /** IVF (inverted-file) ANN, fit-inline convenience: builds the index
    * with [[fitCentroids]] and searches it with [[ivfSearch]].
    *
    * Output: (query_id, rank, neighbor_id, cos) — approximate top-k.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 3,
      nassign: Int = 2): DataFrame =
    ivfSearch(queries, corpus, idCol, vecCol, k,
      fitCentroids(corpus, idCol, vecCol, nlist, kmeansIters), nprobe, nassign)

  // ---------- Product quantization (PQ) ----------
  //
  // The memory-footprint scale path: a 100 TB embedding corpus at
  // dim=64 float is 256 bytes/vector; PQ(m=4, k=16) stores m codes
  // (4 x 4 bits of information — represented as array<int> here for
  // plan clarity; bit-packing is a storage detail) plus a
  // (m x k x dim/m)-double codebook SHARED by the whole corpus.
  // Scoring a query against a coded vector is m LUT lookups + adds
  // instead of a dim-wide dot product. (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011.)

  /** Unit-normalize a vector column (zero vectors pass through), so
    * cosine reduces to a plain dot product downstream. Native one-pass
    * kernel — the composed transform-over-norm formulation re-evaluates
    * the norm subtree per ELEMENT (interpreted HOF), which turned PQ
    * encoding into the entire wall-clock at 1M vectors.
    */
  private def unitizeCol(v: Column): Column = VectorFunctions.unit(v)

  /** L2 argmin against literal (non-unit) codewords via homogeneous
    * coordinates: argmin_c |x-c|^2 == argmax_c (dot(x,c) - |c|^2/2) ==
    * dot-argmax of [x, 1] against [c, -|c|^2/2] — which reuses the
    * narrow NearestCells kernel unchanged. Ties resolve to the lowest
    * code, deterministically.
    */
  private def nearestCodeword(sub: Column, book: Array[Array[Double]]): Column = {
    val aug = book.map(c => c :+ (-c.map(x => x * x).sum / 2))
    element_at(bestCells(
      concat(transform(sub, x => x.cast("double")), array(lit(1.0))), aug, 1), 1)
  }

  /** [[nearestCodeword]] for the one-pass-fit equivalence spec (the
    * serial reference re-built in the test needs the same argmin).
    */
  private[graft] def nearestCodewordRef(sub: Column,
      book: Array[Array[Double]]): Column = nearestCodeword(sub, book)

  /** Fit PQ codebooks over the unit-normalized corpus: `m` subspaces,
    * `k` codewords each, plain (L2, non-spherical) Lloyd iterations —
    * sub-vector MAGNITUDE carries reconstruction information, so
    * codewords are means, never unitized.
    *
    * ALL m subspaces fit together: each Lloyd iteration is ONE narrow
    * assignment pass (the per-subspace argmins evaluate side by side in
    * the same projection, then posexplode to (j, code, sv) rows) plus
    * ONE map-side-combined groupBy(j, code) whose shuffle carries only
    * m x k x dim/m partial sums — never the corpus. The r14 form looped
    * the subspaces serially, paying m x (iters + 1) full corpus passes
    * (and as many per-iteration codegen compiles); this form pays
    * iters + 1 passes total, an m-fold reduction that holds at any
    * corpus size (guide §1.2: fix the distributed algorithm first).
    * Per-subspace math is unchanged — same hash-ordered seeds, same
    * argmin, same mean accumulation order — so the fitted codebooks are
    * bit-identical to the serial form's under a deterministic
    * partial-sum merge order (spec-gated in local mode; at higher
    * partition counts the floating-point merge order of shuffle
    * fetches is not guaranteed in Spark, a nondeterminism BOTH forms
    * share — neither is "the" reference at that scale).
    *
    * Seeds stay one TakeOrderedAndProject per subspace (top-k by a
    * per-subspace hash — a bounded partial top-k per partition, never a
    * corpus-wide sort), submitted CONCURRENTLY from the driver pool
    * (guide §2.6: independent jobs overlap their fixed latency; results
    * are unaffected — the order key is deterministic per job).
    */
  def fitPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int,
      unitize: Boolean = true): Array[Array[Array[Double]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // unitize=false fits RAW vectors — the IVF-PQ residual path, where
    // the input is already array<double> (unit vector - centroid) and
    // re-normalizing would destroy exactly the magnitude the codebook
    // must represent
    val prep = if (unitize) unitizeCol(col(vecCol)) else col(vecCol)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), prep.as("uv"))
    val dim = c.select(size(col("uv"))).head().getInt(0)
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sd = dim / m
    def sub(j: Int) = slice(col("uv"), j * sd + 1, sd)
    var books: Array[Array[Array[Double]]] = Await.result(
      Future.sequence((0 until m).map { j => Future {
        c.orderBy(xxhash64(col("cid"), lit(j)), col("cid")).limit(k)
          .select(sub(j).as("sv")).collect()
          .map(_.getSeq[Number](0).map(_.doubleValue).toArray)
      }}), Duration.Inf).toArray
    require(books.forall(_.nonEmpty), "fitPqCodebooks needs a non-empty corpus")
    for (_ <- 1 to iters) {
      // one pass: (subspace, assigned code, sub-vector) rows for every
      // subspace at once; each array element embeds its own subspace's
      // current codebook as literals, exactly as the serial form did
      val perJ = array((0 until m).map { j =>
        struct(nearestCodeword(sub(j), books(j)).as("code"),
          sub(j).as("sv"))
      }: _*)
      val assigned = c.select(posexplode(perJ).as(Seq("j", "e")))
        .select(col("j"), col("e.code").as("code"), col("e.sv").as("sv"))
      val dimSums = (0 until sd).map(i =>
        sum(element_at(col("sv"), i + 1)).as(s"s$i"))
      val rows = assigned.groupBy(col("j"), col("code"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .collect()
      val next = books.map(_.clone())
      rows.foreach { r =>
        val j = r.getInt(0)
        val code = r.getInt(1)
        val n = r.getLong(2).toDouble
        next(j)(code) = Array.tabulate(sd)(i => r.getDouble(3 + i) / n)
      }
      books = next // empty cells keep their previous codeword
    }
    books
  }

  /** PQ-encode a unit-normalized vector column: array of `m` codes, one
    * narrow codegen'd argmin per subspace — no join, no shuffle.
    */
  def pqEncodeExpr(uv: Column, books: Array[Array[Array[Double]]]): Column = {
    val sd = books(0)(0).length
    array(books.zipWithIndex.map { case (book, j) =>
      nearestCodeword(slice(uv, j * sd + 1, sd), book)
    }: _*)
  }

  /** PQ ANN search with exact re-ranking: score every coded corpus
    * vector against each query's LUT (m element_at lookups + adds — the
    * asymmetric-distance computation; the corpus vectors themselves are
    * never touched), take a `shortlistFactor * k` shortlist per query,
    * then re-rank the shortlist with EXACT cosine on the original
    * vectors. LUTs are built as a narrow codegen'd map over the query
    * scan (never collected to the driver); the LUT frame is then
    * broadcast — plain PQ scores EVERY query against EVERY coded row,
    * so the query set must be broadcast-sized by design (the scan-
    * pruned large-Q path is [[ivfPqSearch]] with broadcastQueries =
    * false).
    *
    * Output: (query_id, rank, neighbor_id, cos) — cos is exact on the
    * emitted rows (approximation only decides the shortlist).
    */
  def pqSearch(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      books: Array[Array[Array[Double]]],
      shortlistFactor: Int = 8): DataFrame = {
    val m = books.length
    val kcode = books(0).length
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        pqEncodeExpr(unitizeCol(col(vecCol)), books).as("codes"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val luts = q.select(col("query_id"),
      VectorFunctions.pqLut(unitizeCol(col("qv")), books).as("lut"))
    val approx = (0 until m).map(j =>
      element_at(col("lut"), lit(j * kcode + 1) + col("codes").getItem(j)))
      .reduce(_ + _)
    val scored = c.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("cid"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        approx.as("cos"))
    val shortlist = emitTopK(scored, k * shortlistFactor)
      .select(col("query_id"), col("neighbor_id"))
    val reranked = shortlist
      .join(c.select(col("cid").as("neighbor_id"), col("cv")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cos"))
    emitTopK(reranked, k)
  }

  /** Persist fitted PQ codebooks to parquet:
    * (subspace: int, code: int, codeword: array<double>). Same
    * build/search separation as [[saveIndex]] — fit once, save the
    * (tiny) codebook table, every encode/search job loads it instead of
    * re-running Lloyd over the corpus.
    */
  def savePqIndex(spark: SparkSession,
      books: Array[Array[Array[Double]]], path: String): Unit = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "cannot save an empty PQ index")
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("subspace", "code", "codeword")
      .repartition(1) // m x k x dim/m doubles: one small file
      .write.mode("overwrite").parquet(path)
  }

  /** Load persisted PQ codebooks. Parquet round-trips doubles exactly,
    * so a loaded codebook encodes and searches bit-identically to the
    * freshly fitted one (gated in-query by q103). Memoized per file
    * manifest ([[artifactCache]]); returns defensive copies.
    */
  def loadPqIndex(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    cachedArtifact(spark, path) {
      val rows = Tables.parquet(spark, path).orderBy("subspace", "code").collect()
      require(rows.nonEmpty, s"no PQ index at $path")
      val bySub = rows.groupBy(_.getInt(0))
      val m = bySub.keySet.max + 1
      Array.tabulate(m) { j =>
        val sub = bySub.getOrElse(j,
          throw new IllegalArgumentException(s"PQ index at $path is missing subspace $j"))
        sub.sortBy(_.getInt(1)).zipWithIndex.map { case (r, c) =>
          require(r.getInt(1) == c, s"PQ index at $path is missing code $c of subspace $j")
          r.getSeq[Double](2).toArray
        }
      }
    }.map(_.map(_.clone()))

  /** PQ ANN, fit-inline convenience: [[fitPqCodebooks]] + [[pqSearch]]. */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, kcode: Int = 16, iters: Int = 3,
      shortlistFactor: Int = 8): DataFrame =
    pqSearch(queries, corpus, idCol, vecCol, k,
      fitPqCodebooks(corpus, idCol, vecCol, m, kcode, iters), shortlistFactor)

  // ---------- IVF-PQ (coarse quantizer + residual codes) ----------
  //
  // The composite 100 TB index (Jégou et al. §V: IVFADC): the IVF
  // coarse quantizer prunes the SCAN (only nprobe/nlist of the corpus
  // is scored per query) while PQ shrinks what the scan READS (m codes
  // per vector instead of the vector). Codes quantize the RESIDUAL
  // u - centroid(u) — residuals concentrate near zero, so the shared
  // codebooks spend their 2^bits on a much smaller ball than raw
  // vectors, and the score decomposes exactly:
  //   dot(q, u) = dot(q, centroid) + dot(q, residual)
  // with the first term computed per (query, probed cell) on the
  // driver (nprobe x nlist work, trivial) and the second term the same
  // LUT lookups as plain PQ.

  /** IVF-PQ ANN search with exact re-ranking. Per query: its `nprobe`
    * best cells (+ the exact dot(q, centroid) term each) joined with
    * the residual LUT; the coded corpus joins on cell, so each query
    * scores only its probed fraction — m lookups + adds per candidate,
    * original vectors untouched until the bounded exact re-rank.
    * `nassign` replica lists trade storage for boundary recall exactly
    * as in [[ivfSearch]]; each replica codes the residual against ITS
    * cell's centroid, so the decomposition stays exact per row.
    *
    * The query side is fully DISTRIBUTED: probe cells, centroid dots,
    * and LUTs come out of one narrow codegen'd map over the query scan
    * (NearestCellDots + PqLut kernels) — nothing is collected to the
    * driver, so the query frame can be corpus-sized. With
    * `broadcastQueries = true` (the interactive default: a small query
    * set) the probe frame is broadcast onto the coded corpus; with
    * `false` (the kNN-join path, see [[ivfPqKnnJoin]]) both sides
    * shuffle-partition on cell — per-cell candidate lists meet their
    * per-cell probe lists co-located, the standard bucketed-ANN-join
    * shape, and the re-rank joins stay plain hash joins on id.
    */
  def ivfPqSearch(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nprobe: Int = 4, nassign: Int = 2,
      shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, cellSalt: Int = 1): DataFrame =
    ivfPqSearchCoded(codedCorpus(corpus, idCol, vecCol, cents, books, nassign),
      queries, idCol, vecCol, k, cents, books,
      nprobe, shortlistFactor, broadcastQueries, cellSalt)

  /** The shared encode front half: unitize, `nassign` replica cells,
    * per-cell residual — (cid, cv, cell, r). Every coded-corpus form
    * (PQ, SQ, both-tiers) is this one pipeline plus its code-column
    * projection, so replica assignment and residual math can never
    * drift between the tiers the equality gates compare.
    */
  private def replicaResiduals(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], nassign: Int): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        unitizeCol(col(vecCol)).as("uv"))
      .select(col("cid"), col("cv"), col("uv"),
        explode(bestCells(col("uv"), cents, nassign)).as("cell"))
      .select(col("cid"), col("cv"), col("cell"),
        VectorFunctions.residual(col("uv"), col("cell"), cents).as("r"))

  /** The coded-corpus frame of [[ivfPqSearch]]: one narrow pass
    * (unitize, `nassign` replica cells, per-cell residual codes) —
    * (cid, cv, cell, codes). Shared by the inline search path and the
    * persisted admission store ([[appendCodedBatch]]).
    */
  private def codedCorpus(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nassign: Int): DataFrame =
    replicaResiduals(corpus, idCol, vecCol, cents, nassign)
      .select(col("cid"), col("cv"), col("cell"),
        pqEncodeExpr(col("r"), books).as("codes"))

  /** [[codedCorpus]] carrying BOTH code tiers: the per-cell residual is
    * computed once and lands as PQ codes (candidate-generation tier)
    * AND an SQ8 struct (resolution tier) — what [[appendCodedBatch]]
    * persists, so a store admitted once can later serve EITHER tier
    * without re-encoding (tier choice is a read-time dial, not an
    * admission-time commitment). Inline searches keep the single-tier
    * frames — no query pays for a tier it does not score.
    */
  private def codedCorpusBothTiers(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nassign: Int): DataFrame =
    replicaResiduals(corpus, idCol, vecCol, cents, nassign)
      .select(col("cid"), col("cv"), col("cell"),
        pqEncodeExpr(col("r"), books).as("codes"),
        VectorFunctions.sqEncode(col("r")).as("sq"))

  /** [[ivfPqSearch]] over an already-coded corpus frame
    * (cid, cv, cell, codes) — the scoring/shortlist/re-rank half,
    * shared with [[searchCodedStore]] so a persisted coded corpus
    * searches through EXACTLY the code path the inline fit does.
    */
  private def ivfPqSearchCoded(
      c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nprobe: Int, shortlistFactor: Int,
      broadcastQueries: Boolean, cellSalt: Int = 1): DataFrame = {
    val m = books.length
    val kcode = books(0).length
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // narrow probe build: nprobe rows per query, each carrying the cell,
    // its exact dot(q, centroid) score term, and the residual LUT
    val probes = q.select(col("query_id"), unitizeCol(col("qv")).as("uq"))
      .select(col("query_id"),
        VectorFunctions.pqLut(col("uq"), books).as("lut"),
        explode(VectorFunctions.nearestCellDots(col("uq"), cents, nprobe)).as("pc"))
      .select(col("query_id"), col("pc.cell").as("cell"),
        col("pc.dot").as("cell_dot"), col("lut"))
    val residualLut = (0 until m).map(j =>
      element_at(col("lut"), lit(j * kcode + 1) + col("codes").getItem(j)))
      .reduce(_ + _)
    probedCellTopK(c, q, probes, col("cell_dot") + residualLut,
      k, shortlistFactor, broadcastQueries, cellSalt)
  }

  /** Derive the hot-cell salt from the corpus' own cell histogram: one
    * map-side-combined count over the narrow `cell` column (against a
    * persisted store this reads one column; inline it costs one
    * assign pass), then S = ceil(hottest-cell rows / target), capped
    * at 64 (beyond that the probe-side replication dominates — split
    * the corpus instead). S = 1 on balanced corpora: salting costs
    * probe rows × S, so it only turns on when one cell's join group
    * would genuinely overload a task. This closes the manual-dial gap:
    * clustered corpora no longer need the caller to know their own
    * skew before searching.
    */
  def autoCellSalt(coded: DataFrame,
      targetCellRowsPerTask: Long = 1L << 20): Int = {
    require(targetCellRowsPerTask > 0, "targetCellRowsPerTask must be positive")
    // MEMOIZED on the frame's underlying scan paths: the histogram job
    // is a plan-construction-time driver job, and every search call
    // against the same corpus/store generation scans the same files —
    // without the cache, repeated searches re-aggregate the whole
    // corpus per call (r12 ADVICE). Staleness is harmless by the
    // salting invariant (ANY S returns identical results, spec-gated;
    // S only tunes task sizing), and store paths change per generation,
    // so a compaction/refit naturally re-keys. Frames with no file scan
    // underneath (inline test corpora) key on the analyzed plan's
    // semantic hash instead — identity-ish, so they may recompute, but
    // they are the frames for which the histogram is cheapest. Bounded:
    // cleared wholesale past 1024 entries rather than LRU-tracked.
    val key = (coded.sparkSession.hashCode(), saltKeyOf(coded),
      targetCellRowsPerTask)
    saltCache.get(key) match {
      case Some(s) => s
      case None =>
        val r = coded.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("mx")).head()
        val s = if (r.isNullAt(0)) 1
          else math.min(64L,
            (r.getLong(0) + targetCellRowsPerTask - 1)
              / targetCellRowsPerTask).toInt
        if (saltCache.size > 1024) saltCache.clear()
        saltCache.put(key, s)
        s
    }
  }

  private[graft] val saltCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, Long), Int]

  /** A stable memoization key for [[autoCellSalt]]: the sorted root
    * paths of every file scan under the frame (two reads of the same
    * store fragments build distinct `FileIndex` objects, so plan
    * identity/semantic hashes never repeat across calls — paths do).
    */
  private def saltKeyOf(coded: DataFrame): String = {
    val paths = coded.queryExecution.analyzed.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }
    if (paths.nonEmpty) paths.sorted.mkString(";")
    else "h" + coded.queryExecution.analyzed.semanticHash()
  }

  /** The shared probed-cell search core of the IVF-PQ and IVF-SQ tiers:
    * prune the coded scan to probed cells (broadcast path), salt hot
    * cells if asked, equi-join probes to coded candidates on cell,
    * score with the tier's `approxScore` expression, shortlist
    * k*shortlistFactor per query via TopKAgg, exact-cosine re-rank to
    * top k. `c` is (cid, cv, cell, <tier code columns>); `probes` is
    * (query_id, cell, <tier probe columns>); `approxScore` references
    * columns of their join.
    */
  private def probedCellTopK(
      c: DataFrame, q: DataFrame, probes: DataFrame, approxScore: Column,
      k: Int, shortlistFactor: Int,
      broadcastQueries: Boolean, cellSalt0: Int): DataFrame = {
    // cellSalt 0 = AUTO: measure the cell histogram, pick S (above);
    // positive values remain the explicit dial
    val cellSalt = if (cellSalt0 > 0) cellSalt0 else autoCellSalt(c)
    // PROBED-CELL PRUNING (broadcast path only): with a small query side
    // the union of probed cells is tiny and knowable up front (nq x
    // nprobe values — the same frame we are about to broadcast anyway),
    // so it reaches the CODED-CORPUS SCAN as an In(cell) filter. Against
    // a persisted store whose batches are cell-sorted at admission
    // (appendCodedBatch), parquet row-group stats then skip every
    // unprobed cell — the scan reads ~nprobe/nlist of the store instead
    // of all of it, which is the difference between an index lookup and
    // a table scan at 100 TB. Semantically free: the equi-join on cell
    // already drops those rows; this drops them before they are read.
    // The corpus-as-queries path (broadcastQueries=false) probes
    // essentially every cell, so there is nothing to prune there.
    // The probe frame is MATERIALIZED (localCheckpoint: nq x nprobe
    // rows — small by the broadcast-path premise) before the cell set
    // is collected, so the In(cell) filter and the join consume the
    // SAME materialization: a nondeterministic queries frame cannot
    // collect a cell set inconsistent with the probe rows it later
    // joins (ADVICE r9). Deterministic queries remain the documented
    // contract for reproducible results, as everywhere else.
    val (cPruned, probeSide) =
      if (!broadcastQueries) (c, probes)
      else {
        val fixed = probes.localCheckpoint()
        val cells = fixed.select(col("cell")).distinct().collect().map(_.get(0))
        (if (cells.isEmpty) c else c.filter(col("cell").isInCollection(cells)),
          broadcast(fixed))
      }
    // HOT-CELL SALTING (cellSalt > 1): on clustered data a popular cell
    // holds thousands of candidates probed by thousands of queries, so
    // one join task owns one cell's whole candidate group — per-task
    // memory and stragglers track the HOTTEST cell, not the average.
    // Salting splits each cell's CORPUS rows S ways by id hash and
    // replicates each PROBE row S ways, so a task owns at most ~1/S of
    // any cell while every (query, candidate) pair still meets exactly
    // once — the same candidate multiset reaches TopKAgg, whose per-id
    // max dedup is partition-order-free, so results are IDENTICAL
    // (spec-gated). Cost: probe-side rows x S; corpus unchanged. (The
    // round-9 clustered-probe OOM that motivated this turned out to be
    // allocation churn in TopKAgg.reduce — fixed there — not join
    // buffering: salting is the dial for when a single cell's join
    // group genuinely exceeds a task, not a GC-pressure fix.)
    val joined =
      if (cellSalt <= 1) cPruned.join(probeSide, "cell")
      else cPruned.withColumn("salt",
          pmod(xxhash64(col("cid")), lit(cellSalt.toLong)).cast("int"))
        .join(probeSide.withColumn("salt",
          explode(array((0 until cellSalt).map(lit(_)): _*))), Seq("cell", "salt"))
    val scored = joined
      .filter(col("query_id") =!= col("cid"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        approxScore.as("cos"))
    val shortlist = emitTopK(scored, k * shortlistFactor)
      .select(col("query_id"), col("neighbor_id"))
    // NO distinct() on the replica frame: dedup there would shuffle the
    // entire coded corpus (vectors included) just to collapse nassign
    // replicas. The join fans each shortlist row out to <= nassign
    // identical-cosine rows instead, and TopKAgg's per-id max dedup
    // collapses them for free — the shortlist side stays broadcastable
    // and the corpus side never re-keys.
    // re-rank against the pruned frame too: every shortlisted id has at
    // least one replica row in a probed cell, replicas carry identical
    // cv, and TopKAgg dedups by id — so the pruned re-rank is exact and
    // its store scan skips the same unprobed row groups
    val reranked = shortlist
      .join(cPruned.select(col("cid").as("neighbor_id"), col("cv")), "neighbor_id")
      .join(if (broadcastQueries) broadcast(q) else q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cos"))
    emitTopK(reranked, k)
  }

  /** Fit the composite IVF-PQ index: coarse centroids via
    * [[fitCentroids]], then residual codebooks via [[fitPqCodebooks]]
    * over `unit(v) - centroid(unit(v))` (unitize = false — the
    * residuals' magnitudes ARE the signal). Same driver-action shape
    * as both constituents: each Lloyd pass is narrow + a map-side-
    * combined groupBy; the corpus never materializes.
    */
  def fitIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, kmeansIters: Int,
      m: Int, kcode: Int, pqIters: Int): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = fitCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val res = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("rid"), unitizeCol(col(vecCol)).as("uv"))
      .select(col("rid"),
        VectorFunctions.residual(col("uv"),
          element_at(bestCells(col("uv"), cents, 1), 1), cents).as("rv"))
    (cents, fitPqCodebooks(res, "rid", "rv", m, kcode, pqIters,
      unitize = false))
  }

  /** IVF-PQ, fit-inline convenience: [[fitIvfPq]] + [[ivfPqSearch]]. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 3,
      m: Int = 4, kcode: Int = 16, pqIters: Int = 2,
      nassign: Int = 2, shortlistFactor: Int = 8): DataFrame = {
    val (cents, books) = fitIvfPq(corpus, idCol, vecCol,
      nlist, kmeansIters, m, kcode, pqIters)
    ivfPqSearch(queries, corpus, idCol, vecCol, k, cents, books,
      nprobe, nassign, shortlistFactor)
  }

  /** Distributed kNN JOIN: every corpus row to its approximate top-k
    * neighbors — the building block of corpus-scale semantic dedup and
    * retrieval (SemDeDup's pairwise stage, done right: candidates meet
    * only inside probed cells, never Q x N). This is [[ivfPqSearch]]
    * with the corpus as its own query set and NO broadcast anywhere:
    * the probe frame (N x nprobe rows of m*k-double LUTs) and the coded
    * corpus (N x nassign rows of m codes) co-partition on cell, the
    * per-cell hash join emits candidate pairs, TopKAgg's map-side
    * partial aggregation caps what crosses the shuffle at
    * k*shortlistFactor rows per query per partition, and the exact
    * re-rank joins on id. At 100 TB, nlist should grow ~sqrt(N) so
    * cells stay executor-sized (AQE splits stragglers); on CLUSTERED
    * corpora where popular cells concentrate candidates regardless of
    * nlist, `cellSalt` splits each cell's join group S ways with
    * results proven identical (see the salting note in
    * ivfPqSearchCoded).
    */
  def ivfPqKnnJoin(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nprobe: Int = 4, nassign: Int = 2,
      shortlistFactor: Int = 8, cellSalt: Int = 0): DataFrame =
    ivfPqSearch(corpus, corpus, idCol, vecCol, k, cents, books,
      nprobe, nassign, shortlistFactor, broadcastQueries = false,
      cellSalt = cellSalt)

  // ---------- IVF-SQ: the within-cluster resolution tier ----------

  /** The SQ8-coded corpus frame: one narrow pass (unitize, `nassign`
    * replica cells, per-cell residual SQ8-encoded) — (cid, cv, cell,
    * sq). The SQ twin of [[codedCorpus]]: 8 bits per DIMENSION instead
    * of 4 bits per SUBSPACE, 1/4 the bytes of the float vector.
    */
  private def sqCodedCorpus(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], nassign: Int): DataFrame =
    replicaResiduals(corpus, idCol, vecCol, cents, nassign)
      .select(col("cid"), col("cv"), col("cell"),
        VectorFunctions.sqEncode(col("r")).as("sq"))

  /** IVF-SQ8 ANN search with exact re-ranking — the WITHIN-CLUSTER
    * RESOLUTION tier. Same decomposition as [[ivfPqSearch]]
    * (cos = dot(q, centroid) + dot(q, residual)) and the same
    * probed-cell join shape, but the residual term is scored against
    * 8-bit-per-dimension scalar codes instead of the m-subspace PQ LUT.
    *
    * Why it exists (measured, SCALE.md): on CLUSTERED corpora — the
    * regime IVF is for — probed cells hold thousands of candidates
    * whose 4-bit product codes are near-identical, so the PQ
    * approximate ranking cannot order them and recall is capped by the
    * shortlist (0.746 at the 32x gate with m=32; 128x costs 3.9x wall).
    * SQ8 codes rank candidates at ~full-precision fidelity (per-dim
    * quantization error <= max|r|/254), so the shortlist collapses to a
    * small factor (default 4x) and recall approaches exact. Cost: d
    * bytes per replica row instead of m nibbles (4x the float-vector
    * savings still), and d multiply-adds per candidate instead of m LUT
    * adds — the trade is MORE storage/scan than PQ, LESS shortlist and
    * re-rank work. At 100 TB: PQ remains the billion-scale
    * candidate-generation tier; SQ is the tier you pick when within-
    * cluster ordering is the bottleneck (dedup thresholds, recall
    * gates), or the re-rank stage between them. The probe side carries
    * the unit query vector itself (d doubles — SMALLER than the m*k
    * LUT), so the probe build stays one narrow map; everything else —
    * probed-cell pruning, hot-cell salting, TopKAgg shortlist, exact
    * re-rank — is [[probedCellTopK]], shared verbatim with the PQ tier.
    */
  def ivfSqSearch(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      nprobe: Int = 4, nassign: Int = 2,
      shortlistFactor: Int = 4,
      broadcastQueries: Boolean = true, cellSalt: Int = 1): DataFrame =
    ivfSqSearchCoded(sqCodedCorpus(corpus, idCol, vecCol, cents, nassign),
      queries, idCol, vecCol, k, cents, nprobe, shortlistFactor,
      broadcastQueries, cellSalt)

  /** [[ivfSqSearch]] over an already-coded frame (cid, cv, cell, sq) —
    * the scoring half, shared with the persisted-store SQ tier so a
    * store search runs EXACTLY the inline code path (the same sharing
    * contract as [[ivfPqSearchCoded]]/[[searchCodedStore]]).
    */
  private def ivfSqSearchCoded(
      c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      nprobe: Int, shortlistFactor: Int,
      broadcastQueries: Boolean, cellSalt: Int = 1): DataFrame = {
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.select(col("query_id"), unitizeCol(col("qv")).as("uq"))
      .select(col("query_id"), col("uq"),
        explode(VectorFunctions.nearestCellDots(col("uq"), cents, nprobe)).as("pc"))
      .select(col("query_id"), col("pc.cell").as("cell"),
        col("pc.dot").as("cell_dot"), col("uq"))
    probedCellTopK(c, q, probes,
      col("cell_dot") + VectorFunctions.sqDot(col("uq"), col("sq")),
      k, shortlistFactor, broadcastQueries, cellSalt)
  }

  /** Distributed kNN join on the SQ8 tier: [[ivfSqSearch]] with the
    * corpus as its own query set and no broadcast — the
    * [[ivfPqKnnJoin]] co-partitioned shape with within-cluster
    * resolution. The shortlist factor the PQ tier needs to chase
    * recall on clustered data (32-128x) is what makes its TopKAgg and
    * re-rank expensive; SQ8 scoring buys the same recall at a small
    * factor, trading scan bytes for shortlist work.
    */
  def ivfSqKnnJoin(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      nprobe: Int = 4, nassign: Int = 2,
      shortlistFactor: Int = 4, cellSalt: Int = 0): DataFrame =
    ivfSqSearch(corpus, corpus, idCol, vecCol, k, cents,
      nprobe, nassign, shortlistFactor, broadcastQueries = false,
      cellSalt = cellSalt)

  /** Persist the composite IVF-PQ index as ONE artifact: the coarse
    * centroid table and the residual codebook table under a common
    * root. Fit-once-search-many is the production shape for a 100 TB
    * corpus — the search job loads two tiny tables instead of running
    * Lloyd over the corpus (same stance as [[saveIndex]]/
    * [[savePqIndex]], which this composes).
    */
  def saveIvfPqIndex(spark: SparkSession, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], path: String): Unit = {
    saveIndex(spark, cents, path + "/centroids")
    savePqIndex(spark, books, path + "/codebooks")
  }

  /** Load a persisted composite IVF-PQ index. Both halves round-trip
    * doubles exactly, so a loaded index assigns, encodes, and searches
    * bit-identically to the freshly fitted pair (gated in-query by
    * q119).
    */
  def loadIvfPqIndex(spark: SparkSession,
      path: String): (Array[Array[Double]], Array[Array[Array[Double]]]) =
    (loadIndex(spark, path + "/centroids"), loadPqIndex(spark, path + "/codebooks"))

  // ---------- incremental admission: the coded-corpus store ----------
  //
  // The admission-store family (q104 gram store, q105 signature store,
  // q112 component labels, q83 sketches) extended to VECTORS: new
  // embeddings join a persisted IVF-PQ index without a refit and
  // without ever rescanning history. The scale shape per crawl batch:
  // load the (tiny) index artifact, encode the batch against the
  // EXISTING centroids/codebooks in one narrow pass, land the coded
  // rows in their own `batch_id=N` subdirectory — O(batch) work
  // however large the accumulated corpus is. Search reads the store
  // (codes prune what it reads; original vectors only re-rank the
  // shortlist) and serves old+new identically to a from-scratch
  // encode, because encoding is a pure function of (vector, index).
  // Refit-on-drift stays a policy decision above this layer: the
  // store records which index version coded each batch via the
  // artifact it was encoded with.

  /** Encode one admission batch against a FIXED index and land it in
    * the coded-corpus store at `path`: (cid, cv, cell, codes) rows
    * under `batch_id=N`, written with mode("overwrite") so a
    * replayed/retried batch is a storage no-op — the same per-batch
    * idempotent layout as [[graft.operators.SketchStore.appendBatch]]
    * and the rest of the admission-store family. One narrow pass over
    * the batch; history is never read. Each vector lands `nassign`
    * replica rows (cv duplicated per replica — the standard
    * storage-for-boundary-recall trade of replicated IVF lists).
    */
  def appendCodedBatch(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      batchId: Long, path: String, nassign: Int = 2): Unit = {
    // cell-sorted within each written file: per-row-group cell min/max
    // stats become tight ranges, so the broadcast search path's In(cell)
    // pushdown (ivfPqSearchCoded) skips unprobed cells' row groups at
    // scan time — the layout half of making a store search an index
    // lookup rather than a table scan. Both code tiers land (PQ +
    // SQ8): the residual is in hand anyway, and it makes read-time
    // tier choice free — searches that don't score a tier never read
    // its column (parquet pruning).
    codedCorpusBothTiers(batch, idCol, vecCol, cents, books, nassign)
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    // the drift signal that decides WHEN the policy above this layer
    // refits: per-batch quantization error, one tiny row per batch in
    // a sibling table (same idempotent per-batch overwrite)
    batch.filter(col(vecCol).isNotNull)
      .select(selfQuantError(col(vecCol), cents, books).as("err"))
      .agg(count(lit(1)).as("n_vectors"),
        avg(col("err")).as("mean_err"), max(col("err")).as("max_err"))
      .write.mode("overwrite").parquet(s"${path}_stats/batch_id=$batchId")
  }

  /** The index's quantization error on one vector: 1 minus the PQ
    * approximation of the vector's OWN similarity to itself —
    * dot(u, centroid(u)) + LUT_u(codes of u's residual), exactly the
    * search-time score decomposition applied reflexively, built from
    * the same codegen'd kernels (NearestCellDots, PqLut) in one narrow
    * expression. Near 0 when the index still describes the vector;
    * rises as new data drifts off the fitted centroid/codebook
    * geometry — the per-batch aggregate of this is the refit trigger
    * signal ([[codedStoreDriftStats]]).
    */
  private def selfQuantError(vec: Column,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val kcode = books(0).length
    val uv = unitizeCol(vec)
    val pc = element_at(VectorFunctions.nearestCellDots(uv, cents, 1), 1)
    val cell = pc.getField("cell")
    val lut = VectorFunctions.pqLut(uv, books)
    val codes = pqEncodeExpr(VectorFunctions.residual(uv, cell, cents), books)
    val approxSelf = pc.getField("dot") + (0 until m).map(j =>
      element_at(lut, lit(j * kcode + 1) + codes.getItem(j))).reduce(_ + _)
    lit(1.0) - approxSelf
  }

  /** Per-batch quantization-error trend of a coded store: (batch_id,
    * n_vectors, mean_err, max_err) ordered by batch — the refit-on-
    * drift dashboard. A rising mean_err across admitted batches means
    * the frozen index no longer describes the incoming distribution;
    * the policy layer compares recent batches against the fit-time
    * baseline (batch 0, usually) and triggers [[fitIvfPq]] +
    * re-encode when the gap crosses its tolerance. One scan of KBs
    * regardless of corpus size.
    */
  def codedStoreDriftStats(spark: SparkSession, storePath: String): DataFrame =
    Tables.parquet(spark, s"${storePath}_stats")
      .select(col("batch_id"), col("n_vectors"), col("mean_err"), col("max_err"))
      .orderBy(col("batch_id"))

  /** IVF-PQ search over every batch of a persisted coded-corpus store:
    * one scan of the store (no encode — the expensive half of the
    * query-time plan is already on disk), then exactly the
    * [[ivfPqSearch]] scoring/shortlist/re-rank path. The index pair
    * passed here must be the one the batches were encoded with (the
    * [[saveIvfPqIndex]] artifact it sits next to); admitted-then-
    * searched equals fit-fresh-searched row for row, which q123 gates
    * in-query.
    */
  def searchCodedStore(
      spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      storePath: String,
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame =
    searchCodedFrame(Tables.parquet(spark, storePath), queries,
      idCol, vecCol, k, cents, books,
      nprobe, shortlistFactor, broadcastQueries, tier)

  /** [[searchCodedStore]] over a caller-supplied coded frame instead of
    * a whole store directory — the entry point
    * [[VectorStore.searchTransitional]] needs to search a SUBSET of a
    * store's batches (those not yet migrated to a new index generation)
    * with the index they were encoded with.
    *
    * `tier` picks the read-time resolution: "pq" scores the m-subspace
    * codes (the default — candidate generation at 16-64× compression),
    * "sq" scores the 8-bit-per-dim SQ8 struct (within-cluster
    * resolution at a small shortlist — the measured clustered-recall
    * fix, SCALE.md). Each tier reads ONLY its code column (parquet
    * pruning); a pre-SQ8 store searched with tier="sq" fails loudly at
    * analysis (missing `sq` column) rather than serving degraded
    * results — re-admit or migrate such stores to add the tier.
    */
  def searchCodedFrame(
      coded: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      nprobe: Int = 4, shortlistFactor: Int = 8,
      broadcastQueries: Boolean = true, tier: String = "pq"): DataFrame =
    tier match {
      case "pq" =>
        ivfPqSearchCoded(coded.select("cid", "cv", "cell", "codes"),
          queries, idCol, vecCol, k, cents, books,
          nprobe, shortlistFactor, broadcastQueries)
      case "sq" =>
        ivfSqSearchCoded(coded.select("cid", "cv", "cell", "sq"),
          queries, idCol, vecCol, k, cents,
          nprobe, shortlistFactor, broadcastQueries)
      case other => throw new IllegalArgumentException(
        s"unknown search tier '$other' (expected pq or sq)")
    }

  /** Merge per-query result lists back down to top-k: the input carries
    * (query_id, neighbor_id, cos) rows from ANY number of searches whose
    * `cos` is the EXACT re-ranked cosine (every public search here
    * re-ranks exactly, so scores are comparable across indexes), and the
    * output is the same (query_id, rank, neighbor_id, cos) contract.
    * Because top-k of a union equals top-k of the per-subset top-k's,
    * this makes a search over a corpus partitioned across index
    * generations exact with respect to its per-generation shortlists —
    * the two-generation migration serve path. TopKAgg's per-id max also
    * collapses a neighbor admitted to more than one searched subset.
    */
  def mergeTopK(results: DataFrame, k: Int): DataFrame =
    emitTopK(results.select(col("query_id"), col("neighbor_id"), col("cos")), k)
}
