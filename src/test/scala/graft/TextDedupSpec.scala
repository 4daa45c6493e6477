package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashExprs, TextFunctions, VectorFunctions}
import graft.operators.{Components, Dedup}

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c.as("r")).head().get(0)

  test("tokens drop empties; tokenCount counts the rest") {
    assert(one(TextFunctions.tokenCount(col("t")), "a  b   c") == 3L)
    assert(one(TextFunctions.tokenCount(col("t")), "") == 0L)
    assert(one(TextFunctions.tokenCount(col("t")), "   ") == 0L)
  }

  test("shingles produce distinct n-grams; short docs give empty set") {
    val sh = one(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3), "a b c d")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh.toSet == Set("a b c", "b c d"))
    assert(one(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3), "a b")
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
  }

  test("stopwordRatio / avgTokenLen exact rationals") {
    assert(one(TextFunctions.stopwordRatio(TextFunctions.tokens(col("t"))), "the cat") == 0.5)
    assert(one(TextFunctions.avgTokenLen(TextFunctions.tokens(col("t"))), "ab abcd") == 3.0)
  }

  test("qualityScore bounded in [0,1]") {
    val scores = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(TextFunctions.qualityScore(col("text")).as("q")).as[Double].collect()
    assert(scores.nonEmpty && scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("langId picks the stopword-dominant language, und on no signal") {
    assert(one(TextFunctions.langId(col("t")), "the cat is in the hat") == "en")
    assert(one(TextFunctions.langId(col("t")), "le chat est la de et") == "fr")
    assert(one(TextFunctions.langId(col("t")), "xyzzy plugh") == "und")
  }

  test("simhash: identical shingle sets -> identical hash; disjoint -> different") {
    val df = Seq("a b c d e f", "a b c d e f", "q w e r t y z").toDF("t")
      .select(HashExprs.simhash64(
        TextFunctions.shingles(TextFunctions.tokens(col("t")), 3)).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("minhash signature: determinism and length") {
    val sigs = Seq("a b c d e", "a b c d e").toDF("t")
      .select(HashExprs.minhashSignature(
        TextFunctions.shingles(TextFunctions.tokens(col("t")), 3), 64).as("s"))
      .as[Seq[Long]].collect()
    assert(sigs(0).length == 64 && sigs(0) == sigs(1))
  }

  test("hash expressions: codegen and interpreted paths agree") {
    val df = Tables.load(spark, TestSpark.sf0001, "documents").limit(50)
      .select(col("doc_id"),
        HashExprs.simhash64(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("sh"),
        HashExprs.minhashSignature(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3), 32).as("mh"),
        HashExprs.rollingFingerprints(col("text")).as("fp"))
    val withCodegen = df.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.collect().map(_.toString).sorted.toSeq
      assert(withCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("rolling fingerprints: shared content shares fingerprints") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val fps = Seq(base, base + " with a small suffix appended here", "completely different words everywhere")
      .toDF("t").select(HashExprs.rollingFingerprints(col("t")).as("f"))
      .as[Seq[Long]].collect()
    val overlap01 = fps(0).toSet.intersect(fps(1).toSet).size
    val overlap02 = fps(0).toSet.intersect(fps(2).toSet).size
    assert(overlap01 > 0 && overlap02 == 0)
  }

  test("winnowing is alignment-independent (prefix shift keeps shared fingerprints)") {
    // the winnowing guarantee: any shared substring of length >= k+w-1
    // yields a shared fingerprint, regardless of byte offset
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away tonight"
    val fps = Seq(base, "zq " + base)
      .toDF("t").select(HashExprs.rollingFingerprints(col("t")).as("f"))
      .as[Seq[Long]].collect()
    val inter = fps(0).toSet.intersect(fps(1).toSet).size
    assert(inter > 0, s"shifted copy shares no fingerprints: ${fps(0).take(5)} vs ${fps(1).take(5)}")
    // and most fingerprints of the shorter doc should survive the shift
    assert(inter * 2 >= fps(0).size, s"only $inter of ${fps(0).size} survived")
  }

  /** Plain-Scala reference of the portable winnowing family (md5 gram
    * hashes, min per complete w-window, one window when grams < w).
    */
  private def winnowRef(text: String, k: Int = 8, w: Int = 16): Seq[Long] = {
    val m = math.max(text.length - k + 1, 1)
    val hs = (1 to m).map { i =>
      val gram = text.substring(i - 1, math.min(i - 1 + k, text.length))
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val mins =
      if (hs.size >= w) (w to hs.size).map(j => hs.slice(j - w, j).min)
      else Seq(hs.min)
    mins.distinct.sorted
  }

  test("portable winnowing matches the scala reference on fixture docs") {
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "short", "x", "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    val got = graft.operators.Dedup.winnowedFingerprintsPortable(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    docs.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == winnowRef(t), s"doc $i")
    }
  }

  test("portable winnowing keeps the shared-substring guarantee") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away tonight"
    val fps = graft.operators.Dedup.winnowedFingerprintsPortable(
        Seq((0L, base), (1L, "zq " + base), (2L, "completely different words everywhere"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L).intersect(fps(1L)).nonEmpty, "shifted copy must share fingerprints")
    assert(fps(0L).intersect(fps(2L)).isEmpty, "unrelated docs must not")
  }

  test("q29 csv output encodes exactly the portable fingerprint arrays") {
    val expect = graft.operators.Dedup.winnowedFingerprintsPortable(
        Tables.load(spark, TestSpark.sf0001, "documents"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val rows = Queries.queries("q29_fingerprint")(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val arr = expect(r.getLong(0))
      assert(r.getLong(1) == arr.size && r.getString(2) == arr.mkString(","))
    }
  }

  test("exact dedup survivor is deterministic under ties and repartitioning") {
    val rows = Seq((1L, "k", "b"), (1L, "k", "a"), (1L, "k", "c"))
    val out1 = graft.operators.Dedup.exact(rows.toDF("id", "key", "v"), Seq("key"), "id")
      .select("v").as[String].head()
    val out2 = graft.operators.Dedup.exact(
      rows.toDF("id", "key", "v").repartition(7), Seq("key"), "id")
      .select("v").as[String].head()
    assert(out1 == "a" && out2 == "a") // min over the (id, v) tuple
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // clone-id offset for planted-duplicate fixtures: far above any real id
  private val CloneShift = 1L << 40

  test("exact dedup keeps min-survivor row per key") {
    val df = Seq((3L, "x", "c3"), (1L, "x", "c1"), (2L, "y", "c2")).toDF("id", "k", "payload")
    val out = Dedup.exact(df, Seq("k"), "id").orderBy("k")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"), r.getAs[String]("payload")))
    assert(out.toSeq == Seq(("x", 1L, "c1"), ("y", 2L, "c2")))
  }

  test("minhash-LSH pairs == exact jaccard pairs at threshold 0.8 (sf0.001)") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val lsh = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("minhash-LSH at threshold 0.6 with retuned bands == exact jaccard (q57 scale path)") {
    // q57's dedup-group pair source: 64 bands of r=2 put the S-curve knee
    // well below 0.6 (candidate prob at j=0.6 is 1-(1-0.36)^64 ≈ 1-4e-13),
    // so LSH-then-verify must equal the all-pairs graph exactly
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val lsh = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 64, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("simhash near-dup pairs are a subset of exact jaccard pairs at 0.6") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val sim = Dedup.simHashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactLoose = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.subsetOf(exactLoose))
  }

  test("portable md5 simhash: deterministic 32-bit halves, pairs stay within loose jaccard") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val fps = Dedup.simHashFingerprintsPortable(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    assert(fps.forall { case (_, hi, lo) =>
      hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32) })
    // identical text -> identical fingerprint (same doc loaded twice)
    val twice = Dedup.simHashFingerprintsPortable(docs.unionByName(docs), "doc_id", "text")
      .distinct().count()
    assert(twice == fps.length)
    // on this corpus (planted pairs at j>=0.8, noise below 0.2) any sane
    // family only pairs planted near-dups: subset of the 0.6 graph
    val p = Dedup.simHashNearDupPairsPortable(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactLoose = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p.subsetOf(exactLoose))
  }

  test("short docs (empty shingle sets) neither crash nor flood the LSH buckets") {
    val docs = Seq(
      (1L, "hi"), (2L, "hi"), (3L, "yo there"),
      (4L, "a b c d e f g h i j k l m"), (5L, "a b c d e f g h i j k l m")
    ).toDF("doc_id", "text")
    val lsh = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the identical long docs pair up; sub-n-token docs are excluded
    assert(lsh == Set((4L, 5L)) && exact == Set((4L, 5L)))
  }

  test("adaptive bucket cap bounds a clone army with no explicit cap") {
    // 1200 identical docs share one bucket in EVERY band; the adaptive
    // cap (max(1000, 4*sqrt(N)) = 1000 here) drops them, so the O(M^2)
    // candidate bomb never forms, while the genuine near-dup pair among
    // ordinary docs is untouched. Exact-duplicate armies belong to
    // Dedup.exact upstream — that is the documented contract.
    val army = spark.range(1200).select(col("id").as("doc_id"),
      lit("spam boilerplate terms repeated across the entire crawl forever and ever").as("text"))
    val real = Seq(
      (100001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (100002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(army.unionByName(real), "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((100001L, 100002L)))
  }

  test("exact dedup with null survivor values keeps one consistent source row") {
    val df = Seq(
      (Option.empty[Long], "k", "b"), (Some(5L), "k", "a")
    ).toDF("id", "key", "v")
    val out = Dedup.exact(df, Seq("key"), "id").head()
    // nulls-first ordering: the (null, "b") row is the orderKey minimum,
    // and BOTH output columns come from it — never a synthetic mix
    assert(out.isNullAt(out.fieldIndex("id")) && out.getAs[String]("v") == "b")
  }

  test("exactJaccardPairs refuses corpus-sized input (cartesian fence)") {
    val docs = Seq.tabulate(5)(i => (i.toLong, s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.exactJaccardPairs(docs, "doc_id", "text", maxDocs = 3)
    }
    assert(ex.getMessage.contains("minHashNearDupPairs"))
    // and under the fence it still works
    assert(Dedup.exactJaccardPairs(docs, "doc_id", "text", maxDocs = 10).count() == 0L)
  }

  test("simhash rejects maxHamming > 3 (pigeonhole guarantee would not hold)") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assertThrows[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 4)
    }
  }

  test("LSH bucket cap drops degenerate boilerplate buckets, not the rest, and logs it") {
    // 30 identical boilerplate docs: every band-bucket of theirs has 30
    // members. With cap 10 those buckets are dropped (exact-dup clusters
    // belong to Dedup.exact upstream); the small distinct near-dup pair
    // in its own 2-member buckets must still be found.
    val boiler = Seq.tabulate(30)(i =>
      (i.toLong, "free prize click here now winner winner chicken dinner"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "the quick brown fox jumps over the lazy dog tonight"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")

    // capture the observed drop metric (GraftSession's logger consumes the
    // same metric; listener delivery is async, so poll briefly)
    @volatile var dropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.minhash_lsh"))
            dropped = row.getAs[Long]("dropped_band_buckets")
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text", maxBucketSize = 10)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((100L, 101L)), s"got $pairs")
      val deadline = System.currentTimeMillis() + 10000
      while (dropped < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(dropped > 0, "oversized-bucket drop count must be observed, never silent")
    } finally spark.listenerManager.unregister(listener)
  }

  test("two LSH invocations compose into one query (unique metric names)") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val x = Dedup.minHashNearDupPairs(docs, "doc_id", "text", bands = 16)
      .select("id_a", "id_b")
    val y = Dedup.minHashNearDupPairs(docs, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    // duplicate CollectMetrics names would fail analysis here
    assert(x.unionByName(y).distinct().count() == 1L)
  }

  test("embedding near-dup finds noisy (not bit-identical) duplicates") {
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // re-encoded copy: every component scaled by 1+1e-4 (cos ~ 1.0 but
    // floats differ, so some hyperplane projections can flip sign)
    val noisy = emb.select((col("vec_id") + CloneShift).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairs(emb.unionByName(noisy), "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    val planted = emb.select("vec_id").as[Long].collect().map(i => (i, i + CloneShift)).toSet
    val recall = pairs.intersect(planted).size.toDouble / planted.size
    assert(recall >= 0.95, s"banded sign-LSH recall $recall below 0.95")
  }

  test("semanticDedup keeps exactly the min-id member of each duplicate group") {
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val recrawl = emb.unionByName(
      emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
    val survivors = Dedup.semanticDedup(recrawl, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    val originals = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors == originals)
    // and on a corpus with no near-dups, nothing is dropped
    val untouched = Dedup.semanticDedup(emb, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(untouched == originals)
  }

  test("boundedCells splits a skewed-but-splittable cell below the cap") {
    // 400 DISTINCT vectors fanned over one angular sector (they all
    // share a nearest centroid — the 30%-of-corpus-in-one-cell skew the
    // uncapped version was vulnerable to) + 100 spread elsewhere. The
    // refinement loop must re-cluster the fan into sub-cells <= cap with
    // nothing left irreducible.
    val fan = Seq.tabulate(400) { i =>
      val th = 0.5 * i / 400.0
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat, 0f, 0f))
    }
    val rest = Seq.tabulate(100) { i =>
      val th = math.Pi / 2 + 0.5 * i / 100.0 // orthogonal sector
      (1000L + i, Array(0f, 0f, math.cos(th).toFloat, math.sin(th).toFloat))
    }
    val v = (fan ++ rest).toDF("id", "v")
    val (cells, residual) = Dedup.boundedCells(
      v, nlist = 4, kmeansIters = 2, cap = 50L, refineRounds = 4)
    assert(residual.isEmpty, s"fan must be splittable, got residual $residual")
    val sizes = cells.groupBy("cell").count().as[(Long, Long)].collect()
    assert(sizes.map(_._2).max <= 50L,
      s"cell over cap after refinement: ${sizes.filter(_._2 > 50).mkString(",")}")
    assert(cells.count() == 500L, "refinement must not lose or duplicate rows")
  }

  test("semanticDedup collapses an identical-vector megacluster via exact-collapse, O(n)") {
    // 300 bit-identical vectors: no centroid split can EVER separate
    // them, so the quadratic-stage defense is the exact-collapse step —
    // one representative enters the cell machinery, clones chain to it
    // with O(n) pairs. Exactly one survivor (the min id), orthogonal
    // singletons untouched, and no residual cell is left for the cap.
    val ones = Array.fill(8)(0.5f)
    val mega = Seq.tabulate(300)(i => (1000L + i, ones))
    val singles = Seq.tabulate(8)(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i) 1f else 0f)))
    val v = (mega ++ singles).toDF("id", "v")
    val survivors = Dedup.semanticDedup(v, "id", "v",
        threshold = 0.99, nlist = 4, kmeansIters = 2,
        maxCellSize = 50, refineRounds = 2)
      .select("id").as[Long].collect().toSet
    assert(survivors == (singles.map(_._1).toSet + 1000L), s"got $survivors")
  }

  test("semanticDedup hub fallback bounds a tight distinct blob no split separates") {
    // 100 DISTINCT near-identical vectors (pairwise cos ~ 1-5e-5), one
    // cell (nlist=1), refineRounds=0: the cell lands in the residual
    // list and must dedup through the O(n) min-id-hub compare — every
    // member is within threshold of the hub, so one survivor; the
    // orthogonal singles sharing the cell stay.
    val blob = Seq.tabulate(100) { i =>
      val raw = Array(1f, 1e-4f * i, 0f, 0f, 0f, 0f, 0f, 0f)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, raw.map(_ / n))
    }
    val singles = Seq.tabulate(5)(i =>
      (1000L + i, Array.tabulate(8)(d => if (d == i + 2) 1f else 0f)))
    val v = (blob ++ singles).toDF("id", "v")
    val survivors = Dedup.semanticDedup(v, "id", "v",
        threshold = 0.99, nlist = 1, kmeansIters = 1,
        maxCellSize = 20, refineRounds = 0)
      .select("id").as[Long].collect().toSet
    assert(survivors == (singles.map(_._1).toSet + 0L), s"got $survivors")
  }

  test("semanticDedup: a chain inside one cell (A~B, B~C, A!~C) leaves only its min id") {
    def at(th: Double) = Array(math.cos(th).toFloat, math.sin(th).toFloat, 0f, 0f)
    val (a, b, c) = (at(0.0), at(0.1), at(0.2))
    val cos = Seq((a, b, c)).toDF("a", "b", "c").select(
      VectorFunctions.cosine(col("a"), col("b")), VectorFunctions.cosine(col("b"), col("c")),
      VectorFunctions.cosine(col("a"), col("c"))).head()
    assert(cos.getDouble(0) >= 0.99 && cos.getDouble(1) >= 0.99 && cos.getDouble(2) < 0.99, cos)
    // the chain's min id at its end (A) and in its middle (B)
    for ((ids, want) <- Seq((Seq(1L, 2L, 3L), 1L), (Seq(2L, 1L, 3L), 1L))) {
      val v = ids.zip(Seq(a, b, c)).toDF("id", "v")
      val survivors = Dedup.semanticDedup(v, "id", "v", threshold = 0.99, nlist = 1, kmeansIters = 1)
        .select("id").as[Long].collect().toSeq
      assert(survivors == Seq(want), s"chain $ids")
    }
  }

  /** The pair-graph formulation of [[Dedup.semanticDedup]] that the
    * per-cell pass replaced, kept as its oracle: within-cell cosine
    * pairs, min-id-hub pairs in residual cells and clone-to-
    * representative pairs, then [[Components.connectedComponents]]
    * over all of them; every non-root is dropped. Also returns the
    * residual cells and the number of near-dup representative pairs
    * that land in different cells (the test's coverage witnesses).
    */
  private def pairGraphSemanticDedup(
      vecs: DataFrame, threshold: Double, nlist: Int, kmeansIters: Int,
      maxCellSize: Int, refineRounds: Int): (Set[Long], Seq[Long], Long) = {
    val v = vecs.filter(col("v").isNotNull).select("id", "v")
    val cap: Long =
      if (maxCellSize > 0) maxCellSize.toLong
      else math.max(4096L, 8L * math.sqrt(v.count().toDouble).toLong)
    val withRep = v.withColumn("rep_id", min(col("id")).over(Window.partitionBy(col("v"))))
    val clonePairs = withRep.filter(col("id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("id").as("id_b"))
    val reps = withRep.filter(col("id") === col("rep_id")).select("id", "v")
    val (cells, residual) = Dedup.boundedCells(reps, nlist, kmeansIters, cap, refineRounds)
    val bounded = cells.filter(!col("cell").isInCollection(residual))
    def near(a: String, b: String) = VectorFunctions.cosine(col(s"$a.v"), col(s"$b.v")) >= threshold
    val cellPairs = bounded.alias("a").join(bounded.alias("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(near("a", "b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val res = cells.filter(col("cell").isInCollection(residual))
    val hubs = res.groupBy(col("cell")).agg(min(col("id")).as("hub_id"))
      .join(res.select(col("cell"), col("id").as("hub_id"), col("v").as("hub_v")), Seq("cell", "hub_id"))
    val hubPairs = res.join(hubs, "cell")
      .filter(col("id") =!= col("hub_id"))
      .filter(VectorFunctions.cosine(col("v"), col("hub_v")) >= threshold)
      .select(least(col("hub_id"), col("id")).as("id_a"), greatest(col("hub_id"), col("id")).as("id_b"))
    val dropped = Components.connectedComponents(
        cellPairs.unionByName(hubPairs).unionByName(clonePairs), "id_a", "id_b")
      .filter(col("id") =!= col("comp")).select("id")
    val survivors = v.join(dropped, Seq("id"), "left_anti").select("id").as[Long].collect().toSet
    val crossCell = cells.alias("a").join(cells.alias("b"),
        col("a.cell") =!= col("b.cell") && col("a.id") < col("b.id"))
      .filter(near("a", "b")).count()
    (survivors, residual, crossCell)
  }

  /** Four orthogonal clusters whose in-cluster cosines straddle 0.99
    * (near-dup chains beside unlinked points), bit-identical clones on either side of their
    * source's id, a null embedding, and a vector with a null element
    * plus its clone; ids shuffled by `seed`.
    */
  private def crossCheckCorpus(seed: Long, elem: DataType): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val dim = 8
    // half the points tight (pairwise cos ~0.99), half loose (~0.93)
    val vecs = for (c <- 0 until 4; i <- 0 until 30; sd = if (i % 2 == 0) 0.03 else 0.1)
      yield Array.tabulate[Any](dim)(d => if (d == c) 1.0 else rnd.nextGaussian() * sd)
    val ids = rnd.shuffle((0 until vecs.size).map(i => 10L * i + 100L))
    val clones = rnd.shuffle(vecs.indices.toList).take(12).zipWithIndex.map { case (i, k) =>
      (ids(i) + (if (k % 2 == 0) 3L else -3L), vecs(i)) // unique: ids are 0 mod 10
    }
    val nullElem = Array[Any](1.0, null, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val rows = ids.zip(vecs) ++ clones ++ Seq((1L, null), (2L, nullElem), (3L, nullElem))
    def cast(x: Any): Any = if (x == null || elem == DoubleType) x else x.asInstanceOf[Double].toFloat
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(elem, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, v) =>
      Row(id, Option(v).map(_.toSeq.map(cast)).orNull)
    }, 3), schema)
  }

  test("semanticDedup == the pair-graph + connectedComponents oracle on seeded corpora") {
    val configs = Seq( // (nlist, maxCellSize, refineRounds)
      (8, 0, 3), // default cap: clusters split over cells, pair mode only
      (2, 40, 1), // one refinement round splits both cells below the cap
      (3, 40, 0)) // hub cells beside pair cells in one pass
    var residualSeen = false
    var crossSeen = false
    for (seed <- Seq(11L, 12L); elem <- Seq(FloatType, DoubleType); (nlist, cap, rounds) <- configs) {
      val corpus = crossCheckCorpus(seed, elem).localCheckpoint()
      val got = Dedup.semanticDedup(corpus, "id", "v", threshold = 0.99, nlist = nlist,
          kmeansIters = 2, maxCellSize = cap, refineRounds = rounds)
        .select("id").as[Long].collect()
      val (want, residual, crossCell) = pairGraphSemanticDedup(corpus, 0.99, nlist, 2, cap, rounds)
      val tag = s"seed $seed, $elem, nlist $nlist, cap $cap, rounds $rounds"
      assert(got.length == got.toSet.size, tag)
      assert(got.toSet == want, tag)
      assert(!want.contains(1L) && want.contains(2L) && !want.contains(3L), tag)
      assert(want.size < 121, s"$tag: no near-dup was dropped")
      residualSeen ||= residual.nonEmpty
      crossSeen ||= crossCell > 0
    }
    assert(residualSeen, "no configuration left a residual hub cell")
    assert(crossSeen, "no near-dup pair straddled two cells")
  }

  test("semanticDedup on a 300-row batch runs at most 16 Spark jobs") {
    // the curation batch's shape: 64-dim embeddings around 16 centres,
    // some bit-identical and some within 1e-6 of another row; 4 cells
    // and one k-means round, as the curation op calls it
    val rnd = new scala.util.Random(5)
    val centres = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val base = (0 until 240).map(i => centres(rnd.nextInt(16)).map(_ + 0.5 * rnd.nextGaussian()))
    val planted = (0 until 60).map { i =>
      val src = base(rnd.nextInt(base.size))
      if (i % 2 == 0) src else src.map(_ + 1e-6 * (rnd.nextDouble() - 0.5))
    }
    val batch = (base ++ planted).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").localCheckpoint()
    val (survivors, jobs) = JobCounter.jobsIn(spark) {
      Dedup.semanticDedup(batch, "id", "v", nlist = 4, kmeansIters = 1).select("id").as[Long].collect()
    }
    assert(survivors.length <= 240 && survivors.length >= 200, survivors.length)
    // AQE's job count varies between runs: 16 leaves margin over the
    // 11 measured
    assert(jobs <= 16, s"semanticDedup ran $jobs Spark jobs on 300 rows")
  }

  test("semanticDedupGroupsKnn: vectors with no qualifying edge survive as singletons") {
    // One clone pair (the only edge) among unique orthogonal vectors —
    // the common real-corpus case the r8 ADVICE flagged: the component
    // pass labels only edge endpoints, so the unique vectors must be
    // unioned back as their own singleton components, not silently
    // dropped from the survivor surface.
    val ones = Array.fill(8)(0.5f)
    val singles = Seq.tabulate(6)(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == i) 1f else 0f)))
    val v = (singles ++ Seq((100L, ones), (200L, ones))).toDF("id", "v")
    val labels = Dedup.semanticDedupGroupsKnn(v, "id", "v",
        threshold = 0.99, k = 3, nlist = 2, kmeansIters = 2,
        m = 8, kcode = 4, pqIters = 2, nprobe = 2, nassign = 1,
        shortlistFactor = 4)
      .as[(Long, Long)].collect().toSet
    assert(labels ==
      (singles.map { case (i, _) => (i, i) }.toSet + ((100L, 100L)) + ((200L, 100L))),
      s"got $labels")
  }

  test("semanticDedupGroupsKnn sq tier: clone groups identical to the pq tier at 1/8th the shortlist") {
    // the q124 clone fixture: every vector unioned with an id-shifted
    // exact copy — both tiers must recover exactly {v, v+shift} groups;
    // the sq tier does it at shortlist 4x (vs the pq gate's 32x) with
    // no codebook fit, which is the point of the dial
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val recrawl = emb.unionByName(
      emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
    val sq = Dedup.semanticDedupGroupsKnn(recrawl, "vec_id", "embedding",
        shortlistFactor = 4, tier = "sq")
      .as[(Long, Long)].collect().toSet
    val want = emb.select("vec_id").as[Long].collect().toSet
      .flatMap((i: Long) => Set((i, i), (i + CloneShift, i)))
    assert(sq == want)
    assertThrows[IllegalArgumentException] {
      Dedup.semanticDedupGroupsKnn(recrawl, "vec_id", "embedding", tier = "flat")
    }
  }

  test("embedding near-dup finds planted duplicates exactly") {
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val recrawl = emb.unionByName(
      emb.select((col("vec_id") + CloneShift).as("vec_id"), col("embedding")))
    val pairs = Dedup.embeddingNearDupPairs(recrawl, "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    val planted = emb.select("vec_id").as[Long].collect().map(i => (i, i + CloneShift)).toSet
    assert(pairs == planted)
  }

  test("sign-LSH caps a degenerate constant-sign bucket, keeps the rest, and logs it") {
    // Adversarial bucket skew: 40 bit-identical vectors (a re-crawled
    // page's embedding) hash identically in EVERY band, funneling all 40
    // into one bucket per band — uncapped that is O(M^2) candidates.
    // With cap 10 those buckets are dropped and counted (exact-dup
    // clusters belong to exact dedup upstream); a distinct near-dup
    // pair in its own 2-member buckets must still be found.
    val cloneVec = Array(0.7f, -0.2f, 0.4f, 0.1f, -0.5f, 0.3f, -0.1f, 0.6f)
    val clones = Seq.tabulate(40)(i => (i.toLong, cloneVec))
    val pairBase = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val pair = Seq(
      (100L, pairBase),
      (101L, pairBase.map(_ * 1.0001f)))
    val vecs = (clones ++ pair).toDF("vec_id", "embedding")

    @volatile var dropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.sign_lsh"))
            dropped = row.getAs[Long]("dropped_band_buckets")
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
          maxBucketSize = 10)
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((100L, 101L)), s"got $pairs")
      val deadline = System.currentTimeMillis() + 10000
      while (dropped < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(dropped > 0, "oversized-bucket drop count must be observed, never silent")
    } finally spark.listenerManager.unregister(listener)
  }

  test("duplicateSpans finds exactly the planted cross-doc span, maximal") {
    // docs 1 and 2 share a 10-token run at different offsets inside
    // otherwise-unique text; doc 3 is unique filler. minTokens=8 means
    // the run produces 3 overlapping duplicated 8-grams per doc, which
    // must merge into ONE maximal span of 10 tokens — not three rows.
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"$shared zeta eta theta iota kappa unique1 unique2"),
      (3L, "lone words that never repeat anywhere else at all truly")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq(
      (1L, 4L, 10L, shared),
      (2L, 1L, 10L, shared)))
  }

  test("duplicateSpans keeps disjoint duplicated runs as separate spans") {
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$runA x1 x2 x3 $runB"),
      (2L, s"pre1 pre2 $runA mid1 mid2 mid3 $runB post1")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq(
      (1L, 1L, 8L, runA), (1L, 12L, 8L, runB),
      (2L, 3L, 8L, runA), (2L, 14L, 8L, runB)))
  }

  test("duplicateSpans absorbs null/empty/short texts (web-corpus reality)") {
    val shared = (1 to 8).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, shared), (2L, shared),
      (3L, null.asInstanceOf[String]), (4L, ""), (5L, "too short")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq((1L, 1L, 8L, shared), (2L, 1L, 8L, shared)))
  }

  test("gram store admission: history hits flagged, intra-batch dups are not") {
    val boiler = (1 to 9).map(i => s"b$i").mkString(" ")
    val fresh = (1 to 8).map(i => s"n$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-spanstore").toString
    val batch1 = Seq((1L, s"intro words $boiler outro")).toDF("doc_id", "text")
    Dedup.appendGramStore(batch1, "doc_id", "text", 8, batchId = 0L, path = dir)
    // batch2: doc 10 repeats history's boilerplate (must flag, maximal);
    // docs 11+12 share a run only with EACH OTHER (store check must NOT
    // flag it — admission dedups against history, not within the batch)
    val batch2 = Seq(
      (10L, s"u1 u2 $boiler u3"),
      (11L, s"$fresh v1 v2 v3 v4 v5"),
      (12L, s"w1 w2 w3 w4 w5 w6 w7 w8 $fresh")
    ).toDF("doc_id", "text")
    val hits = Dedup.spansAgainstStore(batch2, "doc_id", "text", 8, dir)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(hits == Seq((10L, 3L, 9L, boiler)))
    // after admitting batch2's grams, a later doc carrying `fresh` hits
    Dedup.appendGramStore(batch2, "doc_id", "text", 8, batchId = 1L, path = dir)
    val batch3 = Seq((20L, s"x1 x2 x3 $fresh")).toDF("doc_id", "text")
    val hits3 = Dedup.spansAgainstStore(batch3, "doc_id", "text", 8, dir)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(hits3 == Seq((20L, 4L, 8L, fresh)))
  }

  test("minhash store admission: clones rejected, fresh admitted, intra-batch dups are not history") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    val histA = "the quick brown fox jumps over the lazy dog tonight again"
    val histB = "completely different second document with its own unique vocabulary here"
    val freshC = "novel never before seen content that shares nothing with history"
    val history = Seq((1L, histA), (2L, histB)).toDF("doc_id", "text")
    Dedup.appendMinHashStore(history, "doc_id", "text",
      numHashes = 32, bands = 8, batchId = 0L, path = storeDir)
    // batch 2: doc 10 is an exact clone of history (hits ALL 8 bands ->
    // rejected); docs 11+12 are intra-batch duplicates of a FRESH text
    // (the store is history, not the batch: both admitted); doc 13 too
    // short to shingle (admitted by definition)
    val batch = Seq(
      (10L, histA), (11L, freshC), (12L, freshC), (13L, "tiny tx")
    ).toDF("doc_id", "text")
    val got = Dedup.admitAgainstMinHashStore(batch, "doc_id", "text",
        numHashes = 32, bands = 8, path = storeDir)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((10L, 8L, false), (11L, 0L, true),
      (12L, 0L, true), (13L, 0L, true)), s"got $got")
    // admitting the fresh batch makes a later clone of it hit
    Dedup.appendMinHashStore(batch.filter(col("doc_id") =!= 10),
      "doc_id", "text", numHashes = 32, bands = 8, batchId = 1L, path = storeDir)
    val later = Dedup.admitAgainstMinHashStore(
        Seq((20L, freshC)).toDF("doc_id", "text"), "doc_id", "text",
        numHashes = 32, bands = 8, path = storeDir)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(later == Seq((20L, 8L, false)), s"got $later")
    // and a retried append of the SAME batch id is idempotent (no
    // duplicate keys, same decisions)
    Dedup.appendMinHashStore(batch.filter(col("doc_id") =!= 10),
      "doc_id", "text", numHashes = 32, bands = 8, batchId = 1L, path = storeDir)
    val afterRetry = Dedup.admitAgainstMinHashStore(
        Seq((20L, freshC)).toDF("doc_id", "text"), "doc_id", "text",
        numHashes = 32, bands = 8, path = storeDir)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(afterRetry == later)
  }

  test("minhash band keys: native and portable families make the same clone/fresh decisions") {
    // the families differ in key representation (XXH64 longs vs md5
    // hex), never in clone-collision structure: identical docs collide
    // in every band under BOTH
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated words in this one right here")).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val keys = Dedup.minHashBandKeys(docs, "doc_id", "text",
        numHashes = 32, bands = 8, portableKeys = portable)
      val shared = keys.filter(col("id") === 1).alias("a")
        .join(keys.filter(col("id") === 2).alias("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .count()
      assert(shared == 8L, s"portable=$portable: clones must collide in all bands")
      val cross = keys.filter(col("id") === 1).alias("a")
        .join(keys.filter(col("id") === 3).alias("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .count()
      assert(cross == 0L, s"portable=$portable: disjoint docs must not collide")
    }
  }

  test("duplicateSpans: native XXH64 and portable md5 key families agree") {
    // the two hash families must produce IDENTICAL span sets on random
    // corpora with planted shared runs — they only differ in what
    // crosses the shuffle, never in the result
    val rnd = new scala.util.Random(7)
    val shared = (1 to 3).map(k =>
      Seq.fill(8 + rnd.nextInt(4))(s"s${rnd.nextInt(50)}_$k").mkString(" "))
    val docs = (1L to 40L).map { id =>
      val filler = Seq.fill(5 + rnd.nextInt(20))(s"f${rnd.nextInt(3000)}")
      val t =
        if (id % 4 == 0) // plant a shared run at a random offset
          (filler.take(3) ++ Seq(shared(rnd.nextInt(3))) ++ filler.drop(3))
            .mkString(" ")
        else filler.mkString(" ")
      (id, t)
    }.toDF("doc_id", "text")
    val native = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    val portable = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8,
      portableKeys = true)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(native == portable)
    assert(native.nonEmpty) // the planted runs actually duplicated
  }

  test("duplicateSpans: a 9-token shared run reports one 9-token span") {
    // two overlapping duplicated 8-grams -> islands arithmetic must
    // yield span_tokens = 9, not 8 or 16
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $shared"),
      (2L, s"$shared v1 v2 v3 v4 v5 v6 v7")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq((1L, 3L, 9L, shared), (2L, 1L, 9L, shared)))
  }

  test("generational gram store: decisions match the flat store, compaction dedups overlap, lifecycle fences hold") {
    // the q151 machinery on the GRAM store (q151 itself gates the
    // signature store): same admitted history through both forms must
    // yield identical span hits; compaction's cross-batch distinct
    // shrinks the store when batches share boilerplate; sealed ids and
    // the CAS retry behave as the family requires
    import graft.operators.KeySetStore
    val boiler = (1 to 9).map(i => s"b$i").mkString(" ")
    val fresh = (1 to 8).map(i => s"n$i").mkString(" ")
    val flat = java.nio.file.Files.createTempDirectory("graft-gramflat").toString
    val root = java.nio.file.Files.createTempDirectory("graft-gramgen")
      .toString + "/gstore"
    // both batches carry the SAME boilerplate -> overlapping gram keys
    val b0 = Seq((1L, s"intro words $boiler outro")).toDF("doc_id", "text")
    val b1 = Seq((2L, s"other head $boiler tail"), (3L, s"pad pad2 $fresh"))
      .toDF("doc_id", "text")
    Dedup.appendGramStore(b0, "doc_id", "text", 8, batchId = 0L, path = flat)
    Dedup.appendGramStore(b1, "doc_id", "text", 8, batchId = 1L, path = flat)
    KeySetStore.init(root)
    Dedup.admitGramBatch(b0, "doc_id", "text", 8, batchId = 0L, root = root)
    Dedup.admitGramBatch(b1, "doc_id", "text", 8, batchId = 1L, root = root)
    val probe = Seq((10L, s"u1 u2 $boiler u3"), (11L, s"x1 x2 x3 $fresh"))
      .toDF("doc_id", "text")
    def hitsGen() = Dedup.spansAgainstStoreGen(probe, "doc_id", "text", 8, root)
      .as[(Long, Long, Long, String)].collect().toSeq
    val flatHits = Dedup.spansAgainstStore(probe, "doc_id", "text", 8, flat)
      .as[(Long, Long, Long, String)].collect().toSeq
    val pre = hitsGen()
    assert(pre == flatHits, "generational store diverged from the flat store")
    assert(pre.map(_._1).toSet == Set(10L, 11L))
    // compaction: decisions identical, cross-batch overlap removed
    val fragRows = spark.read.parquet(root + "/gen=1").count()
    val distinctRows = spark.read.parquet(root + "/gen=1")
      .drop("batch_id").distinct().count()
    assert(distinctRows < fragRows,
      "fixture premise: the batches overlap, so compaction must shrink the store")
    assert(KeySetStore.compactStore(spark, root, expectedGen = 1L) === 2L)
    assert(KeySetStore.fragmentCount(spark, root) === 1L)
    assert(spark.read.parquet(root + "/gen=2").count() === distinctRows)
    assert(hitsGen() == pre, "compaction changed admission decisions")
    // CAS retry no-op; sealed replay refused; appends go on top
    assert(KeySetStore.compactStore(spark, root, expectedGen = 1L) === 2L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "gen=3")))
    val sealedErr = intercept[IllegalArgumentException] {
      Dedup.admitGramBatch(b0, "doc_id", "text", 8, batchId = 1L, root = root)
    }
    assert(sealedErr.getMessage.contains("compact"))
    Dedup.admitGramBatch(probe, "doc_id", "text", 8, batchId = 2L, root = root)
    assert(KeySetStore.fragmentCount(spark, root) === 2L)
    // the appended batch is live history now
    val later = Dedup.spansAgainstStoreGen(
        Seq((20L, s"z1 z2 u1 u2 $boiler u3")).toDF("doc_id", "text"),
        "doc_id", "text", 8, root)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(later.nonEmpty && later.head._1 == 20L)
  }

  test("signature store takedown: re-crawl re-admitted, decisions == key-subtracted rebuild, purge physical") {
    import graft.operators.KeySetStore
    val base = java.nio.file.Files.createTempDirectory("graft-sig-takedown")
    val root = s"$base/store"
    val rebuilt = s"$base/rebuilt"
    def doc(id: Long, words: String) = (id, words)
    // A unique; C and D exact clones; E unique — C is taken down while
    // its clone D survives (the shared-key caveat made concrete)
    val corpus = Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta"),
      doc(3L, "shared clone body one two three four"),
      doc(4L, "shared clone body one two three four"),
      doc(5L, "omega psi chi phi upsilon tau")).toDF("doc_id", "text")
    KeySetStore.init(root)
    Dedup.admitMinHashBatch(corpus.filter($"doc_id" < 4), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, batchId = 0L, root = root)
    Dedup.admitMinHashBatch(corpus.filter($"doc_id" >= 4), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, batchId = 1L, root = root)
    val dead = corpus.filter($"doc_id" === 1L || $"doc_id" === 3L)
    def probe() = Dedup.admitAgainstMinHashStoreGen(corpus, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, root = root)
      .as[(Long, Long, Boolean)].collect().toSeq
    // pre-takedown: every doc's own keys are present -> all rejected
    assert(probe().forall(!_._3))
    Dedup.deleteMinHashBatch(dead, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    val pending = probe()
    val byId = pending.map(p => p._1 -> p._3).toMap
    // A's keys were uniquely its own -> its re-crawl admits again
    assert(byId(1L), "takedown of a unique doc must re-open admission")
    // C's keys are shared with surviving clone D: the SUBTRACTION
    // removed them, so BOTH C's re-crawl and D's probe admit — the
    // documented key-set semantics (rebuild without those KEYS)
    assert(byId(3L) && byId(4L))
    assert(!byId(5L), "an untouched doc must stay rejected")
    // decisions == a store rebuilt from (admitted keys) EXCEPT (dead keys)
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minHashBandKeys(df, "doc_id", "text", n = 3, numHashes = 32,
        bands = 8).select($"band", $"bucket").distinct()
    KeySetStore.init(rebuilt)
    KeySetStore.admitBatch(
      keysOf(corpus).join(keysOf(dead), Seq("band", "bucket"), "left_anti"),
      0L, rebuilt)
    val want = Dedup.admitAgainstMinHashStoreGen(corpus, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, root = rebuilt)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(pending == want, "pending-delete read != key-subtracted rebuild")
    // replayed delete and delete of never-admitted keys: no-ops
    Dedup.deleteMinHashBatch(dead, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    Dedup.deleteMinHashBatch(
      Seq(doc(99L, "never admitted words at all")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 32, bands = 8,
      batchId = 1L, root = root)
    assert(probe() == pending)
    // compaction applies the subtraction physically, decisions unmoved
    assert(KeySetStore.compactStore(spark, root, expectedGen = 1L) === 2L)
    assert(probe() == pending, "compaction changed takedown decisions")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "gen=2", "deletes")),
      "the compacted generation must carry no pending delete set")
    val gen2Keys = spark.read.parquet(s"$root/gen=2").drop("batch_id")
    assert(gen2Keys.join(keysOf(dead), Seq("band", "bucket"), "left_semi")
      .isEmpty, "a dead key survived compaction")
    // post-compaction appends land on top and are live history
    Dedup.admitMinHashBatch(corpus.filter($"doc_id" === 1L), "doc_id",
      "text", n = 3, numHashes = 32, bands = 8, batchId = 2L, root = root)
    assert(!probe().map(p => p._1 -> p._3).toMap.apply(1L),
      "a re-admitted doc must be history again")
  }

  test("precomputed-key forms == derive-inline forms: decisions bit-identical, stores land identical key sets") {
    import graft.operators.KeySetStore
    val base = java.nio.file.Files.createTempDirectory("graft-sig-prekeys")
    val (rInline, rKeys) = (s"$base/inline", s"$base/keys")
    // doc 9 is too short to shingle: it has NO key rows and must still
    // be decided (admitted) by both forms — the ids-frame contract
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "shared clone body one two three four"),
      (3L, "shared clone body one two three four"),
      (5L, "omega psi chi phi upsilon tau"),
      (9L, "tiny")).toDF("doc_id", "text")
    val keys = Dedup.minHashBandKeys(corpus, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, portableKeys = true)
      .localCheckpoint()
    KeySetStore.init(rInline); KeySetStore.init(rKeys)
    // admit even ids inline, the same slice via precomputed keys
    Dedup.admitMinHashBatch(corpus.filter($"doc_id" % 2 === 0), "doc_id",
      "text", n = 3, numHashes = 32, bands = 8, batchId = 0L,
      root = rInline, portableKeys = true)
    Dedup.admitMinHashKeysBatch(keys.filter($"id" % 2 === 0),
      batchId = 0L, root = rKeys)
    // delete doc 2's keys from both
    Dedup.deleteMinHashBatch(corpus.filter($"doc_id" === 2L), "doc_id",
      "text", n = 3, numHashes = 32, bands = 8, batchId = 0L,
      root = rInline, portableKeys = true)
    Dedup.deleteMinHashKeysBatch(keys.filter($"id" === 2L),
      batchId = 0L, root = rKeys)
    // both stores hold the same effective key set
    def stored(r: String) = KeySetStore.keysCurrent(spark, r)
      .as[(Long, String)].collect().toSeq.sorted
    assert(stored(rInline) == stored(rKeys),
      "precomputed-key admission/delete landed a different key set")
    // decisions bit-identical, incl. the shingle-less doc (admitted, 0 bands)
    val inline = Dedup.admitAgainstMinHashStoreGen(corpus, "doc_id",
        "text", n = 3, numHashes = 32, bands = 8, root = rInline,
        portableKeys = true)
      .as[(Long, Long, Boolean)].collect().toSeq
    val pre = Dedup.admitKeysAgainstMinHashStoreGen(
        corpus.select($"doc_id".as("id")), keys, rKeys)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(inline == pre, "precomputed-key decisions differ from inline")
    assert(pre.find(_._1 == 9L).exists(r => r._2 == 0L && r._3),
      "a shingle-less doc must be admitted with zero hit bands")
  }

  test("gram store takedown: the removed doc's spans stop flagging; unrelated spans keep flagging") {
    import graft.operators.KeySetStore
    val root = java.nio.file.Files.createTempDirectory("graft-gram-takedown")
      .toString + "/gstore"
    val runA = (1 to 9).map(i => s"a$i").mkString(" ")
    val runB = (1 to 9).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"head $runA tail"),
      (2L, s"pre $runB post")).toDF("doc_id", "text")
    KeySetStore.init(root)
    Dedup.admitGramBatch(corpus, "doc_id", "text", 8, batchId = 0L, root = root)
    val probe = Seq((10L, s"x1 x2 $runA x3"), (11L, s"y1 y2 $runB y3"))
      .toDF("doc_id", "text")
    def hits() = Dedup.spansAgainstStoreGen(probe, "doc_id", "text", 8, root)
      .select("doc_id").as[Long].collect().toSet
    assert(hits() == Set(10L, 11L), "fixture premise: both runs flag")
    Dedup.deleteGramBatch(corpus.filter($"doc_id" === 1L), "doc_id", "text",
      8, batchId = 0L, root = root)
    assert(hits() == Set(11L),
      "takedown of doc 1 must stop its run flagging and leave doc 2's alone")
    KeySetStore.compactStore(spark, root, expectedGen = 1L)
    assert(hits() == Set(11L), "compaction changed takedown span decisions")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "gen=2", "deletes")))
  }
}
