package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, GenStore, InvertedIndex, KeySetStore,
  Similarity, VectorStore}

/** The `needsCompaction` policy family — the compaction twin of
  * [[VectorStore.needsRefit]]: fragment count OR pending-delete
  * fraction crossing a threshold triggers the fold, so the
  * pending-takedown serving window is bounded by CONTRACT rather than
  * by an operator remembering to schedule maintenance. The predicates
  * are held to a metadata cost model (parquet footer counts, the KB
  * stats read) — cheap enough for every maintenance tick.
  */
class CompactionPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString + "/store"

  test("footerRowCount == a full count for arbitrary shapes (partitions, row groups, empty frames)") {
    val dir = Files.createTempDirectory("graft-frc-prop-").toString
    val shapes = Seq(
      ("one_row", spark.range(1).toDF("id")),
      ("empty", spark.range(0).toDF("id")),
      ("many_parts", spark.range(0, 4321).repartition(13).toDF("id")),
      ("tiny_groups", spark.range(0, 999).toDF("id")),
      ("wide", spark.range(0, 777).selectExpr("id", "cast(id as string) s",
        "id * 1.5 d")))
    shapes.foreach { case (tag, df) =>
      val p = s"$dir/$tag"
      if (tag == "tiny_groups")
        df.coalesce(1).write.option("parquet.block.size", 4096).parquet(p)
      else df.write.parquet(p)
      val want = spark.read.parquet(p).count()
      assert(GenStore.footerRowCount(spark, Seq(p)) === want,
        s"footer count diverges from the scan count for shape $tag")
    }
  }

  test("GenStore.footerRowCount: exact counts from footers, zero for missing dirs") {
    val dir = Files.createTempDirectory("graft-frc-").toString
    spark.range(0, 123).toDF("id").write.parquet(s"$dir/a")
    spark.range(0, 77).repartition(4).toDF("id").write.parquet(s"$dir/b/nested")
    assert(GenStore.footerRowCount(spark, Seq(s"$dir/a")) === 123L)
    assert(GenStore.footerRowCount(spark, Seq(s"$dir/b")) === 77L)
    assert(GenStore.footerRowCount(spark, Seq(s"$dir/a", s"$dir/b")) === 200L)
    assert(GenStore.footerRowCount(spark, Seq(s"$dir/absent")) === 0L)
  }

  test("KeySetStore: pending fraction triggers, compactIfNeeded closes the window, decisions unchanged") {
    val root = fresh("ncks")
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    KeySetStore.init(root)
    Dedup.admitMinHashBatch(docs, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    // fresh store, one fragment, nothing pending: no trigger
    assert(!KeySetStore.needsCompaction(spark, root))
    // a small takedown under a loose threshold: still no trigger
    val dead = docs.filter(col("doc_id") % 7 === 3)
    Dedup.deleteMinHashBatch(dead, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    assert(!KeySetStore.needsCompaction(spark, root,
      maxPendingFraction = 0.99))
    // ~1/7 of the keys pending >= 5% threshold: trigger fires
    assert(KeySetStore.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    // the fold: window closed, nothing pending, decisions identical
    val before = Dedup.admitAgainstMinHashStoreGen(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, root = root)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(KeySetStore.compactIfNeeded(spark, root,
      maxPendingFraction = 0.05) === Some(2L))
    assert(!KeySetStore.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    val after = Dedup.admitAgainstMinHashStoreGen(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, root = root)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(after === before, "the policy-fired compaction changed decisions")
    // the fragment-count leg
    Dedup.admitMinHashBatch(docs.limit(5), "doc_id", "text", n = 3,
      numHashes = 32, bands = 8, batchId = 10L, root = root)
    assert(KeySetStore.needsCompaction(spark, root, maxFragments = 2))
    assert(!KeySetStore.needsCompaction(spark, root, maxFragments = 3))
  }

  test("InvertedIndex: pending fraction triggers on doc counts; compactIfNeeded purges") {
    val root = fresh("ncidx")
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    InvertedIndex.initStore(root)
    InvertedIndex.admitBatch(spark, docs, "doc_id", "tk", 7L, 0L, root)
    assert(!InvertedIndex.needsCompaction(spark, root))
    InvertedIndex.admitDeleteBatch(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id",
      0L, root)
    assert(!InvertedIndex.needsCompaction(spark, root,
      maxPendingFraction = 0.99))
    assert(InvertedIndex.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    assert(InvertedIndex.compactIfNeeded(spark, root,
      maxPendingFraction = 0.05).isDefined)
    assert(!InvertedIndex.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    assert(!Files.exists(
      java.nio.file.Paths.get(root, "gen=2", "deletes")))
  }

  test("VectorStore: pending fraction triggers on admitted-vector counts; compactIfNeeded purges") {
    val root = fresh("ncvec")
    val corpus = spark.range(0, 200).select(col("id").as("vec_id"),
      array((0 until 16).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(2001L)) - 1000L) / 1000.0)
          .cast("double")): _*).as("embedding"))
    val (c, b) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      nlist = 8, kmeansIters = 2, m = 8, kcode = 16, pqIters = 2)
    VectorStore.init(spark, root, c, b)
    VectorStore.admit(spark, root, corpus, "vec_id", "embedding", 0L)
    assert(!VectorStore.needsCompaction(spark, root))
    VectorStore.admitDeletes(spark, root,
      corpus.filter(col("vec_id") % 10 === 2).select("vec_id"), "vec_id", 0L)
    // 10% dead: below a 50% threshold, above a 5% one
    assert(!VectorStore.needsCompaction(spark, root,
      maxPendingFraction = 0.5))
    assert(VectorStore.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    assert(VectorStore.compactIfNeeded(spark, root,
      maxPendingFraction = 0.05) === Some(2L))
    assert(!VectorStore.needsCompaction(spark, root,
      maxPendingFraction = 0.05))
    assert(spark.read.parquet(VectorStore.codedDir(root, 2L))
      .filter(col("cid") % 10 === 2).count() === 0L)
  }

  test("maintenanceStatus reports the predicate's inputs; a fold zeroes the pending side") {
    val root = fresh("mstat")
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    KeySetStore.init(root)
    Dedup.admitMinHashBatch(docs, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    Dedup.deleteMinHashBatch(docs.filter(col("doc_id") % 7 === 3), "doc_id",
      "text", n = 3, numHashes = 32, bands = 8, batchId = 0L, root = root)
    def status() = KeySetStore.maintenanceStatus(spark, root,
      maxPendingFraction = 0.05).head()
    val pendingRow = status()
    assert(pendingRow.getAs[Long]("generation") === 1L)
    assert(pendingRow.getAs[Long]("fragments") === 1L)
    assert(pendingRow.getAs[Long]("pending_rows") > 0L)
    assert(pendingRow.getAs[Double]("pending_fraction") ===
      pendingRow.getAs[Long]("pending_rows").toDouble /
        pendingRow.getAs[Long]("data_rows"))
    assert(pendingRow.getAs[Boolean]("needs_compaction"),
      "dashboard disagrees with the predicate it mirrors")
    KeySetStore.compactIfNeeded(spark, root, maxPendingFraction = 0.05)
    val folded = status()
    assert(folded.getAs[Long]("generation") === 2L)
    assert(folded.getAs[Long]("pending_rows") === 0L)
    assert(folded.getAs[Double]("pending_fraction") === 0.0)
    assert(!folded.getAs[Boolean]("needs_compaction"))
    // the index and vector dashboards share the row shape
    val cols = Seq("generation", "fragments", "data_rows", "pending_rows",
      "pending_fraction", "needs_compaction")
    val iroot = fresh("mstat-idx")
    InvertedIndex.initStore(iroot)
    InvertedIndex.admitBatch(spark, docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("tk")),
      "doc_id", "tk", 7L, 0L, iroot)
    assert(InvertedIndex.maintenanceStatus(spark, iroot).columns.toSeq === cols)
  }

  /** One store of the family under the policy table: its init, one
    * admission under a batch id, and its policy surface at a given
    * `maxFragments`.
    */
  private case class PolicyStore(name: String, store: GenStore.FragmentStore,
      init: String => Unit, admit: (String, Long) => Unit,
      needs: (String, Int) => Boolean,
      status: (String, Int) => org.apache.spark.sql.Row,
      compact: (String, Int) => Option[Long])

  private val policyStores: Seq[PolicyStore] = {
    import graft.operators.{HeavyHitters, QuantileStore, SketchStore}
    def samples(b: Long) = Seq(("a", 1L + b), ("a", 3L), ("b", 2L + b))
      .toDF("k", "v")
    def vecs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("vec_id"), array((0 until 8).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(201L)) - 100L) / 100.0)
          .cast("double")): _*).as("embedding"))
    lazy val index = Similarity.fitIvfPq(vecs(0, 40), "vec_id",
      "embedding", nlist = 2, kmeansIters = 1, m = 2, kcode = 4, pqIters = 1)
    Seq(
      PolicyStore("InvertedIndex", InvertedIndex, InvertedIndex.initStore,
        (root, b) => InvertedIndex.admitBatch(spark,
          Seq((10 * b, Seq("a", "b")), (10 * b + 1, Seq("b")))
            .toDF("doc_id", "tk"), "doc_id", "tk", 7L, b, root),
        InvertedIndex.needsCompaction(spark, _, _),
        InvertedIndex.maintenanceStatus(spark, _, _).head(),
        InvertedIndex.compactIfNeeded(spark, _, _)),
      PolicyStore("VectorStore", VectorStore,
        VectorStore.init(spark, _, index._1, index._2),
        (root, b) => VectorStore.admit(spark, root, vecs(20 * b, 20 * b + 20),
          "vec_id", "embedding", b),
        VectorStore.needsCompaction(spark, _, _),
        VectorStore.maintenanceStatus(spark, _, _).head(),
        VectorStore.compactIfNeeded(spark, _, _)),
      PolicyStore("KeySetStore", KeySetStore, KeySetStore.init,
        (root, b) => KeySetStore.admitBatch(spark.range(0, 10 + b).toDF("k"),
          b, root),
        KeySetStore.needsCompaction(spark, _, _),
        KeySetStore.maintenanceStatus(spark, _, _).head(),
        KeySetStore.compactIfNeeded(spark, _, _)),
      PolicyStore("SketchStore", SketchStore, SketchStore.initStore,
        (root, b) => SketchStore.admitBatch(spark, samples(b), Seq("k"), "v",
          b, root),
        SketchStore.needsCompaction(spark, _, _),
        SketchStore.maintenanceStatus(spark, _, _).head(),
        SketchStore.compactIfNeeded(spark, _, Seq("k"), _)),
      PolicyStore("QuantileStore", QuantileStore, QuantileStore.initStore,
        (root, b) => QuantileStore.admitBatch(spark, samples(b), Seq("k"),
          "v", 0.0, 1.0, 8, b, root),
        QuantileStore.needsCompaction(spark, _, _),
        QuantileStore.maintenanceStatus(spark, _, _).head(),
        QuantileStore.compactIfNeeded(spark, _, Seq("k"), _)),
      PolicyStore("HeavyHitters", HeavyHitters, HeavyHitters.initStore,
        (root, b) => HeavyHitters.admitBatch(spark, samples(b), "k", 4, b,
          root),
        HeavyHitters.needsCompaction(spark, _, _),
        HeavyHitters.maintenanceStatus(spark, _, _).head(),
        HeavyHitters.compactIfNeeded(spark, _, 4, _)))
  }

  policyStores.foreach { st =>
    test(s"policy table: ${st.name} fires at maxFragments, its dashboard agrees, compactIfNeeded folds to one fragment") {
      val root = fresh(s"policy-${st.name}")
      st.init(root)
      def agrees(expected: Boolean): Unit = {
        assert(st.needs(root, 2) === expected,
          s"needsCompaction at ${st.store.fragmentCount(spark, root)} fragments")
        assert(st.status(root, 2).getAs[Boolean]("needs_compaction") === expected,
          "the dashboard row disagrees with needsCompaction")
      }
      st.admit(root, 0L)
      agrees(false) // one fragment: below maxFragments = 2
      assert(st.compact(root, 2) === None)
      st.admit(root, 1L)
      agrees(true) // two fragments: at maxFragments
      val gen = st.store.currentGen(root)
      assert(st.compact(root, 2) === Some(gen + 1))
      assert(st.store.fragmentCount(spark, root) === 1L)
      agrees(false)
    }
  }

  test("the mergeable stores carry the policy surface too: fragment leg + dashboard, no phantom delete side") {
    import graft.operators.{HeavyHitters, QuantileStore, SketchStore}
    import spark.implicits._
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
    // sketch store
    val sroot = fresh("ncsk")
    SketchStore.initStore(sroot)
    (0L to 1L).foreach(b => SketchStore.admitBatch(spark,
      ev.filter(pmod(col("event_id"), lit(2)) === b),
      Seq("event_type"), "user_id", b, sroot))
    val srow = SketchStore.maintenanceStatus(spark, sroot, maxFragments = 2)
      .head()
    assert(srow.getAs[Long]("fragments") === 2L)
    assert(srow.getAs[Long]("pending_rows") === 0L)
    // frequency store
    val hroot = fresh("nchh")
    HeavyHitters.initStore(hroot)
    (0L to 1L).foreach(b => HeavyHitters.admitBatch(spark,
      ev.filter(pmod(col("event_id"), lit(2)) === b)
        .select(col("event_type").as("k")), "k", 8, b, hroot))
    assert(HeavyHitters.maintenanceStatus(spark, hroot)
      .head().getAs[Long]("pending_rows") === 0L)
    // quantile store: a retraction is a DATA fragment, so it shows in
    // the fragment count, never in a phantom pending side
    val qroot = fresh("ncqs")
    QuantileStore.initStore(qroot)
    val rows = spark.range(100).select(col("id"), lit("k").as("k"),
      (pmod(col("id"), lit(10L)) + 1).cast("double").as("v"))
    QuantileStore.admitBatch(spark, rows, Seq("k"), "v", 1.0, 1.0, 10,
      0L, qroot)
    QuantileStore.retractBatch(spark, rows.limit(10), Seq("k"), "v",
      1.0, 1.0, 10, 1L, qroot)
    val qrow = QuantileStore.maintenanceStatus(spark, qroot,
      maxFragments = 2).head()
    assert(qrow.getAs[Long]("fragments") === 2L,
      "a retraction fragment must count as a data fragment")
    assert(qrow.getAs[Long]("pending_rows") === 0L)
    assert(QuantileStore.needsCompaction(spark, qroot, maxFragments = 2))
    assert(QuantileStore.compactIfNeeded(spark, qroot, Seq("k"), 2)
      .contains(2L))
    assert(!QuantileStore.needsCompaction(spark, qroot, maxFragments = 2))
  }

  test("the continuous takedown sink with compactAtPendingFraction bounds the window in-stream") {
    import graft.streaming.EventStreams
    val base = Files.createTempDirectory("graft-ncsink-").toString
    val root = s"$base/sig"
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    KeySetStore.init(root)
    Dedup.admitMinHashBatch(docs, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = root)
    val dead = docs.filter(col("doc_id") % 5 === 1)
    val feed = s"$base/feed"
    dead.repartition(2).write.parquet(feed)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = EventStreams.signatureTakedownIngest(stream, "doc_id", "text",
      root, s"$base/_cp", compactAtPendingFraction = 0.01)
    try q.processAllAvailable() finally q.stop()
    // the in-stream maintenance leg fired: a generation rolled and the
    // pending set is folded away (bounded by contract, not diligence)
    assert(GenStore.currentGen(root) > 1L,
      "compactAtPendingFraction never fired a compaction")
    assert(!KeySetStore.needsCompaction(spark, root,
      maxPendingFraction = 0.01),
      "the sink left a pending window above its own threshold")
    // and the takedown semantics held: decisions equal the batch
    // closed form (delete + compact via the batch APIs) — dead docs
    // re-admit; survivors reject except clones sharing every band with
    // a dead doc, the documented key-set caveat both forms share
    val twin = s"$base/twin"
    KeySetStore.init(twin)
    Dedup.admitMinHashBatch(docs, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = twin)
    Dedup.deleteMinHashBatch(dead, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = twin)
    KeySetStore.compactStore(spark, twin, GenStore.currentGen(twin))
    def dec(r: String) = Dedup.admitAgainstMinHashStoreGen(docs, "doc_id",
        "text", n = 3, numHashes = 32, bands = 8, root = r)
      .as[(Long, Long, Boolean)].collect().toSeq
    val streamed = dec(root)
    assert(streamed === dec(twin),
      "sink-maintained store decisions diverge from the batch closed form")
    assert(streamed.filter(_._1 % 5 == 1L).forall(_._3),
      "a taken-down doc is not re-admittable after the purge")
  }
}
