package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, InvertedIndex, KeySetStore, Par, Similarity, VectorStore}

/** The independence contract behind in-query section overlap (Par,
  * guide §2.6): sections touching DISJOINT store roots produce stores
  * and serve reads bit-identical to the same sections run sequentially.
  * These are the shapes q161/q192/q194 overlap.
  */
class OverlapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-overlap-$tag").toString

  test("Par.both/all: results in order, failures propagate unwrapped, partner completes") {
    assert(Par.both(1 + 1, "x" * 2) == (2, "xx"))
    assert(Par.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    val partnerRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.both({ Thread.sleep(10); throw new IllegalStateException("boom") },
        { Thread.sleep(50); partnerRan.set(true) })
    }
    assert(e.getMessage == "boom")
    assert(partnerRan.get(), "partner section must be awaited, not abandoned")
    val e2 = intercept[IllegalArgumentException] {
      Par.both((), { throw new IllegalArgumentException("pool side") })
    }
    assert(e2.getMessage == "pool side")
  }

  test("Par.all: a failing pooled section still awaits its running partners") {
    val partnerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => (),
        () => throw new IllegalStateException("pooled"),
        () => { Thread.sleep(300); partnerDone.set(true) }))
    }
    assert(e.getMessage == "pooled")
    assert(partnerDone.get(), "Par.all returned while a partner section was still running")
    val first = intercept[IllegalArgumentException] {
      Par.all(Seq(() => 1,
        () => { Thread.sleep(100); throw new IllegalArgumentException("first") },
        () => throw new IllegalStateException("second")))
    }
    assert(first.getMessage == "first", "the first failure in section order propagates")
  }

  test("concurrent disjoint-root key-set stores == sequential twins (the q194 fleet shape)") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val keys = Dedup.minHashBandKeys(docs, "doc_id", "text", n = 3,
      numHashes = 32, bands = 8, portableKeys = true).localCheckpoint()
    val (ca, cb, sa, sb) = (tmp("ca"), tmp("cb"), tmp("sa"), tmp("sb"))
    def build(root: String, h: Long): Unit = {
      KeySetStore.init(root)
      Dedup.admitMinHashKeysBatch(
        keys.filter(pmod(col("id"), lit(2)) === h), batchId = 0L, root = root)
    }
    // concurrent pair vs sequential pair over the same slices
    Par.both(build(ca, 0L), build(cb, 1L))
    build(sa, 0L); build(sb, 1L)
    def stored(r: String) = KeySetStore.keysCurrent(spark, r)
      .as[(Long, String)].collect().toSeq.sorted
    assert(stored(ca) == stored(sa), "concurrent store A diverged")
    assert(stored(cb) == stored(sb), "concurrent store B diverged")
  }

  test("index family || vector family == sequential (the q161 shape): bm25 and search bit-identical") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val terms = Seq("join", "vector", "stream", "window")
    val (vc, vb) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
      nlist = 8, kmeansIters = 1, m = 8, kcode = 16, pqIters = 1)

    def buildIndex(root: String): Seq[(Long, Double)] = {
      InvertedIndex.initStore(root)
      InvertedIndex.admitBatch(spark, docs, "doc_id", "tk", 64L,
        batchId = 0L, root = root)
      InvertedIndex.bm25SearchCurrent(spark, root, terms, 10)
        .as[(Long, Double)].collect().toSeq
    }
    def buildVectors(root: String): Seq[(Long, Long, Long)] = {
      VectorStore.init(spark, root, vc, vb)
      VectorStore.admit(spark, root, emb, "vec_id", "embedding", 0L)
      VectorStore.search(spark, root, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", 3, nprobe = 8, shortlistFactor = 32)
        .select(col("query_id"), col("rank").cast("long"), col("neighbor_id"))
        .as[(Long, Long, Long)].collect().toSeq
    }
    val (bmPar, vsPar) = Par.both(buildIndex(tmp("i1")), buildVectors(tmp("v1")))
    val bmSeq = buildIndex(tmp("i2"))
    val vsSeq = buildVectors(tmp("v2"))
    assert(bmPar == bmSeq, "overlapped index family served different bm25 rows")
    assert(vsPar == vsSeq, "overlapped vector family served different neighbors")
  }
}
