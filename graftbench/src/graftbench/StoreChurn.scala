package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, GenStore, InvertedIndex, KeySetStore, Similarity, VectorStore}

/** Curation and writes beside reads on the three generational stores.
  * Each cycle takes one raw batch of the seeded corpus through the
  * curation chain (one op: many jobs, kernels and band-key shuffles) and
  * admits the survivors to an inverted index, a vector store and a
  * MinHash key-set store; from the second cycle on it deletes part of
  * an earlier batch; then it runs four seeded, skewed reads and each
  * store's compaction policy. Every store op is a few small Spark jobs over small
  * fragments.
  *
  * Checks: curation removes exactly the planted documents; postings
  * against the clean documents minus deletes; a stored vector finds
  * itself at rank 1 and no deleted vector is returned; the cycle's BM25
  * read gives the same top-k after each index compaction; probe copies
  * of admitted documents are refused and fresh ones admitted.
  */
final class StoreChurn(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import StoreChurn._

  private val rng = new SplittableRandom(seed ^ 0xc4a11L)
  private var root = ""
  private def rawDir(b: Int) = s"$root/raw/batch=$b"
  private def curatedDir(b: Int) = s"$root/curated/batch=$b"
  private def inv = s"$root/inv"
  private def vec = s"$root/vec"
  private def keys = s"$root/keys"

  // the model the checks compare against: live documents by id
  private val liveTokens = mutable.LongMap.empty[Array[String]]
  private val liveVecs = mutable.LongMap.empty[Array[Double]]
  private val admittedText = mutable.ArrayBuffer.empty[String]
  private var admittedBytes = 0L
  private var nextBatch = 0
  private var nextDelete = 1L
  private var nSteps = 0
  private var storedRatio = Double.NaN
  /** This cycle's bm25 read: its terms and top-k. */
  private var lastBm25: Option[(Seq[String], Seq[(Long, Double)])] = None

  private val zipfCdf: Array[Double] = {
    val w = (1 to Corpus.Vocab).map(k => 1.0 / k)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def zipfTerm(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    "w" + (if (i >= 0) i else math.min(Corpus.Vocab - 1, -i - 1))
  }

  private val batches = mutable.Map.empty[Int, IndexedSeq[Corpus.Doc]]
  private def batchDocs(b: Int) = batches.getOrElseUpdate(b, Corpus.batch(seed, b, BatchDocs))
  /** The documents curation must keep: the answer the checks compare against. */
  private def cleanDocs(b: Int) = batchDocs(b).filter(_.planted.isEmpty)

  private def writeBatches(from: Int, until: Int): Unit = {
    val rows = (from until until).flatMap(b => batchDocs(b).map(d => Row(d.id, d.text, d.emb.toSeq, b)))
    spark.createDataFrame(rows.asJava, BatchSchema)
      .write.mode("append").partitionBy("batch").parquet(s"$root/raw")
  }

  private def readRaw(b: Int): DataFrame = {
    if (!new java.io.File(rawDir(b)).exists()) writeBatches(b, b + Pregenerated)
    spark.read.parquet(rawDir(b))
  }

  private def admitModel(b: Int): Unit = {
    cleanDocs(b).foreach { d =>
      liveTokens(d.id) = d.text.split(" "); liveVecs(d.id) = d.emb; admittedText += d.text
    }
    admittedBytes += Main.files(curatedDir(b)).values.sum
  }

  def setup(dir: String): Unit = {
    root = dir
    writeBatches(0, Pregenerated)
  }

  /** Fit IVF-PQ once on a seeded sample (raw batch 0) and create empty stores. */
  override def init(): Unit = {
    val (cents, books) = Similarity.fitIvfPq(spark.read.parquet(rawDir(0)), "doc_id", "emb", 8, 1, 8, 16, 1)
    InvertedIndex.initStore(inv)
    VectorStore.init(spark, vec, cents, books)
    KeySetStore.init(keys)
  }

  val warmSteps = 1
  def stepsDone: Int = nSteps
  override def minSteps: Int = RatioAtCycle

  private def liveBytes(): Long = Seq(inv, vec, keys).map { r =>
    Main.files(s"$r/gen=${GenStore.currentGen(r)}").values.sum
  }.sum

  /** A write op; in the traced run the bytes it wrote are measured by
    * walking the store roots before and after it (outside its timing).
    */
  private def writeOp[T](name: String, span: String)(body: => T): Option[T] = {
    val before = if (rec.tracing) Seq(inv, vec, keys).map(Main.files).reduce(_ ++ _) else Map.empty[String, Long]
    val r = rec.op("write", name)(rec.span(span)(body))
    if (rec.tracing && r.isDefined) {
      val after = Seq(inv, vec, keys).map(Main.files).reduce(_ ++ _)
      rec.note("bytes_written", after.iterator.collect {
        case (p, s) if !before.get(p).contains(s) => s
      }.sum)
    }
    r
  }

  private def bm25(terms: Seq[String]): Seq[(Long, Double)] =
    InvertedIndex.bm25SearchCurrent(spark, inv, terms, K).collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))

  private def curate(b: Int): Unit = {
    val raw = readRaw(b)
    rec.op("write", "curate")(Curation.curate(rec, raw, curatedDir(b))).foreach { _ =>
      val got = spark.read.parquet(curatedDir(b)).select("doc_id").collect().map(_.getLong(0)).sorted
      val want = cleanDocs(b).map(_.id).toArray
      val planted = batchDocs(b).filter(d => Set("exact", "near", "semantic")(d.planted)).map(_.id)
      rec.note("planted", planted.length)
      rec.note("planted_removed", planted.count(id => java.util.Arrays.binarySearch(got, id) < 0))
      rec.check(got.sameElements(want),
        s"curation of batch $b: ${got.length} survivors, want ${want.length}; " +
          s"unexpected ${got.diff(want).take(5).mkString(",")} missing ${want.diff(got).take(5).mkString(",")}")
    }
  }

  def step(): Unit = {
    val b = nextBatch
    nextBatch += 1
    curate(b)
    val docs = spark.read.parquet(curatedDir(b))
    writeOp("index_admit", "InvertedIndex.admitBatch")(
      InvertedIndex.admitBatch(spark, docs.withColumn("toks", TextFunctions.tokens(col("text"))),
        "doc_id", "toks", BucketSize, b.toLong, inv))
    if (rec.tracing) rec.note("input_bytes", Main.files(curatedDir(b)).values.sum)
    writeOp("vector_admit", "VectorStore.admit")(
      VectorStore.admit(spark, vec, docs, "doc_id", "emb", b.toLong))
    writeOp("minhash_admit", "Dedup.admitMinHashBatch")(
      Dedup.admitMinHashBatch(docs, "doc_id", "text", batchId = b.toLong, root = keys))
    admitModel(b)

    // every cycle after the first deletes, so that every cycle has one
    // op of each kind
    if (b > 0) {
      // take down a tenth of an earlier batch's live documents
      val victim = rng.nextInt(b)
      val ids = cleanDocs(victim).map(_.id).filter(liveTokens.contains)
        .filter(_ => rng.nextInt(10) == 0)
      val idsDf = spark.createDataFrame(ids.map(Row(_)).asJava,
        StructType(Seq(StructField("doc_id", LongType, nullable = false))))
      val d = nextDelete
      nextDelete += 1
      writeOp("index_delete", "InvertedIndex.admitDeleteBatch")(
        InvertedIndex.admitDeleteBatch(spark, idsDf, "doc_id", d, inv))
      writeOp("vector_delete", "VectorStore.admitDeletes")(
        VectorStore.admitDeletes(spark, vec, idsDf, "doc_id", d))
      ids.foreach { id => liveTokens.remove(id); liveVecs.remove(id) }
    }

    reads()
    compactions()
    nSteps += 1
    if (nSteps == RatioAtCycle) storedRatio = liveBytes().toDouble / admittedBytes
  }

  private def reads(): Unit = {
    // store shape the reads see: fragment directories and data files
    // of the current generations
    val gauges = if (!rec.tracing) None else {
      val fs = Seq(inv, vec, keys).flatMap(r => Main.files(s"$r/gen=${GenStore.currentGen(r)}").keys)
      val frag = "^(.*/batch_id=\\d+)/".r
      Some((fs.flatMap(p => frag.findFirstMatchIn(p).map(_.group(1))).toSet.size,
        fs.count(_.endsWith(".parquet"))))
    }

    val terms = Seq.fill(3)(zipfTerm()).distinct
    lastBm25 = None
    readOp("bm25", gauges)(rec.frame("InvertedIndex.bm25SearchCurrent")(
      InvertedIndex.bm25SearchCurrent(spark, inv, terms, K)).collect()).foreach { rs =>
      lastBm25 = Some(terms -> rs.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))))
      val ids = rs.map(_.getAs[Long]("doc_id"))
      val hits = liveTokens.count { case (_, t) => t.exists(terms.contains) }
      rec.check(ids.length == math.min(K, hits) &&
        ids.forall(id => liveTokens.get(id).exists(_.exists(terms.contains))),
        s"bm25 $terms returned ${ids.mkString(",")} ($hits live matches)")
    }

    val lookTerms = Seq.fill(2)(zipfTerm()).distinct
    readOp("lookup", None)(rec.frame("InvertedIndex.lookupCurrent")(
      InvertedIndex.lookupCurrent(spark, inv, lookTerms)).collect()).foreach { rs =>
      val got = rs.map(r => r.getAs[String]("tok") ->
        r.getSeq[Long](r.fieldIndex("postings")).sorted).toMap
      val want = lookTerms.map(t => t -> liveTokens.collect { case (id, ts) if ts.contains(t) => id }
        .toSeq.sorted).filter(_._2.nonEmpty).toMap
      rec.check(got == want, s"lookup $lookTerms: postings differ from the batches minus deletes")
    }

    // queries: live vectors, skewed toward the most recent batches
    val qs = Seq.fill(4) {
      val back = math.min(nextBatch - 1, (-math.log(1 - rng.nextDouble()) * 3).toInt)
      val cand = cleanDocs(nextBatch - 1 - back).map(_.id).filter(liveVecs.contains)
      cand(rng.nextInt(cand.size))
    }.distinct
    val qDf = vectorsDf(qs, QueryOffset)
    readOp("vector_search", None)(rec.frame("VectorStore.search")(
      VectorStore.search(spark, vec, qDf, "doc_id", "emb", K)).collect()).foreach { rs =>
      val top = rs.filter(_.getAs[Long]("rank") == 1L)
        .map(r => r.getAs[Long]("query_id") - QueryOffset -> r.getAs[Long]("neighbor_id")).toMap
      rec.check(qs.forall(q => top.get(q).contains(q)), s"vector self-search missed: $top for $qs")
      rec.check(rs.forall(r => liveVecs.contains(r.getAs[Long]("neighbor_id"))),
        "vector search returned a deleted id")
    }

    val copies = Seq.fill(ProbeDocs)(admittedText(rng.nextInt(admittedText.size)))
    val fresh = Seq.fill(ProbeDocs)(Corpus.words(rng, Corpus.Tokens).mkString(" "))
    val probe = spark.createDataFrame((copies ++ fresh).zipWithIndex
      .map { case (t, i) => Row(QueryOffset + i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    readOp("minhash_probe", None)(rec.frame("Dedup.admitAgainstMinHashStoreGen")(
      Dedup.admitAgainstMinHashStoreGen(probe, "doc_id", "text", root = keys)).collect()).foreach { rs =>
      val admit = rs.map(r => r.getAs[Long]("id") - QueryOffset -> r.getAs[Boolean]("admit")).toMap
      rec.check((0 until ProbeDocs).forall(i => admit.get(i.toLong).contains(false)) &&
        (ProbeDocs until 2 * ProbeDocs).forall(i => admit.get(i.toLong).contains(true)),
        "minhash probe: a copy was admitted or a fresh document refused")
    }
  }

  private def readOp[T](name: String, g: Option[(Int, Int)])(body: => T): Option[T] = {
    val r = rec.op("read", name)(body)
    if (rec.tracing) g.foreach { case (f, n) => rec.note("fragments", f); rec.note("files", n) }
    r
  }

  private def vectorsDf(ids: Seq[Long], offset: Long): DataFrame =
    spark.createDataFrame(ids.map(id => Row(id + offset, liveVecs(id).toSeq)).asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false))))

  private def compactions(): Unit = {
    // no write runs between the reads and here, so the bm25 read's answer
    // is the index's answer before compaction
    val pre = if (InvertedIndex.needsCompaction(spark, inv, MaxFragments)) lastBm25 else None
    writeOp("index_compact", "InvertedIndex.compactIfNeeded")(
      InvertedIndex.compactIfNeeded(spark, inv, MaxFragments)).foreach { g =>
      if (rec.tracing) rec.note("compacted", g.isDefined)
      pre.filter(_ => g.isDefined).foreach { case (terms, p) =>
        val post = bm25(terms)
        rec.check(p == post, s"bm25 $terms top-$K changed across compaction: $p vs $post")
      }
    }
    writeOp("vector_compact", "VectorStore.compactIfNeeded")(
      VectorStore.compactIfNeeded(spark, vec, MaxFragments))
      .foreach(g => if (rec.tracing) rec.note("compacted", g.isDefined))
    writeOp("minhash_compact", "KeySetStore.compactIfNeeded")(
      KeySetStore.compactIfNeeded(spark, keys, MaxFragments))
      .foreach(g => if (rec.tracing) rec.note("compacted", g.isDefined))
  }

  override def finish(traced: Boolean): Map[String, Any] = {
    val recall = if (!traced) Map.empty[String, Any] else {
      // recall@10 of the ANN search against exact top-10 on sampled live vectors
      val live = liveVecs.keys.toIndexedSeq.sorted
      val qs = Seq.fill(RecallQueries)(live(rng.nextInt(live.size))).distinct
      val qDf = vectorsDf(qs, QueryOffset)
      val ann = VectorStore.search(spark, vec, qDf, "doc_id", "emb", K).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val exact = Similarity.bruteForceTopK(qDf, vectorsDf(live, 0L), "doc_id", "emb", K).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      Map("recall_at_10" -> (ann & exact).size.toDouble / exact.size)
    }
    recall ++ Map("stored_bytes_per_input_byte" -> storedRatio, "cycles" -> nSteps)
  }
}

object StoreChurn {
  val BatchDocs = 300
  val Pregenerated = 3
  val BucketSize = 64L
  val MaxFragments = 2
  val K = 10
  val ProbeDocs = 16
  val RecallQueries = 20
  /** stored_bytes_per_input_byte is taken after this many cycles, so it
    * depends on the seed only, not on how many cycles fit in the window.
    */
  val RatioAtCycle = 2
  val QueryOffset = 1000000000L

  val BatchSchema: StructType = Corpus.schema.add(StructField("batch", IntegerType, nullable = false))
}
