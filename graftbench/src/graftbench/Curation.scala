package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, ParquetWrite}

/** Seeded hash-token corpus with planted duplicates. Every batch gets the
  * same mix: clean documents, and planted ones that the curation
  * pipeline must remove — short (quality filter), German-stopword
  * (language filter), exact clones, near-clones (source text plus one
  * token: 3-shingle Jaccard 38/39) and semantic clones (fresh text, an
  * embedding within 1e-6 of the source's). Each planted clone points at
  * a distinct clean source with a lower id, so the expected survivors
  * are exactly the clean documents. Embeddings lie around `Clusters`
  * seeded centres (noise 0.5 a dimension), so an IVF index has cells to
  * find, while two distinct documents stay far below semantic dedup's
  * cosine threshold (about 0.8 within a cluster).
  */
object Corpus {
  val Dims = 64
  val Vocab = 5000
  val Tokens = 40
  val Clusters = 16
  private val German = Seq("der", "die", "das", "und", "ein", "ist", "nicht", "mit")

  final case class Doc(id: Long, text: String, emb: Array[Double], planted: String)

  def words(r: SplittableRandom, n: Int): Seq[String] = Seq.fill(n)("w" + r.nextInt(Vocab))
  // Box-Muller; SplittableRandom has no nextGaussian
  def gaussian(r: SplittableRandom, n: Int): Array[Double] = Array.fill(n) {
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def batch(seed: Long, b: Int, size: Int): IndexedSeq[Doc] = {
    val centres = {
      val c = new SplittableRandom(seed)
      Array.fill(Clusters)(gaussian(c, Dims))
    }
    val r = new SplittableRandom(seed * 1000003L + b)
    def emb() = gaussian(r, Dims).zip(centres(r.nextInt(Clusters))).map { case (n, m) => m + 0.5 * n }
    val base = b.toLong * size
    val clean = size / 5 // the first fifth is clean, so every clone has a source
    val docs = new Array[Doc](size)
    val sources = scala.collection.mutable.ArrayBuffer.empty[Int]
    def fresh(i: Int) = Doc(base + i, words(r, Tokens).mkString(" "), emb(), "")
    for (i <- 0 until size) {
      val roll = if (i < clean || sources.isEmpty) 99 else r.nextInt(100)
      docs(i) =
        if (roll < 4) Doc(base + i, words(r, 5).mkString(" "), emb(), "short")
        else if (roll < 7) Doc(base + i,
          Seq.fill(Tokens)(if (r.nextBoolean()) German(r.nextInt(German.size)) else "w" + r.nextInt(Vocab))
            .mkString(" "), emb(), "foreign")
        else if (roll < 22) {
          val s = docs(sources.remove(r.nextInt(sources.size)))
          if (roll < 12) Doc(base + i, s.text, s.emb, "exact")
          else if (roll < 17) Doc(base + i, s.text + " w" + r.nextInt(Vocab), emb(), "near")
          else Doc(base + i, words(r, Tokens).mkString(" "),
            s.emb.map(x => x + 1e-6 * (r.nextDouble() - 0.5)), "semantic")
        } else { sources += i; fresh(i) }
    }
    docs.toIndexedSeq
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false)))
}

/** The curation chain one batch goes through: a quality and language
  * filter, exact dedup, MinHash near-duplicate removal, semantic dedup,
  * and a Parquet write of the survivors.
  */
object Curation {
  val QualityMin = 0.25
  /** k-means cells for semanticDedup, sized to a batch (about 100
    * documents a cell) rather than the operator's corpus-scale default.
    */
  val Cells = 4

  /** Writes the survivors of `docs` (doc_id, text, emb) to `out`. */
  def curate(rec: Recorder, docs: DataFrame, out: String): Unit = {
    val kept = rec.frame("TextFunctions.qualityScore")(docs.filter(
      TextFunctions.qualityScore(col("text")) >= QualityMin &&
        TextFunctions.langId(col("text")).isin("und", "en")))
    val unique = rec.frame("Dedup.exact")(Dedup.exact(kept, Seq("text"), "doc_id"))
    val pairs = rec.frame("Dedup.minHashNearDupPairs")(
      Dedup.minHashNearDupPairs(unique, "doc_id", "text"))
    // semanticDedup runs dozens of jobs over its input: a caller
    // materialises that input once instead of re-deriving it per job
    val distinct = unique.join(pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val semantic = rec.frame("Dedup.semanticDedup")(Dedup.semanticDedup(distinct, "doc_id", "emb",
      nlist = Cells, kmeansIters = 1))
    val survivors = distinct.join(semantic.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "text", "emb")
    rec.span("ParquetWrite.write")(ParquetWrite.write(survivors, out))
  }
}
