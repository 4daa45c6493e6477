package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GenStore, HeavyHitters, KeySetStore, QuantileStore,
  Similarity, SketchStore, VectorStore}

/** The admission fences of the generational-store protocol, one table
  * row per (store front, fence) pair that no other spec pins:
  *
  *  - sealed: a data or retraction id at or below the compaction seal
  *    is refused;
  *  - delete mark: a delete id at or below a federation merge's
  *    renumbered delete-id mark is refused;
  *  - raced: a write that lands while a compaction publishes a newer
  *    generation fails at its pointer re-check.
  *
  * The race is staged without a test seam: the front's input carries a
  * pass-through filter that moves `_CURRENT` when the write evaluates
  * it, i.e. after the front read the pointer and before it re-checks.
  */
class GenStoreProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-protocol-$tag").toString

  private def keys = spark.range(0, 20).toDF("k")
  private def samples = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 5.0))
    .toDF("k", "v")

  /** `df` with a filter that publishes generation `gen` at `root` while
    * the write runs (each task moves the pointer through its own tmp
    * file, so concurrent tasks cannot trip over one another).
    */
  private def publishingDuring(df: DataFrame, root: String, gen: Long): DataFrame = {
    val publish = udf { () =>
      val tmp = Paths.get(root, s"_CURRENT.${java.util.UUID.randomUUID}.tmp")
      Files.write(tmp, gen.toString.getBytes)
      Files.move(tmp, Paths.get(root, "_CURRENT"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      true
    }.asNondeterministic()
    df.filter(publish())
  }

  /** One admission front: `admit(root, batchId, input)` runs it with its
    * input passed through `input`.
    */
  private case class Front(name: String, init: String => Unit,
      admit: (String, Long, DataFrame => DataFrame) => Unit)

  private val keySetData = Front("KeySetStore.admitBatch", KeySetStore.init,
    (root, id, in) => KeySetStore.admitBatch(in(keys), id, root))
  private val keySetDeletes = Front("KeySetStore.admitDeleteBatch",
    KeySetStore.init,
    (root, id, in) => KeySetStore.admitDeleteBatch(in(keys), id, root))
  private val quantileData = Front("QuantileStore.admitBatch",
    QuantileStore.initStore,
    (root, id, in) => QuantileStore.admitBatch(spark, in(samples), Seq("k"),
      "v", lo = 0.0, width = 1.0, nbins = 8, batchId = id, root = root))
  private val quantileHdr = Front("QuantileStore.admitBatchHdr",
    QuantileStore.initStore,
    (root, id, in) => QuantileStore.admitBatchHdr(spark, in(samples),
      Seq("k"), "v", subBits = 2, nbins = 64, batchId = id, root = root))
  private val quantileRetract = Front("QuantileStore.retractBatch",
    QuantileStore.initStore,
    (root, id, in) => QuantileStore.retractBatch(spark, in(samples), Seq("k"),
      "v", lo = 0.0, width = 1.0, nbins = 8, batchId = id, root = root))
  private val sketchData = Front("SketchStore.admitBatch", SketchStore.initStore,
    (root, id, in) => SketchStore.admitBatch(spark,
      in(samples.withColumn("v", col("v").cast("long"))), Seq("k"), "v", id,
      root))
  private val hittersData = Front("HeavyHitters.admitBatch",
    HeavyHitters.initStore,
    (root, id, in) => HeavyHitters.admitBatch(spark, in(samples), "k", 4, id,
      root))

  private def vectors(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(201L)) - 100L) / 100.0)
          .cast("double")): _*).as("embedding"))

  private lazy val index = Similarity.fitIvfPq(vectors(0, 40), "vec_id",
    "embedding", nlist = 2, kmeansIters = 1, m = 2, kcode = 4, pqIters = 1)

  private val vectorDeletes = Front("VectorStore.admitDeletes",
    root => VectorStore.init(spark, root, index._1, index._2),
    (root, id, in) => VectorStore.admitDeletes(spark, root,
      in(vectors(0, 4)), "vec_id", id))

  // ---- sealed: fronts whose seal refusal no other spec covers ----------

  private def compactQuantiles(root: String): Unit =
    QuantileStore.compactStore(spark, root, 1L, Seq("k"))

  /** (front under test, the data front that fills the store, compaction) */
  private val sealedCases: Seq[(Front, Front, String => Unit)] = Seq(
    (quantileData, quantileData, compactQuantiles),
    (quantileHdr, quantileHdr, compactQuantiles),
    (quantileRetract, quantileData, compactQuantiles),
    (sketchData, sketchData,
      root => SketchStore.compactStore(spark, root, 1L, Seq("k"))))

  sealedCases.foreach { case (front, fill, compact) =>
    test(s"sealed: ${front.name} refuses an id at or below the compaction seal") {
      val root = tmp("sealed") + "/s"
      front.init(root)
      fill.admit(root, 0L, identity)
      fill.admit(root, 1L, identity)
      compact(root)
      assert(GenStore.compactedHwm(root, 2L) == 1L)
      val e = intercept[IllegalArgumentException](front.admit(root, 1L, identity))
      assert(e.getMessage.contains("compacted high-water"), e.getMessage)
      front.admit(root, 2L, identity) // above the seal: admitted
    }
  }

  // ---- delete mark: delete fronts of merged stores ----------------------

  private val deleteMarkCases: Seq[(Front, (Seq[String], String) => Unit,
      (String, Long) => Unit)] = Seq(
    (keySetDeletes,
      (srcs, dst) => KeySetStore.mergeStores(spark, srcs, dst),
      (root, id) => KeySetStore.admitBatch(keys, id, root)),
    (vectorDeletes,
      (srcs, dst) => VectorStore.mergeStores(spark, srcs, dst),
      (root, id) => VectorStore.admit(spark, root, vectors(0, 20), "vec_id",
        "embedding", id)))

  deleteMarkCases.foreach { case (front, merge, admitData) =>
    test(s"delete mark: ${front.name} refuses an id a merge renumbered") {
      val base = tmp("delmark")
      val srcs = Seq(s"$base/a", s"$base/b")
      srcs.foreach { src =>
        front.init(src)
        admitData(src, 0L)
        front.admit(src, 0L, identity)
      }
      val merged = s"$base/m"
      merge(srcs, merged)
      assert(GenStore.deletesHwm(merged, 1L) == 1L)
      val e = intercept[IllegalArgumentException](front.admit(merged, 1L, identity))
      assert(e.getMessage.contains("delete-id high-water mark"), e.getMessage)
      front.admit(merged, 2L, identity) // above the mark: admitted
    }
  }

  // ---- raced: fronts whose pointer re-check no other spec covers -------

  private val racedCases = Seq(keySetData, keySetDeletes, quantileData,
    quantileHdr, quantileRetract, sketchData, hittersData, vectorDeletes)

  racedCases.foreach { front =>
    test(s"raced: ${front.name} throws when a publish lands during its write") {
      val root = tmp("raced") + "/s"
      front.init(root)
      val e = intercept[IllegalStateException](
        front.admit(root, 0L, publishingDuring(_, root, 2L)))
      assert(e.getMessage.contains("raced"), e.getMessage)
      assert(e.getMessage.contains("gen=2"), e.getMessage)
    }
  }

  // ---- lint: GenStore alone sequences seal -> pointer and the fences ----

  test("lint: only GenStore seals, moves a pointer, re-checks quiesce or renames atomically") {
    val literal = java.util.regex.Pattern.quote _
    // what must be written once: label -> the pattern of a copy
    val tokens = Seq("GenStore.seal(", "GenStore.writePointer(",
        "requireStillNotQuiesced(", "StandardCopyOption.ATOMIC_MOVE",
        // the versioned-root steps: the pointer path and the tombstone
        // retention
        "\"_CURRENT\"", "def tombstoneDelete", "def sweepTombstones",
        // the streaming sink runner
        ".writeStream",
        // the fragment-store family's maintenance surface and its
        // policy defaults (GenStore.FragmentStore and its two traits)
        "GenStore.needsCompaction(", "GenStore.maintenanceStatus(",
        "GenStore.fragmentCount(", "GenStore.compactIfNeeded(",
        "maxFragments: Int = 16", "maxPendingFraction: Double = 0.05")
      .map(t => t -> literal(t)) ++ Seq(
        // a version-directory listing (the `gen=N` / `v<N>` name pattern)
        "version listing" -> """"(v|gen=)\\\\d""",
        // the sealed-replay guard's high-water mark read
        "sealed-replay guard" -> "compactedHwm\\([^\\n]*currentGen\\(")
    // (file, label) -> sites that stay outside GenStore on purpose
    val allowed = Map(
      // VectorStore.refitStart carries the compaction seal into the refit
      // generation before any batch migrates
      ("VectorStore.scala", "GenStore.seal(") -> 1,
      // VectorStore.refitFinish publishes after its not-migrated guard
      // and migrates the publish-window stragglers itself
      ("VectorStore.scala", "GenStore.writePointer(") -> 1,
      // EventStreams.sink, the one runner of every foreachBatch sink
      ("EventStreams.scala", ".writeStream") -> 1,
      // EventStreams.sealedHwm, read by the one sealed-replay guard
      // (unlessSealed) and the lane sink's fallback
      ("EventStreams.scala", "sealed-replay guard") -> 1)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GenStore.scala").toSeq
      .flatMap { p: Path =>
        val lines = new String(Files.readAllBytes(p), "UTF-8").split("\n", -1).toSeq
        tokens.flatMap { case (t, re) =>
          val pattern = re.r
          val sites = lines.indices.filter(i => pattern.findFirstIn(lines(i)).isDefined)
          if (sites.size <= allowed.getOrElse((p.getFileName.toString, t), 0)) Nil
          else sites.map(i => s"$p:${i + 1} $t")
        }
      }
    assert(offenders.isEmpty,
      offenders.mkString("go through GenStore's protocol entry points: ", ", ", ""))
  }
}
