package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `BenchTune`'s probe table against the documents that cite it, and its
  * argument parser. Pure: no SparkSession is started.
  */
class BenchTuneSpec extends AnyFunSuite {

  private val Flag = "--[a-z][a-z0-9]*".r

  /** Flags the documents cite for BenchTune: every `--flag` in SCALE.md
    * (the probes' own record, commands inline), and in README.md,
    * ARTIFACTS.md and SURVEY.md every `--flag` in a paragraph or table
    * row that names BenchTune.
    */
  private def cited(): Map[String, Set[String]] = {
    def text(doc: String): String = {
      val p = Paths.get(doc)
      assert(Files.isRegularFile(p), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
      Files.readString(p)
    }
    val others = Seq("README.md", "ARTIFACTS.md", "SURVEY.md").map { doc =>
      val blocks = text(doc).split("\n\\s*\n").toSeq.flatMap { para =>
        val (rows, lines) = para.split("\n").toSeq.partition(_.trim.startsWith("|"))
        lines.mkString("\n") +: rows
      }
      doc -> blocks.filter(_.contains("BenchTune"))
        .flatMap(Flag.findAllIn(_)).toSet
    }
    (("SCALE.md" -> Flag.findAllIn(text("SCALE.md")).toSet) +: others).toMap
  }

  test("every probe flag the docs cite is in the table, and every table entry is cited") {
    val docs = cited()
    val table = BenchTune.probes.map(_.flag)
    assert(table.distinct == table, "a flag is in the table twice")
    val unknown = docs.toSeq.flatMap { case (d, fs) => (fs -- table).map(f => s"$d: $f") }
    assert(unknown.isEmpty, s"cited flags with no probe: ${unknown.mkString(", ")}")
    val uncited = table.toSet -- docs.values.flatten
    assert(uncited.isEmpty, s"probes no document cites: ${uncited.mkString(", ")}")
  }

  test("an unknown flag is refused with the list of probes, before any session starts") {
    val before = SparkSession.getDefaultSession
    for (args <- Seq(Array("--nope"), Array.empty[String], Array("1000", "--knn"))) {
      val e = intercept[IllegalArgumentException](BenchTune.main(args))
      BenchTune.probes.foreach(p => assert(e.getMessage.contains(p.flag), e.getMessage))
    }
    assert(SparkSession.getDefaultSession == before)
  }

  test("the parser fills a probe's defaults behind the numbers given and keeps its word options") {
    val (knn, a) = BenchTune.resolve(Seq("--knn", "100000", "100"))
    assert(knn.flag == "--knn")
    assert(a.nums == Seq(100000L, 100L, 32L, 1L, 8L, 16L))
    assert(a.words.isEmpty)
    val (_, fed) = BenchTune.resolve(Seq("--federation", "40000000", "8", "4", "nosingle"))
    assert(fed.nums == Seq(40000000L, 8L, 4L) && fed.words == Set("nosingle"))
    val (_, ops) = BenchTune.resolve(Seq("--ops"))
    assert(ops.nums == Seq(1000000L) && ops.words.isEmpty)
    intercept[IllegalArgumentException](BenchTune.resolve(Seq("--retention", "1000", "sigOnly")))
    intercept[IllegalArgumentException](BenchTune.resolve(Seq("--ivf", "5")))
  }

  test("--rangejoin sizes its nested-loop slice from the inputs: 50,000 points and 1,000 intervals at most") {
    // the defaults keep the strides the probe has always used
    assert(BenchTune.rangeSliceStrides(10000000L, 100000L) == ((200L, 100L)))
    // a small run checks every interval instead of the 10 that matched no point
    assert(BenchTune.rangeSliceStrides(100000L, 1000L) == ((2L, 1L)))
  }
}
