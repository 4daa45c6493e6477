package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark analogue of the reference's format + corruption suites
  * (tests/test_format.cpp round-trips per encoding, F2/F3/F5 in
  * FIXTURES.md; tests/test_corruption.cpp adversarial files). Parquet owns
  * the encodings; we assert lossless round-trips and clean failure on
  * corrupt input rather than codec internals.
  */
class ParquetFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-fmt").toString

  test("basic int round-trip (test_format.cpp:21-57)") {
    val dir = tmpDir() + "/t"
    val df = Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40), (5L, 50)).toDF("id", "value")
    df.write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("run-length-friendly and delta-friendly data round-trips (test_format.cpp:59-109)") {
    val dir = tmpDir() + "/t"
    val df = Seq.tabulate(9)(i => (Seq(1, 1, 1, 2, 2, 3, 3, 3, 3)(i), 1000L + 100L * i))
      .toDF("category", "timestamp")
    df.write.parquet(dir)
    assert(spark.read.parquet(dir).orderBy("timestamp").collect().toSeq ==
      df.orderBy("timestamp").collect().toSeq)
  }

  test("dictionary-friendly strings round-trip (test_format.cpp:111-161)") {
    val dir = tmpDir() + "/t"
    val df = Seq("north", "south", "north", "east", "south", "north").toDF("region")
    df.write.parquet(dir)
    assert(spark.read.parquet(dir).groupBy("region").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("north" -> 3L, "south" -> 2L, "east" -> 1L))
  }

  test("multiple row groups preserved (test_format.cpp:163-201)") {
    val dir = tmpDir() + "/t"
    spark.range(6).toDF("value").repartition(2).write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 6)
    assert(back.agg(sum("value")).head().getLong(0) == 15L)
  }

  test("min/max stats usable for skipping (test_format.cpp:203-232)") {
    val dir = tmpDir() + "/t"
    Seq(10L, 5L, 30L, 15L, 25L).toDF("value").write.parquet(dir)
    val agg = spark.read.parquet(dir).agg(min("value"), max("value")).head()
    assert(agg.getLong(0) == 5L && agg.getLong(1) == 30L)
  }

  // the corruption cases run through both openers: Spark's reader and
  // Tables.parquet, which reads the footer on the driver
  private val openers: Seq[(String, String => DataFrame)] = Seq(
    "" -> (dir => spark.read.parquet(dir)),
    " via Tables.parquet" -> (dir => Tables.parquet(spark, dir)))

  for ((via, open) <- openers) {
    test(s"truncated file fails cleanly, not wrong data$via (test_corruption.cpp:48-67,185-219)") {
      val dir = tmpDir() + "/t"
      spark.range(1000).toDF("v").coalesce(1).write.parquet(dir)
      val file = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val bytes = Files.readAllBytes(file)
      Files.write(file, bytes.take(bytes.length / 2),
        StandardOpenOption.TRUNCATE_EXISTING)
      val ex = intercept[Exception] {
        open(dir).collect()
      }
      assert(ex != null)
    }

    test(s"bad magic fails cleanly$via (test_corruption.cpp:70-143)") {
      val dir = tmpDir() + "/t"
      spark.range(10).toDF("v").coalesce(1).write.parquet(dir)
      val file = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val bytes = Files.readAllBytes(file)
      // clobber the trailing PAR1 footer magic
      bytes(bytes.length - 1) = 'X'.toByte
      Files.write(file, bytes, StandardOpenOption.TRUNCATE_EXISTING)
      intercept[Exception] { open(dir).collect() }
    }
  }

  test("wrong-schema read fails at analysis, not silently (corruption analogue)") {
    val dir = tmpDir() + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    intercept[Exception] {
      spark.read.parquet(dir).select("does_not_exist").collect()
    }
  }
}
