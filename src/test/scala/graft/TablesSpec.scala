package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetFormat, ParquetFileFormat}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` opens a table exactly as `spark.read.parquet` does —
  * same schema, same plan, same data — but resolves the schema from one
  * footer read on the driver, so opening starts no Spark job.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  private def jobsDuring[T](f: => T): (T, Int) = JobCounter.jobsIn(spark)(f)

  /** Opens `paths` both ways; asserts equal schemas and that only the
    * Spark reader needed a job to get there.
    */
  private def assertSameOpen(paths: String*): DataFrame = {
    val (ours, ourJobs) = jobsDuring {
      val df = Tables.parquet(spark, paths: _*)
      df.schema
      df
    }
    val (theirs, theirJobs) = jobsDuring(spark.read.parquet(paths: _*))
    assert(ours.schema == theirs.schema, paths.mkString(", "))
    assert(ourJobs == 0, s"Tables.parquet started $ourJobs job(s) opening ${paths.mkString(", ")}")
    assert(theirJobs >= 1, "the listener must see spark.read.parquet's schema job")
    ours
  }

  /** Moves the single Parquet file `df` writes to `dir/name`. */
  private def writeFragment(df: DataFrame, dir: String, name: String): Unit = {
    val staged = tmpDir() + "/f"
    df.coalesce(1).write.parquet(staged)
    val file = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(file, Paths.get(dir, name))
  }

  test("each catalog table opens with spark.read.parquet's schema, rows and plan, and no job") {
    Tables.names.foreach { name =>
      val path = s"${TestSpark.sf0001}/$name.parquet"
      val df = assertSameOpen(path)
      assert(df.count() == spark.read.parquet(path).count(), name)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet") && plan.contains("Format: Parquet"), plan)
    }
  }

  test("a partitionBy(batch_id) store root and one of its leaves open like spark.read.parquet") {
    val root = tmpDir() + "/store"
    Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)).toDF("id", "s", "batch_id")
      .write.partitionBy("batch_id").parquet(root)
    val all = assertSameOpen(root)
    assert(all.schema.fieldNames.toSeq == Seq("id", "s", "batch_id"))
    assert(all.filter($"batch_id" === 1L).select("id").as[Long].collect().toSeq == Seq(3L))
    assertSameOpen(s"$root/batch_id=0")
    assertSameOpen(s"$root/batch_id=0", s"$root/batch_id=1")
  }

  test("fragments that differ: the first file by path decides, as in Spark") {
    val strict = spark.range(3).toDF("id").withColumn("tag", $"id".cast("string"))
    val loose = Seq(Some(7L), None).toDF("id").withColumn("extra", $"id".cast("int"))
    assert(!strict.schema("id").nullable && loose.schema("id").nullable)
    Seq(("part-0.parquet", "part-1.parquet", "tag"), ("part-1.parquet", "part-0.parquet", "extra"))
      .foreach { case (strictName, looseName, decided) =>
        val dir = tmpDir() + "/t"
        writeFragment(strict, dir, strictName)
        writeFragment(loose, dir, looseName)
        assert(assertSameOpen(dir).schema.fieldNames.toSeq == Seq("id", decided))
      }
  }

  test("a _common_metadata summary decides over data files, as in Spark") {
    val dir = tmpDir() + "/t"
    writeFragment(spark.range(3).toDF("id"), dir, "part-0.parquet")
    writeFragment(Seq((1L, "x")).toDF("id", "note"), dir, "_common_metadata")
    assert(assertSameOpen(dir).schema.fieldNames.toSeq == Seq("id", "note"))
  }

  test("mergeSchema reads still merge every fragment") {
    val dir = tmpDir() + "/t"
    writeFragment(spark.range(3).toDF("id").withColumn("tag", $"id".cast("string")), dir, "part-0.parquet")
    writeFragment(Seq(7L).toDF("id").withColumn("extra", $"id".cast("int")), dir, "part-1.parquet")
    val merged = Tables.parquet(spark, Map("mergeSchema" -> "true"), dir)
    assert(merged.schema == spark.read.option("mergeSchema", "true").parquet(dir).schema)
    assert(merged.schema.fieldNames.toSeq == Seq("id", "tag", "extra"))
  }

  test("delete fragments with and without hwm merge to Spark's schema on the driver and in its job") {
    // a store's delete set: a takedown fragment (ids only) beside a
    // scoped fragment that carries the hwm bound, each under batch_id=N
    val root = tmpDir() + "/deletes"
    writeFragment(Seq(3L, 4L).toDF("doc_id"), s"$root/batch_id=0", "part-0.parquet")
    writeFragment(Seq((5L, 2L)).toDF("doc_id", "hwm"), s"$root/batch_id=1", "part-0.parquet")
    writeFragment(Seq(6L).toDF("doc_id"), s"$root/batch_id=2", "part-0.parquet")
    val leaves = (0 to 2).map(i => s"$root/batch_id=$i")
    for (paths <- Seq(Seq(root), leaves, leaves.reverse)) {
      val (ours, ourJobs) = jobsDuring {
        val df = Tables.parquet(spark, Map("mergeSchema" -> "true"), paths: _*)
        df.schema
        df
      }
      val theirs = spark.read.option("mergeSchema", "true").parquet(paths: _*)
      assert(ours.schema == theirs.schema, paths.mkString(", "))
      assert(ours.schema.fieldNames.toSeq.take(2) == Seq("doc_id", "hwm"))
      assert(ourJobs == 0, s"3 footers merged in $ourJobs job(s)")
      assert(ours.orderBy("doc_id").collect().toSeq == theirs.orderBy("doc_id").collect().toSeq)
    }
    // the schema step alone, below and above the driver-side file limit
    val files = leaves.reverse.map(new org.apache.hadoop.fs.Path(_)).flatMap { d =>
      d.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(d).toSeq
    }
    val opts = Map("mergeSchema" -> "true")
    val spark0 = new ParquetFileFormat().inferSchema(spark, opts, files)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    for ((limit, jobs) <- Seq((3, 0), (2, 1))) {
      spark.conf.set(key, limit.toString)
      try {
        val (schema, n) = jobsDuring(new GraftParquetFormat().inferSchema(spark, opts, files))
        assert(schema == spark0 && schema.isDefined, s"limit $limit")
        assert(n == jobs, s"3 footers at a limit of $limit: $n job(s)")
      } finally spark.conf.set(key, prev)
    }
  }

  test("a session that reads Parquet through Spark's V2 source keeps that source") {
    val path = s"${TestSpark.sf0001}/region.parquet"
    def scan(df: DataFrame) = df.queryExecution.sparkPlan.collectLeaves().map(_.nodeName)
    val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val v2 = scan(spark.read.parquet(path))
      assert(v2.exists(_.startsWith("BatchScan")), v2)
      assert(scan(Tables.parquet(spark, path)) == v2)
    } finally spark.conf.set("spark.sql.sources.useV1SourceList", prev)
    assert(scan(Tables.parquet(spark, path)) == scan(spark.read.parquet(path)))
  }

  test("an empty directory fails with Spark's error condition") {
    val dir = tmpDir()
    val ours = intercept[AnalysisException](Tables.parquet(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
  }

  test("lint: every Parquet open in src/main goes through Tables.parquet") {
    // a spark.read chain ending in .parquet(, options included
    val read = """\.read(?:\s*\.option\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p: Path =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        read.findAllMatchIn(src)
          .map(m => s"$p:${src.take(m.start).count(_ == '\n') + 1}")
      }
    assert(offenders.isEmpty, offenders.mkString("open these with Tables.parquet: ", ", ", ""))
  }
}
