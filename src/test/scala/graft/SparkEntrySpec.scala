package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guard: entry() smoke, oracle key integrity, and a full
  * execution sweep of the catalog at sf0.001 (catches a broken query long
  * before the driver's sf0.01 verify run).
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a query; names are well-formed") {
    // queries and oracles are built with toMap, which keeps only the last
    // of two defs sharing a name
    val names = Queries.defs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os == qs, s"orphan oracles: ${os.diff(qs)}; no oracle: ${qs.diff(os)}")
    assert(qs.size == 208, s"catalog has ${qs.size} queries")
    assert(qs.forall(_.matches("q\\d+_[a-z0-9_]+")), qs.mkString(","))
  }

  test("lint: Queries.scala spells each catalog building block only in its definition") {
    // signature text -> lines allowed to contain it: the block's one
    // definition, plus the real variants named here
    val allowed = Map(
      // bm25Ctes; q171's second stats CTE re-scores the survivors of a
      // takedown over its own dlc/tfc relations
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl" -> 2,
      "min(md5(CAST(i AS VARCHAR) || ':' || s))" -> 1, // bandKeyCtes
      "CAST(5 AS BIGINT) AS n_results" -> 1, // gateOracle
      // the search width is Nprobe/Shortlist; q202 and q204 probe 8
      // lists for their k = 1 and k = 20 searches
      "shortlistFactor = 32" -> 2,
      "Similarity.fitIvfPq(" -> 1, // fitIvfPq
      // refitIvfPq; q130 starts its refit with refitStart to migrate
      // the batches one at a time
      "nlist = 16, kmeansIters = 3, m = 16, kcode = 16, pqIters = 2" -> 2,
      // tokenized; q111's bigram model keeps no doc_id
      "TextFunctions.tokens(col(\"text\")).as(\"tk\")" -> 2,
      // admitDocs, appendDocs and syncIndex, the CDC index sync tick
      "\"doc_id\", \"tk\", IndexBucket" -> 3,
      "case e: IllegalArgumentException" -> 1, // refuses
      "Paths.get(root, \"gen=3\")" -> 1, // casRetryNoop
      // signatureKeys; curationStream derives its micro-batches' keys
      // with the same parameters
      "numHashes = 32, bands = 8, portableKeys = true)" -> 2,
      // cdcMutations; q205's post-merge batch and q207's post-cutover
      // batch re-crawl doc_id % 20 == 0 with the same two tokens
      "\" graftsync graftsync\"" -> 3,
      "kmeansIters = 5, m = 16" -> 1, // syncVectors
      "shortlistFactor = 1000" -> 1, // exhaustiveFrame
      "deletes\"))" -> 1, // noPendingDeletes
      "ORDER BY 0.5*cos DESC, id) AS pk FROM pool" -> 1, // mmrOracle
      // postingsOracle; q80's bucketed postings add the bucket column
      "x -> CAST(x AS VARCHAR)), ',') AS postings" -> 2,
      // postingsFrame; q80's bucketed frame keeps the bucket column
      "array_join(transform(col(\"postings\")" -> 2,
      "AND coalesce(h.c, 0) = 0" -> 1, // curationStage
      "SELECT DISTINCT band, bucket FROM bnd WHERE doc_id % 3 = 0" -> 1, // curationCtes
      "strt // 2048 AS bin" -> 1, // packingOracle
      "\"n_tokens\", 2048L)" -> 1, // packed
      ".option(\"maxFilesPerTrigger\", 1)" -> 1, // feedStream
      "maxFragments = 2, qualityThreshold = 0.5" -> 1, // curationStream
      "fitIvfPq(emb, kmeansIters = 2, m = 8), emb)" -> 1, // fleetStores
      "initCdcState(corpus.withColumn(\"seq\", lit(0L))" -> 1, // cdcPair
      // decisionFrame; q105 frames its flat-store admission alike
      "col(\"id\").as(\"doc_id\"), col(\"hit_bands\"), col(\"admit\")" -> 2,
      ".getBoolean(2)))" -> 2, // admitDecisions and decisionRows
      "select(col(\"event_type\"), col(\"est\"))" -> 1, // sketchEstimates
      "SketchStore.initStore(root)" -> 1) // sketchStore
    val src = java.nio.file.Paths.get("src/main/scala/graft/Queries.scala")
    assert(java.nio.file.Files.exists(src),
      s"run from the repository root, not ${java.nio.file.Paths.get("").toAbsolutePath}")
    val lines = new String(java.nio.file.Files.readAllBytes(src), "UTF-8").split("\n", -1).toSeq
    val offenders = allowed.toSeq.flatMap { case (text, n) =>
      val sites = lines.indices.filter(i => lines(i).contains(text))
      if (sites.size <= n) Nil else sites.map(i => s"Queries.scala:${i + 1} $text")
    }
    assert(offenders.isEmpty,
      offenders.mkString("call the catalog building block instead: ", ", ", ""))
  }

  test("all catalog queries execute and return rows at sf0.001") {
    // Verify's pooled catalog runner (its width and exclusive tail)
    val outcomes = Verify.runCatalog(spark, TestSpark.sf0001,
      SparkEntry.queries.toSeq.sortBy(_._1))((_, df) => df.count())
    val failed = outcomes.collect { case (name, scala.util.Failure(e)) =>
      s"$name: ${e.getMessage}" }
    assert(failed.isEmpty, s"queries that threw at sf0.001: $failed")
    val empty = outcomes.collect { case (name, scala.util.Success(0L)) => name }
    assert(empty.isEmpty, s"queries with zero rows at sf0.001: $empty")
  }
}
