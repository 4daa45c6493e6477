package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize
import graft.streaming.EventStreams

/** Structured Streaming operators driven by the deterministic events table
  * through a memory sink; results must equal their batch mirrors (the
  * equivalence the reference can't even state — it has no streaming).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming hourly counts == batch hourly counts (complete mode)") {
    // file-stream source needs a directory: stage the single events file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val stream = EventStreams.readEventsStream(spark, dir.toString, TestSpark.sf0001)
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select(col("event_type"), col("hour_ms"), col("cnt"))
        .as[(String, Long, Long)].collect().toSet
      val want = Tables.load(spark, TestSpark.sf0001, "events")
        .groupBy(col("event_type"), unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"))
        .as[(String, Long, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("readEventsStream infers the ts layout from the streamed files, not schemaDir") {
    // Mixed-generation setup (the r8 ADVICE case): the streamed
    // directory holds timestamp[us] files while schemaDir points at a
    // DIFFERENT generation whose events.parquet carries ts as nano
    // longs. The conversion must follow the files actually streamed —
    // applying the nano-long rule to NTZ data (or vice versa) corrupts
    // every timestamp silently.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-mixed")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val fakeGen = java.nio.file.Files.createTempDirectory("graft-stream-fakegen")
    Seq((1L, 1_700_000_000_000_000_000L, 1L, "click", 0.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(fakeGen.resolve("events.parquet").toString)
    val stream = EventStreams.readEventsStream(spark, dir.toString, fakeGen.toString)
    val q = stream.select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .writeStream.outputMode("append").format("memory").queryName("mixed_ts").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mixed_ts").as[(Long, Long)].collect().toSet
      val want = Tables.load(spark, TestSpark.sf0001, "events")
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
        .as[(Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates over the stream == batch distinct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val stream = EventStreams.readEventsStream(spark, dir.toString, TestSpark.sf0001)
    val q = stream.select("user_id", "event_type").dropDuplicates("user_id", "event_type")
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_stream").as[(Long, String)].collect().toSet
      val want = Tables.load(spark, TestSpark.sf0001, "events")
        .select("user_id", "event_type").distinct().as[(Long, String)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming quality gate == batch gate (row-local checks, complete mode)") {
    // the admission deployment: the same Checks aggregation runs per
    // microbatch (one streaming agg — row-local checks only; FK checks
    // are a stream-static anti join and live in their own query)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-gate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val checks = Seq(
      graft.operators.Checks.NotNull("user_id"),
      graft.operators.Checks.InRange("value", 0.0, 1000000.0),
      graft.operators.Checks.Accepted("event_type",
        Seq("click", "view", "purchase", "signup", "error")))
    val stream = EventStreams.readEventsStream(spark, dir.toString, TestSpark.sf0001)
    val q = graft.operators.Checks.run(stream, checks)
      .writeStream.outputMode("complete").format("memory").queryName("gate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gate").as[(String, Long, Boolean)].collect().toSet
      val want = graft.operators.Checks
        .run(Tables.load(spark, TestSpark.sf0001, "events"), checks)
        .as[(String, Long, Boolean)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream time-range join == batch join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val stream = EventStreams.readEventsStream(spark, dir.toString, TestSpark.sf0001)
    val q = EventStreams.clickViewJoin(stream)
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj").select("click_id", "view_id")
        .as[(Long, Long)].collect().toSet
      val want = EventStreams.clickViewJoin(
        Tables.load(spark, TestSpark.sf0001, "events"))
        .select("click_id", "view_id").as[(Long, Long)].collect().toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup-group maintenance == batch CC over all edges seen") {
    import graft.operators.Components
    val src = java.nio.file.Files.createTempDirectory("graft-ccstream")
    val state = java.nio.file.Files.createTempDirectory("graft-ccstate")
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("a", "b").coalesce(1).write.parquet(src.resolve(name).toString)
    // three admission cases across micro-batches: bridge two prior
    // components (3<->10), extend one (21<->22), fresh nodes (20-21),
    // plus a self-loop
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val b2 = Seq((3L, 10L), (20L, 21L))
    val b3 = Seq((21L, 22L), (7L, 7L))
    writeBatch("b1", b1)
    EventStreams.initCcState(
      Seq.empty[(Long, Long)].toDF("id", "comp"), state.toString)
    val stream = spark.readStream
      .schema("a LONG, b LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString + "/*")
    val q = EventStreams.componentsIngest(stream, "a", "b", state.toString)
    try {
      q.processAllAvailable()
      writeBatch("b2", b2)
      q.processAllAvailable()
      writeBatch("b3", b3)
      q.processAllAvailable()
      val got = EventStreams.currentCcLabels(spark, state.toString)
        .as[(Long, Long)].collect().toMap
      val want = Components.connectedComponents(
        (b1 ++ b2 ++ b3).toDF("s", "d"), "s", "d")
        .as[(Long, Long)].collect().toMap
      assert(got == want)
      assert(got(10L) == 1L && got(22L) == 20L && got(7L) == 7L)
    } finally q.stop()
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-late")
    // TZ-independent epoch construction (session is UTC; the JVM default
    // zone must not leak into the fixture)
    def nanos(hhmm: String): Long =
      java.time.Instant.parse(s"2024-01-01T$hhmm:00Z").toEpochMilli * 1000000L
    def writeBatch(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      // schema-compatible with events: (event_id, ts-nanos, user_id, event_type, value, props)
      rows.map { case (id, ts, et) => (id, ts, 1L, et, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir.resolve(name).toString)
    }
    // batch 1: one event at 00:10, one at 04:10 -> watermark becomes 02:10
    writeBatch("b1", Seq((1L, nanos("00:10"), "view"), (2L, nanos("04:10"), "view")))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        Tables.load(spark, TestSpark.sf0001, "events").schema.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType) else f)))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("late_agg").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event in the 00:00 window (beyond the 2h watermark)
      writeBatch("b2", Seq((3L, nanos("00:20"), "view"), (4L, nanos("05:10"), "view")))
      q.processAllAvailable()
      val h0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
      val cnt = spark.table("late_agg").filter(col("hour_ms") === h0)
        .select("cnt").as[Long].collect()
      assert(cnt.toSeq == Seq(1L), s"late event must be dropped, got $cnt")
    } finally q.stop()
  }

  test("deterministic hashSplit labels a stream identically to batch") {
    // the split is a pure key-hash expression, so the same row gets the
    // same label whether it arrives in a micro-batch or a batch scan —
    // exactly what RNG-seeded sample() cannot promise
    val dir = java.nio.file.Files.createTempDirectory("graft-split-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events-000.parquet"))
    val stream = EventStreams.readEventsStream(spark, dir.toString, TestSpark.sf0001)
    val weights = Seq("train" -> 0.8, "holdout" -> 0.2)
    val q = graft.operators.Splits.hashSplit(
      stream.select("event_id"), "event_id", weights)
      .writeStream.outputMode("append").format("memory").queryName("split_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("split_stream").as[(Long, String)].collect().toMap
      val want = graft.operators.Splits.hashSplit(
        Tables.load(spark, TestSpark.sf0001, "events").select("event_id"),
        "event_id", weights).as[(Long, String)].collect().toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("event-time timeout closes idle sessions without further events") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-idle")
    def ms(hhmm: String): Long =
      java.time.Instant.parse(s"2024-01-01T$hhmm:00Z").toEpochMilli
    def writeBatch(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "ts_ms").coalesce(1)
        .write.parquet(dir.resolve(name).toString)
    // batch 1: user 1 has a two-event session then goes idle forever
    writeBatch("b1", Seq((1L, 1L, ms("00:00")), (1L, 2L, ms("00:05"))))
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ms LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
      .as[EventStreams.Ev]
    val q = EventStreams.sessionize(stream, 1800000L) // 30-minute gap
      .writeStream.outputMode("append").format("memory")
      .queryName("idle_sessions").start()
    try {
      q.processAllAvailable()
      // batch 2: a DIFFERENT user's event two hours later pushes the
      // watermark past user 1's gap — user 1 never sends another event
      writeBatch("b2", Seq((2L, 3L, ms("02:00"))))
      q.processAllAvailable()
      def read() = spark.table("idle_sessions")
        .select("user_id", "session_no", "n_events", "start_ms", "end_ms")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // the timeout fires in a no-data micro-batch after the watermark
      // advances; poll briefly rather than race it
      val deadline = System.currentTimeMillis() + 15000
      var got = read()
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100); got = read()
      }
      assert(got == Set((1L, 1L, 2L, ms("00:00"), ms("00:05"))),
        s"idle session for user 1 must close via event-time timeout, got $got")
    } finally q.stop()
  }

  test("streaming embedding admission dedup: clones within the watermark are rejected, == batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-embed-admit")
    def ms(hhmm: String): Long =
      java.time.Instant.parse(s"2024-01-01T$hhmm:00Z").toEpochMilli
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // batch 1: the corpus; batch 2: an exact re-crawl (shifted ids) ten
    // minutes later — inside the 1-hour admission window
    emb.withColumn("ts_ms", lit(ms("00:00"))).coalesce(1)
      .write.parquet(dir.resolve("b1").toString)
    emb.select((col("vec_id") + (1L << 40)).as("vec_id"), col("embedding"))
      .withColumn("ts_ms", lit(ms("00:10"))).coalesce(1)
      .write.parquet(dir.resolve("b2").toString)
    val schema = emb.withColumn("ts_ms", lit(0L)).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/*")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = EventStreams.admitNewEmbeddings(stream, "embedding", "ts", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("admit").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("admit").select("vec_id").as[Long].collect()
      // batch mirror: the same operator on the unioned batch input
      val batchIn = spark.read.parquet(dir.toString + "/*")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      val want = EventStreams.admitNewEmbeddings(batchIn, "embedding", "ts", "1 hour")
      // the survivor CHOICE is arrival-order/partition dependent; the
      // admitted multiplicity is not: one row per distinct signature
      assert(kept.length == want.count())
      // and the re-crawl was actually rejected: nothing from the clone
      // id range survives (its signatures were all admitted in batch 1)
      assert(kept.forall(_ < (1L << 40)), s"clone ids admitted: ${kept.filter(_ >= (1L << 40)).take(5).toSeq}")
      assert(kept.nonEmpty)
    } finally q.stop()
  }

  test("stateful streaming sessionization == batch sessionize (closed sessions)") {
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[EventStreams.Ev]
    // run the same stateful logic in batch context via groupByKey to prove
    // the session semantics, then against the window-based batch mirror
    val stateful = EventStreams.sessionize(ev, 1800000L)
    // flatMapGroupsWithState in batch mode emits only closed sessions;
    // the open (last) session per user stays in state. Compare on the
    // closed prefix.
    val got = stateful.collect()
      .map(s => (s.user_id, s.session_no, s.n_events, s.start_ms, s.end_ms)).toSet
    val batch = Sessionize.sessions(
      Tables.load(spark, TestSpark.sf0001, "events"), 1800000L)
      .as[(Long, Long, Long, Long, Long)].collect()
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val closed = batch.filterNot(s => s._2 == lastPerUser(s._1)).toSet
    assert(got == closed)
    assert(got.nonEmpty)
  }

  test("streaming CDC ingestion: micro-batched cdcApply == one batch cdcApply") {
    val base = java.nio.file.Files.createTempDirectory("graft-cdc")
    val feedDir = base.resolve("feed"); java.nio.file.Files.createDirectory(feedDir)
    val stateDir = base.resolve("state").toString
    java.nio.file.Files.createDirectory(base.resolve("state"))

    // per-user event log as a CDC feed: key=user_id, seq=event_id,
    // payload=(event_type, event_id); initial snapshot = first event per
    // user, upsert feed = the rest, delete feed = purchases (re-sequenced
    // above everything so they are globally latest)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("user_id"), col("event_type"), col("event_id"))
      .withColumn("rk", row_number().over(w))
    val initial = ev.filter(col("rk") === 1).drop("rk")
    val upserts = ev.filter(col("rk") > 1).drop("rk").withColumn("op", lit("U"))
    // even user_ids only, so the final snapshot keeps the odd ones
    val deletes = ev.filter(col("event_type") === "purchase" &&
        pmod(col("user_id"), lit(2)) === 0).drop("rk")
      .withColumn("event_id", col("event_id") + (1L << 40))
      .withColumn("op", lit("D"))

    EventStreams.initCdcState(initial, stateDir)
    // upserts split into 3 files: arrival order is irrelevant for U-only
    // batches under the stale-seq guard
    upserts.repartition(3).write.mode("append").parquet(feedDir.toString)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(upserts.schema))
      .option("maxFilesPerTrigger", 1).parquet(feedDir.toString)
    val q = EventStreams.cdcIngest(stream, stateDir,
      Seq("user_id"), "event_id", "op")
    try {
      q.processAllAvailable()
      // deletes land AFTER the upserts have drained -> ordered arrival
      deletes.write.mode("append").parquet(feedDir.toString)
      q.processAllAvailable()
    } finally q.stop()

    val got = EventStreams.currentCdcSnapshot(spark, stateDir)
      .as[(Long, String, Long)].collect().toSet
    val want = graft.operators.Merge.cdcApply(
      initial, upserts.unionByName(deletes), Seq("user_id"), "event_id", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < initial.count())
  }

  test("streaming sketch-store maintenance: merged stream sketches == one-pass batch sketch") {
    val base = java.nio.file.Files.createTempDirectory("graft-sketch-stream")
    val feedDir = s"$base/feed"
    val streamStore = s"$base/stream-store"
    val batchStore = s"$base/batch-store"

    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("event_type"), col("user_id"))
    // several files -> several micro-batches with maxFilesPerTrigger=1
    ev.repartition(4).write.mode("overwrite").parquet(feedDir)

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.sketchIngest(stream, Seq("event_type"), "user_id",
      streamStore, s"$base/_checkpoint")
    try q.processAllAvailable() finally q.stop()

    graft.operators.SketchStore.appendBatch(
      ev, Seq("event_type"), "user_id", batchId = 0L, batchStore)

    def est(path: String): Map[String, Long] =
      graft.operators.SketchStore.mergedEstimates(spark, path, Seq("event_type"))
        .select(col("event_type"), col("est").cast("long"))
        .as[(String, Long)].collect().toMap
    // HLL union is register-wise max: N-batch merge == single-pass, exactly
    assert(est(streamStore) == est(batchStore))
    // and it really was incremental: every key saw multiple batches
    val nb = graft.operators.SketchStore
      .mergedEstimates(spark, streamStore, Seq("event_type"))
      .select(col("n_batches")).as[Long].collect()
    assert(nb.nonEmpty && nb.forall(_ > 1))
  }

  test("streaming coded-batch admission: store search == inline search over everything ingested") {
    val base = java.nio.file.Files.createTempDirectory("graft-coded-stream")
    val feedDir = s"$base/feed"
    val store = s"$base/store"
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val q5 = emb.filter(col("vec_id") < 5)
    val (cents, books) = graft.operators.Similarity.fitIvfPq(
      emb, "vec_id", "embedding", nlist = 16, kmeansIters = 2,
      m = 16, kcode = 16, pqIters = 1)
    // several files -> several micro-batches, each encoded and landed
    // against the SAME fixed index
    emb.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.codedBatchIngest(stream, "vec_id", "embedding",
      cents, books, store, s"$base/_checkpoint")
    try q.processAllAvailable() finally q.stop()
    // >1 batch directory really landed (it was incremental)
    val batches = new java.io.File(store).listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches > 1, s"expected several micro-batches, got $batches")
    val admitted = graft.operators.Similarity.searchCodedStore(spark, q5,
        "vec_id", "embedding", 5, cents, books, store,
        nprobe = 8, shortlistFactor = 16)
      .select("query_id", "rank", "neighbor_id", "cos")
      .collect().map(_.toString).toSeq
    val inline = graft.operators.Similarity.ivfPqSearch(q5, emb,
        "vec_id", "embedding", 5, cents, books,
        nprobe = 8, nassign = 2, shortlistFactor = 16)
      .select("query_id", "rank", "neighbor_id", "cos")
      .collect().map(_.toString).toSeq
    assert(admitted == inline)
  }

  test("streaming retrieval-index admission: store BM25 == one-shot in-query BM25") {
    val base = java.nio.file.Files.createTempDirectory("graft-idx-stream")
    val feedDir = s"$base/feed"
    val store = s"$base/index"
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    docs.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.indexIngest(stream, "doc_id", "tk",
      bucketSize = 64, store, s"$base/_cp")
    try q.processAllAvailable() finally q.stop()
    val batches = new java.io.File(s"$store/postings").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches > 1, s"expected several micro-batches, got $batches")
    val terms = Seq("join", "vector", "stream", "window")
    val fromStore = graft.operators.InvertedIndex
      .bm25SearchStore(spark, store, terms, 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = Queries.queries("q68_bm25")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromStore == oneShot)
  }

  test("streaming compacting index admission: fragments stay bounded, serving == one-shot, sealed replay is a no-op") {
    import graft.operators.InvertedIndex
    val base = java.nio.file.Files.createTempDirectory("graft-idx-compact-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/istore"
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    docs.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.indexIngestCompacting(stream, "doc_id", "tk",
      bucketSize = 64, root, s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    // 4 micro-batches through a maxFragments=2 policy: the store must
    // have compacted (gen advanced) and never hold more than 2 fragments
    assert(InvertedIndex.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(InvertedIndex.fragmentCount(spark, root) <= 2L)
    // serving from the compacted generational store == the one-shot
    // whole-corpus BM25 (the q68 closed form)
    val terms = Seq("join", "vector", "stream", "window")
    val fromStore = InvertedIndex.bm25SearchCurrent(spark, root, terms, 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = Queries.queries("q68_bm25")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromStore == oneShot)
    // sealed replay: re-admitting a micro-batch id at or below the
    // compacted high-water mark must be refused by the store layer (the
    // sink skips it; a buggy direct call fails loudly, never duplicates)
    val hwm = InvertedIndex.compactedHwm(root, InvertedIndex.currentGen(root))
    assert(hwm >= 0L)
    assertThrows[IllegalArgumentException] {
      InvertedIndex.admitBatch(spark, docs, "doc_id", "tk", 64L, hwm, root)
    }
  }

  test("streaming compacting vector admission: fragments bounded, serving == one-shot, sealed replay refused") {
    import graft.operators.{Similarity, VectorStore}
    val base = java.nio.file.Files.createTempDirectory("graft-vec-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/vstore"
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    emb.repartition(4).write.mode("overwrite").parquet(feedDir)
    // index fit is a policy action BEFORE the stream starts
    val (c1, b1) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
      nlist = 16, kmeansIters = 2, m = 8, kcode = 16, pqIters = 2)
    VectorStore.init(spark, root, c1, b1)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.vectorIngestCompacting(stream, "vec_id", "embedding",
      root, s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    assert(VectorStore.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(VectorStore.migratedBatchIds(spark, root,
      VectorStore.currentGen(root)).size <= 2)
    // serving == a from-scratch single-batch store of the same corpus
    // under the same index (compaction is layout-only; encode is pure)
    val queries = emb.filter(col("vec_id") < 5)
    val served = VectorStore.search(spark, root, queries,
        "vec_id", "embedding", 5, nprobe = 12, shortlistFactor = 32)
      .collect().map(_.toString).toSeq
    val flat = s"$base/flat"
    Similarity.appendCodedBatch(emb, "vec_id", "embedding", c1, b1, 0L, flat)
    val oneShot = Similarity.searchCodedStore(spark, queries,
        "vec_id", "embedding", 5, c1, b1, flat,
        nprobe = 12, shortlistFactor = 32)
      .collect().map(_.toString).toSeq
    assert(served == oneShot)
    // sealed replay refused at the store layer (the sink skips it)
    val hwm = graft.operators.GenStore.compactedHwm(root,
      VectorStore.currentGen(root))
    assert(hwm >= 0L)
    assertThrows[IllegalArgumentException] {
      VectorStore.admit(spark, root, emb, "vec_id", "embedding", hwm)
    }
  }

  test("streaming compacting key-set admission: fragments bounded, decisions == flat store") {
    import graft.operators.{Dedup, KeySetStore}
    val base = java.nio.file.Files.createTempDirectory("graft-keys-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/kstore"
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val history = docs.filter(col("doc_id") % 5 < 4)
    val probe = docs.filter(col("doc_id") % 5 === 4)
    history.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(history.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    // band keys are per-row expressions -> they stream as a map
    val keys = Dedup.minHashBandKeys(stream, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8)
      .select(col("band"), col("bucket"))
    val q = EventStreams.keySetIngestCompacting(keys, root,
      s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    assert(graft.operators.GenStore.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(KeySetStore.fragmentCount(spark, root) <= 2L)
    // admission decisions == the flat store fed the same history once
    val flat = java.nio.file.Files.createTempDirectory("graft-keys-flat").toString
    Dedup.appendMinHashStore(history, "doc_id", "text",
      numHashes = 32, bands = 8, batchId = 0L, path = flat)
    val fromStream = Dedup.admitAgainstMinHashStoreGen(probe, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, root = root)
      .collect().map(_.toString).toSeq
    val fromFlat = Dedup.admitAgainstMinHashStore(probe, "doc_id", "text",
        numHashes = 32, bands = 8, path = flat)
      .collect().map(_.toString).toSeq
    assert(fromStream == fromFlat)
  }

  test("streaming compacting quantile admission: fragments bounded, answers == one-shot exact order statistics") {
    import graft.operators.QuantileStore
    val base = java.nio.file.Files.createTempDirectory("graft-quant-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/qstore"
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
    li.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(
        spark.read.parquet(feedDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.quantileIngestCompacting(stream, Seq("l_returnflag"),
      "l_quantity", lo = 1.0, width = 1.0, nbins = 50,
      root = root, checkpointDir = s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    assert(graft.operators.GenStore.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(QuantileStore.fragmentCount(spark, root) <= 2L)
    // histogram sums are lossless whatever merge tree the interleaved
    // compactions produced: the store's answers are the EXACT order
    // statistics of the whole stream (unit bins, integral domain)
    val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))
    val got = QuantileStore.quantilesCurrent(spark, root,
        Seq("l_returnflag"), qs, 1.0, 1.0)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val exact = li.collect().groupBy(_.getString(0)).map { case (k, rows) =>
      val sorted = rows.map(_.getDouble(1)).sorted
      def rank(num: Int, den: Int) =
        sorted(((sorted.length.toLong * num + den - 1) / den - 1).toInt)
      k -> (rank(1, 4), rank(1, 2), rank(3, 4), rank(19, 20))
    }
    assert(got == exact)
  }

  test("streaming compacting sketch admission: fragments bounded, estimates track the one-pass sketch") {
    import graft.operators.SketchStore
    val base = java.nio.file.Files.createTempDirectory("graft-sketch-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/sstore"
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("event_type"), col("user_id"))
    ev.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(
        spark.read.parquet(feedDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.sketchIngestCompacting(stream, Seq("event_type"),
      "user_id", root, s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    assert(graft.operators.GenStore.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(SketchStore.fragmentCount(spark, root) <= 2L)
    // estimates track the one-pass whole-corpus sketch: exact in the
    // sparse/coupon regime, <=1% once dense (the SketchStoreSpec scoping)
    val whole = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"),
        lit(SketchStore.DefaultLgK))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SketchStore.estimatesCurrent(spark, root, Seq("event_type"))
      .select(col("event_type"), col("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == whole.keySet)
    got.foreach { case (k, est) =>
      if (whole(k) < 1000) assert(est == whole(k), s"$k: $est != ${whole(k)}")
      else assert(math.abs(est - whole(k)) <= whole(k) / 100, s"$k drifted >1%")
    }
  }

  test("streaming compacting frequency admission: fragments bounded, MG contract holds over the stream") {
    import graft.operators.HeavyHitters
    val base = java.nio.file.Files.createTempDirectory("graft-freq-stream")
    val feedDir = s"$base/feed"
    val root = s"$base/hstore"
    val m = 8
    // planted skew over the documents ids (the q149 recipe)
    val keyed = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("heavy_"), pmod(col("doc_id"), lit(2)).cast("string")))
        .otherwise(concat(lit("tail_"), col("doc_id").cast("string"))).as("k"))
    keyed.repartition(4).write.mode("overwrite").parquet(feedDir)
    val stream = spark.readStream.schema(keyed.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.frequencyIngestCompacting(stream, "k", m,
      root, s"$base/_cp", maxFragments = 2)
    try q.processAllAvailable() finally q.stop()
    assert(graft.operators.GenStore.currentGen(root) > 1L,
      "the compaction policy never fired across 4 micro-batches")
    assert(HeavyHitters.fragmentCount(spark, root) <= 2L)
    // the mergeable-summaries contract over the WHOLE stream, whatever
    // merge tree the interleaved compactions produced
    val exact = keyed.groupBy(col("k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val est = HeavyHitters.hittersCurrent(spark, root, m)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size <= m)
    exact.foreach { case (k, cnt) =>
      if (cnt * (m + 1) > n) {
        val e = est.getOrElse(k, fail(s"guaranteed-heavy $k lost in the stream"))
        assert(e <= cnt && (cnt - e) * (m + 1) <= n + (m + 1) * 4,
          s"$k: est $e out of the additive merge-tree bound (exact $cnt)")
      }
    }
  }

  test("CDC time travel: as-of reads serve immutable history; vacuum bounds it") {
    val base = java.nio.file.Files.createTempDirectory("graft-timetravel")
    val dir = s"$base/cdc"
    val v0 = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("key", "v", "seq")
    EventStreams.initCdcState(v0, dir)
    val b1 = Seq((2L, "b2", 1L, "U"), (3L, "c", 1L, "I"))
      .toDF("key", "v", "seq", "op")
    assert(EventStreams.publishCdcBatch(spark, dir, b1, Seq("key"), "seq", "op") == 1L)
    val b2 = Seq((1L, "", 2L, "D"), (3L, "c2", 2L, "U"))
      .toDF("key", "v", "seq", "op")
    assert(EventStreams.publishCdcBatch(spark, dir, b2, Seq("key"), "seq", "op") == 2L)
    def state(ver: Long): Set[(Long, String)] =
      EventStreams.cdcSnapshotAt(spark, dir, ver)
        .select("key", "v").as[(Long, String)].collect().toSet
    // history is immutable: v0/v1 still read their original states
    assert(state(0L) == Set((1L, "a"), (2L, "b")))
    assert(state(1L) == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(state(2L) == Set((2L, "b2"), (3L, "c2")))
    assert(EventStreams.listCdcVersions(dir) == Seq(0L, 1L, 2L))
    // unpublished versions are refused even if the directory exists
    // (crash between write and pointer advance)
    v0.write.mode("overwrite").parquet(s"$dir/v3")
    assertThrows[IllegalArgumentException] {
      EventStreams.cdcSnapshotAt(spark, dir, 3L)
    }
    // vacuum drops exactly the oldest beyond the window; retained
    // versions and the current pointer are untouched
    assert(EventStreams.vacuumCdc(spark, dir, keepLast = 2) == Seq(0L))
    assertThrows[IllegalArgumentException] {
      EventStreams.cdcSnapshotAt(spark, dir, 0L)
    }
    assert(state(1L) == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(state(2L) == Set((2L, "b2"), (3L, "c2")))
    // vacuum is idempotent once the window is satisfied
    assert(EventStreams.vacuumCdc(spark, dir, keepLast = 2).isEmpty)
  }

  test("vacuum tombstone: a crashed mid-vacuum directory is invisible to readers and finished by the next vacuum") {
    val base = java.nio.file.Files.createTempDirectory("graft-tombstone")
    val dir = s"$base/cdc"
    val v0 = Seq((1L, "a", 0L)).toDF("key", "v", "seq")
    EventStreams.initCdcState(v0, dir)
    val b1 = Seq((1L, "a2", 1L, "U")).toDF("key", "v", "seq", "op")
    EventStreams.publishCdcBatch(spark, dir, b1, Seq("key"), "seq", "op")
    val b2 = Seq((1L, "a3", 2L, "U")).toDF("key", "v", "seq", "op")
    EventStreams.publishCdcBatch(spark, dir, b2, Seq("key"), "seq", "op")
    // simulate the crash window: vacuum renamed v0 to its tombstone and
    // died before deleting the contents — the PARTIAL directory is still
    // full of valid parquet, which is exactly the silent-truncation
    // hazard the tombstone rename exists to close
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "v0"),
      java.nio.file.Paths.get(dir, "v0.deleted"))
    // readers: v0 is vacuumed (retention error), NOT silently served
    assert(EventStreams.listCdcVersions(dir) == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      EventStreams.cdcSnapshotAt(spark, dir, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
    // the next vacuum finishes the crashed delete and proceeds normally
    assert(EventStreams.vacuumCdc(spark, dir, keepLast = 1) == Seq(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v0.deleted")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v1")))
    assert(EventStreams.cdcSnapshotAt(spark, dir, 2L)
      .select("key", "v").as[(Long, String)].collect().toSet == Set((1L, "a3")))
  }

  test("streaming crawl-admission loop == one-shot closed form (the q127 capstone as one sink)") {
    val base = java.nio.file.Files.createTempDirectory("graft-crawl-stream")
    val feedDir = s"$base/feed"
    val store = s"$base/store"
    val labelDir = s"$base/labels"
    val shift = 1L << 40
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val recrawl = emb.unionByName(
      emb.select((col("vec_id") + shift).as("vec_id"), col("embedding")))
    // clone pairs split ACROSS the batch boundary (2^40 % 10 = 6 shifts
    // each clone's bucket) — the cross-batch discovery is what's under test
    val b1 = recrawl.filter(col("vec_id") % 10 < 8)
    val b2 = recrawl.filter(col("vec_id") % 10 >= 8)
    val (cents, books) = graft.operators.Similarity.fitIvfPq(
      b1, "vec_id", "embedding", nlist = 16, kmeansIters = 3,
      m = 16, kcode = 16, pqIters = 2)
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    EventStreams.initCcState(Seq.empty[(Long, Long)].toDF("id", "comp"), labelDir)
    val stream = spark.readStream.schema(recrawl.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.crawlAdmissionIngest(stream, "vec_id", "embedding",
      cents, books, store, labelDir, s"$base/_cp", k = 5, threshold = 0.99)
    try q.processAllAvailable() finally q.stop()
    // it really was incremental: each micro-batch landed its own coded dir
    assert(new java.io.File(store).listFiles()
      .count(_.getName.startsWith("batch_id=")) == 2)
    // end state == the one-shot closed form: every original self-labeled,
    // every clone labeled with its original — nothing about streaming
    // (batch boundary, arrival order, label replay) may lose or invent
    // a group
    val got = EventStreams.currentCcLabels(spark, labelDir)
      .as[(Long, Long)].collect().toSet
    val ids = emb.select("vec_id").as[Long].collect()
    val want = ids.map(i => (i, i)).toSet ++ ids.map(i => (i + shift, i)).toSet
    assert(got == want)
  }

  test("cdcDiff round-trip: applying the diff to the old version lands exactly on the new") {
    val base = java.nio.file.Files.createTempDirectory("graft-cdcdiff")
    val dir = s"$base/cdc"
    val v0 = Seq((1L, "a", 10.0, 0L), (2L, "b", 20.0, 0L), (4L, "d", 40.0, 0L))
      .toDF("key", "name", "x", "seq")
    EventStreams.initCdcState(v0, dir)
    val b1 = Seq((2L, "b2", 21.0, 1L, "U"), (3L, "c", 30.0, 1L, "I"),
      (4L, "d", 40.0, 1L, "D"), (5L, "e", 50.0, 1L, "I"))
      .toDF("key", "name", "x", "seq", "op")
    EventStreams.publishCdcBatch(spark, dir, b1, Seq("key"), "seq", "op")
    val b2 = Seq((5L, "", 0.0, 2L, "D"), (1L, "a2", 11.0, 2L, "U"))
      .toDF("key", "name", "x", "seq", "op")
    EventStreams.publishCdcBatch(spark, dir, b2, Seq("key"), "seq", "op")
    val diff = EventStreams.cdcDiff(spark, dir, 0L, 2L, Seq("key"))
    // classes: 1 U (key 1), 2 -> U (key 2), I (key 3), D (key 4); key 5
    // (inserted then deleted between the versions) must be absent
    val ops = diff.select("key", "op").as[(Long, String)].collect().toMap
    assert(ops == Map(1L -> "U", 2L -> "U", 3L -> "I", 4L -> "D"))
    // round trip: applyChanges(v0, diff) == v2, row for row
    val replayed = graft.operators.Merge.applyChanges(
        EventStreams.cdcSnapshotAt(spark, dir, 0L), diff, Seq("key"), "seq", "op")
      .select("key", "name", "x", "seq").collect().map(_.toString).toSet
    val v2 = EventStreams.cdcSnapshotAt(spark, dir, 2L)
      .select("key", "name", "x", "seq").collect().map(_.toString).toSet
    assert(replayed == v2)
    // a no-change diff is empty
    assert(EventStreams.cdcDiff(spark, dir, 2L, 2L, Seq("key")).isEmpty)
  }

  test("streaming heavy-hitter maintenance: merged per-batch summaries keep the MG guarantee") {
    val base = java.nio.file.Files.createTempDirectory("graft-hh-stream")
    val feedDir = s"$base/feed"
    val store = s"$base/store"
    // hot keys ~1/6 of the stream each, the rest singletons; 4 files ->
    // 4 micro-batches, each summarized and appended independently
    val m = 8
    val stream = (1L to 1200L).map { i =>
      if (i % 3 == 0) s"hot_${i % 2}" else s"tail_$i"
    }
    stream.toDF("k").repartition(4).write.mode("overwrite").parquet(feedDir)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = EventStreams.heavyHitterIngest(src, "k", m, store, s"$base/_cp")
    try q.processAllAvailable() finally q.stop()

    val batches = spark.read.parquet(store)
    assert(batches.select("batch_id").distinct().count() > 1, "not incremental")
    val merged = graft.operators.HeavyHitters.mergeSummaries(batches, m)
      .as[(String, Long)].collect().toMap
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // additive bound: each batch contributes N_i/(m+1)
    val bound = stream.size.toLong / (m + 1) + 4 // +4: per-batch floor slack
    for (hot <- Seq("hot_0", "hot_1")) {
      val est = merged.getOrElse(hot, fail(s"$hot lost across batches"))
      assert(est <= exact(hot), "MG must never overcount")
      assert(exact(hot) - est <= bound, s"est $est for $hot out of bound")
    }
  }

  test("streaming curation pipeline == sequential batch closed form, across a mid-stream compaction") {
    import graft.functions.TextFunctions
    import graft.operators.{Dedup, GenStore, KeySetStore}
    val base = java.nio.file.Files.createTempDirectory("graft-curation-stream")
    val feed = s"$base/feed"
    val root = s"$base/sigstore"
    val retained = s"$base/retained"
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    new java.io.File(feed).mkdirs()
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = EventStreams.curationIngestCompacting(stream, "doc_id", "text",
      root, retained, s"$base/_cp", maxFragments = 2,
      qualityThreshold = 0.5, n = 3, numHashes = 32, bands = 8)
    // one crawl file per micro-batch, each written only after the
    // previous batch fully drained -> batch ids pinned to crawl order
    val genSeen = try {
      (0 to 2).map { k =>
        docs.filter(pmod(col("doc_id"), lit(3)) === k).coalesce(1)
          .write.mode("append").parquet(feed)
        q.processAllAvailable()
        GenStore.currentGen(root)
      }
    } finally q.stop()
    // the compaction fired BETWEEN micro-batches, not after the last
    assert(genSeen.init.exists(_ >= 2L),
      s"no mid-stream compaction: generations seen were $genSeen")
    assert(KeySetStore.fragmentCount(spark, root) <= 2L)

    // batch closed form: the same sequential admission via the batch APIs
    val broot = s"$base/batch-sigstore"
    KeySetStore.init(broot)
    val qual = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
    var want = Set.empty[Long]
    for (k <- 0 to 2) {
      val b = qual.filter(pmod(col("doc_id"), lit(3)) === k)
      val adm =
        if (k == 0) b.localCheckpoint()
        else b.join(
          Dedup.admitAgainstMinHashStoreGen(b, "doc_id", "text",
              n = 3, numHashes = 32, bands = 8, root = broot)
            .filter(col("admit")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi").localCheckpoint()
      Dedup.admitMinHashBatch(adm, "doc_id", "text", n = 3, numHashes = 32,
        bands = 8, batchId = k.toLong, root = broot)
      want ++= adm.select("doc_id").as[Long].collect()
    }
    val got = spark.read.parquet(retained).select("doc_id").as[Long].collect().toSet
    assert(got == want, "stream-retained corpus != sequential batch closed form")
    assert(got.nonEmpty && got.size < docs.count(),
      "the quality/dedup gates retained everything or nothing")
    // a sealed replay of an already-compacted batch is refused at the
    // store layer; the streaming sink's hwm guard is what skips it
    val hwm = GenStore.compactedHwm(root, GenStore.currentGen(root))
    assert(hwm >= 1L, s"compaction never sealed a batch (hwm=$hwm)")
  }

  test("streaming takedown and retraction sinks == their batch forms") {
    import graft.operators.{Dedup, KeySetStore, QuantileStore}
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-stream")
    // ---- signature takedown stream ----
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val sroot = s"$base/sig-stream"
    val broot = s"$base/sig-batch"
    for (r <- Seq(sroot, broot)) {
      KeySetStore.init(r)
      Dedup.admitMinHashBatch(docs, "doc_id", "text", n = 3,
        numHashes = 32, bands = 8, batchId = 0L, root = r)
    }
    val dead = docs.filter(col("doc_id") % 7 === 3)
    val feed = s"$base/feed"
    dead.repartition(2).write.mode("overwrite").parquet(feed)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = EventStreams.signatureTakedownIngest(stream, "doc_id", "text",
      sroot, s"$base/_cp1")
    try q.processAllAvailable() finally q.stop()
    Dedup.deleteMinHashBatch(dead, "doc_id", "text", n = 3, numHashes = 32,
      bands = 8, batchId = 0L, root = broot)
    def decisions(r: String) = Dedup.admitAgainstMinHashStoreGen(docs,
        "doc_id", "text", n = 3, numHashes = 32, bands = 8, root = r)
      .as[(Long, Long, Boolean)].collect().toSeq
    val want = decisions(broot)
    assert(decisions(sroot) == want,
      "streamed takedown decisions != batch deleteMinHashBatch")
    assert(want.exists(_._3), "fixture premise: some takedown re-opened admission")
    // ---- quantile retraction stream (baseBatchId clears the admissions) ----
    val qroot = s"$base/q-stream"
    val qfresh = s"$base/q-fresh"
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
    QuantileStore.initStore(qroot)
    QuantileStore.admitBatch(spark, li, Seq("l_returnflag"), "l_quantity",
      lo = 1.0, width = 1.0, nbins = 50, batchId = 0L, root = qroot)
    val slice = li.filter(pmod(col("l_orderkey"), lit(4)) === 1)
    val qfeed = s"$base/qfeed"
    slice.repartition(2).write.mode("overwrite").parquet(qfeed)
    val qstream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(qfeed)
    val rq = EventStreams.quantileRetractIngest(qstream, Seq("l_returnflag"),
      "l_quantity", lo = 1.0, width = 1.0, nbins = 50,
      root = qroot, checkpointDir = s"$base/_cp2", baseBatchId = 1L)
    try rq.processAllAvailable() finally rq.stop()
    QuantileStore.initStore(qfresh)
    QuantileStore.admitBatch(spark,
      li.filter(pmod(col("l_orderkey"), lit(4)) =!= 1), Seq("l_returnflag"),
      "l_quantity", lo = 1.0, width = 1.0, nbins = 50, batchId = 0L,
      root = qfresh)
    val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))
    def quants(r: String) = QuantileStore.quantilesCurrent(spark, r,
        Seq("l_returnflag"), qs, lo = 1.0, width = 1.0)
      .collect().map(_.toString).sorted.toSeq
    val qwant = quants(qfresh)
    assert(quants(qroot) == qwant,
      "streamed retraction != store built without the slice")
    // the admission fragment survived the retraction stream (no id clash)
    QuantileStore.compactStore(spark, qroot, expectedGen = 1L, Seq("l_returnflag"))
    assert(quants(qroot) == qwant, "compaction changed streamed-retraction answers")
  }

  test("streaming index/vector takedown sinks == their batch delete forms") {
    import graft.operators.{InvertedIndex, Similarity, VectorStore}
    val base = java.nio.file.Files.createTempDirectory("graft-idx-takedown-stream")
    // ---- retrieval index ----
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("tk"))
    val sroot = s"$base/idx-stream"
    val broot = s"$base/idx-batch"
    for (r <- Seq(sroot, broot)) {
      InvertedIndex.initStore(r)
      InvertedIndex.admitBatch(spark, toks, "doc_id", "tk", 64L,
        batchId = 0L, root = r)
    }
    val dead = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val feed = s"$base/feed"
    dead.repartition(2).write.mode("overwrite").parquet(feed)
    val stream = spark.readStream.schema(dead.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = EventStreams.indexTakedownIngest(stream, "doc_id", sroot, s"$base/_cp1")
    try q.processAllAvailable() finally q.stop()
    InvertedIndex.admitDeleteBatch(spark, dead, "doc_id", 0L, broot)
    val terms = Seq("join", "vector", "stream", "window")
    def bm25(r: String) = InvertedIndex.bm25SearchCurrent(spark, r, terms, 15)
      .collect().toSeq.map(x => (x.getLong(0), x.getDouble(1)))
    assert(bm25(sroot) == bm25(broot), "streamed index takedown != batch delete")
    assert(bm25(sroot).nonEmpty)
    // ---- coded vector store ----
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val (vc, vb) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
      nlist = 16, kmeansIters = 2, m = 8, kcode = 16, pqIters = 2)
    val vs = s"$base/vec-stream"
    val vbatch = s"$base/vec-batch"
    for (r <- Seq(vs, vbatch)) {
      VectorStore.init(spark, r, vc, vb)
      VectorStore.admit(spark, r, emb, "vec_id", "embedding", 0L)
    }
    val deadV = emb.filter(col("vec_id") % 5 === 2).select("vec_id")
    val vfeed = s"$base/vfeed"
    deadV.repartition(2).write.mode("overwrite").parquet(vfeed)
    val vstream = spark.readStream.schema(deadV.schema)
      .option("maxFilesPerTrigger", 1).parquet(vfeed)
    val vq = EventStreams.vectorTakedownIngest(vstream, "vec_id", vs, s"$base/_cp2")
    try vq.processAllAvailable() finally vq.stop()
    VectorStore.admitDeletes(spark, vbatch, deadV, "vec_id", 0L)
    def vsearch(r: String) = VectorStore.search(spark, r,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5,
        nprobe = 16, shortlistFactor = 1000)
      .select(col("query_id"), col("rank").cast("long"), col("neighbor_id"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(vsearch(vs) == vsearch(vbatch), "streamed vector takedown != batch delete")
    assert(vsearch(vs).nonEmpty)
  }

  test("sink steps: a sealed replay through the shared guard changes nothing; a replayed takedown lands idempotently") {
    import graft.operators.{GenStore, KeySetStore}
    val root = java.nio.file.Files.createTempDirectory("graft-sink-replay")
      .resolve("kstore").toString
    KeySetStore.init(root)
    val keys = spark.range(0, 20).toDF("k")
    // the compacting sinks' micro-batch step: admit, then compact once
    // two fragments exist
    val step = EventStreams.admitThenCompact(root) { (_, batch, id) =>
      KeySetStore.admitBatch(batch, id, root)
    }(KeySetStore.compactIfFragmented(_, root, 2))
    step(keys.filter($"k" < 10), 0L)
    step(keys.filter($"k" >= 10), 1L)
    assert(GenStore.currentGen(root) == 2L)
    assert(GenStore.compactedHwm(root, 2L) == 1L)
    def live() = KeySetStore.keysCurrent(spark, root).select("k").as[Long]
      .collect().toSet
    def onDisk() = (GenStore.currentGen(root), GenStore.listManifest(spark, root))
    val (files, rows) = (onDisk(), live())
    assert(rows == (0L until 20L).toSet)
    // replays of both sealed ids, carrying rows the store never saw: the
    // guard skips them whole — no throw, no fragment, row or pointer move
    step(spark.range(100, 110).toDF("k"), 1L)
    step(spark.range(100, 110).toDF("k"), 0L)
    assert(onDisk() == files, "a sealed replay wrote to the store")
    assert(live() == rows)
    // takedowns carry no guard: a replayed delete batch overwrites its own
    // fragment under the same id, and the store serves the same keys
    val takedown = EventStreams.takedownStep(baseBatchId = 5L, compactAt = 0.0) {
      (_, batch, id) => KeySetStore.admitDeleteBatch(batch, id, root)
    }((_, _) => ())
    val dead = keys.filter($"k" % 3 === 0)
    takedown(dead, 0L)
    val once = live()
    assert(once == rows.filterNot(_ % 3 == 0))
    takedown(dead, 0L)
    assert(live() == once)
    assert(GenStore.listBatchIds(spark, s"${GenStore.genDir(root, 2L)}/deletes") == Seq(5L))
    assert(GenStore.currentGen(root) == 2L)
  }
}
