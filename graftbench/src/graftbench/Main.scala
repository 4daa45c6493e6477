package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One workload: set-up, a warm-up, and a step that issues one or more
  * closed-loop ops.
  */
trait Workload {
  /** Generate the inputs into `dir`. */
  def setup(dir: String): Unit
  /** One-time set-up on the generated inputs (timed as set-up). */
  def init(): Unit = ()
  /** Answers the checks compare against, from an independent source; not timed as set-up. */
  def prepareChecks(): Unit = ()
  def warmSteps: Int
  def step(): Unit
  /** Steps (warm-up included) that must complete before the timed window may end. */
  def minSteps: Int = 0
  /** Steps the traced invocation traces, or leaves untraced, together:
    * one cycle, so that every op kind lands in both halves.
    */
  def traceUnit: Int = 1
  def stepsDone: Int
  /** Measurements taken after the timed window, before the heap is sampled. */
  def finish(traced: Boolean): Map[String, Any] = Map.empty
}

/** Runs one workload in one JVM and writes the raw record (ops, spans,
  * Spark counters) that `run.py` turns into metrics.
  *
  * Args: workload seed seconds trace(0|1) workDir rawOut
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workDir, rawOut) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"

    val t0 = Clock.now
    val spark = graft.GraftSession.local(s"graftbench-$name")
    val cpus = sys.env("SPARK_GRAFT_CPUS").toInt
    // split count from the core count too (GraftSession leaves it at
    // defaultParallelism, which equals cpus here; set explicitly so a
    // future default change does not move the benchmark)
    spark.conf.set("spark.sql.files.minPartitionNum", cpus.toString)
    val sessionS = (Clock.now - t0) / 1e9

    val rec = new Recorder
    val w: Workload = name match {
      case "olap_scan" => new OlapScan(spark, rec, seed)
      case "store_churn" => new StoreChurn(spark, rec, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val s0 = Clock.now
    w.setup(s"$workDir/input")
    val setupS = (Clock.now - s0) / 1e9
    val i0 = Clock.now
    w.init()
    val initS = (Clock.now - i0) / 1e9
    val c0 = Clock.now
    w.prepareChecks()
    val checksS = (Clock.now - c0) / 1e9
    val w0 = Clock.now
    rec.phase = "warm"
    (0 until w.warmSteps).foreach(_ => w.step())
    val warmS = (Clock.now - w0) / 1e9

    val counters = if (trace) Some(new SparkCounters(spark)) else None
    counters.foreach { c => c.register(); rec.counters = counters }
    // The traced invocation alternates traced and untraced cycles, so the
    // tracing overhead compares steps at the same point of JVM warm-up.
    val deadline = Clock.now + (seconds * 1e9).toLong
    var i = 0
    while (Clock.now < deadline || w.stepsDone < w.minSteps || (trace && i < 2 * w.traceUnit)) {
      rec.tracing = trace && (i / w.traceUnit) % 2 == 0
      rec.phase = if (rec.tracing) "traced" else "run"
      w.step()
      i += 1
    }
    rec.tracing = false
    val extra = w.finish(trace)
    counters.foreach(_ => org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext))

    // retained heap: what the workload keeps live after a full collection;
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after
    // a collection has dropped their driver-side handles, so collect, let
    // it run, and collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val raw = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> Map(
        "cpus" -> cpus, "spark_master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "session_s" -> sessionS, "setup_data_s" -> setupS, "init_s" -> initS, "warmup_s" -> warmS,
      "checks_prep_s" -> checksS, "retained_heap_mb" -> heapMb,
      "extra" -> extra,
      "ops" -> rec.ops.map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "phase" -> o.phase,
        "t0" -> Clock.ms(o.t0), "t1" -> Clock.ms(o.t1), "ok" -> o.ok, "err" -> o.err,
        "driver_gc_ms" -> o.driverGcMs, "extra" -> o.extra)),
      "spans" -> rec.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "t0" -> Clock.ms(s.t0), "t1" -> Clock.ms(s.t1))),
      "jobs" -> counters.toSeq.flatMap(_.jobs.toSeq).map(j => Map(
        "id" -> j.id, "t0" -> j.t0, "t1" -> j.t1,
        "first_task" -> (if (j.firstTask == Long.MaxValue) j.t0 else j.firstTask),
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs, "result_bytes" -> j.resultBytes,
        "rows_read" -> j.rowsRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead)),
      "queries" -> counters.toSeq.flatMap(_.queries.toSeq).map(q => Map(
        "at" -> q.at, "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs, "files" -> q.files, "files_bytes" -> q.filesBytes,
        "metadata_ms" -> q.metadataMs, "scan_ms" -> q.scanMs, "observed" -> q.observed)))
    Files.writeString(Paths.get(rawOut), Json(raw))
    spark.stop()
  }

  /** Regular files under `root` (recursive) with their sizes; Hadoop's
    * `.crc` side files are left out so that byte counts are the data's.
    */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val f: Path = it.next()
          if (Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
            b += f.toString -> Files.size(f)
        }
        b.result()
      } finally s.close()
    }
  }
}
