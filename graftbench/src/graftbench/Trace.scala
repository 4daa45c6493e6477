package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, anchored once so
  * that op and span times (nanoTime) line up with Spark's event times
  * (currentTimeMillis) for window attribution.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def now: Long = System.nanoTime()
}

final case class OpRec(id: Int, kind: String, name: String, t0: Long, t1: Long,
    phase: String, driverGcMs: Long, var ok: Boolean, var err: String,
    var extra: Map[String, Any])

final case class SpanRec(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

/** Per-job totals, filled by the listener bus thread. */
final class JobRec(val id: Int, val t0: Long) {
  var t1 = 0L
  var firstTask = Long.MaxValue
  var stages, tasks = 0
  var runMs, cpuNs, gcMs, resultBytes, rowsRead = 0L
  var shuffleWrite, shuffleRead = 0L
}

/** One executed SQL query: Catalyst phases, scan metrics, observed counters. */
final case class QueryRec(at: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, files: Long, filesBytes: Long, metadataMs: Long,
    scanMs: Long, observed: Map[String, Long])

/** Records ops (always) and, while `tracing` is on, spans plus the Spark
  * work behind them. One client thread issues ops, so a thread-local
  * parent stack is not needed; `Par`-style overlap inside a graft call
  * shows up as jobs, not spans.
  */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  var tracing = false
  /** "warm", "run" or "traced": which window an op belongs to. */
  var phase = "warm"
  var counters: Option[SparkCounters] = None
  private var curOp = -1
  private var stack: List[Int] = Nil
  private var spanSeq = 0

  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Bytes this process has read through read(2)-family calls
    * (`rchar` of /proc/self/io), page-cache hits included. Parquet's
    * vectored reads bypass Hadoop's FileSystem statistics, so task input
    * metrics miss them; this counter does not. -1 where unavailable.
    */
  private def readChars(): Long =
    try {
      val it = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io")).iterator()
      var v = -1L
      while (it.hasNext) { val l = it.next(); if (l.startsWith("rchar:")) v = l.substring(6).trim.toLong }
      v
    } catch { case NonFatal(_) => -1L }

  /** Run one timed op. A throw counts as a failed op; its message is printed. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val id = ops.size
    curOp = id
    val io0 = if (tracing) readChars() else -1L
    val gc0 = gcMs()
    val t0 = Clock.now
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.now
    curOp = -1
    val rec = OpRec(id, kind, name, t0, t1, phase, gcMs() - gc0, r.isRight, "", Map.empty)
    ops += rec
    if (io0 >= 0) rec.extra = Map("read_bytes" -> (readChars() - io0))
    r match {
      case Right(v) => Some(v)
      case Left(e) =>
        rec.err = e.toString.take(400)
        println(s"[graftbench] FAIL op=$id $name threw: ${rec.err}")
        None
    }
  }

  /** Mark the last op as wrong when `cond` is false. */
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      val last = ops.last
      if (last.ok) { last.ok = false; last.err = what.take(400) }
      println(s"[graftbench] FAIL op=${last.id} ${last.name}: $what")
    }

  /** Attach a measured value to the last op. */
  def note(key: String, v: Any): Unit = { val l = ops.last; l.extra = l.extra + (key -> v) }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spanSeq
      spanSeq += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now
      try body
      finally {
        stack = stack.tail
        spans += SpanRec(id, parent, curOp, name, t0, Clock.now)
      }
    }

  /** A graft call that returns a lazy frame: in the traced run its output
    * is materialised inside the span, so the work lands there.
    */
  def frame(name: String)(df: => DataFrame): DataFrame =
    if (!tracing) df
    else span(name) {
      val d = df
      val cp = d.localCheckpoint()
      counters.foreach(_.noteQe(d.queryExecution))
      cp
    }
}

/** Spark-side counters for the traced run: a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for Catalyst phases,
  * scan metrics and `graft.*` observed counters. Jobs are attributed to
  * ops later by time window, not by job group.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach(j => j.firstTask = math.min(j.firstTask, e.taskInfo.launchTime))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.resultBytes += m.resultSize
        j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }

  /** Record one executed query once; also called directly for frames
    * consumed through `queryExecution.toRdd`, which fire no listener.
    */
  def noteQe(qe: QueryExecution): Unit = {
    val fresh = seenQe.synchronized(seenQe.add(qe))
    if (fresh) try {
      val ph = qe.tracker.phases
      def dur(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val at = ph.get("planning").map(_.endTimeMs.toDouble)
        .orElse(ph.get("analysis").map(_.startTimeMs.toDouble)).getOrElse(System.currentTimeMillis().toDouble)
      val ss = scans(qe.executedPlan)
      def m(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum
      val observed = qe.observedMetrics.toSeq.collect {
        case (name, row) if name.startsWith("graft.") =>
          val base = name.stripPrefix("graft.").replaceAll("\\.\\d+$", "")
          row.schema.fieldNames.zip(row.toSeq).collect {
            case (f, v: Long) => s"$base.$f" -> v
          }.toSeq
      }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      synchronized {
        queries += QueryRec(at, dur("analysis"), dur("optimization"), dur("planning"),
          m("numFiles"), m("filesSize"), m("metadataTime"), m("scanTime"), observed)
      }
    } catch { case NonFatal(e) => println(s"[graftbench] query metrics skipped: $e") }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = noteQe(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}

/** JSON for the raw run record (Jackson with its Scala module, both in Spark's jars). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
