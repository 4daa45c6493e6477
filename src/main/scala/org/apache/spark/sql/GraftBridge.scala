package org.apache.spark.sql

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DoubleType, FloatType, IntegerType, LongType, TypeCollection}

/** Minimal bridge to Spark's package-private Expression<->Column
  * conversions (org.apache.spark.sql.classic.ExpressionUtils), needed to
  * expose graft's custom Catalyst expressions through the public Column
  * API on Spark 4's unified Column. Lives in org.apache.spark.sql only to
  * satisfy the private[sql] access modifiers; contains no logic.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager local checkpoint that does NOT carry the origin plan's
    * statistics snapshot into the resulting LogicalRDD.
    *
    * `Dataset.localCheckpoint()` preserves the pre-checkpoint plan's
    * estimated stats. In an iterative algorithm that references the
    * checkpointed frame more than once per round (connected components,
    * PageRank, BPE), the next round's join estimate MULTIPLIES the
    * carried estimates, so sizeInBytes grows as ~2^(2^round): the
    * exponent doubles per round, join-strategy choices see astronomical
    * sizes within a handful of rounds, and after ~25 checkpoints
    * BigInteger itself overflows and kills the query with an
    * ArithmeticException (found by BenchTune --components, whose inner
    * compression loop checkpoints several times per round). Rebuilding
    * the frame from the checkpointed
    * InternalRow RDD drops the snapshot: stats fall back to honest
    * size-based defaults each round. No extra computation or row
    * conversion happens — the RDD is already materialized by the eager
    * checkpoint, and the new frame scans the SAME persisted RDD (pulled
    * out of the checkpoint's LogicalRDD rather than re-wrapped through
    * `toRdd`, whose extra projection layer would both re-project every
    * row on every downstream pass and hide the persisted RDD from
    * [[statsFreeLocalCheckpointReleasing]]'s unpersist).
    */
  def statsFreeLocalCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    val persisted = cp.queryExecution.analyzed.collectFirst {
      case l: execution.LogicalRDD => l.rdd
    }.getOrElse(sys.error("localCheckpoint did not produce a LogicalRDD"))
    cp.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(persisted, cp.schema)
  }

  /** [[statsFreeLocalCheckpoint]] that additionally UNPERSISTS the
    * checkpoint blocks backing `release` once the new checkpoint is
    * materialized. Without this, an iterative algorithm leaks one cached
    * RDD per round into the storage layer (locally-checkpointed RDDs pin
    * their blocks until the driver GC + ContextCleaner get around to
    * them): at 10M nodes × ~26 pointer-jumping rounds that is the whole
    * heap, and the --components probe OOMed exactly this way. Only pass
    * frames produced by these checkpoint helpers that the caller will
    * NEVER touch again — a locally-checkpointed RDD has no lineage to
    * recompute from, so unpersisting it destroys the data.
    */
  def statsFreeLocalCheckpointReleasing(
      df: DataFrame, release: Seq[DataFrame]): DataFrame = {
    val out = statsFreeLocalCheckpoint(df)
    release.foreach(releaseCheckpoint)
    out
  }

  /** Unpersist the checkpoint blocks backing `df` (every LogicalRDD in
    * its plan). Same contract as the `release` parameter above: only
    * call on frames produced by these checkpoint helpers that will
    * never be read again — the data has no lineage to recompute from.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `TypeCollection` is private[sql]; this is the accepted-input set for
    * graft's vector expressions (ImplicitCastInputTypes): the four native
    * element kinds pass through UNCHANGED (no cast on the hot path); any
    * other numeric array — notably array<decimal>, which SQL literals
    * like `array(1.0, 0.0)` parse to — implicitly casts to the first
    * member, array<double>.
    */
  val vectorInputTypes: AbstractDataType = TypeCollection(
    ArrayType(DoubleType), ArrayType(FloatType),
    ArrayType(IntegerType), ArrayType(LongType))

  /** The calling thread's Spark job state, for a body run on another
    * thread: a clone of the active SparkContext's local properties and
    * the active session. `run` installs it on the running thread and
    * restores that thread's own state afterwards, as Spark's
    * `SQLExecution.withThreadLocalCaptured` does; with no active
    * SparkContext it just runs the body.
    */
  def captureThreadState(): ThreadState = {
    val sc = SparkContext.getActive
    new ThreadState(sc, sc.map(c => org.apache.spark.util.Utils
      .cloneProperties(c.getLocalProperties)).orNull, SparkSession.getActiveSession)
  }

  final class ThreadState private[GraftBridge] (sc: Option[SparkContext],
      props: Properties, session: Option[SparkSession]) {
    def run[A](body: => A): A = sc match {
      case None => body
      case Some(c) =>
        def install(p: Properties, s: Option[SparkSession]): Unit = {
          c.setLocalProperties(p)
          s.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        }
        val (prevProps, prevSession) = (c.getLocalProperties, SparkSession.getActiveSession)
        install(props, session)
        try body finally install(prevProps, prevSession)
    }
  }
}
