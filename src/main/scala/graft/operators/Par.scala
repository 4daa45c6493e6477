package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

import org.apache.spark.sql.GraftBridge

/** In-query overlap of INDEPENDENT store-building sections (guide §2.6:
  * Spark's scheduler happily runs several jobs at once; actions are only
  * sequential because driver code calls them sequentially). A lifecycle
  * query that builds an index store AND a vector store — or two builder
  * fleets over disjoint roots — spends most of its wall time in
  * driver-side job-launch latency at test scale and in stage tails at
  * cluster scale; overlapping the sections lets one section's tasks
  * back-fill the other's gaps in both regimes.
  *
  * INDEPENDENCE CONTRACT (spec-gated in OverlapSpec): sections must
  * touch DISJOINT store roots and exchange no values; shared engine
  * state is limited to thread-safe machinery (the synchronized artifact
  * memo, ParquetWrite's writeLock). Plain parquet store writes are safe
  * to overlap — the parquet-mr shared-factory race (see
  * ParquetWrite.writeLock) can flip physical ENCODINGS, never values,
  * and no store gate reads encodings (the one encoding-gated query,
  * q87, runs in Verify's exclusive tail). Results are therefore
  * bit-identical to the sequential order; OverlapSpec proves it on the
  * q161/q194 shapes.
  *
  * Pooled threads are reused across callers, so each section runs with
  * the Spark thread state (local properties, active session) of the
  * caller that submitted it, never that of the caller whose section
  * created the thread.
  *
  * CONCURRENCY BOUND (structural; the pool itself is unbounded): a query
  * runs at most as many sections at once as it writes, counting each
  * nested level (`Par.both(a, Par.both(b, c))` is three), and Verify
  * runs at most 4 queries at once (its pool, `SPARK_GRAFT_VERIFY_PAR`).
  * So the threads submitting Spark jobs number at most (sections per
  * query) × 4 — with today's 2–6 sections per query, 24. A query that
  * would need many more sections must run them in bounded groups
  * rather than hand them all to one call.
  */
object Par {

  // daemon threads: a section leaked by a failing partner must never
  // keep the JVM alive
  private lazy val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })

  private def submit[A](section: () => A): Future[A] = {
    val state = GraftBridge.captureThreadState()
    pool.submit(new Callable[A] { def call(): A = state.run(section()) })
  }

  /** Run `a` on the calling thread while `b` runs on the pool; return
    * both. If `a` throws, `b` is still awaited (never left racing a
    * caller that believes the query finished) before the failure
    * propagates; `b`'s own failure propagates unwrapped.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = submit(() => b)
    val ra =
      try a
      catch {
        case t: Throwable =>
          try fb.get()
          catch { case _: Throwable => () }
          throw t
      }
    val rb =
      try fb.get()
      catch { case e: ExecutionException => throw e.getCause }
    (ra, rb)
  }

  /** [[both]] for N independent sections: thunks(0) runs on the calling
    * thread, the rest on the pool; results keep input order. Every
    * section is awaited before any failure propagates; the first failing
    * section in input order wins, unwrapped.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    require(thunks.nonEmpty, "Par.all needs at least one section")
    val fs = thunks.tail.map(submit(_))
    val r0: Either[Throwable, A] =
      try Right(thunks.head()) catch { case t: Throwable => Left(t) }
    val rs = r0 +: fs.map { f =>
      try Right(f.get())
      catch {
        case e: ExecutionException => Left(e.getCause)
        case t: Throwable => Left(t)
      }
    }
    rs.map(_.fold(t => throw t, identity))
  }
}
