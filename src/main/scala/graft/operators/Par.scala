package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

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
  */
object Par {

  // daemon threads: a section leaked by a failing partner must never
  // keep the JVM alive
  private lazy val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })

  /** Run `a` on the calling thread while `b` runs on the pool; return
    * both. If `a` throws, `b` is still awaited (never left racing a
    * caller that believes the query finished) before the failure
    * propagates; `b`'s own failure propagates unwrapped.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = pool.submit(new Callable[B] { def call(): B = b })
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
    val fs = thunks.tail.map(t =>
      pool.submit(new Callable[A] { def call(): A = t() }))
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
