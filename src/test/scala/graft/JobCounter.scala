package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. The block runs under a fresh
  * job group, and a SparkListener counts the job starts that carry it:
  * jobs the block starts on its own thread or on threads that inherit
  * its local properties (broadcast and subquery threads) are counted;
  * jobs another thread starts meanwhile are not.
  */
object JobCounter {
  private val GroupKey = "spark.jobGroup.id"
  private val groups = new AtomicLong

  /** `f`'s result and the number of Spark jobs it started. */
  def jobsIn[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${groups.incrementAndGet()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(GroupKey) == group) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      ListenerBusAccess.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
