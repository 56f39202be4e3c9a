package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.scheduler.SparkListenerInterface

/** Harness-only bridge to two `private[spark]` members of a SparkContext
  * (hence this package): the listener bus and the ContextCleaner. Both
  * deliver asynchronously; the drains here let a harness wait for them
  * outside its timed regions instead of sleeping. No cleanup is initiated
  * from here beyond the `System.gc()` that starts a cleaner drain. */
object ContextShim {

  /** Block until every event posted to `sc`'s listener bus so far has been
    * handled by every listener; a TimeoutException after `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The listeners of class `T` registered on `sc`'s listener bus. */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  // completed-cleanup counters, one per context; weak keys, so a stopped
  // context is not kept reachable from here
  private val cleanerEvents = new java.util.WeakHashMap[SparkContext, AtomicLong]()

  /** `sc`'s counter of COMPLETED cleanup events (each fires after the
    * block/shuffle/broadcast removal finished), attaching the counting
    * listener on first use; None when the cleaner is disabled
    * (spark.cleaner.referenceTracking=false): no async cleanup to drain. */
  private def cleanerCounter(sc: SparkContext): Option[AtomicLong] =
    cleanerEvents.synchronized {
      sc.cleaner.map { c =>
        Option(cleanerEvents.get(sc)).getOrElse {
          val n = new AtomicLong
          c.attachListener(new CleanerListener {
            override def rddCleaned(rddId: Int): Unit = n.incrementAndGet()
            override def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet()
            override def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet()
            override def accumCleaned(accId: Long): Unit = n.incrementAndGet()
            override def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet()
          })
          cleanerEvents.put(sc, n)
          n
        }
      }
    }

  /** Bounded cleaner drain. localCheckpoint- and broadcast-heavy work
    * leaves weakly referenced shuffle files, blocks and broadcasts whose
    * removal runs whenever a LATER GC collects the references, i.e. inside
    * whichever measured query runs next (a plain `System.gc()` between
    * bench queries made the suite 18% worse: the cleaner then drained
    * during the next timed query). So trigger the collection AND wait for
    * the cleaner to go quiet: no completed cleanup for 120 ms, capped at
    * 1.5 s so a wedged cleaner cannot stall the caller. The ContextCleaner
    * has no "empty" primitive, hence the quiet-window poll. */
  def drainCleaner(sc: SparkContext): Unit = cleanerCounter(sc).foreach { n =>
    System.gc()
    val t0 = System.nanoTime()
    var last = n.get
    var lastChange = t0
    while ((System.nanoTime() - t0) < 1.5e9 && (System.nanoTime() - lastChange) < 120e6) {
      Thread.sleep(20)
      val c = n.get
      if (c != last) { last = c; lastChange = System.nanoTime() }
    }
  }
}
