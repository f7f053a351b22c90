package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, through a listener registered
  * for the counter's lifetime (close it to remove the listener). */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val jobs = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }
  spark.sparkContext.addSparkListener(listener)

  /** The listener bus is async: poll until the count survives two
    * consecutive 200ms windows unchanged (one delivery-gap window alone
    * undercounts), bounded at 10s so a never-idle bus fails the test
    * instead of hanging it. */
  private def drain(): Int = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var stable = 0
    var prev = jobs.get()
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = jobs.get()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
    if (stable < 2) throw new AssertionError("listener bus never quiesced within 10s")
    prev
  }

  /** Jobs started while `body` ran. */
  def apply(body: => Unit): Int = {
    drain(); jobs.set(0); body; drain()
  }

  override def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
