package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. Deterministic
  * without sleeps: a marker job runs after the block, and listener events
  * arrive in order, so once the marker's start is seen every earlier
  * start has been counted. Fails when the marker never reaches the
  * listener, rather than return a partial count.
  */
object JobCounter {
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val marker = "graft-job-counter-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.job.description") == marker)) seen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      if (!seen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "the marker job never reached the listener; the job count would be partial")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
