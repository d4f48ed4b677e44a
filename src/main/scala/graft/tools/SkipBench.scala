package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** A/B measurement for the sidecar skipping paths beyond single-column
  * min/max: conjunctive multi-predicate pruning (`readWhereAll`), null-count
  * pruning (`readWhereNull`) and the metadata-only `countFast()`. Each probe
  * reports files kept vs total (the number that scales — at 100 TB pruned
  * files are pruned object-store GETs) plus warm wall-clock vs the
  * full-scan filter, with result equality asserted, and the Spark jobs
  * each read launched while planning (before its action runs).
  * Usage: runMain graft.tools.SkipBench [sfDir]
  */
object SkipBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-skip-bench")
    spark.sparkContext.setLogLevel("WARN")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // Spark jobs started while `plan` builds its frame, counted in an
    // untimed call after the timed runs. A marker job follows `plan`, and
    // listener events arrive in order, so once the marker's start is seen
    // every earlier start has been counted.
    val planJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.atomic.AtomicReference(
      new java.util.concurrent.CountDownLatch(1))
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.job.description") == "skip-bench-marker"))
          markerSeen.get.countDown()
        else planJobs.incrementAndGet()
    })
    def planJobsOf(plan: => DataFrame): Int = {
      markerSeen.set(new java.util.concurrent.CountDownLatch(1))
      planJobs.set(0)
      plan
      spark.sparkContext.setJobDescription("skip-bench-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      if (!markerSeen.get.await(60, java.util.concurrent.TimeUnit.SECONDS))
        sys.error("skip-bench: the marker job never reached the listener; " +
          "the planning job count would be partial")
      planJobs.get()
    }
    val wh = java.nio.file.Files.createTempDirectory("skip-bench").toString

    // ---- conjunctive range pruning on a Z-clustered lineitem ----
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_linenumber"),
      to_date(col("l_shipdate")).as("ship_date"),
      col("l_extendedprice").cast("double").as("price"))
    val t = new ManagedTable(spark, s"$wh/li")
    t.overwrite(li.repartition(16))
    t.clusterZ(Seq("ship_date", "price"), numFiles = 16)
    val preds = Seq(
      ("ship_date", java.sql.Date.valueOf("1996-01-01"): Any,
        java.sql.Date.valueOf("1996-06-30"): Any),
      ("price", 50000.0: Any, 90000.0: Any))
    val keptD = t.filesOverlapping("ship_date", preds(0)._2, preds(0)._3)._1.toSet
    val (keptP, all) = t.filesOverlapping("price", preds(1)._2, preds(1)._3)
    val both = keptD intersect keptP.toSet
    t.readWhereAll(preds).count(); t.read.count() // warm
    def full = t.read.filter(
      col("ship_date").between(preds(0)._2, preds(0)._3) &&
      col("price").between(50000.0, 90000.0))
    val (n1, t1) = time(t.readWhereAll(preds).count())
    val (n2, t2) = time(full.count())
    val j1 = planJobsOf(t.readWhereAll(preds))
    val j2 = planJobsOf(full)
    println(f"[skip-bench] conjunctive: files date=${keptD.size}%d price=${keptP.size}%d " +
      f"both=${both.size}%d of ${all.size}%d; rows=$n1%d identical=${n1 == n2}%b " +
      f"pruned=${t1}%.3fs (plan jobs $j1%d) full=${t2}%.3fs (plan jobs $j2%d)")

    // ---- null-count pruning on a nullable derived column ----
    val ev = Tables.events(spark, sfDir).select(col("event_id"),
      when(col("value") < 5.0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"))
    val tn = new ManagedTable(spark, s"$wh/ev")
    tn.overwrite(ev.repartitionByRange(16, col("v")))
    val (keptN, allN) = tn.filesWithNulls("v")
    tn.readWhereNull("v").count(); tn.read.count() // warm
    val (m1, u1) = time(tn.readWhereNull("v").count())
    val (m2, u2) = time(tn.read.filter(col("v").isNull).count())
    val k1 = planJobsOf(tn.readWhereNull("v"))
    val k2 = planJobsOf(tn.read.filter(col("v").isNull))
    println(f"[skip-bench] null-count: files=${keptN.size}%d of ${allN.size}%d; " +
      f"rows=$m1%d identical=${m1 == m2}%b pruned=${u1}%.3fs (plan jobs $k1%d) " +
      f"full=${u2}%.3fs (plan jobs $k2%d)")

    // ---- metadata-only count vs a scan count ----
    val (c1, v1) = time(t.countFast())
    val (c2, v2) = time(t.read.count())
    println(f"[skip-bench] countFast: rows=$c1%d identical=${c1 == c2}%b " +
      f"meta=${v1}%.3fs scan=${v2}%.3fs")

    spark.stop()
  }
}
