package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** A/B measurement for the CDF stream's admission control: drain a
  * 20-commit backlog (events table appended in 20 slices) uncapped vs
  * capped (`maxVersionsPerTrigger`). The number that matters at scale is
  * the PEAK batch — an uncapped catch-up folds the whole backlog into one
  * diff whose join must hold both end snapshots, while the capped drain
  * bounds every batch to the admission budget. Total drain time stays
  * comparable (same net rows); peak batch rows drop by the version budget
  * ratio, and that peak is what sizes executor memory on a 1000-node
  * catch-up. Usage: runMain graft.tools.CdfBench [sfDir]
  */
object CdfBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-cdf-bench")
    spark.sparkContext.setLogLevel("WARN")

    val slices = 20
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val total = events.count()

    def buildBacklog(root: String): ManagedTable = {
      val t = new ManagedTable(spark, root)
      for (i <- 0 until slices) {
        val slice = events.filter(pmod(col("event_id"), lit(slices)) === i)
          .repartition(4)
        if (i == 0) t.overwrite(slice) else t.append(slice)
      }
      t
    }

    def drain(t: ManagedTable, label: String, maxV: Long): Unit = {
      val batchRows = scala.collection.mutable.ArrayBuffer[Long]()
      val batchSecs = scala.collection.mutable.ArrayBuffer[Double]()
      val q = t.readChangeStream(Seq("event_id"), startingVersion = 0,
          maxVersionsPerTrigger = maxV)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val t0 = System.nanoTime()
          val n = b.count()
          batchRows += n
          batchSecs += (System.nanoTime() - t0) / 1e9
          ()
        }.start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[cdf-bench] $label: batches=${batchRows.size} " +
        f"peak_batch_rows=${batchRows.max} total_rows=${batchRows.sum} " +
        f"drain_s=$wall%.2f peak_batch_s=${batchSecs.max}%.2f")
    }

    /** Same drain through the APPEND-mode source ([[graft.streaming
      * .TableStreamSource]]): batches scan only each commit's added files
      * — no snapshot-diff join at all — so for the insert-only backlog
      * this is the cheap path the CDF source cannot match (the CDF batch
      * must hash-join both end snapshots to classify changes).
      */
    def drainAppends(t: ManagedTable, label: String, maxV: Long): Unit = {
      val batchRows = scala.collection.mutable.ArrayBuffer[Long]()
      val q = t.readStreamAppends(startingVersion = 0,
          maxVersionsPerTrigger = maxV)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          batchRows += b.count(); ()
        }.start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[cdf-bench] $label: batches=${batchRows.size} " +
        f"peak_batch_rows=${batchRows.max} total_rows=${batchRows.sum} " +
        f"drain_s=$wall%.2f")
    }

    val wh = java.nio.file.Files.createTempDirectory("cdf-bench").toString
    println(s"[cdf-bench] backlog: $slices commits, $total events")
    drain(buildBacklog(s"$wh/u"), "cdf uncapped     ", -1L)
    drain(buildBacklog(s"$wh/c"), "cdf maxVersions=2", 2L)
    drainAppends(buildBacklog(s"$wh/au"), "app uncapped     ", -1L)
    drainAppends(buildBacklog(s"$wh/ac"), "app maxVersions=2", 2L)
    spark.stop()
  }
}
