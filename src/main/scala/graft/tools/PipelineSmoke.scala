package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.pipeline.Medallion

/** End-to-end drive of the medallion pipeline on real testdata — the
  * "switch from the reference" user journey (bronze → silver → gold →
  * incremental → maintain), printing the reconciliation audit.
  * Usage: runMain graft.tools.PipelineSmoke [sfDir]
  */
object PipelineSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local("graft-pipeline-smoke")
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("medallion-smoke").toString
    val m = new Medallion(spark, wh, sfDir)
    val t0 = System.nanoTime()
    m.runBronze(); m.runSilver(); m.runGold()
    println(s"[pipeline-smoke] initial build: ${(System.nanoTime() - t0) / 1e9}%.1f".replace("%.1f", "s"))
    m.audit().toSeq.sortBy(_._1).foreach { case (k, v) => println(s"[pipeline-smoke] $k = $v") }

    // incremental re-delivery (dup keys) then maintenance
    m.runIncremental(
      Tables.lineitem(spark, sfDir).filter(col("l_orderkey") % 5 === 0),
      Tables.orders(spark, sfDir))
    m.runMaintain()
    val after = m.audit()
    println(s"[pipeline-smoke] after incremental+maintain: silver=${after("silver_transactions")} " +
      s"files=${m.silverTxn.detail().head.getAs[Long]("num_files")}")
    // partition-pruned probe
    val probe = m.silverTxn.read.filter(col("ship_month") === "1996-03")
    println(s"[pipeline-smoke] pruned probe 1996-03 rows=${probe.count()}")
    spark.stop()
  }
}
