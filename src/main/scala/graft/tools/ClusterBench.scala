package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.pipeline.Medallion
import graft.table.ManagedTable

/** A/B clustering benchmark mirroring the reference's Z-order demo
  * (deltalake.ipynb cell 26 / BASELINE.md: same 3 probe queries on a
  * clustered vs unclustered copy must return identical counts, with the
  * clustered copy scanning faster thanks to parquet row-group min/max
  * skipping). Usage: runMain graft.tools.ClusterBench [sfDir]
  */
object ClusterBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-cluster-bench")
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("cluster-bench").toString
    val m = new Medallion(spark, wh, sfDir)
    m.runBronze(); m.runSilver()

    // plain copy (16 unclustered files) vs clustered copy
    val plain = new ManagedTable(spark, s"$wh/plain")
    plain.overwrite(m.silverTxn.read.repartition(16))
    val clustered = new ManagedTable(spark, s"$wh/clustered")
    clustered.overwrite(m.silverTxn.read.repartition(16))
    clustered.cluster("transaction_date", "client_id", "is_suspicious")

    val probes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "point: date+client (ref q1)" ->
        (df => df.filter(col("transaction_date") === "1996-03-15" && col("client_id") === 123L)),
      "flag: is_suspicious (ref q2)" ->
        (df => df.filter(col("is_suspicious"))),
      "range: month+amount (ref q3)" ->
        (df => df.filter(col("transaction_date").between("1996-03-01", "1996-03-31") &&
          col("amount") > lit(1000))))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    for ((name, probe) <- probes) {
      // warm both, then measure second run (mirrors the reference's repeated scans)
      probe(plain.read).count(); probe(clustered.read).count()
      val (n1, t1) = time(probe(plain.read).count())
      val (n2, t2) = time(probe(clustered.read).count())
      val speedup = 100.0 * (t1 - t2) / t1
      println(f"[cluster-bench] $name: rows=$n1%d identical=${n1 == n2}%b " +
        f"plain=${t1}%.3fs clustered=${t2}%.3fs speedup=${speedup}%.1f%%")
    }

    // Morton-key clustering vs range+sort on the TRAILING dimension — the
    // case range+sort can't serve: lead-clustered layout gives client_id
    // (2nd col) no locality, z-order gives every column ~2^(-bits/n).
    // Row-group stats tell the story deterministically (no timing noise):
    // the tighter the per-group client_id span, the more groups a
    // client_id predicate skips.
    // explicit 32-file layouts: an unspecified-count range shuffle is
    // AQE-coalesced to ONE file at this scale, which erases all locality
    val lead = new ManagedTable(spark, s"$wh/lead")
    lead.overwrite(m.silverTxn.read
      .repartitionByRange(32, col("transaction_date"), col("client_id"))
      .sortWithinPartitions("transaction_date", "client_id"))
    val zed = new ManagedTable(spark, s"$wh/zed")
    zed.overwrite(m.silverTxn.read)
    zed.clusterZ(Seq("transaction_date", "client_id"), bits = 6, numFiles = 32)
    def medianClientSpan(path: String): Option[Long] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      val spans = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(_.getPath.getName.endsWith(".parquet")).flatMap { st =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
          // a file without a numeric client_id (or without stats) just
          // contributes no spans — the tool reports, it must not crash
          try scala.util.Try {
            val footer = rd.getFooter
            val idx = footer.getFileMetaData.getSchema.getFieldIndex("client_id")
            import scala.jdk.CollectionConverters._
            footer.getBlocks.asScala.map { b =>
              val s = b.getColumns.asScala(idx).getStatistics
              s.genericGetMax.asInstanceOf[Number].longValue -
                s.genericGetMin.asInstanceOf[Number].longValue
            }
          }.getOrElse(Seq.empty)
          finally rd.close()
        }.sorted
      if (spans.isEmpty) None else Some(spans(spans.length / 2))
    }
    val probeQ = (df: DataFrame) =>
      df.filter(col("client_id").between(100L, 110L)).count()
    (medianClientSpan(lead.path), medianClientSpan(zed.path)) match {
      case (Some(leadSpan), Some(zSpan)) =>
        val same = probeQ(lead.read) == probeQ(zed.read)
        println(f"[cluster-bench] trailing-dim row-group client_id span: " +
          f"lead-clustered=$leadSpan%d zorder=$zSpan%d identical=$same%b " +
          f"(smaller = more skippable)")
      case _ =>
        println("[cluster-bench] no client_id row-group stats found — " +
          "skipping the span report")
    }
    // …and the commit-stats skipping layer composes with the layout: the
    // same trailing-column predicate prunes FILES from the manifest alone
    val (keptLead, allLead) = lead.filesOverlapping("client_id", 100L, 110L)
    val (keptZ, allZ) = zed.filesOverlapping("client_id", 100L, 110L)
    val prunedSame = zed.readWhere("client_id", 100L, 110L).count() == probeQ(zed.read)
    println(f"[cluster-bench] manifest file skipping for client_id∈[100,110]: " +
      f"lead-clustered ${keptLead.size}%d/${allLead.size}%d kept, " +
      f"zorder ${keptZ.size}%d/${allZ.size}%d kept, pruned-read identical=$prunedSame%b")
    spark.stop()
  }
}
