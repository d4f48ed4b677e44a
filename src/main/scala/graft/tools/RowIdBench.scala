package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** Row-tracking overhead measurement: what does carrying stable row ids
  * cost each path?
  *
  *  - read vs readWithRowIds on a FRESH table (ids = codegen'd map probe
  *    + row_index: should be scan-speed);
  *  - OPTIMIZE with tracking (materializes the id column into rewritten
  *    files) vs without;
  *  - readWithRowIds on the materialized layout (physical column read);
  *  - changesById (keyless CDF) for a DV-delete + append window.
  *
  * Usage: runMain graft.tools.RowIdBench [sfDir]
  */
object RowIdBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-rowid-bench")
    spark.sparkContext.setLogLevel("WARN")

    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))

    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[rowid-bench] $what%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def med(what: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[rowid-bench] $what%-34s ${ts.sorted.apply(1)}%.3f s (median of 3)")
    }

    val wh = java.nio.file.Files.createTempDirectory("rowid-bench").toString

    // control: no tracking
    val plain = new ManagedTable(spark, s"$wh/plain")
    plain.overwrite(ev.repartition(8))
    med("read (no tracking), count")(plain.read.count())
    timed("OPTIMIZE (no tracking)")(plain.compact(numFiles = 4))

    // tracked
    val t = new ManagedTable(spark, s"$wh/tracked")
    t.overwrite(ev.repartition(8))
    timed("enableRowTracking (metadata)")(t.enableRowTracking())
    med("read (tracked), count")(t.read.count())
    med("readWithRowIds fresh, agg ids")(
      t.readWithRowIds.agg(max(col("_graft_row_id"))).collect())
    val v0 = t.version
    timed("OPTIMIZE (materializes ids)")(t.compact(numFiles = 4))
    med("readWithRowIds materialized")(
      t.readWithRowIds.agg(max(col("_graft_row_id"))).collect())
    t.deleteVectored(col("event_id") % 10 === 3)
    t.append(ev.filter(col("event_id") % 10 === 3)
      .withColumn("value", col("value") * 2))
    timed("changesById (keyless CDF), count")(
      println(s"[rowid-bench]   feed rows = " +
        t.changesById(v0, t.version).count()))
    spark.stop()
  }
}
