package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** End-to-end smoke of the table-maintenance surface (SURVEY.md §2.9) on
  * real testdata: bootstrap a managed table, MERGE a delta batch, compact,
  * cluster, introspect. Mirrors the reference's incremental flow
  * (deltalake.ipynb cells 15/17/19/25).
  */
object MaintainSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-maintain-smoke")
    spark.sparkContext.setLogLevel("WARN")

    val dir = "/root/testdata/sf0.001"
    val warehouse = java.nio.file.Files.createTempDirectory("maintain-smoke").toString
    val ev = Tables.events(spark, dir).withColumn("date", to_date(col("ts")))

    // bronze bootstrap: first 20 days, partitioned by date
    val t = new ManagedTable(spark, s"$warehouse/silver/events")
    t.overwrite(ev.filter(col("ts") < "2024-01-20"), Seq("date"))
    val n0 = t.read.count()

    // MERGE upsert a delta batch: days 15.. re-delivered with doubled value
    val batch = ev.filter(col("ts") >= "2024-01-15")
      .withColumn("value", col("value") * 2)
    t.merge(batch, Seq("event_id"), Seq("date"))
    val n1 = t.read.count()
    val total = ev.count()
    println(s"[maintain-smoke] bootstrap=$n0 after_merge=$n1 expected=$total " +
      s"match=${n1 == total}")

    // updated rows really took the source value
    val doubled = t.read.filter(col("ts") >= "2024-01-15").agg(sum("value")).head.getDouble(0)
    val orig = ev.filter(col("ts") >= "2024-01-15").agg(sum("value")).head.getDouble(0)
    println(s"[maintain-smoke] merged_sum=$doubled orig_sum=$orig ratio=${doubled / orig}")

    val filesBefore = t.detail().head.getAs[Long]("num_files")
    t.compact(2)
    val filesAfter = t.detail().head.getAs[Long]("num_files")
    val n2 = t.read.count()
    println(s"[maintain-smoke] compact: files $filesBefore -> $filesAfter rows_kept=${n2 == total}")

    t.cluster("event_type", "user_id")
    val n3 = t.read.count()
    println(s"[maintain-smoke] cluster: rows_kept=${n3 == total} " +
      s"probe=${t.read.filter(col("event_type") === "click").count()}")
    spark.stop()
  }
}
