package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables

/** File-source Structured Streaming smoke: events land in a directory in
  * three chunks; a watermarked windowed aggregation processes them
  * incrementally into a parquet sink with checkpointing — the
  * `readStream → transform → writeStream` shape from SURVEY.md's streaming
  * mandate, driven end-to-end on real testdata.
  * Usage: runMain graft.tools.StreamSmoke [sfDir]
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local("graft-stream-smoke")
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("stream-smoke").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()

    val ev = Tables.events(spark, sfDir).cache()
    val total = ev.count()

    // chunks arrive in event-time order (id-sliced chunks would arrive
    // behind the watermark and be dropped as late — correct but not the
    // scenario modeled here)
    ev.filter(col("ts") < "2024-01-10").write.parquet(s"$inDir/c0")

    val stream = spark.readStream
      .schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$inDir/*")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    q.processAllAvailable()

    // two more chunks arrive while the query runs
    ev.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-20")
      .write.parquet(s"$inDir/c1")
    q.processAllAvailable()
    ev.filter(col("ts") >= "2024-01-20").write.parquet(s"$inDir/c2")
    q.processAllAvailable()
    q.stop()

    // append mode + watermark: only windows older than max(ts) - 2h are final
    val emitted = spark.read.parquet(outDir)
    val sunk = emitted.agg(sum("n")).head.getLong(0)
    val batches = emitted.select("window_start").distinct().count()
    println(s"[stream-smoke] input=$total emitted_events=$sunk windows=$batches " +
      s"(watermark holds back the trailing 2h as expected=${sunk < total})")
    spark.stop()
  }
}
