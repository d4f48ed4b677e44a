package graft.tools

import org.apache.spark.sql.SparkSession

/** Entry smoke: runs SparkEntry.entry and prints the row count (rows > 0
  * passes). The only main that builds a plain `SparkSession` instead of
  * [[graft.GraftSession]]: it stands in for a caller's own session, which
  * is not built through GraftSession, so `entry` must work on a plain
  * session.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    println(s"[entry-smoke] rows=${df.count()} cols=${df.columns.mkString(",")}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
