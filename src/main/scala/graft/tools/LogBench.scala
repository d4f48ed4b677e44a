package graft.tools

import graft.GraftSession
import graft.table.ManagedTable

/** Metadata-scale probe: commit latency as the log grows. 150 tiny
  * appends measure p50 over the first and last 50 (a growing gap means
  * some per-commit cost is O(history) — the thing delta manifests and
  * cleanupLog exist to prevent), then cleanupLog halves the log and the
  * next 20 appends confirm the table keeps working at full speed.
  * Usage: runMain graft.tools.LogBench [commits]
  */
object LogBench {
  def main(args: Array[String]): Unit = {
    val commits = if (args.nonEmpty) args(0).toInt else 150
    val spark = GraftSession.local("graft-log-bench")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t = new ManagedTable(spark,
      java.nio.file.Files.createTempDirectory("log-bench").toString + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    val times = (1 to commits).map { i =>
      val df = Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1)
      val t0 = System.nanoTime()
      t.append(df)
      (System.nanoTime() - t0) / 1e6
    }
    def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val head = p50(times.take(50))
    val tail = p50(times.takeRight(50))
    println(f"[log-bench] commits=$commits p50 first50=$head%.1f ms " +
      f"last50=$tail%.1f ms ratio=${tail / head}%.2f")
    val horizon = t.version - 20
    val t0 = System.nanoTime()
    t.cleanupLog(horizon)
    println(f"[log-bench] cleanupLog($horizon) ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    val after = (1 to 20).map { i =>
      val df = Seq((10000L + i, "post")).toDF("id", "s").coalesce(1)
      val t1 = System.nanoTime()
      t.append(df)
      (System.nanoTime() - t1) / 1e6
    }
    println(f"[log-bench] post-cleanup p50=${p50(after)}%.1f ms " +
      f"rows=${t.read.count()}")
    spark.stop()
  }
}
