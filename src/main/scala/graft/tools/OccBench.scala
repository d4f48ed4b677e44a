package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** A/B benchmark for optimistic concurrency: N writers each append a
  * lineitem slice to ONE table, (a) through the fully-locked `append`
  * with a lease queue (each writer's whole Spark write serializes) and
  * (b) through `appendOptimistic` (data writes overlap; only the
  * rename+manifest commits serialize). The at-scale claim under test:
  * wall-clock for concurrent ingest tracks ONE write plus N tiny commits
  * under OCC, versus the SUM of all writes under the lease queue — the
  * gap grows with data size, so the local measurement is the floor of
  * the 100 TB win.
  * Usage: runMain graft.tools.OccBench [sfDir] [writers]
  */
object OccBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val writers = if (args.length > 1) args(1).toInt else 4
    val spark = GraftSession.local("graft-occ-bench")
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("occ-bench").toString
    val li = Tables.lineitem(spark, sfDir).cache()
    val total = li.count()

    def slice(w: Int) = li.filter(col("l_orderkey") % writers === w)

    def runRace(name: String, path: String)(op: (ManagedTable, Int) => Unit): Double = {
      new ManagedTable(spark, path)
        .overwrite(li.limit(0)) // founding empty snapshot, schema fixed
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val t0 = System.nanoTime()
      try Await.result(Future.sequence((0 until writers).map { w =>
        Future { op(new ManagedTable(spark, path), w) }
      }), 600.seconds)
      finally pool.shutdown()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = new ManagedTable(spark, path).read.count()
      require(rows == total, s"$name lost rows: $rows != $total")
      println(f"[occ-bench] $name%-12s writers=$writers $sec%8.2f s")
      sec
    }

    // (a) lease queue: every writer's full Spark write inside the lease
    val locked = runRace("lease-queue", s"$wh/locked") { (t, w) =>
      t.withLeaseWait(600000L).append(slice(w))
    }
    // (b) OCC: stages overlap, commits queue for milliseconds
    val occ = runRace("optimistic", s"$wh/occ") { (t, w) =>
      t.appendOptimistic(slice(w))
    }
    println(f"[occ-bench] speedup ${locked / occ}%.2fx " +
      f"(lease-queue $locked%.2f s -> optimistic $occ%.2f s)")
    spark.stop()
  }
}
