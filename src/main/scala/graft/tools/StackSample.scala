package graft.tools

import graft.{Bench, GraftSession}

/** Driver-thread sampling profiler for declared queries (optimization
  * guide §7.3 "when nothing seems to be happening"): a daemon thread
  * samples the query-running thread's stack every few ms while the named
  * queries loop, then prints the most frequent collapsed stacks. The
  * driver GAPS (planning, commit fs work, schema/footer reads) happen on
  * exactly this thread, so the histogram attributes them directly. Each
  * iteration builds and forces the query as [[graft.Bench]] times it.
  *
  * Usage: runMain graft.tools.StackSample <sfDir> <iters> <query...>
  */
object StackSample {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.local("graft-stacksample")
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)

    val target = Thread.currentThread()
    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var sampling = false
    @volatile var alive = true
    val sampler = new Thread(() => {
      while (alive) {
        if (sampling) {
          val st = target.getStackTrace
          if (st.nonEmpty) {
            // collapse: leaf frame + the first "interesting" frames below
            // it (graft/spark/hadoop), capped — enough to attribute, few
            // enough to aggregate
            val frames = st.iterator.map(f =>
              s"${f.getClassName}.${f.getMethodName}").take(14).toSeq
            val leaf = frames.headOption.getOrElse("?")
            val interest = frames.filter(c =>
              c.startsWith("graft.") || c.contains("spark") ||
              c.contains("hadoop") || c.contains("parquet")).take(4)
            val key = (leaf +: interest).distinct.mkString(" <- ")
            counts.merge(key, 1L, (a, b) => a + b)
          }
        }
        Thread.sleep(3)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    names.map(Bench.resolve).foreach { name =>
      (1 to iters).foreach { _ =>
        sampling = true
        Bench.timeQuery(spark, sfDir, name)
        sampling = false
      }
    }
    alive = false
    Thread.sleep(50)
    import scala.jdk.CollectionConverters._
    val total = counts.values.asScala.map(_.longValue).sum
    println(s"[stacksample] total=$total samples")
    counts.asScala.toSeq.sortBy(-_._2).take(40).foreach { case (k, v) =>
      println(f"[stacksample] $v%5d (${100.0 * v / total}%4.1f%%)  $k")
    }
    spark.stop()
  }
}
