package graft.tools

import org.apache.spark.scheduler._
import graft.{Bench, GraftSession, SparkEntry}

/** Per-stage and per-job attribution for declared queries (optimization
  * guide §1: measure first). Runs each named query with a listener and
  * prints, per run: wall seconds, job/stage/task counts, the top stages by
  * task time with their shuffle/input bytes, and a job timeline (wall span
  * per job + the DRIVER GAP preceding it — planning/commit/fs work shows
  * up as gaps, the local stand-in for "nothing is running" in the UI).
  * Each run builds the query and forces it as [[graft.Bench]] does; names
  * resolve through [[graft.Bench.resolve]].
  *
  * Usage: runMain graft.tools.Profile <sfDir> <iters> <query...>
  */
object Profile {
  final class Lst extends SparkListener {
    case class St(name: String, var ms: Long = 0, var tasks: Int = 0,
                  var inB: Long = 0, var srB: Long = 0, var swB: Long = 0,
                  var outB: Long = 0)
    case class Jb(id: Int, t0: Long, var t1: Long = 0,
                  desc: String, var stages: Int = 0)
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, St]
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Jb]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val d = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs(j.jobId) = Jb(j.jobId, j.time, desc = d,
        stages = j.stageInfos.size)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId).foreach(_.t1 = j.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val st = stages.getOrElseUpdate(si.stageId, St(si.name))
      st.ms += si.taskMetrics.executorRunTime
      st.tasks += si.numTasks
      st.inB += si.taskMetrics.inputMetrics.bytesRead
      st.srB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
      st.swB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      st.outB += si.taskMetrics.outputMetrics.bytesWritten
    }
    def report(wallStartMs: Long, wallEndMs: Long): String = {
      val top = stages.toSeq.sortBy(-_._2.ms).take(10)
      val tot = stages.valuesIterator.map(_.ms).sum
      val stLines = top.map { case (id, s) =>
        f"    stage $id%4d ${s.ms}%6d ms ${s.tasks}%4d tasks in=${s.inB / 1024}%6d KB sr=${s.srB / 1024}%5d KB sw=${s.swB / 1024}%5d KB out=${s.outB / 1024}%5d KB  ${s.name.take(60)}"
      }
      // job timeline with preceding driver gaps
      val js = jobs.values.toSeq.sortBy(_.t0)
      var prevEnd = wallStartMs
      var gapTotal = 0L
      var jobTotal = 0L
      val jLines = js.map { j =>
        val gap = math.max(0L, j.t0 - prevEnd)
        gapTotal += gap
        val span = math.max(0L, j.t1 - j.t0)
        jobTotal += span
        prevEnd = math.max(prevEnd, j.t1)
        f"    job ${j.id}%4d gap=$gap%5d ms span=$span%5d ms stages=${j.stages}%2d ${j.desc.take(70)}"
      }
      val tailGap = math.max(0L, wallEndMs - prevEnd)
      f"  jobs=${jobs.size} stages=${stages.size} taskTimeTotal=$tot ms jobSpanTotal=$jobTotal ms driverGapTotal=$gapTotal ms tailGap=$tailGap ms\n" +
        jLines.mkString("\n") + "\n" + stLines.mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.local("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)
    names.map(Bench.resolve).foreach { name =>
      (1 to iters).foreach { it =>
        val lst = new Lst
        spark.sparkContext.addSparkListener(lst)
        val t0 = System.currentTimeMillis()
        try Bench.force(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable => println(s"[profile] $name FAILED: $e") }
        val t1 = System.currentTimeMillis()
        // listener bus is async; give it a beat to drain before reporting
        Thread.sleep(400)
        spark.sparkContext.removeSparkListener(lst)
        println(f"[profile] $name iter=$it wall=${(t1 - t0) / 1000.0}%.3f s")
        println(lst.report(t0, t1))
      }
    }
    spark.stop()
  }
}
