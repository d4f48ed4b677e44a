package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for declared queries to a directory —
  * the optimization-round evidence trail (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [query...]
  * Names resolve through [[graft.Bench.resolve]] (exact, `qNN`, unique
  * prefix); with none, dumps every declared query. The plan is the
  * unexecuted one: AQE re-plans stages at run time, so run Profile to see
  * what executed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.length > 3) args.drop(3).toSeq.map(Bench.resolve)
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
