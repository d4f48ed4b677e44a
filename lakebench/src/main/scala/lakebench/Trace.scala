package lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into an engine layer: name, start, end, parent, run id. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Long, var end: Long)

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out when the run ends. Disabled, `span` is a plain
  * call: the untraced run pays nothing for it.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  @volatile private var current = -1

  def currentSpan: Int = current

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), layer, name,
        System.nanoTime(), 0L)
      spans += s
      open = s :: open
      current = s.id
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        current = open.headOption.fold(-1)(_.id)
      }
    }

  /** Duration minus the time its direct children cover (children of one
    * client thread never overlap).
    */
  def selfNs(s: Span): Long =
    (s.end - s.start) - spans.iterator.filter(_.parent == s.id)
      .map(c => c.end - c.start).sum

  def writeJsonl(path: String): Unit = {
    val lines = spans.map(s =>
      Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Attributes time inside the spans to the engine's table layer without
  * touching engine code: it samples the client thread's stack and charges
  * each interval to the outermost `graft.table` frame's call (merge,
  * overwrite, append, maintain, read), i.e. the `ManagedTable` call that
  * the pipeline or the benchmark made.
  */
final class StackSampler(target: Thread, tracer: Tracer, intervalMs: Int)
    extends Thread("lakebench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  /** (span id, table call) -> sampled ns */
  val tableNs = mutable.Map[(Int, String), Long]()

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(intervalMs)
      val now = System.nanoTime()
      val weight = now - last
      last = now
      val sid = tracer.currentSpan
      if (sid >= 0) {
        val frames = target.getStackTrace
        var i = frames.length - 1
        var call: String = null
        while (i >= 0 && call == null) {
          if (frames(i).getClassName.startsWith("graft.table."))
            call = StackSampler.tableCall(frames(i).getMethodName)
          i -= 1
        }
        if (call != null) tableNs.synchronized {
          tableNs((sid, call)) = tableNs.getOrElse((sid, call), 0L) + weight
        }
      }
    }
  }

  def finish(): Unit = { running = false; join() }
}

object StackSampler {
  def tableCall(method: String): String = {
    val m = method.stripPrefix("$anonfun$")
    if (m.startsWith("merge")) "merge"
    else if (m.startsWith("overwrite")) "overwrite"
    else if (m.startsWith("append")) "append"
    else if (Seq("compact", "cluster", "optimize", "vacuum").exists(m.startsWith)) "maintain"
    else if (m.startsWith("read")) "read"
    else "other"
  }
}

/** Spark execution counters for the timed phase. */
final class SparkCounters extends SparkListener {
  var jobs, stages, tasks, taskFailures = 0L
  var taskMs, taskCpuNs, shuffleWrite, shuffleRead, spill, input, output = 0L
  private val jobStart = mutable.Map[Int, Long]()
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** (finish time in epoch ms, run time in ms) of every task */
  val taskEnds = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobSpans += ((t, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
      taskEnds += ((e.taskInfo.finishTime, m.executorRunTime))
    }
  }

  /** Wall time in [t0, t1] (epoch ms) during which no job was running. */
  def gapMs(t0: Long, t1: Long): Long = synchronized {
    var covered = 0L
    var reach = t0
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(e, t1)
      if (b > a) { covered += b - a; reach = b }
    }
    (t1 - t0) - covered
  }
}

/** Sums `QueryExecution.tracker` phases over every action in the phase. */
final class PlanPhases extends QueryExecutionListener {
  val ms = mutable.Map[String, Long]().withDefaultValue(0L)

  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => ms(phase) += s.durationMs }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** Hadoop filesystem byte counters for `file:`. */
object LocalIo {
  def bytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Everything the traced run records, started and stopped around the
  * timed phase.
  */
final class Probes(spark: SparkSession, val tracer: Tracer) {
  private val sc: SparkContext = spark.sparkContext
  val counters = new SparkCounters
  val phases = new PlanPhases
  val sampler = new StackSampler(Thread.currentThread(), tracer, 10)
  private var io0 = (0L, 0L)
  var io = (0L, 0L)
  var t0Ms, t1Ms, t0Ns = 0L

  def start(): Unit = {
    sc.addSparkListener(counters)
    spark.listenerManager.register(phases)
    io0 = LocalIo.bytes()
    sampler.start()
    t0Ms = System.currentTimeMillis()
    t0Ns = System.nanoTime()
  }

  def stop(): Unit = {
    t1Ms = System.currentTimeMillis()
    sampler.finish()
    val io1 = LocalIo.bytes()
    io = (io1._1 - io0._1, io1._2 - io0._2)
    org.apache.spark.lakebench.Bus.drain(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(phases)
  }
}
