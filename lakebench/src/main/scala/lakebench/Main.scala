package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.table.ManagedTable

/** The benchmark's JVM side: builds the session, runs one workload's set-up
  * and timed phase against the generated inputs, and writes a result file
  * (timings, per-layer figures, digests for the checks) plus output dumps.
  *
  * Arguments are `key=value` pairs; lakebench/run.py passes them.
  *   workload, in, work, out, seed, trace (0|1), checkPlans (0|1)
  *   and the workload's plan (batches, rounds, probes, ...).
  */
object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def files(root: File): Seq[File] =
    if (root.isDirectory) Option(root.listFiles).toSeq.flatten.flatMap(files)
    else if (root.isFile) Seq(root) else Nil

  /** Engine tables under a warehouse: every `<path>._log` marks one. */
  private def tables(warehouse: String): Seq[String] = {
    def walk(d: File): Seq[String] = Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory && f.getName.endsWith("._log")) Seq(f.getPath.stripSuffix("._log"))
      else if (f.isDirectory) walk(f) else Nil
    }
    walk(new File(warehouse)).sorted
  }

  private def versions(spark: SparkSession, warehouse: String): Map[String, Long] =
    tables(warehouse).map(t => t -> new ManagedTable(spark, t).version).toMap

  /** The fixed 100M-row range sum graft.Bench calibrates with, median of 3. */
  private def calibMs(spark: SparkSession): Double =
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e6
    })

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val trace = conf("trace") == "1"
    Force.checkPlans = conf.get("checkPlans").contains("1")
    val out = conf("out")
    new File(out).mkdirs()

    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = GraftSession.local("lakebench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace, s"${conf("workload")}-${conf("seed")}")
    val c = new Ctx(spark, conf, tracer)
    val w = Workload(conf("workload"), c)
    val fixtureS = c.secs(w.setup())
    val calib = calibMs(spark)

    val before = versions(spark, w.warehouse)
    val probes = if (trace) Some(new Probes(spark, tracer)) else None
    probes.foreach(_.start())
    val wallS = c.secs(w.run())
    probes.foreach(_.stop())

    val layers = probes.map(p => Layers(c, w, p, wallS, before, versions(spark, w.warehouse)))
    val phases = probes.map(p => Layers.phases(c, p))
    val attempted = c.attempted
    val failed = c.failed
    val dumpS = c.secs(w.dump())
    if (trace) tracer.writeJsonl(s"$out/spans.jsonl")
    val tableBytes = files(new File(w.warehouse)).map(_.length).sum

    val result = Map(
      "boot_s" -> bootS,
      "dump_s" -> dumpS,
      "session_s" -> sessionS,
      "fixture_s" -> fixtureS,
      "calib_ms" -> calib,
      "wall_s" -> wallS,
      "build_s" -> c.buildS,
      "batch_ms" -> c.batchMs.toSeq,
      "finish_s" -> c.finishS,
      "scan_ms" -> c.scanMs.toSeq,
      "mart_ms" -> c.martMs.toSeq,
      "meta_ms" -> c.metaMs.toSeq,
      "table_bytes" -> tableBytes,
      "attempted" -> attempted,
      "failed" -> failed,
      "answers" -> c.answers,
      "plan_checked" -> Force.checked.size,
      "plan_violations" -> Force.violations.toSeq,
      "plan_count_would_lose" -> Force.countWouldLose,
      "layers" -> layers,
      "phases" -> phases)
    Files.write(Paths.get(s"$out/result.json"),
      Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Per-layer figures of a traced run. Layer self time comes from the
  * spans; table-layer time inside pipeline, ops and sql calls comes from
  * the stack sampler and is moved from those layers to `table`.
  */
object Layers {
  def apply(c: Ctx, w: Workload, p: Probes, wallS: Double,
            before: Map[String, Long], after: Map[String, Long]): Map[String, Any] = {
    val t = p.tracer
    val sampled = p.sampler.tableNs.toMap
    def ms(ns: Long): Double = ns / 1e6
    def sampledIn(sid: Int): Long = sampled.collect { case ((s, _), ns) if s == sid => ns }.sum
    def ownNs(layer: String, name: String = null): Long =
      t.spans.iterator.filter(s => s.layer == layer && (name == null || s.name == name))
        .map(s => t.selfNs(s) - (if (layer == "table") 0L else sampledIn(s.id))).sum
    def tableCall(call: String, spanNames: String*): Double =
      ms(t.spans.iterator.filter(s => s.layer == "table" && spanNames.contains(s.name))
        .map(t.selfNs).sum +
        sampled.collect { case ((s, k), ns) if k == call && t.spans(s).layer != "table" => ns }.sum)

    val layerSelf = selfByLayer(p, _ => true)
    val wallNs = (wallS * 1e9).toLong
    val cores = c.spark.sparkContext.defaultParallelism
    val k = p.counters
    val gap = k.gapMs(p.t0Ms, p.t1Ms)
    val commits = after.map { case (tb, v) => v - before.getOrElse(tb, -1L) }.sum
    val dataFiles = after.keys.toSeq.flatMap(tb => Main.files(new File(tb)))
      .count(_.getName.endsWith(".parquet"))
    val logBytes = after.keys.toSeq.flatMap(tb => Main.files(new File(tb + "._log")))
      .map(_.length).sum
    val (kept, all) = w.filesKept
    Map(
      "pipeline.bronze_ms" -> ms(ownNs("pipeline", "bronze")),
      "pipeline.silver_ms" -> ms(ownNs("pipeline", "silver")),
      "pipeline.gold_ms" -> ms(ownNs("pipeline", "gold")),
      "pipeline.incremental_ms" -> ms(ownNs("pipeline", "incremental")),
      "pipeline.gold_refresh_ms" -> ms(ownNs("pipeline", "gold_refresh")),
      "pipeline.corpus_run_ms" -> ms(ownNs("pipeline", "corpus_run")),
      "pipeline.corpus_incremental_ms" -> ms(ownNs("pipeline", "corpus_incremental")),
      "table.merge_ms" -> tableCall("merge", "merge"),
      "table.overwrite_ms" -> tableCall("overwrite", "overwrite"),
      "table.append_ms" -> tableCall("append", "append"),
      "table.maintain_ms" -> tableCall("maintain", "maintain"),
      "table.read_plan_ms" -> tableCall("read", "read", "read_plan"),
      "table.commits" -> commits,
      "table.files_kept_ratio" -> (if (all > 0) kept.toDouble / all else 0.0),
      "table.data_files" -> dataFiles,
      "table.log_bytes" -> logBytes,
      "sql.meta_ms" -> ms(ownNs("sql", "meta")),
      "ops.classifier_ms" -> ms(ownNs("ops", "classifier")),
      "ops.ngram_lm_ms" -> ms(ownNs("ops", "ngram_lm")),
      "ops.minhash_verify_ms" -> ms(ownNs("ops", "minhash_verify")),
      "ops.bpe_ms" -> ms(ownNs("ops", "bpe")),
      "plan.analysis_ms" -> p.phases.ms("analysis"),
      "plan.optimizer_ms" -> p.phases.ms("optimization"),
      "plan.planning_ms" -> p.phases.ms("planning"),
      "spark.jobs" -> k.jobs,
      "spark.stages" -> k.stages,
      "spark.tasks" -> k.tasks,
      "spark.task_ms" -> k.taskMs,
      "spark.task_cpu_ms" -> k.taskCpuNs / 1e6,
      "spark.busy_share" -> k.taskMs.toDouble / (wallS * 1000 * cores),
      "spark.driver_gap_ms" -> gap,
      "spark.driver_gap_share" -> gap.toDouble / math.max(1L, p.t1Ms - p.t0Ms),
      "spark.shuffle_write_bytes" -> k.shuffleWrite,
      "spark.shuffle_read_bytes" -> k.shuffleRead,
      "spark.spill_bytes" -> k.spill,
      "spark.input_bytes" -> k.input,
      "spark.output_bytes" -> k.output,
      "spark.task_failures" -> k.taskFailures,
      "io.bytes_read" -> p.io._1,
      "io.bytes_written" -> p.io._2,
      "self.pipeline_ms" -> ms(layerSelf("pipeline")),
      "self.table_ms" -> ms(layerSelf("table")),
      "self.sql_ms" -> ms(layerSelf("sql")),
      "self.ops_ms" -> ms(layerSelf("ops")),
      "self.exec_ms" -> ms(layerSelf("exec")),
      "self.bench_ms" -> ms(wallNs - layerSelf.values.sum),
      "trace.spans" -> t.spans.size,
      "trace.wall_s" -> wallS)
  }

  val layers = Seq("pipeline", "table", "sql", "ops", "exec")

  /** Self time (ns) per layer over the spans `in` accepts; table time the
    * sampler found inside other layers' spans moves to `table`.
    */
  def selfByLayer(p: Probes, in: Span => Boolean): Map[String, Long] = {
    val t = p.tracer
    val sampled = p.sampler.tableNs.toMap.filter { case ((s, _), _) => in(t.spans(s)) }
    def sampledIn(sid: Int): Long = sampled.collect { case ((s, _), ns) if s == sid => ns }.sum
    layers.map { l =>
      val own = t.spans.iterator.filter(s => s.layer == l && in(s))
        .map(s => t.selfNs(s) - (if (l == "table") 0L else sampledIn(s.id))).sum
      l -> (if (l == "table") own + sampled.collect {
        case ((s, _), ns) if t.spans(s).layer != "table" => ns }.sum
      else own)
    }.toMap
  }

  /** Per phase of the timed run (build, batch, probe, mart, meta, finish):
    * wall time, task time ÷ (wall × cores), the share of wall time with no
    * Spark job running, and self time by layer. A task counts in the phase
    * it ended in.
    */
  def phases(c: Ctx, p: Probes): Seq[Map[String, Any]] = {
    val t = p.tracer
    val k = p.counters
    val cores = c.spark.sparkContext.defaultParallelism
    def epochMs(ns: Long): Long = p.t0Ms + (ns - p.t0Ns) / 1000000L
    def phaseOf(s: Span): Option[String] =
      if (s.layer == "phase") Some(s.name)
      else if (s.parent < 0) None
      else phaseOf(t.spans(s.parent))
    val byName = t.spans.filter(_.layer == "phase").groupBy(_.name).toSeq
      .sortBy(_._2.head.start)
    for ((name, ps) <- byName) yield {
      val wallMs = ps.map(s => (s.end - s.start) / 1e6).sum
      val windows = ps.map(s => (epochMs(s.start), epochMs(s.end)))
      val taskMs = k.taskEnds.iterator.collect {
        case (end, run) if windows.exists { case (a, b) => end >= a && end <= b } => run
      }.sum
      val gapMs = windows.map { case (a, b) => k.gapMs(a, b) }.sum
      val self = selfByLayer(p, s => phaseOf(s).contains(name))
      Map("phase" -> name, "count" -> ps.size, "wall_s" -> wallMs / 1e3,
        "busy_share" -> taskMs / (wallMs * cores),
        "driver_gap_share" -> gapMs / wallMs,
        "self_ms" -> layers.map(l => l -> self(l) / 1e6).toMap)
    }
  }
}
