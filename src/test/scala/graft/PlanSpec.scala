package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan guards: the scale properties argued in README must hold in
  * the actual executed plans, not just in intent — regressions here are
  * invisible to result-correctness tests.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.count()
    df.queryExecution.executedPlan.toString
  }

  test("q01: dim broadcast by hint; fact-fact join never broadcasts an SF-proportional side") {
    // Disable size-based auto-broadcast to see the plan Catalyst would pick
    // at scale: the only BroadcastHashJoin left must come from the explicit
    // dim hint (customer); lineitem ⋈ orders must be a shuffle SMJ.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q01_client_stats")(spark, dir)
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed gold layout: fact-fact join has zero join-side exchanges") {
    val wh = tmpDir("plan-bucketed")
    val m = new graft.pipeline.Medallion(spark, wh, dir)
    m.runBronze()
    spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val marts = m.runGoldBucketed(buckets = 4)
      val df = marts("client_stats")
      df.count() // exchanges are inserted by EnsureRequirements → executedPlan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly one hash exchange: the groupBy; the join itself is co-located
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected only the groupBy exchange, got $exchanges:\n$plan")
      // results identical to the unbucketed mart
      val plain = SparkEntry.queries("q01_client_stats")(spark, dir)
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    }
  }

  test("partitioned silver table: month filter prunes partitions at the scan") {
    val wh = tmpDir("plan-prune")
    val m = new graft.pipeline.Medallion(spark, wh, dir)
    m.runBronze(); m.runSilver()
    val months = m.silverTxn.read.select("ship_month").distinct()
      .orderBy("ship_month").limit(1).collect().map(_.getString(0))
    val df = m.silverTxn.read.filter(col("ship_month") === months.head)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*ship_month[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, plan)
  }

  test("q12's selective fact-fact join gets a runtime bloom filter at scale settings") {
    // At 100 TB the suspicious-lineitem filter is selective and orders is a
    // full fact scan — Catalyst's InjectRuntimeFilter should prune the
    // orders side with a bloom filter built from the filtered side. Forced
    // shuffle-join + permissive thresholds emulate the at-scale decision.
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100GB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val df = SparkEntry.queries("q12_fraud_analysis")(spark, dir)
      assert(df.queryExecution.optimizedPlan.toString.contains("might_contain"),
        df.queryExecution.optimizedPlan.toString)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q03 filter predicates reach the parquet scan") {
    val df = SparkEntry.queries("q03_filter_range")(spark, dir)
    df.count()
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), GreaterThanOrEqual(l_shipdate")
      || scan.contains("GreaterThan(l_quantity,45.0)"), scan)
  }

  test("q62 ntile has no single-partition window over the fact table") {
    // every Window node in the executed plan must be partitioned by the
    // range-partition id — an unpartitioned Window.orderBy over orders
    // would funnel the whole SF-proportional table through one task
    val df = SparkEntry.queries("q62_ntile")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty, plan) // the rank window is still a window
    windowLines.foreach(l => assert(l.contains("__pid"),
      s"unpartitioned window in q62 plan:\n$l"))
  }

  test("q15 top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("q15_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("scans prune columns to the projection") {
    val df = SparkEntry.queries("q01_client_stats")(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // lineitem has 11 columns; the mart needs exactly 2 from it
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"), plan)
  }

  test("file-skipping contamination screen: the skipped files' text " +
      "bytes are never read — measured in task input bytes, not plan " +
      "shape") {
    import spark.implicits._
    // the skipped file carries ~1.8 MB of INCOMPRESSIBLE text (distinct
    // pseudo-random tokens — repeated filler would snappy away): if any
    // probe or the zeros path touches the text column, bytesRead jumps
    // by the payload; the id column + footer are a few KB
    val rnd = new scala.util.Random(42)
    val bigText =
      Seq.fill(600000)(rnd.alphanumeric.take(8).mkString).mkString(" ")
    val t = new graft.table.ManagedTable(spark, tmpDir("plan-shskip") + "/t")
    t.overwrite(Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text").coalesce(1))
    t.append(Seq((10L, bigText)).toDF("doc_id", "text").coalesce(1))
    // index build MAY read text; the row-count auto-size heuristic
    // (rows × 32) would be swamped by a 600k-shingle single-row file
    // (overloaded bloom → always "maybe" → skipping silently erodes,
    // as the scaladoc warns), so size it explicitly
    t.addShingleBloomIndex("text", n = 3, expectedItemsPerFile = 700000)
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    // meter: the process-wide read-syscall counter (/proc/self/io
    // rchar) — local[n] is one JVM, suites run sequentially (Test/fork,
    // testForkedParallel off), so the delta across the body bounds the
    // workload's real reads. Neither Spark task inputMetrics nor Hadoop
    // FS statistics see local parquet column reads (parquet-java goes
    // through NIO for file://); rchar sees every syscall.
    def rchar(): Long =
      scala.io.Source.fromFile("/proc/self/io").getLines()
        .find(_.startsWith("rchar")).get.split(":")(1).trim.toLong
    def measured(body: => Unit): Long = {
      val b0 = rchar(); body; rchar() - b0
    }
    // build probes (version pin, bloom-sidecar reads, null probe,
    // straddler semi-join, the ONE id-only pass over the skipped side)
    // and the returned plan's execution, metered separately: the build
    // legitimately reads the two ~850 KB bloom sidecars; the execution
    // must touch nothing but the kept file + the checkpointed id set
    var df: org.apache.spark.sql.DataFrame = null
    val building = measured {
      df = graft.ops.Dedup.contaminationIndexed(
        t, bench, "doc_id", "text", n = 3)
    }
    val executing = measured { df.count() }
    // control: the plain screen reads every text byte — the same corpus
    // costs the ~5.4 MB payload (×2 index passes), proving the meter
    val full = measured {
      graft.ops.Dedup.contamination(t.read, bench, "doc_id", "text", 3)
        .count()
    }
    assert(full > 9000000,
      s"control screen should read the ~5.4 MB payload twice, read $full B")
    assert(building + executing < 6000000,
      s"indexed screen read ${building + executing} B (build $building " +
        s"+ exec $executing) — the skipped file's text column leaked " +
        s"into a scan (control: $full B)")
    assert(executing < 1500000,
      s"executing the returned plan read $executing B — the zeros path " +
        "must serve from the checkpointed id set, not parquet")
    // plan shape: the zeros branch serves from the build-time
    // checkpointed id set (Scan ExistingRDD), and no parquet scan in
    // the EXECUTED plan re-reads ids — the one id pass ran at build
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"zeros path is not the checkpointed id set:\n$plan")
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.takeWhile(_ != ':').trim).toSeq)
      .toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("text")),
      s"a parquet re-scan survives in the zeros plan: $scans")
  }

  test("PCA projection is a shuffle-free narrow map over the store") {
    // the basis enters as literals (driver-side eigensolve of the d×d
    // covariance); the projection itself must stay scan → project →
    // generate with NO Exchange — at 100 TB an exchange here would move
    // the whole embedding store. (q108 adds a final ORDER BY for the
    // deterministic gate; assert on the operator itself.)
    val df = graft.ops.Embeddings.pcaProject(
      graft.model.Tables.embeddings(spark, dir), "vec_id", "embedding", dim = 64, k = 4)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("q106 salted join degrades to a shuffle SMJ at scale, never a fact broadcast") {
    // at-scale plan shape (auto-broadcast off, q01's discipline): the
    // salted join carries no hint, so it must become a shuffle SMJ on
    // (key, salt) — the salt column is what spreads a hot key over
    // reducers; any broadcast here would be size-based only
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q106_salted_join")(spark, dir)
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("__salt"), plan) // join key includes the salt
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("publishCatalog stats flip a filtered join side to broadcast under CBO") {
    // metadata-only ANALYZE → catalog statistics: with exact rowCount +
    // column min/max from the commit sidecar, CBO estimates the filtered
    // fact slice at ~0.5% of the table, dropping its size below the
    // broadcast threshold; the file-size heuristic alone (no stats, filter
    // doesn't shrink sizeInBytes) keeps both sides big → shuffle SMJ. At
    // 100 TB this flip is shipping a few MB instead of shuffling a fact.
    val wh = tmpDir("plan-catstats")
    def wide(n: Long) = spark.range(0L, n).selectExpr(
      "id as k", "id % 997 as v", "repeat('x', 24) as pad")
    val fact = new graft.table.ManagedTable(spark, s"$wh/fact")
    fact.overwrite(wide(200000L).repartition(4))
    val other = new graft.table.ManagedTable(spark, s"$wh/other")
    other.overwrite(wide(100000L).repartition(4))
    spark.sql("DROP TABLE IF EXISTS graft_cat_fact")
    fact.publishCatalog("graft_cat_fact", computeNdv = true)
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevC = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      // catalog stats are attached and exact
      val rel = spark.table("graft_cat_fact").queryExecution.optimizedPlan
      assert(rel.stats.rowCount.contains(BigInt(200000)), rel.stats)
      // without stats: same data via the path scan — filter doesn't shrink
      // the estimate, both sides exceed the threshold, shuffle SMJ
      val noStats = fact.read.filter(col("k") < 1000L)
        .join(other.read, "k")
      assert(noStats.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
        noStats.queryExecution.sparkPlan.toString)
      // with stats: the filtered catalog side estimates tiny → broadcast
      val withStats = spark.table("graft_cat_fact").filter(col("k") < 1000L)
        .join(other.read, "k")
      val plan = withStats.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      // and the published relation still returns the right rows
      assert(withStats.count() == 1000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.cbo.enabled", prevC)
      spark.sql("DROP TABLE IF EXISTS graft_cat_fact")
    }
  }

  test("q142 metadata-only SQL aggregates plan ZERO file scans and match the scan exactly") {
    import spark.implicits._
    // scan-truth values FIRST, with no rule anywhere near the session
    val wh = tmpDir("plan-moa")
    val t = new graft.table.ManagedTable(spark, s"$wh/li")
    t.overwrite(spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"),
        to_date(col("l_shipdate")).as("ship_date")))
    t.read.createOrReplaceTempView("plan_moa")
    val sql = """SELECT COUNT(*) AS n_rows,
                        MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
                        MIN(ship_date) AS min_date, MAX(ship_date) AS max_date
                 FROM plan_moa"""
    val scanTruth = spark.sql(sql).collect().head
    // the rule installed for exactly this scope
    val rule = new graft.sql.MetadataOnlyAggregates(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      val df = spark.sql(sql)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("FileScan") && !physical.contains("Scan parquet"),
        s"metadata-only aggregate still scans files:\n$physical")
      assert(physical.contains("LocalTableScan"), physical)
      assert(df.collect().head.toSeq == scanTruth.toSeq,
        "metadata answers must equal the scan's bit-exactly")
      // a DV-carrying table must FALL THROUGH to the scan (the DV gate)
      // and still answer correctly
      val t2 = new graft.table.ManagedTable(spark, s"$wh/dv")
      t2.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
      t2.deleteVectored(col("k") === 2L)
      t2.read.createOrReplaceTempView("plan_moa_dv")
      val dv = spark.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS mn, MAX(k) AS mx FROM plan_moa_dv")
      assert(dv.queryExecution.executedPlan.toString.contains("Scan"),
        "DV table should not be served from metadata")
      assert(dv.collect().head.toSeq == Seq(2L, 1L, 3L))
      // even a RAW (DV-unaware) scan of the same root must not rewrite:
      // its COUNT legitimately includes the deleted row
      val raw = spark.read.parquet(s"$wh/dv")
      raw.createOrReplaceTempView("plan_moa_raw")
      val rawCnt = spark.sql("SELECT COUNT(*) AS n FROM plan_moa_raw")
      assert(rawCnt.collect().head.getLong(0) == 3L,
        "raw scan count must keep serving physical rows under the DV gate")
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
  }

  test("COUNT(col) serves from the null-count stats fold with ZERO file " +
      "scans; a schema-evolved table (file predating the column) falls through") {
    import spark.implicits._
    val wh = tmpDir("plan-moa-nnc")
    val t = new graft.table.ManagedTable(spark, s"$wh/nn")
    t.overwrite(Seq((1L, Some("a")), (2L, None), (3L, Some("c")),
      (4L, None)).toDF("k", "v"))
    t.read.createOrReplaceTempView("plan_moa_nn")
    val sql = "SELECT COUNT(v) AS n_v, COUNT(*) AS n FROM plan_moa_nn"
    val scanTruth = spark.sql(sql).collect().head
    assert(scanTruth.toSeq == Seq(2L, 4L))
    val rule = new graft.sql.MetadataOnlyAggregates(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      val df = spark.sql(sql)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("FileScan") && !physical.contains("Scan parquet"),
        s"COUNT(col) still scans files:\n$physical")
      assert(physical.contains("LocalTableScan"), physical)
      assert(df.collect().head.toSeq == scanTruth.toSeq)
      // schema evolution: the first file predates column `w`, so its
      // rows read as null WITHOUT any stats entry — the fold suppresses
      // the null count and the rewrite must decline (a metadata answer
      // here would require claiming nulls it cannot prove)
      val t2 = new graft.table.ManagedTable(spark, s"$wh/evo")
      t2.overwrite(Seq((1L, "a")).toDF("k", "v"))
      t2.addColumns("w BIGINT")
      t2.append(Seq((2L, "b", 20L)).toDF("k", "v", "w"))
      t2.read.createOrReplaceTempView("plan_moa_evo")
      val evo = spark.sql("SELECT COUNT(w) AS n_w FROM plan_moa_evo")
      assert(evo.queryExecution.executedPlan.toString.contains("Scan"),
        "schema-evolved COUNT(col) must fall through to the scan")
      assert(evo.collect().head.getLong(0) == 1L)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
  }

  test("q143 partition-column metadata aggregates plan ZERO file scans and " +
      "match the scan exactly") {
    import spark.implicits._
    val wh = tmpDir("plan-moa-part")
    val t = new graft.table.ManagedTable(spark, s"$wh/p")
    t.overwrite(Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "C"),
      (6L, "C")).toDF("k", "status"), Seq("status"))
    t.read.createOrReplaceTempView("plan_moa_part")
    val grpSql = """SELECT status, COUNT(*) AS n FROM plan_moa_part
                    GROUP BY status ORDER BY status"""
    val dstSql = "SELECT DISTINCT status FROM plan_moa_part ORDER BY status"
    val mmSql = "SELECT MIN(status) AS mn, MAX(status) AS mx FROM plan_moa_part"
    val truth = (spark.sql(grpSql).collect().toSeq,
      spark.sql(dstSql).collect().toSeq, spark.sql(mmSql).collect().toSeq)
    val rule = new graft.sql.MetadataOnlyAggregates(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      for ((sql, want) <- Seq((grpSql, truth._1), (dstSql, truth._2),
          (mmSql, truth._3))) {
        val df = spark.sql(sql)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
          s"partition metadata aggregate still scans files:\n$plan")
        assert(df.collect().toSeq == want,
          s"metadata answers must equal the scan's for: $sql")
      }
      // a NON-partition grouping column must fall through to the scan
      val bad = spark.sql(
        "SELECT k, COUNT(*) AS n FROM plan_moa_part GROUP BY k")
      assert(bad.queryExecution.executedPlan.toString.contains("Scan"),
        "non-partition grouping must not be served from metadata")
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
  }

  test("q142 rewrite declines when the dir diverges from the log (stray file)") {
    import spark.implicits._
    val wh = tmpDir("plan-moa-stray")
    val t = new graft.table.ManagedTable(spark, s"$wh/s")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1))
    t.read.createOrReplaceTempView("plan_moa_stray")
    val sql = "SELECT COUNT(*) AS n, MAX(k) AS mx FROM plan_moa_stray"
    val rule = new graft.sql.MetadataOnlyAggregates(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      // consistent dir: the rewrite fires AND populates the answer memos
      val before = spark.sql(sql)
      assert(before.queryExecution.executedPlan.toString
        .contains("LocalTableScan"))
      assert(before.collect().head.toSeq == Seq(3L, 3L))
      // an out-of-band writer drops a stray parquet file into the dir:
      // neither the version nor the manifest signature moves, so ONLY a
      // per-rewrite dir↔log probe can notice — the previously cached
      // metadata COUNT must not keep serving
      val dataDir = new java.io.File(s"$wh/s")
      val part = dataDir.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(dataDir, "stray-dup.parquet").toPath)
      // fresh scan (the old view's file index listed before the stray);
      // the rule sees the same root + version + cached answers and must
      // STILL decline because the per-rewrite dir probe fails
      spark.read.parquet(s"$wh/s").createOrReplaceTempView("plan_moa_stray")
      val after = spark.sql(sql)
      val plan = after.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"),
        s"diverged dir must fall through to the scan:\n$plan")
      assert(after.collect().head.toSeq == Seq(6L, 3L),
        "the scan's answer (stray rows included) is the correct one here")
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
  }

  /** Operators (by node name, with multiplicity) of `result` that the
    * plan actually run, `timed`, does not contain.
    */
  private def lostOperators(result: LogicalPlan, timed: LogicalPlan): Map[String, Int] = {
    def ops(p: LogicalPlan): Map[String, Int] =
      p.collect { case n => n.nodeName }.groupMapReduce(identity)(_ => 1)(_ + _)
    val have = ops(timed)
    ops(result).collect {
      case (op, n) if have.getOrElse(op, 0) < n => op -> (n - have.getOrElse(op, 0))
    }
  }

  /** The optimized plan of the write [[Bench.force]] runs on `df`. */
  private def forcedPlan(df: DataFrame): LogicalPlan = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) seen.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Bench.force(df)
      // listener events arrive asynchronously
      val qe = seen.poll(120, TimeUnit.SECONDS)
      assert(qe != null, "the forced write reported no execution")
      qe.optimizedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("Bench.force keeps every operator of the result plan; count() does not") {
    val names = Seq("q01_client_stats", "q21_scalar_string",
      "q25_ngram_jaccard", "q30_text_quality", "q31_langid",
      "q97_trigram_fluency", "q132_gopher_rules", "q153_lm_stupid_backoff")
    val countLoses = Set("q21_scalar_string", "q30_text_quality",
      "q153_lm_stupid_backoff")
    val failures = names.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val result = df.queryExecution.optimizedPlan
      val lost = lostOperators(result, forcedPlan(df))
      // negative control: the comparison does catch a plan that drops work
      val countLost = lostOperators(result,
        df.groupBy().count().queryExecution.optimizedPlan)
      (if (lost.nonEmpty) Seq(s"$name: force lost $lost") else Nil) ++
        (if (countLoses(name) && countLost.isEmpty)
          Seq(s"$name: count() lost nothing, the control cannot fail")
        else Nil)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Nodes of `plan` at or below a repartition that evaluate a word split
    * or an array_distinct — the annotation work a spread exists to run
    * above its exchange.
    */
  private def annotationBelowSpread(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    plan.collect {
      case s @ (_: Repartition | _: RepartitionByExpression) => s
    }.flatMap(_.collect {
      case n if n.expressions.exists(_.exists {
        case _: StringSplit | _: ArrayDistinct => true
        case _ => false
      }) => n.nodeName
    })
  }

  test("the corpus spread is a plan boundary: the quality filter stays above " +
      "it, and sizing it runs no Spark job") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("plan-spread").toString + "/docs"
    (1 to 40).map(i => (i.toLong, s"doc $i " + ("word " * (i % 7 + 1)) + s"w$i"))
      .toDF("id", "text").coalesce(1).write.parquet(src)
    val docs = spark.read.parquet(src)
    val pipe = new graft.pipeline.CorpusPipeline(spark,
      java.nio.file.Files.createTempDirectory("plan-spread-wh").toString)
    val (annotated, buildJobs) = graft.tools.JobCounter.jobsDuring(spark)(
      pipe.annotate(docs, "text").filter(col("quality_score") >= 0.5))
    assert(buildJobs == 0, s"building the annotated frame ran $buildJobs jobs")
    val below = annotationBelowSpread(annotated.queryExecution.optimizedPlan)
    assert(below.isEmpty, s"annotation evaluated below the spread in: $below")
    // negative control: a plain repartition lets Catalyst push the filter,
    // with its word split inlined, below the exchange
    val plain = docs.repartition(4).withColumn("w", split(col("text"), " "))
      .filter(size(array_distinct(col("w"))) > 2)
    assert(annotationBelowSpread(plain.queryExecution.optimizedPlan).nonEmpty,
      "the check cannot see a pushed-down filter")
    // an upstream shuffle narrower than the cores is not executed to
    // size the spread, nor by the spread itself
    val shuffled = docs.repartition(2)
    val (_, spreadJobs) = graft.tools.JobCounter.jobsDuring(spark)(
      graft.ops.Spread.toCores(shuffled))
    assert(spreadJobs == 0, s"Spread.toCores ran $spreadJobs jobs")
    assert(annotated.count() > 0)
  }
}
