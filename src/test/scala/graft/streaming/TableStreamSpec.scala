package graft.streaming

import graft.SparkSpec
import graft.table.ManagedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Append-mode streaming source over a managed table (Delta's plain
  * `readStream.format("delta")` role): per-commit added files, version
  * offsets, row-changing-commit refusal with the Delta opt-outs.
  */
class TableStreamSpec extends SparkSpec {
  import spark.implicits._

  private var sinkN = 0
  private def sink(): String = { sinkN += 1; s"tbl_sink_$sinkN" }

  test("startingVersion 0 replays the founding commit and appends; " +
      "default start emits only post-start appends") {
    val t = new ManagedTable(spark, tmpDir("ts-basic") + "/t")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.append(Seq((3L, "c")).toDF("k", "v"))

    val s1 = sink()
    val q1 = t.readStreamAppends(startingVersion = 0)
      .writeStream.format("memory").queryName(s1).outputMode("append").start()
    try {
      q1.processAllAvailable()
      assert(spark.table(s1).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q1.stop()

    val s2 = sink()
    val q2 = t.readStreamAppends() // default = latest: seed not replayed
      .writeStream.format("memory").queryName(s2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(s2).count() == 0)
      t.append(Seq((4L, "d")).toDF("k", "v"))
      q2.processAllAvailable()
      assert(spark.table(s2).as[(Long, String)].collect().toSet ==
        Set((4L, "d")))
    } finally q2.stop()
  }

  test("OPTIMIZE in the window is row-neutral: compacted rows are never " +
      "re-emitted; appends around it still flow") {
    val t = new ManagedTable(spark, tmpDir("ts-opt") + "/t")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val s = sink()
    val q = t.readStreamAppends()
      .writeStream.format("memory").queryName(s).outputMode("append").start()
    try {
      q.processAllAvailable()
      t.append(Seq((2L, "b")).toDF("k", "v"))
      // drain the append BEFORE the swap-based OPTIMIZE: compaction
      // retires the live dir by rename, so a continuously-triggering
      // micro-batch planned on the pre-swap file paths loses the race and
      // fails with FILE_NOT_EXIST (a restart replays fine: the logged
      // paths resolve into the retained dir — but this test is about
      // row-neutrality, not crash recovery). On a quiet host the stream
      // always consumed v1 here anyway; the explicit drain makes that
      // interleaving deterministic under load (the r14 driver-suite flake).
      q.processAllAvailable()
      t.compact(numFiles = 1) // rewrites (1,a)+(2,b) into one file
      t.append(Seq((3L, "c")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table(s).as[(Long, String)].collect().toSet ==
        Set((2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("a row-changing commit fails the stream by default") {
    val t = new ManagedTable(spark, tmpDir("ts-fail") + "/t")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val s = sink()
    val q = t.readStreamAppends()
      .writeStream.format("memory").queryName(s).outputMode("append").start()
    try {
      q.processAllAvailable()
      t.deleteVectored(col("k") === 1)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("row-changing") ||
        Option(e.getCause).exists(_.getMessage.contains("row-changing")))
    } finally q.stop()
  }

  test("ignoreDeletes skips DELETE commits; skipChangeCommits skips every " +
      "row-changing commit; appended rows still arrive") {
    val t = new ManagedTable(spark, tmpDir("ts-skip") + "/t")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))

    val s1 = sink()
    val q1 = t.readStreamAppends(ignoreDeletes = true)
      .writeStream.format("memory").queryName(s1).outputMode("append").start()
    try {
      q1.processAllAvailable()
      t.deleteVectored(col("k") === 1)
      t.append(Seq((4L, "d")).toDF("k", "v"))
      q1.processAllAvailable()
      assert(spark.table(s1).as[(Long, String)].collect().toSet ==
        Set((4L, "d")))
    } finally q1.stop()

    val s2 = sink()
    val q2 = t.readStreamAppends(skipChangeCommits = true)
      .writeStream.format("memory").queryName(s2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      t.updateVectored(col("k") === 2, Map("v" -> lit("B")))
      t.append(Seq((5L, "e")).toDF("k", "v"))
      q2.processAllAvailable()
      assert(spark.table(s2).as[(Long, String)].collect().toSet ==
        Set((5L, "e")))
    } finally q2.stop()
  }

  test("ignoreChanges re-emits a DML commit's rewritten rows as inserts") {
    val t = new ManagedTable(spark, tmpDir("ts-igch") + "/t")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val s = sink()
    val q = t.readStreamAppends(ignoreChanges = true)
      .writeStream.format("memory").queryName(s).outputMode("append").start()
    try {
      q.processAllAvailable()
      // merge-on-read UPDATE appends the replacement row as a new file —
      // under ignoreChanges that added file is emitted
      t.updateVectored(col("k") === 2, Map("v" -> lit("B")))
      q.processAllAvailable()
      assert(spark.table(s).as[(Long, String)].collect().toSet ==
        Set((2L, "B")))
    } finally q.stop()
  }

  test("admission control drains a backlog as bounded batches under " +
      "Trigger.AvailableNow, emitting every append exactly once") {
    val t = new ManagedTable(spark, tmpDir("ts-adm") + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val s = sink()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = t.readStreamAppends(startingVersion = 0, maxVersionsPerTrigger = 2)
      .writeStream.option("checkpointLocation", tmpDir("ts-adm-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").as[Long].collect()
        batches.add(ks.length.toLong); ks.foreach(seen.add); ()
      }.start()
    q.awaitTermination(120000L)
    assert((0L to 5L).forall(seen.contains) && seen.size == 6)
    // 6 commits at <=2 versions per trigger: at least 3 non-empty batches
    assert(batches.size >= 3)
    var total = 0L; batches.forEach(n => total += n)
    assert(total == 6L) // exactly once: no batch re-emits a commit
  }

  test("maxBytesPerTrigger paces a backlog by commit bytes") {
    val t = new ManagedTable(spark, tmpDir("ts-bytes") + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    for (i <- 1 to 4) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // cap below any single commit's bytes: always-make-progress admits
    // exactly ONE commit per trigger → 5 single-commit batches
    val q = t.readStreamAppends(startingVersion = 0, maxBytesPerTrigger = 1)
      .writeStream.option("checkpointLocation", tmpDir("ts-bytes-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").as[Long].collect()
        if (ks.nonEmpty) batches.add(ks.length.toLong)
        ks.foreach(seen.add); ()
      }.start()
    q.awaitTermination(120000L)
    assert((0L to 4L).forall(seen.contains) && seen.size == 5)
    assert(batches.size == 5, s"expected one commit per batch, got $batches")
  }

  test("legacy commits with unknown bytesAdded ride alone under a byte " +
      "cap instead of draining unbounded") {
    val dir = tmpDir("ts-legacy")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    // simulate a pre-feature table: strip the 10th (bytesAdded) history
    // field so every commit's byte size is unknown
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val hist = new org.apache.hadoop.fs.Path(dir + "/t._log/_history.txt")
    t.compactHistoryForTest() // fold segments: this test edits ONE file
    val in = fs.open(hist)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val stripped = txt.split("\n").map(_.split("\t").take(9).mkString("\t"))
      .mkString("\n")
    val out = fs.create(hist, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    graft.table.HistoryCache.invalidate(hist.toString)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = t.readStreamAppends(startingVersion = 0,
        maxBytesPerTrigger = 1000L * 1000 * 1000)
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").as[Long].collect()
        if (ks.nonEmpty) batches.add(ks.length.toLong)
        ks.foreach(seen.add); ()
      }.start()
    q.awaitTermination(120000L)
    assert(seen.size == 4)
    assert(batches.size == 4,
      s"unknown-byte commits must be admitted one per batch, got $batches")
  }

  test("restart resumes from the checkpoint, emitting appends made while down") {
    val dir = tmpDir("ts-restart")
    val t = new ManagedTable(spark, dir + "/t")
    val ckpt = dir + "/ckpt"
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = t.readStreamAppends()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("k").as[Long].collect().foreach(k => seen.add(k)); ()
      }.start()
    val q1 = start()
    q1.processAllAvailable()
    t.append(Seq((2L, "b")).toDF("k", "v"))
    q1.processAllAvailable()
    q1.stop()
    assert(seen.contains(2L) && !seen.contains(1L))
    t.append(Seq((3L, "c")).toDF("k", "v")) // while the stream is down
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(seen.contains(3L))
    assert(seen.size == 2) // no replay of already-committed batches
  }

  test("initialSnapshot: the first batch is the whole current snapshot " +
      "(DV deletes applied), later appends flow incrementally — and it " +
      "streams a table whose early log was already expired") {
    val dir = tmpDir("ts-snap")
    val t = new ManagedTable(spark, dir + "/t")
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "1"))
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    t.deleteVectored(col("k") === 2)
    t.append(Seq((4L, "d")).toDF("k", "v"))
    t.cleanupLog(t.version) // startingVersion-0 replay now impossible
    val s = sink()
    val q = t.readStreamAppends(initialSnapshot = true)
      .writeStream.format("memory").queryName(s).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(s).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (3L, "c"), (4L, "d"))) // snapshot, deletes applied
      t.append(Seq((5L, "e")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table(s).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (3L, "c"), (4L, "d"), (5L, "e")))
    } finally q.stop()
  }

  test("a log cleanup that expires the stream's resume point fails the " +
      "stream pointedly instead of re-emitting the snapshot") {
    val dir = tmpDir("ts-retention")
    val t = new ManagedTable(spark, dir + "/t")
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "1"))
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = t.readStreamAppends()
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").as[Long].collect().foreach(k => seen.add(k)); ()
      }.start()
    val q1 = start()
    q1.processAllAvailable()
    t.append(Seq((2L, "b")).toDF("k", "v"))
    q1.processAllAvailable()
    q1.stop()
    t.append(Seq((3L, "c")).toDF("k", "v")) // while down
    t.cleanupLog(t.version) // expires every manifest below the head
    val q2 = start()
    val e = intercept[StreamingQueryException] { q2.processAllAvailable() }
    q2.stop()
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("log retention")))
    assert(!seen.contains(3L)) // and nothing was double-delivered
  }

  test("a retention boundary whose first window commit is row-neutral " +
      "resumes cleanly: no expired manifest is actually needed") {
    val dir = tmpDir("ts-boundary")
    val t = new ManagedTable(spark, dir + "/t")
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "1"))
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = t.readStreamAppends()
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").as[Long].collect().foreach(k => seen.add(k)); ()
      }.start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    val offset = t.version // the checkpointed resume point
    t.compact(numFiles = 1)            // offset+1: row-neutral
    t.append(Seq((2L, "b")).toDF("k", "v")) // offset+2
    t.cleanupLog(offset + 1) // expires manifests <= offset
    val q2 = start()
    q2.processAllAvailable() // must NOT throw: OPTIMIZE needs no diff base
    q2.stop()
    assert(seen.contains(2L) && !seen.contains(1L))
  }

  test("paced initial snapshot: maxFilesPerTrigger splits the snapshot " +
      "into ceil(N/k) batches, then appends flow incrementally") {
    val dir = tmpDir("ts-snappace")
    val t = new ManagedTable(spark, dir + "/t")
    // 5 single-row files via repartition(5) → N=5 files
    t.overwrite(Seq.tabulate(5)(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(5, col("k")))
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = t.readStreamAppends(initialSnapshot = true, maxFilesPerTrigger = 2)
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").as[Long].collect()
        if (ks.nonEmpty) batchSizes.add(ks.length.toLong)
        ks.foreach(seen.add); ()
      }.start()
    q.awaitTermination(120000L)
    assert(seen.size == 5 && (0L to 4L).forall(seen.contains))
    // 5 files at <=2 per trigger: 3 snapshot batches (2+2+1), never one big
    assert(batchSizes.size == 3, batchSizes)
    batchSizes.forEach(n => assert(n <= 2L))
    // incremental phase still works after the paced snapshot
    val seen2 = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    t.append(Seq((9L, "i")).toDF("k", "v"))
    val q2 = t.readStreamAppends(initialSnapshot = true, maxFilesPerTrigger = 2)
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").as[Long].collect().foreach(seen2.add); ()
      }.start()
    q2.awaitTermination(120000L)
    assert(seen2.size == 1 && seen2.contains(9L),
      s"restart must deliver ONLY the append, got $seen2")
  }

  test("distributed snapshot assembly: the paced initial snapshot " +
      "delivers batch-for-batch what the driver fold delivers") {
    def run(mode: String, dir: String): Seq[Seq[Long]] = {
      val t = new ManagedTable(spark, dir + "/t")
      t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
      t.setProperties(Map(
        "graft.manifest.checkpointFormat" -> "parquet",
        "graft.manifest.checkpointInterval" -> "1",
        "graft.manifest.checkpointPartSize" -> "3", // multi-part sidecars
        "graft.metadata.distributedPlanning" -> mode))
      t.overwrite(Seq.tabulate(7)(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(7, col("k")))
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val q = t.readStreamAppends(initialSnapshot = true, maxFilesPerTrigger = 2)
        .writeStream.option("checkpointLocation", dir + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ks = b.select("k").as[Long].collect().sorted.toSeq
          if (ks.nonEmpty) batches.add(ks)
          ()
        }.start()
      q.awaitTermination(120000L)
      val out = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
      batches.forEach(b => out += b)
      out.toSeq
    }
    val dist = run("always", tmpDir("ts-snapdist"))
    val driver = run("never", tmpDir("ts-snapdrv"))
    assert(dist == driver,
      s"venues sliced the snapshot differently: dist=$dist driver=$driver")
    assert(dist.flatten.sorted == (0L to 6L), "snapshot incomplete")
    assert(dist.size == 4 && dist.forall(_.size <= 2), // ceil(7/2) slices
      s"pacing broken under distributed assembly: $dist")
  }

  test("distributed snapshot assembly: byte pacing and the incremental " +
      "handoff stay exact under distributedPlanning=always") {
    val dir = tmpDir("ts-snapbytes")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(Seq.tabulate(5)(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(5, col("k")))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def start() = t.readStreamAppends(initialSnapshot = true,
        maxBytesPerTrigger = 1L) // every file exceeds 1 byte → one per batch
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").as[Long].collect()
        if (ks.nonEmpty) batches.add(ks.length.toLong)
        ks.foreach(seen.add); ()
      }.start()
    val q = start()
    q.awaitTermination(120000L)
    assert(seen.size == 5 && (0L to 4L).forall(seen.contains))
    assert(batches.size == 5, // always-make-progress: one file per trigger
      s"byte pacing under distributed assembly: $batches")
    // incremental handoff: only the append arrives on restart
    t.append(Seq((9L, "i")).toDF("k", "v"))
    seen.clear(); batches.clear()
    val q2 = start()
    q2.awaitTermination(120000L)
    assert(seen.size == 1 && seen.contains(9L),
      s"post-snapshot restart must deliver only the append, got $seen")
  }

  test("restart mid-snapshot re-delivers the remaining slices without " +
      "loss or duplication") {
    val dir = tmpDir("ts-snaprestart")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq.tabulate(6)(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(6, col("k")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var stopAfterFirst = true
    def start() = t.readStreamAppends(initialSnapshot = true,
        maxFilesPerTrigger = 2)
      .writeStream.option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        b.select("k").as[Long].collect().foreach(k => seen.add(k))
        // crash the query after its first delivered batch
        if (stopAfterFirst) throw new RuntimeException("induced crash")
        ()
      }.start()
    val q1 = start()
    intercept[StreamingQueryException] { q1.processAllAvailable() }
    q1.stop()
    // foreachBatch failed AFTER the batch ran (rows were seen) but before
    // the commit — the restart must re-deliver that slice, then the rest
    val afterCrash = seen.size
    assert(afterCrash >= 2, s"first slice should have been seen, got $seen")
    stopAfterFirst = false
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val all = { val b = scala.collection.mutable.ArrayBuffer[Long]()
      seen.forEach(k => b += k); b.toSeq }
    // the crashed (uncommitted) slice is replayed exactly once: total
    // deliveries = crashed attempt + one full pass over all 6 rows
    assert(all.sorted.toSet == (0L to 5L).toSet)
    assert(all.size == afterCrash + 6,
      s"expected the uncommitted slice replayed once: $all")
  }

  test("a replayed append is not retro-filtered by a later delete") {
    val t = new ManagedTable(spark, tmpDir("ts-replay") + "/t")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b"), (3L, "c")).toDF("k", "v"))
    t.deleteVectored(col("k") === 2) // later delete must not rewrite history
    val s = sink()
    val q = t.readStreamAppends(startingVersion = 0, ignoreDeletes = true)
      .writeStream.format("memory").queryName(s).outputMode("append").start()
    try {
      q.processAllAvailable()
      // the v1 append replays WITH row k=2 — it was live when appended
      assert(spark.table(s).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }
}
