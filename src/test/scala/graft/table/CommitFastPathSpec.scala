package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The manifest-is-truth commit fast path ([[ManagedTable]] r10): a delta
  * commit whose funnel declares its exact churn and whose parent state is
  * cached commits in O(churn) — no dir listing, no sidecar base fold, no
  * `_latest_files.txt` rewrite. These cases pin (a) that the fast path
  * actually runs (observable: the consistency sidecar goes stale), (b)
  * that every log artifact it writes — delta entries, rowCount,
  * numFiles/sizeInBytes, metrics, DV accounting — matches ground truth,
  * (c) that checkpoint commits re-verify against the dir and agree with
  * the state-accumulated log, and (d) the trust/invalidation boundaries
  * (cross-handle cache sharing, external-commit invalidation).
  */
class CommitFastPathSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) = {
    val t = new ManagedTable(spark, tmpDir(name) + "/t")
    // this suite pins the SYNCHRONOUS checkpoint-due-commit shape (the
    // boundary manifest carries the file list) — explicit, so ambient
    // soak defaults (GRAFT_PROPERTY_DEFAULTS asyncCheckpoint=true) can't
    // flip the shape under the assertions
    t.setProperties(Map("graft.manifest.asyncCheckpoint" -> "false"))
    t
  }

  private def latestFilesSidecar(t: ManagedTable) =
    new java.io.File(t.path + "._log/_latest_files.txt")

  private def manifestText(t: ManagedTable, v: Long): String = {
    val p = java.nio.file.Paths.get(t.path + "._log", f"v$v%05d.json")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("fast-path appends skip the consistency sidecar and still log exact deltas") {
    val t = freshTable("fp-append")
    t.overwrite(Seq((1L, "a")).toDF("k", "v")) // v0: listing path, seeds state
    val side0 = latestFilesSidecar(t)
    val recorded0 = new String(
      java.nio.file.Files.readAllBytes(side0.toPath), "UTF-8")
    t.append(Seq((2L, "b")).toDF("k", "v"))    // v1: fast path
    t.append(Seq((3L, "c")).toDF("k", "v"))    // v2: fast path
    // the sidecar was NOT rewritten — proof the O(churn) path ran
    assert(new String(java.nio.file.Files.readAllBytes(side0.toPath),
      "UTF-8") == recorded0)
    // each fast commit logged a pure delta: one add, zero removes
    for (v <- 1L to 2L) {
      val txt = manifestText(t, v)
      assert(txt.contains("\"add\":["), s"v$v should be a delta manifest")
      assert(txt.contains("\"remove\":[]"))
      assert(txt.contains("\"filesRemoved\":0"))
    }
    // log totals match ground truth
    val h = t.history().collect().sortBy(_.getAs[Long]("version"))
    assert(h.map(_.getAs[Long]("rowCount")).toSeq == Seq(1L, 2L, 3L))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel reconstructs through the fast deltas
    assert(t.readVersion(1).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a well-behaved funnel declares exact churn: nothing dropped by the
    // over-report filter (staged UUID names can't re-declare live paths)
    assert(t.lastFunnelOverReport == 0,
      "append funnel over-reported churn on the fast path")
  }

  test("fast-path commits compact the sidecar once enough segments accumulate") {
    val t = freshTable("fp-compact")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    // a raised interval (the ManifestBench knob) keeps EVERY commit on
    // the fast path — without fast-path compaction `_file_rows.d` would
    // grow one segment per commit forever and every fileMeta fold would
    // pay O(segments) small reads
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "100000"))
    for (i <- 1 to 20) t.append(Seq((i.toLong, s"r$i")).toDF("k", "v"))
    val segDir = new java.io.File(t.path + "._log/_file_rows.d")
    val segs = Option(segDir.listFiles()).map(_.count(_.getName.endsWith(".txt")))
      .getOrElse(0)
    assert(segs < 16, s"fast path never compacted: $segs segments")
    // the compacted base holds every live file's entry (len-matched), so
    // stats pruning keeps working without any footer re-read
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.path + "._log/_file_rows.txt")), "UTF-8")
    assert(base.linesIterator.size >= 16,
      "compacted base should hold the pre-compaction live entries")
    val (kept, all) = t.filesOverlapping("k", 3L, 3L)
    assert(kept.size < all.size, "stats pruning must survive compaction")
    assert(t.read.count() == 21L)
    assert(t.lastFunnelOverReport == 0)
  }

  test("fast-path DV delete commits O(0) churn with correct row accounting") {
    val t = freshTable("fp-dv")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")) // v0
    val side = latestFilesSidecar(t)
    val recorded0 = new String(
      java.nio.file.Files.readAllBytes(side.toPath), "UTF-8")
    t.deleteVectored(col("k") === 2L)                                 // v1: fast
    assert(new String(java.nio.file.Files.readAllBytes(side.toPath),
      "UTF-8") == recorded0, "DV delete must not rewrite the sidecar")
    val txt = manifestText(t, 1L)
    assert(txt.contains("\"add\":[],\"remove\":[]"))
    assert(txt.contains("\"numDeletedRows\":1"))
    val h = t.history().collect().sortBy(_.getAs[Long]("version"))
    assert(h.map(_.getAs[Long]("rowCount")).toSeq == Seq(3L, 2L))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c")))
    // a MOR merge after the DV delete: adds + bitmaps in one fast commit
    t.mergeVectored(Seq((3L, "C"), (4L, "d")).toDF("k", "v"), Seq("k")) // v2
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "C"), (4L, "d")))
    assert(t.history().collect().sortBy(_.getAs[Long]("version"))
      .map(_.getAs[Long]("rowCount")).toSeq == Seq(3L, 2L, 3L))
  }

  test("checkpoint commit after fast deltas re-lists and agrees with the accumulated log") {
    val t = freshTable("fp-ckpt")
    t.overwrite(Seq((0L, "r")).toDF("k", "v")) // v0 (checkpoint by founding)
    // nine fast appends (v1..v9), then v10 is a checkpoint commit
    for (i <- 1L to 10L) t.append(Seq((i, s"x$i")).toDF("k", "v"))
    // v10's manifest carries the FULL file list again (inline or parquet)
    val txt = manifestText(t, 10L)
    assert(txt.contains("\"files\"") || txt.contains("\"filesParquet"),
      "v10 should be a checkpoint manifest")
    // the re-listed checkpoint equals the state-accumulated set: every
    // version reconstructs, totals are exact
    assert(t.read.count() == 11L)
    assert(t.history().collect().sortBy(_.getAs[Long]("version"))
      .map(_.getAs[Long]("rowCount")).toSeq == (1L to 11L).toSeq)
    assert(t.readVersion(5).count() == 6L)
    // and the consistency sidecar is fresh again at the checkpoint
    val recorded = new String(java.nio.file.Files.readAllBytes(
      latestFilesSidecar(t).toPath), "UTF-8").split("\n").filter(_.nonEmpty)
    assert(recorded.length == t.detail().collect().head
      .getAs[Long]("num_files").toInt)
  }

  test("cross-handle state sharing and external-commit invalidation stay correct") {
    val dir = tmpDir("fp-handles") + "/t"
    val a = new ManagedTable(spark, dir)
    val b = new ManagedTable(spark, dir)
    a.overwrite(Seq((1L, "a")).toDF("k", "v"))  // v0 seeds process-wide state
    b.append(Seq((2L, "b")).toDF("k", "v"))     // v1: b rides a's state (fast)
    a.append(Seq((3L, "c")).toDF("k", "v"))     // v2: a rides b's state (fast)
    assert(a.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(a.history().collect().sortBy(_.getAs[Long]("version"))
      .map(_.getAs[Long]("rowCount")).toSeq == Seq(1L, 2L, 3L))
    // delta manifests on both handles' commits — the shared cache applied
    assert(manifestText(a, 1L).contains("\"add\":["))
    assert(manifestText(a, 2L).contains("\"add\":["))
    // a stale-state commit (cache cleared = cold process): listing path
    // rebuilds ground truth and later commits go fast again
    CommitLiveCache.invalidate(
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(new Path(dir)).toString)
    a.append(Seq((4L, "d")).toDF("k", "v"))     // v3: listing path (cold)
    a.append(Seq((5L, "e")).toDF("k", "v"))     // v4: fast again
    assert(a.read.count() == 5L)
    assert(a.readVersion(3).count() == 4L)
  }

  test("opt-in checkpointFromState: checkpoint commits assemble from state, never the dir") {
    val t = freshTable("fp-ckpt-state")
    t.overwrite(Seq((0L, "r")).toDF("k", "v"))            // v0
    // plant an out-of-band stray: a LISTING-based checkpoint would absorb
    // it into the log; the state-based one must keep the log manifest-true
    Seq((99L, "stray")).toDF("k", "v").write.mode("append").parquet(t.path)
    for (i <- 1L to 10L) t.append(Seq((i, s"x$i")).toDF("k", "v")) // v10 ckpt
    val txt = manifestText(t, 10L)
    assert(txt.contains("\"files\"") || txt.contains("\"filesParquet"),
      "v10 should still be a checkpoint manifest")
    // the manifest-pinned snapshot excludes the stray (no listing ran)…
    assert(t.readVersion(10).count() == 11L)
    // …which stays physically present in the dir
    assert(spark.read.parquet(t.path).count() == 12L)
    // totals stay exact through the state-based checkpoint
    assert(t.history().collect().sortBy(_.getAs[Long]("version"))
      .map(_.getAs[Long]("rowCount")).toSeq == (1L to 11L).toSeq)
    // the trust boundary still exists: an explicit verify RECOVERs the
    // stray into the log, exactly the documented out-of-band contract
    val t2 = new ManagedTable(spark, t.path)
    t2.bootstrap()
    assert(t2.history().collect().maxBy(_.getAs[Long]("version"))
      .getAs[String]("operation") == "RECOVER")
    assert(t2.read.count() == 12L)
  }

  test("checkpointFromState: a DV delete AT the checkpoint boundary stays exact, and maintenance reconciles") {
    val t = freshTable("fp-ckpt-dv")
    t.overwrite(Seq((0L, "r")).toDF("k", "v"))            // v0
    for (i <- 1L to 9L) t.append(Seq((i, s"x$i")).toDF("k", "v")) // v1..v9
    // v10: the checkpoint-due commit is a DV-only delete (zero churn) —
    // the full file list assembles from state, bitmaps filter against it
    t.deleteVectored(col("k") === 5L)
    val txt = manifestText(t, 10L)
    assert(txt.contains("\"files\"") || txt.contains("\"filesParquet"),
      "v10 should be a checkpoint manifest")
    assert(txt.contains("\"numDeletedRows\":1"))
    assert(t.read.count() == 9L && t.readVersion(10).count() == 9L)
    assert(t.readVersion(9).count() == 10L)
    // maintenance (compact: a no-churn rewrite) takes the listing path,
    // reconciles, and reseeds — later commits ride the state again
    t.compact(1)
    assert(t.read.count() == 9L)
    t.append(Seq((100L, "z")).toDF("k", "v"))
    assert(manifestText(t, t.version).contains("\"add\":["),
      "post-maintenance append should be a fast delta again")
    assert(t.read.count() == 10L)
  }

  test("history appends are O(1) segments; compaction folds them; fold is complete") {
    val t = freshTable("fp-hist")
    t.overwrite(Seq((0L, "r")).toDF("k", "v"))          // v0
    for (i <- 1L to 3L) t.append(Seq((i, s"x$i")).toDF("k", "v"))
    val segDir = new java.io.File(t.path + "._log/_history.d")
    val base = new java.io.File(t.path + "._log/_history.txt")
    // four commits → four one-line segments, no O(commits) base rewrite
    assert(segDir.isDirectory && segDir.list().count(_.endsWith(".txt")) == 4)
    assert(!base.exists(), "no base until the first compaction")
    // the fold serves complete history (versions, rowCounts, ICT order)
    val h = t.history().collect().sortBy(_.getAs[Long]("version"))
    assert(h.map(_.getAs[Long]("version")).toSeq == (0L to 3L))
    assert(h.map(_.getAs[Long]("rowCount")).toSeq == (1L to 4L))
    // drive past the compaction threshold: base appears, segments drop
    for (i <- 4L to 16L) t.append(Seq((i, s"x$i")).toDF("k", "v"))
    assert(base.exists(), "compaction should have folded the base")
    assert(!segDir.exists() ||
      segDir.list().count(_.endsWith(".txt")) < 16)
    assert(t.history().count() == 17L)
    // a fresh handle reads the same fold (cross-handle via HistoryCache)
    assert(new ManagedTable(spark, t.path).history().count() == 17L)
  }

  test("crash between manifest and history segment self-heals from the manifest") {
    val t = freshTable("fp-heal")
    t.overwrite(Seq((0L, "r")).toDF("k", "v"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    // simulate the crash window: the last commit's manifest landed but its
    // history segment didn't (order: manifest first, then history)
    val segDir = new java.io.File(t.path + "._log/_history.d")
    val newest = segDir.listFiles().filter(_.getName.endsWith(".txt"))
      .sortBy(_.getName).last
    assert(newest.delete())
    // a fresh handle folds the missing version back in from its manifest
    // (one batched read) and re-persists — rowCount/ICT stay exact
    val t2 = new ManagedTable(spark, t.path)
    val h = t2.history().collect().sortBy(_.getAs[Long]("version"))
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(0L, 1L, 2L))
    assert(h.map(_.getAs[Long]("rowCount")).toSeq == Seq(1L, 2L, 3L))
    // and the healed table keeps committing (ICT floor intact)
    t2.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t2.history().count() == 4L)
    val ts = t2.history().collect()
      .sortBy(_.getAs[Long]("version"))
      .map(r => java.time.Instant.parse(r.getAs[String]("timestamp"))).toSeq
    assert(ts == ts.sorted,
      s"commit timestamps must be non-decreasing in version order: $ts")
  }

  test("CommitLiveCache entry budget evicts colder tables, keeps the one just written") {
    import CommitLiveCache.State
    def st(v: Long, n: Int, tag: String) = State(v,
      (0 until n).map(i => s"/t/$tag/part-$i.parquet" -> ((100L, 10L))).toMap,
      10L * n, 100L * n)
    val c = new CommitLiveCacheBudgeted(maxTables = 16, maxTotalEntries = 100L)
    c.put("a", st(0, 40, "a"))
    c.put("b", st(0, 40, "b"))
    assert(c.totalEntries == 80L && c.entryCount == 2)
    c.put("c", st(0, 40, "c")) // 120 > 100: evict eldest ("a")
    assert(c.get("a", 0).isEmpty && c.get("b", 0).isDefined && c.get("c", 0).isDefined)
    assert(c.totalEntries == 80L && c.entryCount == 2)
    // one table alone may exceed the budget: its hot writer still caches
    c.put("big", st(0, 500, "big"))
    assert(c.get("big", 0).isDefined)
    assert(c.entryCount == 1 && c.totalEntries == 500L)
    // replacement never double-counts
    c.put("big", st(1, 480, "big2"))
    assert(c.totalEntries == 480L && c.get("big", 1).isDefined)
    // version-validated lookup: a stale version misses without evicting
    assert(c.get("big", 0).isEmpty && c.get("big", 1).isDefined)
  }

  test("row-tracked tables ride the fast path: header-only id allocation stays unique and stable") {
    val t = freshTable("fp-rowtrack")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.enableRowTracking()
    val side = latestFilesSidecar(t)
    val recorded0 = new String(
      java.nio.file.Files.readAllBytes(side.toPath), "UTF-8")
    t.append(Seq((3L, "c")).toDF("k", "v"))
    t.append(Seq((4L, "d"), (5L, "e")).toDF("k", "v"))
    assert(new String(java.nio.file.Files.readAllBytes(side.toPath),
      "UTF-8") == recorded0, "row-tracked appends should take the fast path")
    // every row has a distinct stable id; the high-water mark never reused
    val ids = t.readWithRowIds.select(RowTracking.col).as[Long].collect()
    assert(ids.distinct.length == ids.length, s"duplicate row ids: ${ids.toSeq}")
    assert(ids.length == 5)
    // keyless CDF across the two fast commits classifies by those ids
    val ch = t.changesById(t.version - 2, t.version)
    assert(ch.filter(col("change_type") === "insert").count() == 3L)
  }

  test("interleaved optimistic appends both ride the fast path with exact deltas") {
    val dir = tmpDir("fp-occ") + "/t"
    val a = new ManagedTable(spark, dir)
    val b = new ManagedTable(spark, dir)
    a.overwrite(Seq((1L, "a")).toDF("k", "v"))             // v0 seeds state
    // b commits INSIDE a's stage→commit window (blind appends commute
    // under write-serializable): b's fast commit moves the shared state to
    // v1, and a's validation + commit then rides THAT state at v2 — the
    // OCC interleaving and the manifest-is-truth cache compose
    a.occBetweenStageAndCommit =
      () => { b.appendOptimistic(Seq((2L, "b")).toDF("k", "v")); () }
    try a.appendOptimistic(Seq((3L, "c")).toDF("k", "v"))
    finally a.occBetweenStageAndCommit = () => ()
    assert(a.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    for (v <- 1L to 2L) {
      val txt = manifestText(a, v)
      assert(txt.contains("\"add\":["), s"v$v should be a delta manifest")
      assert(txt.contains("\"filesAdded\":1"))
    }
    assert(a.history().collect().sortBy(_.getAs[Long]("version"))
      .map(_.getAs[Long]("rowCount")).toSeq == Seq(1L, 2L, 3L))
  }
}
