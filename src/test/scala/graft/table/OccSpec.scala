package graft.table

import graft.SparkSpec

/** Optimistic-concurrency append (Delta's blind-append OCC): the data
  * write stages leaseless against a tmp sibling; only rename+manifest
  * serialize through the commit lease. Conflicts (schema / partition
  * layout / constraints changed mid-stage) throw; commuting operations
  * (concurrent appends, deletes, compactions) do not.
  */
class OccSpec extends SparkSpec {
  import spark.implicits._

  private def stagedSiblings(t: ManagedTable): Seq[String] = {
    val dir = new java.io.File(t.path).getParentFile
    val name = new java.io.File(t.path).getName
    Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(name + ".tmp-")).toSeq
  }

  test("parallel optimistic appends all commit; rows exact; versions contiguous") {
    val path = tmpDir("occ-parallel") + "/t"
    new ManagedTable(spark, path).overwrite(Seq((0L, "seed")).toDF("id", "s"))
    val writers = 4
    val perWriter = 2
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until writers).map { w =>
        Future {
          val t = new ManagedTable(spark, path) // own instance = own writer
          for (i <- 0 until perWriter)
            t.appendOptimistic(
              Seq((1L + w * perWriter + i, s"w$w-$i")).toDF("id", "s"))
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val t = new ManagedTable(spark, path)
    assert(t.read.count() == 1 + writers * perWriter)
    assert(t.read.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (0L to (writers * perWriter).toLong))
    val hist = t.history().collect()
    val appends = hist.filter(_.getAs[String]("operation") == "APPEND")
    assert(appends.length == writers * perWriter, s"history: ${hist.toSeq}")
    // no gaps: every version from 0 to latest is logged exactly once
    val versions = hist.map(_.getAs[Long]("version")).sorted.toSeq
    assert(versions == (0L to versions.max))
    assert(stagedSiblings(t).isEmpty, "staged tmp dirs must be reaped")
  }

  test("parallel optimistic appends under MULTI-PART parquet checkpoints " +
      "keep the log sane (format surface x concurrency)") {
    val path = tmpDir("occ-multipart") + "/t"
    val seed = new ManagedTable(spark, path)
    seed.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    seed.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "2",
      "graft.manifest.checkpointPartSize" -> "2",
      // this test pins the SYNC multipart checkpoint shape — explicit so
      // ambient soak defaults (GRAFT_PROPERTY_DEFAULTS) can't flip it
      "graft.manifest.asyncCheckpoint" -> "false"))
    val writers = 4
    val perWriter = 2
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until writers).map { w =>
        Future {
          val t = new ManagedTable(spark, path)
          for (i <- 0 until perWriter)
            t.appendOptimistic(
              Seq((1L + w * perWriter + i, s"w$w-$i")).toDF("id", "s"))
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val t = new ManagedTable(spark, path)
    assert(t.read.count() == 1 + writers * perWriter)
    assert(t.read.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (0L to (writers * perWriter).toLong))
    // versions contiguous; every logged version reconstructs exactly
    // through whatever mix of pointer/part/delta manifests the race wrote
    val versions = t.history().collect().map(_.getAs[Long]("version")).sorted
    assert(versions.toSeq == (0L to versions.max))
    for (v <- 0L to t.version)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v reconstructed wrong under multi-part checkpoints")
    assert(t.protocol._1.contains("checkpoint-parquet-multipart"))
  }

  test("schema change mid-stage conflicts; staged files reaped; table intact") {
    val path = tmpDir("occ-schema") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () => {
      // another writer replaces the table with a DIFFERENT schema while
      // our append is staged
      new ManagedTable(spark, path)
        .overwrite(Seq((9L, "z", true)).toDF("id", "s", "flag"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      t.appendOptimistic(Seq((2L, "b")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("schema changed"), e.getMessage)
    assert(e.getMessage.contains("OVERWRITE"), e.getMessage)
    val after = new ManagedTable(spark, path)
    assert(after.read.columns.sorted.toSeq == Seq("flag", "id", "s"))
    assert(after.read.count() == 1) // the overwrite won; nothing leaked in
    assert(stagedSiblings(after).isEmpty, "conflicted stage must be reaped")
  }

  test("constraint change mid-stage conflicts") {
    val path = tmpDir("occ-cons") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).addConstraint("id_pos", "id > 0")
    val e = intercept[java.util.ConcurrentModificationException] {
      t.appendOptimistic(Seq((2L, "b")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("constraints changed"), e.getMessage)
  }

  test("concurrent DELETE commutes with a blind append") {
    val path = tmpDir("occ-delete") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "keep"), (2L, "drop")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path)
        .delete(org.apache.spark.sql.functions.col("s") === "drop")
    t.appendOptimistic(Seq((3L, "new")).toDF("id", "s"))
    val rows = new ManagedTable(spark, path)
      .read.as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "keep"), (3L, "new")))
  }

  test("concurrent OPTIMIZE commutes with a blind append") {
    val path = tmpDir("occ-optimize") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq.tabulate(8)(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(4))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).compact(1)
    t.appendOptimistic(Seq((100L, "new")).toDF("id", "s"))
    val after = new ManagedTable(spark, path)
    assert(after.read.count() == 9)
    assert(after.read.as[(Long, String)].collect().toMap.apply(100L) == "new")
  }

  test("idempotent OCC append: replays stage but applies exactly once") {
    val path = tmpDir("occ-txn") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    assert(t.appendIdempotentOptimistic(
      Seq((1L, "b1")).toDF("id", "s"), "sink", 1L))
    // replay of the same (appId, version): staged, detected, reaped
    assert(!t.appendIdempotentOptimistic(
      Seq((1L, "b1")).toDF("id", "s"), "sink", 1L))
    assert(t.read.count() == 2)
    assert(stagedSiblings(t).isEmpty)
    // the next version applies
    assert(t.appendIdempotentOptimistic(
      Seq((2L, "b2")).toDF("id", "s"), "sink", 2L))
    assert(t.read.count() == 3)
  }

  test("optimistic vectored DELETE commutes with a concurrent blind append") {
    val path = tmpDir("occ-vdel") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "keep"), (2L, "drop")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).append(Seq((3L, "late")).toDF("id", "s"))
    t.deleteVectoredOptimistic(org.apache.spark.sql.functions.col("s") === "drop")
    val rows = new ManagedTable(spark, path)
      .read.as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "keep"), (3L, "late")))
  }

  test("optimistic vectored DELETE conflicts with a concurrent DELETE") {
    val path = tmpDir("occ-vdel2") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path)
        .deleteVectored(org.apache.spark.sql.functions.col("id") === 3L)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.deleteVectoredOptimistic(org.apache.spark.sql.functions.col("id") === 1L)
    }
    assert(e.getMessage.contains("non-commuting"), e.getMessage)
    // the loser's marks must not have leaked: only the winner's delete applied
    assert(new ManagedTable(spark, path).read.count() == 2)
  }

  test("optimistic vectored UPDATE stages leaseless and lands exactly") {
    val path = tmpDir("occ-vupd") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).append(Seq((4L, 40.0)).toDF("id", "v"))
    t.updateVectoredOptimistic(
      org.apache.spark.sql.functions.col("id") <= 2L,
      Map("v" -> (org.apache.spark.sql.functions.col("v") * 10)))
    val got = new ManagedTable(spark, path)
      .read.as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 100.0, 2L -> 200.0, 3L -> 30.0, 4L -> 40.0))
    assert(stagedSiblings(t).isEmpty)
  }

  test("optimistic vectored MERGE upserts exactly; commutes with appends") {
    val path = tmpDir("occ-vmrg") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "old1"), (2L, "old2")).toDF("id", "s"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).append(Seq((9L, "late")).toDF("id", "s"))
    t.mergeVectoredOptimistic(
      Seq((2L, "new2"), (3L, "new3")).toDF("id", "s"), Seq("id"))
    val rows = new ManagedTable(spark, path)
      .read.as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "old1"), (2L, "new2"), (3L, "new3"), (9L, "late")))
  }

  test("Serializable isolation: blind appends no longer commute with DML") {
    val path = tmpDir("occ-ser") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.setProperties(Map("graft.isolationLevel" -> "Serializable"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path).append(Seq((3L, "late")).toDF("id", "s"))
    val e = intercept[java.util.ConcurrentModificationException] {
      t.deleteVectoredOptimistic(org.apache.spark.sql.functions.col("id") === 1L)
    }
    assert(e.getMessage.contains("non-commuting"), e.getMessage)
    // the blind APPEND side committed; only the delete lost the race
    assert(new ManagedTable(spark, path).read.count() == 3)
  }

  test("Serializable isolation: a blind append conflicts with a mid-stage DELETE") {
    val path = tmpDir("occ-ser-app") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.setProperties(Map("graft.isolationLevel" -> "Serializable"))
    t.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path)
        .delete(org.apache.spark.sql.functions.col("id") === 2L)
    val e = intercept[java.util.ConcurrentModificationException] {
      t.appendOptimistic(Seq((3L, "c")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("non-commuting"), e.getMessage)
    assert(new ManagedTable(spark, path).read.count() == 1)
  }

  test("readCommitted pins the manifest: uncommitted dir files are invisible") {
    val path = tmpDir("occ-readc") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // an out-of-band writer (or an OCC publish caught mid-window) drops a
    // parquet file into the live dir with no commit
    Seq((99L, "uncommitted")).toDF("id", "s").coalesce(1)
      .write.mode("append").parquet(path)
    assert(new ManagedTable(spark, path).readCommitted.count() == 2)
    assert(new ManagedTable(spark, path).read.count() == 3) // live listing
  }

  test("seeded random interleaving of optimistic writers keeps the log sane") {
    // 3 writers × 6 seeded ops (optimistic append / vectored delete /
    // vectored merge) race through the OCC paths; conflicts are LEGAL
    // outcomes (counted, swallowed) — the invariants are what must hold:
    // contiguous versions, every surviving id exactly once, no stage debris
    val path = tmpDir("occ-stress") + "/t"
    new ManagedTable(spark, path)
      .overwrite(Seq.tabulate(20)(i => (i.toLong, "seed")).toDF("id", "s"))
    val rnd = new scala.util.Random(42)
    val plans = Seq.tabulate(3) { w =>
      Seq.tabulate(6) { i => (rnd.nextInt(3), 1000L + w * 100 + i) }
    }
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    try {
      Await.result(Future.sequence(plans.map { plan =>
        Future {
          val t = new ManagedTable(spark, path)
          plan.foreach { case (op, id) =>
            try op match {
              case 0 => t.appendOptimistic(Seq((id, s"w$id")).toDF("id", "s"))
              case 1 => t.deleteVectoredOptimistic(
                org.apache.spark.sql.functions.col("id") === (id % 20))
              case 2 => t.mergeVectoredOptimistic(
                Seq((id % 20, s"m$id")).toDF("id", "s"), Seq("id"))
            } catch {
              case _: java.util.ConcurrentModificationException =>
                conflicts.incrementAndGet()
            }
          }
        }
      }), 180.seconds)
    } finally pool.shutdown()
    val t = new ManagedTable(spark, path)
    val hist = t.history().collect()
    val versions = hist.map(_.getAs[Long]("version")).sorted.toSeq
    assert(versions == (0L to versions.max), "versions must be contiguous")
    // surviving ids are unique (no row duplicated by a lost-update race)
    val ids = t.read.select("id").as[Long].collect().toSeq
    assert(ids.distinct.length == ids.length,
      s"duplicated ids after interleaving: ${ids.groupBy(identity).filter(_._2.length > 1).keys}")
    // every appended id either landed or its writer saw a conflict; seeds
    // can only be deleted/merged, never duplicated
    assert(ids.count(_ < 1000L) <= 20)
    assert(stagedSiblings(t).isEmpty, "stage debris must be reaped")
    info(s"interleaving done: ${versions.max} commits, ${conflicts.get} conflicts")
  }

  test("parallel optimistic appends into a PARTITIONED table land exactly") {
    val path = tmpDir("occ-part") + "/t"
    new ManagedTable(spark, path).overwrite(
      Seq((0L, "p0", "seed")).toDF("id", "part", "s"), Seq("part"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Await.result(Future.sequence((0 until 3).map { w =>
        Future {
          val t = new ManagedTable(spark, path)
          // each writer hits BOTH its own partition and a shared one
          t.appendOptimistic(
            Seq((10L + w, s"p$w", s"own$w"), (20L + w, "shared", s"sh$w"))
              .toDF("id", "part", "s"), Seq("part"))
        }
      }), 120.seconds)
    } finally pool.shutdown()
    val t = new ManagedTable(spark, path)
    assert(t.read.count() == 7)
    assert(t.read.filter(org.apache.spark.sql.functions.col("part") === "shared")
      .count() == 3)
    // partition pruning still works over the OCC-published layout
    assert(t.read.filter(org.apache.spark.sql.functions.col("part") === "p1")
      .select("id").as[Long].collect().toSeq == Seq(11L))
    assert(t.readVersion(t.version).count() == 7)
    assert(stagedSiblings(t).isEmpty)
  }

  test("a publish crashed before its manifest RECOVERs on the next write") {
    // the OCC crash window: staged files renamed into the live dir, death
    // before the manifest write. The rows are legitimized as a RECOVER
    // version by the next writer's bootstrap probe — present exactly once,
    // never silently merged into another writer's APPEND attribution
    val path = tmpDir("occ-crash") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    Seq((2L, "orphan")).toDF("id", "s").coalesce(1)
      .write.mode("append").parquet(path) // the crashed publish's leftovers
    new ManagedTable(spark, path).appendOptimistic(Seq((3L, "c")).toDF("id", "s"))
    val after = new ManagedTable(spark, path)
    assert(after.read.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "orphan"), (3L, "c")))
    val ops = after.history().collect().map(_.getAs[String]("operation")).toSeq
    assert(ops.contains("RECOVER"), ops)
    assert(after.readVersion(after.version).count() == 3)
  }

  test("append to an identity-column table falls back to the locked path") {
    val path = tmpDir("occ-ident") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq(Tuple1("a")).toDF("s"))
    t.addIdentityColumn("rid")
    t.appendOptimistic(Seq(Tuple1("b")).toDF("s"))
    val ids = t.read.select("rid").as[Long].collect().sorted.toSeq
    assert(ids.distinct.length == 2, s"identity ids must stay unique: $ids")
  }

  test("a fresh process's first OCC commit seeds state from the checkpoint-row " +
      "job — no listing fold (distributedPlanning=always)") {
    val path = tmpDir("occ-seed-log") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointPartSize" -> "3",
      "graft.metadata.distributedPlanning" -> "always"))
    for (i <- 1 to 10) t.append(Seq((i.toLong, s"x$i")).toDF("id", "s"))
    // v10 was a checkpoint commit: parquet rows with (len, rows) on disk.
    // Simulate a fresh process: cold state cache, brand-new handle.
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLiveCache.invalidate(
      fsys.makeQualified(new org.apache.hadoop.fs.Path(path)).toString)
    val t2 = new ManagedTable(spark, path)
    val side = java.nio.file.Paths.get(path + "._log/_latest_files.txt")
    val before = new String(java.nio.file.Files.readAllBytes(side), "UTF-8")
    t2.appendOptimistic(Seq((99L, "occ")).toDF("id", "s"))
    // the consistency sidecar was NOT rewritten and the manifest is a
    // pure delta: the commit seeded its parent state from the log's
    // checkpoint rows (Spark job under always) instead of re-listing
    assert(new String(java.nio.file.Files.readAllBytes(side), "UTF-8")
      == before, "listing path ran: state was not seeded from the log")
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path + "._log/v00011.json")), "UTF-8")
    assert(txt.contains("\"add\":[") && !txt.contains("filesParquet"),
      s"v11 should be a fast-path delta: $txt")
    assert(new ManagedTable(spark, path).read.count() == 12L)
    assert(t2.readVersion(11).count() == 12L)
  }

  test("optimistic writers straddling a state-assembled checkpoint commit " +
      "stay exact (checkpointFromState soak)") {
    val path = tmpDir("occ-cfs-race") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      // pins the SYNC checkpoint-due-commit shape (v10 carries the list)
      "graft.manifest.asyncCheckpoint" -> "false"))
    for (i <- 1 to 8) t.append(Seq((i.toLong, s"x$i")).toDF("id", "s")) // v8
    // writer A stages against v8; mid-stage writer B lands v9 (fast
    // delta); A then commits v10 — the CHECKPOINT-DUE version — which
    // assembles its full file list from state ± churn, never listing
    val a = new ManagedTable(spark, path)
    a.occBetweenStageAndCommit = () =>
      new ManagedTable(spark, path)
        .appendOptimistic(Seq((200L, "writer-b")).toDF("id", "s"))
    a.appendOptimistic(Seq((100L, "writer-a")).toDF("id", "s"))
    a.occBetweenStageAndCommit = () => ()
    val fresh = new ManagedTable(spark, path)
    assert(fresh.version == 10L)
    // v10 is a real checkpoint (walk-back ends there) and reconstructs
    // EXACTLY the live dir — the state-assembled list missed nothing
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path + "._log/v00010.json")), "UTF-8")
    assert(txt.contains("filesParquet"), s"v10 should be a checkpoint: $txt")
    val recon = fresh.manifestFiles(10L).toSet
    val live = Option(new java.io.File(path).listFiles()).get
      .filter(_.getName.endsWith(".parquet"))
      .map(f => "file:" + f.getAbsolutePath).toSet
    assert(recon == live,
      s"state-assembled checkpoint diverged: ${recon.size} vs ${live.size}")
    assert(fresh.read.count() == 11L) // seed + 8 + A + B
    assert(fresh.read.as[(Long, String)].collect().map(_._1).toSet
      .contains(100L))
    assert(fresh.readVersion(9).count() == 10L)
  }
}
