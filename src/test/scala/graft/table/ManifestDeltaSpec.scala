package graft.table

import graft.SparkSpec

/** Delta-shaped commit manifests: most commits record only add/remove
  * deltas vs the previous live set — a rewrite's commit included, whose
  * removes name the retired files' committed paths; periodic checkpoints
  * record the full file list.
  * Commit metadata cost therefore tracks the CHANGE, not the table —
  * the 100 TB contract — while reconstruction folds at most
  * checkpointInterval small manifests.
  */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def manifestText(t: ManagedTable, v: Long): String = {
    val p = java.nio.file.Paths.get(t.path + "._log", f"v$v%05d.json")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  /** This suite pins the inline-JSON + synchronous checkpoint LOG SHAPE
    * (`isCheckpoint` greps for `"files":[`), so every table declares that
    * shape explicitly — ambient soak defaults (GRAFT_PROPERTY_DEFAULTS
    * parquet/async) must not flip what the assertions read.
    */
  private def pinnedTable(name: String): ManagedTable = {
    val t = new ManagedTable(spark, tmpDir(name) + "/t")
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "json",
      "graft.manifest.asyncCheckpoint" -> "false"))
    t
  }
  private def isCheckpoint(t: ManagedTable, v: Long): Boolean =
    manifestText(t, v).contains("\"files\":[")

  test("appends write delta manifests; scheduled checkpoints appear; time travel exact") {
    val t = pinnedTable("mdelta")
    t.overwrite(Seq((0L, "seed")).toDF("id", "s")) // v0: founding checkpoint
    for (i <- 1 to 12)
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1))
    assert(isCheckpoint(t, 0L))
    assert(isCheckpoint(t, 10L), "every-10th commit must checkpoint")
    for (v <- Seq(1L, 5L, 9L, 11L, 12L)) {
      assert(!isCheckpoint(t, v), s"v$v should be a delta manifest")
      assert(manifestText(t, v).contains("\"add\":["))
    }
    // reconstruction: version v holds exactly rows 0..v
    for (v <- Seq(0L, 3L, 9L, 10L, 12L))
      assert(t.readVersion(v).count() == v + 1, s"recon mismatch at v$v")
    assert(t.read.count() == 13)
  }

  test("a delta manifest's size tracks the change, not the table") {
    val t = pinnedTable("mdelta-size")
    t.overwrite(spark.range(10000).selectExpr("id", "id * 2 AS v")
      .repartition(24)) // many files in the checkpoint
    t.append(Seq((90001L, 1L)).toDF("id", "v").coalesce(1))
    val ckpt = manifestText(t, 0L).length
    val delta = manifestText(t, 1L).length
    assert(delta < ckpt / 3,
      s"delta manifest ($delta B) should be far smaller than checkpoint ($ckpt B)")
  }

  test("a rewrite commit is a delta over the unedited log; history intact") {
    val t = pinnedTable("mdelta-swap")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s")) // v1: delta
    val history = Seq(0L, 1L).map(manifestText(t, _))
    t.compact(1)                             // v2: swap, log untouched → delta
    assert(!isCheckpoint(t, 1L))
    assert(!isCheckpoint(t, 2L),
      "a rewrite commit must be an ordinary delta, not a forced checkpoint")
    // its removes are the retired files' committed paths, and no earlier
    // manifest was edited to point into the retained dir
    val v2 = manifestText(t, 2L)
    assert(v2.contains("\"remove\":[\"") && !v2.contains("._v"), v2)
    assert(Seq(0L, 1L).map(manifestText(t, _)) == history)
    // time travel across the swap still reconstructs both sides exactly
    assert(t.readVersion(1L).count() == 3)
    assert(t.readVersion(0L).count() == 2)
    assert(t.read.count() == 3)
  }

  test("retention vacuum keeps roots referenced only via delta adds") {
    val t = pinnedTable("mdelta-vac")
    t.overwrite(Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b")).toDF("id", "s"))  // v1 delta
    t.compact(1)                              // v2: retires the old dir as ._v1
    t.append(Seq((3L, "c")).toDF("id", "s"))  // v3 delta
    // everything is in-window: nothing droppable
    assert(t.vacuumDryRun(java.time.Instant.EPOCH).isEmpty)
    // window excludes every version: the retained swap dir becomes droppable
    val future = java.time.Instant.now().plusSeconds(3600)
    assert(t.vacuumDryRun(future).nonEmpty)
    assert(t.read.count() == 3)
  }

  test("cleanupLog expires manifests below the horizon; above keeps working") {
    val t = pinnedTable("mdelta-clean")
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    for (i <- 1 to 15)
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1))
    // horizon at a DELTA version rounds DOWN to the nearest checkpoint
    // (v10): nothing is rewritten, manifests below v10 expire
    t.cleanupLog(12L)
    assert(isCheckpoint(t, 10L))
    for (v <- 0L until 10L)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(t.path + "._log", f"v$v%05d.json")),
        s"manifest v$v should be expired")
    // above the rounded horizon: exact reconstruction; below: horizon error
    for (v <- Seq(10L, 12L, 13L, 15L))
      assert(t.readVersion(v).count() == v + 1)
    val e = intercept[IllegalStateException] { t.readVersion(5L) }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // the audit trail and the live table survive; the table stays writable
    assert(t.history().count() == 16)
    t.append(Seq((16L, "r16")).toDF("id", "s"))
    assert(t.read.count() == 17)
    assert(t.readVersion(16L).count() == 17)
  }

  test("delta manifests round-trip paths with spaces, unicode and quotes") {
    // partition VALUES land in file paths; the jstr writer and the
    // driver-side array parser must agree on escaping for reconstruction
    // to fold adds/removes exactly
    val t = pinnedTable("mdelta-esc")
    // (no non-ASCII value: the container JVM's POSIX locale cannot create
    // such paths at all — Spark's own writer fails before any manifest)
    val rows = Seq((1L, "plain"), (2L, "with space"), (3L, "equals=colon:"),
      (4L, "qu\"ote"), (5L, "back\\slash"))
    t.overwrite(rows.take(2).toDF("id", "part"), Seq("part"))
    rows.drop(2).foreach { r =>
      t.append(Seq(r).toDF("id", "part"), Seq("part"))
    }
    assert(t.readVersion(1L).count() == 3)
    assert(t.readVersion(3L).count() == 5)
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == (1L to 5L))
    // survives a swap too
    t.compact(2)
    assert(t.readVersion(3L).count() == 5)
    assert(t.read.count() == 5)
  }

  test("commit timestamps are strictly increasing in commit order") {
    val t = pinnedTable("mdelta-ict")
    t.overwrite(Seq((0L, "seed")).toDF("id", "s"))
    for (i <- 1 to 5)
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1))
    val byVersion = t.history().collect()
      .sortBy(_.getAs[Long]("version"))
      .map(r => java.time.Instant.parse(r.getAs[String]("timestamp")))
    byVersion.sliding(2).foreach { case Array(a, b) =>
      assert(a.isBefore(b), s"timestamps must strictly increase: $a !< $b")
    }
  }

  test("partitioned append deltas + pruned merges reconstruct exactly") {
    val t = pinnedTable("mdelta-part")
    val df = Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "part", "v")
    t.overwrite(df, Seq("part"))
    t.append(Seq((3L, "x", 30.0)).toDF("id", "part", "v"), Seq("part"))
    t.merge(Seq((2L, "y", 99.0)).toDF("id", "part", "v"), Seq("id"), Seq("part"))
    assert(t.readVersion(0L).count() == 2)
    assert(t.readVersion(1L).count() == 3)
    assert(t.read.select("id", "part", "v").as[(Long, String, Double)]
      .collect().toSet ==
      Set((1L, "x", 10.0), (2L, "y", 99.0), (3L, "x", 30.0)))
  }
}
