package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parquet checkpoint manifests (`graft.manifest.checkpointFormat =
  * parquet`, the 1e7-file regime prototype): columnar checkpoint
  * sidecars + pointer manifests, driver-side read/write, reader feature
  * gating, and survival through the swap/retire and retention machinery.
  */
class ParquetCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def mk(dir: String): ManagedTable = {
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    // SYNC single-part shape pinned explicitly (tests assert pointer
    // manifests, deterministic `vNNNNN[.pKKK]` sidecar names, and
    // JSON-after-unset transitions) — ambient soak defaults must not
    // flip the shape; multipart tests override partSize per-table
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "2",
      "graft.manifest.asyncCheckpoint" -> "false",
      "graft.manifest.checkpointPartSize" -> "0"))
    t
  }

  test("checkpoint commits write a parquet sidecar; reconstruction and " +
      "time travel fold through it") {
    val dir = tmpDir("pc-basic")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    // interval 2: several parquet checkpoints must exist, JSON has pointers
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val ckpts = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.parquet"))
    assert(ckpts.nonEmpty, "no parquet checkpoint written")
    assert(t.protocol._1.contains("checkpoint-parquet"))
    // current read and every travelable version reconstruct correctly
    assert(t.read.count() == 6)
    for (v <- 0L to t.version)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v reconstructed wrong row count")
  }

  test("swap-based rewrites remap the parquet checkpoints' rows") {
    val dir = tmpDir("pc-remap")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val vBefore = t.version
    // an overwrite retires the live dir into a snapshot: the unedited
    // historical parquet checkpoints must still find the moved files
    t.overwrite(Seq((99L, "new")).toDF("k", "v"))
    assert(t.read.as[(Long, String)].collect().toSet == Set((99L, "new")))
    for (v <- 0L to vBefore)
      assert(t.readVersion(v).count() == v + 1,
        s"pre-swap version $v must still reconstruct through the unedited " +
          "parquet checkpoint")
  }

  test("a build without the feature refuses the table (reader gate)") {
    val dir = tmpDir("pc-gate")
    val t = mk(dir)
    t.append(Seq((1L, "a")).toDF("k", "v")) // v1: delta manifest
    t.append(Seq((2L, "b")).toDF("k", "v")) // v2: parquet checkpoint
    assert(t.protocol._1.contains("checkpoint-parquet"))
    // simulate the unaware build: the gate is a reader feature, so the
    // refusal machinery is requireReadable (exercised via ProtocolSpec's
    // pattern — here we assert the feature is recorded as READER-side)
    val (r, _) = t.protocol
    assert(r.contains("checkpoint-parquet"))
  }

  test("DROP FEATURE refuses while parquet checkpoints remain, succeeds " +
      "after a JSON re-checkpoint + log cleanup") {
    val dir = tmpDir("pc-drop")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val e1 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet") }
    assert(e1.getMessage.contains("checkpointFormat"))
    // switch the format OFF parquet explicitly (an unset alone would fall
    // through to whatever ambient GRAFT_PROPERTY_DEFAULTS supplies)
    t.setProperties(Map("graft.manifest.checkpointFormat" -> "json"))
    val e2 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet") }
    assert(e2.getMessage.contains("parquet checkpoint"))
    t.compact(numFiles = 1) // JSON-format checkpoint at the head
    t.cleanupLog(t.version) // expires every parquet-checkpoint manifest
    t.dropTableFeature("checkpoint-parquet")
    assert(!t.protocol._1.contains("checkpoint-parquet"))
    assert(t.read.count() == 4)
  }

  test("retention cleanup deletes expired parquet sidecars with their " +
      "manifests") {
    val dir = tmpDir("pc-clean")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    t.cleanupLog(t.version)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val names = fs.listStatus(log).map(_.getPath.getName)
    val horizon = names.filter(_.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).min
    val staleCkpts = names.filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripPrefix("v").stripSuffix(".checkpoint.parquet").toLong)
      .filter(_ < horizon)
    assert(staleCkpts.isEmpty,
      s"expired parquet checkpoints left behind: $staleCkpts")
    assert(t.read.count() == 6) // head still serves
  }
  test("cleanupLog refuses to anchor on a pointer manifest whose sidecar " +
      "is missing") {
    val dir = tmpDir("pc-dangle")
    val t = mk(dir)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    // simulate the remap delete->rename crash window on the v2 checkpoint:
    // the pointer manifest stays, its sidecar is gone
    val dangling = new org.apache.hadoop.fs.Path(log, "v00002.checkpoint.parquet")
    assert(fs.exists(dangling), "test setup: v2 should be a parquet checkpoint")
    fs.delete(dangling, false)
    // horizon request 3 walks back: v3 delta, v2 DANGLING pointer -- the
    // guard must fall through to the intact v0 checkpoint and delete
    // nothing, instead of anchoring on v2 and deleting v0/v1
    t.cleanupLog(3L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "v00000.json")),
      "v0 manifest deleted while the v2 anchor's sidecar is missing")
    assert(t.readVersion(1L).count() == 2)
    assert(t.read.count() == 6)
    // an INTACT later checkpoint still anchors normally
    t.cleanupLog(5L) // rounds down to the intact v4
    assert(!fs.exists(new org.apache.hadoop.fs.Path(log, "v00000.json")))
    assert(t.readVersion(4L).count() == 5)
    assert(t.read.count() == 6)
  }

  // ---- multi-part (v2-style) checkpoints --------------------------------

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def logNames(dir: String): Seq[String] =
    hfs.listStatus(new org.apache.hadoop.fs.Path(dir + "/t._log"))
      .map(_.getPath.getName).toSeq

  private val partRx = """^v(\d+)\.p\d+\.checkpoint\.parquet$""".r

  private def mkMulti(dir: String, partSize: Int): ManagedTable = {
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((0L, "seed")).toDF("k", "v"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "2",
      "graft.manifest.checkpointPartSize" -> partSize.toString,
      // sync COMMIT-path parts (deterministic `vNNNNN.pKKK` names — the
      // partRx these tests grep) — ambient async defaults would route
      // checkpoints through retro maintenance's run-unique names instead
      "graft.manifest.asyncCheckpoint" -> "false"))
    t
  }

  test("checkpointPartSize splits large checkpoints into parts; small " +
      "ones stay single-file; reconstruction folds every version") {
    val dir = tmpDir("pcm-basic")
    val t = mkMulti(dir, partSize = 2)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val names = logNames(dir)
    val parts = names.filter(partRx.matches(_))
    assert(parts.nonEmpty, "no multi-part checkpoint written")
    // the LAST checkpoint (v4, 5 live files, partSize 2) must have split
    // into ceil(5/2)=3 parts
    val lastParts = parts.filter(_.startsWith("v00004."))
    assert(lastParts.sorted == Seq("v00004.p000.checkpoint.parquet",
      "v00004.p001.checkpoint.parquet", "v00004.p002.checkpoint.parquet"))
    // the v2 checkpoint had 3 files > 2 → also split
    assert(parts.exists(_.startsWith("v00002.")))
    assert(t.protocol._1.contains("checkpoint-parquet-multipart"))
    // every version reconstructs through the part fold
    assert(t.read.count() == 6)
    for (v <- 0L to t.version)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v reconstructed wrong row count through parts")
    // threshold honored: a table whose checkpoints never exceed partSize
    // writes only single sidecars
    val dir2 = tmpDir("pcm-thresh")
    val t2 = mkMulti(dir2, partSize = 100)
    for (i <- 1 to 5) t2.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    assert(logNames(dir2).filter(partRx.matches(_)).isEmpty,
      "a checkpoint at or under partSize must stay single-file")
    assert(!t2.protocol._1.contains("checkpoint-parquet-multipart"),
      "the multipart reader feature must not be claimed unless parts exist")
  }

  test("multi-part checkpoints plan identically in the driver fold and " +
      "the distributed venue") {
    val dir = tmpDir("pcm-plan")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(spark.range(1).selectExpr("id as k", "cast(id as double) as x"))
    t.setProperties(Map(
      "graft.manifest.checkpointFormat" -> "parquet",
      "graft.manifest.checkpointInterval" -> "1",
      "graft.manifest.checkpointPartSize" -> "3",
      "graft.metadata.distributedPlanning" -> "always"))
    t.overwrite(spark.range(0, 4000)
      .selectExpr("id as k", "cast(id as double) / 7 as x")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    assert(logNames(dir).count(partRx.matches(_)) == 3, // ceil(8/3)
      "test layout: expected a 3-part checkpoint")
    val dist = t.keptByStatsDistributed(Seq(("k", 100L, 220L)))
    assert(dist.isDefined, "parts must be plannable distributed")
    assert(dist.get.size < 8, "nothing pruned — layout broken")
    t.setProperties(Map("graft.metadata.distributedPlanning" -> "never"))
    val driver = try t.filesOverlapping("k", 100L, 220L)._1.toSet
      finally t.setProperties(Map("graft.metadata.distributedPlanning" -> "always"))
    assert(dist.get.toSet == driver,
      "multi-part distributed and driver prune disagree")
    assert(t.readWhere("k", 100L, 220L).select("k").as[Long]
      .collect().sorted.toSeq == (100L to 220L).toSeq)
  }

  test("cleanupLog reaps part sidecars below the horizon and ONLY below") {
    val dir = tmpDir("pcm-clean")
    val t = mkMulti(dir, partSize = 2)
    for (i <- 1 to 9) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val before = logNames(dir).filter(partRx.matches(_))
    assert(before.map { case partRx(v) => v.toLong }.distinct.size >= 2,
      "test setup: need multi-part checkpoints at several versions")
    t.cleanupLog(t.version)
    val names = logNames(dir)
    val horizon = names.filter(_.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).min
    val staleParts = names.collect { case n @ partRx(v) if v.toLong < horizon => n }
    assert(staleParts.isEmpty, s"expired parts left behind: $staleParts")
    // the anchor checkpoint's own parts must SURVIVE — reconstruction at
    // and above the horizon folds through them
    assert(names.exists(partRx.matches(_)),
      "cleanup deleted the live anchor's parts")
    assert(t.read.count() == 10)
    assert(t.readVersion(horizon).count() == horizon + 1)
  }

  test("DROP FEATURE refuses while multi-part sidecars remain, succeeds " +
      "after unset + JSON re-checkpoint + cleanup") {
    val dir = tmpDir("pcm-drop")
    val t = mkMulti(dir, partSize = 2)
    for (i <- 1 to 5) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val e1 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet-multipart") }
    assert(e1.getMessage.contains("checkpointPartSize"))
    // explicit off-values, not unsets: under ambient defaults an unset
    // key falls back to GRAFT_PROPERTY_DEFAULTS and the drop gate would
    // still (correctly) refuse
    t.setProperties(Map("graft.manifest.checkpointPartSize" -> "0"))
    val e2 = intercept[IllegalArgumentException] {
      t.dropTableFeature("checkpoint-parquet-multipart") }
    assert(e2.getMessage.contains("multi-part"))
    t.setProperties(Map("graft.manifest.checkpointFormat" -> "json"))
    t.compact(numFiles = 1) // JSON checkpoint at the head
    t.cleanupLog(t.version) // expires every part below it
    t.dropTableFeature("checkpoint-parquet-multipart")
    assert(!t.protocol._1.contains("checkpoint-parquet-multipart"))
    t.dropTableFeature("checkpoint-parquet")
    assert(t.read.count() == 6)
  }

  test("cleanupLog reaps crash-orphaned checkpoint part tmp files") {
    val dir = tmpDir("pcm-tmp")
    val t = mkMulti(dir, partSize = 2)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val log = new org.apache.hadoop.fs.Path(dir + "/t._log")
    val orphan = new org.apache.hadoop.fs.Path(log,
      "v00099.p000.checkpoint.parquet.tmp-deadbeef")
    val out = hfs.create(orphan, true)
    try out.write("junk".getBytes("UTF-8")) finally out.close()
    // the reap is AGE-GATED (the lease-free async-checkpoint maintenance
    // writes these tmps without the lock, so a FRESH tmp may be live):
    // a young orphan survives, an hour-old one is crash debris
    t.cleanupLog(0L)
    assert(hfs.exists(orphan), "a fresh tmp may be a live maintenance " +
      "write and must survive the reap")
    hfs.setTimes(orphan, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    t.cleanupLog(0L) // horizon 0: deletes nothing, but the reap sweep runs
    assert(!hfs.exists(orphan), "orphaned part tmp survived cleanupLog")
    assert(t.read.count() == 4)
  }

  test("dir-swap remaps rewrite multi-part checkpoint rows (time travel " +
      "survives an overwrite)") {
    val dir = tmpDir("pcm-remap")
    val t = mkMulti(dir, partSize = 2)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val vBefore = t.version
    t.overwrite(Seq((99L, "new")).toDF("k", "v"))
    assert(t.read.as[(Long, String)].collect().toSet == Set((99L, "new")))
    for (v <- 0L to vBefore)
      assert(t.readVersion(v).count() == v + 1,
        s"pre-swap version $v must reconstruct through the unedited parts")
  }

  test("file-granular retirement (PURGE) remaps parquet checkpoint rows") {
    val dir = tmpDir("pc-purge")
    val t = mk(dir)
    for (i <- 1 to 3) t.append(Seq((i.toLong, s"v$i")).toDF("k", "v"))
    val vBefore = t.version // v3 (delta over the v2 parquet checkpoint)
    t.deleteVectored(col("k") === 1L)
    t.purgeDeletes() // retires the DV'd file; checkpoint rows must still find it
    assert(t.read.count() == 3)
    for (v <- 0L to vBefore)
      assert(t.readVersion(v).count() == v + 1,
        s"version $v must reconstruct across the file-granular retirement")
  }
}
