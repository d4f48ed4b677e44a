package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read DELETE via deletion vectors: correctness of every read
  * path, no-rewrite guarantee, time travel, materialization by compaction,
  * and survival of the live-dir rename that OVERWRITE/RESTORE perform.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) =
    new ManagedTable(spark, tmpDir(name) + "/t")

  test("DvCodec round-trips sparse, dense and empty index sets") {
    for (idxs <- Seq(Array.empty[Long], Array(0L), Array(0L, 1L, 2L, 3L),
                     Array(7L, 1000000L, 1000001L, 123456789012L))) {
      assert(DvCodec.decode(DvCodec.encode(idxs)).toSeq == idxs.toSeq)
    }
    assert(DvCodec.merge(Array(1L, 5L, 9L), Array(0L, 5L, 10L)).toSeq ==
      Seq(0L, 1L, 5L, 9L, 10L))
  }

  test("deleteVectored removes rows from read without rewriting any file") {
    val t = freshTable("dv-basic")
    t.overwrite(spark.range(1000).toDF("id").repartition(4))
    val filesBefore = t.detail().select("num_files").as[Long].head()
    val v0 = t.version
    t.deleteVectored(col("id") % 10 === 3)
    // no data file rewritten, none added
    assert(t.detail().select("num_files").as[Long].head() == filesBefore)
    assert(t.read.count() == 900)
    assert(t.read.filter(col("id") % 10 === 3).count() == 0)
    assert(t.read.agg(sum("id")).as[Long].head() ==
      (0L until 1000L).filter(_ % 10 != 3).sum)
    // history logs a DELETE with the LOGICAL row count
    val h = t.history(1).select("operation", "rowCount").collect()(0)
    assert(h.getString(0) == "DELETE" && h.getLong(1) == 900L)
    // the pre-delete version still reads in full
    assert(t.readVersion(v0).count() == 1000)
  }

  test("second deleteVectored merges bitmaps; overlapping marks are idempotent") {
    val t = freshTable("dv-merge")
    t.overwrite(spark.range(100).toDF("id").repartition(2))
    t.deleteVectored(col("id") < 20)
    t.deleteVectored(col("id") < 40) // overlaps [0,20) already deleted
    assert(t.read.count() == 60)
    assert(t.deletionVectors.values.sum == 40L)
    // marks matching nothing commit nothing
    val v = t.version
    t.deleteVectored(col("id") < 40)
    assert(t.version == v)
  }

  test("appends after a vectored delete keep old bitmaps and add clean rows") {
    val t = freshTable("dv-append")
    t.overwrite(spark.range(100).toDF("id"))
    t.deleteVectored(col("id") >= 90)
    t.append(spark.range(100, 120).toDF("id"))
    assert(t.read.count() == 110)
    assert(t.read.filter(col("id") >= 90 && col("id") < 100).count() == 0)
    assert(t.read.filter(col("id") >= 100).count() == 20)
  }

  test("compact materializes the deletes and clears the vectors") {
    val t = freshTable("dv-compact")
    t.overwrite(spark.range(500).toDF("id").repartition(8))
    t.deleteVectored(col("id") % 2 === 1)
    assert(t.deletionVectors.nonEmpty)
    t.compact(2)
    assert(t.deletionVectors.isEmpty)
    assert(t.read.count() == 250)
    assert(t.read.filter(col("id") % 2 === 1).count() == 0)
  }

  test("overwrite after a vectored delete: DV'd version still time-travels") {
    val t = freshTable("dv-travel")
    t.overwrite(spark.range(100).toDF("id"))
    t.deleteVectored(col("id") < 50)
    val vDv = t.version
    // OVERWRITE renames the live dir into a retained snapshot — the DV
    // snapshot's committed-path keys must still reach the moved files
    t.overwrite(spark.range(200, 210).toDF("id"))
    assert(t.read.count() == 10)
    assert(t.readVersion(vDv).count() == 50)
    assert(t.readVersion(vDv).agg(min("id")).as[Long].head() == 50L)
  }

  test("restore to a DV'd version materializes its logical state") {
    val t = freshTable("dv-restore")
    t.overwrite(spark.range(100).toDF("id"))
    t.deleteVectored(col("id") < 30)
    val vDv = t.version
    t.overwrite(spark.range(1000, 1005).toDF("id"))
    t.restore(vDv)
    assert(t.read.count() == 70)
    assert(t.read.agg(min("id")).as[Long].head() == 30L)
    assert(t.deletionVectors.isEmpty) // restore rewrites, so no bitmaps
  }

  test("readWhere and readPoint filter through deletion vectors") {
    val t = freshTable("dv-skip")
    t.overwrite(spark.range(1000).toDF("id").repartition(4))
    t.addBloomIndex("id", expectedItemsPerFile = 1000)
    t.deleteVectored(col("id") === 123 || col("id") === 456)
    assert(t.readWhere("id", 100L, 200L).count() == 100) // 101 minus deleted 123
    assert(t.readPoint("id", 123L).count() == 0)
    assert(t.readPoint("id", 124L).count() == 1)
  }

  test("merge upsert on a DV'd table does not resurrect deleted rows") {
    val t = freshTable("dv-upsert")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    t.deleteVectored(col("k") === 2)
    t.merge(Seq((3L, "C"), (4L, "D")).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "C"), (4L, "D")))
  }

  test("changes() across a vectored delete classifies the rows as deletes") {
    val t = freshTable("dv-cdf")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val v0 = t.version
    t.deleteVectored(col("k") <= 2)
    val ch = t.changes(v0, t.version, Seq("k"))
    assert(ch.filter(col("change_type") === "delete").count() == 2)
    assert(ch.filter(col("change_type") === "insert").count() == 0)
  }

  test("deep clone of a DV'd table carries the vectors") {
    val t = freshTable("dv-clone")
    t.overwrite(spark.range(100).toDF("id"))
    t.deleteVectored(col("id") < 25)
    val c = t.cloneTo(tmpDir("dv-clone-dst") + "/c")
    assert(c.read.count() == 75)
    assert(c.read.agg(min("id")).as[Long].head() == 25L)
    assert(c.deletionVectors.values.sum == 25L)
    // clone's vectors are independent of the source's
    c.deleteVectored(col("id") >= 90)
    assert(c.read.count() == 65)
    assert(t.read.count() == 75)
  }

  test("partitioned table: vectored delete in one partition, swap in another") {
    val t = freshTable("dv-part")
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y")).toDF("k", "p")
    t.overwrite(df, Seq("p"))
    t.deleteVectored(col("k") === 1)
    assert(t.read.count() == 3)
    // partition-pruned MERGE touching only p=y must keep p=x's bitmap
    t.merge(Seq((5L, "y")).toDF("k", "p"), Seq("k"), Seq("p"))
    assert(t.read.orderBy("k").select("k").as[Long].collect().toSeq ==
      Seq(2L, 3L, 4L, 5L))
  }

  test("DV filter keeps predicate pushdown and whole-stage codegen") {
    val t = freshTable("dv-plan")
    t.overwrite(spark.range(1000).toDF("id"))
    t.deleteVectored(col("id") === 5)
    val plan = t.read.filter(col("id") > 500).queryExecution.executedPlan.toString
    // the user predicate still reaches the parquet scan…
    assert(plan.contains("GreaterThan(id,500)"), plan)
    // …and the dv probe runs inside a codegen'd filter ("*(n)" spans mark
    // whole-stage codegen in the executed-plan rendering), not a fallback
    assert(plan.contains("*(1) Filter"), plan)
    assert(plan.contains("dv_deleted"), plan)
  }

  test("purgeDeletes rewrites ONLY the files carrying vectors") {
    val t = freshTable("dv-purge")
    // range layout so the delete lands in a known file subset
    t.overwrite(spark.range(1000).toDF("id")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    t.deleteVectored(col("id") < 100) // ≤ 1–2 of the 8 files carry bitmaps
    val dvFiles = t.deletionVectors.keySet
    assert(dvFiles.nonEmpty && dvFiles.size < 4)
    val before = t.detail().select("num_files").as[Long].head()
    val vDv = t.version
    val untouched = spark.read.parquet(t.path)
      .select(input_file_name()).distinct().as[String].collect().toSet
      .filterNot(f => dvFiles.exists(d => f.endsWith(d.split('/').last)))
    t.purgeDeletes()
    // vectors gone, logical content unchanged
    assert(t.deletionVectors.isEmpty)
    assert(t.read.count() == 900)
    assert(t.read.agg(min("id")).as[Long].head() == 100L)
    // files without vectors were not rewritten
    val after = spark.read.parquet(t.path)
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(untouched.subsetOf(after))
    // the DV'd version still time-travels (file-granular retirement)
    assert(t.readVersion(vDv).count() == 900)
    assert(t.readVersion(vDv - 1).count() == 1000)
    assert(t.history(1).select("operation").as[String].head() == "PURGE")
    // purge on a vector-free table is a no-op commit-wise
    val v = t.version
    t.purgeDeletes()
    assert(t.version == v)
    // second delete after purge starts fresh bitmaps
    t.deleteVectored(col("id") >= 950)
    assert(t.read.count() == 850)
  }

  test("updateVectored appends replacements and marks old copies") {
    val t = freshTable("dv-update")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
      .repartition(3))
    val filesBefore = t.detail().select("num_files").as[Long].head()
    t.updateVectored(col("k") >= 2, Map("v" -> (col("v") * 10)))
    assert(t.read.orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 200.0), (3L, 300.0)))
    // old files untouched, replacements appended as new files
    assert(t.detail().select("num_files").as[Long].head() > filesBefore)
    assert(t.deletionVectors.values.sum == 2L)
    assert(t.history(1).select("operation").as[String].head() == "UPDATE")
    // a second update compounds on the CURRENT values, not resurrected ones
    t.updateVectored(col("k") === 2, Map("v" -> (col("v") + 1)))
    assert(t.read.orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 201.0), (3L, 300.0)))
    // matching nothing commits nothing
    val v = t.version
    t.updateVectored(col("k") === 99, Map("v" -> lit(0.0)))
    assert(t.version == v)
  }

  test("mergeVectored upserts with write cost on the source side only") {
    val t = freshTable("dv-mor-merge")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(3))
    t.mergeVectored(Seq((2L, "B"), (4L, "D")).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    assert(t.deletionVectors.values.sum == 1L) // old copy of k=2
    assert(t.history(1).select("operation").as[String].head() == "MERGE")
    // idempotent: merging the same batch again displaces its own appends
    t.mergeVectored(Seq((2L, "B"), (4L, "D")).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    // insert-only merge (no matched keys) carries vectors, adds rows
    t.mergeVectored(Seq((5L, "E")).toDF("k", "v"), Seq("k"))
    assert(t.read.count() == 5)
    // compaction materializes everything back to a vector-free table
    t.compact(1)
    assert(t.deletionVectors.isEmpty)
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D"), (5L, "E")))
  }

  test("compactSmall bin-packs only undersized files and purges their vectors") {
    val t = freshTable("dv-compact-small")
    // one big-ish file plus many small appends (the streaming-ingest shape)
    t.overwrite(spark.range(10000).toDF("id").coalesce(1))
    for (i <- 0 until 4)
      t.append(spark.range(10000 + i * 10, 10000 + i * 10 + 10).toDF("id").coalesce(1))
    val bigFile = spark.read.parquet(t.path).select(input_file_name())
      .groupBy("input_file_name()").count()
      .orderBy(desc("count")).limit(1)
      .collect()(0).getString(0)
    t.deleteVectored(col("id") === 10001L) // lands in a small file
    t.compactSmall(minFileBytes = 10L * 1024) // the 10 k-row file is bigger
    // small files merged, vectors purged, content right
    assert(t.deletionVectors.isEmpty)
    assert(t.read.count() == 10039)
    assert(t.history(1).select("operation").as[String].head() == "OPTIMIZE")
    // the right-sized file was not rewritten (same physical path survives)
    val after = spark.read.parquet(t.path).select(input_file_name())
      .distinct().as[String].collect().toSet
    assert(after.contains(bigFile))
    assert(after.size < 5) // 1 untouched + packed bin(s)
    // idempotent: second run has < 2 qualifying files and commits nothing
    val v = t.version
    t.compactSmall(minFileBytes = 1L) // nothing under 1 byte
    assert(t.version == v)
  }

  test("SQL OPTIMIZE WHERE compacts only the matching partitions") {
    val t = freshTable("dv-opt-where")
    val df = spark.range(100).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
    t.overwrite(df.repartition(4), Seq("p"))
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(dir: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"${t.path}/$dir"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val p1Before = filesIn("p=1")
    assert(filesIn("p=0").size > 1)
    graft.sql.GraftSql.sql(spark,
      s"OPTIMIZE graft.`${t.path}` WHERE p = '0'")
    // matched partition compacted to one file; unmatched untouched
    assert(filesIn("p=0").size == 1)
    assert(filesIn("p=1") == p1Before)
    assert(t.read.count() == 100)
  }

  test("table properties round-trip and reach detail()") {
    val t = freshTable("dv-props")
    t.overwrite(spark.range(5).toDF("id"))
    t.setProperties(Map("graft.enableDeletionVectors" -> "true", "owner" -> "dp"))
    assert(t.properties("graft.enableDeletionVectors") == "true")
    t.unsetProperties(Seq("owner"))
    assert(!t.properties.contains("owner"))
    val props = t.detail().select("properties").as[Seq[String]].head()
    assert(props.contains("prop:graft.enableDeletionVectors=true"))
  }

  test("vectored delete and append serialize under the lease wait") {
    val t0 = freshTable("dv-race")
    t0.overwrite(spark.range(100).toDF("id"))
    val t1 = new ManagedTable(spark, t0.path).withLeaseWait(30000)
    val t2 = new ManagedTable(spark, t0.path).withLeaseWait(30000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new Runnable {
        def run(): Unit = t1.deleteVectored(col("id") < 50) })
      val f2 = pool.submit(new Runnable {
        def run(): Unit = t2.append(spark.range(100, 150).toDF("id")) })
      f1.get(); f2.get()
    } finally pool.shutdown()
    // either order: 50 survivors of the original rows + 50 appended
    assert(t0.read.count() == 100)
    assert(t0.read.filter(col("id") < 50).count() == 0)
    val ops = t0.history().select("operation").as[String].collect().toSet
    assert(ops.contains("DELETE") && ops.contains("APPEND"))
  }

  test("zero-retention vacuum keeps current DV reads intact") {
    val t = freshTable("dv-vacuum")
    t.overwrite(spark.range(100).toDF("id"))
    t.deleteVectored(col("id") < 10)
    t.overwrite(spark.range(200, 205).toDF("id"))
    t.vacuumVersions()
    assert(t.read.count() == 5)
    intercept[Exception](t.readVersion(1).count())
  }

  test("DvCodec round-trips and merges arbitrary index sets (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val genIdxs = Gen.listOf(Gen.chooseNum(0L, 1L << 40)).map(_.distinct.sorted.toArray)
    val prop = Prop.forAll(genIdxs, genIdxs) { (a: Array[Long], b: Array[Long]) =>
      val rt = DvCodec.decode(DvCodec.encode(a)).toSeq == a.toSeq
      val mg = DvCodec.merge(a, b).toSeq == (a.toSet ++ b.toSet).toSeq.sorted
      rt && mg
    }
    val res = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("a stale staged DV snapshot from a crashed writer cannot corrupt the next commit") {
    val t = freshTable("dv-stale")
    t.overwrite(spark.range(100).toDF("id"))
    // simulate a writer that crashed between staging the next version's DV
    // snapshot and writing the manifest: orphan dv file for version+1
    val logDir = new org.apache.hadoop.fs.Path(t.path + "._log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(logDir, f"_dv/v${t.version + 1}%05d.txt")
    fs.mkdirs(orphan.getParent)
    val out = fs.create(orphan, true)
    try out.write("bogus%2Fpath\t3\tAQEB".getBytes("UTF-8")) finally out.close()
    // the next commit at that version must replace/ignore the orphan
    t.append(spark.range(100, 120).toDF("id"))
    assert(t.read.count() == 120)
    assert(t.deletionVectors.isEmpty)
    // and a real vectored delete afterwards behaves normally
    t.deleteVectored(col("id") < 10)
    assert(t.read.count() == 110)
  }

  test("a fully-deleted file is pruned from skipping-path scans") {
    val t = freshTable("dv-empty-file")
    // range layout: ids 0..99 land in the first file alone
    t.overwrite(spark.range(400).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    t.deleteVectored(col("id") < 100) // empties exactly one file
    val (kept, all) = t.filesOverlapping("id", 0L, 399L)
    assert(all.size == 4 && kept.size == 3)
    assert(t.readWhere("id", 0L, 399L).count() == 300)
    assert(t.readWhere("id", 0L, 50L).count() == 0)
  }

  test("detail() surfaces deletion-vector state in properties") {
    val t = freshTable("dv-detail")
    t.overwrite(spark.range(10).toDF("id"))
    t.deleteVectored(col("id") === 0)
    val props = t.detail().select("properties").as[Seq[String]].head()
    assert(props.exists(_.startsWith("deletionVectors:files=1,rows=1")))
  }
}
