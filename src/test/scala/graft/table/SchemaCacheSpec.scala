package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The process-wide logical-schema cache (r11): `tableSchemaOpt` must
  * never rebuild a root file index per append (the O(live files) cost
  * stack-sampling found), and must never serve a STALE schema across
  * the two events that change schema without the other key moving —
  * a metadata-only property edit (same version) and a schema-evolving
  * commit (no property edit).
  */
class SchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  test("appends hit the cache; a metadata-only ADD COLUMNS misses by signature") {
    val t = new ManagedTable(spark, tmpDir("sc-cache") + "/t")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v")) // fills + carries the cache
    // metadata-only schema edit: no commit, version unchanged — only the
    // properties signature moves. The NEXT append must conform to the
    // WIDE schema (a stale cache hit would silently drop the new column)
    t.addColumns("score DOUBLE")
    t.append(Seq((3L, "c", 1.5)).toDF("k", "v", "score"))
    val rows = t.read.orderBy("k").collect()
    assert(rows.map(_.length).toSet == Set(3), "appended schema lost a column")
    assert(rows.last.getDouble(2) == 1.5)
    assert(t.read.filter(col("k") === 1L).head().isNullAt(2),
      "pre-ADD rows read the added column as null")
  }

  test("a schema-evolving append is not carried forward; later narrow appends " +
      "and evolved reads stay coherent") {
    val t = new ManagedTable(spark, tmpDir("sc-evolve") + "/t")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v")) // cache filled + carried
    t.append(Seq((3L, "c", 9L)).toDF("k", "v", "extra"),
      allowEvolution = true)
    // evolution did NOT carry the pre-evolution entry: whichever schema
    // the fresh derivation samples, a narrow append conforms cleanly
    // (a stale narrow carry would also pass here — the pinned invariant
    // is no crash and no row loss through the mixed-schema sequence)
    t.append(Seq((4L, "d")).toDF("k", "v"))
    assert(t.read.count() == 4L)
    // the evolved read (mergeSchema, the documented read for
    // evolution-written columns) surfaces every row and the new column
    val ev = t.readEvolved.orderBy("k").collect()
    assert(ev.map(_.length).toSet == Set(3))
    assert(ev.count(!_.isNullAt(ev.head.fieldIndex("extra"))) == 1)
  }

  // ---- PhysicalSchemaCache (r14): the footer-schema twin ------------------
  // `parquetScan` replays the physical footer schema via `rd.schema(...)`
  // instead of re-running parquet schema inference (a footer-reading Spark
  // job per managed read). Same (version, propsSig) key as the logical
  // cache, so the staleness hazards are the same two events.

  test("physical cache: a cross-handle overwrite with a wider footer schema " +
      "is not served stale (version component)") {
    val path = tmpDir("psc-xhandle") + "/t"
    val a = new ManagedTable(spark, path)
    a.overwrite(Seq((1L, "a")).toDF("k", "v"))
    assert(a.read.count() == 1L) // fills the physical cache for this root
    val b = new ManagedTable(spark, path)
    b.overwrite(Seq((2L, "b", 3.5)).toDF("k", "v", "score")) // version bump
    // a stale physical-schema hit would read the new files through the old
    // 2-column footer schema (dropping `score`) — the version key must miss
    val rows = a.read.orderBy("k").collect()
    assert(rows.map(_.length).toSet == Set(3), "stale physical schema served")
    assert(rows.head.getDouble(2) == 3.5)
  }

  test("physical cache: RENAME under column mapping misses by properties " +
      "signature (logical projection moves, version does not)") {
    val path = tmpDir("psc-rename") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.enableColumnMapping()
    assert(t.read.count() == 2L) // fills the cache post-mapping
    t.renameColumn("v", "label") // property edit only — no commit
    val got = t.read.orderBy("k")
    assert(got.columns.toSeq == Seq("k", "label"),
      "rename not visible through the cached scan")
    assert(got.collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("physical cache: the DV scan path stays exact across a delete and a " +
      "subsequent append (both commits move the version key)") {
    val path = tmpDir("psc-dv") + "/t"
    val t = new ManagedTable(spark, path)
    t.overwrite((1L to 10L).map(i => (i, s"r$i")).toDF("k", "v"))
    assert(t.read.count() == 10L)
    t.delete(col("k") <= 3L)
    assert(t.read.count() == 7L, "delete not visible through the cached scan")
    t.append(Seq((11L, "r11")).toDF("k", "v"))
    assert(t.read.count() == 8L)
    assert(t.read.agg(min(col("k"))).head().getLong(0) == 4L)
  }

  test("cross-handle: another handle's metadata-only ADD COLUMNS misses this " +
      "handle's cache by properties signature") {
    val path = tmpDir("sc-xhandle") + "/t"
    val a = new ManagedTable(spark, path)
    a.overwrite(Seq((1L, "a")).toDF("k", "v"))
    a.append(Seq((2L, "b")).toDF("k", "v")) // a's cache filled + carried
    val b = new ManagedTable(spark, path)
    b.addColumns("extra BIGINT") // property edit only — no version bump
    // a's next append conforms against the WIDE schema: the version is
    // unchanged, so only the _props.txt signature in the cache key can
    // catch this — a version-only key would serve a stale narrow schema
    // and silently drop the column
    a.append(Seq((3L, "c", 7L)).toDF("k", "v", "extra"))
    val got = new ManagedTable(spark, path).read.orderBy("k").collect()
    assert(got.map(_.length).toSet == Set(3))
    assert(got.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq ==
      Seq(-1L, -1L, 7L))
  }

  // ---- carrying both entries across the engine's own commits -------------
  // A commit that provably keeps the root scan's schema hands the cached
  // entries to the version it creates, so the next read plans with no
  // Spark job; every other commit leaves the next read to infer once.

  private def jobsDuring[T](body: => T): (T, Int) =
    graft.tools.JobCounter.jobsDuring(spark)(body)

  private def qualifiedRoot(t: ManagedTable): String = {
    val p = new org.apache.hadoop.fs.Path(t.path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** The schema a fresh handle reads with both caches cleared. */
  private def freshSchema(t: ManagedTable) = {
    SchemaCache.invalidate(qualifiedRoot(t))
    PhysicalSchemaCache.invalidate(qualifiedRoot(t))
    new ManagedTable(spark, t.path).read.schema
  }

  /** `read` and a skipping read on `k` plan with no Spark job, and `read`'s
    * schema is the one inference gives.
    */
  private def assertCarried(t: ManagedTable, what: String): Unit = {
    val (r, readJobs) = jobsDuring(t.read)
    assert(readJobs == 0, s"$what: read planned with $readJobs jobs")
    val (_, skipJobs) = jobsDuring(t.readWhere("k", 0L, 3L))
    assert(skipJobs == 0, s"$what: readWhere planned with $skipJobs jobs")
    val carried = r.schema
    assert(carried == freshSchema(t), s"$what: carried ${carried.simpleString}")
  }

  /** `read` plans with exactly one Spark job (the root inference) and
    * reads the schema inference gives.
    */
  private def assertInferredOnce(t: ManagedTable, what: String) = {
    val (r, jobs) = jobsDuring(t.read)
    assert(jobs == 1, s"$what: read planned with $jobs jobs")
    assert(r.schema == freshSchema(t), s"$what: read ${r.schema.simpleString}")
    r.schema
  }

  private def kv(ks: Seq[Long]) = ks.map(k => (k, s"v$k", k % 2)).toDF("k", "v", "p")

  test("schema-preserving commits carry the schema: read and skipping reads " +
      "plan with no job after append, merge, overwrite, compact, cluster, DV delete") {
    val t = new ManagedTable(spark, tmpDir("sc-carry") + "/t")
    t.overwrite(kv(1L to 6L))
    t.read.schema
    t.append(kv(Seq(7L, 8L)))
    assertCarried(t, "append")
    t.merge(kv(Seq(2L, 9L)), Seq("k"))
    assertCarried(t, "unpartitioned merge")
    t.overwrite(kv(1L to 8L))
    assertCarried(t, "same-schema overwrite")
    t.compact(2)
    assertCarried(t, "compact")
    t.cluster("k")
    assertCarried(t, "cluster")
    t.deleteVectored(col("k") === 3L)
    assertCarried(t, "DV delete")
    assert(t.read.orderBy("k").as[(Long, String, Long)].collect().map(_._1).toSeq ==
      Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L))
    // the new files carry a declared column older footers lack: the read
    // serves it from the declaration whichever footer inference samples
    t.addColumns("score DOUBLE")
    t.read.schema
    t.append(kv(Seq(11L)).withColumn("score", lit(1.5)))
    assertCarried(t, "append after ADD COLUMNS")
    assert(t.read.filter(col("k") === 11L).select("score").as[Double].head() == 1.5)

    val pt = new ManagedTable(spark, tmpDir("sc-carry-part") + "/t")
    pt.overwrite(kv(1L to 6L), Seq("p"))
    pt.read.schema
    pt.append(kv(Seq(7L, 8L)))
    assertCarried(pt, "partitioned append")
    pt.merge(kv(Seq(2L, 10L)), Seq("k"), Seq("p"))
    assertCarried(pt, "partitioned merge")
    assert(pt.read.count() == 9L)
  }

  test("evolving, schema-changing and adopting commits infer once and read " +
      "the new schema") {
    val t = new ManagedTable(spark, tmpDir("sc-miss") + "/t")
    t.overwrite(kv(1L to 4L))
    t.read.schema
    t.append(Seq((5L, "v5", 1L, 0.5)).toDF("k", "v", "p", "extra"),
      allowEvolution = true)
    assertInferredOnce(t, "evolving append")
    t.merge(Seq((6L, "v6", 0L, 1.5, "z")).toDF("k", "v", "p", "extra", "tag"),
      Seq("k"), allowEvolution = true)
    assert(assertInferredOnce(t, "evolving merge").fieldNames.contains("tag"))
    t.overwrite(Seq((1L, "a", 2.5)).toDF("k", "v", "score"))
    assert(assertInferredOnce(t, "overwrite with a new schema").fieldNames.toSeq ==
      Seq("k", "v", "score"))
    t.addColumns("note STRING")
    assert(assertInferredOnce(t, "ADD COLUMNS").fieldNames.contains("note"))
    t.restore(0)
    // the data rolls back; the ADD COLUMNS declaration stays
    assert(assertInferredOnce(t, "RESTORE").fieldNames.toSeq == Seq("k", "v", "p", "note"))
    // a file the engine did not write, adopted by a RECOVER commit
    val stray = tmpDir("sc-stray") + "/s"
    Seq((9L, "v9", 1L)).toDF("k", "v", "p").coalesce(1).write.parquet(stray)
    val fs = new org.apache.hadoop.fs.Path(stray)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stray))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(t.path, "stray-" + part.getName))
    t.read.schema
    t.bootstrap()
    assert(t.history(1).head().getAs[String]("operation") == "RECOVER")
    assertInferredOnce(t, "RECOVER")
    assert(t.read.filter(col("k") === 9L).count() == 1L)
  }

  test("a partition value that retypes the partition column is not carried") {
    val t = new ManagedTable(spark, tmpDir("sc-retype") + "/t")
    t.overwrite(Seq((1L, "1"), (2L, "2")).toDF("k", "p"), Seq("p"))
    assert(t.read.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    t.append(Seq((3L, "x")).toDF("k", "p"), Seq("p"))
    val (r, jobs) = jobsDuring(t.read)
    assert(jobs == 1, s"read after the retyping append planned with $jobs jobs")
    assert(r.schema("p").dataType == org.apache.spark.sql.types.StringType)
    assert(r.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "1"), (2L, "2"), (3L, "x")))
  }

  test("a property edit that touches no schema-bearing key keeps both entries") {
    val t = new ManagedTable(spark, tmpDir("sc-props") + "/t")
    t.overwrite(kv(1L to 4L))
    t.append(kv(Seq(5L)))
    t.read.schema
    t.setProperties(Map("graft.manifest.checkpointInterval" -> "7"))
    val (_, readJobs) = jobsDuring(t.read)
    assert(readJobs == 0, s"read after the edit planned with $readJobs jobs")
    val (_, firstJobs) = jobsDuring(t.append(kv(Seq(6L))))
    val (_, nextJobs) = jobsDuring(t.append(kv(Seq(7L))))
    assert(firstJobs == nextJobs,
      s"the first append after the edit ran $firstJobs jobs, the next $nextJobs")
    assertCarried(t, "append after a property edit")
  }
}
