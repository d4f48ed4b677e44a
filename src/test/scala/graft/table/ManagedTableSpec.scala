package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ManagedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) =
    new ManagedTable(spark, tmpDir(name) + "/t")

  test("overwrite then read round-trips") {
    val t = freshTable("mt-rw")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(t.exists)
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("merge upserts: source wins on matched keys, inserts new keys") {
    val t = freshTable("mt-merge")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.merge(Seq((2L, "B"), (3L, "C")).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("merge is idempotent (same source twice)") {
    val t = freshTable("mt-idem")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val src = Seq((1L, "A"), (2L, "B")).toDF("k", "v")
    t.merge(src, Seq("k"))
    val once = t.read.orderBy("k").collect().toSeq
    t.merge(src, Seq("k"))
    assert(t.read.orderBy("k").collect().toSeq == once)
  }

  test("mergeInsertOnly never updates existing rows") {
    val t = freshTable("mt-ins")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.mergeInsertOnly(Seq((1L, "A"), (2L, "B")).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
  }

  test("merge on empty (nonexistent) table bootstraps from source") {
    val t = freshTable("mt-boot")
    t.merge(Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    assert(t.read.count() == 1)
  }

  test("compact reduces file count, preserves rows (A/B invariance)") {
    val t = freshTable("mt-compact")
    t.overwrite(spark.range(1000).repartition(16).toDF("id"))
    val before = t.read.agg(sum("id"), count(lit(1))).collect()(0)
    assert(t.detail().select("num_files").as[Long].head() >= 16)
    t.compact(2)
    assert(t.detail().select("num_files").as[Long].head() <= 2)
    assert(t.read.agg(sum("id"), count(lit(1))).collect()(0) == before)
  }

  test("cluster preserves result multiset (reference cell 26 A/B check)") {
    val t = freshTable("mt-cluster")
    val df = spark.range(1000)
      .withColumn("cat", (col("id") % 7).cast("string"))
      .withColumn("amt", col("id") * 3 % 101)
    t.overwrite(df)
    val probe = () => t.read.filter(col("amt") > 50 && col("cat") === "3")
      .agg(count(lit(1)), sum("amt")).collect()(0)
    val before = probe()
    t.cluster("cat", "amt")
    assert(probe() == before)
    assert(t.read.count() == 1000)
  }

  test("partitioned merge rewrites only affected partitions") {
    val t = freshTable("mt-partmerge")
    t.overwrite(Seq((1L, "a", "v1"), (2L, "b", "v2"), (3L, "c", "v3"))
      .toDF("k", "p", "v"), Seq("p"))
    def filesIn(part: String) =
      new java.io.File(t.path + s"/p=$part").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val cBefore = filesIn("c")
    // key 1 moves partition a->b; key 4 is new in partition b
    t.merge(Seq((1L, "b", "V1"), (4L, "b", "V4")).toDF("k", "p", "v"),
      Seq("k"), Seq("p"))
    val got = t.read.select("k", "p", "v").orderBy("k")
      .as[(Long, String, String)].collect().toSeq
    val byKey = got.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byKey(1L) == ("b", "V1")) // moved + updated, old copy gone
    assert(byKey(2L) == ("b", "v2"))
    assert(byKey(3L) == ("c", "v3"))
    assert(byKey(4L) == ("b", "V4"))
    assert(got.size == 4)
    // partition c held no matched keys and no source rows: untouched files
    assert(filesIn("c") == cBefore)
  }

  test("partitioned merge handles escaped and null partition values") {
    // Spark writes "pt BR:1" as an escaped dir and null as
    // __HIVE_DEFAULT_PARTITION__; retiring affected partitions must find
    // those dirs or matched keys would silently duplicate on append.
    val t = freshTable("mt-escpart")
    // k=4 is an UNMATCHED row sharing the null partition with matched k=3:
    // it must survive the partition's retire-and-rewrite (null-safe semi join)
    t.overwrite(Seq((1L, Some("pt BR:1"), "a"), (2L, Some("en"), "b"),
      (3L, None: Option[String], "c"), (4L, None: Option[String], "d"))
      .toDF("k", "p", "v"), Seq("p"))
    t.merge(Seq((1L, Some("pt BR:1"), "A"), (3L, None: Option[String], "C"))
      .toDF("k", "p", "v"), Seq("k"), Seq("p"))
    val got = t.read.select("k", "p", "v").orderBy("k")
      .as[(Long, Option[String], String)].collect().toSeq
    assert(got == Seq((1L, Some("pt BR:1"), "A"), (2L, Some("en"), "b"),
      (3L, None, "C"), (4L, None, "d")), got)
    // and the pre-merge snapshot still time-travels despite the escaped dirs
    assert(t.readVersion(0).count() == 4)
  }

  test("partitioned overwrite prunes partitions on read") {
    val t = freshTable("mt-part")
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("k", "d")
    t.overwrite(df, Seq("d"))
    val pruned = t.read.filter(col("d") === "2024-01-01")
    assert(pruned.count() == 1)
    // partition filter must reach the scan, not a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [IsNotNull(d)"), plan)
  }

  test("deleteScoped rewrites only the matched partitions") {
    val t = freshTable("mt-delscope")
    t.overwrite(Seq((1L, "2024-01", 5.0), (2L, "2024-01", 50.0),
      (3L, "2024-02", 50.0)).toDF("k", "m", "v"), Seq("m"))
    def filesIn(part: String) =
      new java.io.File(t.path + s"/m=$part").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val febBefore = filesIn("2024-02")
    t.deleteScoped(col("m") === "2024-01", col("v") > 10.0, Seq("m"))
    assert(t.read.select("k").as[Long].collect().toSet == Set(1L, 3L))
    // the untouched partition's files are bit-identical (never rewritten)
    assert(filesIn("2024-02") == febBefore)
    // history shows a DELETE commit; pre-delete snapshot still readable
    assert(t.history(1).collect().head.getAs[String]("operation") == "DELETE")
    assert(t.readVersion(0).count() == 3)
  }

  test("updateScoped applies set only inside matched partitions") {
    val t = freshTable("mt-updscope")
    t.overwrite(Seq((1L, "a", 5.0), (2L, "a", 50.0), (3L, "b", 50.0))
      .toDF("k", "p", "v"), Seq("p"))
    t.updateScoped(col("p") === "a", col("v") > 10.0,
      Map("v" -> (col("v") * 2)), Seq("p"))
    assert(t.read.orderBy("k").select("k", "v").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 5.0), (2L, 100.0), (3L, 50.0)))
  }

  test("delete removes matching rows, keeps null-cond rows") {
    val t = freshTable("mt-del")
    t.overwrite(Seq((1L, Some(5.0)), (2L, Some(50.0)), (3L, None))
      .toDF("k", "v"))
    t.delete(col("v") > 10.0)
    assert(t.read.select("k").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("update applies set expressions only to matching rows") {
    val t = freshTable("mt-upd")
    t.overwrite(Seq((1L, 5.0), (2L, 50.0)).toDF("k", "v"))
    t.update(col("k") === 2L, Map("v" -> (col("v") * 2)))
    assert(t.read.orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 5.0), (2L, 100.0)))
  }

  test("vacuum removes orphan tmp/old dirs, keeps the table") {
    val t = freshTable("mt-vac")
    t.overwrite(spark.range(10).toDF("id"))
    val orphan = new java.io.File(t.path + ".tmp-dead")
    orphan.mkdirs()
    t.vacuum()
    assert(!orphan.exists)
    assert(t.read.count() == 10)
  }

  test("schema evolution: appended column surfaces via readEvolved") {
    val t = freshTable("mt-evolve")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), allowEvolution = true)
    val evolved = t.readEvolved.orderBy("k")
    assert(evolved.columns.toSet == Set("k", "v", "score"))
    val rows = evolved.collect()
    assert(rows(0).isNullAt(2))              // old file -> null score
    assert(rows(1).getDouble(2) == 9.5)
  }

  test("schema enforcement: drifted appends fail loudly, compatible ones align") {
    val t = freshTable("mt-enforce")
    t.overwrite(Seq((1L, "a", 1.5)).toDF("k", "v", "score"))
    // extra column without evolution: rejected before any file is written
    intercept[IllegalArgumentException] {
      t.append(Seq((2L, "b", 2.5, true)).toDF("k", "v", "score", "flag"))
    }
    assert(t.read.count() == 1) // nothing leaked into the directory
    // incompatible type: rejected
    intercept[IllegalArgumentException] {
      t.append(Seq(("oops", "b", 2.5)).toDF("k", "v", "score"))
    }
    // missing column null-fills; up-castable int widens to the table's long
    t.append(Seq((3, "c")).toDF("k", "v"))
    val got = t.read.orderBy("k").select("k", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", Some(1.5)), (3L, "c", None)))
  }

  test("detail reports files and bytes") {
    val t = freshTable("mt-detail")
    t.overwrite(spark.range(10).toDF("id"))
    val row = t.detail().collect()(0)
    assert(row.getAs[Long]("num_files") >= 1)
    assert(row.getAs[Long]("size_in_bytes") > 0)
  }

  test("detail has the reference's DESCRIBE DETAIL field surface") {
    val t = freshTable("mt-detail2")
    t.overwrite(Seq((1L, "x", "a"), (2L, "y", "b")).toDF("k", "v", "p"), Seq("p"))
    val row = t.detail().collect()(0)
    assert(row.getAs[String]("format") == "parquet")
    assert(row.getAs[String]("location") == t.path)
    assert(row.getSeq[String](row.fieldIndex("partition_columns")) == Seq("p"))
    assert(row.getAs[Long]("version") == 0L)
    assert(row.getAs[String]("created_at") != null)
    assert(row.getAs[String]("last_modified") != null)
    // detail surfaces the EFFECTIVE property set, which under a soak's
    // GRAFT_PROPERTY_DEFAULTS includes the ambient defaults — the
    // assertion is about TABLE-declared entries, so filter those out
    val ambient = ManagedTable.propertyDefaults
      .map { case (k, v) => s"prop:$k=$v" }.toSet
    assert(row.getSeq[String](row.fieldIndex("properties"))
      .filterNot(ambient).isEmpty)
    // declared constraints/generated columns surface as properties
    t.addConstraint("k_pos", "k > 0")
    val row2 = t.detail().collect()(0)
    assert(row2.getSeq[String](row2.fieldIndex("properties"))
      .filterNot(ambient) == Seq("check:k_pos=k > 0"))
  }

  test("history records every mutation with operation + stats, latest first") {
    val t = freshTable("mt-hist")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.merge(Seq((2L, "B"), (3L, "C")).toDF("k", "v"), Seq("k"))
    t.compact(1)
    val h = t.history().collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("OPTIMIZE", "MERGE", "OVERWRITE"))
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(2L, 1L, 0L))
    assert(h.forall(_.getAs[Long]("rowCount") >= 2L))
    assert(t.history(1).collect().head.getAs[Long]("version") == 2L)
  }

  test("readVersion time-travels across overwrite, append, merge, compact") {
    val t = freshTable("mt-tt")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                       // v0
    t.append(Seq((2L, "b")).toDF("k", "v"))                          // v1
    t.merge(Seq((1L, "A"), (3L, "c")).toDF("k", "v"), Seq("k"))      // v2
    t.compact(1)                                                     // v3
    def at(v: Long) = t.readVersion(v).orderBy("k").as[(Long, String)].collect().toSeq
    assert(at(0) == Seq((1L, "a")))
    assert(at(1) == Seq((1L, "a"), (2L, "b")))
    assert(at(2) == Seq((1L, "A"), (2L, "b"), (3L, "c")))
    assert(at(3) == at(2)) // compaction preserves content
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq == at(3))
  }

  test("readVersion on a partitioned table after a partition-pruned merge") {
    val t = freshTable("mt-tt-part")
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), Seq("p")) // v0
    t.merge(Seq((2L, "B", "p2"), (3L, "c", "p3")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v1
    val v0 = t.readVersion(0).orderBy("k").select("k", "v", "p")
      .as[(Long, String, String)].collect().toSeq
    assert(v0 == Seq((1L, "a", "p1"), (2L, "b", "p2")))
    val v1 = t.readVersion(1).orderBy("k").select("k", "v", "p")
      .as[(Long, String, String)].collect().toSeq
    assert(v1 == Seq((1L, "a", "p1"), (2L, "B", "p2"), (3L, "c", "p3")))
  }

  test("changes(v1, v2) classifies the delta between two versions") {
    val t = freshTable("mt-cdf")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "v"))   // v0
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))        // v1
    t.delete(col("k") === 4L)                                          // v2
    val cdf = t.changes(0, 2, Seq("k"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(cdf == Map(1L -> "unchanged", 2L -> "update",
      3L -> "insert", 4L -> "delete"))
  }

  test("readAsOf resolves the latest version at or before a timestamp") {
    val t = freshTable("mt-asof")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                          // v0
    val betweenTs = java.time.Instant.now().toString
    Thread.sleep(5)
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))                          // v1
    assert(t.readAsOf(betweenTs).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    assert(t.readAsOf(java.time.Instant.now().toString)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    intercept[IllegalArgumentException] {
      t.readAsOf("2000-01-01T00:00:00Z")
    }
  }

  test("readVersion preserves each version's own schema across evolution") {
    val t = freshTable("mt-tt-schema")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                          // v0: 2 cols
    t.overwrite(Seq((1L, "a", 9.5)).toDF("k", "v", "score"))            // v1: 3 cols
    assert(t.readVersion(0).columns.toSeq == Seq("k", "v"))
    assert(t.readVersion(1).columns.toSeq == Seq("k", "v", "score"))
    assert(t.readVersion(0).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("vacuumVersions drops retained snapshots; current read unaffected") {
    val t = freshTable("mt-vac")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))
    assert(t.readVersion(0).count() == 1)
    t.vacuumVersions()
    intercept[IllegalStateException] { t.readVersion(0).count() }
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("out-of-band writes are recorded as a RECOVER version before mutating") {
    val t = freshTable("mt-recover")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                       // v0
    // an external writer (or a crash between swap and commit) changes the
    // live dir without a log entry
    Seq((9L, "z")).toDF("k", "v").write.mode("append").parquet(t.path)
    // manifest-is-truth trust model: consistency is verified at trust
    // BOUNDARIES (a fresh handle, an external commit, explicit
    // bootstrap()), not by a per-mutation dir listing — so the detecting
    // mutation comes through a fresh handle, the crash-recovery shape
    // (the handle that died is gone; the next job opens its own)
    val t2 = new ManagedTable(spark, t.path)
    t2.merge(Seq((2L, "b")).toDF("k", "v"), Seq("k"))                // RECOVER + MERGE
    assert(t2.history().collect().map(_.getAs[String]("operation")).toSeq ==
      Seq("MERGE", "RECOVER", "OVERWRITE"))
    // the recovered intermediate state is itself time-travelable
    assert(t2.readVersion(1).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (9L, "z")))
    assert(t2.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "z")))
  }

  test("handle trust: same-handle mutations skip the consistency listing; explicit bootstrap() re-verifies") {
    val t = freshTable("mt-trust")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                       // v0
    Seq((9L, "z")).toDF("k", "v").write.mode("append").parquet(t.path)
    // the SAME handle verified the dir at its own commit and trusts that
    // version — no per-mutation listing, so no RECOVER interleaves here;
    // the O(churn) fast-path commit records only its own adds and the
    // stray file stays outside the log until the next trust boundary
    t.append(Seq((2L, "b")).toDF("k", "v"))                          // v1
    assert(t.history().collect().map(_.getAs[String]("operation")).toSeq ==
      Seq("APPEND", "OVERWRITE"))
    // the dir-backed read serves the stray rows meanwhile (dir scan), even
    // though the log hasn't legitimized them yet
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "z")))
    // a second out-of-band write + explicit bootstrap(): the user-facing
    // verify call must re-list past the trust window and RECOVER
    Seq((8L, "y")).toDF("k", "v").write.mode("append").parquet(t.path)
    t.bootstrap()
    assert(t.history().collect().map(_.getAs[String]("operation")).head ==
      "RECOVER")
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (8L, "y"), (9L, "z")))
  }

  test("restore makes an old snapshot current via a RESTORE commit") {
    val t = freshTable("mt-restore")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))            // v0
    t.merge(Seq((2L, "BAD"), (3L, "BAD")).toDF("k", "v"), Seq("k"))  // v1: bad merge
    t.restore(0)                                                     // v2
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val h = t.history().collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("RESTORE", "MERGE", "OVERWRITE"))
    // the bad version stays auditable and time-travelable after the rollback
    assert(t.readVersion(1).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "BAD"), (3L, "BAD")))
  }

  test("restore of a partitioned snapshot keeps the partitioned layout") {
    val t = freshTable("mt-restore-part")
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), Seq("p")) // v0
    t.merge(Seq((2L, "X", "p2")).toDF("k", "v", "p"), Seq("k"), Seq("p"))            // v1
    t.restore(0)                                                                     // v2
    assert(t.read.orderBy("k").select("k", "v", "p")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "a", "p1"), (2L, "b", "p2")))
    // layout is still partitioned: partition pruning reaches the scan
    assert(new java.io.File(t.path + "/p=p1").isDirectory)
  }

  test("retention-windowed vacuum keeps snapshots inside the window readable") {
    val t = freshTable("mt-vac-window")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))  // v0
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))  // v1 (v0's data retired)
    Thread.sleep(5)
    val cutoff = java.time.Instant.now()        // v0, v1 committed before this
    Thread.sleep(5)
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))  // v2 (v1's data retired, in-window)
    // v1's snapshot is referenced by no in-window commit manifest? No:
    // v1's manifest itself is pre-cutoff, but v1's data dir serves only v1.
    // v0's dir serves only pre-cutoff v0 → dropped; v1's dir likewise.
    // Everything the IN-window commit (v2) references lives in the live dir.
    t.vacuumVersions(olderThan = cutoff)
    intercept[IllegalStateException] { t.readVersion(0).count() }
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // a dir referenced by an in-window version is NOT dropped:
    t.overwrite(Seq((4L, "d")).toDF("k", "v"))  // v3, retires v2's data
    t.vacuumVersions(olderThan = cutoff)        // v2/v3 are in-window
    assert(t.readVersion(2).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("data skipping: readWhere prunes files from commit stats only") {
    val t = freshTable("mt-skip")
    // 8 files, each a narrow l_orderkey range (explicit count beats AQE
    // coalescing), so a point-ish range must prune most files
    val li = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    t.overwrite(li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey"))
    val (kept, all) = t.filesOverlapping("l_orderkey", 100L, 120L)
    assert(all.size == 8, all)
    assert(kept.size <= 2, s"expected <=2 kept files, got ${kept.size}")
    // pruned read ≡ full-scan filter, bit-for-bit
    val pruned = t.readWhere("l_orderkey", 100L, 120L)
    val full = t.read.filter(col("l_orderkey").between(100L, 120L))
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // string-typed stats prune too (dates are strings in this projection)
    val (keptD, _) = t.filesOverlapping("l_orderkey", -5L, -1L)
    assert(keptD.isEmpty) // fully outside the data range
    assert(t.readWhere("l_orderkey", -5L, -1L).count() == 0)
    // a column with no stats (index > statsCols or unsupported type) keeps
    // every file — conservative, never wrong
    val (keptNone, allNone) = t.filesOverlapping("no_such_col", 0, 1)
    assert(keptNone == allNone)
  }

  test("commit rowCount parity without a Spark count job") {
    val t = freshTable("mt-commitstats")
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2"))
      .toDF("k", "v", "p"), Seq("p"))
    // count Spark jobs during an append: the parquet write is the ONLY job —
    // the commit derives row counts from new-file footers + the sidecar
    // cache, never from a read.count() over the table
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.append(Seq((4L, "d", "p1")).toDF("k", "v", "p"), Seq("p"))
      Thread.sleep(1000) // listener bus delivery is async
    } finally spark.sparkContext.removeSparkListener(listener)
    // exactly: the schema read for write-time enforcement (one footer,
    // O(1)) + the write itself — and in particular no COUNT over the table
    assert(jobs.get() <= 2, s"expected schema-read + write only, saw ${jobs.get()}")
    val h = t.history().collect()
    assert(h.head.getAs[Long]("rowCount") == 4L)
    assert(h.last.getAs[Long]("rowCount") == 3L)
  }

  test("generated columns: omitted in a write, materialized from the expression") {
    val t = freshTable("mt-gen")
    t.overwrite(Seq((1L, "2024-03-15", "2024-03"))
      .toDF("k", "d", "month"), Seq("month"))
    // declaring against divergent data is rejected
    intercept[IllegalStateException] {
      t.addGeneratedColumn("month", "substring(d, 1, 6)")
    }
    t.addGeneratedColumn("month", "substring(d, 1, 7)")
    // writer omits the partition column entirely — it generates
    t.append(Seq((2L, "2024-04-02")).toDF("k", "d"), Seq("month"))
    val got = t.read.orderBy("k").select("k", "d", "month")
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq((1L, "2024-03-15", "2024-03"), (2L, "2024-04-02", "2024-04")))
    // and the generated value landed as a real partition directory
    assert(new java.io.File(t.path + "/month=2024-04").isDirectory)
  }

  test("partitioned merge on a timestamp partition column retires the right dirs") {
    val t = freshTable("mt-tspart")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    t.overwrite(Seq((1L, ts("2024-01-01 10:00:00"), "a"),
      (2L, ts("2024-01-02 11:30:00"), "b")).toDF("k", "p", "v"), Seq("p"))
    // the matched key's old copy must disappear — JVM Timestamp.toString
    // ("…10:00:00.0") would miss the dir Spark named via cast-to-string
    t.merge(Seq((1L, ts("2024-01-01 10:00:00"), "A")).toDF("k", "p", "v"),
      Seq("k"), Seq("p"))
    val got = t.read.select("k", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "b"), got)
    assert(t.read.count() == 2) // no silent duplicate of key 1
  }

  test("append accepts writer-typed values on inference-mangled partition columns") {
    val t = freshTable("mt-inferpart")
    // string "2024"/"2025" partition values read back as ints (partition
    // type inference) — the append's string column must cast, not reject
    t.overwrite(Seq((1L, "2024"), (2L, "2025")).toDF("k", "p"), Seq("p"))
    t.append(Seq((3L, "2024")).toDF("k", "p"), Seq("p"))
    assert(t.read.filter(col("p") === 2024).count() == 2)
  }

  test("non-finite double stats don't break commits; skipping stays conservative") {
    val t = freshTable("mt-inf")
    t.overwrite(Seq((1L, 1.5), (2L, Double.PositiveInfinity), (3L, Double.NaN))
      .toDF("k", "v"))
    t.append(Seq((4L, 2.5)).toDF("k", "v")) // second commit re-reads nothing, but proves the first parsed
    assert(t.history(1).collect().head.getAs[Long]("rowCount") == 4L)
    // the Infinity file keeps matching rows; a range query stays exact
    assert(t.readWhere("v", 1.0, 3.0).count() == 2)
  }

  test("string skipping stats compare in UTF-8 byte order, not UTF-16") {
    val t = freshTable("mt-utf8")
    // parquet orders binary stats by unsigned UTF-8 bytes: max is the
    // 4-byte emoji, and U+FFFD sorts BELOW it in byte order but ABOVE it
    // in Java's UTF-16 code-unit order — UTF-16 comparison would prune
    // the file that holds the matching row
    t.overwrite(Seq((1L, "A"), (2L, "�"), (3L, "😀"))
      .toDF("k", "s").coalesce(1)) // one file: stats span [A, 😀]
    val (kept, all) = t.filesOverlapping("s", "�", "�")
    assert(all.size == 1 && kept == all, s"kept $kept of $all")
    assert(t.readWhere("s", "�", "�").count() == 1)
  }

  test("append re-seeds a table whose rows were all deleted") {
    val t = freshTable("mt-emptied")
    t.overwrite(Seq((1L, "a")).toDF("k", "p"), Seq("p"))
    t.delete(col("k") === 1L, Seq("p"))
    t.append(Seq((2L, "b")).toDF("k", "p"), Seq("p"))
    assert(t.read.select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("CHECK constraints: validated on add, enforced before any write") {
    val t = freshTable("mt-check")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    // adding a constraint the current data violates is rejected
    intercept[IllegalStateException] { t.addConstraint("v_big", "v > 15.0") }
    t.addConstraint("v_pos", "v > 0.0")
    assert(t.constraints == Map("v_pos" -> "v > 0.0"))
    // violating append fails BEFORE files are written
    intercept[IllegalStateException] {
      t.append(Seq((3L, -1.0)).toDF("k", "v"))
    }
    assert(t.read.count() == 2)
    // violating merge (partitionless → atomic swap path) fails too
    intercept[IllegalStateException] {
      t.merge(Seq((2L, -5.0)).toDF("k", "v"), Seq("k"))
    }
    assert(t.read.filter(col("v") < 0).count() == 0)
    // NULL evaluations pass (SQL CHECK semantics)
    t.append(Seq((4L, None: Option[Double])).toDF("k", "v"))
    assert(t.read.count() == 3)
    // dropped constraint stops enforcement
    t.dropConstraint("v_pos")
    t.append(Seq((5L, -1.0)).toDF("k", "v"))
    assert(t.read.count() == 4)
  }

  test("CHECK constraints gate the partition-scoped write paths") {
    val t = freshTable("mt-check-part")
    t.overwrite(Seq((1L, "a", 5.0), (2L, "b", 6.0)).toDF("k", "p", "v"), Seq("p"))
    t.addConstraint("v_pos", "v > 0.0")
    intercept[IllegalStateException] {
      t.updateScoped(col("p") === "a", col("k") === 1L,
        Map("v" -> lit(-9.0)), Seq("p"))
    }
    // the rejected rewrite left the partition intact and readable
    assert(t.read.orderBy("k").select("v").as[Double].collect().toSeq ==
      Seq(5.0, 6.0))
  }

  test("readStream tails the table: appends arrive across micro-batches") {
    val t = freshTable("mt-stream")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val q = t.readStream
      .writeStream.format("memory").queryName("mt_tail").outputMode("append")
      .start()
    q.processAllAvailable()
    assert(spark.table("mt_tail").count() == 1)
    t.append(Seq((2L, "b"), (3L, "c")).toDF("k", "v"))
    q.processAllAvailable()
    t.append(Seq((4L, "d")).toDF("k", "v"))
    q.processAllAvailable(); q.stop()
    assert(spark.table("mt_tail").select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("data skipping decodes decimal and date stats to user space") {
    val t = freshTable("mt-skip-logical")
    // decimal(12,2) is stored as an unscaled INT64 and date as epoch-day
    // INT32: comparing the RAW footer stats (100..40000, 19723..) to
    // user-space predicate values (50.00, DATE'2024-02-01') would prune
    // files that hold matching rows — the stats must be decoded
    val df = spark.range(0, 400).select(
      col("id").as("k"),
      (col("id") + 1).cast("decimal(12,2)").as("amount"),
      expr("date_add(date'2024-01-01', cast(id as int))").as("d"),
      expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)").as("ts"))
    t.overwrite(df.repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    val loA = new java.math.BigDecimal("50.00")
    val hiA = new java.math.BigDecimal("60.00")
    val (keptA, allA) = t.filesOverlapping("amount", loA, hiA)
    assert(allA.size == 8, allA)
    assert(keptA.size <= 2, s"expected <=2 kept files, got ${keptA.size}")
    val prunedA = t.readWhere("amount", loA, hiA)
    val fullA = t.read.filter(col("amount").between(loA, hiA))
    assert(prunedA.count() == fullA.count() && fullA.count() == 11)
    assert(prunedA.exceptAll(fullA).isEmpty && fullA.exceptAll(prunedA).isEmpty)
    val loD = java.sql.Date.valueOf("2024-02-01")
    val hiD = java.sql.Date.valueOf("2024-02-10")
    val (keptD, _) = t.filesOverlapping("d", loD, hiD)
    assert(keptD.size <= 2, s"expected <=2 kept files, got ${keptD.size}")
    assert(t.readWhere("d", loD, hiD).count() == 10)
    // timestamp stats keep their epoch-micro storage unit; the USER
    // predicate is decoded to micros (the date-column discipline), so a
    // narrow time range prunes — and the pruned read stays exact
    val loT = java.sql.Timestamp.valueOf("2024-01-01 00:00:50")
    val hiT = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val (keptTs, allTs) = t.filesOverlapping("ts", loT, hiT)
    assert(allTs.size == 8 && keptTs.size < allTs.size)
    assert(t.readWhere("ts", loT, hiT).count() ==
      t.read.filter(col("ts").between(loT, hiT)).count())
  }

  test("a torn sidecar line is a cache miss, not a table-wide failure") {
    val t = freshTable("mt-torn")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // simulate a crash mid-write of a pre-atomic-rename sidecar: a torn
    // numeric cell used to throw on every subsequent table operation
    val conf = spark.sparkContext.hadoopConfiguration
    val sidecar = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.txt")
    val fs = sidecar.getFileSystem(conf)
    val out = fs.create(sidecar, true)
    out.write("/some/file.parquet\t12\tNOT_A_NU".getBytes("UTF-8"))
    out.close()
    assert(t.read.count() == 2)
    val (kept, all) = t.filesOverlapping("k", 1L, 2L)
    assert(kept == all && all.nonEmpty) // footers re-read, no crash
    t.append(Seq((3L, "c")).toDF("k", "v")) // commit path heals the sidecar
    assert(t.read.count() == 3)
  }

  test("append rejects frames with columns differing only by case") {
    val t = freshTable("mt-case-dupe")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val dupe = Seq((2L, "b", "B")).toDF("k", "v", "V")
    val e = intercept[IllegalArgumentException](t.append(dupe))
    assert(e.getMessage.contains("case"))
  }

  test("stats sidecar: per-commit segments, periodic compaction, skipping intact") {
    val t = freshTable("mt-sidecar-seg")
    val conf = spark.sparkContext.hadoopConfiguration
    val segDir = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.d")
    val fs = segDir.getFileSystem(conf)
    def nSegs = if (fs.exists(segDir))
      fs.listStatus(segDir).count(_.getPath.getName.endsWith(".txt")) else 0
    t.overwrite(Seq((0L, "v0")).toDF("k", "v"))
    val afterOverwrite = nSegs
    // each append adds ONE segment holding only the new files' entries —
    // per-commit metadata IO proportional to the write, not the table
    t.append(Seq((1L, "v1")).toDF("k", "v"))
    assert(nSegs == afterOverwrite + 1)
    t.append(Seq((2L, "v2")).toDF("k", "v"))
    assert(nSegs == afterOverwrite + 2)
    // enough commits trigger compaction: segments fold into the base
    var i = 3L
    while (nSegs > 0 && i < 40L) { t.append(Seq((i, s"v$i")).toDF("k", "v")); i += 1 }
    assert(nSegs == 0, "compaction never fired")
    assert(i < 40L)
    // cache still answers correctly after compaction: skipping agrees
    // with a full scan and the commit row counts are exact
    assert(t.read.count() == i)
    val (kept, all) = t.filesOverlapping("k", 0L, 1L)
    assert(kept.nonEmpty && kept.size < all.size)
    assert(t.readWhere("k", 0L, 1L).as[(Long, String)].collect().toSet ==
      Set((0L, "v0"), (1L, "v1")))
    assert(t.history(1).head.getAs[Long]("rowCount") == i)
  }

  test("deep clone: independent copy with fresh CLONE history, meta carried") {
    val t = freshTable("mt-clone-src")
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), Seq("p"))
    t.addConstraint("k_pos", "k > 0")
    val c = t.cloneTo(tmpDir("mt-clone-dst") + "/t")
    // same data, partitioned layout preserved
    assert(c.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
      t.read.orderBy("k").as[(Long, String, String)].collect().toSeq)
    assert(c.history().collect().map(_.getAs[String]("operation")).toSeq == Seq("CLONE"))
    assert(c.constraints == Map("k_pos" -> "k > 0"))
    // fully independent: mutating the clone leaves the source untouched
    c.append(Seq((3L, "c", "p1")).toDF("k", "v", "p"), Seq("p"))
    assert(c.read.count() == 3 && t.read.count() == 2)
    // ...and the clone enforces the carried constraint
    intercept[IllegalStateException](
      c.append(Seq((-9L, "x", "p1")).toDF("k", "v", "p"), Seq("p")))
    // cloning onto an existing path is refused
    intercept[IllegalArgumentException](t.cloneTo(c.path))
  }

  test("rename/drop column rewrite the snapshot; old versions keep theirs") {
    val t = freshTable("mt-alter")
    t.overwrite(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "w"))
    // this case pins the UNMAPPED rewrite semantics — under a soak cell
    // that defaults columnMapping=name the rename would route
    // metadata-only instead; pin the mode the case is about
    t.setProperties(Map("graft.columnMapping" -> "none"))
    t.renameColumn("v", "label")
    assert(t.read.schema.fieldNames.toSeq == Seq("k", "label", "w"))
    assert(t.read.orderBy("k").select("label").as[String].collect().toSeq ==
      Seq("a", "b"))
    t.dropColumn("w")
    assert(t.read.schema.fieldNames.toSeq == Seq("k", "label"))
    // time travel serves each version under its own schema
    assert(t.readVersion(0).schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(t.history().collect().map(_.getAs[String]("operation")).toSeq ==
      Seq("DROP COLUMN", "RENAME COLUMN", "OVERWRITE"))
    // guarded: unknown/duplicate/partition/constraint-referenced columns
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("k", "label"))
    t.addConstraint("k_pos", "k > 0")
    intercept[IllegalArgumentException](t.renameColumn("k", "kk"))
    intercept[IllegalArgumentException](t.dropColumn("k"))
    val p = freshTable("mt-alter-part")
    p.overwrite(Seq((1L, "a")).toDF("k", "p"), Seq("p"))
    p.setProperties(Map("graft.columnMapping" -> "none")) // same pin
    intercept[IllegalArgumentException](p.renameColumn("p", "q"))
  }

  test("pre-log tables bootstrap their current state as version 0") {
    val dir = tmpDir("mt-boot") + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir) // written outside ManagedTable
    val t = new ManagedTable(spark, dir)
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(t.history().collect().map(_.getAs[String]("operation")).toSeq ==
      Seq("APPEND", "BOOTSTRAP"))
    assert(t.readVersion(0).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("history checkpoint: a 50-commit table serves history without manifests") {
    val t = freshTable("mt-hist-ckpt")
    // the "park every manifest but the head" step below assumes the head
    // reconstructs O(1) through a SYNC checkpoint manifest; under ambient
    // async defaults the retro pointer can lag and the delta walk would
    // legitimately need the parked manifests — pin the sync shape
    t.setProperties(Map("graft.manifest.asyncCheckpoint" -> "false"))
    t.overwrite(Seq((0L, "v0")).toDF("k", "v"))
    (1L to 50L).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    val conf = spark.sparkContext.hadoopConfiguration
    val logDir = new org.apache.hadoop.fs.Path(t.path + "._log")
    val fs = logDir.getFileSystem(conf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(logDir, "_history.txt")))
    // self-healing: delete the checkpoint — history rebuilds it from the
    // manifests (one batched read of the missing versions) and re-persists
    fs.delete(new org.apache.hadoop.fs.Path(logDir, "_history.txt"), false)
    assert(t.history().count() == 51)
    assert(fs.exists(new org.apache.hadoop.fs.Path(logDir, "_history.txt")))
    // steady state reads the checkpoint ONLY: park every manifest except
    // the latest (readVersion needs O(1) manifests by design, history zero)
    val parked = new org.apache.hadoop.fs.Path(tmpDir("mt-hist-parked"))
    fs.listStatus(logDir).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .filter(_.getName != "v00050.json")
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(parked, p.getName)))
    val h = t.history().collect()
    assert(h.length == 51 && h.head.getAs[Long]("version") == 50L)
    assert(h.map(_.getAs[String]("operation")).toSet == Set("OVERWRITE", "APPEND"))
    assert(h.forall(r => !r.isNullAt(r.fieldIndex("timestamp"))))
    // timestamp-pinned resolution also runs off the checkpoint
    assert(t.readAsOf(java.time.Instant.now().toString).count() == 51)
    assert(t.readVersion(50).count() == 51)
  }

  test("writer lease: a held lock fails a second writer fast, table intact") {
    val t = freshTable("mt-lock")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new org.apache.hadoop.fs.Path(t.path + "._log/_commit.lock")
    val fs = lock.getFileSystem(conf)
    assert(!fs.exists(lock), "lease must be released after a mutation")
    // writer A mid-mutation holds the lease; writer B (second instance on
    // the same path) must fail FAST with a clear error, not corrupt the log
    val out = fs.create(lock, false)
    out.write("2026-08-12T00:00:00Z\tpid=12345".getBytes("UTF-8")); out.close()
    val b = new ManagedTable(spark, t.path)
    val e = intercept[java.util.ConcurrentModificationException] {
      b.append(Seq((2L, "b")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("breakCommitLock"))
    intercept[java.util.ConcurrentModificationException] {
      b.merge(Seq((3L, "c")).toDF("k", "v"), Seq("k"))
    }
    // the failed writer changed nothing
    assert(b.read.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(b.history().count() == 1)
    // operator clears the dead holder's lease; writes resume
    b.breakCommitLock()
    b.append(Seq((2L, "b")).toDF("k", "v"))
    assert(b.read.count() == 2 && !fs.exists(lock))
  }

  test("writer lease: withLeaseWait queues behind the holder instead of failing") {
    val t = freshTable("mt-lockwait")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new org.apache.hadoop.fs.Path(t.path + "._log/_commit.lock")
    val fs = lock.getFileSystem(conf)
    val out = fs.create(lock, false)
    out.write("2026-08-12T00:00:00Z\tpid=12345".getBytes("UTF-8")); out.close()
    // a waiting writer with a too-short budget still fails, with the wait
    // named in the error
    val b = new ManagedTable(spark, t.path).withLeaseWait(200)
    val e = intercept[java.util.ConcurrentModificationException] {
      b.append(Seq((2L, "b")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("200 ms"))
    // holder releases mid-wait: the queued writer proceeds without error
    val releaser = new Thread(() => { Thread.sleep(500); fs.delete(lock, false) })
    releaser.start()
    val c = new ManagedTable(spark, t.path).withLeaseWait(10000)
    c.append(Seq((3L, "c")).toDF("k", "v"))
    releaser.join()
    assert(c.read.count() == 2 && !fs.exists(lock))
  }

  test("appendIdempotent: replayed batches are no-ops, markers survive crash recovery") {
    val t = freshTable("mt-txn")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    // batch 0 applies
    assert(t.appendIdempotent(Seq((2L, "b")).toDF("k", "v"), "sink", 0L))
    assert(t.read.count() == 2)
    // replaying batch 0 is a no-op (restart-after-success shape)
    assert(!t.appendIdempotent(Seq((2L, "b")).toDF("k", "v"), "sink", 0L))
    assert(t.read.count() == 2)
    // an OLDER batch id is also refused (only strictly newer applies)
    assert(!t.appendIdempotent(Seq((9L, "z")).toDF("k", "v"), "sink", -1L))
    // batch 1 applies; an independent app id has its own sequence
    assert(t.appendIdempotent(Seq((3L, "c")).toDF("k", "v"), "sink", 1L))
    assert(t.appendIdempotent(Seq((4L, "d")).toDF("k", "v"), "other", 0L))
    assert(t.read.count() == 4)
    assert(t.lastTxnVersion("sink").contains(1L))
    assert(t.lastTxnVersion("other").contains(0L))
    assert(t.lastTxnVersion("nope").isEmpty)
    // a fresh instance reads the same markers (they live in the log)
    val b = new ManagedTable(spark, t.path)
    assert(b.lastTxnVersion("sink").contains(1L))
    // crash recovery: delete the history checkpoint — markers must
    // self-heal from the per-version manifests, keeping replays no-ops
    val conf = spark.sparkContext.hadoopConfiguration
    val hist = new org.apache.hadoop.fs.Path(t.path + "._log/_history.txt")
    hist.getFileSystem(conf).delete(hist, false)
    val c = new ManagedTable(spark, t.path)
    assert(c.lastTxnVersion("sink").contains(1L))
    assert(!c.appendIdempotent(Seq((3L, "c")).toDF("k", "v"), "sink", 1L))
    assert(c.read.count() == 4)
  }

  test("string skipping stats are truncated but stay exact and pruning") {
    val t = freshTable("mt-trunc")
    // document-sized strings in the FIRST stats column: untruncated bounds
    // would put two ~2 KB values on every sidecar line (2 KB, not more —
    // parquet-mr itself drops footer stats entirely past MAX_STATS_SIZE
    // 4 KB, which would leave nothing to truncate)
    val doc = "x" * 2000
    val df = spark.range(0, 200).selectExpr(
      s"concat('doc-', lpad(cast(id as string), 5, '0'), '$doc') as body",
      "id as k")
    t.overwrite(df.repartitionByRange(8, col("body")).sortWithinPartitions("body"))
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.txt")
    val segD = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.d")
    val fs = base.getFileSystem(conf)
    val sidecarPaths = (if (fs.exists(base)) Seq(base) else Nil) ++
      (if (fs.exists(segD)) fs.listStatus(segD).map(_.getPath).toSeq else Nil)
    val lines = sidecarPaths.flatMap { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(lines.nonEmpty)
    assert(lines.forall(_.length < 600),
      s"sidecar line not bounded: ${lines.map(_.length).max} chars")
    // truncated stats still prune (strings diverge inside 32 chars)...
    val (kept, all) = t.filesOverlapping("body", "doc-00010", "doc-00020~")
    assert(all.size == 8 && kept.size <= 2, s"kept ${kept.size} of ${all.size}")
    // ...and the pruned read stays EXACT vs a full-scan filter
    val pruned = t.readWhere("body", "doc-00010", "doc-00020~")
    val full = t.read.filter(col("body").between("doc-00010", "doc-00020~"))
    assert(pruned.count() == full.count() && full.count() == 11)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("date skipping survives BCE and five-digit years (epoch-day stats)") {
    // lexical ISO-string order disagrees with chronology for "-0001-…"
    // (sorts before "0001" but is EARLIER than everything CE) and
    // "+10000-…"; epoch-day numeric stats don't
    val t = freshTable("mt-date-extreme")
    val df = spark.sql(
      """select * from values
        |  (1L, date'-0001-06-15'), (2L, date'2024-03-01'),
        |  (3L, date'2024-06-01'), (4L, date'+10000-01-01')
        |as t(k, d)""".stripMargin)
    t.overwrite(df.repartitionByRange(4, col("d")))
    def got(lo: java.time.LocalDate, hi: java.time.LocalDate): Set[Long] =
      t.readWhere("d", lo, hi).select("k").as[Long].collect().toSet
    assert(got(java.time.LocalDate.of(-1, 1, 1),
               java.time.LocalDate.of(-1, 12, 31)) == Set(1L))
    assert(got(java.time.LocalDate.of(9999, 1, 1),
               java.time.LocalDate.of(10000, 6, 1)) == Set(4L))
    assert(got(java.time.LocalDate.of(2024, 1, 1),
               java.time.LocalDate.of(2024, 12, 31)) == Set(2L, 3L))
    // modern-date pruning still actually skips files
    val (kept, all) = t.filesOverlapping("d",
      java.time.LocalDate.of(2024, 1, 1), java.time.LocalDate.of(2024, 3, 15))
    assert(all.size == 4 && kept.size <= 2)
  }

  test("sidecar segment names are a monotonic sequence, not a clock") {
    val t = freshTable("mt-seg-names")
    t.overwrite(Seq((0L, "a")).toDF("k", "v"))
    t.append(Seq((1L, "b")).toDF("k", "v"))
    t.append(Seq((2L, "c")).toDF("k", "v"))
    val conf = spark.sparkContext.hadoopConfiguration
    val segD = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.d")
    val fs = segD.getFileSystem(conf)
    val names = fs.listStatus(segD).map(_.getPath.getName)
      .filter(_.endsWith(".txt")).sorted.toSeq
    val nums = names.map(_.stripPrefix("seg-").takeWhile(_.isDigit).toLong)
    assert(nums.forall(_ >= 0), s"negative segment number in $names")
    assert(nums == nums.sorted && nums.distinct == nums, names)
    assert(nums == (nums.head to nums.last), s"gaps in sequence: $nums")
    // uuid suffix: incarnations after a compaction reset must never reuse
    // a PATH (the process-wide parse cache keys by it)
    assert(names.forall(_.matches("""seg-\d{19}-[0-9a-f]{8}\.txt""")), names)
  }

  test("bloom index prunes point lookups that min/max stats cannot") {
    val t = freshTable("mt-bloom")
    // k-ordered layout, probe on u — a high-cardinality key scattered
    // across files (odd multiplier is a bijection mod 4000), so every
    // file's [min, max] on u straddles nearly any probe value
    val df = spark.range(0, 4000).selectExpr("id as k",
      "pmod(id * 2654435761L, 4000L) as u")
    t.overwrite(df.repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    t.addBloomIndex("u", expectedItemsPerFile = 1000L, fpp = 0.01)
    val (ranged, all) = t.filesOverlapping("u", 1234L, 1234L)
    assert(all.size == 8 && ranged.size >= 6,
      s"stats alone should NOT prune here: ${ranged.size}/${all.size}")
    val (kept, _) = t.filesForPoint("u", 1234L)
    assert(kept.size <= 3, s"bloom kept ${kept.size} of ${all.size}")
    assert(t.readPoint("u", 1234L).select("k").as[Long].collect().toSeq ==
      t.read.filter(col("u") === 1234L).select("k").as[Long].collect().toSeq)
    assert(t.readPoint("u", 1234L).count() == 1)
    // commits index their new files automatically; results stay exact
    t.append(Seq((9999L, 1234L)).toDF("k", "u"))
    assert(t.readPoint("u", 1234L).count() == 2)
    val (kept2, all2) = t.filesForPoint("u", 1234L)
    assert(all2.size == 9 && kept2.size <= 4)
    // unsupported type is rejected loudly (probe key would not round-trip)
    val d = freshTable("mt-bloom-bad")
    d.overwrite(spark.range(3).selectExpr("cast(id as double) as x"))
    intercept[IllegalArgumentException](d.addBloomIndex("x"))
  }

  test("bloom index auto-sizes from the live files' actual row counts") {
    val t = freshTable("mt-bloom-auto")
    t.overwrite(spark.range(0, 40000).selectExpr("id as k",
      "pmod(id * 2654435761L, 40000L) as u").repartition(8))
    t.addBloomIndex("u") // no explicit size: 40k rows / 8 files = 5k each
    val (items, _) = t.bloomIndexes("u")
    assert(items >= 4000L && items <= 6000L,
      s"auto-sized capacity $items should track the ~5000-row files")
    assert(t.readPoint("u", 1234L).count() == 1)
  }

  test("bloom probe keys canonicalize through the column type") {
    // a raw toString probe ("0042", " 42 ", int vs long) must not read as
    // a definite bloom miss and silently prune files the exact filter
    // (which casts) would match
    val t = freshTable("mt-bloom-key")
    t.overwrite(spark.range(0, 400).selectExpr("id as k",
      "pmod(id * 2654435761L, 400L) as u")
      .repartitionByRange(4, col("k")))
    t.addBloomIndex("u", expectedItemsPerFile = 200L)
    assert(t.readPoint("u", 42L).count() == 1)
    assert(t.readPoint("u", 42).count() == 1)        // Int probe, Long col
    assert(t.readPoint("u", "42").count() == 1)      // String probe
    assert(t.readPoint("u", " 42 ").count() == 1)    // whitespace survives
  }

  test("fractional probes skip the bloom instead of false-missing") {
    // a Double probe's longValue can name the WRONG long (the predicate
    // compares in double where distinct longs tie), so no bloom key is
    // derived — conservative skip, and the exact filter still matches
    val t = freshTable("mt-bloom-frac")
    t.overwrite(spark.range(0, 400).selectExpr("id as k",
      "pmod(id * 2654435761L, 400L) as u").repartitionByRange(4, col("k")))
    t.addBloomIndex("u", expectedItemsPerFile = 200L)
    assert(t.readPoint("u", 42.0).count() == 1)
  }

  test("bloom guard detects partition layout structurally after BOOTSTRAP") {
    // a pre-log partitioned dir bootstraps with partitionColumns = Nil, so
    // the logged-metadata check alone would pass and the build would crash
    // on the missing leaf column — the Hive-style `col=` dir names betray
    // the layout regardless of log state
    val dir = tmpDir("mt-bloom-boot") + "/t"
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(dir)
    val t = new ManagedTable(spark, dir)
    val e = intercept[IllegalArgumentException](t.addBloomIndex("p"))
    assert(e.getMessage.contains("partition"))
    assert(t.bloomIndexes.isEmpty)
  }

  test("bloom index declaration is rejected on partition columns, not poisoned") {
    val t = freshTable("mt-bloom-part")
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), Seq("p"))
    // partition values live in dir names, not leaf files: building would
    // crash, and a persisted declaration would break every later commit
    intercept[IllegalArgumentException](t.addBloomIndex("p"))
    assert(t.bloomIndexes.isEmpty, "failed declaration must roll back")
    t.append(Seq((3L, "c", "p1")).toDF("k", "v", "p"), Seq("p")) // commits fine
    assert(t.read.count() == 3)
  }

  test("deep clone carries bloom declarations and rebuilds the filters") {
    val t = freshTable("mt-bloom-clone")
    t.overwrite(spark.range(0, 200).selectExpr("id as k",
      "pmod(id * 2654435761L, 200L) as u").repartitionByRange(4, col("k")))
    t.addBloomIndex("u", expectedItemsPerFile = 100L)
    val c = t.cloneTo(tmpDir("mt-bloom-clone-dst") + "/t")
    assert(c.bloomIndexes.contains("u"), "clone must keep the declaration")
    val (kept, all) = c.filesForPoint("u", 7L)
    assert(all.size == 4 && kept.size < all.size,
      s"clone's rebuilt blooms should prune: ${kept.size}/${all.size}")
    assert(c.readPoint("u", 7L).count() == 1)
  }

  test("vacuum dry run lists exactly what the real vacuum then deletes") {
    val t = freshTable("mt-vac-dry")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))  // v0
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))  // v1, retires v0's data
    Thread.sleep(5)
    val cutoff = java.time.Instant.now()
    Thread.sleep(5)
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))  // v2, retires v1's (in-window)
    val conf = spark.sparkContext.hadoopConfiguration
    def dirExists(s: String) =
      new org.apache.hadoop.fs.Path(s).getFileSystem(conf)
        .exists(new org.apache.hadoop.fs.Path(s))
    val would = t.vacuumDryRun(olderThan = cutoff)
    assert(would.nonEmpty)
    assert(would.forall(dirExists), "dry run must delete NOTHING")
    assert(t.readVersion(0).count() == 1) // still time-travelable
    t.vacuumVersions(olderThan = cutoff)
    assert(would.forall(!dirExists(_)), "real vacuum drops the dry-run list")
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("vacuum dry run drops exactly the retained dirs below the window's " +
      "earliest version; every in-window version still reads") {
    val t = freshTable("mt-vac-k")
    def at(v: Long) = t.readVersion(v).select("k", "v", "p")
      .as[(Long, String, String)].collect().toSet
    t.overwrite(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"),
      Seq("p"))                                                        // v0
    t.merge(Seq((1L, "A", "p1")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v1 → ._v0
    Thread.sleep(5)
    val cutoff = java.time.Instant.now()
    Thread.sleep(5)
    t.merge(Seq((2L, "B", "p2")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v2 → ._v1
    t.append(Seq((3L, "c", "p1")).toDF("k", "v", "p"), Seq("p"))         // v3
    t.merge(Seq((3L, "C", "p1")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v4 → ._v3
    t.overwrite(Seq((9L, "z", "p9")).toDF("k", "v", "p"), Seq("p"))      // v5 → ._v4
    val inWindow = (2L to 5L).map(v => v -> at(v)).toMap
    // v2 is the window's earliest version: ._v0 and ._v1 serve only v0/v1
    val root = new org.apache.hadoop.fs.Path(t.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def q(k: Int) = fs.makeQualified(new org.apache.hadoop.fs.Path(s"${t.path}._v$k")).toString
    assert(t.vacuumDryRun(cutoff).toSet == Set(q(0), q(1)))
    t.vacuumVersions(cutoff)
    Seq(3, 4).foreach(k => assert(fs.exists(new org.apache.hadoop.fs.Path(q(k)))))
    inWindow.foreach { case (v, rows) => assert(at(v) == rows, s"version $v") }
    assert(at(2L) == Set((1L, "A", "p1"), (2L, "B", "p2")))
    intercept[IllegalStateException](at(0L))
  }

  test("retention vacuum with partitioned retained dirs keeps in-window data") {
    val t = freshTable("mt-vac-part")
    val v0 = Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3"))
      .toDF("k", "v", "p")
    t.overwrite(v0, Seq("p"))                               // v0, many files
    Thread.sleep(5)
    val cutoff = java.time.Instant.now()
    Thread.sleep(5)
    t.merge(Seq((2L, "B", "p2")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v1
    t.merge(Seq((3L, "C", "p3")).toDF("k", "v", "p"), Seq("k"), Seq("p")) // v2
    // v1/v2 are in-window and reference files in retained dirs (the moved
    // p2/p3 partitions); the keep-set must find those roots referenced
    t.vacuumVersions(olderThan = cutoff)
    assert(t.readVersion(1).orderBy("k").as[(Long, String, String)].collect()
      .toSeq == Seq((1L, "a", "p1"), (2L, "B", "p2"), (3L, "c", "p3")))
    assert(t.read.orderBy("k").as[(Long, String, String)].collect()
      .toSeq == Seq((1L, "a", "p1"), (2L, "B", "p2"), (3L, "C", "p3")))
  }

  // ---- null-count skipping ---------------------------------------------

  test("null-count skipping: IS NULL scans touch only files that hold nulls") {
    val t = freshTable("mt-nulls")
    // nulls cluster into one range partition (range partitioner sorts
    // nulls first), so 3 of 4 files record nullCount=0
    val df = spark.range(0, 400)
      .selectExpr("id as k", "if(id % 8 = 0, cast(null as double), cast(id as double)) as v")
    t.overwrite(df.repartitionByRange(4, col("v")))
    val (kept, all) = t.filesWithNulls("v")
    assert(all.size == 4 && kept.size == 1, s"kept ${kept.size} of ${all.size}")
    val gotNull = t.readWhereNull("v").select("k").as[Long].collect().sorted
    assert(gotNull.toSeq == (0L until 400L by 8).toSeq)
    val gotNotNull = t.readWhereNotNull("v").count()
    assert(gotNotNull == 350)
  }

  test("all-null column: range scans prune the file, IS NOT NULL prunes it too") {
    val t = freshTable("mt-allnull")
    // file 1: v entirely null; file 2: v populated — written as two appends
    t.overwrite(Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("k", "v").coalesce(1))
    t.append(Seq((3L, Some(1.5)), (4L, Some(2.5))).toDF("k", "v").coalesce(1))
    val (kept, all) = t.filesOverlapping("v", 0.0, 10.0)
    assert(all.size == 2 && kept.size == 1,
      s"all-null file not pruned from range scan: kept ${kept.size} of ${all.size}")
    assert(t.readWhere("v", 0.0, 10.0).select("k").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
    assert(t.readWhereNotNull("v").count() == 2)
    assert(t.readWhereNull("v").select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("v1 sidecar lines (no null counts) parse conservatively and stay exact") {
    val t = freshTable("mt-v1compat")
    val df = spark.range(0, 100)
      .selectExpr("id as k", "if(id % 10 = 0, cast(null as double), cast(id as double)) as v")
    t.overwrite(df.repartitionByRange(4, col("v")))
    // rewrite every sidecar file in the PRE-nullcount v1 format: drop the
    // %v2 marker and the 5th (nulls) cell of each stat group
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.txt")
    val segD = new org.apache.hadoop.fs.Path(t.path + "._log/_file_rows.d")
    val fs = base.getFileSystem(conf)
    val paths = (if (fs.exists(base)) Seq(base) else Nil) ++
      (if (fs.exists(segD)) fs.listStatus(segD).map(_.getPath).toSeq else Nil)
    assert(paths.nonEmpty)
    paths.foreach { p =>
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val v1 = lines.map { l =>
        val cells = l.split('\t')
        assert(cells(3) == "%v2", s"expected v2 line, got: $l")
        val stats = cells.drop(4).grouped(5).flatMap(_.take(4)).toSeq
        (cells.take(3) ++ stats).mkString("\t")
      }
      val out = fs.create(p, true)
      try out.write(v1.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    // unknown null counts: nothing prunes, but reads remain exact
    val (kept, all) = t.filesWithNulls("v")
    assert(kept.size == all.size, "v1 entries must keep every file (unknown counts)")
    assert(t.readWhereNull("v").count() == 10)
    assert(t.readWhereNotNull("v").count() == 90)
    // min/max bounds from the v1 groups still prune range scans
    val (keptR, allR) = t.filesOverlapping("v", 1.0, 20.0)
    assert(keptR.size < allR.size)
    assert(t.readWhere("v", 1.0, 20.0).count() ==
      t.read.filter(col("v").between(1.0, 20.0)).count())
  }

  test("countFast serves COUNT(*) from metadata, tracking DML exactly") {
    val t = freshTable("mt-countfast")
    t.overwrite(spark.range(0, 1000).selectExpr("id as k", "cast(id as double) as v")
      .repartition(4))
    assert(t.countFast() == 1000)
    t.append(spark.range(1000, 1200).selectExpr("id as k", "cast(id as double) as v"))
    assert(t.countFast() == 1200)
    t.deleteVectored(col("k") % 10 === 0) // 120 rows bitmap-deleted
    assert(t.countFast() == 1080)
    assert(t.countFast() == t.read.count())
  }

  test("readWhereAll intersects per-column kept-sets and stays exact") {
    val t = freshTable("mt-multipred")
    // two independently-informative columns under a range-clustered layout
    val df = spark.range(0, 800).selectExpr(
      "id as k", "cast(id as double) as a", "cast(799 - id as double) as b")
    t.overwrite(df.repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    val keptA = t.filesOverlapping("a", 100.0, 299.0)._1.toSet
    val keptB = t.filesOverlapping("b", 550.0, 780.0)._1.toSet
    assert(keptA.size < 8 && keptB.size < 8)
    val both = keptA intersect keptB
    assert(both.size < math.min(keptA.size, keptB.size) || both.size <= 2,
      s"intersection did not tighten: a=${keptA.size} b=${keptB.size} both=${both.size}")
    val got = t.readWhereAll(Seq(("a", 100.0, 299.0), ("b", 550.0, 780.0)))
      .select("k").as[Long].collect().sorted
    assert(got.toSeq == (100L to 249L).toSeq) // a∈[100,299] ∧ b∈[550,780] ⇒ k∈[100,249]
    // degenerate: disjoint kept-sets short-circuit to an empty result
    assert(t.readWhereAll(Seq(("a", 0.0, 10.0), ("a", 700.0, 750.0))).count() == 0)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table to the union schema") {
    val t = freshTable("mt-merge-evolve")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // without the flag: the mismatched source fails (strict enforcement)
    intercept[Exception] {
      t.merge(Seq((2L, "B", 9.0)).toDF("k", "v", "score"), Seq("k"))
    }
    t.merge(Seq((2L, "B", 9.0), (3L, "C", 3.5)).toDF("k", "v", "score"),
      Seq("k"), allowEvolution = true)
    // new column lands at the end; untouched rows read null
    assert(t.read.columns.toSeq == Seq("k", "v", "score"))
    assert(t.read.orderBy("k").as[(Long, String, Option[Double])]
      .collect().toSeq ==
      Seq((1L, "a", None), (2L, "B", Some(9.0)), (3L, "C", Some(3.5))))
    // source MISSING a table column null-fills under the flag
    t.merge(Seq((4L, "d")).toDF("k", "v"), Seq("k"), allowEvolution = true)
    assert(t.read.filter(col("k") === 4L).select("score").head().isNullAt(0))
  }

  test("partitioned evolving MERGE rewrites ALL partitions onto one schema") {
    val t = freshTable("mt-merge-evolve-part")
    t.overwrite(Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("k", "day", "v"),
      Seq("day"))
    t.merge(Seq((2L, "d2", 2.5, "ok")).toDF("k", "day", "v", "tag"),
      Seq("k"), Seq("day"), allowEvolution = true)
    // the UNAFFECTED d1 partition must also carry the new column (plain,
    // non-mergeSchema reads see one schema)
    assert(t.read.columns.sorted.toSeq == Seq("day", "k", "tag", "v"))
    assert(t.read.orderBy("k").as[(Long, Double, Option[String], String)]
      .collect().toSeq ==
      Seq((1L, 1.0, None, "d1"), (2L, 2.5, Some("ok"), "d2")))
  }

  test("columnStats serves exact min/max/nulls from metadata alone") {
    val t = freshTable("mt-colstats")
    t.overwrite(spark.range(0, 500).selectExpr(
      "id as k", "cast(id as double) / 4 as v",
      "case when id % 10 = 0 then null else concat('s', id) end as s",
      "date_add(date'2024-01-01', cast(id % 30 as int)) as d")
      .repartition(4))
    val st = t.columnStats().collect()
      .map(r => r.getString(0) -> r).toMap
    // numeric bounds are exact attained values
    assert(st("k").getString(2) == "0" && st("k").getString(3) == "499")
    assert(st("v").getString(2).toDouble == 0.0 &&
      st("v").getString(3).toDouble == 124.75)
    assert(st("k").getLong(4) == 0L)      // null_count
    assert(st("s").getLong(4) == 50L)     // the every-10th nulls
    // date kind decodes epoch days to ISO bounds
    assert(st("d").getString(1) == "D" && st("d").getString(2) == "2024-01-01"
      && st("d").getString(3) == "2024-01-30")
    // row/file accounting
    assert(st("k").getLong(5) == 500L && st("k").getLong(6) == 4L
      && st("k").getLong(7) == 4L)
    // agreement with the full scan, column by column
    val full = t.read.selectExpr("min(k)", "max(k)", "min(v)", "max(v)",
      "count(*) - count(s)").head()
    assert(st("k").getString(2).toLong == full.getLong(0))
    assert(st("k").getString(3).toLong == full.getLong(1))
    assert(st("v").getString(3).toDouble == full.getDouble(3))
    assert(st("s").getLong(4) == full.getLong(4))
  }

  test("publishCatalog registers a partitioned table with exact stats") {
    val t = freshTable("mt-pubcat")
    t.overwrite(spark.range(0, 300).selectExpr(
      "id as k", "cast(id % 3 as string) as g", "cast(id as double) as v"),
      partitionCols = Seq("g"))
    spark.sql("DROP TABLE IF EXISTS graft_spec_pubcat")
    try {
      t.publishCatalog("graft_spec_pubcat")
      // partition discovery (MSCK) found every partition's rows
      assert(spark.table("graft_spec_pubcat").count() == 300L)
      assert(spark.table("graft_spec_pubcat")
        .filter(col("g") === "1").count() == 100L)
      // stats attached: exact rowCount, size = live file bytes
      val st = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("graft_spec_pubcat")).stats
      assert(st.exists(_.rowCount.contains(BigInt(300))))
      assert(st.exists(_.colStats.get("k").exists(_.min.contains("0"))))
      // an unmaterialized shallow clone is refused: its data files live
      // under the SOURCE root, so the catalog table at the clone's own
      // location would serve zero rows with full-table stats attached
      val clone = t.shallowCloneTo(tmpDir("mt-pubcat-clone") + "/c")
      val ec = intercept[UnsupportedOperationException](
        clone.publishCatalog("graft_spec_pubcat3"))
      assert(ec.getMessage.contains("materialize"))
      // DV-carrying tables are refused (the catalog scan would resurrect
      // deleted rows)
      t.deleteVectored(col("k") < 10L, Nil)
      val e = intercept[IllegalArgumentException](
        t.publishCatalog("graft_spec_pubcat2"))
      assert(e.getMessage.contains("purgeDeletes"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_spec_pubcat")
  }

  test("timestamp data-skipping prunes files on instant and NTZ columns") {
    // instant semantics (TimestampType → INT64 micros, isAdjustedToUTC):
    // 240 hourly rows range-partitioned into 4 disjoint files
    val t = freshTable("mt-ts-skip")
    t.overwrite(spark.range(0, 240).selectExpr("id",
      "timestampadd(HOUR, cast(id as int), timestamp'2024-01-01 00:00:00') as ts")
      .repartitionByRange(4, col("ts")))
    val lo = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-03 23:00:00")
    val (kept, all) = t.filesOverlapping("ts", lo, hi)
    assert(all.size == 4 && kept.size < all.size)
    assert(t.readWhere("ts", lo, hi).count() == 24L)
    // string bounds decode through the session zone like Catalyst's cast
    val (kept2, _) = t.filesOverlapping("ts", "2024-01-03 00:00:00", "2024-01-03 23:00:00")
    assert(kept2.size < all.size)
    assert(t.readWhere("ts", "2024-01-03 00:00:00", "2024-01-03 23:00:00").count() == 24L)
    assert(t.columnStats().collect()
      .find(_.getString(0) == "ts").get.getString(1) == "T")
    // NTZ semantics (TimestampNTZType → INT64 micros, not adjusted):
    val tn = freshTable("mt-ts-skip-ntz")
    tn.overwrite(spark.range(0, 240).selectExpr("id",
      "cast(timestampadd(HOUR, cast(id as int), timestamp'2024-01-01 00:00:00') as timestamp_ntz) as ts")
      .repartitionByRange(4, col("ts")))
    val lon = java.time.LocalDateTime.of(2024, 1, 3, 0, 0)
    val hin = java.time.LocalDateTime.of(2024, 1, 3, 23, 0)
    val (keptN, allN) = tn.filesOverlapping("ts", lon, hin)
    assert(allN.size == 4 && keptN.size < allN.size)
    assert(tn.readWhere("ts", lon, hin).count() == 24L)
    assert(tn.columnStats().collect()
      .find(_.getString(0) == "ts").get.getString(1) == "t")
    // a range before every file prunes to zero without scanning
    assert(tn.filesOverlapping("ts",
      java.time.LocalDateTime.of(2020, 1, 1, 0, 0),
      java.time.LocalDateTime.of(2020, 1, 2, 0, 0))._1.isEmpty)
  }

  test("MILLIS-unit timestamp footers scale to micro bounds on adoption") {
    // an externally-written dir (Delta's CONVERT TO DELTA shape) can carry
    // TIMESTAMP_MILLIS parquet; the footer-stats encoder must scale those
    // bounds ×1000 to the sidecar's micro unit or every prune is wrong
    val dir = tmpDir("mt-ts-millis") + "/t"
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      spark.range(0, 240).selectExpr("id",
        "timestampadd(HOUR, cast(id as int), timestamp'2024-01-01 00:00:00') as ts")
        .repartitionByRange(4, col("ts"))
        .write.parquet(dir)
    } finally spark.conf.set(key, prev)
    val t = new graft.table.ManagedTable(spark, dir)
    t.append(spark.range(240, 241).coalesce(1).selectExpr("id",
      "timestamp'2024-02-01 00:00:00' as ts")) // adoption commit records stats
    val lo = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-03 23:00:00")
    val (kept, all) = t.filesOverlapping("ts", lo, hi)
    assert(all.size == 5 && kept.size < all.size)
    assert(t.readWhere("ts", lo, hi).count() == 24L)
    assert(t.read.count() == 241L)
  }

  test("graft.stats.cols widens data-skipping stats past the default 8") {
    def wideDf(n: Int) = {
      val cols = (1 to 11).map(i => expr(s"id * $i").as(s"c$i")) :+
        expr("cast(id as double) * 12").as("c12")
      spark.range(0, n).select((col("id") +: cols): _*)
    }
    // default width: column 12 gets NO stats → no columnStats row, and
    // skipping keeps every file (conservative)
    val t0 = freshTable("mt-statswidth-dflt")
    t0.overwrite(wideDf(400).repartition(4, col("id")))
    assert(!t0.columnStats().collect().map(_.getString(0)).contains("c12"))
    // widened table: set the property BEFORE the write so commit-time
    // footer reads index all 13 leaves
    val t = freshTable("mt-statswidth")
    t.setProperties(Map("graft.stats.cols" -> "16"))
    t.overwrite(wideDf(400).repartition(4, col("id")))
    val st = t.columnStats().collect().map(r => r.getString(0) -> r).toMap
    assert(st.contains("c12"))
    assert(st("c12").getString(2).toDouble == 0.0 &&
      st("c12").getString(3).toDouble == 399.0 * 12)
    // and skipping on column 12 actually prunes: a range covering no file
    // returns zero rows without scanning, a covered range is exact
    assert(t.readWhere("c12", -100.0, -1.0).count() == 0L)
    assert(t.readWhere("c12", 0.0, 120.0).count() == 11L)
    // existing sidecar lines from the default-width table still parse
    assert(t0.readWhere("c1", 0L, 10L).count() == 11L)
  }

  test("columnStats canonicalizes signed-zero double bounds to 0.0") {
    val t = freshTable("mt-colstats-szero")
    // a mix of -0.0 and +0.0: the parquet writer records min = -0.0 and
    // max = +0.0 in the footer; ANALYZE must surface 0.0 for both (what a
    // full scan reports), not the storage artifact
    t.overwrite(Seq((1L, -0.0), (2L, 0.0), (3L, 0.0)).toDF("k", "v"))
    val st = t.columnStats().collect().map(r => r.getString(0) -> r).toMap
    assert(st("v").getString(2) == "0.0" && st("v").getString(3) == "0.0")
    // the sign bit itself must be positive, not just ==-equal
    assert(java.lang.Double.doubleToRawLongBits(st("v").getString(2).toDouble) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(st("v").getString(3).toDouble) == 0L)
    // a genuinely negative min must NOT be canonicalized
    val t2 = freshTable("mt-colstats-neg")
    t2.overwrite(Seq((1L, -2.5), (2L, 0.0)).toDF("k", "v"))
    val st2 = t2.columnStats().collect().map(r => r.getString(0) -> r).toMap
    assert(st2("v").getString(2) == "-2.5" && st2("v").getString(3) == "0.0")
    // skipping still matches zero rows under either zero sign
    assert(t.readWhere("v", -0.0, 0.0).count() == 3L)
  }

  test("columnStats nulls out bounds it cannot promise") {
    val t = freshTable("mt-colstats-nan")
    // file with a NaN in v → that file's bounds are unusable → table-level
    // bounds for v must be UNKNOWN, not wrong
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    t.append(Seq((3L, Double.NaN)).toDF("k", "v"))
    val st = t.columnStats().collect().map(r => r.getString(0) -> r).toMap
    assert(st("v").isNullAt(2) && st("v").isNullAt(3))
    assert(st("k").getString(2) == "1" && st("k").getString(3) == "3") // k unaffected
    // an all-null column: kind n, zero bounds, full null count
    val t2 = freshTable("mt-colstats-allnull")
    t2.overwrite(Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String])).toDF("k", "s"))
    val st2 = t2.columnStats().collect().map(r => r.getString(0) -> r).toMap
    assert(st2("s").getString(1) == "n" && st2("s").isNullAt(2))
    assert(st2("s").getLong(4) == 2L)
  }

  test("overwriteWhere replaces exactly the matching rows in one commit") {
    val t = freshTable("mt-rwh")
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0),
      (4L, null.asInstanceOf[String], 4.0)).toDF("k", "g", "v"))
    val v0 = t.version
    t.overwriteWhere(Seq((10L, "a", 10.0), (11L, "a", 11.0)).toDF("k", "g", "v"),
      col("g") === "a")
    // matching rows gone, replacements in, null-predicate row KEPT
    assert(t.read.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "b", 2.0), (4L, null, 4.0), (10L, "a", 10.0), (11L, "a", 11.0)))
    // ONE commit, named for the operation; time travel serves the old rows
    assert(t.version == v0 + 1)
    assert(t.history(1).select("operation").as[String].head() == "REPLACE_WHERE")
    assert(t.readVersion(v0).count() == 4)
  }

  test("overwriteWhere rejects rows outside the replaced range") {
    val t = freshTable("mt-rwh-guard")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "g"))
    val before = t.read.orderBy("k").collect().toSeq
    intercept[IllegalArgumentException] {
      t.overwriteWhere(Seq((9L, "b")).toDF("k", "g"), col("g") === "a")
    }
    assert(t.read.orderBy("k").collect().toSeq == before) // nothing changed
  }

  test("partitioned overwriteWhere moves ONLY the affected partitions") {
    val base = tmpDir("mt-rwh-part")
    val t = new ManagedTable(spark, s"$base/t")
    t.overwrite(Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0),
      (4L, "d3", 4.0)).toDF("k", "day", "v"), Seq("day"))
    // physical files of the untouched partitions, before
    def filesOf(day: String): Set[String] =
      t.read.filter(col("day") === day)
        .select(input_file_name()).as[String].collect().toSet
    val d2Before = filesOf("d2")
    val d3Before = filesOf("d3")
    val cur = t.version
    // backfill d1 and introduce a brand-new partition d9
    t.overwriteWhere(
      Seq((10L, "d1", 10.0), (12L, "d9", 12.0)).toDF("k", "day", "v"),
      col("day").isin("d1", "d9"), Seq("day"))
    assert(t.read.orderBy("k").as[(Long, Double, String)].collect().toSeq ==
      Seq((3L, 3.0, "d2"), (4L, 4.0, "d3"), (10L, 10.0, "d1"), (12L, 12.0, "d9")))
    // untouched partitions were not rewritten: same physical files
    assert(filesOf("d2") == d2Before)
    assert(filesOf("d3") == d3Before)
    // the retained snapshot holds ONLY the moved partition dir (d9 had no
    // dir to move): unaffected partitions never left the live dir
    val retained = new java.io.File(s"$base/t._v$cur")
    assert(retained.listFiles().map(_.getName).filter(_.startsWith("day=")).toSet
      == Set("day=d1"))
    // and time travel still reassembles the full old snapshot
    assert(t.readVersion(cur).orderBy("k").as[(Long, Double, String)]
      .collect().map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("dynamic partition overwrite replaces exactly the incoming partitions") {
    val base = tmpDir("mt-dynover")
    val t = new ManagedTable(spark, s"$base/t")
    t.overwrite(Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0),
      (4L, "d3", 4.0)).toDF("k", "day", "v"), Seq("day"))
    def filesOf(day: String): Set[String] =
      t.read.filter(col("day") === day)
        .select(input_file_name()).as[String].collect().toSet
    val d2Before = filesOf("d2")
    val d3Before = filesOf("d3")
    val cur = t.version
    // the incoming frame's own partitions (d1 restated, d9 new) define the
    // scope — no predicate anywhere
    t.overwritePartitionsDynamic(
      Seq((10L, "d1", 10.0), (12L, "d9", 12.0)).toDF("k", "day", "v"), Seq("day"))
    assert(t.read.orderBy("k").as[(Long, Double, String)].collect().toSeq ==
      Seq((3L, 3.0, "d2"), (4L, 4.0, "d3"), (10L, 10.0, "d1"), (12L, 12.0, "d9")))
    // untouched partitions kept their physical files; time travel intact
    assert(filesOf("d2") == d2Before)
    assert(filesOf("d3") == d3Before)
    assert(t.readVersion(cur).orderBy("k").as[(Long, Double, String)]
      .collect().map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val op = t.history(1).collect().head.getAs[String]("operation")
    assert(op == "OVERWRITE_DYNAMIC", op)
    // founding write path
    val t2 = new ManagedTable(spark, s"$base/t2")
    t2.overwritePartitionsDynamic(Seq((1L, "a", 1.0)).toDF("k", "g", "v"), Seq("g"))
    assert(t2.read.count() == 1)
    // a wrong column list must refuse, not write a second layout
    intercept[IllegalArgumentException] {
      t.overwritePartitionsDynamic(
        Seq((13L, "d1", 13.0)).toDF("k", "day", "v"), Seq("v"))
    }
  }

  test("partitions(): metadata-only inventory with exact DV-adjusted counts") {
    val t = new ManagedTable(spark, tmpDir("mt-parts") + "/t")
    t.overwrite(Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("k", "day"),
      Seq("day"))
    t.setProperties(Map("graft.enableDeletionVectors" -> "true"))
    val p0 = t.partitions().select("day", "row_count")
      .as[(String, Long)].collect().toMap
    assert(p0 == Map("d1" -> 2L, "d2" -> 1L))
    // a vectored delete shrinks the count without touching a file
    t.deleteVectored(col("k") === 1)
    val p1 = t.partitions().select("day", "row_count")
      .as[(String, Long)].collect().toMap
    assert(p1 == Map("d1" -> 1L, "d2" -> 1L))
    // SQL form renders Spark's one-string partition shape
    val sqlRows = graft.sql.GraftSql.sql(spark, s"SHOW PARTITIONS '${t.path}'")
      .select("partition", "row_count").as[(String, Long)].collect().toMap
    assert(sqlRows == Map("day=d1" -> 1L, "day=d2" -> 1L))
    // unpartitioned tables refuse pointedly
    val u = new ManagedTable(spark, tmpDir("mt-parts-u") + "/t")
    u.overwrite(Seq((1L, "x")).toDF("k", "v"))
    intercept[IllegalArgumentException] { u.partitions() }
    // a shallow clone's source-rooted file paths parse the same
    val c = t.shallowCloneTo(tmpDir("mt-parts-clone") + "/c")
    assert(c.partitions().select("day", "row_count")
      .as[(String, Long)].collect().toMap == p1)
  }

  test("overwriteWhere on a missing table creates it (predicate still checked)") {
    val t = freshTable("mt-rwh-new")
    intercept[IllegalArgumentException] {
      t.overwriteWhere(Seq((1L, "x")).toDF("k", "g"), col("g") === "a")
    }
    assert(!t.exists)
    t.overwriteWhere(Seq((1L, "a")).toDF("k", "g"), col("g") === "a")
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a bare append on a partitioned table inherits the logged layout " +
      "instead of scattering files at the root") {
    val t = new ManagedTable(spark, tmpDir("append-inherit") + "/t")
    t.overwrite(Seq((1L, "p0"), (2L, "p1")).toDF("k", "part"), Seq("part"))
    t.append(Seq((3L, "p0"), (4L, "p2")).toDF("k", "part")) // no cols passed
    t.appendOptimistic(Seq((5L, "p1")).toDF("k", "part"))   // OCC path too
    val fs = new org.apache.hadoop.fs.Path(t.path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(t.path)
    val rootFiles = fs.listStatus(root).filter(_.isFile)
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(rootFiles.isEmpty, "appended files must land in partition dirs")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "part=p2")))
    assert(t.read.select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L, 5L))
  }

  test("minMaxFast answers from stats only when exactness is provable") {
    val t = freshTable("mt-minmax")
    t.overwrite(Seq((5L, 2.5, "bb", java.sql.Date.valueOf("2024-02-01")),
        (1L, 7.5, "aa", java.sql.Date.valueOf("2024-01-01")),
        (9L, 1.5, "zz", java.sql.Date.valueOf("2024-03-01")))
      .toDF("k", "x", "s", "d").repartition(2))
    assert(t.minMaxFast("k") == Some(("1", "9")))
    assert(t.minMaxFast("x") == Some(("1.5", "7.5")))
    assert(t.minMaxFast("d") == Some(("2024-01-01", "2024-03-01")))
    // strings refuse: recorded bounds are truncated PREFIXES — enclosing,
    // not attained (a 40-char min would come back cut)
    assert(t.minMaxFast("s").isEmpty)
    // a column with SOME nulls stays exact (SQL MIN/MAX ignore nulls;
    // parquet bounds cover exactly the non-null values)
    val t2 = freshTable("mt-minmax-null")
    t2.overwrite(Seq[(Long, java.lang.Double)]((1L, null), (2L, 3.0), (3L, 8.0))
      .toDF("k", "x").repartition(1))
    assert(t2.minMaxFast("x") == Some(("3.0", "8.0")))
    // but a FILE whose column is entirely null voids the bounds
    // (conservative: the merge can't distinguish unusable from empty) —
    // the caller scans, never gets a wrong answer
    val t3 = freshTable("mt-minmax-allnull")
    t3.overwrite(Seq[(Long, java.lang.Double)]((1L, null), (2L, null))
      .toDF("k", "x").repartition(1))
    t3.append(Seq[(Long, java.lang.Double)]((3L, 4.0)).toDF("k", "x"))
    assert(t3.minMaxFast("x").isEmpty)
    // outstanding deletion vectors refuse: the extreme may be deleted
    t.deleteVectored(col("k") === 5L)
    assert(t.minMaxFast("k").isEmpty,
      "outstanding DVs must force the scan path")
    t.purgeDeletes() // rewrite drops the bitmap; stats are exact again
    assert(t.minMaxFast("k") == Some(("1", "9")))
  }

  test("in-commit timestamps never regress under a backwards clock, and " +
      "skewed histories resolve by the documented rules") {
    val dir = tmpDir("ict")
    val t = new ManagedTable(spark, dir + "/t")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val histPath = new org.apache.hadoop.fs.Path(dir + "/t._log/_history.txt")
    def histTs(): Map[Long, java.time.Instant] = {
      // fold the segmented checkpoint to one file first — this test edits
      // and reads recorded history as a single on-disk artifact
      new ManagedTable(spark, dir + "/t").compactHistoryForTest()
      val in = fs.open(histPath)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines.map { l =>
        val f = l.split('\t')
        f(0).toLong -> java.time.Instant.parse(MetadataPlane.dec(f(1)))
      }.toMap
    }
    def setHistTs(v: Long, ts: java.time.Instant): Unit = {
      new ManagedTable(spark, dir + "/t").compactHistoryForTest()
      val in = fs.open(histPath)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      val out = lines.map { l =>
        val f = l.split('\t')
        if (f(0).toLong == v) { f(1) = MetadataPlane.enc(ts.toString); f.mkString("\t") }
        else l
      }
      val os = fs.create(histPath, true)
      try os.write(out.mkString("\n").getBytes("UTF-8")) finally os.close()
      // a direct rewrite bypasses writeAtomic's cache invalidation
      HistoryCache.invalidate(histPath.toString)
    }
    // 1) ICT floor: record v0's timestamp an hour in the future (an NTP
    // step backwards, or a skewed prior writer) — the next commit's
    // recorded time must be floored at prev + 1 ms, never the "earlier"
    // wall clock, so readAsOf's timestamp→version order equals commit order
    val future = java.time.Instant.now().plusSeconds(3600)
    setHistTs(0L, future)
    new ManagedTable(spark, dir + "/t").append(Seq((2L, "b")).toDF("k", "v"))
    val ts1 = histTs()(1L)
    assert(ts1 == future.plusMillis(1),
      s"v1 recorded $ts1, expected the ICT floor ${future.plusMillis(1)}")
    // 2) a hand-crafted SKEWED history (an external writer without the
    // discipline): v2's recorded clock REGRESSES below v1's. Pin the
    // resolution rules on it.
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    new ManagedTable(spark, dir + "/t").append(Seq((3L, "c")).toDF("k", "v"))
    setHistTs(0L, t0)
    setHistTs(1L, t0.plusSeconds(60))
    setHistTs(2L, t0.plusSeconds(30)) // the skewed commit
    val t2 = new ManagedTable(spark, dir + "/t")
    // versionAtOrAfter: the MINIMUM version whose recorded time qualifies
    // — a later-but-skewed-earlier commit can never mask an earlier
    // qualifying version, and a stream starting there still delivers the
    // skewed commit (delivery is by version, not by clock)
    assert(t2.versionAtOrAfter(t0.plusSeconds(45).toString) == Some(1L))
    assert(t2.versionAtOrAfter(t0.plusSeconds(20).toString) == Some(1L))
    assert(t2.versionAtOrAfter(t0.plusSeconds(61).toString) == None)
    // versionAsOf: the MAXIMUM version recorded at or before the cutoff —
    // under skew that can be a LATER version than some excluded one; the
    // snapshot it serves still contains every earlier version's commits
    assert(t2.versionAsOf(t0.plusSeconds(30).toString) == 2L)
    assert(t2.readAsOf(t0.plusSeconds(30).toString).count() == 3L)
    assert(t2.versionAsOf(t0.plusSeconds(59).toString) == 2L)
    assert(t2.versionAsOf(t0.plusSeconds(60).toString) == 2L)
  }
}
