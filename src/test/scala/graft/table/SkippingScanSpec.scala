package graft.table

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The skipping reads (`readWhere`, `readWhereAll`, `readPoint`,
  * `readWhereNull`) plan from the engine's own snapshot through
  * [[KeptFileIndex]]: no Spark job runs between calling the read and its
  * action, the read has `read`'s schema, and its rows are
  * `read.filter(...)`'s.
  */
class SkippingScanSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring[T](body: => T): (T, Int) =
    graft.tools.JobCounter.jobsDuring(spark)(body)

  private def qualifiedRoot(t: ManagedTable): String = {
    val p = new org.apache.hadoop.fs.Path(t.path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema.simpleString} vs ${b.schema.simpleString}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  /** Each skipping read plans with zero jobs and equals `read.filter`. */
  private def checkPlansWithoutJobs(t: ManagedTable, c: String, lo: Long,
                                    hi: Long, minKept: Int): Unit = {
    t.read.schema // the version's physical schema is cached from here on
    val (kept, _) = t.filesOverlapping(c, lo, hi)
    assert(kept.size >= minKept, s"kept ${kept.size} files")
    val reads = Seq[(String, () => DataFrame, DataFrame)](
      ("readWhere", () => t.readWhere(c, lo, hi),
        t.read.filter(col(c).between(lo, hi))),
      ("readWhereAll", () => t.readWhereAll(Seq((c, lo, hi))),
        t.read.filter(col(c).between(lo, hi))),
      ("readPoint", () => t.readPoint(c, lo), t.read.filter(col(c) === lo)),
      ("readWhereNull", () => t.readWhereNull("n"), t.read.filter(col("n").isNull)))
    for ((name, call, expected) <- reads) {
      val (df, jobs) = jobsDuring(call())
      assert(jobs == 0, s"$name launched $jobs Spark jobs while planning")
      sameRows(df, expected)
    }
  }

  // n is null on every 7th row, so readWhereNull keeps files too
  private def rows(n: Int) = spark.range(n).select(col("id").as("k"),
    (col("id") % 5).as("g"),
    when(col("id") % 7 =!= 0, col("id") * 2).as("n"))

  test("a 41-file unpartitioned table plans every skipping read with zero jobs") {
    val t = new ManagedTable(spark, tmpDir("ss-41") + "/t")
    t.overwrite(rows(4100).repartitionByRange(41, col("k")))
    val files = t.filesOverlapping("k", 0L, 4099L)._2
    assert(files.size == 41, s"expected 41 data files, got ${files.size}")
    checkPlansWithoutJobs(t, "k", 0L, 4099L, minKept = 41)
    // negative control: handing the kept paths to Spark's reader launches
    // at least one job (schema inference) before any action
    val (_, jobs) = jobsDuring(spark.read.parquet(files: _*))
    assert(jobs >= 1, "spark.read.parquet(kept: _*) planned without a job")
  }

  test("a cold skipping read runs one root inference job, then none") {
    val t = new ManagedTable(spark, tmpDir("ss-cold") + "/t")
    t.overwrite(rows(400).repartitionByRange(4, col("k")))
    t.append(rows(10))
    // as after a commit that cached nothing: the version's physical
    // schema must be inferred from the root before the index can plan
    PhysicalSchemaCache.invalidate(qualifiedRoot(t))
    val (cold, coldJobs) = jobsDuring(t.readWhere("k", 0L, 100L))
    assert(coldJobs <= 1, s"cold skipping read launched $coldJobs jobs while planning")
    assert(coldJobs == 1, "an invalidated schema cache planned without inferring")
    sameRows(cold, t.read.filter(col("k").between(0L, 100L)))
    val (_, warmJobs) = jobsDuring(t.readWhere("k", 0L, 100L))
    assert(warmJobs == 0, s"warm skipping read launched $warmJobs jobs while planning")
  }

  test("partitioned, deletion-vector and column-mapped tables plan with zero jobs") {
    val part = new ManagedTable(spark, tmpDir("ss-part") + "/t")
    part.overwrite(rows(600).repartition(3), Seq("g"))
    checkPlansWithoutJobs(part, "k", 100L, 400L, minKept = 5)

    val dv = new ManagedTable(spark, tmpDir("ss-dv") + "/t")
    dv.overwrite(rows(600).repartitionByRange(6, col("k")))
    dv.deleteVectored(col("k") % 3 === 0)
    assert(dv.deletionVectors.nonEmpty)
    checkPlansWithoutJobs(dv, "k", 50L, 550L, minKept = 5)

    val cm = new ManagedTable(spark, tmpDir("ss-cm") + "/t")
    cm.overwrite(rows(600).withColumnRenamed("k", "key")
      .repartitionByRange(6, col("key")))
    cm.enableColumnMapping()
    cm.renameColumn("key", "k")
    assert(cm.read.columns.toSeq == Seq("k", "g", "n"))
    checkPlansWithoutJobs(cm, "k", 50L, 550L, minKept = 5)
  }

  test("skipping reads return read's schema on a partitioned table") {
    // a string partition whose kept subset looks numeric: inference over
    // the kept files alone would type p as int
    val t = new ManagedTable(spark, tmpDir("ss-schema") + "/t")
    t.overwrite(Seq((1L, "1", Some(1L)), (2L, "1", None), (11L, "2", Some(2L)),
      (21L, "x", Some(3L))).toDF("k", "p", "n"), Seq("p"))
    assert(t.read.schema("p").dataType.simpleString == "string")
    val kept = t.filesOverlapping("k", 1L, 2L)._1
    assert(kept.nonEmpty && kept.forall(_.contains("/p=1/")), kept)
    val s = t.read.schema
    assert(t.readWhere("k", 1L, 2L).schema == s)
    assert(t.readWhereAll(Seq(("k", 1L, 2L))).schema == s)
    assert(t.readPoint("k", 1L).schema == s)
    assert(t.readWhereNull("n").schema == s)
    assert(t.readWhereNull("n").select("k", "p").as[(Long, String)]
      .collect().toSeq == Seq((2L, "1")))
    // partition filters over the index prune exactly
    assert(t.readWhere("k", 0L, 30L).filter(col("p") === "2")
      .select("k").as[Long].collect().toSeq == Seq(11L))
    // escaped and null partition values parse back to read's values
    t.append(Seq((31L, "a=b/c", Some(4L)), (41L, null, Some(5L)))
      .toDF("k", "p", "n"), Seq("p"))
    sameRows(t.readWhere("k", 30L, 50L), t.read.filter(col("k").between(30L, 50L)))
    assert(t.readPoint("k", 31L).select("p").as[String].collect().toSeq == Seq("a=b/c"))
    // a timestamp partition: its escaped dir value casts in the session zone
    val ts = new ManagedTable(spark, tmpDir("ss-ts") + "/t")
    ts.overwrite(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 11:30:00"))).toDF("k", "at"), Seq("at"))
    sameRows(ts.readWhere("k", 2L, 2L), ts.read.filter(col("k") === 2L))
  }

  test("SQL COUNT/MIN/MAX over a skipping read answers the subset, not the table") {
    val t = new ManagedTable(spark, tmpDir("ss-meta") + "/t")
    t.overwrite(rows(1000).repartitionByRange(10, col("k")))
    val df = t.readWhereAll(Seq(("k", 100L, 199L)))
    val roots = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    assert(roots.nonEmpty && roots != Seq(qualifiedRoot(t)), s"index roots: $roots")
    df.createOrReplaceTempView("ss_subset")
    val r = spark.sql("SELECT COUNT(*), MIN(k), MAX(k) FROM ss_subset").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 100L, 199L)))
    val all = spark.sql("SELECT COUNT(*) FROM ss_subset WHERE k >= 0").head()
    assert(all.getLong(0) == 100L)
  }
}
