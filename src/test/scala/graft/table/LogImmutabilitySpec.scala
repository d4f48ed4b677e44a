package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The log is append-only: a rewrite (MERGE, OVERWRITE, OPTIMIZE,
  * ZORDER, incremental compaction, PURGE, RESTORE) moves the replaced
  * files into `<root>._v<N>` but never edits a committed log file. Every
  * existing version manifest, DV snapshot, checkpoint sidecar and retro
  * pointer keeps its bytes; the rewrite's own commit is an ordinary delta
  * whose removes name the committed paths; readers find retired files at
  * read time — including a retired file whose name BOOTSTRAP/RECOVER later
  * adopted again.
  */
class LogImmutabilitySpec extends SparkSpec {
  import spark.implicits._

  private val interval = 4

  /** Bytes and mtime of every history-bearing log file: version
    * manifests, DV snapshots, checkpoint sidecars and retro pointers.
    */
  private def logState(t: ManagedTable): Map[String, (Seq[Byte], Long)] = {
    val log = java.nio.file.Paths.get(t.path + "._log")
    val walk = java.nio.file.Files.walk(log)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => log.relativize(p).toString -> p)
        .filter { case (rel, _) =>
          rel.matches("v\\d{5}\\.json") || rel.matches("_dv/v\\d{5}\\.txt") ||
            rel.endsWith(".checkpoint.parquet") ||
            rel.matches("_checkpoints\\.d/v\\d{5}(\\.anchor)?\\.json")
        }
        .map { case (rel, p) =>
          rel -> (java.nio.file.Files.readAllBytes(p).toSeq,
            p.toFile.lastModified())
        }.toMap
    } finally walk.close()
  }

  private def manifestText(t: ManagedTable, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.path + "._log", f"v$v%05d.json")), "UTF-8")

  private def isCheckpoint(t: ManagedTable, v: Long): Boolean = {
    val txt = manifestText(t, v)
    txt.contains("\"files\":[") || txt.contains("\"filesParquet")
  }

  private def rows(t: ManagedTable, v: Long): Seq[(Long, String, String)] =
    t.readVersion(v).select("k", "p", "s").as[(Long, String, String)]
      .collect().toSeq.sorted

  test("no rewrite edits an existing manifest, DV snapshot, checkpoint " +
      "sidecar or retro pointer; each rewrite commits a delta") {
    CheckpointMaintenance.suspended = true
    try {
      val t = new ManagedTable(spark, tmpDir("log-immutable") + "/t")
      t.setProperties(Map(
        "graft.manifest.checkpointFormat" -> "parquet",
        "graft.manifest.asyncCheckpoint" -> "true",
        "graft.manifest.checkpointPartSize" -> "0",
        "graft.manifest.checkpointInterval" -> interval.toString))
      def batch(ks: Seq[Long], tag: String) =
        ks.map(k => (k, Seq("a", "b", "c")((k % 3).toInt), s"$tag$k"))
          .toDF("k", "p", "s")
      val truth = scala.collection.mutable.Map[Long, Seq[(Long, String, String)]]()
      def note(): Unit = truth(t.version) = rows(t, t.version)
      t.overwrite(batch(1L to 9L, "s"), Seq("p"))           // v0: parquet checkpoint
      note()
      t.append(batch(Seq(10L, 11L), "s"), Seq("p")); note() // v1
      t.deleteVectored(col("k") === 2L); note()             // v2: DV snapshot
      t.append(batch(Seq(12L), "s"), Seq("p")); note()      // v3
      t.append(batch(Seq(13L), "s"), Seq("p")); note()      // v4: due, async delta
      t.runCheckpointMaintenance()                           // retro pointer at v4
      val founding = logState(t)
      assert(founding.keySet.exists(_.startsWith("_dv/")), founding.keySet)
      assert(founding.keySet.exists(_.endsWith(".checkpoint.parquet")), founding.keySet)
      assert(founding.keySet.exists(_.startsWith("_checkpoints.d/")), founding.keySet)

      var deltas = 0
      def rewrite(what: String)(op: => Unit): Unit = {
        val before = logState(t)
        val cur = t.version
        op
        val v = t.version
        assert(v == cur + 1, s"$what should commit exactly one version")
        assert(new java.io.File(s"${t.path}._v$cur").isDirectory,
          s"$what should retire files into ._v$cur")
        val after = logState(t)
        before.foreach { case (f, (bytes, mtime)) =>
          assert(after.get(f).exists(_._1 == bytes), s"$what edited $f")
          assert(after(f)._2 == mtime, s"$what rewrote $f (mtime moved)")
        }
        if (v % interval != 0) {
          assert(!isCheckpoint(t, v), s"$what's commit v$v must be a delta")
          assert(!manifestText(t, v).contains("._v"),
            s"$what's commit must name committed paths: ${manifestText(t, v)}")
          deltas += 1
        }
        note()
      }
      rewrite("MERGE") {
        t.merge(batch(Seq(1L, 4L, 20L), "m"), Seq("k"), Seq("p"))
      }
      rewrite("OVERWRITE") { t.overwrite(batch(1L to 12L, "o"), Seq("p")) }
      rewrite("OPTIMIZE") { t.compact(2) }
      rewrite("ZORDER") { t.cluster("k") }
      t.append(batch(Seq(30L), "x")); note()
      t.append(batch(Seq(31L), "x")); note()
      rewrite("OPTIMIZE (small files)") { t.compactSmall(minFileBytes = 1L << 20) }
      t.deleteVectored(col("k") === 5L); note()
      rewrite("PURGE") { t.purgeDeletes() }
      rewrite("RESTORE") { t.restore(2L) }
      assert(deltas >= 4, s"only $deltas rewrite commits landed off the interval")
      // nothing that existed before the first rewrite changed either
      val end = logState(t)
      founding.foreach { case (f, (bytes, _)) =>
        assert(end.get(f).exists(_._1 == bytes), s"$f was edited")
      }
      // and every version still reads back exactly what it held
      val fresh = new ManagedTable(spark, t.path)
      truth.toSeq.sortBy(_._1).foreach { case (v, expect) =>
        assert(rows(fresh, v) == expect, s"version $v changed")
      }
      assert(rows(fresh, fresh.version) == truth(2L))
    } finally CheckpointMaintenance.suspended = false
  }

  test("time travel across a reused file name serves each version its own file") {
    val dir = tmpDir("log-reused-name")
    val root = java.nio.file.Paths.get(dir, "t")
    java.nio.file.Files.createDirectories(root)
    var staged = 0
    // a plain parquet file under a non-Spark name, as an external writer
    // would leave it
    def drop(ks: Seq[Long], tag: String): Unit = {
      staged += 1
      val stage = s"$dir/stage$staged"
      ks.map(k => (k, s"$tag$k")).toDF("k", "s").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, root.resolve("part-0.parquet"))
    }
    def at(t: ManagedTable, v: Long): Set[(Long, String)] =
      t.readVersion(v).select("k", "s").as[(Long, String)].collect().toSet
    val a = Set((1L, "a1"), (2L, "a2"))
    val b = Set((3L, "b3"))
    val c = Set((4L, "c4"), (5L, "c5"), (6L, "c6"))
    drop(a.map(_._1).toSeq, "a")
    val t = new ManagedTable(spark, root.toString)
    t.bootstrap()                                   // v0 adopts part-0.parquet
    t.overwrite(b.toSeq.toDF("k", "s"))             // v1 retires it into ._v0
    drop(c.map(_._1).toSeq, "c")                    // the same name, new rows
    t.bootstrap()                                   // v2 RECOVER adopts it again
    val ops = t.history().select("version", "operation").as[(Long, String)]
      .collect().toMap
    assert(ops == Map(0L -> "BOOTSTRAP", 1L -> "OVERWRITE", 2L -> "RECOVER"))
    assert(at(t, 0L) == a)
    assert(at(t, 1L) == b)
    assert(at(t, 2L) == b ++ c)
    assert(t.read.select("k", "s").as[(Long, String)].collect().toSet == b ++ c)
  }
}
