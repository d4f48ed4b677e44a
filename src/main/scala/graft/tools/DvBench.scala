package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Tables
import graft.table.ManagedTable

/** A/B benchmark for merge-on-read DML: the same 1%-selective DELETE and
  * UPDATE run copy-on-write (full atomic rewrite) vs deletion-vectored
  * (bitmap commit), plus the read-side toll of scanning through the
  * vectors. The at-scale claim under test: vectored DML cost tracks the
  * TOUCHED rows while copy-on-write tracks the TABLE, and the read
  * penalty of the codegen'd `dv_deleted` filter is small.
  * Usage: runMain graft.tools.DvBench [sfDir]
  */
object DvBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("graft-dv-bench")
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("dv-bench").toString
    val li = Tables.lineitem(spark, sfDir)

    def freshCopy(name: String): ManagedTable = {
      val t = new ManagedTable(spark, s"$wh/$name")
      t.overwrite(li.repartition(16))
      t
    }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // the metric that transfers to 100 TB: bytes of DATA files the op wrote
    // (copy-on-write rewrites the table; vectored DML writes the touched
    // rows' replacements — or nothing at all for a delete — plus a
    // kilobyte-scale bitmap sidecar)
    def dataFiles(t: ManagedTable): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(t.path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq((st.getPath.toString, st.getLen))
          else Nil
        }
      walk(new org.apache.hadoop.fs.Path(t.path)).toMap
    }
    def written(before: Map[String, Long], t: ManagedTable): Long =
      dataFiles(t).collect { case (p, len) if !before.contains(p) => len }.sum
    def mb(b: Long): String = f"${b / 1e6}%.1f MB"
    // ~1%-selective predicates (suppkey space is dense)
    val delCond = col("l_suppkey") % 100 === 7
    val updCond = col("l_suppkey") % 100 === 11

    // DELETE: copy-on-write vs vectored
    val cow = freshCopy("cow")
    val cowBefore = dataFiles(cow)
    val (_, tCowDel) = time(cow.delete(delCond))
    val bCowDel = written(cowBefore, cow)
    val mor = freshCopy("mor")
    val morBefore = dataFiles(mor)
    val (_, tMorDel) = time(mor.deleteVectored(delCond))
    val bMorDel = written(morBefore, mor)
    require(cow.read.count() == mor.read.count(), "delete results diverge")

    // UPDATE: copy-on-write vs vectored (same surviving tables)
    val upd = Map("l_quantity" -> (col("l_quantity") + 1))
    val cowBefore2 = dataFiles(cow)
    val (_, tCowUpd) = time(cow.update(updCond, upd))
    val bCowUpd = written(cowBefore2, cow)
    val morBefore2 = dataFiles(mor)
    val (_, tMorUpd) = time(mor.updateVectored(updCond, upd))
    val bMorUpd = written(morBefore2, mor)
    val qa = cow.read.agg(sum("l_quantity")).head.getDouble(0)
    val qb = mor.read.agg(sum("l_quantity")).head.getDouble(0)
    require(math.abs(qa - qb) <= 1e-6 * math.max(math.abs(qa), 1.0),
      s"update results diverge: $qa vs $qb")

    // read toll: full-scan aggregate on a clean copy vs the DV'd copy
    val clean = freshCopy("clean")
    def probe(t: ManagedTable): Double = {
      val (_, s) = time(
        t.read.agg(sum("l_extendedprice"), count(lit(1))).collect())
      s
    }
    probe(clean); probe(mor) // warm
    val tClean = (1 to 5).map(_ => probe(clean)).sorted.apply(2)
    val tDv = (1 to 5).map(_ => probe(mor)).sorted.apply(2)

    // localized delete (key-clustered layout, GDPR-style by-key erasure):
    // the bitmap lands in ~1 of 16 files, and the split scan leaves the
    // other 15 entirely filter-free
    val loc = new ManagedTable(spark, s"$wh/loc")
    loc.overwrite(li.repartitionByRange(16, col("l_suppkey"))
      .sortWithinPartitions("l_suppkey"))
    loc.deleteVectored(col("l_suppkey") <= 40) // ~1% of the key space
    val dirtyFiles = loc.deletionVectors.size
    probe(loc) // warm
    val tLoc = (1 to 5).map(_ => probe(loc)).sorted.apply(2)

    val dvRows = mor.deletionVectors.values.sum
    println(f"[dv-bench] rows=${li.count()} dvMarkedRows=$dvRows")
    println(f"[dv-bench] delete: cow=$tCowDel%.2fs/${mb(bCowDel)} written, " +
      f"vectored=$tMorDel%.2fs/${mb(bMorDel)} written " +
      f"(${bCowDel.toDouble / math.max(bMorDel, 1)}%.0fx less data IO)")
    println(f"[dv-bench] update: cow=$tCowUpd%.2fs/${mb(bCowUpd)} written, " +
      f"vectored=$tMorUpd%.2fs/${mb(bMorUpd)} written " +
      f"(${bCowUpd.toDouble / math.max(bMorUpd, 1)}%.0fx less data IO)")
    println(f"[dv-bench] scan median-of-5: clean=$tClean%.3fs " +
      f"all-files-dirty=$tDv%.3fs (+${100 * (tDv - tClean) / tClean}%.0f%%) " +
      f"localized($dirtyFiles/16 dirty)=$tLoc%.3fs (+${100 * (tLoc - tClean) / tClean}%.0f%%)")
    spark.stop()
  }
}
