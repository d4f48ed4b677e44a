package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, encode, expr, lit, when}

/** A managed Parquet table directory emulating the reference's Delta-table
  * capability surface (SURVEY.md §7.4): overwrite/append/partitioned writes,
  * MERGE upsert with an atomic directory swap, compaction (`OPTIMIZE`,
  * deltalake.ipynb:1337–1338), clustering (`ZORDER BY`, deltalake.ipynb:
  * 4614–4620), existence probe (`DeltaTable.isDeltaTable`, deltalake.ipynb:
  * 1786), `detail()` metadata introspection (deltalake.ipynb:8593–8613,
  * 8748–8750), and a JSON commit log backing `history()` (deltalake.ipynb:
  * 8760) and version-pinned reads ([[readVersion]]).
  *
  * Commit log: every mutation appends `<path>._log/v<N>.json` holding the
  * version, timestamp, operation, partition columns, file stats, row count
  * and the version's file manifest (a full list at checkpoints, else the
  * add/remove delta). Data replaced by a rewrite is retired into
  * `<path>._v<N>` (N + 1 = the retiring commit) rather than deleted —
  * Delta's retain-until-vacuum discipline. The log is never edited: every
  * manifest keeps the path a file was committed at, the rewrite commit
  * logs the retired paths as removes, and `readVersion(v)` finds a retired
  * file at read time ([[resolveLive]]). [[vacuumVersions]] drops retained
  * snapshots; plain `spark.read.parquet(path)` always sees the CURRENT
  * version (the live dir holds only it).
  *
  * Non-goal (documented, as in SURVEY.md §7.4): concurrent writers —
  * single-writer batch semantics like the reference notebook. A fail-fast
  * lease ([[withCommitLock]]) makes a second concurrent writer error out
  * immediately instead of corrupting the log; full optimistic concurrency
  * (conflict detection + retry) remains out of scope.
  *
  * Scale notes:
  *  - Partitioned layout + partition pruning is what bounds rewrite cost:
  *    `merge` only needs the key-matched subset; at 100 TB you'd partition
  *    by date and merge within recent partitions. Its retirement moves only
  *    the affected partition dirs (renames, no data copy).
  *  - The commit itself costs one dir listing + a parquet metadata-only
  *    count — no data pass.
  *  - `cluster` = repartitionByRange + sortWithinPartitions approximates
  *    Z-order: range partitioning gives file-level locality on the leading
  *    column(s), the in-file sort gives parquet row-group min/max stats on
  *    all of them, and predicate pushdown supplies the data skipping
  *    (measured 18–50% scan wins in the reference, cell 26 output).
  */
final class ManagedTable(spark: SparkSession, val path: String)
    extends org.apache.spark.internal.Logging {
  import ManagedTable.Committed

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Churn entries the last [[commitFromState]] dropped because the
    * funnel over-reported (re-declared an already-live ADD or a not-live
    * REMOVE). A well-behaved funnel reports zero — staged writes use
    * fresh UUID names — so a persistent non-zero here is a funnel
    * regression; surfaced by a warn log and asserted by the fast-path
    * spec. Diagnostic only, never part of the log format.
    */
  private[table] var lastFunnelOverReport: Int = 0

  def exists: Boolean = fs.exists(new Path(path))

  // ---- commit log ----------------------------------------------------

  private def logDir = new Path(path + "._log")
  private def retainedDir(v: Long): String =
    fs.makeQualified(new Path(path + "._v" + v)).toString
  /** K of a `<root>._vK` dir [[retainedDirsOf]] listed. */
  private def retainedVersion(dir: String): Long =
    dir.substring(dir.lastIndexOf("._v") + 3).toLong
  private def qualifiedRoot: String = fs.makeQualified(new Path(path)).toString

  /** Latest committed version, or -1 if the table has no log yet. */
  def version: Long =
    if (!fs.exists(logDir)) -1L
    else fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(-1L)(math.max)

  /** Earliest version whose manifest the log still holds — log retention
    * ([[cleanupLog]]) may have expired older ones; -1 when no log. The
    * incremental consumers (streaming sources, [[graft.table.IncrementalAgg]])
    * treat this version as the founding commit: everything it references
    * counts as added.
    */
  private[graft] def earliestVersion: Long =
    if (!fs.exists(logDir)) -1L
    else fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(Long.MaxValue)(math.min) match {
        case Long.MaxValue => -1L
        case v => v
      }

  /** Tables created before the log existed get their current state recorded
    * as version 0 before the first logged mutation touches it; a live dir
    * that diverged from the last commit (a crash between swap and commit,
    * or an out-of-band writer) gets recorded as a RECOVER version first, so
    * no observed table state is ever missing from the log.
    */
  /** True when the table state calls for a BOOTSTRAP or RECOVER commit. */
  private def needsBootstrapCommit: Boolean =
    if (version < 0) true
    // an unmaterialized shallow clone's live dir is empty by design while
    // its manifest references the source's files — that divergence is the
    // clone contract, not a crash to RECOVER from (a RECOVER here would
    // wipe the manifest)
    else if (isShallowClone) false
    else {
      // manifest-is-truth: compare the dir against the LOG's live set for
      // the current version (O(1) checkpoint + O(interval) deltas), not
      // against `_latest_files.txt` — fast-path delta commits
      // ([[commitFromState]]) don't rewrite that sidecar, and the log is
      // the authority the readers plan from anyway
      val recorded = manifestFiles(version).toSet
      val live = listParquet(new Path(path))
        .map(f => fs.makeQualified(new Path(f._1)).toString).toSet
      live != recorded
    }

  /** True when the live dir holds EXACTLY the current version's logged
    * file set — the dir↔log consistency probe metadata-only SQL rewrites
    * gate on ([[graft.sql.MetadataOnlyAggregates]]): a log-derived
    * COUNT/MIN/MAX replaces a RAW dir scan, so an out-of-band file the
    * trust model otherwise tolerates until a boundary must decline the
    * rewrite, not change its answer. One O(live) listing; callers
    * memoize per (root, version incarnation). Unlike the BOOTSTRAP
    * probe this deliberately reports a shallow clone's empty dir as a
    * MISMATCH — the raw scan a rewrite would replace reads that empty
    * dir, not the clone's foreign files.
    */
  private[graft] def dirMatchesLog: Boolean = {
    val v = version
    v >= 0 && {
      // a live state this process cached at its commit of v IS recon(v)
      // (committed manifests are never edited), so a warm probe skips
      // the checkpoint + delta walk
      val recorded = CommitLiveCache.get(qualifiedRoot, v).map(_.files.keySet)
        .getOrElse(manifestFiles(v).toSet)
      val live = listParquet(new Path(path))
        .map(f => fs.makeQualified(new Path(f._1)).toString).toSet
      live == recorded
    }
  }

  /** CONVERT-TO-GRAFT (Delta's `CONVERT TO DELTA parquet.`/p``,
    * deltalake.ipynb's bronze parquet→Delta adoption shape): record an
    * existing plain-parquet directory's current state as a logged version —
    * BOOTSTRAP for a table that predates the log, RECOVER for a live dir
    * that diverged from its last commit. Idempotent on a consistent table:
    * the cheap consistency probe runs first and no commit (or lease
    * round-trip) happens unless state is actually missing from the log.
    */
  def bootstrap(): Unit = {
    require(exists, s"no parquet directory at $path to convert")
    // the EXPLICIT convert/verify call always re-lists — it is the user's
    // way to force a consistency check past the handle's trust window
    trustedDirVersion = Long.MinValue
    ensureBootstrapped()
  }

  /** Last version at which THIS handle verified (by listing) or itself
    * produced dir↔log consistency. While the log version still equals it,
    * [[ensureBootstrapped]] skips the O(live files) consistency listing —
    * the manifest-is-truth trust model: verify at boundaries (fresh
    * handle, external commit, checkpoint commits' listing path), not per
    * mutation. An external writer's commit bumps the version and resets
    * trust automatically.
    */
  @volatile private var trustedDirVersion: Long = Long.MinValue

  private def ensureBootstrapped(): Unit =
    // cheap checks first: a handle that already verified this version
    // skips the consistency listing outright, and the overwhelmingly
    // common consistent case must not pay a lease acquire/release round
    // trip. Only when a commit is actually needed take the lease and
    // RE-CHECK under it — a BOOTSTRAP/RECOVER commit from here must not
    // interleave with another writer's commit. (Inside the mutation
    // funnels the lease is already held and the acquire is a reentrant
    // no-op.)
    //
    // A held lease makes the divergence verdict itself untrustworthy:
    // optimistic writers stage data files LEASELESSLY, so this probe's
    // listing can catch another writer mid-commit and read its staged
    // files as drift. Failing the caller then (the old fail-fast
    // acquire) turns a read/bootstrap PREFLIGHT into a spurious
    // concurrent-writer error — the config-matrix soak hit exactly that
    // under parallel appendOptimistic. Instead, re-probe after the
    // in-flight commit lands (bounded): the version bump re-runs the
    // listing against the new truth, and the common outcome is
    // "consistent, trusted, no commit at all". A lease held past the
    // bound surfaces the original fail-fast error (dead-writer autopsy
    // path unchanged).
    if (exists) {
      // Contention backoff: capped-exponential, total bound scalable via
      // `graft.bootstrap.preflightWaitMs` (default 15 s) — a fixed
      // 40×50 ms poll both hammered the store at a constant cadence and
      // capped out at 2 s, under a realistic optimistic publish's
      // lease-hold on a slow store (large staged batch). A non-contended
      // preflight never sleeps: the backoff only runs after a
      // ConcurrentModificationException from the lease acquire.
      val waitBudgetMs = sys.props
        .getOrElse("graft.bootstrap.preflightWaitMs", "15000").toLong
      var sleptMs = 0L
      var stepMs = 25L
      var done = false
      while (!done) {
        // capture ONCE: trust must be recorded for the version this check
        // actually verified — re-reading `version` after the (leaseless)
        // listing would let a concurrent commit land in between and get
        // trusted without ever being checked against the dir
        val v0 = version
        if (trustedDirVersion == v0) done = true
        else if (!needsBootstrapCommit) { trustedDirVersion = v0; done = true }
        else {
          try {
            withCommitLock {
              if (version < 0) commit("BOOTSTRAP", Nil)
              else if (needsBootstrapCommit) commit("RECOVER", Nil)
              // commit() recorded trust for the version it created; when
              // the under-lease recheck found no divergence, trust stays
              // unset — conservative, the next call re-verifies
            }
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException
                if sleptMs < waitBudgetMs =>
              Thread.sleep(stepMs)
              sleptMs += stepMs
              stepMs = math.min(stepMs * 2, 800L)
          }
        }
      }
    }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Per-column skipping stats for a file: kind "i"/"d" (numeric, compared
    * as BigDecimal), "s" (UTF-8 string, lexicographic), "D" (date, epoch
    * days) with URL-encoded bounds, or "n" (no usable bounds — all-null,
    * NaN-bounded or unordered type; null COUNT only), plus the column's
    * null count (−1 = unknown: footer didn't record it, or the entry was
    * read from a pre-nullcount v1 sidecar line).
    */
  private type FileStats = graft.table.FileStats
  private val FileMeta = graft.table.FileMeta
  private type FileMeta = graft.table.FileMeta

  /** How many leaf columns get data-skipping stats (Delta's
    * dataSkippingNumIndexedCols analogue, which defaults to 32 and is a
    * table property). Overridable per table via TBLPROPERTY
    * `graft.stats.cols` so a wide fact table can index past column 8;
    * resolved ONCE per metadata operation (not per footer — the property
    * lookup is a file read).
    */
  private val statsColsDefault = 8
  private val statsColsProp = "graft.stats.cols"
  private def statsColsNow: Int =
    properties.get(statsColsProp)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(statsColsDefault)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Bulk-read a log text file. scala.io.Source's char iterator runs
    * ~10 MB/s; the sidecar/checkpoint files this layer folds are O(live
    * files) big (a 1e6-file table's checkpoint is ~100 MB), so the slow
    * path turns every snapshot resolution into tens of seconds
    * (ManifestBench) — always bulk-copy bytes, then split.
    */
  private def readTextFully(p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream(64 * 1024)
      val buf = new Array[Byte](64 * 1024)
      var r = in.read(buf)
      while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Unsigned UTF-8 byte order — parquet's binary-stats ordering. Java's
    * String compare is UTF-16 code-unit order, which DISAGREES for
    * supplementary characters vs [U+E000, U+FFFF]; comparing stats in any
    * other order than the one that produced them can prune a file that
    * holds matching rows.
    */
  private def utf8Leq(a: String, b: String): Boolean =
    MetadataPlane.utf8Leq(a, b)

  /** String skipping-stats are truncated to this many code points (Delta's
    * 32-char discipline): a long text column among the first [[statsColsNow]]
    * leaves would otherwise put two document-sized bounds on every sidecar
    * line.
    */
  private val statsTruncLen = 32
  private def truncCp(s: String, n: Int): String = {
    val end = try s.offsetByCodePoints(0, n)
      catch { case _: IndexOutOfBoundsException => s.length }
    s.substring(0, end)
  }

  /** Truncated lower bound: any prefix is utf8Leq the full string. */
  private def truncMin(s: String): String = truncCp(s, statsTruncLen)

  /** Truncated upper bound: 32-code-point prefix with its last code point
    * incremented, which is utf8-greater than EVERY string sharing the
    * untruncated prefix (UTF-8 preserves code-point order). Increments
    * landing in the surrogate gap jump to U+E000; if every code point is
    * already U+10FFFF there is no bounded upper bound — None, and the
    * caller drops the column's stats (keep-file-conservative).
    */
  private def truncMax(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= statsTruncLen) return Some(s)
    val cps = truncCp(s, statsTruncLen).codePoints.toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val inc = if (cps(i) + 1 >= Character.MIN_SURROGATE &&
                    cps(i) + 1 <= Character.MAX_SURROGATE) 0xE000 else cps(i) + 1
      val kept = cps.take(i + 1); kept(i) = inc
      Some(new String(kept, 0, kept.length))
    }
  }

  /** Parquet writers normalize zero float/double bounds to min = -0.0 and
    * max = +0.0 (a widening so either sign matches the range). Surfacing
    * -0.0 from ANALYZE leaks that storage artifact: a full scan of the same
    * data reports min 0.0. Canonicalize ±0.0 → 0.0 for kind-"d" bounds —
    * skipping-safe because IEEE range compares treat the zeros as equal.
    */
  private def canonZero(kind: String, v: String): String =
    if (kind == "d" && java.lang.Double.parseDouble(v) == 0.0d) "0.0" else v

  /** Numeric stat order via double (Infinity-safe; monotonic rounding for
    * huge longs only creates ties, which keep files — conservative).
    * NaN compares keep the file.
    */
  private def numLeq(a: String, b: String): Boolean =
    MetadataPlane.numLeq(a, b)

  /** Read row count AND per-column min/max from one parquet footer,
    * indexing the first `nCols` leaf columns (caller resolves
    * [[statsColsNow]] once per operation).
    */
  private def footerMeta(p: Path, nCols: Int): FileMeta = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val footer = rd.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // the materialized row-id column never takes a stats-window slot (it
      // would displace a user column); its presence is recorded as a
      // sentinel entry so commit() recognizes a maintenance rewrite's
      // output without a second footer read
      val allCols = schema.getColumns.asScala.zipWithIndex
      val hasRowIdCol = allCols.exists(
        _._1.getPath.mkString(".") == RowTracking.col)
      val stats0 = allCols
        .filter { case (cd, _) => cd.getPath.mkString(".") != RowTracking.col }
        .take(nCols)
        .flatMap { case (cd, i) =>
          val prim = cd.getPrimitiveType
          val ann = prim.getLogicalTypeAnnotation
          // INT32/INT64 stats are stored in PHYSICAL units: decimal as the
          // unscaled integer, date as epoch days, timestamps as epoch
          // micros. filesOverlapping compares against USER-space predicate
          // values, so only annotations with a faithful decode get stats;
          // decimal decodes via its scale, date to an ISO string (lexical
          // order == chronological), everything else is skipped.
          val kind = prim.getPrimitiveTypeName match {
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 |
                 org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
              ann match {
                case null => "i"
                case it: org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation if it.isSigned => "i"
                case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .DecimalLogicalTypeAnnotation => "i"
                // date stats stay in storage units (epoch days, kind "D");
                // filesOverlapping decodes the USER predicate to epoch days
                // instead. Decoding the stat to an ISO string and comparing
                // lexically would break for BCE dates ("-0001-…" sorts
                // opposite to chronology) and years ≥ 10000 ("+10000-…").
                case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .DateLogicalTypeAnnotation => "D"
                // timestamp stats normalize to EPOCH MICROS at encode
                // (MILLIS ×1000, NANOS floor/ceil-widened), same pattern as
                // dates: filesOverlapping decodes the USER predicate to
                // micros. Instant semantics (isAdjustedToUTC) and local
                // semantics (NTZ) are distinct kinds — their predicate
                // decodes differ by the session time zone.
                case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation =>
                  if (ts.isAdjustedToUTC) "T" else "t"
                case _ => "" // time/unsigned: storage-unit stats
              }
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE |
                 org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT => "d"
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
              if ann.isInstanceOf[
                org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] => "s"
            case _ => "" // raw binary/boolean: no skipping stats
          }
          val perBlock = blocks.map(_.getColumns.asScala(i).getStatistics)
          // null count is independent of bound usability: every block must
          // record it (isNumNullsSet), else it's unknown (−1, never prunes)
          val nulls: Long =
            if (perBlock.isEmpty ||
                perBlock.exists(s => s == null || !s.isNumNullsSet)) -1L
            else perBlock.map(_.getNumNulls).sum
          val colName = cd.getPath.mkString(".")
          // bounds unusable (unordered type, all-null, NaN) → kind "n":
          // the null count alone still serves IS [NOT] NULL skipping and
          // prunes all-null files from range scans
          def noBounds: Option[(String, (String, String, String, Long))] =
            if (nulls >= 0) Some(colName -> ("n", "", "", nulls)) else None
          if (kind.isEmpty || perBlock.isEmpty ||
              perBlock.exists(s => s == null || s.isEmpty || !s.hasNonNullValue)) noBounds
          else {
            def str(v: Any, isMax: Boolean): String = (ann, v) match {
              case (d: org.apache.parquet.schema.LogicalTypeAnnotation
                    .DecimalLogicalTypeAnnotation, n: Number) =>
                java.math.BigDecimal.valueOf(n.longValue, d.getScale).toPlainString
              case (ts: org.apache.parquet.schema.LogicalTypeAnnotation
                    .TimestampLogicalTypeAnnotation, n: Number) =>
                val x = n.longValue
                (ts.getUnit match {
                  case org.apache.parquet.schema.LogicalTypeAnnotation
                        .TimeUnit.MILLIS => x * 1000L
                  case org.apache.parquet.schema.LogicalTypeAnnotation
                        .TimeUnit.MICROS => x
                  // nanos don't divide evenly into micros: widen (floor the
                  // min, ceil the max) so the micro bound still encloses
                  case _ => if (isMax) Math.floorDiv(x + 999L, 1000L)
                            else Math.floorDiv(x, 1000L)
                }).toString
              case (_, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
              case (_, x) => x.toString // dates stay as raw epoch days (kind "D")
            }
            val mins = perBlock.map(s => str(s.genericGetMin, isMax = false))
            val maxs = perBlock.map(s => str(s.genericGetMax, isMax = true))
            if (kind != "s" &&
                (mins ++ maxs).exists(v => java.lang.Double.parseDouble(v).isNaN))
              noBounds // NaN bounds carry no ordering information
            else if (kind == "s") {
              val mn = mins.reduce((a, b) => if (utf8Leq(a, b)) a else b)
              val mx = maxs.reduce((a, b) => if (utf8Leq(a, b)) b else a)
              truncMax(mx).map(m =>
                colName -> (kind, truncMin(mn), m, nulls)).orElse(noBounds)
            } else {
              // micros are exact Longs; double compare would tie (and could
              // misorder) past the 53-bit mantissa
              val leqK: (String, String) => Boolean =
                if (kind == "T" || kind == "t") (a, b) => a.toLong <= b.toLong
                else numLeq
              val mn = mins.reduce((a, b) => if (leqK(a, b)) a else b)
              val mx = maxs.reduce((a, b) => if (leqK(a, b)) b else a)
              Some(colName -> (kind, canonZero(kind, mn), canonZero(kind, mx), nulls))
            }
          }
        }.toMap
      val stats =
        if (hasRowIdCol)
          stats0 + (RowTracking.col -> (RowTracking.statsKind, "", "", -1L))
        else stats0
      FileMeta(rows, stats)
    } finally rd.close()
  }

  private def sidecarBase = new Path(logDir, "_file_rows.txt")
  private def sidecarSegDir = new Path(logDir, "_file_rows.d")

  /** Compact the stats cache into its base file once this many segment
    * files accumulate (Delta's checkpoint-every-N-commits analogue).
    */
  private val sidecarCompactAt = 16

  /** v2 line: `path len rows %v2 (col kind min max nulls)*`. The explicit
    * format marker is what makes the null-count upgrade safe: a v1 line
    * (4-cell stat groups, no marker) must never be regrouped by 5 into
    * garbage bounds that wrongly prune files. The marker starts with '%',
    * which [[enc]] (URLEncoder) always escapes — so no v1 line's first
    * encoded COLUMN NAME cell can ever equal it.
    */
  private def sidecarLine(p: String, len: Long, m: FileMeta): String =
    MetadataPlane.sidecarLine(MetadataPlane.Entry(p, len, m.rows, m.stats))

  /** Parse one sidecar file through the process-wide [[SidecarCache]]
    * ((length, mtime)-validated — see its scaladoc): every mutation
    * re-reads base+segments, and without the cache a hot writer pays the
    * whole-base parse per commit (~2.2 s at 1e6 files, ManifestBench).
    * A torn line (crash mid-write) degrades to a cache miss for that
    * file — the footer is re-read — never a failure.
    *
    * Staleness window: a same-millisecond rewrite to the SAME length
    * with different content would go unnoticed — base rewrites add or
    * drop entries (length moves) and segments never rewrite, so the
    * combination cannot occur from this library's writers.
    */
  private def readSidecarFile(p: Path): Map[String, (Long, FileMeta)] =
    if (!fs.exists(p)) Map.empty
    else {
      val st = fs.getFileStatus(p)
      def parse(): Map[String, (Long, FileMeta)] =
        readTextFully(p).linesIterator
          .flatMap(MetadataPlane.parseLine(_).map(e =>
            e.path -> (e.len, FileMeta(e.rows, e.stats))))
          .toMap
      if (!SidecarCache.cacheable(st.getLen)) parse()
      else SidecarCache.get(p.toString, st.getLen, st.getModificationTime)
        .getOrElse {
          val m = parse()
          SidecarCache.put(p.toString, st.getLen, st.getModificationTime, m)
          m
        }
    }

  /** Stream-filter one sidecar file to just `want` paths: memory is
    * O(matches), not O(file) — the recovery read the distributed planner
    * takes when compaction folded a post-checkpoint add into the base.
    */
  private def readSidecarFiltered(p: Path,
      want: Set[String]): Map[String, (Long, FileMeta)] =
    if (want.isEmpty || !fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(MetadataPlane.parseLine(_))
        .filter(e => want(e.path))
        .map(e => e.path -> (e.len, FileMeta(e.rows, e.stats)))
        .toMap
      finally in.close()
    }

  /** Atomic small-file write: temp + rename, so a crash can never leave a
    * torn file in place (worst case after the delete is NO file, which is
    * just a cold cache).
    */
  private def writeAtomic(dst: Path, text: String): Unit = {
    fs.mkdirs(dst.getParent)
    // unique tmp name: two concurrent writers (e.g. a reader's history
    // self-heal racing a commit) must never rename away each other's tmp —
    // last rename wins on dst, nobody crashes
    val tmp = new Path(dst.getParent, dst.getName + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    // rename FIRST: POSIX rename(2) replaces dst atomically, so on the
    // local fs a concurrent reader never observes dst absent (the old
    // delete-then-rename form had a visibility window the faster
    // fork-free fs made hittable — AsyncCheckpointSpec's mixed-venue
    // race). Stores with HDFS no-overwrite semantics return false and
    // take the delete+rename fallback, the prior behavior.
    // A still-false rename = we lost a benign race (dst recreated by the
    // other writer, or our tmp reaped by a concurrent vacuum): last
    // writer wins, the losing content is rebuildable (history self-heals,
    // sidecar entries are a cache) — clean up rather than crash.
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(tmp, dst) && fs.exists(tmp)) fs.delete(tmp, false)
    }
    // every same-process rewrite drops its parse-cache entry outright —
    // the (len, mtime) signature alone can collide when a remap rewrites
    // equal-width paths within one mtime tick (no-op for uncached paths)
    SidecarCache.invalidate(dst.toString)
    HistoryCache.invalidate(dst.toString)
  }

  /** The next segment path for a log-structured store's append: persisted
    * monotonic sequence (next after the max existing segment — lexical
    * order must equal commit order across driver restarts) with a uuid
    * suffix so a post-compaction sequence reset can never reuse a path
    * another process's (len, mtime)-keyed parse cache already holds. ONE
    * implementation for the sidecar and history stores — the two whose
    * folds rely on lexical order == commit order. The row-id store's
    * segments deliberately use raw UUID names instead: its fold is
    * order-independent (paths are assigned once, the high-water mark is
    * a max over `#next` headers), so code must NOT assume row-id segment
    * names sort in commit order.
    */
  private def nextSegPath(dir: Path, segs: Seq[Path]): Path = {
    val next = segs.lastOption.map(_.getName
      .stripPrefix("seg-").takeWhile(_.isDigit).toLong + 1).getOrElse(0L)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    new Path(dir, f"seg-$next%019d-$suffix.txt")
  }

  private def sidecarSegments: Seq[Path] =
    if (!fs.exists(sidecarSegDir)) Nil
    else fs.listStatus(sidecarSegDir).map(_.getPath)
      .filter(_.getName.endsWith(".txt")).sortBy(_.getName).toSeq

  /** Per-file row counts and data-skipping min/max, read once from each
    * file's parquet footer and cached in a log-structured sidecar keyed by
    * (path, length): a base `_file_rows.txt` plus per-commit segment files
    * under `_file_rows.d/`. A commit reads footers ONLY for files it
    * hasn't seen — the files the mutation just wrote — and appends ONLY
    * those entries as one new segment, so per-commit metadata IO is
    * proportional to the WRITE, not the table (at 1 M files, a full-cache
    * rewrite per mutation would be ~100 MB of driver IO). Segments are
    * folded into the base every [[sidecarCompactAt]] commits — Delta's
    * JSON-deltas-plus-checkpoint shape — which also drops entries for
    * files that no longer exist. No Spark job runs anywhere in this path.
    */
  private def fileMeta(files: Seq[(String, Long)]): Map[String, FileMeta] = {
    val segs = sidecarSegments
    val cached: Map[String, (Long, FileMeta)] = // path -> (len, meta)
      segs.foldLeft(readSidecarFile(sidecarBase))((m, s) => m ++ readSidecarFile(s))
    // footers for unseen files are independent small reads — open them in
    // parallel (same discipline as the bloom probe below): a commit that
    // wrote hundreds of files against an object store would otherwise pay
    // hundreds of SERIAL footer round-trips here
    val unseen = files.collect {
      case (p, len) if !cached.get(p).exists(_._1 == len) => (p, len)
    }
    val anyNew = unseen.nonEmpty
    val fresh: Map[String, FileMeta] = {
      // staged writes pre-read their footers at stage time (see
      // [[stageToTmp]]); only files with no pre-read pay a footer read
      // here. remove() is the one atomic claim, and ONLY a lease holder
      // (the commit the entries were staged for) may claim — a read path
      // racing the publish window must not steal them, or the commit pays
      // O(new files) footer reads back inside the critical section
      val claimed =
        if (lockDepth.get > 0) unseen.flatMap { case (p, len) =>
          preReadMetas.remove(p).collect { case (l, m) if l == len => p -> m }
        }.toMap
        else Map.empty[String, FileMeta]
      val toRead = unseen.collect { case (p, _) if !claimed.contains(p) => p }
      import scala.collection.parallel.CollectionConverters._
      val nc = if (toRead.isEmpty) statsColsDefault else statsColsNow
      toRead.par.map(p => p -> footerMeta(new Path(p), nc)).seq.toMap ++ claimed
    }
    val metas = files.map { case (p, len) =>
      p -> cached.get(p).filter(_._1 == len).map(_._2).getOrElse(fresh(p))
    }.toMap
    // persist only under the lease: pure read paths (filesOverlapping/
    // readWhere) on a committed table must not mutate the log — every
    // live file is cached by its commit anyway, and a leaseless segment
    // write racing a commit's would collide on the same next-segment
    // number (last rename wins, loser's entries silently dropped)
    if (anyNew && lockDepth.get > 0) {
      if (segs.size + 1 >= sidecarCompactAt) {
        // checkpoint: fold everything live into the base, drop segments
        writeAtomic(sidecarBase,
          files.map { case (p, len) => sidecarLine(p, len, metas(p)) }
            .sorted.mkString("\n"))
        fs.delete(sidecarSegDir, true)
      } else {
        val fresh = files.collect {
          case (p, len) if !cached.get(p).exists(_._1 == len) =>
            sidecarLine(p, len, metas(p))
        }
        // name segments by a persisted monotonic sequence (next after the
        // max existing segment), not a clock: nanoTime's origin is arbitrary
        // (can be negative, breaking the zero-padded lexical sort) and not
        // monotonic across driver restarts, and the base++segments fold
        // relies on lexical order == commit order. The uuid suffix makes
        // every incarnation a DISTINCT path: the sequence resets to 0
        // after compaction deletes the dir, and a reused path could
        // collide in the (len, mtime)-keyed SidecarCache of another
        // process (same-process writes invalidate via writeAtomic).
        // Numbers are unique among LIVE segments, so lexical order is
        // still the commit order whatever the suffix.
        writeAtomic(nextSegPath(sidecarSegDir, segs),
          fresh.sorted.mkString("\n"))
      }
    }
    metas
  }

  /** The stats/bloom key for a logical column name: footer stats are
    * keyed by PHYSICAL names, so skipping keeps pruning after a
    * metadata-only rename under column mapping.
    */
  private def physicalColName(c: String): String =
    // during disableColumnMapping's rewrite the frame AND the dirs being
    // written are logical — translating a renamed partition column back
    // to its old physical name would partitionBy a column the snapshot
    // frame doesn't have
    if (bypassPhysicalMapping) c
    else columnMappingPairs.collectFirst {
      case (l, p) if l.equalsIgnoreCase(c) => p }.getOrElse(c)

  /** Physical column names surfaced under their logical names — the
    * inverse of [[physicalColName]], identity without a mapping. Used so
    * partition columns flow through the code in LOGICAL space (matching
    * the frames every operator sees) and translate to physical only at
    * the disk boundaries: `partitionBy`, dir-string construction, and the
    * manifest's partitionColumns record.
    */
  private def toLogicalCols(cols: Seq[String]): Seq[String] = {
    val p2l = columnMappingPairs.map { case (l, p) => p.toLowerCase -> l }.toMap
    cols.map(c => p2l.getOrElse(c.toLowerCase, c))
  }

  /** Live files whose [col min, col max] interval may intersect [lo, hi] —
    * manifest-level data skipping (Delta's per-file stats pruning): the
    * decision uses only the commit sidecar, no file is opened. Files with
    * no stats for `colName` are kept conservatively. Returns (kept, all).
    */
  def filesOverlapping(colName: String, lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val files = liveFilesQ()
    val metas = fileMeta(files)
    val kept = overlapKept(files, metas, currentDv, physicalColName(colName), lo, hi)
    (kept, files.map(_._1))
  }

  /** Stats evaluation for one range predicate against pre-fetched listing/
    * metadata — shared by [[filesOverlapping]] and [[readWhereAll]] so an
    * N-predicate scan pays ONE listing + ONE sidecar read, not N (at a
    * million files the repeated driver listing would dominate the prune).
    */
  private def overlapKept(files: Seq[(String, Long)], metas: Map[String, FileMeta],
                          dv: Map[String, Array[Long]],
                          colName: String, lo: Any, hi: Any): Seq[String] = {
    // a file whose rows are ALL bitmap-deleted can't contribute a match —
    // skip it entirely (a retention-style delete that empties old files
    // makes scans drop them without waiting for compaction)
    def emptied(p: String): Boolean =
      dv.get(p).exists(_.length >= metas(p).rows)
    // bounds decoded ONCE (session-zone timestamp coercion included);
    // the per-file decision is MetadataPlane.keepForRange — the same
    // function the distributed prune runs on executors
    MetadataPlane.decodeBounds(lo, hi,
        spark.sessionState.conf.sessionLocalTimeZone) match {
      case None => files.map(_._1).filterNot(emptied)
      case Some(b) =>
        files.map(_._1).filterNot(emptied).filter { p =>
          MetadataPlane.keepForRange(
            metas(p).stats.get(colName), metas(p).rows, b)
        }
    }
  }

  // ---- distributed scan planning (the huge-file-count regime) ----------

  /** `graft.metadata.distributedPlanning`: `auto` (default — kicks in at
    * ≥ [[ManagedTable.distributedPlanningAutoThreshold]] live files, read
    * from the manifest's O(1) numFiles record, never from a listing),
    * `always` (every pruned read, the testing/validation switch),
    * `never`.
    */
  private def distributedPlanningMode: String =
    properties.getOrElse("graft.metadata.distributedPlanning", "auto")

  private def useDistributedPlanning: Boolean =
    distributedPlanningMode.toLowerCase match {
      case "always" => true
      case "never" => false
      // auto: only tables ALREADY on parquet checkpoints can be in the
      // regime — that one property read short-circuits the history load
      // on the small-table hot path the driver fold is measured fine for
      case _ => checkpointFormatParquet &&
        historyRows.find(_.version == version)
          .exists(_.numFiles >= ManagedTable.distributedPlanningAutoThreshold)
    }

  /** File pruning as a SPARK JOB — how Delta reads its checkpoints and
    * plans scans at scale. The snapshot's state is the parquet checkpoint
    * (each row carrying its file's stats cells, written by commit), read
    * distributed; [[MetadataPlane.keepForRange]] — the SAME decision
    * function the driver fold runs — executes on the executors; the
    * driver collects ONLY the surviving paths plus the
    * churn-since-checkpoint. Driver memory is O(survivors + churn), not
    * O(live files): README records the driver fold's measured ceiling at
    * ~2.6 GB heap / 40 s for 1e7 files, where this path costs the cluster
    * one metadata-file scan and the driver only what the predicate keeps.
    *
    * Returns None when the snapshot has no parquet checkpoint to plan
    * from (inline-JSON tables are the ≤1e6-file regime where the driver
    * fold is measured fine; a dangling pointer falls back to the driver
    * path's loud error) — the caller then takes the driver fold.
    *
    * Consistency model: MANIFEST-PINNED, like [[readCommitted]] — and
    * like Delta, whose scans always plan from the log, never a listing.
    * Files sitting in the dir without a manifest entry (an optimistic
    * publish mid-window, out-of-band debris) are invisible here while
    * the listing-based driver fold would serve them; on any COMMITTED
    * snapshot the two paths agree exactly (DistributedPlanningSpec).
    */
  private[table] def keptByStatsDistributed(
      preds: Seq[(String, Any, Any)]): Option[Seq[String]] =
    keptByStatsDistributed(rangePreds(preds), currentDv).map(_.map(_._1))

  /** Range predicates in the planner's decoded form: bounds resolved ONCE
    * on the driver (session-zone timestamp coercion lives here), column
    * names translated to their physical stats keys.
    */
  private def rangePreds(preds: Seq[(String, Any, Any)]): Seq[MetadataPlane.Pred] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    preds.map { case (c, lo, hi) => MetadataPlane.RangePred(
      physicalColName(c), MetadataPlane.decodeBounds(lo, hi, zone)) }
  }

  /** The distributed-assembly base of logged version `v`: the nearest
    * parquet-checkpoint sidecars at or below `v` plus the intervening
    * deltas folded into net (adds, removed) sets of
    * O(churn-since-checkpoint) — the walk-back shared by the planner job
    * ([[keptByStatsDistributed]]) and the streaming snapshot assembly
    * ([[snapshotIndexedDistributed]]). None when `v` reconstructs from an
    * inline-JSON checkpoint (the ≤1e6-file regime where the driver fold
    * is measured fine) or a sidecar is missing (dangling pointer — the
    * driver path's loud error handles it).
    */
  private def distributedBase(
      v: Long): Option[(Seq[Path], Seq[String], Set[String])] = {
    if (isShallowClone || v < 0) return None
    // walk back to the nearest checkpoint manifest (O(interval) small
    // driver reads); the deltas fold into net add/remove sets of
    // O(churn-since-checkpoint)
    var i = v
    var ckpt: Option[Seq[Path]] = None
    val deltas = scala.collection.mutable.ListBuffer[(Seq[String], Seq[String])]()
    while (ckpt.isEmpty) {
      if (i < 0) return None
      // retro (async) checkpoint sidecars serve as the base exactly like
      // manifest-embedded ones; a dangling retro falls through to the
      // version's own manifest. An INLINE-format retro ends the walk
      // (no parquet base — the driver fold reads it), and so does the
      // log-cleanup horizon: a retro-anchored cleanupLog deletes the
      // manifests below its pointer, so the walk must answer None (→ the
      // always-correct driver fold), never throw
      val rt = retroText(i)
      if (rt.exists(t => scala.util.Try(
          jsonStringArray(t, "files").isDefined).getOrElse(false)))
        return None
      val retro = rt.flatMap(checkpointSidecarsOf)
        .map(_.map(n => new Path(logDir, n))).filter(_.forall(fs.exists))
      retro match {
        case Some(ps) => ckpt = Some(ps)
        case None =>
          val txt = scala.util.Try(manifestText(i)).getOrElse(return None)
          checkpointSidecarsOf(txt) match {
            case Some(names) =>
              val ps = names.map(n => new Path(logDir, n))
              if (!ps.forall(fs.exists)) return None
              ckpt = Some(ps)
            case None =>
              if (jsonStringArray(txt, "files").isDefined) return None
              deltas.prepend((jsonStringArray(txt, "add").getOrElse(Nil),
                jsonStringArray(txt, "remove").getOrElse(Nil)))
              i -= 1
          }
      }
    }
    val present = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    deltas.foreach { case (a, r) =>
      a.foreach(present(_) = true); r.foreach(present(_) = false) }
    // excluded = EVERY delta-touched path, not just the net-removed ones:
    // a path the checkpoint carries that a delta re-added (remove → add,
    // e.g. a restore recorded as deltas) must be served by the adds side
    // alone — from its CURRENT sidecar metadata — or the job would both
    // double-count it and decide it on stale checkpoint stats
    Some((ckpt.get,
      present.collect { case (p, true) => p }.toSeq,
      present.keySet.toSet))
  }

  /** (len, meta) for files added since the checkpoint: their stats live
    * in the per-commit sidecar segments (driver, O(churn)); an add whose
    * segment was folded into the base by sidecar compaction is recovered
    * by STREAMING the base filtered to just those paths — memory stays
    * O(churn), and the O(live-files) byte read is paid only in the
    * post-compaction window, never per planned read.
    */
  private def addsMeta(adds: Seq[String]): Map[String, (Long, FileMeta)] = {
    val segMeta0 = sidecarSegments
      .foldLeft(Map.empty[String, (Long, FileMeta)])(
        (m, s) => m ++ readSidecarFile(s))
    val missing = adds.filterNot(segMeta0.contains).toSet
    if (missing.isEmpty) segMeta0
    else segMeta0 ++ readSidecarFiltered(sidecarBase, missing)
  }

  /** Kept (path, length) pairs; the length is the checkpoint row's or
    * the add's sidecar entry's, -1 when neither records it.
    */
  private def keptByStatsDistributed(preds: Seq[MetadataPlane.Pred],
      dv: Map[String, Array[Long]]): Option[Seq[(String, Long)]] = {
    val (ckpt, adds, excluded) = distributedBase(version) match {
      case Some(b) => b
      case None => return None
    }
    val dvCounts: Map[String, Long] = dv.collect {
      case (p, a) if a.nonEmpty => p -> a.length.toLong }
    val segMeta = addsMeta(adds)
    val keptAdds = adds.filter { p =>
      segMeta.get(p) match {
        case Some((_, m)) =>
          MetadataPlane.decide(m.stats, m.rows, dvCounts.getOrElse(p, 0L), preds)
        case None => true // no stats known: conservative keep
      }
    }.map(p => (p, segMeta.get(p).map(_._1).getOrElse(-1L)))
    // THE JOB: checkpoint rows in, surviving paths out (delta-touched
    // paths excluded — keptAdds serves them from current sidecar stats)
    import spark.implicits._
    val removedB = spark.sparkContext.broadcast(excluded)
    val dvB = spark.sparkContext.broadcast(dvCounts)
    val predsB = spark.sparkContext.broadcast(preds)
    val kept = try {
      val raw = spark.read.parquet(ckpt.map(_.toString): _*)
      val cols = raw.columns.toSet
      def optCol(n: String, t: String) =
        if (cols(n)) col(n).cast(t) else lit(null).cast(t)
      raw.select(col("path").cast("string"), optCol("len", "long"),
          optCol("rows", "long"), optCol("stats", "string"))
        .as[(String, Option[Long], Option[Long], Option[String])]
        .flatMap { case (p, lenOpt, rowsOpt, statsOpt) =>
          if (removedB.value.contains(p)) None
          else {
            val stats = statsOpt.filter(_.nonEmpty)
              .map(MetadataPlane.parseStatsCells)
              .getOrElse(Map.empty[String, MetadataPlane.Stat])
            // a v1 path-only row has no row count: emptied/all-null prunes
            // are then unknowable — Long.MaxValue keeps them conservative
            val rows = rowsOpt.getOrElse(Long.MaxValue)
            if (MetadataPlane.decide(stats, rows, dvB.value.getOrElse(p, 0L),
                predsB.value)) Some((p, lenOpt.getOrElse(-1L)))
            else None
          }
        }.collect().toSeq
    } finally {
      // a long-lived session plans many reads; leaked broadcasts would
      // accrete blocks on driver and executors
      removedB.destroy(); dvB.destroy(); predsB.destroy()
    }
    Some((kept ++ keptAdds).distinct.sortBy(_._1))
  }

  /** Whether metadata folds should run as Spark jobs for this snapshot —
    * the streaming sources' venue switch (same cutover as the readWhere
    * family's).
    */
  private[graft] def snapshotPlanningDistributed: Boolean =
    useDistributedPlanning

  /** Logged version `v`'s manifest as a SORTED, globally-indexed RDD of
    * ((path, length), idx) rows, persisted spill-backed — the streaming
    * sources memoize this per pinned snapshot so each trigger's slice is
    * one cheap filter over cached blocks instead of a fresh O(N log N)
    * sort + zipWithIndex job (a paced 1e7-file snapshot runs hundreds of
    * triggers against one pin). Length is -1 when unknown (a v1
    * path-only checkpoint row, or an add with no cached sidecar entry);
    * callers fall back to the commit's average file size for pacing.
    *
    * Sort order is pinned to Java String order (the driver fold's
    * `.sorted`) by sorting on the UTF-16BE encoding — Spark's native
    * string sort is UTF-8-byte order, which disagrees for supplementary
    * characters, and the two venues must slice identically or a
    * mid-snapshot venue switch would skip/duplicate files.
    *
    * The exclusion broadcast is deliberately NOT destroyed: the returned
    * RDD re-evaluates its filter on block loss, and the ContextCleaner
    * reclaims broadcast and blocks together once the RDD is dropped.
    *
    * The sorted rows persist SERIALIZED (tens of millions of (path, len)
    * tuples as deserialized objects would triple the footprint and
    * thrash GC); the one offsets job at build materializes the cache —
    * exactly one sort per pin. Callers MUST [[SnapshotIndex.release]]
    * when the snapshot completes, or the cached manifest blocks occupy
    * executor storage for the stream's lifetime.
    *
    * None when `v` has no parquet checkpoint to assemble from (callers
    * take the measured driver fold).
    */
  private[graft] def snapshotIndexedDistributed(v: Long)
      : Option[SnapshotIndex] =
    distributedBase(v).map { case (ckpt, adds, excluded) =>
      import spark.implicits._
      val addMeta = addsMeta(adds)
      val addRows = adds.map(p =>
        (p, addMeta.get(p).map(_._1).getOrElse(-1L)))
      val excludedB = spark.sparkContext.broadcast(excluded)
      val raw = spark.read.parquet(ckpt.map(_.toString): _*)
      val lenCol =
        if (raw.columns.contains("len"))
          coalesce(col("len").cast("long"), lit(-1L))
        else lit(-1L)
      // delta-touched paths are excluded from the checkpoint side and
      // re-enter through addRows — the union is disjoint by construction
      val sorted = raw.select(col("path").cast("string"), lenCol.as("len"))
        .as[(String, Long)]
        .filter(r => !excludedB.value.contains(r._1))
        .union(spark.createDataset(addRows))
        .orderBy(encode(col("path"), "UTF-16BE"))
        .as[(String, Long)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // per-partition row counts → global start offsets: the one job
      // that both materializes the cache and makes every later slice
      // PARTITION-PRUNED (a task that overlaps the slice range
      // deserializes; the rest return without touching their blocks)
      val counts = sorted.mapPartitionsWithIndex((pid, it) =>
        Iterator((pid, it.size.toLong))).collect().sortBy(_._1).map(_._2)
      new SnapshotIndex(sorted, counts.scanLeft(0L)(_ + _))
    }

  /** The kept-file set for a conjunction of skipping predicates — a
    * distributed job when the snapshot size warrants it
    * ([[useDistributedPlanning]]), the measured driver fold otherwise.
    * BOTH paths run [[MetadataPlane.decide]] per file, so they cannot
    * drift. Shared by the whole readWhere/readWhereNull family. Each kept
    * file carries the status its scan plans from ([[scanKept]]), built by
    * [[keptStatus]] from the length its listing or checkpoint recorded.
    */
  private def keptForPreds(preds: Seq[MetadataPlane.Pred],
      dv: Map[String, Array[Long]]): Seq[FileStatus] = {
    if (useDistributedPlanning)
      keptByStatsDistributed(preds, dv) match {
        case Some(k) => return k.map((keptStatus _).tupled)
        case None => ()
      }
    val files = liveFilesQ()
    val metas = fileMeta(files)
    files.filter { case (p, _) =>
      MetadataPlane.decide(metas(p).stats, metas(p).rows,
        dv.get(p).map(_.length.toLong).getOrElse(0L), preds)
    }.sortBy(_._1).map((keptStatus _).tupled)
  }

  /** The scan status of kept file `p` (qualified) of length `len`. Its
    * modification time is 0 (the scan plans without it; only a select of
    * `_metadata.file_modification_time` would show it). A length of -1
    * (none recorded) costs one getFileStatus.
    */
  private def keptStatus(p: String, len: Long): FileStatus =
    if (len >= 0) new FileStatus(len, false, 0, 0L, 0L, new Path(p))
    else fs.getFileStatus(new Path(p))

  private def keptForRangePreds(preds: Seq[(String, Any, Any)],
      dv: Map[String, Array[Long]]): Seq[FileStatus] =
    keptForPreds(rangePreds(preds), dv)

  /** Live files that may hold a NULL in `colName` — null-count skipping
    * (Delta's nullCount stats): a file whose recorded null count is 0 is
    * pruned; unknown (−1, v1 sidecar entries) or missing stats keep the
    * file conservatively. Returns (kept, all), like [[filesOverlapping]].
    */
  def filesWithNulls(colName: String): (Seq[String], Seq[String]) = {
    val files = liveFilesQ()
    val metas = fileMeta(files)
    val dv = currentDv
    val statsCol = physicalColName(colName)
    def emptied(p: String): Boolean =
      dv.get(p).exists(_.length >= metas(p).rows)
    val kept = files.map(_._1).filterNot(emptied).filter { p =>
      metas(p).stats.get(statsCol) match {
        case Some((_, _, _, nulls)) => nulls != 0L
        case None => true
      }
    }
    (kept, files.map(_._1))
  }

  /** `WHERE colName IS NULL` with file-level null-count skipping: scan
    * only the files whose stats admit a null, then apply the exact
    * predicate. On a layout clustered by `colName` (nulls sort together)
    * this touches a handful of files out of the table.
    */
  def readWhereNull(colName: String): DataFrame = {
    val dv = currentDv
    val kept = keptForPreds(
      Seq(MetadataPlane.NullPred(physicalColName(colName))), dv)
    if (kept.isEmpty) return read.filter(org.apache.spark.sql.functions.lit(false))
    scanKept(kept, dv)
      .filter(col(colName).isNull)
  }

  /** Metadata-only `COUNT(*)`: Σ sidecar row counts − Σ live deletion-
    * vector cardinalities. Zero data files open (footers are sidecar
    * cache hits on a committed table), no Spark job — the way Delta
    * serves `SELECT COUNT(*)` from stats. Exactness is guaranteed by the
    * same invariants the reads rely on: every live file's row count is
    * recorded at commit, and DV bitmaps only mark rows that exist.
    */
  /** Metadata-only ANALYZE: per-column min/max/null-count folded from the
    * commit sidecar — zero data files open on a committed table, no Spark
    * job (Delta serves `DESCRIBE DETAIL`-adjacent stats the same way; at
    * 100 TB this is the difference between instant and a full scan). One
    * row per column seen in any live file's stats:
    * (col_name, data_kind, min_value, max_value, null_count, row_count,
    * num_files, files_with_stats).
    *
    * Honesty contract: bounds are emitted ONLY when every live file
    * carries usable bounds of one kind for the column (a file with
    * NaN/all-null/unordered stats nulls them out — conservative, never
    * wrong); string bounds are the 32-code-point sidecar BOUNDS (min-
    * prefix / incremented max-prefix — enclosing, not necessarily
    * attained); under deletion vectors min/max may be attained only by a
    * deleted row (bounds, not witnesses) and null_count counts physical
    * rows. `row_count` is physical — [[countFast]] is the DV-adjusted
    * count.
    */
  def columnStats(): DataFrame = {
    if (useDistributedPlanning)
      columnStatsDistributed() match {
        case Some(df) => return df
        case None => ()
      }
    val files = liveFilesQ()
    columnStatsFrom(files, fileMeta(files))
  }

  /** [[columnStats]] over a pre-fetched listing+fold — callers that
    * already paid the listing ([[publishCatalog]]) must not pay it twice.
    * The per-column reduce is [[MetadataPlane.mergeColAgg]], the SAME
    * merge the distributed job runs — the venues cannot drift.
    */
  private def columnStatsFrom(files: Seq[(String, Long)],
                              metas: Map[String, FileMeta]): DataFrame = {
    val aggs = scala.collection.mutable.Map.empty[String, MetadataPlane.ColAgg]
    files.foreach { case (p, _) =>
      metas(p).stats.foreach { case (c, s) =>
        val a = MetadataPlane.colAgg(s)
        aggs(c) = aggs.get(c).map(MetadataPlane.mergeColAgg(_, a)).getOrElse(a)
      }
    }
    formatColumnStats(aggs.toMap,
      metas.values.map(_.rows).sum, files.size.toLong)
  }

  /** Shared display tail of both [[columnStats]] venues: bound
    * suppression for files-without-stats, logical-name translation,
    * epoch decode — driver-side, from the reduced per-column aggregates.
    */
  private def formatColumnStats(aggs: Map[String, MetadataPlane.ColAgg],
      rowsTotal: Long, nFiles: Long): DataFrame = {
    import spark.implicits._
    // stats are keyed by PHYSICAL names: surface logical ones (and hide
    // mapped-away DROP COLUMN victims) so the report matches what a user
    // of the table can actually query
    val droppedSet = droppedPhysicalCols.map(_.toLowerCase).toSet
    val p2l = columnMappingPairs.map { case (l, p) => p.toLowerCase -> l }.toMap
    // sort by the LOGICAL name the report displays, not the physical key
    // the stats are stored under — after a rename they differ
    val cols = aggs.keys.toSeq
      .filterNot(_ == RowTracking.col) // internal sentinel, not a user column
      .filterNot(c => droppedSet(c.toLowerCase))
      .sortBy(c => p2l.getOrElse(c.toLowerCase, c))
    val usable = MetadataPlane.usableKinds
    val out = cols.map { c =>
      val a = aggs(c)
      // bounds only when EVERY live file carries usable bounds of one
      // kind for the column (a missing/unusable/mixed file nulls them —
      // conservative, never wrong)
      val bounds: Option[(String, String, String)] =
        if (a.known < nFiles || !usable(a.kind)) None
        else {
          val k = a.kind
          // epoch-day/micro stats decode to ISO for the caller (display
          // form; skipping never compares these lexically); ±0.0 double
          // bounds from pre-canonicalization sidecars decode to 0.0
          def dec(v: String) =
            if (k == "D") java.time.LocalDate.ofEpochDay(v.toLong).toString
            else if (k == "T" || k == "t") {
              val us = v.toLong
              val i = java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
              if (k == "T") i.toString
              else java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).toString
            }
            else canonZero(k, v)
          Some((k, dec(a.mn), dec(a.mx)))
        }
      val nulls: Option[Long] =
        if (a.nulls < 0 || a.known < nFiles) None else Some(a.nulls)
      (p2l.getOrElse(c.toLowerCase, c),
        bounds.map(_._1).getOrElse(if (a.known > 0) "n" else ""),
        bounds.map(_._2), bounds.map(_._3),
        nulls, rowsTotal, nFiles, a.known)
    }
    out.toDF("col_name", "data_kind", "min_value", "max_value",
      "null_count", "row_count", "num_files", "files_with_stats")
  }

  /** [[columnStats]] as a Spark job over the parquet-checkpoint rows —
    * the ANALYZE that never folds O(live files) on the driver: per-column
    * [[MetadataPlane.ColAgg]]s reduce on the executors, the driver
    * collects one aggregate per column (plus a sentinel carrying
    * rowsTotal/nFiles) and merges the O(churn) adds. None (→ driver
    * fold) when no parquet checkpoint anchors the snapshot, a v1
    * path-only row hides its row count, or an add has no cached sidecar
    * entry.
    */
  private def columnStatsDistributed(): Option[DataFrame] = {
    val (ckpt, adds, excluded) = distributedBase(version) match {
      case Some(b) => b
      case None => return None
    }
    val addMeta = addsMeta(adds)
    if (adds.exists(p => !addMeta.contains(p))) return None
    import spark.implicits._
    val removedB = spark.sparkContext.broadcast(excluded)
    val collected = try {
      val raw = spark.read.parquet(ckpt.map(_.toString): _*)
      val cols = raw.columns.toSet
      if (!cols("rows")) return None // v1 checkpoint: rowsTotal unknowable
      def optCol(n: String, t: String) =
        if (cols(n)) col(n).cast(t) else lit(null).cast(t)
      raw.select(col("path").cast("string"), col("rows").cast("long"),
          optCol("stats", "string"))
        .as[(String, Option[Long], Option[String])]
        .filter(r => !removedB.value.contains(r._1))
        .flatMap { case (_, rowsOpt, statsOpt) =>
          val stats = statsOpt.filter(_.nonEmpty)
            .map(MetadataPlane.parseStatsCells)
            .getOrElse(Map.empty[String, MetadataPlane.Stat])
          // the sentinel accumulates (rowsTotal in nulls, nFiles in
          // known); a null rows cell poisons nulls to -1 → fallback
          stats.iterator.map { case (c, s) =>
            (c, MetadataPlane.colAgg(s)) } ++ Iterator(
            ("", MetadataPlane.ColAgg("#", "", "",
              rowsOpt.getOrElse(-1L), 1L)))
        }
        .groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, MetadataPlane.mergeColAgg(a._2, b._2)))
        .map(_._2)
        .collect()
    } finally removedB.destroy()
    val aggs = scala.collection.mutable.Map.empty[String, MetadataPlane.ColAgg]
    collected.foreach { case (c, a) =>
      aggs(c) = aggs.get(c).map(MetadataPlane.mergeColAgg(_, a)).getOrElse(a) }
    val sentinel = aggs.remove("")
    var rowsTotal = sentinel.map(_.nulls).getOrElse(0L)
    var nFiles = sentinel.map(_.known).getOrElse(0L)
    if (rowsTotal < 0) return None // some checkpoint row had no row count
    // fold the O(churn) post-checkpoint adds with the SAME merge
    adds.foreach { p =>
      val (_, m) = addMeta(p)
      rowsTotal += m.rows; nFiles += 1
      m.stats.foreach { case (c, s) =>
        val a = MetadataPlane.colAgg(s)
        aggs(c) = aggs.get(c).map(MetadataPlane.mergeColAgg(_, a)).getOrElse(a)
      }
    }
    Some(formatColumnStats(aggs.toMap, rowsTotal, nFiles))
  }

  def countFast(): Long = {
    requireReadable()
    if (useDistributedPlanning)
      countFastDistributed(currentDv) match {
        case Some(n) => return n
        case None => ()
      }
    val files = liveFilesQ()
    val metas = fileMeta(files)
    val dv = currentDv
    files.map { case (p, _) =>
      metas(p).rows - dv.get(p).map(_.length.toLong).getOrElse(0L)
    }.sum
  }

  /** Metadata-only MIN/MAX of `colName` — Delta's metadata-optimized
    * aggregate: the per-file stats fold answers `SELECT MIN(c), MAX(c)`
    * with zero data files opened, but ONLY when exactness is provable:
    *
    *  - every live file carries usable bounds of one kind for the column
    *    (the [[columnStats]] gate — a missing/mixed/unusable file voids
    *    the bounds);
    *  - the kind is NOT string: "s" bounds are 32-code-point TRUNCATIONS
    *    (min-prefix / incremented max-prefix) — enclosing, not attained;
    *  - no deletion vectors are outstanding (a bitmap-deleted row may be
    *    the recorded extreme).
    *
    * None when any gate fails — the caller scans instead; a Some is
    * always exact (SQL MIN/MAX ignore nulls, and parquet bounds cover
    * exactly the non-null values). Values come back in [[columnStats]]'s
    * display form (numeric strings; ISO dates/instants). Routes through
    * the distributed ANALYZE venue above the planning cutover like every
    * other metadata fold.
    */
  def minMaxFast(colName: String): Option[(String, String)] = {
    requireReadable()
    if (currentDv.exists(_._2.nonEmpty)) return None
    columnStats().filter(col("col_name") === colName).collect()
      .headOption.flatMap { row =>
        val kind = row.getAs[String]("data_kind")
        val mn = row.getAs[String]("min_value")
        val mx = row.getAs[String]("max_value")
        if (mn == null || mx == null || kind == "s") None
        else Some((mn, mx))
      }
  }

  /** Metadata-only `COUNT(col)` — the NON-NULL count: total physical
    * rows minus the ANALYZE fold's null count, exact only when the table
    * is DV-free (physical == visible) and EVERY live file records a
    * known null count for the column ([[columnStats]] suppresses
    * `null_count` otherwise — including files predating the column,
    * whose rows read as null without any stats entry). Zero data files
    * opened; routes through the distributed ANALYZE venue above the
    * planning cutover like the other metadata folds.
    */
  def nonNullCountFast(colName: String): Option[Long] = {
    requireReadable()
    if (currentDv.exists(_._2.nonEmpty)) return None
    columnStats().filter(col("col_name") === colName).collect()
      .headOption.flatMap { row =>
        if (row.isNullAt(row.fieldIndex("null_count"))) None
        else Some(row.getAs[Long]("row_count") -
          row.getAs[Long]("null_count"))
      }
  }

  /** [[countFast]] as a Spark job: Σ checkpoint-row counts on the
    * executors, adds (O(churn)) and the DV total on the driver. None
    * (→ driver fold) when no parquet checkpoint anchors the snapshot or
    * any row count is unknown.
    */
  private def countFastDistributed(
      dv: Map[String, Array[Long]]): Option[Long] = {
    val (ckpt, adds, excluded) = distributedBase(version) match {
      case Some(b) => b
      case None => return None
    }
    val addMeta = addsMeta(adds)
    if (adds.exists(p => !addMeta.contains(p))) return None
    import spark.implicits._
    val removedB = spark.sparkContext.broadcast(excluded)
    val (n, nr, s) = try {
      val raw = spark.read.parquet(ckpt.map(_.toString): _*)
      if (!raw.columns.contains("rows")) return None
      val r = raw.select(col("path").cast("string"),
          col("rows").cast("long").as("rows"))
        .as[(String, Option[Long])]
        .filter(r => !removedB.value.contains(r._1))
        .toDF("path", "rows")
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.count(col("rows")),
          org.apache.spark.sql.functions.sum(col("rows")))
        .head()
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    } finally removedB.destroy()
    if (n != nr) return None // a v1 path-only row hides its count
    Some(s + adds.iterator.map(p => addMeta(p)._2.rows).sum -
      dv.valuesIterator.map(_.length.toLong).sum)
  }

  /** SHOW PARTITIONS, metadata-only: one row per live partition dir with
    * its file count, bytes, and EXACT row count (sidecar row counts minus
    * outstanding deletion-vector cardinalities) — zero data files opened,
    * no Spark job. Values are the on-disk partition strings (Spark's own
    * cast-to-string, `__HIVE_DEFAULT_PARTITION__` for null), unescaped
    * from the Hive-style dir encoding. At scale this is the partition
    * inventory an operator reads before scoping a backfill or DELETE —
    * serving it from the listing+sidecar keeps it O(files) driver work
    * with no object-store GETs.
    */
  /** The trailing `col=value` run of a file path's parent dirs — its
    * Hive partition segments as (unescaped name, unescaped value) pairs,
    * independent of which root the file lives under (a shallow clone's
    * files live under the SOURCE root, where a root stripPrefix would
    * silently yield garbage). Shared by [[commit]]'s partition-column
    * inference and [[partitions]].
    */
  private def partitionSegments(p: String): Seq[(String, String)] =
    MetadataPlane.partitionSegments(p)

  def partitions(): DataFrame = {
    requireReadable()
    val pcs = loggedPartitionCols(version)
    require(pcs.nonEmpty, s"$path is not partitioned")
    val dv = currentDv
    val rolled: Seq[(Seq[String], Long, Long, Long)] = {
      val dist =
        if (useDistributedPlanning) partitionsDistributed(dv) else None
      dist.getOrElse {
        val files = liveFilesQ()
        val metas = fileMeta(files)
        // partitionSegments (not a root stripPrefix) so a shallow clone's
        // source-rooted file paths parse exactly like live-dir ones
        files.groupBy { case (p, _) => partitionSegments(p).map(_._2) }
          .toSeq.map { case (values, fsOf) =>
            (values, fsOf.size.toLong, fsOf.map(_._2).sum,
              fsOf.map { case (p2, _) =>
                metas(p2).rows - dv.get(p2).map(_.length.toLong).getOrElse(0L)
              }.sum)
          }
      }
    }
    import org.apache.spark.sql.Row
    val rows = rolled.map { case (values, nf, bytes, rc) =>
      Row.fromSeq(values ++ Seq(nf, bytes, rc))
    }.sortBy(_.toSeq.take(pcs.size).map(String.valueOf).mkString(" "))
    val schema = org.apache.spark.sql.types.StructType(
      pcs.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)) ++ Seq(
        org.apache.spark.sql.types.StructField("num_files",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("size_bytes",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("row_count",
          org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** SHOW PARTITIONS as a Spark job: per-partition
    * (num_files, size_bytes, row_count) rollups reduce on the executors
    * (partition values parsed from the checkpoint rows' paths, DV counts
    * broadcast), the driver collects one row per partition and merges
    * the O(churn) adds. None (→ driver fold) when no parquet checkpoint
    * anchors the snapshot or any row's length/count is unknown.
    */
  private def partitionsDistributed(dv: Map[String, Array[Long]]):
      Option[Seq[(Seq[String], Long, Long, Long)]] = {
    val (ckpt, adds, excluded) = distributedBase(version) match {
      case Some(b) => b
      case None => return None
    }
    val addMeta = addsMeta(adds)
    if (adds.exists(p => !addMeta.contains(p))) return None
    val dvCounts: Map[String, Long] = dv.collect {
      case (p, a) if a.nonEmpty => p -> a.length.toLong }
    import spark.implicits._
    val removedB = spark.sparkContext.broadcast(excluded)
    val dvB = spark.sparkContext.broadcast(dvCounts)
    val collected = try {
      val raw = spark.read.parquet(ckpt.map(_.toString): _*)
      val cols = raw.columns.toSet
      if (!cols("rows") || !cols("len")) return None
      raw.select(col("path").cast("string"), col("len").cast("long"),
          col("rows").cast("long"))
        .as[(String, Option[Long], Option[Long])]
        .filter(r => !removedB.value.contains(r._1))
        .map { case (p, lenOpt, rowsOpt) =>
          val ok = lenOpt.isDefined && rowsOpt.isDefined
          (MetadataPlane.partitionSegments(p).map(_._2),
            (1L, lenOpt.getOrElse(0L),
              rowsOpt.getOrElse(0L) - dvB.value.getOrElse(p, 0L), ok))
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          (a._1, (a._2._1 + b._2._1, a._2._2 + b._2._2,
            a._2._3 + b._2._3, a._2._4 && b._2._4))
        }
        .map(_._2)
        .collect()
    } finally { removedB.destroy(); dvB.destroy() }
    if (collected.exists(!_._2._4)) return None // a v1 row hid len/rows
    val acc = scala.collection.mutable.Map.empty[Seq[String], (Long, Long, Long)]
    collected.foreach { case (vals, (nf, bytes, rc, _)) =>
      acc(vals) = (nf, bytes, rc) }
    adds.foreach { p =>
      val (len, m) = addMeta(p)
      val vals = MetadataPlane.partitionSegments(p).map(_._2)
      val rc = m.rows - dv.get(p).map(_.length.toLong).getOrElse(0L)
      val (nf0, b0, r0) = acc.getOrElse(vals, (0L, 0L, 0L))
      acc(vals) = (nf0 + 1, b0 + len, r0 + rc)
    }
    Some(acc.toSeq.map { case (vals, (nf, bytes, rc)) => (vals, nf, bytes, rc) })
  }

  /** Publish this table into the session catalog as an EXTERNAL parquet
    * table named `name`, with table AND column statistics attached from
    * the commit sidecar — a metadata-only ANALYZE straight into the
    * optimizer, no scan job. With exact `rowCount`/`sizeInBytes` the
    * planner's join-side size estimates come from metadata instead of the
    * file-size heuristic, and under `spark.sql.cbo.enabled` the column
    * min/max/null-counts drive filter-selectivity estimation — a filtered
    * join side whose estimated output shrinks below
    * `autoBroadcastJoinThreshold` flips from a shuffle join to a
    * broadcast (PlanSpec pins this). At 100 TB that flip is the
    * difference between shuffling a fact table and shipping a few MB.
    *
    * Refused while deletion vectors are outstanding: the catalog relation
    * scans the raw files and would resurrect bitmap-deleted rows — run
    * [[purgeDeletes]] first. Re-publishing after new commits refreshes
    * both the table definition and the statistics.
    */
  def publishCatalog(name: String, computeNdv: Boolean = false): Unit = {
    requireReadable()
    // an unmaterialized shallow clone's data files live under the SOURCE
    // root — the catalog table at the clone's own location would serve
    // zero rows while the attached stats claim the full table
    requireMaterialized("publishCatalog")
    require(currentDv.isEmpty,
      s"publishCatalog: $path carries deletion vectors; a catalog scan " +
        "of the raw files would resurrect deleted rows — purgeDeletes first")
    val pcs = loggedPartitionCols(version)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val base = read
    val ddl = base.schema.toDDL
    val pby =
      if (pcs.nonEmpty) s" PARTITIONED BY (${pcs.map(c => s"`$c`").mkString(", ")})"
      else ""
    spark.sql(s"CREATE TABLE `$name` ($ddl) USING parquet$pby " +
      s"LOCATION '$qualifiedRoot'")
    if (pcs.nonEmpty) spark.sql(s"MSCK REPAIR TABLE `$name`")
    // ONE listing + ONE sidecar fold serves size, rows AND the column
    // stats below (the repeated driver listing is the dominant metadata
    // cost at a million files)
    val files = liveFilesQ()
    val metas = fileMeta(files)
    val size = files.map(_._2).sum
    val rows = metas.values.map(_.rows).sum
    // NDVs are the one statistic the metadata fold cannot supply, and
    // Catalyst's filter-selectivity estimation requires them alongside
    // min/max — `computeNdv` pays ONE approximate scan for every column
    // (what ANALYZE ... FOR COLUMNS does, but HLL-cheap); a guessed NDV
    // would mislead equality-selectivity estimation, so default off.
    val ndv: Map[String, BigInt] =
      if (!computeNdv) Map.empty
      else {
        val cols = base.schema.fieldNames
        val row = base.agg(
          org.apache.spark.sql.functions.approx_count_distinct(cols.head)
            .as(cols.head),
          cols.tail.map(c =>
            org.apache.spark.sql.functions.approx_count_distinct(c).as(c)): _*)
          .head()
        cols.zipWithIndex.map { case (c, i) => c -> BigInt(row.getLong(i)) }.toMap
      }
    // column stats from the metadata fold; bounds only for kinds whose
    // sidecar form IS the catalog's external string form (numeric, date —
    // columnStats decodes "D" to ISO). Strings/timestamps contribute
    // null counts (and NDVs when computed) only.
    val colStats = columnStatsFrom(files, metas).collect().flatMap { r =>
      val cname = r.getString(0)
      val usable = Set("i", "d", "D")(r.getString(1))
      val mn = if (usable && !r.isNullAt(2)) Some(r.getString(2)) else None
      val mx = if (usable && !r.isNullAt(3)) Some(r.getString(3)) else None
      val nulls = if (r.isNullAt(4)) None else Some(BigInt(r.getLong(4)))
      if (mn.isEmpty && nulls.isEmpty && !ndv.contains(cname)) None
      else Some(cname ->
        org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
          distinctCount = ndv.get(cname), min = mn, max = mx,
          nullCount = nulls))
    }.toMap
    spark.sessionState.catalog.alterTableStats(
      org.apache.spark.sql.catalyst.TableIdentifier(name),
      Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        BigInt(size), Some(BigInt(rows)), colStats)))
  }

  /** Conjunctive multi-column range read: file-level skipping intersects
    * every predicate's kept-set BEFORE any file opens, so a scan like
    * `date BETWEEN … AND amount BETWEEN …` prunes on both columns (the
    * reference's Z-order demo query shape, deltalake.ipynb:8408 — with a
    * Z/range-clustered layout each extra predicate multiplies the prune).
    * Exactness: every predicate is re-applied on the surviving rows.
    */
  def readWhereAll(preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readWhereAll needs at least one predicate")
    // one state resolution serves every predicate (driver fold or
    // distributed job, by snapshot size)
    val dv = currentDv // ONE snapshot read serves the prune and the scan
    val kept = keptForRangePreds(preds, dv)
    if (kept.isEmpty) return read.filter(org.apache.spark.sql.functions.lit(false))
    val scan = scanKept(kept, dv)
    preds.foldLeft(scan) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  /** `WHERE colName IS NOT NULL` with all-null files pruned. */
  def readWhereNotNull(colName: String): DataFrame = {
    val dv = currentDv
    val kept = keptForPreds(
      Seq(MetadataPlane.NotNullPred(physicalColName(colName))), dv)
    if (kept.isEmpty) return read.filter(org.apache.spark.sql.functions.lit(false))
    scanKept(kept, dv)
      .filter(col(colName).isNotNull)
  }

  /** Range read with file-level data skipping: scan ONLY the files whose
    * stats overlap [lo, hi], then apply the exact predicate. Combined with
    * [[clusterZ]]/[[cluster]] layouts this is the Delta data-skipping
    * story: stats prune files from the manifest, parquet row-group stats
    * prune inside the survivors, and the filter keeps exactness.
    */
  def readWhere(colName: String, lo: Any, hi: Any): DataFrame = {
    val dv = currentDv // ONE snapshot read serves the prune and the scan
    val kept = keptForRangePreds(Seq((colName, lo, hi)), dv)
    if (kept.isEmpty) return read.filter(org.apache.spark.sql.functions.lit(false))
    scanKept(kept, dv)
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  // ---- per-file bloom indexes (point-lookup skipping) ------------------

  private def bloomDeclFile = new Path(logDir, "_bloom_cols.txt")
  private def bloomColDir(colName: String) =
    new Path(new Path(logDir, "_bloom.d"), enc(colName))

  /** Declarations with the column's recorded Spark type (simpleString).
    * The type is fixed at declaration time; recording it makes probe-key
    * canonicalization zero-IO instead of a schema (listing + footer) read
    * per point lookup. Legacy 3-field lines parse with an empty type and
    * fall back to a schema read at probe time.
    */
  private def bloomDecls: Map[String, (Long, Double, String)] =
    if (!fs.exists(bloomDeclFile)) Map.empty
    else {
      val in = fs.open(bloomDeclFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(n, items, fpp) =>
            scala.util.Try(dec(n) -> (items.toLong, fpp.toDouble, "")).toOption
          case Array(n, items, fpp, tpe) =>
            scala.util.Try(dec(n) -> (items.toLong, fpp.toDouble, dec(tpe))).toOption
          case _ => None
        }).toMap
      finally in.close()
    }

  private def writeBloomDecls(ds: Map[String, (Long, Double, String)]): Unit =
    if (ds.isEmpty) { if (fs.exists(bloomDeclFile)) fs.delete(bloomDeclFile, false) }
    else writeAtomic(bloomDeclFile, ds.toSeq.sortBy(_._1)
      .map { case (n, (i, f, t)) => s"${enc(n)}\t$i\t$f\t${enc(t)}" }
      .mkString("\n"))

  /** Declared bloom-indexed columns: name → (expectedItemsPerFile, fpp). */
  def bloomIndexes: Map[String, (Long, Double)] =
    bloomDecls.view.mapValues(v => (v._1, v._2)).toMap

  /** Declare a per-file bloom index on `colName` — point-lookup skipping
    * for high-cardinality keys that min/max stats can't prune on
    * unclustered layouts (`client_id = X` against a date-ordered table:
    * every file's [min, max] straddles X, but each file's bloom answers
    * definitively-no for most of them). Existing live files are indexed
    * now (one distributed pass); every later mutation indexes just its
    * new files as part of the commit. Restricted to string / integral /
    * date columns so the probe key provably matches the build key (see
    * [[BloomIndex.keyOf]]).
    *
    * `expectedItemsPerFile = 0` (the default) sizes the filters from the
    * table itself: the max per-file row count in the stats sidecar. An
    * explicit size is for tables whose files are about to grow (e.g. a
    * compaction target) — oversizing silently multiplies every filter's
    * bits and the probe's deserialization cost by the same factor.
    */
  def addBloomIndex(colName: String, expectedItemsPerFile: Long = 0L,
                    fpp: Double = 0.01): Unit = withCommitLock {
    requireMaterialized("addBloomIndex")
    // under the lease: the declaration write, the build and any rollback
    // must not race another writer's commit-time refresh (or a concurrent
    // declaration, which would silently lose one of the two)
    require(exists, "declare bloom indexes on an existing table")
    ensureBootstrapped()
    import org.apache.spark.sql.types._
    val field = read.schema.fields.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $colName"))
    // partition columns don't exist inside the leaf files the build reads
    // (their values live in the dir names) — and they're pruned by the
    // partition layout already, a bloom adds nothing. The latest commit's
    // partitionColumns can be Nil after BOOTSTRAP/RECOVER, so ALSO detect
    // the layout structurally from the Hive-style `col=` dir names.
    val partitioned =
      loggedPartitionCols(version).exists(_.equalsIgnoreCase(colName)) ||
        listParquet(new Path(path)).exists(
          _._1.toLowerCase.contains(s"/${colName.toLowerCase}="))
    if (partitioned) throw new IllegalArgumentException(
      s"cannot bloom-index partition column $colName (partition pruning " +
        "already serves point lookups on it)")
    field.dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType | DateType =>
      case dt => throw new IllegalArgumentException(
        s"bloom index on ${dt.simpleString} is unsupported (string cast is " +
          "not round-trippable); index string/integral/date columns")
    }
    // auto-size from the actual live layout: the sidecar knows every live
    // file's row count (fileMeta reads footers only for unseen files), so
    // the declared capacity tracks what the files really hold instead of a
    // copy-pasted guess. Floor at 1024 so a near-empty table still gets a
    // usable filter for its first real writes.
    val items =
      if (expectedItemsPerFile > 0) expectedItemsPerFile
      else {
        val rows = fileMeta(liveFilesQ()).values.map(_.rows)
        math.max(1024L, if (rows.isEmpty) 100000L else rows.max)
      }
    val before = bloomDecls
    writeBloomDecls(before + (colName ->
      (items, fpp, field.dataType.simpleString)))
    // build THIS column now and loudly; a failed build must not leave a
    // poisoned declaration behind that every later commit trips over
    try {
      val live = listParquet(new Path(path))
        .map { case (p, _) => fs.makeQualified(new Path(p)).toString }
      val dir = bloomColDir(colName)
      BloomIndex.build(spark, fs, BloomIndex.unindexed(fs, dir, live),
        colName, items, fpp, dir)
      BloomIndex.dropStale(fs, dir, live)
      ensureFeature("bloom-index", reader = false)
    } catch {
      case e: Throwable =>
        writeBloomDecls(before)
        // existing healthy filters from a prior declaration of the same
        // column survive a failed RE-declaration; only a first-time add
        // cleans up after itself
        if (!before.contains(colName)) fs.delete(bloomColDir(colName), true)
        throw e
    }
  }

  def dropBloomIndex(colName: String): Unit = withCommitLock {
    writeBloomDecls(bloomDecls - colName)
    fs.delete(bloomColDir(colName), true)
  }

  // ---- per-file SHINGLE bloom index (contamination file skipping) ------

  /** Declaration key for a shingle index — a reserved name that can never
    * collide with a real column (schema validation rejects `:` names at
    * [[addBloomIndex]], which requires the column to exist).
    */
  private def shingleDeclName(textCol: String, n: Int) = s"shingle:$n:$textCol"

  /** The per-row key array a shingle index stores: `xxhash64` of each
    * n-gram shingle of `textCol` — EXACTLY [[graft.ops.Dedup.shingleIndex]]'s
    * key derivation, so a probe with benchmark shingle hashes is sound.
    */
  private def shingleKeyArr(textCol: String, n: Int): Column = {
    import org.apache.spark.sql.functions.{transform, xxhash64}
    transform(graft.ops.Dedup.shingles(col(textCol), n), s => xxhash64(s))
  }

  /** Declare a per-file bloom index over the SHINGLE HASHES of `textCol`
    * — the contamination screen's file-skipping index: a corpus file
    * whose filter answers a definite no for EVERY benchmark shingle can
    * be skipped without opening its text column at all
    * ([[graft.ops.Dedup.contaminationIndexed]]). Existing live files are
    * indexed now; every later mutation indexes just its new files as part
    * of the commit, like the point-lookup index.
    *
    * `expectedItemsPerFile = 0` auto-sizes from the stats sidecar's max
    * per-file row count × 32 (a shingle-per-doc heuristic — ~10 bits per
    * item at the default fpp, so oversizing is cheap insurance while
    * undersizing silently raises the false-keep rate and erodes skipping).
    */
  def addShingleBloomIndex(textCol: String, n: Int,
                           expectedItemsPerFile: Long = 0L,
                           fpp: Double = 0.01): Unit = withCommitLock {
    requireMaterialized("addShingleBloomIndex")
    require(exists, "declare shingle bloom indexes on an existing table")
    ensureBootstrapped()
    require(n >= 1, s"shingle size must be >= 1, got $n")
    import org.apache.spark.sql.types.StringType
    val field = read.schema.fields.find(_.name == textCol)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $textCol"))
    require(field.dataType == StringType,
      s"shingle bloom index needs a string column, $textCol is " +
        field.dataType.simpleString)
    // the build scans data files RAW (the whole point — index without the
    // managed read's overhead), so under column mapping the key derivation
    // and the DECLARATION both use the PHYSICAL name: it never changes
    // (that is what the mapping buys), so later RENAMEs of the logical
    // column leave the index valid, and probes translate at lookup
    // ([[shingleFilesMightHit]]). Unmapped tables: physical == logical.
    val declName = shingleDeclName(physicalColName(textCol), n)
    val items =
      if (expectedItemsPerFile > 0) expectedItemsPerFile
      else {
        val rows = fileMeta(liveFilesQ()).values.map(_.rows)
        math.max(4096L, if (rows.isEmpty) 100000L else rows.max * 32L)
      }
    val before = bloomDecls
    writeBloomDecls(before + (declName -> (items, fpp, "shingle")))
    try {
      val live = listParquet(new Path(path))
        .map { case (p, _) => fs.makeQualified(new Path(p)).toString }
      val dir = bloomColDir(declName)
      BloomIndex.buildLongKeys(spark, fs, BloomIndex.unindexed(fs, dir, live),
        shingleKeyArr(physicalColName(textCol), n), items, fpp, dir)
      BloomIndex.dropStale(fs, dir, live)
      ensureFeature("bloom-index", reader = false)
    } catch {
      case e: Throwable =>
        writeBloomDecls(before)
        if (!before.contains(declName)) fs.delete(bloomColDir(declName), true)
        throw e
    }
  }

  def dropShingleBloomIndex(textCol: String, n: Int): Unit =
    dropBloomIndex(shingleDeclName(physicalColName(textCol), n))

  /** Live data files that MIGHT contain any of `keys` (shingle hashes),
    * per the declared shingle index — (kept, all), [[filesOverlapping]]'s
    * shape. Without a matching declaration every file is kept
    * (conservative, never wrong). The probe distributes like
    * [[bloomSurvivors]]: above the planning cutover the per-file filter
    * reads happen on executors with the key set broadcast once.
    */
  def shingleFilesMightHit(textCol: String, n: Int, keys: Array[Long])
      : (Seq[String], Seq[String]) =
    shingleFilesMightHit(textCol, n, keys, liveFilesQ().map(_._1))

  /** [[shingleFilesMightHit]] over an explicit (version-pinned) file
    * list — the file-skipping contamination screen passes recon(v) so the
    * probe and the scans see ONE snapshot (a dir listing here could catch
    * a concurrent writer's staged files or a half-landed rewrite).
    */
  private[graft] def shingleFilesMightHit(textCol: String, n: Int,
      keys: Array[Long], filesAt: Seq[String])
      : (Seq[String], Seq[String]) = {
    val all = filesAt
    // decls are keyed by the PHYSICAL name (stable across RENAMEs under
    // column mapping; identity on unmapped tables) — translate at lookup
    val declName = shingleDeclName(physicalColName(textCol), n)
    if (!bloomDecls.contains(declName) || keys.isEmpty) return (all, all)
    val dir = bloomColDir(declName)
    val distributed = distributedPlanningMode.equalsIgnoreCase("always") ||
      (useDistributedPlanning && all.size > 4096)
    val kept =
      if (distributed && all.nonEmpty) {
        import spark.implicits._
        val dirStr = dir.toString
        val confB = spark.sparkContext.broadcast(
          new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        val keysB = spark.sparkContext.broadcast(keys)
        try {
          spark.createDataset(all).mapPartitions { it =>
            val d = new Path(dirStr)
            val pfs = d.getFileSystem(confB.value.value)
            it.filter(f =>
              BloomIndex.mightContainAnyLong(pfs, d, f, keysB.value))
          }.collect().toSeq
        } finally { confB.destroy(); keysB.destroy() }
      } else {
        import scala.collection.parallel.CollectionConverters._
        all.par.filter(f =>
          BloomIndex.mightContainAnyLong(fs, dir, f, keys)).seq
      }
    (kept, all)
  }

  /** Index live files missing a filter (new files since the last refresh)
    * and drop entries for files no longer live. Called by every commit
    * when indexes are declared — the pass reads ONLY the unindexed files,
    * so the cost tracks the write, not the table.
    */
  def refreshBloomIndexes(): Unit = refreshBloomIndexesFor(None)

  /** [[refreshBloomIndexes]] with the live list already in hand (the
    * commit paths have it — no second dir listing or manifest fold).
    */
  private def refreshBloomIndexesFor(liveOpt: Option[Seq[String]]): Unit = {
    val decls = bloomDecls
    if (decls.isEmpty) return
    // manifest-driven on a shallow clone (its live dir is empty; the
    // copied filters key the referenced source paths and must survive)
    val live = liveOpt.getOrElse(liveFilesQ().map(_._1))
    decls.foreach { case (c, (items, fpp, tpe)) =>
      val dir = bloomColDir(c)
      // from the commit path a failed build must NOT fail the mutation —
      // the data is already committed, and unindexed files are merely kept
      // conservatively by every probe (addBloomIndex surfaces build errors
      // at declaration time instead). NonFatal only: OOM/interrupts fly.
      try {
        if (tpe == "shingle") c.split(":", 3) match {
          // `shingle:<n>:<textCol>` — rebuild the derived-key index for
          // just the new files, same incremental contract as a column
          case Array(_, nStr, tc) =>
            BloomIndex.buildLongKeys(spark, fs,
              BloomIndex.unindexed(fs, dir, live),
              shingleKeyArr(tc, nStr.toInt), items, fpp, dir)
          case _ => ()
        }
        else BloomIndex.build(spark, fs, BloomIndex.unindexed(fs, dir, live),
          c, items, fpp, dir)
        BloomIndex.dropStale(fs, dir, live)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] bloom index refresh for '$c' failed (files stay " +
              s"unindexed, probes keep them conservatively): ${e.getMessage}")
      }
    }
  }

  /** Live files that may hold `colName = value`: min/max stats prune
    * first, then the per-file bloom gives a definitive no for most of the
    * survivors. Returns (kept, all) like [[filesOverlapping]].
    */
  /** The canonical bloom probe key for `value` against `colName`: the
    * string Spark's cast produces for the COLUMN's type, which is what the
    * build indexed. A raw `value.toString` would read "0042" against a
    * long column as a definite bloom miss and wrongly prune a file the
    * exact filter (which casts) would match. None = not canonicalizable →
    * the bloom is skipped entirely (conservative, min/max still applies).
    */
  private def bloomProbeKey(tpe: String, value: Any): Option[String] =
    tpe match {
      case "bigint" | "int" | "smallint" | "tinyint" => value match {
        // integral probes ONLY: a fractional Number's longValue would
        // build a key for the WRONG long (Spark's predicate compares in
        // double, where distinct longs can tie) — a definite bloom miss
        // on a file the exact filter matches. Non-integral → no key,
        // bloom skipped, min/max still applies.
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte) =>
          Some(n.asInstanceOf[java.lang.Number].longValue.toString)
        case n: java.math.BigInteger => Some(n.toString)
        case s: String => scala.util.Try(s.trim.toLong.toString).toOption
        case _ => None
      }
      case "date" => value match {
        case d: java.time.LocalDate => Some(d.toString)
        case d: java.sql.Date => Some(d.toLocalDate.toString)
        case s => scala.util.Try(
          java.time.LocalDate.parse(s.toString).toString).toOption
      }
      case "string" => value match {
        case s: String => Some(s)
        case _ => None // a non-string probe casts the COLUMN side: no key
      }
      case _ => None
    }

  def filesForPoint(colName: String, value: Any): (Seq[String], Seq[String]) = {
    val (ranged, all) = filesOverlapping(colName, value, value)
    (bloomSurvivors(colName, value, ranged), all)
  }

  /** The bloom half of a point lookup: candidates that are not a DEFINITE
    * bloom miss. The probe is one small `.bf` open per candidate — an
    * object-store RPC — so it runs concurrent always (driver parallel
    * collection), and as a SPARK JOB when distributed planning is on and
    * the candidate set is large: at 1e6 bloom-kept candidates the probe
    * IO belongs to the cluster, not one driver's connection pool. The
    * job ships only paths; each task opens its own filters.
    */
  private def bloomSurvivors(colName: String, value: Any,
                             candidates: Seq[String]): Seq[String] = {
    // the recorded type makes key derivation zero-IO; legacy blank-typed
    // declarations fall back to one schema read
    val key = bloomDecls.get(colName).flatMap { case (_, _, declType) =>
      val tpe =
        if (declType.nonEmpty) declType
        else tableSchemaOpt.flatMap(_.fields.find(_.name == colName))
          .map(_.dataType.simpleString).getOrElse("")
      bloomProbeKey(tpe, value)
    }
    key match {
      case None => candidates
      case Some(k) =>
        val dir = bloomColDir(colName)
        val distributed = distributedPlanningMode.equalsIgnoreCase("always") ||
          (useDistributedPlanning && candidates.size > 4096)
        if (distributed && candidates.nonEmpty) {
          import spark.implicits._
          val dirStr = dir.toString
          // ship the SESSION's Hadoop conf (credentials, endpoints, fs
          // impls) to the tasks — a fresh Configuration would resolve a
          // differently-configured FileSystem on object stores
          val confB = spark.sparkContext.broadcast(
            new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
          try {
            spark.createDataset(candidates).mapPartitions { it =>
              val d = new Path(dirStr)
              val pfs = d.getFileSystem(confB.value.value)
              it.filter(f => BloomIndex.mightContain(pfs, d, f, k))
            }.collect().toSeq
          } finally confB.destroy()
        } else {
          import scala.collection.parallel.CollectionConverters._
          candidates.par.filter(f => BloomIndex.mightContain(fs, dir, f, k)).seq
        }
    }
  }

  /** Point-lookup read: scan only the files the stats AND bloom keep,
    * then apply the exact predicate — never a false positive in results,
    * the index only bounds the scan. Both halves route through the
    * distributed planner when the snapshot size warrants it.
    */
  def readPoint(colName: String, value: Any): DataFrame = {
    val dv = currentDv
    val ranged = keptForRangePreds(Seq((colName, value, value)), dv)
    val survivors =
      bloomSurvivors(colName, value, ranged.map(_.getPath.toString)).toSet
    val kept = ranged.filter(s => survivors(s.getPath.toString))
    if (kept.isEmpty) return read.filter(org.apache.spark.sql.functions.lit(false))
    scanKept(kept, dv)
      .filter(col(colName) === lit(value))
  }

  // ---- deletion vectors (merge-on-read DELETE) -------------------------

  private def dvDir = new Path(logDir, "_dv")
  private def dvFile(v: Long): Path = new Path(dvDir, f"v$v%05d.txt")

  /** The deletion-vector state AT version `v`: file → sorted deleted row
    * indexes. One snapshot file per version that has any DVs (written by
    * [[commit]] before the manifest appears, so no reader can observe a
    * version without its DVs); absence = no deleted rows at that version.
    * Line format: `enc(qualifiedPath)\tcount\t{DvCodec payload}`.
    */
  private def dvMapForVersion(v: Long): Map[String, Array[Long]] = {
    if (v < 0 || !fs.exists(dvDir)) return Map.empty
    val f = dvFile(v)
    if (!fs.exists(f)) return Map.empty
    val lines = readTextFully(f).linesIterator.filter(_.nonEmpty).toSeq
    lines.map { line =>
      val parts = line.split("\t", 3)
      dec(parts(0)) -> DvCodec.decode(parts(2))
    }.toMap
  }

  private def writeDvSnapshot(v: Long, dv: Map[String, Array[Long]]): Unit =
    writeAtomic(dvFile(v), dv.toSeq.sortBy(_._1).map { case (p, idxs) =>
      s"${enc(p)}\t${idxs.length}\t${DvCodec.encode(idxs)}"
    }.mkString("\n"))

  /** Current per-file deleted-row counts (empty when the table carries no
    * deletion vectors) — the observable half of [[deleteVectored]].
    */
  def deletionVectors: Map[String, Long] =
    dvMapForVersion(version).map { case (p, a) => p -> a.length.toLong }

  /** Apply a DV map to a parquet scan: resolve each row's
    * `_metadata.file_path`/`row_index` against the bitmaps and drop marked
    * rows. Zero-shuffle, zero-join — one codegen'd filter at the scan
    * ([[DvDeleted]]); a no-op (the exact original frame) when `dv` is
    * empty, so DV-free tables pay nothing on any read path.
    * `keepMarked` INVERTS the filter — only the marked rows survive — for
    * consumers that need exactly the rows a deletion-vector change removed
    * ([[dvNewlyMarkedRows]]); with an empty map that's no rows at all.
    */
  private def applyDv(df: DataFrame, dv: Map[String, Array[Long]],
                      keepMarked: Boolean = false): DataFrame =
    if (dv.isEmpty) { if (keepMarked) df.filter(lit(false)) else df }
    else {
      val norm = dv.map { case (p, a) => new Path(p).toString -> a }
      val marked =
        DvDeleted(col("_metadata.file_path"), col("_metadata.row_index"), norm)
      df.filter(if (keepMarked) marked else !marked)
    }

  /** DELETE rows matching `cond` WITHOUT rewriting any data file (Delta's
    * deletion vectors / merge-on-read DELETE): the matching rows'
    * (file, row-index) pairs are folded into per-file bitmaps stored in a
    * per-version log sidecar, and every read path filters through them.
    * At 100 TB this turns a point-delete (GDPR erasure, bad-batch
    * retraction) from a multi-TB rewrite into a metadata-plus-bitmap
    * commit whose cost tracks the DELETED rows, not the table.
    *
    * The deletes are materialized — files rewritten without the marked
    * rows, bitmaps dropped — by the next rewriting maintenance op
    * ([[compact]] / [[cluster]] / [[clusterZ]] / OVERWRITE), because those
    * read through the DV filter; Delta's `REORG TABLE … APPLY (PURGE)`
    * equivalent is simply `compact(n)`.
    */
  def deleteVectored(cond: org.apache.spark.sql.Column,
                     partitionCols: Seq[String] = Nil): Unit = withCommitLock {
    requireMaterialized("DELETE (vectored)")
    ensureBootstrapped()
    val prev = dvMapForVersion(version)
    val packed = packDvMarks(dvScanWithMeta(prev).filter(cond))
    if (packed.nonEmpty) noteSchemaPreserved(None) {
      commit("DELETE", partitionCols, dvNew = Some(mergeDvInto(prev, packed)),
        churn = Some((Nil, Set.empty)))
    }
  }

  /** Merge-on-read UPDATE: the matched rows' OLD copies are bitmap-marked
    * and their updated copies appended as new files — one commit, no
    * existing file rewritten. On a 100 TB table an update touching 0.1% of
    * rows costs one scan plus a write proportional to the UPDATED rows.
    * Same assignment semantics as [[update]].
    */
  def updateVectored(cond: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     partitionCols: Seq[String] = Nil): Unit = withCommitLock {
    requireMaterialized("UPDATE (vectored)")
    ensureBootstrapped()
    val prev = dvMapForVersion(version)
    val matched = dvScanWithMeta(prev).filter(cond)
    val packed = packDvMarks(matched)
    if (packed.nonEmpty) {
      // materialize the replacements BEFORE appending: their plan reads the
      // directory being appended to
      val updated = set.foldLeft(matched.drop("__dv_file", "__dv_idx")) {
        case (d, (c, e)) => d.withColumn(c, e)
      }.localCheckpoint()
      enforceConstraints(updated)
      val added = appendViaTmp(updated, partitionCols)
      noteSchemaPreserved(Some(physicalSchemaOf(updated))) {
        commit("UPDATE", partitionCols, dvNew = Some(mergeDvInto(prev, packed)),
          churn = Some((added, Set.empty)))
      }
    }
  }

  /** Merge-on-read MERGE upsert: target rows matching a source key are
    * bitmap-marked (their replacement arrives with the source), and the
    * whole source appends as new files — [[Merge.upsert]] semantics with
    * write cost proportional to the SOURCE batch, zero target files
    * rewritten. The 100 TB shape for a small-delta upsert into a huge
    * unpartitioned table, where even the partition-pruned rewrite of
    * [[merge]] would rewrite whole partitions.
    */
  def mergeVectored(source: DataFrame, keys: Seq[String],
                    partitionCols: Seq[String] = Nil,
                    waitMs: Long = -1L): Unit =
    if (!exists) overwrite(source, partitionCols)
    // call-scoped lease wait (negative = the instance-wide [[leaseWaitMs]]):
    // a conflict-retry caller (streaming mergeSink) can queue THIS call on
    // the lease without permanently flipping the shared instance to
    // wait-mode for every later operation
    else withCommitLockWait(if (waitMs >= 0L) waitMs else leaseWaitMs) {
      requireMaterialized("MERGE (vectored)")
      ensureBootstrapped()
      val prev = dvMapForVersion(version)
      val src = assignIdentities(source)
      // AQE turns this key semi join into a broadcast join for the normal
      // small-delta source; the target never shuffles
      val displaced = dvScanWithMeta(prev)
        .join(src.select(keys.map(col): _*).distinct(), keys, "left_semi")
      val packed = packDvMarks(displaced)
      val incoming = tableSchemaOpt
        .map(conform(src, allowEvolution = false, _, partitionCols))
        .getOrElse(src).localCheckpoint()
      enforceConstraints(incoming)
      val added = appendViaTmp(incoming, partitionCols)
      noteSchemaPreserved(Some(physicalSchemaOf(incoming))) {
        commit("MERGE", partitionCols,
          dvNew = if (packed.isEmpty) None else Some(mergeDvInto(prev, packed)),
          churn = Some((added, Set.empty)))
      }
    }

  // ---- optimistic merge-on-read DML ------------------------------------

  /** [[deleteVectored]] with the blind-append OCC discipline: the full
    * predicate scan + bitmap pack (the expensive part — a whole-table read
    * at 100 TB) runs with NO lease held; only the manifest commit
    * serializes. Under the lease the staged marks are validated: commits
    * that landed mid-scan must all be blind appends (APPEND / COPY INTO) —
    * they never move, rewrite or re-bitmap the marked files, and under
    * write-serializable isolation this delete logically precedes them.
    * Any concurrent DELETE/UPDATE/MERGE/OPTIMIZE conflicts (Delta's
    * `ConcurrentDeleteDeleteException` / `ConcurrentDeleteReadException`
    * shape) — the staged bitmaps could double-mark or miss rewritten rows.
    */
  def deleteVectoredOptimistic(cond: org.apache.spark.sql.Column,
                               partitionCols: Seq[String] = Nil,
                               commitWaitMs: Long = 60000L): Unit = {
    requireMaterialized("DELETE (vectored)")
    ensureBootstrapped()
    val v0 = version
    val cons0 = constraints
    val dv0 = dvMapForVersion(v0)
    val packed = packDvMarks(dvScanWithMeta(dv0).filter(cond))
    if (packed.isEmpty) return
    occBetweenStageAndCommit()
    withCommitLockWait(commitWaitMs) {
      occValidate("DELETE", v0, cons0, commuting = Some(occDmlCommuting))
      noteSchemaPreserved(None) {
        commit("DELETE", partitionCols, dvNew = Some(mergeDvInto(dv0, packed)),
          churn = Some((Nil, Set.empty)))
      }
    }
  }

  /** [[updateVectored]] with the blind-append OCC discipline: scan, mark,
    * and the replacement-row write all stage leaseless; the lease covers
    * only rename + manifest. Conflict rules as [[deleteVectoredOptimistic]],
    * plus schema/partition-layout drift (the staged replacement files were
    * written against the old layout).
    */
  def updateVectoredOptimistic(cond: org.apache.spark.sql.Column,
                               set: Map[String, org.apache.spark.sql.Column],
                               partitionCols: Seq[String] = Nil,
                               commitWaitMs: Long = 60000L): Unit = {
    requireMaterialized("UPDATE (vectored)")
    ensureBootstrapped()
    val v0 = version
    val pcs0 = loggedPartitionCols(v0)
    val schema0 = tableSchemaOpt
    val cons0 = constraints
    val dv0 = dvMapForVersion(v0)
    val matched = dvScanWithMeta(dv0).filter(cond)
    val packed = packDvMarks(matched)
    if (packed.isEmpty) return
    val updated = set.foldLeft(matched.drop("__dv_file", "__dv_idx")) {
      case (d, (c, e)) => d.withColumn(c, e)
    }.localCheckpoint()
    enforceConstraints(updated)
    var tmp: Path = null
    try {
      tmp = stageToTmp(updated, partitionCols)
      occBetweenStageAndCommit()
      withCommitLockWait(commitWaitMs) {
        occValidate("UPDATE", v0, cons0, commuting = Some(occDmlCommuting),
          pcs0 = Some(pcs0), schema0 = Some(schema0))
        val added = publishStaged(tmp)
        noteSchemaPreserved(Some(physicalSchemaOf(updated))) {
          commit("UPDATE", partitionCols, dvNew = Some(mergeDvInto(dv0, packed)),
            churn = Some((added, Set.empty)))
        }
      }
    } finally {
      reapStage(tmp)
    }
  }

  /** [[mergeVectored]] with the blind-append OCC discipline: the displaced-
    * row mark and the source write stage leaseless; conflict rules as
    * [[updateVectoredOptimistic]]. The at-scale shape for concurrent
    * small-delta upserts into one huge table: each merge's cost is its own
    * source batch, and none of them queue behind each other's scans.
    */
  def mergeVectoredOptimistic(source: DataFrame, keys: Seq[String],
                              partitionCols: Seq[String] = Nil,
                              commitWaitMs: Long = 60000L): Unit =
    if (!exists) overwrite(source, partitionCols)
    else {
      requireMaterialized("MERGE (vectored)")
      if (identityColumns.nonEmpty) { mergeVectored(source, keys, partitionCols); return }
      ensureBootstrapped()
      val v0 = version
      val pcs0 = loggedPartitionCols(v0)
      val schema0 = tableSchemaOpt
      val cons0 = constraints
      val dv0 = dvMapForVersion(v0)
      val displaced = dvScanWithMeta(dv0)
        .join(source.select(keys.map(col): _*).distinct(), keys, "left_semi")
      val packed = packDvMarks(displaced)
      val incoming = schema0
        .map(conform(source, allowEvolution = false, _, partitionCols))
        .getOrElse(source).localCheckpoint()
      enforceConstraints(incoming)
      var tmp: Path = null
      try {
        tmp = stageToTmp(incoming, partitionCols)
        occBetweenStageAndCommit()
        withCommitLockWait(commitWaitMs) {
          occValidate("MERGE", v0, cons0, commuting = Some(occDmlCommuting),
            pcs0 = Some(pcs0), schema0 = Some(schema0))
          val added = publishStaged(tmp)
          noteSchemaPreserved(Some(physicalSchemaOf(incoming))) {
            commit("MERGE", partitionCols,
              dvNew = if (packed.isEmpty) None else Some(mergeDvInto(dv0, packed)),
              churn = Some((added, Set.empty)))
          }
        }
      } finally {
        reapStage(tmp)
      }
    }

  /** Append `df`'s rows to the live dir with a MINIMAL crash window: the
    * Spark write runs against a tmp sibling dir (ignored by listings,
    * reaped by [[vacuum]]), and only fast per-file renames touch the live
    * dir. A crash mid-job orphans the tmp dir — harmless; only a crash
    * inside the rename loop (milliseconds, not a whole write job) can
    * leave rows for the RECOVER commit to legitimize early. Used by the
    * merge-on-read DML paths, where a stray append without its bitmap
    * commit would otherwise surface duplicate keys.
    */
  private def appendViaTmp(df: DataFrame,
                           partitionCols: Seq[String]): Seq[(String, Long)] =
    publishStaged(stageToTmp(df, partitionCols))

  /** Run the (expensive) Spark write against a fresh `.tmp-` sibling and
    * return its path — the stage half of [[appendViaTmp]], callable with
    * no lease held (optimistic paths stage here, then publish inside their
    * short commit critical section).
    */
  /** Run a managed data write with parquet timestamps as INT64 micros.
    * Spark's default INT96 encoding records NO usable footer stats, which
    * would silently disable timestamp data-skipping on every table this
    * engine writes; TIMESTAMP_MICROS is what Delta recommends for exactly
    * this reason. Session-conf save/restore because the writer has no
    * per-write option for it — REFCOUNTED per session, because optimistic
    * writers stage leaselessly in parallel by design: with a naive
    * save/restore, writer A's finally could revert the conf to INT96 just
    * before writer B's `.parquet()` action starts (silently disabling the
    * stats this helper exists for), or the last finisher could leak
    * TIMESTAMP_MICROS into the user's session. The override is now held
    * while ANY managed write is in flight and the outermost exit restores
    * the value captured by the first entry.
    */
  private def withMicrosTs[A](f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    ManagedTable.microsTsLock.synchronized {
      val (depth, prev) = ManagedTable.microsTsState.getOrElse(spark, (0, None))
      val p = if (depth == 0) {
        val p0 = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        p0
      } else prev
      ManagedTable.microsTsState.update(spark, (depth + 1, p))
    }
    try f finally ManagedTable.microsTsLock.synchronized {
      val (depth, prev) = ManagedTable.microsTsState(spark)
      if (depth == 1) {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        ManagedTable.microsTsState.remove(spark)
      } else ManagedTable.microsTsState.update(spark, (depth - 1, prev))
    }
  }

  /** Delta's optimized write (`delta.autoOptimize.optimizeWrite` role):
    * when the `graft.optimizeWrite` table property is true, writes
    * rebalance through one AQE shuffle before hitting parquet — a
    * partitioned table shuffles on its partition columns so each
    * partition dir is written by as few tasks as its size warrants
    * (instead of one file per incoming task per dir); an unpartitioned
    * table coalesces to advisory-sized output splits. REBALANCE (not a
    * plain repartition) because AQE both merges undersized shuffle
    * partitions and SPLITS skewed ones at
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — a hot partition
    * value still fans out over several writers, the skew failure mode a
    * naive `repartition(partitionCols)` bakes in. At scale this is the
    * difference between a trickle sink accreting one shard per task per
    * trigger per dir and target-sized files with no post-hoc OPTIMIZE
    * debt; the cost is one extra shuffle of exactly the written rows.
    */
  private def maybeOptimizeWrite(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    if (!properties.get("graft.optimizeWrite").exists(_.equalsIgnoreCase("true"))) df
    else if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols: _*)
    else df.hint("rebalance")

  /** Operations whose caller already arranged the physical layout — the
    * clustering sorts (ZORDER/CLUSTER), compaction's explicit file
    * counts (OPTIMIZE/PURGE), snapshot restores — where the
    * optimizeWrite rebalance shuffle would scramble exactly the order or
    * file structure the operation exists to produce. Their writes bypass
    * [[maybeOptimizeWrite]].
    */
  private def layoutBearing(op: String): Boolean =
    op == "OPTIMIZE" || op == "ZORDER" || op == "RESTORE" || op == "PURGE" ||
      op.startsWith("CLUSTER")

  private def stageToTmp(df0: DataFrame, partitionCols: Seq[String]): Path = {
    val df = maybeOptimizeWrite(df0, partitionCols)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    // track keys AS they are inserted (not after): a footer read failing
    // mid-loop must still leave every inserted entry reachable by
    // [[reapStage]], or a retrying writer leaks entries per attempt
    val keyAcc = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val w = toPhysical(df).write.mode(SaveMode.Overwrite)
      withMicrosTs {
        (if (partitionCols.nonEmpty)
          w.partitionBy(partitionCols.map(physicalColName): _*)
        else w).parquet(tmp.toString)
      }
      // read the staged files' footers NOW — leaseless on the optimistic
      // paths — keyed by their FUTURE live path (file length is
      // rename-invariant, so the key stays valid through publish). The
      // commit's stats collection then hits this cache instead of paying
      // O(new files) footer round-trips inside the critical section: at 10k
      // staged files on an object store that is the difference between a
      // milliseconds commit and tens of seconds under the lease.
      val tmpQ = fs.makeQualified(tmp).toString
      val nc = statsColsNow
      import scala.collection.parallel.CollectionConverters._
      listParquet(tmp).par.foreach { case (f, len) =>
        val live = stagedLivePath(tmpQ, f)
        preReadMetas.put(live, (len, footerMeta(new Path(f), nc)))
        keyAcc.add(live)
      }
      import scala.jdk.CollectionConverters._
      stagedMetaKeys.put(tmp.toString, keyAcc.asScala.toSeq)
      tmp
    } catch {
      // a write/footer failure here happens BEFORE the caller ever sees
      // tmp (its finally runs reapStage(null)) — clean the staged dir and
      // every already-inserted pre-read entry ourselves, then rethrow
      case e: Throwable =>
        import scala.jdk.CollectionConverters._
        stagedMetaKeys.put(tmp.toString, keyAcc.asScala.toSeq)
        reapStage(tmp)
        throw e
    }
  }

  /** The live path a staged file publishes to — THE key contract between
    * [[stageToTmp]]'s pre-read cache and [[publishStaged]]'s rename
    * destination; both sides must derive it through here or pre-read
    * entries silently stop matching.
    */
  private def stagedLivePath(tmpQ: String, stagedFile: String): String =
    qualifiedRoot + "/" +
      fs.makeQualified(new Path(stagedFile)).toString.stripPrefix(tmpQ + "/")

  /** Footer stats pre-read at stage time, consumed by [[fileMeta]] during
    * the following commit (concurrent stagers on one instance are legal:
    * TrieMap, keys are distinct future live paths). [[stagedMetaKeys]]
    * remembers each stage's keys so [[reapStage]] can drop the entries of
    * a stage that conflicted, detected a replay, or crashed — otherwise a
    * long-lived instance retrying forever would leak one entry per staged
    * file.
    */
  private val preReadMetas =
    scala.collection.concurrent.TrieMap.empty[String, (Long, FileMeta)]
  private val stagedMetaKeys =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  /** Failure-path cleanup for a staged write: the tmp sibling and any
    * UNCONSUMED pre-read footer entries (a published stage's entries were
    * already claimed by its commit; removing tracking then is a no-op).
    */
  private def reapStage(tmp: Path): Unit = if (tmp != null) {
    if (fs.exists(tmp)) fs.delete(tmp, true)
    stagedMetaKeys.remove(tmp.toString).foreach(_.foreach(preReadMetas.remove))
  }

  /** Move a staged sibling's parquet files into the live dir (fast per-file
    * renames — the publish half of [[appendViaTmp]]). Returns the
    * published (live path, length) list — the caller's commit passes it
    * as declared churn so the manifest-is-truth fast path applies.
    */
  private def publishStaged(tmp: Path): Seq[(String, Long)] = {
    val tmpQ = fs.makeQualified(tmp).toString
    val moved = listParquet(tmp).map { case (f, len) =>
      // the returned path is the stagedLivePath STRING (the preReadMetas
      // key contract), not dst.toString — the two must stay identical for
      // the commit's churn claim to hit the pre-read footer cache
      val live = stagedLivePath(tmpQ, f)
      val dst = new Path(live)
      fs.mkdirs(dst.getParent)
      // rename returns false (not an exception) on quota/permission/dst
      // failures: failing loudly BEFORE the tmp delete means no replacement
      // is silently destroyed and no bitmap commit follows
      if (!fs.rename(new Path(f), dst))
        throw new java.io.IOException(s"failed to move $f to $dst")
      (live, len)
    }
    fs.delete(tmp, true)
    // published: the entries now belong to the imminent commit (which
    // claims them from preReadMetas); only the stage tracking retires here
    stagedMetaKeys.remove(tmp.toString)
    moved
  }

  /** Live scan with `__dv_file`/`__dv_idx` metadata columns, already
    * filtered through the PREVIOUS deletion vectors (rows deleted earlier
    * must not be re-marked or re-matched).
    */
  private def dvScanWithMeta(prev: Map[String, Array[Long]]): DataFrame = {
    // the full parquetScan (not a bare spark.read.parquet): declared
    // extras and type widenings must surface here too, or a MOR DML after
    // a metadata-only ADD COLUMNS would silently operate on the narrow
    // schema. Mapping applied BEFORE the metadata columns: user
    // predicates over the scan speak logical names (AddMetadataColumns
    // resolves _metadata through the aliasing projection)
    val scan = parquetScan(spark.read, Seq(path), cacheSchema = true)
      .withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_idx", col("_metadata.row_index"))
    if (prev.isEmpty) scan
    else scan.filter(!DvDeleted(col("__dv_file"), col("__dv_idx"),
      prev.map { case (p, a) => new Path(p).toString -> a }))
  }

  /** Fold marked rows to one (file, encoded-bitmap) row per touched file ON
    * THE EXECUTORS; the driver collects only compressed bitmaps (bytes per
    * marked row), never raw row indexes.
    */
  private def packDvMarks(marked: DataFrame): Array[(String, String)] = {
    import spark.implicits._
    marked
      .select(col("__dv_file"), col("__dv_idx"))
      .groupBy("__dv_file")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(col("__dv_idx"))).as("idxs"))
      .select(col("__dv_file").as[String], col("idxs").as[Seq[Long]])
      .map { case (f, idxs) => (f, DvCodec.encode(idxs.toArray)) }
      .collect()
  }

  /** Union freshly packed marks into the previous DV map, re-keying the
    * scan-form paths (file:///…) to the manifest's qualified form so
    * commit's survivor pruning matches them against the file list.
    */
  private def mergeDvInto(prev: Map[String, Array[Long]],
                          packed: Array[(String, String)]): Map[String, Array[Long]] =
    packed.foldLeft(prev) { case (m, (f, encoded)) =>
      val key = fs.makeQualified(new Path(f)).toString
      val idxs = DvCodec.decode(encoded)
      m.updated(key, m.get(key).map(DvCodec.merge(_, idxs)).getOrElse(idxs))
    }

  /** Materialize deletion vectors (Delta's `REORG TABLE … APPLY (PURGE)`):
    * rewrite ONLY the files that carry a bitmap — their surviving rows are
    * re-written as fresh files, the old files retire into the current
    * version's snapshot, and the new version has no vectors. Files without
    * deletions are never read, never moved — on a 100 TB table where a
    * point-delete touched a handful of files, purge cost tracks those
    * files, not the table. [[compact]] remains the whole-table form.
    */
  def purgeDeletes(): Unit = withCommitLock {
    requireMaterialized("REORG (purge)")
    ensureBootstrapped()
    val dv = dvMapForVersion(version)
    if (dv.nonEmpty) {
      val files = dv.keys.toSeq.sorted
      // materialize the survivors BEFORE the moves — the plan reads the
      // files being retired (basePath keeps partition columns resolving)
      val survivors = maintScan(files, dv).localCheckpoint()
      // moved files fall out of the carried DV map by path; the rewritten
      // rows carry no vectors — the PURGE commit is vector-free
      retireAndReplace(files, survivors, "PURGE")
    }
  }

  /** Shared tail of the file-granular rewrites ([[purgeDeletes]],
    * [[compactSmall]], [[clusterIncremental]]): retire exactly `files`
    * into the current version's snapshot, append the already-materialized
    * `replacement` rows, and commit — a delta whose removes name the
    * retired files' committed paths; no existing log file is touched.
    * Caller holds the lease and has materialized `replacement` (its plan
    * reads the files being moved).
    */
  private def retireAndReplace(files: Seq[String], replacement: DataFrame,
                               operation: String): Unit = {
    requireMaterialized(operation)
    val pcs = loggedPartitionCols(version)
    val cur = version
    files.foreach { f =>
      val dst = new Path(retainedDir(cur) + "/" + f.stripPrefix(qualifiedRoot + "/"))
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new Path(f), dst))
        throw new java.io.IOException(s"failed to retire $f to $dst")
    }
    val phys = toPhysical(replacement)
    val w = phys.write.mode(SaveMode.Append)
    withMicrosTs {
      (if (pcs.nonEmpty) w.partitionBy(pcs.map(physicalColName): _*)
       else w).parquet(path)
    }
    noteSchemaPreserved(Some(phys.schema))(commit(operation, pcs))
  }

  /** Exact-path remap of the whole log (manifests, retro pointers, DV
    * snapshots, checkpoint sidecars) — the ONE history rewrite left, and
    * [[materialize]] is its only caller: a clone's history must be rebased
    * from the source's files onto the local copies, or the source's
    * VACUUM would break it. Rewrites never remap (a retired file is found
    * at read time by [[resolveLive]]). Each file is replaced through
    * [[writeAtomic]], so a crash leaves it whole — old or new — and the
    * MATERIALIZE commit that follows checkpoints.
    */
  private def remapFiles(mapping: Map[String, String]): Unit = {
    if (!fs.exists(logDir) || mapping.isEmpty) return
    (fs.listStatus(logDir) ++ retroPointerStatuses).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.startsWith("v") && n.endsWith(".json")
    }.foreach { st =>
      val txt = readTextFully(st.getPath)
      val updated = mapping.foldLeft(txt) { case (t, (o, n)) =>
        t.replace(jstr(o), jstr(n)) }
      if (updated != txt) writeAtomic(st.getPath, updated)
    }
    rewriteDvSnapshots(p => mapping.getOrElse(p, p))
    remapCheckpointSidecars(p => mapping.getOrElse(p, p))
  }

  /** Append a commit entry describing the CURRENT live dir as version
    * `version + 1`. Listing + new-file footer reads; no data pass, no
    * Spark job (see [[fileRowCounts]]). Deletion vectors carry forward
    * (pruned to surviving files — a rewrite that drops or moves a file
    * drops its bitmap with it) unless the mutation supplies its own map.
    */
  /** In-commit timestamp with Delta's ICT monotonicity discipline: the
    * recorded time never regresses below the previous commit's — a clock
    * stepping backwards (NTP) or sub-precision ties would otherwise make
    * readAsOf's timestamp→version resolution disagree with commit order.
    */
  private def ictTimestamp(prevHist: Seq[CommitInfo]): String = {
    val now = java.time.Instant.now()
    val floor = prevHist.sortBy(_.version).lastOption
      .flatMap(c => scala.util.Try(
        java.time.Instant.parse(c.timestamp)).toOption)
      .map(_.plusMillis(1))
    (if (floor.exists(_.isAfter(now))) floor.get else now).toString
  }

  /** The logical↔physical naming state this commit records into its
    * manifest — Delta's metaData-per-version shape, scoped to the naming
    * surface: while column mapping is in play, every manifest carries the
    * mapping pairs and the dropped-physical list AS OF THIS COMMIT (the
    * property encodings verbatim), so [[readVersion]] can resolve v-era
    * logical names instead of retitling history with today's mapping.
    * Absent on unmapped tables (reads there are untouched) and during
    * [[disableColumnMapping]]'s rewrite (`bypassPhysicalMapping`): that
    * snapshot is written under LOGICAL names, so recording the old
    * mapping would re-alias a column whose physical name collides with
    * another pair's logical name (chained renames).
    */
  private def namingRecord: Seq[String] =
    if (bypassPhysicalMapping) Nil
    else if (columnMappingEnabled || columnMappingPairs.nonEmpty ||
             droppedPhysicalCols.nonEmpty)
      Seq(
        s""""nameMapping":${jstr(properties.getOrElse("graft.schema.mapping", ""))}""",
        s""""nameDropped":${jstr(properties.getOrElse("graft.schema.dropped", ""))}""")
    else Nil

  /** One manifest's JSON — the single assembly both commit paths share,
    * so a field added to one can never silently miss the other.
    */
  private def manifestJson(v: Long, ts: String, operation: String,
      partitionCols: Seq[String], numFiles: Long, sizeInBytes: Long,
      rowCount: Long, deletedRows: Long, txn: Option[(String, Long)],
      metrics: (Long, Long, Long), bytesAdded: Long,
      fileEntry: String): String =
    (Seq(
      s""""version":$v""",
      s""""timestamp":${jstr(ts)}""",
      s""""operation":${jstr(operation)}""",
      s""""partitionColumns":[${partitionCols.map(jstr).mkString(",")}]""",
      s""""numFiles":$numFiles""",
      s""""sizeInBytes":$sizeInBytes""",
      s""""rowCount":$rowCount""") ++
      (if (deletedRows > 0) Seq(s""""numDeletedRows":$deletedRows""") else Nil) ++
      // the txn marker rides IN the commit (Delta's txnAppId/txnVersion):
      // the write and its dedup record are one atomic manifest, so a crash
      // can never apply the data without the marker (or vice versa)
      txn.map { case (app, tv) =>
        s""""txn":{"app":${jstr(app)},"version":$tv}""" } ++
      namingRecord ++ Seq(
      s""""metrics":{"filesAdded":${metrics._1},"filesRemoved":${metrics._2},"rowDelta":${metrics._3},"bytesAdded":$bytesAdded}""",
      fileEntry)
    ).mkString("{", ",", "}")

  /** Put-if-absent on the manifest itself (Delta's commit discipline): a
    * version number is claimed exactly once. The lease already serializes
    * writers; this is the backstop that turns any future lease bypass or
    * non-atomic-create filesystem into a loud error instead of a silently
    * overwritten commit.
    */
  private def writeManifestPutIfAbsent(v: Long, json: String): Unit = {
    fs.mkdirs(logDir)
    val manifest = new Path(logDir, f"v$v%05d.json")
    if (fs.exists(manifest)) throw new java.util.ConcurrentModificationException(
      s"commit race on $path: version $v already exists — another writer " +
        "committed concurrently (is the lease being bypassed?)")
    val out = fs.create(manifest, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** [[fileMeta]] restricted to files KNOWN new (freshly staged UUID
    * paths): no sidecar base/segment read at all in the common case —
    * claims the stage-time pre-read footers (or reads them, O(added)) and
    * appends exactly one sidecar segment. Compaction normally belongs to
    * the next listing-path commit's full [[fileMeta]] fold, but with a
    * user-raised `checkpointInterval` (the ManifestBench knob) fast
    * commits could otherwise grow `_file_rows.d` without bound — so once
    * [[sidecarCompactAt]] segments accumulate, THIS path folds
    * base+segments too (amortized: at most once per `sidecarCompactAt`
    * fast commits, parse served by [[SidecarCache]] when the base fits)
    * and rewrites the base restricted to `liveAfter`, the post-commit
    * live set the caller already holds from [[CommitLiveCache]].
    */
  private def fileMetaAdded(added: Seq[(String, Long)],
      liveAfter: () => Map[String, Long]): Map[String, FileMeta] = {
    if (added.isEmpty) return Map.empty
    val claimed = added.flatMap { case (p, len) =>
      preReadMetas.remove(p).collect { case (l, m) if l == len => p -> m }
    }.toMap
    val toRead = added.collect { case (p, _) if !claimed.contains(p) => p }
    import scala.collection.parallel.CollectionConverters._
    val nc = if (toRead.isEmpty) statsColsDefault else statsColsNow
    val metas = toRead.par.map(p => p -> footerMeta(new Path(p), nc)).seq.toMap ++ claimed
    val segs = sidecarSegments
    if (segs.size + 1 >= sidecarCompactAt) {
      // fold everything (the new entries included) into the base, keep
      // only post-commit live entries whose recorded length still matches
      // (every live file has an entry — its own commit wrote one)
      val folded = segs.foldLeft(readSidecarFile(sidecarBase))(
        (m, s) => m ++ readSidecarFile(s)) ++
        added.map { case (p, len) => p -> ((len, metas(p))) }
      val live = liveAfter()
      writeAtomic(sidecarBase,
        folded.collect { case (p, (len, m)) if live.get(p).contains(len) =>
          sidecarLine(p, len, m) }.toSeq.sorted.mkString("\n"))
      fs.delete(sidecarSegDir, true)
    } else {
      writeAtomic(nextSegPath(sidecarSegDir, segs),
        added.map { case (p, len) => sidecarLine(p, len, metas(p)) }
          .sorted.mkString("\n"))
    }
    metas
  }

  /** Row-id assignment for KNOWN-new files (the fast commit path): bases
    * allocate from the persisted high-water mark read from the `#next`
    * HEADERS alone — first line of the base and of each segment,
    * O(segments) tiny reads, never the full O(live files) id map — and
    * land as one new segment. Freshly staged UUID paths cannot already
    * hold ids, so the membership check [[assignRowIds]] does is vacuous
    * here; compaction stays with the listing-path commits, whose full
    * live list makes the entry-keep decision safe.
    */
  private def assignRowIdsFast(added: Seq[(String, Long)],
                               metas: Map[String, FileMeta]): Unit = {
    if (added.isEmpty) return
    def headerNext(p: Path): Long =
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8"))
          Option(br.readLine()).filter(_.startsWith("#next\t"))
            .flatMap(_.stripPrefix("#next\t").trim.toLongOption)
            .getOrElse(0L)
        } finally in.close()
      }
    val segs: Seq[Path] =
      if (!fs.exists(rowIdsSegDir)) Nil
      else fs.listStatus(rowIdsSegDir).map(_.getPath).toSeq
    var next = (rowIdsFile +: segs).map(headerNext).foldLeft(0L)(math.max)
    val entries = added.map(_._1).sorted.map { f =>
      if (metas(f).stats.contains(RowTracking.col)) f -> -1L
      else { val b = next; next += metas(f).rows; f -> b }
    }
    if (entries.exists(_._2 == -1L)) ensureFeature("row-tracking", reader = true)
    fs.mkdirs(rowIdsSegDir)
    writeAtomic(new Path(rowIdsSegDir,
      java.util.UUID.randomUUID().toString + ".txt"),
      (Seq(s"#next\t$next") ++ entries.map { case (p, b) => s"${enc(p)}\t$b" })
        .mkString("\n"))
  }

  /** The O(churn) manifest-is-truth commit (Delta's actual commit shape:
    * commit against the log, never list the table). Preconditions checked
    * by [[commit]]: the caller declared its exact churn, the parent
    * version's live state is cached ([[CommitLiveCache]]), and this is a
    * plain delta commit — checkpoint commits and every trust boundary
    * (BOOTSTRAP/RECOVER/clone/materialize) take the listing path, which
    * re-verifies against the dir and re-seeds the cache, bounding any
    * out-of-band drift to one checkpoint interval.
    */
  private def commitFromState(v: Long, st: CommitLiveCache.State,
      operation: String, partitionCols0: Seq[String],
      txn: Option[(String, Long)],
      dvNew: Option[Map[String, Array[Long]]],
      churn: (Seq[(String, Long)], Set[String])): Committed = {
    val (added0, removed0) = churn
    // tolerate funnel over-report: only paths actually live can retire,
    // and a re-declared live path must not double-count as an add.
    // Staged writes use fresh UUID names, so a dropped re-declared ADD
    // indicates a funnel bug, not data — count it so a regression is
    // visible ([[lastFunnelOverReport]], asserted zero by the specs)
    // instead of silently absorbed.
    val added = added0.filterNot { case (p, _) => st.files.contains(p) }
    val removed = removed0.filter(st.files.contains)
    lastFunnelOverReport =
      (added0.size - added.size) + (removed0.size - removed.size)
    if (lastFunnelOverReport > 0)
      logWarning(s"commit v$v on $path: funnel over-reported churn — " +
        s"${added0.size - added.size} re-declared add(s), " +
        s"${removed0.size - removed.size} not-live remove(s) dropped")
    val addedMetas = fileMetaAdded(added,
      () => (st.files -- removed0).map { case (p, (l, _)) => p -> l } ++ added)
    // row tracking: the new files' id bases (or materialized markers) land
    // BEFORE the manifest — a version must never be visible without them
    // (same discipline as the listing path, via the header-only fast form)
    if (rowTrackingEnabled) assignRowIdsFast(added, addedMetas)
    val newFiles = (st.files -- removed) ++
      added.map { case (p, l) => p -> (l, addedMetas(p).rows) }
    val fileSet = newFiles.keySet
    val dv = dvNew.getOrElse(dvMapForVersion(v - 1))
      .filter { case (p, _) => fileSet.contains(p) }
    val deletedRows = dv.values.map(_.length.toLong).sum
    if (dv.exists(_._2.nonEmpty)) ensureFeature("deletion-vectors", reader = true)
    if (dv.nonEmpty) writeDvSnapshot(v, dv)
    else if (fs.exists(dvFile(v))) fs.delete(dvFile(v), false)
    val addedRows = added.iterator.map { case (p, _) => addedMetas(p).rows }.sum
    val removedRows = removed.iterator.map(p => st.files(p)._2).sum
    val liveRows = st.liveRows + addedRows - removedRows
    val rowCount = liveRows - deletedRows
    val sizeBytes = st.sizeBytes + added.iterator.map(_._2).sum -
      removed.iterator.map(p => st.files(p)._1).sum
    // layout inference: prefer THIS commit's added files (they carry the
    // staged layout deterministically); a no-add commit (DV-only) infers
    // from any live file — the set is layout-homogeneous by construction
    val partitionCols =
      if (partitionCols0.nonEmpty) partitionCols0.map(physicalColName)
      else added.headOption.orElse(newFiles.headOption)
        .map { case (p, _) => partitionSegments(p).map(_._1) }
        .getOrElse(Nil)
    val prevHist = readHistoryFile()
    val prevRowCount = prevHist.filter(_.version < v)
      .sortBy(_.version).lastOption.map(_.rowCount).getOrElse(0L)
    val metrics = (added.size.toLong, removed.size.toLong,
      rowCount - prevRowCount)
    val bytesAdded = added.iterator.map(_._2).sum
    val ts = ictTimestamp(prevHist)
    val fileEntry =
      s""""add":[${added.map(f => jstr(f._1)).mkString(",")}],""" +
      s""""remove":[${removed.toSeq.sorted.map(jstr).mkString(",")}]"""
    writeManifestPutIfAbsent(v, manifestJson(v, ts, operation, partitionCols,
      newFiles.size.toLong, sizeBytes, rowCount, deletedRows, txn, metrics,
      bytesAdded, fileEntry))
    appendHistory(CommitInfo(v, ts, operation, partitionCols,
      newFiles.size, sizeBytes, rowCount, txn, Some(metrics),
      Some(bytesAdded)), prevHist)
    // `_latest_files.txt` is deliberately NOT rewritten here — at 1e7
    // files that is a ~GB of driver IO per commit. Consistency checks
    // ([[needsBootstrapCommit]]) reconstruct the expected set from the
    // log instead; the next listing-path commit refreshes the sidecar.
    refreshBloomIndexesFor(Some(newFiles.keys.toSeq))
    CommitLiveCache.put(qualifiedRoot,
      CommitLiveCache.State(v, newFiles, liveRows, sizeBytes))
    trustedDirVersion = v
    Committed(v, partitionCols, added.map(_._1), removed.toSeq)
  }

  /** Zero-churn commit recording a NAMING change (mapped RENAME/DROP
    * COLUMN, SET COLUMN MAPPING): no files move, O(1) metadata — but the
    * manifest it lands carries the post-change nameMapping/nameDropped
    * record, the version boundary [[readVersion]]'s era resolution needs
    * (Delta commits its ALTERs as metaData actions the same way).
    * Skipped before the founding commit (no version to distinguish).
    * On an unmaterialized shallow clone the live dir is empty by design,
    * so the commit must carry the manifest's (foreign) file list
    * explicitly — a listing-path commit would record zero files.
    */
  private def commitNamingChange(operation: String): Unit =
    if (version >= 0) {
      if (isShallowClone) commit(operation, Nil,
        filesExplicit = Some(liveFilesQ()))
      else commit(operation, Nil, churn = Some((Nil, Set.empty)))
    }

  private def commit(operation: String, partitionCols0: Seq[String],
                     txn: Option[(String, Long)] = None,
                     dvNew: Option[Map[String, Array[Long]]] = None,
                     filesExplicit: Option[Seq[(String, Long)]] = None,
                     churn: Option[(Seq[(String, Long)], Set[String])] = None): Committed = {
    val v = version + 1
    val ckptEvery = math.max(1, properties
      .get("graft.manifest.checkpointInterval").flatMap(_.toIntOption)
      .getOrElse(10))
    // manifest-is-truth fast path: a delta commit whose caller declared
    // its exact churn and whose parent state is cached never lists the
    // dir or folds the sidecar base — O(churn) driver work. Symlink-
    // manifest tables stay on the listing path (their per-commit manifest
    // tree is O(live) by its own design); so does every checkpoint/
    // boundary commit, which re-verifies against the dir — EXCEPT under
    // `graft.manifest.asyncCheckpoint`, where a checkpoint-due commit
    // also goes O(churn) and the checkpoint (plus the dir verification)
    // runs as post-commit maintenance instead: Delta's actual shape,
    // where every commit is a delta JSON and checkpoints trail
    // asynchronously behind `_last_checkpoint`. The delta chain
    // tolerates the lag by construction — reads fold the nearest
    // checkpoint (manifest-embedded or retro) plus deltas.
    val asyncCkpt =
      properties.get("graft.manifest.asyncCheckpoint").contains("true")
    if (churn.isDefined && filesExplicit.isEmpty &&
        (v % ckptEvery != 0 || asyncCkpt) &&
        operation != "BOOTSTRAP" && operation != "RECOVER" &&
        fs.exists(new Path(logDir, "_latest_files.txt")) &&
        !properties.get(symlinkAutoProp).contains("true")) {
      // a fresh process's first commit: the state cache is cold but the
      // handle HAS verified dir↔log at v-1 (ensureBootstrapped) — seed
      // the state from the log (checkpoint rows + churn) instead of
      // paying the listing path's second O(live) pass
      CommitLiveCache.get(qualifiedRoot, v - 1)
        .orElse(if (trustedDirVersion == v - 1) {
          val seeded = seedStateFromLog(v - 1)
          seeded.foreach(CommitLiveCache.put(qualifiedRoot, _))
          seeded
        } else None) match {
        case Some(st) =>
          val committed = commitFromState(v, st, operation, partitionCols0,
            txn, dvNew, churn.get)
          if (asyncCkpt && v % ckptEvery == 0) {
            // WRITER feature, recorded under the lease BEFORE the first
            // pointer can exist: a build unaware of `_checkpoints.d`
            // could otherwise remap/move this table — rewriting
            // manifests and sidecars but not the pointers — and leave
            // stale retro paths a retro-aware reader trusts as recon(v).
            // (The READER half is recorded only when cleanupLog anchors
            // on a pointer — reads tolerate pointer-unawareness until
            // then; writes don't.)
            if (!protocol._2.contains("checkpoint-retro"))
              ensureFeature("checkpoint-retro", reader = false)
            CheckpointMaintenance.schedule(this)
          }
          return committed
        case None => ()
      }
    }
    // filesExplicit: a shallow clone's founding commit records the SOURCE's
    // files — the live dir is empty by design and must not be listed.
    // Delta's exact trust model: a checkpoint-due commit with declared
    // churn + trusted parent state assembles its full file list from
    // state ± churn instead of listing — EVERY commit is then
    // listing-free and the dir is verified only at BOOTSTRAP/RECOVER,
    // fresh-handle checks, and (under asyncCheckpoint) the maintenance
    // verification. On an object store a 1e7-file recursive listing is
    // the checkpoint commit's long pole (10k+ LIST pages); the trade is
    // that out-of-band dir edits stay outside the log until a trust
    // boundary instead of being absorbed by the next checkpoint's
    // listing. Soaked by OccSpec (writers straddling a state-assembled
    // checkpoint) and CommitFastPathSpec.
    val stateFiles: Option[Seq[(String, Long)]] =
      if (churn.isEmpty || filesExplicit.isDefined ||
          operation == "BOOTSTRAP" || operation == "RECOVER")
        None
      else CommitLiveCache.get(qualifiedRoot, v - 1).map { st =>
        val (added0, removed0) = churn.get
        ((st.files -- removed0) ++
          added0.map { case (p, l) => p -> ((l, 0L)) })
          .iterator.map { case (p, (l, _)) => (p, l) }.toSeq
      }
    val files = filesExplicit.orElse(stateFiles)
      .getOrElse(listParquet(new Path(path))
        .map { case (p, len) => (fs.makeQualified(new Path(p)).toString, len) })
    // a caller that passes no partition columns on a commit that did not
    // relocate files (DV deletes, bloom indexing, ANALYZE) must not ERASE
    // the layout from the log — RESTORE, DESCRIBE DETAIL, compactWhere
    // and SHOW PARTITIONS all read it per-version. The dir structure is
    // the physical truth: infer `col=` segments from the first live file
    // when the param is empty (an overwrite TO unpartitioned writes files
    // at the root, so the inference correctly records Nil there).
    val partitionCols =
      // record PHYSICAL names whatever space the caller passed: the log
      // entry must match the `col=` dir segments across logical renames
      if (partitionCols0.nonEmpty) partitionCols0.map(physicalColName)
      else files.headOption.map { case (p, _) =>
        partitionSegments(p).map(_._1)
      }.getOrElse(Nil)
    val fileSet = files.map(_._1).toSet
    val dv = dvNew.getOrElse(dvMapForVersion(v - 1))
      .filter { case (p, _) => fileSet.contains(p) }
    val deletedRows = dv.values.map(_.length.toLong).sum
    // a live bitmap makes the table unreadable to builds that don't apply
    // DVs (they would resurrect deleted rows) — record the reader feature
    // in the SAME commit that first introduces one
    if (dv.exists(_._2.nonEmpty)) ensureFeature("deletion-vectors", reader = true)
    // DV snapshot BEFORE the manifest: a version must never be visible
    // without its deletion vectors (resurrected rows). A crash in between
    // orphans one snapshot file for a version that doesn't exist yet; the
    // next commit at this version overwrites or removes it.
    if (dv.nonEmpty) writeDvSnapshot(v, dv)
    else if (fs.exists(dvFile(v))) fs.delete(dvFile(v), false)
    val metas = fileMeta(files)
    val rowCount = metas.values.map(_.rows).sum - deletedRows
    // row tracking: files this commit introduced get their id bases (or
    // their materialized marker) BEFORE the manifest lands — a version
    // must never be visible without its bases. Crash in between: sidecar
    // entries for unreferenced files, harmless (paths are UUID-unique,
    // the replay assigns nothing new; burned HWM range = gaps, like
    // identity columns).
    if (rowTrackingEnabled) assignRowIds(files.map(_._1), metas)
    // previous live set for metrics + the delta entry — manifest-is-truth:
    // the cached parent state when this process holds it, else the log's
    // reconstruction (O(1) checkpoint + O(interval) deltas). The old
    // `_latest_files.txt` read would be STALE here: fast-path commits
    // ([[commitFromState]]) don't rewrite that sidecar.
    val prevSet: Set[String] =
      CommitLiveCache.get(qualifiedRoot, v - 1).map(_.files.keySet)
        .getOrElse(if (v - 1 >= 0) manifestFiles(v - 1).toSet
                   else Set.empty[String])
    val prevHist = readHistoryFile()
    val prevRowCount = prevHist.filter(_.version < v)
      .sortBy(_.version).lastOption.map(_.rowCount).getOrElse(0L)
    val addedPaths = files.collect { case (p, _) if !prevSet(p) => p }
    val removedPaths = prevSet.toSeq.filterNot(fileSet)
    val metrics = (addedPaths.size.toLong, removedPaths.size.toLong,
      rowCount - prevRowCount)
    val bytesAdded = files.collect { case (p, len) if !prevSet(p) => len }.sum
    val ts = ictTimestamp(prevHist)
    // Delta's log shape: most commits record only their ADD/REMOVE delta
    // vs the previous live set, with a periodic full-file-list checkpoint
    // manifest bounding reconstruction depth. Without this every commit
    // writes O(table files) — at ~800k files (100 TB at 128 MB/file) an
    // append would pay an ~80 MB metadata write for a 1-row change.
    // Checkpoints are forced where the delta base is untrustworthy or
    // nearly the whole table anyway: the founding commit, BOOTSTRAP /
    // RECOVER (the live dir diverged out-of-band, so recon(v) must equal
    // the observed state exactly), explicit file lists (clones), and a
    // missing consistency sidecar — and MATERIALIZE, whose remap rebased
    // the whole history onto local copies ([[remapFiles]]). A rewrite's
    // commit is an ordinary delta: its removes name the committed paths.
    val isCheckpoint = v % ckptEvery == 0 || filesExplicit.isDefined ||
      operation == "BOOTSTRAP" || operation == "RECOVER" ||
      operation == "MATERIALIZE" ||
      !fs.exists(new Path(logDir, "_latest_files.txt"))
    val fileEntry =
      if (isCheckpoint && checkpointFormatParquet) {
        // columnar checkpoint sidecar + pointer (see checkpointFormatParquet
        // scaladoc); the reader feature gate rides in the same commit
        // carry each file's sidecar metadata into the checkpoint rows
        // (Delta's add.stats): the distributed planner prunes from THIS
        // file alone, no sidecar fold on the driver
        val entries = files.map { case (fp, len) =>
          fp -> metas.get(fp).map(m =>
            (len, m.rows, MetadataPlane.statsCells(m.stats)))
        }
        val partSize = checkpointPartSize
        if (partSize > 0 && entries.size > partSize) {
          val names = writeCheckpointParquetParts(v, entries, partSize)
          ensureFeature("checkpoint-parquet", reader = true)
          ensureFeature("checkpoint-parquet-multipart", reader = true)
          s""""filesParquetParts":[${names.map(jstr).mkString(",")}]"""
        } else {
          writeCheckpointParquet(ckptParquetPath(v), entries)
          ensureFeature("checkpoint-parquet", reader = true)
          s""""filesParquet":${jstr(ckptParquetPath(v).getName)}"""
        }
      }
      else if (isCheckpoint) s""""files":[${files.map(f => jstr(f._1)).mkString(",")}]"""
      else
        s""""add":[${addedPaths.map(jstr).mkString(",")}],""" +
          s""""remove":[${removedPaths.sorted.map(jstr).mkString(",")}]"""
    writeManifestPutIfAbsent(v, manifestJson(v, ts, operation, partitionCols,
      files.size.toLong, files.map(_._2).sum, rowCount, deletedRows, txn,
      metrics, bytesAdded, fileEntry))
    // checkpoint the summary into the history file (Delta's _last_checkpoint
    // discipline): history()/readAsOf/detail/vacuum read ONE file, not
    // O(commits) manifests. Crash between the manifest write above and this
    // append self-heals: historyRows folds any missing version back in.
    appendHistory(CommitInfo(v, ts, operation, partitionCols,
      files.size, files.map(_._2).sum, rowCount, txn, Some(metrics),
      Some(bytesAdded)), prevHist)
    // consistency sidecar: what the live dir held at this commit.
    // Informational since the manifest-is-truth change (consistency checks
    // reconstruct from the log); refreshed only here, on listing-path
    // commits — fast-path commits skip its O(live files) rewrite.
    val side = fs.create(new Path(logDir, "_latest_files.txt"), true)
    try side.write(files.map(_._1).sorted.mkString("\n").getBytes("UTF-8"))
    finally side.close()
    // seed the manifest-is-truth cache from this ground-truth listing:
    // subsequent churn-declaring delta commits go O(churn). Never seeded
    // from an explicit foreign file list (a shallow clone's live dir is
    // empty by design — its state must not look committable-against).
    if (filesExplicit.isEmpty) {
      CommitLiveCache.put(qualifiedRoot, CommitLiveCache.State(v,
        files.map { case (p, len) => p -> (len, metas(p).rows) }.toMap,
        metas.values.map(_.rows).sum, files.map(_._2).sum))
      trustedDirVersion = v
      // only a commit that actually LISTED the dir resolves a drift
      // flag — a state-assembled checkpoint commit read no dir at all
      // (under drift the state is invalidated, so this commit always
      // listed; the guard is for the general case)
      if (stateFiles.isEmpty) CommitLiveCache.clearDrift(qualifiedRoot)
    }
    // opt-in exception to the no-data-pass commit: declared bloom indexes
    // read the NEW files once (cost tracks the write, not the table)
    refreshBloomIndexesFor(Some(files.map(_._1)))
    // auto-regenerated symlink manifests (Delta's
    // symlinkFormatManifest.enabled): external engines always see THIS
    // commit. A DV-carrying snapshot is unrepresentable (resurrected
    // rows) — drop the stale tree rather than publish a wrong one.
    if (properties.get(symlinkAutoProp).contains("true")) {
      // a founding commit that references FOREIGN files (a shallow clone)
      // has nothing to manifest under this root — and naively relDir-ing
      // an absolute foreign path would write manifest files into the
      // SOURCE table's data directories
      val foreign = files.exists(f => !f._1.startsWith(qualifiedRoot + "/"))
      if (dv.exists(_._2.nonEmpty) || foreign) {
        if (fs.exists(symlinkDir)) fs.delete(symlinkDir, true)
      } else writeSymlinkTree(files.map(_._1))
    }
    Committed(v, partitionCols, addedPaths, removedPaths)
  }

  // ---- single-writer lease --------------------------------------------

  private def lockFile = new Path(logDir, "_commit.lock")

  /** Fail-fast single-writer lease around every mutation funnel: a lease
    * file created atomically (create-if-absent — atomic on HDFS and object
    * stores with preconditions) at mutation start and removed after the
    * commit. A second concurrent writer gets an IMMEDIATE clear error
    * instead of interleaving `v%05d.json` / sidecar writes and corrupting
    * the log. Full optimistic concurrency (conflict detection + retry) is a
    * documented non-goal (SURVEY.md §7.4) — this is the table-stakes guard
    * for anything an operator schedules. A writer that died holding the
    * lease leaves it behind; the error names [[breakCommitLock]] for the
    * operator (the lease records holder pid + timestamp for the autopsy).
    */
  /** Reentrancy depth for THIS instance on THIS thread: funnels nest
    * (replaceWith → ensureBootstrapped → commit), and the inner frames
    * must not re-acquire — or deadlock on — the lease the outer frame
    * already holds. A second INSTANCE on the same path still conflicts
    * through the lease file, which is the point.
    */
  private val lockDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** How long this instance queues for a held commit lease before throwing,
    * in milliseconds. 0 (the default) is the fail-fast contract; a positive
    * wait turns concurrent writers into a bounded FIFO-ish queue (each
    * retries the atomic create until the holder releases) — the cheap way
    * to let a scheduler overlap two jobs on one table without either
    * corrupting the log or needing full OCC (still a SURVEY §7.4 non-goal).
    */
  @volatile private var leaseWaitMs: Long =
    sys.props.getOrElse("graft.commit.leaseWaitMs", "0").toLong

  /** Set the lease wait (fluent); see [[leaseWaitMs]]. */
  def withLeaseWait(ms: Long): this.type = { leaseWaitMs = ms; this }

  private def withCommitLock[T](f: => T): T = withCommitLockWait(leaseWaitMs)(f)

  /** [[withCommitLock]] with an explicit queue wait for THIS acquisition —
    * the optimistic-commit path holds the lease for milliseconds, so its
    * callers always queue briefly instead of failing fast, independent of
    * the instance-wide [[leaseWaitMs]] contract.
    */
  /** Atomically create the lease file, returning a stream to write holder
    * info into, or None when another writer holds it. `fs.create(p, false)`
    * is atomic create-if-absent on HDFS and object stores with
    * preconditions, but on the LOCAL filesystem ChecksumFileSystem expands
    * it to exists()-then-create — a TOCTOU window two racing writers both
    * pass (observed: interleaved renames, one manifest overwriting the
    * other). For `file:` paths go through NIO's O_CREAT|O_EXCL instead,
    * which the kernel makes atomic.
    */
  private def tryCreateLock(): Option[org.apache.hadoop.fs.FSDataOutputStream] = {
    val scheme = fs.getUri.getScheme
    if (scheme == null || scheme == "file") {
      val local = java.nio.file.Paths.get(lockFile.toUri.getPath)
      try {
        java.nio.file.Files.createFile(local) // atomic O_EXCL
        Some(fs.create(lockFile, true)) // we own it; open for holder info
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => None
        case _: java.io.IOException => None
      }
    } else {
      try Some(fs.create(lockFile, false))
      catch { case _: java.io.IOException => None }
    }
  }

  private def withCommitLockWait[T](waitMs: Long)(f: => T): T = {
    if (lockDepth.get > 0) return f
    fs.mkdirs(logDir)
    val deadline = System.nanoTime() + waitMs * 1000000L
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    while (out == null) {
      tryCreateLock() match {
        case Some(s) => out = s
        case None =>
        if (waitMs > 0 && System.nanoTime() < deadline) Thread.sleep(50)
        else {
          val held = try {
            val in = fs.open(lockFile)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: Exception => "unknown holder" }
          val waited = if (waitMs > 0) s" after waiting ${waitMs} ms" else ""
          throw new java.util.ConcurrentModificationException(
            s"another writer holds the commit lease on $path ($held)$waited; " +
              "whole-mutation writes serialize through the lease — retry " +
              "after it finishes, withLeaseWait(ms) to queue, use the " +
              "appendOptimistic/…VectoredOptimistic paths for concurrent " +
              "ingest, or breakCommitLock() if the holder is dead")
        }
      }
    }
    // once the lease file exists WE must delete it on every exit path —
    // including a failed holder-info write (an orphaned lease would block
    // all writers until a manual breakCommitLock)
    try {
      try out.write(
        s"${java.time.Instant.now()}\tpid=${ProcessHandle.current().pid()}"
          .getBytes("UTF-8"))
      finally out.close()
      lockDepth.set(1)
      requireWritable()
      f
    } finally {
      lockDepth.set(0)
      fs.delete(lockFile, false)
    }
  }

  /** Remove a lease left by a dead writer (verify the pid first). */
  def breakCommitLock(): Unit =
    if (fs.exists(lockFile)) fs.delete(lockFile, false)

  // ---- protocol / table features ---------------------------------------

  private def protocolFile = new Path(logDir, "_protocol.txt")

  /** Reader features THIS build understands — a table demanding one this
    * set lacks would be read WRONG, not just slower (e.g. ignoring
    * deletion vectors resurrects deleted rows), so reads fail fast
    * instead. Delta's protocol-versioning discipline (readerFeatures /
    * writerFeatures), with named features instead of opaque version ints.
    */
  val supportedReaderFeatures: Set[String] =
    Set("deletion-vectors", "shallow-clone", "row-tracking", "column-mapping",
      "checkpoint-parquet", "checkpoint-parquet-multipart", "checkpoint-retro")

  /** Writer features THIS build honors on mutation — a writer lacking one
    * could commit while silently breaking invariants other clients rely
    * on (skip CHECK constraints, duplicate identity values, leave bloom
    * indexes stale). Writers must also support every reader feature.
    */
  val supportedWriterFeatures: Set[String] =
    supportedReaderFeatures ++ Set("check-constraints", "generated-columns",
      "identity-columns", "bloom-index")

  /** (readerFeatures, writerFeatures) recorded on this table. */
  def protocol: (Set[String], Set[String]) = readProtocol()

  private def readProtocol(): (Set[String], Set[String]) =
    if (!fs.exists(protocolFile)) (Set.empty, Set.empty)
    else {
      val in = fs.open(protocolFile)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      def grab(k: String) = lines.collect {
        case l if l.startsWith(s"$k:") => dec(l.substring(k.length + 1))
      }.toSet
      (grab("reader"), grab("writer"))
    }

  // reads check the protocol once per table handle (Delta's
  // snapshot-scoped check); mutations re-read under the lease
  @volatile private var protocolCache: Option[(Set[String], Set[String])] = None

  private def requireReadable(): Unit = {
    val p = protocolCache match {
      case Some(v) => v
      case None =>
        val v = readProtocol(); protocolCache = Some(v); v
    }
    val unknown = p._1 -- supportedReaderFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"table $path requires reader features ${unknown.mkString(", ")} " +
        "this build does not support — reading would return wrong results; " +
        "upgrade the library (supported: " +
        s"${supportedReaderFeatures.mkString(", ")})")
  }

  /** Mutation-side gate — runs under the commit lease with a FRESH read
    * (another writer may have added a feature since this handle opened).
    */
  private def requireWritable(): Unit = {
    val p = readProtocol()
    protocolCache = Some(p)
    val unknown = (p._1 ++ p._2) -- supportedWriterFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"table $path requires writer features ${unknown.mkString(", ")} " +
        "this build does not support — committing could break invariants " +
        "other clients rely on; upgrade the library (supported: " +
        s"${supportedWriterFeatures.mkString(", ")})")
  }

  /** Record that this table uses `name` (idempotent; callers hold the
    * commit lease — every call site is inside a mutation funnel).
    */
  private def ensureFeature(name: String, reader: Boolean): Unit = {
    val (r, w) = readProtocol()
    writeProtocolSets(if (reader) r + name else r, w + name)
  }

  /** Delta's `ALTER TABLE … DROP FEATURE`: retire a protocol feature so
    * builds without it can use the table again — legal only once nothing
    * on disk still NEEDS it (the whole point of the gate is that dropping
    * it early would let an unaware build read wrong):
    *
    *  - `deletion-vectors`: no live bitmap may remain (`purgeDeletes()`
    *    first);
    *  - `row-tracking`: no live file may carry a materialized id column —
    *    disable tracking (`unsetProperties(Seq("graft.rowTracking"))`)
    *    and OPTIMIZE to rewrite them clean, then drop; the id sidecars
    *    are removed with the feature;
    *  - `shallow-clone`: `materialize()` already drops it — refused here
    *    while the clone is still unmaterialized.
    */
  def dropTableFeature(name: String): Unit = withCommitLock {
    val (r, w) = readProtocol()
    require(r.contains(name) || w.contains(name),
      s"feature $name is not set on $path")
    name match {
      case "deletion-vectors" =>
        require(currentDv.forall(_._2.isEmpty),
          s"cannot drop deletion-vectors on $path: live bitmaps remain — " +
            "purgeDeletes() (REORG … APPLY (PURGE)) first")
        // HISTORICAL versions need the gate too: a time-traveling reader
        // without DV support would resurrect their deleted rows (Delta
        // requires history truncation before this drop for the same
        // reason). Snapshots of already-expired versions are orphans and
        // delete with the feature.
        if (fs.exists(dvDir)) {
          val snaps = fs.listStatus(dvDir).map(_.getPath).flatMap { p =>
            val n = p.getName
            if (n.startsWith("v") && n.endsWith(".txt"))
              n.stripPrefix("v").stripSuffix(".txt").toLongOption.map(p -> _)
            else None
          }
          val travelable = snaps.collect { case (_, v)
            if fs.exists(new Path(logDir, f"v$v%05d.json")) => v }
          require(travelable.isEmpty,
            s"cannot drop deletion-vectors on $path: versions " +
              s"${travelable.sorted.mkString(", ")} still carry deletion " +
              "vectors within the time-travel window — cleanupLog(" +
              s"${travelable.max + 1}) first")
          snaps.foreach { case (p, _) => fs.delete(p, false) }
        }
      case "row-tracking" =>
        require(!rowTrackingEnabled,
          s"cannot drop row-tracking on $path while it is enabled — unset " +
            "the graft.rowTracking property first")
        val files = listParquet(new Path(path))
          .map { case (p, l) => (fs.makeQualified(new Path(p)).toString, l) }
        val mat = fileMeta(files).collect {
          case (f, m) if m.stats.contains(RowTracking.col) => f }
        require(mat.isEmpty,
          s"cannot drop row-tracking on $path: ${mat.size} file(s) still " +
            "carry the materialized id column — OPTIMIZE (with tracking " +
            "disabled) rewrites them clean")
        // Retained snapshot dirs (OPTIMIZE/CLUSTER/PURGE rewrites move
        // files there) may hold materialized files that manifests inside
        // the time-travel window still reference: a feature-less build
        // time-traveling would surface the id column as user data. Mirror
        // the deletion-vectors gate — refuse until vacuum/cleanupLog has
        // expired them. (Conservative over ALL retained dirs: a dir no
        // travelable version references is exactly what vacuumVersions
        // removes, so the remedy is the same either way.)
        // direct footer reads, NOT fileMeta: the gate runs under the
        // commit lock, where fileMeta would persist these foreign
        // (retained-snapshot) paths into the stats sidecar — and a
        // triggered compaction would fold the base down to ONLY them,
        // discarding the live files' cached stats
        val matRetained = {
          import scala.collection.parallel.CollectionConverters._
          val nc = statsColsNow
          retainedDirsOnDisk.flatMap(d => listParquet(new Path(d)))
            .par.collect { case (p, _)
              if footerMeta(new Path(p), nc).stats.contains(RowTracking.col) =>
                p }.seq
        }
        require(matRetained.isEmpty,
          s"cannot drop row-tracking on $path: ${matRetained.size} retained " +
            "snapshot file(s) still carry the materialized id column and " +
            "remain reachable by time travel — vacuumVersions/cleanupLog " +
            "past them first")
        if (fs.exists(rowIdsFile)) fs.delete(rowIdsFile, false)
        if (fs.exists(rowIdsSegDir)) fs.delete(rowIdsSegDir, true)
      case "shallow-clone" =>
        require(!isShallowClone,
          s"cannot drop shallow-clone on $path: materialize() first")
      case "checkpoint-parquet" =>
        val live = if (!fs.exists(logDir)) Nil
          else fs.listStatus(logDir).map(_.getPath.getName)
            .filter(_.endsWith(".checkpoint.parquet")).toSeq
        require(!checkpointFormatParquet && live.isEmpty,
          s"cannot drop checkpoint-parquet on $path: " +
            (if (checkpointFormatParquet)
              "graft.manifest.checkpointFormat is still parquet — unset it, "
            else "") +
            (if (live.nonEmpty) s"${live.size} parquet checkpoint(s) remain " +
              "in the log — commit a JSON checkpoint (e.g. OPTIMIZE) and " +
              "cleanupLog past them first" else ""))
      case "checkpoint-parquet-multipart" =>
        // both part-name forms: the commit path's deterministic
        // `vNNNNN.pKKK` AND retro maintenance's run-unique
        // `vNNNNN.rRRRRRRRR.pKKK` — a drop while EITHER remains would
        // hand an unaware reader a pointer it cannot resolve
        val partRx = """^v\d+(\.r[0-9a-f]+)?\.p\d+\.checkpoint\.parquet$""".r
        val liveParts = if (!fs.exists(logDir)) Nil
          else fs.listStatus(logDir).map(_.getPath.getName)
            .filter(n => partRx.matches(n)).toSeq
        require(checkpointPartSize == 0 && liveParts.isEmpty,
          s"cannot drop checkpoint-parquet-multipart on $path: " +
            (if (checkpointPartSize > 0)
              "graft.manifest.checkpointPartSize is still set — unset it, "
            else "") +
            (if (liveParts.nonEmpty) s"${liveParts.size} multi-part " +
              "checkpoint sidecar(s) remain in the log — commit a " +
              "single-file checkpoint (e.g. OPTIMIZE) and cleanupLog past " +
              "them first" else ""))
      case "column-mapping" =>
        // the mapping DATA is the gate, not the mode flag: even with the
        // mode off, live files still carry physical names a feature-less
        // build would misread (and dropped columns it would resurrect)
        require(!columnMappingEnabled && columnMappingPairs.isEmpty &&
            droppedPhysicalCols.isEmpty,
          s"cannot drop column-mapping on $path: the mapping is still in " +
            "use — run disableColumnMapping() (one locked rewrite to " +
            "logical names that clears the mapping), then retry")
      // the remaining writer features gate metadata a feature-less build
      // would silently violate — droppable only once that metadata is gone
      case "check-constraints" =>
        require(constraints.isEmpty,
          s"cannot drop check-constraints on $path: " +
            s"${constraints.keys.toSeq.sorted.mkString(", ")} still " +
            "declared — dropConstraint them first")
      case "generated-columns" =>
        require(generatedColumns.isEmpty,
          s"cannot drop generated-columns on $path: " +
            s"${generatedColumns.keys.toSeq.sorted.mkString(", ")} still " +
            "declared")
      case "identity-columns" =>
        require(identityColumns.isEmpty,
          s"cannot drop identity-columns on $path: " +
            s"${identityColumns.keys.toSeq.sorted.mkString(", ")} still " +
            "declared — a feature-less writer would duplicate the sequence")
      case "bloom-index" =>
        require(bloomIndexes.isEmpty,
          s"cannot drop bloom-index on $path: " +
            s"${bloomIndexes.keys.toSeq.sorted.mkString(", ")} still " +
            "declared — a feature-less writer would leave stale filters " +
            "that wrongly skip files")
      case _ => ()
    }
    dropFeature(name)
  }

  /** Retire a feature the table no longer uses (e.g. a materialized clone
    * needs no follow-the-source resolution).
    */
  private def dropFeature(name: String): Unit = {
    val (r, w) = readProtocol()
    writeProtocolSets(r - name, w - name)
  }

  private def writeProtocolSets(nr: Set[String], nw: Set[String]): Unit =
    if (protocolCache.isEmpty || protocolCache.get != ((nr, nw))) {
      if (readProtocol() != ((nr, nw))) {
        fs.mkdirs(logDir)
        writeAtomic(protocolFile,
          (nr.toSeq.sorted.map(f => s"reader:${enc(f)}") ++
            nw.toSeq.sorted.map(f => s"writer:${enc(f)}")).mkString("\n"))
      }
      protocolCache = Some((nr, nw))
    }

  // ---- commit-log checkpoint (history summaries) -----------------------

  /** One commit's summary — everything [[history]] serves, which is every
    * manifest field except the file list (that stays per-version for
    * [[readVersion]], which is O(1) files by construction).
    */
  private type CommitInfo = graft.table.CommitInfo
  private val CommitInfo = graft.table.CommitInfo

  private def historyFile = new Path(logDir, "_history.txt")

  private def histLine(c: CommitInfo): String =
    Seq(c.version.toString, enc(c.timestamp), enc(c.operation),
      c.partitionColumns.map(enc).mkString(","),
      c.numFiles.toString, c.sizeInBytes.toString, c.rowCount.toString,
      // 8th field since the idempotent-append feature: "-" = no txn
      // (enc never emits a bare "-": letters/digits pass through, the
      // rest is %-escaped)
      c.txn.map { case (a, v) => s"${enc(a)},$v" }.getOrElse("-"),
      // 9th field since operation metrics: "fa,fr,rd" or "-" = unknown
      c.metrics.map { case (fa, fr, rd) => s"$fa,$fr,$rd" }.getOrElse("-"),
      // 10th field since byte-based admission control: "-" = unknown
      c.bytesAdded.map(_.toString).getOrElse("-"))
      .mkString("\t")

  private def historySegDir = new Path(logDir, "_history.d")
  private def historySegments: Seq[Path] =
    if (!fs.exists(historySegDir)) Nil
    else fs.listStatus(historySegDir).map(_.getPath)
      .filter(_.getName.endsWith(".txt")).sortBy(_.getName).toSeq

  /** The history checkpoint = compacted base + per-commit segments (the
    * stats sidecar's log-structured shape, for the same reason): a commit
    * appends ONE small segment instead of rewriting the whole O(commits)
    * base, segments fold into the base every [[sidecarCompactAt]]
    * commits, and the base parse is served by the process-wide
    * [[HistoryCache]] — which stays VALID between compactions precisely
    * because appends no longer touch the base. Fold keyed by version
    * (segments override): a read-path self-heal may rewrite the base
    * while older segments still exist, and both sides derive from the
    * same manifests, so last-writer-wins is exact.
    */
  private def readHistoryFile(): Seq[CommitInfo] = {
    val base = parseHistoryPath(historyFile, cache = true)
    val segs = historySegments
    if (segs.isEmpty) base
    else {
      val m = scala.collection.mutable.LinkedHashMap[Long, CommitInfo]()
      base.foreach(c => m(c.version) = c)
      // segments are write-once: their parses cache under the same
      // (len, mtime) signature as the base — a hot writer's fold costs
      // zero re-reads for bytes that cannot change
      segs.foreach(p =>
        parseHistoryPath(p, cache = true).foreach(c => m(c.version) = c))
      m.values.toSeq.sortBy(_.version)
    }
  }

  private def parseHistoryPath(historyFile: Path,
                               cache: Boolean): Seq[CommitInfo] =
    if (!fs.exists(historyFile)) Nil
    else if (cache) {
      val st = fs.getFileStatus(historyFile)
      HistoryCache.get(historyFile.toString, st.getLen,
        st.getModificationTime).getOrElse {
        val rows = parseHistoryPath(historyFile, cache = false)
        HistoryCache.put(historyFile.toString, st.getLen,
          st.getModificationTime, rows)
        rows
      }
    } else {
      val in = fs.open(historyFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().flatMap { l =>
        def parseTxn(t: String): Option[(String, Long)] =
          if (t == "-") None
          else t.split(',') match {
            case Array(a, v) => Some((dec(a), v.toLong))
            case _ => None
          }
        def parseMetrics(m: String): Option[(Long, Long, Long)] =
          if (m == "-") None
          else m.split(',') match {
            case Array(fa, fr, rd) => Some((fa.toLong, fr.toLong, rd.toLong))
            case _ => None
          }
        scala.util.Try(l.split('\t') match {
          // 7-field form: checkpoints written before the txn field existed
          case Array(v, ts, op, pcs, nf, sz, rc) =>
            Some(CommitInfo(v.toLong, dec(ts), dec(op),
              if (pcs.isEmpty) Nil else pcs.split(',').toSeq.map(dec),
              nf.toLong, sz.toLong, rc.toLong))
          case Array(v, ts, op, pcs, nf, sz, rc, txn) =>
            Some(CommitInfo(v.toLong, dec(ts), dec(op),
              if (pcs.isEmpty) Nil else pcs.split(',').toSeq.map(dec),
              nf.toLong, sz.toLong, rc.toLong, parseTxn(txn)))
          case Array(v, ts, op, pcs, nf, sz, rc, txn, met) =>
            Some(CommitInfo(v.toLong, dec(ts), dec(op),
              if (pcs.isEmpty) Nil else pcs.split(',').toSeq.map(dec),
              nf.toLong, sz.toLong, rc.toLong, parseTxn(txn),
              parseMetrics(met)))
          case Array(v, ts, op, pcs, nf, sz, rc, txn, met, ba) =>
            Some(CommitInfo(v.toLong, dec(ts), dec(op),
              if (pcs.isEmpty) Nil else pcs.split(',').toSeq.map(dec),
              nf.toLong, sz.toLong, rc.toLong, parseTxn(txn),
              parseMetrics(met),
              if (ba == "-") None else ba.toLongOption))
          case _ => None
        }).toOption.flatten
      }.toSeq
      finally in.close()
    }

  /** Fold base + segments into one `_history.txt` NOW — the shape tests
    * that hand-edit recorded history need (they predate the segmented
    * checkpoint and edit a single file).
    */
  private[graft] def compactHistoryForTest(): Unit = {
    writeAtomic(historyFile,
      readHistoryFile().sortBy(_.version).map(histLine).mkString("\n"))
    fs.delete(historySegDir, true)
  }

  private def appendHistory(c: CommitInfo,
                            preRead: Seq[CommitInfo] = null): Unit = {
    val segs = historySegments
    if (segs.size + 1 >= sidecarCompactAt) {
      // compact: fold base + segments + this commit into one base file
      writeAtomic(historyFile,
        (Option(preRead).getOrElse(readHistoryFile())
          .filter(_.version < c.version) :+ c)
          .sortBy(_.version).map(histLine).mkString("\n"))
      fs.delete(historySegDir, true)
    } else {
      // O(1) append: one single-line segment
      writeAtomic(nextSegPath(historySegDir, segs), histLine(c))
    }
  }

  /** Manifest schema (explicit: inference over a manifest subset could
    * type an all-empty partitionColumns as array<null>).
    */
  private val manifestSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "version LONG, timestamp STRING, operation STRING, " +
      "partitionColumns ARRAY<STRING>, numFiles LONG, sizeInBytes LONG, " +
      "rowCount LONG, txn STRUCT<app: STRING, version: LONG>, " +
      "metrics STRUCT<filesAdded: LONG, filesRemoved: LONG, rowDelta: LONG, " +
      "bytesAdded: LONG>, " +
      "files ARRAY<STRING>")

  /** All commit summaries, oldest first, served from the checkpoint file.
    * Self-healing: versions the checkpoint is missing (a table from before
    * this feature, or a crash between manifest and checkpoint writes) are
    * folded in from their manifests — ONE batched read of just the missing
    * files — and persisted, so the steady state reads exactly one file.
    */
  private def historyRows: Seq[CommitInfo] = {
    val cur = version
    if (cur < 0) return Nil
    val cached = readHistoryFile()
    val have = cached.map(_.version).toSet
    val missing = (0L to cur).filterNot(have)
      .filter(v => fs.exists(new Path(logDir, f"v$v%05d.json")))
    if (missing.isEmpty) cached.sortBy(_.version)
    else {
      val folded = spark.read.schema(manifestSchema)
        .json(missing.map(v => new Path(logDir, f"v$v%05d.json").toString): _*)
        .collect().map { r =>
          CommitInfo(r.getAs[Long]("version"), r.getAs[String]("timestamp"),
            r.getAs[String]("operation"),
            // getAs materializes a MUTABLE ArraySeq; .toList converts to the
            // immutable Seq the case class field is typed as
            Option(r.getAs[scala.collection.Seq[String]]("partitionColumns"))
              .map(_.toList).getOrElse(Nil),
            r.getAs[Long]("numFiles"), r.getAs[Long]("sizeInBytes"),
            r.getAs[Long]("rowCount"),
            Option(r.getAs[Row]("txn")).map(t =>
              (t.getAs[String]("app"), t.getAs[Long]("version"))),
            Option(r.getAs[Row]("metrics")).map(m =>
              (m.getAs[Long]("filesAdded"), m.getAs[Long]("filesRemoved"),
                m.getAs[Long]("rowDelta"))),
            Option(r.getAs[Row]("metrics")).flatMap(m =>
              Option(m.getAs[java.lang.Long]("bytesAdded")).map(_.toLong)))
        }
      val all = (cached ++ folded).sortBy(_.version)
      writeAtomic(historyFile, all.map(histLine).mkString("\n"))
      all
    }
  }

  /** Rewrite the path column of every parquet checkpoint sidecar (single
    * AND multi-part — both share the `.checkpoint.parquet` suffix)
    * through `f`. Checkpoint rows hold paths OUTSIDE the JSON text (raw
    * strings), so [[remapFiles]] must rewrite them too, or a
    * materialized clone's reconstruction through a parquet checkpoint
    * would still name the source's files. Only [[materialize]] remaps;
    * rewrites leave every sidecar as written.
    */
  private def remapCheckpointSidecars(f: String => String): Unit =
    fs.listStatus(logDir).filter { st =>
      st.isFile && st.getPath.getName.endsWith(".checkpoint.parquet")
    }.foreach { st =>
      // two-pass STREAMING rewrite, O(1) driver memory at any row count
      // (a purge on a 1e7-file table must not funnel every checkpoint's
      // rows through the driver heap): pass 1 scans until the first row
      // the remap changes; only a hit pays pass 2, which streams rows
      // through the mapped write (tmp → swap; the still-open reader on
      // the swapped-away file is fine on POSIX semantics)
      val hit = {
        val r = openCheckpointReader(st.getPath)
        try {
          var g = r.read(); var found = false
          while (!found && g != null) {
            val p = g.getString("path", 0)
            if (f(p) != p) found = true else g = r.read()
          }
          found
        } finally r.close()
      }
      if (hit) {
        val r = openCheckpointReader(st.getPath)
        try writeCheckpointParquetIter(st.getPath,
          Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
            val (p, meta) = checkpointRow(g)
            (f(p), meta)
          })
        finally r.close()
      }
    }

  /** Rewrite the path key of every DV-snapshot line through `f` — the one
    * place that understands the sidecar line format; [[remapFiles]]'s DV
    * half, so a materialized clone's bitmaps follow its local copies.
    */
  private def rewriteDvSnapshots(f: String => String): Unit =
    if (fs.exists(dvDir)) fs.listStatus(dvDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".txt"))
      .foreach { st =>
        val txt = readTextFully(st.getPath)
        val updated = txt.split("\n", -1).map { line =>
          val tab = line.indexOf('\t')
          if (tab < 0) line
          else enc(f(dec(line.substring(0, tab)))) + line.substring(tab)
        }.mkString("\n")
        if (updated != txt) writeAtomic(st.getPath, updated)
      }

  /** The commit history, latest first (the reference's `history(n)`,
    * deltalake.ipynb:8760): version, timestamp, operation, partition
    * columns, file/row stats.
    */
  def history(n: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "version LONG, timestamp STRING, operation STRING, " +
        "partitionColumns ARRAY<STRING>, numFiles LONG, sizeInBytes LONG, " +
        "rowCount LONG, filesAdded LONG, filesRemoved LONG, rowDelta LONG, " +
        "bytesAdded LONG")
    // the log stores PHYSICAL partition names (they match the dirs);
    // DESCRIBE HISTORY is a user surface — translate like SHOW PARTITIONS
    val rows = historyRows.sortBy(-_.version).take(n).map(c =>
      Row(c.version, c.timestamp, c.operation, toLogicalCols(c.partitionColumns),
        c.numFiles, c.sizeInBytes, c.rowCount,
        c.metrics.map(_._1).orNull, c.metrics.map(_._2).orNull,
        c.metrics.map(_._3).orNull, c.bytesAdded.orNull))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Version-pinned read (time travel): reconstruct snapshot `v` from its
    * manifest. Files spanning the live dir and retained dirs are read per
    * root with the right `basePath` so partition columns resolve, then
    * unioned. Throws if the snapshot was vacuumed.
    */
  /** Time travel with V-ERA NAMING: when version `v`'s manifest records a
    * column-mapping state ([[namingRecord]]), the scan aliases physical
    * names through THAT mapping — a rename or metadata drop made after v
    * does not retitle (or hide) history (Delta's per-version `metaData`
    * resolution; the reference's history/time-travel surface,
    * deltalake.ipynb:8760). Manifests without a record — unmapped tables,
    * or versions committed before this build — fall back to the live
    * mapping (identity when unmapped), which is exactly the previous
    * behavior.
    */
  def readVersion(v: Long): DataFrame = {
    requireReadable()
    require(v >= 0 && v <= version, s"version $v out of range [0, $version]")
    val files = manifestFiles(v)
    eraNaming(v) match {
      case Some(n) =>
        scanNamingOverride = Some(n)
        try readFileSubset(v, files) finally scanNamingOverride = None
      case None => readFileSubset(v, files)
    }
  }

  /** [[readVersion]] under the LIVE naming (today's logical names,
    * whatever they were at v): the variant every internal consumer that
    * feeds a current-schema pipeline uses — [[restore]] (data rolls back,
    * names stay current), [[changes]] (the from/to key join must speak
    * one name), the shallow-clone [[read]], [[readCommitted]]. Row data
    * is identical to [[readVersion]]; only column titles differ.
    */
  private[table] def readVersionCurrentNames(v: Long): DataFrame = {
    requireReadable()
    require(v >= 0 && v <= version, s"version $v out of range [0, $version]")
    readFileSubset(v, manifestFiles(v))
  }

  /** The naming state recorded in version `v`'s manifest: (logical,
    * physical) pairs + dropped physical names, None when the manifest
    * predates the record (then the live mapping applies, as before).
    */
  private def eraNaming(v: Long)
      : Option[(Seq[(String, String)], Seq[String])] = {
    val txt = manifestText(v)
    jsonString(txt, "nameMapping").map { encPairs =>
      val pairs = encPairs.split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf(':')
        (dec(kv.substring(0, i)), dec(kv.substring(i + 1)))
      }
      val dropped = jsonString(txt, "nameDropped").toSeq
        .flatMap(_.split(",").toSeq.filter(_.nonEmpty).map(dec))
      (pairs, dropped)
    }
  }

  /** Set for the duration of ONE [[readVersion]] plan construction: the
    * (pairs, dropped) [[mapToLogical]] applies instead of the live
    * properties. An instance var like [[bypassPhysicalMapping]] — scans
    * are constructed eagerly inside the call, so the window is exact;
    * handles are not shared across threads mid-construction (the same
    * contract the bypass flag already relies on).
    */
  private var scanNamingOverride
      : Option[(Seq[(String, String)], Seq[String])] = None

  private def manifestText(v: Long): String = {
    val p = new Path(logDir, f"v$v%05d.json")
    if (!fs.exists(p)) throw new IllegalStateException(
      s"version $v of $path is below the log-cleanup horizon " +
        s"(manifest expired by cleanupLog) — time travel reaches only " +
        "versions whose manifests are retained")
    readTextFully(p)
  }

  /** Extract the string array under top-level `key` from one of OUR OWN
    * manifests (single-line JSON, [[jstr]]-escaped strings), driver-side —
    * no Spark job per metadata read. The `"key":[` match anchor cannot
    * occur inside a value: a raw `"` in a path is always written `\"`.
    */
  private def jsonStringArray(txt: String, key: String): Option[Seq[String]] = {
    val anchor = "\"" + key + "\":["
    val start = txt.indexOf(anchor)
    if (start < 0) return None
    var i = start + anchor.length
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (i < txt.length && txt.charAt(i) != ']') {
      if (txt.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (txt.charAt(i) != '"') {
          if (txt.charAt(i) == '\\') {
            txt.charAt(i + 1) match {
              case 'u' =>
                sb.append(Integer.parseInt(txt.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case c => sb.append(c); i += 2
            }
          } else { sb.append(txt.charAt(i)); i += 1 }
        }
        i += 1
        out += sb.toString
      } else i += 1
    }
    Some(out.toSeq)
  }

  // ---- parquet checkpoints (prototype behind a table property) ----------

  /** `graft.manifest.checkpointFormat = parquet` switches checkpoint
    * manifests from the inline JSON file list to a columnar sidecar
    * (`vNNNNN.checkpoint.parquet`, one `path` string column) — the 1e7-file
    * regime ManifestBench identified as the JSON ceiling (43 s / 2.6 GB
    * heap). Both sides stay DRIVER-side (parquet-hadoop example API, no
    * Spark job per metadata read — the objection README records against a
    * Spark-read checkpoint); the JSON manifest then carries a
    * `filesParquet` pointer instead of `files`. Gated by the
    * `checkpoint-parquet` READER feature: an unaware build would misread
    * a pointer manifest as an empty delta and silently reconstruct wrong
    * snapshots.
    */
  private def checkpointFormatParquet: Boolean =
    properties.get("graft.manifest.checkpointFormat")
      .exists(_.equalsIgnoreCase("parquet"))

  private def ckptParquetPath(v: Long) =
    new Path(logDir, f"v$v%05d.checkpoint.parquet")

  /** Entries per parquet-checkpoint part; 0 (default) keeps the single
    * sidecar. A positive value splits checkpoints larger than it into
    * `vNNNNN.pKKK.checkpoint.parquet` parts written in PARALLEL —
    * Delta's multi-part (v2) checkpoints: at 1e7+ entries one
    * driver-threaded parquet write is the commit's long pole, and the
    * distributed planner wants a multi-file scan anyway so each executor
    * reads its own part. Part files share the `.checkpoint.parquet`
    * suffix so the remap/retention/reap sweeps cover them unchanged.
    * Gated by the `checkpoint-parquet-multipart` READER feature: an
    * unaware build would misread the parts pointer as an empty delta.
    */
  private def checkpointPartSize: Int =
    properties.get("graft.manifest.checkpointPartSize")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(0)

  private def ckptPartPath(v: Long, i: Int) =
    new Path(logDir, f"v$v%05d.p$i%03d.checkpoint.parquet")

  /** RETRO-maintenance parts stage under RUN-unique names
    * (`vNNNNN.rRRRRRRRR.pKKK.checkpoint.parquet`): maintenance is
    * lease-free, so two runs — or two VENUES, whose row→part assignment
    * differs (the driver stream splits the sorted row stream sequentially
    * by partSize; the Spark job hash-partitions by path) — can assemble
    * the same version concurrently. Renaming onto shared final names let
    * a cross-venue race leave a MIXED-layout part set under an
    * already-published pointer (rows duplicated/missing at read, and row
    * counts are only verified pre-publish). With run-unique names the
    * pointer — its own atomic publish, naming exactly the parts its run
    * staged — is the only switch; a losing run's parts are unreferenced
    * debris. The `vNNNNN` prefix is load-bearing: it keeps every
    * version-keyed sweep (cleanupLog's below-horizon listing, remap,
    * drop-feature) covering these files unchanged. The commit-path
    * writer ([[writeCheckpointParquetParts]]) keeps deterministic names:
    * it runs under the commit lease, where no concurrent writer exists.
    */
  private def retroPartPath(v: Long, runId: String, i: Int) =
    new Path(logDir, f"v$v%05d.r$runId.p$i%03d.checkpoint.parquet")

  private def newRetroRunId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Write one checkpoint as `ceil(n/partSize)` parts concurrently;
    * returns the part file names in row order. Each part is its own
    * atomic tmp→rename publish: a crash leaves tmps (reaped under the
    * commit lock) or unreferenced parts (invisible to readers until the
    * pointer manifest lands, then swept by retention).
    */
  private[table] def writeCheckpointParquetParts(v: Long,
      files: Seq[(String, Option[(Long, Long, String)])],
      partSize: Int): Seq[String] = {
    val parts = files.grouped(partSize).toSeq
    val names = parts.indices.map(i => ckptPartPath(v, i))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parts.size, 8))
    try {
      val futs = parts.zip(names).map { case (chunk, p) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = writeCheckpointParquet(p, chunk)
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    names.map(_.getName)
  }

  // v2 checkpoint row: path + (when the commit knew it) the file's
  // sidecar metadata — Delta's add.stats shape. The metadata columns are
  // OPTIONAL so v1 path-only checkpoints keep reading; a row without them
  // is conservatively unprunable in the distributed planner.
  private val ckptSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message graft_ckpt { required binary path (STRING); " +
      "optional int64 len; optional int64 rows; " +
      "optional binary stats (STRING); }")

  private[table] def writeCheckpointParquet(p: Path,
      files: Seq[(String, Option[(Long, Long, String)])]): Unit =
    writeCheckpointParquetIter(p, files.iterator)

  /** Iterator form of the checkpoint write — the streaming remap rewrites
    * arbitrarily large sidecars through it with O(1) driver memory.
    */
  private[table] def writeCheckpointParquetIter(p: Path,
      files: Iterator[(String, Option[(Long, Long, String)])]): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(ckptSchema, conf)
    // writeAtomic discipline (write tmp, then swap): an in-place
    // delete+stream would expose a crash window as long as the WRITE
    // itself, during which the pointer manifest references a missing
    // sidecar. The swap narrows that to the same delete→rename instant
    // writeAtomic accepts everywhere else in the log (new checkpoints
    // rename onto nothing and are fully atomic; only the remap path's
    // in-place rewrite ever takes the delete branch). A failed rename
    // deletes its tmp — no orphan accretes in the log dir.
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, p.getName + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(tmp)
      .withConf(conf).withType(ckptSchema)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val f = new org.apache.parquet.example.data.simple.SimpleGroupFactory(ckptSchema)
    try files.foreach { case (s, meta) =>
      val g = f.newGroup().append("path", s)
      meta.foreach { case (len, rows, stats) =>
        g.append("len", len).append("rows", rows)
        if (stats.nonEmpty) g.append("stats", stats)
      }
      w.write(g)
    }
    finally w.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      // racing writers of the SAME checkpoint (e.g. two maintenance runs)
      // stage byte-identical content — content is deterministic in
      // (version, state) — so losing the delete→rename window to a racer
      // that already published is success, not failure
      if (!fs.exists(p))
        throw new java.io.IOException(s"failed to publish checkpoint $p")
    }
  }

  private[table] def readCheckpointParquet(p: Path): Seq[String] =
    readCheckpointParquetFull(p).map(_._1)

  private def openCheckpointReader(p: Path) = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(conf).build()
  }

  /** One checkpoint row decoded; a v1 path-only row reads None metadata. */
  private def checkpointRow(g: org.apache.parquet.example.data.Group)
      : (String, Option[(Long, Long, String)]) = {
    def has(n: String): Boolean =
      g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
    val meta =
      if (has("len") && has("rows"))
        Some((g.getLong("len", 0), g.getLong("rows", 0),
          if (has("stats")) g.getString("stats", 0) else ""))
      else None
    (g.getString("path", 0), meta)
  }

  /** Full checkpoint rows including the optional metadata columns; a v1
    * path-only file reads with None metadata.
    */
  private[table] def readCheckpointParquetFull(
      p: Path): Seq[(String, Option[(Long, Long, String)])] = {
    val r = openCheckpointReader(p)
    val out = scala.collection.mutable.ArrayBuffer[(String, Option[(Long, Long, String)])]()
    try {
      var g = r.read()
      while (g != null) {
        out += checkpointRow(g)
        g = r.read()
      }
    } finally r.close()
    out.toSeq
  }

  // ---- retro (async) checkpoints ---------------------------------------
  //
  // `graft.manifest.asyncCheckpoint = true` moves the checkpoint OFF the
  // commit path: a checkpoint-due commit writes its ordinary O(churn)
  // delta manifest and post-commit maintenance later publishes a RETRO
  // checkpoint — a pointer under `_checkpoints.d/vNNNNN.json` carrying
  // exactly the keys a checkpoint manifest would (`files` /
  // `filesParquet` / `filesParquetParts`), with the parquet sidecars
  // under version-prefixed `vNNNNN[.rRRRRRRRR][.pKKK].checkpoint.parquet`
  // names (multi-part retro sidecars carry a run-unique `rRRRRRRRR`
  // segment — see [[retroPartPath]]) so every existing
  // remap/retention/reap sweep covers them unchanged. Delta's
  // design (async checkpoints trailing `_last_checkpoint`): the log
  // tolerates a lagging checkpoint by construction — reconstruction
  // walks back to the NEAREST base, retro or manifest-embedded — so a
  // crash before maintenance lands costs nothing but a longer walk, and
  // the next maintenance run (any process) publishes it.
  //
  // Retro checkpoints are a pure CACHE of recon(v): builds that predate
  // them reconstruct identically from the manifest chain. The one place
  // that changes is [[cleanupLog]]: once a horizon ANCHORS on a retro
  // checkpoint (deleting the manifests below it), an unaware build could
  // no longer reconstruct — so that path, and only that path, records
  // the `checkpoint-retro` reader feature.

  private def retroDir = new Path(logDir, "_checkpoints.d")
  private[table] def retroPtrPath(v: Long) = new Path(retroDir, f"v$v%05d.json")

  /** Hardened copy of an ANCHOR-load-bearing retro pointer, written by
    * [[cleanupLog]] under the commit lock BEFORE it deletes the manifests
    * below its horizon, and never touched by the lease-free retraction in
    * [[publishRetroPointer]]. This removes the one crash window the
    * retract-then-verify protocol cannot close on its own: a maintenance
    * process killed between its pointer delete and its restore, while a
    * cleanup had already anchored on that pointer — reconstruction then
    * falls through to this copy instead of walking into deleted manifests.
    */
  private def retroAnchorPath(v: Long) =
    new Path(retroDir, f"v$v%05d.anchor.json")

  /** Re-verify marker: written by [[publishRetroPointer]] when its
    * bounded outcome-wait expires with the mutation STILL holding the
    * lease — the "kept" verdict is then provisional (the slow mutation
    * may yet commit a remap whose sweep listed before our publish), and
    * without a marker the `already` probe would treat the pointer as
    * settled forever (advice r13). The next maintenance run renders the
    * real verdict via [[resolveRetroReverify]] once the lease is free.
    */
  private def retroReverifyPath(v: Long) =
    new Path(retroDir, f"v$v%05d.reverify")

  /** Every retro pointer's FileStatus — [[remapFiles]] folds these in
    * with the manifest listing so a materialized clone keeps
    * reconstructing.
    */
  private def retroPointerStatuses: Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(retroDir)) Nil
    else fs.listStatus(retroDir).toSeq

  /** The retro pointer text for version `v` — the pointer itself, or the
    * hardened anchor copy ([[retroAnchorPath]]) when the pointer is gone
    * (retraction flicker, or the retract-crash the copy exists for);
    * None when neither is present/readable.
    */
  private def retroText(v: Long): Option[String] = {
    val p = retroPtrPath(v)
    (if (!fs.exists(p)) None
     else scala.util.Try(readTextFully(p)).toOption)
      .orElse {
        val a = retroAnchorPath(v)
        if (!fs.exists(a)) None
        else scala.util.Try(readTextFully(a)).toOption
      }
  }

  /** Version `v`'s file list from its retro checkpoint, when one exists
    * AND resolves (a dangling pointer — sidecar reaped or torn — reads
    * as absent: the walk then uses the manifest chain, which is always
    * sufficient).
    */
  private def retroFiles(v: Long): Option[Seq[String]] =
    retroText(v).flatMap(rt =>
      scala.util.Try(checkpointFilesOf(rt)).toOption.flatten)

  /** Streaming row iterator over checkpoint sidecars — the incremental
    * retro assembly reads the PREVIOUS checkpoint through this with O(1)
    * driver memory per row (1e7 rows must never materialize as a Seq on
    * the maintenance thread). Each file's reader closes when exhausted;
    * an abandoned iterator leaks one open reader until GC, which only
    * the count-mismatch fallback path can produce (and it drains first).
    */
  private def checkpointRowIter(
      ps: Seq[Path]): Iterator[(String, Option[(Long, Long, String)])] =
    ps.iterator.flatMap { p =>
      new Iterator[(String, Option[(Long, Long, String)])] {
        private val r = openCheckpointReader(p)
        private var nextG = r.read()
        private var closed = false
        private def closeOnce(): Unit =
          if (!closed) { closed = true; r.close() }
        override def hasNext: Boolean = {
          if (nextG == null) closeOnce()
          nextG != null
        }
        override def next(): (String, Option[(Long, Long, String)]) = {
          val g = nextG
          nextG = r.read()
          if (nextG == null) closeOnce()
          checkpointRow(g)
        }
      }
    }

  /** Nearest version ≤ `from` whose checkpoint exists as PARQUET sidecars
    * (retro or manifest-embedded) that are all present on disk — the
    * incremental assembly's base. Walks manifests like [[manifestFiles]]
    * but reads no sidecar content.
    */
  private def nearestParquetCheckpoint(from: Long): Option[(Long, Seq[Path])] = {
    var i = from
    while (i >= 0) {
      val names = retroText(i).flatMap(checkpointSidecarsOf)
        .orElse(scala.util.Try(checkpointSidecarsOf(manifestText(i))).toOption.flatten)
      names match {
        case Some(ns) =>
          val ps = ns.map(n => new Path(logDir, n))
          if (ps.forall(fs.exists)) return Some((i, ps))
        case None => ()
      }
      // an inline-JSON checkpoint manifest ends the walk too — there is
      // no parquet base at or below it worth folding MORE deltas over
      if (scala.util.Try(jsonStringArray(manifestText(i), "files").isDefined)
          .getOrElse(false)) return None
      i -= 1
    }
    None
  }

  /** Assemble version `v`'s full checkpoint rows INCREMENTALLY: the
    * nearest parquet checkpoint's rows stream through live-filtered
    * (path still in `st`, length unchanged, not delta-touched since) and
    * the files added since serve from the per-commit sidecar segments
    * (recovering post-compaction adds by stream-filtering the base) —
    * O(churn) driver memory on top of the state map the caller already
    * holds, never a sidecar-base parse. This is Delta's incremental
    * checkpointing shape: new checkpoint = old checkpoint ± churn.
    *
    * Returns None when no parquet base exists (first checkpoint, or
    * inline-JSON format) — the caller then streams the sidecar instead.
    * The iterator's row count must be verified against `st.files.size`
    * by the consumer (a concurrent compaction can race the stream); the
    * write path does exactly that and falls back on mismatch.
    */
  private def incrementalCheckpointRows(v: Long, st: CommitLiveCache.State)
      : Option[Iterator[(String, Option[(Long, Long, String)])]] = {
    val (parts, addsLive, excluded) = retroBaseAndChurn(v, st)
      .getOrElse(return None)
    val addRows = retroAddRows(st, addsLive)
    val baseRows = checkpointRowIter(parts).filter { case (p, meta) =>
      !excluded.contains(p) && (meta match {
        case Some((len, _, _)) => st.files.get(p).exists(_._1 == len)
        case None => st.files.contains(p) // v1 path-only row: keep if live
      })
    }
    Some(baseRows ++ addRows)
  }

  /** The incremental retro assembly's shared front half: the nearest
    * parquet base's parts plus the net churn in (base, v] — live adds to
    * serve from current sidecar metadata and the full delta-touched path
    * set to EXCLUDE from the base (same discipline as distributedBase —
    * a re-added path must serve from its current sidecar metadata, not
    * stale checkpoint rows). None when no parquet base exists (first
    * checkpoint, or inline-JSON format) or the chain shape breaks the
    * caller's fast-path-delta contract.
    */
  private def retroBaseAndChurn(v: Long, st: CommitLiveCache.State)
      : Option[(Seq[Path], Seq[String], Set[String])] = {
    val (pv, parts) = nearestParquetCheckpoint(v - 1).getOrElse(return None)
    val touched = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    var i = pv + 1
    while (i <= v) {
      val txt = manifestText(i)
      // no i in (pv, v] can be a checkpoint manifest: a parquet one would
      // have been the nearest base and an inline one aborts the base walk
      // (and v itself is a fast-path delta by the caller's contract) —
      // bail to the sidecar stream rather than fold wrong if that
      // invariant is ever broken
      if (jsonStringArray(txt, "files").isDefined ||
          checkpointSidecarsOf(txt).isDefined) return None
      jsonStringArray(txt, "add").getOrElse(Nil).foreach(touched(_) = true)
      jsonStringArray(txt, "remove").getOrElse(Nil).foreach(touched(_) = false)
      i += 1
    }
    val addsLive = touched.collect {
      case (p, true) if st.files.contains(p) => p }.toSeq
    Some((parts, addsLive, touched.keySet.toSet))
  }

  /** Checkpoint rows for the files added since the base — stats from the
    * per-commit sidecar segments (footer re-read on a raced length), an
    * O(churn) iterator.
    */
  private def retroAddRows(st: CommitLiveCache.State, addsLive: Seq[String])
      : Iterator[(String, Option[(Long, Long, String)])] = {
    val addMeta = addsMeta(addsLive) // segments + base-filtered recovery
    val nc = statsColsNow
    addsLive.iterator.map { p =>
      val (len, _) = st.files(p)
      val m = addMeta.get(p).collect { case (l, fm) if l == len => fm }
        .getOrElse(footerMeta(new Path(p), nc))
      (p, Some((len, m.rows, MetadataPlane.statsCells(m.stats))))
    }
  }

  /** Checkpoint rows for `v` streamed from the stats sidecar (base +
    * segments) when no parquet base exists: segments fold small (recent
    * churn), the base streams line-by-line — O(segments + 1 row) driver
    * memory beyond the state map. Every live file has an entry by
    * construction; the consumer count-verifies like the incremental path.
    */
  private def sidecarCheckpointRows(st: CommitLiveCache.State)
      : Iterator[(String, Option[(Long, Long, String)])] = {
    val segMap = sidecarSegments
      .foldLeft(Map.empty[String, (Long, FileMeta)])(
        (m, s) => m ++ readSidecarFile(s))
    def row(p: String, len: Long, m: FileMeta) =
      (p, Some((len, m.rows, MetadataPlane.statsCells(m.stats))))
    val baseIter: Iterator[(String, Option[(Long, Long, String)])] =
      if (!fs.exists(sidecarBase)) Iterator.empty
      else {
        val in = fs.open(sidecarBase)
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        new Iterator[(String, Option[(Long, Long, String)])] {
          private var nextRow: (String, Option[(Long, Long, String)]) = advance()
          @annotation.tailrec private def advance()
              : (String, Option[(Long, Long, String)]) = {
            if (!lines.hasNext) { closeOnce(); null }
            else MetadataPlane.parseLine(lines.next()) match {
              case Some(e) if !segMap.contains(e.path) &&
                  st.files.get(e.path).exists(_._1 == e.len) =>
                row(e.path, e.len, FileMeta(e.rows, e.stats))
              case _ => advance()
            }
          }
          override def hasNext: Boolean = nextRow != null
          override def next(): (String, Option[(Long, Long, String)]) = {
            val r = nextRow; nextRow = advance(); r
          }
        }
      }
    val segIter = segMap.iterator.collect {
      case (p, (len, m)) if st.files.get(p).exists(_._1 == len) =>
        row(p, len, m)
    }
    baseIter ++ segIter
  }

  /** Write `rows` as version `v`'s checkpoint sidecars in the table's
    * configured format, streaming (sequential parts of `partSize`, each
    * an atomic publish); returns (the pointer's file-entry JSON, rows
    * written). Inline-JSON format callers never get here — they build
    * the entry from the state directly.
    */
  private def writeRetroSidecars(v: Long,
      rows: Iterator[(String, Option[(Long, Long, String)])]): (String, Long) = {
    val partSize = checkpointPartSize
    if (partSize > 0) {
      // run-unique part names (see [[retroPartPath]]): a racing run or the
      // other venue stages disjoint files; only the pointer publish decides
      val runId = newRetroRunId()
      val names = scala.collection.mutable.ArrayBuffer[String]()
      var total = 0L
      val grouped = rows.grouped(partSize)
      while (grouped.hasNext) {
        val chunk = grouped.next()
        val p = retroPartPath(v, runId, names.size)
        writeCheckpointParquet(p, chunk)
        names += p.getName
        total += chunk.size
      }
      if (names.isEmpty) { // empty table still needs a valid pointer
        val p = retroPartPath(v, runId, 0)
        writeCheckpointParquet(p, Nil)
        names += p.getName
      }
      (s""""filesParquetParts":[${names.map(jstr).mkString(",")}]""", total)
    } else {
      var total = 0L
      val counted = rows.map { r => total += 1; r }
      writeCheckpointParquetIter(ckptParquetPath(v), counted)
      (s""""filesParquet":${jstr(ckptParquetPath(v).getName)}""", total)
    }
  }

  /** Assemble and stage version `v`'s checkpoint as a SPARK JOB — Delta's
    * actual checkpoint discipline (the checkpoint is written by a job
    * over the state DataFrame, never a driver loop): the previous parquet
    * checkpoint's parts scan on executors, the delta-touched path set
    * broadcasts (O(churn)), the O(churn) add rows union in from the
    * driver, and the result hash-repartitions on `path` into
    * `ceil(live/partSize)` parts. Content is DETERMINISTIC in
    * (version, state) — fixed partition count, hash-by-path assignment,
    * sort-within-partition — so racing maintenance runs (which hold the
    * same state for the same version) stage byte-identical parts and the
    * delete+rename publish stays safe, exactly the driver path's
    * contract. Rows are count-verified against the state BEFORE any part
    * publishes (footer record counts, O(parts) driver reads); a mismatch
    * (raced compaction, base reaped mid-job) abandons the staging dir and
    * the caller falls back to the always-correct driver stream. At 1e7
    * live files this moves the ~30 s single-threaded assembly onto the
    * cluster; the driver holds only churn + part names.
    *
    * None (fall back) when: single-sidecar format (partSize == 0 — the
    * ≤1e6 regime where the driver stream wins), no parquet base, count
    * mismatch, or any job failure (e.g. a concurrent vacuum reaping the
    * staging dir — self-healing: the next maintenance run retries).
    */
  private def retroSidecarsDistributed(v: Long, st: CommitLiveCache.State)
      : Option[(String, Long)] = {
    val partSize = checkpointPartSize
    if (partSize <= 0 || st.files.isEmpty) return None
    val (parts, addsLive, excluded) = retroBaseAndChurn(v, st)
      .getOrElse(return None)
    val addRows = retroAddRows(st, addsLive).map { case (p, meta) =>
      (p, meta.map(_._1), meta.map(_._2),
        meta.map(_._3).filter(_.nonEmpty))
    }.toSeq
    val k = math.max(1L, (st.files.size + partSize - 1L) / partSize).toInt
    import spark.implicits._
    val exB = spark.sparkContext.broadcast(excluded)
    // table-sibling staging dir (the staged-write convention): a crashed
    // run's debris is a `<table>.tmp-*` dir, reaped by vacuum()
    val tmpOut = new Path(path + ".tmp-retro-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      val raw = spark.read.parquet(parts.map(_.toString): _*)
      val cs = raw.columns.toSet
      def optCol(n: String, t: String) =
        if (cs(n)) col(n).cast(t) else lit(null).cast(t)
      // base rows pass through untouched unless delta-touched; liveness
      // beyond the exclusion set (the driver stream's per-row state
      // lookup) is enforced by the count verification below — the state
      // IS the log's reconstruction, so base − touched + adds either
      // matches it exactly or a race happened and we fall back
      val base = raw.select(col("path").cast("string").as("path"),
          optCol("len", "long").as("len"), optCol("rows", "long").as("rows"),
          optCol("stats", "string").as("stats"))
        .as[(String, Option[Long], Option[Long], Option[String])]
        .filter(r => !exB.value.contains(r._1))
      base.union(addRows.toDS())
        .toDF("path", "len", "rows", "stats")
        .repartition(k, col("path")).sortWithinPartitions("path")
        .write.option("compression", "snappy").parquet(tmpOut.toString)
      val staged = fs.listStatus(tmpOut).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      val total = staged.map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try r.getRecordCount finally r.close()
      }.sum
      if (total != st.files.size) {
        logWarning(s"distributed checkpoint maintenance on $path: job " +
          s"produced $total rows for ${st.files.size} live files — " +
          "abandoned (raced); falling back to the driver stream")
        return None
      }
      // run-unique part names (see [[retroPartPath]]): nothing to adopt or
      // overwrite — a racing run (either venue) stages disjoint files, so
      // no reader of an already-published pointer can ever observe a
      // mixed-layout part set. A rename failure here is a real error, not
      // a lost race.
      val runId = newRetroRunId()
      val names = staged.zipWithIndex.map { case (src, i) =>
        val dst = retroPartPath(v, runId, i)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"failed to stage $dst")
        dst.getName
      }
      Some((s""""filesParquetParts":[${names.map(jstr).mkString(",")}]""",
        total))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"distributed checkpoint maintenance on $path failed " +
          s"(${e.getMessage}) — falling back to the driver stream")
        None
    } finally {
      exB.destroy()
      if (fs.exists(tmpOut)) fs.delete(tmpOut, true)
    }
  }

  /** Publish the retro checkpoint for the latest version whose state this
    * process holds, then (opportunistically, lease permitting) verify the
    * live dir against it — the post-commit maintenance behind
    * `graft.manifest.asyncCheckpoint`, normally run on the
    * [[CheckpointMaintenance]] thread but callable directly (tests, an
    * operator's catch-up after a crash). Idempotent and safe to race:
    * sidecar writes are atomic per part with content deterministic in
    * (version, state), and the pointer publishes under a short lease
    * window that re-checks the version — a remap/commit that lands first
    * simply voids this attempt (the next maintenance re-runs).
    */
  /** Which venue the last maintenance run on THIS handle assembled its
    * retro checkpoint through — a test seam ("distributed" | "driver" |
    * "inline" | "" when skipped); specs pin the venue because both
    * produce identical artifacts by design.
    *
    * Seam audit: WRITE-ONLY in production code — nothing under src/main
    * reads this field (grep-verified), so it cannot steer behavior; its
    * only readers are specs. The same holds for
    * [[lastFunnelOverReport]] (read once, for a warn log). The one
    * behavior-affecting test hook in this layer is
    * [[CheckpointMaintenance.suspended]], whose only production access
    * is the read in `schedule` — no src/main code ever WRITES it, so in
    * production it is constant-false.
    */
  @volatile private[table] var lastRetroVenue: String = ""

  private[table] def runCheckpointMaintenance(): Unit = {
    val st = CommitLiveCache.getAny(qualifiedRoot).getOrElse {
      logInfo(s"checkpoint maintenance on $path: no cached state (evicted " +
        "or never seeded) — skipping; the next listing-path commit checkpoints")
      return
    }
    val v = st.version
    // deferred verdicts first: a pointer kept provisionally under a
    // still-held lease must be re-adjudicated BEFORE the `already` probe
    // can settle it (advice r13)
    scala.util.Try(resolveRetroReverify(v))
    // "already checkpointed" counts a sidecar-format manifest only when
    // its sidecars actually EXIST — a dangling checkpoint (remap-crash
    // debris) must not suppress the publish: the retro pointer this run
    // lands is then the artifact that REPAIRS reconstruction at v
    val already = fs.exists(retroPtrPath(v)) ||
      scala.util.Try { val txt = manifestText(v)
        jsonStringArray(txt, "files").isDefined ||
          checkpointSidecarsOf(txt).exists(ns =>
            ns.forall(n => fs.exists(new Path(logDir, n)))) }.getOrElse(false)
    if (!already) {
      if (checkpointFormatParquet) {
        // above the planning cutover the assembly runs as a Spark job
        // (Delta's checkpoint-from-state-DataFrame); the driver stream
        // serves the small regime and every fallback
        val distributed =
          if (useDistributedPlanning) retroSidecarsDistributed(v, st)
          else None
        distributed match {
          case Some((entry, _)) =>
            lastRetroVenue = "distributed"
            publishRetroPointer(v, entry)
            maybeVerifyDirInMaintenance()
            return
          case None => ()
        }
        lastRetroVenue = "driver"
        val rows = incrementalCheckpointRows(v, st)
          .getOrElse(sidecarCheckpointRows(st))
        val (entry, n) = writeRetroSidecars(v, rows)
        val finalEntry =
          if (n == st.files.size) entry
          else {
            // a concurrent compaction/cleanup raced the stream: rebuild
            // from the always-correct materialized fold (rare, bounded)
            logWarning(s"checkpoint maintenance on $path: streamed $n rows " +
              s"for ${st.files.size} live files — rebuilding from fileMeta")
            val files = st.files.toSeq.map { case (p, (len, _)) => (p, len) }
            val metas = fileMeta(files)
            writeRetroSidecars(v, files.iterator.map { case (p, len) =>
              (p, Some((len, metas(p).rows,
                MetadataPlane.statsCells(metas(p).stats))))
            })._1
          }
        publishRetroPointer(v, finalEntry)
      } else {
        // inline-JSON checkpoint format: the pointer carries the file
        // list itself (the ≤1e6-file regime; no sidecar to stream)
        lastRetroVenue = "inline"
        publishRetroPointer(v,
          s""""files":[${st.files.keys.toSeq.sorted.map(jstr).mkString(",")}]""")
      }
    }
    maybeVerifyDirInMaintenance()
  }

  /** `graft.manifest.verifyDirInMaintenance = false` opts out of the
    * dir listing entirely — Delta's pure trust model (log is truth,
    * out-of-band edits surface only at a fresh handle's consistency
    * check), the right trade on object stores where a 1e7-file
    * recursive listing is 10k+ LIST pages per maintenance run.
    */
  private def maybeVerifyDirInMaintenance(): Unit =
    if (!properties.get("graft.manifest.verifyDirInMaintenance")
        .contains("false"))
      verifyDirOpportunistic()

  /** Publish the retro pointer WITHOUT ever touching the commit lease —
    * maintenance must never make a fail-fast foreground writer error out
    * just because a background pointer rename was in flight. Safety
    * against the one mutation that could invalidate the pointer's content
    * ([[materialize]]'s remap, which rewrites historical checkpoint paths
    * and always commits a version — the only history rewrite left, so
    * the protocol stays for it): publish, then retract if a mutation
    * overlapped. Either the remap's sweep started after our pointer
    * landed (the sweep rewrites it like any checkpoint artifact), or the
    * post-publish check sees the held lease / moved version and deletes
    * the pointer — it is a pure cache, so retraction costs only the next
    * maintenance run. Orphan sidecars from an abandoned publish are
    * reaped by retention.
    */
  private def publishRetroPointer(v: Long, fileEntry: String): Unit = {
    if (version != v) {
      logInfo(s"checkpoint maintenance on $path: version moved past $v " +
        "before publish — abandoned (next maintenance covers it)")
      return
    }
    writeAtomic(retroPtrPath(v), s"""{"version":$v,$fileEntry}""")
    if (!fs.exists(lockFile) && version == v) return // clean publish
    // A mutation overlapped the publish. The pointer is a pure cache, so
    // the default verdict is RETRACT (the next maintenance re-runs) — a
    // kept pointer that a remap's sweep listed-past would resolve v to
    // pre-remap paths forever. The one pointer the log can't lose is an
    // ANCHOR: a cleanup may have set its horizon AT v on this pointer and
    // deleted every manifest below, with v's own manifest a delta —
    // retraction is then safe only if something else serves recon(v).
    // Taking the commit lock here is NOT an option (maintenance must
    // never make a fail-fast foreground writer error out — the
    // config-matrix soak caught exactly that), and no restore loop is
    // needed either: cleanupLog captures the pointer text at its anchor
    // probe and HARDENS it into [[retroAnchorPath]] (a name this path
    // never touches) before any deletion, so a retraction racing the
    // anchoring still leaves recon(v) a path through the copy.
    // v's manifest "self-anchors" only when it can actually SERVE
    // recon(v): inline files, or sidecar names that all still exist —
    // the same conservatism as manifestAnchors/copyServes (a dangling
    // pointer manifest must keep the retro pointer load-bearing, else
    // retraction here orphans the only resolvable checkpoint at v)
    def retract(why: String): Unit = {
      fs.delete(retroPtrPath(v), false)
      logInfo(s"checkpoint maintenance on $path: a mutation overlapped " +
        s"the v$v pointer publish — retracted ($why; next maintenance " +
        "re-runs)")
    }
    if (!pointerAnchorsHorizon(v)) { retract("not anchor-load-bearing"); return }
    // Anchor-load-bearing. The overlap's OUTCOME decides: wait briefly
    // for the in-flight mutation to release the lease, so the verdict is
    // based on what it did, not on its presence. (Rare² path: anchored
    // pointer × concurrent mutation; the wait blocks only the async
    // maintenance thread.)
    var slept = 0L
    var step = 25L
    while (fs.exists(lockFile) && version == v && slept < 10000L) {
      Thread.sleep(step); slept += step; step = math.min(step * 2, 800L)
    }
    if (version == v) {
      if (fs.exists(lockFile))
        // the wait EXPIRED with the mutation still holding the lease: the
        // "kept" verdict would be provisional — a slow remap that listed
        // retroDir before this publish may yet commit, leaving pre-remap
        // paths in a pointer the `already` probe then settles forever
        // (advice r13). Record a re-verify marker so the next maintenance
        // run adjudicates from the mutation's actual OUTCOME, and say so
        // at WARN, not the kept-INFO.
        scala.util.Try {
          writeAtomic(retroReverifyPath(v), s"""{"version":$v}""")
          logWarning(s"checkpoint maintenance on $path: the v$v pointer " +
            "anchors the log horizon and a mutation still held the lease " +
            "when the outcome-wait expired — kept PROVISIONALLY; re-verify " +
            "marker recorded for the next maintenance run")
        }
      else
        // no commit landed (a cleanup — which never moves the version — or
        // an aborted mutation): the content in the pointer is exactly
        // recon(v), still valid. Keep it.
        logInfo(s"checkpoint maintenance on $path: a mutation overlapped " +
          s"the v$v pointer publish but the pointer anchors the log " +
          "horizon and the version held — kept")
    } else
      adjudicateOverlappedPointer(v)
  }

  /** Does the v-pointer anchor the log horizon? True when the manifest
    * below v is gone (a cleanup set its horizon AT v) and v's own
    * manifest cannot serve recon(v) itself — inline files, or sidecars
    * that all still exist (the same conservatism as
    * manifestAnchors/copyServes: a dangling manifest must keep the retro
    * pointer load-bearing).
    */
  private def pointerAnchorsHorizon(v: Long): Boolean = v > 0 &&
    !fs.exists(new Path(logDir, f"v${v - 1}%05d.json")) &&
    !scala.util.Try { val txt = manifestText(v)
      jsonStringArray(txt, "files").isDefined ||
        checkpointSidecarsOf(txt).exists(ns =>
          ns.forall(n => fs.exists(new Path(logDir, n)))) }.getOrElse(false)

  /** Verdict for a pointer whose publish a since-COMMITTED mutation
    * overlapped — possibly [[materialize]]'s remap, whose retroDir sweep
    * may have listed BEFORE the publish and so never rewrote this
    * pointer's paths (ADVICE r12: the kept-stale-pointer hazard).
    * Retract when the hardened anchor copy can serve recon(v): the copy
    * predates the mutation, so any remap sweep rewrote it.
    */
  private def adjudicateOverlappedPointer(v: Long): Unit = {
    val copyServes = scala.util.Try {
      val a = retroAnchorPath(v)
      fs.exists(a) && {
        val txt = readTextFully(a)
        jsonStringArray(txt, "files").isDefined ||
          checkpointSidecarsOf(txt).exists(ns =>
            ns.forall(n => fs.exists(new Path(logDir, n))))
      }
    }.getOrElse(false)
    if (copyServes) {
      fs.delete(retroPtrPath(v), false)
      logInfo(s"checkpoint maintenance on $path: a mutation overlapped " +
        s"the v$v pointer publish — retracted (anchor copy serves " +
        "reconstruction; next maintenance re-runs)")
    } else
      // unreachable when every anchoring cleanup hardened first (all
      // do since the copy landed); kept as the stale-beats-broken
      // last resort for logs anchored before the copy existed
      logWarning(s"checkpoint maintenance on $path: v$v pointer anchors " +
        "the horizon, a commit overlapped its publish, and no hardened " +
        "anchor copy exists — kept (content may predate a remap; " +
        "re-run maintenance after materialize() to refresh)")
  }

  /** Render the deferred verdict for pointers kept PROVISIONALLY by
    * [[publishRetroPointer]]'s expired outcome-wait. Lease-free like the
    * rest of maintenance: when a writer holds the lease the markers stay
    * for the next round. For each marker: the pointer may be gone
    * (retraction flicker — marker moot); the version may have HELD (the
    * slow mutation was a cleanup or aborted — the deferred kept verdict,
    * content exactly recon(v)); a commit may have landed past v — then
    * the pointer is adjudicated exactly like a witnessed overlap:
    * retract outright when it no longer anchors the horizon, else the
    * anchor-copy verdict.
    */
  private def resolveRetroReverify(current: Long): Unit = {
    if (!fs.exists(retroDir)) return
    val marked = fs.listStatus(retroDir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".reverify"))
      .flatMap(_.stripPrefix("v").stripSuffix(".reverify").toLongOption)
    if (marked.isEmpty) return
    if (fs.exists(lockFile)) return // mutation in flight: next round
    marked.sorted.foreach { m =>
      if (!fs.exists(retroPtrPath(m)))
        () // already retracted elsewhere — marker is moot
      else if (m == current)
        logInfo(s"checkpoint maintenance on $path: re-verified the v$m " +
          "pointer — the overlapping mutation released the lease without " +
          "moving the version; content is exactly recon(v) — kept")
      else if (!pointerAnchorsHorizon(m)) {
        fs.delete(retroPtrPath(m), false)
        logInfo(s"checkpoint maintenance on $path: re-verified the v$m " +
          "pointer — retracted (not anchor-load-bearing; next maintenance " +
          "re-runs)")
      } else
        adjudicateOverlappedPointer(m)
      fs.delete(retroReverifyPath(m), false)
    }
  }

  /** The dir-verification half of async maintenance, also LEASE-FREE: a
    * listing is only trusted when no writer held the lease before or
    * after it and the version stayed put — any overlap discards the
    * result (a mid-publish listing would report staged files as drift).
    * Confirmed drift — an out-of-band writer — invalidates the state
    * cache so the NEXT commit takes the listing path and absorbs it into
    * the log, the same bounded-drift contract the synchronous
    * checkpoint's listing used to provide. A commit racing the
    * invalidation can reinstate its own state first; the drift then
    * surfaces again at the next maintenance run — absorption is
    * eventual, never lost.
    */
  private def verifyDirOpportunistic(): Unit = {
    try {
      if (fs.exists(lockFile)) return // writer mid-mutation: skip this round
      val stOpt = CommitLiveCache.getAny(qualifiedRoot)
        .filter(_.version == version)
      stOpt.foreach { st =>
        val live = listParquet(new Path(path))
          .map(f => fs.makeQualified(new Path(f._1)).toString).toSet
        val raced = fs.exists(lockFile) || version != st.version
        if (!raced) {
          if (live != st.files.keySet) {
            logWarning(s"checkpoint maintenance on $path: live dir " +
              s"diverged from state at v${st.version} " +
              s"(${live.size} on disk vs ${st.files.size} cached) — " +
              "invalidating; the next commit re-lists and absorbs")
            // markDrift, not plain invalidation: seedStateFromLog would
            // otherwise faithfully rebuild the pre-drift state from the
            // log and the strays would never be absorbed
            CommitLiveCache.markDrift(qualifiedRoot)
            trustedDirVersion = Long.MinValue
          } else trustedDirVersion = st.version
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"checkpoint maintenance on $path: dir verification " +
          s"skipped (${e.getMessage})")
    }
  }

  /** Block until every checkpoint-maintenance task queued so far ran —
    * the deterministic hook benches and operators use before measuring
    * or shutting down.
    */
  def awaitCheckpointMaintenance(): Unit = CheckpointMaintenance.await()

  /** Reconstruct the parent commit state — path → (len, rows) plus the
    * running totals — from the LOG (checkpoint rows + delta churn +
    * sidecar lengths), so the FIRST commit of a fresh process goes
    * O(churn) like every later one instead of paying the listing path's
    * O(live) dir list + sidecar fold. Only consulted when THIS handle
    * already verified dir↔log consistency for `v0`
    * (`trustedDirVersion`, set by [[ensureBootstrapped]]'s boundary
    * check), so the trust model is unchanged — this replaces the
    * listing fold's REDUNDANT second pass, not the verification.
    *
    * Above the distributed-planning cutover the checkpoint rows decode
    * as a SPARK JOB (the cluster parses, the driver collects only the
    * (path, len, rows) triples it must hold anyway — the OCC-commit
    * analogue of the read paths' checkpoint-row job); below it a driver
    * parquet stream. Bails (None → caller takes the listing path) on
    * v1 path-only rows (no lengths to seed from) or any add whose
    * sidecar entry is gone — exactness is checked against the
    * manifest's own numFiles record.
    */
  private def seedStateFromLog(v0: Long): Option[CommitLiveCache.State] = {
    if (v0 < 0) return None
    // maintenance observed dir↔log drift: only a LISTING commit may
    // resolve it — a log-derived seed would rebuild the pre-drift state
    if (CommitLiveCache.driftSuspected(qualifiedRoot)) return None
    val (parts, adds, excluded) = distributedBase(v0).getOrElse(return None)
    val addM = addsMeta(adds)
    val addEntries = new scala.collection.mutable.ArrayBuffer[(String, (Long, Long))]
    adds.foreach { p =>
      addM.get(p) match {
        case Some((len, fm)) => addEntries += (p -> ((len, fm.rows)))
        case None => return None
      }
    }
    var incomplete = false
    val baseEntries: Seq[(String, (Long, Long))] =
      if (useDistributedPlanning) {
        import spark.implicits._
        val raw = spark.read.parquet(parts.map(_.toString): _*)
        val cols = raw.columns.toSet
        if (!cols("len") || !cols("rows")) return None
        val exB = spark.sparkContext.broadcast(excluded)
        try raw.select(col("path").cast("string"), col("len").cast("long"),
            col("rows").cast("long"))
          .as[(String, Option[Long], Option[Long])]
          .flatMap { case (p, len, rows) =>
            if (exB.value.contains(p)) None
            // a v1 row poisons the whole seed; mark with an impossible len
            else Some((p, len.getOrElse(-1L), rows.getOrElse(-1L)))
          }.collect().toSeq.map { case (p, len, rows) =>
            if (len < 0 || rows < 0) incomplete = true
            p -> ((len, rows))
          }
        finally exB.destroy()
      } else {
        checkpointRowIter(parts).flatMap { case (p, meta) =>
          if (excluded.contains(p)) None
          else meta match {
            case Some((len, rows, _)) => Some(p -> ((len, rows)))
            case None => incomplete = true; None
          }
        }.toSeq
      }
    if (incomplete) return None
    val files = (baseEntries ++ addEntries).toMap
    // exactness cross-check against the commit's own record: any
    // disagreement (raced compaction, truncated sidecar) → listing path
    val expected = historyRows.find(_.version == v0).map(_.numFiles)
    if (!expected.contains(files.size.toLong)) return None
    Some(CommitLiveCache.State(v0, files,
      files.valuesIterator.map(_._2).sum, files.valuesIterator.map(_._1).sum))
  }

  /** Single-string JSON extractor for OUR manifests (same escape rules as
    * [[jsonStringArray]]).
    */
  private def jsonString(txt: String, key: String): Option[String] = {
    val anchor = "\"" + key + "\":\""
    val start = txt.indexOf(anchor)
    if (start < 0) return None
    var i = start + anchor.length
    val sb = new StringBuilder
    while (txt.charAt(i) != '"') {
      if (txt.charAt(i) == '\\') {
        txt.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(txt.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case c => sb.append(c); i += 2
        }
      } else { sb.append(txt.charAt(i)); i += 1 }
    }
    Some(sb.toString)
  }

  /** The checkpoint file list of manifest `txt`, whatever its format —
    * inline JSON array or the parquet-sidecar pointer; None for delta
    * manifests.
    */
  private def checkpointFilesOf(txt: String): Option[Seq[String]] =
    jsonStringArray(txt, "files")
      .orElse(jsonString(txt, "filesParquet")
        .map(name => readCheckpointParquet(new Path(logDir, name))))
      .orElse(jsonStringArray(txt, "filesParquetParts")
        .map(_.flatMap(n => readCheckpointParquet(new Path(logDir, n)))))

  /** Sidecar names a checkpoint manifest points at — one for the single
    * format, several for multi-part; None for inline-JSON or delta
    * manifests.
    */
  private def checkpointSidecarsOf(txt: String): Option[Seq[String]] =
    jsonString(txt, "filesParquet").map(Seq(_))
      .orElse(jsonStringArray(txt, "filesParquetParts"))

  /** The data-file list of logged version `v`: from `v`'s own manifest
    * when it is a checkpoint (full `files` list, inline or parquet), else
    * reconstructed by walking back to the nearest checkpoint and folding
    * the intervening `add`/`remove` deltas forward — at most
    * `checkpointInterval` small manifest reads, independent of table size
    * (the point: commits write O(delta) metadata, reads fold O(interval)
    * deltas).
    */
  private[graft] def manifestFiles(v: Long): Seq[String] = {
    var i = v
    var base: Option[Seq[String]] = None
    val deltas = scala.collection.mutable.ListBuffer[(Seq[String], Seq[String])]()
    while (base.isEmpty) {
      require(i >= 0,
        s"no checkpoint manifest at or below v$v in $logDir — corrupt log")
      // a retro (async) checkpoint at i ends the walk exactly like a
      // checkpoint manifest — it IS recon(i), published post-commit; a
      // dangling pointer reads as absent and the manifest chain covers
      base = retroFiles(i)
      if (base.isEmpty) {
        val txt = manifestText(i)
        checkpointFilesOf(txt) match {
          case some @ Some(_) => base = some
          case None =>
            deltas.prepend((jsonStringArray(txt, "add").getOrElse(Nil),
              jsonStringArray(txt, "remove").getOrElse(Nil)))
            i -= 1
        }
      }
    }
    deltas.foldLeft(base.get.toSet) { case (s, (a, r)) => s ++ a -- r }
      .toSeq.sorted
  }

  /** (version, operation) of commits in (fromV, toV], oldest first — the
    * incrementalizability probe (checkpoint lookups, no manifest reads).
    */
  private[graft] def operationsBetween(fromV: Long, toV: Long): Seq[(Long, String)] =
    historyRows.filter(c => c.version > fromV && c.version <= toV)
      .sortBy(_.version).map(c => (c.version, c.operation))

  /** Read a subset of version `v`'s files with the same basePath partition
    * resolution and deletion-vector filtering as a full [[readVersion]] —
    * the building block incremental consumers (e.g.
    * [[IncrementalAgg.refresh]]) use to scan ONLY the files a commit
    * window added, never the whole snapshot.
    */
  private[graft] def readFileSubset(v: Long, files: Seq[String],
                                    mergeSchema: Boolean = false): DataFrame = {
    if (files.isEmpty) return spark.emptyDataFrame
    val where = resolveLive(v, s"version $v", files)
    // the version's deletion vectors apply per scan group BEFORE the union
    // (_metadata columns don't survive a union); keys follow any
    // shallow-clone resolution so moved files keep their bitmaps
    val dv = dvMapForVersion(v).map { case (p, a) => where.getOrElse(p, p) -> a }
    scanResolved(files.map(where), dv, mergeSchema)
  }

  /** The rows commit `v`'s deletion-vector change newly MARKED deleted
    * (positions in dv(v) but not dv(v−1)), read back from the marked
    * files — the SUBTRACTION feed incremental consumers
    * ([[IncrementalAgg.refresh]]) need to process a merge-on-read
    * DELETE/UPDATE/MERGE without recomputing: cost tracks the files the
    * commit touched, never the snapshot. None when the commit marked
    * nothing (an insert-only MERGE), so callers skip the scan entirely.
    * Marks only DISAPPEAR via file rewrites (OPTIMIZE/PURGE retire the
    * file along with its bitmap), so the positive diff alone is the
    * commit's full row-removal story.
    */
  private[table] def dvNewlyMarkedRows(v: Long): Option[DataFrame] = {
    val before = dvMapForVersion(v - 1)
    val diff = dvMapForVersion(v).flatMap { case (p, marks) =>
      val prev = before.getOrElse(p, Array.empty[Long])
      val fresh = marks.filter(m => java.util.Arrays.binarySearch(prev, m) < 0)
      if (fresh.isEmpty) None else Some(p -> fresh)
    }
    if (diff.isEmpty) None
    else {
      val files = diff.keys.toSeq.sorted
      val where = resolveLive(v, s"version $v", files)
      val keyed = diff.map { case (p, a) => where.getOrElse(p, p) -> a }
      Some(scanResolved(files.map(where), keyed, keepMarked = true))
    }
  }

  /** Version `v`'s manifest paths resolved to where each file lives NOW.
    * The log keeps the path a file was committed at; a rewrite retires a
    * file by moving it, exactly once, to the same rel path under
    * `<root>._vK`, where K + 1 is the retiring commit — so `._vK` holds
    * only files live at K. A file of version v under this table's root
    * therefore resolves to the retained dir with the smallest K ≥ v (in
    * numeric order) that holds its rel path, and otherwise to its
    * committed path. Smallest-K, not root-first: BOOTSTRAP/RECOVER can
    * adopt a non-Spark name (`part-0.parquet`) that a retired file
    * already used, and a root probe would serve the newer file to the
    * older version. The same rule keeps a path set pinned from the log
    * BEFORE a concurrent rewrite readable (the file is found in
    * `._v<cur>`; a move that lands between the dir listing and the root
    * probe gets one fresh listing), so version-pinned readers
    * ([[readFileSubset]] consumers like the file-skipping contamination
    * screen) survive maintenance that lands mid-operation.
    *
    * A foreign file (a shallow clone's reference into its source) is
    * served where it is, else from a source retained dir holding its rel
    * path: UUID part names make that path unique across the source's
    * snapshots, so a clone survives source OPTIMIZE/DML exactly until the
    * source VACUUMs the snapshot (Delta's shallow-clone contract), and
    * then fails pointedly.
    */
  private def resolveLive(v: Long, context: String,
                          files: Seq[String]): Map[String, String] = {
    val own = qualifiedRoot
    // rel path → the smallest-K retained dir (K ≥ v) holding it: one
    // recursive listing per such dir, never a per-(file, dir) probe matrix
    def heldSince(): Map[String, String] =
      retainedDirsOf(new Path(own))
        .map(d => retainedVersion(d) -> d)
        .filter(_._1 >= v).sortBy(-_._1)
        .foldLeft(Map.empty[String, String]) { case (m, (_, d)) =>
          m ++ listParquet(new Path(d)).map { case (f, _) =>
            fs.makeQualified(new Path(f)).toString.stripPrefix(d + "/") -> d }
        }
    lazy val held = heldSince()
    lazy val heldAgain = heldSince()
    def ownAt(f: String, dirs: Map[String, String]): Option[String] = {
      val rel = f.stripPrefix(own + "/")
      dirs.get(rel).map(d => s"$d/$rel")
        .orElse(Some(f).filter(p => fs.exists(new Path(p))))
    }
    val frs = foreignRoots
    lazy val retainedByRoot: Map[String, Seq[String]] =
      frs.map(r => r -> retainedDirsOf(new Path(r)).sorted.reverse).toMap
    def foreignAt(f: String): Option[String] =
      if (fs.exists(new Path(f))) Some(f)
      else frs.collectFirst { case r if f.startsWith(r + "/") =>
        val rel = f.stripPrefix(r + "/")
        retainedByRoot(r).collectFirst {
          case rd if fs.exists(new Path(s"$rd/$rel")) => s"$rd/$rel" }
      }.flatten
    files.map { f =>
      val at =
        if (f.startsWith(own + "/")) ownAt(f, held).orElse(ownAt(f, heldAgain))
        else foreignAt(f)
      f -> at.getOrElse(throw new IllegalStateException(
        s"$context is no longer readable (vacuumed?); missing $f"))
    }.toMap
  }

  /** Scan an explicit resolved file set with per-root basePath partition
    * resolution and DV filtering — the shared tail of [[readVersion]],
    * the skipping reads and shallow-clone scans. Each file's root parses
    * straight from its path under our naming scheme (`root` or
    * `root._v<N>`, own root first then any clone-source root): O(files)
    * string work, no fs probes.
    */
  private def scanResolved(resolved: Seq[String], dv: Map[String, Array[Long]],
                           mergeSchema: Boolean = false,
                           keepMarked: Boolean = false,
                           keepRowId: Boolean = false,
                           tap: DataFrame => DataFrame = identity): DataFrame = {
    val roots = qualifiedRoot +: foreignRoots
    def rootOf(f: String): String = roots.collectFirst {
      case r if f.startsWith(r + "/") => r
      case r if f.startsWith(r + "._v") &&
          { val s = f.indexOf('/', r.length + 3)
            s > 0 && f.substring(r.length + 3, s).forall(_.isDigit) } =>
        f.substring(0, f.indexOf('/', r.length + 3))
    }.getOrElse("")
    resolved.groupBy(rootOf)
      .map { case (root, fsOfRoot) =>
        val rd0 = if (mergeSchema) spark.read.option("mergeSchema", "true")
          else spark.read
        val rd = if (root.nonEmpty) rd0.option("basePath", root) else rd0
        // tap runs per GROUP, before the union erases _metadata columns
        applyDv(tap(parquetScan(rd, fsOfRoot, keepRowId)), dv, keepMarked)
      }.reduce(_ unionByName _)
  }

  /** Scan `kept` live files — the skipping-path tail of [[readWhere]],
    * [[readWhereAll]], [[readPoint]] and [[readWhereNull]]. A normal
    * table plans from the engine's own snapshot: a [[KeptFileIndex]] over
    * the kept statuses, typed by the version's physical schema
    * ([[physicalSchema]]). Once that schema is cached for the version,
    * planning runs no Spark job; on a miss (a new process, another
    * process's commit, a commit or property edit that may change the
    * schema — see [[noteSchemaPreserved]]) it is inferred from the root
    * once, as [[read]] does. Handing the kept paths to `spark.read.parquet` instead runs a
    * schema-inference job on every read and a listing job above 32
    * paths. The read's schema is
    * [[read]]'s, partition types included, where inference over the kept
    * subset can type a string partition as int. An unmaterialized
    * shallow clone takes the resolved per-root scan.
    */
  private def scanKept(kept: Seq[FileStatus], dv: Map[String, Array[Long]]): DataFrame = {
    requireReadable()
    if (!isShallowClone) {
      val root = qualifiedRoot
      def open(st: org.apache.spark.sql.types.StructType) =
        KeptFileIndex.scan(spark, root, kept, st)
      applyDv(shapeScan(open(physicalSchema(spark.read.parquet(path))._1), open), dv)
    } else {
      val paths = kept.map(_.getPath.toString)
      val where = resolveLive(version, "the clone snapshot", paths)
      scanResolved(paths.map(where),
        dv.map { case (p, a) => where.getOrElse(p, p) -> a })
    }
  }

  /** The physical (footer) schema of the current version's root scan:
    * [[PhysicalSchemaCache]]'s entry, keyed by (version, props signature),
    * else `infer`'s schema, cached for every later read of this version.
    * `infer` is a root scan that runs one inference job; it is returned
    * when it ran, so [[parquetScan]] reuses it rather than opening the root
    * again. The skipping reads' [[scanKept]] takes the schema alone.
    */
  private def physicalSchema(infer: => DataFrame)
      : (org.apache.spark.sql.types.StructType, Option[DataFrame]) = {
    val v = version
    val sig = propsSig
    PhysicalSchemaCache.get(qualifiedRoot, v, sig) match {
      case Some(st) => (st, None)
      case None =>
        val df = infer
        PhysicalSchemaCache.put(qualifiedRoot, v, sig, df.schema)
        (df.schema, Some(df))
    }
  }

  /** The live (path, length) set every skipping/maintenance read works
    * from: the directory listing for a normal table; the latest manifest
    * for an unmaterialized shallow clone (whose live dir is empty by
    * design), with lengths served from the carried-over stats sidecar —
    * no listing of the source, one getFileStatus only for a file the
    * sidecar missed.
    */
  private def liveFilesQ(): Seq[(String, Long)] =
    if (!isShallowClone)
      listParquet(new Path(path))
        .map { case (p, len) => (fs.makeQualified(new Path(p)).toString, len) }
    else {
      val cached = readSidecarFile(sidecarBase) ++
        sidecarSegments.foldLeft(Map.empty[String, (Long, FileMeta)])(
          (m, s) => m ++ readSidecarFile(s))
      manifestFiles(version).map(f =>
        f -> cached.get(f).map(_._1).getOrElse(
          fs.getFileStatus(new Path(
            resolveLive(version, "the clone snapshot", Seq(f))(f))).getLen))
    }

  /** Timestamp-pinned read (Delta's `TIMESTAMP AS OF`): the latest version
    * committed at or before `ts` (ISO-8601 instant). Resolved from the
    * commit log's timestamps, then delegated to [[readVersion]].
    */
  def readAsOf(ts: String): DataFrame = readVersion(versionAsOf(ts))

  /** Latest version committed at or before `ts` (ISO-8601 instant) — the
    * `TIMESTAMP AS OF` resolution, exposed so callers (RESTORE, clones,
    * the CDF source) share one timestamp→version rule.
    */
  def versionAsOf(ts: String): Long = {
    val cutoff = java.time.Instant.parse(ts)
    val vs = historyRows
      .filter(c => !java.time.Instant.parse(c.timestamp).isAfter(cutoff))
    require(vs.nonEmpty, s"no version committed at or before $ts")
    vs.map(_.version).max
  }

  /** Earliest version committed at or after `ts`, or None when every
    * commit predates it — Delta's `startingTimestamp` stream-resolution
    * rule ("all changes committed at or after the timestamp").
    */
  def versionAtOrAfter(ts: String): Option[Long] = {
    val cutoff = java.time.Instant.parse(ts)
    val vs = historyRows
      .filter(c => !java.time.Instant.parse(c.timestamp).isBefore(cutoff))
    if (vs.isEmpty) None else Some(vs.map(_.version).min)
  }

  /** (version, filesAdded) of commits after `fromV`, oldest first, from
    * the checkpointed history file — ONE driver-side text read, no
    * manifest folding. The streaming source's admission-control probe
    * (Delta's `maxFilesPerTrigger` needs per-commit file counts without
    * reconstructing snapshots). filesAdded is −1 for commits from before
    * the metrics field existed; callers must treat −1 as unknown.
    */
  /** (numFiles, sizeInBytes) of logged version `v` — one history lookup
    * (the paced initial snapshot derives a byte cap from it).
    */
  private[graft] def commitSummary(v: Long): Option[(Long, Long)] =
    historyRows.find(_.version == v).map(c => (c.numFiles, c.sizeInBytes))

  /** Recorded commit timestamp of logged version `v` — one history-
    * checkpoint lookup; the CDF stream's `graft_commit_timestamp` column
    * (Delta's `_commit_timestamp`).
    */
  private[graft] def commitTimestamp(v: Long): Option[java.sql.Timestamp] =
    historyRows.find(_.version == v).map(c =>
      java.sql.Timestamp.from(java.time.Instant.parse(c.timestamp)))

  /** Cached per-file byte lengths from the stats sidecar (base +
    * segments) — every committed file is recorded there, so byte-exact
    * snapshot pacing needs no per-file fs.stat; files absent from the
    * cache fall back to the commit's average size at the caller.
    */
  private[graft] def sidecarLengths: Map[String, Long] =
    (readSidecarFile(sidecarBase) ++
      sidecarSegments.foldLeft(Map.empty[String, (Long, FileMeta)])(
        (m, s) => m ++ readSidecarFile(s)))
      .map { case (p, (len, _)) => p -> len }

  private[graft] def commitPace(fromV: Long): Seq[(Long, Long, Long)] =
    historyRows.filter(_.version > fromV).sortBy(_.version)
      .map(c => (c.version, c.metrics.map(_._1).getOrElse(-1L),
        c.bytesAdded.getOrElse(-1L)))

  /** Change-data-feed between two logged versions (Delta's
    * `table_changes`): rows of `toV` vs `fromV` classified as
    * insert / delete / update / unchanged on `keys` — time travel composed
    * with [[Merge.snapshotDiff]]'s hash-compared full-outer join, so the
    * feed is computed from snapshots, not captured at write time (no write
    * amplification; cost is two manifest reads + one key join).
    */
  def changes(fromV: Long, toV: Long, keys: Seq[String]): DataFrame = {
    // CURRENT names on both sides: the from/to key join must speak one
    // name space whatever renames happened inside the window
    val to = readVersionCurrentNames(toV)
    // fromV < 0 is the empty pre-founding state: a change feed starting
    // at or before the first commit replays the whole snapshot as
    // inserts (the CDF stream's startingTimestamp ≤ ts(v0) resolution)
    val from = if (fromV < 0) to.filter(org.apache.spark.sql.functions.lit(false))
      else readVersionCurrentNames(fromV)
    Merge.snapshotDiff(from, to, keys)
  }

  /** Drop ALL retained snapshot dirs (and nothing else): versions whose
    * data lives only in a retained dir become unreadable, like Delta's
    * VACUUM with zero retention. The live dir and the log stay intact.
    */
  def vacuumVersions(): Unit = {
    // dir-level parallel deletes: on an object store each recursive delete
    // is O(files-in-dir) RPCs, and the dirs are independent — a serial
    // driver loop makes VACUUM latency O(total files)/1 thread
    import scala.collection.parallel.CollectionConverters._
    retainedDirsOnDisk.par.foreach(r => fs.delete(new Path(r), true))
  }

  /** Retained snapshot dirs actually present — ONE parent listing, not
    * O(versions) existence probes (at thousands of commits those are
    * thousands of object-store RPCs).
    */
  private def retainedDirsOnDisk: Seq[String] = retainedDirsOf(new Path(path))

  /** Same listing for an arbitrary root — a shallow clone resolving files
    * its source has since retired probes the SOURCE's snapshot dirs.
    */
  private def retainedDirsOf(root: Path): Seq[String] = {
    val parent = root.getParent
    val prefix = root.getName + "._v"
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.stripPrefix(prefix).nonEmpty &&
        p.getName.stripPrefix(prefix).forall(_.isDigit))
      .map(p => fs.makeQualified(p).toString).toSeq
  }

  /** Retention-windowed VACUUM — Delta's `vacuum(retentionHours)`
    * discipline: drop only retained dirs that serve NO version committed at
    * or after `olderThan`, so time travel keeps working inside the window
    * and an operator can run this on a schedule without losing yesterday's
    * snapshots. `._vK` holds exactly the files commit K + 1 retired, all
    * live at K, and serves versions ≤ K only ([[resolveLive]]) — so the
    * keep rule is an index comparison against the window's earliest
    * version, never a manifest read (see [[droppableRetainedDirs]]).
    */
  def vacuumVersions(olderThan: java.time.Instant): Unit = {
    import scala.collection.parallel.CollectionConverters._
    droppableRetainedDirs(olderThan).par.foreach(r => fs.delete(new Path(r), true))
  }

  /** DRY RUN for the retention-windowed vacuum (Delta's `VACUUM … DRY
    * RUN`): the retained snapshot dirs a [[vacuumVersions(olderThan)]]
    * call would delete, deleting nothing — the operator's preview before
    * scheduling the real thing.
    */
  def vacuumDryRun(olderThan: java.time.Instant): Seq[String] =
    droppableRetainedDirs(olderThan)

  /** Retained dirs serving NO version committed at or after `olderThan`:
    * `._vK` is kept iff K ≥ e, the earliest in-window version whose
    * manifest still exists (versions cleanupLog expired are beyond the
    * travel horizon and keep nothing alive). Commit timestamps never
    * regress ([[ictTimestamp]]), so every version from e on is in the
    * window, and version K — where every file of `._vK` is live — is one
    * of them exactly when K ≥ e. One history read and one parent listing;
    * no manifest is opened.
    */
  private def droppableRetainedDirs(olderThan: java.time.Instant): Seq[String] = {
    if (!fs.exists(logDir)) return Nil
    val existing = retainedDirsOnDisk
    if (existing.isEmpty) return Nil
    val earliest = historyRows
      .filter(c => !java.time.Instant.parse(c.timestamp).isBefore(olderThan))
      .map(_.version).sorted
      .find(v => fs.exists(new Path(logDir, f"v$v%05d.json")))
      .getOrElse(Long.MaxValue)
    existing.filter(retainedVersion(_) < earliest)
  }

  /** Log retention (Delta's `delta.logRetentionDuration` cleanup): drop
    * version manifests and DV snapshots BELOW `beforeV`, ending their time
    * travel — exactly Delta's contract, where expired log segments bound
    * the travel window — while every version ≥ `beforeV` keeps working.
    * At scale this is what stops the log dir from growing without bound
    * (every [[version]] call lists it: 100k manifests ≈ 100 object-store
    * listing pages per metadata read).
    *
    * The horizon rounds DOWN to the nearest checkpoint manifest so the
    * walk-back never crosses it (at most `checkpointInterval` extra
    * manifests retained; nothing is rewritten). [[history]] keeps ALL
    * summaries (the audit trail is O(1)-per-commit text, not worth
    * expiring); COPY INTO load segments are kept (forgetting them would
    * re-ingest already-loaded files); reads below the horizon throw a
    * horizon error, not a reconstruction failure.
    */
  def cleanupLog(beforeV: Long): Unit = withCommitLock {
    require(beforeV >= 0 && beforeV <= version,
      s"cleanup horizon $beforeV out of range [0, $version]")
    // round the horizon DOWN to the nearest checkpoint manifest: versions
    // ≥ beforeV may be deltas whose reconstruction walks back to it, and
    // keeping ≤ interval extra manifests costs nothing. Crucially this
    // REWRITES no manifest — an earlier design spliced the horizon delta
    // into a full checkpoint in place, which left a crash window (the
    // atomic-overwrite delete+rename gap) where the only checkpoint at or
    // below the horizon was missing and every later reconstruction broke.
    // a parquet-pointer manifest anchors the horizon only if its sidecar
    // actually EXISTS: a remap crash between the sidecar's delete and
    // rename can leave the pointer dangling, and anchoring on it would
    // delete every earlier manifest while reconstruction at the anchor
    // itself is broken — same conservatism as the inline-JSON path
    def manifestAnchors(h: Long): Boolean = {
      val txt = manifestText(h)
      jsonStringArray(txt, "files").isDefined ||
        checkpointSidecarsOf(txt).exists(names =>
          names.forall(n => fs.exists(new Path(logDir, n))))
    }
    // a RETRO checkpoint anchors too (async-checkpoint logs may hold
    // nothing but deltas) — but only with its artifacts verifiably
    // present, same conservatism as the pointer-manifest check. The
    // probe CAPTURES the verified text: the hardening below must not
    // re-read the pointer, because the lease-free retraction in
    // [[publishRetroPointer]] can delete it between probe and harden
    // (probe sees it, retraction removes it, a re-read misses it →
    // manifests deleted with no anchor copy).
    var retroAnchorTxt: Option[String] = None
    def retroAnchors(h: Long): Boolean = {
      retroAnchorTxt = retroText(h).filter { rt =>
        jsonStringArray(rt, "files").isDefined ||
          checkpointSidecarsOf(rt).exists(names =>
            names.forall(n => fs.exists(new Path(logDir, n))))
      }
      retroAnchorTxt.isDefined
    }
    var horizon = beforeV
    while (horizon > 0 && !manifestAnchors(horizon) && !retroAnchors(horizon))
      horizon -= 1
    // anchoring on a retro checkpoint ALONE (the manifest at the horizon
    // is a delta) is the one moment retro-unawareness turns from slower
    // into WRONG — a build that ignores `_checkpoints.d` would walk past
    // the horizon into deleted manifests. Gate readers before deleting.
    if (horizon > 0 && !manifestAnchors(horizon)) {
      ensureFeature("checkpoint-retro", reader = true)
      // HARDEN the anchor before any deletion: copy the pointer — the
      // text CAPTURED at the anchor probe above, never a re-read — to a
      // name the lease-free retraction never touches
      // ([[retroAnchorPath]]). Under the commit lock, so the copy and
      // the deletions are one critical section against other cleanups.
      retroAnchorTxt.foreach(txt =>
        writeAtomic(retroAnchorPath(horizon), txt))
    }
    (0L until horizon).foreach { v =>
      fs.delete(new Path(logDir, f"v$v%05d.json"), false)
      fs.delete(retroPtrPath(v), false)
      fs.delete(retroAnchorPath(v), false)
      fs.delete(retroReverifyPath(v), false)
      fs.delete(ckptParquetPath(v), false)
      fs.delete(dvFile(v), false)
    }
    // multi-part sidecars (vNNNNN.pKKK.checkpoint.parquet) below the
    // horizon: one listing, matched by version prefix — the fixed-name
    // loop above can't enumerate an unknown part count
    fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".checkpoint.parquet") && n.startsWith("v"))
        n.drop(1).takeWhile(_.isDigit).toLongOption match {
          case Some(ver) if ver < horizon => fs.delete(st.getPath, false)
          case _ =>
        }
    }
    // reap crash-orphaned checkpoint-sidecar tmp files — AGE-GATED: the
    // locked writers (commit, remap, drop-feature) can't be mid-write
    // while this method holds the lock, but the lease-free async-
    // checkpoint maintenance thread writes these tmps WITHOUT the lock,
    // so a fresh tmp may be a live retro-sidecar write. An hour-old tmp
    // is crash debris under any venue. Other log tmps can be live
    // without the lease too (the history self-heal writeAtomics
    // _history.txt from pure read paths) and are never reaped here.
    val tmpReapAgeMs = 3600L * 1000
    val nowMs = System.currentTimeMillis()
    fs.listStatus(logDir).foreach { st =>
      if (st.isFile &&
          st.getPath.getName.contains(".checkpoint.parquet.tmp-") &&
          nowMs - st.getModificationTime > tmpReapAgeMs)
        fs.delete(st.getPath, false)
    }
  }

  /** RESTORE (rollback): make logged snapshot `v` the new CURRENT version
    * via the usual atomic swap, recorded as a RESTORE commit — the log
    * keeps the bad versions (auditable, still time-travelable) and the
    * table serves the old data again. The incident-response completion of
    * [[history]]/[[readVersion]]: Delta's `RESTORE TABLE ... TO VERSION AS
    * OF` (reference's Delta surface, deltalake.ipynb:8760).
    */
  def restore(v: Long): Unit = {
    require(v >= 0 && v <= version, s"version $v out of range [0, $version]")
    // the snapshot's plan reads live + retained files; the swap happens
    // only after the tmp write completes, so no checkpoint is needed
    // CURRENT names: RESTORE rolls the DATA back; the logical naming is
    // live table metadata and stays — restoring v-era titles would make
    // the rewrite collide with the live mapping's physical names (and a
    // reader who wants the old names has them via readVersion)
    replaceWith(readVersionCurrentNames(v), loggedPartitionCols(v), "RESTORE")
  }

  /** Timestamp-pinned rollback (`RESTORE … TIMESTAMP AS OF`): restore to
    * the latest version committed at or before `ts`.
    */
  def restoreAsOf(ts: String): Unit = restore(versionAsOf(ts))

  /** Partition columns recorded in snapshot `v`'s summary — a checkpoint
    * lookup, no manifest read, no Spark job.
    */
  private def loggedPartitionCols(v: Long): Seq[String] =
    // the log records PHYSICAL names (they match the on-disk `col=` dirs
    // across renames); callers operate on logical frames, so translate
    toLogicalCols(
      historyRows.find(_.version == v).map(_.partitionColumns).getOrElse(Nil))

  /** Deep CLONE (Delta's `CREATE TABLE … DEEP CLONE`): an independent
    * copy of the CURRENT snapshot at `targetPath`, with its own fresh
    * history starting at a CLONE commit. Constraints and generated
    * columns carry over; retained old versions do not (the clone's
    * history starts at the cloned state, exactly like Delta).
    *
    * Scale: the byte copy runs as a distributed job — one task per
    * file, like Delta's deep clone — so the driver does only the
    * listing. The source's footer-stats sidecar is remapped onto the
    * clone, so the CLONE commit opens zero footers. A shallow
    * (manifest-reference, zero-copy) clone is deliberately not offered:
    * every graft table's live dir is plain parquet readable by any
    * engine, and manifest indirection would break that contract (and
    * make either table's vacuum able to corrupt the other).
    */
  // ---- shallow clone ---------------------------------------------------

  private val shallowSourceProp = "graft.shallowClone.sourceRoot"

  /** True iff this table is an UNMATERIALIZED shallow clone: its manifest
    * references the clone source's files and its own live dir is empty.
    * [[materialize]] clears the state.
    */
  def isShallowClone: Boolean = properties.contains(shallowSourceProp)

  /** Foreign roots this table's manifests may reference (the shallow-clone
    * source) — qualified, no trailing slash.
    */
  private def foreignRoots: Seq[String] = properties.get(shallowSourceProp).toSeq

  /** Every mutation funnel refuses on an unmaterialized shallow clone: the
    * referenced files belong to the SOURCE, and graft mutations retire
    * files by renaming — which would corrupt the source's table from the
    * clone. (Delta can mutate shallow clones because its removes are
    * manifest-only; our rename-retire model cannot, so the contract is
    * zero-copy READS — snapshot, time travel, skipping, CDF — and an
    * explicit one-time [[materialize]] to make the clone writable.)
    */
  private def requireMaterialized(op: String): Unit =
    if (isShallowClone) throw new UnsupportedOperationException(
      s"$op on an unmaterialized shallow clone: its data files belong to " +
        "the clone source and must not be moved or rewritten — call " +
        "materialize() first (one distributed copy of the still-" +
        "referenced files), then mutate")

  /** Zero-copy clone (Delta's `SHALLOW CLONE`): the target's founding
    * commit records the SOURCE's current live files — no data moves, so
    * cloning a 100 TB table is a metadata write. The clone reads, time-
    * travels (from its founding version), data-skips (the stats sidecar
    * and bloom filters carry over verbatim — their entries key by exactly
    * the paths the clone references) and serves CDF; source appends after
    * the clone are invisible (the clone is pinned to its founding
    * manifest), source rewrites are followed into the source's retained
    * snapshot dirs, and a source VACUUM breaks the clone pointedly —
    * Delta's shallow-clone lifecycle. Mutations require [[materialize]].
    */
  def shallowCloneTo(targetPath: String): ManagedTable = {
    require(exists, s"cannot clone: $path does not exist")
    requireMaterialized("shallowCloneTo") // no clone-of-clone chains
    ensureBootstrapped()
    val dstRoot = new Path(targetPath)
    require(!fs.exists(dstRoot), s"clone target $targetPath already exists")
    val files = listParquet(new Path(path))
      .map { case (p, len) => (fs.makeQualified(new Path(p)).toString, len) }
    fs.mkdirs(dstRoot)
    val t = new ManagedTable(spark, targetPath)
    fs.mkdirs(t.logDir)
    // stats sidecar carries over VERBATIM — entries key by the referenced
    // (source) paths, which is exactly what the clone's manifest records
    val lines = (readSidecarFile(sidecarBase) ++
        sidecarSegments.foldLeft(Map.empty[String, (Long, FileMeta)])(
          (m, s) => m ++ readSidecarFile(s)))
      .map { case (p, (len, m)) => sidecarLine(p, len, m) }
    if (lines.nonEmpty)
      t.writeAtomic(t.sidecarBase, lines.toSeq.sorted.mkString("\n"))
    // row-id bases carry VERBATIM too (the clone's manifest references
    // the same source paths); readWithRowIds unlocks after materialize()
    if (rowTrackingEnabled) {
      val (rn, rm) = readRowIds()
      t.writeAtomic(t.rowIdsFile, (Seq(s"#next\t$rn") ++
        rm.toSeq.sortBy(_._1).map { case (p, b) => s"${enc(p)}\t$b" })
        .mkString("\n"))
    }
    for (f <- Seq("_constraints.txt", "_generated.txt", "_bloom_cols.txt",
                  "_props.txt", "_identity.txt", "_protocol.txt")) {
      val src = new Path(logDir, f)
      if (fs.exists(src)) {
        val in = fs.open(src)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val out = fs.create(new Path(t.logDir, f), true)
        try out.write(txt.getBytes("UTF-8")) finally out.close()
      }
    }
    // bloom filter FILES too: they key by sha1(data-file path), and the
    // clone references those very paths — point-lookup skipping is free
    val bloomDir = new Path(logDir, "_bloom.d")
    if (fs.exists(bloomDir))
      org.apache.hadoop.fs.FileUtil.copy(fs, bloomDir,
        fs, new Path(t.logDir, "_bloom.d"), false,
        spark.sparkContext.hadoopConfiguration)
    // the marker prop must precede the founding commit: commit-time bloom
    // refresh and any later consistency probe dispatch on it
    t.setProperties(Map(shallowSourceProp -> qualifiedRoot))
    // reads resolve through the source root — a build without follow-the-
    // source resolution would see an empty dir, so the clone demands the
    // reader feature until materialized
    t.ensureFeature("shallow-clone", reader = true)
    val dvClone = currentDv
    t.withCommitLock { t.commit("CLONE_SHALLOW", loggedPartitionCols(version),
      dvNew = if (dvClone.isEmpty) None else Some(dvClone),
      filesExplicit = Some(files)) }
    t
  }

  /** Turn a shallow clone into an ordinary self-contained table: copy the
    * still-referenced source files under this root (one distributed pass,
    * session hadoop conf shipped to the copy tasks like [[cloneTo]]),
    * remap the manifest/DV/sidecar to the local copies, drop the marker
    * and commit (a checkpoint). After this the source can VACUUM freely
    * and every mutation works. Idempotent: a materialized table no-ops.
    * This is the one operation that edits committed log files
    * ([[remapFiles]]): the clone's history must be rebased onto the local
    * copies, since the files it names belong to a table whose VACUUM this
    * clone no longer holds back.
    */
  def materialize(): Unit = withCommitLock {
    if (isShallowClone) {
      val frs = foreignRoots
      val origs = manifestFiles(version)
      val where = resolveLive(version, "materialize", origs)
      val dstQ = qualifiedRoot
      // orig manifest path → (current location, local destination): rel
      // layout (partition dirs) is preserved under our root
      val moves: Seq[(String, String, String)] = origs.flatMap { f =>
        frs.find(r => f.startsWith(r + "/")).map { r =>
          (f, where(f), dstQ + "/" + f.stripPrefix(r + "/"))
        }
      }
      val confEntries: Array[(String, String)] = {
        import scala.jdk.CollectionConverters._
        spark.sparkContext.hadoopConfiguration.asScala
          .map(e => e.getKey -> e.getValue).toArray
      }
      val slices = math.max(1,
        math.min(moves.size, spark.sparkContext.defaultParallelism))
      if (moves.nonEmpty)
        spark.sparkContext.parallelize(moves.map(m => (m._2, m._3)), slices)
          .foreach { case (src, dst) =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v) => conf.set(k, v) }
            val s = new Path(src)
            val d = new Path(dst)
            org.apache.hadoop.fs.FileUtil.copy(
              s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
          }
      val mapping = moves.map(m => m._1 -> m._3).toMap
      remapFiles(mapping)
      // sidecar entries: same bytes, new path — lengths are copy-invariant,
      // so the remapped lines stay valid cache hits
      val lines = (readSidecarFile(sidecarBase) ++
          sidecarSegments.foldLeft(Map.empty[String, (Long, FileMeta)])(
            (m, s) => m ++ readSidecarFile(s)))
        .map { case (p, (len, m)) =>
          sidecarLine(mapping.getOrElse(p, p), len, m) }
      if (lines.nonEmpty) {
        writeAtomic(sidecarBase, lines.toSeq.sorted.mkString("\n"))
        fs.delete(sidecarSegDir, true)
      }
      // row-id bases re-key to the local copies (same bytes, same rows);
      // this is what unlocks readWithRowIds on a materialized clone
      if (rowTrackingEnabled) {
        val (rn, rm) = readRowIds()
        writeAtomic(rowIdsFile, (Seq(s"#next\t$rn") ++
          rm.toSeq.map { case (p, b) => (mapping.getOrElse(p, p), b) }
            .sortBy(_._1).map { case (p, b) => s"${enc(p)}\t$b" })
          .mkString("\n"))
        fs.delete(rowIdsSegDir, true)
      }
      // bloom filters key by sha1(path): re-key by renaming each entry to
      // the local path's digest (same filter bytes — contents unchanged)
      val bloomDir = new Path(logDir, "_bloom.d")
      if (fs.exists(bloomDir)) fs.listStatus(bloomDir).foreach { colDir =>
        mapping.foreach { case (o, n) =>
          val src = BloomIndex.bfPath(colDir.getPath, o)
          if (fs.exists(src)) fs.rename(src, BloomIndex.bfPath(colDir.getPath, n))
        }
      }
      unsetProperties(Seq(shallowSourceProp))
      // self-contained now: any build can read it without the resolver
      dropFeature("shallow-clone")
      commit("MATERIALIZE", loggedPartitionCols(version))
    }
  }

  def cloneTo(targetPath: String): ManagedTable = {
    require(exists, s"cannot clone: $path does not exist")
    requireMaterialized("cloneTo")
    ensureBootstrapped()
    val dstRoot = new Path(targetPath)
    require(!fs.exists(dstRoot), s"clone target $targetPath already exists")
    val srcQ = qualifiedRoot
    val dstQ = fs.makeQualified(dstRoot).toString
    val rels = listParquet(new Path(path)).map { case (p, _) =>
      fs.makeQualified(new Path(p)).toString.stripPrefix(srcQ + "/")
    }
    fs.mkdirs(dstRoot)
    val slices = math.max(1, math.min(rels.size, spark.sparkContext.defaultParallelism))
    // the session's hadoop conf (object-store credentials/endpoints, fs
    // overrides from spark.hadoop.*) must reach the copy tasks: Configuration
    // isn't serializable, so ship its entries and rebuild per task — a fresh
    // `new Configuration()` here would silently drop session settings and
    // misresolve paths on S3A/ABFS, the stores the 100 TB design targets.
    val confEntries: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    spark.sparkContext.parallelize(rels, slices).foreach { rel =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      val s = new Path(srcQ + "/" + rel)
      val d = new Path(dstQ + "/" + rel)
      org.apache.hadoop.fs.FileUtil.copy(
        s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
    }
    val t = new ManagedTable(spark, targetPath)
    fs.mkdirs(t.logDir)
    // remap the stats cache (keyed path+len; lengths are copy-invariant)
    // so the CLONE commit's fileMeta is a pure cache hit: fold the
    // source's base + segments into the clone's compacted base
    val lines = (readSidecarFile(sidecarBase) ++
        sidecarSegments.foldLeft(Map.empty[String, (Long, FileMeta)])(
          (m, s) => m ++ readSidecarFile(s)))
      .map { case (p, (len, m)) =>
        sidecarLine(p.replace(srcQ + "/", dstQ + "/"), len, m) }
    if (lines.nonEmpty)
      t.writeAtomic(t.sidecarBase, lines.toSeq.sorted.mkString("\n"))
    // row-id bases carry path-rekeyed like the stats sidecar: the copied
    // bytes hold the same rows (and the same materialized id columns), so
    // each base — and the HWM — stays exactly right for the copy
    if (rowTrackingEnabled) {
      val (rn, rm) = readRowIds()
      t.writeAtomic(t.rowIdsFile, (Seq(s"#next\t$rn") ++
        rm.toSeq.sortBy(_._1).map { case (p, b) =>
          s"${enc(p.replace(srcQ + "/", dstQ + "/"))}\t$b" })
        .mkString("\n"))
    }
    // bloom DECLARATIONS carry over like constraints; the filters
    // themselves are keyed by file path, so the clone's CLONE commit
    // rebuilds them for the copied files via refreshBloomIndexes
    for (f <- Seq("_constraints.txt", "_generated.txt", "_bloom_cols.txt",
                  "_props.txt", "_identity.txt", "_protocol.txt")) {
      val src = new Path(logDir, f)
      if (fs.exists(src)) {
        val in = fs.open(src)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val out = fs.create(new Path(t.logDir, f), true)
        try out.write(txt.getBytes("UTF-8")) finally out.close()
      }
    }
    // deletion vectors travel with the byte-copied files (path-rekeyed to
    // the clone) — otherwise the clone would resurrect every DV-deleted row
    val dvClone = currentDv.map { case (p, a) => p.replace(srcQ + "/", dstQ + "/") -> a }
    t.withCommitLock { t.commit("CLONE", loggedPartitionCols(version),
      dvNew = if (dvClone.isEmpty) None else Some(dvClone)) }
    t
  }

  // ---- column mapping (Delta's columnMapping.mode = name) ----------------

  /** Whether the logical→physical name indirection is on
    * (`graft.columnMapping = name`): RENAME and DROP COLUMN become pure
    * metadata edits at any table size — the physical column name in the
    * files never changes; reads alias it. Delta's same trade: a 100 TB
    * rename is a one-line schema edit instead of a full rewrite.
    *
    * Time-travel naming: the LIVE mapping lives in `_props.txt` and
    * applies to current-version scans; additionally every commit made
    * while mapping is in play records its naming state into its manifest
    * ([[namingRecord]]), and `readVersion(v)` resolves v-ERA logical
    * names from that record — Delta's metaData-per-version resolution,
    * scoped to naming. Renames/drops under mapping land a zero-churn
    * commit ([[commitNamingChange]]) so the era boundary is a version
    * boundary. Manifests without a record (unmapped tables, versions
    * from before this build) fall back to the live mapping — the
    * previous behavior, still pinned in ColumnMappingSpec.
    */
  def columnMappingEnabled: Boolean =
    properties.get("graft.columnMapping").exists(_.equalsIgnoreCase("name"))

  /** Turn the mapping on. A READER feature: a build without it would
    * surface physical names as user data and resurrect dropped columns.
    */
  def enableColumnMapping(): Unit = withCommitLock {
    ensureBootstrapped()
    setProperties(Map("graft.columnMapping" -> "name"))
    ensureFeature("column-mapping", reader = true)
    // era boundary: versions at or above this commit carry a naming
    // record (identity, until the first rename/drop); versions below it
    // predate the mapping and resolve names as before
    commitNamingChange("SET COLUMN MAPPING")
  }

  // set only inside disableColumnMapping's rewrite: the snapshot being
  // written already carries LOGICAL names and must not be re-translated
  private var bypassPhysicalMapping = false

  /** Turn the mapping OFF: materialize the current logical snapshot,
    * rewrite the table so the files themselves carry logical names
    * (dead dropped-column data is reclaimed by the rewrite), then clear
    * the mode flag, the mapping and the dropped list — one locked
    * operation. Ordering is crash-safe: the rewrite lands FIRST, and
    * stale mapping properties over logical-named files are inert for
    * reads (no physical name matches), so a crash before the property
    * clear is healed by simply running this again. Once it returns,
    * `dropTableFeature("column-mapping")` succeeds and a build without
    * the feature reads the table correctly.
    */
  def disableColumnMapping(): Unit = withCommitLock {
    ensureBootstrapped()
    if (!columnMappingEnabled && columnMappingPairs.isEmpty &&
        droppedPhysicalCols.isEmpty) {
      // already unmapped — no rewrite needed, but the disable contract
      // ("the mode stays off even under ambient defaults") must still be
      // pinned into the table's OWN file: without it, a process-wide
      // GRAFT_PROPERTY_DEFAULTS=name introduced in a LATER session would
      // silently re-enable the mode on this table (advice r13 — the
      // early return was the one path that skipped the unconditional pin)
      if (!fileProperties.get("graft.columnMapping").contains("none"))
        setProperties(Map("graft.columnMapping" -> "none"))
      return
    }
    requireMaterialized("disableColumnMapping")
    // pin the LOGICAL rows before touching anything: the rewrite below
    // must not re-read through a half-cleared mapping
    val snap = read.localCheckpoint()
    val pcs = loggedPartitionCols(version)
    bypassPhysicalMapping = true
    try replaceWith(snap, pcs, "DISABLE COLUMN MAPPING")
    finally bypassPhysicalMapping = false
    // clear ALL schema-indirection metadata, not just the mapping: the
    // rewrite materialized every declared extra and widened type into the
    // files under logical names, so a surviving extras/types declaration
    // would resurface clash-remapped PHYSICAL field names as phantom null
    // columns once the mapping that translated them is gone (the same
    // hazard overwrite() clears these properties for)
    unsetProperties(Seq(
      "graft.columnMapping", "graft.schema.mapping", "graft.schema.dropped",
      "graft.schema.extras", "graft.schema.types"))
    // a process-wide default (GRAFT_PROPERTY_DEFAULTS / graft.defaults.*)
    // would re-enable the mode the moment the file property vanishes,
    // silently undoing this operation's contract — disable means DISABLE:
    // pin an explicit 'none' so the table's own props keep winning (the
    // config-matrix soak's columnMapping cell caught exactly this).
    // UNCONDITIONALLY: a default visible only in a LATER session must not
    // reopen the hole a disable-time check would leave (review r13)
    setProperties(Map("graft.columnMapping" -> "none"))
  }

  /** (logical, physical) pairs for columns whose names diverge — absent
    * columns map identically. Percent-encoded like every property value.
    */
  private def columnMappingPairs: Seq[(String, String)] =
    properties.get("graft.schema.mapping").map(_.split(",").toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf(':')
        (dec(kv.substring(0, i)), dec(kv.substring(i + 1)))
      }).getOrElse(Nil)

  private def setMappingProperty(pairs: Seq[(String, String)]): Unit =
    if (pairs.isEmpty) unsetProperties(Seq("graft.schema.mapping"))
    else setProperties(Map("graft.schema.mapping" ->
      pairs.map { case (l, p) => enc(l) + ":" + enc(p) }.mkString(",")))

  /** Physical names of mapped-away DROP COLUMN victims: their data stays
    * in the files (dead, reclaimed by the next full rewrite) but every
    * scan excludes them.
    */
  private def droppedPhysicalCols: Seq[String] =
    properties.get("graft.schema.dropped").map(_.split(",").toSeq
      .filter(_.nonEmpty).map(dec)).getOrElse(Nil)

  /** Physical→logical projection at the top of every scan: dropped
    * physical columns vanish, renamed ones surface under their logical
    * name. A plain select+alias, so Catalyst pushes pruning and filters
    * straight through it; file-stat skipping stays effective on renamed
    * columns because the readWhere-family lookups translate the logical
    * predicate name through [[physicalColName]] before touching the
    * sidecar.
    */
  private def mapToLogical(df: DataFrame): DataFrame = {
    // a readVersion in flight substitutes the v-ERA naming it resolved
    // from the manifest; every other scan applies the live properties
    val (pairs, dropped0) = scanNamingOverride.getOrElse(
      (columnMappingPairs, droppedPhysicalCols))
    val dropped = dropped0.map(_.toLowerCase).toSet
    if (pairs.isEmpty && dropped.isEmpty) return df
    val p2l = pairs.map { case (l, p) => p.toLowerCase -> l }.toMap
    df.select(df.columns.toSeq.collect {
      case c if !dropped(c.toLowerCase) =>
        p2l.get(c.toLowerCase).map(l => col(c).as(l)).getOrElse(col(c))
    }: _*)
  }

  /** Logical→physical rename right before a physical write: every data
    * file stays uniformly on PHYSICAL names whatever operation wrote it,
    * so the scan schema keeps one name per column across file
    * generations.
    */
  private def toPhysical(df: DataFrame): DataFrame = {
    if (bypassPhysicalMapping) return df
    val pairs = columnMappingPairs
    val dropped = droppedPhysicalCols
    if (pairs.isEmpty && dropped.isEmpty) return df
    // a passthrough column (one with no logical→physical pair) must not
    // land on a dropped or renamed-away PHYSICAL name still present in
    // old files: the write would succeed, but reads would hide it
    // (dropped) or surface it under the OTHER pair's logical name
    // (renamed-away). addColumns remaps exactly this clash to a fresh
    // physical name; the full-schema write paths reject instead and point
    // the caller there.
    val logical = pairs.map(_._1.toLowerCase).toSet
    val mappedAway = pairs.map(_._2.toLowerCase).toSet
    val droppedSet = dropped.map(_.toLowerCase).toSet
    df.columns.foreach { c =>
      val lc = c.toLowerCase
      if (!logical(lc) && (droppedSet(lc) || mappedAway(lc)))
        throw new IllegalArgumentException(
          s"column $c collides with a ${
            if (droppedSet(lc)) "dropped" else "renamed-away"} physical " +
            "column still present in this table's files; reintroduce it " +
            "with addColumns / ALTER TABLE ADD COLUMNS (which maps it to " +
            "a fresh physical name) instead of writing it directly")
    }
    // ONE simultaneous projection, not a sequential rename fold: chained
    // renames can make one pair's logical name equal another pair's
    // physical name (b→c then a→b gives pairs (c,b),(b,a)), and renaming
    // c→b first would collide with the live b before it renames to a
    df.select(df.columns.toSeq.map { c =>
      pairs.collectFirst { case (l, p) if l.equalsIgnoreCase(c) =>
        col(c).as(p) }.getOrElse(col(c))
    }: _*)
  }

  /** True iff any declared CHECK constraint or generated-column
    * expression references `colName` (word-boundary, case-insensitive —
    * conservative: a quoted-string mention also counts).
    */
  private def referencedByTableMeta(colName: String): Option[String] = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
    (constraints.map { case (n, e) => s"constraint $n" -> e } ++
      generatedColumns.map { case (n, e) => s"generated column $n" -> e })
      .collectFirst { case (what, e) if re.findFirstIn(e).isDefined => what }
  }

  /** ALTER TABLE … RENAME COLUMN. Plain parquet binds columns by NAME
    * (graft has no column-mapping indirection — that would make the live
    * dir unreadable to engines without the mapping), so a rename
    * rewrites the current snapshot, recorded as its own commit; earlier
    * versions still time-travel under their original schema. Renaming a
    * partition column or a column referenced by a CHECK constraint or
    * generated column is rejected.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    ensureBootstrapped()
    val names = read.schema.fieldNames
    require(names.exists(_.equalsIgnoreCase(oldName)), s"no such column: $oldName")
    if (names.exists(_.equalsIgnoreCase(newName))) {
      // a rename of a MATERIALIZED declared column that crashed between
      // its rewrite and the extras un-declare leaves this exact state:
      // newName in the files, oldName still declared (all-null). Point
      // the operator at the one-call cleanup instead of a dead end.
      val crashDebris = declaredExtraColumns.exists(_.name.equalsIgnoreCase(oldName)) &&
        !materializedAnywhere(oldName)
      throw new IllegalArgumentException(s"column $newName already exists" +
        (if (crashDebris) s"; $oldName is declared but materialized in no " +
          s"file — if a prior renameColumn($oldName, $newName) crashed " +
          s"between its rewrite and un-declare, dropColumn(\"$oldName\") " +
          "removes the leftover declaration"
        else ""))
    }
    val pcs = loggedPartitionCols(version)
    // mapping on: partition renames are legal — the `col=` dir names stay
    // physical, only the logical surface moves (Delta's columnMapping
    // behavior). Without the indirection the dir scheme IS the name, so
    // the rename stays refused.
    require(columnMappingEnabled || !pcs.exists(_.equalsIgnoreCase(oldName)),
      s"cannot rename partition column $oldName (enable column mapping " +
        "first: SET TBLPROPERTIES ('graft.columnMapping' = 'name'))")
    referencedByTableMeta(oldName).foreach(what => throw new IllegalArgumentException(
      s"cannot rename $oldName: referenced by $what (drop it first)"))
    // a stale identity declaration would make the rewrite's assignIdentities
    // resurrect the old name with fresh values
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(oldName)),
      s"cannot rename identity column $oldName (dropIdentityColumn first)")
    if (columnMappingEnabled) {
      // mapping on: a pure metadata edit at any size — the physical name
      // in the files never changes; reads alias it from here on. The
      // property edit and its naming commit serialize under the lease.
      withCommitLock {
        require(!bloomIndexes.keys.exists(_.equalsIgnoreCase(oldName)),
          s"cannot rename bloom-indexed column $oldName under column " +
            "mapping (dropBloomIndex first — the index is keyed by name)")
        val pairs = columnMappingPairs
        val physical = pairs.collectFirst {
          case (l, p) if l.equalsIgnoreCase(oldName) => p }.getOrElse(oldName)
        setMappingProperty(pairs.filterNot(_._1.equalsIgnoreCase(oldName)) ++
          (if (physical.equalsIgnoreCase(newName)) Nil
           else Seq(newName -> physical)))
        commitNamingChange("RENAME COLUMN")
      }
      return
    }
    if (declaredExtraColumns.exists(_.name.equalsIgnoreCase(oldName))
        && !materializedAnywhere(oldName)) {
      // a declared-only column lives purely in metadata: rename IS a
      // metadata edit, zero files rewritten
      setExtrasProperty(declaredExtraColumns.map(f =>
        if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
      return
    }
    replaceWith(read.withColumnRenamed(oldName, newName), pcs, "RENAME COLUMN")
    // the rewrite materialized every column, so any extras declaration
    // (oldName's or a bystander's) is now redundant — but oldName's MUST
    // go or reads would resurrect it as a null column; a type override
    // under the old name is dead too (new files carry the wide type)
    if (declaredExtraColumns.nonEmpty) setExtrasProperty(
      declaredExtraColumns.filterNot(_.name.equalsIgnoreCase(oldName)))
    if (declaredTypeOverrideFields.exists(_.name.equalsIgnoreCase(oldName)))
      setTypeOverrides(
        declaredTypeOverrideFields.filterNot(_.name.equalsIgnoreCase(oldName)))
  }

  /** Metadata-only ALTER TABLE ADD COLUMNS (Delta's schema-in-the-log
    * add): declare new nullable columns in table metadata — ZERO data
    * files rewritten. Reads serve them as typed nulls for files from
    * before the ALTER ([[parquetScan]]'s explicit-schema per-file
    * clipping); writes from here on conform to the widened schema, so the
    * columns materialize organically, and a full rewrite (OPTIMIZE /
    * REORG) materializes them everywhere. `ddl` is a Spark DDL column
    * list, e.g. `"score DOUBLE, tag STRING"`.
    *
    * Like constraints and properties, the declaration is CURRENT-state
    * metadata: time-travel reads also see the widened schema (older
    * snapshots read the column as null), and [[columnStats]] nullCount
    * for a declared column counts only files that materialized it.
    */
  def addColumns(ddl: String): Unit = {
    ensureBootstrapped()
    val adds = org.apache.spark.sql.types.StructType.fromDDL(ddl).fields.toSeq
    require(adds.nonEmpty, "ADD COLUMNS needs at least one column")
    require(adds.map(_.name.toLowerCase).distinct.size == adds.size,
      "duplicate column name in ADD COLUMNS")
    val existing = read.schema.fieldNames
    adds.foreach { f =>
      require(!existing.exists(_.equalsIgnoreCase(f.name)),
        s"column ${f.name} already exists")
    }
    // under column mapping, a re-added name must NOT bind to a dropped
    // (or renamed-away) physical column still present in old files — that
    // would resurrect its dead data as the new column's values. Declare
    // such adds under a fresh physical name and map the logical one.
    val clashes = (droppedPhysicalCols ++ columnMappingPairs.map(_._2))
      .map(_.toLowerCase).toSet
    val (plain, mapped) = adds.partition(f =>
      !columnMappingEnabled || !clashes(f.name.toLowerCase))
    val fresh = mapped.map { f =>
      val p = f.name + "_" + java.util.UUID.randomUUID().toString.take(8)
      (f.copy(name = p), f.name -> p)
    }
    setExtrasProperty(declaredExtraColumns ++ plain ++ fresh.map(_._1))
    if (fresh.nonEmpty) setMappingProperty(columnMappingPairs ++ fresh.map(_._2))
  }

  private def setExtrasProperty(
      extras: Seq[org.apache.spark.sql.types.StructField]): Unit =
    if (extras.isEmpty) unsetProperties(Seq("graft.schema.extras"))
    else setProperties(Map("graft.schema.extras" ->
      org.apache.spark.sql.types.StructType(extras).toDDL))

  /** Metadata-only ALTER COLUMN TYPE (Delta's type-widening table
    * feature): declare a LOSSLESS widening for an existing column — ZERO
    * files rewritten. Pre-ALTER files keep their narrow physical type and
    * the vectorized reader widens them per file under the requested
    * schema; appends from here on conform (upcast) to the wide type.
    * Allowed pairs: tinyint→smallint→int→bigint (any upward step),
    * float→double, tinyint/smallint/int→double (exact in a double's 53
    * bits; bigint→double is lossy and refused), decimal(p,s)→decimal
    * (p′,s′) with s′ ≥ s and p′−s′ ≥ p−s, and date→timestamp_ntz. Like
    * constraints, the declaration is current-state metadata: time-travel
    * reads also see the wide type.
    */
  def alterColumnType(colName: String, newTypeDdl: String): Unit = {
    ensureBootstrapped()
    import org.apache.spark.sql.types._
    val cur = read.schema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(s"no such column: $colName"))
    val to = StructType.fromDDL(s"`x` $newTypeDdl").fields(0).dataType
    require(!loggedPartitionCols(version).exists(_.equalsIgnoreCase(colName)),
      s"cannot change the type of partition column $colName")
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(colName)),
      s"cannot change the type of identity column $colName")
    def intRank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0); case ShortType => Some(1)
      case IntegerType => Some(2); case LongType => Some(3); case _ => None
    }
    val ok = (cur.dataType, to) match {
      case (a, b) if a == b => false
      case (f, t) if intRank(f).isDefined && intRank(t).isDefined =>
        intRank(f).get < intRank(t).get
      case (FloatType, DoubleType) => true
      case (f, DoubleType) => intRank(f).exists(_ <= 2)
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
    require(ok, s"cannot change $colName from ${cur.dataType.simpleString} " +
      s"to ${to.simpleString}: only lossless widenings are metadata-only " +
      "(rewrite through overwrite() for anything else)")
    // extras and type overrides live BELOW the column-mapping layer: both
    // are keyed by PHYSICAL name (the scan applies them before aliasing),
    // so a logical name passed here translates through the mapping first
    val physName = columnMappingPairs.collectFirst {
      case (l, p) if l.equalsIgnoreCase(colName) => p }.getOrElse(cur.name)
    // a declared-only extra just updates its declaration; a real column
    // records a type override the scan applies per file
    if (declaredExtraColumns.exists(_.name.equalsIgnoreCase(physName)))
      setExtrasProperty(declaredExtraColumns.map(f =>
        if (f.name.equalsIgnoreCase(physName)) f.copy(dataType = to) else f))
    else {
      val next = declaredTypeOverrideFields
        .filterNot(_.name.equalsIgnoreCase(physName)) :+ StructField(physName, to)
      setProperties(Map("graft.schema.types" -> StructType(next).toDDL))
    }
  }

  /** [[declaredTypeOverrides]] with original-case names, for rewriting
    * the property on ALTER/drop/rename.
    */
  private def declaredTypeOverrideFields: Seq[org.apache.spark.sql.types.StructField] =
    properties.get("graft.schema.types")
      .map(ddl => org.apache.spark.sql.types.StructType.fromDDL(ddl).fields.toSeq)
      .getOrElse(Nil)

  private def setTypeOverrides(
      fields: Seq[org.apache.spark.sql.types.StructField]): Unit =
    if (fields.isEmpty) unsetProperties(Seq("graft.schema.types"))
    else setProperties(Map("graft.schema.types" ->
      org.apache.spark.sql.types.StructType(fields).toDDL))

  /** True when any data file physically carries `colName` — the probe
    * that decides whether dropping/renaming a declared column needs a
    * rewrite at all (mergeSchema unions every footer, so a column present
    * in even one file is seen).
    */
  private def materializedAnywhere(colName: String): Boolean =
    // a shallow clone's live dir is empty (files under the source root);
    // claim "materialized" so the caller takes the rewrite path, whose
    // requireMaterialized raises the pointed materialize-first error
    isShallowClone || spark.read.option("mergeSchema", "true").parquet(path)
      .schema.fieldNames.exists(_.equalsIgnoreCase(colName))

  /** ALTER TABLE … DROP COLUMN — a rewrite of the current snapshot (see
    * [[renameColumn]] for why); old versions keep the column.
    */
  def dropColumn(colName: String): Unit = {
    ensureBootstrapped()
    require(read.schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"no such column: $colName")
    val pcs = loggedPartitionCols(version)
    require(!pcs.exists(_.equalsIgnoreCase(colName)),
      s"cannot drop partition column $colName")
    referencedByTableMeta(colName).foreach(what => throw new IllegalArgumentException(
      s"cannot drop $colName: referenced by $what (drop it first)"))
    require(!identityColumns.keys.exists(_.equalsIgnoreCase(colName)),
      s"cannot drop identity column $colName (dropIdentityColumn first)")
    if (columnMappingEnabled) {
      withCommitLock {
        require(!bloomIndexes.keys.exists(_.equalsIgnoreCase(colName)),
          s"cannot drop bloom-indexed column $colName under column mapping " +
            "(dropBloomIndex first)")
        val pairs = columnMappingPairs
        val physical = pairs.collectFirst {
          case (l, p) if l.equalsIgnoreCase(colName) => p }.getOrElse(colName)
        setMappingProperty(pairs.filterNot(_._1.equalsIgnoreCase(colName)))
        val declaredOnly =
          declaredExtraColumns.exists(_.name.equalsIgnoreCase(physical)) &&
            !materializedAnywhere(physical)
        // the column's data stays in the files (dead until the next full
        // rewrite); every scan excludes the physical name from here on —
        // unless it never materialized, where un-declaring suffices
        if (!declaredOnly) setProperties(Map("graft.schema.dropped" ->
          (droppedPhysicalCols :+ physical).map(enc).mkString(",")))
        if (declaredExtraColumns.exists(_.name.equalsIgnoreCase(physical)))
          setExtrasProperty(
            declaredExtraColumns.filterNot(_.name.equalsIgnoreCase(physical)))
        if (declaredTypeOverrideFields.exists(_.name.equalsIgnoreCase(physical)))
          setTypeOverrides(
            declaredTypeOverrideFields.filterNot(_.name.equalsIgnoreCase(physical)))
        commitNamingChange("DROP COLUMN")
      }
      return
    }
    if (declaredExtraColumns.exists(_.name.equalsIgnoreCase(colName))
        && !materializedAnywhere(colName)) {
      // declared-only column: the drop is a metadata edit (and a crash
      // between a materialized drop's rewrite and its un-declare below
      // retries into this branch, which completes the cleanup)
      setExtrasProperty(
        declaredExtraColumns.filterNot(_.name.equalsIgnoreCase(colName)))
      return
    }
    replaceWith(read.drop(colName), pcs, "DROP COLUMN")
    if (declaredExtraColumns.exists(_.name.equalsIgnoreCase(colName)))
      setExtrasProperty(
        declaredExtraColumns.filterNot(_.name.equalsIgnoreCase(colName)))
    if (declaredTypeOverrideFields.exists(_.name.equalsIgnoreCase(colName)))
      setTypeOverrides(
        declaredTypeOverrideFields.filterNot(_.name.equalsIgnoreCase(colName)))
  }

  /** DV state of the LATEST version, with a one-probe fast path: tables
    * that never used [[deleteVectored]] have no `_dv` dir, so every read
    * costs one existence check and zero log reads.
    */
  /** Whether the current version carries any live deletion-vector bitmap —
    * the exactness gate metadata-only rewrites check before substituting a
    * log-derived answer for a RAW (DV-unaware) scan's.
    */
  private[graft] def hasDeletionVectors: Boolean =
    currentDv.exists(_._2.nonEmpty)

  private def currentDv: Map[String, Array[Long]] =
    if (!fs.exists(dvDir)) Map.empty else dvMapForVersion(version)

  // NOTE a per-file scan split (clean files bypassing the filter, Delta's
  // per-file DV attachment) was measured and REVERTED: the memoized
  // expression already short-circuits rows of bitmap-free files to one
  // reference/memcmp check, while the two-branch union plan added a fixed
  // planning cost that outweighed it at every scale tested.
  def read: DataFrame = {
    requireReadable()
    // an unmaterialized shallow clone reads its pinned founding manifest
    // (files live under the SOURCE's root); everything else reads the dir
    if (isShallowClone) readVersionCurrentNames(version)
    else applyDv(parquetScan(spark.read, Seq(path), cacheSchema = true),
      currentDv)
  }

  /** Columns declared by a metadata-only ADD COLUMNS but not yet present
    * in every data file (Delta's schema-in-the-log role): until a rewrite
    * materializes them, files from before the ALTER simply lack the
    * column and must read null.
    */
  private def declaredExtraColumns: Seq[org.apache.spark.sql.types.StructField] =
    properties.get("graft.schema.extras")
      .map(ddl => org.apache.spark.sql.types.StructType.fromDDL(ddl).fields.toSeq)
      .getOrElse(Nil)

  /** The parquet scan of a `DataFrameReader` over `paths` — [[read]],
    * [[readVersion]], shallow-clone and row-id scans; the skipping reads
    * scan their kept files through [[scanKept]]'s index instead, and both
    * share the shaping in [[shapeScan]]. Without declared
    * extras this is exactly `rd.parquet(paths)`. With extras the scan
    * must NOT trust single-footer schema inference: after an ADD COLUMNS
    * the dir mixes pre-ALTER files (column absent) with post-ALTER files
    * (column present), and whichever footer inference samples, the other
    * population would be misread — an old footer silently DROPS the new
    * column's real data, a new footer happens to be right. So the scan
    * re-runs with an explicit schema = inferred ∪ missing extras: the
    * parquet reader then serves each file's absent columns as null (the
    * same per-file clipping Delta's log-schema reads rely on), both
    * populations read correctly, and column order is deterministic
    * because post-ALTER writers conform extras to the tail.
    */
  /** Widened types declared by a metadata-only ALTER COLUMN TYPE:
    * lower-cased column name → target type. Pre-ALTER files keep their
    * narrow physical type; the vectorized parquet reader widens per file
    * under the explicit requested schema (int→long, float→double,
    * int-family→double, decimal p/s growth, date→timestamp_ntz — each
    * verified lossless on this Spark build).
    */
  private def declaredTypeOverrides: Map[String, org.apache.spark.sql.types.DataType] =
    properties.get("graft.schema.types")
      .map(ddl => org.apache.spark.sql.types.StructType.fromDDL(ddl).fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap)
      .getOrElse(Map.empty)

  private def parquetScan(rd: org.apache.spark.sql.DataFrameReader,
                          paths: Seq[String],
                          keepRowId: Boolean = false,
                          cacheSchema: Boolean = false): DataFrame = {
    // cacheSchema (current-version ROOT scans only, single-footer
    // inference semantics): parquet schema inference is a footer-reading
    // SPARK JOB per scan — stack-sampling the table-op bench put
    // `rd.parquet(root)` at the top of the driver-gap profile, once per
    // managed read. The physical footer schema is a pure function of
    // (version, props signature) — the same key [[SchemaCache]] uses for
    // the logical schema, Delta's schema-in-the-log rationale — so replay
    // it explicitly and skip the inference job. mergeSchema readers
    // (readEvolved) and the resolved file-subset scans of readVersion and
    // shallow clones bypass the cache; the skipping reads replay it too,
    // through [[scanKept]]'s index rather than this reader.
    val inferred0 =
      if (!cacheSchema) rd.parquet(paths: _*)
      else {
        val (st, inferred) = physicalSchema(rd.parquet(paths: _*))
        inferred.getOrElse(rd.schema(st).parquet(paths: _*))
      }
    shapeScan(inferred0, st => rd.schema(st).parquet(paths: _*), keepRowId)
  }

  /** The logical shape of a physical scan `inferred0`: the row-id drop,
    * declared extras and widenings (re-opening the scan through `reopen`
    * with the explicit schema they need) and [[mapToLogical]]. Shared by
    * [[parquetScan]] and the skipping reads' [[scanKept]].
    */
  private def shapeScan(inferred0: DataFrame,
                        reopen: org.apache.spark.sql.types.StructType => DataFrame,
                        keepRowId: Boolean = false): DataFrame = {
    val extras = declaredExtraColumns
    val widen = declaredTypeOverrides
    // the materialized row-id column is internal: schema inference may or
    // may not sample a footer that carries it (maintenance rewrites
    // materialize file-by-file), so a plain scan DROPS it — the logical
    // schema stays deterministic whichever footer inference picked, and
    // Catalyst prunes the column out of the physical read. keepRowId
    // (row-id scans over all-materialized file groups, where inference
    // always sees the column) retains it, at the END of the normalized
    // order so schema evolution and ids compose.
    val inferred =
      if (keepRowId) inferred0 else inferred0.drop(RowTracking.col)
    if (extras.isEmpty && widen.isEmpty) return mapToLogical(inferred)
    // normalized field order — [data cols, declared extras, partition
    // cols] — so the schema is IDENTICAL before and after an extra
    // materializes: naive appending would put a not-yet-written extra
    // after the partition columns ([k,v,day,score]) but flip to
    // [k,v,score,day] on the first post-ALTER append (inference then
    // sees the column in a footer, ahead of the dir-derived partition
    // col), breaking positional consumers between the two states
    val ordered = if (extras.isEmpty) {
      // widen-only: types change in place, order needs no normalization —
      // and no partition-column (history) lookup on the hot read path
      inferred.schema.fields.toSeq
    } else {
      val pcs = scanPartitionCols
      val extraNames = extras.map(_.name.toLowerCase).toSet
      val fields = inferred.schema.fields
      val dataF = fields.filterNot(f =>
        pcs(f.name.toLowerCase) || extraNames(f.name.toLowerCase))
      val partF = fields.filter(f => pcs(f.name.toLowerCase))
      // the DECLARATION is the source of truth for an extra's type: every
      // write conformed to it, and after an alterColumnType widening the
      // declared type is wider than older files' — the explicit schema
      // widens those per file (preferring a sampled footer's type here
      // would make the schema nondeterministic and lose the widening)
      (dataF ++ extras ++ partF).toSeq
    }
    val withTypes = ordered.map(f =>
      widen.get(f.name.toLowerCase).map(t => f.copy(dataType = t)).getOrElse(f))
    mapToLogical(reopen(org.apache.spark.sql.types.StructType(withTypes)))
  }

  /** Partition-column set for [[parquetScan]]'s order normalization,
    * memoized per instance (invalidated by [[overwrite]], the only
    * layout-changing op): the alternative is a history-checkpoint read
    * on EVERY scan of a table with declared extras.
    */
  private var scanPartitionColsMemo: Option[Set[String]] = None
  private def scanPartitionCols: Set[String] = scanPartitionColsMemo match {
    case Some(s) => s
    case None =>
      // BOTH name spaces: the inferred fields this set is matched against
      // are pre-mapping (physical dir names), while loggedPartitionCols
      // surfaces logical ones
      val pcs = loggedPartitionCols(version)
      val s = (pcs ++ pcs.map(physicalColName)).map(_.toLowerCase).toSet
      scanPartitionColsMemo = Some(s); s
  }

  /** Manifest-pinned snapshot read — the consistent-read contract for
    * tables with CONCURRENT writers. The file list comes from the latest
    * commit's manifest, not a live directory listing, so an optimistic
    * publish in flight (staged files renamed in, manifest not yet
    * written — a milliseconds window, but real under a thousand readers)
    * and any out-of-band file debris are invisible; [[read]] stays the
    * live-listing form (cheapest, and the RECOVER machinery depends on
    * observing the raw dir). A concurrent rewrite that retires files this
    * snapshot references behaves like Delta's vacuum-vs-reader race: the
    * read fails on a missing file rather than returning wrong rows.
    */
  def readCommitted: DataFrame =
    if (version < 0) read else readVersionCurrentNames(version)

  /** Structured-Streaming source over the table (Delta's streaming-source
    * role): downstream jobs tail the table and see the files APPENDS add.
    * Appends-only contract, like Delta without ignoreChanges: a rewriting
    * mutation (MERGE/OVERWRITE/compaction) produces new files that would
    * re-emit — run those on tables consumed in batch, or restart the
    * stream from a fresh checkpoint after maintenance.
    */
  def readStream: DataFrame = {
    // a file-stream source tails the DIRECTORY; an unmaterialized shallow
    // clone's files live under the source root, so the stream would
    // silently see nothing — refuse pointedly (stream the SOURCE, or
    // materialize the clone first)
    if (isShallowClone) throw new UnsupportedOperationException(
      "readStream on an unmaterialized shallow clone: the file-stream " +
        "source tails the live dir, which is empty by design — stream " +
        "the clone source, or materialize() first")
    // DV filter applies with the map snapshotted at stream start; deletes
    // vectored AFTER that need a restart to take effect downstream (same
    // contract as the rewriting-mutation caveat above). The explicit
    // schema must be the PHYSICAL one (files carry physical names under
    // column mapping); the logical aliasing applies on top.
    applyDv(mapToLogical(
      spark.readStream.schema(toPhysical(read).schema).parquet(path)),
      currentDv)
  }

  /** Schema-evolved read (the reference's `mergeSchema`, deltalake.ipynb:
    * 4599 cell 25): unions the schemas of all files; rows from files
    * missing a column read null. Pair with [[append]]-ing a widened frame
    * for additive schema evolution.
    */
  def readEvolved: DataFrame =
    if (isShallowClone) readFileSubset(version, manifestFiles(version),
      mergeSchema = true)
    else applyDv(parquetScan(
      spark.read.option("mergeSchema", "true"), Seq(path)), currentDv)

  /** Streaming change-data-feed (Delta's `readChangeFeed` stream): each
    * micro-batch carries the insert/update/delete diff between the last
    * processed version and the current one, classified on `keys` —
    * [[graft.streaming.CdfStreamSource]] with offsets = table versions.
    * `startingVersion` < 0 (default) starts at the CURRENT version (future
    * changes only).
    */
  def readChangeStream(keys: Seq[String], startingVersion: Long = -1L,
                       maxVersionsPerTrigger: Long = -1L,
                       maxFilesPerTrigger: Long = -1L,
                       startingTimestamp: String = null,
                       maxBytesPerTrigger: Long = -1L,
                       initialSnapshot: Boolean = false): DataFrame = {
    var r = spark.readStream.format("graft.streaming.CdfSourceProvider")
      .option("path", path).option("keys", keys.mkString(","))
    if (initialSnapshot) r = r.option("initialSnapshot", "true")
    if (startingVersion >= 0) r = r.option("startingVersion", startingVersion.toString)
    if (startingTimestamp != null) r = r.option("startingTimestamp", startingTimestamp)
    if (maxVersionsPerTrigger >= 1) r = r.option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    if (maxFilesPerTrigger >= 1) r = r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    if (maxBytesPerTrigger >= 1) r = r.option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
    r.load()
  }

  /** Streaming read of the table's APPENDS — Delta's plain
    * `spark.readStream.format("delta")` role; see
    * [[graft.streaming.TableStreamSource]] for the commit classification
    * and the `ignoreDeletes` / `ignoreChanges` / `skipChangeCommits`
    * opt-outs for row-changing commits.
    */
  def readStreamAppends(startingVersion: Long = -1L,
                        maxVersionsPerTrigger: Long = -1L,
                        maxFilesPerTrigger: Long = -1L,
                        startingTimestamp: String = null,
                        ignoreDeletes: Boolean = false,
                        ignoreChanges: Boolean = false,
                        skipChangeCommits: Boolean = false,
                        initialSnapshot: Boolean = false,
                        maxBytesPerTrigger: Long = -1L): DataFrame = {
    var r = spark.readStream.format("graft.streaming.TableSourceProvider")
      .option("path", path)
    if (startingVersion >= 0) r = r.option("startingVersion", startingVersion.toString)
    if (startingTimestamp != null) r = r.option("startingTimestamp", startingTimestamp)
    if (maxVersionsPerTrigger >= 1) r = r.option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    if (maxFilesPerTrigger >= 1) r = r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    if (maxBytesPerTrigger >= 1) r = r.option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
    if (ignoreDeletes) r = r.option("ignoreDeletes", "true")
    if (ignoreChanges) r = r.option("ignoreChanges", "true")
    if (skipChangeCommits) r = r.option("skipChangeCommits", "true")
    if (initialSnapshot) r = r.option("initialSnapshot", "true")
    r.load()
  }

  def overwrite(df: DataFrame, partitionCols: Seq[String] = Nil): Unit = {
    if (exists) replaceWith(df, partitionCols, "OVERWRITE")
    else withCommitLock {
      val w = toPhysical(maybeOptimizeWrite(assignIdentities(df), partitionCols))
        .write.mode(SaveMode.Overwrite)
      withMicrosTs {
        (if (partitionCols.nonEmpty)
          w.partitionBy(partitionCols.map(physicalColName): _*)
        else w).parquet(path)
      }
      commit("OVERWRITE", partitionCols)
    }
    // an overwrite REDEFINES the schema from its frame: stale ADD COLUMNS
    // / ALTER COLUMN TYPE declarations describe the OLD schema — leaving
    // them would resurrect dropped columns as nulls or force a dead wide
    // type onto incompatible new files (an unreadable table). Cleared
    // after the commit: a crash in between leaves the documented
    // current-state-metadata staleness for exactly one retry, never data
    // loss (overwrite again, or unset the properties, recovers).
    if (properties.contains("graft.schema.extras") ||
        properties.contains("graft.schema.types"))
      unsetProperties(Seq("graft.schema.extras", "graft.schema.types"))
    scanPartitionColsMemo = None // the overwrite may have changed the layout
  }

  def append(df: DataFrame, partitionCols: Seq[String] = Nil,
             allowEvolution: Boolean = false): Unit =
    appendAs(df, partitionCols, "APPEND", allowEvolution)

  /** Delta-style write-time schema enforcement: align `df` to the table
    * schema before it reaches the files. Missing columns null-fill,
    * up-castable types widen, EXTRA columns and incompatible types are
    * rejected — a drifted producer fails loudly at the append instead of
    * silently mixing schemas into the directory. `allowEvolution` lets
    * extra columns through as additive evolution (readable via
    * [[readEvolved]]'s mergeSchema).
    */
  private def conform(df: DataFrame, allowEvolution: Boolean,
                      table: org.apache.spark.sql.types.StructType,
                      partitionCols: Seq[String]): DataFrame = {
    val partitionSet = partitionCols.map(_.toLowerCase).toSet
    // case-sensitive mode allows frames with columns differing only by
    // case; the lower-cased resolution map below would silently bind one
    // of them — reject the ambiguity instead
    val caseDupes = df.schema.fields.groupBy(_.name.toLowerCase)
      .filter(_._2.length > 1).values.flatten.map(_.name)
    if (caseDupes.nonEmpty)
      throw new IllegalArgumentException(
        s"ambiguous columns differing only by case: ${caseDupes.mkString(", ")}")
    val dfFields = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val tableNames = table.fields.map(_.name.toLowerCase).toSet
    val extra = df.schema.fields.filterNot(f => tableNames(f.name.toLowerCase))
    if (extra.nonEmpty && !allowEvolution)
      throw new IllegalArgumentException(
        s"schema mismatch: extra column(s) ${extra.map(_.name).mkString(", ")} " +
          "not in the table; pass allowEvolution=true for additive evolution")
    val aligned = table.fields.map { tf =>
      dfFields.get(tf.name.toLowerCase) match {
        case Some(f) if f.dataType == tf.dataType => col(f.name).as(tf.name)
        case Some(f) if org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(f.dataType, tf.dataType) =>
          col(f.name).cast(tf.dataType).as(tf.name)
        // partition columns read back through partition-value INFERENCE
        // (string "2024" on disk → int in read.schema), so the writer's
        // original type legitimately differs: cast to the inferred type
        // rather than rejecting the append. A string value that type
        // cannot hold ("x" beside "1", "2") is written as it is: the
        // directory names are the data, and inference then types the
        // column string
        case Some(f) if partitionSet(tf.name.toLowerCase) &&
            f.dataType == org.apache.spark.sql.types.StringType =>
          coalesce(col(f.name).try_cast(tf.dataType).cast("string"), col(f.name))
            .as(tf.name)
        case Some(f) if partitionSet(tf.name.toLowerCase) &&
            org.apache.spark.sql.catalyst.expressions.Cast
              .canCast(f.dataType, tf.dataType) =>
          col(f.name).cast(tf.dataType).as(tf.name)
        case Some(f) => throw new IllegalArgumentException(
          s"type mismatch for column ${tf.name}: " +
            s"write has ${f.dataType.simpleString}, table has ${tf.dataType.simpleString}")
        case None => generatedColumns.get(tf.name) match {
          // a declared generated column materializes from its expression
          case Some(e) =>
            org.apache.spark.sql.functions.expr(e).cast(tf.dataType).as(tf.name)
          case None => lit(null).cast(tf.dataType).as(tf.name)
        }
      }
    } ++ extra.map(f => col(f.name))
    df.select(aligned.toSeq: _*)
  }

  /** The table's logical read schema, or None when it cannot be
    * inferred (a partitioned dir whose rows were all deleted leaves no
    * data files), served from the process-wide [[SchemaCache]] when
    * possible: `read.schema` builds an InMemoryFileIndex over the ROOT —
    * an O(live files) listing that made EVERY append pay seconds at 1e5+
    * real files (found by stack-sampling the checkpoint A/B bench:
    * 185/200 samples inside `rd.parquet(root)`). Delta stores the schema
    * in the log (`metaData.schemaString`); the cache is the equivalent
    * here — keyed by (version, `_props.txt` signature) so ANY commit
    * (files moved) or property edit (declared extras / widenings /
    * column mapping change the logical schema without a commit) misses
    * and recomputes, unless the commit or edit provably kept the schema
    * and carried the entry ([[noteSchemaPreserved]], [[writeProperties]]),
    * so a hot blind-append writer lists the dir once per process, not
    * once per append.
    */
  private def tableSchemaOpt: Option[org.apache.spark.sql.types.StructType] = {
    val v = version
    val sig = propsSig
    SchemaCache.get(qualifiedRoot, v, sig).orElse {
      val s = try Some(read.schema) catch { case _: Exception => None }
      s.foreach(SchemaCache.put(qualifiedRoot, v, sig, _))
      s
    }
  }

  /** (len, mtime) of `_props.txt`, (0, 0) when absent — the schema-cache
    * component that moves on metadata-only schema edits (ADD COLUMNS,
    * type widening, column mapping) in THIS or any other process.
    */
  private def propsSig: (Long, Long) =
    try {
      val st = fs.getFileStatus(propsFile)
      (st.getLen, st.getModificationTime)
    } catch { case _: java.io.FileNotFoundException => (0L, 0L) }

  /** Run `commitIt` and hand the version it replaced's cached schemas
    * ([[PhysicalSchemaCache]], [[SchemaCache]]) on to the version it
    * created, when the commit provably keeps the root scan's inferred
    * schema — the single place a commit carries a schema. `wrote` is the
    * physical schema (`toPhysical(frame).schema`) of the frame the commit
    * wrote, None when it adopted files it did not write. The entry carries
    * when the commit wrote no data file, or wrote `wrote` and the new
    * version's partition directories infer exactly the carried partition
    * types (see [[keepsPhysicalSchema]]). The lookup is keyed by the
    * current properties signature, so a property edit inside the funnel
    * carries only what [[writeProperties]] itself re-keyed: edits to
    * schema-bearing keys drop the entries. Runs under the caller's lease.
    */
  private def noteSchemaPreserved(wrote: Option[org.apache.spark.sql.types.StructType])
                                 (commitIt: => Committed): Unit = {
    val c = commitIt
    val sig = propsSig
    PhysicalSchemaCache.get(qualifiedRoot, c.version - 1, sig)
      .filter(keepsPhysicalSchema(_, wrote, c)).foreach { st =>
        val logical = SchemaCache.get(qualifiedRoot, c.version - 1, sig)
        PhysicalSchemaCache.put(qualifiedRoot, c.version, sig, st)
        logical.foreach(SchemaCache.put(qualifiedRoot, c.version, sig, _))
      }
  }

  /** True iff the root scan of the version `c` created infers `st`, the
    * previous version's root schema, as far as [[shapeScan]] can tell. A
    * commit that moved no file keeps it. Otherwise the new root schema is
    * the data fields of the written files (`wrote`, minus the partition
    * columns the write split out; the previous data fields when `c` wrote
    * no file) followed by the partition columns Spark's partition
    * discovery infers over every live directory. That discovery is re-run
    * with `PartitioningUtils.parsePartitions`, the function
    * `InMemoryFileIndex` uses, so an added `p=x` beside `p=1` retypes `p`
    * to string, and removing the last `p=x` narrows it back. Compared
    * nullability aside (a file scan drops it), without declared extra
    * columns and with declared widened types: whichever footer inference
    * samples, [[shapeScan]] serves those from the declaration, so a
    * writer after ADD COLUMNS or ALTER COLUMN TYPE, whose files carry the
    * column when older footers do not, still carries. Files added without
    * a `wrote` schema were adopted, not written: never carried.
    */
  private def keepsPhysicalSchema(st: org.apache.spark.sql.types.StructType,
                                  wrote: Option[org.apache.spark.sql.types.StructType],
                                  c: Committed): Boolean =
    if (c.added.isEmpty && c.removed.isEmpty) true
    else {
      val data = if (c.added.isEmpty) Some(st) else wrote
      val rootLen = qualifiedRoot.length
      val parts = CommitLiveCache.get(qualifiedRoot, c.version).flatMap { s =>
        if (s.files.keysIterator.forall(_.lastIndexOf('/') == rootLen))
          Some(org.apache.spark.sql.types.StructType(Nil))
        else inferPartitionSchema(s.files.keys)
      }
      (data, parts) match {
        case (Some(d), Some(ps)) =>
          val split = (c.partitionCols ++ ps.fieldNames).map(_.toLowerCase).toSet
          val extras = declaredExtraColumns.map(_.name.toLowerCase).toSet
          val widen = declaredTypeOverrides
          def shaped(fs: Seq[org.apache.spark.sql.types.StructField]) =
            nullableDeep(org.apache.spark.sql.types.StructType(fs
              .filterNot(f => extras(f.name.toLowerCase))
              .map(f => widen.get(f.name.toLowerCase)
                .map(t => f.copy(dataType = t)).getOrElse(f))))
          shaped(d.fields.toSeq.filterNot(f => split(f.name.toLowerCase)) ++
            ps.fields) == shaped(st.fields.toSeq)
        case _ => false
      }
    }

  /** The partition schema Spark's partition discovery infers for a root
    * holding `files`, None when discovery rejects the layout.
    */
  private def inferPartitionSchema(files: Iterable[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    val dirs = files.iterator.map(f => f.substring(0, f.lastIndexOf('/')))
      .toSet.toSeq.map((d: String) => new Path(d))
    try Some(org.apache.spark.sql.execution.datasources.GraftPartitionDiscovery
      .partitionSchema(spark, new Path(qualifiedRoot), dirs))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The schema `df` is written with: its columns under their physical
    * names.
    */
  private def physicalSchemaOf(df: DataFrame): org.apache.spark.sql.types.StructType =
    toPhysical(df).schema

  /** `dt` with every field, element and value nullable: the shape a
    * parquet root scan reports whatever the writer's nullability.
    */
  private def nullableDeep(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullableDeep(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullableDeep(m.keyType), nullableDeep(m.valueType), valueContainsNull = true)
      case o => o
    }
  }

  private def appendAs(df: DataFrame, partitionCols0: Seq[String],
                       operation: String, allowEvolution: Boolean = false,
                       txn: Option[(String, Long)] = None): Unit =
    withCommitLock {
      requireMaterialized(operation)
      ensureBootstrapped()
      // an append NEVER redefines the layout (only OVERWRITE does): when
      // the caller passes no partition columns, inherit the table's — a
      // bare append(df) on a partitioned table must not scatter files at
      // the root and corrupt the directory scheme (Delta's appends take
      // the layout from table metadata for the same reason)
      val partitionCols =
        if (partitionCols0.nonEmpty) partitionCols0
        else if (version >= 0) loggedPartitionCols(version)
        else Nil
      val dfi = assignIdentities(df)
      val schema0 = if (exists) tableSchemaOpt else None
      val conformed0 = schema0
        .map(conform(dfi, allowEvolution, _, partitionCols)).getOrElse(dfi)
      // materialize BEFORE the check when constraints exist, so the rows the
      // check saw are exactly the rows the write persists (a nondeterministic
      // source could otherwise pass the check and write violating rows), and
      // the plan isn't computed twice
      val conformed =
        if (constraints.nonEmpty) conformed0.localCheckpoint() else conformed0
      enforceConstraints(conformed)
      // staged write + per-file publish renames, not a direct
      // SaveMode.Append: the commit then knows its exact adds and takes
      // the O(churn) manifest-is-truth path — and the crash window
      // shrinks to the rename loop, as in the MOR funnels
      val added = appendViaTmp(conformed, partitionCols)
      noteSchemaPreserved(Some(physicalSchemaOf(conformed))) {
        commit(operation, partitionCols, txn, churn = Some((added, Set.empty)))
      }
      maybeAutoCompact()
    }

  /** Delta's auto-compaction: when the `graft.autoCompact` table property
    * is set, an append that leaves ≥ `graft.autoCompact.minFiles`
    * (default 8) files under `graft.autoCompact.minFileBytes` (default
    * 16 MiB) triggers [[compactSmall]] as its own OPTIMIZE commit — run
    * reentrantly inside the lease on the locked append path, and OUTSIDE
    * the commit lease (own short lease, best-effort: any failure is
    * swallowed because the append already committed) on the optimistic
    * path. Streaming micro-batch sinks and
    * frequent small appends stop accreting a small-file problem that
    * waits for a maintenance window — at 100 TB the scan cost of a
    * thousand 1 MiB files is the difference between a partition prune and
    * a listing stampede. Time-travel semantics are unchanged (the append
    * version stays addressable; compaction is the next version).
    */
  private def maybeAutoCompact(): Unit =
    if (properties.get("graft.autoCompact").exists(_.equalsIgnoreCase("true"))) {
      val minBytes = properties.get("graft.autoCompact.minFileBytes")
        .flatMap(_.toLongOption).getOrElse(16L * 1024 * 1024)
      val minFiles = properties.get("graft.autoCompact.minFiles")
        .flatMap(_.toIntOption).getOrElse(8)
      val smallCount = listParquet(new Path(path))
        .count(_._2 < minBytes)
      if (smallCount >= minFiles)
        compactSmall(minFileBytes = minBytes)
    }

  /** Latest transaction version committed for `appId`, from the history
    * checkpoint (O(1) files) — Delta's `txnVersion(appId)`.
    */
  def lastTxnVersion(appId: String): Option[Long] =
    historyRows.flatMap(_.txn).collect { case (a, v) if a == appId => v }
      .maxOption

  /** Idempotent append (Delta's `txnAppId`/`txnVersion` option pair): the
    * write applies only if `txnVersion` is NEWER than the latest version
    * committed for `appId`; a replay of an already-committed version is a
    * no-op returning false. The (appId, version) marker is recorded inside
    * the same commit manifest as the data, so a crash between write and
    * marker is impossible and re-running a failed batch is always safe —
    * the exactly-once contract a Structured Streaming `foreachBatch` sink
    * needs (pass the sink's `batchId` as `txnVersion`):
    *
    * {{{
    * df.writeStream.foreachBatch { (batch, id) =>
    *   table.appendIdempotent(batch, "my-sink", id); ()
    * }
    * }}}
    *
    * The check runs under the commit lease, so two racing writers with the
    * same (appId, version) apply exactly one.
    */
  def appendIdempotent(df: DataFrame, appId: String, txnVersion: Long,
                       partitionCols: Seq[String] = Nil): Boolean =
    withCommitLock {
      if (lastTxnVersion(appId).exists(_ >= txnVersion)) false
      else {
        appendAs(df, partitionCols, "APPEND", txn = Some((appId, txnVersion)))
        true
      }
    }

  // ---- optimistic concurrency (blind-append OCC) -----------------------

  /** Test seam: runs after the staging write completes and BEFORE the
    * commit lease is taken — the window another writer's commit can land
    * in. Production never sets it.
    */
  private[table] var occBetweenStageAndCommit: () => Unit = () => ()

  /** Optimistic-concurrency append — Delta's blind-append OCC discipline.
    *
    * [[append]] holds the commit lease for the WHOLE mutation, so two
    * appenders serialize their data writes end-to-end; at 100 TB an ingest
    * job holds the table lock for hours. Here the expensive Spark write
    * runs against a `.tmp-` sibling dir with NO lease held (concurrent
    * stagers overlap fully), and the critical section shrinks to Delta's
    * commit shape: per-file renames into the live dir plus one manifest
    * write — milliseconds, so callers queue (`commitWaitMs`) instead of
    * failing fast.
    *
    * Conflict rules (checked under the lease, against the snapshot read at
    * stage time): a blind append commutes with concurrent APPEND / DELETE /
    * UPDATE / MERGE / OPTIMIZE — none of them touch files they cannot see,
    * and this table's live set is directory-derived, so earlier commits
    * never reference the staged files. It CONFLICTS — throwing
    * `ConcurrentModificationException`, staged files reaped — only when an
    * intervening commit invalidated the staging itself:
    *  - the table schema changed (the staged files would mix schemas);
    *  - the partition layout changed (the staged relative paths are wrong);
    *  - the CHECK constraints changed (rows were validated against a stale
    *    rule set).
    * This mirrors Delta, where blind appends survive everything except
    * metadata/protocol changes.
    *
    * Tables with identity columns fall back to the fully-locked [[append]]:
    * their high-water-mark allocation must serialize. Schema evolution is
    * deliberately unsupported — an evolving append is not blind.
    */
  def appendOptimistic(df: DataFrame, partitionCols: Seq[String] = Nil,
                       commitWaitMs: Long = 60000L): Unit = {
    occAppend(df, partitionCols, txn = None, commitWaitMs); ()
  }

  /** [[appendOptimistic]] with [[appendIdempotent]]'s replay marker: the
    * (appId, txnVersion) check runs under the same short lease as the
    * commit, so racing replays of one micro-batch stage in parallel but
    * exactly one applies (the loser's staged files are reaped). Returns
    * false on a detected replay.
    *
    * Durability caveat shared with every append on this table (the locked
    * [[appendIdempotent]] included): the live set is directory-derived, so
    * a crash in the window between [[publishStaged]]'s renames and the
    * manifest write leaves published files that the next RECOVER folds in
    * WITHOUT the txn marker — a streaming replay of that batch then
    * duplicates its rows. Delta doesn't have this window (unmanifested
    * files stay invisible); here the contract is exactly-once for every
    * batch whose commit completed and at-least-once across a crash inside
    * that milliseconds-wide publish window.
    */
  def appendIdempotentOptimistic(df: DataFrame, appId: String,
                                 txnVersion: Long,
                                 partitionCols: Seq[String] = Nil,
                                 commitWaitMs: Long = 60000L): Boolean =
    occAppend(df, partitionCols, Some((appId, txnVersion)), commitWaitMs)

  /** Under the commit lease: validate that every commit between `v0` and
    * the current version commutes with a write staged against `v0`'s
    * snapshot, throwing `ConcurrentModificationException` otherwise.
    *
    *  - `commuting = None`: any operation commutes (a blind append cares
    *    only about schema/layout/constraint drift). `Some(set)`: only the
    *    named operations commute — the read-modify-write DML paths pass
    *    the blind-append set, because anything else may have moved,
    *    rewritten or re-bitmapped the files their stage read or marked.
    *  - Constraint drift is checked UNCONDITIONALLY: constraints are a
    *    metadata-only write with no version bump to hide behind.
    *  - `pcs0`/`schema0` check partition-layout and schema drift for
    *    stages that wrote data files against the old layout.
    */
  private def occValidate(what: String, v0: Long,
                          cons0: Map[String, String],
                          commuting: Option[Set[String]],
                          pcs0: Option[Seq[String]] = None,
                          schema0: Option[Option[org.apache.spark.sql.types.StructType]] = None): Unit = {
    val v1 = version
    def conflict(why: String): Nothing = {
      val ops = historyRows.filter(r => r.version > v0 && r.version <= v1)
        .sortBy(_.version).map(r => s"v${r.version}:${r.operation}")
      val via = if (ops.isEmpty) "a metadata-only write"
        else s"intervening: ${ops.mkString(", ")}"
      throw new java.util.ConcurrentModificationException(
        s"optimistic $what on $path staged against version $v0 but " +
          s"$why by the time it committed ($via); re-stage against " +
          "the current version and retry")
    }
    if (constraints != cons0) conflict("the CHECK constraints changed")
    if (v1 != v0) {
      commuting.foreach { ok =>
        val bad = historyRows.filter(r => r.version > v0 && r.version <= v1)
          .filterNot(r => ok(r.operation))
        if (bad.nonEmpty) conflict("non-commuting operation(s) committed")
      }
      pcs0.foreach(p => if (loggedPartitionCols(v1) != p)
        conflict("the partition layout changed"))
      schema0.foreach(s0 => if (tableSchemaOpt != s0)
        conflict("the table schema changed"))
    }
  }

  /** The operations that commute with a stage computed from an older
    * snapshot in the read-modify-write DML paths: blind appends only —
    * under write-serializable isolation the staged DML logically precedes
    * them, and they never move, rewrite or re-bitmap existing files.
    */
  private val occBlindAppendOps = Set("APPEND", "COPY INTO")

  /** The commuting set for optimistic DML at THIS table's isolation level
    * (Delta's `delta.isolationLevel`, table property
    * `graft.isolationLevel`, default WriteSerializable). Under
    * `Serializable` nothing commutes with a read-modify-write stage: a
    * DELETE committing after a concurrent blind append would have to
    * cover the appended rows for the history to serialize in commit
    * order, so the staged (append-blind) bitmaps conflict. Blind appends
    * themselves commute under BOTH levels — they read nothing, so
    * delete-then-append is a serial history either way (exactly Delta's
    * matrix, where the DELETE side, not the append, pays for
    * Serializable). Read under the commit lease, so the level in force
    * at commit time decides.
    */
  private def occDmlCommuting: Set[String] =
    if (properties.get("graft.isolationLevel").exists(_.equalsIgnoreCase("Serializable")))
      Set.empty
    else occBlindAppendOps

  /** True when `txn`'s (appId, version) is already committed — shared by
    * the leaseless pre-probe and the authoritative under-lease check.
    */
  private def txnReplayed(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, tv) => lastTxnVersion(app).exists(_ >= tv) }

  private def occAppend(df: DataFrame, partitionCols0: Seq[String],
                        txn: Option[(String, Long)],
                        commitWaitMs: Long): Boolean = {
    requireMaterialized("APPEND")
    // founding write (no concurrency to overlap) and identity tables (the
    // high-water mark allocates under the lease) take the locked path
    // (which inherits the logged layout itself)
    if (!exists || identityColumns.nonEmpty) {
      txn match {
        case Some((app, tv)) => return appendIdempotent(df, app, tv, partitionCols0)
        case None => append(df, partitionCols0); return true
      }
    }
    ensureBootstrapped()
    // cheap leaseless replay probe BEFORE the expensive stage: a streaming
    // restart replays its last batch every time, and staging a large batch
    // just to discover the marker under the lease is a full wasted data
    // write. Races are fine — the authoritative check re-runs under the
    // lease below.
    if (txnReplayed(txn)) return false
    // ---- stage (leaseless; the expensive part) ----
    val v0 = version
    val pcs0 = loggedPartitionCols(v0)
    // layout inheritance reads the SAME v0 snapshot occValidate later
    // compares against — reading it any earlier would let a concurrent
    // layout change slip between the two and stage files under a layout
    // the validation never checks
    val partitionCols =
      if (partitionCols0.nonEmpty) partitionCols0 else pcs0
    val schema0 = tableSchemaOpt
    val cons0 = constraints
    val conformed0 = schema0.map(conform(df, allowEvolution = false, _,
      partitionCols)).getOrElse(df)
    val conformed =
      if (cons0.nonEmpty) conformed0.localCheckpoint() else conformed0
    enforceConstraints(conformed)
    var tmp: Path = null
    try {
      tmp = stageToTmp(conformed, partitionCols)
      occBetweenStageAndCommit()
      // ---- validate + publish (short lease; Delta's commit shape) ----
      val applied = withCommitLockWait(commitWaitMs) {
        if (txnReplayed(txn)) false
        else {
          // Delta's conflict matrix: a blind INSERT conflicts with nothing
          // under WriteSerializable; under Serializable it conflicts with
          // concurrent DELETE/UPDATE/MERGE (serializing in commit order
          // would require those to have covered the appended rows) but
          // still commutes with other appends and file reorganizations
          val appendCommuting =
            if (properties.get("graft.isolationLevel")
                .exists(_.equalsIgnoreCase("Serializable")))
              Some(occBlindAppendOps ++ Set("OPTIMIZE", "PURGE"))
            else None
          occValidate("append", v0, cons0, commuting = appendCommuting,
            pcs0 = Some(pcs0), schema0 = Some(schema0))
          val added = publishStaged(tmp)
          noteSchemaPreserved(Some(physicalSchemaOf(conformed))) {
            commit("APPEND", partitionCols, txn, churn = Some((added, Set.empty)))
          }
          true
        }
      }
      // best-effort maintenance OUTSIDE the commit: the append itself has
      // COMMITTED, so NO compaction failure — a lost lease race, a Spark
      // rewrite error, a transient store fault — may surface here as an
      // append failure (the caller would retry into duplicate rows). The
      // next append past the threshold re-triggers compaction.
      if (applied) try maybeAutoCompact() catch {
        case scala.util.control.NonFatal(_) => ()
      }
      applied
    } finally {
      // conflict, replay or crash-before-publish: the staged sibling is
      // debris (also [[vacuum]]-reaped if this cleanup itself dies)
      reapStage(tmp)
    }
  }

  // ---- COPY INTO (idempotent file ingestion) ---------------------------

  private def copyLoadDir = new Path(logDir, "_copy_loaded.d")

  /** Source files already ingested by [[copyInto]]: the union of the
    * per-commit load segments whose version actually COMMITTED. A segment
    * written for a version above the current one is the orphan of a copy
    * that crashed between segment write and commit — it is ignored here
    * and overwritten by the next attempt, so a crash can neither lose a
    * batch (files marked loaded but never committed) nor duplicate one
    * (files committed but never marked). Segment size is proportional to
    * the files EACH copy ingested, never the table, so the metadata cost
    * of the loaded-set scales with the ingest history like Delta's
    * per-commit add-file log.
    */
  private def copyLoadedSet(): Set[String] =
    if (!fs.exists(copyLoadDir)) Set.empty
    else {
      val cur = version
      fs.listStatus(copyLoadDir).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith("v") && n.endsWith(".txt") &&
            n.stripPrefix("v").stripSuffix(".txt").forall(_.isDigit) &&
            n.stripPrefix("v").stripSuffix(".txt").toLong <= cur
        }
        .flatMap { p =>
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .map(dec).toList
          finally in.close()
        }.toSet
    }

  /** Delta's `COPY INTO`: ingest the files under `srcDir` matching
    * `pattern` (default `*.parquet` / `*.csv` by format), skipping every
    * file a previous copy already loaded — re-running the same statement
    * after new files land ingests ONLY the new ones, and re-running it
    * unchanged is a no-op. The retry-safe landing-zone pattern: producers
    * drop immutable files, the scheduled COPY INTO drains them, crashes
    * and replays are free. `force = true` reloads matches regardless
    * (Delta's COPY_OPTIONS force). Returns (filesLoaded, rowsLoaded).
    *
    * CSV reads take the TABLE's schema when it exists (header/sep/etc.
    * via `options`); a first copy into an empty table needs the shape
    * options (`header`, `inferSchema`) to carry the schema.
    *
    * Deliberately FULLY locked (no optimistic variant): the crash-safety
    * protocol names the load-marker segment for the exact version the
    * append will commit, so the loaded-set check, marker write and commit
    * must see one version number — staging the data leaseless would let a
    * concurrent copy load the same files between check and commit. A
    * landing zone has one scheduled drainer; concurrent-ingest tables use
    * [[appendOptimistic]].
    */
  def copyInto(srcDir: String, format: String = "parquet",
               options: Map[String, String] = Map.empty,
               pattern: Option[String] = None,
               force: Boolean = false): (Long, Long) = withCommitLock {
    requireMaterialized("COPY INTO")
    ensureBootstrapped()
    val fmt = format.toLowerCase
    require(fmt == "parquet" || fmt == "csv",
      s"COPY INTO supports FILEFORMAT parquet|csv, got $format")
    val glob = pattern.getOrElse(if (fmt == "csv") "*.csv" else "*.parquet")
    val all = Option(fs.globStatus(new Path(new Path(srcDir), glob)))
      .getOrElse(Array.empty)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => fs.makeQualified(st.getPath).toString).sorted.toSeq
    val loaded = if (force) Set.empty[String] else copyLoadedSet()
    val fresh = all.filterNot(loaded)
    if (fresh.isEmpty) (0L, 0L)
    else {
      val reader = spark.read.options(options)
      val df = fmt match {
        case "csv" => tableSchemaOpt match {
          case Some(s) if exists => reader.schema(s).csv(fresh: _*)
          case _ => reader.csv(fresh: _*)
        }
        case _ => reader.parquet(fresh: _*)
      }
      // the load segment is named for the version the append WILL commit
      // and written first: committed-but-unmarked is impossible, and an
      // unmarked orphan (crash before commit) is invisible to the next
      // read of the loaded-set (version-gated above)
      val target = version + 1
      writeAtomic(new Path(copyLoadDir, f"v$target%05d.txt"),
        fresh.sorted.map(enc).mkString("\n"))
      val rowsBefore = if (exists) countFast() else 0L
      appendAs(df, loggedPartitionCols(version), "COPY INTO")
      (fresh.size.toLong, countFast() - rowsBefore)
    }
  }

  // ---- symlink manifests (Delta's GENERATE symlink_format_manifest) ----

  private def symlinkDir = new Path(path, "_symlink_format_manifest")
  private val symlinkAutoProp = "graft.symlink.autoManifest"

  /** Delta's `GENERATE symlink_format_manifest`: write
    * `_symlink_format_manifest/[<partition dirs>/]manifest` text files,
    * each listing the CURRENT snapshot's absolute data-file paths (one
    * per line) — the handshake engines without a commit-log reader
    * (Presto/Trino/Athena/Hive external tables) use to see a consistent
    * snapshot instead of a directory race. Partitioned tables get one
    * manifest per partition directory, so external partition pruning
    * keeps working. Regeneration replaces the whole tree (dropped
    * partitions disappear); with the `graft.symlink.autoManifest` table
    * property set, every commit regenerates automatically — Delta's
    * `symlinkFormatManifest.enabled`.
    *
    * Refused while any deletion vector is live: the listed files contain
    * rows the snapshot has deleted, and an external reader would
    * resurrect them (Delta refuses DV tables the same way). `purgeDeletes`
    * first. At 100 TB the write is O(files) driver text output — the same
    * cost class as a commit checkpoint manifest.
    */
  def generateSymlinkManifest(): Unit = {
    requireMaterialized("GENERATE symlink_format_manifest")
    requireReadable()
    require(currentDv.isEmpty,
      s"cannot generate a symlink manifest for $path: live deletion " +
        "vectors mark deleted rows inside the listed files and an " +
        "external reader would resurrect them — run purgeDeletes() first")
    val files = listParquet(new Path(path))
      .map { case (p, _) => fs.makeQualified(new Path(p)).toString }
    writeSymlinkTree(files)
  }

  private def writeSymlinkTree(files: Seq[String]): Unit = {
    require(files.forall(_.startsWith(qualifiedRoot + "/")),
      s"symlink manifest for $path: snapshot references files outside " +
        "the table root (unmaterialized clone?)")
    if (fs.exists(symlinkDir)) fs.delete(symlinkDir, true)
    files.groupBy { f =>
      val rel = f.stripPrefix(qualifiedRoot + "/")
      val cut = rel.lastIndexOf('/')
      if (cut < 0) "" else rel.substring(0, cut)
    }.foreach { case (relDir, fls) =>
      val dir = if (relDir.isEmpty) symlinkDir else new Path(symlinkDir, relDir)
      fs.mkdirs(dir)
      writeAtomic(new Path(dir, "manifest"), fls.sorted.mkString("\n"))
    }
  }

  /** Current snapshot's manifest-listed files (flat), for consumers and
    * tests; empty when no manifest has been generated.
    */
  def symlinkManifestFiles(): Seq[String] = {
    if (!fs.exists(symlinkDir)) return Nil
    def walk(d: Path): Seq[Path] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName == "manifest") Seq(st.getPath)
        else Nil
      }
    walk(symlinkDir).flatMap(p =>
      readTextFully(p).linesIterator.filter(_.nonEmpty).toSeq).sorted
  }

  // ---- row tracking (Delta's row-tracking table feature) ---------------

  private def rowIdsFile = new Path(logDir, "_rowids.txt")
  private def rowIdsSegDir = new Path(logDir, "_rowids.d")
  private val rowTrackingProp = "graft.rowTracking"

  /** True when row tracking is enabled on this table. */
  def rowTrackingEnabled: Boolean =
    properties.get(rowTrackingProp).contains("true")

  /** Enable row tracking: every CURRENT file gets an id base immediately
    * (so [[readWithRowIds]] works without waiting for a commit), new
    * files get theirs at commit time, and maintenance rewrites start
    * materializing ids. Ids are unique over the table's lifetime — the
    * high-water mark only advances. Refused when any file already carries
    * a materialized id column this table has no record of (a deep clone
    * of a tracked table): fresh bases could collide with those ids.
    */
  def enableRowTracking(): Unit = withCommitLock {
    requireMaterialized("row tracking")
    ensureBootstrapped()
    val files = listParquet(new Path(path))
      .map { case (p, l) => (fs.makeQualified(new Path(p)).toString, l) }
    val metas = fileMeta(files)
    val (_, ids) = readRowIds()
    val orphanMaterialized = files.map(_._1).filter(f =>
      !ids.contains(f) && metas(f).stats.contains(RowTracking.col))
    require(orphanMaterialized.isEmpty,
      s"cannot enable row tracking on $path: ${orphanMaterialized.size} " +
        "file(s) carry materialized row ids with no recorded base (a deep " +
        "clone of a tracked table?) — fresh ids could collide with them")
    setProperties(Map(rowTrackingProp -> "true"))
    assignRowIds(files.map(_._1), metas)
    // a writer feature: any build can still READ (plain scans drop the
    // materialized column); the reader gate arrives with the first
    // materialized file, which an unaware build would misread as data
    ensureFeature("row-tracking", reader = false)
  }

  /** (high-water mark, path → base; base −1 = materialized ids in-file),
    * folded from the base file plus assignment segments. A path is
    * assigned exactly once, so merge order is immaterial; the HWM is the
    * max across every piece.
    */
  private def readRowIds(): (Long, Map[String, Long]) = {
    def parse(p: Path): (Long, Map[String, Long]) =
      if (!fs.exists(p)) (0L, Map.empty)
      else {
        var next = 0L
        val m = readTextFully(p).linesIterator.flatMap { l =>
          scala.util.Try(l.split('\t') match {
            case Array("#next", n) => next = math.max(next, n.toLong); None
            case Array(pp, b) => Some(dec(pp) -> b.toLong)
            case _ => None
          }).toOption.flatten
        }.toMap
        (next, m)
      }
    val (n0, m0) = parse(rowIdsFile)
    if (!fs.exists(rowIdsSegDir)) (n0, m0)
    else fs.listStatus(rowIdsSegDir).map(_.getPath).sortBy(_.getName)
      .foldLeft((n0, m0)) { case ((n, m), seg) =>
        val (ns, ms) = parse(seg)
        (math.max(n, ns), m ++ ms)
      }
  }

  /** Persist bases for files lacking one. Writes a SEGMENT per batch —
    * never the O(live files) base file — so a streaming-append table pays
    * O(new files) metadata per commit (the stats sidecar's same
    * discipline); segments compact into a live-pruned base past a
    * threshold. Files whose footer carries the materialized column
    * (sentinel in `metas`) record −1. Caller holds the lease.
    */
  private def assignRowIds(files: Seq[String],
                           metas: Map[String, FileMeta]): Unit = {
    val (next0, ids) = readRowIds()
    val fresh = files.filterNot(ids.contains).sorted
    if (fresh.isEmpty) return
    var next = next0
    val entries = fresh.map { f =>
      if (metas(f).stats.contains(RowTracking.col)) f -> -1L
      else { val b = next; next += metas(f).rows; f -> b }
    }
    // first materialized file: gate readers — an unaware build's scan
    // would surface the id column as data (nondeterministically, by
    // whichever footer inference samples)
    if (entries.exists(_._2 == -1L)) ensureFeature("row-tracking", reader = true)
    fs.mkdirs(rowIdsSegDir)
    writeAtomic(new Path(rowIdsSegDir,
      java.util.UUID.randomUUID().toString + ".txt"),
      (Seq(s"#next\t$next") ++ entries.map { case (p, b) => s"${enc(p)}\t$b" })
        .mkString("\n"))
    if (fs.listStatus(rowIdsSegDir).length > sidecarCompactAt) {
      val (n, m) = readRowIds()
      // prune: keep entries for LIVE files and for files some retained
      // snapshot still holds — version-pinned row-id reads
      // ([[readVersionWithRowIds]]) resolve retired files through their
      // original keys, so dropping those entries would break time travel
      // inside the retention window. VACUUM deletes the retained dirs;
      // the next compaction here then drops their entries too.
      val live = files.toSet
      // ONE recursive listing per retained dir — never a per-(entry,dir)
      // fs.exists probe matrix (O(entries*dirs) RPCs on an object store)
      val retainedRel: Set[String] = retainedDirsOnDisk.flatMap { rd =>
        val rdq = fs.makeQualified(new Path(rd)).toString
        listParquet(new Path(rd)).map(f =>
          fs.makeQualified(new Path(f._1)).toString.stripPrefix(rdq + "/"))
      }.toSet
      def keep(p: String): Boolean = live(p) || {
        val rel = p.stripPrefix(qualifiedRoot + "/")
        rel != p && retainedRel(rel)
      }
      writeAtomic(rowIdsFile, (Seq(s"#next\t$n") ++
        m.filter(kv => keep(kv._1)).toSeq.sortBy(_._1)
          .map { case (p, b) => s"${enc(p)}\t$b" }).mkString("\n"))
      fs.delete(rowIdsSegDir, true)
    }
  }

  /** Current snapshot with the stable [[RowTracking.col]] id column —
    * fresh files compute `base + row_index` through a codegen'd map probe
    * ([[FileBaseRowId]], zero shuffle, zero join); materialized files
    * read the physical column. Deletion vectors filter as everywhere;
    * surviving rows keep their ids by construction.
    */
  def readWithRowIds: DataFrame = {
    requireReadable()
    require(!isShallowClone,
      s"readWithRowIds on $path: materialize() the shallow clone first")
    require(rowTrackingEnabled,
      s"row tracking is not enabled on $path (enableRowTracking())")
    val files = listParquet(new Path(path))
      .map(p => fs.makeQualified(new Path(p._1)).toString)
    if (files.isEmpty)
      return read.withColumn(RowTracking.col, lit(-1L))
    scanWithRowIds(files, currentDv)
  }

  /** Row-id-carrying scan of an explicit live-file subset — the shared
    * read of [[readWithRowIds]] and the materializing maintenance
    * rewrites. Output column order: table columns, then the id.
    */
  private def scanWithRowIds(files: Seq[String],
                             dv: Map[String, Array[Long]]): DataFrame = {
    val (_, ids) = readRowIds()
    val missing = files.filterNot(ids.contains)
    require(missing.isEmpty, s"no row-id base recorded for " +
      s"${missing.take(3).mkString(", ")}${if (missing.size > 3) " …" else ""}")
    rowIdScan(files, files.map(f => f -> f).toMap, ids, dv)
  }

  /** The fresh/materialized scan assembly [[scanWithRowIds]] and
    * [[readVersionWithRowIds]] share: `where` resolves each manifest path
    * to where it lives NOW, `ids` keys by MANIFEST path (−1 =
    * materialized). Both groups scan through [[parquetScan]] (via
    * [[scanResolved]]) so declared extras / type widening normalize
    * exactly as on the plain read path; the fresh group's base+row_index
    * id computes per scan GROUP, before any union erases `_metadata`.
    */
  private def rowIdScan(files: Seq[String], where: Map[String, String],
                        ids: Map[String, Long],
                        dv: Map[String, Array[Long]]): DataFrame = {
    val (mat, freshF) = files.partition(f => ids(f) == -1L)
    def ordered(df: DataFrame): DataFrame =
      df.select((df.columns.filterNot(_ == RowTracking.col).map(col) :+
        col(RowTracking.col)).toSeq: _*)
    val parts = Seq(
      if (freshF.isEmpty) None else Some {
        val bases = freshF
          .map(f => new Path(where(f)).toString -> ids(f)).toMap
        ordered(scanResolved(freshF.map(where), dv, tap =
          _.withColumn(RowTracking.col,
            FileBaseRowId(col("_metadata.file_path"), bases) +
              col("_metadata.row_index"))))
      },
      if (mat.isEmpty) None else Some(
        ordered(scanResolved(mat.map(where), dv, keepRowId = true)))
    ).flatten
    parts.reduce(_ unionByName _)
  }

  /** Version-pinned [[readWithRowIds]] (time travel with stable ids):
    * bases are append-only per file path and retired files resolve to
    * their retained snapshot locations, so any un-vacuumed version reads
    * back with the SAME ids current reads serve — the foundation of
    * [[changesById]]. Works from the version's own deletion-vector state.
    */
  def readVersionWithRowIds(v: Long): DataFrame = {
    requireReadable()
    require(!isShallowClone,
      s"readVersionWithRowIds on $path: materialize() the clone first")
    require(rowTrackingEnabled,
      s"row tracking is not enabled on $path (enableRowTracking())")
    val files = manifestFiles(v)
    if (files.isEmpty)
      return readVersionCurrentNames(v).withColumn(RowTracking.col, lit(-1L))
    // bases key by the path a file was COMMITTED at — exactly the path
    // the manifest keeps, whatever retired the file since
    val (_, ids0) = readRowIds()
    val ids: Map[String, Long] = files.flatMap(f => ids0.get(f).map(f -> _)).toMap
    val missing = files.filterNot(ids.contains)
    require(missing.isEmpty, s"no row-id base recorded for " +
      s"${missing.take(3).mkString(", ")}${if (missing.size > 3) " …" else ""}" +
      " — was row tracking enabled after this version?")
    val where = resolveLive(v, s"version $v", files)
    val dv = dvMapForVersion(v).map { case (p, a) => where.getOrElse(p, p) -> a }
    rowIdScan(files, where, ids, dv)
  }

  /** KEYLESS change-data-feed via row tracking — `table_changes` without
    * a user key: rows of `toV` vs `fromV` classified `insert` / `delete`
    * by STABLE row id. An update (merge-on-read replaces the row under a
    * fresh id) surfaces as delete + insert of the changed row — the
    * capture-free CDF shape — while row-neutral rewrites (OPTIMIZE /
    * CLUSTER / PURGE) produce an EMPTY feed: the ids see straight through
    * file reorganization, which a file-level diff never could. Cost: two
    * version-pinned scans plus two id-keyed anti-joins (hash-partitioned
    * on the 8-byte id — no wide row comparison, no content hashing).
    */
  def changesById(fromV: Long, toV: Long): DataFrame = {
    val from = readVersionWithRowIds(fromV)
    val to = readVersionWithRowIds(toV)
    val rid = RowTracking.col
    val deletes = from.join(to.select(rid), Seq(rid), "left_anti")
      .withColumn("change_type", lit("delete"))
    val inserts = to.join(from.select(rid), Seq(rid), "left_anti")
      .withColumn("change_type", lit("insert"))
    deletes.unionByName(inserts)
  }

  /** Maintenance source: carries ids when tracking is on — the rewrite's
    * output files then hold them as a real column (how OPTIMIZE keeps ids
    * stable), plain [[read]] otherwise.
    */
  private def maintRead(): DataFrame =
    if (rowTrackingEnabled) readWithRowIds else read

  /** [[maintRead]] for an explicit file subset. Routes through
    * [[parquetScan]] either way, so subset rewrites (compactSmall,
    * clusterIncremental, purge) honor declared extras / type widening
    * exactly like the full read.
    */
  private def maintScan(files: Seq[String],
                        dv: Map[String, Array[Long]]): DataFrame =
    if (rowTrackingEnabled) scanWithRowIds(files, dv)
    else applyDv(
      parquetScan(spark.read.option("basePath", qualifiedRoot), files), dv)

  // ---- generated columns (Delta's GENERATED ALWAYS AS) -----------------

  private def generatedFile = new Path(logDir, "_generated.txt")

  /** Declared generated columns: name → SQL expression over the other
    * columns. When a write omits the column, [[conform]] computes it from
    * the expression instead of null-filling — Delta's generated-column
    * behavior, typically used for derived partition keys (e.g.
    * `ship_month` from a date) so writers never hand-maintain them.
    */
  def generatedColumns: Map[String, String] =
    if (!fs.exists(generatedFile)) Map.empty
    else {
      val in = fs.open(generatedFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(n, e) => Some(dec(n) -> dec(e))
          case _ => None
        }).toMap
      finally in.close()
    }

  /** Declare `name` as generated from `sqlExpr`. The column must already
    * exist in the table schema, and the existing data must agree with the
    * expression — a divergent declaration is rejected, like a CHECK add.
    */
  def addGeneratedColumn(name: String, sqlExpr: String): Unit = {
    import org.apache.spark.sql.functions.expr
    require(exists, "declare generated columns on an existing table")
    require(read.columns.contains(name), s"no such column: $name")
    val divergent = read
      .filter(!(col(name) <=> expr(sqlExpr))).limit(1).count()
    if (divergent > 0) throw new IllegalStateException(
      s"cannot declare $name generated: existing rows diverge from ($sqlExpr)")
    fs.mkdirs(logDir)
    val out = fs.create(generatedFile, true)
    try out.write((generatedColumns + (name -> sqlExpr)).toSeq.sortBy(_._1)
      .map { case (n, e) => s"${enc(n)}\t${enc(e)}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    ensureFeature("generated-columns", reader = false)
  }

  // ---- CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT) ----------

  private def constraintsFile = new Path(logDir, "_constraints.txt")

  /** Declared CHECK constraints: name → SQL boolean expression. */
  def constraints: Map[String, String] =
    if (!fs.exists(constraintsFile)) Map.empty
    else {
      val in = fs.open(constraintsFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(n, e) => Some(dec(n) -> dec(e))
          case _ => None
        }).toMap
      finally in.close()
    }

  private def writeConstraints(cs: Map[String, String]): Unit = {
    fs.mkdirs(logDir)
    val out = fs.create(constraintsFile, true)
    try out.write(cs.toSeq.sortBy(_._1)
      .map { case (n, e) => s"${enc(n)}\t${enc(e)}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Declare a CHECK constraint (SQL boolean expression over the table's
    * columns). Existing data is validated first — the add fails if any
    * current row violates it; afterwards every write path (append, MERGE,
    * DELETE/UPDATE, scoped rewrites, RESTORE) enforces it BEFORE files are
    * written. NULL evaluations pass, per SQL CHECK semantics.
    */
  def addConstraint(name: String, sqlExpr: String): Unit = {
    require(!constraints.contains(name), s"constraint $name already exists")
    if (exists) {
      val bad = read.filter(!org.apache.spark.sql.functions.expr(sqlExpr)).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"cannot add constraint $name: existing rows violate ($sqlExpr)")
    }
    writeConstraints(constraints + (name -> sqlExpr))
    ensureFeature("check-constraints", reader = false)
  }

  def dropConstraint(name: String): Unit = writeConstraints(constraints - name)

  // ---- table properties ------------------------------------------------

  private def propsFile = new Path(logDir, "_props.txt")

  /** Free-form table properties (Delta's TBLPROPERTIES,
    * deltalake.ipynb's table-feature toggles): stored like constraints,
    * surfaced by [[detail]], carried by [[cloneTo]]. The property
    * `graft.enableDeletionVectors=true` switches the SQL DELETE surface
    * to the merge-on-read [[deleteVectored]] path.
    */
  def properties: Map[String, String] =
    // process-wide defaults underlay ([[ManagedTable.propertyDefaults]]);
    // the table's own _props.txt always wins
    if (ManagedTable.propertyDefaults.isEmpty) fileProperties
    else ManagedTable.propertyDefaults ++ fileProperties

  /** Exactly what `_props.txt` holds — the set/unset base, so a property
    * EDIT never persists the process-wide defaults into the table.
    */
  private def fileProperties: Map[String, String] =
    if (!fs.exists(propsFile)) Map.empty
    else {
      val in = fs.open(propsFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(k, v) => Some(dec(k) -> dec(v))
          case _ => None
        }).toMap
      finally in.close()
    }

  private def writeProperties(old: Map[String, String],
                              ps: Map[String, String]): Unit = {
    val sig0 = propsSig
    // atomic: a torn write must never make the property set half-vanish
    writeAtomic(propsFile, ps.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${enc(k)}\t${enc(v)}" }.mkString("\n"))
    // same-process edits never leave an entry under a signature the edit
    // may not have moved — (len, mtime) alone can collide when a rewrite
    // keeps the byte length within one mtime tick (writeAtomic's own
    // discipline for the sidecar/history parse caches). An edit that
    // leaves every schema-bearing key alone keeps the schema, so its
    // entries move to the new signature; any other edit drops them.
    def schemaBearing(m: Map[String, String]) = m.filter { case (k, _) =>
      k.startsWith("graft.schema.") || k.startsWith("graft.columnMapping") ||
        k == shallowSourceProp }
    if (schemaBearing(old) == schemaBearing(ps)) {
      val sig1 = propsSig
      SchemaCache.rekey(qualifiedRoot, sig0, sig1)
      PhysicalSchemaCache.rekey(qualifiedRoot, sig0, sig1)
    } else {
      SchemaCache.invalidate(qualifiedRoot)
      PhysicalSchemaCache.invalidate(qualifiedRoot)
    }
  }

  def setProperties(ps: Map[String, String]): Unit = {
    val old = fileProperties
    writeProperties(old, old ++ ps)
  }

  def unsetProperties(keys: Seq[String]): Unit = {
    val old = fileProperties
    writeProperties(old, old -- keys)
  }

  // ---- identity columns --------------------------------------------------

  private def identityFile = new Path(logDir, "_identity.txt")

  /** Declared identity columns: name → (start, step, next value to assign).
    * `next` is the persisted high-water mark — advanced BEFORE each data
    * write, so a crash mid-append burns a range (a gap) but can never hand
    * the same value out twice. Delta's IDENTITY contract: unique, gaps
    * allowed.
    */
  def identityColumns: Map[String, (Long, Long, Long)] =
    if (!fs.exists(identityFile)) Map.empty
    else {
      val in = fs.open(identityFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split('\t') match {
          case Array(n, s, k, nx) => Some(dec(n) -> (s.toLong, k.toLong, nx.toLong))
          case _ => None
        }).toMap
      finally in.close()
    }

  private def writeIdentity(m: Map[String, (Long, Long, Long)]): Unit =
    // atomic: the high-water mark is correctness-critical — a torn write
    // losing the declaration would stop assignment and null-fill the column
    writeAtomic(identityFile, m.toSeq.sortBy(_._1)
      .map { case (n, (s, k, nx)) => s"${enc(n)}\t$s\t$k\t$nx" }.mkString("\n"))

  /** Declare an identity column (Delta's `GENERATED BY DEFAULT AS IDENTITY
    * (START WITH s INCREMENT BY k)`): writes that omit the column get
    * engine-assigned values; writes that carry it (including every internal
    * rewrite, which reads existing values through [[read]]) pass it through
    * unchanged. Existing rows are backfilled once, as a logged rewrite.
    */
  def addIdentityColumn(name: String, startWith: Long = 1L,
                        incrementBy: Long = 1L): Unit = withCommitLock {
    // guard BEFORE the declaration write: replaceWith's own guard would
    // fire after it, stranding a declared-but-unassigned identity column
    requireMaterialized("ADD IDENTITY")
    require(incrementBy != 0, "incrementBy must be non-zero")
    require(!identityColumns.contains(name), s"identity column $name already exists")
    require(tableSchemaOpt.forall(!_.fieldNames.exists(_.equalsIgnoreCase(name))),
      s"column $name already exists in the table schema")
    writeIdentity(identityColumns + (name -> (startWith, incrementBy, startWith)))
    ensureFeature("identity-columns", reader = false)
    if (exists && tableSchemaOpt.isDefined)
      replaceWith(assignIdentities(read), loggedPartitionCols(version), "ADD IDENTITY")
  }

  /** Remove an identity DECLARATION: the column (if present) stays as an
    * ordinary column, no further values are assigned. Required before
    * [[renameColumn]]/[[dropColumn]] can touch the column.
    */
  def dropIdentityColumn(name: String): Unit =
    writeIdentity(identityColumns - name)

  /** Assign values for every declared identity column ABSENT from `df`:
    * dense `next + step·i` per row via `zipWithIndex` (one extra count job
    * over the incoming batch — two passes, no global window, no driver
    * collect), with the high-water mark persisted BEFORE the data lands.
    * Called from every write funnel; frames already carrying the column
    * (all internal rewrites) pass through untouched.
    */
  private def assignIdentities(df: DataFrame): DataFrame = {
    val ids = identityColumns
    val missing = ids.filter { case (n, _) =>
      !df.schema.fieldNames.exists(_.equalsIgnoreCase(n)) }
    if (missing.isEmpty) df
    else {
      // pin the batch: the assignment runs extra jobs over it (count +
      // zipWithIndex offsets) and a nondeterministic source must yield the
      // same rows to each
      val pinned = df.localCheckpoint()
      val cnt = pinned.count()
      missing.foldLeft(pinned) { case (d, (name, (start, step, next))) =>
        writeIdentity(identityColumns.updated(name, (start, step, next + step * cnt)))
        val schema = d.schema.add(name, org.apache.spark.sql.types.LongType,
          nullable = false)
        val rdd = d.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (next + step * i)) }
        spark.createDataFrame(rdd, schema)
      }
    }
  }

  /** One aggregation pass over the INCOMING data (never the table): count
    * violations per declared constraint, throw naming the violated ones.
    * Only rows where the expression is definitively false violate.
    */
  private def enforceConstraints(df: DataFrame): Unit = {
    val cs = constraints
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{expr, sum, when}
    val counts = df.select(cs.toSeq.map { case (n, e) =>
      sum(when(!expr(e), 1L).otherwise(0L)).as(n) }: _*).head()
    val violated = cs.keys.toSeq.sorted
      .filter(n => !counts.isNullAt(counts.fieldIndex(n)) &&
        counts.getAs[Long](n) > 0)
      .map(n => s"$n (${counts.getAs[Long](n)} rows: ${cs(n)})")
    if (violated.nonEmpty) throw new IllegalStateException(
      s"CHECK constraint violation: ${violated.mkString("; ")}")
  }

  /** Atomic replace: write to a temp sibling dir, retire the current dir as
    * the previous version's snapshot, then swap. Readers either see the old
    * or the new table, never a partial write (single-writer; SURVEY.md
    * §7.6.5). Caveat: "readers" means plans RESOLVED after the swap — a
    * query (or streaming micro-batch) whose scan was planned on the
    * pre-swap paths and executes after them fails with FILE_NOT_EXIST;
    * re-planning succeeds (a streaming restart re-resolves the logged
    * paths through [[resolveLive]], which finds them in the retained
    * dir). Delta's OPTIMIZE avoids this by never moving live files
    * until VACUUM retention expires; the swap design trades that for
    * rewrite atomicity without a retention daemon.
    */
  private def replaceWith(df0i: DataFrame, partitionCols: Seq[String],
                          operation: String): Unit = withCommitLock {
    requireMaterialized(operation)
    ensureBootstrapped()
    val df0 = assignIdentities(df0i)
    // same checked-rows-are-written-rows materialization as appendAs;
    // only paid when constraints are declared
    val df = if (constraints.nonEmpty) df0.localCheckpoint() else df0
    enforceConstraints(df)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val phys = toPhysical(if (layoutBearing(operation)) df
        else maybeOptimizeWrite(df, partitionCols))
    val w = phys.write.mode(SaveMode.Overwrite)
    withMicrosTs {
      (if (partitionCols.nonEmpty)
        w.partitionBy(partitionCols.map(physicalColName): _*)
      else w).parquet(tmp.toString)
    }
    val dst = new Path(path)
    val cur = version
    if (fs.exists(dst)) fs.rename(dst, new Path(retainedDir(cur)))
    fs.rename(tmp, dst)
    // RESTORE writes a past version's rows: its schema is re-inferred
    noteSchemaPreserved(if (operation == "RESTORE") None else Some(phys.schema)) {
      commit(operation, partitionCols)
    }
  }

  /** MERGE upsert (E3, deltalake.ipynb:2939–2945): source-wins rewrite via
    * [[Merge.upsert]]. For partitioned tables only the *affected*
    * partitions are rewritten (dynamic partition overwrite) — the analogue
    * of Delta's matched-file pruning, and the difference between rewriting
    * a few date partitions and rewriting 100 TB. Affected = partitions the
    * source writes into ∪ partitions currently holding a matched key (a
    * matched row may move partitions; its old copy must go too).
    * Unpartitioned tables fall back to the full atomic swap.
    */
  /** Null-typed columns of `other` that `df` lacks, appended (Delta's
    * automatic schema evolution: new columns land at the end, existing
    * rows read null). Case-insensitive match like [[conform]].
    */
  private def widenTo(df: DataFrame,
                      other: org.apache.spark.sql.types.StructType): DataFrame =
    other.fields.foldLeft(df) { (d, f) =>
      if (d.schema.fieldNames.exists(_.equalsIgnoreCase(f.name))) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }

  def merge(source: DataFrame, keys: Seq[String],
            partitionCols: Seq[String] = Nil,
            allowEvolution: Boolean = false): Unit = {
    // WITH SCHEMA EVOLUTION (Delta's withSchemaEvolution): both sides
    // widen to the union schema, so a source carrying new columns evolves
    // the table in the same MERGE commit. An actually-evolving merge
    // rewrites the WHOLE table even when partitioned — a pruned rewrite
    // would leave unaffected partitions on the old file schema, and plain
    // (non-mergeSchema) reads infer from one footer; evolution is a rare
    // one-time migration, so the full rewrite is the correct trade.
    def evolving = allowEvolution && exists &&
      source.schema.fieldNames.exists(n =>
        !read.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (!exists) overwrite(source, partitionCols)
    else if (partitionCols.isEmpty || evolving) withCommitLock {
      // identity assignment advances the persisted high-water mark —
      // a read-modify-write that must not interleave with a lease-holding
      // writer (the lock is reentrant; replaceWith re-enters below).
      // Writing to the tmp dir scans the OLD files, so no checkpoint needed
      val (tgt, src0) =
        if (allowEvolution) (widenTo(read, source.schema),
          widenTo(source, read.schema))
        else (read, source)
      // the source feeds both arms of the upsert: materialize it once
      replaceWith(Merge.upsert(tgt, assignIdentities(src0).localCheckpoint(), keys),
        partitionCols, "MERGE")
    }
    else withCommitLock {
      ensureBootstrapped()
      // allowEvolution without new columns: a source MISSING table columns
      // still widens (null-fills) so the upsert union aligns
      val src1 = if (allowEvolution) widenTo(source, read.schema) else source
      val target = read
      // the source is evaluated ONCE (Delta's MERGE materializes its source
      // too): the affected-partition query and the upsert both read it
      val src = assignIdentities(src1).localCheckpoint()
      val pcols = partitionCols.map(col)
      val affected = src.select(pcols: _*)
        .union(target.join(src.select(keys.map(col): _*).distinct(), keys,
          "left_semi").select(pcols: _*))
        .distinct()
      val affectedRows = affected.collect().toSeq
      // rewrite only the affected partitions, read through a literal
      // partition predicate the scan prunes directories with
      val merged = Merge.upsert(
        target.filter(inPartitions(affectedRows, partitionCols)), src, keys)
        .localCheckpoint()
      swapPartitions(spark.createDataFrame(
          java.util.Arrays.asList(affectedRows: _*), affected.schema),
        partitionCols, merged, "MERGE")
    }
  }

  /** True on rows whose `partitionCols` tuple is one of `rows` (null
    * matching null) — a predicate over partition columns only, so a scan
    * lists and reads just those partition directories.
    */
  private def inPartitions(rows: Seq[Row], partitionCols: Seq[String]): Column = {
    def eq(c: String, v: Any): Column =
      if (v == null) col(c).isNull else col(c) === lit(v)
    def anyOf(cs: Seq[Column]): Column =
      if (cs.isEmpty) lit(false)
      else if (cs.size == 1) cs.head
      else { val (a, b) = cs.splitAt(cs.size / 2); anyOf(a) || anyOf(b) }
    partitionCols match {
      case Seq(c) =>
        val vs = rows.map(_.get(0))
        val nonNull = vs.filter(_ != null).distinct
        anyOf((if (nonNull.isEmpty) Nil else Seq(col(c).isin(nonNull: _*))) ++
          (if (vs.contains(null)) Seq(col(c).isNull) else Nil))
      case _ =>
        anyOf(rows.map(r => partitionCols.zipWithIndex
          .map { case (c, i) => eq(c, r.get(i)) }.reduce(_ && _)))
    }
  }

  /** Fluent builder for the FULL MERGE clause family (Delta's
    * `DeltaMergeBuilder` shape): conditional and multiple WHEN MATCHED
    * clauses, matched DELETE, explicit SET/VALUES lists, and WHEN NOT
    * MATCHED BY SOURCE — everything [[merge]]'s fixed upsert shape
    * cannot say. Conditions and expressions are SQL strings referencing
    * the two sides as `t.<col>` / `s.<col>` (or custom aliases via
    * [[ManagedTable.mergeBuilder]]).
    *
    * `execute()` rewrites copy-on-write (partition-pruned when the
    * clauses provably keep every surviving row inside the affected
    * partitions); `executeVectored()` is the merge-on-read form — old
    * copies bitmap-marked, replacements and inserts appended, one
    * commit, zero target files rewritten.
    */
  final class MergeBuilder private[table] (source: DataFrame,
      keys: Seq[String], partitionCols: Seq[String],
      targetAlias: String, sourceAlias: String) {
    import Merge.MergeClause._
    import Merge.MergeClause
    private var evolve = false
    private val matchedCl = scala.collection.mutable.Buffer[MergeClause]()
    private val notMatchedCl = scala.collection.mutable.Buffer[MergeClause]()
    private val bySourceCl = scala.collection.mutable.Buffer[MergeClause]()
    private def cnd(c: String) = Option(c).map(expr)
    private def exprs(m: Map[String, String]) =
      m.map { case (k, v) => k -> expr(v) }
    def whenMatchedUpdateAll(condition: String = null): this.type = {
      matchedCl += Update(cnd(condition), None); this }
    def whenMatchedUpdate(set: Map[String, String],
        condition: String = null): this.type = {
      matchedCl += Update(cnd(condition), Some(exprs(set))); this }
    def whenMatchedDelete(condition: String = null): this.type = {
      matchedCl += Delete(cnd(condition)); this }
    def whenNotMatchedInsertAll(condition: String = null): this.type = {
      notMatchedCl += Insert(cnd(condition), None); this }
    def whenNotMatchedInsert(values: Map[String, String],
        condition: String = null): this.type = {
      notMatchedCl += Insert(cnd(condition), Some(exprs(values))); this }
    def whenNotMatchedBySourceUpdate(set: Map[String, String],
        condition: String = null): this.type = {
      bySourceCl += Update(cnd(condition), Some(exprs(set))); this }
    def whenNotMatchedBySourceDelete(condition: String = null): this.type = {
      bySourceCl += Delete(cnd(condition)); this }
    /** Delta's WITH SCHEMA EVOLUTION: source columns the table lacks are
      * added — by a widening rewrite on `execute()`, or as a metadata-only
      * ADD COLUMNS declaration on `executeVectored()` (old files serve
      * the new columns as null; only type CHANGES still need the
      * rewriting form).
      */
    def withSchemaEvolution(): this.type = { evolve = true; this }
    def execute(): Unit = executeMergeClauses(source, keys, partitionCols,
      matchedCl.toSeq, notMatchedCl.toSeq, bySourceCl.toSeq, evolve,
      targetAlias, sourceAlias, vectored = false)
    def executeVectored(): Unit = executeMergeClauses(source, keys,
      partitionCols, matchedCl.toSeq, notMatchedCl.toSeq, bySourceCl.toSeq,
      evolve, targetAlias, sourceAlias, vectored = true)
  }

  /** One-statement snapshot sync (the `WHEN NOT MATCHED BY SOURCE`
    * pattern packaged): make this table mirror `snapshot` exactly —
    * matched keys update, new keys insert, keys the snapshot no longer
    * carries delete. The CDC-less way to track an externally-refreshed
    * table.
    */
  def syncFrom(snapshot: DataFrame, keys: Seq[String],
               partitionCols: Seq[String] = Nil): Unit =
    mergeBuilder(snapshot, keys, partitionCols)
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete()
      .execute()

  /** Entry point for the clause-family MERGE: collect WHEN clauses on the
    * returned builder, then `execute()` (copy-on-write) or
    * `executeVectored()` (merge-on-read). Precondition as for [[merge]]:
    * at most one source row per key. Declared GENERATED columns omitted
    * by an INSERT compute from the inserted row (Delta's behavior — a CDC
    * pipeline into a table with a derived partition date must not get
    * null partitions); see [[computeGeneratedOnInserts]].
    */
  def mergeBuilder(source: DataFrame, keys: Seq[String],
      partitionCols: Seq[String] = Nil,
      targetAlias: String = "t", sourceAlias: String = "s"): MergeBuilder =
    new MergeBuilder(source, keys, partitionCols, targetAlias, sourceAlias)

  /** Delta parity on MERGE INSERT: a declared generated column the insert
    * left null computes from the inserted row's other values — the same
    * expression plain append's conform evaluates — instead of landing
    * null. Gated on `__merge_action = insert`, so UPDATE/keep rows are
    * untouched; an explicit non-null INSERT assignment wins (only nulls
    * recompute — assigning null to a generated column is meaningless, so
    * treating it as "omitted" loses nothing).
    */
  private def computeGeneratedOnInserts(annotated: DataFrame): DataFrame = {
    val gens = generatedColumns
    if (gens.isEmpty) return annotated
    gens.foldLeft(annotated) { case (df, (name, e)) =>
      df.columns.find(_.equalsIgnoreCase(name)) match {
        case None => df
        case Some(c) => df.withColumn(c,
          when(col("__merge_action") === "insert" && col(c).isNull,
            expr(e).cast(df.schema(c).dataType)).otherwise(col(c)))
      }
    }
  }

  /** [[Merge.applyClauses]] plus the generated-column insert computation
    * — the clause cascade with the table's declared metadata applied.
    */
  private def applyClausesComputed(target: DataFrame, source: DataFrame,
      keys: Seq[String], matched: Seq[Merge.MergeClause],
      notMatched: Seq[Merge.MergeClause], bySource: Seq[Merge.MergeClause],
      targetAlias: String, sourceAlias: String): DataFrame =
    computeGeneratedOnInserts(Merge.applyClausesAnnotated(target, source,
        keys, matched, notMatched, bySource, targetAlias, sourceAlias))
      .filter(col("__merge_action").isin("update", "insert", "keep"))
      .drop("__merge_action")

  private[table] def executeMergeClauses(source: DataFrame, keys: Seq[String],
      partitionCols: Seq[String],
      matched: Seq[Merge.MergeClause], notMatched: Seq[Merge.MergeClause],
      bySource: Seq[Merge.MergeClause], allowEvolution: Boolean,
      targetAlias: String, sourceAlias: String, vectored: Boolean): Unit = {
    import Merge.MergeClause._
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    require(exists,
      s"MERGE target $path does not exist — write it first (overwrite)")
    if (vectored) {
      if (allowEvolution) withCommitLock {
        // ADDITIVE evolution without rewrites: declare the source-only
        // columns metadata-only (addColumns' schema-in-the-log role) —
        // old files read them as null per-file, the merge's appends
        // materialize them. Type CHANGES on existing columns still need
        // the rewriting execute(): appended replacement copies cannot
        // widen the files they sit beside.
        val tgtNames = read.schema.fieldNames
        val newFields = source.schema.fields.filterNot(f =>
          tgtNames.exists(_.equalsIgnoreCase(f.name)))
        // evolution must not outlive a failed merge: the ADD COLUMNS
        // declaration is a property write that lands BEFORE the merge
        // commit, so roll it (and any clash-remap mapping entries) back
        // if the merge throws — the addBloomIndex rollback discipline
        val beforeExtras = properties.get("graft.schema.extras")
        val beforeMapping = properties.get("graft.schema.mapping")
        if (newFields.nonEmpty)
          addColumns(org.apache.spark.sql.types.StructType(newFields).toDDL)
        try mergeClausesVectored(source, keys, partitionCols, matched,
          notMatched, bySource, targetAlias, sourceAlias)
        catch {
          case e: Throwable =>
            if (newFields.nonEmpty) {
              def restore(k: String, v: Option[String]): Unit = v match {
                case Some(s) => setProperties(Map(k -> s))
                case None => unsetProperties(Seq(k))
              }
              restore("graft.schema.extras", beforeExtras)
              restore("graft.schema.mapping", beforeMapping)
            }
            throw e
        }
      }
      else mergeClausesVectored(source, keys, partitionCols, matched,
        notMatched, bySource, targetAlias, sourceAlias)
    } else withCommitLock {
      val evolving = allowEvolution && source.schema.fieldNames.exists(n =>
        !read.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      val (tgt, src0) =
        if (allowEvolution) (widenTo(read, source.schema),
          widenTo(source, read.schema))
        else (read, source)
      val src = assignIdentities(src0)
      // partition pruning is sound only when every clause provably keeps
      // surviving rows inside source ∪ matched partitions: by-source
      // clauses reach rows anywhere; explicit SET/VALUES lists may move a
      // row into an arbitrary partition when they assign a partition
      // column (INSERT value lists null-fill unassigned partition
      // columns, so only a full `INSERT *` is provably in-bounds)
      def touchesPartitionCol(set: Option[Map[String, Column]]) = set.exists(
        _.keys.exists(k => partitionCols.exists(_.equalsIgnoreCase(k))))
      // a source missing a partition column can still prune a merge with
      // no insert clause: nothing new lands anywhere (UPDATE SET * keeps
      // the target's value for source-absent columns, so rows never move
      // partitions), and matchedParts alone bounds the affected set. With
      // an insert clause the inserted rows' partitions are unknowable —
      // full swap.
      val srcHasParts = partitionCols.forall(pc =>
        src.columns.exists(_.equalsIgnoreCase(pc)))
      val prunable = partitionCols.nonEmpty && !evolving &&
        bySource.isEmpty &&
        (srcHasParts || notMatched.isEmpty) &&
        matched.forall {
          case Update(_, set) => !touchesPartitionCol(set)
          case _ => true
        } && notMatched.forall {
          case Insert(_, values) => values.isEmpty
          case _ => true
        }
      if (!prunable)
        replaceWith(applyClausesComputed(tgt, src, keys, matched, notMatched,
          bySource, targetAlias, sourceAlias), partitionCols, "MERGE")
      else {
        ensureBootstrapped()
        val matchedParts = tgt
          .join(src.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(partitionCols.map(col): _*).distinct()
        val affected = (if (srcHasParts)
            src.select(partitionCols.map(col): _*).distinct()
              .union(matchedParts).distinct()
          else matchedParts).localCheckpoint()
        val merged = applyClausesComputed(
          rowsInPartitions(tgt, affected, partitionCols), src, keys,
          matched, notMatched, bySource, targetAlias, sourceAlias)
          .localCheckpoint()
        swapPartitions(affected, partitionCols, merged, "MERGE")
      }
    }
  }

  /** Merge-on-read clause-family MERGE: one pass annotates every touched
    * row with its clause verdict; old copies of updated/deleted rows are
    * bitmap-marked and the updated/inserted rows appended — one commit,
    * write cost proportional to the rows the clauses actually claim.
    * Without by-source clauses the target side prunes to matching keys
    * first (AQE broadcasts the key set for the usual small CDC batch).
    */
  private def mergeClausesVectored(source: DataFrame, keys: Seq[String],
      partitionCols: Seq[String],
      matched: Seq[Merge.MergeClause], notMatched: Seq[Merge.MergeClause],
      bySource: Seq[Merge.MergeClause],
      targetAlias: String, sourceAlias: String): Unit = withCommitLock {
    requireMaterialized("MERGE (vectored)")
    ensureBootstrapped()
    val prev = dvMapForVersion(version)
    val src = assignIdentities(source)
    val tMeta = dvScanWithMeta(prev)
    val tgtPlan =
      if (bySource.isEmpty)
        tMeta.join(src.select(keys.map(col): _*).distinct(), keys, "left_semi")
      else tMeta
    val ann = computeGeneratedOnInserts(
      Merge.applyClausesAnnotated(tgtPlan, src, keys, matched,
        notMatched, bySource, targetAlias, sourceAlias,
        extraCols = Seq("__dv_file", "__dv_idx")))
      .filter(col("__merge_action").isin("update", "delete", "insert"))
      .localCheckpoint()
    val packed = packDvMarks(
      ann.filter(col("__merge_action").isin("update", "delete")))
    val appends = ann.filter(col("__merge_action").isin("update", "insert"))
      .drop("__dv_file", "__dv_idx", "__merge_action")
    val hasAppends = !appends.isEmpty
    if (packed.nonEmpty || hasAppends) {
      val added = if (hasAppends) {
        enforceConstraints(appends)
        appendViaTmp(appends, partitionCols)
      } else Nil
      noteSchemaPreserved(Some(physicalSchemaOf(appends))) {
        commit("MERGE", partitionCols,
          dvNew = if (packed.isEmpty) None else Some(mergeDvInto(prev, packed)),
          churn = Some((added, Set.empty)))
      }
    }
  }

  /** Rows of `target` living in the partitions listed by `affected` —
    * null-safe equality, or rows in a null partition would silently miss
    * the semi join while their dir still gets retired (data loss).
    */
  private def rowsInPartitions(target: DataFrame, affected: DataFrame,
                               partitionCols: Seq[String]): DataFrame = {
    val affectedKeyed = affected.toDF(partitionCols.map("__ap_" + _): _*)
    val partMatch = partitionCols
      .map(c => target(c) <=> affectedKeyed("__ap_" + c)).reduce(_ && _)
    target.join(broadcast(affectedKeyed), partMatch, "left_semi")
  }

  /** Retire the partition dirs listed by `affected` into the current
    * version's snapshot (renames, no copy — unaffected partitions stay in
    * place serving every version) and append `replacement` (whose rows
    * must all belong to affected partitions) as the new content. The
    * shared tail of partition-pruned MERGE and [[rewritePartitions]].
    * `replacement` must already be materialized (its plan may read the
    * files being moved).
    */
  private def swapPartitions(affected: DataFrame, partitionCols: Seq[String],
                             replacement: DataFrame, operation: String): Unit =
    withCommitLock {
    requireMaterialized(operation)
    enforceConstraints(replacement)
    // materialize the affected partition set before any file moves — its
    // plan reads the current table files. Values are stringified by
    // Spark's OWN cast-to-string (session timezone, no JVM toString
    // artifacts like Timestamp's trailing ".0") because the dynamic
    // partition writer names dirs from exactly that cast.
    val affectedRows = affected
      .select(partitionCols.map(c => col(c).cast("string")): _*)
      .collect().toSet
    val cur = version
    affectedRows.foreach { row =>
      // Spark escapes partition values on disk (Hive-style %-escaping;
      // null → __HIVE_DEFAULT_PARTITION__) — build dir names with the
      // same function the writer uses, or values needing escaping would
      // miss fs.exists and silently duplicate their keys on append.
      val dir = partitionCols.zipWithIndex
        .map { case (c, i) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(physicalColName(c), row.getString(i))
        }.mkString("/")
      val src = new Path(s"$path/$dir")
      if (fs.exists(src)) {
        val dstDir = new Path(s"${retainedDir(cur)}/$dir")
        fs.mkdirs(dstDir.getParent)
        fs.rename(src, dstDir)
      }
    }
    // the affected dirs are gone from the live dir, so the replacement rows
    // (⊆ affected partitions) land as a plain partitioned append — through
    // the optimizeWrite rebalance unless the operation brought its own
    // layout (compactWhere's OPTIMIZE arranges one task per partition)
    val out = if (layoutBearing(operation)) replacement
      else maybeOptimizeWrite(replacement, partitionCols)
    val phys = toPhysical(out)
    withMicrosTs {
      phys.write.mode(SaveMode.Append)
        .partitionBy(partitionCols.map(physicalColName): _*).parquet(path)
    }
    noteSchemaPreserved(Some(phys.schema))(commit(operation, partitionCols))
    }

  /** Rewrite ONLY the partitions matching `partitionCond` through `f` —
    * the partition-scoped DML primitive behind [[deleteScoped]] /
    * [[updateScoped]]. At 100 TB this is the difference between rewriting
    * a few date partitions and rewriting the table: unaffected partitions
    * are never read, never moved, never re-counted. `f` must not move rows
    * out of the matched partitions (MERGE is the operator for cross-
    * partition movement).
    */
  def rewritePartitions(partitionCond: org.apache.spark.sql.Column,
                        partitionCols: Seq[String],
                        operation: String = "REWRITE_PARTITIONS")
                       (f: DataFrame => DataFrame): Unit = {
    require(partitionCols.nonEmpty, "rewritePartitions needs a partitioned table")
    ensureBootstrapped()
    val target = read
    val affected = target.filter(partitionCond)
      .select(partitionCols.map(col): _*).distinct().localCheckpoint()
    val replacement =
      f(rowsInPartitions(target, affected, partitionCols)).localCheckpoint()
    swapPartitions(affected, partitionCols, replacement, operation)
  }

  /** DELETE with partition pruning: only partitions matching
    * `partitionCond` are rewritten; `cond`-null rows are kept (same
    * semantics as [[delete]]).
    */
  def deleteScoped(partitionCond: org.apache.spark.sql.Column,
                   cond: org.apache.spark.sql.Column,
                   partitionCols: Seq[String]): Unit =
    rewritePartitions(partitionCond, partitionCols, "DELETE")(
      _.filter(!cond || cond.isNull))

  /** UPDATE with partition pruning: `set` assignments applied to rows
    * matching `cond` inside the partitions matching `partitionCond`.
    */
  def updateScoped(partitionCond: org.apache.spark.sql.Column,
                   cond: org.apache.spark.sql.Column,
                   set: Map[String, org.apache.spark.sql.Column],
                   partitionCols: Seq[String]): Unit =
    rewritePartitions(partitionCond, partitionCols, "UPDATE") { df =>
      set.foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(c, org.apache.spark.sql.functions.when(cond, e).otherwise(col(c)))
      }
    }

  /** Predicate-scoped overwrite — Delta's `replaceWhere` write option as a
    * first-class op: atomically delete the rows matching `cond` and insert
    * `df` in ONE commit, the idempotent-backfill primitive (re-running a
    * day's pipeline replaces exactly that day, however many times it
    * runs). Every incoming row must satisfy `cond` (Delta's default
    * constraint, checked against the MATERIALIZED batch so the rows the
    * check saw are the rows written) — a buggy backfill cannot leak rows
    * into ranges it doesn't own. Rows where `cond` is null don't match and
    * are kept, the same tri-state rule as [[delete]]. On a partitioned
    * table only the partitions holding matching rows — plus those `df`
    * writes into — are moved ([[swapPartitions]]); unaffected partitions
    * are never read, moved or re-counted. At 100 TB that is the difference
    * between a daily backfill touching one date partition and rewriting
    * the table.
    */
  def overwriteWhere(df: DataFrame, cond: org.apache.spark.sql.Column,
                     partitionCols: Seq[String] = Nil): Unit = withCommitLock {
    def requireSatisfies(d: DataFrame): Unit = {
      if (d.filter(!cond || cond.isNull).limit(1).count() > 0)
        throw new IllegalArgumentException(
          "overwriteWhere: every incoming row must satisfy the REPLACE " +
            "WHERE predicate (rows outside the replaced range would " +
            "silently widen the overwrite)")
    }
    if (!exists) {
      val src = assignIdentities(df).localCheckpoint()
      requireSatisfies(src)
      overwrite(src, partitionCols)
    } else {
      ensureBootstrapped()
      // pin once: the probe, the affected-partition projection and the
      // final write must all see the same rows even from a
      // nondeterministic source
      val src = tableSchemaOpt
        .map(conform(assignIdentities(df), allowEvolution = false, _, partitionCols))
        .getOrElse(assignIdentities(df))
        .localCheckpoint()
      requireSatisfies(src)
      if (partitionCols.isEmpty)
        replaceWith(read.filter(!cond || cond.isNull).unionByName(src),
          Nil, "REPLACE_WHERE")
      else {
        val target = read
        val affected = target.filter(cond)
          .select(partitionCols.map(col): _*).distinct()
          .union(src.select(partitionCols.map(col): _*).distinct())
          .distinct().localCheckpoint()
        // affected partitions move wholesale, so their cond-null / non-
        // matching co-residents ride along into the replacement unchanged
        val replacement = rowsInPartitions(target, affected, partitionCols)
          .filter(!cond || cond.isNull)
          .unionByName(src)
          .localCheckpoint()
        swapPartitions(affected, partitionCols, replacement, "REPLACE_WHERE")
      }
    }
  }

  /** Dynamic partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` / Delta's dynamic overwrite):
    * atomically replace EXACTLY the partitions the incoming frame carries
    * rows for; every other partition is untouched — never read, moved or
    * re-counted. The [[overwriteWhere]] alternative for when the
    * backfill's scope IS its data: there is no predicate to author, so
    * the predicate and the data cannot disagree (replaceWhere's failure
    * mode) — the flip side is that an accidentally-empty source replaces
    * nothing rather than clearing its range, which is also Spark's
    * dynamic-mode contract. One commit; affected partitions move
    * wholesale via [[swapPartitions]], so at scale a daily restatement
    * costs the restated partitions, not the table.
    */
  def overwritePartitionsDynamic(df: DataFrame, partitionCols: Seq[String]): Unit =
    withCommitLock {
      require(partitionCols.nonEmpty,
        "dynamic partition overwrite needs partition columns")
      if (!exists) overwrite(df, partitionCols)
      else {
        ensureBootstrapped()
        // a wrong column list would silently write a SECOND partition
        // layout next to the real one (the probe for dirs to retire never
        // matches) — refuse instead of corrupting the directory scheme
        val logged = loggedPartitionCols(version)
        require(logged.map(_.toLowerCase) == partitionCols.map(_.toLowerCase),
          s"dynamic overwrite partition columns ${partitionCols.mkString(",")} " +
            s"must match the table's (${logged.mkString(",")})")
        // pin once: the affected-partition projection and the write must
        // see the same rows even from a nondeterministic source
        val src = tableSchemaOpt
          .map(conform(assignIdentities(df), allowEvolution = false, _, partitionCols))
          .getOrElse(assignIdentities(df))
          .localCheckpoint()
        // derived from the pinned src and consumed exactly once (one
        // collect inside swapPartitions) — no second checkpoint needed
        val affected = src.select(partitionCols.map(col): _*).distinct()
        // every incoming row lands in an affected partition by
        // construction, so src IS the replacement content
        swapPartitions(affected, partitionCols, src, "OVERWRITE_DYNAMIC")
      }
    }

  /** MERGE insert-only (deltalake.ipynb:1786–1791): append just the new
    * keys. `allowEvolution` lets a source with extra columns through as
    * additive append-path evolution ([[appendAs]]'s contract: widened
    * files, [[readEvolved]] reads the union schema).
    */
  def mergeInsertOnly(source: DataFrame, keys: Seq[String],
                      partitionCols: Seq[String] = Nil,
                      allowEvolution: Boolean = false): Unit =
    if (!exists) overwrite(source, partitionCols)
    else appendAs(Merge.newRowsOnly(source, read, keys).localCheckpoint(),
      partitionCols, "MERGE_INSERT_ONLY", allowEvolution)

  /** DELETE rows matching `cond` — the Delta DML surface completed. The
    * whole table is rewritten via atomic swap (partition-scoped variants
    * should pre-filter with a partition predicate so pruning bounds the
    * scan; rows in untouched partitions rewrite unchanged).
    */
  def delete(cond: org.apache.spark.sql.Column, partitionCols: Seq[String] = Nil): Unit =
    replaceWith(read.filter(!cond || cond.isNull), partitionCols, "DELETE")

  /** UPDATE rows matching `cond`, applying the `set` column assignments. */
  def update(cond: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             partitionCols: Seq[String] = Nil): Unit = {
    val updated = set.foldLeft(read) { case (df, (c, expr)) =>
      df.withColumn(c, org.apache.spark.sql.functions.when(cond, expr).otherwise(col(c)))
    }
    replaceWith(updated, partitionCols, "UPDATE")
  }

  /** Remove leftover tmp/old directories from interrupted swaps, plus
    * `.tmp-` file debris crashed writers left in the log dir (writeAtomic
    * names tmps uniquely, so a crash orphans one per interrupted write).
    */
  def vacuum(): Unit = {
    val parent = new Path(path).getParent
    val prefix = new Path(path).getName
    import scala.collection.parallel.CollectionConverters._
    fs.listStatus(parent).toSeq.par.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix + ".tmp-") || n.startsWith(prefix + ".old-"))
        fs.delete(st.getPath, true)
    }
    def reapTmp(p: Path): Unit = if (fs.exists(p))
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) reapTmp(st.getPath)
        else if (st.getPath.getName.contains(".tmp-"))
          fs.delete(st.getPath, false)
      }
    reapTmp(logDir)
  }

  /** Compaction (M5, `optimize().executeCompaction()`): rewrite to n files. */
  def compact(numFiles: Int): Unit =
    replaceWith(maintRead().repartition(numFiles), Nil, "OPTIMIZE")

  /** Incremental compaction — Delta's ACTUAL `OPTIMIZE` semantics: only
    * files below `minFileBytes` are rewritten, bin-packed toward
    * `targetFileBytes`; right-sized files are never read, never moved. On
    * a 100 TB table that has accumulated thousands of small streaming
    * appends, cost tracks the small files, not the table (the whole-table
    * [[compact]] would rewrite everything). Files carrying deletion
    * vectors are included regardless of size, so an incremental OPTIMIZE
    * also purges their bitmaps. No-op (no commit) when fewer than two
    * files qualify and none carry vectors.
    */
  def compactSmall(minFileBytes: Long = 16L * 1024 * 1024,
                   targetFileBytes: Long = 128L * 1024 * 1024): Unit = withCommitLock {
    ensureBootstrapped()
    val dv = dvMapForVersion(version)
    val all = listParquet(new Path(path))
      .map { case (p, len) => (fs.makeQualified(new Path(p)).toString, len) }
    val small = all.filter { case (p, len) => len < minFileBytes || dv.contains(p) }
    if (small.size >= 2 || small.exists(f => dv.contains(f._1))) {
      val pcs = loggedPartitionCols(version)
      val files = small.map(_._1)
      val bins = math.max(1L,
        (small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
      // materialize BEFORE the moves — the plan reads the files being
      // retired; basePath keeps partition columns resolving. Partitioned
      // tables cluster by the partition columns so each value's rows land
      // in one task → one compacted file per partition dir, not bins×dirs.
      val survivors = maintScan(files, dv)
      val repacked = (if (pcs.nonEmpty)
        survivors.repartition(bins, pcs.map(col): _*)
      else survivors.repartition(bins)).localCheckpoint()
      retireAndReplace(files, repacked, "OPTIMIZE")
    }
  }

  /** Partition-scoped compaction (`OPTIMIZE <tbl> WHERE <partition
    * predicate>`): rewrite only the matching partitions to `numFiles`
    * files each batch — unaffected partitions are never read or moved.
    */
  def compactWhere(partitionCond: org.apache.spark.sql.Column): Unit = {
    ensureBootstrapped()
    val pcs = loggedPartitionCols(version)
    require(pcs.nonEmpty, "compactWhere needs a partitioned table")
    // hash-cluster by the partition columns: each matched partition's rows
    // land in ONE task (one compacted file per dir) while DIFFERENT
    // partitions compact in parallel — repartition(1) would funnel every
    // matched partition through a single task
    rewritePartitions(partitionCond, pcs, "OPTIMIZE")(
      _.repartition(pcs.map(col): _*))
  }

  /** Multi-dimensional clustering (M6, `executeZOrderBy`): range-partition on
    * the clustering columns and sort within partitions so parquet row-group
    * min/max stats make selective scans skip files/row-groups. Locality is
    * strongest on the LEADING column; [[clusterZ]] is the true Morton-key
    * form with balanced locality on every column.
    */
  def cluster(cols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    val cs = cols.map(col)
    replaceWith(
      maintRead().repartitionByRange(cs: _*).sortWithinPartitions(cs: _*), Nil,
      "ZORDER")
  }

  /** True Z-order clustering: quantile-bucket every column, interleave the
    * bucket bits into one Morton key, and lay the table out by that key
    * ([[graft.ops.Zorder]]) — every clustered column gets row-group
    * min/max locality, not just the leading one.
    */
  def clusterZ(cols: Seq[String], bits: Int = 8, numFiles: Int = 0): Unit =
    replaceWith(graft.ops.Zorder.cluster(maintRead(), cols, bits, numFiles), Nil, "ZORDER")

  /** Hilbert-curve clustering — [[clusterZ]] with the Hilbert key
    * ([[graft.ops.Zorder.clusterHilbert]]): consecutive key values are
    * always grid neighbors, so each file's min/max box is tighter and
    * multi-column range scans ([[readWhereAll]]) prune more files than
    * under the Morton layout (the reason liquid clustering uses Hilbert).
    */
  def clusterHilbert(cols: Seq[String], bits: Int = 8, numFiles: Int = 0): Unit =
    replaceWith(graft.ops.Zorder.clusterHilbert(maintRead(), cols, bits, numFiles),
      Nil, "ZORDER")

  /** Operation string an incremental clustering commits — carries the
    * column set and curve so the NEXT incremental pass can tell whether
    * the last clustering used the same layout (a changed column set means
    * nothing on disk is clustered for the new keys).
    */
  private def clusterOp(cols: Seq[String], curve: String): String =
    s"CLUSTER(${cols.mkString(",")};$curve)"

  /** Liquid-style INCREMENTAL clustering: lay out only the files appended
    * since the last clustering with this column set, leaving already-
    * clustered files untouched — OPTIMIZE cost proportional to NEW data,
    * never the table (at 100 TB a full re-layout per maintenance window
    * is undoable; clustering the day's appends is routine). No sidecar
    * tracks the clustered set: a file is clustered iff it already existed
    * at the last `CLUSTER(cols;curve)` commit's manifest, so the
    * unclustered set is one manifest diff. Files rewritten by a later
    * compaction drop out of that manifest and simply get re-clustered.
    * The first call (or a call with a NEW column set) falls back to the
    * full curve layout. Within each pass the batch is range-partitioned
    * on the curve key and sized to `targetFileBytes`.
    */
  def clusterIncremental(cols: Seq[String], bits: Int = 8,
                         curve: String = "hilbert",
                         targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    withCommitLock {
      ensureBootstrapped()
      val op = clusterOp(cols, curve)
      def layout(df: DataFrame, numFiles: Int): DataFrame =
        if (curve == "morton") graft.ops.Zorder.cluster(df, cols, bits, numFiles)
        else graft.ops.Zorder.clusterHilbert(df, cols, bits, numFiles)
      historyRows.filter(_.operation == op).map(_.version).maxOption match {
        case None =>
          // nothing on disk is clustered for these keys: full layout
          replaceWith(layout(maintRead(), 0), Nil, op)
        case Some(vc) =>
          val clustered = manifestFiles(vc).toSet
          val live = liveFilesQ()
          val fresh = live.filterNot { case (p, _) => clustered(p) }
          if (fresh.nonEmpty) {
            val dv = dvMapForVersion(version)
            val bins = math.max(1L, (fresh.map(_._2).sum + targetFileBytes - 1)
              / targetFileBytes).toInt
            val batch = maintScan(fresh.map(_._1), dv)
            retireAndReplace(fresh.map(_._1),
              layout(batch, bins).localCheckpoint(), op)
          }
      }
    }

  /** Table metadata summary (M7, `detail()` / DESCRIBE DETAIL,
    * deltalake.ipynb:8593–8613): format, location, partition columns, file
    * count, total bytes, created/modified times — the reference's DESCRIBE
    * DETAIL field surface, from the file listing + commit log.
    */
  def detail(): DataFrame = {
    import spark.implicits._
    val files = if (isShallowClone) liveFilesQ() else listParquet(new Path(path))
    val (partCols, createdAt, modifiedAt) = {
      val h = historyRows
      if (h.nonEmpty) {
        val latest = h.maxBy(_.version)
        // compare as Instants, not strings: Instant.toString emits variable
        // fractional precision and '.' sorts before 'Z', so lexicographic
        // min/max can pick the wrong timestamp when precisions mix
        val ts = h.map(c => java.time.Instant.parse(c.timestamp))
        implicit val instOrd: Ordering[java.time.Instant] =
          Ordering.fromLessThan(_ isBefore _)
        (toLogicalCols(latest.partitionColumns), ts.min.toString, ts.max.toString)
      } else (Seq.empty[String], null: String, null: String)
    }
    // table properties surface (Delta's DESCRIBE DETAIL carries these in
    // properties): declared CHECK constraints and generated columns.
    // `properties` opens the props file per call — read it ONCE for both
    // the props list and clustering_columns below
    val ps = properties
    val props = constraints.toSeq.sorted.map { case (n, e) => s"check:$n=$e" } ++
      generatedColumns.toSeq.sorted.map { case (n, e) => s"generated:$n=$e" } ++
      ps.toSeq.sorted.map { case (k, v) => s"prop:$k=$v" } ++
      identityColumns.toSeq.sortBy(_._1).map { case (n, (s0, k, nx)) =>
        s"identity:$n=start $s0 step $k next $nx" } ++ {
        val dv = deletionVectors
        if (dv.isEmpty) Nil
        else Seq(s"deletionVectors:files=${dv.size},rows=${dv.values.sum}")
      }
    // Delta's DESCRIBE DETAIL clusteringColumns field: the declared liquid
    // clustering keys (`graft.clusterBy`, the [[clusterIncremental]] driver)
    val clusterCols = ps.get("graft.clusterBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty[String])
    Seq((("parquet"): String, new Path(path).getName, path, partCols,
        clusterCols, files.size.toLong, files.map(_._2).sum, version,
        createdAt, modifiedAt, props))
      .toDF("format", "name", "location", "partition_columns",
        "clustering_columns", "num_files", "size_in_bytes", "version",
        "created_at", "last_modified", "properties")
  }

  private def listParquet(p: Path): Seq[(String, Long)] = {
    val st = fs.listStatus(p)
    st.flatMap { s =>
      if (s.isDirectory) listParquet(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq((s.getPath.toString, s.getLen))
      else Nil
    }.toSeq
  }
}

/** Process-wide sidecar parse cache shared across [[ManagedTable]]
  * handles (stream sources open a fresh handle per trigger — a
  * handle-scoped cache would never hit). Keyed by absolute file path,
  * validated by (length, modification time): segment files are immutable
  * once published and the base is swapped whole, so a matching signature
  * proves unchanged content. Byte-budgeted LRU — one giant base can
  * never pin unbounded heap, and files above the per-entry bound skip
  * caching entirely (their regime is the documented commit-path
  * ceiling). Budgets count TEXT bytes; the parsed maps cost ~4-5× that
  * in heap, so 128 MB of text ≈ ~600 MB pinned worst-case — sized to
  * still cover a 1e6-file base (~121 MB).
  */
/** One budgeted (len, mtime)-validated parse cache for all the
  * log-structured text stores (stats sidecar, history checkpoint): keyed
  * by absolute path, a hit requires the exact signature the parse was
  * taken under, eviction is LRU by access under BOTH an entry cap and a
  * weight budget (`weigh` picks the unit — text bytes for the sidecar,
  * parsed rows for history). One implementation so the subtle
  * eviction/accounting logic has one home.
  */
private[graft] class SignatureParseCache[V](val maxTotalWeight: Long,
    val maxEntryBytes: Long, val maxEntries: Int, weigh: (Long, V) => Long) {
  private val lru = new java.util.LinkedHashMap[
    String, (Long, Long, Long, V)](16, 0.75f, true) // (len, mtime, weight, v)
  private var totalVar = 0L

  /** Accounted weight currently pinned — test hook; must always equal the
    * sum of live entries' weights.
    */
  def totalWeight: Long = synchronized { totalVar }
  def entryCount: Int = synchronized { lru.size() }

  def cacheable(len: Long): Boolean = len <= maxEntryBytes

  def get(key: String, len: Long, mtime: Long): Option[V] =
    synchronized {
      Option(lru.get(key)).collect {
        case (l, mt, _, v) if l == len && mt == mtime => v
      }
    }

  def invalidate(key: String): Unit = synchronized {
    Option(lru.remove(key)).foreach { case (_, _, w, _) => totalVar -= w }
  }

  def put(key: String, len: Long, mtime: Long, v: V): Unit = synchronized {
    if (!cacheable(len)) return
    Option(lru.remove(key)).foreach { case (_, _, w, _) => totalVar -= w }
    val w = weigh(len, v)
    lru.put(key, (len, mtime, w, v))
    totalVar += w
    val it = lru.entrySet().iterator()
    while ((lru.size() > maxEntries ||
        (totalVar > maxTotalWeight && lru.size() > 1)) && it.hasNext) {
      val victim = it.next()
      if (victim.getKey != key) {
        totalVar -= victim.getValue._3
        it.remove()
      }
    }
  }
}

private[table] class SidecarCacheBudgeted(maxTotalBytes: Long,
    maxEntryBytes: Long)
  extends SignatureParseCache[Map[String, (Long, FileMeta)]](
    maxTotalBytes, maxEntryBytes, Int.MaxValue, (len, _) => len) {
  def totalBytes: Long = totalWeight
}

private[table] object SidecarCache
  extends SidecarCacheBudgeted(128L * 1024 * 1024, 128L * 1024 * 1024)

/** Process-wide live-snapshot cache keyed by table root — the
  * manifest-is-truth half of the commit path (Delta's snapshot cache).
  * A commit whose caller declares its exact churn (added/removed files)
  * and whose parent version is cached skips the dir listing AND the
  * sidecar base fold entirely: the new live set is the cached set plus
  * the churn, row/byte totals fold incrementally, and the delta manifest
  * is written straight from the churn. Entries are validated by version
  * number at lookup (an external writer's commit bumps the version → the
  * stale entry misses and the listing path rebuilds it), and every
  * listing-path commit re-seeds from ground truth — so the cache can
  * never drift further than one checkpoint interval from a verified
  * listing. Per-file payload is (len, rows) only (~100 B/file — 1e7
  * files ≈ 1.5 GB driver heap, the same order Delta's snapshot state
  * holds); stats stay in the sidecar, which checkpoint commits fold as
  * before. Entry-capped LRU: a process hot-writes a handful of tables,
  * not hundreds.
  */
private[table] class CommitLiveCacheBudgeted(val maxTables: Int,
                                             val maxTotalEntries: Long) {
  import CommitLiveCache.State
  /** Heap budget, counted in FILE ENTRIES across all cached states (a
    * path entry costs ~150 B of heap): 24 M entries ≈ 3-4 GB worst case —
    * covers two 1e7-file hot tables, and a third evicts the eldest
    * instead of pinning tens of GB (the SidecarCache byte-budget
    * discipline, in this cache's natural unit). An over-budget SINGLE
    * table still caches (evicting everything else): for the hot writer
    * it serves, the alternative is the O(live) listing fold per commit,
    * which is strictly worse than holding its own state.
    */
  private val lru =
    new java.util.LinkedHashMap[String, State](16, 0.75f, true)
  private var totalEntriesVar = 0L

  /** Accounted file entries across live states — test hook; must equal
    * the sum of cached states' file-map sizes.
    */
  def totalEntries: Long = synchronized { totalEntriesVar }
  def entryCount: Int = synchronized { lru.size() }

  def get(root: String, expectVersion: Long): Option[State] = synchronized {
    Option(lru.get(root)).filter(_.version == expectVersion)
  }

  /** The cached state whatever its version — checkpoint maintenance
    * checkpoints the LATEST state it can see (a later commit than the
    * one that scheduled it is strictly better: fewer trailing deltas).
    */
  def getAny(root: String): Option[State] = synchronized {
    Option(lru.get(root))
  }

  def put(root: String, st: State): Unit = synchronized {
    Option(lru.remove(root)).foreach(old => totalEntriesVar -= old.files.size)
    lru.put(root, st)
    totalEntriesVar += st.files.size
    val it = lru.entrySet().iterator()
    while ((lru.size() > maxTables ||
        (totalEntriesVar > maxTotalEntries && lru.size() > 1)) && it.hasNext) {
      val victim = it.next()
      if (victim.getKey != root) {
        totalEntriesVar -= victim.getValue.files.size
        it.remove()
      }
    }
  }

  def invalidate(root: String): Unit = synchronized {
    Option(lru.remove(root)).foreach(old => totalEntriesVar -= old.files.size)
  }

  /** Roots where maintenance OBSERVED dir↔log drift: state must not be
    * re-seeded from the log (seedStateFromLog would faithfully rebuild
    * the pre-drift live set and the out-of-band files would never be
    * absorbed) until a LISTING-path commit re-reads the dir as truth
    * and clears the flag. Plain invalidation is not enough — the log
    * can resurrect the state; only a listing can resolve the drift.
    */
  private val drift = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def markDrift(root: String): Unit = { invalidate(root); drift.add(root); () }
  def driftSuspected(root: String): Boolean = drift.contains(root)
  def clearDrift(root: String): Unit = { drift.remove(root); () }
}

private[table] object CommitLiveCache
  extends CommitLiveCacheBudgeted(16, 24L * 1000 * 1000) {
  final case class State(version: Long,
                         files: Map[String, (Long, Long)], // path -> (len, rows)
                         liveRows: Long, sizeBytes: Long)
}

/** A process-wide schema cache: one (version, `_props.txt` (len, mtime)
  * signature, schema) entry per table root, cleared wholesale past 1024
  * roots. Any commit moves the version and any property edit the
  * signature, so an entry serves only the state it was computed for; the
  * schema-preserving commits ([[ManagedTable]]'s `noteSchemaPreserved`)
  * and property edits that leave every schema-bearing key alone
  * ([[rekey]]) carry it to the next state.
  */
private[table] class VersionedSchemaCache {
  private val m = scala.collection.concurrent.TrieMap
    .empty[String, (Long, (Long, Long), org.apache.spark.sql.types.StructType)]

  def get(root: String, v: Long,
          sig: (Long, Long)): Option[org.apache.spark.sql.types.StructType] =
    m.get(root).collect { case (cv, csig, s) if cv == v && csig == sig => s }

  def put(root: String, v: Long, sig: (Long, Long),
          s: org.apache.spark.sql.types.StructType): Unit = {
    if (m.size > 1024) m.clear()
    m.put(root, (v, sig, s))
    ()
  }

  /** Move `root`'s entry from signature `from` to `to`, dropping it when
    * it was keyed by any other signature.
    */
  def rekey(root: String, from: (Long, Long), to: (Long, Long)): Unit =
    m.remove(root).foreach { case (v, sig, s) => if (sig == from) put(root, v, to, s) }

  def invalidate(root: String): Unit = { m.remove(root); () }
}

/** The table's logical read schema — the write path's answer to Delta's
  * `metaData.schemaString` in the log: without it every `tableSchemaOpt`
  * (one per append/merge/conform) rebuilds a root file index, an O(live
  * files) listing.
  */
private[table] object SchemaCache extends VersionedSchemaCache

/** The PHYSICAL footer schema a current-version root scan would infer.
  * Serving it via `rd.schema(...)` skips parquet schema inference — a
  * footer-reading Spark job that otherwise runs once per managed read.
  */
private[table] object PhysicalSchemaCache extends VersionedSchemaCache

/** Post-commit checkpoint maintenance behind
  * `graft.manifest.asyncCheckpoint`: one process-wide daemon thread
  * drains retro-checkpoint tasks FIFO (a driver hot-writes a handful of
  * tables; serializing their maintenance bounds background I/O).
  * Scheduling coalesces per table root — a burst of checkpoint-due
  * commits queues ONE run, which checkpoints the latest state it sees.
  * Failures log and drop: the delta chain never depends on a checkpoint
  * landing, and the next checkpoint-due commit reschedules. A JVM exit
  * with a task queued loses nothing but walk depth — identical to the
  * crash-before-checkpoint window the design tolerates.
  */
private[table] object CheckpointMaintenance
    extends org.apache.spark.internal.Logging {
  /** Test hook: while true, [[schedule]] drops tasks — specs use it to
    * pin the trailing-checkpoint window deterministically.
    */
  @volatile private[table] var suspended: Boolean = false

  private val queued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-checkpoint-maintenance")
      t.setDaemon(true)
      t
    })

  def schedule(t: ManagedTable): Unit = {
    if (suspended) return
    val key = t.path
    if (queued.add(key)) {
      pool.submit(new Runnable {
        def run(): Unit = {
          queued.remove(key)
          try t.runCheckpointMaintenance()
          catch {
            case scala.util.control.NonFatal(e) =>
              logWarning(s"async checkpoint maintenance failed on $key " +
                s"(next checkpoint-due commit reschedules): $e")
          }
        }
      })
      ()
    }
  }

  /** Block until every task queued before this call ran. */
  def await(): Unit = {
    pool.submit(new Runnable { def run(): Unit = () }).get()
    ()
  }
}

private[table] case class FileMeta(rows: Long, stats: FileStats)

/** One commit's checkpointed summary (a `_history.txt` line) — package
  * level so the process-wide [[HistoryCache]] can hold parses across
  * handles (an inner class would be path-dependent per handle).
  */
private[table] case class CommitInfo(version: Long, timestamp: String,
    operation: String, partitionColumns: Seq[String],
    numFiles: Long, sizeInBytes: Long, rowCount: Long,
    txn: Option[(String, Long)] = None,
    // (filesAdded, filesRemoved, rowDelta) vs the previous commit —
    // Delta's operationMetrics role; None for pre-feature commits
    metrics: Option[(Long, Long, Long)] = None,
    // bytes the commit's added files hold — the maxBytesPerTrigger
    // admission-control unit; None for pre-feature commits
    bytesAdded: Option[Long] = None)

/** Process-wide parsed-history cache, (len, mtime)-validated exactly like
  * [[SidecarCache]]: every commit reads `_history.txt` (ICT floor +
  * previous row count) and every history()/time-travel resolution reads
  * it again — a hot writer would otherwise pay an O(commits) parse
  * several times per commit, forever growing with the audit trail.
  * `writeAtomic` invalidates on every same-process rewrite; external
  * writers move (len, mtime). Row-budgeted so a million-commit table
  * cannot pin unbounded heap.
  */
// weight = parsed rows; the entry cap bounds many-small-table residency
// (a tiny table's history weighs ~nothing but still holds a map slot —
// CommitLiveCache guards the same shape with maxTables)
private[graft] object HistoryCache
  extends SignatureParseCache[Seq[CommitInfo]](
    4L * 1000 * 1000, Long.MaxValue, 256, (_, rows) => rows.size.toLong)

/** Driver handle to a pinned snapshot's SORTED manifest held as cached
  * serialized executor blocks: `offsets(p)` is the global index of
  * partition p's first row, so a slice job prunes to the overlapping
  * partitions — the rest of the tasks return without deserializing their
  * blocks. Built once per pin by
  * [[ManagedTable.snapshotIndexedDistributed]]; [[release]] when the
  * snapshot completes.
  */
private[graft] final class SnapshotIndex(
    sorted: org.apache.spark.rdd.RDD[(String, Long)],
    offsets: Array[Long]) {

  /** Total rows in the index. */
  def total: Long = offsets.last

  /** (path, len) rows for global indices [fromIdx, toIdx), collected —
    * the driver holds only the slice.
    */
  def slice(fromIdx: Long, toIdx: Long): Seq[(String, Long)] = {
    if (toIdx <= fromIdx) return Nil
    val offs = offsets // local val: the closure must not capture `this`
    sorted.mapPartitionsWithIndex { (pid, it) =>
      val start = offs(pid)
      val end = offs(pid + 1)
      if (start >= toIdx || end <= fromIdx) Iterator.empty
      else it.slice(
        math.max(0L, fromIdx - start).toInt,
        math.min(end - start, toIdx - start).toInt)
    }.collect().sortBy(_._1).toSeq
  }

  def release(): Unit = { sorted.unpersist(false); () }
}

object ManagedTable {
  /** What a commit published: the version it created, the PHYSICAL
    * partition columns it recorded, and the live paths it added and
    * removed.
    */
  private[table] final case class Committed(version: Long,
      partitionCols: Seq[String], added: Seq[String], removed: Seq[String])

  /** Per-session refcount for the [[ManagedTable.withMicrosTs]] conf
    * override: (in-flight managed writes, value to restore when the count
    * reaches zero). Keyed by session so independent sessions never
    * restore each other's conf; weak-ref semantics are unnecessary — the
    * entry is removed at every outermost exit.
    */
  private val microsTsLock = new Object
  private val microsTsState =
    scala.collection.mutable.Map.empty[SparkSession, (Int, Option[String])]

  /** `auto` distributed-planning cutover: README's ManifestBench puts the
    * driver fold at ~3 s / modest heap through 1e6 files and 40 s /
    * 2.6 GB at 1e7 — 2e6 is where the Spark-job path starts winning both.
    */
  private[table] val distributedPlanningAutoThreshold = 2000000L

  /** Process-wide table-property DEFAULTS — Delta's
    * `spark.databricks.delta.properties.defaults.*` analogue, applied at
    * READ time as well as create time: `graft.defaults.<key>` JVM system
    * properties, plus the `GRAFT_PROPERTY_DEFAULTS` environment variable
    * (`k=v,k=v` — the form that reaches sbt-forked JVMs without build
    * changes), each supply `<key>` for every table whose `_props.txt`
    * does not set it. The FILE always wins, and nothing here is ever
    * persisted — the overlay is how an operator turns on e.g.
    * `graft.manifest.asyncCheckpoint` fleet-wide without editing every
    * table, and how the config-matrix soak drives the whole suite under
    * one configuration. Snapshotted once per process: a mid-process
    * change to the environment is not a supported reconfiguration path.
    */
  private[graft] lazy val propertyDefaults: Map[String, String] = {
    val fromProps = sys.props.toMap.collect {
      case (k, v) if k.startsWith("graft.defaults.") =>
        k.stripPrefix("graft.defaults.") -> v
    }
    val fromEnv = sys.env.get("GRAFT_PROPERTY_DEFAULTS").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ => None
        }
      }.toMap
    fromEnv ++ fromProps // explicit -D beats the env list
  }
}
