package lakebench

import java.sql.Date

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Bpe, Dedup, NgramLm, QualityClassifier, Relational}
import graft.pipeline.{CorpusPipeline, Medallion}
import graft.table.ManagedTable

/** State shared by a run: the session, the arguments, the tracer and the
  * measurements the timed phase produces.
  */
final class Ctx(val spark: SparkSession, val conf: Map[String, String],
                val tracer: Tracer) {
  def in: String = conf("in")
  def work: String = conf("work")
  def out: String = conf("out")
  def int(k: String): Int = conf(k).toInt
  def read(path: String): DataFrame = spark.read.parquet(s"$in/$path")

  var attempted, failed = 0
  var buildS, finishS = 0.0
  val batchMs, scanMs, martMs, metaMs = mutable.ArrayBuffer[Double]()
  /** Result digests and small answers for the checks, written to the
    * result file.
    */
  val answers = mutable.LinkedHashMap[String, Any]()

  /** One call into the engine: counted, spanned, and on failure logged and
    * counted as failed.
    */
  def op[T](layer: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(layer, name)(body))
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[lakebench] $layer.$name failed: $e")
        e.printStackTrace()
        None
    }
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def ms(body: => Unit): Double = 1000 * secs(body)

  /** A stretch of the timed phase (build, batch, probe, mart, meta,
    * finish); the traced run reports Spark and layer figures per phase.
    */
  def phase[T](name: String)(body: => T): T = tracer.span("phase", name)(body)

  def dump(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$out/$name")

  def dumpRows(rows: Seq[Row], like: DataFrame, name: String): Unit =
    dump(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), like.schema), name)
}

/** A skipping probe: kind, parameters, and the predicates it reads with
  * (a point probe reads through `readPoint`, the others `readWhereAll`).
  */
final case class Probe(kind: String, params: Seq[Any], preds: Seq[(String, Any, Any)],
                       point: Boolean = false)

/** A benchmark workload: a write pipeline, an analyst read session over
  * the tables it produced, then a finishing step (maintenance, or the
  * operator battery).
  */
abstract class Workload(c: Ctx) {
  /** Fixtures built in set-up (timed). */
  def setup(): Unit
  /** The write pipeline: fills the build and batch times. */
  def pipeline(): Unit
  /** Runs after the session: fills the finish time. */
  def finish(): Unit
  /** The table the session's probes read. */
  def probed: ManagedTable
  /** Probe kinds; every round runs each kind equally often, in seeded order. */
  def probeKinds: Int
  def probe(rng: scala.util.Random, kind: Int): Probe
  /** The (key, value) pair a probe's rows are summed into for the checks. */
  def digestOf(r: Row): (Long, Long)
  /** One pass over the marts plus a top-10 read. */
  def martPass(): Unit
  /** One introspection pass: history, detail and SQL COUNT/MIN/MAX. */
  def metaPass(): Unit
  /** Outputs the checks need, written after the timed phase. */
  def dump(): Unit
  /** Where the workload's engine tables live. */
  def warehouse: String

  val probes = mutable.ArrayBuffer[Probe]()
  private val probeAnswers = mutable.ArrayBuffer[Map[String, Any]]()
  /** Files the probes' skipping kept and the live files, summed over the
    * probes; counted in traced runs only, on the versions the probes read.
    */
  var filesKept = (0L, 0L)

  def run(): Unit = {
    pipeline()
    session()
    if (c.tracer.enabled) filesKept = countKept()
    finish()
  }

  /** Seeded rounds of skipping probes, a mart pass and introspection
    * passes, against the versions the pipeline left.
    */
  private def session(): Unit = {
    val rng = new scala.util.Random(c.conf("seed").toLong)
    for (_ <- 0 until c.int("rounds")) {
      for (kind <- rng.shuffle(Seq.tabulate(c.int("probes"))(_ % probeKinds))) {
        val p = probe(rng, kind)
        var rows: Array[Row] = null
        c.scanMs += c.ms(c.phase("probe") {
          c.op("table", "read_plan")(
            if (p.point) probed.readPoint(p.preds.head._1, p.preds.head._2)
            else probed.readWhereAll(p.preds)
          ).foreach { df =>
            c.op("exec", "collect")(Force.collect(df, s"probe.${p.kind}")).foreach(rows = _)
          }
        })
        probes += p
        if (rows != null) {
          val sums = rows.map(digestOf)
          probeAnswers += Map("kind" -> p.kind, "params" -> p.params, "rows" -> rows.length,
            "keys" -> sums.map(_._1).sum, "values" -> sums.map(_._2).sum)
        }
      }
      for (_ <- 0 until c.int("mart_passes")) c.martMs += c.ms(c.phase("mart")(martPass()))
      for (_ <- 0 until c.int("meta_passes")) c.metaMs += c.ms(c.phase("meta")(metaPass()))
    }
    c.answers("probes") = probeAnswers.toSeq
  }

  /** Collects a top-10 read and keeps its rows for the checks. */
  protected def topTen(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
                       cols: Seq[String]): Unit =
    c.op("exec", "collect")(Force.collect(df.orderBy(order: _*).limit(10), "top10"))
      .foreach(rows => c.answers("top10") = rows.toSeq.map(r => cols.map(r.getAs[Any])))

  /** history(), detail() and one SQL COUNT/MIN/MAX over `table`. */
  protected def introspect(table: ManagedTable, view: String, aggSql: String): Unit = {
    val hist = c.op("table", "history")(Force.collect(table.history(), "meta.history"))
    val det = c.op("table", "detail")(Force.collect(table.detail(), "meta.detail"))
    c.op("table", "read")(table.read).foreach(_.createOrReplaceTempView(view))
    val agg = c.op("sql", "meta")(
      Force.collect(c.spark.sql(s"SELECT $aggSql FROM $view"), "meta.sql"))
    c.answers("meta") = Map(
      "history_versions" -> hist.map(_.length),
      "history_rows" -> hist.map(_.head.getAs[Long]("rowCount")),
      "detail_files" -> det.map(_.head.getAs[Long]("num_files")),
      "agg" -> agg.map(_.head.toSeq.map(v => if (v == null) null else v.toString)))
  }

  private def countKept(): (Long, Long) = {
    var kept, all = 0L
    for (p <- probes) {
      val sets =
        if (p.point) Seq(probed.filesForPoint(p.preds.head._1, p.preds.head._2))
        else p.preds.map { case (col, lo, hi) => probed.filesOverlapping(col, lo, hi) }
      kept += sets.map(_._1.toSet).reduce(_ intersect _).size
      all += sets.head._2.size
    }
    (kept, all)
  }
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "medallion" => new MedallionWorkload(c)
    case "corpus_ingest" => new CorpusWorkload(c)
  }
}

/** The reference's medallion job, then an analyst session over it.
  *
  * Pipeline: bronze → silver → gold from raw parquet; deliveries (bronze
  * appends of the orders above the high-water mark, the silver MERGE, the
  * gold refresh). Session: skipping probes on silver, the three marts
  * recomputed over the bronze tables plus gold's top clients, and
  * introspection of silver. Finish: maintenance passes.
  */
final class MedallionWorkload(c: Ctx) extends Workload(c) {
  import c.spark
  private var m: Medallion = _
  private var inputs: Seq[(DataFrame, DataFrame)] = Nil
  def warehouse: String = s"${c.work}/wh"
  def probed: ManagedTable = m.silverTxn

  def setup(): Unit =
    // the raw deliveries as DataFrames, their footers read
    inputs = (0 until c.int("batches")).map { b =>
      val li = c.read(f"batch$b%03d/lineitem.parquet")
      val or = c.read(f"batch$b%03d/orders.parquet")
      li.schema; or.schema
      (li, or)
    }

  def pipeline(): Unit = {
    m = new Medallion(spark, warehouse, s"${c.in}/base")
    c.buildS = c.secs(c.phase("build") {
      c.op("pipeline", "bronze")(m.runBronze())
      c.op("pipeline", "silver")(m.runSilver())
      c.op("pipeline", "gold")(m.runGold())
    })
    var hwm = c.int("orders").toLong
    for ((li, or) <- inputs) {
      // bronze lands the orders above the high-water mark and their lines;
      // the re-delivered corrections reach silver through the MERGE
      val newLines = li.filter(col("l_orderkey") > hwm)
      val newOrders = or.filter(col("o_orderkey") > hwm)
      hwm += c.int("new_orders")
      c.batchMs += c.ms(c.phase("batch") {
        c.op("table", "append")(m.bronzeLineitem.append(newLines))
        c.op("table", "append")(m.bronzeOrders.append(newOrders))
        c.op("pipeline", "incremental")(m.runIncremental(li, or))
        c.op("pipeline", "gold_refresh")(m.runGold())
      })
    }
  }

  /** Maintenance after the session, so the probes read silver as the
    * deliveries left it, partitioned by month with per-file statistics.
    * Compaction and clustering rewrite every file on each pass, so repeated
    * passes do the same work.
    */
  def finish(): Unit =
    c.finishS = Main.median((0 until c.int("maintain_passes")).map(_ =>
      c.secs(c.phase("finish")(c.op("pipeline", "maintain")(m.runMaintain())))))

  private val epoch = java.time.LocalDate.parse(c.conf("epoch"))
  private def day(d: Int): Date = Date.valueOf(epoch.plusDays(d.toLong))

  def probeKinds: Int = 4

  def probe(rng: scala.util.Random, kind: Int): Probe = {
    val days = c.int("days")
    val d = rng.nextInt(days)
    val client = 1L + rng.nextInt(c.int("customers"))
    kind match {
      case 0 => Probe("date_client", Seq(d, client),
        Seq(("transaction_date", day(d), day(d)), ("client_id", client, client)))
      case 1 =>
        val lo = math.min(d, days - 30)
        Probe("suspicious", Seq(lo), Seq(("is_suspicious", true, true),
          ("transaction_date", day(lo), day(lo + 29))))
      case 2 =>
        val lo = math.min(d, days - 7)
        val amount = 2000.0 + rng.nextInt(8) * 1000.0
        Probe("range_amount", Seq(lo, amount), Seq(("transaction_date", day(lo), day(lo + 6)),
          ("amount", amount, 1.0e9)))
      case _ => Probe("client", Seq(client), Seq(("client_id", client, client)), point = true)
    }
  }

  def digestOf(r: Row): (Long, Long) =
    (r.getAs[Long]("l_orderkey") * 8 + r.getAs[Int]("l_linenumber"),
      r.getAs[java.math.BigDecimal]("amount").movePointRight(2).longValueExact())

  private def marts(): Seq[(String, DataFrame)] = {
    val li = c.op("table", "read")(m.bronzeLineitem.read)
    val or = c.op("table", "read")(m.bronzeOrders.read)
    val cu = c.op("table", "read")(m.bronzeCustomer.read)
    (for (l <- li; o <- or; u <- cu) yield Seq(
      "client_stats" -> Relational.clientStats(l, o, u),
      "daily_metrics" -> Relational.dailyMetrics(l, o),
      "fraud_analysis" -> Relational.fraudAnalysis(l, o, u))).getOrElse(Nil)
  }

  def martPass(): Unit = {
    for ((name, df) <- marts()) c.op("exec", "noop")(Force.noop(df, s"mart.$name"))
    c.op("table", "read")(m.goldClient.read).foreach(g =>
      topTen(g, Seq(col("total_amount").desc, col("c_custkey")),
        Seq("c_custkey", "total_amount")))
  }

  def metaPass(): Unit =
    introspect(m.silverTxn, "lakebench_silver",
      """COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi,
         MIN(transaction_date) AS d0, MAX(transaction_date) AS d1""")

  def dump(): Unit = {
    c.answers("oracle_sql") = Map(
      "client_stats" -> SparkEntry.oracleSql("q01_client_stats"),
      "daily_metrics" -> SparkEntry.oracleSql("q11_daily_metrics"),
      "fraud_analysis" -> SparkEntry.oracleSql("q12_fraud_analysis"))
    c.dump(m.silverTxn.read, "silver")
    c.dump(m.goldClient.read, "gold_client_stats")
    c.dump(m.goldDaily.read, "gold_daily_metrics")
    c.dump(m.goldFraud.read, "gold_fraud_analysis")
    for ((name, df) <- marts()) c.dump(df, s"mart_$name")
  }
}

/** The LLM-corpus flow, then a session over the corpus.
  *
  * Pipeline: `CorpusPipeline.run`, incremental batches with injected
  * near-duplicates. Session: skipping probes on the corpus table, corpus
  * accounting (`stats()`) plus the longest documents, and introspection of
  * the corpus. Finish: the operator battery (classifier, n-gram LM,
  * MinHash-verified pairs, BPE).
  */
final class CorpusWorkload(c: Ctx) extends Workload(c) {
  import c.spark
  private var cp: CorpusPipeline = _
  private var base: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private val results = mutable.LinkedHashMap[String, (DataFrame, Array[Row])]()
  def warehouse: String = s"${c.work}/wh"
  def probed: ManagedTable = cp.corpus

  def setup(): Unit = {
    base = c.read("base/documents.parquet")
    base.schema
    batches = (0 until c.int("batches")).map { b =>
      val df = c.read(f"batch$b%03d/documents.parquet")
      df.schema
      df
    }
  }

  def pipeline(): Unit = {
    cp = new CorpusPipeline(spark, warehouse)
    c.buildS = c.secs(c.phase("build")(
      c.op("pipeline", "corpus_run")(cp.run(base, "doc_id", "text"))))
    for (b <- batches)
      c.batchMs += c.ms(c.phase("batch")(
        c.op("pipeline", "corpus_incremental")(cp.runIncremental(b, "doc_id", "text"))))
  }

  def finish(): Unit = c.finishS = c.secs(c.phase("finish")(battery()))

  private def keep(name: String, df: DataFrame): Unit =
    c.op("exec", "collect")(Force.collect(df, s"ops.$name"))
      .foreach(rows => results(name) = (df, rows))

  private def battery(): Unit =
    c.op("table", "read")(cp.corpus.read.select("doc_id", "text", "lang")).foreach { docs =>
      c.op("ops", "classifier") {
        val labelled = docs.withColumn("y", (col("lang") === "en").cast("int"))
        val model = QualityClassifier.train(labelled, "doc_id", "text", "y",
          buckets = 1024, epochs = 3, lr = 0.5)
        QualityClassifier.scoreModel(labelled, "doc_id", "text", model)
      }.foreach(keep("classifier", _))
      c.op("ops", "ngram_lm") {
        NgramLm.scoreQuantized(docs, "doc_id", "text",
          NgramLm.train(docs, "doc_id", "text", minCount = 2))
      }.foreach(keep("ngram_lm", _))
      c.op("ops", "minhash_verify") {
        val sig = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 32)
        val cands = Dedup.minhashLshPairsFromSignatures(sig, numHashes = 32, bands = 32,
          minEstSim = 0.0)
        Dedup.verifyJaccardPairs(docs, "doc_id", "text", cands, n = 3, minJaccard = 0.8)
      }.foreach(keep("minhash_verify", _))
      c.op("ops", "bpe") {
        Bpe.encode(docs, "doc_id", "text", Bpe.train(docs, "text", numMerges = 40))
      }.foreach(keep("bpe", _))
    }

  private val langs = graft.ops.TextAnalysis.langProfiles.map(_._1)

  def probeKinds: Int = 3

  def probe(rng: scala.util.Random, kind: Int): Probe = {
    val lang = langs(rng.nextInt(langs.size))
    val q = 0.5 + rng.nextInt(8) * 0.05
    kind match {
      case 0 => Probe("lang", Seq(lang), Seq(("lang_pred", lang, lang)), point = true)
      case 1 => Probe("lang_quality", Seq(lang, q),
        Seq(("lang_pred", lang, lang), ("quality_score", q, 1.0)))
      case _ =>
        val lo = rng.nextInt(c.int("docs")).toLong
        Probe("doc_range", Seq(lo), Seq(("doc_id", lo, lo + 39)))
    }
  }

  def digestOf(r: Row): (Long, Long) =
    (r.getAs[Long]("doc_id"), r.getAs[Long]("token_estimate"))

  def martPass(): Unit = {
    c.op("pipeline", "corpus_stats")(cp.stats()).foreach(s =>
      c.op("exec", "collect")(Force.collect(s, "mart.corpus_stats")).foreach(rows =>
        c.answers("corpus_stats") = rows.toSeq.map(r =>
          Seq(r.getAs[String]("lang_pred"), r.getAs[String]("split"),
            r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))))
    c.op("table", "read")(cp.corpus.read).foreach(t =>
      topTen(t, Seq(col("token_estimate").desc, col("doc_id")), Seq("doc_id", "token_estimate")))
  }

  def metaPass(): Unit =
    introspect(cp.corpus, "lakebench_corpus",
      """COUNT(*) AS n, MIN(doc_id) AS lo, MAX(doc_id) AS hi,
         MIN(token_estimate) AS t0, MAX(token_estimate) AS t1""")

  def dump(): Unit = {
    c.answers("oracle_sql") = Map(
      "minhash_verify" -> SparkEntry.oracleSql("q26a_minhash_verified"))
    c.dump(cp.corpus.read, "corpus")
    for ((name, (df, rows)) <- results) c.dumpRows(rows.toSeq, df, s"ops_$name")
  }
}
