package graft.perfbench

import graft.cli.Main
import graft.extract.{ExtractSpansExpr, ExtractTitleExpr}
import graft.gloss.Classify
import graft.tablefmt.Checkpoint
import graft.threads.Threads
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

/** Every per-layer metric the traced run prints, with its unit. A layer a
  * workload does not run reports 0.
  */
object Layers {
  val Families: Seq[String] = Seq("q", "doc", "ann", "media", "ext", "pdf")

  def family(leaf: String): String = leaf.takeWhile(_ != '_') match {
    case f if f.startsWith("q") && f.drop(1).forall(_.isDigit) => "q"
    case "emb" => "ann"
    case f => f
  }

  lazy val all: Seq[(String, String)] = Seq(
    "extract.self_s" -> "s", "extract.task_cpu_s" -> "s", "extract.input_mb" -> "MB",
    "extract.docs_in" -> "count", "extract.docs_kept" -> "count",
    "extract.drop_lang" -> "count", "extract.drop_no_title" -> "count",
    "extract.drop_empty" -> "count", "extract.task_skew" -> "ratio",
    "gloss.dicts_s" -> "s", "gloss.idf.self_s" -> "s", "gloss.idf.shuffle_mb" -> "MB",
    "gloss.classify.self_s" -> "s", "gloss.classify.task_cpu_s" -> "s",
    "gloss.classify.categorized_frac" -> "ratio",
    "threads.self_s" -> "s", "threads.task_cpu_s" -> "s", "threads.shuffle_mb" -> "MB",
    "threads.spill_mb" -> "MB", "threads.task_skew" -> "ratio", "threads.count" -> "count",
    "threads.top.self_s" -> "s",
    "tablefmt.stage_s" -> "s", "tablefmt.commit_s" -> "s", "tablefmt.units" -> "count",
    "tablefmt.write_mb" -> "MB", "tablefmt.write_amp" -> "ratio",
    "tablefmt.resume_s" -> "s", "tablefmt.units_recomputed" -> "count") ++
    QuerySweep.leaves.map(l => s"query.$l.wall_s" -> "s") ++
    Families.flatMap(f => Seq(s"query.$f.task_cpu_s" -> "s", s"query.$f.shuffle_mb" -> "MB",
      s"query.$f.spill_mb" -> "MB"))
}

/** Shared pieces of the two Synth-corpus workloads. */
abstract class CorpusWorkload(ctx: Ctx) extends Workload {
  protected val spark: SparkSession = ctx.spark
  protected val nDocs: Long = ctx.opts.get("docs").map(_.toLong).getOrElse(defaultDocs)
  protected def defaultDocs: Long
  protected def mix: Mix
  /** Truth columns the checks of this workload compare. */
  protected def truthCols: Seq[String]
  private[perfbench] var corpus: Corpus = _
  private[perfbench] var keptFp = (0L, 0L)
  /** (metric, traced job) → value; values measured once per run use [[PerRun]]. */
  protected val PerRun = -1
  protected val measured = scala.collection.mutable.Map.empty[(String, Int), Double]

  def inputDocs: Long = nDocs
  def unitsPerJob: Long = nDocs

  /** Materializes the corpus, then derives every expected output from one
    * cached pass over the generator's truths.
    */
  def prepare(): Unit = {
    ctx.group("prepare")
    corpus = Corpus.materialize(spark, s"${ctx.opts.work}/corpus", ctx.opts.seed, nDocs, mix)
    val kept = Oracle.keptTruth(spark, corpus).select(truthCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      keptFp = Corpus.fingerprint(kept, truthCols: _*)
      expect(kept)
    } finally kept.unpersist()
  }

  /** Builds the expected outputs from the cached kept truths. */
  protected def expect(kept: DataFrame): Unit

  private[perfbench] def docs: DataFrame = spark.read.parquet(corpus.dir)

  /** Failed docs of `got` against the kept truths (detailed on mismatch). */
  protected def checkTruth(got: DataFrame): Long =
    Oracle.checkRows(got.select(truthCols.map(col): _*), keptFp,
      Oracle.keptTruth(spark, corpus), truthCols)

  /** Run `body` as layer `name` of traced job `j`: a span plus a job group. */
  protected def layer[T](tr: Tracer, name: String, j: Int)(body: => T): T = {
    ctx.group(s"$name#$j")
    tr.span(name)(body)
  }

  protected def record(name: String, j: Int, v: Double): Unit = measured((name, j)) = v

  /** Task metrics of layer `name` in traced job `j`. */
  protected def taskMetrics(name: String, j: Int): Map[String, Double] = {
    val t = ctx.tasks.totals(s"$name#$j")
    Map(s"$name.task_cpu_s" -> t.cpuS, s"$name.input_mb" -> t.mb(t.inputBytes),
      s"$name.shuffle_mb" -> t.mb(t.shuffleWriteBytes), s"$name.spill_mb" -> t.mb(t.spillBytes),
      s"$name.task_skew" -> ctx.tasks.skew(s"$name#$j"))
  }

  /** Docs the extractor dropped, by the generator's drop class. */
  protected def recordDrops(extracted: DataFrame): Unit = {
    import spark.implicits._
    val byReason = corpus.truths(spark).toDF().select("doc_id", "reason")
      .join(extracted.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("reason").count().as[(String, Long)].collect().toMap
    Seq("lang", "no_title", "empty").foreach(r =>
      record(s"extract.drop_$r", PerRun, byReason.getOrElse(r, 0L).toDouble))
  }

  def layerMetrics(tr: Tracer, j: Int): Seq[(String, (Double, String))] = {
    val values = scala.collection.mutable.Map.empty[String, Double]
    measured.foreach { case ((k, job), v) => if (job == j || job == PerRun) values(k) = v }
    values ++= layerValues(tr, j)
    values("extract.docs_in") = nDocs.toDouble
    Layers.all.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }
  }

  /** Self times and task metrics of the layers this workload traces. */
  protected def layerValues(tr: Tracer, j: Int): Map[String, Double]
}

/** `tgnews top` over a heavy-tailed story corpus. */
final class NewsTop(ctx: Ctx) extends CorpusWorkload(ctx) {
  protected def defaultDocs: Long = 200000L
  protected def mix: Mix = Mix.HotTail
  protected def truthCols: Seq[String] = Seq("doc_id", "lang", "title_norm")
  private var expected = ""
  private var hotShare = 0.0

  protected def expect(kept: DataFrame): Unit = {
    expected = Oracle.topFrames(Oracle.truthThreads(kept)).trim
    hotShare = Oracle.hotShare(kept)
  }

  private[perfbench] def runTop(): String =
    Perf.captureStdout(Main.run(spark, "top", Map("input" -> corpus.dir))).trim

  private[perfbench] def topCheck(out: String): Check =
    Check(nDocs, () => if (out == expected) 0L else nDocs)

  /** Every doc's kept/lang/title, from the extraction the job starts with. */
  override def extraCheck(): Option[Check] =
    Some(Check(nDocs, () => checkTruth(ExtractTitleExpr.run(docs))))

  def job(i: Int): Check = topCheck(runTop())

  def tracedJob(j: Int, tr: Tracer): Check = {
    import spark.implicits._
    val rows = tr.span("job") {
      val bc = Classify.dictsBroadcast(spark)
      val extracted = layer(tr, "extract", j) {
        val e = ExtractTitleExpr.run(docs).persist(StorageLevel.MEMORY_AND_DISK)
        record("extract.docs_kept", j, e.count().toDouble)
        e
      }
      val idf = layer(tr, "gloss.idf", j)(Classify.idfFromTable(Classify.dfTableSlim(extracted, bc.value)))
      val bcIdf = spark.sparkContext.broadcast(idf)
      val classified = layer(tr, "gloss.classify", j) {
        val c = Classify.runWithIdfSlim(extracted, bc, bcIdf).persist(StorageLevel.MEMORY_AND_DISK)
        val r = c.toDF().agg(count(lit(1)), sum(when(col("category") =!= "", 1L).otherwise(0L))).head()
        record("gloss.classify.categorized_frac", j, r.getLong(1).toDouble / math.max(1L, r.getLong(0)))
        c
      }
      val rows = layer(tr, "threads", j) {
        val th = Threads.threads(classified).persist(StorageLevel.MEMORY_AND_DISK)
        record("threads.count", j, th.count().toDouble)
        val rows = layer(tr, "threads.top", j) {
          Threads.top(th).select($"category", $"rank", $"title_norm", $"articles")
            .as[(String, Int, String, Seq[String])].collect()
        }
        th.unpersist()
        rows
      }
      extracted.unpersist(); classified.unpersist(); bcIdf.destroy()
      rows
    }
    // the CLI's frame layout (cli.Main, verb top)
    val out = rows.groupBy(_._1).toSeq.sortBy {
      case ("any", _) => ""
      case (c, _)     => c
    }.map { case (cat, ts) =>
      val threads = ts.sortBy(_._2).map { case (_, _, t, a) =>
        s"""{"title": ${Oracle.jsonStr(t)}, "articles": [${a.map(Oracle.jsonStr).mkString(", ")}]}"""
      }
      s"""{"category": ${Oracle.jsonStr(cat)}, "threads": [${threads.mkString(", ")}]}"""
    }.mkString("[\n", ",\n", "\n]")
    topCheck(out)
  }

  override def finish(): Unit =
    if (ctx.opts.trace) {
      ctx.group("check")
      recordDrops(ExtractTitleExpr.run(docs))
    }

  protected def layerValues(tr: Tracer, j: Int): Map[String, Double] = {
    val tasks = taskMetrics("extract", j) ++ taskMetrics("gloss.idf", j) ++
      taskMetrics("gloss.classify", j) ++ taskMetrics("threads", j)
    Seq("extract", "gloss.idf", "gloss.classify", "threads", "threads.top")
      .map(n => s"$n.self_s" -> tr.selfS(n, j)).toMap ++ tasks
  }

  override def context: Seq[(String, String)] = Seq(
    "corpus" -> s"\"${Paths.get(corpus.dir).getFileName}\"",
    "kept_docs" -> keptFp._1.toString,
    "hot10_share" -> f"$hotShare%.4f")
}

/** `tgnews languages --out <fresh dir>` over a default-mix corpus. */
final class SpansSink(ctx: Ctx) extends CorpusWorkload(ctx) {
  protected def defaultDocs: Long = 100000L
  protected def mix: Mix = Mix.Uniform
  protected def truthCols: Seq[String] = Seq("doc_id", "lang", "title_norm", "spans")
  val Buckets = 16
  private var expected = ""
  private var hotShare = 0.0
  private var lastOut: Option[String] = None

  protected def expect(kept: DataFrame): Unit = {
    expected = Oracle.languagesFrames(kept).trim
    hotShare = Oracle.hotShare(kept)
  }

  /** A fresh (empty) table directory for job `i`. */
  private[perfbench] def outDir(i: Int): String = freshDir(s"job$i")

  private def freshDir(name: String): String = {
    val d = s"${ctx.opts.work}/out/$name"
    Perf.deleteRecursively(Paths.get(d))
    d
  }

  /** stdout frames, every unit committed, and the table's rows (spans in
    * order, with kind/text/media_ref) against the truth. The table of a
    * traced job is kept for the resume check.
    */
  private[perfbench] def sinkCheck(stdout: String, out: String, keep: Boolean = false): Check =
    Check(nDocs, () => {
      val failed =
        if (Checkpoint.committedUnits(out) != (0 until Buckets).toSet) nDocs
        else checkTruth(Checkpoint.readCommitted(spark, out)) + (if (stdout == expected) 0L else nDocs)
      if (keep) {
        lastOut.foreach(d => Perf.deleteRecursively(Paths.get(d)))
        lastOut = Some(out)
      } else Perf.deleteRecursively(Paths.get(out))
      failed
    })

  private[perfbench] def runLanguages(out: String): String =
    Perf.captureStdout(Main.run(spark, "languages", Map("input" -> corpus.dir, "out" -> out))).trim

  def job(i: Int): Check = { val o = outDir(i); sinkCheck(runLanguages(o), o) }

  def tracedJob(j: Int, tr: Tracer): Check = {
    import spark.implicits._
    val out = outDir(j)
    val stdout = tr.span("job") {
      val extracted = layer(tr, "extract", j) {
        val e = ExtractSpansExpr.run(docs).persist(StorageLevel.MEMORY_AND_DISK)
        record("extract.docs_kept", j, e.count().toDouble)
        e
      }
      // the first call of the per-unit transform marks the end of staging
      var firstUnit = 0L
      val t0 = System.nanoTime()
      val report = layer(tr, "tablefmt", j) {
        Checkpoint.resume(spark, extracted.select(truthCols.map(col): _*), "doc_id",
          df => { if (firstUnit == 0L) firstUnit = System.nanoTime(); df }, out, Buckets)
      }
      val t1 = System.nanoTime()
      if (firstUnit != 0L) {
        record("tablefmt.stage_s", j, (firstUnit - t0) / 1e9)
        record("tablefmt.commit_s", j, (t1 - firstUnit) / 1e9)
      }
      record("tablefmt.units", j, report.unitsCommitted.size.toDouble)
      val written = ctx.tasks.totals(s"tablefmt#$j").outputBytes
      record("tablefmt.write_mb", j, written / (1024.0 * 1024.0))
      record("tablefmt.write_amp", j, written.toDouble / math.max(1L, dataBytes(out)))
      // the CLI's stdout (cli.Main, verb languages)
      ctx.group(s"print#$j")
      val byLang = extracted.select($"lang", $"doc_id").as[(String, String)].groupByKey(_._1)
        .mapGroups((l, it) => (l, it.map(_._2).take(Main.MaxCliRows).toArray.sorted))
        .collect().toMap
      extracted.unpersist()
      Seq("en", "ru").map { l =>
        s"""{"lang_code": ${Oracle.jsonStr(l)}, "articles": [${byLang.getOrElse(l, Array.empty[String]).map(Oracle.jsonStr).mkString(", ")}]}"""
      }.mkString("[\n", ",\n", "\n]")
    }
    sinkCheck(stdout, out, keep = true)
  }

  /** Committed parquet bytes of a table. */
  private def dataBytes(out: String): Long = {
    val walk = Files.walk(Paths.get(out, "data"))
    try walk.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()
    finally walk.close()
  }

  /** Kill a write at unit Buckets/2 with the failpoint, resume, and check
    * that only the uncommitted units recompute and that the table equals
    * the uninterrupted one of the last traced job.
    */
  override def finish(): Unit =
    if (ctx.opts.trace) {
      ctx.group("check")
      recordDrops(ExtractSpansExpr.run(docs))
      val out = freshDir("resume")
      val input = ExtractSpansExpr.run(docs).select(truthCols.map(col): _*)
      val half = Buckets / 2
      val killed = scala.util.Try(Checkpoint.resume(spark, input, "doc_id", identity, out, Buckets,
        failAtUnit = Some(half)))
      val before = Checkpoint.committedUnits(out)
      ctx.group("resume")
      val t0 = System.nanoTime()
      val report = Checkpoint.resume(spark, input, "doc_id", identity, out, Buckets)
      record("tablefmt.resume_s", PerRun, (System.nanoTime() - t0) / 1e9)
      record("tablefmt.units_recomputed", PerRun, report.unitsCommitted.size.toDouble)
      ctx.group("check")
      def table(d: String) = Corpus.fingerprint(Checkpoint.readCommitted(spark, d), truthCols: _*)
      ctx.check(Check(nDocs, () => {
        val same = lastOut.exists(ref => table(ref) == table(out))
        val ok = killed.isFailure && before == (0 until half).toSet && same &&
          report.unitsSkipped == (0 until half) && report.unitsCommitted == (half until Buckets)
        if (!ok) System.err.println(s"[perfbench] resume check: killed=${killed.isFailure} " +
          s"before=${before.toSeq.sorted} report=$report same=$same")
        if (ok) 0L else nDocs
      }))
      Perf.deleteRecursively(Paths.get(out))
      lastOut.foreach(d => Perf.deleteRecursively(Paths.get(d)))
    }

  protected def layerValues(tr: Tracer, j: Int): Map[String, Double] =
    Map("extract.self_s" -> tr.selfS("extract", j)) ++ taskMetrics("extract", j)

  override def context: Seq[(String, String)] = Seq(
    "corpus" -> s"\"${Paths.get(corpus.dir).getFileName}\"", "kept_docs" -> keptFp._1.toString,
    "hot10_share" -> f"$hotShare%.4f", "buckets" -> Buckets.toString)
}
