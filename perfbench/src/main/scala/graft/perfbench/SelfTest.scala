package graft.perfbench

import graft.SparkEntry
import graft.extract.ExtractTitleExpr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}

/** Self-test of the benchmark's own checks: each must pass the program's
  * real output and catch a deliberately corrupted one; the timed leaf
  * plans must keep the kernels a `count()` would let Catalyst prune. Ends
  * with a `graft.Verify` dump that `run.py --selftest` corrupts to test the
  * DuckDB oracle compare.
  *
  * {{{ SelfTest --work DIR --tables DIR --cpus N }}}
  */
object SelfTest {

  /** Leaf → a node or expression of its defining kernel in the timed plan. */
  val PinnedKernels: Seq[(String, String)] = Seq(
    "doc_repetition" -> "rep_stats(",
    "q12_percentiles" -> "collect_list(",
    "media_meta" -> "MapPartitions graft.ops.Multimodal")

  private var allOk = true

  private def report(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(s"$name: $e"); false }
    println(s"SELFTEST ${if (ok) "PASS" else "FAIL"} $name")
    allOk &&= ok
  }

  /** Executed plan of the one query `body` runs (listener bus drained). */
  private final class PlanCapture extends QueryExecutionListener {
    @volatile var last = ""
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = qe.executedPlan.toString
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Rewrites one commit unit of a checkpointed table through `f`. */
  private def corruptUnit(ctx: Ctx, out: String)(f: DataFrame => DataFrame): Unit = {
    val unit = s"$out/data/part_bucket=0"
    val tmp = s"$out/unit0_tmp"
    f(ctx.spark.read.parquet(unit)).write.parquet(tmp)
    Perf.deleteRecursively(Paths.get(unit))
    Files.move(Paths.get(tmp), Paths.get(unit))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val spark = Perf.session(args("cpus").toInt, work)
    def ctx(w: String) = new Ctx(spark, Perf.Opts(Map("workload" -> w, "seed" -> "7",
      "seconds" -> "1", "trace" -> "0", "work" -> work, "docs" -> "4000",
      "tables" -> args("tables"))), new TaskListener(spark.sparkContext))

    // news_top: the top frames and the extraction (kept/lang/title)
    val nt = new NewsTop(ctx("news_top"))
    nt.prepare()
    val top = nt.runTop()
    report("top: the CLI output passes")(nt.topCheck(top).run() == 0)
    val member = "\"doc-\\d{12}\", ".r.findFirstIn(top).get
    report("top: a dropped thread member is caught")(
      nt.topCheck(top.replaceFirst(java.util.regex.Pattern.quote(member), "")).run() == nt.unitsPerJob)
    val frames = top.split(",\n")
    report("top: reordered category frames are caught")(
      nt.topCheck((frames.tail :+ frames.head).mkString(",\n")).run() == nt.unitsPerJob)
    val cols3 = Seq("doc_id", "lang", "title_norm")
    val ext = ExtractTitleExpr.run(nt.docs)
    val victim = ext.select("doc_id").head().getString(0)
    def extCheck(df: DataFrame) =
      Oracle.checkRows(df, nt.keptFp, Oracle.keptTruth(spark, nt.corpus), cols3)
    report("extract: the extraction passes")(extCheck(ext) == 0)
    report("extract: one wrong title is caught as one failed doc")(extCheck(ext.withColumn("title_norm",
      when(col("doc_id") === victim, concat(col("title_norm"), lit("x"))).otherwise(col("title_norm")))) == 1)
    report("extract: one wrong language is caught as one failed doc")(extCheck(ext.withColumn("lang",
      when(col("doc_id") === victim, lit("de")).otherwise(col("lang")))) == 1)
    report("extract: one dropped doc is caught")(extCheck(ext.filter(col("doc_id") =!= victim)) == 1)

    // spans_sink: stdout frames, committed units and the spans table
    val c = ctx("spans_sink")
    val ss = new SpansSink(c)
    ss.prepare()
    def table(i: Int): (String, String) = { val o = ss.outDir(i); (ss.runLanguages(o), o) }
    val (stdout, out0) = table(100)
    report("languages: the CLI output and table pass")(ss.sinkCheck(stdout, out0).run() == 0)
    val (_, out1) = table(101)
    report("languages: a wrong stdout is caught")(
      ss.sinkCheck(stdout.replaceFirst("\"en\"", "\"ru\""), out1).run() > 0)
    def oneDoc(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Long = {
      val (_, out) = table(102)
      corruptUnit(c, out) { df =>
        val id = df.select("doc_id").head().getString(0)
        df.withColumn("spans", when(col("doc_id") === id, f(col("spans"))).otherwise(col("spans")))
      }
      ss.sinkCheck(stdout, out).run()
    }
    report("spans: reordered spans of one doc are caught as one failed doc")(oneDoc(reverse) == 1)
    report("spans: a dropped span of one doc is caught as one failed doc")(
      oneDoc(s => slice(s, 1, 2)) == 1)
    report("spans: a changed span text is caught as one failed doc")(oneDoc(s =>
      transform(s, x => struct(x("kind"), upper(x("text")).as("text"), x("media_ref"), x("offset")))) == 1)
    val (_, out3) = table(103)
    Files.delete(Paths.get(out3, "_manifest", "part-3.json"))
    report("spans: an uncommitted unit is caught")(ss.sinkCheck(stdout, out3).run() == ss.unitsPerJob)

    // query_sweep: a leaf that throws (its table is missing) counts as
    // failed instead of being timed
    val broken = new QuerySweep(new Ctx(spark, Perf.Opts(Map("workload" -> "query_sweep",
      "seed" -> "7", "seconds" -> "1", "trace" -> "0", "work" -> work,
      "tables" -> s"$work/no_such_tables")), new TaskListener(spark.sparkContext)))
    val brokenFailed = broken.job(0).run()
    report("sweep: leaves that throw count as failed")(
      brokenFailed == broken.leafFailures.size && broken.leafFailures.contains("q1_agg"))

    // query_sweep: the noop-timed plans keep their kernels
    val cap = new PlanCapture
    val qs = spark.newSession()
    qs.listenerManager.register(cap)
    def plan(body: => Unit): String = {
      cap.last = ""
      body
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      cap.last
    }
    PinnedKernels.foreach { case (leaf, kernel) =>
      val df = SparkEntry.queries(leaf)(qs, args("tables"))
      val timed = plan(df.write.format("noop").mode("overwrite").save())
      val counted = plan(df.count())
      report(s"plan: the timed $leaf plan contains $kernel")(timed.contains(kernel))
      println(s"INFO the count() plan of $leaf ${if (counted.contains(kernel)) "keeps" else "drops"} $kernel")
    }
    qs.listenerManager.unregister(cap)

    println("LEAVES " + QuerySweep.leaves.map(l => s"\"$l\"").mkString("[", ", ", "]"))
    QuerySweep.dump(args("tables"), work)
    println(if (allOk) "SELFTEST DONE" else "SELFTEST DONE WITH FAILURES")
  }
}
