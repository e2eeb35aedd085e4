package graft.perfbench

import graft.gloss.Classify
import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayOutputStream, PrintStream}
import scala.collection.mutable

/** One benchmark run: set-up, untimed warm-up jobs, then timed jobs of
  * one workload in a closed loop (one job at a time) for `--seconds`.
  * With `--trace 1` untraced and traced jobs alternate, and per-layer
  * metrics are reported instead of the end-to-end ones.
  *
  * {{{
  *   Perf --workload news_top|spans_sink|query_sweep --seed N --seconds S
  *        --trace 0|1 --work DIR [--docs N] [--tables DIR] [--cpus N]
  * }}}
  *
  * The last stdout line is `PERFBENCH_RESULT {json}`; `perfbench/run.py`
  * turns it into the benchmark's result line.
  */
object Perf {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = args.get(k)
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: String = apply("work")
    val cpus: Int = get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
  }

  /** Set-ups per run; the first `ColdSetups` load classes and warm the
    * JIT up, and only the later ones are reported.
    */
  val SetupReps = 16
  val ColdSetups = 4
  /** Timed jobs per run at least, however long they take. */
  val MinJobs = 2

  /** The same session `tgnews <verb>` builds (cli.Main.main), at
    * local[cpus]; scratch space stays inside the work directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** stdout of `body` (the CLI prints its frames with println). */
  def captureStdout(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(body)
    ps.flush()
    buf.toString("UTF-8")
  }

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }

  def main(argv: Array[String]): Unit = {
    val opts = Opts(argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap)
    new java.io.File(opts.work).mkdirs()
    // query_sweep's outputs are checked against DuckDB from a dump of every
    // leaf; it runs first, in a session it stops, so it also warms the
    // leaves up before the set-ups and the sweeps are timed
    if (opts.workload == "query_sweep") QuerySweep.dump(opts("tables"), opts.work)

    // set-up: session start + glossary parse + dictionary broadcast, what
    // every CLI invocation pays before its first job. The dictionaries go
    // through the public Classify.dictsBroadcast, memoized per session, so
    // each fresh session broadcasts them again. Its glossary parse
    // (Classify.defaultDicts) is a JVM-wide lazy val that only a fresh JVM
    // pays, so every set-up pays that parse through Classify.loadDicts(),
    // the body of the lazy val. The median of the warm set-ups is reported.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val dictsS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(opts.cpus, opts.work)
      val t1 = System.nanoTime()
      Classify.loadDicts()
      Classify.dictsBroadcast(spark)
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      dictsS += (t2 - t1) / 1e9
    }

    val ctx = new Ctx(spark, opts, new TaskListener(spark.sparkContext))
    val w: Workload = opts.workload match {
      case "news_top"    => new NewsTop(ctx)
      case "spans_sink"  => new SpansSink(ctx)
      case "query_sweep" => new QuerySweep(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer

    /** Job `i` and its check; its wall time when the check passed. A job
      * that throws counts all its units as failed and has no time. Each
      * job starts on a fully collected heap, as a CLI invocation's job
      * starts in a fresh JVM, so its time does not depend on the garbage
      * earlier jobs left. `jobStorageMb` is the most memory its cached
      * blocks and broadcasts held at once, before its check runs.
      */
    var jobStorageMb = 0.0
    def runJob(i: Int, traced: Boolean): Option[Double] = {
      tracer.job = i
      System.gc()
      ctx.group(s"job$i")
      ctx.tasks.takeStorageMb()
      val t0 = System.nanoTime()
      val outcome =
        try Right(if (traced) w.tracedJob(i, tracer) else w.job(i))
        catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      jobStorageMb = ctx.tasks.takeStorageMb()
      ctx.group("check")
      outcome match {
        case Right(check) => if (ctx.check(check) == 0) Some(dt) else None
        case Left(e) =>
          System.err.println(s"[perfbench] job $i failed: $e")
          ctx.fail(w.unitsPerJob)
          None
      }
    }

    w.prepare()
    (1 to w.warmupJobs).foreach(k => runJob(-k, traced = false))
    w.extraCheck().foreach(ctx.check)

    // timed jobs, one at a time; with --trace 1 every second job is traced
    val times = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val memMb = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Int, Double)]
    var i = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < opts.seconds || i < (if (opts.trace) 2 else MinJobs)) {
      val isTraced = opts.trace && i % 2 == 1
      runJob(i, isTraced).foreach { dt =>
        if (isTraced) traced += (i -> dt)
        else { times += dt; cpu += ctx.tasks.totals(s"job$i").cpuS; memMb += jobStorageMb }
      }
      i += 1
    }
    w.finish()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val jobS = Stats.median(times.toSeq)
    if (!opts.trace) {
      metrics("job_s") = (jobS, "s")
      metrics("docs_per_sec") = (w.inputDocs / jobS, "docs/s")
      metrics("task_cpu_s") = (Stats.median(cpu.toSeq), "s")
      metrics("setup_s") = (Stats.median(setupS.toSeq.drop(ColdSetups)), "s")
      metrics("mem_peak_mb") = (Stats.median(memMb.toSeq), "MB")
    } else if (traced.nonEmpty) {
      // every layer metric comes from the median traced job, so its self
      // times plus the unattributed rest add up to its job_s
      val (j, tracedS) = traced.sortBy(_._2).apply((traced.length - 1) / 2)
      metrics ++= w.layerMetrics(tracer, j)
      metrics("gloss.dicts_s") = (Stats.median(dictsS.toSeq.drop(ColdSetups)), "s")
      val sparkTotals = ctx.tasks.totals(s"job${j - 1}") // the untraced job before it
      metrics("spark.jobs") = (sparkTotals.jobs.toDouble, "count")
      metrics("spark.stages") = (sparkTotals.stages.toDouble, "count")
      metrics("spark.tasks") = (sparkTotals.tasks.toDouble, "count")
      val selfSum = tracer.names(j).filter(_ != "job").map(n => tracer.selfS(n, j)).sum
      metrics("trace.job_s") = (tracedS, "s")
      metrics("trace.untraced_job_s") = (jobS, "s")
      metrics("trace.overhead_s") = (tracedS - jobS, "s")
      metrics("trace.unattributed_s") = (tracedS - selfSum, "s")
    }

    val context = Seq(
      "workload" -> s"\"${opts.workload}\"", "seed" -> opts.seed.toString,
      "trace" -> (if (opts.trace) "1" else "0"),
      "cpus" -> opts.cpus.toString, "master" -> s"\"${spark.sparkContext.master}\"",
      "input_docs" -> w.inputDocs.toString,
      "jobs_timed" -> times.length.toString,
      "job_s_samples" -> times.map(t => f"$t%.4f").mkString("[", ", ", "]"),
      "mem_peak_mb_samples" -> memMb.map(m => f"$m%.1f").mkString("[", ", ", "]"),
      "setup_s_samples" -> setupS.map(t => f"$t%.4f").mkString("[", ", ", "]")) ++
      w.context
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0.0" else v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val line = "PERFBENCH_RESULT {" +
      s""""attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""context": ${context.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}, """ +
      s""""metrics": $metricJson}"""
    ctx.tasks.detach()
    println(line)
    if (!spark.sparkContext.isStopped) spark.stop()
  }
}

/** Shared run state: the session, collectors and the failure tally. */
final class Ctx(val spark: SparkSession, val opts: Perf.Opts,
                val tasks: TaskListener) {
  var attempted = 0L
  var failed = 0L
  def group(g: String): Unit = spark.sparkContext.setJobGroup(g, g)
  def fail(units: Long): Unit = { attempted += units; failed += units }
  /** Runs a job's output check; returns and tallies its failed units. */
  def check(c: Check): Long = {
    val f = math.min(c.units, math.max(0L, c.run()))
    attempted += c.units
    failed += f
    if (f > 0) System.err.println(s"[perfbench] check failed: $f of ${c.units} units")
    f
  }
}

/** A deferred output check over `units` output units (docs or leaves). */
final case class Check(units: Long, run: () => Long)

trait Workload {
  def prepare(): Unit
  /** Untimed warm-up jobs before the timed loop, checked like the rest. */
  def warmupJobs: Int = 3
  /** A check run once after the warm-up, beyond the per-job ones. */
  def extraCheck(): Option[Check] = None
  /** One timed job; the returned check runs after the clock stops. */
  def job(i: Int): Check
  /** The same job with a span around each layer call. */
  def tracedJob(i: Int, tr: Tracer): Check
  def unitsPerJob: Long
  def inputDocs: Long
  /** Every declared per-layer metric, from traced job `j`. */
  def layerMetrics(tr: Tracer, j: Int): Seq[(String, (Double, String))]
  /** Once after the timed loop (e.g. the resume check of a traced run). */
  def finish(): Unit = ()
  def context: Seq[(String, String)] = Nil
}
