package graft.perfbench

import graft.SparkEntry

import scala.collection.mutable

object QuerySweep {
  lazy val leaves: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Dumps every leaf and the oracle base tables for the DuckDB check;
    * `graft.Verify` stops its session when done.
    */
  def dump(tables: String, work: String): Unit =
    graft.Verify.main(Array(tables, s"$work/verify"))
}

/** All declared `SparkEntry.queries` leaves, each written to the `noop`
  * sink (full materialization), in a fresh `newSession()` per sweep — so
  * the per-session memos (extraction, classification, threads, IVF
  * index) are rebuilt by every sweep. Outputs are oracle-checked: before
  * the set-ups, `dump` writes them with `graft.Verify`, and after the run
  * `perfbench/run.py` compares every leaf with its DuckDB oracle.
  */
final class QuerySweep(ctx: Ctx) extends Workload {
  import QuerySweep.leaves
  private val spark = ctx.spark
  private val tables = ctx.opts("tables")
  private var docsRows = 0L
  private val wall = mutable.Map.empty[(String, Int), Double]
  private var extHotShare = 0.0
  private[perfbench] val leafFailures = mutable.LinkedHashSet.empty[String]

  def prepare(): Unit = {
    ctx.group("prepare")
    docsRows = spark.read.parquet(s"$tables/documents.parquet").count()
    // story skew of the Synth corpus the ext_* leaves extract (uniform)
    extHotShare = Oracle.hotShare(SparkEntry.extractedFor(spark, tables).toDF())
  }

  def inputDocs: Long = docsRows
  def unitsPerJob: Long = leaves.size.toLong

  private def sweep(i: Int, tr: Option[Tracer]): Check = {
    val s = spark.newSession()
    var failed = 0L
    leaves.foreach { leaf =>
      def write(): Unit = SparkEntry.queries(leaf)(s, tables).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val ok =
        try {
          tr match {
            case Some(t) =>
              ctx.group(s"${Layers.family(leaf)}#$i")
              t.span(s"query.$leaf")(write())
            case None => write()
          }
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] leaf $leaf failed: $e")
            leafFailures += leaf
            false
        }
      if (ok && tr.isDefined) wall((leaf, i)) = (System.nanoTime() - t0) / 1e9
      if (!ok) failed += 1
    }
    // each sweep starts cold: drop the memoized caches of this session
    Check(leaves.size.toLong, () => { spark.catalog.clearCache(); failed })
  }

  override def warmupJobs: Int = 1
  def job(i: Int): Check = sweep(i, None)
  def tracedJob(i: Int, tr: Tracer): Check = tr.span("job")(sweep(i, Some(tr)))

  def layerMetrics(tr: Tracer, j: Int): Seq[(String, (Double, String))] = {
    val values = mutable.Map.empty[String, Double]
    wall.foreach { case ((l, job), w) => if (job == j) values(s"query.$l.wall_s") = w }
    Layers.Families.foreach { f =>
      val t = ctx.tasks.totals(s"$f#$j")
      values(s"query.$f.task_cpu_s") = t.cpuS
      values(s"query.$f.shuffle_mb") = t.mb(t.shuffleWriteBytes)
      values(s"query.$f.spill_mb") = t.mb(t.spillBytes)
    }
    Layers.all.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }
  }

  override def context: Seq[(String, String)] = Seq(
    "tables" -> s"\"${java.nio.file.Paths.get(tables).getFileName}\"",
    "hot10_share" -> f"$extHotShare%.4f",
    "leaf_names" -> leaves.map(l => s"\"$l\"").mkString("[", ", ", "]"),
    "leaf_failures" -> leafFailures.map(l => s"\"$l\"").mkString("[", ", ", "]"))
}
