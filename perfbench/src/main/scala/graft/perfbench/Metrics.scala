package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import org.apache.spark.storage.{BlockId, RDDBlockId}

import scala.collection.mutable

/** Task-level totals of one job group (or of everything). */
final case class TaskTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def cpuS: Double = cpuNs / 1e9
  def mb(b: Long): Double = b / (1024.0 * 1024.0)
}

/** Collects executor task metrics per job group (`SparkContext.setJobGroup`).
  * Readers call [[drain]] first: it empties the listener bus, so every event
  * of the jobs that have returned is counted (no fixed sleep).
  */
final class TaskListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, TaskTotals]
  // per stage: (group, task run times in ms) — for the skew of a layer
  private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // in-memory bytes of every cached block and broadcast piece, their sum
  // now, and the largest sum since the last takeStorageMb()
  private val blockMem = mutable.Map.empty[BlockId, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  sc.addSparkListener(this)

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def bump(g: String)(f: TaskTotals => TaskTotals): Unit =
    byGroup(g) = f(byGroup.getOrElse(g, TaskTotals()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    bump(g)(t => t.copy(jobs = t.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    bump(g)(t => t.copy(stages = t.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (m != null) {
      stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      bump(g)(t => t.copy(
        tasks = t.tasks + 1,
        cpuNs = t.cpuNs + m.executorCpuTime,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
        outputBytes = t.outputBytes + m.outputMetrics.bytesWritten,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = t.spillBytes + m.diskBytesSpilled))
    } else bump(g)(t => t.copy(tasks = t.tasks + 1))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = if (b.storageLevel.isValid) b.memSize else 0L
    storageNow += size - blockMem.getOrElse(b.blockId, 0L)
    if (size > 0) blockMem(b.blockId) = size else blockMem.remove(b.blockId)
    storagePeak = math.max(storagePeak, storageNow)
  }

  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockMem.keys.collect { case b: RDDBlockId if b.rddId == e.rddId => b }.toList
      .foreach(b => storageNow -= blockMem.remove(b).getOrElse(0L))
  }

  /** The largest memory, in MB, that cached blocks and broadcast pieces
    * held at once since the last call.
    */
  def takeStorageMb(): Double = {
    drain()
    synchronized {
      val p = storagePeak
      storagePeak = storageNow
      p / (1024.0 * 1024.0)
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def totals(g: String): TaskTotals = { drain(); synchronized(byGroup.getOrElse(g, TaskTotals())) }

  /** Skew of a group: on its blocking stage (the one with the most summed
    * task run time), the slowest task's run time over the median's.
    */
  def skew(g: String): Double = {
    drain()
    synchronized {
      val runs = stageRuns.collect { case (s, r) if stageGroup.get(s).contains(g) && r.nonEmpty => r }
      if (runs.isEmpty) 1.0
      else {
        val r = runs.maxBy(_.sum).sorted
        r.last.toDouble / math.max(1L, r(r.length / 2)).toDouble
      }
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

/** One traced layer call; `parent` is the enclosing span's id or -1. */
final case class TraceSpan(id: Int, name: String, parent: Int, job: Int, startNs: Long, var endNs: Long)

/** In-memory spans around the benchmark's calls into each layer. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[TraceSpan]
  private var stack: List[Int] = Nil
  var job = 0

  def span[T](name: String)(body: => T): T = {
    val s = TraceSpan(spans.length, name, stack.headOption.getOrElse(-1), job, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body
    finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  private def dur(s: TraceSpan): Double = (s.endNs - s.startNs) / 1e9

  /** Self time of every span named `name` in job `j`: its duration minus
    * its children's (children never overlap — one calling thread).
    */
  def selfS(name: String, j: Int): Double =
    spans.filter(s => s.name == name && s.job == j).map { s =>
      dur(s) - spans.filter(_.parent == s.id).map(dur).sum
    }.sum

  def names(j: Int): Seq[String] = spans.filter(_.job == j).map(_.name).distinct.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
