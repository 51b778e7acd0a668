package perfbench

import java.io.File
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One node of the span tree: run -> operation -> Spark job -> stage. */
final case class Span(id: String, kind: String, name: String, parent: String,
    startMs: Long, endMs: Long)

/** Listener side of the traced run. Every operation runs under its own
  * job group (`pb-<n>`); jobs, stages and tasks are attributed to an
  * operation through the `spark.jobGroup.id` property Spark copies onto
  * them. Query executions and block updates carry no job group, so they
  * go to the operation that is current when the event is delivered —
  * sound because operations run one after another and the bus is drained
  * at the end of each.
  */
final class Listener extends SparkListener with QueryExecutionListener {

  final class Agg {
    var jobs, stages, tasks, taskFailures, skipped = 0L
    var runMs, gcMs, fetchWaitMs = 0L
    var cpuNs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    var planMs = 0L
    var peakBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val aggs = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  @volatile private var current: String = null
  val spans = mutable.ArrayBuffer.empty[Span]

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  /** `heldBytes`: RDD block bytes held when the operation starts; blocks
    * seen from here on are tracked one by one. */
  def begin(op: String, heldBytes: Long): Unit = synchronized {
    current = op
    blocks.clear()
    blockBytes = heldBytes
    agg(op).peakBytes = blockBytes
  }
  def end(): Unit = synchronized { current = null }
  def take(op: String): Agg = synchronized { aggs.remove(op).getOrElse(new Agg) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    if (g != null) { val a = agg(g); a.jobs += 1; a.skipped += e.stageIds.size }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      if (g != null) {
        agg(g).jobIntervals += ((t0, e.time))
        spans += Span(s"job-${e.jobId}", "job", s"job ${e.jobId}", g, t0, e.time)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    if (g != null) {
      stageGroup(e.stageInfo.stageId) = g
      if (e.stageInfo.attemptNumber() == 0) {
        val a = agg(g); a.stages += 1; a.skipped -= 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageGroup.get(i.stageId).foreach { g =>
      spans += Span(s"stage-${i.stageId}.${i.attemptNumber()}", "stage",
        s"stage ${i.stageId} (${i.numTasks} tasks)",
        stageJob.get(i.stageId).map(j => s"job-$j").getOrElse(g),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val id = i.blockId.name
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      blockBytes += now - blocks.getOrElse(id, 0L)
      if (now == 0L) blocks.remove(id) else blocks(id) = now
      if (current != null) {
        val a = agg(current)
        a.peakBytes = math.max(a.peakBytes, blockBytes)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    if (current != null)
      agg(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}

/** Registers the listener for traced passes and turns one operation's
  * events into its per-layer figures.
  */
final class Tracer(spark: SparkSession, runDir: File) {
  val listener = new Listener
  private val sc = spark.sparkContext

  def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  final case class Before(persistent: Set[Int], startMs: Long)

  def begin(op: String): Before = {
    PerfbenchBus.drain(sc)
    listener.begin(op, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    Before(sc.getPersistentRDDs.keySet.toSet, System.currentTimeMillis())
  }

  /** Per-layer figures of one operation; call after its last Spark call. */
  def end(op: String, b: Before, endMs: Long): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    listener.end()
    val a = listener.take(op)
    val wallMs = math.max(1L, endMs - b.startMs)
    val left = (sc.getPersistentRDDs.keySet.toSet -- b.persistent).size
    Map(
      "driver.plan_s" -> a.planMs / 1e3,
      "driver.gap_s" -> (wallMs - covered(a.jobIntervals.toSeq, b.startMs, endMs)) / 1e3,
      "spark.jobs" -> a.jobs.toDouble,
      "spark.stages" -> a.stages.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.stages_skipped" -> a.skipped.toDouble,
      "spark.task_failures" -> a.taskFailures.toDouble,
      "exec.run_s" -> a.runMs / 1e3,
      "exec.cpu_s" -> a.cpuNs / 1e9,
      "exec.gc_s" -> a.gcMs / 1e3,
      "shuffle.write_bytes" -> a.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> a.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> a.spill.toDouble,
      "shuffle.fetch_wait_s" -> a.fetchWaitMs / 1e3,
      "io.input_bytes" -> a.input.toDouble,
      "io.output_bytes" -> a.output.toDouble,
      "io.output_files" -> Tracer.newDataFiles(runDir, b.startMs).toDouble,
      "storage.peak_bytes" -> a.peakBytes.toDouble,
      "storage.rdds_left" -> left.toDouble)
  }

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, reach); val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}

object Tracer {
  /** Data files (parquet/orc) under `dir` written at or after `sinceMs`. */
  def newDataFiles(dir: File, sinceMs: Long): Int = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[File])
    kids.map { f =>
      if (f.isDirectory) newDataFiles(f, sinceMs)
      else if ((f.getName.endsWith(".parquet") || f.getName.endsWith(".orc")) &&
        !f.getName.startsWith(".") && f.lastModified() >= sinceMs) 1
      else 0
    }.sum
  }
}
