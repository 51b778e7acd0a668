package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev tool: run one catalog query and print per-job wall times plus
  * per-stage task-time/shuffle metrics, to see where a query's seconds go.
  * Usage: runMain graft.ProbeJobs <sfDir> <name> [warmRuns]
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val warm = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local("graft-probe-jobs", 32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    (1 to warm).foreach(_ => fn(spark, sfDir).count()) // JIT/codegen warm
    case class Job(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var desc: String = "", stages: mutable.Set[Int] = mutable.Set())
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageInfo = mutable.Map.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, t0 = e.time,
          desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        j.stages ++= e.stageIds
        jobs(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageInfo(si.stageId) = f"stage ${si.stageId}%3d tasks=${si.numTasks}%3d " +
          f"taskTime=${m.executorRunTime / 1000.0}%6.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%6.2fs " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%7.2fMB " +
          f"shufR=${m.shuffleReadMetrics.remoteBytesRead / 1048576.0 + m.shuffleReadMetrics.localBytesRead / 1048576.0}%7.2fMB " +
          f"in=${m.inputMetrics.bytesRead / 1048576.0}%7.2fMB  [${si.name.take(80)}]"
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // let the listener bus drain
    println(f"[probejobs] $name wall=$wall%.2fs jobs=${jobs.size}")
    jobs.values.foreach { j =>
      println(f"[probejobs] job ${j.id}%3d ${(j.t1 - j.t0) / 1000.0}%6.2fs  ${j.desc.take(60)}")
      j.stages.toSeq.sorted.foreach(s => stageInfo.get(s).foreach(x => println(s"[probejobs]    $x")))
    }
    spark.stop()
  }
}
