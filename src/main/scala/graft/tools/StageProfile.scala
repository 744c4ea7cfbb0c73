package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Bench, GraftSession, SparkEntry}

/** Stage-level profile of one [[SparkEntry.queries]] entry (dev tool):
  * runs the named query with Bench-identical memo clearing, then prints
  * every stage's task-time, shuffle bytes, and call site plus the
  * wall-vs-task-time gap — the attribution per-job walls cannot give
  * (overlapping jobs double-count wall; driver gaps between jobs are
  * invisible).
  *
  * Usage: `runMain graft.tools.StageProfile <queryName> [sfDir] [rounds]`
  */
object StageProfile {

  private case class StageRow(id: Int, name: String, tasks: Int,
                              runMs: Long, cpuMs: Long,
                              shufReadB: Long, shufWriteB: Long,
                              inputB: Long)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: StageProfile <query> [sfDir] [rounds]"))
    val dir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rounds = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(cpus, "graft-stageprofile")
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // start,end ns
    val jobStarts = mutable.Map.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStarts(js.jobId) = System.nanoTime()
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobStarts.remove(je.jobId).foreach(t0 =>
          jobSpans += ((t0, System.nanoTime())))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages += StageRow(si.stageId,
          si.details.linesIterator.toSeq
            .drop(1).find(l => l.contains("graft") && !l.contains("tools"))
            .getOrElse(si.name).trim.take(100),
          si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten, tm.inputMetrics.bytesRead)
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    (1 to rounds).foreach { round =>
      // Bench-identical pass semantics: cold memos each round
      Bench.resetPass(spark)
      stages.clear(); jobSpans.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      // union of job spans = time at least one job was running; the rest
      // of the wall is pure driver-side work (planning, FS ops, commits)
      val covered = {
        val sorted = jobSpans.toSeq.filter(_._1 >= t0).sortBy(_._1)
        var tot = 0L; var end = Long.MinValue
        sorted.foreach { case (s, e) =>
          if (s > end) { tot += e - s; end = e }
          else if (e > end) { tot += e - end; end = e }
        }
        tot / 1e9
      }
      val taskSec = stages.map(_.runMs).sum / 1e3
      println(f"[stageprofile] $name round $round: $n rows, wall $wall%.2f s, " +
        f"job-covered $covered%.2f s, driver-gap ${wall - covered}%.2f s, " +
        f"task-time $taskSec%.1f s, ${jobSpans.size} jobs, ${stages.size} stages")
      stages.sortBy(-_.runMs).take(20).foreach { s =>
        println(f"[stageprofile]   stage ${s.id}%4d ${s.runMs / 1e3}%7.2f s " +
          f"(cpu ${s.cpuMs / 1e3}%6.2f) ${s.tasks}%4d tasks " +
          f"in ${s.inputB / 1e6}%7.1f MB sr ${s.shufReadB / 1e6}%6.1f MB " +
          f"sw ${s.shufWriteB / 1e6}%6.1f MB  ${s.name}")
      }
    }
    spark.stop()
  }
}
