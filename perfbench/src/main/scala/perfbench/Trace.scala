package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One traced interval: what ran, when (epoch ms), and which span
  * caused it (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Spans kept in memory and written out when the run ends. The
  * benchmark opens them around its own calls into each layer's public
  * entry point; listener callbacks add spans for work the engine starts
  * by itself (stream triggers, parquet writes). With tracing off every
  * call is a plain pass-through and nothing is recorded. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val id = synchronized {
        spans += Span(spans.size, name, parent, System.currentTimeMillis(), 0L)
        spans.size - 1
      }
      stack.set(id :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        val end = System.currentTimeMillis()
        synchronized { spans(id) = spans(id).copy(endMs = end) }
      }
    }

  /** A span the engine ran by itself (stream triggers, parquet writes),
    * reconstructed from listener events after the fact. [[linked]]
    * gives it its parent. */
  def record(name: String, startMs: Long, endMs: Long): Unit =
    if (on) synchronized { spans += Span(spans.size, name, -1, startMs, endMs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time: a span's duration minus the union of its children. */
  def selfMs(s: Span, spansNow: Seq[Span]): Long = {
    val kids = spansNow.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }
    s.ms - Tracer.unionMs(kids)
  }

  /** The spans with every root that another span contains (recorded
    * spans, and work the engine ran on its own threads, such as a commit
    * inside a trigger) parented on the innermost such span. */
  def linked: Seq[Span] = {
    val ss = all
    ss.map { s =>
      if (s.parent != -1) s
      else ss.filter(o => o.id != s.id && o.startMs <= s.startMs && o.endMs >= s.endMs &&
          (o.ms > s.ms || o.id < s.id))
        .sortBy(o => (o.ms, -o.id)).headOption.fold(s)(o => s.copy(parent = o.id))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val spansNow = linked
    val lines = spansNow.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${selfMs(s, spansNow)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark execution counts (jobs, tasks, task/CPU time, shuffle, spill,
  * per-stage skew), job intervals and parquet write intervals, from the
  * scheduler's listener bus. Event times are stamped on the thread that
  * ran the work, so the intervals do not lag behind with the bus. */
final class SparkCounters extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val stageMaxTask = scala.collection.mutable.Map.empty[(Int, Int), Long]
  val stageSkew = ArrayBuffer.empty[(Long, Long)] // (longest task, stage wall)
  private val sqlStart = scala.collection.mutable.Map.empty[Long, Long]
  private val writes = ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    val k = (e.stageId, e.stageAttemptId)
    stageMaxTask(k) = math.max(stageMaxTask.getOrElse(k, 0L), e.taskInfo.duration)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      stageSkew += ((stageMaxTask.getOrElse((si.stageId, si.attemptNumber()), 0L), c - s))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case x: SparkListenerSQLExecutionEnd =>
      val path = PerfbenchBus.query(x).flatMap(SparkCounters.outputPath)
      synchronized {
        sqlStart.remove(x.executionId).foreach(s => path.foreach(p => writes += ((p, s, x.time))))
      }
    case _ =>
  }

  def snap: Counts = synchronized {
    Counts(jobs, tasks, taskMs, cpuNs, shuffleWriteBytes, spillBytes,
      stageSkew.map(_._1).sum, stageSkew.map(_._2).sum)
  }

  /** Job intervals overlapping [from, to], clipped to it. */
  def jobsWithin(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobSpans.toList.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
  }

  /** (output path, start, end) of every parquet write so far — one per
    * `ExportParquet.writeBatch` or index write; drain the bus first. */
  def writeSpans: Seq[(String, Long, Long)] = synchronized(writes.toList)
}

object SparkCounters {
  def outputPath(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.orElse(qe.executedPlan.collectFirst {
      case w: DataWritingCommandExec => w.cmd
    }.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString })
}

/** Streaming progress events: per-trigger durations and source offsets. */
final class ProgressLog extends StreamingQueryListener {
  val events = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(events.toList)
  def clear(): Unit = synchronized(events.clear())
}

/** Cumulative Spark counters at one instant; differences give a phase's. */
final case class Counts(jobs: Long, tasks: Long, taskMs: Long, cpuNs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        longestTaskMs: Long, stageWallMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, longestTaskMs - o.longestTaskMs,
    stageWallMs - o.stageWallMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, cpuNs + o.cpuNs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, longestTaskMs + o.longestTaskMs,
    stageWallMs + o.stageWallMs)
}

object Counts {
  val Zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)
}
