package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BidExports, ExportParquet, Normalize, ProtoPipeline}
import graft.sources.GraftTableFormat
import graft.streaming.BidPipeline

/** The dual export's parallel shape: the hour fan-out spreads a batch's
  * hours over several tasks while keeping one file per hour directory,
  * and the two concurrently written sinks publish a commit only when
  * both succeed, with both sinks' jobs in the caller's job group.
  */
class ExportFanOutSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def dirsNamed(root: File, p: String => Boolean): Seq[File] = {
    val (here, rest) = Option(root.listFiles()).toSeq.flatten
      .filter(_.isDirectory).partition(d => p(d.getName))
    here ++ rest.flatMap(dirsNamed(_, p))
  }

  private def parquetFiles(dir: File): Seq[File] =
    dir.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  /** The task partition id in Spark's `part-NNNNN-<uuid>` file name. */
  private def partId(f: File): String = f.getName.split('-')(1)

  test("hour fan-out: one file per hour directory, written by several tasks") {
    val hours = 12
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    val rows = spark.range(hours * 40L).select(col("id"),
      (lit(t0) + (col("id") % hours) * 3600000L).as("ms"))
    val df = ExportParquet.withPartitionCols(rows, col("ms"))

    val batchOut = tmp("graft-fanout-batch")
    ExportParquet.writeBatch(df, batchOut, batchId = 5)
    val batchDirs = dirsNamed(new File(batchOut), _ == "batch_id=5")
    assert(batchDirs.size == hours)
    batchDirs.foreach(d => assert(parquetFiles(d).size == 1,
      s"$d must hold exactly one file"))
    val batchTasks = batchDirs.flatMap(parquetFiles).map(partId).distinct
    assert(batchTasks.size > 1,
      s"all $hours hours were written by one task: $batchTasks")
    assert(spark.read.parquet(batchOut).count() == rows.count())

    val appendOut = tmp("graft-fanout-append")
    ExportParquet.write(df, appendOut)
    val hourDirs = dirsNamed(new File(appendOut), _.startsWith("hour="))
    assert(hourDirs.size == hours)
    hourDirs.foreach(d => assert(parquetFiles(d).size == 1,
      s"$d must hold exactly one file"))
    assert(hourDirs.flatMap(parquetFiles).map(partId).distinct.size > 1)
  }

  test("a failed aggregate sink publishes no commit; the replay commits both") {
    val export = tmp("graft-fanout-export")
    val cfg = BidPipeline.Config(
      bootstrapServers = "unused:9092", topic = "unused",
      checkpointLocation = tmp("graft-fanout-ckpt"), exportRoot = export,
      commitLog = true)
    val root = s"$export/${cfg.logname}"
    // the first two days of sf0.001: a few dozen rows over ~40 hours
    // (each hour directory costs a file per sink, not each row)
    val batch = ProtoPipeline.decodeFrames(
        ProtoPipeline.framedMessages(spark, sf0001))
      .filter(col("timestamp.seconds") <
        java.time.Instant.parse("2024-01-03T00:00:00Z").getEpochSecond)
      .localCheckpoint()
    val n = batch.count()
    assert(n > 0)

    // a plain file where the aggregate sink's directory must go
    val obstacle = new File(s"$root/hourly_requests_agg")
    obstacle.getParentFile.mkdirs()
    assert(obstacle.createNewFile())
    intercept[Throwable](BidPipeline.exportBatch(batch, cfg, batchId = 3))
    assert(!GraftTableFormat.isCommitted(spark, root, 3))
    val log = new File(s"$root/_graft_log")
    assert(Option(log.listFiles()).toSeq.flatten
      .forall(!_.getName.startsWith("v")), "no version may be published")

    // restart: the same batch id replays through the full dual export.
    // The aggregate write runs on another thread; its jobs must carry
    // this thread's job group, which is what a query's stop() cancels.
    assert(obstacle.delete())
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("fanout-replay", "replay of batch 3")
      try BidPipeline.exportBatch(batch, cfg, batchId = 3)
      finally sc.clearJobGroup()
      // listener events arrive in order: once this job shows up, every
      // job of the replay has been seen
      sc.setJobGroup("fanout-marker", "end of replay")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("fanout-marker") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val replayJobs = groups.asScala.takeWhile(_ != "fanout-marker").toSeq
    assert(replayJobs.size >= 2 && replayJobs.forall(_ == "fanout-replay"),
      s"job groups of the replay: $replayJobs")
    assert(GraftTableFormat.isCommitted(spark, root, 3))

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids(spark.read.parquet(s"$root/raw")) == ids(batch),
      "every raw id exactly once")

    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("date"), col("hour").cast("int"), col("pub_id"),
          col("device_id"), col("resolution"), col("deal"), col("requests"))
        .collect().map(_.toString).sorted.toSeq
    assert(keyed(GraftTableFormat.read(spark, root, "hourly_requests_agg")) ==
      keyed(BidExports.hourlyRequestsAgg(Normalize(batch))))
  }
}
