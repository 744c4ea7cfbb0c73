package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.operators.{BidExports, Normalize}
import graft.sources.{GraftTableFormat, TableFormat}
import graft.sources.kafka.KafkaStubBroker
import graft.streaming.{BidPipeline, ServiceMain}

/** The service workloads: Kafka backlog drain and file-mode replay.
  * Both run the shipped `BidPipeline.start` (decode → normalize → dual
  * parquet export) and check both exports after every repetition. */
object Service {

  val Topic = "bids"
  val Partitions = 4
  // sizes, fixed per workload so every seed does the same amount of work
  val BacklogMsgs = 40000
  val ReplayHours = 110
  val ReplayMsgs = 4000
  val WarmReplayHours = 4
  val WarmReplayMsgs = 400

  private val frameSchema = StructType(Seq(
    StructField("value", BinaryType), StructField("timestamp", TimestampType)))

  /** One micro-batch as its progress event reports it. */
  final case class Batch(id: Long, startMs: Long, commitMs: Long, rows: Long,
                         startOffsets: Map[Int, Long], endOffsets: Map[Int, Long],
                         durations: Map[String, Long])

  private def offsets(json: String): Map[Int, Long] =
    if (json == null || !json.contains(Topic)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json).get(Topic)
      node.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    }

  def batches(ps: Seq[StreamingQueryProgress]): Seq[Batch] =
    ps.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, offsets(p.sources.head.startOffset),
        offsets(p.sources.head.endOffset), d)
    }.groupBy(_.id).values.map(_.last).toSeq.sortBy(_.id)

  /** The generated messages as the frame shape the pipeline reads. */
  def framesDF(spark: SparkSession, msgs: Seq[(Array[Byte], Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      msgs.map { case (v, ts) => Row(v, new java.sql.Timestamp(ts)) },
      spark.sparkContext.defaultParallelism), frameSchema)

  private val AggKeys = Seq("date", "hour", "pub_id", "device_id", "resolution", "deal")

  /** Order-free fingerprint of an aggregate: (rows, sum of row hashes). */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(AggKeys.map(col) :+ col("requests"): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def aggKeyed(df: DataFrame): DataFrame =
    df.groupBy(AggKeys.map(k => if (k == "hour") col(k).cast("int") else col(k)): _*)
      .agg(sum(col("requests")).cast("long").as("requests"))

  /** The hourly aggregate of a message set, recomputed in batch over the
    * same frames the first time a check needs it. */
  final class Expected(val n: Long, frames: () => DataFrame) {
    lazy val fp: (Long, java.math.BigDecimal) = fingerprint(aggKeyed(
      BidExports.hourlyRequestsAgg(Normalize(BidPipeline.decode(frames(), stripPrefix = true)))))
  }

  /** A TableFormat that times each commit (traced runs only). */
  final class TracedFormat(ctx: Ctx) extends TableFormat {
    override def isCommitted(s: SparkSession, root: String, b: Long): Boolean =
      GraftTableFormat.isCommitted(s, root, b)
    override def commit(s: SparkSession, root: String, b: Long): Seq[String] =
      ctx.tracer("table.commit")(GraftTableFormat.commit(s, root, b))
    override def committedFiles(s: SparkSession, root: String): Seq[String] =
      GraftTableFormat.committedFiles(s, root)
    override def checkpoint(s: SparkSession, root: String, through: Long): Unit =
      GraftTableFormat.checkpoint(s, root, through)
    override def read(s: SparkSession, root: String, sink: String): DataFrame =
      GraftTableFormat.read(s, root, sink)
  }

  /** What one repetition measured. */
  final case class Rep(t0: Long, setupMs: Long, endMs: Long, batches: Seq[Batch],
                       counts: Counts, jobWindows: Seq[(Long, Long)],
                       outBytes: Long, files: Int, batchDirs: Int, rows: Long)

  /** Damage one `batch_id` directory of the raw sink (negative test). */
  private def tamper(mode: String, raw: Path): Unit = {
    val d = Ctx.batchDirs(raw).sortBy(_.toString).head
    mode match {
      case "delete" => Ctx.rmTree(d)
      case "duplicate" =>
        val copy = d.resolveSibling("batch_id=999999")
        Files.createDirectories(copy)
        Ctx.files(d, ".parquet").foreach(f =>
          Files.copy(f, copy.resolve("dup-" + f.getFileName.toString)))
    }
    System.err.println(s"[perfbench] tampered ($mode) with $d")
  }

  /** Both output checks on one repetition's export; failures count
    * against the run. Returns (raw rows, agg rows). */
  def check(ctx: Ctx, export: Path, expected: Expected,
            commitLog: Boolean, logname: String): (Long, Long) = {
    val n = expected.n
    val spark = ctx.spark
    val rawDir = export.resolve(logname).resolve("raw")
    val aggDir = export.resolve(logname).resolve("hourly_requests_agg")
    ctx.args.tamper.foreach(tamper(_, rawDir))
    val id = col("id").cast("long")
    val inRange = id >= 0L && id < n
    // a sink without a single data file has no schema to read: it holds
    // no rows, which the checks below then report as lost
    val (total, distinct, distinctIn, outside) =
      if (Ctx.files(rawDir, ".parquet").isEmpty) (0L, 0L, 0L, 0L)
      else {
        val r = spark.read.parquet(rawDir.toString)
          .agg(count(lit(1)), countDistinct(col("id")),
            countDistinct(when(inRange, col("id"))),
            sum(when(inRange, 0L).otherwise(1L)))
          .head()
        (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.get(3)).fold(0L)(_.toString.toLong))
      }
    ctx.res.fail(n - distinctIn, s"${n - distinctIn} generated ids missing from the raw export")
    ctx.res.fail(total - distinct, s"${total - distinct} duplicate ids in the raw export")
    ctx.res.fail(outside, s"$outside raw rows with ids that were never generated")
    if (commitLog) {
      val visible = GraftTableFormat.read(spark, export.resolve(logname).toString, "raw").count()
      ctx.res.fail(math.abs(visible - total),
        s"committed raw snapshot holds $visible rows, the export tree $total")
    }
    val agg = spark.read.parquet(aggDir.toString)
    val aggRows = agg.count()
    val got = fingerprint(aggKeyed(agg))
    ctx.res.fail(if (got == expected.fp) 0L else math.max(1L, math.abs(got._1 - expected.fp._1)),
      s"hourly aggregate ${got} differs from the batch recomputation ${expected.fp} " +
        "(groups, sum of group hashes)")
    (total, aggRows)
  }

  /** Run one bounded (AvailableNow) drain into a fresh directory, check
    * its output, and delete it. */
  def drain(ctx: Ctx, expected: Expected, source: () => Option[DataFrame],
            cfgOf: Path => BidPipeline.Config): Rep = {
    val n = expected.n
    val dir = ctx.newRep()
    val cfg = cfgOf(dir)
    ctx.progress.clear()
    ctx.drainListeners()
    val before = ctx.counters.snap
    val t0 = System.currentTimeMillis()
    val (setupMs, endMs) = ctx.tracer("stream.drain") {
      val q = BidPipeline.start(ctx.spark, cfg, source())
      val started = System.currentTimeMillis()
      q.awaitTermination()
      (started - t0, System.currentTimeMillis())
    }
    ctx.drainListeners()
    val counts = ctx.counters.snap - before
    val bs = batches(ctx.progress.snapshot)
    recordEngineSpans(ctx, bs, t0, endMs)
    val export = dir.resolve("export")
    val (raw, agg) = check(ctx, export, expected, cfg.commitLog, cfg.logname)
    ctx.res.attempted += n
    val root = export.resolve(cfg.logname)
    val rep = Rep(t0, setupMs, if (bs.isEmpty) endMs else bs.map(_.commitMs).max,
      bs, counts, ctx.counters.jobsWithin(t0, endMs),
      Ctx.treeBytes(export, ".parquet"), Ctx.files(export, ".parquet").size,
      Ctx.batchDirs(root.resolve("raw")).size +
        Ctx.batchDirs(root.resolve("hourly_requests_agg")).size,
      raw + agg)
    ctx.cleanRep(dir)
    ctx.log(f"drain of $n messages: ${(rep.endMs - t0) / 1000.0}%.2f s, checked")
    rep
  }

  /** Trigger and parquet-write spans from the listeners, placed under
    * the benchmark's own spans. */
  def recordEngineSpans(ctx: Ctx, bs: Seq[Batch], from: Long, to: Long): Unit =
    if (ctx.args.trace) {
      bs.foreach(b => ctx.tracer.record("stream.trigger", b.startMs, b.commitMs))
      ctx.counters.writeSpans.filter { case (_, s, _) => s >= from && s <= to }
        .foreach { case (p, s, e) =>
          ctx.tracer.record("export.write." + p.split('/').last, s, e) }
    }

  /** Warm-up (its cost is set-up), then measured repetitions until the
    * run's seconds are spent (at most eight). */
  def repLoop(ctx: Ctx, warm: () => Rep, measured: () => Rep): (Double, Seq[Rep]) = {
    val w = warm()
    val reps = ArrayBuffer.empty[Rep]
    var spent = 0.0
    while (ctx.res.failed == 0 && reps.size < 8 && spent < ctx.seconds) {
      val r = measured()
      spent += (r.endMs - r.t0) / 1000.0
      reps += r
    }
    ((w.endMs - w.t0) / 1000.0, reps.toSeq)
  }

  /** End-to-end metrics of bounded drains: every message of a backlog
    * is due when the drain starts, so its freshness is its batch's
    * commit time minus the drain's start. */
  def drainMetrics(ctx: Ctx, n: Long, warmS: Double, reps: Seq[Rep]): Unit = {
    val tput = reps.map(r => n * 1000.0 / (r.endMs - r.t0))
    val fresh = reps.flatMap(r => r.batches.map(b => ((b.commitMs - r.t0) / 1000.0, b.rows)))
    putE2e(ctx, warmS, reps.map(_.setupMs / 1000.0), Ctx.median(tput),
      fresh, Ctx.median(reps.map(_.outBytes.toDouble / n)))
    if (ctx.args.trace) {
      layerFromReps(ctx, reps)
      traceE2e(ctx)
    }
  }

  /** The traced run's own end-to-end numbers, for the overhead check. */
  def traceE2e(ctx: Ctx): Unit = {
    ctx.res.layer("trace.throughput_per_s") = ctx.res.e2e("throughput_per_s")
    ctx.res.layer("trace.latency_p50_s") = ctx.res.e2e("latency_p50_s")
  }

  def putE2e(ctx: Ctx, warmS: Double, repSetupS: Seq[Double], tput: Double,
             latency: Seq[(Double, Long)], bytesPerItem: Double): Unit = {
    val e = ctx.res.e2e
    e("setup_s") = ctx.sessionS + warmS + Ctx.median(repSetupS)
    e("throughput_per_s") = tput
    e("latency_p50_s") = Ctx.quantile(latency, 0.5)
    e("latency_p99_s") = Ctx.quantile(latency, 0.99)
    e("output_bytes_per_item") = bytesPerItem
    // distinct latency values: one per measured trigger or crawl batch
    ctx.res.layer("latency.samples") = latency.size
  }

  /** Per-layer numbers of the streaming run itself: trigger phases,
    * Spark execution, and export layout. */
  def layerFromReps(ctx: Ctx, reps: Seq[Rep]): Unit = {
    val l = ctx.res.layer
    val bs = reps.flatMap(_.batches)
    def dsum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val trig = bs.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0)
    val wallS = reps.map(r => (r.endMs - r.t0) / 1000.0).sum
    l("stream.batches") = bs.size
    l("stream.trigger_p50_s") = Ctx.median(trig)
    l("stream.trigger_max_s") = if (trig.isEmpty) 0.0 else trig.max
    l("stream.add_batch_s") = dsum("addBatch")
    l("stream.planning_s") = dsum("queryPlanning")
    l("stream.wal_commit_s") = dsum("walCommit")
    l("stream.offsets_commit_s") = dsum("commitOffsets")
    l("stream.fixed_share") =
      (dsum("queryPlanning") + dsum("walCommit") + dsum("commitOffsets")) /
        math.max(1e-9, trig.sum)
    l("stream.idle_share") = math.max(0.0, 1.0 - trig.sum / math.max(1e-9, wallS))
    l("kafka.lag_msgs_max") = bs.map(b => b.endOffsets.map { case (p, e) =>
      e - b.startOffsets.getOrElse(p, 0L) }.sum.toDouble).maxOption.getOrElse(0.0)
    sparkLayer(ctx, reps.map(_.counts).foldLeft(Counts.Zero)(_ + _), wallS,
      reps.flatMap(_.jobWindows))
    // only work that started inside a measured repetition, not the warm-up
    def measured(startMs: Long) = reps.exists(r => startMs >= r.t0 && startMs <= r.endMs)
    val writes = ctx.counters.writeSpans.filter { case (_, s, _) => measured(s) }
    def wsum(suffix: String) =
      writes.filter(_._1.endsWith(suffix)).map { case (_, s, e) => e - s }.sum / 1000.0
    l("export.raw_s") = wsum("/raw")
    l("export.agg_s") = wsum("/hourly_requests_agg")
    l("export.files") = reps.map(_.files).sum
    l("export.partition_dirs") = reps.map(_.batchDirs).sum
    l("export.partition_dirs_per_batch") =
      reps.map(_.batchDirs).sum.toDouble / math.max(1, bs.size)
    l("export.rows_per_file") = reps.map(_.rows).sum.toDouble / math.max(1, reps.map(_.files).sum)
    l("export.bytes") = reps.map(_.outBytes).sum
    l("table.commit_s") = ctx.tracer.all
      .filter(s => s.name == "table.commit" && measured(s.startMs)).map(_.ms).sum / 1000.0
  }

  def sparkLayer(ctx: Ctx, c: Counts, wallS: Double, jobs: Seq[(Long, Long)]): Unit = {
    val l = ctx.res.layer
    l("spark.jobs") = c.jobs
    l("spark.tasks") = c.tasks
    l("spark.task_s") = c.taskMs / 1000.0
    l("spark.cpu_s") = c.cpuNs / 1e9
    l("spark.core_util") = c.taskMs / 1000.0 / math.max(1e-9, wallS * ctx.cores)
    l("spark.driver_gap_s") = math.max(0.0, wallS - Tracer.unionMs(jobs) / 1000.0)
    l("spark.shuffle_write_bytes") = c.shuffleWriteBytes
    l("spark.spill_bytes") = c.spillBytes
    l("spark.max_task_share") = c.longestTaskMs.toDouble / math.max(1L, c.stageWallMs)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Traced runs only: each layer's public entry point alone over the
    * same input — Kafka fetch, decode (all cores, then one partition),
    * and normalize + hourly aggregate — each into the `noop` sink. */
  def isolatedLayers(ctx: Ctx, n: Long, frames: () => DataFrame,
                     kafka: Option[DataFrame]): Unit = if (ctx.args.trace) {
    val l = ctx.res.layer
    val t = ctx.tracer
    def timed(name: String)(body: => Unit): Double = {
      val s = System.nanoTime(); t(name)(body); (System.nanoTime() - s) / 1e9
    }
    kafka.foreach { k =>
      val s = timed("layer.kafka_fetch")(noop(k))
      l("kafka.fetch_s") = s
      l("kafka.fetch_msgs_per_s") = n / s
      l("kafka.fetch_bytes") = k.agg(sum(length(col("value")))).head().getLong(0).toDouble
    }
    val input = frames().select(col("value"), col("timestamp")).persist()
    input.count()
    val dec = timed("layer.decode")(noop(BidPipeline.decode(input, stripPrefix = true)))
    val dec1 = timed("layer.decode_1thread")(
      noop(BidPipeline.decode(input.coalesce(1), stripPrefix = true)))
    val decoded = BidPipeline.decode(input, stripPrefix = true).persist()
    val kept = decoded.count()
    l("proto.decode_s") = dec
    l("proto.decode_msgs_per_s") = n / dec
    l("proto.decode_1thread_msgs_per_s") = n / dec1
    l("proto.poison_msgs") = (n - kept).toDouble
    l("normalize.rows_per_msg") = Normalize(decoded).count().toDouble / n
    val agg = BidExports.hourlyRequestsAgg(Normalize(decoded))
    l("normalize.agg_s") = timed("layer.normalize_agg")(noop(agg))
    l("normalize.agg_rows") = agg.count()
    decoded.unpersist(); input.unpersist()
  }

  private def cfg(ctx: Ctx, dir: Path, servers: String, topic: String,
                  availableNow: Boolean, commitLog: Boolean = false) =
    BidPipeline.Config(
      bootstrapServers = servers, topic = topic, connector = "graft",
      checkpointLocation = dir.resolve("checkpoint").toString,
      exportRoot = dir.resolve("export").toString,
      availableNow = availableNow, commitLog = commitLog,
      tableFormat = if (ctx.args.trace) new TracedFormat(ctx) else GraftTableFormat)

  private def kafkaRead(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.read.format("graft-kafka")
      .option("kafka.bootstrap.servers", servers).option("subscribe", topic)
      .option("startingOffsets", "earliest").option("endingOffsets", "latest")
      .option("minPartitions", 5).load()

  // ---- workloads -----------------------------------------------------------

  private def messages(seed: Long, n: Long, base: Long, hours: Int): IndexedSeq[(Array[Byte], Long)] =
    (0L until n).map { i =>
      val ev = Gen.eventMs(seed, base, hours, i, n)
      (Gen.bid(seed, i, ev), ev)
    }

  /** A pre-produced backlog inside one hour partition, drained with
    * AvailableNow at the shipped `maxOffsetsPerTrigger`. */
  def backlog(ctx: Ctx): Unit = {
    val broker = new KafkaStubBroker(partitions = Partitions)
    try {
      val msgs = messages(ctx.seed, BacklogMsgs, Gen.baseHourMs(ctx.seed), 1)
      ctx.log("backlog encoded")
      Gen.produceBacklog(broker.bootstrapServers, Topic, Partitions, ctx.cores, msgs)
      ctx.log("backlog produced")
      val expected = new Expected(msgs.size, () => framesDF(ctx.spark, msgs))
      def rep() = drain(ctx, expected, () => None,
        dir => cfg(ctx, dir, broker.bootstrapServers, Topic, availableNow = true))
      val (warmS, reps) = repLoop(ctx, () => rep(), () => rep())
      drainMetrics(ctx, msgs.size, warmS, reps)
      isolatedLayers(ctx, msgs.size, () => framesDF(ctx.spark, msgs),
        Some(kafkaRead(ctx.spark, broker.bootstrapServers, Topic)))
    } finally broker.close()
  }

  /** File-mode replay: one frame file per trigger, each spanning
    * [[ReplayHours]] hour partitions, with the commit log on. The
    * warm-up replays a small file over fewer hours. */
  def replay(ctx: Ctx): Unit = {
    val base = Gen.baseHourMs(ctx.seed)
    def stage(name: String, msgs: IndexedSeq[(Array[Byte], Long)]): String = {
      val dir = ctx.runDir.resolve(name)
      framesDF(ctx.spark, msgs).coalesce(1).write.parquet(dir.toString)
      dir.toString
    }
    val warmMsgs = messages(ctx.seed + 1, WarmReplayMsgs, base, WarmReplayHours)
    val msgs = messages(ctx.seed, ReplayMsgs, base, ReplayHours)
    val (warmDir, dir) = (stage("frames-warm", warmMsgs), stage("frames", msgs))
    ctx.log("frames staged")
    val expected = new Expected(msgs.size, () => framesDF(ctx.spark, msgs))
    def rep(frames: String, e: Expected) = drain(ctx, e,
      () => Some(ServiceMain.fileFrameSource(ctx.spark, frames)),
      d => cfg(ctx, d, "unused:9092", "unused", availableNow = true, commitLog = true))
    val (warmS, reps) = repLoop(ctx,
      () => rep(warmDir, new Expected(warmMsgs.size, () => framesDF(ctx.spark, warmMsgs))),
      () => rep(dir, expected))
    drainMetrics(ctx, msgs.size, warmS, reps)
    ctx.res.layer("table.files_committed") = reps.map(_.files).sum
    isolatedLayers(ctx, msgs.size, () => ctx.spark.read.parquet(dir), None)
  }
}
