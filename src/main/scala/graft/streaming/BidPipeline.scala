package graft.streaming

import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{BidExports, ExportParquet, Normalize, ProtoPipeline}
import graft.sources.{GraftTableFormat, TableFormat}
import graft.sources.proto.{BidRequestSchema, ProtoFunctions}

/** The whole reference service as one Structured Streaming job
  * (SURVEY §0 "Spark mental model" and §3): Kafka → strip prefix →
  * wire-decode → custom event_tm column → `foreachBatch` writing BOTH
  * projections (raw nested + normalized hourly aggregate) as
  * hive-partitioned zstd parquet.
  *
  * Reference-knob mapping (SURVEY §2.A):
  *  - consumer count / msg channel cap (main.go:43-44) →
  *    `minPartitions` / `maxOffsetsPerTrigger`
  *  - file rotation + DuckPaths channel (main.go:204,207) → micro-batch
  *    commit boundary
  *  - backpressure poll loop (main.go:302-315) → the blocking nature of
  *    `foreachBatch` + `maxOffsetsPerTrigger`
  *  - crash-recovery walk (main.go:141-195) → `checkpointLocation`
  *  - graceful drain (main.go:410-429) → `query.stop()` /
  *    `Trigger.AvailableNow` for bounded runs
  */
object BidPipeline {

  final case class Config(
      bootstrapServers: String,
      topic: String,
      groupId: String = "graft-bidreq",
      saslUser: Option[String] = None,
      saslPass: Option[String] = None,
      minPartitions: Int = 5,               // -kr clients, main.go:43
      maxOffsetsPerTrigger: Long = 983040L, // 122880 × kc=8, main.go:42-44
      stripConfluentPrefix: Boolean = true, // main.go:231
      dedupeIds: Boolean = false, // at-least-once backstop (SURVEY §7.3)
      dedupeContent: Boolean = false, // content-hash dedup (near-dup family's streaming twin)
      checkpointLocation: String,
      exportRoot: String,
      logname: String = "ortb.bid-requests", // main.go:126
      availableNow: Boolean = false,
      // "graft" = the engine's native wire-protocol source
      // (graft.sources.kafka), "kafka" = the official connector when its
      // jars are deployed, "auto" = official if present else native
      connector: String = "auto",
      commitLog: Boolean = false, // transactional dual-sink visibility
      // the transactional-table implementation behind the commit log —
      // swap for a Delta/Iceberg-backed TableFormat in production
      tableFormat: TableFormat = GraftTableFormat,
      // topic schema — descriptor-derived by default; swap in any
      // ProtoDescriptor.messageSchema(...) for a new topic
      schema: graft.sources.proto.PMessage = BidRequestSchema.bidrequest)

  /** True when the official `spark-sql-kafka` connector is deployed. */
  def officialConnectorPresent: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** A1: the Kafka source with the reference's consumer options. Both
    * providers accept the same option names and produce the same frame
    * schema, so the choice is invisible downstream; the native
    * [[graft.sources.kafka.GraftKafkaSourceProvider]] is the one the
    * sandbox can wire-test (StreamingPipelineSpec drives it against
    * [[graft.sources.kafka.KafkaStubBroker]]). */
  def kafkaSource(spark: SparkSession, cfg: Config): DataFrame = {
    val format = cfg.connector match {
      case "kafka" => "kafka"
      case "graft" => "graft-kafka"
      case "auto" => if (officialConnectorPresent) "kafka" else "graft-kafka"
      case other => throw new IllegalArgumentException(
        s"connector must be graft|kafka|auto, got '$other'")
    }
    var r = spark.readStream.format(format)
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topic)
      .option("kafka.group.id", cfg.groupId)
      .option("minPartitions", cfg.minPartitions)
      .option("maxOffsetsPerTrigger", cfg.maxOffsetsPerTrigger)
      .option("startingOffsets", "earliest")
    (cfg.saslUser, cfg.saslPass) match {
      case (Some(u), Some(p)) =>
        r = r.option("kafka.security.protocol", "SASL_SSL")
          .option("kafka.sasl.mechanism", "PLAIN")
          .option("kafka.sasl.jaas.config",
            "org.apache.kafka.common.security.plain.PlainLoginModule required " +
              s"""username="$u" password="$p";""")
      case _ =>
    }
    r.load()
  }

  /** A2-A5 + A10: frames (`value` binary + source `timestamp`) → raw
    * nested bidreq frame with `event_tm`. With a real Kafka source the
    * broker timestamp replaces the reference's 8-byte suffix hack
    * (SURVEY A3) — `event_tm` comes from the `timestamp` column.
    */
  def decode(frames: DataFrame, stripPrefix: Boolean,
             schema: graft.sources.proto.PMessage = BidRequestSchema.bidrequest)
      : DataFrame = {
    val payload =
      if (stripPrefix) expr("substring(value, 7, length(value) - 6)")
      else col("value")
    frames.select(
        ProtoFunctions
          .protoDecode(payload, schema, lenient = true)
          .as("bid"),
        unix_millis(col("timestamp")).as("event_tm"))
      .filter(col("bid").isNotNull) // poison messages drop, stream survives
      .select(col("bid.*"), col("event_tm"))
  }

  /** A11 + §3.2: the per-micro-batch dual export. One decoded batch is
    * persisted and written twice: the raw nested tree and the hourly
    * aggregate of the normalized projection — the exact body the
    * reference runs per rotated DuckDB file, minus the RPC hop.
    *
    * The two sinks are two concurrent Spark jobs over the persisted
    * batch: the aggregate write runs on a pool thread that carries this
    * thread's Spark local properties (job group, query id, active
    * session), so `query.stop()` cancels both jobs. Both writes end
    * before anything is rethrown (the first failure wins) and before
    * the batch is unpersisted; the commit is published only after both
    * succeed.
    *
    * Exactly-once across crashes: both sinks write through
    * [[ExportParquet.writeBatch]] (dynamic overwrite of the batch's own
    * `batch_id=N` directories), so a replay after a crash anywhere —
    * with one or both sinks partly written, or before the checkpoint
    * commit — rewrites both sinks' output instead of duplicating it.
    */
  def exportBatch(batch: DataFrame, cfg: Config, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = s"${cfg.exportRoot}/${cfg.logname}"
    // a published commit proves every sink of this batch completed —
    // replaying the writes would orphan the manifest's file list
    if (cfg.commitLog && cfg.tableFormat.isCommitted(spark, root, batchId))
      return
    batch.persist()
    try {
      val agg = SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[classic.SparkSession], sinkPool) {
        ExportParquet.writeBatch(
          BidExports.hourlyRequestsAgg(Normalize(batch))
            .withColumn("year", year(col("date")))
            .withColumn("month", month(col("date")))
            .withColumn("day", dayofmonth(col("date"))),
          s"$root/hourly_requests_agg", batchId)
      }
      val failures = Seq(
        ended(ExportParquet.writeBatch(
          ExportParquet.withPartitionCols(batch,
            col("timestamp.seconds") * 1000 +
              (col("timestamp.nanos") / 1000000).cast("long")),
          s"$root/raw", batchId)),
        ended(try agg.join() catch {
          case e: CompletionException => throw e.getCause
        })).flatten
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      // with the commit log on, BOTH sinks become visible in one atomic
      // rename; without it, readers rely on the batch_id overwrite alone
      if (cfg.commitLog) cfg.tableFormat.commit(spark, root, batchId)
    } finally batch.unpersist()
  }

  /** Runs `body` to its end and returns what it threw, if anything. */
  private def ended(body: => Unit): Option[Throwable] =
    try { body; None } catch { case t: Throwable => Some(t) }

  /** Threads for the aggregate sink's write: one per query exporting at
    * that moment, reaped after a minute idle; daemon, so the pool never
    * holds the JVM open. */
  private lazy val sinkPool: ExecutorService =
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-export-sink")
      t.setDaemon(true); t
    }

  /** Kafka delivers at-least-once; the reference's only dedup backstop
    * is the exact `count(distinct)` in the aggregate (SURVEY B7/§7.3).
    * This optional stage removes duplicate bidreq ids upstream instead:
    * stateful `dropDuplicatesWithinWatermark` keyed on the message id,
    * state bounded by the 1-hour watermark.
    */
  def dedupeByIds(decoded: DataFrame): DataFrame =
    decoded
      .withColumn("__event_ts", timestamp_millis(col("event_tm")))
      .withWatermark("__event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .drop("__event_ts")

  /** Incremental CONTENT dedup — the exact-dedup operator of the
    * curation family ([[graft.operators.Dedup.exact]]) as a streaming
    * stage: keep the first record per content hash seen within the
    * watermark window, state bounded by eviction at the watermark.
    *
    * The hash covers every column except `excluded` ones (default:
    * `event_tm` — two deliveries of the same payload get different
    * broker timestamps, and a redelivery must still dedupe). Hashing
    * `to_json(struct(...))` keys nested payloads deterministically
    * without a per-type kernel; state stores only the 32-hex-char hash
    * per surviving record, so a 1-hour window over the reference's
    * designed envelope (~1.2 M msg/min) holds ~2.3 GB across ALL
    * executors — bounded, and sharded by the shuffle on the hash.
    *
    * For a corpus pipeline over (doc_id, text, event_tm) records this
    * IS streaming exact dedup on md5(text); the near-dup families stay
    * batch (LSH banding needs a corpus-wide index — run them as the
    * periodic compaction pass over the landed table).
    */
  def dedupeByContent(decoded: DataFrame,
                      excluded: Seq[String] = Seq("event_tm")): DataFrame = {
    val contentCols = decoded.columns.filterNot(excluded.contains).map(col(_))
    decoded
      .withColumn("__content_hash",
        md5(to_json(struct(contentCols.toIndexedSeq: _*))))
      .withColumn("__event_ts", timestamp_millis(col("event_tm")))
      .withWatermark("__event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__event_ts", "__content_hash")
  }

  /** Wire the full job: source → decode → foreachBatch dual-sink. */
  def start(spark: SparkSession, cfg: Config,
            source: Option[DataFrame] = None): StreamingQuery = {
    val frames = source.getOrElse(kafkaSource(spark, cfg))
    val base = decode(frames, cfg.stripConfluentPrefix, cfg.schema)
    val deduped = if (cfg.dedupeContent) dedupeByContent(base) else base
    val decoded = if (cfg.dedupeIds) dedupeByIds(deduped) else deduped
    val writer = decoded.writeStream
      .option("checkpointLocation", cfg.checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        exportBatch(batch, cfg, batchId) }
    (if (cfg.availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("10 seconds")))
      .start()
  }
}
