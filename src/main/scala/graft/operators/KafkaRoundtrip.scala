package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.kafka.{KafkaStubBroker, KafkaWireClient}
import graft.streaming.BidPipeline

/** The A1 transport oracle-checked END-TO-END over real sockets: the
  * reference's framed messages (Confluent prefix + proto payload,
  * event time as the broker CreateTime) produce to an in-JVM
  * [[KafkaStubBroker]], Spark reads them back through
  * `format("graft-kafka")` — executors fetching offset ranges from the
  * partition leader over TCP — then decodes, normalizes and aggregates
  * exactly like [[BidExports.hourlyAggFromWire]]. The transport is
  * lossless, so the DuckDB oracle for the wire aggregate verifies the
  * whole produce→fetch→decode chain bit-for-bit.
  *
  * The produce side runs as a DISTRIBUTED producer fleet — a
  * `foreachPartition` job where every task encodes its slice and pushes
  * it straight to the partition leader over its own connection (the
  * broker serializes appends per partition, so concurrent producers are
  * the contract, exactly like the reference's external fleet). Nothing
  * round-trips through the driver: the driver only carries the broker
  * address into the job. The read side is the real distributed source,
  * returned LAZY — the broker stays up as long as its memo entry (the
  * registry closes it on clear or context end), so the caller executes
  * the real fetch→decode→agg plan instead of a driver-materialized
  * copy of its result. One staged topic is ~25 MB of heap on daemon
  * threads; callers are test/bench harnesses, so the session-scoped
  * lifetime is bounded by construction.
  */
object KafkaRoundtrip {

  private val Topic = "bids"
  private val Partitions = 4
  private val ProduceChunk = 8192
  private val ProducerTasks = 8

  // one staged broker per (session, dir) — repeat invocations (the
  // bench runs min-of-N passes) reuse the already-produced topic
  // instead of staging a fresh ~25 MB broker each time
  private val memo = new MemoStats.Table[String, (KafkaStubBroker, DataFrame)](
    release = _._1.close())

  def hourlyAgg(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir)(stage(spark, dir))._2

  private def stage(spark: SparkSession, dir: String)
      : (KafkaStubBroker, DataFrame) = {
    // payload = prefix ++ proto (what framedMessages frames, minus the
    // LE-ms suffix the Kafka path replaces with the broker CreateTime —
    // BidPipeline.decode contract), built directly so no suffix is
    // appended just to be stripped again
    import graft.sources.proto.ProtoFunctions.protoEncode
    val staged = graft.sources.Tables.events(spark, dir)
      .repartition(ProducerTasks) // 2 MB input = 1 scan task; fan the encode out
      .select(
        concat(
          lit(Array[Byte](0, 0, 0, 0, 0, 42)),
          protoEncode(ProtoPipeline.bidStruct, ProtoPipeline.genBid)).as("payload"),
        unix_millis(col("ts").cast("timestamp")).as("tm"))
    val broker = new KafkaStubBroker(Partitions)
    try {
      val port = broker.port
      staged.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val producer = new KafkaWireClient(
            "localhost", port, s"roundtrip-producer-$pid")
          try {
            rows.map { r =>
              (r.getLong(1), null: Array[Byte], r.getAs[Array[Byte]](0))
            }.grouped(ProduceChunk).foreach { chunk =>
              producer.produce(Topic, pid % Partitions, chunk.toSeq)
            }
          } finally producer.close()
        }
      }
    } catch { case e: Throwable => broker.close(); throw e }

    val frames = spark.read.format("graft-kafka")
      .option("kafka.bootstrap.servers", broker.bootstrapServers)
      .option("subscribe", Topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .option("minPartitions", "8")
      .load()
    (broker,
      BidExports.hourlyRequestsAgg(
          Normalize(BidPipeline.decode(frames, stripPrefix = true)))
        .orderBy(col("date"), col("hour"), col("pub_id"), col("device_id"),
          col("resolution"), col("deal").asc_nulls_first))
  }
}
