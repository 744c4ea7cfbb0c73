package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared plumbing for the bounded streaming harnesses. */
private[graft] object StreamHarness {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous value afterwards. The bounded harness
    * streams want a handful of state-store partitions, not the
    * session's 32: per-batch state commit cost scales with partitions ×
    * batches, and a harness stream holds only harness-sized state. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The ONE bounded harness behind the four streaming near-dup
    * twins' oracle rows (`q_stream_neardup` / `q_stream_phash` /
    * `q_stream_semantic` / `q_stream_winnow`), so no twin can drift
    * from the shape they share by construction:
    *
    *  1. STAGE: `inc` (the crawl increment) lands under a scratch root
    *     with a FIXED event timestamp (the watermark must not evict
    *     bootstrap residents mid-run), repartitioned to ≥ 2 shard
    *     files so the file stream really micro-batches.
    *  2. RUN: the twin's stateful pair pass (built by `run` over the
    *     declared-schema file stream, `maxFilesPerTrigger = 2`)
    *     executes under AvailableNow with 8 state-store partitions;
    *     each micro-batch's pairs land distinct + replay-idempotent
    *     under `batch_id=N` dynamic overwrite.
    *  3. READ-BACK: declared `outSchema` (a collision-free increment
    *     writes no files), then the cross-side filter — stream-vs-
    *     stream pairs dropped, survivors relabeled (left = increment
    *     id, right = corpus id) with any extra payload columns (the
    *     first two `outSchema` fields are the pair ids) carried
    *     through — and `finish` applies the twin's verification /
    *     presentation tail before the frame is materialized and the
    *     scratch root cleaned.
    */
  def crossSideRun(spark: SparkSession, tag: String, inc: DataFrame,
                   streamSchema: StructType, outSchema: StructType,
                   run: DataFrame => DataFrame)
                  (finish: DataFrame => DataFrame): DataFrame = {
    import graft.operators.Scratch
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-stream-$tag").toString
    try {
      inc.withColumn("event_ts",
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .repartition(4) // ≥2 shard files → the stream really batches
        .write.parquet(s"$root/src")
      val stream = spark.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", 2).parquet(s"$root/src")
      val payload = outSchema.fieldNames.toSeq
      withShufflePartitions(spark, 8) {
        val q = run(stream)
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.select(payload.map(col): _*).distinct()
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(s"$root/out")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val streamed = spark.read.schema(outSchema)
        .option("basePath", s"$root/out").parquet(s"$root/out")
        .select(payload.map(col): _*)
      val (a, b) = (payload.head, payload(1))
      val extras = payload.drop(2).map(col)
      val cross = streamed
        .filter((col(a) % 10 === 3) =!= (col(b) % 10 === 3))
        .select(Seq(
          when(col(a) % 10 === 3, col(a)).otherwise(col(b)).as("left_id"),
          when(col(a) % 10 === 3, col(b)).otherwise(col(a)).as("right_id"))
          ++ extras: _*)
        .distinct()
      Scratch.materializeAndClean(root, finish(cross))
    } catch {
      case e: Throwable =>
        Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
