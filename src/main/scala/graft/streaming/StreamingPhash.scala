package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.PerceptualHash
import BucketPairs.BucketRow

/** Incremental perceptual IMAGE near-dup — the streaming twin of
  * [[graft.operators.PerceptualHash.phash]] on the [[BucketPairs]]
  * join, so a crawl pipeline with media columns no longer dedups
  * images only in batch.
  *
  * Per document: the payload is decoded and hashed to the SAME 64-bit
  * aHash as the batch operator (shared kernel —
  * [[graft.operators.PerceptualHash.ahash]], bit-identical), exploded
  * into the same four 16-bit band buckets
  * ([[graft.operators.PerceptualHash.bandsOf]]); each resident holds
  * (doc_id, two longs) and no payload bytes. A pair is emitted with
  * its band within Hamming ≤ [[graft.operators.PerceptualHash.MaxHamming]]
  * — the EXACT pair criterion, so unlike the MinHash twin nothing needs
  * re-verification. Undecodable payloads hash to nothing and never
  * reach a bucket (the batch pass's total-decode contract).
  *
  * Difference from the batch operator: batch collapses identical
  * hashes to representatives and expands rep pairs through capped
  * member sets; the stream pairs each arrival against its buckets'
  * residents directly.
  */
object StreamingPhash {

  case class Pair(doc_a: Long, doc_b: Long, band: Int, hamming: Int,
                  event_ts: java.sql.Timestamp)

  /** (doc_id, media, event_ts) → one row per band bucket carrying the
    * shared-kernel hash; the binary payload is dropped HERE, before
    * the shuffle. */
  private def bandRows(docs: DataFrame): Dataset[BucketRow[(Long, Long)]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("media"),
        col("event_ts").cast("timestamp"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions(_.flatMap { case (id, bytes, ts) =>
        PerceptualHash.ahash(bytes).iterator.flatMap { h =>
          PerceptualHash.bandsOf(h._1, h._2).iterator.zipWithIndex.map {
            case (k, b) => BucketRow(s"$b:$k", id, register = true, h, ts)
          }
        }
      })
  }

  /** The stateful pass over a watermarked (doc_id, media, event_ts)
    * stream; `bootstrapCorpus` (batch (doc_id, media)) seeds the
    * buckets with the landed images. */
  def pairs(docs: DataFrame, watermarkDelay: String = "1 hour",
            bootstrapCorpus: Option[DataFrame] = None,
            maxHamming: Int = PerceptualHash.MaxHamming): Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    BucketPairs.pairs(docs, watermarkDelay, bootstrapCorpus)(bandRows) {
      (m, r) =>
        val hm = PerceptualHash.hamming(m._1, m._2, r._1, r._2)
        Option.when(hm <= maxHamming)(hm.toDouble)
    }.map(h => Pair(h.a, h.b, h.bucket.takeWhile(_ != ':').toInt,
      h.score.toInt, h.event_ts))
  }

  /** [[pairs]] through the watermarked pair-dedup stage
    * ([[BucketPairs.unique]]): one row per (doc_a, doc_b) within the
    * watermark horizon, the `band` column dropped. Start it through
    * [[StreamingNearDup.startUnchecked]]. */
  def uniquePairs(docs: DataFrame, watermarkDelay: String = "1 hour",
                  bootstrapCorpus: Option[DataFrame] = None,
                  maxHamming: Int = PerceptualHash.MaxHamming): DataFrame =
    BucketPairs.unique(
      pairs(docs, watermarkDelay, bootstrapCorpus, maxHamming).toDF(),
      watermarkDelay, "doc_a", "doc_b", "hamming")

  /** q_stream_phash: the stateful streaming image near-dup pass under
    * the oracle gate. The landed corpus's images (doc_id % 10 ≠ 3)
    * bootstrap the bucket state; the crawl increment (doc_id % 10 = 3)
    * arrives as a multi-shard file stream; every bucket collision
    * within the hamming bound is emitted, cross-side pairs are kept,
    * and the DuckDB oracle restates the result relationally: an
    * (increment, corpus) pair appears iff the corpus doc is a
    * RESIDENT ([[graft.operators.Dedup.HotGroupCap]] smallest ids) of
    * some band bucket the two hashes share, and hamming ≤
    * [[graft.operators.PerceptualHash.MaxHamming]]. Staging, run, and
    * cross-side read-back are [[StreamHarness.crossSideRun]], shared
    * with the other three twins; hamming is exact on emission,
    * so unlike the text twin no verification tail is needed. */
  def streamPhash(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.operators.Multimodal
    val media = Multimodal.mediaTable(spark, dir)
      .select(col("doc_id"), col("media"))
    val corpus = media.filter(col("doc_id") % 10 =!= 3)
    StreamHarness.crossSideRun(spark, "ph",
      inc = media.filter(col("doc_id") % 10 === 3),
      streamSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("media", BinaryType),
        StructField("event_ts", TimestampType))),
      outSchema = StructType(Seq(
        StructField("doc_a", LongType), StructField("doc_b", LongType),
        StructField("hamming", IntegerType))),
      run = s => pairs(s, "1 hour", Some(corpus)).toDF()
    )(_.orderBy("left_id", "right_id"))
  }
}
