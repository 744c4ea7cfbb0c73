package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import BucketPairs.BucketRow

/** Incremental copied-passage detection — the streaming twin of
  * [[graft.operators.Dedup.winnowJoin]] on the [[BucketPairs]] join: a
  * crawl pipeline flags documents that copy passages from the landed
  * corpus as they arrive, the overlap a whole-doc MinHash signature
  * dilutes away.
  *
  * Per document: the SAME winnowed fingerprints as the batch operator
  * (shared kernel — [[graft.operators.Dedup.winnowFpsOf]],
  * bit-identical: per-window minima over ordered 3-gram md5 hashes),
  * one bucket per fingerprint; residents are bare doc ids. Every
  * (resident, newcomer) collision is a match row. A pair is a copied
  * passage when it collides in ≥ [[graft.operators.Dedup.MinSharedFp]]
  * DISTINCT fingerprints; all of a document's fingerprints ship in its
  * arrival micro-batch, so the thresholded count is a per-batch (or
  * read-back) aggregation, never a second stateful stage.
  *
  * Difference from the batch join: [[graft.operators.Dedup.winnowJoin]]
  * DROPS fingerprints whose corpus+increment frequency exceeds
  * [[graft.operators.Dedup.ShingleFreqCap]], which needs global counts
  * bounded state cannot hold; the stream relies on the resident cap
  * instead, so a hyper-frequent fingerprint costs at most cap
  * comparisons.
  */
object StreamingWinnow {

  case class Match(doc_a: Long, doc_b: Long, fp: String,
                   event_ts: java.sql.Timestamp)

  /** (doc_id, text, event_ts) → one row per winnowed fingerprint; the
    * text is dropped HERE, before the shuffle. The fingerprint is the
    * bucket, so the member carries nothing. */
  private def fpRows(docs: DataFrame): Dataset[BucketRow[Boolean]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"),
        col("event_ts").cast("timestamp"))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text, ts) =>
          Dedup.winnowFpsOf(text, digest)
            .map(fp => BucketRow(fp, id, register = true, member = true, ts))
        }
      }
  }

  /** The stateful pass over a watermarked (doc_id, text, event_ts)
    * stream; `bootstrapCorpus` (batch (doc_id, text)) seeds the
    * fingerprint buckets. Emissions are per-fingerprint match rows; the
    * consumer thresholds `count(DISTINCT fp) ≥ MinSharedFp` per pair. */
  def pairs(docs: DataFrame, watermarkDelay: String = "1 hour",
            bootstrapCorpus: Option[DataFrame] = None): Dataset[Match] = {
    val spark = docs.sparkSession
    import spark.implicits._
    BucketPairs.pairs(docs, watermarkDelay, bootstrapCorpus)(fpRows)(
      (_, _) => Some(0.0))
      .map(h => Match(h.a, h.b, h.bucket, h.event_ts))
  }

  /** q_stream_winnow: the stateful streaming copied-passage pass under
    * the oracle gate. The landed corpus (doc_id % 10 ≠ 3) bootstraps
    * the bucket state; the crawl increment (doc_id % 10 = 3) arrives
    * as a multi-shard file stream; cross-side match rows are kept and
    * aggregated to (left_id, right_id, n_shared ≥ MinSharedFp). The
    * DuckDB oracle restates the result relationally: a pair appears
    * iff the corpus doc is a RESIDENT (HotGroupCap smallest ids) of ≥
    * MinSharedFp fingerprint buckets the two docs share. Staging,
    * run, and cross-side read-back are [[StreamHarness.crossSideRun]]
    * — the fourth twin through the shared harness, identical by
    * construction. */
  def streamWinnow(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    StreamHarness.crossSideRun(spark, "wn",
      inc = docs.filter(col("doc_id") % 10 === 3),
      streamSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("event_ts", TimestampType))),
      outSchema = StructType(Seq(
        StructField("doc_a", LongType), StructField("doc_b", LongType),
        StructField("fp", StringType))),
      run = s => pairs(s, "1 hour", Some(corpus)).toDF()
    ) { cross =>
      cross.groupBy("left_id", "right_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= Dedup.MinSharedFp)
        .orderBy("left_id", "right_id")
    }
  }
}
