package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import BucketPairs.BucketRow

/** Incremental MinHash near-dup detection — the streaming twin of
  * [[graft.operators.Dedup.minhashLsh]] on the [[BucketPairs]] join
  * (exact content dedup streams via [[BidPipeline.dedupeByContent]];
  * this streams the NEAR-dup pass).
  *
  * Per document: the same 16-wide MinHash signature as the batch
  * operator (shared kernel — [[graft.operators.Dedup.minhashSignature]],
  * bit-identical bytes), exploded into the same 4 LSH band buckets;
  * each resident holds (doc_id, 16 longs). A pair is emitted with its
  * band when the signature-estimated Jaccard (fraction of equal
  * components, the standard unbiased MinHash estimator) clears the
  * threshold.
  *
  * Difference from the batch operator: batch verifies TRUE Jaccard on
  * the full shingle sets; bounded state cannot hold shingle sets, so
  * the stream scores the SIGNATURE estimate, exact to 1/16.
  */
object StreamingNearDup {

  /** Signature-estimate threshold for emitted pairs — the streaming
    * stand-in for the batch operator's true-Jaccard ≥ 0.5 gate. */
  val EstThreshold: Double = Dedup.MinhashJaccardThreshold

  case class Pair(doc_a: Long, doc_b: Long, band: Int, est_jaccard: Double,
                  event_ts: java.sql.Timestamp)

  /** (doc_id, text, event_ts) → one row per band bucket carrying the
    * shared-kernel signature. */
  private def bandRows(docs: DataFrame): Dataset[BucketRow[Array[Long]]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"),
        col("event_ts").cast("timestamp"))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text, ts) =>
          val sh = Dedup.shinglesOfText(text)
          if (sh.isEmpty) Iterator.empty
          else {
            val sig = Dedup.minhashSignature(sh, digest)
            Dedup.bandKeys(sig, digest).iterator.zipWithIndex.map {
              case (k, b) => BucketRow(s"$b:$k", id, register = true, sig, ts)
            }
          }
        }
      }
  }

  /** Signature-estimated Jaccard: fraction of equal components. */
  private[graft] def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** The stateful pass over a watermarked (doc_id, text, event_ts)
    * stream; `watermarkDelay` bounds both lateness and state lifetime,
    * and `bootstrapCorpus` (batch (doc_id, text)) seeds the buckets —
    * the streaming continuation of [[graft.operators.Dedup.minhashJoin]].
    *
    * `minEst` lowers the emission gate: at 0.0 every band collision is
    * emitted, turning the operator into a pure streaming CANDIDATE
    * generator whose pairs a downstream batch pass can verify with
    * true Jaccard — the composition [[streamNearDup]] oracle-gates.
    */
  def pairs(docs: DataFrame, watermarkDelay: String = "1 hour",
            bootstrapCorpus: Option[DataFrame] = None,
            minEst: Double = EstThreshold): Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    BucketPairs.pairs(docs, watermarkDelay, bootstrapCorpus)(bandRows) {
      (a, b) =>
        val est = BigDecimal(estJaccard(a, b))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        Option.when(est >= minEst)(est)
    }.map(h => Pair(h.a, h.b, h.bucket.takeWhile(_ != ':').toInt, h.score,
      h.event_ts))
  }

  /** [[pairs]] through the watermarked pair-dedup stage
    * ([[BucketPairs.unique]]): one row per (doc_a, doc_b) within the
    * watermark horizon, the `band` column dropped. Start it through
    * [[startUnchecked]]. */
  def uniquePairs(docs: DataFrame, watermarkDelay: String = "1 hour",
                  bootstrapCorpus: Option[DataFrame] = None,
                  minEst: Double = EstThreshold): DataFrame =
    BucketPairs.unique(
      pairs(docs, watermarkDelay, bootstrapCorpus, minEst).toDF(),
      watermarkDelay, "doc_a", "doc_b", "est_jaccard")

  /** Start a [[uniquePairs]] query with the global-watermark
    * correctness check disabled for THAT QUERY ONLY: `start` must call
    * `DataStreamWriter.start()` inside the thunk — a streaming query
    * clones the session conf synchronously at start — and the prior
    * session value is restored before this returns, so a genuinely
    * unsafe stateful composition started elsewhere in the session is
    * still refused. */
  def startUnchecked[T](spark: org.apache.spark.sql.SparkSession)
                       (start: => T): T = {
    val key =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try start
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** q_stream_neardup: the stateful streaming near-dup pass under the
    * oracle gate. The landed corpus (doc_id % 10 ≠ 3) bootstraps the
    * bucket state; the crawl increment (doc_id % 10 = 3) arrives as a
    * multi-shard file stream; every band collision is emitted
    * (`minEst = 0` — the streaming pass as pure candidate generator)
    * and then batch-verified with TRUE Jaccard on the shingle sets,
    * exactly the batch operator's verification join.
    *
    * Why the cross-side pairs equal
    * [[graft.operators.Dedup.minhashJoin]](increment, corpus) row for
    * row — the same relational oracle as `dedup_incremental`:
    * bootstrap residents are the HotGroupCap smallest ids per bucket
    * (identical to `capBucket` on the corpus side), stream docs are
    * never capped (each compares against every resident, the one-sided
    * discipline the batch join documents), stream-vs-stream pairs are
    * removed by the side predicate, and a fixed event timestamp keeps
    * the watermark from evicting any resident mid-run — the staging,
    * run, and read-back are [[StreamHarness.crossSideRun]], shared
    * with the other three twins. */
  def streamNearDup(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    StreamHarness.crossSideRun(spark, "nd", inc,
      streamSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("event_ts", TimestampType))),
      outSchema = StructType(Seq(
        StructField("doc_a", LongType), StructField("doc_b", LongType))),
      run = s => pairs(s, "1 hour", Some(corpus), minEst = 0.0).toDF()
    ) { cross =>
      // batch-verify the candidates with TRUE Jaccard on the shingle
      // sets — exactly the batch operator's verification join
      val shL = Dedup.shinglesOf(inc)
        .select(col("doc_id").as("left_id"), col("sh").as("sa"))
      val shR = Dedup.shinglesOf(corpus)
        .select(col("doc_id").as("right_id"), col("sh").as("sb"))
      cross.join(shL, "left_id").join(shR, "right_id")
        .select(col("left_id"), col("right_id"),
          round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jaccard"))
        .filter(col("jaccard") >= Dedup.MinhashJaccardThreshold)
        .orderBy("left_id", "right_id")
    }
  }
}
