package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, VectorOps}
import BucketPairs.BucketRow

/** Incremental EMBEDDING (semantic) near-dup — the streaming twin of
  * the embedding-cosine pass of [[graft.operators.Dedup.embeddingNearDup]]
  * on the [[BucketPairs]] join.
  *
  * Per vector: the SAME 8-bit sign-random-projection bucket as the
  * batch SRP-LSH operator (shared kernel —
  * [[graft.operators.Similarity.srpBucket]], bit-identical). The vector
  * registers under its OWN bucket and probes that bucket plus its 8
  * hamming-1 neighbors (probe-only rows, `register = false`: the
  * multi-probe discipline of [[graft.operators.Similarity.lshTopK]]);
  * each resident holds (vec_id, 64 doubles). A pair is emitted when
  * the round-4 cosine of the normalized vectors clears the threshold —
  * the EXACT pair criterion, so nothing needs re-verification.
  *
  * Emission is tighter than the band twins: a resident lives in exactly
  * ONE bucket and an arrival's probe set holds it at most once, so each
  * pair is emitted AT MOST ONCE per arrival. Cross-batch re-delivery of
  * a vector can still re-emit.
  *
  * Recall, inherited from the batch SRP operator: pairs within hamming
  * ≤ 1 of each other's buckets are found; a near-duplicate pair whose
  * signatures differ in ≥ 2 bits is missed (P[bit differs] = angle/π,
  * so cosine ≥ 0.45 pairs differ in ~0.35 expected bits of 8). The
  * batch tiled block join stays the exact-recall instrument.
  */
object StreamingSemantic {

  case class Pair(vec_a: Long, vec_b: Long, sim: Double,
                  event_ts: java.sql.Timestamp)

  /** (vec_id, v, event_ts) → one registering row under the vector's SRP
    * bucket plus 8 probe-only rows under its hamming-1 neighbors. */
  private def sigRows(vecs: DataFrame): Dataset[BucketRow[Array[Double]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id").cast("long"), col("v"),
        col("event_ts").cast("timestamp"))
      .as[(Long, Array[Double], java.sql.Timestamp)]
      .mapPartitions(_.flatMap { case (id, v, ts) =>
        val b = Similarity.srpBucket(v)
        val nv = VectorOps.l2Normalize(v)
        Iterator.single(BucketRow(b.toString, id, register = true, nv, ts)) ++
          Iterator.range(0, Similarity.LshPlanes).map { p =>
            BucketRow((b ^ (1 << p)).toString, id, register = false, nv, ts)
          }
      })
  }

  /** The stateful pass over a watermarked (vec_id, v double[],
    * event_ts) stream; `bootstrapCorpus` (batch (vec_id, v)) seeds each
    * vector's OWN bucket. */
  def pairs(vecs: DataFrame, watermarkDelay: String = "1 hour",
            bootstrapCorpus: Option[DataFrame] = None,
            threshold: Double = Dedup.EmbeddingCosThreshold)
      : Dataset[Pair] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    BucketPairs.pairs(vecs, watermarkDelay, bootstrapCorpus)(sigRows) {
      (m, r) =>
        val sim = VectorOps.roundAt(VectorOps.dot(m, r), 4)
        Option.when(sim >= threshold)(sim)
    }.map(h => Pair(h.a, h.b, h.score, h.event_ts))
  }

  /** q_stream_semantic: the stateful streaming embedding near-dup pass
    * under the oracle gate. The landed corpus (vec_id % 10 ≠ 3)
    * bootstraps the bucket state; the crawl increment (vec_id % 10 =
    * 3) arrives as a multi-shard file stream; cross-side pairs are
    * kept, and the DuckDB oracle restates the result relationally: an
    * (increment, corpus) pair appears iff the corpus vector is a
    * RESIDENT ([[graft.operators.Dedup.HotGroupCap]] smallest ids of
    * its own SRP bucket), the two buckets are within hamming 1 (the
    * multi-probe reach), and the round-4 normalized dot clears
    * [[graft.operators.Dedup.EmbeddingCosThreshold]]. Staging, run,
    * and cross-side read-back are [[StreamHarness.crossSideRun]],
    * shared with the other three twins; the cosine is exact on
    * emission, so no verification tail is needed. */
  def streamSemantic(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val corpus = vecs.filter(col("vec_id") % 10 =!= 3)
    StreamHarness.crossSideRun(spark, "sem",
      inc = vecs.filter(col("vec_id") % 10 === 3),
      streamSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)),
        StructField("event_ts", TimestampType))),
      outSchema = StructType(Seq(
        StructField("vec_a", LongType), StructField("vec_b", LongType),
        StructField("sim", DoubleType))),
      run = s => pairs(s, "1 hour", Some(corpus)).toDF()
    )(_.orderBy("left_id", "right_id"))
  }
}
