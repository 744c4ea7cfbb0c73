package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** Trained document-quality classifier — the DCLM/fineweb-edu shape: a
  * cheap linear model is trained on a weak-supervision label (here the
  * Gopher gate, [[Corpus.gopherCol]]), then applied to every document.
  * At 100 TB this is how quality filtering actually runs: a heuristic
  * gate (or a human-labeled sample) labels a corpus, a hashed linear
  * model distills it, and the model — a few KB of weights — rides every
  * executor closure scoring docs in a narrow map.
  *
  * Features are binary (presence one-hots): md5-hashed token buckets,
  * a bias, and bucketized structural signals (word count, alpha-token
  * fraction, mean word length, distinct-stopword count) — the generic
  * quality-signal families every production quality classifier uses.
  *
  * Determinism contract (the oracle replays training bit-for-bit):
  *  - features are 0/1 and labels are integer micro-units, so every
  *    training sum is a BIGINT — exact and summation-order-independent
  *    in both engines; structural buckets use only integer arithmetic
  *    (truncating division);
  *  - the only floating-point step, the Elliott sigmoid
  *    p = 0.5 + z / (2·(1+|z|)), uses exclusively exactly-rounded IEEE
  *    ops (+, *, /, abs — no transcendentals), so Spark and DuckDB
  *    produce the same double from the same integer logit; `floor`
  *    back to micro-units is exact;
  *  - weight updates use truncating integer division (Scala `/` ==
  *    DuckDB `//`).
  *
  * Execution shape (Lloyd-style, like [[Similarity.kmeans]]): driver
  * state is the [[NumFeatures]]-long weight vector and nothing else;
  * per iteration one narrow scoring pass (weights in the closure) feeds
  * one partial-aggregating shuffle of ≤ NumFeatures rows. The feature
  * frame is computed once and persisted for the training loop.
  */
object QualityClassifier {

  /** Hashed token-presence feature space. */
  val NumBuckets = 64

  /** Bias feature id (always on) — the model's intercept. */
  val BiasBucket: Int = NumBuckets

  // structural one-hot families (docs with ≥1 token)
  val WordsBase: Int = NumBuckets + 1 // + min(n_words / 8, 31)
  val AlphaBase: Int = WordsBase + 32 // + min(20·alpha / n, 20)
  val MeanLenBase: Int = AlphaBase + 21 // + min(chars / n, 15)
  val StopBase: Int = MeanLenBase + 16 // + min(n_stopwords, 7)
  val NumFeatures: Int = StopBase + 8

  /** Full-batch gradient-descent rounds. */
  val Iters = 10

  /** Inverse learning rate: per-bucket step = grad / (N · LrInv) in
    * micro-units (truncating division). Chosen by sweep: accuracy vs
    * the Gopher label at {Iters=10, LrInv=1} is 93–98% across
    * sf0.001–sf0.1 (base rate ~53%). */
  val LrInv = 1L

  val LabelMicro = 1000000L

  /** md5("qc:"+token) first 6 hex chars → bucket. Matches the oracle's
    * list_reduce hex parse exactly (same digest, same prefix). */
  private[operators] def bucketOf(tok: String): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest(("qc:" + tok).getBytes(StandardCharsets.UTF_8))
    // first 3 bytes == first 6 hex chars
    val h = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
    (h % NumBuckets).toInt
  }

  /** Elliott-link probability in micro-units from a micro-unit logit.
    * Every op is exactly rounded, so the oracle's copy of this formula
    * yields the identical BIGINT. */
  private[graft] def probMicro(zMicro: Long): Long = {
    val z = zMicro / 1e6
    math.floor((0.5 + (z / (2 * (1 + math.abs(z))))) * 1e6).toLong
  }

  /** Present-feature ids (sorted distinct) of one document — the pure
    * kernel shared by batch training/scoring and the streaming scoring
    * stage. Tokenization matches the Column form (single-space split,
    * lowercase, empties dropped — same as [[Dedup.shinglesOfText]]);
    * bucketing is integer arithmetic (corpus is ASCII, so
    * String.length == DuckDB len — asserted by the oracle gate). */
  private[graft] def featureIds(text: String): Array[Int] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(' ').filter(_.nonEmpty)
    val fs = new java.util.TreeSet[Integer]()
    toks.foreach(t => fs.add(bucketOf(t)))
    fs.add(BiasBucket)
    val n = toks.length.toLong
    if (n > 0) {
      var chars = 0L
      var alpha = 0L
      toks.foreach { t =>
        chars += t.length
        if (t.exists(c => c >= 'a' && c <= 'z')) alpha += 1
      }
      val nStop = toks.distinct.count(StopwordSet).toLong
      fs.add(WordsBase + math.min(n / 8, 31).toInt)
      fs.add(AlphaBase + math.min((alpha * 20) / n, 20).toInt)
      fs.add(MeanLenBase + math.min(chars / n, 15).toInt)
      fs.add(StopBase + math.min(nStop, 7).toInt)
    }
    val arr = new Array[Int](fs.size())
    val it = fs.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    arr
  }

  private val StopwordSet = TextAnalysis.Stopwords.toSet

  /** Per-doc feature ids and label micro-units. The Gopher label comes
    * from the proven Column expression; features from [[featureIds]]. */
  private def features(spark: SparkSession, dir: String)
      : Dataset[(Long, Array[Int], Long)] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        coalesce(Corpus.gopherCol(col("text")).getField("gopher_pass"),
          lit(false)).as("y"))
      .as[(Long, String, Boolean)]
      .map { case (id, text, y) =>
        (id, featureIds(text), if (y) LabelMicro else 0L)
      }
  }

  private[graft] def logitMicro(w: Array[Long], bs: Array[Int]): Long = {
    var z = 0L; var i = 0
    while (i < bs.length) { z += w(bs(i)); i += 1 }
    z
  }

  /** Train the model: returns the final micro-unit weight vector.
    * Memoized per (session, corpus dir) so the weights and scoring
    * queries (and any SQL consumer) train once per session. */
  private[graft] def weights(spark: SparkSession, dir: String)
      : Array[Long] = weightMemo(spark, dir)(train(spark, dir))

  private val weightMemo = new MemoStats.Table[String, Array[Long]]

  private def train(spark: SparkSession, dir: String): Array[Long] = {
    import spark.implicits._
    val feats = features(spark, dir).persist()
    try {
      val n = feats.count()
      val w = Array.fill(NumFeatures)(0L)
      for (_ <- 0 until Iters) {
        val wb = w.clone()
        // dense per-partition gradient partials, summed on the driver:
        // one shuffle-free job per iteration moving NumFeatures longs
        // per partition (tree-reduce the partials on a real cluster).
        // BIGINT sums keep the update order-independent — the oracle
        // replay is unaffected by partitioning.
        val partials = feats.mapPartitions { it =>
          val g = Array.fill(NumFeatures)(0L)
          it.foreach { case (_, bs, y6) =>
            val p6 = probMicro(logitMicro(wb, bs))
            var i = 0
            while (i < bs.length) { g(bs(i)) += p6 - y6; i += 1 }
          }
          Iterator.single(g)
        }.collect()
        var b = 0
        while (b < NumFeatures) {
          var g = 0L
          partials.foreach(p => g += p(b))
          w(b) -= g / (n * LrInv)
          b += 1
        }
      }
      w
    } finally feats.unpersist()
  }

  /** The learned model: (bucket, weight_micro) — NumFeatures rows. */
  def modelWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    weights(spark, dir).zipWithIndex
      .map { case (wu, b) => (b, wu) }.toSeq
      .toDF("bucket", "weight_micro").orderBy("bucket")
  }

  /** Score every document with the trained model: micro-unit
    * probability, the model's verdict, and the supervising label (so
    * precision/recall of the distilled model is a GROUP BY away).
    * The scoring pass is narrow — weights ride the closure. */
  def classify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = weights(spark, dir)
    features(spark, dir)
      .map { case (id, bs, y6) =>
        val p6 = probMicro(logitMicro(w, bs))
        (id, p6, p6 >= LabelMicro / 2, y6 == LabelMicro)
      }
      .toDF("doc_id", "score_micro", "pred_pass", "gopher_pass")
      .orderBy("doc_id")
  }
}
