package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** BPE tokenizer training — the merge-table learner (Sennrich et al.
  * 2016 shape): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair over the frequency-weighted word
  * vocabulary. Emits the learned merge table, the artifact a tokenizer
  * ships.
  *
  * Determinism contract: pair counts are exact BIGINTs (weighted by
  * word frequency, order-independent); the winning pair each round is
  * (max count, then lexicographically smallest (left, right)); merge
  * application is the standard greedy left-to-right non-overlapping
  * scan — for left ≠ right every match is non-overlapping, for
  * left == right the scan keeps odd-indexed matches within each run
  * (both replayed relationally by the oracle's window-parity trick).
  *
  * Scale shape: state is the distinct-word vocabulary (words × symbol
  * lists — vocabulary-bounded, NOT corpus-bounded) persisted per
  * round; each round = one pair-count shuffle + a 1-row
  * TakeOrdered to the driver + one narrow merge map. Driver state =
  * the merge table (K rows).
  */
object Bpe {

  /** Number of merges to learn. */
  val Merges = 8

  /** Greedy left-to-right non-overlapping merge of (a, b) → a+b. */
  private[graft] def applyMerge(syms: Seq[String], a: String,
                                b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Distinct-word vocabularies at or under this size train on the
    * driver (one Spark job — the word count — then pure-Scala rounds;
    * the vocab IS the training state, and tokenizer trainers hold it
    * in memory as a matter of course). Larger vocabularies fall back
    * to the distributed round loop. Results are identical — exact
    * integer counts with the same tie-break in both paths (parity
    * spec). */
  val DriverVocabCap = 4000000L

  /** The learned merge table: (rank, lhs, rhs), rank 1 = first
    * (most frequent) merge. */
  def merges(spark: SparkSession, dir: String): DataFrame =
    merges(spark, dir, DriverVocabCap)

  private[graft] def merges(spark: SparkSession, dir: String,
                            driverCap: Long): DataFrame = {
    import spark.implicits._
    learnedMerges(spark, dir, driverCap).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "lhs", "rhs")
      .orderBy("rank")
  }

  /** The ordered merge list itself, memoized per (session, dir, cap):
    * training runs once per session and the trainer's two consumers —
    * the merge-table query and [[encode]] — share the artifact, the
    * production shape (a tokenizer trains once, encodes forever). */
  private[graft] def learnedMerges(spark: SparkSession, dir: String,
                                   driverCap: Long = DriverVocabCap)
      : Seq[(String, String)] =
    mergeMemo(spark, (dir, driverCap))({
      import spark.implicits._
      val counts = Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)]
      // size probe and fetch in ONE job: collect cap+1 rows — either
      // the whole vocabulary came back (driver path, the common case:
      // tokenizer vocabularies are millions, not billions) or the
      // overflow row proves it's over the cap and the distributed loop
      // recomputes from the plan (rare path pays the second scan; the
      // common path saves a persist + count job per training run)
      val capped = driverCap + 1 match {
        case n if n <= Int.MaxValue => counts.limit(n.toInt).collect()
        case _ => counts.collect()
      }
      if (capped.length <= driverCap) driverMerges(capped)
      // the distributed loop persists its own derived vocab Dataset and
      // consumes `counts` exactly once — no extra pin needed here
      else distributedMerges(counts)
    })

  private val mergeMemo =
    new MemoStats.Table[(String, Long), Seq[(String, String)]]

  /** Cap on [[encode]]'s per-partition word→length cache. Zipf keeps
    * real corpora far below it, but the cache must not be an
    * ADVERSARIAL liability: an all-distinct-words partition would
    * otherwise grow it linearly in partition size. LRU eviction keeps
    * the hot head of the distribution resident; results are identical
    * with any cap (the cache only avoids recompute). */
  val EncodeCacheCap = 1 << 20

  /** BPE ENCODE — the apply side of the tokenizer: run every document
    * through the trained merge table and report real token counts (the
    * number a training-data budget actually meters, vs the BPE-ish
    * regex ESTIMATE in [[TextAnalysis]] token stats). Each word starts
    * as characters and replays the merges in rank order through
    * [[applyMerge]] — by construction identical to the symbolization
    * training left the vocabulary in, which is what lets the oracle
    * replay it relationally from the training CTEs alone.
    *
    * Scale shape: the merge table (K pairs) broadcasts; the pass is a
    * narrow typed map with a BOUNDED ([[EncodeCacheCap]], LRU)
    * per-partition word→length cache (Zipf makes the hit rate the
    * corpus' repetition rate); nothing shuffles but the presentation
    * sort. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    encode(spark, dir, EncodeCacheCap)

  private[graft] def encode(spark: SparkSession, dir: String,
                            cacheCap: Int): DataFrame = {
    import spark.implicits._
    val msB = spark.sparkContext.broadcast(learnedMerges(spark, dir))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val ms = msB.value
        // access-ordered LinkedHashMap = LRU; evicts past the cap so an
        // adversarial all-distinct-words partition stays O(cap)
        // boxed Integer values: Scala would silently unbox a missing
        // key's null to 0 under a primitive-Int value type
        val cache = new java.util.LinkedHashMap[String, java.lang.Integer](
            1024, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, java.lang.Integer]): Boolean =
            size() > cacheCap
        }
        it.map { case (id, ws) =>
          var total = 0L
          ws.foreach { w =>
            val hit = cache.get(w)
            if (hit != null) total += hit.intValue()
            else {
              var syms: Seq[String] = w.map(_.toString)
              ms.foreach { case (a, b) => syms = applyMerge(syms, a, b) }
              cache.put(w, syms.length)
              total += syms.length
            }
          }
          (id, ws.length, total)
        }
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Pure-Scala rounds over the collected vocabulary: exact Long pair
    * counts, winner = (max count, lexicographically smallest pair). */
  private def driverMerges(vocab: Array[(String, Long)])
      : Seq[(String, String)] = {
    var syms = vocab.map { case (w, c) => (c, w.map(_.toString): Seq[String]) }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 0 until Merges) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (c, ss) =>
        var i = 0
        while (i < ss.length - 1) {
          pc.updateWith((ss(i), ss(i + 1)))(x => Some(x.getOrElse(0L) + c))
          i += 1
        }
      }
      if (pc.nonEmpty) {
        val (a, b) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        learned += ((a, b))
        syms = syms.map { case (c, ss) => (c, applyMerge(ss, a, b)) }
      }
    }
    learned.toSeq
  }

  /** Distributed round loop — the vocab stays a persisted Dataset; one
    * pair-count shuffle + a 1-row TakeOrdered + one narrow merge map
    * per round. */
  private def distributedMerges(counts: Dataset[(String, Long)])
      : Seq[(String, String)] = {
    val spark = counts.sparkSession
    import spark.implicits._
    var vocab = counts
      .map { case (w, c) => (w, c, w.map(_.toString): Seq[String]) }
      .persist()
    vocab.count()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      for (_ <- 0 until Merges) {
        val top = vocab
          .flatMap { case (_, c, syms) =>
            (0 until syms.length - 1).iterator.map(i =>
              (syms(i), syms(i + 1), c))
          }
          .toDF("a", "b", "c")
          .groupBy("a", "b").agg(sum(col("c")).as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1)
          .as[(String, String, Long)]
          .collect()
        if (top.nonEmpty) {
          val (a, b, _) = top.head
          learned += ((a, b))
          val next = vocab
            .map { case (w, c, syms) => (w, c, applyMerge(syms, a, b)) }
            .persist()
          next.count()
          vocab.unpersist(blocking = false)
          vocab = next
        }
      }
    } finally vocab.unpersist(blocking = false)
    learned.toSeq
  }
}
