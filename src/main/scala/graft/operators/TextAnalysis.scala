package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** Text-analysis operators for training-data curation: token statistics,
  * quality scoring, language identification, document fingerprinting.
  * All are single-pass narrow transformations (no shuffle except the
  * final presentation sort) — they scale linearly with input splits.
  * Every computation is built from engine-agnostic primitives (md5,
  * regexp on explicit character classes, integer arithmetic) so the
  * DuckDB oracle reproduces results exactly.
  */
object TextAnalysis {

  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  /** Per-language marker-word lists for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with a fixed tie-break order.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "y", "que", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def toks: Column = tokens(col("text"))

  /** Memoized per-document term counts — (doc_id, term, cnt, n) with
    * `cnt` = occurrences of `term` in the doc and `n` = the doc's total
    * token count. ONE narrow typed tokenize pass (a local count map per
    * document — tf never needed to leave the doc, so the explode +
    * groupBy(doc, term) form paid a corpus-wide shuffle for a per-row
    * fact), materialized and shared by every corpus-statistics consumer
    * ([[tfIdfTopTerms]], [[rarityScore]], [[repetitionStats]]) the same
    * way the dedup family shares its pair frames. Tokenization is
    * byte-identical to [[graft.functions.tokens]] (lower, split ' ',
    * drop empties). */
  private[graft] def termCounts(spark: SparkSession, dir: String): DataFrame =
    tcMemo(spark, dir)(Materialize(termRowsOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))))

  /** The narrow term-count pass over ANY (doc_id, text) frame — the
    * un-memoized kernel behind [[termCounts]], reused by
    * [[TermStatsIndex]] for batch-scoped statistics. */
  private[graft] def termRowsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)].mapPartitions { it =>
      it.flatMap { case (id, text) =>
        // Locale.ROOT, not the JVM default: SQL lower() (and the
        // DuckDB oracle) are locale-invariant — under tr-TR the bare
        // toLowerCase maps I→ı and the counts drift. A null text
        // tokenizes to nothing, matching the SQL path's null no-op.
        val ts =
          if (text == null) Array.empty[String]
          else text.toLowerCase(java.util.Locale.ROOT)
            .split(' ').filter(_.nonEmpty)
        val m = mutable.LinkedHashMap.empty[String, Long]
        ts.foreach(t => m.updateWith(t)(c => Some(c.getOrElse(0L) + 1)))
        m.iterator.map { case (t, c) => (id, t, c, ts.length.toLong) }
      }
    }.toDF("doc_id", "term", "cnt", "n")
  }

  private val tcMemo = new MemoStats.Table[String, DataFrame]

  private def countIn(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isInCollection(words)))

  /** BPE-style pre-tokenization pattern (letter runs / digit runs /
    * other-symbol runs — the GPT-2 regex family reduced to the character
    * classes present here; same semantics in Java regex and RE2). */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"

  /** The token-stats formula as one struct-valued Column over a text
    * column — shared by [[tokenStats]] and the SQL registration
    * (`graft_token_stats(text)` in [[graft.GraftExtensions]]). */
  def tokenStatsCol(text: Column): Column = {
    val ts = tokens(text)
    struct(
      size(ts).as("n_tokens"),
      size(array_distinct(ts)).as("n_unique"),
      round(
        aggregate(transform(ts, t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(ts), 4).as("avg_token_len"),
      size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))
        .as("n_bpe_tokens"))
  }

  /** Token counting: whitespace tokens, distinct tokens, mean token
    * length, and a BPE-ish regex token count — the "token budget" pass
    * of a data pipeline. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenStatsCol(col("text")).as("t"))
      .select(col("doc_id"), col("t.*"))
      .orderBy("doc_id")

  /** The quality-score formula as one struct-valued Column — shared by
    * [[qualityScore]] and SQL's `graft_quality(text)`. */
  def qualityCol(text: Column): Column = {
    val ts = tokens(text)
    val nChars = length(text)
    val stopRatio = countIn(ts, Stopwords).cast("double") / size(ts)
    val punctRatio =
      length(regexp_replace(lower(text), "[a-z0-9 ]", ""))
        .cast("double") / nChars
    val score = (
      when(nChars.between(50, 2000), 4).otherwise(0) +
        when(stopRatio.between(0.05, 0.6), 4).otherwise(0) +
        when(punctRatio < 0.05, 2).otherwise(0)
      ).cast("double") / 10.0
    struct(
      nChars.as("n_chars"),
      round(stopRatio, 4).as("stop_ratio"),
      round(punctRatio, 4).as("punct_ratio"),
      score.as("quality"))
  }

  /** Quality scoring: length / stopword-ratio / punctuation-ratio gates
    * combined into a 0..1 score (sum of integer weights / 10 so both
    * engines produce the identical double). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), qualityCol(col("text")).as("q"))
      .select(col("doc_id"), col("q.*"))
      .orderBy("doc_id")

  /** The language-ID formula as one struct-valued Column (per-language
    * marker scores + argmax prediction) — shared by [[langId]] and SQL's
    * `graft_lang_id(text)`. */
  def langIdCol(text: Column): Column = {
    val ts = tokens(text)
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> countIn(ts, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in declaration order) achieving the max score
    val pred = scores.reverse.foldLeft(lit("und")) {
      case (acc, (lang, sc)) => when(sc === best && best > 0, lang).otherwise(acc)
    }
    struct(scores.map { case (l, c) => c.as(s"score_$l") }
      :+ pred.as("pred_lang"): _*)
  }

  /** Language ID: score each candidate language by marker-word hits over
    * the token list; argmax with the declaration order as tie-break;
    * 'und' when no marker hits at all. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), langIdCol(col("text")).as("l"))
      .select(col("doc_id"), col("l.*"))
      .orderBy("doc_id")

  /** Regexp surface (patterns restricted to syntax shared by Java regex
    * and RE2 so the oracle agrees): extract, count-all, replace, match
    * flag. */
  def regexpFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_extract(col("text"), "qu[a-z]+", 0).as("first_qu"),
        size(regexp_extract_all(col("text"), lit("data"), lit(0)))
          .as("n_data"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("no_vowel_len"),
        col("text").rlike("join .* join").as("double_join"))
      .orderBy("doc_id")

  /** The fingerprint formula as one struct-valued Column — shared by
    * [[fingerprint]] and SQL's `graft_fingerprint(text)`. */
  def fingerprintCol(text: Column): Column = {
    val hashes = transform(wordNgrams(tokens(text), 3), s =>
      substring(md5(concat(lit("fp:"), s)), 1, 8))
    struct(
      md5(text).as("content_md5"),
      array_min(hashes).as("fp_min"),
      array_max(hashes).as("fp_max"))
  }

  /** Document fingerprinting: md5 content hash plus min/max of an
    * md5-derived rolling window hash over word 3-gram shingles (the
    * winnowing-style fingerprint pair used for fast near-dup triage).
    * Docs with fewer than 3 tokens fingerprint as NULL min/max. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprintCol(col("text")).as("f"))
      .select(col("doc_id"), col("f.*"))
      .orderBy("doc_id")

  /** Repetition metrics — the "excessive repetition" quality gate of a
    * training-data pipeline: distinct-token ratio, most-frequent-token
    * share, and repeated-3-gram fraction per document (docs with ≥ 3
    * tokens). Token counting shuffles on (doc, token); the shingle side
    * reuses the typed pass from the dedup family.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sh = Dedup.shinglesOf(docs)
      .select(col("doc_id"), size(col("sh")).cast("double").as("nsh"),
        col("n_toks").cast("double").as("n"))
    // the shared [[termCounts]] frame IS the per-(doc, token) count —
    // the explode + groupBy shuffle this branch used to pay is gone
    termCounts(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("ndist"),
        max(col("cnt")).cast("double").as("topn"))
      .join(sh, "doc_id")
      .select(col("doc_id"),
        round(col("ndist") / col("n"), 4).as("tok_ratio"),
        round(col("topn") / col("n"), 4).as("top_share"),
        round(lit(1.0) - col("nsh") / (col("n") - 2), 4).as("rep3"))
      .orderBy("doc_id")
  }

  /** Token-rarity score — a perplexity proxy without a language model:
    * mean linear surprisal of a document's tokens, where a token's
    * surprisal is N/df (corpus docs over docs containing the token; the
    * same LINEAR idf choice as [[tfIdfTopTerms]] — ln() is not
    * correctly-rounded across libms). High = unusual vocabulary, low =
    * stopword soup; the standard "too weird / too boring" quality gate.
    *
    * Bit-stability across engines AND partitionings: per-token surprisal
    * is computed as the INTEGER `(N·10⁴) div df`, so the per-doc sum is
    * an integer (order-independent — a float sum would depend on
    * partial-aggregation order), and the 4-decimal mean is rounded IN
    * INTEGER ARITHMETIC (`(2·sr + n) div (2·n)` = half-up) before the
    * single exact division by 10⁴ — a float `round` here differs
    * between engines at half-way points because Spark rounds the
    * shortest decimal representation while DuckDB rounds the binary
    * value. Plan: one shuffle on the token for df, one on the doc for
    * the sum.
    */
  def rarityScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val nDocs = docs.filter(size(toks) > 0).count()
    // corpus df via a window on the term over the shared [[termCounts]]
    // frame (one row per distinct (doc, term) — counting rows IS the
    // document frequency), then one aggregate on the doc. Two exchanges
    // total; the explode + distinct + join form paid four over the full
    // occurrence-level frame.
    val wTerm = Window.partitionBy(col("term"))
    termCounts(spark, dir)
      .withColumn("df", count(lit(1)).over(wTerm))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_terms"),
        sum(col("cnt") * expr(s"${nDocs * 10000L} div df")).as("sr"))
      .select(col("doc_id"), col("n_terms").cast("int").as("n_terms"),
        (expr("(2 * sr + n_terms) div (2 * n_terms)").cast("double") /
          10000.0).as("rarity"))
      .orderBy("doc_id")
  }

  /** Top-3 characteristic terms per document by tf·idf with a LINEAR
    * idf (N/df, no logarithm): every arithmetic step (integer counts,
    * division, multiplication) is exactly specified by IEEE-754, so the
    * DuckDB oracle reproduces scores bit-for-bit — ln() is not
    * correctly-rounded-guaranteed across libms. Plan shape: one shuffle
    * on (doc, term) for tf, one on term for df, ranking windows over
    * ≤ 3 rows per doc after the per-doc top-k filter.
    */
  val TfIdfTopK = 3

  def tfIdfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // tf and the doc length are PER-DOC facts — computed in one narrow
    // typed pass (a local count map per document; the groupBy+join form
    // paid an explode-shuffle for what never needed to leave the doc).
    // Only the corpus-level facts shuffle: df via a window on the term,
    // the top-k rank via a window on the doc. Two exchanges + the
    // presentation sort; the corpus is tokenized exactly once. nDocs is
    // the one driver action — a narrow count that never tokenizes.
    // Window-on-term shuffles hot terms to one partition, the same skew
    // the term-keyed join had; per-term load is bounded by nDocs (one
    // row per distinct (doc, term)).
    val nDocs = docs.filter(size(toks) > 0).count().toDouble
    val tf = termCounts(spark, dir)
    val wTerm = Window.partitionBy(col("term"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("score",
        round((col("cnt").cast("double") / col("n").cast("double")) *
          (lit(nDocs) / col("df").cast("double")), 4))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= TfIdfTopK)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Character-trigram LM scoring window: the corpus LM is trained on
    * (and documents scored over) the first [[LmPrefix]] characters —
    * the CCNet-style bound that keeps per-doc cost flat regardless of
    * document length. */
  val LmPrefix = 256
  private val LmScale = 10000L

  /** Cap on the DRIVER-merged LM count tables, in total map entries
    * (trigrams + bigrams). The merge streams partials one partition at
    * a time, so driver residency is the merged table so far plus one
    * partial; the moment the merged entry count passes this cap the
    * merge aborts and [[lmScoreDistributed]] recomputes from the plan
    * (the `Bpe.DriverVocabCap` discipline: the common path — ASCII-ish
    * corpora, vocabularies of at most a few million n-grams — pays
    * nothing; the rare multilingual-at-100TB path pays a second scan
    * instead of an OOM). 4M entries ≈ low tens of MB on the driver. */
  val LmDriverCap: Long = 4L << 20

  /** Corpus-trained character-trigram language-model score — the
    * perplexity-filter stand-in (CCNet shape: score each doc under a
    * corpus LM; outliers on either end are boilerplate or garbage).
    * p(c₃|c₁c₂) is estimated from corpus counts; the reported score is
    * the mean INVERSE conditional probability in scaled integer
    * arithmetic (same device as [[rarityScore]]/tf-idf's linear idf:
    * no ln(), so no libm variance — the DuckDB oracle is bit-exact).
    * score ≥ 1.0 always (a context count is never below its
    * continuation count); higher = more surprising under the corpus.
    *
    * Plan shape, common path: THREE narrow passes over the bounded
    * prefixes and nothing else. Pass 0 is the ENFORCED capacity gate —
    * a parallel sizes-only probe whose per-partition distinct counts
    * sum to an exact upper bound on the driver merge's allocation;
    * past [[LmDriverCap]] entries the merge never happens (WARN +
    * [[lmScoreDistributed]], same integer arithmetic, fully
    * distributed, bit-identical output — spec-asserted). Under the
    * cap, pass 1 accumulates both n-gram count tables in one
    * per-partition loop (gate-bounded maps, merged on the driver) and
    * pass 2 scores each doc against the count maps broadcast in the
    * task closure. The corpus is never shuffled. Replaces the explode
    * + cache + two broadcast joins formulation — same arithmetic,
    * 3.4 s → ~1 s at sf0.1 before the gate pass was added.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(spark, dir, LmDriverCap)

  private[graft] def lmScore(spark: SparkSession, dir: String,
                             driverCap: Long): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(substring(col("text"), 1, LmPrefix)).as("p"))
      .filter(length(col("p")) >= 3)
      .as[(Long, String)]
    val partials = docs.mapPartitions { it =>
      val tri = scala.collection.mutable.HashMap.empty[String, Long]
      val bi = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { case (_, p) =>
        var i = 0
        while (i + 3 <= p.length) {
          tri.updateWith(p.substring(i, i + 3))(
            c => Some(c.getOrElse(0L) + 1L))
          bi.updateWith(p.substring(i, i + 2))(
            c => Some(c.getOrElse(0L) + 1L))
          i += 1
        }
      }
      Iterator.single((tri.toMap, bi.toMap))
    }
    // The gate: a parallel sizes-only probe job first — each partition
    // builds its count maps and ships back 16 BYTES (the two map
    // sizes), and the sum of per-partition distinct counts is an exact
    // upper bound on what the collect + merge below would allocate on
    // the driver. Probe and fetch stay two parallel jobs (the probe
    // re-tokenizes — one extra narrow pass in the common path) rather
    // than one serialized toLocalIterator walk: per-partition jobs
    // would cost a scheduling round-trip each and strand 31 of 32
    // cores during pass 1.
    val over = partials
      .map(p => p._1.size.toLong + p._2.size.toLong)
      .collect().sum > driverCap
    if (over) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lmScore: trigram+bigram tables passed the $driverCap-entry " +
          "driver cap; falling back to the distributed join " +
          "formulation (second corpus scan, no driver-side tables)")
      lmScoreDistributed(docs)
    } else {
      val triM = scala.collection.mutable.HashMap.empty[String, Long]
      val biM = scala.collection.mutable.HashMap.empty[String, Long]
      partials.collect().foreach { case (t, b) =>
        t.foreach { case (k, c) =>
          triM.update(k, triM.getOrElse(k, 0L) + c) }
        b.foreach { case (k, c) =>
          biM.update(k, biM.getOrElse(k, 0L) + c) }
      }
      val bc = spark.sparkContext.broadcast((triM.toMap, biM.toMap))
      docs.map { case (id, p) =>
        val (t3, b2) = bc.value
        var s = 0L
        var n = 0L
        var i = 0
        while (i + 3 <= p.length) {
          val c3 = t3(p.substring(i, i + 3))
          val c2 = b2(p.substring(i, i + 2))
          s += (c2 * LmScale) / c3
          n += 1
          i += 1
        }
        (id, n.toInt, ((2 * s + n) / (2 * n)).toDouble / LmScale.toDouble)
      }.toDF("doc_id", "n_tri", "lm_score").orderBy("doc_id")
    }
  }

  /** The distributed (over-cap) LM scoring path: n-grams exploded once
    * (narrow — ≤ LmPrefix−2 rows per doc), count tables computed as
    * shuffled aggregates, and the per-gram inverse probabilities
    * recovered through two shuffle joins keyed on the gram. The
    * arithmetic replays the driver path's integer division exactly
    * (`div`, then the half-up mean), so the two paths are
    * bit-identical. Hot grams ("the", " a ") skew the join keys the
    * same way tf-idf's term key skews; AQE's skew-join split handles
    * the sort-merge side at scale. Nothing touches the driver. */
  private def lmScoreDistributed(
      docs: org.apache.spark.sql.Dataset[(Long, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.flatMap { case (id, p) =>
      (0 to p.length - 3).iterator.map(i =>
        (id, p.substring(i, i + 3), p.substring(i, i + 2)))
    }.toDF("doc_id", "t3", "b2")
    val triCnt = grams.groupBy("t3").agg(count(lit(1)).as("c3"))
    val biCnt = grams.groupBy("b2").agg(count(lit(1)).as("c2"))
    grams.join(triCnt, "t3").join(biCnt, "b2")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(expr(s"c2 * $LmScale div c3")).as("s"))
      .select(col("doc_id"),
        col("n").cast("int").as("n_tri"),
        (expr("(2 * s + n) div (2 * n)").cast("double") /
          LmScale.toDouble).as("lm_score"))
      .orderBy("doc_id")
  }
}
