package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent corpus term-statistics index — the corpus-statistics
  * member of the persisted-index family ([[MinhashIndex]] for whole-doc
  * set similarity, [[WinnowIndex]] for copied passages,
  * [[DecontamIndex]] for benchmark overlap): tokenize the landed corpus
  * ONCE into per-term document frequencies, and let every crawl
  * increment be quality-scored against the UNION statistics with no
  * corpus re-tokenize. Rarity / tf-idf gates (the
  * [[TextAnalysis.rarityScore]] "too weird / too boring" filter) sit in
  * every production admission chain next to the near-dup gate — without
  * a persisted df table, each daily batch would pay a full-corpus
  * tokenize just to know how rare its tokens are.
  *
  * A [[GenerationStore]] (layout, build/merge/compact and crash
  * contract in [[IndexStore]]) with version prefix `store.v` and two
  * artifacts:
  * {{{
  *   store.v<V>/stats/gen=<G>/ (term, df) — the generation batch's
  *                     per-term document frequency. Term-partitionable,
  *                     bounded by the batch vocabulary.
  *   store.v<V>/meta/gen=<G>/  (n_docs) — the batch's tokenized-doc
  *                     count (docs with ≥ 1 token, the same population
  *                     [[TextAnalysis.rarityScore]] counts).
  * }}}
  *
  * Statistics are pure integer counts, so the maintenance verbs are
  * exact: df of the union corpus = Σ per-generation df (no cap, no
  * approximation), and compaction's fold is a plain sum. [[query]]
  * therefore answers BIT-IDENTICALLY to running the batch operator over
  * the unioned corpus and filtering to the increment — the property the
  * `text_rarity_incremental` oracle row checks end-to-end. A retried
  * batch must be a no-op: double-counted df rows are the silent
  * corruption exact statistics can least afford.
  *
  * Query plan shape: the increment is tokenized once (narrow pass); its
  * distinct terms broadcast into the stats scan as a prune; the pruned
  * per-term sums broadcast back into the increment's per-doc rows. The
  * stored tables are scanned narrowly and never shuffled — work per
  * increment doc is bounded by its vocabulary, never the corpus.
  */
object TermStatsIndex extends GenerationStore("store.v", "term-stats store",
    ("doc_id", "text")) {

  // a prepared batch holds one row per distinct (doc, term): counting
  // rows per term IS the batch document frequency
  private val Stats = new Artifact("stats", StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("gen", LongType))),
    derive = _.groupBy("term").agg(count(lit(1)).as("df")),
    fold = Some(_.groupBy("term").agg(sum(col("df")).as("df"))))
  private val Meta = new Artifact("meta", StructType(Seq(
      StructField("n_docs", LongType), StructField("gen", LongType))),
    derive = _.select(countDistinct(col("doc_id")).as("n_docs")),
    fold = Some(_.agg(sum(col("n_docs")).as("n_docs"))))

  protected def artifacts: Seq[Artifact] = Seq(Stats, Meta)
  protected def prepare(docs: DataFrame, snap: Snapshot): DataFrame =
    TextAnalysis.termRowsOf(docs).select(col("doc_id"), col("term"))

  /** The committed (term, df) table summed across generations — spec
    * helper. */
  private[graft] def statsTable(spark: SparkSession,
                                indexPath: String): DataFrame =
    snapshot(spark, indexPath).read(Stats)
      .groupBy("term").agg(sum(col("df")).as("df"))

  /** [[scoreFrame]] against the current committed state — spec helper. */
  private[graft] def scoreFrameNow(spark: SparkSession, indexPath: String,
                                   increment: DataFrame): DataFrame =
    scoreFrame(snapshot(spark, indexPath), TextAnalysis.termRowsOf(increment))

  /** The committed corpus doc count — spec helper. */
  private[graft] def docCount(spark: SparkSession, indexPath: String): Long =
    docCount(snapshot(spark, indexPath))

  private def docCount(snap: Snapshot): Long =
    snap.read(Meta).agg(sum(col("n_docs"))).head().getLong(0)

  /** Token-rarity of `increment` (doc_id, text) against the UNION of
    * the indexed corpus and the increment itself — bit-identical to
    * [[TextAnalysis.rarityScore]] over (corpus ∪ increment) filtered to
    * the increment's docs. Union semantics, exactly as the in-memory
    * operator defines them: N = stored docs + increment docs, df(term)
    * = stored df + increment df (the increment sees itself in the
    * statistics — scoring a batch against corpus-minus-itself would
    * drift from the batch operator's answer). All integer arithmetic
    * (linear surprisal, half-up integer mean) is inherited unchanged. */
  def query(spark: SparkSession, indexPath: String,
            increment: DataFrame): DataFrame = {
    val snap = snapshot(spark, indexPath)
    val perDoc = TextAnalysis.termRowsOf(increment)
    Materialize.withCached(perDoc) {
      scoreFrame(snap, perDoc)
    }
  }

  /** The un-materialized scoring plan over an already-tokenized
    * increment — the frame [[query]] materializes and the spec inspects
    * for the broadcast-only guarantee. */
  private[graft] def scoreFrame(snap: Snapshot,
                                perDoc: DataFrame): DataFrame = {
    val nInc = perDoc.select(countDistinct(col("doc_id"))).head().getLong(0)
    val nUnion = docCount(snap) + nInc
    // one row per distinct (doc, term) → counting rows is the
    // increment's own df; the stored scan is pruned to the increment's
    // terms by a broadcast of those terms
    val incDf = perDoc.groupBy("term").agg(count(lit(1)).as("dfi"))
    val storedDf = snap.read(Stats)
      .join(broadcast(incDf.select(col("term"))), "term")
      .groupBy("term")
      .agg(sum(col("df")).as("dfs"))
    val unionDf = incDf.join(broadcast(storedDf), Seq("term"), "left")
      .select(col("term"),
        (coalesce(col("dfs"), lit(0L)) + col("dfi")).as("df"))
    perDoc.join(broadcast(unionDf), "term")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_terms"),
        sum(col("cnt") * expr(s"${nUnion * 10000L} div df")).as("sr"))
      .select(col("doc_id"), col("n_terms").cast("int").as("n_terms"),
        (expr("(2 * sr + n_terms) div (2 * n_terms)").cast("double") /
          10000.0).as("rarity"))
      .orderBy("doc_id")
  }

  /** text_rarity_incremental: the FULL lifecycle under the oracle gate —
    * build over most of the landed corpus (doc_id % 10 ∉ {3, 7}), merge
    * the remaining landed batch (doc_id % 10 = 7), compact, then score
    * the crawl increment (doc_id % 10 = 3) against the union
    * statistics. The final union covers ALL documents, so the DuckDB
    * oracle is exactly the batch rarity restated over the whole corpus
    * filtered to the increment — build→merge→compact→query, the exact
    * df sums, and the union-statistics contract are hash-gated. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-termstats-index").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    try {
      val idx = s"$root/idx"
      build(docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7),
        idx)
      merge(docs.filter(col("doc_id") % 10 === 7), idx)
      compact(spark, idx)
      Scratch.materializeAndClean(root,
        query(spark, idx, docs.filter(col("doc_id") % 10 === 3)))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
