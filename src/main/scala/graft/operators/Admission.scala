package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed production admission decision — all four persisted
  * index families gating one crawl batch in a single pass, the operator
  * a daily 100 TB ingest actually runs before anything enters the
  * corpus:
  *
  *   1. decontamination ([[DecontamIndex]]): the doc overlaps the held
  *      benchmark/eval set → reject (training on it would leak the
  *      benchmark);
  *   2. quality ([[TermStatsIndex]]): the doc's token rarity against
  *      the UNION statistics (landed corpus + this batch) exceeds
  *      [[RarityMax]] → reject (vocabulary soup / garbage tail — the
  *      "too weird" half of the rarity gate);
  *   3. near-dup ([[MinhashIndex]]): the doc is a near-duplicate of an
  *      already-landed doc → reject;
  *   4. copied passage ([[WinnowIndex]]): the doc shares ≥
  *      [[Dedup.MinSharedFp]] winnowed fingerprints with a landed doc
  *      → reject (the small copied run a whole-doc Jaccard signature
  *      dilutes away — plagiarized passages, boilerplate reposts).
  *
  * Gates evaluate INDEPENDENTLY against the pre-merge index state (the
  * same admission-freezing contract as [[MinhashIndex.admit]]), so the
  * per-gate flags are a property of (landed state, batch) alone — the
  * output is the full per-gate admission log, and the survivors are
  * merged into the growable indexes (near-dup bands, winnow postings,
  * term statistics; the decontam index grows with the EVAL set, not
  * the corpus).
  *
  * At scale each gate costs one batch-sized pass plus broadcast joins
  * against its index — the landed corpus is never re-banded,
  * re-tokenized, re-fingerprinted, or re-shingled (that is the whole
  * point of the persisted family), and the gates share the batch scan.
  */
object Admission {

  /** Upper rarity bound for admission: mean linear surprisal above this
    * reads as vocabulary-soup / garbage tail. (The synthetic corpus
    * clusters near 1.29 with a long tail — 1.5 splits it at every SF.) */
  val RarityMax = 1.5

  /** Gate one crawl batch against one pair-producing index and admit
    * the survivors: docs that `query` pairs (as `left_id`) with an
    * already-landed doc are rejected, the rest are merged in. Returns
    * the admitted rows, MATERIALIZED before the merge, so the decision
    * is frozen against the pre-merge index state and can never observe
    * the generation it is about to write. The one body behind
    * [[MinhashIndex.admit]] and [[WinnowIndex.admit]]. */
  private[operators] def gate(batch: DataFrame, indexPath: String,
      query: (SparkSession, String, DataFrame) => DataFrame,
      merge: (DataFrame, String) => Unit): DataFrame = {
    val dup = query(batch.sparkSession, indexPath, batch)
      .select(col("left_id")).distinct()
    val admitted = Materialize(
      batch.join(dup, batch("doc_id") === dup("left_id"), "left_anti"))
    merge(admitted, indexPath)
    admitted
  }

  /** q_admission_pipeline: the composed gate under the oracle gate.
    * Eval set = doc_id % EvalStride = 0 (held out of the corpus
    * entirely); landed corpus = the non-eval doc_id % 10 ≠ 3; crawl
    * batch = the non-eval doc_id % 10 = 3. Returns one row per batch
    * doc: (doc_id, passed_decontam, passed_rarity, passed_neardup,
    * passed_passage, admitted) plus the post-merge readback counts.
    * The DuckDB oracle restates all four gates relationally over the
    * same splits, so the composed decision — including the
    * union-statistics rarity and the admission-freeze ordering — is
    * hash-gated. */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-admission").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    try {
      val evalDocs = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
      val nonEval = docs.filter(col("doc_id") % Dedup.EvalStride =!= 0)
      val landed = nonEval.filter(col("doc_id") % 10 =!= 3)
      val batch = nonEval.filter(col("doc_id") % 10 === 3)
      val (decIdx, mhIdx, tsIdx, wIdx) =
        (s"$root/decontam", s"$root/minhash", s"$root/termstats",
          s"$root/winnow")
      // the four indexes live under distinct roots and the four gate
      // queries touch disjoint state: each stage fans out concurrently
      // (builds, then queries, then merges) — the pipeline costs
      // max(index family) per stage, not their sum
      IndexStore.inParallel(
        () => DecontamIndex.build(evalDocs, decIdx),
        () => MinhashIndex.build(landed, mhIdx),
        () => TermStatsIndex.build(landed, tsIdx),
        () => WinnowIndex.build(landed, wIdx))

      val Seq(contaminated, rarity, nearDup, passage) =
        IndexStore.inParallel(
          () => DecontamIndex.query(spark, decIdx, batch)
            .filter(col("contaminated")).select(col("doc_id")),
          () => TermStatsIndex.query(spark, tsIdx, batch)
            .select(col("doc_id"), col("rarity")),
          () => MinhashIndex.query(spark, mhIdx, batch)
            .select(col("left_id").as("doc_id")).distinct(),
          () => WinnowIndex.query(spark, wIdx, batch)
            .select(col("left_id").as("doc_id")).distinct())

      val flags = batch.select(col("doc_id"))
        .join(contaminated.withColumn("__c", lit(true)), Seq("doc_id"), "left")
        .join(rarity, Seq("doc_id"), "left")
        .join(nearDup.withColumn("__n", lit(true)), Seq("doc_id"), "left")
        .join(passage.withColumn("__p", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          not(coalesce(col("__c"), lit(false))).as("passed_decontam"),
          // a doc with no tokens has no rarity — reject, not admit
          coalesce(col("rarity") <= RarityMax, lit(false))
            .as("passed_rarity"),
          not(coalesce(col("__n"), lit(false))).as("passed_neardup"),
          not(coalesce(col("__p"), lit(false))).as("passed_passage"))
        .withColumn("admitted",
          col("passed_decontam") && col("passed_rarity") &&
            col("passed_neardup") && col("passed_passage"))

      // freeze the admission log BEFORE the merges: the decision can
      // never observe the generations it is about to create
      val log = Materialize(flags)
      val survivors = Materialize(
        batch.join(log.filter(col("admitted")).select(col("doc_id")),
          "doc_id"))
      IndexStore.inParallel(
        () => MinhashIndex.merge(survivors, mhIdx),
        () => TermStatsIndex.merge(survivors, tsIdx),
        () => WinnowIndex.merge(survivors, wIdx))
      // gate the merges by POST-MERGE state readback, not just by
      // having run them: the committed populations of the grown
      // indexes ride the log as constant columns and the oracle
      // restates them from the admitted set — a merge that dropped,
      // duplicated, or mis-batched survivors shifts the counts
      val Seq(mhDocs, statsDocs, winnowFps) = IndexStore.inParallel(
        () => MinhashIndex.shingleDocCount(spark, mhIdx),
        () => TermStatsIndex.docCount(spark, tsIdx),
        () => WinnowIndex.totalFpCount(spark, wIdx))
      Scratch.materializeAndClean(root, log.orderBy("doc_id")
        .withColumn("mh_docs", lit(mhDocs))
        .withColumn("stats_docs", lit(statsDocs))
        .withColumn("winnow_fps", lit(winnowFps)))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
