package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent winnowed-fingerprint index — the production lifecycle of
  * [[Dedup.winnowJoin]]'s right side, completing the persisted-index
  * family ([[MinhashIndex]] for whole-doc set similarity,
  * [[DecontamIndex]] for benchmark overlap, this for copied-passage /
  * exact-substring overlap): fingerprint the landed corpus ONCE and
  * let every crawl increment join against the stored posting lists
  * with no corpus reshuffle. Incremental code/document dedup by
  * winnowing (Schleimer et al.) is the standard shape for catching
  * copied passages a MinHash whole-doc signature dilutes away.
  *
  * A [[GenerationStore]] (layout, build/merge/compact and crash
  * contract in [[IndexStore]]) with version prefix `store.v` and two
  * artifacts:
  * {{{
  *   store.v<V>/postings/gen=<G>/  (fp, right_id) — posting lists
  *                     capped at the [[Dedup.HotGroupCap]] smallest
  *                     right ids per fingerprint at write time
  *                     (cap-subset property: [[query]]'s re-cap over
  *                     the union of generations reproduces a fresh
  *                     build's cap exactly); fp-sorted files.
  *   store.v<V>/counts/gen=<G>/    (fp, ff) — FULL per-fingerprint doc
  *                     frequencies of the generation's batch, BEFORE
  *                     capping: query-time hot-fingerprint dropping
  *                     needs the true union frequency
  *                     ([[Dedup.ShingleFreqCap]] applies to corpus +
  *                     increment combined, exactly as in the
  *                     in-memory join). Compaction sums them per fp.
  * }}}
  *
  * Query plan shape (spec-asserted): the increment side is broadcast
  * into every join, the corpus-side tables are scanned narrowly and
  * never shuffled; per-increment-doc work is bounded by cap ×
  * fingerprints. Results are row-identical to
  * [[Dedup.winnowJoin]](increment, corpus) over the same data.
  */
object WinnowIndex extends GenerationStore("store.v", "winnow store",
    ("doc_id", "text")) {

  /** The cap window: keep the HotGroupCap smallest right ids per fp. */
  private def capFp(postings: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("right_id"))
    postings.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= Dedup.HotGroupCap)
      .drop("__rn")
  }

  private val Postings = new Artifact("postings", StructType(Seq(
      StructField("fp", StringType), StructField("right_id", LongType),
      StructField("gen", LongType))),
    derive = capFp, fold = Some(capFp),
    layout = _.repartition(col("fp"))
      .sortWithinPartitions(col("fp"), col("right_id"))
      .select(col("fp"), col("right_id")).write)
  private val Counts = new Artifact("counts", StructType(Seq(
      StructField("fp", StringType), StructField("ff", LongType),
      StructField("gen", LongType))),
    derive = _.groupBy("fp").agg(count(lit(1)).as("ff")),
    fold = Some(_.groupBy("fp").agg(sum(col("ff")).as("ff"))))

  protected def artifacts: Seq[Artifact] = Seq(Counts, Postings)
  protected def prepare(docs: DataFrame, snap: Snapshot): DataFrame =
    Dedup.winnowFps(docs).toDF("right_id", "fp")

  /** Total stored fingerprint occurrences — Σ ff over the committed
    * counts (the FULL pre-cap per-fingerprint doc frequencies), i.e.
    * the count of distinct (doc, fp) pairs ever admitted. The
    * post-merge readback [[Admission]] gates its winnow merge with. */
  private[graft] def totalFpCount(spark: SparkSession,
                                  indexPath: String): Long = {
    val r = snapshot(spark, indexPath).read(Counts)
      .agg(sum(col("ff"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The committed posting table — spec helper. */
  private[graft] def postingTable(spark: SparkSession,
                                  indexPath: String): DataFrame =
    snapshot(spark, indexPath).read(Postings)

  /** Shared-fingerprint pairs between `increment` (doc_id, text) and
    * the indexed corpus: row-identical to
    * `Dedup.winnowJoin(increment, corpus)`. Hot-fingerprint dropping
    * uses the TRUE union frequency: stored full corpus counts (summed
    * across generations) plus the increment's own counts — the same
    * `ShingleFreqCap` contract as the in-memory join. The increment is
    * broadcast everywhere; the posting and count scans are pruned to
    * the increment's fingerprints and never shuffled. */
  def query(spark: SparkSession, indexPath: String,
            increment: DataFrame): DataFrame = {
    val snap = snapshot(spark, indexPath)
    val perL = Dedup.winnowFps(increment).toDF("left_id", "fp")
    Materialize.withCached(perL) {
      val ffL = perL.groupBy("fp").agg(count(lit(1)).as("ffl"))
      // one pass over the stored counts: pruning to the increment's
      // fingerprints and attaching its own frequency share a single
      // broadcast join; ffl is constant per fp so any agg carries it
      val hot = snap.read(Counts)
        .join(broadcast(ffL), "fp")
        .groupBy("fp")
        .agg(sum(col("ff")).as("ffr"), max(col("ffl")).as("ffl"))
        .filter(col("ffr") + col("ffl") > Dedup.ShingleFreqCap)
        .select(col("fp"))
      val lc = perL.join(broadcast(hot), Seq("fp"), "left_anti")
      val cand = snap.read(Postings)
        .join(broadcast(lc), Seq("fp"), "left_semi")
      // candidate-local re-cap: merged generations may hold up to cap
      // residents each; the union's true residents are the cap
      // smallest of what is stored (cap-subset argument). A store with
      // ONE physical generation — right after build or compact, the
      // common serving state — is already exactly capped at write, so
      // the re-cap window (the query's only shuffle) is skipped.
      val exact =
        if (snap.physicalGens(Postings) <= 1) cand else capFp(cand)
      exact
        .join(broadcast(lc), "fp")
        .groupBy("left_id", "right_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= Dedup.MinSharedFp)
        .orderBy("left_id", "right_id")
    }
  }

  /** The candidate frame before aggregation — the plan the spec
    * inspects for the no-corpus-shuffle guarantee. */
  private[graft] def candidateFrame(spark: SparkSession, indexPath: String,
                                    increment: DataFrame): DataFrame = {
    val perL = Dedup.winnowFps(increment).toDF("left_id", "fp")
    snapshot(spark, indexPath).read(Postings)
      .join(broadcast(perL), "fp")
      .select(col("left_id"), col("right_id"))
  }

  /** dedup_winnow_incremental: build the index over the landed corpus
    * (doc_id % 10 ≠ 3), query the 10% "crawl increment" (doc_id % 10 =
    * 3) against it — the operator a daily crawl actually runs, and the
    * perf-representative number. The DuckDB oracle states the same
    * shared-fingerprint pairs relationally, so the
    * build→persist→broadcast-query chain — including the
    * union-frequency hot drop — is hash-gated. [[lifecycle]] gates the
    * maintenance verbs on the same oracle. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-winnow-index").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    try {
      val idx = s"$root/idx"
      build(docs.filter(col("doc_id") % 10 =!= 3), idx)
      Scratch.materializeAndClean(root,
        query(spark, idx, docs.filter(col("doc_id") % 10 === 3)))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** Gate one crawl batch against the index and admit the survivors:
    * docs sharing ≥ [[Dedup.MinSharedFp]] winnow fingerprints with an
    * already-landed doc (a copied passage, the overlap a whole-doc
    * MinHash signature dilutes away) are rejected, the rest merged in
    * (see [[Admission.gate]]). */
  def admit(batch: DataFrame, indexPath: String): DataFrame =
    Admission.gate(batch, indexPath, query, merge)

  /** q_sql_admit_winnow: the copied-passage crawl gate driven entirely
    * through SQL — `GRAFT INDEX BUILD WINNOW` on the bootstrap batch,
    * then two successive `GRAFT INDEX ADMIT WINNOW` commands whose
    * RESULT SETS (the per-doc admission logs) form the output. Chained
    * semantics mirror [[MinhashIndex.ingestChain]]: batch 2 is gated
    * against batch 0 plus batch 1's SURVIVORS, and the hot-fingerprint
    * drop at each step uses the TRUE union frequency of the index
    * state AND the incoming batch — which the oracle must therefore
    * re-scope per step, not globally. */
  def sqlAdmit(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-wn-sql-admit").toString
    try {
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("graft_wnadmit_docs")
      val idx = s"$root/idx"
      spark.sql(s"GRAFT INDEX BUILD WINNOW '$idx' FROM " +
        "(SELECT doc_id, text FROM graft_wnadmit_docs " +
        "WHERE doc_id % 3 = 0)").collect()
      def admitLog(k: Int) =
        spark.sql(s"GRAFT INDEX ADMIT WINNOW '$idx' FROM " +
          "(SELECT doc_id, text FROM graft_wnadmit_docs " +
          s"WHERE doc_id % 3 = $k)")
          .withColumn("batch", lit(k))
      val log = admitLog(1).unionByName(admitLog(2))
      Scratch.materializeAndClean(root,
        log.select(col("doc_id"), col("batch"), col("admitted"))
          .orderBy("doc_id"))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** dedup_winnow_lifecycle: the FULL maintenance lifecycle under the
    * same oracle — build over most of the landed corpus
    * (doc_id % 10 ∉ {3, 7}), merge the remaining landed batch
    * (doc_id % 10 = 7), compact, then query the crawl increment
    * (doc_id % 10 = 3). The final index covers exactly doc_id % 10 ≠ 3
    * — the same relational pairs as `dedup_winnow_incremental` — so the
    * build→merge→compact→broadcast-query chain — including the
    * union-frequency hot drop across generations and the cap-subset
    * re-cap — is hash-gated. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-winnow-lifecycle").toString
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
