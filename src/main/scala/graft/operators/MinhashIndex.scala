package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent banded MinHash index — the production lifecycle of
  * [[Dedup.minhashJoin]]'s right side: band the landed corpus ONCE,
  * write it to storage, and let every subsequent crawl increment join
  * against it with no corpus reshuffle. This is the incremental-ingest
  * shape [[Dedup.minhashJoin]]'s Scaladoc promises ("persist/bucket it
  * by (b, k) and the incremental crawl joins against it"): daily
  * increments are checked for near-dups against a 100 TB landed corpus
  * at the cost of scanning the index, never re-banding the corpus.
  *
  * A [[GenerationStore]] (layout, build/merge/compact and crash
  * contract in [[IndexStore]]) with version prefix `bands.v` and two
  * artifacts:
  * {{{
  *   bands.v<V>/gen=<G>/b=<B>/  bucket RESIDENTS only — the
  *                    [[Dedup.HotGroupCap]] smallest ids per (b, k),
  *                    capped at write time over the written batch.
  *                    Partitioned by `b`, k-sorted within files so
  *                    parquet row-group stats support bucket-range
  *                    pruning by external readers. Compaction re-caps.
  *   shingles/gen=<G>/          per-doc (doc_id, sh) shingle sets for
  *                    candidate verification; append-only (keyed by
  *                    doc, never superseded).
  * }}}
  * One `g<G>` marker publishes both, so an interrupted merge can never
  * surface a band row whose verification shingles are missing.
  *
  * Merge correctness: the cap keeps the cap smallest ids per bucket,
  * and the cap-smallest of A ∪ B is always a subset of (cap-smallest of
  * A) ∪ (cap-smallest of B) — so batch-capped generations plus
  * [[query]]'s candidate-local re-cap reproduce a fresh build over the
  * union exactly (asserted row-for-row in the spec, oracle-gated by
  * `dedup_index_lifecycle`). Buckets touched by many merges accumulate
  * ≤ cap stale rows per merge; compaction reclaims them. A retried
  * batch must be a no-op: duplicate band rows would crowd genuine
  * residents out of the cap window and inflate the shared-bucket
  * counts every query aggregates.
  *
  * Query plan shape (asserted in the spec): the increment side is
  * BROADCAST into both the band join and the verification join, so the
  * index is read with a narrow scan — zero Exchange on the corpus
  * side. Work per increment doc is bounded by cap × bands exactly as
  * in the in-memory operator, and results are row-identical to
  * [[Dedup.minhashJoin]](increment, corpus) over the same data.
  */
object MinhashIndex extends GenerationStore("bands.v", "band table",
    ("doc_id", "text")) {

  private val Bands = new Artifact("", StructType(Seq(
      StructField("right_id", LongType), StructField("k", StringType),
      StructField("gen", LongType), StructField("b", IntegerType))),
    derive = perDoc => Dedup.capBucket(Dedup.bandFrame(perDoc)
      .select(col("doc_id").as("right_id"), col("b"), col("k")), "right_id"),
    fold = Some(Dedup.capBucket(_, "right_id")),
    layout = _.repartition(col("b"))
      .sortWithinPartitions(col("k"), col("right_id"))
      .write.partitionBy("b"))
  private val Shingles = new Artifact("shingles", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", ArrayType(StringType)),
      StructField("gen", LongType))),
    derive = _.select(col("doc_id"), col("sh")), fold = None)

  protected def artifacts: Seq[Artifact] = Seq(Shingles, Bands)
  protected def prepare(docs: DataFrame, snap: Snapshot): DataFrame =
    Dedup.shingleSigs(docs)

  /** Count of docs in the committed shingle table (one row per indexed
    * doc with ≥ 1 shingle — uncapped, unlike the band table) — the
    * post-merge readback [[Admission]] gates its merge step with. */
  private[graft] def shingleDocCount(spark: SparkSession,
                                     indexPath: String): Long =
    snapshot(spark, indexPath).read(Shingles)
      .select(countDistinct(col("doc_id"))).head().getLong(0)

  /** The index's current committed band table — spec helper. */
  private[graft] def bandTable(spark: SparkSession,
                               indexPath: String): DataFrame =
    snapshot(spark, indexPath).read(Bands)

  /** Near-dup pairs between `increment` (doc_id, text) and the indexed
    * corpus: row-identical to `Dedup.minhashJoin(increment, corpus)`.
    * The increment is assumed small relative to the corpus (the whole
    * point of the index) and is broadcast; candidate verification
    * reads only the candidate ids' shingle rows via a broadcast join
    * as well, so the corpus-side tables are never shuffled. */
  def query(spark: SparkSession, indexPath: String,
            increment: DataFrame): DataFrame = {
    val snap = snapshot(spark, indexPath)
    val perL = Dedup.shingleSigs(increment)
    Materialize.withCached(perL) {
      val bandsL = Dedup.bandFrame(perL)
        .select(col("doc_id").as("left_id"), col("b"), col("k"))
      val idx = snap.read(Bands)
      // candidate-local re-cap: after merges a bucket may hold up to
      // cap residents per merged generation; the true residents of the
      // unioned corpus are the cap smallest of what is stored (the
      // subset argument above). The window runs over candidate rows
      // only — increment-bounded, never the corpus. A band table with
      // ONE physical generation — right after build or compact, the
      // common serving state — is already exactly capped at write, so
      // the re-cap window (and its broadcast round) is skipped and the
      // band join collapses to a single broadcast join.
      val cand = (if (snap.physicalGens(Bands) <= 1)
          idx.join(broadcast(bandsL), Seq("b", "k"))
        else {
          val matched = idx.join(
            broadcast(bandsL.select(col("b"), col("k"))),
            Seq("b", "k"), "left_semi")
          Dedup.capBucket(matched, "right_id")
            .join(broadcast(bandsL), Seq("b", "k"))
        })
        .select(col("left_id"), col("right_id"))
        .distinct()
      val shR = snap.read(Shingles)
      val withR = shR.join(broadcast(cand),
          shR("doc_id") === cand("right_id"))
        .select(col("left_id"), col("right_id"), col("sh").as("sb"))
      withR
        .join(broadcast(perL.select(col("doc_id").as("left_id"),
          col("sh").as("sa"))), "left_id")
        .select(col("left_id"), col("right_id"),
          round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jaccard"))
        .filter(col("jaccard") >= Dedup.MinhashJaccardThreshold)
        .orderBy("left_id", "right_id")
    }
  }

  /** The un-materialized candidate frame (band join only) — the plan
    * the spec inspects for the no-corpus-shuffle guarantee. */
  private[graft] def candidateFrame(spark: SparkSession, indexPath: String,
                                    increment: DataFrame): DataFrame = {
    val bandsL = Dedup.bandFrame(Dedup.shingleSigs(increment))
      .select(col("doc_id").as("left_id"), col("b"), col("k"))
    snapshot(spark, indexPath).read(Bands)
      .join(broadcast(bandsL), Seq("b", "k"))
      .select(col("left_id"), col("right_id"))
  }

  /** dedup_incremental: build the index over the landed corpus (doc_id
    * % 10 ≠ 3), query the 10% "crawl increment" (doc_id % 10 = 3)
    * against it — all in a scratch dir the harness deletes. The DuckDB
    * oracle states the same pairs relationally, so the whole
    * build→persist→broadcast-query lifecycle is hash-gated.
    * [[lifecycle]] gates the maintenance verbs on the same oracle. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-index").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    try {
      build(docs.filter(col("doc_id") % 10 =!= 3), s"$root/idx")
      Scratch.materializeAndClean(root,
        query(spark, s"$root/idx", docs.filter(col("doc_id") % 10 === 3)))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** dedup_index_lifecycle: the FULL maintenance lifecycle under the
    * same oracle — build over most of the landed corpus
    * (doc_id % 10 ∉ {3, 7}), [[merge]] the remaining landed batch
    * (doc_id % 10 = 7), [[compact]], then [[query]] the increment
    * (doc_id % 10 = 3). The final index covers exactly doc_id % 10 ≠ 3
    * — the same relational pairs as `dedup_incremental` — so the
    * build→merge→compact→broadcast-query chain is hash-gated: the
    * cap-subset argument and the re-cap identity are driver-checked
    * facts, not just spec claims. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-lifecycle").toString
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

  /** q_sql_index_lifecycle: [[lifecycle]] driven ENTIRELY through the
    * SQL surface — `GRAFT INDEX BUILD/MERGE/COMPACT` commands plus the
    * `graft_index_query` table function — against the same DuckDB
    * oracle, so the SQL verbs are hash-gated to the Scala API's exact
    * results (they run through the same code paths, lease and markers
    * included). */
  def sqlLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-sql-lifecycle").toString
    try {
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("graft_sqlidx_docs")
      val idx = s"$root/idx"
      spark.sql(s"GRAFT INDEX BUILD MINHASH '$idx' FROM " +
        "(SELECT doc_id, text FROM graft_sqlidx_docs " +
        "WHERE doc_id % 10 NOT IN (3, 7))").collect()
      spark.sql(s"GRAFT INDEX MERGE MINHASH '$idx' FROM " +
        "(SELECT doc_id, text FROM graft_sqlidx_docs " +
        "WHERE doc_id % 10 = 7)").collect()
      spark.sql(s"GRAFT INDEX COMPACT MINHASH '$idx'").collect()
      Scratch.materializeAndClean(root,
        spark.sql("SELECT * FROM graft_index_query('minhash', " +
          s"'$idx', '$dir', 'doc_id % 10 = 3') " +
          "ORDER BY left_id, right_id"))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** q_sql_admit: the [[ingestChain]] crawl loop driven ENTIRELY
    * through SQL — `GRAFT INDEX BUILD` on the bootstrap batch, then
    * two successive `GRAFT INDEX ADMIT` commands whose RESULT SETS
    * (the per-doc admission logs) form the output, so the verb's
    * returned log — not a readback of the index — is what the DuckDB
    * oracle hash-gates. Chained semantics are identical to
    * [[ingestChain]]: batch 2 is checked against batch 0 plus
    * batch 1's SURVIVORS. */
  def sqlAdmit(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-sql-admit").toString
    try {
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("graft_sqladmit_docs")
      val idx = s"$root/idx"
      spark.sql(s"GRAFT INDEX BUILD MINHASH '$idx' FROM " +
        "(SELECT doc_id, text FROM graft_sqladmit_docs " +
        "WHERE doc_id % 3 = 0)").collect()
      def admitLog(k: Int) =
        spark.sql(s"GRAFT INDEX ADMIT MINHASH '$idx' FROM " +
          "(SELECT doc_id, text FROM graft_sqladmit_docs " +
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

  /** Gate one crawl batch against the index and admit the survivors:
    * near-dups of already-landed docs are rejected, the rest merged in
    * (see [[Admission.gate]]). Within-batch duplicates are deliberately
    * NOT checked here — that is [[Dedup.minhashPairs]]' job on the
    * batch before it reaches the gate. */
  def admit(batch: DataFrame, indexPath: String): DataFrame =
    Admission.gate(batch, indexPath, query, merge)

  /** dedup_ingest_chain: the PRODUCTION crawl loop under the oracle
    * gate — bootstrap the index from the first corpus batch
    * (doc_id % 3 = 0), then [[admit]] two successive crawl batches
    * (% 3 = 1, then % 3 = 2): each is near-dup-checked against the
    * index AS LEFT BY THE PREVIOUS STEP (batch 2 is checked against
    * batch 0 plus batch 1's SURVIVORS — a rejected batch-1 doc never
    * blocks a batch-2 doc), and its survivors are merged in. The
    * output is the full admission log (doc_id, batch, admitted); the
    * DuckDB oracle restates the chained admission relationally, so
    * query-then-merge ordering, admission freezing, and the
    * append-only generation lifecycle are driver-checked facts. */
  def ingestChain(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-ingest").toString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    def batch(k: Int) = docs.filter(col("doc_id") % 3 === k)
    try {
      val idx = s"$root/idx"
      build(batch(0), idx)
      val a1 = admit(batch(1), idx)
      val a2 = admit(batch(2), idx)
      val admittedIds = batch(0).select("doc_id")
        .unionByName(a1.select("doc_id"))
        .unionByName(a2.select("doc_id"))
        .withColumn("admitted", lit(true))
      Scratch.materializeAndClean(root,
        docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("int").as("batch"))
          .join(admittedIds, Seq("doc_id"), "left")
          .select(col("doc_id"), col("batch"),
            coalesce(col("admitted"), lit(false)).as("admitted"))
          .orderBy("doc_id"))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
