package graft.operators

import org.apache.hadoop.fs.Path
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
  * Layout under `indexPath` (all paths via Hadoop FileSystem — local,
  * HDFS, or object store alike; see [[IndexStore]]):
  * {{{
  *   bands.v<V>/gen=<G>/b=<B>/  band table version V: bucket RESIDENTS
  *                    only — the [[Dedup.HotGroupCap]] smallest ids per
  *                    (b, k), capped at write time (the cap is a
  *                    function of the written batch alone; [[query]]'s
  *                    candidate-local re-cap recovers the union's
  *                    residents, see [[merge]]). Partitioned by `b`,
  *                    k-sorted within files so parquet row-group stats
  *                    support bucket-range pruning by external readers.
  *                    [[compact]] bumps V (write-new-then-retire).
  *   shingles/gen=<G>/          per-doc (doc_id, sh) shingle sets for
  *                    candidate verification, one generation dir per
  *                    committed batch, append-only.
  *   _commits/g<G>              generation G's publish marker: its
  *                    shingle AND band files are complete. Written
  *                    LAST — a crash before it leaves only invisible
  *                    orphan dirs, which the next attempt overwrites
  *                    and [[compact]] sweeps. No marker, no reader
  *                    ever resolves the generation: an interrupted
  *                    [[merge]] can never surface a band row whose
  *                    verification shingles are missing (the silent
  *                    false-negative window a plain two-step append
  *                    would have).
  *   _commits/bands.v<V>        band table version V is complete.
  * }}}
  *
  * Query plan shape (asserted in the spec): the increment side is
  * BROADCAST into both the band join and the verification join, so the
  * index is read with a narrow scan — zero Exchange on the corpus
  * side. Work per increment doc is bounded by cap × bands exactly as
  * in the in-memory operator, and results are row-identical to
  * [[Dedup.minhashJoin]](increment, corpus) over the same data.
  *
  * Writers (build/merge/compact) serialize per root via
  * [[IndexStore.withLock]]; readers never block and always see the
  * newest fully-committed state.
  */
object MinhashIndex {

  // explicit schemas (data + partition columns): readers must never
  // infer from data files — an uncommitted generation dir may hold a
  // torn file from a crash, and inference could sample it
  private val BandSchema = StructType(Seq(
    StructField("right_id", LongType), StructField("k", StringType),
    StructField("gen", LongType), StructField("b", IntegerType)))
  private val ShingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType)),
    StructField("gen", LongType)))

  private def bandsDir(root: String, v: Long) = s"$root/bands.v$v"

  private def committedGens(spark: SparkSession, root: String): Seq[Long] =
    IndexStore.committedGens(spark, root)

  private def bandVersion(spark: SparkSession, root: String): Long =
    IndexStore.requireVersion(spark, root, "bands.v", "band table")

  /** Band `corpus` (doc_id, text) and write the index, replacing any
    * prior index at `indexPath`. The resident cap runs at build time:
    * one window shuffle over the corpus bands — the only corpus-wide
    * shuffle in the index's whole lifecycle. */
  def build(corpus: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(corpus.sparkSession, indexPath) {
      val spark = corpus.sparkSession
      val (hfs, p) = IndexStore.fs(spark, indexPath)
      IndexStore.resetRoot(hfs, p)
      writeGeneration(corpus, indexPath, gen = 0L, v = 1L)
      IndexStore.mark(hfs, p, "g0")
      IndexStore.mark(hfs, p, "bands.v1")
    }

  /** Admit a new batch of docs INTO the index (after near-dup checking
    * it): one new generation holding its shingles and its band rows —
    * capped within the batch — published by a single marker.
    * Append-only, no rewrite of existing files, no corpus-wide work:
    * the only shuffle is the resident-cap window over the BATCH.
    *
    * Correctness: the cap keeps the [[Dedup.HotGroupCap]] smallest ids
    * per bucket, and the cap-smallest of A ∪ B is always a subset of
    * (cap-smallest of A) ∪ (cap-smallest of B) — so batch-capped
    * appends plus [[query]]'s candidate-local re-cap reproduce a fresh
    * build over the union exactly (asserted row-for-row in the spec,
    * and oracle-gated end-to-end by `dedup_index_lifecycle`). Buckets
    * touched by many merges accumulate ≤ cap stale (out-capped) rows
    * per merge; [[compact]] reclaims them.
    *
    * Crash anywhere before the marker: the generation's dirs are
    * invisible orphans and queries answer exactly as before the merge
    * — never a partial batch. A retry recomputes the same generation
    * id (the marker is absent) and overwrites the orphans wholesale.
    * Crash AFTER the marker but before the orchestrator records
    * success: the at-least-once retry is detected by the batch
    * fingerprint stored inside the generation markers — ANY of them,
    * not just the newest, since a delayed retry can arrive after newer
    * batches landed — and becomes a no-op. Without it the retry would
    * commit the same batch twice: the duplicate band rows would crowd
    * genuine residents out of the cap window AND inflate the
    * shared-bucket counts every query aggregates. */
  def merge(admitted: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(admitted.sparkSession, indexPath) {
      val spark = admitted.sparkSession
      val gens = committedGens(spark, indexPath)
      require(gens.nonEmpty,
        s"no committed index under $indexPath — run build first")
      val fp = IndexStore.batchFingerprint(admitted, "doc_id", "text")
      if (!IndexStore.generationCommitted(spark, indexPath, fp)) {
        val g = gens.max + 1
        writeGeneration(admitted, indexPath, g,
          bandVersion(spark, indexPath))
        commitGeneration(spark, indexPath, g, fp)
      }
    }

  /** Write generation `gen`'s shingle and band dirs under band version
    * `v` — NOT visible to any reader until [[commitGeneration]]
    * publishes the marker. Package-private so the crash-injection spec
    * can stop between the two steps. */
  private[graft] def writeGeneration(docs: DataFrame, indexPath: String,
                                     gen: Long, v: Long): Unit = {
    val perDoc = Dedup.shingleSigs(docs)
    Materialize.withCached(perDoc) {
      // the two artifacts are independent jobs over the cached signature
      // frame: submit them concurrently so the generation costs
      // max(shingles, bands), not their sum
      IndexStore.inParallel(
        () => perDoc.select(col("doc_id"), col("sh"))
          .write.mode("overwrite")
          .parquet(s"$indexPath/shingles/gen=$gen"),
        () => {
          val bands = Dedup.bandFrame(perDoc)
            .select(col("doc_id").as("right_id"), col("b"), col("k"))
          Dedup.capBucket(bands, "right_id")
            .repartition(col("b"))
            .sortWithinPartitions(col("k"), col("right_id"))
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(s"${bandsDir(indexPath, v)}/gen=$gen")
        })
      // withCached materializes its body's result: return a frame that
      // records what was written without re-reading it
      perDoc.sparkSession.range(0).toDF("done")
    }
    ()
  }

  /** Publish generation `gen` — the merge's atomic commit point. The
    * batch fingerprint rides inside the marker for retry detection. */
  private[graft] def commitGeneration(spark: SparkSession, indexPath: String,
                                      gen: Long,
                                      fingerprint: String = ""): Unit = {
    val (hfs, p) = IndexStore.fs(spark, indexPath)
    IndexStore.mark(hfs, p, s"g$gen", fingerprint)
  }

  /** Maintenance: rewrite the band table through the resident-cap
    * window, reclaiming rows that later [[merge]] generations
    * out-capped (each merge can leave up to cap stale rows per touched
    * bucket). One cap window + rewrite of the band table — shingles
    * are untouched (they are keyed by doc and never superseded).
    * Queries before and after compaction answer identically
    * ([[query]]'s re-cap is a no-op on a compacted index); the spec
    * asserts both that and the reclaimed row count.
    *
    * Crash-safe, write-new-then-retire: the folded rows land in a NEW
    * version tree `bands.v<V+1>` (under the newest committed
    * generation's id, so the committed-gen filter resolves them), the
    * new version is marked, and only then is the old tree retired — a
    * crash at any point leaves at least one committed version and
    * readers pick the newest. Also sweeps orphan generation dirs left
    * by crashed, never-retried merges. */
  def compact(spark: SparkSession, indexPath: String): Unit =
    IndexStore.withLock(spark, indexPath) {
      val (oldV, newV) = writeCompacted(spark, indexPath)
      publishCompacted(spark, indexPath, newV)
      retireCompacted(spark, indexPath, oldV)
    }

  /** Compact step 1: write the folded band table as version V+1,
    * unmarked (invisible). Returns (oldVersion, newVersion). */
  private[graft] def writeCompacted(spark: SparkSession,
                                    indexPath: String): (Long, Long) = {
    val gens = committedGens(spark, indexPath)
    require(gens.nonEmpty,
      s"no committed index under $indexPath — run build first")
    val v = bandVersion(spark, indexPath)
    // clear the whole target tree first: a compact that crashed here
    // after folding an OLDER generation set would leave a stale gen dir
    // that this retry's single-dir overwrite would not replace — and
    // publishing would then double-count every band row it holds
    val (hfs, p) = IndexStore.fs(spark, indexPath)
    IndexStore.deleteTree(hfs, new Path(bandsDir(indexPath, v + 1)))
    Dedup.capBucket(readBands(spark, indexPath, v, gens), "right_id")
      .repartition(col("b"))
      .sortWithinPartitions(col("k"), col("right_id"))
      .write.mode("overwrite")
      .partitionBy("b")
      .parquet(s"${bandsDir(indexPath, v + 1)}/gen=${gens.max}")
    (v, v + 1)
  }

  /** Compact step 2: mark the new version — the atomic switch point. */
  private[graft] def publishCompacted(spark: SparkSession, indexPath: String,
                                      newV: Long): Unit = {
    val (hfs, p) = IndexStore.fs(spark, indexPath)
    IndexStore.mark(hfs, p, s"bands.v$newV")
  }

  /** Compact step 3: retire superseded version trees and sweep shingle
    * orphans from crashed merges. The immediately-previous version is
    * KEPT as a grace copy — a reader that resolved it just before
    * [[publishCompacted]] can still finish its scan; it falls out at
    * the NEXT compact (bounded at two live versions, the same grace
    * discipline as table-format vacuum). Safe to crash mid-way:
    * everything deleted here is already unreachable. */
  private[graft] def retireCompacted(spark: SparkSession, indexPath: String,
                                     oldV: Long): Unit = {
    val (hfs, p) = IndexStore.fs(spark, indexPath)
    IndexStore.retireVersions(spark, indexPath, "bands.v", oldV)
    IndexStore.sweepOrphanGens(hfs, new Path(s"$indexPath/shingles"),
      committedGens(spark, indexPath).toSet)
  }

  /** Committed band rows of version `v`: partition pruning on the
    * committed-generation range (gen <= max, exact by the density invariant — see [[IndexStore.committedGens]]) keeps uncommitted (crashed) dirs out of
    * the scan entirely. */
  private def readBands(spark: SparkSession, indexPath: String, v: Long,
                        gens: Seq[Long]): DataFrame = {
    val dir = bandsDir(indexPath, v)
    spark.read.schema(BandSchema).option("basePath", dir).parquet(dir)
      .filter(col("gen") <= gens.max)
      .select(col("right_id"), col("b"), col("k"))
  }

  private def readShingles(spark: SparkSession, indexPath: String,
                           gens: Seq[Long]): DataFrame = {
    val dir = s"$indexPath/shingles"
    spark.read.schema(ShingleSchema).option("basePath", dir).parquet(dir)
      .filter(col("gen") <= gens.max)
      .select(col("doc_id"), col("sh"))
  }

  /** Physical gen= partitions in version `v`'s band table — see
    * [[IndexStore.physicalGens]] for why this is NOT
    * `committedGens.size`. */
  private def physicalGens(spark: SparkSession, indexPath: String,
                           v: Long): Int =
    IndexStore.physicalGens(spark, bandsDir(indexPath, v))

  /** Count of docs in the committed shingle table (one row per indexed
    * doc with ≥ 1 shingle — uncapped, unlike the band table) — the
    * post-merge readback [[Admission]] gates its merge step with. */
  private[graft] def shingleDocCount(spark: SparkSession,
                                     indexPath: String): Long =
    readShingles(spark, indexPath, committedGens(spark, indexPath))
      .select(countDistinct(col("doc_id"))).head().getLong(0)

  /** The index's current committed band table — spec helper. */
  private[graft] def bandTable(spark: SparkSession,
                               indexPath: String): DataFrame =
    readBands(spark, indexPath, bandVersion(spark, indexPath),
      committedGens(spark, indexPath))

  /** Near-dup pairs between `increment` (doc_id, text) and the indexed
    * corpus: row-identical to `Dedup.minhashJoin(increment, corpus)`.
    * The increment is assumed small relative to the corpus (the whole
    * point of the index) and is broadcast; candidate verification
    * reads only the candidate ids' shingle rows via a broadcast join
    * as well, so the corpus-side tables are never shuffled. */
  def query(spark: SparkSession, indexPath: String,
            increment: DataFrame): DataFrame = {
    val gens = committedGens(spark, indexPath)
    require(gens.nonEmpty,
      s"no committed index under $indexPath — run build first")
    val v = bandVersion(spark, indexPath)
    val perL = Dedup.shingleSigs(increment)
    Materialize.withCached(perL) {
      val bandsL = Dedup.bandFrame(perL)
        .select(col("doc_id").as("left_id"), col("b"), col("k"))
      val idx = readBands(spark, indexPath, v, gens)
      // candidate-local re-cap: after [[merge]]s a bucket may hold up
      // to cap residents per merged generation; the true residents of
      // the unioned corpus are the cap smallest of what is stored
      // (see merge's subset argument). The window runs over candidate
      // rows only — increment-bounded, never the corpus. A band table
      // with ONE physical generation — right after build or compact,
      // the common serving state — is already exactly capped at write,
      // so the re-cap window (and its broadcast round) is skipped and
      // the band join collapses to a single broadcast join.
      val cand = (if (physicalGens(spark, indexPath, v) <= 1)
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
      val shR = readShingles(spark, indexPath, gens)
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
    readBands(spark, indexPath, bandVersion(spark, indexPath),
        committedGens(spark, indexPath))
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
    * near-dups of already-landed docs are rejected, everything else is
    * [[merge]]d in. Returns the admitted rows, MATERIALIZED before the
    * merge so their computation can never observe the very generation
    * it is about to write (the admission decision is frozen against the
    * pre-merge index state). Within-batch duplicates are deliberately
    * NOT checked here — that is [[Dedup.minhashPairs]]' job on the
    * batch before it reaches the gate. */
  def admit(batch: DataFrame, indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val dup = query(spark, indexPath, batch)
      .select(col("left_id")).distinct()
    val admitted = Materialize(
      batch.join(dup, batch("doc_id") === dup("left_id"), "left_anti"))
    merge(admitted, indexPath)
    admitted
  }

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
