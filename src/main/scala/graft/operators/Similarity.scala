package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Four variants — brute-force, IVF, SRP-LSH, and product quantization
  * ([[pqTopK]], with its persisted lifecycle in
  * [[graft.operators.PqIndex]]) — plus deterministic k-means and
  * SemDeDup. All share the typed dot-product kernel in [[VectorOps]]
  * and the same two-level top-k plan:
  *
  *  1. score candidates in a typed per-partition pass that keeps only a
  *     bounded k-entry heap per query (so each partition emits ≤ K rows
  *     per query — the exchange feeding the final ranking carries
  *     O(partitions × queries × K) rows, never O(corpus × queries));
  *  2. a final `row_number` window over that tiny pre-reduced set picks
  *     the global top-k per query.
  *
  *  - [[bruteForceTopK]]: exact — every corpus partition scores the
  *    whole (broadcast) query block. The query block is REQUIRED to be
  *    bounded ([[MaxQueryBlock]]); ANN with an unbounded query side is
  *    a different operator (use a similarity *join*, i.e.
  *    [[Dedup.embeddingNearDup]]'s tiled block plan).
  *  - [[ivfTopK]]: IVF — per-label centroids from one typed partial
  *    aggregation (no row explosion), queries probe their `NProbe`
  *    nearest cells, search restricted to probed cells via a broadcast
  *    join; the corpus is never shuffled.
  *  - [[lshTopK]]: SRP-LSH — 8 sign-random-projection bits bucket the
  *    corpus in one shuffle-free signature pass; queries multi-probe
  *    their bucket plus the 8 hamming-1 neighbors; the candidate join
  *    shuffles on the bucket id only.
  *
  * Scores are rounded to 4 decimals BEFORE ranking on both engines so
  * float-accumulation-order differences can never flip the ranking vs
  * the oracle; ties break on vec_id.
  */
object Similarity {

  val K = 5
  val QueryStride = 50 // vec_id % 50 == 0 → deterministic query set
  val NProbe = 2
  val Dims = Tables.EmbeddingDims // guarded at read: Tables.embeddings
  val LshPlanes = 8 // sign-random-projection bits → 256 buckets

  /** Hard cap on the broadcast query block of [[bruteForceTopK]]: the
    * per-partition state is O(queries × K) and every partition scores
    * every query, so the operator is only correct-by-design for a
    * bounded query set. */
  val MaxQueryBlock = 100000

  /** Deterministic "random" hyperplanes: u[p][d] derives from
    * md5("rp:p:d") → uniform in [-1, 1). Exactly reproducible in SQL
    * (32-bit hash / 2³² is dyadic → bit-identical doubles). */
  lazy val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(LshPlanes, Dims) { (p, d) =>
      val digest = md.digest(s"rp:$p:${d + 1}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 4) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
      h.toDouble / 4294967296.0 * 2 - 1
    }
  }

  /** SRP bucket of a RAW vector: bit p set when dot(v, planes(p)) > 0
    * — the shared kernel between [[lshTopK]] and
    * [[graft.streaming.StreamingSemantic]] (sign is normalization-
    * invariant, so raw-vs-normalized input cannot diverge). */
  def srpBucket(v: Array[Double]): Int = {
    val pl = planes
    var bucket = 0
    var p = 0
    while (p < LshPlanes) {
      if (VectorOps.dot(v, pl(p)) > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** L2-normalized corpus in a typed pass. */
  private[operators] def normalized(spark: SparkSession, dir: String)
      : Dataset[(Long, Array[Double])] = {
    import spark.implicits._
    normalizedFrom(corpus(spark, dir))
  }

  /** L2-normalize an arbitrary (vec_id, v double[]) frame — the
    * frame-based twin of [[normalized]] for index builds over a SUBSET
    * of the corpus (e.g. [[PqIndex.build]] on the landed split). */
  private[operators] def normalizedFrom(vecs: DataFrame)
      : Dataset[(Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id"), col("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, VectorOps.l2Normalize(v)) }
  }

  /** Global top-k per query over the (pre-reduced) scored rows. The
    * window input is ≤ partitions × queries × K rows by construction. */
  private def topKWindow(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** Exact cosine top-k per query (brute force baseline): normalize
    * once, broadcast the bounded query block, stream the corpus once
    * through the typed kernel keeping a K-entry heap per query — each
    * partition emits at most K rows per query.
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     maxQueries: Int = MaxQueryBlock): DataFrame =
    if (maxQueries == MaxQueryBlock)
      // memoized per (session, dir) at the default cap: the recall
      // matrix and sim_brute_topk consume the same exact top-k, and
      // the corpus stream is the dominant cost (lineage-free frame)
      bruteMemo(spark, dir)(
        Materialize(bruteForceTopKUncached(spark, dir, maxQueries)))
    else bruteForceTopKUncached(spark, dir, maxQueries)

  private val bruteMemo = new MemoStats.Table[String, DataFrame]

  private def bruteForceTopKUncached(spark: SparkSession, dir: String,
                                     maxQueries: Int): DataFrame = {
    import spark.implicits._
    val normed = normalized(spark, dir)
    // limit BEFORE collect: the cap must bound driver memory
    val qRows = normed.filter(_._1 % QueryStride == 0)
      .limit(maxQueries + 1).collect().sortBy(_._1)
    require(qRows.length <= maxQueries,
      s"brute-force query block exceeds the cap ($maxQueries);" +
        " an unbounded query side needs the tiled similarity join instead")
    val qBlock = spark.sparkContext.broadcast(qRows)
    val k = K
    val scored = normed.mapPartitions { it =>
      val qs = qBlock.value
      val heaps = Array.fill(qs.length)(new VectorOps.TopK(k))
      it.foreach { case (id, nv) =>
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          if (q._1 != id)
            heaps(qi).insert(VectorOps.roundAt(VectorOps.dot(q._2, nv), 4), id)
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.drain().map { case (sim, nId) => (qs(qi)._1, nId, sim) }
      }
    }.toDF("q_id", "n_id", "sim")
    topKWindow(scored)
  }

  /** Per-partition heap pre-reduction for scored candidate streams
    * keyed by (q_id, qnv, n_id, nv): emits ≤ K rows per query per
    * partition. Shared by the LSH and IVF paths. */
  private def heapReduce(
      cand: Dataset[(Long, Array[Double], Long, Array[Double])],
      score: (Array[Double], Array[Double]) => Double)
      : Dataset[(Long, Long, Double)] = {
    import cand.sparkSession.implicits._
    val k = K
    cand.mapPartitions { it =>
      val heaps = mutable.LinkedHashMap.empty[Long, VectorOps.TopK]
      it.foreach { case (qId, qv, nId, nv) =>
        heaps.getOrElseUpdate(qId, new VectorOps.TopK(k))
          .insert(VectorOps.roundAt(score(qv, nv), 4), nId)
      }
      heaps.iterator.flatMap { case (qId, h) =>
        h.drain().map { case (sim, nId) => (qId, nId, sim) }
      }
    }
  }

  /** SRP-LSH top-k: 8 sign-random-projection bits bucket the corpus
    * (one shuffle-free signature pass); each query multi-probes its own
    * bucket plus the 8 hamming-1 neighbors, candidates score through the
    * typed kernel with per-partition heap pre-reduction. The scale path
    * for ANN: the candidate join shuffles on the bucket id — corpus
    * vectors never pair beyond shared buckets.
    */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sigs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        (id, srpBucket(v), VectorOps.l2Normalize(v))
      }
      .toDF("vec_id", "bucket", "nv")
    val probes = sigs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"),
        explode(array((lit(0) +: (0 until LshPlanes).map(p => lit(1 << p))): _*))
          .as("flip"),
        col("bucket"))
      .select(col("q_id"), col("qnv"),
        (col("bucket").bitwiseXOR(col("flip"))).as("key"))
    val cand = sigs.join(probes,
        col("bucket") === col("key") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qnv"), col("vec_id").as("n_id"), col("nv"))
      .as[(Long, Array[Double], Long, Array[Double])]
    val scored = heapReduce(cand, VectorOps.dot).toDF("q_id", "n_id", "sim")
    topKWindow(scored)
  }

  /** IVF top-k: centroid per `label` cell (elementwise mean) via ONE
    * typed partial aggregation — no row explosion, the exchange carries
    * one partial sum per (partition, label) and the driver receives one
    * row per cell. Probe selection (each query's NProbe nearest cells
    * by squared L2, rounded to 6 before ranking) runs ON THE DRIVER
    * over the two bounded blocks — queries × cells is tiny, and pushing
    * it into jobs previously cost two extra broadcast rounds. The
    * search is then a single narrow corpus pass: each partition scores
    * its vectors against the (broadcast) queries probing that vector's
    * cell, keeping a K-entry heap per query. Three jobs total; the
    * corpus is never shuffled. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val typed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Long, Array[Double])]
    // job 1: per-cell centroids (|labels| rows — geometry-bounded)
    val cents = typed.groupByKey(_._2).mapValues(_._3)
      .agg(new VectorOps.VecMean(Dims).toColumn.name("cv"))
      .collect().sortBy(_._1)
    // job 2: the bounded query block — limit BEFORE collect so the cap
    // bounds driver memory, not just reports the overflow afterwards
    val qRows = typed.filter(_._1 % QueryStride == 0)
      .map { case (id, _, v) => (id, v) }
      .limit(MaxQueryBlock + 1).collect().sortBy(_._1)
    require(qRows.length <= MaxQueryBlock,
      s"IVF query block exceeds the cap ($MaxQueryBlock)")
    // driver probe selection, same ordering the window form produced:
    // ascending (round6(d2), label), first NProbe cells per query —
    // then inverted to cell → probing queries for the scan pass
    val probed: Map[Long, Array[Int]] = qRows.zipWithIndex
      .flatMap { case ((_, qv), qi) =>
        cents.map { case (l, cv) =>
          (VectorOps.roundAt(VectorOps.dist2(qv, cv), 6), l)
        }.sorted.take(NProbe).map { case (_, l) => (l, qi) }
      }
      .groupBy(_._1)
      .map { case (l, hits) => l -> hits.map(_._2).sorted }
    val bc = spark.sparkContext.broadcast((qRows, probed))
    val k = K
    // job 3: one narrow pass — vectors meet only the queries probing
    // their cell; per-partition state = queries × K heap entries
    val scored = typed.mapPartitions { it =>
      val (qs, pm) = bc.value
      val heaps = mutable.LinkedHashMap.empty[Int, VectorOps.TopK]
      it.foreach { case (id, label, v) =>
        val qis = pm.getOrElse(label, Array.empty[Int])
        var i = 0
        while (i < qis.length) {
          val (qId, qv) = qs(qis(i))
          if (qId != id)
            heaps.getOrElseUpdate(qis(i), new VectorOps.TopK(k))
              .insert(VectorOps.roundAt(VectorOps.cosineRaw(qv, v), 4), id)
          i += 1
        }
      }
      heaps.iterator.flatMap { case (qi, h) =>
        h.drain().map { case (sim, nId) => (qs(qi)._1, nId, sim) }
      }
    }.toDF("q_id", "n_id", "sim")
    topKWindow(scored)
  }

  // --- Product quantization ---------------------------------------------

  /** PQ geometry: [[Dims]] = PqM × PqSubDim; PqK = 16 centroids per
    * subspace → a 4-bit code per subspace, the whole vector in one
    * packed BIGINT ([[PqM]] × 4 = 64 bits) — 32× smaller than the
    * float64 vector, the compression that keeps a 100 TB embedding
    * corpus searchable in memory. Codebooks train with the same
    * deterministic Lloyd mechanics as [[kmeans]] (lowest-id init,
    * round-6 distances and centroids). Measured on the synthetic
    * corpus (uniform vectors — PQ's worst case; real embeddings
    * cluster): recall@5 vs exact = 0.87 at sf0.1 with the
    * [[PqRerank]]-deep exact re-rank. */
  val PqM = 16
  val PqSubDim = 4
  val PqK = 16
  val PqIters = 2
  /** Bits per subspace code in the packed BIGINT (log₂ PqK) — shared
    * by the index writer and the native encode expression. */
  val PqCodeBits = 4

  /** ADC candidates re-ranked exactly per query. */
  val PqRerank = 100

  private[graft] def pqArgmin(cents: Array[Array[Double]],
                              sv: Array[Double]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = VectorOps.roundAt(VectorOps.dist2(sv, cents(c)), 6)
      if (d < bd) { bd = d; best = c } // strict < : ties keep lowest cid
      c += 1
    }
    best
  }

  /** Train the per-subspace codebooks over the NORMALIZED corpus (so
    * ADC squared-L2 ranks like cosine: d² = 2−2cos on unit vectors).
    * One Lloyd problem over (m, subvector) rows — assignment is a
    * narrow typed pass with all PqM×PqK centroids in the closure,
    * recentering one partial-aggregating [[VectorOps.VecMean]] shuffle
    * of ≤ PqM×PqK rows. Driver state = the PqM×PqK×PqSubDim block
    * (4 KB). Memoized per (session, dir). */
  private[operators] def pqCodebooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    pqMemo(spark, dir)(pqCodebooksFrom(normalized(spark, dir)))

  /** The training loop itself, over an arbitrary NORMALIZED frame —
    * lets [[PqIndex.build]] train on the landed split only, with the
    * same deterministic mechanics as the whole-corpus memoized path. */
  private[operators] def pqCodebooksFrom(
      input: Dataset[(Long, Array[Double])]): Array[Array[Array[Double]]] = {
    val spark = input.sparkSession
    import spark.implicits._
    {
      val m0 = PqM
      val sd = PqSubDim
      // init + every Lloyd round reads this frame: persist for the
      // training loop's duration (same device as kmeansTrain) instead
      // of re-scanning and re-normalizing the corpus per round. Only
      // unpersist a cache THIS call created: PqIndex.build pre-caches
      // the frame to share it with the gen-0 encode that follows
      // training — evicting the caller's cache here would silently
      // force that encode to re-scan and re-normalize the whole corpus
      val preCached =
        input.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      val normed =
        if (preCached) input
        else input.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val svs = normed.flatMap { case (_, v) =>
          (0 until m0).iterator.map(m => (m, v.slice(m * sd, (m + 1) * sd)))
        }
        val init = normed.orderBy(col("_1")).limit(PqK).collect()
          .sortBy(_._1).map(_._2)
        var cents: Array[Array[Array[Double]]] =
          Array.tabulate(m0)(m => init.map(v => v.slice(m * sd, (m + 1) * sd)))
        for (_ <- 0 until PqIters) {
          val cs = cents
          val means = svs
            .map { case (m, sv) => ((m * PqK + pqArgmin(cs(m), sv)).toLong, sv) }
            .groupByKey(_._1).mapValues(_._2)
            .agg(new VectorOps.VecMean(sd).toColumn.name("cv"))
            .collect().toMap
          cents = Array.tabulate(m0, cs(0).length) { (m, c) =>
            means.get((m * PqK + c).toLong)
              .map(_.map(VectorOps.roundAt(_, 6)))
              .getOrElse(cs(m)(c)) // empty cell keeps its centroid
          }
        }
        cents
      } finally if (!preCached) normed.unpersist(blocking = false)
    }
  }

  private val pqMemo = new MemoStats.Table[String, Array[Array[Array[Double]]]]

  /** PQ-compressed ANN top-k — the production shape for embedding
    * corpora that outgrow float storage: per-subspace codebooks
    * quantize each vector to a packed 64-bit code; queries build a
    * PqM×PqK table of subspace distances once (asymmetric distance
    * computation) and score every corpus vector with PqM table lookups
    * — no floating-point per-vector math in the scan. The top
    * [[PqRerank]] ADC candidates per query are re-ranked with the
    * exact cosine (the standard recall-restoring step), then top-[[K]].
    *
    * Determinism: ADC terms quantize to integer micro-units
    * (floor(d²·10⁶) — BIGINT sums are order-independent), candidate and
    * final ranks tie-break on vec_id, exact sims round to 4 before
    * ranking. The DuckDB oracle replays codebook training, encoding,
    * ADC and the re-rank bit-for-bit.
    *
    * Scale: the corpus pass is narrow (codebooks + query tables ride
    * the closure, per-partition state = queries × PqRerank heap
    * entries); the candidate set (≤ queries × PqRerank ids) broadcasts
    * back for one exact-re-rank join; nothing else shuffles.
    */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = pqCodebooks(spark, dir)
    val normed = normalized(spark, dir)
    // limit BEFORE collect: the cap must bound driver memory
    val qRows = normed.filter(_._1 % QueryStride == 0)
      .limit(MaxQueryBlock + 1).collect().sortBy(_._1)
    require(qRows.length <= MaxQueryBlock,
      s"PQ query block exceeds the cap ($MaxQueryBlock)")
    val m0 = PqM
    val sd = PqSubDim
    // ADC tables: adcT(qi)(m)(cid) = floor(d²(q_sub, centroid)·10⁶)
    val adcT: Array[Array[Array[Long]]] = qRows.map { case (_, qv) =>
      Array.tabulate(m0, cents(0).length) { (m, c) =>
        math.floor(VectorOps.dist2(
          qv.slice(m * sd, (m + 1) * sd), cents(m)(c)) * 1e6).toLong
      }
    }
    val bc = spark.sparkContext.broadcast((qRows.map(_._1), adcT, cents))
    val r = PqRerank
    // one narrow corpus pass: encode (PqM argmins) + ADC per query via
    // table lookups, bounded per-partition heaps of (−adc, id)
    val cand = normed.mapPartitions { it =>
      val (qIds, t, cs) = bc.value
      val heaps = Array.fill(qIds.length)(new VectorOps.TopK(r))
      val code = new Array[Int](m0)
      it.foreach { case (id, nv) =>
        var m = 0
        while (m < m0) {
          code(m) = pqArgmin(cs(m), nv.slice(m * sd, (m + 1) * sd))
          m += 1
        }
        var qi = 0
        while (qi < qIds.length) {
          if (qIds(qi) != id) {
            var adc = 0L
            var j = 0
            while (j < m0) { adc += t(qi)(j)(code(j)); j += 1 }
            heaps(qi).insert(-adc.toDouble, id)
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.drain().map { case (negAdc, nId) => (qIds(qi), nId, -negAdc.toLong) }
      }
    }.toDF("q_id", "n_id", "adc")
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("n_id"))
    val topCand = cand.withColumn("pr", row_number().over(wCand))
      .filter(col("pr") <= r).select(col("q_id"), col("n_id"))
    // exact re-rank: ≤ queries × PqRerank ids broadcast back onto the corpus
    val qMap = spark.sparkContext.broadcast(qRows.toMap)
    val rer = normed.toDF("vec_id", "nv")
      .join(broadcast(topCand), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (qId, nId, nv) =>
        (qId, nId, VectorOps.roundAt(VectorOps.dot(qMap.value(qId), nv), 4))
      }
      .toDF("q_id", "n_id", "sim")
    topKWindow(rer)
  }

  /** Lloyd k-means geometry: [[KmeansK]] clusters (floor — see
    * [[kFor]]), [[KmeansIters]] full assign→recenter rounds.
    * Determinism pins every cross-engine
    * hazard: init = the K lowest-id vectors (no RNG), distances rounded
    * to 6 decimals BEFORE the argmin (ties then break on cluster id),
    * and recomputed centroids rounded to 6 decimals per dimension —
    * so the oracle's different summation order can never flip an
    * assignment.
    */
  val KmeansK = 8
  val KmeansIters = 2

  /** Expected-cluster-size bound: the trained cluster count is
    * K = max([[KmeansK]], ⌈n / KmeansClusterTarget⌉), so K grows with
    * the corpus and within-cluster work (SemDeDup's all-pairs) stays
    * O(n · target) instead of O(n²/K_fixed) — the published SemDeDup
    * scaling (K ∝ n). At the oracle scale factors (≤ 2000 vectors)
    * kFor(n) = [[KmeansK]], so the replayed DuckDB oracle is
    * unaffected. */
  val KmeansClusterTarget = 256L

  private[operators] def kFor(n: Long): Int =
    math.max(KmeansK.toLong,
      (n + KmeansClusterTarget - 1) / KmeansClusterTarget).toInt

  /** One assignment pass: each vector to its nearest centroid (typed
    * kernel, centroids ride the closure — O(K·dims) per task). The
    * vector rides along so consumers never join back to the corpus. */
  private def assignPass(e: Dataset[(Long, Array[Double])],
                         cents: Array[Array[Double]])
      : Dataset[(Long, Int, Array[Double])] = {
    import e.sparkSession.implicits._
    e.map { case (id, v) =>
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val d = VectorOps.roundAt(VectorOps.dist2(v, cents(c)), 6)
        if (d < bd) { bd = d; best = c } // strict < : ties keep lowest cid
        c += 1
      }
      (id, best, v)
    }
  }

  /** Deterministic distributed k-means over the embedding corpus.
    * Driver state is the K×dims centroid block and nothing else — the
    * classic Lloyd structure every distributed ML library uses (Spark
    * MLlib included): assignment is a narrow typed pass with the
    * centroids in the closure, recentering is one partial-aggregating
    * [[VectorOps.VecMean]] shuffle of K rows. Scale: corpus is read
    * `iters + 1` times, never collected; K and dims bound the driver.
    * Emits (vec_id, cluster, n_cluster).
    */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignedWithV(spark, dir)
      .select(col("vec_id"), col("cluster"))
      .withColumn("n_cluster",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .orderBy("vec_id")

  /** Final k-means assignment WITH the vector attached — the frame
    * [[semanticDedup]] builds its pair join from (no corpus re-join).
    * Reads the memo's PERSISTED corpus, so the final assignment and
    * every later consumer (`sim_kmeans` after `dedup_semantic`, SQL
    * calls) skip the parquet scan+decode the training already paid. */
  private def kmeansAssignedWithV(spark: SparkSession, dir: String)
      : DataFrame = {
    val (cents, e) = trainedModel(spark, dir)
    assignPass(e, cents).toDF("vec_id", "cluster", "v")
  }

  /** The Lloyd training loop, memoized per (session, corpus dir): the
    * K×dims centroid block is the model, kept together with the
    * persisted typed corpus it was trained on. `sim_kmeans` and
    * `semanticDedup` (and any SQL consumer) share one training run per
    * session instead of re-collecting the iteration means each — and
    * share the cached corpus instead of re-decoding the parquet. The
    * cache lives as long as the memo entry (dropping it unpersists);
    * it is the corpus' embedding block, the working set any
    * ANN/clustering service pins anyway. */
  private def trainedModel(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Dataset[(Long, Array[Double])]) =
    centsMemo(spark, dir)({
      import spark.implicits._
      val e = corpus(spark, dir).select(col("vec_id"), col("v"))
        .as[(Long, Array[Double])]
        // training reads the corpus iters+1 times (init + one
        // assignment per round), then the final assignment and every
        // downstream consumer read it again — persist for the memo's
        // lifetime
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = Tables.rowCount(spark, dir, "embeddings")
      val k = kFor(n)
      val cents =
        if (n * Dims <= DriverKmeansMaxCells) trainDriverSide(e, k)
        else trainDistributed(e, k)
      (cents, e)
    })

  /** Embedding-block size (rows × dims) under which Lloyd trains
    * driver-side on ONE collected copy — the adaptive driver/
    * distributed split this engine already applies to BPE training and
    * cluster union-find. 2²² doubles = 32 MB: far below driver heap,
    * far above every test SF; a 100 TB corpus takes the distributed
    * branch. Training is iters+2 tiny Spark jobs either way the
    * distributed route — on a small block the job-scheduling floors
    * cost 5× the arithmetic, so the driver loop replaces them with one
    * collect. Both branches share the same centroid math
    * ([[VectorOps.dist2]] rounded at 6, strict-< ties, exact quantized-
    * long sums through the shared [[VectorOps.qMean]], empty clusters
    * keep their centroid), so the trained model — and every
    * oracle-checked consumer — is STRICTLY branch-invariant: integer
    * sums make the result independent of summation order, the one
    * degree of freedom double sums would leave the distributed merge
    * tree. */
  val DriverKmeansMaxCells: Long = 1L << 22

  private[graft] def trainDriverSide(e: Dataset[(Long, Array[Double])], k: Int)
      : Array[Array[Double]] = {
    // one job: materializes the memo's cache AND hands training its
    // working copy. Sums accumulate as quantized longs (exact, order-
    // independent) so this branch is bit-identical to trainDistributed
    // by construction, not by rounding luck — see CentroidQuantScale.
    val vs = e.collect().sortBy(_._1)
    var cents: Array[Array[Double]] = vs.take(k).map(_._2)
    for (_ <- 0 until KmeansIters) {
      val sums = Array.fill(cents.length)(new Array[Long](Dims))
      val cnts = new Array[Long](cents.length)
      vs.foreach { case (_, v) =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = VectorOps.roundAt(VectorOps.dist2(v, cents(c)), 6)
          if (d < bd) { bd = d; best = c } // strict < : ties keep lowest
          c += 1
        }
        var i = 0
        while (i < Dims) { sums(best)(i) += VectorOps.quantize(v(i)); i += 1 }
        cnts(best) += 1
      }
      cents = cents.indices.toArray.map { cid =>
        if (cnts(cid) == 0) cents(cid) // empty cluster keeps its centroid
        else Array.tabulate(Dims)(i => VectorOps.qMean(sums(cid)(i), cnts(cid)))
      }
    }
    cents
  }

  private[graft] def trainDistributed(e: Dataset[(Long, Array[Double])], k: Int)
      : Array[Array[Double]] = {
    import e.sparkSession.implicits._
    var cents: Array[Array[Double]] =
      e.orderBy(col("vec_id")).limit(k).collect().map(_._2)
    for (_ <- 0 until KmeansIters) {
      // VecMeanQ: exact integer partials, so the merge-tree shape
      // (partition order, AQE) cannot perturb the centroid — the
      // branch-invariance contract with trainDriverSide is strict
      val means = assignPass(e, cents)
        .groupByKey(_._2.toLong).mapValues(_._3)
        .agg(new VectorOps.VecMeanQ(Dims).toColumn.name("cv"))
        .collect().toMap
      cents = cents.indices.toArray.map { cid =>
        means.getOrElse(cid.toLong, cents(cid)) // empty keeps its centroid
      }
    }
    cents
  }

  /** Trained centroids with their cached corpus, released on drop. */
  private val centsMemo =
    new MemoStats.Table[String, (Array[Array[Double]], Dataset[(Long, Array[Double])])](
      release = _._2.unpersist(blocking = false))

  /** Pair cap per cluster for [[semanticDedup]]: a cluster that stays
    * degenerate despite K ∝ n (every vector identical, say) falls back
    * to a spanning star — cluster-min vs the rest — instead of the
    * clique, the same hot-key device as [[Dedup]]'s LSH buckets. Cold
    * clusters are ≤ cap members, so per-task buffers are ≤ cap rows and
    * per-task pair work ≤ cap²/2 no matter how skewed the space. */
  val SemPairCap = 1024

  /** SemDeDup (semantic dedup; Abbas et al. 2023 shape): k-means
    * partitions the embedding space, then near-duplicate pruning runs
    * ONLY inside each cluster — pairwise work drops from O(n²) to
    * O(n · [[KmeansClusterTarget]]) because K grows with the corpus
    * ([[kFor]]) and [[SemPairCap]] star-caps any cluster k-means left
    * degenerate. A document is pruned when a lower-id vector in its
    * cluster has cosine ≥ [[Dedup.EmbeddingCosThreshold]]; emits each
    * pruned doc with its keeper (lowest such id) and the strongest
    * similarity that condemned it. Shuffles on the cluster id only;
    * cold-cluster pairs are generated inside a bounded typed kernel
    * (the DataFrame self-join form shuffled every candidate pair with
    * BOTH vectors attached — ~1 KB per pair of exchange the kernel
    * never pays).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticPrune(kmeansAssignedWithV(spark, dir))

  /** [[semanticDedup]] over a precomputed (vec_id, cluster, v)
    * assignment frame — split out so adversarial specs can drive the
    * cold/star paths with synthetic clusters. */
  private[graft] def semanticPrune(withV: DataFrame): DataFrame = {
    import withV.sparkSession.implicits._
    val thr = Dedup.EmbeddingCosThreshold
    val cap = SemPairCap
    // ONE exchange for the whole pairing: repartition on the cluster id
    // and sort each partition by (cluster, vec_id) so every cluster
    // arrives as one id-ascending run — its minimum is the FIRST member,
    // which is what makes the star fallback streamable. The kernel
    // buffers at most cap members: a run that ends within the buffer
    // is a cold cluster (exact all-pairs over the sorted buffer); the
    // moment member cap+1 appears the cluster is hot and the kernel
    // switches to star pairs (first member vs the rest), draining the
    // remainder with O(1) state. A doc whose only near-dup is a non-min
    // member of a degenerate cluster is missed — the bounded-work trade
    // every hot-key cap in this engine makes (and the oracle replays).
    val pairs = withV.select(col("vec_id"), col("cluster"), col("v"))
      .as[(Long, Int, Array[Double])]
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col("vec_id"))
      .mapPartitions { it =>
        val out = mutable.ArrayBuffer.empty[(Int, Long, Long, Double)]
        val buf = mutable.ArrayBuffer.empty[(Long, Array[Double])]
        var cur = Int.MinValue
        var hot = false
        def sim(a: Array[Double], b: Array[Double]): Double =
          VectorOps.roundAt(VectorOps.cosineRaw(a, b), 4)
        def flushCold(): Unit = {
          var i = 0
          while (i < buf.length) {
            var j = i + 1
            while (j < buf.length) {
              val s = sim(buf(i)._2, buf(j)._2)
              if (s >= thr) out += ((cur, buf(i)._1, buf(j)._1, s))
              j += 1
            }
            i += 1
          }
        }
        it.foreach { case (id, c, v) =>
          if (c != cur) {
            if (!hot) flushCold()
            buf.clear(); cur = c; hot = false
          }
          if (hot) {
            val s = sim(buf(0)._2, v)
            if (s >= thr) out += ((cur, buf(0)._1, id, s))
          } else if (buf.length >= cap) {
            // member cap+1: the cluster exceeds the cap and is hot —
            // emit star pairs for the buffered satellites, keep only
            // the minimum
            hot = true
            val m0 = buf(0)
            var i = 1
            while (i < buf.length) {
              val s = sim(m0._2, buf(i)._2)
              if (s >= thr) out += ((cur, m0._1, buf(i)._1, s))
              i += 1
            }
            val s = sim(m0._2, v)
            if (s >= thr) out += ((cur, m0._1, id, s))
            buf.dropRightInPlace(buf.length - 1)
          } else buf += ((id, v))
        }
        if (!hot) flushCold()
        out.iterator
      }
    pairs.toDF("cluster", "a_id", "b_id", "sim")
      .groupBy(col("b_id").as("vec_id"))
      .agg(min(col("cluster")).as("cluster"), // constant per vec — min is
        min(col("a_id")).as("keeper"),        // engine-order-independent
        max(col("sim")).as("max_sim"))
      .orderBy("vec_id")
  }

  /** `sim_recall_matrix`: measured recall@K of every ANN family
    * against the exact top-k on the same corpus — the accounting row
    * that turns the families' "recall provably ≤ ..." analysis into a
    * regression-guarded number (the oracle recomputes each family's
    * top-k relationally and takes the same overlap). One row per
    * family: (family, n_queries, n_hits, recall), where recall =
    * |family ∩ brute| / |brute| over the (q_id, n_id) pairs. */
  def recallMatrix(spark: SparkSession, dir: String): DataFrame = {
    val brute = bruteForceTopK(spark, dir).select(col("q_id"), col("n_id"))
    val bruteM = Materialize(brute) // consumed by 1 join + 1 aggregate
    val fams = Seq(
      "lsh" -> lshTopK(spark, dir),
      "ivf" -> ivfTopK(spark, dir),
      "pq" -> pqTopK(spark, dir),
      "ivfpq" -> IvfPq.topK(spark, dir),
      "hnsw" -> HnswIndex.topK(spark, dir),
      "hnsw_routed" -> HnswRouted.topK(spark, dir),
      // the SERVING shape after the incremental lifecycle (frozen
      // centroids + per-cell merge), not the build-time shape — the
      // row that regression-guards drift-driven recall decay
      "hnsw_routed_merged" -> HnswRouted.lifecycle(spark, dir))
    val all = fams.map { case (f, df) =>
      df.select(col("q_id"), col("n_id")).withColumn("family", lit(f))
    }.reduce(_ unionByName _)
    val tot = bruteM.agg(count(lit(1)).as("n_true"),
      countDistinct(col("q_id")).as("n_queries"))
    all.join(bruteM, Seq("q_id", "n_id"))
      .groupBy("family").agg(count(lit(1)).as("n_hits"))
      .crossJoin(tot)
      .select(col("family"), col("n_queries"), col("n_hits"),
        round(col("n_hits") * lit(1.0) / col("n_true"), 4).as("recall"))
      .orderBy("family")
  }
}
