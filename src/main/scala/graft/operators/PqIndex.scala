package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent PQ index — the production lifecycle of
  * [[Similarity.pqTopK]]: train codebooks and encode once, write to
  * storage, query many times scanning ONLY the packed codes, and admit
  * new corpus batches incrementally by encoding them against the
  * STORED codebooks (the standard PQ maintenance discipline: codebooks
  * are frozen at train time, increments reuse them — retraining is a
  * [[build]], not a merge).
  *
  * A [[GenerationStore]] (build/merge/vacuum and crash contract in
  * [[IndexStore]]) whose frozen model is the codebook table and whose
  * one artifact is append-only — codes are per-vector and never
  * superseded, so there is nothing to fold:
  * {{{
  *   codebooks.v1.parquet  (m, cid, cv) — PqM×PqK rows, a few KB; every
  *                 code in the index decodes against this one version.
  *   codes/gen=<G>/        (vec_id, code) — ONE BIGINT per vector, one
  *                 generation dir per committed batch.
  *   _commits/basecount    rows the codebooks were trained on, the
  *                 denominator of [[driftFraction]].
  * }}}
  *
  * The at-scale property this buys over the in-memory operator: the
  * per-query-batch scan reads 8 bytes per corpus vector (the packed
  * code) instead of the 512-byte float64 vector — a 100 TB embedding
  * corpus becomes a ~1.6 TB code table that a modest cluster scans
  * from memory. Raw vectors are touched only for the ≤ queries ×
  * PqRerank re-rank candidates (at scale, keep the raw table sorted by
  * vec_id so the candidate-id predicate prunes row groups).
  *
  * Determinism: codebooks round-trip parquet exactly (binary doubles),
  * encoding/ADC/re-rank reuse [[Similarity.pqTopK]]'s integer-exact
  * arithmetic — query results are bit-identical to the in-memory
  * operator over the same data (asserted in the spec), and the
  * build→merge→query lifecycle is hash-gated as `sim_pq_lifecycle`.
  */
object PqIndex extends GenerationStore("codes.v", "PQ codes", ("vec_id", "v")) {

  /** Bits per subspace code (log₂ PqK) — single source of truth on
    * [[Similarity.PqCodeBits]], shared with the native encode
    * expression. */
  private val CodeBits = Similarity.PqCodeBits

  private val Codes = new Artifact("codes", StructType(Seq(
      StructField("vec_id", LongType), StructField("code", LongType),
      StructField("gen", LongType))),
    derive = identity, fold = None)

  protected def artifacts: Seq[Artifact] = Seq(Codes)
  override protected val model: Option[Model] = Some(new Model("codebooks",
    vecs => Seq("codebooks" -> codebookTable(vecs.sparkSession,
      Similarity.pqCodebooksFrom(Similarity.normalizedFrom(vecs)))),
    countsBase = true))
  /** Encode a (vec_id, v) batch against the stored codebooks. */
  protected def prepare(vecs: DataFrame, snap: Snapshot): DataFrame =
    encode(Similarity.normalizedFrom(vecs), codebooks(snap))

  /** Trained codebooks cents(m)(cid) as table rows (m, cid, cv). */
  private def codebookTable(spark: SparkSession,
                            cents: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (cv, cid) => (m, cid, cv) }
    }.toSeq.toDF("m", "cid", "cv")
  }

  /** Codebooks back from storage: cents(m)(cid). */
  private def codebooks(snap: Snapshot): Array[Array[Array[Double]]] = {
    val df = snap.model("codebooks")
    val spark = df.sparkSession
    import spark.implicits._
    val cbRows = df.as[(Int, Int, Array[Double])].collect()
    val nCents = cbRows.map(_._2).max + 1
    val cents = Array.ofDim[Array[Double]](Similarity.PqM, nCents)
    cbRows.foreach { case (m, cid, cv) => cents(m)(cid) = cv }
    cents
  }

  /** Pack each normalized vector's per-subspace argmin into one code. */
  private def encode(normed: Dataset[(Long, Array[Double])],
                     cents: Array[Array[Array[Double]]]): DataFrame = {
    val spark = normed.sparkSession
    import spark.implicits._
    val m0 = Similarity.PqM
    val sd = Similarity.PqSubDim
    normed.map { case (id, nv) =>
        var code = 0L
        var m = 0
        while (m < m0) {
          code |= Similarity.pqArgmin(cents(m), nv.slice(m * sd, (m + 1) * sd))
            .toLong << (CodeBits * m)
          m += 1
        }
        (id, code)
      }
      .toDF("vec_id", "code")
  }

  /** Build over the whole embeddings table at `dir`, reusing the
    * session-memoized whole-corpus codebooks, so a pass shares one
    * training run with [[Similarity.pqTopK]]. */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit =
    buildWith(Similarity.corpus(spark, dir), indexPath)(Seq("codebooks" ->
      codebookTable(spark, Similarity.pqCodebooks(spark, dir))))

  /** Fraction of the index's codes encoded against codebooks that never
    * saw them in training — [[merge]]s accumulate it, and quantization
    * error grows as the live distribution drifts from the build-time
    * one. */
  def driftFraction(spark: SparkSession, indexPath: String): Double =
    snapshot(spark, indexPath).drift(Codes)

  /** The maintenance TRIGGER: retrain codebooks over `vecs` (the
    * CURRENT corpus — PQ stores only codes, so unlike IVF the rebuild
    * input must be supplied) when the post-build fraction exceeds
    * `threshold`. Returns (rebuilt, drift-at-decision). */
  def rebuildIfDrifted(vecs: DataFrame, indexPath: String,
                       threshold: Double = 0.3): (Boolean, Double) =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val drift = driftFraction(vecs.sparkSession, indexPath)
      if (drift >= threshold) { build(vecs, indexPath); (true, drift) }
      else (false, drift)
    }

  /** The stored codebooks — [[IvfPq]] scores with them. */
  private[graft] def loadCodebooks(spark: SparkSession, indexPath: String)
      : Array[Array[Array[Double]]] =
    codebooks(snapshot(spark, indexPath))

  /** The committed code table — spec helper. */
  private[graft] def codeTable(spark: SparkSession,
                               indexPath: String): DataFrame =
    snapshot(spark, indexPath).read(Codes)

  /** Stateless encode stage — batch OR streaming: annotate a frame
    * carrying an `embedding` array column with the packed PQ `code`,
    * using the persisted index's codebooks (read once at plan time,
    * riding the closure). The in-flight half of the incremental path:
    * new corpus vectors arriving on a stream are encoded exactly as
    * [[merge]] would encode them (asserted in the spec), so the reader
    * never knows which path produced a code. */
  def encodeStage(vecs: DataFrame, indexPath: String): DataFrame = {
    val cents = loadCodebooks(vecs.sparkSession, indexPath)
    // native codegen expression, not a UDF: the frozen codebooks ride
    // the plan as ONE reference object and encoding is a static call
    // per row inside whole-stage codegen — no per-row encoder
    // round-trip in the streaming stage (graft.functions.PqEncode)
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    vecs.withColumn("code", column(graft.functions.PqEncode(
      expression(col("embedding").cast("array<double>")), cents)))
  }

  /** Top-k cosine neighbors from the persisted index for the standard
    * deterministic query set. The ADC scan touches only the committed
    * code generations; raw vectors are read (from `dir`) for the query
    * block and the re-rank candidates. Bit-identical to
    * [[Similarity.pqTopK]] when the index covers the whole corpus. */
  def topK(spark: SparkSession, dir: String, indexPath: String)
      : DataFrame = {
    import spark.implicits._
    val m0 = Similarity.PqM
    val sd = Similarity.PqSubDim
    val snap = snapshot(spark, indexPath)
    val cents = codebooks(snap)
    val nCents = cents(0).length
    val normed = Similarity.normalized(spark, dir)
    // limit BEFORE collect: the cap must bound driver memory, not just
    // report the overflow after the whole block already landed
    val qRows = normed.filter(_._1 % Similarity.QueryStride == 0)
      .limit(Similarity.MaxQueryBlock + 1)
      .collect().sortBy(_._1)
    require(qRows.length <= Similarity.MaxQueryBlock,
      s"PQ query block exceeds the cap (${Similarity.MaxQueryBlock})")
    val adcT: Array[Array[Array[Long]]] = qRows.map { case (_, qv) =>
      Array.tabulate(m0, nCents) { (m, c) =>
        math.floor(VectorOps.dist2(
          qv.slice(m * sd, (m + 1) * sd), cents(m)(c)) * 1e6).toLong
      }
    }
    val bc = spark.sparkContext.broadcast((qRows.map(_._1), adcT))
    val r = Similarity.PqRerank
    val codeMask = (1L << CodeBits) - 1
    // the hot scan: 8-byte codes only, ADC via table lookups
    val cand = snap.read(Codes)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val (qIds, t) = bc.value
        val heaps = Array.fill(qIds.length)(new VectorOps.TopK(r))
        it.foreach { case (id, code) =>
          var qi = 0
          while (qi < qIds.length) {
            if (qIds(qi) != id) {
              var adc = 0L
              var m = 0
              while (m < m0) {
                adc += t(qi)(m)(((code >> (CodeBits * m)) & codeMask).toInt)
                m += 1
              }
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
    val qMap = spark.sparkContext.broadcast(qRows.toMap)
    val rer = normed.toDF("vec_id", "nv")
      .join(broadcast(topCand), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (qId, nId, nv) =>
        (qId, nId, VectorOps.roundAt(VectorOps.dot(qMap.value(qId), nv), 4))
      }
      .toDF("q_id", "n_id", "sim")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.K)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** sim_pq_incremental: gate the ASSIGN-ONLY half of the lifecycle
    * exactly — [[build]] trains codebooks on the landed split,
    * [[merge]] encodes the crawl split against the FROZEN codebooks,
    * and the returned frame is the ingested generation's codes
    * UNPACKED to (vec_id, m, cid), which the DuckDB oracle restates by
    * replaying the training on the landed split and assigning the
    * crawl vectors to their argmin sub-centroids. (sim_pq_lifecycle
    * gates the end-to-end query; this row pins the per-subspace code
    * assignment itself, so an encode drift that happens not to change
    * the top-k cannot hide.) */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-incremental").toString
    val vecs = Similarity.corpus(spark, dir).select(col("vec_id"), col("v"))
    try {
      val idx = s"$root/idx"
      build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      merge(vecs.filter(col("vec_id") % 10 === 3), idx)
      val m0 = Similarity.PqM
      val codeMask = (1L << CodeBits) - 1
      val unpacked = snapshot(spark, idx).newestGeneration(Codes)
        .as[(Long, Long)]
        .flatMap { case (id, code) =>
          (0 until m0).map(m =>
            (id, m, ((code >> (CodeBits * m)) & codeMask).toInt))
        }.toDF("vec_id", "m", "cid")
        .orderBy("vec_id", "m")
      Scratch.materializeAndClean(root, unpacked)
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** sim_pq_lifecycle: the FULL incremental lifecycle under the oracle
    * gate — [[build]] trains codebooks on the landed corpus
    * (vec_id % 10 ≠ 3) and encodes it, [[merge]] encodes the crawl
    * increment (vec_id % 10 = 3) against the STORED codebooks, then
    * [[topK]] answers the standard query set over the union. The DuckDB
    * oracle replays exactly that: codebooks trained on the landed
    * split, codes assigned to every vector, ADC + re-rank over the
    * union — so frozen-codebook encoding, generation commits, and the
    * committed-gen scan are driver-checked facts. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-pq-lifecycle").toString
    val vecs = Similarity.corpus(spark, dir).select(col("vec_id"), col("v"))
    try {
      val idx = s"$root/idx"
      build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      merge(vecs.filter(col("vec_id") % 10 === 3), idx)
      Scratch.materializeAndClean(root, topK(spark, dir, idx))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
