package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF+PQ composed ANN — the billion-scale architecture (FAISS's
  * IVFPQ + refine): the IVF coarse quantizer restricts each query to
  * `NProbe` cells (candidates = corpus·nprobe/cells, the scan
  * reduction), PQ asymmetric-distance scoring ranks those candidates
  * from 8-byte codes (the bandwidth reduction — no raw vectors move),
  * and only the top [[Similarity.PqRerank]] per query are re-ranked
  * exactly against their true vectors (the accuracy repair). Composed
  * entirely from the two persisted indexes this engine already
  * maintains — [[IvfIndex]] cells/centroids and [[PqIndex]]
  * codes/codebooks — so the incremental-ingest, compaction, vacuum,
  * and drift-rebuild lifecycles apply to the composition unchanged.
  *
  * At 100 TB the three stages are the whole story: probes are O(cells)
  * driver arithmetic on the capped query block, the candidate join is
  * partition-pruned to the probed cells (the cells tree is
  * label-partitioned on disk), the ADC pass moves 8 bytes per
  * candidate, and the exact re-rank touches `queries × PqRerank` raw
  * vectors — never the corpus.
  *
  * Deterministic end to end (probe ties by label after rounding at 6,
  * ADC in exact longs, re-rank rounded at 4 with id ties), so the
  * DuckDB oracle can restate it relationally and hash-match.
  */
object IvfPq {

  /** `sim_ivfpq_topk`: build both indexes over the corpus, answer the
    * standard deterministic query set through the composition. */
  def topK(spark: SparkSession, dir: String): DataFrame =
    topKMemo(spark, dir)(topKUncached(spark, dir))

  /** Memoized per (session, dir): `sim_recall_matrix` consumes the
    * same composed result, and the temp index build is the dominant
    * cost. The memoized frame is lineage-free (materializeAndClean),
    * so it survives the scratch-dir removal. */
  private val topKMemo = new MemoStats.Table[String, DataFrame]

  private def topKUncached(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq").toString
    try {
      val ivf = s"$root/ivf"
      val pq = s"$root/pq"
      IvfIndex.build(spark, dir, ivf)
      PqIndex.build(spark, dir, pq)
      Scratch.materializeAndClean(root, query(spark, dir, ivf, pq))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** The composed query against ALREADY-BUILT indexes — separated so a
    * long-lived deployment (indexes maintained incrementally) pays only
    * this part per query block. */
  def query(spark: SparkSession, dir: String,
            ivfPath: String, pqPath: String): DataFrame = {
    import spark.implicits._
    val m0 = Similarity.PqM
    val sd = Similarity.PqSubDim
    val codeBits = Similarity.PqCodeBits
    val codeMask = (1L << codeBits) - 1

    // IVF probe selection in RAW space — the same arithmetic as
    // IvfIndex.topK (d2 rounded at 6, ties to the lowest label);
    // O(queries × cells) driver work on the capped block
    val rawQ = Similarity.corpus(spark, dir)
      .filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id"), col("v"))
      .limit(Similarity.MaxQueryBlock + 1)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(rawQ.length <= Similarity.MaxQueryBlock,
      s"IVFPQ query block exceeds the cap (${Similarity.MaxQueryBlock})")
    val cent = IvfIndex.centroidTable(spark, ivfPath)
    val probeRows = rawQ.toSeq.flatMap { case (qId, qv) =>
      IvfIndex.probe(qv, cent).map(label => (qId, label))
    }
    val probedLabels = probeRows.map(_._2).distinct.sorted

    // PQ ADC tables in NORMALIZED space — the same floor(d2·1e6) longs
    // as PqIndex.topK, so the composition scores candidates exactly as
    // the flat PQ scan would
    val normed = Similarity.normalized(spark, dir)
    // collect ONLY the rawQ id set — self-guarding against unbounded
    // driver collects even if the stride predicate above ever diverges
    // from rawQ's (the require on rawQ capped exactly these ids)
    val qIdSet = rawQ.map(_._1).toSet
    val qNormMap: Map[Long, Array[Double]] =
      normed.filter(r => qIdSet.contains(r._1)).collect().toMap
    val cents = PqIndex.loadCodebooks(spark, pqPath)
    val nCents = cents(0).length
    val adcMap: Map[Long, Array[Array[Long]]] = rawQ.map(_._1).map { qId =>
      val qv = qNormMap(qId)
      qId -> Array.tabulate(m0, nCents) { (m, c) =>
        math.floor(VectorOps.dist2(
          qv.slice(m * sd, (m + 1) * sd), cents(m)(c)) * 1e6).toLong
      }
    }.toMap

    // candidates: probed cells only (label-partition-pruned scan),
    // self excluded, joined to the 8-byte code table
    val probes = probeRows.toDF("q_id", "label")
    val candIds = IvfIndex.probedCells(spark, ivfPath, probedLabels)
      .select(col("vec_id"), col("label"))
      .join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
    val codes = PqIndex.codeTable(spark, pqPath)
      .withColumnRenamed("vec_id", "n_id")
    val bc = spark.sparkContext.broadcast(adcMap)
    val scored = candIds.join(codes, Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("code"))
      .as[(Long, Long, Long)]
      .map { case (qId, nId, code) =>
        val t = bc.value(qId)
        var adc = 0L
        var m = 0
        while (m < m0) {
          adc += t(m)(((code >> (codeBits * m)) & codeMask).toInt)
          m += 1
        }
        (qId, nId, adc)
      }.toDF("q_id", "n_id", "adc")

    // PqRerank candidates per query by ADC, then the exact repair
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("n_id"))
    val topCand = scored.withColumn("pr", row_number().over(wCand))
      .filter(col("pr") <= Similarity.PqRerank)
      .select(col("q_id"), col("n_id"))
    val qMap = spark.sparkContext.broadcast(qNormMap)
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
}
