package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent IVF index — the production lifecycle of [[Similarity.ivfTopK]]:
  * build once, write to storage, query many times without touching the
  * full corpus, and admit new corpus batches incrementally into their
  * cells. A [[CellStore]] (centroid model, label-partitioned cells,
  * build/merge/ingest/compact/vacuum and crash contract in
  * [[GenerationStore]] and [[IndexStore]]); its cells hold the raw
  * vectors:
  * {{{
  *   cells.v<V>/gen=<G>/label=<L>/  (vec_id, v) — one generation dir
  *                 per committed batch; compaction folds them into one
  *                 file set per cell, so a long ingest history does not
  *                 turn each probed cell into many tiny reads.
  *   _commits/basecount  rows the centroids were trained on, the
  *                 denominator of [[driftFraction]].
  * }}}
  *
  * The at-scale property this buys over the in-memory operator: queries
  * probe their `NProbe` nearest cells, the probed label set becomes an
  * `IN` predicate on the hive partition column, and the scan reads ONLY
  * the probed cells' files — `PartitionFilters` pruning, asserted in
  * the spec. A 100 TB corpus with 10k cells reads ~`NProbe/10k` of its
  * bytes per query batch; scoring reuses the same typed kernel + heap
  * pre-reduction as the in-memory path.
  *
  * Determinism: centroids come from the same [[VectorOps.VecMean]]
  * partial aggregation, scores round to 4 decimals before ranking —
  * query results are bit-identical to [[Similarity.ivfTopK]] over the
  * same data (asserted in the spec), and the build→merge→query
  * lifecycle is hash-gated as `sim_ivf_lifecycle`.
  */
object IvfIndex extends CellStore("IVF cells") {

  private val Cells = new Artifact("", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("gen", LongType), StructField("label", LongType))),
    derive = identity, fold = Some(identity),
    layout = _.repartition(col("label")).write.partitionBy("label"))

  protected def artifacts: Seq[Artifact] = Seq(Cells)
  override protected val model: Option[Model] = Some(new Model("centroids",
    vecs => Seq("centroids" -> centroidsOf(vecs)), countsBase = true))
  protected def prepare(vecs: DataFrame, snap: Snapshot): DataFrame =
    vecs.select(col("vec_id"), col("label").cast("long"), col("v"))

  /** Build over the whole embeddings table at `dir`. */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit =
    build(Similarity.corpus(spark, dir), indexPath)

  /** Admit a labelled (vec_id, label, v) batch into its cells as one
    * generation, warning about labels with no frozen centroid (an
    * [[ingest]] cannot stray: its labels come FROM the centroids). */
  override def merge(vecs: DataFrame, indexPath: String): Unit =
    mergeWith(vecs, indexPath) { (b, snap) =>
      val batch = prepare(b, snap)
      warnUnrouted(snap, batch.select(col("label")).distinct()
        .collect().map(_.getLong(0)).toSeq)
      batch
    }

  /** sim_ivf_incremental: [[build]] on the landed split (cells = the
    * corpus labels), then [[ingest]] the crawl split as BARE vectors —
    * the returned frame is the ingested generation's (vec_id, cell)
    * assignments, which the DuckDB oracle restates as argmin distance
    * to the landed split's per-label centroids. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-incremental").toString
    val vecs = Similarity.corpus(spark, dir)
    try {
      val idx = s"$root/idx"
      build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      ingest(vecs.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("v")), idx)
      val assigned = snapshot(spark, idx).newestGeneration(Cells)
        .select(col("vec_id"), col("label").as("cell"))
        .orderBy("vec_id")
      Scratch.materializeAndClean(root, assigned)
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** Fraction of the index's rows the FROZEN centroids were never
    * trained on — assign-only [[ingest]]s and [[merge]]s accumulate it,
    * and recall decays as the live distribution drifts from the
    * build-time one. */
  def driftFraction(spark: SparkSession, indexPath: String): Double =
    snapshot(spark, indexPath).drift(Cells)

  /** Re-train on the CURRENT corpus — the drift maintenance [[ingest]]
    * makes necessary: deterministic Lloyd k-means over every committed
    * vector (the SAME branch-adaptive trainer as [[Similarity.kmeans]]:
    * k = kFor(n) so cells track corpus growth, lowest-id init, rounded
    * distances, strict-< ties, exact quantized sums — bit-identical
    * driver-side or distributed), every vector re-assigned to its
    * nearest new centroid, landed as a fresh [[build]]: new centroids,
    * everything at gen 0, a reset drift clock. Old cell labels are
    * retired — a rebuild's labels are its cluster indices. Current
    * rows are staged OUTSIDE the root first (build resets the root
    * before writing; a lazy read over the tree being deleted would
    * corrupt the rebuild). The new `g0` carries every committed
    * batch's fingerprint, so re-merging one stays a no-op. */
  def rebuild(spark: SparkSession, indexPath: String): Unit =
    IndexStore.withLock(spark, indexPath) {
      import spark.implicits._
      val staging = s"$indexPath.rebuild-${java.util.UUID.randomUUID()}"
      try {
        val snap = snapshot(spark, indexPath)
        val carried = snap.fingerprints
        snap.read(Cells)
          .select(col("vec_id"), col("v"))
          .write.mode("overwrite").parquet(staging)
        val all = spark.read.parquet(staging)
          .as[(Long, Array[Double])]
        val n = all.count()
        val k = Similarity.kFor(n)
        val cents =
          if (n * Similarity.Dims <= Similarity.DriverKmeansMaxCells)
            Similarity.trainDriverSide(all, k)
          else Similarity.trainDistributed(all, k)
        val cells = assign(all.toDF(),
          cents.zipWithIndex.map { case (cv, c) => (c.toLong, cv) })
        buildWith(cells, indexPath, carried)(
          model.toSeq.flatMap(_.train(cells)))
      } finally {
        val (hfs, _) = IndexStore.fs(spark, staging)
        IndexStore.deleteTree(hfs, new org.apache.hadoop.fs.Path(staging))
      }
    }

  /** The maintenance TRIGGER: rebuild when the assign-only fraction
    * exceeds `threshold` (frozen centroids lose recall as the
    * distribution shifts). Returns (rebuilt, drift-at-decision). */
  def rebuildIfDrifted(spark: SparkSession, indexPath: String,
                       threshold: Double = 0.3): (Boolean, Double) =
    IndexStore.withLock(spark, indexPath) {
      val drift = driftFraction(spark, indexPath)
      if (drift >= threshold) { rebuild(spark, indexPath); (true, drift) }
      else (false, drift)
    }

  /** Committed cell rows pruned to the probed labels — exposed so the
    * spec can assert partition pruning on its physical plan. */
  private[graft] def probedCells(spark: SparkSession, indexPath: String,
                                 probedLabels: Seq[Long]): DataFrame =
    snapshot(spark, indexPath).read(Cells)
      .filter(col("label").isin(probedLabels: _*))

  /** The committed centroid table — the probe-selection input
    * ([[IvfPq]] composes it with the PQ score path). */
  private[graft] def centroidTable(spark: SparkSession, indexPath: String)
      : Array[(Long, Array[Double])] =
    centroids(snapshot(spark, indexPath))

  /** Top-k cosine neighbors from the persisted index for the standard
    * deterministic query set (`vec_id % QueryStride == 0`, read from
    * the index itself). Bit-identical to [[Similarity.ivfTopK]] when
    * the index covers the whole corpus; after [[merge]]s, probes use
    * the build-time centroids and candidates include every committed
    * generation (`sim_ivf_lifecycle`'s oracle restates exactly that). */
  def topK(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    // probe selection runs on the driver: the query block is hard-capped
    // (MaxQueryBlock, same guard as the PQ path) and the centroid table
    // is O(cells) — queries × cells distances cost microseconds and save
    // three scheduling rounds (probe window, label collect, probe join)
    // over the distributed restatement; ordering and rounding replicate
    // the window exactly (d2 rounded at 6, ties by label).
    val snap = snapshot(spark, indexPath)
    val cent = centroids(snap)
    val cells = snap.read(Cells)
    // limit BEFORE collect: the cap must bound driver memory, not just
    // report the overflow after the whole block already landed
    val qRows = cells.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id"), col("v"))
      .limit(Similarity.MaxQueryBlock + 1)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(qRows.length <= Similarity.MaxQueryBlock,
      s"IVF query block exceeds the cap (${Similarity.MaxQueryBlock})")
    val probeRows = qRows.toSeq.flatMap { case (qId, qv) =>
      probe(qv, cent).map(label => (qId, qv, label))
    }
    // the probed LABEL SET is bounded by the cell count, never the corpus
    val probedLabels = probeRows.map(_._3).distinct.sorted
    val probes = probeRows.toDF("q_id", "qv", "label")
    val cand = cells.filter(col("label").isin(probedLabels: _*))
      .join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), col("v"))
      .as[(Long, Array[Double], Long, Array[Double])]
    val k = Similarity.K
    val scored = cand.mapPartitions { it =>
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[Long, VectorOps.TopK]
      it.foreach { case (qId, qv, nId, nv) =>
        heaps.getOrElseUpdate(qId, new VectorOps.TopK(k))
          .insert(VectorOps.roundAt(VectorOps.cosineRaw(qv, nv), 4), nId)
      }
      heaps.iterator.flatMap { case (qId, h) =>
        h.drain().map { case (sim, nId) => (qId, nId, sim) }
      }
    }.toDF("q_id", "n_id", "sim")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** sim_ivf_lifecycle: the FULL incremental lifecycle under the oracle
    * gate — [[build]] derives centroids from the landed corpus
    * (vec_id % 10 ≠ 3) and lands it as gen 0, [[merge]] files the
    * crawl increment (vec_id % 10 = 3) into its cells against the
    * FROZEN centroids, then [[topK]] answers the standard query set
    * over the union. The DuckDB oracle restates exactly that (centroids
    * averaged over the landed split, candidates from the full corpus),
    * so frozen-centroid probing, generation commits, and the
    * committed-gen scan are driver-checked facts. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-lifecycle").toString
    val vecs = Similarity.corpus(spark, dir)
    try {
      val idx = s"$root/idx"
      build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      merge(vecs.filter(col("vec_id") % 10 === 3), idx)
      Scratch.materializeAndClean(root, topK(spark, idx))
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
