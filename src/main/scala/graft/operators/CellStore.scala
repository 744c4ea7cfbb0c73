package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The label-partitioned vector stores, [[IvfIndex]] and [[HnswRouted]]:
  * a [[GenerationStore]] whose frozen model is a centroid table
  * (`centroids.v1.parquet`, (label, cv), one row per cell: the
  * per-label means of the build batch) and whose cells are a versioned
  * artifact partitioned by label (`cells.v<V>/gen=<G>/label=<L>/`). A
  * query probes its [[Similarity.NProbe]] nearest cells, and the probed
  * label set (bounded by the cell count, never the corpus) prunes the
  * scan to their files — the reference-point partitioning of REPOSE
  * (ICDE 2021). Later batches are filed against the FROZEN centroids:
  * re-deriving them is a build, not a merge.
  */
abstract class CellStore(what: String)
    extends GenerationStore("cells.v", what, ("vec_id", "v")) {

  /** Per-label mean of a (vec_id, label, v) frame: the centroid table,
    * by the same partial aggregation as [[Similarity.ivfTopK]]. */
  protected def centroidsOf(vecs: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("label").cast("long"), col("v"))
      .as[(Long, Array[Double])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new VectorOps.VecMean(Similarity.Dims).toColumn.name("cv"))
      .toDF("label", "cv")
  }

  /** The frozen centroid table, label-ascending — O(cells) driver rows. */
  protected def centroids(snap: Snapshot): Array[(Long, Array[Double])] = {
    val df = snap.model("centroids")
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** The [[Similarity.NProbe]] nearest of `cents` to `qv`: d² rounded
    * at 6 decimals, ties to the lowest label — [[Similarity.ivfTopK]]'s
    * probe order. */
  private[operators] def probe(qv: Array[Double],
                               cents: Array[(Long, Array[Double])]): Seq[Long] =
    cents.map { case (l, cv) =>
        (VectorOps.roundAt(VectorOps.dist2(qv, cv), 6), l)
      }.sorted.take(Similarity.NProbe).map(_._2).toSeq

  /** (vec_id, label, v): each vector of a (vec_id, v) frame filed to
    * its nearest centroid of the label-ascending `cents` — d² rounded at
    * 6 decimals, ties to the LOWEST label (strict <), the discipline of
    * [[probe]], so the DuckDB oracle can restate it row for row.
    * Distributed: `cents` is broadcast, never the corpus collected. */
  protected def assign(vecs: DataFrame,
                       cents: Array[(Long, Array[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    vecs.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          var bestL = -1L
          var bestD = Double.PositiveInfinity
          cs.foreach { case (l, cv) =>
            val d = VectorOps.roundAt(VectorOps.dist2(v, cv), 6)
            if (d < bestD) { bestD = d; bestL = l }
          }
          (id, bestL, v)
        }
      }.toDF("vec_id", "label", "v")
  }

  /** Assign-only INGEST — the streaming-era half of the lifecycle: a
    * bare (vec_id, v) batch, each vector filed to its nearest FROZEN
    * centroid ([[assign]]), committed as one generation exactly like a
    * merge (a re-delivered batch is a no-op). */
  def ingest(vecs: DataFrame, root: String): Unit =
    mergeWith(vecs, root)((b, snap) =>
      prepare(assign(b, centroids(snap)), snap))

  /** Probe selection iterates the frozen centroid table, so a merged
    * label with no centroid is committed but never probed: its vectors
    * are silently unqueryable. Name such labels loudly. */
  protected def warnUnrouted(snap: Snapshot, labels: Seq[Long]): Unit = {
    val known = centroids(snap).map(_._1).toSet
    val stray = labels.filterNot(known).sorted
    if (stray.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$what merge into ${snap.root} touches label(s) " +
          s"${stray.mkString(",")} with no frozen centroid: their " +
          "vectors will never be probe-selected at query time — rebuild " +
          "to re-train centroids, or use ingest (assign-only) for " +
          "unlabeled batches")
  }
}
