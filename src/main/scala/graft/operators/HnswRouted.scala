package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sharded (routed) HNSW — the DISTRIBUTED answer to [[HnswIndex]]'s
  * sequential-build bottleneck: instead of one driver-built graph over
  * the whole corpus, one graph PER IVF CELL, each built in parallel on
  * the executors (a cell's build is sequential, but cells don't talk
  * to each other), persisted label-partitioned on disk. A query
  * resolves its `NProbe` nearest cells from the centroid table (the
  * exact arithmetic of [[Similarity.ivfTopK]]), the scan reads ONLY
  * the probed cells' files, and each probed cell answers with its own
  * search; the per-cell top-k merge is the classic distributed
  * top-k. Build is `corpus / cells` wall-clock on enough executors;
  * nothing is ever collected to the driver but the centroid table and
  * the capped query block — at 100 TB this is the HNSW deployment
  * shape (FAISS's IVF+HNSW-per-list, Vespa/Milvus's segment graphs).
  *
  * INCREMENTAL LIFECYCLE (what the flat graph cannot offer): a merge
  * batch is filed into its cells against the FROZEN build-time
  * centroids, and ONLY the cells that received vectors are rebuilt —
  * per-cell rebuilds run in parallel on the executors, cost
  * O(touched cells), and land as one marker-committed generation.
  * Untouched cells' files are never rewritten; readers resolve, per
  * label, the newest committed generation that carries it, and
  * compaction folds the generations into one dir per cell.
  *
  * Exactness contract: a probed cell holding ≤ [[RoutedEf]] vectors is
  * BRUTE-SCANNED (every member scored — provably exhaustive, no
  * graph-reachability assumption), so the composed result equals
  * "probe cells, score exactly" — i.e. [[Similarity.ivfTopK]]'s
  * semantics with normalized-dot scoring — and the `sim_hnsw_routed`
  * oracles restate it relationally. Past that cell size the beam
  * search takes over and the graphs go genuinely sub-linear per cell;
  * recall then follows the measured `sim_recall_matrix` discipline
  * (the same statement the flat [[HnswIndex]] makes about
  * [[HnswIndex.EfSearch]]).
  *
  * A [[CellStore]] (centroid model, label-partitioned cells,
  * build/merge/ingest/compact/vacuum and crash contract in
  * [[GenerationStore]] and [[IndexStore]]). What differs from
  * [[IvfIndex]]:
  * {{{
  *   cells.v<V>/gen=<G>/label=<L>/  (vec_id, level, nv, nbrs) — cell
  *                 L's graph rows as of generation G. A generation
  *                 carries ONLY the cells it rebuilt; per label the
  *                 newest committed generation serves.
  *   buildstats.v1.parquet  (label, n_build, mean_d2_build) — the
  *                 frozen build-time reference [[stats]] compares the
  *                 serving rows against.
  * }}}
  * The cells persist NORMALIZED vectors only (what beam search needs),
  * so unlike [[IvfIndex]] a centroid re-train cannot run off the
  * index's own rows: drift maintenance is a fresh [[build]] from the
  * source corpus.
  */
object HnswRouted extends CellStore("routed HNSW cells") {

  /** Query-time beam width per cell — also the cell size up to which
    * the per-cell search brute-scans and is therefore provably
    * exhaustive (the oracle contract). */
  val RoutedEf = 256

  private val Cells = new Artifact("", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("level", IntegerType),
      StructField("nv", ArrayType(DoubleType)),
      StructField("nbrs", ArrayType(ArrayType(LongType))),
      StructField("gen", LongType),
      StructField("label", LongType))),
    derive = cellGraphs, fold = Some(_.repartition(col("label"))),
    layout = _.write.partitionBy("label"), perLabel = true)

  protected def artifacts: Seq[Artifact] = Seq(Cells)
  override protected val model: Option[Model] =
    Some(new Model("centroids", trainCells))

  /** One graph build for one cell: rows (id, normalized vector) sorted
    * by id — the SAME deterministic insert order a from-scratch build
    * of the cell would use — emitted as persistable graph rows. */
  private def cellGraphRows(label: Long, sorted: Array[(Long, Array[Double])])
      : Iterator[(Long, Int, Array[Double], Seq[Seq[Long]], Long)] = {
    require(sorted.length <= HnswIndex.MaxBuild,
      s"cell $label exceeds the per-cell build gate " +
        s"(${HnswIndex.MaxBuild}) — re-cluster with more cells")
    val g = HnswIndex.buildGraph(sorted)
    g.nodes.toSeq.sortBy(_._1).iterator.map { case (id, (nv, per)) =>
      (id, per.length - 1, nv, per.map(_.toSeq).toSeq, label)
    }
  }

  /** Per-cell graphs of prepared rows (label, id, normalized v, tag),
    * one build per cell IN PARALLEL on the executors. ONE shuffle (on
    * label); id collisions within a cell keep the lowest-tag row —
    * [[prepare]] tags serving rows 0 and fresh rows 1, so an id already
    * in the cell keeps its existing vector. */
  private def cellGraphs(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Long, Long, Array[Double], Int)].groupByKey(_._1)
      .flatMapGroups { (label, it) =>
        val arr = it.map(r => (r._2, r._4, r._3)).toArray
          .sortBy { case (id, tag, _) => (id, tag) }
        val dedup = Array.newBuilder[(Long, Array[Double])]
        var last = Long.MinValue
        arr.foreach { case (id, _, nv) =>
          if (id != last) { dedup += ((id, nv)); last = id }
        }
        cellGraphRows(label, dedup.result())
      }
      .toDF("vec_id", "level", "nv", "nbrs", "label")
  }

  private def typedCorpus(vecs: DataFrame)
      : Dataset[(Long, Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id"), col("label").cast("long").as("label"),
        col("v"))
      .as[(Long, Long, Array[Double])]
  }

  /** The cells a (vec_id, label, v) batch rebuilds: its rows, normalized,
    * plus — past the build — the current serving rows of every cell it
    * touches. ONLY those cells are rebuilt (in parallel on the
    * executors, O(touched cells) — the scalable increment the flat
    * graph can't offer); ids already present keep their existing
    * vector (the flat [[HnswIndex.merge]] discipline). */
  protected def prepare(vecs: DataFrame, snap: Snapshot): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val fresh = typedCorpus(vecs)
      .map { case (id, l, v) => (l, id, VectorOps.l2Normalize(v), 1) }
    if (snap.gens.isEmpty) return fresh.toDF()
    // the touched-label set is bounded by the CELL COUNT, never the
    // corpus — the same O(cells) driver footprint as the probe table
    val touched = fresh.map(_._1).distinct().collect().sorted
    warnUnrouted(snap, touched.toSeq)
    snap.newest(Cells, Some(touched.toSet))
      .select(col("label"), col("vec_id"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (l, id, nv) => (l, id, nv, 0) }
      .union(fresh).toDF()
  }

  /** The frozen model: the centroid table, plus the per-cell (n, mean
    * round-6 d² to the cell's NORMALIZED centroid) of the build batch —
    * the build-time reference [[stats]] compares against. Unit-sphere
    * distances because cells persist only normalized vectors: the
    * comparison must be computable from the serving rows forever
    * after. */
  private def trainCells(vecs: DataFrame): Seq[(String, DataFrame)] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = centroidsOf(vecs).as[(Long, Array[Double])].collect()
    Seq("centroids" -> cents.toSeq.toDF("label", "cv"),
      "buildstats" -> meanD2(typedCorpus(vecs).map { case (_, l, v) =>
          (l, VectorOps.l2Normalize(v)) }, normalized(cents))
        .toDF("label", "n_build", "mean_d2_build"))
  }

  /** label → l2-normalized centroid (O(cells) on the driver, the
    * family's standing bound). */
  private def normalized(cents: Array[(Long, Array[Double])])
      : Map[Long, Array[Double]] =
    cents.map { case (l, cv) => l -> VectorOps.l2Normalize(cv) }.toMap

  /** Per label: row count and mean round-6 d² of (label, nv) rows to the
    * label's normalized centroid. */
  private def meanD2(rows: Dataset[(Long, Array[Double])],
                     ncs: Map[Long, Array[Double]]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bcn = spark.sparkContext.broadcast(ncs)
    rows.map { case (l, nv) =>
        (l, VectorOps.roundAt(VectorOps.dist2(nv, bcn.value(l)), 6)) }
      .toDF("label", "d2")
      .groupBy("label")
      .agg(count(lit(1)), round(avg(col("d2")), 6))
  }

  /** Drift observability — `GRAFT INDEX STATS HNSW_ROUTED`: one row
    * per cell comparing the SERVING rows (current newest generations)
    * against the frozen build-time reference: size growth and the
    * unit-sphere assign-distance mean. Rising `d2_drift` on a cell
    * means increments assigned there under frozen centroids sit ever
    * farther from the build-time center — recall decay in the making
    * ([[graft.operators.Similarity.recallMatrix]]'s
    * `hnsw_routed_merged` row measures the effect; this row names the
    * cause and the WHEN): past ~0.05–0.1 absolute drift or ~2× size
    * growth on hot cells, schedule the documented rebuild-from-source.
    * Cost: one scan of the serving rows + two O(cells) reads — no
    * corpus shuffle (the aggregation is map-side per label). */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, indexPath)
    val now = meanD2(snap.read(Cells).select(col("label"), col("nv"))
        .as[(Long, Array[Double])], normalized(centroids(snap)))
      .toDF("label", "n_now", "mean_d2_now")
    snap.model("buildstats")
      .join(now, Seq("label"), "full_outer")
      .select(col("label"), col("n_build"), col("n_now"),
        col("mean_d2_build"), col("mean_d2_now"),
        round(col("mean_d2_now") - col("mean_d2_build"), 6).as("d2_drift"))
      .orderBy("label")
  }

  /** Build from the standard embeddings corpus under `dir` (cells =
    * the corpus labels). */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit =
    build(Similarity.corpus(spark, dir), indexPath)

  /** sim_hnsw_routed_incremental: [[build]] on the landed split (cells
    * = the corpus labels), then [[ingest]] the crawl split as BARE
    * vectors. The returned frame is the ingested batch's (vec_id,
    * cell) assignments READ BACK from the rebuilt cell tree — so the
    * oracle (argmin distance to the landed split's per-label
    * centroids, the same statement as `sim_ivf_incremental`) checks
    * both the assignment arithmetic and that the batch physically
    * landed in its assigned cells' graphs. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-hnsw-routed-inc").toString
    val vecs = Similarity.corpus(spark, dir)
    try {
      val idx = s"$root/idx"
      build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      ingest(vecs.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("v")), idx)
      val assigned = snapshot(spark, idx).newestGeneration(Cells)
        .filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("label").as("cell"))
        .orderBy("vec_id")
      Scratch.materializeAndClean(root, assigned)
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** Serving rows (per label the newest committed generation), `gen`
    * kept — spec helper for both read paths of [[Snapshot.newest]]. */
  private[graft] def servingCells(spark: SparkSession, root: String,
                                  wanted: Option[Set[Long]],
                                  literalCap: Int): DataFrame =
    snapshot(spark, root).newest(Cells, wanted, literalCap)

  /** Answer the standard query set: driver probe selection over the
    * centroid table (identical ordering to [[Similarity.ivfTopK]] —
    * round-6 d², ties by label), partition-pruned scan of the probed
    * cells' serving generations, per-cell search (brute-exact ≤
    * [[RoutedEf]], beam above), distributed top-k merge. */
  def query(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, indexPath)
    val cents = centroids(snap)
    val qRows = Similarity.corpus(spark, dir)
      .select(col("vec_id"), col("v"))
      .filter(col("vec_id") % Similarity.QueryStride === 0)
      .as[(Long, Array[Double])]
      .limit(Similarity.MaxQueryBlock + 1).collect().sortBy(_._1)
    require(qRows.length <= Similarity.MaxQueryBlock,
      s"routed HNSW query block exceeds the cap " +
        s"(${Similarity.MaxQueryBlock})")
    // probes per cell: label -> [(q_id, normalized query)]
    val probes: Map[Long, Array[(Long, Array[Double])]] = qRows
      .flatMap { case (qId, qv) =>
        probe(qv, cents).map(l => (l, (qId, VectorOps.l2Normalize(qv))))
      }
      .groupBy(_._1).map { case (l, hits) =>
        l -> hits.map(_._2).sortBy(_._1)
      }
    val bc = spark.sparkContext.broadcast(probes)
    val k = Similarity.K
    val ef = RoutedEf
    // partition-pruned scan: only probed cells' serving dirs are read
    val cells = snap.newest(Cells, Some(probes.keySet))
      .select(col("vec_id"), col("level"), col("nv"), col("nbrs"),
        col("label"))
      .as[(Long, Int, Array[Double], Array[Array[Long]], Long)]
    val scored = cells.groupByKey(_._5).flatMapGroups { (label, rows) =>
      val rs = rows.toArray
      val qs = bc.value.getOrElse(label, Array.empty)
      if (rs.length <= ef) {
        // brute-exact scan: provably exhaustive, no graph reachability
        // assumption — the oracle contract for gated cell sizes
        qs.iterator.flatMap { case (qId, qnv) =>
          rs.iterator
            .filter(_._1 != qId)
            .map { case (id, _, nv, _, _) =>
              (qId, id, VectorOps.roundAt(VectorOps.dot(qnv, nv), 4))
            }
            .toSeq
            .sortBy { case (_, id, sim) => (-sim, id) }
            .take(k)
        }
      } else {
        val nodes = rs.iterator
          .map { case (id, _, nv, per, _) => id -> (nv, per) }.toMap
        val (entryLevel, entry) = rs.iterator
          .map { case (id, lvl, _, _, _) => (lvl, id) }
          .foldLeft((-1, Long.MaxValue)) { case ((bl, bi), (l, i)) =>
            if (l > bl || (l == bl && i < bi)) (l, i) else (bl, bi)
          }
        val g = HnswIndex.Graph(nodes, entry, entryLevel)
        qs.iterator.flatMap { case (qId, qnv) =>
          HnswIndex.searchTopK(g, qId, qnv, k, ef).map {
            case (_, nId, sim) => (qId, nId, sim)
          }
        }
      }
    }.toDF("q_id", "n_id", "sim")
    // distributed top-k merge across the probed cells
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** `sim_hnsw_routed`: build the sharded graphs, answer the standard
    * query set. Memoized per (session, dir) like the other ANN rows. */
  def topK(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hnsw-routed").toString
      try {
        build(spark, dir, root)
        Scratch.materializeAndClean(root, query(spark, dir, root))
      } catch { case e: Throwable =>
        Scratch.rm(new java.io.File(root)); throw e
      }
    }

  /** `sim_hnsw_routed_lifecycle`: the FULL incremental lifecycle under
    * the oracle gate — [[build]] on the landed split (vec_id % 10 ≠ 3,
    * centroids frozen over it), [[merge]] of the crawl increment
    * (vec_id % 10 = 3, only its cells rebuilt), then [[query]] over
    * the union. The DuckDB oracle restates exactly that (centroids
    * averaged over the landed split, candidates from the full corpus),
    * so frozen-centroid probing, the per-cell rebuild, and the
    * serving-generation scan are driver-checked facts — the
    * [[IvfIndex.lifecycle]] pattern for the routed graph family. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame =
    lifecycleMemo(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hnsw-routed-lc").toString
      val vecs = Similarity.corpus(spark, dir)
      try {
        val idx = s"$root/idx"
        build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
        merge(vecs.filter(col("vec_id") % 10 === 3), idx)
        Scratch.materializeAndClean(root, query(spark, dir, idx))
      } catch { case e: Throwable =>
        Scratch.rm(new java.io.File(root)); throw e
      }
    }

  private val memo = new MemoStats.Table[String, DataFrame]
  private val lifecycleMemo = new MemoStats.Table[String, DataFrame]
}
