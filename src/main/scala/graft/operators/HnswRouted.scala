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
  * label, the newest committed generation that carries it. Compaction
  * folds the generations into one dir per cell (version bump with the
  * one-version grace), vacuum sweeps crashed merges' orphan dirs, and
  * writers serialize per root via [[IndexStore.withLock]] — the same
  * crash discipline as [[IvfIndex]].
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
  * Layout under `indexPath` (crash discipline per [[IndexStore]]):
  * {{{
  *   centroids.v1.parquet        (label, cv) — raw-space cell means,
  *                               FROZEN at build (re-deriving them is
  *                               a build, not a merge — the IVF rule).
  *                               Note the cells persist NORMALIZED
  *                               vectors only (what beam search
  *                               needs), so unlike [[IvfIndex]] a
  *                               centroid re-train cannot run off the
  *                               index's own rows: drift maintenance
  *                               is a fresh [[build]] from the source
  *                               corpus.
  *   cells.v<V>/gen=<G>/label=<L>/  (vec_id, level, nv, nbrs) — cell
  *                               L's graph rows as of generation G.
  *                               A generation carries ONLY the cells
  *                               it rebuilt; per label the newest
  *                               committed generation serves.
  *   _commits/g<G>               generation G's publish marker
  *                               (content = the batch fingerprint,
  *                               for idempotent retry). Written LAST.
  *   _commits/{cells.v<V>, centroids.v1}
  * }}}
  */
object HnswRouted {

  /** Query-time beam width per cell — also the cell size up to which
    * the per-cell search brute-scans and is therefore provably
    * exhaustive (the oracle contract). */
  val RoutedEf = 256

  // explicit schema (data + partition columns): readers must never
  // infer from data files — an uncommitted generation dir may hold a
  // torn file from a crash, and inference could sample it
  private val CellSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("level", IntegerType),
    StructField("nv", ArrayType(DoubleType)),
    StructField("nbrs", ArrayType(ArrayType(LongType))),
    StructField("gen", LongType),
    StructField("label", LongType)))

  private def centroidsDir(root: String) = s"$root/centroids.v1.parquet"
  private def cellsDir(root: String, v: Long) = s"$root/cells.v$v"
  private def buildStatsDir(root: String) = s"$root/buildstats.v1.parquet"

  private def cellsVersion(spark: SparkSession, root: String): Long =
    IndexStore.requireVersion(spark, root, "cells.v", "routed HNSW cells")

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

  /** Per-cell graphs of `rows` (label, id, normalized v, tag), one
    * build per cell IN PARALLEL on the executors, written (unmarked,
    * invisible) as generation `gen` of cells version `v`. ONE shuffle
    * (on label); id collisions within a cell keep the lowest-tag row
    * — merge tags existing rows 0 and fresh rows 1, so an id already
    * in the cell keeps its existing vector. */
  private def writeCellGraphs(rows: Dataset[(Long, Long, Array[Double], Int)],
                              root: String, v: Long, gen: Long): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_._1)
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
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"${cellsDir(root, v)}/gen=$gen")
  }

  private def typedCorpus(vecs: DataFrame)
      : Dataset[(Long, Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id"), col("label").cast("long").as("label"),
        col("v"))
      .as[(Long, Long, Array[Double])]
  }

  /** Build one graph per `label` cell, in parallel, from a
    * (vec_id, label, v) frame. Root is reset first and the markers
    * land LAST (cells before centroids, so a crashed build is loudly
    * unreadable — [[IvfIndex.build]]'s ordering), replacing any prior
    * index at `indexPath`. */
  def build(vecs: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val spark = vecs.sparkSession
      import spark.implicits._
      val (hfs, p) = IndexStore.fs(spark, indexPath)
      IndexStore.resetRoot(hfs, p)
      val typed = typedCorpus(vecs)
      val fp = IndexStore.batchFingerprint(vecs, "vec_id", "v")
      // centroids and cell graphs are independent jobs: run concurrently
      IndexStore.inParallel(
        () => typed.groupByKey(_._2).mapValues(_._3)
          .agg(new VectorOps.VecMean(Similarity.Dims).toColumn.name("cv"))
          .toDF("label", "cv")
          .coalesce(1).write.mode("overwrite")
          .parquet(centroidsDir(indexPath)),
        () => writeCellGraphs(
          typed.map { case (id, l, v) =>
            (l, id, VectorOps.l2Normalize(v), 0) },
          indexPath, 1L, gen = 0L))
      // freeze the build-time assign-distance distribution per cell —
      // the reference [[stats]] compares the serving rows against, so
      // a deployment can SEE drift accumulate and knows when the
      // documented rebuild-from-source is due. One extra narrow pass;
      // O(cells) output.
      writeBuildStats(spark, indexPath, typed.map { case (_, l, v) =>
        (l, VectorOps.l2Normalize(v)) })
      IndexStore.mark(hfs, p, "g0", fp)
      IndexStore.mark(hfs, p, "cells.v1")
      IndexStore.mark(hfs, p, "centroids.v1")
    }

  /** Per-cell (n, mean round-6 d² to the cell's NORMALIZED centroid)
    * over `rows` — written as the frozen build-time reference. Uses
    * unit-sphere distances because cells persist only normalized
    * vectors: the comparison [[stats]] makes must be computable from
    * the index's own serving rows forever after. */
  private def writeBuildStats(spark: SparkSession, indexPath: String,
      rows: Dataset[(Long, Array[Double])]): Unit = {
    import spark.implicits._
    val bcn = spark.sparkContext.broadcast(normalizedCentroids(spark, indexPath))
    rows.map { case (l, nv) =>
        (l, VectorOps.roundAt(VectorOps.dist2(nv, bcn.value(l)), 6)) }
      .toDF("label", "d2")
      .groupBy("label")
      .agg(count(lit(1)).as("n_build"),
        round(avg(col("d2")), 6).as("mean_d2_build"))
      .coalesce(1).write.mode("overwrite")
      .parquet(buildStatsDir(indexPath))
  }

  /** label → l2-normalized centroid (O(cells) on the driver, the
    * family's standing bound). */
  private def normalizedCentroids(spark: SparkSession, indexPath: String)
      : Map[Long, Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(centroidsDir(indexPath))
      .as[(Long, Array[Double])].collect()
      .map { case (l, cv) => l -> VectorOps.l2Normalize(cv) }.toMap
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
    IndexStore.requireVersion(spark, indexPath, "centroids.v",
      "routed HNSW centroids")
    val bcn = spark.sparkContext.broadcast(normalizedCentroids(spark, indexPath))
    val now = servingCells(spark, indexPath, None)
      .select(col("label"), col("nv")).as[(Long, Array[Double])]
      .map { case (l, nv) =>
        (l, VectorOps.roundAt(VectorOps.dist2(nv, bcn.value(l)), 6)) }
      .toDF("label", "d2")
      .groupBy("label")
      .agg(count(lit(1)).as("n_now"),
        round(avg(col("d2")), 6).as("mean_d2_now"))
    spark.read.parquet(buildStatsDir(indexPath))
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

  /** Admit a (vec_id, label, v) batch: ONLY the cells receiving new
    * vectors are rebuilt — each from its current serving rows plus the
    * batch, in parallel on the executors, the scalable increment the
    * flat graph can't offer (its merge replays the whole corpus) —
    * and land as one marker-committed generation. Centroids stay
    * frozen. Ids already present keep their existing vector (the flat
    * [[HnswIndex.merge]] discipline); retry of a committed batch is a
    * fingerprint-detected no-op; a crash before the marker leaves an
    * invisible orphan generation for [[vacuum]]. */
  def merge(vecs: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val spark = vecs.sparkSession
      import spark.implicits._
      val gens = IndexStore.committedGens(spark, indexPath)
      require(gens.nonEmpty,
        s"no committed routed HNSW index under $indexPath — run build first")
      val fp = IndexStore.batchFingerprint(vecs, "vec_id", "v")
      if (!IndexStore.generationCommitted(spark, indexPath, fp)) {
        val fresh = typedCorpus(vecs)
          .map { case (id, l, v) => (l, id, VectorOps.l2Normalize(v), 1) }
        admitBatch(spark, indexPath, fresh, fp, gens)
      }
    }

  /** Assign-only INGEST — the streaming-era half of the routed
    * lifecycle, mirroring [[IvfIndex.ingest]]: the batch arrives as
    * bare (vec_id, v) vectors and the INDEX assigns each to its
    * nearest FROZEN centroid (distances round at 6 decimals, ties take
    * the LOWEST cell label — the exact discipline the query path's
    * probe selection uses, so the DuckDB oracle restates it row for
    * row), then ONLY the receiving cells rebuild, exactly like
    * [[merge]]. Assignment is distributed (centroids broadcast — an
    * O(cells) array, never the corpus). */
  def ingest(vecs: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val spark = vecs.sparkSession
      import spark.implicits._
      val gens = IndexStore.committedGens(spark, indexPath)
      require(gens.nonEmpty,
        s"no committed routed HNSW index under $indexPath — run build first")
      val fp = IndexStore.batchFingerprint(vecs, "vec_id", "v")
      if (!IndexStore.generationCommitted(spark, indexPath, fp)) {
        IndexStore.requireVersion(spark, indexPath, "centroids.v",
          "routed HNSW centroids")
        val cents = spark.read.parquet(centroidsDir(indexPath))
          .as[(Long, Array[Double])].collect().sortBy(_._1)
        val bc = spark.sparkContext.broadcast(cents)
        val fresh = vecs.select(col("vec_id"), col("v"))
          .as[(Long, Array[Double])]
          .mapPartitions { it =>
            val cs = bc.value // label-ascending: strict < keeps ties low
            it.map { case (id, v) =>
              var bestL = -1L
              var bestD = Double.PositiveInfinity
              cs.foreach { case (l, cv) =>
                val d = VectorOps.roundAt(VectorOps.dist2(v, cv), 6)
                if (d < bestD) { bestD = d; bestL = l }
              }
              (bestL, id, VectorOps.l2Normalize(v), 1)
            }
          }
        admitBatch(spark, indexPath, fresh, fp, gens)
      }
    }

  /** Shared [[merge]]/[[ingest]] tail: rebuild exactly the cells the
    * (label, id, nv, tag=1) batch touches — from their current serving
    * rows plus the batch — and commit the result as one generation. */
  private def admitBatch(spark: SparkSession, indexPath: String,
                         fresh: Dataset[(Long, Long, Array[Double], Int)],
                         fp: String, gens: Seq[Long]): Unit = {
    import spark.implicits._
    // the touched-label set is bounded by the CELL COUNT, never the
    // corpus — the same O(cells) driver footprint as the probe table
    val touched = fresh.map(_._1).distinct().collect().sorted
    // query-time probe selection iterates the FROZEN centroid table:
    // a cell whose label has no centroid is committed but never
    // probed, so its vectors are silently unqueryable — name them
    // loudly and point at the remedy (ingest assigns labels FROM the
    // centroids, so only merge's caller-supplied labels can stray)
    val centLabels = spark.read.parquet(centroidsDir(indexPath))
      .select(col("label")).as[Long].collect().toSet
    val unreachable = touched.filterNot(centLabels)
    if (unreachable.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"routed HNSW merge into $indexPath touches label(s) " +
          s"${unreachable.mkString(",")} with no frozen centroid: " +
          "their vectors will never be probe-selected at query time " +
          "— rebuild the index from source to re-train centroids, or " +
          "use ingest (assign-only) for unlabeled batches")
    val v = cellsVersion(spark, indexPath)
    val existing = servingCells(spark, indexPath, Some(touched.toSet))
      .select(col("label"), col("vec_id"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (l, id, nv) => (l, id, nv, 0) }
    val g = gens.max + 1
    // one shuffle on label; the in-group dedup keeps existing rows
    // over fresh id collisions (tag order)
    writeCellGraphs(existing.union(fresh), indexPath, v, g)
    val (hfs, p) = IndexStore.fs(spark, indexPath)
    IndexStore.mark(hfs, p, s"g$g", fp)
  }

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
      val maxGen = IndexStore.committedGens(spark, idx).max
      val dir2 = cellsDir(idx, cellsVersion(spark, idx))
      val assigned = spark.read.schema(CellSchema)
        .option("basePath", dir2).parquet(dir2)
        .filter(col("gen") === maxGen && col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("label").as("cell"))
        .orderBy("vec_id")
      Scratch.materializeAndClean(root, assigned)
    } catch {
      case e: Throwable => Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** Fold the committed generations into cells version V+1 — one dir,
    * one file set per cell, everything at `gen=<max>` — with the same
    * write-unmarked / mark / retire-with-grace discipline as
    * [[IvfIndex.compact]]. Generation markers are untouched (they
    * carry the retry fingerprints); later merges append gen max+1
    * into the new version. */
  def compact(spark: SparkSession, indexPath: String): Unit =
    IndexStore.withLock(spark, indexPath) {
      import spark.implicits._
      val gens = IndexStore.committedGens(spark, indexPath)
      require(gens.nonEmpty,
        s"no committed routed HNSW index under $indexPath — run build first")
      val v = cellsVersion(spark, indexPath)
      val (hfs, p) = IndexStore.fs(spark, indexPath)
      // clear the target first: a crashed compact's leftover dir would
      // survive this retry's single-dir overwrite otherwise
      IndexStore.deleteTree(hfs,
        new org.apache.hadoop.fs.Path(cellsDir(indexPath, v + 1)))
      servingCells(spark, indexPath, None)
        .select(col("vec_id"), col("level"), col("nv"), col("nbrs"),
          col("label"))
        .repartition(col("label"))
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"${cellsDir(indexPath, v + 1)}/gen=${gens.max}")
      IndexStore.mark(hfs, p, s"cells.v${v + 1}")
      IndexStore.retireVersions(spark, indexPath, "cells.v", v)
    }

  /** Maintenance: sweep orphan generation dirs left by crashed,
    * never-retried merges. */
  def vacuum(spark: SparkSession, indexPath: String): Unit =
    IndexStore.withLock(spark, indexPath) {
      val (hfs, _) = IndexStore.fs(spark, indexPath)
      IndexStore.sweepOrphanGens(hfs,
        new org.apache.hadoop.fs.Path(
          cellsDir(indexPath, cellsVersion(spark, indexPath))),
        IndexStore.committedGens(spark, indexPath).toSet)
    }

  /** label → the newest COMMITTED generation carrying it, from the
    * physical tree (one `listStatus` per committed generation dir —
    * bounded by merges since the last compact, which folds to one).
    * The tree, not the markers, is the truth: compaction moves every
    * label to the folded generation without rewriting markers. */
  private def labelGens(spark: SparkSession, root: String, v: Long)
      : Map[Long, Long] = {
    val committed = IndexStore.committedGens(spark, root).toSet
    val (hfs, _) = IndexStore.fs(spark, root)
    val dir = new org.apache.hadoop.fs.Path(cellsDir(root, v))
    if (!hfs.exists(dir)) return Map.empty
    hfs.listStatus(dir).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        scala.util.Try(n.stripPrefix("gen=").toLong).toOption
          .filter(g => n.startsWith("gen=") && committed.contains(g))
          .toSeq.flatMap { g =>
            hfs.listStatus(st.getPath).toSeq.flatMap { ls =>
              scala.util.Try(ls.getPath.getName.stripPrefix("label=").toLong)
                .toOption.filter(_ => ls.getPath.getName.startsWith("label="))
                .map(_ -> g)
            }
          }
      }
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Past this many serving (gen, label) entries the Catalyst IN
    * literals are replaced by explicit directory enumeration — the
    * driver footprint stays O(cells) either way (the family's standing
    * bound, same as the centroid table and the probe map), but a
    * 10⁵-literal predicate is a real optimizer cost where a path list
    * is just strings to the file index. */
  private[graft] val ServingMapLiteralCap = 100000

  /** Committed serving rows — per label, the newest committed
    * generation — optionally restricted to `wanted` labels. Under
    * [[ServingMapLiteralCap]] entries the filter is an OR of
    * per-generation (gen = G AND label IN (...)) conjuncts over the
    * two partition columns, so the scan partition-prunes to exactly
    * the serving dirs. Past the cap the selected `gen=G/label=L`
    * directories are read DIRECTLY (basePath keeps the partition
    * columns): pruning by construction, no O(cells) plan literal, and
    * no reliance on dynamic-partition-pruning heuristics a broadcast
    * semi-join would need. Both paths are spec-asserted identical. */
  private def servingCells(spark: SparkSession, root: String,
                           wanted: Option[Set[Long]]): DataFrame =
    servingCells(spark, root, wanted, ServingMapLiteralCap)

  private[graft] def servingCells(spark: SparkSession, root: String,
                                  wanted: Option[Set[Long]],
                                  literalCap: Int): DataFrame = {
    val v = cellsVersion(spark, root)
    val all = labelGens(spark, root, v)
    val sel = wanted match {
      case Some(ws) => all.view.filterKeys(ws).toMap
      case None => all
    }
    val dir = cellsDir(root, v)
    if (sel.isEmpty) return spark.read.schema(CellSchema)
      .option("basePath", dir).parquet(dir).filter(lit(false))
    if (sel.size <= literalCap) {
      val pred = sel.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (g, m) =>
          col("gen") === g && col("label").isin(m.keys.toSeq.sorted: _*)
        }
        .reduce(_ || _)
      spark.read.schema(CellSchema).option("basePath", dir).parquet(dir)
        .filter(pred)
    } else {
      val paths = sel.toSeq.sortBy(_._1)
        .map { case (l, g) => s"$dir/gen=$g/label=$l" }
      spark.read.schema(CellSchema).option("basePath", dir)
        .parquet(paths: _*)
    }
  }

  /** Answer the standard query set: driver probe selection over the
    * centroid table (identical ordering to [[Similarity.ivfTopK]] —
    * round-6 d², ties by label), partition-pruned scan of the probed
    * cells' serving generations, per-cell search (brute-exact ≤
    * [[RoutedEf]], beam above), distributed top-k merge. */
  def query(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    import spark.implicits._
    IndexStore.requireVersion(spark, indexPath, "centroids.v",
      "routed HNSW centroids")
    val cents = spark.read.parquet(centroidsDir(indexPath))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
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
        cents.map { case (l, cv) =>
            (VectorOps.roundAt(VectorOps.dist2(qv, cv), 6), l)
          }.sorted.take(Similarity.NProbe)
          .map { case (_, l) => (l, (qId, VectorOps.l2Normalize(qv))) }
      }
      .groupBy(_._1).map { case (l, hits) =>
        l -> hits.map(_._2).sortBy(_._1)
      }
    val bc = spark.sparkContext.broadcast(probes)
    val k = Similarity.K
    val ef = RoutedEf
    // partition-pruned scan: only probed cells' serving dirs are read
    val cells = servingCells(spark, indexPath, Some(probes.keySet))
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
