package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent HNSW graph — the high-recall IN-MEMORY serving tier of
  * the ANN family (Malkov & Yashunin, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable
  * Small World graphs", IEEE TPAMI 2018). IVF / PQ / IVF+PQ remain
  * the billion-scale on-disk story (cells partition-pruned, 8-byte
  * codes); HNSW is what a latency-sensitive deployment serves single
  * queries from once the corpus (or a routed shard of it) fits in
  * executor memory — the same division of labor as FAISS's
  * `IndexHNSWFlat` vs `IndexIVFPQ`.
  *
  * Structure: every vector gets a deterministic level (see [[levelOf]]
  * — P(level ≥ l) = 16^-l from the id's md5, the hash-seeded stand-in
  * for the paper's geometric draw, so builds are reproducible); each
  * level is a proximity graph with ≤ [[M]] neighbors per node (≤
  * [[M0]] on the ground layer). A search greedily descends from the
  * top-level entry point, then runs a best-first beam of width `ef`
  * on layer 0.
  *
  * Construction is INHERENTLY SEQUENTIAL (each insert searches the
  * graph built so far), so build/merge run on the driver under an
  * explicit capacity gate ([[MaxBuild]] — the same require-bounded
  * discipline as every driver-capped operator in this engine); the
  * serving side distributes: the finished graph broadcasts once and
  * query partitions beam-search it in parallel. A corpus past the gate
  * belongs to the IVF family, and the error message says so.
  *
  * Layout under `indexPath` (crash discipline per [[IndexStore]]):
  * {{{
  *   graph.v<V>.parquet   (vec_id, level, nv, nbrs[level+1][..]) — the
  *                        whole graph, one row per node. Rewritten
  *                        WHOLE per version: HNSW edges are globally
  *                        entangled by construction, so an incremental
  *                        ingest is a new version, not an append.
  *   _commits/graph.v<V>  version V is complete; content = the batch
  *                        fingerprint that produced it (idempotent
  *                        merge replay). Highest committed V wins;
  *                        retired versions keep a one-version grace.
  * }}}
  *
  * Determinism: inserts in ascending vec_id order, every frontier and
  * neighbor ranking ordered by (distance, id), final scores rounded at
  * 4 with id ties — two builds of the same corpus are byte-identical,
  * and `sim_hnsw_topk` is gated against the EXACT top-k oracle: at
  * verification scale the beam ([[EfSearch]]) is wide enough that the
  * graph returns the true top-[[Similarity.K]] for every query —
  * recall loss, a construction bug, or a search bug all hash-mismatch.
  * That exactness is EMPIRICAL at the gated scales (regression-guarded
  * by the oracle row every round), not a structural guarantee: the
  * level-0 graph is directed and [[Builder.prune]] drops over-cap
  * edges one-sided, so a node can in principle lose all in-edges and
  * fall out of reach of any beam — see the note on `prune`. Measured
  * recall vs [[Similarity.bruteForceTopK]] at larger scales is tracked
  * by the spec and reported by `sim_recall_matrix`; provably-exhaustive
  * small-cell search is [[HnswRouted]]'s contract (cells at or under
  * `RoutedEf` are brute-scanned, no reachability assumption).
  */
object HnswIndex {

  /** Max neighbors per node on levels ≥ 1. */
  val M = 16
  /** Max neighbors on the ground layer (level 0) — the paper's 2·M. */
  val M0 = 32
  /** Beam width during construction. */
  val EfConstruction = 100
  /** Beam width at query time (≥ K; wider = higher recall). */
  val EfSearch = 64
  /** Driver-build capacity gate: ~1M × (64-dim vector + M0 edges) ≈
    * 1 GB of graph — the in-memory serving envelope. */
  val MaxBuild = 1000000

  private val GraphSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("level", IntegerType),
    StructField("nv", ArrayType(DoubleType)),
    StructField("nbrs", ArrayType(ArrayType(LongType)))))

  /** Deterministic level: leading zero hex nibbles of md5("hnsw:<id>"),
    * i.e. P(level ≥ l) = 16^-l — the reproducible analog of the
    * paper's floor(-ln(u)·mL) with mL = 1/ln(16). */
  def levelOf(id: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hnsw:$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var l = 0
    var i = 0
    var stop = false
    while (i < d.length && !stop) {
      val hi = (d(i) >> 4) & 0xf
      val lo = d(i) & 0xf
      if (hi == 0) l += 1 else stop = true
      if (!stop) { if (lo == 0) l += 1 else stop = true }
      i += 1
    }
    math.min(l, 12)
  }

  /** The in-memory graph: id → (vector, per-level neighbor arrays),
    * plus the entry point (highest level; ties → the node inserted
    * first, i.e. the smallest id at that level). Immutable once built
    * — safe to broadcast. */
  final case class Graph(nodes: Map[Long, (Array[Double], Array[Array[Long]])],
                         entry: Long, entryLevel: Int)

  // ---- construction (driver, sequential by contract) ----------------

  private[operators] final class Builder {
    val vecs = mutable.LongMap.empty[Array[Double]]
    val nbrs = mutable.LongMap.empty[Array[mutable.ArrayBuffer[Long]]]
    var entry: Long = -1L
    var entryLevel: Int = -1

    private def d(a: Array[Double], b: Array[Double]): Double =
      -VectorOps.dot(a, b) // normalized vectors: minimize -cosine

    private def capOf(level: Int): Int = if (level == 0) M0 else M

    /** Greedy descent on one level: repeatedly move to the best
      * neighbor while it strictly improves. */
    private def greedy(q: Array[Double], start: Long, level: Int): Long = {
      var cur = start
      var curD = d(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val ns = nbrs(cur)(level)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          val nd = d(q, vecs(n))
          if (nd < curD || (nd == curD && n < cur)) {
            cur = n; curD = nd; improved = true
          }
          i += 1
        }
      }
      cur
    }

    /** Best-first beam on one level: returns up to `ef` nearest found,
      * ordered (distance, id). */
    private def beam(q: Array[Double], start: Long, level: Int,
                     ef: Int): mutable.ArrayBuffer[(Double, Long)] = {
      implicit val ord: Ordering[(Double, Long)] = Ordering.Tuple2
      val visited = mutable.LongMap.empty[Unit]
      // frontier: nearest-first; result: a bounded set we keep sorted
      val frontier = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)
      val result = mutable.ArrayBuffer.empty[(Double, Long)]
      val d0 = d(q, vecs(start))
      frontier.enqueue((d0, start))
      result += ((d0, start))
      visited(start) = ()
      while (frontier.nonEmpty) {
        val (cd, c) = frontier.dequeue()
        // stop when the nearest open candidate can't improve the result
        if (result.length >= ef && cd > result.last._1) frontier.clear()
        else {
          val ns = nbrs(c)(level)
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (!visited.contains(n)) {
              visited(n) = ()
              val nd = d(q, vecs(n))
              if (result.length < ef || ord.lt((nd, n), result.last)) {
                frontier.enqueue((nd, n))
                insertSorted(result, (nd, n))
                if (result.length > ef) result.remove(result.length - 1)
              }
            }
            i += 1
          }
        }
      }
      result
    }

    private def insertSorted(buf: mutable.ArrayBuffer[(Double, Long)],
                             e: (Double, Long)): Unit = {
      var lo = 0
      var hi = buf.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (Ordering.Tuple2[Double, Long].lt(buf(mid), e)) lo = mid + 1
        else hi = mid
      }
      buf.insert(lo, e)
    }

    /** Keep a node's neighbor list to its cap: the `cap` closest by
      * (distance, id) — the paper's simple selection, deterministic.
      *
      * Pruning is ONE-SIDED (only the over-cap node's list shrinks;
      * the dropped neighbor keeps its edge back), so a node whose
      * every in-edge is pruned away becomes unreachable from the entry
      * point and the level-0 beam is then non-exhaustive on that
      * corpus. The oracle row catches this as a hash mismatch at the
      * gated scales — empirically it has not occurred — and the routed
      * family sidesteps it entirely by brute-scanning small cells. */
    private def prune(id: Long, level: Int): Unit = {
      val cap = capOf(level)
      val ns = nbrs(id)(level)
      if (ns.length > cap) {
        val v = vecs(id)
        val ranked = ns.map(n => (d(v, vecs(n)), n)).sorted
        ns.clear()
        ns ++= ranked.take(cap).map(_._2)
      }
    }

    def insert(id: Long, nv: Array[Double]): Unit = {
      val level = levelOf(id)
      vecs(id) = nv
      nbrs(id) = Array.fill(level + 1)(mutable.ArrayBuffer.empty[Long])
      if (entry == -1L) { entry = id; entryLevel = level; return }
      var cur = entry
      var lev = entryLevel
      while (lev > level) { cur = greedy(nv, cur, lev); lev -= 1 }
      while (lev >= 0) {
        val found = beam(nv, cur, lev, EfConstruction)
        val sel = found.take(capOf(lev))
        sel.foreach { case (_, n) =>
          if (n != id) {
            nbrs(id)(lev) += n
            nbrs(n)(lev) += id
            prune(n, lev)
          }
        }
        cur = found.head._2
        lev -= 1
      }
      if (level > entryLevel) { entry = id; entryLevel = level }
    }

    def freeze(): Graph = Graph(
      nbrs.iterator.map { case (id, per) =>
        id -> (vecs(id), per.map(_.toArray))
      }.toMap, entry, entryLevel)
  }

  /** Build the graph from id-sorted normalized vectors. */
  private[operators] def buildGraph(rows: Array[(Long, Array[Double])]): Graph = {
    val b = new Builder
    rows.foreach { case (id, nv) => b.insert(id, nv) }
    b.freeze()
  }

  /** Collect a normalized frame under the capacity gate, id-sorted. */
  private def gatedCollect(normed: Dataset[(Long, Array[Double])])
      : Array[(Long, Array[Double])] = {
    val rows = normed.limit(MaxBuild + 1).collect()
    require(rows.length <= MaxBuild,
      s"HNSW build exceeds the in-memory capacity gate ($MaxBuild " +
        "vectors) — HNSW is the serving tier; a corpus this size " +
        "belongs to the IVF/PQ disk indexes (or route shards of it " +
        "into per-shard HNSW graphs)")
    rows.sortBy(_._1)
  }

  // a DIRECTORY named exactly graph.v<V> so IndexStore.retireVersions
  // can match orphans by the bare "graph.v" prefix
  private def graphFile(root: String, v: Long) = s"$root/graph.v$v"

  private def writeVersion(spark: SparkSession, root: String, v: Long,
                           g: Graph, fingerprint: String): Unit = {
    import spark.implicits._
    val rows = g.nodes.toSeq.sortBy(_._1).map { case (id, (nv, per)) =>
      (id, per.length - 1, nv, per.map(_.toSeq).toSeq)
    }
    spark.createDataset(rows).toDF("vec_id", "level", "nv", "nbrs")
      .coalesce(1).write.mode("overwrite").parquet(graphFile(root, v))
    val (hfs, p) = IndexStore.fs(spark, root)
    IndexStore.mark(hfs, p, s"graph.v$v", fingerprint)
  }

  private def currentVersion(spark: SparkSession, root: String): Long = {
    val (hfs, p) = IndexStore.fs(spark, root)
    val vs = IndexStore.markedIds(hfs, p, "graph.v")
    require(vs.nonEmpty, s"no committed HNSW graph under $root — build first")
    vs.max
  }

  /** Build from a (vec_id, v) frame into `indexPath` (version 1).
    *
    * The root is RESET first (same discipline as the other index
    * kinds): without it, a rebuild after merges would write graph.v1
    * underneath a still-marked graph.v2+ — readers resolve the max
    * marked version, so the fresh build would be silently invisible,
    * and overwriting v1 in place while its marker stands would violate
    * the write-first/mark-last crash contract. */
  def build(vecs: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val spark = vecs.sparkSession
      val (hfs, p) = IndexStore.fs(spark, indexPath)
      IndexStore.resetRoot(hfs, p)
      val rows = gatedCollect(Similarity.normalizedFrom(vecs))
      writeVersion(spark, indexPath, 1L, buildGraph(rows),
        IndexStore.batchFingerprint(vecs, "vec_id", "v"))
    }

  /** Build from the standard embeddings corpus under `dir`. */
  def build(spark: SparkSession, dir: String, indexPath: String): Unit =
    build(Similarity.corpus(spark, dir), indexPath)

  /** Size past which [[merge]] warns: a flat-graph merge replays the
    * ENTIRE union sequentially on the driver (O(corpus · log corpus)
    * inserts per increment, ~10 min at the [[MaxBuild]] gate — measured
    * in SCALE.md), so a corpus that keeps growing belongs in
    * [[HnswRouted]], whose merge rebuilds only the cells that received
    * vectors. */
  val MergeReplayWarn: Int = MaxBuild / 4

  /** Incremental ingest: insert a new batch into the CURRENT graph and
    * publish it as the next version (HNSW edges are globally entangled
    * — a version rewrite, not an append; the one-version grace keeps
    * in-flight readers alive). Idempotent per batch fingerprint.
    *
    * COST HONESTY: this is a FULL REPLAY — every existing node plus the
    * batch is re-inserted in id order (the only order-independent,
    * oracle-replayable result). Per-increment cost is O(corpus), not
    * O(batch); past [[MergeReplayWarn]] a warning names the routed
    * family as the scalable increment path. */
  def merge(vecs: DataFrame, indexPath: String): Unit =
    IndexStore.withLock(vecs.sparkSession, indexPath) {
      val spark = vecs.sparkSession
      val v = currentVersion(spark, indexPath)
      val fp = IndexStore.batchFingerprint(vecs, "vec_id", "v")
      val (hfs, p) = IndexStore.fs(spark, indexPath)
      val replayed = IndexStore.markedIds(hfs, p, "graph.v")
        .exists(vv => IndexStore.markContent(hfs, p, s"graph.v$vv")
          .contains(fp))
      if (!replayed) {
        val g = loadGraph(spark, indexPath)
        val existing = g.nodes.keySet
        val fresh = gatedCollect(Similarity.normalizedFrom(vecs))
          .filterNot { case (id, _) => existing.contains(id) }
        require(g.nodes.size + fresh.length <= MaxBuild,
          s"HNSW merge would exceed the capacity gate ($MaxBuild)")
        if (g.nodes.size + fresh.length > MergeReplayWarn)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"flat HNSW merge replays the whole graph " +
              s"(${g.nodes.size + fresh.length} nodes) sequentially on " +
              "the driver — O(corpus) per increment; for a growing " +
              "corpus use the routed family (HnswRouted.merge rebuilds " +
              "only the cells receiving vectors)")
        val b = new Builder
        // replay the existing graph's construction inputs in id order,
        // then the fresh batch: same deterministic order a from-scratch
        // build of the union would use
        val all = (g.nodes.iterator.map { case (id, (nv, _)) => (id, nv) }
          ++ fresh.iterator).toArray.sortBy(_._1)
        all.foreach { case (id, nv) => b.insert(id, nv) }
        writeVersion(spark, indexPath, v + 1, b.freeze(), fp)
        // keep the new version plus a one-version grace for in-flight
        // readers; everything older is unmarked and swept
        IndexStore.retireVersions(spark, indexPath, "graph.v", v)
      }
    }

  /** Load the newest committed graph (driver-side, gate-bounded). */
  def loadGraph(spark: SparkSession, indexPath: String): Graph = {
    import spark.implicits._
    val v = currentVersion(spark, indexPath)
    val rows = spark.read.schema(GraphSchema)
      .parquet(graphFile(indexPath, v))
      .as[(Long, Int, Array[Double], Array[Array[Long]])]
      .collect()
    val nodes = rows.iterator
      .map { case (id, _, nv, per) => id -> (nv, per) }.toMap
    val (entry, entryLevel) = rows.iterator
      .map { case (id, lvl, _, _) => (lvl, id) }
      .foldLeft((-1, Long.MaxValue)) { case ((bl, bi), (l, i)) =>
        if (l > bl || (l == bl && i < bi)) (l, i) else (bl, bi)
      } match { case (l, i) => (i, l) }
    Graph(nodes, entry, entryLevel)
  }

  /** Beam search one query against a frozen graph: greedy descent to
    * level 1, an [[EfSearch]] beam on level 0, exact rank of the beam
    * by rounded cosine (self excluded, ties by id), top `k`. */
  def searchTopK(g: Graph, qId: Long, qnv: Array[Double], k: Int,
                 ef: Int = EfSearch): Seq[(Int, Long, Double)] = {
    if (g.entry == -1L) return Nil
    def dist(id: Long): Double = -VectorOps.dot(qnv, g.nodes(id)._1)
    var cur = g.entry
    var curD = dist(cur)
    var lev = g.entryLevel
    while (lev > 0) {
      var improved = true
      while (improved) {
        improved = false
        val ns = g.nodes(cur)._2(lev)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          val nd = dist(n)
          if (nd < curD || (nd == curD && n < cur)) {
            cur = n; curD = nd; improved = true
          }
          i += 1
        }
      }
      lev -= 1
    }
    // level-0 beam
    implicit val ord: Ordering[(Double, Long)] = Ordering.Tuple2
    val visited = mutable.LongMap.empty[Unit]
    val frontier = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)
    val buf = mutable.ArrayBuffer.empty[(Double, Long)]
    def insertSorted(e: (Double, Long)): Unit = {
      var lo = 0
      var hi = buf.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(buf(mid), e)) lo = mid + 1 else hi = mid
      }
      buf.insert(lo, e)
    }
    frontier.enqueue((curD, cur)); insertSorted((curD, cur)); visited(cur) = ()
    while (frontier.nonEmpty) {
      val (cd, c) = frontier.dequeue()
      if (buf.length >= ef && cd > buf.last._1) frontier.clear()
      else {
        val ns = g.nodes(c)._2(0)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          if (!visited.contains(n)) {
            visited(n) = ()
            val nd = dist(n)
            if (buf.length < ef || ord.lt((nd, n), buf.last)) {
              frontier.enqueue((nd, n))
              insertSorted((nd, n))
              if (buf.length > ef) buf.remove(buf.length - 1)
            }
          }
          i += 1
        }
      }
    }
    buf.iterator
      .filter(_._2 != qId)
      .map { case (_, id) =>
        (VectorOps.roundAt(VectorOps.dot(qnv, g.nodes(id)._1), 4), id) }
      .toSeq
      .sortBy { case (sim, id) => (-sim, id) }
      .take(k)
      .zipWithIndex
      .map { case ((sim, id), i) => (i + 1, id, sim) }
  }

  /** Distributed serving: broadcast the graph once, beam-search each
    * query partition in parallel. */
  def query(spark: SparkSession, indexPath: String,
            queries: Dataset[(Long, Array[Double])], k: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(loadGraph(spark, indexPath))
    queries.mapPartitions { it =>
      it.flatMap { case (qId, qnv) =>
        searchTopK(bc.value, qId, qnv, k).map {
          case (rank, nId, sim) => (qId, rank, nId, sim)
        }
      }
    }.toDF("q_id", "rank", "n_id", "sim").orderBy("q_id", "rank")
  }

  /** `sim_hnsw_topk`: build over the corpus, answer the standard
    * deterministic query set. Oracle = the EXACT top-k (see the
    * header: at verification scale the beam must achieve recall 1.0,
    * so any construction or search bug hash-mismatches). */
  def topK(spark: SparkSession, dir: String): DataFrame =
    topKMemo(spark, dir)(topKUncached(spark, dir))

  /** Memoized per (session, dir): the sequential graph build dominates
    * and `sim_recall_matrix` consumes the same result. Lineage-free
    * (materializeAndClean). */
  private val topKMemo = new MemoStats.Table[String, DataFrame]

  private def topKUncached(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-hnsw").toString
    try {
      build(spark, dir, root)
      val queries = Similarity.normalized(spark, dir)
        .filter(_._1 % Similarity.QueryStride == 0)
      Scratch.materializeAndClean(root,
        query(spark, root, queries, Similarity.K))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(root)); throw e
    }
  }
}
