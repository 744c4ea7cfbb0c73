package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HnswIndex, HnswRouted, Similarity}

/** Routed (per-IVF-cell) HNSW: parallel executor-side builds are
  * reproducible, the probed-cell scan is partition-pruned, and while
  * cells fit the RoutedEf beam the composed result is exactly "probe
  * cells, score exactly".
  */
class HnswRoutedSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Serving rows of an index root, straight off the layout: per
    * (label, id) the row of the newest generation — the reader
    * contract the lifecycle tests assert against. */
  private def rows(root: String): Seq[(Long, Long, Int, Seq[Seq[Long]])] =
    spark.read.parquet(s"$root/cells.v1")
      // partition-column discovery types label/gen as int; pin them
      .select(col("label").cast("long").as("label"), col("vec_id"),
        col("level"), col("nbrs"), col("gen").cast("long").as("gen"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq,
        r.getLong(4)))
      .groupBy(t => (t._1, t._2)).values
      .map(_.maxBy(_._5)).toSeq
      .map(t => (t._1, t._2, t._3, t._4))
      .sortBy(t => (t._1, t._2))

  test("parallel per-cell builds are reproducible and each cell is a " +
    "well-formed graph") {
    val r1 = Files.createTempDirectory("hnswr-a").toString
    val r2 = Files.createTempDirectory("hnswr-b").toString
    HnswRouted.build(spark, sf0001, r1)
    HnswRouted.build(spark, sf0001, r2)
    assert(rows(r1) == rows(r2))
    // every node's level matches the deterministic assignment; every
    // neighbor lives in the same cell
    val byCell = rows(r1).groupBy(_._1)
    byCell.foreach { case (_, cell) =>
      val ids = cell.map(_._2).toSet
      cell.foreach { case (_, id, lvl, nbrs) =>
        assert(lvl == HnswIndex.levelOf(id))
        assert(nbrs.length == lvl + 1)
        assert(nbrs.flatten.forall(ids.contains), s"foreign edge at $id")
      }
    }
  }

  test("query scan is partition-pruned to the probed cells") {
    val root = Files.createTempDirectory("hnswr-p").toString
    HnswRouted.build(spark, sf0001, root)
    val df = HnswRouted.query(spark, sf0001, root)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"),
      s"expected a partition-pruned scan, got:\n$scan")
    assert(scan.contains("label"),
      "the pruning predicate must be on the cell label")
  }

  test("post-merge serving scan partition-prunes on BOTH partition " +
    "columns: (gen, label) conjuncts per serving generation") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-pm").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    HnswRouted.build((0L until 80L).map(id => (id, id % 4, vec(id)))
      .toDF("vec_id", "label", "v"), root)
    HnswRouted.merge((100L until 110L).map(id => (id, id % 2, vec(id)))
      .toDF("vec_id", "label", "v"), root)
    val df = HnswRouted.query(spark, sf0001, root)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"), scan)
    // both partition columns appear in the pruning predicate: cells
    // 0,1 read from gen 1, cells 2,3 from gen 0 — never both gens of
    // a rebuilt cell
    assert(scan.contains("gen") && scan.contains("label"),
      s"expected (gen, label) pruning conjuncts, got:\n$scan")
  }

  test("routed result == probe-cells-score-exactly at both test scales " +
    "(cells fit the RoutedEf beam)") {
    for (dir <- Seq(sf0001, "/root/testdata/sf0.1")) {
      // reference: ivfTopK's probe selection with normalized scoring —
      // brute force within probed cells
      import spark.implicits._
      val typed = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .as[(Long, Long, Array[Double])].collect()
      val cellSizes = typed.groupBy(_._2).view.mapValues(_.length)
      assert(cellSizes.values.max <= HnswRouted.RoutedEf,
        "scale assumption: cells within the exhaustive-beam bound")
      val cents = typed.groupBy(_._2).toSeq.map { case (l, vs) =>
        (l, Array.tabulate(64)(i => vs.map(_._3(i)).sum / vs.length))
      }.sortBy(_._1)
      val queries = typed.filter(_._1 % Similarity.QueryStride == 0)
      val expected = queries.flatMap { case (qId, _, qv) =>
        val probed = cents.map { case (l, cv) =>
          (graft.operators.VectorOps.roundAt(
            graft.operators.VectorOps.dist2(qv, cv), 6), l)
        }.sorted.take(Similarity.NProbe).map(_._2).toSet
        val qnv = graft.operators.VectorOps.l2Normalize(qv)
        typed.filter(t => probed.contains(t._2) && t._1 != qId)
          .map { case (nId, _, nv) =>
            (qId, graft.operators.VectorOps.roundAt(
              graft.operators.VectorOps.dot(qnv,
                graft.operators.VectorOps.l2Normalize(nv)), 4), nId)
          }
          .sortBy { case (_, sim, nId) => (-sim, nId) }
          .take(Similarity.K).zipWithIndex
          .map { case ((q, sim, nId), i) => (q, i + 1, nId, sim) }
      }.sortBy(t => (t._1, t._2)).toSeq
      val got = HnswRouted.topK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(got == expected, s"routed mismatch at $dir")
      graft.operators.MemoStats.clearAll(spark)
    }
  }

  test("merge rebuilds ONLY the cells receiving vectors, replays " +
    "idempotently, and serving rows equal a from-scratch build") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-m").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    def frame(ids: Seq[Long], labelOf: Long => Long) =
      ids.map(id => (id, labelOf(id), vec(id))).toDF("vec_id", "label", "v")
    // 4 cells at build; the increment touches cells 0 and 1 only
    HnswRouted.build(frame(0L until 80L, _ % 4), root)
    val gen0 = new java.io.File(s"$root/cells.v1/gen=0")
    assert(gen0.list().count(_.startsWith("label=")) == 4)
    HnswRouted.merge(frame(100L until 110L, _ % 2), root)
    val gen1 = new java.io.File(s"$root/cells.v1/gen=1")
    assert(gen1.list().filter(_.startsWith("label=")).sorted.toSeq ==
      Seq("label=0", "label=1"), "only the touched cells rebuild")
    // untouched cells' files are never rewritten
    assert(gen0.list().count(_.startsWith("label=")) == 4)
    // replay: same fingerprint -> no new generation
    val before = new java.io.File(s"$root/cells.v1").list().toSet
    HnswRouted.merge(frame(100L until 110L, _ % 2), root)
    assert(new java.io.File(s"$root/cells.v1").list().toSet == before)
    // serving rows == from-scratch build of the union (cells 2,3 from
    // gen 0; cells 0,1 from gen 1)
    val scratch = Files.createTempDirectory("hnswr-s").toString
    HnswRouted.build(
      frame(0L until 80L, _ % 4)
        .unionByName(frame(100L until 110L, _ % 2)), scratch)
    assert(rows(root) == rows(scratch))
  }

  test("servingCells past ServingMapLiteralCap: direct directory " +
    "enumeration reads exactly the serving dirs and equals the " +
    "literal-predicate path row for row") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-sc").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    HnswRouted.build((0L until 80L).map(id => (id, id % 4, vec(id)))
      .toDF("vec_id", "label", "v"), root)
    HnswRouted.merge((100L until 110L).map(id => (id, id % 2, vec(id)))
      .toDF("vec_id", "label", "v"), root)
    def rowsVia(cap: Int) = HnswRouted
      .servingCells(spark, root, Some(Set(0L, 1L, 2L)), cap)
      .select("gen", "label", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rowsVia(0) == rowsVia(Int.MaxValue), "both paths identical")
    // the enumerated read touches ONLY serving dirs: cells 0,1 from
    // gen 1, cell 2 from gen 0 — never gen 0 of a rebuilt cell
    val files = HnswRouted
      .servingCells(spark, root, Some(Set(0L, 1L, 2L)), 0).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("gen=1/label=0") ||
      f.contains("gen=1/label=1") || f.contains("gen=0/label=2")),
      s"unexpected inputs:\n${files.mkString("\n")}")
  }

  test("stats: zero drift right after build; a shifted increment raises " +
    "n_now and d2_drift on exactly the touched cells; SQL STATS agrees") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-st").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    def frame(rs: Seq[(Long, Long, Array[Double])]) =
      rs.toDF("vec_id", "label", "v")
    HnswRouted.build(frame((0L until 80L).map(id => (id, id % 4, vec(id)))),
      root)
    val s0 = HnswRouted.stats(spark, root).collect()
    assert(s0.length == 4)
    s0.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "n_build == n_now at build")
      assert(math.abs(r.getDouble(5)) < 1e-5, s"zero drift at build: $r")
    }
    // a far-away increment merged into cell 0 only: its mean assign
    // distance must rise; untouched cells must not move at all
    val far = (200L until 220L).map(id =>
      (id, 0L, Array.tabulate(64)(i => 50.0 + math.sin(id * 64 + i))))
    HnswRouted.merge(frame(far), root)
    val s1 = HnswRouted.stats(spark, root).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(s1(0L).getLong(2) == s1(0L).getLong(1) + 20,
      "cell 0 grew by the increment")
    assert(s1(0L).getDouble(5) > 0.01,
      s"shifted increment must raise cell 0's drift: ${s1(0L)}")
    (1L to 3L).foreach { l =>
      assert(s1(l).getLong(1) == s1(l).getLong(2))
      assert(math.abs(s1(l).getDouble(5)) < 1e-5, s"cell $l untouched")
    }
    // the SQL spelling returns the identical frame
    val viaSql = spark.sql(s"GRAFT INDEX STATS HNSW_ROUTED '$root'")
      .collect()
    assert(viaSql.toSeq == HnswRouted.stats(spark, root).collect().toSeq)
    // rebuild from source resets the drift clock
    HnswRouted.build(frame((0L until 80L).map(id => (id, id % 4, vec(id)))
      ++ far), root)
    HnswRouted.stats(spark, root).collect().foreach { r =>
      assert(math.abs(r.getDouble(5)) < 1e-5, s"rebuild resets drift: $r")
    }
  }

  test("ingest assigns bare vectors to the nearest FROZEN centroid " +
    "(round-6 d2, ties low) and rebuilds only the receiving cells") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-i").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    val landed = (0L until 80L).map(id => (id, id % 4, vec(id)))
    HnswRouted.build(landed.toDF("vec_id", "label", "v"), root)
    // frozen centroids, driver replay of the assignment
    val cents = landed.groupBy(_._2).toSeq.map { case (l, vs) =>
      (l, Array.tabulate(64)(i => vs.map(_._3(i)).sum / vs.length))
    }.sortBy(_._1)
    val batchIds = 100L until 110L
    def assigned(id: Long): Long = cents.map { case (l, cv) =>
      (graft.operators.VectorOps.roundAt(
        graft.operators.VectorOps.dist2(vec(id), cv), 6), l)
    }.min._2
    HnswRouted.ingest(
      batchIds.map(id => (id, vec(id))).toDF("vec_id", "v"), root)
    // only the assigned cells got a new generation
    val expectedCells = batchIds.map(assigned).toSet
    val gen1 = new java.io.File(s"$root/cells.v1/gen=1")
    assert(gen1.list().filter(_.startsWith("label=")).toSet ==
      expectedCells.map(l => s"label=$l"))
    // every batch id sits in its argmin cell's rebuilt graph
    val served = rows(root).filter(t => batchIds.contains(t._2))
    assert(served.map(t => (t._2, t._1)).toMap ==
      batchIds.map(id => id -> assigned(id)).toMap)
    // replay: same fingerprint -> no new generation
    val before = new java.io.File(s"$root/cells.v1").list().toSet
    HnswRouted.ingest(
      batchIds.map(id => (id, vec(id))).toDF("vec_id", "v"), root)
    assert(new java.io.File(s"$root/cells.v1").list().toSet == before)
  }

  test("compact folds generations into one dir per cell (version bump, " +
    "one-version grace) and vacuum sweeps crashed orphan generations") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnswr-c").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.cos(id * 64 + i))
    def frame(ids: Seq[Long], labelOf: Long => Long) =
      ids.map(id => (id, labelOf(id), vec(id))).toDF("vec_id", "label", "v")
    HnswRouted.build(frame(0L until 60L, _ % 3), root)
    HnswRouted.merge(frame(100L until 108L, _ => 0L), root)
    val served = rows(root)
    // a crashed merge's orphan: gen dir without a marker
    val orphan = new java.io.File(s"$root/cells.v1/gen=9/label=0")
    orphan.mkdirs()
    HnswRouted.vacuum(spark, root)
    assert(!new java.io.File(s"$root/cells.v1/gen=9").exists(),
      "vacuum must sweep uncommitted generation dirs")
    HnswRouted.compact(spark, root)
    val files = new java.io.File(root).list().toSet
    assert(files.contains("cells.v2") && files.contains("cells.v1"),
      s"one-version grace: $files") // v1 kept as the grace copy
    val v2gens = new java.io.File(s"$root/cells.v2")
      .list().filter(_.startsWith("gen=")).toSeq
    assert(v2gens == Seq("gen=1"), s"folded to one generation: $v2gens")
    // serving rows unchanged by compaction
    val after = spark.read.parquet(s"$root/cells.v2")
      .select(col("label").cast("long"), col("vec_id"), col("level"),
        col("nbrs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getSeq[scala.collection.Seq[Long]](3).map(_.toSeq).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(after == served)
    // queries keep answering through the new version (smoke: no throw)
    // and a post-compact merge lands as gen 2 in cells.v2
    HnswRouted.merge(frame(200L until 204L, _ => 1L), root)
    assert(new java.io.File(s"$root/cells.v2/gen=2").exists())
  }

  test("SQL surface: GRAFT INDEX BUILD/MERGE/COMPACT/VACUUM HNSW_ROUTED " +
    "drives the same lifecycle as the Scala API") {
    graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("hnswr_vecs")
    val root = Files.createTempDirectory("hnswr-sql").toString
    spark.sql(s"GRAFT INDEX BUILD HNSW_ROUTED '$root/g' FROM " +
      "(SELECT vec_id, label, v FROM hnswr_vecs WHERE vec_id % 10 <> 3)")
    spark.sql(s"GRAFT INDEX MERGE HNSW_ROUTED '$root/g' FROM " +
      "(SELECT vec_id, label, v FROM hnswr_vecs WHERE vec_id % 10 = 3)")
    spark.sql(s"GRAFT INDEX COMPACT HNSW_ROUTED '$root/g'")
    spark.sql(s"GRAFT INDEX VACUUM HNSW_ROUTED '$root/g'")
    // the SQL-driven lifecycle serves the same rows as the Scala one
    val twin = Files.createTempDirectory("hnswr-sql-twin").toString
    val vecs = graft.operators.Similarity.corpus(spark, sf0001)
    HnswRouted.build(vecs.filter(col("vec_id") % 10 =!= 3), s"$twin/g")
    HnswRouted.merge(vecs.filter(col("vec_id") % 10 === 3), s"$twin/g")
    val sqlServed = spark.read.parquet(s"$root/g/cells.v2")
      .select(col("label").cast("long"), col("vec_id"), col("nbrs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(sqlServed == rows(s"$twin/g").map(t => (t._1, t._2, t._4)))
  }

  test("lifecycle row: build(landed) + merge(crawl) + query equals " +
    "probe-cells-score-exactly with landed-frozen centroids") {
    import spark.implicits._
    val typed = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Long, Array[Double])].collect()
    val landed = typed.filter(_._1 % 10 != 3)
    val cents = landed.groupBy(_._2).toSeq.map { case (l, vs) =>
      (l, Array.tabulate(64)(i => vs.map(_._3(i)).sum / vs.length))
    }.sortBy(_._1)
    val queries = typed.filter(_._1 % Similarity.QueryStride == 0)
    val expected = queries.flatMap { case (qId, _, qv) =>
      val probed = cents.map { case (l, cv) =>
        (graft.operators.VectorOps.roundAt(
          graft.operators.VectorOps.dist2(qv, cv), 6), l)
      }.sorted.take(Similarity.NProbe).map(_._2).toSet
      val qnv = graft.operators.VectorOps.l2Normalize(qv)
      typed.filter(t => probed.contains(t._2) && t._1 != qId)
        .map { case (nId, _, nv) =>
          (qId, graft.operators.VectorOps.roundAt(
            graft.operators.VectorOps.dot(qnv,
              graft.operators.VectorOps.l2Normalize(nv)), 4), nId)
        }
        .sortBy { case (_, sim, nId) => (-sim, nId) }
        .take(Similarity.K).zipWithIndex
        .map { case ((q, sim, nId), i) => (q, i + 1, nId, sim) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = HnswRouted.lifecycle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    graft.operators.MemoStats.clearAll(spark)
  }
}
