package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, Similarity}

/** Persistent IVF index: build/query parity with the in-memory
  * operator, incremental merges into frozen cells, and the
  * partition-pruning property that justifies the persisted layout.
  */
class IvfIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft-ivf-index").toString
    IvfIndex.build(spark, sf0001, p)
    p
  }

  test("persisted-index query is bit-identical to the in-memory operator") {
    val fromIndex = IvfIndex.topK(spark, indexPath).collect()
    val inMemory = Similarity.ivfTopK(spark, sf0001).collect()
    assert(fromIndex.nonEmpty)
    assert(fromIndex.sameElements(inMemory))
  }

  test("probed-cell scan prunes partitions to the probed labels") {
    val scan = IvfIndex.probedCells(spark, indexPath, Seq(0L, 1L))
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"),
      s"expected a partition-pruned scan, got:\n$scan")
    assert(scan.contains("label"),
      "the pruning predicate must be on the cell label")
    // the pruned scan must read strictly fewer files than the full corpus
    val all = spark.read.parquet(s"$indexPath/cells.v1")
    val pruned = IvfIndex.probedCells(spark, indexPath, Seq(0L, 1L))
    assert(pruned.count() < all.count())
    assert(pruned.select("label").distinct().count() == 2)
  }

  test("index layout: one centroid row per cell, cells hive-partitioned") {
    val cent = spark.read.parquet(s"$indexPath/centroids.v1.parquet")
    val labels = spark.read.parquet(s"$indexPath/cells.v1")
      .select("label").distinct().count()
    assert(cent.count() == labels)
    val cellDirs = new java.io.File(s"$indexPath/cells.v1/gen=0")
      .listFiles().count(_.getName.startsWith("label="))
    assert(cellDirs == labels)
  }

  test("merge files a batch into frozen cells; retry is a no-op") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-ivf-split").toString
    try {
      val vecs = graft.sources.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("label").cast("long"),
          col("embedding").cast("array<double>").as("v"))
      IvfIndex.build(vecs.filter(col("vec_id") % 10 < 6), s"$root/idx")
      val centBefore = spark.read
        .parquet(s"$root/idx/centroids.v1.parquet").collect().map(_.toSeq)
      IvfIndex.merge(vecs.filter(col("vec_id") % 10 >= 6), s"$root/idx")
      // centroids are frozen: byte-identical before and after the merge
      val centAfter = spark.read
        .parquet(s"$root/idx/centroids.v1.parquet").collect().map(_.toSeq)
      assert(centBefore.sameElements(centAfter))
      // the cells now cover the whole corpus
      import spark.implicits._
      val n = vecs.count()
      val labels = vecs.select("label").distinct().as[Long].collect().toSeq
      val got = IvfIndex.probedCells(spark, s"$root/idx", labels)
      assert(got.count() == n)
      // retrying the SAME merge batch is a fingerprint-detected no-op
      IvfIndex.merge(vecs.filter(col("vec_id") % 10 >= 6), s"$root/idx")
      assert(IvfIndex.probedCells(spark, s"$root/idx", labels).count() == n,
        "a retried merge must not duplicate cell rows")
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("ingest assigns bare vectors to their nearest frozen cell; " +
       "retry is a no-op; build-first is enforced") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ivf-ingest").toString
    try {
      val vecs = graft.operators.Similarity.corpus(spark, sf0001)
      val landed = vecs.filter(col("vec_id") % 10 =!= 3)
      val crawl = vecs.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("v"))
      // ingest before build fails loudly
      val e = intercept[IllegalArgumentException](
        IvfIndex.ingest(crawl, s"$root/none"))
      assert(e.getMessage.contains("run build first"))
      IvfIndex.build(landed, s"$root/idx")
      val centBefore = spark.read
        .parquet(s"$root/idx/centroids.v1.parquet").collect().map(_.toSeq)
      IvfIndex.ingest(crawl, s"$root/idx")
      // centroids frozen; every crawl vector landed in exactly one cell
      val centAfter = spark.read
        .parquet(s"$root/idx/centroids.v1.parquet").collect().map(_.toSeq)
      assert(centBefore.sameElements(centAfter))
      val labels = landed.select(col("label").cast("long"))
        .distinct().as[Long].collect().toSeq
      val cells = IvfIndex.probedCells(spark, s"$root/idx", labels)
      assert(cells.count() == vecs.count())
      // assignment is the argmin over frozen centroids (brute-check a
      // few rows against the centroid table)
      val cents = spark.read.parquet(s"$root/idx/centroids.v1.parquet")
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val crawlRows = crawl.as[(Long, Array[Double])].collect().take(10)
      val assigned = cells.join(crawl.select(col("vec_id")), "vec_id")
        .select(col("vec_id"), col("label")).as[(Long, Long)]
        .collect().toMap
      crawlRows.foreach { case (id, v) =>
        val want = cents.minBy { case (l, cv) =>
          (graft.operators.VectorOps.roundAt(
            graft.operators.VectorOps.dist2(v, cv), 6), l)
        }._1
        assert(assigned(id) == want, s"vec $id assigned ${assigned(id)}")
      }
      // retry of the same batch is fingerprint-detected
      IvfIndex.ingest(crawl, s"$root/idx")
      assert(IvfIndex.probedCells(spark, s"$root/idx", labels).count() ==
        vecs.count(), "a retried ingest must not duplicate cell rows")
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("compact folds generations into one versioned cell tree; " +
       "queries are unchanged and later merges keep appending") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-ivf-compact").toString
    try {
      val vecs = graft.operators.Similarity.corpus(spark, sf0001)
      IvfIndex.build(vecs.filter(col("vec_id") % 10 < 5), s"$root/idx")
      IvfIndex.merge(vecs.filter(col("vec_id") % 10 >= 5)
        .filter(col("vec_id") % 10 < 8), s"$root/idx")
      IvfIndex.ingest(vecs.filter(col("vec_id") % 10 >= 8)
        .select(col("vec_id"), col("v")), s"$root/idx")
      val before = IvfIndex.topK(spark, s"$root/idx").collect()
      IvfIndex.compact(spark, s"$root/idx")
      // one folded generation dir in the new version; old version
      // retired down to the one-version grace
      assert(new java.io.File(s"$root/idx/cells.v2")
        .listFiles().count(_.getName.startsWith("gen=")) == 1)
      // queries over the compacted tree are bit-identical
      val after = IvfIndex.topK(spark, s"$root/idx").collect()
      assert(after.sameElements(before))
      // a second compact retires v1 (grace window moves forward)
      IvfIndex.compact(spark, s"$root/idx")
      assert(!new java.io.File(s"$root/idx/cells.v1").exists())
      assert(IvfIndex.topK(spark, s"$root/idx").collect()
        .sameElements(before))
      // merges after compaction append into the live version
      IvfIndex.merge(vecs.filter(col("vec_id") % 10 >= 5)
        .filter(col("vec_id") % 10 < 8)
        .withColumn("vec_id", col("vec_id") + 1000000L), s"$root/idx")
      val labels = vecs.select(col("label").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSeq
      assert(IvfIndex.probedCells(spark, s"$root/idx", labels).count() >
        vecs.count())
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("drift maintenance: a shifted distribution ingested against " +
       "frozen centroids degrades recall@k; REBUILD restores it and " +
       "resets the drift clock") {
    import spark.implicits._
    import graft.operators.VectorOps
    val root = Files.createTempDirectory("graft-ivf-drift").toString
    try {
      val idx = s"$root/idx"
      val dims = Similarity.Dims
      val n = 300 // per blob
      // deterministic per-id noise so frame ordering cannot matter
      def vecFor(id: Long, axis: Int): Array[Double] = {
        val r = new scala.util.Random(id)
        Array.tabulate(dims)(d =>
          (if (d == axis) 10.0 else 0.0) + r.nextGaussian() * 0.5)
      }
      // BUILD population: 8 blobs on axes 0..7, ids on ODD residues
      // mod 16 — multiples of 50 are even mod 16, so the query set
      // (vec_id % QueryStride == 0) comes entirely from the SHIFTED
      // population below
      val original = for (b <- 0 until 8; j <- 0 until n)
        yield (16L * j + 2 * b + 1, b.toLong, vecFor(16L * j + 2 * b + 1, b))
      IvfIndex.build(original.toDF("vec_id", "label", "v"), idx)
      // DRIFT: 8 NEW blobs on axes 8..15 (orthogonal to every trained
      // centroid — assign-only ingest scatters each blob across the
      // old cells by noise), ids on EVEN residues
      val shifted = for (b <- 0 until 8; j <- 0 until n)
        yield (16L * j + 2 * b, vecFor(16L * j + 2 * b, 8 + b))
      IvfIndex.ingest(shifted.toDF("vec_id", "v"), idx)
      val drift = IvfIndex.driftFraction(spark, idx)
      assert(math.abs(drift - 0.5) < 0.01, s"drift should be ~0.5: $drift")

      // recall@K against driver-side brute force, same rounding and
      // tie discipline as the index path
      val allVecs = (original.map(t => (t._1, t._3)) ++ shifted).toMap
      def recall(): Double = {
        val got = IvfIndex.topK(spark, idx).collect()
          .groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(2)).toSet).toMap
        val queries = allVecs.keys.filter(_ % Similarity.QueryStride == 0)
          .toSeq.sorted
        assert(queries.nonEmpty && got.keySet == queries.toSet)
        val hits = queries.map { q =>
          val qv = allVecs(q)
          val truth = allVecs.iterator.filter(_._1 != q)
            .map { case (id, v) =>
              (id, VectorOps.roundAt(VectorOps.cosineRaw(qv, v), 4))
            }
            .toSeq.sortBy { case (id, s) => (-s, id) }
            .take(Similarity.K).map(_._1).toSet
          (got(q) intersect truth).size.toDouble / Similarity.K
        }
        hits.sum / hits.size
      }
      val before = recall()
      assert(before < 0.6,
        s"fixture broken: frozen-centroid recall should be poor, got $before")
      val (rebuilt, atDecision) = IvfIndex.rebuildIfDrifted(spark, idx, 0.3)
      assert(rebuilt && atDecision >= 0.3)
      val after = recall()
      assert(after > 0.8 && after > before + 0.3,
        s"rebuild must restore recall: before $before, after $after")
      // the drift clock reset: a second trigger is a no-op
      val (again, post) = IvfIndex.rebuildIfDrifted(spark, idx, 0.3)
      assert(!again && post == 0.0, s"post-rebuild drift: $post")
      // the SQL spelling reports the skip/rebuild decision
      val note = spark.sql(s"GRAFT INDEX REBUILD IVF '$idx' THRESHOLD 0.3")
        .head.getString(2)
      assert(note.startsWith("skipped"), note)
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }
}
