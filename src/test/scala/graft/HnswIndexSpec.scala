package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HnswIndex, Similarity}

/** HNSW graph index: deterministic reproducible builds, the exact-top-k
  * recall gate at both test scales, versioned merge lifecycle with
  * idempotent replay, and the in-memory capacity gate.
  */
class HnswIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  test("levelOf: deterministic, geometric-ish decay, bounded") {
    val ls = (0L until 4096L).map(HnswIndex.levelOf)
    assert(ls == (0L until 4096L).map(HnswIndex.levelOf)) // stable
    val l0 = ls.count(_ == 0)
    // P(level >= 1) = 1/16: expect ~256 of 4096 above level 0
    assert(l0 > 3500 && l0 < 4050, s"level-0 share off: $l0")
    assert(ls.max <= 12 && ls.max >= 1)
  }

  test("build is reproducible: two builds of the same corpus produce " +
    "identical graphs, and search achieves exact top-k at sf0.001") {
    val r1 = Files.createTempDirectory("hnsw-a").toString
    val r2 = Files.createTempDirectory("hnsw-b").toString
    HnswIndex.build(spark, sf0001, r1)
    HnswIndex.build(spark, sf0001, r2)
    val g1 = HnswIndex.loadGraph(spark, r1)
    val g2 = HnswIndex.loadGraph(spark, r2)
    assert(g1.entry == g2.entry && g1.entryLevel == g2.entryLevel)
    assert(g1.nodes.keySet == g2.nodes.keySet)
    g1.nodes.foreach { case (id, (nv, per)) =>
      val (nv2, per2) = g2.nodes(id)
      assert(nv.sameElements(nv2))
      assert(per.length == per2.length &&
        per.zip(per2).forall { case (a, b) => a.sameElements(b) }, s"node $id")
    }
    // exact-recall gate (the sim_hnsw_topk oracle contract)
    val brute = Similarity.bruteForceTopK(spark, sf0001)
      .select("q_id", "rank", "n_id", "sim").collect().toSeq
    val queries = {
      import spark.implicits._
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .as[(Long, Array[Double])]
        .filter(_._1 % Similarity.QueryStride == 0)
        .map { case (id, v) =>
          (id, graft.operators.VectorOps.l2Normalize(v)) }
    }
    val got = HnswIndex.query(spark, r1, queries, Similarity.K)
      .collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))) ==
      brute.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))))
  }

  test("recall stays 1.0 at sf0.1 (2000 vectors, 40 queries) — the " +
    "documented serving-tier recall vs sim_brute_topk") {
    val dir = "/root/testdata/sf0.1"
    val brute = Similarity.bruteForceTopK(spark, dir)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hnsw = HnswIndex.topK(spark, dir)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (hnsw & brute).size.toDouble / brute.size
    assert(recall == 1.0, s"recall regressed: $recall")
  }

  test("merge: inserts a batch as a new version, replays idempotently, " +
    "retires old versions with a one-version grace") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnsw-m").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i)) // deterministic
    val base = (0L until 50L).map(id => (id, vec(id))).toDF("vec_id", "v")
    HnswIndex.build(base, root)
    assert(HnswIndex.loadGraph(spark, root).nodes.size == 50)
    val batch = (50L until 80L).map(id => (id, vec(id))).toDF("vec_id", "v")
    HnswIndex.merge(batch, root)
    val g2 = HnswIndex.loadGraph(spark, root)
    assert(g2.nodes.size == 80)
    // replay: same fingerprint → no new version
    val before = new java.io.File(root).list().toSet
    HnswIndex.merge(batch, root)
    assert(new java.io.File(root).list().toSet == before)
    // a second distinct batch retires version 1 (grace keeps v2+v3)
    val batch2 = (80L until 90L).map(id => (id, vec(id))).toDF("vec_id", "v")
    HnswIndex.merge(batch2, root)
    val files = new java.io.File(root).list().toSet
    assert(files.contains("graph.v3") && files.contains("graph.v2") &&
      !files.contains("graph.v1"), files.toSeq.sorted)
    assert(HnswIndex.loadGraph(spark, root).nodes.size == 90)
    // merged graph == from-scratch build of the union (same insert order)
    val scratch = Files.createTempDirectory("hnsw-s").toString
    HnswIndex.build((0L until 90L).map(id => (id, vec(id)))
      .toDF("vec_id", "v"), scratch)
    val gm = HnswIndex.loadGraph(spark, root)
    val gs = HnswIndex.loadGraph(spark, scratch)
    assert(gm.entry == gs.entry && gm.nodes.keySet == gs.nodes.keySet)
    gm.nodes.foreach { case (id, (_, per)) =>
      assert(per.zip(gs.nodes(id)._2)
        .forall { case (a, b) => a.sameElements(b) }, s"node $id")
    }
  }

  test("rebuild after merges resets the root: the fresh build is what " +
    "readers resolve, not a stale higher-versioned merged graph") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnsw-rebuild").toString
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i))
    HnswIndex.build((0L until 40L).map(id => (id, vec(id)))
      .toDF("vec_id", "v"), root)
    HnswIndex.merge((40L until 60L).map(id => (id, vec(id)))
      .toDF("vec_id", "v"), root)
    assert(HnswIndex.loadGraph(spark, root).nodes.size == 60)
    // rebuild with a DIFFERENT corpus: without resetRoot the committed
    // graph.v2 would shadow the new graph.v1 forever
    HnswIndex.build((100L until 110L).map(id => (id, vec(id)))
      .toDF("vec_id", "v"), root)
    val g = HnswIndex.loadGraph(spark, root)
    assert(g.nodes.keySet == (100L until 110L).toSet,
      s"rebuild invisible behind a stale merged version: ${g.nodes.size}")
    assert(!new java.io.File(root).list().contains("graph.v2"))
  }

  test("SQL surface: GRAFT INDEX BUILD/MERGE HNSW drives the same " +
    "lifecycle as the Scala API") {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("hnsw_vecs")
    val root = Files.createTempDirectory("hnsw-sql").toString
    val built = spark.sql(s"GRAFT INDEX BUILD HNSW '$root/g' FROM " +
      "(SELECT vec_id, v FROM hnsw_vecs WHERE vec_id % 10 <> 3)").collect()
    assert(built.head.getString(2).contains("graph v1"))
    val merged = spark.sql(s"GRAFT INDEX MERGE HNSW '$root/g' FROM " +
      "(SELECT vec_id, v FROM hnsw_vecs WHERE vec_id % 10 = 3)").collect()
    assert(merged.head.getString(2).contains("graph v2"))
    // the merged SQL-built graph equals the Scala build of the union
    val scalaRoot = Files.createTempDirectory("hnsw-sql-twin").toString
    HnswIndex.build(spark, sf0001, scalaRoot)
    val gSql = HnswIndex.loadGraph(spark, s"$root/g")
    val gApi = HnswIndex.loadGraph(spark, scalaRoot)
    assert(gSql.entry == gApi.entry &&
      gSql.nodes.keySet == gApi.nodes.keySet)
    gSql.nodes.foreach { case (id, (_, per)) =>
      assert(per.zip(gApi.nodes(id)._2)
        .forall { case (a, b) => a.sameElements(b) }, s"node $id")
    }
  }

  test("capacity gate: a corpus past MaxBuild fails loudly with the " +
    "IVF pointer, before any graph work") {
    import spark.implicits._
    val root = Files.createTempDirectory("hnsw-cap").toString
    val big = spark.range(0, HnswIndex.MaxBuild + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0)).as("v"))
    val e = intercept[IllegalArgumentException](HnswIndex.build(big, root))
    assert(e.getMessage.contains("IVF"))
  }
}
