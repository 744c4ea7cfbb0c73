package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MinhashIndex, TermStatsIndex, WinnowIndex}

/** GRAFT INDEX SQL verbs + the graft_index_query table function: the
  * SQL surface must produce bit-identical results to the Scala API
  * (same code paths underneath) across the index kinds, and reject
  * malformed statements loudly at parse time. */
class IndexSqlVerbsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-idx-sql").toString

  private def docsView(name: String): Unit =
    graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .createOrReplaceTempView(name)

  test("minhash: SQL build/merge/compact/query == Scala lifecycle") {
    docsView("idx_docs")
    val root = tmp()
    spark.sql(s"GRAFT INDEX BUILD MINHASH '$root/s' FROM " +
      "(SELECT doc_id, text FROM idx_docs WHERE doc_id % 10 NOT IN (3, 7))")
      .collect()
    val merged = spark.sql(s"GRAFT INDEX MERGE MINHASH '$root/s' FROM " +
      "(SELECT doc_id, text FROM idx_docs WHERE doc_id % 10 = 7)").collect()
    assert(merged.head.getLong(1) == 2L, "build + merge = two generations")
    spark.sql(s"GRAFT INDEX COMPACT MINHASH '$root/s'").collect()
    val viaSql = spark.sql("SELECT * FROM graft_index_query('minhash', " +
      s"'$root/s', '$sf0001', 'doc_id % 10 = 3') ORDER BY left_id, right_id")
      .collect()
    // the Scala path over an identically maintained twin
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    MinhashIndex.build(
      docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7),
      s"$root/t")
    MinhashIndex.merge(docs.filter(col("doc_id") % 10 === 7), s"$root/t")
    MinhashIndex.compact(spark, s"$root/t")
    val viaApi = MinhashIndex.query(spark, s"$root/t",
        docs.filter(col("doc_id") % 10 === 3))
      .orderBy("left_id", "right_id").collect()
    assert(viaSql.length == viaApi.length && viaSql.nonEmpty)
    viaSql.zip(viaApi).foreach { case (a, b) => assert(a == b) }
  }

  test("winnow and terms kinds run through the same verbs") {
    docsView("idx_docs2")
    val root = tmp()
    spark.sql(s"GRAFT INDEX BUILD WINNOW '$root/w' FROM " +
      "(SELECT doc_id, text FROM idx_docs2 WHERE doc_id % 2 = 0)").collect()
    spark.sql(s"GRAFT INDEX COMPACT WINNOW '$root/w'").collect()
    val w = spark.sql("SELECT * FROM graft_index_query('winnow', " +
      s"'$root/w', '$sf0001', 'doc_id % 2 = 1')").collect()
    val wApi = WinnowIndex.query(spark, s"$root/w",
      graft.sources.Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 1)).collect()
    assert(w.map(_.toString).sorted.toSeq ==
      wApi.map(_.toString).sorted.toSeq)
    spark.sql(s"GRAFT INDEX BUILD TERMS '$root/t' FROM " +
      "(SELECT doc_id, text FROM idx_docs2 WHERE doc_id % 2 = 0)").collect()
    val t = spark.sql("SELECT * FROM graft_index_query('terms', " +
      s"'$root/t', '$sf0001', 'doc_id % 2 = 1')").collect()
    val tApi = TermStatsIndex.query(spark, s"$root/t",
      graft.sources.Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 1)).collect()
    assert(t.map(_.toString).sorted.toSeq ==
      tApi.map(_.toString).sorted.toSeq)
    assert(t.nonEmpty && w.nonEmpty)
  }

  test("vector kinds: SQL-built IVF/PQ answer identically to the Scala API") {
    val root = tmp()
    graft.sources.Tables.embeddings(spark, sf0001)
      .createOrReplaceTempView("idx_vecs")
    spark.sql(s"GRAFT INDEX BUILD IVF '$root/ivf-sql' FROM " +
      "(SELECT vec_id, CAST(label AS BIGINT) AS label, " +
      "CAST(embedding AS array<double>) AS v FROM idx_vecs)").collect()
    graft.operators.IvfIndex.build(spark, sf0001, s"$root/ivf-api")
    val a = graft.operators.IvfIndex.topK(spark, s"$root/ivf-sql").collect()
    val b = graft.operators.IvfIndex.topK(spark, s"$root/ivf-api").collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    spark.sql(s"GRAFT INDEX BUILD PQ '$root/pq-sql' FROM " +
      "(SELECT vec_id, CAST(embedding AS array<double>) AS v " +
      "FROM idx_vecs)").collect()
    graft.operators.PqIndex.build(spark, sf0001, s"$root/pq-api")
    val c = graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq-sql").collect()
    val d = graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq-api").collect()
    assert(c.nonEmpty && c.toSeq == d.toSeq)
    // vacuum runs through the same verb surface
    spark.sql(s"GRAFT INDEX VACUUM IVF '$root/ivf-sql'").collect()
    assert(graft.operators.IvfIndex.topK(spark, s"$root/ivf-sql")
      .collect().toSeq == b.toSeq)
  }

  test("GRAFT INDEX INGEST: assign-only SQL ingest == the Scala API " +
    "for both IVF and HNSW_ROUTED; text kinds reject the verb") {
    val root = tmp()
    graft.sources.Tables.embeddings(spark, sf0001)
      .createOrReplaceTempView("ing_vecs")
    val landed = "SELECT vec_id, CAST(label AS BIGINT) AS label, " +
      "CAST(embedding AS array<double>) AS v FROM ing_vecs " +
      "WHERE vec_id % 10 <> 3"
    val bare = "SELECT vec_id, CAST(embedding AS array<double>) AS v " +
      "FROM ing_vecs WHERE vec_id % 10 = 3"
    for (kind <- Seq("IVF", "HNSW_ROUTED")) {
      spark.sql(s"GRAFT INDEX BUILD $kind '$root/$kind-sql' FROM ($landed)")
      val ingested =
        spark.sql(s"GRAFT INDEX INGEST $kind '$root/$kind-sql' FROM ($bare)")
          .collect()
      assert(ingested.head.getLong(1) == 2L,
        s"$kind: build + ingest = two generations")
    }
    // SQL twin == Scala twin, generation for generation
    val vecs = graft.operators.Similarity.corpus(spark, sf0001)
    graft.operators.HnswRouted.build(
      vecs.filter(col("vec_id") % 10 =!= 3), s"$root/hr-api")
    graft.operators.HnswRouted.ingest(
      vecs.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), col("v")), s"$root/hr-api")
    def served(r: String) = spark.read.parquet(s"$r/cells.v1")
      .select(col("label").cast("long"), col("vec_id"),
        col("gen").cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(identity).toSeq
    assert(served(s"$root/HNSW_ROUTED-sql") == served(s"$root/hr-api"))
    // INGEST is not in the grammar for the text kinds
    intercept[Exception] {
      spark.sql("GRAFT INDEX INGEST MINHASH '/tmp/x' FROM (SELECT 1)")
    }
  }

  test("GRAFT INDEX ADMIT: the SQL gate returns the admission log and " +
    "matches the Scala admit API on an identically maintained twin") {
    docsView("idx_docs_admit")
    val root = tmp()
    spark.sql(s"GRAFT INDEX BUILD MINHASH '$root/s' FROM " +
      "(SELECT doc_id, text FROM idx_docs_admit WHERE doc_id % 3 = 0)")
      .collect()
    val log = spark.sql(s"GRAFT INDEX ADMIT MINHASH '$root/s' FROM " +
      "(SELECT doc_id, text FROM idx_docs_admit WHERE doc_id % 3 = 1)")
      .collect()
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val batch1 = docs.filter(col("doc_id") % 3 === 1)
    assert(log.length == batch1.count(),
      "the log covers every batch doc, admitted or not")
    assert(log.map(_.getLong(0)).distinct.length == log.length)
    // twin via the Scala API: identical admitted set
    MinhashIndex.build(docs.filter(col("doc_id") % 3 === 0), s"$root/t")
    val viaApi = MinhashIndex.admit(batch1, s"$root/t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaSql = log.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(viaSql == viaApi, "SQL ADMIT and Scala admit gate identically")
    // the merge really happened: a second identical ADMIT now gates
    // against an index CONTAINING the survivors — still bit-identical
    // to the Scala twin, and strictly fewer docs get through
    val again = spark.sql(s"GRAFT INDEX ADMIT MINHASH '$root/s' FROM " +
      "(SELECT doc_id, text FROM idx_docs_admit WHERE doc_id % 3 = 1)")
      .collect().filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val againApi = MinhashIndex.admit(batch1, s"$root/t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == againApi,
      "second SQL ADMIT and second Scala admit gate identically")
    assert(again.size < viaSql.size,
      "re-admitting must reject survivors as near-dups of themselves")
    // ADMIT speaks exactly the gate kinds (MINHASH here, WINNOW via
    // its own spec): a kind without an admission gate refuses at run
    // time
    val e = intercept[Exception] {
      spark.sql(s"GRAFT INDEX ADMIT TERMS '$root/s' FROM " +
        "(SELECT doc_id, text FROM idx_docs_admit)").collect()
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("malformed statements fail loudly at parse time") {
    // unbalanced FROM query
    val e1 = intercept[Exception] {
      spark.sql("GRAFT INDEX BUILD MINHASH '/tmp/x' FROM (SELECT 1")
    }
    assert(e1.getMessage.contains("unbalanced"))
    // trailing junk after the query
    val e2 = intercept[Exception] {
      spark.sql("GRAFT INDEX MERGE MINHASH '/tmp/x' FROM (SELECT 1) extra")
    }
    assert(e2.getMessage.contains("trailing"))
    // bad source SQL is rejected at parse time, before anything runs
    intercept[Exception] {
      spark.sql("GRAFT INDEX BUILD MINHASH '/tmp/x' FROM (SELEC doc_id)")
    }
    // DECONTAM has no compact verb — not in the grammar
    intercept[Exception] {
      spark.sql("GRAFT INDEX COMPACT DECONTAM '/tmp/x'")
    }
    // unknown kind in the table function
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_index_query('btree', '/tmp/x', '$sf0001')")
        .collect()
    }
    assert(e3.getMessage.contains("unknown index kind"))
  }

  test("GRAFT INDEX REBUILD: PQ drift trigger retrains codebooks over " +
       "the FROM query only past the threshold") {
    val root = tmp()
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
    vecs.createOrReplaceTempView("rebuild_vecs")
    val idx = s"$root/pq"
    // build on the 0-half, merge the 1-half: drift = merged fraction
    graft.operators.PqIndex.build(
      vecs.filter("vec_id % 2 = 0")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v"), idx)
    graft.operators.PqIndex.merge(
      vecs.filter("vec_id % 2 = 1")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v"), idx)
    val drift = graft.operators.PqIndex.driftFraction(spark, idx)
    assert(drift > 0.4 && drift < 0.6, s"expected ~half drift: $drift")
    val from = "(SELECT vec_id, CAST(embedding AS array<double>) AS v " +
      "FROM rebuild_vecs)"
    // above the merged fraction: skip
    val skip = spark.sql(
      s"GRAFT INDEX REBUILD PQ '$idx' FROM $from THRESHOLD 0.9")
      .head.getString(2)
    assert(skip.startsWith("skipped"), skip)
    // below it: retrain over the full corpus; drift clock resets and
    // queries match a fresh whole-corpus build bit for bit
    val note = spark.sql(
      s"GRAFT INDEX REBUILD PQ '$idx' FROM $from THRESHOLD 0.3")
      .head.getString(2)
    assert(note.startsWith("rebuilt"), note)
    assert(graft.operators.PqIndex.driftFraction(spark, idx) == 0.0)
    graft.operators.PqIndex.build(spark, sf0001, s"$root/pq-fresh")
    assert(graft.operators.PqIndex.topK(spark, sf0001, idx).collect().toSeq
      == graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq-fresh")
        .collect().toSeq)
  }
}
