package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DecontamIndex, Scratch}

/** Persisted decontamination index: the stored filter must round-trip
  * bit-exactly, query results must match the from-scratch Bloom path
  * row for row, and the artifact must stay bounded by filter geometry.
  */
class DecontamIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  test("persisted query == in-memory decontaminateBloom") {
    val viaIndex = DecontamIndex.persistedDecontam(spark, sf0001)
      .collect().map(_.toSeq)
    // decontaminateBloom publishes to the session memo: start it cold
    graft.operators.MemoStats.clearAll(spark)
    val inMemory = Dedup.decontaminateBloom(spark, sf0001)
      .collect().map(_.toSeq)
    assert(viaIndex.nonEmpty)
    assert(viaIndex.toSeq == inMemory.toSeq)
  }

  test("bloom words round-trip the store bit-exactly") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    val root = Files.createTempDirectory("graft-dcidx-rt").toString
    try {
      DecontamIndex.build(evalDocs, s"$root/idx")
      val loaded = DecontamIndex.loadBloom(spark, s"$root/idx")
      // rebuild in memory with the same geometry the artifact declares
      val sh = spark.read.parquet(s"$root/idx/shingles.parquet")
      val direct = Dedup.bloomBuild(sh, "s", loaded.length * 64)
      assert(loaded.toSeq == direct.toSeq)
      assert(loaded.exists(_ != 0L), "filter must have set bits")
    } finally Scratch.rm(new java.io.File(root))
  }

  test("merge(new eval batch) == fresh build over the union") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val evalA = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    // overlapping batch: shares docs with A (dup shingles must NOT
    // double-append) plus genuinely new docs
    val evalB = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0
      && col("doc_id") % Dedup.EvalStride =!= 0)
    val merged = Files.createTempDirectory("graft-dcidx-m1").toString
    val fresh = Files.createTempDirectory("graft-dcidx-m2").toString
    try {
      DecontamIndex.build(evalA, s"$merged/idx")
      DecontamIndex.merge(evalB, s"$merged/idx")
      DecontamIndex.build(evalA.unionByName(evalB).distinct(), s"$fresh/idx")
      // shingle tables equal as sets (merge appended only the delta)
      val mSh = spark.read.parquet(s"$merged/idx/shingles.parquet")
      assert(mSh.count() == mSh.distinct().count(),
        "merge must never append a duplicate shingle")
      assert(mSh.collect().map(_.getString(0)).sorted.toSeq ==
        spark.read.parquet(s"$fresh/idx/shingles.parquet")
          .collect().map(_.getString(0)).sorted.toSeq)
      // filter bit-identical (same geometry branch: OR is monotone)
      assert(DecontamIndex.loadBloom(spark, s"$merged/idx").toSeq ==
        DecontamIndex.loadBloom(spark, s"$fresh/idx").toSeq)
      // and the decontamination answers match row for row
      assert(DecontamIndex.query(spark, s"$merged/idx", corpus)
        .collect().map(_.toSeq).toSeq ==
        DecontamIndex.query(spark, s"$fresh/idx", corpus)
          .collect().map(_.toSeq).toSeq)
    } finally {
      Scratch.rm(new java.io.File(merged)); Scratch.rm(new java.io.File(fresh))
    }
  }

  test("merge with nothing new is a no-op") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val evalA = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    val root = Files.createTempDirectory("graft-dcidx-noop").toString
    try {
      DecontamIndex.build(evalA, s"$root/idx")
      val before = DecontamIndex.loadBloom(spark, s"$root/idx").toSeq
      val nBefore = spark.read.parquet(s"$root/idx/shingles.parquet").count()
      DecontamIndex.merge(evalA, s"$root/idx")
      assert(DecontamIndex.loadBloom(spark, s"$root/idx").toSeq == before)
      assert(spark.read.parquet(s"$root/idx/shingles.parquet").count() == nBefore)
    } finally Scratch.rm(new java.io.File(root))
  }

  test("merge past the geometry boundary rebuilds the filter larger") {
    import spark.implicits._
    // each doc contributes ~998 distinct shingles (unique tokens);
    // 200 docs ≈ 200k > 2^20/8 = 131k items → bits must double
    def uniqueDocs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until 1000).map(j => s"u${i}t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-dcidx-grow").toString
    try {
      DecontamIndex.build(uniqueDocs(0 until 10), s"$root/idx")
      val small = DecontamIndex.loadBloom(spark, s"$root/idx").length
      assert(small * 64 == Dedup.BloomBits) // floor geometry
      DecontamIndex.merge(uniqueDocs(10 until 210), s"$root/idx")
      val grown = DecontamIndex.loadBloom(spark, s"$root/idx")
      assert(grown.length > small, "filter must grow past the boundary")
      val n = spark.read.parquet(s"$root/idx/shingles.parquet").count()
      assert(grown.length * 64 == Dedup.bloomBitsFor(n),
        "rebuilt geometry must match the grown set")
      // rebuilt filter == a fresh build at the same geometry
      val direct = Dedup.bloomBuild(
        spark.read.parquet(s"$root/idx/shingles.parquet"), "s",
        grown.length * 64)
      assert(grown.toSeq == direct.toSeq)
    } finally Scratch.rm(new java.io.File(root))
  }

  test("artifact is bounded by geometry, not eval-set size") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-dcidx-geom").toString
    try {
      DecontamIndex.build(docs.filter(col("doc_id") % Dedup.EvalStride === 0),
        s"$root/idx")
      val nWords = DecontamIndex.loadBloom(spark, s"$root/idx").length
      // the persisted sparse rows can never exceed the dense word count
      val sparseRows = DecontamIndex.bloomTable(spark, s"$root/idx").count()
      assert(sparseRows <= nWords)
      assert(nWords * 64 >= Dedup.BloomBits) // floor geometry respected
    } finally Scratch.rm(new java.io.File(root))
  }

  test("streaming shard gate: multi-batch, equals batch query, replay-idempotent") {
    val root = Files.createTempDirectory("graft-dcidx-stream").toString
    try {
      val docs = graft.sources.Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % Dedup.EvalStride =!= 0)
      DecontamIndex.build(
        docs.filter(col("doc_id") % Dedup.EvalStride === 0), s"$root/idx")
      corpus.repartition(4).write.parquet(s"$root/src")

      val q = DecontamIndex.streamingDecontam(spark, s"$root/idx",
        s"$root/src", s"$root/out", s"$root/ckpt", maxFilesPerTrigger = 1)
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "4 shard files at 1/trigger must take multiple micro-batches")

      val streamed = spark.read.parquet(s"$root/out")
        .select("doc_id", "n_shared", "contaminated")
        .orderBy("doc_id").collect().map(_.toSeq)
      val batch = DecontamIndex.query(spark, s"$root/idx", corpus)
        .collect().map(_.toSeq)
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq,
        "per-shard streaming counts must equal the batch operator")

      // replay idempotence: a caught-up checkpoint re-run emits nothing
      // new and the batch_id=N overwrite layout leaves no duplicates
      val q2 = DecontamIndex.streamingDecontam(spark, s"$root/idx",
        s"$root/src", s"$root/out", s"$root/ckpt", maxFilesPerTrigger = 1)
      q2.awaitTermination()
      val again = spark.read.parquet(s"$root/out")
        .select("doc_id", "n_shared", "contaminated")
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(again.toSeq == streamed.toSeq, "restart duplicated rows")
    } finally Scratch.rm(new java.io.File(root))
  }

  test("streaming gate on a clean corpus returns empty, not a schema error") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dcidx-clean").toString
    try {
      // eval and corpus share NO vocabulary → zero shared shingles →
      // every per-batch output is empty and no parquet file is written
      DecontamIndex.build(
        Seq((0L, "alpha beta gamma delta epsilon zeta"))
          .toDF("doc_id", "text"), s"$root/idx")
      Seq((1L, "one two three four five six"),
          (2L, "seven eight nine ten eleven twelve"))
        .toDF("doc_id", "text")
        .repartition(2).write.parquet(s"$root/src")
      val q = DecontamIndex.streamingDecontam(spark, s"$root/idx",
        s"$root/src", s"$root/out", s"$root/ckpt")
      q.awaitTermination()
      val out = spark.read
        .schema("doc_id LONG, n_shared LONG, contaminated BOOLEAN")
        .parquet(s"$root/out")
      assert(out.count() == 0, "clean corpus must flag nothing")
    } finally Scratch.rm(new java.io.File(root))
  }
}
