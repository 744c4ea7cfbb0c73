package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DecontamIndex, MinhashIndex, Scratch}

/** Crash-injection and portability for the persisted index artifacts:
  * kill the writer between its steps, reopen, query — the answer must
  * equal the last committed state exactly (never a partial batch, and
  * for the Bloom index never a false negative), and a retry must
  * converge to the fresh-build answer. Both indexes must also operate
  * on an explicit `file://`-scheme Hadoop path (the FS-abstract proof:
  * no `java.io.File` shortcut survives in the write path) and arbitrate
  * concurrent same-JVM writers.
  */
class IndexDurabilitySpec extends AnyFunSuite {
  import SparkTestSession._

  private def docsOf(dir: String) =
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("minhash: crash before the generation marker leaves the merge invisible; retry converges") {
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val a = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-dur-mh").toString
    val freshRoot = Files.createTempDirectory("graft-dur-mh2").toString
    try {
      MinhashIndex.build(a, s"$root/idx")
      val before = rows(MinhashIndex.query(spark, s"$root/idx", inc))
      // simulated crash: generation files fully written, marker never
      // published (writeGeneration without the `_commits/g<G>` mark
      // that GenerationStore.merge writes after it)
      MinhashIndex.writeGeneration(b, s"$root/idx", gen = 1L, v = 1L)
      val afterCrash = rows(MinhashIndex.query(spark, s"$root/idx", inc))
      assert(afterCrash == before,
        "an uncommitted generation must be invisible — no partial batch")
      // retry the merge for real: overwrites the orphans, commits
      MinhashIndex.merge(b, s"$root/idx")
      MinhashIndex.build(a.unionByName(b), s"$freshRoot/idx")
      assert(rows(MinhashIndex.query(spark, s"$root/idx", inc)) ==
        rows(MinhashIndex.query(spark, s"$freshRoot/idx", inc)),
        "retried merge must equal a fresh build over the union")
    } finally {
      Scratch.rm(new java.io.File(root))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("minhash: compact crash windows — staged-unpublished keeps old answers, published-unretired keeps both versions readable") {
    import spark.implicits._
    def identical(ids: Range) = ids.map(i => (i.toLong,
      "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-dur-cpt").toString
    try {
      val idx = s"$root/idx"
      MinhashIndex.build(identical(0 until 300), idx)
      MinhashIndex.merge(identical(300 until 600), idx)
      val inc = identical(600 until 605)
      val before = rows(MinhashIndex.query(spark, idx, inc))
      // crash window 1: new version staged, marker never written —
      // readers must still resolve the OLD version
      val (oldV, newV) = MinhashIndex.writeCompacted(spark, idx)
      assert(rows(MinhashIndex.query(spark, idx, inc)) == before)
      // crash window 2: marker written, old version not yet retired —
      // readers pick the newest committed version; answers unchanged
      MinhashIndex.publishCompacted(spark, idx, newV)
      assert(rows(MinhashIndex.query(spark, idx, inc)) == before)
      // recovery completes the retire; answers still unchanged and the
      // stale residents are gone
      MinhashIndex.retireCompacted(spark, idx, oldV)
      assert(rows(MinhashIndex.query(spark, idx, inc)) == before)
      MinhashIndex.bandTable(spark, idx).groupBy("b", "k").count()
        .collect().foreach(r => assert(r.getLong(2) == Dedup.HotGroupCap))
    } finally Scratch.rm(new java.io.File(root))
  }

  test("minhash: whole lifecycle on an explicit file:// Hadoop path") {
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val localRoot = Files.createTempDirectory("graft-dur-fs").toString
    val idx = s"file://$localRoot/idx"
    try {
      MinhashIndex.build(corpus.filter(col("doc_id") % 2 === 0), idx)
      MinhashIndex.merge(corpus.filter(col("doc_id") % 2 === 1), idx)
      MinhashIndex.compact(spark, idx)
      val got = rows(MinhashIndex.query(spark, idx, inc))
      assert(got.nonEmpty)
      assert(got == rows(Dedup.minhashJoin(inc, corpus)),
        "file://-scheme index must answer like the in-memory operator")
    } finally Scratch.rm(new java.io.File(localRoot))
  }

  test("decontam: crash between filter publish and shingle append — no false negatives, retry converges") {
    val docs = docsOf(sf0001)
    val evalA = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    val evalB = docs.filter(col("doc_id") % 20 === 0
      && col("doc_id") % Dedup.EvalStride =!= 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0
      && col("doc_id") % Dedup.EvalStride =!= 0)
    val root = Files.createTempDirectory("graft-dur-dc").toString
    val freshRoot = Files.createTempDirectory("graft-dur-dc2").toString
    try {
      val idx = s"$root/idx"
      DecontamIndex.build(evalA, idx)
      val before = rows(DecontamIndex.query(spark, idx, corpus))
      // simulated crash: the grown filter version is committed, the
      // batch's shingles never land — the filter-first order means the
      // orphaned bits are pure false positives, which the confirm join
      // removes: queries answer exactly as before the merge
      val plan = DecontamIndex.planMerge(evalB, idx)
      assert(plan.nonEmpty, "fixture must have new shingles to merge")
      DecontamIndex.commitBloom(spark, idx, plan.get)
      assert(rows(DecontamIndex.query(spark, idx, corpus)) == before,
        "orphaned filter bits must never change answers (no false negatives)")
      // retry the merge for real; compare against a fresh union build
      DecontamIndex.merge(evalB, idx)
      DecontamIndex.build(evalA.unionByName(evalB), s"$freshRoot/idx")
      assert(DecontamIndex.loadBloom(spark, idx).toSeq ==
        DecontamIndex.loadBloom(spark, s"$freshRoot/idx").toSeq,
        "retried merge must converge to the fresh build's filter")
      val sh = spark.read.parquet(s"$idx/shingles.parquet")
      assert(sh.count() == sh.distinct().count(),
        "retry must not duplicate shingles")
      assert(rows(DecontamIndex.query(spark, idx, corpus)) ==
        rows(DecontamIndex.query(spark, s"$freshRoot/idx", corpus)))
    } finally {
      Scratch.rm(new java.io.File(root))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("term-stats: crash before the marker is invisible; retry converges; file:// path") {
    import graft.operators.TermStatsIndex
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val a = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 1)
    val root = "file://" +
      Files.createTempDirectory("graft-dur-ts").toString
    val freshRoot = Files.createTempDirectory("graft-dur-ts2").toString
    try {
      TermStatsIndex.build(a, s"$root/idx")
      val before = rows(TermStatsIndex.query(spark, s"$root/idx", inc))
      // simulated crash: generation files fully written, marker never
      // published
      TermStatsIndex.writeGeneration(b, s"$root/idx", gen = 1L, v = 1L)
      assert(rows(TermStatsIndex.query(spark, s"$root/idx", inc)) == before,
        "an uncommitted generation must be invisible — no partial stats")
      // retry the merge for real: overwrites the orphans, commits
      TermStatsIndex.merge(b, s"$root/idx")
      TermStatsIndex.build(a.unionByName(b), s"$freshRoot/idx")
      assert(rows(TermStatsIndex.query(spark, s"$root/idx", inc)) ==
        rows(TermStatsIndex.query(spark, s"$freshRoot/idx", inc)),
        "retried merge must equal a fresh build over the union")
    } finally {
      Scratch.rm(new java.io.File(
        root.stripPrefix("file://")))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("decontam: whole lifecycle on an explicit file:// Hadoop path") {
    val docs = docsOf(sf0001)
    val evalDocs = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    val corpus = docs.filter(col("doc_id") % Dedup.EvalStride =!= 0)
    val localRoot = Files.createTempDirectory("graft-dur-dcfs").toString
    val idx = s"file://$localRoot/idx"
    try {
      val stride2 = 2 * Dedup.EvalStride
      DecontamIndex.build(evalDocs.filter(col("doc_id") % stride2 === 0), idx)
      DecontamIndex.merge(evalDocs.filter(col("doc_id") % stride2 =!= 0), idx)
      val got = rows(DecontamIndex.query(spark, idx, corpus))
      assert(got.nonEmpty)
      graft.operators.MemoStats.clearAll(spark)
      assert(got == rows(Dedup.decontaminateBloom(spark, sf0001)),
        "file://-scheme index must answer like the in-memory operator")
    } finally Scratch.rm(new java.io.File(localRoot))
  }

  test("minhash: a crashed compact's stale staging never resurfaces after later merges") {
    import spark.implicits._
    def identical(ids: Range) = ids.map(i => (i.toLong,
      "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-dur-stale").toString
    val freshRoot = Files.createTempDirectory("graft-dur-stale2").toString
    try {
      val idx = s"$root/idx"
      MinhashIndex.build(identical(0 until 300), idx)
      MinhashIndex.merge(identical(300 until 600), idx)
      // crash: compact stages v2 folding gens {0,1}, never publishes
      MinhashIndex.writeCompacted(spark, idx)
      // an intervening merge commits gen 2 under the still-live v1
      MinhashIndex.merge(identical(600 until 900), idx)
      // the retried compact folds gens {0,1,2} into v2 — it must CLEAR
      // the crashed staging first: the stale v2/gen=1 fold holds every
      // gen-0/1 row again, and surfacing it would double-count band
      // rows and crowd genuine residents out of the cap window
      MinhashIndex.compact(spark, idx)
      val inc = identical(900 until 905)
      MinhashIndex.build(identical(0 until 900), s"$freshRoot/idx")
      assert(rows(MinhashIndex.query(spark, idx, inc)) ==
        rows(MinhashIndex.query(spark, s"$freshRoot/idx", inc)),
        "stale compact staging resurfaced — duplicated band rows")
      MinhashIndex.bandTable(spark, idx).groupBy("b", "k").count()
        .collect().foreach(r => assert(r.getLong(2) == Dedup.HotGroupCap,
          "a bucket holds duplicated residents"))
    } finally {
      Scratch.rm(new java.io.File(root))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("minhash: retrying an already-committed merge is a no-op") {
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val a = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-dur-retry").toString
    try {
      val idx = s"$root/idx"
      MinhashIndex.build(a, idx)
      MinhashIndex.merge(b, idx)
      val nBands = MinhashIndex.bandTable(spark, idx).count()
      val before = rows(MinhashIndex.query(spark, idx, inc))
      // the at-least-once retry: orchestrator crashed AFTER the commit
      // marker landed, so the same batch is merged again — the batch
      // fingerprint in the marker must make it a no-op (a second
      // generation of the same docs would duplicate every band row)
      MinhashIndex.merge(b, idx)
      assert(MinhashIndex.bandTable(spark, idx).count() == nBands,
        "retried merge committed the batch twice")
      assert(rows(MinhashIndex.query(spark, idx, inc)) == before)
    } finally Scratch.rm(new java.io.File(root))
  }

  test("a DELAYED duplicate merge — after newer batches landed — is still a no-op") {
    import graft.operators.TermStatsIndex
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val a = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 3 === 1)
    val c = docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 3 === 2)
    val mh = Files.createTempDirectory("graft-dur-late-mh").toString
    val ts = Files.createTempDirectory("graft-dur-late-ts").toString
    try {
      // at-least-once re-delivery of batch b AFTER batch c landed: the
      // fingerprint rides in g1's marker, not the newest — scanning only
      // the newest marker would re-commit b and double-count it
      MinhashIndex.build(a, s"$mh/idx")
      MinhashIndex.merge(b, s"$mh/idx")
      MinhashIndex.merge(c, s"$mh/idx")
      val nBands = MinhashIndex.bandTable(spark, s"$mh/idx").count()
      val before = rows(MinhashIndex.query(spark, s"$mh/idx", inc))
      MinhashIndex.merge(b, s"$mh/idx")
      assert(MinhashIndex.bandTable(spark, s"$mh/idx").count() == nBands,
        "delayed duplicate merge committed the batch twice")
      assert(rows(MinhashIndex.query(spark, s"$mh/idx", inc)) == before)

      TermStatsIndex.build(a, s"$ts/idx")
      TermStatsIndex.merge(b, s"$ts/idx")
      TermStatsIndex.merge(c, s"$ts/idx")
      val nDocs = TermStatsIndex.docCount(spark, s"$ts/idx")
      val scores = rows(TermStatsIndex.query(spark, s"$ts/idx", inc))
      TermStatsIndex.merge(b, s"$ts/idx")
      assert(TermStatsIndex.docCount(spark, s"$ts/idx") == nDocs,
        "delayed duplicate merge double-counted the batch's doc stats")
      assert(rows(TermStatsIndex.query(spark, s"$ts/idx", inc)) == scores)
    } finally {
      Scratch.rm(new java.io.File(mh)); Scratch.rm(new java.io.File(ts))
    }
  }

  test("racing writers with mixed path spellings share one monitor") {
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val rest = docs.filter(col("doc_id") % 10 =!= 3)
    val a = rest.filter(col("doc_id") % 3 === 0)
    val b = rest.filter(col("doc_id") % 3 === 1)
    val c = rest.filter(col("doc_id") % 3 === 2)
    val localRoot = Files.createTempDirectory("graft-dur-spell").toString
    val freshRoot = Files.createTempDirectory("graft-dur-spell2").toString
    try {
      val bare = s"$localRoot/idx"
      val qualified = s"file://$localRoot/idx"
      MinhashIndex.build(a, bare)
      // one writer addresses the root bare, the other file://-qualified
      // — the lock keys on the FULLY QUALIFIED path, so they must still
      // serialize (raw-string keying would hand them separate monitors
      // and one batch's generation would overwrite the other's)
      val threads = Seq(bare -> b, qualified -> c).map { case (path, batch) =>
        new Thread(() => MinhashIndex.merge(batch, path))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      MinhashIndex.build(rest, s"$freshRoot/idx")
      assert(rows(MinhashIndex.query(spark, bare, inc)) ==
        rows(MinhashIndex.query(spark, s"$freshRoot/idx", inc)),
        "mixed-spelling writers raced — a batch was lost")
    } finally {
      Scratch.rm(new java.io.File(localRoot))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("concurrent same-JVM merges serialize: both batches land, union answer") {
    val docs = docsOf(sf0001)
    val inc = docs.filter(col("doc_id") % 10 === 3)
    val rest = docs.filter(col("doc_id") % 10 =!= 3)
    val a = rest.filter(col("doc_id") % 3 === 0)
    val b = rest.filter(col("doc_id") % 3 === 1)
    val c = rest.filter(col("doc_id") % 3 === 2)
    val root = Files.createTempDirectory("graft-dur-cc").toString
    val freshRoot = Files.createTempDirectory("graft-dur-cc2").toString
    try {
      val idx = s"$root/idx"
      MinhashIndex.build(a, idx)
      // two racing writers: the per-root lock must serialize their
      // write/commit steps so each gets its own generation — an
      // interleaving would let both compute the same generation id and
      // one batch silently overwrite the other
      val threads = Seq(b, c).map { batch =>
        new Thread(() => MinhashIndex.merge(batch, idx))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      MinhashIndex.build(rest, s"$freshRoot/idx")
      val got = rows(MinhashIndex.query(spark, idx, inc))
      assert(got.nonEmpty)
      assert(got == rows(MinhashIndex.query(spark, s"$freshRoot/idx", inc)),
        "racing merges must both land — neither batch may be lost")
    } finally {
      Scratch.rm(new java.io.File(root))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }

  test("pq/ivf: an unmarked generation — even with a torn file — is invisible and vacuum sweeps it") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-dur-ann").toString
    try {
      val vecs = graft.operators.Similarity
        .corpus(spark, sf0001).select(col("vec_id"), col("v"))
      graft.operators.PqIndex.build(vecs, s"$root/pq")
      val before = rows(graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq"))
      // simulated crash: a merge died mid-write, leaving an orphan
      // generation dir holding a TORN (truncated, unreadable) parquet
      // file — the explicit-schema scan plus committed-gen pruning must
      // never open it
      val torn = new java.io.File(s"$root/pq/codes/gen=1")
      torn.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(torn, "part-00000.snappy.parquet").toPath,
        Array[Byte](80, 65, 82, 49, 0, 1, 2, 3))
      assert(rows(graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq"))
        == before, "an uncommitted generation must be invisible")
      graft.operators.PqIndex.vacuum(spark, s"$root/pq")
      assert(!torn.exists, "vacuum must sweep the orphan generation")
      assert(rows(graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq"))
        == before)

      val lvecs = graft.operators.Similarity.corpus(spark, sf0001)
      graft.operators.IvfIndex.build(lvecs, s"$root/ivf")
      val ivfBefore = rows(graft.operators.IvfIndex.topK(spark, s"$root/ivf"))
      val tornIvf = new java.io.File(s"$root/ivf/cells.v1/gen=1/label=0")
      tornIvf.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(tornIvf, "part-00000.snappy.parquet").toPath,
        Array[Byte](80, 65, 82, 49, 9, 9))
      assert(rows(graft.operators.IvfIndex.topK(spark, s"$root/ivf"))
        == ivfBefore, "an uncommitted IVF generation must be invisible")
      graft.operators.IvfIndex.vacuum(spark, s"$root/ivf")
      assert(!new java.io.File(s"$root/ivf/cells.v1/gen=1").exists)
    } finally Scratch.rm(new java.io.File(root))
  }

  test("pq/ivf: a build missing its artifact marker fails loudly, never serves mismatched artifacts") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-dur-ann2").toString
    try {
      val vecs = graft.operators.Similarity
        .corpus(spark, sf0001).select(col("vec_id"), col("v"))
      graft.operators.PqIndex.build(vecs, s"$root/pq")
      // simulated crash: codes committed, codebook marker never written
      // (build's last step) — every query entry point must refuse
      val (hfs, p) = graft.operators.IndexStore.fs(spark, s"$root/pq")
      graft.operators.IndexStore.unmark(hfs, p, "codebooks.v1")
      val e = intercept[IllegalArgumentException] {
        graft.operators.PqIndex.topK(spark, sf0001, s"$root/pq")
      }
      assert(e.getMessage.contains("re-run build"))

      graft.operators.IvfIndex.build(
        graft.operators.Similarity.corpus(spark, sf0001), s"$root/ivf")
      val (hfs2, p2) = graft.operators.IndexStore.fs(spark, s"$root/ivf")
      graft.operators.IndexStore.unmark(hfs2, p2, "centroids.v1")
      val e2 = intercept[IllegalArgumentException] {
        graft.operators.IvfIndex.topK(spark, s"$root/ivf")
      }
      assert(e2.getMessage.contains("re-run build"))
    } finally Scratch.rm(new java.io.File(root))
  }

  test("pq: whole incremental lifecycle on an explicit file:// Hadoop path") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-dur-ann3").toString
    try {
      val idx = s"file://$root/pq"
      val vecs = graft.operators.Similarity
        .corpus(spark, sf0001).select(col("vec_id"), col("v"))
      graft.operators.PqIndex.build(
        vecs.filter(col("vec_id") % 10 =!= 3), idx)
      graft.operators.PqIndex.merge(
        vecs.filter(col("vec_id") % 10 === 3), idx)
      graft.operators.PqIndex.vacuum(spark, idx)
      assert(graft.operators.PqIndex.codeTable(spark, idx).count() ==
        vecs.count(), "file:// lifecycle must cover the whole corpus")
    } finally Scratch.rm(new java.io.File(root))
  }

  test("concurrent same-JVM decontam merges serialize: filter equals fresh union build") {
    val docs = docsOf(sf0001)
    val evalAll = docs.filter(col("doc_id") % Dedup.EvalStride === 0)
    val a = evalAll.filter(col("doc_id") % 3 === 0)
    val b = evalAll.filter(col("doc_id") % 3 === 1)
    val c = evalAll.filter(col("doc_id") % 3 === 2)
    val root = Files.createTempDirectory("graft-dur-dccc").toString
    val freshRoot = Files.createTempDirectory("graft-dur-dccc2").toString
    try {
      val idx = s"$root/idx"
      DecontamIndex.build(a, idx)
      val threads = Seq(b, c).map { batch =>
        new Thread(() => DecontamIndex.merge(batch, idx))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      DecontamIndex.build(evalAll, s"$freshRoot/idx")
      assert(DecontamIndex.loadBloom(spark, idx).toSeq ==
        DecontamIndex.loadBloom(spark, s"$freshRoot/idx").toSeq,
        "racing merges must not interleave filter/shingle writes")
      val sh = spark.read.parquet(s"$idx/shingles.parquet")
      assert(sh.count() == sh.distinct().count())
    } finally {
      Scratch.rm(new java.io.File(root))
      Scratch.rm(new java.io.File(freshRoot))
    }
  }
}
