package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GenerationStore, HnswRouted, IndexStore, IvfIndex,
  MinhashIndex, PqIndex, Scratch, Similarity, TermStatsIndex, WinnowIndex}

/** The generation-store protocol, checked once per family that runs on
  * it: a generation written but never marked stays invisible and its
  * retry converges to a clean history, a compaction staged but never
  * published keeps the old answers, and re-merging a committed batch
  * (even after newer batches landed, and the build batch itself)
  * commits nothing.
  */
class IndexGenerationStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `frozenModel`: the family trains a model at build that merges
    * reuse, so a clean history is build-then-merge, not a build over
    * the union. */
  private case class Family(name: String, store: GenerationStore,
                            corpus: () => DataFrame, id: String,
                            query: String => DataFrame,
                            frozenModel: Boolean = false)

  private def docs = graft.sources.Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("text"))
  private def increment = docs.filter(col("doc_id") % 10 === 3)
  private def vecs = Similarity.corpus(spark, sf0001)

  private val families = Seq(
    Family("minhash", MinhashIndex, () => docs, "doc_id",
      MinhashIndex.query(spark, _, increment)),
    Family("winnow", WinnowIndex, () => docs, "doc_id",
      WinnowIndex.query(spark, _, increment)),
    Family("terms", TermStatsIndex, () => docs, "doc_id",
      TermStatsIndex.query(spark, _, increment)),
    Family("ivf", IvfIndex, () => vecs, "vec_id",
      IvfIndex.topK(spark, _), frozenModel = true),
    Family("pq", PqIndex, () => vecs, "vec_id",
      PqIndex.topK(spark, sf0001, _), frozenModel = true),
    Family("routed", HnswRouted, () => vecs, "vec_id",
      HnswRouted.query(spark, sf0001, _), frozenModel = true))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  private def gens(idx: String): Seq[Long] = {
    val (hfs, p) = IndexStore.fs(spark, idx)
    IndexStore.markedIds(hfs, p, "g").sorted
  }

  private def withRoots(tag: String)(body: (String, String) => Unit): Unit = {
    val a = Files.createTempDirectory(s"graft-gs-$tag").toString
    val b = Files.createTempDirectory(s"graft-gs-$tag-fresh").toString
    try body(s"$a/idx", s"$b/idx")
    finally {
      Scratch.rm(new java.io.File(a)); Scratch.rm(new java.io.File(b))
    }
  }

  families.foreach { f =>
    import f.{query, store}
    /** Landed batch `k` of three: the non-increment rows, id % 3 = k. */
    def batch(k: Int) = f.corpus()
      .filter(col(f.id) % 10 =!= 3 && col(f.id) % 3 === k)
    /** The index a crash-free history over `bs` leaves at `root`. */
    def clean(bs: Seq[DataFrame], root: String): Unit =
      if (f.frozenModel) {
        store.build(bs.head, root)
        bs.tail.foreach(store.merge(_, root))
      } else store.build(bs.reduce(_ unionByName _), root)

    test(s"${f.name}: a crash before the generation marker stays invisible; the retry converges") {
      withRoots(s"${f.name}-crash") { (idx, fresh) =>
        store.build(batch(0), idx)
        val before = rows(query(idx))
        clean(Seq(batch(0), batch(1)), fresh)
        val union = rows(query(fresh))
        assert(union != before, "fixture: batch 1 must change the answers")
        // the merge's data files land, its g1 marker never does
        store.writeGeneration(batch(1), idx, gen = 1L, v = 1L)
        assert(rows(query(idx)) == before,
          "an unmarked generation must be invisible")
        store.merge(batch(1), idx)
        assert(rows(query(idx)) == union,
          "the retried merge must equal a crash-free history")
      }
    }

    test(s"${f.name}: a compaction staged but not published keeps the old answers") {
      withRoots(s"${f.name}-compact") { (idx, fresh) =>
        store.build(batch(0), idx)
        store.merge(batch(2), idx)
        val before = rows(query(idx))
        clean(Seq(batch(0), batch(1), batch(2)), fresh)
        val all = rows(query(fresh))
        assert(all != before, "fixture: batch 1 must change the answers")
        // the compaction stages version 2 (folding gens 0 and 1), never
        // publishes it
        val (oldV, newV) = store.writeCompacted(spark, idx)
        assert((oldV, newV) == (1L, 2L))
        assert(rows(query(idx)) == before,
          "an unpublished version must not be read")
        // a later merge lands in the published version 1, so reading
        // the staged fold would lose batch 1
        store.merge(batch(1), idx)
        assert(rows(query(idx)) == all)
        // the retried compaction clears the stale staging before folding
        store.compact(spark, idx)
        assert(rows(query(idx)) == all,
          "a stale staged fold resurfaced after the retried compaction")
      }
    }

    test(s"${f.name}: re-merging an already-committed batch is a no-op") {
      withRoots(s"${f.name}-remerge") { (idx, _) =>
        store.build(batch(0), idx)
        store.merge(batch(1), idx)
        store.merge(batch(2), idx)
        val committed = gens(idx)
        val before = rows(query(idx))
        // an at-least-once re-delivery of batch 1, after batch 2 landed
        store.merge(batch(1), idx)
        assert(gens(idx) == committed,
          "the re-delivered batch was committed again")
        assert(rows(query(idx)) == before)
      }
    }

    test(s"${f.name}: merging the batch the index was built from is a no-op") {
      withRoots(s"${f.name}-rebuilt") { (idx, _) =>
        store.build(batch(0), idx)
        val before = rows(query(idx))
        store.merge(batch(0), idx)
        assert(gens(idx) == Seq(0L), "the build batch was committed again")
        assert(rows(query(idx)) == before)
      }
    }
  }

  test("ivf: a batch merged before a rebuild stays committed after it") {
    withRoots("ivf-rebuild") { (idx, _) =>
      val inc = vecs.filter(col("vec_id") % 10 === 3)
      IvfIndex.build(vecs.filter(col("vec_id") % 10 =!= 3), idx)
      IvfIndex.merge(inc, idx)
      IvfIndex.rebuild(spark, idx)
      def cellRows() = IvfIndex.probedCells(spark, idx,
        IvfIndex.centroidTable(spark, idx).map(_._1).toSeq).count()
      val n = cellRows()
      assert(n == vecs.count())
      // the increment re-delivered after the rebuild
      IvfIndex.merge(inc, idx)
      assert(gens(idx) == Seq(0L), "the re-delivered batch was committed again")
      assert(cellRows() == n)
    }
  }
}
