package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GenerationStore, IndexStore, MinhashIndex, Scratch,
  TermStatsIndex, WinnowIndex}

/** The generation-store protocol, checked once per family that runs on
  * it: a generation written but never marked stays invisible and its
  * retry converges to a fresh build, a compaction staged but never
  * published keeps the old answers, and re-merging a committed batch
  * (even after newer batches landed) commits nothing.
  */
class IndexGenerationStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private case class Family(name: String, store: GenerationStore,
                            query: (SparkSession, String, DataFrame) => DataFrame)

  private val families = Seq(
    Family("minhash", MinhashIndex, MinhashIndex.query),
    Family("winnow", WinnowIndex, WinnowIndex.query),
    Family("terms", TermStatsIndex, TermStatsIndex.query))

  private def docs = graft.sources.Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("text"))
  private def increment = docs.filter(col("doc_id") % 10 === 3)
  /** Landed batch `k` of three: the non-increment docs, doc_id % 3 = k. */
  private def batch(k: Int) =
    docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 3 === k)

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

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

    test(s"${f.name}: a crash before the generation marker stays invisible; the retry converges") {
      withRoots(s"${f.name}-crash") { (idx, fresh) =>
        store.build(batch(0), idx)
        val before = rows(query(spark, idx, increment))
        store.build(batch(0).unionByName(batch(1)), fresh)
        val union = rows(query(spark, fresh, increment))
        assert(union != before, "fixture: batch 1 must change the answers")
        // the merge's data files land, its g1 marker never does
        store.writeGeneration(batch(1), idx, gen = 1L, v = 1L)
        assert(rows(query(spark, idx, increment)) == before,
          "an unmarked generation must be invisible")
        store.merge(batch(1), idx)
        assert(rows(query(spark, idx, increment)) == union,
          "the retried merge must equal a fresh build over the union")
      }
    }

    test(s"${f.name}: a compaction staged but not published keeps the old answers") {
      withRoots(s"${f.name}-compact") { (idx, fresh) =>
        store.build(batch(0), idx)
        store.merge(batch(2), idx)
        val before = rows(query(spark, idx, increment))
        store.build(docs.filter(col("doc_id") % 10 =!= 3), fresh)
        val all = rows(query(spark, fresh, increment))
        assert(all != before, "fixture: batch 1 must change the answers")
        // the compaction stages version 2 (folding gens 0 and 1), never
        // publishes it
        val (oldV, newV) = store.writeCompacted(spark, idx)
        assert((oldV, newV) == (1L, 2L))
        assert(rows(query(spark, idx, increment)) == before,
          "an unpublished version must not be read")
        // a later merge lands in the published version 1, so reading
        // the staged fold would lose batch 1
        store.merge(batch(1), idx)
        assert(rows(query(spark, idx, increment)) == all)
        // the retried compaction clears the stale staging before folding
        store.compact(spark, idx)
        assert(rows(query(spark, idx, increment)) == all,
          "a stale staged fold resurfaced after the retried compaction")
      }
    }

    test(s"${f.name}: re-merging an already-committed batch is a no-op") {
      withRoots(s"${f.name}-remerge") { (idx, _) =>
        store.build(batch(0), idx)
        store.merge(batch(1), idx)
        store.merge(batch(2), idx)
        val gens = IndexStore.committedGens(spark, idx)
        val before = rows(query(spark, idx, increment))
        // an at-least-once re-delivery of batch 1, after batch 2 landed
        store.merge(batch(1), idx)
        assert(IndexStore.committedGens(spark, idx) == gens,
          "the re-delivered batch was committed again")
        assert(rows(query(spark, idx, increment)) == before)
      }
    }
  }
}
