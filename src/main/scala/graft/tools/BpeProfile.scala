package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession}
import graft.operators.Bpe
import graft.sources.Tables

/** Phase attribution for the text_bpe_encode bench row (dev tool):
  * where do the seconds go between TRAINING (vocab job + driver
  * rounds) and ENCODE (the broadcast-merge map), and what hit rate
  * does the per-partition word cache actually see.
  *
  * Usage: `runMain graft.tools.BpeProfile [sfDir]`
  */
object BpeProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(cpus, "graft-bpeprofile")
    import graft.functions.tokens

    // cache economics: the encode cache hits once per repeated word
    val stats = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("d")).head()
    val (nTok, nDist) = (stats.getLong(0), stats.getLong(1))
    println(f"[bpeprofile] tokens $nTok%,d distinct $nDist%,d " +
      f"(best-case cache hit rate ${100.0 * (nTok - nDist) / nTok}%.1f%%)")

    (1 to 3).foreach { pass =>
      Bench.resetPass(spark)
      val t0 = System.nanoTime()
      val ms = Bpe.learnedMerges(spark, dir) // vocab job + driver rounds
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = Bpe.encode(spark, dir).count() // merge table is memoized now
      val tEnc = (System.nanoTime() - t1) / 1e9
      println(f"[bpeprofile] pass $pass: train $tTrain%.2f s " +
        f"(${ms.length} merges) | encode+sort $tEnc%.2f s ($n docs) " +
        f"| total ${tTrain + tEnc}%.2f s")
    }
    spark.stop()
  }
}
