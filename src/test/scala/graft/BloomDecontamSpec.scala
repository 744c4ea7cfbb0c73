package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The Bloom-gated decontamination path: result identity with the exact
  * operator, the no-false-negative contract the identity rests on, and
  * the selectivity that justifies the filter's existence at scale.
  */
class BloomDecontamSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val ex = Dedup.shingles(spark, sf0001)
    .select(col("doc_id"), explode(col("sh")).as("s"))
  private lazy val evalSh = ex.filter(col("doc_id") % Dedup.EvalStride === 0)
    .select(col("s")).distinct()
  private lazy val words = Dedup.bloomBuild(evalSh, "s")

  test("bloom probe has no false negatives over the built set") {
    val missed = evalSh
      .filter(!Dedup.bloomMightContain(words, col("s")))
      .count()
    assert(missed == 0, s"$missed eval shingles failed their own probe")
  }

  test("bloom pre-filter discards most non-matching corpus shingles") {
    val corpus = ex.filter(col("doc_id") % Dedup.EvalStride =!= 0)
    val total = corpus.count()
    val pass = corpus.filter(Dedup.bloomMightContain(words, col("s"))).count()
    val truePos = corpus.join(evalSh, "s").select("s").count()
    assert(pass < total,
      s"filter passed everything ($pass of $total)")
    // false-positive mass is bounded: survivors ≤ true matches plus a
    // modest multiple of the eval-side fraction of the space
    assert(pass - truePos <= (total - truePos) / 2,
      s"fp too high: $pass survivors, $truePos true matches of $total")
  }

  test("decontaminateBloom is bit-identical to decontaminate") {
    val exact = Dedup.decontaminate(spark, sf0001).collect()
    val bloom = Dedup.decontaminateBloom(spark, sf0001).collect()
    assert(exact.length == bloom.length)
    exact.zip(bloom).foreach { case (a, b) => assert(a == b) }
  }

  test("big-eval shape: shuffle confirm join (no broadcast) stays exact") {
    // the Bloom path's reason to exist is an eval set too large to
    // broadcast — force the confirm join onto the shuffle path and the
    // counts must still match the broadcast-exact ones (the crossover
    // timings for this shape live in SCALE.md)
    val docsFrame = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % Dedup.EvalStride =!= 0)
    val exact = Dedup.decontaminate(spark, sf0001)
      .select("doc_id", "n_shared").collect().toSet
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noBc = Dedup.decontaminateBloomFrames(docsFrame, evalSh, words)
        .select("doc_id", "n_shared").collect().toSet
      assert(noBc == exact)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }
}
