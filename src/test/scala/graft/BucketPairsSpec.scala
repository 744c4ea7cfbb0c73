package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BucketPairs
import graft.streaming.BucketPairs.BucketRow

/** The shared bucket join of the streaming near-dup twins, on a
  * trivial member type (every pair scores 0.0): residents are evicted
  * one watermark delay past their bucket's newest row and no sooner,
  * and probe-only rows never become residents.
  */
class BucketPairsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(s: Long) = new Timestamp(1704067200000L + s * 1000L)

  /** (bucket, id, register, event_ts) batches through the join with a
    * 10-second watermark delay → the emitted (a, b) pairs. */
  private def run(batches: Seq[Seq[(String, Long, Boolean, Timestamp)]])
      : Set[(Long, Long)] = {
    import spark.implicits._
    val stream = MemoryStream[(String, Long, Boolean, Timestamp)](spark)
    val hits = BucketPairs.pairs(
        stream.toDF().toDF("bucket", "id", "register", "event_ts"),
        "10 seconds", bootstrapCorpus = None)(
      _.as[(String, Long, Boolean, Timestamp)]
        .map { case (b, id, reg, t) => BucketRow(b, id, reg, 0, t) })(
      (_, _) => Some(0.0))
    val name = s"bucket_pairs_${System.nanoTime()}"
    val q = hits.writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("bucket-pairs-ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).as[BucketPairs.Hit].collect()
        .map(h => (h.a, h.b)).toSet
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("a resident past its bucket's newest event_ts plus the delay is " +
    "evicted; an arrival inside the delay still pairs") {
    val got = run(Seq(
      // bucket a: resident 1 at 0 s, timeout 10 s
      Seq(("a", 1L, true, ts(0))),
      // bucket b: resident 10 at 15 s, timeout 25 s; row c at 30 s moves
      // the watermark to 20 s, past a's timeout but not b's
      Seq(("b", 10L, true, ts(15)), ("c", 99L, true, ts(30))),
      Seq(("a", 2L, true, ts(31)), ("b", 11L, true, ts(31)))))
    assert(got == Set((10L, 11L)),
      s"expected only the inside-delay pair (10, 11), got $got")
  }

  test("a row with register = false compares but never becomes a resident") {
    val got = run(Seq(
      Seq(("r", 5L, false, ts(0))),
      Seq(("r", 6L, true, ts(1))),
      Seq(("r", 7L, false, ts(2)), ("r", 8L, false, ts(2)))))
    assert(got == Set((6L, 7L), (6L, 8L)),
      s"only the registered id 6 may pair, got $got")
  }
}
