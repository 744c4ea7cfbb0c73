package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MemoStats, Scratch}
import graft.sources.Tables

/** The session memo registry: session-scoped clears with release
  * hooks, compute-once under concurrency, no entry after a failed
  * compute, and loader metadata that never counts as a warm hit. */
class MemoRegistrySpec extends AnyFunSuite {
  import SparkTestSession._

  test("clearAll(s) drops only s's entries and runs their release hooks") {
    val released = ArrayBuffer.empty[String]
    val table = new MemoStats.Table[String, String](
      release = v => released.synchronized(released += v))
    val other = spark.newSession()
    val computes = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession, tag: String) =
      table(s, "k") { computes.incrementAndGet(); tag }
    try {
      assert(get(spark, "mine") == "mine")
      assert(get(other, "theirs") == "theirs")
      assert(computes.get == 2, "sessions never share an entry")
      MemoStats.clearAll(spark)
      assert(released.toSeq == Seq("mine"))
      assert(get(other, "recomputed") == "theirs", "other session kept its entry")
      assert(get(spark, "again") == "again")
      assert(computes.get == 3)
    } finally {
      MemoStats.clearAll(spark)
      MemoStats.clearAll(other)
    }
    assert(released.toSeq.sorted == Seq("again", "mine", "theirs"))
  }

  test("concurrent first access computes once; the other callers are warm") {
    val s = spark.newSession()
    val table = new MemoStats.Table[String, Int]
    val computes = new AtomicInteger
    val n = 6
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val warm0 = MemoStats.warmHits
      val got = Await.result(Future.sequence((1 to n).map(_ => Future {
        barrier.await()
        table(s, "k") { computes.incrementAndGet(); Thread.sleep(200); 42 }
      })), 30.seconds)
      assert(got.forall(_ == 42))
      assert(computes.get == 1)
      assert(MemoStats.warmHits - warm0 == n - 1)
      // a compute may consult the registry for another key (memo
      // computes nest, e.g. minhashLsh → Tables.documents)
      assert(table(s, "outer")(table(s, "inner")(1) + 1) == 2)
    } finally {
      pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
      MemoStats.clearAll(s)
    }
  }

  test("a compute that throws leaves no entry; the next call recomputes") {
    val s = spark.newSession()
    val table = new MemoStats.Table[String, String]
    val computes = new AtomicInteger
    try {
      val warm0 = MemoStats.warmHits
      val e = intercept[IllegalStateException] {
        table(s, "k") { computes.incrementAndGet(); throw new IllegalStateException("boom") }
      }
      assert(e.getMessage == "boom")
      assert(table(s, "k") { computes.incrementAndGet(); "ok" } == "ok")
      assert(computes.get == 2)
      assert(MemoStats.warmHits == warm0)
    } finally MemoStats.clearAll(s)
  }

  test("Tables.load hits are not warm, survive clearDerived, and clearAll " +
    "re-reads a rewritten dir") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft-memo-tables").toString
    try {
      s.range(3).write.parquet(s"$dir/t.parquet")
      val first = Tables.load(s, dir, "t")
      assert(first.count() == 3)
      val warm0 = MemoStats.warmHits
      assert(Tables.load(s, dir, "t") eq first)
      assert(MemoStats.warmHits == warm0, "loader metadata is not a warm hit")
      s.range(5).write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.load(s, dir, "t") eq first, "immutable-dir contract")
      val derived = new MemoStats.Table[String, String]
      derived(s, "k")("v")
      MemoStats.clearDerived(s)
      assert(Tables.load(s, dir, "t") eq first, "the pass reset keeps metadata")
      assert(derived(s, "k")("recomputed") == "recomputed")
      MemoStats.clearAll(s)
      assert(Tables.load(s, dir, "t").count() == 5)
    } finally {
      MemoStats.clearAll(s)
      Scratch.rm(new java.io.File(dir))
    }
  }
}
