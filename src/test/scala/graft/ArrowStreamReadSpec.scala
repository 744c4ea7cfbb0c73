package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrowInterchange

/** Streaming read over Arrow shard trees: incremental shard admission
  * by offset, committed-prefix gating (uncommitted shards stop
  * admission, never get skipped), resume from checkpoint, batch read of
  * the same tree through the DSv2 source. */
class ArrowStreamReadSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-arrow-streamread").toString

  private def writeShard(root: String, id: Long, lo: Long, hi: Long): Unit = {
    import spark.implicits._
    ArrowInterchange.exportArrow(
      (lo until hi).toDF("v"), s"$root/batch_id=$id")
  }

  private def drain(src: String, out: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft-arrow").load(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.withColumn("b", lit(id)).write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("shards stream incrementally; resume reads only new shards") {
    import spark.implicits._
    val root = tmp()
    writeShard(s"$root/src", 0L, 0L, 10L)
    writeShard(s"$root/src", 1L, 10L, 20L)
    drain(s"$root/src", s"$root/out", s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").select("v")
      .as[Long].collect().sorted.toSeq == (0L until 20L))
    // a later producer batch lands; the SAME checkpoint reads ONLY it
    writeShard(s"$root/src", 2L, 20L, 30L)
    drain(s"$root/src", s"$root/out", s"$root/ckpt")
    val all = spark.read.parquet(s"$root/out")
    assert(all.select("v").as[Long].collect().sorted.toSeq == (0L until 30L),
      "resume must read exactly the new shard, no re-reads")
    // column pruning pushes through the stream scan: a projected read
    // still answers correctly
    assert(all.count() == 30L)
  }

  test("an uncommitted shard stops admission instead of being skipped") {
    import spark.implicits._
    val root = tmp()
    writeShard(s"$root/src", 0L, 0L, 5L)
    writeShard(s"$root/src", 1L, 5L, 10L)
    writeShard(s"$root/src", 2L, 10L, 15L)
    // shard 1 loses its marker (mid-replay): the stream must stop at
    // the committed prefix (shard 0 only) — shard 2 is NOT skipped to
    assert(new java.io.File(s"$root/src/batch_id=1/_SUCCESS").delete())
    drain(s"$root/src", s"$root/out", s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").select("v")
      .as[Long].collect().sorted.toSeq == (0L until 5L))
    // the replay completes; the next run admits shards 1 AND 2 in order
    writeShard(s"$root/src", 1L, 5L, 10L)
    drain(s"$root/src", s"$root/out", s"$root/ckpt")
    assert(spark.read.parquet(s"$root/out").select("v")
      .as[Long].collect().sorted.toSeq == (0L until 15L))
  }

  test("maxShardsPerTrigger caps each micro-batch; AvailableNow still " +
       "drains the backlog in steps") {
    import spark.implicits._
    val root = tmp()
    (0 until 5).foreach(i =>
      writeShard(s"$root/src", i.toLong, i * 10L, i * 10L + 10L))
    val q = spark.readStream.format("graft-arrow")
      .option("maxShardsPerTrigger", "2").load(s"$root/src")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.withColumn("b", lit(id)).write.mode("append").parquet(s"$root/out")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$root/out")
    assert(out.select("v").as[Long].collect().sorted.toSeq == (0L until 50L),
      "the capped drain must still cover the whole backlog")
    val batches = out.select("b").distinct().count()
    assert(batches >= 3, s"5 shards / cap 2 must take >= 3 batches, got $batches")
  }

  test("a plain export dir fails the streaming read loudly; " +
       "marker-less external trees stream with requireMarker=false") {
    import spark.implicits._
    val root = tmp()
    // plain export: offsets are shard ids, so streaming it would yield
    // an empty stream forever — must fail at start instead
    ArrowInterchange.exportArrow((0L until 5L).toDF("v"), s"$root/plain")
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-arrow").load(s"$root/plain")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck0")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("shard tree"), s"unexpected failure: $msgs")
    // an externally-written tree (no markers anywhere) streams when the
    // caller takes ownership of completeness — same batch-path contract
    writeShard(s"$root/ext", 0L, 0L, 5L)
    writeShard(s"$root/ext", 1L, 5L, 10L)
    (0 to 1).foreach { i =>
      assert(new java.io.File(s"$root/ext/batch_id=$i/_SUCCESS").delete())
    }
    val q = spark.readStream.format("graft-arrow")
      .option("requireMarker", "false").load(s"$root/ext")
      .writeStream
      .option("checkpointLocation", s"$root/ck1")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$root/out"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$root/out").select("v")
      .as[Long].collect().sorted.toSeq == (0L until 10L))
  }

  test("the DSv2 batch scan reads a shard tree as one scan") {
    import spark.implicits._
    val root = tmp()
    writeShard(s"$root/src", 0L, 0L, 10L)
    writeShard(s"$root/src", 1L, 10L, 20L)
    val df = spark.read.format("graft-arrow").load(s"$root/src")
    assert(df.as[Long].collect().sorted.toSeq == (0L until 20L))
    // per-shard marker gating carries over from readArrow
    assert(new java.io.File(s"$root/src/batch_id=1/_SUCCESS").delete())
    val e = intercept[Exception] {
      spark.read.format("graft-arrow").load(s"$root/src").count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("_SUCCESS"), s"unexpected failure: $msgs")
  }
}
