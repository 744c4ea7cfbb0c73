package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrowInterchange

/** Streaming WRITE into Arrow shard trees
  * (`df.writeStream.format("graft-arrow")`): per-epoch shard commits
  * with markers, append mode builds the tree, complete mode replaces
  * it, and the tree is immediately consumable by every reader surface
  * (batch DSv2, readArrow, the streaming source). */
class ArrowStreamWriteSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-arrow-streamwrite").toString

  private val srcSchema = StructType(Seq(
    StructField("id", LongType), StructField("t", StringType)))

  test("append mode: one committed shard per micro-batch, lossless") {
    import spark.implicits._
    val root = tmp()
    (0L until 40L).map(i => (i, s"t$i")).toDF("id", "t")
      .repartition(4).write.parquet(s"$root/src")
    val q = spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 2).parquet(s"$root/src")
      .writeStream.format("graft-arrow")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(s"$root/out")
    q.awaitTermination()
    val shards = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.startsWith("batch_id=")).sortBy(_.getName)
    assert(shards.length >= 2, "stream must really micro-batch")
    assert(shards.forall(d => new java.io.File(d, "_SUCCESS").exists()))
    assert(new java.io.File(s"$root/out").listFiles()
      .forall(!_.getName.contains("staging")), "staging debris left")
    // every reader surface consumes the tree identically
    assert(spark.read.format("graft-arrow").load(s"$root/out")
      .select("id").as[Long].collect().sorted.toSeq == (0L until 40L))
    assert(ArrowInterchange.readArrow(spark, s"$root/out")
      .select("id").as[Long].collect().sorted.toSeq == (0L until 40L))
  }

  test("complete mode: the tree holds exactly the latest epoch's result") {
    import spark.implicits._
    val root = tmp()
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[Long]
    mem.addData(1L, 2L, 2L)
    val q = mem.toDF().groupBy(col("value")).count()
      .writeStream.format("graft-arrow").outputMode("complete")
      .option("checkpointLocation", s"$root/ckpt")
      .start(s"$root/out")
    try {
      q.processAllAvailable()
      mem.addData(2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    val shards = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.startsWith("batch_id="))
    assert(shards.length == 1,
      s"complete mode must retire earlier epochs: ${shards.toSeq}")
    val got = spark.read.format("graft-arrow").load(s"$root/out")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (2L, 3L), (3L, 1L)))
  }

  test("a crashed prior run's staging is swept, never published dirty") {
    import spark.implicits._
    val root = tmp()
    new java.io.File(s"$root/out").mkdirs()
    // debris a crashed run left mid-epoch-0: a staged part that would
    // otherwise publish ALONGSIDE the replay's files (duplicated rows)
    ArrowInterchange.exportArrow((900L until 905L).toDF("value"),
      s"$root/debris")
    val staged = new java.io.File(s"$root/out/.epoch-0.staging-deadrun")
    staged.mkdirs()
    val part = new java.io.File(s"$root/debris").listFiles()
      .filter(_.getName.endsWith(".arrows")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(staged, "part-00099.arrows").toPath)
    // the "replayed" run writes epoch 0 fresh
    (0L until 8L).toDF("value").repartition(1)
      .write.parquet(s"$root/src")
    val q = spark.readStream
      .schema(StructType(Seq(StructField("value", LongType))))
      .parquet(s"$root/src")
      .writeStream.format("graft-arrow")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(s"$root/out")
    q.awaitTermination()
    assert(!staged.exists(), "prior run's staging must be swept")
    val got = spark.read.format("graft-arrow").load(s"$root/out")
      .as[Long].collect().sorted.toSeq
    assert(got == (0L until 8L),
      s"debris rows leaked into the published shard: $got")
  }

  test("arrow-to-arrow relay: streaming source feeds the streaming sink") {
    import spark.implicits._
    val root = tmp()
    // producer tree
    ArrowInterchange.exportArrow((0L until 10L).toDF("v"),
      s"$root/in/batch_id=0")
    ArrowInterchange.exportArrow((10L until 20L).toDF("v"),
      s"$root/in/batch_id=1")
    val q = spark.readStream.format("graft-arrow").load(s"$root/in")
      .select(col("v"), (col("v") * 2).as("v2"))
      .writeStream.format("graft-arrow")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(s"$root/out")
    q.awaitTermination()
    val back = spark.read.format("graft-arrow").load(s"$root/out")
      .orderBy("v").collect()
    assert(back.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 20L).map(v => (v, v * 2)))
  }
}
