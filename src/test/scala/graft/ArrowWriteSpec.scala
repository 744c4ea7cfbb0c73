package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrowInterchange

/** DSv2 write surface (`df.write.format("graft-arrow")`): parity with
  * exportArrow, whole-export atomicity (staging swap, abort safety),
  * overwrite-only semantics, fresh-directory writes, nested types
  * through the catalyst-side codec. */
class ArrowWriteSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-arrow-write").toString

  private def staged() = {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("label"), col("embedding"))
  }

  test("writer output is read-compatible parity with exportArrow") {
    val out = tmp()
    val df = staged()
    df.write.format("graft-arrow").mode("overwrite").save(s"$out/w")
    ArrowInterchange.exportArrow(df, s"$out/e")
    // both artifacts carry the marker and the same footer schema…
    assert(new java.io.File(s"$out/w/_SUCCESS").exists())
    val w = ArrowInterchange.readArrow(spark, s"$out/w")
    val e = ArrowInterchange.readArrow(spark, s"$out/e")
    assert(w.schema == e.schema)
    // …and the rows of the exported frame, through either spelling of
    // the read over either artifact
    val want = df.orderBy("doc_id").collect()
    val a = w.orderBy("doc_id").collect()
    val b = e.orderBy("doc_id").collect()
    assert(a.length == want.length && a.length > 0)
    assert(b.length == want.length)
    a.zip(want).foreach { case (x, y) => assert(x == y) }
    b.zip(want).foreach { case (x, y) => assert(x == y) }
    val v2 = spark.read.format("graft-arrow").load(s"$out/w")
      .orderBy("doc_id").collect()
    assert(v2.length == want.length)
    v2.zip(want).foreach { case (x, y) => assert(x == y) }
  }

  test("writes to a fresh directory work; overwrite replaces wholesale") {
    import spark.implicits._
    val out = tmp()
    (0L until 10L).toDF("v").write.format("graft-arrow")
      .mode("overwrite").save(s"$out/fresh/t")
    assert(ArrowInterchange.readArrow(spark, s"$out/fresh/t")
      .as[Long].collect().sorted.toSeq == (0L until 10L))
    (100L until 103L).toDF("v").write.format("graft-arrow")
      .mode("overwrite").save(s"$out/fresh/t")
    assert(ArrowInterchange.readArrow(spark, s"$out/fresh/t")
      .as[Long].collect().sorted.toSeq == (100L until 103L))
  }

  test("append mode is rejected with the overwrite-only contract") {
    import spark.implicits._
    val out = tmp()
    val e = intercept[Exception] {
      (0L until 3L).toDF("v").write.format("graft-arrow")
        .mode("append").save(s"$out/t")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("overwrite-only"), s"unexpected failure: $msgs")
  }

  test("a failed write never harms a pre-existing destination; no debris") {
    import spark.implicits._
    val out = tmp()
    (0L until 5L).toDF("v").write.format("graft-arrow")
      .mode("overwrite").save(s"$out/t")
    // tasks fail at runtime (division in a udf) AFTER planning passed
    val boom = udf((v: Long) => if (v >= 0) throw new RuntimeException("boom") else v)
    intercept[Exception] {
      (0L until 5L).toDF("v").select(boom(col("v")).as("v"))
        .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    }
    assert(ArrowInterchange.readArrow(spark, s"$out/t")
      .as[Long].collect().sorted.toSeq == (0L until 5L))
    assert(new java.io.File(out).listFiles().map(_.getName).toSeq == Seq("t"),
      "staging debris left behind")
  }

  test("unsupported types fail at plan time with the field name, " +
       "before touching the destination") {
    import spark.implicits._
    val out = tmp()
    (0L until 2L).toDF("v").write.format("graft-arrow")
      .mode("overwrite").save(s"$out/t")
    val e = intercept[Exception] {
      Seq((1L, BigDecimal(1))).toDF("v", "dec").write
        .format("graft-arrow").mode("overwrite").save(s"$out/t")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("dec"), s"unexpected failure: $msgs")
    assert(ArrowInterchange.readArrow(spark, s"$out/t")
      .as[Long].collect().sorted.toSeq == (0L until 2L))
  }

  test("an all-empty write still produces a schema'd readable artifact") {
    import spark.implicits._
    val out = tmp()
    spark.emptyDataset[Long].toDF("v").where(col("v") > 0)
      .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq(("v", LongType)))
    assert(back.count() == 0)
  }

  test("nested types ride the catalyst write codec exactly") {
    val inner = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("st", StructType(Seq(
        StructField("x", DoubleType), StructField("in", inner)))),
      StructField("lst", ArrayType(inner)),
      StructField("ts", TimestampType),
      StructField("dt", DateType)))
    val ts = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")
    val rows = Seq(
      Row(1L, Row(1.5, Row(7, "seven")), Seq(Row(1, "one"), null, Row(3, null)),
        ts, java.sql.Date.valueOf("2024-02-29")),
      Row(2L, Row(null, null), Seq.empty[Row], null, null),
      Row(3L, null, null, ts, java.sql.Date.valueOf("1969-12-31")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmp()
    df.write.format("graft-arrow").mode("overwrite")
      .option("batchRows", "2").save(s"$out/t")
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(back.schema == schema)
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row ${x.get(0)}") }
  }
}
