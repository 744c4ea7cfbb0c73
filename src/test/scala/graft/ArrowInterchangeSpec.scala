package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrowInterchange

/** Arrow IPC interchange: the full declared type surface through real
  * IPC files (footer-schema'd read-back, multi-batch framing, per-part
  * read parallelism) plus the loud-failure contract for types outside
  * the surface. */
class ArrowInterchangeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-arrow-spec").toString

  test("full type surface roundtrips exactly, nulls everywhere") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("i", IntegerType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType),
      StructField("dt", DateType),
      StructField("af", ArrayType(FloatType)),
      StructField("as", ArrayType(StringType)),
      StructField("ats", ArrayType(TimestampType))))
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val ldt = java.time.LocalDateTime.of(2024, 3, 1, 23, 59, 59, 999999000)
    val rows = Seq(
      Row(1L, 7, 1.5f, 2.25, true, "héllo ☃ 😀", Array[Byte](0, 1, -1),
        ts, ldt, java.sql.Date.valueOf("2024-02-29"),
        Seq(1.0f, -2.5f, 3.25f), Seq("a", null, "c"),
        Seq(ts, null, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"))),
      Row(2L, null, null, null, false, "", Array.empty[Byte],
        null, null, null, Seq.empty[Float], null, Seq.empty[java.sql.Timestamp]),
      Row(3L, -1, Float.MinPositiveValue, Double.MaxValue, null, null, null,
        // pre-1970 FRACTIONAL timestamp: getTime is negative while the
        // nanos field is positive — truncating division wrote it a
        // second late until the write side floorDiv'd like the reader
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"),
        ldt, java.sql.Date.valueOf("1969-12-31"), null, Seq("x"), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t", batchRows = 2)
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(back.schema == schema)
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      (0 until schema.length).foreach { c =>
        (x.get(c), y.get(c)) match {
          case (xb: Array[Byte], yb: Array[Byte]) =>
            assert(java.util.Arrays.equals(xb, yb), s"col $c of row ${x.get(0)}")
          case (xv, yv) =>
            assert(xv == yv, s"col ${schema(c).name} of row ${x.get(0)}")
        }
      }
    }
  }

  test("multi-batch framing: batchRows smaller than a partition") {
    import spark.implicits._
    val df = (0L until 100L).toDF("v").repartition(3)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t", batchRows = 7)
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(back.as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  test("reads bin-pack small files; byte cap bounds a task; empty " +
       "partitions write no file") {
    import spark.implicits._
    val df = (0L until 10L).toDF("v").repartition(4)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t")
    val files = new java.io.File(s"$out/t").listFiles()
      .filter(_.getName.endsWith(".arrows"))
    assert(files.nonEmpty && files.length <= 4)
    // a small directory still reads at session parallelism (the task
    // target shrinks to total/minTasks, one indivisible file each)…
    val spread = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(spread.rdd.getNumPartitions == files.length)
    assert(spread.as[Long].collect().sorted.toSeq == (0L until 10L))
    // …and a 1-byte cap still reads whole files, one per task
    val solo = ArrowInterchange.readArrow(spark, s"$out/t", maxTaskBytes = 1L)
    assert(solo.rdd.getNumPartitions == files.length)
    assert(solo.as[Long].collect().sorted.toSeq == (0L until 10L))
    // the packing rule itself: many small files bound by the byte cap,
    // not one task per file (the 100 TB shape), while small dirs fill
    // parallelism
    val tiny = (0 until 1000).map(i => (f"f$i%04d", 10L))
    val packed = ArrowInterchange.packFiles(tiny, 100L, 4)
    assert(packed.length == 100 && packed.forall(_.map(_._2).sum <= 100L))
    assert(packed.flatten == tiny, "packing must keep every file once, in order")
    val few = (0 until 3).map(i => (s"f$i", 10L))
    assert(ArrowInterchange.packFiles(few, 128L << 20, 8).length == 3)
    // an oversized file rides alone and doesn't block its neighbors
    val mixed = Seq(("a", 5L), ("big", 1000L), ("b", 5L))
    val mg = ArrowInterchange.packFiles(mixed, 10L, 1)
    assert(mg.flatten == mixed && mg.length == 3)
    // a frame with some all-empty partitions still roundtrips
    val sparse = (0L until 3L).toDF("v").repartition(8)
    ArrowInterchange.exportArrow(sparse, s"$out/sparse")
    assert(ArrowInterchange.readArrow(spark, s"$out/sparse")
      .as[Long].collect().sorted.toSeq == (0L until 3L))
  }

  test("join-inflated size estimates don't fan the export out") {
    // the size-only stats visitor multiplies child sizes through a
    // join; sizing must bound by the leaf sum or a 2-row join exports
    // thousands of empty parts (this was an 11-second bench row)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("label"))
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes
      > joined.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.sizeInBytes).sum,
      "precondition: the join estimate IS inflated past the leaf sum")
    val out = tmp()
    ArrowInterchange.exportArrow(joined, s"$out/t")
    val files = new java.io.File(s"$out/t").listFiles()
      .filter(_.getName.endsWith(".arrows"))
    assert(files.length <= spark.sparkContext.defaultParallelism,
      s"tiny join exported ${files.length} parts")
  }

  test("an all-empty frame roundtrips as empty WITH its schema") {
    import spark.implicits._
    val df = spark.emptyDataset[Long].toDF("v").where(col("v") > 0)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t")
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    // names+types survive; the wire declares every field nullable
    assert(back.schema.map(f => (f.name, f.dataType))
      == df.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 0)
  }

  test("streaming shards: multi-batch, replay-idempotent dirs, one " +
       "crashed shard fails the union read") {
    import spark.implicits._
    val root = tmp()
    (0L until 40L).map(i => (i, s"t$i")).toDF("id", "t")
      .repartition(4).write.parquet(s"$root/src")
    ArrowInterchange.streamingArrowShards(spark, s"$root/src",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = 2)
      .awaitTermination()
    val shards = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.startsWith("batch_id=")).sortBy(_.getName)
    assert(shards.length >= 2, "stream must really micro-batch")
    assert(shards.forall(d => new java.io.File(d, "_SUCCESS").exists()))
    val back = ArrowInterchange.readArrow(spark, s"$root/out")
    assert(back.select("id").as[Long].collect().sorted.toSeq
      == (0L until 40L))
    // a replayed batch rewrites exactly its own shard: re-export into
    // shard 0's dir and the union is unchanged (wholesale replace).
    // Materialize before exporting — export deletes the dir first
    val rows0 = ArrowInterchange.readArrow(spark, shards.head.getPath).collect()
    ArrowInterchange.exportArrow(
      spark.createDataFrame(spark.sparkContext.parallelize(rows0.toSeq, 1),
        back.schema), shards.head.getPath)
    assert(ArrowInterchange.readArrow(spark, s"$root/out")
      .select("id").as[Long].collect().sorted.toSeq == (0L until 40L))
    // a crashed shard (marker missing) fails the union read loudly
    assert(new java.io.File(shards.last, "_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.readArrow(spark, s"$root/out").count()
    }
    assert(e.getMessage.contains("_SUCCESS"))
  }

  test("unsupported column types fail loudly at export, with the name") {
    import spark.implicits._
    val df = Seq((1L, BigDecimal(1))).toDF("ok", "dec")
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.exportArrow(df, tmp() + "/t")
    }
    assert(e.getMessage.contains("dec"))
    val m = Seq((1L, Map("k" -> 1))).toDF("ok", "m")
    intercept[IllegalArgumentException] {
      ArrowInterchange.exportArrow(m, tmp() + "/t")
    }
    // the unsupported leaf is reported even when buried in nesting
    val buried = Seq((1L, Seq((BigDecimal(2), 3)))).toDF("ok", "nest")
    val e2 = intercept[IllegalArgumentException] {
      ArrowInterchange.exportArrow(buried, tmp() + "/t")
    }
    assert(e2.getMessage.contains("_1"))
  }

  test("a failed export never harms a pre-existing destination") {
    import spark.implicits._
    val out = tmp()
    ArrowInterchange.exportArrow((0L until 5L).toDF("v"), s"$out/t")
    // a replacement export whose tasks all fail (bad value for the
    // declared type) must leave the original intact and readable
    val schema = StructType(Seq(StructField("v", LongType)))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("not-a-long")), 1)
        .map(identity), schema)
    intercept[Exception] { ArrowInterchange.exportArrow(bad, s"$out/t") }
    assert(ArrowInterchange.readArrow(spark, s"$out/t")
      .as[Long].collect().sorted.toSeq == (0L until 5L))
    // and no staging debris is left behind next to it
    assert(new java.io.File(out).listFiles().map(_.getName).toSeq == Seq("t"))
  }

  test("nested struct/list surface roundtrips: struct, struct-of-struct, " +
       "list<struct>, struct<list>, list<list>, nulls at every level") {
    val inner = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("st", inner),
      StructField("stst", StructType(Seq(
        StructField("x", DoubleType), StructField("in", inner)))),
      StructField("lst", ArrayType(inner)),
      StructField("stl", StructType(Seq(
        StructField("tags", ArrayType(StringType)),
        StructField("n", LongType)))),
      StructField("ll", ArrayType(ArrayType(IntegerType)))))
    val rows = Seq(
      Row(1L, Row(7, "seven"), Row(1.5, Row(8, "eight")),
        Seq(Row(1, "one"), null, Row(3, null)),
        Row(Seq("t1", null, "t2"), 42L),
        Seq(Seq(1, 2), null, Seq.empty[Int], Seq(3, null.asInstanceOf[Integer]))),
      Row(2L, null, Row(null, null), Seq.empty[Row], Row(null, null), null),
      Row(3L, Row(null, "only-b"), null, null, null, Seq(Seq.empty[Int])))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t", batchRows = 2)
    val back = ArrowInterchange.readArrow(spark, s"$out/t")
    assert(back.schema == schema)
    val a = df.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row ${x.get(0)}") }
    // the DSv2 source reads the same nested file, including nested
    // access surviving its column pruning
    val src = spark.read.format("graft-arrow").load(s"$out/t")
    assert(src.schema == schema)
    val pruned = src.select(col("id"), col("st.b").as("b"),
        col("stst.in.a").as("ia"), size(col("lst")).as("nl"))
      .orderBy("id").collect()
    assert(pruned.map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSeq ==
      Seq((1L, "seven", 8, 3), (2L, null, null, 0), (3L, "only-b", null, null)))
    // explode over list<struct> read back from the wire
    val exploded = src.select(col("id"), explode_outer(col("lst")).as("e"))
      .select(col("id"), col("e.a").as("a")).orderBy("id", "a").collect()
    assert(exploded.map(r => (r.get(0), r.get(1))).toSeq ==
      Seq((1L, null), (1L, 1), (1L, 3), (2L, null), (3L, null)))
  }

  test("reading an empty directory fails loudly, not as an empty frame") {
    val out = tmp()
    new java.io.File(s"$out/e").mkdirs()
    new java.io.File(s"$out/e/_SUCCESS").createNewFile()
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.readArrow(spark, s"$out/e")
    }
    assert(e.getMessage.contains("no .arrows files"))
  }

  test("a crashed half-export is unreadable, never silently partial") {
    import spark.implicits._
    val out = tmp()
    ArrowInterchange.exportArrow((0L until 10L).toDF("v"), s"$out/t")
    // simulate a crash before the marker: files present, _SUCCESS not
    assert(new java.io.File(s"$out/t/_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.readArrow(spark, s"$out/t")
    }
    assert(e.getMessage.contains("_SUCCESS"))
    // an EXTERNAL directory (no marker, e.g. pyarrow-written) reads
    // when the caller takes ownership of completeness
    assert(ArrowInterchange.readArrow(spark, s"$out/t", requireMarker = false)
      .count() == 10)
  }

  test("a stray file with a different schema fails with its name") {
    import spark.implicits._
    val out = tmp()
    ArrowInterchange.exportArrow((0L until 4L).toDF("v"), s"$out/t")
    ArrowInterchange.exportArrow(Seq(("x", 1)).toDF("s", "i"), s"$out/other")
    val stray = new java.io.File(s"$out/other").listFiles()
      .filter(_.getName.endsWith(".arrows")).head
    // lands AFTER the legit parts in name order, so the directory
    // schema stays the long one and the stray must be caught per-file
    java.nio.file.Files.copy(stray.toPath,
      java.nio.file.Paths.get(s"$out/t/part-zzzzz.arrows"))
    val e = intercept[Exception] {
      ArrowInterchange.readArrow(spark, s"$out/t").count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("mixed exports"), s"unexpected failure: $msgs")
    // MIN/MAX served from footer stats: a stray whose FIRST column is
    // also a long would fold its own range in by ordinal (and answer
    // 100) unless its footer schema is checked like the rows are
    ArrowInterchange.exportArrow((0L until 4L).toDF("v"), s"$out/t2")
    ArrowInterchange.exportArrow(Seq((100L, "x")).toDF("w", "s"),
      s"$out/other2")
    val strayLong = new java.io.File(s"$out/other2").listFiles()
      .filter(_.getName.endsWith(".arrows")).head
    java.nio.file.Files.copy(strayLong.toPath,
      java.nio.file.Paths.get(s"$out/t2/part-zzzzz.arrows"))
    val e2 = intercept[Exception] {
      ArrowInterchange.readArrow(spark, s"$out/t2")
        .agg(min(col("v")), max(col("v"))).collect()
    }
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs2.contains("mixed exports"), s"unexpected failure: $msgs2")
  }

  test("java8API datetime externals (Instant/LocalDate) export fine") {
    val out = tmp()
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("dt", DateType)))
      val rows = Seq(Row(
        java.time.Instant.parse("2024-03-01T12:34:56.123456Z"),
        java.time.LocalDate.of(1969, 12, 31)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      ArrowInterchange.exportArrow(df, s"$out/t")
      val back = ArrowInterchange.readArrow(spark, s"$out/t").collect()
      assert(back.head.getAs[java.time.Instant]("ts")
        == java.time.Instant.parse("2024-03-01T12:34:56.123456Z"))
      assert(back.head.getAs[java.time.LocalDate]("dt")
        == java.time.LocalDate.of(1969, 12, 31))
    } finally spark.conf.set("spark.sql.datetime.java8API.enabled", "false")
  }

  test("publish arbitration: losers don't replace, hard failures throw") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def put(name: String, content: String): Path = {
      val p = new Path(dir, name)
      val o = fs.create(p, true); o.write(content.getBytes); o.close(); p
    }
    // winner publishes
    val fin = new Path(dir, "part-00000.arrows")
    ArrowInterchange.publishNoReplace(fs, put(".a.tmp", "winner"), fin)
    // a zombie/speculative loser must neither replace nor throw
    ArrowInterchange.publishNoReplace(fs, put(".b.tmp", "zombie"), fin)
    val in = fs.open(fin)
    val buf = new Array[Byte](16)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n) == "winner", "loser replaced the winner")
    assert(!fs.exists(new Path(dir, ".b.tmp")), "loser's temp not cleaned")
    // a publish that fails with NO winner present must throw, not
    // silently drop the partition (missing parent dir => link fails)
    val e = intercept[Exception] {
      ArrowInterchange.publishNoReplace(fs, put(".c.tmp", "x"),
        new Path(dir, "nosuchdir/part-00001.arrows"))
    }
    assert(e.getMessage != null)
  }

  test("zstd/lz4 IPC body compression round-trips exactly and shrinks " +
       "compressible data; readers handle mixed trees transparently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // highly compressible corpus: repeated text
    val df = (0L until 2000L)
      .map(i => (i, ("lorem ipsum dolor sit amet " * 20) + (i % 7)))
      .toDF("id", "text")
    def dirSize(d: String): Long =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".arrows"))
        .map(_.length()).sum
    val plain = tmp(); val zstd = tmp(); val lz4 = tmp()
    ArrowInterchange.exportArrow(df, s"$plain/t")
    ArrowInterchange.exportArrow(df, s"$zstd/t", compression = "zstd")
    df.coalesce(2).write.format("graft-arrow")
      .option("compression", "lz4").mode("overwrite").save(s"$lz4/t")
    // byte-exact round-trips through BOTH read paths
    val want = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    Seq(s"$zstd/t", s"$lz4/t").foreach { d =>
      val viaRdd = ArrowInterchange.readArrow(spark, d)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(viaRdd.sameElements(want), s"RDD read of $d drifted")
      val viaDsv2 = spark.read.format("graft-arrow").load(d)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(viaDsv2.sameElements(want), s"DSv2 read of $d drifted")
    }
    // compression actually bites on this corpus
    assert(dirSize(s"$zstd/t") < dirSize(s"$plain/t") / 2,
      s"zstd ${dirSize(s"$zstd/t")} vs plain ${dirSize(s"$plain/t")}")
    // zone maps and count(*) pushdown still work over compressed files
    assert(spark.read.format("graft-arrow").load(s"$zstd/t").count() == 2000L)
    assert(spark.read.format("graft-arrow").load(s"$zstd/t")
      .where(col("id") > 5000L).count() == 0L)
    // a typo'd codec fails at plan time, before any directory is touched
    val e = intercept[Exception](
      df.write.format("graft-arrow").option("compression", "snappy")
        .mode("overwrite").save(s"$plain/bad"))
    assert(TestErrors.messageChain(e).exists(_.contains("zstd | lz4 | none")))
    assert(!new java.io.File(s"$plain/bad").exists())
  }
}
