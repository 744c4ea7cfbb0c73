package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrowInterchange

/** DSv2 surface over Arrow IPC directories: declared-schema reads,
  * column pruning pushed into the scan (the reason the source exists),
  * bin-packed task planning, marker semantics. */
class ArrowDataSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-arrow-dsv2").toString

  /** The frame every export here writes — and the reference its reads
    * are compared against. */
  private def frame() =
    graft.sources.Tables.documents(spark, sf0001)
      .join(graft.sources.Tables.embeddings(spark, sf0001),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("label"), col("embedding"))

  private def export(out: String): Unit =
    ArrowInterchange.exportArrow(frame(), out)

  test("reads match the RDD reader row for row, schema declared") {
    val out = tmp()
    export(s"$out/t")
    val v2 = spark.read.format("graft-arrow").load(s"$out/t")
    // the reference is the exported frame itself: its schema as the
    // wire declares it (every field nullable), and its rows
    val src = frame()
    assert(v2.schema == ArrowInterchange.fromArrowSchema(
      ArrowInterchange.toArrowSchema(src.schema)))
    val a = v2.orderBy("doc_id").collect()
    val b = src.orderBy("doc_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("column pruning reaches the scan: projected reads decode only " +
       "their columns") {
    val out = tmp()
    export(s"$out/t")
    val pruned = spark.read.format("graft-arrow").load(s"$out/t")
      .select(col("doc_id"), col("n_chars"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScanExec")
    assert(scans.head.scan.readSchema().fieldNames.toSeq
      == Seq("doc_id", "n_chars"),
      s"scan did not prune: ${scans.head.scan.readSchema().fieldNames.toSeq}")
    // and the pruned read is still CORRECT
    val got = pruned.agg(sum(col("n_chars"))).head.getLong(0)
    val want = graft.sources.Tables.documents(spark, sf0001)
      .join(graft.sources.Tables.embeddings(spark, sf0001),
        col("doc_id") === col("vec_id"))
      .agg(sum(col("n_chars"))).head.getLong(0)
    assert(got == want)
  }

  test("lists, timestamps, and nulls come through catalyst-exact") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("af", ArrayType(FloatType))))
    val ts = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")
    val rows = Seq(
      org.apache.spark.sql.Row(1L, ts, Seq(1.5f, null, -2.0f)),
      org.apache.spark.sql.Row(2L, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val out = tmp()
    ArrowInterchange.exportArrow(df, s"$out/t")
    val back = spark.read.format("graft-arrow").load(s"$out/t")
      .orderBy("id").collect()
    assert(back(0).getTimestamp(1) == ts)
    assert(back(0).getSeq[Any](2) == Seq(1.5f, null, -2.0f))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
  }

  test("scans vend columnar batches; nested pruning falls back to rows") {
    val out = tmp()
    export(s"$out/t")
    // flat and top-level-pruned reads report columnar: Arrow buffers
    // flow into the plan as ColumnarBatch, no per-row boxing
    val flat = spark.read.format("graft-arrow").load(s"$out/t")
      .select(col("doc_id"), col("n_chars"), col("embedding"))
    val scan = flat.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }.head
    assert(scan.supportsColumnar, "top-level-pruned scan must be columnar")
    // …and the columnar path is value-exact, list column included
    val got = flat.select(col("doc_id"),
        aggregate(col("embedding"), lit(0.0d),
          (a, x) => a + x.cast(DoubleType)).as("s"))
      .orderBy("doc_id").collect()
    val want = frame()
      .select(col("doc_id"),
        aggregate(col("embedding"), lit(0.0d),
          (a, x) => a + x.cast(DoubleType)).as("s"))
      .orderBy("doc_id").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (x, y) => assert(x == y) }
    // a NESTED-pruned struct read must not vend columnar batches:
    // ArrowColumnVector resolves struct children by ordinal against the
    // vector's full child list, so the pruned-subset schema would read
    // the wrong children — the factory falls back to the by-name row
    // reader for exactly those scans
    val nd = tmp()
    val nested = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        struct(col("lang").as("l"), col("source").as("s"),
          col("n_chars").as("nc")).as("meta"))
    ArrowInterchange.exportArrow(nested, s"$nd/t")
    val prunedNested = spark.read.format("graft-arrow").load(s"$nd/t")
      .select(col("doc_id"), col("meta.nc").as("nc"))
    val scan2 = prunedNested.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }.head
    val metaRead = scan2.scan.readSchema().find(_.name == "meta")
    metaRead.foreach { f =>
      val full = nested.schema("meta").dataType
      assert(scan2.supportsColumnar == (f.dataType == full),
        s"columnar flag must track nested pruning: read ${f.dataType}")
    }
    assert(prunedNested.agg(sum(col("nc"))).head.getLong(0)
      == graft.sources.Tables.documents(spark, sf0001)
        .agg(sum(col("n_chars"))).head.getLong(0))
  }

  test("count(*) answers from footer row counts without decoding; " +
       "limit stops task-side decode") {
    import spark.implicits._
    val out = tmp()
    (0L until 1000L).toDF("v").repartition(4)
      .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    // count(*) pushes into the scan: the plan's scan is the count scan
    // (one partial row per task from footer metadata), and the result
    // is exact
    val cnt = spark.read.format("graft-arrow").load(s"$out/t")
      .groupBy().count()
    // the agg plan is AQE-wrapped, so inspect the optimized logical plan
    val scans = cnt.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.nonEmpty && scans.head.description().contains("count(*)"),
      s"count not pushed: ${scans.map(_.description())}")
    assert(cnt.head.getLong(0) == 1000L)
    assert(spark.read.format("graft-arrow").load(s"$out/t").count() == 1000L)
    // a filter blocks the pushdown (the source can't answer it) and the
    // count stays correct through the normal scan
    assert(spark.read.format("graft-arrow").load(s"$out/t")
      .where(col("v") < 10).count() == 10L)
    // limit pushes into the scan (partial: tasks stop decoding early;
    // Spark's global limit still finishes the job)
    val lim = spark.read.format("graft-arrow").load(s"$out/t").limit(7)
    val lscans = lim.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }
    assert(lscans.nonEmpty && lscans.head.scan.description().contains("limit=7"),
      s"limit not pushed: ${lscans.map(_.scan.description())}")
    assert(lim.collect().length == 7)
    // a file WITHOUT the stamped row count (external writer) still
    // counts correctly via the batch-walk fallback
    val ext = tmp()
    locally {
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.VectorSchemaRoot
      import org.apache.arrow.vector.ipc.ArrowFileWriter
      graft.operators.NioAccess.ensureOpen(classOf[RootAllocator])
      val alloc = new RootAllocator(Long.MaxValue)
      try {
        val schema = StructType(Seq(StructField("v", LongType)))
        val root = VectorSchemaRoot.create(
          graft.operators.ArrowInterchange.toArrowSchema(schema), alloc)
        val ch = java.nio.channels.Channels.newChannel(
          new java.io.FileOutputStream(s"$ext/part-00000.arrows"))
        val w = new ArrowFileWriter(root, null, ch) // 3-arg: no metadata
        try {
          w.start()
          val vec = root.getVector(0)
            .asInstanceOf[org.apache.arrow.vector.BigIntVector]
          (0 until 5).foreach(i => vec.setSafe(i, i.toLong))
          root.setRowCount(5); w.writeBatch(); w.end()
        } finally { w.close(); ch.close(); root.close() }
      } finally alloc.close()
    }
    assert(spark.read.format("graft-arrow").option("requireMarker", "false")
      .load(ext).count() == 5L)
  }

  test("zone-map stats skip whole files against pushed filters") {
    import spark.implicits._
    val out = tmp()
    // range-partitioned export → disjoint per-file id ranges
    (0L until 1000L).map(i => (i, i.toDouble / 7.0, s"d$i"))
      .toDF("id", "score", "tag")
      .repartitionByRange(5, col("id"))
      .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val all = spark.read.format("graft-arrow").load(s"$out/t")
    val full = partsOf(all.select("id"))
    assert(full == 5, s"precondition: 5 files/tasks, got $full")
    // a tight range predicate plans FEWER partitions and stays correct
    val narrow = all.where(col("id") >= 900L)
    assert(partsOf(narrow) < full,
      s"skip did not prune: ${partsOf(narrow)} of $full")
    assert(narrow.count() == 100L)
    assert(narrow.agg(min(col("id"))).head.getLong(0) == 900L)
    // double-typed stats prune too
    val hi = all.where(col("score") > 141.0)
    assert(partsOf(hi) < full)
    assert(hi.count() == (0L until 1000L).count(_ / 7.0 > 141.0))
    // a provably-empty predicate plans ZERO partitions
    assert(all.where(col("id") > 5000L).count() == 0L)
    // string columns are zone-mapped too (see the dedicated test) and
    // stay correct when the range can't eliminate
    assert(all.where(col("tag") === "d7").count() == 1L)
    // IN prunes when every value is provably out of range…
    val inNarrow = all.where(col("id").isin(950L, 990L))
    assert(partsOf(inNarrow) < full,
      s"IN did not prune: ${partsOf(inNarrow)} of $full")
    assert(inNarrow.count() == 2L)
    // …and stays correct when values straddle files
    assert(all.where(col("id").isin(5L, 995L)).count() == 2L)
    // the manifest is a cache, not the source of truth: with it gone,
    // pruning falls back to per-file footers and behaves identically
    assert(new java.io.File(s"$out/t/_stats.tsv").exists(),
      "writers must emit the stats manifest")
    assert(new java.io.File(s"$out/t/_stats.tsv").delete())
    val narrowNoManifest = all.where(col("id") >= 900L)
    assert(partsOf(narrowNoManifest) < full)
    assert(narrowNoManifest.count() == 100L)
    // a NaN anywhere in a double column disables its stats: Spark's
    // comparisons order NaN ABOVE every value, so `c > bound` MATCHES
    // NaN rows a finite [min,max] would wrongly prune
    val nd = tmp()
    Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "score")
      .coalesce(1).write.format("graft-arrow").mode("overwrite")
      .save(s"$nd/t")
    val nanHits = spark.read.format("graft-arrow").load(s"$nd/t")
      .where(col("score") > 5.0)
    assert(nanHits.count() == 1L,
      "the NaN row matches score > 5.0 and must not be file-skipped")
    assert(nanHits.head.getLong(0) == 2L)
    // the scan reports its pruning
    val scans = narrow.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s
    }
    assert(scans.head.scan.description().contains("files="),
      scans.head.scan.description())
  }

  test("string zone maps: equality, range, IN, and prefix predicates " +
       "skip whole files; truncated bounds stay sound") {
    import spark.implicits._
    val out = tmp()
    // range-partitioned on the string key → disjoint per-file key ranges
    (0 until 1000).map(i => (f"k$i%06d", i.toLong))
      .toDF("key", "n")
      .repartitionByRange(5, col("key"))
      .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val all = spark.read.format("graft-arrow").load(s"$out/t")
    val full = partsOf(all.select("key"))
    assert(full == 5, s"precondition: 5 files/tasks, got $full")
    // point lookup plans fewer tasks and stays exact
    val eq = all.where(col("key") === "k000950")
    assert(partsOf(eq) < full, s"string = did not prune: ${partsOf(eq)}")
    assert(eq.count() == 1L && eq.head.getLong(1) == 950L)
    // range predicate prunes
    val range = all.where(col("key") >= "k000900")
    assert(partsOf(range) < full)
    assert(range.count() == 100L)
    // IN prunes when all values land in one tail file
    val in = all.where(col("key").isin("k000990", "k000999"))
    assert(partsOf(in) < full && in.count() == 2L)
    // prefix (LIKE 'k00099%') prunes to the tail and stays exact
    val pre = all.where(col("key").startsWith("k00099"))
    assert(partsOf(pre) < full,
      s"startsWith did not prune: ${partsOf(pre)} of $full")
    assert(pre.count() == 10L)
    // provably-empty prefix plans zero partitions
    assert(all.where(col("key").startsWith("z")).count() == 0L)
    // values longer than the 64-byte stamp window: bounds truncate
    // (min) / truncate-and-increment (max) — elimination stays sound
    val long = tmp()
    val pad = "p" * 80
    (0 until 100).map(i => (f"$pad$i%04d", i)).toDF("key", "n")
      .repartitionByRange(4, col("key"))
      .write.format("graft-arrow").mode("overwrite").save(s"$long/t")
    val lt = spark.read.format("graft-arrow").load(s"$long/t")
    // shared 64-byte prefix → per-file bounds collapse to the same
    // window: no pruning possible, every row still found
    assert(lt.where(col("key") === s"${pad}0042").count() == 1L)
    assert(lt.where(col("key") > s"${pad}0090").count() == 9L)
    // a probe OUTSIDE the shared prefix window still prunes to zero
    assert(lt.where(col("key") === "q").rdd.getNumPartitions == 0)
    // equality on a string column of the mixed table from footers only
    // (manifest deleted): identical behavior
    assert(new java.io.File(s"$out/t/_stats.tsv").delete())
    val eq2 = all.where(col("key") === "k000950")
    assert(partsOf(eq2) < full && eq2.count() == 1L)
  }

  test("per-file equality blooms prune where zone maps can't: " +
       "unsorted high-cardinality keys") {
    import spark.implicits._
    val out = tmp()
    // hash-spread keys: every file's [min,max] spans the whole domain,
    // so zone maps are useless for point lookups — the bloom's case
    val rows = (0 until 1000).map { i =>
      (f"doc-${(i * 2654435761L) % 999983}%09d", i.toLong)
    }
    rows.toDF("key", "n").repartition(5)
      .write.format("graft-arrow")
      .option("bloomcolumns", "key")
      .mode("overwrite").save(s"$out/t")
    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val all = spark.read.format("graft-arrow").load(s"$out/t")
    val full = partsOf(all.select("key"))
    assert(full == 5, s"precondition: 5 files/tasks, got $full")
    // zone maps alone cannot prune this layout (ranges overlap), but
    // the bloom pins an existing key to its file(s)
    val probe = rows(500)._1
    val eq = all.where(col("key") === probe)
    assert(partsOf(eq) < full,
      s"bloom did not prune: ${partsOf(eq)} of $full")
    assert(eq.count() == 1L && eq.head.getLong(1) == 500L)
    // an absent key prunes everything (deterministic: same data, same
    // hashes, same bits every run)
    assert(all.where(col("key") === "doc-absent").count() == 0L)
    // IN over present + absent keys stays exact
    assert(all.where(col("key").isin(probe, "doc-absent")).count() == 1L)
    // long-typed blooms prune too
    val lt = tmp()
    rows.toDF("key", "n").withColumn("id", col("n") * 7919L % 104729L)
      .repartition(4)
      .write.format("graft-arrow")
      .option("bloomcolumns", "id")
      .mode("overwrite").save(s"$lt/t")
    val la = spark.read.format("graft-arrow").load(s"$lt/t")
    val lfull = partsOf(la.select("id"))
    val lprobe = (500L * 7919L) % 104729L
    val leq = la.where(col("id") === lprobe)
    assert(partsOf(leq) < lfull || lfull == 1)
    assert(leq.count() == 1L)
    // un-bloomed columns stamp nothing extra; blooms live in the lazy
    // `_blooms.tsv` side manifest (only for the opted-in ordinal), and
    // the zone-map manifest stays bloom-free so plan-time stats reads
    // never decode bloom bits
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/t/_stats.tsv")), "UTF-8")
    assert(!manifest.contains("graft.bloom."),
      "_stats.tsv must not carry bloom bits")
    val bloomManifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/t/_blooms.tsv")), "UTF-8")
    assert(bloomManifest.contains("graft.bloom.0"), "key bloom missing")
    assert(!bloomManifest.contains("graft.bloom.1"), "n was not opted in")
    // plan-time validation: unknown column and un-bloomable type fail
    // with the offending name before any job runs
    val e1 = intercept[Exception](rows.toDF("key", "n")
      .write.format("graft-arrow").option("bloomcolumns", "nope")
      .mode("overwrite").save(s"$out/bad1"))
    assert(TestErrors.messageChain(e1).exists(_.contains("nope")))
    val e2 = intercept[Exception](Seq((1.0, "x")).toDF("d", "s")
      .write.format("graft-arrow").option("bloomcolumns", "d")
      .mode("overwrite").save(s"$out/bad2"))
    assert(TestErrors.messageChain(e2).exists(_.contains("blooms cover")))
  }

  test("null-count stats prune IS NULL / IS NOT NULL files") {
    import spark.implicits._
    val out = tmp()
    // file 0: all-null v; file 1: no-null v (range split on k)
    val rows = (0 until 100).map(i =>
      if (i < 50) (0, i.toLong, None: Option[String])
      else (1, i.toLong, Some(s"v$i")))
    rows.toDF("k", "id", "v")
      .repartitionByRange(2, col("k"))
      .write.format("graft-arrow").mode("overwrite").save(s"$out/t")
    def partsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val all = spark.read.format("graft-arrow").load(s"$out/t")
    assert(partsOf(all.select("id")) == 2, "precondition: 2 files")
    // IS NOT NULL skips the all-null file; IS NULL skips the full one
    val nn = all.where(col("v").isNotNull)
    assert(partsOf(nn) == 1, s"IS NOT NULL kept ${partsOf(nn)} files")
    assert(nn.count() == 50L)
    val nl = all.where(col("v").isNull)
    assert(partsOf(nl) == 1, s"IS NULL kept ${partsOf(nl)} files")
    assert(nl.count() == 50L)
    // the implicit IsNotNull Spark pushes with equality predicates
    // prunes the all-null file even though v's zone range can't
    assert(all.where(col("v") === "v73").count() == 1L)
  }

  test("reported statistics make small arrow dims auto-broadcast " +
       "in joins") {
    import spark.implicits._
    val out = tmp()
    (0L until 1000L).map(i => (i, s"v$i"))
      .toDF("id", "v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-arrow").mode("overwrite").save(s"$out/dim")
    (0L until 20000L).map(i => (i % 1000L, i)).toDF("id", "x")
      .write.format("graft-arrow").mode("overwrite").save(s"$out/fact")
    // two ARROW tables joined — without reported stats both sides
    // default to unknown(=huge) and Spark sort-merges; with them the
    // small dim auto-broadcasts (the stats unit cases live in
    // ArrowStatsAggSpec, same package as the builder)
    val dim = spark.read.format("graft-arrow").load(s"$out/dim")
    val fact = spark.read.format("graft-arrow").load(s"$out/fact")
    val joined = fact.join(dim, "id")
    assert(joined.count() == 20000L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small arrow dim did not auto-broadcast:\n$plan")
  }

  test("marker semantics match the RDD reader") {
    import spark.implicits._
    val out = tmp()
    ArrowInterchange.exportArrow((0L until 6L).toDF("v"), s"$out/t")
    assert(new java.io.File(s"$out/t/_SUCCESS").delete())
    val e = intercept[Exception] {
      spark.read.format("graft-arrow").load(s"$out/t").count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("_SUCCESS"), s"unexpected failure: $msgs")
    assert(spark.read.format("graft-arrow")
      .option("requireMarker", "false").load(s"$out/t")
      .as[Long].collect().sorted.toSeq == (0L until 6L))
  }
}
