package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExportParquet, ProtoPipeline}
import graft.sources.GraftTable
import graft.streaming.BidPipeline

/** Transactional commit log: both sinks of a batch become visible in one
  * atomic rename; uncommitted data is invisible; replays are no-ops;
  * checkpointing folds the log without breaking readers.
  */
class GraftTableSpec extends AnyFunSuite {
  import SparkTestSession._

  private def cfgFor(export: String) = BidPipeline.Config(
    bootstrapServers = "unused:9092", topic = "unused",
    checkpointLocation = Files.createTempDirectory("gt-ckpt").toString,
    exportRoot = export, commitLog = true)

  test("dual-sink commit: atomic visibility, crash invisibility, replay no-op") {
    val export = Files.createTempDirectory("gt-export").toString
    val cfg = cfgFor(export)
    val root = s"$export/${cfg.logname}"
    val batch = ProtoPipeline.decodeFrames(ProtoPipeline.framedMessages(spark, sf0001))
    val n = batch.count()

    // crash window: raw landed, agg + commit never happened
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(batch,
        col("timestamp.seconds") * 1000 +
          (col("timestamp.nanos") / 1000000).cast("long")),
      s"$root/raw", batchId = 0)
    assert(GraftTable.read(spark, root, "raw").isEmpty,
      "uncommitted data must be invisible to log readers")

    // replay runs the full dual export + commit
    BidPipeline.exportBatch(batch, cfg, batchId = 0)
    val raw = GraftTable.read(spark, root, "raw")
    assert(raw.count() == n)
    assert(raw.columns.contains("year"), "partition columns must survive basePath read")
    val agg = GraftTable.read(spark, root, "hourly_requests_agg")
    assert(agg.count() > 0, "both sinks must be visible after the one commit")

    // re-replay after a completed commit: still exactly once
    BidPipeline.exportBatch(batch, cfg, batchId = 0)
    assert(GraftTable.read(spark, root, "raw").count() == n)

    // a second batch appends atomically
    BidPipeline.exportBatch(batch.limit(10), cfg, batchId = 1)
    assert(GraftTable.read(spark, root, "raw").count() == n + 10)
  }

  test("the TableFormat swap is real: the SAME dual-sink pipeline runs " +
    "against DirJsonTableFormat with no pipeline code changes") {
    val export = Files.createTempDirectory("gt-djson-export").toString
    val cfg = cfgFor(export).copy(
      tableFormat = graft.sources.DirJsonTableFormat)
    val fmt = cfg.tableFormat
    val root = s"$export/${cfg.logname}"
    val batch = ProtoPipeline.decodeFrames(
      ProtoPipeline.framedMessages(spark, sf0001))
    val n = batch.count()
    BidPipeline.exportBatch(batch, cfg, batchId = 0)
    assert(fmt.isCommitted(spark, root, 0))
    assert(fmt.read(spark, root, "raw").count() == n)
    assert(fmt.read(spark, root, "hourly_requests_agg").count() > 0)
    // replay after commit: skipped up front (isCommitted short-circuit)
    BidPipeline.exportBatch(batch, cfg, batchId = 0)
    assert(fmt.read(spark, root, "raw").count() == n)
    // second batch appends; both formats agree on the protocol
    BidPipeline.exportBatch(batch.limit(10), cfg, batchId = 1)
    assert(fmt.read(spark, root, "raw").count() == n + 10)
  }

  test("checkpoint folds the log prefix; readers see the same snapshot") {
    val export = Files.createTempDirectory("gt-ckpt-export").toString
    val cfg = cfgFor(export)
    val root = s"$export/${cfg.logname}"
    val batch = ProtoPipeline.decodeFrames(
      ProtoPipeline.framedMessages(spark, sf0001)).limit(50)
    (0L to 3L).foreach(b => BidPipeline.exportBatch(batch, cfg, batchId = b))
    val before = GraftTable.committedFiles(spark, root).toSet
    assert(GraftTable.read(spark, root, "raw").count() == 200)

    GraftTable.checkpoint(spark, root, throughBatchId = 2)
    assert(GraftTable.committedFiles(spark, root).toSet == before)
    assert(GraftTable.read(spark, root, "raw").count() == 200)

    // only the un-folded commit remains as a standalone file
    val logFiles = new java.io.File(s"$root/_graft_log").listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    assert(logFiles.length == 1 && logFiles.head.contains("3"))

    // and new commits after the checkpoint still append
    BidPipeline.exportBatch(batch, cfg, batchId = 4)
    assert(GraftTable.read(spark, root, "raw").count() == 250)
  }

  test("time travel: versionAsOf snapshots survive checkpoint folding") {
    val root = Files.createTempDirectory("gt-tt").toString
    import spark.implicits._
    (0L to 2L).foreach { b =>
      Seq((b, s"doc-$b")).toDF("id", "text")
        .write.parquet(s"$root/docs/batch_id=$b")
      GraftTable.commit(spark, root, b)
    }
    assert(GraftTable.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(GraftTable.read(spark, root, "docs").count() == 3)
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 2)
    assert(GraftTable.readAsOf(spark, root, "docs", 0)
      .select("text").as[String].collect().toSeq == Seq("doc-0"))

    // folding the whole log must not lose any addressable version
    GraftTable.checkpoint(spark, root, throughBatchId = 2)
    assert(GraftTable.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 2)
    assert(GraftTable.read(spark, root, "docs").count() == 3)
  }

  test("schema evolution: additive commit merges, type change is rejected") {
    val root = Files.createTempDirectory("gt-evo").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=0")
    GraftTable.commit(spark, root, 0)

    // additive: new column lands; old files read it as null
    Seq((2L, "b", 0.9)).toDF("id", "text", "quality")
      .write.parquet(s"$root/docs/batch_id=1")
    GraftTable.commit(spark, root, 1)
    val merged = GraftTable.read(spark, root, "docs")
    assert(merged.columns.toSet == Set("id", "text", "quality", "batch_id"))
    assert(merged.where($"quality".isNull).count() == 1)

    // destructive: same column with a new type aborts BEFORE publishing
    Seq((3, "c", "high")).toDF("id", "text", "quality")
      .write.parquet(s"$root/docs/batch_id=2")
    val e = intercept[IllegalStateException](GraftTable.commit(spark, root, 2))
    assert(e.getMessage.contains("schema evolution rejected"))
    assert(!GraftTable.isCommitted(spark, root, 2))
    assert(GraftTable.read(spark, root, "docs").count() == 2,
      "rejected commit must stay invisible")
  }

  test("vacuum removes aged orphans, never committed files") {
    val root = Files.createTempDirectory("gt-vac").toString
    import spark.implicits._
    Seq((1L, "keep")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=0")
    GraftTable.commit(spark, root, 0)
    // crash window: batch 1 landed data but never committed
    Seq((2L, "orphan")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=1")

    assert(GraftTable.vacuum(spark, root, ttlMs = 60000).isEmpty,
      "files younger than the TTL must survive (in-flight writer window)")
    val removed = GraftTable.vacuum(spark, root, ttlMs = 0)
    assert(removed.nonEmpty && removed.forall(_.contains("batch_id=1")))
    assert(GraftTable.read(spark, root, "docs").count() == 1)
    // idempotent: nothing left to remove
    assert(GraftTable.vacuum(spark, root, ttlMs = 0).isEmpty)
  }

  test("graft_table_read: snapshot and time travel from SQL") {
    val root = Files.createTempDirectory("gt-sql").toString
    import spark.implicits._
    Seq((0L, "doc-0")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=0")
    GraftTable.commit(spark, root, 0L)
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    Seq((1L, "doc-1")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=1")
    GraftTable.commit(spark, root, 1L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_table_read('$root', 'docs')")
      .head().getLong(0) == 2)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_table_read('$root', 'docs', 0)")
      .head().getLong(0) == 1)
    // string third argument = instant (same resolution as
    // TIMESTAMP AS OF): the between-commit instant sees version 0
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_table_read('$root', 'docs', " +
        s"'$mid')").head().getLong(0) == 1)
  }

  test("replayed commit detects a concurrent writer's destroyed files") {
    val root = Files.createTempDirectory("gt-conflict").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=0")
    val published = GraftTable.commit(spark, root, 0)
    // a second writer's dynamic overwrite regenerated part-file names
    new java.io.File(s"$root/${published.head}").delete()
    val e = intercept[IllegalStateException](GraftTable.commit(spark, root, 0))
    assert(e.getMessage.contains("missing file"))
  }

  test("two writers on ONE batch id with different content: exactly one " +
    "committed winner, the destroyed side loses LOUDLY") {
    import spark.implicits._
    val root = Files.createTempDirectory("gt-2writers").toString
    // writer A lands and commits
    Seq((1L, "writer-A")).toDF("id", "text").coalesce(1)
      .write.parquet(s"$root/docs/batch_id=0")
    val pubA = GraftTable.commit(spark, root, 0)
    // writer B, unaware of A, dynamically overwrites the same batch dir
    // (new part-file names destroy A's committed files) and commits
    Seq((2L, "writer-B")).toDF("id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/docs/batch_id=0")
    val e = intercept[IllegalStateException](GraftTable.commit(spark, root, 0))
    assert(e.getMessage.contains("missing file") &&
      e.getMessage.contains("single writer"))
    // deterministic end state: A's manifest is the one committed truth
    // (exactly one v0, naming A's files), B holds a loud error
    val log = new java.io.File(s"$root/_graft_log")
    assert(log.list().count(_ == "v00000000000000000000.json") == 1)
    assert(GraftTable.committedFiles(spark, root) == pubA)

    // the benign interleaving reconciles: B lands BEFORE A commits →
    // the first commit publishes what is actually on disk, the second
    // replays idempotently to the same list — one version, no error
    val root2 = Files.createTempDirectory("gt-2writers-b").toString
    Seq((1L, "writer-A")).toDF("id", "text").coalesce(1)
      .write.parquet(s"$root2/docs/batch_id=0")
    Seq((2L, "writer-B")).toDF("id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$root2/docs/batch_id=0")
    val first = GraftTable.commit(spark, root2, 0)
    val second = GraftTable.commit(spark, root2, 0)
    assert(first == second && first.nonEmpty)
    assert(GraftTable.read(spark, root2, "docs")
      .select("text").head().getString(0) == "writer-B")
  }

  test("racing writers on one version: rename arbitrates, replays reconcile") {
    import org.apache.hadoop.fs.Path
    val log = new Path(
      Files.createTempDirectory("gt-race").toString, "_graft_log")
    val hfs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(log)
    val files = Seq("raw/batch_id=7/part-0.parquet")
    val json = """{"batchId":7,"files":["raw/batch_id=7/part-0.parquet"]}"""
    // 8 concurrent same-content publishers: every one must succeed and
    // agree on the published set; exactly one version file exists after
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val futures = (0 until 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = {
          barrier.await()
          GraftTable.publish(hfs, log, 7L, json, files)
        }
      })
    }
    val results = futures.map(_.get())
    pool.shutdown()
    assert(results.forall(_ == files))
    val vFiles = hfs.listStatus(log).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(vFiles.length == 1)

    // a loser with DIFFERENT content must get the conflict, and the
    // winner's commit must survive untouched
    val other = Seq("raw/batch_id=7/part-OTHER.parquet")
    val otherJson =
      """{"batchId":7,"files":["raw/batch_id=7/part-OTHER.parquet"]}"""
    intercept[GraftTable.ConcurrentCommitException] {
      GraftTable.publish(hfs, log, 7L, otherJson, other)
    }
    assert(GraftTable.publish(hfs, log, 7L, json, files) == files,
      "winner content must survive the losing attempt")
  }

  test("deleteWhere: copy-on-write, time travel intact, vacuum-safe") {
    val root = Files.createTempDirectory("gt-delete").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    (1L to 10L).map(i => (i, s"doc $i")).toDF("id", "text")
      .coalesce(2).write.parquet(s"$root/docs/batch_id=0")
    GraftTable.commit(spark, root, 0)
    (11L to 20L).map(i => (i, s"doc $i")).toDF("id", "text")
      .coalesce(2).write.parquet(s"$root/docs/batch_id=1")
    GraftTable.commit(spark, root, 1)
    val before = GraftTable.committedFiles(spark, root)

    val v = GraftTable.deleteWhere(spark, root, "docs", col("id") % 2 === 1)
    assert(v.contains(2L))
    // snapshot: only even ids survive
    val ids = GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == (2L to 20L by 2))
    // time travel to pre-delete versions still sees every row
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 20)
    assert(GraftTable.readAsOf(spark, root, "docs", 0).count() == 10)
    // replaced bytes stay on disk and vacuum must keep them
    before.foreach(f => assert(new java.io.File(s"$root/$f").exists(),
      s"replaced file $f must survive for time travel"))
    assert(GraftTable.vacuum(spark, root, ttlMs = 0).isEmpty)
    before.foreach(f => assert(new java.io.File(s"$root/$f").exists()))

    // no-match delete publishes nothing
    assert(GraftTable.deleteWhere(spark, root, "docs",
      col("id") > 1000).isEmpty)
    assert(GraftTable.versions(spark, root) == Seq(0L, 1L, 2L))

    // a second delete composes on the already-rewritten snapshot
    val v2 = GraftTable.deleteWhere(spark, root, "docs", col("id") === 2L)
    assert(v2.contains(3L))
    assert(GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq == (4L to 20L by 2))
    // history survives checkpoint folding with removals intact
    GraftTable.checkpoint(spark, root, throughBatchId = 3)
    assert(GraftTable.read(spark, root, "docs").count() == 9)
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 20)
  }

  test("deleteWhere: partitioned sink keeps the writeBatch layout; " +
       "null predicate retains rows") {
    val root = Files.createTempDirectory("gt-delete-part").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two batches in the streaming layout: sink/<y/m/d/h>/batch_id=N
    val ms0 = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    val ms1 = java.time.Instant.parse("2024-03-01T11:00:00Z").toEpochMilli
    def mk(ids: Seq[Long], ms: Long) =
      ids.map(i => (i, if (i % 5 == 0) null else s"doc $i", ms))
        .toDF("id", "text", "ms")
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(1L to 10L, ms0), col("ms")),
      s"$root/docs", batchId = 0)
    GraftTable.commit(spark, root, 0)
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(11L to 20L, ms1), col("ms")),
      s"$root/docs", batchId = 1)
    GraftTable.commit(spark, root, 1)

    // predicate is NULL on text-less rows (id % 5 == 0): Delta DELETE
    // semantics retain them even though they share files with matches
    val v = GraftTable.deleteWhere(spark, root, "docs",
      col("text").endsWith("1") || col("text").endsWith("3"))
    assert(v.contains(2L))
    val after = GraftTable.read(spark, root, "docs")
    val ids = after.select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 20L).filterNot(i =>
      i % 10 == 1 || i % 10 == 3),
      "rows whose predicate is NULL must survive the rewrite")
    // the rewrite must not poison partition discovery: layout stays
    // sink/<y/m/d/h>/batch_id=N, pruning columns intact
    assert(after.columns.contains("year") && after.columns.contains("batch_id"))
    assert(after.filter(col("hour") === 10).select("id").as[Long]
      .collect().sorted.toSeq ==
      (1L to 10L).filterNot(i => i == 1 || i == 3))
    // time travel across the delete still works on the partitioned sink
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 20)
    // a second delete composes (the snapshot now mixes original and
    // rewritten files — both in the same layout)
    val v2 = GraftTable.deleteWhere(spark, root, "docs", col("id") === 20L)
    assert(v2.contains(3L))
    assert(GraftTable.read(spark, root, "docs").count() == 15)
  }

  test("compact: many micro-batch files become few, snapshot identical, " +
       "time travel intact") {
    val root = Files.createTempDirectory("gt-compact").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    // eight tiny micro-batches into one hour partition — the streaming
    // small-file workload
    (0L until 8L).foreach { b =>
      val df = (b * 10 until b * 10 + 10)
        .map(i => (i, s"doc $i", ms)).toDF("id", "text", "ms")
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(df, col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    val before = GraftTable.committedFiles(spark, root)
    assert(before.size >= 8)
    val beforeRows = GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq

    val v = GraftTable.compact(spark, root, "docs")
    assert(v.contains(8L))
    val after = GraftTable.committedFiles(spark, root)
    assert(after.size < before.size,
      s"compaction must shrink the file count (${before.size} -> ${after.size})")
    assert(after.forall(_.contains("/batch_id=8/")),
      "every small file should have been rewritten into the new version")
    val read = GraftTable.read(spark, root, "docs")
    assert(read.select("id").as[Long].collect().sorted.toSeq == beforeRows,
      "compaction must not change the snapshot's rows")
    // layout + pruning survive (same law as deleteWhere)
    assert(read.columns.contains("year") && read.columns.contains("batch_id"))
    assert(read.filter(col("hour") === 10).count() == 80)
    // pre-compaction versions still time travel to the original files
    assert(GraftTable.readAsOf(spark, root, "docs", 3)
      .select("id").as[Long].collect().sorted.toSeq == (0L until 40L).toSeq)
    // originals are version-referenced: vacuum must keep them
    assert(GraftTable.vacuum(spark, root, ttlMs = 0).isEmpty)
    // a second compact is a no-op: one file per partition already
    assert(GraftTable.compact(spark, root, "docs").isEmpty)
  }

  test("compact bin-packs to the target size and skips large files") {
    val root = Files.createTempDirectory("gt-compact-bins").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    (0L until 6L).foreach { b =>
      val df = (0 until 50).map(i => (b * 100 + i, "x" * 200, ms))
        .toDF("id", "text", "ms")
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(df, col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    val sizes = GraftTable.committedFiles(spark, root).map { rel =>
      new java.io.File(s"$root/$rel").length
    }
    val perFile = sizes.max
    // target fits ~2 originals per bin -> 6 files become ~3
    val target = 2 * perFile + 1024
    val v = GraftTable.compact(spark, root, "docs",
      smallFileBytes = perFile + 1024, targetFileBytes = target)
    assert(v.isDefined)
    val after = GraftTable.committedFiles(spark, root)
    // bin placement is EXACT (one task per bin): 6 small files first-fit
    // into 2-per-bin bins = exactly 3 output files, none above target
    assert(after.size == 3,
      s"6 small files at 2-per-bin must pack to exactly 3, got ${after.size}")
    after.foreach { rel =>
      val len = new java.io.File(s"$root/$rel").length
      assert(len <= target,
        s"output file $rel is $len bytes, above the $target target")
    }
    assert(GraftTable.read(spark, root, "docs").count() == 300)
    // below-threshold run: nothing small enough, no new version
    assert(GraftTable.compact(spark, root, "docs",
      smallFileBytes = 10, targetFileBytes = 2 * perFile).isEmpty)
  }

  test("compact composes with deleteWhere and later appends") {
    val root = Files.createTempDirectory("gt-compact-mix").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    def write(b: Long, ids: Seq[Long]): Unit = {
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(
          ids.map(i => (i, ms)).toDF("id", "ms"), col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    (0L until 3L).foreach(b => write(b, b * 10 until b * 10 + 10))
    // row-level delete rewrites affected files into v3
    assert(GraftTable.deleteWhere(spark, root, "docs",
      col("id") % 10 === 0).contains(3L))
    // more micro-batches after the delete
    write(4L, 30L until 40L)
    write(5L, 40L until 50L)
    // compact the mixed snapshot (delete survivors + fresh appends)
    val v = GraftTable.compact(spark, root, "docs")
    assert(v.contains(6L))
    val expect = (0L until 50L).filterNot(i => i < 30 && i % 10 == 0)
    assert(GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq == expect)
    // every older version still time travels: pre-delete, post-delete,
    // pre-compaction
    assert(GraftTable.readAsOf(spark, root, "docs", 2).count() == 30)
    assert(GraftTable.readAsOf(spark, root, "docs", 3).count() == 27)
    assert(GraftTable.readAsOf(spark, root, "docs", 5)
      .select("id").as[Long].collect().sorted.toSeq == expect)
    // nothing referenced is vacuumable; the log folds without loss
    assert(GraftTable.vacuum(spark, root, ttlMs = 0).isEmpty)
    GraftTable.checkpoint(spark, root, 6L)
    assert(GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq == expect)
  }

  test("GRAFT OPTIMIZE / DELETE / VACUUM run as SQL commands") {
    val root = Files.createTempDirectory("gt-sql-cmd").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    (0L until 4L).foreach { b =>
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(
          (b * 10 until b * 10 + 10).map(i => (i, ms)).toDF("id", "ms"),
          col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    // DELETE with a real SQL predicate (parsed by Spark's parser)
    val del = spark.sql(
      s"GRAFT DELETE '$root' SINK 'docs' WHERE id % 10 = 3 OR id > 35")
      .collect()
    assert(del.head.getLong(0) == 4L)
    assert(GraftTable.read(spark, root, "docs").count() == 32)
    // OPTIMIZE compacts the micro-batch + delete-survivor files
    // (commands execute eagerly on spark.sql, like Spark's own DDL)
    val opt = spark.sql(s"GRAFT OPTIMIZE '$root' SINK 'docs'").collect()
    assert(opt.head.getLong(0) == 5L)
    assert(GraftTable.read(spark, root, "docs").count() == 32)
    // second run: nothing small enough left in groups of 2+
    assert(spark.sql(s"GRAFT OPTIMIZE '$root' SINK 'docs'").collect()
      .head.isNullAt(0))
    // VACUUM with TTL 0 removes nothing (all files version-referenced)
    assert(spark.sql(s"GRAFT VACUUM '$root' RETAIN 0").collect()
      .head.getLong(0) == 0L)
    // DRY RUN lists the would-be victims without deleting: plant an
    // orphan (crash debris — no version references it), preview, then
    // really vacuum it
    val orphan = new java.io.File(s"$root/docs/orphan-debris.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val preview = spark.sql(s"GRAFT VACUUM '$root' RETAIN 0 DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(preview == Seq("docs/orphan-debris.parquet"), preview.toString)
    assert(orphan.exists(), "DRY RUN must not delete")
    assert(spark.sql(s"GRAFT VACUUM '$root' RETAIN 0").collect()
      .head.getLong(0) == 1L)
    assert(!orphan.exists())
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // HISTORY lists every version incl. the delete and the compaction
    val hist = spark.sql(s"GRAFT HISTORY '$root'").collect()
    assert(hist.map(_.getLong(0)).toSeq == (0L to 5L))
    assert(hist.last.getLong(2) > 0, "compaction version lists removals")
    assert(hist.head.getString(3) == "docs")
    // CHECKPOINT folds the commit prefix via SQL; history, snapshot,
    // and time travel all survive the fold
    val cp = spark.sql(s"GRAFT CHECKPOINT '$root'").head
    assert(cp.getLong(0) == 5L)
    assert(spark.sql(s"GRAFT HISTORY '$root'").count() == 6)
    assert(GraftTable.read(spark, root, "docs").count() == 32)
    assert(GraftTable.readAsOf(spark, root, "docs", 3).count() == 40)
  }

  test("readChanges: incremental consumption reads only new files") {
    val root = Files.createTempDirectory("gt-changes").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    def write(b: Long, ids: Seq[Long]): Unit = {
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(
          ids.map(i => (i, ms)).toDF("id", "ms"), col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    write(0L, 0L until 10L)
    write(1L, 10L until 20L)
    write(2L, 20L until 30L)
    // a consumer caught up through v0 sees exactly v1+v2's rows
    assert(GraftTable.readChanges(spark, root, "docs", afterVersion = 0)
      .select("id").as[Long].collect().sorted.toSeq == (10L until 30L))
    // bounded range: only v1
    assert(GraftTable.readChanges(spark, root, "docs", 0, 1)
      .select("id").as[Long].collect().sorted.toSeq == (10L until 20L))
    // caught-up consumer gets an empty frame
    assert(GraftTable.readChanges(spark, root, "docs", 2).isEmpty)
    // the scan plans ONLY the range's files, not the snapshot
    val planned = GraftTable.readChanges(spark, root, "docs", 1)
      .queryExecution.executedPlan.collectLeaves().flatMap {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
        case _ => Nil
      }
    assert(planned.nonEmpty && planned.forall(_.contains("batch_id=2")),
      s"incremental read must touch only v2 files, planned: $planned")
    // a delete's survivors appear as additions (copy-on-write CDF)
    GraftTable.deleteWhere(spark, root, "docs", col("id") === 5L)
    val d = GraftTable.readChanges(spark, root, "docs", 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(d == (0L until 10L).filterNot(_ == 5L),
      "the rewrite version adds the affected file's survivors")
    // the SQL face agrees
    assert(spark.sql(
      s"SELECT id FROM graft_table_changes('$root', 'docs', 0, 2)")
      .as[Long].collect().sorted.toSeq == (10L until 30L))
  }

  test("updateWhere: SET evaluated on the old row, null predicate retains, " +
       "time travel intact") {
    val root = Files.createTempDirectory("gt-update").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, if (i % 5 == 0) null else s"doc $i", i * 10, ms))
        .toDF("id", "text", "score", "ms")
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(1L to 10L), col("ms")),
      s"$root/docs", batchId = 0)
    GraftTable.commit(spark, root, 0)
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(11L to 20L), col("ms")),
      s"$root/docs", batchId = 1)
    GraftTable.commit(spark, root, 1)

    // predicate is NULL on text-less rows (id % 5 == 0): they must be
    // carried over UNCHANGED even though they share files with matches.
    // Both SET expressions read the OLD row (score doubles once, text
    // sees the pre-update text).
    val v = GraftTable.updateWhere(spark, root, "docs",
      col("text").endsWith("3"),
      Map("score" -> (col("score") * 2),
        "text" -> concat(col("text"), lit("!"))))
    assert(v.contains(2L))
    val after = GraftTable.read(spark, root, "docs")
      .select("id", "text", "score")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(after(3L) == (("doc 3!", 60L)) && after(13L) == (("doc 13!", 260L)))
    assert(after(4L) == (("doc 4", 40L)), "non-matching rows unchanged")
    assert(after(5L) == ((null, 50L)), "NULL-predicate rows retained unchanged")
    assert(after.size == 20, "update must not drop or duplicate rows")
    // layout + time travel across the update
    val read = GraftTable.read(spark, root, "docs")
    assert(read.columns.contains("year") && read.columns.contains("batch_id"))
    assert(GraftTable.readAsOf(spark, root, "docs", 1)
      .filter(col("id") === 3L).select("score").as[Long].head() == 30L)
    // no-match update publishes nothing
    assert(GraftTable.updateWhere(spark, root, "docs",
      col("id") > 1000, Map("score" -> lit(0))).isEmpty)
    // batch_id is not SET-able
    intercept[IllegalArgumentException] {
      GraftTable.updateWhere(spark, root, "docs",
        col("id") === 1L, Map("batch_id" -> lit(99)))
    }
  }

  test("merge: upsert rewrites only affected files, one atomic version, " +
       "time travel across the merge") {
    val root = Files.createTempDirectory("gt-merge").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    def mk(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag $i", ms)).toDF("id", "text", "ms")
    // two files in batch 0 (coalesce 2), one in batch 1
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(1L to 10L, "old"), col("ms")),
      s"$root/docs", batchId = 0, coalescePartitions = false)
    GraftTable.commit(spark, root, 0)
    ExportParquet.writeBatch(
      ExportParquet.withPartitionCols(mk(11L to 20L, "old"), col("ms")),
      s"$root/docs", batchId = 1)
    GraftTable.commit(spark, root, 1)
    val preMergeFiles = GraftTable.committedFiles(spark, root).toSet

    // source: updates ids 15..20, inserts 21..25 — the CDC micro-batch
    // shape. It must carry the sink's data columns incl. partition cols.
    val source = ExportParquet.withPartitionCols(
      mk(15L to 25L, "new"), col("ms")).drop("batch_id")
    val snapshot = GraftTable.read(spark, root, "docs")
    val srcAligned = source.select(
      snapshot.columns.filterNot(_ == "batch_id").map(col): _*)
    val v = GraftTable.merge(spark, root, "docs", srcAligned, Seq("id"))
    assert(v.contains(2L))

    val after = GraftTable.read(spark, root, "docs")
      .select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after.size == 25)
    assert((1L to 14L).forall(i => after(i) == s"old $i"),
      "unmatched target rows unchanged")
    assert((15L to 20L).forall(i => after(i) == s"new $i"),
      "matched rows replaced by their source version")
    assert((21L to 25L).forall(i => after(i) == s"new $i"),
      "unmatched source rows inserted")
    // CoW: batch 0's files (no matched rows) must NOT have been removed
    val hist = GraftTable.history(spark, root)
    val removed = hist.find(_.batchId == 2L).get.removed
    assert(removed.nonEmpty && removed.forall(_.contains("batch_id=1")),
      s"only batch-1 files hold matches, removed: $removed")
    preMergeFiles.foreach(f => assert(
      new java.io.File(s"$root/$f").exists(), s"replaced file $f kept"))
    // time travel to the pre-merge version
    assert(GraftTable.readAsOf(spark, root, "docs", 1)
      .filter(col("id") === 15L).select("text").as[String].head() == "old 15")
    assert(GraftTable.readAsOf(spark, root, "docs", 1).count() == 20)
    // vacuum keeps every version-referenced file
    assert(GraftTable.vacuum(spark, root, ttlMs = 0).isEmpty)

    // ambiguity law: two source rows sharing a key abort
    intercept[IllegalArgumentException] {
      GraftTable.merge(spark, root, "docs",
        srcAligned.union(srcAligned.limit(1)), Seq("id"))
    }
    // no-op merge (all keys match, update off) publishes nothing
    assert(GraftTable.merge(spark, root, "docs",
      srcAligned.filter(col("id") <= 20), Seq("id"),
      updateWhenMatched = false).isEmpty)
    // insert-only mode appends without rewriting anything
    val v2 = GraftTable.merge(spark, root, "docs",
      ExportParquet.withPartitionCols(mk(Seq(26L, 15L), "ins"), col("ms"))
        .drop("batch_id")
        .select(snapshot.columns.filterNot(_ == "batch_id").map(col): _*),
      Seq("id"), updateWhenMatched = false)
    assert(v2.contains(3L))
    assert(GraftTable.history(spark, root).find(_.batchId == 3L).get
      .removed.isEmpty, "insert-only merge must not rewrite files")
    val after2 = GraftTable.read(spark, root, "docs")
      .select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after2(26L) == "ins 26" && after2(15L) == "new 15",
      "insert-only: new key appended, matched key untouched")
  }

  test("merge with WHEN MATCHED DELETE: upsert + tombstone + insert in " +
       "ONE atomic commit, time travel intact") {
    val root = Files.createTempDirectory("gt-merge-del").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    (1L to 10L).map(i => (i, s"old $i")).toDF("id", "text")
      .write.parquet(s"$root/docs/batch_id=0")
    GraftTable.commit(spark, root, 0)

    // one CDC micro-batch: update 2, tombstone 3 and 7, insert 11 —
    // an op column outside the sink schema drives the clause conditions
    val src = Seq(
      (2L, "new 2", "u"), (3L, "gone", "d"), (7L, "gone", "d"),
      (11L, "new 11", "i"))
      .toDF("id", "text", "op")
    val v = GraftTable.merge(spark, root, "docs", src, Seq("id"),
      deleteWhenMatched = Some(col("op") === "d"))
    assert(v.contains(1L))

    val after = GraftTable.read(spark, root, "docs")
      .select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after.size == 9, s"10 - 2 deleted + 1 inserted, got $after")
    assert(!after.contains(3L) && !after.contains(7L),
      "tombstoned rows removed")
    assert(after(2L) == "new 2", "matched non-delete row updated")
    assert(after(11L) == "new 11", "unmatched source row inserted")
    assert((Seq(1L, 4L, 5L, 6L, 8L, 9L, 10L)).forall(i =>
      after(i) == s"old $i"), "survivors carried over")
    // ONE version holds the whole merge; time travel sees the old rows
    assert(GraftTable.versions(spark, root) == Seq(0L, 1L))
    assert(GraftTable.readAsOf(spark, root, "docs", 0).count() == 10)
    assert(GraftTable.readAsOf(spark, root, "docs", 0)
      .filter(col("id") === 3L).count() == 1)

    // a delete-only merge against untouched keys publishes nothing
    assert(GraftTable.merge(spark, root, "docs",
      Seq((99L, "x", "d")).toDF("id", "text", "op"), Seq("id"),
      updateWhenMatched = false, insertWhenNotMatched = false,
      deleteWhenMatched = Some(col("op") === "d")).isEmpty)

    // insertWhen gates which unmatched source rows append
    val v2 = GraftTable.merge(spark, root, "docs",
      Seq((21L, "in", "i"), (22L, "skip", "s")).toDF("id", "text", "op"),
      Seq("id"), updateWhenMatched = false,
      insertWhen = Some(col("op") === "i"))
    assert(v2.contains(2L))
    val ids = GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().toSet
    assert(ids.contains(21L) && !ids.contains(22L),
      "insertWhen must gate the not-matched inserts")
  }

  test("merge into an empty sink inserts everything; GRAFT MERGE/UPDATE " +
       "run as SQL") {
    val root = Files.createTempDirectory("gt-merge-sql").toString
    import spark.implicits._
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "text", "score")
      .createOrReplaceTempView("merge_src_1")
    val r1 = spark.sql(
      s"GRAFT MERGE '$root' SINK 'docs' USING (SELECT * FROM merge_src_1) ON id")
      .collect()
    assert(r1.head.getLong(0) == 0L)
    assert(GraftTable.read(spark, root, "docs").count() == 2)

    // SQL upsert on the now-populated sink
    Seq((2L, "B", 99), (3L, "c", 30)).toDF("id", "text", "score")
      .createOrReplaceTempView("merge_src_2")
    val r2 = spark.sql(
      s"GRAFT MERGE '$root' SINK 'docs' USING (SELECT * FROM merge_src_2) ON id")
      .collect()
    assert(r2.head.getLong(0) == 1L)
    val rows = GraftTable.read(spark, root, "docs")
      .select("id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((1L, "a", 10), (2L, "B", 99), (3L, "c", 30)))

    // GRAFT UPDATE with a multi-assignment SET (comma inside an
    // expression exercises the top-level splitter)
    val r3 = spark.sql(s"GRAFT UPDATE '$root' SINK 'docs' " +
      "SET score = score + 1, text = concat(text, '!') WHERE id >= 2")
      .collect()
    assert(r3.head.getLong(0) == 2L)
    val rows2 = GraftTable.read(spark, root, "docs")
      .select("id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows2 == Set((1L, "a", 10), (2L, "B!", 100), (3L, "c!", 31)))
    // INSERT ONLY mode via SQL
    Seq((3L, "no", 0), (4L, "d", 40)).toDF("id", "text", "score")
      .createOrReplaceTempView("merge_src_3")
    spark.sql(s"GRAFT MERGE '$root' SINK 'docs' " +
      "USING (SELECT * FROM merge_src_3) ON id INSERT ONLY").collect()
    val ids = GraftTable.read(spark, root, "docs")
      .select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(ids.size == 4 && ids(3L) == "c!" && ids(4L) == "d")

    // DELETE WHEN: the CDC tombstone clause from SQL — an op column in
    // the source drives it (and the predicate's own 'WHEN'-free text
    // must survive the tail regex)
    Seq((2L, "x", 0, "d"), (4L, "D2", 44, "u"), (5L, "e", 50, "i"))
      .toDF("id", "text", "score", "op")
      .createOrReplaceTempView("merge_src_4")
    val r4 = spark.sql(s"GRAFT MERGE '$root' SINK 'docs' " +
      "USING (SELECT * FROM merge_src_4) ON id DELETE WHEN op = 'd'")
      .collect()
    assert(r4.head.getLong(0) == 4L)
    val after = GraftTable.read(spark, root, "docs")
      .select("id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!after.contains(2L), "SQL tombstone must delete the matched row")
    assert(after(4L) == "D2" && after(5L) == "e" && after.size == 4)
  }

  test("readChanges tags _change_type: append=insert, delete/compact=rewrite") {
    val root = Files.createTempDirectory("gt-changes-type").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ms = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
    def write(b: Long, ids: Seq[Long]): Unit = {
      ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(
          ids.map(i => (i, ms)).toDF("id", "ms"), col("ms")),
        s"$root/docs", batchId = b)
      GraftTable.commit(spark, root, b)
    }
    write(0L, 0L until 10L)
    write(1L, 10L until 20L)                     // v1: append
    GraftTable.deleteWhere(spark, root, "docs", col("id") === 5L) // v2: CoW
    GraftTable.compact(spark, root, "docs")      // v3: CoW
    def changes(after: Long, until: Long) =
      GraftTable.readChanges(spark, root, "docs", after, until)
        .select("id", GraftTable.ChangeTypeCol)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // pure-append range: every row inserts
    assert(changes(0, 1).forall(_._2 == "insert"))
    assert(changes(0, 1).map(_._1).sorted.toSeq == (10L until 20L))
    // the delete's survivors are rewrites — an incremental consumer
    // must not double-count them
    val del = changes(1, 2)
    assert(del.nonEmpty && del.forall(_._2 == "rewrite"))
    assert(!del.map(_._1).contains(5L))
    // a mixed range tags per version (constant-tagged scan per group)
    val mixed = changes(0, 2)
    assert(mixed.filter(_._2 == "insert").map(_._1).sorted.toSeq ==
      (10L until 20L))
    assert(mixed.filter(_._2 == "rewrite").nonEmpty)
    // ...and stays codegen'd: the tag is per-scan, never a per-row
    // input_file_name() lookup — a udf here would break whole-stage
    // codegen on every change-feed read of a big table
    val mixedPlan = GraftTable.readChanges(spark, root, "docs", 0, 2)
      .queryExecution.executedPlan.toString
    assert(!mixedPlan.toLowerCase.contains("udf"),
      s"change-feed plan must not contain a udf:\n$mixedPlan")
    // compaction rewrites everything it packed
    assert(changes(2, 3).forall(_._2 == "rewrite"))
    // an empty poll returns the sink's SCHEMA, not a zero-column frame:
    // the consumer's select keeps resolving (Delta CDF contract)
    val empty = GraftTable.readChanges(spark, root, "docs", 3)
    assert(empty.isEmpty)
    assert(empty.columns.contains("id") &&
      empty.columns.contains(GraftTable.ChangeTypeCol))
    assert(empty.select("id", GraftTable.ChangeTypeCol).count() == 0)
    // …and the empty frame's schema is IDENTICAL to a non-empty poll's:
    // partition columns and batch_id resolve on both (a consumer's
    // `select hour` must not break only on quiet polls)
    val nonEmpty = GraftTable.readChanges(spark, root, "docs", 2, 3)
    assert(empty.schema == nonEmpty.schema,
      s"empty ${empty.schema.treeString} vs ${nonEmpty.schema.treeString}")
    assert(empty.columns.contains("hour") && empty.columns.contains("batch_id"))
    assert(empty.select("year", "hour", "batch_id").count() == 0)
    // the SQL face carries the tag too
    assert(spark.sql(
      s"SELECT ${GraftTable.ChangeTypeCol} FROM " +
        s"graft_table_changes('$root', 'docs', 1, 2)")
      .collect().map(_.getString(0)).forall(_ == "rewrite"))
  }

  test("nextBatchId: optimistic version allocation past the newest commit") {
    val export = Files.createTempDirectory("gt-next").toString
    val cfg = cfgFor(export)
    val root = s"$export/${cfg.logname}"
    assert(GraftTable.nextBatchId(spark, root) == 0L)
    val batch = ProtoPipeline
      .decodeFrames(ProtoPipeline.framedMessages(spark, sf0001)).limit(5)
    BidPipeline.exportBatch(batch, cfg, batchId = 0)
    assert(GraftTable.nextBatchId(spark, root) == 1L)
    BidPipeline.exportBatch(batch, cfg, batchId = 4)
    assert(GraftTable.nextBatchId(spark, root) == 5L)
  }

  private def stage(root: String, sink: String, batchId: Long,
                    df: org.apache.spark.sql.DataFrame): Unit = {
    df.withColumn("batch_id", lit(batchId))
      .write.mode("append").partitionBy("batch_id").parquet(s"$root/$sink")
    GraftTable.commit(spark, root, batchId)
  }

  test("copy-on-write rewrites preserve additively-added columns") {
    import spark.implicits._
    val root = Files.createTempDirectory("gt-evolve-cow").toString
    // v0 has {id, a}; v1 adds column b — additive evolution, accepted
    stage(root, "t", 0, Seq((1L, "x"), (2L, "y")).toDF("id", "a"))
    stage(root, "t", 1,
      Seq((3L, "z", 30L), (4L, "w", 40L)).toDF("id", "a", "b"))
    // delete one row FROM THE EVOLVED FILE: the rewrite must
    // re-materialize its survivors WITH column b intact — a
    // single-footer snapshot read would infer {id, a} from the v0 file
    // and silently destroy b's data
    assert(GraftTable.deleteWhere(spark, root, "t", col("id") === 3L).nonEmpty)
    val after = GraftTable.read(spark, root, "t")
    assert(after.columns.contains("b"), after.columns.mkString(","))
    val row4 = after.filter(col("id") === 4L).select("b").collect()
    assert(row4.length == 1 && row4.head.getLong(0) == 40L,
      "survivor of the evolved file lost its added-column value")
    // an empty change poll after evolution reports the merged schema
    val lastV = GraftTable.versions(spark, root).last
    val empty = GraftTable.readChanges(spark, root, "t", lastV)
    assert(empty.columns.contains("b"), "empty poll dropped an added column")
    // compaction across the evolution boundary preserves b too
    assert(GraftTable.compact(spark, root, "t",
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 30).nonEmpty)
    val compacted = GraftTable.read(spark, root, "t")
    assert(compacted.filter(col("id") === 4L).select("b")
      .collect().head.getLong(0) == 40L,
      "compaction lost an added-column value")
    assert(compacted.filter(col("id") === 1L).select("b")
      .collect().head.isNullAt(0), "pre-evolution rows read b as null")
  }

  test("compact converges: unpairable smalls are left alone, not rewritten 1:1") {
    import spark.implicits._
    val root = Files.createTempDirectory("gt-converge").toString
    stage(root, "t", 0, Seq((1L, "a")).toDF("id", "v"))
    stage(root, "t", 1, Seq((2L, "b")).toDF("id", "v"))
    // both files are "small", but the target is so low no pair fits one
    // bin: every bin is a singleton → nothing worth rewriting. The old
    // behavior rewrote each file into an identical new file and would
    // do so again on EVERY maintenance run, forever.
    assert(GraftTable.compact(spark, root, "t",
      smallFileBytes = 1L << 20, targetFileBytes = 1L).isEmpty,
      "singleton bins must not rewrite")
    // with a sane target the pair packs, and a SECOND compact is a no-op
    assert(GraftTable.compact(spark, root, "t",
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 30).nonEmpty)
    assert(GraftTable.compact(spark, root, "t",
      smallFileBytes = 1L << 20, targetFileBytes = 1L << 30).isEmpty,
      "re-compacting a compacted sink must converge to None")
    assert(GraftTable.read(spark, root, "t").count() == 2)
  }

  test("a fully-deleted sink keeps its schema; merge bootstrap re-projects") {
    import spark.implicits._
    val root = Files.createTempDirectory("gt-emptied").toString
    stage(root, "t", 0, Seq((1L, "x"), (2L, "y")).toDF("id", "a"))
    assert(GraftTable.deleteWhere(spark, root, "t", col("id") >= 0L).nonEmpty)
    // empty snapshot, but consumers' selects keep resolving
    val emptied = GraftTable.read(spark, root, "t")
    assert(emptied.count() == 0)
    assert(emptied.columns.contains("id") && emptied.columns.contains("a"),
      s"fully-deleted sink lost its schema: ${emptied.columns.mkString(",")}")
    // a merge into the emptied sink projects inserts onto the RECORDED
    // schema: the CDC op flag must not become a data column
    val src = Seq((5L, "q", "I"), (6L, "r", "I")).toDF("id", "a", "op")
    assert(GraftTable.merge(spark, root, "t", src, keys = Seq("id")).nonEmpty)
    val after = GraftTable.read(spark, root, "t")
    assert(after.count() == 2)
    assert(!after.columns.contains("op"),
      "bootstrap baked a clause-only source column into the sink")
  }

  test("re-bootstrap of a partitioned sink after a full DELETE keeps its partition column") {
    val root = Files.createTempDirectory("gt-rebootstrap").toString
    import spark.implicits._
    val src1 = Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "text", "lang")
    assert(GraftTable.merge(spark, root, "docs", src1, Seq("id"),
      bootstrapPartitionBy = Seq("lang")).nonEmpty)
    assert(new java.io.File(s"$root/docs/lang=en").exists())
    // empty the sink completely — its recorded schema survives, but
    // partition columns are footer-excluded from it
    assert(GraftTable.deleteWhere(spark, root, "docs", lit(true)).nonEmpty)
    assert(GraftTable.read(spark, root, "docs").count() == 0)
    // re-bootstrap: the projection must union the partition column
    // back in instead of failing with "not a source column"
    val src2 = Seq((3L, "c", "fr"), (4L, "d", "en")).toDF("id", "text", "lang")
    assert(GraftTable.merge(spark, root, "docs", src2, Seq("id"),
      bootstrapPartitionBy = Seq("lang")).nonEmpty)
    val after = GraftTable.read(spark, root, "docs")
    assert(after.count() == 2)
    assert(after.columns.contains("lang"))
    assert(new java.io.File(s"$root/docs/lang=fr").exists(),
      "re-bootstrap must lay the sink out by its partition column again")
  }

  test("checkpoints are versioned: the old manifest survives until the new one is durable") {
    val export = Files.createTempDirectory("gt-ckpt-v").toString
    val cfg = cfgFor(export)
    val root = s"$export/${cfg.logname}"
    val batch = ProtoPipeline
      .decodeFrames(ProtoPipeline.framedMessages(spark, sf0001)).limit(8)
    (0L to 3L).foreach(b => BidPipeline.exportBatch(batch.limit(2), cfg, b))
    val n = GraftTable.read(spark, root, "raw").count()

    GraftTable.checkpoint(spark, root, throughBatchId = 1)
    val logDir = new java.io.File(s"$root/_graft_log")
    def ckpts() = logDir.listFiles().map(_.getName)
      .filter(_.startsWith("checkpoint")).sorted.toSeq
    assert(ckpts().exists(_.contains("v")), ckpts().mkString(","))

    GraftTable.checkpoint(spark, root, throughBatchId = 3)
    // exactly one (the newest) manifest remains; never a window with none
    assert(ckpts().length == 1 && ckpts().head.contains("3"),
      ckpts().mkString(","))
    assert(GraftTable.read(spark, root, "raw").count() == n,
      "snapshot changed across checkpoint folds")
    assert(GraftTable.readAsOf(spark, root, "raw", 0).count() > 0,
      "time travel must survive double folding")
    // legacy mutable checkpoint.json is recognized and then retired
    val legacy = new java.io.File(logDir, "checkpoint.json")
    java.nio.file.Files.writeString(legacy.toPath,
      """{"through":-1,"versions":[]}""")
    assert(GraftTable.read(spark, root, "raw").count() == n,
      "a stale legacy manifest must lose to the versioned one")
    GraftTable.checkpoint(spark, root, throughBatchId = 3)
    assert(!legacy.exists(), "legacy manifest must be retired by the fold")
  }

  test("zorder rewrites the sink clustered: content identical, per-file " +
       "ranges narrow, layout preserved, time travel intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    try {
      // rows arrive SHUFFLED so pre-zorder files span the id range
      val n = 4000
      val rnd = new scala.util.Random(7)
      val rows = rnd.shuffle((0 until n).toVector)
        .map(i => (i.toLong, if (i % 2 == 0) "en" else "fr", (i * 37 % n).toLong))
      rows.toDF("id", "lang", "v")
        .withColumn("batch_id", lit(0L))
        .repartition(8)
        .write.mode("append").partitionBy("lang", "batch_id")
        .parquet(s"$root/docs")
      GraftTable.commit(spark, root, 0L)
      // the z expression exactly as zorder computes it (quantile rank
      // buckets, Morton interleave) — the DIRECT clustering invariant
      // is on z, not on either single dimension (z-order trades
      // per-dim locality for both-dim)
      val buckets = 1 << graft.operators.Layout.ZBits
      def zCol = {
        import org.apache.spark.sql.GraftColumnBridge.{column, resolvedExpression}
        val qs = (1 until buckets).map(_.toDouble / buckets).toArray
        val data = GraftTable.read(spark, root, "docs")
        val row = data.agg(
          percentile_approx(col("id").cast("double"), lit(qs), lit(10000)),
          percentile_approx(col("v").cast("double"), lit(qs), lit(10000)))
          .head
        def bucket(c: String, i: Int) = column(graft.functions.QuantileBucket(
          resolvedExpression(col(c).cast("double")),
          row.getSeq[Double](i).toArray.sorted))
        graft.operators.Layout.zValue(bucket("id", 0), bucket("v", 1))
      }
      def zRanges(): Seq[(String, Long, Long)] = {
        val withF = GraftTable.read(spark, root, "docs")
          .withColumn("__f", input_file_name())
          .withColumn("__z", zCol)
        withF.groupBy("lang", "__f")
          .agg(min("__z").as("lo"), max("__z").as("hi"))
          .select("lang", "lo", "hi")
          .as[(String, Long, Long)].collect().toSeq
      }
      def filesTouching(lo: Long, hi: Long): Int = {
        val withF = GraftTable.read(spark, root, "docs")
          .withColumn("__f", input_file_name())
        withF.where(col("id") >= lo && col("id") < hi)
          .select("__f").distinct().count().toInt
      }
      val beforeFiles = filesTouching(0L, n / 16L)
      // small target so the rewrite produces several files per partition
      val ver = GraftTable.zorder(spark, root, "docs", Seq("id", "v"),
        targetFileBytes = 8L << 10)
      assert(ver.contains(1L))
      val after = zRanges()
      assert(after.size > 2, s"expected several clustered files, got $after")
      // the direct invariant, PER hive partition (clustering happens
      // within each lang dir, Delta's ZORDER shape): per-file z-ranges
      // are (nearly) disjoint — repartitionByRange + sort on
      // (partCols, z) means each partition's sum of per-file z spans
      // ~= its global z span, not files x span
      after.groupBy(_._1).foreach { case (lang, files) =>
        val global = files.map(_._3).max - files.map(_._2).min
        val sumSpans = files.map { case (_, lo, hi) => hi - lo }.sum
        assert(sumSpans <= global * 3 / 2,
          s"$lang files overlap in z: sum $sumSpans vs global $global")
      }
      // and a range query on one dimension touches FEWER files than the
      // shuffled layout did
      val afterFiles = filesTouching(0L, n / 16L)
      assert(afterFiles < beforeFiles,
        s"range query touched $afterFiles files (was $beforeFiles)")
      // content is exactly preserved
      assert(GraftTable.read(spark, root, "docs")
        .select("id", "lang", "v").orderBy("id")
        .as[(Long, String, Long)].collect().toSeq ==
        rows.sortBy(_._1))
      // hive layout survived (lang partitions still resolve)...
      assert(GraftTable.read(spark, root, "docs")
        .where(col("lang") === "en").count() == n / 2)
      // ...and time travel to the pre-zorder version still works
      assert(GraftTable.readAsOf(spark, root, "docs", 0L).count() == n)
      // the named-verb spelling parses and no-ops idempotently on a
      // re-clustered single-version... (re-running re-publishes a new
      // version — just assert it stays content-exact)
      spark.sql(s"GRAFT OPTIMIZE '$root' SINK 'docs' " +
        "ZORDER BY (id, v) TARGET 8192").collect()
      assert(GraftTable.read(spark, root, "docs").count() == n)
      // string columns are orderable since r15 (StringPrefixRank rank
      // surrogate — see the dedicated STRING z-order test): the mixed
      // (string, numeric) interleave publishes and stays content-exact
      assert(GraftTable.zorder(spark, root, "docs", Seq("lang", "id"),
        targetFileBytes = 8L << 10).nonEmpty)
      assert(GraftTable.read(spark, root, "docs").count() == n)
      // unknown and wrong-arity columns refuse loudly
      val e = intercept[IllegalArgumentException](
        GraftTable.zorder(spark, root, "docs", Seq("nope", "id")))
      assert(e.getMessage.contains("not a column"))
      val e2 = intercept[IllegalArgumentException](
        GraftTable.zorder(spark, root, "docs", Seq.empty))
      assert(e2.getMessage.contains("1 to 8"))
      val e3 = intercept[IllegalArgumentException](
        GraftTable.zorder(spark, root, "docs", Seq("id", "id")))
      assert(e3.getMessage.contains("distinct"))
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("quantile z-order clusters a ZIPFIAN column where uniform " +
       "buckets would collapse; 3 columns and single column work") {
    import spark.implicits._
    import org.apache.spark.sql.functions.width_bucket
    val root = java.nio.file.Files.createTempDirectory("graft-zorder-skew")
      .toString
    try {
      val n = 4000
      // v is zipf-ish and INDEPENDENT of id (a multiplicative-hash
      // permutation breaks the functional correlation)
      val rows = (0 until n).map { i =>
        val r = ((i * 2654435761L) % n + n) % n
        (i.toLong, n.toLong / (r + 1L), (i * 13 % n).toLong)
      }
      rows.toDF("id", "v", "w")
        .withColumn("batch_id", lit(0L))
        .repartition(8)
        .write.mode("append").partitionBy("batch_id")
        .parquet(s"$root/docs")
      GraftTable.commit(spark, root, 0L)
      // the counterfactual, asserted directly: uniform width_bucket
      // over v's [min,max] crams MOST rows into one bucket — nothing
      // for an interleave to cluster on
      val buckets = 1 << graft.operators.Layout.ZBits
      val data0 = GraftTable.read(spark, root, "docs")
      val vMax = data0.agg(max("v")).head.getLong(0).toDouble
      val topUniform = data0
        .groupBy(width_bucket(col("v").cast("double"), lit(1.0),
          lit(vMax), lit(buckets)))
        .count().agg(max("count")).head.getLong(0)
      assert(topUniform > n / 2,
        s"fixture not skewed enough: top uniform bucket $topUniform")
      assert(GraftTable.zorder(spark, root, "docs", Seq("id", "v"),
        targetFileBytes = 4L << 10).nonEmpty)
      def filesFor(cond: org.apache.spark.sql.Column): Int =
        GraftTable.read(spark, root, "docs")
          .withColumn("__f", input_file_name())
          .where(cond).select("__f").distinct().count().toInt
      val totalFiles = GraftTable.read(spark, root, "docs")
        .select(input_file_name()).distinct().count().toInt
      assert(totalFiles >= 6, s"want several files, got $totalFiles")
      // a value inside the zipfian HEAD (v = 2 covers ~17% of rows —
      // one quantile-bucket stripe) prunes to a minority of files;
      // under uniform buckets the whole head shared bucket 0 and every
      // file would carry it
      val headFiles = filesFor(col("v") === 2L)
      assert(headFiles <= (totalFiles * 2) / 3,
        s"zipfian head not clustered: $headFiles of $totalFiles files")
      // the other dimension still prunes too (that's the interleave)
      val idFiles = filesFor(col("id") < n / 8)
      assert(idFiles < totalFiles,
        s"id range touched every file: $idFiles of $totalFiles")
      // content preserved exactly
      assert(GraftTable.read(spark, root, "docs")
        .select("id", "v", "w").orderBy("id")
        .as[(Long, Long, Long)].collect().toSeq == rows.sortBy(_._1))
      // 3-column interleave publishes and preserves content (bits/dim
      // shrink to fit one long)
      assert(GraftTable.zorder(spark, root, "docs", Seq("id", "v", "w"),
        targetFileBytes = 8L << 10).nonEmpty)
      assert(GraftTable.read(spark, root, "docs").count() == n)
      // single-column z-order = plain range clustering
      assert(GraftTable.zorder(spark, root, "docs", Seq("id"),
        targetFileBytes = 8L << 10).nonEmpty)
      val spans = GraftTable.read(spark, root, "docs")
        .withColumn("__f", input_file_name())
        .groupBy("__f").agg(min("id").as("lo"), max("id").as("hi"))
        .select("lo", "hi").as[(Long, Long)].collect().toSeq
      val sumSpans = spans.map { case (lo, hi) => hi - lo }.sum
      assert(sumSpans <= (n * 3) / 2,
        s"single-column ranges overlap: $spans")
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("OPTIMIZE WHERE scopes compaction to matching partitions: " +
       "others keep their original files") {
    val root = Files.createTempDirectory("gt-compact-where").toString
    import spark.implicits._
    // four tiny batches across two lang partitions
    (0L until 4L).foreach { b =>
      (b * 10 until b * 10 + 10)
        .map(i => (i, s"doc $i", if (i % 2 == 0) "en" else "fr"))
        .toDF("id", "text", "lang")
        .withColumn("batch_id", lit(b))
        .repartition(col("lang"))
        .write.mode("append").partitionBy("lang", "batch_id")
        .parquet(s"$root/docs")
      GraftTable.commit(spark, root, b)
    }
    val before = GraftTable.committedFiles(spark, root)
    val beforeFr = before.filter(_.contains("lang=fr")).toSet
    val rows = GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq
    // scope to lang=en: fr's files survive untouched, en's compact
    val v = spark.sql(
      s"GRAFT OPTIMIZE '$root' SINK 'docs' WHERE lang = 'en'").head
    assert(!v.isNullAt(0), "en partition had small files to compact")
    val after = GraftTable.committedFiles(spark, root)
    assert(after.filter(_.contains("lang=fr")).toSet == beforeFr,
      "out-of-scope partition files must be untouched")
    assert(after.count(_.contains("lang=en")) <
      before.count(_.contains("lang=en")),
      "in-scope partition must have compacted")
    assert(GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq == rows,
      "scoped compaction must not change the snapshot")
    // a predicate matching nothing is a no-op
    assert(GraftTable.compact(spark, root, "docs",
      partitionPredicate = Some("lang = 'zz'")).isEmpty)
    // arbitrary expressions over the partition columns work (fr still
    // holds its 4 small originals → this pass compacts them)
    assert(GraftTable.compact(spark, root, "docs",
      partitionPredicate = Some("length(lang) = 2")).nonEmpty)
    // scoped Z-ORDER: only the matching partition is re-clustered,
    // the other keeps its exact file set; snapshot rows unchanged
    val beforeEn = GraftTable.committedFiles(spark, root)
      .filter(_.contains("lang=en")).toSet
    spark.sql(s"GRAFT OPTIMIZE '$root' SINK 'docs' " +
      "ZORDER BY (id) TARGET 4096 WHERE lang = 'fr'").collect()
    val afterZ = GraftTable.committedFiles(spark, root)
    assert(afterZ.filter(_.contains("lang=en")).toSet == beforeEn,
      "scoped zorder must not touch out-of-scope partitions")
    assert(GraftTable.read(spark, root, "docs")
      .select("id").as[Long].collect().sorted.toSeq == rows)
    // an unpartitioned sink refuses WHERE loudly
    (0L until 2L).foreach { b =>
      (0 until 5).map(i => (b, i)).toDF("b", "i")
        .withColumn("batch_id", lit(b + 10))
        .coalesce(1)
        .write.mode("append").partitionBy("batch_id")
        .parquet(s"$root/flat")
      GraftTable.commit(spark, root, b + 10)
    }
    val e = intercept[Exception](GraftTable.compact(spark, root, "flat",
      partitionPredicate = Some("lang = 'en'")))
    assert(TestErrors.messageChain(e).exists(_.contains("unpartitioned")))
    graft.operators.Scratch.rm(new java.io.File(root))
  }

  test("z-order on a STRING column: URL-style keys cluster past their " +
       "shared prefix; content exact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-zorder-str")
      .toString
    try {
      val n = 2000
      // URLs share a 25-byte prefix — the rank window must start AFTER
      // it or every key would rank identically; keys arrive permuted
      // (multiplicative hash) so the input layout carries no order
      val rows = (0 until n).map { i =>
        val r = ((i * 2654435761L) % n + n) % n
        (f"https://example.com/docs/$r%05d", i.toLong)
      }
      rows.toDF("url", "id")
        .withColumn("batch_id", lit(0L))
        .repartition(8)
        .write.mode("append").partitionBy("batch_id")
        .parquet(s"$root/docs")
      GraftTable.commit(spark, root, 0L)
      assert(GraftTable.zorder(spark, root, "docs", Seq("url", "id"),
        targetFileBytes = 4L << 10).nonEmpty)
      def filesFor(cond: org.apache.spark.sql.Column): Int =
        GraftTable.read(spark, root, "docs")
          .withColumn("__f", input_file_name())
          .where(cond).select("__f").distinct().count().toInt
      val totalFiles = GraftTable.read(spark, root, "docs")
        .select(input_file_name()).distinct().count().toInt
      assert(totalFiles >= 6, s"want several files, got $totalFiles")
      // a URL range (a 10% slice of the key space) touches a minority
      // of files — the interleave clustered the string dimension
      val urlFiles = filesFor(col("url") < "https://example.com/docs/00200")
      assert(urlFiles <= (totalFiles * 2) / 3,
        s"string dim not clustered: $urlFiles of $totalFiles files")
      // the numeric dimension prunes too
      val idFiles = filesFor(col("id") < n / 8)
      assert(idFiles < totalFiles,
        s"id range touched every file: $idFiles of $totalFiles")
      // content preserved exactly
      assert(GraftTable.read(spark, root, "docs")
        .select("url", "id").orderBy("id")
        .as[(String, Long)].collect().toSeq == rows.sortBy(_._2))
      // SQL spelling accepts the string column
      spark.sql(
        s"GRAFT OPTIMIZE '$root' SINK 'docs' ZORDER BY (url) TARGET 8192")
      assert(GraftTable.read(spark, root, "docs").count() == n)
    } finally graft.operators.Scratch.rm(new java.io.File(root))
  }
}
