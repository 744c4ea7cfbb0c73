package graft.sources.arrow

import java.io.IOException

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.operators.{ArrowBloom, ArrowInterchange, NioAccess}
import graft.operators.ArrowInterchange.SerConf

/** DataSource V2 write surface over [[ArrowInterchange]] directories:
  * `df.write.format("graft-arrow").mode("overwrite").save(dir)` — the
  * engine's only Arrow writer; [[ArrowInterchange.exportArrow]] is this
  * write after part sizing (the reference's ingest sink is the same
  * Arrow plane, main.go:253-256). Its shape:
  *
  *  - **InternalRow input**: rows arrive in catalyst form (UTF8String,
  *    micros longs, day ints, ArrayData/InternalRow for nesting), and
  *    [[ArrowCatalystWrite]] writes them into vectors with no external
  *    java.sql/java.time materialization;
  *  - **driver-coordinated commit**: tasks publish attempt-unique temp
  *    files inside a hidden staging sibling (first-attempt-wins link
  *    arbitration, [[ArrowInterchange.publishNoReplace]]); the staging
  *    directory replaces the destination only in
  *    [[ArrowBatchWrite.commit]], after every task committed and
  *    `_SUCCESS` is durable — an aborted job deletes the staging and
  *    the pre-existing destination is never touched.
  *
  * OVERWRITE ONLY, by design: the `dir + _SUCCESS` artifact means
  * "one complete export" — a crash mid-append would leave a directory
  * whose marker vouches for rows that are silently partial. Appendable,
  * log-tracked storage is [[graft.sources.GraftTable]]'s job; this
  * format's contract is whole-export atomicity.
  */
private[arrow] class ArrowWriteBuilder(path: String, info: LogicalWriteInfo,
                                       appendable: Boolean = false,
                                       defaults: Map[String, String] = Map.empty)
    extends WriteBuilder with SupportsTruncate {
  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }
  override def build(): Write = {
    // plan-time validation: the full type surface, with the field name
    // on failure — before any job runs or any directory is touched
    ArrowInterchange.toArrowSchema(info.schema())
    // write options fall back to the TABLE-level defaults a
    // catalog-named table registered (per-write options win)
    def option(k: String): Option[String] =
      Option(info.options.get(k)).orElse(defaults.get(k))
    val batchRows = option("batchrows").map(_.toInt)
      .getOrElse(ArrowInterchange.DefaultBatchRows)
    // optional IPC body compression (zstd | lz4 | none): validated at
    // plan time, through the one shared writer constructor
    val compression = option("compression").getOrElse("none")
    ArrowInterchange.codecType(compression)
    // optional per-file equality blooms (see ArrowBloom): validated at
    // plan time with the failing column name; the compact spec string
    // rides the same constructor path as the codec
    val bloomCols = option("bloomcolumns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    ArrowBloom.validate(bloomCols, info.schema())
    val bloom = ArrowBloom.spec(bloomCols,
      option("bloomfpp").map(_.toDouble).getOrElse(ArrowBloom.DefaultFpp),
      option("bloomndv").map(_.toLong).getOrElse(ArrowBloom.DefaultNdv))
    new Write {
      override def toBatch: BatchWrite = {
        // appendable (catalog-named) tables use the SHARD-TREE write
        // contract: INSERT INTO commits one whole batch_id=N directory
        // (safe to append — a crash leaves an unmarked staging dir, no
        // marker ever vouches for partial data), INSERT OVERWRITE
        // replaces the tree with a fresh single-shard one wholesale
        if (appendable && !truncating)
          return new ArrowShardAppendWrite(path, info.schema(),
            info.queryId(), batchRows, compression, bloom)
        if (appendable)
          return new ArrowBatchWrite(path, info.schema(), info.queryId(),
            batchRows, asShardTree = true, compression = compression,
            bloom = bloom)
        if (!truncating)
          throw new UnsupportedOperationException(
            "graft-arrow batch writes are overwrite-only: the " +
              "dir+_SUCCESS artifact is whole-export atomic and an " +
              "append could crash into a silently-partial directory the " +
              "marker still vouches for — use .mode(\"overwrite\") / " +
              "INSERT OVERWRITE, a GraftTable for appendable log-tracked " +
              "storage, a catalog-named table (appendable shard trees), " +
              "or writeStream for per-epoch shard appends")
        new ArrowBatchWrite(path, info.schema(), info.queryId(), batchRows,
          compression = compression, bloom = bloom)
      }
      // streaming appends ARE safe: each epoch commits its own
      // batch_id=<epoch> shard wholesale (per-shard marker, replay
      // rewrites exactly its own shard) — the shard-tree contract, so
      // no marker ever vouches for a partial directory. Complete mode
      // arrives as truncate(): each epoch's commit then replaces the
      // whole tree with that epoch's single shard.
      override def toStreaming: streaming.StreamingWrite =
        new ArrowStreamingWrite(path, info.schema(), batchRows, truncating,
          compression, info.queryId(), bloom)
      override def description(): String = s"graft-arrow $path"
    }
  }
}

private[arrow] class ArrowStreamingWrite(path: String, schema: StructType,
                                         batchRows: Int,
                                         truncating: Boolean,
                                         compression: String = "none",
                                         queryId: String = "",
                                         bloom: String = "")
    extends streaming.StreamingWrite {
  private val sconf =
    new SerConf(SparkSession.active.sessionState.newHadoopConf())
  private val out = new Path(path)

  // staging is keyed by a PER-RUN token, not queryId: Spark's streaming
  // queryId is the STABLE query id, identical across restarts, so a
  // replayed epoch after a crash would otherwise reuse the crashed
  // run's staging dir DIRTY (its leftover part files would publish
  // alongside the replay's — duplicated rows). One StreamingWrite is
  // built per run, so a fresh token here is a fresh run.
  private val runToken = java.util.UUID.randomUUID().toString

  private def stagingFor(epochId: Long) =
    new Path(out, s".epoch-$epochId.staging-$runToken")

  // The sweep + fence happen at FACTORY CREATION, not construction:
  // Spark's V2Writes rule rebuilds the Write more than once per
  // micro-batch, and only the instance whose factory is created
  // actually executes — a constructor-time claim would let a
  // non-executing twin overwrite the executing instance's token.
  //
  // Sweep: delete staging orphans ANY prior run left in the tree —
  // including crashed runs of this same query (different token);
  // concurrent writers to one tree are unsupported, as with any
  // streaming sink path. Fence: stamp this run's token so a zombie
  // driver of the swept run that later wakes up inside commit()
  // re-reads the token before publishing and finds itself superseded —
  // without the fence it would recreate its (now-empty) staging, stamp
  // _SUCCESS, and publishStaged would replace the live run's real
  // shard with an empty one (last delete+rename wins).
  private val tokenFile = new Path(out, ".writer-token")
  private def claimTree(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    if (fs.exists(out))
      fs.listStatus(out).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".epoch-") && n.contains(".staging-") &&
            !n.endsWith(s".staging-$runToken"))
          fs.delete(st.getPath, true)
      }
    else fs.mkdirs(out)
    val os = fs.create(tokenFile, true)
    try os.write(runToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** The query id stamped in a published shard's `_writer`, "" when
    * absent or unreadable (legacy shards, batch-append shards). */
  private def ownerOf(fs: org.apache.hadoop.fs.FileSystem,
                      d: Path): String =
    try {
      val in = fs.open(new Path(d, "_writer"))
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } catch { case _: Exception => "" }

  /** True iff the shard PROVABLY holds zero rows: every .arrows file is
    * covered by the directory's manifest with a zero row count — the
    * shape of CREATE TABLE's schema-only shard and of all-empty epoch
    * commits. A provably-empty shard may be replaced or truncated by
    * any query (nothing can be lost); anything unproven is foreign. */
  private def provablyEmptyShard(fs: org.apache.hadoop.fs.FileSystem,
                                 d: Path): Boolean = {
    val files = ArrowInterchange.listArrows(fs, d)
    if (files.isEmpty) return true
    ArrowInterchange.readStatsManifest(fs, d) match {
      case Some(m) => files.forall(f =>
        m.get(new Path(f._1).getName)
          .flatMap(_.get(ArrowInterchange.RowsMetaKey)).contains("0"))
      case None => false
    }
  }

  /** True iff this run still owns the tree (its token stands). A
    * missing or unreadable token reads as NOT owned: the conservative
    * answer for a fencing check — failing a live run's epoch is
    * replayable from the checkpoint; publishing a superseded run's
    * epoch destroys a committed shard. */
  private def ownsTree(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    try {
      val in = fs.open(tokenFile)
      try {
        // loop to EOF: a single read() may legally return short
        val buf = new Array[Byte](runToken.length + 1)
        var n = 0
        var r = 0
        while (n < buf.length && r >= 0) {
          r = in.read(buf, n, buf.length - n)
          if (r > 0) n += r
        }
        n == runToken.length &&
          new String(buf, 0, n,
            java.nio.charset.StandardCharsets.UTF_8) == runToken
      } finally in.close()
    } catch { case _: Exception => false }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    claimTree(out.getFileSystem(sconf.conf))
    new ArrowStreamingWriterFactory(path, runToken, sconf, schema, batchRows,
      compression, bloom)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val fs = out.getFileSystem(sconf.conf)
    val staging = stagingFor(epochId)
    try {
      val entries = messages.toSeq.collect {
        case ArrowCommit(f, _, m) if f != null => (f, m)
      }
      if (!fs.exists(staging)) {
        // a missing staging dir is a genuine all-empty epoch ONLY when
        // no task reported a winning publish into it; winners with no
        // staging means a newer run swept this one's directory — a
        // zombie driver waking up here must NOT synthesize an empty
        // shard over the live run's real one
        require(entries.isEmpty,
          s"graft-arrow streaming commit: staging $staging is gone but " +
            s"${entries.size} task(s) reported published files — this " +
            "run was superseded by a restart; aborting the stale commit")
        fs.mkdirs(staging)
      }
      // listing decides empty-ness (see the batch commit's note)
      val manifest =
        if (ArrowInterchange.listArrows(fs, staging).nonEmpty) entries
        else {
          ArrowInterchange.writeSchemaOnly(fs,
            new Path(staging, "part-00000.arrows"), schema)
          Seq(("part-00000.arrows",
            Map(ArrowInterchange.RowsMetaKey -> "0")))
        }
      ArrowInterchange.writeStatsManifest(fs, staging, manifest)
      // every streaming-published shard is STAMPED with its owning
      // query id: a replay may replace exactly the shards this query
      // wrote — a shard claimed by a batch INSERT INTO (appendable
      // catalog tables number shards max+1, which can collide with a
      // later epoch id) or by another query must NEVER be deleted by
      // this commit's publish (silent data loss); it fails loudly
      // below instead. One writer KIND per tree: streaming queries own
      // their trees; batch appends and streaming epochs don't mix.
      if (queryId.nonEmpty) {
        val os = fs.create(new Path(staging, "_writer"), true)
        try os.write(
          queryId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
      }
      fs.create(new Path(staging, "_SUCCESS"), true).close()
      // fence check at the point of no return: everything above only
      // touched this run's own staging; from here on we delete shards
      // and rename into the tree, so a superseded run must stop NOW
      require(ownsTree(fs),
        s"graft-arrow streaming commit: writer token at $tokenFile no " +
          "longer belongs to this run — a restarted run owns the tree; " +
          "aborting the stale commit")
      // foreign-shard guard, same point of no return: if the epoch's
      // destination already exists it must be THIS query's own shard
      // (a replay); anything else — an appended shard, another query's
      // epoch, a legacy unstamped shard — refuses rather than being
      // destroyed by the publish's delete+rename
      val dest0 = new Path(out, s"batch_id=$epochId")
      if (fs.exists(dest0)) {
        // a PROVABLY-EMPTY shard (CREATE TABLE's schema-only shard, an
        // all-empty epoch) is replaceable by anyone — zero rows can be
        // lost — so writeStream.toTable onto a freshly created catalog
        // table works; anything holding rows must be this query's own
        require((queryId.nonEmpty && ownerOf(fs, dest0) == queryId) ||
            provablyEmptyShard(fs, dest0),
          s"graft-arrow streaming commit: $dest0 exists but was not " +
            "written by this query (a batch INSERT INTO or another " +
            "query owns it) — refusing to replace it; stream to a " +
            "tree this query owns exclusively, or drop the foreign " +
            "shards first")
      }
      if (truncating)
        // Complete mode: this epoch's output IS the whole result —
        // retire every other shard before publishing. The ownership
        // guard applies to each retired shard too: truncation may only
        // clear THIS query's earlier epochs, never a foreign shard.
        ArrowSource.shardDirs(fs, out)
          .filter(_._1 != epochId)
          .foreach { case (_, d) =>
            require((queryId.nonEmpty && ownerOf(fs, d) == queryId) ||
                provablyEmptyShard(fs, d),
              s"graft-arrow streaming commit (Complete mode): $d was " +
                "not written by this query — refusing to truncate a " +
                "foreign shard; stream to a tree this query owns " +
                "exclusively")
            fs.delete(d, true)
          }
    } catch { case t: Throwable =>
      // an epoch is replayable from the checkpoint: staging is
      // disposable up to the publish step
      try fs.delete(staging, true) catch { case _: Throwable => () }
      throw t
    }
    // a replayed epoch rewrites exactly its own shard, wholesale; on a
    // failed rename the staged epoch stays put (the restarted run
    // replays the epoch and sweeps this staging dir)
    ArrowInterchange.publishStaged(fs, staging,
      new Path(out, s"batch_id=$epochId"))
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val fs = out.getFileSystem(sconf.conf)
    fs.delete(stagingFor(epochId), true)
    ()
  }
}

private[arrow] class ArrowStreamingWriterFactory(path: String,
                                                 runToken: String,
                                                 conf: SerConf,
                                                 schema: StructType,
                                                 batchRows: Int,
                                                 compression: String = "none",
                                                 bloom: String = "")
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val staging = new Path(new Path(path),
      s".epoch-$epochId.staging-$runToken")
    val fs = staging.getFileSystem(conf.conf)
    fs.mkdirs(staging) // idempotent; first task of the epoch creates it
    new ArrowDataWriter(staging.toString, conf, schema,
      partitionId, taskId, batchRows, compression, bloom)
  }
}

private[arrow] class ArrowBatchWrite(path: String, schema: StructType,
                                     queryId: String, batchRows: Int,
                                     asShardTree: Boolean = false,
                                     compression: String = "none",
                                     bloom: String = "")
    extends BatchWrite {
  private val sconf =
    new SerConf(SparkSession.active.sessionState.newHadoopConf())
  private val out = new Path(path)
  private val parent = Option(out.getParent).getOrElse(
    throw new IllegalArgumentException(
      s"graft-arrow: cannot write to a filesystem root ($path)"))
  // queryId is unique per execution, so concurrent writes to the same
  // destination stage independently; last commit's swap wins wholesale
  private val staging = new Path(parent, s".${out.getName}.staging-$queryId")
  // asShardTree (appendable-table OVERWRITE): the published tree holds
  // ONE batch_id=0 shard so later INSERT INTOs can append batch_id=1…
  // — files, manifest, and marker all land inside the shard dir, and
  // the root-level swap below replaces the whole previous tree
  private val dataDir =
    if (asShardTree) new Path(staging, "batch_id=0") else staging

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    dataDir.getFileSystem(sconf.conf).mkdirs(dataDir)
    new ArrowWriterFactory(dataDir.toString, sconf, schema, batchRows,
      compression, bloom)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(sconf.conf)
    try {
      val entries = messages.toSeq.collect {
        case ArrowCommit(f, _, m) if f != null => (f, m)
      }
      // empty-ness is decided by LISTING, not by messages: a partition
      // whose winning attempt died post-publish reports no stats but
      // its file stands — a schema-only file must never land next to it
      val manifest =
        if (ArrowInterchange.listArrows(fs, dataDir).nonEmpty) entries
        else {
          // all-empty input still reads back as an empty frame WITH the
          // declared schema
          ArrowInterchange.writeSchemaOnly(fs,
            new Path(dataDir, "part-00000.arrows"), schema)
          Seq(("part-00000.arrows",
            Map(ArrowInterchange.RowsMetaKey -> "0")))
        }
      ArrowInterchange.writeStatsManifest(fs, dataDir, manifest)
      fs.create(new Path(dataDir, "_SUCCESS"), true).close()
    } catch { case t: Throwable =>
      // failures up to here never touched the destination
      try fs.delete(staging, true) catch { case _: Throwable => () }
      throw t
    }
    // once the destination is deleted, staging is the only copy — the
    // shared publish step leaves it in place on failure
    ArrowInterchange.publishStaged(fs, staging, out)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(sconf.conf)
    fs.delete(staging, true)
  }
}

/** Shard-tree APPEND (`INSERT INTO` a catalog-named graft-arrow table):
  * tasks stage one epoch-shaped shard under a hidden staging dir inside
  * the tree, and commit publishes it wholesale as `batch_id=<next>` —
  * the batch spelling of the streaming sink's per-epoch shard commit,
  * with the same safety shape: a crash before the publish leaves only
  * an unmarked staging dir (readers gate on per-shard `_SUCCESS`), so
  * no marker ever vouches for partial data, which is exactly why plain
  * flat exports stay overwrite-only while shard trees may append.
  *
  * The shard id is claimed AT COMMIT (max existing id + 1, retried past
  * collisions): two concurrent appends stage independently and both
  * land, in arbitration order. An all-empty insert publishes nothing —
  * appending zero rows should not grow the tree. */
private[arrow] class ArrowShardAppendWrite(path: String, schema: StructType,
                                           queryId: String, batchRows: Int,
                                           compression: String = "none",
                                           bloom: String = "")
    extends BatchWrite {
  private val sconf =
    new SerConf(SparkSession.active.sessionState.newHadoopConf())
  private val out = new Path(path)
  private val staging = new Path(out, s".append-$queryId.staging")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val fs = staging.getFileSystem(sconf.conf)
    if (fs.exists(out)) {
      // appending top-level .arrows files to a FLAT export would make
      // the artifact lie (its root _SUCCESS vouches for one complete
      // overwrite) — appends are a shard-tree verb only
      require(ArrowInterchange.listArrows(fs, out).isEmpty,
        s"$path is a flat graft-arrow export (top-level .arrows files) " +
          "— appends target shard trees; use overwrite for flat exports")
    }
    // the table advertises ACCEPT_ANY_SCHEMA (writes must resolve
    // against the query for fresh dirs), so append-time schema safety
    // is this writer's job: a shard whose footer disagrees with the
    // tree's declared schema would fail EVERY later read as "mixed
    // exports" — reject it before a single byte is staged
    val existing = ArrowSource.footerSchema(path)
    if (existing.nonEmpty) {
      val incoming = ArrowInterchange.fromArrowSchema(
        ArrowInterchange.toArrowSchema(schema))
      require(incoming == existing,
        s"graft-arrow append: incoming schema $incoming does not match " +
          s"the table's declared schema $existing (shard trees are " +
          "schema-homogeneous; evolve via overwrite or a GraftTable)")
    }
    fs.mkdirs(staging)
    new ArrowWriterFactory(staging.toString, sconf, schema, batchRows,
      compression, bloom)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(sconf.conf)
    try {
      val entries = messages.toSeq.collect {
        case ArrowCommit(f, _, m) if f != null => (f, m)
      }
      // zero rows staged → no shard: the tree is unchanged and the
      // staging dir is swept (listing decides, same law as overwrite)
      if (ArrowInterchange.listArrows(fs, staging).isEmpty) {
        fs.delete(staging, true)
        return
      }
      ArrowInterchange.writeStatsManifest(fs, staging, entries)
      fs.create(new Path(staging, "_SUCCESS"), true).close()
    } catch { case t: Throwable =>
      try fs.delete(staging, true) catch { case _: Throwable => () }
      throw t
    }
    // claim the next shard id: existence-check then rename, advancing
    // past ids a concurrent append claimed first. Local-FS rename onto
    // an EXISTING directory moves the source INSIDE it (POSIX mv
    // semantics) — the post-rename nested check detects that race and
    // pulls the staging back out to retry under the next id.
    var id = ArrowSource.shardDirs(fs, out).lastOption
      .map(_._1 + 1L).getOrElse(0L)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 10000,
        s"could not claim a shard id under $path after $attempts tries " +
          "— re-run the INSERT (batch appends are re-runnable; the " +
          "aborted staging is swept)")
      val dest = new Path(out, s"batch_id=$id")
      if (fs.exists(dest)) id += 1
      else if (fs.rename(staging, dest)) {
        val nested = new Path(dest, staging.getName)
        if (fs.exists(nested)) { // lost the claim via mv-into semantics
          if (!fs.rename(nested, staging))
            throw new IOException(
              s"append lost the claim for $dest and recovering the " +
                s"staging from $nested failed — re-run the INSERT and " +
                s"delete the stray dot-directory at $nested (invisible " +
                "to readers, but debris)")
          id += 1
        } else done = true
      } else {
        if (!fs.exists(dest))
          throw new IOException(
            s"publishing $staging as $dest failed — re-run the INSERT " +
              "(batch appends are re-runnable)")
        id += 1
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = staging.getFileSystem(sconf.conf)
    fs.delete(staging, true)
    ()
  }
}

/** One task's published file — null when the partition was empty OR
  * when this attempt LOST the publish (a prior attempt of the same
  * partition died after publishing; the coordinator then authorizes a
  * retry whose bytes are discarded) — plus its row count and the
  * footer metadata it stamped. The driver folds non-null entries into
  * the directory's `_stats.tsv` manifest at commit; files without an
  * entry answer from their own footers, so stats NEVER describe bytes
  * the reporting attempt didn't write. Commit-side emptiness is
  * decided by LISTING staging, not by these messages, for the same
  * reason. */
private[arrow] final case class ArrowCommit(file: String, rows: Long,
                                            meta: Map[String, String])
    extends WriterCommitMessage

private[arrow] class ArrowWriterFactory(staging: String, conf: SerConf,
                                        schema: StructType, batchRows: Int,
                                        compression: String = "none",
                                        bloom: String = "")
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new ArrowDataWriter(staging, conf, schema, partitionId, taskId,
      batchRows, compression, bloom)
}

/** One task's writer: streams catalyst rows through one
  * [[ArrowFileWriter]] in [[batchRows]]-row record batches (off-heap
  * bounded by one batch), into an attempt-unique temp the task publishes
  * on ITS commit via the shared link-publish arbitration — first
  * committed attempt wins, a zombie can't replace it. Empty partitions
  * publish nothing (the driver commit writes the schema-only file if the
  * whole input was empty). */
private[arrow] class ArrowDataWriter(staging: String, conf: SerConf,
                                     schema: StructType, partitionId: Int,
                                     taskId: Long, batchRows: Int,
                                     compression: String = "none",
                                     bloom: String = "")
    extends DataWriter[InternalRow] {
  NioAccess.ensureOpen(classOf[RootAllocator])
  private val fs = new Path(staging).getFileSystem(conf.conf)
  private val tmp = new Path(staging, s".part-$partitionId-$taskId.arrows.tmp")
  private val fin = new Path(staging, f"part-$partitionId%05d.arrows")
  private val alloc = new RootAllocator(Long.MaxValue)
  private val root =
    VectorSchemaRoot.create(ArrowInterchange.toArrowSchema(schema), alloc)
  private val ch = java.nio.channels.Channels.newChannel(fs.create(tmp, true))
  // footer metadata map is captured by reference; the row count lands
  // in it before end() serializes the footer
  private val meta = new java.util.HashMap[String, String]()
  private val writer = ArrowInterchange.newFileWriter(root, ch, meta, compression)
  private val stats = new ArrowInterchange.StatsTracker(schema, bloom)
  writer.start()
  private var n = 0
  private var rows = 0L
  private var open = true

  override def write(row: InternalRow): Unit = {
    ArrowCatalystWrite.writeRow(root, schema, row, n)
    n += 1; rows += 1
    if (n == batchRows) {
      root.setRowCount(n); writer.writeBatch()
      stats.update(root, n); ArrowInterchange.clear(root); n = 0
    }
  }

  override def commit(): WriterCommitMessage = {
    if (n > 0) {
      root.setRowCount(n); writer.writeBatch(); stats.update(root, n); n = 0
    }
    meta.put(ArrowInterchange.RowsMetaKey, rows.toString)
    stats.stamp(meta)
    writer.end()
    close()
    if (rows > 0) {
      // stats may only describe bytes that actually stand: if a prior
      // attempt of this partition died AFTER publishing, this attempt's
      // publish loses and its meta belongs to its own discarded temp —
      // report no stats and let the standing file answer from its
      // footer
      val won = ArrowInterchange.publishNoReplace(fs, tmp, fin)
      import scala.jdk.CollectionConverters._
      if (won) ArrowCommit(fin.getName, rows, meta.asScala.toMap)
      else ArrowCommit(null, rows, Map.empty)
    } else {
      fs.delete(tmp, false)
      ArrowCommit(null, 0L, Map.empty)
    }
  }

  override def abort(): Unit = { close(); fs.delete(tmp, false) }

  override def close(): Unit = if (open) {
    open = false
    try writer.close() finally {
      try ch.close() finally { try root.close() finally alloc.close() }
    }
  }
}

/** Catalyst value → Arrow vector slot, recursive through list and
  * struct — the engine's only Arrow vector writer, the inverse of
  * [[ArrowCatalyst.value]] (timestamps are already micros longs, dates
  * day ints, strings UTF8String: no external materialization). */
private[arrow] object ArrowCatalystWrite {
  def writeRow(root: VectorSchemaRoot, schema: StructType,
               row: InternalRow, i: Int): Unit = {
    var c = 0
    while (c < schema.length) {
      val vec = root.getVector(c)
      // explicit setNull advances ListVector offsets (lastSet); harmless
      // no-op for fixed/variable-width vectors
      if (row.isNullAt(c)) vec.setNull(i)
      else writeValue(vec, schema(c).dataType, row, c, i)
      c += 1
    }
  }

  private def writeValue(vec: ValueVector, dt: DataType,
                         g: SpecializedGetters, ord: Int, i: Int): Unit =
    (vec, dt) match {
      case (b: BitVector, BooleanType) =>
        b.setSafe(i, if (g.getBoolean(ord)) 1 else 0)
      case (x: IntVector, IntegerType) => x.setSafe(i, g.getInt(ord))
      case (x: BigIntVector, LongType) => x.setSafe(i, g.getLong(ord))
      case (x: Float4Vector, FloatType) => x.setSafe(i, g.getFloat(ord))
      case (x: Float8Vector, DoubleType) => x.setSafe(i, g.getDouble(ord))
      case (x: VarCharVector, StringType) =>
        x.setSafe(i, g.getUTF8String(ord).getBytes)
      case (x: VarBinaryVector, BinaryType) => x.setSafe(i, g.getBinary(ord))
      case (x: TimeStampMicroTZVector, TimestampType) =>
        x.setSafe(i, g.getLong(ord))
      case (x: TimeStampMicroVector, TimestampNTZType) =>
        x.setSafe(i, g.getLong(ord))
      case (x: DateDayVector, DateType) => x.setSafe(i, g.getInt(ord))
      case (lv: ListVector, ArrayType(et, _)) =>
        val arr = g.getArray(ord)
        val start = lv.startNewValue(i)
        val child = lv.getDataVector
        val len = arr.numElements()
        var j = 0
        while (j < len) {
          if (arr.isNullAt(j))
            child.asInstanceOf[FieldVector].setNull(start + j)
          else writeValue(child, et, arr, j, start + j)
          j += 1
        }
        lv.endValue(i, len)
      case (sv: StructVector, st: StructType) =>
        sv.setIndexDefined(i)
        val r = g.getStruct(ord, st.length)
        var k = 0
        while (k < st.length) {
          val child = sv.getChildByOrdinal(k)
          if (r.isNullAt(k)) child.asInstanceOf[FieldVector].setNull(i)
          else writeValue(child, st(k).dataType, r, k, i)
          k += 1
        }
      case (other, t) => throw new IllegalStateException(
        s"graft-arrow: vector ${other.getClass.getSimpleName} / type $t")
    }
}
