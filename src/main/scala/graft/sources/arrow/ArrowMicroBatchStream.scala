package graft.sources.arrow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

import graft.operators.ArrowInterchange
import graft.operators.ArrowInterchange.SerConf

/** Streaming READ over an Arrow shard tree —
  * `spark.readStream.format("graft-arrow").load(shardRoot)` tails the
  * `batch_id=N` directories a [[ArrowInterchange.streamingArrowShards]]
  * producer (or any equivalent writer) keeps appending, the consumption
  * side of the reference's data plane (Arrow batches flowing from the
  * ingest stream into downstream engines, main.go:363-380).
  *
  * Offsets are SHARD ids: offset N means "shards < N consumed". The
  * latest offset is the end of the CONTIGUOUS COMMITTED PREFIX of shard
  * ids ([[ArrowSource.committedShardPrefix]]) — a gap, a mid-write
  * shard, or a mid-replay shard (its `_SUCCESS` momentarily absent)
  * stops admission rather than being skipped, so a late-committing
  * shard can never be silently jumped over (the file-source analog of
  * Kafka's "don't read past the high-watermark"). Each micro-batch
  * reads whole shards — file lists bin-pack into byte-capped tasks with
  * the same [[ArrowInterchange.packFiles]] contract as the batch scan,
  * and column pruning pushes through identically. */
private[arrow] class ArrowMicroBatchStream(
    path: String,
    declared: StructType,
    required: StructType,
    maxTaskBytes: Long,
    skips: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    requireMarker: Boolean = true,
    maxShardsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val sconf =
    new SerConf(SparkSession.active.sessionState.newHadoopConf())
  private val root = new Path(path)
  private def fs = root.getFileSystem(sconf.conf)

  // a PLAIN export directory (top-level .arrows, no batch_id= shards)
  // must fail loudly here: offsets are shard ids, so it would stream
  // as "nothing yet" forever — silently empty, the worst failure mode
  locally {
    val hfs = fs
    require(!hfs.exists(root) ||
        ArrowInterchange.listArrows(hfs, root).isEmpty ||
        ArrowSource.shardDirs(hfs, root).nonEmpty,
      s"$path is a plain Arrow export (top-level .arrows files), not a " +
        "batch_id=N shard tree — streaming reads tail shard trees " +
        "(streamingArrowShards / the graft-arrow streaming sink); use " +
        "a batch read for one-shot exports")
  }

  /** End of the committed prefix right now: next-shard-id-to-read. */
  private def prefixEnd(): Long = {
    val prefix = ArrowSource.committedShardPrefix(fs, root, requireMarker)
    prefix.lastOption.map(_._1 + 1).getOrElse(
      // an empty root streams as "nothing yet", but ids must start at
      // the FIRST shard the producer will write; 0 matches
      // streamingArrowShards' micro-batch ids
      ArrowSource.shardDirs(fs, root).headOption.map(_._1).getOrElse(0L))
  }

  // Trigger.AvailableNow: pin the target once, so the bounded run has a
  // fixed finish line even while the producer keeps appending
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(prefixEnd())

  // start at the tree's FIRST existing shard id, not a hardcoded 0: a
  // Complete-mode-truncated tree (only batch_id=N survives) or a
  // producer resumed at epoch N>0 begins above zero, and with strict
  // per-id admission below, a 0-based start would demand directories
  // that never existed. An empty tree starts at 0 (matches
  // streamingArrowShards' first micro-batch id).
  override def initialOffset(): Offset = ArrowShardOffset(
    ArrowSource.shardDirs(fs, root).headOption.map(_._1).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    ArrowShardOffset(json.trim.toLong)
  override def latestOffset(): Offset =
    ArrowShardOffset(availableNowTarget.getOrElse(prefixEnd()))
  // clamped to the consumer's own position: a producer replaying shard
  // k has its dir momentarily absent, which shrinks the committed
  // prefix BELOW an already-committed offset — advancing "latest"
  // backwards would make the next trigger re-read shard k (duplicate
  // rows). Offsets only move forward. Admission control caps each
  // micro-batch at `maxShardsPerTrigger` shards (a consumer restarted
  // against a long backlog would otherwise fold the whole history into
  // one giant batch); AvailableNow still drains to its pinned target,
  // just in capped steps.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ArrowShardOffset].next
    val target = availableNowTarget.getOrElse(prefixEnd())
    val capped = maxShardsPerTrigger
      .map(cap => math.min(target, from + cap)).getOrElse(target)
    val end = math.max(from, capped)
    // BOOTSTRAP GAP-ADVANCE: a consumer whose checkpoint pinned offset
    // 0 on an empty tree, fed by a producer that starts above 0 (a
    // resumed producer, a truncated tree), must never receive a range
    // MIXING never-existed ids with real shards — admission is strict
    // per id and would fail forever on the checkpointed 0. Drain the
    // [0, head) gap as its own EMPTY batch first; from any non-zero
    // offset, ids are never skipped (a vanished shard fails loudly).
    // Guarded on from == 0 AND something admitted, so steady-state
    // triggers pay no extra listing and an AvailableNow run pinned at
    // "nothing" never moves.
    if (from == 0L && end > from) {
      val head = ArrowSource.shardDirs(fs, root).headOption.map(_._1)
      head match {
        case Some(h) if h > 0L => ArrowShardOffset(math.min(end, h))
        case _ => ArrowShardOffset(end)
      }
    } else ArrowShardOffset(end)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ArrowShardOffset].next
    val until = end.asInstanceOf[ArrowShardOffset].next
    if (until <= from) return Array.empty
    val hfs = fs
    // iterate the admitted ids EXPLICITLY, not the directories that
    // happen to exist: a shard whose directory vanished entirely (a
    // producer replay sits between publishStaged's delete and rename)
    // must fail exactly like one that lost only its _SUCCESS — a
    // filter over the listing would silently drop it while the offset
    // advances past it, losing its rows forever. The ONLY skippable
    // range is the bootstrap gap latestOffset hands out as its own
    // empty batch (offset 0 on a tree whose first shard id is above
    // the whole range — those ids never existed for this consumer);
    // everywhere else a missing id is a replay in flight, and the
    // failure is transient: the replayed shard reappears under the
    // same id and the restarted query re-reads the same range.
    val all = ArrowSource.shardDirs(hfs, root)
    val dirs = all.filter { case (id, _) => id >= from && id < until }.toMap
    if (dirs.isEmpty) {
      // the bootstrap gap: nothing ever existed here. from == 0 is the
      // only offset that can sit below a late-start producer's first
      // shard; the residual ambiguity (shard 0 existed, was admitted,
      // and vanished mid-replay exactly during bootstrap) is accepted —
      // it requires a replay racing the consumer's very first batch.
      val head = all.headOption.map(_._1)
      require(from == 0L && head.exists(h => until <= h),
        s"shards [$from, $until) under $path vanished after admission " +
          "(producer replay in flight, or a Complete-mode truncation " +
          "retired them?) — restart the query to re-admit a replay; " +
          "Complete-mode trees are snapshots, not streamable sources")
      return Array.empty
    }
    // a MIXED range can only arise from a checkpoint written before the
    // gap-advance existed (old admissions folded the bootstrap gap and
    // the first shards into one batch): tolerate it exactly at the
    // bootstrap offset, strict everywhere else
    val strictFrom =
      if (from == 0L) math.max(from, dirs.keys.min) else from
    val files = (strictFrom until until).flatMap { id =>
      val shard = dirs.getOrElse(id,
        throw new IllegalStateException(
          s"shard batch_id=$id under $path vanished after admission " +
            "(producer replay in flight?) — restart the query to " +
            "re-admit it"))
      // the offset range was admitted from the committed prefix; a
      // shard going missing or uncommitted INSIDE it now means the
      // producer replayed under us — fail loudly, never drop rows
      require(!requireMarker || hfs.exists(new Path(shard, "_SUCCESS")),
        s"shard $shard lost its _SUCCESS after admission (producer " +
          "replay in flight?) — restart the query to re-admit it")
      ArrowInterchange.listArrows(hfs, shard)
    }
    // zone-map pruning applies per micro-batch too: files whose stamped
    // [min,max] provably excludes the pushed conjunction are never
    // opened (Spark still re-evaluates the filters on rows)
    val pruned = ArrowFileSkip.prune(hfs, files, skips, declared)
    if (pruned.isEmpty) Array.empty
    else ArrowInterchange
      .packFiles(pruned, maxTaskBytes,
        SparkSession.active.sparkContext.defaultParallelism)
      .map(g => ArrowInputPartition(g, sconf): InputPartition).toArray
  }

  // columnar vend, exactly like the batch scan: each record batch is
  // handed to Spark as a ColumnarBatch over ArrowColumnVector wrappers
  // (zero per-row boxing on a columnar format — the reference's plane
  // is columnar end-to-end, main.go:363-380); the factory itself falls
  // back to the by-name row reader under NESTED schema pruning, where
  // ordinal-based vector wrappers would read the wrong children
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(declared, required)
}

/** Shard-id offset: `next` = first shard id not yet consumed. */
private[arrow] final case class ArrowShardOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}
