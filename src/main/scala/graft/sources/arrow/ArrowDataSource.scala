package graft.sources.arrow


import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{ArrowBloom, ArrowInterchange, NioAccess}

/** DataSource V2 surface over [[ArrowInterchange]] directories, and
  * the engine's only Arrow codec: `spark.read.format("graft-arrow")
  * .load(dir)` here, `df.write.format("graft-arrow")` in
  * [[ArrowWriteBuilder]]. [[ArrowInterchange.readArrow]] and
  * [[ArrowInterchange.exportArrow]] are the operator spellings of the
  * same read and write. The read side:
  *
  *  - **column pruning reaches the file**: the scan builder receives
  *    the pruned schema ([[SupportsPushDownRequiredColumns]]) and the
  *    reader decodes ONLY those vectors — a 2-column projection over a
  *    12-column corpus skips ten columns' decode entirely, which is the
  *    point of a columnar interchange format;
  *  - **catalyst output**: record batches are vended as
  *    [[ColumnarBatch]]es over the Arrow buffers, or — when nested
  *    pruning narrows a struct — decoded row by row straight into
  *    catalyst form by [[ArrowCatalyst.value]] (UTF8String bytes,
  *    micros longs, day ints), with no external-Row conversion;
  *  - **answers from stats**: un-grouped COUNT(*) and MIN/MAX answer
  *    from the stamped footer stats, and pushed filters skip files
  *    whose zone maps or blooms prove them empty.
  *
  * Completeness and layout: `_SUCCESS` required unless
  * `requireMarker=false` (for a `batch_id=N` shard tree, every shard's
  * own marker), whole files bin-packed into tasks by
  * [[ArrowInterchange.packFiles]], schema declared by the first file's
  * footer and enforced per file by every path that reads a footer or
  * a batch.
  */
class ArrowSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-arrow"

  private def path(options: java.util.Map[String, String]): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-arrow: exactly one directory path is required (load(dir))"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowSource.footerSchema(path(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // table-level DEFAULTS for read/write options: a catalog-named
    // table registers its OPTIONS once and every INSERT/scan inherits
    // them; per-operation options still win
    val defaults = Seq("compression", "batchrows", "requiremarker",
      "bloomcolumns", "bloomfpp", "bloomndv")
      .flatMap(k => Option(properties.get(k)).map(k -> _)).toMap
    new ArrowTable(path(properties), schema,
      // appendable = the SHARD-TREE write contract (each INSERT commits
      // one whole batch_id=N directory, like a streaming epoch), the
      // layout catalog-named tables use; plain path writes keep the
      // flat whole-export overwrite-only artifact
      Option(properties.get("appendable")).exists(_.toBoolean),
      defaults)
  }

  // the schema IS declared in the artifact's footer — a user-supplied
  // schema could only disagree with it (nullability, metadata, column
  // subsets) and every per-file check would then misreport a clean
  // directory as mixed exports; always infer
  override def supportsExternalMetadata(): Boolean = false
}

private[arrow] object ArrowSource {
  import ArrowInterchange.listArrows
  import org.apache.hadoop.fs.FileSystem

  /** The `batch_id=N` shard directories of a [[ArrowInterchange
    * .streamingArrowShards]] root, as (id, path), id-sorted. */
  def shardDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch_id=").toLong).toOption
        .map(_ -> s.getPath))
      .sortBy(_._1)

  /** The CONTIGUOUS COMMITTED PREFIX of shard ids: advance while each
    * next id exists and carries its `_SUCCESS`. A gap or an
    * uncommitted (mid-write or mid-replay) shard stops the prefix —
    * a streaming reader must never consume past it, or a replayed
    * shard's rows would be read twice or not at all. With
    * `requireMarker = false` (externally-written trees that stamp no
    * markers) only contiguity gates; the caller owns completeness,
    * exactly as on the batch path. */
  def committedShardPrefix(fs: FileSystem, root: Path,
                           requireMarker: Boolean = true)
      : Seq[(Long, Path)] = {
    val all = shardDirs(fs, root)
    val prefix = Seq.newBuilder[(Long, Path)]
    var expect = all.headOption.map(_._1).getOrElse(0L)
    var i = 0
    var done = false
    while (i < all.length && !done) {
      val (id, p) = all(i)
      if (id != expect ||
          (requireMarker && !fs.exists(new Path(p, "_SUCCESS")))) done = true
      else { prefix += ((id, p)); expect = id + 1; i += 1 }
    }
    prefix.result()
  }

  /** Footer schema of the directory's first file — descending into the
    * first committed shard when the root is a `batch_id=` shard tree.
    * EMPTY for a missing or file-less directory. Empty can't mean
    * "readable with no columns" — the scan builder rejects it loudly —
    * it means "nothing declared yet", which is exactly the
    * write-to-fresh-directory case: inferSchema runs before the writer
    * knows the query's schema, and the table advertises
    * ACCEPT_ANY_SCHEMA so the write resolves against the QUERY schema,
    * not this placeholder. */
  def footerSchema(path: String): StructType = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (!fs.exists(root)) Seq.empty
      else listArrows(fs, root) match {
        case Seq() =>
          shardDirs(fs, root).headOption
            .map { case (_, d) => listArrows(fs, d) }.getOrElse(Seq.empty)
        case fs0 => fs0
      }
    if (files.isEmpty) new StructType()
    else ArrowInterchange.footerSchema(fs, files.head._1, files.head._2)
  }
}

private[arrow] class ArrowTable(path: String, declared: StructType,
                                appendable: Boolean = false,
                                defaults: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-arrow:$path"
  override def schema(): StructType = declared
  // ACCEPT_ANY_SCHEMA — for PATH-addressed tables only: writes resolve
  // against the incoming query's schema (validated against the Arrow
  // type surface at plan time in the write builder) because the
  // table's own schema is just the footer of whatever export currently
  // sits at the path, empty for a fresh one. Catalog-named (appendable)
  // tables have a REAL declared schema (create stamps a schema-only
  // shard), so they do NOT advertise it — Spark then resolves and
  // casts every INSERT against the table schema, the standard append
  // contract.
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    if (!appendable) base.add(TableCapability.ACCEPT_ANY_SCHEMA)
    base
  }
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    require(declared.nonEmpty,
      s"no .arrows files under $path (nothing to read)")
    // table defaults under the per-scan options (scan options win)
    val merged = new java.util.HashMap[String, String]()
    defaults.foreach { case (k, v) => merged.put(k, v) }
    merged.putAll(opts.asCaseSensitiveMap())
    new ArrowScanBuilder(path, declared, new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ArrowWriteBuilder(path, info, appendable, defaults)
}

private[arrow] class ArrowScanBuilder(path: String, declared: StructType,
                                      opts: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates
    with SupportsPushDownFilters {
  private var required: StructType = declared
  private var limit: Int = -1
  private var countCols: Int = 0
  private var skips: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // partial push (isPartiallyPushed stays true): each task stops
  // decoding after `limit` rows; Spark's global limit still applies on
  // top, so correctness never depends on the source-side cap
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  // zone-map pruning: comparisons on stats-tracked columns let the
  // scan SKIP whole files whose stamped [min,max] excludes the
  // predicate. EVERY filter is returned as residual — the source only
  // prunes files, Spark still evaluates the predicate row by row, so
  // a stale or missing stat can never change results
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skips = filters.filter(ArrowFileSkip.usable(_, declared))
    filters
  }
  override def pushedFilters(): Array[Filter] = skips
  private def requireMarker = Option(opts.get("requiremarker")).forall(_.toBoolean)
  private var statsAggRow: Option[(StructType, Array[Any])] = None
  // Un-grouped COUNT(*) answers from the footer row counts the writers
  // stamp — no record batch is ever loaded. Partial pushdown: the scan
  // returns one count row per task and Spark sums them, so the final
  // add-up is distributed, not a single-task bottleneck. Un-grouped
  // MIN/MAX over zone-mapped columns answer from the SAME stamped
  // stats (manifest or footer — zero record batches): the push is
  // accepted only when EVERY non-empty file carries the stat, so a
  // NaN-poisoned column (stamps nothing), an all-null column, or an
  // externally-written file declines to the normal scan. Schema-only
  // (0-row) files are exempt — they contribute no rows to MIN/MAX.
  override def pushAggregation(agg: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    if (agg.groupByExpressions.nonEmpty || limit >= 0 ||
        agg.aggregateExpressions.isEmpty) return false
    if (agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])) {
      countCols = agg.aggregateExpressions.length
      return true
    }
    // min/max/count(col) (with count(*) mixed in freely): resolve each
    // function to a stamped-stats request; anything else declines
    sealed trait Want
    case class WantMin(ord: Int) extends Want
    case class WantMax(ord: Int) extends Want
    case object WantCountStar extends Want
    case class WantCountCol(ord: Int) extends Want
    def ordOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val ord = declared.fieldNames.indexOf(nr.fieldNames.head)
        // aggServable, NOT trackable: string zone maps are truncated
        // BOUNDS — sound for pruning, wrong as served MIN/MAX answers
        if (ord >= 0 && ArrowFileSkip.aggServable(declared(ord).dataType))
          Some(ord)
        else None
      case _ => None
    }
    // count(col) works for ANY top-level column: it needs only the
    // stamped null count (rows − nulls), not an ordered zone map
    def anyOrdOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(declared.fieldNames.indexOf(nr.fieldNames.head)).filter(_ >= 0)
      case _ => None
    }
    val wants: Seq[Option[Want]] =
      agg.aggregateExpressions.toSeq.map {
        case m: Min => ordOf(m.column).map(WantMin)
        case m: Max => ordOf(m.column).map(WantMax)
        case _: CountStar => Some(WantCountStar)
        case c: org.apache.spark.sql.connector.expressions.aggregate.Count
            if !c.isDistinct => anyOrdOf(c.column).map(WantCountCol)
        case _ => None
      }
    if (wants.exists(_.isEmpty)) return false
    // gather the stats NOW (one manifest read per dir + footer reads
    // for unmanifested files — the plan-time cost shape zone-map
    // pruning already pays); declining cleanly falls back to the scan
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val files =
      try ArrowScan.listScanFiles(fs, path, requireMarker)
      catch { case _: Exception => return false } // scan surfaces errors
    val metas: Seq[Map[String, String]] =
      try ArrowFileSkip.fileMetas(fs, files, declared)
      catch { case _: Exception => return false }
    val rowCounts = metas.map(_.get(ArrowInterchange.RowsMetaKey)
      .flatMap(s => scala.util.Try(s.toLong).toOption))
    if (rowCounts.exists(_.isEmpty)) return false // external writer
    val nonEmpty = metas.zip(rowCounts).collect {
      case (m, Some(n)) if n > 0 => m
    }
    def statVal(ord: Int, key: Int => String): Option[Any] = {
      // fold the per-file stats; every non-empty file must carry the key
      val raw = nonEmpty.map(_.get(key(ord)))
      if (raw.exists(_.isEmpty)) return None
      val isMin = key(0) == ArrowInterchange.minMetaKey(0)
      declared(ord).dataType match {
        case IntegerType | DateType =>
          val vs = raw.map(_.get.toInt)
          Some(if (vs.isEmpty) null else if (isMin) vs.min else vs.max)
        case LongType | TimestampType | TimestampNTZType =>
          val vs = raw.map(_.get.toLong)
          Some(if (vs.isEmpty) null else if (isMin) vs.min else vs.max)
        // a folded ZERO extreme declines: the stamp widens zero bounds
        // across both signs for sound zone-map pruning (min 0.0 stamps
        // as -0.0), so a zero stat is a conservative BOUND, not the
        // exact extreme MIN/MAX must return — the sign could be wrong
        case FloatType =>
          val vs = raw.map(_.get.toFloat)
          if (vs.isEmpty) Some(null)
          else {
            val v = if (isMin) vs.min else vs.max
            if (v == 0.0f) None else Some(v)
          }
        case DoubleType =>
          val vs = raw.map(_.get.toDouble)
          if (vs.isEmpty) Some(null)
          else {
            val v = if (isMin) vs.min else vs.max
            if (v == 0.0d) None else Some(v)
          }
        case _ => None
      }
    }
    val totalRows = rowCounts.map(_.get).sum
    // non-null count of a column: Σ(rows − stamped nulls) — declines
    // when any non-empty file lacks the nulls stamp (external writer,
    // pre-nulls export)
    def nonNullCount(ord: Int): Option[Long] = {
      val raw = nonEmpty.zip(rowCounts.collect { case Some(n) if n > 0 => n })
        .map { case (m, rows) =>
          m.get(ArrowInterchange.nullsMetaKey(ord))
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .map(rows - _)
        }
      if (raw.exists(_.isEmpty)) None else Some(raw.flatten.sum)
    }
    val values = new Array[Any](wants.length)
    val fields = new Array[StructField](wants.length)
    wants.zipWithIndex.foreach {
      case (Some(WantMin(ord)), i) =>
        statVal(ord, ArrowInterchange.minMetaKey) match {
          case Some(v) =>
            values(i) = v
            fields(i) = StructField(s"min#$i", declared(ord).dataType)
          case None => return false
        }
      case (Some(WantMax(ord)), i) =>
        statVal(ord, ArrowInterchange.maxMetaKey) match {
          case Some(v) =>
            values(i) = v
            fields(i) = StructField(s"max#$i", declared(ord).dataType)
          case None => return false
        }
      case (Some(WantCountStar), i) =>
        values(i) = totalRows
        fields(i) = StructField(s"count(*)#$i", LongType, nullable = false)
      case (Some(WantCountCol(ord)), i) =>
        nonNullCount(ord) match {
          case Some(v) =>
            values(i) = v
            fields(i) = StructField(s"count#$i", LongType, nullable = false)
          case None => return false
        }
      case (None, _) => return false
    }
    statsAggRow = Some((StructType(fields.toIndexedSeq), values))
    true
  }
  override def build(): Scan = {
    val maxTaskBytes = Option(opts.get("maxtaskbytes")).map(_.toLong)
      .getOrElse(ArrowInterchange.DefaultMaxPartBytes)
    if (statsAggRow.isDefined)
      new ArrowStatsAggScan(path, statsAggRow.get._1, statsAggRow.get._2)
    else if (countCols > 0)
      new ArrowCountScan(path, declared, countCols, requireMarker,
        maxTaskBytes)
    else new ArrowScan(path, declared, required, requireMarker, maxTaskBytes,
      limit, skips.toSeq,
      Option(opts.get("maxshardspertrigger")).map(_.toLong))
  }
}

/** File-level zone-map pruning: evaluate pushed comparison filters
  * against the per-file [min,max] the writers stamp in footer metadata.
  * Strictly an ELIMINATION procedure — `skippable` answers "is this
  * file PROVABLY empty under the conjunction?", and any missing stat,
  * unsupported filter shape, NaN, or type surprise answers false (keep
  * the file). Spark re-evaluates all filters on the rows, so pruning
  * can only remove work, never rows. */
private[arrow] object ArrowFileSkip {
  import org.apache.spark.sql.sources._

  /** Column types the writers' StatsTracker stamps zone maps for —
    * the attributes worth advertising to runtime (join-side) filtering.
    * Strings included: their stamped BOUNDS (truncated prefixes) are
    * elimination-sound like any other zone map. */
  def trackable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType |
         StringType => true
    case _ => false
  }

  /** Types whose stamped stats are EXACT extrema and may be served as
    * MIN/MAX aggregate answers. Strings are excluded: their stamps are
    * truncated bounds — sound for pruning, wrong as answers. */
  def aggServable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case _ => false
  }

  /** Tracked representation of a value: long-comparable (int/bigint/
    * date-day/timestamp-micros), double, or UTF-8 bytes (Spark orders
    * strings by unsigned bytewise compare — UTF8String.compareTo). */
  private sealed trait Bound
  private final case class LongBound(v: Long) extends Bound
  private final case class DoubleBound(v: Double) extends Bound
  private final case class BytesBound(v: Array[Byte]) extends Bound

  private def repr(dt: DataType, v: Any): Option[Bound] =
    (dt, v) match {
      case (IntegerType | LongType, n: java.lang.Number)
          if v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Long] ||
             v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte] =>
        Some(LongBound(n.longValue()))
      case (DateType, d: java.sql.Date) =>
        Some(LongBound(d.toLocalDate.toEpochDay))
      case (DateType, d: java.time.LocalDate) => Some(LongBound(d.toEpochDay))
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(LongBound(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L),
          1000000L) + t.getNanos / 1000L))
      case (TimestampType, t: java.time.Instant) =>
        Some(LongBound(Math.multiplyExact(t.getEpochSecond, 1000000L) +
          t.getNano / 1000L))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(LongBound(Math.multiplyExact(
          t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
          t.getNano / 1000L))
      case (FloatType | DoubleType, n: java.lang.Number)
          if !java.lang.Double.isNaN(n.doubleValue()) =>
        Some(DoubleBound(n.doubleValue()))
      case (StringType, s: String) =>
        Some(BytesBound(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case (StringType, s: UTF8String) => Some(BytesBound(s.getBytes))
      case _ => None
    }

  private def colBound(attr: String, v: Any, schema: StructType)
      : Option[(Int, Bound)] = {
    val ord = schema.fieldNames.indexOf(attr)
    if (ord < 0 || v == null) None
    else repr(schema(ord).dataType, v).map(r => (ord, r))
  }

  /** The string-prefix bytes of a StartsWith probe against a STRING
    * column — prefix pruning is range pruning on the byte bounds. */
  private def prefixBytes(attr: String, p: String, schema: StructType)
      : Option[Array[Byte]] = {
    val ord = schema.fieldNames.indexOf(attr)
    if (ord < 0 || p == null || schema(ord).dataType != StringType) None
    else Some(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Can this filter ever prove a file empty from stats? */
  def usable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, v) => colBound(a, v, schema).isDefined
    case GreaterThan(a, v) => colBound(a, v, schema).isDefined
    case GreaterThanOrEqual(a, v) => colBound(a, v, schema).isDefined
    case LessThan(a, v) => colBound(a, v, schema).isDefined
    case LessThanOrEqual(a, v) => colBound(a, v, schema).isDefined
    // IN proves emptiness only when EVERY non-null value is provably
    // outside the range — one unconvertible value keeps the file
    case In(a, vs) => vs.nonEmpty &&
      vs.forall(v => v == null || colBound(a, v, schema).isDefined)
    // prefix match = range probe [p, increment(p)) on the byte bounds
    case StringStartsWith(a, p) => prefixBytes(a, p, schema).isDefined
    // null-count proofs work for ANY top-level column type
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }

  /** Per-file footer metadata in listing order: manifest-served when
    * the directory carries `_stats.tsv` (one read per dir), otherwise
    * the file's own footer — unmanifested footers fan out over a
    * bounded pool so plan-time metadata never serializes one remote
    * open per file (shared by the stats-served aggregate push; the
    * zone-map prune keeps its own decide-in-pool path). Throws on an
    * unreadable footer or one that does not declare `declared` —
    * callers decline their optimization and let the scan surface the
    * real error. */
  def fileMetas(fs: org.apache.hadoop.fs.FileSystem,
                files: Seq[(String, Long)],
                declared: StructType): Seq[Map[String, String]] = {
    val manifests: Map[Path, Map[String, Map[String, String]]] =
      files.map(f => new Path(f._1).getParent).distinct
        .flatMap(d =>
          ArrowInterchange.readStatsManifest(fs, d).map(d -> _)).toMap
    def manifested(file: String): Option[Map[String, String]] = {
      val p = new Path(file)
      manifests.get(p.getParent).flatMap(_.get(p.getName))
    }
    val unknownIdx = files.zipWithIndex.collect {
      case ((f, len), i) if manifested(f).isEmpty => (f, len, i)
    }
    val fromFooters: Map[Int, Map[String, String]] =
      if (unknownIdx.isEmpty) Map.empty
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, unknownIdx.size),
          (r: Runnable) => {
            val t = new Thread(r, "graft-arrow-meta"); t.setDaemon(true); t
          })
        try unknownIdx.map { case (f, len, i) =>
          i -> pool.submit(
            new java.util.concurrent.Callable[Map[String, String]] {
              override def call(): Map[String, String] =
                ArrowInterchange.footerMeta(fs, f, len, declared)
            })
        }.map { case (i, fut) => i -> fut.get() }.toMap
        finally pool.shutdown()
      }
    files.zipWithIndex.map { case ((f, _), i) =>
      manifested(f).getOrElse(fromFooters(i))
    }
  }

  /** Drop the files whose stamped stats prove them empty under the
    * pushed conjunction. Stats come from each directory's `_stats.tsv`
    * manifest when present (ONE read per directory — the writers emit
    * it at commit); files the manifest doesn't cover fall back to
    * their own footers, fanned out over a bounded pool so planning
    * never serializes one remote open per file. A file whose stats
    * can't be read at all is kept (the scan itself surfaces the real
    * error). */
  def prune(fs: org.apache.hadoop.fs.FileSystem,
            files: Seq[(String, Long)], skips: Seq[Filter],
            declared: StructType): Seq[(String, Long)] = {
    if (skips.isEmpty || files.isEmpty) return files
    val dirs = files.map(f => new Path(f._1).getParent).distinct
    val manifests: Map[Path, Map[String, Map[String, String]]] =
      dirs.flatMap(d =>
        ArrowInterchange.readStatsManifest(fs, d).map(d -> _)).toMap
    // blooms live in a LAZY side manifest: only a pushed equality/IN
    // probe can use one, so a range-only (or filterless) plan never
    // pays the per-file bloom decode
    val wantsBloom = skips.exists {
      case _: EqualTo | _: In => true
      case _ => false
    }
    val bloomManifests: Map[Path, Map[String, Map[String, String]]] =
      if (!wantsBloom) Map.empty
      else dirs.flatMap(d =>
        ArrowInterchange.readBloomManifest(fs, d).map(d -> _)).toMap
    def manifested(file: String): Option[Map[String, String]] = {
      val p = new Path(file)
      manifests.get(p.getParent).flatMap(_.get(p.getName)).map { m =>
        bloomManifests.get(p.getParent).flatMap(_.get(p.getName))
          .fold(m)(m ++ _)
      }
    }
    val (known, unknown) =
      files.partition(f => manifested(f._1).isDefined)
    val keptKnown = known.filterNot(f =>
      skippable(skips, declared, manifested(f._1).get))
    val keptUnknown =
      if (unknown.isEmpty) Seq.empty
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, unknown.size),
          (r: Runnable) => {
            val t = new Thread(r, "graft-arrow-prune"); t.setDaemon(true); t
          })
        try {
          val futures = unknown.map { case (f, len) =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              override def call(): Boolean =
                try skippable(skips, declared,
                  ArrowInterchange.footerMeta(fs, f, len, declared))
                catch { case _: Exception => false }
            })
          }
          unknown.zip(futures).collect { case (f, fut) if !fut.get() => f }
        } finally pool.shutdown()
      }
    // preserve the original listing order (packing and schema checks
    // key off the FIRST file)
    val kept = (keptKnown ++ keptUnknown).map(_._1).toSet
    files.filter(f => kept.contains(f._1))
  }

  /** True iff the conjunction of `filters` PROVES the file matches no
    * rows, given its stamped stats. */
  def skippable(filters: Seq[Filter], schema: StructType,
                meta: Map[String, String]): Boolean = {
    // bounds are loaded in the PROBE VALUE's representation, so cmp
    // below never sees a representation mismatch
    def range(ord: Int, like: Bound): Option[(Bound, Bound)] = like match {
      case _: LongBound =>
        for {
          lo <- meta.get(ArrowInterchange.minMetaKey(ord))
          hi <- meta.get(ArrowInterchange.maxMetaKey(ord))
          r <- scala.util.Try(
            (LongBound(lo.toLong): Bound, LongBound(hi.toLong): Bound)).toOption
        } yield r
      case _: DoubleBound =>
        for {
          lo <- meta.get(ArrowInterchange.minMetaKey(ord))
          hi <- meta.get(ArrowInterchange.maxMetaKey(ord))
          r <- scala.util.Try(
            (DoubleBound(lo.toDouble): Bound,
              DoubleBound(hi.toDouble): Bound)).toOption
        } yield r
      case _: BytesBound =>
        for {
          lo <- meta.get(ArrowInterchange.strMinMetaKey(ord))
          hi <- meta.get(ArrowInterchange.strMaxMetaKey(ord))
          r <- scala.util.Try {
            val d = java.util.Base64.getDecoder
            (BytesBound(d.decode(lo)): Bound, BytesBound(d.decode(hi)): Bound)
          }.toOption
        } yield r
    }
    def cmp(a: Bound, b: Bound): Int =
      (a, b) match {
        case (LongBound(x), LongBound(y)) => java.lang.Long.compare(x, y)
        // `+ 0.0` collapses -0.0 to +0.0 before the compare: Spark's
        // row-level predicate semantics treat -0.0 == 0.0 (normalized
        // before comparison), while Double.compare orders -0.0 < 0.0 —
        // an elimination proof built on the stricter ordering would
        // prune files whose rows Spark matches (externally-stamped
        // manifests may carry either sign; our own writers widen zero
        // bounds at stamp time as well)
        case (DoubleBound(x), DoubleBound(y)) =>
          java.lang.Double.compare(x + 0.0d, y + 0.0d)
        case (BytesBound(x), BytesBound(y)) =>
          ArrowInterchange.cmpBytes(x, y)
        case _ => 0 // representation mismatch: never prove emptiness
      }
    // per-file equality blooms (ArrowBloom): "definitely absent" is an
    // elimination proof of the same strength as an out-of-range bound —
    // parsed at most once per file per call, shared across IN values
    val bloomCache =
      scala.collection.mutable.Map.empty[Int, Option[ArrowBloom.Probe]]
    def bloomExcludes(ord: Int, v: Bound): Boolean =
      bloomCache.getOrElseUpdate(ord,
        meta.get(ArrowBloom.bloomMetaKey(ord)).flatMap(ArrowBloom.parse))
        .exists { probe =>
          v match {
            case LongBound(l) => !probe.mightContain(ArrowBloom.hashLongPair(l))
            case BytesBound(b) => !probe.mightContain(ArrowBloom.hashBytesPair(b))
            case _: DoubleBound => false // doubles are never bloomed
          }
        }
    def outOfRange(ord: Int, v: Bound): Boolean =
      range(ord, v).exists { case (lo, hi) =>
        cmp(v, lo) < 0 || cmp(v, hi) > 0
      }
    // null-count proofs: both need the stamped per-column null count;
    // IS NOT NULL additionally needs the file's row count
    def nullCount(ord: Int): Option[Long] =
      meta.get(ArrowInterchange.nullsMetaKey(ord))
        .flatMap(s => scala.util.Try(s.toLong).toOption)
    def provesEmpty(f: Filter): Boolean = f match {
      case IsNull(a) =>
        // zero nulls stamped → IS NULL matches no row of this file
        val ord = schema.fieldNames.indexOf(a)
        ord >= 0 && nullCount(ord).contains(0L)
      case IsNotNull(a) =>
        // every row null (or an empty file) → IS NOT NULL matches none
        val ord = schema.fieldNames.indexOf(a)
        ord >= 0 && (for {
          nulls <- nullCount(ord)
          rows <- meta.get(ArrowInterchange.RowsMetaKey)
            .flatMap(s => scala.util.Try(s.toLong).toOption)
        } yield nulls == rows).getOrElse(false)
      case In(a, vs) =>
        // a null element never matches, so it doesn't block the proof;
        // every remaining value must be provably outside the range OR
        // definitely absent from the file's bloom
        val nonNull = vs.filter(_ != null)
        nonNull.nonEmpty && nonNull.forall(v =>
          colBound(a, v, schema).exists { case (ord, b) =>
            outOfRange(ord, b) || bloomExcludes(ord, b)
          })
      case StringStartsWith(a, p) =>
        // every p-prefixed string s satisfies p ≤ s < increment(p); the
        // file is provably empty when its range misses that window:
        // hi < p, or lo ≥ increment(p). increment = bump the last
        // non-0xFF byte and drop the tail; an all-0xFF prefix has no
        // finite successor, leaving only the hi-side proof.
        prefixBytes(a, p, schema).exists { pb =>
          val ord = schema.fieldNames.indexOf(a)
          range(ord, BytesBound(pb)).exists { case (lo, hi) =>
            val above = {
              var i = pb.length - 1
              while (i >= 0 && pb(i) == 0xff.toByte) i -= 1
              if (i < 0) None
              else {
                val u = java.util.Arrays.copyOf(pb, i + 1)
                u(i) = (u(i) + 1).toByte
                Some(u)
              }
            }
            cmp(hi, BytesBound(pb)) < 0 ||
              above.exists(u => cmp(lo, BytesBound(u)) >= 0)
          }
        }
      case other =>
        val b = other match {
          case EqualTo(a, v) => colBound(a, v, schema).map((_, "="))
          case GreaterThan(a, v) => colBound(a, v, schema).map((_, ">"))
          case GreaterThanOrEqual(a, v) => colBound(a, v, schema).map((_, ">="))
          case LessThan(a, v) => colBound(a, v, schema).map((_, "<"))
          case LessThanOrEqual(a, v) => colBound(a, v, schema).map((_, "<="))
          case _ => None
        }
        b.exists { case ((ord, v), op) =>
          range(ord, v).exists { case (lo, hi) =>
            op match {
              case "=" => cmp(v, lo) < 0 || cmp(v, hi) > 0
              case ">" => cmp(hi, v) <= 0
              case ">=" => cmp(hi, v) < 0
              case "<" => cmp(lo, v) >= 0
              case "<=" => cmp(lo, v) > 0
            }
          } || (op == "=" && bloomExcludes(ord, v))
        }
    }
    filters.exists(provesEmpty)
  }
}

private[graft] object ArrowScan {
  import ArrowInterchange.{SerConf, listArrows, packFiles}

  /** Marker-gated file listing shared by the row scan, the COUNT(*)
    * scan, the stats-served aggregate path and
    * [[ArrowInterchange.readArrow]]'s up-front check: a shard tree
    * (batch_id=N dirs) lists every committed shard's files, a plain
    * export dir keeps the root-marker contract. */
  def listScanFiles(fs: org.apache.hadoop.fs.FileSystem, path: String,
                    requireMarker: Boolean): Seq[(String, Long)] = {
    val root = new Path(path)
    val top = listArrows(fs, root)
    val shards = if (top.isEmpty) ArrowSource.shardDirs(fs, root) else Seq.empty
    if (top.isEmpty && shards.nonEmpty)
      shards.flatMap { case (_, shard) =>
        require(!requireMarker || fs.exists(new Path(shard, "_SUCCESS")),
          s"$shard has no _SUCCESS marker: the shard's batch did not " +
            "complete (reading it would silently drop rows)")
        listArrows(fs, shard)
      }
    else {
      require(!requireMarker || fs.exists(new Path(root, "_SUCCESS")),
        s"$path has no _SUCCESS marker: the export did not complete; " +
          "for externally-written directories set requireMarker=false")
      top
    }
  }

  /** The shared plan step: marker gate, file listing, zone-map file
    * pruning (when filters are pushed — one footer read per file, the
    * same plan-time cost shape as parquet's footer reads), bin-packing.
    * Returns the partitions plus (kept, total) file counts for the
    * scan description. */
  def planPartitions(path: String, requireMarker: Boolean,
                     maxTaskBytes: Long,
                     skips: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                     declared: StructType = new StructType())
      : (Array[InputPartition], Int, Int) = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val files = listScanFiles(fs, path, requireMarker)
    require(files.nonEmpty, s"no .arrows files under $path")
    val kept = ArrowFileSkip.prune(fs, files, skips, declared)
    val sconf = new SerConf(conf)
    val parts =
      if (kept.isEmpty) Array.empty[InputPartition]
      else packFiles(kept, maxTaskBytes, spark.sparkContext.defaultParallelism)
        .map(g => ArrowInputPartition(g, sconf): InputPartition).toArray
    (parts, kept.size, files.size)
  }
}

private[arrow] class ArrowScan(path: String, declared: StructType,
                               required: StructType, requireMarker: Boolean,
                               maxTaskBytes: Long,
                               limit: Int = -1,
                               skips: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                               maxShardsPerTrigger: Option[Long] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {
  // Real statistics make the OPTIMIZER's join decisions right: without
  // them a DSv2 table defaults to "unknown = huge" and a 2 MB arrow
  // dim table never auto-broadcasts — at 100 TB that's a shuffle of
  // the fact side that shouldn't exist. sizeInBytes = the PRUNED file
  // bytes (static skips applied — the same elimination the scan will
  // run), rowCount = the stamped per-file counts when every kept file
  // is manifest-covered (one `_stats.tsv` read per directory; footer
  // fan-out at estimate time would pay remote opens on every join
  // plan, so unmanifested files just leave rowCount unknown). Errors
  // degrade to unknown — planning must never fail on a stats probe.
  // Memoized per scan instance: the inputs (path, static skips,
  // declared schema) are immutable for the scan's lifetime, but Spark
  // calls estimateStatistics on EVERY plan of the same scan — each
  // join-heavy query would otherwise re-list the directory and re-run
  // ArrowFileSkip.prune (including per-file bloom decode for opted-in
  // columns), a repeated metadata walk that grows with file count.
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = statsMemo
  private lazy val statsMemo
      : org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val fs = new Path(path).getFileSystem(conf)
      val files = ArrowScan.listScanFiles(fs, path, requireMarker)
      val kept = ArrowFileSkip.prune(fs, files, skips, declared)
      val bytes = kept.map(_._2).sum
      val manifests: Map[Path, Map[String, Map[String, String]]] =
        kept.map(f => new Path(f._1).getParent).distinct
          .flatMap(d =>
            ArrowInterchange.readStatsManifest(fs, d).map(d -> _)).toMap
      val counts = kept.map { case (f, _) =>
        val p = new Path(f)
        manifests.get(p.getParent).flatMap(_.get(p.getName))
          .flatMap(_.get(ArrowInterchange.RowsMetaKey))
          .flatMap(s => scala.util.Try(s.toLong).toOption)
      }
      val rows: Option[Long] =
        if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
        override def numRows(): OptionalLong =
          rows.map(OptionalLong.of).getOrElse(OptionalLong.empty())
      }
    } catch {
      case _: Exception =>
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
        }
    }
  }
  private var pruned: Option[(Int, Int)] = None
  // runtime (join-side) filters land AFTER planning, BEFORE execution:
  // Spark collects a broadcast join's build-side keys and hands the
  // probe-side scan an IN-set over them. Zone maps then prune files at
  // EXECUTION time — a star-shape join against a small filtered dim
  // scans only the shards whose [min,max] can hold the surviving keys,
  // which at 100 TB is the difference between a day and a year of
  // shards. Same soundness law as static skips: pruning only ever
  // removes provably-empty files; Spark re-evaluates the join itself.
  private var runtimeSkips: Seq[org.apache.spark.sql.sources.Filter] = Nil
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    declared.fields.collect {
      // only columns surviving projection pruning: Spark resolves these
      // references against the scan's OUTPUT (DPP's
      // getFilterableTableScan), so advertising a pruned-away column
      // fails analysis the moment the other join side becomes
      // broadcastable — a runtime filter can only arrive on an output
      // column anyway (it's a join key)
      case f if ArrowFileSkip.trackable(f.dataType) &&
          required.fieldNames.contains(f.name) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit =
    runtimeSkips = filters.toSeq.filter(ArrowFileSkip.usable(_, declared))
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-arrow $path [${required.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (skips.nonEmpty)
        s" PushedFilters: [${skips.mkString(", ")}]" +
          pruned.map { case (k, t) => s" files=$k/$t" }.getOrElse("")
      else "")
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val (parts, kept, total) =
      ArrowScan.planPartitions(path, requireMarker, maxTaskBytes,
        skips ++ runtimeSkips, declared)
    pruned = Some((kept, total))
    parts
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(declared, required, limit)
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new ArrowMicroBatchStream(path, declared, required, maxTaskBytes,
      skips, requireMarker, maxShardsPerTrigger)
}

/** Stats-served aggregate scan (un-grouped MIN/MAX ± COUNT(*)): the
  * values were already folded from the stamped per-file stats at PUSH
  * time — zero files are opened at execution; this scan just vends the
  * one partial row Spark's final aggregate consumes. */
private[arrow] class ArrowStatsAggScan(path: String, out: StructType,
                                       values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = out
  override def description(): String =
    s"graft-arrow $path [stats-served ${out.fieldNames.mkString(",")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ArrowStatsAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = !done && { done = true; true }
          override def get(): InternalRow = new GenericInternalRow(
            p.asInstanceOf[ArrowStatsAggPartition].values)
          override def close(): Unit = ()
        }
    }
}

private[arrow] final case class ArrowStatsAggPartition(values: Array[Any])
    extends InputPartition

/** COUNT(*) scan: one row per task carrying the partial count of its
  * packed files, read footer-only via the stamped row-count metadata
  * (batch-walk fallback for external files). Spark sums the partials. */
private[arrow] class ArrowCountScan(path: String, declared: StructType,
                                    countCols: Int,
                                    requireMarker: Boolean,
                                    maxTaskBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType((0 until countCols).map(i =>
      StructField(s"count(*)#$i", LongType, nullable = false)))
  override def description(): String = s"graft-arrow $path [count(*)]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ArrowScan.planPartitions(path, requireMarker, maxTaskBytes)._1
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowCountReaderFactory(declared, countCols)
}

private[arrow] class ArrowCountReaderFactory(declared: StructType,
                                             countCols: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ArrowInputPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = {
        // one manifest read per distinct parent dir covers most files;
        // unmanifested ones read their own (schema-checked) footers
        val manifests = scala.collection.mutable.Map
          .empty[Path, Option[Map[String, Map[String, String]]]]
        val total = part.files.map { case (file, len) =>
          val fs = new Path(file).getFileSystem(part.conf.conf)
          val p = new Path(file)
          manifests.getOrElseUpdate(p.getParent,
            ArrowInterchange.readStatsManifest(fs, p.getParent))
            .flatMap(_.get(p.getName))
            .flatMap(_.get(ArrowInterchange.RowsMetaKey))
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .getOrElse(ArrowInterchange.footerMeta(fs, file, len, declared,
              countRows = true)(ArrowInterchange.RowsMetaKey).toLong)
        }.sum
        new GenericInternalRow(Array.fill[Any](countCols)(total))
      }
      override def close(): Unit = ()
    }
  }
}

private[arrow] final case class ArrowInputPartition(
    files: Seq[(String, Long)],
    conf: ArrowInterchange.SerConf) extends InputPartition

private[arrow] class ArrowReaderFactory(declared: StructType,
                                        required: StructType,
                                        limit: Int = -1)
    extends PartitionReaderFactory {
  // Columnar vend is safe only when every required column's type tree
  // equals the declared one: catalyst's nested schema pruning can
  // require a struct carrying a SUBSET of the vector's children, and
  // ArrowColumnVector exposes the vector's FULL child list by ordinal —
  // a pruned struct would read the wrong children. Top-level pruning
  // (whole columns dropped) stays columnar; nested pruning falls back
  // to the row reader, which resolves struct children by name.
  private val columnarSafe = required.fields.forall { f =>
    declared.fields.find(_.name == f.name).exists(_.dataType == f.dataType)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = columnarSafe
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ArrowPartitionReader(p.asInstanceOf[ArrowInputPartition],
      declared, required, limit)
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] =
    new ArrowColumnarReader(p.asInstanceOf[ArrowInputPartition],
      declared, required, limit)
}

/** Columnar twin of [[ArrowPartitionReader]]: each loaded record batch
  * is vended to Spark as a [[ColumnarBatch]] over [[ArrowColumnVector]]
  * wrappers — zero per-row boxing on the read path; values stay in the
  * Arrow buffers until the enclosing WholeStageCodegen's ColumnarToRow
  * (or a columnar-capable operator) consumes them. This matches the
  * reference's columnar-end-to-end plane (Arrow batches flow from wire
  * to engine without row materialization, main.go:363-380). The
  * wrappers do NOT own the vectors — the file reader does, and reuses
  * them across loadNextBatch calls — so close() releases the reader and
  * allocator, never the per-batch wrappers. */
private[arrow] class ArrowColumnarReader(p: ArrowInputPartition,
                                         declared: StructType,
                                         required: StructType,
                                         limit: Int = -1)
    extends PartitionReader[ColumnarBatch] {
  import ArrowInterchange.{HadoopChannel, fromArrowSchema}

  NioAccess.ensureOpen(classOf[RootAllocator])
  private val fileIt = p.files.iterator
  private var alloc: RootAllocator = _
  private var reader: ArrowFileReader = _
  private var batch: ColumnarBatch = _
  private var emitted = 0L

  private def closeFile(): Unit = {
    batch = null
    if (reader != null) { reader.close(); reader = null }
    if (alloc != null) { alloc.close(); alloc = null }
  }

  private def openNextFile(): Boolean =
    if (!fileIt.hasNext) false
    else {
      val (file, len) = fileIt.next()
      val fs = new Path(file).getFileSystem(p.conf.conf)
      alloc = new RootAllocator(Long.MaxValue)
      reader = new ArrowFileReader(
        new HadoopChannel(fs.open(new Path(file)), len), alloc,
        ArrowInterchange.ReadCodecs)
      val fileSchema = fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
      if (fileSchema != declared) {
        closeFile()
        throw ArrowInterchange.mixedExports(file, fileSchema, declared)
      }
      true
    }

  override def next(): Boolean = {
    // pushed limit (partial): stop loading batches once this task has
    // vended `limit` rows — Spark's global limit finishes the job
    if (limit >= 0 && emitted >= limit) { closeFile(); return false }
    while (reader == null || !reader.loadNextBatch()) {
      closeFile()
      if (!openNextFile()) return false
    }
    val root = reader.getVectorSchemaRoot
    val cols = required.fieldNames.map(n =>
      new ArrowColumnVector(root.getVector(n)): ColumnVector)
    val rows =
      if (limit >= 0) math.min(root.getRowCount.toLong, limit - emitted).toInt
      else root.getRowCount
    emitted += rows
    batch = new ColumnarBatch(cols, rows)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = closeFile()
}

/** Executor-side reader over one packed file group: per file one
  * [[ArrowFileReader]], per record batch only the REQUIRED columns'
  * vectors are resolved (by name) and decoded — the pruned columns'
  * buffers are never walked. Values are built in catalyst form, so
  * timestamps stay micros and dates stay epoch days (no java.sql
  * round-trips). */
private[arrow] class ArrowPartitionReader(p: ArrowInputPartition,
                                          declared: StructType,
                                          required: StructType,
                                          limit: Int = -1)
    extends PartitionReader[InternalRow] {
  import ArrowInterchange.{HadoopChannel, fromArrowSchema}

  NioAccess.ensureOpen(classOf[RootAllocator])
  private val fileIt = p.files.iterator
  private var alloc: RootAllocator = _
  private var reader: ArrowFileReader = _
  private var vectors: Array[ValueVector] = _
  private var rowCount = 0
  private var idx = 0
  private var emitted = 0L
  private var row: InternalRow = _

  private def closeFile(): Unit = {
    if (reader != null) { reader.close(); reader = null }
    if (alloc != null) { alloc.close(); alloc = null }
  }

  private def openNextFile(): Boolean =
    if (!fileIt.hasNext) false
    else {
      val (file, len) = fileIt.next()
      val fs = new Path(file).getFileSystem(p.conf.conf)
      alloc = new RootAllocator(Long.MaxValue)
      reader = new ArrowFileReader(
        new HadoopChannel(fs.open(new Path(file)), len), alloc,
        ArrowInterchange.ReadCodecs)
      val fileSchema = fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
      if (fileSchema != declared) {
        closeFile()
        throw ArrowInterchange.mixedExports(file, fileSchema, declared)
      }
      true
    }

  private def nextBatch(): Boolean = {
    while (reader == null || !reader.loadNextBatch()) {
      closeFile()
      if (!openNextFile()) return false
    }
    val root = reader.getVectorSchemaRoot
    // resolve the REQUIRED columns only, by name — this is where the
    // pushed-down pruning pays: unprojected vectors are never touched
    vectors = required.fieldNames.map(root.getVector)
    rowCount = root.getRowCount
    idx = 0
    true
  }

  override def next(): Boolean = {
    // pushed limit (partial): this task stops decoding after `limit`
    // rows; Spark's global limit finishes the job
    if (limit >= 0 && emitted >= limit) { closeFile(); return false }
    while (idx >= rowCount) if (!nextBatch()) return false
    emitted += 1
    val vals = new Array[Any](required.length)
    var c = 0
    while (c < required.length) {
      vals(c) = ArrowCatalyst.value(vectors(c), required(c).dataType, idx)
      c += 1
    }
    row = new GenericInternalRow(vals)
    idx += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = closeFile()
}

/** Arrow vector slot → catalyst value (null when unset). */
private[arrow] object ArrowCatalyst {
  def value(vec: ValueVector, dt: DataType, i: Int): Any =
    if (vec.isNull(i)) null
    else (vec, dt) match {
      case (b: BitVector, BooleanType) => b.get(i) == 1
      case (x: IntVector, IntegerType) => x.get(i)
      case (x: BigIntVector, LongType) => x.get(i)
      case (x: Float4Vector, FloatType) => x.get(i)
      case (x: Float8Vector, DoubleType) => x.get(i)
      case (x: VarCharVector, StringType) => UTF8String.fromBytes(x.get(i))
      case (x: VarBinaryVector, BinaryType) => x.get(i)
      case (x: TimeStampMicroTZVector, TimestampType) => x.get(i)
      case (x: TimeStampMicroVector, TimestampNTZType) => x.get(i)
      case (x: DateDayVector, DateType) => x.get(i)
      case (lv: ListVector, ArrayType(et, _)) =>
        val start = lv.getElementStartIndex(i)
        val end = lv.getElementEndIndex(i)
        val child = lv.getDataVector
        val out = new Array[Any](end - start)
        var j = start
        while (j < end) { out(j - start) = value(child, et, j); j += 1 }
        new GenericArrayData(out)
      case (sv: StructVector, st: StructType) =>
        // children resolve BY NAME: catalyst's nested schema pruning
        // (V2ScanRelationPushDown) can require a struct carrying a
        // SUBSET of the vector's children, so ordinals don't line up
        val vals = new Array[Any](st.length)
        var k = 0
        while (k < st.length) {
          vals(k) = value(sv.getChild(st(k).name), st(k).dataType, i)
          k += 1
        }
        new GenericInternalRow(vals)
      case (other, t) => throw new IllegalStateException(
        s"graft-arrow: vector ${other.getClass.getSimpleName} / type $t")
    }
}
