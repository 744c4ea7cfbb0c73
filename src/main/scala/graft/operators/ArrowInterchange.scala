package graft.operators

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.sources.arrow.ArrowScan

/** Arrow IPC interchange — the reference's native data plane. The
  * reference moves every record as Arrow: Kafka messages decode into
  * Arrow record batches (bufarrow builders, batches of 122880 rows —
  * the reference's main.go:88,249) which DuckDB ingests via ArrowScan.
  * Spark's internal columnar format is Tungsten, so parity here means
  * the INTERCHANGE surface: export any DataFrame as Arrow IPC files a
  * non-JVM consumer (DuckDB, pyarrow, an inference stack) maps
  * zero-copy, and read such files back with a declared schema — the
  * same role [[Jsonl]] plays for text consumers, at columnar speed.
  *
  * ONE codec: the `graft-arrow` DataSource V2 format
  * ([[graft.sources.arrow]]) moves the values in both directions —
  * catalyst rows into vectors through `ArrowCatalystWrite`, vectors
  * back into catalyst values (or whole `ColumnarBatch`es) through
  * `ArrowCatalyst`. [[exportArrow]] and [[readArrow]] are the operator
  * spellings of that format's write and read; [[streamingArrowShards]]
  * is its streaming sink. This object holds what every path of the
  * format shares: the schema mapping, the writer constructor and IPC
  * codecs, the footer stats ([[StatsTracker]], the `_stats.tsv` /
  * `_blooms.tsv` manifests), file packing, the Hadoop read channel,
  * publish arbitration and the staging swap — plus the oracle rows.
  *
  * Scale shape, both directions narrow per-partition codec passes:
  *  - export writes one `.arrows` file per partition under the same
  *    size cap as [[Jsonl.exportJsonl]] (repartition UP only), so no
  *    single file becomes a serialized read on the way back in;
  *  - reads bin-pack whole files into byte-capped tasks
  *    ([[packFiles]] — a small directory still fills session
  *    parallelism, a huge one is bounded by the cap, never one task
  *    per file); within a file the record-batch framing bounds peak
  *    memory to one batch, never the whole file.
  * Batches default to [[DefaultBatchRows]] rows, not the reference's
  * 122880: its batches carry fixed-width bid fields, ours carry
  * corpus text where 122880 rows of documents would hold multi-GB
  * off-heap per task. Numeric-only frames can pass the reference's
  * number explicitly.
  *
  * Files are written uncompressed BY DEFAULT: IPC buffer compression
  * would shrink disk at the cost of the zero-copy map that is the
  * point of choosing Arrow over parquet for hand-off — parquet (B17)
  * is already the compressed long-term format. At 100 TB shard trees
  * the trade flips for cold data, so `compression = zstd | lz4`
  * opts in per export/write (standard IPC body compression — pyarrow
  * and every conforming reader decompress transparently; readers here
  * always carry the codec factory, so mixed trees read fine).
  *
  * Type surface: boolean, int32/64, float32/64, utf8, binary,
  * timestamp-micro (TZ and NTZ), date-day — plus arbitrary nesting of
  * struct and list over those members (struct-of-struct, list of
  * struct, struct holding a list, list of list), implemented through
  * the schema mapping here and the format's two catalyst codecs. The
  * reference's data plane is itself a nested Arrow schema (bufarrow
  * derives a 22-message struct tree from the proto type, the
  * reference's main.go:203 and proto/bidrequest.proto:7-347), so a
  * flat-only interchange could not carry the raw `bidreq` frame; with
  * nesting closed over the primitive set it can. Anything outside the
  * set (map, decimal, interval, other timestamp units) fails loudly at
  * plan time with the field name, never silently as a corrupt file —
  * and a failed or crashed export can never harm a pre-existing
  * destination: files stage in a hidden sibling directory that
  * replaces the target only after the marker is durable.
  */
object ArrowInterchange {

  /** Rows per Arrow record batch (the unit of reader memory and of
    * writer flush). See the class doc for why this is not the
    * reference's 122880. */
  val DefaultBatchRows: Int = 16384

  /** `compression` option value → IPC body-compression codec (None =
    * uncompressed, the default — see the class doc for the trade).
    * Validates LOUDLY: a typo'd codec must fail the plan, not silently
    * write uncompressed. */
  private[graft] def codecType(compression: String)
      : Option[org.apache.arrow.vector.compression.CompressionUtil.CodecType] =
    compression.toLowerCase match {
      case "none" | "" => None
      case "zstd" =>
        Some(org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD)
      case "lz4" =>
        Some(org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME)
      case other => throw new IllegalArgumentException(
        s"unknown Arrow IPC compression '$other' (want zstd | lz4 | none)")
    }

  /** The shared writer constructor: every write path (batch export,
    * DSv2 batch/streaming/append writers) builds its ArrowFileWriter
    * here so the compression option behaves identically everywhere. */
  private[graft] def newFileWriter(
      root: VectorSchemaRoot, ch: java.nio.channels.WritableByteChannel,
      meta: java.util.Map[String, String],
      compression: String): ArrowFileWriter =
    codecType(compression) match {
      case None => new ArrowFileWriter(root, null, ch, meta)
      case Some(ct) => new ArrowFileWriter(root, null, ch, meta,
        org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE, ct)
    }

  /** The shared reader codec factory: readers ALWAYS carry it, so
    * compressed and uncompressed files (and mixed trees) read
    * identically — the codec only engages when a record batch declares
    * a compressed body. */
  private[graft] val ReadCodecs
      : org.apache.arrow.vector.compression.CompressionCodec.Factory =
    org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE

  /** IPC footer custom-metadata key carrying the file's total row
    * count, stamped by both writers: COUNT(*) and row-count planning
    * read it footer-only — no record batch is ever loaded. Files from
    * external writers (pyarrow etc.) lack it; readers fall back to
    * summing batch row counts. */
  val RowsMetaKey: String = "graft.rows"

  /** Footer custom-metadata keys `graft.min.<ordinal>` /
    * `graft.max.<ordinal>` carry per-column min/max over the file's
    * non-null values for the numeric, date, and timestamp TOP-LEVEL
    * columns — the zone-map stats the DSv2 scan uses to SKIP whole
    * files against pushed filters (parquet's row-group pruning, at
    * file granularity). Keyed by schema ordinal, not name (names may
    * contain dots). Absent keys mean "no information" and the reader
    * keeps the file — external writers, all-null columns, and columns
    * containing ANY NaN (Spark's nan-safe comparison orders NaN above
    * every double, so `c > v` MATCHES NaN rows a finite [min,max]
    * would wrongly prune; such columns stamp nothing) all degrade to
    * correct-but-unskipped. */
  def minMetaKey(ordinal: Int): String = s"graft.min.$ordinal"
  def maxMetaKey(ordinal: Int): String = s"graft.max.$ordinal"

  /** String zone maps: `graft.smin.<ordinal>` / `graft.smax.<ordinal>`
    * carry base64 of UTF-8 byte BOUNDS on a top-level string column —
    * base64 because bounds may contain tabs/newlines the `_stats.tsv`
    * manifest cannot (and Arrow footer metadata shouldn't) hold raw.
    * Bounds, not extrema: values longer than [[StringStatMaxBytes]]
    * stamp a truncated lower bound (truncation only shrinks) and a
    * truncate-then-increment upper bound (parquet's discipline), so
    * the stamped range is a SUPERSET of the true one — always sound
    * for elimination, never served as an exact MIN/MAX aggregate.
    * Comparison semantics are Spark's own: UTF8String orders by
    * unsigned bytewise comparison, which is exactly how these bounds
    * are folded and probed. An all-0xFF truncation window cannot
    * produce an upper bound — such files stamp nothing and stay
    * unskippable. */
  def strMinMetaKey(ordinal: Int): String = s"graft.smin.$ordinal"
  def strMaxMetaKey(ordinal: Int): String = s"graft.smax.$ordinal"

  /** `graft.nulls.<ordinal>` — the column's null count over the whole
    * file, for EVERY top-level column (read off each record batch's
    * validity words via `getNullCount`, O(rows/64) — no per-row work).
    * With [[RowsMetaKey]] it proves `IS NULL` empty (zero nulls) and
    * `IS NOT NULL` empty (all null) — and since Spark pushes
    * `IsNotNull(key)` alongside every equality join and most filters,
    * all-null-key files prune from joins for free. */
  def nullsMetaKey(ordinal: Int): String = s"graft.nulls.$ordinal"

  /** Stamped string bounds are capped at this many bytes — bounds live
    * in every file's footer and every directory's `_stats.tsv`, and a
    * 2 KiB document-text "min" would bloat both for no pruning power
    * (64 bytes of prefix decide almost any real comparison). */
  val StringStatMaxBytes: Int = 64

  /** Unsigned bytewise compare — Spark's string ordering
    * (UTF8String.compareTo), the ordering all string zone-map folds
    * and proofs use. */
  private[graft] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Truncate to a LOWER bound: a prefix never exceeds the original. */
  private[graft] def truncLower(v: Array[Byte]): Array[Byte] =
    if (v.length <= StringStatMaxBytes) v
    else java.util.Arrays.copyOf(v, StringStatMaxBytes)

  /** Truncate to an UPPER bound: keep the prefix and increment its last
    * non-0xFF byte (dropping the tail), yielding the smallest prefix
    * string strictly above every extension of the original. None when
    * the whole window is 0xFF — no finite upper bound exists at this
    * width. */
  private[graft] def truncUpper(v: Array[Byte]): Option[Array[Byte]] =
    if (v.length <= StringStatMaxBytes) Some(v)
    else {
      var i = StringStatMaxBytes - 1
      while (i >= 0 && v(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val out = java.util.Arrays.copyOf(v, i + 1)
        out(i) = (out(i) + 1).toByte
        Some(out)
      }
    }

  /** Tracks per-column min/max across a file's record batches by
    * scanning the vectors at each flush (one pass over primitives per
    * batch — never in the per-row hot loop). Longs cover int/bigint/
    * date-days/timestamp-micros; doubles cover float32/64. */
  private[graft] final class StatsTracker(schema: StructType,
                                          bloomSpec: String = "") {
    // opt-in per-file equality blooms ([[ArrowBloom]]): fixed geometry
    // from the spec's fpp/ndv, built incrementally batch by batch —
    // O(bits) task memory, no value buffering
    private val (bloomFpp, bloomNdv, bloomOrds) =
      ArrowBloom.specOrdinals(bloomSpec, schema)
    private val blooms: Map[Int, ArrowBloom.Builder] = bloomOrds.map { o =>
      val (k, m) = ArrowBloom.geometry(bloomNdv, bloomFpp)
      o -> new ArrowBloom.Builder(k, m)
    }.toMap
    private val n = schema.length
    // which representation each column tracks:
    // 0 = none, 1 = long, 2 = double, 3 = utf8 bytes
    private val kind: Array[Int] = schema.fields.map(_.dataType match {
      case IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => 1
      case FloatType | DoubleType => 2
      case StringType => 3
      case _ => 0
    })
    private val loL = Array.fill(n)(Long.MaxValue)
    private val hiL = Array.fill(n)(Long.MinValue)
    private val loD = Array.fill(n)(Double.PositiveInfinity)
    private val hiD = Array.fill(n)(Double.NegativeInfinity)
    // full running extrema (truncation happens only at stamp time — a
    // truncated running max could lose to a longer value it actually
    // exceeds)
    private val loB = Array.fill[Array[Byte]](n)(null)
    private val hiB = Array.fill[Array[Byte]](n)(null)
    private val seen = Array.fill(n)(false)
    // a single NaN disqualifies the column: Spark's comparisons order
    // NaN ABOVE every double, so a finite range would wrongly prune
    // files whose NaN rows match `c > v` / `c = NaN`
    private val sawNaN = Array.fill(n)(false)

    private val nulls = Array.fill(n)(0L)

    /** Fold one flushed batch's vectors into the running ranges. */
    def update(root: VectorSchemaRoot, rows: Int): Unit = {
      var nc = 0
      while (nc < n) { // validity-word read, not per-row
        nulls(nc) += root.getVector(nc).getNullCount
        nc += 1
      }
      blooms.foreach { case (c, b) =>
        val vec = root.getVector(c)
        var i = 0
        while (i < rows) {
          if (!vec.isNull(i)) {
            // canonical forms must match the probe side byte for byte:
            // the zone-map long for the long family, UTF-8 for strings
            vec match {
              case x: VarCharVector => b.add(ArrowBloom.hashBytesPair(x.get(i)))
              case x: IntVector => b.add(ArrowBloom.hashLongPair(x.get(i).toLong))
              case x: BigIntVector => b.add(ArrowBloom.hashLongPair(x.get(i)))
              case x: DateDayVector => b.add(ArrowBloom.hashLongPair(x.get(i).toLong))
              case x: TimeStampMicroTZVector => b.add(ArrowBloom.hashLongPair(x.get(i)))
              case x: TimeStampMicroVector => b.add(ArrowBloom.hashLongPair(x.get(i)))
              case _ => ()
            }
          }
          i += 1
        }
      }
      var c = 0
      while (c < n) {
        if (kind(c) != 0) {
          val vec = root.getVector(c)
          var i = 0
          while (i < rows) {
            if (!vec.isNull(i)) {
              if (kind(c) == 1) {
                val v = vec match {
                  case x: IntVector => x.get(i).toLong
                  case x: BigIntVector => x.get(i)
                  case x: DateDayVector => x.get(i).toLong
                  case x: TimeStampMicroTZVector => x.get(i)
                  case x: TimeStampMicroVector => x.get(i)
                }
                if (v < loL(c)) loL(c) = v
                if (v > hiL(c)) hiL(c) = v
                seen(c) = true
              } else if (kind(c) == 3) {
                val v = vec.asInstanceOf[VarCharVector].get(i)
                if (loB(c) == null || cmpBytes(v, loB(c)) < 0) loB(c) = v
                if (hiB(c) == null || cmpBytes(v, hiB(c)) > 0) hiB(c) = v
                seen(c) = true
              } else {
                val v = vec match {
                  case x: Float4Vector => x.get(i).toDouble
                  case x: Float8Vector => x.get(i)
                }
                if (java.lang.Double.isNaN(v)) sawNaN(c) = true
                else {
                  if (v < loD(c)) loD(c) = v
                  if (v > hiD(c)) hiD(c) = v
                  seen(c) = true
                }
              }
            }
            i += 1
          }
        }
        c += 1
      }
    }

    /** Stamp the ranges into the writer's footer metadata map. */
    def stamp(meta: java.util.Map[String, String]): Unit = {
      blooms.foreach { case (c, b) =>
        if (b.nonEmpty) meta.put(ArrowBloom.bloomMetaKey(c), b.serialize)
      }
      var nc = 0
      while (nc < n) {
        meta.put(nullsMetaKey(nc), nulls(nc).toString)
        nc += 1
      }
      var c = 0
      while (c < n) {
        if (seen(c) && !sawNaN(c)) {
          if (kind(c) == 1) {
            meta.put(minMetaKey(c), loL(c).toString)
            meta.put(maxMetaKey(c), hiL(c).toString)
          } else if (kind(c) == 3) {
            // bounds-or-nothing: a max whose truncation window is all
            // 0xFF has no finite upper bound — stamp neither key, so
            // readers never see a half-open range
            truncUpper(hiB(c)).foreach { hi =>
              val b64 = java.util.Base64.getEncoder
              meta.put(strMinMetaKey(c),
                b64.encodeToString(truncLower(loB(c))))
              meta.put(strMaxMetaKey(c), b64.encodeToString(hi))
            }
          } else {
            // Double.toString round-trips exactly through parseDouble.
            // Signed zero takes parquet's discipline: the primitive
            // < / > tracking above treats -0.0 == 0.0, so whichever
            // sign arrived first would stamp — but predicate semantics
            // (Spark's compareDoubles, like java.lang.Double.compare)
            // order -0.0 < 0.0, and a file holding -0.0 stamped as
            // [0.0, …] would be wrongly pruned for `c = -0.0`. Widen:
            // a zero min stamps as -0.0 and a zero max as +0.0, so the
            // range covers both signs whenever either was seen.
            val lo = if (loD(c) == 0.0d) -0.0d else loD(c)
            val hi = if (hiD(c) == 0.0d) 0.0d else hiD(c)
            meta.put(minMetaKey(c), lo.toString)
            meta.put(maxMetaKey(c), hi.toString)
          }
        }
        c += 1
      }
    }
  }

  /** Max estimated bytes of row data per exported file — the shared
    * interchange part-sizing contract, defined once on [[ExportSizing]]. */
  val DefaultMaxPartBytes: Long = ExportSizing.DefaultMaxPartBytes

  // ---------------------------------------------------------------- schema

  private def primType(dt: DataType, name: String): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case TimestampType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, "UTC")
    case TimestampNTZType => new ArrowType.Timestamp(ATimeUnit.MICROSECOND, null)
    case DateType => new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)
    case other => throw new IllegalArgumentException(
      s"ArrowInterchange: column '$name' has unsupported type $other " +
        "(supported: boolean, int, bigint, float, double, string, " +
        "binary, timestamp[_ntz], date, and struct/array nestings of those)")
  }

  /** Spark field → Arrow field, recursing through struct and list so
    * any nesting of the primitive surface maps (list child is named
    * `element`, matching Spark's own Arrow writer and parquet's list
    * convention). */
  private def arrowField(name: String, dt: DataType): Field = dt match {
    case StructType(fields) =>
      new Field(name, FieldType.nullable(ArrowType.Struct.INSTANCE),
        java.util.List.copyOf(java.util.Arrays.asList(
          fields.map(f => arrowField(f.name, f.dataType)): _*)))
    case ArrayType(et, _) =>
      new Field(name, FieldType.nullable(ArrowType.List.INSTANCE),
        java.util.List.of(arrowField("element", et)))
    case other =>
      new Field(name, FieldType.nullable(primType(other, name)), null)
  }

  private[graft] def toArrowSchema(s: StructType): ASchema =
    new ASchema(java.util.List.copyOf(java.util.Arrays.asList(
      s.fields.map(f => arrowField(f.name, f.dataType)): _*)))

  private def sparkType(t: ArrowType, name: String): DataType = t match {
    case _: ArrowType.Bool => BooleanType
    case i: ArrowType.Int if i.getBitWidth == 32 && i.getIsSigned => IntegerType
    case i: ArrowType.Int if i.getBitWidth == 64 && i.getIsSigned => LongType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case ts: ArrowType.Timestamp if ts.getUnit == ATimeUnit.MICROSECOND =>
      if (ts.getTimezone == null) TimestampNTZType else TimestampType
    // date64 (ms) would pass here but carry a DateMilliVector the row
    // reader can't drain — reject at plan time like the timestamp units
    case d: ArrowType.Date
        if d.getUnit == org.apache.arrow.vector.types.DateUnit.DAY => DateType
    case other => throw new IllegalArgumentException(
      s"ArrowInterchange: field '$name' has unsupported Arrow type $other")
  }

  /** Arrow field → Spark field, the inverse of [[arrowField]]
    * (recursive through struct and list). */
  private def sparkField(f: Field): StructField = {
    import scala.jdk.CollectionConverters._
    f.getType match {
      case _: ArrowType.Struct =>
        StructField(f.getName,
          StructType(f.getChildren.asScala.toSeq.map(sparkField)))
      case _: ArrowType.List =>
        StructField(f.getName,
          ArrayType(sparkField(f.getChildren.get(0)).dataType,
            containsNull = true))
      case t => StructField(f.getName, sparkType(t, f.getName))
    }
  }

  private[graft] def fromArrowSchema(s: ASchema): StructType = {
    import scala.jdk.CollectionConverters._
    StructType(s.getFields.asScala.toSeq.map(sparkField))
  }

  // ---------------------------------------------------------------- export

  /** Hadoop Configuration is not Serializable; ship it to tasks via its
    * own wire format (the standard wrapper pattern — Spark keeps its
    * equivalent private). */
  private[graft] final class SerConf(@transient var conf: Configuration)
      extends Serializable {
    @throws[IOException]
    private def writeObject(out: ObjectOutputStream): Unit = conf.write(out)
    @throws[IOException]
    private def readObject(in: ObjectInputStream): Unit = {
      conf = new Configuration(false); conf.readFields(in)
    }
  }

  /** Export `df` as `part-N.arrows` IPC files under `path`, replaced
    * wholesale: `df.write.format("graft-arrow")` after part sizing
    * ([[ExportSizing.sizeUp]] — one file per partition, repartitioned UP
    * so no file exceeds [[DefaultMaxPartBytes]] of estimated row data).
    * Each task streams its rows through one [[ArrowFileWriter]] in
    * `batchRows`-row record batches — no driver collection, off-heap
    * bounded by one batch per task — and publishes its file with
    * first-attempt-wins arbitration ([[publishNoReplace]]). The files
    * stage in a hidden sibling directory that replaces `path` only
    * after the `_SUCCESS` marker is durable: [[readArrow]] requires the
    * marker, and a failed export leaves a pre-existing destination
    * untouched. Per-file equality blooms are the format's
    * `bloomColumns`/`bloomFpp`/`bloomNdv` write options. */
  def exportArrow(df: DataFrame, path: String,
                  batchRows: Int = DefaultBatchRows,
                  compression: String = "none"): Unit = {
    toArrowSchema(df.schema) // the type surface, before any job, naming the field
    ExportSizing.sizeUp(df, DefaultMaxPartBytes).write.format("graft-arrow")
      .option("batchRows", batchRows.toLong)
      .option("compression", compression)
      .mode("overwrite").save(path)
  }

  /** Per-directory stats manifest: the same footer metadata every file
    * already carries (row count + zone-map min/max), folded into ONE
    * `_stats.tsv` the writers emit next to `_SUCCESS` — so filter-time
    * file pruning costs one read per DIRECTORY, not one footer open
    * per FILE (an 800k-file export would otherwise pay 800k remote
    * opens at every plan). Format: `file<TAB>key<TAB>value` lines —
    * no JSON parser needed, keys never contain tabs. The manifest is
    * an optimization CACHE, never the source of truth: files absent
    * from it (external writers, older exports) fall back to their own
    * footers, and directories are immutable post-publish so a manifest
    * can never go stale. */
  private[graft] val StatsManifest = "_stats.tsv"
  /** Bloom bits live in their OWN side manifest, not `_stats.tsv`: a
    * bloom is ~314 KiB (up to 1 MiB) per opted-in column per file, and
    * every plan-time manifest read — including `estimateStatistics`,
    * which runs per join plan — would otherwise decode all of them
    * even when the scan carries no equality probe. The zone-map/row
    * manifest stays tiny; `_blooms.tsv` is read lazily, only when an
    * equality/IN skip filter can actually use a bloom. */
  private[graft] val BloomManifest = "_blooms.tsv"
  private[graft] val BloomKeyPrefix = "graft.bloom."

  private def writeTsvManifest(
      fs: FileSystem, file: Path,
      entries: Seq[(String, Map[String, String])]): Unit = {
    val sb = new StringBuilder
    entries.sortBy(_._1).foreach { case (f, m) =>
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb.append(f).append('\t').append(k).append('\t').append(v)
          .append('\n')
      }
    }
    val out = fs.create(file, true)
    try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
  }

  private[graft] def writeStatsManifest(
      fs: FileSystem, dir: Path,
      entries: Seq[(String, Map[String, String])]): Unit = {
    val slim = entries.map { case (f, m) =>
      f -> m.filterNot(_._1.startsWith(BloomKeyPrefix)) }
    writeTsvManifest(fs, new Path(dir, StatsManifest), slim)
    val blooms = entries.map { case (f, m) =>
      f -> m.filter(_._1.startsWith(BloomKeyPrefix)) }
      .filter(_._2.nonEmpty)
    if (blooms.nonEmpty)
      writeTsvManifest(fs, new Path(dir, BloomManifest), blooms)
  }

  /** file name → footer-metadata map, None when the directory carries
    * no manifest (or an unreadable one — the per-file fallback is
    * always correct). Legacy manifests (pre-split) may still carry
    * bloom keys inline; new writers keep them in [[BloomManifest]]. */
  private[graft] def readStatsManifest(
      fs: FileSystem, dir: Path): Option[Map[String, Map[String, String]]] =
    readTsvManifest(fs, new Path(dir, StatsManifest))

  /** file name → bloom entries from the lazy side manifest; None when
    * the directory has none (no opted-in columns, or a legacy layout
    * whose blooms ride `_stats.tsv`). */
  private[graft] def readBloomManifest(
      fs: FileSystem, dir: Path): Option[Map[String, Map[String, String]]] =
    readTsvManifest(fs, new Path(dir, BloomManifest))

  private def readTsvManifest(
      fs: FileSystem, p: Path): Option[Map[String, Map[String, String]]] =
    try {
      if (!fs.exists(p)) None
      else {
        val text = HadoopText.readUtf8(fs, p)
        Some(text.split('\n').iterator.filter(_.nonEmpty)
          .map(_.split('\t'))
          .collect { case Array(f, k, v) => (f, k, v) }
          .toSeq.groupBy(_._1)
          .map { case (f, kvs) =>
            f -> kvs.map(t => t._2 -> t._3).toMap
          })
      }
    } catch { case _: Exception => None }

  /** Swap a fully-durable staging directory into `dest` — the LAST
    * step of every export/commit path (batch operator, DSv2 batch
    * write, DSv2 streaming epoch). Failures BEFORE this call are the
    * caller's to clean (delete staging; the destination is untouched).
    * From the moment the old destination is deleted here, staging is
    * the ONLY copy of the data: a failed rename must LEAVE it in place
    * and say where it is — deleting it would destroy both copies. */
  private[graft] def publishStaged(fs: FileSystem, staging: Path,
                                   dest: Path): Unit = {
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(staging, dest))
      throw new IOException(
        s"publishing $staging as $dest failed AFTER the old destination " +
          s"was removed — the staged data is intact at $staging; rename " +
          "it into place to recover")
  }

  /** One `.arrows` file carrying the schema and zero batches — how an
    * all-empty frame stays readable with its declared schema (the
    * format's commits of an empty input, CREATE TABLE's first shard). */
  private[graft] def writeSchemaOnly(fs: FileSystem, file: Path,
                                     schema: StructType): Unit = {
    NioAccess.ensureOpen(classOf[RootAllocator])
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(toArrowSchema(schema), alloc)
      val ch = java.nio.channels.Channels.newChannel(fs.create(file, true))
      val w = new ArrowFileWriter(root, null, ch,
        java.util.Map.of(RowsMetaKey, "0"))
      try { w.start(); w.end() } finally { w.close(); ch.close(); root.close() }
    } finally alloc.close()
  }

  /** The footer metadata (row count, zone-map stats, null counts) of a
    * file no `_stats.tsv` manifest covers — the one fallback read behind
    * every answer served from stats instead of rows: COUNT(*), MIN/MAX,
    * zone-map pruning. The footer must declare `declared`, the
    * directory's schema, as the row readers require: stats are keyed by
    * column ordinal, so a stray file from another export would
    * otherwise add its rows to a COUNT(*) and its own columns' ranges
    * to a MIN/MAX. With `countRows`, a file whose writer stamped no
    * [[RowsMetaKey]] (pyarrow etc.) is counted by walking its record
    * batches (loads bodies — the correctness fallback). */
  private[graft] def footerMeta(fs: FileSystem, file: String, len: Long,
                                declared: StructType,
                                countRows: Boolean = false)
      : Map[String, String] =
    withFooterReader(fs, file, len) { r =>
      import scala.jdk.CollectionConverters._
      val got = fromArrowSchema(r.getVectorSchemaRoot.getSchema)
      if (got != declared) throw mixedExports(file, got, declared)
      val meta = r.getMetaData.asScala.toMap
      if (!countRows || meta.contains(RowsMetaKey)) meta
      else {
        var total = 0L
        while (r.loadNextBatch()) total += r.getVectorSchemaRoot.getRowCount
        meta + (RowsMetaKey -> total.toString)
      }
    }

  /** The failure for a file whose footer schema is not the directory's
    * (the first file's): read by position, it would misread. */
  private[graft] def mixedExports(file: String, got: StructType,
                                  declared: StructType): IllegalStateException =
    new IllegalStateException(
      s"$file declares schema $got but the directory's first file " +
        s"declares $declared — mixed exports in one dir")

  /** Publish `tmp` as `fin` with fail-if-present semantics per
    * filesystem (GraftTable's arbitration, same rationale): POSIX
    * rename REPLACES an existing destination, so on file:// a zombie
    * or speculative attempt could overwrite an already-published part
    * whose length a reader may have captured — link(2) fails
    * atomically iff the target exists. HDFS/object-store rename
    * already fails-if-present. A failed publish is only benign when it
    * LOST to a winner; anything else (quota, permission, transient FS
    * error — Hadoop reports them all as `false`) must fail the task,
    * or the job completes, `_SUCCESS` is written, and the reader
    * silently misses the whole partition. Returns whether THIS attempt
    * published (a losing attempt's stats must not describe the winning
    * attempt's file). */
  private[graft] def publishNoReplace(fs: FileSystem, tmp: Path,
                                      fin: Path): Boolean = {
    val published =
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fin.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else fs.rename(tmp, fin)
    fs.delete(tmp, false)
    if (!published && !fs.exists(fin))
      throw new IOException(
        s"publish of $fin failed with no winning attempt present")
    published
  }

  private[graft] def clear(root: VectorSchemaRoot): Unit = {
    val it = root.getFieldVectors.iterator()
    while (it.hasNext) it.next().reset()
  }

  // ----------------------------------------------------------------- read

  /** Greedy first-fit packing of whole files (IPC framing can't split)
    * into read tasks, Spark's own scan-sizing rule: the per-task byte
    * target shrinks to `total/minTasks` when the directory is small —
    * a handful of tiny parts still reads at session parallelism — and
    * caps at `maxTaskBytes` when it is large, so a million small files
    * cost ⌈total/cap⌉ tasks, not a million. An oversized file rides
    * alone (export part sizing is the per-task upper bound). */
  private[graft] def packFiles(files: Seq[(String, Long)], maxTaskBytes: Long,
                               minTasks: Int): Seq[Seq[(String, Long)]] = {
    val total = files.map(_._2).sum
    val cap = math.min(maxTaskBytes,
      math.max(1L, total / math.max(1, minTasks)))
    val groups = ArrayBuffer(ArrayBuffer.empty[(String, Long)])
    var acc = 0L
    files.foreach { case f @ (_, len) =>
      if (groups.last.nonEmpty && acc + len > cap) {
        groups += ArrayBuffer(f); acc = len
      } else { groups.last += f; acc += len }
    }
    groups.map(_.toSeq).toSeq
  }

  /** A seekable channel over Hadoop's input stream so the Arrow footer
    * reader can seek without buffering whole files on the heap (the
    * local FS stream rejects direct ByteBuffer reads, hence the bounce
    * buffer). Read-only by construction. */
  private[graft] final class HadoopChannel(in: org.apache.hadoop.fs.FSDataInputStream,
                                    size: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var closed = false
    private val buf = new Array[Byte](1 << 16)
    override def read(dst: ByteBuffer): Int = {
      if (dst.remaining() == 0) return 0
      val n = in.read(buf, 0, math.min(dst.remaining(), buf.length))
      if (n > 0) dst.put(buf, 0, n)
      n
    }
    override def position(): Long = in.getPos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = {
      in.seek(p); this
    }
    override def size(): Long = size
    override def isOpen: Boolean = !closed
    override def close(): Unit = { closed = true; in.close() }
    override def write(src: ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def truncate(l: Long): java.nio.channels.SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
  }

  /** Read an [[exportArrow]] directory — or a `batch_id=N` shard tree
    * of [[streamingArrowShards]], as ONE packed scan (a year of
    * micro-batches is 10⁵ shards; a union plan would grow with shard
    * count) — back as a DataFrame: `spark.read.format("graft-arrow")`
    * with the marker and task-size options. Schema comes from the first
    * file's IPC footer — declared in the artifact, never inferred by
    * scanning data — and every file read must declare the same one.
    * Whole files bin-pack into read tasks of ≤ `maxTaskBytes` each
    * ([[packFiles]]); a file can't split (IPC framing), so export part
    * sizing remains the per-task upper bound.
    *
    * Completeness gate, checked HERE rather than at the first action:
    * the `_SUCCESS` marker [[exportArrow]] writes last (for a shard
    * tree, every shard's own marker), so a crashed half-export can never
    * read as complete data, and a directory with no `.arrows` file fails
    * instead of reading as an empty frame. For `.arrows` files from an
    * EXTERNAL writer (pyarrow etc., which write no marker), pass
    * `requireMarker = false` — the caller then owns the completeness
    * question the marker would have answered. */
  def readArrow(spark: SparkSession, path: String,
                requireMarker: Boolean = true,
                maxTaskBytes: Long = DefaultMaxPartBytes): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    require(ArrowScan.listScanFiles(fs, path, requireMarker).nonEmpty,
      s"no .arrows files under $path")
    spark.read.format("graft-arrow")
      .option("requireMarker", requireMarker)
      .option("maxTaskBytes", maxTaskBytes)
      .load(path)
  }

  private[graft] def listArrows(fs: FileSystem, root: Path): Seq[(String, Long)] =
    fs.listStatus(root).filter(_.getPath.getName.endsWith(".arrows"))
      .sortBy(_.getPath.getName).map(s => (s.getPath.toString, s.getLen)).toSeq

  /** The single copy of the open-footer-use-close sequence: allocator
    * + channel + reader lifecycle for footer-only reads (schema,
    * custom metadata, stamped row counts). `f` runs with the footer
    * loaded; no record batch body is read unless `f` loads one. */
  private[graft] def withFooterReader[T](fs: FileSystem, file: String,
                                         len: Long)
                                        (f: ArrowFileReader => T): T = {
    NioAccess.ensureOpen(classOf[RootAllocator])
    val in = fs.open(new Path(file))
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val r = new ArrowFileReader(new HadoopChannel(in, len), alloc, ReadCodecs)
      try { r.getVectorSchemaRoot; f(r) } finally r.close()
    } finally alloc.close()
  }

  /** The Spark schema declared in one IPC file's footer. */
  private[graft] def footerSchema(fs: FileSystem, file: String,
                                  len: Long): StructType =
    withFooterReader(fs, file, len)(r =>
      fromArrowSchema(r.getVectorSchemaRoot.getSchema))

  // ------------------------------------------------------------- streaming

  /** Stream a file source into Arrow IPC shard directories — the
    * reference's actual data plane (a Kafka stream becoming Arrow
    * record batches the query engine ingests, main.go:88,249)
    * re-expressed as Structured Streaming, through the NATIVE DSv2
    * streaming sink (`writeStream.format("graft-arrow")`): each epoch
    * commits wholesale into its own `batch_id=N` directory, so a
    * replayed batch rewrites exactly its own shard (file-level
    * idempotence, the same discipline as the parquet streaming sink)
    * and each shard carries its own `_SUCCESS` — a crashed half-shard
    * is unreadable, never silently partial. */
  def streamingArrowShards(spark: SparkSession, srcDir: String,
                           outDir: String, ckptDir: String,
                           maxFilesPerTrigger: Int): StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream.format("graft-arrow")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .start(outDir)
  }

  // ------------------------------------------------------------ oracle row

  /** q_stream_arrow: documents staged as multiple parquet shard files →
    * streamed (≥2 micro-batches) into Arrow IPC shard directories →
    * marker-gated union read-back. The oracle is the source projection
    * itself — the streamed interchange must be lossless, shard
    * boundaries invisible. */
  def streamShards(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-stream-arrow").toString
    try {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .repartition(4) // ≥2 shard files → the stream really batches
        .write.parquet(s"$root/src")
      val q = streamingArrowShards(spark, s"$root/src", s"$root/out",
        s"$root/ckpt", maxFilesPerTrigger = 2)
      q.awaitTermination()
      Scratch.materializeAndClean(root,
        readArrow(spark, s"$root/out").orderBy("doc_id"))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** q_arrow_stream_read: the full streaming data plane, producer AND
    * consumer — documents shard into Arrow via [[streamingArrowShards]]
    * (the reference's ingest stream), then the DSv2 STREAMING source
    * (`readStream.format("graft-arrow")`) tails the shard tree and
    * drains it through a checkpointed foreachBatch. The oracle is the
    * bare source projection — the producer→wire→consumer chain must be
    * lossless, shard and micro-batch boundaries invisible. */
  def streamRead(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-arrow-streamread").toString
    try {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .repartition(4)
        .write.parquet(s"$root/src")
      streamingArrowShards(spark, s"$root/src", s"$root/shards",
        s"$root/pckpt", maxFilesPerTrigger = 2).awaitTermination()
      val q = spark.readStream.format("graft-arrow").load(s"$root/shards")
        .writeStream
        .option("checkpointLocation", s"$root/cckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$root/out"); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Scratch.materializeAndClean(root,
        spark.read.parquet(s"$root/out").orderBy("doc_id"))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(root)); throw e
    }
  }

  /** q_arrow_source: documents → Arrow IPC → the DSv2 source
    * (`format("graft-arrow")`) with a PRUNED projection feeding an
    * aggregate — the path where column pushdown pays (text, the fat
    * column, is never decoded). Oracle restates the aggregate over the
    * source table. */
  def sourceAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-arrow-src").toString
    try {
      exportArrow(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")), s"$out/docs")
      Scratch.materializeAndClean(out,
        spark.read.format("graft-arrow").load(s"$out/docs")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            max(col("doc_id")).as("max_id"))
          .orderBy("lang"))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(out)); throw e
    }
  }

  /** Oracle row for the stats-served aggregate pushdown: un-grouped
    * MIN/MAX/COUNT over an Arrow export answer from the stamped
    * per-file stats — the plan is REQUIRED to carry the stats-served
    * scan (a silent decline would still match the oracle but lose the
    * zero-files-opened property this row exists to gate). */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-arrow-statsagg").toString
    try {
      exportArrow(Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")), s"$out/docs")
      val agg = spark.read.format("graft-arrow").load(s"$out/docs")
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(lit(1)).as("n_docs"))
      val desc = agg.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.mkString("; ")
      require(desc.contains("stats-served"),
        s"MIN/MAX did not push to the stamped stats: $desc")
      Scratch.materializeAndClean(out, agg)
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(out)); throw e
    }
  }

  /** The nested frame shape the reference's data plane carries — a
    * struct tree with a repeated message (bufarrow's 22-message schema,
    * /root/reference/main.go:203, proto/bidrequest.proto:7-347) —
    * restated over documents: a meta struct, a struct-of-struct, and a
    * list&lt;struct&gt;. Shared by the oracle row and the interop dump. */
  private[graft] def nestedFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(
      struct(col("doc_id"), col("lang"), col("n_chars")).as("meta"),
      struct(col("source").as("src"),
        struct(col("lang").as("l"), col("n_chars").as("nc")).as("inner"))
        .as("info"),
      array(
        struct(lit("chars").as("tag"), col("n_chars").as("v")),
        struct(lit("id").as("tag"), col("doc_id").as("v"))).as("parts"))
  }

  /** q_arrow_nested: [[nestedFrame]] → Arrow IPC wire → DSv2 read with
    * nested access + outer explode → aggregate. Proves the nested
    * value codec end-to-end (write, footer schema, catalyst read with
    * nested pruning in play). Oracle restates the flattened aggregate
    * relationally over the source table — the wire must be lossless. */
  def nested(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-arrow-nested").toString
    try {
      exportArrow(nestedFrame(spark, dir), s"$out/docs")
      val back = spark.read.format("graft-arrow").load(s"$out/docs")
      Scratch.materializeAndClean(out,
        back.select(col("meta.lang").as("lang"),
            col("info.inner.nc").as("nc"),
            explode(col("parts")).as("p"))
          .select(col("lang"), col("nc"),
            col("p.tag").as("tag"), col("p.v").as("v"))
          .groupBy(col("lang"), col("tag"))
          .agg(count(lit(1)).as("n"),
            sum(col("v")).as("sum_v"),
            sum(col("nc")).as("sum_chars"))
          .orderBy("lang", "tag"))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(out)); throw e
    }
  }

  /** q_arrow_write: documents through the format's own writer
    * spelling (`df.write.format("graft-arrow")`, no part sizing,
    * driver-coordinated staging commit) → [[readArrow]] → projection.
    * Oracle is the source projection — the catalyst writer and the
    * columnar read of every column, the full corpus text included, must
    * agree losslessly. */
  def writeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-arrow-write").toString
    try {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .write.format("graft-arrow").mode("overwrite").save(s"$out/docs")
      Scratch.materializeAndClean(out,
        readArrow(spark, s"$out/docs").orderBy("doc_id"))
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(out)); throw e
    }
  }

  /** q_arrow_roundtrip: documents ⋈ embeddings → Arrow IPC files →
    * read back → verification projection. Exercises int64, int32,
    * utf8 (the full corpus text — any encoding defect hash-fails),
    * float64, boolean and list&lt;float32&gt; through the wire format; the
    * list column is verified via order-sensitive scalars (in-order
    * left fold + ends) since the gate's comparator flattens to
    * strings. The oracle is the same join stated relationally — the
    * roundtrip must be lossless. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val staged = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("label"), col("embedding"),
        (col("n_chars") / lit(7.0)).as("ratio"),
        (col("doc_id") % 3 === 0).as("flag"))
    val out = Files.createTempDirectory("graft-arrow").toString
    try {
      exportArrow(staged, s"$out/docs")
      val back = readArrow(spark, s"$out/docs")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("label"), col("ratio"), col("flag"),
          size(col("embedding")).as("emb_len"),
          // + 0.0 after each round: IEEE turns the -0.0 a tiny negative
          // rounds to back into +0.0, matching the oracle's same trick
          // (the two zeros hash differently as strings)
          (round(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast(DoubleType)), 3) + lit(0.0)).as("emb_sum"),
          (round(element_at(col("embedding"), 1).cast(DoubleType), 4)
            + lit(0.0)).as("emb_first"),
          (round(element_at(col("embedding"), -1).cast(DoubleType), 4)
            + lit(0.0)).as("emb_last"))
        .orderBy("doc_id")
      Scratch.materializeAndClean(out, back)
    } catch { case e: Throwable =>
      Scratch.rm(new java.io.File(out)); throw e
    }
  }
}
