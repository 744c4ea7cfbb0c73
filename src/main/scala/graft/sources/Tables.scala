package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MemoStats

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's table surface: the reference materializes two
  * tables per rotated DuckDB file (`bidreq`, `bidreq_norm` —
  * /root/reference/main.go:255,198) and queries them with DuckDB SQL; here
  * every table is a parquet directory readable by both Spark and the
  * DuckDB oracle. Scans go through `spark.read.parquet` so Catalyst gets
  * full predicate pushdown / column pruning / partition discovery.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table): a fresh `spark.read.parquet`
    * re-lists the directory and re-reads footers for schema inference
    * on EVERY call — pure fixed overhead ×93 queries in a suite run,
    * and at cluster scale a listing RPC storm per query against the
    * same immutable snapshot. The memo returns the same resolved
    * relation (callers build new operators on top of it; the plan
    * object itself is immutable). Keyed by session so it dies with
    * one; sound because the round's testdata is immutable by contract
    * — a MUTABLE table must go through GraftTable's snapshot log, not
    * this loader; a regenerated dir needs [[MemoStats.clearAll]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadMemo(spark, (dir, name))(spark.read.parquet(s"$dir/$name.parquet"))

  // loader memos are metadata (listings, footers, counts), not work
  // another query paid for: their hits are not warm
  private def metadata[K, V] = new MemoStats.Table[K, V](metadata = true)
  private val loadMemo = metadata[(String, String), DataFrame]

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.parquet` has shipped with `ts` as TIMESTAMP(NANOS) in some
    * generator versions and TIMESTAMP(MICROS) in others, both
    * isAdjustedToUTC=false. Normalize to TIMESTAMP_NTZ at microsecond
    * precision whatever the footer says:
    *  - NANOS: Spark's vectorized reader rejects it, so read as raw
    *    INT64 (legacy conf, dynamic) and rebuild via integer `div` —
    *    no double-precision loss on ~1.7e18 nanos;
    *  - MICROS: the reader infers TIMESTAMP_NTZ directly (or
    *    TimestampType if NTZ inference is off — cast keeps the wall
    *    clock under the UTC session).
    * NTZ matches what DuckDB (the oracle) sees for the same file, and
    * keeps parquet output of `ts` byte-comparable.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn(
        "ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => raw
      case TimestampType =>
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")

  /** The documents scan widened to the session's parallelism, for
    * HEAVY per-row passes (regex/tokenize chains): the synthetic corpus
    * is a sub-MB single file — one scan task — which would serialize a
    * multi-hundred-µs-per-row chain on one core while 31 sit idle. A
    * real corpus arrives in enough splits that this takes the no-op
    * branch; the repartition only ever moves data when the scan has
    * fewer tasks than cores, i.e. when the input is small enough that
    * the shuffle is trivially cheap. */
  def documentsWide(s: SparkSession, d: String): DataFrame =
    wideMemo(s, d)(widen(documents(s, d)))

  /** The events scan widened the same way, for the proto wire chain:
    * encode→decode costs far more per row than the 2 MB single-file
    * scan feeding it, which would otherwise run the whole codec on one
    * core. Same no-op-on-real-corpora branch as [[documentsWide]]. */
  def eventsWide(s: SparkSession, d: String): DataFrame =
    eventsWideMemo(s, d)(widen(events(s, d)))

  private def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the .rdd probe plans the scan's partitions — memoized along
    // with the branch outcome so callers don't re-plan it per query
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  private val wideMemo = metadata[String, DataFrame]
  private val eventsWideMemo = metadata[String, DataFrame]

  /** Expected embedding dimensionality. The vector operators (PQ
    * geometry, hyperplane matrices, centroid accumulators) and their
    * STATIC oracle SQL both encode this number, so a generator that
    * ships a different dim cannot be adapted to silently — it must
    * fail loudly and diagnosably instead (the events.ts NANOS/MICROS
    * flip cost a whole round when readers threw opaque errors). */
  val EmbeddingDims = 64

  def embeddings(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "embeddings")
    // one memoized 1-row probe per (session, dir): the array length is
    // data-level (not in the parquet schema), so LOOK at one row and
    // refuse a drifted generator with an actionable message
    dimsMemo(s, d)({
      import org.apache.spark.sql.functions.{col, size => asize}
      // null-safe: a null first embedding must produce the actionable
      // message below (dims = -1), not an opaque NPE on Row.getInt —
      // the exact failure class this guard exists to prevent
      df.select(asize(col("embedding"))).limit(1).collect()
        .headOption.map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
        .foreach { dims =>
          if (dims != EmbeddingDims) throw new IllegalStateException(
            s"embeddings.embedding in $d is " +
              s"${if (dims < 0) "null" else s"$dims-dimensional"} but the " +
              s"engine and its oracle SQL are built for $EmbeddingDims " +
              "(Tables.EmbeddingDims = Similarity.Dims = PqM x PqSubDim; " +
              "the hyperplane/codebook derivations in SparkEntry.oracleSql " +
              "enumerate the same range). Update those together.")
        }
      true
    })
    df
  }

  private val dimsMemo = metadata[String, Boolean]

  /** Memoized exact row count of a table — METADATA, not a computed
    * result: parquet footers carry the row count (a real table format
    * serves it from statistics without any scan), so operators that
    * size themselves from n (e.g. the K ∝ n cluster count) read it
    * here instead of re-running a count job per invocation. Keyed per
    * (session, dir, table); immutable inputs by the test-data contract. */
  def rowCount(s: SparkSession, d: String, name: String): Long =
    countMemo(s, (d, name))(load(s, d, name).count())

  private val countMemo = metadata[(String, String), Long]
}
