package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's parquet COPY sink re-expressed as a partitioned write
  * (SURVEY §2.B B17/B18; /root/reference/main.go:101-125): zstd, 100 MB
  * row groups, hive layout `year=Y/month=M/day=D/hour=H`. One
  * `partitionBy` write replaces the reference's whole
  * partition-discovery → per-partition templated COPY loop; its
  * `{{rand}}` filenames + OVERWRITE_OR_IGNORE ≈ append of uniquely
  * named part files.
  *
  * Scale: batch writes ([[writeBatch]]) use dynamic partition overwrite
  * keyed by `batch_id` for replay idempotence; plain [[write]] keeps
  * append semantics. By default both hash-partition the rows on the
  * four hour columns into as many tasks as the session has cores
  * (`defaultParallelism`), so each task writes one group of hours and
  * each hour directory gets exactly one file per write. The width is
  * explicit because AQE coalesces a width-less exchange by bytes, and
  * a batch of a few MB would then fold every hour into one task.
  */
object ExportParquet {

  val PartitionCols: Seq[String] = Seq("year", "month", "day", "hour")

  /** Derive the reference's four partition columns from an epoch-millis
    * column (the `datepart(..., epoch_ms(...))` pattern of the export
    * queries, main.go:105-108,120-123). */
  def withPartitionCols(df: DataFrame, epochMs: Column): DataFrame = {
    val ts = timestamp_millis(epochMs)
    df.withColumn("year", year(ts))
      .withColumn("month", month(ts))
      .withColumn("day", dayofmonth(ts))
      .withColumn("hour", hour(ts))
  }

  /** One task per group of hours at the core count; an hour never
    * spans two tasks. */
  private def byHour(df: DataFrame, coalescePartitions: Boolean): DataFrame =
    if (coalescePartitions)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        PartitionCols.map(col): _*)
    else df

  def write(df: DataFrame, path: String,
            coalescePartitions: Boolean = true): Unit = {
    byHour(df, coalescePartitions).write
      .partitionBy(PartitionCols: _*)
      .option("compression", "zstd")
      .option("parquet.block.size", 100000000)
      .mode("append")
      .parquet(path)
  }

  /** Partition directory for replay-idempotent streaming writes. */
  val BatchCol = "batch_id"

  /** Exactly-once batch export for the streaming sinks: the micro-batch
    * id becomes the innermost partition directory and the write runs in
    * DYNAMIC partition-overwrite mode, so it replaces exactly the
    * `.../batch_id=N` directories its own data maps to and nothing
    * else. A checkpoint replay of batch N (crash anywhere between the
    * two sink writes, or between write and checkpoint commit) rewrites
    * the same directories instead of appending duplicates — the commit
    * protocol the reference approximates with OVERWRITE_OR_IGNORE +
    * `{{rand}}` names (/root/reference/main.go:108,125). Readers prune
    * on year/month/day/hour exactly as before; `batch_id` surfaces as
    * one more discoverable column.
    */
  def writeBatch(df: DataFrame, path: String, batchId: Long,
                 coalescePartitions: Boolean = true): Unit = {
    byHour(df, coalescePartitions).withColumn(BatchCol, lit(batchId))
      .write
      .partitionBy((PartitionCols :+ BatchCol): _*)
      .option("compression", "zstd")
      .option("parquet.block.size", 100000000)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }
}
