package graft

import org.apache.spark.sql.SparkSession

/** Central session factory — the engine's equivalent of the reference's
  * tuned flag set + `SET threads/allocator` exec queries
  * (/root/reference/main.go:41-53,129; SURVEY §2.B B20, §6).
  *
  * `local[N]` here; on a cluster the same conf block applies, plus
  * executor sizing. The scale-relevant choices:
  *  - AQE on (runtime coalescing + skew-join splitting),
  *  - shuffle partitions sized to cores (not the 200 default),
  *  - 128 MB input split targets,
  *  - UTC session time (oracle parity and the reference's epoch math),
  *  - nested schema pruning for the deep bidrequest structs.
  */
object GraftSession {

  /** Binds `file:` to [[sources.GraftLocalFileSystem]] in every session
    * and its tasks. Why: without libhadoop, Hadoop's local file system
    * forks a `chmod` process for every file and directory it creates,
    * and export tasks wait on them. A traced `replay_backfill` run forked
    * 1,322; with the binding, `replay_backfill` went from 429 to 654
    * msg/s (medians, 10/10 interleaved pairs, 4 cores). Files, bytes,
    * modes and the rename rule stay those of the classpath's default
    * binding. Receipt: ROADMAP item 10 and `LocalFileSystemSpec`; the
    * JFR fork count in `.claude/skills/verify/SKILL.md` is the check.
    * `SparkTestSession` takes this same map. */
  val fileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[sources.GraftLocalFileSystem].getName)

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Size post-shuffle partitions by BYTES (advisory target), not by
      // core count: with the default parallelismFirst=true AQE stops
      // coalescing at minPartitionSize to chase parallelism, so every
      // tiny shuffle still fans out to `cores` tasks and each downstream
      // stage pays `cores` × (task launch + plan/closure deserialize).
      // Spark's own doc recommends false in production. Measured on
      // the bench suite: dedup_ngram_jaccard 11.8→6.0 s, sim_ivfpq_topk
      // 3.7→2.8 s, nothing slower (OPTIMIZATION_r18.md).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // ...and start coalescible exchanges above `cores`: AQE only
      // coalesces DOWN from the initial partition count, which defaults
      // to spark.sql.shuffle.partitions (= cores above), so byte sizing
      // alone would leave a large shuffle at `cores` huge partitions.
      // The 64m advisory folds 1024 to a handful at bench scale, but
      // 1024 is also the CEILING: past ~64 GB of shuffle, partitions
      // grow beyond the advisory size. Env-overridable for cluster
      // sizing (rule of thumb: ≥ expected shuffle bytes / advisory
      // size). No before/after receipt exists for 1024; ROADMAP.md
      // ("Recent") records a 4-core A/B where 32 beat it on the phash
      // rows.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("GRAFT_INITIAL_PARTITIONS", "1024"))
      // let AQE apply the same byte-derived coalescing INSIDE cached
      // plans: persisted frames otherwise pin the pre-AQE partition
      // count (spark.sql.shuffle.partitions) at cache time, so every
      // stage scanning the cache fans back out to `cores` tasks — the
      // multi-branch operators (withCached) are exactly the cache-heavy
      // paths. Measured: dedup_ngram_jaccard 7.1→5.0 s,
      // dedup_decontam_persist 3.2→2.4 s, interleaved A/B ×2
      // (OPTIMIZATION_r18.md).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // prefer shuffled-hash over sort-merge when the planner's size
      // conditions allow: skips both sort passes. The per-partition
      // build side is bounded by AQE's byte coalescing for NON-skewed
      // keys only — a single hot key can still exceed memory (AQE skew
      // splitting above mitigates but cannot split one giant key), so
      // this is the guide's §3.1/§9 baseline, not a hard containment.
      // Measured mildly positive on the admission rows, never negative
      // (OPTIMIZATION_r18.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(fileSystemConf)

  /** Build the session; [[GraftExtensions]] arrives through the
    * builder's `spark.sql.extensions`, the one registration path. */
  def create(cores: Int, appName: String): SparkSession = {
    val s = builder(cores).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
