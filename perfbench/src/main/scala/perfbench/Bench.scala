package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point of the service benchmark:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      [--tamper delete|duplicate]
  * }}}
  *
  * One workload per process. The last stdout line is the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`. The exit code
  * is non-zero when an output check failed. `--tamper` damages one
  * `batch_id` directory of the raw export before the check (the
  * negative test: the run must then fail).
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L,
                        seconds: Int = 10, trace: Boolean = false,
                        tamper: Option[String] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--tamper" :: v :: t => parse(t, a.copy(tamper = Some(v)))
    case Nil => a
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_backlog" -> Service.backlog,
    "replay_backfill" -> Service.replay,
    "crawl_admit" -> Crawl.run)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val body = Workloads.getOrElse(args.workload, throw new IllegalArgumentException(
      s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    require(args.tamper.forall(Set("delete", "duplicate")),
      "--tamper must be delete or duplicate")
    val runDir = Paths.get(sys.props.getOrElse("perfbench.runDir", "."))
      .toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(cores, "perfbench")
    val ctx = new Ctx(spark, args, runDir, cores)
    ctx.sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    ctx.log(s"session ready; ${args.workload} seed ${args.seed}")
    val ok =
      try { body(ctx); ctx.res.failed == 0 }
      finally { spark.stop(); ctx.log("session stopped") }
    if (args.trace) {
      ctx.res.layer("jvm.peak_rss_mb") = Ctx.peakRssMb
      sys.props.get("perfbench.outDir").foreach(d => ctx.tracer.writeJsonl(
        Paths.get(d, s"trace-${args.workload}-seed${args.seed}.jsonl")))
    }
    println(ctx.res.json(args.trace))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Per-run state shared by the workloads: the session, the run's
  * private directory, the tracer and listeners, and the result. */
final class Ctx(val spark: SparkSession, val args: Main.Args,
                val runDir: Path, val cores: Int) {
  val tracer = new Tracer(args.trace)
  val counters = new SparkCounters
  val progress = new ProgressLog
  val res = new Result
  var sessionS = 0.0
  private var reps = 0

  spark.streams.addListener(progress)
  if (args.trace) spark.sparkContext.addSparkListener(counters)

  /** A fresh directory for one repetition, deleted by [[cleanRep]]. */
  def newRep(): Path = { reps += 1; Files.createDirectories(runDir.resolve(s"rep-$reps")) }

  def cleanRep(dir: Path): Unit = Ctx.rmTree(dir)

  /** Wait until every listener has seen every event posted so far. */
  def drainListeners(): Unit = org.apache.spark.sql.PerfbenchBus.drain(spark.sparkContext)

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f $msg")

  def seconds: Int = args.seconds
  def seed: Long = args.seed
}

object Ctx {
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  private def walk(p: Path)(keep: Path => Boolean): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(keep).toList
      finally s.close()
    }

  def files(p: Path, suffix: String): Seq[Path] =
    walk(p)(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))

  def treeBytes(p: Path, suffix: String): Long = files(p, suffix).map(Files.size).sum

  /** Leaf partition directories (`batch_id=N`) under an export sink. */
  def batchDirs(p: Path): Seq[Path] =
    walk(p)(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("batch_id="))

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs.map(_ -> 1L), 0.5)

  /** Nearest-rank quantile of (value, weight) samples. */
  def quantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= math.ceil(q * total) }.map(_._1).getOrElse(0.0)
  }
}

/** Metric catalogue and the result line. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Record a failed output check: it fails the run. */
  def fail(n: Long, what: String): Unit = if (n > 0) {
    failed += n
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def json(trace: Boolean): String = {
    val (names, values) =
      if (trace) (Result.LayerUnits, layer) else (Result.E2eUnits, e2e)
    if (trace) layer("failed_ratio") = failed.toDouble / math.max(1L, attempted)
    val ms = names.map { case (n, u) =>
      val v = values.getOrElse(n, 0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":${failed == 0},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Result {
  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s",
    "latency_p99_s" -> "s",
    "output_bytes_per_item" -> "B")

  val LayerUnits: Seq[(String, String)] = Seq(
    "kafka.fetch_s" -> "s",
    "kafka.fetch_msgs_per_s" -> "1/s",
    "kafka.fetch_bytes" -> "B",
    "kafka.lag_msgs_max" -> "count",
    "proto.decode_s" -> "s",
    "proto.decode_msgs_per_s" -> "1/s",
    "proto.decode_1thread_msgs_per_s" -> "1/s",
    "proto.poison_msgs" -> "count",
    "normalize.rows_per_msg" -> "ratio",
    "normalize.agg_s" -> "s",
    "normalize.agg_rows" -> "count",
    "export.raw_s" -> "s",
    "export.agg_s" -> "s",
    "export.files" -> "count",
    "export.partition_dirs" -> "count",
    "export.partition_dirs_per_batch" -> "count",
    "export.rows_per_file" -> "count",
    "export.bytes" -> "B",
    "table.commit_s" -> "s",
    "table.files_committed" -> "count",
    "stream.batches" -> "count",
    "stream.trigger_p50_s" -> "s",
    "stream.trigger_max_s" -> "s",
    "stream.add_batch_s" -> "s",
    "stream.planning_s" -> "s",
    "stream.wal_commit_s" -> "s",
    "stream.offsets_commit_s" -> "s",
    "stream.fixed_share" -> "ratio",
    "stream.idle_share" -> "ratio",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.cpu_s" -> "s",
    "spark.core_util" -> "ratio",
    "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.max_task_share" -> "ratio",
    "index.build_s" -> "s",
    "index.query_s" -> "s",
    "index.merge_s" -> "s",
    "index.jobs_per_admit" -> "count",
    "index.driver_gap_s_per_admit" -> "s",
    "index.generations" -> "count",
    "index.admitted_ratio" -> "ratio",
    "memo.warm_hits" -> "count",
    "latency.samples" -> "count",
    "jvm.peak_rss_mb" -> "MB",
    "failed_ratio" -> "ratio",
    "trace.throughput_per_s" -> "1/s",
    "trace.latency_p50_s" -> "s")
}
