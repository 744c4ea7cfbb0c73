package graft
import org.apache.spark.sql.SparkSession

/** Round-harness benchmark main: times every [[SparkEntry.queries]]
  * entry on `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Each query is timed in [[Rounds]] full suite passes and reported as
  * the per-query MINIMUM — ambient machine load on a shared box can
  * inflate a single pass by an order of magnitude (a 0.26 s aggregate
  * has been observed at 4.6 s under contention), and the minimum of
  * independent passes is the standard de-noising estimator for a
  * deterministic workload. Three passes, not two: the typed-lambda
  * operators (pair-gen flatMaps, decode maps) JIT during pass 1 and are
  * often still tiering up in pass 2 — a min-of-2 has been observed 40%
  * above the warm steady state on exactly those queries. Session memos (trained models, pair frames)
  * are cleared BETWEEN passes so every pass pays each operator's full
  * training/derivation cost — without that, pass 2 of a memoized
  * operator times the memo lookup, not the operator. Within a pass,
  * memo sharing across queries is kept (it is the production shape:
  * consumers of one trained model share one training run) — and every
  * query whose reported minimum consumed a warm memo is named in the
  * JSON's `memo_warm` array, so per-query numbers are never silently
  * non-self-contained (the producer's time absorbs the shared work).
  *
  * `GRAFT_BENCH_ONLY=name,name` restricts to a comma-separated subset
  * for dev loops.
  *
  * Output contract: the full one-line JSON (metric/value/unit/queries/
  * sf) goes to stdout AND `bench_out.json`; a short summary line with
  * the same total (no per-query map — see the 2000-byte-capture note
  * in main) is printed LAST so the driver's log-tail capture always
  * contains one complete parseable object.
  */
object Bench {

  val Rounds = 3

  /** Start a timed pass cold: drop the session's derived memos, then
    * every persisted block. The dev harnesses in `graft.tools` call
    * this too, so their passes match Bench's. */
  def resetPass(spark: SparkSession): Unit = {
    graft.operators.MemoStats.clearDerived(spark)
    // the memo entries held the LAST references to their materialized
    // frames; the localCheckpoint blocks behind them (and behind any
    // Materialize'd intermediate no memo held) stay pinned in the
    // block manager until the JVM happens to GC the RDD objects. Drop
    // them NOW so each pass starts with a clean store instead of
    // inheriting the previous pass's working set as ambient heap
    // pressure (observed: late-suite queries 2-4× slower under the
    // accumulated blocks).
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.create(cpus, "graft-bench")
    // JVM + codegen + parquet-reader warmup so the first measured query
    // doesn't absorb ~10 s of one-time session cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    // best-effort: a missing/odd table must not kill the whole bench
    // before a single query ran — per-query failures are reported below
    scala.util.Try(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("count(*)").collect())
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // a throwing query must NEVER masquerade as a fast one: an
    // exception unwinds in milliseconds, and a naive "swallow and time
    // anyway" loop records it as a best-in-suite number (a generator
    // schema drift once produced a whole file of such bogus times).
    // Failures are timed as +Infinity for the min and reported by name.
    val failures = scala.collection.mutable.Map
      .empty[String, String].withDefaultValue("")
    val passes = (1 to Rounds).map { _ =>
      resetPass(spark)
      selected.map { case (name, fn) =>
        val warm0 = graft.operators.MemoStats.warmHits
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            // strip EVERY control char plus quote/backslash: one raw
            // byte echoed into a message must not unparse the JSON line
            failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
            false
        }
        val secs = if (ok) (System.nanoTime() - t0) / 1e9
                   else Double.PositiveInfinity
        // warm = this query read a memo another query in the pass had
        // already computed, so its wall time is NOT self-contained
        name -> (secs, graft.operators.MemoStats.warmHits > warm0)
      }.toMap
    }
    // per-query minimum, carrying the memo-warm flag of the pass that
    // PRODUCED the min — the flag qualifies exactly the reported number
    val results = selected.map { case (name, _) =>
      name -> passes.map(_(name)).minBy(_._1)
    }
    val memoWarm = results.collect {
      case (name, (t, true)) if !t.isInfinity => name }.sorted
    // all-passes-failed queries are OMITTED from "queries" (the same
    // contract as Verify's missing dumps) and named in "failed"; a
    // query that failed one pass but succeeded another keeps its valid
    // min and is dropped from "failed" — the two fields never overlap
    val qs = results.filterNot(_._2._1.isInfinity)
      .map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).filterNot(_.isInfinity).sum
    val allFailed = results.filter(_._2._1.isInfinity).map(_._1).toSet
    val failed = failures.toSeq.filter(kv => allFailed(kv._1)).sortBy(_._1)
      .map { case (k, m) => s"\"$k\":\"$m\"" }.mkString("{", ",", "}")
    val warmJson = memoWarm.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","rounds":$Rounds,"failed":$failed,"memo_warm":$warmJson}"""
    println(line)
    // the driver's log capture keeps only the LAST ~2000 bytes of the
    // run's output (measured: every BENCH_r*.json "tail" is exactly
    // 2000 chars and "parsed" has been null in ALL rounds, r01-r18).
    // The 138 query NAMES alone total 2201 bytes, so no one-line JSON
    // carrying the full "queries" map can ever survive that capture —
    // persist the full line to a file next to the run so per-query
    // timings survive intact
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n")
    catch { case _: Exception => () } // best-effort: stdout is primary
    spark.stop()
    // REPORTING fix (round 19; timing methodology unchanged): emit a
    // SHORT summary line as the very last output so that one complete,
    // parseable JSON object sits inside the driver's 2000-byte tail.
    // Same "metric"/"value"/"unit"/"sf" fields as the full line above;
    // the per-query map lives in the full line and bench_out.json. At
    // most a handful of failed names are echoed here — the detail map
    // is on the full line.
    val failedNames = allFailed.toSeq.sorted
    val failedShort = failedNames.take(8).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","rounds":$Rounds,"n_queries":${results.size - allFailed.size},"n_failed":${failedNames.size},"failed_names":$failedShort,"memo_warm_n":${memoWarm.size},"queries_full":"bench_out.json"}""")
  }
}
