package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession}

/** Scale-slope proof for the heavy operator families: generates
  * seeded corpora at 1×/10×/100× the sf0.1 row counts (same schemas
  * and statistical shape as the driver's testdata — near-dup and
  * exact-dup rates, 10 embedding clusters, hourly event spread), runs
  * each target operator at every scale, and prints wall seconds plus
  * the per-decade slope. The sf0.1 bench rows are scheduling-floor
  * dominated (oracle 3–30 ms), so the per-round 2× gate proves
  * OVERHEAD; this tool proves SLOPE — the number that actually
  * predicts 100 TB behavior. Results are recorded in SCALE.md.
  *
  * Usage: `runMain graft.tools.ScaleBench [scales]` — e.g. `1,10,100`
  * (default). Each operator × scale is min-of-2 with session memos
  * cleared between reps, the Bench discipline.
  */
object ScaleBench {

  // sf0.1 row counts — the 1× anchor
  private val BaseDocs = 5000L
  private val BaseVecs = 2000L
  private val BaseEvents = 100000L

  private val Vocab: Array[String] =
    ("key agg row scan slow fast table value part hash batch window " +
      "spark order data column join small line customer query plan file " +
      "group sort merge read write commit stream shuffle stage task " +
      "broadcast filter prune skip zone bloom index graph vector near " +
      "text token shingle band bucket cluster label probe code cell " +
      "rank score media pixel frame sample corpus split pack train").split(' ')

  /** Deterministic document text: 20–99 vocab words from a doc-seeded
    * hash walk; every 20th-plus-13 doc is an EXACT copy of doc id-13,
    * every 20th-plus-7 a NEAR copy of id-7 (three words appended) — the
    * dup rates the dedup family's pair paths need. */
  /** Murmur3 finalizer — full-width avalanche so neighboring ids share
    * no word-sequence structure (a plain odd-multiplier mod leaks the
    * low bits and manufactures accidental near-dup families). */
  private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  private def textOf(id: Long): String = {
    def fresh(id: Long): String = {
      val n = 20 + (mix(id) & 0x7fffffffL).toInt % 80
      val sb = new StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(Vocab(
          ((mix(id * 131 + j) & 0x7fffffffL) % Vocab.length).toInt))
        j += 1
      }
      sb.toString
    }
    if (id % 20 == 13 && id >= 13) fresh(id - 13)
    else if (id % 20 == 7 && id >= 7) fresh(id - 7) + " extra trailing tokens"
    else fresh(id)
  }

  private def genDocuments(spark: SparkSession, dir: String, n: Long): Unit = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map { id =>
        val t = textOf(id)
        (id, t, "en", s"src${id % 5}", t.length.toLong)
      })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def genEmbeddings(spark: SparkSession, dir: String, n: Long): Unit = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map { id =>
        val label = (id % 10).toInt
        val v = Array.tabulate(64)(i =>
          (0.3 * math.sin(label * 97.0 + i) +
            0.1 * math.sin(id * 31.0 + i * 7.0)).toFloat)
        (id, v, label)
      })
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def genEvents(spark: SparkSession, dir: String, n: Long): Unit = {
    import spark.implicits._
    val types = Array("click", "view", "purchase", "error")
    spark.range(n).as[Long]
      .mapPartitions(_.map { id =>
        val ts = new java.sql.Timestamp(
          1704067200000L + (id * 2654435761L) % (72L * 3600 * 1000))
        (id, ts, (id * 7919L) % 5000L,
          types(((id * 31L) % types.length).toInt),
          ((id * 13L) % 10000L) / 100.0, s"""{"k": ${id % 100}}""")
      })
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val scales = args.headOption.getOrElse("1,10,100")
      .split(',').map(_.trim.toLong).filter(_ > 0)
    // optional second arg: comma-separated op names — ladder a subset
    // without re-running the whole suite (merge rows run only when no
    // filter names them out)
    val onlyOps = args.lift(1).map(_.split(',').map(_.trim).toSet)
    def keepOp(n: String): Boolean = onlyOps.forall(_.contains(n))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(cpus, "graft-scale-bench")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    val base = Files.createTempDirectory("graft-scale-bench").toString

    val allOps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dedup_minhash_lsh" -> ((s, d) => graft.operators.Dedup.minhashLsh(s, d)),
      "sim_ivfpq_topk" -> ((s, d) => graft.operators.IvfPq.topK(s, d)),
      "sim_hnsw_topk" -> ((s, d) => graft.operators.HnswIndex.topK(s, d)),
      "sim_hnsw_routed" -> ((s, d) => graft.operators.HnswRouted.topK(s, d)),
      "q_sql_index_lifecycle" ->
        ((s, d) => graft.operators.MinhashIndex.sqlLifecycle(s, d)),
      "q_stream_hourly_files" ->
        ((s, d) => graft.streaming.StreamingAgg.hourlyFiles(s, d)),
      // curation-path heavy hitters (r16 ask): text statistics, the
      // native-expression classifier, stateful sessionization, and the
      // perceptual image pair path (media synthesized per doc id)
      // the two heaviest absolute bench rows (r17 ask): the banded
      // candidate + exact-verify join, and the winnow-anchored
      // substring span removal — the candidate-growth numbers to watch
      "dedup_ngram_jaccard" ->
        ((s, d) => graft.operators.Dedup.ngramJaccard(s, d)),
      "dedup_substring_removal" ->
        ((s, d) => graft.operators.Dedup.removeSubstringSpans(s, d)),
      // r18: the embedding cross-corpus join (SRP bucket + hamming-1
      // probe against capped residents) — candidate growth per decade
      // is the number to watch, as with the banded text join
      "dedup_semantic_crosscorpus" ->
        ((s, d) => graft.operators.Dedup.semanticCrossCorpus(s, d)),
      "text_tfidf" ->
        ((s, d) => graft.operators.TextAnalysis.tfIdfTopTerms(s, d)),
      "text_classifier" ->
        ((s, d) => graft.operators.QualityClassifier.classify(s, d)),
      "q_stream_sessionize" ->
        ((s, d) => graft.streaming.StatefulSessionize.streamSessionize(s, d)),
      "dedup_phash" ->
        ((s, d) => graft.operators.PerceptualHash.phash(s, d)))
    val ops = allOps.filter(kv => keepOp(kv._1))

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Double)] // op, scale, rows, sec
    scales.foreach { scale =>
      val dir = s"$base/x$scale"
      genDocuments(spark, dir, BaseDocs * scale)
      genEmbeddings(spark, dir, BaseVecs * scale)
      genEvents(spark, dir, BaseEvents * scale)
      ops.foreach { case (name, fn) =>
        val secs = (1 to 2).map { _ =>
          Bench.resetPass(spark)
          val t0 = System.nanoTime()
          val n = fn(spark, dir).count()
          val s = (System.nanoTime() - t0) / 1e9
          (s, n)
        }
        val rows = name match {
          case "dedup_semantic_crosscorpus" => BaseVecs * scale
          case n2 if n2.startsWith("dedup") || n2.startsWith("q_sql") ||
            n2.startsWith("text") => BaseDocs * scale
          case n2 if n2.startsWith("sim") => BaseVecs * scale
          case _ => BaseEvents * scale
        }
        results += ((name, scale, rows, secs.map(_._1).min))
        println(f"[scale] $name%-24s x$scale%-4d rows=$rows%-9d " +
          f"wall=${secs.map(_._1).min}%8.2f s out=${secs.head._2}")
      }
      // flat-HNSW merge cost honesty (the documented full replay):
      // build on the landed 90% (UNTIMED), then time merge of the 10%
      // increment — which replays the whole union sequentially on the
      // driver. Rebuilt per rep (a replayed fingerprint would no-op).
      // Contrast row: HnswRouted.merge of the SAME increment rebuilds
      // only the touched cells on the executors.
      if (BaseVecs * scale <= graft.operators.HnswIndex.MaxBuild &&
          (keepOp("hnsw_flat_merge") || keepOp("hnsw_routed_merge"))) {
        import graft.operators.{HnswIndex, HnswRouted, Similarity}
        val vecs = Similarity.corpus(spark, dir)
        val landed = vecs.filter(col("vec_id") % 10 =!= 3)
        val increment = vecs.filter(col("vec_id") % 10 === 3)
        def timeMerge(label: String,
                      build: String => Unit,
                      merge: String => Unit): Unit = {
          val secs = (1 to 2).map { _ =>
            Bench.resetPass(spark)
            val root = Files.createTempDirectory("scale-hnsw-m").toString
            build(root)
            val t0 = System.nanoTime()
            merge(root)
            val s = (System.nanoTime() - t0) / 1e9
            graft.operators.Scratch.rm(new java.io.File(root))
            s
          }
          results += ((label, scale, BaseVecs * scale, secs.min))
          println(f"[scale] $label%-24s x$scale%-4d " +
            f"rows=${BaseVecs * scale}%-9d wall=${secs.min}%8.2f s")
        }
        if (keepOp("hnsw_flat_merge"))
          timeMerge("hnsw_flat_merge",
            r => HnswIndex.build(landed, r),
            r => HnswIndex.merge(increment, r))
        if (keepOp("hnsw_routed_merge"))
          timeMerge("hnsw_routed_merge",
            r => HnswRouted.build(landed, r),
            r => HnswRouted.merge(increment, r))
      }
      // free the scale dir before the next decade
      graft.operators.Scratch.rm(new java.io.File(dir))
    }

    // slope table: per operator, t(S)/t(prev) vs the 10x row growth.
    // The sim family's standard query set GROWS with the corpus
    // (vec_id % QueryStride), so total wall is corpus × queries =
    // quadratic BY BENCHMARK CONSTRUCTION — the per-query column is
    // the one that predicts a deployment (fixed query rate, growing
    // corpus). For the row-shaped operators the per-1k-rows column
    // plays the same role.
    println("\n| operator | " +
      scales.map(s => s"x$s wall").mkString(" | ") +
      " | slope/decade (total; ≤10 = sublinear) | per-unit at " +
      scales.map(s => s"x$s").mkString("/") + " |")
    println("|---|" + scales.map(_ => "---|").mkString + "---|---|")
    val rowNames = ops.map(_._1) ++
      Seq("hnsw_flat_merge", "hnsw_routed_merge")
        .filter(n => results.exists(_._1 == n))
    rowNames.foreach { name =>
      val rs = results.filter(_._1 == name).sortBy(_._2)
      val walls = rs.map(r => f"${r._4}%.2f s").mkString(" | ")
      val slopes = rs.toSeq.sliding(2).collect {
        case Seq((_, sa, _, wa), (_, sb, _, wb)) =>
          val decades = math.log10(sb.toDouble / sa)
          f"${math.pow(wb / wa, 1.0 / decades)}%.1f×"
      }.mkString(", ")
      val perUnit = rs.map { case (_, scale, rows, w) =>
        if (name.startsWith("sim")) {
          val queries = (BaseVecs * scale) / graft.operators.Similarity.QueryStride
          f"${w * 1000 / queries}%.0f ms/q"
        } else f"${w * 1000 / (rows / 1000.0)}%.1f ms/krow"
      }.mkString(" / ")
      println(s"| $name | $walls | $slopes | $perUnit |")
    }
    graft.operators.Scratch.rm(new java.io.File(base))
    spark.stop()
  }
}
