package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MemoStats}

/** crawl_admit: closed loop, one caller. `GRAFT INDEX BUILD MINHASH`
  * and `WINNOW` index a bootstrap slice of documents; then crawl
  * batches go through `GRAFT INDEX ADMIT MINHASH` and `ADMIT WINNOW` in
  * order, each gated on the index the previous batch left. The admit
  * logs are checked against the batch `Dedup` joins replayed over the
  * same chain. No service layer runs. */
object Crawl {

  val BootDocs = 1000
  val BatchDocs = 250
  val MaxBatches = 5
  val Kinds = Seq("MINHASH", "WINNOW")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val boot = Gen.documents(ctx.seed, 0L, BootDocs, IndexedSeq.empty)
    val batches = (0 until MaxBatches).foldLeft(Vector.empty[IndexedSeq[(Long, String)]]) {
      (acc, k) =>
        acc :+ Gen.documents(ctx.seed, BootDocs.toLong + k * BatchDocs, BatchDocs,
          boot ++ acc.flatten)
    }
    val all = boot.map { case (i, t) => (i, t, 0) } ++
      batches.zipWithIndex.flatMap { case (b, k) => b.map { case (i, t) => (i, t, k + 1) } }
    import spark.implicits._
    val docs = all.toDF("doc_id", "text", "part").persist()
    docs.count()
    docs.createOrReplaceTempView("perfbench_docs")
    // the batch-operator replay of the whole chain runs first: it is the
    // check's work, and leaves the shared shingling code warm
    val expected = expectedChain(docs, MaxBatches)
    ctx.log("expected admissions replayed")
    def from(part: Int) =
      s"(SELECT doc_id, text FROM perfbench_docs WHERE part = $part)"

    val dir = ctx.newRep()
    val roots = Kinds.map(k => k -> dir.resolve(k.toLowerCase).toString).toMap
    val b0 = System.currentTimeMillis()
    Kinds.foreach(k => ctx.tracer(s"index.build.${k.toLowerCase}") {
      spark.sql(s"GRAFT INDEX BUILD $k '${roots(k)}' FROM ${from(0)}").collect()
    })
    val buildMs = System.currentTimeMillis() - b0

    val logs = ArrayBuffer.empty[(String, Int, Array[org.apache.spark.sql.Row])]
    // one crawl batch through both gates, in order; returns its interval
    def admit(k: Int): (Long, Long) = {
      val s = System.currentTimeMillis()
      Kinds.foreach { kind =>
        logs += ((kind, k, ctx.tracer(s"index.admit.${kind.toLowerCase}") {
          spark.sql(s"GRAFT INDEX ADMIT $kind '${roots(kind)}' FROM ${from(k)}").collect()
        }))
      }
      (s, System.currentTimeMillis())
    }
    // batch 1 is the warm-up; later batches are measured until the
    // run's seconds are spent
    val warm = admit(1)
    ctx.drainListeners()
    val before = ctx.counters.snap
    val memo0 = MemoStats.warmHits
    val measured = ArrayBuffer.empty[(Long, Long)]
    while (measured.size + 1 < MaxBatches &&
           measured.map(m => m._2 - m._1).sum < ctx.seconds * 1000L)
      measured += admit(measured.size + 2)
    ctx.drainListeners()
    val counts = ctx.counters.snap - before
    val memoHits = MemoStats.warmHits - memo0
    val (t0, t1) = (measured.head._1, measured.last._2)
    ctx.log(s"crawl: build $buildMs ms, batches " +
      (warm +: measured).map(m => m._2 - m._1).mkString(" ") + " ms")

    // every batch doc decided exactly once per gate, as the replay says
    var admitted = 0L
    logs.foreach { case (kind, k, rows) =>
      val got = rows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val want = expected((kind, k))
      ctx.res.attempted += batches(k - 1).size
      ctx.res.fail(rows.length - got.size, s"$kind batch $k: ${rows.length - got.size} docs decided twice")
      val wrong = batches(k - 1).count { case (i, _) => !got.get(i).contains(want.contains(i)) }
      ctx.res.fail(wrong.toLong, s"$kind batch $k: $wrong admission decisions differ " +
        "from the batch Dedup replay")
      if (k > 1) admitted += got.values.count(identity)
    }
    ctx.log("admission logs checked")
    // committed generations: the `_commits/g<G>` publish markers
    val gens = Kinds.map { k =>
      Ctx.files(java.nio.file.Paths.get(roots(k), "_commits"), "")
        .count(_.getFileName.toString.matches("g\\d+")).toLong
    }.sum
    val indexed = BootDocs * Kinds.size + logs.map(_._3.count(_.getBoolean(1))).sum
    Service.putE2e(ctx, (buildMs + warm._2 - warm._1) / 1000.0, Seq(0.0),
      measured.size * BatchDocs * 1000.0 / measured.map(m => m._2 - m._1).sum,
      measured.map(m => ((m._2 - m._1) / 1000.0, 1L)).toSeq,
      Ctx.treeBytes(dir, "").toDouble / indexed)
    if (ctx.args.trace) {
      val l = ctx.res.layer
      val spans = ctx.tracer.all
      val admits = spans.filter(s => s.name.startsWith("index.admit.") && s.startMs >= t0)
      ctx.counters.writeSpans.filter { case (_, s, _) => s >= b0 }.foreach { case (p, s, e) =>
        ctx.tracer.record("index.write." + p.split('/')
          .dropWhile(seg => !roots.keys.exists(_.toLowerCase == seg)).take(2).mkString("."), s, e) }
      // index writes (generation merges) inside the measured admit calls;
      // one call's writes can run at the same time, so it counts their union
      val mergeS = admits.map(a => Tracer.unionMs(ctx.counters.writeSpans.collect {
        case (_, s, e) if s >= a.startMs && e <= a.endMs => (s, e) })).sum / 1000.0
      val n = math.max(1, admits.size)
      l("index.build_s") = buildMs / 1000.0
      l("index.merge_s") = mergeS
      l("index.query_s") = math.max(0.0, admits.map(_.ms).sum / 1000.0 - mergeS)
      l("index.jobs_per_admit") = counts.jobs.toDouble / n
      l("index.driver_gap_s_per_admit") = admits.map { a =>
        a.ms - Tracer.unionMs(ctx.counters.jobsWithin(a.startMs, a.endMs)) }.sum / 1000.0 / n
      l("index.generations") = gens
      l("index.admitted_ratio") = admitted.toDouble / (measured.size * BatchDocs * Kinds.size)
      l("memo.warm_hits") = memoHits
      Service.sparkLayer(ctx, counts, (t1 - t0) / 1000.0, ctx.counters.jobsWithin(t0, t1))
      Service.traceE2e(ctx)
    }
    ctx.cleanRep(dir)
    docs.unpersist()
    ctx.log("crawl done")
  }

  /** The chained admission replayed with the batch operators. One
    * `Dedup.minhashJoin` / `Dedup.winnowJoin` per gate pairs every crawl
    * document with every earlier document; walking the batches in order
    * then rejects a document iff it pairs with one that had landed (the
    * bootstrap or an earlier batch's survivor). This equals a join per
    * batch against its landed set while no LSH bucket or fingerprint
    * reaches the operators' caps, which the generated vocabulary keeps
    * far out of reach (a cap that did bind would show as a failed check,
    * never hide one). */
  def expectedChain(docs: DataFrame, batches: Int): Map[(String, Int), Set[Long]] = {
    val part = docs.select("doc_id", "part").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val crawl = docs.filter(col("part").between(1, batches)).select("doc_id", "text")
    val corpus = docs.filter(col("part") <= batches).select("doc_id", "text")
    Kinds.flatMap { kind =>
      val pairs = (if (kind == "MINHASH") Dedup.minhashJoin(crawl, corpus)
        else Dedup.winnowJoin(crawl, corpus))
        .select("left_id", "right_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .filter { case (l, r) => part(r) < part(l) }
        .groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2) }
      var landed = part.collect { case (i, 0) => i }.toSet
      (1 to batches).map { k =>
        val admitted = part.collect { case (i, `k`) => i }
          .filterNot(i => pairs.getOrElse(i, Array.empty[Long]).exists(landed)).toSet
        landed ++= admitted
        (kind, k) -> admitted
      }
    }.toMap
  }
}
