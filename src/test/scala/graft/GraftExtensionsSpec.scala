package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.proto.{ProtoDecode, ProtoEncode}

/** Extension surface: SQL-registered codec functions and the
  * encode→decode roundtrip elimination rule.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // the shared test session is built with spark.sql.extensions =
  // graft.GraftExtensions: functions, parser and the roundtrip rule all
  // come from that config-time injection
  private lazy val spark: SparkSession = SparkTestSession.spark

  test("SQL users can decode bidrequests via registered function") {
    val frames = graft.operators.ProtoPipeline
      .framedMessages(spark, SparkTestSession.sf0001).limit(5)
    frames.createOrReplaceTempView("frames")
    val out = spark.sql(
      """SELECT graft_decode_bidrequest(
        |         substring(value, 7, length(value) - 14)).id AS id,
        |       graft_le_uint64(value) AS event_tm
        |FROM frames""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.forall(r => r.getString(0).nonEmpty && r.getLong(1) > 0))
  }

  test("LLM text operators callable from SQL, bit-identical to Scala API") {
    import SparkTestSession.sf0001
    graft.sources.Tables.documents(spark, sf0001)
      .createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """SELECT doc_id,
        |       graft_quality(text).quality          AS quality,
        |       graft_token_stats(text).n_tokens     AS n_tokens,
        |       graft_lang_id(text).pred_lang        AS pred_lang,
        |       graft_fingerprint(text).content_md5  AS content_md5
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    val api = graft.operators.TextAnalysis.qualityScore(spark, sf0001)
      .select("doc_id", "quality")
      .join(graft.operators.TextAnalysis.tokenStats(spark, sf0001)
        .select("doc_id", "n_tokens"), "doc_id")
      .join(graft.operators.TextAnalysis.langId(spark, sf0001)
        .select("doc_id", "pred_lang"), "doc_id")
      .join(graft.operators.TextAnalysis.fingerprint(spark, sf0001)
        .select("doc_id", "content_md5"), "doc_id")
      .orderBy("doc_id").collect()
    assert(sql.length == api.length && sql.nonEmpty)
    sql.zip(api).foreach { case (s, a) => assert(s == a) }
  }

  test("corpus-prep operators callable from SQL, bit-identical to Scala API") {
    import SparkTestSession.sf0001
    graft.sources.Tables.documents(spark, sf0001)
      .createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """SELECT doc_id,
        |       graft_gopher(text).gopher_pass AS gopher_pass,
        |       graft_split(doc_id).split      AS split
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    val api = graft.operators.Corpus.gopherFilters(spark, sf0001)
      .select("doc_id", "gopher_pass")
      .join(graft.operators.Corpus.trainSplit(spark, sf0001)
        .select("doc_id", "split"), "doc_id")
      .orderBy("doc_id").collect()
    assert(sql.length == api.length && sql.nonEmpty)
    sql.zip(api).foreach { case (s, a) => assert(s == a) }
    // redaction through SQL strips the injected PII
    val red = spark.sql(
      """SELECT graft_pii_redact(
        |         concat(text, ' mail to x', doc_id, '@y.io')).redacted AS r
        |FROM docs_sql""".stripMargin).collect()
    assert(red.nonEmpty && red.forall(!_.getString(0).contains("@")))
  }

  test("corpus-prep table functions callable from SQL") {
    import SparkTestSession.sf0001
    val chunks = spark.sql(
      s"SELECT * FROM graft_token_chunks('$sf0001')").collect()
    assert(chunks.length ==
      graft.operators.Corpus.tokenChunks(spark, sf0001).count())
    val top = spark.sql(
      s"SELECT * FROM graft_top_terms('$sf0001') LIMIT 3").collect()
    assert(top.length == 3)
    val spans = spark.sql(
      s"""SELECT count(*) FROM graft_span_dedup('$sf0001')
         |WHERE NOT keep""".stripMargin).collect()
    assert(spans.head.getLong(0) >= 0)
  }

  test("round-5 operators callable from SQL, bit-identical to Scala API") {
    import SparkTestSession.sf0001
    // scalar: canonical URL + Morton code
    val canon = spark.sql(
      """SELECT graft_canonical_url(
        |  'HTTPS://WWW.Ex.COM:443/a/?utm_source=x&utm_campaign=y#frag')
        |  AS u""".stripMargin).collect().head.getString(0)
    assert(canon == "https://www.ex.com/a")
    val z = spark.sql("SELECT graft_zvalue(3L, 5L) AS z")
      .collect().head.getLong(0)
    assert(z == 0x27L) // interleave(x=011, y=101) = 100111
    // table functions mirror the Scala plans
    val packed = spark.sql(
      s"SELECT * FROM graft_pack_sequences('$sf0001')").collect()
    assert(packed.length ==
      graft.operators.Corpus.packSequences(spark, sf0001).count())
    val urls = spark.sql(
      s"""SELECT sum(n_fetches) AS n FROM graft_url_dedup('$sf0001')""")
      .collect().head.getLong(0)
    assert(urls == graft.sources.Tables.documents(spark, sf0001).count())
    val mix = spark.sql(
      s"SELECT * FROM graft_mixture_sample('$sf0001')").collect()
    assert(mix.length ==
      graft.operators.Sampling.mixtureSample(spark, sf0001).count())
    val ord = spark.sql(
      s"SELECT * FROM graft_training_order('$sf0001') LIMIT 5").collect()
    assert(ord.length == 5)
    val bloom = spark.sql(
      s"SELECT * FROM graft_decontaminate_bloom('$sf0001')").collect()
    assert(bloom.length ==
      graft.operators.Dedup.decontaminate(spark, sf0001).count())
  }

  test("graft_kmv_distinct aggregate callable from SQL") {
    import SparkTestSession.sf0001
    graft.sources.Tables.orders(spark, sf0001)
      .createOrReplaceTempView("orders_sql")
    val sql = spark.sql(
      """SELECT o_orderpriority, graft_kmv_distinct(o_custkey, 64) AS approx_custs
        |FROM orders_sql GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin).collect()
    val api = graft.sources.Tables.orders(spark, sf0001)
      .groupBy("o_orderpriority")
      .agg(graft.functions.KmvDistinct
        .kmvDistinct(org.apache.spark.sql.functions.col("o_custkey"), 64)
        .as("approx_custs"))
      .orderBy("o_orderpriority").collect()
    assert(sql.length == api.length && sql.nonEmpty)
    sql.zip(api).foreach { case (s, a) => assert(s == a) }
  }

  test("dedup-family table functions match the Scala operators") {
    import SparkTestSession.sf0001
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "graft_minhash_pairs" ->
        graft.operators.Dedup.minhashLsh(spark, sf0001),
      "graft_exact_dedup" ->
        graft.operators.Dedup.exact(spark, sf0001),
      "graft_simhash_pairs" ->
        graft.operators.Dedup.simhash(spark, sf0001),
      "graft_ngram_jaccard_pairs" ->
        graft.operators.Dedup.ngramJaccard(spark, sf0001),
      "graft_winnow_pairs" ->
        graft.operators.Dedup.winnowPairs(spark, sf0001),
      "graft_quality_classifier" ->
        graft.operators.QualityClassifier.classify(spark, sf0001),
      "graft_classifier_weights" ->
        graft.operators.QualityClassifier.modelWeights(spark, sf0001),
      "graft_pq_topk" ->
        graft.operators.Similarity.pqTopK(spark, sf0001),
      "graft_corpus_build" ->
        graft.operators.Corpus.corpusBuild(spark, sf0001),
      "graft_clusters" ->
        graft.operators.Dedup.clusters(
          graft.operators.Dedup.minhashLsh(spark, sf0001)),
      "graft_decontaminate" ->
        graft.operators.Dedup.decontaminate(spark, sf0001),
      "graft_embedding_neardup" ->
        graft.operators.Dedup.embeddingNearDup(spark, sf0001),
      "graft_rarity" ->
        graft.operators.TextAnalysis.rarityScore(spark, sf0001),
      "graft_tfidf" ->
        graft.operators.TextAnalysis.tfIdfTopTerms(spark, sf0001),
      "graft_repetition" ->
        graft.operators.TextAnalysis.repetitionStats(spark, sf0001))
    cases.foreach { case (fn, api) =>
      val cols = api.columns.map(c => s"`$c`").mkString(", ")
      val sql = spark.sql(
        s"SELECT * FROM $fn('$sf0001') ORDER BY $cols").collect()
      val expected = api.orderBy(api.columns.map(api(_)): _*).collect()
      assert(sql.sameElements(expected), s"$fn mismatch")
    }
  }

  test("graft_minhash_join two-dir table function matches the Scala operator") {
    import SparkTestSession.sf0001
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val api = graft.operators.Dedup.minhashJoin(docs, docs)
      .orderBy("left_id", "right_id").collect()
    val sql = spark.sql(
      s"""SELECT * FROM graft_minhash_join('$sf0001', '$sf0001')
         |ORDER BY left_id, right_id""".stripMargin).collect()
    assert(sql.sameElements(api))
    // self-vs-self: every doc matches itself, so the diagonal is present
    assert(api.exists(r => r.getLong(0) == r.getLong(1)))
  }

  test("table functions compose with SQL (join, filter, agg)") {
    import SparkTestSession.sf0001
    // near-dup drop list joined back against documents entirely in SQL
    graft.sources.Tables.documents(spark, sf0001)
      .createOrReplaceTempView("docs_tf")
    val survivors = spark.sql(
      s"""SELECT count(*) AS n FROM docs_tf d
         |LEFT ANTI JOIN (SELECT DISTINCT doc_b
         |                FROM graft_minhash_pairs('$sf0001')) p
         |  ON d.doc_id = p.doc_b""".stripMargin).head().getLong(0)
    val total = spark.table("docs_tf").count()
    val dropped = graft.operators.Dedup.minhashLsh(spark, sf0001)
      .select("doc_b").distinct().count()
    assert(survivors == total - dropped)
  }

  test("optimizer eliminates encode(decode) roundtrips") {
    val df = spark.sql(
      """SELECT graft_decode_bidrequest(
        |         graft_encode_bidrequest(
        |           named_struct('id', 'x'))) IS NOT NULL AS ok""".stripMargin)
    // the roundtrip rule fires only when schemas match; here encode takes
    // the full schema, so check the plan via an exact-schema roundtrip:
    val frames = graft.operators.ProtoPipeline
      .framedMessages(spark, SparkTestSession.sf0001).limit(1)
    frames.createOrReplaceTempView("frames2")
    val rt = spark.sql(
      """SELECT graft_encode_bidrequest(
        |         graft_decode_bidrequest(
        |           substring(value, 7, length(value) - 14))) AS re
        |FROM frames2""".stripMargin)
    // decode(encode(x)) is the eliminable direction:
    val elim = spark.sql(
      """SELECT graft_decode_bidrequest(
        |         graft_encode_bidrequest(
        |           graft_decode_bidrequest(
        |             substring(value, 7, length(value) - 14)))).id AS id
        |FROM frames2""".stripMargin)
    val optimized = elim.queryExecution.optimizedPlan
    // traverse every plan node; the frames view legitimately contains one
    // writer-schema encode — the full-schema decode(encode(·)) pair must
    // be gone, leaving exactly one decode
    val codec = optimized.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: ProtoDecode => e
        case e: ProtoEncode => e
      })
    }.flatten
    assert(codec.count(_.isInstanceOf[ProtoDecode]) == 1,
      s"expected single decode after roundtrip elimination, got $codec")
    assert(!codec.exists {
      case ProtoEncode(_, m) =>
        m == graft.sources.proto.BidRequestSchema.bidrequest
      case _ => false
    }, "full-schema encode should have been eliminated")
    assert(elim.collect().nonEmpty && rt.collect().nonEmpty && df != null)
  }
}
