package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY.md §2 has a `queries` entry; each
  * SQL-expressible one also has an `oracleSql` entry executed by the
  * driver in DuckDB over the same parquet tables. Column names/types are
  * aligned on both sides (the driver hash-compares after sorting columns
  * by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full reference chain: synthesize framed wire bytes →
    * strip/decode → normalize → hourly requests aggregate. */
  def entry(spark: SparkSession): DataFrame =
    BidExports.hourlyAggFromWire(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity: hosted SQL surface (SURVEY §2.B) -------------
    "q_partition_discovery" -> (EventsEtl.partitionDiscovery _),
    "q_raw_export"          -> ((s, d) => EventsEtl.rawExport(s, d)),
    "q_hourly_agg"          -> (EventsEtl.hourlyAgg _),
    "q_epoch_roundtrip"     -> (EventsEtl.epochRoundtrip _),
    "q_coalesce_nonempty"   -> (EventsEtl.coalesceNonEmptyDemo _),
    "q_explode_outer"       -> (EventsEtl.explodeOuterDemo _),
    "q_resolution_concat"   -> (EventsEtl.resolutionConcat _),
    // --- general relational surface -------------------------------------
    "q1_pricing_summary"    -> (Relational.q1PricingSummary _),
    "q3_shipping_priority"  -> (Relational.q3ShippingPriority _),
    "q5_local_supplier"     -> (Relational.q5LocalSupplierVolume _),
    "q_top_orders_window"   -> (Relational.topOrdersPerPriority _),
    "q_semi_anti_join"      -> (Relational.customersWithoutOrders _),
    "q_rollup_revenue"      -> (Relational.rollupRevenue _),
    "q_window_functions"    -> (Relational.windowFunctions _),
    "q_cube_revenue"        -> (Relational.cubeRevenue _),
    "q_listagg_roster"      -> (Relational.segmentNameRoster _),
    "q_nation_set_ops"      -> (Relational.nationSetOps _),
    "q_pivot_daily"         -> (Relational.pivotDailyEvents _),
    "q_parts_by_brand"      -> (Relational.partsByBrand _),
    "q_string_functions"    -> (Relational.stringFunctions _),
    "q_date_functions"      -> (Relational.dateFunctions _),
    "q_user_event_arrays"   -> (Relational.userEventArrays _),
    "q_proto_roundtrip"     -> (ProtoPipeline.roundtrip _),
    "q_bid_hourly_agg"      -> (BidExports.hourlyAggFromWire _),
    "q_kafka_hourly_agg"    -> (KafkaRoundtrip.hourlyAgg _),
    "q_stream_hourly"       -> (graft.streaming.StreamingAgg.hourlyWindow _),
    "q_stream_hourly_files" -> (graft.streaming.StreamingAgg.hourlyFiles _),
    "q_sessionize"          -> (Sessionize.apply _),
    "q_asof_join"           -> (AsOfJoin.purchaseLastClick _),
    "q_range_join"          -> (RangeJoin.shippingWindowOrders _),
    "q_kmv_distinct"        -> ((s, d) => EventsEtl.kmvUserEstimate(s, d)),
    "q_salted_agg"          -> ((s, d) => EventsEtl.saltedUserStats(s, d)),
    "q_json_props"          -> (EventsEtl.jsonProps _),
    "q_value_percentiles"   -> (EventsEtl.valuePercentiles _),
    "q_above_avg_customers" -> (EventsEtl.aboveNationAvgCustomers _),
    // --- training-data pipeline: dedup family ---------------------------
    "dedup_exact"           -> (Dedup.exact _),
    "dedup_minhash_lsh"     -> (Dedup.minhashLsh _),
    "dedup_simhash"         -> (Dedup.simhash _),
    "dedup_ngram_jaccard"   -> (Dedup.ngramJaccard _),
    "dedup_phash"           -> (PerceptualHash.phash _),
    "dedup_phash_dct"       -> (PerceptualHash.phashDct _),
    "dedup_phash_crosscorpus" -> (PerceptualHash.phashCrossCorpus _),
    "dedup_phash_clusters"  -> ((s, d) => Dedup.clusters(
      PerceptualHash.phash(s, d)
        .select(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b")))),
    "dedup_embedding"       -> ((s, d) => Dedup.embeddingNearDup(s, d)),
    "dedup_semantic_crosscorpus" -> (Dedup.semanticCrossCorpus _),
    "dedup_clusters"        -> (Dedup.clusters _),
    "dedup_crosscorpus"     -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      val docs = graft.sources.Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
      Dedup.minhashJoin(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },
    "dedup_incremental"     -> (MinhashIndex.incremental _),
    "dedup_index_lifecycle" -> (MinhashIndex.lifecycle _),
    "q_sql_index_lifecycle" -> (MinhashIndex.sqlLifecycle _),
    "q_sql_admit"           -> (MinhashIndex.sqlAdmit _),
    "q_sql_admit_winnow"    -> (WinnowIndex.sqlAdmit _),
    "dedup_ingest_chain"    -> (MinhashIndex.ingestChain _),
    "q_admission_pipeline"  -> (Admission.pipeline _),
    "text_decontaminate"    -> (Dedup.decontaminate _),
    "dedup_decontam_bloom"  -> (Dedup.decontaminateBloom _),
    "dedup_decontam_persist" -> (DecontamIndex.persistedDecontam _),
    "q_stream_decontam"     -> (DecontamIndex.streamDecontam _),
    "q_stream_neardup"      -> (graft.streaming.StreamingNearDup.streamNearDup _),
    "q_stream_phash"        -> (graft.streaming.StreamingPhash.streamPhash _),
    "q_stream_winnow"       -> (graft.streaming.StreamingWinnow.streamWinnow _),
    "q_stream_semantic"     -> (graft.streaming.StreamingSemantic.streamSemantic _),
    "q_stream_sessionize"   -> (graft.streaming.StatefulSessionize.streamSessionize _),
    "q_stream_curation"     -> (graft.streaming.CorpusPipeline.streamCuration _),
    "dedup_spans"           -> (Corpus.spanDedup _),
    "dedup_winnow"          -> (Dedup.winnowPairs _),
    "dedup_substring"       -> (Dedup.exactSubstringSpans _),
    "dedup_substring_removal" -> (Dedup.removeSubstringSpans _),
    "dedup_winnow_join"     -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      val docs = graft.sources.Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
      Dedup.winnowJoin(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },
    "dedup_winnow_incremental" -> (WinnowIndex.incremental _),
    "dedup_winnow_lifecycle" -> (WinnowIndex.lifecycle _),
    "dedup_url"             -> (Corpus.urlDedup _),
    "text_repetition"       -> (TextAnalysis.repetitionStats _),
    "text_tfidf"            -> (TextAnalysis.tfIdfTopTerms _),
    "text_rarity"           -> (TextAnalysis.rarityScore _),
    "text_rarity_incremental" -> (TermStatsIndex.incremental _),
    // --- similarity search ----------------------------------------------
    "sim_brute_topk"        -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "sim_ivf_topk"          -> (Similarity.ivfTopK _),
    "sim_ivf_lifecycle"     -> (IvfIndex.lifecycle _),
    "sim_ivf_incremental"   -> (IvfIndex.incremental _),
    "sim_lsh_topk"          -> (Similarity.lshTopK _),
    "sim_pq_topk"           -> (Similarity.pqTopK _),
    "sim_ivfpq_topk"        -> (IvfPq.topK _),
    "sim_hnsw_topk"         -> (HnswIndex.topK _),
    "sim_recall_matrix"     -> (Similarity.recallMatrix _),
    "sim_hnsw_routed"       -> (HnswRouted.topK _),
    "sim_hnsw_routed_lifecycle" -> (HnswRouted.lifecycle _),
    "sim_hnsw_routed_incremental" -> (HnswRouted.incremental _),
    "sim_pq_lifecycle"      -> (PqIndex.lifecycle _),
    "sim_pq_incremental"    -> (PqIndex.incremental _),
    "sim_quantize"          -> (Corpus.quantizeProfile _),
    "sim_kmeans"            -> (Similarity.kmeans _),
    "dedup_semantic"        -> (Similarity.semanticDedup _),
    // --- text analysis --------------------------------------------------
    "text_token_stats"      -> (TextAnalysis.tokenStats _),
    "text_quality"          -> (TextAnalysis.qualityScore _),
    "text_langid"           -> (TextAnalysis.langId _),
    "text_fingerprint"      -> (TextAnalysis.fingerprint _),
    "text_regexp"           -> (TextAnalysis.regexpFunctions _),
    "text_pii_redact"       -> (Corpus.piiRedact _),
    "text_normalize"        -> (Corpus.normalizeText _),
    "text_lm_score"         -> (TextAnalysis.lmScore _),
    "text_gopher"           -> (Corpus.gopherFilters _),
    "text_classifier"       -> (QualityClassifier.classify _),
    "text_classifier_weights" -> (QualityClassifier.modelWeights _),
    "text_chunks"           -> (Corpus.tokenChunks _),
    "text_top_terms"        -> (Corpus.topTerms _),
    "text_bpe_merges"       -> (Bpe.merges _),
    "text_bpe_encode"       -> (Bpe.encode _),
    "q_train_split"         -> (Corpus.trainSplit _),
    "q_pack_sequences"      -> (Corpus.packSequences _),
    "q_curation_pipeline"   -> (Curation.pipeline _),
    "q_corpus_build"        -> (Corpus.corpusBuild _),
    "q_stratified_sample"   -> (Sampling.stratifiedSample _),
    "q_mixture_sample"      -> (Sampling.mixtureSample _),
    "q_training_order"      -> (Sampling.trainingOrder _),
    "q_zorder_events"       -> (Layout.zorderEvents _),
    "q_profile_events"      -> (Sampling.profileEvents _),
    // --- multimodal plumbing --------------------------------------------
    "q_multimodal_features" -> (Multimodal.features _),
    "q_media_image"         -> (Multimodal.mediaImage _),
    "q_media_decode"        -> (Multimodal.mediaDecode _),
    // --- table-format verbs (scratch log-tracked table, end-to-end) -----
    "q_table_merge"         -> (TableVerbs.mergeFinalState _),
    "q_table_changes"       -> (TableVerbs.changeFeed _),
    "q_catalog_lifecycle"   -> (CatalogLifecycle.lifecycle _),
    "q_log_insert"          -> (CatalogLifecycle.logInsert _),
    "q_log_evolve"          -> (CatalogLifecycle.logEvolve _),
    "q_stream_table"        -> (TableVerbs.streamTable _),
    "q_table_zorder"        -> (TableVerbs.zorderTable _),
    // --- JSONL interchange (gzip export → schema'd read-back) -----------
    "q_jsonl_roundtrip"     -> (Jsonl.roundtrip _),
    // --- Arrow IPC interchange (the reference's native data plane) ------
    "q_arrow_roundtrip"     -> (ArrowInterchange.roundtrip _),
    "q_stream_arrow"        -> (ArrowInterchange.streamShards _),
    "q_arrow_source"        -> (ArrowInterchange.sourceAgg _),
    "q_arrow_stats_agg"     -> (ArrowInterchange.statsAgg _),
    "q_arrow_nested"        -> (ArrowInterchange.nested _),
    "q_arrow_write"         -> (ArrowInterchange.writeRoundtrip _),
    "q_arrow_stream_read"   -> (ArrowInterchange.streamRead _),
    // --- file skipping: per-file equality blooms + string zone maps -----
    "q_bloom_lookup"        -> (Layout.bloomLookup _),
    "q_string_prune"        -> (Layout.stringPrune _),
    // --- SQL-registered operator surface (GraftExtensions) --------------
    // the curation gates run through spark.sql over the REGISTERED
    // functions — proves the SQL-first path end-to-end in the oracle gate
    "q_sql_quality_gate"    -> { (s, d) =>
      graft.sources.Tables.documents(s, d)
        .createOrReplaceTempView("graft_documents")
      s.sql(
        """SELECT doc_id,
          |       graft_quality(text).quality         AS quality,
          |       graft_token_stats(text).n_bpe_tokens AS n_bpe_tokens,
          |       graft_lang_id(text).pred_lang       AS pred_lang
          |FROM graft_documents
          |WHERE graft_quality(text).quality >= 0.8
          |ORDER BY doc_id""".stripMargin)
    },
  )

  // ---- DuckDB oracle SQL builders for the generated parts ----
  // Shared CTE: whitespace tokens and distinct word-3-gram shingles,
  // mirroring graft.functions.{tokens, wordNgrams} exactly.
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, len(t) AS n_toks,
      |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
      |             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
      |  FROM toks),
      |shf AS (SELECT * FROM sh WHERE len(s) > 0)""".stripMargin

  private def decontamOracle: String =
    s"""WITH $toksCte,
       |ex AS (SELECT doc_id, unnest(s) AS e FROM shf),
       |ev AS (SELECT DISTINCT e FROM ex
       |       WHERE doc_id % ${Dedup.EvalStride} = 0)
       |SELECT c.doc_id, count(*) AS n_shared,
       |       count(*) >= ${Dedup.MinContamOverlap} AS contaminated
       |FROM ex c JOIN ev ON c.e = ev.e
       |WHERE c.doc_id % ${Dedup.EvalStride} <> 0
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  private val jaccardExpr =
    "round(len(list_intersect(%s, %s)) * 1.0 / len(list_distinct(%s || %s)), 4)"

  private def hexToLongSql(expr: String): String =
    s"""list_reduce(list_transform(range(1, 9),
       |             i -> strpos('0123456789abcdef', substr($expr, i, 1)) - 1),
       |           (a, b) -> a * 16 + b)""".stripMargin

  /** CTE chain ending in `j(doc_a, doc_b, jaccard)` — reused by the
    * minhash query and the curation pipeline oracle. */
  private def minhashCtes: String = minhashCtesWith("x.doc_id < y.doc_id")

  /** Same chain with a custom candidate-pair join condition — the
    * cross-corpus join oracle swaps the self-join ordering predicate
    * for a side-assignment predicate. */
  private def minhashCtesWith(candCond: String): String = {
    val sigCols = (0 until Dedup.NumHashes)
      .map(j => s"min((h1 + $j * h2) & 4294967295) AS h$j")
      .mkString(",\n         ")
    val bandSelects = (0 until Dedup.NumBands).map { b =>
      val hs = (0 until Dedup.NumHashes / Dedup.NumBands)
        .map(r => s"CAST(h${Dedup.NumHashes / Dedup.NumBands * b + r} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS b, md5(concat_ws('_', $hs)) AS k FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$toksCte,
       |ex0 AS (SELECT doc_id, md5('mh:' || unnest(s)) AS md FROM shf),
       |ex AS (SELECT doc_id,
       |         ${hexToLongSql("substr(md, 1, 8)")} AS h1,
       |         ${hexToLongSql("substr(md, 9, 8)")} AS h2
       |       FROM ex0),
       |sig AS (SELECT doc_id,
       |         $sigCols
       |        FROM ex GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.k = y.k AND $candCond),
       |j AS (
       |  SELECT c.doc_a, c.doc_b,
       |         ${jaccardExpr.format("a.s", "b.s", "a.s", "b.s")} AS jaccard
       |  FROM cand c
       |  JOIN shf a ON a.doc_id = c.doc_a
       |  JOIN shf b ON b.doc_id = c.doc_b)""".stripMargin
  }

  private def minhashOracle: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components of the minhash near-dup graph via a recursive
    * transitive-closure CTE; cluster label = min reachable doc_id. */
  private def clustersOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |p AS (SELECT doc_a, doc_b FROM j
       |      WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
       |SELECT a AS doc_id, least(a, min(b)) AS cluster
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** Exact cosine top-k restated relationally — the oracle for BOTH
    * `sim_brute_topk` (by definition) and `sim_hnsw_topk` (by the
    * recall-1.0-at-verification-scale gate). */
  private def bruteTopKOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nrm AS (
       |  SELECT vec_id,
       |         list_transform(v, a ->
       |           a / sqrt(list_sum(list_transform(v, b -> b * b)))) AS nv
       |  FROM e),
       |q AS (SELECT vec_id AS q_id, nv AS qnv FROM nrm
       |      WHERE vec_id % ${Similarity.QueryStride} = 0),
       |s AS (
       |  SELECT q.q_id, e.vec_id AS n_id,
       |         round(list_sum(list_transform(range(1, 65),
       |               i -> q.qnv[i] * e.nv[i])), 4) AS sim
       |  FROM nrm e, q WHERE e.vec_id <> q.q_id),
       |r AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY sim DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM r
       |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin

  private def simhashOracle: String = {
    def hexToLong(expr: String) =
      s"""list_reduce(list_transform(range(1, 9),
         |             i -> strpos('0123456789abcdef', substr($expr, i, 1)) - 1),
         |           (a, b) -> a * 16 + b)""".stripMargin
    val sumCols =
      ((0 until 32).map(b =>
        s"sum(CASE WHEN ((hhi >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS a$b") ++
       (0 until 32).map(b =>
        s"sum(CASE WHEN ((hlo >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS c$b"))
        .mkString(",\n         ")
    def word(p: String) = (0 until 32)
      .map(b => s"(CASE WHEN $p$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH $toksCte,
       |tk AS (SELECT doc_id, md5('991:' || tok) AS md FROM
       |        (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |hv AS (
       |  SELECT doc_id,
       |         ${hexToLong("substr(md, 1, 8)")} AS hhi,
       |         ${hexToLong("substr(md, 9, 8)")} AS hlo
       |  FROM tk),
       |sums AS (SELECT doc_id,
       |         $sumCols
       |        FROM hv GROUP BY doc_id),
       |sim AS (SELECT doc_id, ${word("a")} AS shi, ${word("c")} AS slo FROM sums),
       |bands AS (
       |  SELECT doc_id, shi, slo, 0 AS b, shi >> 16 AS k FROM sim
       |  UNION ALL SELECT doc_id, shi, slo, 1, shi & 65535 FROM sim
       |  UNION ALL SELECT doc_id, shi, slo, 2, slo >> 16 FROM sim
       |  UNION ALL SELECT doc_id, shi, slo, 3, slo & 65535 FROM sim),
       |p AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         CAST(bit_count(xor(x.shi, y.shi))
       |              + bit_count(xor(x.slo, y.slo)) AS INT) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p
       |WHERE hamming <= ${Dedup.SimhashMaxHamming}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val cosExpr =
    """list_sum(list_transform(range(1, 65), i -> %1$s[i] * %2$s[i]))
      | / (sqrt(list_sum(list_transform(%1$s, a -> a * a)))
      |    * sqrt(list_sum(list_transform(%2$s, a -> a * a))))""".stripMargin

  /** CTE chain replaying [[Similarity.kmeans]] exactly: init c0 = the K
    * lowest-id vectors; per round, argmin assignment on d² rounded to 6
    * (ties → lowest cid) then per-dim means rounded to 6 (empty cluster
    * keeps its centroid); one trailing assignment. Rounding both the
    * ranking key and the centroids makes the different summation orders
    * of the two engines invisible. Yields CTEs e, c0..cT, a_final. */
  private def kmeansCtes: String = {
    val k = Similarity.KmeansK
    def d2(c: String) =
      s"round(list_sum(list_transform(range(1, 65), i -> (e.v[i] - $c.cv[i]) * (e.v[i] - $c.cv[i]))), 6)"
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${d2("c")}, c.cid) AS rn
         |  FROM e, $cents c) WHERE rn = 1)""".stripMargin
    val iters = (0 until Similarity.KmeansIters).map { t =>
      s"""${assign(s"a$t", s"c$t")},
         |m$t AS (
         |  SELECT a.cid, r.i, round(avg(e.v[r.i]), 6) AS m
         |  FROM a$t a JOIN e USING (vec_id), range(1, 65) r(i)
         |  GROUP BY a.cid, r.i),
         |c${t + 1} AS (
         |  SELECT p.cid, coalesce(mm.cv, p.cv) AS cv FROM c$t p
         |  LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv
         |             FROM m$t GROUP BY cid) mm USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
       |         v AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),
       |$iters,
       |${assign("a_final", s"c${Similarity.KmeansIters}")}""".stripMargin
  }

  /** CTE chain replaying [[QualityClassifier]] training exactly.
    * Features and labels are integers, so every training sum is exact
    * and summation-order-independent (cast back to BIGINT — DuckDB
    * sums BIGINT into HUGEINT, which pandas would render as float);
    * the Elliott link 0.5 + z/(2(1+|z|)) uses only exactly-rounded
    * IEEE ops so both engines produce the same double; weight steps
    * use DuckDB's truncating `//` (== Scala Long division). Every CTE
    * is MATERIALIZED: the weight chain w0→wT references each step
    * twice, so DuckDB's default inlining goes exponential in the
    * iteration count. Yields CTEs y (labels), f (features), w0..wT
    * and pf (final scores). */
  private def classifierCtes: String = {
    import QualityClassifier._
    val stopList =
      TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val hex6 =
      """list_reduce(list_transform(range(1, 7),
        |    i -> strpos('0123456789abcdef',
        |                substr(md5('qc:' || tok), i, 1)) - 1),
        |  (a, b) -> a * 16 + b)""".stripMargin
    def p6(z: String) =
      s"CAST(floor((0.5 + (($z/1e6) / (2*(1+abs($z/1e6))))) * 1e6) AS BIGINT)"
    val nLr = s"((SELECT n FROM nn) * $LrInv)"
    val iters = (0 until Iters).map { t =>
      s"""z$t AS MATERIALIZED (
         |  SELECT f.doc_id, CAST(sum(w.wu) AS BIGINT) AS zmu
         |  FROM f JOIN w$t w USING (bucket) GROUP BY 1),
         |p$t AS MATERIALIZED (SELECT doc_id, ${p6("zmu")} AS p6 FROM z$t),
         |g$t AS MATERIALIZED (
         |  SELECT f.bucket, CAST(sum(p.p6 - y.y6) AS BIGINT) AS g
         |  FROM f JOIN p$t p USING (doc_id) JOIN y USING (doc_id)
         |  GROUP BY 1),
         |w${t + 1} AS MATERIALIZED (
         |  SELECT w.bucket,
         |         CAST(w.wu - (coalesce(g.g, 0) // $nLr) AS BIGINT) AS wu
         |  FROM w$t w LEFT JOIN g$t g USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""$toksCte,
       |st AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
       |         CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0)
       |              AS BIGINT) AS chars,
       |         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
       |              AS BIGINT) AS alpha,
       |         CAST(len(list_intersect(list_distinct(t), $stopList))
       |              AS BIGINT) AS ns
       |  FROM toks),
       |y AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN coalesce(
       |      (n BETWEEN ${Corpus.MinWords} AND ${Corpus.MaxWords})
       |      AND (round(chars * 1.0 / n, 4)
       |             BETWEEN ${Corpus.MinMeanWordLen}
       |                 AND ${Corpus.MaxMeanWordLen})
       |      AND round(alpha * 1.0 / n, 4) >= ${Corpus.MinAlphaFrac}
       |      AND ns >= ${Corpus.MinDistinctStopwords}, FALSE)
       |    THEN $LabelMicro ELSE 0 END AS y6
       |  FROM st),
       |f AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, CAST($hex6 % $NumBuckets AS INT) AS bucket
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
       |  UNION ALL SELECT doc_id, $BiasBucket FROM documents
       |  UNION ALL SELECT doc_id, CAST($WordsBase + least(n // 8, 31) AS INT)
       |            FROM st WHERE n > 0
       |  UNION ALL SELECT doc_id,
       |            CAST($AlphaBase + least((alpha * 20) // n, 20) AS INT)
       |            FROM st WHERE n > 0
       |  UNION ALL SELECT doc_id,
       |            CAST($MeanLenBase + least(chars // n, 15) AS INT)
       |            FROM st WHERE n > 0
       |  UNION ALL SELECT doc_id, CAST($StopBase + least(ns, 7) AS INT)
       |            FROM st WHERE n > 0),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |w0 AS MATERIALIZED (SELECT CAST(r.i AS INT) AS bucket, CAST(0 AS BIGINT) AS wu
       |       FROM range(0, $NumFeatures) r(i)),
       |$iters,
       |zf AS MATERIALIZED (
       |  SELECT f.doc_id, CAST(sum(w.wu) AS BIGINT) AS zmu
       |  FROM f JOIN w$Iters w USING (bucket)
       |  GROUP BY 1),
       |pf AS MATERIALIZED (SELECT doc_id, ${p6("zmu")} AS p6 FROM zf)""".stripMargin
  }

  /** CTE chain replaying [[Similarity.pqTopK]] exactly: normalized
    * corpus → (m, subvector) rows → Lloyd codebooks (round-6 distances
    * and centroids, lowest-id init — the [[kmeansCtes]] mechanics on a
    * (vec_id, m) key) → codes → integer-micro ADC (floor(d²·10⁶),
    * BIGINT sums are order-independent) → top-PqRerank candidates →
    * exact cosine re-rank. All chained CTEs MATERIALIZED (the codebook
    * chain references each step twice — default inlining is
    * exponential in PqIters). */
  /** IVF oracle; `centPred` restricts CENTROID derivation to a vec_id
    * subset — the landed split of the `sim_ivf_lifecycle` oracle;
    * probing and scoring always run over the full corpus. The default
    * averages everything (= `sim_ivf_topk`). */
  private def ivfOracle(centPred: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id % ${Similarity.QueryStride} = 0),
       |cent AS (
       |  SELECT label, i, avg(v[i]) AS m
       |  FROM e, range(1, 65) r(i) WHERE $centPred GROUP BY label, i),
       |qc AS (
       |  SELECT q.q_id, c.label,
       |         sum((q.qv[c.i] - c.m) * (q.qv[c.i] - c.m)) AS d2
       |  FROM q, cent c GROUP BY 1, 2),
       |probes AS (
       |  SELECT q_id, label FROM (
       |    SELECT q_id, label,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY round(d2, 6), label) AS pr
       |    FROM qc) WHERE pr <= ${Similarity.NProbe}),
       |s AS (
       |  SELECT q.q_id, e.vec_id AS n_id,
       |         round(${cosExpr.format("q.qv", "e.v")}, 4) AS sim
       |  FROM probes p
       |  JOIN q ON q.q_id = p.q_id
       |  JOIN e ON e.label = p.label AND e.vec_id <> q.q_id),
       |r AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY sim DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM r
       |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin

  /** `trainPred` restricts CODEBOOK TRAINING (init + Lloyd rounds) to
    * a vec_id subset — the landed split of the `sim_pq_lifecycle`
    * oracle; code assignment, ADC and the re-rank always run over the
    * full corpus. The default trains on everything (= `sim_pq_topk`). */
  private def pqCtes(trainPred: String = "TRUE"): String = {
    import Similarity.{PqM, PqSubDim, PqK, PqIters, PqRerank}
    def d2sub(sv: String, cv: String) =
      s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |    i -> ($sv[i] - $cv[i]) * ($sv[i] - $cv[i])))""".stripMargin
    def assign(name: String, cents: String, src: String = "sub") =
      s"""$name AS MATERIALIZED (SELECT vec_id, m, cid FROM (
         |  SELECT s.vec_id, s.m, c.cid,
         |         row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY round(${d2sub("s.sv", "c.cv")}, 6), c.cid)
         |           AS rn
         |  FROM $src s JOIN $cents c ON s.m = c.m) WHERE rn = 1)""".stripMargin
    val iters = (0 until PqIters).map { t =>
      s"""${assign(s"pa$t", s"pc$t", "subt")},
         |pm$t AS MATERIALIZED (
         |  SELECT a.m, a.cid, r.i, round(avg(s.sv[r.i]), 6) AS mu
         |  FROM pa$t a JOIN subt s USING (vec_id, m),
         |       range(1, ${PqSubDim + 1}) r(i)
         |  GROUP BY a.m, a.cid, r.i),
         |pc${t + 1} AS MATERIALIZED (
         |  SELECT p.m, p.cid, coalesce(mm.cv, p.cv) AS cv FROM pc$t p
         |  LEFT JOIN (SELECT m, cid, list(mu ORDER BY i) AS cv
         |             FROM pm$t GROUP BY m, cid) mm USING (m, cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(v, a ->
       |           a / sqrt(list_sum(list_transform(v, b -> b * b)))) AS nv
       |  FROM e),
       |sub AS MATERIALIZED (
       |  SELECT vec_id, CAST(r.m AS INT) AS m,
       |         list_slice(nv, r.m * $PqSubDim + 1,
       |                    r.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM nrm, range(0, $PqM) r(m)),
       |subt AS (SELECT * FROM sub WHERE $trainPred),
       |pinit AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |           AS cid
       |  FROM (SELECT vec_id FROM nrm WHERE $trainPred
       |        ORDER BY vec_id LIMIT $PqK)),
       |pc0 AS MATERIALIZED (
       |  SELECT s.m, i.cid, s.sv AS cv
       |  FROM subt s JOIN pinit i USING (vec_id)),
       |$iters,
       |${assign("codes", s"pc$PqIters")},
       |q AS MATERIALIZED (SELECT vec_id AS q_id, nv AS qnv FROM nrm
       |     WHERE vec_id % ${Similarity.QueryStride} = 0),
       |qsub AS (
       |  SELECT q_id, CAST(r.m AS INT) AS m,
       |         list_slice(qnv, r.m * $PqSubDim + 1,
       |                    r.m * $PqSubDim + $PqSubDim) AS qsv
       |  FROM q, range(0, $PqM) r(m)),
       |tq AS MATERIALIZED (
       |  SELECT qs.q_id, c.m, c.cid,
       |         CAST(floor(${d2sub("qs.qsv", "c.cv")} * 1e6) AS BIGINT) AS d
       |  FROM qsub qs JOIN pc$PqIters c ON qs.m = c.m),
       |adc AS MATERIALIZED (
       |  SELECT t.q_id, co.vec_id AS n_id, CAST(sum(t.d) AS BIGINT) AS adc
       |  FROM codes co JOIN tq t ON t.m = co.m AND t.cid = co.cid
       |  WHERE co.vec_id <> t.q_id
       |  GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY adc, n_id) AS pr
       |    FROM adc) WHERE pr <= $PqRerank),
       |rr AS (
       |  SELECT c.q_id, c.n_id,
       |         round(list_sum(list_transform(range(1, ${Similarity.Dims + 1}),
       |               i -> q.qnv[i] * n.nv[i])), 4) AS sim
       |  FROM cand c JOIN q ON q.q_id = c.q_id
       |  JOIN nrm n ON n.vec_id = c.n_id)""".stripMargin
  }

  /** Shared winnowed-fingerprint CTEs ending in `exc(doc_id, fp)` —
    * selection replayed relationally (per-window minima over ordered
    * 3-gram hashes, hyper-frequent fingerprints dropped), used by the
    * within-corpus pair query and the cross-corpus join. */
  private def winnowCtes: String =
    s"""toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         list_transform(range(1, greatest(len(t) - 1, 1)),
       |             i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS gr
       |  FROM toks),
       |hs AS (
       |  SELECT doc_id,
       |         list_transform(gr, s -> substr(md5('fp:' || s), 1, 8)) AS h
       |  FROM g WHERE len(gr) > 0),
       |sel AS (
       |  SELECT doc_id,
       |         CASE WHEN len(h) < ${Dedup.FpWindow} THEN [list_min(h)]
       |              ELSE list_distinct(list_transform(
       |                     range(1, len(h) - ${Dedup.FpWindow - 2}),
       |                     i -> list_min(list_slice(h, i,
       |                            i + ${Dedup.FpWindow - 1})))) END AS sel
       |  FROM hs),
       |ex AS (SELECT doc_id, unnest(sel) AS fp FROM sel),
       |hot AS (SELECT fp FROM ex GROUP BY fp
       |        HAVING count(*) > ${Dedup.ShingleFreqCap}),
       |exc AS MATERIALIZED (
       |  SELECT * FROM ex WHERE fp NOT IN (SELECT fp FROM hot))""".stripMargin

  /** [[winnowCtes]] + the candidate pairs and diagonal-islands exact
    * common runs replaying [[Dedup.exactSubstringSpans]]: `pos` is the
    * 1-based token stream, `runsf` the thresholded maximal runs. */
  private def substringCtes: String =
    s"""$winnowCtes,
       |p AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
       |  FROM exc x JOIN exc y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |pf AS (SELECT doc_a, doc_b FROM p
       |       WHERE n_shared >= ${Dedup.MinSharedFp}),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok
       |  FROM toks),
       |m AS (
       |  SELECT pf.doc_a, pf.doc_b, ia.i AS ia, ib.i AS ib
       |  FROM pf
       |  JOIN pos ia ON ia.doc_id = pf.doc_a
       |  JOIN pos ib ON ib.doc_id = pf.doc_b AND ib.tok = ia.tok),
       |d AS (
       |  SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
       |         ia - row_number() OVER (
       |           PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS grp
       |  FROM m),
       |runs AS (
       |  SELECT doc_a, doc_b,
       |         CAST(min(ia) AS INT) AS start_a,
       |         CAST(min(ib) AS INT) AS start_b,
       |         CAST(count(*) AS INT) AS run_len
       |  FROM d GROUP BY doc_a, doc_b, diag, grp),
       |runsf AS MATERIALIZED (
       |  SELECT * FROM runs WHERE run_len >= ${Dedup.MinRunTokens})""".stripMargin

  /** CTE chain replaying [[Bpe.merges]] exactly: frequency-weighted
    * word vocabulary → character symbols → per round, exact BIGINT
    * pair counts, winner = (max count, lexicographically smallest
    * pair), greedy non-overlapping application via the window-parity
    * trick (runs of consecutive matches keep odd ranks — for
    * lhs ≠ rhs matches can never be adjacent, so this IS the
    * left-to-right greedy scan). State CTEs MATERIALIZED — each is
    * referenced by both the pair count and the rewrite of its round. */
  private def bpeCtes: String = {
    def iter(t: Int): String =
      s"""pc$t AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |         CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
         |        FROM s$t)
         |  GROUP BY 1, 2),
         |mg$t AS MATERIALIZED (
         |  SELECT a, b FROM pc$t ORDER BY c DESC, a, b LIMIT 1),
         |ps$t AS MATERIALIZED (
         |  SELECT w, cnt, CAST(i AS INT) AS i, syms[i] AS sym,
         |         i < len(syms)
         |           AND syms[i] = (SELECT a FROM mg$t)
         |           AND syms[i + 1] = (SELECT b FROM mg$t) AS m
         |  FROM (SELECT w, cnt, syms,
         |               unnest(range(1, len(syms) + 1)) AS i
         |        FROM s$t)),
         |sel$t AS (
         |  SELECT w, i, TRUE AS sel FROM (
         |    SELECT w, i,
         |           row_number() OVER (PARTITION BY w, grp ORDER BY i) AS rk
         |    FROM (SELECT w, i,
         |                 i - row_number() OVER (PARTITION BY w ORDER BY i)
         |                   AS grp
         |          FROM ps$t WHERE m))
         |  WHERE rk % 2 = 1),
         |fl$t AS (
         |  SELECT p.w, p.cnt, p.i, p.sym, coalesce(s.sel, FALSE) AS sel
         |  FROM ps$t p LEFT JOIN sel$t s ON p.w = s.w AND p.i = s.i),
         |em$t AS (
         |  SELECT w, cnt, i,
         |         CASE WHEN sel THEN sym || lead(sym) OVER win
         |              ELSE sym END AS osym,
         |         coalesce(lag(sel) OVER win, FALSE) AS consumed
         |  FROM fl$t WINDOW win AS (PARTITION BY w ORDER BY i)),
         |s${t + 1} AS MATERIALIZED (
         |  SELECT w, any_value(cnt) AS cnt, list(osym ORDER BY i) AS syms
         |  FROM em$t WHERE NOT consumed GROUP BY w)""".stripMargin
    s"""toks AS (
       |  SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0)
       |    AS t
       |  FROM documents),
       |w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, cnt,
       |         list_transform(range(1, len(w) + 1),
       |                        i -> substr(w, i, 1)) AS syms
       |  FROM w0),
       |${(0 until Bpe.Merges).map(iter).mkString(",\n")}""".stripMargin
  }

  /** B6-B16 wire-aggregate oracle, shared by q_bid_hourly_agg and
    * the socket-level q_kafka_hourly_agg (lossless transport). */
  private val bidHourlyAggOracle: String =
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_us(ts) AS us, epoch_ms(ts) AS ms
        |  FROM events),
        |norm AS (
        |  SELECT CAST(event_id AS VARCHAR) AS bidreq_id,
        |         coalesce(
        |           nullif(CASE WHEN user_id % 4 = 0 THEN ''
        |                       ELSE 'u' || CAST(user_id AS VARCHAR) END, ''),
        |           'site_' || CAST(user_id % 20 AS VARCHAR)) AS device_id,
        |         event_type AS pub_id,
        |         us // 1000000 AS event_time,
        |         CAST(CASE WHEN value >= 50 THEN floor(value) + 1
        |                   ELSE floor(value) + 2 END AS INT) AS width,
        |         CAST(CASE WHEN value >= 50 THEN (user_id % 5 + 1) * 100
        |                   ELSE (user_id % 5 + 1) * 100 + 1 END AS INT) AS height,
        |         unnest(CASE
        |           WHEN event_id % 3 = 0 THEN [NULL]
        |           WHEN event_id % 3 = 1
        |             THEN ['deal_' || CAST(event_id AS VARCHAR) || '_0']
        |           ELSE ['deal_' || CAST(event_id AS VARCHAR) || '_0',
        |                 'deal_' || CAST(event_id AS VARCHAR) || '_1'] END) AS deal
        |  FROM e),
        |agg AS (
        |  SELECT CAST(date_trunc('day', epoch_ms(event_time * 1000)) AS DATE) AS date,
        |         CAST(datepart('hour', epoch_ms(event_time * 1000)) AS INT) AS hour,
        |         pub_id, device_id,
        |         concat(CAST(width AS VARCHAR), 'x', CAST(height AS VARCHAR))
        |           AS resolution,
        |         deal,
        |         count(DISTINCT bidreq_id) AS requests
        |  FROM norm GROUP BY ALL)
        |SELECT * FROM agg
        |ORDER BY date, hour, pub_id, device_id, resolution, deal NULLS FIRST"""
        .stripMargin

  def oracleSql: Map[String, String] =
    baseOracleSql + ("sim_recall_matrix" -> recallMatrixOracle(baseOracleSql))

  /** `sim_recall_matrix`'s oracle, composed from the family oracles it
    * audits: each family's full top-k statement (already proven
    * hash-exact on its own row) embeds as a subquery, recall@K is the
    * overlap with the brute-force top-k. Turns every "recall provably
    * ≤ ..." comment into a measured, regression-guarded number. */
  /** The documents' synthesized raster dimensions, as SQL. */
  private val phashDims: String =
    """d AS (
      |  SELECT doc_id,
      |         CAST(4 * (1 + doc_id % 8) AS BIGINT) AS w,
      |         CAST(2 + (doc_id * 5) % 14 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 17 <> 0)""".stripMargin

  /** Decoded pixel index of grid cell `b` on an n×n sample grid:
    * decoded row → written ramp row — straight for PNG (even ids),
    * vertically flipped for BMP (odd ids — BMP stores bottom-up). */
  private def phashPx(n: Int): String =
    s"((CASE WHEN doc_id % 2 = 0 THEN (b // $n) * h // $n " +
      s"ELSE h - 1 - ((b // $n) * h // $n) END) * w + ((b % $n) * w // $n))"

  /** aHash CTEs: 8×8 gray grid, bit = strictly brighter than the grid
    * mean (integer cross-multiplied). Defines `hsh(doc_id, phi, plo)`. */
  private def ahashCtes: String = {
    val px = phashPx(PerceptualHash.GridDim)
    s"""$phashDims,
       |g AS (
       |  SELECT doc_id,
       |         list_transform(range(0, 64), b ->
       |             (doc_id + 3 * $px) % 256
       |           + (doc_id + 3 * $px + 1) % 256
       |           + (doc_id + 3 * $px + 2) % 256) AS gs
       |  FROM d),
       |gt AS (SELECT doc_id, gs, list_sum(gs) AS tot FROM g),
       |hsh AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(0, 32), b ->
       |           CASE WHEN 64 * gs[b + 1] > tot
       |                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS phi,
       |         CAST(list_sum(list_transform(range(32, 64), b ->
       |           CASE WHEN 64 * gs[b + 1] > tot
       |                THEN (1::BIGINT << (b - 32)) ELSE 0 END)) AS BIGINT) AS plo
       |  FROM gt)""".stripMargin
  }

  /** DCT-hash CTEs: 32×32 gray grid → separable integer DCT (the
    * basis literals are generated from [[PerceptualHash.DctTable]] —
    * one source of truth) → 8×8 low band, bit = coefficient strictly
    * above the median of the 63 non-DC coefficients (the 32nd order
    * statistic; DC bit 0 always clear). Defines `hsh`. */
  private def dctCtes: String = {
    val n = PerceptualHash.DctGrid
    val px = phashPx(n)
    val q = PerceptualHash.DctTable.flatten.mkString(", ")
    s"""$phashDims,
       |qt AS (SELECT [$q] AS q),
       |g AS (
       |  SELECT doc_id,
       |         list_transform(range(0, ${n * n}), b ->
       |             (doc_id + 3 * $px) % 256
       |           + (doc_id + 3 * $px + 1) % 256
       |           + (doc_id + 3 * $px + 2) % 256) AS gs
       |  FROM d),
       |tr AS (
       |  SELECT doc_id,
       |         list_transform(range(0, ${8 * n}), j ->
       |           list_sum(list_transform(range(0, $n), y ->
       |             q[(j // $n) * $n + y + 1]
       |               * gs[y * $n + (j % $n) + 1]))) AS tt
       |  FROM g, qt),
       |cf AS (
       |  SELECT doc_id,
       |         list_transform(range(0, 64), k ->
       |           CAST(list_sum(list_transform(range(0, $n), x ->
       |             q[(k % 8) * $n + x + 1]
       |               * tt[(k // 8) * $n + x + 1])) AS BIGINT)) AS co
       |  FROM tr, qt),
       |cm AS (SELECT doc_id, co, list_sort(co[2:64])[32] AS med FROM cf),
       |hsh AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(1, 32), b ->
       |           CASE WHEN co[b + 1] > med
       |                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS phi,
       |         CAST(list_sum(list_transform(range(32, 64), b ->
       |           CASE WHEN co[b + 1] > med
       |                THEN (1::BIGINT << (b - 32)) ELSE 0 END)) AS BIGINT) AS plo
       |  FROM cm)""".stripMargin
  }

  /** The dedup_phash pair statement — shared by the pair row and
    * the connected-components row. */
  private def phashPairsOracle: String = phashPairSql(ahashCtes)

  /** dedup_phash_dct: the DCT hash through the same pair machinery. */
  private def phashDctOracle: String = phashPairSql(dctCtes)

  /** Shared pair machinery over whatever `hashCtes` defines as
    * `hsh(doc_id, phi, plo)`: identical-hash groups (within-pairs
    * capped clique/star), representatives band-joined on the four
    * 16-bit bands, hamming ≤ MaxHamming, member expansion capped by
    * the hot-group star discipline on BOTH sides. */
  private def phashPairSql(hashCtes: String): String = {
    val cap = Dedup.HotGroupCap
      s"""WITH $hashCtes,
         |grp AS (SELECT phi, plo, min(doc_id) AS mn, count(*) AS n
         |        FROM hsh GROUP BY 1, 2),
         |mem AS (SELECT h.doc_id, h.phi, h.plo, grp.mn, grp.n
         |        FROM hsh h JOIN grp USING (phi, plo)),
         |within AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, 0 AS hamming
         |  FROM mem x JOIN mem y
         |    ON x.phi = y.phi AND x.plo = y.plo AND x.doc_id < y.doc_id
         |  WHERE x.n <= $cap OR x.doc_id = x.mn),
         |bands AS (
         |  SELECT mn AS rep, phi, plo, 0 AS b, phi >> 16 AS k FROM grp
         |  UNION ALL SELECT mn, phi, plo, 1, phi & 65535 FROM grp
         |  UNION ALL SELECT mn, phi, plo, 2, plo >> 16 FROM grp
         |  UNION ALL SELECT mn, phi, plo, 3, plo & 65535 FROM grp),
         |bb AS (
         |  SELECT rep, b, k,
         |         count(*) OVER (PARTITION BY b, k) AS bn,
         |         min(rep) OVER (PARTITION BY b, k) AS bmn
         |  FROM bands),
         |cand AS (
         |  SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b
         |  FROM bb x JOIN bb y ON x.b = y.b AND x.k = y.k AND x.rep < y.rep
         |  WHERE x.bn <= $cap OR x.rep = x.bmn),
         |rp AS (
         |  SELECT * FROM (
         |    SELECT a.phi AS pa_hi, a.plo AS pa_lo,
         |           b2.phi AS pb_hi, b2.plo AS pb_lo,
         |           CAST(bit_count(xor(a.phi, b2.phi))
         |                + bit_count(xor(a.plo, b2.plo)) AS INT) AS hamming
         |    FROM cand JOIN grp a ON a.mn = cand.rep_a
         |              JOIN grp b2 ON b2.mn = cand.rep_b)
         |  WHERE hamming <= ${PerceptualHash.MaxHamming}),
         |crossg AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b, hamming
         |  FROM rp JOIN mem ma ON ma.phi = rp.pa_hi AND ma.plo = rp.pa_lo
         |          JOIN mem mb ON mb.phi = rp.pb_hi AND mb.plo = rp.pb_lo
         |  WHERE (ma.n <= $cap OR ma.doc_id = ma.mn)
         |    AND (mb.n <= $cap OR mb.doc_id = mb.mn))
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT * FROM within UNION ALL SELECT * FROM crossg)
         |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The routed-HNSW oracle: probe the `NProbe` nearest cells by the
    * centroid table (round-6 d², ties by label), score every member of
    * the probed cells exactly (round-4 normalized dot), top-K per
    * query. `centFilter` restricts the rows the centroids average over
    * — `TRUE` for the build-over-everything row, the landed split for
    * the lifecycle row (frozen centroids; candidates stay the full
    * corpus, each in its own labeled cell). */
  private def hnswRoutedOracle(centFilter: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nrm AS (
       |  SELECT vec_id,
       |         list_transform(v, a ->
       |           a / sqrt(list_sum(list_transform(v, b -> b * b)))) AS nv
       |  FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id % ${Similarity.QueryStride} = 0),
       |qn AS (SELECT vec_id AS q_id, nv AS qnv FROM nrm
       |       WHERE vec_id % ${Similarity.QueryStride} = 0),
       |cent AS (
       |  SELECT label, i, avg(v[i]) AS m
       |  FROM e, range(1, 65) r(i) WHERE $centFilter GROUP BY label, i),
       |qc AS (
       |  SELECT q.q_id, c.label,
       |         sum((q.qv[c.i] - c.m) * (q.qv[c.i] - c.m)) AS d2
       |  FROM q, cent c GROUP BY 1, 2),
       |probes AS (
       |  SELECT q_id, label FROM (
       |    SELECT q_id, label,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY round(d2, 6), label) AS pr
       |    FROM qc) WHERE pr <= ${Similarity.NProbe}),
       |s AS (
       |  SELECT qn.q_id, e.vec_id AS n_id,
       |         round(list_sum(list_transform(range(1, 65),
       |               i -> qn.qnv[i] * n.nv[i])), 4) AS sim
       |  FROM probes p
       |  JOIN qn ON qn.q_id = p.q_id
       |  JOIN e ON e.label = p.label AND e.vec_id <> qn.q_id
       |  JOIN nrm n ON n.vec_id = e.vec_id),
       |r AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY sim DESC, n_id) AS rank
       |  FROM s)
       |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM r
       |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin

  /** The SRP signature CTEs shared by `sim_lsh_topk` and
    * `q_stream_semantic`: deterministic hyperplanes (md5-derived
    * dyadic doubles — bit-identical across engines), normalized
    * vectors, and each vector's 8-bit sign bucket. Defines
    * `nrm(vec_id, v, nv)` and `sigs(vec_id, bucket)`. */
  private def srpSigCtes: String =
    s"""pl AS (
       |  SELECT p, list_transform(range(1, 65), d ->
       |    (${hexToLongSql("substr(md5('rp:' || p || ':' || d), 1, 8)")}
       |     / 4294967296.0) * 2 - 1) AS ul
       |  FROM range(0, ${Similarity.LshPlanes}) t(p)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nrm AS (SELECT vec_id, v,
       |        list_transform(v, a ->
       |          a / sqrt(list_sum(list_transform(v, b -> b * b)))) AS nv
       |        FROM e),
       |dots AS (
       |  SELECT n.vec_id, p.p,
       |         list_sum(list_transform(range(1, 65),
       |                  d -> n.v[d] * p.ul[d])) AS dp
       |  FROM nrm n, pl p),
       |sigs AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS INT)
       |           AS bucket
       |  FROM dots GROUP BY 1)""".stripMargin

  /** Frozen-centroid assign-only ingest, as SQL: centroids = per-label
    * means over the LANDED split, each crawl vector takes its argmin
    * cell (round-6 d², ties to the lowest label). Shared verbatim by
    * `sim_ivf_incremental` and `sim_hnsw_routed_incremental` — both
    * index kinds use the identical assignment discipline. */
  private val assignIncrementalOracle: String =
    s"""WITH e AS (SELECT vec_id, label,
       |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (
       |  SELECT label, i, avg(v[i]) AS m
       |  FROM e, range(1, ${Similarity.Dims + 1}) r(i)
       |  WHERE vec_id % 10 <> 3 GROUP BY label, i),
       |inc AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 3),
       |d AS (
       |  SELECT inc.vec_id, c.label,
       |         sum((inc.v[c.i] - c.m) * (inc.v[c.i] - c.m)) AS d2
       |  FROM inc, cent c GROUP BY 1, 2)
       |SELECT vec_id, label AS cell FROM (
       |  SELECT vec_id, label,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY round(d2, 6), label) AS rn
       |  FROM d) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  private def recallMatrixOracle(base: Map[String, String]): String = {
    val fams = Seq("lsh" -> "sim_lsh_topk", "ivf" -> "sim_ivf_topk",
      "pq" -> "sim_pq_topk", "ivfpq" -> "sim_ivfpq_topk",
      "hnsw" -> "sim_hnsw_topk", "hnsw_routed" -> "sim_hnsw_routed",
      "hnsw_routed_merged" -> "sim_hnsw_routed_lifecycle")
    val famSql = fams.map { case (f, k) =>
      s"SELECT '$f' AS family, q_id, n_id FROM (\n${base(k)})"
    }.mkString("\n  UNION ALL ")
    s"""WITH brute AS (SELECT q_id, n_id FROM (\n${base("sim_brute_topk")})),
       |tot AS (SELECT count(*) AS n_true,
       |               count(DISTINCT q_id) AS n_queries FROM brute),
       |fam AS (
       |  $famSql),
       |h AS (SELECT family, count(*) AS n_hits
       |      FROM fam JOIN brute USING (q_id, n_id) GROUP BY 1)
       |SELECT family, n_queries, n_hits,
       |       round(n_hits * 1.0 / n_true, 4) AS recall
       |FROM h, tot ORDER BY family""".stripMargin
  }

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q_partition_discovery" ->
      """SELECT CAST(datepart('year', ts) AS INT) AS year,
        |       CAST(datepart('month', ts) AS INT) AS month,
        |       CAST(datepart('day', ts) AS INT) AS day,
        |       CAST(datepart('hour', ts) AS INT) AS hour
        |FROM events GROUP BY ALL ORDER BY 1, 2, 3, 4""".stripMargin,
    "q_raw_export" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |       CAST(datepart('year', ts) AS INT) AS year,
        |       CAST(datepart('month', ts) AS INT) AS month,
        |       CAST(datepart('day', ts) AS INT) AS day,
        |       CAST(datepart('hour', ts) AS INT) AS hour
        |FROM events
        |WHERE datepart('year', ts) = 2024 AND datepart('month', ts) = 1
        |  AND datepart('day', ts) = 15
        |ORDER BY event_id""".stripMargin,
    "q_hourly_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |       CAST(datepart('hour', ts) AS INT) AS hour,
        |       event_type,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS users,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY ALL ORDER BY day, hour, event_type""".stripMargin,
    "q_epoch_roundtrip" ->
      """WITH t AS (
        |  SELECT event_id,
        |         CAST((epoch_us(ts) // 1000000) * 1000.0
        |              + ((epoch_us(ts) % 1000000) * 1000) / 1000000.0
        |              AS BIGINT) AS event_tm
        |  FROM events)
        |SELECT event_id, event_tm, epoch_ms(event_tm) AS event_ts,
        |       CAST(datepart('hour', epoch_ms(event_tm)) AS INT) AS event_hour
        |FROM t ORDER BY event_id""".stripMargin,
    "q_coalesce_nonempty" ->
      """SELECT doc_id,
        |       coalesce(nullif(CASE WHEN lang = 'en' THEN '' ELSE lang END, ''),
        |                nullif(source, ''), 'unknown') AS device_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_explode_outer" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> len(x) >= 8) AS arr
        |  FROM documents)
        |SELECT doc_id,
        |       unnest(CASE WHEN len(arr) = 0 THEN [NULL] ELSE arr END) AS deal
        |FROM t ORDER BY doc_id, deal NULLS FIRST""".stripMargin,
    "q_resolution_concat" ->
      """SELECT event_id,
        |       concat(CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR), 'x',
        |              CAST(len(event_type) AS VARCHAR)) AS resolution
        |FROM events ORDER BY event_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
        |            AS DOUBLE) AS sum_disc_price,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |                      * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2)
        |            AS DOUBLE) AS sum_charge,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_extendedprice), 6) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY ALL ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
        |            AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
        |            AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q_top_orders_window" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey,
        |       round(o_totalprice, 2) AS o_totalprice
        |FROM t WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "q_semi_anti_join" ->
      """WITH w AS (
        |  SELECT c_mktsegment, count(*) AS n_without
        |  FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY 1),
        |h AS (
        |  SELECT c_mktsegment, count(*) AS n_with
        |  FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY 1)
        |SELECT coalesce(w.c_mktsegment, h.c_mktsegment) AS c_mktsegment,
        |       coalesce(n_without, 0) AS n_without,
        |       coalesce(n_with, 0) AS n_with
        |FROM w FULL OUTER JOIN h ON w.c_mktsegment = h.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT o_orderpriority, o_orderstatus,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       count(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""
        .stripMargin,
    "q_window_functions" ->
      """WITH w AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         round(lag(o_totalprice) OVER win, 2) AS prev_price,
        |         round(lead(o_totalprice) OVER win, 2) AS next_price,
        |         CAST(ntile(4) OVER win AS INT) AS quartile,
        |         round(cume_dist() OVER win, 6) AS cdist,
        |         CAST(rank() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_orderstatus) AS INT) AS status_rank
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey))
        |SELECT * FROM w WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey"""
        .stripMargin,
    "q_cube_revenue" ->
      """WITH t AS (SELECT o_orderstatus,
        |                  CAST(year(o_orderdate) AS BIGINT) AS oy,
        |                  o_totalprice FROM orders)
        |SELECT o_orderstatus, oy,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       count(*) AS n_orders
        |FROM t GROUP BY CUBE (o_orderstatus, oy)
        |ORDER BY o_orderstatus NULLS FIRST, oy NULLS FIRST""".stripMargin,
    "q_listagg_roster" ->
      """SELECT c_mktsegment,
        |       string_agg(c_name, ',' ORDER BY c_name) AS names,
        |       count(*) AS n
        |FROM customer WHERE c_custkey % 50 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_nation_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT 'both' AS op, nk FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |UNION ALL
        |SELECT 'customer_only', nk FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |UNION ALL
        |SELECT 'supplier_only', nk FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
        |ORDER BY op, nk""".stripMargin,
    "q_pivot_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'error') AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // avg_price in exact integer cents with integer half-up rounding —
    // see Relational.partsByBrand: a brand mean can land exactly on a
    // round-4 tie, where round(avg(double), 4)'s last digit depends on
    // float summation order
    "q_parts_by_brand" ->
      """SELECT p_brand, count(*) AS n_parts,
        |       CAST((200 * sum(CAST(round(p_retailprice * 100, 0) AS BIGINT))
        |             + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
        |         AS avg_price,
        |       min(p_size) AS min_size, max(p_size) AS max_size,
        |       count(DISTINCT p_type) AS n_types
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "q_string_functions" ->
      """SELECT c_custkey, upper(c_name) AS upper_name,
        |       lower(c_mktsegment) AS lower_seg,
        |       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
        |       substr(c_name, 1, 8) AS name_prefix,
        |       translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
        |       CAST(strpos(c_name, '#') AS INT) AS hash_pos,
        |       CAST(len(c_name) AS INT) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_date_functions" ->
      """SELECT o_orderkey,
        |       CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
        |       CAST(quarter(o_orderdate) AS INT) AS qtr,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)) AS INT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_user_event_arrays" ->
      """WITH t AS (
        |  SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
        |  FROM events GROUP BY 1)
        |SELECT user_id, array_to_string(types, ',') AS types_str,
        |       CAST(len(types) AS INT) AS n_types,
        |       types[1] AS first_type, types[-1] AS last_type,
        |       list_contains(types, 'purchase') AS has_purchase
        |FROM t ORDER BY user_id""".stripMargin,
    "q_proto_roundtrip" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_us(ts) AS us, epoch_ms(ts) AS ms
        |  FROM events)
        |SELECT CAST(event_id AS VARCHAR) AS bidreq_id,
        |       coalesce(
        |         nullif(CASE WHEN user_id % 4 = 0 THEN ''
        |                     ELSE 'u' || CAST(user_id AS VARCHAR) END, ''),
        |         'site_' || CAST(user_id % 20 AS VARCHAR)) AS device_id,
        |       event_type AS pub_id,
        |       ms AS event_tm,
        |       us // 1000000 AS event_time,
        |       CAST(CASE WHEN value >= 50 THEN floor(value) + 1
        |                 ELSE floor(value) + 2 END AS INT) AS width,
        |       CAST(CASE WHEN value >= 50 THEN (user_id % 5 + 1) * 100
        |                 ELSE (user_id % 5 + 1) * 100 + 1 END AS INT) AS height,
        |       unnest(CASE
        |         WHEN event_id % 3 = 0 THEN [NULL]
        |         WHEN event_id % 3 = 1
        |           THEN ['deal_' || CAST(event_id AS VARCHAR) || '_0']
        |         ELSE ['deal_' || CAST(event_id AS VARCHAR) || '_0',
        |               'deal_' || CAST(event_id AS VARCHAR) || '_1'] END) AS deal
        |FROM e ORDER BY event_id, deal NULLS FIRST""".stripMargin,
    "q_bid_hourly_agg" -> bidHourlyAggOracle,
    // the Kafka roundtrip is transport-lossless: the produce->fetch->
    // decode chain must reproduce the wire aggregate row for row
    "q_kafka_hourly_agg" -> bidHourlyAggOracle,
    "q_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY ALL ORDER BY hour_start, event_type""".stripMargin,
    // the production append-mode file sink emits exactly the windows
    // finalized by the final watermark: window end <= max event time
    // (ms floor — the engine tracks event-time stats in ms) minus the
    // 1-hour delay; open tail hours must NOT appear
    "q_stream_hourly_files" ->
      """WITH wm AS (SELECT date_trunc('millisecond', max(ts))
        |                   - INTERVAL 1 HOUR AS w FROM events)
        |SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |GROUP BY ALL ORDER BY hour_start, event_type""".stripMargin,
    "q_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |         lag(ts) OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_ms(ts) - epoch_ms(prev_ts)
         |                      > ${Sessionize.GapMs} THEN 1 ELSE 0 END AS new_s
         |  FROM g),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |                             ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM f)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |       min(ts) AS session_start, max(ts) AS session_end,
         |       count(*) AS n_events, round(sum(value), 2) AS total_value
         |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    // the stateful streaming twin emits exactly the CLOSED sessions:
    // every non-trailing session per user (gap splits) plus trailing
    // sessions whose ms-floored timeout the final watermark passed —
    // the same relational sessionization with that closure predicate
    "q_stream_sessionize" ->
      s"""WITH wm AS (
         |  SELECT epoch_us(max(ts)) // 1000
         |           - ${graft.streaming.StatefulSessionize.StreamDelayMs} AS w
         |  FROM events),
         |g AS (
         |  SELECT user_id, event_id, ts, value,
         |         lag(ts) OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_ms(ts) - epoch_ms(prev_ts)
         |                      > ${Sessionize.GapMs} THEN 1 ELSE 0 END AS new_s
         |  FROM g),
         |s AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |                             ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM f),
         |agg AS (
         |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |         min(ts) AS session_start, max(ts) AS session_end,
         |         count(*) AS n_events, round(sum(value), 2) AS total_value
         |  FROM s GROUP BY 1, 2),
         |mx AS (SELECT user_id, max(session_idx) AS m FROM agg GROUP BY 1)
         |SELECT a.user_id, a.session_idx, a.session_start, a.session_end,
         |       a.n_events, a.total_value
         |FROM agg a JOIN mx USING (user_id)
         |WHERE a.session_idx < mx.m
         |   OR (SELECT w FROM wm) >
         |      (epoch_us(a.session_end)
         |         + ${graft.streaming.StatefulSessionize.GapUs}) // 1000
         |ORDER BY a.user_id, a.session_idx""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |         ${hexToLongSql("substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)")} AS hv
         |  FROM events),
         |r AS (
         |  SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM h),
         |sel AS (
         |  SELECT event_type, max(cnt) AS cnt,
         |         max(CASE WHEN rn = 64 THEN hv END) AS hk
         |  FROM r GROUP BY 1),
         |ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS users_exact
         |  FROM events GROUP BY 1)
         |SELECT ex.event_type, ex.users_exact,
         |       CASE WHEN sel.cnt < 64 THEN sel.cnt * 1.0
         |            ELSE round(63 * 4294967296.0 / sel.hk, 2) END AS users_kmv
         |FROM ex JOIN sel ON ex.event_type = sel.event_type
         |ORDER BY ex.event_type""".stripMargin,
    "q_salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, source,
         |       round(${hexToLongSql("substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8)")}
         |             / 4294967296.0, 6) AS u
         |FROM documents
         |WHERE ${hexToLongSql("substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8)")}
         |      / 4294967296.0 < ${Sampling.SampleRate}
         |ORDER BY doc_id""".stripMargin,
    "q_profile_events" ->
      """WITH s AS (
        |  SELECT count(*) AS n_rows,
        |         count(DISTINCT user_id) AS user_distinct,
        |         min(user_id) AS user_min, max(user_id) AS user_max,
        |         count(DISTINCT event_type) AS type_distinct,
        |         min(event_type) AS type_min, max(event_type) AS type_max,
        |         round(min(value), 2) AS value_min,
        |         round(max(value), 2) AS value_max
        |  FROM events)
        |SELECT 'user_id' AS column_name, CAST(n_rows AS VARCHAR) AS n_rows,
        |       CAST(user_distinct AS VARCHAR) AS n_distinct,
        |       CAST(user_min AS VARCHAR) AS min_value,
        |       CAST(user_max AS VARCHAR) AS max_value FROM s
        |UNION ALL
        |SELECT 'event_type', CAST(n_rows AS VARCHAR),
        |       CAST(type_distinct AS VARCHAR), type_min, type_max FROM s
        |UNION ALL
        |SELECT 'value', CAST(n_rows AS VARCHAR), NULL,
        |       CAST(value_min AS VARCHAR), CAST(value_max AS VARCHAR) FROM s
        |ORDER BY column_name""".stripMargin,
    "q_json_props" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
        |       CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0
        |         AS k_round
        |FROM events ORDER BY event_id""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_above_avg_customers" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
        |       round(a.nation_avg, 4) AS nation_avg
        |FROM customer c
        |JOIN (SELECT c_nationkey AS nk, avg(c_acctbal) AS nation_avg
        |      FROM customer GROUP BY 1) a ON c.c_nationkey = a.nk
        |WHERE c.c_acctbal > a.nation_avg
        |ORDER BY c_custkey""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_minhash_lsh" -> minhashOracle,
    "q_curation_pipeline" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $minhashCtes,
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM j
         |          WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}),
         |qr AS (
         |  SELECT doc_id, len(text) AS n_chars,
         |         len(list_filter(t, x -> list_contains($stopList, x))) * 1.0
         |           / len(t) AS sr,
         |         len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0
         |           / len(text) AS pr
         |  FROM toks),
         |q AS (
         |  SELECT doc_id,
         |         (CASE WHEN n_chars BETWEEN 50 AND 2000 THEN 4 ELSE 0 END
         |          + CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 4 ELSE 0 END
         |          + CASE WHEN pr < 0.05 THEN 2 ELSE 0 END) / 10.0 AS quality
         |  FROM qr)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality
         |FROM documents d
         |JOIN q ON q.doc_id = d.doc_id
         |WHERE q.quality >= ${Curation.QualityThreshold}
         |  AND d.doc_id NOT IN (SELECT doc_id FROM drops)
         |ORDER BY d.doc_id""".stripMargin
    },
    // the composed streaming curation chain's survivor SET: quality
    // gate on the PII-injected text, regex redaction, distinct-shingle
    // decontamination of the REDACTED text against the raw eval split,
    // then distinct content hashes (the watermarked dedup's output is
    // order-independent as a set — duplicates share the hash)
    "q_stream_curation" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val pii = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call 555-' || " +
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || " +
        "CAST((doc_id // 7) % 256 AS VARCHAR) || '.9'"
      s"""WITH p AS (
         |  SELECT doc_id, $pii AS txt FROM documents
         |  WHERE doc_id % ${Dedup.EvalStride} <> 0),
         |q0 AS (
         |  SELECT doc_id, txt,
         |         list_filter(string_split(lower(txt), ' '), x -> len(x) > 0) AS t
         |  FROM p),
         |qr AS (
         |  SELECT doc_id, txt, len(txt) AS n_chars,
         |         len(list_filter(t, x -> list_contains($stopList, x))) * 1.0
         |           / len(t) AS sr,
         |         len(regexp_replace(lower(txt), '[a-z0-9 ]', '', 'g')) * 1.0
         |           / len(txt) AS pr
         |  FROM q0),
         |pass AS (
         |  SELECT doc_id, txt FROM qr
         |  WHERE (CASE WHEN n_chars BETWEEN 50 AND 2000 THEN 4 ELSE 0 END
         |       + CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 4 ELSE 0 END
         |       + CASE WHEN pr < 0.05 THEN 2 ELSE 0 END) / 10.0
         |       >= ${Curation.QualityThreshold}),
         |red AS (
         |  SELECT doc_id,
         |         regexp_replace(regexp_replace(regexp_replace(txt,
         |           '${Corpus.EmailRe}', '<EMAIL>', 'g'),
         |           '${Corpus.PhoneRe}', '<PHONE>', 'g'),
         |           '${Corpus.IpRe}', '<IP>', 'g') AS rtext
         |  FROM pass),
         |rt AS (
         |  SELECT doc_id, rtext,
         |         list_filter(string_split(lower(rtext), ' '), x -> len(x) > 0) AS t
         |  FROM red),
         |rsh AS (
         |  SELECT doc_id, rtext,
         |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
         |             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
         |  FROM rt),
         |ev0 AS (
         |  SELECT doc_id,
         |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS t
         |  FROM documents WHERE doc_id % ${Dedup.EvalStride} = 0),
         |esh AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |           range(1, greatest(len(t) - 1, 1)),
         |           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS e
         |  FROM ev0),
         |shared AS (
         |  SELECT r.doc_id, count(*) AS n_shared
         |  FROM (SELECT doc_id, unnest(s) AS e FROM rsh) r
         |  JOIN esh USING (e) GROUP BY 1),
         |surv AS (
         |  SELECT rsh.doc_id, rtext FROM rsh LEFT JOIN shared USING (doc_id)
         |  WHERE coalesce(n_shared, 0) < ${Dedup.MinContamOverlap})
         |SELECT DISTINCT md5(rtext) AS content_md5,
         |       CAST(len(rtext) AS BIGINT) AS n_chars
         |FROM surv ORDER BY content_md5""".stripMargin
    },
    "dedup_simhash" -> simhashOracle,
    // replays PerceptualHash exactly: the synthesized rasters'
    // closed-form pixel ramp gives each sampled gray analytically, the
    // aHash words are integer sums, and BOTH hot-bucket rules
    // (selfJoinCapped on the rep bands and on the identical-hash
    // groups) are restated verbatim — exact at any scale, not just
    // while buckets stay under the cap
    "dedup_phash" -> phashPairsOracle,
    "dedup_phash_dct" -> phashDctOracle,
    // cross-corpus image dedup: crawl (odd ids) vs landed (even ids)
    // through the ONE-SIDED hot-bucket cap — right band buckets keep
    // their HotGroupCap smallest-id residents, the left side is never
    // capped (minhashJoin's discipline, restated over the hash bands)
    "dedup_phash_crosscorpus" -> {
      val cap = Dedup.HotGroupCap
      s"""WITH $ahashCtes,
         |bl AS (SELECT doc_id AS left_id, phi, plo FROM hsh
         |       WHERE doc_id % 2 = 1),
         |br AS (SELECT doc_id AS right_id, phi, plo FROM hsh
         |       WHERE doc_id % 2 = 0),
         |bandl AS (
         |  SELECT left_id, 0 AS b, phi >> 16 AS k FROM bl
         |  UNION ALL SELECT left_id, 1, phi & 65535 FROM bl
         |  UNION ALL SELECT left_id, 2, plo >> 16 FROM bl
         |  UNION ALL SELECT left_id, 3, plo & 65535 FROM bl),
         |bandr AS (
         |  SELECT right_id, 0 AS b, phi >> 16 AS k FROM br
         |  UNION ALL SELECT right_id, 1, phi & 65535 FROM br
         |  UNION ALL SELECT right_id, 2, plo >> 16 FROM br
         |  UNION ALL SELECT right_id, 3, plo & 65535 FROM br),
         |bcap AS (
         |  SELECT right_id, b, k FROM (
         |    SELECT right_id, b, k, row_number()
         |        OVER (PARTITION BY b, k ORDER BY right_id) AS rn
         |    FROM bandr) WHERE rn <= $cap),
         |cand AS (SELECT DISTINCT left_id, right_id
         |         FROM bandl JOIN bcap USING (b, k))
         |SELECT left_id, right_id, hamming FROM (
         |  SELECT c.left_id, c.right_id,
         |         CAST(bit_count(xor(l.phi, r.phi))
         |              + bit_count(xor(l.plo, r.plo)) AS INT) AS hamming
         |  FROM cand c JOIN bl l USING (left_id)
         |              JOIN br r USING (right_id))
         |WHERE hamming <= ${PerceptualHash.MaxHamming}
         |ORDER BY left_id, right_id""".stripMargin
    },
    // connected components over the perceptual pairs — the same
    // recursive-closure replay as dedup_clusters, fed by phash's pair
    // statement (caps and all, so exact at any scale)
    "dedup_phash_clusters" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM (
         |$phashPairsOracle)),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "dedup_clusters" -> clustersOracle,
    // embedding cross-corpus: crawl (odd ids) probes its SRP bucket +
    // the 8 hamming-1 neighbors against the landed corpus's (even ids)
    // capped bucket residents, exact round-4 cosine verifies — the
    // batch complement of q_stream_semantic's bootstrap mode
    "dedup_semantic_crosscorpus" ->
      s"""WITH $srpSigCtes,
         |res AS (
         |  SELECT vec_id, bucket FROM (
         |    SELECT vec_id, bucket,
         |           row_number() OVER (PARTITION BY bucket
         |                              ORDER BY vec_id) AS rn
         |    FROM sigs WHERE vec_id % 2 = 0) WHERE rn <= ${Dedup.HotGroupCap}),
         |inc AS (SELECT vec_id, bucket FROM sigs WHERE vec_id % 2 = 1),
         |cand AS (
         |  SELECT i.vec_id AS left_id, r.vec_id AS right_id
         |  FROM inc i JOIN res r
         |    ON bit_count(xor(i.bucket, r.bucket)) <= 1)
         |SELECT left_id, right_id, sim FROM (
         |  SELECT c.left_id, c.right_id,
         |         round(list_sum(list_transform(range(1, 65),
         |               k -> a.nv[k] * b.nv[k])), 4) AS sim
         |  FROM cand c JOIN nrm a ON a.vec_id = c.left_id
         |              JOIN nrm b ON b.vec_id = c.right_id)
         |WHERE sim >= ${Dedup.EmbeddingCosThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    "dedup_crosscorpus" ->
      s"""WITH ${minhashCtesWith("x.doc_id % 2 = 1 AND y.doc_id % 2 = 0")}
         |SELECT doc_a AS left_id, doc_b AS right_id, jaccard FROM j
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    // same relational pairs as crosscorpus at a 10%/90% split — the
    // Spark side runs them through the PERSISTED index lifecycle
    // (build → write → broadcast query), which the hash therefore gates
    "dedup_incremental" ->
      s"""WITH ${minhashCtesWith("x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3")}
         |SELECT doc_a AS left_id, doc_b AS right_id, jaccard FROM j
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    // the maintenance lifecycle (split build + merge + compact) ends at
    // an index covering exactly doc_id % 10 <> 3 — identical pairs
    "dedup_index_lifecycle" ->
      s"""WITH ${minhashCtesWith("x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3")}
         |SELECT doc_a AS left_id, doc_b AS right_id, jaccard FROM j
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    // the SAME lifecycle driven through the GRAFT INDEX SQL verbs +
    // the graft_index_query table function — identical oracle, so the
    // SQL surface is hash-gated to the Scala API's exact results
    "q_sql_index_lifecycle" ->
      s"""WITH ${minhashCtesWith("x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3")}
         |SELECT doc_a AS left_id, doc_b AS right_id, jaccard FROM j
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    // chained admission: batch 1 is near-dup-checked against batch 0;
    // batch 2 against batch 0 ∪ batch 1's SURVIVORS (a rejected
    // batch-1 doc never blocks a batch-2 doc) — the relational
    // restatement of MinhashIndex's query→admit→merge crawl loop
    // the SQL-driven crawl gate: same chained-admission restatement as
    // dedup_ingest_chain, but the gated rows are what GRAFT INDEX
    // ADMIT itself RETURNED (batches 1 and 2 only; bootstrap batch 0
    // never passes through the gate)
    "q_sql_admit" ->
      s"""WITH ${minhashCtesWith(
               "((x.doc_id % 3 = 1 AND y.doc_id % 3 = 0) OR " +
               "(x.doc_id % 3 = 2 AND y.doc_id % 3 <> 2))")},
         |p AS (SELECT doc_a, doc_b FROM j
         |      WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}),
         |adm1 AS (
         |  SELECT doc_id FROM documents d1 WHERE doc_id % 3 = 1
         |  AND NOT EXISTS (SELECT 1 FROM p WHERE p.doc_a = d1.doc_id)),
         |adm2 AS (
         |  SELECT doc_id FROM documents d2 WHERE doc_id % 3 = 2
         |  AND NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.doc_a = d2.doc_id
         |    AND (p.doc_b % 3 = 0
         |         OR p.doc_b IN (SELECT doc_id FROM adm1))))
         |SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch,
         |       (d.doc_id IN (SELECT doc_id FROM adm1)
         |        OR d.doc_id IN (SELECT doc_id FROM adm2)) AS admitted
         |FROM documents d WHERE d.doc_id % 3 <> 0
         |ORDER BY doc_id""".stripMargin,
    // the copied-passage crawl gate (GRAFT INDEX ADMIT WINNOW),
    // chained like q_sql_admit: batch 2 is gated against batch 0 plus
    // batch 1's survivors. The winnow hot-fingerprint drop uses the
    // TRUE union frequency of the index state AND the incoming batch,
    // so each step re-scopes `hot` to its own union (u1 = b0 ∪ b1,
    // u2 = b0 ∪ adm1 ∪ b2) — a single global hot set would restate
    // the wrong gate
    "q_sql_admit_winnow" ->
      s"""WITH $winnowCtes,
         |u1 AS (SELECT doc_id, fp FROM ex WHERE doc_id % 3 IN (0, 1)),
         |hot1 AS (SELECT fp FROM u1 GROUP BY fp
         |         HAVING count(*) > ${Dedup.ShingleFreqCap}),
         |p1 AS (
         |  SELECT x.doc_id AS a FROM u1 x JOIN u1 y ON x.fp = y.fp
         |  WHERE x.doc_id % 3 = 1 AND y.doc_id % 3 = 0
         |    AND x.fp NOT IN (SELECT fp FROM hot1)
         |  GROUP BY x.doc_id, y.doc_id
         |  HAVING count(*) >= ${Dedup.MinSharedFp}),
         |adm1 AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
         |  AND doc_id NOT IN (SELECT a FROM p1)),
         |u2 AS (SELECT doc_id, fp FROM ex
         |       WHERE doc_id % 3 IN (0, 2)
         |          OR doc_id IN (SELECT doc_id FROM adm1)),
         |hot2 AS (SELECT fp FROM u2 GROUP BY fp
         |         HAVING count(*) > ${Dedup.ShingleFreqCap}),
         |p2 AS (
         |  SELECT x.doc_id AS a FROM u2 x JOIN u2 y ON x.fp = y.fp
         |  WHERE x.doc_id % 3 = 2
         |    AND (y.doc_id % 3 = 0 OR y.doc_id IN (SELECT doc_id FROM adm1))
         |    AND x.fp NOT IN (SELECT fp FROM hot2)
         |  GROUP BY x.doc_id, y.doc_id
         |  HAVING count(*) >= ${Dedup.MinSharedFp}),
         |adm2 AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 3 = 2
         |  AND doc_id NOT IN (SELECT a FROM p2))
         |SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch,
         |       (d.doc_id IN (SELECT doc_id FROM adm1)
         |        OR d.doc_id IN (SELECT doc_id FROM adm2)) AS admitted
         |FROM documents d WHERE d.doc_id % 3 <> 0
         |ORDER BY doc_id""".stripMargin,
    "dedup_ingest_chain" ->
      s"""WITH ${minhashCtesWith(
               "((x.doc_id % 3 = 1 AND y.doc_id % 3 = 0) OR " +
               "(x.doc_id % 3 = 2 AND y.doc_id % 3 <> 2))")},
         |p AS (SELECT doc_a, doc_b FROM j
         |      WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}),
         |adm1 AS (
         |  SELECT doc_id FROM documents d1 WHERE doc_id % 3 = 1
         |  AND NOT EXISTS (SELECT 1 FROM p WHERE p.doc_a = d1.doc_id)),
         |adm2 AS (
         |  SELECT doc_id FROM documents d2 WHERE doc_id % 3 = 2
         |  AND NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.doc_a = d2.doc_id
         |    AND (p.doc_b % 3 = 0
         |         OR p.doc_b IN (SELECT doc_id FROM adm1))))
         |SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch,
         |       (d.doc_id % 3 = 0
         |        OR d.doc_id IN (SELECT doc_id FROM adm1)
         |        OR d.doc_id IN (SELECT doc_id FROM adm2)) AS admitted
         |FROM documents d ORDER BY doc_id""".stripMargin,
    // the composed admission decision: four independent gates against
    // the pre-merge index state — decontam vs the held eval set, token
    // rarity vs the UNION statistics (landed ∪ batch, eval excluded),
    // near-dup and copied-passage (winnow) vs the landed corpus — each
    // restated relationally over the same splits (eval =
    // %${Dedup.EvalStride}=0, batch = the non-eval %10=3, landed = the
    // non-eval %10≠3), plus post-merge readback counts over
    // landed ∪ admitted
    "q_admission_pipeline" ->
      s"""WITH ${minhashCtesWith(
               s"x.doc_id % 10 = 3 AND x.doc_id % ${Dedup.EvalStride} <> 0" +
               s" AND y.doc_id % 10 <> 3 AND y.doc_id % ${Dedup.EvalStride} <> 0")},
         |nd AS (SELECT DISTINCT doc_a AS doc_id FROM j
         |       WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}),
         |dex AS (SELECT doc_id, unnest(s) AS e FROM shf),
         |dev AS (SELECT DISTINCT e FROM dex
         |        WHERE doc_id % ${Dedup.EvalStride} = 0),
         |dcon AS (SELECT c.doc_id FROM dex c JOIN dev USING (e)
         |         WHERE c.doc_id % 10 = 3 AND c.doc_id % ${Dedup.EvalStride} <> 0
         |         GROUP BY c.doc_id
         |         HAVING count(*) >= ${Dedup.MinContamOverlap}),
         |rex AS (SELECT doc_id, unnest(t) AS term FROM toks
         |        WHERE doc_id % ${Dedup.EvalStride} <> 0),
         |rnd AS (SELECT count(*) AS n_docs FROM toks
         |        WHERE len(t) > 0 AND doc_id % ${Dedup.EvalStride} <> 0),
         |rdf AS (SELECT term, count(*) AS df FROM
         |          (SELECT DISTINCT doc_id, term FROM rex) GROUP BY 1),
         |rar AS (SELECT e.doc_id,
         |          ((2 * sum((SELECT n_docs FROM rnd) * 10000 // rdf.df)
         |            + count(*)) // (2 * count(*))) / 10000.0 AS rarity
         |        FROM rex e JOIN rdf USING (term)
         |        WHERE e.doc_id % 10 = 3
         |        GROUP BY e.doc_id),
         |wg AS (SELECT doc_id,
         |         list_transform(range(1, greatest(len(t) - 1, 1)),
         |             i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS gr
         |       FROM toks WHERE doc_id % ${Dedup.EvalStride} <> 0),
         |wh AS (SELECT doc_id,
         |         list_transform(gr, s -> substr(md5('fp:' || s), 1, 8)) AS h
         |       FROM wg WHERE len(gr) > 0),
         |wsel AS (SELECT doc_id,
         |         CASE WHEN len(h) < ${Dedup.FpWindow} THEN [list_min(h)]
         |              ELSE list_distinct(list_transform(
         |                     range(1, len(h) - ${Dedup.FpWindow - 2}),
         |                     i -> list_min(list_slice(h, i,
         |                            i + ${Dedup.FpWindow - 1})))) END AS sel
         |       FROM wh),
         |wex AS (SELECT doc_id, unnest(sel) AS wfp FROM wsel),
         |whot AS (SELECT wfp FROM wex GROUP BY wfp
         |         HAVING count(*) > ${Dedup.ShingleFreqCap}),
         |wexc AS MATERIALIZED (
         |  SELECT * FROM wex WHERE wfp NOT IN (SELECT wfp FROM whot)),
         |wp AS (SELECT x.doc_id AS doc_id FROM wexc x JOIN wexc y
         |         ON x.wfp = y.wfp
         |       WHERE x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3
         |       GROUP BY x.doc_id, y.doc_id
         |       HAVING count(*) >= ${Dedup.MinSharedFp}),
         |wnd AS (SELECT DISTINCT doc_id FROM wp),
         |f AS (
         |  SELECT b.doc_id,
         |         b.doc_id NOT IN (SELECT doc_id FROM dcon) AS passed_decontam,
         |         coalesce(r.rarity <= ${Admission.RarityMax}, false)
         |           AS passed_rarity,
         |         b.doc_id NOT IN (SELECT doc_id FROM nd) AS passed_neardup,
         |         b.doc_id NOT IN (SELECT doc_id FROM wnd) AS passed_passage
         |  FROM documents b LEFT JOIN rar r USING (doc_id)
         |  WHERE b.doc_id % 10 = 3 AND b.doc_id % ${Dedup.EvalStride} <> 0),
         |adm AS (SELECT doc_id FROM f
         |        WHERE passed_decontam AND passed_rarity AND passed_neardup
         |          AND passed_passage),
         |mhc AS (SELECT count(*) AS n FROM shf
         |        WHERE doc_id % ${Dedup.EvalStride} <> 0
         |        AND (doc_id % 10 <> 3
         |             OR doc_id IN (SELECT doc_id FROM adm))),
         |tsc AS (SELECT count(*) AS n FROM toks
         |        WHERE len(t) > 0 AND doc_id % ${Dedup.EvalStride} <> 0
         |        AND (doc_id % 10 <> 3
         |             OR doc_id IN (SELECT doc_id FROM adm))),
         |wfc AS (SELECT count(*) AS n FROM wex
         |        WHERE doc_id % 10 <> 3
         |           OR doc_id IN (SELECT doc_id FROM adm))
         |SELECT doc_id, passed_decontam, passed_rarity, passed_neardup,
         |       passed_passage,
         |       (passed_decontam AND passed_rarity AND passed_neardup
         |        AND passed_passage) AS admitted,
         |       (SELECT n FROM mhc) AS mh_docs,
         |       (SELECT n FROM tsc) AS stats_docs,
         |       (SELECT n FROM wfc) AS winnow_fps
         |FROM f ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split(lower(text), ' '),
         |                     t -> len(t) > 0) AS w
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(w) AS term FROM toks),
         |nd AS (SELECT count(*) AS n_docs FROM toks WHERE len(w) > 0),
         |tf AS (SELECT doc_id, term, count(*) AS cnt FROM ex GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |df AS (SELECT term, count(*) AS df FROM
         |         (SELECT DISTINCT doc_id, term FROM ex) GROUP BY 1),
         |s AS (
         |  SELECT tf.doc_id, tf.term,
         |         round((tf.cnt * 1.0 / dl.n) *
         |               ((SELECT n_docs FROM nd) * 1.0 / df.df), 4) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term)),
         |r AS (
         |  SELECT doc_id, term, score,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, term) AS rk
         |  FROM s)
         |SELECT doc_id, CAST(rk AS INT) AS rk, term, score FROM r
         |WHERE rk <= ${graft.operators.TextAnalysis.TfIdfTopK}
         |ORDER BY doc_id, rk""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     t -> len(t) > 0) AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, len(w) AS n FROM toks),
        |ex AS (SELECT doc_id, unnest(w) AS tok FROM toks),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
        |t AS (SELECT doc_id, count(*) AS ndist, max(cnt) AS topn
        |      FROM c GROUP BY 1),
        |s3 AS (SELECT doc_id,
        |         CASE WHEN len(w) < 3 THEN []
        |              ELSE list_distinct(list_transform(range(1, len(w) - 1),
        |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |         END AS s
        |       FROM toks),
        |sh AS (SELECT doc_id, len(s) AS nsh FROM s3 WHERE len(s) > 0)
        |SELECT t.doc_id,
        |       round(ndist * 1.0 / n, 4) AS tok_ratio,
        |       round(topn * 1.0 / n, 4) AS top_share,
        |       round(1 - nsh * 1.0 / (n - 2), 4) AS rep3
        |FROM t
        |JOIN tk USING (doc_id)
        |JOIN sh USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_decontaminate" -> decontamOracle,
    // Bloom pre-filter has no false negatives and the confirm join drops
    // the false positives — bit-identical result, identical oracle.
    "dedup_decontam_bloom" -> decontamOracle,
    // identical relational answer to the Bloom path — the Spark side
    // runs it through the PERSISTED artifact lifecycle (shingle + build
    // once, write, reload, probe + confirm), which the hash gates
    "dedup_decontam_persist" -> decontamOracle,
    // the streaming shard gate unions its per-batch outputs into the
    // SAME per-doc counts — a doc lands whole in one shard, so the
    // relational restatement is unchanged
    "q_stream_decontam" -> decontamOracle,
    // the stateful streaming near-dup pass (bootstrap = landed corpus,
    // stream = increment shards, every band collision emitted and
    // batch-verified with true Jaccard) reproduces the cross-corpus
    // join exactly — same relational pairs as dedup_incremental
    "q_stream_neardup" ->
      s"""WITH ${minhashCtesWith("x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3")}
         |SELECT doc_a AS left_id, doc_b AS right_id, jaccard FROM j
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    // the streaming copied-passage pass: landed docs bootstrap the
    // fingerprint buckets (HotGroupCap smallest ids resident per fp —
    // the one-sided cap; NO union-frequency hot drop, the documented
    // contract difference from the batch join), the increment streams,
    // a cross pair appears iff the corpus doc is resident of >=
    // MinSharedFp fingerprint buckets the two docs share
    "q_stream_winnow" ->
      s"""WITH $winnowCtes,
         |res AS (
         |  SELECT fp, doc_id FROM (
         |    SELECT fp, doc_id,
         |           row_number() OVER (PARTITION BY fp
         |                              ORDER BY doc_id) AS rn
         |    FROM ex WHERE doc_id % 10 <> 3) WHERE rn <= ${Dedup.HotGroupCap}),
         |inc AS (SELECT doc_id, fp FROM ex WHERE doc_id % 10 = 3),
         |m AS (
         |  SELECT i.doc_id AS left_id, r.doc_id AS right_id,
         |         count(*) AS n_shared
         |  FROM inc i JOIN res r USING (fp)
         |  GROUP BY 1, 2)
         |SELECT left_id, right_id, n_shared FROM m
         |WHERE n_shared >= ${Dedup.MinSharedFp}
         |ORDER BY left_id, right_id""".stripMargin,
    // the streaming image near-dup pass: landed images bootstrap the
    // band buckets (HotGroupCap smallest ids resident per bucket —
    // the one-sided cap), the increment streams, a cross pair appears
    // iff the corpus doc is RESIDENT of some shared band bucket and
    // the hashes are within the hamming bound
    "q_stream_phash" ->
      s"""WITH $ahashCtes,
         |corp AS (SELECT * FROM hsh WHERE doc_id % 10 <> 3),
         |cb AS (
         |  SELECT doc_id, 0 AS b, phi >> 16 AS k FROM corp
         |  UNION ALL SELECT doc_id, 1, phi & 65535 FROM corp
         |  UNION ALL SELECT doc_id, 2, plo >> 16 FROM corp
         |  UNION ALL SELECT doc_id, 3, plo & 65535 FROM corp),
         |res AS (
         |  SELECT doc_id, b, k FROM (
         |    SELECT doc_id, b, k,
         |           row_number() OVER (PARTITION BY b, k
         |                              ORDER BY doc_id) AS rn
         |    FROM cb) WHERE rn <= ${Dedup.HotGroupCap}),
         |inc AS (SELECT * FROM hsh WHERE doc_id % 10 = 3),
         |ib AS (
         |  SELECT doc_id, 0 AS b, phi >> 16 AS k FROM inc
         |  UNION ALL SELECT doc_id, 1, phi & 65535 FROM inc
         |  UNION ALL SELECT doc_id, 2, plo >> 16 FROM inc
         |  UNION ALL SELECT doc_id, 3, plo & 65535 FROM inc),
         |cand AS (
         |  SELECT DISTINCT i.doc_id AS left_id, r.doc_id AS right_id
         |  FROM ib i JOIN res r ON i.b = r.b AND i.k = r.k)
         |SELECT left_id, right_id, hamming FROM (
         |  SELECT c.left_id, c.right_id,
         |         CAST(bit_count(xor(a.phi, b2.phi))
         |              + bit_count(xor(a.plo, b2.plo)) AS INT) AS hamming
         |  FROM cand c JOIN hsh a ON a.doc_id = c.left_id
         |              JOIN hsh b2 ON b2.doc_id = c.right_id)
         |WHERE hamming <= ${PerceptualHash.MaxHamming}
         |ORDER BY left_id, right_id""".stripMargin,
    // the streaming embedding near-dup pass: landed vectors bootstrap
    // their OWN SRP bucket (HotGroupCap smallest ids resident), the
    // increment streams and multi-probes hamming-1 neighbors — a
    // cross pair appears iff the corpus vector is resident, the two
    // buckets are within hamming 1, and the round-4 normalized dot
    // clears the embedding threshold
    "q_stream_semantic" ->
      s"""WITH $srpSigCtes,
         |res AS (
         |  SELECT vec_id, bucket FROM (
         |    SELECT vec_id, bucket,
         |           row_number() OVER (PARTITION BY bucket
         |                              ORDER BY vec_id) AS rn
         |    FROM sigs WHERE vec_id % 10 <> 3) WHERE rn <= ${Dedup.HotGroupCap}),
         |inc AS (SELECT vec_id, bucket FROM sigs WHERE vec_id % 10 = 3),
         |cand AS (
         |  SELECT i.vec_id AS left_id, r.vec_id AS right_id
         |  FROM inc i JOIN res r
         |    ON bit_count(xor(i.bucket, r.bucket)) <= 1)
         |SELECT left_id, right_id, sim FROM (
         |  SELECT c.left_id, c.right_id,
         |         round(list_sum(list_transform(range(1, 65),
         |               k -> a.nv[k] * b.nv[k])), 4) AS sim
         |  FROM cand c JOIN nrm a ON a.vec_id = c.left_id
         |              JOIN nrm b ON b.vec_id = c.right_id)
         |WHERE sim >= ${Dedup.EmbeddingCosThreshold}
         |ORDER BY left_id, right_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $toksCte,
         |sz AS (SELECT doc_id, len(s) AS n FROM shf),
         |ex AS (SELECT doc_id, unnest(s) AS e FROM shf),
         |cm AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS c
         |  FROM ex x JOIN ex y ON x.e = y.e AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT doc_a, doc_b,
         |         round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
         |  FROM cm
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE jaccard >= ${Dedup.MinhashJaccardThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (
         |  SELECT vec_id,
         |         list_transform(v, a ->
         |           a / sqrt(list_sum(list_transform(v, b -> b * b)))) AS nv
         |  FROM e),
         |p AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         round(list_sum(list_transform(range(1, 65),
         |               i -> x.nv[i] * y.nv[i])), 4) AS sim
         |  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b, sim FROM p
         |WHERE sim >= ${Dedup.EmbeddingCosThreshold}
         |ORDER BY vec_a, vec_b""".stripMargin,
    "sim_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cid AS cluster,
         |       count(*) OVER (PARTITION BY cid) AS n_cluster
         |FROM a_final ORDER BY vec_id""".stripMargin,
    // replays the SemPairCap star fallback: clusters ≤ cap contribute
    // the full clique, degenerate clusters only (cluster-min, rest)
    // pairs — identical rule to Similarity.semanticPrune at ANY scale
    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
         |sz AS (SELECT cid, count(*) AS n, min(vec_id) AS mn
         |       FROM a_final GROUP BY 1),
         |pairs AS (
         |  SELECT y.cid AS cluster, x.vec_id AS a_id, y.vec_id AS b_id,
         |         round(${cosExpr.format("ex.v", "ey.v")}, 4) AS sim
         |  FROM a_final x JOIN a_final y
         |    ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN sz ON sz.cid = x.cid
         |  JOIN e ex ON ex.vec_id = x.vec_id
         |  JOIN e ey ON ey.vec_id = y.vec_id
         |  WHERE sz.n <= ${Similarity.SemPairCap} OR x.vec_id = sz.mn)
         |SELECT b_id AS vec_id, min(cluster) AS cluster,
         |       min(a_id) AS keeper, max(sim) AS max_sim
         |FROM pairs WHERE sim >= ${Dedup.EmbeddingCosThreshold}
         |GROUP BY b_id ORDER BY vec_id""".stripMargin,
    "sim_brute_topk" -> bruteTopKOracle,
    // HNSW is gated against the EXACT top-k: at verification scale the
    // EfSearch beam must achieve recall 1.0 (HnswIndex header), so a
    // construction or search bug hash-mismatches instead of silently
    // shaving recall
    "sim_hnsw_topk" -> bruteTopKOracle,
    // routed (per-IVF-cell) HNSW: cells at or under RoutedEf are
    // brute-scanned (provably exhaustive), so the composition equals
    // "probe cells, score exactly" — ivfOracle's probe CTEs with
    // normalized scoring (the graphs store normalized vectors)
    "sim_hnsw_routed" -> hnswRoutedOracle(),
    // the routed lifecycle: centroids FROZEN over the landed split
    // (build), the crawl increment merged into its cells (only those
    // rebuilt), candidates from the full corpus — restates
    // HnswRouted build(landed)→merge(increment)→query
    "sim_hnsw_routed_lifecycle" -> hnswRoutedOracle("vec_id % 10 <> 3"),
    "sim_pq_topk" ->
      s"""WITH ${pqCtes()}
         |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM (
         |  SELECT q_id, n_id, sim,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY sim DESC, n_id) AS rank
         |  FROM rr)
         |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin,
    // IVF+PQ composed (FAISS's IVFPQ + refine): the PQ pipeline's ADC
    // scores restricted to the IVF-probed cells (labels), then the
    // exact re-rank — the ivfOracle's probe CTEs grafted onto pqCtes'
    // score CTEs, each already proven against its own index
    "sim_ivfpq_topk" ->
      s"""WITH ${pqCtes()},
         |el AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS rv
         |       FROM embeddings),
         |iq AS (SELECT vec_id AS q_id, rv AS qrv FROM el
         |       WHERE vec_id % ${Similarity.QueryStride} = 0),
         |icent AS (
         |  SELECT label, i, avg(rv[i]) AS m
         |  FROM el, range(1, ${Similarity.Dims + 1}) r(i) GROUP BY label, i),
         |iqc AS (
         |  SELECT iq.q_id, c.label,
         |         sum((iq.qrv[c.i] - c.m) * (iq.qrv[c.i] - c.m)) AS d2
         |  FROM iq, icent c GROUP BY 1, 2),
         |iprobes AS (
         |  SELECT q_id, label FROM (
         |    SELECT q_id, label,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY round(d2, 6), label) AS pr
         |    FROM iqc) WHERE pr <= ${Similarity.NProbe}),
         |adcf AS (
         |  SELECT a.q_id, a.n_id, a.adc
         |  FROM adc a
         |  JOIN el ON el.vec_id = a.n_id
         |  JOIN iprobes p ON p.q_id = a.q_id AND p.label = el.label),
         |candf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY adc, n_id) AS pr
         |    FROM adcf) WHERE pr <= ${Similarity.PqRerank}),
         |rrf AS (
         |  SELECT c.q_id, c.n_id,
         |         round(list_sum(list_transform(range(1, ${Similarity.Dims + 1}),
         |               i -> q.qnv[i] * n.nv[i])), 4) AS sim
         |  FROM candf c JOIN q ON q.q_id = c.q_id
         |  JOIN nrm n ON n.vec_id = c.n_id)
         |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM (
         |  SELECT q_id, n_id, sim,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY sim DESC, n_id) AS rank
         |  FROM rrf) WHERE rank <= ${Similarity.K}
         |ORDER BY q_id, rank""".stripMargin,
    // same pipeline, codebooks trained on the LANDED split only —
    // restates PqIndex build(landed)→merge(increment)→query: the
    // increment is encoded against the frozen landed-trained codebooks
    "sim_pq_lifecycle" ->
      s"""WITH ${pqCtes("vec_id % 10 <> 3")}
         |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM (
         |  SELECT q_id, n_id, sim,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY sim DESC, n_id) AS rank
         |  FROM rr)
         |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin,
    "sim_ivf_topk" -> ivfOracle(),
    // centroids frozen over the LANDED split; candidates from the full
    // corpus — restates IvfIndex build(landed)→merge(increment)→query
    "sim_ivf_lifecycle" -> ivfOracle("vec_id % 10 <> 3"),
    // assign-only ingest: centroids frozen over the LANDED split
    // (per-label means), crawl vectors take their argmin cell — the
    // relational restatement of IvfIndex.ingest's distributed
    // assignment (round d2 at 6, ties to the lowest label)
    "sim_ivf_incremental" -> assignIncrementalOracle,
    // the routed graph family's assign-only ingest: the SAME frozen-
    // centroid assignment statement — but the Spark side reads the
    // assignments back from the REBUILT CELL GRAPHS, so this row also
    // pins that the batch physically landed in its assigned cells
    "sim_hnsw_routed_incremental" -> assignIncrementalOracle,
    // assign-only PQ encode: codebooks trained on the LANDED split,
    // crawl vectors take their per-subspace argmin cid — pins the
    // packed-code assignment itself, not just the downstream top-k
    "sim_pq_incremental" ->
      s"""WITH ${pqCtes("vec_id % 10 <> 3")}
         |SELECT vec_id, m, cid FROM codes WHERE vec_id % 10 = 3
         |ORDER BY vec_id, m""".stripMargin,
    "sim_lsh_topk" -> {
      val flips = (Seq(0) ++ (0 until Similarity.LshPlanes).map(1 << _))
        .mkString("[", ", ", "]")
      s"""WITH $srpSigCtes,
         |q AS (
         |  SELECT s.vec_id AS q_id, n.nv AS qnv, s.bucket
         |  FROM sigs s JOIN nrm n ON n.vec_id = s.vec_id
         |  WHERE s.vec_id % ${Similarity.QueryStride} = 0),
         |probes AS (
         |  SELECT q_id, qnv, xor(bucket, unnest($flips)) AS key FROM q),
         |cand AS (
         |  SELECT p.q_id, p.qnv, s.vec_id AS n_id, n.nv
         |  FROM probes p
         |  JOIN sigs s ON s.bucket = p.key AND s.vec_id <> p.q_id
         |  JOIN nrm n ON n.vec_id = s.vec_id),
         |scored AS (
         |  SELECT q_id, n_id,
         |         round(list_sum(list_transform(range(1, 65),
         |               i -> qnv[i] * nv[i])), 4) AS sim
         |  FROM cand),
         |r AS (
         |  SELECT q_id, n_id, sim,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY sim DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim FROM r
         |WHERE rank <= ${Similarity.K} ORDER BY q_id, rank""".stripMargin
    },
    "text_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     t -> len(t) > 0) AS w
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |nd AS (SELECT count(*) AS n_docs FROM toks WHERE len(w) > 0),
        |df AS (SELECT term, count(*) AS df FROM
        |         (SELECT DISTINCT doc_id, term FROM ex) GROUP BY 1)
        |SELECT e.doc_id, CAST(count(*) AS INT) AS n_terms,
        |       ((2 * sum((SELECT n_docs FROM nd) * 10000 // df.df)
        |         + count(*)) // (2 * count(*))) / 10000.0 AS rarity
        |FROM ex e JOIN df USING (term)
        |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin,
    // the persisted term-stats index's build→merge→compact→query
    // lifecycle ends at union statistics covering ALL documents: the
    // oracle is the batch rarity over the whole corpus filtered to the
    // 10% increment the index was queried with
    "text_rarity_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     t -> len(t) > 0) AS w
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |nd AS (SELECT count(*) AS n_docs FROM toks WHERE len(w) > 0),
        |df AS (SELECT term, count(*) AS df FROM
        |         (SELECT DISTINCT doc_id, term FROM ex) GROUP BY 1)
        |SELECT e.doc_id, CAST(count(*) AS INT) AS n_terms,
        |       ((2 * sum((SELECT n_docs FROM nd) * 10000 // df.df)
        |         + count(*)) // (2 * count(*))) / 10000.0 AS rarity
        |FROM ex e JOIN df USING (term)
        |WHERE e.doc_id % 10 = 3
        |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin,
    "text_token_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         |       CAST(len(list_distinct(t)) AS INT) AS n_unique,
         |       round(list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t), 4)
         |         AS avg_token_len,
         |       CAST(len(regexp_extract_all(lower(text),
         |            '${TextAnalysis.BpePattern}')) AS INT) AS n_bpe_tokens
         |FROM toks ORDER BY doc_id""".stripMargin,
    "text_quality" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $toksCte,
         |raw AS (
         |  SELECT doc_id, len(text) AS n_chars,
         |         len(list_filter(t, x -> list_contains($stopList, x))) * 1.0
         |           / len(t) AS sr,
         |         len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0
         |           / len(text) AS pr
         |  FROM toks)
         |SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
         |       round(sr, 4) AS stop_ratio, round(pr, 4) AS punct_ratio,
         |       (CASE WHEN n_chars BETWEEN 50 AND 2000 THEN 4 ELSE 0 END
         |        + CASE WHEN sr BETWEEN 0.05 AND 0.6 THEN 4 ELSE 0 END
         |        + CASE WHEN pr < 0.05 THEN 2 ELSE 0 END) / 10.0 AS quality
         |FROM raw ORDER BY doc_id""".stripMargin
    },
    "text_langid" -> {
      val scoreCols = TextAnalysis.LangMarkers.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(t, x -> list_contains($lst, x))) AS INT) AS score_$l"
      }.mkString(",\n       ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val cases = langs
        .map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'")
        .mkString("\n            ")
      s"""WITH $toksCte,
         |sc AS (
         |  SELECT doc_id,
         |       $scoreCols
         |  FROM toks),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |       CASE $cases
         |            ELSE 'und' END AS pred_lang
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "dedup_winnow" ->
      s"""WITH $winnowCtes,
         |p AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
         |  FROM exc x JOIN exc y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared FROM p
         |WHERE n_shared >= ${Dedup.MinSharedFp}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring" ->
      s"""WITH $substringCtes
         |SELECT doc_a, doc_b, start_a, start_b, run_len
         |FROM runsf
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_substring_removal" ->
      s"""WITH $substringCtes,
         |r AS (SELECT doc_b AS doc_id, start_b AS s,
         |             start_b + run_len - 1 AS e FROM runsf),
         |ro AS (
         |  SELECT doc_id, s, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM r),
         |rg AS (
         |  SELECT doc_id, s, e,
         |         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY s, e) AS rgrp
         |  FROM ro),
         |mr AS (SELECT doc_id, min(s) AS s, max(e) AS e
         |       FROM rg GROUP BY doc_id, rgrp),
         |poso AS (
         |  SELECT doc_id, unnest(range(1, len(t0) + 1)) AS i,
         |         unnest(t0) AS tok
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> len(x) > 0) AS t0
         |        FROM documents)),
         |surv AS (
         |  SELECT p.doc_id, p.i, p.tok
         |  FROM poso p LEFT JOIN mr
         |    ON mr.doc_id = p.doc_id AND p.i BETWEEN mr.s AND mr.e
         |  WHERE mr.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id,
         |         array_to_string(list(tok ORDER BY i), ' ') AS text_dedup,
         |         CAST(count(*) AS INT) AS n_kept
         |  FROM surv GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len(t) AS INT) AS n_toks FROM toks)
         |SELECT tot.doc_id,
         |       coalesce(agg.text_dedup, '') AS text_dedup,
         |       tot.n_toks - coalesce(agg.n_kept, 0) AS n_removed
         |FROM tot LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_winnow_join" ->
      s"""WITH $winnowCtes,
         |p AS (
         |  SELECT x.doc_id AS left_id, y.doc_id AS right_id,
         |         count(*) AS n_shared
         |  FROM exc x JOIN exc y ON x.fp = y.fp
         |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
         |  GROUP BY 1, 2)
         |SELECT left_id, right_id, n_shared FROM p
         |WHERE n_shared >= ${Dedup.MinSharedFp}
         |ORDER BY left_id, right_id""".stripMargin,
    // the persisted winnow index covers exactly doc_id % 10 <> 3 in both
    // gates (incremental: one build; lifecycle: build ∉{3,7} → merge 7 →
    // compact): same relational shared-fingerprint pairs, split 10%/90%
    "dedup_winnow_incremental" ->
      s"""WITH $winnowCtes,
         |p AS (
         |  SELECT x.doc_id AS left_id, y.doc_id AS right_id,
         |         count(*) AS n_shared
         |  FROM exc x JOIN exc y ON x.fp = y.fp
         |  WHERE x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3
         |  GROUP BY 1, 2)
         |SELECT left_id, right_id, n_shared FROM p
         |WHERE n_shared >= ${Dedup.MinSharedFp}
         |ORDER BY left_id, right_id""".stripMargin,
    "dedup_winnow_lifecycle" ->
      s"""WITH $winnowCtes,
         |p AS (
         |  SELECT x.doc_id AS left_id, y.doc_id AS right_id,
         |         count(*) AS n_shared
         |  FROM exc x JOIN exc y ON x.fp = y.fp
         |  WHERE x.doc_id % 10 = 3 AND y.doc_id % 10 <> 3
         |  GROUP BY 1, 2)
         |SELECT left_id, right_id, n_shared FROM p
         |WHERE n_shared >= ${Dedup.MinSharedFp}
         |ORDER BY left_id, right_id""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $toksCte,
         |g AS (
         |  SELECT doc_id, text,
         |         list_transform(range(1, greatest(len(t) - 1, 1)),
         |             i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS gr
         |  FROM toks)
         |SELECT doc_id, md5(text) AS content_md5,
         |       list_min(list_transform(gr, s -> substr(md5('fp:' || s), 1, 8)))
         |         AS fp_min,
         |       list_max(list_transform(gr, s -> substr(md5('fp:' || s), 1, 8)))
         |         AS fp_max
         |FROM g ORDER BY doc_id""".stripMargin,
    "text_regexp" ->
      """SELECT doc_id,
        |       coalesce(regexp_extract(text, 'qu[a-z]+'), '') AS first_qu,
        |       CAST(len(regexp_extract_all(text, 'data')) AS INT) AS n_data,
        |       CAST(len(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
        |         AS no_vowel_len,
        |       regexp_matches(text, 'join .* join') AS double_join
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sql_quality_gate" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val scoreCols = TextAnalysis.LangMarkers.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(t, x -> list_contains($lst, x))) AS score_$l"
      }.mkString(",\n         ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val cases = langs
        .map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'")
        .mkString("\n            ")
      s"""WITH $toksCte,
         |q AS (
         |  SELECT doc_id,
         |         (CASE WHEN len(text) BETWEEN 50 AND 2000 THEN 4 ELSE 0 END
         |          + CASE WHEN (len(list_filter(t, x -> list_contains($stopList, x)))
         |                       * 1.0 / len(t)) BETWEEN 0.05 AND 0.6 THEN 4 ELSE 0 END
         |          + CASE WHEN (len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
         |                       * 1.0 / len(text)) < 0.05 THEN 2 ELSE 0 END) / 10.0
         |           AS quality,
         |         CAST(len(regexp_extract_all(lower(text),
         |              '${TextAnalysis.BpePattern}')) AS INT) AS n_bpe_tokens,
         |         $scoreCols
         |  FROM toks),
         |b AS (SELECT *, $best AS best FROM q)
         |SELECT doc_id, quality, n_bpe_tokens,
         |       CASE $cases
         |            ELSE 'und' END AS pred_lang
         |FROM b WHERE quality >= 0.8 ORDER BY doc_id""".stripMargin
    },
    "q_range_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
        |FROM lineitem l JOIN orders o
        |  ON o.o_orderdate >= l.l_shipdate
        | AND o.o_orderdate < l.l_shipdate
        |       + to_days((CAST(l_quantity AS INT) % 14) + 1)
        |WHERE l.l_suppkey <= 2 AND o.o_orderpriority = '1-URGENT'
        |ORDER BY 1, 2, 3""".stripMargin,
    "text_pii_redact" -> {
      // identical synthetic-PII construction as Corpus.withSyntheticPii
      // (single line: || at a line start would lose a pipe to the outer
      // stripMargin)
      val pii = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call 555-' || " +
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || " +
        "CAST((doc_id // 7) % 256 AS VARCHAR) || '.9'"
      s"""WITH p AS (SELECT doc_id, $pii AS txt FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(txt, '${Corpus.EmailRe}')) AS INT)
         |         AS n_emails,
         |       CAST(len(regexp_extract_all(txt, '${Corpus.PhoneRe}')) AS INT)
         |         AS n_phones,
         |       CAST(len(regexp_extract_all(txt, '${Corpus.IpRe}')) AS INT)
         |         AS n_ips,
         |       regexp_replace(regexp_replace(regexp_replace(txt,
         |           '${Corpus.EmailRe}', '<EMAIL>', 'g'),
         |           '${Corpus.PhoneRe}', '<PHONE>', 'g'),
         |           '${Corpus.IpRe}', '<IP>', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "text_lm_score" ->
      s"""WITH d AS (
         |  SELECT doc_id, lower(substring(text, 1, ${TextAnalysis.LmPrefix})) AS p
         |  FROM documents WHERE length(lower(substring(text, 1, ${TextAnalysis.LmPrefix}))) >= 3),
         |ex AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, length(p) - 1),
         |                               i -> substring(p, i, 3))) AS tri,
         |         unnest(list_transform(range(1, length(p) - 1),
         |                               i -> substring(p, i, 2))) AS bi
         |  FROM d),
         |c3 AS (SELECT tri, count(*) AS c3 FROM ex GROUP BY tri),
         |c2 AS (SELECT bi, count(*) AS c2 FROM ex GROUP BY bi),
         |s AS (
         |  SELECT ex.doc_id, count(*) AS n_tri,
         |         sum((c2.c2 * 10000) // c3.c3) AS s
         |  FROM ex JOIN c3 USING (tri) JOIN c2 USING (bi)
         |  GROUP BY ex.doc_id)
         |SELECT doc_id, CAST(n_tri AS INT) AS n_tri,
         |       CAST((2 * s + n_tri) // (2 * n_tri) AS DOUBLE) / 10000.0
         |         AS lm_score
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      // chr(769) = U+0301 combining acute, chr(9) = tab — Corpus
      //.withSyntheticMess injected via codepoints on the Spark side too
      s"""WITH messy AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' e' || chr(769) || 'tude <b>bold</b>'
         |                   || chr(9) || 'ends  here'
         |              ELSE text END AS raw
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, raw,
         |         trim(regexp_replace(regexp_replace(regexp_replace(
         |             nfc_normalize(raw),
         |             '<[^>]*>', ' ', 'g'),
         |             '[\\x00-\\x1f\\x7f]', ' ', 'g'),
         |             ' +', ' ', 'g')) AS text_norm
         |  FROM messy)
         |SELECT doc_id, text_norm,
         |       CAST(length(raw) AS INT) AS n_chars_raw,
         |       CAST(length(text_norm) AS INT) AS n_chars_norm
         |FROM n ORDER BY doc_id""".stripMargin,
    "text_gopher" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $toksCte,
         |raw AS (
         |  SELECT doc_id, len(t) AS n,
         |         round(list_sum(list_transform(t, x -> len(x))) * 1.0
         |               / len(t), 4) AS ml,
         |         round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
         |               * 1.0 / len(t), 4) AS af,
         |         len(list_intersect(list_distinct(t), $stopList)) AS ns
         |  FROM toks)
         |SELECT doc_id, CAST(n AS INT) AS n_words, ml AS mean_word_len,
         |       af AS alpha_frac, CAST(ns AS INT) AS n_stopwords,
         |       n BETWEEN ${Corpus.MinWords} AND ${Corpus.MaxWords} AS pass_words,
         |       ml BETWEEN ${Corpus.MinMeanWordLen} AND ${Corpus.MaxMeanWordLen}
         |         AS pass_word_len,
         |       af >= ${Corpus.MinAlphaFrac} AS pass_alpha,
         |       ns >= ${Corpus.MinDistinctStopwords} AS pass_stop,
         |       (n BETWEEN ${Corpus.MinWords} AND ${Corpus.MaxWords})
         |         AND (ml BETWEEN ${Corpus.MinMeanWordLen} AND ${Corpus.MaxMeanWordLen})
         |         AND af >= ${Corpus.MinAlphaFrac}
         |         AND ns >= ${Corpus.MinDistinctStopwords} AS gopher_pass
         |FROM raw ORDER BY doc_id""".stripMargin
    },
    "text_classifier" ->
      s"""WITH $classifierCtes
         |SELECT y.doc_id, p.p6 AS score_micro,
         |       p.p6 >= ${QualityClassifier.LabelMicro / 2} AS pred_pass,
         |       y.y6 = ${QualityClassifier.LabelMicro} AS gopher_pass
         |FROM y JOIN pf p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_classifier_weights" ->
      s"""WITH $classifierCtes
         |SELECT bucket, wu AS weight_micro
         |FROM w${QualityClassifier.Iters} ORDER BY bucket""".stripMargin,
    "text_bpe_merges" -> {
      val ranks = (0 until Bpe.Merges).map(t =>
        s"SELECT ${t + 1} AS rank, a AS lhs, b AS rhs FROM mg$t")
        .mkString("\n|UNION ALL ")
      s"""WITH $bpeCtes
         |$ranks
         |ORDER BY rank""".stripMargin
    },
    // encode replay: training's final vocab symbolization (s<Merges>)
    // IS the encoding of every distinct word — join the corpus back
    // and count; docs whose text tokenizes to nothing report 0
    "text_bpe_encode" ->
      s"""WITH $bpeCtes,
         |dw AS (
         |  SELECT doc_id, unnest(
         |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0))
         |    AS w
         |  FROM documents),
         |enc AS (
         |  SELECT d.doc_id, CAST(count(*) AS INT) AS n_words,
         |         CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens
         |  FROM dw d JOIN s${Bpe.Merges} s USING (w)
         |  GROUP BY d.doc_id)
         |SELECT doc_id,
         |       coalesce(n_words, 0) AS n_words,
         |       coalesce(n_bpe_tokens, 0) AS n_bpe_tokens
         |FROM documents LEFT JOIN enc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_corpus_build" -> {
      val stopList =
        TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val pii = "tn || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call 555-' || " +
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || " +
        "CAST((doc_id // 7) % 256 AS VARCHAR) || '.9'"
      val bucket = "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)"
      s"""WITH messy AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' e' || chr(769) || 'tude <b>bold</b>'
         |                   || chr(9) || 'ends  here'
         |              ELSE text END AS raw
         |  FROM documents),
         |nn AS (
         |  SELECT doc_id,
         |         trim(regexp_replace(regexp_replace(regexp_replace(
         |             nfc_normalize(raw),
         |             '<[^>]*>', ' ', 'g'),
         |             '[\\x00-\\x1f\\x7f]', ' ', 'g'),
         |             ' +', ' ', 'g')) AS tn
         |  FROM messy),
         |pp AS (SELECT doc_id, $pii AS txt FROM nn),
         |base AS MATERIALIZED (
         |  SELECT doc_id,
         |         regexp_replace(regexp_replace(regexp_replace(txt,
         |             '${Corpus.EmailRe}', '<EMAIL>', 'g'),
         |             '${Corpus.PhoneRe}', '<PHONE>', 'g'),
         |             '${Corpus.IpRe}', '<IP>', 'g') AS t
         |  FROM pp),
         |tk AS MATERIALIZED (
         |  SELECT doc_id, t,
         |         list_filter(string_split(lower(t), ' '), x -> len(x) > 0)
         |           AS w
         |  FROM base),
         |g AS MATERIALIZED (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id, t, len(w) AS nw,
         |           round(list_sum(list_transform(w, x -> len(x))) * 1.0
         |                 / len(w), 4) AS ml,
         |           round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
         |                 * 1.0 / len(w), 4) AS af,
         |           len(list_intersect(list_distinct(w), $stopList)) AS ns
         |    FROM tk)
         |  WHERE coalesce(
         |      (nw BETWEEN ${Corpus.MinWords} AND ${Corpus.MaxWords})
         |      AND (ml BETWEEN ${Corpus.MinMeanWordLen}
         |             AND ${Corpus.MaxMeanWordLen})
         |      AND af >= ${Corpus.MinAlphaFrac}
         |      AND ns >= ${Corpus.MinDistinctStopwords}, FALSE)),
         |kept AS MATERIALIZED (
         |  SELECT doc_id, t, h FROM (
         |    SELECT doc_id, t, md5(t) AS h,
         |           row_number() OVER (PARTITION BY md5(t)
         |                              ORDER BY doc_id) AS rn
         |    FROM g) WHERE rn = 1),
         |rtoks AS (
         |  SELECT doc_id,
         |         list_filter(string_split(lower(text), ' '),
         |                     x -> len(x) > 0) AS rt
         |  FROM documents),
         |shb AS MATERIALIZED (
         |  SELECT doc_id,
         |         list_distinct(list_transform(
         |             range(1, greatest(len(rt) - 1, 1)),
         |             i -> array_to_string(list_slice(rt, i, i + 2), ' ')))
         |           AS s
         |  FROM rtoks WHERE len(rt) >= 3),
         |cx AS (
         |  SELECT b.doc_id
         |  FROM (SELECT doc_id, unnest(s) AS e FROM shb
         |        WHERE doc_id % ${Dedup.EvalStride} <> 0) b
         |  JOIN (SELECT DISTINCT unnest(s) AS e FROM shb
         |        WHERE doc_id % ${Dedup.EvalStride} = 0) ev USING (e)
         |  GROUP BY 1 HAVING count(*) >= ${Corpus.BuildContamOverlap})
         |SELECT k.doc_id,
         |       CASE WHEN $bucket < '${Corpus.TrainUpper}' THEN 'train'
         |            WHEN $bucket < '${Corpus.ValUpper}' THEN 'val'
         |            ELSE 'test' END AS split,
         |       CAST(len(tk.w) AS INT) AS n_words,
         |       k.h AS content_hash
         |FROM kept k JOIN tk USING (doc_id)
         |WHERE k.doc_id % ${Dedup.EvalStride} <> 0
         |  AND k.doc_id NOT IN (SELECT doc_id FROM cx)
         |ORDER BY k.doc_id""".stripMargin
    },
    "q_train_split" -> {
      val bucket = "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)"
      s"""SELECT doc_id, $bucket AS bucket,
         |       CASE WHEN $bucket < '${Corpus.TrainUpper}' THEN 'train'
         |            WHEN $bucket < '${Corpus.ValUpper}' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         len(list_filter(string_split(lower(text), ' '),
         |             x -> len(x) > 0)) AS n_toks
         |  FROM documents),
         |f AS (SELECT doc_id, source, n_toks,
         |             doc_id // ${Corpus.ShardSpan} AS shard
         |      FROM t WHERE n_toks > 0),
         |c AS (
         |  SELECT *, coalesce(CAST(SUM(n_toks) OVER (
         |           PARTITION BY source, shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |           0) AS cum_before
         |  FROM f)
         |SELECT doc_id, source, shard, n_toks,
         |       cum_before // ${Corpus.SeqLen} AS seq_first,
         |       (cum_before + n_toks - 1) // ${Corpus.SeqLen} AS seq_last,
         |       cum_before % ${Corpus.SeqLen} AS tok_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "dedup_url" -> {
      val rawUrl =
        s"""'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/'
           | || CAST(doc_id % 50 AS VARCHAR)
           | || CASE WHEN doc_id % 3 = 0
           |         THEN '/?utm_source=feed&utm_campaign=c'
           |              || CAST(doc_id % 7 AS VARCHAR)
           |         ELSE '/' END
           | || CASE WHEN doc_id % 5 = 0
           |         THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
           |         ELSE '' END""".stripMargin.replace("\n", "")
      s"""WITH raw AS (SELECT doc_id, $rawUrl AS u FROM documents),
         |nf AS (SELECT doc_id, regexp_replace(u, '#.*$$', '', 'g') AS u
         |       FROM raw),
         |hl AS (SELECT doc_id,
         |         lower(regexp_extract(u, '^([a-zA-Z]+://[^/]*)', 1))
         |           || regexp_replace(u, '^[a-zA-Z]+://[^/]*', '') AS u
         |       FROM nf),
         |np AS (SELECT doc_id, regexp_replace(u, ':(443|80)/', '/') AS u
         |       FROM hl),
         |nu AS (SELECT doc_id,
         |         regexp_replace(u, '[?&]utm_[a-z]+=[a-zA-Z0-9_-]*', '', 'g')
         |           AS u
         |       FROM np),
         |cn AS (SELECT doc_id,
         |         regexp_replace(regexp_replace(u, '[?&]$$', ''), '/$$', '')
         |           AS url
         |       FROM nu)
         |SELECT url, count(*) AS n_fetches, min(doc_id) AS keep_doc
         |FROM cn GROUP BY url ORDER BY url""".stripMargin
    },
    "q_mixture_sample" -> {
      val u = hexToLongSql("substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)")
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS mn FROM c)
         |SELECT d.doc_id, d.lang, round(mn * 1.0 / n, 6) AS rate
         |FROM documents d JOIN c USING (lang) CROSS JOIN m
         |WHERE $u / 4294967296.0 < mn * 1.0 / n
         |ORDER BY doc_id""".stripMargin
    },
    "q_training_order" ->
      s"""SELECT doc_id,
         |       substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 16)
         |         AS sort_key
         |FROM documents
         |ORDER BY sort_key, doc_id LIMIT ${Sampling.TrainingOrderK}""".stripMargin,
    "q_zorder_events" -> {
      val mask = (1L << Layout.ZBits) - 1
      val zTerms = (0 until Layout.ZBits).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT event_id,
         |         user_id % ${mask + 1} AS xb,
         |         CAST(floor(value * 10) AS BIGINT) % ${mask + 1} AS yb
         |  FROM events)
         |SELECT event_id, xb, yb, $zTerms AS z
         |FROM b ORDER BY z, event_id LIMIT ${Layout.ZOrderK}""".stripMargin
    },
    "text_chunks" -> {
      val (cs, st) = (Corpus.ChunkSize, Corpus.ChunkStride)
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, t, len(t) AS n,
         |        CASE WHEN len(t) <= $cs THEN 1
         |             ELSE (len(t) - $cs + ${st - 1}) // $st + 1 END AS nchunks
         |      FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, t, n, unnest(range(nchunks)) AS chunk_id FROM d)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |       CAST(least($cs, n - chunk_id * $st) AS INT) AS n_toks,
         |       array_to_string(
         |         list_slice(t, chunk_id * $st + 1, chunk_id * $st + $cs), ' ')
         |         AS chunk
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },
    "dedup_spans" -> {
      val w = Corpus.SpanTokens
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, t, (len(t) + ${w - 1}) // $w AS nspans
         |      FROM toks WHERE len(t) > 0),
         |s AS (SELECT doc_id, t, unnest(range(nspans)) AS sp FROM d),
         |spn AS (SELECT doc_id,
         |          md5(array_to_string(
         |            list_slice(t, sp * $w + 1, sp * $w + $w), ' ')) AS h
         |        FROM s),
         |cnt AS (SELECT h, count(*) AS c FROM spn GROUP BY 1),
         |agg AS (SELECT doc_id, count(*) AS ns,
         |          sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS nd
         |        FROM spn JOIN cnt USING (h) GROUP BY 1)
         |SELECT doc_id, CAST(ns AS INT) AS n_spans, CAST(nd AS INT) AS n_dup_spans,
         |       ((2 * 10000 * nd + ns) // (2 * ns)) / 10000.0 AS dup_frac,
         |       ((2 * 10000 * nd + ns) // (2 * ns)) / 10000.0 < 0.5 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "text_top_terms" ->
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS term FROM toks)
         |SELECT term, count(*) AS cnt, count(DISTINCT doc_id) AS df
         |FROM ex GROUP BY 1
         |ORDER BY cnt DESC, term LIMIT ${Corpus.TopTermsK}""".stripMargin,
    "sim_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |        list_min(v) AS mn, list_max(v) AS mx FROM v),
        |s AS (SELECT *, (mx - mn) / 255.0 AS scale FROM m WHERE mx > mn),
        |d AS (SELECT vec_id, label, v,
        |        list_transform(v, x -> mn + floor((x - mn) / scale + 0.5)
        |                                 * scale) AS dq
        |      FROM s)
        |SELECT vec_id, label,
        |       round(sqrt(list_sum(list_transform(range(1, len(v) + 1),
        |             i -> (v[i] - dq[i]) * (v[i] - dq[i])))), 4) AS qerr_l2,
        |       round(list_max(list_transform(range(1, len(v) + 1),
        |             i -> abs(v[i] - dq[i]))), 4) AS qerr_max
        |FROM d ORDER BY vec_id""".stripMargin,
    // Closed-form replay of MediaCodec.synthImage: payload pixel bytes
    // follow (doc_id + i) % 256 in raster order and width is a multiple
    // of 4 (no BMP row padding), so the decoded channel-value SUM over
    // the raster — which only a real pixel decode can produce — is
    // analytic in doc_id for BOTH formats. px_mean is exact integer
    // half-up: (200*sum + n) // (2*n) cents.
    "q_media_image" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 * (1 + doc_id % 8) AS INT) AS w,
        |         CAST(2 + (doc_id * 5) % 14 AS INT) AS h,
        |         doc_id % 17 = 0 AS trunc
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, trunc, 3 * w * h AS n,
        |         CASE WHEN trunc THEN 0 ELSE
        |           list_sum(list_transform(range(0, 3 * w * h),
        |             i -> (doc_id + i) % 256)) END AS px_sum
        |  FROM d)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END
        |    AS claimed_format,
        |  CASE WHEN trunc THEN 'unknown'
        |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(CASE WHEN trunc THEN 0 ELSE w END AS INT) AS width,
        |  CAST(CASE WHEN trunc THEN 0 ELSE h END AS INT) AS height,
        |  CAST(CASE WHEN trunc THEN 0 ELSE n END AS BIGINT) AS n_px,
        |  CASE WHEN trunc THEN 0.0
        |       ELSE ((200 * px_sum + n) // (2 * n)) / 100.0 END AS px_mean
        |FROM s ORDER BY doc_id""".stripMargin,
    // table verbs: the oracle derives what UPDATE/MERGE/DELETE/COMPACT/
    // change-feed MUST produce, relationally from `documents` alone
    "q_table_merge" -> operators.TableVerbs.mergeFinalStateOracle,
    "q_table_changes" -> operators.TableVerbs.changeFeedOracle,
    "q_catalog_lifecycle" -> operators.CatalogLifecycle.lifecycleOracle,
    "q_log_insert" -> operators.CatalogLifecycle.logInsertOracle,
    "q_log_evolve" -> operators.CatalogLifecycle.logEvolveOracle,
    "q_stream_table" -> operators.TableVerbs.streamTableOracle,
    "q_table_zorder" -> operators.TableVerbs.zorderTableOracle,
    // jsonl roundtrip must be lossless — the oracle IS the source table
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // arrow roundtrip likewise: the oracle is the join itself, stated
    // relationally; list column verified via order-sensitive scalars
    // (left fold seeded at 0.0 = Spark's aggregate(), exact for the
    // same IEEE addition order)
    "q_arrow_roundtrip" ->
      """SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, e.label,
        |       d.n_chars / 7.0 AS ratio,
        |       d.doc_id % 3 = 0 AS flag,
        |       CAST(len(e.embedding) AS INT) AS emb_len,
        |       round(list_reduce(
        |         list_prepend(0.0, list_transform(e.embedding,
        |           x -> CAST(x AS DOUBLE))), (a, b) -> a + b), 3) + 0.0 AS emb_sum,
        |       round(CAST(e.embedding[1] AS DOUBLE), 4) + 0.0 AS emb_first,
        |       round(CAST(e.embedding[-1] AS DOUBLE), 4) + 0.0 AS emb_last
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // streamed arrow shards must be lossless and boundary-invisible:
    // the oracle is the bare source projection
    "q_stream_arrow" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the DSv2 pruned-scan aggregate restated over the source table
    // (DuckDB sum(BIGINT) yields HUGEINT — cast back)
    "q_arrow_source" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // un-grouped MIN/MAX/COUNT served from the export's stamped stats
    // (zero record batches loaded — the plan is required to carry the
    // stats-served scan); the oracle computes the same extremes from
    // the raw table
    "q_arrow_stats_agg" ->
      """SELECT min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       count(*) AS n_docs
        |FROM documents""".stripMargin,
    // DSv2 writer → reader roundtrip must be lossless: the oracle is
    // the bare source projection (same contract as q_stream_arrow)
    "q_arrow_write" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the full streaming plane (producer shards → DSv2 streaming
    // consumer) must be lossless end to end: same oracle contract
    "q_arrow_stream_read" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-file equality blooms (hash-spread layout, zone maps useless):
    // the oracle pins the exact surviving rows; the pruning itself is
    // spec-asserted (planned partitions < files)
    "q_bloom_lookup" ->
      """SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS key,
        |       doc_id, lang, n_chars
        |FROM documents
        |WHERE doc_id IN (3, 57, 123, 222, 404)
        |ORDER BY key""".stripMargin,
    // string zone maps (range-clustered layout): key-range + prefix
    // predicates prune files; the oracle pins the aggregate
    "q_string_prune" ->
      """SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM (SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS key,
        |             lang, n_chars
        |      FROM documents)
        |WHERE key >= 'doc-000000100' AND key < 'doc-000000300'
        |  AND key LIKE 'doc-0000001%'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the nested wire (struct-of-struct + list<struct>) flattened back
    // out: the oracle is the same flatten stated relationally — the
    // UNION ALL mirrors the 2-element list<struct> each doc carries
    "q_arrow_nested" ->
      """SELECT lang, tag, count(*) AS n,
        |       CAST(sum(v) AS BIGINT) AS sum_v,
        |       CAST(sum(nc) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars AS nc, 'chars' AS tag, n_chars AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT lang, n_chars, 'id', doc_id FROM documents)
        |GROUP BY lang, tag ORDER BY lang, tag""".stripMargin,
    "q_multimodal_features" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(4 * (1 + doc_id % 8) AS INT) AS w,
         |         CAST(2 + (doc_id * 5) % 14 AS INT) AS h,
         |         doc_id % 17 = 0 AS trunc
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, w, h, trunc, 3 * w * h AS n,
         |         CASE WHEN trunc THEN 0 ELSE
         |           list_sum(list_transform(range(0, 3 * w * h),
         |             i -> (doc_id + i) % 256)) END AS px_sum
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END
         |    AS claimed_format,
         |  CASE WHEN trunc THEN 'unknown'
         |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
         |  CAST(CASE WHEN trunc THEN 0 ELSE w END AS INT) AS width,
         |  CAST(CASE WHEN trunc THEN 0 ELSE h END AS INT) AS height,
         |  CAST(CASE WHEN trunc THEN 0 ELSE n END AS BIGINT) AS n_px,
         |  CASE WHEN trunc THEN 0.0
         |       ELSE ((200 * px_sum + n) // (2 * n)) / 100.0 END AS px_mean,
         |  CAST(CASE WHEN trunc THEN 0 ELSE
         |    greatest(floor(w * (${Multimodal.TargetDim}.0
         |      / greatest(w, h))), 1) END AS INT) AS rs_width,
         |  CAST(CASE WHEN trunc THEN 0 ELSE
         |    greatest(floor(h * (${Multimodal.TargetDim}.0
         |      / greatest(w, h))), 1) END AS INT) AS rs_height,
         |  CAST(CASE WHEN trunc THEN 0 ELSE least(n // 100 + 1, 16) END
         |    AS INT) AS n_frames
         |FROM s ORDER BY doc_id""".stripMargin,
    // Closed-form replay of MediaCodec.synth's parameters: the Spark
    // side SYNTHESIZES spec-conformant PPM/BMP/WAV bytes and PARSES
    // them back with independent code; the oracle states what a correct
    // round trip must report (incl. exact byte counts and the
    // truncated-payload fallback), so a bug in writer OR reader breaks
    // the hash.
    "q_media_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(2 + doc_id % 14 AS INT) AS w,
        |         CAST(2 + (doc_id * 7) % 14 AS INT) AS h,
        |         CAST(1 + doc_id % 2 AS INT) AS ch,
        |         CAST(8000 + (doc_id % 4) * 4000 AS INT) AS rate,
        |         CAST(8 * (1 + (doc_id // 3) % 2) AS INT) AS bits,
        |         CAST(8 + doc_id % 32 AS INT) AS ns
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN 'unknown'
        |       WHEN doc_id % 3 = 0 THEN 'ppm'
        |       WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 17 = 0 OR doc_id % 3 = 2 THEN 0
        |       ELSE w END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 17 = 0 OR doc_id % 3 = 2 THEN 0
        |       ELSE h END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |       WHEN doc_id % 3 = 2 THEN ch ELSE 3 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 17 = 0 OR doc_id % 3 <> 2 THEN 0
        |       ELSE rate END AS INT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 17 = 0 THEN 0
        |       WHEN doc_id % 3 = 0 THEN 8
        |       WHEN doc_id % 3 = 1 THEN 24 ELSE bits END AS INT)
        |    AS bit_depth,
        |  CAST(CASE WHEN doc_id % 17 = 0 THEN 6
        |       WHEN doc_id % 3 = 0 THEN
        |         9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |           + w * h * 3
        |       WHEN doc_id % 3 = 1 THEN 54 + ((w * 3 + 3) // 4) * 4 * h
        |       ELSE 44 + ns * ch * (bits // 8) END AS INT) AS n_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
  )
}
