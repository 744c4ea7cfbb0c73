package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.proto._

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`
  * or `.withExtensions(new GraftExtensions)`):
  *
  *  - SQL-callable wire-codec functions, so plain-SQL users get the
  *    decode path (`SELECT graft_decode_bidrequest(value).id FROM …`)
  *    without touching the Scala API;
  *  - the LLM-curation operator surface as SQL functions: scalar
  *    `graft_quality` / `graft_token_stats` / `graft_lang_id` /
  *    `graft_fingerprint`, the `graft_kmv_distinct` sketch aggregate,
  *    and the `graft_minhash_pairs('<dir>')` table function — a
  *    SQL-first user can run the curation pipeline without the Scala
  *    API;
  *  - an optimizer rule eliminating encode→decode roundtrips
  *    (`proto_decode(proto_encode(x))` → `x` when schemas match) — the
  *    kind of plan-level win the reference can't express because its
  *    decode is an opaque Go function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_decode_bidrequest"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ProtoDecode].getName, "graft_decode_bidrequest"),
        (args: Seq[Expression]) =>
          ProtoDecode(args.head, BidRequestSchema.bidrequest)))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_encode_bidrequest"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ProtoEncode].getName, "graft_encode_bidrequest"),
        (args: Seq[Expression]) =>
          ProtoEncode(args.head, BidRequestSchema.bidrequest)))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_le_uint64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[LittleEndianLong].getName, "graft_le_uint64"),
        (args: Seq[Expression]) => LittleEndianLong(args.head)))
    GraftExtensions.scalarFunctions.foreach { case (name, builder) =>
      e.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            GraftExtensions.getClass.getName, name),
          builder))
    }
    GraftExtensions.tableFunctions.foreach { case (name, builder) =>
      e.injectTableFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            GraftExtensions.getClass.getName, name),
          builder))
    }
    e.injectOptimizerRule(_ => ProtoRoundtripElimination)
    // maintenance verbs (GRAFT OPTIMIZE/VACUUM/DELETE) and the GRAFT
    // INDEX verbs
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  import org.apache.spark.sql.GraftColumnBridge.{column, resolvedExpression}

  /** The scalar LLM-operator functions, by SQL name. Each wraps the
    * SAME Catalyst column formula the Scala API uses
    * ([[graft.operators.TextAnalysis]]) — pure built-in expressions, so
    * the SQL path stays inside whole-stage codegen exactly like the
    * DataFrame path, and results are bit-identical between the two.
    */
  private[graft] val scalarFunctions: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "graft_nfc" -> { args => graft.functions.NfcNormalize(args.head) },
      "graft_normalize_text" -> { args =>
        resolvedExpression(
          graft.operators.Corpus.normalizeTextCol(column(args.head))) },
      "graft_quality" -> { args =>
        resolvedExpression(graft.operators.TextAnalysis.qualityCol(column(args.head))) },
      "graft_token_stats" -> { args =>
        resolvedExpression(graft.operators.TextAnalysis.tokenStatsCol(column(args.head))) },
      "graft_lang_id" -> { args =>
        resolvedExpression(graft.operators.TextAnalysis.langIdCol(column(args.head))) },
      "graft_fingerprint" -> { args =>
        resolvedExpression(graft.operators.TextAnalysis.fingerprintCol(column(args.head))) },
      "graft_pii_redact" -> { args =>
        resolvedExpression(graft.operators.Corpus.piiRedactCol(column(args.head))) },
      "graft_gopher" -> { args =>
        resolvedExpression(graft.operators.Corpus.gopherCol(column(args.head))) },
      "graft_split" -> { args =>
        resolvedExpression(graft.operators.Corpus.splitCol(column(args.head))) },
      "graft_canonical_url" -> { args =>
        resolvedExpression(graft.operators.Corpus.canonicalUrl(column(args.head))) },
      "graft_zvalue" -> { args =>
        resolvedExpression(graft.operators.Layout.zValue(
          column(args(0)), column(args(1)))) },
      // aggregate: the analyzer wraps a bare AggregateFunction returned
      // by a registry builder in its AggregateExpression
      "graft_kmv_distinct" -> { args =>
        val k = args(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_kmv_distinct k must be a literal integer, got $other")
        }
        graft.functions.KmvDistinct(args.head, k)
      })

  /** The whole-table curation operators as SQL table functions:
    * `SELECT * FROM graft_minhash_pairs('<documents dir>')` etc. Each
    * takes one literal path argument and plans the corresponding
    * Scala-API operator — `graft_minhash_pairs` and `graft_clusters`
    * read the memoized materialized pair frame
    * ([[graft.operators.Dedup.minhashLsh]]), so SQL and Scala consumers
    * share one LSH pass per session per corpus.
    */
  private[graft] val tableFunctions
      : Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_minhash_pairs" ->
      tablePlan("graft_minhash_pairs", graft.operators.Dedup.minhashLsh),
    "graft_exact_dedup" ->
      tablePlan("graft_exact_dedup", graft.operators.Dedup.exact),
    "graft_simhash_pairs" ->
      tablePlan("graft_simhash_pairs", graft.operators.Dedup.simhash),
    "graft_ngram_jaccard_pairs" ->
      tablePlan("graft_ngram_jaccard_pairs", graft.operators.Dedup.ngramJaccard),
    "graft_winnow_pairs" ->
      tablePlan("graft_winnow_pairs", graft.operators.Dedup.winnowPairs),
    "graft_substring_spans" ->
      tablePlan("graft_substring_spans",
        graft.operators.Dedup.exactSubstringSpans),
    "graft_quality_classifier" ->
      tablePlan("graft_quality_classifier",
        graft.operators.QualityClassifier.classify),
    "graft_classifier_weights" ->
      tablePlan("graft_classifier_weights",
        graft.operators.QualityClassifier.modelWeights),
    "graft_clusters" ->
      tablePlan("graft_clusters",
        (s, d) => graft.operators.Dedup.clusters(
          graft.operators.Dedup.minhashLsh(s, d))),
    "graft_decontaminate" ->
      tablePlan("graft_decontaminate", graft.operators.Dedup.decontaminate),
    "graft_embedding_neardup" ->
      tablePlan("graft_embedding_neardup",
        (s, d) => graft.operators.Dedup.embeddingNearDup(s, d)),
    "graft_rarity" ->
      tablePlan("graft_rarity", graft.operators.TextAnalysis.rarityScore),
    "graft_tfidf" ->
      tablePlan("graft_tfidf", graft.operators.TextAnalysis.tfIdfTopTerms),
    "graft_repetition" ->
      tablePlan("graft_repetition",
        graft.operators.TextAnalysis.repetitionStats),
    "graft_token_chunks" ->
      tablePlan("graft_token_chunks", graft.operators.Corpus.tokenChunks),
    "graft_span_dedup" ->
      tablePlan("graft_span_dedup", graft.operators.Corpus.spanDedup),
    "graft_top_terms" ->
      tablePlan("graft_top_terms", graft.operators.Corpus.topTerms),
    "graft_quantize_profile" ->
      tablePlan("graft_quantize_profile",
        graft.operators.Corpus.quantizeProfile),
    "graft_pack_sequences" ->
      tablePlan("graft_pack_sequences", graft.operators.Corpus.packSequences),
    "graft_url_dedup" ->
      tablePlan("graft_url_dedup", graft.operators.Corpus.urlDedup),
    "graft_mixture_sample" ->
      tablePlan("graft_mixture_sample",
        graft.operators.Sampling.mixtureSample),
    "graft_training_order" ->
      tablePlan("graft_training_order",
        graft.operators.Sampling.trainingOrder),
    "graft_decontaminate_bloom" ->
      tablePlan("graft_decontaminate_bloom",
        graft.operators.Dedup.decontaminateBloom),
    "graft_kmeans" ->
      tablePlan("graft_kmeans", graft.operators.Similarity.kmeans),
    "graft_pq_topk" ->
      tablePlan("graft_pq_topk", graft.operators.Similarity.pqTopK),
    "graft_corpus_build" ->
      tablePlan("graft_corpus_build", graft.operators.Corpus.corpusBuild),
    "graft_bpe_merges" ->
      tablePlan("graft_bpe_merges", graft.operators.Bpe.merges),
    "graft_lm_score" ->
      tablePlan("graft_lm_score", graft.operators.TextAnalysis.lmScore),
    "graft_semantic_dedup" ->
      tablePlan("graft_semantic_dedup",
        graft.operators.Similarity.semanticDedup),
    // transactional-table reads: graft_table_read(root, sink [, asOf])
    // — snapshot or time-travel over the GraftTable commit log, the SQL
    // face of the table format
    "graft_table_read" -> { args =>
      require(args.length == 2 || args.length == 3,
        "graft_table_read(root, sink [, asOfBatchId | asOfTimestamp]) " +
          "takes two literal paths and an optional version or instant")
      val root = litString("graft_table_read", args(0))
      val sink = litString("graft_table_read", args(1))
      val spark = org.apache.spark.sql.SparkSession.active
      val df =
        if (args.length == 3) {
          // integer literal = batch id; string literal = instant,
          // resolved through the same monotone commit timestamps as
          // TIMESTAMP AS OF (epoch millis, ISO-8601, or UTC
          // 'yyyy-MM-dd[ HH:mm:ss]')
          val asOf = args(2).eval() match {
            case i: Int => i.toLong
            case l: Long => l
            case s: org.apache.spark.unsafe.types.UTF8String =>
              graft.sources.GraftTable.versionAt(spark, root,
                graft.sources.GraftLogSourceProvider
                  .parseInstantMillis(s.toString))
            case other => throw new IllegalArgumentException(
              "graft_table_read's third argument must be a literal " +
                s"integer version or string instant, got $other")
          }
          graft.sources.GraftTable.readAsOf(spark, root, sink, asOf)
        } else graft.sources.GraftTable.read(spark, root, sink)
      df.queryExecution.analyzed
    },
    // incremental consumption: files added in (after, until] only —
    // the change-data-feed read, SQL face of GraftTable.readChanges
    "graft_table_changes" -> { args =>
      require(args.length == 3 || args.length == 4,
        "graft_table_changes(root, sink, afterVersion [, untilVersion])")
      def litLong(e: Expression): Long = e.eval() match {
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"graft_table_changes versions must be literal integers, got $other")
      }
      val spark = org.apache.spark.sql.SparkSession.active
      val df = graft.sources.GraftTable.readChanges(spark,
        litString("graft_table_changes", args(0)),
        litString("graft_table_changes", args(1)),
        litLong(args(2)),
        if (args.length == 4) litLong(args(3)) else Long.MaxValue)
      df.queryExecution.analyzed
    },
    // two-argument form: cross-corpus similarity join between two
    // document directories (crawl vs landed corpus)
    "graft_minhash_join" -> { args =>
      require(args.length == 2,
        "graft_minhash_join(left_dir, right_dir) takes two literal paths")
      val Seq(l, r) = args.map(litString("graft_minhash_join", _))
      val spark = org.apache.spark.sql.SparkSession.active
      def docs(d: String) = graft.sources.Tables.documents(spark, d)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      graft.operators.Dedup.minhashJoin(docs(l), docs(r))
        .queryExecution.analyzed
    },
    // two-argument form: cross-corpus exact-substring (winnowed
    // fingerprint) join between two document directories
    "graft_winnow_join" -> { args =>
      require(args.length == 2,
        "graft_winnow_join(left_dir, right_dir) takes two literal paths")
      val Seq(l, r) = args.map(litString("graft_winnow_join", _))
      val spark = org.apache.spark.sql.SparkSession.active
      def docs(d: String) = graft.sources.Tables.documents(spark, d)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      graft.operators.Dedup.winnowJoin(docs(l), docs(r))
        .queryExecution.analyzed
    },
    // the READ side of the GRAFT INDEX SQL verbs: probe a persisted
    // index with (a predicate-filtered slice of) a documents directory.
    // A table function, not a command, so results stay a lazy plan —
    // composable in any SELECT, never collected to the driver
    "graft_index_query" -> { args =>
      require(args.length == 3 || args.length == 4,
        "graft_index_query(kind, indexRoot, docsDir [, predicate]) " +
          "takes three or four literal strings")
      val kind = litString("graft_index_query", args(0)).toUpperCase
      val root = litString("graft_index_query", args(1))
      val dir = litString("graft_index_query", args(2))
      val spark = org.apache.spark.sql.SparkSession.active
      import org.apache.spark.sql.functions.{col, expr}
      val base = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val inc =
        if (args.length == 4)
          base.filter(expr(litString("graft_index_query", args(3))))
        else base
      (kind match {
        case "MINHASH" => graft.operators.MinhashIndex.query(spark, root, inc)
        case "WINNOW" => graft.operators.WinnowIndex.query(spark, root, inc)
        case "TERMS" => graft.operators.TermStatsIndex.query(spark, root, inc)
        case "DECONTAM" => graft.operators.DecontamIndex.query(spark, root, inc)
        case other => throw new IllegalArgumentException(
          s"graft_index_query: unknown index kind '$other' " +
            "(want MINHASH | WINNOW | TERMS | DECONTAM)")
      }).queryExecution.analyzed
    })

  private def litString(name: String, e: Expression): String =
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$name arguments must be literal strings, got $other")
    }

  private def tablePlan(name: String,
      op: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Seq[Expression] => LogicalPlan =
    { args =>
      require(args.length == 1,
        s"$name(dir) takes exactly one literal path argument")
      val dir = litString(name, args.head)
      op(org.apache.spark.sql.SparkSession.active, dir)
        .queryExecution.analyzed
    }
}

/** Eliminates `proto_decode(proto_encode(x))` ONLY when `x` is itself a
  * `proto_decode` output with the same schema: decode output is already
  * in normalized proto3 form (absent scalars = defaults, never NULL), so
  * re-encoding and re-decoding it is the identity and both hops can be
  * dropped. The rewrite is NOT applied to arbitrary structs — for those
  * the roundtrip is a normalization (NULL scalars → defaults), not an
  * identity. Known non-identity corner even for decode-wrapped input:
  * a foreign writer emitting an explicit -0.0f survives one decode but
  * re-encodes as absent (0.0f).
  */
object ProtoRoundtripElimination extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ProtoDecode(ProtoEncode(child @ ProtoDecode(_, m0, _), m1), m2, _)
          if m0 == m1 && m1 == m2 => child
    }
}
