package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** Deduplication family over the `documents` table — the operators a
  * training-data pipeline needs beyond the reference's surface
  * (BASELINE.json north_star; the reference's only dedup backstop is
  * `count(distinct)` — /root/reference/main.go:117).
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash group-by: one shuffle on the content hash.
  *  - MinHash/SimHash avoid the O(n²) pair space via LSH banding: the
  *    only shuffle is on (band, key) — candidate pairs are the join
  *    output, a tiny fraction of n².
  *  - Hot-key hardening: every self-join key (band bucket, identical-
  *    text group) is frequency-capped at [[HotGroupCap]]. Groups at or
  *    under the cap emit the full pair clique; groups OVER the cap emit
  *    a spanning star (min doc vs the rest) instead — per-task join
  *    input stays O(cap × group), never O(group²), and the duplicate
  *    CLUSTERS (connected components, what dedup consumes) are
  *    identical for the pairs that pass verification. The residual
  *    trade, stated honestly: a star edge is verified against the
  *    bucket-min doc, so two over-cap-bucket members similar to EACH
  *    OTHER but not to the minimum can lose their pair unless they
  *    co-occur in another band (with 4 independent bands they almost
  *    always do — the standard LSH argument). ngramJaccard additionally collapses identical texts to
  *    one representative before building its inverted shingle index and
  *    drops hyper-frequent shingles ([[ShingleFreqCap]], far above any
  *    organic frequency) — a pair whose entire overlap is hyper-frequent
  *    shingles can be missed, the standard prefix-filtering trade.
  *  - The embedding near-dup is a tiled block join (see
  *    [[embeddingNearDup]]) so the cross product never materializes.
  *  - All hashes are md5-derived (deterministic, engine-agnostic) so the
  *    DuckDB oracle reproduces them bit-for-bit; fixed-width lowercase
  *    hex compares lexicographically = numerically.
  */
object Dedup {

  val NumHashes = 16
  val NumBands = 4 // 4 rows per band
  val MinhashJaccardThreshold = 0.5
  val SimhashBits = 64 // as two 32-bit words (avoids 64-bit sign overflow)
  val SimhashMaxHamming = 3
  val NgramN = 3
  val EmbeddingCosThreshold = 0.45

  /** Self-join groups over this size switch from clique to spanning
    * star (see the header). Far above organic group sizes (max band
    * bucket / identical-text group in the test corpus is single
    * digits), so the oracle-checked results are bit-identical; an
    * adversarial 10⁶-identical-docs key stays linear. */
  val HotGroupCap = 256

  /** Shingles seen in more than this many distinct documents are
    * dropped from the inverted index (organic max observed: 25). */
  val ShingleFreqCap = 1000

  /** (doc_id, sh: distinct word-3-gram shingles), docs with ≥1 shingle.
    *
    * Built in a typed tight loop rather than Catalyst
    * `transform(sequence…, slice…)`: the higher-order-function form
    * allocates a sliced array + joined string per position per row and
    * measured ~40 ms/doc; the loop is ~100× cheaper and stays a narrow,
    * shuffle-free map. Values are identical (single-space tokenization,
    * first-occurrence distinct), so the DuckDB oracle is unchanged.
    */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Same typed shingle pass over an arbitrary (doc_id, text) frame —
    * lets ngramJaccard shingle only the deduplicated representatives. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .map { case (id, text) =>
        val (sh, n) = shinglesWithCount(text)
        (id, sh, n)
      }
      .toDF("doc_id", "sh", "n_toks")
      .filter(size(col("sh")) > 0)
  }

  /** (doc_id, sh, sig): distinct shingles plus the 16-wide MinHash
    * signature, one typed narrow pass per document — no explode, no
    * aggregation shuffle. The 16 hash families come from ONE md5 per
    * shingle via double hashing (h_j = (h1 + j·h2) mod 2³²), where
    * h1/h2 are the first/second 4 bytes of md5("mh:" ++ shingle) read
    * big-endian unsigned — bit-identical to the SQL oracle's
    * `conv(substring(md5(…),1,8),16,10)` / chars 9-16, so the signatures
    * (and therefore bands and pairs) are unchanged from the relational
    * formulation, at ~1/20th the cost.
    */
  /** Distinct word-3-gram shingles of one document (the typed kernel
    * behind [[shinglesOf]]/[[shingleSigs]]); empty when < NgramN tokens. */
  private[graft] def shinglesOfText(text: String): Array[String] =
    shinglesWithCount(text)._1

  /** The ONE tokenize + 3-gram + first-occurrence-distinct kernel —
    * every shingle consumer must agree bit-for-bit with the DuckDB
    * oracle, so the loop exists exactly once. Returns (shingles,
    * token count). */
  private def shinglesWithCount(text: String): (Array[String], Int) = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(' ').filter(_.nonEmpty)
    val n = toks.length
    val sh =
      if (n < NgramN) Array.empty[String]
      else {
        val all = new Array[String](n - NgramN + 1)
        var i = 0
        while (i < all.length) {
          all(i) = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
          i += 1
        }
        all.distinct
      }
    (sh, n)
  }

  /** The 16-wide MinHash signature over a shingle set — all hash
    * families from ONE md5 per shingle via double hashing
    * (h_j = (h1 + j·h2) mod 2³²), h1/h2 = first/second 4 bytes of
    * md5("mh:" ++ shingle) big-endian unsigned. Shared by the batch
    * operator and the streaming near-dup twin so both paths emit
    * bit-identical signatures. */
  private[graft] def minhashSignature(
      sh: Array[String],
      digest: java.security.MessageDigest): Array[Long] = {
    val sig = Array.fill(NumHashes)(0xffffffffL)
    sh.foreach { s =>
      val d = digest.digest(
        ("mh:" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h1 = 0L
      var h2 = 0L
      var b = 0
      while (b < 4) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
      while (b < 8) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < NumHashes) {
        val h = (h1 + j.toLong * h2) & 0xffffffffL
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }
    sig
  }

  /** LSH band keys of a signature: md5 hex of the band's row values
    * joined with '_' — the same bytes the batch band columns produce. */
  private[graft] def bandKeys(
      sig: Array[Long],
      digest: java.security.MessageDigest): Array[String] = {
    val rows = NumHashes / NumBands
    Array.tabulate(NumBands) { b =>
      val joined = (0 until rows).map(r => sig(rows * b + r).toString)
        .mkString("_")
      digest.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(x => f"${x & 0xff}%02x").mkString
    }
  }

  private[operators] def shingleSigs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)].mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, text) =>
        val sh = shinglesOfText(text)
        if (sh.isEmpty) Iterator.empty
        else Iterator.single((id, sh, minhashSignature(sh, digest)))
      }
    }.toDF("doc_id", "sh", "sig")
  }

  /** Hot-key-capped self-join: unordered id pairs sharing a key, as the
    * full clique for groups of size ≤ [[HotGroupCap]] and a spanning
    * star (group-min vs the rest) for larger groups. Join input per key
    * is O(group) on each side; only clique OUTPUT is quadratic and only
    * up to the cap. `df` must have an `id` column plus `keyCols`.
    */
  private[operators] def selfJoinCapped(df: DataFrame, keyCols: Seq[String])
      : DataFrame = {
    // group size/min via window functions: ONE shuffle on the key, whose
    // partitioning the self-join below then reuses (no agg+join round trip)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val bk = df.withColumn("__n", count(lit(1)).over(w))
      .withColumn("__mn", min(col("id")).over(w))
    val cold = bk.filter(col("__n") <= HotGroupCap)
    val coldPairs = cold.as("x")
      .join(cold.as("y"),
        keyCols.map(k => col(s"x.$k") === col(s"y.$k"))
          .reduce(_ && _) && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val hotPairs = bk.filter(col("__n") > HotGroupCap && col("id") =!= col("__mn"))
      .select(col("__mn").as("id_a"), col("id").as("id_b"))
    coldPairs.unionByName(hotPairs)
  }

  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact dedup: group documents by content hash; emit group size and
    * the surviving (minimum) doc_id. One shuffle, fully scalable.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy("content_hash")

  /** MinHash + LSH near-dup pairs: 16 min-hashes over word 3-gram
    * shingles ([[shingleSigs]], one typed narrow pass), 4 bands × 4
    * rows; pairs sharing any band bucket are candidates; candidates are
    * verified with true Jaccard ≥ 0.5. The band self-join shuffles on
    * (band, key) only — no n² pair space.
    *
    * The per-doc (shingles, signature) frame is the branch point of the
    * whole operator (band self-join left/right, hot stars, and both
    * verification joins read it) — it is cached for the operator's
    * duration and the small pair result is materialized before return,
    * so no consumer ever re-runs the shingle pass.
    *
    * The result is additionally memoized per (session, input dir):
    * [[clusters]] and [[Curation.pipeline]] consume the same pair frame,
    * and at any scale recomputing LSH per consumer is the dominant
    * waste. Entries are lineage-free materialized frames of pair rows
    * (tiny by construction). Drop with [[MemoStats.clearAll]] if the
    * files under a dir are rewritten mid-session.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    pairMemo(spark, dir)(minhashPairs(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  private val pairMemo = new MemoStats.Table[String, DataFrame]

  /** [[minhashLsh]] over an arbitrary (doc_id, text) frame — the shared
    * pair computation consumers can call directly. Returns a
    * materialized (lineage-free) frame.
    */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val perDoc = shingleSigs(docs)
    Materialize.withCached(perDoc) {
      val bands = bandFrame(perDoc).withColumnRenamed("doc_id", "id")
      val cand = selfJoinCapped(bands, Seq("b", "k"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .distinct()
      cand
        .join(perDoc.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
        .join(perDoc.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(jaccard(col("sa"), col("sb")), 4).as("jaccard"))
        .filter(col("jaccard") >= MinhashJaccardThreshold)
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Cross-corpus MinHash similarity JOIN — near-dup pairs between TWO
    * document frames (`doc_id`, `text`), e.g. deduplicating a fresh
    * crawl (left) against the landed corpus (right) before ingest. Same
    * LSH shape as [[minhashPairs]] but the band join is left-vs-right
    * instead of a self-join: shuffle on (band, key) only, candidates
    * verified with true Jaccard ≥ [[MinhashJaccardThreshold]] from the
    * cached per-doc shingle sets.
    *
    * Hot-bucket discipline is one-sided by design: the RIGHT side of a
    * hot (band, key) bucket keeps its [[HotGroupCap]] smallest-id
    * residents, the left side is never capped. Every left doc therefore
    * does bounded work (≤ cap × bands candidates) but is never silently
    * excluded — the guarantee cross-corpus dedup actually needs is
    * "every crawl doc that duplicates the corpus gets flagged", and a
    * left cap would break exactly that. A left match whose only
    * near-dups are non-residents of a degenerate bucket can be missed —
    * the same bounded-frequency trade [[ShingleFreqCap]] makes, and
    * identical docs always share residents (equal signatures sort
    * together only if ids do — residents are id-ordered, but an
    * identical doc has the SAME band key in every band, so it meets the
    * bucket minimum resident regardless).
    *
    * At 100 TB the right side is typically the big landed corpus: its
    * band index is a one-off build (persist/bucket it by (b, k) and the
    * incremental crawl joins against it with no corpus reshuffle).
    */
  def minhashJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val perL = shingleSigs(left)
    val perR = shingleSigs(right)
    Materialize.withCached(perL, perR) {
      val bandsL = bandFrame(perL).select(
        col("doc_id").as("left_id"), col("b"), col("k"))
      val bandsR = bandFrame(perR).select(
        col("doc_id").as("right_id"), col("b"), col("k"))
      val cand = bandsL
        .join(capBucket(bandsR, "right_id"), Seq("b", "k"))
        .select(col("left_id"), col("right_id"))
        .distinct()
      cand
        .join(perL.select(col("doc_id").as("left_id"), col("sh").as("sa")),
          "left_id")
        .join(perR.select(col("doc_id").as("right_id"), col("sh").as("sb")),
          "right_id")
        .select(col("left_id"), col("right_id"),
          round(jaccard(col("sa"), col("sb")), 4).as("jaccard"))
        .filter(col("jaccard") >= MinhashJaccardThreshold)
        .orderBy("left_id", "right_id")
    }
  }

  /** (doc_id, b, k) band rows of a (doc_id, sh, sig) frame. */
  private[operators] def bandFrame(perDoc: DataFrame): DataFrame = {
    val rows = NumHashes / NumBands
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("b"),
        md5(concat_ws("_", (0 until rows).map(r =>
          element_at(col("sig"), rows * b + r + 1).cast("string")): _*))
          .as("k"))
    }
    perDoc
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
  }

  /** Bound one side of the cross join per (b, k) bucket: keep the
    * [[HotGroupCap]] smallest ids (deterministic residents; the
    * bucket's min id is always among them, so cross-bucket
    * CONNECTIVITY through a hot bucket survives exactly like the
    * spanning star in the self-join case). One window shuffle, whose
    * (b, k) partitioning the subsequent join reuses. */
  private[operators] def capBucket(bands: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b"), col("k")).orderBy(col(idCol))
    bands.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= HotGroupCap)
      .drop("__rn")
  }

  /** SimHash near-dup pairs: 64-bit term-frequency-weighted simhash (each
    * token occurrence votes ±1 per bit of its md5 hash — repetition IS
    * the tf weight; bit set where the vote sum is positive). The 64 bits
    * are carried as two 32-bit words — packing
    * into one BIGINT would overflow the sign bit differently per engine.
    * Candidate pairs must share at least one of the four 16-bit bands
    * (pigeonhole: hamming ≤ 3 over 4 bands guarantees ≥ 1 equal band),
    * then are kept when Hamming distance ≤ 3.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Simhash is per-document — no explode/shuffle: one typed pass
    // tokenizes, hashes (md5, same bytes as the SQL oracle's), and
    // accumulates the 64 bit votes in a local array.
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val votes = new Array[Int](64)
          text.toLowerCase(java.util.Locale.ROOT).split(' ').foreach { tok =>
            if (tok.nonEmpty) {
              val d = digest.digest(
                ("991:" + tok).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              // first 16 hex chars = first 8 digest bytes, split 8+8
              var hhi = 0L
              var hlo = 0L
              var i = 0
              while (i < 4) { hhi = (hhi << 8) | (d(i) & 0xffL); i += 1 }
              while (i < 8) { hlo = (hlo << 8) | (d(i) & 0xffL); i += 1 }
              var b = 0
              while (b < 32) {
                votes(b) += (if (((hhi >> b) & 1L) == 1L) 1 else -1)
                votes(32 + b) += (if (((hlo >> b) & 1L) == 1L) 1 else -1)
                b += 1
              }
            }
          }
          var shi = 0L
          var slo = 0L
          var b = 0
          while (b < 32) {
            if (votes(b) > 0) shi |= 1L << b
            if (votes(32 + b) > 0) slo |= 1L << b
            b += 1
          }
          (id, shi, slo)
        }
      }
      .toDF("doc_id", "shi", "slo")
    val bandCols = Seq(
      struct(lit(0).as("b"), shiftright(col("shi"), 16).as("k")),
      struct(lit(1).as("b"), col("shi").bitwiseAND(65535).as("k")),
      struct(lit(2).as("b"), shiftright(col("slo"), 16).as("k")),
      struct(lit(3).as("b"), col("slo").bitwiseAND(65535).as("k")))
    val bands = sh
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id").as("id"), col("bk.b").as("b"), col("bk.k").as("k"))
    val pairs = selfJoinCapped(bands, Seq("b", "k"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("doc_a"),
        col("shi").as("xhi"), col("slo").as("xlo")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"),
        col("shi").as("yhi"), col("slo").as("ylo")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("xhi").bitwiseXOR(col("yhi"))) +
          bit_count(col("xlo").bitwiseXOR(col("ylo"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index
    * (the PPJoin-style plan): collapse identical texts to one
    * representative, explode the representatives' shingles, self-join
    * on the shingle (shuffle key = shingle, so only documents sharing a
    * shingle ever meet), count common shingles per pair, compute
    * Jaccard purely arithmetically from |A|, |B| and |A∩B| — the
    * quadratic pair space and per-pair array intersections never
    * materialize — then expand representative pairs back to member
    * pairs and add the identical-text pairs (Jaccard exactly 1).
    *
    * Hot-key bounds: identical-text groups cap at [[HotGroupCap]]
    * (clique under, spanning star over — see the header) and shingles
    * in more than [[ShingleFreqCap]] representatives are dropped from
    * the index. Exact for every pair whose overlap includes one
    * sub-hyper-frequent shingle; identical docs are exact at any scale
    * via the collapse.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // group structure from cheap codegen'd columns (content hash + token
    // count); the expensive typed shingle pass runs ONCE, over the
    // representatives only. A doc has shingles iff it has ≥ NgramN tokens.
    val base = docs
      .select(col("doc_id"), md5(col("text")).as("ghash"),
        size(graft.functions.tokens(col("text"))).as("n_toks"))
      .filter(col("n_toks") >= NgramN)
    val grp = base.groupBy("ghash")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gn"))
    val reps = shinglesOf(
      docs.join(grp.select(col("rep").as("doc_id")), "doc_id"))
    val ex = reps.select(col("doc_id"), explode(col("sh")).as("s"))
    // hyper-frequent shingles are BY CONSTRUCTION a tiny (usually empty)
    // set — broadcast anti-join drops them map-side, no extra shuffle of
    // the full inverted index
    val hot = ex.groupBy("s").agg(count(lit(1)).as("sf"))
      .filter(col("sf") > ShingleFreqCap).select(col("s"))
    val exCap = ex.join(broadcast(hot), Seq("s"), "left_anti")
    // base feeds grp/membership/intra (5 branches), reps feeds both size
    // joins, exCap both sides of the index self-join — cache them for the
    // operator's duration or every branch re-runs the shingle pass
    // (upstream-first order: each count reads the previous cache)
    Materialize.withCached(base, reps, exCap) {
      ngramJaccardFrom(base, grp, reps, exCap)
    }
  }

  private def ngramJaccardFrom(base: DataFrame, grp: DataFrame,
                               reps: DataFrame, exCap: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val m = base.select(col("doc_id"), col("ghash")).join(grp, "ghash")
    // set sizes over the CAPPED shingle universe (exCap), matching the
    // numerator: with raw |A|,|B| a pair sharing hyper-frequent
    // (index-dropped) shingles had them in the union but not the
    // intersection, deflating J below its true value and dropping real
    // pairs. On the capped universe J is exact and self-consistent;
    // when no shingle crosses ShingleFreqCap (every oracle SF) the two
    // definitions coincide bit-for-bit.
    val sizes = exCap.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // single-shuffle inverted index: ONE groupBy on the shingle builds
    // the (bounded — ShingleFreqCap) posting list, pairs stream out of
    // an iterator flatMap with nothing buffered; the self-JOIN
    // formulation shuffled + sorted the exploded frame twice for the
    // same output volume
    val common = exCap
      .groupBy("s").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("ids")).as[Array[Long]]
      .flatMap { ids =>
        for {
          i <- (0 until ids.length - 1).iterator
          j <- (i + 1 until ids.length).iterator
        } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    val repPairs = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= MinhashJaccardThreshold)
    // groups over the cap contribute only their representative to the
    // cross-group expansion (their members reach the cluster via the
    // intra star below)
    val mB = m.filter(col("gn") <= HotGroupCap || col("doc_id") === col("rep"))
    val expanded = repPairs
      .join(mB.select(col("rep").as("doc_a"), col("doc_id").as("ma")), "doc_a")
      .join(mB.select(col("rep").as("doc_b"), col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    val intra = selfJoinCapped(
        base.select(col("doc_id").as("id"), col("ghash")), Seq("ghash"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(1.0).as("jaccard"))
    expanded.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** Winnowing geometry: window of consecutive shingle hashes whose
    * minimum is selected, and the shared-fingerprint floor for a pair.
    * The winnowing guarantee (Schleimer et al. 2003): any common token
    * run of ≥ FpWindow + NgramN - 1 tokens selects at least one common
    * fingerprint in BOTH docs, regardless of alignment — the
    * character/token-level exact-substring detector that n-gram set
    * similarity misses when the copied run is a small fraction of each
    * doc. */
  val FpWindow = 8
  val MinSharedFp = 2

  /** First 4 digest bytes as 8 lowercase hex chars — the same prefix
    * `substr(md5(…), 1, 8)` yields in both engines. */
  private def hex8(d: Array[Byte]): String = {
    val hexd = "0123456789abcdef"
    val c = new Array[Char](8)
    var i = 0
    while (i < 4) {
      c(2 * i) = hexd((d(i) >> 4) & 0xf)
      c(2 * i + 1) = hexd(d(i) & 0xf)
      i += 1
    }
    new String(c)
  }

  /** Winnowed-fingerprint near-dup pairs — docs sharing ≥
    * [[MinSharedFp]] selected fingerprints (each evidence of an
    * aligned-or-not common run, the Lee-et-al exact-substring dedup
    * shape at inverted-index cost). Selection is a pure-Catalyst pass
    * (ordered 3-gram hashes → per-window minima → distinct); the pair
    * space is one groupBy on the fingerprint with the same bounded
    * posting-list expansion as [[ngramJaccard]] ([[ShingleFreqCap]]
    * drops boilerplate fingerprints shared by everything).
    */
  /** Winnowed fingerprints of a (doc_id, text) frame — (doc_id, fp)
    * rows, distinct per doc. A typed tight loop, not Catalyst HOFs: the
    * `transform(sequence…, array_min(slice…))` form re-evaluates the
    * whole md5 n-gram array per window position (no subexpression
    * elimination inside lambda bodies) — O(L²) md5 per doc, measured
    * 349 s at sf0.1. The loop hashes each n-gram once and scans each
    * window in place; values are bit-identical to the SQL oracle (same
    * md5 prefix, same lexicographic min over fixed-width lowercase
    * hex). */
  private[graft] def winnowFps(docs: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          winnowFpsOf(text, digest).map(fp => (id, fp))
        }
      }
  }

  /** The per-document winnow selection — the kernel [[winnowFps]] and
    * [[graft.streaming.StreamingWinnow]] share bit-identically (the
    * streaming twin additionally carries event timestamps, which the
    * frame-level pass has no column for). `digest` is caller-provided
    * so a partition reuses one MD5 instance across documents. */
  private[graft] def winnowFpsOf(text: String,
      digest: java.security.MessageDigest): Iterator[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(' ').filter(_.nonEmpty)
    if (toks.length < NgramN) Iterator.empty
    else {
      val hs = new Array[String](toks.length - NgramN + 1)
      var i = 0
      while (i < hs.length) {
        val g = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        hs(i) = hex8(digest.digest(
          ("fp:" + g).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
      val sel = new java.util.LinkedHashSet[String]()
      if (hs.length < FpWindow) sel.add(hs.min)
      else {
        var w = 0
        while (w + FpWindow <= hs.length) {
          var m = hs(w)
          var j = w + 1
          while (j < w + FpWindow) {
            if (hs(j) < m) m = hs(j)
            j += 1
          }
          sel.add(m)
          w += 1
        }
      }
      val it = sel.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    }
  }

  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ex = winnowFps(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")))
      .toDF("doc_id", "fp")
    val hot = ex.groupBy("fp").agg(count(lit(1)).as("ff"))
      .filter(col("ff") > ShingleFreqCap).select(col("fp"))
    ex.join(broadcast(hot), Seq("fp"), "left_anti")
      .groupBy("fp").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("ids")).as[Array[Long]]
      .flatMap { ids =>
        for {
          i <- (0 until ids.length - 1).iterator
          j <- (i + 1 until ids.length).iterator
        } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedFp)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-corpus winnowed-fingerprint join — exact-substring overlap
    * between a fresh crawl (`left`) and the landed corpus (`right`):
    * (left_id, right_id, n_shared) for every pair sharing ≥
    * [[MinSharedFp]] fingerprints. The copied-passage complement of
    * [[minhashJoin]] (which needs whole-doc set similarity).
    *
    * Scale shape mirrors [[minhashJoin]]: hyper-frequent fingerprints
    * (union frequency > [[ShingleFreqCap]] — boilerplate in everything)
    * are dropped; surviving corpus-side posting lists cap at
    * [[HotGroupCap]] lowest right ids, so no join key is ever
    * unbounded; the crawl side is never silently dropped.
    */
  /** Minimum common token-run length [[exactSubstringSpans]] reports.
    * Lee et al. use 50 BPE tokens on web corpora; the synthetic docs
    * are short, so the gate sits lower — a deployment tunes it. */
  val MinRunTokens = 8

  /** Chunk size (tokens) of the span scan's work unit. One
    * (chunk_a × chunk_b) cell costs ≤ [[SpanChunkTokens]]² token
    * comparisons — ~16 M at the default, well under a second — so NO
    * task's work depends on document length: a pair of crawl-outlier
    * docs becomes many bounded cells spread across the cluster instead
    * of one task pinned for hours on an O(len_a·len_b) scan. */
  val SpanChunkTokens = 4096

  /** EXACT common-substring spans — the precise half of the Lee-et-al
    * exact-substring dedup recipe. [[winnowPairs]] finds WHICH pairs
    * share enough winnowed fingerprints. RECALL CONTRACT, precisely:
    * the winnowing guarantee selects ≥ 1 common fingerprint per common
    * run ≥ FpWindow + NgramN − 1 = 10 tokens, and the [[MinSharedFp]]
    * = 2 floor needs a second selection — certain once a run spans two
    * winnow windows (≥ FpWindow + NgramN = 11 tokens) or the pair
    * shares a second run. Runs of [[MinRunTokens]]..10 tokens in
    * otherwise-disjoint docs are reported when candidate-listed but
    * are not GUARANTEED to be: the gate trades those borderline
    * singles for immunity to one-fingerprint boilerplate collisions
    * (Lee et al. run 50-token floors where this cannot bind). This
    * pins WHERE: for each
    * candidate pair, every maximal common token run of length ≥
    * [[MinRunTokens]], as (doc_a, doc_b, start_a, start_b, run_len)
    * with 1-based token positions. A span remover (cut the duplicated
    * range from the lower-priority doc) consumes these rows directly.
    *
    * Scale shape: the pair list is the winnow-thresholded candidate
    * set (bounded — [[ShingleFreqCap]]/[[MinSharedFp]] keep it to
    * genuinely-overlapping pairs, not a quadratic space), and per-pair
    * cost is BOUNDED PER TASK: see [[spansOf]]. The DuckDB oracle
    * replays the same runs relationally: match points grouped by
    * diagonal, gaps-and-islands per diagonal.
    */
  def exactSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    spansOf(winnowPairs(spark, dir).select("doc_a", "doc_b"),
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      SpanChunkTokens)

  /** The chunked-cell span kernel. Each doc's token stream is cut into
    * `chunkTokens`-sized chunks; a candidate pair's (i, j) match-point
    * grid is tiled exactly by its (chunk_a × chunk_b) CELLS, each
    * scanned diagonally in one bounded flatMap row. A maximal run that
    * crosses a cell edge surfaces as per-cell FRAGMENTS; fragments are
    * contiguous on their diagonal by construction (a gap would mean a
    * mismatching token broke the run), so one groupBy on
    * (pair, diagonal) + an in-order merge reassembles every maximal run
    * exactly, and the [[MinRunTokens]] gate applies post-merge. Runs
    * closed inside a cell skip nothing: their neighbors on the diagonal
    * are mismatches, so the uniform merge pass leaves them unchanged.
    *
    * Bounded everywhere: cell scan ≤ chunkTokens² comparisons; merge
    * state per (pair, diagonal) is the fragment list — ≤ 2 fragments
    * per cell edge the diagonal crosses, i.e. O(doc_len / chunkTokens),
    * orders of magnitude below the text itself. */
  private[graft] def spansOf(pairs: DataFrame, docs: DataFrame,
                             chunkTokens: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(chunkTokens >= MinRunTokens, "chunk must fit one minimal run")
    val chunks = docs.as[(Long, String)].flatMap { case (id, text) =>
      val toks = text.toLowerCase(java.util.Locale.ROOT).split(' ').filter(_.nonEmpty)
      val n = toks.length
      (0 until n by chunkTokens).iterator.map { off =>
        (id, off, toks.slice(off, math.min(off + chunkTokens, n)), n)
      }
    }.toDF("doc_id", "off", "toks", "total")
    val cells = pairs
      .join(chunks.select(col("doc_id").as("doc_a"), col("off").as("off_a"),
        col("toks").as("toks_a"), col("total").as("total_a")), Seq("doc_a"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("off").as("off_b"),
        col("toks").as("toks_b"), col("total").as("total_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("off_a"), col("toks_a"), col("total_a"),
        col("off_b"), col("toks_b"), col("total_b"))
      .as[(Long, Long, Int, Array[String], Int, Int, Array[String], Int)]
    val scanned = cells.flatMap {
      case (a, b, offA, ta, totalA, offB, tb, totalB) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Int, Int)]
        var d = -(tb.length - 1)
        while (d < ta.length) {
          var i = math.max(0, d)
          var j = i - d
          var runLen = 0
          var si = 0
          var sj = 0
          def flush(): Unit = if (runLen > 0) {
            val gsa = offA + si
            val gsb = offB + sj
            // a fragment is OPEN when the run may continue in an
            // adjacent cell: it starts on a cell edge with a scannable
            // predecessor (gsa-1, gsb-1), or ends on one with a
            // scannable successor — those positions exist in the docs
            // but belong to another cell's scan
            val open =
              ((si == 0 || sj == 0) && gsa > 0 && gsb > 0) ||
              ((si + runLen == ta.length || sj + runLen == tb.length) &&
                gsa + runLen < totalA && gsb + runLen < totalB)
            if (open || runLen >= MinRunTokens)
              out += ((a, b, gsa, gsb, runLen))
            runLen = 0
          }
          while (i < ta.length && j < tb.length) {
            if (ta(i) == tb(j)) {
              if (runLen == 0) { si = i; sj = j }
              runLen += 1
            } else flush()
            i += 1; j += 1
          }
          flush()
          d += 1
        }
        out.iterator
    }.toDF("doc_a", "doc_b", "sa", "sb", "len")
    scanned
      .groupBy(col("doc_a"), col("doc_b"),
        (col("sa") - col("sb")).cast("long").as("diag"))
      .agg(sort_array(collect_list(struct(col("sa"), col("len")))).as("fs"))
      .select(col("doc_a"), col("doc_b"), col("diag"), col("fs"))
      .as[(Long, Long, Long, Seq[(Int, Int)])]
      .flatMap { case (a, b, diag, fs) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Int, Int, Int)]
        var curS = -1
        var curL = 0
        def emit(): Unit =
          if (curL >= MinRunTokens)
            out += ((a, b, curS + 1, curS - diag.toInt + 1, curL))
        fs.foreach { case (s, l) =>
          if (curS < 0) { curS = s; curL = l }
          else if (s == curS + curL) curL += l // same run, next cell over
          else { emit(); curS = s; curL = l }
        }
        emit()
        out.iterator
      }
      .toDF("doc_a", "doc_b", "start_a", "start_b", "run_len")
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  /** The removal half of exact-substring dedup: cut every duplicated
    * passage from the HIGHER doc id of each [[exactSubstringSpans]]
    * pair (keep-lowest priority, matching [[exactDedup]]), after
    * merging overlapping span ranges per doc. Emits every document as
    * (doc_id, text_dedup, n_removed) where `text_dedup` is the
    * surviving token stream joined by single spaces (tokenization
    * normalizes whitespace — the same contract as every token-level
    * operator here) and `n_removed` counts cut tokens.
    *
    * Scale shape: spans are the bounded candidate-pair output; ranges
    * group per doc (one small shuffle), merge in a per-doc kernel, and
    * the cut is a narrow map over the corpus joined with the grouped
    * ranges. */
  def removeSubstringSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranges = exactSubstringSpans(spark, dir)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("run_len") - 1).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ranges"))
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .join(ranges, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("ranges"))
      .as[(Long, String, Option[Seq[(Int, Int)]])]
      .map { case (id, text, ranges) =>
        // ORIGINAL-case tokens: span positions were computed on the
        // lowercase tokenization, but lowercasing never creates or
        // removes spaces, so positions align 1:1 — the removal must not
        // destroy the surviving text's casing corpus-wide
        val toks = text.split(' ').filter(_.nonEmpty)
        val merged = ranges.getOrElse(Nil).foldLeft(
          List.empty[(Int, Int)]) {
          case ((ms, me) :: rest, (s, e)) if s <= me + 1 =>
            (ms, math.max(me, e)) :: rest
          case (acc, r) => r :: acc
        }.reverse
        val keep = toks.zipWithIndex.filterNot { case (_, i0) =>
          val pos = i0 + 1 // spans are 1-based
          merged.exists { case (s, e) => pos >= s && pos <= e }
        }.map(_._1)
        (id, keep.mkString(" "), toks.length - keep.length)
      }
      .toDF("doc_id", "text_dedup", "n_removed")
      .orderBy("doc_id")
  }

  def winnowJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val lf = winnowFps(left).toDF("left_id", "fp")
    val rf = winnowFps(right).toDF("right_id", "fp")
    val hot = lf.select(col("fp")).unionAll(rf.select(col("fp")))
      .groupBy("fp").agg(count(lit(1)).as("ff"))
      .filter(col("ff") > ShingleFreqCap).select(col("fp"))
    val lc = lf.join(broadcast(hot), Seq("fp"), "left_anti")
    val rCapW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("right_id"))
    val rc = rf.join(broadcast(hot), Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(rCapW))
      .filter(col("rn") <= HotGroupCap).drop("rn")
    lc.join(rc, "fp")
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedFp)
      .orderBy("left_id", "right_id")
  }

  /** Deterministic eval-set stride for [[decontaminate]] and the
    * minimum shared-shingle count that flags contamination. */
  val EvalStride = 40
  val MinContamOverlap = 5

  /** Duplicate-CLUSTER assignment — the consumer of the pair lists: the
    * connected components of the MinHash near-dup graph, each doc
    * labeled with the minimum doc_id reachable from it (the canonical
    * "keeper"). Min-label propagation plus pointer jumping
    * (lbl(lbl(x))) iterated to fixpoint with lineage truncation per
    * round — O(log diameter) rounds; the hot-key caps upstream bound
    * every round's join.
    *
    * Loop checkpoints go through [[Materialize]]: executor-local by
    * default; set `graft.checkpoint.dir` for reliable checkpoints that
    * survive executor loss on a real cluster.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    clusters(minhashLsh(spark, dir))

  /** Edge-count bound under which [[clusters]] solves the components
    * with a driver-side union-find instead of the distributed
    * propagation loop. Near-dup pair lists are SPARSE by construction
    * (every upstream operator caps hot keys). The cap budgets the REAL
    * driver footprint — boxed tuples plus a boxed id->parent map run
    * ~100-150 bytes per edge, not the 16 bytes of the raw longs — so
    * 1M edges is ~100-150 MB: safe on a default driver, while bigger
    * lists take the spec'd-equivalent distributed loop. Override with
    * `graft.clusters.collectCap` (0 forces the distributed loop).
    */
  def edgeCollectCap: Long =
    sys.props.get("graft.clusters.collectCap").map(_.toLong)
      .getOrElse(1000000L)

  /** [[clusters]] over a precomputed pair frame (`doc_a`, `doc_b`) —
    * consumers that already hold the LSH output (or any other pair
    * source: [[simhash]], [[embeddingNearDup]]) pass it here instead of
    * re-running the pair computation.
    *
    * Adaptive execution: the pair list is counted once (it is the
    * operator's input — the count is one scan of a frame upstreams
    * always persist). Under [[edgeCollectCap]] edges, an exact
    * driver-side union-find replaces the O(log d)-round distributed
    * loop — identical output, none of the per-round job overhead.
    * Above the cap, min-label propagation with pointer jumping runs
    * fully distributed.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val pr = pairs.select(col("doc_a").cast("long"),
      col("doc_b").cast("long"))
    val nPairs = pr.persist().count()
    if (nPairs <= edgeCollectCap) {
      try return clustersUnionFind(pairs.sparkSession, pr)
      finally pr.unpersist()
    }
    val edges = pr.unionByName(
        pr.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").persist()
    try {
      var labels = Materialize(edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("nmin"))
        .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("cluster")))
      // the Materialize above is the first action on `edges` — only now
      // is the pair cache safe to drop (earlier, the union would have
      // recomputed the whole upstream pair derivation)
      pr.unpersist()
      var changed = 1L
      while (changed > 0) {
        val prop = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(edges("src").as("doc_id"))
          .agg(min(col("cluster")).as("pmin"))
        // pointer jumping: also adopt the label OF the current label
        // (lbl(lbl(x))), which contracts long chains in O(log d) rounds
        // instead of O(d)
        val jump = labels.as("a")
          .join(labels.as("b"), col("a.cluster") === col("b.doc_id"))
          .select(col("a.doc_id").as("doc_id"), col("b.cluster").as("jmin"))
        // one materializing action per round: the change flag rides along
        // and is counted on the checkpointed result
        val next = Materialize(labels.as("l")
          .join(prop.as("p"), Seq("doc_id"), "left")
          .join(jump.as("j"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("l.cluster"),
              least(coalesce(col("p.pmin"), col("l.cluster")),
                coalesce(col("j.jmin"), col("l.cluster")))).as("cluster"),
            (coalesce(col("p.pmin"), col("l.cluster")) < col("l.cluster") ||
              coalesce(col("j.jmin"), col("l.cluster")) < col("l.cluster"))
              .as("__ch")))
        changed = next.filter(col("__ch")).count()
        labels = next.drop("__ch")
      }
      labels.orderBy("doc_id")
    } finally edges.unpersist()
  }

  /** Exact components of a small edge list: path-halving union-find on
    * the driver, re-parallelized as the same (doc_id, cluster) frame the
    * distributed loop emits. */
  private def clustersUnionFind(spark: SparkSession,
                                pr: DataFrame): DataFrame = {
    import spark.implicits._
    val es = pr.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are min ids already (unions always point to the smaller root);
    // schema matches the distributed loop's (nullable, as join outputs are)
    val rows = parent.keys.toSeq.sorted
      .map(id => org.apache.spark.sql.Row(id, find(id)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(new java.util.ArrayList(rows.asJava), schema)
  }

  /** Benchmark decontamination — flag corpus documents sharing word
    * 3-gram shingles with an eval set (here the deterministic stride
    * `doc_id % EvalStride == 0`, standing in for a benchmark table).
    * The join shuffles on the shingle (inverted-index shape, same as
    * [[ngramJaccard]]); the eval side is distinct shingles only, so at
    * 100 TB it is the small side and broadcastable. Emits each
    * contaminated-or-overlapping doc with its shared-shingle count.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    contamCounts(spark, dir)
      .withColumn("contaminated", col("n_shared") >= MinContamOverlap)
      .orderBy("doc_id")

  /** Memoized distinct eval-set shingles (materialized, lineage-free):
    * the frame every decontamination consumer probes — [[decontaminate]]
    * and [[corpusBuild]] through [[contamCounts]], and
    * [[decontaminateBloom]]'s build + confirm stages. One eval-side
    * typed shingle pass per (session, dir) however many consumers run. */
  private[operators] def evalShingles(spark: SparkSession, dir: String): DataFrame =
    evalShMemo(spark, dir)({
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      Materialize(
        shinglesOf(docs.filter(col("doc_id") % EvalStride === 0))
          .select(explode(col("sh")).as("s")).distinct())
    })

  /** Memoized per-doc shared-shingle counts vs the eval set — the
    * inverted-index join [[decontaminate]] thresholds at
    * [[MinContamOverlap]] and [[graft.operators.Corpus.corpusBuild]] at
    * its stricter composition threshold. The counts frame is tiny
    * (matching docs only) and the join runs ONCE per (session, dir):
    * curation lineage is shared, not recomputed per consumer.
    *
    * Split BEFORE the typed shingle pass: filters cannot push through a
    * typed map, so shingling `docs` once and filtering both branches
    * would pay the full-corpus pass twice.
    */
  private[graft] def contamCounts(spark: SparkSession, dir: String): DataFrame =
    contamMemo(spark, dir)({
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      Materialize(decontaminateFrames(
        docs.filter(col("doc_id") % EvalStride =!= 0),
        evalShingles(spark, dir)))
    })

  /** Exact inverted-index contamination counts over explicit frames —
    * the broadcast-eval body of [[contamCounts]] and the exact side of
    * the Bloom crossover measurements. `corpus` is (doc_id, text);
    * `evalSh` the distinct eval shingle frame (column `s`). */
  private[graft] def decontaminateFrames(corpus: DataFrame,
                                         evalSh: DataFrame): DataFrame =
    shinglesOf(corpus)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(evalSh), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))

  private val evalShMemo = new MemoStats.Table[String, DataFrame]
  private val contamMemo = new MemoStats.Table[String, DataFrame]

  /** Bloom-filter geometry for [[decontaminateBloom]]: 2^20 bits
    * (128 KiB — ships to every task as one reference object of 16384
    * longs) and 5 hash probes. At 150 k eval shingles the false-positive
    * rate is ≈ 4 %; size m to the EVAL SET, never to the corpus —
    * [[bloomBuild]] takes the bit count so larger eval sets get larger
    * filters (see [[bloomBitsFor]]). */
  val BloomBits = 1 << 20
  val BloomHashes = 5

  /** m sized to the eval set: the next power of two ≥ 8 bits/item
    * (k = 5 probes → ~2 % false positives), floored at [[BloomBits]]. */
  def bloomBitsFor(nItems: Long): Int = {
    var m = BloomBits.toLong
    while (m < 8L * nItems && m < (1L << 30)) m <<= 1
    m.toInt
  }

  private def bloomPos(i: Int, s: Column, bits: Int): Column =
    pmod(xxhash64(lit(i), s), lit(bits.toLong))

  /** Distributed Bloom build over a column of strings: k positions per
    * value, positions → (word, mask), ONE `bit_or` aggregate on the
    * word index. The driver receives at most m/64 rows no matter how
    * large the input — the collect is bounded by the filter geometry,
    * not the data. */
  def bloomBuild(values: DataFrame, column: String,
                 bits: Int = BloomBits): Array[Long] = {
    val nWords = bits / 64
    val pos = values.select(
      explode(array((0 until BloomHashes).map(i =>
        bloomPos(i, col(column), bits)): _*)).as("pos"))
    val words = pos
      .select(expr("pos div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      .collect()
    val arr = new Array[Long](nWords)
    words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Membership probe against a built filter as a native codegen'd
    * Catalyst expression ([[graft.functions.BloomMightContain]]): the
    * word array rides the plan as ONE reference object. The previous
    * form — k `element_at(lit(<16384 longs>), …)` terms — was correct
    * but put 128 KiB of literal into the expression tree, and the query
    * measurably spent more wall time in driver plan processing (every
    * optimizer/AQE pass re-walking the literal) than in its jobs. The
    * bit count is the word array's capacity — the filter is
    * self-describing. */
  def bloomMightContain(words: Array[Long], s: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BloomMightContain(
        org.apache.spark.sql.GraftColumnBridge.expression(s),
        words, BloomHashes, words.length * 64L))

  /** Memoized Bloom words over the eval shingle set — built once per
    * (session, dir) from the shared [[evalShingles]] frame. */
  private[operators] def bloomFor(spark: SparkSession, dir: String): Array[Long] =
    bloomMemo(spark, dir)({
      // size m to the eval set (bloomBitsFor), exactly as documented and
      // as DecontamIndex.build does — the fixed floor geometry saturates
      // past ~10^5 shingles and the pre-filter stops filtering. At the
      // oracle SFs bloomBitsFor returns the floor, so results (already
      // exact via the confirm join) and geometry are unchanged there.
      val sh = evalShingles(spark, dir)
      bloomBuild(sh, "s", bloomBitsFor(sh.count()))
    })

  private val bloomMemo = new MemoStats.Table[String, Array[Long]]

  /** [[decontaminate]] with a Bloom pre-filter — the shape that
    * survives an eval set too large to broadcast: the filter (128 KiB,
    * built by one bounded `bit_or` aggregate) ships to every task and
    * discards ~96 % of non-matching corpus shingles BEFORE the join
    * shuffle; only surviving candidates meet the exact shingle set,
    * whose join now carries a small fraction of the corpus. Bloom
    * filters have no false negatives and the confirm join removes the
    * false positives, so the result is bit-identical to
    * [[decontaminate]] — same oracle. The eval-side shingle pass and
    * filter build are shared with [[decontaminate]] via
    * [[evalShingles]]/[[bloomFor]]; at the oracle SFs the eval set is
    * broadcastable and the exact path is cheaper — see the measured
    * crossover in BloomDecontamSpec (the probe pays off once the eval
    * shingle set outgrows the broadcast budget). */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val counts = Materialize(
      decontaminateBloomFrames(
        docs.filter(col("doc_id") % EvalStride =!= 0),
        evalShingles(spark, dir), bloomFor(spark, dir))
        .select(col("doc_id"), col("n_shared")))
    // the bloom path's counts ARE the exact counts (no false negatives
    // + confirm join) — publish them to the shared memo so
    // decontaminate / corpusBuild consume THIS run instead of
    // re-deriving the inverted index
    contamMemo.put(spark, dir, counts)
    counts.withColumn("contaminated", col("n_shared") >= MinContamOverlap)
      .orderBy("doc_id")
  }

  /** Bloom probe + confirm join over explicit frames — the shared body
    * of [[decontaminateBloom]] and the crossover measurements in
    * BloomDecontamSpec. `corpus` is (doc_id, text); `evalSh` is the
    * distinct eval shingle frame (column `s`); `words` its built
    * filter. */
  private[graft] def decontaminateBloomFrames(corpus: DataFrame,
                                              evalSh: DataFrame,
                                              words: Array[Long]): DataFrame =
    shinglesOf(corpus)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .filter(bloomMightContain(words, col("s")))
      // NO broadcast hint on the confirm join: this operator's premise
      // is an eval set too big to broadcast, so the join must be free
      // to shuffle — AQE still broadcasts it when it happens to be
      // small (the oracle SFs), which is exactly the right adaptivity
      .join(evalSh, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= MinContamOverlap)

  /** Number of tiles for the embedding near-dup block join. At a given
    * deployment scale choose B ≈ ⌈corpus bytes / per-task working set⌉
    * so two tiles fit comfortably in one task's memory; the shuffle
    * replicates each row B times (the unavoidable cost of exact
    * all-pairs similarity — cut candidates first with [[minhashLsh]] /
    * SRP-LSH when the corpus outgrows it). */
  val EmbeddingBlocks = 8

  /** Embedding cosine near-dup pairs ≥ 0.45 as a tiled block join:
    * vectors are L2-normalized once (so the pair kernel is a single dot
    * product), each vector lands in tile `vec_id % B` and is replicated
    * to every tile-pair (a ≤ b) it participates in; each tile-pair group
    * runs the tight scalar kernel over its two blocks. Nothing is ever
    * collected to the driver, no broadcast grows with the corpus, and
    * per-task memory is bounded by two tiles — the plan that still works
    * when the corpus is 1000 partitions of parquet.
    *
    * Determinism: normalization and the dot product accumulate
    * sequentially ([[VectorOps]]), exactly like the oracle's
    * list_sum/list_transform, and scores round to 4 decimals (half-up)
    * before the threshold. Tile assignment only routes pairs; every
    * unordered pair meets in exactly one tile-pair group, so the output
    * set is independent of B.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       blocks: Int = EmbeddingBlocks): DataFrame = {
    import spark.implicits._
    val nBlocks = blocks
    val threshold = EmbeddingCosThreshold
    val normed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, VectorOps.l2Normalize(v)) }
    // route: tile t = id % B; as side 0 of pairs (t, j≥t), side 1 of (a<t, t)
    val routed = normed.flatMap { case (id, nv) =>
      val t = (id % nBlocks).toInt
      val asA = Iterator.range(t, nBlocks).map(j => (t * nBlocks + j, 0, id, nv))
      val asB = Iterator.range(0, t).map(a => (a * nBlocks + t, 1, id, nv))
      asA ++ asB
    }.toDF("pair_id", "side", "id", "nv")
    // one task per tile-pair, EXPLICITLY: the dot-product kernel is
    // CPU-dense per byte, so AQE's byte-derived coalescing misjudges it
    // (observed: the whole all-pairs pass folded into ONE task). An
    // explicit numPartitions is exempt from AQE coalescing and is also
    // the operator's documented memory contract — a task holds one
    // tile-pair's two blocks. The partition-local sort groups each
    // tile's rows contiguously so the kernel streams one group at a
    // time, never buffering the whole partition.
    val numTiles = nBlocks * (nBlocks + 1) / 2
    routed.repartition(numTiles, col("pair_id"))
      .sortWithinPartitions("pair_id")
      .as[(Int, Int, Long, Array[Double])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Double)] {
          private var cur: Iterator[(Long, Long, Double)] = Iterator.empty
          @annotation.tailrec
          private def advance(): Boolean =
            if (cur.hasNext) true
            else if (!buf.hasNext) false
            else {
              val pairId = buf.head._1
              val diag = pairId / nBlocks == pairId % nBlocks
              val sideA = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Array[Double])]
              val sideB = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Array[Double])]
              while (buf.hasNext && buf.head._1 == pairId) {
                val (_, side, id, nv) = buf.next()
                if (side == 0) sideA += ((id, nv)) else sideB += ((id, nv))
              }
              val right = if (diag) sideA else sideB
              cur = sideA.iterator.flatMap { case (idA, nvA) =>
                right.iterator.flatMap { case (idB, nvB) =>
                  // diagonal tiles hold each id once on side A only:
                  // idA < idB emits every in-tile pair exactly once;
                  // across tiles the two sides are disjoint so every
                  // pair appears once, ordered.
                  if (idA >= idB && diag) Iterator.empty
                  else {
                    val lo = math.min(idA, idB)
                    val hi = math.max(idA, idB)
                    val r = VectorOps.roundAt(VectorOps.dot(nvA, nvB), 4)
                    if (r >= threshold) Iterator.single((lo, hi, r))
                    else Iterator.empty
                  }
                }
              }
              advance()
            }
          def hasNext: Boolean = advance()
          def next(): (Long, Long, Double) = { advance(); cur.next() }
        }
      }.toDF("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** dedup_semantic_crosscorpus: embedding near-dup JOIN between a
    * crawl increment (left, odd ids) and the landed corpus (right,
    * even ids) — the embedding complement of [[minhashJoin]] /
    * [[PerceptualHash.phashCrossCorpus]] and the batch complement of
    * [[graft.streaming.StreamingSemantic]]'s bootstrap-corpus mode.
    * Completes the cross-corpus matrix: each near-dup modality
    * (text / image / embedding) now has self-join, cross-corpus-join,
    * and streaming forms sharing one kernel per modality. */
  def semanticCrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    semanticJoin(vecs.filter(col("vec_id") % 2 === 1),
      vecs.filter(col("vec_id") % 2 === 0))
  }

  /** Cross-corpus embedding-cosine join over two (vec_id, v double[])
    * frames: a candidate pair meets when the left vector's SRP bucket
    * ([[Similarity.srpBucket]] — the kernel the streaming twin probes
    * with) is within hamming 1 of the right's, then survives on exact
    * round-4 normalized cosine ≥ [[EmbeddingCosThreshold]].
    *
    * Hot-bucket discipline is one-sided, [[minhashJoin]]'s rule: each
    * SRP bucket keeps its [[HotGroupCap]] smallest-id RIGHT residents,
    * while the left side probes its own bucket plus the 8 hamming-1
    * neighbors and is never capped — every crawl vector does bounded
    * work (≤ 9·cap candidates) but is never silently excluded, the
    * guarantee cross-corpus dedup needs. The bucket join moves only
    * slim (id, bucket) rows; the 64-double payload joins back in for
    * candidate survivors alone. At 100 TB the right side's
    * (bucket → residents) frame is a one-off build over the landed
    * corpus: persist/bucket it by bucket key once and every crawl
    * increment joins against it with no corpus reshuffle. */
  private[graft] def semanticJoin(left: DataFrame, right: DataFrame)
      : DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    def sigs(vecs: DataFrame): DataFrame =
      vecs.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
        .mapPartitions(_.map { case (id, v) =>
          (id, Similarity.srpBucket(v), VectorOps.l2Normalize(v))
        }).toDF("vec_id", "bucket", "nv")
    val sl = sigs(left)
    val sr = sigs(right)
    Materialize.withCached(sl, sr) {
      val probes = sl.select(col("vec_id").as("left_id"),
        explode(array(col("bucket") +:
          (0 until Similarity.LshPlanes).map(p =>
            col("bucket").bitwiseXOR(lit(1 << p))): _*)).as("k"))
      val res = capBucket(
        sr.select(col("vec_id").as("right_id"), lit(0).as("b"),
          col("bucket").as("k")), "right_id")
      val cand = probes.join(res, Seq("k"))
        .select(col("left_id"), col("right_id")).distinct()
      cand
        .join(sl.select(col("vec_id").as("left_id"), col("nv").as("na")),
          "left_id")
        .join(sr.select(col("vec_id").as("right_id"), col("nv").as("nb")),
          "right_id")
        .select(col("left_id"), col("right_id"), col("na"), col("nb"))
        .as[(Long, Long, Array[Double], Array[Double])]
        .map { case (l, r, na, nb) =>
          (l, r, VectorOps.roundAt(VectorOps.dot(na, nb), 4))
        }
        .toDF("left_id", "right_id", "sim")
        .filter(col("sim") >= EmbeddingCosThreshold)
        .orderBy("left_id", "right_id")
    }
  }
}
