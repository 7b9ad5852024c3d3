package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.llm.{AllPairs, Dedup, Similarity, TextOps}
import graft.llm.TextOps._
import QueryHelpers.{docs, r2, r6, r8, roundHU, t}

/** LLM-training-data-pipeline queries over the shared `documents` /
  * `embeddings` tables, each paired with DuckDB oracle SQL built from the
  * SAME hash constants/formulas as the Spark expressions (single source of
  * truth in [[graft.llm.TextOps]]), so integer hashes match bit-for-bit
  * and double arithmetic (strict left folds on both engines) reproduces.
  *
  * Scale notes: text/hash ops are per-row map-side expressions; no
  * registered query collects the corpus to the driver or force-broadcasts
  * an unbounded side. Dedup candidates come from LSH band buckets
  * (`lsh_near_dup`) or exact-recall prefix filtering (`ngram_jaccard`);
  * `cosine_near_dup` distributes its inherently-quadratic exact semantics
  * via a block self-join with the codegen'd dot kernel; `cosine_topk` is a
  * broadcast-query linear scan and `ann_lsh_topk` the sub-linear
  * approximate path. The driver-collect brute-force forms survive only in
  * ScalaTest as equivalence baselines.
  */
object LlmQueries {

  /** Scored/labelled doc frame shared by the classifier-evaluation
    * family (`roc_auc` / `calibration_bins` / `lift_gains`): label
    * y = 1 iff lang = 'en', score = stopword density (stopword hits /
    * tokens) QUANTIZED to a 4dp grid. The quantization is load-bearing
    * at scale: every downstream ordered pass groups by score first, so
    * ordered windows run over ≤ 10⁴+1 score rows — constant-bounded
    * regardless of corpus size. Mirrors [[sqlScoredDocs]] (CTE `sc`).
    */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens(col("text")))
    docs(s, dir)
      .filter(nTok > 0)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        (floor(stopwordHits(col("text")).cast("double") / nTok * lit(1e4) +
          lit(0.5)) / lit(1e4)).as("score"))
  }

  /** The scored/labelled doc CTE shared by the classifier-evaluation
    * oracles — mirrors [[scoredDocs]].
    */
  private def sqlScoredDocs: String =
    s"""sc AS (SELECT doc_id,
       |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
       |         floor(CAST($sqlStopwordHits AS DOUBLE) / len($sqlTokens)
       |               * 1e4 + 5e-1) / 1e4 AS score
       |       FROM documents WHERE len($sqlTokens) > 0)""".stripMargin

  /** The per-doc C4 line/sentence-rule frame (doc_id .. keep) — shared
    * by `c4_rules` and the filter-agreement pair (`cohens_kappa`,
    * `mcnemar_test`), so the rule expressions can never drift apart.
    */
  private[operators] def c4Frame(s: SparkSession, dir: String): DataFrame = {
    val lines = split(col("text"), "\n")
    def lineWords(l: org.apache.spark.sql.Column) =
      size(filter(split(trim(l), "\\s+"), w => w =!= lit("")))
    def terminal(l: org.apache.spark.sql.Column) =
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")
    val kept = filter(lines, l => terminal(l) && lineWords(l) >= 5)
    val nSent = aggregate(kept, lit(0L), (a, l) =>
      a + size(regexp_extract_all(l, lit("[.!?]"), lit(0))).cast("long"))
    docs(s, dir).select(
      col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSent.as("n_sentences"),
      lower(col("text")).contains("lorem ipsum").as("has_lorem"),
      col("text").contains("{").as("has_brace"))
      .withColumn("keep",
        col("n_sentences") >= 3L && col("n_kept_lines") >= 1L &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** The per-doc Gopher repetition/shape-rule frame (doc_id .. keep) —
    * shared by `gopher_rules` and the filter-agreement pair.
    */
  private[operators] def gopherFrame(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    val nW = size(ts).cast("long")
    val charSum = aggregate(ts, lit(0L), (a, t) => a + length(t))
    val meanLen = when(nW > 0, roundHU(charSum.cast("double") / nW, 1e6))
    val symCnt =
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("long")
    val symRatio = when(nW > 0, roundHU(symCnt.cast("double") / nW, 1e6))
    val lines = split(col("text"), "\n")
    val nL = size(lines).cast("long") // split yields >= 1 element always
    val bulletFrac = roundHU(
      size(filter(lines, l => l.substr(lit(1), lit(2)).isin("- ", "* ")))
        .cast("double") / nL, 1e6)
    val ellipsisFrac = roundHU(
      size(filter(lines, l => l.endsWith(lit("...")))).cast("double") / nL, 1e6)
    val alphaFrac =
      when(nW > 0, roundHU(size(filter(ts, t => t.rlike("[A-Za-z]")))
        .cast("double") / nW, 1e6))
    val stopHits = stopwordHits(col("text")).cast("long")
    docs(s, dir).select(
      col("doc_id"),
      nW.as("n_words"),
      meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("stop_hits") >= 2L)
  }

  /** One-row 2×2 agreement table between the c4 and gopher keep
    * verdicts (NULL keep counts as drop, mirroring the oracles' CASE).
    */
  private def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    val a = c4Frame(s, dir).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("a"))
    val b = gopherFrame(s, dir).select(col("doc_id"),
      when(col("keep"), 1L).otherwise(0L).as("b"))
    a.join(b, "doc_id").agg(
      count(lit(1)).as("n"),
      sum(col("a") * col("b")).as("n11"),
      sum(col("a") * (lit(1L) - col("b"))).as("n10"),
      sum((lit(1L) - col("a")) * col("b")).as("n01"),
      sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
  }

  /** Integer quality score (0-4): length window, stopword evidence,
    * bounded token length, lexical diversity (shared by `quality_score`
    * and the curation pipeline).
    */
  private def qualityScore: org.apache.spark.sql.Column = {
    val ts = tokens(col("text"))
    val nTok = size(ts)
    when(nTok >= 40 && nTok <= 1000, 1L).otherwise(0L) +
      when(stopwordHits(col("text")) > 0, 1L).otherwise(0L) +
      when(array_max(transform(ts, t => length(t))) <= 10, 1L).otherwise(0L) +
      when(size(array_distinct(ts)) * 3 >= nTok, 1L).otherwise(0L)
  }

  /** Overflow-safe deterministic sampling hash, shared by every sampling
    * query (hash_sample / stratified_sample / corpus_mixture): the id is
    * mod-reduced BEFORE the Knuth multiplier so the product stays < 2^58
    * at any id magnitude (a bare id * 2654435761 throws
    * ARITHMETIC_OVERFLOW under ANSI past ~3.47e9; DuckDB would silently
    * promote to HUGEINT instead). One Scala source generates both sides.
    */
  private val SampleHashPreMod = 100000007L
  private val SampleHashMult = 2654435761L

  /** Evaluation-harness sample bounds, the SINGLE source of truth for the
    * `doc_id < N` slice that the tuning/attribution/APSS queries AND
    * their oracle SQL share (tuning sweeps and ground-truth-recall
    * evaluations run on a sample by convention — computing exact recall
    * over the full corpus would defeat the index being tuned; see
    * lsh_tuning_curve's header comment). One constant referenced by both
    * sides so the query and its oracle can never drift apart.
    * [[EvalSampleBound]]: lsh_tuning_curve / near_dup_ensemble /
    * allpairs_tfidf; [[PrefixEvalBound]]: prefix_near_dup's 500-doc
    * slice (= the full sf0.01 corpus).
    */
  private[operators] val EvalSampleBound = 1000
  private[operators] val PrefixEvalBound = 500

  /** Product-quantization knobs — single source of truth for the Spark
    * index (Similarity.pqCodebooks) and the oracle's per-subspace CTE
    * chains: PqM contiguous subspaces of PqSub dims (= the 64-dim
    * embedding), PqK codewords each, PqIters Lloyd rounds.
    */
  private val PqM = 4
  private val PqK = 8
  private val PqIters = 2
  private val PqSub = 16

  /** TextRank round count — shared by the Spark loop and the oracle's
    * unrolled CTE chain (the PageRankIters convention).
    */
  private val TextRankIters = 3

  /** IVFADC coarse-quantizer size and probe width (`ann_ivfpq_topk` /
    * `ivfpq_recall`); the residual PQ reuses PqM/PqK/PqIters.
    */
  private val IvfPqCoarseK = 8
  private val IvfPqProbe = 2

  /** Exact squared-L2 top-k ranking (query_id, neighbor_id, rank) for
    * the vec_id<10 probe set — the shared ground-truth side of
    * pq_recall / rbo_rankings / ivfpq_recall. Ranks by ‖c‖² − 2·q·c
    * (monotone in L2; both engines fold identically via vector_dot /
    * list_sum).
    */
  private def exactL2TopK(e: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorExpressions.vectorDot
    val c = e.select(col("vec_id").as("neighbor_id"),
      Similarity.toDouble(col("embedding")).as("cv"))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        Similarity.toDouble(col("embedding")).as("qv"))
    c.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(vectorDot(col("cv"), col("cv")) -
            lit(2.0) * vectorDot(col("qv"), col("cv")), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** RBO persistence and depth for `rbo_rankings`, plus the cumulative
    * tail weights W(m) = Σ_{d=m..K} (1−p)·p^(d−1)/d, 8dp-floored ONCE in
    * Scala and interpolated as identical literals into the Spark
    * when-chain AND the oracle's CASE — so neither engine ever computes
    * pow/geometric sums at query time (no cross-engine pow risk).
    */
  private val RboP = 0.9
  private val RboK = 10
  private val RboCumW: IndexedSeq[Double] = {
    val w = (1 to RboK).map(d => (1 - RboP) * math.pow(RboP, d - 1) / d)
    (1 to RboK).map(m => math.floor(w.drop(m - 1).sum * 1e8 + 0.5) / 1e8)
  }

  /** Number of greedy BPE merge steps `bpe_apply` learns and applies —
    * the single source of truth for the Spark learning loop AND the
    * oracle's unrolled CTE chain (the PageRankIters convention).
    */
  private[operators] val BpeMerges = 5

  /** MMR (Carbonell & Goldstein 1998) selection constants — the
    * candidate-pool size, the number of greedy picks, and the
    * relevance/diversity trade-off, shared by the Spark loop and the
    * oracle's unrolled CTE chain. Lambda literals are written as
    * separate constants (NOT `1 - lambda`: 1−0.7 is 0.30000000000000004
    * in IEEE doubles, which would silently diverge from the oracle's
    * 0.3e0).
    */
  private[operators] val MmrPoolN = 64
  private[operators] val MmrK = 8
  private val MmrLambda = 0.7
  private val MmrDiversity = 0.3

  /** TextTiling (Hearst 1997) block size in tokens — fixed-size
    * pseudo-sentence blocks whose adjacent-pair cosine gaps the
    * `text_tiling` query scores.
    */
  private[operators] val TileBlockTokens = 20

  /** Feature-hashing bucket count for `dsir_weights` — a fixed model
    * size at any SF (the DSIR paper's hashed n-gram trick), shared by
    * the Spark expressions and the oracle SQL.
    */
  private[operators] val DsirBuckets = 256

  /** n-gram identity combiner for `max_rep_ngram`: fold (acc·M + h) mod P
    * over the window's token hashes. acc < 2³¹ after the mod and
    * M ≈ 2²⁰, so acc·M + h < 2⁵² — no ANSI overflow at any input. One
    * Scala source generates both engines' arithmetic.
    */
  private val RepHashMult = 1000003L
  private val RepHashMod = 2147483647L

  /** SQL mirror of the per-row hash-gram builder (the [[TextOps.sqlGrams]]
    * slice/zip structure over a bound `hs` token-hash list, with the
    * [[RepHashMult]] combiner instead of string concat; same short-doc
    * guard — DuckDB's negative slice stops wrap around from the end).
    */
  private def sqlHashGrams(n: Int): String = {
    def bound(i: Int) = {
      val drop = n - 1 - i
      if (drop == 0) s"hs[${i + 1}:len(hs)]" else s"hs[${i + 1}:len(hs)-$drop]"
    }
    val acc = (1 until n).foldLeft(bound(0)) { (a, i) =>
      s"list_transform(list_zip($a, ${bound(i)}), " +
        s"s -> (s[1]*$RepHashMult + s[2]) % $RepHashMod)"
    }
    s"CASE WHEN len(hs) < $n THEN CAST([] AS BIGINT[]) ELSE $acc END"
  }

  private def sampleHash(id: org.apache.spark.sql.Column,
                         buckets: Long): org.apache.spark.sql.Column =
    ((id % lit(SampleHashPreMod)) * lit(SampleHashMult)) % buckets

  private def sqlSampleHash(idExpr: String, buckets: Long): String =
    s"(($idExpr % $SampleHashPreMod) * $SampleHashMult) % $buckets"

  /** Per-source sampling rates (per-mille) for the mixture query — the
    * single source of truth both the Spark when-chain and the oracle's
    * CASE expression are generated from.
    */
  private val MixtureRates: Seq[(String, Long)] =
    Seq("src0" -> 900L, "src1" -> 500L, "src2" -> 250L, "src3" -> 100L)
  private val MixtureDefault = 50L

  /** Below this many words/bigrams a top-fraction threshold does not
    * bind: 2 distinct bigrams put the top one at 0.5 with zero actual
    * repetition. Gopher defines its fractions on long documents (length
    * prefilters); this gate is the count-fraction analog.
    */
  private val RepMinMass = 10

  /** BM25 (k1=1.2, b=0.75) document scores for the fixed query terms —
    * shared by `bm25_search` and `rrf_fusion`. tf rows exist only for
    * query terms, df/corpus stats are term- and 1-row-sized broadcasts,
    * per-term scores round 6dp before the decimal per-doc sum (ln
    * parity). Output: (doc_id, n_terms, bm25), unordered/unlimited — the
    * callers pick their own top-k via TakeOrdered.
    */
  private def bm25Scored(d: DataFrame): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val k1 = 1.2; val bP = 0.75
    val dl = d.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl") / count(lit(1))).as("avgdl")))
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df_, "token").join(dl, "doc_id").crossJoin(stats)
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score",
        roundHU(col("idf") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - bP) + lit(bP) * col("dl") / col("avgdl"))), 1e6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score").cast("decimal(18,6)")).cast("double").as("bm25"))
  }

  /** Per-doc repetition fractions + keep flag (shared by
    * `repetition_score` and the curation pipeline). Null fractions (no
    * tokens / no bigrams) pass: absence of repetition evidence is not
    * repetition; fractions over fewer than [[RepMinMass]] grams pass
    * too. Thresholds: top word 0.5, top bigram 0.2, duplicate lines 0.3
    * (Gopher-style).
    */
  private def repetitionFrame(d: DataFrame): DataFrame = {
    def topFrac(elems: org.apache.spark.sql.Column, out: String, n: String): DataFrame =
      d.select(col("doc_id"), explode(elems).as("e"))
        .groupBy("doc_id", "e").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg((max("c") / sum("c")).as(out), sum("c").as(n))
    val lines = split(col("text"), "\n")
    d.select(col("doc_id"),
        ((size(lines) - size(array_distinct(lines))) / size(lines))
          .as("dup_line_frac"))
      .join(topFrac(tokens(col("text")), "top_word_frac", "n_words"), Seq("doc_id"), "left")
      .join(topFrac(bigrams(col("text")), "top_bigram_frac", "n_bigrams"), Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("top_word_frac") <= 0.5 || col("n_words") < RepMinMass, lit(true)) &&
          coalesce(col("top_bigram_frac") <= 0.2 || col("n_bigrams") < RepMinMass, lit(true)) &&
          coalesce(col("dup_line_frac") <= 0.3, lit(true)))
  }

  /** Oracle for `ann_ivf_topk`: the IVF index is deterministic end to end
    * — seeds are the `nClusters` lowest-id vectors, Lloyd iterations use
    * decimal-exact sums (one double rounding per mean), assignment ranks
    * by `‖c‖² − 2·v·c` with ties on cluster index — so the "approximate"
    * result has one exact answer, reproduced here as a CTE chain: one
    * (assign → means → coalesce-empty-clusters) round per iteration, then
    * corpus assignment, query multiprobe, and cosine ranking.
    */
  // squared-L2 rank score vs centroid list `c` of aliased relation s:
  // ‖c‖² − 2·v·c, the same fold order as the Spark/JVM side
  private def ivfScore(vecExpr: String) =
    s"list_sum(list_transform(s.c, x -> x*x)) - 2.0 * " +
      s"list_sum(list_transform(list_zip($vecExpr, s.c), p -> p[1]*p[2]))"

  private def ivfAssignCte(name: String, centPrev: String) =
    s"""$name AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT v.vec_id, s.cl,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${ivfScore("v.e")}, s.cl) AS rn
       |    FROM v CROSS JOIN $centPrev s)
       |  WHERE rn = 1)"""

  /** The shared IVF WITH-body: seeds, `iters` Lloyd rounds, and the final
    * corpus assignment CTE (`assign`; centroids in `cent$iters`). Assumes
    * a CTE `v(vec_id, e)` is already in scope. See [[ivfAnnOracle]] for
    * why each step is exactly reproducible.
    */
  private def ivfChainCtes(nClusters: Int, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""${ivfAssignCte(s"a$t", s"cent${t - 1}")},
         |m$t AS (
         |  SELECT cl, pos, CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM (SELECT a$t.cl, unnest(v.e) AS val, generate_subscripts(v.e, 1) AS pos
         |        FROM a$t JOIN v USING (vec_id))
         |  GROUP BY cl, pos),
         |c$t AS (SELECT cl, list(m ORDER BY pos) AS c FROM m$t GROUP BY cl),
         |cent$t AS (
         |  SELECT s.cl, COALESCE(c$t.c, s.c) AS c
         |  FROM cent${t - 1} s LEFT JOIN c$t USING (cl))"""
    }.mkString(",\n")
    s"""cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, e AS c
       |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $nClusters)),
       |$rounds,
       |${ivfAssignCte("assign", s"cent$iters")}""".stripMargin
  }

  /** Query multiprobe + candidate CTEs for the IVF chain: `$prefix_ap`
    * holds the approximate (query_id, neighbor_id) top-k.
    */
  /** One PQ subspace's WITH-bodies: the slice CTE `vp$si` over
    * `e[lo:hi]`, then the SAME deterministic Lloyd chain as
    * [[ivfChainCtes]] with every CTE name prefixed `p${si}_` (codebook
    * in `p${si}_cent$iters`, corpus codes in `p${si}_assign`).
    */
  private def pqChainCtes(si: Int, k: Int, iters: Int,
                          src: String = "v"): String = {
    val lo = si * PqSub + 1
    val hi = (si + 1) * PqSub
    def assign(name: String, centPrev: String) =
      s"""$name AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT v.vec_id, s.cl,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${ivfScore("v.e")}, s.cl) AS rn
         |    FROM vp$si v CROSS JOIN $centPrev s)
         |  WHERE rn = 1)"""
    val rounds = (1 to iters).map { t =>
      s"""${assign(s"p${si}_a$t", s"p${si}_cent${t - 1}")},
         |p${si}_m$t AS (
         |  SELECT cl, pos, CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
         |  FROM (SELECT a.cl, unnest(v.e) AS val, generate_subscripts(v.e, 1) AS pos
         |        FROM p${si}_a$t a JOIN vp$si v USING (vec_id))
         |  GROUP BY cl, pos),
         |p${si}_c$t AS (SELECT cl, list(m ORDER BY pos) AS c FROM p${si}_m$t GROUP BY cl),
         |p${si}_cent$t AS (
         |  SELECT s.cl, COALESCE(c.c, s.c) AS c
         |  FROM p${si}_cent${t - 1} s LEFT JOIN p${si}_c$t c USING (cl))"""
    }.mkString(",\n")
    s"""vp$si AS (SELECT vec_id, e[$lo:$hi] AS e FROM $src),
       |p${si}_cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, e AS c
       |  FROM (SELECT vec_id, e FROM vp$si ORDER BY vec_id LIMIT $k)),
       |$rounds,
       |${assign(s"p${si}_assign", s"p${si}_cent$iters")}""".stripMargin
  }

  /** All PqM subspace chains plus the two union views every PQ oracle
    * reads: `pq_cbu(subspace, cl, c)` — the trained codebooks — and
    * `pq_codes(vec_id, subspace, code)` — the corpus codes.
    */
  private def pqAllCtes(iters: Int, src: String = "v"): String = {
    val chains = (0 until PqM).map(si =>
      pqChainCtes(si, PqK, iters, src)).mkString(",\n")
    val cbu = (0 until PqM).map(si =>
      s"SELECT CAST($si AS BIGINT) AS subspace, cl, c FROM p${si}_cent$iters")
      .mkString("\n  UNION ALL ")
    val codes = (0 until PqM).map(si =>
      s"SELECT vec_id, CAST($si AS BIGINT) AS subspace, cl AS code FROM p${si}_assign")
      .mkString("\n  UNION ALL ")
    s"""$chains,
       |pq_cbu AS ($cbu),
       |pq_codes AS ($codes)""".stripMargin
  }

  /** Oracle for `pq_codebooks`: the per-subspace Lloyd chains, then the
    * (subspace, codeword) occupancy + mean 8dp-exact squared
    * reconstruction error rollup.
    */
  private def pqCodebooksOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${pqAllCtes(PqIters)},
       |terms AS (
       |  SELECT c.vec_id, c.subspace, c.code, v.e AS fe,
       |         unnest(cb.c) AS cval, generate_subscripts(cb.c, 1) AS pos
       |  FROM pq_codes c
       |  JOIN pq_cbu cb ON cb.subspace = c.subspace AND cb.cl = c.code
       |  JOIN v ON v.vec_id = c.vec_id),
       |d AS (
       |  SELECT vec_id, subspace, code,
       |         SUM(CAST(floor((fe[subspace * $PqSub + pos] - cval)
       |                        * (fe[subspace * $PqSub + pos] - cval)
       |                        * 1e8 + 0.5) / 1e8 AS DECIMAL(28,8))) AS d2
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT subspace, code AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       floor(CAST(SUM(d2) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_dist2
       |FROM d GROUP BY 1, 2 ORDER BY subspace, cluster""".stripMargin

  /** The ADC LUT + ranked top-k CTEs (`adc_ranked`), assuming `v`,
    * `pq_cbu`, `pq_codes` in scope: per-(query, subspace, codeword)
    * 8dp-exact decimal distances, summed per (query, vec) over the m
    * code lookups.
    */
  private def pqAdcCtes(k: Int): String =
    s"""lutq AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
       |lut_terms AS (
       |  SELECT q.query_id, cb.subspace, cb.cl, q.e AS qe,
       |         unnest(cb.c) AS cval, generate_subscripts(cb.c, 1) AS pos
       |  FROM lutq q CROSS JOIN pq_cbu cb),
       |lut AS (
       |  SELECT query_id, subspace, cl,
       |         SUM(CAST(floor((qe[subspace * $PqSub + pos] - cval)
       |                        * (qe[subspace * $PqSub + pos] - cval)
       |                        * 1e8 + 0.5) / 1e8 AS DECIMAL(28,8))) AS d2
       |  FROM lut_terms GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.d2) AS adc_dec
       |  FROM pq_codes c
       |  JOIN lut l ON l.subspace = c.subspace AND l.cl = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |adc_ranked AS (
       |  SELECT query_id, neighbor_id, adc_dec,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_dec, neighbor_id) AS rank
       |  FROM adc)""".stripMargin

  /** Oracle for `ann_pq_topk`. */
  private def pqAdcTopKOracle(k: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${pqAllCtes(PqIters)},
       |${pqAdcCtes(k)}
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |       floor(CAST(adc_dec AS DOUBLE) * 1e6 + 0.5) / 1e6 AS adc
       |FROM adc_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Oracle for `pq_recall`: exact squared-L2 top-k (ranked by the
    * ivfScore spelling ‖c‖² − 2·q·c, monotone in L2) ∩ the ADC top-k.
    */
  private def pqRecallOracle(k: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${pqAllCtes(PqIters)},
       |${pqAdcCtes(k)},
       |exs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_sum(list_transform(c.e, x -> x*x)) - 2.0 *
       |           list_sum(list_transform(list_zip(q.e, c.e), p -> p[1]*p[2])) AS score
       |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score, neighbor_id) AS rank
       |    FROM exs)
       |  WHERE rank <= $k),
       |ap AS (SELECT query_id, neighbor_id FROM adc_ranked WHERE rank <= $k),
       |h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |      FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
       |n AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |      FROM ex GROUP BY 1)
       |SELECT n.query_id, n.n_exact,
       |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / n.n_exact * 1e6 + 0.5)
       |         / 1e6 AS recall
       |FROM n LEFT JOIN h ON n.query_id = h.query_id
       |ORDER BY n.query_id""".stripMargin

  /** The IVFADC WITH-body shared by `ann_ivfpq_topk` / `ivfpq_recall`:
    * the coarse chain (ivfChainCtes → cent$iters, assign), the residual
    * corpus `vr` (exact IEEE subtraction of the decimal-exact centroid),
    * the GLOBAL residual-PQ chains (pqAllCtes over vr), the per-(query,
    * probed-cell) residual LUT, and the ranked ADC candidates
    * (`ivfpq_ranked`).
    */
  private def ivfPqCtes(coarseK: Int, nProbe: Int): String =
    s"""${ivfChainCtes(coarseK, PqIters)},
       |vr AS MATERIALIZED (
       |  SELECT v.vec_id,
       |         list_transform(list_zip(v.e, s.c), p -> p[1] - p[2]) AS e
       |  FROM v JOIN assign USING (vec_id) JOIN cent$PqIters s ON s.cl = assign.cl),
       |${pqAllCtes(PqIters, src = "vr")},
       |probes AS (
       |  SELECT vec_id AS query_id, e, cl FROM (
       |    SELECT v.vec_id, v.e, s.cl,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${ivfScore("v.e")}, s.cl) AS rn
       |    FROM v CROSS JOIN cent$PqIters s
       |    WHERE v.vec_id < 10)
       |  WHERE rn <= $nProbe),
       |qr AS MATERIALIZED (
       |  SELECT p.query_id, p.cl AS cluster,
       |         list_transform(list_zip(p.e, s.c), x -> x[1] - x[2]) AS qres
       |  FROM probes p JOIN cent$PqIters s ON s.cl = p.cl),
       |lut_terms AS (
       |  SELECT q.query_id, q.cluster, cb.subspace, cb.cl, q.qres,
       |         unnest(cb.c) AS cval, generate_subscripts(cb.c, 1) AS pos
       |  FROM qr q CROSS JOIN pq_cbu cb),
       |lut AS (
       |  SELECT query_id, cluster, subspace, cl,
       |         SUM(CAST(floor((qres[subspace * $PqSub + pos] - cval)
       |                        * (qres[subspace * $PqSub + pos] - cval)
       |                        * 1e8 + 0.5) / 1e8 AS DECIMAL(28,8))) AS d2
       |  FROM lut_terms GROUP BY 1, 2, 3, 4),
       |cc AS (SELECT c.vec_id, a.cl AS cluster, c.subspace, c.code
       |       FROM pq_codes c JOIN assign a USING (vec_id)),
       |ivfpq_adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.d2) AS adc_dec
       |  FROM cc c
       |  JOIN lut l ON l.cluster = c.cluster AND l.subspace = c.subspace
       |            AND l.cl = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ivfpq_ranked AS (
       |  SELECT query_id, neighbor_id, adc_dec,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_dec, neighbor_id) AS rank
       |  FROM ivfpq_adc)""".stripMargin

  /** Oracle for `ann_ivfpq_topk`. */
  private def ivfPqTopKOracle(k: Int, coarseK: Int, nProbe: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${ivfPqCtes(coarseK, nProbe)}
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |       floor(CAST(adc_dec AS DOUBLE) * 1e6 + 0.5) / 1e6 AS adc
       |FROM ivfpq_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Oracle for `ivfpq_recall`: exact squared-L2 top-k ∩ the IVFADC
    * top-k — cell misses and quantization error land in one number.
    */
  private def ivfPqRecallOracle(k: Int, coarseK: Int, nProbe: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${ivfPqCtes(coarseK, nProbe)},
       |exs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_sum(list_transform(c.e, x -> x*x)) - 2.0 *
       |           list_sum(list_transform(list_zip(q.e, c.e), p -> p[1]*p[2])) AS score
       |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score, neighbor_id) AS rank
       |    FROM exs)
       |  WHERE rank <= $k),
       |ap AS (SELECT query_id, neighbor_id FROM ivfpq_ranked WHERE rank <= $k),
       |h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |      FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
       |n AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |      FROM ex GROUP BY 1)
       |SELECT n.query_id, n.n_exact,
       |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / n.n_exact * 1e6 + 0.5)
       |         / 1e6 AS recall
       |FROM n LEFT JOIN h ON n.query_id = h.query_id
       |ORDER BY n.query_id""".stripMargin

  /** Oracle for `rbo_rankings`: the ADC ranking (pqAdcCtes) joined to
    * the exact squared-L2 ranking on (query, neighbor); each shared
    * pair contributes the Scala-precomputed cumulative tail weight
    * W(max(ra, rb)) — identical literals to the Spark when-chain.
    */
  private def rboOracle: String = {
    val cases = (1 to RboK).map(m =>
      s"WHEN ${m} THEN ${RboCumW(m - 1)}").mkString(" ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${pqAllCtes(PqIters)},
       |${pqAdcCtes(RboK)},
       |exs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_sum(list_transform(c.e, x -> x*x)) - 2.0 *
       |           list_sum(list_transform(list_zip(q.e, c.e), p -> p[1]*p[2])) AS score
       |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score, neighbor_id) AS rank
       |    FROM exs)
       |  WHERE rank <= $RboK),
       |paired AS (
       |  SELECT ex.query_id,
       |         CAST(CASE greatest(ex.rank, ap.rank) $cases END
       |              AS DECIMAL(18,8)) AS w
       |  FROM ex JOIN (SELECT query_id, neighbor_id, rank FROM adc_ranked
       |                WHERE rank <= $RboK) ap
       |    USING (query_id, neighbor_id)),
       |per AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS overlap_at_k,
       |         CAST(SUM(w) AS DOUBLE) AS rsum
       |  FROM paired GROUP BY 1)
       |SELECT q.query_id,
       |       CAST(COALESCE(per.overlap_at_k, 0) AS BIGINT) AS overlap_at_k,
       |       floor(COALESCE(per.rsum, 0.0) * 1e6 + 5e-1) / 1e6 AS rbo
       |FROM (SELECT vec_id AS query_id FROM v WHERE vec_id < 10) q
       |LEFT JOIN per USING (query_id)
       |ORDER BY q.query_id""".stripMargin
  }

  private def ivfApCtes(prefix: String, nProbe: Int, k: Int, iters: Int): String =
    s"""${prefix}_probes AS (
       |  SELECT vec_id AS query_id, e, cl FROM (
       |    SELECT v.vec_id, v.e, s.cl,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${ivfScore("v.e")}, s.cl) AS rn
       |    FROM v CROSS JOIN cent$iters s
       |    WHERE v.vec_id < 10)
       |  WHERE rn <= $nProbe),
       |${prefix}_cand AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, ${sqlCos("q", "c")} AS cos
       |  FROM ${prefix}_probes q
       |  JOIN (SELECT v.vec_id, v.e, assign.cl FROM v JOIN assign USING (vec_id)) c
       |    ON c.cl = q.cl AND c.vec_id <> q.query_id),
       |${prefix}_ap AS (
       |  SELECT query_id, neighbor_id, cos, rank FROM (
       |    SELECT query_id, neighbor_id, cos,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ${prefix}_cand)
       |  WHERE rank <= $k)""".stripMargin

  /** Oracle for `semantic_dedup`: the same deterministic k-means chain
    * as [[ivfAnnOracle]] (seeds, decimal-exact Lloyd rounds, the
    * `‖c‖²−2·v·c` assignment), then the within-cluster pair join and the
    * keep-lowest-id witness pick — SemDeDup's cluster-scoped comparison
    * reproduced as SQL.
    */
  private def semanticDedupOracle(nClusters: Int, iters: Int,
                                  threshold: String): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${ivfChainCtes(nClusters, iters)},
       |pairs AS (
       |  SELECT ab.vec_id AS vec_id, aa.cl AS cluster, aa.vec_id AS dup_of,
       |         ${sqlCos("a", "b")} AS cos
       |  FROM assign aa JOIN assign ab ON aa.cl = ab.cl AND aa.vec_id < ab.vec_id
       |  JOIN v a ON a.vec_id = aa.vec_id
       |  JOIN v b ON b.vec_id = ab.vec_id),
       |hit AS (
       |  SELECT vec_id, cluster, dup_of, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dup_of) AS rn
       |  FROM pairs WHERE cos >= $threshold)
       |SELECT vec_id, cluster, dup_of, cos FROM hit WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  private def ivfAnnOracle(nClusters: Int, nProbe: Int, k: Int, iters: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${ivfChainCtes(nClusters, iters)},
       |${ivfApCtes("p", nProbe, k, iters)}
       |SELECT query_id, rank, neighbor_id, cos FROM p_ap
       |ORDER BY query_id, rank""".stripMargin

  /** Exact per-query top-k CTEs (`ex`), assuming `v` in scope. */
  private def exactTopKCtes(k: Int): String =
    s"""exs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${sqlCos("q", "c")} AS cos
       |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM exs)
       |  WHERE rank <= $k)""".stripMargin

  /** Oracle for `ann_ivf_recall`: [[exactTopKCtes]] ∩ the IVF top-k,
    * per-query recall — the IVF twin of [[annRecallOracle]].
    */
  private def ivfRecallOracle(nClusters: Int, nProbe: Int, k: Int, iters: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${exactTopKCtes(k)},
       |${ivfChainCtes(nClusters, iters)},
       |${ivfApCtes("p", nProbe, k, iters)},
       |h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |      FROM ex JOIN p_ap USING (query_id, neighbor_id) GROUP BY 1),
       |n AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |      FROM ex GROUP BY 1)
       |SELECT n.query_id, n.n_exact,
       |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / n.n_exact * 1e6 + 0.5)
       |         / 1e6 AS recall
       |FROM n LEFT JOIN h ON n.query_id = h.query_id
       |ORDER BY n.query_id""".stripMargin

  /** LSH bucket + probe CTEs for one Hamming radius: `${prefix}_ap` holds
    * the approximate (query_id, neighbor_id) top-k. Assumes the shared
    * `b(vec_id, e, bucket)` CTE is in scope.
    */
  private def lshApCtes(prefix: String, nPlanes: Int, radius: Int, k: Int): String = {
    // probe masks from the SAME enumerator the Spark index uses
    val flips = Similarity.hammingFlips(nPlanes, radius)
      .mkString("[", ", ", "]")
    s"""${prefix}_q AS (
       |  SELECT vec_id AS query_id, e, xor(bucket, flip) AS probe
       |  FROM b, unnest($flips) AS t(flip)
       |  WHERE vec_id < 10),
       |${prefix}_cand AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, ${sqlCos("q", "c")} AS cos
       |  FROM ${prefix}_q q JOIN b c ON c.bucket = q.probe AND c.vec_id <> q.query_id),
       |${prefix}_ap AS (
       |  SELECT query_id, neighbor_id, cos, rank FROM (
       |    SELECT query_id, neighbor_id, cos,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ${prefix}_cand)
       |  WHERE rank <= $k)""".stripMargin
  }

  /** Oracle for `ann_tuning_curve`: one micro-averaged recall row per
    * (index family, knob value). Micro-average = SUM(hits)/SUM(exact) —
    * integer sums, one division, no float-accumulation order.
    */
  private def annTuningCurveOracle(nPlanes: Int, dim: Int, k: Int,
                                   nClusters: Int, iters: Int): String = {
    val radii = Seq(0, 1, 2)
    val probes = Seq(1, 2, 4, 8)
    val lshCtes = radii.map(r => lshApCtes(s"l$r", nPlanes, r, k)).mkString(",\n")
    val ivfAps = probes.map(p => ivfApCtes(s"i$p", p, k, iters)).mkString(",\n")
    def hitCte(prefix: String) =
      s"""${prefix}_h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM ex JOIN ${prefix}_ap USING (query_id, neighbor_id)),
         |${prefix}_cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM ${prefix}_cand)""".stripMargin
    val hits = (radii.map(r => hitCte(s"l$r")) ++ probes.map(p => hitCte(s"i$p")))
      .mkString(",\n")
    def pointSelect(family: String, param: Int, prefix: String) =
      s"""SELECT '$family' AS family, CAST($param AS BIGINT) AS param,
         |       n.n_exact, h.n_hit, c.n_cand,
         |       floor(CAST(h.n_hit AS DOUBLE) / n.n_exact * 1e6 + 0.5) / 1e6 AS recall
         |FROM n, ${prefix}_h h, ${prefix}_cn c""".stripMargin
    val points = (radii.map(r => pointSelect("lsh_radius", r, s"l$r")) ++
      probes.map(p => pointSelect("ivf_nprobe", p, s"i$p")))
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${exactTopKCtes(k)},
       |${lshBucketCte(nPlanes, dim)},
       |$lshCtes,
       |${ivfChainCtes(nClusters, iters)},
       |$ivfAps,
       |$hits,
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex)
       |SELECT family, param, n_exact, n_hit, n_cand, recall FROM (
       |$points)
       |ORDER BY family, param""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: token counting (whitespace + BPE-ish regex)
    "token_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"),
        array_max(transform(tokens(col("text")), t => length(t).cast("long"))).as("max_tok_len"),
        bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
        stopwordHits(col("text")).cast("long").as("stop_hits"))
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: stopword evidence vs the labeled lang column
    "lang_id" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        when(stopwordHits(col("text")) > 0, "en").otherwise("unk").as("pred_lang"),
        col("lang"))
        .withColumn("is_match", col("pred_lang") === col("lang"))
        .orderBy("doc_id")
    }),

    // Quality scoring: integer-weighted length/stopword/diversity signals
    "quality_score" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), col("n_chars"), qualityScore.as("score"))
        .withColumn("bucket",
          when(col("score") >= 4, "high").when(col("score") >= 2, "medium").otherwise("low"))
        .orderBy("doc_id")
    }),

    // L197 — Flesch reading-ease (Flesch 1948), the classic readability
    // signal corpus-quality filters bucket on: 206.835 − 1.015·(words/
    // sentences) − 84.6·(syllables/words), with syllables approximated
    // as vowel-group runs ([aeiouy]+, case-folded) — the standard
    // dictionary-free proxy. Sentences = terminal-mark count floored at
    // 1 (a fragment is one sentence, not a division by zero). Pure
    // per-row regexp counting + scalar math; one scan at any SF.
    "readability_flesch" -> ((s, dir) => {
      val words = size(tokens(col("text"))).cast("long")
      val sents = greatest(
        size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))).cast("long"),
        lit(1L))
      val sylls = size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0))).cast("long")
      docs(s, dir)
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
          sylls.as("n_syllables"))
        .filter(col("n_words") > 0L)
        .withColumn("flesch",
          roundHU(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
            1e6))
        .withColumn("band",
          when(col("flesch") >= 60.0, "easy")
            .when(col("flesch") >= 30.0, "standard").otherwise("difficult"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: order-sensitive rolling hash over tokens
    // (typed fast path; integers identical to the declarative form)
    "doc_fingerprint" -> ((s, dir) => {
      Dedup.fingerprints(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Exact dedup: survivor id + group size per identical text
    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), Seq("text"), "doc_id")
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    }),

    // MinHash signatures (8 permutation hashes over bigram shingles)
    "minhash_signature" -> ((s, dir) => {
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text")
        .drop("sh")
        .orderBy("doc_id")
    }),

    // 16-bit SimHash per document
    "simhash" -> ((s, dir) => {
      Dedup.simhashes(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SimHash near-dup retrieval: Hamming-close pairs via the block
    // self-join (per-doc state is one long; bit_count(xor) streams
    // inside the join stage)
    // maxHamming=1: 16 bits over a shared vocabulary is collision-dense,
    // so a loose radius would emit a large fraction of all pairs —
    // SimHash is the coarse pre-filter; exact confirms follow it
    "simhash_near_dup" -> ((s, dir) => {
      Dedup.simhashNearDups(docs(s, dir), "doc_id", "text", maxHamming = 1)
        .orderBy("a_id", "b_id")
    }),

    // MinHash-LSH near-dup: banded candidates + exact-jaccard confirm
    "lsh_near_dup" -> ((s, dir) => {
      Dedup.lshNearDups(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // L135 — MinHash-LSH banding tuning curve: candidates, precision and
    // recall vs exact jaccard ≥ 0.5 ground truth for rows-per-band r ∈
    // {1,2,4} (b = 8/r bands) — the dedup twin of ann_tuning_curve. The
    // S-curve p = 1−(1−j^r)^b is theory; this measures what the knob
    // actually buys on the corpus before a 100 TB run commits to a
    // setting. Ground truth comes from the EXACT-recall prefix-filter
    // path (never all-pairs); the signature table is computed once and
    // every sweep point re-buckets it (one explode + keyed self-join per
    // point, the lsh_near_dup shape). Input bounded to EvalSampleBound
    // (the prefix_near_dup convention): a tuning sweep is an evaluation
    // harness you run on a SAMPLE to pick the knob — computing exact
    // ground-truth recall over the full corpus would defeat the point
    // of the index being tuned; r=1 candidate volume grows ~n² on this
    // min-collision-heavy synthetic corpus. sf0.01 (500 docs) unaffected.
    // r13 optimization (guide §2.4/§3): the three sweep points used to
    // run one banding explode + bucket self-join + pair-distinct EACH,
    // and ground truth came from the prefix-filter path — this corpus's
    // documented WORST case (hot vocabulary → the posting self-join
    // degenerates toward all-pairs with per-candidate join overhead).
    // Now every sweep point shares ONE bucket self-join + ONE dedup
    // (lshCandidatesMulti, per-r identical by keying on band_rows) and
    // truth comes from the typed block path (blockNearDups) — the SAME
    // pair set row-for-row: both truth paths are exact all-pairs-
    // jaccard ≥ t (prefix by the exact-recall guarantee, block by
    // brute-force equivalence, both spec-pinned), with the identical
    // sorted-merge intersect arithmetic. Oracle unchanged.
    "lsh_tuning_curve" -> ((s, dir) => {
      import s.implicits._
      val sample = docs(s, dir).filter(col("doc_id") < EvalSampleBound)
      val sigs = Dedup.minhashSignatures(sample, "doc_id", "text")
        .localCheckpoint(false)
      val truth = Dedup.blockNearDups(sample, "doc_id", "text", threshold = 0.5)
        .select("a_id", "b_id").localCheckpoint(false)
      val rs = Seq(1, 2, 4)
      val cand = Dedup.lshCandidatesMulti(sigs, "doc_id", rs)
        .localCheckpoint(false) // reused: the volume count + the hit join
      val nCand = cand.groupBy("band_rows").agg(count(lit(1)).as("n_cand"))
      val nHit = cand.join(truth, Seq("a_id", "b_id"), "left_semi")
        .groupBy("band_rows").agg(count(lit(1)).as("n_hit"))
      // every sweep point must appear even with zero candidates (the
      // old per-point 1-row aggregates could never lose a row)
      val points = rs
        .map(r => (r.toLong, (TextOps.MinhashParams.size / r).toLong))
        .toDF("band_rows", "n_bands")
      points
        .join(nCand, Seq("band_rows"), "left")
        .join(nHit, Seq("band_rows"), "left")
        .na.fill(0L, Seq("n_cand", "n_hit"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .select(col("band_rows"), col("n_bands"),
          col("n_cand"), col("n_true"), col("n_hit"),
          when(col("n_cand") > 0,
            roundHU(col("n_hit").cast("double") / col("n_cand"), 1e6))
            .as("precision"),
          when(col("n_true") > 0,
            roundHU(col("n_hit").cast("double") / col("n_true"), 1e6))
            .as("recall"))
        .orderBy("band_rows")
    }),

    // n-gram jaccard all-pairs: exact semantics distributed via the block
    // self-join (row-identical to brute force, no driver collect). The
    // prefix-filtering path (prefix_near_dup below) is the sub-quadratic
    // exact alternative for vocabulary-rich corpora.
    "ngram_jaccard" -> ((s, dir) => {
      Dedup.blockNearDups(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // Same exact near-dup semantics via AllPairs/PPJoin-style prefix
    // filtering — the SUB-QUADRATIC exact path on vocabulary-RICH
    // corpora (candidates only for pairs sharing a rare-prefix
    // shingle). This synthetic corpus is its documented WORST case —
    // a small shared vocabulary makes every shingle hot, so the prefix
    // index degenerates toward all-pairs (80s at sf0.1 vs 1.7s for the
    // block path) — hence the oracle contract runs on a fixed 500-doc
    // slice (the full sf0.01 corpus) while DedupSpec/DedupPropsSpec
    // prove ≡ bruteForcePairs corpus-agnostically; blockNearDups
    // (ngram_jaccard) stays the registered full-corpus exact path.
    // Low threshold on purpose: long prefixes exercise the exact
    // minimum-overlap bound (the double-ceil rounding trap lives at
    // t·|s| integer boundaries).
    "prefix_near_dup" -> ((s, dir) => {
      Dedup.prefixNearDups(docs(s, dir).filter(col("doc_id") < PrefixEvalBound),
          "doc_id", "text", threshold = 0.25)
        .orderBy("a_id", "b_id")
    }),

    // L134 — weighted all-pairs similarity search (Bayardo et al., WWW
    // 2007): exact TF-IDF-cosine pairs at ≥ 0.9 with prefix-filtered
    // candidates — the WEIGHTED sibling of prefix_near_dup's jaccard
    // filter. Every stage is a keyed join/window (tf/df/norm partials,
    // per-doc prefix window, prefix-posting equi-join, candidate-keyed
    // verify); the frequency-ascending term order keeps hot terms out
    // of prefixes so posting buckets stay bounded. The oracle computes
    // naive all-pairs — identical rows BY THE EXACT-RECALL GUARANTEE,
    // which the hash compare therefore proves mechanically.
    // Input bounded to EvalSampleBound (the prefix_near_dup convention):
    // the ~56-token synthetic vocabulary is APSS-hostile — every doc
    // shares hot terms with every other, so candidate volume grows
    // ~n²/|vocab| no matter the term order (real corpora are Zipfian
    // with huge vocabularies, which is where the filter earns its
    // keep); the bound keeps the bench workload sized to what this
    // data can meaningfully exercise. sf0.01 (500 docs) is unaffected.
    "allpairs_tfidf" -> ((s, dir) => {
      AllPairs.tfidfNearDupPairs(docs(s, dir).filter(col("doc_id") < EvalSampleBound),
          "doc_id", "text", threshold = 0.9)
        .orderBy("a_id", "b_id")
    }),

    // L141 — blocking-recall attribution: every TRUE near-dup pair
    // (exact jaccard ≥ 0.5 via the exact-recall prefix path) flagged
    // with whether each sub-quadratic CANDIDATE generator — MinHash-LSH
    // banding, sorted-neighborhood windows — surfaced it. The table
    // that tells you which blocking family to trust on THIS corpus
    // before committing a 100 TB pass to one of them (complement of
    // lsh_tuning_curve: that measures volume-for-recall of one family's
    // knob; this attributes per-pair recall across families). Truth and
    // flags are all keyed joins; nothing quadratic.
    "near_dup_ensemble" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < EvalSampleBound)
      val sigs = Dedup.minhashSignatures(d, "doc_id", "text")
        .localCheckpoint(false)
      // truth via the typed block path (r13, guide §3): row- and
      // jaccard-identical to the old prefix+confirm form (both are
      // exact all-pairs ≥ t with the same sorted-merge arithmetic,
      // spec-pinned) — but the prefix posting self-join is this hot-
      // vocab corpus's documented worst case, while the block pass is
      // one typed shuffle with no join machinery
      val truth = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
      val lshc = Dedup.lshCandidates(sigs, "doc_id")
        .withColumn("by_lsh", lit(true))
      val snmc = Dedup.sortedNeighborhoodCandidates(d, "doc_id", "text",
          window = 8, blockChars = 8)
        .distinct() // a left-join FLAG side must be key-unique
        .withColumn("by_snm", lit(true))
      truth.join(lshc, Seq("a_id", "b_id"), "left")
        .join(snmc, Seq("a_id", "b_id"), "left")
        .select(col("a_id"), col("b_id"), col("jaccard"),
          coalesce(col("by_lsh"), lit(false)).as("by_lsh"),
          coalesce(col("by_snm"), lit(false)).as("by_snm"))
        .orderBy("a_id", "b_id")
    }),

    // L293 — capture–recapture (Chapman) dedup-coverage estimator: the
    // two blocking families' catches over the true near-dup pair set
    // treated as two ecological "captures" — N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    // estimates the TOTAL dup count from catch sizes and overlap alone,
    // validated here against the known truth (the honest framing: on a
    // 100 TB corpus you can't afford truth, and this is the estimator
    // you'd ship; family dependence biases N̂ low when both families
    // miss the same hard pairs — that bias is exactly what comparing to
    // true_pairs exposes). Reuses near_dup_ensemble's keyed joins; one
    // aggregate row of algebra.
    "capture_recapture" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < EvalSampleBound)
      val sigs = Dedup.minhashSignatures(d, "doc_id", "text")
        .localCheckpoint(false)
      // block-path truth, same rows as the old prefix+confirm form —
      // see near_dup_ensemble's comment (r13)
      val truth = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
      val lshc = Dedup.lshCandidates(sigs, "doc_id")
        .withColumn("by_lsh", lit(true))
      val snmc = Dedup.sortedNeighborhoodCandidates(d, "doc_id", "text",
          window = 8, blockChars = 8)
        .distinct()
        .withColumn("by_snm", lit(true))
      truth.join(lshc, Seq("a_id", "b_id"), "left")
        .join(snmc, Seq("a_id", "b_id"), "left")
        .select(coalesce(col("by_lsh"), lit(false)).as("l"),
          coalesce(col("by_snm"), lit(false)).as("sn"))
        .agg(count(lit(1)).as("true_pairs"),
          sum(when(col("l"), 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("sn"), 1L).otherwise(0L)).as("n_snm"),
          sum(when(col("l") && col("sn"), 1L).otherwise(0L)).as("n_both"))
        .select(col("true_pairs"), col("n_lsh"), col("n_snm"), col("n_both"),
          r2((col("n_lsh") + 1).cast("double") * (col("n_snm") + 1) /
            (col("n_both") + 1) - lit(1.0)).as("chapman_estimate"))
    }),

    // L144 — mixture rebalancing planner: corpus_mixture APPLIES fixed
    // per-source rates; this computes them — given a uniform target
    // share and a half-corpus token budget, the per-source sampling
    // rate is min(1, target_tokens / n_tokens_s) (sources below their
    // target are taken whole; the shortfall is visible as
    // sampled < target). The planning step every mixture config is
    // downstream of. One source-keyed count shuffle; shares/rates are
    // 6dp half-up on both engines.
    "mixture_rebalance" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("n_tokens"))
      val tot = tok.agg(sum("n_tokens").as("total"),
        count(lit(1)).as("n_sources"))
      tok.crossJoin(broadcast(tot)) // 1-row side
        .withColumn("natural_share",
          roundHU(col("n_tokens").cast("double") / col("total"), 1e6))
        // uniform target over a half-total token budget
        .withColumn("target_tokens",
          floor(col("total").cast("double") / lit(2.0) / col("n_sources"))
            .cast("long"))
        .withColumn("rate", roundHU(
          least(lit(1.0),
            col("target_tokens").cast("double") / col("n_tokens")), 1e6))
        .withColumn("sampled_tokens",
          floor(col("rate") * col("n_tokens")).cast("long"))
        .select("source", "n_tokens", "natural_share", "target_tokens",
          "rate", "sampled_tokens")
        .orderBy("source")
    }),

    // L145 — embedding drift probe: per label, the cosine between the
    // even-id and odd-id half-corpus centroids — the train/serve (or
    // snapshot/snapshot) representation-shift check, run before trusting
    // an index or classifier trained on the other half. Decimal-exact
    // grouped means (the label_centroids machinery), then a label-keyed
    // dim-join; drift = 1 − cos rounded 6dp.
    "embedding_drift" -> ((s, dir) => {
      val halves = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          (col("vec_id") % 2).as("half"),
          posexplode(Similarity.toDouble(col("embedding"))))
        .groupBy("label", "half", "pos")
        .agg((sum(col("col").cast("decimal(38,7)")).cast("double") / count(lit(1)))
          .as("m"))
      val ev = halves.filter(col("half") === 0)
        .select(col("label"), col("pos"), col("m").as("m0"))
      val od = halves.filter(col("half") === 1)
        .select(col("label"), col("pos"), col("m").as("m1"))
      ev.join(od, Seq("label", "pos"))
        .groupBy("label")
        .agg(
          sum((floor(col("m0") * col("m1") * 1e12 + 0.5) / 1e12)
            .cast("decimal(28,12)")).cast("double").as("dp"),
          sum((floor(col("m0") * col("m0") * 1e12 + 0.5) / 1e12)
            .cast("decimal(28,12)")).cast("double").as("n0"),
          sum((floor(col("m1") * col("m1") * 1e12 + 0.5) / 1e12)
            .cast("decimal(28,12)")).cast("double").as("n1"))
        .select(col("label"),
          roundHU(col("dp") / (sqrt(col("n0")) * sqrt(col("n1"))), 1e6)
            .as("half_cos"),
          roundHU(lit(1.0) - col("dp") / (sqrt(col("n0")) * sqrt(col("n1"))), 1e6)
            .as("drift"))
        .orderBy("label")
    }),

    // L146 — cross-source duplication matrix: near-dup pair counts per
    // ORDERED source pair (src_a ≤ src_b lexically) — where duplicate
    // mass actually flows between sources (mirrors-of-each-other vs
    // internally-templated), the table that decides which source to
    // drop when the mixture double-counts. Pairs from the LSH path
    // (sub-quadratic), source lookup is two id-keyed joins, result is
    // source²-bounded.
    "cross_source_dup_matrix" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val pairs = Dedup.lshNearDups(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      pairs
        .join(d.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
        .join(d.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // L147 — cross-modality coverage audit: docs without an embedding,
    // embeddings without a doc, and the matched overlap — the
    // referential-integrity check between a text store and a vector
    // store that MUST run before any join-based curation (a silently
    // half-embedded corpus biases every downstream semantic op). One
    // full-outer id join reduced to a 1-row count table.
    "modality_coverage" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id").as("id"))
        .withColumn("has_doc", lit(1L))
      val v = t(s, dir, "embeddings").select(col("vec_id").as("id"))
        .withColumn("has_vec", lit(1L))
      d.join(v, Seq("id"), "full_outer")
        .agg(
          sum(coalesce(col("has_doc"), lit(0L))).as("n_docs"),
          sum(coalesce(col("has_vec"), lit(0L))).as("n_vecs"),
          sum(when(col("has_doc").isNotNull && col("has_vec").isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when(col("has_vec").isNull, 1L).otherwise(0L)).as("n_doc_only"),
          sum(when(col("has_doc").isNull, 1L).otherwise(0L)).as("n_vec_only"))
    }),

    // L148 — hapax rate per source: the fraction of a source's token
    // OCCURRENCES whose token appears exactly once in that source — the
    // classic vocabulary-quality signal (high hapax mass = noisy/OCR
    // text or genuinely diverse prose; near-zero = templated boilerplate).
    // Two source×token-keyed aggregates, both partial-agg friendly.
    "hapax_rate" -> ((s, dir) => {
      val cnts = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      cnts.groupBy("source")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_token_rate",
          roundHU(col("n_hapax").cast("double") / col("n_tokens"), 1e6))
        .withColumn("hapax_vocab_rate",
          roundHU(col("n_hapax").cast("double") / col("vocab"), 1e6))
        .orderBy("source")
    }),

    // L149 — sequence-length buckets: doc counts and token mass per
    // power-of-two token-length bucket, plus the padding waste of
    // batching each bucket to its ceiling — the estimator behind every
    // bucketed-batching config (pad-to-longest inside a 2^k bucket).
    // The bucket comes from an INTEGER min-power join against a 40-row
    // powers table, not 2^ceil(log2(n)): the ln-ratio form is inexact
    // at exact powers of two and the two engines round it differently.
    // One map-side length computation + a broadcast powers join + a
    // bucket-keyed rollup.
    "length_buckets" -> ((s, dir) => {
      val len = docs(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
      val powers = broadcast(s.range(0, 40)
        .select(expr("shiftleft(cast(1 as bigint), cast(id as int))").as("bucket")))
      len.join(powers, col("bucket") >= col("n_tok"))
        .groupBy("doc_id", "n_tok").agg(min("bucket").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          (sum(col("bucket")) - sum("n_tok")).as("pad_tokens"))
        .withColumn("pad_frac",
          roundHU(col("pad_tokens").cast("double") /
            (col("pad_tokens") + col("n_tokens")), 1e6))
        .orderBy("bucket")
    }),

    // L137 — ingestion-order novelty profile: per doc, the fraction of
    // its distinct shingles whose FIRST corpus occurrence (lowest
    // doc_id) is this doc — novelty 1.0 = fully new content, 0.0 =
    // everything already seen. The curve an incremental-ingest pipeline
    // watches to decide when a source is mined out (novelty decays →
    // stop crawling it). Shingle-keyed min partial-agg + doc-keyed
    // counts — both map-side combinable, nothing pairwise. Zero-shingle
    // docs keep their row with null novelty (no evidence ≠ zero
    // novelty).
    "doc_novelty" -> ((s, dir) => {
      // the exploded shingle table feeds BOTH the first-owner aggregate
      // and the per-doc join — checkpoint one pass of the (HOF-heavy)
      // shingle hashing instead of recomputing it per consumer
      val sh = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.shingleHashes(col("text"))).as("shingle"))
        .localCheckpoint(false)
      val firstOwner = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
      val perDoc = sh.join(firstOwner, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      docs(s, dir).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_shingles") > 0,
            roundHU(col("n_novel").cast("double") / col("n_shingles"), 1e6))
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // L138 — vocabulary coverage curve: fraction of total corpus token
    // mass covered by the top-v most frequent tokens, v ∈ {8,16,32,64}
    // — the tokenizer-budget curve (how small a vocab still covers the
    // corpus; the Zipf-mass complement of zipf_slope). The ranking
    // window runs over the VOCABULARY-sized count table (never the
    // corpus), same bounded-window class as vocab_growth; coverage
    // points are 1-row aggregates crossed together.
    "vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val ranked = counts.withColumn("rn",
        row_number().over(Window.orderBy(desc("c"), col("token"))))
        .localCheckpoint(false) // vocabulary-sized; reused by all 4 points
      val total = ranked.agg(sum("c").as("n_tokens"))
      def point(v: Int): DataFrame =
        ranked.filter(col("rn") <= v).agg(sum("c").as("covered"))
          .crossJoin(total) // 1-row × 1-row
          .select(lit(v).cast("long").as("vocab_size"), col("n_tokens"),
            coalesce(col("covered"), lit(0L)).as("covered"),
            roundHU(coalesce(col("covered"), lit(0L)).cast("double") /
              col("n_tokens"), 1e6).as("coverage"))
      Seq(8, 16, 32, 64).map(point).reduce(_.union(_)).orderBy("vocab_size")
    }),

    // Sorted-neighborhood blocking (SNM) over the FULL corpus: candidates
    // are docs within 7 sort positions of each other inside an 8-char
    // normalized-prefix block — O(n·window) candidates, per-block windows
    // (no global sort partition), pure equi neighbor join. Complements
    // lsh_near_dup/prefix_near_dup as the third blocking family.
    "sorted_neighborhood_dup" -> ((s, dir) => {
      Dedup.sortedNeighborhoodDups(docs(s, dir), "doc_id", "text",
          window = 8, blockChars = 8, threshold = 0.25)
        .orderBy("a_id", "b_id")
    }),

    // Edit-distance near-dup confirm over the SNM candidates: sim =
    // 1 − lev(a,b)/max(len) on the whitespace-normalized texts — the
    // character-level confirm the token-shingle families can't express
    // (transpositions/small in-word edits shred shingles but cost few
    // edits). Two prunes keep the per-pair cost bounded: (1) the
    // length band — lev(a,b) ≥ |len(a)−len(b)|, so any pair whose
    // length gap already exceeds the edit budget (sim ≥ 0.4 ⟺
    // lev ≤ 0.6·maxlen; the slack term 5e-7·maxlen+1 dominates the
    // 6dp round-half-up boundary at ANY length — a fixed +1 alone
    // only covers maxLen ≤ ~2M chars) can never qualify and is
    // dropped before any DP runs; (2) the surviving
    // pairs run the bit-parallel Myers DP (`LevenshteinFast`,
    // functions/EditDistance.scala) — exact unit-cost Levenshtein at
    // O(m·n/64) word ops. NOT the thresholded band DP: at a 0.4 floor
    // the budget is 0.6·maxlen, so the band covers ~all of the matrix
    // and the row-min early exit never fires — measured ~16% where
    // the bit-vector kernel is ~10×. Output is row-identical to the
    // plain-levenshtein form (same DP semantics, same final filter).
    // Candidates stay O(n·window) from the SNM blocking — never
    // all-pairs.
    "edit_distance_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val norm = d.select(col("doc_id").cast("long").as("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      val la = length(col("ta"))
      val lb = length(col("tb"))
      val maxLen = greatest(la, lb)
      val budget = (ceil(maxLen * lit(0.6 + 5e-7)) + lit(1)).cast("long")
      Dedup.sortedNeighborhoodCandidates(d, "doc_id", "text",
          window = 8, blockChars = 8)
        .join(norm.select(col("doc_id").as("a_id"), col("t").as("ta")), "a_id")
        .join(norm.select(col("doc_id").as("b_id"), col("t").as("tb")), "b_id")
        .filter(abs(la - lb) <= budget)
        .withColumn("lev",
          graft.functions.EditDistance.levenshteinFast(col("ta"), col("tb")))
        .select(col("a_id"), col("b_id"),
          roundHU(lit(1.0) - col("lev").cast("double") / maxLen, 1e6).as("edit_sim"))
        .filter(col("edit_sim") >= 0.4)
        .orderBy("a_id", "b_id")
    }),

    // Containment near-dup (|A∩B|/|A|): subset-duplication detector —
    // the asymmetric metric jaccard is structurally blind to (a short doc
    // fully embedded in a long one). df-capped inverted-index candidates,
    // exact set confirm; see Dedup.containmentDups for the recall trade.
    "containment_dup" -> ((s, dir) => {
      Dedup.containmentDups(docs(s, dir), "doc_id", "text",
          dfCap = 50, threshold = 0.5)
        .orderBy("a_id", "b_id")
    }),

    // Reciprocal-rank fusion of the lexical (BM25 top-50) and vector
    // (cosine-vs-query-0 top-50) rankings — the standard hybrid-retrieval
    // combiner: rrf(d) = Σ_lists 1/(60+rank_d). Ranks inside each
    // 50-row candidate list come from a join-count (rows strictly ahead
    // in the list's total order + 1) — constant-size comparisons, no
    // global window anywhere; the lists themselves are TakeOrdered
    // top-ks, so nothing data-sized ever sorts globally.
    "rrf_fusion" -> ((s, dir) => {
      val b50 = bm25Scored(docs(s, dir))
        .orderBy(desc("bm25"), col("doc_id")).limit(50)
        .select(col("doc_id").as("id"), col("bm25"))
        .localCheckpoint(false) // both sides of the rank self-join
      val bRank = b50.as("x").join(b50.as("y"),
          col("y.bm25") > col("x.bm25") ||
            (col("y.bm25") === col("x.bm25") && col("y.id") < col("x.id")),
          "left")
        .groupBy(col("x.id").as("id"))
        .agg((count(col("y.id")) + 1).as("bm25_rank"))
      val e = t(s, dir, "embeddings")
      val cRank = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("id"), col("rank").as("cos_rank"))
      bRank.join(cRank, Seq("id"), "full")
        .select(col("id").as("doc_id"), col("bm25_rank"), col("cos_rank"),
          roundHU(
            coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)),
            1e6).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(20)
    }),

    // Rank-frequency Zipf fit: OLS slope of ln(freq) on ln(rank) over the
    // top-200 corpus tokens — the one-number lexical-health summary (a
    // natural corpus sits near −1; synthetic/boilerplate text flattens).
    // Ranks within the 200-row TakeOrdered list come from a join-count
    // (no global window); ln terms round 6dp, the closed-form OLS runs
    // on decimal sums of the rounded terms.
    "zipf_slope" -> ((s, dir) => {
      val top = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("token")).limit(200)
        .localCheckpoint(false) // both sides of the rank self-join
      val ranked = top.as("x").join(top.as("y"),
          col("y.cnt") > col("x.cnt") ||
            (col("y.cnt") === col("x.cnt") && col("y.token") < col("x.token")),
          "left")
        .groupBy(col("x.token").as("token"), col("x.cnt").as("cnt"))
        .agg((count(col("y.token")) + 1).as("rank"))
      val terms = ranked.select(
        roundHU(log(col("rank").cast("double")), 1e6).as("x"),
        roundHU(log(col("cnt").cast("double")), 1e6).as("y"))
      terms.select(col("x"), col("y"),
          (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(28, 12))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(28, 12))).cast("double").as("sy"),
          sum(col("xy").cast(DecimalType(28, 12))).cast("double").as("sxy"),
          sum(col("xx").cast(DecimalType(28, 12))).cast("double").as("sxx"))
        .select(col("n").as("n_terms"),
          roundHU((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 1e6).as("slope"),
          roundHU((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"), 1e6).as("intercept"))
    }),

    // L190 — Good–Turing frequency-of-frequencies table (Good 1953; the
    // Katz-backoff smoothing input), over word BIGRAMS — the n-gram
    // order smoothing actually targets (unigram vocabularies rarely
    // have singletons; bigram tables always do): for each low count c,
    // how many distinct bigram types occur exactly c times (N_c), the
    // adjusted count c* = (c+1)·N_{c+1}/N_c, and the probability mass
    // held by count-c types — the unseen-mass estimate (P0 = N_1/N)
    // is the c = 1 row. Shape: one bigram-keyed count, then a
    // count-of-counts aggregate whose cardinality is the number of
    // DISTINCT frequencies (≈ hundreds at any SF — Zipf guarantees
    // it), so the N_c ⋈ N_{c+1} self-join and the 1-row total are
    // key-sized no matter the corpus.
    "good_turing_counts" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(explode(bigrams(col("text"))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
      val nc = tf.groupBy("c").agg(count(lit(1)).as("n_c"))
        .localCheckpoint(false) // both sides of the N_c ⋈ N_{c+1} join + total
      val tot = broadcast(nc.agg(
        sum(col("c") * col("n_c")).as("n_total")))
      val next = nc.select((col("c") - 1).as("c"), col("n_c").as("n_c1"))
      nc.join(next, Seq("c"), "left")
        .filter(col("c") <= 10)
        .crossJoin(tot)
        .select(col("c"), col("n_c"),
          coalesce(col("n_c1"), lit(0L)).as("n_c_plus_1"),
          roundHU((col("c") + 1) * coalesce(col("n_c1"), lit(0L))
            .cast("double") / col("n_c"), 1e6).as("gt_count"),
          roundHU(col("c") * col("n_c").cast("double") / col("n_total"),
            1e6).as("mass_share"))
        .orderBy("c")
    }),

    // L191 — Heaps'-law fit (Heaps 1978): vocabulary growth V = K·N^β,
    // fit by OLS on the ln-ln points of the vocab_growth cumulative
    // curve (10 doc-id-decile buckets). β near 0.5 is natural text;
    // β → 1 means unbounded novelty (noise/IDs), β → 0 a closed
    // vocabulary (templates) — the one-number "will the vocabulary
    // saturate" planner input. Same determinism discipline as
    // zipf_slope: ln terms round 6dp, OLS runs on decimal-exact sums
    // of the rounded terms (merge-order-free), 10-point window is
    // bucket-sized, never data-sized.
    "heaps_law_fit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val bounds = broadcast(d.agg(min("doc_id").as("lo"),
        (max("doc_id") + 1).as("hi")))
      val tok = d.crossJoin(bounds)
        .select(expr("((doc_id - lo) * 10) div (hi - lo)").as("bucket"),
          explode(tokens(col("text"))).as("token"))
      val bt = tok.groupBy("bucket", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // reused: first-seen buckets + totals
      val firsts = bt.groupBy("token").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
      val totals = bt.groupBy("bucket").agg(sum("c").as("n_tokens"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = totals.join(firsts, Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("n_tokens", "new_tokens"))
        .withColumn("v", sum("new_tokens").over(w))
        .withColumn("nn", sum("n_tokens").over(w))
        .filter(col("nn") > 0 && col("v") > 0)
      val terms = curve.select(
        roundHU(log(col("nn").cast("double")), 1e6).as("x"),
        roundHU(log(col("v").cast("double")), 1e6).as("y"))
      terms.select(col("x"), col("y"),
          (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(28, 12))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(28, 12))).cast("double").as("sy"),
          sum(col("xy").cast(DecimalType(28, 12))).cast("double").as("sxy"),
          sum(col("xx").cast(DecimalType(28, 12))).cast("double").as("sxx"))
        .select(col("n").as("n_points"),
          roundHU((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 1e6).as("beta"),
          roundHU(exp((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n")), 1e6).as("k_coef"))
    }),

    // Per-document token Shannon entropy — the repetitiveness/diversity
    // quality signal (low entropy = templated or repeated text): one
    // doc-keyed shuffle into (doc, token) counts, per-token −p·ln p
    // rounded 6dp into a decimal per-doc sum. Zero-token docs carry no
    // distribution and are excluded (entropy of nothing is undefined,
    // not 0).
    "doc_token_entropy" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        .select(col("doc_id"), col("n"),
          roundHU(-(col("c") / col("n")) * log(col("c") / col("n")), 1e6)
            .as("term"))
        .groupBy("doc_id")
        .agg(max("n").as("n_tokens"),
          sum(col("term").cast(DecimalType(18, 6))).cast("double")
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // Exact cosine top-k: broadcast query set, one corpus scan
    "cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    // Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    // greedily pick MmrK items that are relevant to the probe vector
    // (vec_id 0, the cosine_topk query convention) but diverse from each
    // other — the diversified-sampling step of RAG context packing and
    // of "pick k exemplars per cluster" curation. Scale shape: the
    // greedy argmax is inherently sequential, so production MMR runs on
    // a BOUNDED candidate pool — relevance top-MmrPoolN via one
    // distributed scan + TakeOrdered (never a global sort), then MmrK
    // tiny keyed steps over the 64-row pool (pairwise sims precomputed
    // once, 64², checkpointed). Nothing data-sized is broadcast or
    // collected; at 100 TB only the pool scan grows.
    "mmr_select" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(Similarity.toDouble(col("embedding")).as("qv"))
      val pool = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("v"),
          Similarity.cosine(col("v"), col("qv")).as("rel"))
        .orderBy(desc("rel"), col("vec_id")).limit(MmrPoolN)
        .localCheckpoint(false) // reused by pp + every greedy step
      val pp = pool.select(col("vec_id").as("ai"), col("v").as("va"))
        .join(pool.select(col("vec_id").as("bi"), col("v").as("vb")),
          col("ai") =!= col("bi"))
        .select(col("ai"), col("bi"),
          Similarity.cosine(col("va"), col("vb")).as("cos"))
        .localCheckpoint(false) // reused by every greedy step
      var sel = pool.orderBy(desc("rel"), col("vec_id")).limit(1)
        .select(lit(1L).as("rank"), col("vec_id"), col("rel"),
          (lit(MmrLambda) * col("rel")).as("score"))
        .localCheckpoint(false)
      for (i <- 2 to MmrK) {
        val ms = pp.join(sel.select(col("vec_id").as("bi")), "bi")
          .groupBy(col("ai").as("vec_id")).agg(max("cos").as("ms"))
        val pick = pool.join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
          .join(ms, "vec_id")
          .select(col("vec_id"), col("rel"),
            (lit(MmrLambda) * col("rel") - lit(MmrDiversity) * col("ms"))
              .as("score"))
          .orderBy(desc("score"), col("vec_id")).limit(1)
          .select(lit(i.toLong).as("rank"), col("vec_id"), col("rel"),
            col("score"))
        // lineage cut per step: sel is read twice next step (anti-join +
        // max-sim), and without the cut the plan doubles per pick
        sel = sel.union(pick).localCheckpoint(false)
      }
      sel.select(col("rank"), col("vec_id"),
          roundHU(col("rel"), 1e6).as("relevance"),
          roundHU(col("score"), 1e6).as("mmr_score"))
        .orderBy("rank")
    }),

    // TextTiling gap scores (Hearst 1997, the block-comparison variant):
    // split each doc into fixed TileBlockTokens pseudo-sentence blocks,
    // score every adjacent-block boundary by term-vector cosine, and
    // flag candidate topic boundaries where the gap falls below the
    // doc's mean gap similarity — the classic intra-document
    // segmentation pass before chunking for retrieval (doc_chunks cuts
    // blindly at fixed strides; this finds where the topic actually
    // shifts). Shape: one explode to (doc, block, term) counts, the
    // adjacent-pair dot as a self-equi-join on (doc, block+1, term) —
    // within-doc only, never cross-doc — and integer dot/norm arithmetic
    // (counts), so the single sqrt/divide per gap is IEEE-identical
    // cross-engine; per-doc means route 6dp-rounded sims through an
    // exact decimal sum.
    "text_tiling" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .select(col("doc_id"),
          floor(col("pos") / TileBlockTokens).cast("long").as("blk"),
          col("col").as("token"))
        .groupBy("doc_id", "blk", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // reused: dot join (both sides) + norms
      val dots = tf.select(col("doc_id"), col("blk"), col("token"),
          col("c").as("ca"))
        .join(tf.select(col("doc_id"), (col("blk") - 1).as("blk"),
          col("token"), col("c").as("cb")), Seq("doc_id", "blk", "token"))
        .groupBy("doc_id", "blk").agg(sum(col("ca") * col("cb")).as("dot"))
      val norms = tf.groupBy("doc_id", "blk").agg(sum(col("c") * col("c")).as("nn"))
      val gaps = norms.select(col("doc_id"), col("blk"), col("nn").as("na"))
        .join(norms.select(col("doc_id"), (col("blk") - 1).as("blk"),
          col("nn").as("nb")), Seq("doc_id", "blk"))
        .join(dots, Seq("doc_id", "blk"), "left")
        .select(col("doc_id"), col("blk").as("gap"),
          roundHU(coalesce(col("dot"), lit(0L)).cast("double") /
            sqrt(col("na").cast("double") * col("nb")), 1e6).as("sim"))
      val m = gaps.groupBy("doc_id")
        .agg((sum(col("sim").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("doc_mean"), count(lit(1)).as("n_gaps"))
      gaps.join(m, "doc_id")
        .select(col("doc_id"), col("gap"), col("n_gaps"), col("sim"),
          (col("sim") < col("doc_mean")).as("is_boundary"))
        .orderBy("doc_id", "gap")
    }),

    // L143 — hard-negative mining: per query vector, the top-5 most
    // similar corpus vectors with a DIFFERENT label — the pairs that
    // actually move a contrastive loss (easy negatives are already far;
    // near-identical other-class items are the gradient). Same
    // broadcast-queries + one-corpus-scan shape as cosine_topk, with
    // the label inequality pushed into the join condition so unusable
    // pairs never reach the per-query rank.
    "hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val c = e.select(col("vec_id").as("neighbor_id"),
        Similarity.toDouble(col("embedding")).as("cv"), col("label").as("n_label"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          Similarity.toDouble(col("embedding")).as("qv"), col("label").as("q_label"))
      import org.apache.spark.sql.expressions.Window
      c.join(broadcast(q),
          col("neighbor_id") =!= col("query_id") &&
            col("n_label") =!= col("q_label"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(desc("cos"), col("neighbor_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("n_label").cast("long").as("neg_label"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // Embedding near-dup pairs above a cosine threshold: exact semantics,
    // distributed block self-join (codegen'd dot kernel, no driver collect)
    "cosine_near_dup" -> ((s, dir) => {
      Similarity.blockNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("a_id", "b_id")
    }),

    // Incremental dedup in EMBEDDING space: (new vector, corpus vector,
    // cosine) pairs at ≥ threshold via the bipartite block join — the
    // corpus is shuffled once, the batch replicated per block, and
    // batch-batch pairs never formed (even/odd vec_id split stands in
    // for corpus/new-batch)
    "cosine_cross_near_dup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.crossNearDupPairs(
        e.filter(col("vec_id") % 2 =!= 0), e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", threshold = 0.4)
        .orderBy("b_id", "c_id")
    }),

    // LSH-bucketed cosine near-dup — the sub-quadratic SCALE path for
    // semantic dedup (vs cosine_near_dup's exact all-pairs block join):
    // candidates limited to sign-of-projection buckets within Hamming
    // radius 1, confirmed by exact cosine. Deterministic hyperplanes ⇒
    // the approximate semantics still have one exact answer and a full
    // SQL oracle.
    "lsh_cosine_near_dup" -> ((s, dir) => {
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nPlanes = 4, dim = 64, probeRadius = 1)
        .orderBy("a_id", "b_id")
    }),

    // Per-label centroid vectors, one (label, pos, mean) row per
    // dimension — the distributed vector-mean primitive IVF training is
    // built on (posexplode → partial-agg-friendly grouped mean; no
    // vector ever leaves its executor whole). Decimal-exact sums make
    // the mean independent of shuffle merge order (see ivfCentroids).
    // Scale 7, NOT 18: a float32 element × 10^7 is a ≤41-bit product —
    // exact in double — so DuckDB's scale-in-double decimal cast and
    // Spark's exact BigDecimal cast round identically (both HALF_UP);
    // at scale 18 the scaled value passes 2^53 and the engines diverge
    // in the last ulp (same trap as zscore_outliers' s2).
    "label_centroids" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(Similarity.toDouble(col("embedding"))))
        .groupBy("label", "pos")
        .agg((sum(col("col").cast("decimal(38,7)")).cast("double") / count(lit(1)))
          .as("m"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("m"))
        .orderBy("label", "pos")
    }),

    // Cluster-cohesion metric: average and worst member→centroid cosine
    // per label — the dispersion check run after any clustering/labeling
    // pass (low avg_cos = incoherent label, a candidate for re-labeling
    // or splitting). Composes the decimal-exact grouped centroid (the
    // label_centroids path) with the cosine kernel; centroids are
    // label-cardinality-sized so the join back is broadcast-friendly,
    // and the per-member cosine average is decimal-routed so shuffle
    // merge order cannot perturb it.
    "centroid_dispersion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          Similarity.toDouble(col("embedding")).as("e"))
      val cvec = e.select(col("label"), posexplode(col("e")))
        .groupBy("label", "pos")
        .agg((sum(col("col").cast("decimal(38,7)")).cast("double") / count(lit(1)))
          .as("m"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("c"))
      e.join(cvec, "label")
        .withColumn("cos", Similarity.cosine(col("e"), col("c")))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          (sum(col("cos").cast("decimal(18,9)")).cast("double") / count(lit(1)))
            .as("avg_cos"),
          min("cos").as("min_cos"))
        .orderBy("label")
    }),

    // Per-label mean silhouette (centroid proxy): a(v) = distance to the
    // own-label centroid, b(v) = distance to the nearest other centroid,
    // s = (b−a)/max(a,b) — the standard clustering-quality score, with
    // centroids standing in for full intra/inter means (the exact
    // silhouette is all-pairs; the centroid proxy is the linear-scan
    // form used at corpus scale). Composes the decimal-exact grouped
    // centroid with the broadcast cross join: k centroids are
    // O(k·dim) — label-cardinality-sized, never a shuffle — and each
    // vector is scored in one pass. The per-label average routes through
    // a decimal sum so shuffle merge order cannot perturb it.
    "silhouette_proxy" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          Similarity.toDouble(col("embedding")).as("e"))
      val cvec = e.select(col("label"), posexplode(col("e")))
        .groupBy("label", "pos")
        .agg((sum(col("col").cast("decimal(38,7)")).cast("double") / count(lit(1)))
          .as("m"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("c"))
        .withColumnRenamed("label", "clabel")
      val ab = e.crossJoin(broadcast(cvec))
        .withColumn("dist", Similarity.euclidean(col("e"), col("c")))
        .groupBy("vec_id", "label")
        .agg(min(when(col("clabel") === col("label"), col("dist"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
        .withColumn("sil",
          when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
            .otherwise(roundHU((col("b") - col("a")) / greatest(col("a"), col("b")), 1e9)))
      ab.groupBy("label")
        .agg(count(lit(1)).as("n"),
          (sum(col("sil").cast("decimal(18,9)")).cast("double") / count(lit(1)))
            .as("avg_sil"),
          min("sil").as("min_sil"))
        .orderBy("label")
    }),

    // Symmetric int8 scalar quantization — the storage/ANN compression
    // pass before shipping embeddings at corpus scale. Per-row transform
    // (scale = 127/max|x|, round-half-up via integer floor — no
    // banker's-rounding divergence across engines); zero vectors yield a
    // null scale rather than a divide-by-zero. The quantized vector is
    // emitted as a comma-joined string (not array<int>) so the oracle
    // harness can sort/hash the column — the array form stays available
    // in-library via the same transform.
    "embedding_quantize" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("e"))
        .withColumn("mx", array_max(transform(col("e"), x => abs(x))))
        .withColumn("scale",
          when(col("mx") === 0, lit(null).cast("double"))
            .otherwise(lit(127.0) / col("mx")))
        .select(col("vec_id"), col("scale"),
          array_join(
            transform(col("e"),
              x => floor(x * col("scale") + lit(0.5)).cast("int").cast("string")),
            ",").as("q"))
        .orderBy("vec_id")
    }),

    // Normalized-text dedup, keep-BEST survivor: case/punctuation/
    // whitespace variants collapse to one normalized key (the
    // text_normalize chain), and the best raw variant survives —
    // highest quality score, then FEWEST raw characters (least markup
    // noise), then lowest doc_id. Unlike dedup_exact's lowest-id rule
    // this is the curation-grade choice, and max_by over a struct
    // ordering key keeps it a partial-agg-friendly aggregation
    // (combiner-merged), not a per-key window sort.
    "dedup_keep_best" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val d = docs(s, dir).withColumn("score", qualityScore)
      val best = d.withColumn("norm", norm).groupBy("norm").agg(
        max_by(col("doc_id"),
          struct(col("score"), (-col("n_chars")).as("t1"), (-col("doc_id")).as("t2")))
          .as("doc_id"))
      d.join(best.select("doc_id"), Seq("doc_id"))
        .select("doc_id", "source", "lang", "score")
        .orderBy("doc_id")
    }),

    // Per-language percentile gating: keep documents in the top half of
    // their language's quality distribution — the relative-threshold
    // filter used when absolute score cutoffs would gut low-resource
    // languages. percent_rank is rank-based, so score ties share a rank
    // and the output is deterministic without a tiebreak column.
    "quality_percentile_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .withColumn("score", qualityScore)
        .withColumn("pr",
          percent_rank().over(Window.partitionBy("lang").orderBy("score")))
        .filter(col("pr") >= 0.5)
        .select("doc_id", "lang", "score", "pr")
        .orderBy("doc_id")
    }),

    // Inter-source vocabulary overlap (token-set jaccard between every
    // source pair) — the corpus-overlap measure that informs mixture
    // weights. Distinct (source, token) pairs shuffle once on token; the
    // token-equi self-join emits only same-token source pairs (k² per
    // token for k sources holding it — never a corpus cross join); set
    // sizes come from one vocabulary-sized aggregate.
    "source_similarity" -> ((s, dir) => {
      val st = docs(s, dir)
        .select(col("source"), explode(array_distinct(tokens(col("text")))).as("tok"))
        .distinct()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
      st.toDF("src_a", "tok")
        .join(st.toDF("src_b", "tok2"),
          col("tok") === col("tok2") && col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.toDF("src_a", "sz_a"), "src_a")
        .join(sizes.toDF("src_b", "sz_b"), "src_b")
        .withColumn("jaccard",
          col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .select("src_a", "src_b", "inter", "jaccard")
        .orderBy("src_a", "src_b")
    }),

    // Corpus-level boilerplate LINE removal (C4-style): any line that
    // appears in more than `maxDocs` distinct documents is dropped from
    // every document, and each document is reassembled in original line
    // order. Two keyed shuffles (per-line distinct-doc count; per-doc
    // regroup) — both partial-agg friendly; the boilerplate set is
    // anti-joined, never collected. Per-doc state is the doc's own
    // lines (bounded by doc size), ordered by the posexplode index so
    // reassembly never depends on shuffle arrival order.
    "line_dedup" -> ((s, dir) => {
      val maxDocs = 2
      val lines = docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .withColumnRenamed("col", "line")
      val boilerplate = lines.groupBy("line")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") > maxDocs)
        .select("line")
      val kept = lines.join(boilerplate, Seq("line"), "left_anti")
        .groupBy("doc_id")
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"))
      // a doc whose every line was boilerplate must survive as an empty
      // string, not vanish — hence the left join back onto the corpus
      docs(s, dir).select("doc_id")
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    }),

    // Deterministic hash-mod sampling: the way you actually sample a
    // 100 TB corpus — reproducible, no RNG state, pushes down to the
    // scan ([[sampleHash]]; overflow-safety spec'd in LlmQueriesSpec).
    "hash_sample" -> ((s, dir) => {
      docs(s, dir)
        .filter(sampleHash(col("doc_id"), 100) < 10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Near-dup REMOVAL: the canonical corpus after exact near-dup
    // detection — greedily keep the lowest id of every jaccard≥t pair
    // (drop any doc appearing as the higher id). Pairs come from the
    // distributed block path; removal is one left-anti join.
    "near_dedup_keep" -> ((s, dir) => {
      val pairs = Dedup.blockNearDups(docs(s, dir), "doc_id", "text", threshold = 0.5)
      docs(s, dir)
        .join(pairs.select(col("b_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // Near-dup CLUSTERS: transitive closure of the exact pair graph via
    // iterative min-label connected components — (doc, cluster id) for
    // every doc that has at least one near-dup
    "near_dup_components" -> ((s, dir) => {
      val pairs = Dedup.blockNearDups(docs(s, dir), "doc_id", "text", threshold = 0.5)
      Dedup.connectedComponents(pairs.select("a_id", "b_id"))
        .orderBy("id")
    }),

    // Duplicate-FAMILY canonicalization: near_dedup_keep's greedy
    // lowest-id rule replaced by the curation-grade choice — connected
    // components over the near-dup graph, then ONE survivor per
    // transitive family: highest quality score, fewest chars, lowest id
    // (dedup_keep_best's ordering, lifted from exact-normalized keys to
    // near-dup families). Singleton docs survive as their own family.
    // Composes the pointer-doubling CC with a partial-agg-friendly
    // max_by — no fact-sized windows, no driver state.
    "component_keep_best" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("score", qualityScore)
      val pairs = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
      val comps = Dedup.connectedComponents(pairs.select("a_id", "b_id"))
      val fam = d.join(comps, d("doc_id") === comps("id"), "left")
        .withColumn("family", coalesce(col("comp"), col("doc_id")))
      val keep = fam.groupBy("family").agg(
        max_by(col("doc_id"),
          struct(col("score"), (-col("n_chars")).as("t1"), (-col("doc_id")).as("t2")))
          .as("doc_id"))
      d.join(keep.select("doc_id"), Seq("doc_id"))
        .select("doc_id", "source", "lang", "score")
        .orderBy("doc_id")
    }),

    // Incremental (cross-corpus) dedup: which NEW documents survive
    // against an EXISTING training corpus — exact text matches dropped
    // by one anti-join, near-dups (jaccard ≥ 0.5 to ANY corpus doc)
    // dropped via the bipartite block join (corpus shuffled once, batch
    // replicated per block; batch-batch pairs never formed). The
    // even/odd doc_id split stands in for corpus/new-crawl.
    "incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") % 2 === 0)
      val batch = d.filter(col("doc_id") % 2 =!= 0)
      // lazy checkpoint: noExact feeds both the bipartite join's batch
      // side and the final anti-join — materialize once, defer to the
      // first action (see corpus_curation)
      val noExact = batch.join(corpus.select("text").distinct(), Seq("text"), "left_anti")
        .localCheckpoint(false)
      val nearMatched = Dedup.crossNearDups(noExact, corpus, "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      noExact.join(nearMatched, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // Stratified sampling: first n docs per stratum in a deterministic
    // hashed order — per-group quotas, unlike hash_sample's global rate.
    // rank<=n over a per-source window gets WindowGroupLimit pushdown
    // (top-n runs below the shuffle), so quotas hold at any corpus size.
    "stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hkey = sampleHash(col("doc_id"), 1000000007L)
      docs(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(hkey, col("doc_id"))).cast("long"))
        .filter(col("rn") <= 20)
        .select("doc_id", "source", "rn")
        .orderBy("source", "rn")
    }),

    // Repetition quality filters (Gopher-style, Rae et al. 2021): fraction
    // of occurrences held by the most frequent word / bigram, fraction of
    // duplicated lines, and the resulting keep flag. The top-fractions run
    // as two-level aggregations (per-(doc,gram) count → per-doc max/sum),
    // partial-agg friendly at any corpus size; line stats are per-row.
    "repetition_score" -> ((s, dir) => {
      repetitionFrame(docs(s, dir))
        .select("doc_id", "top_word_frac", "top_bigram_frac", "dup_line_frac", "keep")
        .orderBy("doc_id")
    }),

    // The composed curation pipeline — what a 100 TB pre-training corpus
    // actually runs end to end: quality gate (score ≥ 2) → repetition
    // filter → exact dedup (lowest-id survivor per identical text) →
    // near-dup removal (block-join jaccard ≥ 0.5, greedy survivor).
    // Every stage is one of the individually-oracled operators above,
    // composed as lazy plans: Catalyst pipelines the per-row filters
    // into one scan pass, and only the dedup/near-dup stages shuffle.
    "corpus_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      val kept = d
        .join(repetitionFrame(d).select("doc_id", "keep"), Seq("doc_id"))
        .filter(col("keep") && qualityScore >= 2)
        .drop("keep")
      // materialize the dedup survivors once: the block self-join consumes
      // them on BOTH sides and the anti-join once more — without a
      // checkpoint the filter+agg+join chain replays 3×. eager = false
      // defers only the cached rows: under AQE building the checkpoint
      // still runs the upstream shuffle stages as Spark jobs, so even
      // explain-only tooling (PlanAudit) executes part of the pipeline.
      // (At cluster scale a real curation run writes each stage to
      // storage anyway.)
      val survivors = kept.join(
        Dedup.exact(kept, Seq("text"), "doc_id").select("doc_id"), Seq("doc_id"))
        .localCheckpoint(false)
      val nearDupLosers = Dedup.blockNearDups(survivors, "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      survivors.join(nearDupLosers, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // PII scrubbing: staged email → phone → number redaction with per-stage
    // counts (each stage counts on the previous stage's output, so digits
    // consumed by an earlier pattern are never double-counted)
    "pii_scrub" -> ((s, dir) => {
      val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
      val afterPhone = regexp_replace(afterEmail, PhoneRe, "<PHONE>")
      docs(s, dir).select(
        col("doc_id"),
        piiScrub(col("text")).as("scrubbed"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(afterEmail, lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all(afterPhone, lit(NumberRe), lit(0))).cast("long").as("n_number"))
        .orderBy("doc_id")
    }),

    // Weighted mixture sampling: each source contributes at its own
    // deterministic rate (per-mille thresholds on the overflow-safe hash
    // used by hash_sample) — the downsample-to-target-mixture step of a
    // corpus build. Unlisted sources fall back to the default rate. The
    // predicate is per-row and pushes to the scan like any filter.
    "corpus_mixture" -> ((s, dir) => {
      val hkey = sampleHash(col("doc_id"), 1000)
      val rate = MixtureRates.tail.foldLeft(
        when(col("source") === MixtureRates.head._1, MixtureRates.head._2)) {
        case (acc, (src, permille)) => acc.when(col("source") === src, permille)
      }.otherwise(MixtureDefault)
      docs(s, dir)
        .filter(hkey < rate)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),

    // Token-budget sharding: assign each document to a ~fixed-token
    // shard via a running prefix sum — how a corpus is chunked into
    // training shards. Shard id = which budget window the doc's START
    // offset falls in (docs are never split). The window is partitioned
    // by source, so the prefix sums distribute (a single global cumsum
    // would serialize onto one task); shard keys are (source, shard_id).
    "token_shards" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 2000L
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum", sum("n_tok").over(
          Window.partitionBy("source").orderBy("doc_id")))
        .withColumn("shard_id", floor((col("cum") - col("n_tok")) / budget))
        .select("doc_id", "source", "n_tok", "shard_id")
        .orderBy("doc_id")
    }),

    // Fixed-window token chunking with stride — sequence prep for
    // training. Every token is covered: chunk starts advance by the
    // stride until one window reaches the end of the doc (the last
    // chunk may be short); chunk bounds use pure integer arithmetic
    // (no double ceil). Per-row explode, no shuffle but the output sort.
    "doc_chunks" -> ((s, dir) => {
      val window = 64
      val stride = 48
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .withColumn("n", size(col("ts")))
        .withColumn("last_start",
          expr(s"CAST(1 + $stride * ((greatest(n - $window, 0) + ${stride - 1}) DIV $stride) AS INT)"))
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(1), col("last_start"), lit(stride))).as("start"))
        .select(
          col("doc_id"),
          expr(s"CAST((start - 1) DIV $stride AS BIGINT)").as("chunk_id"),
          slice(col("ts"), col("start"), lit(window)).as("chunk"))
        .select(
          col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("chunk_tokens"),
          concat_ws(" ", col("chunk")).as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Benchmark decontamination: drop every corpus doc sharing ANY
    // 8-token gram with the held-out set (proxy: doc_id < 5) — the
    // containment check run before training so eval data never leaks
    // into the corpus. Benchmark gram set is tiny (broadcast side);
    // corpus grams stream through one equi-join; removal is one
    // anti-join. Never all-pairs.
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") < 5)
      val corpus = d.filter(col("doc_id") >= 5)
      val bGrams = bench
        .select(explode(TextOps.shingles(col("text"), 8)).as("gram")).distinct()
      val hits = corpus
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 8)).as("gram"))
        .join(bGrams, "gram")
        .select("doc_id").distinct()
      corpus.join(hits, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Decontamination with a Bloom prefilter — the 100 TB shape of the
    // same check. Building the gram join input from the corpus shuffles
    // EVERY corpus gram; here a Bloom filter built from the benchmark
    // grams (driver state sized to the small side, like an IVF codebook)
    // prunes corpus grams map-side BEFORE the exchange, so only true
    // hits + an fpp-bounded trickle of false positives shuffle. The
    // exact equi-join then confirms survivors — false positives die
    // there, keeping the composed operator exact (same rows as the
    // plain join, which is what the oracle checks).
    "bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") < 8)
      val corpus = d.filter(col("doc_id") >= 8)
      val bGrams = bench
        .select(explode(TextOps.shingles(col("text"), 7)).as("gram")).distinct()
      // one small-side pass builds the filter (eager driver action, like
      // ivfCentroids); size to the expected distinct gram count
      val bloom = bGrams.stat.bloomFilter("gram", 1 << 16, 0.01)
      val hits = corpus
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 7)).as("gram"))
        .filter(graft.functions.BloomMightContain.mightContain(bloom, col("gram")))
        .join(bGrams, "gram")
        .select("doc_id").distinct()
      corpus.join(hits, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Unigram-LM quality score: average token surprisal (-ln p) under
    // the corpus's OWN unigram distribution — the perplexity-filter
    // proxy when no external LM is available (high surprisal = rare
    // junk tokens). Token counts are a vocabulary-sized aggregate
    // (unhinted — the vocabulary grows with the corpus; AQE picks the
    // join side); the grand total is a broadcast 1-row aggregate.
    // Parity recipe: JVM Math.log and libm ln differ in the last ulp,
    // so each term rounds to 6dp and the per-doc sum routes through
    // DECIMAL — double sums would also depend on partial-agg order.
    "unigram_logprob" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = broadcast(counts.agg(sum("cnt").as("total_tok")))
      toks.join(counts, "token").crossJoin(total)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("long").as("n_tok"),
          sum(bround(-log(col("cnt") / col("total_tok")), 6)
            .cast("decimal(18,6)")).as("ssum"))
        .select(col("doc_id"), col("n_tok"),
          bround(col("ssum").cast("double") / col("n_tok"), 6).as("avg_surprisal"))
        .orderBy("doc_id")
    }),

    // L289 — Gries' Deviation of Proportions (DP, 2008): per term,
    // DP = ½·Σ_sources |share-of-term-in-source − source-mass-share| —
    // the corpus-linguistics dispersion measure that separates a term
    // USED EVERYWHERE from one with the same total count dumped by a
    // single source (raw df can't tell them apart; burstiness is
    // within-doc, this is across-source). The absent-source terms
    // (|0 − w_s| = w_s) fold in algebraically as (1 − Σ_present w_s),
    // so the plan never materializes the term×source zero matrix —
    // present-cell-sized joins only. Top 50 by corpus frequency.
    "term_dispersion" -> ((s, dir) => {
      val cnt = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("v"))
        .localCheckpoint(false) // reused: totals, masses, the term join
      val f = cnt.groupBy("token")
        .agg(sum("v").as("f"), count(lit(1)).as("n_sources"))
      val mass = broadcast(cnt.groupBy("source").agg(sum("v").as("ms"))
        .crossJoin(broadcast(cnt.agg(sum("v").as("mt")))))
      cnt.join(mass, "source").join(f, "token")
        .select(col("token"), col("f"), col("n_sources"),
          roundHU(abs(col("v").cast("double") / col("f") -
            col("ms").cast("double") / col("mt")), 1e8)
            .cast("decimal(18,8)").as("t1"),
          roundHU(col("ms").cast("double") / col("mt"), 1e8)
            .cast("decimal(18,8)").as("t2"))
        .groupBy("token", "f", "n_sources")
        .agg(sum("t1").cast("double").as("s1"),
          sum("t2").cast("double").as("s2"))
        .select(col("token"), col("f").as("n_occurrences"), col("n_sources"),
          roundHU((col("s1") + (lit(1.0) - col("s2"))) / 2.0, 1e6).as("dp"))
        .orderBy(desc("n_occurrences"), col("token")).limit(50)
    }),

    // L290 — DoReMi-style excess-surprisal reweighting (Xie et al.
    // 2023, one deterministic step): per source, the mean corpus-LM
    // surprisal; the source's EXCESS over the easiest source is the
    // "domain difficulty" signal, and the next-epoch sampling weight is
    // the baseline token share tilted by exp(excess) and renormalized —
    // upweight domains the reference model finds hard, the data-mixture
    // move between uniform and temperature_mixture's purely size-based
    // tilt. Token-keyed joins + k-row softmax algebra; exp under the
    // floor-round house rule (the perplexity spelling).
    "doremi_weights" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = broadcast(counts.agg(sum("cnt").as("total_tok")))
      val perSrc = toks.join(counts, "token").crossJoin(total)
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_tok"),
          sum(roundHU(-log(col("cnt") / col("total_tok")), 1e6)
            .cast("decimal(18,6)")).as("ssum"))
        .select(col("source"), col("n_tok"),
          roundHU(col("ssum").cast("double") / col("n_tok"), 1e6)
            .as("avg_surprisal"))
        .localCheckpoint(false) // reused: min row + weight row
      val base = broadcast(perSrc.agg(min("avg_surprisal").as("amin"),
        sum("n_tok").as("nt")))
      val nums = perSrc.crossJoin(base)
        .select(col("source"), col("n_tok"), col("avg_surprisal"),
          roundHU(col("avg_surprisal") - col("amin"), 1e6).as("excess"),
          roundHU((col("n_tok").cast("double") / col("nt")) *
            roundHU(exp(roundHU(col("avg_surprisal") - col("amin"), 1e6)), 1e6),
            1e8).cast("decimal(18,8)").as("num"))
        .localCheckpoint(false) // reused: Z + output
      val z = broadcast(nums.agg(sum("num").cast("double").as("z")))
      nums.crossJoin(z)
        .select(col("source"), col("n_tok"), col("avg_surprisal"),
          col("excess"),
          roundHU(col("num").cast("double") / col("z"), 1e6).as("weight"))
        .orderBy("source")
    }),

    // Bigram conditional surprisal: avg −ln P(w₂|w₁) per document with
    // P = corpus bigram count over prefix-occurrence count — one LM
    // order above unigram_logprob, the stronger fluency/repetition
    // signal (a doc of common words in weird order scores high here but
    // not on unigrams). Rounding is the IEEE-only floor(x·1e6 + 0.5)/1e6
    // form written identically on both engines — bround (half-even on
    // the double's exact value) vs DuckDB round (half-away after an
    // x·1e6 double product) genuinely diverge on near-tie values (hit
    // at sf0.01), while the floor form is bit-deterministic; surprisal
    // is ≥ 0 so half-away == half-up. Rounded BEFORE the decimal sum,
    // so both engines fold identical decimals in any order.
    // Single-token docs have no bigrams and drop out on both engines.
    // Counts are vocabulary²-keyed aggregations (map-side partials);
    // the prefix count joins on w₁.
    "bigram_logprob" -> ((s, dir) => {
      val bgs = docs(s, dir)
        .select(col("doc_id"), explode(bigrams(col("text"))).as("g"))
        .withColumn("w1", substring_index(col("g"), " ", 1))
      val cb = bgs.groupBy("g").agg(count(lit(1)).as("cb"))
      val cw = bgs.groupBy("w1").agg(count(lit(1)).as("cw"))
      bgs.join(cb, "g").join(cw, "w1")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("long").as("n_bigrams"),
          sum(r6(-log(col("cb") / col("cw")))
            .cast("decimal(18,6)")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          r6(col("ssum").cast("double") / col("n_bigrams"))
            .as("avg_surprisal"))
        .orderBy("doc_id")
    }),

    // L187 — DSIR importance weights (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023): score
    // every document by how much it resembles a TARGET domain (here
    // lang = 'en') under hashed bag-of-words unigram models —
    // log w(x) = Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)], the
    // log importance ratio DSIR resamples by. Features are token hashes
    // folded into DsirBuckets buckets (feature hashing — the fixed-size
    // trick that makes the method corpus-scale-free); both models are
    // Laplace-smoothed (+1 over the bucket count). The per-bucket log
    // ratio is rounded to 6dp MICRO-UNIT LONGS once in the (tiny) model
    // table, so the per-doc sum is an exact integer fold — merge-order-
    // free on both engines (the bigram_logprob floor-form contract; ln
    // itself matches across engines per that precedent). Scale shape:
    // bucket-keyed partial aggs for both models, the O(B)-row model
    // broadcast (B is a PARAMETER — 256 at any SF, the IVF-codebook
    // class, and an Aggregate-bounded hint the audit admits), then one
    // map-side lookup join + doc-keyed sum. No window, nothing
    // corpus-sized off the executors.
    "dsir_weights" -> ((s, dir) => {
      val B = DsirBuckets
      def r6m(c: org.apache.spark.sql.Column) = // micro-unit long round
        floor(c * lit(1e6) + lit(0.5)).cast("long")
      // (doc, bucket) rollup checkpointed once: the explode used to feed
      // FOUR consumers (target counts, raw counts, totals, the per-doc
      // scoring join), replaying the tokenize+hash scan per consumer.
      // Occurrence counts multiply out exactly — every downstream sum is
      // over long addends (counts, micro-unit longs), so Σ_occurrences v
      // = Σ_buckets v·c bit-for-bit. Rollup cardinality is docs × ≤B —
      // the feature-hashing contraction, bounded at any corpus size.
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(tokenHashes(col("text"))).as("h"))
        .groupBy(col("doc_id"), col("lang"),
          pmod(col("h"), lit(B.toLong)).as("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val tc = toks.filter(col("lang") === "en")
        .groupBy("b").agg(sum("c").as("tc"))
      val rc = toks.groupBy("b").agg(sum("c").as("rc"))
      val tot = broadcast(toks.agg(
        sum("c").as("rt"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tt")))
      val model = broadcast(rc.join(tc, Seq("b"), "left")
        .na.fill(0L, Seq("tc"))
        .crossJoin(tot)
        .select(col("b"),
          (r6m(log((col("tc") + 1).cast("double") / (col("tt") + B))) -
            r6m(log((col("rc") + 1).cast("double") / (col("rt") + B))))
            .as("dw_micro")))
      toks.join(model, "b")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"),
          sum(col("dw_micro") * col("c")).as("sw"))
        .select(col("doc_id"), col("n_tok"),
          (col("sw").cast("double") / lit(1e6)).as("log_weight"))
        .orderBy("doc_id")
    }),

    // Sketch-tier source similarity: per-source MinHash signature over
    // the source's shingle universe — min-of-mins, so NO distinct pass
    // and no shingle-set materialization, just k map-side-partial MINs —
    // then pairwise signature agreement estimates vocabulary Jaccard.
    // The exact counterpart is source_similarity (which must shuffle the
    // full vocab); this is its O(k) sketch, the shape that still works
    // when per-source vocabularies stop fitting anywhere. Fixed
    // permutations ⇒ the "estimate" is deterministic and exactly
    // oracled.
    "source_minhash_sim" -> ((s, dir) => {
      val sh = docs(s, dir)
        .select(col("source"), explode(shingleHashes(col("text"))).as("h"))
      val aggs = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
        min((col("h") * a + b) % MinhashP).as(s"mh$i")
      }
      val sig = sh.groupBy("source").agg(aggs.head, aggs.tail: _*)
      val k = MinhashParams.length
      val matches = (0 until k).map(i =>
        when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L)).reduce(_ + _)
      sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          (matches / lit(k)).as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // Corpus token-frequency top-k (explode → count → top-k)
    "token_freq" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token"))
        .limit(20)
    }),

    // Vocabulary growth curve (Heaps' law): distinct-vocabulary size
    // after ingesting each tenth of the corpus (by doc_id range). The
    // naive form — count-distinct per cumulative prefix — rescans the
    // corpus 10 times; this one-pass form exploits that a token enters
    // the vocabulary exactly once, at its FIRST bucket: min(bucket) per
    // token, count by first-bucket, then a 10-row running sum. One
    // explode + two key-sized aggregations; the window is over ≤ 10 rows
    // (driver-bounded, not data-bounded). Bucket bounds come from a
    // broadcast 1-row min/max aggregate folded into the lazy plan, and
    // the bucket index uses integer div — no double rounding at bucket
    // edges on either engine.
    "vocab_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val bounds = broadcast(d.agg(min("doc_id").as("lo"),
        (max("doc_id") + 1).as("hi")))
      val tok = d.crossJoin(bounds)
        .select(expr("((doc_id - lo) * 10) div (hi - lo)").as("bucket"),
          explode(tokens(col("text"))).as("token"))
      // collapse to (bucket, token) counts FIRST — (vocab × 10)-sized —
      // and materialize once (lazy localCheckpoint, same pattern as
      // corpus_curation): both downstream aggregations branch off this,
      // and without the cut each branch would re-scan + re-explode the
      // whole corpus
      val bt = tok.groupBy("bucket", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val firsts = bt.groupBy("token").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
      val totals = bt.groupBy("bucket").agg(sum("c").as("n_tokens"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      totals.join(firsts, Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("n_tokens", "new_tokens"))
        .withColumn("cum_vocab", sum("new_tokens").over(w))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .orderBy("bucket")
    }),

    // Per-source distinctive terms: which tokens over-index in a source
    // vs the whole corpus (lift = in-source relative frequency over
    // corpus relative frequency), top-5 per source among tokens with
    // ≥ 5 in-source occurrences — the domain-signature probe run before
    // choosing mixture weights. All counts are one explode + vocabulary-
    // keyed aggregations; the corpus total folds in as a broadcast 1-row
    // aggregate; the per-source totals are source-cardinality-sized. No
    // broadcast hint on the corpus-frequency side (vocabulary-sized,
    // grows with the corpus). The rank window's `rank <= 5` filter
    // compiles to WindowGroupLimit (same plan shape plan-audited for
    // topk_string_agg), so no source's full vocabulary is sorted whole.
    "distinctive_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
      // one corpus explode, materialized at (source, token) granularity
      // (lazy localCheckpoint — see corpus_curation): the four consumers
      // below would otherwise each re-scan the corpus; per-source and
      // corpus totals are exact sums of tf, so nothing needs the raw
      // token stream again
      val st = tok.groupBy("source", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val srcTot = st.groupBy("source").agg(sum("tf").as("src_n"))
      val corp = st.groupBy("token").agg(sum("tf").as("ctf"))
      val corpTot = broadcast(st.agg(sum("tf").as("all_n")))
      val w = Window.partitionBy("source").orderBy(desc("lift"), col("token"))
      st.filter(col("tf") >= 5)
        .join(srcTot, "source").join(corp, "token").crossJoin(corpTot)
        .withColumn("lift",
          // roundHU, not bround: the rounded lift feeds the rank ordering,
          // so a single half-even/half-away tie flip would change which
          // tokens are emitted, not just a digit
          roundHU((col("tf") / col("src_n")) / (col("ctf") / col("all_n")), 1e6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("source", "rank", "token", "tf", "lift")
        .orderBy("source", "rank")
    }),

    // Per-source document-length quantiles (exact percentile)
    "doc_len_quantiles" -> ((s, dir) => {
      docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_chars, 0.25)").as("p25"),
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.75)").as("p75"))
        .orderBy("source")
    }),

    // Per-source corpus statistics (exact tier; the HLL approx tier is
    // spec-bounded against these — see CorpusStatsSpec)
    "corpus_stats" -> ((s, dir) => {
      graft.llm.CorpusStats.exact(docs(s, dir), "source", "text")
        .orderBy("source")
    }),

    // Text normalization: lowercase, strip non-alphanumerics, collapse
    // whitespace — the canonical cleanup pass before tokenization
    "text_normalize" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
        .withColumn("norm_len", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }),

    // Unicode canonicalization (NFC, UAX #15) via the codegen'd
    // UnicodeNormalize expression — the canonicalization pass that must
    // precede any hashing dedup ('café' precomposed vs 'cafe'+U+0301
    // are byte-different, so every exact/shingle/fingerprint family
    // silently misses the duplicate until the text is normalized). The
    // synthetic corpus is ASCII, so a decomposed suffix is appended to
    // make the normalization observable; DuckDB's nfc_normalize
    // implements the identical fully-specified algorithm ⇒ oracled.
    // Per-row, no shuffle beyond the output sort.
    "unicode_nfc" -> ((s, dir) => {
      // 'cafe' + COMBINING ACUTE written as an escape so no editor or
      // tooling can silently precompose the source literal
      val withSuffix = concat(col("text"), lit(" cafe\u0301"))
      docs(s, dir).select(
        col("doc_id"),
        graft.functions.UnicodeNormalize.nfc(withSuffix).as("norm_text"),
        (length(withSuffix) -
          length(graft.functions.UnicodeNormalize.nfc(withSuffix)))
          .cast("long").as("chars_folded"))
        .orderBy("doc_id")
    }),

    // TF-IDF top terms per document (smooth idf, rounded for cross-engine
    // float stability; rank ties broken on the rounded value + term)
    "tfidf_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      // document count folded into the LAZY plan as a broadcast 1-row
      // aggregate — an eager d.count() here would run a full extra
      // corpus scan per invocation, at plan-construction time (even
      // under explain): a wasted 100 TB pass at scale
      val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
      val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // no broadcast hint on df_: it is vocabulary-sized (grows with the
      // corpus), and a forced broadcast past the limit FAILS rather than
      // degrading — leave the side choice to Catalyst/AQE
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(df_, "token").crossJoin(nDocs)
        .withColumn("tfidf",
          bround(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("token"))).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    }),

    // LSH-bucketed ANN (multiprobe) — approximate recall (asserted vs
    // bruteForceTopK in ScalaTest) but DETERMINISTIC retrieval: fixed
    // hyperplanes, so the full result is DuckDB-oracled too.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nPlanes = 4, dim = 64, probeRadius = 1)
        .orderBy("query_id", "rank")
    }),

    // ANN index-quality evaluation: recall@10 of the LSH path against the
    // exact ranking, per query — the metric that decides whether an
    // approximate index is shippable (an ANN path without a recall
    // harness is a silent-quality liability at 100 TB, where nobody can
    // eyeball results). Both rankings are deterministic, so the recall
    // table itself has one exact answer. left-semi intersect on
    // (query, neighbor), two key-sized aggregates.
    "ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // reused: denominator + intersect
      val approx = Similarity.annTopK(e, q, "vec_id", "embedding",
          k = 10, nPlanes = 4, dim = 64, probeRadius = 1)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          roundHU(col("n_hit").cast("double") / col("n_exact"), 1e6))
        .orderBy("query_id")
    }),

    // IVF ANN (deterministic k-means coarse quantizer, multiprobe) —
    // approximate recall (asserted in ScalaTest) but deterministic
    // retrieval: seeded decimal-exact k-means, so DuckDB-oracled too.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, nClusters = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // IVF index-quality evaluation: recall@10 of the IVF path against
    // the exact ranking, per query — the ship/no-ship metric ann_recall
    // provides for the LSH index, closing the gap where the IVF index
    // had no measured recall. Deterministic retrieval (seeded
    // decimal-exact k-means) ⇒ the recall table has one exact answer.
    "ann_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // reused: denominator + intersect
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding",
          k = 10, nClusters = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          roundHU(col("n_hit").cast("double") / col("n_exact"), 1e6))
        .orderBy("query_id")
    }),

    // The tuning curve an operator actually reads before shipping an ANN
    // index: micro-averaged recall@10 AND the cost that bought it
    // (total candidates examined) as a function of the knob — LSH probe
    // radius (0/1/2) and IVF nProbe (1/2/4/8) — in one chart-ready
    // table. Recall without cost is half a curve: the knob's whole
    // trade is candidates-for-recall. Micro-average = sum(hits)/
    // sum(exact): integer sums then ONE division, so there is no
    // float-accumulation order for the two engines to disagree on.
    // Each point reuses the checkpointed exact ranking; the 7 index
    // probes share the bucketed/bucket-equi join shapes of their parent
    // queries (never all-pairs).
    // r13 (guide §2.4): the 7 sweep points used to pay a full candidate
    // join + top-k window + three 1-row aggregates EACH (140 exchanges,
    // 32 corpus scans in one plan). The probe sets are NESTED in the
    // knob (LSH radii share flips, IVF probes are prefixes of the same
    // deterministic centroid order), so each family now runs ONE tagged
    // candidate pass at the widest setting; every point is a filter
    // over the checkpointed frame, its top-10 rank computed for all
    // points in ONE window pass (per-setting conditional running
    // counts over the same (cos desc, neighbor_id) total order — equal
    // to row_number within the filtered pool), and all counts land in
    // one aggregate per family. Row-identical per point by the tagging
    // lemmas on annCandidatesTagged / ivfCandidatesTagged.
    "ann_tuning_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // reused: flag join + the n_exact total
      val nExact = broadcast(exact.agg(count(lit(1)).as("n_exact")))
      val w = Window.partitionBy("query_id")
        .orderBy(desc("cos"), col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def sweep(family: String, cand: DataFrame, tagCol: String,
                settings: Seq[Int]): DataFrame = {
        val ranked = cand.select(
          col("query_id") +: col("neighbor_id") +: col(tagCol).as("tag") +:
            settings.map(p => sum(when(col(tagCol) <= p, 1L).otherwise(0L))
              .over(w).as(s"rk_$p")): _*)
        val flagged = ranked.join(
          exact.withColumn("is_exact", lit(true)),
          Seq("query_id", "neighbor_id"), "left")
        val aggCols = settings.flatMap(p => Seq(
          coalesce(sum(when(col("tag") <= p, 1L).otherwise(0L)), lit(0L))
            .as(s"cand_$p"),
          coalesce(sum(when(col("tag") <= p && col(s"rk_$p") <= 10 &&
            col("is_exact"), 1L).otherwise(0L)), lit(0L)).as(s"hit_$p")))
        flagged.agg(aggCols.head, aggCols.tail: _*)
          .select(explode(array(settings.map(p =>
            struct(lit(family).as("family"), lit(p.toLong).as("param"),
              col(s"hit_$p").as("n_hit"), col(s"cand_$p").as("n_cand"))): _*))
            .as("pt"))
          .select(col("pt.family").as("family"), col("pt.param").as("param"),
            col("pt.n_hit").as("n_hit"), col("pt.n_cand").as("n_cand"))
      }
      // one bucketed index, one tagged probe pass for all three radii
      // single-consumer chains now (the sweep fuses every point into one
      // window + one aggregate), so no checkpoints on the index/candidate
      // frames — each would just add a materialization job
      val cb = Similarity.lshBuckets(e, "vec_id", "embedding", 4, 64)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("bucket"))
      val qb = Similarity.lshBuckets(q, "vec_id", "embedding", 4, 64)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
      val lsh = sweep("lsh_radius",
        Similarity.annCandidatesTagged(cb, qb, nPlanes = 4, maxRadius = 2),
        "radius", Seq(0, 1, 2))
      // one codebook, one tagged assignment/probe pass for all four nProbe
      val cs = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 16, iters = 2)
      val ivf = sweep("ivf_nprobe",
        Similarity.ivfCandidatesTagged(e, q, "vec_id", "embedding", cs,
          maxProbe = 8),
        "probe_rank", Seq(1, 2, 4, 8))
      lsh.union(ivf).crossJoin(nExact)
        .select(col("family"), col("param"), col("n_exact"), col("n_hit"),
          col("n_cand"),
          roundHU(col("n_hit").cast("double") / col("n_exact"), 1e6).as("recall"))
        .orderBy("family", "param")
    }),

    // L281 — product-quantization codebook report (Jégou et al. 2011):
    // the 64-dim space splits into PqM=4 contiguous subspaces, each
    // trained by the deterministic Lloyd chain (lowest-id seeds,
    // decimal-exact means — the IVF convention, so the "trained" index
    // has ONE exact answer); output is the per-(subspace, codeword)
    // occupancy and mean squared reconstruction error — the table that
    // tells you whether m·k is sized right BEFORE re-encoding 100 TB.
    // Scale shape: codebooks are parameter-sized driver state (the IVF
    // contract); the distortion pass is one corpus scan joined to the
    // broadcast codebook, per-position terms 8dp-floored into exact
    // decimal sums.
    "pq_codebooks" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", PqM, PqK, PqIters)
      val cbDf = broadcast(Similarity.pqCodebookDf(s, cbs))
      val codes = Similarity.pqCodes(e, "vec_id", "embedding", cbs)
      val vecs = e.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.toDouble(col("embedding")).as("fe"))
      val d = codes
        .join(cbDf, codes("subspace") === cbDf("subspace") &&
          codes("code") === cbDf("cl"))
        .select(codes("vec_id"), codes("subspace"), codes("code"), col("cvec"))
        .join(vecs, "vec_id")
        .select(col("vec_id"), col("subspace"), col("code"),
          posexplode(col("cvec")).as(Seq("pos", "cval")), col("fe"))
        .withColumn("qval", element_at(col("fe"),
          (col("subspace") * PqSub + col("pos") + 1).cast("int")))
        .withColumn("t", (floor((col("qval") - col("cval")) *
          (col("qval") - col("cval")) * lit(1e8) + lit(0.5)) / lit(1e8))
          .cast("decimal(28,8)"))
        .groupBy("vec_id", "subspace", "code").agg(sum(col("t")).as("d2"))
      d.groupBy(col("subspace"), col("code").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum(col("d2")).cast("double") / count(lit(1)) * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("avg_dist2"))
        .orderBy("subspace", "cluster")
    }),

    // L282 — PQ asymmetric-distance top-k (the ADC search loop): corpus
    // rows are scanned as CODES only — m small ints per vector, the
    // 8–32× compression that lets a 100 TB corpus serve ANN from RAM —
    // and each query's distance is the exact DECIMAL sum of m broadcast
    // LUT entries (per-position terms 8dp-floored, so both engines sum
    // identical rationals). The only fact-sized flow is codes →
    // per-(query, vec) partial aggregate → top-k.
    "ann_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", PqM, PqK, PqIters)
      Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", cbs, k = 10)
        .orderBy("query_id", "rank")
    }),

    // L283 — PQ recall vs the exact squared-L2 top-10 (ADC approximates
    // L2, so the honest ground truth is the L2 ranking, not cosine):
    // the acceptance gate before shipping a PQ index — the compression
    // is free only if recall@10 survives it. Exact side ranks by
    // ‖c‖² − 2·q·c (monotone in L2 distance; the ivfScore spelling both
    // engines fold identically); one broadcast-query corpus scan.
    "pq_recall" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vectorDot
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.select(col("vec_id").as("neighbor_id"),
        Similarity.toDouble(col("embedding")).as("cv"))
      val qs = q.select(col("vec_id").as("query_id"),
        Similarity.toDouble(col("embedding")).as("qv"))
      val exact = c.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .withColumn("score",
          vectorDot(col("cv"), col("cv")) - lit(2.0) * vectorDot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("score"), col("neighbor_id"))))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // reused: denominator + intersect
      val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", PqM, PqK, PqIters)
      val approx = Similarity.pqAdcTopK(e, q, "vec_id", "embedding", cbs, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          roundHU(col("n_hit").cast("double") / col("n_exact"), 1e6))
        .orderBy("query_id")
    }),

    // L294 — rank-biased overlap (Webber et al. 2010) between the PQ
    // ADC ranking and the exact squared-L2 ranking, truncated at K:
    // recall@k treats the list as a SET; RBO weights agreement
    // geometrically by depth (p=0.9), so an index that nails the top 3
    // but shuffles 8–10 scores far above one that inverts them — the
    // ranking-quality gate next to pq_recall's set-overlap gate. A pair
    // at depths (ra, rb) contributes the cumulative tail weight
    // W(max(ra, rb)) — Scala-precomputed 8dp literals (see RboCumW), so
    // the whole measure is one join + one decimal aggregate per query;
    // no per-depth explode.
    "rbo_rankings" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vectorDot
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.select(col("vec_id").as("neighbor_id"),
        Similarity.toDouble(col("embedding")).as("cv"))
      val qs = q.select(col("vec_id").as("query_id"),
        Similarity.toDouble(col("embedding")).as("qv"))
      val exact = c.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .withColumn("ra", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(vectorDot(col("cv"), col("cv")) -
              lit(2.0) * vectorDot(col("qv"), col("cv")), col("neighbor_id"))))
        .filter(col("ra") <= RboK)
        .select(col("query_id"), col("neighbor_id"), col("ra"))
      val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding", PqM, PqK, PqIters)
      val adc = Similarity.pqAdcTopK(e, q, "vec_id", "embedding", cbs, k = RboK)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
      val wExpr = (1 to RboK).foldLeft(lit(0.0)) { (acc, m) =>
        when(greatest(col("ra"), col("rb")) === m, lit(RboCumW(m - 1)))
          .otherwise(acc)
      }
      val per = exact.join(adc, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), wExpr.cast("decimal(18,8)").as("w"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("overlap_at_k"), sum("w").as("rsum"))
      qs.select(col("query_id"))
        .join(per, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
          r6(coalesce(col("rsum").cast("double"), lit(0.0))).as("rbo"))
        .orderBy("query_id")
    }),

    // L297 — mean-reciprocal-rank retrieval eval over the labeled
    // embedding corpus: for each probe query, 1/rank of the FIRST
    // same-label neighbor in the exact cosine top-10 — the
    // first-relevant-result metric next to ndcg_eval's graded gain and
    // nearest_centroid_eval's global confusion (MRR is what a
    // retrieval-augmented pipeline actually feels: how deep the user
    // scrolls before a relevant hit). One broadcast-query corpus scan;
    // misses surface as NULL rank / rr = 0, never dropped rows.
    "mrr_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val top = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val labels = e.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))
      val qlab = q.select(col("vec_id").as("query_id"),
        col("label").as("q_label"))
      val hits = top.join(labels, "neighbor_id")
        .join(broadcast(qlab), "query_id")
        .filter(col("n_label") === col("q_label"))
        .groupBy("query_id").agg(min("rank").as("first_hit_rank"))
      qlab.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("q_label"), col("first_hit_rank"),
          r6(coalesce(lit(1.0) / col("first_hit_rank"), lit(0.0))).as("rr"))
        .orderBy("query_id")
    }),

    // L301 — mean average precision @10 over the labeled embeddings:
    // AP = Σ_{ranks r with a same-label hit} precision@r / min(10, R) —
    // the area-under-PR summary that completes the retrieval-eval
    // family (mrr_eval = first hit, ndcg_eval = graded gain, MAP =
    // every hit weighted by how early). R is the query's true relevant
    // count, so a query whose label has few corpus neighbors isn't
    // penalized for the ceiling. The running hit count is a
    // query-PARTITIONED 10-row window; precision terms 8dp-round into
    // exact decimal sums.
    "map_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val top = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val labels = e.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))
      val qlab = q.select(col("vec_id").as("query_id"),
        col("label").as("q_label"))
      // R per query: same-label corpus count minus the query itself
      val relCnt = e.groupBy(col("label").as("q_label"))
        .agg(count(lit(1)).as("n_label_total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      val ap = top.join(labels, "neighbor_id")
        .join(broadcast(qlab), "query_id")
        .withColumn("hit", (col("n_label") === col("q_label")).cast("long"))
        .withColumn("cum", sum("hit").over(w))
        .filter(col("hit") === 1)
        .select(col("query_id"),
          r8(col("cum").cast("double") / col("rank"))
            .cast("decimal(18,8)").as("t"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"), sum("t").cast("double").as("psum"))
      qlab.join(relCnt, "q_label")
        .select(col("query_id"), col("q_label"),
          (col("n_label_total") - 1).as("n_relevant"))
        .join(ap, Seq("query_id"), "left")
        .select(col("query_id"), col("q_label"), col("n_relevant"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          // n_relevant = 0 guard (r9 ADVICE): a probe whose label is
          // unique in the corpus would divide 0.0/0 — NaN in Spark but
          // NULL in DuckDB. Pin both engines to NULL via nullif.
          r6(coalesce(col("psum"), lit(0.0)) /
            when(col("n_relevant") === 0, lit(null).cast("double"))
              .otherwise(least(lit(10L), col("n_relevant")).cast("double")))
            .as("ap"))
        .orderBy("query_id")
    }),

    // L299 — IVFADC search (Jégou et al. 2011 — the FAISS production
    // shape): IVF coarse cells restrict the scan to nProbe cells, and a
    // GLOBAL product quantizer over the RESIDUALS scores candidates by
    // asymmetric distance — residual encoding is why tiny m·k codebooks
    // stay accurate (residual magnitudes are a fraction of the raw
    // vectors'). The complete memory-resident trillion-vector serving
    // stack: coarse pruning (sub-linear scan) × 8–32× code compression.
    // Every training step is the deterministic Lloyd chain; one exact
    // answer, oracled end to end.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, coarseK = IvfPqCoarseK,
          nProbe = IvfPqProbe, m = PqM, pqK = PqK, iters = PqIters)
        .orderBy("query_id", "rank")
    }),

    // L300 — IVFADC recall vs the exact squared-L2 top-10: cell misses
    // (the query's true neighbor lives in an unprobed cell) and
    // quantization error land in ONE number — the acceptance gate for
    // the full IVF×PQ stack, read next to pq_recall (quantization only)
    // and ann_ivf_recall (cell pruning only) to attribute the loss.
    "ivfpq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val exact = exactL2TopK(e, k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false) // reused: denominator + intersect
      val approx = Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, coarseK = IvfPqCoarseK,
          nProbe = IvfPqProbe, m = PqM, pqK = PqK, iters = PqIters)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          roundHU(col("n_hit").cast("double") / col("n_exact"), 1e6))
        .orderBy("query_id")
    }),

    // L133 — SemDeDup (Abbas et al. 2023): semantic dedup by k-means
    // clustering + within-cluster cosine. THE corpus-scale embedding-
    // dedup shape: the quadratic comparison runs inside k-means cells
    // only (k grows with the corpus ⇒ bounded cells ⇒ linear total pair
    // work), vs cosine_near_dup's exact-but-blocked global self-join.
    // Deterministic end to end (seeded decimal-exact k-means, keep-
    // lowest-id) ⇒ DuckDB-oracled despite being "approximate". The
    // bounded-cell contract (k scales with n ⇒ cells stay small) is
    // ENFORCED in the plan, not assumed: an elephant cell past maxBlock
    // fails the job naming the cell (the L129 guard), instead of
    // silently going quadratic in one straggler task.
    "semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cs = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 8, iters = 2)
      val assigned = CoreQueries.blockSizeGuard(
        Similarity.clusterAssignments(e, "vec_id", "embedding", cs),
        Seq("cluster"), maxBlock = 2048L, "semantic_dedup")
      Similarity.semanticDedupOn(assigned, threshold = 0.4)
        .orderBy("vec_id")
    }),

    // L179 — CCNet perplexity terciles (Wenzek et al. 2020): docs bucket
    // into head/middle/tail by corpus-LM surprisal rank (unigram formula,
    // the unigram_logprob signal), reported as the per-source mix — the
    // table CCNet-style pipelines use to keep the fluent head and drop
    // or re-weight the tail. The global rank runs through the two-phase
    // exclusivePrefix (a naive percentile over per-DOC scores is a
    // data-sized single-node sort at 100 TB); tercile membership is pure
    // integer arithmetic on the exclusive cumulative count, so tied
    // scores always share a bucket.
    "ccnet_buckets" -> ((s, dir) => {
      // A/B'd and rejected (r13): checkpointing a (doc, token, count)
      // rollup so the explode feeds the count pass and the scoring join
      // once (surprisal·count multiplies out exactly in decimal) measured
      // flat — wall 1.37 → 1.30 min-of-3, steady executor cpu 0.68 →
      // 0.67–1.06 s: the saved tokenize pass is offset by the rollup's
      // own (doc,token)-keyed exchange. This query's real cost is the
      // exclusivePrefix rank machinery, already checkpoint-optimized.
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = broadcast(counts.agg(sum("cnt").as("total_tok")))
      val surp = toks.join(counts, "token").crossJoin(total)
        .groupBy("doc_id")
        .agg(sum(roundHU(-log(col("cnt") / col("total_tok")), 1e6)
          .cast("decimal(18,6)")).as("ssum"),
          count(lit(1)).cast("long").as("n_tok"))
        .select(col("doc_id"),
          roundHU(col("ssum").cast("double") / col("n_tok"), 1e6).as("surp"))
        .localCheckpoint(false) // feeds the distinct-value rank AND the doc join
      val perVal = surp.groupBy("surp").agg(count(lit(1)).as("c"))
      val ranked = CoreQueries.exclusivePrefix(perVal, "surp", Seq("c"))
      val nTot = broadcast(surp.agg(count(lit(1)).as("n_scored")))
      val bucketed = surp
        .join(ranked.select(col("surp"), col("cum_c")), "surp")
        .crossJoin(nTot)
        .withColumn("bucket",
          when(col("cum_c") * 3 < col("n_scored"), "head")
            .when(col("cum_c") * 3 < col("n_scored") * 2, "middle")
            .otherwise("tail"))
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
      bucketed
        .join(bucketed.groupBy("source").agg(sum("n").as("src_tot")), "source")
        .select(col("source"), col("bucket"), col("n"),
          roundHU(col("n").cast("double") / col("src_tot"), 1e6).as("share"))
        .orderBy("source", "bucket")
    }),

    // L178 — vector norm profile per label: exact quartiles of ‖v‖ plus
    // zero-norm and outlier counts, the outlier rule a MEDIAN-CENTERED
    // 1.5·IQR band (|x − med| > 1.5·IQR — deliberately symmetric, NOT
    // the textbook Tukey [q1−1.5·IQR, q3+1.5·IQR] fences: one threshold
    // to reason about, identical on both engines) — the index-health check
    // run before any cosine machinery (zero norms NaN out of every
    // cosine; extreme norms distort IP-metric ANN and quantizer
    // training). Norms are per-row folds over the bound vector
    // (decimal-free: a per-row ordered fold is already deterministic),
    // label-keyed exact percentiles (the median_mode parity).
    "vector_norm_profile" -> ((s, dir) => {
      val norm = sqrt(aggregate(Similarity.toDouble(col("embedding")),
        lit(0.0), (a, x) => a + x * x))
      val n = t(s, dir, "embeddings").select(col("label"), norm.as("nrm"))
        .localCheckpoint(false) // feeds the percentile pass AND the fence count
      val stats = n.groupBy("label").agg(
        percentile(col("nrm"), lit(0.25)).as("q1"),
        percentile(col("nrm"), lit(0.5)).as("med"),
        percentile(col("nrm"), lit(0.75)).as("q3"))
      n.join(stats, "label")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          max(col("med")).as("m"), max(col("q3") - col("q1")).as("iqr"),
          sum(when(abs(col("nrm") - col("med")) > (col("q3") - col("q1")) * 1.5, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("label"), col("n"), col("n_zero"),
          roundHU(col("m"), 1e6).as("median_norm"),
          roundHU(col("iqr"), 1e6).as("iqr"),
          col("n_outliers"))
        .orderBy("label")
    }),

    // L177 — kNN label-noise audit (the agreement test behind Confident
    // Learning-style cleaning): for each vector, the fraction of its 5
    // nearest neighbors (cosine) sharing its label; majority
    // disagreement flags a suspected mislabel. Exact kNN is corpus² —
    // neighbors are scoped to the vector's k-means cell (the SemDeDup
    // bounded-cell trick, blockSizeGuard-enforced), which is also what
    // a production audit does: mislabels among near neighbors are
    // precisely the within-cell ones. Cell-keyed pair join + per-vector
    // bounded rank window; singleton-cell vectors have no neighbors and
    // emit no row (explicitly visible in k_found < 5 otherwise).
    "label_noise_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val kNn = 5
      val e = t(s, dir, "embeddings")
      val cs = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 8, iters = 2)
      val assigned = CoreQueries.blockSizeGuard(
        Similarity.clusterAssignments(e, "vec_id", "embedding", cs),
        Seq("cluster"), maxBlock = 2048L, "label_noise_knn")
        .join(e.select(col("vec_id").as("id"), col("label")), Seq("id"))
        .localCheckpoint(false) // reused: both sides of the cell self-join
      val a = assigned.select(col("cluster"), col("id").as("vec_id"),
        col("v").as("av"), col("label").as("la"))
      val b = assigned.select(col("cluster"), col("id").as("nb_id"),
        col("v").as("bv"), col("label").as("lb"))
      a.join(b, Seq("cluster"))
        .filter(col("vec_id") =!= col("nb_id"))
        .withColumn("cos", Similarity.cosine(col("av"), col("bv")))
        .filter(!isnan(col("cos")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(desc("cos"), col("nb_id"))))
        .filter(col("rk") <= kNn)
        .groupBy("vec_id", "la")
        .agg(count(lit(1)).as("k_found"),
          sum(when(col("lb") === col("la"), 1L).otherwise(0L)).as("k_same"))
        .select(col("vec_id"), col("la").as("label"), col("k_found"),
          roundHU(col("k_same").cast("double") / col("k_found"), 1e6)
            .as("agreement"),
          (col("k_same") * 2 < col("k_found")).as("suspect"))
        .orderBy("vec_id")
    }),

    // Cluster-purity evaluation: per k-means cell, the majority label's
    // share — the standard external-validity check of an UNSUPERVISED
    // cell structure against known labels (the companion to
    // cluster_balance's size diagnostic and silhouette_proxy's internal
    // score; SemDeDup-style pipelines run exactly this before trusting
    // cells as dedup scopes). One assignment scan joined to the
    // label column, a (cell × label) count table (bounded: k × labels),
    // and a deterministic majority pick via max_by on (n, −label) —
    // ties to the LOWEST label, mirrored by the oracle's row_number
    // order. Same seeded decimal-exact codebook as the ann_ivf family.
    "cluster_purity" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cs = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 8, iters = 2)
      val al = Similarity.clusterAssignments(e, "vec_id", "embedding", cs)
        .join(e.select(col("vec_id").as("id"),
          col("label").cast("long").as("label")), "id")
      val cc = al.groupBy("cluster", "label").agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // reused: totals + majority pick
      val tot = cc.groupBy("cluster").agg(sum("n").as("n_vecs"))
      val pick = cc.groupBy("cluster")
        .agg(max_by(struct(col("label"), col("n")),
          struct(col("n"), -col("label"))).as("m"))
        .select(col("cluster"), col("m.label").as("top_label"),
          col("m.n").as("top_n"))
      tot.join(pick, "cluster")
        .select(col("cluster"), col("n_vecs"), col("top_label"), col("top_n"),
          roundHU(col("top_n").cast("double") / col("n_vecs"), 1e6).as("purity"))
        .orderBy("cluster")
    }),

    // L140 — codebook cell-balance diagnostic: members and share per
    // k-means cell, EMPTY CELLS INCLUDED (an empty or elephant cell is
    // exactly what this query exists to surface — it is the k-chooser
    // for both IVF serving cost and SemDeDup's bounded-cell contract).
    // One assignment scan + a k-row left join; the codebook is the same
    // bounded construction-time artifact as the ann_ivf_* family.
    "cluster_balance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cs = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 8, iters = 2)
      val counts = Similarity.clusterAssignments(e, "vec_id", "embedding", cs)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").as("total"))
      s.range(cs.length).toDF("cluster")
        .join(counts, Seq("cluster"), "left")
        .crossJoin(broadcast(total)) // 1-row side
        .select(col("cluster"),
          coalesce(col("n"), lit(0L)).as("n_members"),
          roundHU(coalesce(col("n"), lit(0L)).cast("double") / col("total"), 1e6)
            .as("share"))
        .orderBy("cluster")
    }),

    // Word2vec negative-sampling distribution (Mikolov et al. 2013):
    // p(w) ∝ count^0.75 — the α=3/4 flattening that keeps rare words
    // drawable without letting stopwords dominate the noise draws; the
    // same tempering the temperature_mixture query applies to SOURCES,
    // applied to the unigram table. One token-count shuffle; the ^0.75
    // is written as exp(0.75·ln c) on BOTH engines (one pinned op
    // sequence instead of trusting pow() parity), per-term 6dp rounding
    // before the decimal normalizer sum. Output: top-20 tokens with the
    // raw and tempered probabilities side by side.
    "unigram_sampling_table" -> ((s, dir) => {
      val cnts = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val pw = cnts
        .select(col("token"), col("cnt"),
          roundHU(exp(lit(0.75) * log(col("cnt").cast("double"))), 1e6).as("w"))
        .localCheckpoint(false) // reused: normalizers + top-20
      val z = broadcast(pw.agg(
        sum(col("w").cast(DecimalType(28, 6))).cast("double").as("z"),
        sum("cnt").as("n_tokens")))
      pw.orderBy(desc("cnt"), col("token")).limit(20)
        .crossJoin(z)
        .select(col("token"), col("cnt"),
          roundHU(col("cnt").cast("double") / col("n_tokens"), 1e6).as("raw_prob"),
          roundHU(col("w") / col("z"), 1e6).as("sampling_prob"))
        .orderBy(desc("cnt"), col("token"))
    }),

    // Bigram conditional entropy rate H(W₂|W₁) in nats + its branching
    // perplexity e^H — the sequence-predictability companion to
    // source_entropy's bag-of-words H(W): a templated corpus can have
    // high unigram entropy yet near-zero entropy RATE (every word
    // determines the next), which is exactly the repetition signature
    // n-gram LMs and dedup filters care about. Two vocabulary-sized
    // keyed shuffles (bigram counts checkpointed for its two consumers,
    // then the first-word rollup joined back); −p·ln(p(w₂|w₁)) terms
    // route through DECIMAL(28,18) like every entropy sum here.
    "bigram_entropy_rate" -> ((s, dir) => {
      val b2 = docs(s, dir)
        .select(explode(bigrams(col("text"))).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("w1"), col("bg"))
      val c12 = b2.groupBy("w1", "bg").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false) // reused: c1 rollup + total + term sum
      val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
      val n = broadcast(c12.agg(sum("c12").as("n_bigrams")))
      c12.join(c1, "w1").crossJoin(n)
        .select(col("n_bigrams"),
          (-(col("c12").cast("double") / col("n_bigrams")) *
            log(col("c12").cast("double") / col("c1")))
            .cast(DecimalType(28, 18)).as("term"))
        .groupBy("n_bigrams").agg(sum("term").cast("double").as("h"))
        .select(col("n_bigrams"), roundHU(col("h"), 1e6).as("entropy_rate"),
          roundHU(exp(col("h")), 1e6).as("perplexity"))
    }),

    // L94 — per-source unigram distribution entropy (nats) + the
    // ln(vocab)-normalized form: the corpus-diversity diagnostic run
    // before mixing sources into a training set (low entropy = templated
    // / boilerplate-heavy source). Two partial-agg-friendly shuffles
    // (source×token counts, then per-source rollup); the -p·ln(p) terms
    // are per-row doubles summed through DECIMAL(28,18) so the
    // order-sensitive additions match the oracle exactly. Output is
    // source-cardinality-sized.
    "source_entropy" -> ((s, dir) => {
      val cnts = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      val tot = cnts.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"))
      val p = col("c").cast("double") / col("n_tokens")
      cnts.join(tot, "source")
        .select(col("source"), col("n_tokens"), col("vocab"),
          (-(p * log(p))).cast("decimal(28,18)").as("term"))
        .groupBy("source", "n_tokens", "vocab")
        .agg(sum("term").cast("double").as("h"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          roundHU(col("h"), 1e6).as("entropy"),
          roundHU(col("h") / log(col("vocab").cast("double")), 1e6)
            .as("norm_entropy"))
        .orderBy("source")
    }),

    // L95 — deterministic weighted sampling without replacement
    // (Efraimidis–Spirakis via exponential keys): each doc draws a
    // pseudo-uniform u from the shared sampling hash and competes with
    // key −ln(u)/w, w = n_chars; the k smallest keys are a length-
    // weighted sample — the exact shape of token-budget corpus
    // subsampling, reproducible across engines and runs because u is
    // hash-derived, not RNG state. Per-row map-side keys + one
    // TakeOrdered(k): no full sort, no shuffle beyond top-k merge.
    "weighted_sample" -> ((s, dir) => {
      val u = (sampleHash(col("doc_id"), 1000000L) + lit(1L)).cast("double") /
        lit(1000001.0)
      docs(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          (-log(u) / col("n_chars")).as("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(100)
        .select(col("doc_id"), col("n_chars"),
          roundHU(col("sample_key"), 1e12).as("sample_key"))
        .orderBy("sample_key", "doc_id")
    }),

    // L96 — graded contamination scoring: the scored sibling of the
    // binary `decontaminate` gate — per corpus doc, the fraction of its
    // distinct 8-grams that appear anywhere in the benchmark set, so
    // curation can THRESHOLD (drop > 80 % overlap, flag > 10 %) instead
    // of dropping on any single shared gram. One gram explode + equi-
    // join keyed on the gram (benchmark side stays distinct-small), one
    // per-doc count rollup; docs too short to form an 8-gram have no
    // score row (no gram set to measure).
    "contamination_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val bGrams = d.filter(col("doc_id") < 5)
        .select(explode(TextOps.shingles(col("text"), 8)).as("gram")).distinct()
        .withColumn("hit", lit(1L))
      d.filter(col("doc_id") >= 5)
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 8)).as("gram"))
        .join(bGrams, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
        .withColumn("score",
          bround(col("n_hits").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    }),

    // L97 — per-source weighted sampling: the stratified form of
    // `weighted_sample` — an independent Efraimidis–Spirakis draw of 20
    // docs per source, length-weighted, which is exactly the per-source
    // token-budget allocation step of corpus mixing. The rank ≤ 20
    // filter sits directly on the per-source window so WindowGroupLimit
    // keeps a running top-20 per partition below any full sort.
    "stratified_weighted_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = (sampleHash(col("doc_id"), 1000000L) + lit(1L)).cast("double") /
        lit(1000001.0)
      val w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
      docs(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("source"), col("doc_id"), col("n_chars"),
          (-log(u) / col("n_chars")).as("sample_key"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rk"),
          roundHU(col("sample_key"), 1e12).as("sample_key"))
        .orderBy("source", "rk")
    }),

    // L98 — deterministic train/val/test split: the 80/10/10 hash split
    // every training pipeline runs before anything else. Assignment is
    // the shared overflow-safe sampling hash on doc_id (stable across
    // runs, engines, and re-partitioning — never rand()), reported as
    // per-(source, split) document/char counts so split balance per
    // source is auditable. One map-side bucket expression + one
    // grouped aggregate; the split column itself pushes down to any
    // downstream filter.
    "train_val_test_split" -> ((s, dir) => {
      val b = sampleHash(col("doc_id"), 10L)
      docs(s, dir)
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source", "split")
    }),

    // L305 — leakage-safe train/val/test split: the hash split above
    // assigns DOCUMENTS independently, so two near-duplicates can land
    // in train and test — the eval-contamination hole dedup-aware
    // pipelines close by splitting at the duplicate-FAMILY level (the
    // Lee et al. 2022 finding: train/test overlap inflates eval). Same
    // LSH near-dup graph + pointer-doubling CC as component_keep_best;
    // the split key is the family id, so every transitive family lands
    // in ONE split by construction, and the output carries the audited
    // cross-split near-dup pair count (provably 0) next to the
    // per-(source, split) balance — the number a leakage audit would
    // otherwise recompute.
    "leakage_safe_split" -> ((s, dir) => {
      val d = docs(s, dir)
      // lazy checkpoint: the pair list feeds the CC and both sides of
      // the crossing audit
      val pairs = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
        .select("a_id", "b_id").localCheckpoint(false)
      val comps = Dedup.connectedComponents(pairs)
      val b = sampleHash(coalesce(col("comp"), col("doc_id")), 10L)
      val fam = d.join(comps, d("doc_id") === comps("id"), "left")
        .withColumn("split",
          when(b < 8, "train").when(b === 8, "val").otherwise("test"))
        .localCheckpoint(false) // reused: counts + both audit sides
      val cross = broadcast(pairs
        .join(fam.select(col("doc_id").as("a_id"), col("split").as("sa")),
          "a_id")
        .join(fam.select(col("doc_id").as("b_id"), col("split").as("sb")),
          "b_id")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("cross_split_pairs")))
      fam.groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .crossJoin(cross)
        .orderBy("source", "split")
    }),

    // L99 — near-dup family SIZE distribution: how big do duplicate
    // families get (the curation report behind "we removed X% as
    // near-dups")? Reuses the LSH near-dup graph + pointer-doubling CC;
    // singleton docs count as size-1 families via the left join. Two
    // key-sized aggregations above the CC output — nothing new shuffles
    // at fact scale.
    "component_size_hist" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
      val comps = Dedup.connectedComponents(pairs.select("a_id", "b_id"))
      d.join(comps, d("doc_id") === comps("id"), "left")
        .withColumn("family", coalesce(col("comp"), col("doc_id")))
        .groupBy("family").agg(count(lit(1)).as("family_size"))
        .groupBy("family_size").agg(count(lit(1)).as("n_families"))
        .orderBy("family_size")
    }),

    // L100 — inverted PHRASE index (posting lists) for the selective
    // mid-frequency band: bigram term -> sorted doc-id list, the
    // retrieval-index build step (bigrams, not unigrams: the phrase
    // vocabulary is what carries selectivity). The df pre-pass bounds
    // every collected posting list to the [3, 20] band BEFORE
    // collect_list runs, so no aggregation buffer ever holds a
    // stopphrase-sized posting list (at 100 TB the high-df band goes to
    // a postings FILE format, never an in-row list — the band filter is
    // that contract in miniature). Distinct (doc, term) pairs shuffle
    // once; sort_array makes the list order deterministic.
    "inverted_index" -> ((s, dir) => {
      val post = docs(s, dir)
        .select(col("doc_id"),
          explode(TextOps.shingles(col("text"), 2)).as("term"))
      val band = post.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df").between(3, 20))
      post.join(band, "term")
        .groupBy("term", "df")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
        .orderBy("term")
    }),

    // L101 — BM25 retrieval (k1=1.2, b=0.75) for a fixed query-term set:
    // the lexical-search scoring every retrieval/dedup-against-query
    // pipeline needs. Per-(doc, term) tf rows exist only for the query
    // terms (the isin filter pushes to the scan side of the explode);
    // df and corpus stats are term- and 1-row-sized broadcast
    // aggregates. Per-term scores round to 6dp BEFORE the decimal
    // per-doc sum (the unigram_logprob recipe — JVM vs libm ln differ
    // in the last ulp), and the top-50 is a total-ordered TakeOrdered,
    // not a sort of the corpus.
    "bm25_search" -> ((s, dir) =>
      bm25Scored(docs(s, dir))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(50)),

    // NDCG@k of the BM25 ranking (Järvelin & Kekäläinen 2002, the
    // linear-gain form): graded relevance = n_terms (how many distinct
    // query terms the doc contains — the overlap ground truth available
    // without human labels), system list = BM25 top-k, ideal list =
    // relevance top-k over the SAME candidate scores. The standard
    // offline eval a retrieval stack runs per index build; rrf_fusion
    // ranks, this scores the ranking. Shape: one bm25Scored pass
    // (checkpointed, reused by both lists), two TakeOrdered top-10s,
    // ranks via count-of-better self-joins over the 10-row lists (no
    // global window), DCG terms rounded 6dp before decimal sums.
    "ndcg_eval" -> ((s, dir) => {
      val scored = bm25Scored(docs(s, dir)).localCheckpoint(false)
      val top = scored.orderBy(desc("bm25"), col("doc_id")).limit(NdcgK)
        .localCheckpoint(false) // both sides of the rank self-join
      val ideal = scored.select("doc_id", "n_terms")
        .orderBy(desc("n_terms"), col("doc_id")).limit(NdcgK)
        .localCheckpoint(false)
      def dcgv(tp: DataFrame, ord: org.apache.spark.sql.Column): DataFrame =
        tp.as("x").join(tp.as("y"), ord, "left")
          .groupBy(col("x.doc_id").as("doc_id"), col("x.n_terms").as("rel"))
          .agg((count(col("y.doc_id")) + 1).as("r"))
          .agg(sum(roundHU(col("rel") / log2(col("r") + 1), 1e6)
            .cast(DecimalType(18, 6))).cast("double").as("v"))
      val d = dcgv(top, col("y.bm25") > col("x.bm25") ||
        (col("y.bm25") === col("x.bm25") && col("y.doc_id") < col("x.doc_id")))
      val i = dcgv(ideal, col("y.n_terms") > col("x.n_terms") ||
        (col("y.n_terms") === col("x.n_terms") && col("y.doc_id") < col("x.doc_id")))
      d.select(col("v").as("dcg")).crossJoin(i.select(col("v").as("idcg")))
        .select(lit(NdcgK.toLong).as("k"), col("dcg"), col("idcg"),
          roundHU(col("dcg") / col("idcg"), 1e6).as("ndcg"))
    }),

    // L102 — Count-Min sketch heavy hitters: depth-4 x width-512
    // counters over the token stream (buckets from the shared token
    // hash re-hashed by the first 4 MinHash param pairs — one source of
    // truth on both engines), then the top-20 exact tokens read their
    // CMS estimate as min-over-rows. The counter table is 2048 cells
    // regardless of corpus size — the whole point at 100 TB — and the
    // estimate >= exact invariant is spec-asserted. The exact counts
    // exist here only to exhibit the estimate side by side; a pure
    // sketch deployment drops that vocabulary-sized aggregate.
    "cms_heavy_hitters" -> ((s, dir) => {
      val width = 512L
      val params = TextOps.MinhashParams.take(4)
      val toks = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .withColumn("th", TextOps.tokenHash(col("token")))
      def bucket(th: org.apache.spark.sql.Column, a: Long, b: Long) =
        ((th * a + b) % TextOps.MinhashP) % width
      val counters = toks.select(explode(array(
        params.zipWithIndex.map { case ((a, b), i) =>
          struct(lit(i).as("d"), bucket(col("th"), a, b).as("bk"))
        }: _*)).as("cell"))
        .groupBy(col("cell.d").as("d"), col("cell.bk").as("bk"))
        .agg(count(lit(1)).as("cnt"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("token")).limit(20)
        .withColumn("th", TextOps.tokenHash(col("token")))
      top.select(col("token"), col("exact_cnt"), explode(array(
          params.zipWithIndex.map { case ((a, b), i) =>
            struct(lit(i).as("d"), bucket(col("th"), a, b).as("bk"))
          }: _*)).as("cell"))
        .select(col("token"), col("exact_cnt"),
          col("cell.d").as("d"), col("cell.bk").as("bk"))
        .join(counters, Seq("d", "bk"))
        .groupBy("token", "exact_cnt")
        .agg(min("cnt").as("cms_est"))
        .orderBy(desc("exact_cnt"), col("token"))
    }),

    // L109 — per-source dedup-rate report: documents vs distinct
    // normalized texts per source, with the duplicate fraction — the
    // source-quality table curation reads before assigning mixture
    // weights (a source that is 40% self-copies gets down-weighted or
    // re-crawled). Normalization is the dedup_keep_best key; one
    // grouped aggregate with a distinct count (HLL-swappable at the
    // corpus_stats tier), rate rounded via the bit-deterministic form.
    "dedup_rate_by_source" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      docs(s, dir).withColumn("norm", norm)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("norm")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          roundHU(lit(1.0) - col("n_unique") / col("n_docs"), 1e6).as("dup_rate"))
        .orderBy("source")
    }),

    // L103 — pairwise KL divergence between per-source unigram
    // distributions over the top-200 corpus tokens (add-one smoothing),
    // the source-similarity diagnostic that actually measures
    // DISTRIBUTION shift, not just vocabulary overlap (source_similarity)
    // or diversity (source_entropy). Truncating to a top-K vocabulary is
    // the standard practice that also bounds the grid: sources x 200
    // cells, so every join after the one vocabulary-keyed count is
    // key-sized. Per-cell terms round to 6dp before the decimal sum
    // (ln parity), and smoothing keeps every cell nonzero so no
    // log-of-zero asymmetry exists to diverge on.
    "source_kl_divergence" -> ((s, dir) => {
      val v = 200
      val st = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // reused: vocab rollup + the grid join
      val vocab = st.groupBy("token").agg(sum("c").as("ctf"))
        .orderBy(desc("ctf"), col("token")).limit(v).select("token")
      // smooth by the REALIZED vocab size, not the top-K cap: when the
      // corpus vocabulary is smaller than K the distributions must still
      // sum to 1 over the grid, or Gibbs' inequality (KL >= 0) breaks
      val vsize = broadcast(vocab.agg(count(lit(1)).as("vsize")))
      val grid = docs(s, dir).select("source").distinct()
        .crossJoin(broadcast(vocab))
      val cells = grid.join(st, Seq("source", "token"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val tot = cells.groupBy("source").agg(sum("c").as("n"))
      val p = cells.join(tot, "source").crossJoin(vsize)
        .select(col("source"), col("token"),
          ((col("c") + 1.0) / (col("n") + col("vsize"))).as("p"))
        .localCheckpoint(false) // reused: both sides of the pair join
      p.as("a").join(p.as("b"), Seq("token"))
        .filter(col("a.source") =!= col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          roundHU(col("a.p") * log(col("a.p") / col("b.p")), 1e6).as("term"))
        .groupBy("src_a", "src_b")
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("kl"))
        .orderBy("src_a", "src_b")
    }),

    // L188 — the published C4 cleaning rules (Raffel et al. 2020, §2.2)
    // as explicit per-rule verdicts — the companion of gopher_rules from
    // the other canonical cleanup stack: (1) retain only lines ending in
    // terminal punctuation (. ! ? ") that carry >= 5 words; (2) drop
    // pages with < 3 sentences (counted as terminal . ! ? marks within
    // the RETAINED lines — stated convention, deterministic); (3) drop
    // pages containing "lorem ipsum" (case-folded); (4) drop pages
    // containing a curly brace. (The paper's two remaining rules — the
    // external bad-words list and three-sentence-span dedup — are a
    // fixture dependency and a separate operator family here:
    // line_dedup / dup_ngram_chars.) Pure per-row HOF expressions, one
    // scan pass at any SF.
    "c4_rules" -> ((s, dir) => c4Frame(s, dir).orderBy("doc_id")),

    // L189 — data-constrained scaling planner (Muennighoff et al.,
    // "Scaling Data-Constrained Language Models", NeurIPS 2023): when a
    // token budget exceeds the unique corpus, repeated epochs decay in
    // value — effective data D' = U · (1 + R*·(1 − e^(−R/R*))) with
    // repeat half-value constant R* = 15.4 (the paper's fit) and R =
    // epochs − 1 repeats. Per (epoch budget ∈ {1,2,4,8}, source):
    // unique tokens, effective tokens, and the efficiency ratio
    // effective/consumed — the table that says which sources are worth
    // re-epoching before buying more data. One token-count aggregate
    // per source, then pure per-row scalar math (each output row
    // independent — no cross-row double summation to stabilize; e^x via
    // the engines' shared libm, the bigram_logprob ln precedent).
    "repeat_budget_plan" -> ((s, dir) => {
      val rStar = 15.4
      val u = docs(s, dir)
        .groupBy("source")
        .agg(sum(size(tokens(col("text"))).cast("long")).as("u_tokens"))
      u.withColumn("epochs", explode(array(lit(1), lit(2), lit(4), lit(8))))
        .select(col("epochs").cast("long").as("epochs"), col("source"),
          col("u_tokens"),
          roundHU(col("u_tokens") *
            (lit(1.0) + lit(rStar) *
              (lit(1.0) - exp((lit(1) - col("epochs")).cast("double") / rStar))),
            1e6).as("effective_tokens"))
        .withColumn("efficiency",
          roundHU(col("effective_tokens") / (col("u_tokens") * col("epochs")), 1e6))
        .orderBy("epochs", "source")
    }),

    // L150 — the published Gopher quality-rule set (Rae et al. 2021,
    // Table A1) as explicit per-rule verdicts: word-count window, mean
    // word length 3-10, symbol-to-word ratio (# and ...) <= 0.1, bullet-
    // start and ellipsis-end line fractions, >= 80% words alphabetic,
    // >= 2 stop word occurrences. Distinct from quality_score (an
    // in-house composite): this is the reference filter stack a corpus
    // report cites rule-by-rule. Pure per-row map expressions — a single
    // scan pass at any corpus size; thresholds compare the 6dp-rounded
    // values so the keep bit is engine-stable. Divisions are guarded for
    // the empty-token case (ANSI division errors, and the word-count
    // rule already fails such docs).
    "gopher_rules" -> ((s, dir) => gopherFrame(s, dir).orderBy("doc_id")),

    // L193/L194 — quality-filter agreement: Cohen's κ and McNemar's
    // test between the c4_rules and gopher_rules keep verdicts on the
    // SAME docs — the inter-annotator-agreement pair every multi-filter
    // curation stack needs: κ says how much the two filters agree
    // beyond chance (near-0 = they encode different notions of
    // quality, so stacking them compounds); McNemar's χ² =
    // (n10−n01)²/(n10+n01) says whether their DISAGREEMENTS are
    // asymmetric (one filter systematically stricter). Shape: the two
    // per-doc rule frames (shared with the rule queries — same
    // expressions, zero drift) join on doc_id and reduce to one 2×2
    // row; everything after is closed-form algebra on exact longs.
    "cohens_kappa" -> ((s, dir) => {
      val m = filterAgreement(s, dir)
      val nD = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nD
      val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .cast("double") / (nD * nD)
      m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        roundHU((po - pe) / (lit(1.0) - pe), 1e6).as("kappa"))
    }),

    "mcnemar_test" -> ((s, dir) => {
      val m = filterAgreement(s, dir)
      m.select(col("n10"), col("n01"),
        when(col("n10") + col("n01") > 0,
          roundHU((col("n10") - col("n01")).cast("double") *
            (col("n10") - col("n01")) / (col("n10") + col("n01")), 1e6))
          .as("chi2"))
    }),

    // L151 — first BPE merge step: corpus-wide adjacent character-pair
    // frequencies inside whitespace words, top 20 (count desc, pair asc —
    // a deterministic limit). The inner loop of byte-pair-encoding
    // tokenizer training; one explode chain feeding a pair-keyed hash
    // aggregate (map-side combinable) and a TakeOrdered top-k — no
    // all-pairs, no window, no driver state beyond 20 rows.
    "bpe_pair_counts" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(20)
    }),

    // L151b — BPE merge application: bpe_pair_counts computes ONE merge
    // step's statistics; this runs the actual tokenizer-training inner
    // loop — BpeMerges greedy steps, each counting adjacent symbol-pair
    // frequencies corpus-wide, picking the top pair (count desc, pair
    // asc — one deterministic winner per step on both engines) and
    // rewriting every word — then reports, per step, the learned pair,
    // its pre-merge frequency, and the corpus token count after merges
    // 1..step. The merge table is O(K) driver state by construction
    // (the IVF-codebook contract; ConstructionJobsAllowlist): each
    // learning step is one distributed pair-count aggregate + a top-1
    // TakeOrdered collect. Words ride as marker-delimited symbol
    // strings (\u0002 sym \u0003 \u0002 sym \u0003 ...): applying a merge is
    // then ONE all-occurrence left-to-right replace() — identical
    // string semantics in Spark and DuckDB — and the markers make
    // symbol boundaries unambiguous (a pattern can never match inside
    // or across a symbol: \u0002 occurs only at symbol starts, \u0003
    // only at ends). The final per-step token counts come from a
    // SINGLE distributed pass (K running-rewrite sum columns in one
    // aggregate over the checkpointed encoding).
    "bpe_apply" -> ((s, dir) => {
      val S = "\u0002"; val E = "\u0003"
      def syms(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        split(regexp_replace(c, s"^$S|$E$$", ""), s"$E$S")
      def applyMerge(c: org.apache.spark.sql.Column, a: String,
                     b: String): org.apache.spark.sql.Column =
        replace(c, lit(S + a + E + S + b + E), lit(S + a + b + E))
      // aggregate to the (distinct word, frequency) table FIRST — what
      // every real BPE trainer does: merge statistics depend only on
      // the word-frequency dict, so all per-step work runs over the
      // VOCABULARY (31 rows on this corpus) with pair counts weighted
      // by wc, never over the corpus word instances (270k at sf0.1 —
      // the unweighted form re-scanned them per learning step and
      // benched 8.8s; this shape is bounded by |vocab| at any SF)
      val enc0 = docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(regexp_replace(col("w"), "(.)", s"$S$$1$E").as("enc"), col("wc"))
        .localCheckpoint(false) // learning loop + final stats pass reuse it
      // greedy learning: K bounded driver-side top-1 picks (never
      // corpus-sized driver state). Step k re-applies merges 1..k-1 as
      // a LAZY chain of replaces over the one cached encoding — K(K-1)/2
      // cheap per-row string rewrites total — instead of materializing a
      // new 100%-of-corpus checkpoint per step (measured: the per-step
      // checkpoints dominated the whole query's wall-clock)
      var chain0: org.apache.spark.sql.Column = col("enc")
      val learned = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to BpeMerges) {
        val top = enc0.select(col("wc"),
            explode(TextOps.bindOnce(syms(chain0), sy =>
            zip_with(
              slice(sy, lit(1), size(sy) - 1),
              slice(sy, lit(2), size(sy) - 1),
              (a, b) => struct(a.as("a"), b.as("b"))))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wc")).as("cnt"))
          .orderBy(desc("cnt"), col("a"), col("b"))
          .limit(1).collect()
        require(top.nonEmpty,
          "bpe_apply: corpus has no adjacent symbol pairs left to merge")
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val cnt = top(0).getLong(2)
        learned += ((a, b, cnt))
        chain0 = applyMerge(chain0, a, b)
      }
      val ms = learned.result()
      // per-step corpus token counts in ONE distributed aggregate: the
      // k-th sum column rewrites through merges 1..k (K(K+1)/2 cheap
      // per-row replaces total, no extra shuffle or pass per step)
      var chain: org.apache.spark.sql.Column = col("enc")
      val tokSums = ms.zipWithIndex.map { case ((a, b, _), k) =>
        chain = applyMerge(chain, a, b)
        sum(size(syms(chain)).cast("long") * col("wc")).as(s"t${k + 1}")
      }
      val totals = enc0.agg(sum(col("wc")).as("n_words"), tokSums: _*)
      val metaArr = array(ms.zipWithIndex.map { case ((a, b, cnt), k) =>
        struct(lit((k + 1).toLong).as("step"), lit(a).as("pair_left"),
          lit(b).as("pair_right"), lit(cnt).as("pair_cnt"))
      }: _*)
      val tokOfStep = coalesce((1 to ms.size).map(k =>
        when(col("m.step") === k, col(s"t$k"))): _*)
      totals.select(Seq(explode(metaArr).as("m"), col("n_words")) ++
          (1 to ms.size).map(k => col(s"t$k")): _*)
        .select(col("m.step").as("step"),
          col("m.pair_left").as("pair_left"),
          col("m.pair_right").as("pair_right"),
          col("m.pair_cnt").as("pair_cnt"),
          tokOfStep.as("corpus_tokens"),
          roundHU(tokOfStep.cast("double") / col("n_words"), 1e6)
            .as("tokens_per_word"))
        .orderBy("step")
    }),

    // L152 — concat-and-chunk packing fragmentation: when the corpus is
    // concatenated in doc_id order and cut into fixed ctx_len sequences
    // (the GPT-style packing that wastes no padding), how many docs get
    // split across a sequence boundary, how many fragments a doc averages,
    // and what the tail chunk wastes — per candidate context length. The
    // doc's global start offset comes from the two-phase exclusivePrefix
    // (no data-sized single-task window); fragments are pure integer/
    // floor arithmetic per row, then one ctx_len-keyed rollup.
    "packing_fragmentation" -> ((s, dir) => {
      val perDoc = docs(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val withStart = CoreQueries.exclusivePrefix(perDoc, "doc_id", Seq("n_tok"))
      val ctx = withStart
        .withColumn("ctx_len", explode(array(lit(256L), lit(512L), lit(1024L))))
      val frags = when(col("n_tok") > 0,
        (floor((col("cum_n_tok") + col("n_tok") - 1).cast("double") / col("ctx_len")) -
          floor(col("cum_n_tok").cast("double") / col("ctx_len")) + 1).cast("long"))
        .otherwise(0L)
      ctx.withColumn("frags", frags)
        .groupBy("ctx_len")
        .agg(
          sum("n_tok").as("tot_tok"),
          count(lit(1)).as("n_docs"),
          sum(when(col("frags") >= 2, 1L).otherwise(0L)).as("n_docs_split"),
          sum("frags").as("tot_frags"))
        .select(
          col("ctx_len"),
          floor((col("tot_tok") + col("ctx_len") - 1).cast("double") / col("ctx_len"))
            .cast("long").as("n_chunks"),
          col("n_docs_split"),
          roundHU(col("n_docs_split").cast("double") / col("n_docs"), 1e6)
            .as("frac_docs_split"),
          roundHU(col("tot_frags").cast("double") / col("n_docs"), 1e6)
            .as("avg_fragments"),
          (floor((col("tot_tok") + col("ctx_len") - 1).cast("double") / col("ctx_len"))
            .cast("long") * col("ctx_len") - col("tot_tok")).as("tail_waste"))
        .orderBy("ctx_len")
    }),

    // L153 — tokenizer fertility per (source, lang): tokens per doc and
    // characters per token under the whitespace tokenizer — the
    // compression-rate table a tokenizer/corpus pairing is judged by
    // (fertility shifts across languages and sources are exactly what
    // this surfaces). Per-row token stats, one (source, lang)-keyed
    // partial agg; long sums, 6dp-rounded double ratios.
    "token_fertility" -> ((s, dir) => {
      val ts = tokens(col("text"))
      docs(s, dir).select(col("source"), col("lang"),
        size(ts).cast("long").as("n_tok"),
        aggregate(ts, lit(0L), (a, t) => a + length(t)).as("n_tokchars"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("tot_tok"),
          sum("n_tokchars").as("tot_chars"))
        .select(col("source"), col("lang"), col("n_docs"),
          roundHU(col("tot_tok").cast("double") / col("n_docs"), 1e6)
            .as("tokens_per_doc"),
          when(col("tot_tok") > 0,
            roundHU(col("tot_chars").cast("double") / col("tot_tok"), 1e6))
            .as("chars_per_token"))
        .orderBy("source", "lang")
    }),

    // L154 — per-dimension embedding mean/variance: the dead-dimension
    // and scale-imbalance audit run before quantization (embedding_quantize
    // assumes per-dim ranges are live) or any metric index build. One
    // posexplode + dim-keyed partial agg; sums routed through
    // decimal(38,7) so shuffle merge order cannot perturb the doubles
    // (the label_centroids contract), variance via E[x²]−E[x]² on the
    // exact sums, 6dp-rounded.
    "dimension_variance" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(posexplode(Similarity.toDouble(col("embedding"))))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          sum(col("col").cast("decimal(38,7)")).cast("double").as("s1"),
          sum((col("col") * col("col")).cast("decimal(38,7)")).cast("double").as("s2"))
        .select(col("pos").cast("long").as("pos"), col("n"),
          roundHU(col("s1") / col("n"), 1e6).as("mean"),
          roundHU(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")),
            1e6).as("variance"))
        .orderBy("pos")
    }),

    // L189 — embedding-space isotropy score (Ethayarajh 2019 / Mu &
    // Viswanath 2018): anisotropy ≈ ‖μ‖²/E‖x‖², the expected cosine
    // between random vectors — near 0 for a well-spread space, near 1
    // when all vectors crowd one cone (the degenerate geometry that
    // breaks cosine-based dedup/ANN; the space-level companion to
    // dimension_variance's per-axis view). ONE posexplode pass into
    // dim-keyed moments (decimal-exact), then closed-form algebra on the
    // dim-sized table: ‖μ‖² sums 6dp-rounded μ_d² terms through decimal.
    // Nothing after the first aggregate scales with SF.
    "isotropy_score" -> ((s, dir) => {
      val mu = col("s1") / col("n")
      t(s, dir, "embeddings")
        .select(posexplode(Similarity.toDouble(col("embedding"))))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          sum(col("col").cast("decimal(38,7)")).cast("double").as("s1"),
          sum((col("col") * col("col")).cast("decimal(38,7)")).cast("double").as("s2"))
        .select(col("n"),
          roundHU(mu * mu, 1e8).cast("decimal(18,8)").as("musq_t"),
          col("s2").cast("decimal(38,7)").as("s2d"))
        .groupBy("n")
        .agg(count(lit(1)).as("dim"),
          sum("musq_t").cast("double").as("musq"),
          sum("s2d").cast("double").as("sumsq"))
        .select(col("n").as("n_vecs"), col("dim"),
          roundHU(col("musq"), 1e6).as("mean_norm_sq"),
          roundHU(col("sumsq") / col("n"), 1e6).as("avg_sq_norm"),
          roundHU(col("musq") / (col("sumsq") / col("n")), 1e6)
            .as("anisotropy"))
    }),

    // L175 — longest repeated n-gram sweep: per doc, the largest
    // n ∈ {4, 8, 16, 32} at which some word n-gram occurs >= 2 times
    // (0 = no repeat even at n=4) — the verbatim-repeat depth gauge
    // separating phrase-level echo (4) from template/boilerplate blocks
    // (16, 32), the signal the Gopher dup-n-gram fractions compress
    // away. A within-doc repeat exists iff size(grams) >
    // size(distinct(grams)), so the whole sweep is ONE per-row map over
    // the bindOnce-bound TOKEN-HASH array — gram identity is the
    // polynomial combination of token hashes (pure long arithmetic; the
    // string-gram form spent its time concatenating 190-char 32-grams).
    // Hash collisions are identical on both engines by construction
    // (same integers), and at ~50 grams/doc against a 2³¹ modulus the
    // false-repeat odds are ~1e-6 per doc. No explode, no shuffle —
    // the doc-bounded distributed alternative to a suffix array.
    "max_rep_ngram" -> ((s, dir) => {
      def hashGrams(hs: org.apache.spark.sql.Column, n: Int) =
        (1 until n).foldLeft(
          slice(hs, lit(1), greatest(size(hs) - (n - 1), lit(0)))) { (acc, i) =>
          zip_with(acc,
            slice(hs, lit(1 + i), greatest(size(hs) - (n - 1), lit(0))),
            (a, b) => (a * lit(RepHashMult) + b) % lit(RepHashMod))
        }
      val maxRep = TextOps.bindOnce(
        transform(tokens(col("text")), tokenHash(_)), { hs =>
          def hasRep(n: Int) = {
            val g = hashGrams(hs, n)
            size(g) > size(array_distinct(g))
          }
          // a repeated n-gram implies a repeated 4-gram, so the cheap
          // 4-gram check gates the deep builds (CaseWhen short-circuits
          // per row; most docs exit here). The oracle mirrors the gate
          // so hash-collision corner cases resolve identically.
          when(!hasRep(4), 0L)
            .otherwise(when(hasRep(32), 32L).when(hasRep(16), 16L)
              .when(hasRep(8), 8L).otherwise(4L))
        })
      docs(s, dir).select(col("doc_id"), maxRep.as("max_rep_n"))
        .orderBy("doc_id")
    }),

    // L172 — windowed co-occurrence PMI (±4 tokens, the word2vec/GloVe
    // context matrix): unordered token pairs co-occurring within the
    // window, count >= 5, ranked by ln(p(ab)/(p(a)p(b))) — the
    // collocation table pmi_collocations restricted to adjacency cannot
    // see. Position join is (doc_id, pos+d)-keyed (the offset explode
    // keeps it an equi-join — no range/theta join at corpus scale);
    // pair-keyed aggregate, vocabulary joins unhinted, deterministic
    // top-30.
    "window_pmi" -> ((s, dir) => {
      val W = 4
      val tp = docs(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "w")))
        .localCheckpoint(false) // feeds both join sides, unigrams, totals
      val ctx = tp
        .withColumn("d", explode(sequence(lit(1), lit(W))))
        .withColumn("p2", col("p") + col("d"))
        .join(tp.select(col("doc_id"), col("p").as("p2"), col("w").as("w2")),
          Seq("doc_id", "p2"))
        .select(least(col("w"), col("w2")).as("wa"),
          greatest(col("w"), col("w2")).as("wb"))
      val pc = ctx.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = tp.groupBy("w").agg(count(lit(1)).as("c"))
      val nUni = broadcast(uni.agg(sum("c").as("n_uni")))
      // pair total is analytic — Σ_doc Σ_{d=1..W} max(0, n_tok − d) —
      // so the explode+join pipeline runs exactly once (for pc)
      val nPairs = broadcast(docs(s, dir)
        .select(size(tokens(col("text"))).cast("long").as("n"))
        .select((1 to W).map(dd => greatest(col("n") - dd, lit(0L)))
          .reduce(_ + _).as("np"))
        .agg(sum("np").as("n_pairs")))
      pc.join(uni.select(col("w").as("wa"), col("c").as("c_a")), "wa")
        .join(uni.select(col("w").as("wb"), col("c").as("c_b")), "wb")
        .crossJoin(nUni).crossJoin(nPairs)
        .select(col("wa"), col("wb"), col("c_ab"),
          roundHU(log((col("c_ab").cast("double") / col("n_pairs")) /
            ((col("c_a").cast("double") / col("n_uni")) *
              (col("c_b").cast("double") / col("n_uni")))), 1e6).as("pmi"))
        .orderBy(desc("pmi"), col("wa"), col("wb"))
        .limit(30)
    }),

    // L292 — TextRank keyword extraction (Mihalcea & Tarau 2004): the
    // weighted PageRank rounds run over the ±2-window token
    // co-occurrence graph instead of the co-purchase graph — the
    // graph-centrality keyword ranker next to RAKE's degree heuristic
    // (RAKE scores in one pass; TextRank lets importance FLOW — a word
    // co-occurring with important words outranks one with the same raw
    // degree). Same scale shape as pagerank: the offset-explode
    // equi-join builds the edge list linearly (window_pmi's pattern),
    // rounds are node-sized rank÷out-weight joins + one streamed pass
    // over the edge list with decimal-exact contribution sums.
    "textrank_keywords" -> ((s, dir) => {
      val W = 2
      val tp = docs(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "w")))
        .localCheckpoint(false) // both co-occurrence join sides
      val ctx = tp
        .withColumn("d", explode(sequence(lit(1), lit(W))))
        .withColumn("p2", col("p") + col("d"))
        .join(tp.select(col("doc_id"), col("p").as("p2"), col("w").as("w2")),
          Seq("doc_id", "p2"))
        .filter(col("w") =!= col("w2"))
      val e = ctx.select(col("w").as("src"), col("w2").as("dst"))
        .unionAll(ctx.select(col("w2").as("src"), col("w").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("wt"))
        .localCheckpoint(false) // reused every round
      val wsum = e.groupBy(col("src").as("id")).agg(sum("wt").as("wsum"))
        .localCheckpoint(false)
      val n = broadcast(wsum.agg(count(lit(1)).as("n_nodes")))
      var r = wsum.select(col("id")).crossJoin(n)
        .select(col("id"), (lit(1.0) / col("n_nodes")).as("r"))
      for (_ <- 1 to TextRankIters) {
        val rw = r.join(wsum, "id")
          .select(col("id").as("src"), (col("r") / col("wsum")).as("rw"))
        r = e.join(rw, "src")
          .select(col("dst").as("id"),
            (col("rw") * col("wt")).cast(DecimalType(28, 18)).as("c"))
          .groupBy("id").agg(sum("c").cast("double").as("in_rank"))
          .crossJoin(n)
          .select(col("id"),
            (lit(0.15) / col("n_nodes") + lit(0.85) * col("in_rank")).as("r"))
      }
      r.select(col("id").as("token"), r8(col("r")).as("textrank"))
        .orderBy(desc("textrank"), col("token")).limit(20)
    }),

    // L173 — shard balance report: per-source shard count, max and mean
    // token mass and the max/mean imbalance under token_shards' budget
    // windows — the straggler predictor read before launching a
    // training job over the shards (an imbalance of 2 means the slowest
    // reader runs 2× the mean). Same per-source cumsum as token_shards,
    // then source-keyed rollups only.
    "shard_balance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 2000L
      val mass = docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum", sum("n_tok").over(
          Window.partitionBy("source").orderBy("doc_id")))
        .withColumn("shard_id", floor((col("cum") - col("n_tok")) / budget))
        .groupBy("source", "shard_id").agg(sum("n_tok").as("mass"))
      mass.groupBy("source")
        .agg(count(lit(1)).as("n_shards"),
          sum("mass").as("tot"),
          max("mass").as("max_mass"))
        .select(col("source"), col("n_shards"), col("max_mass"),
          roundHU(col("tot").cast("double") / col("n_shards"), 1e6)
            .as("mean_mass"),
          roundHU(col("max_mass").cast("double") /
            (col("tot").cast("double") / col("n_shards")), 1e6).as("imbalance"))
        .orderBy("source")
    }),

    // L174 — curation funnel: document counts surviving each stage of
    // the corpus_curation pipeline (repetition → quality → exact dedup →
    // near dedup) with retention vs the raw corpus — the audit report
    // every cleaning run ships (a stage suddenly eating 40% of a source
    // is how filter bugs and corpus shifts get caught). Reuses the
    // exact stage plumbing of corpus_curation; counts are five 1-row
    // aggregates unioned, so the funnel costs one extra pass over the
    // (checkpointed) stage frames, not five pipelines.
    "curation_funnel" -> ((s, dir) => {
      val d = docs(s, dir)
      // s1 checkpointed too: it feeds its own stage count AND s2's
      // build — without it the repetition explode pass replays
      val s1 = d.join(repetitionFrame(d).select("doc_id", "keep"), Seq("doc_id"))
        .filter(col("keep")).drop("keep").localCheckpoint(false)
      val s2 = s1.filter(qualityScore >= 2).localCheckpoint(false)
      val s3 = s2.join(Dedup.exact(s2, Seq("text"), "doc_id").select("doc_id"),
        Seq("doc_id")).localCheckpoint(false)
      val losers = Dedup.blockNearDups(s3, "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      val s4 = s3.join(losers, Seq("doc_id"), "left_anti")
      def stage(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
            col("n_docs"))
      val tot = broadcast(d.agg(count(lit(1)).as("t")))
      stage(0, "all", d)
        .union(stage(1, "repetition", s1))
        .union(stage(2, "quality", s2))
        .union(stage(3, "exact_dedup", s3))
        .union(stage(4, "near_dedup", s4))
        .crossJoin(tot)
        .select(col("stage"), col("stage_name"), col("n_docs"),
          roundHU(col("n_docs").cast("double") / col("t"), 1e6).as("retention"))
        .orderBy("stage")
    }),

    // L170 — moving-average type-token ratio (MATTR, Covington &
    // McFall 2010): mean distinct-fraction over sliding 25-token
    // windows — the length-invariant lexical-diversity score (raw TTR
    // collapses as docs grow; quality_score's diversity rule is the
    // whole-doc form). Short docs take one window over everything;
    // empty docs stay null. Per-row HOF with the token array
    // bindOnce-bound (the winnowing lesson); per-window terms round to
    // 6dp micro-units and sum as INTEGERS, so the window fold is
    // order-proof across engines.
    "mattr" -> ((s, dir) => {
      val W = 25
      val stats = TextOps.bindOnce(tokens(col("text")), { ts =>
        val n = size(ts)
        val nw = greatest(n - (W - 1), lit(1))
        val terms = aggregate(sequence(lit(1), nw), lit(0L), (acc, j) => {
          val win = slice(ts, j, lit(W))
          acc + floor(size(array_distinct(win)).cast("double") / size(win) * 1e6
            + 0.5).cast("long")
        })
        when(n === 0, lit(null).cast("array<double>"))
          .otherwise(array(nw.cast("double"),
            floor(terms.cast("double") / 1e6 / nw * 1e6 + 0.5) / 1e6))
      })
      docs(s, dir).select(col("doc_id"), stats.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).cast("long").as("n_windows"),
          element_at(col("st"), 2).as("mattr"))
        .orderBy("doc_id")
    }),

    // L171 — mixture α sweep: the per-source sampling rates of
    // temperature_mixture at α ∈ {1/4, 1/2, 1} — the tuning curve a
    // mixture config is chosen from (α→0 flattens toward uniform,
    // α=1 is proportional). Every α here is a composition of IEEE
    // sqrt (x^(1/4) = √√x) or the identity, so the whole sweep stays
    // bit-deterministic where pow(x, 0.3) would not be; normalizers
    // decimal-routed per α.
    "mixture_alpha_sweep" -> ((s, dir) => {
      val perSrc = docs(s, dir)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(sum("n_tok").as("n_src"))
      val tot = broadcast(perSrc.agg(sum("n_src").as("n_total")))
      val powed = perSrc
        .withColumn("alpha", explode(array(lit(0.25), lit(0.5), lit(1.0))))
        .withColumn("pw",
          when(col("alpha") === 0.25, sqrt(sqrt(col("n_src"))))
            .when(col("alpha") === 0.5, sqrt(col("n_src")))
            .otherwise(col("n_src").cast("double")))
      val z = powed.groupBy("alpha")
        .agg(sum(col("pw").cast("decimal(38,7)")).cast("double").as("z"))
      powed.join(z, "alpha").crossJoin(tot)
        .select(col("alpha"), col("source"), col("n_src"),
          roundHU(least(lit(1.0),
            (floor(col("n_total") / 2).cast("double") * (col("pw") / col("z"))) /
              col("n_src")), 1e6).as("rate"))
        .orderBy("alpha", "source")
    }),

    // L168 — robust per-dimension embedding statistics: exact median,
    // IQR and outlier count under a MEDIAN-CENTERED 1.5·IQR band
    // (|x − med| > 1.5·IQR — deliberately symmetric, NOT the textbook
    // Tukey [q1−1.5·IQR, q3+1.5·IQR] fences) per
    // dimension — the moment-free companion of dimension_variance
    // (variance hides heavy tails; a dim with a tight IQR but fat
    // outlier count needs clipping before int8 quantization). Exact
    // type-7 interpolated percentiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont`, the median_mode parity), dim-keyed shuffles only.
    "embedding_robust_stats" -> ((s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(posexplode(Similarity.toDouble(col("embedding"))))
        .localCheckpoint(false) // feeds the percentile pass AND the fence count
      val stats = ex.groupBy("pos").agg(
        percentile(col("col"), lit(0.5)).as("med"),
        percentile(col("col"), lit(0.25)).as("q1"),
        percentile(col("col"), lit(0.75)).as("q3"))
      ex.join(stats, "pos")
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("m"), max(col("q3") - col("q1")).as("iqr"),
          sum(when(abs(col("col") - col("med")) > (col("q3") - col("q1")) * 1.5, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("pos").cast("long").as("pos"), col("n"),
          roundHU(col("m"), 1e6).as("median"),
          roundHU(col("iqr"), 1e6).as("iqr"),
          col("n_outliers"))
        .orderBy("pos")
    }),

    // L169 — dedup survivorship shift: per-source token share BEFORE vs
    // AFTER near-dedup (jaccard >= 0.5, lowest-id-survivor loser rule) —
    // which sources lose mass to dedup, i.e. how the realized mixture
    // drifts from the planned one after cleaning (a templated source
    // can silently shrink 10× and starve its mixture slot). One block
    // join for the losers, source-keyed rollups, broadcast 1-row totals.
    "dedup_survivorship_shift" -> ((s, dir) => {
      val d = docs(s, dir)
      val losers = Dedup.blockNearDups(d, "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      val st = d.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint(false) // feeds pre rollup, kept rollup, and totals
      val kept = st.join(losers, Seq("doc_id"), "left_anti")
      val tot = broadcast(st.agg(sum("n_tok").as("t_all")))
      val totK = broadcast(kept.agg(sum("n_tok").as("t_kept")))
      val pre = st.groupBy("source").agg(sum("n_tok").as("tok_pre"))
      val post = kept.groupBy("source").agg(sum("n_tok").as("tok_post"))
      pre.join(post, Seq("source"), "left")
        .na.fill(0L, Seq("tok_post"))
        .crossJoin(tot).crossJoin(totK)
        .select(col("source"), col("tok_pre"), col("tok_post"),
          roundHU(col("tok_pre").cast("double") / col("t_all"), 1e6)
            .as("share_pre"),
          roundHU(col("tok_post").cast("double") / col("t_kept"), 1e6)
            .as("share_post"),
          roundHU(col("tok_post").cast("double") / col("t_kept") -
            col("tok_pre").cast("double") / col("t_all"), 1e6).as("shift"))
        .orderBy("source")
    }),

    // L165 — Johnson–Lindenstrauss random projection (Achlioptas 2003,
    // database-friendly ±1 signs): project the 64-d embeddings to 16
    // dims with a HASH-DERIVED sign matrix — no materialized matrix, no
    // driver state, the projection a 100 TB pipeline applies as a map
    // (sign(i,j) recomputed per cell from integers). The sign hash is
    // multiplicative-mod (NOT plain parity of an odd-multiplier product,
    // which degenerates to a checkerboard ⇒ rank-2 projection);
    // per-(vec, dim) sums are decimal-routed so merge order cannot
    // perturb, and /√16 = /4 is exact.
    // A/B'd and rejected (r13): a per-row exact-decimal HOF fold (16
    // aggregate() sums per row, no explode/exchange — decimal staged at
    // (34,18)+(28,18) so no precision-loss rounding can fire) measured
    // 2.36 → 3.12 s min-of-3: ArrayAggregate is CodegenFallback, so the
    // 2M interpreted decimal steps run serially in the one scan task,
    // losing to the codegen'd explode + partially-aggregated shuffle
    // (which moves only vecs×16 rows, not the exploded 2M).
    // r13 second pass (guide §2.4 "do fewer shuffles"): the same
    // per-row fold in a TYPED map — compiled JVM BigDecimal, not the
    // interpreted ArrayAggregate that killed the HOF attempt — removes
    // the vecs×dims×16 explode and its 2M-row exchange outright; the
    // only remaining exchange is the output sort. Arithmetic is
    // replicated addend for addend: ±x exact (sign·double multiply is
    // exact), BigDecimal.valueOf (the shortest-repr conversion Spark's
    // double→decimal cast uses) + setScale(18, HALF_UP) = the
    // decimal(38,18) cast, exact fixed-scale addition in both engines,
    // same Decimal(38,18) → double → /4 → round tail. Null/empty
    // embeddings emit no rows, exactly like the explode.
    "jl_projection" -> ((s, dir) => {
      import s.implicits._
      val k = 16
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("e"))
        .as[(Long, Seq[Double])]
        .mapPartitions(_.flatMap { case (id, e) =>
          if (e == null || e.isEmpty) Iterator.empty
          else {
            val arr = e.toArray
            (0 until k).iterator.map { j =>
              var acc = java.math.BigDecimal.ZERO
              var pos = 0
              while (pos < arr.length) {
                val sgn =
                  if ((pos * 16 + j + 1) * 2654435761L % 1000003 % 2 == 0) 1.0
                  else -1.0
                acc = acc.add(java.math.BigDecimal.valueOf(sgn * arr(pos))
                  .setScale(18, java.math.RoundingMode.HALF_UP))
                pos += 1
              }
              (id, j.toLong, acc)
            }
          }
        })
        .toDF("vec_id", "dim", "sdec")
        .select(col("vec_id"), col("dim"),
          roundHU(col("sdec").cast("double") / math.sqrt(k), 1e6).as("v"))
        .orderBy("vec_id", "dim")
    }),

    // L166 — matrix-free top principal component by power iteration:
    // two rounds of v ← X'X v over the embedding corpus with X never
    // materialized — per round one vec-keyed dot shuffle and one
    // dim-keyed sum shuffle (64 rows), the ONLY shapes that exist at
    // 100 TB (the covariance matrix and the data both stay distributed;
    // driver holds nothing — v itself is a 64-row frame end to end).
    // Deterministic: seed = the min-vec_id embedding normalized; every
    // reduction (dots, component sums, norms) decimal-routed; output is
    // the 6dp loading vector plus the Rayleigh-quotient eigenvalue
    // estimate λ = v·(X'Xv)/n on the final iterate.
    "pca_power" -> ((s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(Similarity.toDouble(col("embedding"))))
        .withColumnRenamed("col", "x")
        .localCheckpoint(false)
      val n = broadcast(t(s, dir, "embeddings").agg(count(lit(1)).as("n_vecs")))
      def normalize(v: DataFrame): DataFrame = {
        val nrm = broadcast(v.agg(
          sum((col("v") * col("v")).cast("decimal(38,18)")).cast("double").as("s2")))
        v.crossJoin(nrm).select(col("pos"), (col("v") / sqrt(col("s2"))).as("v"))
      }
      val seedId = broadcast(ex.agg(min("vec_id").as("mid")))
      // r13: every iterate is lazily checkpointed. v and w are 64-row
      // frames consumed 2-3 times each (normalize reads its input twice,
      // the last w feeds normalize AND the eigenvalue join, each v feeds
      // the next round's dot join and finally the output) — without the
      // cuts the unrolled plan DOUBLES per normalize (the r13 plan-audit
      // sweep measured 140 Exchange lines / 24 scheduler jobs for the
      // 2-round chain; with them: one vec-keyed and one dim-keyed
      // exchange per round plus 64-row micro-aggregates). Same
      // arithmetic on the same addends — checkpointing only pins the
      // already-deterministic iterate values.
      val seed = ex.crossJoin(seedId)
        .filter(col("vec_id") === col("mid"))
        .select(col("pos"), col("x").as("v"))
        .localCheckpoint(false)
      var v = normalize(seed).localCheckpoint(false)
      var lastW: DataFrame = null
      for (_ <- 1 to 2) {
        val d = ex.join(v, "pos")
          .groupBy("vec_id")
          .agg(sum((col("x") * col("v")).cast("decimal(38,18)")).cast("double").as("d"))
        lastW = ex.join(d, "vec_id")
          .groupBy("pos")
          .agg(sum((col("d") * col("x")).cast("decimal(38,18)")).cast("double").as("v"))
          .localCheckpoint(false)
        v = normalize(lastW).localCheckpoint(false)
      }
      // λ = v·w on the final pair (v = w/‖w‖, so this is ‖w‖ = the
      // power-iteration eigenvalue estimate of X'X), scaled /n to the
      // per-vector variance the component explains
      val eig = broadcast(v.join(lastW.withColumnRenamed("v", "w"), "pos")
        .agg(sum((col("v") * col("w")).cast("decimal(38,18)")).cast("double").as("vw")))
      v.crossJoin(eig).crossJoin(n)
        .select(col("pos").cast("long").as("pos"),
          roundHU(col("v"), 1e6).as("loading"),
          roundHU(col("vw") / col("n_vecs"), 1e6).as("eigval"))
        .orderBy("pos")
    }),

    // L163 — token burstiness (Church & Gale 1995): variance-to-mean
    // ratio of per-doc counts for every token with df >= 10, top 30.
    // VMR ≈ 1 is Poisson background; VMR >> 1 marks bursty/topical
    // terms that concentrate in few docs — the adaptation signal behind
    // boilerplate-vs-topic separation and df-banded posting decisions.
    // Two vocabulary-keyed partial aggs (integer sums, so the doubles
    // derive deterministically), deterministic top-30.
    "token_burstiness" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = broadcast(d.agg(count(lit(1)).as("n_docs")))
      val tc = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      tc.groupBy("w")
        .agg(count(lit(1)).as("df"), sum("c").as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .filter(col("df") >= 10)
        .crossJoin(n)
        .select(col("w").as("token"), col("df"), col("s1").as("tf"),
          roundHU(((col("s2").cast("double") / col("n_docs")) -
            (col("s1").cast("double") / col("n_docs")) *
              (col("s1").cast("double") / col("n_docs"))) /
            (col("s1").cast("double") / col("n_docs")), 1e6).as("vmr"))
        .orderBy(desc("vmr"), col("token"))
        .limit(30)
    }),

    // L164 — dedup threshold sensitivity curve: pair count, docs dropped
    // (the lowest-id-survivor loser rule of near_dedup_keep) and drop
    // rate at jaccard thresholds {0.3, 0.5, 0.7, 0.9} — what the dedup
    // knob actually costs in corpus mass BEFORE a 100 TB run commits to
    // a setting (the volume sibling of lsh_tuning_curve's recall sweep).
    // ONE block-join pass at the loosest threshold serves all four
    // points (lazy-checkpointed); the per-threshold rollup is a 4-row
    // explode + aggregate. Thresholds with zero pairs keep their row.
    "dedup_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val ts = Seq(0.3, 0.5, 0.7, 0.9)
      val pairs = Dedup.blockNearDups(d, "doc_id", "text", threshold = ts.min)
        .localCheckpoint(false)
      val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
      val counts = pairs
        .withColumn("threshold", explode(array(ts.map(lit): _*)))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"))
      ts.toDF("threshold").join(counts, Seq("threshold"), "left")
        .na.fill(0L, Seq("n_pairs", "n_dropped"))
        .crossJoin(nDocs)
        .select(col("threshold"), col("n_pairs"), col("n_dropped"),
          roundHU(col("n_dropped").cast("double") / col("n_docs"), 1e6)
            .as("drop_rate"))
        .orderBy("threshold")
    }),

    // L160 — interpolated Kneser–Ney bigram surprisal (Kneser & Ney
    // 1995; Chen & Goodman 1999), absolute discount D = 0.75: per doc,
    // average −ln P_KN over its bigrams where P_KN(w2|w1) =
    // max(c(w1w2)−D,0)/c(w1·) + (D/c(w1·))·N1+(w1·)·N1+(·w2)/N1+(··).
    // The LM-quality scorer that fixes raw-count overconfidence on
    // frequent-but-unproductive histories ("san francisco" inflating
    // P(francisco|·)) — the standard corpus-filtering LM before neural
    // scorers. All count tables are vocabulary-keyed partial aggs; the
    // per-doc rollup routes 6dp-rounded terms through a decimal sum
    // (the bigram_logprob contract). D = 0.75 is dyadic, so decimal-
    // literal vs double intermediates agree bit-for-bit across engines.
    "kneser_ney_logprob" -> ((s, dir) => {
      val D = 0.75
      // lazy checkpoint: the exploded bigram scan feeds the bigram/
      // history counts AND the final scoring join — materialize once
      // (see corpus_curation)
      val bgs = docs(s, dir)
        .select(col("doc_id"), explode(bigrams(col("text"))).as("g"))
        .withColumn("w1", substring_index(col("g"), " ", 1))
        .withColumn("w2", substring_index(col("g"), " ", -1))
        .localCheckpoint(false)
      val cb = bgs.groupBy("g").agg(count(lit(1)).as("cb"))
      val types = cb.select(col("g"),
        substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
      val cw = bgs.groupBy("w1").agg(count(lit(1)).as("cw"))
      val fanout = types.groupBy("w1").agg(count(lit(1)).as("n1f"))
      val cont = types.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val nTypes = broadcast(cb.agg(count(lit(1)).as("n_types")))
      bgs.join(cb, "g").join(cw, "w1").join(fanout, "w1").join(cont, "w2")
        .crossJoin(nTypes)
        .withColumn("p",
          greatest(col("cb") - D, lit(0.0)) / col("cw") +
            (lit(D) / col("cw")) * col("n1f") *
              (col("n1b").cast("double") / col("n_types")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum(roundHU(-log(col("p")), 1e6).cast("decimal(18,6)")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          roundHU(col("ssum").cast("double") / col("n_bigrams"), 1e6)
            .as("kn_surprisal"))
        .orderBy("doc_id")
    }),

    // L161 — temperature-scaled mixture sampling (the multilingual
    // α-sampling of mT5/XLM-R, α = 0.5): per-source inclusion rates
    // r_i = min(1, B·p_i/n_i) with p_i ∝ √n_i and budget B = half the
    // corpus tokens — boosts tail sources a uniform target (the
    // mixture_rebalance planner) would leave starved, without letting
    // the head dominate. α is fixed at 1/2 because IEEE sqrt is
    // correctly rounded on every engine while pow(x, 0.3) is not — the
    // deterministic member of the α family. The √-mass normalizer is
    // decimal-routed (merge order), the per-doc gate is the shared
    // overflow-safe sampling hash against floor(rate·1e6).
    "temperature_mixture" -> ((s, dir) => {
      val st = docs(s, dir).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val perSrc = st.groupBy("source").agg(sum("n_tok").as("n_src"))
      val tot = broadcast(perSrc.agg(
        sum(sqrt(col("n_src")).cast("decimal(38,7)")).cast("double").as("z"),
        sum("n_src").as("n_total")))
      val rates = perSrc.crossJoin(tot)
        .select(col("source"), col("n_src"),
          least(lit(1.0),
            (floor(col("n_total") / 2).cast("double") *
              (sqrt(col("n_src")) / col("z"))) / col("n_src")).as("rate"))
      st.join(rates, "source")
        .withColumn("keep",
          sampleHash(col("doc_id"), 1000000L) < floor(col("rate") * 1e6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_sampled"),
          roundHU(max(col("rate")), 1e6).as("rate"))
        .orderBy("source")
    }),

    // L304 — UniMax language-budget allocation (Chung et al., "UniMax:
    // Fairer and More Effective Language Sampling for Large-Scale
    // Multilingual Pretraining", ICLR 2023): given per-language token
    // counts, a total training budget B (1.5x the corpus here — the
    // multi-epoch regime where caps BIND: every tail language caps at
    // E epochs and the head shares the remainder) and an epoch cap
    // E = 2, distribute B as uniformly as possible across
    // languages without repeating any language more than E epochs — the
    // published alternative to temperature sampling (temperature_mixture)
    // that removes the head-language bias knob entirely. The paper's
    // greedy loop is a waterfilling with a closed form: sort languages
    // by size ascending; the first j* get capped at E·n_i and the rest
    // share τ = (B − E·P_{j*})/(k − j*), where j* is the largest j with
    // E·n_j·(k−j+1) ≤ B − E·(P_j − n_j). Window prefix sums over a
    // language-cardinality frame (never fact-sized); deterministic
    // doubles, so fully oracled.
    "unimax_allocation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val E = 2.0
      val lt = docs(s, dir)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("lang").agg(sum("n_tok").as("n"))
      val w = Window.orderBy(col("n"), col("lang"))
      val ranked = lt.select(col("lang"), col("n"),
          row_number().over(w).as("rn"),
          sum("n").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("p"))
        .crossJoin(broadcast(lt.agg(count(lit(1)).as("k"),
          (sum("n") * lit(1.5)).as("b"))))
      // p is monotone in rn (prefix of non-negative n), so max(p) over
      // the qualifying rows IS the prefix at j*
      val jstar = broadcast(ranked
        .filter(lit(E) * col("n") * (col("k") - col("rn") + 1) <=
          col("b") - lit(E) * (col("p") - col("n")))
        .agg(coalesce(max(col("rn")), lit(0)).as("js"),
          coalesce(max(col("p")), lit(0L)).as("pj")))
      ranked.crossJoin(jstar)
        .select(col("lang"), col("n").as("n_tokens"),
          when(col("rn") <= col("js"), lit(E) * col("n"))
            .otherwise((col("b") - lit(E) * col("pj")) /
              (col("k") - col("js"))).as("alloc0"))
        .select(col("lang"), col("n_tokens"),
          roundHU(col("alloc0"), 1e6).as("alloc_tokens"),
          roundHU(col("alloc0") / col("n_tokens"), 1e6).as("epochs"))
        .orderBy("lang")
    }),

    // L158 — Cavnar–Trenkle character-trigram language identification
    // (1994) evaluated as a confusion matrix: even-id docs train top-50
    // trigram rank profiles per labeled lang; odd-id docs classify by
    // out-of-place distance (sum |doc_rank − profile_rank| over the
    // doc's top trigrams, missing → max penalty 50); output is the
    // true×predicted count matrix — the eval table a lang-ID filter
    // stage ships with. Profiles are vocabulary-bounded (rank windows
    // partitioned by lang/doc_id, the vocab_coverage class); the
    // distance join fans each doc's ≤50 trigrams by the lang dimension
    // (bounded) and aggregates — nothing corpus-quadratic, no global
    // window, no driver state.
    "lang_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 50
      val d = docs(s, dir)
      // bindOnce: substr(norm, i, 3) inside the per-position lambda would
      // otherwise re-tokenize and re-concat the doc once PER position
      val tgs = TextOps.bindOnce(
        concat(lit(" "), concat_ws(" ", tokens(col("text"))), lit(" ")),
        norm =>
          when(length(norm) >= 3,
            transform(sequence(lit(1), length(norm) - 2), i => norm.substr(i, lit(3))))
            .otherwise(array().cast("array<string>")))
      // (A/B'd in r13: fanning the two explode branches traded a ~15%
      // wall win for 5x executor time — per-task overhead on a sub-MB
      // scan, the scan fan-out floor rationale. Left single-task.)
      val train = d.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(tgs).as("tg"))
        .groupBy("lang", "tg").agg(count(lit(1)).as("c"))
      val profile = train
        .withColumn("p_rank", row_number().over(
          Window.partitionBy("lang").orderBy(desc("c"), col("tg"))).cast("long"))
        .filter(col("p_rank") <= K)
        .select(col("lang").as("cand_lang"), col("tg"), col("p_rank"))
      val docTg = d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("true_lang"), explode(tgs).as("tg"))
        .groupBy("doc_id", "true_lang", "tg").agg(count(lit(1)).as("c"))
      val docTop = docTg
        .withColumn("d_rank", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("c"), col("tg"))).cast("long"))
        .filter(col("d_rank") <= K)
      val langs = d.select(col("lang").as("cand_lang")).distinct()
      val dist = docTop.crossJoin(broadcast(langs))
        .join(profile, Seq("cand_lang", "tg"), "left")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(sum(coalesce(abs(col("d_rank") - col("p_rank")), lit(K.toLong)))
          .as("dist"))
      val pred = dist
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("dist"), col("cand_lang"))))
        .filter(col("rn") === 1)
      pred.groupBy(col("true_lang"), col("cand_lang").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    }),

    // L159 — winnowing candidate pairs (Schleimer, Wilkerson & Aiken,
    // SIGMOD 2003 — the MOSS fingerprint): per-window bigram-hash mins
    // form each doc's fingerprint set; docs sharing >= 2 fingerprints
    // are overlap candidates, scored by shared/min(|fps|) containment.
    // The guarantee minhash lacks: any shared run of w+1 consecutive
    // bigrams MUST surface a shared fingerprint — position-local, so it
    // catches plagiarism-style partial overlap that whole-doc sketches
    // dilute. Corpus-hot fingerprints (doc freq > 20, boilerplate) are
    // dropped before the self-join — the df-cap that bounds every
    // bucket, so pair work is Σ df² over capped buckets, never corpus².
    "winnow_candidates" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      // lazy checkpoint: the fingerprint scan feeds the pair pass and
      // the per-doc totals — materialize once (see corpus_curation)
      val fps = d.select(col("doc_id"),
        explode(winnowFingerprints(col("text"))).as("fp"))
        .localCheckpoint(false)
      val dfCap = 20
      // fingerprints are distinct per doc by construction, so the row
      // count IS |fps|; docs with zero prints cannot appear in pairs
      val counts = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      // r13 (guide §2.4, same shape as exact_substring_dedup): df-count,
      // df-cap and pair generation share ONE fp-keyed exchange — window
      // count over fp (WindowExec spills, so a hot print degrades to
      // disk, not OOM) + dfCap-bounded collect_list + per-fp pair
      // explode. The old form aggregated fps for df, joined the cap
      // back, then SELF-JOINED the survivors on fp — three fp-keyed
      // exchanges. The exploded pairs are exactly the self-join's rows
      // (every ordered occurrence pair, a_id < b_id, once per shared
      // live print), so `shared` counts are identical pair for pair.
      val pairs = fps
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("df") <= dfCap)
        .groupBy("fp").agg(collect_list(col("doc_id")).as("xs"))
        .select(explode(col("xs")).as("a_id"), col("xs"))
        .select(col("a_id"), explode(col("xs")).as("b_id"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
      pairs
        .join(counts.select(col("doc_id").as("a_id"), col("n_fp").as("na")), "a_id")
        .join(counts.select(col("doc_id").as("b_id"), col("n_fp").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"), col("shared"),
          roundHU(col("shared").cast("double") / least(col("na"), col("nb")), 1e6)
            .as("overlap"))
        .orderBy("a_id", "b_id")
    }),

    // L167/L303 — dHash near-dup banding, end-to-end oracled: the REAL
    // media path derives the 64-bit difference hash from decoded pixels
    // (Multimodal.dHashes — ImageIO, not SQL-replicable), so the
    // CORRECTNESS row drives the exact SAME downstream machinery
    // (Multimodal.dHashNearDups: 4×16-bit band buckets, blockSizeGuard,
    // bit_count(xor) confirm, pair dedup) on a dHash derived
    // deterministically cross-engine from the token-hash stream — bit i
    // set iff the (cyclically) next token hash exceeds the current one,
    // the same gradient-sign construction dHash applies to pixels.
    // 63 bits, not 64: DuckDB raises on 1::BIGINT << 63, and keeping
    // the sign bit clear also pins arithmetic-shift behavior identical
    // across engines. Pigeonhole recall to Hamming 3 needs any 4 bands.
    "dhash_near_dup" -> ((s, dir) => {
      import s.implicits._
      val powers = array((0 to 62).map(i => lit(1L << i)): _*)
      val th = docs(s, dir)
        .select(col("doc_id"), TextOps.tokenHashes(col("text")).as("hs"))
        .filter(size(col("hs")) >= 2)
      val dh = th.select(col("doc_id").as("media_id"),
        aggregate(
          transform(sequence(lit(0), lit(62)), i =>
            when(element_at(col("hs"),
                (i % (size(col("hs")) - 1)) + 1) >
              element_at(col("hs"),
                ((i + 1) % (size(col("hs")) - 1)) + 1),
              element_at(powers, i + 1)).otherwise(lit(0L))),
          lit(0L), (a, b) => a.bitwiseOR(b)).as("dhash"))
        // lazy checkpoint is load-bearing: the interpreted HOF chain
        // above is consumed by the guard's count join, the 4-band
        // explode and BOTH self-join sides — without the lineage cut,
        // CollapseProject inlines the whole expression into every
        // consumer (~4.5s/pass became 194s total). The real pixel path
        // gets the same boundary for free from its mapPartitions.
        .localCheckpoint(false)
      graft.llm.Multimodal.dHashNearDups(
          dh.as[graft.llm.Multimodal.DHash], maxHamming = 3)
        .orderBy("a_id", "b_id")
    }),

    // L302 — exact-substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", §ExactSubstr): doc
    // pairs sharing a verbatim token run of >= 50 tokens, the published
    // flagship dedup pass that position-local fingerprints
    // (winnow_candidates) and set-semantics shingles (jaccard paths)
    // both miss — a 50-token quote inside two otherwise-different long
    // documents has jaccard << 0.5 but is exactly the training-set
    // contamination ExactSubstr removes. Distributed shape (the suffix
    // array of the paper is single-machine): every 25-token gram is an
    // ANCHOR; anchors equi-join df-capped (<= 20 occurrences, the
    // winnow_candidates convention — bounds hot-anchor blowup at any
    // SF); a shared run of L tokens at aligned offset (pa − pb
    // constant) is exactly L−24 consecutive matching anchors on one
    // diagonal, so gaps-and-islands per (pair, diagonal) recovers the
    // maximal run length with a PARTITIONED window (never fact-wide).
    // Deterministic, so fully DuckDB-oracleable. Caveat mirrored in
    // both engines: an over-frequent anchor inside a run splits its
    // island, under-reporting that run — the df-cap trades recall on
    // boilerplate-heavy runs for bounded shuffle, like winnow.
    "exact_substring_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 25; val minRun = 50; val dfCap = 20
      val d = docs(s, dir)
      // (A/B'd in r13: repartitioning the token frame before the explode
      // to parallelize gram generation bought no wall — the stage is
      // latency-bound, not compute-bound, at this size — while task
      // overhead quintupled measured executor time. Left single-task.)
      val toks = d.select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= K)
      // anchor = the raw 25-token gram string: exact (no hash-collision
      // argument needed cross-engine).
      val g = toks.select(col("doc_id"), posexplode(
          transform(sequence(lit(1), size(col("ts")) - K + 1),
            p => concat_ws(" ", slice(col("ts"), p, lit(K))))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
          col("col").as("gram"))
      // r13 (guide §2.4): df-count, df-cap and pair generation all share
      // ONE gram-keyed exchange. The old form checkpointed g (a full
      // materialization of every gram string), aggregated it for df,
      // joined the cap back, then SELF-JOINED the survivors on the gram
      // string — three gram-keyed shuffles of ~150-byte keys. Now: one
      // shuffle; df as a window count over the same key (WindowExec
      // spills its per-key buffer, so a pathological hot gram degrades
      // to disk instead of OOM — the reason this is not a collect_list
      // aggregate straight off the scan); the surviving occurrence
      // lists are dfCap-bounded, so the per-gram pair explode is ≤
      // dfCap² rows per gram — the same rows the self-join produced,
      // pair for pair (every ordered occurrence pair with a_id < b_id).
      val m = g
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
        .filter(col("df") <= dfCap)
        .groupBy("gram")
        .agg(collect_list(struct(col("doc_id"), col("p"))).as("xs"))
        .select(explode(col("xs")).as("a"), col("xs"))
        .select(col("a"), explode(col("xs")).as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diag"))
      // gaps-and-islands: consecutive anchor positions on one diagonal
      // share (pa − row_number); an island of n anchors spans n+K−1
      // tokens
      val isl = m.withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")))
      val runs = isl.groupBy("a_id", "b_id", "diag", "grp")
        .agg((count(lit(1)) + K - 1).as("run_tokens"))
        .filter(col("run_tokens") >= minRun)
      runs.groupBy("a_id", "b_id")
        .agg(max("run_tokens").as("run_tokens"),
          count(lit(1)).as("n_runs"))
        .orderBy("a_id", "b_id")
    }),

    // L156 — b-bit MinHash similarity estimation (Li & König, CACM
    // 2011): for every LSH candidate pair, the exact shingle jaccard
    // next to the full 8-hash MinHash agreement estimate and the 1-bit
    // estimate 2·(bit-agreement)−1 (storing only the lowest bit of each
    // hash — 64× smaller sketches; the unbiased estimator clamps at 0).
    // The sketch-budget calibration table: what resolution survives
    // 1-bit compression on THIS corpus before a 100 TB run commits to a
    // sketch width. Candidates from the banded bucket join (never
    // all-pairs); estimates are per-row integer comparisons on the
    // already-joined signature columns.
    "bbit_minhash_sim" -> ((s, dir) => {
      import s.implicits._
      val k = TextOps.MinhashParams.size
      // lazy checkpoint: the signature scan feeds the band bucketing and
      // both pair sides — without it the interpreted shingle+minhash
      // chain replays per consumer (see corpus_curation)
      val sigs = Dedup.minhashSignatures(docs(s, dir), "doc_id", "text")
        .localCheckpoint(false)
      val cand = Dedup.lshCandidates(sigs, "doc_id")
      val mhIdx = 0 until k
      // r13 (guide §3): ONE signature join per pair side carrying both
      // the shingle set (exact jaccard) and the minhash columns (the two
      // estimates) — the old form joined sigs to the pair table FOUR
      // times (confirmJaccard's two sh sides + two mh estimate sides).
      // The agreement counts are integer comparisons computed
      // declaratively before the typed jaccard pass; the jaccard itself
      // is the same sorted-merge loop confirmJaccard runs (threshold 0
      // keeps every candidate pair), so all three columns are
      // bit-identical to the four-join form.
      val sa = sigs.select(col("doc_id").as("a_id") +: col("sh").as("sh_a") +:
        mhIdx.map(i => col(s"mh$i").as(s"a_mh$i")): _*)
      val sb = sigs.select(col("doc_id").as("b_id") +: col("sh").as("sh_b") +:
        mhIdx.map(i => col(s"mh$i").as(s"b_mh$i")): _*)
      val agreeFull = mhIdx.map(i =>
        when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L)).reduce(_ + _)
      val agreeBit = mhIdx.map(i =>
        when(col(s"a_mh$i") % 2 === col(s"b_mh$i") % 2, 1L).otherwise(0L)).reduce(_ + _)
      cand.join(sa, "a_id").join(sb, "b_id")
        .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b"),
          agreeFull.as("af"), agreeBit.as("ab"))
        .as[(Long, Long, Seq[Long], Seq[Long], Long, Long)]
        .mapPartitions(_.map { case (a, b, shA, shB, af, ab) =>
          val x = shA.toArray; java.util.Arrays.sort(x)
          val y = shB.toArray; java.util.Arrays.sort(y)
          val inter = Dedup.sortedIntersectCount(x, y)
          val j = inter.toDouble / (x.length + y.length - inter)
          (a, b, j, af, ab)
        })
        .toDF("a_id", "b_id", "j", "af", "ab")
        .select(col("a_id"), col("b_id"),
          roundHU(col("j"), 1e6).as("jaccard"),
          roundHU(col("af").cast("double") / k, 1e6).as("mh_est"),
          roundHU(greatest(lit(0.0), col("ab").cast("double") * 2 / k - 1), 1e6)
            .as("bbit_est"))
        .orderBy("a_id", "b_id")
    }),

    // L157 — PMI collocations (Church & Hanks 1990): top word pairs by
    // pointwise mutual information ln(p(ab)/(p(a)p(b))) over corpus
    // bigram/unigram counts, with the standard count floor (>= 5) that
    // keeps rare-pair noise out of the ranking. The collocation table
    // behind tokenizer merge audits and stop-phrase mining. Two
    // vocabulary-keyed aggregates, two vocabulary-sized joins (unhinted —
    // AQE broadcasts at small SF), 1-row total aggregates broadcast;
    // deterministic top-30 (pmi desc, bigram asc).
    "pmi_collocations" -> ((s, dir) => {
      val d = docs(s, dir)
      val bg = d.select(explode(bigrams(col("text"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = d.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nUni = broadcast(uni.agg(sum("c").as("n_uni")))
      val nBi = broadcast(d.select(
        greatest(size(tokens(col("text"))) - 1, lit(0)).cast("long").as("nb"))
        .agg(sum("nb").as("n_bi")))
      bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(nUni).crossJoin(nBi)
        .select(col("bigram"), col("c_ab"),
          roundHU(log((col("c_ab").cast("double") / col("n_bi")) /
            ((col("c_a").cast("double") / col("n_uni")) *
              (col("c_b").cast("double") / col("n_uni")))), 1e6).as("pmi"))
        .orderBy(desc("pmi"), col("bigram"))
        .limit(30)
    }),

    // L190 — Dunning log-likelihood (G²) collocations (Dunning 1993):
    // the 2×2-contingency significance test PMI famously lacks — PMI
    // over-ranks rare pairs (a hapax bigram of two hapax words maxes
    // it), G² weighs evidence mass, so the two rankings together
    // separate "strong AND well-attested" from merely-surprising.
    // Cells: O11=c(ab), O12=c(a)−c(ab), O21=c(b)−c(ab), O22=N−c(a)−
    // c(b)+c(ab) (unigram margins, the standard approximation);
    // G² = 2·Σ_{O>0} O·ln(O/E) with E from the margins. Same frames
    // and scale shape as pmi_collocations: bigram/unigram counts (two
    // keyed shuffles), vocabulary joins unhinted, per-row closed-form
    // algebra (each of the 4 terms 6dp-rounded, summed in a FIXED
    // written order — no aggregate over the cells), deterministic
    // top-30.
    "dunning_g2" -> ((s, dir) => {
      val d = docs(s, dir)
      val bg = d.select(explode(bigrams(col("text"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = d.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nBi = broadcast(d.select(
        greatest(size(tokens(col("text"))) - 1, lit(0)).cast("long").as("nb"))
        .agg(sum("nb").as("nn")))
      val nn = col("nn").cast("double")
      def cell(o: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
               c: org.apache.spark.sql.Column) = {
        val e = r * c / nn
        when(o > 0, roundHU(o.cast("double") * log(o.cast("double") / e), 1e6))
          .otherwise(lit(0.0))
      }
      val o11 = col("c_ab")
      val o12 = col("c_a") - col("c_ab")
      val o21 = col("c_b") - col("c_ab")
      val o22 = col("nn") - col("c_a") - col("c_b") + col("c_ab")
      val r1 = col("c_a").cast("double")
      val r2 = nn - col("c_a")
      val c1 = col("c_b").cast("double")
      val c2 = nn - col("c_b")
      bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(nBi)
        .select(col("bigram"), col("c_ab"),
          roundHU(lit(2.0) * (cell(o11, r1, c1) + cell(o12, r1, c2) +
            cell(o21, r2, c1) + cell(o22, r2, c2)), 1e6).as("g2"))
        .orderBy(desc("g2"), col("bigram"))
        .limit(30)
    }),

    // L191 — multinomial naive Bayes source classifier: train Laplace-
    // smoothed token likelihoods per source on the even-doc split,
    // classify the odd docs, report the confusion matrix — the
    // supervised companion to lang_confusion's rank-profile heuristic,
    // and the classic "can a linear model tell the sources apart"
    // separability probe (a washed-out diagonal = near-duplicate
    // sources; the provenance-drift alarm). Shape: token counts are
    // keyed shuffles; the likelihood table is (V·S)-sized and joined
    // per test token (NO per-class rescan of the corpus); OOV test
    // tokens drop by the train-vocab inner join (documented
    // convention); unseen-in-class tokens fall back to the per-class
    // zero-count likelihood via coalesce. Per-token log-likelihoods
    // 8dp-round before the DECIMAL(28,12)-routed per-(doc, class) sum;
    // argmax ties break on class name.
    "naive_bayes_source" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val train = d.filter(col("doc_id") % 2 === 0)
      val cls = train.groupBy(col("source").as("cand"))
        .agg(count(lit(1)).as("nd"))
        .localCheckpoint(false) // reused: priors, class list
      val nTrain = broadcast(cls.agg(sum("nd").as("nt")))
      val prior = cls.crossJoin(nTrain)
        .select(col("cand"),
          roundHU(log(col("nd").cast("double") / col("nt")), 1e8).as("prior"))
      val tw = train
        .select(col("source").as("cand"), explode(tokens(col("text"))).as("w"))
        .groupBy("cand", "w").agg(count(lit(1)).as("cw"))
        .localCheckpoint(false) // reused: totals, vocab, likelihoods
      val tot = tw.groupBy("cand").agg(sum("cw").as("tot"))
        .localCheckpoint(false) // reused: lp + lp0
      val vocab = tw.select("w").distinct()
        .localCheckpoint(false) // reused: size + OOV filter
      val vs = broadcast(vocab.agg(count(lit(1)).as("v")))
      val lp = tw.join(tot, "cand").crossJoin(vs)
        .select(col("cand"), col("w"),
          roundHU(log((col("cw") + 1).cast("double") / (col("tot") + col("v"))),
            1e8).as("lp"))
      val lp0 = tot.crossJoin(vs)
        .select(col("cand"),
          roundHU(log(lit(1.0) / (col("tot") + col("v")).cast("double")),
            1e8).as("lp0"))
      val testTok = d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source").as("true_source"),
          explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "true_source", "w").agg(count(lit(1)).as("cnt"))
        .join(vocab, Seq("w"))
      val scored = testTok.crossJoin(broadcast(cls.select("cand")))
        .join(lp, Seq("cand", "w"), "left")
        .join(lp0, "cand")
        .select(col("doc_id"), col("true_source"), col("cand"),
          (col("cnt") * coalesce(col("lp"), col("lp0")))
            .cast(DecimalType(28, 12)).as("t"))
        .groupBy("doc_id", "true_source", "cand")
        .agg(sum("t").cast("double").as("ll"))
        .join(prior, "cand")
        .select(col("doc_id"), col("true_source"), col("cand"),
          (col("prior") + col("ll")).as("score"))
      scored.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("score"), col("cand"))))
        .filter(col("rn") === 1)
        .groupBy(col("true_source"), col("cand").as("pred_source"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_source", "pred_source")
    }),

    // L192 — RAKE keyword extraction (Rose et al. 2010): tokens split
    // into candidate phrases at stopword boundaries, words scored
    // deg/freq (deg = Σ length of phrases containing the word — long
    // phrases boost their members), phrase score = Σ word scores —
    // the POS-free keyphrase extractor that complements tfidf_top_terms'
    // single-word view with multi-word phrases. Phrase ids come from a
    // running stopword count (doc-bounded window); phrase text
    // reassembles via position-sorted collect (deterministic); word
    // scores 6dp-round into DECIMAL(18,6) before the phrase sums so
    // the per-phrase addition order can't diverge; identical phrase
    // strings collapse (same token sequence → same exact score, so
    // MIN is a tie-free pick); deterministic top-20.
    "rake_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stops = TextOps.Stopwords
      val tp = docs(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "w")))
      val win = Window.partitionBy("doc_id").orderBy("p")
      val marked = tp.withColumn("pid",
          sum(when(col("w").isin(stops: _*), 1L).otherwise(0L)).over(win))
        .filter(!col("w").isin(stops: _*))
        .localCheckpoint(false) // reused: phrase lengths, word stats, phrases
      val plen = marked.groupBy("doc_id", "pid").agg(count(lit(1)).as("plen"))
      val ws = marked.join(plen, Seq("doc_id", "pid"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("w"), r6(col("deg").cast("double") / col("freq"))
          .cast(DecimalType(18, 6)).as("wscore"))
      marked.join(ws, "w")
        .groupBy("doc_id", "pid")
        .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("p"), col("w")))),
            x => x("w"))).as("phrase"),
          sum("wscore").cast("double").as("score"),
          count(lit(1)).as("n_words"))
        .groupBy("phrase")
        .agg(min("n_words").as("n_words"), count(lit(1)).as("n_occ"),
          min("score").as("score"))
        .orderBy(desc("score"), col("phrase"))
        .limit(20)
    }),

    // L195 — Burrows's Delta (Burrows 2002): stylometric distance
    // between sources over the 30 most-frequent corpus words — each
    // word's per-source relative frequency z-scored ACROSS sources,
    // Δ(i,j) = mean |z_i − z_j| — the authorship-attribution classic,
    // here reading as "which sources share a register" (low Δ between
    // supposedly-independent sources = common origin/contamination,
    // the stylistic companion to source_minhash_sim's content overlap).
    // Shape: token counts shuffle once; the MFW list is a bounded
    // top-30 broadcast; the dense source×word grid (coalesce-0 for
    // unseen pairs) is S·30-sized, so stats/z/pair joins are all
    // SF-invariant. Frequencies 8dp-round before the decimal moment
    // sums; |z_i − z_j| terms 8dp-round before the pair sums.
    "burrows_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      val tok = d.select(col("source"), explode(tokens(col("text"))).as("w"))
        .localCheckpoint(false) // reused: MFW list, per-source counts, totals
      val mfw = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("w")).limit(30).select("w")
        .localCheckpoint(false) // reused: count filter + dense grid
      val srcs = d.select("source").distinct()
      val tot = tok.groupBy("source").agg(count(lit(1)).as("tot"))
      val cnt = tok.join(mfw, "w")
        .groupBy("source", "w").agg(count(lit(1)).as("cw"))
      val grid = srcs.crossJoin(broadcast(mfw))
        .join(cnt, Seq("source", "w"), "left")
        .join(tot, "source")
        .select(col("source"), col("w"),
          roundHU(coalesce(col("cw"), lit(0L)).cast("double") / col("tot"),
            1e8).as("fr"))
        .localCheckpoint(false) // reused: word stats + both z sides
      val st = grid.groupBy("w").agg(
          count(lit(1)).as("ns"),
          sum(col("fr").cast(DecimalType(18, 8))).cast("double").as("sf"),
          sum((col("fr") * col("fr")).cast(DecimalType(38, 16)))
            .cast("double").as("sf2"))
        .select(col("w"), (col("sf") / col("ns")).as("mu"),
          sqrt(col("sf2") / col("ns") -
            (col("sf") / col("ns")) * (col("sf") / col("ns"))).as("sigma"))
        .filter(col("sigma") > 0)
      val z = grid.join(st, "w")
        .select(col("w"), col("source"),
          ((col("fr") - col("mu")) / col("sigma")).as("z"))
      z.select(col("w"), col("source").as("source_a"), col("z").as("za"))
        .join(z.select(col("w"), col("source").as("source_b"),
          col("z").as("zb")), "w")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_words"),
          sum(roundHU(abs(col("za") - col("zb")), 1e8)
            .cast(DecimalType(18, 8))).cast("double").as("sd"))
        .select(col("source_a"), col("source_b"), col("n_words"),
          roundHU(col("sd") / col("n_words"), 1e6).as("delta"))
        .orderBy("source_a", "source_b")
    }),

    // L155 — Gopher duplicate-n-gram character coverage (Rae et al.
    // 2021): per doc, the fraction of normalized characters COVERED by
    // word 5-grams occurring >= 2 times within the doc — the de-
    // overlapped form (interval union over occurrence spans, so the
    // fraction is a true coverage in [0,1], unlike the occurrence-mass
    // shortcut which exceeds 1 on heavy repetition). Spans come from
    // per-doc token start offsets; the union is the classic sorted-
    // interval sweep: new_cov = end − max(start−1, running max end).
    // Every window is PARTITIONED BY doc_id (bounded by document
    // length), gram counts are partial-agg friendly; nothing quadratic,
    // nothing global.
    "dup_ngram_chars" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("p", "w")))
      val wPre = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
      val starts = toks.select(col("doc_id"), col("p"),
        (coalesce(sum(length(col("w")) + 1).over(wPre), lit(0L)) + 1)
          .cast("long").as("start"))
      val grams5 = d.select(col("doc_id"),
        posexplode(ngramsKept(col("text"), 5)).as(Seq("p", "g")))
      // r13: occ feeds BOTH the >=2 gram-key aggregate and the coverage
      // join; without a cut each consumer replays the grams5 + starts
      // tokenize passes over the raw text (plan-audited: 10 parquet
      // scans, 5 tokenize passes in one plan — this checkpoint leaves 3
      // scans, one tokenize each). Gram-occurrence-sized, spill-safe.
      val occ = grams5.join(starts, Seq("doc_id", "p"))
        .select(col("doc_id"), col("g"), col("start"),
          (col("start") + length(col("g")) - 1).cast("long").as("end"))
        .localCheckpoint(false)
      val dupKeys = occ.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("doc_id", "g")
      val wIv = Window.partitionBy("doc_id").orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
      val covered = occ.join(dupKeys, Seq("doc_id", "g"))
        .withColumn("run_end", max("end").over(wIv))
        .withColumn("cov", greatest(lit(0L),
          col("end") - greatest(col("start") - 1, coalesce(col("run_end"), lit(0L)))))
        .groupBy("doc_id").agg(sum("cov").as("dup_chars"))
      val tot = d.select(col("doc_id"),
        length(concat_ws(" ", tokens(col("text")))).cast("long").as("n_chars_norm"))
      tot.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          col("n_chars_norm"),
          when(col("n_chars_norm") > 0,
            roundHU(coalesce(col("dup_chars"), lit(0L)).cast("double") /
              col("n_chars_norm"), 1e6))
            .otherwise(0.0).as("dup_char_frac"))
        .orderBy("doc_id")
    }),

    // L259 — Dirichlet-smoothed query-likelihood retrieval (Ponte &
    // Croft 1998; Zhai & Lafferty 2001, μ = 2000): score(q,d) =
    // Σ_t ln((tf_td + μ·P(t|C))/(|d| + μ)) over the shared 3-term
    // query — the language-modeling ranking function next to
    // bm25_search (LM vs TF-IDF, the two classic lexical retrieval
    // families; RRF fuses this kind of pair). Zero-tf terms still
    // contribute the smoothed mass, so scoring is ONE corpus stats
    // broadcast + one doc-length scan with a pinned 3-way conditional
    // pivot (no per-term shuffle); ln terms 6dp-round and sum in
    // fixed written order.
    "query_likelihood" -> ((s, dir) => {
      val terms = Seq("spark", "join", "window")
      val mu = 2000.0
      val d = docs(s, dir)
      val corpusAggs = count(lit(1)).as("ctot") +:
        terms.zipWithIndex.map { case (tm, i) =>
          sum(when(col("t") === tm, 1L).otherwise(0L)).as(s"cf$i") }
      val corpus = broadcast(d
        .select(explode(tokens(col("text"))).as("t"))
        .groupBy()
        .agg(corpusAggs.head, corpusAggs.tail: _*))
      val tfp = d
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy("doc_id")
        .agg(terms.zipWithIndex.map { case (tm, i) =>
          sum(when(col("t") === tm, 1L).otherwise(0L)).as(s"tf$i") }.head,
          terms.zipWithIndex.map { case (tm, i) =>
            sum(when(col("t") === tm, 1L).otherwise(0L)).as(s"tf$i") }.tail: _*)
      val dl = d.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
      val scoredTerms = terms.indices.map(i =>
        r6(log((coalesce(col(s"tf$i"), lit(0L)) +
          lit(mu) * col(s"cf$i") / col("ctot")) / (col("dl") + lit(mu)))))
      dl.join(tfp, Seq("doc_id"), "left")
        .crossJoin(corpus)
        .select(col("doc_id"), col("dl").cast("long").as("dl"),
          terms.indices.map(i =>
            (coalesce(col(s"tf$i"), lit(0L)) > 0L).cast("long"))
            .reduce(_ + _).as("n_terms"),
          scoredTerms.reduce(_ + _).as("ql_score"))
        .orderBy(desc("ql_score"), col("doc_id"))
        .limit(50)
    }),

    // L258 — nearest-centroid classifier evaluation (Rocchio): assign
    // every embedding to its closest label centroid (euclidean,
    // deterministic label tie-break) and report the confusion matrix —
    // the linear-time label-quality audit run before trusting labels
    // for supervised mixing (label_noise_knn's kNN audit is local;
    // this is the global prototype view). Centroids are decimal-exact
    // label-cardinality state (the label_centroids path), broadcast to
    // one linear scan; the argmin is a vec-partitioned k-row window.
    "nearest_centroid_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          Similarity.toDouble(col("embedding")).as("e"))
      val cvec = e.select(col("label"), posexplode(col("e")))
        .groupBy("label", "pos")
        .agg((sum(col("col").cast("decimal(38,7)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("c"))
        .withColumnRenamed("label", "clabel")
      val pred = e.crossJoin(broadcast(cvec))
        .withColumn("dist", Similarity.euclidean(col("e"), col("c")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("clabel"))))
        .filter(col("rk") === 1)
        .select(col("label"), col("clabel").as("pred_label"))
      val tot = pred.groupBy("label").agg(count(lit(1)).as("n_label"))
      pred.groupBy("label", "pred_label").agg(count(lit(1)).as("n_vecs"))
        .join(tot, "label")
        .select(col("label"), col("pred_label"), col("n_vecs"),
          r6(col("n_vecs").cast("double") / col("n_label")).as("row_share"))
        .orderBy("label", "pred_label")
    }),

    // L257 — SumBasic extractive summarization (Nenkova & Vanderwende
    // 2005): score every line of every doc by the MEAN corpus unigram
    // probability of its tokens and keep the best line per doc — the
    // frequency-driven "most representative sentence" extractor used
    // to build summary/headline pairs from raw corpora (and the
    // simplest member of the family TextRank refines). One corpus
    // token-frequency rollup, one line explode joined against it
    // (token-keyed shuffle), per-line means from 8dp-rounded decimal
    // sums, then a doc-partitioned (bounded) top-1 window.
    "extractive_summary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .localCheckpoint(false) // reused: the total + the line join
      val nT = broadcast(tf.agg(sum("f").as("n")))
      val lineToks = docs(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("li", "l")))
        .select(col("doc_id"), col("li").cast("long").as("li"),
          explode(tokens(col("l"))).as("w"))
      val scored = lineToks.join(tf, "w").crossJoin(nT)
        .select(col("doc_id"), col("li"),
          r8(col("f").cast("double") / col("n"))
            .cast(DecimalType(18, 8)).as("p"))
        .groupBy("doc_id", "li")
        .agg(count(lit(1)).as("n_words"), sum("p").cast("double").as("sp"))
        .select(col("doc_id"), col("li"), col("n_words"),
          r6(col("sp") / col("n_words")).as("score"))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("score"), col("li"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("li").as("best_line"),
          col("n_words"), col("score"))
        .orderBy("doc_id")
    }),

    // L252 — Cochran's Q (Cochran 1950) across THREE correlated binary
    // quality filters on the same docs — C4 keep, Gopher keep, and
    // quality_score ≥ 2 — "do the k filters pass different fractions of
    // the corpus", the k-filter generalization of mcnemar_test's pair
    // (and the significance gate run before swapping one curation rule
    // for another). Q = [k(k−1)ΣC_j² − (k−1)N²]/(kN − ΣR_i²) on exact
    // integer row/column totals from ONE joined pass; the reject flag
    // uses the χ²(2) 95% critical value.
    "cochran_q" -> ((s, dir) => {
      val a = c4Frame(s, dir).select(col("doc_id"),
        when(col("keep"), 1L).otherwise(0L).as("f1"))
      val b = gopherFrame(s, dir).select(col("doc_id"),
        when(col("keep"), 1L).otherwise(0L).as("f2"))
      val c = docs(s, dir).select(col("doc_id"),
        when(qualityScore >= 2L, 1L).otherwise(0L).as("f3"))
      val q = a.join(b, "doc_id").join(c, "doc_id")
        .select(col("f1"), col("f2"), col("f3"),
          (col("f1") + col("f2") + col("f3")).as("r"))
        .groupBy()
        .agg(count(lit(1)).as("n_docs"),
          sum("f1").as("c1"), sum("f2").as("c2"), sum("f3").as("c3"),
          sum("r").as("sr"), sum(col("r") * col("r")).as("sr2"))
      val den = lit(3.0) * col("sr") - col("sr2")
      q.select(col("n_docs"), col("c1"), col("c2"), col("c3"),
        when(den > 0.0,
          r6((lit(6.0) * (col("c1").cast("double") * col("c1") +
            col("c2").cast("double") * col("c2") +
            col("c3").cast("double") * col("c3")) -
            lit(2.0) * col("sr").cast("double") * col("sr")) /
            (lit(3.0) * col("sr").cast("double") - col("sr2"))))
          .as("q_stat"))
        .withColumn("reject_95",
          col("q_stat").isNotNull && col("q_stat") > 5.991465)
    }),

    // L253 — lexical-richness battery per source: Yule's K (repeat-
    // rate, length-invariant), Simpson's D (collision probability),
    // Honoré's H (hapax-weighted), Sichel's S (dis-legomena share) —
    // the stylometric vocabulary profile (Tweedie & Baayen 1998) that
    // separates templated/boilerplate sources (high K, low H) from
    // organic prose, complementing mattr's windowed TTR. One token
    // explode to the (source, word) frequency spectrum; every statistic
    // is closed algebra on exact per-source longs (Σf² routed through
    // DECIMAL(38,0)); ln(N) 6dp-rounded by house practice.
    "lexical_richness" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("f"))
      tf.groupBy("source")
        .agg(sum("f").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("f") === 1L, 1L).otherwise(0L)).as("v1"),
          sum(when(col("f") === 2L, 1L).otherwise(0L)).as("v2"),
          sum((col("f") * col("f")).cast(DecimalType(38, 0))).as("sf2"),
          sum((col("f") * (col("f") - 1L)).cast(DecimalType(38, 0))).as("sff"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("v1"),
          col("v2"),
          r6(lit(1e4) * (col("sf2").cast("double") - col("n_tokens")) /
            (col("n_tokens").cast("double") * col("n_tokens"))).as("yule_k"),
          r6(col("sff").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - 1L)))
            .as("simpson_d"),
          when(col("v1") < col("vocab"),
            r6(lit(100.0) * log(col("n_tokens").cast("double")) /
              (lit(1.0) - col("v1").cast("double") / col("vocab"))))
            .as("honore_h"),
          r6(col("v2").cast("double") / col("vocab")).as("sichel_s"))
        .orderBy("source")
    }),

    // L254 — rank-based ROC AUC of the stopword-density language
    // classifier (score = stopword hits / tokens, label = lang-is-
    // English): AUC via the Mann–Whitney identity on GROUPED scores —
    // Σ over score groups of n1·(negatives strictly below) + ½·n1·n0
    // ties, normalized by n_pos·n_neg — the threshold-free quality
    // number every heuristic filter gets scored by before its cutoff
    // is chosen. Scale shape: docs collapse to the 4dp score grid
    // (≤ 10⁴+1 groups — CONSTANT), so the one ordered window is
    // grid-sized; all rank mass is exact integer arithmetic routed
    // through DECIMAL(38,0).
    "roc_auc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = scoredDocs(s, dir).groupBy("score")
        .agg(sum("y").as("n1s"), (count(lit(1)) - sum("y")).as("n0s"))
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("c0", coalesce(sum("n0s").over(w), lit(0L)))
        .groupBy()
        .agg(sum("n1s").as("n_pos"), sum("n0s").as("n_neg"),
          sum((col("n1s") * col("c0")).cast(DecimalType(38, 0))).as("sWin"),
          sum((col("n1s") * col("n0s")).cast(DecimalType(38, 0))).as("sTie"))
        .select(col("n_pos"), col("n_neg"),
          r6((col("sWin").cast("double") + col("sTie").cast("double") / 2.0) /
            (col("n_pos").cast("double") * col("n_neg"))).as("auc"))
        .withColumn("gini_coeff", lit(2.0) * col("auc") - lit(1.0))
    }),

    // L255 — calibration table (reliability diagram) of the stopword-
    // density score read as P(English): 20 fixed-width score bins ×
    // (mean predicted, observed positive rate, per-bin Brier term) —
    // "when the filter says 0.3, is it right 30% of the time", the
    // diagnostic that decides whether a heuristic score can be used
    // as a sampling weight or only as a ranker (roc_auc can be 1.0
    // while calibration is garbage). One grouped pass to the constant
    // bin grid; Brier terms 6dp-round into decimal sums.
    "calibration_bins" -> ((s, dir) => {
      scoredDocs(s, dir)
        .withColumn("bin", least(floor(col("score") * 20).cast("long"), lit(19L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("score").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("ms"),
          (sum("y").cast("double") / count(lit(1))).as("pr"),
          (sum(r6((col("score") - col("y")) * (col("score") - col("y")))
            .cast(DecimalType(18, 6))).cast("double") / count(lit(1))).as("br"))
        .select(col("bin"), col("n_docs"), r6(col("ms")).as("mean_score"),
          r6(col("pr")).as("pos_rate"), r6(col("br")).as("brier"))
        .orderBy("bin")
    }),

    // L256 — decile lift/gains table of the stopword-density ranker:
    // docs ranked by score desc, split into 10 equal-population tiles
    // (ties share a tile — tiles are assigned at score-group
    // granularity), each reporting lift = tile positive rate / base
    // rate and cumulative gains = share of all positives captured so
    // far — the campaign-targeting readout ("the top decile holds 4×
    // its share of English docs") that turns roc_auc's one number
    // into an operating curve. Windows run over the constant score
    // grid and the 10-row tile rollup only.
    "lift_gains" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = scoredDocs(s, dir).groupBy("score")
        .agg(count(lit(1)).as("c"), sum("y").as("p"))
        .localCheckpoint(false) // grid-sized; reused: totals + the scan
      val tot = broadcast(g.agg(sum("c").as("n"), sum("p").as("np")))
      val w = Window.orderBy(desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w2 = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum", sum("c").over(w))
        .crossJoin(tot)
        .withColumn("decile",
          ceil(lit(10.0) * col("cum") / col("n")).cast("long"))
        .groupBy("decile")
        .agg(sum("c").as("n_docs"), sum("p").as("n_pos"),
          max("n").as("n"), max("np").as("np"))
        .withColumn("cum_pos", sum("n_pos").over(w2))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          r6((col("n_pos").cast("double") / col("n_docs")) /
            (col("np").cast("double") / col("n"))).as("lift"),
          r6(col("cum_pos").cast("double") / col("np")).as("cum_gain"))
        .orderBy("decile")
    })
  )

  // ---- DuckDB oracle SQL (same constants via TextOps.sql* builders) ----

  /** SQL: cosine of `$a.e` and `$b.e` (array<double> columns of aliased
    * relations) — the ONE copy of the parity-critical formula. NULLIF
    * guards the zero-norm denominator: DuckDB 1.0 returns NULL for x/0
    * anyway, but under `ieee_floating_point_ops` (the ≥ 1.1 default) x/0
    * is ±inf/NaN and DuckDB ranks NaN above every threshold — NULL keeps
    * both versions aligned with Spark's try_divide/!isnan exclusion.
    */
  /** NDCG evaluation depth for `ndcg_eval`, shared by query and oracle. */
  private[operators] val NdcgK = 10

  /** Shared CTE fragment producing `sc` = (doc_id, n_terms, bm25) — the
    * single SQL source of truth for [[bm25Scored]], used by the
    * `bm25_search` and `ndcg_eval` oracles (a drifted copy would let the
    * ranking and its evaluation disagree silently).
    */
  private def sqlBm25Ctes: String =
    s"""dl AS (SELECT doc_id, len($sqlTokens) AS dl FROM documents),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest($sqlTokens) AS token FROM documents)
       |  WHERE token IN ('spark', 'join', 'window')
       |  GROUP BY doc_id, token),
       |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |scored AS (
       |  SELECT tf.doc_id,
       |         floor(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |               * tf.tf * 2.2
       |               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       |               * 1e6 + 0.5) / 1e6 AS term_score
       |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |sc AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |         CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |  FROM scored
       |  GROUP BY doc_id)""".stripMargin

  /** Oracle for `ndcg_eval`: system and ideal top-k from the same `sc`
    * scores, ranks via correlated count-of-better over the MATERIALIZED
    * 10-row top lists (the rank-by-join convention), linear-gain DCG
    * terms rounded 6dp before the decimal sum.
    */
  private def sqlNdcg: String = {
    def ranked(src: String, ord: String) =
      s"""(SELECT x.doc_id, x.n_terms AS rel,
         |   1 + (SELECT COUNT(*) FROM $src y WHERE $ord) AS r
         | FROM $src x)""".stripMargin
    val sysOrd = "y.bm25 > x.bm25 OR (y.bm25 = x.bm25 AND y.doc_id < x.doc_id)"
    val idlOrd = "y.n_terms > x.n_terms OR (y.n_terms = x.n_terms AND y.doc_id < x.doc_id)"
    def dcgOf(rankedSql: String) =
      s"""(SELECT CAST(SUM(CAST(floor(rel / log2(r + 1) * 1e6 + 0.5) / 1e6
         |   AS DECIMAL(18,6))) AS DOUBLE) AS v
         | FROM $rankedSql t)""".stripMargin
    s"""WITH $sqlBm25Ctes,
       |top AS MATERIALIZED (SELECT doc_id, n_terms, bm25 FROM sc
       |       ORDER BY bm25 DESC, doc_id LIMIT $NdcgK),
       |ideal AS MATERIALIZED (SELECT doc_id, n_terms FROM sc
       |       ORDER BY n_terms DESC, doc_id LIMIT $NdcgK),
       |d AS ${dcgOf(ranked("top", sysOrd))},
       |i AS ${dcgOf(ranked("ideal", idlOrd))}
       |SELECT CAST($NdcgK AS BIGINT) AS k, d.v AS dcg, i.v AS idcg,
       |       floor(d.v / i.v * 1e6 + 0.5) / 1e6 AS ndcg
       |FROM d, i""".stripMargin
  }

  /** Oracle for `mmr_select`: the greedy picks unrolled as a CTE chain
    * (the PageRankIters convention) — step i takes the argmax of
    * λ·rel − (1−λ)·max-sim-to-selected over the pool minus the selected
    * set, with the same (score DESC, vec_id) total order as the Spark
    * loop's TakeOrdered.
    */
  private def sqlMmr: String = {
    // MATERIALIZED on every multiply-referenced CTE: each sel_i is read
    // twice by step i+1 (NOT IN + max-sim) and once by the union chain,
    // so DuckDB's default inlining re-evaluates the whole prefix
    // exponentially (2^MmrK pool scans — observed as a >90s hang at
    // sf0.01 where the materialized form runs in milliseconds)
    val steps = (2 to MmrK).map { i =>
      s"""c$i AS (SELECT p.vec_id, p.rel,
         |          ${MmrLambda}e0 * p.rel - ${MmrDiversity}e0 * (SELECT MAX(pp.cos) FROM pp
         |            WHERE pp.ai = p.vec_id
         |              AND pp.bi IN (SELECT vec_id FROM sel${i - 1})) AS score
         |        FROM pool p
         |        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
         |s$i AS MATERIALIZED (SELECT $i AS rank, vec_id, rel, score FROM c$i
         |        ORDER BY score DESC, vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)"""
        .stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(i => s"SELECT * FROM s$i").mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |qv AS (SELECT e FROM v WHERE vec_id = 0),
       |pool AS MATERIALIZED (SELECT c.vec_id, ${sqlCos("c", "q")} AS rel, c.e
       |         FROM v c, qv q WHERE c.vec_id <> 0
       |         ORDER BY rel DESC, c.vec_id LIMIT $MmrPoolN),
       |pp AS MATERIALIZED (SELECT a.vec_id AS ai, b.vec_id AS bi, ${sqlCos("a", "b")} AS cos
       |       FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, rel, ${MmrLambda}e0 * rel AS score FROM pool
       |       ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
       |       floor(rel * 1e6 + 0.5) / 1e6 AS relevance,
       |       floor(score * 1e6 + 0.5) / 1e6 AS mmr_score
       |FROM ($out)
       |ORDER BY rank""".stripMargin
  }

  private def sqlCos(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a.e, $b.e), s -> s[1]*s[2])) / " +
      s"NULLIF(sqrt(list_sum(list_transform($a.e, x -> x*x))) * sqrt(list_sum(list_transform($b.e, x -> x*x))), 0)"

  /** SQL: jaccard of `$a.sh` and `$b.sh` (shingle-hash list columns).
    * NULLIF: two zero-shingle docs give 0/0 — NULL (excluded) on every
    * DuckDB version, matching the JVM loop's NaN-fails-threshold.
    */
  private def sqlJaccard(a: String, b: String): String =
    s"len(list_intersect($a.sh, $b.sh)) / CAST(NULLIF(len(list_distinct(list_concat($a.sh, $b.sh))), 0) AS DOUBLE)"

  /** DuckDB expression for the LSH bucket id of CTE `v`'s vector `e`,
    * generated from the SAME hyperplanes as the Spark index — the single
    * source of truth all three LSH oracles share (a drifted copy would
    * silently desynchronize index and oracle). Locale-free formatting:
    * f"$x%.1f" renders "-10,0" under comma-decimal default locales,
    * silently corrupting the SQL list literal; weights are whole numbers
    * by construction, so integer + ".0" is exact and locale-safe.
    */
  private def lshBucketSqlExpr(nPlanes: Int, dim: Int): String = {
    val hp = Similarity.hyperplanes(nPlanes, dim)
    def lst(w: Array[Double]) = w.map(x => s"${x.toLong}.0").mkString("[", ", ", "]")
    def proj(i: Int) =
      s"list_sum(list_transform(list_zip(v.e, ${lst(hp(i))}), p -> p[1]*p[2]))"
    (0 until nPlanes).map(i =>
      s"(CASE WHEN ${proj(i)} > 0 THEN ${1L << i} ELSE 0 END)").mkString("\n       + ")
  }

  /** Shared LSH bucket CTE (`b`), assuming `v` in scope. */
  private def lshBucketCte(nPlanes: Int, dim: Int): String =
    s"""b AS (
       |  SELECT vec_id, e,
       |       ${lshBucketSqlExpr(nPlanes, dim)} AS bucket
       |  FROM v)""".stripMargin

  /** Oracle for `ann_lsh_topk`: the LSH index is deterministic end to end
    * — fixed hyperplanes ([[Similarity.hyperplanes]], embedded as literal
    * weight lists by [[lshBucketSqlExpr]]), sign-of-projection buckets,
    * plan-time probe enumeration ([[Similarity.hammingFlips]]) — so
    * "approximate" still has one exact answer and a full SQL oracle.
    * Projections use the same strict left fold as the Spark HOF dot, so
    * the sign test agrees bit-for-bit.
    */
  private def lshAnnOracle(nPlanes: Int, dim: Int, k: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${lshBucketCte(nPlanes, dim)},
       |${lshApCtes("p", nPlanes, radius = 1, k)}
       |SELECT query_id, rank, neighbor_id, cos FROM p_ap
       |ORDER BY query_id, rank""".stripMargin

  /** Oracle for `ann_recall`: [[exactTopKCtes]] ∩ the LSH top-k
    * ([[lshApCtes]]), per-query recall.
    */
  private def annRecallOracle(nPlanes: Int, dim: Int, k: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${exactTopKCtes(k)},
       |${lshBucketCte(nPlanes, dim)},
       |${lshApCtes("p", nPlanes, radius = 1, k)},
       |h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |      FROM ex JOIN p_ap USING (query_id, neighbor_id) GROUP BY 1),
       |n AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |      FROM ex GROUP BY 1)
       |SELECT n.query_id, n.n_exact,
       |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / n.n_exact * 1e6 + 0.5)
       |         / 1e6 AS recall
       |FROM n LEFT JOIN h ON n.query_id = h.query_id
       |ORDER BY n.query_id""".stripMargin

  /** Oracle for `lsh_cosine_near_dup`: same deterministic hyperplane
    * buckets as [[lshAnnOracle]]; the candidate predicate is bucket
    * Hamming distance ≤ radius (bit_count(xor)) and the confirm is the
    * shared [[sqlCos]] formula. The oracle's pair join is quadratic —
    * fine at oracle SF; the Spark side is the bucket-equi sub-quadratic
    * path whose OUTPUT this reproduces exactly.
    */
  private def lshPairOracle(nPlanes: Int, dim: Int, threshold: String,
                            radius: Int): String = {
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${lshBucketCte(nPlanes, dim)}
       |SELECT * FROM (
       |  SELECT a.vec_id AS a_id, c.vec_id AS b_id, ${sqlCos("a", "c")} AS cos
       |  FROM b a JOIN b c
       |    ON a.vec_id < c.vec_id
       |   AND bit_count(xor(a.bucket, c.bucket)) <= $radius)
       |WHERE cos >= $threshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** SQL: the integer quality score (0-4) — the one copy of the formula
    * mirrored by [[qualityScore]]; shared by `quality_score`,
    * `dedup_keep_best` and `quality_percentile_filter`.
    */
  private val sqlQualityExpr: String =
    s"""(CASE WHEN len($sqlTokens) BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
       |        + CASE WHEN $sqlStopwordHits > 0 THEN 1 ELSE 0 END
       |        + CASE WHEN list_max(list_transform($sqlTokens, t -> len(t))) <= 10 THEN 1 ELSE 0 END
       |        + CASE WHEN len(list_distinct($sqlTokens)) * 3 >= len($sqlTokens) THEN 1 ELSE 0 END)""".stripMargin

  private val sqlSigs: String = {
    val mhCols = MinhashParams.zipWithIndex
      .map { case ((a, b), i) => s"${sqlMinhash("sh", a, b)} AS mh$i" }
      .mkString(",\n         ")
    s"""sigs AS (
       |  SELECT doc_id, sh,
       |         $mhCols
       |  FROM (SELECT doc_id, $sqlShingleHashes AS sh FROM documents))""".stripMargin
  }

  /** [[sqlSigs]] over the doc_id-bounded corpus slice the tuning sweep
    * registers (prefix_near_dup convention).
    */
  private def sqlSigsBounded(maxDocId: Int): String = {
    val mhCols = MinhashParams.zipWithIndex
      .map { case ((a, b), i) => s"${sqlMinhash("sh", a, b)} AS mh$i" }
      .mkString(",\n         ")
    s"""sigs AS (
       |  SELECT doc_id, sh,
       |         $mhCols
       |  FROM (SELECT doc_id, $sqlShingleHashes AS sh FROM documents
       |        WHERE doc_id < $maxDocId))""".stripMargin
  }

  /** Oracle for `lsh_tuning_curve`: ground truth = naive all-pairs
    * jaccard ≥ t (row-identical to the Spark side's exact-recall prefix
    * path); per rows-per-band r, the banding/bucket join of the
    * [[sqlSigs]] signatures, then candidate/hit counts and the guarded
    * precision/recall ratios. "precision" is quoted — a bare PRECISION
    * is a type keyword.
    */
  private def lshTuningCurveOracle(rowsList: Seq[Int], threshold: String): String = {
    val n = MinhashParams.size
    def bandCtes(r: Int): String = {
      val selects = (0 until n / r).map { b =>
        val hs = (0 until r).map(i => s"mh${b * r + i} AS h$i").mkString(", ")
        s"  SELECT doc_id, $b AS band, $hs FROM sigs"
      }.mkString("\n  UNION ALL\n")
      val eq = (0 until r).map(i => s"a.h$i = b.h$i").mkString(" AND ")
      s"""bands$r AS (
         |$selects
         |),
         |cand$r AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands$r a JOIN bands$r b
         |    ON a.band = b.band AND $eq AND a.doc_id < b.doc_id),
         |pt$r AS (
         |  SELECT CAST($r AS BIGINT) AS band_rows,
         |         CAST(${n / r} AS BIGINT) AS n_bands,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$r) AS n_cand,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
         |         (SELECT CAST(COUNT(*) AS BIGINT)
         |          FROM truth t JOIN cand$r c USING (a_id, b_id)) AS n_hit)""".stripMargin
    }
    s"""WITH ${sqlSigsBounded(EvalSampleBound)},
       |truth AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE ${sqlJaccard("a", "b")} >= $threshold),
       |${rowsList.map(bandCtes).mkString(",\n")}
       |SELECT band_rows, n_bands, n_cand, n_true, n_hit,
       |       CASE WHEN n_cand > 0
       |            THEN floor(CAST(n_hit AS DOUBLE) / n_cand * 1e6 + 0.5) / 1e6
       |       END AS "precision",
       |       CASE WHEN n_true > 0
       |            THEN floor(CAST(n_hit AS DOUBLE) / n_true * 1e6 + 0.5) / 1e6
       |       END AS recall
       |FROM (${rowsList.map(r => s"SELECT * FROM pt$r").mkString(" UNION ALL ")})
       |ORDER BY band_rows""".stripMargin
  }

  /** Oracle for `bpe_apply`: the greedy merge loop unrolled as a CTE
    * chain (the sqlLpa/sqlPagerank convention), one (pair-count, top-1
    * pick, rewrite, token-count) quadruple per step. `replace()` is
    * all-occurrence left-to-right in both engines and the \\u0002/\\u0003
    * markers pin symbol boundaries, so step k's rewrite — and therefore
    * every later step's statistics — is string-identical across engines;
    * the top-1 pick (cnt DESC, a, b) has one winner per step on both
    * (ASCII corpus: byte order = codepoint order).
    */
  private def sqlBpeApply(k: Int): String = {
    def syms(t: String) =
      s"string_split(regexp_replace($t, '^' || chr(2) || '|' || chr(3) || '$$', '', 'g'), chr(3) || chr(2))"
    val steps = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(list_transform(range(1, len(s)), j -> [s[j], s[j + 1]])) AS pr, wc
         |        FROM (SELECT ${syms("enc")} AS s, wc FROM w${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (SELECT replace(enc, chr(2) || m.a || chr(3) || chr(2) || m.b || chr(3),
         |                       chr(2) || m.a || m.b || chr(3)) AS enc, wc
         |        FROM w${i - 1} CROSS JOIN m$i m),
         |t$i AS (SELECT CAST(SUM(len(${syms("enc")}) * wc) AS BIGINT) AS tok FROM w$i)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step, a AS pair_left, b AS pair_right,
         |       cnt AS pair_cnt, (SELECT tok FROM t$i) AS corpus_tokens FROM m$i"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (
       |  SELECT regexp_replace(w, '(.)', chr(2) || '\\1' || chr(3), 'g') AS enc,
       |         CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest($sqlTokens) AS w FROM documents)
       |  GROUP BY 1),
       |$steps,
       |nw AS (SELECT CAST(SUM(wc) AS BIGINT) AS n_words FROM w0)
       |SELECT step, pair_left, pair_right, pair_cnt, corpus_tokens,
       |       floor(CAST(corpus_tokens AS DOUBLE) / n_words * 1e6 + 0.5) / 1e6 AS tokens_per_word
       |FROM ($rows) CROSS JOIN nw
       |ORDER BY step""".stripMargin
  }

  /** Oracle for `c4_rules`, also embedded as a subquery by the
    * filter-agreement oracles (`cohens_kappa` / `mcnemar_test`) —
    * mirrors [[c4Frame]].
    */
  private[operators] def sqlC4Rules: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS ls, text FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    list_filter(ls, l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')
       |      AND len(list_filter(string_split_regex(trim(l), '\\s+'), w -> w <> '')) >= 5) AS kept,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM t),
       |v AS (
       |  SELECT doc_id, n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
       |    CAST(COALESCE(list_sum(list_transform(kept,
       |      l -> len(regexp_extract_all(l, '[.!?]')))), 0) AS BIGINT) AS n_sentences,
       |    has_lorem, has_brace
       |  FROM m)
       |SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
       |       (n_sentences >= 3 AND n_kept_lines >= 1
       |        AND NOT has_lorem AND NOT has_brace) AS keep
       |FROM v
       |ORDER BY doc_id""".stripMargin

  /** Oracle for `gopher_rules`, also embedded by the filter-agreement
    * oracles — mirrors [[gopherFrame]].
    */
  private[operators] def sqlGopherRules: String =
    s"""WITH t AS (
       |  SELECT doc_id, $sqlTokens AS ts, string_split(text, chr(10)) AS ls, text
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS BIGINT) AS n_words,
       |    CASE WHEN len(ts) > 0 THEN
       |      floor(CAST(list_sum(list_transform(ts, w -> len(w))) AS DOUBLE)
       |            / len(ts) * 1e6 + 0.5) / 1e6 END AS mean_word_len,
       |    CASE WHEN len(ts) > 0 THEN
       |      floor(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
       |            / len(ts) * 1e6 + 0.5) / 1e6 END AS symbol_ratio,
       |    floor(CAST(len(list_filter(ls, l -> substr(l, 1, 2) IN ('- ', '* '))) AS DOUBLE)
       |          / len(ls) * 1e6 + 0.5) / 1e6 AS bullet_line_frac,
       |    floor(CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)
       |          / len(ls) * 1e6 + 0.5) / 1e6 AS ellipsis_line_frac,
       |    CASE WHEN len(ts) > 0 THEN
       |      floor(CAST(len(list_filter(ts, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
       |            / len(ts) * 1e6 + 0.5) / 1e6 END AS alpha_word_frac,
       |    CAST($sqlStopwordHits AS BIGINT) AS stop_hits
       |  FROM t)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
       |       ellipsis_line_frac, alpha_word_frac, stop_hits,
       |       (n_words BETWEEN 50 AND 100000
       |        AND mean_word_len BETWEEN 3.0 AND 10.0
       |        AND symbol_ratio <= 0.1
       |        AND bullet_line_frac <= 0.9
       |        AND ellipsis_line_frac <= 0.3
       |        AND alpha_word_frac >= 0.8
       |        AND stop_hits >= 2) AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "token_stats" ->
      s"""SELECT doc_id,
         |       len($sqlTokens) AS n_tokens,
         |       len(list_distinct($sqlTokens)) AS n_uniq,
         |       list_max(list_transform($sqlTokens, t -> CAST(len(t) AS BIGINT))) AS max_tok_len,
         |       $sqlBpeTokenCount AS bpe_tokens,
         |       $sqlStopwordHits AS stop_hits
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""SELECT doc_id,
         |       CASE WHEN $sqlStopwordHits > 0 THEN 'en' ELSE 'unk' END AS pred_lang,
         |       lang,
         |       (CASE WHEN $sqlStopwordHits > 0 THEN 'en' ELSE 'unk' END) = lang AS is_match
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      s"""SELECT doc_id, n_chars,
         |       $sqlQualityExpr
         |         AS score,
         |       CASE WHEN score >= 4 THEN 'high' WHEN score >= 2 THEN 'medium' ELSE 'low' END AS bucket
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id, ${sqlFingerprint(sqlTokenHashes)} AS fp
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY text
        |ORDER BY doc_id""".stripMargin,

    "minhash_signature" ->
      s"""WITH $sqlSigs
         |SELECT doc_id, ${MinhashParams.indices.map(i => s"mh$i").mkString(", ")}
         |FROM sigs
         |ORDER BY doc_id""".stripMargin,

    "simhash" ->
      s"""SELECT doc_id, ${sqlSimhash16("th")} AS simhash
         |FROM (SELECT doc_id, $sqlTokenHashes AS th FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "simhash_near_dup" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${sqlSimhash16("th")} AS simhash
         |  FROM (SELECT doc_id, $sqlTokenHashes AS th FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM h a JOIN h b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY a_id, b_id""".stripMargin,

    "lsh_near_dup" ->
      s"""WITH $sqlSigs,
         |bands AS (
         |${(0 until MinhashParams.size / BandRows).map(b =>
             s"  SELECT doc_id, $b AS band, mh${b * BandRows} AS h0, mh${b * BandRows + 1} AS h1 FROM sigs")
             .mkString("\n  UNION ALL\n")}
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id)
         |SELECT * FROM (
         |  SELECT a_id, b_id,
         |         ${sqlJaccard("sa", "sb")} AS jaccard
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a_id
         |  JOIN sigs sb ON sb.doc_id = b_id)
         |WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "lsh_tuning_curve" -> lshTuningCurveOracle(Seq(1, 2, 4), "0.5"), // EvalSampleBound mirrored in the CTE

    // pair set ≡ lsh_near_dup's oracle (bands candidates + exact jaccard
    // confirm), then the source lookup and ordered-pair rollup
    "cross_source_dup_matrix" ->
      s"""WITH $sqlSigs,
         |bands AS (
         |${(0 until MinhashParams.size / BandRows).map(b =>
             s"  SELECT doc_id, $b AS band, mh${b * BandRows} AS h0, mh${b * BandRows + 1} AS h1 FROM sigs")
             .mkString("\n  UNION ALL\n")}
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, ${sqlJaccard("sa", "sb")} AS jaccard
         |    FROM cand
         |    JOIN sigs sa ON sa.doc_id = a_id
         |    JOIN sigs sb ON sb.doc_id = b_id)
         |  WHERE jaccard >= 0.5)
         |SELECT least(da.source, db.source) AS src_a,
         |       greatest(da.source, db.source) AS src_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = pairs.a_id
         |JOIN documents db ON db.doc_id = pairs.b_id
         |GROUP BY 1, 2
         |ORDER BY src_a, src_b""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         ${sqlJaccard("a", "b")} AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    // same exact-jaccard semantics as ngram_jaccard at t=0.25: the
    // prefix-filtered path must return the identical pair set the
    // oracle derives from naive all-pairs
    "prefix_near_dup" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents WHERE doc_id < $PrefixEvalBound)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         ${sqlJaccard("a", "b")} AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.25
         |ORDER BY a_id, b_id""".stripMargin,

    // truth from naive all-pairs (≡ the Spark side's exact-recall prefix
    // path); candidate flags rebuilt from the SAME band and
    // sorted-neighborhood fragments as lsh_near_dup /
    // sorted_neighborhood_dup's oracles
    "near_dup_ensemble" ->
      s"""WITH ${sqlSigsBounded(EvalSampleBound)},
         |truth AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |bands AS (
         |${(0 until MinhashParams.size / BandRows).map(b =>
             s"  SELECT doc_id, $b AS band, mh${b * BandRows} AS h0, mh${b * BandRows + 1} AS h1 FROM sigs")
             .mkString("\n  UNION ALL\n")}
         |),
         |lshc AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id),
         |k AS (
         |  SELECT doc_id,
         |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS skey
         |  FROM documents WHERE doc_id < $EvalSampleBound),
         |r AS (
         |  SELECT doc_id, substr(skey, 1, 8) AS blk,
         |         row_number() OVER (PARTITION BY substr(skey, 1, 8)
         |                            ORDER BY skey, doc_id) AS rn
         |  FROM k),
         |snmc AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
         |         greatest(a.doc_id, b.doc_id) AS b_id
         |  FROM r a JOIN r b
         |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 7)
         |SELECT t.a_id, t.b_id, t.jaccard,
         |       (lshc.a_id IS NOT NULL) AS by_lsh,
         |       (snmc.a_id IS NOT NULL) AS by_snm
         |FROM truth t
         |LEFT JOIN lshc ON t.a_id = lshc.a_id AND t.b_id = lshc.b_id
         |LEFT JOIN snmc ON t.a_id = snmc.a_id AND t.b_id = snmc.b_id
         |ORDER BY t.a_id, t.b_id""".stripMargin,

    "modality_coverage" ->
      """WITH d AS (SELECT doc_id AS id, 1 AS has_doc FROM documents),
        |v AS (SELECT vec_id AS id, 1 AS has_vec FROM embeddings),
        |j AS (SELECT d.has_doc, v.has_vec FROM d FULL OUTER JOIN v USING (id))
        |SELECT CAST(SUM(COALESCE(has_doc, 0)) AS BIGINT) AS n_docs,
        |       CAST(SUM(COALESCE(has_vec, 0)) AS BIGINT) AS n_vecs,
        |       CAST(SUM(CASE WHEN has_doc IS NOT NULL AND has_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN has_vec IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_only,
        |       CAST(SUM(CASE WHEN has_doc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_only
        |FROM j""".stripMargin,

    "hapax_rate" ->
      s"""WITH cnts AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY source, token),
         |g AS (
         |  SELECT source,
         |         CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS vocab,
         |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM cnts GROUP BY source)
         |SELECT source, n_tokens, vocab, n_hapax,
         |       floor(CAST(n_hapax AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS hapax_token_rate,
         |       floor(CAST(n_hapax AS DOUBLE) / vocab * 1e6 + 0.5) / 1e6 AS hapax_vocab_rate
         |FROM g
         |ORDER BY source""".stripMargin,

    "length_buckets" ->
      s"""WITH len AS (
         |  SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tok
         |  FROM documents
         |  WHERE len($sqlTokens) > 0),
         |powers AS (SELECT CAST(1 AS BIGINT) << CAST(i AS INTEGER) AS bucket FROM range(0, 40) t(i)),
         |assigned AS (
         |  SELECT doc_id, n_tok, MIN(bucket) AS bucket
         |  FROM len JOIN powers ON bucket >= n_tok
         |  GROUP BY doc_id, n_tok),
         |g AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |         CAST(SUM(bucket) - SUM(n_tok) AS BIGINT) AS pad_tokens
         |  FROM assigned GROUP BY bucket)
         |SELECT bucket, n_docs, n_tokens, pad_tokens,
         |       floor(CAST(pad_tokens AS DOUBLE) / (pad_tokens + n_tokens) * 1e6 + 0.5) / 1e6 AS pad_frac
         |FROM g
         |ORDER BY bucket""".stripMargin,

    "mixture_rebalance" -> {
      val target = "CAST(floor(CAST(tot.total AS DOUBLE) / 2.0 / tot.n_sources) AS BIGINT)"
      val rate = s"floor(LEAST(1.0, CAST($target AS DOUBLE) / tok.n_tokens) * 1e6 + 0.5) / 1e6"
      s"""WITH tok AS (
         |  SELECT source, CAST(SUM(len($sqlTokens)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (
         |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS n_sources
         |  FROM tok)
         |SELECT tok.source, tok.n_tokens,
         |       floor(CAST(tok.n_tokens AS DOUBLE) / tot.total * 1e6 + 0.5) / 1e6 AS natural_share,
         |       $target AS target_tokens,
         |       $rate AS rate,
         |       CAST(floor(($rate) * tok.n_tokens) AS BIGINT) AS sampled_tokens
         |FROM tok, tot
         |ORDER BY tok.source""".stripMargin
    },

    "embedding_drift" ->
      """WITH v AS (
        |  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, half,
        |         unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |cm AS (
        |  SELECT label, half, pos,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY label, half, pos),
        |j AS (
        |  SELECT a.label, a.m AS m0, b.m AS m1
        |  FROM cm a JOIN cm b
        |    ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1),
        |g AS (
        |  SELECT label,
        |         CAST(SUM(CAST(floor(m0*m1*1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(SUM(CAST(floor(m0*m0*1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS DOUBLE) AS n0,
        |         CAST(SUM(CAST(floor(m1*m1*1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS DOUBLE) AS n1
        |  FROM j GROUP BY label)
        |SELECT label,
        |       floor(dp / (sqrt(n0) * sqrt(n1)) * 1e6 + 0.5) / 1e6 AS half_cos,
        |       floor((1.0 - dp / (sqrt(n0) * sqrt(n1))) * 1e6 + 0.5) / 1e6 AS drift
        |FROM g
        |ORDER BY label""".stripMargin,

    "doc_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sqlShingleHashes) AS shingle FROM documents),
         |fo AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
         |pd AS (
         |  SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM sh JOIN fo USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(COALESCE(pd.n_novel, 0) AS BIGINT) AS n_novel,
         |       CASE WHEN pd.n_shingles > 0
         |            THEN floor(CAST(pd.n_novel AS DOUBLE) / pd.n_shingles * 1e6 + 0.5) / 1e6
         |       END AS novelty
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY token),
         |ranked AS (
         |  SELECT token, c, row_number() OVER (ORDER BY c DESC, token) AS rn
         |  FROM counts),
         |total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM ranked)
         |SELECT CAST(t.v AS BIGINT) AS vocab_size, total.n_tokens,
         |       CAST(COALESCE((SELECT SUM(c) FROM ranked WHERE rn <= t.v), 0) AS BIGINT) AS covered,
         |       floor(CAST(COALESCE((SELECT SUM(c) FROM ranked WHERE rn <= t.v), 0) AS DOUBLE)
         |             / total.n_tokens * 1e6 + 0.5) / 1e6 AS coverage
         |FROM (VALUES (8), (16), (32), (64)) AS t(v), total
         |ORDER BY vocab_size""".stripMargin,

    // naive all-pairs posting join — row-identical to the registered
    // prefix-filtered path by the exact-recall guarantee; every rounding
    // point (6dp half-up → DECIMAL(18,6) sums → double) mirrors
    // AllPairs.tfidfUnitWeights / tfidfNearDupPairs term for term
    "allpairs_tfidf" ->
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < $EvalSampleBound),
         |tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($sqlTokens) AS token FROM d)
         |  GROUP BY doc_id, token),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
         |dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS sdf FROM tf GROUP BY token),
         |w AS (
         |  SELECT tf.doc_id, tf.token,
         |         floor(CAST(tf.tf AS DOUBLE) * (ln(CAST(1 + nn.n AS DOUBLE) / (1 + dfc.sdf)) + 1.0) * 1e6 + 0.5) / 1e6 AS w
         |  FROM tf JOIN dfc USING (token), nn),
         |nrm AS (
         |  SELECT doc_id,
         |         sqrt(CAST(SUM(CAST(floor(w*w*1e6 + 0.5)/1e6 AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
         |  FROM w GROUP BY doc_id),
         |u AS (
         |  SELECT w.doc_id, w.token, floor(w.w / nrm.nrm * 1e6 + 0.5)/1e6 AS u
         |  FROM w JOIN nrm USING (doc_id))
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared,
         |         CAST(SUM(CAST(floor(a.u*b.u*1e6 + 0.5)/1e6 AS DECIMAL(18,6))) AS DOUBLE) AS cos
         |  FROM u a JOIN u b ON a.token = b.token AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |WHERE cos >= 0.9
         |ORDER BY a_id, b_id""".stripMargin,

    "sorted_neighborhood_dup" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS skey
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, substr(skey, 1, 8) AS blk,
         |         row_number() OVER (PARTITION BY substr(skey, 1, 8)
         |                            ORDER BY skey, doc_id) AS rn
         |  FROM k),
         |cand AS (
         |  SELECT least(a.doc_id, b.doc_id) AS a_id,
         |         greatest(a.doc_id, b.doc_id) AS b_id
         |  FROM r a JOIN r b
         |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 7),
         |sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents)
         |SELECT * FROM (
         |  SELECT c.a_id, c.b_id, ${sqlJaccard("a", "b")} AS jaccard
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.a_id
         |  JOIN sh b ON b.doc_id = c.b_id)
         |WHERE jaccard >= 0.25
         |ORDER BY a_id, b_id""".stripMargin,

    "edit_distance_dedup" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS skey
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, skey, substr(skey, 1, 8) AS blk,
        |         row_number() OVER (PARTITION BY substr(skey, 1, 8)
        |                            ORDER BY skey, doc_id) AS rn
        |  FROM k),
        |cand AS (
        |  SELECT least(a.doc_id, b.doc_id) AS a_id,
        |         greatest(a.doc_id, b.doc_id) AS b_id
        |  FROM r a JOIN r b
        |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 7)
        |SELECT * FROM (
        |  SELECT c.a_id, c.b_id,
        |         floor((1.0 - CAST(levenshtein(ka.skey, kb.skey) AS DOUBLE)
        |                / greatest(len(ka.skey), len(kb.skey))) * 1e6 + 0.5)
        |           / 1e6 AS edit_sim
        |  FROM cand c JOIN k ka ON ka.doc_id = c.a_id
        |              JOIN k kb ON kb.doc_id = c.b_id)
        |WHERE edit_sim >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "containment_dup" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         |kept AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle,
         |           COUNT(*) OVER (PARTITION BY shingle) AS df FROM post)
         |  WHERE df <= 50),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM kept a JOIN kept b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.a_id, c.b_id,
         |         len(list_intersect(sa.sh, sb.sh)) AS inter,
         |         len(sa.sh) AS la, len(sb.sh) AS lb
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
         |              JOIN sh sb ON sb.doc_id = c.b_id)
         |SELECT a_id, b_id, CAST(inter AS DOUBLE) / la AS containment_a,
         |       CAST(inter AS DOUBLE) / lb AS containment_b
         |FROM pairs
         |WHERE greatest(CAST(inter AS DOUBLE) / la,
         |               CAST(inter AS DOUBLE) / lb) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "rrf_fusion" ->
      s"""WITH dl AS (SELECT doc_id, len($sqlTokens) AS dl FROM documents),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($sqlTokens) AS token FROM documents)
         |  WHERE token IN ('spark', 'join', 'window')
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |scored AS (
         |  SELECT tf.doc_id,
         |         floor(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |               * tf.tf * 2.2
         |               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         |               * 1e6 + 0.5) / 1e6 AS term_score
         |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         |b AS (
         |  SELECT doc_id,
         |         CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS bm25
         |  FROM scored GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT 50),
         |br AS (SELECT doc_id AS id,
         |              CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
         |                   AS BIGINT) AS bm25_rank FROM b),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |      FROM embeddings),
         |cs AS (SELECT c.vec_id AS id, ${sqlCos("q", "c")} AS cos
         |       FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id <> 0),
         |cr AS (SELECT id, cos_rank FROM (
         |         SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id)
         |                         AS BIGINT) AS cos_rank FROM cs)
         |       WHERE cos_rank <= 50),
         |f AS (SELECT COALESCE(br.id, cr.id) AS doc_id, br.bm25_rank, cr.cos_rank
         |      FROM br FULL OUTER JOIN cr ON br.id = cr.id)
         |SELECT doc_id, bm25_rank, cos_rank,
         |       floor((COALESCE(1.0 / (60 + bm25_rank), 0.0)
         |              + COALESCE(1.0 / (60 + cos_rank), 0.0)) * 1e6 + 0.5)
         |         / 1e6 AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "zipf_slope" ->
      s"""WITH tok AS (SELECT unnest($sqlTokens) AS token FROM documents),
         |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |top AS (SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 200),
         |rk AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token)
         |                        AS BIGINT) AS rank FROM top),
         |terms AS (
         |  SELECT floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
         |         floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
         |  FROM rk),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
         |  FROM terms)
         |SELECT n AS n_terms,
         |       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)
         |         / 1e6 AS slope,
         |       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
         |             * 1e6 + 0.5) / 1e6 AS intercept
         |FROM agg""".stripMargin,

    "readability_flesch" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len($sqlTokens) AS BIGINT) AS n_words,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
         |      AS n_sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         |      AS n_syllables
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_words, n_sentences, n_syllables,
         |    floor((206.835
         |           - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         |           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
         |          * 1e6 + 0.5) / 1e6 AS flesch
         |  FROM t WHERE n_words > 0)
         |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
         |       CASE WHEN flesch >= 60.0 THEN 'easy'
         |            WHEN flesch >= 30.0 THEN 'standard'
         |            ELSE 'difficult' END AS band
         |FROM f ORDER BY doc_id""".stripMargin,

    "good_turing_counts" ->
      s"""WITH tok AS (SELECT unnest($sqlBigrams) AS g FROM documents),
         |tf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
         |nc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c FROM tf GROUP BY c),
         |tot AS (SELECT CAST(SUM(c * n_c) AS BIGINT) AS n_total FROM nc)
         |SELECT nc.c, nc.n_c,
         |       CAST(COALESCE(n2.n_c, 0) AS BIGINT) AS n_c_plus_1,
         |       floor((nc.c + 1) * CAST(COALESCE(n2.n_c, 0) AS DOUBLE) / nc.n_c
         |             * 1e6 + 0.5) / 1e6 AS gt_count,
         |       floor(nc.c * CAST(nc.n_c AS DOUBLE) / n_total * 1e6 + 0.5) / 1e6
         |         AS mass_share
         |FROM nc LEFT JOIN nc n2 ON n2.c = nc.c + 1, tot
         |WHERE nc.c <= 10
         |ORDER BY nc.c""".stripMargin,

    "heaps_law_fit" ->
      s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM documents),
         |tok AS (SELECT ((doc_id - lo) * 10) // (hi - lo) AS bucket,
         |               unnest($sqlTokens) AS token
         |        FROM documents, b),
         |f AS (SELECT MIN(bucket) AS bucket FROM tok GROUP BY token),
         |nf AS (SELECT bucket, COUNT(*) AS new_tokens FROM f GROUP BY bucket),
         |tot AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket),
         |curve AS (
         |  SELECT CAST(SUM(COALESCE(new_tokens, 0)) OVER (ORDER BY bucket
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v,
         |         CAST(SUM(COALESCE(n_tokens, 0)) OVER (ORDER BY bucket
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nn
         |  FROM tot FULL OUTER JOIN nf USING (bucket)),
         |pts AS (
         |  SELECT floor(ln(CAST(nn AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
         |         floor(ln(CAST(v AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
         |  FROM curve WHERE nn > 0 AND v > 0),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
         |  FROM pts)
         |SELECT n AS n_points,
         |       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5)
         |         / 1e6 AS beta,
         |       floor(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
         |             / n) * 1e6 + 0.5) / 1e6 AS k_coef
         |FROM agg""".stripMargin,

    "doc_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |c AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM tok GROUP BY 1, 2),
         |n AS (SELECT doc_id, c,
         |             CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
         |      FROM c),
         |t AS (SELECT doc_id, n,
         |             floor(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
         |                   * 1e6 + 0.5) / 1e6 AS term
         |      FROM n)
         |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS entropy
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "cosine_topk" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${sqlCos("q", "c")} AS cos
         |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
         |SELECT query_id, rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "mmr_select" -> sqlMmr,

    "text_tiling" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |tok AS (SELECT doc_id, (pos - 1) // $TileBlockTokens AS blk, tok FROM (
         |          SELECT doc_id, unnest(ts) AS tok,
         |                 generate_subscripts(ts, 1) AS pos FROM t)),
         |tf AS (SELECT doc_id, blk, tok, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM tok GROUP BY 1, 2, 3),
         |dots AS (SELECT a.doc_id, a.blk, SUM(a.c * b.c) AS dot
         |         FROM tf a JOIN tf b ON a.doc_id = b.doc_id
         |           AND b.blk = a.blk + 1 AND a.tok = b.tok
         |         GROUP BY 1, 2),
         |norms AS (SELECT doc_id, blk, SUM(c * c) AS nn FROM tf GROUP BY 1, 2),
         |gaps AS (SELECT na.doc_id, na.blk AS gap,
         |           floor(CAST(COALESCE(d.dot, 0) AS DOUBLE)
         |                 / sqrt(CAST(na.nn AS DOUBLE) * nb.nn) * 1e6 + 0.5) / 1e6 AS sim
         |         FROM norms na JOIN norms nb ON na.doc_id = nb.doc_id
         |           AND nb.blk = na.blk + 1
         |         LEFT JOIN dots d ON d.doc_id = na.doc_id AND d.blk = na.blk),
         |m AS (SELECT doc_id,
         |        CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS doc_mean,
         |        CAST(COUNT(*) AS BIGINT) AS n_gaps
         |      FROM gaps GROUP BY doc_id)
         |SELECT g.doc_id, g.gap, m.n_gaps, g.sim, g.sim < m.doc_mean AS is_boundary
         |FROM gaps g JOIN m USING (doc_id)
         |ORDER BY g.doc_id, g.gap""".stripMargin,

    "hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(c.label AS BIGINT) AS neg_label, ${sqlCos("q", "c")} AS cos
         |  FROM v q JOIN v c
         |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label <> q.label)
         |SELECT query_id, rank, neighbor_id, neg_label, cos FROM (
         |  SELECT query_id, neighbor_id, neg_label, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "cosine_near_dup" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT * FROM (
         |  SELECT q.vec_id AS a_id, c.vec_id AS b_id, ${sqlCos("q", "c")} AS cos
         |  FROM v q JOIN v c ON q.vec_id < c.vec_id)
         |WHERE cos >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,

    "cosine_cross_near_dup" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT * FROM (
         |  SELECT b.vec_id AS b_id, c.vec_id AS c_id,
         |         ${sqlCos("b", "c")} AS cos
         |  FROM v b JOIN v c ON b.vec_id % 2 <> 0 AND c.vec_id % 2 = 0)
         |WHERE cos >= 0.4
         |ORDER BY b_id, c_id""".stripMargin,

    "lsh_cosine_near_dup" ->
      lshPairOracle(nPlanes = 4, dim = 64, threshold = "0.4", radius = 1),

    "label_centroids" ->
      """WITH v AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v)
        |SELECT label, pos,
        |       CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) / COUNT(*) AS m
        |FROM ex
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,

    "centroid_dispersion" ->
      """WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |cm AS (
        |  SELECT label, pos,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY label, pos),
        |cv AS (SELECT label, list(m ORDER BY pos) AS c FROM cm GROUP BY label),
        |sc AS (
        |  SELECT v.label, v.vec_id,
        |         list_sum(list_transform(list_zip(v.e, cv.c), s -> s[1]*s[2])) /
        |         NULLIF(sqrt(list_sum(list_transform(v.e, x -> x*x)))
        |                * sqrt(list_sum(list_transform(cv.c, x -> x*x))), 0) AS cos
        |  FROM v JOIN cv USING (label))
        |SELECT label, COUNT(*) AS n,
        |       CAST(SUM(CAST(cos AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_cos,
        |       MIN(cos) AS min_cos
        |FROM sc GROUP BY label
        |ORDER BY label""".stripMargin,

    "silhouette_proxy" ->
      """WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |cm AS (
        |  SELECT label, pos,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY label, pos),
        |cv AS (SELECT label AS clabel, list(m ORDER BY pos) AS c FROM cm GROUP BY label),
        |d AS (
        |  SELECT v.vec_id, v.label, cv.clabel,
        |         sqrt(list_sum(list_transform(list_zip(v.e, cv.c),
        |              p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM v CROSS JOIN cv),
        |ab AS (
        |  SELECT vec_id, label,
        |         MIN(CASE WHEN clabel = label THEN dist END) AS a,
        |         MIN(CASE WHEN clabel <> label THEN dist END) AS b
        |  FROM d GROUP BY vec_id, label),
        |sil AS (
        |  SELECT label,
        |         CASE WHEN greatest(a, b) = 0.0 THEN 0.0
        |              ELSE floor((b - a) / greatest(a, b) * 1e9 + 0.5) / 1e9 END AS sil
        |  FROM ab)
        |SELECT label, COUNT(*) AS n,
        |       CAST(SUM(CAST(sil AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_sil,
        |       MIN(sil) AS min_sil
        |FROM sil GROUP BY label
        |ORDER BY label""".stripMargin,

    "embedding_quantize" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
        |sc AS (SELECT vec_id, e,
        |              CASE WHEN mx = 0 THEN NULL ELSE 127.0 / mx END AS scale
        |       FROM m)
        |SELECT vec_id, scale,
        |       array_to_string(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS INT)), ',') AS q
        |FROM sc
        |ORDER BY vec_id""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH d AS (SELECT doc_id, source, lang, n_chars,
         |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
         |       $sqlQualityExpr AS score
         |FROM documents)
         |SELECT doc_id, source, lang, score FROM (
         |  SELECT doc_id, source, lang, score,
         |         row_number() OVER (PARTITION BY norm
         |           ORDER BY score DESC, n_chars, doc_id) AS rn
         |  FROM d)
         |WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    "quality_percentile_filter" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |       $sqlQualityExpr AS score
         |FROM documents)
         |SELECT doc_id, lang, score, pr FROM (
         |  SELECT doc_id, lang, score,
         |         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr
         |  FROM d)
         |WHERE pr >= 0.5
         |ORDER BY doc_id""".stripMargin,

    "source_similarity" ->
      s"""WITH st AS (
         |  SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(list_distinct($sqlTokens)) AS tok FROM documents)),
         |sz AS (SELECT source, COUNT(*) AS sz FROM st GROUP BY source),
         |i AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
         |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, inter,
         |       inter / (sa.sz + sb.sz - inter) AS jaccard
         |FROM i JOIN sz sa ON sa.source = i.src_a
         |       JOIN sz sb ON sb.source = i.src_b
         |ORDER BY src_a, src_b""".stripMargin,

    "line_dedup" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, len(ls))) AS pos,
        |         unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
        |b AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY line)
        |  WHERE nd > 2),
        |a AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM l ANTI JOIN b USING (line)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "hash_sample" ->
      s"""SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE ${sqlSampleHash("doc_id", 100)} < 10
        |ORDER BY doc_id""".stripMargin,

    "near_dedup_keep" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5)
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT b_id FROM pairs)
         |ORDER BY doc_id""".stripMargin,

    "component_keep_best" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT id, MIN(comp) AS comp FROM (
         |    SELECT src AS id, dst AS comp FROM reach
         |    UNION SELECT src AS id, src AS comp FROM edges)
         |  GROUP BY id),
         |fam AS (
         |  SELECT d.doc_id, d.source, d.lang, d.n_chars,
         |         COALESCE(c.comp, d.doc_id) AS family,
         |         $sqlQualityExpr AS score
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |keep AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY family
         |             ORDER BY score DESC, n_chars ASC, doc_id ASC) AS rk
         |    FROM fam) WHERE rk = 1)
         |SELECT f.doc_id, f.source, f.lang, f.score
         |FROM fam f JOIN keep USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "near_dup_components" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT id, MIN(comp) AS comp FROM (
         |  SELECT src AS id, dst AS comp FROM reach
         |  UNION SELECT src AS id, src AS comp FROM edges)
         |GROUP BY id
         |ORDER BY id""".stripMargin,

    "incremental_dedup" ->
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |batch AS (SELECT * FROM documents WHERE doc_id % 2 <> 0),
         |noexact AS (
         |  SELECT b.* FROM batch b
         |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)),
         |shb AS (SELECT doc_id, $sqlShingleHashes AS sh FROM noexact),
         |shc AS (SELECT doc_id, $sqlShingleHashes AS sh FROM corpus),
         |matched AS (
         |  SELECT DISTINCT shb.doc_id
         |  FROM shb JOIN shc ON
         |    ${sqlJaccard("shb", "shc")} >= 0.5)
         |SELECT doc_id, source, lang FROM noexact
         |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
         |ORDER BY doc_id""".stripMargin,

    "stratified_sample" ->
      s"""SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY ${sqlSampleHash("doc_id", 1000000007L)}, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20
        |ORDER BY source, rn""".stripMargin,

    "repetition_score" ->
      s"""WITH wf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_word_frac, SUM(c) AS n_words
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlTokens) AS w FROM documents)
         |        GROUP BY doc_id, w)
         |  GROUP BY doc_id),
         |gf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac, SUM(c) AS n_bigrams
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlBigrams) AS g FROM documents)
         |        GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |lf AS (
         |  SELECT doc_id,
         |         (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE) AS dup_line_frac
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents))
         |SELECT d.doc_id, wf.top_word_frac, gf.top_bigram_frac, lf.dup_line_frac,
         |       (COALESCE(wf.top_word_frac <= 0.5 OR wf.n_words < $RepMinMass, TRUE)
         |        AND COALESCE(gf.top_bigram_frac <= 0.2 OR gf.n_bigrams < $RepMinMass, TRUE)
         |        AND COALESCE(lf.dup_line_frac <= 0.3, TRUE)) AS keep
         |FROM documents d
         |LEFT JOIN wf USING (doc_id)
         |LEFT JOIN gf USING (doc_id)
         |JOIN lf USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "corpus_curation" ->
      s"""WITH wf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_word_frac, SUM(c) AS n_words
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlTokens) AS w FROM documents)
         |        GROUP BY doc_id, w)
         |  GROUP BY doc_id),
         |gf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac, SUM(c) AS n_bigrams
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlBigrams) AS g FROM documents)
         |        GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |lf AS (
         |  SELECT doc_id,
         |         (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE) AS dup_line_frac
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
         |kept AS (
         |  SELECT d.doc_id, d.text, d.source, d.lang
         |  FROM documents d
         |  LEFT JOIN wf USING (doc_id)
         |  LEFT JOIN gf USING (doc_id)
         |  JOIN lf USING (doc_id)
         |  WHERE COALESCE(wf.top_word_frac <= 0.5 OR wf.n_words < $RepMinMass, TRUE)
         |    AND COALESCE(gf.top_bigram_frac <= 0.2 OR gf.n_bigrams < $RepMinMass, TRUE)
         |    AND COALESCE(lf.dup_line_frac <= 0.3, TRUE)
         |    AND (CASE WHEN len($sqlTokens) BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
         |         + CASE WHEN $sqlStopwordHits > 0 THEN 1 ELSE 0 END
         |         + CASE WHEN list_max(list_transform($sqlTokens, t -> len(t))) <= 10 THEN 1 ELSE 0 END
         |         + CASE WHEN len(list_distinct($sqlTokens)) * 3 >= len($sqlTokens) THEN 1 ELSE 0 END) >= 2),
         |surv AS (
         |  SELECT k.* FROM kept k
         |  JOIN (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text) m USING (doc_id)),
         |sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM surv),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5)
         |SELECT doc_id, source, lang FROM surv
         |WHERE doc_id NOT IN (SELECT b_id FROM pairs)
         |ORDER BY doc_id""".stripMargin,

    "pii_scrub" ->
      s"""SELECT doc_id,
         |       ${sqlPiiScrub("text")} AS scrubbed,
         |       len(regexp_extract_all(text, '$EmailRe')) AS n_email,
         |       len(regexp_extract_all(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe')) AS n_phone,
         |       len(regexp_extract_all(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$NumberRe')) AS n_number
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "corpus_mixture" -> {
      val cases = MixtureRates.map { case (src, r) =>
        s"WHEN source = '$src' THEN $r"
      }.mkString(" ")
      s"""SELECT doc_id, source, lang
         |FROM documents
         |WHERE ${sqlSampleHash("doc_id", 1000)} <
         |      (CASE $cases ELSE $MixtureDefault END)
         |ORDER BY doc_id""".stripMargin
    },

    "token_shards" ->
      s"""SELECT doc_id, source, n_tok,
         |       CAST(floor((cum - n_tok) / 2000.0) AS BIGINT) AS shard_id
         |FROM (
         |  SELECT doc_id, source, len($sqlTokens) AS n_tok,
         |         SUM(len($sqlTokens)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |st AS (
         |  SELECT doc_id, ts,
         |         unnest(generate_series(1, 1 + 48 * ((greatest(len(ts) - 64, 0) + 47) // 48), 48)) AS start
         |  FROM t)
         |SELECT doc_id,
         |       (start - 1) // 48 AS chunk_id,
         |       len(ts[start:start+63]) AS chunk_tokens,
         |       array_to_string(ts[start:start+63], ' ') AS chunk_text
         |FROM st
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "decontaminate" -> {
      val grams8 = s"list_distinct(${TextOps.sqlGrams(8)})"
      s"""WITH bg AS (
         |  SELECT DISTINCT unnest($grams8) AS gram FROM documents WHERE doc_id < 5),
         |hits AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest($grams8) AS gram FROM documents WHERE doc_id >= 5) cg
         |  JOIN bg USING (gram))
         |SELECT doc_id, source FROM documents
         |WHERE doc_id >= 5 AND doc_id NOT IN (SELECT doc_id FROM hits)
         |ORDER BY doc_id""".stripMargin
    },

    "bloom_decontaminate" -> {
      // the Bloom stage is a pure prefilter confirmed by the exact join,
      // so the oracle is the plain join semantics
      val grams7 = s"list_distinct(${TextOps.sqlGrams(7)})"
      s"""WITH bg AS (
         |  SELECT DISTINCT unnest($grams7) AS gram FROM documents WHERE doc_id < 8),
         |hits AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest($grams7) AS gram FROM documents WHERE doc_id >= 8) cg
         |  JOIN bg USING (gram))
         |SELECT doc_id, source FROM documents
         |WHERE doc_id >= 8 AND doc_id NOT IN (SELECT doc_id FROM hits)
         |ORDER BY doc_id""".stripMargin
    },

    "unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT SUM(cnt) AS total_tok FROM c)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_tok,
         |       round(CAST(SUM(CAST(round(-ln(cnt / total_tok), 6) AS DECIMAL(18,6))) AS DOUBLE)
         |             / COUNT(*), 6) AS avg_surprisal
         |FROM tok JOIN c USING (token), tot
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "term_dispersion" ->
      s"""WITH cnt AS MATERIALIZED (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS v
         |  FROM (SELECT source, unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY 1, 2),
         |f AS (SELECT token, CAST(SUM(v) AS BIGINT) AS f,
         |             CAST(COUNT(*) AS BIGINT) AS n_sources
         |      FROM cnt GROUP BY 1),
         |mass AS (SELECT source, CAST(SUM(v) AS BIGINT) AS ms FROM cnt GROUP BY 1),
         |mt AS (SELECT CAST(SUM(v) AS BIGINT) AS mt FROM cnt),
         |terms AS (
         |  SELECT cnt.token, f.f, f.n_sources,
         |         CAST(floor(abs(CAST(cnt.v AS DOUBLE) / f.f -
         |                        CAST(mass.ms AS DOUBLE) / mt.mt) * 1e8 + 5e-1) / 1e8
         |              AS DECIMAL(18,8)) AS t1,
         |         CAST(floor(CAST(mass.ms AS DOUBLE) / mt.mt * 1e8 + 5e-1) / 1e8
         |              AS DECIMAL(18,8)) AS t2
         |  FROM cnt JOIN mass USING (source) JOIN f USING (token), mt)
         |SELECT token, f AS n_occurrences, n_sources,
         |       floor((CAST(SUM(t1) AS DOUBLE) + (1.0 - CAST(SUM(t2) AS DOUBLE))) / 2.0
         |             * 1e6 + 5e-1) / 1e6 AS dp
         |FROM terms GROUP BY token, f, n_sources
         |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,

    "doremi_weights" ->
      s"""WITH tok AS (SELECT source, unnest($sqlTokens) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT SUM(cnt) AS total_tok FROM c),
         |per AS MATERIALIZED (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |         floor(CAST(SUM(CAST(floor(-ln(cnt / total_tok) * 1e6 + 5e-1) / 1e6
         |                              AS DECIMAL(18,6))) AS DOUBLE)
         |               / COUNT(*) * 1e6 + 5e-1) / 1e6 AS avg_surprisal
         |  FROM tok JOIN c USING (token), tot GROUP BY source),
         |base AS (SELECT MIN(avg_surprisal) AS amin, SUM(n_tok) AS nt FROM per),
         |nums AS MATERIALIZED (
         |  SELECT source, n_tok, avg_surprisal,
         |         floor((avg_surprisal - amin) * 1e6 + 5e-1) / 1e6 AS excess,
         |         CAST(floor((CAST(n_tok AS DOUBLE) / nt) *
         |                    (floor(exp(floor((avg_surprisal - amin) * 1e6 + 5e-1) / 1e6)
         |                           * 1e6 + 5e-1) / 1e6) * 1e8 + 5e-1) / 1e8
         |              AS DECIMAL(18,8)) AS num
         |  FROM per, base),
         |z AS (SELECT CAST(SUM(num) AS DOUBLE) AS z FROM nums)
         |SELECT source, n_tok, avg_surprisal, excess,
         |       floor(CAST(num AS DOUBLE) / z * 1e6 + 5e-1) / 1e6 AS weight
         |FROM nums, z ORDER BY source""".stripMargin,

    "bigram_logprob" ->
      s"""WITH bg AS (SELECT doc_id, unnest($sqlBigrams) AS g FROM documents),
         |b2 AS (SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM bg),
         |cb AS (SELECT g, COUNT(*) AS cb FROM b2 GROUP BY g),
         |cw AS (SELECT w1, COUNT(*) AS cw FROM b2 GROUP BY w1)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       floor((CAST(SUM(CAST(floor((-ln(cb / cw)) * 1000000.0 + 0.5) / 1000000.0
         |                          AS DECIMAL(18,6))) AS DOUBLE)
         |              / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_surprisal
         |FROM b2 JOIN cb USING (g) JOIN cw USING (w1)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "source_minhash_sim" -> {
      val mhCols = MinhashParams.zipWithIndex
        .map { case ((a, b), i) => s"MIN((h*$a + $b) % $MinhashP) AS mh$i" }
        .mkString(",\n       ")
      val matchSum = MinhashParams.indices
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS (SELECT source, unnest($sqlShingleHashes) AS h FROM documents),
         |sig AS (
         |  SELECT source,
         |       $mhCols
         |  FROM sh GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       ($matchSum) / ${MinhashParams.length} AS est_jaccard
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY src_a, src_b""".stripMargin
    },

    "token_freq" ->
      s"""SELECT token, COUNT(*) AS n
         |FROM (SELECT unnest($sqlTokens) AS token FROM documents)
         |GROUP BY token
         |ORDER BY n DESC, token
         |LIMIT 20""".stripMargin,

    "vocab_growth" ->
      s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM documents),
         |tok AS (SELECT ((doc_id - lo) * 10) // (hi - lo) AS bucket,
         |               unnest($sqlTokens) AS token
         |        FROM documents, b),
         |f AS (SELECT MIN(bucket) AS bucket FROM tok GROUP BY token),
         |nf AS (SELECT bucket, COUNT(*) AS new_tokens FROM f GROUP BY bucket),
         |tot AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket)
         |SELECT bucket,
         |       COALESCE(n_tokens, 0) AS n_tokens,
         |       COALESCE(new_tokens, 0) AS new_tokens,
         |       CAST(SUM(COALESCE(new_tokens, 0)) OVER (ORDER BY bucket
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab,
         |       CAST(SUM(COALESCE(n_tokens, 0)) OVER (ORDER BY bucket
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM tot FULL OUTER JOIN nf USING (bucket)
         |ORDER BY bucket""".stripMargin,

    "distinctive_terms" ->
      s"""WITH tok AS (SELECT source, unnest($sqlTokens) AS token FROM documents),
         |st AS (SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY source, token),
         |srct AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS src_n FROM st GROUP BY source),
         |corp AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM st GROUP BY token),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS all_n FROM st),
         |scored AS (
         |  SELECT st.source, st.token, st.tf,
         |         floor((st.tf / srct.src_n) / (corp.ctf / tot.all_n) * 1e6 + 0.5) / 1e6 AS lift
         |  FROM st JOIN srct USING (source) JOIN corp USING (token), tot
         |  WHERE st.tf >= 5)
         |SELECT source, rank, token, tf, lift FROM (
         |  SELECT source, token, tf, lift,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY lift DESC, token) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin,

    "doc_len_quantiles" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       quantile_cont(n_chars, 0.25) AS p25,
        |       quantile_cont(n_chars, 0.5) AS p50,
        |       quantile_cont(n_chars, 0.75) AS p75
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "corpus_stats" ->
      s"""SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
         |       COUNT(DISTINCT token) AS n_distinct_tokens
         |FROM (SELECT source, doc_id, unnest($sqlTokens) AS token FROM documents)
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |       CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "unicode_nfc" ->
      """SELECT doc_id,
        |       nfc_normalize(text || ' cafe' || chr(769)) AS norm_text,
        |       CAST(length(text || ' cafe' || chr(769))
        |            - length(nfc_normalize(text || ' cafe' || chr(769))) AS BIGINT) AS chars_folded
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "tfidf_top_terms" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |         round(tf.tf * (ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
         |  FROM tf JOIN df USING (token))
         |SELECT doc_id, rank, token, tf, df, tfidf FROM (
         |  SELECT doc_id, token, tf, df, tfidf,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
         |  FROM scored)
         |WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    "ann_lsh_topk" -> lshAnnOracle(nPlanes = 4, dim = 64, k = 10),

    "ann_recall" -> annRecallOracle(nPlanes = 4, dim = 64, k = 10),

    "ann_ivf_topk" -> ivfAnnOracle(nClusters = 16, nProbe = 4, k = 10, iters = 2),

    "ccnet_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT SUM(cnt) AS total_tok FROM c),
         |surp AS (
         |  SELECT doc_id,
         |         floor(CAST(SUM(CAST(floor(-ln(cnt / total_tok) * 1e6 + 0.5) / 1e6
         |                              AS DECIMAL(18,6))) AS DOUBLE)
         |               / COUNT(*) * 1e6 + 0.5) / 1e6 AS surp
         |  FROM tok JOIN c USING (token), tot
         |  GROUP BY doc_id),
         |pv AS (SELECT surp, CAST(COUNT(*) AS BIGINT) AS c FROM surp GROUP BY surp),
         |rk AS (
         |  SELECT surp,
         |         CAST(COALESCE(SUM(c) OVER (ORDER BY surp
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_c
         |  FROM pv),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_scored FROM surp),
         |b AS (
         |  SELECT d.source,
         |         CASE WHEN rk.cum_c * 3 < nt.n_scored THEN 'head'
         |              WHEN rk.cum_c * 3 < nt.n_scored * 2 THEN 'middle'
         |              ELSE 'tail' END AS bucket
         |  FROM surp
         |  JOIN rk USING (surp)
         |  JOIN documents d USING (doc_id)
         |  CROSS JOIN nt),
         |g AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM b GROUP BY source, bucket)
         |SELECT g.source, g.bucket, g.n,
         |       floor(CAST(g.n AS DOUBLE) / st.src_tot * 1e6 + 0.5) / 1e6 AS share
         |FROM g
         |JOIN (SELECT source, CAST(SUM(n) AS BIGINT) AS src_tot FROM g GROUP BY source) st
         |  USING (source)
         |ORDER BY g.source, g.bucket""".stripMargin,

    "vector_norm_profile" ->
      """WITH n AS (
        |  SELECT label,
        |         sqrt(CASE WHEN len(e) = 0 THEN 0.0
        |              ELSE list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)
        |              END) AS nrm
        |  FROM (SELECT label, list_transform(embedding, u -> CAST(u AS DOUBLE)) AS e
        |        FROM embeddings)),
        |stats AS (
        |  SELECT label, quantile_cont(nrm, 0.25) AS q1, median(nrm) AS med,
        |         quantile_cont(nrm, 0.75) AS q3
        |  FROM n GROUP BY label)
        |SELECT n.label, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       floor(MAX(med) * 1e6 + 0.5) / 1e6 AS median_norm,
        |       floor(MAX(q3 - q1) * 1e6 + 0.5) / 1e6 AS iqr,
        |       CAST(SUM(CASE WHEN abs(nrm - med) > (q3 - q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM n JOIN stats USING (label)
        |GROUP BY n.label
        |ORDER BY n.label""".stripMargin,

    "label_noise_knn" ->
      s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |${ivfChainCtes(8, 2)},
         |pairs AS (
         |  SELECT aa.vec_id AS vec_id, ab.vec_id AS nb_id,
         |         a.label AS la, b.label AS lb,
         |         ${sqlCos("a", "b")} AS cos
         |  FROM assign aa JOIN assign ab ON aa.cl = ab.cl AND aa.vec_id <> ab.vec_id
         |  JOIN v a ON a.vec_id = aa.vec_id
         |  JOIN v b ON b.vec_id = ab.vec_id),
         |ranked AS (
         |  SELECT vec_id, la, lb,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nb_id) AS rk
         |  FROM pairs WHERE cos IS NOT NULL)
         |SELECT vec_id, la AS label,
         |       CAST(COUNT(*) AS BIGINT) AS k_found,
         |       floor(CAST(SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS DOUBLE)
         |             / COUNT(*) * 1e6 + 0.5) / 1e6 AS agreement,
         |       (SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) * 2 < COUNT(*)) AS suspect
         |FROM ranked
         |WHERE rk <= 5
         |GROUP BY vec_id, la
         |ORDER BY vec_id""".stripMargin,

    "semantic_dedup" -> semanticDedupOracle(nClusters = 8, iters = 2,
      threshold = "0.4"),

    "cluster_balance" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |${ivfChainCtes(nClusters = 8, iters = 2)},
         |cnt AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY cl),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM assign)
         |SELECT s.cl AS cluster,
         |       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_members,
         |       floor(CAST(COALESCE(cnt.n, 0) AS DOUBLE) / tot.total * 1e6 + 0.5) / 1e6 AS share
         |FROM cent2 s LEFT JOIN cnt USING (cl), tot
         |ORDER BY cluster""".stripMargin,

    "cluster_purity" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |${ivfChainCtes(nClusters = 8, iters = 2)},
         |al AS (SELECT a.vec_id, a.cl, CAST(e2.label AS BIGINT) AS label
         |       FROM assign a JOIN embeddings e2 USING (vec_id)),
         |cc AS (SELECT cl, label, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM al GROUP BY 1, 2),
         |tot AS (SELECT cl, CAST(SUM(n) AS BIGINT) AS n_vecs FROM cc GROUP BY cl),
         |pick AS (SELECT cl, label AS top_label, n AS top_n,
         |                row_number() OVER (PARTITION BY cl
         |                                   ORDER BY n DESC, label) AS rn
         |         FROM cc)
         |SELECT t.cl AS cluster, t.n_vecs, p.top_label, p.top_n,
         |       floor(CAST(p.top_n AS DOUBLE) / t.n_vecs * 1e6 + 0.5) / 1e6 AS purity
         |FROM tot t JOIN pick p ON t.cl = p.cl AND p.rn = 1
         |ORDER BY cluster""".stripMargin,

    "ann_ivf_recall" -> ivfRecallOracle(nClusters = 16, nProbe = 4, k = 10, iters = 2),

    "pq_codebooks" -> pqCodebooksOracle,
    "ann_pq_topk" -> pqAdcTopKOracle(k = 10),
    "pq_recall" -> pqRecallOracle(k = 10),
    "rbo_rankings" -> rboOracle,
    "ann_ivfpq_topk" -> ivfPqTopKOracle(k = 10, coarseK = IvfPqCoarseK,
      nProbe = IvfPqProbe),
    "ivfpq_recall" -> ivfPqRecallOracle(k = 10, coarseK = IvfPqCoarseK,
      nProbe = IvfPqProbe),

    "map_eval" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |exs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${sqlCos("q", "c")} AS cos
         |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |top AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM exs)
         |  WHERE rank <= 10),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |rel AS (SELECT label AS q_label, CAST(COUNT(*) AS BIGINT) AS n_label_total
         |        FROM embeddings GROUP BY 1),
         |hits AS (
         |  SELECT t.query_id, t.rank,
         |         CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS hit
         |  FROM top t
         |  JOIN lab nl ON nl.vec_id = t.neighbor_id
         |  JOIN lab ql ON ql.vec_id = t.query_id),
         |cum AS (
         |  SELECT query_id, rank, hit,
         |         SUM(hit) OVER (PARTITION BY query_id ORDER BY rank) AS cum
         |  FROM hits),
         |ap AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |         CAST(SUM(CAST(floor(CAST(cum AS DOUBLE) / rank * 1e8 + 5e-1) / 1e8
         |                       AS DECIMAL(18,8))) AS DOUBLE) AS psum
         |  FROM cum WHERE hit = 1 GROUP BY 1)
         |SELECT q.vec_id AS query_id, q.label AS q_label,
         |       rel.n_label_total - 1 AS n_relevant,
         |       CAST(COALESCE(ap.n_hits, 0) AS BIGINT) AS n_hits,
         |       floor(COALESCE(ap.psum, 0.0) /
         |             CAST(nullif(least(10, rel.n_label_total - 1), 0) AS DOUBLE)
         |             * 1e6 + 5e-1) / 1e6 AS ap
         |FROM embeddings q
         |JOIN rel ON rel.q_label = q.label
         |LEFT JOIN ap ON ap.query_id = q.vec_id
         |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin,

    "mrr_eval" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |exs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${sqlCos("q", "c")} AS cos
         |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |top AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM exs)
         |  WHERE rank <= 10),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |hits AS (
         |  SELECT t.query_id, MIN(t.rank) AS first_hit_rank
         |  FROM top t
         |  JOIN lab nl ON nl.vec_id = t.neighbor_id
         |  JOIN lab ql ON ql.vec_id = t.query_id
         |  WHERE nl.label = ql.label GROUP BY 1)
         |SELECT q.vec_id AS query_id, q.label AS q_label, h.first_hit_rank,
         |       floor(COALESCE(1.0 / h.first_hit_rank, 0.0) * 1e6 + 5e-1) / 1e6 AS rr
         |FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
         |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin,

    "capture_recapture" ->
      s"""WITH ${sqlSigsBounded(EvalSampleBound)},
         |truth AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |bands AS (
         |${(0 until MinhashParams.size / BandRows).map(b =>
             s"  SELECT doc_id, $b AS band, mh${b * BandRows} AS h0, mh${b * BandRows + 1} AS h1 FROM sigs")
             .mkString("\n  UNION ALL\n")}
         |),
         |lshc AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id),
         |k AS (
         |  SELECT doc_id,
         |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS skey
         |  FROM documents WHERE doc_id < $EvalSampleBound),
         |r AS (
         |  SELECT doc_id, substr(skey, 1, 8) AS blk,
         |         row_number() OVER (PARTITION BY substr(skey, 1, 8)
         |                            ORDER BY skey, doc_id) AS rn
         |  FROM k),
         |snmc AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
         |         greatest(a.doc_id, b.doc_id) AS b_id
         |  FROM r a JOIN r b
         |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 7),
         |flags AS (
         |  SELECT (lshc.a_id IS NOT NULL) AS l, (snmc.a_id IS NOT NULL) AS sn
         |  FROM truth t
         |  LEFT JOIN lshc ON t.a_id = lshc.a_id AND t.b_id = lshc.b_id
         |  LEFT JOIN snmc ON t.a_id = snmc.a_id AND t.b_id = snmc.b_id),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs,
         |         CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |         CAST(SUM(CASE WHEN sn THEN 1 ELSE 0 END) AS BIGINT) AS n_snm,
         |         CAST(SUM(CASE WHEN l AND sn THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |  FROM flags)
         |SELECT true_pairs, n_lsh, n_snm, n_both,
         |       floor((CAST(n_lsh + 1 AS DOUBLE) * (n_snm + 1) / (n_both + 1) - 1.0)
         |             * 1e2 + 5e-1) / 1e2 AS chapman_estimate
         |FROM agg""".stripMargin,

    "ann_tuning_curve" -> annTuningCurveOracle(nPlanes = 4, dim = 64, k = 10,
      nClusters = 16, iters = 2),

    "unigram_sampling_table" ->
      s"""WITH c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM (SELECT unnest($sqlTokens) AS token FROM documents)
         |           GROUP BY token),
         |pw AS MATERIALIZED (
         |  SELECT token, cnt,
         |         floor(exp(0.75e0 * ln(CAST(cnt AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS w
         |  FROM c),
         |z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS z,
         |             CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM pw),
         |top AS (SELECT token, cnt, w FROM pw ORDER BY cnt DESC, token LIMIT 20)
         |SELECT top.token, top.cnt,
         |       floor(CAST(top.cnt AS DOUBLE) / z.n_tokens * 1e6 + 0.5) / 1e6 AS raw_prob,
         |       floor(top.w / z.z * 1e6 + 0.5) / 1e6 AS sampling_prob
         |FROM top, z
         |ORDER BY top.cnt DESC, top.token""".stripMargin,

    "bigram_entropy_rate" ->
      s"""WITH bgx AS (SELECT unnest($sqlBigrams) AS bg FROM documents),
         |b2 AS (SELECT string_split(bg, ' ')[1] AS w1, bg FROM bgx),
         |cb AS (SELECT w1, bg, CAST(COUNT(*) AS BIGINT) AS c12
         |       FROM b2 GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams FROM cb),
         |t AS (SELECT n.n_bigrams,
         |        CAST(-(CAST(cb.c12 AS DOUBLE) / n.n_bigrams)
         |             * ln(CAST(cb.c12 AS DOUBLE) / cu.c1) AS DECIMAL(28,18)) AS term
         |      FROM cb JOIN cu USING (w1), n)
         |SELECT n_bigrams,
         |       floor(CAST(SUM(term) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS entropy_rate,
         |       floor(exp(CAST(SUM(term) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS perplexity
         |FROM t GROUP BY n_bigrams""".stripMargin,

    "source_entropy" ->
      s"""WITH c AS (
         |  SELECT source, token, COUNT(*) AS c
         |  FROM (SELECT source, unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY source, token),
         |t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |             COUNT(*) AS vocab
         |      FROM c GROUP BY source),
         |j AS (SELECT c.source, t.n_tokens, t.vocab,
         |             CAST(c.c AS DOUBLE) / t.n_tokens AS p
         |      FROM c JOIN t USING (source))
         |SELECT source, n_tokens, vocab,
         |       floor(CAST(SUM(CAST(-(p * ln(p)) AS DECIMAL(28,18))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS entropy,
         |       floor(CAST(SUM(CAST(-(p * ln(p)) AS DECIMAL(28,18))) AS DOUBLE)
         |             / ln(CAST(vocab AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS norm_entropy
         |FROM j
         |GROUP BY source, n_tokens, vocab
         |ORDER BY source""".stripMargin,

    "weighted_sample" ->
      s"""SELECT doc_id, n_chars, floor(sample_key * 1e12 + 0.5) / 1e12 AS sample_key
         |FROM (
         |  SELECT doc_id, n_chars,
         |         -ln((${sqlSampleHash("doc_id", 1000000L)} + 1) / 1000001e0) / n_chars AS sample_key
         |  FROM documents WHERE n_chars > 0
         |  ORDER BY sample_key, doc_id LIMIT 100)
         |ORDER BY sample_key, doc_id""".stripMargin,

    "contamination_score" -> {
      val grams8 = s"list_distinct(${TextOps.sqlGrams(8)})"
      s"""WITH bg AS (
         |  SELECT DISTINCT unnest($grams8) AS gram FROM documents WHERE doc_id < 5),
         |cg AS (
         |  SELECT doc_id, unnest($grams8) AS gram FROM documents WHERE doc_id >= 5)
         |SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(bg.gram) AS n_hits,
         |       round(CAST(COUNT(bg.gram) AS DOUBLE) / COUNT(*), 6) AS score
         |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
         |GROUP BY cg.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    "stratified_weighted_sample" ->
      s"""WITH k AS (
         |  SELECT source, doc_id, n_chars,
         |         -ln((${sqlSampleHash("doc_id", 1000000L)} + 1) / 1000001e0) / n_chars AS sample_key
         |  FROM documents WHERE n_chars > 0)
         |SELECT source, doc_id, n_chars, rk, floor(sample_key * 1e12 + 0.5) / 1e12 AS sample_key
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |                                   ORDER BY sample_key, doc_id) AS rk
         |      FROM k)
         |WHERE rk <= 20
         |ORDER BY source, rk""".stripMargin,

    "train_val_test_split" ->
      s"""SELECT source,
         |       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM (SELECT source, n_chars, ${sqlSampleHash("doc_id", 10L)} AS b FROM documents)
         |GROUP BY source, split
         |ORDER BY source, split""".stripMargin,

    "leakage_safe_split" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT id, MIN(comp) AS comp FROM (
         |    SELECT src AS id, dst AS comp FROM reach
         |    UNION SELECT src AS id, src AS comp FROM edges)
         |  GROUP BY id),
         |sp AS (
         |  SELECT doc_id, source, n_chars,
         |         CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM (SELECT d.doc_id, d.source, d.n_chars,
         |               ${sqlSampleHash("COALESCE(c.comp, d.doc_id)", 10L)} AS b
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)),
         |cx AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_pairs
         |  FROM pairs p
         |  JOIN sp sa ON p.a_id = sa.doc_id
         |  JOIN sp sb ON p.b_id = sb.doc_id
         |  WHERE sa.split <> sb.split)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars, cross_split_pairs
         |FROM sp, cx
         |GROUP BY source, split, cross_split_pairs
         |ORDER BY source, split""".stripMargin,

    "component_size_hist" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT id, MIN(comp) AS comp FROM (
         |    SELECT src AS id, dst AS comp FROM reach
         |    UNION SELECT src AS id, src AS comp FROM edges)
         |  GROUP BY id),
         |fam AS (
         |  SELECT COALESCE(c.comp, d.doc_id) AS family,
         |         CAST(COUNT(*) AS BIGINT) AS family_size
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |  GROUP BY 1)
         |SELECT family_size, CAST(COUNT(*) AS BIGINT) AS n_families
         |FROM fam
         |GROUP BY family_size
         |ORDER BY family_size""".stripMargin,

    "inverted_index" ->
      s"""WITH post AS (
         |  SELECT DISTINCT doc_id, term
         |  FROM (SELECT doc_id, unnest($sqlBigrams) AS term FROM documents)),
         |band AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM post GROUP BY term
         |  HAVING COUNT(*) BETWEEN 3 AND 20)
         |SELECT b.term, b.df,
         |       array_to_string(list(p.doc_id ORDER BY p.doc_id), ',') AS postings
         |FROM post p JOIN band b USING (term)
         |GROUP BY b.term, b.df
         |ORDER BY b.term""".stripMargin,

    "bm25_search" ->
      s"""WITH $sqlBm25Ctes
         |SELECT doc_id, n_terms, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 50""".stripMargin,

    "ndcg_eval" -> sqlNdcg,

    "cms_heavy_hitters" -> {
      val width = 512L
      val params = TextOps.MinhashParams.take(4)
      def sqlBucket(th: String, a: Long, b: Long) =
        s"(($th * $a + $b) % ${TextOps.MinhashP}) % $width"
      val cellRows = params.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS d, ${sqlBucket("th", a, b)} AS bk, token FROM toks"
      }.mkString("\n         |  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT token, ${sqlTokenHash("token")} AS th
         |  FROM (SELECT unnest($sqlTokens) AS token FROM documents)),
         |cells AS (
         |  $cellRows),
         |counters AS (
         |  SELECT d, bk, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY d, bk),
         |top AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
         |         ${sqlTokenHash("token")} AS th
         |  FROM toks GROUP BY token
         |  ORDER BY exact_cnt DESC, token LIMIT 20),
         |probes AS (
         |  ${params.zipWithIndex.map { case ((a, b), i) =>
              s"SELECT token, exact_cnt, $i AS d, ${sqlBucket("th", a, b)} AS bk FROM top"
            }.mkString("\n         |  UNION ALL ")})
         |SELECT p.token, p.exact_cnt, MIN(c.cnt) AS cms_est
         |FROM probes p JOIN counters c ON p.d = c.d AND p.bk = c.bk
         |GROUP BY p.token, p.exact_cnt
         |ORDER BY exact_cnt DESC, token""".stripMargin
    },

    "dedup_rate_by_source" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_unique,
        |       floor((1.0 - COUNT(DISTINCT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
        |              / COUNT(*)) * 1e6 + 0.5) / 1e6 AS dup_rate
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "source_kl_divergence" ->
      s"""WITH st AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY source, token),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, SUM(c) AS ctf FROM st GROUP BY token)
         |  ORDER BY ctf DESC, token LIMIT 200),
         |grid AS (
         |  SELECT s.source, v.token
         |  FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN vocab v),
         |cells AS (
         |  SELECT g.source, g.token, COALESCE(st.c, 0) AS c
         |  FROM grid g LEFT JOIN st ON g.source = st.source AND g.token = st.token),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY source),
         |p AS (
         |  SELECT cells.source, cells.token,
         |         (cells.c + 1.0) / (tot.n + (SELECT COUNT(*) FROM vocab)) AS p
         |  FROM cells JOIN tot USING (source))
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(SUM(CAST(floor(a.p * ln(a.p / b.p) * 1e6 + 0.5) / 1e6
         |                     AS DECIMAL(18,6))) AS DOUBLE) AS kl
         |FROM p a JOIN p b ON a.token = b.token AND a.source <> b.source
         |GROUP BY a.source, b.source
         |ORDER BY src_a, src_b""".stripMargin,

    "c4_rules" -> sqlC4Rules,

    "cohens_kappa" ->
      s"""WITH ca AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS a
         |            FROM ($sqlC4Rules)),
         |gb AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS b
         |       FROM ($sqlGopherRules)),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(a * b) AS BIGINT) AS n11,
         |         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         |         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         |         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
         |  FROM ca JOIN gb USING (doc_id)),
         |d AS (
         |  SELECT n, n11, n10, n01, n00,
         |         CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |         CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
         |              AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
         |  FROM m)
         |SELECT n, n11, n10, n01, n00,
         |       floor((po - pe) / (1e0 - pe) * 1e6 + 5e-1) / 1e6 AS kappa
         |FROM d""".stripMargin,

    "mcnemar_test" ->
      s"""WITH ca AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS a
         |            FROM ($sqlC4Rules)),
         |gb AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS b
         |       FROM ($sqlGopherRules)),
         |m AS (
         |  SELECT CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         |         CAST(SUM((1 - a) * b) AS BIGINT) AS n01
         |  FROM ca JOIN gb USING (doc_id))
         |SELECT n10, n01,
         |       CASE WHEN n10 + n01 > 0 THEN
         |         floor(CAST(n10 - n01 AS DOUBLE) * (n10 - n01) / (n10 + n01)
         |               * 1e6 + 5e-1) / 1e6
         |       END AS chi2
         |FROM m""".stripMargin,

    "repeat_budget_plan" ->
      s"""WITH u AS (
         |  SELECT source, CAST(SUM(len($sqlTokens)) AS BIGINT) AS u_tokens
         |  FROM documents GROUP BY source),
         |e AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS epochs),
         |x AS (
         |  SELECT e.epochs, u.source, u.u_tokens,
         |         floor(u.u_tokens * (1e0 + 154e-1 *
         |             (1e0 - exp(CAST(1 - e.epochs AS DOUBLE) / 154e-1))) * 1e6 + 0.5) / 1e6
         |           AS effective_tokens
         |  FROM u CROSS JOIN e)
         |SELECT epochs, source, u_tokens, effective_tokens,
         |       floor(effective_tokens / (u_tokens * epochs) * 1e6 + 0.5) / 1e6 AS efficiency
         |FROM x
         |ORDER BY epochs, source""".stripMargin,

    "gopher_rules" -> sqlGopherRules,

    "bpe_pair_counts" ->
      s"""SELECT p AS pair, COUNT(*) AS cnt
         |FROM (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, CAST(i AS INT), 2))) AS p
         |  FROM (SELECT unnest($sqlTokens) AS w FROM documents)
         |  WHERE len(w) >= 2)
         |GROUP BY p
         |ORDER BY cnt DESC, pair
         |LIMIT 20""".stripMargin,

    "bpe_apply" -> sqlBpeApply(BpeMerges),

    "dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, h % $DsirBuckets AS b
         |  FROM (SELECT doc_id, lang, unnest($sqlTokenHashes) AS h FROM documents)),
         |tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM toks WHERE lang = 'en' GROUP BY b),
         |rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM toks GROUP BY b),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rt,
         |               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
         |        FROM toks),
         |model AS (
         |  SELECT rc.b,
         |         CAST(floor(ln(CAST(COALESCE(tc.tc, 0) + 1 AS DOUBLE) / (tot.tt + $DsirBuckets)) * 1e6 + 0.5) AS BIGINT)
         |       - CAST(floor(ln(CAST(rc.rc + 1 AS DOUBLE) / (tot.rt + $DsirBuckets)) * 1e6 + 0.5) AS BIGINT) AS dw_micro
         |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |       CAST(SUM(dw_micro) AS DOUBLE) / 1e6 AS log_weight
         |FROM toks JOIN model ON toks.b = model.b
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "packing_fragmentation" ->
      s"""WITH td AS (
         |  SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tok FROM documents),
         |cum AS (
         |  SELECT doc_id, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
         |  FROM td),
         |x AS (
         |  SELECT L.ctx_len, c.n_tok,
         |         CASE WHEN c.n_tok > 0 THEN
         |           CAST(floor(CAST(c.cum0 + c.n_tok - 1 AS DOUBLE) / L.ctx_len)
         |                - floor(CAST(c.cum0 AS DOUBLE) / L.ctx_len) + 1 AS BIGINT)
         |         ELSE 0 END AS frags
         |  FROM cum c
         |  CROSS JOIN (SELECT CAST(unnest([256, 512, 1024]) AS BIGINT) AS ctx_len) L),
         |agg AS (
         |  SELECT ctx_len,
         |         CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
         |         CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN frags >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
         |         CAST(SUM(frags) AS BIGINT) AS tot_frags
         |  FROM x GROUP BY ctx_len)
         |SELECT ctx_len,
         |       CAST(floor(CAST(tot_tok + ctx_len - 1 AS DOUBLE) / ctx_len) AS BIGINT) AS n_chunks,
         |       n_docs_split,
         |       floor(CAST(n_docs_split AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS frac_docs_split,
         |       floor(CAST(tot_frags AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS avg_fragments,
         |       CAST(floor(CAST(tot_tok + ctx_len - 1 AS DOUBLE) / ctx_len) AS BIGINT) * ctx_len
         |         - tot_tok AS tail_waste
         |FROM agg
         |ORDER BY ctx_len""".stripMargin,

    "token_fertility" ->
      s"""WITH d AS (
         |  SELECT source, lang,
         |         CAST(len($sqlTokens) AS BIGINT) AS n_tok,
         |         CAST(COALESCE(list_sum(list_transform($sqlTokens, w -> len(w))), 0) AS BIGINT) AS n_tokchars
         |  FROM documents),
         |a AS (
         |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
         |         CAST(SUM(n_tokchars) AS BIGINT) AS tot_chars
         |  FROM d GROUP BY source, lang)
         |SELECT source, lang, n_docs,
         |       floor(CAST(tot_tok AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS tokens_per_doc,
         |       CASE WHEN tot_tok > 0 THEN
         |         floor(CAST(tot_chars AS DOUBLE) / tot_tok * 1e6 + 0.5) / 1e6 END AS chars_per_token
         |FROM a
         |ORDER BY source, lang""".stripMargin,

    "dimension_variance" ->
      """WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |a AS (
        |  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,7))) AS DOUBLE) AS s2
        |  FROM ex GROUP BY pos)
        |SELECT CAST(pos AS BIGINT) AS pos, n,
        |       floor(s1 / n * 1e6 + 0.5) / 1e6 AS mean,
        |       floor((s2 / n - (s1 / n) * (s1 / n)) * 1e6 + 0.5) / 1e6 AS variance
        |FROM a
        |ORDER BY pos""".stripMargin,

    "isotropy_score" ->
      """WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |a AS (
        |  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,7))) AS DOUBLE) AS s2
        |  FROM ex GROUP BY pos),
        |b AS (
        |  SELECT n,
        |         CAST(floor((s1 / n) * (s1 / n) * 1e8 + 0.5) / 1e8
        |              AS DECIMAL(18,8)) AS musq_t,
        |         CAST(s2 AS DECIMAL(38,7)) AS s2d
        |  FROM a),
        |c AS (
        |  SELECT n, CAST(COUNT(*) AS BIGINT) AS dim,
        |         CAST(SUM(musq_t) AS DOUBLE) AS musq,
        |         CAST(SUM(s2d) AS DOUBLE) AS sumsq
        |  FROM b GROUP BY n)
        |SELECT n AS n_vecs, dim,
        |       floor(musq * 1e6 + 0.5) / 1e6 AS mean_norm_sq,
        |       floor(sumsq / n * 1e6 + 0.5) / 1e6 AS avg_sq_norm,
        |       floor(musq / (sumsq / n) * 1e6 + 0.5) / 1e6 AS anisotropy
        |FROM c""".stripMargin,

    "max_rep_ngram" ->
      s"""WITH h AS (SELECT doc_id, $sqlTokenHashes AS hs FROM documents),
         |g AS (
         |  SELECT doc_id, ${Seq(4, 8, 16, 32).map(n =>
              s"${sqlHashGrams(n)} AS g$n").mkString(",\n         ")}
         |  FROM h)
         |SELECT doc_id,
         |       CAST(CASE WHEN NOT (len(g4) > len(list_distinct(g4))) THEN 0
         |                 WHEN len(g32) > len(list_distinct(g32)) THEN 32
         |                 WHEN len(g16) > len(list_distinct(g16)) THEN 16
         |                 WHEN len(g8) > len(list_distinct(g8)) THEN 8
         |                 ELSE 4 END AS BIGINT) AS max_rep_n
         |FROM g
         |ORDER BY doc_id""".stripMargin,

    "window_pmi" ->
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(generate_series(1, len(ts))) - 1 AS p, unnest(ts) AS w
         |  FROM (SELECT doc_id, $sqlTokens AS ts FROM documents)),
         |ctx AS (
         |  SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
         |  FROM ex a JOIN ex b
         |    ON a.doc_id = b.doc_id AND b.p BETWEEN a.p + 1 AND a.p + 4),
         |pc AS (
         |  SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM ctx GROUP BY wa, wb HAVING COUNT(*) >= 5),
         |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY w),
         |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM ctx)
         |SELECT pc.wa, pc.wb, pc.c_ab,
         |       floor(ln((CAST(pc.c_ab AS DOUBLE) / np.n_pairs) /
         |                ((CAST(ca.c AS DOUBLE) / nu.n_uni) *
         |                 (CAST(cb.c AS DOUBLE) / nu.n_uni))) * 1e6 + 0.5) / 1e6 AS pmi
         |FROM pc
         |JOIN uni ca ON ca.w = pc.wa
         |JOIN uni cb ON cb.w = pc.wb
         |CROSS JOIN nu CROSS JOIN np
         |ORDER BY pmi DESC, wa, wb
         |LIMIT 30""".stripMargin,

    "textrank_keywords" -> {
      val rounds = (1 to TextRankIters).map { k =>
        s"""r$k AS (SELECT e.dst AS id,
           |  15e-2 / n_nodes + 85e-2 * CAST(SUM(CAST((r${k - 1}.r / deg.wsum) * e.wt AS DECIMAL(28,18))) AS DOUBLE) AS r
           |  FROM e JOIN deg USING (src) JOIN r${k - 1} ON e.src = r${k - 1}.id CROSS JOIN n
           |  GROUP BY e.dst, n_nodes)""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(generate_series(1, len(ts))) - 1 AS p, unnest(ts) AS w
         |  FROM (SELECT doc_id, $sqlTokens AS ts FROM documents)),
         |ctx AS (
         |  SELECT a.w, b.w AS w2
         |  FROM ex a JOIN ex b
         |    ON a.doc_id = b.doc_id AND b.p BETWEEN a.p + 1 AND a.p + 2
         |  WHERE a.w <> b.w),
         |e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS wt FROM (
         |        SELECT w AS src, w2 AS dst FROM ctx
         |        UNION ALL SELECT w2 AS src, w AS dst FROM ctx)
         |      GROUP BY 1, 2),
         |deg AS (SELECT src, SUM(wt) AS wsum FROM e GROUP BY src),
         |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
         |r0 AS (SELECT src AS id, 1e0 / n_nodes AS r FROM deg CROSS JOIN n),
         |$rounds
         |SELECT id AS token, floor(r * 1e8 + 5e-1) / 1e8 AS textrank
         |FROM r$TextRankIters ORDER BY textrank DESC, token LIMIT 20""".stripMargin
    },

    "shard_balance" ->
      s"""WITH sh AS (
         |  SELECT source, CAST(floor((cum - n_tok) / 2000.0) AS BIGINT) AS shard_id,
         |         n_tok
         |  FROM (
         |    SELECT doc_id, source, len($sqlTokens) AS n_tok,
         |           SUM(len($sqlTokens)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |    FROM documents)),
         |m AS (
         |  SELECT source, shard_id, CAST(SUM(n_tok) AS BIGINT) AS mass
         |  FROM sh GROUP BY source, shard_id)
         |SELECT source,
         |       CAST(COUNT(*) AS BIGINT) AS n_shards,
         |       CAST(MAX(mass) AS BIGINT) AS max_mass,
         |       floor(CAST(SUM(mass) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_mass,
         |       floor(CAST(MAX(mass) AS DOUBLE) /
         |             (CAST(SUM(mass) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS imbalance
         |FROM m
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "curation_funnel" ->
      s"""WITH wf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_word_frac, SUM(c) AS n_words
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlTokens) AS w FROM documents)
         |        GROUP BY doc_id, w)
         |  GROUP BY doc_id),
         |gf AS (
         |  SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac, SUM(c) AS n_bigrams
         |  FROM (SELECT doc_id, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest($sqlBigrams) AS g FROM documents)
         |        GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |lf AS (
         |  SELECT doc_id,
         |         (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE) AS dup_line_frac
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
         |s1 AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d
         |  LEFT JOIN wf USING (doc_id)
         |  LEFT JOIN gf USING (doc_id)
         |  JOIN lf USING (doc_id)
         |  WHERE COALESCE(wf.top_word_frac <= 0.5 OR wf.n_words < $RepMinMass, TRUE)
         |    AND COALESCE(gf.top_bigram_frac <= 0.2 OR gf.n_bigrams < $RepMinMass, TRUE)
         |    AND COALESCE(lf.dup_line_frac <= 0.3, TRUE)),
         |s2 AS (
         |  SELECT * FROM s1
         |  WHERE (CASE WHEN len($sqlTokens) BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
         |         + CASE WHEN $sqlStopwordHits > 0 THEN 1 ELSE 0 END
         |         + CASE WHEN list_max(list_transform($sqlTokens, t -> len(t))) <= 10 THEN 1 ELSE 0 END
         |         + CASE WHEN len(list_distinct($sqlTokens)) * 3 >= len($sqlTokens) THEN 1 ELSE 0 END) >= 2),
         |s3 AS (
         |  SELECT s2.* FROM s2
         |  JOIN (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY text) m USING (doc_id)),
         |shs AS (SELECT doc_id, $sqlShingleHashes AS sh FROM s3),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM shs a JOIN shs b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT b_id FROM pairs)),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents),
         |x AS (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'repetition', (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'exact_dedup', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'near_dedup', (SELECT CAST(COUNT(*) AS BIGINT) FROM s4))
         |SELECT x.stage, x.stage_name, x.n_docs,
         |       floor(CAST(x.n_docs AS DOUBLE) / tot.t * 1e6 + 0.5) / 1e6 AS retention
         |FROM x CROSS JOIN tot
         |ORDER BY x.stage""".stripMargin,

    "mattr" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CASE WHEN len(ts) = 0 THEN NULL
         |              ELSE greatest(len(ts) - 24, 1) END AS nw,
         |         CASE WHEN len(ts) = 0 THEN NULL
         |              ELSE CAST(list_sum(list_transform(range(1, greatest(len(ts) - 24, 1) + 1),
         |                     j -> CAST(floor(CAST(len(list_distinct(ts[j:j+24])) AS DOUBLE)
         |                               / len(ts[j:j+24]) * 1e6 + 0.5) AS BIGINT))) AS DOUBLE)
         |         END AS terms
         |  FROM t)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
         |       floor(terms / 1e6 / nw * 1e6 + 0.5) / 1e6 AS mattr
         |FROM m
         |ORDER BY doc_id""".stripMargin,

    "mixture_alpha_sweep" ->
      s"""WITH ps AS (
         |  SELECT source, CAST(SUM(CAST(len($sqlTokens) AS BIGINT)) AS BIGINT) AS n_src
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_total FROM ps),
         |powed AS (
         |  SELECT ps.source, ps.n_src, a.alpha,
         |         CASE WHEN a.alpha = 0.25 THEN sqrt(sqrt(ps.n_src))
         |              WHEN a.alpha = 0.5 THEN sqrt(ps.n_src)
         |              ELSE CAST(ps.n_src AS DOUBLE) END AS pw
         |  FROM ps CROSS JOIN (SELECT unnest(CAST([0.25, 0.5, 1.0] AS DOUBLE[])) AS alpha) a),
         |z AS (SELECT alpha, CAST(SUM(CAST(pw AS DECIMAL(38,7))) AS DOUBLE) AS z
         |      FROM powed GROUP BY alpha)
         |SELECT p.alpha, p.source, p.n_src,
         |       floor(least(1.0, (floor(tot.n_total / 2) * (p.pw / z.z)) / p.n_src)
         |             * 1e6 + 0.5) / 1e6 AS rate
         |FROM powed p
         |JOIN z USING (alpha)
         |CROSS JOIN tot
         |ORDER BY p.alpha, p.source""".stripMargin,

    "embedding_robust_stats" ->
      """WITH ex AS (
        |  SELECT unnest(generate_series(1, len(e))) - 1 AS pos, unnest(e) AS x
        |  FROM (SELECT list_transform(embedding, u -> CAST(u AS DOUBLE)) AS e FROM embeddings)),
        |stats AS (
        |  SELECT pos, median(x) AS med,
        |         quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.75) AS q3
        |  FROM ex GROUP BY pos)
        |SELECT CAST(ex.pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
        |       floor(MAX(med) * 1e6 + 0.5) / 1e6 AS median,
        |       floor(MAX(q3 - q1) * 1e6 + 0.5) / 1e6 AS iqr,
        |       CAST(SUM(CASE WHEN abs(x - med) > (q3 - q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ex JOIN stats USING (pos)
        |GROUP BY ex.pos
        |ORDER BY pos""".stripMargin,

    "dedup_survivorship_shift" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.5),
         |st AS (SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n_tok FROM documents),
         |kept AS (SELECT * FROM st WHERE doc_id NOT IN (SELECT b_id FROM pairs)),
         |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_all FROM st),
         |totk AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_kept FROM kept),
         |pre AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_pre FROM st GROUP BY source),
         |post AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_post FROM kept GROUP BY source)
         |SELECT pre.source, pre.tok_pre,
         |       COALESCE(post.tok_post, CAST(0 AS BIGINT)) AS tok_post,
         |       floor(CAST(pre.tok_pre AS DOUBLE) / t_all * 1e6 + 0.5) / 1e6 AS share_pre,
         |       floor(CAST(COALESCE(post.tok_post, 0) AS DOUBLE) / t_kept * 1e6 + 0.5) / 1e6 AS share_post,
         |       floor((CAST(COALESCE(post.tok_post, 0) AS DOUBLE) / t_kept
         |              - CAST(pre.tok_pre AS DOUBLE) / t_all) * 1e6 + 0.5) / 1e6 AS shift
         |FROM pre
         |LEFT JOIN post USING (source)
         |CROSS JOIN tot CROSS JOIN totk
         |ORDER BY pre.source""".stripMargin,

    "jl_projection" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(generate_series(1, len(e))) - 1 AS pos, unnest(e) AS x
        |  FROM (SELECT vec_id, list_transform(embedding, u -> CAST(u AS DOUBLE)) AS e FROM embeddings)),
        |pj AS (
        |  SELECT ex.vec_id, jj.j, ex.x,
        |         CASE WHEN ((ex.pos * 16 + jj.j + 1) * 2654435761) % 1000003 % 2 = 0
        |              THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim,
        |       floor(CAST(SUM(CAST(sgn * x AS DECIMAL(38,18))) AS DOUBLE) / 4.0 * 1e6 + 0.5) / 1e6 AS v
        |FROM pj
        |GROUP BY vec_id, j
        |ORDER BY vec_id, dim""".stripMargin,

    "pca_power" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(generate_series(1, len(e))) - 1 AS pos, unnest(e) AS x
        |  FROM (SELECT vec_id, list_transform(embedding, u -> CAST(u AS DOUBLE)) AS e FROM embeddings)),
        |seed AS (SELECT pos, x AS v FROM ex WHERE vec_id = (SELECT MIN(vec_id) FROM ex)),
        |v0 AS (
        |  SELECT pos, v / sqrt((SELECT CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) FROM seed)) AS v
        |  FROM seed),
        |d1 AS (
        |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * v0.v AS DECIMAL(38,18))) AS DOUBLE) AS d
        |  FROM ex JOIN v0 USING (pos) GROUP BY ex.vec_id),
        |w1 AS (
        |  SELECT ex.pos, CAST(SUM(CAST(d1.d * ex.x AS DECIMAL(38,18))) AS DOUBLE) AS v
        |  FROM ex JOIN d1 USING (vec_id) GROUP BY ex.pos),
        |v1 AS (
        |  SELECT pos, v / sqrt((SELECT CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) FROM w1)) AS v
        |  FROM w1),
        |d2 AS (
        |  SELECT ex.vec_id, CAST(SUM(CAST(ex.x * v1.v AS DECIMAL(38,18))) AS DOUBLE) AS d
        |  FROM ex JOIN v1 USING (pos) GROUP BY ex.vec_id),
        |w2 AS (
        |  SELECT ex.pos, CAST(SUM(CAST(d2.d * ex.x AS DECIMAL(38,18))) AS DOUBLE) AS v
        |  FROM ex JOIN d2 USING (vec_id) GROUP BY ex.pos),
        |v2 AS (
        |  SELECT pos, v / sqrt((SELECT CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) FROM w2)) AS v
        |  FROM w2),
        |eig AS (
        |  SELECT CAST(SUM(CAST(v2.v * w2.v AS DECIMAL(38,18))) AS DOUBLE) AS vw
        |  FROM v2 JOIN w2 USING (pos)),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings)
        |SELECT CAST(pos AS BIGINT) AS pos,
        |       floor(v2.v * 1e6 + 0.5) / 1e6 AS loading,
        |       floor(eig.vw / nv.n_vecs * 1e6 + 0.5) / 1e6 AS eigval
        |FROM v2 CROSS JOIN eig CROSS JOIN nv
        |ORDER BY pos""".stripMargin,

    "token_burstiness" ->
      s"""WITH tc AS (
         |  SELECT w, doc_id, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest($sqlTokens) AS w FROM documents)
         |  GROUP BY w, doc_id),
         |st AS (
         |  SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS df,
         |         CAST(SUM(c) AS BIGINT) AS s1,
         |         CAST(SUM(c * c) AS BIGINT) AS s2
         |  FROM tc GROUP BY w HAVING COUNT(*) >= 10),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT token, df, s1 AS tf,
         |       floor(((CAST(s2 AS DOUBLE) / n_docs) -
         |              (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs)) /
         |             (CAST(s1 AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6 AS vmr
         |FROM st CROSS JOIN nd
         |ORDER BY vmr DESC, token
         |LIMIT 30""".stripMargin,

    "dedup_threshold_curve" ->
      s"""WITH sh AS (SELECT doc_id, $sqlShingleHashes AS sh FROM documents),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           ${sqlJaccard("a", "b")} AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.3),
         |ts AS (SELECT unnest(CAST([0.3, 0.5, 0.7, 0.9] AS DOUBLE[])) AS threshold),
         |c AS (
         |  SELECT ts.threshold,
         |         CAST(COUNT(p.a_id) AS BIGINT) AS n_pairs,
         |         CAST(COUNT(DISTINCT p.b_id) AS BIGINT) AS n_dropped
         |  FROM ts LEFT JOIN pairs p ON p.jaccard >= ts.threshold
         |  GROUP BY ts.threshold),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT threshold, n_pairs, n_dropped,
         |       floor(CAST(n_dropped AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 AS drop_rate
         |FROM c CROSS JOIN nd
         |ORDER BY threshold""".stripMargin,

    "kneser_ney_logprob" ->
      s"""WITH bgs AS (
         |  SELECT doc_id, g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest($sqlBigrams) AS g FROM documents)),
         |cb AS (SELECT g, COUNT(*) AS cb FROM bgs GROUP BY g),
         |types AS (SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2 FROM cb),
         |cw AS (SELECT w1, COUNT(*) AS cw FROM bgs GROUP BY w1),
         |fanout AS (SELECT w1, COUNT(*) AS n1f FROM types GROUP BY w1),
         |cont AS (SELECT w2, COUNT(*) AS n1b FROM types GROUP BY w2),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cb),
         |p AS (
         |  SELECT bgs.doc_id,
         |         greatest(cb.cb - 0.75, 0.0) / cw.cw +
         |           ((0.75 / cw.cw) * fanout.n1f) *
         |             (CAST(cont.n1b AS DOUBLE) / nt.n_types) AS p
         |  FROM bgs
         |  JOIN cb USING (g)
         |  JOIN cw USING (w1)
         |  JOIN fanout USING (w1)
         |  JOIN cont USING (w2)
         |  CROSS JOIN nt)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       floor(CAST(SUM(CAST(floor(-ln(p) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE)
         |             / COUNT(*) * 1e6 + 0.5) / 1e6 AS kn_surprisal
         |FROM p
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "temperature_mixture" ->
      s"""WITH st AS (
         |  SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n_tok FROM documents),
         |ps AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_src FROM st GROUP BY source),
         |tot AS (
         |  SELECT CAST(SUM(CAST(sqrt(n_src) AS DECIMAL(38,7))) AS DOUBLE) AS z,
         |         CAST(SUM(n_src) AS BIGINT) AS n_total
         |  FROM ps),
         |rates AS (
         |  SELECT ps.source, ps.n_src,
         |         least(1.0, (floor(tot.n_total / 2) * (sqrt(ps.n_src) / tot.z)) / ps.n_src) AS rate
         |  FROM ps CROSS JOIN tot),
         |g AS (
         |  SELECT st.source, st.n_tok, r.rate,
         |         (${sqlSampleHash("st.doc_id", 1000000L)}) < floor(r.rate * 1e6) AS keep
         |  FROM st JOIN rates r USING (source))
         |SELECT source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |       CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tok_sampled,
         |       floor(MAX(rate) * 1e6 + 0.5) / 1e6 AS rate
         |FROM g
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "lang_confusion" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         ' ' || array_to_string($sqlTokens, ' ') || ' ' AS norm
         |  FROM documents),
         |tg AS (
         |  SELECT doc_id, lang,
         |         unnest(CASE WHEN len(norm) >= 3
         |           THEN list_transform(range(1, len(norm) - 1), i -> substr(norm, CAST(i AS INT), 3))
         |           ELSE CAST([] AS VARCHAR[]) END) AS tg
         |  FROM t),
         |train AS (
         |  SELECT lang, tg, COUNT(*) AS c FROM tg WHERE doc_id % 2 = 0
         |  GROUP BY lang, tg),
         |profile AS (
         |  SELECT lang AS cand_lang, tg, p_rank FROM (
         |    SELECT lang, tg,
         |           CAST(row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg) AS BIGINT) AS p_rank
         |    FROM train) WHERE p_rank <= 50),
         |doctg AS (
         |  SELECT doc_id, lang AS true_lang, tg, COUNT(*) AS c FROM tg
         |  WHERE doc_id % 2 = 1 GROUP BY doc_id, lang, tg),
         |doctop AS (
         |  SELECT doc_id, true_lang, tg, d_rank FROM (
         |    SELECT doc_id, true_lang, tg,
         |           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tg) AS BIGINT) AS d_rank
         |    FROM doctg) WHERE d_rank <= 50),
         |langs AS (SELECT DISTINCT lang AS cand_lang FROM documents),
         |dist AS (
         |  SELECT dt.doc_id, dt.true_lang, l.cand_lang,
         |         SUM(COALESCE(abs(dt.d_rank - p.p_rank), 50)) AS dist
         |  FROM doctop dt
         |  CROSS JOIN langs l
         |  LEFT JOIN profile p ON p.cand_lang = l.cand_lang AND p.tg = dt.tg
         |  GROUP BY dt.doc_id, dt.true_lang, l.cand_lang),
         |pred AS (
         |  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
         |    SELECT doc_id, true_lang, cand_lang,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand_lang) AS rn
         |    FROM dist) WHERE rn = 1)
         |SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         |FROM pred
         |GROUP BY true_lang, pred_lang
         |ORDER BY true_lang, pred_lang""".stripMargin,

    "winnow_candidates" ->
      s"""WITH h AS (
         |  SELECT doc_id, list_transform($sqlBigrams, t -> ${sqlTokenHash("t")}) AS hs
         |  FROM documents),
         |f AS (SELECT doc_id, ${sqlWinnowFromHashes("hs")} AS fps FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |live AS (
         |  SELECT e.doc_id, e.fp FROM e
         |  JOIN (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 20) d USING (fp)),
         |cnt AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp FROM f),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING COUNT(*) >= 2)
         |SELECT p.a_id, p.b_id, p.shared,
         |       floor(CAST(p.shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) * 1e6 + 0.5) / 1e6 AS overlap
         |FROM p
         |JOIN cnt ca ON ca.doc_id = p.a_id
         |JOIN cnt cb ON cb.doc_id = p.b_id
         |ORDER BY p.a_id, p.b_id""".stripMargin,

    "unimax_allocation" ->
      s"""WITH lt AS (
         |  SELECT lang, CAST(SUM(len($sqlTokens)) AS BIGINT) AS n
         |  FROM documents GROUP BY lang),
         |ranked AS (
         |  SELECT lang, n,
         |         row_number() OVER (ORDER BY n, lang) AS rn,
         |         SUM(n) OVER (ORDER BY n, lang
         |                      ROWS UNBOUNDED PRECEDING) AS p,
         |         COUNT(*) OVER () AS k,
         |         SUM(n) OVER () * 1.5 AS b
         |  FROM lt),
         |jstar AS (
         |  SELECT COALESCE(MAX(rn), 0) AS js, COALESCE(MAX(p), 0) AS pj
         |  FROM ranked
         |  WHERE 2.0 * n * (k - rn + 1) <= b - 2.0 * (p - n))
         |SELECT lang, n AS n_tokens,
         |       floor(alloc0 * 1e6 + 0.5) / 1e6 AS alloc_tokens,
         |       floor(alloc0 / n * 1e6 + 0.5) / 1e6 AS epochs
         |FROM (
         |  SELECT lang, n,
         |         CASE WHEN rn <= js THEN 2.0 * n
         |              ELSE (b - 2.0 * pj) / (k - js) END AS alloc0
         |  FROM ranked, jstar)
         |ORDER BY lang""".stripMargin,

    "dhash_near_dup" ->
      s"""WITH th AS (
         |  SELECT doc_id, $sqlTokenHashes AS hs
         |  FROM documents WHERE len($sqlTokens) >= 2),
         |dh AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, 63), i ->
         |      CASE WHEN hs[(i % (len(hs) - 1)) + 1] >
         |                hs[((i + 1) % (len(hs) - 1)) + 1]
         |           THEN (1::BIGINT << i) ELSE 0::BIGINT END),
         |      'bit_or') AS dhash
         |  FROM th),
         |banded AS (
         |  SELECT doc_id, dhash, b.band, (dhash >> (b.band * 16)) & 65535 AS key
         |  FROM dh, (SELECT unnest(range(0, 4)) AS band) b),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |         bit_count(xor(a.dhash, b.dhash)) AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, CAST(hamming AS INT) AS hamming
         |FROM p WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

    "exact_substring_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlTokens AS ts FROM documents
         |  WHERE len($sqlTokens) >= 25),
         |g AS (
         |  SELECT doc_id, CAST(p AS BIGINT) AS p,
         |         array_to_string(list_slice(ts, p, p + 24), ' ') AS gram
         |  FROM toks, unnest(range(1, len(ts) - 23)) AS u(p)),
         |live AS (
         |  SELECT g.* FROM g
         |  JOIN (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= 20) d
         |    USING (gram)),
         |m AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.p AS pa,
         |         a.p - b.p AS diag
         |  FROM live a JOIN live b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT a_id, b_id, diag,
         |         pa - row_number() OVER (PARTITION BY a_id, b_id, diag
         |                                 ORDER BY pa) AS grp
         |  FROM m),
         |runs AS (
         |  SELECT a_id, b_id, diag, grp, COUNT(*) + 24 AS run_tokens
         |  FROM isl GROUP BY 1, 2, 3, 4
         |  HAVING COUNT(*) + 24 >= 50)
         |SELECT a_id, b_id, MAX(run_tokens) AS run_tokens,
         |       CAST(COUNT(*) AS BIGINT) AS n_runs
         |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "bbit_minhash_sim" ->
      s"""WITH $sqlSigs,
         |bands AS (
         |${(0 until MinhashParams.size / BandRows).map(b =>
             s"  SELECT doc_id, $b AS band, mh${b * BandRows} AS h0, mh${b * BandRows + 1} AS h1 FROM sigs")
             .mkString("\n  UNION ALL\n")}
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id),
         |p AS (
         |  SELECT a_id, b_id,
         |         ${sqlJaccard("sa", "sb")} AS jac,
         |         ${(0 until MinhashParams.size).map(i =>
                     s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")} AS agree_full,
         |         ${(0 until MinhashParams.size).map(i =>
                     s"(CASE WHEN sa.mh$i % 2 = sb.mh$i % 2 THEN 1 ELSE 0 END)").mkString(" + ")} AS agree_bit
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a_id
         |  JOIN sigs sb ON sb.doc_id = b_id)
         |SELECT a_id, b_id,
         |       floor(jac * 1e6 + 0.5) / 1e6 AS jaccard,
         |       floor(CAST(agree_full AS DOUBLE) / ${MinhashParams.size} * 1e6 + 0.5) / 1e6 AS mh_est,
         |       floor(greatest(0.0, CAST(agree_bit AS DOUBLE) * 2 / ${MinhashParams.size} - 1) * 1e6 + 0.5) / 1e6 AS bbit_est
         |FROM p
         |WHERE jac IS NOT NULL
         |ORDER BY a_id, b_id""".stripMargin,

    "pmi_collocations" ->
      s"""WITH bg AS (
         |  SELECT g AS bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM (SELECT unnest($sqlBigrams) AS g FROM documents)
         |  GROUP BY g HAVING COUNT(*) >= 5),
         |uni AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sqlTokens) AS w FROM documents)
         |  GROUP BY w),
         |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
         |nb AS (
         |  SELECT CAST(SUM(greatest(len($sqlTokens) - 1, 0)) AS BIGINT) AS n_bi
         |  FROM documents)
         |SELECT bg.bigram, bg.c_ab,
         |       floor(ln((CAST(bg.c_ab AS DOUBLE) / nb.n_bi) /
         |                ((CAST(ca.c AS DOUBLE) / nu.n_uni) *
         |                 (CAST(cb.c AS DOUBLE) / nu.n_uni))) * 1e6 + 0.5) / 1e6 AS pmi
         |FROM bg
         |JOIN uni ca ON ca.w = split_part(bg.bigram, ' ', 1)
         |JOIN uni cb ON cb.w = split_part(bg.bigram, ' ', 2)
         |CROSS JOIN nu CROSS JOIN nb
         |ORDER BY pmi DESC, bigram
         |LIMIT 30""".stripMargin,

    "dunning_g2" ->
      s"""WITH bg AS (
         |  SELECT g AS bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM (SELECT unnest($sqlBigrams) AS g FROM documents)
         |  GROUP BY g HAVING COUNT(*) >= 5),
         |uni AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sqlTokens) AS w FROM documents)
         |  GROUP BY w),
         |nb AS (
         |  SELECT CAST(SUM(greatest(len($sqlTokens) - 1, 0)) AS BIGINT) AS nn
         |  FROM documents),
         |j AS (
         |  SELECT bg.bigram, bg.c_ab, ca.c AS c_a, cb.c AS c_b,
         |         CAST(nb.nn AS DOUBLE) AS nn
         |  FROM bg
         |  JOIN uni ca ON ca.w = split_part(bg.bigram, ' ', 1)
         |  JOIN uni cb ON cb.w = split_part(bg.bigram, ' ', 2)
         |  CROSS JOIN nb)
         |SELECT bigram, c_ab,
         |  floor(2e0 * (
         |    (CASE WHEN c_ab > 0 THEN floor(CAST(c_ab AS DOUBLE) *
         |       ln(CAST(c_ab AS DOUBLE) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE) / nn))
         |       * 1e6 + 5e-1) / 1e6 ELSE 0e0 END) +
         |    (CASE WHEN c_a - c_ab > 0 THEN floor(CAST(c_a - c_ab AS DOUBLE) *
         |       ln(CAST(c_a - c_ab AS DOUBLE) / (CAST(c_a AS DOUBLE) * (nn - c_b) / nn))
         |       * 1e6 + 5e-1) / 1e6 ELSE 0e0 END) +
         |    (CASE WHEN c_b - c_ab > 0 THEN floor(CAST(c_b - c_ab AS DOUBLE) *
         |       ln(CAST(c_b - c_ab AS DOUBLE) / ((nn - c_a) * CAST(c_b AS DOUBLE) / nn))
         |       * 1e6 + 5e-1) / 1e6 ELSE 0e0 END) +
         |    (CASE WHEN nn - c_a - c_b + c_ab > 0 THEN
         |       floor(CAST(nn - c_a - c_b + c_ab AS DOUBLE) *
         |       ln(CAST(nn - c_a - c_b + c_ab AS DOUBLE) / ((nn - c_a) * (nn - c_b) / nn))
         |       * 1e6 + 5e-1) / 1e6 ELSE 0e0 END)) * 1e6 + 5e-1) / 1e6 AS g2
         |FROM j
         |ORDER BY g2 DESC, bigram
         |LIMIT 30""".stripMargin,

    "naive_bayes_source" ->
      s"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |cls AS MATERIALIZED (
         |  SELECT source AS cand, CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM tr GROUP BY source),
         |nt AS (SELECT CAST(SUM(nd) AS BIGINT) AS nt FROM cls),
         |prior AS (SELECT cand,
         |            floor(ln(CAST(nd AS DOUBLE) / nt) * 1e8 + 5e-1) / 1e8 AS prior
         |          FROM cls, nt),
         |tw AS MATERIALIZED (
         |  SELECT cand, w, CAST(COUNT(*) AS BIGINT) AS cw
         |  FROM (SELECT source AS cand, unnest($sqlTokens) AS w FROM tr)
         |  GROUP BY cand, w),
         |tot AS MATERIALIZED (
         |  SELECT cand, CAST(SUM(cw) AS BIGINT) AS tot FROM tw GROUP BY cand),
         |vocab AS MATERIALIZED (SELECT DISTINCT w FROM tw),
         |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         |lp AS MATERIALIZED (
         |  SELECT tw.cand, tw.w,
         |         floor(ln(CAST(cw + 1 AS DOUBLE) / (tot + v)) * 1e8 + 5e-1)
         |           / 1e8 AS lp
         |  FROM tw JOIN tot USING (cand) CROSS JOIN vs),
         |lp0 AS MATERIALIZED (
         |  SELECT cand,
         |         floor(ln(1e0 / CAST(tot + v AS DOUBLE)) * 1e8 + 5e-1) / 1e8 AS lp0
         |  FROM tot CROSS JOIN vs),
         |tt AS (
         |  SELECT doc_id, true_source, w, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, source AS true_source, unnest($sqlTokens) AS w
         |        FROM documents WHERE doc_id % 2 = 1)
         |  GROUP BY doc_id, true_source, w),
         |ttv AS MATERIALIZED (SELECT tt.* FROM tt JOIN vocab USING (w)),
         |sc AS MATERIALIZED (
         |  SELECT ttv.doc_id, ttv.true_source, c.cand,
         |         CAST(SUM(CAST(ttv.cnt * COALESCE(lp.lp, lp0.lp0)
         |                       AS DECIMAL(28,12))) AS DOUBLE) AS ll
         |  FROM ttv CROSS JOIN (SELECT cand FROM cls) c
         |  LEFT JOIN lp ON lp.cand = c.cand AND lp.w = ttv.w
         |  JOIN lp0 ON lp0.cand = c.cand
         |  GROUP BY ttv.doc_id, ttv.true_source, c.cand),
         |pick AS (
         |  SELECT sc.doc_id, sc.true_source, sc.cand,
         |         row_number() OVER (PARTITION BY sc.doc_id
         |           ORDER BY prior.prior + ll DESC, sc.cand) AS rn
         |  FROM sc JOIN prior ON prior.cand = sc.cand)
         |SELECT true_source, cand AS pred_source, CAST(COUNT(*) AS BIGINT) AS n
         |FROM pick WHERE rn = 1
         |GROUP BY true_source, cand
         |ORDER BY true_source, pred_source""".stripMargin,

    "burrows_delta" ->
      s"""WITH tok AS (SELECT source, unnest($sqlTokens) AS w FROM documents),
         |mfw AS MATERIALIZED (
         |  SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
         |                 ORDER BY c DESC, w LIMIT 30)),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
         |        FROM tok GROUP BY source),
         |cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cw
         |        FROM tok JOIN mfw USING (w) GROUP BY source, w),
         |grid AS MATERIALIZED (
         |  SELECT s.source, m.w,
         |         floor(CAST(COALESCE(c.cw, 0) AS DOUBLE) / t.tot * 1e8 + 5e-1)
         |           / 1e8 AS fr
         |  FROM srcs s CROSS JOIN mfw m
         |  LEFT JOIN cnt c ON c.source = s.source AND c.w = m.w
         |  JOIN tot t ON t.source = s.source),
         |st AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
         |         CAST(SUM(CAST(fr AS DECIMAL(18,8))) AS DOUBLE) AS sf,
         |         CAST(SUM(CAST(fr * fr AS DECIMAL(38,16))) AS DOUBLE) AS sf2
         |  FROM grid GROUP BY w),
         |sg AS MATERIALIZED (
         |  SELECT w, sf / ns AS mu,
         |         sqrt(sf2 / ns - (sf / ns) * (sf / ns)) AS sigma
         |  FROM st WHERE sqrt(sf2 / ns - (sf / ns) * (sf / ns)) > 0),
         |z AS MATERIALIZED (
         |  SELECT grid.w, grid.source, (fr - mu) / sigma AS z
         |  FROM grid JOIN sg USING (w)),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(CAST(floor(abs(a.z - b.z) * 1e8 + 5e-1) / 1e8
         |                       AS DECIMAL(18,8))) AS DOUBLE) AS sd
         |  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT source_a, source_b, n_words,
         |       floor(sd / n_words * 1e6 + 5e-1) / 1e6 AS delta
         |FROM p ORDER BY source_a, source_b""".stripMargin,

    "rake_keywords" -> {
      val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tp AS (
         |  SELECT doc_id, unnest(generate_series(1, len(ts))) - 1 AS p,
         |         unnest(ts) AS w
         |  FROM (SELECT doc_id, $sqlTokens AS ts FROM documents)),
         |mk AS (
         |  SELECT doc_id, p, w,
         |         SUM(CASE WHEN w IN ($stopList) THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY p
         |                 ROWS UNBOUNDED PRECEDING) AS pid
         |  FROM tp),
         |m AS MATERIALIZED (
         |  SELECT doc_id, p, w, pid FROM mk WHERE w NOT IN ($stopList)),
         |plen AS (
         |  SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
         |  FROM m GROUP BY doc_id, pid),
         |ws AS MATERIALIZED (
         |  SELECT w, CAST(floor(CAST(SUM(plen) AS DOUBLE) / COUNT(*)
         |                       * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6)) AS wscore
         |  FROM m JOIN plen USING (doc_id, pid) GROUP BY w),
         |ph AS (
         |  SELECT m.doc_id, m.pid,
         |         string_agg(m.w, ' ' ORDER BY m.p) AS phrase,
         |         CAST(SUM(ws.wscore) AS DOUBLE) AS score,
         |         CAST(COUNT(*) AS BIGINT) AS n_words
         |  FROM m JOIN ws USING (w) GROUP BY m.doc_id, m.pid)
         |SELECT phrase, MIN(n_words) AS n_words,
         |       CAST(COUNT(*) AS BIGINT) AS n_occ, MIN(score) AS score
         |FROM ph GROUP BY phrase
         |ORDER BY score DESC, phrase LIMIT 20""".stripMargin
    },

    "dup_ngram_chars" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(generate_series(1, len(ts))) - 1 AS p, unnest(ts) AS w
         |  FROM (SELECT doc_id, $sqlTokens AS ts FROM documents)),
         |st AS (
         |  SELECT doc_id, p,
         |         CAST(COALESCE(SUM(len(w) + 1) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS start
         |  FROM tok),
         |gr AS (
         |  SELECT doc_id, unnest(generate_series(1, len(gs))) - 1 AS p, unnest(gs) AS g
         |  FROM (SELECT doc_id, ${sqlGrams(5)} AS gs FROM documents)),
         |occ AS (
         |  SELECT gr.doc_id, gr.g, st.start,
         |         st.start + len(gr.g) - 1 AS e
         |  FROM gr JOIN st ON gr.doc_id = st.doc_id AND gr.p = st.p),
         |dupk AS (SELECT doc_id, g FROM occ GROUP BY doc_id, g HAVING COUNT(*) >= 2),
         |cov AS (
         |  SELECT occ.doc_id,
         |         greatest(0, occ.e - greatest(occ.start - 1,
         |           COALESCE(MAX(occ.e) OVER (PARTITION BY occ.doc_id
         |             ORDER BY occ.start, occ.e
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS cov
         |  FROM occ JOIN dupk USING (doc_id, g)),
         |dm AS (SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup_chars FROM cov GROUP BY doc_id),
         |t AS (
         |  SELECT doc_id,
         |         CAST(len(array_to_string($sqlTokens, ' ')) AS BIGINT) AS n_chars_norm
         |  FROM documents)
         |SELECT t.doc_id,
         |       COALESCE(dm.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
         |       t.n_chars_norm,
         |       CASE WHEN t.n_chars_norm > 0 THEN
         |         floor(CAST(COALESCE(dm.dup_chars, 0) AS DOUBLE) / t.n_chars_norm * 1e6 + 0.5) / 1e6
         |       ELSE 0.0 END AS dup_char_frac
         |FROM t LEFT JOIN dm USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "query_likelihood" -> {
      val terms = Seq("spark", "join", "window")
      val cfCols = terms.zipWithIndex.map { case (tm, i) =>
        s"CAST(SUM(CASE WHEN t = '$tm' THEN 1 ELSE 0 END) AS BIGINT) AS cf$i"
      }.mkString(", ")
      val tfCols = terms.zipWithIndex.map { case (tm, i) =>
        s"CAST(SUM(CASE WHEN t = '$tm' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
      }.mkString(", ")
      val scored = terms.indices.map(i =>
        s"floor(ln((COALESCE(tf$i, 0) + 2e3 * cf$i / ctot) / (dl + 2e3)) " +
          s"* 1e6 + 5e-1) / 1e6").mkString(" + ")
      val nMatch = terms.indices.map(i =>
        s"CASE WHEN COALESCE(tf$i, 0) > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS t FROM documents),
         |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS ctot, $cfCols FROM tok),
         |tfp AS (SELECT doc_id, $tfCols FROM tok
         |        WHERE t IN (${terms.map(t => s"'$t'").mkString(", ")})
         |        GROUP BY doc_id),
         |dl AS (SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS dl
         |       FROM documents)
         |SELECT dl.doc_id, dl.dl,
         |       CAST($nMatch AS BIGINT) AS n_terms,
         |       $scored AS ql_score
         |FROM dl LEFT JOIN tfp ON tfp.doc_id = dl.doc_id
         |CROSS JOIN corpus
         |ORDER BY ql_score DESC, dl.doc_id LIMIT 50""".stripMargin
    },

    "nearest_centroid_eval" ->
      """WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ex AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(e))) - 1 AS pos,
        |         unnest(e) AS x
        |  FROM v),
        |cm AS (
        |  SELECT label, pos,
        |         CAST(SUM(CAST(x AS DECIMAL(38,7))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY label, pos),
        |cv AS (SELECT label AS clabel, list(m ORDER BY pos) AS c FROM cm GROUP BY label),
        |d AS (
        |  SELECT v.vec_id, v.label, cv.clabel,
        |         sqrt(list_sum(list_transform(list_zip(v.e, cv.c),
        |              p -> (p[1]-p[2])*(p[1]-p[2])))) AS dist
        |  FROM v CROSS JOIN cv),
        |rk AS (
        |  SELECT label, clabel AS pred_label,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY dist, clabel) AS rk
        |  FROM d),
        |p AS (SELECT label, pred_label FROM rk WHERE rk = 1),
        |tt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
        |       FROM p GROUP BY label)
        |SELECT p.label, p.pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |       floor(CAST(COUNT(*) AS DOUBLE) / MAX(tt.n_label) * 1e6 + 5e-1)
        |         / 1e6 AS row_share
        |FROM p JOIN tt USING (label)
        |GROUP BY p.label, p.pred_label
        |ORDER BY p.label, p.pred_label""".stripMargin,

    "extractive_summary" ->
      s"""WITH tf AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($sqlTokens) AS w FROM documents) GROUP BY w),
         |nt AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM tf),
         |ls AS (
         |  SELECT doc_id,
         |         CAST(unnest(generate_series(1, len(string_split(text, chr(10)))))
         |              - 1 AS BIGINT) AS li,
         |         unnest(string_split(text, chr(10))) AS l
         |  FROM documents),
         |lt AS (
         |  SELECT doc_id, li,
         |         unnest(list_filter(string_split_regex(trim(l), '\\s+'),
         |                            t -> t <> '')) AS w
         |  FROM ls),
         |sc AS (
         |  SELECT doc_id, li, CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(CAST(floor(CAST(f AS DOUBLE) / n * 1e8 + 5e-1) / 1e8
         |                       AS DECIMAL(18,8))) AS DOUBLE) AS sp
         |  FROM lt JOIN tf USING (w) CROSS JOIN nt
         |  GROUP BY doc_id, li),
         |fin AS (
         |  SELECT doc_id, li, n_words,
         |         floor(sp / n_words * 1e6 + 5e-1) / 1e6 AS score
         |  FROM sc),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY score DESC, li) AS rk
         |  FROM fin)
         |SELECT doc_id, li AS best_line, n_words, score
         |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "cochran_q" ->
      s"""WITH ca AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS f1
         |            FROM ($sqlC4Rules)),
         |gb AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS f2
         |       FROM ($sqlGopherRules)),
         |qc AS (SELECT doc_id,
         |         CASE WHEN $sqlQualityExpr >= 2 THEN 1 ELSE 0 END AS f3
         |       FROM documents),
         |j AS (SELECT f1, f2, f3, f1 + f2 + f3 AS r
         |      FROM ca JOIN gb USING (doc_id) JOIN qc USING (doc_id)),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(f1) AS BIGINT) AS c1, CAST(SUM(f2) AS BIGINT) AS c2,
         |         CAST(SUM(f3) AS BIGINT) AS c3, CAST(SUM(r) AS BIGINT) AS sr,
         |         CAST(SUM(r * r) AS BIGINT) AS sr2
         |  FROM j),
         |f AS (
         |  SELECT n_docs, c1, c2, c3,
         |         CASE WHEN 3e0 * sr - sr2 > 0e0 THEN
         |           floor((6e0 * (CAST(c1 AS DOUBLE) * c1 +
         |                         CAST(c2 AS DOUBLE) * c2 +
         |                         CAST(c3 AS DOUBLE) * c3) -
         |                  2e0 * CAST(sr AS DOUBLE) * sr) /
         |                 (3e0 * CAST(sr AS DOUBLE) - sr2) * 1e6 + 5e-1) / 1e6
         |         END AS q_stat
         |  FROM a)
         |SELECT n_docs, c1, c2, c3, q_stat,
         |       (q_stat IS NOT NULL AND q_stat > 5.991465) AS reject_95
         |FROM f""".stripMargin,

    "lexical_richness" ->
      s"""WITH tf AS (
         |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT source, unnest($sqlTokens) AS w FROM documents)
         |  GROUP BY source, w),
         |a AS (
         |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS vocab,
         |         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         |         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         |         SUM(CAST(f * f AS DECIMAL(38,0))) AS sf2,
         |         SUM(CAST(f * (f - 1) AS DECIMAL(38,0))) AS sff
         |  FROM tf GROUP BY source)
         |SELECT source, n_tokens, vocab, v1, v2,
         |       floor(1e4 * (CAST(sf2 AS DOUBLE) - n_tokens) /
         |             (CAST(n_tokens AS DOUBLE) * n_tokens) * 1e6 + 5e-1) / 1e6
         |         AS yule_k,
         |       floor(CAST(sff AS DOUBLE) /
         |             (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)) * 1e6 + 5e-1)
         |         / 1e6 AS simpson_d,
         |       CASE WHEN v1 < vocab THEN
         |         floor(1e2 * ln(CAST(n_tokens AS DOUBLE)) /
         |               (1e0 - CAST(v1 AS DOUBLE) / vocab) * 1e6 + 5e-1) / 1e6
         |       END AS honore_h,
         |       floor(CAST(v2 AS DOUBLE) / vocab * 1e6 + 5e-1) / 1e6 AS sichel_s
         |FROM a ORDER BY source""".stripMargin,

    "roc_auc" ->
      s"""WITH $sqlScoredDocs,
         |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS n1s,
         |             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0s
         |      FROM sc GROUP BY score),
         |cw AS (SELECT *, COALESCE(SUM(n0s) OVER (ORDER BY score
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
         |       FROM g),
         |a AS (SELECT CAST(SUM(n1s) AS BIGINT) AS n_pos,
         |             CAST(SUM(n0s) AS BIGINT) AS n_neg,
         |             SUM(CAST(n1s * c0 AS DECIMAL(38,0))) AS swin,
         |             SUM(CAST(n1s * n0s AS DECIMAL(38,0))) AS stie
         |      FROM cw),
         |f AS (SELECT n_pos, n_neg,
         |        floor((CAST(swin AS DOUBLE) + CAST(stie AS DOUBLE) / 2e0) /
         |              (CAST(n_pos AS DOUBLE) * n_neg) * 1e6 + 5e-1) / 1e6 AS auc
         |      FROM a)
         |SELECT n_pos, n_neg, auc, 2e0 * auc - 1e0 AS gini_coeff FROM f""".stripMargin,

    "calibration_bins" ->
      s"""WITH $sqlScoredDocs
         |SELECT least(CAST(floor(score * 20) AS BIGINT), 19) AS bin,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       floor(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
         |             / COUNT(*) * 1e6 + 5e-1) / 1e6 AS mean_score,
         |       floor(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1e6 + 5e-1) / 1e6
         |         AS pos_rate,
         |       floor(CAST(SUM(CAST(floor((score - y) * (score - y) * 1e6 + 5e-1)
         |                          / 1e6 AS DECIMAL(18,6))) AS DOUBLE)
         |             / COUNT(*) * 1e6 + 5e-1) / 1e6 AS brier
         |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin,

    "lift_gains" ->
      s"""WITH $sqlScoredDocs,
         |g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
         |             CAST(SUM(y) AS BIGINT) AS p
         |      FROM sc GROUP BY score),
         |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS np
         |       FROM g),
         |cw AS (SELECT *, SUM(c) OVER (ORDER BY score DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |       FROM g),
         |dc AS (SELECT CAST(ceil(1e1 * cum / n) AS BIGINT) AS decile, c, p, n, np
         |       FROM cw, tt),
         |t AS (SELECT decile, CAST(SUM(c) AS BIGINT) AS n_docs,
         |             CAST(SUM(p) AS BIGINT) AS n_pos,
         |             MAX(n) AS n, MAX(np) AS np
         |      FROM dc GROUP BY decile),
         |cg AS (SELECT *, SUM(n_pos) OVER (ORDER BY decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
         |       FROM t)
         |SELECT decile, n_docs, n_pos,
         |       floor((CAST(n_pos AS DOUBLE) / n_docs) /
         |             (CAST(np AS DOUBLE) / n) * 1e6 + 5e-1) / 1e6 AS lift,
         |       floor(CAST(cum_pos AS DOUBLE) / np * 1e6 + 5e-1) / 1e6 AS cum_gain
         |FROM cg ORDER BY decile""".stripMargin
  )
}
