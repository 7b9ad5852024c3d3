package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import QueryHelpers.{decSum, docs, events, r6, roundHU, t}

/** Round-11 additions: the remaining published curation / evaluation /
  * privacy families not yet in the catalog — multiple-testing control
  * (Benjamini–Hochberg), mixture diagnostics (Kish effective sample
  * size), soft deduplication (down-weighting instead of removal),
  * ordinal t-closeness (completing the k-anonymity / l-diversity trio),
  * the SES forecasting baseline, and the standardized effect-size panel
  * (Cohen's d / Hedges' g / Cliff's δ).
  *
  * Same contract as the sibling objects: every query is a lazy
  * DataFrame plan mirrored by a DuckDB oracle built from the SAME
  * constants and rounding spellings (floor(x·10^d + 0.5)/10^d — the
  * bit-deterministic cross-engine form), no UDFs, no driver-side
  * collects, no unbounded global windows (the only ordered frames here
  * run over calendar-, source-, bucket- or CumBuckets-sized rollups).
  */
object CurationQueries {

  /** Abramowitz & Stegun 26.2.17 upper-tail normal approximation
    * (|error| < 7.5e-8): Q(z) = φ(z)·(b₁t + … + b₅t⁵), t = 1/(1+pz) for
    * z ≥ 0 — all elementary arithmetic (exp/sqrt), so both engines
    * evaluate the identical IEEE expression; the constants below are
    * the single source of truth for the Spark column AND the SQL text.
    */
  private val NcdfP = "0.2316419"
  private val NcdfB = Seq("0.319381530", "-0.356563782", "1.781477937",
    "-1.821255978", "1.330274429")
  private val InvSqrt2Pi = "0.3989422804014327" // 1/sqrt(2*pi), fixed literal

  /** Two-sided p-value 2·Q(|z|) as a Spark column (z pre-rounded). */
  private def pTwoSided(z: org.apache.spark.sql.Column) = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(NcdfP.toDouble) * az)
    val poly = NcdfB.zipWithIndex
      .map { case (b, i) =>
        (0 to i).map(_ => t).reduce(_ * _) * lit(b.toDouble) }
      .reduce(_ + _)
    lit(2.0) * (lit(InvSqrt2Pi.toDouble) * exp(-az * az / lit(2.0))) * poly
  }

  /** The identical expression as DuckDB SQL text over column expr `z`. */
  private def sqlPTwoSided(z: String): String = {
    val t = s"(1.0 / (1.0 + $NcdfP * abs($z)))"
    val poly = NcdfB.zipWithIndex
      .map { case (b, i) => s"($b * ${(0 to i).map(_ => t).mkString(" * ")})" }
      .mkString(" + ")
    s"(2.0 * ($InvSqrt2Pi * exp(-abs($z) * abs($z) / 2.0)) * ($poly))"
  }

  private val BhAlpha = "0.05"
  private val SesAlpha = 0.5 // powers of two: pow(0.5,k) is IEEE-exact on both engines
  private val TcBuckets = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // L306 — Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995)
    // over the per-source "is this source's English share different
    // from the rest of the corpus" two-proportion z family — the
    // multiple-testing correction every per-source screening battery
    // needs before acting on its flags (at hundreds of sources, α=0.05
    // per test WILL fire spuriously; BH bounds the expected false-
    // discovery fraction instead). p-values from the A&S 26.2.17
    // normal-tail polynomial (elementary arithmetic, identical IEEE
    // expression on both engines; z is 6dp-rounded first so the
    // polynomial's input is grid-pinned). Scale shape: one conditional-
    // aggregate pass to source-cardinality rows; the rank and the
    // step-up max both run over that bounded frame (the
    // unimax_allocation window class), never fact-sized.
    "bh_fdr" -> ((s, dir) => {
      val per = docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("x"))
        .localCheckpoint(false) // reused: totals + the per-source z pass
      val tot = broadcast(per.agg(sum("n").as("nn"), sum("x").as("xx"),
        count(lit(1)).as("m")))
      val p1 = col("x").cast("double") / col("n")
      val p2 = (col("xx") - col("x")).cast("double") / (col("nn") - col("n"))
      val pp = col("xx").cast("double") / col("nn")
      val zc = roundHU((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n") + lit(1.0) / (col("nn") - col("n")))), 1e6)
      val scored = per.crossJoin(tot)
        .select(col("source"), col("n").as("n_docs"), col("x").as("en_docs"),
          roundHU(p1, 1e6).as("en_share"), col("m"), zc.as("z_stat"))
        .withColumn("p_value", roundHU(pTwoSided(col("z_stat")), 1e8))
        .withColumn("p_rank", row_number()
          .over(Window.orderBy(col("p_value"), col("source"))).cast("long"))
        .withColumn("bh_crit",
          roundHU(col("p_rank") * lit(BhAlpha.toDouble) / col("m"), 1e8))
        .localCheckpoint(false) // reused: step-up max + output
      val kmax = broadcast(scored
        .agg(coalesce(max(when(col("p_value") <= col("bh_crit"),
          col("p_rank"))), lit(0L)).as("kmax")))
      scored.crossJoin(kmax)
        .select(col("source"), col("n_docs"), col("en_docs"), col("en_share"),
          col("z_stat"), col("p_value"), col("p_rank"), col("bh_crit"),
          (col("p_rank") <= col("kmax")).as("reject"))
        .orderBy("p_rank")
    }),

    // L307 — Kish effective sample size (Kish 1965) of the temperature
    // mixture: sampling sources at q_s ∝ p_s^α (α=1/2, the mT5 tilt)
    // means each kept doc carries importance weight w_s = q_s/p_s, and
    // ESS = (Σw)²/Σw² is the honest "how many uniform docs is this
    // weighted corpus worth" — the standard diagnostic before trusting
    // a DSIR/DoReMi-style reweighting (deff = n/ESS > ~2 says the tilt
    // is spending most of the data on variance). One token-count pass
    // to source-cardinality rows, then k-row algebra; per-source ESS
    // terms are exact products of 8dp-rounded weights folded as
    // decimals.
    "mixture_ess" -> ((s, dir) => {
      import graft.llm.TextOps.tokens
      val per = docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("tok"))
        .localCheckpoint(false) // reused: totals + the weight pass
      val tot = broadcast(per.agg(sum("n_docs").as("nd"), sum("tok").as("tt"),
        count(lit(1)).as("n_sources")))
      val w0 = per.crossJoin(tot)
        .select(col("source"), col("n_docs"), col("nd"), col("n_sources"),
          roundHU(sqrt(col("tok").cast("double") / col("tt")), 1e8).as("q0"),
          roundHU(col("tok").cast("double") / col("tt"), 1e8).as("p"))
        .localCheckpoint(false) // reused: the q normalizer + the ESS pass
      val z = broadcast(w0.agg(sum(col("q0").cast(DecimalType(18, 8)))
        .cast("double").as("qz")))
      w0.crossJoin(z)
        .select(col("n_docs"), col("nd"), col("n_sources"),
          roundHU(col("q0") / col("qz") / col("p"), 1e8).as("w"))
        .select(col("nd"), col("n_sources"),
          roundHU(col("n_docs") * col("w"), 1e6)
            .cast(DecimalType(18, 6)).as("sw"),
          roundHU(col("n_docs") * col("w") * col("w"), 1e6)
            .cast(DecimalType(18, 6)).as("sw2"))
        .groupBy("nd", "n_sources")
        .agg(sum("sw").cast("double").as("sw"),
          sum("sw2").cast("double").as("sw2"))
        .select(col("nd").as("n_docs"), col("n_sources"),
          roundHU(col("sw") * col("sw") / col("sw2"), 1e6).as("ess"),
          roundHU(col("nd") / (col("sw") * col("sw") / col("sw2")), 1e6)
            .as("design_effect"))
    }),

    // L308 — soft deduplication (the SoftDeDup move, He et al. 2024):
    // instead of dedup_exact's remove-all-but-one, every duplicate
    // family keeps ALL members at sampling weight 1/|family| — total
    // evidence per distinct text is preserved (removal changes the
    // distribution; down-weighting doesn't), which is the right call
    // when duplicates correlate with quality. Per-source effective
    // size Σ 1/n_f vs raw count is the shrinkage report. Families by
    // exact text equality (the dedup_exact key); at 100 TB the groupBy
    // key would be the house 64-bit text hash — same plan shape, one
    // exchange on the family key + one on source.
    "soft_dedup_weights" -> ((s, dir) => {
      val fam = docs(s, dir).groupBy("text")
        .agg(count(lit(1)).as("fam_n"), countDistinct("source").as("fam_src"))
      docs(s, dir).select("source", "text").join(fam, "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("fam_n") > 1L, 1L).otherwise(0L)).as("n_in_dup_family"),
          sum(roundHU(lit(1.0) / col("fam_n"), 1e8)
            .cast(DecimalType(18, 8))).cast("double").as("eff"))
        .select(col("source"), col("n_docs"), col("n_in_dup_family"),
          roundHU(col("eff"), 1e6).as("effective_docs"),
          roundHU(col("eff") / col("n_docs"), 1e6).as("retention"))
        .orderBy("source")
    }),

    // L309 — t-closeness (Li, Li & Venkatasubramanian 2007), completing
    // the privacy-release trio: k_anonymity bounds class SIZE,
    // l_diversity bounds sensitive-value VARIETY, t-closeness bounds the
    // DISTANCE between each class's sensitive distribution and the
    // global one — the defense against skewness attacks ("everyone in
    // this class is rich") that the other two miss. Sensitive attribute
    // = account balance bucketed to a fixed 10-cell ordinal grid;
    // distance = the ordered-EMD form (mean |cumulative difference|
    // over the m−1 boundaries). Scale shape: one fact pass to
    // class×bucket counts; the grid, cumulatives and EMD all run on
    // class-cardinality frames (windows partitioned BY CLASS over ≤10
    // rows each), never fact-sized.
    "t_closeness" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val mm = broadcast(c.agg(min("c_acctbal").as("lo"),
        max("c_acctbal").as("hi"), count(lit(1)).as("nn")))
      val bucketed = c.crossJoin(mm)
        .select(col("c_nationkey"), col("c_mktsegment"), col("nn"),
          least(lit(TcBuckets - 1L), floor((col("c_acctbal") - col("lo")) *
            lit(TcBuckets.toDouble) / (col("hi") - col("lo") + lit(1e-9)))
            .cast("long")).as("b"))
        .localCheckpoint(false) // reused: global dist + class dist
      val glob = broadcast(bucketed.groupBy("b")
        .agg(count(lit(1)).as("gc"), max("nn").as("nn")))
      val cls = bucketed
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("b"))
        .agg(count(lit(1)).as("cc"))
      val classes = cls.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum("cc").as("class_size"))
      val grid = classes
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          explode(sequence(lit(0L), lit(TcBuckets - 1L))).as("b"))
        .join(cls, Seq("c_nationkey", "c_mktsegment", "b"), "left")
        .join(glob, Seq("b"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          col("b"),
          (coalesce(col("cc"), lit(0L)).cast("double") / col("class_size") -
            col("gc").cast("double") / col("nn")).as("d"))
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cum", sum("d").over(w))
        .filter(col("b") < TcBuckets - 1) // the last boundary's cum is 0
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          roundHU(abs(col("cum")), 1e8).cast(DecimalType(18, 8)).as("t"))
        .groupBy("c_nationkey", "c_mktsegment", "class_size")
        .agg(sum("t").cast("double").as("st"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
          roundHU(col("st") / (TcBuckets - 1), 1e6).as("t_closeness"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // L310 — simple-exponential-smoothing forecast baseline (Brown
    // 1956; the third row of Hyndman's baseline battery next to
    // forecast_eval's naive/seasonal-naive): level ℓ_t = αy_t +
    // (1−α)ℓ_{t−1}, one-step forecast ŷ_{t+1} = ℓ_t, evaluated by MAE/
    // RMSE over the same gapfilled daily revenue series. α = 1/2 so
    // every weight (1−α)^k is an exact power of two — pow(0.5, k) is
    // bit-identical IEEE on both engines, making the closed unrolled
    // form ℓ_t = Σᵢ w(t,i)·yᵢ oracle-exact with no recursion. The pair
    // expansion is calendar²-bounded (the pettitt_test class — ~n²/2
    // rows of a day-cardinality rollup, SF-invariant), never raw-event-
    // sized; per-term products 8dp-round into decimal sums.
    "ses_forecast" -> ((s, dir) => {
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .localCheckpoint(false) // reused: both pair-join sides + n + eval
      val n = broadcast(series.agg(count(lit(1)).as("n_days")))
      val b = series.select(col("k").as("i"), col("x").as("y"))
      // level at t = sum over i<=t of w(t,i)*y_i with w(t,1)=0.5^(t-1),
      // w(t,i)=0.5^(t-i+1) for i>=2 (alpha=1/2); exact dyadic weights
      val lvl = broadcast(series.select(col("k").as("t")))
        .join(b, col("i") <= col("t"))
        .select(col("t"),
          roundHU(col("y") * when(col("i") === 1L,
            pow(lit(0.5), col("t") - 1))
            .otherwise(pow(lit(0.5), col("t") - col("i") + 1)), 1e8)
            .cast(DecimalType(18, 8)).as("term"))
        .groupBy("t").agg(sum("term").cast("double").as("level"))
        .localCheckpoint(false) // reused: eval join + final level
      val err = series.filter(col("k") > 1L)
        .join(lvl.select((col("t") + 1L).as("k"), col("level").as("f")), "k")
        .select(roundHU(abs(col("x") - col("f")), 1e6)
            .cast(DecimalType(18, 6)).as("ae"),
          roundHU((col("x") - col("f")) * (col("x") - col("f")), 1e6)
            .cast(DecimalType(18, 6)).as("se"))
        .agg(count(lit(1)).as("n_eval"),
          sum("ae").cast("double").as("sae"),
          sum("se").cast("double").as("sse"))
      val last = lvl.crossJoin(n).filter(col("t") === col("n_days"))
        .select(col("n_days"), roundHU(col("level"), 1e6).as("next_forecast"))
      err.crossJoin(broadcast(last))
        .select(lit(SesAlpha).as("alpha"), col("n_days"), col("n_eval"),
          roundHU(col("sae") / col("n_eval"), 1e6).as("mae"),
          roundHU(sqrt(col("sse") / col("n_eval")), 1e6).as("rmse"),
          col("next_forecast"))
    }),

    // L311 — standardized effect-size panel for the "en vs rest" doc-
    // length contrast: Cohen's d (pooled-SD mean gap), Hedges' g (the
    // small-sample-corrected d), and Cliff's δ (the rank-based,
    // distribution-free P(a>b)−P(a<b)) — the numbers a significance
    // test does NOT give (welch_ttest says "different"; these say "by
    // how much, in units that survive scale changes"). n_chars is
    // integer so every moment (Σx, Σx²) folds as exact longs; δ comes
    // from the Mann–Whitney 2U identity over per-DISTINCT-value counts
    // + the two-phase exclusivePrefix — no global sort, no fact-sized
    // window (the mann_whitney_u machinery verbatim).
    "effect_sizes" -> ((s, dir) => {
      val pv = docs(s, dir).groupBy(col("n_chars").as("value"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"),
          sum(when(col("lang") === "en", col("n_chars")).otherwise(0L)).as("sa"),
          sum(when(col("lang") =!= "en", col("n_chars")).otherwise(0L)).as("sb"),
          sum(when(col("lang") === "en", col("n_chars") * col("n_chars"))
            .otherwise(0L)).as("qa"),
          sum(when(col("lang") =!= "en", col("n_chars") * col("n_chars"))
            .otherwise(0L)).as("qb"))
      val agg = CoreQueries.exclusivePrefix(pv, "value", Seq("ca", "cb"))
        .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
          sum("sa").as("s_a"), sum("sb").as("s_b"),
          sum("qa").as("q_a"), sum("qb").as("q_b"),
          sum(lit(2L) * col("ca") * col("cum_cb") + col("ca") * col("cb"))
            .as("u2"))
      val ma = col("s_a").cast("double") / col("n_a")
      val mb = col("s_b").cast("double") / col("n_b")
      val va = (col("q_a") - col("s_a").cast("double") * col("s_a") /
        col("n_a")) / (col("n_a") - 1L)
      val vb = (col("q_b") - col("s_b").cast("double") * col("s_b") /
        col("n_b")) / (col("n_b") - 1L)
      val sp = sqrt(((col("n_a") - 1L) * va + (col("n_b") - 1L) * vb) /
        (col("n_a") + col("n_b") - 2L))
      val d = (ma - mb) / sp
      agg.select(col("n_a"), col("n_b"),
        roundHU(ma, 1e6).as("mean_a"), roundHU(mb, 1e6).as("mean_b"),
        roundHU(sp, 1e6).as("pooled_sd"),
        roundHU(d, 1e6).as("cohens_d"),
        roundHU(d * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("n_a") + col("n_b")) - 9L)), 1e6).as("hedges_g"),
        roundHU((col("u2") - col("n_a") * col("n_b")).cast("double") /
          (col("n_a") * col("n_b")), 1e6).as("cliffs_delta"))
    }),

    // L312 — isotonic recalibration of the reliability table (PAVA;
    // Zadrozny & Elkan 2002): fit the best MONOTONE per-bin hit rate to
    // the stopword-score/en-label calibration curve — the standard
    // post-hoc calibrator when a classifier's reliability curve is
    // non-monotone. Spelled as the minimax closed form f(i) = max_{j≤i}
    // min_{k≥i} wmean(y[j..k]) — exactly the weighted-PAVA solution —
    // over the FIXED 11-cell score grid, so the triple index expansion
    // is ≤11³ rows of pure algebra at any SF: no windows, no recursion,
    // one fact pass to the bins. Range means come from bin⨝bin prefix
    // algebra (Σ over [j,k] = two aggregates), range-mean terms
    // 8dp-round before the minimax so both engines agree bit-for-bit.
    "isotonic_calibration" -> ((s, dir) => {
      import graft.llm.TextOps.{tokens, stopwordHits}
      val nTok = size(tokens(col("text")))
      val bins = docs(s, dir).filter(nTok > 0)
        .select(least(lit(10L), floor(stopwordHits(col("text"))
          .cast("double") / nTok * 10).cast("long")).as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("hits"))
        .localCheckpoint(false) // reused: range sums (both sides) + output
      // inclusive range aggregates over bin pairs j<=k (<=66 rows)
      val rng = bins.select(col("bin").as("j"))
        .join(bins.select(col("bin").as("k")), col("j") <= col("k"))
        .join(bins.withColumnRenamed("bin", "m"),
          col("m") >= col("j") && col("m") <= col("k"))
        .groupBy("j", "k")
        .agg(roundHU(sum("hits").cast("double") / sum("n"), 1e8).as("avg"))
      // f(i) = max_{j<=i} min_{k>=i} avg(j,k): min over k first, then max
      val inner = bins.select(col("bin").as("i"))
        .join(rng, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j").agg(min("avg").as("mn"))
      val iso = inner.groupBy("i").agg(max("mn").as("iso"))
      bins.join(iso, col("bin") === col("i"))
        .select(col("bin"), col("n").as("n_docs"),
          roundHU(col("hits").cast("double") / col("n"), 1e6).as("raw_rate"),
          roundHU(col("iso"), 1e6).as("iso_rate"))
        .orderBy("bin")
    }),

    // L313 — weighted sampling without replacement (Efraimidis &
    // Spirakis 2006): each doc draws key −ln(u)/w from a DETERMINISTIC
    // hash uniform u and its length weight w; the k smallest keys ARE a
    // weight-proportional sample without replacement — THE distributed
    // one-pass reservoir (state = k rows per partition, merge = top-k),
    // next to weighted_sample's Bernoulli (with-replacement-ish) rates.
    // One scan + TakeOrdered(k); no shuffle beyond the final k-row
    // merge. The hash/ln arithmetic is the house token-hash spelling,
    // so DuckDB replays keys bit-for-bit.
    "es_weighted_sample" -> ((s, dir) => {
      val h = pmod(col("doc_id") * lit(2654435761L), lit(2147483647L))
      val u = (h + lit(1.0)) / lit(2147483648.0)
      docs(s, dir).filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars").as("weight"),
          roundHU(-log(u) / col("n_chars"), 1e12).as("key"))
        .orderBy(col("key"), col("doc_id")).limit(32)
        .select(row_number().over(Window.orderBy(col("key"), col("doc_id")))
          .cast("long").as("rank"), col("doc_id"), col("weight"), col("key"))
    }),

    // L314 — Chao1 vocabulary-richness estimate (Chao 1984) + Good's
    // coverage: V̂ = V + F1(F1−1)/(2(F2+1)) from the singleton/doubleton
    // counts of the token frequency spectrum — "how many token types
    // exist that this corpus hasn't seen yet", the capture-recapture
    // answer for vocabulary that heaps_law_fit extrapolates and
    // good_turing_counts discounts; C = 1 − F1/N is the Good coverage
    // of the observed vocabulary. One token pass to the count spectrum
    // (vocabulary-sized), then 1-row algebra.
    "chao1_vocab" -> ((s, dir) => {
      import graft.llm.TextOps.tokens
      val cnt = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      cnt.agg(count(lit(1)).as("v_observed"),
          sum("c").as("n_tokens"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
        .select(col("v_observed"), col("n_tokens"), col("f1"), col("f2"),
          roundHU(col("v_observed") + col("f1").cast("double") *
            (col("f1") - 1L) / (lit(2.0) * (col("f2") + 1L)), 1e6)
            .as("chao1_est"),
          roundHU(lit(1.0) - col("f1").cast("double") / col("n_tokens"), 1e6)
            .as("good_coverage"))
    }),

    // L315 — Newey–West HAC standard error (1987) of the daily mean
    // revenue: autocorrelation-robust variance γ0 + 2Σ(1−l/(L+1))γl
    // with Bartlett weights at L=7 — the SE a time-series mean must
    // report when daily_acf shows serial correlation (the naive s/√n is
    // anti-conservative exactly then). Lag products come from a
    // day-offset self-join over the CALENDAR-sized gapfilled rollup
    // (the daily_acf shape); every γ term 8dp-rounds into decimal sums.
    "newey_west_se" -> ((s, dir) => {
      val dayUs = 86400000000L
      val nwL = 7
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
        .localCheckpoint(false) // reused: mean + both lag-join sides
      val m = broadcast(series.agg(count(lit(1)).as("n"),
        (decSum(col("x")) / count(lit(1))).as("mu")))
      val dev = series.crossJoin(m)
        .select(col("day"), (col("x") - col("mu")).as("d"), col("n"))
        .localCheckpoint(false) // reused: lag join both sides
      val gam = dev.select(explode(sequence(lit(0), lit(nwL))).as("l"),
          col("day"), col("d"), col("n"))
        .join(dev.select(col("day").as("day0"), col("d").as("d0")),
          col("day0") === col("day") - col("l"))
      gam
        .select(col("l"), col("n"),
          roundHU(col("d") * col("d0"), 1e8)
            .cast(DecimalType(18, 8)).as("t"))
        .groupBy("l", "n").agg(sum("t").cast("double").as("g"))
        .select(col("n"),
          roundHU((when(col("l") === 0, lit(1.0))
            .otherwise(lit(2.0) * (lit(1.0) - col("l") / lit(nwL + 1.0)))) *
            col("g") / col("n"), 1e8).cast(DecimalType(18, 8)).as("term"))
        .groupBy("n").agg(sum("term").cast("double").as("nw_var"))
        .select(col("n").as("n_days"),
          roundHU(col("nw_var"), 1e6).as("nw_variance"),
          roundHU(sqrt(col("nw_var") / col("n")), 1e6).as("nw_se"))
    }),

    // L316 — split-conformal prediction interval (Vovk; Lei et al.
    // 2018) on the naive daily forecast: calibrate |x_t − x_{t−1}| on
    // the first half of days, take the ⌈(m+1)(1−α)⌉-smallest residual
    // as the radius q̂, and report the EMPIRICAL coverage of x̂ ± q̂ on
    // the held-out half — the distribution-free "this interval really
    // covers 90%" guarantee a parametric σ-band can't make. The
    // quantile pick is a count-below self-join over the calendar-sized
    // calibration rollup (the pettitt class) — no global sort.
    "conformal_interval" -> ((s, dir) => {
      val dayUs = 86400000000L
      val alpha = 0.1
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"),
        ((min("day") + max("day")) / 2).as("mid"))
      val series = grid
        .select(explode(sequence(col("d0"), col("d1"))).as("day"), col("mid"))
        .join(counts, Seq("day"), "left")
        .select(col("day"), col("mid"), coalesce(col("x"), lit(0.0)).as("x"))
      val resid = series.as("a")
        .join(series.select((col("day") + 1).as("day"), col("x").as("xp")),
          Seq("day"))
        .select(col("day"), col("mid"), roundHU(abs(col("x") - col("xp")), 1e6)
          .as("r"))
        .localCheckpoint(false) // reused: cal (2 sides) + test
      val cal = resid.filter(col("day") <= col("mid")).select("r")
        .localCheckpoint(false) // reused: both quantile-join sides + m
      val mct = broadcast(cal.agg(count(lit(1)).as("m")))
      // q = smallest r whose inclusive below-count reaches ceil((m+1)(1-alpha))
      val q = broadcast(cal.as("a")
        .join(cal.as("b"), col("b.r") <= col("a.r"), "left")
        .groupBy(col("a.r").as("r")).agg(count(col("b.r")).as("cle"))
        .crossJoin(mct)
        .filter(col("cle") >= ceil((col("m") + 1) * lit(1.0 - alpha)))
        .agg(min("r").as("q")))
      resid.filter(col("day") > col("mid"))
        .crossJoin(q).crossJoin(mct)
        .agg(max("m").as("n_cal"), count(lit(1)).as("n_test"),
          max("q").as("q_hat"),
          roundHU(sum(when(col("r") <= col("q"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 1e6).as("coverage"))
        .select(col("n_cal"), col("n_test"), col("q_hat"),
          col("coverage"), lit(1.0 - alpha).as("target"))
    }),

    // L317 — precision–recall AUC (step-wise average precision) of the
    // stopword-density score against the en label: AP = Σ ΔTP·P / n_pos
    // over thresholds descending — the imbalanced-class companion to
    // roc_auc (AUC stays flattering when positives are rare; AP does
    // not). Same quantized-score-grid machinery as roc_auc: the only
    // ordered pass runs over the ≤10⁴+1 distinct 4dp scores, never
    // fact-sized; per-threshold AP terms 8dp-round into decimal sums.
    "pr_auc" -> ((s, dir) => {
      import graft.llm.TextOps.{tokens, stopwordHits}
      val nTok = size(tokens(col("text")))
      val g = docs(s, dir).filter(nTok > 0)
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          (floor(stopwordHits(col("text")).cast("double") / nTok * lit(1e4) +
            lit(0.5)) / lit(1e4)).as("score"))
        .groupBy("score")
        .agg(sum("y").as("n1s"), (count(lit(1)) - sum("y")).as("n0s"))
      val w = Window.orderBy(desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("ctp", sum("n1s").over(w))
        .withColumn("cfp", sum("n0s").over(w))
        .select(col("n1s"),
          roundHU(col("n1s") * col("ctp").cast("double") /
            (col("ctp") + col("cfp")), 1e8).cast(DecimalType(18, 8)).as("t"))
        .agg(sum("n1s").as("n_pos"), sum("t").cast("double").as("st"))
        .select(col("n_pos"),
          roundHU(col("st") / col("n_pos"), 1e6).as("pr_auc"))
    }),

    // L318 — trend/seasonality strength (Hyndman & Athanasopoulos, FPP:
    // F_T = max(0, 1 − V(R)/V(T+R)), F_S = max(0, 1 − V(R)/V(S+R))) of
    // the daily revenue decomposition — the one-number "is there REAL
    // weekly structure here" readout of seasonal_decompose's per-day
    // table (decides whether snaive7/dow-features earn their keep).
    // Identical decomposition spelling (7-day centered MA, dow means);
    // variances from calendar-sized rollups, terms 8dp-rounded into
    // decimal sums.
    "seasonality_strength" -> ((s, dir) => {
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
      val w7 = Window.orderBy("day").rowsBetween(-3, 3)
      val tr = series
        .withColumn("win_n", count(lit(1)).over(w7))
        .withColumn("trend",
          sum(col("x").cast(DecimalType(18, 6))).over(w7).cast("double") /
            lit(7.0))
        .filter(col("win_n") === 7)
        .withColumn("detr", r6(col("x") - col("trend")))
        .withColumn("dow", col("day") % 7)
        .localCheckpoint(false) // reused: seasonal means + the term pass
      val seas = tr.groupBy("dow")
        .agg((decSum(col("detr")) / count(lit(1))).as("sr"))
      val comp = tr.join(seas, "dow")
        .select(r6(col("detr") - col("sr")).as("r"),
          col("detr"),
          r6(col("x") - col("sr")).as("deseas"))
        .localCheckpoint(false) // reused: means + the variance pass
      val mu = broadcast(comp.agg(count(lit(1)).as("n"),
        (decSum(col("r")) / count(lit(1))).as("mr"),
        (decSum(col("detr")) / count(lit(1))).as("md"),
        (decSum(col("deseas")) / count(lit(1))).as("ms")))
      comp.crossJoin(mu)
        .select(col("n"),
          roundHU((col("r") - col("mr")) * (col("r") - col("mr")), 1e8)
            .cast(DecimalType(18, 8)).as("vr"),
          roundHU((col("detr") - col("md")) * (col("detr") - col("md")), 1e8)
            .cast(DecimalType(18, 8)).as("vd"),
          roundHU((col("deseas") - col("ms")) * (col("deseas") - col("ms")),
            1e8).cast(DecimalType(18, 8)).as("vs"))
        .groupBy("n")
        .agg(sum("vr").cast("double").as("vr"),
          sum("vd").cast("double").as("vd"),
          sum("vs").cast("double").as("vs"))
        .select(col("n").as("n_days"),
          roundHU(col("vr") / col("n"), 1e6).as("var_resid"),
          roundHU(greatest(lit(0.0), lit(1.0) - col("vr") / col("vs")), 1e6)
            .as("f_trend"),
          roundHU(greatest(lit(0.0), lit(1.0) - col("vr") / col("vd")), 1e6)
            .as("f_seasonal"))
    }))

  val oracleSql: Map[String, String] = Map(

    "isotonic_calibration" -> {
      import graft.llm.TextOps.{sqlTokens, sqlStopwordHits}
      s"""WITH bins AS MATERIALIZED (
         |  SELECT least(10, CAST(floor(CAST($sqlStopwordHits AS DOUBLE)
         |           / len($sqlTokens) * 10) AS BIGINT)) AS bin,
         |         CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM documents WHERE len($sqlTokens) > 0 GROUP BY 1),
         |rng AS (
         |  SELECT j.bin AS j, k.bin AS k,
         |         floor(CAST(SUM(m.hits) AS DOUBLE) / SUM(m.n) * 1e8 + 5e-1) / 1e8 AS avg
         |  FROM bins j JOIN bins k ON j.bin <= k.bin
         |  JOIN bins m ON m.bin >= j.bin AND m.bin <= k.bin
         |  GROUP BY 1, 2),
         |inner_mn AS (
         |  SELECT i.bin AS i, r.j, MIN(r.avg) AS mn
         |  FROM bins i JOIN rng r ON r.j <= i.bin AND r.k >= i.bin
         |  GROUP BY 1, 2),
         |iso AS (SELECT i, MAX(mn) AS iso FROM inner_mn GROUP BY i)
         |SELECT bin, n AS n_docs,
         |       floor(CAST(hits AS DOUBLE) / n * 1e6 + 5e-1) / 1e6 AS raw_rate,
         |       floor(iso * 1e6 + 5e-1) / 1e6 AS iso_rate
         |FROM bins JOIN iso ON iso.i = bins.bin
         |ORDER BY bin""".stripMargin
    },

    "es_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars AS weight,
        |         floor(-ln(((doc_id * 2654435761) % 2147483647 + 1.0)
        |               / 2147483648.0) / n_chars * 1e12 + 5e-1) / 1e12 AS key
        |  FROM documents WHERE n_chars > 0)
        |SELECT CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS rank,
        |       doc_id, weight, key
        |FROM keyed ORDER BY key, doc_id LIMIT 32""".stripMargin,

    "chao1_vocab" -> {
      import graft.llm.TextOps.sqlTokens
      s"""WITH cnt AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sqlTokens) AS token FROM documents)
         |  GROUP BY token),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS v_observed,
         |         CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM cnt)
         |SELECT v_observed, n_tokens, f1, f2,
         |       floor((v_observed + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)))
         |             * 1e6 + 5e-1) / 1e6 AS chao1_est,
         |       floor((1.0 - CAST(f1 AS DOUBLE) / n_tokens) * 1e6 + 5e-1) / 1e6
         |         AS good_coverage
         |FROM a""".stripMargin
    },

    "newey_west_se" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS MATERIALIZED (SELECT g.day, COALESCE(c.x, 0.0) AS x
        |                   FROM g LEFT JOIN c USING (day)),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
        |      FROM s),
        |dev AS MATERIALIZED (SELECT day, x - mu AS d, n FROM s, m),
        |lags AS (SELECT unnest(generate_series(0, 7)) AS l),
        |gam AS (
        |  SELECT l, MAX(a.n) AS n,
        |         CAST(SUM(CAST(floor(a.d * b.d * 1e8 + 5e-1) / 1e8
        |                       AS DECIMAL(18,8))) AS DOUBLE) AS g
        |  FROM lags JOIN dev a ON TRUE
        |  JOIN dev b ON b.day = a.day - l
        |  GROUP BY l),
        |terms AS (
        |  SELECT n, CAST(floor((CASE WHEN l = 0 THEN 1.0
        |                             ELSE 2.0 * (1.0 - l / 8.0) END) * g / n
        |                       * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8)) AS term
        |  FROM gam),
        |v AS (SELECT n, CAST(SUM(term) AS DOUBLE) AS nw_var FROM terms GROUP BY n)
        |SELECT n AS n_days,
        |       floor(nw_var * 1e6 + 5e-1) / 1e6 AS nw_variance,
        |       floor(sqrt(nw_var / n) * 1e6 + 5e-1) / 1e6 AS nw_se
        |FROM v""".stripMargin,

    "conformal_interval" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day,
        |             (MIN(day) + MAX(day)) // 2 AS mid FROM c),
        |s AS (SELECT g.day, g.mid, COALESCE(c.x, 0.0) AS x
        |      FROM g LEFT JOIN c USING (day)),
        |resid AS MATERIALIZED (
        |  SELECT a.day, a.mid,
        |         floor(abs(a.x - b.x) * 1e6 + 5e-1) / 1e6 AS r
        |  FROM s a JOIN s b ON b.day = a.day - 1),
        |cal AS MATERIALIZED (SELECT r FROM resid WHERE day <= mid),
        |mct AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM cal),
        |q AS (
        |  SELECT MIN(r) AS q FROM (
        |    SELECT a.r, CAST(COUNT(b.r) AS BIGINT) AS cle
        |    FROM cal a LEFT JOIN cal b ON b.r <= a.r
        |    GROUP BY a.r), mct
        |  WHERE cle >= ceil((m + 1) * 0.9))
        |SELECT MAX(m) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |       MAX(q.q) AS q_hat,
        |       floor(CAST(SUM(CASE WHEN r <= q.q THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*) * 1e6 + 5e-1) / 1e6 AS coverage,
        |       0.9 AS target
        |FROM resid, q, mct WHERE day > mid""".stripMargin,

    "pr_auc" -> {
      import graft.llm.TextOps.{sqlTokens, sqlStopwordHits}
      s"""WITH sc AS (SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
         |              floor(CAST($sqlStopwordHits AS DOUBLE) / len($sqlTokens)
         |                    * 1e4 + 5e-1) / 1e4 AS score
         |            FROM documents WHERE len($sqlTokens) > 0),
         |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS n1s,
         |             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0s
         |      FROM sc GROUP BY score),
         |cum AS (
         |  SELECT n1s,
         |         CAST(SUM(n1s) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS ctp,
         |         CAST(SUM(n0s) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cfp
         |  FROM g),
         |t AS (SELECT n1s,
         |        CAST(floor(n1s * CAST(ctp AS DOUBLE) / (ctp + cfp) * 1e8 + 5e-1)
         |             / 1e8 AS DECIMAL(18,8)) AS t
         |      FROM cum)
         |SELECT CAST(SUM(n1s) AS BIGINT) AS n_pos,
         |       floor(CAST(SUM(t) AS DOUBLE) / SUM(n1s) * 1e6 + 5e-1) / 1e6 AS pr_auc
         |FROM t""".stripMargin
    },

    "seasonality_strength" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS (SELECT g.day, COALESCE(c.x, 0.0) AS x FROM g LEFT JOIN c USING (day)),
        |tr AS MATERIALIZED (
        |  SELECT day, x,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) / 7.0 AS trend,
        |    COUNT(*) OVER w AS win_n
        |  FROM s
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS MATERIALIZED (
        |  SELECT day, x, trend, floor((x - trend) * 1e6 + 5e-1) / 1e6 AS detr,
        |         day % 7 AS dow
        |  FROM tr WHERE win_n = 7),
        |seas AS (SELECT dow,
        |           CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS sr
        |         FROM dt GROUP BY dow),
        |comp AS MATERIALIZED (
        |  SELECT floor((detr - sr) * 1e6 + 5e-1) / 1e6 AS r, detr,
        |         floor((x - sr) * 1e6 + 5e-1) / 1e6 AS deseas
        |  FROM dt JOIN seas USING (dow)),
        |mu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mr,
        |         CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS md,
        |         CAST(SUM(CAST(deseas AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ms
        |       FROM comp),
        |v AS (
        |  SELECT n,
        |    CAST(SUM(CAST(floor((r - mr) * (r - mr) * 1e8 + 5e-1) / 1e8
        |                  AS DECIMAL(18,8))) AS DOUBLE) AS vr,
        |    CAST(SUM(CAST(floor((detr - md) * (detr - md) * 1e8 + 5e-1) / 1e8
        |                  AS DECIMAL(18,8))) AS DOUBLE) AS vd,
        |    CAST(SUM(CAST(floor((deseas - ms) * (deseas - ms) * 1e8 + 5e-1) / 1e8
        |                  AS DECIMAL(18,8))) AS DOUBLE) AS vs
        |  FROM comp, mu GROUP BY n)
        |SELECT n AS n_days,
        |       floor(vr / n * 1e6 + 5e-1) / 1e6 AS var_resid,
        |       floor(greatest(0.0, 1.0 - vr / vs) * 1e6 + 5e-1) / 1e6 AS f_trend,
        |       floor(greatest(0.0, 1.0 - vr / vd) * 1e6 + 5e-1) / 1e6 AS f_seasonal
        |FROM v""".stripMargin,

    "bh_fdr" -> {
      val z = "z_stat"
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx,
         |               CAST(COUNT(*) AS BIGINT) AS m FROM per),
         |sc AS (
         |  SELECT source, n AS n_docs, x AS en_docs,
         |         floor(CAST(x AS DOUBLE) / n * 1e6 + 5e-1) / 1e6 AS en_share, m,
         |         floor((CAST(x AS DOUBLE) / n - CAST(xx - x AS DOUBLE) / (nn - n))
         |               / sqrt((CAST(xx AS DOUBLE) / nn) * (1.0 - CAST(xx AS DOUBLE) / nn)
         |                      * (1.0 / n + 1.0 / (nn - n))) * 1e6 + 5e-1) / 1e6 AS z_stat
         |  FROM per, tot),
         |p AS (
         |  SELECT *, floor(${sqlPTwoSided(z)} * 1e8 + 5e-1) / 1e8 AS p_value FROM sc),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT) AS p_rank,
         |         floor(CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT)
         |               * $BhAlpha / m * 1e8 + 5e-1) / 1e8 AS bh_crit
         |  FROM p),
         |k AS (SELECT COALESCE(MAX(CASE WHEN p_value <= bh_crit THEN p_rank END), 0) AS kmax
         |      FROM r)
         |SELECT source, n_docs, en_docs, en_share, z_stat, p_value, p_rank, bh_crit,
         |       (p_rank <= kmax) AS reject
         |FROM r, k ORDER BY p_rank""".stripMargin
    },

    "mixture_ess" -> {
      import graft.llm.TextOps.sqlTokens
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len($sqlTokens)) AS BIGINT) AS tok
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nd, CAST(SUM(tok) AS BIGINT) AS tt,
         |               CAST(COUNT(*) AS BIGINT) AS n_sources FROM per),
         |w0 AS MATERIALIZED (
         |  SELECT source, n_docs, nd, n_sources,
         |         floor(sqrt(CAST(tok AS DOUBLE) / tt) * 1e8 + 5e-1) / 1e8 AS q0,
         |         floor(CAST(tok AS DOUBLE) / tt * 1e8 + 5e-1) / 1e8 AS p
         |  FROM per, tot),
         |z AS (SELECT CAST(SUM(CAST(q0 AS DECIMAL(18,8))) AS DOUBLE) AS qz FROM w0),
         |w AS (
         |  SELECT n_docs, nd, n_sources,
         |         floor(q0 / qz / p * 1e8 + 5e-1) / 1e8 AS w
         |  FROM w0, z),
         |e AS (
         |  SELECT nd, n_sources,
         |         CAST(SUM(CAST(floor(n_docs * w * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS sw,
         |         CAST(SUM(CAST(floor(n_docs * w * w * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS sw2
         |  FROM w GROUP BY nd, n_sources)
         |SELECT nd AS n_docs, n_sources,
         |       floor(sw * sw / sw2 * 1e6 + 5e-1) / 1e6 AS ess,
         |       floor(nd / (sw * sw / sw2) * 1e6 + 5e-1) / 1e6 AS design_effect
         |FROM e""".stripMargin
    },

    "soft_dedup_weights" ->
      """WITH fam AS (
        |  SELECT text, CAST(COUNT(*) AS BIGINT) AS fam_n FROM documents GROUP BY text)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN fam_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_in_dup_family,
        |       floor(CAST(SUM(CAST(floor(1.0 / fam_n * 1e8 + 5e-1) / 1e8
        |                          AS DECIMAL(18,8))) AS DOUBLE) * 1e6 + 5e-1) / 1e6
        |         AS effective_docs,
        |       floor(CAST(SUM(CAST(floor(1.0 / fam_n * 1e8 + 5e-1) / 1e8
        |                          AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)
        |             * 1e6 + 5e-1) / 1e6 AS retention
        |FROM documents d JOIN fam USING (text)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "t_closeness" ->
      s"""WITH mm AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi,
         |                   CAST(COUNT(*) AS BIGINT) AS nn FROM customer),
         |bk AS MATERIALIZED (
         |  SELECT c_nationkey, c_mktsegment, nn,
         |         least(${TcBuckets - 1}, CAST(floor((c_acctbal - lo) * $TcBuckets.0
         |           / (hi - lo + 1e-9)) AS BIGINT)) AS b
         |  FROM customer, mm),
         |gd AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS gc, MAX(nn) AS nn
         |         FROM bk GROUP BY b),
         |cls AS (SELECT c_nationkey, c_mktsegment, b, CAST(COUNT(*) AS BIGINT) AS cc
         |        FROM bk GROUP BY 1, 2, 3),
         |classes AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(cc) AS BIGINT)
         |              AS class_size FROM cls GROUP BY 1, 2),
         |grid AS (
         |  SELECT c.c_nationkey, c.c_mktsegment, c.class_size, g.b,
         |         COALESCE(cl.cc, 0) / CAST(c.class_size AS DOUBLE)
         |           - CAST(gl.gc AS DOUBLE) / gl.nn AS d
         |  FROM classes c
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${TcBuckets - 1})) AS b) g
         |  LEFT JOIN cls cl ON cl.c_nationkey = c.c_nationkey
         |    AND cl.c_mktsegment = c.c_mktsegment AND cl.b = g.b
         |  JOIN gd gl ON gl.b = g.b),
         |cum AS (
         |  SELECT c_nationkey, c_mktsegment, class_size, b,
         |         SUM(d) OVER (PARTITION BY c_nationkey, c_mktsegment
         |                      ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM grid)
         |SELECT c_nationkey, c_mktsegment, class_size,
         |       floor(CAST(SUM(CAST(floor(abs(cum) * 1e8 + 5e-1) / 1e8
         |                          AS DECIMAL(18,8))) AS DOUBLE)
         |             / ${TcBuckets - 1} * 1e6 + 5e-1) / 1e6 AS t_closeness
         |FROM cum WHERE b < ${TcBuckets - 1}
         |GROUP BY c_nationkey, c_mktsegment, class_size
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "ses_forecast" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS (SELECT g.day, COALESCE(c.x, 0.0) AS x,
        |        CAST(row_number() OVER (ORDER BY g.day) AS BIGINT) AS k
        |      FROM g LEFT JOIN c USING (day)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM s),
        |lvl AS MATERIALIZED (
        |  SELECT a.k AS t,
        |         CAST(SUM(CAST(floor(b.x * (CASE WHEN b.k = 1
        |             THEN pow(0.5, a.k - 1)
        |             ELSE pow(0.5, a.k - b.k + 1) END) * 1e8 + 5e-1) / 1e8
        |           AS DECIMAL(18,8))) AS DOUBLE) AS level
        |  FROM s a JOIN s b ON b.k <= a.k GROUP BY a.k),
        |err AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
        |         CAST(SUM(CAST(floor(abs(s.x - l.level) * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS sae,
        |         CAST(SUM(CAST(floor((s.x - l.level) * (s.x - l.level) * 1e6 + 5e-1)
        |                       / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sse
        |  FROM s JOIN lvl l ON l.t = s.k - 1 WHERE s.k > 1),
        |last AS (SELECT n_days, floor(level * 1e6 + 5e-1) / 1e6 AS next_forecast
        |         FROM lvl, n WHERE t = n_days)
        |SELECT 0.5 AS alpha, n_days, n_eval,
        |       floor(sae / n_eval * 1e6 + 5e-1) / 1e6 AS mae,
        |       floor(sqrt(sse / n_eval) * 1e6 + 5e-1) / 1e6 AS rmse,
        |       next_forecast
        |FROM err, last""".stripMargin,

    "effect_sizes" ->
      """WITH pv AS (
        |  SELECT n_chars AS value,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN n_chars * n_chars ELSE 0 END)
        |      AS BIGINT) AS qa,
        |    CAST(SUM(CASE WHEN lang <> 'en' THEN n_chars * n_chars ELSE 0 END)
        |      AS BIGINT) AS qb
        |  FROM documents GROUP BY n_chars),
        |cum AS (
        |  SELECT *, CAST(COALESCE(SUM(cb) OVER (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_cb
        |  FROM pv),
        |a AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(sa) AS BIGINT) AS s_a, CAST(SUM(sb) AS BIGINT) AS s_b,
        |    CAST(SUM(qa) AS BIGINT) AS q_a, CAST(SUM(qb) AS BIGINT) AS q_b,
        |    CAST(SUM(2 * ca * cum_cb + ca * cb) AS BIGINT) AS u2
        |  FROM cum),
        |m AS (
        |  SELECT *, CAST(s_a AS DOUBLE) / n_a AS ma, CAST(s_b AS DOUBLE) / n_b AS mb,
        |    (q_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) AS va,
        |    (q_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) AS vb
        |  FROM a),
        |sp AS (
        |  SELECT *, sqrt(((n_a - 1) * va + (n_b - 1) * vb) / (n_a + n_b - 2)) AS sp
        |  FROM m)
        |SELECT n_a, n_b,
        |       floor(ma * 1e6 + 5e-1) / 1e6 AS mean_a,
        |       floor(mb * 1e6 + 5e-1) / 1e6 AS mean_b,
        |       floor(sp * 1e6 + 5e-1) / 1e6 AS pooled_sd,
        |       floor((ma - mb) / sp * 1e6 + 5e-1) / 1e6 AS cohens_d,
        |       floor((ma - mb) / sp * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9))
        |             * 1e6 + 5e-1) / 1e6 AS hedges_g,
        |       floor(CAST(u2 - n_a * n_b AS DOUBLE) / (n_a * n_b) * 1e6 + 5e-1) / 1e6
        |         AS cliffs_delta
        |FROM sp""".stripMargin)
}
