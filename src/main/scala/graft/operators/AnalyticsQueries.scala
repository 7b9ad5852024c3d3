package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import QueryHelpers.{coPurchaseEdges, decSum, docs, roundHU, t}

/** Round-12 additions: the published analytics families still missing
  * from the catalog — spectral seasonality (the DFT periodogram),
  * density clustering (grid-blocked DBSCAN core/border/noise), the
  * structural-break scan (Chow 1960), sequential testing (Wald's SPRT),
  * cooperative-game channel attribution (exact Shapley over the
  * channel-coalition lattice), kernel density estimation (Gaussian KDE,
  * Silverman bandwidth), multivariate outliers (Mahalanobis distance),
  * the aggregation-reversal detector (Simpson's paradox), the bounded
  * symmetric divergence (Jensen–Shannon), quantile-forecast scoring
  * (pinball loss), and the overdispersed-count fit (negative binomial
  * method of moments).
  *
  * Same contract as the sibling objects: every query is a lazy
  * DataFrame plan mirrored by a DuckDB oracle built from the SAME
  * constants and rounding spellings (floor(x·10^d + 0.5)/10^d), no
  * UDFs, no driver-side collects, no unbounded global windows (the one
  * ordered frame here — sprt_ab's cumulative log-likelihood walk — runs
  * over a calendar-sized daily rollup, allowlisted like daily_acf).
  * Raw moment sums ride exact DECIMAL accumulators (the grouped_ols
  * convention), so the doubles they cast to are bit-identical across
  * engines and partial-aggregation orders.
  */
object AnalyticsQueries {

  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.withColumn("ts_us", graft.sources.EventTime.tsUs(df))
  }

  private val DayUs = 86400000000L

  // Epoch-day rollup of the event stream (count + decimal value sum),
  // the shared head of periodogram / sprt_ab / pinball_loss.
  private def dailyEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_conv"),
        decSum(col("value"), 2).as("v"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // L319 — DFT periodogram of the daily event-count series (Schuster
    // 1898): P_k = C_k² + S_k² at harmonics k = 1..10 over the gap-
    // filled day grid — the SPECTRAL seasonality readout next to
    // seasonality_strength's variance-ratio one-number (a 7-day cycle
    // shows as mass at k ≈ n/7 rather than as an averaged F_S). Scale
    // shape: one calendar-sized daily rollup, a 10-way harmonic fan-out
    // of that calendar table (never fact-sized), per-term cos/sin
    // products 8dp-rounded into exact decimal sums.
    "periodogram" -> ((s, dir) => {
      val counts = dailyEvents(s, dir).select(col("day"), col("n_ev"))
      val mm = counts.agg(min("day").as("d0"), max("day").as("d1"),
        (max("day") - min("day") + 1L).as("n"))
        .localCheckpoint(false) // reused: the grid + every harmonic row
      val grid = mm.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_ev"), lit(0L)).as("x"))
      val ks = mm.select(explode(sequence(lit(1L), lit(10L))).as("k"),
        col("d0"), col("n"))
      series.join(broadcast(ks), series("day") >= ks("d0"))
        .select(col("k"), col("n"), col("x"),
          (lit(2.0 * math.Pi) * col("k") * (col("day") - col("d0")) /
            col("n")).as("ang"))
        .select(col("k"), col("n"),
          roundHU(col("x") * cos(col("ang")), 1e8)
            .cast(DecimalType(18, 8)).as("ct"),
          roundHU(col("x") * sin(col("ang")), 1e8)
            .cast(DecimalType(18, 8)).as("st"))
        .groupBy("k", "n")
        .agg(sum("ct").cast("double").as("c"),
          sum("st").cast("double").as("sn"))
        .select(col("k"), col("n").as("n_days"),
          roundHU(col("c"), 1e6).as("cos_sum"),
          roundHU(col("sn"), 1e6).as("sin_sum"),
          roundHU(col("c") * col("c") + col("sn") * col("sn"), 1e6)
            .as("power"))
        .orderBy("k")
    }),

    // L320 — grid-blocked DBSCAN point classification (Ester et al.
    // 1996): customers as (log10 spend, log10 order-count) points in
    // EXACT integer 1e-4 units, eps-neighborhoods counted through a
    // 3×3 neighbor-cell equi-join (cell width = eps, so every true
    // neighbor is in the 9-cell patch — never an all-pairs join), core
    // = |N_eps| ≥ minPts (self included, the paper's convention),
    // border = non-core with a core point in range, rest noise. The
    // density-clustering triage that k-means-style centroids can't do
    // (no k, finds noise). Integer coordinates make the cell floor-div
    // and the squared-distance compare bit-exact cross-engine; the
    // within-patch fan-out is bounded by cell density, the DBSCAN
    // scale contract.
    "dbscan_core" -> ((s, dir) => {
      // eps = 0.03 log10 units: neighborhoods sized to minPts (the
      // Ester et al. k-dist guidance) — the r12 0.075 packed >1200
      // points per cell at sf0.1 and the 3×3 candidate join emitted
      // ~86M pairs (12.5s); this eps keeps cells minPts-dense, and the
      // FORWARD-cell probe below generates each unordered pair ONCE
      // (self-cell ordered by id, plus the 4 lexicographically-forward
      // neighbor cells), crediting both endpoints — half the candidate
      // volume of the symmetric 3×3 probe at any density.
      val epsI = 300L
      val eps2 = epsI * epsI
      val minPts = 4L
      val pts = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(decSum(col("o_totalprice"), 2).as("spend"),
          count(lit(1)).as("m"))
        .select(col("ck"),
          floor(log10(col("spend") + 1.0) * 1e4 + 0.5).cast("long").as("xi"),
          floor(log10(col("m").cast("double") + 1.0) * 1e4 + 0.5)
            .cast("long").as("yi"))
        .withColumn("cx", expr(s"xi div $epsI"))
        .withColumn("cy", expr(s"yi div $epsI"))
        .localCheckpoint(false) // reused: probe side + build side + verdicts
      // forward offsets: (0,0) self-cell (pairs ordered by id), then
      // (1,-1),(1,0),(1,1),(0,1) — every unordered cell pair within
      // Chebyshev distance 1 appears exactly once in this orientation
      val offs = Seq((0L, 0L), (1L, -1L), (1L, 0L), (1L, 1L), (0L, 1L))
      val probes = pts.select(col("ck"), col("xi"), col("yi"),
        col("cx"), col("cy"),
        explode(array(offs.map { case (dx, dy) =>
          struct((col("cx") + dx).as("px"), (col("cy") + dy).as("py"))
        }: _*)).as("p"))
        .select(col("ck"), col("xi"), col("yi"), col("cx"), col("cy"),
          col("p.px").as("px"), col("p.py").as("py"))
      val pairs = probes.join(pts
          .select(col("ck").as("bk"), col("xi").as("bxi"),
            col("yi").as("byi"), col("cx").as("px"), col("cy").as("py"))
          .hint("shuffle_hash"),
          Seq("px", "py"))
        .filter((col("px") =!= col("cx") || col("py") =!= col("cy") ||
          col("ck") < col("bk")) &&
          (col("xi") - col("bxi")) * (col("xi") - col("bxi")) +
            (col("yi") - col("byi")) * (col("yi") - col("byi")) <= eps2)
        .select(col("ck"), col("bk"))
        .localCheckpoint(false) // reused: core counts + the border probe
      // each surviving pair credits BOTH endpoints; the point itself
      // counts too (|N_eps| includes self — the paper's convention)
      val cores = pts.select(col("ck"))
        .join(pairs.select(explode(array(col("ck"), col("bk"))).as("pk")),
          col("ck") === col("pk"), "left")
        .groupBy("ck")
        .agg((lit(1L) + count(col("pk"))).as("n_nbr")) // self + matches
        .withColumn("core", col("n_nbr") >= minPts)
        .localCheckpoint(false) // reused: border join + the final rollup
      val coreIds = cores.filter(col("core")).select(col("ck").as("cid"))
      val border = pairs
        .join(coreIds, pairs("ck") === coreIds("cid"), "left")
        .withColumnRenamed("cid", "a_core")
        .join(coreIds, pairs("bk") === coreIds("cid"), "left")
        .select(
          when(col("a_core").isNotNull && col("cid").isNull, col("bk"))
            .when(col("cid").isNotNull && col("a_core").isNull, col("ck"))
            .as("bck"))
        .filter(col("bck").isNotNull).distinct()
      cores.join(border, cores("ck") === border("bck"), "left")
        .select(when(col("core"), "core")
          .when(col("bck").isNotNull, "border")
          .otherwise("noise").as("role"))
        .groupBy("role").agg(count(lit(1)).as("n_points"))
        .orderBy("role")
    }),

    // L321 — Chow structural-break scan (Chow 1960) over the monthly
    // revenue series: for every candidate break month b (≥ 8 months on
    // each side), F = ((SSE_pooled − SSE₁ − SSE₂)/k) / ((SSE₁+SSE₂)/
    // (n−2k)) with k = 2 OLS parameters per segment — the regression-
    // based changepoint test next to the rank-based pettitt_test and
    // the mean-shift cusum_changepoint (this one detects SLOPE breaks).
    // Scale shape: fact → calendar-sized monthly rollup once, then a
    // months × candidates fan-out (calendar², the theilsen_trend
    // bound); every SSE comes from exact decimal moment sums. Revenue
    // is scaled to 1e-6 units first so squared products stay within
    // the decimal accumulator width at any SF.
    "chow_test" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(decSum(col("o_totalprice"), 2).as("rev"))
        .select(col("month"),
          (substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long")).as("x"),
          roundHU(col("rev") / 1e6, 1e6).as("y"))
        .localCheckpoint(false) // reused: candidate set + the scan fan-out
      val bounds = m.agg(min("x").as("x0"), max("x").as("x1"))
      val cand = m.select(col("x").as("b"), col("month").as("break_month"))
        .crossJoin(broadcast(bounds))
        .filter(col("b") - col("x0") >= 8 && col("x1") - col("b") >= 8)
        .select("b", "break_month")
      def sse(pfx: String) = {
        val n = col(s"${pfx}n").cast("double")
        val vx = col(s"${pfx}sxx") - col(s"${pfx}sx") * col(s"${pfx}sx") / n
        val cv = col(s"${pfx}sxy") - col(s"${pfx}sx") * col(s"${pfx}sy") / n
        col(s"${pfx}syy") - col(s"${pfx}sy") * col(s"${pfx}sy") / n -
          cv * cv / vx
      }
      val scan = m.join(broadcast(cand), m("x") < cand("b") || m("x") >= cand("b"))
        .withColumn("side", when(col("x") < col("b"), 1L).otherwise(2L))
      def moments(g: DataFrame, keys: Seq[String], pfx: String) =
        g.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as(s"${pfx}n"),
            sum(col("x").cast(DecimalType(38, 6))).cast("double").as(s"${pfx}sx"),
            sum(col("y").cast(DecimalType(38, 6))).cast("double").as(s"${pfx}sy"),
            sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double")
              .as(s"${pfx}sxx"),
            sum((col("x") * col("y")).cast(DecimalType(38, 6))).cast("double")
              .as(s"${pfx}sxy"),
            sum((col("y") * col("y")).cast(DecimalType(38, 6))).cast("double")
              .as(s"${pfx}syy"))
      val pooled = moments(scan, Seq("break_month"), "p_")
      val sides = moments(scan, Seq("break_month", "side"), "s_")
        .groupBy("break_month")
        .agg(sum(when(col("side") === 1, col("s_n")).otherwise(0L)).as("n1"),
          sum(when(col("side") === 2, col("s_n")).otherwise(0L)).as("n2"),
          sum(roundHU(sse("s_"), 1e6).cast(DecimalType(38, 6))).cast("double")
            .as("sse_split"))
      pooled.join(sides, "break_month")
        .select(col("break_month"), col("n1"), col("n2"),
          roundHU(sse("p_"), 1e6).as("sse_pooled"), col("sse_split"))
        .withColumn("f_stat",
          roundHU(((col("sse_pooled") - col("sse_split")) / 2.0) /
            (col("sse_split") / (col("n1") + col("n2") - 4.0)), 1e6))
        .orderBy("break_month")
    }),

    // L322 — Wald's sequential probability ratio test (Wald 1945) on
    // the purchase-conversion stream: the cumulative log-likelihood
    // ratio walk for H₁: p = 0.22 vs H₀: p = 0.18 over daily
    // (trials, conversions), with the α = β = 0.05 decision bounds
    // ±ln(19) — the always-valid sequential A/B monitor that the
    // fixed-horizon battery (welch_ttest / prop_ztest) cannot give
    // (peeking at those inflates α; the SPRT walk is built to be read
    // every day). One calendar-sized daily rollup; the cumulative sums
    // run over that bounded frame (allowlisted like daily_acf); ln of
    // constant ratios only.
    "sprt_ab" -> ((s, dir) => {
      val (p0, p1) = (0.18, 0.22)
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val a = log(lit(19.0)) // ln((1-β)/α), α = β = 0.05
      dailyEvents(s, dir)
        .select(col("day"), col("n_ev"), col("n_conv"))
        .withColumn("ct", sum("n_ev").over(w))
        .withColumn("cs", sum("n_conv").over(w))
        .select(col("day"), col("ct").as("trials"), col("cs").as("conversions"),
          roundHU(col("cs") * log(lit(p1 / p0)) +
            (col("ct") - col("cs")) * log(lit((1.0 - p1) / (1.0 - p0))), 1e6)
            .as("llr"))
        .withColumn("decision",
          when(col("llr") >= roundHU(a, 1e6), "accept_h1")
            .when(col("llr") <= -roundHU(a, 1e6), "accept_h0")
            .otherwise("continue"))
        .orderBy("day")
    }),

    // L323 — exact Shapley-value channel attribution (Shapley 1953;
    // the data-driven attribution shape of Zhao et al. 2018): channels
    // = the four non-purchase event types, a user's coalition = the
    // set of channels they touched, v(S) = # converted users whose
    // touch-set ⊆ S, and φ_i = Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) −
    // v(S)) — the axiomatically fair split of conversions that
    // linear_attribution's equal-split heuristic approximates. Scale
    // shape: ONE fact pass to per-user (bitmask, converted), a 16-row
    // coalition lattice from a bounded rollup, and all Shapley sums on
    // the 4 × 16 lattice — driver-free, fact-free after the first agg.
    "shapley_attribution" -> ((s, dir) => {
      val um = events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("b0"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("b1"),
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("b2"),
          max(when(col("event_type") === "error", 1L).otherwise(0L)).as("b3"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select((col("b0") + col("b1") * 2 + col("b2") * 4 + col("b3") * 8)
          .as("mask"), col("conv"))
      val convByMask = um.filter(col("conv") === 1)
        .groupBy("mask").agg(count(lit(1)).as("nc"))
      val subsets = s.range(0, 1)
        .select(explode(sequence(lit(0L), lit(15L))).as("s"))
      val v = subsets.join(broadcast(convByMask),
          expr("(mask & s) = mask"), "left")
        .groupBy("s").agg(coalesce(sum("nc"), lit(0L)).as("v"))
        .localCheckpoint(false) // reused: the v(S) and v(S∪i) sides
      val channels = Seq(("signup", 1L), ("click", 2L), ("view", 4L),
        ("error", 8L))
      val ch = subsets.sparkSession.range(0, 1).select(
        explode(array(channels.map { case (n, b) =>
          struct(lit(n).as("channel"), lit(b).as("bit"))
        }: _*)).as("c"))
        .select(col("c.channel").as("channel"), col("c.bit").as("bit"))
      val terms = broadcast(ch).join(v.as("lo"), expr("(lo.s & bit) = 0"))
        .join(v.as("hi"), expr("hi.s = lo.s + bit"))
        .select(col("channel"),
          (expr("bit_count(lo.s)")).as("sz"),
          (col("hi.v") - col("lo.v")).cast("double").as("gain"))
        .select(col("channel"),
          roundHU(when(col("sz") === 0, lit(6.0) / 24)
            .when(col("sz") === 3, lit(6.0) / 24)
            .otherwise(lit(2.0) / 24) * col("gain"), 1e8)
            .cast(DecimalType(18, 8)).as("term"))
      terms.groupBy("channel")
        .agg(roundHU(sum("term").cast("double"), 1e6).as("shapley"))
        .orderBy("channel")
    }),

    // L324 — Gaussian kernel density estimate (Rosenblatt 1956;
    // bandwidth h = 1.06·σ·n^{−1/5}, Silverman's normal-reference
    // rule) of log10 order value at 21 evenly spaced grid points — the
    // smooth distribution readout that value_histogram's fixed bins
    // quantize away (modes between bin edges, tail shape). Scale
    // shape: one moment pass for (n, σ, min, max), then a 21-way grid
    // fan-out of the fact (linear, map-side partial-aggregated); φ
    // terms 8dp-round into exact decimal sums; n^{−1/5} is spelled
    // exp(−ln(n)/5) so both engines compose the same two libm
    // primitives.
    "kde_density" -> ((s, dir) => {
      val x = t(s, dir, "orders")
        .select(roundHU(log10(col("o_totalprice")), 1e6).as("x"))
        .localCheckpoint(false) // reused: the moment pass + the grid fan-out
      val st = x.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 8))).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(38, 8))).cast("double")
          .as("sxx"),
        min("x").as("xmin"), max("x").as("xmax"))
        .select(col("n"), col("xmin"), col("xmax"),
          roundHU(lit(1.06) *
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1.0)) *
            exp(-log(col("n").cast("double")) / 5.0), 1e6).as("h"))
      val grid = st.select(col("n"), col("h"),
          explode(sequence(lit(0L), lit(20L))).as("j"),
          col("xmin"), col("xmax"))
        .select(col("n"), col("h"), col("j"),
          roundHU(col("xmin") +
            col("j") * (col("xmax") - col("xmin")) / 20.0, 1e6).as("g"))
      x.crossJoin(broadcast(grid))
        .select(col("n"), col("h"), col("j"), col("g"),
          ((col("g") - col("x")) / col("h")).as("u"))
        .select(col("n"), col("h"), col("j"), col("g"),
          roundHU(lit(0.3989422804014327) * exp(-col("u") * col("u") / 2.0),
            1e8).cast(DecimalType(18, 8)).as("phi"))
        .groupBy("j", "g", "n", "h")
        .agg(sum("phi").cast("double").as("sphi"))
        .select(col("j"), col("g"), col("h").as("bandwidth"),
          roundHU(col("sphi") / (col("n") * col("h")), 1e6).as("density"))
        .orderBy("j")
    }),

    // L325 — Mahalanobis-distance outlier audit (Mahalanobis 1936)
    // over (quantity, log10 unit price): the covariance-aware
    // multivariate outlier count that the per-column zscore_outliers /
    // mad_outliers panels miss (a point can be 2σ on each axis yet
    // wildly off the correlation ridge). Closed-form 2×2 inverse, d²
    // against the χ²(2) 95/99% cuts — two fact passes (moments, then
    // distances), exact decimal moment sums, no per-row state.
    "mahalanobis_outliers" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem")
        .select(col("l_quantity").as("x"),
          roundHU(log10(col("l_extendedprice")), 1e6).as("y"))
        .localCheckpoint(false) // reused: moment pass + distance pass
      val m = pts.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(38, 6))).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 6))).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 6))).cast("double").as("syy"))
        .select(col("n"),
          (col("sx") / col("n")).as("mx"), (col("sy") / col("n")).as("my"),
          roundHU((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1.0), 1e8).as("a"),
          roundHU((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1.0), 1e8).as("b"),
          roundHU((col("syy") - col("sy") * col("sy") / col("n")) /
            (col("n") - 1.0), 1e8).as("c"))
      val d2 = pts.crossJoin(broadcast(m))
        .select(col("n"), col("a"), col("b"), col("c"),
          roundHU((col("c") * (col("x") - col("mx")) * (col("x") - col("mx"))
            - lit(2.0) * col("b") * (col("x") - col("mx")) * (col("y") - col("my"))
            + col("a") * (col("y") - col("my")) * (col("y") - col("my"))) /
            (col("a") * col("c") - col("b") * col("b")), 1e6).as("d2"))
      d2.groupBy("n", "a", "b", "c")
        .agg(sum(when(col("d2") > 5.991465, 1L).otherwise(0L)).as("n_out95"),
          sum(when(col("d2") > 9.21034, 1L).otherwise(0L)).as("n_out99"),
          max("d2").as("max_d2"))
        .select(col("n"), col("a").as("var_x"), col("b").as("cov_xy"),
          col("c").as("var_y"), col("n_out95"), col("n_out99"), col("max_d2"))
    }),

    // L326 — Simpson's-paradox reversal detector (Simpson 1951): the
    // OLS slope of quantity on discount, pooled vs within each
    // customer nation — flags the groups whose association sign
    // CONTRADICTS the pooled sign, the aggregation-bias audit that
    // should precede any pooled-regression readout (grouped_ols gives
    // the slopes; this one asks whether pooling lied). One fact→
    // nation-keyed moment rollup + a broadcast pooled row; exact
    // decimal moment sums, sign compare on 6dp-rounded slopes.
    "simpson_reversal" -> ((s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
          col("l_discount").as("x"), col("l_quantity").as("y"))
      def moments(g: DataFrame, keys: Seq[Column]) =
        g.groupBy(keys: _*)
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(DecimalType(38, 8))).cast("double").as("sx"),
            sum(col("y").cast(DecimalType(38, 8))).cast("double").as("sy"),
            sum((col("x") * col("x")).cast(DecimalType(38, 8))).cast("double")
              .as("sxx"),
            sum((col("x") * col("y")).cast(DecimalType(38, 8))).cast("double")
              .as("sxy"))
      val slope = roundHU((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 1e6)
      val byNation = moments(j, Seq(col("nation")))
        .select(col("nation"), col("n"), slope.as("slope_nation"))
      val pooled = moments(j, Nil).select(slope.as("slope_pooled"))
      byNation.crossJoin(broadcast(pooled))
        .select(col("nation"), col("n"), col("slope_nation"),
          col("slope_pooled"),
          ((col("slope_nation") > 0 && col("slope_pooled") < 0) ||
            (col("slope_nation") < 0 && col("slope_pooled") > 0))
            .as("reversed"))
        .orderBy("nation")
    }),

    // L327 — pairwise Jensen–Shannon divergence between per-source
    // unigram distributions (Lin 1991): JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    // M = ½(P+Q) — the SYMMETRIC, bounded (≤ ln 2) companion of
    // source_kl_divergence whose square root is a metric (the number
    // mixture planners actually threshold on; KL's asymmetry makes its
    // pairs table double-entry). Same top-200-vocab grid and add-one
    // smoothing as the KL query: every join after the one
    // vocabulary-keyed count is (sources × 200)-sized.
    "jensen_shannon" -> ((s, dir) => {
      import graft.llm.TextOps.tokens
      val v = 200
      val st = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      val vocab = st.groupBy("token").agg(sum("c").as("ctf"))
        .orderBy(desc("ctf"), col("token")).limit(v).select("token")
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
        .filter(col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          roundHU(lit(0.5) * col("a.p") *
              log(col("a.p") / ((col("a.p") + col("b.p")) / 2.0)) +
            lit(0.5) * col("b.p") *
              log(col("b.p") / ((col("a.p") + col("b.p")) / 2.0)), 1e8)
            .cast(DecimalType(18, 8)).as("term"))
        .groupBy("src_a", "src_b")
        .agg(sum("term").cast("double").as("js"))
        .select(col("src_a"), col("src_b"), roundHU(col("js"), 1e6).as("js"),
          roundHU(sqrt(col("js")), 1e6).as("js_distance"))
        .orderBy("src_a", "src_b")
    }),

    // L328 — pinball (quantile) loss of a seasonal-naive quantile
    // forecast (Koenker & Bassett 1978 loss; the M5-uncertainty
    // scoring rule): train-half day-of-week P50/P90 quantiles forecast
    // the test half, scored by L_τ(y,q) = τ(y−q)⁺ + (1−τ)(q−y)⁺ with
    // empirical coverage alongside — the proper-scoring complement of
    // forecast_eval's point metrics (a P90 band is judged by pinball +
    // coverage, not MAE). Calendar-sized rollups everywhere; the exact
    // percentile interpolates identically cross-engine (the
    // doc_len_quantiles precedent).
    "pinball_loss" -> ((s, dir) => {
      val d = dailyEvents(s, dir)
        .select(col("day"), roundHU(col("v"), 1e2).as("y"))
        .localCheckpoint(false) // reused: bounds + train + test
      val bounds = d.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val withSide = d.crossJoin(broadcast(bounds))
        .withColumn("dow", col("day") % 7)
      val train = withSide.filter(col("day") <= col("mid"))
      val q = train.groupBy("dow")
        .agg(roundHU(expr("percentile(y, 0.5)"), 1e6).as("q50"),
          roundHU(expr("percentile(y, 0.9)"), 1e6).as("q90"))
      withSide.filter(col("day") > col("mid"))
        .join(broadcast(q), "dow")
        .select(col("day"), col("y"),
          explode(array(
            struct(lit(0.5).as("tau"), col("q50").as("q")),
            struct(lit(0.9).as("tau"), col("q90").as("q")))).as("t"))
        .select(col("t.tau").as("tau"), col("y"), col("t.q").as("q"))
        .select(col("tau"),
          roundHU(when(col("y") >= col("q"), col("tau") * (col("y") - col("q")))
            .otherwise((lit(1.0) - col("tau")) * (col("q") - col("y"))), 1e6)
            .cast(DecimalType(18, 6)).as("loss"),
          when(col("y") <= col("q"), 1L).otherwise(0L).as("cov"))
        .groupBy("tau")
        .agg(count(lit(1)).as("n_test"),
          roundHU(sum("loss").cast("double") / count(lit(1)), 1e6)
            .as("pinball"),
          roundHU(sum("cov").cast("double") / count(lit(1)), 1e6)
            .as("coverage"))
        .orderBy("tau")
    }),

    // L329 — negative-binomial method-of-moments fit (Greenwood & Yule
    // 1920) of per-user event counts: r̂ = m²/(s²−m), p̂ = m/s² — the
    // overdispersed-count model one step past fano_factor's
    // dispersion INDEX (this one hands back usable distribution
    // parameters for simulation/capacity math, and its guard makes
    // under-dispersion explicit instead of a nonsense negative r̂, the
    // eb_shrinkage convention). One fact→user rollup, one moment pass.
    "negbin_fit" -> ((s, dir) => {
      val cu = events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
      val m = cu.agg(count(lit(1)).as("n"),
        sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).cast("double")
          .as("scc"))
        .select(col("n"),
          (col("sc").cast("double") / col("n")).as("m"),
          ((col("scc") - col("sc").cast("double") * col("sc") / col("n")) /
            (col("n") - 1.0)).as("s2"))
      m.select(col("n").as("n_users"),
        roundHU(col("m"), 1e6).as("mean"),
        roundHU(col("s2"), 1e6).as("variance"),
        roundHU(col("s2") / col("m"), 1e6).as("dispersion"),
        when(col("s2") > col("m"),
          roundHU(col("m") * col("m") / (col("s2") - col("m")), 1e6))
          .otherwise(lit(null)).as("r_hat"),
        when(col("s2") > col("m"), roundHU(col("m") / col("s2"), 1e6))
          .otherwise(lit(null)).as("p_hat"))
    }),

    // L330 — Anderson–Darling normality test (Anderson & Darling 1954;
    // the D'Agostino case-3 variant with estimated μ, σ) on daily
    // log-revenue: A² = −n − (1/n)Σ[(2i−1)lnΦ(zᵢ) + (2(n−i)+1)
    // ln(1−Φ(zᵢ))] with the small-sample correction A*² =
    // A²(1 + 0.75/n + 2.25/n²) against the 5% critical value 0.752 —
    // the tail-WEIGHTED normality test next to jarque_bera's
    // moment-based one (AD sees heavy tails JB's skew/kurtosis summary
    // dilutes). Ranks come from one ordered window over the
    // calendar-sized daily rollup (allowlisted); Φ is the shared
    // Abramowitz–Stegun 26.2.17 polynomial (|err| < 7.5e-8), branch-
    // stable: each tail's log always evaluates ln(Q) directly, never
    // ln(1 − (1 − tiny)).
    "anderson_darling" -> ((s, dir) => {
      val x0 = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(decSum(col("o_totalprice"), 2).as("v"))
        .select(col("day"), roundHU(log(col("v")), 1e6).as("x"))
        .localCheckpoint(false) // reused: moment pass + the ranked pass
      val m = x0.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double")
          .as("sxx"))
        .select(col("n"), (col("sx") / col("n")).as("mu"),
          roundHU(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1.0)), 1e6).as("sd"))
      val w = Window.orderBy("x", "day")
      val z = x0.crossJoin(broadcast(m))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("z", roundHU((col("x") - col("mu")) / col("sd"), 1e6))
      def qUpper(az: Column): Column = {
        val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
        val poly = lit(0.319381530) * tt +
          lit(-0.356563782) * tt * tt +
          lit(1.781477937) * tt * tt * tt +
          lit(-1.821255978) * tt * tt * tt * tt +
          lit(1.330274429) * tt * tt * tt * tt * tt
        lit(0.3989422804014327) * exp(-az * az / 2.0) * poly
      }
      val q = qUpper(abs(col("z")))
      val lnPhi = when(col("z") >= 0, log(lit(1.0) - q)).otherwise(log(q))
      val lnOneMinusPhi = when(col("z") >= 0, log(q))
        .otherwise(log(lit(1.0) - q))
      z.select(col("n"), col("mu"), col("sd"),
          roundHU((lit(2L) * col("i") - 1L) * lnPhi +
            (lit(2L) * (col("n") - col("i")) + 1L) * lnOneMinusPhi, 1e8)
            .cast(DecimalType(28, 8)).as("term"))
        .groupBy("n", "mu", "sd")
        .agg(sum("term").cast("double").as("st"))
        .select(col("n").as("n_days"), roundHU(col("mu"), 1e6).as("mean"),
          col("sd"),
          roundHU(-col("n") - col("st") / col("n"), 1e6).as("a2"))
        .withColumn("a2_star",
          roundHU(col("a2") * (lit(1.0) + lit(0.75) / col("n_days") +
            lit(2.25) / (col("n_days") * col("n_days"))), 1e6))
        .withColumn("reject_5pct", col("a2_star") > 0.752)
    }),

    // L331 — Fleiss' κ (Fleiss 1971) over THREE quality raters — the
    // C4 line/sentence rules, the Gopher shape rules, and a stopword-
    // density gate — the multi-rater agreement statistic cohens_kappa
    // (2 raters) cannot express: per doc P_i = (Σⱼn_ij² − N)/(N(N−1)),
    // κ = (P̄ − P̄_e)/(1 − P̄_e) with P̄_e = Σⱼ p_j². The "do our
    // quality filters even agree" readout before ensembling them. One
    // doc-cardinality pass (three per-row rule columns), two scalar
    // aggregates.
    "fleiss_kappa" -> ((s, dir) => {
      import graft.llm.TextOps.{tokens, stopwordHits}
      val c4 = LlmQueries.c4Frame(s, dir).select(col("doc_id"),
        col("keep").cast("long").as("r1"))
      val go = LlmQueries.gopherFrame(s, dir).select(col("doc_id"),
        col("keep").cast("long").as("r2"))
      val nTok = size(tokens(col("text"))).cast("long")
      val sw = docs(s, dir).select(col("doc_id"),
        (nTok > 0 && roundHU(stopwordHits(col("text")).cast("double") /
          nTok, 1e6) >= 0.05).cast("long").as("r3"))
      val k = c4.join(go, "doc_id").join(sw, "doc_id")
        .select((col("r1") + col("r2") + col("r3")).as("k"))
        .select(col("k"),
          roundHU((col("k") * col("k") +
            (lit(3L) - col("k")) * (lit(3L) - col("k")) - 3L) / 6.0, 1e8)
            .cast(DecimalType(18, 8)).as("pi"))
      k.agg(count(lit(1)).as("n_docs"),
          sum("k").as("sk"),
          sum("pi").cast("double").as("spi"))
        .select(col("n_docs"),
          roundHU(col("sk").cast("double") / (lit(3.0) * col("n_docs")), 1e6)
            .as("p_keep"),
          roundHU(col("spi") / col("n_docs"), 1e6).as("p_bar"),
          col("sk"))
        .withColumn("p_e",
          roundHU((col("sk").cast("double") / (lit(3.0) * col("n_docs"))) *
            (col("sk").cast("double") / (lit(3.0) * col("n_docs"))) +
            (lit(1.0) - col("sk").cast("double") / (lit(3.0) * col("n_docs"))) *
              (lit(1.0) - col("sk").cast("double") / (lit(3.0) * col("n_docs"))),
            1e6))
        .select(col("n_docs"), col("p_keep"), col("p_bar"), col("p_e"),
          roundHU((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 1e6)
            .as("fleiss_kappa"))
    }),

    // L332 — Bland–Altman agreement analysis (Bland & Altman 1986) of
    // the chars/5 token-count heuristic against the whitespace
    // tokenizer: mean difference (bias), 1.96σ limits of agreement,
    // and the fraction of docs outside them — the method-comparison
    // readout that a correlation coefficient famously fakes (two
    // measures can correlate 0.99 and still disagree by 30%). One
    // doc-cardinality pass + scalar moments.
    "bland_altman" -> ((s, dir) => {
      import graft.llm.TextOps.tokens
      val d = docs(s, dir)
        .select(col("doc_id"),
          (size(tokens(col("text"))).cast("double") -
            roundHU(col("n_chars") / 5.0, 1e6)).as("d"))
        .localCheckpoint(false) // reused: moment pass + the outside count
      val m = d.agg(count(lit(1)).as("n"),
        sum(col("d").cast(DecimalType(38, 6))).cast("double").as("sd1"),
        sum((col("d") * col("d")).cast(DecimalType(38, 6))).cast("double")
          .as("sdd"))
        .select(col("n"),
          roundHU(col("sd1") / col("n"), 1e6).as("mean_diff"),
          roundHU(sqrt((col("sdd") - col("sd1") * col("sd1") / col("n")) /
            (col("n") - 1.0)), 1e6).as("sd_diff"))
      d.crossJoin(broadcast(m))
        .select(col("n"), col("mean_diff"), col("sd_diff"),
          when(abs(col("d") - col("mean_diff")) >
            lit(1.96) * col("sd_diff"), 1L).otherwise(0L).as("out"))
        .groupBy("n", "mean_diff", "sd_diff")
        .agg(sum("out").as("n_outside"))
        .select(col("n").as("n_docs"), col("mean_diff"), col("sd_diff"),
          roundHU(col("mean_diff") - lit(1.96) * col("sd_diff"), 1e6)
            .as("loa_low"),
          roundHU(col("mean_diff") + lit(1.96) * col("sd_diff"), 1e6)
            .as("loa_high"),
          col("n_outside"),
          roundHU(col("n_outside").cast("double") / col("n"), 1e6)
            .as("pct_outside"))
    }),

    // L333 — Hill tail-index estimator (Hill 1975) of order values:
    // α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top k = 100 order statistics
    // — the tail-heaviness number behind capacity planning and
    // whale-customer risk, and the order-statistics complement of
    // powerlaw_alpha's all-data rank fit (Hill reads ONLY the tail, so
    // it is robust to the body's shape). Scale shape: the only ordered
    // structure is a TakeOrdered top-(k+1) — constant rows at any SF —
    // then one bounded aggregate; the CI is the standard α̂(1 ±
    // 1.96/√k) asymptotic band.
    "hill_estimator" -> ((s, dir) => {
      val k = 100
      // rank INSIDE the bounded top-(k+1) (a 101-row window — constant
      // at any SF, allowlisted), so boundary ties resolve by the same
      // (x desc, orderkey) total order in both engines
      val top = t(s, dir, "orders")
        .select(col("o_totalprice").as("x"), col("o_orderkey"))
        .orderBy(desc("x"), col("o_orderkey")).limit(k + 1)
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("x"), col("o_orderkey"))).cast("long"))
        .localCheckpoint(false) // reused: threshold row + the k tail rows
      val thr = top.filter(col("rn") === k + 1).select(col("x").as("xk1"))
      top.filter(col("rn") <= k).crossJoin(broadcast(thr))
        .select(col("xk1"),
          roundHU(log(col("x") / col("xk1")), 1e8)
            .cast(DecimalType(18, 8)).as("lr"))
        .groupBy("xk1")
        .agg(count(lit(1)).as("k"), sum("lr").cast("double").as("slr"))
        .select(col("k"), col("xk1").as("x_k1"),
          roundHU(col("k") / col("slr"), 1e6).as("alpha"),
          roundHU(col("k") / col("slr") *
            (lit(1.0) - lit(1.96) / sqrt(col("k").cast("double"))), 1e6)
            .as("ci_low"),
          roundHU(col("k") / col("slr") *
            (lit(1.0) + lit(1.96) / sqrt(col("k").cast("double"))), 1e6)
            .as("ci_high"))
    }),

    // L334 — Horvitz–Thompson / IPW treatment-effect estimate (Horvitz
    // & Thompson 1952; stratified propensities à la Rosenbaum & Rubin
    // 1983): treatment = deep discount (≥ 0.06), outcome = quantity,
    // propensity e_s = the BRAND-stratum treatment rate — the
    // confounding-adjusted effect next to the raw treated-vs-control
    // gap (brands differ in both discount policy and volume, so the
    // naive difference is biased; weighting by 1/e_s re-balances).
    // Strata with degenerate propensity (0 or 1) are excluded
    // loudly via the n_strata_dropped column. One fact+dim join, one
    // stratum rollup, one weighted pass.
    "horvitz_thompson" -> ((s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("stratum"),
          when(col("l_discount") >= 0.06, 1L).otherwise(0L).as("tr"),
          col("l_quantity").as("y"))
      val e = j.groupBy("stratum")
        .agg(count(lit(1)).as("ns"), roundHU(avg("tr"), 1e6).as("es"))
        .localCheckpoint(false) // reused: the kept-strata join + drop count
      val kept = e.filter(col("es") > 0.0 && col("es") < 1.0)
      val dropped = e.filter(col("es") <= 0.0 || col("es") >= 1.0)
        .agg(count(lit(1)).as("n_strata_dropped"))
      j.join(kept.select("stratum", "es"), "stratum")
        .select(col("es"),
          roundHU(col("tr") * col("y") / col("es"), 1e6)
            .cast(DecimalType(28, 6)).as("w1"),
          roundHU((lit(1L) - col("tr")) * col("y") / (lit(1.0) - col("es")),
            1e6).cast(DecimalType(28, 6)).as("w0"))
        .agg(count(lit(1)).as("n"),
          sum("w1").cast("double").as("sw1"),
          sum("w0").cast("double").as("sw0"))
        .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_strata"))))
        .crossJoin(broadcast(dropped))
        .select(col("n"), col("n_strata"), col("n_strata_dropped"),
          roundHU(col("sw1") / col("n"), 1e6).as("mu_treated"),
          roundHU(col("sw0") / col("n"), 1e6).as("mu_control"),
          roundHU(col("sw1") / col("n") - col("sw0") / col("n"), 1e6)
            .as("ate_ipw"))
    }),

    // L335 — difference-in-differences (the Card & Krueger 1994 2×2):
    // treated = the BUILDING market segment, periods = the calendar
    // halves of the order history, outcome = order value — DiD =
    // (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), the parallel-trends
    // causal readout that a raw post-period comparison confounds with
    // group composition. Segment membership guarantees every 2×2 cell
    // is populated at any SF (an event-stream "ever signed up" split
    // degenerates: dense per-user streams make everyone treated). One
    // fact+dim join to four cells, bounded math.
    "diff_in_diff" -> ((s, dir) => {
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderdate").cast("date").as("day"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("treated"),
          col("o_totalprice").as("y"))
        .localCheckpoint(false) // reused: bounds + the cell rollup
      val bounds = j.agg(expr(
        "date_add(min(day), cast(datediff(max(day), min(day)) / 2 as int))")
        .as("mid"))
      val cells = j.crossJoin(broadcast(bounds))
        .groupBy(col("treated"),
          when(col("day") <= col("mid"), "pre").otherwise("post").as("period"))
        .agg(count(lit(1)).as("n_orders"),
          roundHU(decSum(col("y"), 2) / count(lit(1)), 1e6).as("ybar"))
      cells.groupBy()
        .agg(
          max(when(col("treated") === 1 && col("period") === "pre",
            col("n_orders"))).as("n_treated"),
          max(when(col("treated") === 0 && col("period") === "pre",
            col("n_orders"))).as("n_control"),
          max(when(col("treated") === 1 && col("period") === "pre",
            col("ybar"))).as("y_t_pre"),
          max(when(col("treated") === 1 && col("period") === "post",
            col("ybar"))).as("y_t_post"),
          max(when(col("treated") === 0 && col("period") === "pre",
            col("ybar"))).as("y_c_pre"),
          max(when(col("treated") === 0 && col("period") === "post",
            col("ybar"))).as("y_c_post"))
        .select(col("n_treated"), col("n_control"),
          col("y_t_pre"), col("y_t_post"), col("y_c_pre"), col("y_c_post"),
          roundHU((col("y_t_post") - col("y_t_pre")) -
            (col("y_c_post") - col("y_c_pre")), 1e6).as("did"))
    }),

    // L336 — sharp regression discontinuity (Thistlethwaite & Campbell
    // 1960; local-linear à la Imbens & Lemieux 2008): running variable
    // = account balance, cutoff 0 (credit standing flips sign),
    // outcome = the customer's order count, bandwidth ±1000 — the two
    // one-sided OLS boundary limits and their gap, the quasi-
    // experimental effect estimate when treatment is assigned by a
    // threshold. Customers without orders enter as explicit zeros
    // (left join), both side fits are closed-form moment sums.
    "regression_discontinuity" -> ((s, dir) => {
      val h = 1000.0
      val oc = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("m"))
      val pts = t(s, dir, "customer")
        .filter(col("c_acctbal") >= -h && col("c_acctbal") < h)
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_acctbal").as("x"),
          coalesce(col("m"), lit(0L)).cast("double").as("y"),
          when(col("c_acctbal") >= 0, "right").otherwise("left").as("side"))
      val fits = pts.groupBy("side")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"),
          sum(col("y").cast(DecimalType(38, 6))).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double")
            .as("sxx"),
          sum((col("x") * col("y")).cast(DecimalType(38, 6))).cast("double")
            .as("sxy"))
        .select(col("side"), col("n"),
          roundHU((col("sy") * col("sxx") - col("sx") * col("sxy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 1e6)
            .as("limit_at_cutoff"))
      val l = fits.filter(col("side") === "left")
        .select(col("n").as("n_left"), col("limit_at_cutoff").as("limit_left"))
      val r = fits.filter(col("side") === "right")
        .select(col("n").as("n_right"), col("limit_at_cutoff").as("limit_right"))
      l.crossJoin(r)
        .select(col("n_left"), col("n_right"), col("limit_left"),
          col("limit_right"),
          roundHU(col("limit_right") - col("limit_left"), 1e6)
            .as("rd_estimate"), lit(h).as("bandwidth"))
    }),

    // L337 — maximum mean discrepancy (Gretton et al. 2012, the
    // U-statistic over unordered pairs) between two embedding label
    // groups under an RBF kernel with the median-heuristic bandwidth —
    // the kernel two-sample test behind "did the embedding
    // distribution shift between snapshots/slices", sharper than
    // embedding_drift's single centroid-cosine (MMD sees shape, not
    // just the mean). Input bounded to EvalSampleBound ids (the
    // lsh_tuning_curve convention) so the pair fan-out is constant at
    // any SF; squared distances via the codegen'd dot kernel; one
    // median pass then one kernel-mean pass over the same cached pairs.
    "mmd_shift" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vectorDot
      val e = t(s, dir, "embeddings")
        .filter(col("vec_id") < LlmQueries.EvalSampleBound &&
          col("label").isin(0, 1))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          graft.llm.Similarity.toDouble(col("embedding")).as("v"))
      val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          roundHU(vectorDot(col("a.v"), col("a.v")) +
            vectorDot(col("b.v"), col("b.v")) -
            lit(2.0) * vectorDot(col("a.v"), col("b.v")), 1e6).as("d2"))
        .localCheckpoint(false) // reused: median pass + kernel-mean pass
      val med = pairs.agg(roundHU(expr("percentile(d2, 0.5)"), 1e6)
        .as("med"))
      pairs.crossJoin(broadcast(med))
        .select(col("med"),
          when(col("la") === col("lb"),
            concat(lit("k"), col("la"))).otherwise(lit("kxy")).as("cell"),
          roundHU(exp(-col("d2") / col("med")), 1e8)
            .cast(DecimalType(18, 8)).as("kv"))
        .groupBy("med", "cell")
        .agg(count(lit(1)).as("n"), sum("kv").cast("double").as("sk"))
        .groupBy("med")
        .agg(
          max(when(col("cell") === "k0", col("n"))).as("n_xx_pairs"),
          max(when(col("cell") === "k1", col("n"))).as("n_yy_pairs"),
          max(when(col("cell") === "kxy", col("n"))).as("n_xy_pairs"),
          max(when(col("cell") === "k0", col("sk"))).as("skxx"),
          max(when(col("cell") === "k1", col("sk"))).as("skyy"),
          max(when(col("cell") === "kxy", col("sk"))).as("skxy"))
        .select(col("med").as("median_d2"),
          col("n_xx_pairs"), col("n_yy_pairs"), col("n_xy_pairs"),
          roundHU(col("skxx") / col("n_xx_pairs") +
            col("skyy") / col("n_yy_pairs") -
            lit(2.0) * col("skxy") / col("n_xy_pairs"), 1e6).as("mmd2"))
    }),

    // L338 — Cook's distance influence audit (Cook 1977) for the
    // price~quantity OLS: D_i = e_i²·h_i/(p·s²·(1−h_i)²) with leverage
    // h_i = 1/n + (x_i−x̄)²/Sxx — the per-point "does this row steer
    // the fit" diagnostic the residual alone misses (a huge residual
    // at the mean barely moves the line; a modest one at extreme x
    // rewrites it). Top-10 by D via TakeOrdered; one moment pass, one
    // per-row pass, exact decimal moments.
    "cooks_distance" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        .localCheckpoint(false) // reused: moment pass + per-row pass
      val m = li.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 4))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(38, 4))).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4))).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4))).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4))).cast("double").as("syy"))
        .select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("b"),
          (col("sx") / col("n")).as("mx"),
          ((col("sxx") - col("sx") * col("sx") / col("n"))).as("ssx"),
          col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
        .select(col("n"), col("b"), col("mx"), col("ssx"),
          ((col("sy") - col("b") * col("sx")) / col("n")).as("a"),
          roundHU((col("syy") - col("sy") * col("sy") / col("n") -
            col("b") * col("b") * col("ssx")) / (col("n") - 2.0), 1e4)
            .as("s2"))
      li.crossJoin(broadcast(m))
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("n"), col("s2"),
          roundHU(col("y") - col("a") - col("b") * col("x"), 1e4).as("e"),
          roundHU(lit(1.0) / col("n") +
            (col("x") - col("mx")) * (col("x") - col("mx")) / col("ssx"),
            1e8).as("h"))
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          roundHU(col("e"), 1e2).as("residual"),
          roundHU(col("h"), 1e8).as("leverage"),
          roundHU(col("e") * col("e") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
              (lit(1.0) - col("h"))), 1e8).as("cooks_d"))
        .orderBy(desc("cooks_d"), col("l_orderkey"), col("l_linenumber"),
          col("x"), col("y"))
        .limit(10)
    }),

    // L339 — Breusch–Pagan heteroskedasticity test (1979): the LM =
    // n·R² statistic of the auxiliary regression e² ~ x on the same
    // price~quantity fit — durbin_watson's cross-sectional sibling
    // (DW asks "are residuals serially correlated", BP asks "does
    // their VARIANCE grow with x", the assumption OLS standard errors
    // die on). χ²(1) p-value via the normal-tail identity
    // P(χ²₁ > t) = 2Q(√t) with the shared A&S polynomial. Two moment
    // passes, no per-row state.
    "breusch_pagan" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        .localCheckpoint(false) // reused: fit pass + auxiliary pass
      val m = li.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 4))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(38, 4))).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4))).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4))).cast("double").as("sxy"))
        .select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("b"),
          col("sx"), col("sy"))
        .select(col("n"), col("b"),
          ((col("sy") - col("b") * col("sx")) / col("n")).as("a"))
      val aux = li.crossJoin(broadcast(m))
        .select(col("n"), col("x"),
          roundHU((col("y") - col("a") - col("b") * col("x")) *
            (col("y") - col("a") - col("b") * col("x")), 1e2).as("u"))
        .groupBy("n")
        .agg(
          sum(col("x").cast(DecimalType(38, 4))).cast("double").as("sx"),
          sum(col("u").cast(DecimalType(38, 2))).cast("double").as("su"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4))).cast("double").as("sxx"),
          sum((col("x") * col("u")).cast(DecimalType(38, 2))).cast("double").as("sxu"),
          sum((col("u") * col("u")).cast(DecimalType(38, 2))).cast("double").as("suu"))
      val r2 = ((col("n") * col("sxu") - col("sx") * col("su")) *
        (col("n") * col("sxu") - col("sx") * col("su"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("suu") - col("su") * col("su")))
      val lm = roundHU(col("n") * r2, 1e6)
      val az = sqrt(lm)
      val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val pv = lit(2.0) * lit(0.3989422804014327) * exp(-az * az / 2.0) *
        (lit(0.319381530) * tt + lit(-0.356563782) * tt * tt +
          lit(1.781477937) * tt * tt * tt +
          lit(-1.821255978) * tt * tt * tt * tt +
          lit(1.330274429) * tt * tt * tt * tt * tt)
      aux.select(col("n"), lm.as("lm_stat"),
        roundHU(pv, 1e8).as("p_value"),
        (lm > 3.841459).as("reject_5pct"))
    }),

    // L340 — Theta-method forecast (Assimakopoulos & Nikolopoulos 2000;
    // the Hyndman–Billah 2003 two-line form that won M3): θ(0) = the
    // OLS trend line, θ(2)_t = 2y_t − trend_t, SES(α = ½) on θ(2), and
    // the forecast = the average of the two lines at T+1 — the
    // drift-aware competitor of ses_forecast (pure SES flatlines a
    // trending series). α = ½ makes every SES weight an exact power of
    // two (the ses_forecast convention), and only the FINAL level is
    // needed, so the closed form is one weighted sum over the
    // calendar-sized series — no t×i pair expansion at all.
    "theta_method" -> ((s, dir) => {
      val counts = dailyEvents(s, dir).select(col("day"), col("v").as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .localCheckpoint(false) // reused: trend moments + the theta pass
      val m = series.agg(count(lit(1)).as("n"),
        sum(col("k").cast(DecimalType(38, 6))).cast("double").as("sk"),
        sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"),
        sum((col("k") * col("k")).cast(DecimalType(38, 6))).cast("double").as("skk"),
        sum((col("k") * col("x")).cast(DecimalType(38, 6))).cast("double").as("skx"))
        .select(col("n"),
          roundHU((col("n") * col("skx") - col("sk") * col("sx")) /
            (col("n") * col("skk") - col("sk") * col("sk")), 1e6).as("b"))
        .crossJoin(broadcast(series.agg(
          sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx2"),
          sum(col("k").cast(DecimalType(38, 6))).cast("double").as("sk2"),
          count(lit(1)).as("n2"))))
        .select(col("n"), col("b"),
          roundHU((col("sx2") - col("b") * col("sk2")) / col("n2"), 1e6)
            .as("a"))
      series.crossJoin(broadcast(m))
        .select(col("n"), col("a"), col("b"),
          roundHU((lit(2.0) * col("x") - col("a") - col("b") * col("k")) *
            when(col("k") === 1L, pow(lit(0.5), col("n") - 1))
              .otherwise(pow(lit(0.5), col("n") - col("k") + 1)), 1e8)
            .cast(DecimalType(18, 8)).as("term"))
        .groupBy("n", "a", "b")
        .agg(sum("term").cast("double").as("ses_level"))
        .select(col("n").as("n_days"), col("b").as("slope"),
          col("a").as("intercept"),
          roundHU(col("ses_level"), 1e6).as("theta2_level"),
          roundHU(col("a") + col("b") * (col("n") + 1), 1e6)
            .as("forecast_trend"),
          roundHU((col("a") + col("b") * (col("n") + 1) +
            col("ses_level")) / 2.0, 1e6).as("forecast_combined"))
    }),

    // L341 — Croston's method for intermittent demand (Croston 1972):
    // SES(α = ½) separately on the non-zero demand SIZES and the
    // INTER-ARRIVAL intervals of one part's daily shipments, forecast
    // = ẑ/p̂ — the forecasting family built for the sparse series
    // (spare parts, long-tail SKUs) that plain SES systematically
    // biases after each zero run. The probe part is the minimum
    // partkey (deterministic); its arrival list is part-bounded (~tens
    // of rows at any SF, TPC-H part frequency is SF-invariant), so the
    // rank/lag windows run on a constant-sized frame (allowlisted).
    "croston" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val probe = li.agg(min("l_partkey").as("pk"))
      val dem = li.crossJoin(broadcast(probe))
        .filter(col("l_partkey") === col("pk"))
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(decSum(col("l_quantity"), 2).as("z"))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("gap",
          datediff(col("day"), lag("day", 1).over(Window.orderBy("day")))
            .cast("double"))
        .localCheckpoint(false) // reused: counts + both SES sums
      val nK = broadcast(dem.agg(count(lit(1)).as("nk")))
      val zhat = dem.crossJoin(nK)
        .select(roundHU(col("z") *
          when(col("k") === 1L, pow(lit(0.5), col("nk") - 1))
            .otherwise(pow(lit(0.5), col("nk") - col("k") + 1)), 1e8)
          .cast(DecimalType(18, 8)).as("term"))
        .agg(sum("term").cast("double").as("z_hat"))
      val phat = dem.filter(col("k") > 1L).crossJoin(nK)
        .select(roundHU(col("gap") *
          when(col("k") === 2L, pow(lit(0.5), col("nk") - 2))
            .otherwise(pow(lit(0.5), col("nk") - col("k") + 1)), 1e8)
          .cast(DecimalType(18, 8)).as("term"))
        .agg(sum("term").cast("double").as("p_hat"))
      dem.agg(count(lit(1)).as("n_arrivals"),
          roundHU(decSum(col("z"), 2) / count(lit(1)), 1e6).as("mean_size"))
        .crossJoin(broadcast(zhat)).crossJoin(broadcast(phat))
        .select(col("n_arrivals"), col("mean_size"),
          roundHU(col("z_hat"), 1e6).as("z_hat"),
          roundHU(col("p_hat"), 1e6).as("p_hat"),
          when(col("p_hat") > 0, roundHU(col("z_hat") / col("p_hat"), 1e6))
            .otherwise(lit(null)).as("croston_forecast"))
    }),

    // L342 — energy distance two-sample test (Székely & Rizzo 2004):
    // E = 2·mean‖x−y‖ − mean‖x−x'‖ − mean‖y−y'‖ between the same two
    // embedding label groups as mmd_shift — the DISTANCE-kernel
    // counterpart of MMD's RBF (no bandwidth to pick; metric-space
    // native), reported beside it so a shift verdict never hangs on
    // one kernel family. Same bounded pair frame and dot kernel;
    // distances are √ of the 6dp-rounded squared form.
    "energy_distance" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vectorDot
      val e = t(s, dir, "embeddings")
        .filter(col("vec_id") < LlmQueries.EvalSampleBound &&
          col("label").isin(0, 1))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          graft.llm.Similarity.toDouble(col("embedding")).as("v"))
      val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          roundHU(sqrt(roundHU(vectorDot(col("a.v"), col("a.v")) +
            vectorDot(col("b.v"), col("b.v")) -
            lit(2.0) * vectorDot(col("a.v"), col("b.v")), 1e6)), 1e8)
            .cast(DecimalType(18, 8)).as("d"))
      pairs
        .select(when(col("la") === col("lb"),
          concat(lit("d"), col("la"))).otherwise(lit("dxy")).as("cell"),
          col("d"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sum("d").cast("double").as("sd"))
        .groupBy()
        .agg(
          max(when(col("cell") === "d0", col("n"))).as("n_xx_pairs"),
          max(when(col("cell") === "d1", col("n"))).as("n_yy_pairs"),
          max(when(col("cell") === "dxy", col("n"))).as("n_xy_pairs"),
          max(when(col("cell") === "d0", col("sd"))).as("sdxx"),
          max(when(col("cell") === "d1", col("sd"))).as("sdyy"),
          max(when(col("cell") === "dxy", col("sd"))).as("sdxy"))
        .select(col("n_xx_pairs"), col("n_yy_pairs"), col("n_xy_pairs"),
          roundHU(lit(2.0) * col("sdxy") / col("n_xy_pairs") -
            col("sdxx") / col("n_xx_pairs") -
            col("sdyy") / col("n_yy_pairs"), 1e6).as("energy_distance"))
    }),

    // L343 — eigenvector centrality (Bonacich 1972): three max-
    // normalized power-iteration rounds x ← A·x/‖A·x‖∞ on the
    // co-purchase graph from a uniform start — the "important because
    // connected to the important" score that completes the centrality
    // shelf (pagerank adds teleport damping, katz truncates walks,
    // HITS is bipartite; this is the undamped spectral limit). Same
    // loop shape as LPA: the edge list is checkpointed partitioned by
    // the round join key, each round is one streamed join + one
    // node-sized aggregate + a broadcast 1-row normalizer.
    "eigenvector_centrality" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "src", canonical = false)
      var x = e.select(col("src").as("node")).distinct()
        .withColumn("score", lit(1.0))
      for (_ <- 1 to 3) {
        val y = e.join(x.withColumnRenamed("node", "src")
            .hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("score").cast(DecimalType(28, 12))).cast("double")
            .as("y"))
          .localCheckpoint(false) // reused: the max normalizer + the divide
        val mx = broadcast(y.agg(max("y").as("mx")))
        x = y.crossJoin(mx)
          .select(col("node"), roundHU(col("y") / col("mx"), 1e6).as("score"))
      }
      x.select(col("node").as("p_partkey"), col("score"))
        .orderBy("p_partkey")
    }),

    // L344 — Kendall's W coefficient of concordance (Kendall &
    // Babington Smith 1939) across THREE document rankings — by chars,
    // by whitespace tokens, by stopword hits: W = 12S/(m²(n³−n) −
    // m·ΣT_j) with the tie correction T_j = Σ(t³−t) — "do our length/
    // quality signals even rank documents the same way" (kendall_tau
    // compares two rankings; W generalizes to m judges). Average ranks
    // ride the exclusivePrefix doubled-rank machinery (no global sort,
    // no fact-sized window — the spearman_rho class), ΣR deviations
    // 8dp-round into decimal sums.
    "kendall_w" -> ((s, dir) => {
      import graft.llm.TextOps.{tokens, stopwordHits}
      val d = docs(s, dir).select(col("doc_id"),
        col("n_chars").as("m1"),
        size(tokens(col("text"))).cast("long").as("m2"),
        stopwordHits(col("text")).cast("long").as("m3"))
        .localCheckpoint(false) // reused: three rank maps + the join-back
      def ranks2(c: String) = {
        val pv = d.groupBy(c).agg(count(lit(1)).as("cnt"))
        CoreQueries.exclusivePrefix(pv, c, Seq("cnt"))
          .select(col(c), (lit(2L) * col("cum_cnt") + col("cnt") + lit(1L))
            .as(s"r2_$c"),
          (col("cnt") * col("cnt") * col("cnt") - col("cnt")).as(s"t_$c"))
          // each rank map feeds the join chain AND the tie-correction
          // sum — one checkpoint per judge instead of rebuilding the
          // rollup + prefix twice (r13)
          .localCheckpoint(false)
      }
      val rk = Seq("m1", "m2", "m3").map(c => c -> ranks2(c)).toMap
      val ranked = d
        .join(rk("m1"), "m1").join(rk("m2"), "m2")
        .join(rk("m3"), "m3")
        .select((col("r2_m1") + col("r2_m2") + col("r2_m3")).as("rr2"))
      val ties = broadcast(Seq("m1", "m2", "m3").map(c =>
          rk(c).agg(sum(col(s"t_$c")).as("t")).select(col("t")))
        .reduce(_ unionAll _).agg(sum("t").as("tsum")))
      val n = broadcast(d.agg(count(lit(1)).as("n")))
      ranked.crossJoin(n)
        .select(col("n"),
          roundHU((col("rr2") - lit(3.0) * (col("n") + 1)) *
            (col("rr2") - lit(3.0) * (col("n") + 1)), 1e4)
            .cast(DecimalType(38, 4)).as("dev2"))
        .groupBy("n").agg(sum("dev2").cast("double").as("s2"))
        .crossJoin(ties)
        .select(col("n").as("n_docs"),
          roundHU(lit(3.0) * col("s2") /
            (lit(9.0) * (col("n") * col("n") * col("n") - col("n")) -
              lit(3.0) * col("tsum")), 1e6).as("kendall_w"))
        .withColumn("chi2",
          roundHU(lit(3.0) * (col("n_docs") - 1) * col("kendall_w"), 1e6))
    }),

    // L345 — Cochrane–Orcutt serial-correlation correction (1949): fit
    // daily revenue ~ t, estimate ρ from lag-1 residuals, refit on the
    // quasi-differenced series (y_t − ρy_{t−1}) ~ (t − ρ(t−1)) — the
    // REMEDY for what durbin_watson diagnoses (an autocorrelated-error
    // trend fit understates its own uncertainty and biases nothing but
    // fools everything downstream). Two calendar-sized passes; the
    // lag window runs over the daily rollup (allowlisted).
    "cochrane_orcutt" -> ((s, dir) => {
      val d0 = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(decSum(col("o_totalprice"), 2).as("y0"))
      val d = d0.withColumn("k",
          row_number().over(Window.orderBy("day")).cast("long"))
        .select(col("k"), roundHU(col("y0") / 1e6, 1e6).as("y"))
        .localCheckpoint(false) // reused: fit + residual + refit passes
      def fit(g: DataFrame, xc: String, yc: String, pfx: String) =
        g.agg(count(lit(1)).as(s"${pfx}n"),
          sum(col(xc).cast(DecimalType(38, 8))).cast("double").as(s"${pfx}sx"),
          sum(col(yc).cast(DecimalType(38, 8))).cast("double").as(s"${pfx}sy"),
          sum((col(xc) * col(xc)).cast(DecimalType(38, 8))).cast("double")
            .as(s"${pfx}sxx"),
          sum((col(xc) * col(yc)).cast(DecimalType(38, 8))).cast("double")
            .as(s"${pfx}sxy"))
          .select(col(s"${pfx}n"),
            roundHU((col(s"${pfx}n") * col(s"${pfx}sxy") -
              col(s"${pfx}sx") * col(s"${pfx}sy")) /
              (col(s"${pfx}n") * col(s"${pfx}sxx") -
                col(s"${pfx}sx") * col(s"${pfx}sx")), 1e6).as(s"${pfx}b"))
          .select(col(s"${pfx}n"), col(s"${pfx}b"))
      val ols = fit(d, "k", "y", "o_")
      val a0 = d.crossJoin(broadcast(ols))
        .agg(roundHU((sum(col("y").cast(DecimalType(38, 8))).cast("double") -
          max("o_b") * sum(col("k").cast(DecimalType(38, 8))).cast("double")) /
          count(lit(1)), 1e6).as("o_a"))
      val resid = d.crossJoin(broadcast(ols)).crossJoin(broadcast(a0))
        .select(col("k"), col("y"),
          roundHU(col("y") - col("o_a") - col("o_b") * col("k"), 1e6).as("e"))
        .withColumn("e1", lag("e", 1).over(Window.orderBy("k")))
        .withColumn("y1", lag("y", 1).over(Window.orderBy("k")))
        .localCheckpoint(false) // reused: rho + the transformed refit
      val rho = resid.filter(col("e1").isNotNull)
        .agg(roundHU(
          sum(roundHU(col("e") * col("e1"), 1e8).cast(DecimalType(38, 8)))
            .cast("double") /
          sum(roundHU(col("e1") * col("e1"), 1e8).cast(DecimalType(38, 8)))
            .cast("double"), 1e6).as("rho"))
      val star = resid.filter(col("y1").isNotNull).crossJoin(broadcast(rho))
        .select(col("rho"),
          (col("k") - col("rho") * (col("k") - 1)).as("xs"),
          roundHU(col("y") - col("rho") * col("y1"), 1e6).as("ys"))
      val co = star.groupBy("rho")
        .agg(count(lit(1)).as("n"),
          sum(col("xs").cast(DecimalType(38, 8))).cast("double").as("sx"),
          sum(col("ys").cast(DecimalType(38, 8))).cast("double").as("sy"),
          sum((col("xs") * col("xs")).cast(DecimalType(38, 8))).cast("double")
            .as("sxx"),
          sum((col("xs") * col("ys")).cast(DecimalType(38, 8))).cast("double")
            .as("sxy"))
      co.crossJoin(broadcast(ols))
        .select(col("o_n").as("n_days"), col("rho"),
          col("o_b").as("slope_ols"),
          roundHU((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 1e6)
            .as("slope_co"),
          roundHU((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"), 1e6).as("intercept_co"))
    }),

    // L346 — Moran's I network autocorrelation (Moran 1950): do
    // co-purchased parts have SIMILAR retail prices? I = (n/ΣW)·
    // Σ_{ij} w_ij z_i z_j / Σ z_i² over the co-purchase edge list with
    // unit weights — the graph-structured companion of daily_acf
    // (autocorrelation along EDGES instead of time), the standard
    // "does the network cluster on this attribute" audit before
    // graph-feature engineering. One edge pass with two node-keyed
    // label joins (the modularity shape), exact decimal sums; E[I] =
    // −1/(n−1) reported alongside.
    "moran_i" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "dst", canonical = false)
      val nodes = e.select(col("dst").as("node")).distinct()
        .join(t(s, dir, "part").select(col("p_partkey").as("node"),
          col("p_retailprice").as("p")), "node")
        .localCheckpoint(false) // reused: mean + z + both edge joins
      val mu = broadcast(nodes.agg(count(lit(1)).as("n"),
        (sum(col("p").cast(DecimalType(38, 4))).cast("double") /
          count(lit(1))).as("m")))
      val z = nodes.crossJoin(mu)
        .select(col("node"), roundHU(col("p") - col("m"), 1e4).as("z"),
          col("n"))
        .localCheckpoint(false) // reused: denominator + both endpoint joins
      val den = z.agg(max("n").as("n"),
        sum(roundHU(col("z") * col("z"), 1e4).cast(DecimalType(38, 4)))
          .cast("double").as("szz"))
      val num = e
        .join(z.select(col("node").as("dst"), col("z").as("zd"))
          .hint("shuffle_hash"), "dst")
        .join(z.select(col("node").as("src"), col("z").as("zs"))
          .hint("shuffle_hash"), "src")
        .agg(count(lit(1)).as("w_sum"),
          sum(roundHU(col("zs") * col("zd"), 1e4).cast(DecimalType(38, 4)))
            .cast("double").as("szizj"))
      num.crossJoin(broadcast(den))
        .select(col("n").as("n_nodes"), col("w_sum").as("n_directed_edges"),
          roundHU(col("n") / col("w_sum").cast("double") *
            col("szizj") / col("szz"), 1e6).as("moran_i"),
          roundHU(lit(-1.0) / (col("n") - 1), 1e6).as("expected_i"))
    }),

    // L347 — turning-point randomness test (Kendall 1973): count of
    // local extrema in the daily revenue series against the i.i.d.
    // expectation E[T] = 2(n−2)/3, Var = (16n−29)/90 — the cheapest
    // published "is this series random or structured" screen, read
    // before spending on ACF/decomposition. Strict inequalities (a
    // flat step is not a turn — stated convention); lag/lead windows
    // over the calendar-sized rollup (allowlisted); p via the shared
    // A&S tail.
    "turning_point_test" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(decSum(col("o_totalprice"), 2).as("y"))
      val w = Window.orderBy("day")
      val tp = d
        .withColumn("yp", lag("y", 1).over(w))
        .withColumn("yn", lead("y", 1).over(w))
        .filter(col("yp").isNotNull && col("yn").isNotNull)
        .select(when((col("y") - col("yp")) * (col("yn") - col("y")) < 0, 1L)
          .otherwise(0L).as("turn"))
        .agg(count(lit(1)).as("n_inner"), sum("turn").as("t"))
      val n = col("n_inner") + 2
      val ev = lit(2.0) * (n - 2) / 3.0
      val vv = (lit(16.0) * n - 29.0) / 90.0
      val z = roundHU((col("t") - ev) / sqrt(vv), 1e6)
      val az = abs(z)
      val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val pv = lit(2.0) * lit(0.3989422804014327) * exp(-az * az / 2.0) *
        (lit(0.319381530) * tt + lit(-0.356563782) * tt * tt +
          lit(1.781477937) * tt * tt * tt +
          lit(-1.821255978) * tt * tt * tt * tt +
          lit(1.330274429) * tt * tt * tt * tt * tt)
      tp.select(n.as("n_days"), col("t").as("turning_points"),
        roundHU(ev, 1e6).as("expected"), z.as("z"),
        roundHU(pv, 1e8).as("p_value"))
    }),

    // L348 — Hodges–Lehmann location estimator (1963): the median of
    // all Walsh averages (xᵢ+xⱼ)/2, i ≤ j, of daily revenue — the
    // rank-based location number with 86% efficiency AND a 29%
    // breakdown point, the robust center the plain median (50% but
    // inefficient) and mean (efficient but 0% breakdown) bracket.
    // Walsh pairs are calendar²-bounded (the pettitt/theilsen class);
    // exact-percentile parity per the doc_len_quantiles precedent.
    "hodges_lehmann" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(roundHU(decSum(col("o_totalprice"), 2) / 1e6, 1e6).as("y"))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .localCheckpoint(false) // reused: both Walsh-pair sides + median
      val a = d.select(col("k").as("i"), col("y").as("yi"))
      val b = d.select(col("k").as("j"), col("y").as("yj"))
      val walsh = a.join(b, col("i") <= col("j"))
        .select(roundHU((col("yi") + col("yj")) / 2.0, 1e6).as("w"))
      // median via the two-phase exclusivePrefix rank, NOT percentile():
      // Spark's exact Percentile buffers every value into one aggregate
      // buffer — 2.9M Walsh rows made this the sweep's #2 query (10.3s)
      // and at 100 TB it is a driver-sized-state smell. Distinct-value
      // counts + the bucketed running sum pick the two middle order
      // statistics and interpolate exactly like quantile_cont.
      val pv = walsh.groupBy("w").agg(count(lit(1)).as("cnt"))
      val ranked = CoreQueries.exclusivePrefix(pv, "w", Seq("cnt"))
      val np = broadcast(pv.agg(sum("cnt").as("np")))
      val mids = ranked.crossJoin(np)
        .select(col("w"), col("cnt"), col("cum_cnt"),
          expr("(np + 1) div 2").as("kl"),
          expr("np div 2 + 1").as("kh"))
      val med = mids
        .select(
          sum(when(col("cum_cnt") < col("kl") &&
            col("kl") <= col("cum_cnt") + col("cnt"), col("w"))).as("lo"),
          sum(when(col("cum_cnt") < col("kh") &&
            col("kh") <= col("cum_cnt") + col("cnt"), col("w"))).as("hi"))
        .select(roundHU((col("lo") + col("hi")) / 2.0, 1e6).as("hl_estimate"))
      med.crossJoin(broadcast(np))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("n_days"),
          roundHU(expr("percentile(y, 0.5)"), 1e6).as("plain_median"))))
        .select(col("n_days"), col("np").as("n_pairs"), col("hl_estimate"),
          col("plain_median"))
    }),

    // L349 — sample entropy (Richman & Moorman 2000; m = 2, r = 0.2σ):
    // −ln(A/B) where B counts template pairs matching at length m and
    // A at length m+1 over the daily event-value series — the
    // regularity number behind "is this series predictable at all"
    // (low SampEn ⇒ structure; high ⇒ noise), self-match-free unlike
    // ApEn. Template pairs are calendar²-bounded (the pettitt class);
    // the Chebyshev-distance matches compare 6dp-rounded values.
    "sample_entropy" -> ((s, dir) => {
      val d = dailyEvents(s, dir)
        .select(col("day"), roundHU(col("v"), 1e2).as("x"))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("x1", lead("x", 1).over(Window.orderBy("day")))
        .withColumn("x2", lead("x", 2).over(Window.orderBy("day")))
        .filter(col("x2").isNotNull)
        .localCheckpoint(false) // reused: r + both template-join sides
      val r = broadcast(d.agg(count(lit(1)).as("nt"),
        (sum(col("x").cast(DecimalType(38, 6))).cast("double") /
          count(lit(1))).as("mx"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double")
          .as("sxx"),
        sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"))
        .select(col("nt"),
          roundHU(lit(0.2) * sqrt((col("sxx") - col("sx") * col("sx") /
            col("nt")) / (col("nt") - 1.0)), 1e6).as("r")))
      val a = d.select(col("k").as("i"), col("x").as("xi"),
        col("x1").as("xi1"), col("x2").as("xi2"))
      val b = d.select(col("k").as("j"), col("x").as("xj"),
        col("x1").as("xj1"), col("x2").as("xj2"))
      a.join(b, col("i") < col("j")).crossJoin(r)
        .select(col("nt"), col("r"),
          when(greatest(abs(col("xi") - col("xj")),
            abs(col("xi1") - col("xj1"))) <= col("r"), 1L).otherwise(0L)
            .as("bm"),
          when(greatest(abs(col("xi") - col("xj")),
            abs(col("xi1") - col("xj1")),
            abs(col("xi2") - col("xj2"))) <= col("r"), 1L).otherwise(0L)
            .as("am"))
        .groupBy("nt", "r")
        .agg(sum("bm").as("b_count"), sum("am").as("a_count"))
        .select(col("nt").as("n_templates"), col("r"),
          col("b_count"), col("a_count"),
          when(col("a_count") > 0 && col("b_count") > 0,
            roundHU(-log(col("a_count").cast("double") / col("b_count")),
              1e6)).otherwise(lit(null)).as("sampen"))
    }),

    // L350 — normalized spectral entropy (the tsfeatures/forecastability
    // number; Goerg 2013): H = −Σ p̂ₖ ln p̂ₖ / ln K over the normalized
    // periodogram mass at harmonics k = 1..10 — one number from
    // periodogram's table: ≈1 means white-noise-flat spectrum (don't
    // bother forecasting), ≈0 means concentrated cycles (seasonal
    // models will work). Same calendar-sized machinery.
    "spectral_entropy" -> ((s, dir) => {
      val counts = dailyEvents(s, dir).select(col("day"), col("n_ev"))
      val mm = counts.agg(min("day").as("d0"), max("day").as("d1"),
        (max("day") - min("day") + 1L).as("n"))
        .localCheckpoint(false)
      val grid = mm.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_ev"), lit(0L)).as("x"))
      val ks = mm.select(explode(sequence(lit(1L), lit(10L))).as("k"),
        col("d0"), col("n"))
      val pk = series.join(broadcast(ks), series("day") >= ks("d0"))
        .select(col("k"),
          (lit(2.0 * math.Pi) * col("k") * (col("day") - col("d0")) /
            col("n")).as("ang"), col("x"))
        .select(col("k"),
          roundHU(col("x") * cos(col("ang")), 1e8)
            .cast(DecimalType(18, 8)).as("ct"),
          roundHU(col("x") * sin(col("ang")), 1e8)
            .cast(DecimalType(18, 8)).as("st"))
        .groupBy("k")
        .agg((sum("ct").cast("double") * sum("ct").cast("double") +
          sum("st").cast("double") * sum("st").cast("double")).as("p"))
        .select(col("k"), roundHU(col("p"), 1e6).as("p"))
        .localCheckpoint(false) // reused: total mass + the entropy pass
      val tot = broadcast(pk.agg(
        sum(col("p").cast(DecimalType(38, 6))).cast("double").as("pt")))
      pk.crossJoin(tot)
        .select(roundHU(
          when(col("p") > 0, -(col("p") / col("pt")) *
            log(col("p") / col("pt"))).otherwise(lit(0.0)), 1e8)
          .cast(DecimalType(18, 8)).as("term"))
        .agg(sum("term").cast("double").as("h"))
        .select(lit(10L).as("n_harmonics"),
          roundHU(col("h"), 1e6).as("entropy"),
          roundHU(col("h") / math.log(10.0), 1e6).as("spectral_entropy"))
    }),

    // L351 — Fisher randomization (sign-flip) test: is the
    // week-over-week daily-value change symmetric around zero? T_obs =
    // |mean Δ| against 99 DETERMINISTIC sign-flip replicates (the
    // house Knuth-hash uniforms keyed by (day, replicate)), p = (1 +
    // #{T_k ≥ T_obs})/(K+1) — the assumption-free location test next
    // to the parametric battery (no normality, no large-n), and the
    // template for any permutation test at scale: replicates fan out
    // as a bounded crossJoin, never a data shuffle. Calendar × 99
    // rows, exact decimal sums per replicate.
    "randomization_test" -> ((s, dir) => {
      val d = dailyEvents(s, dir)
        .select(col("day"), roundHU(col("v"), 1e2).as("y"))
      val diff = d.as("a").join(d.as("b"),
          col("a.day") === col("b.day") + 7)
        .select(col("a.day").as("day"),
          roundHU(col("a.y") - col("b.y"), 1e2).as("dd"))
        .localCheckpoint(false) // reused: observed stat + the replicates
      val obs = broadcast(diff.agg(count(lit(1)).as("n"),
        roundHU(abs(sum(col("dd").cast(DecimalType(38, 2))).cast("double") /
          count(lit(1))), 1e6).as("t_obs")))
      val reps = diff.select(col("day"), col("dd"),
          explode(sequence(lit(1L), lit(99L))).as("rep"))
        .select(col("rep"),
          when(pmod(col("day") * lit(2654435761L) + col("rep") *
            lit(40503L), lit(2147483647L)) % 2 === 0, col("dd"))
            .otherwise(-col("dd")).as("sd"))
        .groupBy("rep")
        .agg(abs(sum(col("sd").cast(DecimalType(38, 2))).cast("double"))
          .as("ts"))
      reps.crossJoin(obs)
        .select(col("n"), col("t_obs"),
          when(roundHU(col("ts") / col("n"), 1e6) >= col("t_obs"), 1L)
            .otherwise(0L).as("ge"))
        .groupBy("n", "t_obs")
        .agg(count(lit(1)).as("k_reps"), sum("ge").as("n_ge"))
        .select(col("n").as("n_days"), col("t_obs"), col("k_reps"),
          roundHU((col("n_ge") + 1.0) / (col("k_reps") + 1.0), 1e6)
            .as("p_value"))
    }),

    // L352 — detrended fluctuation analysis (Peng et al. 1994; scales
    // s ∈ {4,8,16,32}): per-segment linear detrending of the
    // integrated profile, F(s) = √(mean residual variance), α = the
    // log-log slope — the long-range-dependence exponent that, unlike
    // hurst_exponent's R/S, is robust to nonstationary level shifts
    // (α ≈ 0.5 noise, ≈ 1 1/f, ≈ 1.5 random walk). Profile via one
    // calendar window (allowlisted); per-(scale, segment) OLS residual
    // variance in closed form; 4-point log-log fit.
    "dfa_alpha" -> ((s, dir) => {
      val prof = dailyEvents(s, dir)
        .select(col("day"), roundHU(col("v"), 1e2).as("x"))
        .crossJoin(broadcast(dailyEvents(s, dir).agg(
          (sum(col("v").cast(DecimalType(38, 2))).cast("double") /
            count(lit(1))).as("mx"))))
        .withColumn("k", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("yprof", roundHU(sum(roundHU(col("x") - col("mx"), 1e2)
          .cast(DecimalType(38, 2))).over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"), 1e2))
        .select(col("k"), col("yprof"))
        .localCheckpoint(false) // reused: all four scale passes
      val scales = prof.sparkSession.range(0, 1)
        .select(explode(array(lit(4L), lit(8L), lit(16L), lit(32L))).as("s"))
      val seg = prof.crossJoin(broadcast(scales))
        .select(col("s"), expr("(k - 1) div s").as("seg"),
          col("k").cast("double").as("t"), col("yprof").as("y"))
      val segN = seg.groupBy("s", "seg").agg(count(lit(1)).as("m"))
        .filter(col("m") === col("s")) // drop the ragged tail segment
      val fits = seg.join(segN, Seq("s", "seg"))
        .groupBy("s", "seg")
        .agg(count(lit(1)).as("m"),
          sum(col("t").cast(DecimalType(38, 8))).cast("double").as("st"),
          sum(col("y").cast(DecimalType(38, 8))).cast("double").as("sy"),
          sum((col("t") * col("t")).cast(DecimalType(38, 8))).cast("double")
            .as("stt"),
          sum((col("t") * col("y")).cast(DecimalType(38, 8))).cast("double")
            .as("sty"),
          sum((col("y") * col("y")).cast(DecimalType(38, 8))).cast("double")
            .as("syy"))
        .select(col("s"),
          roundHU((col("syy") - col("sy") * col("sy") / col("m") -
            (col("sty") - col("st") * col("sy") / col("m")) *
              (col("sty") - col("st") * col("sy") / col("m")) /
              (col("stt") - col("st") * col("st") / col("m"))) / col("m"),
            1e6).as("v"))
      val fs = fits.groupBy("s")
        .agg(count(lit(1)).as("n_segments"),
          roundHU(sqrt(sum(col("v").cast(DecimalType(38, 6))).cast("double") /
            count(lit(1))), 1e6).as("f"))
        .select(col("s"), col("n_segments"),
          roundHU(log(col("s").cast("double")), 1e8).as("ls"),
          roundHU(log(col("f")), 1e8).as("lf"), col("f"))
        .localCheckpoint(false) // reused: the alpha fit + the output rows
      val alpha = broadcast(fs.agg(count(lit(1)).as("np"),
        sum(col("ls").cast(DecimalType(38, 8))).cast("double").as("sx"),
        sum(col("lf").cast(DecimalType(38, 8))).cast("double").as("sy"),
        sum((col("ls") * col("ls")).cast(DecimalType(38, 8))).cast("double")
          .as("sxx"),
        sum((col("ls") * col("lf")).cast(DecimalType(38, 8))).cast("double")
          .as("sxy"))
        .select(roundHU((col("np") * col("sxy") - col("sx") * col("sy")) /
          (col("np") * col("sxx") - col("sx") * col("sx")), 1e6)
          .as("dfa_alpha")))
      fs.crossJoin(alpha)
        .select(col("s").as("scale"), col("n_segments"), col("f")
          .as("fluctuation"), col("dfa_alpha"))
        .orderBy("scale")
    }),

    // L353 — content-defined chunking dedup profile (LBFS,
    // Muthitacharoen et al. 2001; the FastCDC family): chunk
    // boundaries fall where the rolling token hash ≡ 0 (mod 64), so
    // chunk edges survive insertions/deletions — the dedup granularity
    // that FIXED-window chunking (doc_chunks) destroys with one
    // shifted token. Per source: chunk count, distinct-fingerprint
    // count, the duplicated-chunk rate, and chunks shared across
    // documents — the storage/near-dup readout at sub-document
    // granularity. All windows are doc-partitioned; fingerprints ride
    // the house (a·31+b) mod P fold, so DuckDB replays them exactly.
    "cdc_chunking" -> ((s, dir) => {
      import graft.llm.TextOps.tokenHashes
      val mask = 64L
      val th = docs(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(tokenHashes(col("text"))))
        .select(col("doc_id"), col("source"), col("pos"),
          col("col").as("h"),
          when(col("col") % mask === 0L, 1L).otherwise(0L).as("b"))
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = th
        .withColumn("chunk", coalesce(sum("b").over(wDoc), lit(0L)))
        .groupBy(col("doc_id"), col("source"), col("chunk"))
        .agg(count(lit(1)).as("len"),
          sort_array(collect_list(struct(col("pos"), col("h")))).as("hs"))
        .select(col("doc_id"), col("source"), col("len"),
          aggregate(expr("transform(hs, x -> x.h)"), lit(0L),
            (a, b) => (a * 31 + b) % graft.llm.TextOps.HashP).as("fp"))
        .localCheckpoint(false) // reused: per-source rollup + cross-doc
      val crossDoc = chunks.groupBy("source", "fp")
        .agg(countDistinct("doc_id").as("nd"))
        .groupBy("source")
        .agg(sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct("fp").as("n_unique"),
          roundHU(avg("len"), 1e6).as("avg_chunk_len"))
        .join(crossDoc, "source")
        .select(col("source"), col("n_chunks"), col("n_unique"),
          roundHU(lit(1.0) - col("n_unique").cast("double") / col("n_chunks"),
            1e6).as("dup_chunk_rate"),
          col("avg_chunk_len"), col("n_shared_chunks"))
        .orderBy("source")
    }),

    // L356 — self-BLEU corpus-diversity score (Zhu et al. 2018; BLEU
    // from Papineni et al. 2002): each sampled doc scored as a BLEU
    // candidate against ALL other docs as references — the named
    // diversity metric of the generation/curation literature (high
    // self-BLEU = a templated, mode-collapsed corpus; the distribution
    // complement of the dedup family's pairwise verdicts). BLEU here is
    // the n ≤ 2 form: BP·√(p₁p₂) with multi-reference clipped counts
    // and the closest-reference-length brevity penalty. The clipping
    // max over "every reference except me" folds to a per-gram global
    // top-2 (m₁ with its multiplicity, m₂) — gram-cardinality frames,
    // no doc×doc gram join; lengths are sample-bounded (≤ 200 rows) so
    // the closest-length pass is a constant-size self-join.
    "self_bleu" -> ((s, dir) => {
      val bound = 200
      import graft.llm.TextOps.{tokens, bigrams}
      val d = docs(s, dir).filter(col("doc_id") < bound)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(false) // reused: both gram passes + lengths
      def pn(gram: Column): DataFrame = {
        val cnt = d.select(col("doc_id"), explode(gram).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // reused: top-2 build + the clip join
        val top = cnt.groupBy("g").agg(max("c").as("m1"))
        val top2 = cnt.join(top, "g")
          .groupBy("g", "m1")
          .agg(sum(when(col("c") === col("m1"), 1L).otherwise(0L)).as("c1"),
            max(when(col("c") < col("m1"), col("c"))).as("m2"))
        cnt.join(top2, "g")
          .select(col("doc_id"), col("c"),
            when(col("c") < col("m1") || col("c1") > 1, col("m1"))
              .otherwise(coalesce(col("m2"), lit(0L))).as("maxref"))
          .groupBy("doc_id")
          .agg(sum("c").as("tot"), sum(least(col("c"), col("maxref"))).as("clip"))
          .select(col("doc_id"),
            roundHU(col("clip").cast("double") / col("tot"), 1e8).as("p"))
      }
      val p1 = pn(tokens(col("text"))).withColumnRenamed("p", "p1")
      val p2 = pn(bigrams(col("text"))).withColumnRenamed("p", "p2")
      val lens = d.select(col("doc_id"), size(tokens(col("text")))
        .cast("long").as("len"))
        .localCheckpoint(false) // reused: both sides of the closest join
      val closest = lens.as("a")
        .join(lens.as("b"), col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("a.len").as("c"),
          col("b.len").as("r"),
          row_number().over(Window.partitionBy(col("a.doc_id"))
            .orderBy(abs(col("a.len") - col("b.len")), col("b.len"),
              col("b.doc_id"))).as("rn"))
        .filter(col("rn") === 1)
        .select(col("doc_id"),
          when(col("c") >= col("r"), lit(1.0))
            .otherwise(roundHU(exp(lit(1.0) - col("r").cast("double") /
              col("c")), 1e8)).as("bp"))
      val per = p1.join(p2, "doc_id").join(closest, "doc_id")
        .select(col("doc_id"),
          roundHU(col("bp") * sqrt(col("p1") * col("p2")), 1e6).as("bleu"))
      per.agg(count(lit(1)).as("n_docs"),
        roundHU(sum(col("bleu").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 1e6).as("mean_self_bleu"),
        roundHU(expr("percentile(bleu, 0.5)"), 1e6).as("median_self_bleu"))
    }),

    // L354 — Geary's C local autocorrelation (Geary 1954): C = (n−1)·
    // Σw_ij(z_i−z_j)² / (2W·Σz²) on the same price-over-co-purchase
    // frame as moran_i — the LOCAL-difference statistic read beside
    // Moran's cross-product one (C is sensitive to neighbor-level
    // contrast where I reads global structure; C < 1 clustered, > 1
    // dispersed). Same single edge pass + node-keyed joins.
    "geary_c" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir, "dst", canonical = false)
      val nodes = e.select(col("dst").as("node")).distinct()
        .join(t(s, dir, "part").select(col("p_partkey").as("node"),
          col("p_retailprice").as("p")), "node")
        .localCheckpoint(false)
      val mu = broadcast(nodes.agg(count(lit(1)).as("n"),
        (sum(col("p").cast(DecimalType(38, 4))).cast("double") /
          count(lit(1))).as("m")))
      val z = nodes.crossJoin(mu)
        .select(col("node"), roundHU(col("p") - col("m"), 1e4).as("z"),
          col("n"))
        .localCheckpoint(false)
      val den = z.agg(max("n").as("n"),
        sum(roundHU(col("z") * col("z"), 1e4).cast(DecimalType(38, 4)))
          .cast("double").as("szz"))
      val num = e
        .join(z.select(col("node").as("dst"), col("z").as("zd"))
          .hint("shuffle_hash"), "dst")
        .join(z.select(col("node").as("src"), col("z").as("zs"))
          .hint("shuffle_hash"), "src")
        .agg(count(lit(1)).as("w_sum"),
          sum(roundHU((col("zs") - col("zd")) * (col("zs") - col("zd")),
            1e4).cast(DecimalType(38, 4))).cast("double").as("sdiff2"))
      num.crossJoin(broadcast(den))
        .select(col("n").as("n_nodes"), col("w_sum").as("n_directed_edges"),
          roundHU((col("n") - 1) * col("sdiff2") /
            (lit(2.0) * col("w_sum") * col("szz")), 1e6).as("geary_c"))
    }),

    // L355 — Bass diffusion fit (Bass 1969, the discrete OLS form):
    // new adopters n_t = a + b·N_{t−1} + c·N²_{t−1} over the first-
    // event adoption series, back-solved to market size m, innovation
    // p and imitation q — the product-adoption forecast that separates
    // "advertising-driven" from "word-of-mouth" growth, one level past
    // cumulative_users' raw curve. Closed-form 3×3 normal equations by
    // Cramer's rule on exact decimal power sums; degenerate fits
    // (disc < 0, c ≥ 0) surface as NULL parameters, never nonsense.
    "bass_diffusion" -> ((s, dir) => {
      // adoption = a customer's FIRST order month over the 6.5-year
      // order history — a real S-curve with varying N (the 30-day event
      // stream saturates in days: constant N makes the normal-equation
      // matrix singular and the fit meaningless)
      val first = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("month"))
        .groupBy("month").agg(count(lit(1)).as("n_new"))
        .withColumn("mi",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
      val grid = first.agg(min("mi").as("d0"), max("mi").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("mi"))
      val w = Window.orderBy("mi")
        .rowsBetween(Window.unboundedPreceding, -1)
      val series = grid.join(first, Seq("mi"), "left")
        .select(col("mi"), coalesce(col("n_new"), lit(0L)).as("y"))
        .withColumn("nprev", coalesce(sum("y").over(w), lit(0L)))
      val m0 = series.agg(count(lit(1)).as("s0"),
        sum(col("nprev").cast(DecimalType(38, 0))).cast("double").as("s1"),
        sum((col("nprev") * col("nprev")).cast(DecimalType(38, 0)))
          .cast("double").as("s2"),
        sum((col("nprev") * col("nprev") * col("nprev"))
          .cast(DecimalType(38, 0))).cast("double").as("s3"),
        sum((col("nprev") * col("nprev") * col("nprev") * col("nprev"))
          .cast(DecimalType(38, 0))).cast("double").as("s4"),
        sum(col("y").cast(DecimalType(38, 0))).cast("double").as("t0"),
        sum((col("nprev") * col("y")).cast(DecimalType(38, 0)))
          .cast("double").as("t1"),
        sum((col("nprev") * col("nprev") * col("y"))
          .cast(DecimalType(38, 0))).cast("double").as("t2"))
      val det = col("s0") * (col("s2") * col("s4") - col("s3") * col("s3")) -
        col("s1") * (col("s1") * col("s4") - col("s2") * col("s3")) +
        col("s2") * (col("s1") * col("s3") - col("s2") * col("s2"))
      val aN = col("t0") * (col("s2") * col("s4") - col("s3") * col("s3")) -
        col("s1") * (col("t1") * col("s4") - col("t2") * col("s3")) +
        col("s2") * (col("t1") * col("s3") - col("t2") * col("s2"))
      val bN = col("s0") * (col("t1") * col("s4") - col("t2") * col("s3")) -
        col("t0") * (col("s1") * col("s4") - col("s2") * col("s3")) +
        col("s2") * (col("s1") * col("t2") - col("s2") * col("t1"))
      val cN = col("s0") * (col("s2") * col("t2") - col("s3") * col("t1")) -
        col("s1") * (col("s1") * col("t2") - col("s2") * col("t1")) +
        col("t0") * (col("s1") * col("s3") - col("s2") * col("s2"))
      val fit = m0.select(col("s0").as("n_months"),
        when(det =!= 0.0, roundHU(aN / det, 1e6)).otherwise(lit(null)).as("a"),
        when(det =!= 0.0, roundHU(bN / det, 1e6)).otherwise(lit(null)).as("b"),
        when(det =!= 0.0, roundHU(cN / det, 1e6)).otherwise(lit(null)).as("c"))
      val disc = col("b") * col("b") - lit(4.0) * col("a") * col("c")
      fit.select(col("n_months"), col("a"), col("b"), col("c"),
          when(col("c") < 0 && disc >= 0,
            roundHU((-col("b") - sqrt(disc)) / (lit(2.0) * col("c")), 1e6))
            .otherwise(lit(null)).as("m_hat"))
        .select(col("n_months"), col("a"), col("b"), col("c"), col("m_hat"),
          when(col("m_hat") > 0, roundHU(col("a") / col("m_hat"), 1e6))
            .otherwise(lit(null)).as("p_hat"),
          when(col("m_hat") > 0, roundHU(-col("c") * col("m_hat"), 1e6))
            .otherwise(lit(null)).as("q_hat"))
    }))

  private val sqlDaily =
    """SELECT epoch_us(ts) // 86400000000 AS day,
      |       CAST(COUNT(*) AS BIGINT) AS n_ev,
      |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_conv,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "periodogram" ->
      s"""WITH c AS ($sqlDaily),
         |mm AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
         |              MAX(day) - MIN(day) + 1 AS n FROM c),
         |g AS (SELECT unnest(generate_series(mm.d0, mm.d1)) AS day FROM mm),
         |s AS (SELECT g.day, COALESCE(c.n_ev, 0) AS x
         |      FROM g LEFT JOIN c USING (day)),
         |ks AS (SELECT unnest(generate_series(1, 10)) AS k, d0, n FROM mm),
         |t AS (SELECT ks.k, ks.n,
         |             2.0 * pi() * ks.k * (s.day - ks.d0) / ks.n AS ang, s.x
         |      FROM s JOIN ks ON s.day >= ks.d0),
         |agg AS (
         |  SELECT k, n,
         |    CAST(SUM(CAST(floor(x * cos(ang) * 1e8 + 5e-1) / 1e8
         |                  AS DECIMAL(18,8))) AS DOUBLE) AS c,
         |    CAST(SUM(CAST(floor(x * sin(ang) * 1e8 + 5e-1) / 1e8
         |                  AS DECIMAL(18,8))) AS DOUBLE) AS sn
         |  FROM t GROUP BY k, n)
         |SELECT k, CAST(n AS BIGINT) AS n_days,
         |       floor(c * 1e6 + 5e-1) / 1e6 AS cos_sum,
         |       floor(sn * 1e6 + 5e-1) / 1e6 AS sin_sum,
         |       floor((c * c + sn * sn) * 1e6 + 5e-1) / 1e6 AS power
         |FROM agg ORDER BY k""".stripMargin,

    "dbscan_core" ->
      """WITH pts AS (
        |  SELECT o_custkey AS ck,
        |         CAST(floor(log10(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |                               AS DOUBLE) + 1.0) * 1e4 + 0.5) AS BIGINT) AS xi,
        |         CAST(floor(log10(CAST(COUNT(*) AS DOUBLE) + 1.0) * 1e4 + 0.5)
        |              AS BIGINT) AS yi
        |  FROM orders GROUP BY o_custkey),
        |cells AS (SELECT ck, xi, yi, xi // 300 AS cx, yi // 300 AS cy FROM pts),
        |pairs AS (
        |  SELECT a.ck AS ck, b.ck AS bk
        |  FROM cells a JOIN cells b
        |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |   AND (a.xi - b.xi) * (a.xi - b.xi) +
        |       (a.yi - b.yi) * (a.yi - b.yi) <= 90000),
        |cores AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_nbr,
        |                 COUNT(*) >= 4 AS core
        |          FROM pairs GROUP BY ck),
        |border AS (
        |  SELECT DISTINCT p.ck
        |  FROM pairs p JOIN cores c2 ON p.bk = c2.ck AND c2.core)
        |SELECT CASE WHEN c.core THEN 'core'
        |            WHEN b.ck IS NOT NULL THEN 'border'
        |            ELSE 'noise' END AS role,
        |       CAST(COUNT(*) AS BIGINT) AS n_points
        |FROM cores c LEFT JOIN border b ON c.ck = b.ck
        |GROUP BY 1 ORDER BY role""".stripMargin,

    "chow_test" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(substr(strftime(o_orderdate, '%Y-%m'), 1, 4) AS BIGINT) * 12 +
        |           CAST(substr(strftime(o_orderdate, '%Y-%m'), 6, 2) AS BIGINT) AS x,
        |         floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |               / 1e6 * 1e6 + 5e-1) / 1e6 AS y
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT MIN(x) AS x0, MAX(x) AS x1 FROM m),
        |cand AS (SELECT m.x AS b, m.month AS break_month
        |         FROM m, bounds
        |         WHERE m.x - bounds.x0 >= 8 AND bounds.x1 - m.x >= 8),
        |scan AS (SELECT cand.b, cand.break_month, m.x, m.y,
        |                CASE WHEN m.x < cand.b THEN 1 ELSE 2 END AS side
        |         FROM m CROSS JOIN cand),
        |mom AS (
        |  SELECT break_month, side, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM scan GROUP BY 1, 2),
        |pool AS (
        |  SELECT break_month, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM scan GROUP BY 1),
        |sides AS (
        |  SELECT break_month,
        |         CAST(SUM(CASE WHEN side = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN side = 2 THEN n ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(SUM(CAST(floor((syy - sy * sy / n -
        |             (sxy - sx * sy / n) * (sxy - sx * sy / n) /
        |             (sxx - sx * sx / n)) * 1e6 + 5e-1) / 1e6
        |           AS DECIMAL(38,6))) AS DOUBLE) AS sse_split
        |  FROM mom GROUP BY 1)
        |SELECT p.break_month, s.n1, s.n2,
        |       floor((p.syy - p.sy * p.sy / p.n -
        |              (p.sxy - p.sx * p.sy / p.n) * (p.sxy - p.sx * p.sy / p.n) /
        |              (p.sxx - p.sx * p.sx / p.n)) * 1e6 + 5e-1) / 1e6 AS sse_pooled,
        |       s.sse_split,
        |       floor(((floor((p.syy - p.sy * p.sy / p.n -
        |              (p.sxy - p.sx * p.sy / p.n) * (p.sxy - p.sx * p.sy / p.n) /
        |              (p.sxx - p.sx * p.sx / p.n)) * 1e6 + 5e-1) / 1e6 - s.sse_split)
        |             / 2.0) / (s.sse_split / (s.n1 + s.n2 - 4.0)) * 1e6 + 5e-1)
        |         / 1e6 AS f_stat
        |FROM pool p JOIN sides s USING (break_month)
        |ORDER BY break_month""".stripMargin,

    "sprt_ab" ->
      s"""WITH d AS ($sqlDaily),
         |cum AS (
         |  SELECT day,
         |         CAST(SUM(n_ev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS trials,
         |         CAST(SUM(n_conv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS conversions
         |  FROM d),
         |l AS (
         |  SELECT day, trials, conversions,
         |         floor((conversions * ln(0.22 / 0.18) +
         |                (trials - conversions) * ln(0.78 / 0.82)) * 1e6 + 5e-1)
         |           / 1e6 AS llr
         |  FROM cum)
         |SELECT day, trials, conversions, llr,
         |       CASE WHEN llr >= floor(ln(19.0) * 1e6 + 5e-1) / 1e6 THEN 'accept_h1'
         |            WHEN llr <= -(floor(ln(19.0) * 1e6 + 5e-1) / 1e6) THEN 'accept_h0'
         |            ELSE 'continue' END AS decision
         |FROM l ORDER BY day""".stripMargin,

    "shapley_attribution" ->
      """WITH um AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 2 +
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 4 +
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 8 AS mask,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |cm AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS nc
        |       FROM um WHERE conv = 1 GROUP BY mask),
        |subsets AS (SELECT unnest(generate_series(0, 15)) AS s),
        |v AS (SELECT s, CAST(COALESCE(SUM(cm.nc), 0) AS BIGINT) AS v
        |      FROM subsets LEFT JOIN cm ON (cm.mask & subsets.s) = cm.mask
        |      GROUP BY s),
        |ch AS (SELECT * FROM (VALUES ('signup', 1), ('click', 2),
        |                             ('view', 4), ('error', 8)) t(channel, bit)),
        |terms AS (
        |  SELECT ch.channel,
        |         CAST(floor((CASE WHEN bit_count(CAST(lo.s AS BIGINT)) IN (0, 3)
        |                          THEN 6.0 / 24 ELSE 2.0 / 24 END) *
        |                    CAST(hi.v - lo.v AS DOUBLE) * 1e8 + 5e-1) / 1e8
        |              AS DECIMAL(18,8)) AS term
        |  FROM ch JOIN v lo ON (lo.s & ch.bit) = 0
        |          JOIN v hi ON hi.s = lo.s + ch.bit)
        |SELECT channel,
        |       floor(CAST(SUM(term) AS DOUBLE) * 1e6 + 5e-1) / 1e6 AS shapley
        |FROM terms GROUP BY channel ORDER BY channel""".stripMargin,

    "kde_density" ->
      """WITH x AS (SELECT floor(log10(o_totalprice) * 1e6 + 0.5) / 1e6 AS x
        |           FROM orders),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS xmin, MAX(x) AS xmax,
        |         floor(1.06 * sqrt((CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)
        |                 - CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) *
        |                   CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*))
        |                / (COUNT(*) - 1.0)) *
        |               exp(-ln(CAST(COUNT(*) AS DOUBLE)) / 5.0) * 1e6 + 5e-1)
        |           / 1e6 AS h
        |  FROM x),
        |grid AS (
        |  SELECT n, h, j,
        |         floor((xmin + j * (xmax - xmin) / 20.0) * 1e6 + 5e-1) / 1e6 AS g
        |  FROM st, (SELECT unnest(generate_series(0, 20)) AS j)),
        |phi AS (
        |  SELECT grid.j, grid.g, grid.n, grid.h,
        |         CAST(floor(0.3989422804014327 *
        |                exp(-((grid.g - x.x) / grid.h) * ((grid.g - x.x) / grid.h)
        |                    / 2.0) * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8)) AS phi
        |  FROM x CROSS JOIN grid)
        |SELECT j, g, h AS bandwidth,
        |       floor(CAST(SUM(phi) AS DOUBLE) / (n * h) * 1e6 + 5e-1) / 1e6
        |         AS density
        |FROM phi GROUP BY j, g, n, h ORDER BY j""".stripMargin,

    "mahalanobis_outliers" ->
      """WITH pts AS (
        |  SELECT l_quantity AS x,
        |         floor(log10(l_extendedprice) * 1e6 + 0.5) / 1e6 AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS my,
        |         floor((CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
        |                  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
        |               / (COUNT(*) - 1.0) * 1e8 + 5e-1) / 1e8 AS a,
        |         floor((CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
        |                  CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
        |               / (COUNT(*) - 1.0) * 1e8 + 5e-1) / 1e8 AS b,
        |         floor((CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE)
        |                - CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) *
        |                  CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
        |               / (COUNT(*) - 1.0) * 1e8 + 5e-1) / 1e8 AS c
        |  FROM pts),
        |d AS (
        |  SELECT m.n, m.a, m.b, m.c,
        |         floor((m.c * (pts.x - m.mx) * (pts.x - m.mx)
        |                - 2.0 * m.b * (pts.x - m.mx) * (pts.y - m.my)
        |                + m.a * (pts.y - m.my) * (pts.y - m.my)) /
        |               (m.a * m.c - m.b * m.b) * 1e6 + 5e-1) / 1e6 AS d2
        |  FROM pts CROSS JOIN m)
        |SELECT n, a AS var_x, b AS cov_xy, c AS var_y,
        |       CAST(SUM(CASE WHEN d2 > 5.991465 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_out95,
        |       CAST(SUM(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_out99,
        |       MAX(d2) AS max_d2
        |FROM d GROUP BY n, a, b, c""".stripMargin,

    "simpson_reversal" ->
      """WITH j AS (
        |  SELECT c_nationkey AS nation, l_discount AS x, l_quantity AS y
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey),
        |bn AS (
        |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
        |         floor((COUNT(*) * CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE)) /
        |               (COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE))
        |               * 1e6 + 5e-1) / 1e6 AS slope_nation
        |  FROM j GROUP BY nation),
        |p AS (
        |  SELECT floor((COUNT(*) * CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE)) /
        |               (COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE))
        |               * 1e6 + 5e-1) / 1e6 AS slope_pooled
        |  FROM j)
        |SELECT bn.nation, bn.n, bn.slope_nation, p.slope_pooled,
        |       (bn.slope_nation > 0 AND p.slope_pooled < 0) OR
        |       (bn.slope_nation < 0 AND p.slope_pooled > 0) AS reversed
        |FROM bn CROSS JOIN p ORDER BY nation""".stripMargin,

    "jensen_shannon" -> {
      import graft.llm.TextOps.sqlTokens
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
         |  FROM cells JOIN tot USING (source)),
         |terms AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(floor((0.5 * a.p * ln(a.p / ((a.p + b.p) / 2.0)) +
         |                     0.5 * b.p * ln(b.p / ((a.p + b.p) / 2.0)))
         |                    * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8)) AS term
         |  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source),
         |agg AS (SELECT src_a, src_b, CAST(SUM(term) AS DOUBLE) AS js
         |        FROM terms GROUP BY src_a, src_b)
         |SELECT src_a, src_b, floor(js * 1e6 + 5e-1) / 1e6 AS js,
         |       floor(sqrt(js) * 1e6 + 5e-1) / 1e6 AS js_distance
         |FROM agg ORDER BY src_a, src_b""".stripMargin
    },

    "pinball_loss" ->
      s"""WITH d0 AS ($sqlDaily),
         |d AS (SELECT day, floor(v * 1e2 + 5e-1) / 1e2 AS y FROM d0),
         |bounds AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d),
         |w AS (SELECT day, y, day % 7 AS dow, bounds.mid FROM d, bounds),
         |q AS (
         |  SELECT dow,
         |         floor(quantile_cont(y, 0.5) * 1e6 + 5e-1) / 1e6 AS q50,
         |         floor(quantile_cont(y, 0.9) * 1e6 + 5e-1) / 1e6 AS q90
         |  FROM w WHERE day <= mid GROUP BY dow),
         |test AS (
         |  SELECT t.tau, w.y, CASE WHEN t.tau = 0.5 THEN q.q50 ELSE q.q90 END AS q
         |  FROM w JOIN q USING (dow)
         |       CROSS JOIN (SELECT unnest([0.5, 0.9]) AS tau) t
         |  WHERE w.day > w.mid),
         |l AS (
         |  SELECT tau,
         |         CAST(floor((CASE WHEN y >= q THEN tau * (y - q)
         |                          ELSE (1.0 - tau) * (q - y) END) * 1e6 + 5e-1)
         |              / 1e6 AS DECIMAL(18,6)) AS loss,
         |         CASE WHEN y <= q THEN 1 ELSE 0 END AS cov
         |  FROM test)
         |SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_test,
         |       floor(CAST(SUM(loss) AS DOUBLE) / COUNT(*) * 1e6 + 5e-1) / 1e6
         |         AS pinball,
         |       floor(CAST(SUM(cov) AS DOUBLE) / COUNT(*) * 1e6 + 5e-1) / 1e6
         |         AS coverage
         |FROM l GROUP BY tau ORDER BY tau""".stripMargin,

    "anderson_darling" -> {
      // Q(z) for z = abs(z6): the shared Abramowitz–Stegun 26.2.17 form
      val q = """(0.3989422804014327 * exp(-az * az / 2.0) *
                |  (0.319381530 * tt + -0.356563782 * tt * tt +
                |   1.781477937 * tt * tt * tt +
                |   -1.821255978 * tt * tt * tt * tt +
                |   1.330274429 * tt * tt * tt * tt * tt))""".stripMargin
      s"""WITH d AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         floor(ln(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |                       AS DOUBLE)) * 1e6 + 5e-1) / 1e6 AS x
         |  FROM orders GROUP BY 1),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
         |         floor(sqrt((CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
         |                - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
         |                  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
         |               / (COUNT(*) - 1.0)) * 1e6 + 5e-1) / 1e6 AS sd
         |  FROM d),
         |z AS (
         |  SELECT m.n, m.mu, m.sd,
         |         CAST(row_number() OVER (ORDER BY d.x, d.day) AS BIGINT) AS i,
         |         floor((d.x - m.mu) / m.sd * 1e6 + 5e-1) / 1e6 AS z
         |  FROM d CROSS JOIN m),
         |qv AS (
         |  SELECT n, mu, sd, i, z, $q AS q
         |  FROM (SELECT n, mu, sd, i, z, abs(z) AS az,
         |               1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM z)),
         |terms AS (
         |  SELECT n, mu, sd,
         |         CAST(floor(((2 * i - 1) *
         |             (CASE WHEN z >= 0 THEN ln(1.0 - q) ELSE ln(q) END) +
         |             (2 * (n - i) + 1) *
         |             (CASE WHEN z >= 0 THEN ln(q) ELSE ln(1.0 - q) END))
         |             * 1e8 + 5e-1) / 1e8 AS DECIMAL(28,8)) AS term
         |  FROM qv),
         |agg AS (
         |  SELECT n, mu, sd, CAST(SUM(term) AS DOUBLE) AS st
         |  FROM terms GROUP BY n, mu, sd),
         |a AS (
         |  SELECT n AS n_days, floor(mu * 1e6 + 5e-1) / 1e6 AS mean, sd,
         |         floor((-n - st / n) * 1e6 + 5e-1) / 1e6 AS a2
         |  FROM agg),
         |astar AS (
         |  SELECT n_days, mean, sd, a2,
         |         floor(a2 * (1.0 + 0.75 / n_days + 2.25 / (n_days * n_days))
         |               * 1e6 + 5e-1) / 1e6 AS a2_star
         |  FROM a)
         |SELECT n_days, mean, sd, a2, a2_star, a2_star > 0.752 AS reject_5pct
         |FROM astar""".stripMargin
    },

    "fleiss_kappa" -> {
      import graft.llm.TextOps.{sqlTokens, sqlStopwordHits}
      s"""WITH r1 AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS r1
         |            FROM (${LlmQueries.sqlC4Rules})),
         |r2 AS (SELECT doc_id, CASE WHEN keep THEN 1 ELSE 0 END AS r2
         |       FROM (${LlmQueries.sqlGopherRules})),
         |r3 AS (SELECT doc_id,
         |         CASE WHEN len($sqlTokens) > 0 AND
         |                   floor(CAST($sqlStopwordHits AS DOUBLE) /
         |                         len($sqlTokens) * 1e6 + 0.5) / 1e6 >= 0.05
         |              THEN 1 ELSE 0 END AS r3
         |       FROM documents),
         |k AS (
         |  SELECT r1.r1 + r2.r2 + r3.r3 AS k,
         |         CAST(floor(((r1.r1 + r2.r2 + r3.r3) * (r1.r1 + r2.r2 + r3.r3) +
         |               (3 - r1.r1 - r2.r2 - r3.r3) * (3 - r1.r1 - r2.r2 - r3.r3)
         |               - 3) / 6.0 * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8)) AS pi
         |  FROM r1 JOIN r2 USING (doc_id) JOIN r3 USING (doc_id)),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(k) AS BIGINT) AS sk,
         |         CAST(SUM(pi) AS DOUBLE) AS spi
         |  FROM k),
         |s2 AS (
         |  SELECT n_docs,
         |         floor(CAST(sk AS DOUBLE) / (3.0 * n_docs) * 1e6 + 5e-1) / 1e6
         |           AS p_keep,
         |         floor(spi / n_docs * 1e6 + 5e-1) / 1e6 AS p_bar,
         |         floor(((CAST(sk AS DOUBLE) / (3.0 * n_docs)) *
         |                (CAST(sk AS DOUBLE) / (3.0 * n_docs)) +
         |                (1.0 - CAST(sk AS DOUBLE) / (3.0 * n_docs)) *
         |                (1.0 - CAST(sk AS DOUBLE) / (3.0 * n_docs)))
         |               * 1e6 + 5e-1) / 1e6 AS p_e
         |  FROM agg)
         |SELECT n_docs, p_keep, p_bar, p_e,
         |       floor((p_bar - p_e) / (1.0 - p_e) * 1e6 + 5e-1) / 1e6
         |         AS fleiss_kappa
         |FROM s2""".stripMargin
    },

    "bland_altman" -> {
      import graft.llm.TextOps.sqlTokens
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(len($sqlTokens) AS DOUBLE) -
         |           floor(n_chars / 5.0 * 1e6 + 0.5) / 1e6 AS d
         |  FROM documents),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         floor(CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
         |               * 1e6 + 5e-1) / 1e6 AS mean_diff,
         |         floor(sqrt((CAST(SUM(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE)
         |                - CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) *
         |                  CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
         |               / (COUNT(*) - 1.0)) * 1e6 + 5e-1) / 1e6 AS sd_diff
         |  FROM d),
         |o AS (
         |  SELECT m.n, m.mean_diff, m.sd_diff,
         |         CAST(SUM(CASE WHEN abs(d.d - m.mean_diff) > 1.96 * m.sd_diff
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
         |  FROM d CROSS JOIN m GROUP BY m.n, m.mean_diff, m.sd_diff)
         |SELECT n AS n_docs, mean_diff, sd_diff,
         |       floor((mean_diff - 1.96 * sd_diff) * 1e6 + 5e-1) / 1e6 AS loa_low,
         |       floor((mean_diff + 1.96 * sd_diff) * 1e6 + 5e-1) / 1e6 AS loa_high,
         |       n_outside,
         |       floor(CAST(n_outside AS DOUBLE) / n * 1e6 + 5e-1) / 1e6
         |         AS pct_outside
         |FROM o""".stripMargin
    },

    "hill_estimator" ->
      """WITH top AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x DESC, o_orderkey)
        |                 AS BIGINT) AS rn
        |  FROM (SELECT o_totalprice AS x, o_orderkey FROM orders
        |        ORDER BY x DESC, o_orderkey LIMIT 101)),
        |thr AS (SELECT x AS xk1 FROM top WHERE rn = 101),
        |lr AS (
        |  SELECT thr.xk1,
        |         CAST(floor(ln(top.x / thr.xk1) * 1e8 + 5e-1) / 1e8
        |              AS DECIMAL(18,8)) AS lr
        |  FROM top CROSS JOIN thr WHERE top.rn <= 100),
        |agg AS (
        |  SELECT xk1, CAST(COUNT(*) AS BIGINT) AS k,
        |         CAST(SUM(lr) AS DOUBLE) AS slr
        |  FROM lr GROUP BY xk1)
        |SELECT k, xk1 AS x_k1,
        |       floor(k / slr * 1e6 + 5e-1) / 1e6 AS alpha,
        |       floor(k / slr * (1.0 - 1.96 / sqrt(CAST(k AS DOUBLE)))
        |             * 1e6 + 5e-1) / 1e6 AS ci_low,
        |       floor(k / slr * (1.0 + 1.96 / sqrt(CAST(k AS DOUBLE)))
        |             * 1e6 + 5e-1) / 1e6 AS ci_high
        |FROM agg""".stripMargin,

    "horvitz_thompson" ->
      """WITH j AS (
        |  SELECT p_brand AS stratum,
        |         CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END AS tr,
        |         l_quantity AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |e AS (
        |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS ns,
        |         floor(AVG(CAST(tr AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS es
        |  FROM j GROUP BY stratum),
        |kept AS (SELECT * FROM e WHERE es > 0.0 AND es < 1.0),
        |dropped AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_dropped
        |  FROM e WHERE es <= 0.0 OR es >= 1.0),
        |w AS (
        |  SELECT CAST(floor(j.tr * j.y / kept.es * 1e6 + 0.5) / 1e6
        |              AS DECIMAL(28,6)) AS w1,
        |         CAST(floor((1 - j.tr) * j.y / (1.0 - kept.es) * 1e6 + 0.5) / 1e6
        |              AS DECIMAL(28,6)) AS w0
        |  FROM j JOIN kept USING (stratum)),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(w1) AS DOUBLE) AS sw1,
        |         CAST(SUM(w0) AS DOUBLE) AS sw0
        |  FROM w)
        |SELECT n, (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_strata,
        |       (SELECT n_strata_dropped FROM dropped) AS n_strata_dropped,
        |       floor(sw1 / n * 1e6 + 5e-1) / 1e6 AS mu_treated,
        |       floor(sw0 / n * 1e6 + 5e-1) / 1e6 AS mu_control,
        |       floor((sw1 / n - sw0 / n) * 1e6 + 5e-1) / 1e6 AS ate_ipw
        |FROM agg""".stripMargin,

    "diff_in_diff" ->
      s"""WITH j AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
         |           AS treated,
         |         o_totalprice AS y
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |bounds AS (
         |  SELECT MIN(day) + CAST((MAX(day) - MIN(day)) / 2 AS INT) AS mid
         |  FROM j),
         |cells AS (
         |  SELECT treated,
         |         CASE WHEN day <= bounds.mid THEN 'pre' ELSE 'post' END AS period,
         |         CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         floor(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
         |               / COUNT(*) * 1e6 + 5e-1) / 1e6 AS ybar
         |  FROM j, bounds GROUP BY 1, 2)
         |SELECT
         |  MAX(CASE WHEN treated = 1 AND period = 'pre' THEN n_orders END)
         |    AS n_treated,
         |  MAX(CASE WHEN treated = 0 AND period = 'pre' THEN n_orders END)
         |    AS n_control,
         |  MAX(CASE WHEN treated = 1 AND period = 'pre' THEN ybar END) AS y_t_pre,
         |  MAX(CASE WHEN treated = 1 AND period = 'post' THEN ybar END) AS y_t_post,
         |  MAX(CASE WHEN treated = 0 AND period = 'pre' THEN ybar END) AS y_c_pre,
         |  MAX(CASE WHEN treated = 0 AND period = 'post' THEN ybar END) AS y_c_post,
         |  floor(((MAX(CASE WHEN treated = 1 AND period = 'post' THEN ybar END) -
         |          MAX(CASE WHEN treated = 1 AND period = 'pre' THEN ybar END)) -
         |         (MAX(CASE WHEN treated = 0 AND period = 'post' THEN ybar END) -
         |          MAX(CASE WHEN treated = 0 AND period = 'pre' THEN ybar END)))
         |        * 1e6 + 5e-1) / 1e6 AS did
         |FROM cells""".stripMargin,

    "regression_discontinuity" ->
      """WITH oc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS m
        |            FROM orders GROUP BY o_custkey),
        |pts AS (
        |  SELECT c_acctbal AS x,
        |         CAST(COALESCE(oc.m, 0) AS DOUBLE) AS y,
        |         CASE WHEN c_acctbal >= 0 THEN 'right' ELSE 'left' END AS side
        |  FROM customer LEFT JOIN oc ON c_custkey = oc.o_custkey
        |  WHERE c_acctbal >= -1000.0 AND c_acctbal < 1000.0),
        |fits AS (
        |  SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
        |         floor((CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) *
        |                CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) -
        |                CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
        |                CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE)) /
        |               (COUNT(*) * CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
        |                - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
        |                  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE))
        |               * 1e6 + 5e-1) / 1e6 AS limit_at_cutoff
        |  FROM pts GROUP BY side)
        |SELECT l.n AS n_left, r.n AS n_right,
        |       l.limit_at_cutoff AS limit_left,
        |       r.limit_at_cutoff AS limit_right,
        |       floor((r.limit_at_cutoff - l.limit_at_cutoff) * 1e6 + 5e-1) / 1e6
        |         AS rd_estimate,
        |       1000.0 AS bandwidth
        |FROM (SELECT * FROM fits WHERE side = 'left') l
        |CROSS JOIN (SELECT * FROM fits WHERE side = 'right') r""".stripMargin,

    "mmd_shift" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE vec_id < ${LlmQueries.EvalSampleBound} AND label IN (0, 1)),
         |pairs AS (
         |  SELECT a.label AS la, b.label AS lb,
         |         floor((list_sum(list_transform(list_zip(a.v, a.v), s -> s[1]*s[2])) +
         |                list_sum(list_transform(list_zip(b.v, b.v), s -> s[1]*s[2])) -
         |                2.0 * list_sum(list_transform(list_zip(a.v, b.v), s -> s[1]*s[2])))
         |               * 1e6 + 5e-1) / 1e6 AS d2
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |med AS (SELECT floor(quantile_cont(d2, 0.5) * 1e6 + 5e-1) / 1e6 AS med
         |        FROM pairs),
         |kv AS (
         |  SELECT med.med,
         |         CASE WHEN la = lb THEN 'k' || la ELSE 'kxy' END AS cell,
         |         CAST(floor(exp(-d2 / med.med) * 1e8 + 5e-1) / 1e8
         |              AS DECIMAL(18,8)) AS kv
         |  FROM pairs CROSS JOIN med),
         |cells AS (
         |  SELECT med, cell, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(kv) AS DOUBLE) AS sk
         |  FROM kv GROUP BY med, cell)
         |SELECT med AS median_d2,
         |       MAX(CASE WHEN cell = 'k0' THEN n END) AS n_xx_pairs,
         |       MAX(CASE WHEN cell = 'k1' THEN n END) AS n_yy_pairs,
         |       MAX(CASE WHEN cell = 'kxy' THEN n END) AS n_xy_pairs,
         |       floor((MAX(CASE WHEN cell = 'k0' THEN sk / n END) +
         |              MAX(CASE WHEN cell = 'k1' THEN sk / n END) -
         |              2.0 * MAX(CASE WHEN cell = 'kxy' THEN sk / n END))
         |             * 1e6 + 5e-1) / 1e6 AS mmd2
         |FROM cells GROUP BY med""".stripMargin,

    "cooks_distance" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity AS x,
        |         l_extendedprice AS y
        |  FROM lineitem),
        |m0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM li),
        |m1 AS (
        |  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
        |         sx / n AS mx, sxx - sx * sx / n AS ssx,
        |         sx, sy, sxx, sxy, syy
        |  FROM m0),
        |m AS (
        |  SELECT n, b, mx, ssx, (sy - b * sx) / n AS a,
        |         floor((syy - sy * sy / n - b * b * ssx) / (n - 2.0)
        |               * 1e4 + 5e-1) / 1e4 AS s2
        |  FROM m1),
        |rows_d AS (
        |  SELECT li.l_orderkey, li.l_linenumber, li.x, li.y, m.n, m.s2,
        |         floor((li.y - m.a - m.b * li.x) * 1e4 + 5e-1) / 1e4 AS e,
        |         floor((1.0 / m.n + (li.x - m.mx) * (li.x - m.mx) / m.ssx)
        |               * 1e8 + 5e-1) / 1e8 AS h
        |  FROM li CROSS JOIN m)
        |SELECT l_orderkey, l_linenumber, x, y,
        |       floor(e * 1e2 + 5e-1) / 1e2 AS residual,
        |       floor(h * 1e8 + 5e-1) / 1e8 AS leverage,
        |       floor(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
        |             * 1e8 + 5e-1) / 1e8 AS cooks_d
        |FROM rows_d
        |ORDER BY cooks_d DESC, l_orderkey, l_linenumber, x, y
        |LIMIT 10""".stripMargin,

    "breusch_pagan" ->
      """WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
        |m0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM li),
        |m AS (
        |  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
        |         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
        |  FROM m0),
        |aux AS (
        |  SELECT m.n,
        |         CAST(SUM(CAST(li.x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(floor((li.y - m.a - m.b * li.x) *
        |                 (li.y - m.a - m.b * li.x) * 1e2 + 5e-1) / 1e2
        |               AS DECIMAL(38,2))) AS DOUBLE) AS su,
        |         CAST(SUM(CAST(li.x * li.x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(li.x * (floor((li.y - m.a - m.b * li.x) *
        |                 (li.y - m.a - m.b * li.x) * 1e2 + 5e-1) / 1e2)
        |               AS DECIMAL(38,2))) AS DOUBLE) AS sxu,
        |         CAST(SUM(CAST((floor((li.y - m.a - m.b * li.x) *
        |                 (li.y - m.a - m.b * li.x) * 1e2 + 5e-1) / 1e2) *
        |                 (floor((li.y - m.a - m.b * li.x) *
        |                 (li.y - m.a - m.b * li.x) * 1e2 + 5e-1) / 1e2)
        |               AS DECIMAL(38,2))) AS DOUBLE) AS suu
        |  FROM li CROSS JOIN m GROUP BY m.n),
        |lm AS (
        |  SELECT n,
        |         floor(n * ((n * sxu - sx * su) * (n * sxu - sx * su)) /
        |               ((n * sxx - sx * sx) * (n * suu - su * su))
        |               * 1e6 + 5e-1) / 1e6 AS lm_stat
        |  FROM aux),
        |pv AS (
        |  SELECT n, lm_stat,
        |         2.0 * 0.3989422804014327 * exp(-az * az / 2.0) *
        |           (0.319381530 * tt + -0.356563782 * tt * tt +
        |            1.781477937 * tt * tt * tt +
        |            -1.821255978 * tt * tt * tt * tt +
        |            1.330274429 * tt * tt * tt * tt * tt) AS p
        |  FROM (SELECT n, lm_stat, sqrt(lm_stat) AS az,
        |               1.0 / (1.0 + 0.2316419 * sqrt(lm_stat)) AS tt FROM lm))
        |SELECT n, lm_stat, floor(p * 1e8 + 5e-1) / 1e8 AS p_value,
        |       lm_stat > 3.841459 AS reject_5pct
        |FROM pv""".stripMargin,

    "theta_method" ->
      s"""WITH c AS ($sqlDaily),
         |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
         |s AS (SELECT g.day, COALESCE(c.v, 0.0) AS x,
         |             CAST(row_number() OVER (ORDER BY g.day) AS BIGINT) AS k
         |      FROM g LEFT JOIN c USING (day)),
         |m0 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(k AS DECIMAL(38,6))) AS DOUBLE) AS sk,
         |         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(k * k AS DECIMAL(38,6))) AS DOUBLE) AS skk,
         |         CAST(SUM(CAST(k * x AS DECIMAL(38,6))) AS DOUBLE) AS skx
         |  FROM s),
         |m AS (
         |  SELECT n,
         |         floor((n * skx - sk * sx) / (n * skk - sk * sk)
         |               * 1e6 + 5e-1) / 1e6 AS b,
         |         floor((sx - floor((n * skx - sk * sx) / (n * skk - sk * sk)
         |                           * 1e6 + 5e-1) / 1e6 * sk) / n
         |               * 1e6 + 5e-1) / 1e6 AS a
         |  FROM m0),
         |lvl AS (
         |  SELECT m.n, m.a, m.b,
         |         CAST(SUM(CAST(floor((2.0 * s.x - m.a - m.b * s.k) *
         |             (CASE WHEN s.k = 1 THEN power(0.5, m.n - 1)
         |                   ELSE power(0.5, m.n - s.k + 1) END)
         |             * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8))) AS DOUBLE) AS lv
         |  FROM s CROSS JOIN m GROUP BY m.n, m.a, m.b)
         |SELECT n AS n_days, b AS slope, a AS intercept,
         |       floor(lv * 1e6 + 5e-1) / 1e6 AS theta2_level,
         |       floor((a + b * (n + 1)) * 1e6 + 5e-1) / 1e6 AS forecast_trend,
         |       floor((a + b * (n + 1) + lv) / 2.0 * 1e6 + 5e-1) / 1e6
         |         AS forecast_combined
         |FROM lvl""".stripMargin,

    "croston" ->
      """WITH probe AS (SELECT MIN(l_partkey) AS pk FROM lineitem),
        |dem AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS z
        |  FROM lineitem, probe WHERE l_partkey = probe.pk
        |  GROUP BY 1),
        |idx AS (
        |  SELECT day, z,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |         CAST(day - lag(day) OVER (ORDER BY day) AS DOUBLE) AS gap
        |  FROM dem),
        |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM idx),
        |zh AS (
        |  SELECT CAST(SUM(CAST(floor(z *
        |           (CASE WHEN k = 1 THEN power(0.5, nk - 1)
        |                 ELSE power(0.5, nk - k + 1) END) * 1e8 + 5e-1) / 1e8
        |           AS DECIMAL(18,8))) AS DOUBLE) AS z_hat
        |  FROM idx, nk),
        |ph AS (
        |  SELECT CAST(SUM(CAST(floor(gap *
        |           (CASE WHEN k = 2 THEN power(0.5, nk - 2)
        |                 ELSE power(0.5, nk - k + 1) END) * 1e8 + 5e-1) / 1e8
        |           AS DECIMAL(18,8))) AS DOUBLE) AS p_hat
        |  FROM idx, nk WHERE k > 1)
        |SELECT (SELECT nk FROM nk) AS n_arrivals,
        |       floor(CAST(SUM(CAST(z AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |             * 1e6 + 5e-1) / 1e6 AS mean_size,
        |       floor((SELECT z_hat FROM zh) * 1e6 + 5e-1) / 1e6 AS z_hat,
        |       floor((SELECT p_hat FROM ph) * 1e6 + 5e-1) / 1e6 AS p_hat,
        |       CASE WHEN (SELECT p_hat FROM ph) > 0
        |            THEN floor((SELECT z_hat FROM zh) / (SELECT p_hat FROM ph)
        |                       * 1e6 + 5e-1) / 1e6 END AS croston_forecast
        |FROM idx""".stripMargin,

    "energy_distance" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE vec_id < ${LlmQueries.EvalSampleBound} AND label IN (0, 1)),
         |pairs AS (
         |  SELECT CASE WHEN a.label = b.label THEN 'd' || a.label
         |              ELSE 'dxy' END AS cell,
         |         CAST(floor(sqrt(floor(
         |             (list_sum(list_transform(list_zip(a.v, a.v), s -> s[1]*s[2])) +
         |              list_sum(list_transform(list_zip(b.v, b.v), s -> s[1]*s[2])) -
         |              2.0 * list_sum(list_transform(list_zip(a.v, b.v), s -> s[1]*s[2])))
         |             * 1e6 + 5e-1) / 1e6) * 1e8 + 5e-1) / 1e8
         |           AS DECIMAL(18,8)) AS d
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |cells AS (
         |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(d) AS DOUBLE) AS sd
         |  FROM pairs GROUP BY cell)
         |SELECT MAX(CASE WHEN cell = 'd0' THEN n END) AS n_xx_pairs,
         |       MAX(CASE WHEN cell = 'd1' THEN n END) AS n_yy_pairs,
         |       MAX(CASE WHEN cell = 'dxy' THEN n END) AS n_xy_pairs,
         |       floor((2.0 * MAX(CASE WHEN cell = 'dxy' THEN sd / n END) -
         |              MAX(CASE WHEN cell = 'd0' THEN sd / n END) -
         |              MAX(CASE WHEN cell = 'd1' THEN sd / n END))
         |             * 1e6 + 5e-1) / 1e6 AS energy_distance
         |FROM cells""".stripMargin,

    "eigenvector_centrality" -> {
      val rounds = (1 to 3).map { r =>
        s"""y$r AS (SELECT e.dst AS node,
           |  CAST(SUM(CAST(x${r - 1}.score AS DECIMAL(28,12))) AS DOUBLE) AS y
           |  FROM e JOIN x${r - 1} ON e.src = x${r - 1}.node GROUP BY e.dst),
           |x$r AS (SELECT node,
           |  floor(y / (SELECT MAX(y) FROM y$r) * 1e6 + 5e-1) / 1e6 AS score
           |  FROM y$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
         |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
         |x0 AS (SELECT DISTINCT src AS node, 1e0 AS score FROM e),
         |$rounds
         |SELECT node AS p_partkey, score FROM x3 ORDER BY p_partkey""".stripMargin
    },

    "kendall_w" -> {
      import graft.llm.TextOps.{sqlTokens, sqlStopwordHits}
      s"""WITH d AS (
         |  SELECT doc_id, n_chars AS m1,
         |         CAST(len($sqlTokens) AS BIGINT) AS m2,
         |         CAST($sqlStopwordHits AS BIGINT) AS m3
         |  FROM documents),
         |r1 AS (SELECT m1, CAST(2 * COALESCE(CAST(SUM(COUNT(*)) OVER (ORDER BY m1
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |              + COUNT(*) + 1 AS BIGINT) AS r2_m1,
         |              CAST(COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*) AS BIGINT) AS t1
         |       FROM d GROUP BY m1),
         |r2 AS (SELECT m2, CAST(2 * COALESCE(CAST(SUM(COUNT(*)) OVER (ORDER BY m2
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |              + COUNT(*) + 1 AS BIGINT) AS r2_m2,
         |              CAST(COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*) AS BIGINT) AS t2
         |       FROM d GROUP BY m2),
         |r3 AS (SELECT m3, CAST(2 * COALESCE(CAST(SUM(COUNT(*)) OVER (ORDER BY m3
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |              + COUNT(*) + 1 AS BIGINT) AS r2_m3,
         |              CAST(COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*) AS BIGINT) AS t3
         |       FROM d GROUP BY m3),
         |tsum AS (
         |  SELECT (SELECT COALESCE(SUM(t1), 0) FROM r1) +
         |         (SELECT COALESCE(SUM(t2), 0) FROM r2) +
         |         (SELECT COALESCE(SUM(t3), 0) FROM r3) AS tsum),
         |ranked AS (
         |  SELECT r1.r2_m1 + r2.r2_m2 + r3.r2_m3 AS rr2
         |  FROM d JOIN r1 USING (m1) JOIN r2 USING (m2) JOIN r3 USING (m3)),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(floor((rr2 - 3.0 * ((SELECT COUNT(*) FROM d) + 1)) *
         |               (rr2 - 3.0 * ((SELECT COUNT(*) FROM d) + 1)) * 1e4 + 5e-1)
         |               / 1e4 AS DECIMAL(38,4))) AS DOUBLE) AS s2
         |  FROM ranked)
         |SELECT n AS n_docs,
         |       floor(3.0 * s2 / (9.0 * (CAST(n AS DOUBLE) * n * n - n)
         |             - 3.0 * (SELECT tsum FROM tsum)) * 1e6 + 5e-1) / 1e6
         |         AS kendall_w,
         |       floor(3.0 * (n - 1) *
         |             (floor(3.0 * s2 / (9.0 * (CAST(n AS DOUBLE) * n * n - n)
         |              - 3.0 * (SELECT tsum FROM tsum)) * 1e6 + 5e-1) / 1e6)
         |             * 1e6 + 5e-1) / 1e6 AS chi2
         |FROM agg""".stripMargin
    },

    "cochrane_orcutt" ->
      """WITH d0 AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y0
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |         floor(y0 / 1e6 * 1e6 + 5e-1) / 1e6 AS y
        |  FROM d0),
        |ols AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS o_n,
        |         floor((COUNT(*) * CAST(SUM(CAST(k * y AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(k AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE)) /
        |               (COUNT(*) * CAST(SUM(CAST(k * k AS DECIMAL(38,8))) AS DOUBLE)
        |                - CAST(SUM(CAST(k AS DECIMAL(38,8))) AS DOUBLE) *
        |                  CAST(SUM(CAST(k AS DECIMAL(38,8))) AS DOUBLE))
        |               * 1e6 + 5e-1) / 1e6 AS o_b
        |  FROM d),
        |a0 AS (
        |  SELECT floor((CAST(SUM(CAST(y AS DECIMAL(38,8))) AS DOUBLE)
        |                - ols.o_b * CAST(SUM(CAST(k AS DECIMAL(38,8))) AS DOUBLE))
        |               / COUNT(*) * 1e6 + 5e-1) / 1e6 AS o_a
        |  FROM d, ols GROUP BY ols.o_b),
        |resid AS (
        |  SELECT k, y,
        |         floor((y - a0.o_a - ols.o_b * k) * 1e6 + 5e-1) / 1e6 AS e,
        |         lag(floor((y - a0.o_a - ols.o_b * k) * 1e6 + 5e-1) / 1e6)
        |           OVER (ORDER BY k) AS e1,
        |         lag(y) OVER (ORDER BY k) AS y1
        |  FROM d, ols, a0),
        |rho AS (
        |  SELECT floor(
        |    CAST(SUM(CAST(floor(e * e1 * 1e8 + 5e-1) / 1e8 AS DECIMAL(38,8)))
        |         AS DOUBLE) /
        |    CAST(SUM(CAST(floor(e1 * e1 * 1e8 + 5e-1) / 1e8 AS DECIMAL(38,8)))
        |         AS DOUBLE) * 1e6 + 5e-1) / 1e6 AS rho
        |  FROM resid WHERE e1 IS NOT NULL),
        |star AS (
        |  SELECT rho.rho, k - rho.rho * (k - 1) AS xs,
        |         floor((y - rho.rho * y1) * 1e6 + 5e-1) / 1e6 AS ys
        |  FROM resid, rho WHERE y1 IS NOT NULL),
        |co AS (
        |  SELECT rho, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(xs AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(ys AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(xs * xs AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(xs * ys AS DECIMAL(38,8))) AS DOUBLE) AS sxy
        |  FROM star GROUP BY rho)
        |SELECT ols.o_n AS n_days, co.rho, ols.o_b AS slope_ols,
        |       floor((co.n * co.sxy - co.sx * co.sy) /
        |             (co.n * co.sxx - co.sx * co.sx) * 1e6 + 5e-1) / 1e6
        |         AS slope_co,
        |       floor((co.sy - (co.n * co.sxy - co.sx * co.sy) /
        |              (co.n * co.sxx - co.sx * co.sx) * co.sx) / co.n
        |             * 1e6 + 5e-1) / 1e6 AS intercept_co
        |FROM co, ols""".stripMargin,

    "moran_i" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
        |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
        |nodes AS (
        |  SELECT n0.node, part.p_retailprice AS p
        |  FROM (SELECT DISTINCT dst AS node FROM e) n0
        |  JOIN part ON part.p_partkey = n0.node),
        |mu AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(p AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS m
        |  FROM nodes),
        |z AS (SELECT node, floor((p - mu.m) * 1e4 + 5e-1) / 1e4 AS z, mu.n
        |      FROM nodes, mu),
        |den AS (
        |  SELECT MAX(n) AS n,
        |         CAST(SUM(CAST(floor(z * z * 1e4 + 5e-1) / 1e4
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS szz
        |  FROM z),
        |num AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS w_sum,
        |         CAST(SUM(CAST(floor(zs.z * zd.z * 1e4 + 5e-1) / 1e4
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS szizj
        |  FROM e JOIN z zd ON e.dst = zd.node JOIN z zs ON e.src = zs.node)
        |SELECT den.n AS n_nodes, num.w_sum AS n_directed_edges,
        |       floor(den.n / CAST(num.w_sum AS DOUBLE) * num.szizj / den.szz
        |             * 1e6 + 5e-1) / 1e6 AS moran_i,
        |       floor(-1.0 / (den.n - 1) * 1e6 + 5e-1) / 1e6 AS expected_i
        |FROM num, den""".stripMargin,

    "turning_point_test" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM orders GROUP BY 1),
        |tp0 AS (
        |  SELECT y, lag(y) OVER (ORDER BY day) AS yp,
        |         lead(y) OVER (ORDER BY day) AS yn
        |  FROM d),
        |tp AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_inner,
        |         CAST(SUM(CASE WHEN (y - yp) * (yn - y) < 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS t
        |  FROM tp0 WHERE yp IS NOT NULL AND yn IS NOT NULL),
        |st AS (
        |  SELECT n_inner + 2 AS n_days, t,
        |         2.0 * (n_inner + 2 - 2) / 3.0 AS ev,
        |         (16.0 * (n_inner + 2) - 29.0) / 90.0 AS vv
        |  FROM tp),
        |zz AS (
        |  SELECT n_days, t, ev,
        |         floor((t - ev) / sqrt(vv) * 1e6 + 5e-1) / 1e6 AS z
        |  FROM st),
        |pv AS (
        |  SELECT n_days, t, ev, z,
        |         2.0 * 0.3989422804014327 * exp(-az * az / 2.0) *
        |           (0.319381530 * tt + -0.356563782 * tt * tt +
        |            1.781477937 * tt * tt * tt +
        |            -1.821255978 * tt * tt * tt * tt +
        |            1.330274429 * tt * tt * tt * tt * tt) AS p
        |  FROM (SELECT n_days, t, ev, z, abs(z) AS az,
        |               1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zz))
        |SELECT n_days, t AS turning_points,
        |       floor(ev * 1e6 + 5e-1) / 1e6 AS expected, z,
        |       floor(p * 1e8 + 5e-1) / 1e8 AS p_value
        |FROM pv""".stripMargin,

    "hodges_lehmann" ->
      """WITH d AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, y
        |  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
        |               floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |                          AS DOUBLE) / 1e6 * 1e6 + 5e-1) / 1e6 AS y
        |        FROM orders GROUP BY 1)),
        |walsh AS (
        |  SELECT floor((a.y + b.y) / 2.0 * 1e6 + 5e-1) / 1e6 AS w
        |  FROM d a JOIN d b ON a.k <= b.k)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       floor(quantile_cont(w, 0.5) * 1e6 + 5e-1) / 1e6 AS hl_estimate,
        |       (SELECT floor(quantile_cont(y, 0.5) * 1e6 + 5e-1) / 1e6 FROM d)
        |         AS plain_median
        |FROM walsh""".stripMargin,

    "sample_entropy" ->
      s"""WITH c AS ($sqlDaily),
         |d0 AS (
         |  SELECT day, floor(v * 1e2 + 5e-1) / 1e2 AS x FROM c),
         |d AS (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, x,
         |         lead(x, 1) OVER (ORDER BY day) AS x1,
         |         lead(x, 2) OVER (ORDER BY day) AS x2
         |  FROM d0
         |  QUALIFY x2 IS NOT NULL),
         |r AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nt,
         |         floor(0.2 * sqrt((CAST(SUM(CAST(x * x AS DECIMAL(38,6)))
         |                 AS DOUBLE)
         |                - CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) *
         |                  CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
         |                  / COUNT(*))
         |               / (COUNT(*) - 1.0)) * 1e6 + 5e-1) / 1e6 AS r
         |  FROM d),
         |pairs AS (
         |  SELECT r.nt, r.r,
         |         CASE WHEN greatest(abs(a.x - b.x), abs(a.x1 - b.x1)) <= r.r
         |              THEN 1 ELSE 0 END AS bm,
         |         CASE WHEN greatest(abs(a.x - b.x), abs(a.x1 - b.x1),
         |                            abs(a.x2 - b.x2)) <= r.r
         |              THEN 1 ELSE 0 END AS am
         |  FROM d a JOIN d b ON a.k < b.k CROSS JOIN r)
         |SELECT nt AS n_templates, r,
         |       CAST(SUM(bm) AS BIGINT) AS b_count,
         |       CAST(SUM(am) AS BIGINT) AS a_count,
         |       CASE WHEN SUM(am) > 0 AND SUM(bm) > 0
         |            THEN floor(-ln(CAST(SUM(am) AS DOUBLE) / SUM(bm))
         |                       * 1e6 + 5e-1) / 1e6 END AS sampen
         |FROM pairs GROUP BY nt, r""".stripMargin,

    "spectral_entropy" ->
      s"""WITH c AS ($sqlDaily),
         |mm AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
         |              MAX(day) - MIN(day) + 1 AS n FROM c),
         |g AS (SELECT unnest(generate_series(mm.d0, mm.d1)) AS day FROM mm),
         |s AS (SELECT g.day, COALESCE(c.n_ev, 0) AS x
         |      FROM g LEFT JOIN c USING (day)),
         |ks AS (SELECT unnest(generate_series(1, 10)) AS k, d0, n FROM mm),
         |t AS (SELECT ks.k,
         |             2.0 * pi() * ks.k * (s.day - ks.d0) / ks.n AS ang, s.x
         |      FROM s JOIN ks ON s.day >= ks.d0),
         |agg AS (
         |  SELECT k,
         |    CAST(SUM(CAST(floor(x * cos(ang) * 1e8 + 5e-1) / 1e8
         |                  AS DECIMAL(18,8))) AS DOUBLE) AS c,
         |    CAST(SUM(CAST(floor(x * sin(ang) * 1e8 + 5e-1) / 1e8
         |                  AS DECIMAL(18,8))) AS DOUBLE) AS sn
         |  FROM t GROUP BY k),
         |pk AS (SELECT k, floor((c * c + sn * sn) * 1e6 + 5e-1) / 1e6 AS p
         |       FROM agg),
         |tot AS (SELECT CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS pt
         |        FROM pk),
         |terms AS (
         |  SELECT CAST(floor((CASE WHEN p > 0
         |           THEN -(p / tot.pt) * ln(p / tot.pt) ELSE 0.0 END)
         |           * 1e8 + 5e-1) / 1e8 AS DECIMAL(18,8)) AS term
         |  FROM pk CROSS JOIN tot)
         |SELECT CAST(10 AS BIGINT) AS n_harmonics,
         |       floor(CAST(SUM(term) AS DOUBLE) * 1e6 + 5e-1) / 1e6 AS entropy,
         |       floor(CAST(SUM(term) AS DOUBLE) / 2.302585092994046
         |             * 1e6 + 5e-1) / 1e6 AS spectral_entropy
         |FROM terms""".stripMargin,

    "randomization_test" ->
      s"""WITH c AS ($sqlDaily),
         |d AS (SELECT day, floor(v * 1e2 + 5e-1) / 1e2 AS y FROM c),
         |diff AS (
         |  SELECT a.day, floor((a.y - b.y) * 1e2 + 5e-1) / 1e2 AS dd
         |  FROM d a JOIN d b ON a.day = b.day + 7),
         |obs AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         floor(abs(CAST(SUM(CAST(dd AS DECIMAL(38,2))) AS DOUBLE)
         |                   / COUNT(*)) * 1e6 + 5e-1) / 1e6 AS t_obs
         |  FROM diff),
         |reps AS (
         |  SELECT r.rep,
         |         abs(CAST(SUM(CAST(
         |           CASE WHEN ((diff.day * 2654435761 + r.rep * 40503)
         |                      % 2147483647) % 2 = 0
         |                THEN diff.dd ELSE -diff.dd END
         |           AS DECIMAL(38,2))) AS DOUBLE)) AS ts
         |  FROM diff CROSS JOIN (SELECT unnest(generate_series(1, 99)) AS rep) r
         |  GROUP BY r.rep)
         |SELECT obs.n AS n_days, obs.t_obs,
         |       CAST(COUNT(*) AS BIGINT) AS k_reps,
         |       floor((CAST(SUM(CASE WHEN floor(reps.ts / obs.n * 1e6 + 5e-1)
         |                                 / 1e6 >= obs.t_obs
         |                           THEN 1 ELSE 0 END) AS DOUBLE) + 1.0) /
         |             (COUNT(*) + 1.0) * 1e6 + 5e-1) / 1e6 AS p_value
         |FROM reps, obs GROUP BY obs.n, obs.t_obs""".stripMargin,

    "dfa_alpha" ->
      s"""WITH c AS ($sqlDaily),
         |d AS (SELECT day, floor(v * 1e2 + 5e-1) / 1e2 AS x FROM c),
         |mu AS (SELECT CAST(SUM(CAST(v AS DECIMAL(38,2))) AS DOUBLE)
         |              / COUNT(*) AS mx FROM c),
         |prof AS (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         |         floor(CAST(SUM(CAST(floor((x - mu.mx) * 1e2 + 5e-1) / 1e2
         |                 AS DECIMAL(38,2))) OVER (ORDER BY day
         |                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         |               * 1e2 + 5e-1) / 1e2 AS yprof
         |  FROM d, mu),
         |seg AS (
         |  SELECT sc.s, (prof.k - 1) // sc.s AS seg,
         |         CAST(prof.k AS DOUBLE) AS t, prof.yprof AS y
         |  FROM prof CROSS JOIN (SELECT unnest([4, 8, 16, 32]) AS s) sc),
         |segn AS (
         |  SELECT s, seg, CAST(COUNT(*) AS BIGINT) AS m
         |  FROM seg GROUP BY s, seg HAVING COUNT(*) = MAX(s)),
         |fits AS (
         |  SELECT seg.s,
         |         floor((CAST(SUM(CAST(seg.y * seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |            - CAST(SUM(CAST(seg.y AS DECIMAL(38,8))) AS DOUBLE) *
         |              CAST(SUM(CAST(seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |              / COUNT(*)
         |            - (CAST(SUM(CAST(seg.t * seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |               - CAST(SUM(CAST(seg.t AS DECIMAL(38,8))) AS DOUBLE) *
         |                 CAST(SUM(CAST(seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |                 / COUNT(*)) *
         |              (CAST(SUM(CAST(seg.t * seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |               - CAST(SUM(CAST(seg.t AS DECIMAL(38,8))) AS DOUBLE) *
         |                 CAST(SUM(CAST(seg.y AS DECIMAL(38,8))) AS DOUBLE)
         |                 / COUNT(*)) /
         |              (CAST(SUM(CAST(seg.t * seg.t AS DECIMAL(38,8))) AS DOUBLE)
         |               - CAST(SUM(CAST(seg.t AS DECIMAL(38,8))) AS DOUBLE) *
         |                 CAST(SUM(CAST(seg.t AS DECIMAL(38,8))) AS DOUBLE)
         |                 / COUNT(*)))
         |               / COUNT(*) * 1e6 + 5e-1) / 1e6 AS v
         |  FROM seg JOIN segn ON seg.s = segn.s AND seg.seg = segn.seg
         |  GROUP BY seg.s, seg.seg),
         |fs AS (
         |  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_segments,
         |         floor(sqrt(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
         |                    / COUNT(*)) * 1e6 + 5e-1) / 1e6 AS f
         |  FROM fits GROUP BY s),
         |fl AS (
         |  SELECT s, n_segments, f,
         |         floor(ln(CAST(s AS DOUBLE)) * 1e8 + 5e-1) / 1e8 AS ls,
         |         floor(ln(f) * 1e8 + 5e-1) / 1e8 AS lf
         |  FROM fs),
         |alpha AS (
         |  SELECT floor((COUNT(*) * CAST(SUM(CAST(ls * lf AS DECIMAL(38,8)))
         |                               AS DOUBLE)
         |                - CAST(SUM(CAST(ls AS DECIMAL(38,8))) AS DOUBLE) *
         |                  CAST(SUM(CAST(lf AS DECIMAL(38,8))) AS DOUBLE)) /
         |               (COUNT(*) * CAST(SUM(CAST(ls * ls AS DECIMAL(38,8)))
         |                               AS DOUBLE)
         |                - CAST(SUM(CAST(ls AS DECIMAL(38,8))) AS DOUBLE) *
         |                  CAST(SUM(CAST(ls AS DECIMAL(38,8))) AS DOUBLE))
         |               * 1e6 + 5e-1) / 1e6 AS dfa_alpha
         |  FROM fl)
         |SELECT fl.s AS scale, fl.n_segments, fl.f AS fluctuation,
         |       alpha.dfa_alpha
         |FROM fl CROSS JOIN alpha ORDER BY scale""".stripMargin,

    "cdc_chunking" -> {
      import graft.llm.TextOps.{sqlTokenHashes, HashP}
      s"""WITH th AS (
         |  SELECT doc_id, source, u.pos - 1 AS pos, u.h AS h,
         |         CASE WHEN u.h % 64 = 0 THEN 1 ELSE 0 END AS b
         |  FROM (SELECT doc_id, source, unnest(hs) AS h,
         |               generate_subscripts(hs, 1) AS pos
         |        FROM (SELECT doc_id, source, $sqlTokenHashes AS hs
         |              FROM documents)) u),
         |ch AS (
         |  SELECT doc_id, source, pos, h,
         |         COALESCE(CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS BIGINT), 0) AS chunk
         |  FROM th),
         |chunks AS (
         |  SELECT doc_id, source, chunk, CAST(COUNT(*) AS BIGINT) AS len,
         |         list_reduce(list(h ORDER BY pos),
         |                     (a, b) -> (a*31 + b) % $HashP) AS fp
         |  FROM ch GROUP BY doc_id, source, chunk),
         |shared AS (
         |  SELECT source,
         |         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_shared_chunks
         |  FROM (SELECT source, fp, COUNT(DISTINCT doc_id) AS nd
         |        FROM chunks GROUP BY source, fp)
         |  GROUP BY source),
         |per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
         |         floor(AVG(CAST(len AS DOUBLE)) * 1e6 + 0.5) / 1e6
         |           AS avg_chunk_len
         |  FROM chunks GROUP BY source)
         |SELECT per.source, per.n_chunks, per.n_unique,
         |       floor((1.0 - CAST(per.n_unique AS DOUBLE) / per.n_chunks)
         |             * 1e6 + 5e-1) / 1e6 AS dup_chunk_rate,
         |       per.avg_chunk_len, shared.n_shared_chunks
         |FROM per JOIN shared USING (source)
         |ORDER BY source""".stripMargin
    },

    "self_bleu" -> {
      import graft.llm.TextOps.{sqlTokens, sqlBigrams}
      def pnSql(gramExpr: String, nm: String) =
        s"""cnt_$nm AS (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, unnest($gramExpr) AS g
           |        FROM documents WHERE doc_id < 200)
           |  GROUP BY doc_id, g),
           |top_$nm AS (SELECT g, MAX(c) AS m1 FROM cnt_$nm GROUP BY g),
           |top2_$nm AS (
           |  SELECT cnt_$nm.g, top_$nm.m1,
           |         CAST(SUM(CASE WHEN c = m1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |         MAX(CASE WHEN c < m1 THEN c END) AS m2
           |  FROM cnt_$nm JOIN top_$nm ON cnt_$nm.g = top_$nm.g
           |  GROUP BY cnt_$nm.g, top_$nm.m1),
           |p_$nm AS (
           |  SELECT doc_id,
           |         floor(CAST(SUM(least(c, maxref)) AS DOUBLE) / SUM(c)
           |               * 1e8 + 5e-1) / 1e8 AS p_$nm
           |  FROM (SELECT cnt_$nm.doc_id, cnt_$nm.c,
           |               CASE WHEN cnt_$nm.c < t.m1 OR t.c1 > 1 THEN t.m1
           |                    ELSE COALESCE(t.m2, 0) END AS maxref
           |        FROM cnt_$nm JOIN top2_$nm t ON cnt_$nm.g = t.g)
           |  GROUP BY doc_id)""".stripMargin
      s"""WITH ${pnSql(sqlTokens, "u")},
         |${pnSql(sqlBigrams, "b")},
         |lens AS (
         |  SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS len
         |  FROM documents WHERE doc_id < 200),
         |closest AS (
         |  SELECT doc_id,
         |         CASE WHEN c >= r THEN 1.0
         |              ELSE floor(exp(1.0 - CAST(r AS DOUBLE) / c)
         |                         * 1e8 + 5e-1) / 1e8 END AS bp
         |  FROM (SELECT a.doc_id, a.len AS c, b2.len AS r,
         |               row_number() OVER (PARTITION BY a.doc_id
         |                 ORDER BY abs(a.len - b2.len), b2.len, b2.doc_id) AS rn
         |        FROM lens a JOIN lens b2 ON a.doc_id <> b2.doc_id)
         |  WHERE rn = 1),
         |per AS (
         |  SELECT p_u.doc_id,
         |         floor(closest.bp * sqrt(p_u.p_u * p_b.p_b) * 1e6 + 5e-1)
         |           / 1e6 AS bleu
         |  FROM p_u JOIN p_b USING (doc_id) JOIN closest USING (doc_id))
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       floor(CAST(SUM(CAST(bleu AS DECIMAL(18,6))) AS DOUBLE)
         |             / COUNT(*) * 1e6 + 5e-1) / 1e6 AS mean_self_bleu,
         |       floor(quantile_cont(bleu, 0.5) * 1e6 + 5e-1) / 1e6
         |         AS median_self_bleu
         |FROM per""".stripMargin
    },

    "geary_c" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, c.pk AS dst
        |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk <> c.pk),
        |nodes AS (
        |  SELECT n0.node, part.p_retailprice AS p
        |  FROM (SELECT DISTINCT dst AS node FROM e) n0
        |  JOIN part ON part.p_partkey = n0.node),
        |mu AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(p AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS m
        |  FROM nodes),
        |z AS (SELECT node, floor((p - mu.m) * 1e4 + 5e-1) / 1e4 AS z, mu.n
        |      FROM nodes, mu),
        |den AS (
        |  SELECT MAX(n) AS n,
        |         CAST(SUM(CAST(floor(z * z * 1e4 + 5e-1) / 1e4
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS szz
        |  FROM z),
        |num AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS w_sum,
        |         CAST(SUM(CAST(floor((zs.z - zd.z) * (zs.z - zd.z)
        |                       * 1e4 + 5e-1) / 1e4
        |                       AS DECIMAL(38,4))) AS DOUBLE) AS sdiff2
        |  FROM e JOIN z zd ON e.dst = zd.node JOIN z zs ON e.src = zs.node)
        |SELECT den.n AS n_nodes, num.w_sum AS n_directed_edges,
        |       floor((den.n - 1) * num.sdiff2 /
        |             (2.0 * num.w_sum * den.szz) * 1e6 + 5e-1) / 1e6 AS geary_c
        |FROM num, den""".stripMargin,

    "bass_diffusion" ->
      """WITH first_ord AS (
        |  SELECT o_custkey, MIN(strftime(o_orderdate, '%Y-%m')) AS month
        |  FROM orders GROUP BY o_custkey),
        |fc AS (SELECT CAST(substr(month, 1, 4) AS BIGINT) * 12 +
        |              CAST(substr(month, 6, 2) AS BIGINT) AS mi,
        |              CAST(COUNT(*) AS BIGINT) AS n_new
        |       FROM first_ord GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(mi), MAX(mi))) AS mi FROM fc),
        |series AS (
        |  SELECT g.mi, COALESCE(fc.n_new, 0) AS y,
        |         COALESCE(CAST(SUM(COALESCE(fc.n_new, 0)) OVER (ORDER BY g.mi
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |           0) AS nprev
        |  FROM g LEFT JOIN fc USING (mi)),
        |m0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS s0,
        |         CAST(SUM(CAST(nprev AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(nprev * nprev AS DECIMAL(38,0))) AS DOUBLE) AS s2,
        |         CAST(SUM(CAST(nprev * nprev * nprev AS DECIMAL(38,0)))
        |              AS DOUBLE) AS s3,
        |         CAST(SUM(CAST(nprev * nprev * nprev * nprev AS DECIMAL(38,0)))
        |              AS DOUBLE) AS s4,
        |         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS t0,
        |         CAST(SUM(CAST(nprev * y AS DECIMAL(38,0))) AS DOUBLE) AS t1,
        |         CAST(SUM(CAST(nprev * nprev * y AS DECIMAL(38,0))) AS DOUBLE)
        |           AS t2
        |  FROM series),
        |fit AS (
        |  SELECT s0 AS n_months,
        |    floor((t0*(s2*s4 - s3*s3) - s1*(t1*s4 - t2*s3) + s2*(t1*s3 - t2*s2))
        |      / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s2*s3) + s2*(s1*s3 - s2*s2))
        |      * 1e6 + 5e-1) / 1e6 AS a,
        |    floor((s0*(t1*s4 - t2*s3) - t0*(s1*s4 - s2*s3) + s2*(s1*t2 - s2*t1))
        |      / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s2*s3) + s2*(s1*s3 - s2*s2))
        |      * 1e6 + 5e-1) / 1e6 AS b,
        |    floor((s0*(s2*t2 - s3*t1) - s1*(s1*t2 - s2*t1) + t0*(s1*s3 - s2*s2))
        |      / (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s2*s3) + s2*(s1*s3 - s2*s2))
        |      * 1e6 + 5e-1) / 1e6 AS c
        |  FROM m0),
        |mm AS (
        |  SELECT n_months, a, b, c,
        |         CASE WHEN c < 0 AND b*b - 4.0*a*c >= 0
        |              THEN floor((-b - sqrt(b*b - 4.0*a*c)) / (2.0*c)
        |                         * 1e6 + 5e-1) / 1e6 END AS m_hat
        |  FROM fit)
        |SELECT n_months, a, b, c, m_hat,
        |       CASE WHEN m_hat > 0
        |            THEN floor(a / m_hat * 1e6 + 5e-1) / 1e6 END AS p_hat,
        |       CASE WHEN m_hat > 0
        |            THEN floor(-c * m_hat * 1e6 + 5e-1) / 1e6 END AS q_hat
        |FROM mm""".stripMargin,

    "negbin_fit" ->
      """WITH cu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |            FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(c) AS DOUBLE) / COUNT(*) AS m,
        |         (CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE)
        |          - CAST(SUM(c) AS DOUBLE) * SUM(c) / COUNT(*))
        |           / (COUNT(*) - 1.0) AS s2
        |  FROM cu)
        |SELECT n AS n_users,
        |       floor(m * 1e6 + 5e-1) / 1e6 AS mean,
        |       floor(s2 * 1e6 + 5e-1) / 1e6 AS variance,
        |       floor(s2 / m * 1e6 + 5e-1) / 1e6 AS dispersion,
        |       CASE WHEN s2 > m THEN floor(m * m / (s2 - m) * 1e6 + 5e-1) / 1e6
        |            END AS r_hat,
        |       CASE WHEN s2 > m THEN floor(m / s2 * 1e6 + 5e-1) / 1e6
        |            END AS p_hat
        |FROM m""".stripMargin)
}
