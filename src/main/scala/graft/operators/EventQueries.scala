package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryHelpers.{decSum, events, r2, r6, r8}

/** Event-analytics queries over the `events` table: JSON prop extraction,
  * as-of/lag sequencing, and batch session-window analysis — the
  * clickstream-shaped operations a training-data pipeline runs next to
  * document processing.
  *
  * Timestamps: `ts_us` (micros since epoch) is derived schema-adaptively
  * by [[graft.sources.EventTime]] — the testdata has shipped `ts` as both
  * TIMESTAMP(NANOS) (nanos-long under the legacy conf) and
  * TIMESTAMP(MICROS) (TIMESTAMP_NTZ) across generations, and DuckDB's
  * `epoch_us(ts)` matches both encodings bit-for-bit. All windows order
  * by (ts_us, event_id) for a total order under timestamp ties.
  *
  * Scale notes: the lag/session windows shuffle once on user_id (the
  * natural key); session analysis uses Spark's native session_window
  * aggregation (state-free in batch, partial-agg capable), not a
  * collect-based gaps-and-islands pass.
  */
object EventQueries {

  private val GapUs = 1800000000L // 30 minutes in microseconds
  private val WeekUs = 604800000000L // 7 days in microseconds

  /** EWMA smoothing constants — the single source of truth both the Spark
    * window expression and the oracle's SQL fold are generated from.
    * Weights 2^-i are exactly representable; `toPlainString` renders the
    * exact decimal literal (0.0078125, never scientific notation), so the
    * DuckDB parser reconstructs the identical double.
    */
  private val EwmaDepth = 8
  private val EwmaWeights: IndexedSeq[Double] =
    (0 until EwmaDepth).map(i => math.pow(0.5, i))
  private def ewmaWeightLit(i: Int): String =
    java.math.BigDecimal.valueOf(EwmaWeights(i)).toPlainString

  /** `decayed_user_value`'s decay rate (7-day half-life), computed ONCE
    * in Scala and interpolated as the identical double literal into the
    * Spark plan and the oracle SQL — neither engine evaluates ln(2)/7
    * at query time (the RboCumW literal convention).
    */
  private[operators] val DecayLambda: Double = math.log(2.0) / 7.0

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JSON prop extraction + grouped stats over the extracted value
    "event_props_json" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    // As-of self-sequencing: each event joined to the user's previous
    // event via lag — one shuffle on user_id
    "user_prev_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("prev_event_id", lag("event_id", 1).over(w))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // As-of join: each error event picks the user's latest prior
    // purchase (union+running-window implementation; DuckDB oracles it
    // with its native ASOF JOIN)
    "asof_prev_purchase" -> ((s, dir) => {
      val e = events(s, dir)
      val errs = e.filter(col("event_type") === "error")
        .select("user_id", "event_id", "ts_us")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us")
      AsofJoin.asofBackward(errs, purchases, Seq("user_id"), "ts_us", "ts_us")
        .withColumnRenamed("asof_ts", "prev_purchase_ts_us")
        .withColumn("gap_us", col("ts_us") - col("prev_purchase_ts_us"))
        .select("user_id", "event_id", "ts_us", "prev_purchase_ts_us", "gap_us")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Forward as-of + horizon: each signup's NEXT purchase at-or-after
    // it, and whether it lands inside the 7-day conversion window — the
    // attribution join. Same scalable union+running-window shape as the
    // backward join (AsofJoin.asofForward, timeline scanned descending):
    // one user_id shuffle, linear state, no range join. Oracle: the
    // correlated MIN form DuckDB decorrelates itself.
    "conversion_window" -> ((s, dir) => {
      val e = events(s, dir)
      val signups = e.filter(col("event_type") === "signup")
        .select("user_id", "event_id", "ts_us")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us")
      AsofJoin.asofForward(signups, purchases, Seq("user_id"), "ts_us", "ts_us")
        .withColumnRenamed("asof_ts", "next_purchase_ts_us")
        .withColumn("gap_us", col("next_purchase_ts_us") - col("ts_us"))
        .withColumn("converted",
          col("gap_us").isNotNull && col("gap_us") <= lit(WeekUs))
        .select("user_id", "event_id", "ts_us", "next_purchase_ts_us",
          "gap_us", "converted")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Linear multi-touch attribution: every purchase splits one unit of
    // credit equally across the user's click/view/signup touches in the
    // trailing 7 days; per-channel credit is the marketing-mix staple the
    // last-touch-only conversion_window can't answer. Shape: one equi-join
    // on user_id (fan-out bounded by per-user activity × the 7-day
    // horizon), touch counting via a window keyed on the CONVERSION id
    // (fine-grained, never global), per-share rounding to 6dp before the
    // decimal sum so credit totals are order-independent cross-engine.
    "linear_attribution" -> ((s, dir) => {
      val e = events(s, dir)
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          col("ts_us").as("conv_us"))
      val touch = e.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
      conv.join(touch, Seq("user_id"))
        .filter(col("ts_us") < col("conv_us") &&
          col("conv_us") - col("ts_us") <= lit(WeekUs))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
        .withColumn("credit", floor(lit(1e6) / col("n") + lit(0.5)) / lit(1e6))
        .groupBy("event_type")
        .agg(count(lit(1)).as("touches"),
          countDistinct(col("conv_id")).as("conversions"),
          decSum(col("credit")).as("credit"))
        .orderBy("event_type")
    }),

    // Kaplan–Meier signup→purchase survival curve, censoring-aware: users
    // who never purchase after signup are censored at the corpus horizon
    // instead of silently dropped (the time-to-event table conversion_window
    // can't produce — dropping censored users biases conversion time low).
    // Deaths-before-censoring at-risk convention; the curve is emitted as
    // cumulative LOG-survival (per-step ln(1−d/n) rounded 6dp into a
    // decimal running sum — exp() cross-engine parity is unguaranteed, so
    // the exponential is left to the reader). Scale shape: user-keyed
    // aggregates, then per-duration rows through the two-phase
    // exclusivePrefix — both the at-risk counts and the running log-sum
    // avoid any data-sized single-task window.
    "kaplan_meier" -> ((s, dir) => {
      val pv = survivalSubjects(s, dir).groupBy("t_hr")
        .agg(sum("d").as("ev"), (count(lit(1)) - sum("d")).as("cen"))
        .localCheckpoint(false) // reused: the n_subj total + the prefix
      val nTot = broadcast(pv.agg(sum(col("ev") + col("cen")).as("n_subj")))
      val km = CoreQueries.exclusivePrefix(pv, "t_hr", Seq("ev", "cen"))
        .crossJoin(nTot)
        .withColumn("n_risk", col("n_subj") - col("cum_ev") - col("cum_cen"))
        .filter(col("ev") > 0) // the curve steps at event times only
        .select(col("t_hr"), col("n_risk"), col("ev"), col("cen"),
          when(col("n_risk") > col("ev"),
            floor(log(lit(1.0) - col("ev").cast("double") / col("n_risk"))
              * lit(1e6) + lit(0.5)) / lit(1e6))
            .otherwise(lit(null)).cast(DecimalType(18, 6)).as("term"))
      CoreQueries.exclusivePrefix(km, "t_hr", Seq("term"))
        .select(col("t_hr"), col("n_risk"), col("ev"), col("cen"),
          (col("cum_term") + col("term")).cast("double").as("log_surv"))
        .orderBy("t_hr")
    }),

    // Nelson–Aalen cumulative-hazard estimator over the same signup→
    // first-purchase cohort as kaplan_meier: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ,
    // plus the Fleming–Harrington survival exp(−H) — the hazard-side
    // view (KM estimates S directly; NA estimates the integrated RATE,
    // is defined even when a step exhausts the risk set, and its
    // increments are the raw per-step hazards a rate monitor plots).
    // Same scale shape as kaplan_meier: subject table → event-time
    // rollup, risk sets and the hazard prefix via the two-phase
    // exclusivePrefix (no data-sized global window), dᵢ/nᵢ terms
    // 6dp-rounded into DECIMAL(18,6) sums — KM's exact scale, and a
    // hard constraint: a scale-8 term overflows DECIMAL(38) precision
    // inside exclusivePrefix's carry+fine add chain, where Spark
    // silently REDUCES the result scale (38,8)→(38,6) while DuckDB
    // keeps 8dp — the engines then disagree below 1e-6.
    "nelson_aalen" -> ((s, dir) => {
      val pv = survivalSubjects(s, dir).groupBy("t_hr")
        .agg(sum("d").as("ev"), (count(lit(1)) - sum("d")).as("cen"))
        .localCheckpoint(false) // reused: the n_subj total + the prefix
      val nTot = broadcast(pv.agg(sum(col("ev") + col("cen")).as("n_subj")))
      val na = CoreQueries.exclusivePrefix(pv, "t_hr", Seq("ev", "cen"))
        .crossJoin(nTot)
        .withColumn("n_risk", col("n_subj") - col("cum_ev") - col("cum_cen"))
        .filter(col("ev") > 0)
        .select(col("t_hr"), col("n_risk"), col("ev"),
          r6(col("ev").cast("double") / col("n_risk"))
            .cast(DecimalType(18, 6)).as("term"))
      CoreQueries.exclusivePrefix(na, "t_hr", Seq("term"))
        .select(col("t_hr"), col("n_risk"), col("ev"),
          (col("cum_term") + col("term")).cast("double").as("na_hazard"))
        .withColumn("surv_fh", r6(exp(-col("na_hazard"))))
        .orderBy("t_hr")
    }),

    // Rolling anomaly score: each value vs its user's trailing 10-event
    // window moments. The moments come from decimal-exact SUM and
    // SUM-of-squares over the frame — v² is a single IEEE product
    // (identical cross-engine), the sums are order-exact decimals
    // (560² × 10⁸ ≈ 3e13 < 2⁵³, so the decimal cast rounds identically
    // on both engines), and the mean/variance/z derivation is then pure
    // row-local IEEE — no Welford-vs-textbook stddev divergence, no
    // shuffle-order noise. The variance denominator is NULLIF-guarded:
    // Spark yields Infinity for double/0 but DuckDB yields NULL, so a
    // bare (n−1) divisor would silently diverge on single-row windows.
    // One user_id shuffle; all three frame aggregates run in one
    // WindowExec pass.
    "rolling_zscore" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-9, Window.currentRow)
      // all three frame aggregates in ONE select → ONE Window node; a
      // withColumn chain would stack three Window operators, the last
      // carrying every aggregate re-derived per downstream reference
      // (12 window expressions — plan-audited)
      val withAggs = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
          count(lit(1)).over(w).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast("double").as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(28, 8))).over(w)
            .cast("double").as("s2"))
      val mean = col("s1") / col("n")
      val variance = (col("s2") - (col("s1") * col("s1")) / col("n")) /
        nullif(col("n") - 1, lit(0))
      withAggs.select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
        col("n").cast("long").as("n_win"),
        bround(mean, 6).as("mean"),
        when(variance > 0, bround((col("value") - mean) / sqrt(variance), 6))
          .as("z"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Ordered funnel: how many users progressed signup → view → click →
    // purchase, where each stage's FIRST occurrence must come strictly
    // after the previous stage's first occurrence (the standard loose
    // funnel over first-touch timestamps). One conditional-min
    // aggregation per user — a single shuffle on user_id — then one
    // global roll-up row; no per-user state machine, no window.
    "event_funnel" -> ((s, dir) => {
      def firstTs(t: String) = min(when(col("event_type") === t, col("ts_us")))
      val perUser = events(s, dir)
        .groupBy("user_id")
        .agg(firstTs("signup").as("s1"), firstTs("view").as("s2"),
          firstTs("click").as("s3"), firstTs("purchase").as("s4"))
        .withColumn("depth",
          when(col("s1").isNull, 0)
            .when(col("s2").isNull || col("s2") <= col("s1"), 1)
            .when(col("s3").isNull || col("s3") <= col("s2"), 2)
            .when(col("s4").isNull || col("s4") <= col("s3"), 3)
            .otherwise(4))
      perUser.agg(
        count(when(col("depth") >= 1, 1)).as("signup_users"),
        count(when(col("depth") >= 2, 1)).as("view_users"),
        count(when(col("depth") >= 3, 1)).as("click_users"),
        count(when(col("depth") >= 4, 1)).as("purchase_users"))
        .withColumn("conversion_pct",
          bround(col("purchase_users") * 100.0 / nullif(col("signup_users"), lit(0)), 4))
    }),

    // Markov transition matrix over per-user event sequences: lag window
    // (one shuffle on user_id) → grouped count per (prev, next) edge.
    // The NULL-prev rows are the chain starts, kept as their own row
    // (prev_type = '<START>') so outflows sum to event counts.
    "event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("prev_type",
          coalesce(lag("event_type", 1).over(w), lit("<START>")))
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    }),

    // Cohort retention: users bucketed by the 30-day period of their
    // FIRST event, counted once per (cohort, activity-period) pair.
    // Periods are integer microsecond division — no calendar/timezone
    // dependence, so the grid reproduces on any engine. Two shuffles
    // (per-user min, then the cohort grid) — both partial-agg friendly.
    "user_retention" -> ((s, dir) => {
      val periodUs = 2592000000000L // 30 days in microseconds
      val e = events(s, dir)
        .select(col("user_id"), expr(s"ts_us div $periodUs").as("period"))
      val cohorts = e.groupBy("user_id").agg(min("period").as("cohort_period"))
      e.distinct()
        .join(cohorts, Seq("user_id"))
        .groupBy("cohort_period", "period")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("periods_since", col("period") - col("cohort_period"))
        .select("cohort_period", "period", "periods_since", "n_users")
        .orderBy("cohort_period", "period")
    }),

    // Calendar densification: daily counts per event type with the gaps
    // zero-filled — downstream time-series consumers (anomaly detection,
    // charting) need a dense grid, and a groupBy alone silently drops
    // empty days. Each type's day range generates from its own min/max
    // (sequence + explode — rows proportional to span, not corpus);
    // integer epoch-day arithmetic, no calendar/timezone dependence.
    "event_daily_gapfill" -> ((s, dir) => {
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
      val grid = counts.groupBy("event_type")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      grid.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("total_value"), lit(0.0)).as("total_value"))
        .orderBy("event_type", "day")
    }),

    // Winsorization: clamp each event's value into its type's exact
    // [p05, p95] band and report raw vs winsorized totals — the
    // outlier-capping pass run before value aggregates feed models.
    // The stats side OUTPUT is group-cardinality-sized (joined back
    // onto the stream), but exact `percentile` buffers each group's
    // values in its aggregation buffer — the corpus-scale tier is
    // [[ApproxTiers.winsorizeStats]] (constant-memory sketch band, same
    // clamp/sum semantics, error-bounded in ApproxTiersSpec); the exact
    // form is kept registered because it interpolates bit-identically
    // to DuckDB's quantile_cont. Clamped sums go through the same
    // decimal-exact path as every other money sum.
    "winsorize_stats" -> ((s, dir) => {
      val stats = events(s, dir).groupBy("event_type").agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
      events(s, dir).join(stats, "event_type")
        .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(min("lo").as("lo"), min("hi").as("hi"), count(lit(1)).as("n"),
          decSum(col("value")).as("raw_sum"), decSum(col("w")).as("win_sum"))
        .orderBy("event_type")
    }),

    // SLIDING event-time windows (1h window, 15min slide): each event
    // lands in win/slide = 4 overlapping windows — the moving-aggregate
    // view next to event_window_agg's tumbling windows. Spark's native
    // window() generator replicates rows map-side; one shuffle on
    // (window, type). The oracle reproduces the window-assignment rule
    // arithmetically: starts k·slide with (us − win)/slide < k ≤ us/slide
    // (half-open [start, start+win), epoch-aligned like Spark's default).
    "sliding_window_agg" -> ((s, dir) => {
      events(s, dir)
        .withColumn("ts_m", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts_m"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
        .select(
          unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start_us", "event_type")
    }),

    // Sweep-line max-concurrency: each event opens a 5-minute activity
    // interval; the intervals become +1/−1 boundary deltas and the max
    // of the running delta sum is the peak overlap — the classic
    // interval reduction (room scheduling, connection counting) without
    // any interval self-join. A single per-type running window would
    // serialize each type's whole history through one task (event_type
    // has O(1) distinct values — the partitions grow with the data), so
    // the scan is parallelized two-phase, the classic distributed
    // prefix: (1) running sum WITHIN (type, day) buckets — windows keyed
    // by a data-growing key, every bucket in parallel; (2) per-type
    // carry-in offsets across the DAY-cardinality bucket summaries (a
    // calendar-bounded axis, same argument as cumulative_users) added to
    // each bucket's local max — exact for any interval horizon, since
    // the carry is precisely the net of all earlier opens minus closes.
    // Boundary order pins +1
    // before −1 at equal timestamps (touching intervals overlap),
    // event_id as the final tiebreak for a total order on both engines.
    "concurrent_events" -> ((s, dir) => {
      val ivUs = 300000000L // 5-minute activity interval
      val dayUs = 86400000000L
      val e = events(s, dir).select(col("event_type"), col("event_id"), col("ts_us"))
      val deltas = e.select(col("event_type"), col("ts_us").as("t"),
          lit(1).as("d"), col("event_id"))
        .unionByName(e.select(col("event_type"),
          (col("ts_us") + lit(ivUs)).as("t"), lit(-1).as("d"), col("event_id")))
        .withColumn("bucket", expr(s"t div $dayUs"))
      val inBucket = Window.partitionBy("event_type", "bucket")
        .orderBy(col("t"), col("d").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val buckets = deltas
        .withColumn("local_load", sum("d").over(inBucket))
        .groupBy("event_type", "bucket")
        .agg(sum("d").as("bucket_sum"), max("local_load").as("bucket_max"),
          count(when(col("d") === 1, 1)).as("n_starts"))
      val carry = Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      buckets
        .withColumn("carry_in", coalesce(sum("bucket_sum").over(carry), lit(0L)))
        .groupBy("event_type")
        .agg(sum("n_starts").as("n_events"),
          max(col("carry_in") + col("bucket_max")).cast("long").as("max_concurrent"))
        .orderBy("event_type")
    }),

    // Incremental uniques: running total of distinct users by day WITHOUT
    // a running COUNT(DISTINCT) (which re-scans the prefix per day, or
    // needs a sketch): each user contributes once on their first-touch
    // day (one groupBy), daily new-user counts then prefix-sum along the
    // date axis. The unpartitioned running window is over CALENDAR-sized
    // rows (bounded by the time span, not the fact table or SF), so the
    // single-task sort W1 forbids on facts is safe here by construction.
    "cumulative_users" -> ((s, dir) => {
      val dayUs = 86400000000L
      val daily = events(s, dir)
        .groupBy("user_id").agg(min(col("ts_us")).as("first_us"))
        .groupBy(expr(s"first_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum("new_users").over(w))
        .orderBy("day")
    }),

    // Burst debounce: collapse rapid-fire repeats (same user + type
    // within 5s of the previous occurrence) down to the chain's first
    // event — the telemetry dedup that runs before any event analytics.
    // Keeping rows whose predecessor gap exceeds the threshold IS
    // first-of-each-chain semantics (a burst is a maximal run of ≤ 5s
    // gaps, and exactly its head survives) — one lag window on the
    // (user, type) key, no sequential kept-state needed.
    "burst_collapse" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .filter(col("prev_us").isNull || col("ts_us") - col("prev_us") > lit(5000000L))
        .select("event_id", "user_id", "event_type", "ts_us")
        .orderBy("user_id", "event_type", "ts_us", "event_id")
    }),

    // Equi-width histogram: 10 bins per event_type between the type's
    // own min and max — the profiling staple. Two passes: a group-sized
    // stats aggregate joined back (broadcast-friendly), then a per-row
    // codegen'd bin compute + one count shuffle. The max value lands in
    // bin 9 via least() (floor((hi-lo)/width) = 10 at the closed upper
    // edge); a constant-valued group would make width 0 and the bin
    // NaN→cast-error under ANSI, so it pins to bin 0 explicitly.
    "value_histogram" -> ((s, dir) => {
      val e = events(s, dir)
      val stats = e.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"))
      e.join(stats, "event_type")
        .withColumn("b",
          when(col("hi") === col("lo"), 0L)
            .otherwise(least(
              floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10))
                .cast("long"), lit(9L))))
        .groupBy("event_type", "b")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "b")
    }),

    // Robust outliers via MAD (median absolute deviation): flag values
    // more than 3 robust sigmas (1.4826·MAD) from the per-type median —
    // the estimator a 50%-corrupt batch cannot drag, unlike zscore's
    // mean/stddev. Two exact-median aggregations (group-cardinality
    // output; approx_percentile is the 100 TB tier, same tiering as
    // winsorize_stats) + one per-row IEEE comparison; the 4.4478
    // (= 3·1.4826) literal is written identically on both engines so no
    // cross-engine double product is involved.
    "mad_outliers" -> ((s, dir) => {
      val e = events(s, dir)
      val med = e.groupBy("event_type").agg(median(col("value")).as("med"))
      val mad = e.join(med, "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
        .groupBy("event_type")
        .agg(min("med").as("med"), median(col("ad")).as("mad"))
      e.join(mad, "event_type")
        .filter(abs(col("value") - col("med")) > lit(4.4478) * col("mad"))
        .select("event_type", "event_id", "value", "med", "mad")
        .orderBy("event_type", "event_id")
    }),

    // Bounded-window EWMA (decay ½, depth 8): the smoothed per-user
    // value series. Every weight is dyadic (2^-i), so each product is an
    // exact binary scaling, and the numerator/denominator left folds are
    // written in the SAME order on both engines — bit-identical doubles
    // with no decimal routing or rounding guard needed. The recursive
    // (unbounded) EWMA needs sequential state; the depth-8 truncation
    // (residual weight 2^-8 < 0.4%) keeps it a pure window expression:
    // one shuffle on user_id, all 8 lags computed in a single WindowExec
    // pass, O(depth) per-row arithmetic.
    "ewma_value" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val lags = (0 until EwmaDepth).map { i =>
        (if (i == 0) col("value") else lag(col("value"), i).over(w),
          EwmaWeights(i))
      }
      val num = lags.map { case (c, wt) => coalesce(c * lit(wt), lit(0.0)) }
        .reduce(_ + _)
      val den = lags.map { case (c, wt) =>
        when(c.isNotNull, lit(wt)).otherwise(lit(0.0))
      }.reduce(_ + _)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("ewma", num / den)
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Equi-depth (quantile) histogram: ntile(8) per event_type ordered
    // by (value, event_id — total order so tile boundaries are
    // deterministic), then count + [lo, hi] bounds per bin. The
    // equi-WIDTH profile is value_histogram; this is its
    // constant-population dual. Exact tier: one shuffle on event_type +
    // a per-type sort. At 100 TB a single event_type is a single
    // partition's sort — the scale tier is
    // [[ApproxTiers.equidepthHistogram]]: approx_percentile bin edges +
    // per-row binning, no window at all (plan-asserted in
    // ApproxTiersSpec).
    "equidepth_histogram" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      events(s, dir)
        .withColumn("b", ntile(8).over(w).cast("long"))
        .groupBy("event_type", "b")
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
        .orderBy("event_type", "b")
    }),

    // L106 — cohort retention triangle: the week-granular successor of
    // user_retention's single split — users cohorted by first-touch
    // week, then distinct-user counts per (cohort, week offset). The
    // classic growth-analytics table. Distinct (user, week) activity
    // first (one shuffle on user-sized keys), first-touch as a
    // partial-agg'd MIN, and the final rollup is calendar²-sized.
    "retention_cohorts" -> ((s, dir) => {
      val wkUs = 604800000000L
      val uw = events(s, dir)
        .select(col("user_id"), expr(s"ts_us div $wkUs").as("wk"))
        .distinct()
      val first = uw.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      uw.join(first, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(count(lit(1)).as("n_users")) // distinct by uw's construction
        .orderBy("cohort_wk", "offset_wk")
    }),

    // L107 — audience overlap (exact Jaccard of event-type user sets):
    // which behaviors share users — the segmentation/feature-correlation
    // probe. Distinct (type, user) pairs, intersections from one
    // user-keyed self-join (types-per-user is O(1), so the per-user
    // fan-out is bounded), set sizes from a type-cardinality aggregate;
    // |A∪B| = |A|+|B|−|A∩B| avoids ever materializing unions.
    "user_set_jaccard" -> ((s, dir) => {
      val ut = events(s, dir).select(col("event_type"), col("user_id")).distinct()
      val sz = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(sz.select(col("event_type").as("type_a"), col("n").as("na")), "type_a")
        .join(sz.select(col("event_type").as("type_b"), col("n").as("nb")), "type_b")
        .select(col("type_a"), col("type_b"), col("na"), col("nb"), col("n_both"),
          (floor(col("n_both") / (col("na") + col("nb") - col("n_both"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("jaccard"))
        .orderBy("type_a", "type_b")
    }),

    // L108 — top event paths (3-step sequence mining): the most common
    // event-type trigrams along each user's timeline — the lightweight
    // behavioral-motif summary before funnel design. One lead window per
    // user (keyed by a data-growing column, partitions scale out), paths
    // aggregate map-side, global top-10 is a TakeOrdered under a total
    // order — no corpus sort.
    "event_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(10)
    }),

    // L111 — PSI drift (population stability index) per event_type
    // between the first and second half of the time range: the standard
    // "did this feature's distribution shift between training and
    // serving" monitor. Value axis binned into 10 equi-width bins over
    // GLOBAL bounds (a broadcast 1-row aggregate — bins comparable
    // across types and periods); the type × period × bin counts land on
    // a types×20 grid (left join fills empty bins), add-one smoothing
    // keeps every log finite, and per-bin terms round to 6dp before the
    // decimal per-type sum (ln parity). One fact shuffle total.
    "psi_drift" -> ((s, dir) => {
      val b = broadcast(events(s, dir).agg(
        min("ts_us").as("lo"), max("ts_us").as("hi"),
        min("value").as("vlo"), max("value").as("vhi")))
      val binned = events(s, dir).crossJoin(b)
        .select(col("event_type"),
          when(col("ts_us") * 2 < col("lo") + col("hi"), "a").otherwise("b")
            .as("period"),
          least(lit(9L), when(col("vhi") === col("vlo"), 0L).otherwise(
            floor((col("value") - col("vlo")) /
              ((col("vhi") - col("vlo")) / 10.0)))).as("bin"))
      val counts = binned.groupBy("event_type", "period", "bin")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // reused: the grid keys + both period sides
      // grid keys from the rollup itself (every event lands in exactly
      // one period/bin, so the distinct types are identical) — the old
      // events-scan grid replayed the fact scan a third time
      val grid = counts.select("event_type").distinct()
        .crossJoin(s.range(0, 10).select(col("id").as("bin")))
      val cells = grid
        .join(counts.filter(col("period") === "a")
          .select(col("event_type"), col("bin"), col("c").as("ca")),
          Seq("event_type", "bin"), "left")
        .join(counts.filter(col("period") === "b")
          .select(col("event_type"), col("bin"), col("c").as("cb")),
          Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val tot = cells.groupBy("event_type")
        .agg(sum("ca").as("na"), sum("cb").as("nb"))
      cells.join(tot, "event_type")
        .select(col("event_type"),
          (floor(((col("ca") + 1.0) / (col("na") + 10) -
            (col("cb") + 1.0) / (col("nb") + 10)) *
            log(((col("ca") + 1.0) / (col("na") + 10)) /
              ((col("cb") + 1.0) / (col("nb") + 10))) * lit(1e6) + lit(0.5))
            / lit(1e6)).as("term"))
        .groupBy("event_type")
        .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("psi"))
        .orderBy("event_type")
    }),

    // Batch sessionization via native session_window (30-minute gap):
    // session spans [min ts, max ts + gap)
    "event_sessions" -> ((s, dir) => {
      events(s, dir)
        .withColumn("ts_m", timestamp_micros(col("ts_us")))
        .groupBy(session_window(col("ts_m"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
        .select(
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("user_id"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start_us")
    }),

    // Bot-rate profile: per user (>= 2 events), the exact median
    // inter-arrival gap, the fraction of sub-second gaps, and a bot
    // verdict (>= 20 events AND >= half the gaps under 1s) — the
    // automated-traffic filter an event corpus runs before user-level
    // analytics or training extraction (bot sessions poison retention,
    // funnels and any per-user text). One user_id shuffle for the lag,
    // user-keyed rollups; thresholds compare the 6dp-rounded fraction.
    "bot_gap_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gaps = events(s, dir)
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap_us").isNotNull)
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          median(col("gap_us")).as("median_gap_us"),
          (floor(sum(when(col("gap_us") < 1000000L, 1L).otherwise(0L))
            .cast("double") / count(lit(1)) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("fast_frac"))
        .withColumn("is_bot", col("n_gaps") >= 19L && col("fast_frac") >= 0.5)
        .orderBy("user_id")
    }),

    // Autocorrelation of the daily event-count series at lags 1–7 — the
    // weekly-seasonality / burstiness probe run before alerting on a
    // volume drop (a high lag-7 ACF says "compare to last week, not
    // yesterday"). Series = gapfilled per-day counts (day-cardinality-
    // sized at any SF); deviations from the mean are 6dp-rounded and
    // decimal-summed (merge-order-free); per-lag numerators come from a
    // day-keyed equi-join of the series with itself shifted (7 lags ×
    // days rows — never data-sized).
    "daily_acf" -> ((s, dir) => dailyAcfFrame(s, dir).orderBy("lag_days")),

    // Partial autocorrelation of the daily count series via the
    // Durbin–Levinson recursion on daily_acf's ρ₁..ρ₇ (the exact
    // Yule–Walker solve, level by level): PACF(k) = φ_kk isolates the
    // DIRECT lag-k effect the raw ACF smears through shorter lags —
    // the AR-order diagnostic (ACF tails, PACF cuts) every Box–Jenkins
    // fit starts from. The recursion is CONSTANT-size closed-form
    // algebra on the 7 shared ACF values (generated level by level
    // with named intermediates — the oracle's CTE chain names the
    // same intermediates, so the double arithmetic matches op for op);
    // all the data-sized work is daily_acf's shared pipeline.
    "pacf_yule_walker" -> ((s, dir) => {
      val K = 7
      var df = dailyAcfFrame(s, dir)
        .groupBy()
        .agg((1 to K).map(k =>
          max(when(col("lag_days") === k, col("acf"))).as(s"r$k")).head,
          (1 to K).map(k =>
            max(when(col("lag_days") === k, col("acf"))).as(s"r$k")).tail: _*)
        .withColumn("phi_1_1", col("r1"))
        .withColumn("v_1", lit(1.0) - col("r1") * col("r1"))
      for (k <- 2 to K) {
        val num = col(s"r$k") - (1 until k).map(j =>
          col(s"phi_${k - 1}_$j") * col(s"r${k - j}")).reduce(_ + _)
        df = df.withColumn(s"phi_${k}_$k", num / col(s"v_${k - 1}"))
        for (j <- 1 until k)
          df = df.withColumn(s"phi_${k}_$j",
            col(s"phi_${k - 1}_$j") -
              col(s"phi_${k}_$k") * col(s"phi_${k - 1}_${k - j}"))
        df = df.withColumn(s"v_$k",
          col(s"v_${k - 1}") *
            (lit(1.0) - col(s"phi_${k}_$k") * col(s"phi_${k}_$k")))
      }
      df.select(explode(array((1 to K).map(k => struct(
          lit(k.toLong).as("lag_days"), col(s"r$k").as("acf"),
          r6(col(s"phi_${k}_$k")).as("pacf"))): _*)).as("o"))
        .select(col("o.lag_days").as("lag_days"), col("o.acf").as("acf"),
          col("o.pacf").as("pacf"))
        .orderBy("lag_days")
    }),

    // CUSUM changepoint scan (Page 1954) over the daily revenue series:
    // S_t = Σ_{i≤t}(x_i − x̄); the day with max |S_t| is the classic
    // single-changepoint estimate and max|S|/n the shift magnitude
    // statistic — the "did the pipeline's volume regime change, and
    // when" monitor. Day totals are decimal-exact; the running sum is a
    // window over the DAY-cardinality rollup (the cumulative_users
    // class, plan-audit allowlisted), never over raw events.
    "cusum_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
        .localCheckpoint(false) // feeds the mean and the cumulative scan
      val m = broadcast(series.agg(
        (decSum(col("x")) / count(lit(1))).as("mu"),
        count(lit(1)).as("n_days")))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      series.crossJoin(m)
        .withColumn("s", sum(r6(col("x") - col("mu")).cast(DecimalType(18, 6)))
          .over(w).cast("double"))
        .select(col("day").as("changepoint_day"), abs(col("s")).as("max_abs_s"),
          col("mu"), col("n_days"))
        .orderBy(desc("max_abs_s"), col("changepoint_day"))
        .limit(1)
    }),

    // Classical additive seasonal decomposition of the daily revenue
    // series: trend = centered 7-day moving average (full windows
    // only), seasonal = mean detrended value per day-of-week, residual
    // = what's left — the anomaly channel a volume monitor alerts on.
    // All windows/aggregates run over the DAY-cardinality gapfilled
    // rollup (the cumulative_users class), never over raw events;
    // detrended values round 6dp before the decimal seasonal means.
    "seasonal_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
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
        .localCheckpoint(false) // reused: seasonal means + the final join
      val seas = tr.groupBy("dow")
        .agg((decSum(col("detr")) / count(lit(1))).as("seasonal_raw"))
      tr.join(seas, "dow")
        .select(col("day"), col("x"), r6(col("trend")).as("trend"),
          r6(col("seasonal_raw")).as("seasonal"),
          r6(col("detr") - col("seasonal_raw")).as("resid"))
        .orderBy("day")
    }),

    // Mann–Whitney U rank-sum test (Mann & Whitney 1947): do 'click'
    // and 'purchase' events draw their `value` from the same
    // distribution — the standard nonparametric drift test between two
    // cohorts. No global sort: the pooled sample collapses to per-
    // DISTINCT-value counts, below-counts come from the two-phase
    // exclusivePrefix (the ccnet_buckets machinery — no data-sized
    // single-task window), and U folds as exact integer half-units
    // (2U = 2·Σ c_a·below_b + Σ c_a·c_b). z uses the tie-corrected
    // variance, every factor from exact longs with mirrored expression
    // order.
    "mann_whitney_u" -> ((s, dir) => {
      val pv = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("value")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
      val cum = CoreQueries.exclusivePrefix(pv, "value", Seq("ca", "cb"))
      val agg = cum.agg(
        sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(lit(2L) * col("ca") * col("cum_cb") + col("ca") * col("cb")).as("u2"),
        sum((col("ca") + col("cb")) * (col("ca") + col("cb")) *
          (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tie3"))
      agg
        .withColumn("nn", col("n_a") + col("n_b"))
        .withColumn("sigma2",
          col("n_a").cast("double") * col("n_b") / lit(12.0) *
            ((col("nn") + 1).cast("double") -
              col("tie3").cast("double") /
                (col("nn").cast("double") * (col("nn") - 1))))
        .select(col("n_a"), col("n_b"),
          (col("u2").cast("double") / 2).as("u_a"),
          ((col("n_a") * col("n_b") * 2 - col("u2")).cast("double") / 2).as("u_b"),
          r6((col("u2") - col("n_a") * col("n_b")).cast("double") / 2 /
            sqrt(col("sigma2"))).as("z"))
    }),

    // Pettitt change-point test (Pettitt 1979) on the daily value
    // series: the rank-based sibling of cusum_changepoint — U_t =
    // Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j), K = max|U_t|, with the classic
    // p ≈ 2·exp(−6K²/(n³+n²)) significance approximation. The O(n²)
    // double sum collapses to a prefix sum via antisymmetry (Σ over a
    // square block is 0): U_t = Σ_{i≤t} r_i where r_i = Σ_j sgn(x_i −
    // x_j) — so the heavy part is ONE pair join over the CALENDAR-sized
    // daily rollup (broadcast NLJ; n² of ~365 days is trivial and
    // SF-invariant), never over raw events. Sign sums are exact long
    // arithmetic; the prefix window runs over the day-sized frame
    // (cusum_changepoint's allowlisted class).
    "pettitt_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
        .localCheckpoint(false) // feeds both pair-join sides + the count
      val n = broadcast(series.agg(count(lit(1)).as("n_days")))
      val b = series.select(col("day").as("day2"), col("x").as("x2"))
      val r = broadcast(series).crossJoin(b)
        .groupBy("day")
        .agg(sum(when(col("x") > col("x2"), 1L)
          .when(col("x") < col("x2"), -1L).otherwise(0L)).as("r"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nd = col("n_days").cast("double")
      r.withColumn("u", sum("r").over(w))
        .crossJoin(n)
        .select(col("day").as("changepoint_day"), abs(col("u")).as("k_stat"),
          col("n_days"),
          r6(lit(2.0) * exp(-(lit(6.0) * col("u") * col("u") /
            (nd * nd * nd + nd * nd)))).as("p_approx"))
        .orderBy(desc("k_stat"), col("changepoint_day"))
        .limit(1)
    }),

    // Mutual information between event type and hour-of-day:
    // I(T;H) = H(T) + H(H) − H(T,H) from ONE joint count table (hour =
    // integer microsecond arithmetic, timezone-free), plus the
    // normalized I/min(H(T),H(H)) — "how much does the clock predict
    // the action", the dependence measure chi2_independence's χ² ranks
    // but doesn't quantify in bits. Marginals re-aggregate the
    // (T,H)-sized joint (never the fact table); −p·ln p terms 8dp-round
    // into decimal sums.
    "event_mutual_info" -> ((s, dir) => {
      val joint = events(s, dir)
        .groupBy(col("event_type").as("t"),
          (expr("ts_us div 3600000000") % 24).as("h"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // reused: both marginals + total + joint H
      val nTot = broadcast(joint.agg(sum("n").as("nn")))
      def entropy(df: DataFrame): DataFrame = df.crossJoin(nTot)
        .select(r8(-(col("n").cast("double") / col("nn") *
          log(col("n").cast("double") / col("nn"))))
          .cast(DecimalType(18, 8)).as("term"))
        .agg(sum("term").cast("double").as("h"))
      val ht = entropy(joint.groupBy("t").agg(sum("n").as("n")))
      val hh = entropy(joint.groupBy("h").agg(sum("n").as("n")))
      val hth = entropy(joint)
      ht.select(col("h").as("h_type"))
        .crossJoin(hh.select(col("h").as("h_hour")))
        .crossJoin(hth.select(col("h").as("h_joint")))
        .select(r6(col("h_type")).as("h_type"), r6(col("h_hour")).as("h_hour"),
          r6(col("h_joint")).as("h_joint"),
          r6(col("h_type") + col("h_hour") - col("h_joint")).as("mi"),
          r6((col("h_type") + col("h_hour") - col("h_joint")) /
            least(col("h_type"), col("h_hour"))).as("nmi"))
    }),

    // Kruskal–Wallis H (Kruskal & Wallis 1952): does `value` differ in
    // location across ALL k event types at once — the k-group
    // generalization of mann_whitney_u (and the rank-based alternative
    // to anova_f when normality fails jarque_bera). Tie-averaged global
    // ranks come from the two-phase exclusivePrefix over per-distinct-
    // value counts (no data-sized window); rank sums are exact
    // half-integer arithmetic routed through DECIMAL(28,1); the
    // Σ(t³−t) tie correction is exact longs. Groups stay DYNAMIC (no
    // pinned type list) — R_g accumulates group-keyed.
    "kruskal_wallis" -> ((s, dir) => {
      val e = events(s, dir)
      val pv2 = e.groupBy("value", "event_type").agg(count(lit(1)).as("c"))
      val pvt = e.groupBy("value").agg(count(lit(1)).as("ct"))
        .localCheckpoint(false) // reused: ranks + tie correction
      val ranks = CoreQueries.exclusivePrefix(pvt, "value", Seq("ct"))
        .select(col("value"),
          (col("cum_ct") + (col("ct") + 1) / lit(2.0)).as("avgrank"))
      val rg = pv2.join(ranks, "value")
        .groupBy("event_type")
        .agg(sum("c").as("n_g"),
          sum((col("c") * col("avgrank")).cast(DecimalType(28, 1)))
            .cast("double").as("r_g"))
      val tie = broadcast(pvt.agg(
        sum(col("ct") * col("ct") * col("ct") - col("ct")).as("t3"),
        sum("ct").as("nn")))
      val agg = rg.agg(
        count(lit(1)).as("k"),
        sum(r2(col("r_g") * col("r_g") / col("n_g"))
          .cast(DecimalType(38, 2))).cast("double").as("sr"))
      val nD = col("nn").cast("double")
      agg.crossJoin(tie)
        .select(col("k").as("n_groups"), col("nn").as("n_total"),
          r6(lit(12.0) / (nD * (nD + 1)) * col("sr") - lit(3.0) * (nD + 1))
            .as("h_stat"),
          r6((lit(12.0) / (nD * (nD + 1)) * col("sr") - lit(3.0) * (nD + 1)) /
            (lit(1.0) - col("t3").cast("double") / (nD * nD * nD - nD)))
            .as("h_corrected"))
    }),

    // Log-rank test (Mantel 1966): do the even- and odd-user cohorts'
    // signup→purchase survival curves differ — the two-sample
    // significance companion to kaplan_meier's single curve (same
    // subject table, deaths-before-censoring convention, horizon
    // censoring). At each event time the observed group-1 deaths
    // compare against the hypergeometric expectation d·n₁/n; O−E and
    // the variance accumulate 6dp-rounded through decimal;
    // χ² = (O−E)²/V. At-risk counts per group come from ONE
    // exclusivePrefix pass over the (time, group)-wide event/censor
    // counts.
    "log_rank_test" -> ((s, dir) => {
      val e = events(s, dir)
      val maxTs = broadcast(e.agg(max("ts_us").as("max_us")))
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("s_us"))
      val fp = su.join(
          e.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us").as("p_us")),
          Seq("user_id"))
        .filter(col("p_us") > col("s_us"))
        .groupBy("user_id").agg(min("p_us").as("fp_us"))
      val subj = su.join(fp, Seq("user_id"), "left").crossJoin(maxTs)
        .select((col("user_id") % 2 === 0).cast("long").as("g1"),
          when(col("fp_us").isNotNull,
            expr("(fp_us - s_us) div 3600000000"))
            .otherwise(expr("(max_us - s_us) div 3600000000")).as("t_hr"),
          col("fp_us").isNotNull.cast("long").as("d"))
      val pv = subj.groupBy("t_hr").agg(
        sum(col("g1") * col("d")).as("ev1"),
        sum(col("g1") * (lit(1L) - col("d"))).as("cen1"),
        sum((lit(1L) - col("g1")) * col("d")).as("ev2"),
        sum((lit(1L) - col("g1")) * (lit(1L) - col("d"))).as("cen2"))
        .localCheckpoint(false) // reused: the group totals + the prefix
      val nTot = broadcast(pv.agg(
        sum(col("ev1") + col("cen1")).as("ns1"),
        sum(col("ev2") + col("cen2")).as("ns2")))
      val terms = CoreQueries
        .exclusivePrefix(pv, "t_hr", Seq("ev1", "cen1", "ev2", "cen2"))
        .crossJoin(nTot)
        .select(col("ev1"), col("ev2"),
          (col("ns1") - col("cum_ev1") - col("cum_cen1")).as("n1"),
          (col("ns2") - col("cum_ev2") - col("cum_cen2")).as("n2"))
        .filter(col("ev1") + col("ev2") > 0 && col("n1") + col("n2") > 1)
      val d = (col("ev1") + col("ev2")).cast("double")
      val n1 = col("n1").cast("double")
      val n2 = col("n2").cast("double")
      val nT = n1 + n2
      val agg = terms.select(col("ev1"),
          r6(d * (n1 / nT)).cast(DecimalType(18, 6)).as("e1"),
          r6(d * (n1 / nT) * (n2 / nT) * (nT - d) / (nT - 1))
            .cast(DecimalType(18, 6)).as("v"))
        .agg(sum("ev1").as("o1"),
          sum("e1").cast("double").as("e1"),
          sum("v").cast("double").as("v"))
      agg.select(col("o1"), r6(col("e1")).as("e1"),
        r6((col("o1") - col("e1")) * (col("o1") - col("e1")) / col("v"))
          .as("chi2"))
    }),

    // Gini-optimal decision stump: the best single threshold on
    // `value` separating purchases from the rest — the split-finding
    // inner loop of every tree/GBDT trainer, run ONCE distributed: per-
    // distinct-value class counts (one keyed shuffle), left/right
    // splits for ALL candidate thresholds at once from the two-phase
    // exclusivePrefix cumulative counts (no data-sized window, no
    // per-threshold rescan), weighted Gini as per-row closed-form
    // algebra on exact longs, global argmin via top-1 TakeOrdered
    // (ties break on the smaller threshold).
    "decision_stump" -> ((s, dir) => {
      val pv = events(s, dir)
        .groupBy("value")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
          sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
            .as("c0"))
        .localCheckpoint(false) // reused: the class totals + the prefix
      val tot = broadcast(pv.agg(sum("c1").as("t1"), sum("c0").as("t0")))
      val l1 = col("cum_c1") + col("c1")
      val l0 = col("cum_c0") + col("c0")
      val r1 = col("t1") - l1
      val r0 = col("t0") - l0
      val nl = (l1 + l0).cast("double")
      val nr = (r1 + r0).cast("double")
      val gl = lit(1.0) - ((l1 / nl) * (l1 / nl) + (l0 / nl) * (l0 / nl))
      val gr = lit(1.0) - ((r1 / nr) * (r1 / nr) + (r0 / nr) * (r0 / nr))
      val nn = (col("t1") + col("t0")).cast("double")
      CoreQueries.exclusivePrefix(pv, "value", Seq("c1", "c0"))
        .crossJoin(tot)
        .filter(r1 + r0 > 0)
        .select(col("value").as("threshold"),
          (l1 + l0).as("n_left"), (r1 + r0).as("n_right"),
          ((nl * gl + nr * gr) / nn).as("g"))
        .orderBy("g", "threshold")
        .limit(1)
        .select(col("threshold"), col("n_left"), col("n_right"),
          r6(col("g")).as("gini_split"))
    }),

    // Two-proportion z-test on conversion: does the even-user cohort
    // purchase at a different rate than the odd cohort — the A/B-test
    // primitive behind every experiment readout (welch_ttest's
    // categorical-outcome sibling; the hash cohort is the deterministic
    // stand-in for an assignment column). ONE conditional-aggregate
    // pass to a single row (counts are exact longs), pooled-variance z
    // as closed-form double algebra.
    "prop_ztest" -> ((s, dir) => {
      val g1 = (col("user_id") % 2 === 0).cast("long")
      val conv = (col("event_type") === "purchase").cast("long")
      val m = events(s, dir).agg(
        sum(g1).as("n1"), sum(lit(1L) - g1).as("n2"),
        sum(g1 * conv).as("x1"), sum((lit(1L) - g1) * conv).as("x2"))
      val p1 = col("x1").cast("double") / col("n1")
      val p2 = col("x2").cast("double") / col("n2")
      val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
      m.select(col("n1"), col("n2"), col("x1"), col("x2"),
        r6(p1).as("rate_a"), r6(p2).as("rate_b"),
        r6((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1") + lit(1.0) / col("n2")))).as("z_stat"))
    }),

    // Stationary distribution of the event-type Markov chain: row-
    // normalize event_transitions' count matrix and power-iterate
    // vᵀP (with per-round L1 renormalization, since types that never
    // recur make P substochastic) — "where does a user's session
    // settle long-run", the chain-level summary event_transitions'
    // raw counts don't give. The per-user lag runs on the raw events
    // ONCE (partitioned window); everything after is on the TYPE²-
    // sized matrix — SF-invariant joins, contribution sums routed
    // through DECIMAL(28,18) exactly as pagerank's rounds.
    "markov_stationary" -> ((s, dir) => {
      val (_, v) = markovChain(s, dir)
      v.select(col("st").as("event_type"), r8(col("v")).as("p_stationary"))
        .orderBy("event_type")
    }),

    // Entropy rate of the event-type Markov chain: H = Σ_i π_i·h_i
    // with h_i = Σ_j −p_ij·ln p_ij — bits-per-step unpredictability of
    // a user's NEXT action given the current one, the chain-level
    // counterpart of bigram_entropy_rate's corpus statistic (and the
    // natural "how routine is this traffic" drift monitor next to
    // markov_stationary's WHERE-it-settles view). Shares the chain
    // build (markovChain); per-edge −p·ln p terms 8dp-round before the
    // decimal row sums, π weighting the same before the final 1-row
    // reduce; branching-factor perplexity = exp(H).
    "markov_entropy_rate" -> ((s, dir) => {
      val (p, v) = markovChain(s, dir)
      val h = p
        .select(col("src"), r8(-(col("p") * log(col("p"))))
          .cast(DecimalType(18, 8)).as("t"))
        .groupBy("src").agg(sum("t").cast("double").as("h"))
      h.join(v.withColumnRenamed("st", "src"), "src")
        .select(r8(col("v") * col("h")).cast(DecimalType(18, 8)).as("w"))
        .agg(count(lit(1)).as("n_states"), sum("w").cast("double").as("hr"))
        .select(col("n_states"), r6(col("hr")).as("entropy_rate"),
          r6(exp(col("hr"))).as("perplexity"))
    }),

    // Expected steps to absorption: from each event type, the expected
    // number of transitions until the user's chain first hits
    // 'purchase' — x = 1 + Qx on the purchase-deleted transition
    // matrix, truncated Neumann series (16 rounds, the pagerank/
    // markov_stationary iteration budget) — the funnel-depth summary
    // ("a view is on average N steps from money") that markov_
    // stationary's long-run shares don't answer. Shares markovChain's
    // one raw-event lag pass; every round is a TYPE²-sized join with
    // DECIMAL(28,18)-routed contraction sums.
    "absorbing_time" -> ((s, dir) => {
      val (_, p) = markovP(s, dir)
      val q = p.filter(col("src") =!= "purchase" && col("dst") =!= "purchase")
      // The purchase-deleted matrix is TYPE²-sized — SF-INVARIANT (more
      // data grows the transition counts, not the event-type vocabulary)
      // — so fold it into ONE row and run all 16 contraction rounds
      // inside a single codegen'd projection (AbsorbingSteps, which
      // replicates the per-round DECIMAL(28,18) sum bit-for-bit). The
      // r10 spelling iterated 16 rounds of TYPE²-sized joins: correct,
      // but 84 scheduler round-trips for 5.7 executor-cpu-SECONDS of
      // work — pure driver overhead at any SF. The heavy part (the
      // per-user lag pass in markovP) stays exactly as distributed as
      // before; the matrix never reaches the driver.
      q.agg(collect_list(struct(col("src"), col("dst"), col("p"))).as("qm"))
        .select(explode(graft.functions.AbsorbingSteps
          .absorbingSteps(col("qm"), 16)).as("r"))
        .select(col("r.st").as("event_type"),
          r6(col("r.x")).as("exp_steps_to_purchase"))
        .orderBy("event_type")
    }),

    // Cross-correlation function between the daily purchase-count and
    // daily total-value series at lags −7..+7: does volume LEAD value
    // (marketing pushes convert days later) or lag it — the lead/lag
    // diagnostic a forecaster runs before adding a regressor, and
    // daily_acf's two-series sibling. Same scale shape: one day-grid
    // rollup carrying BOTH series, deviations 6dp-round into decimal
    // sums, the 15-lag × days self-join is calendar-sized.
    "daily_ccf" -> ((s, dir) => {
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("a"), decSum(col("value")).as("b"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0.0)).as("b"))
        .localCheckpoint(false) // feeds means, devs, both join sides
      val m = broadcast(series.agg(
        (sum("a").cast("double") / count(lit(1))).as("mua"),
        (decSum(col("b")) / count(lit(1))).as("mub")))
      val dev = series.crossJoin(m)
        .select(col("day"), (col("a") - col("mua")).as("da"),
          (col("b") - col("mub")).as("db"))
        .localCheckpoint(false) // both join sides + both denominators
      val den = broadcast(dev.agg(
        decSum(r6(col("da") * col("da"))).as("dena"),
        decSum(r6(col("db") * col("db"))).as("denb")))
      dev.select(explode(sequence(lit(-7L), lit(7L))).as("lag_days"),
          col("day"), col("da"))
        .join(dev.select(col("day").as("day2"), col("db").as("db2")),
          col("day2") === col("day") + col("lag_days"))
        .groupBy("lag_days")
        .agg(count(lit(1)).as("n_pairs"),
          decSum(r6(col("da") * col("db2"))).as("num"))
        .crossJoin(den)
        .select(col("lag_days"), col("n_pairs"),
          r6(col("num") / (sqrt(col("dena")) * sqrt(col("denb")))).as("ccf"))
        .orderBy("lag_days")
    }),

    // L287 — Granger lag-1 causality probe: does yesterday's purchase
    // COUNT improve today's revenue forecast beyond yesterday's revenue
    // alone? Restricted (y_t ~ y_{t-1}) vs unrestricted (y_t ~ y_{t-1}
    // + x_{t-1}) OLS by closed-form centered sums, F = (SSE_r − SSE_u)
    // / (SSE_u / (n − 3)) — the standard lead-lag screening one step
    // past daily_ccf's symmetric correlations. Day-grid gapfill makes
    // the lag an equi-join on day+1; every moment is a decimal sum of
    // 6dp-rounded products (the daily_ccf spelling); the 2×2 normal
    // equations solve in closed form — no iteration, no matrix library.
    "granger_lag1" -> ((s, dir) => {
      // degenerate-series guard (r9 ADVICE): a zero-variance series, a
      // perfect fit (sseu = 0), or < 4 days (n − 3 = 0) zeroes these
      // divisors — Spark would emit Infinity/NaN where DuckDB NULLs, a
      // silent cross-engine divergence. Pin BOTH engines to NULL via
      // nullif on every divisor (the rolling_zscore convention).
      def nz(c: org.apache.spark.sql.Column) =
        when(c === 0, lit(null).cast("double")).otherwise(c.cast("double"))
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("a"), decSum(col("value")).as("b"))
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(counts, Seq("day"), "left")
        .select(col("day"), coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0.0)).as("b"))
        .localCheckpoint(false) // both lag-join sides
      // lagged triples (y_t, y_{t-1}, x_{t-1}) via the day+1 equi-join
      val tri = series.select((col("day") + 1).as("day"), col("b").as("z"),
          col("a").cast("double").as("w"))
        .join(series.select(col("day"), col("b").as("y")), "day")
        .localCheckpoint(false) // means + centered products
      val m = broadcast(tri.agg(count(lit(1)).as("n"),
        (decSum(col("y")) / count(lit(1))).as("muy"),
        (decSum(col("z")) / count(lit(1))).as("muz"),
        (decSum(col("w")) / count(lit(1))).as("muw")))
      tri.crossJoin(m)
        .select(col("n"),
          (col("y") - col("muy")).as("dy"),
          (col("z") - col("muz")).as("dz"),
          (col("w") - col("muw")).as("dw"))
        .groupBy("n")
        .agg(decSum(r6(col("dy") * col("dy"))).as("syy"),
          decSum(r6(col("dz") * col("dz"))).as("szz"),
          decSum(r6(col("dw") * col("dw"))).as("sww"),
          decSum(r6(col("dz") * col("dy"))).as("szy"),
          decSum(r6(col("dw") * col("dy"))).as("swy"),
          decSum(r6(col("dz") * col("dw"))).as("szw"))
        .select(col("n"), col("syy"), col("szy"), col("swy"), col("szz"),
          // the 2×2 normal-equation solutions, UNROUNDED (both engines
          // evaluate the identical IEEE expression; rounding only at
          // the output columns below)
          ((col("szy") * col("sww") - col("swy") * col("szw")) /
            nz(col("szz") * col("sww") - col("szw") * col("szw"))).as("b2"),
          ((col("swy") * col("szz") - col("szy") * col("szw")) /
            nz(col("szz") * col("sww") - col("szw") * col("szw"))).as("c2"))
        .select(col("n"), col("szz"), col("szy"), col("b2"), col("c2"),
          (col("syy") - col("szy") * col("szy") / nz(col("szz"))).as("sser"),
          (col("syy") - col("b2") * col("szy") - col("c2") * col("swy")).as("sseu"))
        .select(col("n").as("n_days"),
          r6(col("szy") / nz(col("szz"))).as("beta_restricted"),
          r6(col("b2")).as("beta_lag_y"),
          r6(col("c2")).as("beta_lag_x"),
          r2(col("sser")).as("sse_r"),
          r2(col("sseu")).as("sse_u"),
          r6((col("sser") - col("sseu")) / (nz(col("sseu")) / nz(col("n") - 3)))
            .as("f_stat"))
    }),

    // L295 — exponential time-decay user value (7-day half-life): each
    // user's Σ value·e^(−λ·age_days) as of the stream's last day — the
    // recency-weighted engagement feature every feature store derives
    // (a user who spent yesterday outranks one who spent the same a
    // month ago). λ = ln2/7 is ONE Scala-computed literal interpolated
    // into both engines (the RboCumW convention — no query-time ln);
    // per-row terms 6dp-round into exact decimal sums, so the decayed
    // total is merge-order-free. Top 100 users.
    "decayed_user_value" -> ((s, dir) => {
      val dayUs = 86400000000L
      val ev = events(s, dir)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"), col("value"))
      val mx = broadcast(ev.agg(max("day").as("d1")))
      ev.crossJoin(mx)
        .select(col("user_id"),
          r6(col("value") * exp(lit(-EventQueries.DecayLambda) *
            (col("d1") - col("day")).cast("double")))
            .cast(DecimalType(18, 6)).as("t"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("t").cast("double").as("dv"))
        .select(col("user_id"), col("n_events"), r6(col("dv")).as("decayed_value"))
        .orderBy(desc("decayed_value"), col("user_id")).limit(100)
    }),

    // Gumbel extreme-value fit by the method of moments over WEEKLY
    // (7-day) block maxima of daily revenue: σ̂ = s√6/π, μ̂ = x̄ − γσ̂,
    // and the 12-block return level μ̂ − σ̂·ln(−ln(1−1/12)) — "what's
    // the worst day we should expect in a quarter", the capacity-
    // planning number a close pipeline reports next to max_drawdown
    // (EVT block-maxima form; constants are shared 10dp literals so
    // both engines parse the identical double; week blocks because the
    // event stream spans ~1 month). Day rollup → block maxima
    // (calendar-sized) → one moment reduce.
    "extreme_value_fit" -> ((s, dir) => {
      val dayUs = 86400000000L
      val gamma = 0.5772156649
      val pi10 = 3.1415926536
      val daily = events(s, dir)
        .groupBy(expr(s"ts_us div $dayUs").as("day"))
        .agg(decSum(col("value")).as("x"))
        .withColumn("m", expr("day div 7"))
      val bm = daily.groupBy("m").agg(max("x").as("bx"))
        .localCheckpoint(false) // month-cardinality; moments + SS pass
      val mom = broadcast(bm.agg(count(lit(1)).as("n"),
        (decSum(col("bx")) / count(lit(1))).as("mu")))
      val st = bm.crossJoin(mom)
        .agg(max("n").as("n_blocks"), max("mu").as("xbar"),
          decSum(r6((col("bx") - col("mu")) * (col("bx") - col("mu"))))
            .as("ss"))
      val sig = sqrt(col("ss") / (col("n_blocks") - 1L)) *
        sqrt(lit(6.0)) / lit(pi10)
      val muh = col("xbar") - lit(gamma) * sig
      st.select(col("n_blocks"), r2(col("xbar")).as("mean_max"),
        r2(sig).as("sigma_hat"), r2(muh).as("mu_hat"),
        r2(muh - sig * log(-log(lit(1.0) - lit(1.0) / 12.0)))
          .as("return_level_12"))
    }),

    // Cohort LTV curve: per signup-week cohort and week-of-age offset,
    // the cumulative revenue per cohort member — the lifetime-value
    // trajectory ("week-6 LTV of the March cohort") that retention_
    // cohorts' user counts price out. Cohort×offset grid is CALENDAR²-
    // sized; weekly revenue decimal-sums once off the facts, the
    // cumulative runs in a cohort-PARTITIONED window over offsets, and
    // missing offsets gapfill to carry the curve flat.
    "cohort_ltv" -> ((s, dir) => {
      val wkUs = 604800000000L
      val e = events(s, dir)
        .select(col("user_id"), expr(s"ts_us div $wkUs").as("wk"),
          col("value"))
      val first = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val joined = e.join(first, "user_id")
        .localCheckpoint(false) // reused: cohort sizes + weekly revenue
      val sizes = joined.select("user_id", "cohort_wk").distinct()
        .groupBy("cohort_wk").agg(count(lit(1)).as("n_users"))
      val weekly = joined
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("off"))
        .agg(decSum(col("value")).as("rev"))
      val grid = weekly.groupBy("cohort_wk").agg(max("off").as("mx"))
        .select(col("cohort_wk"), explode(sequence(lit(0L), col("mx")))
          .as("off"))
      val w = Window.partitionBy("cohort_wk").orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(weekly, Seq("cohort_wk", "off"), "left")
        .select(col("cohort_wk"), col("off"),
          coalesce(col("rev"), lit(0.0)).as("rev"))
        .withColumn("cum",
          sum(col("rev").cast(DecimalType(18, 6))).over(w).cast("double"))
        .join(sizes, "cohort_wk")
        .select(col("cohort_wk"), col("off").as("offset_wk"), col("n_users"),
          r6(col("cum") / col("n_users")).as("ltv_per_user"))
        .orderBy("cohort_wk", "offset_wk")
    }),

    // Mann–Kendall trend test (Mann 1945, Kendall 1975) on the daily
    // revenue series: S = Σ_{i<j} sign(x_j − x_i) over all day pairs,
    // variance with the tie correction, continuity-corrected z — the
    // distribution-free monotone-trend detector (the TEST usually
    // paired with theilsen_trend's slope ESTIMATE). The pair join is
    // CALENDAR²-sized (days², independent of fact size — the daily_acf
    // argument taken to all lags), never data-sized; sign sums are
    // exact longs and the variance is closed integer algebra.
    "mann_kendall" -> ((s, dir) => {
      val ser = dailySeries(s, dir)
      val pairs = ser.select(col("day").as("d1"), col("x").as("x1"))
        .join(ser.select(col("day").as("d2"), col("x").as("x2")),
          col("d2") > col("d1"))
        .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s"))
      val ties = ser.groupBy("x").agg(count(lit(1)).as("t"))
        .filter(col("t") > 1L)
        .agg(coalesce(sum(col("t") * (col("t") - 1L) *
          (lit(2L) * col("t") + 5L)), lit(0L)).as("tie_corr"))
      val n = broadcast(ser.agg(count(lit(1)).as("n")))
      pairs.crossJoin(ties).crossJoin(n)
        .withColumn("var_s",
          (col("n").cast("double") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
            col("tie_corr")) / 18.0)
        .select(col("n").as("n_days"), col("s").as("s_stat"),
          r6(col("var_s")).as("var_s"),
          r6(when(col("s") > 0L, (col("s") - 1L) / sqrt(col("var_s")))
            .when(col("s") < 0L, (col("s") + 1L) / sqrt(col("var_s")))
            .otherwise(lit(0.0))).as("z_stat"))
    }),

    // Dickey–Fuller unit-root test (Dickey & Fuller 1979; the non-
    // augmented form): regress Δx_t on a constant and x_{t−1}; the
    // t-statistic of ρ̂ against the −2.86 (5%, constant-only) critical
    // value answers "is this series mean-reverting or a random walk" —
    // the stationarity gate run before trusting any ARMA fit or
    // z-score monitor on the level series. Day-cardinality lag +
    // decimal-exact OLS moments + 6dp-rounded residual terms, exactly
    // durbin_watson's determinism recipe.
    "dickey_fuller" -> ((s, dir) => {
      val w = Window.orderBy("day")
      val d = dailySeries(s, dir)
        .withColumn("z", lag("x", 1).over(w))
        .filter(col("z").isNotNull)
        .select(col("day"), (col("x") - col("z")).as("y"), col("z"))
        .localCheckpoint(false) // reused: moments + residual pass
      val m = broadcast(d.agg(count(lit(1)).as("n"),
        (decSum(col("y")) / count(lit(1))).as("muy"),
        (decSum(col("z")) / count(lit(1))).as("muz")))
      val st = broadcast(d.crossJoin(m).agg(
        decSum(r6((col("z") - col("muz")) * (col("z") - col("muz")))).as("szz"),
        decSum(r6((col("z") - col("muz")) * (col("y") - col("muy")))).as("szy"),
        max("n").as("n"), max("muy").as("muy"), max("muz").as("muz")))
      d.crossJoin(st)
        .withColumn("rho", col("szy") / col("szz"))
        .withColumn("icept", col("muy") - col("rho") * col("muz"))
        .withColumn("e", r6(col("y") - col("icept") - col("rho") * col("z")))
        .groupBy()
        .agg(max("n").as("n_obs"), max("rho").as("rho_raw"),
          max(col("szz")).as("szz2"),
          decSum(r6(col("e") * col("e"))).as("ssr"))
        .select(col("n_obs"), r6(col("rho_raw")).as("rho"),
          r6(col("rho_raw") /
            sqrt(col("ssr") / (col("n_obs") - 2L) / col("szz2")))
            .as("t_stat"))
        .withColumn("reject_unit_root_5pct", col("t_stat") < -2.86)
    }),

    // Fano factor (index of dispersion) of daily event counts per
    // event type: F = Var/Mean of the gapfilled per-day counts — the
    // Poisson-null burstiness gauge (F≈1 Poisson arrivals, F>1
    // bursty/clustered, F<1 regularized) an ingestion monitor reads
    // per stream before alarming on volume spikes. Type×calendar grid
    // (bounded), exact long count moments, closed-form sample variance.
    "fano_factor" -> ((s, dir) => {
      val dayUs = 86400000000L
      val counts = events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // reused: the day bounds + the grid join
      val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .crossJoin(counts.select("event_type").distinct())
      val g = grid.join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").as("s1"),
          sum(col("c") * col("c")).as("s2"))
      g.select(col("event_type"), col("n_days"),
          (col("s1").cast("double") / col("n_days")).as("mean_raw"),
          ((col("s2") - col("s1").cast("double") * col("s1") / col("n_days")) /
            (col("n_days") - 1L)).as("var_raw"))
        .select(col("event_type"), col("n_days"),
          r6(col("mean_raw")).as("mean_count"), r6(col("var_raw")).as("var_count"),
          r6(col("var_raw") / col("mean_raw")).as("fano"),
          (r6(col("var_raw") / col("mean_raw")) > 1.0).as("overdispersed"))
        .orderBy("event_type")
    }),

    // 2×2 cohort-conversion effect sizes: user-level odds ratio and
    // relative risk of being a HEAVY BUYER (purchase share of the
    // user's events ≥ 0.16 — per-user raw conversion is saturated in
    // this data, so the share is the informative outcome) for the
    // even- vs odd-user_id cohort, with the Wald 95% CI on the odds
    // ratio — the epidemiology-grade readout an experiment writes next
    // to prop_ztest's z (which tests EVENT-level rates; this one is
    // per-SUBJECT, the design most A/B analyses actually want). One
    // user-level rollup to a 2×2 (exact longs), closed-form ln/exp
    // algebra under the house floor-round rule; degenerate cells
    // (any zero) null the ratio outputs instead of dividing by zero.
    "odds_ratio" -> ((s, dir) => {
      val u = events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("ne"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"))
        .select((col("user_id") % 2 === 0).cast("long").as("even"),
          when(r6(col("np").cast("double") / col("ne")) >= 0.16, 1L)
            .otherwise(0L).as("conv"))
      val m = u.groupBy()
        .agg(sum(col("even") * col("conv")).as("a"),
          sum(col("even") * (lit(1L) - col("conv"))).as("b"),
          sum((lit(1L) - col("even")) * col("conv")).as("c"),
          sum((lit(1L) - col("even")) * (lit(1L) - col("conv"))).as("d"))
      val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L && col("d") > 0L
      val orRaw = col("a").cast("double") * col("d") /
        (col("b").cast("double") * col("c"))
      val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
        lit(1.0) / col("c") + lit(1.0) / col("d"))
      m.select(col("a"), col("b"), col("c"), col("d"),
        when(ok, r6(orRaw)).as("odds_ratio"),
        when(ok, r6((col("a").cast("double") / (col("a") + col("b"))) /
          (col("c").cast("double") / (col("c") + col("d"))))).as("rel_risk"),
        when(ok, r6(exp(log(orRaw) - lit(1.959964) * se))).as("or_ci_lo"),
        when(ok, r6(exp(log(orRaw) + lit(1.959964) * se))).as("or_ci_hi"))
    }),

    // Ljung–Box portmanteau test (Ljung & Box 1978) on the daily count
    // series: Q = n(n+2)·Σ_{k=1..7} ρ̂k²/(n−k) — "is there ANY serial
    // correlation in the first week of lags", the one-number white-noise
    // gate run on a monitor's residuals before trusting its alerts
    // (daily_acf shows WHERE the correlation is; Ljung–Box says WHETHER
    // it clears significance). All data-sized work is the shared ACF
    // pipeline; the statistic is closed-form algebra on its 7 rows,
    // pivoted to one row so the 7-term sum is written left-associated
    // identically in both engines. n−k = n_pairs(k) on the gapfilled
    // grid by construction; reject at the χ²(7) 95% critical value.
    "ljung_box" -> ((s, dir) => {
      val K = 7
      val aggs =
        (max(when(col("lag_days") === 1, col("n_pairs"))) + 1L).as("n") +:
          (1 to K).flatMap(k => Seq(
            max(when(col("lag_days") === k, col("acf"))).as(s"r$k"),
            max(when(col("lag_days") === k, col("n_pairs"))).as(s"np$k")))
      val sumTerm = (1 to K)
        .map(k => col(s"r$k") * col(s"r$k") / col(s"np$k"))
        .reduce(_ + _)
      dailyAcfFrame(s, dir).groupBy()
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n").as("n_days"), lit(7L).as("df"),
          r6(col("n").cast("double") * (col("n") + 2L) * sumTerm).as("q_stat"))
        .withColumn("reject_95", col("q_stat") > 14.067140)
    }),

    // Durbin–Watson statistic (Durbin & Watson 1950) on the daily
    // revenue series: fit the OLS linear trend x_t = a + b·t, then
    // DW = Σ(e_t−e_{t−1})²/Σe_t² over the residuals — the classic
    // "are the residuals of my trend fit autocorrelated" diagnostic
    // (≈2 = none, →0 = positive, →4 = negative serial correlation).
    // Day-cardinality rollup throughout: decimal-exact moment sums on
    // the gapfilled grid, 6dp-rounded residuals so the lag difference
    // is bit-identical cross-engine, one calendar-sized ordered window.
    "durbin_watson" -> ((s, dir) => {
      val ser = dailySeries(s, dir)
      val m = broadcast(ser.agg(
        min("day").as("d0"), count(lit(1)).as("n"),
        (decSum(col("x")) / count(lit(1))).as("mux")))
      val tser = ser.crossJoin(m)
        .select(col("day"), (col("day") - col("d0")).cast("double").as("t"),
          col("x"), col("n"), col("mux"),
          ((col("n") - 1L).cast("double") / 2.0).as("mut"))
        .localCheckpoint(false) // reused: the moment sums + the residuals
      val st = broadcast(tser.agg(
        decSum(r6((col("t") - col("mut")) * (col("t") - col("mut")))).as("sxx"),
        decSum(r6((col("t") - col("mut")) * (col("x") - col("mux")))).as("sxy")))
      val w = Window.orderBy("day")
      tser.crossJoin(st)
        .withColumn("slope", col("sxy") / col("sxx"))
        .withColumn("icept", col("mux") - col("slope") * col("mut"))
        .withColumn("e", r6(col("x") - col("icept") - col("slope") * col("t")))
        .withColumn("ep", lag("e", 1).over(w))
        .groupBy()
        .agg(max("n").as("n_days"), r6(max("slope")).as("slope"),
          r6(max("icept")).as("intercept"),
          decSum(when(col("ep").isNotNull,
            r6((col("e") - col("ep")) * (col("e") - col("ep"))))).as("num"),
          decSum(r6(col("e") * col("e"))).as("den"))
        .select(col("n_days"), col("slope"), col("intercept"),
          r6(col("num") / col("den")).as("dw_stat"))
    }),

    // Wald–Wolfowitz runs test around the mean on the daily revenue
    // series: count maximal runs of above/below-mean days; under
    // randomness R is ≈ 2·n₁·n₀/n + 1 with known variance, so
    // z = (R−μ_R)/σ_R flags trending (too few runs) or oscillating
    // (too many) regimes — the distribution-free "is this series even
    // random" gate run before any autocorrelation modeling. Mean (not
    // median) centering keeps the threshold decimal-exact cross-engine;
    // one calendar-sized lag window counts the run boundaries.
    "runs_test" -> ((s, dir) => {
      val ser = dailySeries(s, dir)
      val m = broadcast(ser.agg(
        (decSum(col("x")) / count(lit(1))).as("mu")))
      val w = Window.orderBy("day")
      val sgn = ser.crossJoin(m)
        .select(col("day"),
          when(col("x") > col("mu"), 1L).otherwise(0L).as("sg"))
        .withColumn("prev", lag("sg", 1).over(w))
        .withColumn("chg",
          when(col("prev").isNull, 0L)
            .when(col("sg") =!= col("prev"), 1L).otherwise(0L))
      sgn.groupBy()
        .agg(count(lit(1)).as("n"), sum("sg").as("n_above"),
          (count(lit(1)) - sum("sg")).as("n_below"),
          (sum("chg") + 1L).as("runs"))
        .withColumn("mu_r",
          lit(2.0) * col("n_above") * col("n_below") / col("n") + lit(1.0))
        .withColumn("var_r",
          lit(2.0) * col("n_above") * col("n_below") *
            (lit(2.0) * col("n_above") * col("n_below") - col("n")) /
            (col("n").cast("double") * col("n") * (col("n") - 1L)))
        .select(col("n").as("n_days"), col("n_above"), col("n_below"),
          col("runs"),
          when(col("var_r") > 0.0,
            r6((col("runs") - col("mu_r")) / sqrt(col("var_r"))))
            .as("z_stat"))
    }),

    // Forecast-baseline evaluation on the daily revenue series: MAE /
    // RMSE / MAPE of the naive (carry yesterday) and seasonal-naive
    // (carry last week) forecasts — the benchmark row every forecasting
    // effort must beat before a model earns its keep (Hyndman's M-
    // competition convention; seasonal-naive beating naive is also the
    // cheapest weekly-seasonality detector). One calendar-sized window
    // pass computes both lags; per-day error terms 6dp-round before
    // the decimal sums; MAPE skips zero-revenue days by definition.
    "forecast_eval" -> ((s, dir) => {
      val w = Window.orderBy("day")
      val lagged = dailySeries(s, dir)
        .withColumn("f1", lag("x", 1).over(w))
        .withColumn("f7", lag("x", 7).over(w))
      val long = lagged.select(col("x"),
          explode(array(
            struct(lit("naive").as("method"), col("f1").as("f")),
            struct(lit("snaive7").as("method"), col("f7").as("f")))).as("o"))
        .select(col("x"), col("o.method").as("method"), col("o.f").as("f"))
        .filter(col("f").isNotNull)
        .withColumn("e", col("x") - col("f"))
      long.groupBy("method")
        .agg(count(lit(1)).as("n_eval"),
          decSum(r6(abs(col("e")))).as("sae"),
          decSum(r6(col("e") * col("e"))).as("sse"),
          decSum(when(col("x") =!= 0.0,
            r6(abs(col("e")) / abs(col("x"))))).as("sape"),
          sum(when(col("x") =!= 0.0, 1L).otherwise(0L)).as("n_nz"))
        .select(col("method"), col("n_eval"),
          r6(col("sae") / col("n_eval")).as("mae"),
          r6(sqrt(col("sse") / col("n_eval"))).as("rmse"),
          r6(col("sape") / col("n_nz")).as("mape"))
        .orderBy("method")
    }),

    // Grubbs's outlier test (Grubbs 1950) on the daily revenue series:
    // G = max|x−x̄|/s — the single-most-extreme-day statistic an
    // anomaly monitor reports before excising a day from a trend fit
    // (mad_outliers flags MANY robustly; Grubbs formally tests THE
    // worst one against a normal null). Decimal-exact mean and sum of
    // squares on the day-cardinality rollup; the argmax day is the
    // deterministic (G desc, day) head.
    "grubbs_test" -> ((s, dir) => {
      val ser = dailySeries(s, dir)
      val m = broadcast(ser.agg(count(lit(1)).as("n"),
        (decSum(col("x")) / count(lit(1))).as("mu")))
      val dev = ser.crossJoin(m)
        .select(col("day"), col("x"), col("n"),
          (col("x") - col("mu")).as("d"))
        .localCheckpoint(false) // reused: the SS reduce + the argmax scan
      val sd = broadcast(dev.agg(decSum(r6(col("d") * col("d"))).as("ssd")))
      dev.crossJoin(sd)
        .select(col("day").as("outlier_day"), col("x").as("x_value"),
          col("n").as("n_days"),
          r6(abs(col("d")) / sqrt(col("ssd") / (col("n") - 1L))).as("g_stat"))
        .orderBy(desc("g_stat"), col("outlier_day"))
        .limit(1)
    }),

    // Page–Hinkley change detector (Page 1954; the streaming-drift form
    // of cusum_changepoint): m_t = Σ_{i≤t}(x_i − x̄_i) with x̄_i the
    // RUNNING mean — PH_t = m_t − min_{s≤t} m_s rises when the recent
    // level exceeds everything seen so far, the standard concept-drift
    // alarm in online learning (vs CUSUM's fixed full-series mean,
    // PH is computable one-pass online). Every window is over the
    // day-cardinality gapfilled rollup: decimal prefix sums for the
    // running mean and for m_t (per-term 6dp rounds), a prefix MIN,
    // and the deterministic (PH desc, day) head as the alarm point.
    "page_hinkley" -> ((s, dir) => {
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dailySeries(s, dir)
        .withColumn("cum",
          sum(col("x").cast(DecimalType(18, 6))).over(wc).cast("double"))
        .withColumn("t", count(lit(1)).over(wc))
        .withColumn("term", r6(col("x") - col("cum") / col("t")))
        .withColumn("m",
          sum(col("term").cast(DecimalType(18, 6))).over(wc).cast("double"))
        .withColumn("mn", min("m").over(wc))
        .select(col("day").as("alarm_day"), r6(col("m") - col("mn")).as("ph_stat"))
        .orderBy(desc("ph_stat"), col("alarm_day"))
        .limit(1)
    })
  )

  /** The daily-ACF CTE prefix (through table `acf`) shared by the
    * `daily_acf` and `pacf_yule_walker` oracles — mirrors
    * [[dailyAcfFrame]].
    */
  private def sqlDailyAcfCtes: String =
    """c AS (SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      |           FROM events GROUP BY 1),
      |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
      |s AS (SELECT g.day, COALESCE(c.n, 0) AS n FROM g LEFT JOIN c USING (day)),
      |m AS (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu FROM s),
      |d AS (SELECT day, n - mu AS d FROM s, m),
      |den AS (SELECT CAST(SUM(CAST(floor(d * d * 1e6 + 0.5) / 1e6
      |          AS DECIMAL(18,6))) AS DOUBLE) AS den FROM d),
      |l AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag_days),
      |p AS (SELECT l.lag_days, a.d AS d, b.d AS d2
      |      FROM d a CROSS JOIN l JOIN d b ON b.day = a.day + l.lag_days),
      |acf AS MATERIALIZED (
      |  SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |         floor(CAST(SUM(CAST(floor(d * d2 * 1e6 + 0.5) / 1e6
      |             AS DECIMAL(18,6))) AS DOUBLE) / den * 1e6 + 0.5) / 1e6 AS acf
      |  FROM p, den GROUP BY lag_days, den)""".stripMargin

  /** The daily-count ACF table (lag_days, n_pairs, acf) shared by
    * `daily_acf` and `pacf_yule_walker` — gapfilled calendar grid,
    * 6dp-rounded decimal-routed products (see the daily_acf oracle).
    */
  private def dailyAcfFrame(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val counts = events(s, dir)
      .groupBy(expr(s"ts_us div $dayUs").as("day"))
      .agg(count(lit(1)).as("n"))
    val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val series = grid.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .localCheckpoint(false) // tiny; feeds mean, both join sides, denom
    val m = broadcast(series.agg(
      (sum("n").cast("double") / count(lit(1))).as("mu")))
    val dev = series.crossJoin(m)
      .select(col("day"), (col("n") - col("mu")).as("d"))
      .localCheckpoint(false) // both sides of the lag join + denominator
    val den = broadcast(dev.agg(
      decSum(r6(col("d") * col("d"))).as("den")))
    dev.select(explode(sequence(lit(1L), lit(7L))).as("lag_days"),
        col("day"), col("d"))
      .join(dev.select(col("day").as("day2"), col("d").as("d2")),
        col("day2") === col("day") + col("lag_days"))
      .groupBy("lag_days")
      .agg(count(lit(1)).as("n_pairs"),
        decSum(r6(col("d") * col("d2"))).as("num"))
      .crossJoin(den)
      .select(col("lag_days"), col("n_pairs"),
        r6(col("num") / col("den")).as("acf"))
  }

  /** Survival subjects (t_hr, d) shared by `kaplan_meier` and
    * `nelson_aalen`: per signup user, hours from signup to first
    * purchase with d = 1 (event) or to the observation horizon with
    * d = 0 (right-censored). Mirrors the oracles' e/mx/su/fp/subj CTEs
    * ([[sqlSurvivalCtes]]). User-keyed joins/rollups only.
    */
  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val maxTs = broadcast(e.agg(max("ts_us").as("max_us")))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("s_us"))
    val fp = su.join(
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("p_us")),
        Seq("user_id"))
      .filter(col("p_us") > col("s_us"))
      .groupBy("user_id").agg(min("p_us").as("fp_us"))
    su.join(fp, Seq("user_id"), "left").crossJoin(maxTs)
      .select(
        when(col("fp_us").isNotNull,
          expr("(fp_us - s_us) div 3600000000"))
          .otherwise(expr("(max_us - s_us) div 3600000000")).as("t_hr"),
        col("fp_us").isNotNull.cast("long").as("d"))
  }

  /** The survival CTE prefix (through `pre`, which carries the exclusive
    * event/censor prefixes) shared by the `kaplan_meier` and
    * `nelson_aalen` oracles — mirrors [[survivalSubjects]] + the pv/nt
    * rollup + the exclusivePrefix step.
    */
  private def sqlSurvivalCtes: String =
    """e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |mx AS (SELECT MAX(us) AS max_us FROM e),
      |su AS (SELECT user_id, MIN(us) AS s_us FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (SELECT e.user_id, MIN(e.us) AS fp_us
      |       FROM e JOIN su USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.us > su.s_us GROUP BY 1),
      |subj AS (
      |  SELECT CASE WHEN fp.fp_us IS NOT NULL
      |              THEN (fp.fp_us - su.s_us) // 3600000000
      |              ELSE (mx.max_us - su.s_us) // 3600000000 END AS t_hr,
      |         CASE WHEN fp.fp_us IS NOT NULL THEN 1 ELSE 0 END AS d
      |  FROM su LEFT JOIN fp USING (user_id) CROSS JOIN mx),
      |pv AS (SELECT t_hr, CAST(SUM(d) AS BIGINT) AS ev,
      |              CAST(COUNT(*) - SUM(d) AS BIGINT) AS cen
      |       FROM subj GROUP BY 1),
      |nt AS (SELECT CAST(SUM(ev + cen) AS BIGINT) AS n_subj FROM pv),
      |pre AS (
      |  SELECT t_hr, ev, cen,
      |         COALESCE(SUM(ev) OVER (ORDER BY t_hr
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_ev,
      |         COALESCE(SUM(cen) OVER (ORDER BY t_hr
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_cen
      |  FROM pv)""".stripMargin

  /** Gapfilled daily revenue series (day, x) shared by the Box–Jenkins
    * diagnostics family (`durbin_watson` / `runs_test` / `forecast_eval`
    * / `grubbs_test` / `page_hinkley`): per-day decimal-exact value sums
    * on a contiguous calendar grid (missing days read 0.0), local-
    * checkpointed once — day-cardinality at any SF, so every downstream
    * ordered window is calendar-sized (the cumulative_users class).
    * Mirrors [[sqlDailySeriesCtes]] (CTEs c/g/s).
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val counts = events(s, dir)
      .groupBy(expr(s"ts_us div $dayUs").as("day"))
      .agg(decSum(col("value")).as("x"))
    val grid = counts.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0.0)).as("x"))
      .localCheckpoint(false) // tiny; feeds every diagnostic's reuse
  }

  /** The gapfilled daily revenue CTE prefix (through table `s`) shared
    * by the Box–Jenkins diagnostics oracles — mirrors [[dailySeries]].
    */
  private def sqlDailySeriesCtes: String =
    """c AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
      |           FROM events GROUP BY 1),
      |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
      |s AS MATERIALIZED (SELECT g.day, COALESCE(c.x, 0.0) AS x
      |     FROM g LEFT JOIN c USING (day))""".stripMargin

  /** The event-type Markov chain shared by `markov_stationary` and
    * `markov_entropy_rate`: returns (P, π) — the row-normalized
    * transition matrix (src, dst, p) and the 8-round power-iterated,
    * per-round L1-renormalized stationary vector (st, v). TYPE²-sized
    * after the one raw-event lag pass; decimal-routed sums (see the
    * query docs above).
    */
  /** The (transition-counts, row-normalized-P) pair behind the Markov
    * family — `tr` checkpointed (the one raw-event lag pass feeds row
    * totals, P, and the state set), `p` RAW: single-consumer callers
    * (absorbing_time folds it straight into a one-row matrix) must not
    * pay a checkpoint materialization; the round-iterating callers add
    * their own (see markovChain).
    */
  private def markovP(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val tr = events(s, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // reused: row totals, P, state set
    val rowTot = tr.groupBy("src").agg(sum("c").as("rc"))
    val p = tr.join(rowTot, "src")
      .select(col("src"), col("dst"),
        (col("c").cast("double") / col("rc")).as("p"))
    (tr, p)
  }

  private def markovChain(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val iters = 8
    val (_, p) = markovP(s, dir)
    // The power iteration runs inside ONE codegen'd projection over the
    // matrix folded into a single row (StationaryVector — replicates
    // the per-round DECIMAL(28,18) contraction + L1 renormalization
    // bit-for-bit, including the inner-join domain shrink for states
    // with no incoming transitions). The r10 spelling's 8 declarative
    // rounds on the TYPE²-sized frame were pure scheduler overhead —
    // see absorbing_time's comment; the matrix is SF-invariant.
    val v = p
      .agg(collect_list(struct(col("src"), col("dst"), col("p"))).as("pm"))
      .select(explode(graft.functions.StationaryVector
        .stationaryVector(col("pm"), iters)).as("r"))
      .select(col("r.st").as("st"), col("r.v").as("v"))
    (p, v)
  }

  val oracleSql: Map[String, String] = Map(
    "event_props_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "user_prev_event" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       lag(event_id) OVER w AS prev_event_id,
        |       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "asof_prev_purchase" ->
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error'),
        |r AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id, l.us AS ts_us, r.us AS prev_purchase_ts_us,
        |       l.us - r.us AS gap_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
        |ORDER BY l.user_id, ts_us, event_id""".stripMargin,

    "event_funnel" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s1,
        |         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS s2,
        |         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS s3,
        |         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS s4
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT CASE WHEN s1 IS NULL THEN 0
        |              WHEN s2 IS NULL OR s2 <= s1 THEN 1
        |              WHEN s3 IS NULL OR s3 <= s2 THEN 2
        |              WHEN s4 IS NULL OR s4 <= s3 THEN 3
        |              ELSE 4 END AS depth
        |  FROM pu)
        |SELECT COUNT(CASE WHEN depth >= 1 THEN 1 END) AS signup_users,
        |       COUNT(CASE WHEN depth >= 2 THEN 1 END) AS view_users,
        |       COUNT(CASE WHEN depth >= 3 THEN 1 END) AS click_users,
        |       COUNT(CASE WHEN depth >= 4 THEN 1 END) AS purchase_users,
        |       round(CAST(COUNT(CASE WHEN depth >= 4 THEN 1 END) AS DOUBLE) * 100.0
        |             / NULLIF(COUNT(CASE WHEN depth >= 1 THEN 1 END), 0), 4) AS conversion_pct
        |FROM d""".stripMargin,

    "event_transitions" ->
      """WITH l AS (
        |  SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id), '<START>') AS prev_type,
        |         event_type AS next_type
        |  FROM events)
        |SELECT prev_type, next_type, COUNT(*) AS n
        |FROM l
        |GROUP BY prev_type, next_type
        |ORDER BY prev_type, next_type""".stripMargin,

    "user_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 2592000000000 AS period FROM events),
        |c AS (SELECT user_id, MIN(period) AS cohort_period FROM e GROUP BY user_id)
        |SELECT c.cohort_period, e.period,
        |       e.period - c.cohort_period AS periods_since,
        |       COUNT(*) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY c.cohort_period, e.period
        |ORDER BY cohort_period, period""".stripMargin,

    "event_daily_gapfill" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY event_type, day),
        |g AS (
        |  SELECT event_type, unnest(generate_series(MIN(day), MAX(day))) AS day
        |  FROM c GROUP BY event_type)
        |SELECT g.event_type, g.day,
        |       COALESCE(c.n, 0) AS n,
        |       COALESCE(c.total_value, 0.0) AS total_value
        |FROM g LEFT JOIN c ON c.event_type = g.event_type AND c.day = g.day
        |ORDER BY g.event_type, g.day""".stripMargin,

    "winsorize_stats" ->
      """WITH s AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type),
        |e AS (
        |  SELECT events.event_type, value, lo, hi,
        |         least(greatest(value, lo), hi) AS w
        |  FROM events JOIN s USING (event_type))
        |SELECT event_type, MIN(lo) AS lo, MIN(hi) AS hi, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS raw_sum,
        |       CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS win_sum
        |FROM e GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "sliding_window_agg" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
        |w AS (
        |  SELECT event_type, value,
        |         unnest(generate_series((us - 3600000000) // 900000000 + 1,
        |                                us // 900000000)) * 900000000 AS window_start_us
        |  FROM e)
        |SELECT window_start_us, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY window_start_us, event_type
        |ORDER BY window_start_us, event_type""".stripMargin,

    "concurrent_events" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |d AS (
        |  SELECT event_type, us AS t, 1 AS d, event_id FROM e
        |  UNION ALL
        |  SELECT event_type, us + 300000000, -1, event_id FROM e),
        |r AS (
        |  SELECT event_type, d,
        |         CAST(SUM(d) OVER (PARTITION BY event_type
        |                           ORDER BY t, d DESC, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS load
        |  FROM d)
        |SELECT event_type, COUNT(CASE WHEN d = 1 THEN 1 END) AS n_events,
        |       MAX(load) AS max_concurrent
        |FROM r GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, MIN(epoch_us(ts)) // 86400000000 AS day
        |  FROM events GROUP BY user_id),
        |d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day)
        |SELECT day, new_users,
        |       CAST(SUM(new_users) OVER (ORDER BY day
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d
        |ORDER BY day""".stripMargin,

    "burst_collapse" ->
      """WITH l AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_us
        |FROM l
        |WHERE prev_us IS NULL OR ts_us - prev_us > 5000000
        |ORDER BY user_id, event_type, ts_us, event_id""".stripMargin,

    "value_histogram" ->
      """WITH s AS (
        |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       CASE WHEN hi = lo THEN 0
        |            ELSE least(CAST(floor((value - lo) / ((hi - lo) / 10)) AS BIGINT), 9)
        |       END AS b,
        |       COUNT(*) AS n
        |FROM events e JOIN s USING (event_type)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |mad AS (
        |  SELECT events.event_type, MIN(med) AS med,
        |         median(abs(value - med)) AS mad
        |  FROM events JOIN med USING (event_type)
        |  GROUP BY events.event_type)
        |SELECT events.event_type, event_id, value, med, mad
        |FROM events JOIN mad USING (event_type)
        |WHERE abs(value - med) > 4.4478 * mad
        |ORDER BY event_type, event_id""".stripMargin,

    "conversion_window" ->
      s"""WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'signup'),
         |p AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT s.user_id, s.event_id, s.us,
         |         (SELECT MIN(p.us) FROM p
         |          WHERE p.user_id = s.user_id AND p.us >= s.us) AS nxt
         |  FROM s)
         |SELECT user_id, event_id, us AS ts_us, nxt AS next_purchase_ts_us,
         |       nxt - us AS gap_us,
         |       (nxt IS NOT NULL AND nxt - us <= $WeekUs) AS converted
         |FROM j
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "rolling_zscore" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts_us, value,
        |         COUNT(*) OVER w AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(value * value AS DECIMAL(28,8))) OVER w AS DOUBLE) AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_us, value,
        |       n AS n_win,
        |       round(s1 / n, 6) AS mean,
        |       CASE WHEN (s2 - (s1 * s1) / n) / NULLIF(n - 1, 0) > 0
        |            THEN round((value - s1 / n) /
        |                 sqrt((s2 - (s1 * s1) / n) / NULLIF(n - 1, 0)), 6)
        |       END AS z
        |FROM m
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "ewma_value" -> {
      // the same left-fold order as the Scala reduce: (((w0 + w1) + w2)…
      val num = (0 until EwmaDepth).map { i =>
        val v = if (i == 0) "value" else s"lag(value, $i) OVER w"
        s"COALESCE($v * ${ewmaWeightLit(i)}, 0.0)"
      }.mkString(" + ")
      val den = (0 until EwmaDepth).map { i =>
        val v = if (i == 0) "value" else s"lag(value, $i) OVER w"
        s"CASE WHEN $v IS NOT NULL THEN ${ewmaWeightLit(i)} ELSE 0.0 END"
      }.mkString(" + ")
      s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         |       ($num) / ($den) AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         |ORDER BY user_id, ts_us, event_id""".stripMargin
    },

    "equidepth_histogram" ->
      """SELECT event_type, b, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
        |FROM (SELECT event_type, value,
        |             CAST(ntile(8) OVER (PARTITION BY event_type
        |                                 ORDER BY value, event_id) AS BIGINT) AS b
        |      FROM events)
        |GROUP BY event_type, b
        |ORDER BY event_type, b""".stripMargin,

    "event_sessions" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
         |m AS (
         |  SELECT user_id, us, value,
         |         CASE WHEN lag(us) OVER w IS NULL
         |                OR us - lag(us) OVER w >= $GapUs THEN 1 ELSE 0 END AS new_sess
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         |s AS (
         |  SELECT user_id, us, value,
         |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
         |                             ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT MIN(us) AS session_start_us, MAX(us) + $GapUs AS session_end_us,
         |       user_id, COUNT(*) AS n_events,
         |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         |FROM s
         |GROUP BY user_id, sid
         |ORDER BY user_id, session_start_us""".stripMargin,

    "linear_attribution" ->
      s"""WITH c AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS us
         |           FROM events WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, event_type, epoch_us(ts) AS us
         |      FROM events WHERE event_type IN ('click', 'view', 'signup')),
         |j AS (SELECT c.conv_id, t.event_type
         |      FROM c JOIN t ON c.user_id = t.user_id
         |       AND t.us < c.us AND c.us - t.us <= $WeekUs),
         |n AS (SELECT conv_id, event_type,
         |             COUNT(*) OVER (PARTITION BY conv_id) AS n FROM j)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS touches,
         |       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS conversions,
         |       CAST(SUM(CAST(floor(1e6 / n + 0.5) / 1e6 AS DECIMAL(18,6)))
         |            AS DOUBLE) AS credit
         |FROM n GROUP BY event_type ORDER BY event_type""".stripMargin,

    "kaplan_meier" ->
      s"""WITH $sqlSurvivalCtes,
        |km AS (
        |  SELECT t_hr, n_subj - cum_ev - cum_cen AS n_risk, ev, cen,
        |         CASE WHEN n_subj - cum_ev - cum_cen > ev
        |              THEN CAST(floor(ln(1.0 - CAST(ev AS DOUBLE)
        |                     / (n_subj - cum_ev - cum_cen)) * 1e6 + 0.5) / 1e6
        |                   AS DECIMAL(18,6))
        |              ELSE NULL END AS term
        |  FROM pre CROSS JOIN nt
        |  WHERE ev > 0)
        |SELECT t_hr, CAST(n_risk AS BIGINT) AS n_risk, ev, cen,
        |       CASE WHEN term IS NULL THEN NULL  -- d = n: S hits 0, ln −inf
        |            ELSE CAST(SUM(term) OVER (ORDER BY t_hr) AS DOUBLE)
        |       END AS log_surv
        |FROM km ORDER BY t_hr""".stripMargin,

    "nelson_aalen" ->
      s"""WITH $sqlSurvivalCtes,
         |na AS (
         |  SELECT t_hr, n_subj - cum_ev - cum_cen AS n_risk, ev,
         |         CAST(floor(CAST(ev AS DOUBLE)
         |                    / (n_subj - cum_ev - cum_cen) * 1e6 + 5e-1) / 1e6
         |              AS DECIMAL(18,6)) AS term
         |  FROM pre CROSS JOIN nt
         |  WHERE ev > 0),
         |h AS (
         |  SELECT t_hr, CAST(n_risk AS BIGINT) AS n_risk, ev,
         |         CAST(SUM(term) OVER (ORDER BY t_hr) AS DOUBLE) AS na_hazard
         |  FROM na)
         |SELECT t_hr, n_risk, ev, na_hazard,
         |       floor(exp(-na_hazard) * 1e6 + 5e-1) / 1e6 AS surv_fh
         |FROM h ORDER BY t_hr""".stripMargin,

    "psi_drift" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
        |g AS (SELECT MIN(us) AS lo, MAX(us) AS hi,
        |             MIN(value) AS vlo, MAX(value) AS vhi FROM e),
        |binned AS (
        |  SELECT event_type,
        |         CASE WHEN us * 2 < g.lo + g.hi THEN 'a' ELSE 'b' END AS period,
        |         least(9, CASE WHEN g.vhi = g.vlo THEN 0
        |                       ELSE CAST(floor((value - g.vlo) / ((g.vhi - g.vlo) / 10.0)) AS BIGINT) END) AS bin
        |  FROM e CROSS JOIN g),
        |counts AS (SELECT event_type, period, bin, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM binned GROUP BY 1, 2, 3),
        |grid AS (SELECT t.event_type, b.bin
        |         FROM (SELECT DISTINCT event_type FROM events) t
        |         CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b),
        |cells AS (
        |  SELECT grid.event_type, grid.bin,
        |         COALESCE(a.c, 0) AS ca, COALESCE(bb.c, 0) AS cb
        |  FROM grid
        |  LEFT JOIN counts a ON a.event_type = grid.event_type
        |                     AND a.bin = grid.bin AND a.period = 'a'
        |  LEFT JOIN counts bb ON bb.event_type = grid.event_type
        |                      AND bb.bin = grid.bin AND bb.period = 'b'),
        |tot AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
        |               CAST(SUM(cb) AS BIGINT) AS nb FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT cells.event_type,
        |         floor(((cells.ca + 1.0) / (tot.na + 10) - (cells.cb + 1.0) / (tot.nb + 10))
        |               * ln(((cells.ca + 1.0) / (tot.na + 10)) / ((cells.cb + 1.0) / (tot.nb + 10)))
        |               * 1e6 + 0.5) / 1e6 AS term
        |  FROM cells JOIN tot USING (event_type))
        |SELECT event_type, CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS psi
        |FROM terms
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "retention_cohorts" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id)
        |SELECT f.cohort_wk, uw.wk - f.cohort_wk AS offset_wk,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM uw JOIN f USING (user_id)
        |GROUP BY f.cohort_wk, offset_wk
        |ORDER BY cohort_wk, offset_wk""".stripMargin,

    "user_set_jaccard" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY event_type),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, sa.n AS na, sb.n AS nb, i.n_both,
        |       floor(i.n_both / (sa.n + sb.n - i.n_both) * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM inter i
        |JOIN sz sa ON i.type_a = sa.event_type
        |JOIN sz sb ON i.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "event_paths" ->
      """WITH e AS (
        |  SELECT event_type,
        |         lead(event_type, 1) OVER w AS e2,
        |         lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM e
        |WHERE e3 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path
        |LIMIT 10""".stripMargin,

    "bot_gap_profile" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       median(gap_us) AS median_gap_us,
        |       floor(CAST(SUM(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*) * 1e6 + 0.5) / 1e6 AS fast_frac,
        |       (COUNT(*) >= 19 AND
        |        floor(CAST(SUM(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) AS DOUBLE)
        |              / COUNT(*) * 1e6 + 0.5) / 1e6 >= 0.5) AS is_bot
        |FROM g
        |WHERE gap_us IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "daily_acf" ->
      s"""WITH $sqlDailyAcfCtes
         |SELECT lag_days, n_pairs, acf FROM acf ORDER BY lag_days""".stripMargin,

    "pacf_yule_walker" -> {
      val K = 7
      val rcols = (1 to K).map(k =>
        s"MAX(CASE WHEN lag_days = $k THEN acf END) AS r$k").mkString(", ")
      val levels = new StringBuilder(
        s"l1 AS (SELECT *, r1 AS phi_1_1, 1e0 - r1 * r1 AS v_1 FROM base)")
      for (k <- 2 to K) {
        val num = (1 until k).map(j =>
          s"phi_${k - 1}_$j * r${k - j}").mkString(" + ")
        levels.append(s""",
          |l${k}a AS (SELECT *, (r$k - ($num)) / v_${k - 1}
          |           AS phi_${k}_$k FROM l${k - 1}),
          |l$k AS (SELECT *,
          |  ${(1 until k).map(j =>
               s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j} " +
                 s"AS phi_${k}_$j").mkString(",\n  ")},
          |  v_${k - 1} * (1e0 - phi_${k}_$k * phi_${k}_$k) AS v_$k
          |  FROM l${k}a)""".stripMargin)
      }
      val rows = (1 to K).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS lag_days, r$k AS acf,
           |       floor(phi_${k}_$k * 1e6 + 5e-1) / 1e6 AS pacf
           |FROM l$K""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH $sqlDailyAcfCtes,
         |base AS (SELECT $rcols FROM acf),
         |${levels.toString}
         |SELECT * FROM (
         |$rows
         |) ORDER BY lag_days""".stripMargin
    },

    "cusum_changepoint" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS (SELECT g.day, COALESCE(c.x, 0.0) AS x FROM g LEFT JOIN c USING (day)),
        |m AS (SELECT CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
        |             CAST(COUNT(*) AS BIGINT) AS n_days FROM s),
        |cs AS (SELECT day,
        |         CAST(SUM(CAST(floor((x - mu) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)))
        |           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS sgm,
        |         mu, n_days
        |       FROM s, m)
        |SELECT day AS changepoint_day, abs(sgm) AS max_abs_s, mu, n_days
        |FROM cs ORDER BY max_abs_s DESC, changepoint_day LIMIT 1""".stripMargin,

    "seasonal_decompose" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS (SELECT g.day, COALESCE(c.x, 0.0) AS x FROM g LEFT JOIN c USING (day)),
        |tr AS (
        |  SELECT day, x,
        |    COUNT(*) OVER w AS win_n,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) / 7.0 AS trend
        |  FROM s
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (
        |  SELECT day, x, trend,
        |    floor((x - trend) * 1e6 + 0.5) / 1e6 AS detr, day % 7 AS dow
        |  FROM tr WHERE win_n = 7),
        |se AS (
        |  SELECT dow,
        |    CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |      AS seasonal_raw
        |  FROM d GROUP BY dow)
        |SELECT day, x,
        |       floor(trend * 1e6 + 0.5) / 1e6 AS trend,
        |       floor(seasonal_raw * 1e6 + 0.5) / 1e6 AS seasonal,
        |       floor((detr - seasonal_raw) * 1e6 + 0.5) / 1e6 AS resid
        |FROM d JOIN se USING (dow)
        |ORDER BY day""".stripMargin,

    "mann_whitney_u" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value),
        |cum AS (
        |  SELECT ca, cb,
        |    CAST(COALESCE(SUM(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_cb
        |  FROM pv),
        |a AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(2 * ca * cum_cb + ca * cb) AS BIGINT) AS u2,
        |    CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT) AS tie3
        |  FROM cum),
        |b AS (SELECT *, n_a + n_b AS nn FROM a),
        |c AS (SELECT *, CAST(n_a AS DOUBLE) * n_b / 12.0 *
        |        ((nn + 1) - CAST(tie3 AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)))
        |        AS sigma2 FROM b)
        |SELECT n_a, n_b,
        |       CAST(u2 AS DOUBLE) / 2 AS u_a,
        |       CAST(n_a * n_b * 2 - u2 AS DOUBLE) / 2 AS u_b,
        |       floor(CAST(u2 - n_a * n_b AS DOUBLE) / 2 / sqrt(sigma2) * 1e6 + 0.5)
        |         / 1e6 AS z
        |FROM c""".stripMargin,

    "pettitt_test" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |           FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS (SELECT g.day, COALESCE(c.x, 0.0) AS x FROM g LEFT JOIN c USING (day)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM s),
        |r AS (SELECT a.day,
        |        CAST(SUM(CASE WHEN a.x > b.x THEN 1
        |                      WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS r
        |      FROM s a CROSS JOIN s b GROUP BY a.day),
        |u AS (SELECT day,
        |        CAST(SUM(r) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |             AS BIGINT) AS u
        |      FROM r)
        |SELECT day AS changepoint_day, CAST(abs(u) AS BIGINT) AS k_stat, n_days,
        |       floor(2e0 * exp(-(6e0 * u * u /
        |         (CAST(n_days AS DOUBLE) * n_days * n_days +
        |          CAST(n_days AS DOUBLE) * n_days))) * 1e6 + 5e-1) / 1e6
        |         AS p_approx
        |FROM u, n ORDER BY k_stat DESC, changepoint_day LIMIT 1""".stripMargin,

    "event_mutual_info" ->
      """WITH joint AS (
        |  SELECT event_type AS t, (epoch_us(ts) // 3600000000) % 24 AS h,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM joint),
        |ht AS (SELECT CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / nn *
        |         ln(CAST(n AS DOUBLE) / nn)) * 1e8 + 5e-1) / 1e8
        |         AS DECIMAL(18,8))) AS DOUBLE) AS h
        |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS n FROM joint GROUP BY t), nt),
        |hh AS (SELECT CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / nn *
        |         ln(CAST(n AS DOUBLE) / nn)) * 1e8 + 5e-1) / 1e8
        |         AS DECIMAL(18,8))) AS DOUBLE) AS h
        |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS n FROM joint GROUP BY h), nt),
        |hth AS (SELECT CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / nn *
        |          ln(CAST(n AS DOUBLE) / nn)) * 1e8 + 5e-1) / 1e8
        |          AS DECIMAL(18,8))) AS DOUBLE) AS h
        |        FROM joint, nt)
        |SELECT floor(ht.h * 1e6 + 5e-1) / 1e6 AS h_type,
        |       floor(hh.h * 1e6 + 5e-1) / 1e6 AS h_hour,
        |       floor(hth.h * 1e6 + 5e-1) / 1e6 AS h_joint,
        |       floor((ht.h + hh.h - hth.h) * 1e6 + 5e-1) / 1e6 AS mi,
        |       floor((ht.h + hh.h - hth.h) / least(ht.h, hh.h) * 1e6 + 5e-1)
        |         / 1e6 AS nmi
        |FROM ht, hh, hth""".stripMargin,

    "kruskal_wallis" ->
      """WITH pv2 AS (SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
        |             FROM events GROUP BY 1, 2),
        |pvt AS MATERIALIZED (
        |  SELECT value, CAST(COUNT(*) AS BIGINT) AS ct FROM events GROUP BY value),
        |rk AS (
        |  SELECT value,
        |         CAST(COALESCE(SUM(ct) OVER (ORDER BY value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) + (ct + 1) / 2e0 AS avgrank
        |  FROM pvt),
        |rg AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_g,
        |         CAST(SUM(CAST(c * avgrank AS DECIMAL(28,1))) AS DOUBLE) AS r_g
        |  FROM pv2 JOIN rk USING (value) GROUP BY event_type),
        |tie AS (SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS t3,
        |               CAST(SUM(ct) AS BIGINT) AS nn FROM pvt),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |         CAST(SUM(CAST(floor(r_g * r_g / n_g * 1e2 + 5e-1) / 1e2
        |                       AS DECIMAL(38,2))) AS DOUBLE) AS sr
        |  FROM rg),
        |d AS (SELECT k, nn, sr, t3, CAST(nn AS DOUBLE) AS nd FROM agg, tie)
        |SELECT k AS n_groups, nn AS n_total,
        |       floor((12e0 / (nd * (nd + 1)) * sr - 3e0 * (nd + 1))
        |             * 1e6 + 5e-1) / 1e6 AS h_stat,
        |       floor((12e0 / (nd * (nd + 1)) * sr - 3e0 * (nd + 1)) /
        |             (1e0 - CAST(t3 AS DOUBLE) / (nd * nd * nd - nd))
        |             * 1e6 + 5e-1) / 1e6 AS h_corrected
        |FROM d""".stripMargin,

    "log_rank_test" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |mx AS (SELECT MAX(us) AS max_us FROM e),
        |su AS (SELECT user_id, MIN(us) AS s_us FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(e.us) AS fp_us
        |       FROM e JOIN su USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > su.s_us GROUP BY 1),
        |subj AS (
        |  SELECT CASE WHEN su.user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
        |         CASE WHEN fp.fp_us IS NOT NULL
        |              THEN (fp.fp_us - su.s_us) // 3600000000
        |              ELSE (mx.max_us - su.s_us) // 3600000000 END AS t_hr,
        |         CASE WHEN fp.fp_us IS NOT NULL THEN 1 ELSE 0 END AS d
        |  FROM su LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |pv AS (SELECT t_hr,
        |         CAST(SUM(g1 * d) AS BIGINT) AS ev1,
        |         CAST(SUM(g1 * (1 - d)) AS BIGINT) AS cen1,
        |         CAST(SUM((1 - g1) * d) AS BIGINT) AS ev2,
        |         CAST(SUM((1 - g1) * (1 - d)) AS BIGINT) AS cen2
        |       FROM subj GROUP BY 1),
        |nt AS (SELECT CAST(SUM(ev1 + cen1) AS BIGINT) AS ns1,
        |              CAST(SUM(ev2 + cen2) AS BIGINT) AS ns2 FROM pv),
        |pre AS (
        |  SELECT t_hr, ev1, ev2,
        |    ns1 - COALESCE(SUM(ev1) OVER w, 0)
        |        - COALESCE(SUM(cen1) OVER w, 0) AS n1,
        |    ns2 - COALESCE(SUM(ev2) OVER w, 0)
        |        - COALESCE(SUM(cen2) OVER w, 0) AS n2
        |  FROM pv CROSS JOIN nt
        |  WINDOW w AS (ORDER BY t_hr ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND 1 PRECEDING)),
        |t AS (
        |  SELECT ev1, CAST(n1 AS DOUBLE) AS n1, CAST(n2 AS DOUBLE) AS n2,
        |         CAST(ev1 + ev2 AS DOUBLE) AS d
        |  FROM pre WHERE ev1 + ev2 > 0 AND n1 + n2 > 1),
        |tm AS (
        |  SELECT ev1,
        |    CAST(floor(d * (n1 / (n1 + n2)) * 1e6 + 5e-1) / 1e6
        |         AS DECIMAL(18,6)) AS e1,
        |    CAST(floor(d * (n1 / (n1 + n2)) * (n2 / (n1 + n2))
        |               * ((n1 + n2) - d) / ((n1 + n2) - 1) * 1e6 + 5e-1) / 1e6
        |         AS DECIMAL(18,6)) AS v
        |  FROM t),
        |a AS (SELECT CAST(SUM(ev1) AS BIGINT) AS o1,
        |             CAST(SUM(e1) AS DOUBLE) AS e1,
        |             CAST(SUM(v) AS DOUBLE) AS v FROM tm)
        |SELECT o1, floor(e1 * 1e6 + 5e-1) / 1e6 AS e1,
        |       floor((o1 - e1) * (o1 - e1) / v * 1e6 + 5e-1) / 1e6 AS chi2
        |FROM a""".stripMargin,

    "decision_stump" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS c0
        |  FROM events GROUP BY value),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
        |               CAST(SUM(c0) AS BIGINT) AS t0 FROM pv),
        |cum AS (
        |  SELECT value, c1, c0,
        |    CAST(COALESCE(SUM(c1) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_c1,
        |    CAST(COALESCE(SUM(c0) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_c0
        |  FROM pv),
        |sp AS (
        |  SELECT value, cum_c1 + c1 AS l1, cum_c0 + c0 AS l0,
        |         t1 - (cum_c1 + c1) AS r1, t0 - (cum_c0 + c0) AS r0,
        |         t1, t0
        |  FROM cum CROSS JOIN tot),
        |d AS (
        |  SELECT value, l1, l0, r1, r0,
        |         CAST(l1 + l0 AS DOUBLE) AS nl, CAST(r1 + r0 AS DOUBLE) AS nr,
        |         CAST(t1 + t0 AS DOUBLE) AS nn
        |  FROM sp WHERE r1 + r0 > 0),
        |g AS (
        |  SELECT value AS threshold, l1 + l0 AS n_left, r1 + r0 AS n_right,
        |         (nl * (1e0 - ((l1 / nl) * (l1 / nl) + (l0 / nl) * (l0 / nl)))
        |          + nr * (1e0 - ((r1 / nr) * (r1 / nr) + (r0 / nr) * (r0 / nr))))
        |         / nn AS g
        |  FROM d)
        |SELECT threshold, CAST(n_left AS BIGINT) AS n_left,
        |       CAST(n_right AS BIGINT) AS n_right,
        |       floor(g * 1e6 + 5e-1) / 1e6 AS gini_split
        |FROM g ORDER BY g, threshold LIMIT 1""".stripMargin,

    "prop_ztest" ->
      """WITH m AS (
        |  SELECT SUM(g1) AS n1, SUM(1 - g1) AS n2,
        |         SUM(g1 * conv) AS x1, SUM((1 - g1) * conv) AS x2
        |  FROM (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
        |               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        |        FROM events)),
        |d AS (
        |  SELECT n1, n2, x1, x2,
        |         CAST(x1 AS DOUBLE) / n1 AS p1,
        |         CAST(x2 AS DOUBLE) / n2 AS p2,
        |         CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
        |  FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       CAST(x1 AS BIGINT) AS x1, CAST(x2 AS BIGINT) AS x2,
        |       floor(p1 * 1e6 + 5e-1) / 1e6 AS rate_a,
        |       floor(p2 * 1e6 + 5e-1) / 1e6 AS rate_b,
        |       floor((p1 - p2) / sqrt(pp * (1e0 - pp) *
        |             (1e0 / n1 + 1e0 / n2)) * 1e6 + 5e-1) / 1e6 AS z_stat
        |FROM d""".stripMargin,

    "markov_stationary" ->
      s"""WITH $sqlMarkovChain
         |SELECT st AS event_type, floor(v * 1e8 + 5e-1) / 1e8 AS p_stationary
         |FROM v8 ORDER BY event_type""".stripMargin,

    "markov_entropy_rate" ->
      s"""WITH $sqlMarkovChain,
         |h AS (
         |  SELECT src, CAST(SUM(CAST(floor(-(p * ln(p)) * 1e8 + 5e-1) / 1e8
         |                            AS DECIMAL(18,8))) AS DOUBLE) AS h
         |  FROM p GROUP BY src),
         |wt AS (
         |  SELECT CAST(floor(v8.v * h.h * 1e8 + 5e-1) / 1e8
         |              AS DECIMAL(18,8)) AS w
         |  FROM h JOIN v8 ON v8.st = h.src),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_states,
         |             CAST(SUM(w) AS DOUBLE) AS hr FROM wt)
         |SELECT n_states, floor(hr * 1e6 + 5e-1) / 1e6 AS entropy_rate,
         |       floor(exp(hr) * 1e6 + 5e-1) / 1e6 AS perplexity
         |FROM a""".stripMargin,

    "absorbing_time" -> {
      val rounds = (1 to 16).map { i =>
        s"""m$i AS (SELECT q.src AS st,
           |          CAST(SUM(CAST(q.p * x${i - 1}.x AS DECIMAL(28,18)))
           |               AS DOUBLE) AS qx
           |        FROM q JOIN x${i - 1} ON x${i - 1}.st = q.dst
           |        GROUP BY q.src),
           |x$i AS MATERIALIZED (
           |  SELECT sts.st, 1e0 + COALESCE(m$i.qx, 0e0) AS x
           |  FROM sts LEFT JOIN m$i ON m$i.st = sts.st)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlMarkovChain,
         |q AS MATERIALIZED (
         |  SELECT src, dst, p FROM p
         |  WHERE src <> 'purchase' AND dst <> 'purchase'),
         |sts AS (SELECT DISTINCT src AS st FROM q),
         |x0 AS (SELECT st, 1e0 AS x FROM sts),
         |$rounds
         |SELECT st AS event_type,
         |       floor(x * 1e6 + 5e-1) / 1e6 AS exp_steps_to_purchase
         |FROM x16 ORDER BY event_type""".stripMargin
    },

    "daily_ccf" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS a,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS b
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS MATERIALIZED (
        |  SELECT g.day, COALESCE(c.a, 0) AS a, COALESCE(c.b, 0.0) AS b
        |  FROM g LEFT JOIN c USING (day)),
        |m AS (SELECT CAST(SUM(a) AS DOUBLE) / COUNT(*) AS mua,
        |             CAST(SUM(CAST(b AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mub
        |      FROM s),
        |dv AS MATERIALIZED (
        |  SELECT day, a - mua AS da, b - mub AS db FROM s, m),
        |den AS (
        |  SELECT CAST(SUM(CAST(floor(da * da * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS dena,
        |         CAST(SUM(CAST(floor(db * db * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS denb
        |  FROM dv),
        |l AS (SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag_days),
        |p AS (SELECT l.lag_days, x.da, y.db AS db2
        |      FROM dv x CROSS JOIN l
        |      JOIN dv y ON y.day = x.day + l.lag_days)
        |SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       floor(CAST(SUM(CAST(floor(da * db2 * 1e6 + 5e-1) / 1e6
        |                          AS DECIMAL(18,6))) AS DOUBLE)
        |             / (sqrt(dena) * sqrt(denb)) * 1e6 + 5e-1) / 1e6 AS ccf
        |FROM p, den GROUP BY lag_days, dena, denb
        |ORDER BY lag_days""".stripMargin,

    "granger_lag1" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS a,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS b
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |s AS MATERIALIZED (
        |  SELECT g.day, COALESCE(c.a, 0) AS a, COALESCE(c.b, 0.0) AS b
        |  FROM g LEFT JOIN c USING (day)),
        |tri AS MATERIALIZED (
        |  SELECT cur.b AS y, prev.b AS z, CAST(prev.a AS DOUBLE) AS w
        |  FROM s prev JOIN s cur ON cur.day = prev.day + 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS muy,
        |             CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS muz,
        |             CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS muw
        |      FROM tri),
        |dv AS (SELECT y - muy AS dy, z - muz AS dz, w - muw AS dw FROM tri, m),
        |sums AS (
        |  SELECT (SELECT n FROM m) AS n,
        |         CAST(SUM(CAST(floor(dy * dy * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(floor(dz * dz * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS szz,
        |         CAST(SUM(CAST(floor(dw * dw * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS sww,
        |         CAST(SUM(CAST(floor(dz * dy * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS szy,
        |         CAST(SUM(CAST(floor(dw * dy * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS swy,
        |         CAST(SUM(CAST(floor(dz * dw * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) AS szw
        |  FROM dv),
        |coef AS (
        |  SELECT n, syy, szy, swy, szz,
        |         (szy * sww - swy * szw) / nullif(szz * sww - szw * szw, 0) AS b2,
        |         (swy * szz - szy * szw) / nullif(szz * sww - szw * szw, 0) AS c2
        |  FROM sums),
        |sse AS (
        |  SELECT n, szz, szy, b2, c2,
        |         syy - szy * szy / nullif(szz, 0) AS sser,
        |         syy - b2 * szy - c2 * swy AS sseu
        |  FROM coef)
        |SELECT n AS n_days,
        |       floor(szy / nullif(szz, 0) * 1e6 + 5e-1) / 1e6 AS beta_restricted,
        |       floor(b2 * 1e6 + 5e-1) / 1e6 AS beta_lag_y,
        |       floor(c2 * 1e6 + 5e-1) / 1e6 AS beta_lag_x,
        |       floor(sser * 1e2 + 5e-1) / 1e2 AS sse_r,
        |       floor(sseu * 1e2 + 5e-1) / 1e2 AS sse_u,
        |       floor((sser - sseu) / (nullif(sseu, 0) / nullif(n - 3, 0))
        |             * 1e6 + 5e-1) / 1e6 AS f_stat
        |FROM sse""".stripMargin,

    "decayed_user_value" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
         |  FROM events),
         |mx AS (SELECT MAX(day) AS d1 FROM ev),
         |terms AS (
         |  SELECT user_id,
         |         CAST(floor(value * exp(-$DecayLambda * CAST(d1 - day AS DOUBLE))
         |                    * 1e6 + 5e-1) / 1e6 AS DECIMAL(18,6)) AS t
         |  FROM ev, mx)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |       floor(CAST(SUM(t) AS DOUBLE) * 1e6 + 5e-1) / 1e6 AS decayed_value
         |FROM terms GROUP BY user_id
         |ORDER BY decayed_value DESC, user_id LIMIT 100""".stripMargin,

    "extreme_value_fit" ->
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        |  FROM events GROUP BY 1),
        |bm AS MATERIALIZED (
        |  SELECT day // 7 AS m, MAX(x) AS bx
        |  FROM d GROUP BY 1),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(CAST(bx AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
        |        FROM bm),
        |st AS (
        |  SELECT MAX(n) AS n_blocks, MAX(mu) AS xbar,
        |         CAST(SUM(CAST(floor((bx - mu) * (bx - mu) * 1e6 + 5e-1) / 1e6
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS ss
        |  FROM bm, mom),
        |f AS (
        |  SELECT n_blocks, xbar,
        |         sqrt(ss / (n_blocks - 1)) * sqrt(6e0) / 3.1415926536 AS sig
        |  FROM st),
        |f2 AS (SELECT n_blocks, xbar, sig,
        |              xbar - 0.5772156649 * sig AS muh
        |       FROM f)
        |SELECT n_blocks, floor(xbar * 1e2 + 5e-1) / 1e2 AS mean_max,
        |       floor(sig * 1e2 + 5e-1) / 1e2 AS sigma_hat,
        |       floor(muh * 1e2 + 5e-1) / 1e2 AS mu_hat,
        |       floor((muh - sig * ln(-ln(1e0 - 1e0 / 12e0))) * 1e2 + 5e-1) / 1e2
        |         AS return_level_12
        |FROM f2""".stripMargin,

    "cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk, value
        |           FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
        |j AS MATERIALIZED (
        |  SELECT e.user_id, e.wk, e.value, fw.cohort_wk
        |  FROM e JOIN fw USING (user_id)),
        |sz AS (SELECT cohort_wk, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |              AS n_users
        |       FROM j GROUP BY 1),
        |wv AS (SELECT cohort_wk, wk - cohort_wk AS off,
        |              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |       FROM j GROUP BY 1, 2),
        |gr AS (SELECT cohort_wk, unnest(generate_series(0, MAX(off))) AS off
        |       FROM wv GROUP BY cohort_wk),
        |fl AS (SELECT gr.cohort_wk, gr.off, COALESCE(wv.rev, 0.0) AS rev
        |       FROM gr LEFT JOIN wv USING (cohort_wk, off)),
        |cm AS (
        |  SELECT cohort_wk, off,
        |         CAST(SUM(CAST(rev AS DECIMAL(18,6)))
        |              OVER (PARTITION BY cohort_wk ORDER BY off
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
        |  FROM fl)
        |SELECT cm.cohort_wk, CAST(cm.off AS BIGINT) AS offset_wk, sz.n_users,
        |       floor(cm.cum / sz.n_users * 1e6 + 5e-1) / 1e6 AS ltv_per_user
        |FROM cm JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, offset_wk""".stripMargin,

    "mann_kendall" ->
      s"""WITH $sqlDailySeriesCtes,
         |p AS (SELECT CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
         |      FROM s a JOIN s b ON b.day > a.day),
         |tc AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
         |               AS tie_corr
         |       FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM s GROUP BY x)
         |       WHERE t > 1),
         |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
         |v AS (SELECT s, tie_corr, n,
         |        (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_corr) / 18e0
         |          AS var_s
         |      FROM p, tc, n1)
         |SELECT n AS n_days, s AS s_stat,
         |       floor(var_s * 1e6 + 5e-1) / 1e6 AS var_s,
         |       floor(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
         |                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
         |                  ELSE 0e0 END * 1e6 + 5e-1) / 1e6 AS z_stat
         |FROM v""".stripMargin,

    "dickey_fuller" ->
      s"""WITH $sqlDailySeriesCtes,
         |l AS (SELECT day, x - lag(x) OVER (ORDER BY day) AS y,
         |             lag(x) OVER (ORDER BY day) AS z
         |      FROM s),
         |d AS MATERIALIZED (SELECT day, y, z FROM l WHERE z IS NOT NULL),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS muy,
         |        CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS muz
         |      FROM d),
         |st AS (
         |  SELECT CAST(SUM(CAST(floor((z - muz) * (z - muz) * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS szz,
         |         CAST(SUM(CAST(floor((z - muz) * (y - muy) * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS szy,
         |         MAX(n) AS n, MAX(muy) AS muy, MAX(muz) AS muz
         |  FROM d, m),
         |fit AS (SELECT d.*, st.n, szz, szy / szz AS rho,
         |               muy - szy / szz * muz AS icept
         |        FROM d, st),
         |res AS (SELECT n, rho, szz,
         |          floor((y - icept - rho * z) * 1e6 + 5e-1) / 1e6 AS e
         |        FROM fit),
         |a AS (SELECT MAX(n) AS n_obs, MAX(rho) AS rho_raw, MAX(szz) AS szz2,
         |        CAST(SUM(CAST(floor(e * e * 1e6 + 5e-1) / 1e6
         |                      AS DECIMAL(18,6))) AS DOUBLE) AS ssr
         |      FROM res),
         |f AS (SELECT n_obs, floor(rho_raw * 1e6 + 5e-1) / 1e6 AS rho,
         |        floor(rho_raw / sqrt(ssr / (n_obs - 2) / szz2) * 1e6 + 5e-1)
         |          / 1e6 AS t_stat
         |      FROM a)
         |SELECT n_obs, rho, t_stat, t_stat < -2.86 AS reject_unit_root_5pct
         |FROM f""".stripMargin,

    "fano_factor" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |gd AS (SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM c),
        |et AS (SELECT DISTINCT event_type FROM c),
        |g AS (
        |  SELECT et.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(COALESCE(c.c, 0)) AS BIGINT) AS s1,
        |         CAST(SUM(COALESCE(c.c, 0) * COALESCE(c.c, 0)) AS BIGINT) AS s2
        |  FROM gd CROSS JOIN et
        |  LEFT JOIN c ON c.event_type = et.event_type AND c.day = gd.day
        |  GROUP BY et.event_type),
        |r AS (
        |  SELECT event_type, n_days,
        |         CAST(s1 AS DOUBLE) / n_days AS mean_raw,
        |         (s2 - CAST(s1 AS DOUBLE) * s1 / n_days) / (n_days - 1) AS var_raw
        |  FROM g)
        |SELECT event_type, n_days,
        |       floor(mean_raw * 1e6 + 5e-1) / 1e6 AS mean_count,
        |       floor(var_raw * 1e6 + 5e-1) / 1e6 AS var_count,
        |       floor(var_raw / mean_raw * 1e6 + 5e-1) / 1e6 AS fano,
        |       floor(var_raw / mean_raw * 1e6 + 5e-1) / 1e6 > 1e0 AS overdispersed
        |FROM r ORDER BY event_type""".stripMargin,

    "odds_ratio" ->
      """WITH u AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS even,
        |         CASE WHEN floor(CAST(SUM(CASE WHEN event_type = 'purchase'
        |                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |                    * 1e6 + 5e-1) / 1e6 >= 0.16
        |              THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(SUM(even * conv) AS BIGINT) AS a,
        |         CAST(SUM(even * (1 - conv)) AS BIGINT) AS b,
        |         CAST(SUM((1 - even) * conv) AS BIGINT) AS c,
        |         CAST(SUM((1 - even) * (1 - conv)) AS BIGINT) AS d
        |  FROM u),
        |x AS (
        |  SELECT *,
        |         (a > 0 AND b > 0 AND c > 0 AND d > 0) AS ok,
        |         CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) AS orr,
        |         sqrt(1e0 / a + 1e0 / b + 1e0 / c + 1e0 / d) AS se
        |  FROM m)
        |SELECT a, b, c, d,
        |       CASE WHEN ok THEN floor(orr * 1e6 + 5e-1) / 1e6 END AS odds_ratio,
        |       CASE WHEN ok THEN
        |         floor((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d))
        |               * 1e6 + 5e-1) / 1e6 END AS rel_risk,
        |       CASE WHEN ok THEN
        |         floor(exp(ln(orr) - 1.959964 * se) * 1e6 + 5e-1) / 1e6
        |       END AS or_ci_lo,
        |       CASE WHEN ok THEN
        |         floor(exp(ln(orr) + 1.959964 * se) * 1e6 + 5e-1) / 1e6
        |       END AS or_ci_hi
        |FROM x""".stripMargin,

    "ljung_box" -> {
      val K = 7
      val pivots = ((1 to K).map(k =>
        s"MAX(CASE WHEN lag_days = $k THEN acf END) AS r$k") ++
        (1 to K).map(k =>
          s"MAX(CASE WHEN lag_days = $k THEN n_pairs END) AS np$k"))
        .mkString(",\n       ")
      val sumTerm = (1 to K).map(k => s"r$k * r$k / np$k").mkString(" + ")
      s"""WITH $sqlDailyAcfCtes,
         |base AS (SELECT MAX(CASE WHEN lag_days = 1 THEN n_pairs END) + 1 AS n,
         |       $pivots
         |FROM acf)
         |SELECT CAST(n AS BIGINT) AS n_days, CAST(7 AS BIGINT) AS df,
         |       floor(CAST(n AS DOUBLE) * (n + 2) * ($sumTerm) * 1e6 + 5e-1)
         |         / 1e6 AS q_stat,
         |       floor(CAST(n AS DOUBLE) * (n + 2) * ($sumTerm) * 1e6 + 5e-1)
         |         / 1e6 > 14.067140 AS reject_95
         |FROM base""".stripMargin
    },

    "durbin_watson" ->
      s"""WITH $sqlDailySeriesCtes,
         |m AS (SELECT MIN(day) AS d0, CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mux
         |      FROM s),
         |ts AS MATERIALIZED (
         |  SELECT day, CAST(day - d0 AS DOUBLE) AS t, x, n, mux,
         |         CAST(n - 1 AS DOUBLE) / 2e0 AS mut
         |  FROM s, m),
         |st AS (
         |  SELECT CAST(SUM(CAST(floor((t - mut) * (t - mut) * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(floor((t - mut) * (x - mux) * 1e6 + 5e-1) / 1e6
         |                       AS DECIMAL(18,6))) AS DOUBLE) AS sxy
         |  FROM ts),
         |fit AS (SELECT ts.*, sxy / sxx AS slope,
         |               mux - sxy / sxx * mut AS icept
         |        FROM ts, st),
         |res AS (SELECT day, n, slope, icept,
         |          floor((x - icept - slope * t) * 1e6 + 5e-1) / 1e6 AS e
         |        FROM fit),
         |lg AS (SELECT n, slope, icept, e,
         |         lag(e) OVER (ORDER BY day) AS ep
         |       FROM res)
         |SELECT MAX(n) AS n_days,
         |       floor(MAX(slope) * 1e6 + 5e-1) / 1e6 AS slope,
         |       floor(MAX(icept) * 1e6 + 5e-1) / 1e6 AS intercept,
         |       floor(CAST(SUM(CASE WHEN ep IS NOT NULL THEN
         |               CAST(floor((e - ep) * (e - ep) * 1e6 + 5e-1) / 1e6
         |                    AS DECIMAL(18,6)) END) AS DOUBLE)
         |             / CAST(SUM(CAST(floor(e * e * 1e6 + 5e-1) / 1e6
         |                            AS DECIMAL(18,6))) AS DOUBLE)
         |             * 1e6 + 5e-1) / 1e6 AS dw_stat
         |FROM lg""".stripMargin,

    "runs_test" ->
      s"""WITH $sqlDailySeriesCtes,
         |m AS (SELECT CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
         |      FROM s),
         |sg AS (SELECT day, CASE WHEN x > mu THEN 1 ELSE 0 END AS sg FROM s, m),
         |ch AS (SELECT sg, CASE WHEN lag(sg) OVER (ORDER BY day) IS NULL THEN 0
         |                       WHEN sg <> lag(sg) OVER (ORDER BY day) THEN 1
         |                       ELSE 0 END AS chg
         |       FROM sg),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |               CAST(SUM(sg) AS BIGINT) AS n_above,
         |               CAST(COUNT(*) - SUM(sg) AS BIGINT) AS n_below,
         |               CAST(SUM(chg) + 1 AS BIGINT) AS runs
         |        FROM ch),
         |z AS (SELECT *,
         |        2e0 * n_above * n_below / n + 1e0 AS mu_r,
         |        2e0 * n_above * n_below * (2e0 * n_above * n_below - n) /
         |          (CAST(n AS DOUBLE) * n * (n - 1)) AS var_r
         |      FROM agg)
         |SELECT n AS n_days, n_above, n_below, runs,
         |       CASE WHEN var_r > 0e0 THEN
         |         floor((runs - mu_r) / sqrt(var_r) * 1e6 + 5e-1) / 1e6
         |       END AS z_stat
         |FROM z""".stripMargin,

    "forecast_eval" ->
      s"""WITH $sqlDailySeriesCtes,
         |l AS (SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS f1,
         |             lag(x, 7) OVER (ORDER BY day) AS f7
         |      FROM s),
         |u AS (SELECT 'naive' AS method, x, f1 AS f FROM l
         |      UNION ALL SELECT 'snaive7' AS method, x, f7 AS f FROM l),
         |e AS (SELECT method, x, x - f AS e FROM u WHERE f IS NOT NULL),
         |a AS (SELECT method, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |        CAST(SUM(CAST(floor(abs(e) * 1e6 + 5e-1) / 1e6
         |                      AS DECIMAL(18,6))) AS DOUBLE) AS sae,
         |        CAST(SUM(CAST(floor(e * e * 1e6 + 5e-1) / 1e6
         |                      AS DECIMAL(18,6))) AS DOUBLE) AS sse,
         |        CAST(SUM(CASE WHEN x <> 0e0 THEN
         |            CAST(floor(abs(e) / abs(x) * 1e6 + 5e-1) / 1e6
         |                 AS DECIMAL(18,6)) END) AS DOUBLE) AS sape,
         |        CAST(SUM(CASE WHEN x <> 0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nz
         |      FROM e GROUP BY method)
         |SELECT method, n_eval,
         |       floor(sae / n_eval * 1e6 + 5e-1) / 1e6 AS mae,
         |       floor(sqrt(sse / n_eval) * 1e6 + 5e-1) / 1e6 AS rmse,
         |       floor(sape / n_nz * 1e6 + 5e-1) / 1e6 AS mape
         |FROM a ORDER BY method""".stripMargin,

    "grubbs_test" ->
      s"""WITH $sqlDailySeriesCtes,
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
         |      FROM s),
         |dev AS MATERIALIZED (SELECT day, x, n, x - mu AS d FROM s, m),
         |sd AS (SELECT CAST(SUM(CAST(floor(d * d * 1e6 + 5e-1) / 1e6
         |                            AS DECIMAL(18,6))) AS DOUBLE) AS ssd
         |       FROM dev)
         |SELECT day AS outlier_day, x AS x_value, n AS n_days,
         |       floor(abs(d) / sqrt(ssd / (n - 1)) * 1e6 + 5e-1) / 1e6 AS g_stat
         |FROM dev, sd
         |ORDER BY g_stat DESC, outlier_day LIMIT 1""".stripMargin,

    "page_hinkley" ->
      s"""WITH $sqlDailySeriesCtes,
         |r1 AS (SELECT day, x,
         |         CAST(SUM(CAST(x AS DECIMAL(18,6)))
         |              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
         |         COUNT(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS t
         |       FROM s),
         |r2 AS (SELECT day, floor((x - cum / t) * 1e6 + 5e-1) / 1e6 AS term
         |       FROM r1),
         |r3 AS (SELECT day,
         |         CAST(SUM(CAST(term AS DECIMAL(18,6)))
         |              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS m
         |       FROM r2),
         |r4 AS (SELECT day,
         |         m - MIN(m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ph
         |       FROM r3)
         |SELECT day AS alarm_day, floor(ph * 1e6 + 5e-1) / 1e6 AS ph_stat
         |FROM r4 ORDER BY ph_stat DESC, alarm_day LIMIT 1""".stripMargin
  )

  /** The markov-chain CTE prefix (through `p` and `v8`) shared by the
    * `markov_stationary` and `markov_entropy_rate` oracles — mirrors
    * [[markovChain]] round for round.
    */
  private def sqlMarkovChain: String = {
    val rounds = (1 to 8).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT p.dst AS st,
         |         CAST(SUM(CAST(v${i - 1}.v * p.p AS DECIMAL(28,18)))
         |              AS DOUBLE) AS vr
         |  FROM p JOIN v${i - 1} ON p.src = v${i - 1}.st GROUP BY p.dst),
         |v$i AS MATERIALIZED (
         |  SELECT st, vr / (SELECT CAST(SUM(CAST(vr AS DECIMAL(28,18)))
         |                               AS DOUBLE) FROM r$i) AS v
         |  FROM r$i)""".stripMargin
    }.mkString(",\n")
    s"""l AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS src,
       |         event_type AS dst
       |  FROM events),
       |tr AS MATERIALIZED (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM l WHERE src IS NOT NULL GROUP BY src, dst),
       |rt AS (SELECT src, SUM(c) AS rc FROM tr GROUP BY src),
       |p AS MATERIALIZED (
       |  SELECT tr.src, tr.dst, CAST(tr.c AS DOUBLE) / rc AS p
       |  FROM tr JOIN rt USING (src)),
       |st AS (SELECT DISTINCT st FROM
       |        (SELECT src AS st FROM tr UNION ALL SELECT dst FROM tr)),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM st),
       |v0 AS (SELECT st, 1e0 / k AS v FROM st, k),
       |$rounds""".stripMargin
  }
}
