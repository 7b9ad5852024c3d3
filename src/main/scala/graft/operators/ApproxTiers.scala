package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryHelpers.{decSum, t}

/** The 100 TB tier of the four profiling/robust-stats queries whose exact
  * registered forms buffer values or Expand rows: callable code, not a
  * comment (same two-tier contract as [[graft.llm.CorpusStats]] — the
  * exact tier stays registered because it is bit-reproducible against the
  * DuckDB oracle; these approximate siblings trade oracle-exactness for
  * constant memory per group and are spec-bounded against the exact tier
  * in ApproxTiersSpec instead).
  *
  * Why each exact form does not survive 100 TB:
  *  - table_profile: N-column exact count_distinct compiles to an Expand
  *    (N x shuffle rows); HLL sketches aggregate in one pass, no Expand.
  *  - median_mode: exact percentile buffers every group value in the agg
  *    buffer; approx_percentile keeps a bounded quantile summary.
  *  - equidepth_histogram: ntile sorts each event_type's WHOLE history in
  *    one partition; approx edges + per-row binning never sort, never
  *    window.
  *  - winsorize_stats: exact p05/p95 buffer per-group values; the approx
  *    band keeps the same clamp/sum semantics with sketch memory.
  */
object ApproxTiers {

  /** One-pass column profiler with HLL cardinalities (no Expand): null
    * count, approx distinct, min/max per column, melted to long form.
    * Mirrors the registered `table_profile` shape exactly apart from the
    * sketch. `rsd` = HLL maximum relative standard deviation.
    */
  def tableProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      approx_count_distinct(col(c), rsd).as(s"${c}_nd"),
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max"))
    }
    val stackExpr = cols
      .map(c => s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max")
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stackExpr) " +
        "as (col_name, null_cnt, n_distinct, min_val, max_val)")
      .orderBy("col_name")
  }

  /** Grouped median via bounded quantile summaries + the SAME
    * deterministic mode as the exact tier (count + row_number with a
    * lowest-value tiebreak — already partial-agg-friendly, no approx
    * needed). `accuracy` is approx_percentile's 1/eps knob.
    */
  def medianMode(df: DataFrame, groupCol: String, valCol: String,
                 accuracy: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val med = df.groupBy(groupCol)
      .agg(percentile_approx(col(valCol), lit(0.5), lit(accuracy))
        .as("median_approx"))
    val w = Window.partitionBy(groupCol).orderBy(desc("n"), col(valCol))
    val mode = df.groupBy(groupCol, valCol)
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(groupCol), col(valCol).as("mode_val"), col("n").as("mode_n"))
    med.join(mode, groupCol).orderBy(groupCol)
  }

  /** Equi-depth histogram without the per-group single-task sort: bin
    * EDGES from one approx_percentile pass (a group-cardinality relation
    * joined back — Catalyst broadcasts it), then each row computes its
    * bin as 1 + #edges strictly below its value (a codegen'd fold over a
    * (bins-1)-element array), and bins aggregate map-side. Bin
    * populations are approximately equal instead of exactly equal —
    * that is the 100 TB trade.
    */
  def equidepthHistogram(df: DataFrame, groupCol: String, valCol: String,
                         bins: Int = 8, accuracy: Int = 10000): DataFrame = {
    val probs = array((1 until bins).map(i => lit(i.toDouble / bins)): _*)
    val edges = df.groupBy(groupCol)
      .agg(percentile_approx(col(valCol), probs, lit(accuracy)).as("edges"))
    df.join(edges, groupCol)
      .withColumn("b",
        aggregate(col("edges"), lit(1L),
          (acc, e) => acc + when(col(valCol) > e, 1L).otherwise(0L)))
      .groupBy(groupCol, "b")
      .agg(count(lit(1)).as("n"),
        min(valCol).as("lo"), max(valCol).as("hi"))
      .orderBy(groupCol, "b")
  }

  /** Winsorization against an approximate [p05, p95] band: identical
    * clamp + decimal-sum semantics to the registered exact tier; only
    * the band edges come from bounded sketches.
    */
  def winsorizeStats(df: DataFrame, groupCol: String, valCol: String,
                     accuracy: Int = 10000): DataFrame = {
    val stats = df.groupBy(groupCol).agg(
      percentile_approx(col(valCol), lit(0.05), lit(accuracy)).as("lo"),
      percentile_approx(col(valCol), lit(0.95), lit(accuracy)).as("hi"))
    df.join(stats, groupCol)
      .withColumn("w", least(greatest(col(valCol), col("lo")), col("hi")))
      .groupBy(groupCol)
      .agg(min("lo").as("lo"), min("hi").as("hi"), count(lit(1)).as("n"),
        decSum(col(valCol)).as("raw_sum"), decSum(col("w")).as("win_sum"))
      .orderBy(groupCol)
  }

  /** Bench-only registrations of the sketch tiers, on the SAME inputs as
    * their exact twins. Sketch-valued, so no DuckDB oracle (ApproxTiersSpec
    * bounds them against the exact tier instead) — but graft.Bench times
    * them every round, so a perf regression in the actual 100 TB path
    * shows in BENCH_r* rather than hiding behind the oracle-exact tier.
    *
    * Partition-width caveat (r12 ADVICE): the scan fan-out exchange makes
    * the quantile-summary merges inside percentile_approx depend on the
    * partition layout, i.e. on `spark.sql.shuffle.partitions` / core
    * count — a c8 and a c32 run may disagree in the sketch's error band
    * where the old single-task scan was width-invariant. That is the
    * sketch contract (results carry an accuracy tolerance, never
    * equality): ApproxTiersSpec gates them against the exact tier with
    * explicit tolerances, which is the correct cross-width check.
    * Deliberately NOT excluded from fan-out — these tiers exist to bench
    * the 100 TB path, and at scale the scan is naturally multi-split,
    * so a width-dependent merge is exactly what production computes.
    */
  val benchQueries: Map[String, (SparkSession, String) => DataFrame] = {
    def events(s: SparkSession, dir: String): DataFrame = {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      t(s, dir, "events")
    }
    Map(
      "table_profile_approx" -> ((s, dir) =>
        tableProfile(t(s, dir, "orders"),
          CoreQueries.ProfileCols, rsd = 0.05)),
      "median_mode_approx" -> ((s, dir) =>
        medianMode(t(s, dir, "lineitem"),
          "l_returnflag", "l_quantity")),
      "equidepth_histogram_approx" -> ((s, dir) =>
        equidepthHistogram(events(s, dir), "event_type", "value", bins = 8)),
      "winsorize_stats_approx" -> ((s, dir) =>
        winsorizeStats(events(s, dir), "event_type", "value")))
  }
}
