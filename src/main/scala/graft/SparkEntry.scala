package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators.{AnalyticsQueries, CoreQueries, CurationQueries, EventQueries, LlmQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Points at the KPI pivot — the reference's semantic heart (A1-A3).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("kpi_pivot")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A query over a
    * dataset directory smaller than [[SmallInput.InterpretBelowBytes]] is
    * built on an interpreted clone of the caller's session, and its
    * DataFrame keeps that session, so its action runs interpreted too
    * ([[SmallInput]]); larger datasets build on the caller's session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CoreQueries.queries ++ LlmQueries.queries ++ EventQueries.queries ++
      CurationQueries.queries ++ AnalyticsQueries.queries).map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) => SmallInput.run(s, Seq(dir))(build(_, dir)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — EVERY registered query has one, including
    * the two ANN paths (deterministic by construction: fixed hyperplanes /
    * seeded decimal-exact k-means, so "approximate" still has one exact
    * answer the oracle reproduces). */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ LlmQueries.oracleSql ++ EventQueries.oracleSql ++
      CurationQueries.oracleSql ++ AnalyticsQueries.oracleSql
}
