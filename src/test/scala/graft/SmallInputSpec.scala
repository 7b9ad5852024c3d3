package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Registered queries over a small dataset run interpreted ([[SmallInput]]):
  * which session builds and runs them, that they answer what the compiled
  * path answers, and what a warm pass of them compiles.
  */
class SmallInputSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  /** The `queries_multistage` benchmark workload. */
  private val multistage = Seq("k_truss", "conductance", "near_dup_components", "pca_power",
    "kaplan_meier", "curation_funnel", "dedup_threshold_curve")

  /** One query of each other family: Analytics, Curation, Event, Llm. */
  private val families = Seq("mahalanobis_outliers", "ses_forecast", "rolling_zscore",
    "edit_distance_dedup")

  /** Janino compilations a warm pass of the seven `multistage` queries may
    * run at sf0.001. A ratchet: a change may lower it, never raise it.
    * The compiled path ran about 455.
    */
  val MaxWarmCompiles = 56

  /** Compilations of generated classes so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def interpreted(s: SparkSession): Boolean =
    s.conf.get("spark.sql.codegen.wholeStage") == "false" &&
      s.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"

  private def hasWholeStageCodegen(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  test("the dataset is under the bound") {
    assert(SmallInput.interprets(SmallInput.bytesOf(spark, Seq(sf))))
  }

  test("a registry query runs without generated code, and compiled under compiled { }") {
    val small = query("kpi_pivot")
    rows(small)
    assert(small.sparkSession ne spark)
    assert(interpreted(small.sparkSession))
    assert(!hasWholeStageCodegen(small))

    val big = SmallInput.compiled(query("kpi_pivot"))
    rows(big)
    assert(big.sparkSession eq spark)
    assert(hasWholeStageCodegen(big))
  }

  test("a query leaves the caller's session compiled, active and its conf unchanged") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    SparkSession.setActiveSession(spark)
    val before = spark.conf.getOption(nanos)
    // kaplan_meier reads events, so its build sets nanosAsLong on its session
    val df = query("kaplan_meier")
    rows(df)
    assert(df.sparkSession.conf.get(nanos) == "true")
    assert(spark.conf.getOption(nanos) == before)
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK")
    assert(SparkSession.getActiveSession.contains(spark))
  }

  test("multistage queries and one query of each family answer the same on both paths") {
    (multistage ++ families).foreach { name =>
      val df = query(name)
      assert(interpreted(df.sparkSession), name)
      val got = rows(df)
      val want = SmallInput.compiled(rows(query(name)))
      assert(got.nonEmpty, name)
      assert(got == want, s"$name:\n${got.mkString("\n")}\n---\n${want.mkString("\n")}")
    }
  }

  test("a warm pass of the multistage queries compiles at most MaxWarmCompiles classes") {
    multistage.foreach(n => rows(query(n)))
    val before = compiles
    multistage.foreach(n => rows(query(n)))
    val warm = compiles - before
    info(s"warm pass: $warm compilations")
    assert(warm <= MaxWarmCompiles, s"a warm pass compiled $warm classes")
  }
}
