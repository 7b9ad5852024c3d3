package graft.fin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import graft.sources.Io

/** Flat BI export + data dictionary (SURVEY.md §3.3; reference:
  * scripts/export_bi_datasets.py:58-122). The five CSV sinks do not
  * depend on each other and run at once ([[SessionBridge.concurrently]]).
  */
object BiExport {

  /** Stable KPI column order (reference: export_bi_datasets.py:8). */
  val KpiCols = Seq("entity", "month", "Asset", "COGS", "Expense", "Revenue",
    "gross_profit", "operating_profit")

  final case class BiResult(outDir: String, month: String)

  def `export`(
      spark: SparkSession,
      curatedDir: String,
      outDirBase: String,
      monthArg: Option[String] = None): BiResult = {

    SmallClose.run(spark, CuratedMonth.files(curatedDir, monthArg)) { spark =>
      val cur = CuratedMonth.read(spark, curatedDir, monthArg)
      val month = cur.month
      val outDir = s"$outDirBase/$month"

      // fact filtered to month + constant month col (reference: :86-88)
      val factM = cur.factM.withColumn("month", lit(month))

      // KPI: margins, month filter, stable column order (reference: :91-102)
      val kpiM = {
        val enriched = Transform.addMarginCols(cur.kpi)
        val filtered =
          if (enriched.columns.contains("month")) enriched.filter(col("month") === lit(month))
          else enriched
        val keep = KpiCols.filter(filtered.columns.contains) ++
          Seq("gross_margin_pct", "operating_margin_pct").filter(filtered.columns.contains)
        if (keep.nonEmpty) filtered.select(keep.map(col): _*) else filtered
      }

      SessionBridge.concurrently(spark)(
        () => Io.writeCsv(factM, s"$outDir/fact_transactions.csv"),
        () => Io.writeCsv(cur.dimAccounts.orderBy("account_code"), s"$outDir/dim_accounts.csv"),
        () => Io.writeCsv(kpiM.orderBy("entity", "month"), s"$outDir/kpi_monthly.csv"),
        () => Io.writeCsv(cur.dqSummary, s"$outDir/dq_summary.csv"),
        () => Io.writeCsv(cur.dqExceptions, s"$outDir/dq_exceptions.csv"))

      // data dictionary (reference: :111-119)
      def cols(df: DataFrame) = df.columns.mkString("['", "', '", "']")
      val dd = Seq(
        s"month=$month",
        s"fact_transactions.csv columns=${cols(factM)}",
        s"dim_accounts.csv columns=${cols(cur.dimAccounts)}",
        s"kpi_monthly.csv columns=${cols(kpiM)}",
        s"dq_summary.csv columns=${cols(cur.dqSummary)}",
        s"dq_exceptions.csv columns=${cols(cur.dqExceptions)}").mkString("\n")
      Io.writeText(spark, s"$outDir/data_dictionary.txt", dd)

      BiResult(outDir, month)
    }
  }
}
