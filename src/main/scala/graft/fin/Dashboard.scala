package graft.fin

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Io

/** Dashboard data aggregates + static HTML report (SURVEY.md §3.3;
  * reference: scripts/build_dashboard.py:74-225).
  *
  * Renders the reference's three figures — Revenue trend line, Operating
  * Profit trend line, top-expense bars — as inline SVG ([[Charts]]; the
  * reference uses plotly JS from a CDN) plus the tables, and ships each
  * chart's series as standalone CSVs. Aggregates run distributed; only
  * the final ≤ hundreds of display rows are collected into the HTML
  * template, mirroring the reference's collect-then-template shape.
  */
object Dashboard {

  val KpiCols = Seq("Asset", "COGS", "Expense", "Revenue", "gross_profit", "operating_profit")

  /** Srt3: top-N entities by total Revenue across months
    * (reference: build_dashboard.py:100).
    */
  def topEntitiesByRevenue(kpi: DataFrame, n: Int = 8): DataFrame =
    kpi.groupBy("entity")
      .agg(sum("Revenue").as("total_revenue"))
      .orderBy(desc("total_revenue"), col("entity"))
      .limit(n)

  /** Revenue/profit trend rows for the top entities (reference: :101-122). */
  def kpiTrend(kpi: DataFrame, n: Int = 8): DataFrame =
    kpi.join(broadcast(topEntitiesByRevenue(kpi, n).select("entity")), Seq("entity"))
      .orderBy("month", "entity")

  /** Month KPI table (reference: :125-138). */
  def kpiTable(kpi: DataFrame, month: String): DataFrame = {
    val filtered = kpi.filter(col("month") === lit(month))
    val keep = Seq("entity", "month") ++
      (KpiCols ++ Seq("gross_margin_pct", "operating_margin_pct")).filter(filtered.columns.contains)
    filtered.select(keep.map(col): _*).orderBy("entity")
  }

  /** Srt4 + P8 + J6: top-N expense accounts by absolute spend, labeled
    * `code - name` (reference: :141-166).
    */
  def topExpenseAccounts(factM: DataFrame, dim: DataFrame, n: Int = 15): DataFrame = {
    val amtCol = Io.pickCol(factM, Seq("amount_base", "amount")).getOrElse("amount")
    factM
      .join(broadcast(dim.select(
        col("account_code").cast("string").as("account_code"),
        col("account_name"), col("account_type"))),
        Seq("account_code"), "left")
      .filter(lower(col("account_type")) === "expense")
      .withColumn("label", concat_ws(" - ", col("account_code"), col("account_name")))
      .groupBy("label")
      .agg(sum(abs(col(amtCol))).as("total_abs_amount"))
      .orderBy(desc("total_abs_amount"), col("label"))
      .limit(n)
  }

  private def htmlTable(df: DataFrame, limit: Int = 200): String = {
    val cols = df.columns
    val rows = df.limit(limit).collect()
    def esc(s: String) = Charts.esc(s)
    def cell(r: Row, i: Int) = if (r.isNullAt(i)) "" else esc(r.get(i).toString)
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map(r =>
      cols.indices.map(i => s"<td>${cell(r, i)}</td>").mkString("<tr>", "", "</tr>")).mkString("\n")
    s"<table><thead><tr>$head</tr></thead><tbody>\n$body\n</tbody></table>"
  }

  final case class DashResult(outHtml: String, seriesDir: String, month: String)

  def build(
      spark: SparkSession,
      curatedDir: String,
      outHtml: String,
      monthArg: Option[String] = None): DashResult = {

    val cur = CuratedMonth.read(spark, curatedDir, monthArg)
    val month = cur.month
    val kpi = Transform.addMarginCols(cur.kpi)

    // each series feeds the charts, the HTML tables AND the CSVs — persist
    // the (display-sized) results so the aggregations run once, not thrice
    val trend = kpiTrend(kpi).persist()
    val topExpense = topExpenseAccounts(cur.factM, cur.dimAccounts).persist()

    // chart rendering (reference: build_dashboard.py:96-122 px.line ×2,
    // :162-166 px.bar) — same figures, inline SVG instead of plotly JS
    def trendChart(valueCol: String, title: String): String =
      if (!kpi.columns.contains(valueCol)) s"<p class='muted'>No $title chart available.</p>"
      else {
        val pts = trend.select(col("entity"), col("month"),
            col(valueCol).cast("double")).collect()
          .filter(r => !r.isNullAt(2))
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        val months = pts.map(_._2).distinct.sorted.toSeq
        val series = pts.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (e, rs) => e -> rs.map(r => r._2 -> r._3).toMap }
        Charts.lineChart(title, months, series)
      }
    val revChart = trendChart("Revenue", "Revenue Trend (Top Entities)")
    val opChart = trendChart("operating_profit", "Operating Profit Trend (Top Entities)")
    val expChart = Charts.barChartH("Top Expense Accounts (Abs Value)",
      topExpense.collect().toSeq.map(r =>
        r.getAs[String]("label") -> r.getAs[Double]("total_abs_amount")))

    val html =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8">
         |<title>Monthly Close — $month</title>
         |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
         |td,th{border:1px solid #ccc;padding:4px 8px;text-align:right}
         |th{background:#eee}td:first-child,th:first-child{text-align:left}</style>
         |</head><body>
         |<h1>Monthly Close Dashboard — $month</h1>
         |<h2>Revenue trend (top entities)</h2>
         |$revChart
         |<h2>Operating profit trend (top entities)</h2>
         |$opChart
         |${htmlTable(trend)}
         |<h2>KPI table — $month</h2>
         |${htmlTable(kpiTable(kpi, month))}
         |<h2>Top expense accounts — $month</h2>
         |$expChart
         |${htmlTable(topExpense)}
         |<h2>DQ summary</h2>
         |${htmlTable(cur.dqSummary)}
         |<h2>DQ exceptions (first 200)</h2>
         |${htmlTable(cur.dqExceptions.orderBy("dataset", "column", "check", "failure_case"))}
         |</body></html>""".stripMargin

    Io.writeText(spark, outHtml, html)

    // chart data contract: the series feeding each chart also ship as
    // standalone CSVs next to the HTML, so the artifact carries the same
    // information as the reference's plotly line/bar charts
    // (reference: scripts/build_dashboard.py:96-122, 162-166)
    val seriesDir = outHtml.stripSuffix(".html") + "_series"
    val trendCols = Seq("entity", "month") ++
      Seq("Revenue", "gross_profit", "operating_profit").filter(kpi.columns.contains)
    Io.writeCsv(trend.select(trendCols.map(col): _*), s"$seriesDir/revenue_trend.csv")
    Io.writeCsv(topExpense, s"$seriesDir/top_expense.csv")
    trend.unpersist()
    topExpense.unpersist()

    DashResult(outHtml, seriesDir, month)
  }
}
