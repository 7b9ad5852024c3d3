package graft.fin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SourceBridge
import org.apache.spark.sql.types._
import graft.sources.Io

/** One close month of the curated layer as the exporters ([[BiExport]],
  * [[StarExport]], [[Dashboard]]) read it (reference line numbers below are
  * in scripts/export_powerbi_star_schema.py). The DQ CSVs are read on first
  * use; the star export never reads them.
  */
final case class CuratedMonth(
    dir: String,
    month: String,
    dateCol: Option[String],
    factM: DataFrame,
    dimAccounts: DataFrame,
    kpi: DataFrame) {

  lazy val dqExceptions: DataFrame =
    Io.readCsvOrEmpty(factM.sparkSession, s"$dir/dq_exceptions.csv", Schemas.dqExceptions)
  lazy val dqSummary: DataFrame =
    Io.readCsvOrEmpty(factM.sparkSession, s"$dir/dq_summary.csv", Schemas.dqSummary)
}

object CuratedMonth {

  /** The curated files the exporters read: of the fact, the given month's
    * partition only, or every month when the month is to be inferred.
    */
  def files(curatedDir: String, month: Option[String]): Seq[String] =
    Seq(month.fold("fact_transactions.parquet")(m => s"fact_transactions.parquet/month=$m"),
      "dim_accounts.parquet", "kpi_monthly.parquet",
      "dq_exceptions.csv", "dq_summary.csv").map(f => s"$curatedDir/$f")

  /** Tolerant reads with fallback schemas (S2; export_bi_datasets.py:11-16),
    * the KPI month normalized to YYYY-MM, the month given or inferred, and
    * the fact filtered to it. When the fact is partitioned by `month` (as
    * `Pipeline.runMonth` writes it), the filter also names the partition,
    * so the scan reads that month's directory only; the date filter stays
    * and decides the rows.
    */
  def read(spark: SparkSession, curatedDir: String, monthArg: Option[String]): CuratedMonth = {
    val fact = Io.readParquetOrEmpty(spark, s"$curatedDir/fact_transactions.parquet",
      StructType(Schemas.factColumns.map(StructField(_, StringType))))
    val dimAccounts = Io.readParquetOrEmpty(spark, s"$curatedDir/dim_accounts.parquet",
      Schemas.chartOfAccounts)
    val kpi0 = Io.readParquetOrEmpty(spark, s"$curatedDir/kpi_monthly.parquet",
      StructType(Seq(StructField("entity", StringType), StructField("month", StringType))))

    // `_to_month_str`: strings truncate to YYYY-MM; date-likes format (:25-33)
    val kpi =
      if (!kpi0.columns.contains("month")) kpi0
      else kpi0.withColumn("month", kpi0.schema("month").dataType match {
        case StringType => substring(col("month"), 1, 7)
        case _ => date_format(col("month"), "yyyy-MM")
      })

    // Srt6: latest month = lexicographic max of YYYY-MM strings (:51-57)
    val month = monthArg.orElse(
      if (kpi.isEmpty || !kpi.columns.contains("month")) None
      else Option(kpi.agg(max(col("month"))).head().getString(0))
    ).getOrElse(
      throw new IllegalArgumentException("Could not infer month. Provide month=YYYY-MM."))

    // first candidate date column (:348); P5 month filter by formatted date (:60-69)
    val dateCol = Io.pickCol(fact,
      Seq("tx_date", "date", "transaction_date", "posting_date", "invoice_date"))
    val factM = dateCol.fold(fact) { c =>
      val inMonth = date_format(col(c), "yyyy-MM") === lit(month)
      fact.filter(
        if (SourceBridge.partitionColumns(fact).contains("month"))
          col("month").cast(StringType) === lit(month) && inMonth
        else inMonth)
    }
    CuratedMonth(curatedDir, month, dateCol, factM, dimAccounts, kpi)
  }
}
