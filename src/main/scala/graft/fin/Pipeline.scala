package graft.fin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Io

/** The monthly-close pipeline — `runMonth`
  * (reference: src/finance_etl/pipeline.py:50-191; lifecycle SURVEY.md §3.1).
  *
  * Steps 2-10 of the reference DAG become lazy Catalyst plans with two
  * deliberate barriers: the DQ gate (exceptions must materialize before the
  * pipeline may proceed — pipeline.py:129-162) and the final writes. The gate
  * aggregates severity counts on the executors and collects only two longs.
  * Other jobs run before the writes too: the row index of the DQ copies
  * collects per-split row counts (one job per raw dataset, five in all),
  * and `Transform.addFxAmountBase` collects its missing-rate sample.
  */
object Pipeline {

  final case class RunResult(
      dqExceptions: String,
      dqSummary: String,
      fact: String,
      dimAccounts: String,
      kpi: String,
      status: String)

  final class DataQualityException(msg: String) extends RuntimeException(msg)

  val FailOnModes = Set("ERROR", "WARN", "NEVER")

  def runMonth(
      spark: SparkSession,
      settings: Settings,
      month: String,
      rawDir: String,
      curatedDir: String,
      referenceDir: String,
      failOn: String = "ERROR"): RunResult = {

    // fail_on validated early (pipeline.py:59-61)
    val mode = Option(failOn).getOrElse("ERROR").toUpperCase.trim
    require(FailOnModes.contains(mode), "fail_on must be one of: ERROR, WARN, NEVER")

    // reference dim + key set as a DataFrame (never a driver-side set — J3)
    val coa = Io.readCsv(spark, s"$referenceDir/chart_of_accounts.csv", Schemas.chartOfAccounts)
    val dimAccounts = Transform.buildDimAccounts(coa)
    val coaCodes = dimAccounts.select("account_code").distinct()

    // one all-string read per dataset; each typed frame is DERIVED from it
    // via try_cast (S1; pipeline.py:78-101) so the DQ dtype check and the
    // pipeline see the exact same coercion — see Io.typedFromRaw
    val raws = Quality.Datasets.map(n => n -> Io.readCsvRaw(spark, s"$rawDir/$n.csv")).toMap
    def typed(name: String) = Io.typedFromRaw(raws(name), Schemas.rawContracts(name))
    val exceptions = dqExceptions(spark, settings, raws, coaCodes)

    // ---- DQ gate: the deliberate mid-pipeline barrier (pipeline.py:129-162) ----
    exceptions.persist()
    val sevCounts = exceptions.groupBy("severity").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val errorCount = sevCounts.getOrElse("ERROR", 0L)
    val totalCount = sevCounts.values.sum
    val overall = Quality.overallStatus(errorCount, totalCount, mode)

    val summary = Quality.summaryTable(spark, exceptions, mode)
    val dqExceptionsPath = s"$curatedDir/dq_exceptions.csv"
    val dqSummaryPath = s"$curatedDir/dq_summary.csv"
    Io.writeCsv(exceptions.orderBy("dataset", "column", "check", "failure_case", "index"),
      dqExceptionsPath)
    Io.writeCsv(summary, dqSummaryPath)

    if (overall == "FAIL" && mode != "NEVER") {
      exceptions.unpersist()
      throw new DataQualityException(
        s"Data quality checks failed. See $dqExceptionsPath and $dqSummaryPath")
    }
    exceptions.unpersist()

    // month window (P2/P3; pipeline.py:164-170)
    val salesM = typed("sales").filter(Transform.monthWindow(col("date"), month))
    val expensesM = typed("expenses").filter(Transform.monthWindow(col("date"), month))
    val inventoryM = typed("inventory_movements").filter(Transform.monthWindow(col("date"), month))
    val payrollM = typed("payroll").filter(col("month") === lit(month))

    val fx = Transform.fxToBase(typed("fx_rates"), settings.baseCurrency)
    val fact = Transform.toFactTransactions(
      salesM, expensesM, payrollM, inventoryM, fx, settings.baseCurrency)

    val factPath = s"$curatedDir/fact_transactions.parquet"
    val dimPath = s"$curatedDir/dim_accounts.parquet"
    val kpiPath = s"$curatedDir/kpi_monthly.parquet"
    // month-partitioned curated layout (SURVEY §1.1): this run lands in
    // month=YYYY-MM/ only, other months stay intact, and downstream
    // month filters prune to that one directory. The partition is
    // replaced via temp-and-swap (write to a hidden sibling, then move
    // into place) — a pre-delete-then-write would destroy the only good
    // copy of the partition if the write failed, and plain dynamic
    // overwrite would silently KEEP a stale partition when corrected
    // inputs yield zero in-month rows.
    replaceMonthPartition(spark, factPath, month) { tmpRoot =>
      Io.writeParquetPartitioned(
        fact.withColumn("month", date_format(col("date"), "yyyy-MM")),
        tmpRoot, Seq("month"))
    }
    Io.writeParquet(dimAccounts, dimPath)
    // build the KPI from the just-written fact (column-pruned parquet
    // scan) rather than the lazy raw→union→FX plan — otherwise the whole
    // fact pipeline would execute a second time for the KPI write
    val kpi = Transform.kpiMonthly(spark.read.parquet(factPath), dimAccounts)
    Io.writeParquet(kpi, kpiPath)

    RunResult(dqExceptionsPath, dqSummaryPath, factPath, dimPath, kpiPath, overall)
  }

  /** The month's DQ exceptions with severity (pipeline.py:104-127): every
    * check of [[Quality.validateDataset]] plus the COA anti-join for sales
    * and expenses. Each dataset is validated on an INDEXED copy of its raw
    * read (pandas-like row index, so exceptions report which row failed);
    * the fact build uses the plain typed view instead, so the RDD
    * round-trip that indexing requires never sits as an optimization
    * barrier under the fact plan.
    */
  private[fin] def dqExceptions(
      spark: SparkSession, settings: Settings,
      raws: Map[String, DataFrame], coaCodes: DataFrame): DataFrame = {
    val indexed = Quality.Datasets.map(n => n -> Quality.withRowIndex(raws(n))).toMap
    val schemaIssues = Quality.Datasets.map { n =>
      Quality.validateDataset(spark, indexed(n), n, Schemas.rawContracts(n), settings)
    }
    val coaIssues = Seq("sales", "expenses")
      .map(n => Quality.accountInCoaExceptions(indexed(n), n, coaCodes))
    Quality.addSeverity((schemaIssues ++ coaIssues).reduce(_.unionByName(_)))
  }

  /** Replace `factRoot/month=M` via temp-and-swap: `write` receives a
    * hidden sibling directory and must produce the partitioned layout
    * there; only after it SUCCEEDS is the old partition dropped and the
    * new one renamed into place. A write failure leaves the previously
    * good partition untouched (the temp is cleaned up); a successful
    * write with zero in-month rows removes the stale partition, which a
    * bare dynamic overwrite would silently keep. The delete→rename
    * window is the residual non-atomicity — two filesystem metadata
    * ops, not a data rewrite.
    */
  private[fin] def replaceMonthPartition(
      spark: SparkSession, factRoot: String, month: String)(
      write: String => Unit): Unit = {
    val root = new org.apache.hadoop.fs.Path(factRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new org.apache.hadoop.fs.Path(
      root.getParent, s".swap_${root.getName}_$month")
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    try {
      write(tmpRoot.toString)
      // the close writes exactly one month; any other partition in the
      // temp output would be silently dropped by the swap — refuse
      val stray = fs.listStatus(tmpRoot).map(_.getPath.getName)
        .filter(n => n.startsWith("month=") && n != s"month=$month")
      require(stray.isEmpty,
        s"replaceMonthPartition($month): unexpected partitions ${stray.mkString(",")}")
      val newPart = new org.apache.hadoop.fs.Path(tmpRoot, s"month=$month")
      val oldPart = new org.apache.hadoop.fs.Path(root, s"month=$month")
      fs.mkdirs(root) // parity with a direct partitioned write: the root
                      // exists even when this month produced zero rows
      if (fs.exists(oldPart)) fs.delete(oldPart, true)
      if (fs.exists(newPart)) fs.rename(newPart, oldPart)
    } finally {
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    }
  }
}
