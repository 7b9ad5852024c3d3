package graft.fin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import scala.jdk.CollectionConverters._
import graft.sources.Io

/** The monthly-close pipeline — `runMonth`
  * (reference: src/finance_etl/pipeline.py:50-191; lifecycle SURVEY.md §3.1).
  *
  * Steps 2-10 of the reference DAG become lazy Catalyst plans with two
  * deliberate barriers: the DQ gate (exceptions must materialize before the
  * pipeline may proceed — pipeline.py:129-162) and the final writes. The gate
  * aggregates the per-dataset summary on the executors and collects its
  * five rows, which both decide the gate and are written as
  * `dq_summary.csv`. Independent actions run at once
  * ([[SessionBridge.concurrently]]): the two DQ files are written
  * together, and the gate decides only after both are written; a month
  * that passes builds its fact (and runs the FX check's job) meanwhile.
  * The fact partition swap and the `dim_accounts` sink also run at once;
  * the KPI, which reads the written fact, follows them. Other jobs run
  * before the writes too: the chart of accounts is collected once, the
  * row index of the DQ copies collects per-split row counts (one job for
  * the five raw datasets), and `Transform.addFxAmountBase` collects its
  * missing-rate sample. No read runs a schema-inference job (see `Io`).
  *
  * A month whose input files are small closes interpreted, on a clone of
  * the caller's session without code generation ([[SmallClose]]): at a
  * few hundred rows, compiling the close's generated classes costs more
  * than running them. Larger inputs run the same compiled plans as
  * before. Either way the jobs, exchanges and outputs are the same.
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

    // a small month closes interpreted (see SmallClose); `spark` below is
    // the session the close runs on
    val factPath = s"$curatedDir/fact_transactions.parquet"
    val inputs = Quality.Datasets.map(n => s"$rawDir/$n.csv") ++
      Seq(s"$referenceDir/chart_of_accounts.csv", factPath)
    SmallClose.run(spark, inputs) { spark =>
      // the chart of accounts is dimension-sized and feeds the two COA
      // anti-joins, its parquet sink and the KPI join: collect it once and
      // serve every consumer from the driver
      val coa = Io.readCsv(spark, s"$referenceDir/chart_of_accounts.csv", Schemas.chartOfAccounts)
      val dimAccounts = Io.onDriver(Transform.buildDimAccounts(coa))
      val codes = dimAccounts.select("account_code")
      val coaCodes = spark.createDataFrame(codes.collect().distinct.toSeq.asJava, codes.schema)

      // one all-string read per dataset; each typed frame is DERIVED from it
      // via try_cast (S1; pipeline.py:78-101) so the DQ dtype check and the
      // pipeline see the exact same coercion — see Io.typedFromRaw
      val raws = Quality.Datasets.map(n => n -> Io.readCsvRaw(spark, s"$rawDir/$n.csv")).toMap
      def typed(name: String) = Io.typedFromRaw(raws(name), Schemas.rawContracts(name))
      val exceptions = dqExceptions(spark, settings, raws, coaCodes)

      // ---- DQ gate: the deliberate mid-pipeline barrier (pipeline.py:129-162) ----
      // every exception is in exactly one of the five summary rows, so their
      // sums are the gate's error and total counts
      exceptions.persist()
      val summaryPlan = Quality.summaryTable(spark, exceptions, mode)
      val summaryRows = summaryPlan.collect().toSeq
      val errorCount = summaryRows.map(_.getAs[Long]("error_count")).sum
      val totalCount = summaryRows.map(_.getAs[Long]("issue_count")).sum
      val overall = Quality.overallStatus(errorCount, totalCount, mode)

      val summary = spark.createDataFrame(summaryRows.asJava, summaryPlan.schema)
      val dqExceptionsPath = s"$curatedDir/dq_exceptions.csv"
      val dqSummaryPath = s"$curatedDir/dq_summary.csv"
      val passes = overall != "FAIL" || mode == "NEVER"

      // month window (P2/P3; pipeline.py:164-170); building the fact runs
      // the FX join's missing-rate check, a job of its own
      lazy val fact = {
        val salesM = typed("sales").filter(Transform.monthWindow(col("date"), month))
        val expensesM = typed("expenses").filter(Transform.monthWindow(col("date"), month))
        val inventoryM = typed("inventory_movements").filter(Transform.monthWindow(col("date"), month))
        val payrollM = typed("payroll").filter(col("month") === lit(month))
        val fx = Transform.fxToBase(typed("fx_rates"), settings.baseCurrency)
        Transform.toFactTransactions(
          salesM, expensesM, payrollM, inventoryM, fx, settings.baseCurrency)
      }

      // both DQ files are written whatever the gate decides; a month that
      // passes builds its fact while they are written, and a failure of
      // either surfaces only once both files are written
      try SessionBridge.concurrently(spark)(
        () => Io.writeCsv(exceptions.orderBy("dataset", "column", "check", "failure_case", "index"),
          dqExceptionsPath),
        () => Io.writeCsv(summary, dqSummaryPath),
        () => if (passes) fact)
      finally exceptions.unpersist()

      if (!passes) throw new DataQualityException(
        s"Data quality checks failed. See $dqExceptionsPath and $dqSummaryPath")

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
      // the dimension does not depend on the fact: both sinks run at once
      SessionBridge.concurrently(spark)(
        () => replaceMonthPartition(spark, factPath, month) { tmpRoot =>
          Io.writeParquetPartitioned(
            fact.withColumn("month", date_format(col("date"), "yyyy-MM")),
            tmpRoot, Seq("month"))
        },
        // one partition, as the single-file COA read wrote it
        () => Io.writeParquet(dimAccounts.coalesce(1), dimPath))
      // build the KPI from the just-written fact (column-pruned parquet
      // scan) rather than the lazy raw→union→FX plan — otherwise the whole
      // fact pipeline would execute a second time for the KPI write. The
      // scan takes the schema of the frame just written; the month
      // partition column is discovered as by any read.
      val kpi = Transform.kpiMonthly(spark.read.schema(fact.schema).parquet(factPath), dimAccounts)
      Io.writeParquet(kpi, kpiPath)

      RunResult(dqExceptionsPath, dqSummaryPath, factPath, dimPath, kpiPath, overall)
    }
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
    val indexed = Quality.Datasets.zip(Quality.withRowIndex(Quality.Datasets.map(raws))).toMap
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
