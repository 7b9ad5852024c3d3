package graft.fin

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end smoke mirroring the reference's
  * tests/test_pipeline_smoke.py:13-48: generate a synthetic month, run the
  * close, assert outputs exist, DQ passes, KPI is populated.
  */
class PipelineSmokeSpec extends SparkSpec {

  test("generate -> runMonth -> outputs exist, DQ PASS, KPI populated") {
    val work = Files.createTempDirectory("graft-smoke").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)

    val res = Pipeline.runMonth(
      spark, Settings.default, "2025-12",
      s"$work/raw", s"$work/curated", s"$work/reference", "ERROR")

    assert(res.status === "PASS")
    Seq(res.fact, res.dimAccounts, res.kpi).foreach { p =>
      assert(Files.exists(java.nio.file.Paths.get(p)), p)
    }

    val summary = spark.read.option("header", "true").csv(res.dqSummary)
    import spark.implicits._
    assert(summary.select("status").as[String].collect().forall(_ == "PASS"))

    val kpi = spark.read.parquet(res.kpi)
    assert(kpi.columns.contains("operating_profit"))
    assert(kpi.count() > 0)

    val fact = spark.read.parquet(res.fact)
    // curated fact is month-partitioned: contract columns + the partition col
    assert(fact.columns.toSeq === Schemas.factColumns :+ "month")
    assert(fact.count() > 0)
    // union preserves counts: every raw row inside the month lands in the fact
    val sales = spark.read.schema(Schemas.sales).option("header", "true").csv(s"$work/raw/sales.csv")
    assert(fact.filter($"source" === "sales").count() === sales.count())

    // a month filter must prune to the partition directory, not scan-and-filter
    val pruned = fact.filter($"month" === "2025-12")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("month#"),
      s"expected partition pruning in:\n$scan")
    assert(Files.exists(java.nio.file.Paths.get(res.fact, "month=2025-12")),
      "hive-style month partition directory")
  }

  test("incremental closes: each month lands in its own partition, re-runs replace only their month") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-multimonth").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw-nov", "2025-11", seed = 11L)
    SampleData.generateSyntheticRaw(s"$work/raw-dec", "2025-12", seed = 12L)

    val nov = Pipeline.runMonth(spark, Settings.default, "2025-11",
      s"$work/raw-nov", s"$work/curated", s"$work/reference", "ERROR")
    val novCount = spark.read.parquet(nov.fact).count()
    val dec = Pipeline.runMonth(spark, Settings.default, "2025-12",
      s"$work/raw-dec", s"$work/curated", s"$work/reference", "ERROR")

    // both months coexist in the curated fact (dynamic overwrite did not
    // clobber November when December ran)
    val fact = spark.read.parquet(dec.fact)
    assert(fact.select("month").distinct().as[String].collect().sorted.toSeq ===
      Seq("2025-11", "2025-12"))
    assert(fact.filter($"month" === "2025-11").count() === novCount)

    // re-running December replaces only the December partition
    val decCount = fact.filter($"month" === "2025-12").count()
    Pipeline.runMonth(spark, Settings.default, "2025-12",
      s"$work/raw-dec", s"$work/curated", s"$work/reference", "ERROR")
    val after = spark.read.parquet(dec.fact)
    assert(after.filter($"month" === "2025-11").count() === novCount)
    assert(after.filter($"month" === "2025-12").count() === decCount)

    // the KPI layer covers every closed month (it reads the partitioned fact)
    val kpi = spark.read.parquet(dec.kpi)
    assert(kpi.select("month").distinct().as[String].collect().sorted.toSeq ===
      Seq("2025-11", "2025-12"))

    // a corrected re-run that yields ZERO December rows must clear the
    // stale December partition (dynamic overwrite alone only replaces
    // partitions it writes) — November stays intact
    Pipeline.runMonth(spark, Settings.default, "2025-12",
      s"$work/raw-nov", s"$work/curated", s"$work/reference", "ERROR")
    val cleared = spark.read.parquet(dec.fact)
    assert(cleared.select("month").distinct().as[String].collect().toSeq === Seq("2025-11"))
    assert(cleared.count() === novCount)
  }

  /** Lines of the single CSV part file a `writeCsv` sink produced. */
  private def csvLines(dir: String): Seq[String] = {
    val part = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size === 1, s"$dir: ${part.mkString(", ")}")
    Files.readAllLines(part.head).asScala.toSeq
  }

  test("DQ gate end to end: seeded defects are reported row by row; ERROR fails after both writes") {
    val work = Files.createTempDirectory("graft-dq-gate").toString
    PipelineSmokeSpec.writeDefectMonth(work)

    val expectedExceptions = Seq(
      "dataset,index,column,check,failure_case,schema_context,check_number,severity",
      "expenses,7,account_code,account_in_coa,99999999,Column,,ERROR",
      "expenses,3,amount,greater_than(0),-2282.87,Column,,WARN",
      "inventory_movements,4,unit_cost,greater_than_or_equal_to(0),-72.62,Column,,WARN",
      "sales,2,amount,dtype('double'),junk,Column,,ERROR",
      "sales,6,date,not_nullable,,Column,,ERROR")
    def expectedSummary(salesStatus: String, expensesStatus: String) = Seq(
      "dataset,error_count,warn_count,issue_count,status",
      s"sales,2,0,2,$salesStatus",
      s"expenses,1,1,2,$expensesStatus",
      "payroll,0,0,0,PASS",
      "inventory_movements,0,1,1,PASS",
      "fx_rates,0,0,0,PASS")

    val res = Pipeline.runMonth(spark, Settings.default, "2025-12",
      s"$work/raw", s"$work/curated-never", s"$work/reference", "NEVER")
    assert(res.status === "PASS")
    assert(csvLines(res.dqExceptions) === expectedExceptions)
    assert(csvLines(res.dqSummary) === expectedSummary("PASS", "PASS"))

    val curated = s"$work/curated-error"
    intercept[Pipeline.DataQualityException] {
      Pipeline.runMonth(spark, Settings.default, "2025-12",
        s"$work/raw", curated, s"$work/reference", "ERROR")
    }
    assert(csvLines(s"$curated/dq_exceptions.csv") === expectedExceptions)
    assert(csvLines(s"$curated/dq_summary.csv") === expectedSummary("FAIL", "FAIL"))
  }

  test("a missing FX rate under NEVER fails after both DQ files are written, before the fact") {
    val work = Files.createTempDirectory("graft-fx-missing").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)
    val sales = java.nio.file.Paths.get(work, "raw", "sales.csv")
    val lines = Files.readAllLines(sales).asScala.toIndexedSeq
    val cells = lines(1).split(",", -1)
    cells(4) = "XXX" // a currency without rates
    Files.write(sales, lines.updated(1, cells.mkString(",")).mkString("", "\n", "\n").getBytes)

    val curated = s"$work/curated"
    val e = intercept[IllegalStateException] {
      Pipeline.runMonth(spark, Settings.default, "2025-12",
        s"$work/raw", curated, s"$work/reference", "NEVER")
    }
    assert(e.getMessage.contains("Missing FX rates"), e.getMessage)
    assert(csvLines(s"$curated/dq_exceptions.csv").exists(_.startsWith("sales,0,currency,")))
    assert(csvLines(s"$curated/dq_summary.csv").size === 6)
    assert(!Files.exists(java.nio.file.Paths.get(curated, "fact_transactions.parquet")))
  }

  test("the month's DQ exceptions take one row pass per raw dataset") {
    val work = Files.createTempDirectory("graft-dq-plan").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)
    val raws = Quality.Datasets
      .map(n => n -> graft.sources.Io.readCsvRaw(spark, s"$work/raw/$n.csv")).toMap
    val coaCodes = Transform.buildDimAccounts(graft.sources.Io.readCsv(spark,
      s"$work/reference/chart_of_accounts.csv", Schemas.chartOfAccounts))
      .select("account_code").distinct()
    val plan = Pipeline.dqExceptions(spark, Settings.default, raws, coaCodes)
      .queryExecution.optimizedPlan
    // 5 row passes + 3 dup-key passes + 2 COA anti-joins of two leaves each
    assert(plan.collectLeaves().size <= 12, plan.treeString)
  }

  test("a first close of a month without rows passes with an empty KPI") {
    val work = Files.createTempDirectory("graft-empty-month").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)
    val res = Pipeline.runMonth(spark, Settings.default, "2026-05",
      s"$work/raw", s"$work/curated", s"$work/reference", "ERROR")
    assert(res.status === "PASS")
    val kpi = spark.read.parquet(res.kpi)
    assert(kpi.columns.contains("operating_profit"))
    assert(kpi.count() === 0)
  }

  test("invalid fail_on is rejected early") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.runMonth(spark, Settings.default, "2025-12", "x", "y", "z", "BOGUS")
    }
    assert(e.getMessage.contains("fail_on"))
  }

  test("month-partition swap: a failed write keeps the previous partition intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-swap").toString + "/fact.parquet"
    def monthDf(v: Double) = Seq(("2025-11", v)).toDF("month", "amount")

    // seed a good partition
    Pipeline.replaceMonthPartition(spark, root, "2025-11") { tmp =>
      graft.sources.Io.writeParquetPartitioned(monthDf(1.0), tmp, Seq("month"))
    }
    def readAmounts() = spark.read.parquet(root).select("amount")
      .collect().map(_.getDouble(0)).toSeq
    assert(readAmounts() === Seq(1.0))

    // a writer that fails AFTER producing partial temp output must not
    // touch the good partition (the old pre-delete-then-write lost it)
    intercept[RuntimeException] {
      Pipeline.replaceMonthPartition(spark, root, "2025-11") { tmp =>
        graft.sources.Io.writeParquetPartitioned(monthDf(666.0), tmp, Seq("month"))
        throw new RuntimeException("simulated write failure")
      }
    }
    assert(readAmounts() === Seq(1.0), "old partition must survive a failed replace")

    // a successful replace swaps in the new data
    Pipeline.replaceMonthPartition(spark, root, "2025-11") { tmp =>
      graft.sources.Io.writeParquetPartitioned(monthDf(2.0), tmp, Seq("month"))
    }
    assert(readAmounts() === Seq(2.0))

    // zero in-month rows clears the stale partition (dynamic overwrite
    // alone would keep it)
    Pipeline.replaceMonthPartition(spark, root, "2025-11") { tmp =>
      graft.sources.Io.writeParquetPartitioned(
        monthDf(3.0).filter("amount < 0"), tmp, Seq("month"))
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/month=2025-11")))

    // and a temp writer leaking a foreign month is refused outright
    intercept[IllegalArgumentException] {
      Pipeline.replaceMonthPartition(spark, root, "2025-11") { tmp =>
        graft.sources.Io.writeParquetPartitioned(
          Seq(("2025-10", 9.0)).toDF("month", "amount"), tmp, Seq("month"))
      }
    }
  }
}

object PipelineSmokeSpec {

  /** The chart of accounts under `work/reference` and the 2025-12
    * `SampleData` month under `work/raw` with five seeded defects: three
    * ERROR and two WARN exceptions.
    */
  def writeDefectMonth(work: String): Unit = {
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)
    // overwrite cell `col` of 0-based data row `row` (the row's DQ index)
    def edit(file: String, row: Int, col: Int, f: String => String): Unit = {
      val p = java.nio.file.Paths.get(work, "raw", file)
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      val cells = lines(row + 1).split(",", -1)
      cells(col) = f(cells(col))
      Files.write(p, lines.updated(row + 1, cells.mkString(",")).mkString("", "\n", "\n").getBytes)
    }
    edit("expenses.csv", 3, 5, "-" + _)              // negative amount
    edit("expenses.csv", 7, 3, _ => "99999999")      // account not in the COA
    edit("inventory_movements.csv", 4, 5, "-" + _)   // negative unit cost
    edit("sales.csv", 2, 5, _ => "junk")             // unparseable amount
    edit("sales.csv", 6, 0, _ => "")                 // blank date
  }
}
