package graft.fin

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Severity rule table, summary pivot, status logic and the per-dataset
  * checks (reference: src/finance_etl/quality.py:123-249).
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private def ex(dataset: String, column: String, check: String) =
    Seq((dataset, column, check, "x", "Column"))
      .toDF("dataset", "column", "check", "failure_case", "schema_context")
      .withColumn("index", lit(null).cast("long"))
      .withColumn("check_number", lit(null).cast("int"))

  test("severity rules: critical column / fx dataset / check-name keywords -> ERROR, else WARN") {
    val cases = Seq(
      ("sales", "amount", "greater_than(0)", "WARN"),       // default
      ("sales", "currency", "isin(...)", "ERROR"),          // critical column
      ("fx_rates", "anything", "whatever", "ERROR"),        // fx dataset
      ("payroll", "gross", "column_REQUIRED", "ERROR"),     // contains required (ci)
      ("payroll", "gross", "dtype('double')", "ERROR"),     // contains dtype
      ("sales", "account_x", "account_in_coa", "ERROR"))    // coa membership
    cases.foreach { case (d, c, chk, want) =>
      val got = Quality.addSeverity(ex(d, c, chk)).select("severity").as[String].head()
      assert(got === want, s"($d, $c, $chk)")
    }
  }

  test("overall status matrix") {
    assert(Quality.overallStatus(0, 0, "ERROR") === "PASS")
    assert(Quality.overallStatus(0, 5, "ERROR") === "PASS")  // WARNs only
    assert(Quality.overallStatus(1, 5, "ERROR") === "FAIL")
    assert(Quality.overallStatus(0, 1, "WARN") === "FAIL")
    assert(Quality.overallStatus(9, 9, "NEVER") === "PASS")
  }

  test("summary table: all 5 datasets zero-filled, counts pivoted, fixed order") {
    val dq = Quality.addSeverity(
      ex("sales", "currency", "isin").unionByName(ex("sales", "amount", "greater_than(0)")))
    val sum = Quality.summaryTable(spark, dq, "ERROR").collect()
    assert(sum.map(_.getString(0)).toSeq === Quality.Datasets)
    val sales = sum.head
    assert(sales.getAs[Long]("error_count") === 1L)
    assert(sales.getAs[Long]("warn_count") === 1L)
    assert(sales.getAs[Long]("issue_count") === 2L)
    assert(sales.getAs[String]("status") === "FAIL")
    assert(sum.drop(1).forall(_.getAs[String]("status") == "PASS"))
  }

  test("validateDataset: dup keys, value violations, dtype coercion, payroll identity") {
    val typed = Seq(
      ("2025-12", "E1", "EMP-1", "USD", 100.0, 10.0, 90.0),
      ("2025-12", "E1", "EMP-1", "USD", 100.0, 10.0, 90.0),    // not a dup check dataset
      ("2025-12", "E1", "EMP-2", "XXX", -5.0, 10.0, 80.0))     // bad ccy, gross<0, identity broken
      .toDF("month", "entity", "employee_id", "currency", "gross", "deductions", "net")
    val raw = typed.select(typed.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*)
    val exs = Quality.validateDataset(
      spark, raw, "payroll", Schemas.payroll, Settings.default)
      .select("check").as[String].collect().toSeq
    assert(exs.count(_.startsWith("isin")) === 1)
    assert(exs.count(_ == "greater_than_or_equal_to(0)") === 1)
    assert(exs.count(_ == "payroll_identity") === 1)

    val sales = Seq(
      ("2025-12-01", "E1", "I1", "40000001", "USD", "100.0", "d"),
      ("2025-12-01", "E1", "I1", "40000001", "USD", "100.0", "d"),  // dup (entity, invoice_id)
      ("not-a-date", "E1", "I2", "40000001", "USD", "junk", "d"))   // dtype x2
      .toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")
    val sexs = Quality.validateDataset(
      spark, sales, "sales", Schemas.sales, Settings.default)
      .select("check").as[String].collect().toSeq
    assert(sexs.count(_.startsWith("duplicate_key")) === 1)
    assert(sexs.count(_.startsWith("dtype")) === 2)
  }

  test("per-row exceptions report the failing file row index, pandas-style") {
    val work = java.nio.file.Files.createTempDirectory("graft-dq-index").toString
    // row 0 ok; row 1 bad currency; row 2 junk amount
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "sales.csv"),
      ("date,entity,invoice_id,account_code,currency,amount,description\n" +
        "2025-12-01,E1,I1,40000001,USD,100.0,ok\n" +
        "2025-12-01,E1,I2,40000001,XXX,100.0,bad ccy\n" +
        "2025-12-01,E1,I3,40000001,USD,junk,bad amt\n").getBytes)
    val raw = Quality.withRowIndex(
      graft.sources.Io.readCsvRaw(spark, s"$work/sales.csv"))
    val exs = Quality.validateDataset(spark, raw, "sales", Schemas.sales, Settings.default)
      .select("check", "index").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(exs.collectFirst { case (c, i) if c.startsWith("isin") => i } === Some(1L))
    assert(exs.collectFirst { case (c, i) if c.startsWith("dtype") => i } === Some(2L))
    // the index working column must never be reported as an unknown column
    assert(!exs.keySet.exists(_ == "column_in_schema"))
  }

  test("row index matches file line order on a CSV large enough to split") {
    // Spark packs file splits into partitions sorted by length DESC, so
    // a multi-split file must not rely on partition enumeration order.
    // Force many small splits and assert index == 0-based data-line
    // position for every row.
    val work = java.nio.file.Files.createTempDirectory("graft-dq-split").toString
    val lines = (0 until 4000).map(i => s"2025-12-01,E$i,$i")
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "big.csv"),
      ("date,entity,amount\n" + lines.mkString("\n") + "\n").getBytes)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevCost = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val raw = graft.sources.Io.readCsvRaw(spark, s"$work/big.csv")
      assert(raw.rdd.getNumPartitions > 5, "fixture must actually split")
      val idx = Quality.withRowIndex(raw)
        .select(col("entity"), col(graft.sources.Io.RowIndexCol))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(idx.size === 4000)
      (0 until 4000).foreach(i => assert(idx(s"E$i") === i.toLong,
        s"row E$i got index ${idx(s"E$i")}"))
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", prevCost)
    }
  }

  test("row index orders multi-file reads by path, not by packed split size") {
    // Spark packs splits LARGEST-first, so with b.csv ≫ a.csv a bare
    // zipWithIndex would index b's rows first; the contract is file
    // order = path order (a.csv before b.csv), rows in file order.
    val work = java.nio.file.Files.createTempDirectory("graft-dq-multi").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "a.csv"),
      ("date,entity,amount\n" +
        (0 until 3).map(i => s"2025-12-01,A$i,$i").mkString("\n") + "\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "b.csv"),
      ("date,entity,amount\n" +
        (0 until 400).map(i => s"2025-12-01,B$i,$i").mkString("\n") + "\n").getBytes)
    val raw = graft.sources.Io.readCsvRaw(spark, work)
    val idx = Quality.withRowIndex(raw)
      .select(col("entity"), col(graft.sources.Io.RowIndexCol))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx.size === 403)
    (0 until 3).foreach(i => assert(idx(s"A$i") === i.toLong))
    (0 until 400).foreach(i => assert(idx(s"B$i") === (3 + i).toLong))
  }

  test("typedFromRaw casts per contract and nulls missing columns") {
    val raw = Seq(("2025-12-01", "E1", "junk"), ("not-a-date", "E2", "7.5"))
      .toDF("date", "entity", "amount")
    val typed = graft.sources.Io.typedFromRaw(raw, Schemas.sales)
    assert(typed.columns.toSeq === Schemas.sales.fields.map(_.name).toSeq)
    assert(typed.schema("date").dataType.typeName === "date")
    assert(typed.schema("amount").dataType.typeName === "double")
    val rows = typed.select("date", "amount", "invoice_id").collect()
    assert(!rows(0).isNullAt(0) && rows(0).isNullAt(1))  // junk amount → null
    assert(rows(1).isNullAt(0) && rows(1).getDouble(1) === 7.5)
    assert(rows.forall(_.isNullAt(2)), "missing contract column is typed null")
  }

  test("strict schema shape: missing column -> column_required, extra -> column_in_schema") {
    val raw = Seq(("2025-12-01", "E1", "oops")).toDF("date", "entity", "bogus")
    val exs = Quality.validateDataset(
      spark, raw, "sales", Schemas.sales, Settings.default)
    val byCheck = exs.groupBy("check").count().as[(String, Long)].collect().toMap
    assert(byCheck("column_required") === 5L)   // invoice_id, account_code, currency, amount, description
    assert(byCheck("column_in_schema") === 1L)  // bogus
    // missing-column severity must classify ERROR via "required"
    val sev = Quality.addSeverity(exs)
      .filter(col("check") === "column_required")
      .select("severity").distinct().as[String].collect()
    assert(sev.toSeq === Seq("ERROR"))
  }

  /** `rows` under the sales header, read back with its file row index. */
  private def indexedSales(rows: String*) = {
    val work = java.nio.file.Files.createTempDirectory("graft-dq-sales").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "sales.csv"),
      ("date,entity,invoice_id,account_code,currency,amount,description\n" +
        rows.map(_ + "\n").mkString).getBytes)
    Quality.withRowIndex(graft.sources.Io.readCsvRaw(spark, s"$work/sales.csv"))
  }

  test("a row failing several checks reports one exception per failed check") {
    // row 1: bad currency, non-positive amount, and (with row 0) a duplicate key
    val raw = indexedSales(
      "2025-12-01,E1,I1,40000001,USD,100.0,ok",
      "2025-12-01,E1,I1,40000001,XXX,-5.0,bad")
    val exs = Quality.validateDataset(spark, raw, "sales", Schemas.sales, Settings.default)
      .select("check", "index", "failure_case").collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getString(2))).toSeq.sortBy(_._1)
    assert(exs === Seq(
      ("duplicate_key(entity,invoice_id)", None, "E1|I1"),
      ("greater_than(0)", Some(1L), "-5.0"),
      ("isin(USD,TZS,EUR)", Some(1L), "XXX")))
  }

  test("validateDataset reads its input in one row pass plus the dup-key pass") {
    val raw = indexedSales("2025-12-01,E1,I1,40000001,USD,100.0,ok")
    val plan = Quality.validateDataset(spark, raw, "sales", Schemas.sales, Settings.default)
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().size <= 2, plan.treeString)
  }

  test("accountInCoa anti-join emits exceptions only for unknown codes") {
    val df = Seq(("40000001", 1), ("99999999", 2)).toDF("account_code", "v")
    val coa = Seq("40000001").toDF("account_code")
    val exs = Quality.accountInCoaExceptions(df, "sales", coa).collect()
    assert(exs.length === 1)
    assert(exs.head.getAs[String]("failure_case") === "99999999")
    assert(exs.head.getAs[String]("check") === "account_in_coa")
  }
}
