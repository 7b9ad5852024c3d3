package graft.fin

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core close-pipeline transforms (SURVEY.md §2.2-2.8).
  *
  * Re-expresses the reference's pandas operator DAG
  * (reference: src/finance_etl/transform.py:6-128) as one lazy Catalyst plan
  * per output. Every dimension-side join is broadcast (FX and COA are tiny
  * relative to the fact at any scale); the fact side never collects to the
  * driver, so the same plan runs unchanged on a 1000-executor cluster.
  *
  * Money semantics: the reference rounds with pandas `Series.round(2)`
  * (IEEE-754 half-even), so all 2dp money rounding here uses `bround`, not
  * `round` (HALF_UP) — see SURVEY.md §7.4(1).
  */
object Transform {

  /** Account codes as strings — reference: src/finance_etl/transform.py:6-9. */
  def buildDimAccounts(chartOfAccounts: DataFrame): DataFrame =
    chartOfAccounts.withColumn("account_code", col("account_code").cast("string"))

  /** Keep only rates quoting into the base currency
    * (reference: src/finance_etl/transform.py:12-16) — the hand-written
    * predicate pushdown the reference does before its merge; here it also
    * shrinks the broadcast side of J1.
    */
  def fxToBase(fxRates: DataFrame, baseCurrency: String): DataFrame =
    fxRates.filter(col("to_currency") === lit(baseCurrency))

  /** Business-rule constants (reference: src/finance_etl/transform.py:70-84).
    * Silent data, not code structure — kept named and test-covered.
    */
  val PayrollAccount = "61000001"
  val InventoryIssueAccount = "50000001"
  val InventoryReceiptAccount = "10000001"

  /** J1 — the central FX-rate lookup join
    * (reference: src/finance_etl/transform.py:19-46).
    *
    * Left broadcast equi-join fact×fx on (date, currency)=(date, from_currency);
    * base-currency rows keep rate=1.0 even when a base→base fx row exists
    * (the reference masks before committing the joined rate, transform.py:37).
    * A missing rate on any non-base row is a hard error listing the distinct
    * (date, currency) pairs (transform.py:40-42) — the one deliberate
    * driver-side action in the plan, bounded by `MissingFxSample` pairs.
    *
    * `amount_base = bround(amount * rate, 2)` (half-even, transform.py:44).
    */
  val MissingFxSample = 20

  def addFxAmountBase(df: DataFrame, fx: DataFrame, baseCurrency: String): DataFrame = {
    val fxLookup = fx.select(
      col("date").as("fx_date"),
      col("from_currency"),
      col("rate").as("fx_rate"))

    val joined = df.join(
      broadcast(fxLookup),
      df("date") === fxLookup("fx_date") && df("currency") === fxLookup("from_currency"),
      "left")

    val withRate = joined
      .withColumn("rate",
        when(col("currency") === lit(baseCurrency), lit(1.0)).otherwise(col("fx_rate")))
      .drop("fx_date", "from_currency", "fx_rate")

    // Hard error on unresolved rates — mirrors transform.py:40-42. The sample
    // collect runs a job on every call and returns at most MissingFxSample rows.
    val missing = withRate
      .filter(col("rate").isNull)
      .select(col("date"), col("currency"))
      .distinct()
      .limit(MissingFxSample)
      .collect()
    if (missing.nonEmpty) {
      val pairs = missing.map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ")
      throw new IllegalStateException(s"Missing FX rates for: $pairs")
    }

    withRate.withColumn("amount_base", bround(col("amount") * col("rate"), 2))
  }

  private val FactSourceColumns =
    Seq("date", "entity", "source", "document_id", "account_code", "currency", "amount", "description")

  /** Normalize the 4 raw sources to the 8-column fact contract, union, FX,
    * deterministic order, txn_id (reference: src/finance_etl/transform.py:49-110).
    */
  def toFactTransactions(
      sales: DataFrame,
      expenses: DataFrame,
      payroll: DataFrame,
      inventory: DataFrame,
      fx: DataFrame,
      baseCurrency: String): DataFrame = {

    // sales: positive amounts as-is (transform.py:57-60)
    val s = sales
      .withColumn("source", lit("sales"))
      .withColumn("document_id", col("invoice_id"))
      .select(FactSourceColumns.map(col): _*)

    // expenses: sign flipped (transform.py:62-66)
    val e = expenses
      .withColumn("source", lit("expenses"))
      .withColumn("document_id", col("bill_id"))
      .withColumn("amount", -col("amount"))
      .select(FactSourceColumns.map(col): _*)

    // payroll: posts -net to the payroll account on the last day of the month
    // (transform.py:68-75)
    val p = payroll
      .withColumn("source", lit("payroll"))
      .withColumn("date", last_day(to_date(concat(col("month"), lit("-01")))))
      .withColumn("document_id", concat_ws("_", col("employee_id"), col("month")))
      .withColumn("account_code", lit(PayrollAccount))
      .withColumn("amount", -col("net"))
      .withColumn("description", lit("Payroll net"))
      .select(FactSourceColumns.map(col): _*)

    // inventory: qty*unit_cost, issues negated, movement→account map
    // (transform.py:77-86)
    val inv = inventory
      .withColumn("source", lit("inventory"))
      .withColumn("document_id", concat_ws("_", col("sku"), col("date").cast("string")))
      .withColumn("account_code",
        when(col("movement_type") === "issue", lit(InventoryIssueAccount))
          .when(col("movement_type").isin("receipt", "adjustment"), lit(InventoryReceiptAccount))
          .otherwise(lit(null).cast("string")))
      .withColumn("amount",
        when(col("movement_type") === "issue", -bround(col("qty") * col("unit_cost"), 2))
          .otherwise(bround(col("qty") * col("unit_cost"), 2)))
      .withColumn("description", concat_ws(" ", col("movement_type"), col("sku")))
      .select(FactSourceColumns.map(col): _*)

    val unioned = s.unionByName(e).unionByName(p).unionByName(inv)
      .withColumn("account_code", col("account_code").cast("string"))
      .withColumn("currency", col("currency").cast("string"))

    val withFx = addFxAmountBase(unioned, fx, baseCurrency)

    // Deterministic order (transform.py:94-95): the reference sort key,
    // extended with the remaining value columns because document_id is
    // NOT unique (inventory reuses sku_date for same-day movements) —
    // without them, partitioned execution could permute rows that share
    // the business key but differ in amount/description.
    withFx
      .withColumn("txn_id",
        concat_ws("|", col("entity").cast("string"), col("source"), col("document_id").cast("string")))
      .orderBy(col("date"), col("entity"), col("source"), col("document_id"),
        col("account_code"), col("amount"), col("description"))
      .select(Schemas.factColumns.map(col): _*)
  }

  /** The 5 closed account types (reference: data/reference/chart_of_accounts.csv). */
  val AccountTypes = Seq("Asset", "COGS", "Expense", "Liability", "Revenue")
  val EnsuredKpiColumns = Seq("Revenue", "COGS", "Expense")

  /** KPI pivot (reference: src/finance_etl/transform.py:113-128).
    *
    * Broadcast-joins account_type onto the fact, aggregates amount_base by
    * (entity, month, account_type), pivots to one column per type, guarantees
    * Revenue/COGS/Expense exist, derives profits. Pivot values are pinned
    * (`pivotValues`) so Spark never runs the extra distinct-values job and the
    * output schema is stable — SURVEY.md §7.4(3). Passing the full closed set
    * of COA types is the at-scale default; pandas parity (only observed types
    * as columns) can be had by passing the observed set.
    *
    * Deviation noted: pandas `pivot_table` drops the NaN account_type column;
    * with pinned values Spark does too (nulls match no pivot value), but a
    * group whose rows are ALL unmapped still appears here (all-zero) while
    * pandas drops it. Unreachable when COA membership is DQ-enforced.
    */
  def kpiMonthly(
      fact: DataFrame,
      dimAccounts: DataFrame,
      pivotValues: Seq[String] = AccountTypes): DataFrame = {

    val enriched = fact
      .join(broadcast(buildDimAccounts(dimAccounts).select("account_code", "account_type")),
        Seq("account_code"), "left")
      .withColumn("month", date_format(col("date"), "yyyy-MM"))

    val wide = enriched
      .groupBy("entity", "month")
      .pivot("account_type", pivotValues)
      .agg(sum("amount_base"))
      .na.fill(0.0, pivotValues)

    val ensured = EnsuredKpiColumns.foldLeft(wide) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(0.0))
    }

    // COGS/Expense carry negative signs, so profits are additive
    // (transform.py:126-127); bround = pandas half-even.
    ensured
      .withColumn("gross_profit", bround(col("Revenue") + col("COGS"), 2))
      .withColumn("operating_profit", bround(col("gross_profit") + col("Expense"), 2))
      .orderBy("entity", "month")
  }

  /** Margin ratios (reference: scripts/export_bi_datasets.py:45-55).
    * Division by zero yields null here (pandas yields ±inf — documented
    * deviation, SURVEY.md §7.4(2)); `try_divide` keeps that semantic under
    * Spark 4's default ANSI mode.
    */
  def addMarginCols(kpi: DataFrame): DataFrame = {
    val cols = kpi.columns.toSet
    if (!cols.contains("Revenue")) kpi
    else {
      val withGm =
        if (cols.contains("gross_profit"))
          kpi.withColumn("gross_margin_pct", try_divide(col("gross_profit"), col("Revenue")) * 100)
        else kpi
      if (cols.contains("operating_profit"))
        withGm.withColumn("operating_margin_pct", try_divide(col("operating_profit"), col("Revenue")) * 100)
      else withGm
    }
  }

  /** Half-open month window predicate [first-of-month, first-of-next-month)
    * over a date column (reference: src/finance_etl/pipeline.py:23-27).
    */
  def monthWindow(dateCol: Column, month: String): Column = {
    val start = to_date(lit(s"$month-01"))
    dateCol >= start && dateCol < add_months(start, 1)
  }
}
