package graft.fin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Io

/** Star-schema export (SURVEY.md §3.2; reference:
  * scripts/export_powerbi_star_schema.py:10-416).
  *
  * Same dims + facts, Spark-first: surrogate keys come from `row_number()`
  * windows at dim cardinality only (never fact-side — SURVEY.md §7.4(9)), and
  * the reference's collect-to-driver key dicts (`:218-236`) become broadcast
  * lookup joins, so fact_gl streams at any scale.
  */
object StarExport {

  /** dim_entity: distinct non-blank entities from fact+kpi, surrogate-keyed;
    * currency enrichment as deterministic min_by (the reference's
    * row-order-dependent `first()` has no distributed meaning)
    * (reference: `:76-93`).
    */
  def buildDimEntity(factM: DataFrame, kpi: DataFrame): DataFrame = {
    val spark = factM.sparkSession
    val parts = Seq(factM, kpi)
      .filter(df => df.columns.contains("entity"))
      .map(_.select(col("entity").cast("string").as("entity")))
    val entities = parts
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.emptyDataFrame.select(lit("").as("entity")).limit(0))
      .filter(col("entity").isNotNull && trim(col("entity")) =!= "")
      .distinct()

    val keyed = entities.withColumn(
      "entity_key", row_number().over(Window.orderBy("entity")))

    val enriched =
      if (factM.columns.contains("currency")) {
        val ccy = factM
          .filter(col("entity").isNotNull && col("currency").isNotNull)
          .groupBy("entity")
          .agg(expr("min_by(currency, struct(date, document_id))").as("currency"))
        keyed.join(broadcast(ccy), Seq("entity"), "left")
      } else keyed
    enriched.select(
      Seq(col("entity_key"), col("entity")) ++
        enriched.columns.filterNot(Set("entity_key", "entity")).map(col): _*)
      .orderBy("entity_key")
  }

  /** dim_account: schema-tolerant rename, dedup on code, surrogate-keyed
    * (reference: `:96-123`).
    */
  def buildDimAccount(dimAccounts: DataFrame): DataFrame = {
    val renames = Seq(
      "account_code" -> Seq("account_code", "code", "gl_account", "account"),
      "account_name" -> Seq("account_name", "name", "account"),
      "account_type" -> Seq("account_type", "type", "category"))
    val out = renames.foldLeft(dimAccounts) { case (df, (target, candidates)) =>
      Io.pickCol(df, candidates) match {
        case Some(c) if c != target => df.withColumnRenamed(c, target)
        case _ => df
      }
    }
    out
      .withColumn("account_code", col("account_code").cast("string"))
      .dropDuplicates("account_code")
      .withColumn("account_key", row_number().over(Window.orderBy("account_code")))
      .select(
        Seq(col("account_key")) ++
          out.columns.filterNot(_ == "account_key").map(col): _*)
      .orderBy("account_key")
  }

  /** dim_date: calendar attributes over the distinct dates in the month's
    * fact (reference: `:126-156`). weekofyear is ISO, matching
    * `isocalendar().week`.
    */
  def buildDimDate(factM: DataFrame, dateCol: String): DataFrame = {
    val d = to_date(col(dateCol))
    factM
      .filter(d.isNotNull)
      .select(d.as("date"))
      .distinct()
      .withColumn("date_key", date_format(col("date"), "yyyyMMdd").cast("int"))
      .withColumn("year", year(col("date")))
      .withColumn("quarter", quarter(col("date")))
      .withColumn("month_key", date_format(col("date"), "yyyyMM").cast("int"))
      .withColumn("month_label", date_format(col("date"), "yyyy-MM"))
      .withColumn("month", month(col("date")))
      .withColumn("month_name", date_format(col("date"), "MMM"))
      .withColumn("week", weekofyear(col("date")))
      .withColumn("day", dayofmonth(col("date")))
      .select("date_key", "date", "year", "quarter", "month_key", "month_label",
        "month", "month_name", "week", "day")
      .orderBy("date_key")
  }

  /** dim_month: A9 grouped MIN over dim_date (reference: `:159-170`). */
  def buildDimMonth(dimDate: DataFrame): DataFrame =
    dimDate
      .groupBy("month_key", "month_label", "year", "quarter", "month", "month_name")
      .agg(min("date_key").as("month_start_date_key"))
      .orderBy("month_key")

  /** fact_gl: amount/date keys + broadcast surrogate-key lookups (J4);
    * debit-credit fallback when no amount column (reference: `:173-256`).
    */
  def buildFactGl(
      factM: DataFrame,
      dimEntity: DataFrame,
      dimAccount: DataFrame,
      dateCol: Option[String]): DataFrame = {

    val entityCol = Io.pickCol(factM, Seq("entity", "company", "business_unit"))
    val acctCol = Io.pickCol(factM, Seq("account_code", "gl_account", "account"))
    val amtCol = Io.pickCol(factM, Seq("amount_base", "amount", "amount_tzs", "amount_usd"))

    var out = factM
    entityCol.filter(_ != "entity").foreach(c => out = out.withColumnRenamed(c, "entity"))
    acctCol.filter(_ != "account_code").foreach(c => out = out.withColumnRenamed(c, "account_code"))

    out = amtCol match {
      case Some(a) => out.withColumn("amount", col(a).try_cast("double"))
      case None if out.columns.contains("debit") && out.columns.contains("credit") =>
        out.withColumn("amount",
          coalesce(col("debit").try_cast("double"), lit(0.0)) -
            coalesce(col("credit").try_cast("double"), lit(0.0)))
      case None => out.withColumn("amount", lit(null).cast("double"))
    }

    out = dateCol.filter(out.columns.contains) match {
      case Some(c) =>
        val d = to_date(col(c))
        out.withColumn("date_key", date_format(d, "yyyyMMdd").cast("int"))
          .withColumn("month_key", date_format(d, "yyyyMM").cast("int"))
      case None =>
        out.withColumn("date_key", lit(null).cast("int"))
          .withColumn("month_key", lit(null).cast("int"))
    }

    // J4 as broadcast joins — the scale-safe form of the reference's dicts
    out = out
      .withColumn("entity", col("entity").cast("string"))
      .withColumn("account_code", col("account_code").cast("string"))
      .join(broadcast(dimEntity.select("entity", "entity_key")), Seq("entity"), "left")
      .join(broadcast(dimAccount.select("account_code", "account_key")), Seq("account_code"), "left")

    val passthrough = Seq("transaction_id", "txn_id", "move_id", "journal_id",
      "journal_name", "reference", "description", "partner", "vendor",
      "customer", "source_system").filter(out.columns.contains)

    val cols = Seq("date_key", "month_key", "entity_key", "account_key", "amount") ++ passthrough
    out.select(cols.map(col): _*).orderBy(cols.map(col): _*)
  }

  /** fact_kpi_monthly: month filter, entity_key lookup, month_key, margins
    * (reference: `:259-319`).
    */
  def buildFactKpiMonthly(kpi: DataFrame, dimEntity: DataFrame, month: String): DataFrame = {
    val monthKey = month.replace("-", "").toIntOption.getOrElse(0)
    val filtered =
      if (kpi.columns.contains("month")) kpi.filter(col("month") === lit(month))
      else kpi
    val keyed = filtered
      .withColumn("entity", col("entity").cast("string"))
      .join(broadcast(dimEntity.select("entity", "entity_key")), Seq("entity"), "left")
      .withColumn("month_key", lit(monthKey))
    val withMargins = Transform.addMarginCols(keyed)
    val keep = Seq("month_key", "entity_key") ++ Seq(
      "Asset", "COGS", "Expense", "Revenue", "gross_profit", "operating_profit",
      "gross_margin_pct", "operating_margin_pct").filter(withMargins.columns.contains)
    withMargins.select(keep.map(col): _*).orderBy("month_key", "entity_key")
  }

  final case class StarResult(outDir: String, month: String)

  /** Full export: read curated, build 4 dims + 2 facts, write CSVs + model
    * notes (reference: `:323-416`).
    */
  def `export`(
      spark: SparkSession,
      curatedDir: String,
      outDirBase: String,
      monthArg: Option[String] = None): StarResult = {

    val CuratedMonth(_, month, dateCol, factM, dimAccountsSrc, kpi) =
      CuratedMonth.read(spark, curatedDir, monthArg)
    val outDir = s"$outDirBase/$month"

    val dimEntity = buildDimEntity(factM, kpi)
    val dimAccount = buildDimAccount(dimAccountsSrc)
    val (dimDate, dimMonth) = dateCol match {
      case Some(c) =>
        val dd = buildDimDate(factM, c)
        (dd, buildDimMonth(dd))
      case None =>
        val dd = spark.emptyDataFrame
        (dd, dd)
    }
    val factGl = buildFactGl(factM, dimEntity, dimAccount, dateCol)
    val factKpi = buildFactKpiMonthly(kpi, dimEntity, month)

    Io.writeCsv(dimDate, s"$outDir/dim_date.csv")
    Io.writeCsv(dimMonth, s"$outDir/dim_month.csv")
    Io.writeCsv(dimEntity, s"$outDir/dim_entity.csv")
    Io.writeCsv(dimAccount, s"$outDir/dim_account.csv")
    Io.writeCsv(factGl, s"$outDir/fact_gl.csv")
    Io.writeCsv(factKpi, s"$outDir/fact_kpi_monthly.csv")

    val files = Seq("dim_date.csv", "dim_month.csv", "dim_entity.csv",
      "dim_account.csv", "fact_gl.csv", "fact_kpi_monthly.csv")
    // byte-parity with the reference's committed artifact, including its
    // column alignment (reference: export_powerbi_star_schema.py:390-413;
    // golden-compared in ExportSpec against data/bi_star/2025-12/)
    val notes =
      (Seq(s"month=$month", "", "Suggested Power BI Relationships:",
        "  fact_gl[date_key]      -> dim_date[date_key] (Many-to-1, single)",
        "  fact_gl[entity_key]    -> dim_entity[entity_key] (Many-to-1, single)",
        "  fact_gl[account_key]   -> dim_account[account_key] (Many-to-1, single)",
        "  fact_gl[month_key]     -> dim_month[month_key] (Many-to-1, single)  (optional)",
        "  fact_kpi_monthly[entity_key] -> dim_entity[entity_key] (Many-to-1, single)",
        "  fact_kpi_monthly[month_key]  -> dim_month[month_key] (Many-to-1, single)",
        "", "Files:") ++ files.map(f => s"  - $f")).mkString("\n")
    Io.writeText(spark, s"$outDir/POWERBI_MODEL_NOTES.txt", notes)

    StarResult(outDir, month)
  }
}
