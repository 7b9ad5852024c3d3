package graft.fin

import org.apache.spark.sql.types._

/** Explicit input/output contracts as Spark `StructType`s.
  *
  * The reference enforces schemas at read time — `read_csv(dtype=..., parse_dates=...)`
  * (reference: src/finance_etl/pipeline.py:69-101) — and validates them with
  * strict pandera schemas (reference: src/finance_etl/quality.py:16-95). We
  * declare one `StructType` per contract and pass it to `spark.read.schema(...)`;
  * schema inference is never used, so the parquet/CSV scans carry exact types
  * and Catalyst can push filters/prune columns against them at any scale.
  *
  * Type mapping (SURVEY.md §1.3): dates are day-precision `DateType`, ids and
  * codes are `StringType`, money is `DoubleType` (bit-parity with the float
  * reference; see Transform for the `bround` half-even rounding rule).
  */
object Schemas {

  // reference: src/finance_etl/quality.py:16-29
  val sales: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("invoice_id", StringType, nullable = false),
    StructField("account_code", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("description", StringType, nullable = true)
  ))

  // reference: src/finance_etl/quality.py:32-45
  val expenses: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("bill_id", StringType, nullable = false),
    StructField("account_code", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("description", StringType, nullable = true)
  ))

  // reference: src/finance_etl/quality.py:48-67 (month stays a "YYYY-MM" string)
  val payroll: StructType = StructType(Seq(
    StructField("month", StringType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("employee_id", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("gross", DoubleType, nullable = false),
    StructField("deductions", DoubleType, nullable = false),
    StructField("net", DoubleType, nullable = false)
  ))

  // reference: src/finance_etl/quality.py:70-82
  val inventory: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("sku", StringType, nullable = false),
    StructField("movement_type", StringType, nullable = false),
    StructField("qty", DoubleType, nullable = false),
    StructField("unit_cost", DoubleType, nullable = false),
    StructField("currency", StringType, nullable = false)
  ))

  // reference: src/finance_etl/quality.py:85-95
  val fxRates: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("from_currency", StringType, nullable = false),
    StructField("to_currency", StringType, nullable = false),
    StructField("rate", DoubleType, nullable = false)
  ))

  // reference: data/reference/chart_of_accounts.csv:1 (header row)
  val chartOfAccounts: StructType = StructType(Seq(
    StructField("account_code", StringType, nullable = false),
    StructField("account_name", StringType, nullable = false),
    StructField("account_type", StringType, nullable = false)
  ))

  /** Curated fact contract — column order matters for output parity
    * (reference: src/finance_etl/transform.py:97-110).
    */
  val factColumns: Seq[String] = Seq(
    "txn_id", "date", "entity", "source", "document_id", "account_code",
    "currency", "amount", "rate", "amount_base", "description")

  /** DQ exceptions contract (reference: src/finance_etl/pipeline.py:148-160). */
  val dqExceptions: StructType = StructType(Seq(
    StructField("dataset", StringType, nullable = false),
    StructField("index", LongType, nullable = true),
    StructField("column", StringType, nullable = true),
    StructField("check", StringType, nullable = false),
    StructField("failure_case", StringType, nullable = true),
    StructField("schema_context", StringType, nullable = true),
    StructField("check_number", IntegerType, nullable = true),
    StructField("severity", StringType, nullable = true)
  ))

  /** DQ summary contract (reference: src/finance_etl/quality.py:205-249). */
  val dqSummary: StructType = StructType(Seq(
    StructField("dataset", StringType),
    StructField("error_count", LongType),
    StructField("warn_count", LongType),
    StructField("issue_count", LongType),
    StructField("status", StringType)
  ))

  /** All raw contracts keyed by dataset name (reference: quality.py DATASETS). */
  val rawContracts: Map[String, StructType] = Map(
    "sales" -> sales,
    "expenses" -> expenses,
    "payroll" -> payroll,
    "inventory_movements" -> inventory,
    "fx_rates" -> fxRates
  )
}
