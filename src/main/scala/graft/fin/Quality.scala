package graft.fin

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Io

/** Data-quality framework (SURVEY.md §2.2 P6/P7, §2.4 A5-A7, §2.3 J5).
  *
  * Spark-native re-design of the reference's pandera layer
  * (reference: src/finance_etl/quality.py:16-95 schemas, :98-115 lazy
  * collection, :123-183 severity, :186-249 summary/status). pandera validates
  * lazily, collecting every failing row of every check; here each check is
  * a `Column` predicate, one select per dataset runs all of its row-level
  * checks and explodes each row's failures into exception rows, and the
  * dup-key groups and the COA anti-join add one pass each. Nothing about
  * the design caps the input size (violations stream out as a DataFrame;
  * only the PASS/FAIL gate aggregates).
  *
  * Per-row exceptions carry the pandas-like 0-based file row `index`
  * (pandera parity) via [[withRowIndex]]; group/table-level exceptions
  * (dup-key groups, schema shape) have no row identity and carry null,
  * matching pandera's dataframe-level failure cases.
  */
object Quality {

  /** One column-level check: rows violating `predicate` become exceptions. */
  final case class ColumnCheck(column: String, name: String, predicate: Column)

  /** Datasets in fixed summary order (reference: quality.py:118). */
  val Datasets: Seq[String] =
    Seq("sales", "expenses", "payroll", "inventory_movements", "fx_rates")

  // ---- check sets per dataset (reference: quality.py:16-95) ----

  private def isinCheck(c: String, allowed: Seq[String]): ColumnCheck =
    ColumnCheck(c, s"isin(${allowed.mkString(",")})", col(c).isin(allowed: _*))

  def columnChecks(dataset: String, settings: Settings): Seq[ColumnCheck] = {
    val ccy = settings.allowedCurrencies
    dataset match {
      case "sales" => Seq(
        isinCheck("currency", ccy),
        ColumnCheck("amount", "greater_than(0)", col("amount") > 0))
      case "expenses" => Seq(
        isinCheck("currency", ccy),
        ColumnCheck("amount", "greater_than(0)", col("amount") > 0))
      case "payroll" => Seq(
        isinCheck("currency", ccy),
        ColumnCheck("gross", "greater_than_or_equal_to(0)", col("gross") >= 0),
        ColumnCheck("deductions", "greater_than_or_equal_to(0)", col("deductions") >= 0),
        ColumnCheck("net", "greater_than_or_equal_to(0)", col("net") >= 0))
      case "inventory_movements" => Seq(
        isinCheck("movement_type", Seq("receipt", "issue", "adjustment")),
        ColumnCheck("qty", "not_equal_to(0)", col("qty") =!= 0),
        ColumnCheck("unit_cost", "greater_than_or_equal_to(0)", col("unit_cost") >= 0),
        isinCheck("currency", ccy))
      case "fx_rates" => Seq(
        isinCheck("from_currency", ccy),
        isinCheck("to_currency", Seq(settings.baseCurrency)),
        ColumnCheck("rate", "greater_than(0)", col("rate") > 0))
      case other => throw new IllegalArgumentException(s"Unknown dataset: $other")
    }
  }

  /** Duplicate-key groups per dataset (reference: quality.py:8-13,27,43,93). */
  val DupKeys: Map[String, Seq[String]] = Map(
    "sales" -> Seq("entity", "invoice_id"),
    "expenses" -> Seq("entity", "bill_id"),
    "fx_rates" -> Seq("date", "from_currency", "to_currency"))

  /** Raw frame with the pandas-like 0-based row index attached — the
    * `index` pandera reports for each failing row
    * (reference: quality.py:106-108, pipeline.py:40 `bad.index`).
    */
  def withRowIndex(raw: DataFrame): DataFrame = withRowIndex(Seq(raw)).head

  /** Each raw frame with its own row index attached (see the single-frame
    * overload).
    *
    * A bare `zipWithIndex` does NOT honor file order in general: Spark
    * packs file splits into partitions sorted by split length
    * DESCENDING, so a file big enough to split (or a multi-file read)
    * can enumerate splits out of file order. Instead the index is
    * derived from each row's split identity (`_metadata.file_path`,
    * `_metadata.file_block_start` — exposed for all file sources):
    * rows keep file order WITHIN a split, so a first pass counts rows
    * per split (driver state O(#splits), never O(rows)), an exclusive
    * prefix sum over each frame's splits ordered by (path, block offset)
    * yields each split's starting index, and a second pass assigns
    * offset + the row's position within its split. Multi-file reads
    * index files in path order. The counting pass of all the frames is
    * one job (their per-split counts, tagged with the frame, in one
    * union), paid only in the DQ layer; the working column is projected
    * away before any curated output.
    */
  def withRowIndex(raws: Seq[DataFrame]): Seq[DataFrame] = {
    val withMeta = raws.map(_
      .withColumn("__dq_file", col("_metadata.file_path"))
      .withColumn("__dq_blk", col("_metadata.file_block_start"))
      .rdd)
    val splitCounts = raws.head.sparkSession.sparkContext.union(
      withMeta.zip(raws).zipWithIndex.map { case ((rdd, raw), frame) =>
        val n = raw.columns.length
        rdd.mapPartitions { it =>
          val m = scala.collection.mutable.LinkedHashMap.empty[(Int, String, Long), Long]
          it.foreach { r =>
            val k = (frame, r.getString(n), r.getLong(n + 1))
            m.update(k, m.getOrElse(k, 0L) + 1L)
          }
          m.iterator
        }
      }).reduceByKey(_ + _).collect()
    raws.zip(withMeta).zipWithIndex.map { case ((raw, rdd), frame) =>
      val spark = raw.sparkSession
      val n = raw.columns.length
      val offsets = {
        var acc = 0L
        splitCounts.collect { case ((`frame`, f, b), c) => (f, b) -> c }
          .sortBy(_._1).map { case (k, c) => val o = k -> acc; acc += c; o }.toMap
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val schema = raw.schema.add(Io.RowIndexCol, LongType, nullable = false)
      val indexed = rdd.mapPartitions { it =>
        // a partition may pack several splits; per-split counters keep
        // each row's within-split position regardless of packing
        val local = scala.collection.mutable.HashMap.empty[(String, Long), Long]
        it.map { r =>
          val k = (r.getString(n), r.getLong(n + 1))
          val i = local.getOrElse(k, 0L)
          local.update(k, i + 1L)
          org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(2) :+ (bc.value(k) + i))
        }
      }
      spark.createDataFrame(indexed, schema)
    }
  }

  /** The output contract columns of one exception found in `df`. Per-row
    * exceptions carry `df`'s row index; group/table-level sources have no
    * row identity and carry null.
    */
  private def exceptionCols(
      df: DataFrame, dataset: String, column: String, check: String,
      failureCase: Column, schemaContext: String): Seq[Column] = Seq(
    lit(dataset).as("dataset"),
    (if (df.columns.contains(Io.RowIndexCol)) col(Io.RowIndexCol) else lit(null))
      .cast(LongType).as("index"),
    lit(column).as("column"),
    lit(check).as("check"),
    failureCase.cast(StringType).as("failure_case"),
    lit(schemaContext).as("schema_context"),
    lit(null).cast(IntegerType).as("check_number"))

  private def exceptionRows(
      df: DataFrame, dataset: String, column: String, check: String,
      failureCase: Column, schemaContext: String = "Column"): DataFrame =
    df.select(exceptionCols(df, dataset, column, check, failureCase, schemaContext): _*)

  /** Validate one dataset: schema strictness, nullability, dtype coercion,
    * value checks, dup-key and table-level identity checks. Returns the
    * exceptions DataFrame (possibly empty; severity added later).
    *
    * `raw` is the all-string read of the file, with [[withRowIndex]]'s
    * index when exceptions should report it. One select projects the typed
    * view (`Io.typedColumns`) beside the raw strings and runs every
    * row-level check, so the dtype check is exact by construction: a typed
    * cell is null iff its try_cast failed, and no cell can pass the dtype
    * check yet skip the isNotNull-guarded value checks. Non-null raw but
    * null typed is a dtype error (pandera `coerce=True`); null raw in a
    * non-nullable column violates nullability.
    */
  def validateDataset(
      spark: SparkSession,
      raw: DataFrame,
      dataset: String,
      contract: StructType,
      settings: Settings): DataFrame = {

    val expected = contract.fields.map(_.name).toSeq
    val actual = raw.columns.toSeq.filterNot(_ == Io.RowIndexCol)

    // strict=True schema shape (reference: quality.py strict schemas):
    // missing required column → ERROR-keyed check name; unknown column → WARN.
    val shape = expected.filterNot(actual.contains).map(_ -> "column_required") ++
      actual.filterNot(expected.contains).map(_ -> "column_in_schema")
    val shapeExceptions = shape.map { case (c, check) =>
      exceptionRows(spark.range(1).toDF(), dataset, c, check, lit(c), "DataFrameSchema")
    }

    val present = contract.fields.toSeq.filter(f => actual.contains(f.name))
    def rawCell(c: String) = col(s"__raw_$c")
    val view = raw.select(Io.typedColumns(raw, contract) ++
      present.map(f => raw(f.name).as(s"__raw_${f.name}")) ++
      raw.columns.filter(_ == Io.RowIndexCol).map(col): _*)
    def failure(violation: Column, column: String, check: String, failureCase: Column,
                schemaContext: String = "Column"): Column =
      when(violation, struct(
        exceptionCols(view, dataset, column, check, failureCase, schemaContext): _*))

    // try_cast is lenient P10 coercion (null on junk) even under ANSI mode
    val cellChecks = present.flatMap { f =>
      failure(col(f.name).isNull && rawCell(f.name).isNotNull, f.name,
        s"dtype('${f.dataType.simpleString}')", rawCell(f.name)) +:
        (if (f.nullable) Nil
         else Seq(failure(rawCell(f.name).isNull, f.name, "not_nullable", lit(null))))
    }
    // null cells are reported above, so value checks skip them
    val valueChecks = columnChecks(dataset, settings).map { c =>
      failure(col(c.column).isNotNull && !c.predicate, c.column, c.name, col(c.column))
    }
    // Payroll identity |gross - deductions - net| < 0.01 (A7, quality.py:59-65),
    // reported per offending row.
    val identityCheck =
      if (dataset != "payroll") Nil
      else Seq(failure(abs(col("gross") - col("deductions") - col("net")) >= 0.01,
        "net", "payroll_identity", col("net"), "DataFrameSchema"))
    // one exception row per failed check; array_compact drops the passed ones
    val rowExceptions = view.select(
      inline(array_compact(array(cellChecks ++ valueChecks ++ identityCheck: _*))))

    // Duplicate-key groups (A6): one exception per offending key-group.
    val dupExceptions = DupKeys.get(dataset).toSeq.map { keys =>
      val grouped = view.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      exceptionRows(
        grouped, dataset, keys.mkString(","),
        s"duplicate_key(${keys.mkString(",")})",
        concat_ws("|", keys.map(col): _*), schemaContext = "DataFrameSchema")
    }

    (shapeExceptions ++ dupExceptions).foldLeft(rowExceptions)(_.unionByName(_))
  }

  /** COA referential-integrity check as a true anti-join — never collects the
    * key set to the driver (reference collects: pipeline.py:30-47; J3).
    */
  def accountInCoaExceptions(raw: DataFrame, dataset: String, coaCodes: DataFrame): DataFrame = {
    // like the typed view, a missing account_code column reads as nulls
    val code = if (raw.columns.contains("account_code")) col("account_code") else lit(null)
    val bad = raw
      .withColumn("account_code", code.cast("string"))
      .join(broadcast(coaCodes.select(col("account_code").cast("string").as("account_code"))),
        Seq("account_code"), "left_anti")
    exceptionRows(bad, dataset, "account_code", "account_in_coa", col("account_code"))
  }

  /** Columns whose violations are always ERROR (reference: quality.py:150-162). */
  val ErrorColumns: Seq[String] = Seq(
    "account_code", "date", "invoice_id", "bill_id", "employee_id", "sku",
    "currency", "from_currency", "to_currency", "rate")

  /** Severity rules (reference: quality.py:123-183): default WARN; ERROR when
    * the column is critical, the dataset is fx_rates, or the check name
    * contains required / dtype / account_in_coa (case-insensitive).
    */
  def addSeverity(dq: DataFrame): DataFrame = {
    val checkLower = lower(col("check"))
    dq.withColumn("severity",
      when(col("column").isin(ErrorColumns: _*), "ERROR")
        .when(col("dataset") === "fx_rates", "ERROR")
        .when(checkLower.contains("required"), "ERROR")
        .when(checkLower.contains("dtype"), "ERROR")
        .when(checkLower.contains("account_in_coa"), "ERROR")
        .otherwise("WARN"))
  }

  /** Overall PASS/FAIL (reference: quality.py:186-202). Takes pre-aggregated
    * counts so the caller materializes the exceptions once.
    */
  def overallStatus(errorCount: Long, totalCount: Long, failOn: String): String = {
    val mode = Option(failOn).getOrElse("ERROR").toUpperCase
    if (totalCount == 0) "PASS"
    else mode match {
      case "NEVER" => "PASS"
      case "WARN" => "FAIL"
      case _ => if (errorCount > 0) "FAIL" else "PASS"
    }
  }

  /** Per-dataset summary (reference: quality.py:205-249): all 5 datasets with
    * zero-filled severity count pivot (A5), issue_count, status (J5).
    */
  def summaryTable(spark: SparkSession, dqWithSeverity: DataFrame, failOn: String): DataFrame = {
    import spark.implicits._
    val mode = Option(failOn).getOrElse("ERROR").toUpperCase
    val base = Datasets.toDF("dataset")

    val counts = dqWithSeverity
      .groupBy("dataset")
      .pivot("severity", Seq("ERROR", "WARN"))
      .count()
      .withColumnRenamed("ERROR", "error_count")
      .withColumnRenamed("WARN", "warn_count")

    val joined = base.join(counts, Seq("dataset"), "left")
      .na.fill(0L, Seq("error_count", "warn_count"))
      .withColumn("issue_count", col("error_count") + col("warn_count"))

    val withStatus = mode match {
      case "NEVER" => joined.withColumn("status", lit("PASS"))
      case "WARN" =>
        joined.withColumn("status", when(col("issue_count") > 0, "FAIL").otherwise("PASS"))
      case _ =>
        joined.withColumn("status", when(col("error_count") > 0, "FAIL").otherwise("PASS"))
    }
    // keep the reference's fixed dataset order
    val order = Datasets.zipWithIndex.toMap
    val orderCol = Datasets.foldLeft(lit(Int.MaxValue)) { (acc, d) =>
      when(col("dataset") === d, lit(order(d))).otherwise(acc)
    }
    withStatus
      .withColumn("_ord", orderCol)
      .orderBy("_ord")
      .select("dataset", "error_count", "warn_count", "issue_count", "status")
  }
}
