package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer (SURVEY.md §2.1 S1-S6).
  *
  * Strict reads mirror the reference's enforced-dtype CSV reads
  * (reference: src/finance_etl/io_utils.py:8-11 raises on a missing file;
  * dtype forcing at call sites pipeline.py:69-101); tolerant reads mirror the
  * export scripts' empty-DataFrame fallback
  * (reference: scripts/export_bi_datasets.py:11-16).
  *
  * Scale notes: every read takes an explicit `StructType` so the vectorized
  * Parquet/CSV readers never run schema inference (an extra full pass at
  * 100 TB). CSV sinks coalesce to one file only because the reference emits
  * single CSV artifacts for BI handoff — the parquet sinks, which carry the
  * actual data volume, keep their natural partitioning.
  */
object Io {

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S1: schema-enforced CSV scan; fails fast on a missing file like the
    * reference's `read_csv` (io_utils.py:8-11).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    if (!exists(spark, path)) throw new java.io.FileNotFoundException(s"Missing file: $path")
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE") // junk cells become null; DQ layer reports them
      .csv(path)
  }

  /** Raw all-string CSV scan used by the DQ layer to detect unparseable cells
    * (dtype violations) before the typed read is trusted.
    */
  def readCsvRaw(spark: SparkSession, path: String): DataFrame = {
    if (!exists(spark, path)) throw new java.io.FileNotFoundException(s"Missing file: $path")
    spark.read.option("header", "true").csv(path)
  }

  /** Internal working column carrying the pandas-like 0-based file row
    * index through the DQ layer (see `Quality.withRowIndex`). Never part
    * of a curated/fact output.
    */
  val RowIndexCol = "__row_index"

  /** Typed view derived from the all-string raw frame: every contract
    * column comes from `try_cast` of its raw cell; columns missing from
    * the file become typed nulls (the DQ layer reports them as
    * `column_required`, and the pipeline proceeds on what is present —
    * the reference's validation-fallback semantics).
    *
    * The close pipeline reads each raw CSV ONCE as strings and derives
    * the typed frame here, so the DQ dtype check is exact by
    * construction: a cell is null in the typed frame iff the very
    * try_cast the check applies failed. A separate schema'd CSV read
    * would consult the CSV parser's own coercion (dateFormat fallbacks,
    * special double spellings), which can disagree with the cast — a cell
    * null in the typed frame yet passing try_cast would then silently
    * skip both the dtype check and the isNotNull-guarded value checks.
    */
  def typedFromRaw(raw: DataFrame, contract: StructType): DataFrame =
    raw.select(typedColumns(raw, contract): _*)

  /** [[typedFromRaw]]'s columns, to project beside other columns of `raw`. */
  def typedColumns(raw: DataFrame, contract: StructType): Seq[Column] =
    contract.fields.toSeq.map { f =>
      (if (raw.columns.contains(f.name)) raw(f.name).try_cast(f.dataType)
       else org.apache.spark.sql.functions.lit(null).cast(f.dataType)).as(f.name)
    }

  /** S2: tolerant parquet scan — empty DataFrame with the given schema when the
    * path is absent (reference: scripts/export_bi_datasets.py:11-12).
    */
  def readParquetOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (exists(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** S3: tolerant CSV scan (reference: scripts/export_bi_datasets.py:15-16). */
  def readCsvOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (exists(spark, path)) spark.read.schema(schema).option("header", "true").csv(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** S4: parquet sink (reference: io_utils.py:14-17). Partition-preserving. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S4 variant: hive-style partitioned parquet sink with DYNAMIC
    * partition overwrite — re-running one month replaces only that
    * month's directory (the incremental behavior a monthly close wants),
    * and month-filtered scans prune to one partition (PartitionFilters
    * in the plan) instead of reading the whole history.
    */
  def writeParquetPartitioned(df: DataFrame, path: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S5: single-file CSV sink with header — the reference writes one CSV per
    * artifact for BI tools (io_utils.py:19-21). Only for dim/KPI-scale outputs.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** S6: driver-side text artifact (data dictionaries, model notes, HTML). */
  def writeText(spark: SparkSession, path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** S8: schema-enforced JSON-Lines scan — the interchange format
    * crawl/training-data pipelines actually ingest. PERMISSIVE with a
    * corrupt-record column: a malformed line becomes a row carrying the
    * raw line in `corruptCol` with typed nulls elsewhere, so the DQ
    * layer can count and quarantine bad lines instead of a job abort
    * 80 TB into a read. Explicit schema — JSON inference is a full
    * extra pass at scale (the §2.1 contract all scans here follow).
    *
    * CAVEAT (Spark contract, not ours): a query that references ONLY
    * `corruptCol` on the raw scan raises `AnalysisException` — Spark
    * forbids projecting just the corrupt-record column from an
    * un-materialized JSON read. Materialize first (`.cache()` — what
    * IoSpec does) or select the corrupt column ALONGSIDE at least one
    * data column (e.g. `df.filter(col(corruptCol).isNotNull)
    * .select(idCol, corruptCol)`); the bad-line COUNT is always safe as
    * `df.filter(col(corruptCol).isNotNull).select(anyDataCol).count()`.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                corruptCol: String = "_corrupt_record"): DataFrame = {
    if (!exists(spark, path)) throw new java.io.FileNotFoundException(s"Missing file: $path")
    spark.read
      .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** S8 sink: JSON-Lines, partition-preserving (one line per row — the
    * shard format downstream tokenizer/training jobs stream).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S9: schema-pinned ORC scan/sink — Spark's other native columnar
    * format, kept at parity with the parquet path (predicate pushdown
    * and column pruning work identically; useful when an upstream lake
    * standardized on ORC).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    if (!exists(spark, path)) throw new java.io.FileNotFoundException(s"Missing file: $path")
    spark.read.schema(schema).orc(path)
  }

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** `_pick_col` schema tolerance: first candidate present in the frame
    * (reference: scripts/export_powerbi_star_schema.py:18-23).
    */
  def pickCol(df: DataFrame, candidates: Seq[String]): Option[String] =
    candidates.find(df.columns.contains)

  /** Small-file compaction: rewrite a parquet directory into `nFiles`
    * files, optionally sorted so each output file covers a contiguous
    * key range (range partition + within-file sort — the layout that
    * keeps min/max row-group pruning effective after compaction). The
    * operational fix for streaming/incremental sinks that accrete
    * thousands of KB-sized files until listing + task scheduling, not
    * data volume, dominates a 100 TB scan. Temp-and-swap: the source
    * directory is only replaced after the compacted write succeeds
    * (same crash-safety contract as the month-partition replacement in
    * fin/Pipeline).
    *
    * Concurrency contract — SINGLE WRITER, NO CONCURRENT READERS of the
    * same `path`: the rename(src→bak); rename(tmp→src) pair is not
    * atomic, so a reader racing the swap can observe an absent dataset,
    * and two concurrent compactions of one path race on the shared
    * tmp/bak names. Crash recovery IS automated: a crash between the two
    * renames strands the data under `.old_<name>` with `path` absent —
    * on the next call we detect that state and restore the backup before
    * proceeding, so a failed compaction heals itself on retry.
    */
  def compactParquet(spark: SparkSession, path: String, nFiles: Int,
                     sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val src = new org.apache.hadoop.fs.Path(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(src.getParent, s".compact_${src.getName}")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // recover from a crash in a previous swap window: src gone but the
    // backup present → the backup is the authoritative data; restore it
    val bak0 = new org.apache.hadoop.fs.Path(src.getParent, s".old_${src.getName}")
    if (!fs.exists(src) && fs.exists(bak0)) {
      if (!fs.rename(bak0, src))
        sys.error(s"compactParquet: cannot restore stranded backup $bak0 to $src")
    }
    val df = spark.read.parquet(path)
    val arranged =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    arranged.write.parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(src.getParent, s".old_${src.getName}")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(src, bak)) sys.error(s"compactParquet: cannot move $src aside")
    if (!fs.rename(tmp, src)) {
      fs.rename(bak, src) // roll back
      sys.error(s"compactParquet: cannot move compacted data into $src")
    }
    fs.delete(bak, true)
  }

  /** Schema-evolution read: union the schemas of all parquet files in
    * `path` (columns added by later writers surface as nulls on older
    * files). Spark's default read pins the schema of one random file —
    * silently DROPPING late-added columns — so evolving directories must
    * opt in here; contract spec'd in IoSpec.
    */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
