package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SourceBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source/sink layer (SURVEY.md §2.1 S1-S6).
  *
  * Strict reads mirror the reference's enforced-dtype CSV reads
  * (reference: src/finance_etl/io_utils.py:8-11 raises on a missing file;
  * dtype forcing at call sites pipeline.py:69-101); tolerant reads mirror the
  * export scripts' empty-DataFrame fallback
  * (reference: scripts/export_bi_datasets.py:11-16).
  *
  * Scale notes: reads here run no schema-inference job (at 100 TB an extra
  * pass; at close size, or while a query is being built, a Spark job per
  * read that does no data work). They take an explicit `StructType`, or
  * resolve the schema on the driver the way inference would: the raw CSV
  * header from the first non-empty line, parquet from one footer. This
  * covers the close's reads and every query-layer table read
  * ([[readTable]]). Only file layouts those two leave to Spark (see
  * [[readCsvRaw]], `readParquet`) and [[readParquetMerged]], whose
  * contract is to merge every file's footer, still infer with a job.
  * CSV sinks write one file only because the reference emits single CSV
  * artifacts for BI handoff — the parquet sinks, which carry the actual
  * data volume, keep their natural partitioning.
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
    * (dtype violations) before the typed read is trusted. The columns are
    * those `header` inference gives, resolved on the driver from the
    * first non-empty line of the file a scan reads first (the largest;
    * the listing order breaks ties). A file or a flat directory of files;
    * any other layout, or no non-empty line, is left to Spark's inference.
    */
  def readCsvRaw(spark: SparkSession, path: String): DataFrame = {
    if (!exists(spark, path)) throw new java.io.FileNotFoundException(s"Missing file: $path")
    val reader = spark.read.option("header", "true")
    val header = leafFiles(spark, path, partitioned = false).flatMap { case (files, _) =>
      files.sortBy(-_.getLen).iterator.flatMap(firstNonEmptyLine(spark, _)).nextOption()
    }.map(SourceBridge.csvHeader(spark, Map("header" -> "true"), _))
    header.fold(reader)(names => reader.schema(StructType(names.map(StructField(_, StringType)))))
      .csv(path)
  }

  /** The first line of `file` that a CSV scan counts as non-empty (one
    * with a character other than a space), split and decoded as the text
    * reader does: UTF-8, `\n`/`\r\n`/`\r` line ends, compressed files
    * decompressed.
    */
  private def firstNonEmptyLine(spark: SparkSession, file: FileStatus): Option[String] = {
    val conf = SourceBridge.hadoopConf(spark)
    val raw = file.getPath.getFileSystem(conf).open(file.getPath)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file.getPath))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val lines = new BufferedReader(new InputStreamReader(in, UTF_8))
    try Iterator.continually(lines.readLine()).takeWhile(_ != null).find(_.exists(_ != ' '))
    finally lines.close()
  }

  /** The files a scan of `path` lists (hidden names skipped; the parquet
    * summary files `_metadata` and `_common_metadata` are listed, not
    * hidden) and the partition keys of its `key=value` directories; None
    * for a layout only Spark's listing should interpret: any subdirectory
    * when not `partitioned`, else one that is not a `key=value` directory.
    */
  private def leafFiles(spark: SparkSession, path: String,
                        partitioned: Boolean): Option[(Seq[FileStatus], Set[String])] = {
    val root = new Path(path)
    val fs = root.getFileSystem(SourceBridge.hadoopConf(spark))
    def walk(dir: Path): Option[(Seq[FileStatus], Set[String])] = {
      val (dirs, files) = fs.listStatus(dir).toSeq
        .filterNot(s => SourceBridge.isHiddenName(s.getPath.getName)).partition(_.isDirectory)
      val names = dirs.map(_.getPath.getName)
      if (names.exists(n => !partitioned || !n.contains("="))) None
      else dirs.foldLeft(Option((files, names.map(_.takeWhile(_ != '=')).toSet))) { (acc, d) =>
        for ((f, k) <- acc; (f2, k2) <- walk(d.getPath)) yield (f ++ f2, k ++ k2)
      }
    }
    val status = fs.getFileStatus(root)
    if (status.isFile) Some((Seq(status), Set.empty)) else walk(root)
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
    if (exists(spark, path)) readParquet(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Parquet scan of `path` with the data schema inference would take,
    * read from one footer on the driver: `_common_metadata`, else
    * `_metadata`, else the first data file in path order of `listed` (the
    * `leafFiles` of `path`). Partition columns are discovered as by any
    * read. Schema merging, a data column named like a partition key, an
    * unreadable footer or a directory without data files is left to
    * Spark's own read (which fails loudly on the last).
    */
  private def readParquet(spark: SparkSession, path: String,
                          listed: Option[(Seq[FileStatus], Set[String])]): DataFrame = {
    val schema = if (SourceBridge.parquetMergesSchemas(spark)) None
      else listed.flatMap { case (files, keys) =>
        val byPath = files.sortBy(_.getPath.toString)
        Summaries.iterator.flatMap(n => byPath.find(_.getPath.getName == n)).nextOption()
          .orElse(byPath.find(f => !Summaries.contains(f.getPath.getName)))
          .flatMap(f => Try(SourceBridge.parquetFooter(spark, f)._1).toOption)
          .filterNot(_.fieldNames.exists(n => keys.exists(_.equalsIgnoreCase(n))))
      }
    schema.fold(spark.read)(spark.read.schema).parquet(path)
  }

  private def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, leafFiles(spark, path, partitioned = true))

  /** Parquet summary files, in the order a schema is taken from them. */
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** The query layer's parquet table read: `readParquet`'s scan, mapped by
    * `derive`, then fanned out to the session shuffle width when the
    * files cannot feed that width on their own. One listing of `path`
    * serves both the schema and the fan-out decision. `derive` runs
    * before the exchange, for columns that depend on the scanned schema
    * (the events `ts_us`), so they are not re-resolved against the
    * repartitioned child.
    *
    * Why: a single-row-group file is read by ONE task whatever its size
    * (a row group belongs to the split holding its midpoint), so every
    * operator between the scan and the first keyed exchange would run on
    * one core. The exchange carries only the pruned, filtered rows:
    * `PushDownPredicates` and `ColumnPruning` both traverse `Repartition`
    * (plans/r13/scanfanout_pushdown_{fanned,not_fanned}.txt). Its
    * explicit partition count pins it against AQE coalescing.
    */
  def readTable(spark: SparkSession, path: String,
                derive: DataFrame => DataFrame = identity): DataFrame = {
    val listed = Try(leafFiles(spark, path, partitioned = true)).toOption.flatten
    val df = derive(readParquet(spark, path, listed))
    listed.flatMap { case (files, _) => fanOutWidth(spark, files) }.fold(df)(df.repartition(_))
  }

  /** Data files below this many bytes in total never fan out. The query
    * families over sub-MB tables are many-action chains (the ANN
    * codebooks run ~25 driver-side training actions over a 2k-row
    * frame), and fanning every action out costs more in per-task
    * overhead than it returns: fanning the 0.78 MB embeddings table to
    * 32 partitions took ann_ivfpq_topk from 0.9 to 114 executor-cpu-
    * seconds (2.8 → 6.2 s wall, 32-core host).
    */
  private val FloorBytes: Long = 1L << 20

  /** Row-group counts per file version (path, length, mtime), so a
    * repeated read of one table reads each footer once.
    */
  private val rowGroups =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Integer]

  /** The session shuffle width when a scan of `files` yields fewer
    * row-bearing tasks than that width, else None. The natural task count
    * sums, over the data files, min(row groups, ⌈bytes /
    * `spark.sql.files.maxPartitionBytes`⌉); it stops, and stops reading
    * footers, once it reaches the width. Only files over one split read a
    * footer. A sizing step that fails plans no fan-out.
    */
  private def fanOutWidth(spark: SparkSession, files: Seq[FileStatus]): Option[Int] =
    try {
      val parts = graft.operators.QueryHelpers.shufflePartitions(spark)
      val split = SourceBridge.maxPartitionBytes(spark)
      val data = files.filterNot(f => Summaries.contains(f.getPath.getName))
      def tasks(f: FileStatus): Long = {
        val bySize = (f.getLen + split - 1) / split
        if (bySize <= 1L) 1L
        else {
          val key = (f.getPath.toString, f.getLen, f.getModificationTime)
          val rgs = rowGroups.computeIfAbsent(key, _ =>
            Integer.valueOf(SourceBridge.parquetFooter(spark, f)._2))
          math.min(bySize, rgs.toLong.max(1L))
        }
      }
      if (data.map(_.getLen).sum < FloorBytes) None
      else if (data.iterator.map(tasks).scanLeft(0L)(_ + _).exists(_ >= parts)) None
      else Some(parts)
    } catch { case NonFatal(_) => None }

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
    * A frame ending in a global sort is sorted inside the one partition it
    * is shuffled to, which plans no range partitioning and so no sampling
    * job; any other frame is coalesced.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    SourceBridge.sortInOnePartition(df).getOrElse(df.coalesce(1))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** `df` collected once and served from the driver as a local relation,
    * for a dimension-sized frame that several consumers (a CSV sink,
    * broadcast joins, display tables) would otherwise each recompute.
    */
  def onDriver(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

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
    val df = readParquet(spark, path)
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
