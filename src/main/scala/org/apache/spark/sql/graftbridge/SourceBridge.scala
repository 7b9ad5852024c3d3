package org.apache.spark.sql.graftbridge

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The internal pieces of Spark's own file-source schema resolution and
  * sink planning that `graft.sources.Io` reuses, so a schema is resolved
  * on the driver exactly as a read would resolve it, without the Spark
  * job that inference runs.
  */
object SourceBridge {

  private def session(spark: SparkSession): CSparkSession = spark.asInstanceOf[CSparkSession]

  def hadoopConf(spark: SparkSession): Configuration = session(spark).sessionState.newHadoopConf()

  /** True for the names file listing skips (`_x`, `.x`, `x._COPYING_`). */
  def isHiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The column names a CSV read with `options` (header on) infers from
    * `firstLine`, its first non-empty line: the same parser settings and
    * the same renaming of empty and duplicate names as inference.
    */
  def csvHeader(spark: SparkSession, options: Map[String, String], firstLine: String): Array[String] = {
    val conf = session(spark).sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val cells = new CsvParser(parsed.asParserSettings).parseLine(firstLine)
    CSVUtils.makeSafeHeader(cells, conf.caseSensitiveAnalysis, parsed)
  }

  /** One read of `file`'s footer: the data schema parquet inference takes
    * from it (the Spark row-metadata key when present, else the parquet
    * schema converted under the session's settings) and its row-group
    * count.
    */
  def parquetFooter(spark: SparkSession, file: FileStatus): (StructType, Int) = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf(spark)), ParquetMetadataConverter.NO_FILTER)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(session(spark).sessionState.conf))
    (schema, footer.getBlocks.size)
  }

  /** The session's `spark.sql.files.maxPartitionBytes`: the most bytes one
    * scan split reads.
    */
  def maxPartitionBytes(spark: SparkSession): Long =
    session(spark).sessionState.conf.filesMaxPartitionBytes

  /** True when the session reads parquet with schema merging on. */
  def parquetMergesSchemas(spark: SparkSession): Boolean =
    session(spark).sessionState.conf.isParquetSchemaMergingEnabled

  /** `df` re-planned as its global sort over one shuffled partition, when
    * the analyzed plan's root is a global `Sort`. One partition already
    * satisfies the ordering, so no range partitioning (and no sampling
    * job) is planned; the rows and their order are those of `df`.
    */
  def sortInOnePartition(df: DataFrame): Option[DataFrame] = {
    val cds = df.asInstanceOf[CDataset[Row]]
    cds.queryExecution.analyzed match {
      case s: Sort if s.global =>
        Some(CDataset.ofRows(cds.sparkSession,
          s.copy(child = Repartition(1, shuffle = true, s.child))))
      case _ => None
    }
  }

  /** The partition columns of the file sources `df` reads, as their
    * directories (`key=value`) name them.
    */
  def partitionColumns(df: DataFrame): Seq[String] =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.partitionSchema.fieldNames.toSeq
        case _ => Nil
      }
    }.flatten
}
