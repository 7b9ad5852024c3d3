package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The splittability-aware fan-out gate of `Io.readTable` (r12 verdict
  * #1): the exchange must fire exactly when the parquet input CANNOT feed
  * the session width on its own — never for sub-floor inputs, never for
  * inputs the scan already splits natively (multi-row-group files,
  * many-file datasets), and sizing must see through partitioned directory
  * layouts (r12 ADVICE: the old java.nio walk summed 0 bytes for nested
  * data files and silently never fanned).
  */
class ScanFanoutSpec extends SparkSpec {

  private def parts: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  // deterministic ~rows MB of incompressible-ish payload
  private def bulkDf(rows: Int) = {
    import spark.implicits._
    (0 until rows).toDF("id")
      .withColumn("pay", sha2(concat_ws("-", col("id"), lit("graft")), 512))
      .withColumn("pay2", sha2(concat_ws("+", col("id"), lit("tlof")), 512))
  }

  test("single-row-group file above the floor fans out to session width") {
    val dir = Files.createTempDirectory("sfan").toString
    // one file, one row group (default 128MB block), ~2 MB on disk
    bulkDf(14000).coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(f.length == 1 && f.head.length > (1L << 20),
      s"fixture must be one >1MB file, got ${f.map(_.length).toSeq}")
    val fanned = Io.readTable(spark, dir)
    assert(fanned.rdd.getNumPartitions == parts,
      "unsplittable above-floor input must repartition to session width")
  }

  test("sub-floor file never fans out") {
    val dir = Files.createTempDirectory("sfan").toString
    bulkDf(500).coalesce(1).write.mode("overwrite").parquet(dir)
    val df = Io.readTable(spark, dir)
    assert(df.rdd.getNumPartitions < parts,
      "sub-MB scans must keep their natural (single-task) layout")
  }

  test("multi-row-group file that splits natively is left untouched") {
    val dir = Files.createTempDirectory("sfan").toString
    // force tiny row groups: >= `parts` groups in one ~2 MB file
    bulkDf(14000).coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (128 * 1024).toString)
      .parquet(dir)
    val f = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val rgs = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sessionState.newHadoopConf()))
      try r.getRowGroups.size finally r.close()
    }
    assert(rgs >= parts, s"fixture needs >= $parts row groups, got $rgs")
    // Under the session's REAL split size the gate must mirror the scan
    // planner. At maxPartitionBytes=128k this 2 MB file yields >= parts
    // row-bearing splits natively — the r12 byte-size guard would have
    // paid a pointless full-table round-robin here (the verdict/advice
    // splittability hole); the footer-aware gate must not.
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      val df = Io.readTable(spark, dir)
      assert(!df.queryExecution.analyzed.toString.contains("Repartition"),
        "natively-splittable multi-row-group input must not fan out")
      assert(df.rdd.getNumPartitions >= parts,
        "the native scan itself should already feed the session width")
      // ... and at the default 128 MB split the same file is ONE task no
      // matter its row groups (a row group belongs to the split holding
      // its midpoint), so the fan-out must fire again
      spark.conf.set("spark.sql.files.maxPartitionBytes", old)
      val df2 = Io.readTable(spark, dir)
      assert(df2.rdd.getNumPartitions == parts,
        "a small many-row-group file still cannot feed the width: fan out")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("many-file dataset that splits natively is left untouched") {
    val dir = Files.createTempDirectory("sfan").toString
    // `parts` separate files, each its own scan task: natural
    // parallelism == session width, no exchange
    bulkDf(14000).repartition(parts).write.mode("overwrite").parquet(dir)
    val n = new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(n >= parts, s"fixture needs >= $parts data files, got $n")
    val df = Io.readTable(spark, dir)
    assert(df.rdd.getNumPartitions != parts ||
      df.queryExecution.executedPlan.toString.indexOf("RoundRobinPartitioning") < 0,
      "natively-parallel input must not pay a round-robin exchange")
  }

  test("partitioned directory layout is sized recursively") {
    val dir = Files.createTempDirectory("sfan").toString
    bulkDf(14000).withColumn("k", col("id") % 2)
      .repartition(1).write.mode("overwrite").partitionBy("k").parquet(dir)
    // data lives in k=0/ and k=1/ subdirectories; the r12 non-recursive
    // walk summed ~0 bytes here and never fanned. Two ~1MB files =
    // 2 natural tasks < 4 session slots -> fan out.
    val df = Io.readTable(spark, dir)
    assert(df.rdd.getNumPartitions == parts,
      "nested data files must be sized (recursively), not read as 0 bytes")
  }

  test("sizing counts only the files the scan reads as data") {
    val dir = Files.createTempDirectory("sfan").toString
    bulkDf(500).coalesce(1).write.mode("overwrite").parquet(dir)
    // a >1MB summary file and a >1MB hidden file beside a sub-floor data
    // file: the scan reads no rows from either, so neither may lift the
    // input over the floor
    val bulk = Files.createTempDirectory("sfan").toString
    bulkDf(14000).coalesce(1).write.mode("overwrite").parquet(bulk)
    val big = new java.io.File(bulk).listFiles.filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(big, java.nio.file.Paths.get(dir, "_common_metadata"))
    Files.copy(big, java.nio.file.Paths.get(dir, ".hidden.parquet"))
    val df = Io.readTable(spark, dir)
    assert(!df.queryExecution.analyzed.toString.contains("Repartition"),
      "summary and hidden files must not be sized as scan input")
    assert(df.count() == 500)
  }

  test("a path the listing leaves to Spark plans no fan-out") {
    val dir = Files.createTempDirectory("sfan").toString
    bulkDf(14000).coalesce(1).write.mode("overwrite").parquet(dir)
    assert(Io.readTable(spark, dir).rdd.getNumPartitions == parts)
    // a glob names no file or directory to walk; Spark expands it
    val df = Io.readTable(spark, s"$dir/*.parquet")
    assert(!df.queryExecution.analyzed.toString.contains("Repartition"),
      "an input the listing cannot walk must not be sized")
    assert(df.count() == 14000)
  }
}
