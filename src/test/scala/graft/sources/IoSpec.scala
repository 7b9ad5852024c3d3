package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Operational source/sink contracts: small-file compaction (count,
  * content, sort-locality, crash-safe swap) and schema-evolution reads.
  */
class IoSpec extends SparkSpec {

  test("compactParquet shrinks the file count, keeps rows, preserves range locality") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // simulate a streaming sink's accretion: 64 tiny files
    (0 until 1024).map(i => (i.toLong, s"row$i")).toDF("k", "s")
      .repartition(64).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles === 64)
    Io.compactParquet(spark, dir, nFiles = 4, sortCols = Seq("k"))
    assert(parquetFiles === 4)
    val back = spark.read.parquet(dir)
    assert(back.count() === 1024)
    assert(back.agg(sum("k")).head.getLong(0) === 1024L * 1023 / 2)
    // range layout: a narrow key predicate touches one file
    val touched = back.filter(col("k") >= 10 && col("k") < 20)
      .select(input_file_name()).distinct().count()
    assert(touched === 1, s"expected 1 file for a narrow range, got $touched")
  }

  test("compactParquet restores a stranded .old_ backup from a crashed swap") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val dir = s"$base/t"
    (0 until 100).map(i => (i.toLong, s"row$i")).toDF("k", "s")
      .repartition(8).write.parquet(dir)
    // simulate a crash between rename(src→bak) and rename(tmp→src):
    // src absent, authoritative data stranded under .old_t
    val src = new java.io.File(dir)
    val bak = new java.io.File(s"$base/.old_t")
    assert(src.renameTo(bak))
    assert(!src.exists())
    // next compaction must heal: restore the backup, then compact it
    Io.compactParquet(spark, dir, nFiles = 2)
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    assert(back.agg(sum("k")).head.getLong(0) === 100L * 99 / 2)
    assert(!bak.exists(), "backup consumed by the recovery+compaction")
  }

  test("readParquetMerged surfaces late-added columns; the default read may drop them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("k", "v", "extra").write.mode("append").parquet(dir)
    val merged = Io.readParquetMerged(spark, dir)
    assert(merged.columns.toSet === Set("k", "v", "extra"))
    val rows = merged.orderBy("k").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("extra")), "old file null-fills")
    assert(rows(1).getDouble(rows(1).fieldIndex("extra")) === 9.5)
  }

  test("JSONL round-trips; a malformed line lands in the corrupt column, " +
       "not a job abort") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // write via the sink, then splice a hostile line into the directory
    import spark.implicits._
    Io.writeJsonl(Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      s"$work/docs")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/docs/part-zz-manual.json"),
      """{"doc_id": 3, "text": "gamma"}
        |{"doc_id": BROKEN no json here
        |""".stripMargin)
    val back = Io.readJsonl(spark, s"$work/docs", schema).cache()
    assert(back.filter(col("_corrupt_record").isNull).count() === 3)
    val bad = back.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length === 1)
    assert(bad.head.getAs[String]("_corrupt_record").contains("BROKEN"))
    assert(back.filter(col("doc_id") === 2L).select("text")
      .head().getString(0) === "beta")
    // missing path fails fast like every strict scan here
    intercept[java.io.FileNotFoundException] {
      Io.readJsonl(spark, s"$work/nope", schema)
    }
  }

  test("ORC round-trips with pushdown parity: filter reaches the scan") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val work = java.nio.file.Files.createTempDirectory("graft-orc").toString
    import spark.implicits._
    Io.writeOrc((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), s"$work/t")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val back = Io.readOrc(spark, s"$work/t", schema).filter(col("k") === 42L)
    assert(back.collect().map(_.getString(1)).toSeq === Seq("v42"))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") && scan.contains("EqualTo(k,42)"),
      s"ORC scan must push the predicate:\n$scan")
  }

  /** `files` (name -> content) written into a new temporary directory. */
  private def csvDir(files: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-header").toString
    files.foreach { case (name, body) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), body.getBytes("UTF-8"))
    }
    dir
  }

  test("readCsvRaw resolves the header as inference does") {
    val bigB = "b1,b2,b3\n" + (0 until 50).map(i => s"$i,$i,$i").mkString("\n") + "\n"
    val cases = Seq(
      "a quoted name containing a comma" ->
        (csvDir("a.csv" -> "id,\"name, full\",amt\n1,\"x, y\",2\n") + "/a.csv"),
      "leading blank lines" ->
        (csvDir("a.csv" -> "\n   \n\r\nid,name\n1,x\n") + "/a.csv"),
      "duplicate names" -> (csvDir("a.csv" -> "id,amt,ID,amt\n1,2,3,4\n") + "/a.csv"),
      "an empty header cell" -> (csvDir("a.csv" -> "id,,amt,\"\"\n1,2,3,4\n") + "/a.csv"),
      "a byte-order mark" -> (csvDir("a.csv" -> "\uFEFFid,amt\n1,2\n") + "/a.csv"),
      // the scan reads the largest file first, so its header names the columns
      "a multi-file directory" -> csvDir("a.csv" -> "a1,a2\n1,2\n", "b.csv" -> bigB))
    cases.foreach { case (what, path) =>
      val inferred = spark.read.option("header", "true").csv(path)
      val raw = Io.readCsvRaw(spark, path)
      assert(raw.columns.toSeq === inferred.columns.toSeq, what)
      assert(raw.schema === inferred.schema, what)
      assert(raw.collect().toSeq === inferred.collect().toSeq, what)
    }
    intercept[java.io.FileNotFoundException] {
      Io.readCsvRaw(spark, csvDir() + "/nope.csv")
    }
  }

  test("readParquetOrEmpty takes inference's schema, month partition column included") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-footer").toString + "/fact"
    val fact = Seq(("2025-11-03", "E1", 10.5), ("2025-12-01", "E2", -3.0))
      .toDF("d", "entity", "amount")
      .select(to_date($"d").as("date"), $"entity", $"amount",
        concat_ws("|", $"entity", $"d").as("txn_id"))
    assert(!fact.schema("txn_id").nullable, "fixture carries a non-nullable column")
    Io.writeParquetPartitioned(fact.withColumn("month", date_format($"date", "yyyy-MM")),
      root, Seq("month"))
    val inferred = spark.read.parquet(root)
    val read = Io.readParquetOrEmpty(spark, root, StructType(Nil))
    assert(read.schema === inferred.schema)
    assert(read.columns.last === "month")
    assert(read.orderBy("date").collect().toSeq === inferred.orderBy("date").collect().toSeq)
  }

  test("readParquetOrEmpty: absent path is empty, a directory without data fails loudly") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-nodata").toString
    val schema = StructType(Seq(StructField("k", LongType)))
    assert(Io.readParquetOrEmpty(spark, s"$base/absent", schema).schema === schema)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base, "empty", "month=2025-12"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Io.readParquetOrEmpty(spark, s"$base/empty", schema)
    }
  }
}
