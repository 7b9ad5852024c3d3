package graft.fin

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.ListenerBusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.SourceBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SmallInput, SparkSpec}

/** A small month closes without compiling generated code ([[SmallInput]]):
  * what it compiles, that it writes what the compiled close writes, and
  * that the caller's session is left as it was.
  */
class CloseCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Janino compilations a warm `SampleData` month may run through the
    * four layers. A ratchet: a change may lower it, never raise it. The
    * compiled close ran about 270-290.
    */
  val MaxWarmCompiles = 26

  /** Compilations of generated classes so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val plans = new ConcurrentLinkedQueue[SparkPlan]()

  /** Registered before the first close, so every interpreted clone carries it. */
  private lazy val listening: Unit = spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Closes `month` from `in/raw` and `in/reference` through the four
    * layers into `out`; returns the executed plans of the queries it ran.
    */
  private def close(month: String, raw: String, reference: String, out: String,
                    failOn: String): Seq[SparkPlan] = {
    listening
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    plans.clear()
    val curated = s"$out/curated"
    Pipeline.runMonth(spark, Settings.default, month, raw, curated, reference, failOn)
    BiExport.`export`(spark, curated, s"$out/bi", Some(month))
    StarExport.`export`(spark, curated, s"$out/bi_star", Some(month))
    Dashboard.build(spark, curated, s"$out/dashboard.html", Some(month))
    ListenerBusBridge.drain(sc)
    plans.asScala.toSeq
  }

  private def hasWholeStageCodegen(plan: SparkPlan): Boolean =
    find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  /** What a close wrote under `dir`, keyed by path relative to `root`:
    * each `.parquet` directory as the schemas in its part files' footers
    * (nullability included) and its rows sorted; every other directory's
    * part files concatenated in name order; other files as their bytes.
    * Hidden files (`.crc`, `_SUCCESS`) are left out.
    */
  private def written(dir: Path, root: Path): Seq[(String, String)] = {
    val (dirs, files) = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .filterNot(p => Set('.', '_').contains(p.getFileName.toString.head))
      .partition(Files.isDirectory(_))
    def bytes(p: Path) = new String(Files.readAllBytes(p), ISO_8859_1)
    val (parts, plain) = files.partition(_.getFileName.toString.startsWith("part-"))
    val here = (if (parts.isEmpty) Nil else Seq(root.relativize(dir).toString -> parts.map(bytes).mkString)) ++
      plain.map(p => root.relativize(p).toString -> bytes(p))
    here ++ dirs.flatMap { d =>
      if (!d.getFileName.toString.endsWith(".parquet")) written(d, root)
      else {
        val fs = new HPath(d.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val schemas = Files.walk(d).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .map(p => SourceBridge.parquetFooter(spark, fs.getFileStatus(new HPath(p.toString)))._1.json)
          .toSeq.distinct.sorted
        val rows = spark.read.parquet(d.toString).collect().map(_.toString).sorted
        Seq(root.relativize(d).toString -> (schemas ++ rows).mkString("\n"))
      }
    }
  }

  /** The interpreted and the compiled close of the month in `in`. */
  private def bothWays(in: String, failOn: String): Unit = {
    val (interpreted, compiled) = (tmp("graft-close-interpreted"), tmp("graft-close-compiled"))
    val interpretedPlans = close("2025-12", s"$in/raw", s"$in/reference", interpreted, failOn)
    val compiledPlans = SmallInput.compiled(
      close("2025-12", s"$in/raw", s"$in/reference", compiled, failOn))

    val (a, b) = (Paths.get(interpreted), Paths.get(compiled))
    val (got, want) = (written(a, a).toMap, written(b, b).toMap)
    assert(got.keySet == want.keySet)
    // 2 DQ CSVs and 3 tables curated, 6 flat BI files, 7 star files, the
    // dashboard and its 2 series
    assert(want.size == 21, want.keys.toSeq.sorted.mkString("\n"))
    val differ = want.keys.toSeq.sorted.filter(k => got(k) != want(k))
    assert(differ.isEmpty, differ.map(k => s"$k:\n${got(k)}\n---\n${want(k)}").mkString("\n"))

    assert(interpretedPlans.nonEmpty && !interpretedPlans.exists(hasWholeStageCodegen))
    assert(compiledPlans.exists(hasWholeStageCodegen))
  }

  test("a warm month compiles at most MaxWarmCompiles classes through the four layers") {
    val work = tmp("graft-close-codegen")
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw-11", "2025-11", seed = 11L)
    SampleData.generateSyntheticRaw(s"$work/raw-12", "2025-12", seed = 12L)
    close("2025-11", s"$work/raw-11", s"$work/reference", work, "ERROR")
    val before = compiles
    close("2025-12", s"$work/raw-12", s"$work/reference", work, "ERROR")
    val warm = compiles - before
    info(s"warm month: $warm compilations")
    assert(warm <= MaxWarmCompiles, s"a warm month compiled $warm classes")
  }

  test("interpreted and compiled closes of a clean month write the same files") {
    val in = tmp("graft-close-clean")
    SampleData.writeChartOfAccounts(s"$in/reference")
    SampleData.generateSyntheticRaw(s"$in/raw", "2025-12", seed = 42L)
    bothWays(in, "ERROR")
  }

  test("interpreted and compiled closes of the DQ-defect month write the same files") {
    val in = tmp("graft-close-defects")
    PipelineSmokeSpec.writeDefectMonth(in)
    bothWays(in, "NEVER")
  }

  test("a close leaves the caller's session compiled and active") {
    val in = tmp("graft-close-caller")
    SampleData.writeChartOfAccounts(s"$in/reference")
    SampleData.generateSyntheticRaw(s"$in/raw", "2025-12", seed = 42L)
    SparkSession.setActiveSession(spark)
    close("2025-12", s"$in/raw", s"$in/reference", in, "ERROR")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK")
    assert(SparkSession.getActiveSession.contains(spark))
  }

  test("the gate interprets below the bound and compiles from it up") {
    import SmallInput.{InterpretBelowBytes, bytesOf, interprets}
    assert(interprets(0L))
    assert(interprets(InterpretBelowBytes - 1))
    assert(!interprets(InterpretBelowBytes))
    assert(!interprets(InterpretBelowBytes + 1))

    // the bytes of files and of every file under a directory; a missing path is 0
    val d = tmp("graft-close-gate")
    Files.write(Paths.get(d, "a.csv"), new Array[Byte](10))
    Files.createDirectories(Paths.get(d, "t.parquet", "month=2025-12"))
    Files.write(Paths.get(d, "t.parquet", "month=2025-12", "part-0"), new Array[Byte](7))
    assert(bytesOf(spark, Seq(s"$d/a.csv", s"$d/t.parquet", s"$d/missing.csv")) == 17L)
  }
}
