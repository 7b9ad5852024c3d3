package graft.fin

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.sources.Io

/** The exporters read one month of the month-partitioned curated fact. */
class CuratedMonthSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val plans = new ConcurrentLinkedQueue[SparkPlan]()

  private lazy val listening: Unit = spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** The three exporters of `month` from `curated` into `out`; returns the
    * fact scans of the queries they ran.
    */
  private def exportMonth(curated: String, out: String, month: String): Seq[FileSourceScanExec] = {
    listening
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    plans.clear()
    BiExport.`export`(spark, curated, s"$out/bi", Some(month))
    StarExport.`export`(spark, curated, s"$out/bi_star", Some(month))
    Dashboard.build(spark, curated, s"$out/dashboard.html", Some(month))
    ListenerBusBridge.drain(sc)
    plans.asScala.toSeq.flatMap(p => collectWithSubqueries(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("fact_transactions.parquet")) => s
    })
  }

  /** Every file under `dir` by path relative to `root`, the part files of a
    * directory concatenated in name order; hidden files left out.
    */
  private def written(dir: Path, root: Path): Map[String, String] = {
    val (dirs, files) = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .filterNot(p => Set('.', '_').contains(p.getFileName.toString.head))
      .partition(Files.isDirectory(_))
    def bytes(p: Path) = new String(Files.readAllBytes(p), ISO_8859_1)
    val (parts, plain) = files.partition(_.getFileName.toString.startsWith("part-"))
    val here = (if (parts.isEmpty) Nil else Seq(root.relativize(dir).toString -> parts.map(bytes).mkString)) ++
      plain.map(p => root.relativize(p).toString -> bytes(p))
    here.toMap ++ dirs.flatMap(written(_, root))
  }

  private def partitionKeys(s: FileSourceScanExec): Seq[String] =
    s.partitionFilters.flatMap(_.references.map(_.name))

  test("a later month's exports scan only its fact partition and write what a full scan writes") {
    val work = Files.createTempDirectory("graft-curated-month").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    val curated = s"$work/curated"
    Seq("2025-11" -> 11L, "2025-12" -> 12L).foreach { case (m, seed) =>
      SampleData.generateSyntheticRaw(s"$work/raw-$m", m, seed)
      Pipeline.runMonth(spark, Settings.default, m, s"$work/raw-$m", curated,
        s"$work/reference", "ERROR")
    }
    val pruned = exportMonth(curated, s"$work/pruned", "2025-12")
    assert(pruned.nonEmpty)
    assert(pruned.forall(partitionKeys(_).contains("month")),
      pruned.map(_.simpleString(400)).mkString("\n"))

    // the same curated month with `month` a data column of an unpartitioned
    // fact, one file in the partitioned scan's row order: nothing to prune
    val flat = s"$work/curated-flat"
    Files.createDirectories(Paths.get(flat))
    Seq("dim_accounts.parquet", "kpi_monthly.parquet", "dq_exceptions.csv", "dq_summary.csv")
      .foreach { f =>
        val from = Paths.get(curated, f)
        Files.walk(from).iterator().asScala.toSeq.foreach { p =>
          Files.copy(p, Paths.get(flat, f).resolve(from.relativize(p).toString))
        }
      }
    Io.writeParquet(spark.read.parquet(s"$curated/fact_transactions.parquet").coalesce(1),
      s"$flat/fact_transactions.parquet")
    val full = exportMonth(flat, s"$work/full", "2025-12")
    assert(full.nonEmpty && full.forall(_.partitionFilters.isEmpty))

    val (a, b) = (Paths.get(work, "pruned"), Paths.get(work, "full"))
    val (got, want) = (written(a, a), written(b, b))
    assert(got.keySet == want.keySet)
    // 6 flat BI files, 7 star files, the dashboard and its 2 series
    assert(want.size == 16, want.keys.toSeq.sorted.mkString("\n"))
    val differ = want.keys.toSeq.sorted.filter(k => got(k) != want(k))
    assert(differ.isEmpty, differ.map(k => s"$k:\n${got(k)}\n---\n${want(k)}").mkString("\n"))
  }
}
