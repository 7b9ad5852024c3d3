package graft.fin

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.sources.Io

/** Spark jobs a month close starts, per layer. At close size nearly every
  * job is fixed cost (scheduling, planning, codegen), so the count is what
  * a close pays; it does not depend on host speed.
  */
class CloseJobsSpec extends SparkSpec {

  /** Job budget per layer for one `SampleData` month at this suite's session
    * settings (`local[4]`, 4 shuffle partitions, AQE on). A ratchet: a
    * change may lower a budget, never raise it. Each layer must start
    * exactly its budget, so a change that saves jobs lowers the budget.
    */
  val Budgets: ListMap[String, Int] = ListMap(
    "fin.run_month" -> 26,
    "fin.bi_export" -> 7,
    "fin.star_export" -> 25,
    "fin.dashboard" -> 13)

  private val LayerKey = "graft.close.layer"
  private val jobs = new ConcurrentLinkedQueue[(String, String)]()

  private lazy val listening: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(LayerKey))).foreach { layer =>
        jobs.add(layer -> js.stageInfos.lastOption.map(_.name).getOrElse(""))
      }
  })

  /** Runs `body` with its jobs tagged `layer`; returns each job's result-stage name. */
  private def jobsOf(layer: String)(body: => Unit): Seq[String] = {
    listening
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    jobs.clear()
    sc.setLocalProperty(LayerKey, layer)
    try body finally sc.setLocalProperty(LayerKey, null)
    ListenerBusBridge.drain(sc)
    jobs.asScala.toSeq.collect { case (`layer`, name) => name }
  }

  private lazy val work: String = Files.createTempDirectory("graft-close-jobs").toString
  private val Month = "2025-12"

  /** One close of a generated month, its jobs per layer. */
  private lazy val closeJobs: ListMap[String, Seq[String]] = {
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", Month, seed = 42L)
    val curated = s"$work/curated"
    val layers: Seq[(String, () => Unit)] = Seq(
      "fin.run_month" -> (() => Pipeline.runMonth(spark, Settings.default, Month,
        s"$work/raw", curated, s"$work/reference", "ERROR")),
      "fin.bi_export" -> (() => BiExport.`export`(spark, curated, s"$work/bi", Some(Month))),
      "fin.star_export" -> (() => StarExport.`export`(spark, curated, s"$work/bi_star", Some(Month))),
      "fin.dashboard" -> (() => Dashboard.build(spark, curated, s"$work/dashboard.html", Some(Month))))
    ListMap(layers.map { case (layer, run) => layer -> jobsOf(layer)(run()) }: _*)
  }

  test("each layer of a month close stays within its job budget") {
    val over = Budgets.collect { case (layer, budget) if closeJobs(layer).size > budget =>
      s"$layer started ${closeJobs(layer).size} jobs, budget $budget:\n  " +
        closeJobs(layer).mkString("\n  ")
    }
    assert(over.isEmpty, over.mkString("\n"))

    // jobs are counted by the layer's local property, which the close's
    // pool threads must carry: a job started without it counts for no
    // layer, so a lost tag would read as a layer within budget
    val counts = closeJobs.map { case (layer, names) => layer -> names.size }
    val untagged = counts.collect { case (layer, 0) => layer }
    assert(untagged.isEmpty, s"no tagged job from ${untagged.mkString(", ")}")
    assert(counts == Budgets, s"tagged jobs per layer $counts, budgets $Budgets")
  }

  test("raw CSV and curated parquet reads resolve their schema without a job") {
    closeJobs
    val started = jobsOf("reads") {
      Quality.Datasets.foreach(n => Io.readCsvRaw(spark, s"$work/raw/$n.csv").schema)
      Seq("fact_transactions", "dim_accounts", "kpi_monthly").foreach { t =>
        Io.readParquetOrEmpty(spark, s"$work/curated/$t.parquet", StructType(Nil)).schema
      }
    }
    assert(started.isEmpty, s"reads started jobs:\n  ${started.mkString("\n  ")}")
  }
}
