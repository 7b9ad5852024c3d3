package graft.plans

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.graftbridge.SessionBridge.concurrently

import graft.SparkSpec
import graft.fin.{BiExport, Dashboard, Pipeline, SampleData, Settings, StarExport}

/** [[SessionBridge.concurrently]]: what each body sees, what the caller gets
  * back, and when.
  */
class SessionBridgeSpec extends SparkSpec {

  test("a failing body is rethrown as it was thrown, once every other body has finished") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      concurrently(spark)(
        () => { Thread.sleep(200); throw new IllegalStateException("first in argument order") },
        () => { Thread.sleep(400); spark.range(10).count(); finished.set(true) },
        () => throw new ArithmeticException("first to fail"))
    }
    assert(finished.get, "the caller got the failure before every body had finished")
    assert(e.getMessage == "first in argument order")
    assert(e.getSuppressed.toSeq.map(_.getClass) == Seq(classOf[ArithmeticException]))
  }

  test("each body runs with the caller's active session and local properties") {
    val sc = spark.sparkContext
    val clone = SessionBridge.interpreted(spark)
    val tag = UUID.randomUUID().toString
    sc.setLocalProperty("graft.test.tag", tag)
    val seen = try SessionBridge.withActive(clone) {
      concurrently(clone)((1 to 4).map(_ => () =>
        (SparkSession.getActiveSession, sc.getLocalProperty("graft.test.tag"),
          SparkSession.active.conf.get("spark.sql.codegen.wholeStage"))): _*)
    } finally sc.setLocalProperty("graft.test.tag", null)
    assert(seen.forall { case (active, t, _) => active.exists(_ eq clone) && t == tag }, seen)
    assert(seen.forall(_._3 == "false"), seen)
  }

  test("results come back in argument order") {
    val got = concurrently(spark)((0 until 6).map(i => () => { Thread.sleep(60L * (6 - i)); i }): _*)
    assert(got == (0 until 6))
  }

  test("a close leaves no non-daemon thread behind") {
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    spark.range(1).count()
    val before = nonDaemon()

    val work = Files.createTempDirectory("graft-concurrently").toString
    SampleData.writeChartOfAccounts(s"$work/reference")
    SampleData.generateSyntheticRaw(s"$work/raw", "2025-12", seed = 42L)
    val curated = s"$work/curated"
    Pipeline.runMonth(spark, Settings.default, "2025-12", s"$work/raw", curated,
      s"$work/reference", "ERROR")
    BiExport.`export`(spark, curated, s"$work/bi", Some("2025-12"))
    StarExport.`export`(spark, curated, s"$work/bi_star", Some("2025-12"))
    Dashboard.build(spark, curated, s"$work/dashboard.html", Some("2025-12"))

    val pool = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-concurrently"))
    assert(pool.nonEmpty, "the close ran no body on the pool")
    assert(pool.forall(_.isDaemon), pool.filterNot(_.isDaemon).map(_.getName))
    val left = nonDaemon() -- before
    assert(left.isEmpty, left.map(_.getName))
  }
}
