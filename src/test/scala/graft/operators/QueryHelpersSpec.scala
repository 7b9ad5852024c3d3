package graft.operators

import graft.SparkSpec
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The shared co-purchase edge builder on a hand-made `lineitem`: the
  * pairs it yields in each mode, and the hash layout it declares. And the
  * table readers over the sf0.001 testdata: no Spark job, inference's
  * schema.
  */
class QueryHelpersSpec extends SparkSpec {

  // (l_orderkey, l_partkey): order 2 repeats order 1's (10, 20) pair and
  // lists part 20 twice; order 3 has one part; order 4 holds only part
  // 50, twice (a self-pair candidate); order 5 adds (30, 60)
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-edges").toString
    Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 20L), (2L, 10L), (2L, 20L),
      (3L, 40L), (4L, 50L), (4L, 50L), (5L, 30L), (5L, 60L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  private val canonicalPairs =
    Seq((10L, 20L), (10L, 30L), (20L, 30L), (30L, 60L))

  private def pairs(e: DataFrame): Seq[(Long, Long)] =
    e.select("src", "dst").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** Declared and physical layout: the plan reports hash partitioning on
    * `key` at the session width, and every row sits in the partition
    * that hash assigns it.
    */
  private def assertHashPartitioned(e: DataFrame, key: String): Unit = {
    val n = QueryHelpers.shufflePartitions(spark)
    e.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), parts) =>
        assert(a.name === key)
        assert(parts === n)
      case other => fail(s"expected hash partitioning on $key, got $other")
    }
    val misplaced = e
      .filter(spark_partition_id() =!= pmod(hash(col(key)), lit(n)))
      .count()
    assert(misplaced === 0L)
  }

  test("canonical edges are the distinct co-order pairs with src < dst") {
    val e = QueryHelpers.coPurchaseEdges(spark, dir, "src", canonical = true)
    val got = pairs(e)
    assert(got.sorted === canonicalPairs)
    assert(got.distinct.size === got.size, "duplicate edges")
    assert(got.forall { case (s, d) => s < d })
    assertHashPartitioned(e, "src")
  }

  test("symmetric edges hold both orientations of the same pairs") {
    Seq("src", "dst").foreach { key =>
      val e = QueryHelpers.coPurchaseEdges(spark, dir, key, canonical = false)
      val got = pairs(e)
      val want = canonicalPairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      assert(got.sorted === want.sorted, s"key=$key")
      assert(got.distinct.size === got.size, s"duplicate edges (key=$key)")
      assert(got.forall { case (s, d) => s != d }, s"self-loop (key=$key)")
      assertHashPartitioned(e, key)
    }
  }

  test("pairs keep one row per co-order, never a self-pair") {
    val sym = pairs(QueryHelpers.coPurchasePairs(spark, dir, canonical = false))
    val can = pairs(QueryHelpers.coPurchasePairs(spark, dir, canonical = true))
    // (10, 20) is co-ordered twice (orders 1 and 2); every other pair once
    assert(can.sorted === (canonicalPairs :+ ((10L, 20L))).sorted)
    assert(sym.sorted === can.flatMap { case (a, b) => Seq((a, b), (b, a)) }.sorted)
  }

  /** Runs `read`, failing if it started a Spark job. */
  private def withoutJobs[A](what: String)(read: => A): A = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = read
      ListenerBusBridge.drain(sc)
      assert(jobs.get === 0, s"$what started ${jobs.get} Spark job(s)")
      a
    } finally sc.removeSparkListener(listener)
  }

  test("table reads start no Spark job and take inference's schema") {
    val sf = "/root/testdata/sf0.001"
    val tables = new java.io.File(sf).list().toSeq.map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.size === 10, s"tables under $sf: $tables")
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try Seq("false", "true").foreach { on =>
      spark.conf.set(nanos, on)
      tables.foreach { name =>
        val schema = withoutJobs(s"t($name), nanosAsLong=$on")(QueryHelpers.t(spark, sf, name).schema)
        assert(schema === spark.read.parquet(s"$sf/$name.parquet").schema, name)
      }
      val ev = withoutJobs(s"events, nanosAsLong=$on")(QueryHelpers.events(spark, sf).schema)
      assert(StructType(ev.filterNot(_.name == "ts_us")) ===
        spark.read.parquet(s"$sf/events.parquet").schema)
      assert(ev("ts_us").dataType === LongType)
    } finally spark.conf.unset(nanos)
  }
}
