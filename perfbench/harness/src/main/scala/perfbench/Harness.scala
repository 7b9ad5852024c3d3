package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.fin.{BiExport, Dashboard, Pipeline, SampleData, Settings, StarExport}

/** One timed operation: a month close or one registered query. */
final case class Op(name: String, run: Calls => Map[String, String])

/** Wraps each call into a program layer; a span when tracing, else a plain call. */
final class Calls(tracer: Option[Tracer]) {
  def apply[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span("call", name)(body)
    case None => body
  }
}

/** A workload: set-up (inputs generated, file indexes warmed), then the
  * operations of each pass; `afterOp` keeps what the output checks need,
  * outside the timed window.
  */
trait Workload {
  def setup(): Unit
  def ops(pass: Int): Seq[Op]
  def afterOp(op: Op): Unit = ()
}

/** Consecutive month closes: runMonth → BiExport → StarExport → Dashboard into
  * one curated root. The last month of each pass of `months` carries seeded
  * DQ defects and closes with fail_on=NEVER.
  */
final class CloseMonth(spark: SparkSession, work: Path, seed: Long, months: Int) extends Workload {
  private val root = work.resolve("close")
  private val ref = root.resolve("reference").toString
  private val curated = root.resolve("curated").toString

  def month(i: Int): String = java.time.YearMonth.of(2024, 1).plusMonths(i).toString

  /** Writes month `i`'s raw CSVs; returns the number of defects injected.
    * The month's content is the same for every seed, so that every run closes
    * the same amount of work; the seed orders the rows and places the defects.
    */
  private def generate(i: Int): Int = {
    val raw = root.resolve("raw").resolve(month(i))
    SampleData.generateSyntheticRaw(raw.toString, month(i), 42L + i)
    val rng = new Random(seed * 7919 + i)
    Files.list(raw).iterator().asScala.toList.sorted.foreach { p =>
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toIndexedSeq
      writeLines(p, lines.head +: rng.shuffle(lines.tail))
    }
    if (i % months != months - 1) 0 else injectDefects(raw, rng)
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Breaks one checked cell in each of three rows the seed picks, so the
    * close must report exactly one DQ exception per defect: a negative expense
    * amount (WARN), an expense account missing from the COA (ERROR) and a
    * negative inventory unit cost (WARN).
    */
  private def injectDefects(raw: Path, rng: Random): Int = {
    val edits: Seq[(String, Int, String => String)] = Seq(
      ("expenses.csv", 5, (v: String) => "-" + v),
      ("expenses.csv", 3, (_: String) => "99999999"),
      ("inventory_movements.csv", 5, (v: String) => "-" + v))
    edits.groupBy(_._1).foreach { case (file, fileEdits) =>
      val p = raw.resolve(file)
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toIndexedSeq
      val rows = rng.shuffle(lines.indices.tail.toList).zip(fileEdits).toMap
      val out = lines.indices.map { j =>
        rows.get(j).fold(lines(j)) { case (_, col, f) =>
          val c = lines(j).split(",", -1); c(col) = f(c(col)); c.mkString(",")
        }
      }
      writeLines(p, out)
    }
    edits.size
  }

  private val defects = mutable.HashMap.empty[Int, Int]

  private def prepare(pass: Int): Unit =
    (pass * months until (pass + 1) * months)
      .filterNot(defects.contains).foreach(i => defects(i) = generate(i))

  def setup(): Unit = {
    SampleData.writeChartOfAccounts(ref)
    prepare(0)
  }

  def ops(pass: Int): Seq[Op] = {
    prepare(pass)
    (pass * months until (pass + 1) * months).map { i =>
      val m = month(i)
      val failOn = if (defects(i) > 0) "NEVER" else "ERROR"
      Op(m, calls => {
        val r = calls("fin.run_month") {
          Pipeline.runMonth(spark, Settings.default, m,
            root.resolve("raw").resolve(m).toString, curated, ref, failOn)
        }
        calls("fin.bi_export") { BiExport.`export`(spark, curated, root.resolve("bi").toString, Some(m)) }
        calls("fin.star_export") { StarExport.`export`(spark, curated, root.resolve("bi_star").toString, Some(m)) }
        calls("fin.dashboard") {
          Dashboard.build(spark, curated, root.resolve("dashboard").resolve(s"$m.html").toString, Some(m))
        }
        Map("month" -> m, "status" -> r.status, "fail_on" -> failOn,
          "defects" -> defects(i).toString)
      })
    }
  }

  /** dq_exceptions.csv is rewritten by every close: keep each month's copy. */
  override def afterOp(op: Op): Unit = {
    val src = Paths.get(curated, "dq_exceptions.csv")
    val dst = root.resolve("checks").resolve(op.name)
    Files.createDirectories(dst)
    if (Files.isDirectory(src))
      Files.list(src).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv"))
        .foreach(f => Files.copy(f, dst.resolve(f.getFileName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
  }
}

/** Registered queries over the parquet tables generated into `work/data`; each operation
  * builds the DataFrame and writes its result as parquet for the oracle check.
  */
final class Queries(spark: SparkSession, work: Path, names: Seq[String],
                    tables: Seq[String]) extends Workload {
  private val data = work.resolve("data").toString

  def setup(): Unit =
    tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())

  def ops(pass: Int): Seq[Op] = names.map { q =>
    Op(q, calls => {
      val df = calls("operators.construct") { SparkEntry.queries(q)(spark, data) }
      val out = work.resolve("results").resolve(s"$pass-$q").toString
      calls("operators.action") { df.write.mode("overwrite").parquet(out) }
      Map("result" -> out)
    })
  }
}

/** Runs one workload in this JVM and writes a JSON report (and, when tracing,
  * the spans) for perfbench/run.py. Arguments are `key=value` pairs.
  */
object Harness {
  /** Waits (at most 10 s) until background JIT compilation has been idle
    * for 500 ms, so that it does not run inside the next timed operation.
    */
  def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) idle += 1 else { idle = 0; last = now }
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workloadName = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val cpus = kv("cpus").toInt
    val work = Paths.get(kv("work"))

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def workloadIn(spark: SparkSession, dir: Path): Workload = workloadName match {
      case "close_month" => new CloseMonth(spark, dir, seed, kv("months").toInt)
      case _ => new Queries(spark, dir, kv("queries").split(",").toSeq,
        kv("tables").split(",").toSeq)
    }

    val spark = session()
    val sc = spark.sparkContext
    val storage = new StorageListener
    sc.addSparkListener(storage)
    val workload = workloadIn(spark, work)
    workload.setup()
    val setupDoneMs = System.currentTimeMillis()

    // tracing starts after set-up so both runs time the same operations
    val tracer = if (trace) Some(new Tracer(sc)) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val calls = new Calls(tracer)
    def inSpan[T](kind: String, name: String)(body: => T): T =
      tracer.fold(body)(_.span(kind, name)(body))

    val records = mutable.ArrayBuffer.empty[String]
    val windowStart = System.nanoTime()
    var pass = 0
    inSpan("workload", workloadName) {
      while (pass == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
        workload.ops(pass).foreach { op =>
          val t0 = System.nanoTime()
          val outcome =
            try Right(inSpan("operation", op.name)(op.run(calls)))
            catch { case e: Throwable => Left(e) }
          val dt = System.nanoTime() - t0
          // clean slate between operations, outside the timed window
          spark.sharedState.cacheManager.clearCache()
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
          quiesce()
          val fields = outcome match {
            case Right(r) =>
              workload.afterOp(op)
              r ++ Map("ok" -> "true")
            case Left(e) =>
              Map("ok" -> "false",
                "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
          }
          records += Json.obj(Seq("pass" -> Json.num(pass), "name" -> Json.str(op.name),
            "seconds" -> Json.num(dt / 1e9)) ++ fields.toSeq.map { case (k, v) => k -> Json.str(v) })
        }
        pass += 1
      }
    }

    val traceFields = tracer.toSeq.flatMap { t =>
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      Files.writeString(Paths.get(kv("trace_out")), Json.arr(t.spans.toSeq.map { s =>
        Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
          "op" -> Json.num(s.op), "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "self_ms" -> Json.num(if (s.kind == "job") s.endMs - s.startMs else t.selfMs(s)),
          "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) =>
            k -> Json.num(v) })))
      }))
      Seq("rdd_blocks_stored" -> Json.num(storage.rddBlocksStored))
    }
    val peakStorageMb = storage.peakBytes / 1e6
    spark.stop()

    // each repeat: a new session, inputs generated anew, file indexes warmed
    val repeats = (1 to kv("setup_repeats").toInt).map { k =>
      val t0 = System.nanoTime()
      val s = session()
      workloadIn(s, work.resolve(s"setup-$k")).setup()
      val dt = (System.nanoTime() - t0) / 1e9
      s.stop()
      dt
    }

    val report = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "cpus" -> Json.num(cpus),
      "setup_done_ms" -> Json.num(setupDoneMs),
      "setup_repeats_s" -> Json.arr(repeats.map(Json.num)),
      "passes" -> Json.num(pass),
      "peak_storage_mb" -> Json.num(peakStorageMb),
      "ops" -> Json.arr(records.toSeq)) ++ traceFields)
    Files.writeString(Paths.get(kv("out")), report)
  }
}

/** Minimal JSON writer for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == v.toLong) v.toLong.toString else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",\n", "]")
}
