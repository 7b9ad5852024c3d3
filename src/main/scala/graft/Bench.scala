package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.sources.Io
import LocalRun.jsonString

/** The perf sweep: every registered query and bench-only sketch tier at one
  * scale factor, sorted by name, each through the noop sink (`count()`
  * would let Catalyst prune projections no aggregate reads); then the
  * streaming-throughput probes. Bench measures and writes one file, its
  * per-query report. No recorded number comes from an earlier run;
  * comparing two records is `tools/bench_diff.py`'s job.
  *
  * Environment: SPARK_GRAFT_SF_DIR (table directory), SPARK_GRAFT_CPUS
  * (session width, default 4), SPARK_GRAFT_BENCH_ITERS (draws per query,
  * default 3), SPARK_GRAFT_BENCH_ONLY (comma-separated query names),
  * SPARK_GRAFT_BENCH_REPORT (report path) and SPARK_GRAFT_BENCH_DEADLINE_S
  * (whole-process deadline from `main`, default 870).
  *
  * Stdout ends with two JSON lines: the full record (`"metric":"total"`,
  * also the report's content) and a compact summary (`"metric":"summary"`).
  * The summary is last because a bounded tail capture of the full line
  * can lose its head once the query map is long.
  */
object Bench {
  /** Seconds of the deadline kept after the sweep for the streaming probes
    * (about 40 s at sf0.1) and the final record.
    */
  private[graft] val RoomS = 120.0

  /** One timed action and the counters of the Spark work it ran. */
  private[graft] final case class Draw(secs: Double, jobs: Long, cpuS: Double)

  private def fmt(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)

  /** What the run has measured. The shutdown hook reads it while the sweep
    * may still be writing, so every access is synchronized.
    */
  private[graft] final class Record(sfDir: String, cpus: Int, iters: Int, report: Path) {
    private val queries = mutable.LinkedHashMap[String, Double]()
    private val best = mutable.LinkedHashMap[String, (Draw, Int)]()
    private val errors = mutable.LinkedHashMap[String, String]()
    private val unmeasured = mutable.ListBuffer[String]()

    def measured(name: String, d: Draw, draws: Int): Unit = synchronized {
      queries(name) = d.secs; best(name) = (d, draws)
    }
    def failed(name: String, e: Throwable): Unit = synchronized {
      queries(name) = -1.0
      errors(name) = (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(200)
    }
    def skipped(name: String): Unit = synchronized { unmeasured += name }
    def partial: Boolean = synchronized(unmeasured.nonEmpty)

    private def total = queries.values.filter(_ >= 0).sum
    private def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    private def head(metric: String, partial: Boolean) =
      s""""metric":"$metric","value":$total,"unit":"sec","partial":$partial,"""
    private def tail(streaming: String) = {
      val s = if (streaming.isEmpty) "" else s""""streaming":$streaming,"""
      val names = unmeasured.map(jsonString).mkString("[", ",", "]")
      s""""unmeasured":$names,$s"cpus":$cpus,"iters":$iters,"sf":${jsonString(sfDir)}"""
    }

    /** Every measured query's seconds (-1 for an error), its best draw's
      * counters, the errors and the names the deadline left unmeasured.
      */
    def fullLine(partial: Boolean, streaming: String = ""): String = synchronized {
      val qs = obj(queries.map { case (k, v) => k -> v.toString })
      val cs = obj(best.map { case (k, (d, n)) =>
        k -> s"""{"jobs":${d.jobs},"cpu_s":${fmt(d.cpuS)},"draws":$n}""" })
      val es = obj(errors.map { case (k, v) => k -> jsonString(v) })
      s"""{${head("total", partial)}"queries":$qs,"counters":$cs,"errors":$es,${tail(streaming)}}"""
    }

    /** Totals, the 20 slowest queries and per-family totals. */
    def summaryLine(partial: Boolean, streaming: String = ""): String = synchronized {
      val ok = queries.toSeq.filter(_._2 >= 0)
      val top = ok.sortBy(-_._2).take(20)
      val families = Seq(
        "core" -> operators.CoreQueries.queries.keySet,
        "llm" -> operators.LlmQueries.queries.keySet,
        "event" -> operators.EventQueries.queries.keySet,
        "curation" -> operators.CurationQueries.queries.keySet,
        "analytics" -> operators.AnalyticsQueries.queries.keySet,
        "approx" -> operators.ApproxTiers.benchQueries.keySet)
      val fams = obj(families.map { case (fam, names) =>
        fam -> fmt(ok.collect { case (k, v) if names(k) => v }.sum) })
      val slowest = obj(top.map { case (k, v) => k -> fmt(v) })
      s"""{${head("summary", partial)}"n_queries":${queries.size},"n_errors":${errors.size},""" +
        s""""n_unmeasured":${unmeasured.size},"slowest":$slowest,"family_totals":$fams,""" +
        s""""tail_entries_omitted":${queries.size - top.size},""" +
        s""""per_query_report":${jsonString(report.toString)},${tail(streaming)}}"""
    }

    def write(line: String): Unit =
      try {
        Option(report.getParent).foreach(Files.createDirectories(_))
        Files.write(report, (line + "\n").getBytes(UTF_8))
      } catch { case e: java.io.IOException =>
        System.err.println(s"bench: per-query report write failed: $e")
      }
  }

  /** Measures `queries` in order into `rec`, rewriting the report after each.
    *
    * A query draws up to `iters` times back to back and keeps its fastest
    * draw. It stops early when two consecutive draws agree within 10%, and
    * draws again only while the sweep is ahead of an even share of its
    * budget: `elapsed < (budgetS - start) × done / total`, timed from the
    * sweep's start. Once `clock()` reaches `budgetS` the remaining names are
    * recorded as unmeasured. A query that throws records -1 and its error,
    * never a time. `settle` runs after every draw, pass or fail, and must
    * leave the counters complete.
    */
  private[graft] def sweep(queries: Seq[(String, () => Unit)], iters: Int, budgetS: Double,
                           clock: () => Double, counters: Counters, settle: () => Unit,
                           rec: Record): Unit = {
    val start = clock()
    def ahead(done: Int) = clock() - start < (budgetS - start) * done / queries.size
    def draw(run: () => Unit): Draw = {
      counters.reset()
      val t0 = clock()
      val secs = try { run(); clock() - t0 } finally settle()
      Draw(secs, counters.jobs.get, counters.cpuNs.get / 1e9)
    }
    def agree(a: Draw, b: Draw) = math.min(a.secs, b.secs) / math.max(a.secs, b.secs) >= 0.9
    queries.zipWithIndex.foreach { case ((name, run), i) =>
      if (clock() >= budgetS) rec.skipped(name)
      else try {
        var draws = Vector(draw(run))
        while (draws.size < iters && !(draws.size >= 2 && agree(draws.last, draws.init.last)) &&
               ahead(i + 1))
          draws :+= draw(run)
        rec.measured(name, draws.minBy(_.secs), draws.size)
      } catch { case e: Throwable => rec.failed(name, e) }
      rec.write(rec.fullLine(partial = true))
    }
  }

  /** The sweep, then the streaming probes unless the sweep overran more than
    * half of the room; writes the final report and returns the full and the
    * summary line.
    */
  private[graft] def run(queries: Seq[(String, () => Unit)], iters: Int, deadlineS: Double,
                         clock: () => Double, counters: Counters, settle: () => Unit,
                         rec: Record, probes: () => String): (String, String) = {
    sweep(queries, iters, deadlineS - RoomS, clock, counters, settle, rec)
    val leftS = deadlineS - clock()
    val streaming =
      if (leftS >= RoomS / 2) probes()
      else s"""{"metric":"streaming_throughput","skipped":true,"remaining_s":${leftS.toLong}}"""
    val full = rec.fullLine(rec.partial, streaming)
    rec.write(full)
    (full, rec.summaryLine(rec.partial, streaming))
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val clock = () => (System.nanoTime() - startNs) / 1e9
    val env = sys.env
    val sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val only = env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val report = Paths.get(env.getOrElse("SPARK_GRAFT_BENCH_REPORT", "reports/bench_per_query.json"))
    val deadlineS = env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "870").toDouble
    val spark = LocalRun.session()
    // legacy-generation events.parquet is TIMESTAMP(NANOS): unreadable
    // without this conf, a no-op on the TIMESTAMP(MICROS) generation
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // first-touch session cost (codegen, parquet readers, every file index)
    // is paid here, not by whichever query happens to run first; through
    // the reader the queries use, so no schema-inference job runs
    Seq("lineitem", "orders", "customer", "documents", "embeddings",
      "events", "part", "supplier", "nation", "region")
      .foreach(t => Io.readTable(spark, s"$sfDir/$t.parquet").count())
    val rec = new Record(sfDir, LocalRun.cpus, iters, report)
    // a driver kill (SIGTERM from `timeout`) runs shutdown hooks: print the
    // summary of what was measured, from memory only (Spark is tearing down)
    val printed = new AtomicBoolean(false)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (printed.compareAndSet(false, true)) {
        println(rec.summaryLine(partial = true))
        System.out.flush()
      }))
    val queries = (SparkEntry.queries ++ operators.ApproxTiers.benchQueries).toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)
      .map { case (name, fn) =>
        name -> (() => fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      }
    val counters = Counters.attach(spark)
    // checkpoint-based queries persist RDDs they cannot release within
    // their one action; left in the block store they evict and slow every
    // later draw, so each draw starts from a clean slate
    val settle = () => {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Counters.drain(spark)
    }
    val (full, summary) = run(queries, iters, deadlineS, clock, counters, settle, rec,
      () => streamingProbes(spark, sfDir))
    println(full)
    if (printed.compareAndSet(false, true)) println(summary)
    System.out.flush()
    spark.stop()
    // an abandoned streaming probe can leave non-daemon threads behind; the
    // record is printed, so exit rather than risk a driver timeout
    System.exit(0)
  }

  /** A query's first trigger pays plan compilation, codegen and state-store
    * initialization that a long-running gate amortizes to nothing: feed the
    * head of `all` outside the clock (its state is the realistic context the
    * measured rows look up against) and clock the rest in `chunk`-row
    * triggers. The head is `warmN` rows but at most half of `all`, so a
    * small corpus still clocks rows. Returns the rows clocked and seconds.
    */
  private[graft] def warmThenClock[T](all: Seq[T], warmN: Int, chunk: Int,
                                      add: Seq[T] => Unit, sync: () => Unit): (Long, Double) = {
    val (warm, measured) = all.splitAt(math.min(warmN, all.size / 2))
    add(warm); sync()
    val t0 = System.nanoTime()
    measured.grouped(chunk).foreach { c => add(c); sync() }
    (measured.size.toLong, (System.nanoTime() - t0) / 1e9)
  }

  /** One gate's field of the streaming record; `rows_per_s` is -1 when no
    * row was clocked, never 0.
    */
  private[graft] def probeField(name: String, rows: Long, secs: Double): String = {
    val rate = if (rows > 0 && secs > 0) (rows / secs).toLong else -1L
    s""""$name":{"rows":$rows,"secs":$secs,"rows_per_s":$rate}"""
  }

  /** Rows per second through the stateful streaming gates, fed from a
    * MemoryStream over the sf corpus; a probe failure becomes an `error`
    * field, never a failed bench.
    */
  private def streamingProbes(spark: SparkSession, sfDir: String): String = try {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    // state-partition count is pinned to spark.sql.shuffle.partitions at
    // query start, and every micro-batch commits each partition's store;
    // 8 is the knee for these few-thousand-row triggers (917 rows/s at 32
    // partitions vs 2,489 at 8 on the same feed)
    val streamSess = spark.newSession()
    streamSess.conf.set("spark.sql.shuffle.partitions", "8")
    def probe(name: String)(run: () => (Long, Double)): String = {
      val (rows, secs) = run()
      probeField(name, rows, secs)
    }
    def checkpointDir() = Files.createTempDirectory("graft-bench-ck").toString
    def dedupProbeOn(sess: SparkSession): (Long, Double) = {
      val raw = Io.readTable(spark, s"$sfDir/events.parquet")
      val rows = raw
        .withColumn("ts", graft.sources.EventTime.tsTimestamp(raw))
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[(Long, java.sql.Timestamp, Long)]
        .sort("event_id").take(100000).toSeq
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long)](
        org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp, Long)], sess)
      val q = graft.streaming.EventStream
        .dedupStream(mem.toDF().toDF("event_id", "ts", "user_id"), Seq("event_id"))
        .writeStream.format("noop").option("checkpointLocation", checkpointDir())
        .outputMode("append").start()
      try warmThenClock(rows, 5000, 25000,
        (c: Seq[(Long, java.sql.Timestamp, Long)]) => mem.addData(c),
        () => q.processAllAvailable())
      finally q.stop()
    }
    val dedup = probe("dedup_stream") { () => dedupProbeOn(streamSess) }
    // the same gate on the RocksDB store: dedup state grows with arrival
    // rate and must not be bounded by executor heap
    val rocksSess = spark.newSession()
    rocksSess.conf.set("spark.sql.shuffle.partitions", "8")
    rocksSess.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dedupRocks = probe("dedup_stream_rocksdb") { () => dedupProbeOn(rocksSess) }
    // 2,500-row triggers for the gates below: at 1,000 the probes timed
    // mostly the fixed ~0.35 s micro-batch cost, not the gate
    val gate = probe("near_dup_gate") { () =>
      val docs = Io.readTable(spark, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[graft.streaming.DedupStream.Doc]
        .sort("doc_id").collect().toSeq
      val mem = MemoryStream[graft.streaming.DedupStream.Doc](
        org.apache.spark.sql.Encoders.product[graft.streaming.DedupStream.Doc], streamSess)
      val q = graft.streaming.DedupStream
        .nearDupVerdicts(mem.toDS(), threshold = 0.5)
        .writeStream.format("noop").option("checkpointLocation", checkpointDir())
        .outputMode("update").start() // flatMapGroupsWithState is Update-mode
      try warmThenClock(docs, 1000, 2500,
        (c: Seq[graft.streaming.DedupStream.Doc]) => mem.addData(c),
        () => q.processAllAvailable())
      finally q.stop()
    }
    val semGate = probe("semantic_gate") { () =>
      val e = Io.readTable(spark, s"$sfDir/embeddings.parquet")
      // the codebook trains offline in production; train outside the clock
      val cs = graft.llm.Similarity.ivfCentroids(e, "vec_id", "embedding",
        nClusters = 16, iters = 2)
      // 2k vectors at sf0.1 would time the batch machinery; five replicas
      // with offset ids are genuine near-dups, so rounds 2-5 exercise the
      // reject path an ingest gate mostly sees
      val base = e.select(col("vec_id"), col("embedding"))
        .as[graft.streaming.SemanticGate.Vec]
        .sort("vec_id").collect().toSeq
      val rows = (0 until 5).flatMap(k =>
        base.map(v => v.copy(vec_id = v.vec_id + k * 1000000L)))
      val mem = MemoryStream[graft.streaming.SemanticGate.Vec](
        org.apache.spark.sql.Encoders.product[graft.streaming.SemanticGate.Vec], streamSess)
      val q = graft.streaming.SemanticGate
        .verdicts(mem.toDS(), cs, threshold = 0.4)
        .writeStream.format("noop").option("checkpointLocation", checkpointDir())
        .outputMode("update").start()
      try warmThenClock(rows, 1000, 2500,
        (c: Seq[graft.streaming.SemanticGate.Vec]) => mem.addData(c),
        () => q.processAllAvailable())
      finally q.stop()
    }
    val mixGate = probe("mixture_gate") { () =>
      import org.apache.spark.sql.functions.{size => asize, sum => asum}
      val st = Io.readTable(spark, s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          asize(graft.llm.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      // budgets = half of each source's token mass, the offline planning
      // artifact the gate enforces (see MixtureStream)
      val budgets = st.groupBy("source").agg(asum("n_tok").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1) / 2).toMap
      val rows = st.as[graft.streaming.MixtureStream.DocTokens]
        .sort("doc_id").collect().toSeq
      val mem = MemoryStream[graft.streaming.MixtureStream.DocTokens](
        org.apache.spark.sql.Encoders.product[graft.streaming.MixtureStream.DocTokens],
        streamSess)
      val q = graft.streaming.MixtureStream.verdicts(mem.toDS(), budgets)
        .writeStream.format("noop").option("checkpointLocation", checkpointDir())
        .outputMode("update").start()
      try warmThenClock(rows, 1000, 2500,
        (c: Seq[graft.streaming.MixtureStream.DocTokens]) => mem.addData(c),
        () => q.processAllAvailable())
      finally q.stop()
    }
    s"""{"metric":"streaming_throughput",$dedup,$dedupRocks,$gate,$semGate,$mixGate,"sf":${jsonString(sfDir)}}"""
  } catch { case e: Throwable =>
    val msg = (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(200)
    s"""{"metric":"streaming_throughput","error":${jsonString(msg)}}"""
  }
}
