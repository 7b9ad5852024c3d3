package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Kill-resilient by construction (CORRECTNESS_r11 was `{}` because a
  * mid-loop JVM kill on an era-slow host left no oracle file at all):
  *   1. oracle_sql.json is written BEFORE the query loop — it is pure
  *      metadata, independent of any result, so even a run killed on its
  *      first query leaves the driver a parseable oracle map and every
  *      completed parquet gets compared.
  *   2. Queries run cheapest-first by the committed scaling.json leg for
  *      this SF, so a kill at any point preserves the maximum number of
  *      comparable rows. Queries with no committed cost (new this round)
  *      run first — their correctness signal is the round's newest.
  *   3. The loop runs with bounded concurrency (default 6 threads over
  *      the one shared session — queries are independent reads and the
  *      session is thread-safe; the only session conf any query touches
  *      is the idempotent nanosAsLong flag, and below
  *      `SmallInput.InterpretBelowBytes` each query builds and runs on a
  *      clone of its own, so even that lands on the clone). The r11
  *      serial wall was ~31 min at 8 cpus ≈ 5 s/query of mostly fixed
  *      per-action cost;
  *      overlapping actions converts that fixed cost into throughput
  *      (measured 3-9 min at par=6 / 8g, all 370 DuckDB-green).
  *      No per-query cache clearing here, deliberately: unpersisting
  *      localCheckpoint RDDs or clearing the shared cache would break
  *      CONCURRENT queries mid-flight (truncated-lineage blocks cannot
  *      be recomputed). sf0.01 blocks are small; three full concurrent
  *      dumps ran green in 8g with everything accumulated.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalRun.session()
    new java.io.File(outDir).mkdirs()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${LocalRun.jsonString(k)}: ${LocalRun.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // comma-separated name filter for targeted re-verification after a
    // single query's plan changes (mirrors Bench's SPARK_GRAFT_BENCH_ONLY);
    // unset → the driver's full dump
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // committed per-query cost for THIS SF (absent file / leg → 0.0, i.e.
    // new queries sort first); ordering only, so staleness is harmless
    val cost: Map[String, Double] = try {
      val p = Paths.get("reports/scaling.json")
      if (!Files.exists(p)) Map.empty
      else {
        import org.json4s._
        val sfKey = "sf" + sfDir.split("/").last.stripPrefix("sf")
        org.json4s.jackson.JsonMethods.parse(Files.readString(p)) \ "per_query" match {
          case JObject(fields) => fields.flatMap { case (name, v) =>
            v \ "secs" \ sfKey match {
              case JDouble(d) if d >= 0 => Some(name -> d)
              case JInt(i) if i >= 0    => Some(name -> i.toDouble)
              case _                    => None
            }
          }.toMap
          case _ => Map.empty
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] scaling.json unreadable ($e); insertion order")
      Map.empty
    }
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (cost.getOrElse(name, 0.0), name) }
    // default 6 measured on this box: 370 queries sf0.01 in ~3-9 min at
    // 8 cpus / 8g heap (vs ~12 min at 4, ~31 min serial), all 370
    // DuckDB-green — sf0.01 is overhead-dominated, so oversubscribing
    // the action slots converts fixed per-action cost into throughput
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    ordered.foreach { case (name, fn) =>
      pool.execute(() =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val n = done.incrementAndGet()
          if (n % 50 == 0)
            System.err.println(s"[verify] $n/${ordered.size} done")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        })
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    System.err.println(s"[verify] ${done.get()}/${ordered.size} queries dumped")
    spark.stop()
  }
}
