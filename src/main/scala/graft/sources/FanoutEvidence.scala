package graft.sources

import org.apache.spark.sql.functions.col

/** Plan-evidence dump for the scan fan-out thresholds (r12 verdict #1/#2):
  * explains a filtered projection over `Io.readTable(path)` so the
  * committed dumps show (a) exactly where the Repartition exchange fires
  * — and where the splittability gate suppresses it — and (b) that
  * `PushedFilters` / `ReadSchema` survive the exchange.
  *
  * Usage: runMain graft.sources.FanoutEvidence <path> <filterExpr> [col ...]
  * Session width comes from SPARK_GRAFT_CPUS (default 4, as for Bench).
  */
object FanoutEvidence {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val filterExpr = args(1)
    val cols = args.drop(2).toSeq
    val cpus = graft.LocalRun.cpus
    val spark = graft.LocalRun.session(logLevel = "ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = Io.readTable(spark, path).where(filterExpr)
    val df = if (cols.isEmpty) base else base.select(cols.map(col): _*)
    println(s"========== Io.readTable over $path ==========")
    println(s"-- session width: $cpus; filter: $filterExpr; " +
      s"projection: ${if (cols.isEmpty) "*" else cols.mkString(",")}")
    println(s"-- resulting partitions: ${df.rdd.getNumPartitions}")
    df.explain("formatted")
    spark.stop()
  }
}
