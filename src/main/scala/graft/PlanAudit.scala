package graft

/** Diagnostic: dump `explain("formatted")` for registered queries so the
  * physical plans can be audited (pushed filters, ReadSchema pruning,
  * broadcast vs sort-merge joins, WholeStageCodegen spans).
  *
  * Usage: runMain graft.PlanAudit <sfDir> [queryName ...]
  * (no names → all registered queries).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the session Verify and Bench run, so audited plans are the plans
    // that actually run (vector_dot rewrite included)
    val spark = LocalRun.session(logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
