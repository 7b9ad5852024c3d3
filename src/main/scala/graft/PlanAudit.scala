package graft

/** Diagnostic: dump `explain("formatted")` for registered queries so the
  * physical plans can be audited (pushed filters, ReadSchema pruning,
  * broadcast vs sort-merge joins, WholeStageCodegen spans).
  *
  * Each query's header says which path its plan takes ([[SmallInput]]):
  * `(interpreted)` over a dataset smaller than
  * [[SmallInput.InterpretBelowBytes]], `(compiled)` otherwise. Codegen
  * spans show only on the compiled path, so audit them above the bound
  * (sf0.1).
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
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val path = if (df.sparkSession.conf.get("spark.sql.codegen.wholeStage") == "false")
          "interpreted" else "compiled"
        println(s"\n========== $n ($path) ==========")
        df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"\n========== $n ==========")
        println(s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
