package graft.fin

/** CLI for the monthly close — the working equivalent of the reference's
  * stub CLI (reference: src/finance_etl/cli.py:7-21, which never wires
  * `run_month`; here it does).
  *
  * Usage: runMain graft.fin.RunMonthApp <workDir> <month> [failOn] [--generate] [--exports]
  *   workDir layout: <workDir>/raw, <workDir>/curated, <workDir>/reference
  *   --generate writes a synthetic month and chart of accounts first;
  *   --exports also writes <workDir>/bi, <workDir>/bi_star and
  *   <workDir>/dashboard.html
  */
object RunMonthApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunMonthApp <workDir> <month> [failOn] [--generate] [--exports]")
    val workDir = args(0)
    val month = args(1)
    val failOn = args.drop(2).find(!_.startsWith("--")).getOrElse("ERROR")
    val generate = args.contains("--generate")

    val rawDir = s"$workDir/raw"
    val curatedDir = s"$workDir/curated"
    val referenceDir = s"$workDir/reference"

    if (generate) {
      SampleData.writeChartOfAccounts(referenceDir)
      SampleData.generateSyntheticRaw(rawDir, month)
    }

    val spark = graft.LocalRun.session()

    try {
      val result = Pipeline.runMonth(
        spark, Settings.default, month, rawDir, curatedDir, referenceDir, failOn)
      println(s"[close] status=${result.status}")
      println(s"[close] fact=${result.fact}")
      println(s"[close] kpi=${result.kpi}")
      spark.read.parquet(result.kpi).show(truncate = false)

      if (args.contains("--exports")) {
        val bi = BiExport.`export`(spark, curatedDir, s"$workDir/bi", Some(month))
        println(s"[close] bi=${bi.outDir}")
        val star = StarExport.`export`(spark, curatedDir, s"$workDir/bi_star", Some(month))
        println(s"[close] star=${star.outDir}")
        val dash = Dashboard.build(spark, curatedDir, s"$workDir/dashboard.html", Some(month))
        println(s"[close] dashboard=${dash.outHtml}")
      }
    } finally spark.stop()
  }
}
