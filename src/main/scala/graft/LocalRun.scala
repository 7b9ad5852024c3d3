package graft

import org.apache.spark.sql.SparkSession

/** What the mains (Bench, Verify, PlanAudit, Prof, FanoutEvidence and the
  * close CLI `fin.RunMonthApp`) share: one local session shape, so the
  * plans each of them reports are the plans the others run, and one JSON
  * string escape.
  */
private[graft] object LocalRun {
  /** Session width: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]`, `cpus` shuffle partitions, UTC, no UI, GraftExtensions. */
  def session(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character escaped, so a tab in a query's SQL cannot break a reader's
    * parse.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
