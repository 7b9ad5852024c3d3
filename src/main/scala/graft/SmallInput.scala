package graft

import scala.util.DynamicVariable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** Where an entry point runs its body: the four close entry points
  * (`fin.Pipeline.runMonth` and the three exporters) and every registered
  * query ([[SparkEntry.queries]]). At a few hundred rows, compiling a
  * plan's generated classes costs more than running them (about 270
  * compilations in a warm month close, more than Spark's codegen cache
  * holds; 17% of the profile samples of a compiled `queries_multistage`
  * pass), so a body whose input files are small runs on an interpreted
  * clone of the caller's session ([[SessionBridge.interpreted]]). Larger
  * inputs run on the caller's session, compiled, as before. The caller's
  * session is never changed: a conf a body sets lands on the clone.
  *
  * A DataFrame built in the body keeps the session it was built on, so its
  * later action runs interpreted too, whoever triggers it. Combine it only
  * with frames built on that same session.
  */
private[graft] object SmallInput {

  /** Inputs of fewer bytes than this run interpreted. From the measured
    * crossover of a warm month close (reports/close_month_floor.md):
    * interpreted wins up to 500× the sample month and ties at 1000×. In
    * bytes the exporters, which read parquet, tie from about 3.9 MB, and
    * `runMonth`, which reads raw CSV, not below 9 MB; one bound serves
    * both, so it sits at the lower crossover. The registered queries'
    * crossover lies above it too (reports/queries_crossover.md).
    */
  private[graft] val InterpretBelowBytes: Long = 4L << 20

  /** True when a body reading `inputBytes` runs interpreted. */
  private[graft] def interprets(inputBytes: Long): Boolean = inputBytes < InterpretBelowBytes

  private val compiledAtAnySize = new DynamicVariable(false)

  /** `body` with every entry point inside it on the caller's session at any
    * size: the compiled path of inputs above the bound, on a small input,
    * so the two paths can be compared on the same data.
    */
  private[graft] def compiled[T](body: => T): T = compiledAtAnySize.withValue(true)(body)

  /** Bytes of the files at or under `paths`; a missing path counts 0. */
  private[graft] def bytesOf(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum
  }

  /** `body` on an interpreted clone of `spark`, active on this thread, when
    * the files at `inputs` total fewer than [[InterpretBelowBytes]];
    * otherwise `body` on `spark`.
    */
  def run[T](spark: SparkSession, inputs: Seq[String])(body: SparkSession => T): T =
    if (compiledAtAnySize.value || !interprets(bytesOf(spark, inputs))) body(spark)
    else {
      val clone = SessionBridge.interpreted(spark)
      SessionBridge.withActive(clone)(body(clone))
    }
}
