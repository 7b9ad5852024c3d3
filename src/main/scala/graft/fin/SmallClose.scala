package graft.fin

import scala.util.DynamicVariable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** Where a close entry point runs its body. A close of a few hundred rows
  * spends more time compiling generated classes than running them (about
  * 270 compilations in a warm month, more than Spark's codegen cache
  * holds), so a close whose input files are small runs on an interpreted
  * clone of the caller's session ([[SessionBridge.interpreted]]). Larger
  * inputs run on the caller's session, compiled, as before. The caller's
  * session is never changed.
  */
private[fin] object SmallClose {

  /** Inputs of fewer bytes than this close interpreted. From the measured
    * crossover of a warm month (reports/close_month_floor.md): interpreted
    * wins up to 500× the sample month and ties at 1000×. In bytes the
    * exporters, which read parquet, tie from about 3.9 MB, and `runMonth`,
    * which reads raw CSV, not below 9 MB; one bound serves both, so it
    * sits at the lower crossover.
    */
  private[fin] val InterpretBelowBytes: Long = 4L << 20

  /** True when a close reading `inputBytes` runs interpreted. */
  private[fin] def interprets(inputBytes: Long): Boolean = inputBytes < InterpretBelowBytes

  private val compiledAtAnySize = new DynamicVariable(false)

  /** `body` with every close inside it on the caller's session at any
    * size: the compiled path of inputs above the bound, on a small input,
    * so the two paths can be compared on the same month.
    */
  private[fin] def compiled[T](body: => T): T = compiledAtAnySize.withValue(true)(body)

  /** Bytes of the files at or under `paths`; a missing path counts 0. */
  private[fin] def bytesOf(spark: SparkSession, paths: Seq[String]): Long = {
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
