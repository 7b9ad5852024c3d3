package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.classic.{SparkSession => CSparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Sessions that run queries without generating code, for inputs so small
  * that compiling a query's classes costs more than running it.
  */
object SessionBridge {

  /** A clone of `spark` that runs every query interpreted: whole-stage code
    * generation off and `spark.sql.codegen.factoryMode=NO_CODEGEN`. The
    * clone keeps the caller's conf, extensions and registered
    * `QueryExecutionListener`s; `spark` itself is not changed.
    *
    * Why NO_CODEGEN is safe: every operator and expression evaluator Spark
    * generates code for also has an interpreted path, and Spark's default
    * factory mode, FALLBACK, already runs that path whenever a generated
    * class fails to compile: interpreted projections, predicates and
    * orderings for expressions, and each operator's own `doExecute` when a
    * whole-stage class does not compile (`spark.sql.codegen.fallback`).
    * NO_CODEGEN takes those same paths from the start. The physical plan
    * keeps its exchanges, scans and jobs; only the `WholeStageCodegen`
    * wrappers are gone.
    */
  def interpreted(spark: SparkSession): SparkSession = {
    val clone = spark.asInstanceOf[CSparkSession].cloneSession()
    clone.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
    clone.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, CodegenObjectFactoryMode.NO_CODEGEN.toString)
    clone
  }

  /** `body` with `spark` as the thread's active session, so code that reads
    * the active conf on the driver (encoders of `createDataFrame` and
    * `collect`) reads `spark`'s.
    */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)
}
