package org.apache.spark.sql.graftbridge

import java.util.concurrent.CompletionException

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.classic.{SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.ThreadUtils

/** Sessions that run queries without generating code, for inputs so small
  * that compiling a query's classes costs more than running it, and
  * independent actions of one caller submitted together.
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

  /** Threads [[concurrently]] runs bodies on; the widest caller submits six. */
  private val MaxThreads = 8

  /** One pool for every caller: daemon threads, so it never keeps a JVM
    * alive, that end after a minute idle. Bodies beyond [[MaxThreads]] queue.
    */
  private lazy val pool = ThreadUtils.newDaemonCachedThreadPool("graft-concurrently", MaxThreads)

  /** Runs `bodies` at once on a shared pool and returns their results in
    * argument order. Each body runs with `spark` as its active session and
    * with the caller's local properties (job groups, tags, scheduler pool),
    * as Spark's own broadcast and subquery threads do
    * (`SQLExecution.withThreadLocalCaptured`).
    *
    * Returns or throws only once every body has finished, so no action is
    * still running when the caller goes on. A failure is rethrown as the
    * body threw it; when several bodies fail, the first in argument order
    * is thrown with the others added as suppressed.
    *
    * Bodies must not call `concurrently` themselves: a body waiting on the
    * pool from inside it could wait for a thread it holds.
    */
  def concurrently[T](spark: SparkSession)(bodies: (() => T)*): Seq[T] = {
    val session = spark.asInstanceOf[CSparkSession]
    val futures = bodies.map(b => SQLExecution.withThreadLocalCaptured(session, pool)(b()))
    val outcomes = futures.map { f =>
      try Right(f.join())
      catch { case e: CompletionException => Left(Option(e.getCause).getOrElse(e)) }
    }
    outcomes.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(t) => t }
    }
  }
}
