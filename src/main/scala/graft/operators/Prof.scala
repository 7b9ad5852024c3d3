package graft.operators

import scala.jdk.CollectionConverters._

/** Steady-state profile of registered queries, one noop-sink action per
  * iteration exactly as Bench runs them. Per iteration it prints wall
  * time, executor run time (`run=`, summed task `executorRunTime`),
  * executor CPU time (`cpu=`, summed task `executorCpuTime`), the
  * scheduler's job and stage counts, and the stages with the most run
  * time — the inputs a floor analysis needs. If run time summed over
  * the cores is far below wall time, the query is bound by planning and
  * scheduling, not by data.
  *
  * Usage: tools/run_prof.sh run:<query>[,<query>...]
  * Environment: SPARK_GRAFT_SF_DIR (the table directory),
  * SPARK_GRAFT_CPUS (session width, default 4),
  * SPARK_GRAFT_PROF_Q (the `run:` list), SPARK_GRAFT_PROF_ITERS
  * (iterations per query, default 4).
  */
object Prof {
  private val TopStages = 5

  def main(args: Array[String]): Unit = {
    val s = graft.LocalRun.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = sys.env.getOrElse("SPARK_GRAFT_PROF_Q", "")
    require(q.startsWith("run:"),
      s"usage: SPARK_GRAFT_PROF_Q=run:<query>[,<query>...] (got '$q')")
    val names = q.stripPrefix("run:").split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROF_ITERS", "4").toInt
    val counters = graft.Counters.attach(s)
    // warm-up: file indexes + codegen
    Seq("lineitem", "documents").foreach(t =>
      s.read.parquet(s"$dir/$t.parquet").count())
    for (name <- names; it <- 1 to iters) {
      counters.reset()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, dir)
        .write.mode("overwrite").format("noop").save()
      val wallS = (System.nanoTime() - t0) / 1e9
      graft.Counters.drain(s)
      println(f"PROF $name%-22s [$it] $wallS%7.3f s" +
        f"  run=${counters.runMs.get / 1e3}%7.2f s" +
        f"  cpu=${counters.cpuNs.get / 1e9}%7.2f s" +
        f"  jobs=${counters.jobs.get}  stages=${counters.stages.get}")
      counters.stageRunMs.asScala.toSeq.sortBy(-_._2).take(TopStages).foreach {
        case (id, ms) =>
          val nm = Option(counters.stageNames.get(id)).getOrElse("?")
          println(f"PROF $name%-22s [$it]   stage $id%4d run=${ms / 1e3}%7.2f s  $nm")
      }
      s.sharedState.cacheManager.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    s.stop()
  }
}
