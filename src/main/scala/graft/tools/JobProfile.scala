package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.util.GraftSession

/** Per-job profiler for the bench queries (guide §1: measure first).
  *
  * Runs the named queries' bench forms under the Bench session config
  * with a SparkListener that attributes every Spark job to its driver
  * call site, then prints, per query:
  *   - total wall time,
  *   - summed job time + job count,
  *   - the gap (wall − jobs) = driver-side work: planning, file-system
  *     ops (lease/rename/rmTree), tiny-meta reads, collect overhead,
  *   - the per-call-site aggregate sorted by total time.
  *
  * Usage: SPARK_GRAFT_PROFILE=v29_graph_density_repair,d17_dedup_index_ingest \
  *        SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.JobProfile"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "set SPARK_GRAFT_PROFILE=<query>[,<query>...]")
    val spark = GraftSession("graft.tools.JobProfile", GraftSession.hostCores)

    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    // SQL executions carry the action call site in their description;
    // jobs reference them via the execution-id property
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execDesc.put(e.executionId, e.description): Unit
          case _ => ()
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribute the job to its SQL execution's call site when it has
        // one, else the first graft frame in its result stage's creation
        // stack, else the stage name
        val fromSql = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong)))
        val stages = js.stageInfos.sortBy(_.stageId)
        val site = fromSql
          .orElse(stages.reverseIterator
            .flatMap(_.details.linesIterator.find(l =>
              l.contains("graft.") && !l.contains("JobProfile")))
            .nextOption()
            .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")"))
          .orElse(stages.lastOption.map(_.name))
          .getOrElse("?")
        started.put(js.jobId, (site, js.time)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(started.remove(je.jobId)).foreach { case (site, t0) =>
          finished.add((site, je.time - t0)): Unit
        }
      }
    })

    // session warmup (scheduler/codegen/committer), as in Bench
    spark.range(1000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()

    names.foreach { name =>
      val fn = graft.SparkEntry.benchQueries.getOrElse(name,
        graft.SparkEntry.queries(name))
      // run once UNPROFILED to absorb first-touch JIT/classload, then
      // the profiled run measures steady-state shape
      val reps = sys.env.get("SPARK_GRAFT_PROFILE_REPS")
        .flatMap(_.toIntOption).getOrElse(2)
      var wall = 0.0
      (1 to reps).foreach { rep =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
        finished.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - t0) / 1e9
        if (rep < reps) println(f"[$name] warm rep $rep%d: $wall%.2f s")
      }
      Thread.sleep(1000) // let the async listener bus drain
      import scala.jdk.CollectionConverters._
      val jobs = finished.asScala.toSeq
      val jobMs = jobs.map(_._2).sum
      println(f"\n=== $name ===  wall ${wall}%.2f s | ${jobs.size}%d jobs " +
        f"summing ${jobMs / 1000.0}%.2f s | driver gap ${wall - jobMs / 1000.0}%.2f s")
      jobs.groupBy(_._1).toSeq
        .map { case (site, xs) => (site, xs.size, xs.map(_._2).sum) }
        .sortBy(-_._3)
        .take(40)
        .foreach { case (site, n, ms) =>
          println(f"  ${ms / 1000.0}%8.2f s  ${n}%4d jobs  $site")
        }
    }
    spark.stop()
  }
}
