package graft

/** Diagnostic main behind PLANS.md: prints the formatted physical plan
  * of each named query.
  *
  *   runMain graft.ExplainDump <sfDir> name [name ...]
  *
  * NOTE: building a query CAN run Spark jobs — several builders take
  * driver actions (counts, two-pass prefix sums, collected checksums)
  * before returning their final frame, and for those the printed plan
  * is only the tail after the last action. Names are therefore
  * required (no implicit run-everything), and the cost of a dump is
  * the cost of building exactly the queries you asked for.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    require(names.nonEmpty,
      "usage: ExplainDump <sfDir> name [name ...] — known names:\n  " +
        SparkEntry.registry.map(_.name).sorted.mkString("\n  "))
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = graft.util.GraftSession("graft.ExplainDump", 4)
    // SPARK_GRAFT_EXPLAIN_BENCH=1 explains the BENCH form (the timed
    // store-op variant) — for the lifecycle queries the Verify form's
    // final frame is a gate aggregate over a checkpoint, while the
    // bench form returns the actual probe/search operator whose plan
    // the optimization record talks about
    val useBench = sys.env.get("SPARK_GRAFT_EXPLAIN_BENCH").contains("1")
    names.foreach { name =>
      println(s"\n================ $name ================")
      try {
        val fn =
          if (useBench) SparkEntry.benchQueries.getOrElse(name,
            SparkEntry.queries(name))
          else SparkEntry.queries(name)
        val df = fn(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
