package graft.util

import graft.SparkSpec

class SessionSpec extends SparkSpec {

  test("the shared test session is the builder's session") {
    assert(spark.sparkContext.appName == "graft-test")
    assert(GraftSession.build("graft-test", "local[4]", 4) eq spark,
      "the builder did not return the live test session")
  }

  test("the session carries the fixed settings and the default " +
      "file-output committer") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    val committer = "mapreduce.fileoutputcommitter.algorithm.version"
    assert(!conf.getAll.contains(s"spark.hadoop.$committer"),
      "a session sets the committer")
    assert(Option(spark.sparkContext.hadoopConfiguration.get(committer))
      .forall(_ == "1"), "the Hadoop committer is not the default v1")
  }

  test("Cli.session inside a live session returns that session") {
    assert(graft.cli.Cli.session("graft-spec-cli") eq spark)
  }
}
