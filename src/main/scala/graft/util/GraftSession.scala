package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built: every main, the CLIs
  * and the test suite run these settings, so a timing, a profile and a
  * test all see the same engine. Fixed here: one shuffle partition per
  * core, UTC session time, parquet INT64 nanosecond timestamps read as
  * longs, no UI, WARN logging. File output commits keep the Hadoop
  * default committer (v1): its job commit publishes nothing until
  * every task is done, so an aborted overwrite leaves no part file a
  * reader could take for a whole output. (v2 publishes at task commit
  * and measured no faster on a local filesystem.) */
object GraftSession {

  /** The session a main runs in: master `SPARK_GRAFT_MASTER`, else
    * `local[n]`, where n is `SPARK_GRAFT_CPUS`, else `defaultCores`.
    * Inside a live session (a host that embeds a main, the tests) this
    * returns that session with its shuffle partitions set to n. */
  def apply(name: String, defaultCores: Int): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.trim.toInt)
    build(name, sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"),
      cores)
  }

  /** The session on a fixed `master` with `partitions` shuffle
    * partitions; `conf` adds what only this caller needs. */
  def build(name: String, master: String, partitions: Int,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .appName(name)
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The host's processor count: the timing tools' default cores. */
  def hostCores: Int = Runtime.getRuntime.availableProcessors()

  /** The 1/5/15-minute load averages, or "unavailable". A run record
    * carries them at start and end: load1 near 0 means a clean
    * measurement, load1 well above cores/4 means a slow query may be
    * a noisy neighbour rather than the code. */
  def loadAvg(): String = try {
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
      _.mkString).trim.split("\\s+").take(3).mkString(" ")
  } catch { case _: Throwable => "unavailable" }
}
