package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test run (JVM-wide —
  * Spark session startup dominates test wall-time otherwise). The
  * `graft.cli.keepSession` property stops CLI mains under test from
  * tearing it down.
  */
object TestSpark {
  sys.props("graft.cli.keepSession") = "true"
  lazy val spark: SparkSession =
    graft.util.GraftSession.build("graft-test", "local[4]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs that `body` submits from this thread. Jobs are tagged
    * by a thread-local property; a tagged end-marker job tells when the
    * listener bus has delivered every earlier job start. */
  def jobsRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "listener never saw the end marker")
      seen.toArray.count(_ == tag)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
