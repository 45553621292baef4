package graft.ml

import graft.SparkSpec
import graft.ops.Splits
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** The CV drivers fit their folds at the same time; these pin that the
  * results, their order, failure handling and job tagging are what a
  * fold-by-fold run gives. */
class TrainSpec extends SparkSpec {

  private val k = 3
  private val nBlocks = 6L
  private lazy val bundle =
    Sim.bundle(spark, Sim.Config(n = 600L, p = 8, seed = 321L, chunkRows = 100L))
      .cache()
  private lazy val params = Train.sampleParams(nIter = 2, nRounds = 3, seed = 99L)

  test("crossValidate: same rows, same order as a sequential fold-by-fold run") {
    val got = Train.crossValidate(bundle, k, nBlocks, params, "auc", seed = 5L)
      .collect().toSeq
    val want = Splits.chunkedKFold(Train.withVector(bundle), k, nBlocks)
      .zipWithIndex.flatMap { case ((train, test), fold) =>
        params.map { hp =>
          val m = Train.fitClassifier(train, hp, 5L)
          Row(hp.eta, hp.subsample, hp.colsampleBytree, hp.maxDepth, "auc",
            Scoring.auc(Train.predictClassifier(m, test), "label", "y_pred"),
            Scoring.auc(Train.predictClassifier(m, train), "label", "y_pred"),
            fold, hp.nRounds)
        }
      }
    assert(got == want)
  }

  test("oneRoundCv: every iid exactly once, folds 0..k-1 in fold order") {
    val hp = params.head
    val rows = Train.oneRoundCv(bundle, k, nBlocks, hp, seed = 5L)
      .select("iid", "y_pred", "fold").collect().toSeq
    val iids = rows.map(_.getString(0))
    assert(iids.length == 600 && iids.distinct.length == 600)
    assert(iids.toSet == bundle.select("iid").collect().map(_.getString(0)).toSet)
    val folds = rows.map(_.getInt(2))
    assert(folds == folds.sorted && folds.distinct == (0 until k))
    // each fold's rows are scored by the model fitted without them
    val want = Splits.chunkedKFold(Train.withVector(bundle), k, nBlocks)
      .zipWithIndex.flatMap { case ((train, test), fold) =>
        Train.predictClassifier(Train.fitClassifier(train, hp, 5L), test)
          .select("iid", "y_pred").collect().map(r => Row(r(0), r(1), fold))
      }
    assert(rows == want)
  }

  test("a failing fold surfaces its own exception and leaves nothing cached") {
    val sc = spark.sparkContext
    val fresh = Sim.bundle(spark, Sim.Config(n = 600L, p = 8, seed = 7L))
    // block 0 is in the training set of folds 1 and 2 only: fold 0 fits,
    // the other two fail inside a job, after the shared cache is filled
    val badLabel = fresh.withColumn("label",
      when(col("block_id") === 0, lit(2.0f)).otherwise(col("label")))
    val before = sc.getPersistentRDDs.keySet
    // the task-side label check's own error, not an ExecutionException
    def labelError(e: RuntimeException): Boolean =
      e.isInstanceOf[SparkThrowable] && e.getMessage.contains("Labels MUST be in {0, 1}")
    // checked after each call: both cache the same plan, so a later
    // call's unpersist would hide an earlier call's leak
    assert(labelError(intercept[RuntimeException] {
      Train.crossValidate(badLabel, k, nBlocks, params, "auc", 5L)
    }))
    assert(sc.getPersistentRDDs.keySet == before)
    assert(labelError(intercept[RuntimeException] {
      Train.oneRoundCv(badLabel, k, nBlocks, params.head, 5L)
    }))
    assert(sc.getPersistentRDDs.keySet == before)
    intercept[IllegalArgumentException] {
      Train.crossValidate(fresh, k, nBlocks, params, "auc", 5L,
        labelCol = "no_such_label")
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("Concurrent.all: input order, waits for siblings, rethrows the original") {
    assert(Concurrent.all(Seq(
      () => { Thread.sleep(200); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
    final class Boom extends RuntimeException("boom")
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[Boom] {
      Concurrent.all(Seq(
        () => throw new Boom,
        () => { Thread.sleep(300); siblingDone.set(true); 0 }))
    }
    assert(siblingDone.get())
    assert(e.getMessage == "boom")
  }

  test("jobs submitted from the fold threads carry the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.test.trainTag"
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse("<untagged>"))
    }
    // caller-thread marker jobs bracket the call; the bus keeps order
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      sc.setLocalProperty(key, "cv")
      try Train.crossValidate(bundle, k, nBlocks, params.take(1), "auc", 5L).collect()
      finally sc.setLocalProperty(key, null)
      marker("end")
      eventually(timeout(30.seconds)) { assert(tags.contains("end")) }
    } finally sc.removeSparkListener(listener)
    val inCall = tags.asScala.toSeq.dropWhile(_ != "start").drop(1).takeWhile(_ != "end")
    // k folds × (fit + two AUCs) jobs at the least, all from pool threads
    assert(inCall.size > k * 3)
    assert(inCall.forall(_ == "cv"), inCall.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("the CV drivers keep a cache the caller made of the same plan") {
    val vec = Train.withVector(bundle).cache()
    val cm = spark.sharedState.cacheManager
    import org.apache.spark.sql.classic.ClassicConversions._
    try {
      Train.crossValidate(bundle, k, nBlocks, params.take(1), "auc", 5L).collect()
      assert(cm.lookupCachedData(vec).isDefined, "crossValidate dropped the caller's cache")
      Train.oneRoundCv(bundle, k, nBlocks, params.head, 5L).collect()
      assert(cm.lookupCachedData(vec).isDefined, "oneRoundCv dropped the caller's cache")
    } finally vec.unpersist()
  }
}
