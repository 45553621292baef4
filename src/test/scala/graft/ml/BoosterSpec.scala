package graft.ml

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The model codec: exact round trip of graft's own boosters, no Spark
  * job on either side, MLlib models rebuilt to predict bit for bit, the
  * same file read as a plain XGBoost model once graft's attributes are
  * stripped, and the write path's replace semantics. */
class BoosterSpec extends SparkSpec {

  private val dir = graft.util.Fixtures.dir + "/booster_spec"
  private val sub = java.lang.Double.MIN_VALUE // the smallest subnormal

  /** Two trees over awkward doubles: 0.1, subnormals, ±0.0, 1e300. */
  private val awkward = Booster(
    Vector(
      Explain.FlatTree(Array(0, 1, -1, -1, -1),
        Array(0.1, -0.0, 0.0, 0.0, 0.0),
        Array(1, 2, -1, -1, -1), Array(4, 3, -1, -1, -1),
        Array(0.3, -1e-310, sub, -0.0, 0.1 + 0.2),
        Array(10.5, 6.25, 3.0, 3.25, 4.25),
        Array(0.1, 1e-320, 0.0, 0.0, 0.0),
        Array(false, true, false, false, false)),
      Explain.FlatTree(Array(2, 0, -1, -1, -1),
        Array(-sub, 2.5e300, 0.0, 0.0, 0.0),
        Array(1, 2, -1, -1, -1), Array(4, 3, -1, -1, -1),
        Array(-0.7, 0.2, 0.1, -sub, -0.0),
        Array(7.0, 4.0, 1.5, 2.5, 3.0),
        Array(3.75, 0.1, 0.0, 0.0, 0.0),
        Array(false, false, false, false, false))),
    Vector(1.0, 0.1), 0.1 + 0.2, 1.0, Booster.Logistic,
    Seq("rs1_A", "rs2_C", "rs3_G"), Map("platt_a" -> "0.1"))

  private def bits(xs: Array[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** Rows that sit exactly on each threshold and on either side of it,
    * plus NaNs to exercise the missing-value direction. */
  private val edgeRows = Seq(
    Array(0.1, -0.0, -sub), Array(0.1, 0.0, sub), Array(Math.nextUp(0.1), 0.0, 0.0),
    Array(0.0, Double.NaN, -sub), Array(2.5e300, 0.1, Double.NaN),
    Array(Double.NaN, -1.0, Math.nextDown(-sub)))

  private lazy val sim = {
    val cfg = Sim.Config(n = 300L, p = 6, seed = 5L, chunkRows = 50L)
    val bundle = Train.withVector(Sim.bundle(spark, cfg)).cache()
    val model = Train.fitClassifier(bundle, HyperParams(0.3, 0.9, 1.0, 3, 5), 7L)
    (bundle, model, Sim.snpNames(cfg.p, cfg.seed))
  }

  test("write -> read is bit-exact for graft's own boosters") {
    val path = s"$dir/awkward.json"
    Booster.write(spark, path, awkward)
    val back = Booster.read(spark, path)
    assert(back.trees.size == awkward.trees.size)
    awkward.trees.zip(back.trees).foreach { case (a, b) =>
      assert(a.feature.toSeq == b.feature.toSeq)
      assert(a.left.toSeq == b.left.toSeq && a.right.toSeq == b.right.toSeq)
      assert(a.defaultLeft.toSeq == b.defaultLeft.toSeq)
      assert(bits(a.value) == bits(b.value))
      assert(bits(a.cover) == bits(b.cover))
      assert(bits(a.gain) == bits(b.gain))
      assert(java.lang.Double.doubleToRawLongBits(a.expected) ==
        java.lang.Double.doubleToRawLongBits(b.expected))
      // −0.0 may come back as 0.0: x <= −0.0 and x <= 0.0 route alike
      a.threshold.zip(b.threshold).foreach { case (x, y) =>
        if (x == 0.0) assert(y == 0.0)
        else assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y), s"threshold $x read as $y")
      }
    }
    assert(bits(awkward.weights.toArray) == bits(back.weights.toArray))
    assert(java.lang.Double.doubleToRawLongBits(back.baseMargin) ==
      java.lang.Double.doubleToRawLongBits(awkward.baseMargin))
    assert(back.scale == awkward.scale && back.objective == awkward.objective)
    assert(back.featureNames == awkward.featureNames)
    assert(back.attributes == awkward.attributes)
    edgeRows.foreach(x => assert(back.predictRow(x) == awkward.predictRow(x)))
  }

  test("a write and a read each run no Spark job") {
    val path = s"$dir/nojobs.json"
    assert(jobsRun(spark.range(3).count()) >= 1) // the counter counts
    assert(jobsRun(Booster.write(spark, path, awkward)) == 0)
    assert(jobsRun(Booster.read(spark, path)) == 0)
  }

  test("a read leaves the thread's job description as it was") {
    val path = s"$dir/desc.json"
    Booster.write(spark, path, awkward)
    val sc = spark.sparkContext
    try {
      sc.setJobDescription("caller's description")
      Booster.read(spark, path)
      assert(sc.getLocalProperty("spark.job.description") == "caller's description")
      sc.setJobDescription(null)
      Booster.read(spark, path)
      assert(sc.getLocalProperty("spark.job.description") == null)
    } finally sc.setJobDescription(null)
  }

  test("an MLlib model rebuilt from the file predicts bit for bit") {
    val (bundle, model, names) = sim
    val path = s"$dir/mllib.json"
    Booster.write(spark, path, Booster.fromMllib(model, names))
    val rebuilt = Booster.read(spark, path).toMllib
    assert(rebuilt.trees.length == model.trees.length)
    def preds(m: org.apache.spark.ml.classification.GBTClassificationModel) =
      Train.predictClassifier(m, bundle).select("iid", "y_pred").collect()
        .map(r => r.getString(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
        .toMap
    val want = preds(model)
    assert(want.size == 300 && preds(rebuilt) == want)
  }

  test("without learner.attributes the file reads as a foreign XGBoost model") {
    def strip(path: String): Booster = Booster.parse(JsonMethods.compact(
      JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
        .transformField { case ("attributes", _) => ("attributes", JObject(Nil)) }))
    // an MLlib model: probabilities agree with MLlib's own to 1e-12
    val (bundle, model, names) = sim
    val path = s"$dir/foreign.json"
    Booster.write(spark, path, Booster.fromMllib(model, names))
    val foreign = strip(path)
    assert(foreign.scale == 1.0 && foreign.weights.forall(_ == 1.0))
    assert(foreign.attributes.isEmpty && foreign.featureNames == names)
    val want = Train.predictClassifier(model, bundle).select("iid", "y_pred")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = foreign.predictCol(bundle).select("iid", "y_pred")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, p) => assert(math.abs(got(k) - p) < 1e-12, k) }
    // rows on a threshold route as graft's `x <= t` does
    Booster.write(spark, path, awkward)
    val foreignAwkward = strip(path)
    edgeRows.foreach(x =>
      assert(math.abs(foreignAwkward.predictRow(x) - awkward.predictRow(x)) < 1e-12))
    // and an XGBoost file's `x < split_condition` holds: 0.5 goes right
    val fixture = Booster.parse(XgbImport.fixtureJson).trees(0)
    assert(fixture.child(0, Array(0.5, 0.1)) == fixture.right(0))
    assert(fixture.child(0, Array(Math.nextDown(0.5), 0.1)) == fixture.left(0))
  }

  test("a write replaces an older model directory at the target path") {
    graft.util.Fs.rmRecursive(new java.io.File(s"$dir/parent_era"))
    val path = s"$dir/parent_era/model.json"
    // the layout MLlib persistence left: metadata/ and data/ parts
    Files.createDirectories(Paths.get(s"$path/metadata"))
    Files.createDirectories(Paths.get(s"$path/data"))
    Files.write(Paths.get(s"$path/metadata/part-00000"), "{}".getBytes)
    Files.write(Paths.get(s"$path/data/part-00000.parquet"), Array[Byte](1, 2))
    Booster.write(spark, path, awkward)
    assert(Files.isRegularFile(Paths.get(path)))
    assert(Booster.read(spark, path).weights == awkward.weights)
    // and a second write replaces the file it left
    Booster.write(spark, path, awkward.copy(weights = Vector(0.5, 0.25)))
    assert(Booster.read(spark, path).weights == Vector(0.5, 0.25))
  }
}
