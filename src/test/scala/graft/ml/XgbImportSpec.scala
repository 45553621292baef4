package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** XGBoost JSON import through the [[Booster]] codec vs hand-traversed
  * trees: parse shape, leaf routing (incl. NaN → default_left and the
  * missing-feature case), objective transforms, and the distributed
  * predict path.
  */
class XgbImportSpec extends SparkSpec {

  private lazy val model = Booster.parse(XgbImport.fixtureJson)

  test("parse: shape, objective, base_score") {
    assert(model.trees.length == 2)
    assert(model.objective == "binary:logistic")
    // base_score 0.5 is a probability: its logit, 0, is the margin bias
    assert(model.baseMargin == 0.0)
    assert(model.weights == Vector(1.0, 1.0) && model.scale == 1.0)
    assert(model.trees(0).feature.length == 5)
    assert(model.trees(1).feature.length == 3)
  }

  test("traversal: hand-computed leaves, NaN default routing") {
    def sigmoid(m: Double) = 1.0 / (1.0 + math.exp(-m))
    // x0 < 0.5 -> tree0 leaf 0.4; x1 < 0.6 -> tree1 leaf 0.3
    assert(model.predictRow(Array(0.2, 0.1)) == sigmoid(0.4 + 0.3))
    // x0 >= 0.5, x1 >= 0.3 -> tree0 leaf 0.1; x1 >= 0.6 -> tree1 -0.5
    assert(model.predictRow(Array(0.9, 0.7)) == sigmoid(0.1 - 0.5))
    // x0 >= 0.5, x1 < 0.3 -> tree0 -0.2; x1 < 0.6 -> tree1 0.3
    assert(model.predictRow(Array(0.9, 0.1)) == sigmoid(-0.2 + 0.3))
    // x1 NaN: tree0 node2 default_left=false -> right leaf 0.1;
    // tree1 root default_left=false -> right leaf -0.5
    assert(model.predictRow(Array(0.9, Double.NaN)) == sigmoid(0.1 - 0.5))
    // x0 NaN at tree0 root: default_left=true -> leaf 0.4
    assert(model.predictRow(Array(Double.NaN, 0.1)) == sigmoid(0.4 + 0.3))
    // feature vector SHORTER than split_indices reach: index 1 missing
    // behaves as NaN
    assert(model.predictRow(Array(0.9)) == sigmoid(0.1 - 0.5))
  }

  test("reg:squarederror: margin is the prediction, base_score is the bias") {
    val reg = Booster.parse(XgbImport.fixtureJson
      .replace(""""binary:logistic"""", """"reg:squarederror"""")
      .replace(""""5E-1"""", """"10""""))
    // the bias is added to the trees' sum
    assert(reg.predictRow(Array(0.2, 0.1)) == 10.0 + (0.4 + 0.3))
  }

  test("distributed predict matches the driver kernel row-for-row") {
    val df = spark.range(0, 100).select(col("id"),
      array((col("id") % 7).cast("double") / 7.0,
        when(col("id") % 13 === 0, lit(Double.NaN))
          .otherwise((col("id") % 11).cast("double") / 11.0)).as("features"))
    val got = model.predictCol(df)
      .select("id", "y_pred").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 100).foreach { i =>
      val x0 = (i % 7).toDouble / 7.0
      val x1 = if (i % 13 == 0) Double.NaN else (i % 11).toDouble / 11.0
      assert(got(i.toLong) == model.predictRow(Array(x0, x1)), s"row $i")
    }
  }

  test("malformed model files fail loud") {
    intercept[Exception] { Booster.parse("""{"learner": {}}""") }
    intercept[Exception] {
      Booster.parse(XgbImport.fixtureJson.replace(
        """"left_children": [1, -1, -1]""", """"left_children": [1, -1]"""))
    }
  }

  test("unsupported envelope fails loud, naming the feature") {
    // dart booster
    val dart = intercept[Exception] {
      Booster.parse(XgbImport.fixtureJson.replace(
        """"name": "gbtree"""", """"name": "dart""""))
    }
    assert(dart.getMessage.contains("dart") ||
      dart.getMessage.contains("booster"))
    // boosted random forest
    val rf = intercept[Exception] {
      Booster.parse(XgbImport.fixtureJson.replace(
        """"num_parallel_tree": "1"""", """"num_parallel_tree": "4""""))
    }
    assert(rf.getMessage.contains("num_parallel_tree"))
    // multi-class
    val mc = intercept[Exception] {
      Booster.parse(XgbImport.fixtureJson.replace(
        """"num_class": "0"""", """"num_class": "3""""))
    }
    assert(mc.getMessage.contains("num_class"))
  }

  test("binary model files are rejected with a format message") {
    def loadFile(path: String) = Booster.read(spark, path)
    val dir = java.nio.file.Files.createTempDirectory("xgb").toFile
    try {
      // legacy binary .model: 'binf' magic followed by struct bytes
      val legacy = new java.io.File(dir, "legacy.model")
      java.nio.file.Files.write(legacy.toPath,
        "binf".getBytes ++ Array[Byte](0, 0, 0, 1, 0, 0, 0, 2))
      val e1 = intercept[IllegalArgumentException] {
        loadFile(legacy.getAbsolutePath)
      }
      assert(e1.getMessage.contains("binf") &&
        e1.getMessage.contains("save_model"))
      // UBJSON-ish binary head (length-marker control bytes)
      val ubj = new java.io.File(dir, "model.ubj")
      java.nio.file.Files.write(ubj.toPath,
        Array[Byte]('{', 'i', 7, 'l', 'e', 'a', 'r', 'n', 'e', 'r', '{'))
      val e2 = intercept[IllegalArgumentException] {
        loadFile(ubj.getAbsolutePath)
      }
      assert(e2.getMessage.contains("save_model"))
      // the JSON path through loadFile still works
      val ok = new java.io.File(dir, "model.json")
      java.nio.file.Files.writeString(ok.toPath, XgbImport.fixtureJson)
      assert(loadFile(ok.getAbsolutePath).trees.length == 2)
    } finally graft.util.Fs.rmRecursive(dir)
  }

  test("a foreign model loads through a non-file: Hadoop filesystem") {
    val dir = java.nio.file.Files.createTempDirectory("xgbfs").toFile
    try {
      val f = new java.io.File(dir, "model.json")
      java.nio.file.Files.writeString(f.toPath, XgbImport.fixtureJson)
      spark.sparkContext.hadoopConfiguration.set("fs.graftlocal.impl",
        classOf[SchemeLocalFs].getName)
      val viaFs = Booster.read(spark, s"graftlocal://${f.getAbsolutePath}")
      assert(viaFs.trees.length == 2)
      assert(viaFs.predictRow(Array(0.2, 0.1)) ==
        model.predictRow(Array(0.2, 0.1)))
    } finally graft.util.Fs.rmRecursive(dir)
  }
}

/** The local disk under its own URI scheme: a path on it resolves only
  * through Hadoop's `fs.<scheme>.impl` registry, never through java.io
  * or java.nio. */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}
