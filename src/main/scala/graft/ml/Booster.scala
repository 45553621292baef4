package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.tree.GraftTreeAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S11 — the engine's one tree-model artifact: an XGBoost JSON booster
  * (the reference saves and loads its models in this format,
  * `daxos/read.py:11-31`), held in memory as [[Explain.FlatTree]]s.
  * Refit's model, the incremental fit's checkpoint and an imported
  * XGBoost model are all this type, and [[Booster.write]] /
  * [[Booster.read]] is the one codec for them. The codec runs on the
  * driver through the Hadoop `FileSystem` of the path's scheme and
  * submits no Spark job.
  *
  * The margin is `scale · (baseMargin + Σ weights(m) · T_m(x))`:
  * `scale` is 2 for an MLlib GBT classifier (its LogLoss link is
  * σ(2F)) and 1 for the incremental fit and for XGBoost models.
  * `attributes` are free string attributes (Refit stores the Platt
  * pair there).
  */
final case class Booster(
    trees: Vector[Explain.FlatTree],
    weights: Vector[Double],
    baseMargin: Double,
    scale: Double,
    objective: String,
    featureNames: Seq[String] = Seq.empty,
    attributes: Map[String, String] = Map.empty) {

  def numFeatures: Int =
    if (featureNames.nonEmpty) featureNames.size
    else trees.flatMap(_.feature).foldLeft(-1)(math.max) + 1

  /** Driver-side prediction of one row: σ(margin) for
    * `binary:logistic`, the margin itself otherwise. */
  def predictRow(x: Array[Double]): Double = {
    val m = scale * (baseMargin + Explain.margin(trees.toArray, weights.toArray, x))
    if (objective == Booster.Logistic) 1.0 / (1.0 + math.exp(-m)) else m
  }

  /** Distributed prediction: broadcast the trees, traverse per row.
    * `featuresCol` is a numeric array (NaN = missing). Adds `margin`
    * and `y_pred`. */
  def predictCol(df: DataFrame, featuresCol: String = "features"): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bcT = sc.broadcast(trees.toArray)
    val bcW = sc.broadcast(weights.toArray)
    val (bm, k) = (baseMargin, scale)
    val marginUdf = udf { (x: Seq[Double]) =>
      k * (bm + Explain.margin(bcT.value, bcW.value, x.toArray))
    }
    val out = df.withColumn("margin",
      marginUdf(col(featuresCol).cast("array<double>")))
    out.withColumn("y_pred",
      if (objective == Booster.Logistic)
        lit(1.0) / (lit(1.0) + exp(-col("margin")))
      else col("margin"))
  }

  /** The MLlib classifier these trees came from, rebuilt node for node
    * (scoring `fv`, [[Train.withVector]]'s column), so Predict's
    * `y_pred` is computed by MLlib's own code on the same doubles. */
  def toMllib: GBTClassificationModel = {
    require(scale == 2.0 && baseMargin == 0.0 && objective == Booster.Logistic &&
      trees.forall(!_.defaultLeft.contains(true)), "only a booster of an " +
      "MLlib GBT classifier (Refit's model.json) rebuilds as an MLlib model")
    GraftTreeAccess.gbtClassifier(trees.toArray, weights.toArray, numFeatures)
      .setFeaturesCol("fv")
  }
}

/** The codec. A written file is a faithful XGBoost model: XGBoost routes
  * `x < split_condition` left where MLlib routes `x <= threshold`, so an
  * internal node stores `Math.nextUp(threshold)`; `default_left` is the
  * node's missing-value direction (0 for MLlib, which sends NaN right);
  * a leaf's `split_conditions` is its margin contribution
  * `scale · weight · value`; `base_weights`, `loss_changes` and
  * `sum_hessian` hold the node values, gains and covers;
  * `feature_names` the predictors. graft's exact tree weights, scale
  * and base margin ride in `learner.attributes` beside the free
  * attributes, and a file with them reads back bit for bit (a −0.0
  * threshold may read back as 0.0, which routes the same).
  *
  * A file without them is read as a foreign XGBoost model: weight 1
  * and scale 1 per tree, the leaves' `split_conditions` as values,
  * `threshold = Math.nextDown(split_condition)`, and the base margin
  * from `base_score` (its logit for `binary:logistic`).
  *
  * Supported envelope, enforced at parse time with a message naming
  * the unsupported feature: single-target `gbtree` boosters with
  * `num_parallel_tree == 1` and `num_class` ∈ {0, 1}. dart needs drop
  * weights at prediction time and gblinear is not a tree model; boosted
  * random forests are refused until a truth fixture pins them; a
  * multi-class model needs `tree_info` class routing.
  */
object Booster {

  val Logistic = "binary:logistic"

  private val WeightsKey = "graft_tree_weights"
  private val ScaleKey = "graft_margin_scale"
  private val BaseKey = "graft_base_margin"

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  def fromMllib(m: GBTClassificationModel, featureNames: Seq[String]): Booster =
    Booster(Explain.flattenModel(m.trees).toVector, m.treeWeights.toVector,
      0.0, 2.0, Logistic, featureNames)

  private def toJson(b: Booster): String = {
    def num(d: Double): JValue = {
      require(!d.isNaN && !d.isInfinite, s"booster value $d is not finite")
      JDouble(d)
    }
    def nums(xs: Seq[Double]) = JArray(xs.map(num).toList)
    def ints(xs: Seq[Int]) = JArray(xs.map(i => JInt(i)).toList)
    def str(x: Any) = JString(x.toString)
    val none = JArray(Nil)
    val trees = b.trees.zipWithIndex.map { case (t, id) =>
      val n = t.feature.length
      val parents = Array.fill(n)(Int.MaxValue)
      for (i <- 0 until n if t.feature(i) != -1) {
        parents(t.left(i)) = i; parents(t.right(i)) = i
      }
      JObject(
        "base_weights" -> nums(t.value.toSeq),
        "categories" -> none, "categories_nodes" -> none,
        "categories_segments" -> none, "categories_sizes" -> none,
        "default_left" -> ints(t.defaultLeft.toSeq.map(if (_) 1 else 0)),
        "id" -> JInt(id),
        "left_children" -> ints(t.left.toSeq),
        "loss_changes" -> nums(t.gain.toSeq),
        "parents" -> ints(parents.toSeq),
        "right_children" -> ints(t.right.toSeq),
        "split_conditions" -> nums((0 until n).map(i =>
          if (t.feature(i) == -1) b.scale * b.weights(id) * t.value(i)
          else Math.nextUp(t.threshold(i)))),
        "split_indices" -> ints(t.feature.toSeq.map(math.max(_, 0))),
        "split_type" -> ints(Seq.fill(n)(0)),
        "sum_hessian" -> nums(t.cover.toSeq),
        "tree_param" -> JObject("num_deleted" -> str(0),
          "num_feature" -> str(b.numFeatures), "num_nodes" -> str(n),
          "size_leaf_vector" -> str(1)))
    }
    val attrs = b.attributes ++ Map(WeightsKey -> b.weights.mkString(","),
      ScaleKey -> b.scale.toString, BaseKey -> b.baseMargin.toString)
    val bias = b.scale * b.baseMargin
    val baseScore =
      if (b.objective == Logistic) 1.0 / (1.0 + math.exp(-bias)) else bias
    JsonMethods.compact(JsonMethods.render(JObject(
      "learner" -> JObject(
        "attributes" -> JObject(attrs.toList.sorted.map { case (k, v) =>
          k -> JString(v) }),
        "feature_names" -> JArray(b.featureNames.map(JString(_)).toList),
        "feature_types" -> JArray(b.featureNames.map(_ => JString("float")).toList),
        "gradient_booster" -> JObject(
          "model" -> JObject(
            "gbtree_model_param" -> JObject(
              "num_parallel_tree" -> str(1), "num_trees" -> str(b.trees.size)),
            "tree_info" -> ints(b.trees.map(_ => 0)),
            "trees" -> JArray(trees.toList)),
          "name" -> JString("gbtree")),
        "learner_model_param" -> JObject("base_score" -> str(baseScore),
          "boost_from_average" -> str(1), "num_class" -> str(0),
          "num_feature" -> str(b.numFeatures), "num_target" -> str(1)),
        "objective" -> JObject("name" -> JString(b.objective),
          "reg_loss_param" -> JObject("scale_pos_weight" -> str(1)))),
      "version" -> ints(Seq(1, 7, 6)))))
  }

  private def darr(v: JValue): Array[Double] = v match {
    case JArray(xs) => xs.map {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case JLong(l) => l.toDouble
      case JBool(b) => if (b) 1.0 else 0.0
      case other => sys.error(s"xgb json: non-numeric array element $other")
    }.toArray
    case other => sys.error(s"xgb json: expected array, got $other")
  }
  private def iarr(v: JValue): Array[Int] = darr(v).map(_.toInt)

  def parse(json: String): Booster = {
    val learner = JsonMethods.parse(json) \ "learner"
    val gb = learner \ "gradient_booster"
    def count(v: JValue) = v match {
      case JString(s) => s.trim.toIntOption.getOrElse(1)
      case _ => 1
    }
    (gb \ "name") match {
      case JString("gbtree") | JNothing => () // older dumps omit the name
      case other => sys.error(s"xgb json: unsupported booster $other — only " +
        "'gbtree' is supported (dart needs drop-weight handling, gblinear " +
        "is not a tree ensemble)")
    }
    val nParallel = count(gb \ "model" \ "gbtree_model_param" \ "num_parallel_tree")
    require(nParallel <= 1, s"xgb json: num_parallel_tree=$nParallel — " +
      "boosted random forests are not supported; retrain with num_parallel_tree=1")
    val nClass = count(learner \ "learner_model_param" \ "num_class")
    require(nClass <= 1, s"xgb json: num_class=$nClass — multi-class " +
      "boosters are not supported (prediction would need tree_info class routing)")
    val attrs = (learner \ "attributes") match {
      case JObject(kvs) => kvs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val own = attrs.contains(ScaleKey)
    val treesJ = (gb \ "model" \ "trees") match {
      case JArray(ts) => ts
      case other => sys.error(s"xgb json: trees not an array: $other")
    }
    val trees = treesJ.map { t =>
      val splitIdx = iarr(t \ "split_indices")
      val cond = darr(t \ "split_conditions")
      val left = iarr(t \ "left_children")
      val right = iarr(t \ "right_children")
      val defaultLeft = darr(t \ "default_left").map(_ != 0.0)
      val baseWeights = darr(t \ "base_weights")
      val cover = darr(t \ "sum_hessian")
      val gain = darr(t \ "loss_changes")
      val n = cond.length
      require(Seq(splitIdx, left, right, defaultLeft, baseWeights, cover, gain)
          .forall(_.length == n), s"xgb json: ragged tree arrays (n=$n)")
      // child pointers: -1/-1 marks a leaf; internal nodes must point
      // STRICTLY FORWARD (XGBoost emits trees in BFS order, graft in
      // preorder; both put a parent before its children). The forward
      // check is what makes traversal provably terminate — `l < n`
      // alone admits self-loops (l == i) and stray negatives, which
      // would spin or crash the executor UDF instead of failing loud
      // at parse time.
      require(left.zip(right).zipWithIndex.forall { case ((l, r), i) =>
          (l == -1 && r == -1) || (l > i && r > i && l < n && r < n) },
        "xgb json: malformed child pointers (cycle, backward edge, or " +
          "out-of-range index)")
      val leaf = left.map(_ == -1)
      Explain.FlatTree(
        Array.tabulate(n)(i => if (leaf(i)) -1 else splitIdx(i)),
        Array.tabulate(n)(i => if (leaf(i)) 0.0 else Math.nextDown(cond(i))),
        left, right,
        Array.tabulate(n)(i => if (own || !leaf(i)) baseWeights(i) else cond(i)),
        cover, gain, defaultLeft)
    }.toVector
    require(trees.nonEmpty, "xgb json: zero trees")
    val baseScore = (learner \ "learner_model_param" \ "base_score") match {
      case JString(s) => s.toDouble // stored as a string in the schema
      case JDouble(d) => d
      case other => sys.error(s"xgb json: base_score $other")
    }
    val objective = (learner \ "objective" \ "name") match {
      case JString(s) => s
      case other => sys.error(s"xgb json: objective $other")
    }
    val names = (learner \ "feature_names") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    if (own) {
      val weights = attrs(WeightsKey).split(",").map(_.toDouble).toVector
      require(weights.length == trees.length,
        s"xgb json: ${weights.length} graft tree weights for ${trees.length} trees")
      Booster(trees, weights, attrs(BaseKey).toDouble, attrs(ScaleKey).toDouble,
        objective, names, attrs -- Seq(WeightsKey, ScaleKey, BaseKey))
    } else {
      val bias =
        if (objective == Logistic) math.log(baseScore / (1.0 - baseScore))
        else baseScore
      Booster(trees, Vector.fill(trees.length)(1.0), bias, 1.0, objective,
        names, attrs)
    }
  }

  /** Stage to a hidden temp file beside `path`, then rename over it.
    * Whatever is at `path` is replaced, an earlier model file or a
    * directory alike. */
  def write(spark: SparkSession, path: String, b: Booster): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(toJson(b).getBytes(UTF_8)) finally out.close()
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"could not move $tmp to $p")
  }

  /** Only the JSON format is read; the two binary formats XGBoost's
    * `Booster.save_model` can emit are detected and refused with a
    * message that names the fix, instead of a cryptic JSON error:
    * legacy binary `.model` files start with the `binf` magic, and
    * UBJSON `.ubj` files carry NUL/length-marker bytes in the head.
    * The tree count goes to the log, as the reference's loader reports
    * it (`read.py:25-29`). */
  def read(spark: SparkSession, path: String): Booster = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val head = bytes.take(256)
    require(!head.startsWith("binf".getBytes(UTF_8)),
      s"$path is a legacy XGBoost BINARY .model file (magic 'binf'); " +
        "this importer reads the JSON format only — re-save it with " +
        "Booster.save_model('model.json') and load that")
    require(!head.exists(b => b >= 0 && b < 9),
      s"$path is not JSON text (binary bytes in the head — a UBJSON " +
        ".ubj or other binary dump?); re-save the booster with " +
        "Booster.save_model('model.json') and load that")
    val b = parse(new String(bytes, UTF_8))
    log.info(s"loaded booster: ${b.trees.size} trees <- $path")
    b
  }
}
