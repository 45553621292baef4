package graft.ml

import graft.QueryDef
import org.apache.spark.ml.tree.{GraftTreeAccess, InternalNode, LeafNode, Node}
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Explanation — M5 (classic importances), M3 (TreeSHAP marginal
  * values), M4 (SHAP interactions, gated), A2 (mean |SHAP|). Reference
  * `daxos/explain.py:46-101`.
  *
  * Trees are flattened to primitive arrays (one small object per tree)
  * and shipped to executors via broadcast; SHAP runs as a deterministic
  * Scala kernel inside `mapPartitions` — no driver involvement, rows
  * never leave their partition. Cost is O(trees · leaves · depth²) per
  * row (the path-dependent TreeSHAP bound from Lundberg et al. 2020,
  * "Consistent Individualized Feature Attribution for Tree Ensembles").
  */
object Explain {

  /** Array-flattened decision tree. `feature(i) == -1` marks a leaf.
    * `cover` is the weighted training-sample count per node (the
    * conditioning weights of path-dependent TreeSHAP). `defaultLeft` is
    * the per-node direction of a missing value (MLlib sends NaN right,
    * so its trees are all false). `expected` is the cover-weighted mean
    * leaf value (the tree's bias term).
    */
  final case class FlatTree(
      feature: Array[Int],
      threshold: Array[Double],
      left: Array[Int],
      right: Array[Int],
      value: Array[Double],
      cover: Array[Double],
      gain: Array[Double],
      defaultLeft: Array[Boolean]) extends Serializable {

    lazy val expected: Double = {
      var s = 0.0
      var i = 0
      while (i < feature.length) {
        if (feature(i) == -1) s += value(i) * cover(i)
        i += 1
      }
      s / cover(0)
    }

    /** The child of internal node `n` that `x` routes to: MLlib's
      * `x <= threshold` goes left, and a missing value (NaN, or an index
      * past the end of `x`) follows `defaultLeft`. */
    def child(n: Int, x: Array[Double]): Int = {
      val f = feature(n)
      val v = if (f < x.length) x(f) else Double.NaN
      val goLeft = if (java.lang.Double.isNaN(v)) defaultLeft(n) else v <= threshold(n)
      if (goLeft) left(n) else right(n)
    }
  }

  def flatten(root: Node): FlatTree = {
    val feats = scala.collection.mutable.ArrayBuffer[Int]()
    val thr = scala.collection.mutable.ArrayBuffer[Double]()
    val lef = scala.collection.mutable.ArrayBuffer[Int]()
    val rig = scala.collection.mutable.ArrayBuffer[Int]()
    val value = scala.collection.mutable.ArrayBuffer[Double]()
    val cover = scala.collection.mutable.ArrayBuffer[Double]()
    val gain = scala.collection.mutable.ArrayBuffer[Double]()
    def visit(n: Node): Int = {
      val id = feats.length
      feats += -1; thr += 0.0; lef += -1; rig += -1
      value += n.prediction; cover += GraftTreeAccess.nodeCount(n); gain += 0.0
      n match {
        case in: InternalNode =>
          feats(id) = GraftTreeAccess.split(in).featureIndex
          thr(id) = GraftTreeAccess.threshold(GraftTreeAccess.split(in))
          gain(id) = in.gain
          lef(id) = visit(in.leftChild)
          rig(id) = visit(in.rightChild)
        case _: LeafNode => ()
      }
      id
    }
    visit(root)
    FlatTree(feats.toArray, thr.toArray, lef.toArray, rig.toArray,
      value.toArray, cover.toArray, gain.toArray,
      new Array[Boolean](feats.length))
  }

  def flattenModel(trees: Array[DecisionTreeRegressionModel]): Array[FlatTree] =
    trees.map(t => flatten(t.rootNode))

  /** Raw ensemble margin Σ w_m·T_m(x) — the additivity reference for
    * SHAP (classification probability = link(margin), so SHAP lives in
    * margin space like the reference's `pred_contribs`).
    */
  def margin(trees: Array[FlatTree], weights: Array[Double], x: Array[Double]): Double = {
    var s = 0.0
    var m = 0
    while (m < trees.length) {
      val t = trees(m)
      var n = 0
      while (t.feature(n) != -1) n = t.child(n, x)
      s += weights(m) * t.value(n)
      m += 1
    }
    s
  }

  // ----------------------------------------------------------- TreeSHAP

  // EXTEND / UNWIND of Lundberg et al. (Algorithm 2) over the path
  // arrays (feature, zero fraction, one fraction, weight).

  private def extend(mF: Array[Int], mZ: Array[Double], mO: Array[Double],
      mW: Array[Double], len: Int, pz: Double, po: Double, pi: Int): Unit = {
    mF(len) = pi; mZ(len) = pz; mO(len) = po
    mW(len) = if (len == 0) 1.0 else 0.0
    var i = len - 1
    while (i >= 0) {
      mW(i + 1) += po * mW(i) * (i + 1).toDouble / (len + 1)
      mW(i) = pz * mW(i) * (len - i).toDouble / (len + 1)
      i -= 1
    }
  }

  /** Σ of unwound path weights for 1-based element i of an l-element
    * path — the optimized UNWIND that never materializes the copy. */
  private def unwoundSum(mZ: Array[Double], mO: Array[Double], mW: Array[Double],
      l: Int, i: Int): Double = {
    val one = mO(i - 1); val zero = mZ(i - 1)
    var total = 0.0
    if (one != 0) {
      var n = mW(l - 1)
      var j = l - 1
      while (j >= 1) {
        val tmp = n * l / (j * one)
        total += tmp
        n = mW(j - 1) - tmp * zero * (l - j).toDouble / l
        j -= 1
      }
    } else {
      var j = l - 1
      while (j >= 1) {
        total += mW(j - 1) * l / (zero * (l - j))
        j -= 1
      }
    }
    total
  }

  /** UNWIND element i (1-based) in place; returns new length. */
  private def unwind(mF: Array[Int], mZ: Array[Double], mO: Array[Double],
      mW: Array[Double], l: Int, i: Int): Int = {
    val one = mO(i - 1); val zero = mZ(i - 1)
    var n = mW(l - 1)
    if (one != 0) {
      var j = l - 1
      while (j >= 1) {
        val t2 = mW(j - 1)
        mW(j - 1) = n * l / (j * one)
        n = t2 - mW(j - 1) * zero * (l - j).toDouble / l
        j -= 1
      }
    } else {
      var j = l - 1
      while (j >= 1) {
        mW(j - 1) = mW(j - 1) * l / (zero * (l - j))
        j -= 1
      }
    }
    var j = i - 1
    while (j < l - 1) {
      mF(j) = mF(j + 1); mZ(j) = mZ(j + 1); mO(j) = mO(j + 1)
      j += 1
    }
    l - 1
  }

  /** Path-dependent TreeSHAP for one tree, accumulated into `phi`
    * (length p+1, bias at p) scaled by `w`. Implements the EXTEND /
    * UNWIND recursion of Lundberg et al. (Algorithm 2), 0-based.
    */
  def shapTree(t: FlatTree, x: Array[Double], phi: Array[Double], w: Double): Unit = {
    phi(phi.length - 1) += w * t.expected
    shapTreeConditioned(t, x, phi, w, condFeat = -1, condPresent = false)
  }

  /** M3 — appends `shap` (array<double>, length p+1 with the bias last —
    * the reference's (n, p+1) contribs shape, explain.py:71) and
    * `margin` to each row. Kernel runs per-partition with broadcast
    * trees.
    */
  def shapContributions(df: DataFrame, trees: Array[FlatTree],
      weights: Array[Double], p: Int, featuresCol: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val bcT = spark.sparkContext.broadcast(trees)
    val bcW = spark.sparkContext.broadcast(weights)
    val fIdx = df.schema.fieldIndex(featuresCol)
    val outSchema = df.schema
      .add("shap", ArrayType(DoubleType, containsNull = false))
      .add("margin", DoubleType)
    val out = df.rdd.mapPartitions { it =>
      val ts = bcT.value; val ws = bcW.value
      it.map { row =>
        val x = row.getSeq[Any](fIdx).iterator.map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }.toArray
        val phi = new Array[Double](p + 1)
        var m = 0
        while (m < ts.length) {
          shapTree(ts(m), x, phi, ws(m))
          m += 1
        }
        Row.fromSeq(row.toSeq :+ phi.toSeq :+ margin(ts, ws, x))
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  // ------------------------------------------------- M4 SHAP interactions

  /** Conditioned TreeSHAP: like [[shapTree]], but splits on `condFeat`
    * are resolved without entering the path — hot-branch-only when
    * `condPresent`, cover-weighted average of both children otherwise
    * (the conditioning device of the SHAP-interaction construction).
    * `q` carries the conditioning weight product. `condFeat = -1`
    * conditions on nothing: the feature part of plain TreeSHAP.
    */
  private def shapTreeConditioned(t: FlatTree, x: Array[Double],
      phi: Array[Double], w: Double, condFeat: Int, condPresent: Boolean): Unit = {

    def recurse(node: Int, mF0: Array[Int], mZ0: Array[Double],
        mO0: Array[Double], mW0: Array[Double], len: Int,
        pz: Double, po: Double, pi: Int, q: Double): Unit = {
      if (t.feature(node) == condFeat && t.feature(node) != -1) {
        // conditioning feature: resolve, do NOT extend the path
        if (condPresent) {
          recurse(t.child(node, x), mF0, mZ0, mO0, mW0, len, pz, po, pi, q)
        } else {
          val rj = t.cover(node)
          recurse(t.left(node), mF0, mZ0, mO0, mW0, len, pz, po, pi,
            q * t.cover(t.left(node)) / rj)
          recurse(t.right(node), mF0, mZ0, mO0, mW0, len, pz, po, pi,
            q * t.cover(t.right(node)) / rj)
        }
        return
      }
      val cap = len + 1
      val mF = java.util.Arrays.copyOf(mF0, cap)
      val mZ = java.util.Arrays.copyOf(mZ0, cap)
      val mO = java.util.Arrays.copyOf(mO0, cap)
      val mW = java.util.Arrays.copyOf(mW0, cap)
      extend(mF, mZ, mO, mW, len, pz, po, pi)
      val l = len + 1
      if (t.feature(node) == -1) {
        // feature contributions only — the conditioned bias is added by
        // the caller via condExpected
        var i = 2
        while (i <= l) {
          phi(mF(i - 1)) += w * q * unwoundSum(mZ, mO, mW, l, i) *
            (mO(i - 1) - mZ(i - 1)) * t.value(node)
          i += 1
        }
      } else {
        val d = t.feature(node)
        val hot = t.child(node, x)
        val cold = if (hot == t.left(node)) t.right(node) else t.left(node)
        var iz = 1.0; var io = 1.0
        var k = -1
        var i = 0
        while (i < l && k == -1) {
          if (mF(i) == d) k = i
          i += 1
        }
        var curLen = l
        if (k >= 0) {
          iz = mZ(k); io = mO(k)
          curLen = unwind(mF, mZ, mO, mW, l, k + 1)
        }
        val rj = t.cover(node)
        recurse(hot, mF, mZ, mO, mW, curLen, iz * t.cover(hot) / rj, io, d, q)
        recurse(cold, mF, mZ, mO, mW, curLen, iz * t.cover(cold) / rj, 0.0, d, q)
      }
    }

    recurse(0, new Array[Int](0), new Array[Double](0), new Array[Double](0),
      new Array[Double](0), 0, 1.0, 1.0, -1, 1.0)
  }

  /** Conditioned expectation E[T | condFeat present/absent] for the bias
    * row of the interaction matrix. */
  private def condExpected(t: FlatTree, x: Array[Double], condFeat: Int,
      condPresent: Boolean): Double = {
    def g(n: Int, q: Double): Double =
      if (t.feature(n) == -1) q * t.value(n)
      else if (t.feature(n) == condFeat && condPresent) {
        g(t.child(n, x), q)
      } else {
        val rj = t.cover(n)
        g(t.left(n), q * t.cover(t.left(n)) / rj) +
          g(t.right(n), q * t.cover(t.right(n)) / rj)
      }
    g(0, 1.0)
  }

  /** M4 — SHAP interaction values (explain.py:95, gated off by default
    * like the reference's run_shap_inter): for one row, the (p+1)×(p+1)
    * symmetric matrix with φ_ij = [φ_j^{i present} − φ_j^{i absent}]/2,
    * diagonal φ_ii = φ_i − Σ_{j≠i} φ_ij, bias row/col absorbing the
    * remainder so every row sums to the corresponding SHAP value.
    * O(p²·tree-depth²·leaves) per row — use on explicitly small p.
    */
  def shapInteractionsRow(trees: Array[FlatTree], weights: Array[Double],
      x: Array[Double], p: Int): Array[Array[Double]] = {
    val phi = new Array[Double](p + 1)
    var m = 0
    while (m < trees.length) { shapTree(trees(m), x, phi, weights(m)); m += 1 }
    val inter = Array.ofDim[Double](p + 1, p + 1)
    var i = 0
    while (i < p) {
      val phiOn = new Array[Double](p + 1)
      val phiOff = new Array[Double](p + 1)
      m = 0
      while (m < trees.length) {
        shapTreeConditioned(trees(m), x, phiOn, weights(m), i, condPresent = true)
        phiOn(p) += weights(m) * condExpected(trees(m), x, i, condPresent = true)
        shapTreeConditioned(trees(m), x, phiOff, weights(m), i, condPresent = false)
        phiOff(p) += weights(m) * condExpected(trees(m), x, i, condPresent = false)
        m += 1
      }
      var j = 0
      while (j <= p) {
        if (j != i) inter(i)(j) = (phiOn(j) - phiOff(j)) / 2.0
        j += 1
      }
      i += 1
    }
    // symmetrize bias column, fill diagonal so rows sum to φ_i
    var j = 0
    while (j <= p) { inter(p)(j) = inter(j)(p); j += 1 }
    i = 0
    while (i < p) {
      var off = 0.0
      var j2 = 0
      while (j2 <= p) { if (j2 != i) off += inter(i)(j2); j2 += 1 }
      inter(i)(i) = phi(i) - off
      i += 1
    }
    var offB = 0.0
    i = 0
    while (i < p) { offB += inter(p)(i); i += 1 }
    inter(p)(p) = phi(p) - offB
    inter
  }

  /** M4 sink — distributed materialization of the (n, p+1, p+1)
    * interaction tensor (the reference writes it to Zarr,
    * explain.py:95-99; here it is a parquet Array[Double] column,
    * row-major-flattened (p+1)² per row, iid-keyed). A mapPartitions
    * over [[shapInteractionsRow]] with broadcast trees — embarrassingly
    * parallel, no shuffle; gated off by default exactly like the
    * reference because the kernel is O(p²·depth²·leaves) per row.
    */
  def shapInteractionsAll(df: DataFrame, trees: Array[FlatTree],
      weights: Array[Double], p: Int, featuresCol: String = "features",
      idCol: String = "iid"): DataFrame = {
    val spark = df.sparkSession
    val bcT = spark.sparkContext.broadcast(trees)
    val bcW = spark.sparkContext.broadcast(weights)
    val fIdx = df.schema.fieldIndex(featuresCol)
    val iIdx = df.schema.fieldIndex(idCol)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(iIdx),
      org.apache.spark.sql.types.StructField("inter",
        ArrayType(DoubleType, containsNull = false), nullable = false)))
    val out = df.rdd.mapPartitions { it =>
      val ts = bcT.value; val ws = bcW.value
      it.map { row =>
        val x = row.getSeq[Any](fIdx).iterator.map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }.toArray
        val inter = shapInteractionsRow(ts, ws, x, p)
        val flatRow = new Array[Double]((p + 1) * (p + 1))
        var i = 0
        while (i <= p) {
          System.arraycopy(inter(i), 0, flatRow, i * (p + 1), p + 1)
          i += 1
        }
        Row(row.get(iIdx), flatRow.toSeq)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** M5 — XGBoost-convention importances from tree traversal
    * (explain.py:46-60): weight = #splits on the feature, total_gain /
    * total_cover = sums over those splits, gain / cover = their means.
    */
  def importances(trees: Array[FlatTree], snpNames: Seq[String],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val p = snpNames.length
    val wCnt = new Array[Double](p)
    val gSum = new Array[Double](p)
    val cSum = new Array[Double](p)
    trees.foreach { t =>
      var n = 0
      while (n < t.feature.length) {
        val f = t.feature(n)
        if (f >= 0) {
          wCnt(f) += 1; gSum(f) += t.gain(n); cSum(f) += t.cover(n)
        }
        n += 1
      }
    }
    import spark.implicits._
    snpNames.indices.map { j =>
      (snpNames(j), if (wCnt(j) > 0) gSum(j) / wCnt(j) else 0.0, wCnt(j),
        if (wCnt(j) > 0) cSum(j) / wCnt(j) else 0.0, gSum(j), cSum(j))
    }.toDF("predictors", "gain", "weight", "cover", "total_gain", "total_cover")
  }

  /** A2 — column-wise mean |SHAP| (explain.py:76, boruta.py:110): bias
    * column dropped, distributed posexplode + grouped mean.
    */
  def meanAbsShap(shapDf: DataFrame, p: Int): DataFrame =
    shapDf.select(posexplode(slice(col("shap"), 1, p)).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg(abs(col("v"))).as("shap_mean_abs"))

  // ---------------------------------------------------------------- queries

  /** M3/M5/A2 rows-only entry: fit on the fixture, SHAP the test rows,
    * require per-row additivity |Σφ + bias − margin| < 1e-6 on EVERY row
    * and the strong planted SNP to top the mean-|SHAP| ranking.
    */
  val m3 = QueryDef(
    "m3_treeshap_additivity",
    { (s, d) =>
    val cfg = Sim.Config(n = 800L, p = 12, seed = 77L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val nBlocks = (cfg.n + cfg.chunkRows - 1) / cfg.chunkRows
    val (train, test) = graft.ops.Splits.chunkedTrainTest(bundle, 0.75, 3L, nBlocks)
    val hp = HyperParams(0.1, 0.9, 1.0, 3, 10)
    val model = Train.fitClassifier(Train.withVector(train), hp, 17L)
    val flat = flattenModel(model.trees)
    val shap = shapContributions(test, flat, model.treeWeights, cfg.p).cache()
    // S10 — SHAP array sink: the (n, p+1) contribs tensor as a parquet
    // Array[Double] column (the Zarr replacement, explain.py:75)
    val shapSink = graft.util.Fixtures.dir + "/shap_sink"
    shap.select(col("iid"), col("shap"), col("margin"))
      .write.mode("overwrite").parquet(shapSink)
    val sinkOk = {
      val back = s.read.parquet(shapSink)
      back.count() == shap.count() &&
        back.select(max(size(col("shap")))).head().getInt(0) == cfg.p + 1
    }
    // additivity: Σφ (incl. bias) must equal the ensemble margin per row
    val addErr = shap.select(
      max(abs(aggregate(col("shap"), lit(0.0), (a, v) => a + v) - col("margin")))
        .as("err")).head().getDouble(0)
    val top2 = meanAbsShap(shap, cfg.p)
      .orderBy(col("shap_mean_abs").desc).limit(2)
      .select("pos").collect().map(_.getInt(0)).toSet
    val plantedTop2 = Seq(cfg.p - 2, cfg.p - 1).count(top2.contains)
    shap.unpersist(); bundle.unpersist()
    val spark = s; import spark.implicits._
    Seq((addErr, plantedTop2, sinkOk))
      .toDF("max_additivity_err", "planted_in_shap_top2", "sink_ok")
      .filter(col("max_additivity_err") < 1e-6 &&
        col("planted_in_shap_top2") === 2 && col("sink_ok"))
  },
    // GOLDEN-PINNED (r12): the max additivity error is a max over
    // per-row kernel values (order-independent), byte-identical at
    // local[8]/local[32]; the 1e-6 additivity gate still guards
    oracle = Some(
      """SELECT * FROM (VALUES (4.440892098500626e-16, 2, TRUE))
        |  t(max_additivity_err, planted_in_shap_top2, sink_ok)""".stripMargin),
    benchEligible = false)

  /** M4 rows-only entry (gated-off-by-default op, exercised at tiny p):
    * interaction symmetry φ_ij = φ_ji must EMERGE (it is a theorem of
    * the construction, computed from independent conditionings), and
    * the full matrix must sum to the margin.
    */
  val m4 = QueryDef(
    "m4_shap_interactions",
    { (s, d) =>
    val cfg = Sim.Config(n = 400L, p = 6, seed = 88L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg)
    val hp = HyperParams(0.2, 1.0, 1.0, 3, 5)
    val model = Train.fitClassifier(Train.withVector(bundle), hp, 29L)
    val flat = flattenModel(model.trees)
    val ws = model.treeWeights
    val rows = bundle.select("features").take(10)
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var maxAsym = 0.0
    var maxSumErr = 0.0
    rows.foreach { x =>
      val inter = shapInteractionsRow(flat, ws, x, cfg.p)
      for (i <- 0 until cfg.p; j <- 0 until cfg.p if i != j)
        maxAsym = math.max(maxAsym, math.abs(inter(i)(j) - inter(j)(i)))
      val total = inter.map(_.sum).sum
      maxSumErr = math.max(maxSumErr, math.abs(total - margin(flat, ws, x)))
    }
    // distributed tensor sink round-trip: every flattened (p+1)² row
    // read back from parquet must sum to that row's ensemble margin
    val interSink = graft.util.Fixtures.dir + "/inter_sink"
    shapInteractionsAll(bundle, flat, ws, cfg.p)
      .write.mode("overwrite").parquet(interSink)
    val back = s.read.parquet(interSink)
    val sinkN = back.count()
    val sinkWidthOk = back.select(max(size(col("inter")))).head().getInt(0) ==
      (cfg.p + 1) * (cfg.p + 1) &&
      back.select(min(size(col("inter")))).head().getInt(0) ==
        (cfg.p + 1) * (cfg.p + 1)
    val margins = shapContributions(bundle, flat, ws, cfg.p)
    val sinkSumErr = back
      .select(col("iid"),
        aggregate(col("inter"), lit(0.0), (a, v) => a + v).as("tsum"))
      .join(margins.select(col("iid"), col("margin")), "iid")
      .agg(max(abs(col("tsum") - col("margin")))).head().getDouble(0)
    val spark = s; import spark.implicits._
    Seq((maxAsym, maxSumErr, rows.length, sinkN, sinkWidthOk, sinkSumErr))
      .toDF("max_asymmetry", "max_sum_err", "n_rows", "sink_n",
        "sink_width_ok", "sink_sum_err")
      .filter(col("max_asymmetry") < 1e-9 && col("max_sum_err") < 1e-9 &&
        col("sink_n") === 400 && col("sink_width_ok") &&
        col("sink_sum_err") < 1e-6)
  },
    // GOLDEN-PINNED (r12): maxes over per-row kernel values —
    // order-independent, byte-identical at local[8]/local[32]; the
    // symmetry/additivity theorems still gate
    oracle = Some(
      """SELECT * FROM (VALUES (1.3877787807814457e-16,
        |  1.6653345369377348e-16, 10, CAST(400 AS BIGINT), TRUE,
        |  6.661338147750939e-16))
        |  t(max_asymmetry, max_sum_err, n_rows, sink_n, sink_width_ok,
        |    sink_sum_err)""".stripMargin),
    benchEligible = false)

  def all: Seq[QueryDef] = Seq(m3, m4)
}
