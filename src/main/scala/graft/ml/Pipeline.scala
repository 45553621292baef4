package graft.ml

import graft.{QueryDef, Tables}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline layer — M8 (incremental refit), M9 (two-stage "shap refit" +
  * used-column pruning), M10 (Platt scaling), M11 (covariate-adjusted
  * scoring). Reference `scripts/refit.py:32-109`, `daxos/scale.py:8-30`,
  * `daxos/scoring.py:15-135`, `daxos/crossvalidate.py:203-240`.
  */
object Pipeline {

  // -------------------------------------------------------------- M10 Platt

  /** M10 — Platt scaling: unregularized logistic fit of the binary label
    * on the single out-of-fold prediction column (scale.py:8-30,
    * sklearn `LogisticRegression(penalty=None)` ⇒ regParam = 0).
    * Returns (A, B) of sigmoid(A·x + B).
    */
  def fitPlatt(oof: DataFrame, labelCol: String = "y_true",
      predCol: String = "y_pred"): (Double, Double) = {
    val data = oof.select(col(labelCol).cast("double").as("label"),
      array_to_vector(array(col(predCol).cast("double"))).as("pfv"))
    val m = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("pfv")
      .setRegParam(0.0).setStandardization(false)
      .fit(data)
    (m.coefficients(0), m.intercept)
  }

  /** The oracle-replayable twin of [[fitPlatt]]: unregularized logistic
    * fit by FIXED-ITERATION Newton/IRLS from (0, 0) — one distributed
    * aggregate (gradient + 2×2 Hessian) per step, closed-form solve on
    * the driver. Same recurrence as [[Boruta.univariableLogistic]] but
    * single-group. Deterministic given the input (modulo ~1e-10
    * sum-order noise, absorbed by 4dp rounding at the gate), so DuckDB
    * can unroll the identical steps (m10b). Returns (A, B) of
    * sigmoid(A·x + B), matching fitPlatt's contract.
    */
  def fitPlattIrls(oof: DataFrame, labelCol: String = "y_true",
      predCol: String = "y_pred", iters: Int = 8): (Double, Double) = {
    val data = oof.select(col(labelCol).cast("double").as("y"),
      col(predCol).cast("double").as("x")).cache()
    data.count()
    var b0 = 0.0; var b1 = 0.0
    for (_ <- 0 until iters) {
      val mu = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("x"))))
      val w = mu * (lit(1.0) - mu)
      val r = data.agg(
        sum(col("y") - mu).as("g0"),
        sum((col("y") - mu) * col("x")).as("g1"),
        sum(w).as("w00"),
        sum(w * col("x")).as("w01"),
        sum(w * col("x") * col("x")).as("w11")).head()
      val (g0, g1) = (r.getDouble(0), r.getDouble(1))
      val (w00, w01, w11) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val det = w00 * w11 - w01 * w01
      if (math.abs(det) > 1e-12) {
        b0 += (w11 * g0 - w01 * g1) / det
        b1 += (w00 * g1 - w01 * g0) / det
      }
    }
    data.unpersist()
    (b1, b0)
  }

  /** Apply at predict time (predict.py:153-159): adds
    * `y_pred_platt_scaled` = sigmoid(A·y_pred + B) — a codegen'd column
    * expression, no model object shipped.
    */
  def applyPlatt(preds: DataFrame, ab: (Double, Double),
      predCol: String = "y_pred"): DataFrame =
    preds.withColumn("y_pred_platt_scaled",
      lit(1.0) / (lit(1.0) + exp(-(lit(ab._1) * col(predCol) + lit(ab._2)))))

  // ---------------------------------------------------- M11 adjusted scoring

  /** M11 — covariate-adjusted AUC (scoring.py:15-135, OLS regime): fit
    * y_pred ~ covars by OLS on the joined table (J2), score
    * AUC(y_true, y_pred − fitted) and R²(fitted). OLS is the default
    * and the paper's headline metric; the RF regime is
    * [[adjustedScoreRf]].
    *
    * Returns a 1-row DataFrame (auc_adj, r2_fit). `roundResid` rounds
    * residuals before ranking so the AUC grouping is stable across
    * engines (oracle parity) — semantically a no-op at 1e-6.
    */
  def adjustedScore(preds: DataFrame, covCols: Seq[String],
      labelCol: String = "y_true", predCol: String = "y_pred",
      roundResid: Int = 6): DataFrame = {
    val beta = Deconfound.labelBetas(preds, covCols, predCol)
    val fit = covCols.zipWithIndex.foldLeft(lit(beta(0))) { case (acc, (c, i)) =>
      acc + col(c) * beta(i + 1)
    }
    val withResid = preds
      .withColumn("_fitted", fit)
      .withColumn("_resid", round(col(predCol) - col("_fitted"), roundResid))
    val auc = Scoring.aucDF(withResid, labelCol, "_resid")
    val r2 = Scoring.r2DF(withResid, predCol, "_fitted")
    auc.crossJoin(r2)
  }

  /** M11, RF regime (scoring.py:15-67 `fit_rf`): randomized 5-fold HP
    * search for a RandomForestRegressor of y_pred ~ covars on a
    * ~`nSubsample`-row subsample (the reference's RandomizedSearchCV on
    * 5000 rows), refit with the best params on the FULL table (the RF
    * fit itself is MLlib-distributed), then AUC(y_true, y_pred − fitted)
    * like the OLS regime. Sampled HP shapes mirror the reference's
    * distributions: maxDepth skewed-binomial median ~4, min split size
    * median ~3, feature subset 3–8 (clamped to |covars|).
    *
    * Scale: the search runs 5 × nIter fits on a bounded subsample
    * (driver-cheap); only the single final refit and its predict touch
    * the full table, both distributed. The subsample uses
    * `sample(fraction).limit(n)` — never a global sort by rand.
    */
  def adjustedScoreRf(preds: DataFrame, covCols: Seq[String],
      labelCol: String = "y_true", predCol: String = "y_pred",
      nTrees: Int = 100, nIter: Int = 10, nSubsample: Int = 5000,
      seed: Long = 7L, roundResid: Int = 6): DataFrame = {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.ml.param.ParamMap
    import org.apache.spark.ml.regression.RandomForestRegressor
    import org.apache.spark.ml.tuning.CrossValidator
    val assembler = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(covCols.toArray).setOutputCol("_covfv")
    val full = assembler.transform(
      preds.select((Seq(labelCol, predCol) ++ covCols).map(col): _*))
    val nRows = full.count()
    val sub =
      if (nRows <= nSubsample) full
      else full.sample(withReplacement = false,
        math.min(1.0, nSubsample * 1.2 / nRows), seed).limit(nSubsample)
    val rf = new RandomForestRegressor()
      .setLabelCol(predCol).setFeaturesCol("_covfv")
      .setNumTrees(nTrees).setSeed(seed)
    val rng = new scala.util.Random(seed)
    // triangular draws ≈ the reference's skewed nbinom shapes
    val grid: Array[ParamMap] = Array.tabulate(nIter) { _ =>
      val maxDepth = 2 + rng.nextInt(4) + rng.nextInt(4) // 2..8, median ~5
      val minPerNode = 2 + math.min(rng.nextInt(3), rng.nextInt(3)) // 2..4, median ~3
      val maxFeat = math.min(covCols.size, 3 + rng.nextInt(6)) // 3..8 clamped
      new ParamMap().put(rf.maxDepth, maxDepth)
        .put(rf.minInstancesPerNode, minPerNode)
        .put(rf.featureSubsetStrategy, maxFeat.toString)
    }
    val cv = new CrossValidator()
      .setEstimator(rf)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol(predCol).setPredictionCol("prediction").setMetricName("rmse"))
      .setEstimatorParamMaps(grid).setNumFolds(5).setSeed(seed)
      .setParallelism(4)
    val searched = cv.fit(sub)
    // refit on the FULL table with the best params (reference refits
    // outside the search rather than reusing the subsample model)
    val bestIdx = searched.avgMetrics.zipWithIndex.minBy(_._1)._2
    val finalModel = rf.copy(grid(bestIdx)).fit(full)
    val withResid = finalModel.transform(full)
      .withColumnRenamed("prediction", "_fitted")
      .withColumn("_resid", round(col(predCol) - col("_fitted"), roundResid))
    val auc = Scoring.aucDF(withResid, labelCol, "_resid")
    val r2 = Scoring.r2DF(withResid, predCol, "_fitted")
    auc.crossJoin(r2)
  }

  // ------------------------------------------------------ M8 incremental fit

  /** M8 — incremental (out-of-core style) boosting: continue from an
    * existing tree list, `treesPerRound` new trees per round, each round
    * on a FRESH chunk-subsample (R6), with the accumulated ensemble's
    * margin recomputed distributed per round
    * (crossvalidate.py:203-240). MLlib's GBT cannot warm-start, so the
    * boosting loop is explicit: per round, fit a regression tree to the
    * logistic pseudo-residuals (y − σ(margin)) and append it with
    * weight `eta`. The model is a [[Booster]] of margin scale 1 (the
    * growing FlatTree list, exactly what [[Explain]] consumes); the
    * reference saves the booster every round so a long refit can
    * resume after a failure (crossvalidate.py:218-236), and
    * `checkpoint` is the file [[Booster.write]] replaces after each
    * round.
    */
  def fitIncremental(bundle: DataFrame, rounds: Int, treesPerRound: Int,
      subsampleFrac: Double, eta: Double, maxDepth: Int, seed: Long,
      start: Option[Booster] = None,
      labelCol: String = "label",
      checkpoint: Option[String] = None): Booster = {
    val pBar = bundle.agg(avg(col(labelCol))).head().getDouble(0)
    val base = math.log(pBar / (1.0 - pBar))
    var model = start.getOrElse(
      Booster(Vector.empty, Vector.empty, base, 1.0, Booster.Logistic))
    for (r <- 0 until rounds) {
      // R6: fresh seeded subsample per round
      val sample = Train.readSubsample(bundle, subsampleFrac, seed, r)
      val withResid = model.predictCol(sample, "features")
        .withColumn("_resid", col(labelCol) - col("y_pred"))
        .withColumn("fv", array_to_vector(col("features")))
        .cache()
      withResid.count()
      var stage = 0
      var m = model
      while (stage < treesPerRound) {
        val tree = new org.apache.spark.ml.regression.DecisionTreeRegressor()
          .setLabelCol("_resid").setFeaturesCol("fv")
          .setMaxDepth(maxDepth).setSeed(seed + r * 131 + stage)
          .fit(withResid)
        m = m.copy(trees = m.trees :+ Explain.flatten(tree.rootNode),
          weights = m.weights :+ eta)
        stage += 1
      }
      withResid.unpersist()
      model = m
      checkpoint.foreach(Booster.write(bundle.sparkSession, _, model))
    }
    model
  }

  // --------------------------------------------------------- M9 shap refit

  /** M9 — two-stage refit (refit.py:62-90): fit on all p, keep only
    * predictors the trees actually split on, refit on the reduced
    * feature space. Returns (usedPositions, prunedModel, prunedBundle).
    * The array slice runs as one codegen'd projection; the parquet scan
    * of the second fit reads the same rows (column pruning happens at
    * the array level since features are one physical column).
    */
  def usedFeatures(model: org.apache.spark.ml.classification.GBTClassificationModel): Seq[Int] = {
    val flat = Explain.flattenModel(model.trees)
    flat.flatMap(_.feature.filter(_ >= 0)).distinct.sorted
  }

  def sliceFeatures(df: DataFrame, keep: Seq[Int],
      featuresCol: String = "features"): DataFrame = {
    val arr = array(keep.map(i => col(featuresCol).getItem(i)): _*)
    df.withColumn(featuresCol, arr)
  }

  def shapRefit(bundle: DataFrame, hp: HyperParams, seed: Long)
      : (Seq[Int], org.apache.spark.ml.classification.GBTClassificationModel) = {
    val m1 = Train.fitClassifier(Train.withVector(bundle), hp, seed)
    val used = usedFeatures(m1)
    val pruned = sliceFeatures(bundle, used)
    val m2 = Train.fitClassifier(Train.withVector(pruned), hp, seed + 1)
    (used, m2)
  }

  // ---------------------------------------------------------------- queries

  /** M7+M10 rows-only entry: out-of-fold CV predictions → Platt fit →
    * apply. Platt is strictly monotone (A > 0 for any positively
    * associated predictor), so scaled AUC must equal raw AUC exactly —
    * a sharp invariant; also checks calibration moved the mean toward
    * the base rate.
    */
  val m10 = QueryDef(
    "m10_platt_scaling",
    { (s, d) =>
    val cfg = Sim.Config(n = 900L, p = 8, seed = 55L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val nBlocks = (cfg.n + cfg.chunkRows - 1) / cfg.chunkRows
    val hp = HyperParams(0.1, 0.9, 1.0, 3, 8)
    val oof = Train.oneRoundCv(bundle, k = 3, nBlocks = nBlocks, hp = hp, seed = 9L)
      .cache()
    val ab = fitPlatt(oof)
    val scaled = applyPlatt(oof, ab).cache()
    val aucRaw = Scoring.auc(scaled, "y_true", "y_pred")
    val aucPlatt = Scoring.auc(scaled, "y_true", "y_pred_platt_scaled")
    val inRange = scaled.agg(
      min(col("y_pred_platt_scaled")).as("mn"),
      max(col("y_pred_platt_scaled")).as("mx")).head()
    scaled.unpersist(); oof.unpersist(); bundle.unpersist()
    val spark = s; import spark.implicits._
    Seq((math.rint(aucRaw * 1e9) / 1e9, math.rint(aucPlatt * 1e9) / 1e9,
      ab._1, inRange.getDouble(0), inRange.getDouble(1)))
      .toDF("auc_raw", "auc_platt", "platt_a", "p_min", "p_max")
      .filter(col("auc_raw") === col("auc_platt") && col("platt_a") > 0 &&
        col("p_min") >= 0 && col("p_max") <= 1)
  },
    // GOLDEN-PINNED (r12, the m6 pattern): seed-deterministic GBT +
    // Platt fit — byte-identical at local[8]/local[32]; the monotone-
    // AUC invariant still gates emission, and m10b keeps the
    // independent cross-engine IRLS replay
    oracle = Some(
      """SELECT * FROM (VALUES (0.775797531, 0.775797531,
        |  4.638031023908088, 0.13382370330350615, 0.8819532297410786))
        |  t(auc_raw, auc_platt, platt_a, p_min, p_max)""".stripMargin),
    benchEligible = false)

  /** The DuckDB replay of [[fitPlattIrls]]: the identical single-group
    * Newton recurrence unrolled one (stats, betas) CTE pair per step —
    * the a12 oracle pattern without the pos grouping. Coefficients
    * round to 4dp (the c17/a12 lesson: distributed sum order differs
    * between engines at ~1e-10).
    */
  private def m10bOracleSql(iters: Int): String = {
    val base =
      """WITH f AS MATERIALIZED (SELECT CAST(o_orderkey % 2 AS DOUBLE) AS y,
        |            (o_totalprice - floor(o_totalprice))
        |              + 0.3 * CAST(o_orderkey % 2 AS DOUBLE) AS x
        |          FROM orders),
        |t0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""s$k AS MATERIALIZED (SELECT sum(y - mu) AS g0, sum((y - mu) * x) AS g1,
         |          sum(mu * (1 - mu)) AS w00, sum(mu * (1 - mu) * x) AS w01,
         |          sum(mu * (1 - mu) * x * x) AS w11
         |        FROM (SELECT y, x, 1 / (1 + exp(-(b.b0 + b.b1 * x))) AS mu
         |              FROM f, t$p b)),
         |t$k AS MATERIALIZED (SELECT
         |  CASE WHEN abs(w00 * w11 - w01 * w01) > 1e-12
         |       THEN b.b0 + (w11 * g0 - w01 * g1) / (w00 * w11 - w01 * w01)
         |       ELSE b.b0 END AS b0,
         |  CASE WHEN abs(w00 * w11 - w01 * w01) > 1e-12
         |       THEN b.b1 + (w00 * g1 - w01 * g0) / (w00 * w11 - w01 * w01)
         |       ELSE b.b1 END AS b1
         |  FROM t$p b, s$k)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT round(b1, 4) AS platt_a, round(b0, 4) AS platt_b FROM t$iters"
  }

  /** M10b — Platt scaling with a FULL DuckDB oracle (m10 itself fits on
    * GBT out-of-fold predictions, which no other engine can replay):
    * a deterministic prediction table derived from `orders` (m11's
    * recipe — label = orderkey parity, score = totalprice fraction plus
    * a 0.3·label shift so the association is real and non-separable),
    * fit by [[fitPlattIrls]] and replayed step-for-step in SQL.
    * Emission gates tie the oracle'd IRLS to the PRODUCTION path: the
    * MLlib LBFGS fit ([[fitPlatt]]) must agree to 1e-3 on both
    * coefficients, and the slope must be positive (the planted
    * association's sign).
    */
  val m10b = QueryDef(
    "m10b_platt_irls",
    { (s, d) =>
      val preds = Tables.orders(s, d).select(
        (col("o_orderkey") % 2).cast("double").as("y_true"),
        ((col("o_totalprice") - floor(col("o_totalprice"))) +
          lit(0.3) * (col("o_orderkey") % 2).cast("double")).as("y_pred"))
      val (aI, bI) = fitPlattIrls(preds)
      val (aM, bM) = fitPlatt(preds)
      val ok = math.abs(aI - aM) < 1e-3 && math.abs(bI - bM) < 1e-3 && aI > 0
      val spark = s; import spark.implicits._
      Seq((aI, bI)).toDF("a_raw", "b_raw")
        .select(round(col("a_raw"), 4).as("platt_a"),
          round(col("b_raw"), 4).as("platt_b"))
        .filter(lit(ok))
    },
    oracle = Some(m10bOracleSql(8)))

  /** M11 oracle — covariate-adjusted AUC on a deterministic
    * pseudo-prediction table: both engines fit their own k=1 OLS of
    * score ~ covar, rank the rounded residuals, and must agree on the
    * adjusted AUC and the fit R² to 6 decimals.
    */
  val m11 = QueryDef.sql(
    "m11_adjusted_auc",
    """WITH p AS (SELECT CAST(o_orderkey % 2 AS DOUBLE) AS y,
      |                  o_totalprice - floor(o_totalprice) AS sc,
      |                  CAST(o_orderkey % 97 AS DOUBLE) AS c1
      |           FROM orders),
      |b AS (SELECT regr_intercept(sc, c1) b0, regr_slope(sc, c1) b1 FROM p),
      |r AS (SELECT y, sc, (b.b0 + b.b1 * c1) AS fitted,
      |             round(sc - (b.b0 + b.b1 * c1), 6) AS resid
      |      FROM p, b),
      |g AS (SELECT resid AS s, CAST(count(*) AS DOUBLE) c, CAST(sum(y) AS DOUBLE) pos
      |      FROM r GROUP BY 1),
      |o AS (SELECT s, c, pos,
      |             coalesce(sum(c) OVER (ORDER BY s
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cumb
      |      FROM g),
      |t AS (SELECT sum(pos * (cumb + (c + 1) / 2.0)) sumr, sum(pos) np, sum(c) n FROM o),
      |q AS (SELECT 1.0 - sum(pow(sc - fitted, 2)) /
      |             (sum(pow(sc, 2)) - sum(sc) * sum(sc) / count(*)) AS r2 FROM r)
      |SELECT round((sumr - np * (np + 1) / 2.0) / (np * (n - np)), 6) AS auc,
      |       round(q.r2, 6) AS r2
      |FROM t, q""".stripMargin) {
    (s, d) =>
      val preds = Tables.orders(s, d).select(
        (col("o_orderkey") % 2).cast("double").as("y_true"),
        (col("o_totalprice") - floor(col("o_totalprice"))).as("y_pred"),
        (col("o_orderkey") % 97).cast("double").as("c1"))
      adjustedScore(preds, Seq("c1"))
        .select(round(col("auc"), 6).as("auc"), round(col("r2"), 6).as("r2"))
  }

  /** M11-RF rows-only entry: a deterministic prediction table where the
    * covariate acts through a linear term PLUS a 3-period sawtooth
    * (uncorrelated with the linear term over the uniform covariate) —
    * OLS removes only the linear share, the RF regime captures the
    * sawtooth too, so auc_raw < auc_ols_adj < auc_rf_adj must hold.
    * (scoring.py's two regimes on nonlinear covariate effects behave
    * exactly this way.)
    */
  val m11rf = QueryDef.fixture("m11_rf_adjusted_auc") { (s, d) =>
    val base = s.range(2000).select(
      (col("id") % 2).cast("double").as("y_true"),
      ((col("id") % 101).cast("double") / 101.0).as("c1"),
      (pmod(xxhash64(col("id")), lit(1000)).cast("double") / 1000.0).as("_u"))
    val preds = base.withColumn("y_pred",
      col("y_true") * 0.25 + col("c1") * 1.5 +
        (col("c1") * 3.0 % 1.0 - 0.5) + col("_u") * 0.3)
      .select("y_true", "y_pred", "c1")
    val aucRaw = Scoring.auc(preds, "y_true", "y_pred")
    val aucOls = adjustedScore(preds, Seq("c1")).head().getDouble(0)
    val aucRf = adjustedScoreRf(preds, Seq("c1"), nTrees = 20, nIter = 4,
      nSubsample = 1500, seed = 11L).head().getDouble(0)
    val spark = s; import spark.implicits._
    Seq((math.rint(aucRaw * 1e6) / 1e6, math.rint(aucOls * 1e6) / 1e6,
      math.rint(aucRf * 1e6) / 1e6))
      .toDF("auc_raw", "auc_ols_adj", "auc_rf_adj")
      .filter(col("auc_ols_adj") > col("auc_raw") + 0.02 &&
        col("auc_rf_adj") > col("auc_ols_adj") + 0.02)
  }

  /** M8 rows-only entry: 3 incremental rounds × 2 trees on fresh
    * subsamples must discriminate (AUC > 0.6) and strictly improve on
    * the base-rate predictor; a fourth warm-start round from the saved
    * state must not degrade AUC by more than noise.
    */
  val m8 = QueryDef(
    "m8_incremental_refit",
    { (s, d) =>
    val cfg = Sim.Config(n = 1000L, p = 10, seed = 31L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val ckpt = graft.util.Fixtures.dir + "/incremental_ckpt.json"
    val m3rounds = fitIncremental(bundle, rounds = 3, treesPerRound = 2,
      subsampleFrac = 0.7, eta = 0.3, maxDepth = 3, seed = 13L,
      checkpoint = Some(ckpt))
    val auc3 = Scoring.auc(m3rounds.predictCol(bundle), "label", "y_pred")
    // warm start: one more round continuing from the in-memory state
    val m4rounds = fitIncremental(bundle, rounds = 1, treesPerRound = 2,
      subsampleFrac = 0.7, eta = 0.3, maxDepth = 3, seed = 41L,
      start = Some(m3rounds))
    val auc4 = Scoring.auc(m4rounds.predictCol(bundle), "label", "y_pred")
    // resume path: reload the round-3 checkpoint from disk and run the
    // SAME round 4 — predictions must match the in-memory continuation
    // exactly (bit-equal sum over the corpus)
    val resumed = fitIncremental(bundle, rounds = 1, treesPerRound = 2,
      subsampleFrac = 0.7, eta = 0.3, maxDepth = 3, seed = 41L,
      start = Some(Booster.read(s, ckpt)))
    val sumMem = m4rounds.predictCol(bundle)
      .agg(sum(col("y_pred"))).head().getDouble(0)
    val sumRes = resumed.predictCol(bundle)
      .agg(sum(col("y_pred"))).head().getDouble(0)
    bundle.unpersist()
    val spark = s; import spark.implicits._
    Seq((math.rint(auc3 * 1e6) / 1e6, math.rint(auc4 * 1e6) / 1e6,
      m4rounds.trees.length, sumMem == sumRes))
      .toDF("auc_3_rounds", "auc_4_rounds", "n_trees", "resume_exact")
      .filter(col("auc_3_rounds") > 0.6 && col("auc_4_rounds") > col("auc_3_rounds") - 0.05 &&
        col("n_trees") === 8 && col("resume_exact"))
  },
    // GOLDEN-PINNED (r12): seed-deterministic staged boosting,
    // byte-identical at local[8]/local[32]; behavioral gates keep
    oracle = Some(
      """SELECT * FROM (VALUES (0.785052, 0.788884, 8, TRUE))
        |  t(auc_3_rounds, auc_4_rounds, n_trees, resume_exact)""".stripMargin),
    benchEligible = false)

  /** M9+S11 rows-only entry: two-stage refit prunes to the used feature
    * set; the pruned model round-trips through the [[Booster]] codec and
    * the rebuilt MLlib model predicts identically.
    */
  val m9 = QueryDef(
    "m9_shap_refit_model_io",
    { (s, d) =>
    val cfg = Sim.Config(n = 800L, p = 14, seed = 19L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val hp = HyperParams(0.15, 0.9, 0.7, 3, 8)
    val (used, m2) = shapRefit(bundle, hp, seed = 23L)
    val pruned = Train.withVector(sliceFeatures(bundle, used)).cache()
    val aucPruned = Scoring.auc(Train.predictClassifier(m2, pruned), "label", "y_pred")
    // S11 round-trip
    val path = graft.util.Fixtures.dir + "/gbt_model.json"
    Booster.write(s, path, Booster.fromMllib(m2,
      used.map(Sim.snpNames(cfg.p, cfg.seed))))
    val loaded = Booster.read(s, path).toMllib
    val predA = Train.predictClassifier(m2, pruned)
      .agg(sum(col("y_pred"))).head().getDouble(0)
    val predB = Train.predictClassifier(loaded, pruned)
      .agg(sum(col("y_pred"))).head().getDouble(0)
    pruned.unpersist(); bundle.unpersist()
    val spark = s; import spark.implicits._
    Seq((used.length, cfg.p, math.rint(aucPruned * 1e6) / 1e6,
      loaded.trees.length, predA == predB))
      .toDF("n_used", "p", "auc_pruned", "n_trees", "io_exact")
      .filter(col("n_used") <= col("p") && col("n_used") > 0 &&
        col("auc_pruned") > 0.6 && col("io_exact"))
  },
    // GOLDEN-PINNED (r12): seed-deterministic refit+prune+IO chain,
    // byte-identical at local[8]/local[32]; behavioral gates keep
    oracle = Some(
      """SELECT * FROM (VALUES (14, 14, 0.763128, 8, TRUE))
        |  t(n_used, p, auc_pruned, n_trees, io_exact)""".stripMargin),
    benchEligible = false)

  def all: Seq[QueryDef] = Seq(m10, m10b, m11, m11rf, m8, m9)
}
