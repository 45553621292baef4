package graft.ml

import graft.QueryDef
import graft.ops.Splits
import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Hyperparameter set mirroring the reference search space
  * (`daxos/crossvalidate.py:112-122`): eta ~ reciprocal(1e-4, 0.1),
  * subsample/colsample ~ U(0.5, 1), max_depth ~ randint(2, 9).
  */
final case class HyperParams(
    eta: Double,
    subsample: Double,
    colsampleBytree: Double,
    maxDepth: Int,
    nRounds: Int)

/** Training layer — M1 (distributed GBT fit), M2 (distributed predict),
  * M6 (fold-major CV driver), M7 (one-round CV for Platt), R6 (per-round
  * read-subsample), R8 (random HP sampler). Reference:
  * `daxos/crossvalidate.py:148-305`, entry `scripts/cv.py:90-135`.
  *
  * Scale design notes:
  *   - fits/predicts are MLlib `GBTClassifier`/`GBTRegressor` — tree
  *     aggregation is Spark's own distributed histogram path;
  *   - CV caches its vectorized input ONCE per call (the reference's
  *     "build each DaskDMatrix once" trick, crossvalidate.py:248-262)
  *     and takes every fold as a block_id filter over that cache;
  *   - the k folds are independent, so they fit at the same time
  *     ([[Concurrent.all]]): one fold's jobs use the cores while another
  *     fold's driver plans its next tree level. Params stay sequential
  *     inside each fold. Memory bound: one cached input plus k times
  *     the binned training points MLlib persists for one fit;
  *   - CV result rows are folds×params-sized (≤ a few hundred) — a
  *     legitimate driver-side collect;
  *   - splits are chunk-aligned block_id predicates (zero shuffle).
  */
object Train {

  /** R8 — seeded random search sampler. Log-uniform eta (the scipy
    * `reciprocal` distribution IS log-uniform), uniform subsample and
    * colsample, integer-uniform depth in [2, 8].
    */
  def sampleParams(nIter: Int, nRounds: Int, seed: Long): Seq[HyperParams] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nIter)(HyperParams(
      eta = math.exp(math.log(1e-4) +
        (math.log(0.1) - math.log(1e-4)) * rng.nextDouble()),
      subsample = 0.5 + 0.5 * rng.nextDouble(),
      colsampleBytree = 0.5 + 0.5 * rng.nextDouble(),
      maxDepth = 2 + rng.nextInt(7),
      nRounds = nRounds))
  }

  /** R6 — fresh per-round chunk subsample for incremental refit
    * (crossvalidate.py:203-240): seeded by (seed, round) so every round
    * draws a different but reproducible fraction.
    */
  def readSubsample(df: DataFrame, fraction: Double, seed: Long, round: Int): DataFrame =
    df.sample(withReplacement = false, fraction, seed + round)

  /** Adds the MLlib vector column expected by fit/predict. Kept explicit
    * (not hidden inside fit) so callers can cache the converted frame.
    */
  def withVector(df: DataFrame, featuresCol: String = "features",
      vecCol: String = "fv"): DataFrame =
    df.withColumn(vecCol, array_to_vector(col(featuresCol)))

  /** M1 — binary-classification GBT fit. eta→stepSize,
    * subsample→subsamplingRate, colsample_bytree→featureSubsetStrategy,
    * n_boost_round→maxIter (crossvalidate.py:148-175 param mapping).
    *
    * SEMANTIC DEVIATION (documented, not fixable without a custom
    * tree learner): XGBoost's `colsample_bytree` draws the feature
    * subset once PER TREE (crossvalidate.py:114,159); MLlib's
    * `featureSubsetStrategy` re-draws PER SPLIT CANDIDATE SET. The
    * marginal inclusion probability per tree is the same, but per-node
    * resampling decorrelates splits more aggressively — fitted models
    * and HP-search optima are statistically similar, not identical.
    * Compare HP-search results across engines at the metric level, not
    * tree-by-tree.
    */
  def fitClassifier(train: DataFrame, hp: HyperParams, seed: Long,
      labelCol: String = "label", vecCol: String = "fv"): GBTClassificationModel =
    new GBTClassifier()
      .setLabelCol(labelCol)
      .setFeaturesCol(vecCol)
      .setMaxIter(hp.nRounds)
      .setMaxDepth(hp.maxDepth)
      .setStepSize(hp.eta)
      .setSubsamplingRate(hp.subsample)
      .setFeatureSubsetStrategy(colsampleStr(hp.colsampleBytree))
      .setSeed(seed)
      .fit(train)

  /** Locale-independent decimal: the f-interpolator uses the default
    * locale, and "0,9000" under a comma-decimal locale is rejected by
    * setFeatureSubsetStrategy. */
  private def colsampleStr(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** M1 (regression regime, ykey == y_adjusted ⇒ reg:squarederror). */
  def fitRegressor(train: DataFrame, hp: HyperParams, seed: Long,
      labelCol: String = "label", vecCol: String = "fv"): GBTRegressionModel =
    new GBTRegressor()
      .setLabelCol(labelCol)
      .setFeaturesCol(vecCol)
      .setMaxIter(hp.nRounds)
      .setMaxDepth(hp.maxDepth)
      .setStepSize(hp.eta)
      .setSubsamplingRate(hp.subsample)
      .setFeatureSubsetStrategy(colsampleStr(hp.colsampleBytree))
      .setSeed(seed)
      .fit(train)

  /** M2 — distributed predict: appends `y_pred` = P(class 1). */
  def predictClassifier(model: GBTClassificationModel, df: DataFrame): DataFrame =
    model.transform(df)
      .withColumn("y_pred", vector_to_array(col("probability")).getItem(1))
      .drop("rawPrediction", "probability", "prediction")

  def predictRegressor(model: GBTRegressionModel, df: DataFrame): DataFrame =
    model.transform(df).withColumnRenamed("prediction", "y_pred")

  /** CV result row schema — mirrors the reference CSV
    * (crossvalidate.py:274-281). */
  private val cvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("eta", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("subsample", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("colsample_bytree", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("max_depth", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("train_score", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("fold", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_boost_round", org.apache.spark.sql.types.IntegerType)))

  /** M6 — fold-major CV: one cache of the vectorized input, the k
    * folds fitted at the same time, params iterated inside each fold
    * (crossvalidate.py:243-305). `metric` ∈ {"auc", "rmse"}
    * (scripts/cv.py:90-99 regime switch). Returns the per-(param, fold)
    * score table, fold-major and param-minor.
    */
  def crossValidate(bundle: DataFrame, k: Int, nBlocks: Long,
      params: Seq[HyperParams], metric: String, seed: Long,
      labelCol: String = "label"): DataFrame = {
    val spark = bundle.sparkSession
    val rows = withCachedVector(bundle) { withFv => Concurrent.all(
      Splits.chunkedKFold(withFv, k, nBlocks).zipWithIndex.map {
        case ((train, test), fold) => () => params.map { hp =>
          val (testScore, trainScore) =
            if (metric == "auc") {
              val m = fitClassifier(train, hp, seed, labelCol)
              (Scoring.auc(predictClassifier(m, test), labelCol, "y_pred"),
                Scoring.auc(predictClassifier(m, train), labelCol, "y_pred"))
            } else {
              val m = fitRegressor(train, hp, seed, labelCol)
              (Scoring.rmse(predictRegressor(m, test), labelCol, "y_pred"),
                Scoring.rmse(predictRegressor(m, train), labelCol, "y_pred"))
            }
          Row(hp.eta, hp.subsample, hp.colsampleBytree, hp.maxDepth,
            metric, testScore, trainScore, fold, hp.nRounds)
        }
      }).flatten
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cvSchema)
  }

  /** A1/O1/O2 over CV results — grouped mean across folds, best combo
    * first (ascending iff RMSE-like, descending for AUC,
    * crossvalidate.py:288-292).
    */
  def summarizeCv(cvResults: DataFrame, metric: String): DataFrame = {
    val grouped = cvResults
      .groupBy("eta", "subsample", "colsample_bytree", "max_depth", "metric",
        "n_boost_round")
      .agg(avg("score").as("score"), avg("train_score").as("train_score"))
    val ord = if (metric == "auc") col("score").desc else col("score").asc
    grouped.orderBy(ord, col("eta").asc)
  }

  def bestParams(cvResults: DataFrame, metric: String): HyperParams = {
    val r = summarizeCv(cvResults, metric).head()
    HyperParams(r.getAs[Double]("eta"), r.getAs[Double]("subsample"),
      r.getAs[Double]("colsample_bytree"), r.getAs[Int]("max_depth"),
      r.getAs[Int]("n_boost_round"))
  }

  /** Run `body` over `withVector(bundle)`, cached for its length — unless
    * the caller already cached that plan, whose cache is then used and
    * left in place (an unpersist here would drop the caller's entry). */
  private def withCachedVector[T](bundle: DataFrame)(body: DataFrame => T): T = {
    import org.apache.spark.sql.classic.ClassicConversions._
    val withFv = withVector(bundle)
    val own = bundle.sparkSession.sharedState.cacheManager
      .lookupCachedData(withFv).isEmpty
    if (own) withFv.cache()
    try body(withFv) finally if (own) withFv.unpersist()
  }

  /** M7 — one-round CV: refit `hp` per fold, the k fits at the same
    * time over one cache of the vectorized input, and emit out-of-fold
    * predictions (iid, y_true, y_pred, fold) in fold order — the Platt
    * training table (crossvalidate.py:178-200). The predictions stay
    * lazy; the cache is dropped once the fits are done.
    */
  def oneRoundCv(bundle: DataFrame, k: Int, nBlocks: Long, hp: HyperParams,
      seed: Long, labelCol: String = "label"): DataFrame = {
    val (folds, models) = withCachedVector(bundle) { withFv =>
      val folds = Splits.chunkedKFold(withFv, k, nBlocks)
      (folds, Concurrent.all(folds.map { case (train, _) =>
        () => fitClassifier(train, hp, seed, labelCol)
      }))
    }
    folds.zip(models).zipWithIndex.map { case (((_, test), m), fold) =>
      predictClassifier(m, test)
        .select(col("iid"), col(labelCol).as("y_true"), col("y_pred"),
          lit(fold).as("fold"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------- queries

  /** M1/M2/A9/M5-smoke as one rows-only entry: simulate the planted-OR
    * fixture, chunk-split, fit, predict, score. The row is emitted ONLY
    * when the reference's own golden checks hold (AUC ≫ 0.5 and both
    * planted SNPs in the top-3 importances, setup_data.py:155-166) — a
    * failing pipeline yields 0 rows and trips the driver's rows check.
    */
  /** GOLDEN-PINNED oracle (round 12, same pattern as m6): the fixture,
    * split, GBT fit, AUC, and z-ranking are all seed-deterministic —
    * byte-identical at local[8] vs local[32] and across the determinism
    * double-runs — so the summary row is pinned as a VALUES relation.
    * The behavioral gates (AUC > 0.65, planted recovery) still guard
    * emission; the pin additionally catches any silent drift in the
    * trained model or scoring path. */
  val m1 = QueryDef(
    "m1_gbt_fixture_auc",
    { (s, d) =>
    val cfg = Sim.Config(n = 1600L, p = 16, seed = 123L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val nBlocks = (cfg.n + cfg.chunkRows - 1) / cfg.chunkRows
    val (train, test) =
      Splits.chunkedTrainTest(bundle, 0.75, seed = 7L, nBlocks = nBlocks)
    val hp = HyperParams(eta = 0.1, subsample = 0.9, colsampleBytree = 0.9,
      maxDepth = 3, nRounds = 12)
    val model = fitClassifier(withVector(train), hp, seed = 11L)
    val auc = Scoring.auc(predictClassifier(model, withVector(test)), "label", "y_pred")
    // Association recovery (the reference's golden check is statistical
    // recovery of the planted effects, setup_data.py:155-166): the two
    // planted SNPs must be the top-2 by per-SNP two-sample z — computed
    // distributed via posexplode + one grouped aggregate.
    val z = bundle.select(col("label"), posexplode(col("features")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(
        avg(when(col("label") === 1.0, col("x"))).as("m1"),
        avg(when(col("label") === 0.0, col("x"))).as("m0"),
        variance(when(col("label") === 1.0, col("x"))).as("v1"),
        variance(when(col("label") === 0.0, col("x"))).as("v0"),
        count(when(col("label") === 1.0, 1)).as("n1"),
        count(when(col("label") === 0.0, 1)).as("n0"))
      .select(col("pos"),
        (abs(col("m1") - col("m0")) /
          sqrt(col("v1") / col("n1") + col("v0") / col("n0"))).as("z"))
      .orderBy(col("z").desc).limit(2)
      .select(collect_list("pos")).head().getSeq[Int](0).toSet
    val plantedTop2ByZ = Seq(cfg.p - 2, cfg.p - 1).count(z.contains)
    // GBT must also surface the strong planted SNP in its own top-3 gains.
    val imp = model.featureImportances.toArray.zipWithIndex
      .sortBy(-_._1).take(3).map(_._2).toSet
    val strongPlantedInTop3 = if (imp.contains(cfg.p - 2)) 1 else 0
    bundle.unpersist()
    val spark = s; import spark.implicits._
    Seq((math.rint(auc * 1e6) / 1e6, plantedTop2ByZ, strongPlantedInTop3,
      test.count()))
      .toDF("auc", "planted_top2_by_z", "or3_in_gbt_top3", "n_test")
      .filter(col("auc") > 0.65 && col("planted_top2_by_z") === 2 &&
        col("or3_in_gbt_top3") === 1)
  },
    oracle = Some(
      """SELECT * FROM (VALUES (0.724262, 2, 1, CAST(400 AS BIGINT)))
        |  t(auc, planted_top2_by_z, or3_in_gbt_top3, n_test)""".stripMargin),
    benchEligible = false)

  /** M6/R8 as one entry: 3-fold CV over 2 sampled param sets on a small
    * fixture, emitting the grouped summary (one row per param set) when
    * every AUC is in (0,1) and the fold count is right.
    *
    * GOLDEN-PINNED oracle (round 12): the whole chain is deterministic
    * given its seeds — the Sim fixture is hash-generated, the sampler is
    * seeded, and MLlib GBT is deterministic in local mode — so the
    * fold×param score table is a fixed set of values, pinned below as a
    * DuckDB VALUES relation. Invariance evidence: byte-identical output
    * at local[8] vs local[32] (partitioning-independent) and across the
    * round-9/-11 determinism double-runs (two fresh JVMs). A pin breaks
    * only if MLlib's GBT internals change — which is exactly the kind of
    * silent behavior shift the gate should catch loudly.
    */
  val m6 = QueryDef(
    "m6_cv_driver",
    { (s, d) =>
      val cfg = Sim.Config(n = 900L, p = 8, seed = 321L, chunkRows = 100L)
      val full = Sim.bundle(s, cfg)
      // R5 — CV head-subsample (valid because the store is pre-shuffled):
      // HP search runs on the first 6 of 9 blocks, crossvalidate.py:398-404
      val bundle = Splits.headSubsample(full, nRows = 600L, chunkRows = cfg.chunkRows)
        .cache()
      val nBlocks = 6L
      val params = sampleParams(nIter = 2, nRounds = 5, seed = 99L)
      val cv = crossValidate(bundle, k = 3, nBlocks = nBlocks, params = params,
        metric = "auc", seed = 5L)
      bundle.unpersist()
      summarizeCv(cv, "auc")
        .select(round(col("eta"), 6).as("eta"), col("max_depth"),
          round(col("score"), 6).as("score"),
          round(col("train_score"), 6).as("train_score"))
        .filter(col("score") > 0 && col("score") < 1)
    },
    oracle = Some(
      """SELECT * FROM (VALUES
        |  (0.006044, 5, 0.6751, 0.813563),
        |  (0.014702, 7, 0.618317, 0.878225))
        |  t(eta, max_depth, score, train_score)""".stripMargin),
    benchEligible = false)

  def all: Seq[QueryDef] = Seq(m1, m6)
}
