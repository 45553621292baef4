package graft.cli

import graft.io.{Bundle, Plink, Sinks}
import graft.ml._
import graft.ops.Splits
import graft.util.{Config, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's four entry points, mirroring the reference's CLI surface
  * (SURVEY §3): Ingest (the preprocessing Snakefile DAG collapsed into
  * one job chain), Cv (`scripts/cv.py`), Refit (`scripts/refit.py`),
  * Predict (`scripts/predict.py`). A daxos user maps each script
  * invocation 1:1 onto one of these mains.
  *
  * Args are `--key value` pairs; see each main's `usage`.
  */
object Cli {

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --key value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map {
      case Array(k, v) =>
        require(k.startsWith("--"),
          s"expected a --key, got '$k' (full args: ${args.mkString(" ")})")
        require(!v.startsWith("--"),
          s"flag '$k' is missing its value (followed by '$v')")
        k.drop(2) -> v
    }.toMap
  }

  /** The CLIs' session, on 4 cores unless `SPARK_GRAFT_CPUS` says
    * otherwise: the CV folds and fits depend on the partition count. */
  def session(name: String): SparkSession = GraftSession(name, 4)

  /** The explanation block Refit and Predict share: tree importances
    * (M5) to `out/importances`, and with `runShap` the per-row SHAP
    * parquet (M3) to `out/shap` plus each predictor's mean |SHAP| (A2)
    * as an importances column. `rows` holds the model's predictors. */
  def explain(rows: DataFrame, b: Booster, runShap: Boolean,
      out: String): Unit = {
    val spark = rows.sparkSession; import spark.implicits._
    val (flat, names) = (b.trees.toArray, b.featureNames)
    var imp = Explain.importances(flat, names, spark)
    if (runShap) {
      val shap = Explain.shapContributions(
        rows, flat, b.weights.toArray, names.length)
      shap.select(col("iid"), col("shap"), col("margin"))
        .write.mode("overwrite").parquet(s"$out/shap")
      imp = imp.join(
        Explain.meanAbsShap(shap, names.length)
          .join(names.zipWithIndex.map { case (n, i) => (i, n) }
            .toDF("pos", "predictors"), "pos")
          .select(col("predictors"), col("shap_mean_abs")),
        Seq("predictors"), "left")
    }
    Sinks.writeCsv(imp.orderBy(desc("total_gain")), s"$out/importances",
      coalesce1 = true)
  }

  /** CLI mains own their session's lifecycle EXCEPT when embedded in a
    * host that shares one (tests set `graft.cli.keepSession`). */
  def stop(spark: SparkSession): Unit =
    if (!sys.props.get("graft.cli.keepSession").contains("true")) spark.stop()
}

/** Entry point #0 — ingest (preprocessing DAG, Snakefile:73-430): PLINK
  * `.raw` → recode → optional LD clumping (Snakefile:106-196, plink
  * `--clump` + `--extract`, behind `--clump-sumstats`) → one-time
  * materialized shuffle → optional covariate join + deconfounding
  * (features_adj / label_adj) → bundle store.
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val raw = a("raw")
    val out = Config.normalizePath(a("out"))
    val chunkRows = a.getOrElse("chunk-rows", "100").toLong
    val seed = a.getOrElse("seed", "42").toLong
    val spark = Cli.session("graft-ingest")
    var scanned = Plink.readRaw(spark, raw)
    var cols = Plink.colsTable(spark, raw)
    // QC step 2 (after the reference's MAF filter): r²-prune to clump
    // index SNPs before any shuffle or bundling touches the full width
    a.get("clump-sumstats").foreach { ss =>
      val params = LdClump.ClumpParams(
        kb = a.getOrElse("clump-kb", "1000").toInt,
        p1 = a.getOrElse("clump-p1", "1").toDouble,
        p2 = a.getOrElse("clump-p2", "1").toDouble,
        r2 = a.getOrElse("clump-r2", "0.75").toDouble)
      val snps = LdClump.fromSumstats(spark, ss, cols,
        a.getOrElse("clump-snp-field", "snp"),
        a.getOrElse("clump-field", "p"))
      val keep = LdClump.clumpIndexIdx(scanned, "features", snps, params)
      require(keep.nonEmpty, "LD clumping kept zero SNPs — check sumstats")
      val names = Plink.snpNames(spark, raw)
      scanned = Pipeline.sliceFeatures(scanned, keep)
      val spark2 = spark; import spark2.implicits._
      cols = keep.map(names).zipWithIndex.map { case (n, i) => (i, n) }
        .toDF("pos", "snp")
      println(s"clumped ${names.length} SNPs -> ${keep.length} index SNPs " +
        s"(kb=${params.kb}, r2=${params.r2})")
    }
    val p = cols.count().toInt
    // R1: the ONLY global shuffle of the pipeline, materialized once
    var bundle = Splits.materializedShuffle(scanned, seed, chunkRows)
    a.get("covariates").foreach { covPath =>
      val cov = Sinks.readCovariates(spark, covPath)
      val covCols = cov.columns.filterNot(Seq("fid", "iid").contains).toSeq
      // J1: covariates become columns of the same row bundle
      bundle = bundle.join(broadcast(cov.drop("fid")), Seq("iid"), "inner")
      val betas = Deconfound.massOlsBetas(bundle, covCols, "features", p)
      val betaY = Deconfound.labelBetas(bundle, covCols, "label")
      bundle = Deconfound.residualizeFeatures(bundle, covCols, "features", betas)
      bundle = Deconfound.residualizeLabel(bundle, covCols, "label", betaY)
    }
    val n = Bundle.write(bundle, cols, out)
    println(s"ingested $n rows x $p SNPs -> $out")
    Cli.stop(spark)
  }
}

/** `scripts/adjust_hdf5_for_covariates.py` — covariate-adjust an
  * EXISTING bundle store (the reference's standalone adjustment entry,
  * distinct from Ingest's fused path): join covariates, standardize
  * them (the script's StandardScaler default, `--standardise false` to
  * skip), compute mass OLS betas for X and the label beta for y, and
  * write a new store carrying BOTH original and adjusted columns
  * (features/features_adj, label/label_adj — the reference writes x
  * and x_adjusted side by side).
  */
object Adjust {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val in = a("in")
    val covPath = a("covariates")
    val out = Config.normalizePath(a("out"))
    val standardise = Config.parseBool(a.getOrElse("standardise", "true"))
    val spark = Cli.session("graft-adjust")
    val cols = Bundle.readCols(spark, in)
    val p = cols.count().toInt
    val cov = Sinks.readCovariates(spark, covPath)
    val covCols = cov.columns.filterNot(Seq("fid", "iid").contains).toSeq
    var bundle = Bundle.read(spark, in)
      .join(broadcast(cov.drop("fid")), Seq("iid"), "inner")
    if (standardise)
      bundle = Deconfound.standardize(bundle, covCols, bundle)
    val betas = Deconfound.massOlsBetas(bundle, covCols, "features", p)
    val betaY = Deconfound.labelBetas(bundle, covCols, "label")
    bundle = Deconfound.residualizeFeatures(bundle, covCols, "features", betas)
    bundle = Deconfound.residualizeLabel(bundle, covCols, "label", betaY)
    val n = Bundle.write(bundle, cols, out)
    println(s"adjusted $n rows x $p SNPs " +
      s"for ${covCols.size} covariates -> $out")
    Cli.stop(spark)
  }
}

/** `scripts/cv.py` — hyperparameter-search CV (SURVEY §3.1). */
object Cv {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session("graft-cv")
    val bundleDir = a("bundle")
    val out = a("out")
    val metric = a.getOrElse("metric", "auc")
    val labelCol = a.getOrElse("ykey", "label") // y_adjusted ⇒ rmse regime
    val k = a.getOrElse("k", "3").toInt
    val nIter = a.getOrElse("n-iter", "10").toInt
    val nRounds = a.getOrElse("n-rounds", "50").toInt
    val seed = a.getOrElse("seed", "42").toLong
    val chunkRows = a.getOrElse("chunk-rows", "100").toLong
    val full = Bundle.read(spark, bundleDir)
    val sub = a.get("cv-subsample").map(n =>
      Splits.headSubsample(full, n.toLong, chunkRows)).getOrElse(full)
    val nBlocks = sub.agg(max("block_id")).head().getLong(0) + 1
    val params = Train.sampleParams(nIter, nRounds, seed)
    val cv = Train.crossValidate(sub, k, nBlocks, params, metric, seed, labelCol)
    Sinks.writeCsv(cv, s"$out/cv_results", coalesce1 = true)
    Sinks.writeCsv(Train.summarizeCv(cv, metric).limit(1),
      s"$out/best_params", coalesce1 = true)
    println(s"cv done: ${params.size} param sets x $k folds -> $out")
    Cli.stop(spark)
  }
}

/** `scripts/refit.py` — full-data two-stage refit + explanation
  * (SURVEY §3.2). Two independent chains read the one cached bundle and
  * run at the same time ([[Concurrent.both]]):
  *   - the two-stage refit (M9) → `used_cols/`, `shap/` and
  *     `importances/`;
  *   - the one-round CV out-of-fold fits (M7) → Platt fit (M10).
  * Neither reads the other's output; both use the best CV params. When
  * both finish, `model.json` ([[Booster]]) holds the refit model, its
  * used predictors as `feature_names` and the Platt pair as attributes.
  */
object Refit {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session("graft-refit")
    val bundleDir = a("bundle")
    val out = a("out")
    val seed = a.getOrElse("seed", "42").toLong
    val labelCol = a.getOrElse("ykey", "label")
    val runShap = a.get("run-shap").forall(Config.parseBool)
    val bundle = Bundle.read(spark, bundleDir).cache()
    val cols = Bundle.readCols(spark, bundleDir)
    val snpNames = cols.orderBy("pos").collect().map(_.getString(1)).toSeq
    // best params from the CV results CSV (single file or glob, S12)
    val hpDf = Sinks.readHpResults(spark, a("hp-results"))
    val hp0 = Train.bestParams(hpDf, a.getOrElse("metric", "auc"))
    val hp = a.get("n-booster-override")
      .map(n => hp0.copy(nRounds = n.toInt)).getOrElse(hp0)
    // also fills the bundle cache before both chains read it
    val nBlocks = bundle.agg(max("block_id")).head().getLong(0) + 1
    val spark2 = spark; import spark2.implicits._
    val (booster, (pa, pb)) = Concurrent.both(
      {
        // fit #1 on all p, prune to used predictors, fit #2 (M9)
        val (used, model) = Pipeline.shapRefit(bundle, hp, seed)
        val usedNames = used.map(snpNames)
        val booster = Booster.fromMllib(model, usedNames)
        Sinks.writeCsv(usedNames.toDF("predictors"),
          s"$out/used_cols", coalesce1 = true)
        Cli.explain(Pipeline.sliceFeatures(bundle, used), booster, runShap, out)
        booster
      },
      // Platt from one-round CV out-of-fold predictions (M7 + M10)
      Pipeline.fitPlatt(Train.oneRoundCv(bundle, k = 3, nBlocks = nBlocks,
        hp = hp, seed = seed, labelCol = labelCol)))
    Booster.write(spark, s"$out/model.json", booster.copy(attributes =
      Map("platt_a" -> pa.toString, "platt_b" -> pb.toString)))
    bundle.unpersist()
    println(s"refit done: ${booster.featureNames.size} used predictors -> $out")
    Cli.stop(spark)
  }
}

/** `scripts/boruta_shap.py` — standalone Boruta-SHAP feature selection
  * over a bundle store. Mirrors the reference entry point end to end:
  * optional used-cols subsetting (boruta_shap.py:50-60 /
  * explain.subset_predictors — applied only when the widths differ,
  * like the reference's shape check), best params from the CV-results
  * glob (read_hp_search_results), the Boruta loop, then the
  * reference's outputs — `important_rsids` and `tentative_rsids`
  * name lists with the `_ALLELE` suffix dropped (boruta_shap.py:63
  * `used_cols_simplified`), written only when non-empty
  * (boruta_shap.py:82-85), plus a full per-predictor ranks CSV
  * (decision/hits/rank — the boruta.py:55-71 ranking assembly).
  */
object BorutaShap {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session("graft-boruta")
    val out = a("out")
    val seed = a.getOrElse("seed", "42").toLong
    val maxIter = a.getOrElse("max-iter", "30").toInt
    val perc = a.getOrElse("percent", "100").toDouble
    val alpha = a.getOrElse("alpha", "0.05").toDouble
    val labelCol = a.getOrElse("ykey", "label")
    var bundle = Bundle.read(spark, a("bundle"))
    val cols = Bundle.readCols(spark, a("bundle"))
    var names = cols.orderBy("pos").collect().map(_.getString(1)).toSeq
    a.get("used-cols").foreach { path =>
      val used = spark.read.option("header", "true").csv(path)
        .collect().map(_.getString(0)).toSeq
      if (used.length != names.length) {
        val posByName = names.zipWithIndex.toMap
        val keep = used.map(n => posByName.getOrElse(n,
          throw new IllegalArgumentException(s"used col '$n' not in bundle")))
        bundle = Pipeline.sliceFeatures(bundle, keep)
        names = used
      }
    }
    val hp = Train.bestParams(
      Sinks.readHpResults(spark, a("hp-results")),
      a.getOrElse("metric", "auc"))
    bundle = bundle.cache()
    val res = Boruta.run(bundle, names.length, maxIter, hp, seed, alpha,
      perc, labelCol)
    bundle.unpersist()
    val spark2 = spark; import spark2.implicits._
    def writeList(decision: Boruta.Decision, fname: String): Int = {
      val picked = names.indices.filter(res.decisions(_) == decision)
      if (picked.nonEmpty)
        Sinks.writeCsv(picked.map(i => names(i).split("_")(0)).toDF("rsid"),
          s"$out/$fname", coalesce1 = true)
      picked.size
    }
    val nConf = writeList(Boruta.Confirmed, "important_rsids")
    val nTent = writeList(Boruta.Tentative, "tentative_rsids")
    Sinks.writeCsv(names.indices.map { i =>
        (names(i), res.decisions(i).toString, res.hits(i), res.ranking(i))
      }.toDF("predictor", "decision", "hits", "rank"),
      s"$out/ranks", coalesce1 = true)
    println(s"$nConf important predictors found")
    println(s"$nTent tentative predictors found")
    Cli.stop(spark)
  }
}

/** `scripts/subset_hdf5.py` — materialize a row/column subset of a
  * bundle store as a NEW validated store: `--ids` (one IID per line)
  * row-filters (P1), `--snps` (one SNP name per line, output column
  * order) projects the features array AND features_adj when present
  * (P2), and the cols side table is re-derived; the S7 full-width
  * validation runs on the written result.
  */
object Subset {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session("graft-subset")
    val in = a("in")
    val out = Config.normalizePath(a("out"))
    var bundle = Bundle.read(spark, in)
    var names = Bundle.readCols(spark, in)
      .orderBy("pos").collect().map(_.getString(1)).toSeq
    a.get("ids").foreach { idsPath =>
      val ids = spark.read.textFile(idsPath).toDF("iid")
      bundle = bundle.join(broadcast(ids), Seq("iid"), "left_semi")
    }
    a.get("snps").foreach { snpsPath =>
      val want = spark.read.textFile(snpsPath).collect().toSeq
      val posByName = names.zipWithIndex.toMap
      val keep = want.map(n => posByName.getOrElse(n,
        throw new IllegalArgumentException(s"SNP '$n' not in store $in")))
      bundle = Pipeline.sliceFeatures(bundle, keep)
      if (bundle.columns.contains("features_adj"))
        bundle = Pipeline.sliceFeatures(bundle, keep, "features_adj")
      names = want
    }
    val spark2 = spark; import spark2.implicits._
    Bundle.write(bundle,
      names.zipWithIndex.map { case (n, i) => (i, n) }.toDF("pos", "snp"),
      out)
    println(s"subset ${names.length} SNPs -> $out")
    Cli.stop(spark)
  }
}

/** `scripts/predict.py` — score a held-out bundle (SURVEY §3.3) with
  * the `model.json` Refit wrote: its predictors name the bundle columns
  * to align, its trees rebuild the MLlib model that scores them, and its
  * Platt attributes calibrate the scores.
  * Always writes test-set importances (predict.py:165-172 runs
  * `collect_importances` unconditionally); `--run-shap true` adds the
  * per-row SHAP parquet, `--run-shap-inter true` the interaction
  * tensor — both default false like the reference flags.
  */
object Predict {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session("graft-predict")
    val out = a("out")
    val runShap = a.get("run-shap").exists(Config.parseBool)
    val runShapInter = a.get("run-shap-inter").exists(Config.parseBool)
    val modelPath = s"${a("model-dir")}/model.json"
    require(graft.util.Fs.exists(spark, modelPath),
      s"$modelPath not found: Predict reads the model.json that Refit " +
        "writes (a model dir from an older Refit holds model/ and platt/ " +
        "instead); re-run Refit")
    val booster = Booster.read(spark, modelPath)
    val usedNames = booster.featureNames
    val test = Bundle.read(spark, a("bundle"))
    val cols = Bundle.readCols(spark, a("bundle"))
    val snpNames = cols.orderBy("pos").collect().map(_.getString(1)).toSeq
    // column-align to the model's used feature set (predict.py:124-134);
    // name → position map, NOT per-name indexOf (O(used) vs O(used·p))
    val posByName = snpNames.zipWithIndex.toMap
    val missing = usedNames.filterNot(posByName.contains)
    require(missing.isEmpty, s"test bundle lacks ${missing.size} of the " +
      s"model's ${usedNames.size} predictors, first: " +
      missing.take(5).mkString(", "))
    val aligned = Train.withVector(
      Pipeline.sliceFeatures(test, usedNames.map(posByName))).cache()
    var preds = Train.predictClassifier(booster.toMllib, aligned)
      .select(col("iid"), col("label").as("y_true"), col("y_pred"))
    preds = Pipeline.applyPlatt(preds, (booster.attributes("platt_a").toDouble,
      booster.attributes("platt_b").toDouble))
    Sinks.writeCsv(preds, s"$out/predictions", coalesce1 = true)
    val auc = Scoring.auc(preds, "y_true", "y_pred")
    // test-set explanation (reference predict.py:165-172)
    Cli.explain(aligned, booster, runShap, out)
    if (runShapInter)
      Explain.shapInteractionsAll(aligned, booster.trees.toArray,
          booster.weights.toArray, usedNames.length)
        .write.mode("overwrite").parquet(s"$out/shap_interactions")
    aligned.unpersist()
    println(f"predict done: AUC=$auc%.4f -> $out")
    Cli.stop(spark)
  }
}
