package graft.cli

import graft.SparkSpec
import graft.ml.Sim
import graft.io.Plink
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end drive of the four CLI mains in reference order:
  * Ingest (raw + covariates → adjusted bundle) → Cv → Refit → Predict,
  * on a planted-OR fixture, asserting the artifacts a daxos user relies
  * on exist and the final predictions discriminate.
  */
class E2ESpec extends SparkSpec {

  private val dir = graft.util.Fixtures.dir + "/e2e"

  test("ingest -> cv -> refit -> predict") {
    val s = spark
    val cfg = Sim.Config(n = 400L, p = 8, seed = 606L, chunkRows = 50L)
    // render the .raw + covariates fixtures
    val bundle = Sim.bundle(s, cfg)
    val names = Sim.snpNames(cfg.p, cfg.seed)
    val header = (Plink.metaCols ++ names).mkString(" ")
    val lines = bundle
      .select(col("fid"), col("iid"), col("pat"), col("mat"),
        col("sex").cast("int"), col("phenotype").cast("int"), col("features"))
      .collect()
      .map { r =>
        val feats = r.getSeq[Float](6).map(_.toInt).mkString(" ")
        s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} ${r.getString(3)} ${r.getInt(4)} ${r.getInt(5)} $feats"
      }
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/fixture.raw"),
      (header +: lines.toSeq).mkString("\n").getBytes)
    val cov = Sim.covariates(s, cfg).collect().map { r =>
      f"${r.getString(0)}\t${r.getString(1)}\t${r.getFloat(2)}%.6f\t${r.getFloat(3)}%.6f\t${r.getFloat(4)}%.1f"
    }
    Files.write(Paths.get(s"$dir/covariates.tsv"),
      ("FID\tIID\tCOV1\tCOV2\tCOV3" +: cov.toSeq).mkString("\n").getBytes)

    Ingest.main(Array("--raw", s"$dir/fixture.raw",
      "--covariates", s"$dir/covariates.tsv",
      "--out", s"$dir/store", "--chunk-rows", "50", "--seed", "7"))
    Cv.main(Array("--bundle", s"$dir/store", "--out", s"$dir/cv",
      "--k", "2", "--n-iter", "2", "--n-rounds", "4", "--chunk-rows", "50",
      "--seed", "9"))
    Refit.main(Array("--bundle", s"$dir/store",
      "--hp-results", s"$dir/cv/cv_results/*.csv",
      "--out", s"$dir/refit", "--run-shap", "true", "--seed", "11"))
    Predict.main(Array("--bundle", s"$dir/store",
      "--model-dir", s"$dir/refit", "--out", s"$dir/pred",
      "--run-shap", "true", "--run-shap-inter", "true"))

    val s2 = spark // revive after the mains stopped their sessions
    // bundle got the adjusted columns
    val store = graft.io.Bundle.read(s2, s"$dir/store")
    assert(store.columns.contains("features_adj"))
    assert(store.columns.contains("label_adj"))
    // CV artifacts
    val cvr = graft.io.Sinks.readHpResults(s2, s"$dir/cv/cv_results/*.csv")
    assert(cvr.count() == 4) // 2 params x 2 folds
    // refit artifacts
    val used = s2.read.option("header", "true").csv(s"$dir/refit/used_cols")
    assert(used.count() > 0 && used.count() <= cfg.p)
    // the model artifact parses and names the used predictors
    assert(graft.ml.Booster.read(s2, s"$dir/refit/model.json").featureNames ==
      used.collect().map(_.getString(0)).toSeq)
    val imp = s2.read.option("header", "true").csv(s"$dir/refit/importances")
    assert(imp.columns.contains("shap_mean_abs"))
    assert(s2.read.parquet(s"$dir/refit/shap").count() == cfg.n)
    // predict-time explanation artifacts (predict.py:165-172): test-set
    // importances always; SHAP + interaction tensor behind the flags
    val pImp = s2.read.option("header", "true").csv(s"$dir/pred/importances")
    assert(pImp.count() > 0 && pImp.columns.contains("shap_mean_abs"))
    assert(s2.read.parquet(s"$dir/pred/shap").count() == cfg.n)
    val pInter = s2.read.parquet(s"$dir/pred/shap_interactions")
    assert(pInter.count() == cfg.n)
    val usedN = used.count().toInt
    assert(pInter.select(max(size(col("inter")))).head().getInt(0) ==
      (usedN + 1) * (usedN + 1))
    // predictions discriminate and Platt stays in [0, 1]
    val preds = s2.read.option("header", "true").csv(s"$dir/pred/predictions")
      .select(col("y_true").cast("double"), col("y_pred").cast("double"),
        col("y_pred_platt_scaled").cast("double"))
    assert(preds.count() == cfg.n)
    val auc = graft.ml.Scoring.auc(preds, "y_true", "y_pred")
    assert(auc > 0.6, s"train-set AUC should discriminate, got $auc")
    val mm = preds.agg(min("y_pred_platt_scaled"), max("y_pred_platt_scaled")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }
}
