package graft.cli

import graft.SparkSpec
import graft.ml.Sim
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The two standalone reference tools as CLI mains: boruta_shap.py
  * (bundle → Boruta → important/tentative rsid lists + ranks CSV) and
  * subset_hdf5.py (bundle → row/col subset → new validated store).
  */
class CliToolsSpec extends SparkSpec {

  private val dir = graft.util.Fixtures.dir + "/clitools"

  private def mkStore(): (Sim.Config, String) = {
    val s = spark
    val cfg = Sim.Config(n = 1200L, p = 10, seed = 606L, chunkRows = 100L)
    val spark2 = s; import spark2.implicits._
    val cols = Sim.snpNames(cfg.p, cfg.seed).zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("pos", "snp")
    graft.io.Bundle.write(Sim.bundle(s, cfg), cols, s"$dir/store")
    (cfg, s"$dir/store")
  }

  test("BorutaShap CLI: planted SNPs land in important_rsids, ranks cover all") {
    val (cfg, store) = mkStore()
    Files.createDirectories(Paths.get(dir))
    // minimal CV-results CSV in the readHpResults schema; best row = the
    // m12-proven params (eta .1, subsample .9, colsample .8, depth 3, 30)
    Files.write(Paths.get(s"$dir/hp.csv"), Seq(
      "eta,subsample,colsample_bytree,max_depth,metric,score,train_score,fold,n_boost_round",
      "0.1,0.9,0.8,3,auc,0.81,0.9,0,30",
      "0.3,0.5,0.5,2,auc,0.55,0.6,0,30").mkString("\n").getBytes)
    BorutaShap.main(Array("--bundle", store, "--out", s"$dir/boruta",
      "--hp-results", s"$dir/hp.csv", "--max-iter", "8", "--seed", "71"))
    val s2 = spark
    val important = s2.read.option("header", "true")
      .csv(s"$dir/boruta/important_rsids")
      .collect().map(_.getString(0)).toSet
    // the planted pair, _ALLELE suffix dropped (boruta_shap.py:63)
    assert(important == Set("rs7412", "rs429358"))
    val ranks = s2.read.option("header", "true").csv(s"$dir/boruta/ranks")
    assert(ranks.count() == cfg.p)
    val conf = ranks.filter(col("decision") === "Confirmed")
      .select("predictor").collect().map(_.getString(0)).toSet
    assert(conf == Set("rs7412_T", "rs429358_C")) // full names in ranks
    assert(ranks.filter(col("rank") === "1").count() == 2)
  }

  test("Subset CLI: row + column subset round-trips as a validated store") {
    val (cfg, store) = mkStore()
    val s = spark
    val names = Sim.snpNames(cfg.p, cfg.seed)
    val keepSnps = Seq(names(3), names(cfg.p - 1), names(0)) // note the order
    Files.write(Paths.get(s"$dir/snps.txt"), keepSnps.mkString("\n").getBytes)
    val keepIds = (0 until 600).map(i => s"${10000 + i * 2}") // even ids
    Files.write(Paths.get(s"$dir/ids.txt"), keepIds.mkString("\n").getBytes)
    Subset.main(Array("--in", store, "--out", s"$dir/sub",
      "--ids", s"$dir/ids.txt", "--snps", s"$dir/snps.txt"))
    val s2 = spark
    val sub = graft.io.Bundle.read(s2, s"$dir/sub")
    assert(sub.count() == 600L)
    assert(sub.select(max(size(col("features")))).head().getInt(0) == 3)
    val cols = graft.io.Bundle.readCols(s2, s"$dir/sub")
      .orderBy("pos").collect().map(_.getString(1)).toSeq
    assert(cols == keepSnps) // snps-file order preserved
    // spot-check: the subset's features equal the original's at the
    // projected positions for one surviving row
    val orig = graft.io.Bundle.read(s2, store)
      .filter(col("iid") === "10004").select("features")
      .head().getSeq[Float](0)
    val got = sub.filter(col("iid") === "10004").select("features")
      .head().getSeq[Float](0)
    assert(got == Seq(orig(3), orig(cfg.p - 1), orig(0)))
  }

  test("Adjust CLI: standalone covariate adjustment matches the library") {
    val (cfg, store) = mkStore()
    val s = spark
    Files.createDirectories(Paths.get(dir))
    // deterministic covariates for every store iid
    val iids = graft.io.Bundle.read(s, store)
      .select("iid").collect().map(_.getString(0)).sorted
    val tsv = "FID\tIID\tage\tpc1" +: iids.map { iid =>
      val h = scala.util.hashing.MurmurHash3.stringHash(iid)
      s"$iid\t$iid\t${40 + (h % 7 + 7) % 7}\t${(h % 100) / 100.0}"
    }.toSeq
    Files.write(Paths.get(s"$dir/cov.tsv"), tsv.mkString("\n").getBytes)
    Adjust.main(Array("--in", store, "--covariates", s"$dir/cov.tsv",
      "--out", s"$dir/adjusted"))
    val adj = graft.io.Bundle.read(s, s"$dir/adjusted")
    assert(adj.count() == cfg.n)
    assert(Seq("features", "features_adj", "label", "label_adj")
      .forall(adj.columns.contains))
    // the adjustment is real: label_adj differs from label (intercept
    // alone shifts it), yet adjusted features keep the store width
    assert(adj.filter(col("label_adj") =!= col("label")).count() > 0)
    assert(adj.select(max(size(col("features_adj")))).head().getInt(0)
      == cfg.p)
    // replay the library path on the same joined frame — the CLI must
    // reproduce it exactly (checksum over one row's adjusted features)
    val cov = graft.io.Sinks.readCovariates(s, s"$dir/cov.tsv")
    val covCols = Seq("age", "pc1")
    var b = graft.io.Bundle.read(s, store)
      .join(broadcast(cov.drop("fid")), Seq("iid"), "inner")
    b = graft.ml.Deconfound.standardize(b, covCols, b)
    val betas = graft.ml.Deconfound.massOlsBetas(b, covCols, "features", cfg.p)
    b = graft.ml.Deconfound.residualizeFeatures(b, covCols, "features", betas)
    val want = b.filter(col("iid") === "10004")
      .select("features_adj").head().getSeq[Float](0)
    val got2 = adj.filter(col("iid") === "10004")
      .select("features_adj").head().getSeq[Float](0)
    assert(got2 == want)
  }

  test("Predict without model.json fails before any job, naming the file") {
    // a model dir as an older Refit left it: MLlib's model/ plus platt/
    Files.createDirectories(Paths.get(s"$dir/oldrefit/model/metadata"))
    Files.createDirectories(Paths.get(s"$dir/oldrefit/platt"))
    var e: Throwable = null
    val jobs = jobsRun {
      e = intercept[IllegalArgumentException] {
        Predict.main(Array("--bundle", s"$dir/no_store",
          "--model-dir", s"$dir/oldrefit", "--out", s"$dir/oldpred"))
      }
    }
    assert(jobs == 0)
    assert(e.getMessage.contains(s"$dir/oldrefit/model.json"))
    assert(e.getMessage.contains("re-run Refit"))
  }

  test("Predict names the first model predictors the test bundle lacks") {
    val (cfg, store) = mkStore()
    val names = Sim.snpNames(cfg.p, cfg.seed)
    val leaf = graft.ml.Explain.FlatTree(Array(-1), Array(0.0), Array(-1),
      Array(-1), Array(0.1), Array(1.0), Array(0.0), Array(false))
    graft.ml.Booster.write(spark, s"$dir/foreignrefit/model.json",
      graft.ml.Booster(Vector(leaf), Vector(1.0), 0.0, 2.0,
        graft.ml.Booster.Logistic, Seq(names(0), "rs_absent_A", "rs_gone_T")))
    val e = intercept[IllegalArgumentException] {
      Predict.main(Array("--bundle", store,
        "--model-dir", s"$dir/foreignrefit", "--out", s"$dir/foreignpred"))
    }
    assert(e.getMessage.contains("lacks 2 of the model's 3 predictors"))
    assert(e.getMessage.contains("rs_absent_A, rs_gone_T"))
  }
}
