package graft.ml

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Boruta-SHAP feature selection — M12 (driver), R7 (shadow features),
  * O6 (ranking assembly), plus the binomial test kernel. Reference
  * `daxos/boruta.py:14-76,127-157,181-202`.
  *
  * The loop is driver-orchestrated (like the reference) but every
  * heavy step is distributed: shadow construction is a per-partition
  * kernel, each iteration's fit is an MLlib GBT, importances are the
  * TreeSHAP mean-|SHAP| aggregate. Driver state is p-sized vectors only.
  */
object Boruta {

  // ------------------------------------------------------------- R7 shadows

  /** R7 — append shadow features: a copy of the feature array with each
    * column independently permuted, breaking feature-label association
    * (boruta.py:181-195). Permutation is PARTITION-LOCAL with an rng
    * seeded by (seed, partitionId, column): at 100 TB a global
    * per-column permutation would be p full-data shuffles, while a
    * partition-local one is a single narrow pass and is statistically
    * equivalent for association-breaking because the store is globally
    * pre-shuffled (R1). Shadows are min-padded to ≥5 columns by cycling
    * (boruta.py:193-195).
    *
    * MEMORY: this kernel materializes each partition (`it.toArray`)
    * plus an n×nShadow shadow matrix — roughly 3× the partition's
    * feature footprint resident at once. That is deliberate and safe
    * here because Boruta always runs on the bounded CV subsample
    * (boruta.py fits on ≤ cv_subsample rows, see [[borutaShap]]), never
    * the full store; if a full-corpus variant is ever needed, permute
    * in two passes (index pass + gather pass) instead of buffering.
    */
  def withShadows(df: DataFrame, p: Int, seed: Long,
      featuresCol: String = "features", outCol: String = "features_sh"): DataFrame = {
    val spark = df.sparkSession
    val nShadow = math.max(p, 5)
    val fIdx = df.schema.fieldIndex(featuresCol)
    val outSchema = df.schema.add(outCol,
      ArrayType(FloatType, containsNull = false))
    val out = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toArray
      val n = rows.length
      val shadow = Array.ofDim[Float](n, nShadow)
      var j = 0
      while (j < nShadow) {
        val srcCol = j % p
        val perm = new Array[Int](n)
        var i = 0
        while (i < n) { perm(i) = i; i += 1 }
        val rng = new java.util.SplittableRandom(
          seed * 0x9E3779B97F4A7C15L + pid * 0x632BE59BD9B4E019L + j)
        // Fisher-Yates within the partition
        i = n - 1
        while (i > 0) {
          val k = rng.nextInt(i + 1)
          val t = perm(i); perm(i) = perm(k); perm(k) = t
          i -= 1
        }
        i = 0
        while (i < n) {
          shadow(i)(j) = rows(perm(i)).getSeq[Float](fIdx)(srcCol)
          i += 1
        }
        j += 1
      }
      rows.iterator.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (r.getSeq[Float](fIdx) ++ shadow(i)).toSeq)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  // ------------------------------------------------------ binomial kernel

  /** log(n choose k) via log-gamma-free running sum (n ≤ iterations,
    * tiny). */
  private def logChoose(n: Int, k: Int): Double = {
    var s = 0.0
    var i = 1
    while (i <= k) { s += math.log(n - k + i) - math.log(i); i += 1 }
    s
  }

  /** P[X >= k] for X ~ Binomial(n, 1/2) (scipy `binom.sf(k-1, n, .5)`
    * with our k = that k-1+1). */
  def binomSf(kMin: Int, n: Int): Double = {
    var s = 0.0
    var k = math.max(kMin, 0)
    while (k <= n) { s += math.exp(logChoose(n, k) - n * math.log(2.0)); k += 1 }
    math.min(1.0, s)
  }

  /** P[X <= k]. */
  def binomCdf(kMax: Int, n: Int): Double = {
    var s = 0.0
    var k = 0
    while (k <= math.min(kMax, n)) {
      s += math.exp(logChoose(n, k) - n * math.log(2.0)); k += 1
    }
    math.min(1.0, s)
  }

  /** Driver-side BH adjustment for the p-sized test vectors (the O4
    * kernel on arrays; the distributed variant lives in stats.FDR). */
  def bhAdjustArray(ps: Array[Double]): Array[Double] = {
    val n = ps.length
    val idx = ps.zipWithIndex.sortBy(_._1)
    val adj = new Array[Double](n)
    var cummin = Double.PositiveInfinity
    var i = n - 1
    while (i >= 0) {
      val (p, orig) = idx(i)
      cummin = math.min(cummin, p * n / (i + 1))
      adj(orig) = math.min(1.0, cummin)
      i -= 1
    }
    adj
  }

  // ------------------------------------------------------------ M12 driver

  sealed trait Decision
  case object Confirmed extends Decision
  case object Rejected extends Decision
  case object Tentative extends Decision

  final case class BorutaResult(
      decisions: Array[Decision],
      hits: Array[Int],
      impHistory: Array[Array[Double]], // iter × p
      shadowMaxHistory: Array[Double],
      ranking: Array[Int])

  /** M12 — the Boruta-SHAP loop (boruta.py:14-76):
    * per iteration: fresh shadows → GBT fit → mean-|SHAP| importances →
    * hit iff real importance > `perc`-percentile of shadow importances;
    * then two-sided binomial tests with BH-FDR + Bonferroni two-step
    * (boruta.py:127-157), tentative resolution by medians (45-46), and
    * O6 ranking assembly (55-71).
    *
    * The iterations run one after another on purpose. They are as
    * independent as CV folds, but each one caches its own shadow-widened
    * copy of the bundle (p + max(p, 5) features), so running them at
    * once ([[Concurrent.all]], as the CV drivers do) would multiply the
    * cached data by `nIter`.
    */
  def run(bundle: DataFrame, p: Int, nIter: Int, hp: HyperParams,
      seed: Long, alpha: Double = 0.05, perc: Double = 100.0,
      labelCol: String = "label"): BorutaResult = {
    val hits = new Array[Int](p)
    val impHistory = Array.ofDim[Double](nIter, p)
    val shadowMax = new Array[Double](nIter)
    val nShadow = math.max(p, 5)
    for (it <- 0 until nIter) {
      val withSh = withShadows(bundle, p, seed + it * 7919)
        .withColumn("fv", org.apache.spark.ml.functions.array_to_vector(col("features_sh")))
        .cache()
      withSh.count()
      val model = Train.fitClassifier(withSh, hp, seed + it, labelCol)
      val flat = Explain.flattenModel(model.trees)
      val shap = Explain.shapContributions(
        withSh.select("features_sh", labelCol), flat, model.treeWeights,
        p + nShadow, "features_sh")
      val imps = Explain.meanAbsShap(shap, p + nShadow)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      withSh.unpersist()
      val real = Array.tabulate(p)(j => imps.getOrElse(j, 0.0))
      val sh = Array.tabulate(nShadow)(j => imps.getOrElse(p + j, 0.0))
      // A4: perc-percentile of shadow importances (default 100 = max)
      val sorted = sh.sorted
      val thr =
        if (perc >= 100.0) sorted.last
        else sorted(math.min(sorted.length - 1,
          math.floor(perc / 100.0 * (sorted.length - 1)).toInt))
      shadowMax(it) = thr
      for (j <- 0 until p) {
        impHistory(it)(j) = real(j)
        if (real(j) > thr) hits(j) += 1
      }
    }
    // two-sided binomial tests + FDR and Bonferroni two-step
    val toAccept = Array.tabulate(p)(j => binomSf(hits(j), nIter))
    val toReject = Array.tabulate(p)(j => binomCdf(hits(j), nIter))
    val accBh = bhAdjustArray(toAccept)
    val rejBh = bhAdjustArray(toReject)
    val decisions: Array[Decision] = Array.tabulate(p) { j =>
      val accept = accBh(j) < alpha && toAccept(j) * p < alpha
      val reject = rejBh(j) < alpha && toReject(j) * p < alpha
      if (accept) Confirmed else if (reject) Rejected else Tentative
    }
    // tentative resolution by medians (boruta.py:45-46)
    val shadowMedian = median(shadowMax)
    for (j <- 0 until p if decisions(j) == Tentative) {
      val m = median(Array.tabulate(nIter)(impHistory(_)(j)))
      if (m > shadowMedian) decisions(j) = Confirmed
    }
    // O6 ranking: confirmed→1, tentative→2, rejected by median per-iter
    // rank + offset (boruta.py:55-71)
    val ranking = new Array[Int](p)
    val rejectedIdx = (0 until p).filter(decisions(_) == Rejected)
    val medRank: Map[Int, Double] = if (rejectedIdx.nonEmpty) {
      val perIterRanks = Array.ofDim[Double](nIter, rejectedIdx.size)
      for (it <- 0 until nIter) {
        val vals = rejectedIdx.map(j => impHistory(it)(j))
        // rank descending: highest importance = rank 1
        val order = vals.zipWithIndex.sortBy(-_._1)
        order.zipWithIndex.foreach { case ((_, vi), r) =>
          perIterRanks(it)(vi) = r + 1.0
        }
      }
      rejectedIdx.zipWithIndex.map { case (j, vi) =>
        j -> median(Array.tabulate(nIter)(perIterRanks(_)(vi)))
      }.toMap
    } else Map.empty
    val rejSorted = rejectedIdx.sortBy(medRank)
    for (j <- 0 until p) {
      decisions(j) match {
        case Confirmed => ranking(j) = 1
        case Tentative => ranking(j) = 2
        case Rejected => ranking(j) = 3 + rejSorted.indexOf(j)
      }
    }
    BorutaResult(decisions, hits, impHistory, shadowMax, ranking)
  }

  private def median(a: Array[Double]): Double = {
    val s = a.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  // ------------------------------------------------------ A12 univariable

  /** A12 — per-SNP univariable logistic regression via distributed IRLS
    * (setup_data.py:122-166 re-estimation check): melt once, broadcast
    * the current (b0, b1) per column, one grouped aggregate per Newton
    * step. Returns (pos, b0, b1, or = exp(b1)).
    */
  /** The (pos, y, x) melt univariable logistic runs on — exposed so a12
    * can persist the EXACT frame its DuckDB oracle replays the IRLS
    * over (one definition, no engine-vs-oracle input drift). */
  def meltFeatures(df: DataFrame, labelCol: String = "label",
      featuresCol: String = "features"): DataFrame =
    df.select(col(labelCol).cast("double").as("y"),
      posexplode(col(featuresCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))

  def univariableLogistic(df: DataFrame, p: Int, labelCol: String = "label",
      featuresCol: String = "features", iters: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val melted = meltFeatures(df, labelCol, featuresCol).cache()
    melted.count()
    var betas = Array.fill(p)((0.0, 0.0))
    for (_ <- 0 until iters) {
      val bDf = betas.zipWithIndex.map { case ((b0, b1), j) => (j, b0, b1) }
        .toSeq.toDF("pos", "b0", "b1")
      val stats = melted.join(broadcast(bDf), "pos")
        .withColumn("eta", col("b0") + col("b1") * col("x"))
        .withColumn("mu", lit(1.0) / (lit(1.0) + exp(-col("eta"))))
        .withColumn("w", col("mu") * (lit(1.0) - col("mu")))
        .groupBy("pos").agg(
          sum(col("y") - col("mu")).as("g0"),
          sum((col("y") - col("mu")) * col("x")).as("g1"),
          sum(col("w")).as("w00"),
          sum(col("w") * col("x")).as("w01"),
          sum(col("w") * col("x") * col("x")).as("w11"))
        .collect()
      stats.foreach { r =>
        val j = r.getInt(0)
        val (g0, g1) = (r.getDouble(1), r.getDouble(2))
        val (w00, w01, w11) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        val det = w00 * w11 - w01 * w01
        if (math.abs(det) > 1e-12) {
          val d0 = (w11 * g0 - w01 * g1) / det
          val d1 = (w00 * g1 - w01 * g0) / det
          val (b0, b1) = betas(j)
          betas(j) = (b0 + d0, b1 + d1)
        }
      }
    }
    melted.unpersist()
    betas.zipWithIndex.map { case ((b0, b1), j) => (j, b0, b1, math.exp(b1)) }
      .toSeq.toDF("pos", "b0", "b1", "or_hat")
  }

  // ---------------------------------------------------------------- queries

  /** Absolute path so the oracle SQL (run by the driver's DuckDB in its
    * own process, whatever its cwd) reads the exact files this JVM's
    * query wrote. */
  private def a12InputDir: String =
    new java.io.File(graft.util.Fixtures.dir + "/a12_input").getAbsolutePath

  /** The DuckDB replay of [[univariableLogistic]]: the identical
    * per-pos IRLS recurrence unrolled one (stats, betas) CTE pair per
    * Newton step over the persisted melt — the c17 oracle pattern
    * (ridge-IRLS CTEs, Curation.scala) extended to the GROUPED fit:
    * every CTE aggregates per pos, so all 10 columns' fits replay in
    * one query. Same closed-form 2×2 solve, same |det| > 1e-12 guard.
    * Coefficients round to 4dp (the c17 lesson: distributed sum order
    * differs between engines at ~1e-10 — 6dp put the rounding boundary
    * too close).
    */
  private def a12OracleSql(iters: Int): String = {
    val base =
      s"""WITH f AS MATERIALIZED (SELECT pos, y, x
         |           FROM read_parquet('$a12InputDir/*.parquet')),
         |t0 AS MATERIALIZED (SELECT DISTINCT pos, CAST(0 AS DOUBLE) AS b0,
         |              CAST(0 AS DOUBLE) AS b1 FROM f)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""s$k AS MATERIALIZED (SELECT pos, sum(y - mu) AS g0, sum((y - mu) * x) AS g1,
         |          sum(mu * (1 - mu)) AS w00, sum(mu * (1 - mu) * x) AS w01,
         |          sum(mu * (1 - mu) * x * x) AS w11
         |        FROM (SELECT f.pos, y, x,
         |                1 / (1 + exp(-(b.b0 + b.b1 * x))) AS mu
         |              FROM f JOIN t$p b USING (pos))
         |        GROUP BY pos),
         |t$k AS MATERIALIZED (SELECT b.pos,
         |  CASE WHEN abs(w00 * w11 - w01 * w01) > 1e-12
         |       THEN b.b0 + (w11 * g0 - w01 * g1) / (w00 * w11 - w01 * w01)
         |       ELSE b.b0 END AS b0,
         |  CASE WHEN abs(w00 * w11 - w01 * w01) > 1e-12
         |       THEN b.b1 + (w00 * g1 - w01 * g0) / (w00 * w11 - w01 * w01)
         |       ELSE b.b1 END AS b1
         |  FROM t$p b JOIN s$k USING (pos))""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""\nSELECT pos, round(b0, 4) AS b0, round(b1, 4) AS b1,
         |       round(exp(b1), 4) AS or_hat
         |FROM t$iters""".stripMargin
  }

  /** A12 — now a FULL DuckDB oracle (was rows-only through round 9):
    * the query persists its melted (pos, y, x) input beside the
    * fixtures, fits by distributed IRLS, and DuckDB replays every
    * Newton step from the same files ([[a12OracleSql]]) — a wrong
    * gradient, wrong solve, or non-convergence hash-mismatches.
    * The reference's own golden check (setup_data.py:155-166) remains
    * as the emission gate: planted ORs recovered within 0.35 on the
    * log scale (≈7 SE at n=6000, seed 606's common MAFs), noise SNPs
    * near OR 1 — a recovery failure empties the output and fails the
    * row-count compare loudly.
    */
  val a12 = QueryDef(
    "a12_univariable_logistic_or",
    { (s, d) =>
      val cfg = Sim.Config(n = 6000L, p = 10, seed = 606L, chunkRows = 100L)
      val bundle = Sim.bundle(s, cfg)
      meltFeatures(bundle).coalesce(1).write.mode("overwrite")
        .parquet(a12InputDir)
      val ors = Sim.oddsRatios(cfg.p)
      val spark = s; import spark.implicits._
      val planted = ors.zipWithIndex.map { case (o, j) => (j, o) }
        .toSeq.toDF("pos", "or_true")
      import org.apache.spark.sql.expressions.Window
      univariableLogistic(bundle, cfg.p).join(planted, "pos")
        .withColumn("ok",
          (abs(log(col("or_hat")) - log(col("or_true"))) < 0.35).cast("int"))
        // p rows only when EVERY SNP recovered; else 0 rows → driver flags
        .withColumn("n_ok", sum(col("ok")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("n_ok") === cfg.p)
        .select(col("pos"), round(col("b0"), 4).as("b0"),
          round(col("b1"), 4).as("b1"), round(col("or_hat"), 4).as("or_hat"))
    },
    oracle = Some(a12OracleSql(12)),
    benchEligible = false)

  /** M12 rows-only entry: Boruta on the fixture must confirm both
    * planted SNPs and confirm nothing else.
    */
  /** GOLDEN-PINNED oracle (round 12, same pattern as m6/m1): every
    * stage — fixture, shadow permutations, GBT fits, SHAP ranking — is
    * seed-deterministic (byte-identical at local[8] vs local[32] and
    * across determinism double-runs), so the decision summary AND the
    * full per-feature hit-count vector are pinned as a VALUES row. The
    * hit vector makes the pin sharp: any drift in the shadow-threshold
    * comparison changes some feature's hit count even when the final
    * confirm/reject decisions survive. */
  val m12 = QueryDef(
    "m12_boruta_shap",
    { (s, d) =>
    // seed 606: both planted SNPs have common MAFs (see a12 note) so
    // their SHAP importances clear the max-shadow threshold every iter.
    val cfg = Sim.Config(n = 1200L, p = 10, seed = 606L, chunkRows = 100L)
    val bundle = Sim.bundle(s, cfg).cache()
    val hp = HyperParams(0.1, 0.9, 0.8, 3, 30)
    val res = run(bundle, cfg.p, nIter = 8, hp = hp, seed = 71L)
    bundle.unpersist()
    val spark = s; import spark.implicits._
    val plantedConfirmed = Seq(cfg.p - 2, cfg.p - 1)
      .count(j => res.decisions(j) == Confirmed)
    val othersConfirmed = (0 until cfg.p - 2)
      .count(j => res.decisions(j) == Confirmed)
    Seq((plantedConfirmed, othersConfirmed,
      res.ranking(cfg.p - 1), res.hits.toSeq.mkString(",")))
      .toDF("planted_confirmed", "others_confirmed", "rank_or5", "hits")
      .filter(col("planted_confirmed") === 2 && col("others_confirmed") === 0)
  },
    oracle = Some(
      """SELECT * FROM (VALUES (2, 0, 1, '0,0,0,0,2,2,0,0,8,8'))
        |  t(planted_confirmed, others_confirmed, rank_or5, hits)""".stripMargin),
    benchEligible = false)

  def all: Seq[QueryDef] = Seq(a12, m12)
}
