package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S13 — seeded genotype simulator with planted effects (reference
  * `examples/data/setup_data.py:35-63`; schema per FIXTURES.md §2/§3).
  *
  * Semantics reproduced (not the numpy RNG): balanced cases/controls,
  * per-SNP case MAF ~ U(0.05, 0.5), control MAF back-solved from the
  * planted odds ratio (odds_ctrl = odds_case / OR), genotype ~
  * Binomial(2, maf). All ORs are 1 except the last two SNPs,
  * `rs7412_T` (OR=3) and `rs429358_C` (OR=5) (`setup_data.py:11-16,41`).
  *
  * Scale design: rows are generated DISTRIBUTED via `spark.range(n)` and
  * a per-row RNG seeded from (seed, id) only — results are independent of
  * partitioning/task retries, and nothing row-scale touches the driver.
  * The p-sized MAF arrays live in the UDF closure (broadcast with the
  * task binary).
  */
object Sim {

  final case class Config(
      n: Long = 10000L,
      p: Int = 100,
      seed: Long = 123L,
      chunkRows: Long = 100L)

  /** SNP names `rsID_ALLELE`; the planted pair sits at positions p-2, p-1.
    * Names are drawn with replacement, and a draw that repeats a name
    * already taken (a duplicate column downstream) is drawn again, so a
    * seed whose draws never repeat keeps the names of the plain draw. */
  def snpNames(p: Int, seed: Long): IndexedSeq[String] = {
    require(p >= 2, s"need p >= 2 for the two planted SNPs, got $p")
    val rng = new scala.util.Random(seed)
    val alleles = "ACGT"
    val planted = IndexedSeq("rs7412_T", "rs429358_C")
    val taken = scala.collection.mutable.HashSet(planted: _*)
    Iterator.continually(
        s"rs${100000 + rng.nextInt(900000)}_${alleles(rng.nextInt(4))}")
      .filter(taken.add).take(p - 2).toIndexedSeq ++ planted
  }

  def oddsRatios(p: Int): Array[Double] = {
    val ors = Array.fill(p)(1.0)
    ors(p - 2) = 3.0
    ors(p - 1) = 5.0
    ors
  }

  /** (case MAFs, control MAFs): case ~ U(0.05,0.5), control back-solved
    * so that the allele-level odds ratio equals the planted OR.
    */
  def mafs(p: Int, seed: Long): (Array[Double], Array[Double]) = {
    val rng = new scala.util.Random(seed + 1)
    val ors = oddsRatios(p)
    val caseMaf = Array.fill(p)(0.05 + 0.45 * rng.nextDouble())
    val ctrlMaf = caseMaf.zip(ors).map { case (pc, or) =>
      val odds = pc / (1.0 - pc) / or
      odds / (1.0 + odds)
    }
    (caseMaf, ctrlMaf)
  }

  /** The cols side table `(pos, snp)` (reference `/cols`). */
  def cols(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    snpNames(cfg.p, cfg.seed).zipWithIndex
      .map { case (s, i) => (i, s) }.toDF("pos", "snp")
  }

  /** The bundle DataFrame (FIXTURES.md §2): fid/iid/pat/mat/sex/phenotype
    * metadata, `label` 0/1, `features` array<float> of dosages, and a
    * chunk-aligned `block_id`. Labels are interleaved by id (balanced).
    * PLINK coding is kept in `phenotype` (1=control, 2=case) so the P4
    * recode path stays exercised downstream.
    */
  def bundle(spark: SparkSession, cfg: Config): DataFrame = {
    val (caseMaf, ctrlMaf) = mafs(cfg.p, cfg.seed)
    val p = cfg.p
    val seed = cfg.seed
    val geno = udf { (id: Long, label: Int) =>
      // SplittableRandom gives good avalanche on sequential seeds; the
      // stream depends only on (seed, id).
      val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      val m = if (label == 1) caseMaf else ctrlMaf
      Array.tabulate(p) { j =>
        val q = m(j)
        var g = 0
        if (rng.nextDouble() < q) g += 1
        if (rng.nextDouble() < q) g += 1
        g.toFloat
      }
    }
    val sexUdf = udf { (id: Long) =>
      new java.util.SplittableRandom(seed * 0x5DEECE66DL + id).nextInt(2) + 1f
    }
    spark.range(cfg.n)
      .withColumn("label_i", (col("id") % 2 === 0).cast("int"))
      .select(
        format_string("%d", col("id") + 10000).as("fid"),
        format_string("%d", col("id") + 10000).as("iid"),
        lit("0").as("pat"),
        lit("0").as("mat"),
        sexUdf(col("id")).as("sex"),
        (col("label_i") + 1).cast("float").as("phenotype"),
        col("label_i").cast("float").as("label"),
        geno(col("id"), col("label_i")).as("features"),
        (col("id") / cfg.chunkRows).cast("long").as("block_id"))
      // Pin the physical layout: fixture golden gates (GBT fits, shadow
      // permutations) must not depend on the session's core count, and
      // spark.range's default parallelism would otherwise leak into tree
      // fits via data placement. 8 range partitions by iid (zero-padded
      // numeric strings ⇒ lexical = numeric order), rows sorted within.
      .repartitionByRange(8, col("iid"))
      .sortWithinPartitions(col("iid"))
  }

  /** Covariate fixture (FIXTURES.md §4): FID/IID + 2 gaussians N(0,0.1) +
    * 1 binary, independent of y (`setup_data.py:69-73`).
    */
  def covariates(spark: SparkSession, cfg: Config): DataFrame = {
    val seed = cfg.seed
    val covUdf = udf { (id: Long) =>
      val rng = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + id)
      def gauss(): Float = {
        // Box-Muller from two uniforms; only the first value is used so
        // the draw count per row is fixed (determinism under re-order).
        val u1 = math.max(rng.nextDouble(), 1e-12)
        val u2 = rng.nextDouble()
        (math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) * 0.1).toFloat
      }
      Array(gauss(), gauss(), rng.nextInt(2).toFloat)
    }
    spark.range(cfg.n)
      .select(
        format_string("%d", col("id") + 10000).as("fid"),
        format_string("%d", col("id") + 10000).as("iid"),
        covUdf(col("id")).as("covs"))
      .select(col("fid"), col("iid"),
        col("covs").getItem(0).as("cov1"),
        col("covs").getItem(1).as("cov2"),
        col("covs").getItem(2).as("cov3"))
  }
}
