package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Satellite IO — S8 (covariate TSV scan + validation), S9 (CSV sinks),
  * S12 (HP-results scan incl. directory glob). S11, the model artifact,
  * is [[graft.ml.Booster]]'s codec.
  */
object Sinks {

  /** S8 — covariate TSV with the reference's `check_covars` rules
    * (`workflows/preprocessing/scripts/split_ids.py:18-29`,
    * `daxos/deconfound.py:8-16`): header's first two columns literally
    * FID and IID, at least one covariate column, FID and IID unique.
    * Covariates are floats; IDs stay strings.
    */
  def readCovariates(spark: SparkSession, path: String): DataFrame = {
    val head = spark.read.option("header", "true").option("sep", "\t")
      .csv(path)
    val names = head.columns.toSeq
    require(names.take(2) == Seq("FID", "IID"),
      s"covariate file must start with FID, IID columns, got ${names.take(2)}")
    require(names.size >= 3, "covariate file needs at least one covariate")
    val schema = StructType(
      Seq(StructField("FID", StringType), StructField("IID", StringType)) ++
        names.drop(2).map(n => StructField(n, DoubleType)))
    val df = spark.read.option("header", "true").option("sep", "\t")
      .schema(schema).csv(path)
      .withColumnRenamed("FID", "fid").withColumnRenamed("IID", "iid")
    // uniqueness in one aggregate pass
    val c = df.selectExpr(
      "count(*) AS n", "count(DISTINCT fid) AS nf", "count(DISTINCT iid) AS ni")
      .head()
    require(c.getLong(0) == c.getLong(1) && c.getLong(0) == c.getLong(2),
      s"FID/IID must be unique: n=${c.getLong(0)} fid=${c.getLong(1)} iid=${c.getLong(2)}")
    df
  }

  /** S9 — headered CSV sink (predictions, CV scores, importances,
    * used-cols; `scripts/predict.py:170`, `scripts/cv.py:131-135`).
    * Partitioned output by default — pass coalesce1 = true only for the
    * small driver-consumed tables.
    */
  def writeCsv(df: DataFrame, path: String, coalesce1: Boolean = false): Unit = {
    val out = if (coalesce1) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** S12 — HP-results scan: one CSV file OR a directory/glob of them,
    * concatenated (`daxos/crossvalidate.py:319-347`). Spark's multi-file
    * csv scan IS the concat (U2).
    */
  private val hpSchema = StructType(Seq(
    StructField("eta", DoubleType), StructField("subsample", DoubleType),
    StructField("colsample_bytree", DoubleType),
    StructField("max_depth", IntegerType), StructField("metric", StringType),
    StructField("score", DoubleType), StructField("train_score", DoubleType),
    StructField("fold", IntegerType), StructField("n_boost_round", IntegerType)))

  def readHpResults(spark: SparkSession, pathOrGlob: String): DataFrame =
    spark.read.option("header", "true").schema(hpSchema).csv(pathOrGlob)
}
