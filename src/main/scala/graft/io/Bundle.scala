package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Bundle store — S5 (ML read), S6 (metadata read), S7 (ML write).
  * Replaces the reference's 4-key HDF5 container (`daxos/read.py:99-181`)
  * with one Parquet dataset + a tiny `cols` Parquet table (§1.4).
  *
  * The row-bundle layout makes the reference's 3-way shape asserts
  * (read.py:103-105) impossible to violate by construction — X row i, y
  * row i and metadata row i are literally the same row. What remains to
  * validate at read time is (a) required columns exist, (b) the features
  * width equals the cols-table length — checked on ONE row, not a scan.
  *
  * Scale: `chunkRows` maps the reference's HDF5/dask chunking to a
  * target Parquet partition row count at write (read.py:165-171); at
  * read, partitioning is governed by files.maxPartitionBytes and the
  * persisted block_id column keeps splits chunk-aligned regardless.
  */
object Bundle {

  val requiredCols: Seq[String] =
    Seq("fid", "iid", "sex", "phenotype", "label", "features", "block_id")

  def bundleDir(dir: String): String = s"$dir/bundle"
  def colsDir(dir: String): String = s"$dir/cols"

  /** S7 — write bundle + cols. `validate` re-reads the written files
    * and requires every features array to have the same width — the
    * write-once full check (a ragged bundle from a partial write or
    * schema drift would otherwise surface deep inside a kernel; the
    * fast one-row check in [[read]] cannot catch it). One column-pruned
    * scan of the fresh files, paid once at ingest. Returns the number
    * of rows written, read off the written files (the validation scan
    * counts them), so callers never re-run the bundle's lineage to
    * report it.
    */
  def write(bundle: DataFrame, cols: DataFrame, dir: String,
      validate: Boolean = true): Long = {
    bundle.write.mode("overwrite").parquet(bundleDir(dir))
    cols.coalesce(1).write.mode("overwrite").parquet(colsDir(dir))
    val written = bundle.sparkSession.read.parquet(bundleDir(dir))
    if (validate) {
      // size(null) is NULL under ANSI and min/max SKIP nulls, so null
      // arrays need their own count — min/max alone would validate a
      // bundle where only some rows are null. Empty bundles and ragged
      // widths must likewise fail with a clear message, not an NPE.
      val mm = written
        .agg(count(lit(1)).as("n"),
          sum(when(col("features").isNull, 1L).otherwise(0L)).as("nulls"),
          min(size(col("features"))).as("mn"),
          max(size(col("features"))).as("mx")).head()
      require(mm.getLong(0) > 0, s"empty bundle written at $dir")
      require(mm.getLong(1) == 0,
        s"${mm.getLong(1)} null features arrays in written bundle at $dir")
      require(mm.getInt(2) == mm.getInt(3),
        s"ragged features widths in written bundle at $dir: " +
          s"min=${mm.getInt(2)} max=${mm.getInt(3)}")
      mm.getLong(0)
    } else written.count()
  }

  /** S6 — the cols side table. */
  def readCols(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(colsDir(dir))

  /** S5 — validated bundle read. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(bundleDir(dir))
    val missing = requiredCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"bundle at $dir missing columns: $missing")
    require(df.schema("features").dataType.isInstanceOf[ArrayType],
      s"bundle features must be an array column")
    val p = readCols(spark, dir).count()
    val width = df.select(size(col("features"))).head().getInt(0)
    require(width == p,
      s"features width $width != cols table length $p (bundle at $dir)")
    df
  }
}
