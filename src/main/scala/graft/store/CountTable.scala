package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StructField, StructType}

/** A store's exact per-key document frequency, `<root>/`:
  *
  *   - `base/<part>=B/` — (key, df), exact as of the last [[fold]],
  *     partitioned by `bucket` (an expression of the key column, e.g.
  *     `pmod(gram, nb)`), so a read of a few keys scans only their
  *     bucket directories;
  *   - `delta/` — (key, df) signed, append-only: [[addDelta]] writes one
  *     file per batch (+ for appended docs, − for deleted ones).
  *
  * Merge-on-read ([[merged]]) sums base and delta, so counts are exact
  * at any moment; [[fold]] rewrites the base from that sum and drops the
  * delta. Delta pruning computes the bucket from the key and never reads
  * a stored bucket column: older [[graft.llm.TextIndex]] delta files
  * carry one, newer files do not, and a missing column would read as
  * null and be pruned away silently.
  *
  * Used by [[graft.llm.DedupIndex]] (`gramdf/`) and
  * [[graft.llm.TextIndex]] (`termstats/`); when to fold stays with them. */
final case class CountTable(root: String, key: String, keyType: DataType,
    part: String, bucket: Column) {

  private val basePath = s"$root/base"
  private val deltaPath = s"$root/delta"

  private def deltaSchema =
    StructType(Seq(StructField(key, keyType), StructField("df", LongType)))
  private def baseSchema =
    StructType(deltaSchema.fields :+ StructField(part, IntegerType))

  private def inBuckets(df: DataFrame, at: Column,
      buckets: Option[Seq[Int]]): DataFrame =
    buckets.fold(df)(bs => df.filter(at.isin(bs.map(Int.box): _*)))

  private def sumByKey(rows: DataFrame): DataFrame =
    rows.groupBy(key).agg(sum(col("df")).as("df"))

  private def writeTo(counts: DataFrame, path: String): Unit =
    counts.select(col(key), col("df").cast("long").as("df"))
      .withColumn(part, bucket)
      .repartition(col(part))
      .write.mode("overwrite").partitionBy(part).parquet(path)

  /** Write `counts` (key, df) as the complete base. */
  def writeBase(counts: DataFrame): Unit = writeTo(counts, basePath)

  /** The base as (key, df), pruned to `buckets` at the directory level. */
  def base(spark: SparkSession, buckets: Option[Seq[Int]] = None): DataFrame =
    inBuckets(spark.read.schema(baseSchema).parquet(basePath), col(part),
      buckets).select(col(key), col("df"))

  def hasDelta(spark: SparkSession): Boolean =
    graft.util.Fs.exists(spark, deltaPath)

  def deltaFiles(spark: SparkSession): Int =
    graft.util.Fs.dataFileCount(spark, deltaPath)

  private def delta(spark: SparkSession): DataFrame =
    spark.read.schema(deltaSchema).parquet(deltaPath)

  /** Append `counts` (key, df ≥ 0) times `sign` as one delta file. */
  def addDelta(counts: DataFrame, sign: Int): Unit =
    counts.select(col(key), (col("df") * sign).cast("long").as("df"))
      .repartition(1).write.mode("append").parquet(deltaPath)

  /** Exact (key, df): base plus the unfolded deltas, optionally pruned
    * to `buckets`. A key whose count fell to zero keeps a df = 0 row. */
  def merged(spark: SparkSession,
      buckets: Option[Seq[Int]] = None): DataFrame =
    if (!hasDelta(spark)) base(spark, buckets)
    else sumByKey(base(spark, buckets)
      .unionByName(inBuckets(delta(spark), bucket, buckets)))

  /** Exact merged (key, df) for exactly the keys present in the delta —
    * the only keys whose count changed since the last fold. Cost tracks
    * the delta: its aggregate names the candidate buckets (a bounded
    * collect, ≤ one per bucket), the base scan prunes to them, and a
    * broadcast semi-join keeps only the delta's keys (no shuffle). */
  def changed(spark: SparkSession): DataFrame =
    if (!hasDelta(spark))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), deltaSchema)
    else {
      val agg = sumByKey(delta(spark)).localCheckpoint(eager = true)
      val buckets = agg.select(bucket).distinct()
        .collect().map(_.getInt(0)).toSeq
      sumByKey(base(spark, Some(buckets))
        .join(broadcast(agg.select(key)), Seq(key), "left_semi")
        .unionByName(agg))
    }

  /** Rewrite the base as the merged counts minus zero rows and drop the
    * delta; a no-op without one. The two writes sit in one
    * [[Op.window]] (`info` names it): a crash between them would count
    * every folded delta twice, so it leaves the marker instead and the
    * store's ensure() rebuilds. The caller holds the writer lease. */
  def fold(spark: SparkSession, dir: String, info: String): Unit =
    if (hasDelta(spark))
      Op.window(spark, dir, info) {
        StageSwap.replace(spark, Table(basePath)) { staging =>
          writeTo(merged(spark).filter(col("df") =!= 0L), staging)
        }
        graft.util.Fs.rmTree(spark, deltaPath)
      }
}
