package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A store's merge-on-read delete table, `<dir>/tombstones/`: one
  * long column `key` (`doc` for [[graft.llm.TextIndex]], `nid` for the
  * other stores) holding every deleted id not yet folded away. Deletes
  * [[append]] to it, every read anti-joins it ([[live]]), maintenance
  * folds it into the data leaves ([[foldInto]], through
  * [[StageSwap]]) and then [[drop]]s it — last, so a crash anywhere
  * before leaves merge-on-read correct. */
final case class Tombstones(dir: String, key: String) {

  private val path = s"$dir/tombstones"

  def exists(spark: SparkSession): Boolean = graft.util.Fs.exists(spark, path)

  /** The tombstoned ids, as column `as`. */
  def ids(spark: SparkSession, as: String = key): DataFrame =
    spark.read.parquet(path).select(col(key).as(as))

  /** `rows` minus every row whose id in ANY of `on` (default: the key
    * column) is tombstoned — the anti-join sits above the scan, so a
    * partition filter on `rows` still prunes. */
  def live(spark: SparkSession, rows: DataFrame, on: String*): DataFrame =
    if (!exists(spark)) rows
    else {
      val dead = spark.read.parquet(path)
      (if (on.isEmpty) Seq(key) else on).foldLeft(rows) { (r, c) =>
        r.join(dead.select(col(key).as(c)), Seq(c), "left_anti")
      }
    }

  /** The double-delete check: none of `ids` (column `key`, `nDel` rows)
    * may already be tombstoned — the stores' XOR fingerprints are only
    * exact when each live row is deleted once. `noun` names the ids in
    * the error. */
  def requireFresh(spark: SparkSession, ids: DataFrame, nDel: Long,
      noun: String): Unit =
    if (exists(spark)) {
      val nAlready = ids.join(this.ids(spark), Seq(key), "left_semi").count()
      require(nAlready == 0,
        s"$nAlready of $nDel $noun are already tombstoned (double delete)")
    }

  /** Add `ids` (column `key`) as one file. */
  def append(ids: DataFrame): Unit =
    ids.repartition(1).write.mode("append").parquet(path)

  /** Rewrite only the leaves of `t` that hold a tombstoned row of
    * `raw` (the table, id column `on`), keeping the rest of each. */
  def foldInto(spark: SparkSession, t: Table, raw: DataFrame,
      on: String = key): Unit = {
    val dead = ids(spark, on)
    val hit = StageSwap.leavesOf(t, raw.join(dead, Seq(on), "left_semi"))
    StageSwap.rewrite(spark, t,
      raw.filter(StageSwap.within(t, hit)).join(dead, Seq(on), "left_anti"),
      hit)
  }

  def drop(spark: SparkSession): Unit = graft.util.Fs.rmTree(spark, path)
}
