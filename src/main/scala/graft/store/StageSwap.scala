package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted table of a store, as the rewrite kernel sees it: the
  * live directory, the partition columns a rewrite swaps at (none = the
  * whole table is one leaf; one; or two levels, `p1=v1/p2=v2`), and the
  * staging root every rewrite of it writes through. */
final case class Table(live: String, parts: Seq[String], staging: String) {
  require(parts.length <= 2, s"swap depth ${parts.length} > 2 at $live")
}

object Table {
  /** `live`, staged through the conventional `<live>_staging`. */
  def apply(live: String, parts: String*): Table =
    Table(live, parts, s"${live}_staging")
}

/** STAGE-AND-SWAP — the one crash-safe rewrite under every persisted
  * store ([[graft.llm.TextIndex]], [[graft.llm.DedupIndex]],
  * [[graft.llm.VectorIndex]], [[graft.llm.GraphAnn]]): tombstone folds,
  * file merges, hot-gram recuts and delta folds all replace a set of
  * LEAVES (a whole table, or its `p=v` / `p1=v1/p2=v2` partition
  * directories) the same way.
  *
  * Crash-recovery contract:
  *   1. stage: the replacement rows of every affected leaf are written
  *      durably under the table's staging root before any live
  *      directory is touched. A leaf that ends up empty writes no
  *      staged directory;
  *   2. swap: for each affected leaf, the live directory is deleted,
  *      then the staged one (when there is one) is renamed in;
  *   3. the staging root is dropped;
  *   4. [[recover]], run by the next maintenance op before anything
  *      else: a staged leaf whose live directory is missing is the only
  *      copy of its rows (the crash fell between step 2's delete and
  *      rename) and is renamed in; everything else under staging is
  *      stale — its live twin survived — and is dropped.
  * So every leaf reads as either its old or its new rows once recovery
  * has run. Callers keep the rest: tombstones drop only after the swap
  * (merge-on-read stays correct through any crash), and a rewrite that
  * must land together with another write (a delta fold's base rewrite
  * and delta drop) sits in an [[graft.util.IngestMarker]] window,
  * because recovery restores leaves, not cross-table consistency.
  *
  * Leaves are named by their directory relative to the live root
  * (`""` for a whole table). Partition values must be path-safe —
  * integral or plain strings, which Spark writes verbatim into
  * `p=value/` names; a null value maps to Spark's default partition
  * name. */
object StageSwap {

  /** Hive/Spark directory name of a null partition value. */
  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The relative leaf directory of each row of `t`'s partitioned
    * layout (`p1=v1[/p2=v2]`). */
  private def leafOf(t: Table): Column =
    concat_ws("/", t.parts.map(p => concat(lit(s"$p="),
      coalesce(col(p).cast("string"), lit(NullPartition)))): _*)

  /** Partition predicate selecting the rows of `leaves` — references
    * partition columns only, so a scan prunes to those directories. */
  def within(t: Table, leaves: Seq[String]): Column =
    leafOf(t).isin(leaves: _*)

  /** The distinct leaves `rows` fall into (bounded: ≤ one per leaf). */
  def leavesOf(t: Table, rows: DataFrame): Seq[String] =
    rows.select(leafOf(t)).distinct().collect().map(_.getString(0)).toSeq

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def at(root: String, rel: String): Path =
    if (rel.isEmpty) new Path(root) else new Path(root, rel)

  /** Relative leaf directories present under `root`, walked level by
    * level (one listing per directory above the leaves). */
  private def leafDirs(fs: FileSystem, root: String,
      parts: Seq[String]): Seq[String] =
    parts.foldLeft(
        if (fs.exists(new Path(root))) Seq("") else Seq.empty[String]) {
      (rels, p) => rels.flatMap { rel =>
        fs.listStatus(at(root, rel)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$p="))
          .map(s => if (rel.isEmpty) s.getPath.getName
            else s"$rel/${s.getPath.getName}")
      }
    }

  private def partFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))

  /** Rename a staged leaf into place, creating its parent first (a
    * two-level leaf's `p1=v1` directory may not exist). A failed rename
    * throws: the staged copy may be the only one, so the staging root
    * must survive for [[recover]]. */
  private def moveIn(fs: FileSystem, t: Table, rel: String): Unit = {
    val dst = at(t.live, rel)
    fs.mkdirs(dst.getParent): Unit
    if (!fs.rename(at(t.staging, rel), dst))
      throw new java.io.IOException(
        s"rename ${at(t.staging, rel)} -> $dst failed")
  }

  /** Steps 2–3 for rows already staged under `t.staging`: swap every
    * leaf in `leaves` (default: the whole table). The staging root is
    * listed once, not probed per leaf. */
  def swap(spark: SparkSession, t: Table,
      leaves: Seq[String] = Seq("")): Unit = {
    require(leaves.forall(_.isEmpty == t.parts.isEmpty),
      s"leaf names ${leaves.mkString(",")} do not match the depth of " +
        t.live)
    val fs = fsOf(spark, t.live)
    val staged = leafDirs(fs, t.staging, t.parts).toSet
    leaves.foreach { rel =>
      fs.delete(at(t.live, rel), true)
      if (staged(rel)) moveIn(fs, t, rel)
    }
    fs.delete(new Path(t.staging), true): Unit
  }

  /** The whole contract for a partitioned table: stage `rows` (which
    * must hold exactly the surviving rows of `leaves`), partitioned like
    * the live table, then swap `leaves`. A no-op when `leaves` is
    * empty. */
  def rewrite(spark: SparkSession, t: Table, rows: DataFrame,
      leaves: Seq[String], maxRecordsPerFile: Long = 0L): Unit = {
    require(t.parts.nonEmpty, s"rewrite needs a partitioned table: ${t.live}")
    if (leaves.isEmpty) return
    val w = rows.repartition(t.parts.map(col): _*).write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .partitionBy(t.parts: _*).parquet(t.staging)
    swap(spark, t, leaves)
  }

  /** The whole contract for an unpartitioned-swap table: `stage` writes
    * the complete replacement under the path it is handed, then the
    * table swaps as one leaf. */
  def replace(spark: SparkSession, t: Table)(stage: String => Unit): Unit = {
    require(t.parts.isEmpty, s"replace swaps whole tables: ${t.live}")
    stage(t.staging)
    swap(spark, t)
  }

  /** Step 4 for each table: finish a crashed swap, drop stale staging. */
  def recover(spark: SparkSession, tables: Table*): Unit =
    tables.foreach { t =>
      val fs = fsOf(spark, t.live)
      leafDirs(fs, t.staging, t.parts).foreach { rel =>
        if (!fs.exists(at(t.live, rel))) moveIn(fs, t, rel)
      }
      fs.delete(new Path(t.staging), true): Unit
    }

  /** FILE-MERGE: rewrite, verbatim, only the leaves holding more than
    * `maxFiles` data files. A partition leaf merges back to one task's
    * output (`maxRecordsPerFile` re-splits a genuinely huge one); a
    * whole table re-splits into ~`targetBytes` files. */
  def mergeFiles(spark: SparkSession, t: Table, maxFiles: Int,
      maxRecordsPerFile: Long = 8000000L,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = fsOf(spark, t.live)
    val over = leafDirs(fs, t.live, t.parts)
      .filter(rel => partFiles(fs, at(t.live, rel)).length > maxFiles)
    if (over.isEmpty) return
    val rows = spark.read.parquet(t.live)
    if (t.parts.nonEmpty)
      rewrite(spark, t, rows.filter(within(t, over)), over, maxRecordsPerFile)
    else {
      val bytes = partFiles(fs, new Path(t.live)).map(_.getLen).sum
      val nOut = math.max(1L, bytes / targetBytes + 1).toInt
      replace(spark, t) { st =>
        rows.repartition(nOut).write.mode("overwrite").parquet(st)
      }
    }
  }
}
