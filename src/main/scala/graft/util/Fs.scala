package graft.util

import java.io.File

/** Local-filesystem helpers for fixture-building queries (the
  * partitioned-write / compaction / streaming-recovery gates inspect
  * their own output directories). `listFiles` returns null on
  * unreadable/non-existent dirs — both helpers guard it.
  */
object Fs {

  /** Storage-agnostic existence check through the Hadoop FileSystem
    * API — the index-store surfaces (VectorIndex, GraphAnn) must work
    * against whatever scheme the path carries (HDFS, S3A, local), not
    * just java.io paths: at 100 TB the store lives on object storage.
    */
  def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Recursive delete through the Hadoop FileSystem API (no-op when the
    * path does not exist). */
  def rmTree(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
  }

  /** Names of the immediate child DIRECTORIES of `path` (empty when the
    * path does not exist). */
  def listDirNames(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Number of data files directly inside `path` (0 when the path does
    * not exist). Counts `part-*` only — commit markers (`_SUCCESS`) and
    * checksums don't contribute to scan task fan-out. Drives the
    * file-merge maintenance trigger of the persisted stores: every
    * append lands one file per partition directory, so an ingest
    * loop's file count grows linearly with append history. */
  def dataFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p)
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
  }

  /** Total bytes of data files directly inside `path` (0 when absent). */
  def dataSize(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
  }

  /** Create a directory (and parents) through the Hadoop FileSystem
    * API — rename requires the destination's parent to exist. */
  def mkdirs(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p): Unit
  }

  def rmRecursive(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(rmRecursive)
    f.delete(): Unit
  }

  /** All regular files under `dir` (recursive). */
  def walkFiles(dir: File): Seq[File] = {
    val children = dir.listFiles()
    if (dir.isFile) Seq(dir)
    else if (children == null) Seq.empty
    else children.toSeq.flatMap(walkFiles)
  }
}
