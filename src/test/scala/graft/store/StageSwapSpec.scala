package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StageSwapSpec extends SparkSpec {

  private val base = graft.util.Fixtures.dir + "/spec_stage_swap"

  private def exists(path: String) = new java.io.File(path).exists()

  /** Each depth's table: partition columns `a`, then `b`. */
  private def partsAt(depth: Int) = Seq("a", "b").take(depth)

  /** Rows `ids`, all in leaf (a, b) — at depth 0 the columns are
    * plain data. */
  private def rows(ids: Seq[Long], a: Int, b: Int): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, a, b)).toDF("id", "a", "b")
  }

  private def leaf(depth: Int, a: Int, b: Int): String =
    Seq(s"a=$a", s"b=$b").take(depth).mkString("/")

  private def write(df: DataFrame, path: String, parts: Seq[String],
      mode: String = "overwrite"): Unit =
    df.repartition(1).write.mode(mode).partitionBy(parts: _*).parquet(path)

  private def ids(path: String): Set[Long] =
    if (!exists(path)) Set.empty
    else spark.read.parquet(path).select("id").collect()
      .map(_.getLong(0)).toSet

  /** Live table with leaf X = (1, 1) holding ids 1..3 and, partitioned,
    * leaf Y = (2, 1) holding ids 4..6. */
  private def seed(name: String, depth: Int): Table = {
    val t = Table(s"$base/$name$depth", partsAt(depth): _*)
    graft.util.Fs.rmRecursive(new java.io.File(t.live))
    graft.util.Fs.rmRecursive(new java.io.File(t.staging))
    write(rows(1L to 3L, 1, 1), t.live, t.parts)
    if (depth > 0) write(rows(4L to 6L, 2, 1), t.live, t.parts, "append")
    t
  }

  Seq(0, 1, 2).foreach { depth =>
    val x = leaf(depth, 1, 1)
    val y = leaf(depth, 2, 1)
    def at(t: Table, rel: String) =
      if (rel.isEmpty) t.live else s"${t.live}/$rel"
    val yIds = if (depth > 0) Set(4L, 5L, 6L) else Set.empty[Long]

    test(s"depth $depth: recover renames in a staged leaf whose live " +
        "directory is missing") {
      val t = seed("staged_only", depth)
      write(rows(Seq(1L, 2L), 1, 1), t.staging, t.parts)
      graft.util.Fs.rmTree(spark, at(t, x)) // crash between rm and rename
      StageSwap.recover(spark, t)
      assert(ids(at(t, x)) == Set(1L, 2L), "staged-only leaf not restored")
      assert(ids(t.live) == Set(1L, 2L) ++ yIds)
      assert(!exists(t.staging))
    }

    test(s"depth $depth: recover drops a stale staged leaf and keeps " +
        "its live twin") {
      val t = seed("stale", depth)
      write(rows(Seq(1L, 2L), 1, 1), t.staging, t.parts)
      StageSwap.recover(spark, t)
      assert(ids(t.live) == Set(1L, 2L, 3L) ++ yIds,
        "stale staging overwrote a live leaf")
      assert(!exists(t.staging))
    }

    test(s"depth $depth: swap removes a leaf that was emptied and " +
        "renames the rest in") {
      val t = seed("emptied", depth)
      // X ends up empty (no staged dir); Y, when there is one, keeps 4, 5
      if (depth > 0) write(rows(Seq(4L, 5L), 2, 1), t.staging, t.parts)
      StageSwap.swap(spark, t, Seq(x, y).distinct)
      assert(!exists(at(t, x)), "emptied leaf still present")
      if (depth > 0) assert(ids(t.live) == Set(4L, 5L))
      assert(!exists(t.staging))
    }
  }

  test("depth 2: swap and recover create the missing p1=v1 parent") {
    val t = seed("parent", 2)
    write(rows(Seq(7L), 9, 1), t.staging, t.parts)
    assert(!exists(s"${t.live}/a=9"))
    StageSwap.swap(spark, t, Seq("a=9/b=1"))
    assert(ids(s"${t.live}/a=9/b=1") == Set(7L))
    // the same through recovery: staged leaf under an absent parent
    write(rows(Seq(8L), 5, 3), t.staging, t.parts)
    StageSwap.recover(spark, t)
    assert(ids(s"${t.live}/a=5/b=3") == Set(8L))
    assert(ids(t.live) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("leaf names from data match the partition directories; a swap " +
      "refuses names of the wrong depth") {
    val t = seed("names", 2)
    val found = StageSwap.leavesOf(t, spark.read.parquet(t.live)).toSet
    assert(found == Set("a=1/b=1", "a=2/b=1"))
    assert(spark.read.parquet(t.live)
      .filter(StageSwap.within(t, Seq("a=2/b=1"))).count() == 3)
    intercept[IllegalArgumentException] {
      StageSwap.swap(spark, t, Seq(""))
    }
    assert(ids(t.live).size == 6, "a refused swap touched the table")
  }

  test("rewrite stages and swaps only the named leaves") {
    val t = seed("rewrite", 1)
    val untouched = new java.io.File(s"${t.live}/a=2").list().toSet
    StageSwap.rewrite(spark, t, spark.read.parquet(t.live)
      .filter(StageSwap.within(t, Seq("a=1")) && col("id") =!= 2L), Seq("a=1"))
    assert(ids(t.live) == Set(1L, 3L, 4L, 5L, 6L))
    assert(new java.io.File(s"${t.live}/a=2").list().toSet == untouched,
      "an unnamed leaf was rewritten")
    assert(!exists(t.staging))
  }

  test("mergeFiles rewrites only over-budget leaves, rows verbatim") {
    Seq(0, 1, 2).foreach { depth =>
      val t = seed("merge", depth)
      (10L until 13L).foreach { i =>
        write(rows(Seq(i), 1, 1), t.live, t.parts, "append")
      }
      val before = ids(t.live)
      val xDir = if (depth == 0) t.live else s"${t.live}/${leaf(depth, 1, 1)}"
      assert(graft.util.Fs.dataFileCount(spark, xDir) == 4)
      val yFiles = if (depth == 0) Set.empty[String]
        else new java.io.File(s"${t.live}/${leaf(depth, 2, 1)}").list().toSet
      StageSwap.mergeFiles(spark, t, maxFiles = 2)
      assert(graft.util.Fs.dataFileCount(spark, xDir) == 1, s"depth $depth")
      assert(ids(t.live) == before)
      if (depth > 0)
        assert(new java.io.File(s"${t.live}/${leaf(depth, 2, 1)}").list()
          .toSet == yFiles, "an under-budget leaf was rewritten")
      assert(!exists(t.staging))
    }
  }

  test("tombstones: double-delete check, anti-join on every id column, " +
      "fold rewrites only the leaves holding deleted rows") {
    val dir = s"$base/tomb"
    graft.util.Fs.rmRecursive(new java.io.File(dir))
    val t = Table(s"$dir/data", "a")
    write(rows(1L to 3L, 1, 0).unionByName(rows(4L to 6L, 2, 0)), t.live,
      t.parts)
    val tomb = Tombstones(dir, "nid")
    val s = spark
    import s.implicits._
    val del = Seq(2L).toDF("nid")
    assert(!tomb.exists(spark))
    tomb.requireFresh(spark, del, 1, "ids") // nothing tombstoned yet
    tomb.append(del)
    val e = intercept[IllegalArgumentException] {
      tomb.requireFresh(spark, del, 1, "ids")
    }
    assert(e.getMessage.contains("1 of 1 ids are already tombstoned"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(tomb.live(spark, edges, "src", "dst").select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((3L, 4L)))
    val untouched = new java.io.File(s"${t.live}/a=2").list().toSet
    tomb.foldInto(spark, t, spark.read.parquet(t.live), on = "id")
    assert(ids(t.live) == Set(1L, 3L, 4L, 5L, 6L))
    assert(new java.io.File(s"${t.live}/a=2").list().toSet == untouched)
    tomb.drop(spark)
    assert(!tomb.exists(spark))
  }
}
