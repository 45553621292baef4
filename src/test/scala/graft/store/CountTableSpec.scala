package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

class CountTableSpec extends SparkSpec {

  private val base = graft.util.Fixtures.dir + "/spec_count_table"

  private val NB = 4

  /** A fresh gramdf-shaped table: long keys, `kb = pmod(k, NB)`. */
  private def fresh(name: String): (String, CountTable) = {
    val dir = s"$base/$name"
    graft.util.Fs.rmRecursive(new java.io.File(dir))
    (dir, CountTable(s"$dir/counts", "k", LongType, "kb",
      pmod(col("k"), lit(NB)).cast("int")))
  }

  private def counts(kv: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    kv.toDF("k", "df")
  }

  private def rows(df: DataFrame): Map[Long, Long] =
    df.select("k", "df").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  /** Base 0..29 with df = k % 5 + 1, then three signed deltas: an
    * append, a delete that zeroes some keys, and an append of new keys. */
  private def seeded(name: String): (String, CountTable, Map[Long, Long]) = {
    val (dir, t) = fresh(name)
    val b = (0L until 30L).map(k => k -> (k % 5 + 1))
    t.writeBase(counts(b))
    val deltas = Seq(
      (+1, (0L until 30L by 3).map(k => k -> 2L)),
      (-1, (0L until 30L by 2).map(k =>
        k -> (k % 5 + 1 + (if (k % 3 == 0) 2 else 0)))),
      (+1, (40L until 46L).map(k => k -> 1L)))
    deltas.foreach { case (sign, kv) => t.addDelta(counts(kv), sign) }
    val brute = deltas.foldLeft(b.toMap) { case (m, (sign, kv)) =>
      kv.foldLeft(m) { case (mm, (k, n)) =>
        mm.updated(k, mm.getOrElse(k, 0L) + sign * n)
      }
    }
    (dir, t, brute)
  }

  private def inBuckets(m: Map[Long, Long], bs: Set[Int]) =
    m.filter { case (k, _) => bs(Math.floorMod(k, NB.toLong).toInt) }

  test("merged equals a brute-force count after interleaved +/- deltas, " +
      "whole and bucket-pruned") {
    val (_, t, brute) = seeded("merged")
    assert(t.deltaFiles(spark) == 3)
    assert(brute.values.exists(_ == 0L), "fixture zeroes no key")
    assert(rows(t.merged(spark)) == brute)
    assert(rows(t.merged(spark, Some(Seq(1, 3)))) ==
      inBuckets(brute, Set(1, 3)))
  }

  test("fold is exact, drops zero rows, keeps the partitioned layout and " +
      "leaves no delta") {
    val (dir, t, brute) = seeded("fold")
    t.fold(spark, dir, "count fold in flight")
    assert(!t.hasDelta(spark) && t.deltaFiles(spark) == 0)
    assert(!graft.util.IngestMarker.present(spark, dir))
    assert(rows(t.base(spark)) == brute.filter(_._2 != 0L))
    assert(rows(t.merged(spark)) == brute.filter(_._2 != 0L))
    assert(graft.util.Fs.listDirNames(spark, s"$dir/counts/base")
      .filter(_.startsWith("kb=")).map(_.stripPrefix("kb=").toInt)
      .toSet == (0 until NB).toSet)
    t.fold(spark, dir, "no-op fold") // nothing to fold
    assert(rows(t.base(spark)) == brute.filter(_._2 != 0L))
  }

  test("a crash inside fold leaves the marker set and the base untouched") {
    val (dir, t, _) = seeded("crash")
    val before = rows(t.base(spark))
    // an unreadable delta file fails the fold's staged write
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/counts/delta/part-99999-torn.parquet"),
      "not parquet".getBytes("UTF-8"))
    intercept[Exception] { t.fold(spark, dir, "count fold in flight") }
    assert(graft.util.IngestMarker.present(spark, dir),
      "a fold that died mid-window cleared its marker")
    assert(t.hasDelta(spark))
    assert(rows(t.base(spark)) == before)
  }

  test("bucket pruning lands as PartitionFilters on the base scan") {
    val (_, t, _) = seeded("prune")
    Seq(t.base(spark, Some(Seq(1, 3))), t.merged(spark, Some(Seq(1, 3))))
      .foreach { df =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val pf = plan.linesIterator.find(l =>
          l.contains("PartitionFilters") && l.contains("kb"))
        assert(pf.exists(_.contains(" IN ")),
          s"no kb IN-list PartitionFilters on the base scan:\n$plan")
      }
  }

  test("changed() equals merged restricted to the delta keys") {
    val (_, t, brute) = seeded("changed")
    val deltaKeys = (0L until 30L by 3).toSet ++ (0L until 30L by 2) ++
      (40L until 46L)
    assert(rows(t.changed(spark)) == brute.filter(kv => deltaKeys(kv._1)))
    val (_, empty) = fresh("changed_empty")
    empty.writeBase(counts(Seq(1L -> 1L)))
    assert(empty.changed(spark).collect().isEmpty)
  }

  test("a termstats delta file in the older (term, df, bucket) shape " +
      "merges and folds like a (term, df) one") {
    val dir = s"$base/termstats"
    graft.util.Fs.rmRecursive(new java.io.File(dir))
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(NB)).cast("int")
    val t = CountTable(s"$dir/termstats", "term", StringType, "bucket",
      bucketOf(col("term")))
    val s = spark
    import s.implicits._
    val terms = (0 until 20).map(i => s"t$i")
    t.writeBase(terms.map(w => (w, 3L)).toDF("term", "df"))
    // the older delta layout stored the bucket beside (term, df)
    terms.take(10).map(w => (w, -1L)).toDF("term", "df")
      .withColumn("bucket", bucketOf(col("term")))
      .repartition(1).write.mode("append").parquet(s"$dir/termstats/delta")
    t.addDelta(Seq(("t0", 2L), ("new", 1L)).toDF("term", "df"), sign = 1)
    val brute = terms.map(w => w -> 3L).toMap ++
      terms.take(10).map(w => w -> 2L) + ("t0" -> 4L) + ("new" -> 1L)
    def got(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got(t.merged(spark)) == brute)
    val bucketAt = brute.keys.toSeq.toDF("term")
      .select(col("term"), bucketOf(col("term"))).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // both halves, so each delta file's keys land in some pruned read
    Seq(Seq(0, 2), Seq(1, 3)).foreach { bs =>
      val want = brute.filter(kv => bs.contains(bucketAt(kv._1)))
      assert(want.nonEmpty && want.size < brute.size, "prune fixture vacuous")
      assert(got(t.merged(spark, Some(bs))) == want, s"buckets $bs")
    }
    t.fold(spark, dir, "termstats fold in flight")
    assert(got(t.base(spark)) == brute)
  }
}
