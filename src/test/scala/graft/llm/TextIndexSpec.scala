package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {

  private val base = graft.util.Fixtures.dir + "/spec_text_index"

  /** Small-vocab docs so terms collide across docs (df > 1). */
  private def doc(i: Int): String =
    (0 until 8).map(w => s"t${(i + w * 3) % 17}").mkString(" ")

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def bruteDf(live: DataFrame): Set[(String, Long)] =
    HybridRetrieval.postings(live, "doc_id", "text")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  /** Merged-on-read termstats over ALL buckets, straight off disk. */
  private def mergedDf(dir: String): Set[(String, Long)] = {
    val b = spark.read.parquet(s"$dir/termstats/base")
      .select(col("term"), col("df"))
    val all =
      if (!graft.util.Fs.exists(spark, s"$dir/termstats/delta")) b
      else b.unionByName(spark.read.parquet(s"$dir/termstats/delta")
        .select(col("term"), col("df")))
    val out = all.groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(!out.exists(_._2 < 0), "merged termstats went negative")
    out.filter(_._2 > 0).toSet
  }

  test("lifecycle: build/ensure pure load, append grows, duplicate " +
      "ingest fails LOUD, delete is merge-on-read, termstats stay " +
      "exact, compact folds everything and re-opens deleted ids") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/life"
    val corpus = df((0L until 30L).map(i => (i, doc(i.toInt))))
    TextIndex.build(corpus, dir)
    val b0 = TextIndex.buildsThisProcess
    TextIndex.ensure(corpus, dir)
    assert(TextIndex.buildsThisProcess == b0, "ensure after build rebuilt")
    assert(mergedDf(dir) == bruteDf(corpus), "build termstats inexact")
    val batch = df((100L until 115L).map(i => (i, doc(i.toInt))))
    TextIndex.append(batch, dir)
    val live0 = corpus.unionByName(batch)
    assert(mergedDf(dir) == bruteDf(live0), "append delta inexact")
    // duplicate ingest fails loud (pruned docids semi-join)
    val e = intercept[IllegalArgumentException] {
      TextIndex.append(df(Seq((100L, doc(100)))), dir)
    }
    assert(e.getMessage.contains("already indexed"))
    // fingerprint maintenance: ensure over the union is a pure load
    val b1 = TextIndex.buildsThisProcess
    TextIndex.ensure(live0, dir)
    assert(TextIndex.buildsThisProcess == b1, "append drifted fingerprint")
    // merge-on-read delete
    val delSet = df(Seq((3L, doc(3)), (7L, doc(7)), (101L, doc(101))))
    TextIndex.delete(delSet, dir)
    val live1 = live0.join(delSet.select("doc_id"), Seq("doc_id"),
      "left_anti")
    assert(mergedDf(dir) == bruteDf(live1), "delete delta inexact")
    assert(TextIndex.livePostings(spark, dir)
      .filter(col("doc").isin(3L, 7L, 101L)).count() == 0,
      "tombstoned docs still visible")
    val b2 = TextIndex.buildsThisProcess
    TextIndex.ensure(live1, dir)
    assert(TextIndex.buildsThisProcess == b2, "delete drifted fingerprint")
    // guards: double delete, non-member, empty text
    intercept[IllegalArgumentException] {
      TextIndex.delete(df(Seq((3L, doc(3)))), dir)
    }
    intercept[IllegalArgumentException] {
      TextIndex.delete(df(Seq((999L, doc(999)))), dir)
    }
    intercept[IllegalArgumentException] {
      TextIndex.delete(df(Seq((5L, "   "))), dir)
    }
    // a tombstoned id cannot be re-ingested before compact
    intercept[IllegalArgumentException] {
      TextIndex.append(df(Seq((3L, doc(3)))), dir)
    }
    // compact: search-invisible, folds tombstones/deltas, re-opens ids
    val panel = df((0L until 6L).filterNot(i => i == 3L)
      .map(i => (i, doc(i.toInt))))
      .select(col("doc_id").as("qid"), col("text"))
    val before = TextIndex.searchBm25(panel, dir, topN = 3)
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty)
    TextIndex.compact(spark, dir)
    assert(TextIndex.searchBm25(panel, dir, topN = 3)
      .collect().map(_.toSeq).toSet == before, "compact changed search")
    assert(!graft.util.Fs.exists(spark, s"$dir/tombstones"))
    assert(!graft.util.Fs.exists(spark, s"$dir/termstats/delta"))
    assert(mergedDf(dir) == bruteDf(live1), "compact fold inexact")
    TextIndex.append(df(Seq((200L, doc(3)))), dir) // re-keyed re-ingest ok
    val b3 = TextIndex.buildsThisProcess
    TextIndex.ensure(live1.unionByName(df(Seq((200L, doc(3))))), dir)
    assert(TextIndex.buildsThisProcess == b3)
  }

  test("searchBm25 == bm25FromPostings over the live postings, with " +
      "tombstones and deltas active; empty store and unknown terms " +
      "are empty, not errors; the df-cap skips stop-words only") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/search"
    // plant a stop-word present in EVERY doc
    def stopDoc(i: Int): String = "thestop " + doc(i)
    val corpus = df((0L until 40L).map(i => (i, stopDoc(i.toInt))))
    TextIndex.build(corpus, dir)
    TextIndex.append(df((100L until 120L).map(i =>
      (i, stopDoc(i.toInt)))), dir)
    TextIndex.delete(df(Seq((5L, stopDoc(5)), (110L, stopDoc(110)))), dir)
    val panel = df((0L until 8L).filterNot(_ == 5L).map(i =>
        (i, stopDoc(i.toInt))))
      .select(col("doc_id").as("qid"), col("text"))
    val store = TextIndex.searchBm25(panel, dir, topN = 4)
      .collect().map(_.toSeq).toSet
    val storeless = HybridRetrieval.bm25FromPostings(
        TextIndex.livePostings(spark, dir).select("doc", "term", "tf"),
        panel.select("qid"), topN = 4)
      .collect().map(_.toSeq).toSet
    assert(store == storeless && store.nonEmpty,
      "store search diverged from the storeless scorer")
    // df-cap: skipping the everywhere-term must keep the result
    // well-formed and can only LOWER scores (idf of df≈N is ~0)
    val capped = TextIndex.searchBm25(panel, dir, topN = 4,
      maxDfFraction = 0.5).collect()
    assert(capped.nonEmpty, "df-cap emptied the result")
    // unknown query terms → no rows for that qid, no error
    val alien = df(Seq((7000L, "zz1 zz2 zz3")))
      .select(col("doc_id").as("qid"), col("text"))
    assert(TextIndex.searchBm25(alien, dir, topN = 3).count() == 0)
    // empty store
    val dirE = s"$base/empty"
    TextIndex.build(df(Seq.empty), dirE)
    assert(TextIndex.searchBm25(panel, dirE, topN = 3).count() == 0)
    // and an empty store GROWS by append (streaming bootstrap)
    TextIndex.append(corpus, dirE)
    assert(TextIndex.searchBm25(panel, dirE, topN = 1).count() > 0)
  }

  test("single-writer lease: mutating ops fail LOUD while held; " +
      "search stays lock-free; crashed append marker blocks ops and " +
      "ensure() rebuilds through it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/lease"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    TextIndex.build(corpus, dir)
    graft.util.StoreLease.acquire(spark, dir, "in-flight")
    intercept[IllegalStateException] {
      TextIndex.append(df(Seq((100L, doc(100)))), dir)
    }
    intercept[IllegalStateException] {
      TextIndex.delete(df(Seq((0L, doc(0)))), dir)
    }
    intercept[IllegalStateException] { TextIndex.compactFiles(spark, dir) }
    // reads lock-free
    val panel = df(Seq((1L, doc(1))))
      .select(col("doc_id").as("qid"), col("text"))
    assert(TextIndex.searchBm25(panel, dir, topN = 2).count() > 0)
    graft.util.StoreLease.release(spark, dir)
    // crashed-op marker: blocks everything (the requireAbsent gate is
    // a require → IllegalArgumentException), ensure rebuilds
    graft.util.IngestMarker.write(spark, dir, "simulated crash")
    intercept[IllegalArgumentException] {
      TextIndex.append(df(Seq((100L, doc(100)))), dir)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchBm25(panel, dir, topN = 2)
    }
    val b0 = TextIndex.buildsThisProcess
    TextIndex.ensure(corpus, dir)
    assert(TextIndex.buildsThisProcess == b0 + 1,
      "ensure did not rebuild through the crash marker")
    assert(TextIndex.searchBm25(panel, dir, topN = 2).count() > 0)
  }

  test("compactFiles bounds append-history file growth and is " +
      "search-invisible") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/files"
    TextIndex.build(df((0L until 10L).map(i => (i, doc(i.toInt)))), dir)
    (0 until 12).foreach { k =>
      TextIndex.append(df(Seq((100L + k, doc(k)))), dir)
    }
    val panel = df(Seq((1L, doc(1)), (2L, doc(2))))
      .select(col("doc_id").as("qid"), col("text"))
    val before = TextIndex.searchBm25(panel, dir, topN = 3)
      .collect().map(_.toSeq).toSet
    def maxFiles(table: String, part: String): Int = {
      val dirs = graft.util.Fs.listDirNames(spark, s"$dir/$table")
        .filter(_.startsWith(s"$part="))
      if (dirs.isEmpty) 0
      else dirs.map(d =>
        graft.util.Fs.dataFileCount(spark, s"$dir/$table/$d")).max
    }
    assert(maxFiles("postings", "bucket") > 4,
      "fixture vacuous — appends did not accumulate files")
    TextIndex.compactFiles(spark, dir, maxFiles = 4)
    assert(maxFiles("postings", "bucket") <= 4, "postings not folded")
    assert(maxFiles("docids", "dbucket") <= 4, "docids not folded")
    assert(TextIndex.searchBm25(panel, dir, topN = 3)
      .collect().map(_.toSeq).toSet == before,
      "compactFiles changed search results")
  }

  test("search fails LOUD past the query-side broadcast budget " +
      "(bounded panels only), and the same panel passes under the bound") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/guard"
    TextIndex.build(df((0L until 30L).map(i => (i, doc(i.toInt)))), dir)
    val panel = df((0L until 16L).map(i => (i, doc(i.toInt))))
      .select(col("doc_id").as("qid"), col("text"))
    val prev = sys.props.get("graft.textindex.maxQueryRows")
    sys.props("graft.textindex.maxQueryRows") = "8"
    try {
      val e1 = intercept[IllegalArgumentException] {
        TextIndex.searchBm25(panel, dir, topN = 3)
      }
      assert(e1.getMessage.contains("broadcast budget"))
      val e2 = intercept[IllegalArgumentException] {
        TextIndex.phraseCount(panel, dir)
      }
      assert(e2.getMessage.contains("broadcast budget"))
    } finally prev match {
      case Some(v) => sys.props("graft.textindex.maxQueryRows") = v
      case None => sys.props.remove("graft.textindex.maxQueryRows"): Unit
    }
    // under the default bound the identical panel serves normally
    assert(TextIndex.searchBm25(panel, dir, topN = 3).count() > 0)
    assert(TextIndex.phraseCount(panel, dir).count() > 0)
  }

  test("phraseCount: exact adjacency at stored positions, duplicate " +
      "phrase tokens handled, multi-occurrence counted, merge-on-read " +
      "deletes respected") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/phrase"
    val corpus = df(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma alpha"),          // phrase tokens, wrong order
      (3L, "x alpha beta gamma y alpha beta gamma"), // 2 occurrences
      (4L, "alpha x beta gamma"),        // gap breaks adjacency
      (5L, "the the end"),               // duplicate-token phrase target
      (6L, "z the the end q"),
      (7L, "the end the")))              // has "the end" but not "the the end"
    TextIndex.build(corpus, dir)
    def matches(phrase: String): Set[(Long, Long, Long)] =
      TextIndex.phraseCount(
          df(Seq((100L, phrase))).select(col("doc_id").as("qid"),
            col("text")),
          dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(matches("alpha beta gamma") ==
      Set((100L, 1L, 1L), (100L, 3L, 2L)),
      "adjacency/multi-occurrence wrong")
    assert(matches("the the end") == Set((100L, 5L, 1L), (100L, 6L, 1L)),
      "duplicate-token phrase wrong")
    assert(matches("gamma alpha") == Set((100L, 2L, 1L)))
    assert(matches("no such tokens") == Set.empty)
    // deletes hide a doc's phrases merge-on-read
    TextIndex.delete(df(Seq((3L, "x alpha beta gamma y alpha beta gamma"))),
      dir)
    assert(matches("alpha beta gamma") == Set((100L, 1L, 1L)))
  }

  test("search plans prune: the posting scan carries a bucket " +
      "partition IN-list from the query's own terms") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/prune"
    TextIndex.build(df((0L until 30L).map(i => (i, doc(i.toInt)))), dir)
    // one-term query → at most a couple of buckets
    val panel = df(Seq((1L, "t1"))).select(col("doc_id").as("qid"),
      col("text"))
    val plan = TextIndex.searchBm25(panel, dir, topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter in plan:\n${plan.take(2000)}")
  }

  test("delete audits ids after the long cast: \"7\" and \"007\" are " +
      "one id, so the set fails as a duplicate") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/cast"
    val corpus = df((0L until 10L).map(i => (i, doc(i.toInt))))
    TextIndex.build(corpus, dir)
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException] {
      TextIndex.delete(Seq(("7", doc(7)), ("007", doc(7)))
        .toDF("doc_id", "text"), dir)
    }
    assert(e.getMessage.contains("duplicate"))
    val b0 = TextIndex.buildsThisProcess
    TextIndex.ensure(corpus, dir)
    assert(TextIndex.buildsThisProcess == b0, "rejected delete drifted meta")
  }

  test("compact recovers a crash between bucket removal and rename: " +
      "search matches the uncrashed store") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val corpus = df((0L until 30L).map(i => (i, doc(i.toInt))))
    val delSet = df(Seq((3L, doc(3)), (7L, doc(7)), (12L, doc(12))))
    val dirs = Seq("crash", "clean").map(n => s"$base/$n")
    dirs.foreach { d =>
      TextIndex.build(corpus, d)
      TextIndex.delete(delSet, d)
    }
    val dir = dirs.head
    // fabricate the worst window: survivors of one affected bucket
    // staged, its live directory removed, rename never ran,
    // tombstones still present
    val raw = spark.read.parquet(s"$dir/postings")
    val deleted = delSet.select(col("doc_id").as("doc"))
    val b = raw.join(deleted, Seq("doc"), "left_semi")
      .select("bucket").distinct().orderBy("bucket").head().getInt(0)
    raw.filter(col("bucket") === b).join(deleted, Seq("doc"), "left_anti")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings_staging")
    graft.util.Fs.rmTree(spark, s"$dir/postings/bucket=$b")
    dirs.foreach(TextIndex.compact(spark, _))
    assert(!new java.io.File(s"$dir/postings_staging").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val panel = df((0L until 20L).filterNot(Set(3L, 7L, 12L))
        .map(i => (i, doc(i.toInt))))
      .select(col("doc_id").as("qid"), col("text"))
    val results = dirs.map(d => TextIndex.searchBm25(panel, d, topN = 3)
      .collect().map(_.toSeq).toSet)
    assert(results.head.nonEmpty && results.head == results(1),
      "recovered store searches differently from the uncrashed one")
    val live = corpus.join(delSet.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val b0 = TextIndex.buildsThisProcess
    TextIndex.ensure(live, dir)
    assert(TextIndex.buildsThisProcess == b0)
  }
}
