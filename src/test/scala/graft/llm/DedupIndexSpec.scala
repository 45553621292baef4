package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec {

  private val base = graft.util.Fixtures.dir + "/spec_dedup_index"

  /** Ten-word docs; doc i and doc i+100 share 9 of 10 words when
    * planted as near-dups (word-3-gram Jaccard well above 0.9 needs
    * near-identical text, so dups here are exact copies and the
    * "near" case is checked via the recall property test). */
  private def doc(i: Int): String =
    (0 until 10).map(w => s"w${i}_$w").mkString(" ")

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("lifecycle: build, probe drops exact copies, append ingests " +
      "survivors, fingerprint stays ensure-valid") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/a"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(corpus, dir, threshold = 0.9)
    assert(DedupIndex.buildsThisProcess == b0, "ensure after build rebuilt")
    // batch: 3 new docs, 2 exact copies of corpus docs, 1 null text,
    // and an exact copy OF A BATCH DOC (internal dup, higher id drops)
    val batch = df(Seq(
      (100L, doc(100)), (101L, doc(101)), (102L, doc(102)),
      (103L, doc(3)), (104L, doc(7)),
      (105L, null.asInstanceOf[String]),
      (106L, doc(100))))
    val kept = DedupIndex.probe(batch, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 101L, 102L, 105L),
      s"probe kept $kept")
    val keptA = DedupIndex.append(batch, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(keptA == kept)
    // ensure over the live corpus: no rebuild (XOR maintenance exact)
    val live = corpus.unionByName(
      batch.filter(col("doc_id").isin(kept.toSeq.map(Long.box): _*)))
    val b1 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(live, dir, threshold = 0.9)
    assert(DedupIndex.buildsThisProcess == b1,
      "ensure after append rebuilt — fingerprint maintenance drifted")
    // a re-crawl of an ingested batch doc now drops against the store
    val re = df(Seq((200L, doc(100)), (201L, doc(999))))
    val keptR = DedupIndex.probe(re, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(keptR == Set(201L), s"re-crawl kept $keptR")
  }

  test("empty bootstrap: build on an empty corpus yields a VALID store " +
      "that probes everything through and grows by append") {
    // a real ingest feed's first micro-batch can be empty — the store
    // must not be poisoned by a zero-file partitioned table (schema
    // inference would throw on every later probe; reads are
    // schema-explicit instead)
    val dir = s"$base/empty_boot"
    graft.util.Fs.rmRecursive(new java.io.File(dir))
    DedupIndex.build(df(Seq.empty), dir, threshold = 0.9)
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(df(Seq.empty), dir, threshold = 0.9)
    assert(DedupIndex.buildsThisProcess == b0,
      "ensure after empty build rebuilt — empty fingerprint drifted")
    // probe against the empty store: nothing stored, everything kept
    val b1 = df(Seq((10L, doc(1)), (11L, doc(2))))
    assert(DedupIndex.probe(b1, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    // append grows the empty store; a re-crawl then drops against it
    assert(DedupIndex.append(b1, dir, threshold = 0.9).count() == 2)
    val keptR = DedupIndex.probe(df(Seq((20L, doc(1)), (21L, doc(9)))),
      dir, threshold = 0.9).collect().map(_.getLong(0)).toSet
    assert(keptR == Set(21L), s"re-crawl kept $keptR")
    // delete + compact stay well-defined through the grown store
    DedupIndex.delete(df(Seq((10L, doc(1)))), dir)
    DedupIndex.compact(spark, dir)
    assert(DedupIndex.probe(df(Seq((30L, doc(1)))), dir, threshold = 0.9)
      .count() == 1, "deleted doc still dropping probes")
  }

  test("delete is merge-on-read exact; compact folds tombstones and " +
      "leaves unaffected partitions byte-untouched") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/b"
    val corpus = df((0L until 40L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9, nIdBuckets = 8)
    val delSet = df(Seq((5L, doc(5)), (13L, doc(13))))
    DedupIndex.delete(delSet, dir)
    // the XOR fingerprint is exact through deletes too: ensure over
    // the post-delete live corpus must be a pure load
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(corpus.filter(!col("doc_id").isin(5L, 13L)), dir,
      threshold = 0.9, nIdBuckets = 8)
    assert(DedupIndex.buildsThisProcess == b0,
      "ensure after delete rebuilt — fingerprint maintenance drifted")
    // re-crawls of deleted docs are now KEPT; of live docs still drop
    val re = df(Seq((100L, doc(5)), (101L, doc(13)), (102L, doc(20))))
    val keptD = DedupIndex.probe(re, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(keptD == Set(100L, 101L), s"post-delete probe kept $keptD")
    // snapshot the files of an UNAFFECTED sbucket (ids 5 % 8 = 5,
    // 13 % 8 = 5 — sbucket 5 is the only affected one)
    def filesOf(p: String): Set[(String, Long)] = {
      val d = new java.io.File(p)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSet
    }
    val untouchedBefore = filesOf(s"$dir/sets/sbucket=0")
    DedupIndex.compact(spark, dir)
    assert(!graft.util.Fs.exists(spark, s"$dir/tombstones"))
    assert(filesOf(s"$dir/sets/sbucket=0") == untouchedBefore,
      "compact rewrote an unaffected sbucket")
    assert(spark.read.parquet(s"$dir/sets").count() == 38)
    val keptC = DedupIndex.probe(re, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(keptC == keptD, "compact changed probe results")
    // deleted ids really gone from storage
    assert(spark.read.parquet(s"$dir/sets")
      .filter(col("doc_id").isin(5L, 13L)).count() == 0)
  }

  test("compact recovery: a staged partition whose live dir is missing " +
      "is renamed in, not destroyed") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/c"
    val corpus = df((0L until 16L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9, nIdBuckets = 4)
    DedupIndex.delete(df(Seq((6L, doc(6)))), dir) // sbucket 2
    // fabricate the crash state: survivors staged, live dir removed,
    // tombstones still present (compact crashed between rm and rename)
    val stage = s"$dir/sets_staging"
    spark.read.parquet(s"$dir/sets").filter(col("sbucket") === 2)
      .filter(col("doc_id") =!= 6L)
      .repartition(col("sbucket"))
      .write.mode("overwrite").partitionBy("sbucket").parquet(stage)
    graft.util.Fs.rmTree(spark, s"$dir/sets/sbucket=2")
    // merge-on-read still correct BEFORE recovery: probe sees live rows
    DedupIndex.compact(spark, dir)
    val ids = spark.read.parquet(s"$dir/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 16L).toSet - 6L,
      s"recovery lost rows: ${((0L until 16L).toSet - 6L) -- ids}")
  }

  test("guards: monotonic ids, threshold floor, double delete, " +
      "null-text delete, non-member delete") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/d"
    val corpus = df((10L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    intercept[IllegalArgumentException] { // batch id not above store max
      DedupIndex.probe(df(Seq((15L, doc(99)))), dir, threshold = 0.9)
        .count()
    }
    intercept[IllegalArgumentException] { // probe below store threshold
      DedupIndex.probe(df(Seq((100L, doc(99)))), dir, threshold = 0.8)
        .count()
    }
    intercept[IllegalArgumentException] { // not a member
      DedupIndex.delete(df(Seq((999L, doc(999)))), dir)
    }
    intercept[IllegalArgumentException] { // null text not deletable
      DedupIndex.delete(df(Seq((11L, null.asInstanceOf[String]))), dir)
    }
    DedupIndex.delete(df(Seq((11L, doc(11)))), dir)
    intercept[IllegalArgumentException] { // double delete
      DedupIndex.delete(df(Seq((11L, doc(11)))), dir)
    }
  }

  test("probing ABOVE the store threshold is exact: t0-prefixes are " +
      "long enough for any t' >= t0") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/g"
    def near(i: Int): String =
      (i until i + 12).map(w => s"v$w").mkString(" ")
    val corpus = df((0L until 30L).map(i => (i, near(i.toInt * 2))))
    val batch = df((100L until 120L).map(i =>
      (i, near(((i - 100L) * 3).toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.5)
    val tHi = 0.8
    val got = DedupIndex.probePairs(batch, dir, threshold = tHi)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = corpus.unionByName(batch)
    val sh = Dedup.shingleHashes(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val idsAll = sh.keys.toSeq.sorted
    val want = (for {
      a <- idsAll; b <- idsAll if a < b && b >= 100L
      inter = (sh(a) intersect sh(b)).size.toDouble
      j = inter / (sh(a).size + sh(b).size - inter)
      if j >= tHi
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("probe plans prune: prefix scan carries a bucket IN " +
      "PartitionFilters under the tombstone anti-join; verify side " +
      "prunes sbucket") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/f"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    DedupIndex.delete(df(Seq((7L, doc(7)))), dir) // tombstone in play
    def fmt(d: DataFrame): String = d.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val p = fmt(DedupIndex.storePrefixScan(spark, dir, Seq(3, 17), "doc_id"))
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket"))
    assert(pf.isDefined, s"no bucket PartitionFilters on prefix scan:\n$p")
    assert(pf.get.contains(" IN "), s"bucket filter not an IN list: ${pf.get}")
    assert(p.contains("LeftAnti"), s"tombstone anti-join missing:\n$p")
    // a probe with a guaranteed store-side candidate: the final plan's
    // sets (verify) scan must prune to the candidates' sbuckets
    val pairs = DedupIndex.probePairs(df(Seq((100L, doc(3)))), dir,
      threshold = 0.9)
    val p2 = fmt(pairs)
    val pf2 = p2.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("sbucket"))
    assert(pf2.isDefined, s"no sbucket PartitionFilters on sets scan:\n$p2")
    // one candidate sbucket folds the IN list to an equality — both are
    // directory-level pruning
    assert(pf2.get.contains(" IN ") || pf2.get.contains("sbucket") &&
      pf2.get.contains("= 3"),
      s"sbucket filter neither IN list nor equality: ${pf2.get}")
  }

  test("crashed append is LOUD: the in-progress marker blocks every " +
      "store op, and ensure() rebuilds through it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/h"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    // fabricate the crash state: a previous append died between its
    // data and meta writes — the marker is still down
    graft.util.IngestMarker.write(spark, dir, "spec-fabricated crash")
    val batch = df(Seq((100L, doc(100))))
    intercept[IllegalArgumentException] {
      DedupIndex.probe(batch, dir, threshold = 0.9).count()
    }
    intercept[IllegalArgumentException] {
      DedupIndex.append(batch, dir, threshold = 0.9).count()
    }
    intercept[IllegalArgumentException] {
      DedupIndex.delete(df(Seq((3L, doc(3)))), dir)
    }
    intercept[IllegalArgumentException] { DedupIndex.compact(spark, dir) }
    intercept[IllegalArgumentException] {
      DedupIndex.compactFiles(spark, dir)
    }
    // ensure() is the documented recovery: marker ⇒ rebuild
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(corpus, dir, threshold = 0.9)
    assert(DedupIndex.buildsThisProcess == b0 + 1,
      "ensure did not rebuild through the crash marker")
    assert(!graft.util.IngestMarker.present(spark, dir),
      "rebuild left the marker in place")
    val kept = DedupIndex.probe(batch, dir, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L), s"recovered store probe kept $kept")
  }

  test("ensure RETHROWS a corpus-side failure instead of deleting the " +
      "healthy store") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/i"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    val b0 = DedupIndex.buildsThisProcess
    // a corpus whose scan fails mid-aggregate stands in for transient
    // I/O: the fingerprint read must propagate, NOT count as mismatch
    val boom = udf((s: String) =>
      if (s != null) throw new RuntimeException("transient read failure")
      else s)
    val bad = corpus.select(col("doc_id"), boom(col("text")).as("text"))
    intercept[Exception] {
      DedupIndex.ensure(bad, dir, threshold = 0.9)
    }
    assert(DedupIndex.buildsThisProcess == b0,
      "a transient corpus failure triggered a rebuild")
    assert(graft.util.Fs.exists(spark, s"$dir/meta"),
      "the healthy store was destroyed on a transient failure")
    // store still serves probes
    val kept = DedupIndex.probe(df(Seq((100L, doc(3)))), dir,
      threshold = 0.9).collect().map(_.getLong(0)).toSet
    assert(kept.isEmpty, s"store unhealthy after rethrow: kept $kept")
  }

  test("compactFiles bounds append-history file growth and is " +
      "probe-invisible") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/j"
    val corpus = df((0L until 10L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9, nBuckets = 4,
      nIdBuckets = 2)
    // 6 appends: each lands one new file per touched partition dir
    var next = 100L
    (0 until 6).foreach { _ =>
      DedupIndex.append(
        df(Seq((next, doc(next.toInt)), (next + 1, doc(next.toInt + 1)))),
        dir, threshold = 0.9).count()
      next += 2
    }
    val grown = graft.util.Fs.listDirNames(spark, s"$dir/sets")
      .filter(_.startsWith("sbucket="))
      .map(d => graft.util.Fs.dataFileCount(spark, s"$dir/sets/$d"))
    assert(grown.exists(_ > 2),
      s"fixture failed to grow files per partition: $grown")
    val recrawl = df(Seq((500L, doc(3)), (501L, doc(102)), (502L, doc(999))))
    val before = DedupIndex.probePairs(recrawl, dir, threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty, "fixture probe found no pairs")
    DedupIndex.compactFiles(spark, dir, maxFiles = 2)
    Seq("prefix" -> "bucket", "sets" -> "sbucket").foreach {
      case (t, p) =>
        graft.util.Fs.listDirNames(spark, s"$dir/$t")
          .filter(_.startsWith(s"$p=")).foreach { d =>
            val n = graft.util.Fs.dataFileCount(spark, s"$dir/$t/$d")
            assert(n <= 2, s"$t/$d still has $n files after the merge")
          }
    }
    val after = DedupIndex.probePairs(recrawl, dir, threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "compactFiles changed probe results")
    // the maintained fingerprint still validates: pure load
    val live = corpus.unionByName(df((100L until next).map(i =>
      (i, doc(i.toInt)))))
    val b1 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(live, dir, threshold = 0.9, nBuckets = 4,
      nIdBuckets = 2)
    assert(DedupIndex.buildsThisProcess == b1,
      "compactFiles drifted the fingerprint")
  }

  test("compactFiles crash recovery: a staged merged partition whose " +
      "live dir is missing is renamed in") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/k"
    val corpus = df((0L until 16L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9, nIdBuckets = 4)
    // fabricate: merge staged for sbucket=1, live dir already removed
    val stage = s"$dir/sets_staging"
    spark.read.parquet(s"$dir/sets").filter(col("sbucket") === 1)
      .repartition(col("sbucket"))
      .write.mode("overwrite").partitionBy("sbucket").parquet(stage)
    graft.util.Fs.rmTree(spark, s"$dir/sets/sbucket=1")
    DedupIndex.compactFiles(spark, dir, maxFiles = 64)
    val ids = spark.read.parquet(s"$dir/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 16L).toSet,
      s"recovery lost rows: ${(0L until 16L).toSet -- ids}")
  }

  test("prefix-filter recall is exact: store+batch pairs equal the " +
      "brute-force Jaccard pair graph") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/e"
    // overlapping vocab so NEAR (not only exact) dups exist: doc i uses
    // words [i, i+12); i and i+1 share 11/13 grams-ish
    def near(i: Int): String =
      (i until i + 12).map(w => s"v$w").mkString(" ")
    val corpus = df((0L until 30L).map(i => (i, near(i.toInt * 2))))
    val batch = df((100L until 120L).map(i =>
      (i, near(((i - 100L) * 3).toInt))))
    val t = 0.5
    DedupIndex.build(corpus, dir, threshold = t)
    val got = DedupIndex.probePairs(batch, dir, threshold = t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over corpus ∪ batch, pairs must involve a batch doc
    val all = corpus.unionByName(batch)
    val sh = Dedup.shingleHashes(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val idsAll = sh.keys.toSeq.sorted
    val want = (for {
      a <- idsAll; b <- idsAll if a < b && b >= 100L
      inter = (sh(a) intersect sh(b)).size.toDouble
      j = inter / (sh(a).size + sh(b).size - inter)
      if j >= t
    } yield (a, b)).toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("hot-gram defense: a corpus-wide stop-phrase leaves every " +
      "prefix and exactness survives") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/hot"
    // 200 docs; EVERY doc shares a 6-word stop-phrase prefix (so its
    // grams' df = n >> max(64, 0.002 n)) followed by 12 unique words;
    // docs i and i+1 overlap on 11 of those, giving true near pairs
    val phrase = (0 until 6).map(k => s"stop$k").mkString(" ")
    def txt(i: Int): String =
      phrase + " " + (i until i + 12).map(w => s"u$w").mkString(" ")
    val corpus = df((0L until 200L).map(i => (i, txt(i.toInt * 2))))
    val batch = df((500L until 540L).map(i =>
      (i, txt(((i - 500L) * 3).toInt))))
    val t = 0.5
    DedupIndex.build(corpus, dir, threshold = t)
    // the phrase grams are hot, and NONE of them is in any prefix —
    // each doc has 12+ rare own-grams, more than its prefix length
    val hot = spark.read.parquet(s"$dir/hotgrams")
      .collect().map(_.getLong(0)).toSet
    assert(hot.nonEmpty, "stop-phrase grams not detected as hot")
    val prefGrams = spark.read.parquet(s"$dir/prefix")
      .select("gram").collect().map(_.getLong(0)).toSet
    assert(prefGrams.intersect(hot).isEmpty,
      "hot grams leaked into prefixes — the (share*n)^2 blowup path")
    // exactness is unchanged by the reordering (prefix-filter lemma
    // holds under the frozen (hot, hash) total order)
    val got = DedupIndex.probePairs(batch, dir, threshold = t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = corpus.unionByName(batch)
    val sh = Dedup.shingleHashes(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val idsAll = sh.keys.toSeq.sorted
    val want = (for {
      a <- idsAll; b <- idsAll if a < b && b >= 500L
      inter = (sh(a) intersect sh(b)).size.toDouble
      j = inter / (sh(a).size + sh(b).size - inter)
      if j >= t
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture vacuous — no true near pairs")
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("hot-gram DRIFT refresh: a gram hot only from post-build appends " +
      "is promoted grow-only, affected prefixes recut, probe results " +
      "identical, fingerprint untouched") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/drift"
    // corpus: 150 unique docs, NO shared phrase — nothing is hot at
    // build time (df threshold floor is 64)
    def uniq(i: Int): String =
      (i until i + 12).map(w => s"c$w").mkString(" ")
    val corpus = df((0L until 150L).map(i => (i, uniq(i.toInt * 20))))
    val t = 0.5
    DedupIndex.build(corpus, dir, threshold = t)
    val hot0 = spark.read.parquet(s"$dir/hotgrams").count()
    // drift: 100 APPENDED docs all share a 6-word banner (df = 100 >
    // 64) followed by 12 unique words — the new-crawl-source scenario
    val banner = (0 until 6).map(k => s"ban$k").mkString(" ")
    def drifted(i: Int): String =
      banner + " " + (i until i + 12).map(w => s"d$w").mkString(" ")
    val batch1 = df((1000L until 1050L).map(i => (i, drifted(i.toInt * 20))))
    val batch2 = df((2000L until 2050L).map(i => (i, drifted(i.toInt * 20))))
    assert(DedupIndex.append(batch1, dir, threshold = t).count() == 50)
    assert(DedupIndex.append(batch2, dir, threshold = t).count() == 50)
    // the drift hazard is REAL pre-refresh: banner grams sit in
    // prefixes at their frozen cold rank
    val hotAfterAppend = spark.read.parquet(s"$dir/hotgrams")
      .collect().map(_.getLong(0)).toSet
    assert(hotAfterAppend.size == hot0,
      "append itself must never extend the frozen set")
    def prefixGramSet() = spark.read.parquet(s"$dir/prefix")
      .select("gram").collect().map(_.getLong(0)).toSet
    val bannerGrams = Dedup.shingleHashes(
        df(Seq((1L, banner + " zzz1 zzz2 zzz3"))), "doc_id", "text")
      .collect().flatMap(_.getSeq[Long](1))
      .toSet.intersect(Dedup.shingleHashes(
        df(Seq((2L, banner + " yyy1 yyy2 yyy3"))), "doc_id", "text")
        .collect().flatMap(_.getSeq[Long](1)).toSet)
    assert(bannerGrams.nonEmpty, "fixture banner produced no shared grams")
    assert(prefixGramSet().intersect(bannerGrams).nonEmpty,
      "fixture vacuous — banner grams never reached a prefix")
    // fixed re-crawl: near-dups of appended docs + unseen docs
    val recrawl = df((5000L until 5020L).map(i =>
      (i, drifted(((i - 5000L) * 20 + 1000L * 20).toInt))))
    def pairsOf() = DedupIndex.probePairs(recrawl, dir, threshold = t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairsOf()
    assert(before.nonEmpty, "fixture vacuous — re-crawl matched nothing")
    val promoted = DedupIndex.refreshHotGrams(spark, dir)
    assert(promoted > 0, "no grams promoted despite df = 100 > 64")
    // grow-only: the old set survives, the banner grams joined it
    val hot1 = spark.read.parquet(s"$dir/hotgrams")
      .collect().map(_.getLong(0)).toSet
    assert(hot1.size == hot0 + promoted, "refresh not grow-only")
    assert(bannerGrams.subsetOf(hot1), "banner grams not promoted")
    // the quadratic path is closed: banner grams left every prefix
    // (every drifted doc has 12+ rare own-grams > its prefix length)
    assert(prefixGramSet().intersect(bannerGrams).isEmpty,
      "banner grams still in prefixes after refresh")
    // completeness under the extended order: identical pairs
    assert(pairsOf() == before, "refresh changed probe results")
    // refresh mutates no membership: ensure is still a pure load
    val live = corpus.unionByName(batch1).unionByName(batch2)
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(live, dir, threshold = t)
    assert(DedupIndex.buildsThisProcess == b0,
      "refresh drifted the fingerprint — ensure rebuilt")
    // idempotent: a FORCED second recompute finds nothing newly hot
    assert(DedupIndex.refreshHotGrams(spark, dir, force = true) == 0L)
    // the stats-driven trigger: right after maintenance nothing has
    // been appended, so an unforced refresh is skipped for free
    assert(DedupIndex.refreshHotGrams(spark, dir) == 0L)
    // and compactFiles runs it implicitly: no-op here, still green
    DedupIndex.compactFiles(spark, dir)
    assert(pairsOf() == before, "compactFiles-with-refresh changed results")
  }

  test("gramdf delta maintenance: merged df is EXACT through " +
      "append/delete/refresh/compact, the candidate tick promotes the " +
      "same set as the legacy full recompute, and a forced full-eval " +
      "pass agrees") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    def uniq(i: Int): String =
      (i until i + 12).map(w => s"g$w").mkString(" ")
    val banner = (0 until 6).map(k => s"gban$k").mkString(" ")
    def drifted(i: Int): String =
      banner + " " + (i until i + 12).map(w => s"gd$w").mkString(" ")
    val t = 0.5
    val corpus = df((0L until 120L).map(i => (i, uniq(i.toInt * 20))))
    val batch1 = df((1000L until 1040L).map(i => (i, drifted(i.toInt * 20))))
    val batch2 = df((2000L until 2040L).map(i => (i, drifted(i.toInt * 20))))
    def bruteDf(live: DataFrame): Set[(Long, Long)] =
      Dedup.shingleHashes(live.filter(col("text").isNotNull),
          "doc_id", "text")
        .select(explode(col("sh")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def mergedDf(dir: String): Set[(Long, Long)] = {
      val rows = DedupIndex.mergedGramDf(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!rows.exists(_._2 < 0),
        "merged gramdf went NEGATIVE — delta bookkeeping over-deleted")
      rows.filter(_._2 > 0).toSet
    }
    // two stores, identical feed: dir1 refreshes on the maintained
    // delta path, dir2 has gramdf/ removed first so its refresh takes
    // the legacy O(corpus) recompute (and seeds gramdf) — the promoted
    // sets must be identical
    val dir1 = s"$base/gramdf1"
    val dir2 = s"$base/gramdf2"
    Seq(dir1, dir2).foreach { dir =>
      DedupIndex.build(corpus, dir, threshold = t)
      assert(DedupIndex.append(batch1, dir, threshold = t).count() == 40)
      assert(DedupIndex.append(batch2, dir, threshold = t).count() == 40)
    }
    val live0 = corpus.unionByName(batch1).unionByName(batch2)
    assert(mergedDf(dir1) == bruteDf(live0),
      "merged df drifted from ground truth after two appends")
    graft.util.Fs.rmTree(spark, s"$dir2/gramdf")
    val p1 = DedupIndex.refreshHotGrams(spark, dir1)
    val p2 = DedupIndex.refreshHotGrams(spark, dir2)
    assert(p1 > 0, "candidate-path refresh promoted nothing")
    assert(p1 == p2, s"delta path promoted $p1, legacy recompute $p2")
    def hotSet(dir: String) = spark.read.parquet(s"$dir/hotgrams")
      .collect().map(_.getLong(0)).toSet
    assert(hotSet(dir1) == hotSet(dir2),
      "candidate tick and legacy recompute disagree on the hot set")
    // the legacy refresh SEEDED gramdf: both stores now delta-exact
    assert(mergedDf(dir2) == bruteDf(live0), "legacy seed df inexact")
    // delete writes a NEGATIVE delta: merged df tracks the live corpus
    val delSet = batch1.filter(col("doc_id") % 4 === 0)
    DedupIndex.delete(delSet, dir1)
    val live1 = live0.join(delSet.select("doc_id"), Seq("doc_id"),
      "left_anti")
    assert(mergedDf(dir1) == bruteDf(live1),
      "merged df drifted after a merge-on-read delete")
    // compact folds deltas into an exact single base (delta dir gone)
    DedupIndex.compact(spark, dir1)
    assert(!graft.util.Fs.exists(spark, s"$dir1/gramdf/delta"),
      "compact left unfolded gramdf deltas")
    assert(mergedDf(dir1) == bruteDf(live1),
      "gramdf fold at compact changed the merged counts")
    // forced FULL-eval path (evalmeta claiming a higher past threshold
    // — the deletes-shrank-the-corpus shape): must terminate, promote
    // nothing new, and leave the store exact
    import spark.implicits._
    Seq(Long.MaxValue).toDF("t_eval").repartition(1)
      .write.mode("overwrite").parquet(s"$dir1/gramdf/evalmeta")
    assert(DedupIndex.refreshHotGrams(spark, dir1, force = true) == 0L)
    assert(mergedDf(dir1) == bruteDf(live1), "full-eval pass drifted df")
    // probe equivalence across the two maintenance histories
    val recrawl = df((9000L until 9010L).map(i =>
      (i, drifted(((i - 9000L) * 20 + 1000L * 20).toInt))))
    def pairsOf(dir: String) =
      DedupIndex.probePairs(recrawl, dir, threshold = t)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(dir2).nonEmpty, "fixture vacuous — re-crawl matched nothing")
  }

  test("gramdf/base is bucket-partitioned so the tick prunes partitions; " +
      "a legacy unpartitioned base reads exactly and upgrades at the " +
      "next fold") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/gramdf_layout"
    def uniq(i: Int): String =
      (i until i + 12).map(w => s"h$w").mkString(" ")
    val t = 0.5
    val corpus = df((0L until 80L).map(i => (i, uniq(i.toInt * 20))))
    DedupIndex.build(corpus, dir, threshold = t)
    def partitioned: Boolean =
      graft.util.Fs.listDirNames(spark, s"$dir/gramdf/base")
        .exists(_.startsWith("gbucket="))
    assert(partitioned, "build wrote an unpartitioned gramdf/base")
    def bruteDf(live: DataFrame): Set[(Long, Long)] =
      Dedup.shingleHashes(live, "doc_id", "text")
        .select(explode(col("sh")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def mergedDf(): Set[(Long, Long)] =
      DedupIndex.mergedGramDf(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(_._2 > 0).toSet
    assert(mergedDf() == bruteDf(corpus))
    // simulate the r16 (pre-partitioned) layout: flatten the base
    val flat = DedupIndex.mergedGramDf(spark, dir)
      .localCheckpoint(true)
    graft.util.Fs.rmTree(spark, s"$dir/gramdf/base")
    flat.select(col("gram"), col("df"))
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/gramdf/base")
    assert(!partitioned)
    assert(mergedDf() == bruteDf(corpus),
      "legacy unpartitioned base no longer reads exactly")
    // the candidate tick still runs over the legacy base (unpruned)
    val batch = df((1000L until 1020L).map(i => (i, uniq(i.toInt * 20))))
    assert(DedupIndex.append(batch, dir, threshold = t).count() == 20)
    val live = corpus.unionByName(batch)
    assert(mergedDf() == bruteDf(live))
    DedupIndex.refreshHotGrams(spark, dir, force = true): Unit
    assert(mergedDf() == bruteDf(live),
      "tick over a legacy base drifted the merged df")
    // the fold (compact) rewrites to the partitioned layout
    DedupIndex.compact(spark, dir)
    assert(partitioned, "fold did not upgrade the base layout")
    assert(mergedDf() == bruteDf(live), "layout upgrade changed counts")
    // the pruned read the tick builds lands as DIRECTORY-level pruning
    // (PartitionFilters on gbucket), not a post-scan row filter
    val pruned = DedupIndex.readGramDfBase(spark, dir, Some(Seq(3, 7)))
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("gbucket"))
    assert(pf.isDefined, s"no gbucket PartitionFilters on base scan:\n$plan")
    assert(pf.get.contains(" IN ") || pf.get.contains("= 3"),
      s"gbucket filter not an IN/equality prune: ${pf.get}")
  }

  test("stats-routed candidate join: broadcast and salted forms are " +
      "row-identical; a store without prefstats takes the salted path") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/route"
    def near(i: Int): String =
      (i until i + 12).map(w => s"r$w").mkString(" ")
    val corpus = df((0L until 40L).map(i => (i, near(i.toInt * 2))))
    val batch = df((100L until 130L).map(i =>
      (i, near(((i - 100L) * 3).toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.5)
    assert(graft.util.Fs.exists(spark, s"$dir/prefstats"),
      "build wrote no prefstats table")
    def pairs() = DedupIndex.probePairs(batch, dir, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBroadcast = pairs() // fixture scale → stats route broadcast
    assert(viaBroadcast.nonEmpty, "fixture vacuous")
    // deleting the stats table forces the legacy/salted route
    graft.util.Fs.rmTree(spark, s"$dir/prefstats")
    assert(pairs() == viaBroadcast,
      "salted and broadcast candidate joins disagree")
    // append works without stats (legacy store) and re-creates deltas;
    // probe results stay exact afterwards
    assert(DedupIndex.append(df(Seq((500L, near(4)))), dir,
      threshold = 0.5).count() == 0) // near(4) dups corpus doc 2
    assert(graft.util.Fs.exists(spark, s"$dir/prefstats"),
      "append wrote no stats delta")
  }

  test("single-writer lease: every mutating op fails LOUD while a " +
      "writer holds the store, probes stay lock-free, and a failed op " +
      "releases") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/lease"
    val corpus = df((0L until 20L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    // an in-flight append holds the lease for its whole critical
    // section, so "hold it from the spec" IS the interleaved-append
    // scenario: the second writer must fail LOUD, not silently
    // interleave data/meta writes (fingerprint drift)
    graft.util.StoreLease.acquire(spark, dir, "spec-writer")
    val batch = df(Seq((100L, doc(100))))
    intercept[IllegalStateException] {
      DedupIndex.append(batch, dir, threshold = 0.9).count()
    }
    intercept[IllegalStateException] {
      DedupIndex.delete(df(Seq((3L, doc(3)))), dir)
    }
    intercept[IllegalStateException] { DedupIndex.compact(spark, dir) }
    intercept[IllegalStateException] { DedupIndex.compactFiles(spark, dir) }
    intercept[IllegalStateException] {
      DedupIndex.refreshHotGrams(spark, dir)
    }
    intercept[IllegalStateException] {
      DedupIndex.build(corpus, dir, threshold = 0.9)
    }
    // reads are lock-free — a probe during a long append window is fine
    assert(DedupIndex.probe(batch, dir, threshold = 0.9).count() == 1)
    graft.util.StoreLease.release(spark, dir)
    assert(DedupIndex.append(batch, dir, threshold = 0.9).count() == 1)
    // a FAILED mutating op releases the lease (state safety belongs to
    // the marker/fingerprint guards, the lease only serializes writers)
    intercept[IllegalArgumentException] { // non-monotonic ids
      DedupIndex.append(df(Seq((5L, doc(5)))), dir, threshold = 0.9)
        .count()
    }
    assert(graft.util.StoreLease.heldBy(spark, dir).isEmpty,
      "failed append left the lease held")
    assert(DedupIndex.append(df(Seq((200L, doc(200)))), dir,
      threshold = 0.9).count() == 1)
  }

  test("delete audits ids after the long cast: \"7\" and \"007\" are " +
      "one id, so the set fails as a duplicate") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/cast"
    val corpus = df((0L until 10L).map(i => (i, doc(i.toInt))))
    DedupIndex.build(corpus, dir, threshold = 0.9)
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException] {
      DedupIndex.delete(Seq(("7", doc(7)), ("007", doc(7)))
        .toDF("doc_id", "text"), dir)
    }
    assert(e.getMessage.contains("duplicate"))
    val b0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(corpus, dir, threshold = 0.9)
    assert(DedupIndex.buildsThisProcess == b0, "rejected delete drifted meta")
  }

  test("prefstats stays bounded over many appends with no maintenance, " +
      "and its fold keeps the totals and per-bucket sums") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/prefstats"
    val stats = s"$dir/prefstats"
    DedupIndex.build(df((0L until 10L).map(i => (i, doc(i.toInt)))), dir,
      threshold = 0.9, nBuckets = 4)
    val prefix = s"$dir/prefix"
    val built = spark.read.parquet(prefix).count()
    def perBucket(rows: Seq[(Int, Long)]): Map[Int, Long] =
      rows.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).sum }
    (0 until 18).foreach { k =>
      val id = 100L + k
      DedupIndex.append(df(Seq((id, doc(id.toInt)))), dir, threshold = 0.9)
        .count()
      val nFiles = graft.util.Fs.dataFileCount(spark, stats)
      assert(nFiles <= 17, s"prefstats grew to $nFiles files")
      // no deletes, so the stats are exact: totals equal the prefix
      // table, and so does every bucket's sum (the probe router's input)
      val total = spark.read.parquet(prefix).count()
      assert(DedupIndex.statsTotals(spark, dir).contains((total,
        total - built)), s"statsTotals drifted after append $k")
      assert(perBucket(graft.util.Sidecar.readRows(spark, stats)
          .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n_rows")))) ==
        perBucket(spark.read.parquet(prefix).groupBy("bucket").count()
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq),
        s"per-bucket stats drifted after append $k")
    }
    assert(graft.util.Fs.dataFileCount(spark, stats) < 17,
      "fixture vacuous: the fold never fired")
  }
}
