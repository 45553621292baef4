package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {

  test("shingles: 3-gram sets, short-text fallback") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
    val got = df.select(col("id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got(1L) == Set("a b c", "b c d"))
    assert(got(2L) == Set("x y"))
  }

  test("minhash: identical texts collide on full signature; near-dups mostly") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "completely different words entirely here nothing shared at all ok"))
      .toDF("id", "text")
    val sig = df.select(col("id"),
      Dedup.minhashSignature(Dedup.shingles(col("text")), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("kernel minhashSignatures == HOF minhashSignature (same hash family)") {
    import spark.implicits._
    // edge shapes the byte-slice kernel must round-trip exactly like
    // split+concat_ws: consecutive spaces (empty tokens), a trailing
    // space, short text, empty text, multi-byte UTF-8
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  b c d"),
      (3L, "a b c "),
      (4L, "x y"),
      (5L, ""),
      (6L, "naïve café δοκιμή text ünïcode here ok fine")).toDF("doc_id", "text")
    val hof = df.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text")), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kernel = Dedup.minhashSignatures(df, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel.keySet == hof.keySet)
    kernel.foreach { case (id, sig) => assert(sig == hof(id), s"doc $id") }
  }

  test("minhashDedup finds planted exact duplicates, skips unrelated") {
    import spark.implicits._
    val docs = (1 to 40).map { i =>
      (i.toLong, (1 to 12).map(j => s"w${(i * 7 + j * 13) % 97}").mkString(" "))
    }
    val withDup = docs ++ Seq((100L, docs(4)._2), (101L, docs(9)._2))
    val pairs = Dedup.minhashDedup(withDup.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 100L)))
    assert(pairs.contains((10L, 101L)))
    assert(pairs.size == 2)
  }

  test("lshCandidates hot-bucket cap: chained linearly, clusters survive") {
    import spark.implicits._
    // 30 identical boilerplate docs collide in ONE bucket per band
    // (> cap 10); uncapped that is 435 pairs/band — capped it must be
    // the 29-link id-chain. An unrelated planted dup pair in normal
    // (small) buckets must be untouched by the cap.
    val boiler = (1 to 30).map(i =>
      (i.toLong, "common boilerplate header text repeated across the crawl corpus"))
    val others = (100 to 120).map(i =>
      (i.toLong, (1 to 12).map(j => s"u${(i * 5 + j * 19) % 83}").mkString(" ")))
    val docs = (boiler ++ others ++ Seq((200L, others.head._2)))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 32)
    val capped = Dedup.lshCandidates(sigs, "doc_id", 32, 16, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val boilerPairs = capped.filter(p => p._1 <= 30L && p._2 <= 30L)
    assert(boilerPairs == (1L to 29L).map(i => (i, i + 1)).toSet,
      s"expected linear chain, got ${boilerPairs.size} pairs")
    assert(capped.contains((100L, 200L)))
    // end-to-end: chain links all verify at jaccard 1.0, so cluster
    // resolution still reduces the boilerplate group to one keeper
    val clusters = Dedup.nearDupClusters(
        Dedup.minhashDedup(docs, "doc_id", "text", 0.9, maxBucketSize = 10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 30L).foreach(i => assert(clusters(i) == 1L))
    assert(clusters(200L) == 100L)
  }

  test("simhash: identical text distance 0, disjoint text large distance") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("id", "text")
    val sh = df.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val d13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(d13 > 5, s"disjoint texts should differ, hamming=$d13")
  }

  test("simhash: corpus near-dup pairs sit within hamming 16 (data-scale gate)") {
    // restores the property the old d3 fixture asserted before d3 became
    // a signature-recomputation oracle: on the REAL corpus, every
    // minhash-found >=0.9-Jaccard pair must also be close in simhash
    // space — a locality regression passes the bit-for-bit oracle (both
    // engines recompute the same formula) but not this gate.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val near = Dedup.minhashDedup(docs, "doc_id", "text", 0.9)
    val sh = Dedup.simhashSignatures(docs, "doc_id", "text")
    val dists = near
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("b")), "doc_b")
      .select(Dedup.hammingDist(col("a"), col("b")).as("d"))
      .collect().map(_.getInt(0))
    assert(dists.nonEmpty, "corpus should contain natural near-dup pairs")
    assert(dists.max <= 16, s"near-dup pair at hamming ${dists.max} > 16")
  }

  test("simhashDedup: banded pigeonhole finds exactly the brute-force pairs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base),                          // hamming 0
      (3L, base.replace("tok9 ", "edit ")), // small edit → small hamming
      (4L, (1 to 60).map(i => s"zzz$i").mkString(" ")), // far away
      (5L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.simhashDedup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the signatures themselves
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sig.keys; b <- sig.keys if a < b
      hd = java.lang.Long.bitCount(sig(a) ^ sig(b)).toLong
      if hd <= 3
    } yield (a, b, hd)).toSet
    assert(got == want)
    assert(want.contains((1L, 2L, 0L))) // exact dup must be present
  }

  test("rolling fingerprint == brute-force windowed polynomial hash") {
    import spark.implicits._
    val M = TextAnalysis.rollM; val B = TextAnalysis.rollB
    val K = TextAnalysis.rollWindow
    val texts = Seq(
      (1L, "a rolling hash fingerprint over sliding windows of text"),
      (2L, "short"),                       // < K codepoints
      (3L, "exactly sixteen!!"),           // near window length
      (4L, "汉字文本混合 with ünïcode codepoints here"),
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaa"))    // repeated → many equal windows
    val got = TextAnalysis.rollingFingerprints(texts.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def brute(t: String): Long = {
      val cps = t.codePoints().toArray
      val n = cps.length
      def hw(s: Int, len: Int): Long = {
        var h = 0L; var j = 0
        while (j < len) { h = (h * B + cps(s + j) % M) % M; j += 1 }
        h
      }
      if (n < K) hw(0, n)
      else (0 to n - K).map(s => hw(s, K)).min
    }
    texts.foreach { case (id, t) => assert(got(id) == brute(t), s"doc $id") }
  }

  test("charNgrams: char-gram family through the same Jaccard join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"),
      (2L, "abcdefghij"),   // exact dup at char level
      (3L, "abcdefghiX"),   // one char changed
      (4L, "zz"),           // shorter than n → whole-text gram
      (5L, "zz"))
      .toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"),
      transform(Dedup.charNgrams(col("text"), 5), g => xxhash64(g)).as("sh"))
    val got = Dedup.ngramJaccardOnGrams(grams, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1-2 share all 6 grams (j=1); 4-5 share the whole-text gram (j=1);
    // 1-3 and 2-3 share only 1 of 11 grams (j~0.09) and must be absent
    assert(got == Set((1L, 2L), (4L, 5L)))
  }

  test("ngramJaccard prefix bound survives exact-threshold boundaries") {
    import spark.implicits._
    // A ⊂ B with |A|=40, |B|=50 → J = 40/50 = 0.8 EXACTLY, and t·|sz|
    // is an exact integer for both docs. 0.8d > 4/5, so an unslacked
    // ceil(t·sz) computes 33/41 instead of 32/40 — prefixes shrink to
    // {1..8} and {41..50}, which do not intersect, and the true pair
    // is silently lost. The 1e-9 slack keeps gram 1 in both prefixes.
    val grams = Seq((1L, (1L to 40L).toArray), (2L, (1L to 50L).toArray))
      .toDF("doc_id", "sh")
    val got = Dedup.ngramJaccardOnGrams(grams, "doc_id", 0.8)
      .select("doc_a", "doc_b", "jaccard").collect()
    assert(got.length == 1, s"boundary pair lost: ${got.mkString(",")}")
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(math.abs(got(0).getDouble(2) - 0.8) < 1e-12)
  }

  test("containmentOnGrams: asymmetric subset found where Jaccard fails") {
    import spark.implicits._
    // A (10 grams) fully inside B (100 grams): C(A→B)=1.0 but
    // J=10/100=0.1; C(B→A)=0.1 must NOT emit. D shares 8/10 with A
    // (C=0.8 < t). E==A exactly → both directions emit.
    val grams = Seq(
      (1L, (1L to 10L).toArray),            // A
      (2L, (1L to 100L).toArray),           // B ⊇ A
      (3L, ((1L to 8L) ++ Seq(201L, 202L)).toArray), // D: 8/10 overlap
      (4L, (1L to 10L).toArray))            // E == A
      .toDF("doc_id", "sh")
    val got = Dedup.containmentOnGrams(grams, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0), (4L, 2L, 1.0),
      (1L, 4L, 1.0), (4L, 1L, 1.0)))
  }

  test("containment prefix bound survives the exact-threshold boundary") {
    import spark.implicits._
    // |A|=10 with exactly 9 grams in B → C = 0.9 EXACTLY at t=0.9;
    // the one-sided prefix is ⌊0.1·10⌋+1 = 2 rarest grams of A and
    // must include at least one gram B holds.
    val grams = Seq(
      (1L, (1L to 10L).toArray),
      (2L, ((1L to 9L) ++ (100L to 190L)).toArray)) // 9 shared, |B|=100
      .toDF("doc_id", "sh")
    val got = Dedup.containmentOnGrams(grams, "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.9)))
  }

  test("shingleHashes kernel == sorted distinct xxhash64 of expression shingles") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "two tokens"),
      (3L, "a  b c d"),        // consecutive spaces → empty token
      (4L, "x y z x y z x y z")) // repeated shingles → dedup
      .toDF("doc_id", "text")
    val expr = df.select(col("doc_id"),
        sort_array(array_distinct(transform(
          Dedup.shingles(col("text")), s => xxhash64(s)))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kern = Dedup.shingleHashes(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(expr == kern)
  }

  test("ngramJaccardDedup matches brute-force all-pairs exactly") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      1L -> a,
      2L -> a,                              // exact dup
      3L -> a.replace("w7 ", "changed "),   // one token of 40 edited
      4L -> (1 to 40).map(i => s"z$i").mkString(" "), // disjoint
      5L -> "short text only")              // <3 tokens fallback
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardDedup(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same gram definition (token 3-gram shingles)
    def grams(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 3) Set(t)
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      inter = grams(ta).intersect(grams(tb)).size.toDouble
      j = inter / (grams(ta).size + grams(tb).size - inter)
      if j >= 0.8
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.contains((1L, 2L)) && want.contains((1L, 3L)))
    assert(!want.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash kernel is bit-identical to the expression form") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta  gamma"),           // consecutive spaces → empty token
      (2L, ""),                            // empty text → one empty token
      (3L, "MiXeD Case ÜNICODE tøkens"),   // lowercase path
      (4L, "trailing space "),             // trailing empty token
      (5L, (1 to 200).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val expr = df.select(col("id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kern = Dedup.simhashSignatures(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == kern)
  }

  test("simhash: near-dup text sits in a small hamming radius") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok7", "changed") // one token of 40 edited
    val df = Seq((1L, base), (2L, near)).toDF("id", "text")
    val sh = df.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    assert(d <= 16, s"near-dup should be within 16/48 bits, hamming=$d")
  }

  test("cosine expression matches hand computation") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val want = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert(math.abs(got - want) < 1e-12)
  }

  test("native codegen cosine == HOF cosine bit-for-bit on random vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = Seq.fill(50)((Array.fill(64)(rng.nextFloat() - 0.5f),
      Array.fill(64)(rng.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("maxSimScore: per-sub-vector max then sum, hand-verified") {
    import spark.implicits._
    // 4 sub-vectors of dim 2 (subDim=2, nSub=4). Query subs are axis
    // vectors; doc has one perfectly-aligned sub for q0/q1, and only
    // anti-aligned/orthogonal subs for q2/q3.
    val q = Array(1f, 0f, 0f, 1f, 1f, 0f, 0f, 1f)
    val d = Array(1f, 0f, 0f, 1f, -1f, 0f, 0f, -1f)
    val df = Seq((q, d)).toDF("q", "d")
    val got = df.select(Similarity.maxSimScore(col("q"), col("d"),
      subDim = 2, nSub = 4)).head().getDouble(0)
    // q0 max cos = 1 (d0); q1 max = 1 (d1); q2 max = 0? subs of d are
    // (1,0),(0,1),(-1,0),(0,-1): q2=(1,0) best is d0 → 1; q3=(0,1)
    // best is d1 → 1. Total 4.
    assert(got == 4.0)
    // swap doc subs: MaxSim is invariant to sub-vector ORDER in d
    val dShuf = Array(0f, -1f, -1f, 0f, 0f, 1f, 1f, 0f)
    val got2 = Seq((q, dShuf)).toDF("q", "d")
      .select(Similarity.maxSimScore(col("q"), col("d"), 2, 4))
      .head().getDouble(0)
    assert(got2 == 4.0)
  }

  test("maxSimTop1: kernel and expression paths agree row-for-row") {
    import spark.implicits._
    // 24 pseudo-random 64-dim vectors (deterministic LCG), probe = 6
    val rng = new scala.util.Random(99)
    val vecs = (0L until 24L).map(i =>
      (i, Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val emb = vecs.toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 6)
    val expr = Similarity.maxSimTop1Expr(probes, emb)
      .orderBy("qid").collect().toSeq
    val kern = Similarity.maxSimTop1Kernel(probes, emb)
      .orderBy("qid").collect().toSeq
    assert(kern.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      expr.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  test("filtered ANN: pre-filtering beats post-filtering a shortlist at selective predicates") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = Similarity.probePanel(emb)
    val exact = Similarity.bruteForceTop1(queries, emb, Some("label"))
      .select(col("qid"), col("nid"))
    val nQ = exact.count().toDouble
    assert(nQ > 0)
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      exact.join(approx.withColumnRenamed("nid", "na"), Seq("qid"))
        .filter(col("nid") === col("na")).count() / nQ
    // PRE-filter: predicate inside candidate generation
    val pre = recall(Similarity.filteredIvfTopK(queries, emb, 1, "label")
      .select(col("qid"), col("nid")))
    // POST-filter: unfiltered top-8 shortlist, predicate applied after
    // (~10% label selectivity leaves <1 eligible row in expectation)
    val lbl = emb.select(col("vec_id").as("nid"), col("label").as("nl"))
    val qlbl = queries.select(col("vec_id").as("qid"), col("label").as("ql"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    val post = recall(Similarity.ivfTopK(queries, emb, 8)
      .join(lbl, "nid").join(qlbl, "qid")
      .filter(col("nl") === col("ql"))
      .withColumn("r2", row_number().over(w)).filter(col("r2") === 1)
      .select(col("qid"), col("nid")))
    assert(pre >= 0.6, s"pre-filter recall $pre below the v18 bar")
    assert(pre > post,
      s"pre-filter recall $pre should beat post-filter recall $post")
  }

  test("mmrRerank: first pick is pure relevance; second avoids the near-dup") {
    import spark.implicits._
    // query along x; A and C sit symmetrically at ±26° (rel 0.9 each,
    // but only 0.62 similar to each other); B is a near-dup of A
    // (rel ~0.89, sim-to-A ~0.997). Plain top-2 = {A, B}; MMR λ=.5
    // picks A (rank-1 relevance, id tie-break) then C — B's near-dup
    // penalty (0.5·0.997) buries its relevance edge over C.
    // NOTE the query must NOT be co-linear with A: if q == A, then
    // rel(d) == sim(d, A) for every d and all MMR scores collapse to
    // λ·rel − (1−λ)·rel ≡ 0 at λ=0.5 (degenerate tie).
    val q = Seq((100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val cands = Seq(
      (100L, 1L, Array(0.9f, 0.435f, 0f)),
      (100L, 2L, Array(0.89f, 0.44f, 0.08f)),
      (100L, 3L, Array(0.9f, -0.435f, 0f)))
      .toDF("qid", "nid", "nv")
    val got = Similarity.mmrRerank(cands, q, k = 2, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 1L), (2, 3L)), s"got ${got.toList}")
  }

  test("cosine_sim usable from SQL after registration") {
    val s2 = spark
    graft.expressions.CosineSimilarity.register(s2)
    import s2.implicits._
    val df = Seq((Array(3f, 4f), Array(3f, 4f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("cos_t")
    try {
      val v = s2.sql("SELECT round(cosine_sim(a, b), 9) AS c FROM cos_t ORDER BY c")
        .collect().map(_.getDouble(0))
      assert(v.sameElements(Array(0.0, 1.0)))
    } finally { s2.catalog.dropTempView("cos_t") }
  }

  test("fingerprint equals min shingle md5") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val got = df.select(TextAnalysis.fingerprintCol(col("text"))).head().getString(0)
    val want = Seq("a b c", "b c d")
      .map(s => java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString).min
    assert(got == want)
  }

  test("kernel fingerprints == expression fingerprintCol") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  b c d"),
      (3L, "a b c "),
      (4L, "x y"),
      (5L, ""),
      (6L, "naïve café δοκιμή text ünïcode here ok fine")).toDF("doc_id", "text")
    val expr = df.select(col("doc_id"),
      TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kernel = TextAnalysis.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kernel == expr)
  }

  test("near-dup clustering: driver union-find == distributed propagation") {
    import spark.implicits._
    // two chains and one isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L),
      (21L, 22L)).toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toMap(Dedup.nearDupClusters(pairs))
    val dist = toMap(Dedup.nearDupClusters(pairs, driverLimit = 0L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(fast == want)
    assert(dist == want)
  }

  test("distributedClusters: long chain converges in O(log n) rounds") {
    import spark.implicits._
    // a 3000-link path has diameter 3000 — one-hop min-label
    // propagation would need 3000 joins; large-star/small-star must
    // finish inside its default O(log n) round budget (60)
    val chain = (0L until 3000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.distributedClusters(chain.cache())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 3001)
    assert(labels.values.forall(_ == 0L), "chain must collapse to root 0")
  }

  test("self-pairs are vacuous: both cluster paths drop (a, a)") {
    import spark.implicits._
    // node 7 appears ONLY as a self-pair; node 1 has a self-pair AND a
    // real edge. Both resolution paths must emit identical rows: no row
    // for 7, and 1's component unaffected by the loop.
    val pairs = Seq((1L, 1L), (7L, 7L), (1L, 2L)).toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toMap(Dedup.nearDupClusters(pairs))
    val dist = toMap(Dedup.nearDupClusters(pairs, driverLimit = 0L))
    val want = Map(1L -> 1L, 2L -> 1L)
    assert(fast == want)
    assert(dist == want)
  }

  test("distributedClusters: seeded fuzz == driver union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 1 to 3) {
      val n = 400
      // self-pairs are deliberately KEPT (no filter): both paths must
      // agree on dropping them, not rely on clean input
      val edges = (1 to 600).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.distinct
      val pairs = edges.toDF("doc_a", "doc_b")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = toMap(Dedup.nearDupClusters(pairs))
      val dist = toMap(Dedup.nearDupClusters(pairs, driverLimit = 0L))
      assert(dist == fast,
        s"mismatch: ${dist.toSet.diff(fast.toSet).take(5)} vs ${fast.toSet.diff(dist.toSet).take(5)}")
    }
  }

  test("dropNearDuplicates keeps one doc per duplicate group") {
    import spark.implicits._
    val docs = (1 to 20).map(i =>
      (i.toLong, (1 to 12).map(j => s"t${(i * 11 + j * 17) % 89}").mkString(" ")))
    val withDups = docs ++ Seq((100L, docs(2)._2), (101L, docs(2)._2))
    val kept = Dedup.dropNearDuplicates(withDups.toDF("doc_id", "text"),
      "doc_id", "text", 0.9)
    assert(kept.count() == 20) // 22 docs − 2 extra copies
    assert(kept.filter(col("doc_id") === 3L).count() == 1) // keeper = min id
    assert(kept.filter(col("doc_id").isin(100L, 101L)).count() == 0)
  }

  test("editDistancePairs: PassJoin blocking == brute force, incl. shifts") {
    import spark.implicits._
    // adversarial set for segment blocking: front deletion shifts ALL
    // segments, double front-insert shifts the other way, edits in two
    // different segments, fixed-width keys (degenerate for length-only
    // blocking), short keys below the segment count, exact duplicates
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123"),
      (2L, "bcdefghijklmnopqrstuvwxyz0123"),   // delete 'a' (front) → d=1
      (3L, "XYabcdefghijklmnopqrstuvwxyz0123"), // insert 2 at front → d=2
      (4L, "abcdefghiQklmnopqrsTuvwxyz0123"),  // subs in 2 segments → d=2
      (5L, "abcdefghijklmnopqrstuvwxyz0123"),  // exact dup of 1 → d=0
      (6L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  // same length, far away
      (7L, "ab"), (8L, "ba"), (9L, "a"),       // keys shorter than d+1 segs
      (10L, "completely different text here"),
      (0L, ""), (11L, ""))                     // empty keys, both id sides:
      .toDF("id", "p")                         // (0,9) is the smaller-id-empty
                                               // direction the l>=1 probe missed
    val got = Dedup.editDistancePairs(docs, "id", "p", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force on the driver
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (for {
      (ia, ka) <- rows; (ib, kb) <- rows if ia < ib
      d = lev(ka, kb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1L, 2L, 1L)) && want.contains((1L, 3L, 2L)) &&
      want.contains((1L, 4L, 2L)) && want.contains((1L, 5L, 0L)) &&
      want.contains((7L, 8L, 2L))) // the set is non-trivial
  }

  test("editDistancePairs: random corpora == brute force (seeded fuzz)") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // small alphabet + short keys = dense near-matches; lengths from 0
    // (the round-5 empty-key fix) to just past the segment count
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val maxDist = 1 + rnd.nextInt(2)
      val keys = (0 until 25).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(9))("abcd"(rnd.nextInt(4))).mkString)
      }
      val got = Dedup.editDistancePairs(keys.toDF("id", "p"), "id", "p", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ia, ka) <- keys; (ib, kb) <- keys if ia < ib
        d = lev(ka, kb) if d <= maxDist
      } yield (ia, ib, d.toLong)).toSet
      assert(got == want,
        s"seed=$seed maxDist=$maxDist missing=${want -- got} extra=${got -- want}")
    }
  }

  test("incrementalDedup: non-broadcast fallback path == broadcast path") {
    import spark.implicits._
    val mk = (i: Long, seed: Int) =>
      (i, (1 to 10).map(j => s"w${(seed + j * 13) % 31}").mkString(" "))
    val corpus = (1L to 8L).map(i => mk(i, i.toInt)).toDF("doc_id", "text")
    // batch: two genuinely new docs (seeds distinct mod 31 from the
    // corpus's 1..8) + two re-crawls of corpus docs 2 and 5
    val batch = (Seq(mk(101L, 20), mk(102L, 24)) ++
      Seq((103L, mk(2L, 2)._2), (104L, mk(5L, 5)._2))).toDF("doc_id", "text")
    def kept(maxGrams: Long) =
      Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.9, broadcastMaxGrams = maxGrams)
        .collect().map(_.getLong(0)).toSet
    val viaBroadcast = kept(Long.MaxValue)
    val viaShuffle = kept(0L) // guard trips: every batch is "too big"
    assert(viaBroadcast == Set(101L, 102L))
    assert(viaShuffle == viaBroadcast)
  }

  test("gopherRuleCols: each rule flips independently") {
    val s2 = spark; import s2.implicits._
    // 60 words, stopword-rich, mean word length 16/5 = 3.2
    val good = ("the a of and wording " * 12).trim
    val df = Seq(
      (1L, good),                                   // passes every rule
      (2L, "too short of the a"),                   // < minWords
      (3L, ("xx " * 60).trim),                      // no stopwords
      (4L, (("##### " * 30) + good).trim),          // symbol ratio >= 0.1
      (5L, (1 to 60).map(_ => "- b the a of").mkString("\n")), // bullets
      (6L, good.split(" ").map(_ + "...").mkString("\n"))      // ellipsis lines
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRuleCols(df)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L), s"doc1 must pass: $got")
    assert(!got(2L) && !got(3L) && !got(4L) && !got(5L) && !got(6L), s"$got")
  }

  test("lang-id prefers the language with most stopword hits") {
    import spark.implicits._
    val df = Seq((1L, "the cat of the house and a dog"),
      (2L, "el perro de la casa y que bien"),
      (3L, "zzz qqq www")).toDF("id", "text")
    val got = TextAnalysis.langIdCols(df).select("id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("rollingHashWindows: per-position hashes match a brute recompute") {
    val s = spark; import s.implicits._
    val text = "abcdefgh"
    val win = 3
    val got = Dedup.rollingHashWindows(
      Seq((1L, text)).toDF("doc_id", "text"), win)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got.size == text.length - win + 1)
    val B = TextAnalysis.rollB; val M = TextAnalysis.rollM
    (0 to text.length - win).foreach { p =>
      var h = 0L
      text.substring(p, p + win).foreach(c => h = (h * B + c % M) % M)
      assert(got((p + 1).toLong) == h, s"pos ${p + 1}")
    }
    // shorter than the window: no rows
    assert(Dedup.rollingHashWindows(
      Seq((1L, "ab")).toDF("doc_id", "text"), win).count() == 0)
  }

  test("repeatedSubstringSpans + strip: planted boilerplate, keeper kept") {
    val s = spark; import s.implicits._
    val boiler = "ABCDEFGHIJKL" // 12 chars, win 5 → merged 12-char span
    val docs = Seq(
      (1L, s"aaaaa${boiler}zzzzz"),
      (2L, s"qqq${boiler}ppppppp"),
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, win = 5, minDocs = 2)
    val got = spans.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: boiler at 1-based pos 6..17; doc2: pos 4..15
    assert(got(1L) == ((6L, 17L)), s"doc1 span ${got.get(1L)}")
    assert(got(2L) == ((4L, 15L)), s"doc2 span ${got.get(2L)}")
    assert(!got.contains(3L))
    val stripped = Dedup.stripRepeatedSpans(docs, spans, win = 0)
      .select("doc_id", "text", "n_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // doc1 is the min span-carrying id → kept whole
    assert(stripped(1L) == ((s"aaaaa${boiler}zzzzz", 0)))
    assert(stripped(2L) == (("qqqppppppp", 12)))
    assert(stripped(3L) == (("totally unrelated text here", 0)))
  }

  test("stripRepeatedSpans: disjoint span groups keep first occurrences independently") {
    val s = spark; import s.implicits._
    val bA = "AAAABBBBCCCC" // group A boilerplate, carried by docs 1 and 2
    val bB = "XXXXYYYYZZZZ" // group B boilerplate, carried by docs 3 and 4
    // flanks are per-doc unique at every boundary character so no 5-gram
    // spanning a boiler edge repeats cross-doc (that would widen the spans)
    val docs = Seq(
      (1L, s"d1d1${bA}e1e1"),
      (2L, s"d2d2d2${bA}q2q2"),
      (3L, s"f3f3${bB}g3g3"),
      (4L, s"f4f4f4${bB}h4h4")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, win = 5, minDocs = 2)
    val got = spans.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((5L, 16L)), 2L -> ((7L, 18L)),
      3L -> ((5L, 16L)), 4L -> ((7L, 18L))), s"spans $got")
    val stripped = Dedup.stripRepeatedSpans(docs, spans, win = 0)
      .select("doc_id", "text", "n_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // span-level keep-first: doc1 keeps A (min carrier of A), doc3 keeps
    // B (min carrier of B) even though doc1 is the global min doc id —
    // the old doc-granular rule would have cut B from doc3 too
    assert(stripped(1L) == ((s"d1d1${bA}e1e1", 0)))
    assert(stripped(2L) == (("d2d2d2q2q2", 12)))
    assert(stripped(3L) == ((s"f3f3${bB}g3g3", 0)))
    assert(stripped(4L) == (("f4f4f4h4h4", 12)))
  }

  test("stripRepeatedSpans win-mode: diverging merge extents still dedup") {
    val s = spark; import s.implicits._
    // doc 1 carries B1 and B2 ADJACENT (they fuse into one merged span);
    // docs 2 and 3 carry B1 and B2 separately. The three merged-span
    // contents are all distinct, so content-keyed election (win=0) cuts
    // NOTHING; window-granular election (win=5) still dedups: doc 1 (min
    // id) keeps the fused span, docs 2 and 3 cut their copies.
    val b1 = "AAAABBBBCC"; val b2 = "XXYYYYZZZZ"
    val docs = Seq(
      (1L, s"k1k1${b1}${b2}m1m1"),
      (2L, s"n2n2n2${b1}p2p2"),
      (3L, s"r3r3${b2}s3s3s3")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, win = 5, minDocs = 2)
    val content = Dedup.stripRepeatedSpans(docs, spans, win = 0)
      .select("doc_id", "n_cut")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(content == Map(1L -> 0, 2L -> 0, 3L -> 0),
      s"content election should under-cut here, got $content")
    val windowed = Dedup.stripRepeatedSpans(docs, spans, win = 5)
      .select("doc_id", "text", "n_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(windowed(1L)._2 == 0, s"keeper must keep, got ${windowed(1L)}")
    assert(windowed(2L) == (("n2n2n2p2p2", 10)), s"doc2 ${windowed(2L)}")
    assert(windowed(3L) == (("r3r3s3s3s3", 10)), s"doc3 ${windowed(3L)}")
  }

  test("stripRepeatedSpans win-mode == content mode when extents coincide") {
    val s = spark; import s.implicits._
    val boiler = "ABCDEFGHIJKL"
    val docs = Seq(
      (1L, s"aaaaa${boiler}zzzzz"),
      (2L, s"qqq${boiler}ppppppp"),
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, win = 5, minDocs = 2)
    def strip(win: Int) = Dedup.stripRepeatedSpans(docs, spans, win = win)
      .select("doc_id", "text", "n_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(strip(0) == strip(5))
    assert(strip(5)(2L) == (("qqqppppppp", 12)))
  }

  test("stripRepeatedSpans win-mode: seeded fuzz vs brute-force reference") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260813L)
    val win = 4
    for (round <- 1 to 3) {
      // tiny alphabet forces genuine cross-doc repeats
      val docs = (1L to 8L).map { id =>
        val n = 20 + rnd.nextInt(41)
        (id, (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val spans = Dedup.repeatedSubstringSpans(df, win = win, minDocs = 2)
      val got = Dedup.stripRepeatedSpans(df, spans, win = win)
        .select("doc_id", "text", "n_cut")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
        .toMap
      // brute reference, mirroring the documented spec directly:
      // hot window contents (>= 2 distinct docs) -> verified positions ->
      // adjacency-merged spans -> window election over SPAN windows ->
      // losing windows re-merged -> cursor-max cut
      val allWins = docs.map { case (id, t) =>
        id -> (0 to t.length - win).map(p => (p + 1, t.substring(p, p + win)))
      }.toMap
      val hot = allWins.values.flatten.groupBy(_._2)
        .map { case (c, _) => c -> allWins.count(_._2.exists(_._2 == c)) }
        .collect { case (c, nd) if nd >= 2 => c }.toSet
      // merge rule mirrors the engine: windows sorted by pos, a window
      // joins the open span when pos <= prevMaxEnd + 1, else starts one
      def mergeSpans(ps: Seq[Int]): Seq[(Int, Int)] = {
        val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        ps.sorted.foreach { p =>
          out.lastOption match {
            case Some((a, b)) if p <= b + 1 =>
              out(out.size - 1) = (a, math.max(b, p + win - 1))
            case _ => out += ((p, p + win - 1))
          }
        }
        out.toSeq
      }
      val spansRef = allWins.view.mapValues(ws =>
        mergeSpans(ws.collect { case (p, c) if hot(c) => p })).toMap
      val spanWins = docs.map { case (id, t) =>
        id -> spansRef(id).flatMap { case (a, b) =>
          (a to b - win + 1).map(p => (p, t.substring(p - 1, p - 1 + win)))
        }
      }.toMap
      val keeper = spanWins.toSeq
        .flatMap { case (id, ws) => ws.map { case (_, c) => (c, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = docs.map { case (id, t) =>
        val losing = spanWins(id).collect {
          case (p, c) if keeper(c) != id => p }
        val cuts = mergeSpans(losing)
        val sb = new StringBuilder
        var cursor = 0
        cuts.foreach { case (a1, b1) =>
          val a = a1 - 1; val b = b1
          if (a > cursor) sb.append(t.substring(cursor, a))
          cursor = math.max(cursor, b)
        }
        if (cursor < t.length) sb.append(t.substring(cursor))
        id -> ((sb.toString, t.length - sb.length))
      }.toMap
      assert(got == want, s"round $round:\n got=$got\nwant=$want")
    }
  }

  test("rollingHashWindows: non-BMP — UTF-16 positions, pair-splitting windows skipped") {
    val s = spark; import s.implicits._
    val t = "ab😀cd" // a b hi lo c d — 6 UTF-16 units
    val win = 3
    val got = Dedup.rollingHashWindows(Seq((1L, t)).toDF("doc_id", "text"), win)
      .select("pos").as[Long].collect().toSet
    // 0-based starts 0..3; start 0 ends on the high half (skip), start 3
    // begins on the low half (skip) -> 1-based positions {2, 3}
    assert(got == Set(2L, 3L), s"positions $got")
    // BMP doc: every position emitted (skip rule is a no-op)
    val bmp = Dedup.rollingHashWindows(
      Seq((1L, "abcde")).toDF("doc_id", "text"), win)
      .select("pos").as[Long].collect().toSet
    assert(bmp == Set(1L, 2L, 3L))
  }

  test("ExactSubstr family: planted non-BMP boilerplate — consistent election and cuts") {
    val s = spark; import s.implicits._
    // boilerplate carries an emoji; doc 2's PREFIX also carries one, so
    // its UTF-16 offsets diverge from code-point offsets — the case the
    // old builtin-substr election mis-sliced.
    val boiler = "AB😀CD" // AB😀CD, 6 UTF-16 units
    val docs = Seq(
      (1L, s"xx${boiler}yy"),
      (2L, s"q😀q${boiler}zz"),
      (3L, "mmmmmmmmmm")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, win = 3, minDocs = 2)
    val gotSpans = spans.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // shared valid windows are B😀 and 😀C (A,B,hi ends mid-pair and
    // lo,C,D starts mid-pair are skipped) -> merged spans cover B😀C:
    // doc1 UTF-16 pos 4..7, doc2 pos 6..9
    assert(gotSpans == Map(1L -> ((4L, 7L)), 2L -> ((6L, 9L))),
      s"spans $gotSpans")
    val stripped = Dedup.stripRepeatedSpans(docs, spans, win = 3)
      .select("doc_id", "text", "n_cut")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // doc1 (min id) keeps; doc2 cuts exactly B😀C (4 UTF-16 units)
    assert(stripped(1L) == ((s"xx${boiler}yy", 0)), s"doc1 ${stripped(1L)}")
    assert(stripped(2L) == (("q😀qADzz", 4)), s"doc2 ${stripped(2L)}")
    assert(stripped(3L) == (("mmmmmmmmmm", 0)))
    // cut output is well-formed UTF-16 (no lone surrogates)
    stripped.values.foreach { case (t, _) =>
      t.zipWithIndex.foreach { case (c, i) =>
        if (Character.isHighSurrogate(c))
          assert(i + 1 < t.length && Character.isLowSurrogate(t.charAt(i + 1)),
            s"lone high surrogate in '$t'")
        if (Character.isLowSurrogate(c))
          assert(i > 0 && Character.isHighSurrogate(t.charAt(i - 1)),
            s"lone low surrogate in '$t'")
      }
    }
  }

  test("dedupRepeatedSpans: seeded non-BMP fuzz vs UTF-16 brute reference") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260814L)
    val win = 4
    // alphabet mixes 1-unit chars with a surrogate pair so windows land
    // on and around pair boundaries in every configuration
    val alphabet = Seq("a", "b", "😀")
    def validStart(t: String, p0: Int) = !Character.isLowSurrogate(t.charAt(p0))
    def validEnd(t: String, e0: Int) = !Character.isHighSurrogate(t.charAt(e0))
    for (round <- 1 to 3) {
      val docs = (1L to 8L).map { id =>
        val n = 8 + rnd.nextInt(15)
        (id, (1 to n).map(_ => alphabet(rnd.nextInt(3))).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.dedupRepeatedSpans(df, win = win, minDocs = 2)
        .select("doc_id", "text", "n_cut")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
        .toMap
      // brute reference — the engine spec with the UTF-16 validity rule
      val allWins = docs.map { case (id, t) =>
        id -> (0 to t.length - win).collect {
          case p if validStart(t, p) && validEnd(t, p + win - 1) =>
            (p + 1, t.substring(p, p + win))
        }
      }.toMap
      val hot = allWins.values.flatten.groupBy(_._2)
        .map { case (c, _) => c -> allWins.count(_._2.exists(_._2 == c)) }
        .collect { case (c, nd) if nd >= 2 => c }.toSet
      def mergeSpans(ps: Seq[Int]): Seq[(Int, Int)] = {
        val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        ps.sorted.foreach { p =>
          out.lastOption match {
            case Some((a, b)) if p <= b + 1 =>
              out(out.size - 1) = (a, math.max(b, p + win - 1))
            case _ => out += ((p, p + win - 1))
          }
        }
        out.toSeq
      }
      val spansRef = allWins.view.mapValues(ws =>
        mergeSpans(ws.collect { case (p, c) if hot(c) => p })).toMap
      // win-mode re-split enumerates every VALID position in the span
      val spanWins = docs.map { case (id, t) =>
        id -> spansRef(id).flatMap { case (a, b) =>
          (a to b - win + 1).collect {
            case p if validStart(t, p - 1) && validEnd(t, p - 1 + win - 1) =>
              (p, t.substring(p - 1, p - 1 + win))
          }
        }
      }.toMap
      val keeper = spanWins.toSeq
        .flatMap { case (id, ws) => ws.map { case (_, c) => (c, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = docs.map { case (id, t) =>
        val losing = spanWins(id).collect {
          case (p, c) if keeper(c) != id => p }
        val cuts = mergeSpans(losing)
        val sb = new StringBuilder
        var cursor = 0
        cuts.foreach { case (a1, b1) =>
          val a = a1 - 1; val b = b1
          if (a > cursor) sb.append(t.substring(cursor, a))
          cursor = math.max(cursor, b)
        }
        if (cursor < t.length) sb.append(t.substring(cursor))
        id -> ((sb.toString, t.length - sb.length))
      }.toMap
      assert(got == want, s"round $round:\n got=$got\nwant=$want")
      // and every output doc is well-formed UTF-16
      got.values.foreach { case (t, _) =>
        var i = 0
        while (i < t.length) {
          if (Character.isHighSurrogate(t.charAt(i))) {
            assert(i + 1 < t.length && Character.isLowSurrogate(t.charAt(i + 1)),
              s"lone surrogate in '$t'")
            i += 1
          } else assert(!Character.isLowSurrogate(t.charAt(i)),
            s"lone low surrogate in '$t'")
          i += 1
        }
      }
    }
  }

  test("repeatedSubstringSpans: seeded fuzz vs brute-force reference") {
    val s = spark; import s.implicits._
    val win = 4
    val rnd = new scala.util.Random(1234)
    (0 until 5).foreach { trial =>
      // 2-letter alphabet forces plenty of natural cross-doc repeats
      val docs = (0 until 12).map { id =>
        val n = 5 + rnd.nextInt(30)
        (id.toLong, Array.fill(n)(if (rnd.nextBoolean()) 'a' else 'b').mkString)
      }
      // brute force: every win-gram by content, docs per content, spans
      val byContent = docs.flatMap { case (id, t) =>
        (0 to t.length - win).map(p => (t.substring(p, p + win), id, p + 1L))
      }.groupBy(_._1)
      val hot = byContent.filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = docs.flatMap { case (id, t) =>
        val ps = (0 to t.length - win)
          .filter(p => hot(t.substring(p, p + win))).map(_ + 1L)
        // merge touching/overlapping [p, p+win-1] intervals
        ps.foldLeft(List.empty[(Long, Long)]) {
          case (acc, p) if acc.nonEmpty && p <= acc.head._2 + 1 =>
            (acc.head._1, math.max(acc.head._2, p + win - 1)) :: acc.tail
          case (acc, p) => (p, p + win - 1) :: acc
        }.reverse.map { case (a, b) => (id, a, b) }
      }.toSet
      val got = Dedup.repeatedSubstringSpans(
        docs.toDF("doc_id", "text"), win = win, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"trial $trial: got ${got.size} spans, expected ${expected.size}\n" +
          s"missing=${expected -- got}\nextra=${got -- expected}")
    }
  }

  test("stripBoilerplateLines: planted footer stripped, unique lines kept") {
    val s = spark; import s.implicits._
    val footer = "(c) example corp - all rights reserved"
    val docs = Seq(
      (1L, s"alpha body one\n$footer\nmore alpha"),
      (2L, s"beta body two\n  $footer  \n"), // trimmed match + trailing empty
      (3L, s"gamma unique content\n$footer"),
      (4L, "no footer here at all")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // the footer's TRIMMED form appears in 3 docs -> dropped everywhere,
    // including doc 2's padded variant; everything else survives in order
    assert(out(0) == ((1L, 2L, 1L, "alpha body one\nmore alpha")))
    assert(out(1) == ((2L, 2L, 1L, "beta body two\n"))) // empty line kept
    assert(out(2) == ((3L, 1L, 1L, "gamma unique content")))
    assert(out(3) == ((4L, 1L, 0L, "no footer here at all")))
  }

  test("stripBoilerplateLines: below minDocs nothing is stripped; empty lines never count") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "shared line\nown one"),
      (2L, "shared line\nown two"),
      (3L, "\n\n"), // whitespace-only doc: 3 empty lines, all kept
      (4L, "")).toDF("doc_id", "text")
    val loose = Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
    // "shared line" is in only 2 docs < minDocs=3: kept
    assert(loose.map(_.getLong(2)).sum == 0L)
    assert(loose(2).getString(3) == "\n\n" && loose(2).getLong(1) == 3L)
    assert(loose(3).getString(3) == "" && loose(3).getLong(1) == 1L)
    val tight = Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
    // now "shared line" goes; empty lines still never join the hot set
    assert(tight(0).getString(3) == "own one" && tight(0).getLong(2) == 1L)
    assert(tight(1).getString(3) == "own two")
    assert(tight(2).getLong(2) == 0L)
    intercept[IllegalArgumentException] {
      Dedup.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.stripBoilerplateLines(docs.withColumn("cleaned", col("text")),
        "doc_id", "text", minDocs = 2)
    }
  }
}
