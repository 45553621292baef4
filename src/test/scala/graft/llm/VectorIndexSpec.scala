package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

class VectorIndexSpec extends SparkSpec {

  private def noiseF(seed: Int): Float = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, 0x9e3779b9))
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** Deterministic 64-dim corpus with mild cluster structure (8 anchor
    * directions + noise) so the coarse quantizer has something to find. */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val anchor = i % 8
      val v = Array.tabulate(64) { j =>
        (if (j % 8 == anchor) 2.0f else 0.0f) + noiseF(i * 64 + j)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private val base = graft.util.Fixtures.dir + "/spec_vector_index"

  test("persisted-index search is identical to the in-memory IVF-PQ path") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val q = c.filter(col("vec_id") < 10)
    val ix = VectorIndex.ensure(c, s"$base/a")
    val viaStore = VectorIndex.search(ix, q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // same corpus + same deterministic fused-Lloyd training ⇒ the
    // in-memory path must produce byte-identical quantizers, codes, and
    // therefore the exact same top-k
    val inMem = Similarity.ivfPqTopK(q, c, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaStore == inMem)
    assert(viaStore.nonEmpty && viaStore.size == 30, s"got ${viaStore.size}")
    c.unpersist()
  }

  test("ensure builds once, reloads after, and rebuilds on corpus change") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val before = VectorIndex.buildsThisProcess
    VectorIndex.ensure(c, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 1)
    // second call: fingerprint matches — pure load, no re-training
    val ix2 = VectorIndex.ensure(c, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 1)
    assert(ix2.nVectors == 300 && ix2.codes.count() == 300)
    // corpus changed (one extra row): fingerprint mismatch forces rebuild
    val c2 = corpus(301)
    VectorIndex.ensure(c2, s"$base/b")
    assert(VectorIndex.buildsThisProcess == before + 2)
    c.unpersist()
  }

  test("append encodes with frozen quantizers and updates the fingerprint incrementally") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val all = corpus(360).cache()
    val first = all.filter(col("vec_id") < 300)
    val batch = all.filter(col("vec_id") >= 300)
    VectorIndex.build(first, s"$base/d")
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.append(batch, s"$base/d")
    // the incrementally-updated fingerprint must equal the union
    // corpus' — ensure() over the full corpus validates WITHOUT rebuild
    val ix = VectorIndex.ensure(all, s"$base/d")
    assert(VectorIndex.buildsThisProcess == builds, "append forced a rebuild")
    assert(ix.nVectors == 360 && ix.codes.count() == 360)
    // frozen-quantizer semantics: the store equals encoding the union
    // with the FIRST corpus' quantizers (never a retrain)
    val expect = Similarity
      .ivfPqEncode(all, ix.coarse, ix.books)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet
    val got = ix.codes.select("nid", "cell", "codes", "recon_norm_sq")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet
    assert(got == expect)
    // and search still answers over the appended rows
    val q = all.filter(col("vec_id") < 5)
    assert(VectorIndex.search(ix, q, all, k = 1).count() == 5)
    all.unpersist()
  }

  test("filtered store is (label, cell)-partitioned and search respects the predicate") {
    import spark.implicits._
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    val ix = VectorIndex.ensure(c, s"$base/f", filterCol = Some("label"))
    // two-level physical layout: label=L/cell=C directories
    val labelDirs = Option(new java.io.File(s"$base/f/codes").listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("label=")))
      .getOrElse(Array.empty)
    assert(labelDirs.length == 3, s"expected 3 label dirs, got ${labelDirs.length}")
    assert(labelDirs.forall(d =>
      d.listFiles().exists(f => f.isDirectory && f.getName.startsWith("cell="))))
    // every returned neighbor shares the query's label (pre-filter
    // semantics) and matches the exact within-label truth on this
    // clustered fixture
    val q = c.filter(col("vec_id") < 10)
    val got = VectorIndex.search(ix, q, c, k = 1)
      .select(col("qid"), col("nid"))
    val labels = c.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)),
        s"cross-label neighbor: $r")
    }
    val exact = Similarity.bruteForceTop1(q, c, Some("label"))
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = gotSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"filtered stored-index recall $recall")
    // relabeling the corpus must invalidate the store
    val builds = VectorIndex.buildsThisProcess
    val relabeled = c.withColumn("label", (col("vec_id") % 5).cast("long"))
    VectorIndex.ensure(relabeled, s"$base/f", filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds + 1)
    c.unpersist()
  }

  test("recall counts a query missing from the approximate side as a miss") {
    import spark.implicits._
    val truth = Seq((1L, 10L, 0.9), (2L, 20L, 0.8), (3L, 30L, 0.7),
      (4L, 40L, 0.6)).toDF("qid", "nid", "sim")
    // qid 2 answered wrongly, qid 4 not answered at all
    val approx = Seq((1L, 10L), (2L, 21L), (3L, 30L)).toDF("qid", "nid")
    assert(Similarity.recall(truth, approx) == 0.5)
  }

  test("recall over empty truth closes the gate") {
    import spark.implicits._
    val approx = Seq((1L, 10L)).toDF("qid", "nid")
    val r = Similarity.recall(approx.filter(lit(false)), approx)
    assert(r == 0.0 && !(r >= 0.6))
  }

  test("filtered brute-force top-1 is the unfiltered truth per label slice") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"), col("label")).cache()
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val filtered = rows(Similarity.bruteForceTop1(Similarity.probePanel(emb),
      emb, filterCol = Some("label")))
    val labelOf = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(filtered.size == Similarity.ProbePanelSize)
    filtered.foreach { case (q, n, _) =>
      assert(labelOf(q) == labelOf(n), s"cross-label neighbour $q -> $n")
    }
    val perSlice = labelOf.values.toSet.flatMap { (l: Int) =>
      val slice = emb.filter(col("label") === l)
      rows(Similarity.bruteForceTop1(Similarity.probePanel(slice), slice))
    }
    assert(filtered == perSlice)
    emb.unpersist()
  }

  test("store layout is cell-partitioned and codebooks round-trip exactly") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300)
    val built = VectorIndex.ensure(c, s"$base/c")
    val cellDirs = Option(new java.io.File(s"$base/c/codes").listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("cell=")))
      .getOrElse(0)
    assert(cellDirs >= 2, s"expected cell= partition dirs, got $cellDirs")
    val reloaded = VectorIndex.load(spark, s"$base/c")
    assert(reloaded.coarse.map(_.toSeq).toSeq == built.coarse.map(_.toSeq).toSeq)
    assert(reloaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      built.books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("delete tombstones without rewriting; compact folds them in; " +
      "fingerprint stays incremental") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/d"
    val c = corpus(300).cache()
    VectorIndex.build(c, dir)
    val codeFiles = graft.util.Fs.walkFiles(new java.io.File(s"$dir/codes"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    val deleted = c.filter(col("vec_id") % 3 === 0)
    val live = c.filter(col("vec_id") % 3 =!= 0)
    VectorIndex.delete(deleted, dir)
    // merge-on-read: store untouched, loaded view excludes tombstones
    val after = graft.util.Fs.walkFiles(new java.io.File(s"$dir/codes"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    assert(after == codeFiles, "delete must not rewrite code partitions")
    val ixT = VectorIndex.load(spark, dir)
    assert(ixT.codes.count() == live.count())
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val q = live.filter(col("vec_id") < 10)
    val resT = VectorIndex.search(ixT, q, live, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resT.forall { case (_, nid) => !delIds.contains(nid) })
    // compact: tombstones fold away, same results, ensure() won't rebuild
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val builds = VectorIndex.buildsThisProcess
    val ixC = VectorIndex.ensure(live, dir)
    assert(VectorIndex.buildsThisProcess == builds,
      "compacted store must fingerprint-validate against the live corpus")
    assert(ixC.codes.count() == live.count())
    val resC = VectorIndex.search(ixC, q, live, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resC == resT, "merge-on-read and compacted search must agree")
    c.unpersist()
  }

  test("delete enforces the membership contract loud") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/g"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    // rows never indexed: XOR maintenance would drift — must raise
    val stranger = corpus(210).filter(col("vec_id") >= 200)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.delete(stranger, dir)
    }
    assert(e1.getMessage.contains("not present"))
    // duplicate ids within one delete set
    val dup = c.filter(col("vec_id") < 5)
      .unionAll(c.filter(col("vec_id") < 5))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.delete(dup, dir)
    }
    assert(e2.getMessage.contains("duplicate"))
    // double delete across calls
    VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    val e3 = intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(e3.getMessage.contains("already tombstoned"))
    // the failed calls must not have corrupted the meta: ensure() over
    // the true live corpus validates without rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(c.filter(col("vec_id") >= 5), dir)
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }

  test("compact recovers a crash between cell-dir removal and rename") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/h"
    val c = corpus(300).cache()
    VectorIndex.build(c, dir)
    val deleted = c.filter(col("vec_id") % 3 === 0)
    val live = c.filter(col("vec_id") % 3 =!= 0)
    VectorIndex.delete(deleted, dir)
    // Fabricate the worst-window crash state by hand: survivors of ONE
    // affected cell staged, its live directory already removed, rename
    // never executed, tombstones still present.
    val raw = spark.read.parquet(s"$dir/codes")
    val tombIds = deleted.select(col("vec_id").as("nid"))
    val firstCell = raw.join(tombIds, Seq("nid"), "left_semi")
      .select("cell").distinct().orderBy("cell").head().getInt(0)
    raw.filter(col("cell") === firstCell)
      .join(tombIds, Seq("nid"), "left_anti")
      .withColumn("cell", lit(firstCell))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes_staging")
    graft.util.Fs.rmTree(spark, s"$dir/codes/cell=$firstCell")
    // the staged copy is now the ONLY copy of that cell's survivors
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/codes_staging").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.count() == live.count(),
      "recovery must restore the staged cell and finish the compaction")
    // fingerprint still validates against the live corpus — no rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(live, dir)
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }

  test("crashed append is LOUD: the in-progress marker blocks " +
      "load/search, delete, and compaction; ensure() rebuilds through it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/m"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    graft.util.IngestMarker.write(spark, dir, "spec-fabricated crash")
    intercept[IllegalArgumentException] { VectorIndex.load(spark, dir) }
    intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    intercept[IllegalArgumentException] { VectorIndex.compact(spark, dir) }
    intercept[IllegalArgumentException] {
      VectorIndex.compactFiles(spark, dir)
    }
    // ensure() is the recovery: marker ⇒ rebuild, marker cleared
    val b0 = VectorIndex.buildsThisProcess
    val ix = VectorIndex.ensure(c, dir)
    assert(VectorIndex.buildsThisProcess == b0 + 1,
      "ensure did not rebuild through the crash marker")
    assert(ix.codes.count() == 200)
    c.unpersist()
  }

  test("ensure RETHROWS a corpus-side failure instead of deleting the " +
      "healthy store") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/n"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    val b0 = VectorIndex.buildsThisProcess
    val boom = udf((id: Long) =>
      if (id >= 0) throw new RuntimeException("transient read failure")
      else id)
    val bad = c.select(boom(col("vec_id")).as("vec_id"), col("embedding"))
    intercept[Exception] { VectorIndex.ensure(bad, dir) }
    assert(VectorIndex.buildsThisProcess == b0,
      "a transient corpus failure triggered a rebuild")
    // the healthy store still loads and searches
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.count() == 200)
    c.unpersist()
  }

  test("compactFiles bounds append-history file growth and is " +
      "search-invisible") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/o"
    val all = corpus(420).cache()
    VectorIndex.build(all.filter(col("vec_id") < 300), dir)
    (0 until 6).foreach { k =>
      VectorIndex.append(all.filter(
        col("vec_id") >= 300 + k * 20 && col("vec_id") < 320 + k * 20), dir)
    }
    val cells = graft.util.Fs.listDirNames(spark, s"$dir/codes")
      .filter(_.startsWith("cell="))
    val grown = cells.map(d =>
      graft.util.Fs.dataFileCount(spark, s"$dir/codes/$d"))
    assert(grown.exists(_ > 2),
      s"fixture failed to grow files per cell: $grown")
    val q = all.filter(col("vec_id") < 10)
    def res(ix: VectorIndex.Loaded) = VectorIndex.search(ix, q, all, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = res(VectorIndex.load(spark, dir))
    VectorIndex.compactFiles(spark, dir, maxFiles = 2)
    cells.foreach { d =>
      val n = graft.util.Fs.dataFileCount(spark, s"$dir/codes/$d")
      assert(n <= 2, s"codes/$d still has $n files after the merge")
    }
    assert(res(VectorIndex.load(spark, dir)) == before,
      "compactFiles changed search results")
    // fingerprint untouched: ensure over the union corpus is a pure load
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(all, dir)
    assert(VectorIndex.buildsThisProcess == builds,
      "compactFiles drifted the fingerprint")
    all.unpersist()
  }

  test("filtered delete/compact: two-level partition-pair rewrite, " +
      "fingerprint incremental, crash recovery") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/j"
    val c = corpus(300)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    VectorIndex.build(c, dir, filterCol = Some("label"))
    val deleted = c.filter(col("vec_id") % 5 === 0)
    val live = c.filter(col("vec_id") % 5 =!= 0).cache()
    VectorIndex.delete(deleted, dir)
    // merge-on-read on the two-level store
    val ixT = VectorIndex.load(spark, dir)
    assert(ixT.codes.count() == live.count())
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    // compact rewrites ONLY affected (label, cell) pairs: snapshot the
    // files of one UNAFFECTED pair and require them untouched
    val rawPre = spark.read.parquet(s"$dir/codes")
    // partition columns come back type-INFERRED (int) — cast to long
    val affectedPairs = rawPre
      .join(deleted.select(col("vec_id").as("nid")), Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val allPairs = rawPre.select(col("label").cast("long"), col("cell"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val untouchedPair = (allPairs -- affectedPairs).headOption
    val untouchedFiles = untouchedPair.map { case (l, cc) =>
      graft.util.Fs.walkFiles(
        new java.io.File(s"$dir/codes/label=$l/cell=$cc"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    untouchedPair.foreach { case (l, cc) =>
      val after = graft.util.Fs.walkFiles(
        new java.io.File(s"$dir/codes/label=$l/cell=$cc"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      assert(after == untouchedFiles.get,
        s"unaffected pair (label=$l, cell=$cc) was rewritten")
    }
    val ixC = VectorIndex.load(spark, dir)
    assert(ixC.codes.count() == live.count())
    assert(ixC.codes.select("nid").collect().map(_.getLong(0)).toSet
      .intersect(delIds).isEmpty)
    // fingerprint (label included) validates the live corpus — no rebuild
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(live, dir, filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds)
    // crash recovery: fabricate rm-before-rename on one affected pair
    val deleted2 = live.filter(col("vec_id") % 7 === 0)
    val live2 = live.filter(col("vec_id") % 7 =!= 0)
    VectorIndex.delete(deleted2, dir)
    val tombIds2 = deleted2.select(col("vec_id").as("nid"))
    val raw2 = spark.read.parquet(s"$dir/codes")
    val pair = raw2.join(tombIds2, Seq("nid"), "left_semi")
      .select(col("label").cast("long"), col("cell")).distinct()
      .orderBy("label", "cell").head()
    val (pl, pc) = (pair.getLong(0), pair.getInt(1))
    raw2.filter(col("label") === pl && col("cell") === pc)
      .join(tombIds2, Seq("nid"), "left_anti")
      .withColumn("label", lit(pl)).withColumn("cell", lit(pc))
      .repartition(col("label"), col("cell"))
      .write.mode("overwrite").partitionBy("label", "cell")
      .parquet(s"$dir/codes_staging")
    graft.util.Fs.rmTree(spark, s"$dir/codes/label=$pl/cell=$pc")
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/codes_staging").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(VectorIndex.load(spark, dir).codes.count() == live2.count(),
      "recovery must restore the staged pair and finish the compaction")
    val builds2 = VectorIndex.buildsThisProcess
    VectorIndex.ensure(live2, dir, filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds2)
    c.unpersist(); live.unpersist()
  }

  test("filtered append: frozen quantizers, two-level partitions, " +
      "incremental fingerprint") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/k"
    val all = corpus(360)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    val first = all.filter(col("vec_id") < 300)
    val batch = all.filter(col("vec_id") >= 300)
    VectorIndex.build(first, dir, filterCol = Some("label"))
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.append(batch, dir)
    val ix = VectorIndex.ensure(all, dir, filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds,
      "filtered append forced a rebuild")
    assert(ix.nVectors == 360 && ix.codes.count() == 360)
    // appended rows landed under their label partitions
    val labels = spark.read.parquet(s"$dir/codes")
      .filter(col("nid") >= 300).select(col("label").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(labels == Set(0L, 1L, 2L))
    all.unpersist()
  }

  test("compact clears a fully-emptied cell's files") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/e"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    // empty one whole cell: delete every vector assigned to cell 0
    val cellOf = VectorIndex.load(spark, dir).codes
      .select("nid", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cell0 = cellOf.collect { case (nid, 0) => nid }.toSet
    assume(cell0.nonEmpty)
    val deleted = c.filter(col("vec_id").isin(cell0.toSeq.map(Long.box): _*))
    VectorIndex.delete(deleted, dir)
    VectorIndex.compact(spark, dir)
    val live = c.filter(!col("vec_id").isin(cell0.toSeq.map(Long.box): _*))
    val ix = VectorIndex.load(spark, dir)
    assert(ix.codes.filter(col("cell") === 0).count() == 0,
      "emptied cell must hold no rows after compaction")
    assert(ix.codes.count() == live.count())
    c.unpersist()
  }

  test("delete audits ids after the long cast: \"7\" and \"007\" are " +
      "one id, so the set fails as a duplicate (plain and filtered)") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(120).withColumn("label", (col("vec_id") % 3).cast("long"))
      .cache()
    def sevenTwice(cols: String*): DataFrame = {
      val row = c.filter(col("vec_id") === 7L)
      row.select(col("vec_id").cast("string").as("vec_id") +:
          cols.map(col): _*)
        .unionByName(row.select(lit("007").as("vec_id") +: cols.map(col): _*))
    }
    val plain = s"$base/cast_plain"
    VectorIndex.build(c.select("vec_id", "embedding"), plain)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.delete(sevenTwice("embedding"), plain)
    }
    assert(e1.getMessage.contains("duplicate"))
    val filtered = s"$base/cast_filtered"
    VectorIndex.build(c, filtered, filterCol = Some("label"))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.delete(sevenTwice("embedding", "label"), filtered)
    }
    assert(e2.getMessage.contains("duplicate"))
    // neither rejected delete moved n_vectors: both stores still load
    // as pure fingerprint-validated stores of the full corpus
    val builds = VectorIndex.buildsThisProcess
    assert(VectorIndex.ensure(c.select("vec_id", "embedding"), plain)
      .nVectors == 120)
    assert(VectorIndex.ensure(c, filtered, filterCol = Some("label"))
      .nVectors == 120)
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }

  test("delete puts its tombstones and meta commit in one marker window: " +
      "a delete that dies inside it blocks later ops, and ensure() over " +
      "the pre-delete corpus rebuilds") {
    import spark.implicits._
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/window"
    val c = corpus(200).cache()
    VectorIndex.build(c, dir)
    // fabricate a store whose tombstone write fails: `tombstones` is a
    // single parquet FILE (readable, so the double-delete audit passes;
    // not a directory, so the append inside the window fails)
    val one = s"$base/window_tomb"
    Seq(999999L).toDF("nid").repartition(1).write.mode("overwrite").parquet(one)
    val part = new java.io.File(one).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/tombstones").toPath)
    intercept[Exception] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(graft.util.IngestMarker.present(spark, dir),
      "a delete that died inside its window left no marker")
    intercept[IllegalArgumentException] { VectorIndex.load(spark, dir) }
    val e = intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(e.getMessage.contains("delete of 5 vectors in flight"),
      s"the refusal does not name the op in flight: ${e.getMessage}")
    // the meta still describes the full corpus; only the marker tells
    // ensure() the store cannot be trusted
    val b0 = VectorIndex.buildsThisProcess
    val ix = VectorIndex.ensure(c, dir)
    assert(VectorIndex.buildsThisProcess == b0 + 1,
      "ensure validated a store a delete died in")
    assert(ix.codes.count() == 200)
    c.unpersist()
  }

  test("the plain-named ops on a filterCol = Some(\"label\") store keep " +
      "the two-level layout") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/i"
    val all = corpus(240)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    VectorIndex.build(all.filter(col("vec_id") < 200), dir,
      filterCol = Some("label"))
    def topDirs: Set[String] = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName.takeWhile(_ != '=')).toSet
    // append lands every new row under its own label=/cell= pair
    VectorIndex.append(all.filter(col("vec_id") >= 200), dir)
    assert(topDirs == Set("label"))
    val placed = spark.read.parquet(s"$dir/codes").filter(col("nid") >= 200)
      .select(col("nid"), col("label").cast("long"), col("cell"),
        input_file_name()).collect()
    assert(placed.length == 40)
    placed.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) % 3, s"wrong label: $r")
      assert(r.getString(3).contains(s"/label=${r.getLong(1)}/cell=${r.getInt(2)}/"),
        s"row outside its pair directory: $r")
    }
    // delete + compact rewrite only the (label, cell) pairs that hold a
    // deleted row
    val deleted = all.filter(col("vec_id") % 17 === 0)
    val live = all.filter(col("vec_id") % 17 =!= 0)
    VectorIndex.delete(deleted, dir)
    val raw = spark.read.parquet(s"$dir/codes")
    def pairs(df: DataFrame): Set[String] =
      df.select(col("label").cast("long"), col("cell")).distinct().collect()
        .map(r => s"label=${r.getLong(0)}/cell=${r.getInt(1)}").toSet
    def files(pair: String): Map[String, Long] =
      graft.util.Fs.walkFiles(new java.io.File(s"$dir/codes/$pair"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    val affected = pairs(raw.join(deleted.select(col("vec_id").as("nid")),
      Seq("nid"), "left_semi"))
    val allPairs = pairs(raw)
    assert(affected.nonEmpty && (allPairs -- affected).nonEmpty)
    val before = allPairs.map(p => p -> files(p)).toMap
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(!new java.io.File(s"$dir/codes_staging").exists())
    assert(topDirs == Set("label"))
    (allPairs -- affected).foreach { p =>
      assert(files(p) == before(p), s"unaffected $p was rewritten")
    }
    affected.foreach { p =>
      assert(files(p) != before(p), s"affected $p was not rewritten")
    }
    // the compacted store validates without a rebuild
    val builds = VectorIndex.buildsThisProcess
    val ix = VectorIndex.ensure(live, dir, filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds)
    assert(ix.filterCol.contains("label") && ix.codes.count() == live.count())
    // another filter column rebuilds, even one whose values (and so
    // whose fingerprint) equal the stored column's
    val relabeled = VectorIndex.ensure(
      live.withColumn("label2", col("label")), dir, filterCol = Some("label2"))
    assert(VectorIndex.buildsThisProcess == builds + 1)
    assert(relabeled.filterCol.contains("label2") && topDirs == Set("label2"))
    // and so does the cell-only layout
    val plain = VectorIndex.ensure(live.drop("label"), dir)
    assert(VectorIndex.buildsThisProcess == builds + 2)
    assert(plain.filterCol.isEmpty && topDirs == Set("cell"))
    all.unpersist()
  }

  test("a store of an older format fails every op naming ensure(), and " +
      "ensure() rebuilds it (both layouts)") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(200)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    val batch = corpus(210).filter(col("vec_id") >= 200)
      .withColumn("label", (col("vec_id") % 3).cast("long"))
    for (filterCol <- Seq(None, Some("label"))) {
      val rows = if (filterCol.isEmpty) c.drop("label") else c
      val dir = s"$base/format1_${filterCol.getOrElse("cell")}"
      VectorIndex.build(rows, dir, filterCol = filterCol)
      // the format-1 meta: the same fields, and no filter_col on the
      // cell-only store
      val row = graft.util.Sidecar.readHead(spark, s"$dir/meta")
      val fields = Seq("n_vectors" -> LongType, "checksum" -> LongType,
        "dim" -> IntegerType, "n_cells" -> IntegerType, "m" -> IntegerType,
        "k_codes" -> IntegerType) ++ filterCol.map(_ => "filter_col" -> StringType)
      val old = graft.store.Meta("vector index", 1, fields: _*)
      old.write(spark, dir, fields.map { case (f, _) => row.getAs[Any](f) }: _*)
      def refused(op: => Any): Unit = {
        val e = intercept[IllegalArgumentException] { op }
        assert(e.getMessage.contains("has format 1, expected 2") &&
          e.getMessage.contains("ensure()"), e.getMessage)
      }
      refused(VectorIndex.load(spark, dir))
      refused(VectorIndex.append(batch, dir))
      refused(VectorIndex.delete(rows.filter(col("vec_id") < 5), dir))
      refused(VectorIndex.compact(spark, dir))
      refused(VectorIndex.compactFiles(spark, dir))
      // a format-1 filtered store may hold a crashed compact's survivors
      // under its own staging root; the rebuild wipes them
      filterCol.foreach { fc =>
        spark.read.parquet(s"$dir/codes").limit(5)
          .write.partitionBy(fc, "cell")
          .parquet(s"$dir/codes_staging_filtered")
      }
      val b0 = VectorIndex.buildsThisProcess
      val rebuilt = VectorIndex.ensure(rows, dir, filterCol = filterCol)
      assert(VectorIndex.buildsThisProcess == b0 + 1,
        "ensure did not rebuild the older-format store")
      assert(!new java.io.File(s"$dir/codes_staging_filtered").exists())
      VectorIndex.ensure(rows, dir, filterCol = filterCol)
      assert(VectorIndex.buildsThisProcess == b0 + 1, "rebuilt twice")
      // the rebuilt store searches like a freshly built one
      val fresh = VectorIndex.ensure(rows, s"$dir-fresh", filterCol = filterCol)
      val q = rows.filter(col("vec_id") < 10)
      def top3(ix: VectorIndex.Loaded): Set[(Long, Int, Long)] =
        VectorIndex.search(ix, q, rows, k = 3).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val hits = top3(rebuilt)
      assert(hits.size == 30 && hits == top3(fresh), s"layout $filterCol")
    }
    c.unpersist()
  }

  test("delete on a filtered store fails before any write when its rows " +
      "lack the filter column") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/nolabel"
    val c = corpus(120)
      .withColumn("label", (col("vec_id") % 3).cast("long")).cache()
    VectorIndex.build(c, dir, filterCol = Some("label"))
    val metaBefore = graft.util.Sidecar.readHead(spark, s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      VectorIndex.delete(c.filter(col("vec_id") < 5).drop("label"), dir)
    }
    assert(e.getMessage.contains("'label'"), e.getMessage)
    assert(!graft.util.IngestMarker.present(spark, dir), "marker written")
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "tombstones written")
    assert(graft.util.Sidecar.readHead(spark, s"$dir/meta") == metaBefore)
    // the same rows with the column delete as usual
    VectorIndex.delete(c.filter(col("vec_id") < 5), dir)
    val builds = VectorIndex.buildsThisProcess
    VectorIndex.ensure(c.filter(col("vec_id") >= 5), dir,
      filterCol = Some("label"))
    assert(VectorIndex.buildsThisProcess == builds)
    c.unpersist()
  }
}
