package graft

import org.apache.spark.sql.functions._

/** Empty-input robustness: at 100 TB an empty slice is routine (a new
  * partition, a filtered-out day, a first-run corpus) — every library
  * operator must degrade to an empty (or identity) result, never throw.
  * These run the REAL operators on zero-row frames with the production
  * schemas.
  */
class EmptyInputSpec extends SparkSpec {

  private def emptyDocs = {
    val s = spark; import s.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  private def emptyEmb = {
    val s = spark; import s.implicits._
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
  }

  test("dedup family: empty corpus in, empty out") {
    val s = spark; import s.implicits._
    assert(graft.llm.Dedup.minhashDedup(emptyDocs, "doc_id", "text", 0.9)
      .count() == 0)
    assert(graft.llm.Dedup.dropNearDuplicates(emptyDocs, "doc_id", "text", 0.9)
      .count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.llm.Dedup.nearDupClusters(noPairs).count() == 0)
    assert(graft.llm.Dedup.stripRepeatedSpans(
      emptyDocs,
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "span_start", "span_end"),
      win = 50).count() == 0)
    assert(graft.llm.Dedup.incrementalDedup(
      emptyDocs, emptyDocs, "doc_id", "text", 0.9).count() == 0)
    assert(graft.llm.Dedup.repeatedSubstringSpans(emptyDocs).count() == 0)
  }

  test("similarity family: empty corpus/queries in, empty out") {
    assert(graft.llm.Similarity.bruteForceTopK(emptyEmb, emptyEmb, 3)
      .count() == 0)
    assert(graft.llm.BinaryQuant.binaryTopK(emptyEmb, emptyEmb, 3)
      .count() == 0)
    // graph/index BUILDS require a non-empty corpus (a loud require —
    // an empty index is a configuration error, not a slice)
    intercept[IllegalArgumentException] {
      graft.llm.GraphAnn.buildNeighborGraph(emptyEmb)
    }
  }

  test("ibs screen audit surfaces: empty cohort in, empty out") {
    val s = spark; import s.implicits._
    val emptyGeno = Seq.empty[(Long, Seq[Double])].toDF("id", "features")
    assert(graft.ml.LdClump.ibsChainPairs(emptyGeno, "id", "features",
      bands = 2, maxBucketSize = 10).count() == 0)
    assert(graft.ml.LdClump.ibsCapStats(emptyGeno, "id", "features",
      bands = 2, maxBucketSize = 10).count() == 0)
  }

  test("xgb predict: empty feature frame in, empty out") {
    val s = spark; import s.implicits._
    val model = graft.ml.Booster.parse(graft.ml.XgbImport.fixtureJson)
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "features")
    assert(model.predictCol(empty).count() == 0)
  }

  test("retrieval family: empty corpus in, empty out") {
    val s = spark; import s.implicits._
    val panel = Seq.empty[Tuple1[Long]].toDF("qid")
    assert(graft.llm.HybridRetrieval.bm25TopN(emptyDocs, panel, 10)
      .count() == 0)
    val noList = Seq.empty[(Long, Int, Long)].toDF("qid", "rank", "doc")
    assert(graft.llm.HybridRetrieval.rrfFuse(noList, noList, 5).count() == 0)
  }

  test("graph family: empty edge sets degrade to empty, never throw") {
    val s = spark; import s.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.GraphOps.connectedComponents(noEdges).count() == 0)
    val noXY = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(graft.ops.GraphOps.triangleCounts(noXY).count() == 0)
    // pageRank REQUIRES a non-empty graph (n=0 would divide the
    // teleport mass): the contract is a loud require, not a hang
    intercept[IllegalArgumentException] {
      graft.ops.GraphOps.pageRankFixedPoint(noEdges, 2)
    }
  }

  test("quality family: empty frames profile/validate to structural zeros") {
    val s = spark; import s.implicits._
    val df = Seq.empty[(java.lang.Double, String)].toDF("x", "s")
    // empty table → no (col, value) groups → zero profile rows (a
    // 100 TB pipeline unions profiles; an empty slice contributes none)
    assert(graft.ops.Quality.profile(df, "t", Seq("x"), Seq("s"))
      .count() == 0)
    assert(graft.ops.Quality.uniqueViolations("u", df, "s")
      .head().getLong(1) == 0L)
    val dim = Seq.empty[(String, String)].toDF("k", "v")
    assert(graft.ops.Quality.fkViolations("fk", df.select(col("s").as("k")),
      "k", dim, "k").head().getLong(1) == 0L)
    implicit val sp = s
    assert(graft.ops.Quality.predicateViolations(
      Seq(("neg", df, col("x") < 0))).head().getLong(1) == 0L)
    // PSI of two empty snapshots: no buckets → empty sum → null-safe 0
    val eb = Seq.empty[Tuple1[Long]].toDF("bucket")
    val p = graft.ops.Quality.psi(eb, eb, "bucket").head()
    assert(p.isNullAt(0) || p.getDouble(0) == 0.0)
  }

  test("intervals / kinship / imputation / mmr: empty in, empty (or identity) out") {
    val s = spark; import s.implicits._
    val iv = Seq.empty[(Long, Long, Long, Long)].toDF("k", "s", "e", "id")
    assert(graft.ops.RangeJoin.coalesceIntervals(iv, "k", "s", "e", "id")
      .count() == 0)
    val geno = Seq.empty[(Long, Seq[Float])].toDF("id", "features")
    assert(graft.ml.LdClump.ibsPairs(geno, "id", "features").count() == 0)
    val (imputed, means) = graft.ml.LdClump.meanImpute(geno, "features")
    assert(imputed.count() == 0 && means.isEmpty)
    val cands = Seq.empty[(Long, Long, Seq[Float])].toDF("qid", "nid", "nv")
    val qs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.llm.Similarity.mmrRerank(cands, qs, 3, 0.5).count() == 0)
  }

  test("prs / containment / temperature / maxsim: empty in, empty out") {
    val s = spark; import s.implicits._
    val geno = Seq.empty[(Long, String, Long)].toDF("sample", "variant", "dosage")
    val w = Seq.empty[(String, Long)].toDF("variant", "beta")
    assert(graft.ml.Prs.prsLong(geno, w, "sample", "variant", "dosage", "beta")
      .count() == 0)
    val grams = Seq.empty[(Long, Seq[Long])].toDF("doc_id", "sh")
    assert(graft.llm.Dedup.containmentOnGrams(grams, "doc_id", 0.9)
      .count() == 0)
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "src")
    assert(graft.llm.Curation.temperatureSample(docs, "doc_id", "src", 4.0, 1L)
      .count() == 0)
    val fh = Seq.empty[(Long, Int, java.lang.Long)]
      .toDF("doc_id", "frame_idx", "dhash")
    assert(graft.llm.Multimodal.videoNearDupPairs(fh, "doc_id", 3, 0.5)
      .count() == 0)
  }

  test("curation: empty corpus samples to empty") {
    val s = spark; import s.implicits._
    val docs = Seq.empty[(Long, Long)].toDF("id", "w")
    assert(graft.llm.Curation.weightedSample(docs, "id", "w", 5, 1L)
      .count() == 0)
    val grouped = Seq.empty[(String, Long, Long)].toDF("grp", "id", "w")
    assert(graft.llm.Curation.stratifiedWeightedSample(
      grouped, "grp", "id", "w", 5, 1L).count() == 0)
  }

  test("as-of joins: empty right keeps left with null carries; empty left is empty") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 1L, 10L)).toDF("k", "lid", "lts")
    val right = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "payload")
    val composed = graft.ops.AsofJoin.asofJoin(left, right, Seq("k"),
      "lts", "rts")
    assert(composed.count() == 1 &&
      composed.filter(col("asof_payload").isNull).count() == 1)
    val native = graft.plans.AsofJoinNative.asofJoinNative(left, right,
      Seq("k"), "lts", "rts")
    assert(native.count() == 1 &&
      native.filter(col("asof_payload").isNull).count() == 1)
    val noLeft = Seq.empty[(Long, Long, Long)].toDF("k", "lid", "lts")
    assert(graft.ops.AsofJoin.asofJoin(noLeft, right, Seq("k"), "lts", "rts")
      .count() == 0)
    assert(graft.plans.AsofJoinNative.asofJoinNative(noLeft, right, Seq("k"),
      "lts", "rts").count() == 0)
  }

  test("text analysis: empty corpus aggregates cleanly") {
    assert(graft.llm.TextAnalysis.gopherRuleCols(emptyDocs).count() == 0)
    assert(graft.llm.TextAnalysis.langIdCols(emptyDocs.withColumnRenamed(
      "doc_id", "id")).count() == 0)
    assert(graft.llm.TextAnalysis.htmlExtract(
      emptyDocs.withColumnRenamed("text", "html")).count() == 0)
  }

  test("round-8 operators: empty in, empty (or loud) out") {
    val s = spark; import s.implicits._
    assert(graft.llm.TextAnalysis.lexicalDiversity(emptyDocs).count() == 0)
    assert(graft.llm.Curation.priorityDedup(
      emptyDocs.withColumn("priority", lit(1L))).count() == 0)
    // hash-pair joins on empty hash tables
    val noHashes = Seq.empty[(Long, Long)].toDF("doc_id", "dhash")
    assert(graft.llm.Multimodal.imageNearDupPairs(noHashes, "doc_id", 3)
      .count() == 0)
    // pageRank on an empty edge set must fail LOUDLY (a rank over no
    // graph is a caller bug, not an empty answer)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      graft.ops.GraphOps.pageRankFixedPoint(noEdges, 3)
    }
    // PQ training needs at least k vectors — loud, not silent
    intercept[IllegalArgumentException] {
      graft.llm.Similarity.pqTrain(emptyEmb, 16, 16)
    }
  }

  test("round-9 operators: empty in, empty (or loud) out") {
    val s = spark; import s.implicits._
    // quantiles of nothing: loud caller bug
    val noVals = Seq.empty[Double].toDF("x")
    intercept[IllegalArgumentException] {
      graft.ops.Sketches.kllQuantiles(noVals, "x", 200, Seq(0.5))
    }
    // an empty SEGMENT is valid set algebra: empty sketch, estimate 0
    val noIds = Seq.empty[Long].toDF("u")
    val empty = graft.ops.Sketches.thetaSketch(noIds, "u")
    assert(empty.getEstimate == 0.0 && !empty.isEstimationMode)
    val some = graft.ops.Sketches.thetaSketch(
      s.range(0, 10).select(org.apache.spark.sql.functions.col("id").as("u")),
      "u")
    val u = org.apache.datasketches.theta.SetOperation.builder().buildUnion()
    u.union(empty); u.union(some)
    assert(math.round(u.getResult.getEstimate) == 10L)
    // MaxSim kernel: empty corpus (or self-only) yields empty, never a
    // sentinel row
    assert(graft.llm.Similarity.maxSimTop1Kernel(emptyEmb, emptyEmb)
      .count() == 0)
    val one = Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(graft.llm.Similarity.maxSimTop1Kernel(one, one).count() == 0)
    // kinship blocking on an empty cohort: empty candidates
    val noGeno = Seq.empty[(Long, Seq[Double])].toDF("id", "features")
    assert(graft.ml.LdClump.ibsCandidatePairs(noGeno, "id", "features", 3)
      .count() == 0)
  }
}
