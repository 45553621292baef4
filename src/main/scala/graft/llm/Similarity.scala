package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`Array[Float]`,
  * dim 64): brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale design:
  *   - brute force is query-set × corpus: correct when the query side
  *     is small (the typical "score a probe set" pattern); the corpus
  *     side streams as a broadcast-joined scan, never a global sort —
  *     top-k per query is a window over each query's candidates only.
  *   - the LSH path buckets corpus AND queries by sign-pattern bands of
  *     seeded Rademacher projections; candidates come from bucket
  *     equality joins (shuffle linear in data), then exact cosine runs
  *     on candidates only. Recall is tunable via bands × bits.
  *   - cosine is a codegen'd `aggregate`/`zip_with` expression — no
  *     UDF, executes inside whole-stage codegen next to the scan.
  */
object Similarity {

  /** Fixed-size probe panel for every exact-similarity truth query and
    * recall gate: the `ProbePanelSize` LOWEST vec_ids (the generator
    * assigns contiguous ids from 0). A fixed COUNT — not a corpus
    * fraction like the previous `vec_id % 50` — keeps the gated
    * brute-force work O(|panel| × N) = O(N) as the corpus grows; a
    * fraction panel made the same gates O(N²/50), which is exactly the
    * quadratic creep these queries exist to police in other operators.
    * Deterministic (no sampling); every DuckDB oracle takes its panel
    * bound from this constant.
    */
  val ProbePanelSize = 40

  def probePanel(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < ProbePanelSize)

  /** cos(a, b): the native codegen'd Catalyst expression (double
    * accumulation over float inputs, sequential order — matches DuckDB's
    * DOUBLE[] list_cosine_similarity for oracle parity). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.CosineSimilarity.cosineFast(a, b)

  /** Higher-order-function formulation — identical math, interpreted
    * eval; kept as the parity witness for the native expression
    * (TextDedupSpec asserts exact equality). */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Deterministic top-k per query over scored (qid, nid, sim) rows:
    * (rounded cosine desc, neighbor id asc) is a total order, so ranks
    * are cross-engine reproducible. The window partitions by qid —
    * per-query groups are corpus-bounded candidate sets, never the
    * corpus itself. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Brute-force top-k neighbors for each query vector (excluding
    * self): the exact baseline the ANN paths are measured against.
    * Intended for bounded probe sets — the cross join is |Q|×|corpus|.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .crossJoin(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")))
        .filter(col("qid") =!= col("nid"))
        .withColumn("sim", round(cosine(col("qv"), col("nv")), 6)), k)

  /** Exact top-1 per query, the truth every ANN gate measures against.
    * With `filterCol` each query sees only corpus rows sharing its
    * value (a filter-keyed equi-join instead of the cross join). */
  def bruteForceTop1(queries: DataFrame, corpus: DataFrame,
      filterCol: Option[String] = None): DataFrame = filterCol match {
    case None => bruteForceTopK(queries, corpus, 1).drop("rank")
    case Some(c) =>
      val scored = queries
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col(c).as("__f"))
        .join(corpus.select(col("vec_id").as("nid"),
          col("embedding").as("nv"), col(c).as("__f")), "__f")
        .filter(col("qid") =!= col("nid"))
        .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
      topKPerQuery(scored, 1).drop("rank")
  }

  /** [[bruteForceTop1]]'s DuckDB oracle, the one text of the top-1
    * truth: each probe-panel query's nearest neighbour by rounded
    * cosine (self excluded, ties to the lower id). `live` scores over
    * the rows the delete gates keep (`vec_id % 10 <> 3`, their
    * tombstoned set is the rest); `filterCol` is the truth's. */
  def top1OracleSql(live: Boolean = false,
      filterCol: Option[String] = None): String = {
    val f = filterCol.fold("")(c => s", $c")
    val (head, corpus, nv) =
      if (live) (
        s"""WITH live AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v$f
           |              FROM embeddings WHERE vec_id % 10 <> 3),
           |q AS (SELECT vec_id AS qid, v AS qv$f
           |      FROM live WHERE vec_id < $ProbePanelSize)""".stripMargin,
        "live", "e.v")
      else (
        s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv$f
           |           FROM embeddings WHERE vec_id < $ProbePanelSize)""".stripMargin,
        "embeddings", "CAST(e.embedding AS DOUBLE[])")
    val from = filterCol.fold(s"q, $corpus e WHERE e.vec_id != qid")(c =>
      s"q JOIN $corpus e ON e.$c = q.$c AND e.vec_id != qid")
    s"""$head,
       |s AS (SELECT qid, e.vec_id AS nid,
       |             round(list_cosine_similarity(qv, $nv), 6) AS sim
       |      FROM $from),
       |r AS (SELECT qid, nid, sim,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY sim DESC, nid) AS rn
       |      FROM s)
       |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin
  }

  /** The (qid, nid) pairs of a probe-panel-sized result, collected. */
  def pairs(top: DataFrame): Set[(Long, Long)] =
    top.select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The recall every ANN gate checks against its bar: the share of
    * `truth`'s (qid, nid) rows that `approx` also returns. A query
    * missing from `approx` is a miss, and empty truth reads 0, which
    * closes every gate. */
  def recall(truth: DataFrame, approx: DataFrame): Double = {
    val t = pairs(truth)
    if (t.isEmpty) 0.0 else (t & pairs(approx)).size.toDouble / t.size
  }

  /** Seeded Rademacher (±1) hyperplane signs: bit b of the sketch is
    * sign(plane_b · v). The plane matrix (bands·bitsPerBand × dim) is
    * generated ONCE driver-side from the seed and folded into the plan
    * as a typed literal — a constant in codegen, so the per-row cost is
    * pure multiply-adds (the previous per-element hash formulation
    * burned one xxhash64 call per (plane, component) per row). Returns
    * an array of `bands` bucket ids, each from `bitsPerBand` sign bits.
    */
  def lshBuckets(v: Column, bands: Int, bitsPerBand: Int, seed: Int,
      dim: Int = 64): Column = {
    val rng = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] = Seq.fill(bands * bitsPerBand)(
      Seq.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
    val planesLit = typedLit(planes)
    transform(sequence(lit(0), lit(bands - 1)), band =>
      aggregate(sequence(lit(0), lit(bitsPerBand - 1)), lit(0L), (acc, bit) => {
        val proj = aggregate(
          zip_with(v, element_at(planesLit, (band * bitsPerBand + bit + 1).cast("int")),
            (x, r) => x.cast("double") * r),
          lit(0.0), (a2, x) => a2 + x)
        acc * 2 + when(proj > 0, 1L).otherwise(0L)
      }))
  }

  /** Kernel form of [[lshBuckets]]: one (id, band, bucket) row per band
    * per vector, computed with primitive-array loops in mapPartitions.
    * Higher-order-function expressions are NOT whole-stage-codegen'd in
    * Spark — the expression form allocates an intermediate boxed array
    * per (plane, row) and ran ~10× slower at sf0.1; this kernel is the
    * production sketch path, `lshBuckets` remains for composition in
    * pure-SQL contexts.
    */
  def sketchBands(df: DataFrame, idAs: String, bands: Int, bitsPerBand: Int,
      seed: Int): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val idIdx = df.schema.fieldIndex("vec_id")
    val vIdx = df.schema.fieldIndex("embedding")
    val idType = df.schema(idIdx).dataType
    val outSchema = StructType(Seq(
      StructField(idAs, idType, nullable = false),
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false)))
    val nPlanes = bands * bitsPerBand
    val out = df.rdd.mapPartitions { it =>
      // regenerate planes per task from the seed: cheaper than a
      // broadcast for this size, identical across tasks by construction
      val rng = new scala.util.Random(seed)
      var dim = -1
      var planes: Array[Array[Double]] = null
      it.flatMap { row =>
        val v = row.getSeq[Float](vIdx)
        if (planes == null) {
          dim = v.length
          planes = Array.fill(nPlanes)(
            Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
        }
        val x = new Array[Double](dim)
        var i = 0
        while (i < dim) { x(i) = v(i).toDouble; i += 1 }
        val id = row.get(idIdx)
        (0 until bands).iterator.map { band =>
          var bucket = 0L
          var bit = 0
          while (bit < bitsPerBand) {
            val plane = planes(band * bitsPerBand + bit)
            var proj = 0.0
            var j = 0
            while (j < dim) { proj += x(j) * plane(j); j += 1 }
            bucket = bucket * 2 + (if (proj > 0) 1L else 0L)
            bit += 1
          }
          org.apache.spark.sql.Row(id, band, bucket)
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** LSH-bucketed ANN: candidates share ≥1 band bucket; exact cosine on
    * candidates; top-k per query among candidates. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bands: Int = 16,
      bitsPerBand: Int = 4, seed: Int = 7): DataFrame = {
    // candidate dedup runs on (id, id) ONLY — distinct-ing rows that
    // carry the vectors would shuffle and compare the arrays themselves;
    // vectors re-attach after dedup (broadcast-able dimension joins).
    val candIds = sketchBands(queries, "qid", bands, bitsPerBand, seed)
      .join(sketchBands(corpus, "nid", bands, bitsPerBand, seed),
        Seq("band", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val cands = candIds
      .join(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")), "qid")
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")), "nid")
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    topKPerQuery(cands, k)
  }

  def lshTop1(queries: DataFrame, corpus: DataFrame, bands: Int = 16,
      bitsPerBand: Int = 4, seed: Int = 7): DataFrame =
    lshTopK(queries, corpus, 1, bands, bitsPerBand, seed).drop("rank")

  /** Embedding near-dup pairs (cos ≥ threshold ~0.99) via the LSH
    * bucket path: candidates share ≥1 band bucket, then exact cosine.
    * At θ = acos(0.99) ≈ 8.1°, per-bit agreement ≈ 0.955 ⇒ with 20
    * bands × 12 bits the per-pair miss probability is (1−0.955¹²)²⁰ ≈
    * 4e-8, while random (near-orthogonal) pairs collide in only
    * 20·(1/2)¹² ≈ 0.5% of cases — a ~200× candidate reduction over
    * all-pairs. The d2-style oracle brute-forces the same threshold to
    * prove nothing was lost.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double, bands: Int = 20,
      bitsPerBand: Int = 12, seed: Int = 7): DataFrame = {
    // ids-only candidate dedup, vectors re-attached after (see lshTop1)
    val bucketed = sketchBands(emb, "vec_id", bands, bitsPerBand, seed)
    val candIds = bucketed.alias("a")
      .join(bucketed.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    candIds
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-cosine near-dup DEDUP: resolve the ≥threshold pair graph
    * to connected components ([[graft.llm.Dedup.nearDupClusters]] —
    * driver union-find with a distributed min-label fallback) and keep
    * each component's min-id vector — the embedding analog of the token
    * path's `dropNearDuplicates`, completing the mandate's dedup family
    * for the vector modality.
    */
  def dropEmbeddingNearDups(emb: DataFrame, threshold: Double,
      bands: Int = 20, bitsPerBand: Int = 12, seed: Int = 7): DataFrame = {
    // cast to long: nearDupClusters' driver union-find reads ids with
    // getLong, and sketchBands preserves the source vec_id type (an
    // int32-typed store would otherwise ClassCastException there)
    val pairs = nearDupPairs(emb, threshold, bands, bitsPerBand, seed)
      .select(col("id_a").cast("long").as("doc_a"),
        col("id_b").cast("long").as("doc_b"))
    val losers = graft.llm.Dedup.nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("vec_id"))
    emb.join(losers, Seq("vec_id"), "left_anti")
  }

  /** IVF-style ANN (the other scale path of the mandate): a coarse
    * quantizer assigns every corpus vector to a cell; a query probes
    * only its `nProbe` nearest centroids and scores candidates within
    * those cells. Centroids come from the repo's fused-Lloyd trainer
    * ([[pqTrain]] with m = 1) — the same quantizer v12's IVFPQ uses:
    * each Lloyd round is ONE treeAggregate pass vs spark.ml KMeans'
    * ~20 paired jobs (measured: the v16 sub-vector fit dropped ~3 s),
    * and centroids are deterministic for a given file layout (id-
    * seeded init, fixed combine order) where KMeans' kmeans|| sampling
    * depended on its RNG. Centroids are a driver-side k×dim array
    * (tiny) folded into the probe expression; the corpus shuffle is
    * one groupBy-free equi-join on cell id. `seed` is retained for
    * API stability but unused — determinism now comes from ids.
    */
  /** Primitive-array coarse-quantizer kernels, shared by every IVF
    * family path. A scala UDF over array<float> receives a Seq whose
    * per-element apply goes through a boxed view, and the assignment
    * loop reads each element nCells times — one bulk `toArray` copy up
    * front (arraycopy / single unbox per element) keeps the
    * O(nCells·dim) inner loop on primitive doubles, the byte-slice-
    * hasher shape used everywhere else in this package. */
  private[graft] def nearestCellKernel(
      cs: Array[Array[Double]], vs: Seq[Float]): Int = {
    val v = vs.toArray
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cj = cs(c)
      var s = 0.0; var j = 0
      while (j < cj.length) { val diff = v(j) - cj(j); s += diff * diff; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** The `nProbe` nearest coarse cells by squared distance (ties by
    * cell id, as the previous stable sortBy produced). */
  private[graft] def probeCellsKernel(
      cs: Array[Array[Double]], vs: Seq[Float], nP: Int): Array[Int] = {
    val v = vs.toArray
    val d2 = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      val cj = cs(c)
      var s = 0.0; var j = 0
      while (j < cj.length) { val diff = v(j) - cj(j); s += diff * diff; j += 1 }
      d2(c) = s
      c += 1
    }
    cs.indices.sortBy(i => (d2(i), i)).take(nP).toArray
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 16,
      nProbe: Int = 4, seed: Long = 7L): DataFrame = {
    val centroids = pqTrain(corpus, 1, nCells).head
    val bcCells = queries.sparkSession.sparkContext.broadcast(centroids)
    val cellOf = udf { (v: Seq[Float]) => nearestCellKernel(bcCells.value, v) }
    val cells = corpus
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
        cellOf(col("embedding")).as("cell"))
    val nP = nProbe
    val probeCells =
      udf { (v: Seq[Float]) => probeCellsKernel(bcCells.value, v, nP) }
    val probed = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        explode(probeCells(col("embedding"))).as("cell"))
    val cands = probed.join(cells, "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    topKPerQuery(cands, k)
  }

  def ivfTop1(queries: DataFrame, corpus: DataFrame, nCells: Int = 16,
      nProbe: Int = 4, seed: Long = 7L): DataFrame =
    ivfTopK(queries, corpus, 1, nCells, nProbe, seed).drop("rank")

  // ---------------------------------------------------------------- queries

  /** Brute-force exact top-1 oracle vs DuckDB list_cosine_similarity.
    * Query set = the fixed probe panel; corpus = all.
    */
  val brute = QueryDef.sql("v1_cosine_top1", top1OracleSql()) {
    (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTop1(probePanel(emb), emb)
  }

  /** LSH ANN entry with a REAL oracle: the output is the ground-truth
    * top-1 set (the recall denominator), which DuckDB recomputes by
    * brute force — so the "truth" the recall is measured against is
    * cross-engine hash-verified in this very query, not just trusted
    * from the engine's own brute-force path. The LSH result enters
    * through the gate: rows are emitted only when recall@1 ≥ 0.7, so a
    * recall regression empties the output and fails the row-count
    * compare loudly. Deterministic seed ⇒ deterministic recall. This
    * synthetic corpus is near-isotropic (top-1 cosine ≈ 0.4), the
    * hardest regime for hyperplane LSH — 16 bands × 4 bits measures
    * recall 0.9 here. On real clustered embeddings the same machinery
    * gets better recall AND better bucket reduction; tune bands/bits
    * per corpus.
    */
  val ann = QueryDef(
    "v2_ann_lsh_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).cache()
      val queries = probePanel(emb)
      // one brute-force pass serves both the recall and the output
      // (localCheckpoint: no lingering persist to leak, blocks GC-clean)
      val exact = bruteForceTop1(queries, emb).localCheckpoint(eager = true)
      val ok = recall(exact, lshTop1(queries, emb)) >= 0.7
      emb.unpersist()
      exact.filter(lit(ok))
    },
    oracle = Some(top1OracleSql()),
    benchEligible = false)

  /** Embedding-cosine near-dup detection: pairs above a high cosine
    * threshold via the LSH bucket path, verified exactly — the embedding
    * analog of d2. Oracle brute-forces the same threshold in SQL.
    */
  /** The synthetic corpus has no natural 0.99-cosine pairs (max ≈ 0.51),
    * so the corpus is unioned with a re-keyed copy of itself — planted
    * exact duplicates at cosine 1.0, the embedding analog of d1's
    * construction. Identical vectors produce identical sign sketches,
    * so LSH recall on them is exactly 1 by construction; the brute-force
    * oracle confirms the bucketed path emits precisely those pairs and
    * no false positives survive the exact-cosine verify.
    */
  val nearDup = QueryDef.sql(
    "v3_embedding_near_dup",
    """WITH u AS (SELECT vec_id, embedding FROM embeddings
      |           UNION ALL
      |           SELECT vec_id + 1000000, embedding FROM embeddings),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                   CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |      FROM u a, u b WHERE a.vec_id < b.vec_id)
      |SELECT count(*) AS n_pairs,
      |       CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT) AS pair_checksum
      |FROM p WHERE sim >= 0.99""".stripMargin) {
    (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val u = emb.unionByName(
        emb.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      val pairs = nearDupPairs(u, threshold = 0.99)
      pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("id_a") + col("id_b")), lit(0L))
          .cast("long").as("pair_checksum"))
  }

  /** IVF ANN entry, oracle-hardened the same way as v2: output = the
    * DuckDB-verified ground-truth top-1 set, gated on IVF recall@1 ≥
    * 0.6 (cells are Voronoi — neighbors across unprobed cell
    * boundaries are the known IVF failure mode, tuned via nProbe at
    * scale; 16 cells / 4 probes suffice on the near-isotropic corpus).
    */
  val ivf = QueryDef(
    "v4_ann_ivf_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).cache()
      val queries = probePanel(emb)
      // one brute-force pass serves both the recall and the output
      // (localCheckpoint: no lingering persist to leak, blocks GC-clean)
      val exact = bruteForceTop1(queries, emb).localCheckpoint(eager = true)
      val ok = recall(exact, ivfTop1(queries, emb)) >= 0.6
      emb.unpersist()
      exact.filter(lit(ok))
    },
    oracle = Some(top1OracleSql()),
    benchEligible = false)

  /** Brute-force top-3 oracle: the same probe set as v1 with full
    * per-rank parity — DuckDB recomputes every (qid, rank, nid, sim)
    * row, so rank assignment and the deterministic tiebreak are
    * cross-engine checked beyond rank 1.
    */
  val bruteK = QueryDef.sql(
    "v5_cosine_topk",
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < $ProbePanelSize),
      |s AS (SELECT qid, e.vec_id AS nid,
      |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
      |      FROM q, embeddings e WHERE e.vec_id != qid),
      |r AS (SELECT qid, nid, sim,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY sim DESC, nid) AS rank
      |      FROM s)
      |SELECT qid, CAST(rank AS INT) AS rank, nid, sim
      |FROM r WHERE rank <= 3""".stripMargin) {
    (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(probePanel(emb), emb, 3)
  }

  /** Embedding dedup oracle: same planted-duplicate construction as v3
    * (corpus ∪ re-keyed copy), reduced to keepers. DuckDB brute-forces
    * the ≥0.99 pair graph and propagates min labels THREE hops (same
    * insurance margin as d4/d6 — covers chained natural near-dups up
    * to diameter 3, though planted components here are diameter-1
    * pairs; the Spark side iterates to a true fixpoint regardless),
    * then both report the kept-set summary.
    */
  val embDedup = QueryDef.sql(
    "v6_embedding_dedup",
    """WITH u AS (SELECT vec_id, embedding FROM embeddings
      |           UNION ALL
      |           SELECT vec_id + 1000000, embedding FROM embeddings),
      |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
      |      FROM u a, u b
      |      WHERE a.vec_id < b.vec_id
      |        AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |              CAST(b.embedding AS DOUBLE[])), 6) >= 0.99),
      |e AS (SELECT ida AS src, idb AS dst FROM p
      |      UNION ALL SELECT idb, ida FROM p),
      |l1 AS (SELECT src AS id, least(src, min(dst)) AS lbl FROM e GROUP BY src),
      |l2 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l1 la ON la.id = e.src JOIN l1 lb ON lb.id = e.dst
      |       GROUP BY e.src),
      |l3 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l2 la ON la.id = e.src JOIN l2 lb ON lb.id = e.dst
      |       GROUP BY e.src),
      |lbl AS (SELECT u.vec_id AS id, coalesce(l3.lbl, u.vec_id) AS lbl
      |        FROM u LEFT JOIN l3 ON l3.id = u.vec_id),
      |kept AS (SELECT id FROM lbl WHERE id = lbl)
      |SELECT count(*) AS n_kept, CAST(sum(id) AS BIGINT) AS kept_checksum
      |FROM kept""".stripMargin) {
    (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val u = emb.unionByName(
        emb.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      dropEmbeddingNearDups(u, threshold = 0.99)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).cast("long").as("kept_checksum"))
  }

  // ------------------------------------------------ int8 quantization

  /** Per-dimension symmetric int8 scales: scale_i = absmax_i / 127, so
    * code = round(x/scale) always fits a signed byte. One map-side-
    * combinable aggregate (posexplode → per-dim max|x|): the shuffle is
    * dim × partitions tiny rows and the result is dim doubles on the
    * driver — broadcast back into the plan as a typed literal.
    */
  def int8Scales(emb: DataFrame, vecCol: String): Array[Double] = {
    val rows = emb.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(max(abs(col("x"))).as("m"))
      .collect()
    require(rows.nonEmpty, "int8Scales: no vectors to quantize")
    val out = new Array[Double](rows.map(_.getInt(0)).max + 1)
    rows.foreach { r =>
      val m = r.getFloat(1).toDouble
      out(r.getInt(0)) = if (m > 0) m / 127.0 else 1.0
    }
    out
  }

  /** Append int8 codes for `vecCol`: 4× smaller at rest than float32 —
    * the storage/IO lever for a 100 TB embedding corpus. Scan-local
    * `zip_with` against the literal scale vector; no UDF, no shuffle.
    */
  def quantizeInt8(emb: DataFrame, vecCol: String,
      scales: Array[Double]): DataFrame =
    emb.withColumn("codes",
      zip_with(col(vecCol), typedLit(scales),
        (x, s) => round(x.cast("double") / s).cast("tinyint")))

  /** Reconstruct float vectors from int8 codes (the asymmetric-distance
    * pattern: queries stay float32, the corpus is decoded on the fly).
    */
  def dequantizeInt8(codes: Column, scales: Array[Double]): Column =
    zip_with(codes, typedLit(scales), (q, s) => (q.cast("double") * s).cast("float"))

  /** V7 — int8 scalar quantization gate, two invariants at once:
    *  - reconstruction: mean |x − x̂| ≤ max(scale)/2 (a mathematical
    *    guarantee of round-to-nearest — exceeding it means the
    *    quantize/dequantize pair is wrong, not merely lossy);
    *  - search: recall@1 of float-query × reconstructed-corpus
    *    brute-force cosine vs the exact float path ≥ 0.9 on the v1
    *    probe set. On this near-isotropic corpus (tiny top-1 margins)
    *    that is the hard regime for quantized search, as with v2.
    * Oracle-hardened like v2/v4: the output is the exact-float
    * ground-truth top-1 set (DuckDB hash-verified); both invariants
    * gate row emission, so breaking either empties the output.
    */
  val quantized = QueryDef(
    "v7_quantized_ann_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val scales = int8Scales(emb, "embedding")
      val recon = quantizeInt8(emb, "embedding", scales)
        .select(col("vec_id"),
          col("embedding").as("orig"),
          dequantizeInt8(col("codes"), scales).as("embedding"))
        .cache()
      val dim = scales.length
      val errRow = aggregate(
        zip_with(col("orig"), col("embedding"),
          (a, b) => abs(a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, v) => acc + v) / dim
      val meanErr = recon.agg(avg(errRow)).head().getDouble(0)
      val queries = probePanel(emb)
      val exact = bruteForceTop1(queries, emb).localCheckpoint(eager = true)
      val recallOk = recall(exact, bruteForceTop1(queries,
        recon.select(col("vec_id"), col("embedding")))) >= 0.9
      recon.unpersist()
      exact.filter(lit(recallOk && meanErr <= scales.max / 2))
    },
    oracle = Some(top1OracleSql()))

  /** V8 — per-group embedding centroids: mean vector per label via
    * posexplode → (label, dim)-keyed partial→final average. The
    * relational form is the scale path: nothing but (label, dim, sum,
    * count) partials cross the shuffle — labels × dims rows total,
    * independent of corpus size — where a collect-and-average would
    * ship every vector to the driver. Floats widen to double BEFORE
    * summation (per-dim float accumulation loses ~3 digits at 1e8
    * rows). This is the centroid step IVF training runs per
    * iteration, exposed as its own operator for corpus analytics
    * (per-source drift, per-label means for whitening).
    */
  val centroids = QueryDef.sql(
    "v8_label_centroids",
    """WITH e AS (
      |  SELECT label,
      |         generate_subscripts(embedding, 1) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |c AS (SELECT label, dim, avg(v) AS m FROM e GROUP BY label, dim)
      |SELECT CAST(label AS BIGINT) AS label,
      |       count(*) AS n_dims,
      |       round(sum(abs(m)), 4) AS centroid_l1
      |FROM c GROUP BY label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(col("label"), (col("dim0") + 1).as("dim"),
        col("v").cast("double").as("v"))
    e.groupBy("label", "dim").agg(avg(col("v")).as("m"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_dims"),
        round(sum(abs(col("m"))), 4).as("centroid_l1"))
      .select(col("label").cast("long").as("label"), col("n_dims"),
        col("centroid_l1"))
  }

  // ------------------------------------------- product quantization (PQ)

  /** Train PQ codebooks (Jégou et al. 2011): the vector splits into
    * `m` subspaces; each gets its own `k`-centroid KMeans codebook.
    * Returns codebooks(sub)(code)(dim). Same seeded-MLlib training
    * path as IVF's coarse cells; each fit sees (rows × dim/m) floats.
    */
  def pqTrain(corpus: DataFrame, m: Int, k: Int,
      iters: Int = 8): Array[Array[Array[Double]]] = {
    val dimRow = corpus.select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty, "pqTrain on an empty corpus")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // FUSED Lloyd: all m subspace codebooks train TOGETHER — each
    // iteration is ONE treeAggregate pass whose accumulator is the
    // m×k×(dsub+1) partial-sum matrix (a few KB on any config). The
    // per-subspace-MLlib alternative costs m fits × ~20 Lloyd rounds
    // of paired jobs (measured 22 s at sf0.1 vs ~2 s fused); at 100 TB
    // the fused form is m× fewer corpus scans, and the tree combine
    // order is fixed by partition index, so centroids are
    // deterministic for a given file layout.
    // init: subvectors of the k lowest-id rows PAST the fixed probe
    // panel (any k rows are a fair sample of an embedding corpus; ids
    // make it deterministic). Skipping vec_id < ProbePanelSize keeps
    // the recall-gate queries out of the quantizer's init set — the
    // panel must measure an index it did not help construct. Tiny
    // corpora (< k rows past the panel: unit fixtures) fall back to
    // the lowest ids overall.
    def seedsFrom(df: DataFrame) = df.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val pool = seedsFrom(corpus.filter(col("vec_id") >= ProbePanelSize))
    val seedRows = if (pool.length == k) pool else seedsFrom(corpus)
    require(seedRows.length == k, s"need >= $k vectors, got ${seedRows.length}")
    var centroids: Array[Array[Array[Double]]] = Array.tabulate(m, k) {
      (sub, c) => seedRows(c).slice(sub * dsub, (sub + 1) * dsub).map(_.toDouble)
    }
    val vecs = corpus.select(col("embedding")).rdd
      .map(_.getSeq[Float](0).toArray).cache()
    try {
      var it = 0
      while (it < iters) {
        val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
        val (sums, counts) = vecs.treeAggregate(
          (Array.ofDim[Double](m, k, dsub), Array.ofDim[Long](m, k)))(
          seqOp = { case ((s, cnt), v) =>
            val cbs = bc.value
            var sub = 0
            while (sub < m) {
              var best = 0; var bestD = Double.MaxValue
              var c = 0
              while (c < k) {
                var d2 = 0.0; var j = 0
                while (j < dsub) {
                  val diff = v(sub * dsub + j) - cbs(sub)(c)(j)
                  d2 += diff * diff; j += 1
                }
                if (d2 < bestD) { bestD = d2; best = c }
                c += 1
              }
              var j = 0
              while (j < dsub) { s(sub)(best)(j) += v(sub * dsub + j); j += 1 }
              cnt(sub)(best) += 1
              sub += 1
            }
            (s, cnt)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var sub = 0
            while (sub < m) {
              var c = 0
              while (c < k) {
                var j = 0
                while (j < dsub) { s1(sub)(c)(j) += s2(sub)(c)(j); j += 1 }
                c1(sub)(c) += c2(sub)(c)
                c += 1
              }
              sub += 1
            }
            (s1, c1)
          })
        bc.destroy()
        centroids = Array.tabulate(m, k) { (sub, c) =>
          if (counts(sub)(c) == 0) centroids(sub)(c) // empty cell: keep
          else {
            val out = new Array[Double](dsub)
            var j = 0
            while (j < dsub) {
              out(j) = sums(sub)(c)(j) / counts(sub)(c); j += 1
            }
            out
          }
        }
        it += 1
      }
      centroids
    } finally vecs.unpersist()
  }

  /** Encode each vector as `m` byte codes (nearest centroid per
    * subspace) plus the reconstruction's squared norm (needed for the
    * asymmetric cosine denominator without touching floats at query
    * time). 8 bytes + 1 double per row instead of `dim` floats — the
    * ~8-32× memory-bandwidth lever that makes a 100 TB corpus scannable
    * from RAM. Broadcast codebooks; per-partition kernel, no shuffle.
    */
  def pqEncode(corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    val enc = udf { (vs: Seq[Float]) =>
      val v = vs.toArray // bulk copy: primitive access in the m*k*dsub loop
      val cbs = bc.value
      val m = cbs.length
      val dsub = cbs(0)(0).length
      val codes = new Array[Byte](m)
      var normSq = 0.0
      var sub = 0
      while (sub < m) {
        val cb = cbs(sub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var s = 0.0; var j = 0
          while (j < dsub) {
            val diff = v(sub * dsub + j) - cb(c)(j); s += diff * diff; j += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        codes(sub) = best.toByte
        var j = 0
        while (j < dsub) { normSq += cb(best)(j) * cb(best)(j); j += 1 }
        sub += 1
      }
      (codes, normSq)
    }
    corpus.withColumn("__e", enc(col("embedding")))
      .withColumn("codes", col("__e._1"))
      .withColumn("recon_norm_sq", col("__e._2"))
      .drop("__e")
  }

  /** Asymmetric-distance (ADC) top-k: each query precomputes ONE
    * m×k dot-product table against the codebooks, then the corpus
    * scan is `m` table lookups + adds per row — never touching the
    * original floats. A top-`shortlist` per query re-ranks by exact
    * cosine against the true vectors (candidates-only — shortlist
    * rows per query, not the corpus). The full-scan-over-codes shape
    * is PQ's contract (compressed exhaustive scan); compose with IVF
    * cells when even the compressed scan is too large.
    */
  /** Per-query ADC table: one m×k dot-product table of the query's
    * subvectors against every codebook centroid. Shared by the PQ
    * exhaustive scan ([[pqTopK]]) and the PQ-scored graph beam
    * ([[GraphAnn.beamSearchPq]]). */
  private[llm] def adcTableUdf(queries: DataFrame,
      codebooks: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = queries.sparkSession.sparkContext.broadcast(codebooks)
    udf { (vs: Seq[Float]) =>
      val v = vs.toArray
      val cbs = bc.value
      val m = cbs.length; val kk = cbs(0).length; val dsub = cbs(0)(0).length
      val t = new Array[Double](m * kk)
      var sub = 0
      while (sub < m) {
        var c = 0
        while (c < kk) {
          var s = 0.0; var j = 0
          while (j < dsub) { s += v(sub * dsub + j) * cbs(sub)(c)(j); j += 1 }
          t(sub * kk + c) = s
          c += 1
        }
        sub += 1
      }
      t
    }
  }

  /** ADC lookup: approximate dot(q, recon(x)) = m table reads + adds. */
  private[llm] def adcLookupUdf(kk: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (t: Seq[Double], codes: Array[Byte]) =>
      var s = 0.0; var sub = 0
      while (sub < codes.length) {
        s += t(sub * kk + (codes(sub) & 0xFF)); sub += 1
      }
      s
    }

  def pqTopK(queries: DataFrame, corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]], k: Int,
      shortlist: Int = 64): DataFrame = {
    val codes = pqEncode(corpus, codebooks)
      .select(col("vec_id").as("nid"), col("codes"), col("recon_norm_sq"))
    val mkTable = adcTableUdf(queries, codebooks)
    val lookup = adcLookupUdf(codebooks(0).length)
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))).as("qnorm"),
      mkTable(col("embedding")).as("t"))
    val scored = q.crossJoin(codes)
      .filter(col("qid") =!= col("nid"))
      .withColumn("approx_sim",
        lookup(col("t"), col("codes")) /
          (col("qnorm") * sqrt(col("recon_norm_sq"))))
    val short = scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("approx_sim").desc, col("nid"))))
      .filter(col("rank") <= shortlist)
      .select("qid", "qv", "nid")
    val rescored = short
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid")
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    topKPerQuery(rescored, k)
  }

  /** V11 — PQ-ADC recall gate, v7-style oracle hardening: the emitted
    * rows are the exact-float ground-truth top-1 set (DuckDB recomputes
    * it by brute force — hash-verified truth), gated on the PQ path:
    * recall@1 ≥ 0.9 on the standard probe set with a 16-byte code per
    * 64-float vector, every code table m×16, every code in range. The
    * near-isotropic corpus is again the hard regime — top-1 margins
    * are tiny, so a sloppy codebook or a wrong ADC table drops recall
    * through the gate immediately.
    */
  val pq = QueryDef(
    "v11_pq_ann_recall",
    { (s, d) =>
      // cached: feeds codebook training, both top-1 paths, and the
      // code-shape check
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      // 16 subspaces × 4 dims, 16 centroids each: 16 bytes/vector —
      // 16× smaller than float32. Measured on this near-isotropic
      // corpus: recall@1 = 1.0 at sf0.01 and 0.925 at sf0.1 with the
      // default 64-deep re-rank shortlist (m=8 needed 128 for less)
      val codebooks = pqTrain(emb, m = 16, k = 16)
      val queries = probePanel(emb)
      val exact = bruteForceTop1(queries, emb).localCheckpoint(eager = true)
      val recallOk = recall(exact, pqTopK(queries, emb, codebooks, k = 1)) >= 0.9
      // code-shape invariants: m bytes per row (codes are BINARY —
      // the bytes-per-vector at-rest contract), all codes < k
      val codesOk = udf((c: Array[Byte]) =>
        c.length == 16 && c.forall(b => (b & 0xFF) < 16))
      val badCodes = pqEncode(emb, codebooks)
        .filter(!codesOk(col("codes"))).count()
      emb.unpersist()
      // `exact` is localCheckpointed — safe to release its input cache
      exact.filter(lit(recallOk && badCodes == 0))
    },
    oracle = Some(top1OracleSql()))

  // ------------------------------------------- IVF-PQ (residual IVFADC)

  /** Composed coarse+fine quantization — Jégou et al.'s IVFADC, the
    * shape a 100 TB ANN index actually runs: coarse cells bound WHICH
    * rows a query scans (nProbe/nCells of the corpus), PQ bounds the
    * BYTES per scanned row (m codes instead of dim floats). Codes are
    * trained on RESIDUALS (v − cell centroid) — residual magnitudes
    * are much smaller than raw vectors, so the same code budget
    * quantizes finer. Approximate score decomposes exactly:
    * dot(q, ĉ+r̂) = dot(q, cell centroid) [one scalar per (query,
    * probed cell)] + ADC table sum over the residual codebooks
    * [shared across cells]. Both quantizer levels train through the
    * same fused-Lloyd `pqTrain` (coarse = m=1, k=nCells).
    * Exact cosine re-ranks a bounded shortlist, as in pqTopK.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 6, m: Int = 16, kCodes: Int = 16,
      shortlist: Int = 64): DataFrame = {
    val (coarse, books) = ivfPqTrain(corpus, nCells, m, kCodes)
    val index = ivfPqEncode(corpus, coarse, books)
    ivfPqSearch(queries, index, coarse, books, corpus, k, nProbe, shortlist)
  }

  /** Train the two IVF-PQ quantizer levels: coarse cell centroids on the
    * raw vectors, then residual PQ codebooks on (v − cell centroid).
    * Both through the fused-Lloyd [[pqTrain]]. Returned arrays are the
    * whole "model" of an IVF-PQ index — a few KB regardless of corpus
    * size, which is what makes the index persistable ([[VectorIndex]]). */
  def ivfPqTrain(corpus: DataFrame, nCells: Int, m: Int, kCodes: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sc = corpus.sparkSession.sparkContext
    val coarse = pqTrain(corpus, 1, nCells).head // (cell)(dim) centroids
    val bcCoarse = sc.broadcast(coarse)
    val dim = coarse(0).length
    val cellOf = udf { (v: Seq[Float]) => nearestCellKernel(bcCoarse.value, v) }
    val residual = udf { (vs: Seq[Float], cell: Int) =>
      val v = vs.toArray
      val cs = bcCoarse.value(cell)
      Array.tabulate(dim)(j => (v(j) - cs(j)).toFloat).toSeq
    }
    val celled = corpus
      .withColumn("cell", cellOf(col("embedding")))
      .withColumn("resid", residual(col("embedding"), col("cell")))
    // residual codebooks (trained on the residual column)
    val books = pqTrain(
      celled.select(col("vec_id"), col("resid").as("embedding")), m, kCodes)
    (coarse, books)
  }

  /** Encode a corpus against trained IVF-PQ quantizers: one (nid, cell,
    * m residual codes, |ĉ + r̂|²) row per vector. Broadcast codebooks,
    * per-row kernel, no shuffle — and the output is exactly what a
    * persisted index stores per vector (m bytes + 1 double instead of
    * dim floats). */
  def ivfPqEncode(corpus: DataFrame, coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      keepCols: Seq[String] = Nil): DataFrame = {
    val sc = corpus.sparkSession.sparkContext
    val bcCoarse = sc.broadcast(coarse)
    val bcBooks = sc.broadcast(books)
    val dim = coarse(0).length
    val m = books.length
    val dsub = dim / m
    val cellOf = udf { (v: Seq[Float]) => nearestCellKernel(bcCoarse.value, v) }
    // encode: residual PQ codes + |ĉ + r̂|² for the cosine denominator
    val enc = udf { (vs: Seq[Float], cell: Int) =>
      val v = vs.toArray
      val cbs = bcBooks.value; val cs = bcCoarse.value(cell)
      val codes = new Array[Byte](m)
      val recon = new Array[Double](dim)
      var sub = 0
      while (sub < m) {
        val cb = cbs(sub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var s = 0.0; var j = 0
          while (j < dsub) {
            val diff = (v(sub * dsub + j) - cs(sub * dsub + j)) - cb(c)(j)
            s += diff * diff; j += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        codes(sub) = best.toByte
        var j = 0
        while (j < dsub) { recon(sub * dsub + j) = cb(best)(j); j += 1 }
        sub += 1
      }
      var normSq = 0.0
      var j = 0
      while (j < dim) {
        val x = cs(j) + recon(j); normSq += x * x; j += 1
      }
      (codes, normSq)
    }
    corpus
      .withColumn("cell", cellOf(col("embedding")))
      .withColumn("__e", enc(col("embedding"), col("cell")))
      .select(Seq(col("vec_id").as("nid"), col("cell")) ++
        keepCols.map(col) ++
        Seq(col("__e._1").as("codes"), col("__e._2").as("recon_norm_sq")): _*)
  }

  /** IVFADC search over an already-encoded index frame (nid, cell,
    * codes, recon_norm_sq) — the query-side half of [[ivfPqTopK]],
    * shared with the persisted-index path ([[VectorIndex.search]],
    * where `index` is a cell-partitioned parquet scan instead of a
    * just-encoded frame). Exact cosine re-ranks a bounded shortlist
    * against `corpus` (the source-of-truth float vectors, looked up by
    * id — a persisted index never stores them). */
  /** `filterCol`: when set, the search is PRE-FILTERED (v18 semantics)
    * — queries and index rows must both carry the column, and the
    * candidate join keys on (cell, filterCol), so every ADC-scored
    * candidate is already predicate-eligible. */
  def ivfPqSearch(queries: DataFrame, index: DataFrame,
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      corpus: DataFrame, k: Int, nProbe: Int = 6,
      shortlist: Int = 64, filterCol: Option[String] = None): DataFrame = {
    val sc = queries.sparkSession.sparkContext
    val bcCoarse = sc.broadcast(coarse)
    val bcBooks = sc.broadcast(books)
    val dim = coarse(0).length
    val m = books.length
    val kCodes = books(0).length
    val dsub = dim / m
    // query side: probe cells + one residual-ADC table per query +
    // one dot(q, centroid) scalar per probed cell
    val nP = nProbe
    val probeCells =
      udf { (v: Seq[Float]) => probeCellsKernel(bcCoarse.value, v, nP) }
    val mkTable = udf { (vs: Seq[Float]) =>
      val v = vs.toArray
      val cbs = bcBooks.value
      val t = new Array[Double](m * kCodes)
      var sub = 0
      while (sub < m) {
        var c = 0
        while (c < kCodes) {
          var s = 0.0; var j = 0
          while (j < dsub) { s += v(sub * dsub + j) * cbs(sub)(c)(j); j += 1 }
          t(sub * kCodes + c) = s
          c += 1
        }
        sub += 1
      }
      t
    }
    val dotCell = udf { (vs: Seq[Float], cell: Int) =>
      val v = vs.toArray
      val cs = bcCoarse.value(cell)
      var s = 0.0; var j = 0
      while (j < dim) { s += v(j) * cs(j); j += 1 }
      s
    }
    val lookup = udf { (t: Seq[Double], codes: Array[Byte]) =>
      var s = 0.0; var sub = 0
      while (sub < codes.length) {
        s += t(sub * kCodes + (codes(sub) & 0xFF)); sub += 1
      }
      s
    }
    val probed = queries
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("qnorm"),
        mkTable(col("embedding")).as("t"),
        explode(probeCells(col("embedding"))).as("cell")) ++
        filterCol.map(col).toSeq: _*)
      .withColumn("dot_cell", dotCell(col("qv"), col("cell")))
    // cell-keyed (plus the predicate column when pre-filtering):
    // probed cells only
    val scored = probed.join(index, Seq("cell") ++ filterCol.toSeq)
      .filter(col("qid") =!= col("nid"))
      .withColumn("approx_sim",
        (col("dot_cell") + lookup(col("t"), col("codes"))) /
          (col("qnorm") * sqrt(col("recon_norm_sq"))))
    val short = scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("approx_sim").desc, col("nid"))))
      .filter(col("rank") <= shortlist)
      .select("qid", "qv", "nid")
    val rescored = short
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid")
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    topKPerQuery(rescored, k)
  }

  /** V12 — IVF-PQ recall gate, v4/v11-hardened: output is the exact
    * brute-force truth (DuckDB hash-verified), emitted only when the
    * composed index reaches recall@1 ≥ 0.6 (v4's IVF bar — the cell
    * pruning dominates the loss; PQ's extra quantization must not
    * push below it) AND the scan-bound invariant holds: the ADC stage
    * scans at most ~nProbe/nCells of (corpus × queries) candidate
    * rows — the point of IVF — checked against the actual cell
    * assignment counts.
    */
  val ivfpq = QueryDef(
    "v12_ivfpq_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      val queries = probePanel(emb)
      val exact = bruteForceTop1(queries, emb).localCheckpoint(eager = true)
      val recallOk = recall(exact, ivfPqTopK(queries, emb, k = 1)) >= 0.6
      // scan-bound invariant: the coarse cells must actually partition
      // the corpus — re-derive the (deterministic) cell assignment and
      // check the default 6-probe query scans at most 4/5 of the
      // corpus (at 16 healthy cells it scans ~3/8, measured recall
      // 0.9 at sf0.01 / 0.8 at sf0.1). A degenerate one-cell
      // clustering would silently turn IVF into a full scan.
      val coarse = pqTrain(emb, 1, 16)
      val firstCode = udf((c: Array[Byte]) => c(0) & 0xFF)
      val cellHist = pqEncode(emb, coarse)
        .select(firstCode(col("codes")).as("cell"))
        .groupBy("cell").count().collect().map(_.getLong(1)).sortBy(-_)
      val corpusN = cellHist.sum.toDouble
      val worstProbeFrac = cellHist.take(6).sum / corpusN
      val cellsOk = cellHist.length >= 8 && worstProbeFrac <= 0.8
      emb.unpersist()
      exact.filter(lit(recallOk && cellsOk))
    },
    oracle = Some(top1OracleSql()))

  // ------------------------------------------------ multi-vector MaxSim

  /** ColBERT-style late-interaction score (Khattab & Zaharia, SIGIR
    * 2020): treat each 64-dim embedding as 4 independent 16-dim
    * "token" sub-vectors; score(q, d) = Σ_i max_j cos(q_i, d_j). Each
    * pairwise cosine rounds to 6dp BEFORE the max/sum so both engines
    * combine identical doubles in an identical order — the same
    * determinism contract every cosine gate here uses. All 16 cosines
    * are scan-local native-codegen expressions over array SLICES (no
    * explode, no shuffle per sub-vector).
    *
    * Scale path: this is the exact re-rank stage; at corpus scale the
    * candidate set comes from per-sub-vector ANN (v2's LSH bands or
    * v12's IVF-PQ cells, one probe per query sub-vector, union the
    * hits) — retrieval-then-MaxSim exactly as the paper deploys it.
    * The gated query IS the brute-force truth over the fixed
    * probe panel, hash-verified cross-engine like v1.
    */
  def maxSimScore(qv: Column, nv: Column, subDim: Int = 16,
      nSub: Int = 4): Column =
    (0 until nSub).map { i =>
      greatest((0 until nSub).map { j =>
        round(cosine(slice(qv, i * subDim + 1, subDim),
          slice(nv, j * subDim + 1, subDim)), 6)
      }: _*)
    }.reduce(_ + _)

  private def maxSimOracleSql(subDim: Int, nSub: Int): String = {
    def sl(v: String, k: Int) = s"$v[${k * subDim + 1}:${(k + 1) * subDim}]"
    val score = (0 until nSub).map { i =>
      "greatest(" + (0 until nSub).map { j =>
        s"round(list_cosine_similarity(${sl("q.v", i)}, ${sl("c.v", j)}), 6)"
      }.mkString(", ") + ")"
    }.mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE vec_id < $ProbePanelSize),
       |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |s AS (SELECT qid, nid, $score AS sim
       |      FROM q JOIN c ON qid <> nid),
       |r AS (SELECT qid, nid, sim, row_number() OVER (
       |        PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
       |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin
  }

  /** Exact MaxSim top-1 over (queries × corpus) — the truth both the
    * v13 gate and the v16 recall measurement share, as the expression
    * crossJoin plan. Kept as the composable/SQL-shaped form; the gated
    * queries run [[maxSimTop1Kernel]] (identical arithmetic, ~4×
    * faster — the 16 slice-cosines per pair re-walk the arrays through
    * interpreted HOF slices here). */
  def maxSimTop1Expr(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val scored = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("nid"),
        col("embedding").as("nv")))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", maxSimScore(col("qv"), col("nv")))
    topKPerQuery(scored, 1).drop("rank")
  }

  /** Kernel form of the exact MaxSim truth: corpus broadcast once
    * (gate-scale panels only — production retrieval is the v16 ANN
    * path), per-partition primitive loops with the IDENTICAL
    * arithmetic contract as [[maxSimScore]] / the DuckDB oracle —
    * fused dot/norm accumulation in index order per 16-dim slice,
    * each cosine rounded HALF_UP to 6dp (BigDecimal, matching Spark's
    * `round` and DuckDB's), max over j then sum over ascending i,
    * ties broken to the lowest neighbor id (corpus scanned in id
    * order, strict >). Cross-engine parity is enforced by the v13/v16
    * oracles hash-matching; expression-vs-kernel equality is asserted
    * in TextDedupSpec.
    */
  def maxSimTop1Kernel(queries: DataFrame, corpus: DataFrame,
      subDim: Int = 16, nSub: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val corpusArr = corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    import spark.implicits._
    // empty corpus: no neighbor exists for any query — empty result,
    // never a sentinel (Long.MaxValue, -inf) row
    if (corpusArr.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("qid", "nid", "sim")
    val bc = spark.sparkContext.broadcast(corpusArr)
    queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (qid, q) =>
          var bestSim = Double.NegativeInfinity
          var bestNid = Long.MaxValue
          var c = 0
          while (c < cs.length) {
            val nid = cs(c)._1
            if (nid != qid) {
              val v = cs(c)._2
              var score = 0.0
              var i = 0
              while (i < nSub) {
                var best = Double.NegativeInfinity
                var j = 0
                while (j < nSub) {
                  var dot = 0.0; var na = 0.0; var nb = 0.0
                  var k = 0
                  while (k < subDim) {
                    val x = q(i * subDim + k).toDouble
                    val y = v(j * subDim + k).toDouble
                    dot += x * y; na += x * x; nb += y * y
                    k += 1
                  }
                  val cos = java.math.BigDecimal
                    .valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
                    .setScale(6, java.math.RoundingMode.HALF_UP)
                    .doubleValue()
                  if (cos > best) best = cos
                  j += 1
                }
                score += best
                i += 1
              }
              if (score > bestSim) { bestSim = score; bestNid = nid }
            }
            c += 1
          }
          (qid, bestNid, bestSim)
        }
        // a query whose only corpus row is itself has no neighbor:
        // drop it (matches the crossJoin form) instead of emitting the
        // (MaxValue, -inf) sentinel
        .filter(_._2 != Long.MaxValue)
      }.toDF("qid", "nid", "sim")
  }

  /** Kernel eligibility bound for [[maxSimTop1]]: 64 floats + row
    * overhead ≈ 600 B/vector, so 200k rows ≈ 120 MB collected+broadcast
    * — comfortably driver-safe, while anything larger routes to the
    * fully-distributed crossJoin form. */
  val MaxSimKernelMaxCorpus = 200000L

  /** Exact MaxSim top-1, routed by corpus size: the broadcast kernel is
    * ~3× faster but collects the corpus to the driver, so it is ONLY
    * for bounded corpora (gate panels, shortlists); past
    * [[MaxSimKernelMaxCorpus]] rows the crossJoin expression form runs
    * instead — O(|Q|×N) distributed work, O(1) driver memory. The
    * routing count is one cheap scan against corpus cardinality.
    * (Production retrieval at corpus scale is the v16 ANN path either
    * way; this exact form is the truth side.) */
  def maxSimTop1(queries: DataFrame, corpus: DataFrame): DataFrame =
    if (corpus.limit((MaxSimKernelMaxCorpus + 1).toInt).count()
        <= MaxSimKernelMaxCorpus)
      maxSimTop1Kernel(queries, corpus)
    else maxSimTop1Expr(queries, corpus)

  /** V13 — exact MaxSim top-1 for the probe queries, FULL DuckDB
    * oracle (identical slice/round/max/sum arithmetic). */
  val maxsim = QueryDef.sql("v13_maxsim_multivector", maxSimOracleSql(16, 4)) {
    (s, d) =>
      val emb = Tables.embeddings(s, d)
      maxSimTop1(probePanel(emb), emb)
  }

  /** ANN path for multi-vector MaxSim — the retrieval-then-rescore
    * deployment shape of late interaction, candidate generation PER
    * QUERY SUB-VECTOR exactly as ColBERT retrieves per query token
    * embedding (Khattab & Zaharia 2020 §4): explode both sides into
    * their subDim-dim sub-vectors (synthetic id = vec_id·nSub + sub
    * packs (doc, sub) into one key space), IVF-shortlist each query
    * sub-vector's `perSub` nearest corpus SUB-vectors (reusing
    * [[ivfTopK]] on the exploded table), union the hit DOC ids across
    * the nSub sub-searches, then run the exact 16-cosine MaxSim kernel
    * on candidates only. Per-sub-vector retrieval is the proxy that
    * actually tracks the score — Σ_i max_j cos(q_i, d_j) is driven by
    * individual strong (q_i, d_j) pairs, which single-vector poolings
    * wash out (measured on this corpus: mean-pool recall@1 0.6–0.7 vs
    * 0.97–1.0 for this shape at the same candidate budget). Work per
    * query is candidate-bounded: ≤ nSub·perSub MaxSim kernels instead
    * of O(N). At corpus scale, nCells grows ~√(N·nSub) so probed cells
    * stay a vanishing corpus fraction.
    */
  def maxSimAnnTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      perSub: Int = 64, subDim: Int = 16, nSub: Int = 4,
      nCells: Int = 16, nProbe: Int = 8, seed: Long = 7L): DataFrame = {
    def subVecs(df: DataFrame) =
      df.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(nSub - 1))).as("sub"))
        .select((col("vec_id") * nSub + col("sub")).as("vec_id"),
          slice(col("embedding"), col("sub") * subDim + 1, lit(subDim))
            .as("embedding"))
    val candidates = ivfTopK(subVecs(queries), subVecs(corpus), perSub,
        nCells, nProbe, seed)
      .select((col("qid") / nSub).cast("long").as("qid"),
        (col("nid") / nSub).cast("long").as("nid"))
      .filter(col("qid") =!= col("nid")).distinct()
    val rescored = candidates
      .join(queries.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid")
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid")
      .withColumn("sim", maxSimScore(col("qv"), col("nv"), subDim, nSub))
    topKPerQuery(rescored, k)
  }

  /** V16 — MaxSim ANN recall gate, v12-hardened: output is the exact
    * MaxSim truth over the probe panel (DuckDB hash-verifies the full
    * 16-cosine replay — same oracle as v13), emitted only when the
    * per-sub-vector-IVF + exact-rescore path reaches recall@1 ≥ 0.9
    * (measured 1.0 at sf0.01, 0.975 at sf0.1 with the defaults). This
    * closes the one ANN gap v13 left: every single-vector path had a
    * production shortlist (v2/v4/v7/v11/v12); MaxSim now does too.
    */
  val maxsimAnn = QueryDef(
    "v16_maxsim_ann_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).cache()
      val queries = probePanel(emb)
      val exact = maxSimTop1(queries, emb).localCheckpoint(eager = true)
      val ok = recall(exact, maxSimAnnTopK(queries, emb, k = 1)) >= 0.9
      emb.unpersist()
      exact.filter(lit(ok)).select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(maxSimOracleSql(16, 4)))

  // -------------------------------------------- MMR diversified re-rank

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): from a per-query candidate shortlist, greedily pick
    * the item maximizing λ·sim(q, d) − (1−λ)·max_{s∈selected}
    * sim(d, s) — the standard diversity pass between retrieval and
    * consumption (RAG context assembly, dedup of near-identical
    * hits). Ties break on candidate id.
    *
    * Scale shape: candidates arrive ALREADY grouped per query (any ANN
    * path supplies them); the greedy runs as a per-partition kernel
    * over one query's shortlist at a time — O(k·|cand|) scalar work on
    * ≤shortlist-sized arrays, zero shuffle beyond the grouping the
    * retrieval already did. The corpus never participates.
    */
  def mmrRerank(candidates: DataFrame, queries: DataFrame, k: Int,
      lambda: Double, quantize: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1]: $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val qv = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val grouped = candidates
      .join(qv, "qid")
      .groupBy("qid", "qv")
      .agg(collect_list(struct(col("nid"), col("nv"))).as("cands"))
      .select(col("qid"), col("qv"), col("cands"))
      .as[(Long, Seq[Float], Seq[(Long, Seq[Float])])]
    grouped.flatMap { case (qid, qv, cands) =>
      val q = qv.toArray
      val items = cands.sortBy(_._1).map { case (id, v) => (id, v.toArray) }
      def cosRaw(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < math.min(a.length, b.length)) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      // HALF_UP at 6 decimals == Spark SQL round() == DuckDB round():
      // the same rule the brute-force gates rely on
      def q6(x: Double): Double =
        if (java.lang.Double.isFinite(x))
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else x
      // `quantize` snaps every similarity to 6 decimals BEFORE the
      // greedy, making each step's argmax a decision on cross-engine-
      // identical values (ties broken by ascending id): the exact
      // precondition the v14 DuckDB unrolled replay needs. Off by
      // default — full double precision when no oracle is replaying.
      def cos(a: Array[Float], b: Array[Float]): Double =
        if (quantize) q6(cosRaw(a, b)) else cosRaw(a, b)
      val rel = items.map { case (_, v) => cos(q, v) }
      val selected = scala.collection.mutable.ArrayBuffer[Int]()
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Double, Double)]()
      while (selected.size < math.min(k, items.size)) {
        var bestIdx = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < items.size) {
          if (!selected.contains(i)) {
            val div = if (selected.isEmpty) 0.0
              else selected.map(j => cos(items(i)._2, items(j)._2)).max
            val score = lambda * rel(i) - (1 - lambda) * div
            // strict > with ascending id order = deterministic tie-break
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          i += 1
        }
        selected += bestIdx
        out += ((items(bestIdx)._1, selected.size, rel(bestIdx), bestScore))
      }
      // mmr_score is emitted at SEVEN decimals: with quantized inputs
      // the score is a multiple of (1−λ)·1e-6 = 5e-7, so its 6-decimal
      // rounding sits EXACTLY on the half boundary for odd multiples —
      // where engines' rounding paths (BigDecimal on the exact binary
      // value vs scaled-float nearbyint) legitimately disagree. At 7
      // decimals the value is boundary-free on both.
      def q7(x: Double): Double =
        if (java.lang.Double.isFinite(x))
          BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
        else x
      out.iterator.map { case (nid, rank, r, sc) =>
        (qid, rank, nid, q6(r), q7(sc)) }
    }.toDF("qid", "rank", "nid", "relevance", "mmr_score")
  }

  /** Unrolled DuckDB replay of the greedy MMR itself (same recipe as
    * c17/a12/g1: one MATERIALIZED CTE per greedy step). Valid because
    * the gated kernel runs with `quantize = true`: every similarity is
    * snapped to 6 decimals (HALF_UP — Spark round == DuckDB round)
    * before any comparison, so each step's argmax decides on values
    * both engines agree on bit-for-bit, with ties broken by ascending
    * id on both sides. λ is 1/2 (exact in binary, so λ·rel − (1−λ)·div
    * is the same IEEE arithmetic on the same inputs).
    */
  private def mmrOracleSql(shortlist: Int, k: Int): String = {
    val base =
      s"""WITH q AS MATERIALIZED (SELECT vec_id AS qid,
         |         CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id < $ProbePanelSize),
         |sc AS MATERIALIZED (SELECT qid, e.vec_id AS nid,
         |        round(list_cosine_similarity(qv,
         |          CAST(e.embedding AS DOUBLE[])), 6) AS sim
         |      FROM q, embeddings e WHERE e.vec_id != qid),
         |cand AS MATERIALIZED (SELECT qid, nid, sim FROM (
         |        SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
         |          ORDER BY sim DESC, nid) AS rn FROM sc)
         |      WHERE rn <= $shortlist),
         |pw AS MATERIALIZED (SELECT a.qid, a.nid AS i, b.nid AS j,
         |        round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |          CAST(eb.embedding AS DOUBLE[])), 6) AS s
         |      FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid != b.nid
         |      JOIN embeddings ea ON ea.vec_id = a.nid
         |      JOIN embeddings eb ON eb.vec_id = b.nid),
         |s1 AS MATERIALIZED (SELECT qid, nid, sim AS rel, 0.5 * sim AS score
         |      FROM (SELECT qid, nid, sim, row_number() OVER (
         |              PARTITION BY qid ORDER BY 0.5 * sim DESC, nid) AS rn
         |            FROM cand) WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT qid, nid FROM s1)""".stripMargin
    val steps = (2 to k).map { t =>
      val p = t - 1
      s"""s$t AS MATERIALIZED (SELECT qid, nid, rel, score FROM (
         |  SELECT c.qid, c.nid, c.sim AS rel,
         |         0.5 * c.sim - 0.5 * d.mx AS score,
         |         row_number() OVER (PARTITION BY c.qid
         |           ORDER BY (0.5 * c.sim - 0.5 * d.mx) DESC, c.nid) AS rn
         |  FROM cand c
         |  JOIN (SELECT p.qid, p.i AS nid, max(p.s) AS mx
         |        FROM pw p JOIN sel$p s ON p.qid = s.qid AND p.j = s.nid
         |        GROUP BY 1, 2) d ON d.qid = c.qid AND d.nid = c.nid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$p x
         |                    WHERE x.qid = c.qid AND x.nid = c.nid)) t
         |  WHERE rn = 1),
         |sel$t AS MATERIALIZED (SELECT qid, nid FROM sel$p
         |       UNION ALL SELECT qid, nid FROM s$t)""".stripMargin
    }
    val tail = (1 to k).map { t =>
      s"""SELECT qid, CAST($t AS BIGINT) AS rank, nid, rel AS relevance,
         |       round(score, 7) AS mmr_score FROM s$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    (base +: steps).mkString(",\n") + "\n" + tail
  }

  /** V14 — MMR re-rank of each probe query's top-32 shortlist down to
    * 8 diverse hits, FULL DuckDB oracle since round 11: the greedy is
    * replayed step-by-step in SQL ([[mmrOracleSql]]) against the
    * quantized kernel. The previous rows-only golden gates stay as
    * belt (emission is still conditional on them): (1) rank 1 is
    * exactly the plain cosine top-1 (MMR's first pick is pure
    * relevance); (2) the selected set's maximum pairwise cosine is ≤
    * the plain top-8's for every query, strictly smaller for ≥ 20% of
    * queries (the diversity the pass exists to buy — a property the
    * replay alone would not falsify); (3) exactly 8 rows per query.
    */
  val mmr = QueryDef(
    "v14_mmr_rerank",
    { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = probePanel(emb)
    // ONE brute-force pass: the top-32 shortlist is a superset of both
    // the plain top-8 and the top-1 this gate compares against —
    // deriving them by rank filter instead of re-cross-joining saved
    // two panel × corpus scored joins (measured 2.4 → 1.2 s at sf0.1)
    val top32 = bruteForceTopK(queries, emb, 32)
      .localCheckpoint(eager = true)
    val shortlist = top32
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid")
      .select(col("qid"), col("nid"), col("nv"))
    val picked = mmrRerank(shortlist, queries, k = 8, lambda = 0.5,
      quantize = true).cache()
    // per-query max pairwise cosine of a selection
    def maxPairSim(sel: DataFrame): DataFrame = {
      val a = sel.select(col("qid"), col("nid").as("a"))
        .join(emb.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      val b = sel.select(col("qid"), col("nid").as("b"))
        .join(emb.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      a.join(b, "qid").filter(col("a") < col("b"))
        .groupBy("qid")
        .agg(max(cosine(col("va"), col("vb"))).as("max_pair"))
    }
    val plain8 = top32.filter(col("rank") <= 8)
      .select(col("qid"), col("nid"))
    val mmrPair = maxPairSim(picked.select("qid", "nid"))
      .withColumnRenamed("max_pair", "mmr_pair")
    val topPair = maxPairSim(plain8).withColumnRenamed("max_pair", "top_pair")
    val top1 = top32.filter(col("rank") === 1).select(col("qid"),
      col("nid").as("top1"))
    val joined = picked.filter(col("rank") === 1)
      .join(top1, "qid").join(mmrPair, "qid").join(topPair, "qid")
    val counts = picked.groupBy("qid").agg(count(lit(1)).as("n"))
    val nQ = queries.count()
    val stats = joined.agg(
      sum(when(col("nid") === col("top1"), 1L).otherwise(0L)).as("n_top1_ok"),
      sum(when(col("mmr_pair") <= col("top_pair") + 1e-9, 1L).otherwise(0L))
        .as("n_no_worse"),
      sum(when(col("mmr_pair") < col("top_pair") - 1e-6, 1L).otherwise(0L))
        .as("n_strictly_diverse"),
      count(lit(1)).as("n_q")).head()
    val allK = counts.filter(col("n") === 8).count()
    // the golden gates stay as belt: emission of the replayed rows is
    // conditional on every invariant holding
    val ok = stats.getLong(3) == nQ && stats.getLong(0) == nQ &&
      stats.getLong(1) == nQ && allK == nQ && stats.getLong(2) * 5 >= nQ
    // collect-and-rebuild (8 rows/query): no cached frame outlives the
    // query (the s9 unpersist discipline)
    val rows = picked
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        col("relevance"), col("mmr_score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    picked.unpersist()
    val spark = s; import spark.implicits._
    rows.toSeq.toDF("qid", "rank", "nid", "relevance", "mmr_score")
      .filter(lit(ok))
  },
    oracle = Some(mmrOracleSql(32, 8)))

  /** V15 — hard-negative mining for retrieval training (the DPR /
    * Contriever data-prep step, Karpukhin et al. 2020): for each query
    * doc, the top-5 MOST similar corpus docs that sit BELOW the
    * near-duplicate bar (cos < 0.8) — similar enough to be hard,
    * dissimilar enough to be true negatives. The exclusion bar is what
    * distinguishes this from plain top-k: without it, mined
    * "negatives" are the duplicates/positives themselves and training
    * collapses. FULL DuckDB oracle (v1's cosine replay + the bar).
    * Scale path: ANN shortlist (v2/v12) then bar+rank on candidates —
    * here the gated query IS the brute-force truth over the probe set.
    */
  private val hardNegOracleSql =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < $ProbePanelSize),
       |s AS (SELECT qid, e.vec_id AS nid,
       |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
       |      FROM q, embeddings e WHERE e.vec_id != qid),
       |r AS (SELECT qid, nid, sim,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY sim DESC, nid) AS rn
       |      FROM s WHERE sim < 0.8)
       |SELECT qid, CAST(rn AS INT) AS rank, nid, sim
       |FROM r WHERE rn <= 5""".stripMargin

  val hardNeg = QueryDef.sql("v15_hard_negatives", hardNegOracleSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    hardNegativesExact(probePanel(emb), emb, bar = 0.8, k = 5)
  }

  /** Exact hard-negative kernel: top-k most-similar below the near-dup
    * bar, over (queries × corpus) — the truth side of v15 and v17. */
  def hardNegativesExact(queries: DataFrame, corpus: DataFrame,
      bar: Double, k: Int): DataFrame = {
    val scored = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("nid"),
        col("embedding").as("nv")))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
      .filter(col("sim") < bar)
    topKPerQuery(scored, k)
  }

  /** ANN hard-negative mining — the production path v15's scaladoc
    * promises: IVF-shortlist each query's top-`shortlist` approximate
    * neighbors (exact rounded cosine on candidates, as ivfTopK
    * computes), THEN apply the near-dup bar and re-rank to top-k on
    * candidates only. Candidate work per query is shortlist-bounded;
    * the corpus never cross-joins. */
  def hardNegativesAnn(queries: DataFrame, corpus: DataFrame, bar: Double,
      k: Int, shortlist: Int = 64, nCells: Int = 16, nProbe: Int = 6,
      seed: Long = 7L): DataFrame = {
    val short = ivfTopK(queries, corpus, shortlist, nCells, nProbe, seed)
      .filter(col("sim") < bar)
      .select(col("qid"), col("nid"), col("sim"))
    topKPerQuery(short, k)
  }

  /** V17 — hard-negative mining recall gate, v2/v4-hardened: output is
    * the exact v15 truth (same DuckDB oracle), emitted only when the
    * ANN-mined top-5 set recovers ≥ 70% of the exact top-5 set across
    * the probe panel (set recall@5 — the metric that matters for a
    * mining pass: missing a few interchangeable near-ties is the
    * designed trade, missing most of them means the shortlist is
    * broken). Closes the last brute-force-only gated plan from the
    * round-8 verdict.
    */
  val hardNegAnn = QueryDef(
    "v17_hard_negatives_ann",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).cache()
      val queries = probePanel(emb)
      val exact = hardNegativesExact(queries, emb, bar = 0.8, k = 5)
        .localCheckpoint(eager = true)
      val ok = recall(exact,
        hardNegativesAnn(queries, emb, bar = 0.8, k = 5)) >= 0.7
      emb.unpersist()
      exact.filter(lit(ok))
    },
    oracle = Some(hardNegOracleSql))

  /** FILTERED ANN — vector search under a metadata predicate (here:
    * same `label`), the capability every production vector store
    * exposes and the one plain ANN composes badly with: POST-filtering
    * a top-k shortlist starves when the predicate is selective (a
    * label holds ~10% of the corpus, so a 64-deep unfiltered shortlist
    * carries ~6 eligible rows — top-1 recall collapses). This is the
    * PRE-FILTER path: the predicate joins INTO the candidate
    * generation ((cell, label) equi-join keys), so every candidate
    * scored is already eligible and the probed-cell scan bound is
    * kept. At 100 TB the same plan rides a (label, cell)-partitioned
    * index layout — st14's store with one more partition column.
    */
  def filteredIvfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      filterCol: String, nCells: Int = 16, nProbe: Int = 8,
      seed: Long = 7L): DataFrame = {
    // nProbe default is 8, not unfiltered IVF's 6: the predicate cuts
    // each query's eligible set ~10x, so the true neighbor more often
    // sits past the first few cells — wider probing is the standard
    // filtered-search compensation and the filter join still bounds the
    // scanned rows (measured recall@1 at nProbe 6→8: 0.53→0.75 at
    // sf0.001, 0.75→0.78 at sf0.01, 0.68→0.88 at sf0.1).
    val centroids = pqTrain(corpus, 1, nCells).head
    val bcCells = queries.sparkSession.sparkContext.broadcast(centroids)
    val cellOf = udf { (v: Seq[Float]) => nearestCellKernel(bcCells.value, v) }
    val nP = nProbe
    val probeCells =
      udf { (v: Seq[Float]) => probeCellsKernel(bcCells.value, v, nP) }
    val cells = corpus.select(col("vec_id").as("nid"),
      col("embedding").as("nv"), col(filterCol).as("__f"),
      cellOf(col("embedding")).as("cell"))
    val probed = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"), col(filterCol).as("__f"),
      explode(probeCells(col("embedding"))).as("cell"))
    val cands = probed.join(cells, Seq("cell", "__f"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 6))
    topKPerQuery(cands, k)
  }

  /** V18 — filtered-ANN recall gate, v4-hardened: output is the exact
    * within-label truth (DuckDB replays the label-join brute force),
    * emitted only when the PRE-FILTER ANN path reaches recall@1 ≥ 0.6
    * (the v4 IVF bar; the predicate makes each query's eligible set
    * ~10× smaller, which is exactly when post-filtering would starve).
    */
  val filteredAnn = QueryDef(
    "v18_filtered_ann_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val queries = probePanel(emb)
      val exact = bruteForceTop1(queries, emb, Some("label"))
        .localCheckpoint(eager = true)
      val ok = recall(exact, filteredIvfTopK(queries, emb, 1, "label")) >= 0.6
      emb.unpersist()
      exact.filter(lit(ok))
    },
    oracle = Some(top1OracleSql(filterCol = Some("label"))),
    benchEligible = false)

  def all: Seq[QueryDef] =
    Seq(brute, bruteK, ann, nearDup, embDedup, ivf, quantized, centroids, pq,
      ivfpq, maxsim, maxsimAnn, mmr, hardNeg, hardNegAnn, filteredAnn)
}
