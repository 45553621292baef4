package graft.llm

import graft.{QueryDef, Tables}
import graft.store.{Meta, Op, StageSwap, Table, Tombstones}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Persisted IVF-PQ vector index: build ONCE, query many times.
  *
  * Every other ANN query in this repo trains its quantizers inside the
  * query (fine for a gate, wrong for production): at 100 TB the index
  * build is a full-corpus job you run once — two fused-Lloyd training
  * passes plus one encode scan — and then amortize over thousands of
  * searches, each of which touches only `nProbe/nCells` of the stored
  * codes. Reference analog: the model artifact persisted for reuse in
  * daxos/read.py:11-31 — the same save/load/reuse shape applied to a
  * vector index.
  *
  * A store has one of two layouts, chosen at [[build]] by `filterCol`
  * and recorded in meta; every later op reads it from there, so the
  * stored layout, not the caller, decides how an op partitions and how
  * a query is routed (REPOSE's partition-local index, ICDE 2021):
  *   - cell-only (`filterCol = None`): codes under `cell=K/`;
  *   - pre-filtered (`filterCol = Some(c)`): codes under
  *     `c=V/cell=K/`, so a filtered search prunes both levels.
  *
  * On-disk layout under `dir` (all parquet — readable by any engine):
  *   - `meta/`       one row of [[StoreMeta]]; `filter_col` is `""` for
  *                   the cell-only layout. [[ensure]] validates it
  *                   before trusting the index; any mismatch rebuilds.
  *   - `codebooks/`  (level, sub, code, vals): level 0 = the nCells
  *                   coarse centroids, level 1 = the m×kCodes residual
  *                   PQ codebooks. A few KB total — the whole "model".
  *   - `codes/`      partitioned by the layout's columns: (nid, codes,
  *                   recon_norm_sq) — m bytes + one double per vector,
  *                   16-32× smaller than the float corpus. Every rewrite
  *                   of it stages under `codes_staging/`
  *                   ([[graft.store.StageSwap]]).
  *   - `tombstones/` deleted ids not yet folded in by [[compact]].
  *
  * Search ([[search]]) loads the codebooks (driver-side, KB), computes
  * the distinct probed cells of the query set with ONE aggregate over
  * the (small) query side, and scans ONLY those `cell=` directories —
  * the predicate is an `IN` list of literals, so Spark prunes partition
  * directories statically; the 100 TB code store is touched only where
  * probed. Exact re-rank then joins the shortlist back to the source
  * corpus by id (an index never stores the original floats — the source
  * table remains the single source of truth, exactly like st14's
  * streaming variant at Streams.scala:820).
  */
object VectorIndex {

  /** Incremented on every [[build]]; lets a spec assert the second
    * [[ensure]] call is a pure load (build-once amortization) without a
    * flaky timing comparison. */
  @volatile var buildsThisProcess: Int = 0

  final case class Loaded(
      coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      codes: DataFrame,
      nVectors: Long,
      filterCol: Option[String])

  /** `meta/`: corpus fingerprint (count + order-independent xxhash64 XOR
    * over (vec_id, embedding[, filter column])), dims, quantizer shape
    * and the layout's filter column (`""` = cell-only: sidecars hold no
    * nulls). */
  private val StoreMeta = Meta("vector index", 2,
    "n_vectors" -> LongType, "checksum" -> LongType, "dim" -> IntegerType,
    "n_cells" -> IntegerType, "m" -> IntegerType, "k_codes" -> IntegerType,
    "filter_col" -> StringType)

  private def filterColOf(meta: Row): Option[String] =
    Some(meta.getAs[String]("filter_col")).filter(_.nonEmpty)

  private def parts(filterCol: Option[String]): Seq[String] =
    filterCol.toSeq :+ "cell"

  private def codesT(dir: String, filterCol: Option[String]) =
    Table(s"$dir/codes", parts(filterCol): _*)
  private def tombs(dir: String) = Tombstones(dir, "nid")

  private def fingerprint(corpus: DataFrame,
      filterCol: Option[String]): (Long, Long) = {
    val hashed = ("vec_id" +: "embedding" +: filterCol.toSeq).mkString(", ")
    val r = corpus
      .agg(count(lit(1)), expr(s"bit_xor(xxhash64($hashed))"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A filtered store's rows must carry its filter column: the codes
    * are partitioned by it and the fingerprint hashes it. Checked before
    * the op writes anything. */
  private def requireFilterCol(rows: DataFrame, filterCol: Option[String],
      dir: String, op: String): Unit =
    filterCol.foreach { c =>
      require(rows.columns.contains(c),
        s"$op on the vector index at $dir needs its filter column '$c'; " +
          s"got columns ${rows.columns.mkString(", ")}")
    }

  /** Train both quantizer levels, encode the corpus, write the store.
    * Three corpus scans total (coarse Lloyd, residual Lloyd, encode) —
    * the once-per-corpus cost that [[search]] amortizes away.
    * `filterCol` picks the pre-filtered layout; the filter column joins
    * the fingerprint (a relabeled corpus must invalidate the store). */
  def build(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16,
      filterCol: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    Op.build(spark, dir, "build") {
    buildsThisProcess += 1
    val (coarse, books) = Similarity.ivfPqTrain(corpus, nCells, m, kCodes)
    val (n, sum) = fingerprint(corpus, filterCol)
    writeCodes(corpus, dir, filterCol, coarse, books, "overwrite")
    writeCodebooks(spark, dir, coarse, books)
    StoreMeta.write(spark, dir, n, sum, coarse(0).length, nCells, m, kCodes,
      filterCol.getOrElse(""))
    }
  }

  /** Encode `rows` and write them under the layout's partition columns,
    * repartitioned by those columns first: without that every task
    * writes a file into every partition it touches (tasks x partitions
    * small files — the classic partitionBy mistake at scale). */
  private def writeCodes(rows: DataFrame, dir: String,
      filterCol: Option[String], coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]], mode: String): Unit =
    Similarity.ivfPqEncode(rows, coarse, books, keepCols = filterCol.toSeq)
      .repartition(parts(filterCol).map(col): _*)
      .write.mode(mode).partitionBy(parts(filterCol): _*)
      .parquet(s"$dir/codes")

  /** Level 0 = the coarse centroids, level 1 = the PQ codebooks. */
  private def writeCodebooks(spark: SparkSession, dir: String,
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val coarseRows = coarse.zipWithIndex.map { case (v, c) => (0, 0, c, v.toSeq) }
    val bookRows = for {
      (subArr, sub) <- books.zipWithIndex.toSeq
      (v, c) <- subArr.zipWithIndex.toSeq
    } yield (1, sub, c, v.toSeq)
    (coarseRows.toSeq ++ bookRows)
      .toDF("level", "sub", "code", "vals")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  // a crashed append may have landed half a batch in the code
  // partitions — searching it would silently return phantom rows; the
  // frame fails loud at the gateway instead
  def load(spark: SparkSession, dir: String): Loaded =
    loadWith(spark, dir, Op.read(spark, dir, StoreMeta, "load/search"))

  /** [[load]] from an already-checked meta row. */
  private def loadWith(spark: SparkSession, dir: String, meta: Row): Loaded = {
    val nCells = meta.getAs[Int]("n_cells")
    val m = meta.getAs[Int]("m")
    val kCodes = meta.getAs[Int]("k_codes")
    val cb = spark.read.parquet(s"$dir/codebooks")
      .select("level", "sub", "code", "vals").collect()
    val coarse = Array.ofDim[Array[Double]](nCells)
    val books = Array.ofDim[Array[Double]](m, kCodes)
    cb.foreach { r =>
      val vals = r.getSeq[Double](3).toArray
      if (r.getInt(0) == 0) coarse(r.getInt(2)) = vals
      else books(r.getInt(1))(r.getInt(2)) = vals
    }
    require(coarse.forall(_ != null) && books.forall(_.forall(_ != null)),
      s"vector index at $dir has an incomplete codebook table")
    // merge-on-read: live codes = stored codes minus tombstones. The
    // anti-join's nid predicate sits ABOVE the scan, so search()'s
    // partition IN-lists still push to the partition directories.
    val codes = tombs(dir).live(spark, spark.read.parquet(s"$dir/codes"))
    Loaded(coarse, books, codes, meta.getAs[Long]("n_vectors"),
      filterColOf(meta))
  }

  /** Delete vectors WITHOUT touching the code partitions — the
    * merge-on-read shape (Iceberg/Delta delete files): deleted ids land
    * in a tombstone table; [[load]] anti-joins it so every search sees
    * only live rows (the anti-join is layout-independent). `deleted`
    * must be the actual (vec_id, embedding[, filter column]) rows being
    * removed: the meta fingerprint updates INCREMENTALLY (XOR is its
    * own inverse — old ⊕ xor(deleted) IS the live-corpus fingerprint),
    * so a later [[ensure]] over the live corpus validates without
    * rebuild. Cost: O(|deleted|), zero store rewrite.
    *
    * The contract (every deleted row is a live stored row, exactly
    * once) is ENFORCED, not just documented: XOR fingerprint
    * maintenance is only exact under it — a double delete or a
    * never-indexed row would silently drift n_vectors/checksum so a
    * later ensure() validates against the wrong live corpus or rebuilds
    * spuriously. Fail loud instead. Cost: one pass over the delete set
    * + a semi-join against the (code-sized, not float-sized) store. Ids
    * are audited AFTER the long cast they are stored under, so "7" and
    * "007" are one id. Tombstones and meta commit share one window (a
    * crash between them would leave the pre-delete fingerprint
    * validating a store that hides rows).
    */
  def delete(deleted: DataFrame, dir: String): Unit = {
    Op.mutate(deleted.sparkSession, dir, StoreMeta, "delete") { o =>
    val spark = o.spark
    val filterCol = filterColOf(o.meta)
    requireFilterCol(deleted, filterCol, dir, "delete")
    val ids = deleted.select(col("vec_id").cast("long").as("nid"))
      .localCheckpoint(eager = true)
    // one aggregate answers the row-shaped audits (total + distinct)
    // AND the fingerprint
    val audit = deleted.agg(count(lit(1)),
      countDistinct(col("vec_id").cast("long")),
      expr(s"bit_xor(xxhash64(${("vec_id" +: "embedding" +: filterCol.toSeq)
        .mkString(", ")}))")).head()
    val nDel = audit.getLong(0)
    require(audit.getLong(1) == nDel,
      s"delete set contains ${nDel - audit.getLong(1)} duplicate vec_ids")
    val nStored = ids.join(spark.read.parquet(s"$dir/codes").select("nid"),
      Seq("nid"), "left_semi").count()
    require(nStored == nDel,
      s"${nDel - nStored} of $nDel vec_ids are not present in the index at $dir")
    tombs(dir).requireFresh(spark, ids, nDel, "vec_ids")
    val dsum = if (audit.isNullAt(2)) 0L else audit.getLong(2)
    o.window(s"delete of $nDel vectors in flight") {
      tombs(dir).append(ids)
      o.commit("n_vectors" -> (o.meta.getAs[Long]("n_vectors") - nDel),
        "checksum" -> (o.meta.getAs[Long]("checksum") ^ dsum))
    }
    }
  }

  /** Fold the tombstones into the store: rewrite ONLY the leaves (cell
    * directories, or (value, cell) pairs on a filtered store) that
    * contain deleted rows, then drop the tombstone table — the
    * maintenance pass that bounds merge-on-read's growing anti-join
    * cost, exactly like s13 bounds small-file growth. Crash-safe under
    * the [[graft.store.StageSwap]] contract: its recovery runs first,
    * and tombstones drop only after the swap. Leaf names are rebuilt
    * from the partition values, so a filter column must be path-safe
    * (integral or plain strings, which Spark writes verbatim). */
  def compact(spark: SparkSession, dir: String): Unit = {
    Op.mutate(spark, dir, StoreMeta, "compact") { o =>
    val codes = codesT(dir, filterColOf(o.meta))
    StageSwap.recover(spark, codes)
    val tomb = tombs(dir)
    if (tomb.exists(spark)) {
      tomb.foldInto(spark, codes, spark.read.parquet(s"$dir/codes"))
      tomb.drop(spark)
    }
    }
  }

  /** FILE-MERGE maintenance (the append-history bound,
    * [[graft.llm.DedupIndex.compactFiles]]'s contract applied to the
    * code leaves): every [[append]] lands one file per touched leaf and
    * [[compact]] only folds tombstones, so a K-ingest history
    * accumulates O(K) files per leaf and search scan tasks grow with
    * history rather than data. Rewrites, verbatim, ONLY the leaves
    * whose data-file count exceeds `maxFiles`
    * ([[graft.store.StageSwap.mergeFiles]]). */
  def compactFiles(spark: SparkSession, dir: String,
      maxFiles: Int = 16): Unit = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    Op.mutate(spark, dir, StoreMeta, "compactFiles") { o =>
    val codes = codesT(dir, filterColOf(o.meta))
    StageSwap.recover(spark, codes)
    StageSwap.mergeFiles(spark, codes, maxFiles)
    }
  }

  /** Load if the stored layout, quantizer shape and fingerprint match,
    * else (re)build. The check costs one aggregate over the corpus —
    * vastly cheaper than the two Lloyd trainings plus encode a rebuild
    * costs, and it makes a stale index (regenerated testdata, different
    * sf dir mapped to the same path, another filter column) impossible
    * to silently search. */
  def ensure(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16,
      filterCol: Option[String] = None): Loaded = {
    // Failure separation (r13 advice, same as DedupIndex.ensure): only
    // an unusable META ([[Op.valid]]) means "rebuild"; the corpus-side
    // fingerprint aggregate RETHROWS on failure — a transient I/O error
    // must never trigger the rebuild's delete of a healthy store.
    val valid = Op.valid(corpus.sparkSession, dir, StoreMeta) { meta =>
      filterColOf(meta) == filterCol && meta.getAs[Int]("n_cells") == nCells &&
        meta.getAs[Int]("m") == m && meta.getAs[Int]("k_codes") == kCodes
    }.exists { meta =>
      val (n, sum) = fingerprint(corpus, filterCol) // NOT caught
      meta.getAs[Long]("n_vectors") == n && meta.getAs[Long]("checksum") == sum
    }
    if (!valid) build(corpus, dir, nCells, m, kCodes, filterCol)
    load(corpus.sparkSession, dir)
  }

  /** Append a batch of new vectors to an existing index WITHOUT
    * retraining: the stored quantizers are FROZEN (st14's streaming
    * contract, Streams.scala — retraining would re-shuffle the whole
    * accumulated store; production systems version the quantizer and
    * rebuild offline), new rows are encoded against them and appended
    * under the stored layout's partitions, and the meta fingerprint
    * updates INCREMENTALLY — the checksum is an XOR over per-row
    * hashes, so old ⊕ xor(batch) is exactly the fingerprint of the
    * union corpus: a later [[ensure]] over the full corpus validates
    * without a rebuild. Cost: one scan of the BATCH, zero touch of
    * existing partitions.
    */
  def append(batch: DataFrame, dir: String): Unit = {
    Op.mutate(batch.sparkSession, dir, StoreMeta, "append") { o =>
    val ix = loadWith(o.spark, dir, o.meta)
    requireFilterCol(batch, ix.filterCol, dir, "append")
    val (bn, bsum) = fingerprint(batch, ix.filterCol)
    // Crash contract: the codes append and the meta commit are two
    // writes; without a window a crash between them lets a REDELIVERED
    // batch double-encode its rows while the corpus-side XOR
    // fingerprint lands on the correct-looking union value — phantom
    // duplicates ensure() can never detect.
    o.window(s"append of $bn vectors in flight") {
      writeCodes(batch, dir, ix.filterCol, ix.coarse, ix.books, "append")
      o.commit("n_vectors" -> (o.meta.getAs[Long]("n_vectors") + bn),
        "checksum" -> (o.meta.getAs[Long]("checksum") ^ bsum))
    }
    }
  }

  /** [[search]] with the stored layout's probe count: 6 cell-only, 8 on
    * a filtered store (the filtered-search compensation measured on
    * v18 — a selective predicate shrinks each query's eligible set
    * ~10×). */
  def search(ix: Loaded, queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame =
    search(ix, queries, corpus, k, if (ix.filterCol.isEmpty) 6 else 8)

  /** Search the stored index: distinct probed cells of the query set
    * (ONE aggregate on the small query side, result ≤ nCells values)
    * become an `IN`-list filter on the partitioned scan —
    * partition-directory pruning, so un-probed cells are never read —
    * then the shared IVFADC kernel ([[Similarity.ivfPqSearch]]) scores
    * codes and exact-reranks the shortlist against `corpus`. On a
    * filtered store the search is pre-filtered: each query sees only
    * rows sharing its filter value, and the filter level is pruned too
    * when the query set's distinct values are few (≤ 64 — a bounded
    * panel/batch; a broad query set needs most value directories
    * anyway). */
  def search(ix: Loaded, queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int, shortlist: Int = 64): DataFrame = {
    val sc = queries.sparkSession.sparkContext
    val bcCoarse = sc.broadcast(ix.coarse)
    val nP = nProbe
    val probeCells = udf { (v: Seq[Float]) =>
      Similarity.probeCellsKernel(bcCoarse.value, v, nP)
    }
    val cellsNeeded = queries
      .select(explode(probeCells(col("embedding"))).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    var pruned = ix.codes.filter(col("cell").isin(cellsNeeded.map(Int.box): _*))
    ix.filterCol.foreach { c =>
      val fVals = queries.select(col(c)).distinct().limit(65).collect()
      if (fVals.length <= 64)
        pruned = pruned.filter(col(c).isin(fVals.map(_.get(0)): _*))
    }
    Similarity.ivfPqSearch(queries, pruned, ix.coarse, ix.books, corpus,
      k, nProbe, shortlist, filterCol = ix.filterCol)
  }

  /** The corpus columns a layout's gate reads. */
  private def gateCorpus(s: SparkSession, d: String,
      filterCol: Option[String]): DataFrame =
    Tables.embeddings(s, d)
      .select((Seq("vec_id", "embedding") ++ filterCol).map(col): _*)

  /** V19/V23 — persisted-index ANN recall gate, v12-hardened, one body
    * for both layouts: the emitted rows are the exact brute-force truth
    * over the fixed probe panel (within-label for v23, v18's truth —
    * DuckDB hash-verifies them); they emit only when searching the
    * STORED index reaches recall@1 ≥ 0.6 (the IVF bar) AND the store is
    * complete (codes count == corpus count == persisted meta count).
    * First run builds the index on disk; every later run of the same
    * corpus fingerprint-validates and goes straight to search — warm
    * bench reps measure the amortized search-only path, which is the
    * shape a production user runs. v23 is v18's pre-filter semantics
    * delivered on the (label, cell)-partitioned store.
    */
  private def persistedGate(name: String, tag: String,
      filterCol: Option[String]): QueryDef = QueryDef(
    name,
    { (s, d) =>
      val emb = gateCorpus(s, d, filterCol).cache()
      val ix = ensure(emb, graft.util.Fixtures.store(s, tag, d),
        filterCol = filterCol)
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1(queries, emb, filterCol)
        .localCheckpoint(eager = true)
      val recallOk =
        Similarity.recall(exact, search(ix, queries, emb, k = 1)) >= 0.6
      val nStored = ix.codes.count()
      val nCorpus = emb.count()
      emb.unpersist()
      exact.filter(lit(recallOk && nStored == nCorpus &&
          ix.nVectors == nCorpus))
    },
    oracle = Some(Similarity.top1OracleSql(filterCol = filterCol)))

  val persisted = persistedGate("v19_persisted_ann_recall", "v19_index", None)
  val persistedFiltered =
    persistedGate("v23_persisted_filtered_ann", "v23_index", Some("label"))

  /** V25/V27 — index DELETION + COMPACTION, one body for both layouts:
    * the maintenance story every long-lived vector store needs (GDPR
    * erasure, re-crawl retirement; v26 is the graph index's). Builds
    * the v19/v23-shaped store on the full corpus, tombstones every
    * vec_id ≡ 3 (mod 10), and gates, in order:
    *   1. merge-on-read: the loaded codes relation holds no tombstoned
    *      nid, searching the tombstoned store reaches recall@1 ≥ 0.6
    *      against the LIVE brute-force truth (within-label for v27)
    *      and never returns a deleted id;
    *   2. compaction folds the tombstones away (no tombstones left)
    *      with ONLY the affected cell (or (label, cell)) partitions
    *      rewritten, after which the same search returns the IDENTICAL
    *      result set (merge-on-read == merge-on-write);
    *   3. the incrementally-maintained fingerprint is exact: ensure()
    *      over the live corpus validates the compacted store WITHOUT a
    *      rebuild (buildsThisProcess unchanged; label participates in
    *      the v27 fingerprint), and counts reconcile.
    * Emitted rows are the exact live-corpus truth — DuckDB replays
    * them over `vec_id % 10 <> 3` (v19's or v23's oracle with the live
    * filter).
    */
  private def deleteGate(name: String, tag: String,
      filterCol: Option[String]): QueryDef = QueryDef(
    name,
    { (s, d) =>
      val emb = gateCorpus(s, d, filterCol).cache()
      val dir = graft.util.Fixtures.store(s, tag, d)
      build(emb, dir, filterCol = filterCol)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val ixT = load(s, dir)
      // the FALSIFIABLE merge-on-read check: the loaded codes relation
      // itself must contain no tombstoned nid. (noDeletedServed alone
      // is vacuous here — search() re-ranks by joining the LIVE corpus,
      // which would mask a broken tombstone anti-join.)
      val mergeOnReadApplied = ixT.codes
        .join(deleted.select(col("vec_id").as("nid")), Seq("nid"),
          "left_semi").count() == 0
      val queries = Similarity.probePanel(live)
      val exact = Similarity.bruteForceTop1(queries, live, filterCol)
        .localCheckpoint(eager = true)
      def result(ix: Loaded) = search(ix, queries, live, k = 1)
        .select(col("qid"), col("nid")).localCheckpoint(eager = true)
      val resT = result(ixT)
      val recallOk = Similarity.recall(exact, resT) >= 0.6
      val pairsT = Similarity.pairs(resT)
      val deletedIds = deleted.select("vec_id").collect()
        .map(_.getLong(0)).toSet
      val noDeletedServed = pairsT.forall { case (_, nid) =>
        !deletedIds.contains(nid)
      }
      compact(s, dir)
      val builds0 = buildsThisProcess
      val ixC = ensure(live, dir, filterCol = filterCol)
      val noRebuild = buildsThisProcess == builds0
      val sameResult = pairsT == Similarity.pairs(result(ixC))
      val nLive = live.count()
      val nStored = ixC.codes.count()
      val noTombLeft = !graft.util.Fs.exists(s, s"$dir/tombstones")
      emb.unpersist()
      exact.filter(lit(recallOk && noDeletedServed && mergeOnReadApplied &&
          sameResult && noRebuild && noTombLeft && nStored == nLive &&
          ixC.nVectors == nLive))
    },
    oracle = Some(Similarity.top1OracleSql(live = true, filterCol = filterCol)),
    // store-ops-only bench variant: build, delete, tombstoned search,
    // compact, ensure, compacted search — without the brute-force
    // truth side and result-set reconciliations (Verify runs the
    // full-gate form above)
    benchFn = Some { (s, d) =>
      val emb = gateCorpus(s, d, filterCol).cache()
      val dir = graft.util.Fixtures.store(s, tag, d)
      build(emb, dir, filterCol = filterCol)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val queries = Similarity.probePanel(live)
      search(load(s, dir), queries, live, k = 1).count(): Unit
      compact(s, dir)
      val ixC = ensure(live, dir, filterCol = filterCol)
      val out = search(ixC, queries, live, k = 1)
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    })

  val deleteCompact = deleteGate("v25_index_delete_compact", "v25_index", None)
  val filteredDeleteCompact =
    deleteGate("v27_filtered_delete_compact", "v27_index", Some("label"))

  def all: Seq[QueryDef] =
    Seq(persisted, persistedFiltered, deleteCompact, filteredDeleteCompact)
}
