package graft.llm

import graft.{QueryDef, Tables}
import graft.store.{StageSwap, Table, Tombstones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * On-disk layout under `dir` (all parquet — readable by any engine):
  *   - `meta/`       one row: corpus fingerprint (count + order-
  *                   independent xxhash64 XOR over (vec_id, embedding)),
  *                   dims and quantizer shape. [[ensure]] validates it
  *                   before trusting the index; any mismatch rebuilds.
  *   - `codebooks/`  (level, sub, code, vals): level 0 = the nCells
  *                   coarse centroids, level 1 = the m×kCodes residual
  *                   PQ codebooks. A few KB total — the whole "model".
  *   - `codes/`      cell-partitioned (cell=K/ directories): (nid,
  *                   codes, recon_norm_sq) — m bytes + one double per
  *                   vector, 16-32× smaller than the float corpus.
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
      nVectors: Long)

  // driver-side meta I/O ([[graft.util.Sidecar]]) — the one-row meta
  // table is read at the top of every op and committed at the end of
  // every mutation; neither needs a Spark job. Two shapes: the plain
  // store's six fields, the filtered store's with `filter_col`.
  private def readVMeta(spark: SparkSession, dir: String) =
    graft.util.Sidecar.readHead(spark, s"$dir/meta")

  private def vMetaSchema(filtered: Boolean) = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("n_vectors", LongType), StructField("checksum", LongType),
      StructField("dim", IntegerType), StructField("n_cells", IntegerType),
      StructField("m", IntegerType), StructField("k_codes", IntegerType))
    val tail =
      if (filtered) Seq(StructField("filter_col", StringType),
        StructField("format_version", IntegerType))
      else Seq(StructField("format_version", IntegerType))
    StructType(base ++ tail)
  }

  private def writeVMeta(spark: SparkSession, dir: String, n: Long,
      sum: Long, dim: Int, nCells: Int, m: Int, kCodes: Int,
      filterCol: Option[String], fv: Int): Unit = {
    val row = Seq[Any](n, sum, dim, nCells, m, kCodes) ++
      filterCol.toSeq :+ fv
    graft.util.Sidecar.write(spark, s"$dir/meta",
      vMetaSchema(filterCol.isDefined), Seq(row))
  }

  private def codesT(dir: String) = Table(s"$dir/codes", "cell")
  // the filtered twin stages under its own root, so neither variant's
  // recovery can ever sweep the other's in-flight staging
  private def filteredCodesT(dir: String, filterCol: String) =
    Table(s"$dir/codes", Seq(filterCol, "cell"),
      s"$dir/codes_staging_filtered")
  private def tombs(dir: String) = Tombstones(dir, "nid")

  private def fingerprint(corpus: DataFrame,
      extraCols: Seq[String] = Nil): (Long, Long) = {
    val hashed = ("vec_id" +: "embedding" +: extraCols).mkString(", ")
    val r = corpus
      .agg(count(lit(1)), expr(s"bit_xor(xxhash64($hashed))"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Train both quantizer levels, encode the corpus, write the store.
    * Three corpus scans total (coarse Lloyd, residual Lloyd, encode) —
    * the once-per-corpus cost that [[search]] amortizes away. */
  def build(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16): Unit = {
    val spark = corpus.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "build") {
    import spark.implicits._
    buildsThisProcess += 1
    graft.util.Fs.rmTree(spark, dir)
    val (coarse, books) = Similarity.ivfPqTrain(corpus, nCells, m, kCodes)
    val (n, sum) = fingerprint(corpus)
    // repartition by cell before the partitioned write: without it every
    // task writes a file into every cell directory (tasks x cells small
    // files — the classic partitionBy mistake at scale); with it each
    // cell directory gets one contiguous file per shuffle partition
    Similarity.ivfPqEncode(corpus, coarse, books)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    val coarseRows = coarse.zipWithIndex.map { case (v, c) => (0, 0, c, v.toSeq) }
    val bookRows = for {
      (subArr, sub) <- books.zipWithIndex.toSeq
      (v, c) <- subArr.zipWithIndex.toSeq
    } yield (1, sub, c, v.toSeq)
    (coarseRows.toSeq ++ bookRows)
      .toDF("level", "sub", "code", "vals")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeVMeta(spark, dir, n, sum, coarse(0).length, nCells, m, kCodes,
      None, 1)
    }
  }

  def load(spark: SparkSession, dir: String): Loaded = {
    // a crashed append ([[graft.util.IngestMarker]]) may have landed
    // half a batch in the code partitions — searching it would
    // silently return phantom rows; fail loud at the gateway instead
    graft.util.IngestMarker.requireAbsent(spark, dir, "load/search")
    val meta = readVMeta(spark, dir)
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
    // cell IN-list still pushes to the partition directories.
    val codes = tombs(dir).live(spark, spark.read.parquet(s"$dir/codes"))
    Loaded(coarse, books, codes, meta.getAs[Long]("n_vectors"))
  }

  /** The plain maintenance entry points support the cell-partitioned
    * store only: a [[buildFiltered]] store's codes live under
    * (filterCol, cell) directories, so cell-keyed compaction paths and
    * cell-only partitioned appends would silently mix layouts. Fail
    * loud and name the filtered twin ([[deleteFiltered]] /
    * [[compactFiltered]] / [[appendFiltered]]). */
  private def requireUnfiltered(meta: org.apache.spark.sql.Row,
      dir: String, op: String): Unit =
    require(!meta.schema.fieldNames.contains("filter_col"),
      s"$op does not support the FILTERED (label, cell)-partitioned " +
        s"store at $dir — use ${op}Filtered instead")

  /** Delete vectors WITHOUT touching the code partitions — the
    * merge-on-read shape (Iceberg/Delta delete files): deleted ids land
    * in a tombstone table; [[load]] anti-joins it so every search sees
    * only live rows. `deleted` must be the actual (vec_id, embedding)
    * rows being removed: the meta fingerprint updates INCREMENTALLY
    * (XOR is its own inverse — old ⊕ xor(deleted) IS the live-corpus
    * fingerprint), so a later [[ensure]] over the live corpus validates
    * without rebuild. Cost: O(|deleted|), zero store rewrite.
    */
  def delete(deleted: DataFrame, dir: String): Unit = {
    val spark = deleted.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "delete") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "delete")
    val meta = readVMeta(spark, dir)
    requireUnfiltered(meta, dir, "delete")
    tombstone(deleted, dir, meta, None)
    }
  }

  /** [[delete]]'s body for either layout (a filtered store's
    * fingerprint also hashes `filterCol`). The contract (every deleted
    * row is a live stored row, exactly once) is ENFORCED, not just
    * documented: XOR fingerprint maintenance is only exact under it —
    * a double delete or a never-indexed row would silently drift
    * n_vectors/checksum so a later ensure() validates against the
    * wrong live corpus or rebuilds spuriously. Fail loud instead. Cost:
    * one pass over the delete set + a semi-join against the
    * (code-sized, not float-sized) store. Ids are audited AFTER the
    * long cast they are stored under, so "7" and "007" are one id.
    * Caller holds the lease and has checked the layout. */
  private def tombstone(deleted: DataFrame, dir: String,
      meta: org.apache.spark.sql.Row, filterCol: Option[String]): Unit = {
    val spark = deleted.sparkSession
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
    tombs(dir).append(ids)
    writeVMeta(spark, dir, meta.getAs[Long]("n_vectors") - nDel,
      meta.getAs[Long]("checksum") ^ dsum,
      meta.getAs[Int]("dim"), meta.getAs[Int]("n_cells"),
      meta.getAs[Int]("m"), meta.getAs[Int]("k_codes"),
      filterCol, meta.getAs[Int]("format_version"))
  }

  /** Fold the tombstones into the store: rewrite ONLY the cell
    * partitions that contain deleted rows, then drop the tombstone
    * table — the maintenance pass that bounds merge-on-read's growing
    * anti-join cost, exactly like s13 bounds small-file growth.
    * Crash-safe under the [[graft.store.StageSwap]] contract: its
    * recovery runs first, and tombstones drop only after the swap. */
  def compact(spark: SparkSession, dir: String): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compact") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "compact")
    // Layout check FIRST, before the recovery sweep touches anything:
    // the meta read is independent of staging, and running the sweep
    // first on a FILTERED store would delete a crashed
    // compactFiltered's staged survivors (the only copy of its
    // affected pairs) before the fail-loud guard ever fired.
    requireUnfiltered(readVMeta(spark, dir), dir, "compact")
    StageSwap.recover(spark, codesT(dir))
    val tomb = tombs(dir)
    if (!tomb.exists(spark)) return
    tomb.foldInto(spark, codesT(dir), spark.read.parquet(s"$dir/codes"))
    tomb.drop(spark)
    }
  }

  /** FILE-MERGE maintenance for the plain store (the append-history
    * bound, [[graft.llm.DedupIndex.compactFiles]]'s contract applied
    * to the cell layout): every [[append]] lands one file per touched
    * `cell=` directory and [[compact]] only folds tombstones, so a
    * K-ingest history accumulates O(K) files per cell and search scan
    * tasks grow with history rather than data. Rewrites, verbatim,
    * ONLY the cell directories whose data-file count exceeds
    * `maxFiles` ([[graft.store.StageSwap.mergeFiles]]). */
  def compactFiles(spark: SparkSession, dir: String, maxFiles: Int = 16,
      maxRecordsPerFile: Long = 8000000L): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compactFiles") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "compactFiles")
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    requireUnfiltered(readVMeta(spark, dir), dir, "compactFiles")
    StageSwap.recover(spark, codesT(dir))
    StageSwap.mergeFiles(spark, codesT(dir), maxFiles, maxRecordsPerFile)
    }
  }

  /** Load if the stored fingerprint matches `corpus`, else (re)build.
    * The check costs one aggregate over the corpus — vastly cheaper
    * than the two Lloyd trainings plus encode a rebuild costs, and it
    * makes a stale index (regenerated testdata, different sf dir
    * mapped to the same path) impossible to silently search. */
  def ensure(corpus: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16): Loaded = {
    val spark = corpus.sparkSession
    // Failure separation (r13 advice, same as DedupIndex.ensure): only
    // a missing/corrupt META (NonFatal) or a crashed-append marker
    // means "rebuild"; the corpus-side fingerprint aggregate RETHROWS
    // on failure — a transient I/O error must never trigger the
    // rebuild's delete of a healthy store.
    val metaOpt =
      if (graft.util.IngestMarker.present(spark, dir)) None
      else try Some(readVMeta(spark, dir))
      catch { case scala.util.control.NonFatal(_) => None }
    val valid = metaOpt.exists { meta =>
      val shapeOk = try {
        meta.getAs[Int]("n_cells") == nCells &&
          meta.getAs[Int]("m") == m && meta.getAs[Int]("k_codes") == kCodes
      } catch { case scala.util.control.NonFatal(_) => false }
      shapeOk && {
        val (n, sum) = fingerprint(corpus) // NOT caught
        meta.getAs[Long]("n_vectors") == n &&
          meta.getAs[Long]("checksum") == sum
      }
    }
    if (!valid) build(corpus, dir, nCells, m, kCodes)
    load(spark, dir)
  }

  /** Append a batch of new vectors to an existing index WITHOUT
    * retraining: the stored quantizers are FROZEN (st14's streaming
    * contract, Streams.scala — retraining would re-shuffle the whole
    * accumulated store; production systems version the quantizer and
    * rebuild offline), new rows are encoded against them and appended
    * to the cell partitions, and the meta fingerprint updates
    * INCREMENTALLY — the checksum is an XOR over per-row hashes, so
    * old ⊕ xor(batch) is exactly the fingerprint of the union corpus:
    * a later [[ensure]] over the full corpus validates without a
    * rebuild. Cost: one scan of the BATCH, zero touch of existing
    * partitions.
    */
  def append(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "append") {
    import spark.implicits._
    val ix = load(spark, dir) // marker-checked at the gateway
    val meta = readVMeta(spark, dir)
    requireUnfiltered(meta, dir, "append")
    val (bn, bsum) = fingerprint(batch)
    // Crash contract: the codes append and the meta commit are two
    // writes; without a marker a crash between them lets a REDELIVERED
    // batch double-encode its rows while the corpus-side XOR
    // fingerprint lands on the correct-looking union value — phantom
    // duplicates ensure() can never detect. Marker down first, cleared
    // after the meta commit; ensure() rebuilds on sight of it.
    graft.util.IngestMarker.write(spark, dir,
      s"append of $bn vectors in flight")
    // repartition by cell BEFORE the partitioned append, as build()
    // does: without it every task writes a file into every cell it
    // touches — the tasks x cells small-files explosion
    Similarity.ivfPqEncode(batch, ix.coarse, ix.books)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    writeVMeta(spark, dir, meta.getAs[Long]("n_vectors") + bn,
      meta.getAs[Long]("checksum") ^ bsum,
      meta.getAs[Int]("dim"), meta.getAs[Int]("n_cells"),
      meta.getAs[Int]("m"), meta.getAs[Int]("k_codes"),
      None, meta.getAs[Int]("format_version"))
    graft.util.IngestMarker.clear(spark, dir)
    }
  }

  /** Search the stored index: distinct probed cells of the query set
    * (ONE aggregate on the small query side, result ≤ nCells values)
    * become an `IN`-list filter on the cell-partitioned scan —
    * partition-directory pruning, so un-probed cells are never read —
    * then the shared IVFADC kernel ([[Similarity.ivfPqSearch]]) scores
    * codes and exact-reranks the shortlist against `corpus`. */
  def search(ix: Loaded, queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int = 6, shortlist: Int = 64): DataFrame = {
    val sc = queries.sparkSession.sparkContext
    val bcCoarse = sc.broadcast(ix.coarse)
    val nP = nProbe
    val probeCells = udf { (v: Seq[Float]) =>
      Similarity.probeCellsKernel(bcCoarse.value, v, nP)
    }
    val cellsNeeded = queries
      .select(explode(probeCells(col("embedding"))).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = ix.codes.filter(col("cell").isin(cellsNeeded.map(Int.box): _*))
    Similarity.ivfPqSearch(queries, pruned, ix.coarse, ix.books, corpus,
      k, nProbe, shortlist)
  }

  // ------------------------------------------- filtered (predicate) store

  /** Build a PRE-FILTERED store: codes partitioned by (filterCol, cell)
    * — the layout v18's scaladoc promises at 100 TB ("st14's store with
    * one more partition column"). A filtered search then prunes BOTH
    * partition levels: only the query set's predicate values and probed
    * cells are ever listed into tasks. The filter column participates
    * in the fingerprint (a relabeled corpus must invalidate the store).
    */
  def buildFiltered(corpus: DataFrame, dir: String, filterCol: String,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 16): Unit = {
    val spark = corpus.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "buildFiltered") {
    import spark.implicits._
    buildsThisProcess += 1
    graft.util.Fs.rmTree(spark, dir)
    val (coarse, books) = Similarity.ivfPqTrain(corpus, nCells, m, kCodes)
    val (n, sum) = fingerprint(corpus, Seq(filterCol))
    Similarity.ivfPqEncode(corpus, coarse, books, keepCols = Seq(filterCol))
      .repartition(col(filterCol), col("cell"))
      .write.mode("overwrite").partitionBy(filterCol, "cell")
      .parquet(s"$dir/codes")
    val coarseRows = coarse.zipWithIndex.map { case (v, c) => (0, 0, c, v.toSeq) }
    val bookRows = for {
      (subArr, sub) <- books.zipWithIndex.toSeq
      (v, c) <- subArr.zipWithIndex.toSeq
    } yield (1, sub, c, v.toSeq)
    (coarseRows.toSeq ++ bookRows)
      .toDF("level", "sub", "code", "vals")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeVMeta(spark, dir, n, sum, coarse(0).length, nCells, m, kCodes,
      Some(filterCol), 1)
    }
  }

  def ensureFiltered(corpus: DataFrame, dir: String, filterCol: String,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 16): Loaded = {
    val spark = corpus.sparkSession
    // same failure separation as [[ensure]]
    val metaOpt =
      if (graft.util.IngestMarker.present(spark, dir)) None
      else try Some(readVMeta(spark, dir))
      catch { case scala.util.control.NonFatal(_) => None }
    val valid = metaOpt.exists { meta =>
      val shapeOk = try {
        meta.getAs[String]("filter_col") == filterCol &&
          meta.getAs[Int]("n_cells") == nCells &&
          meta.getAs[Int]("m") == m && meta.getAs[Int]("k_codes") == kCodes
      } catch { case scala.util.control.NonFatal(_) => false }
      shapeOk && {
        val (n, sum) = fingerprint(corpus, Seq(filterCol)) // NOT caught
        meta.getAs[Long]("n_vectors") == n &&
          meta.getAs[Long]("checksum") == sum
      }
    }
    if (!valid) buildFiltered(corpus, dir, filterCol, nCells, m, kCodes)
    load(spark, dir)
  }

  /** Pre-filtered search over a [[buildFiltered]] store: nProbe
    * defaults to 8 (the filtered-search compensation measured on v18 —
    * a selective predicate shrinks each query's eligible set ~10×).
    * Prunes the predicate partition level when the query set's
    * distinct predicate values are few (≤ 64 — a bounded panel/batch;
    * a broad query set needs most value directories anyway), and
    * always prunes the cell level. */
  def searchFiltered(ix: Loaded, queries: DataFrame, corpus: DataFrame,
      filterCol: String, k: Int, nProbe: Int = 8,
      shortlist: Int = 64): DataFrame = {
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
    val fVals = queries.select(col(filterCol)).distinct().limit(65).collect()
    if (fVals.length <= 64)
      pruned = pruned.filter(col(filterCol).isin(fVals.map(_.get(0)): _*))
    Similarity.ivfPqSearch(queries, pruned, ix.coarse, ix.books, corpus,
      k, nProbe, shortlist, filterCol = Some(filterCol))
  }

  // ------------------------------------ filtered-store maintenance (v27)

  private def requireFiltered(meta: org.apache.spark.sql.Row,
      dir: String, filterCol: String, op: String): Unit = {
    require(meta.schema.fieldNames.contains("filter_col") &&
        meta.getAs[String]("filter_col") == filterCol,
      s"$op expects a FILTERED store keyed by '$filterCol' at $dir — " +
        "found " + (if (meta.schema.fieldNames.contains("filter_col"))
          s"filter_col='${meta.getAs[String]("filter_col")}'"
        else "an unfiltered store"))
  }

  /** [[delete]] for the (filterCol, cell)-partitioned store: identical
    * tombstone + membership + XOR-fingerprint mechanics, but the
    * fingerprint includes the filter column (a relabeled corpus must
    * invalidate) — so `deleted` must carry (vec_id, embedding,
    * filterCol). [[load]]'s nid anti-join is layout-independent, so
    * merge-on-read works unchanged on the two-level store. */
  def deleteFiltered(deleted: DataFrame, dir: String,
      filterCol: String): Unit = {
    val spark = deleted.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "deleteFiltered") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "deleteFiltered")
    val meta = readVMeta(spark, dir)
    requireFiltered(meta, dir, filterCol, "deleteFiltered")
    tombstone(deleted, dir, meta, Some(filterCol))
    }
  }

  /** [[compact]] for the two-level (filterCol, cell) layout: rewrites
    * ONLY the (value, cell) partition pairs that contain tombstoned
    * rows, under the same [[graft.store.StageSwap]] contract. Partition
    * directory names are reconstructed from the pair values, so the
    * filter column must be PATH-SAFE (integral or simple strings — the
    * same values Spark writes verbatim into `filterCol=value/`
    * directory names). */
  def compactFiltered(spark: SparkSession, dir: String,
      filterCol: String): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compactFiltered") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "compactFiltered")
    // Layout check BEFORE the recovery sweep (see [[compact]]): a
    // filtered compact pointed at a plain store must fail loud before
    // it can delete a crashed plain compact's staged survivors.
    requireFiltered(readVMeta(spark, dir), dir,
      filterCol, "compactFiltered")
    recoverFiltered(spark, dir, filterCol)
    val tomb = tombs(dir)
    if (!tomb.exists(spark)) return
    tomb.foldInto(spark, filteredCodesT(dir, filterCol),
      spark.read.parquet(s"$dir/codes"))
    tomb.drop(spark)
    }
  }

  /** Staging recovery for the filtered store. LEGACY sweep first (r13
    * advice): before the staging dir was renamed to
    * codes_staging_filtered, a filtered compact staged into
    * codes_staging — a pre-upgrade crash mid-swap left its only copy
    * of survivors there, which the renamed path's sweep would never
    * restore (and the plain compact REJECTS filtered stores before its
    * own sweep runs). On a store whose meta says filtered, anything
    * under codes_staging with the two-level shape is that crash state:
    * recover it by the same staged-leaf rule. */
  private def recoverFiltered(spark: SparkSession, dir: String,
      filterCol: String): Unit = {
    val t = filteredCodesT(dir, filterCol)
    StageSwap.recover(spark, t.copy(staging = s"$dir/codes_staging"), t)
  }

  /** [[compactFiles]] for the two-level (filterCol, cell) layout:
    * merges the (value, cell) partition pairs whose data-file count
    * exceeds `maxFiles`, verbatim rows, through [[compactFiltered]]'s
    * staging path (after its legacy sweep). */
  def compactFilesFiltered(spark: SparkSession, dir: String,
      filterCol: String, maxFiles: Int = 16,
      maxRecordsPerFile: Long = 8000000L): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compactFilesFiltered") {
    graft.util.IngestMarker.requireAbsent(spark, dir,
      "compactFilesFiltered")
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    requireFiltered(readVMeta(spark, dir), dir,
      filterCol, "compactFilesFiltered")
    recoverFiltered(spark, dir, filterCol)
    StageSwap.mergeFiles(spark, filteredCodesT(dir, filterCol), maxFiles,
      maxRecordsPerFile)
    }
  }

  /** [[append]] for the filtered store: frozen quantizers, the batch
    * encoded WITH its filter column and appended into the two-level
    * partitions; fingerprint (which includes the filter column)
    * updates incrementally. */
  def appendFiltered(batch: DataFrame, dir: String,
      filterCol: String): Unit = {
    val spark = batch.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "appendFiltered") {
    import spark.implicits._
    val ix = load(spark, dir) // marker-checked at the gateway
    val meta = readVMeta(spark, dir)
    requireFiltered(meta, dir, filterCol, "appendFiltered")
    val (bn, bsum) = fingerprint(batch, Seq(filterCol))
    // same crash contract as [[append]]
    graft.util.IngestMarker.write(spark, dir,
      s"appendFiltered of $bn vectors in flight")
    Similarity.ivfPqEncode(batch, ix.coarse, ix.books,
        keepCols = Seq(filterCol))
      .repartition(col(filterCol), col("cell"))
      .write.mode("append").partitionBy(filterCol, "cell")
      .parquet(s"$dir/codes")
    writeVMeta(spark, dir, meta.getAs[Long]("n_vectors") + bn,
      meta.getAs[Long]("checksum") ^ bsum,
      meta.getAs[Int]("dim"), meta.getAs[Int]("n_cells"),
      meta.getAs[Int]("m"), meta.getAs[Int]("k_codes"),
      Some(filterCol), meta.getAs[Int]("format_version"))
    graft.util.IngestMarker.clear(spark, dir)
    }
  }

  private def indexDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v19_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  private def filteredDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v23_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V19 — persisted-index ANN recall gate, v12-hardened: the emitted
    * rows are the exact brute-force truth over the fixed probe panel
    * (DuckDB hash-verifies them — same oracle as v1/v12); they emit
    * only when searching the STORED index reaches recall@1 ≥ 0.6 (the
    * IVF bar) AND the store is complete (codes count == corpus count ==
    * persisted meta count). First run builds the index on disk; every
    * later run of the same corpus fingerprint-validates and goes
    * straight to search — warm bench reps measure the amortized
    * search-only path, which is the shape a production user runs.
    */
  val persisted = QueryDef(
    "v19_persisted_ann_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      // fixture-owned store dir: clear a lease left by a KILLED
      // previous run (production stores must fail loud instead)
      graft.util.StoreLease.break(s, indexDirFor(d))
      val ix = ensure(emb, indexDirFor(d))
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1(queries, emb)
        .localCheckpoint(eager = true)
      val approx = search(ix, queries, emb, k = 1)
        .select(col("qid"), col("nid").as("nid_ix"))
      val joined = exact.join(approx, Seq("qid"), "left").cache()
      val nQ = joined.count().toDouble
      val hits = joined.filter(col("nid") === col("nid_ix")).count().toDouble
      val nStored = ix.codes.count()
      val nCorpus = emb.count()
      joined.unpersist(); emb.unpersist()
      exact.filter(lit(hits / nQ >= 0.6 && nQ > 0 &&
          nStored == nCorpus && ix.nVectors == nCorpus))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |      FROM q, embeddings e WHERE e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin))

  /** V23 — pre-filtered search over the PERSISTED (label, cell)-
    * partitioned store: v18's pre-filter semantics delivered on v19's
    * build-once index (the layout v18's scaladoc promised). Emitted
    * rows are the exact within-label truth (v18's DuckDB oracle);
    * they emit only when the stored-index filtered search reaches
    * recall@1 ≥ 0.6 and the store is complete.
    */
  val persistedFiltered = QueryDef(
    "v23_persisted_filtered_ann",
    { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      graft.util.StoreLease.break(s, filteredDirFor(d)) // fixture dir
      val ix = ensureFiltered(emb, filteredDirFor(d), "label")
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1Filtered(queries, emb, "label")
        .localCheckpoint(eager = true)
      val approx = searchFiltered(ix, queries, emb, "label", k = 1)
        .select(col("qid"), col("nid").as("nid_ix"))
      val joined = exact.join(approx, Seq("qid"), "left").cache()
      val nQ = joined.count().toDouble
      val hits = joined.filter(col("nid") === col("nid_ix")).count().toDouble
      val nStored = ix.codes.count()
      val nCorpus = emb.count()
      joined.unpersist(); emb.unpersist()
      exact.filter(lit(hits / nQ >= 0.6 && nQ > 0 &&
          nStored == nCorpus && ix.nVectors == nCorpus))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |                  label
        |           FROM embeddings WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |      FROM q JOIN embeddings e
        |        ON e.label = q.label AND e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin))

  private def deleteDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v25_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V25 — index DELETION + COMPACTION: the maintenance story every
    * long-lived vector store needs (GDPR erasure, re-crawl retirement).
    * Builds the v19-shaped store on the full corpus, tombstones every
    * vec_id ≡ 3 (mod 10), and gates, in order:
    *   1. merge-on-read: searching the tombstoned store reaches
    *      recall@1 ≥ 0.6 against the LIVE brute-force truth and never
    *      returns a deleted id;
    *   2. compaction folds the tombstones away with ONLY the affected
    *      cell partitions rewritten, after which the same search
    *      returns the IDENTICAL result set (merge-on-read ==
    *      merge-on-write);
    *   3. the incrementally-maintained fingerprint is exact: ensure()
    *      over the live corpus validates the compacted store WITHOUT a
    *      rebuild (buildsThisProcess unchanged), and counts reconcile.
    * Emitted rows are the exact live-corpus truth — DuckDB replays
    * them over `vec_id % 10 <> 3` (v19's oracle with the live filter).
    */
  val deleteCompact = QueryDef(
    "v25_index_delete_compact",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      val dir = deleteDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      build(emb, dir)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val ixT = load(s, dir)
      val queries = Similarity.probePanel(live)
      val exact = Similarity.bruteForceTop1(queries, live)
        .localCheckpoint(eager = true)
      def resultSet(ix: Loaded): Set[(Long, Long)] =
        search(ix, queries, live, k = 1)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val resT = resultSet(ixT)
      val deletedIds = deleted.select("vec_id").collect()
        .map(_.getLong(0)).toSet
      val noDeletedServed = resT.forall { case (_, nid) =>
        !deletedIds.contains(nid)
      }
      // the FALSIFIABLE merge-on-read check: the loaded codes relation
      // itself must contain no tombstoned nid. (noDeletedServed alone
      // is vacuous here — search() re-ranks by joining the LIVE corpus,
      // which would mask a broken tombstone anti-join.)
      val mergeOnReadApplied = ixT.codes
        .join(deleted.select(col("vec_id").as("nid")), Seq("nid"),
          "left_semi").count() == 0
      compact(s, dir)
      val builds0 = buildsThisProcess
      val ixC = ensure(live, dir)
      val noRebuild = buildsThisProcess == builds0
      val resC = resultSet(ixC)
      val nLive = live.count()
      val nStored = ixC.codes.count()
      val exactMap = exact.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hits = resT.count { case (q, nid) => exactMap.get(q).contains(nid) }
      val recallOk = exactMap.nonEmpty &&
        hits.toDouble / exactMap.size >= 0.6
      emb.unpersist()
      exact.filter(lit(recallOk && noDeletedServed && mergeOnReadApplied &&
          resT == resC && noRebuild && nStored == nLive &&
          ixC.nVectors == nLive))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH live AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings WHERE vec_id % 10 <> 3),
        |q AS (SELECT vec_id AS qid, v AS qv FROM live WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, e.v), 6) AS sim
        |      FROM q, live e WHERE e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin),
    // store-ops-only bench variant: build, delete, tombstoned search,
    // compact, ensure, compacted search — without the brute-force
    // truth side and result-set reconciliations (Verify runs the
    // full-gate form above)
    benchFn = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")).cache()
      val dir = deleteDirFor(d)
      graft.util.StoreLease.break(s, dir)
      build(emb, dir)
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3)
      delete(deleted, dir)
      val queries = Similarity.probePanel(live)
      search(load(s, dir), queries, live, k = 1).count(): Unit
      compact(s, dir)
      val ixC = ensure(live, dir)
      val out = search(ixC, queries, live, k = 1)
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    })

  private def filteredDeleteDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/v27_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** V27 — deletion + compaction for the FILTERED (label, cell) store,
    * completing the maintenance matrix (v25 = plain store, v26 = graph
    * index): tombstone every vec_id ≡ 3 (mod 10), then gate
    *   1. falsifiable merge-on-read (no tombstoned nid in the loaded
    *      codes relation),
    *   2. filtered search over the tombstoned store reaches within-
    *      label recall@1 ≥ 0.6 vs the LIVE truth,
    *   3. compaction rewrites only affected (label, cell) pairs and
    *      the same search returns the IDENTICAL result set (pure fold,
    *      no repair — merge-on-read == merge-on-write),
    *   4. ensureFiltered over the live corpus validates WITHOUT
    *      rebuild (label participates in the XOR fingerprint) and
    *      counts reconcile.
    * Emitted rows are the exact live within-label truth — v23's oracle
    * with the live filter. */
  val filteredDeleteCompact = QueryDef(
    "v27_filtered_delete_compact",
    { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val dir = filteredDeleteDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      buildFiltered(emb, dir, "label")
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3).cache()
      deleteFiltered(deleted, dir, "label")
      val ixT = load(s, dir)
      val mergeOnReadApplied = ixT.codes
        .join(deleted.select(col("vec_id").as("nid")), Seq("nid"),
          "left_semi").count() == 0
      val queries = Similarity.probePanel(live)
      val exact = Similarity.bruteForceTop1Filtered(queries, live, "label")
        .localCheckpoint(eager = true)
      val exactMap = exact.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def resultSet(ix: Loaded): Set[(Long, Long)] =
        searchFiltered(ix, queries, live, "label", k = 1)
          .select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val resT = resultSet(ixT)
      compactFiltered(s, dir, "label")
      val builds0 = buildsThisProcess
      val ixC = ensureFiltered(live, dir, "label")
      val noRebuild = buildsThisProcess == builds0
      val resC = resultSet(ixC)
      val nLive = live.count()
      val nStored = ixC.codes.count()
      val hits = resT.count { case (q, nid) => exactMap.get(q).contains(nid) }
      val recallOk = exactMap.nonEmpty &&
        hits.toDouble / exactMap.size >= 0.6
      val noTombLeft = !graft.util.Fs.exists(s, s"$dir/tombstones")
      emb.unpersist(); live.unpersist()
      exact.filter(lit(recallOk && mergeOnReadApplied && resT == resC &&
          noRebuild && noTombLeft && nStored == nLive &&
          ixC.nVectors == nLive))
        .select(col("qid"), col("nid"), col("sim"))
    },
    oracle = Some(
      """WITH live AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |                     label
        |              FROM embeddings WHERE vec_id % 10 <> 3),
        |q AS (SELECT vec_id AS qid, v AS qv, label
        |      FROM live WHERE vec_id < 40),
        |s AS (SELECT qid, e.vec_id AS nid,
        |             round(list_cosine_similarity(qv, e.v), 6) AS sim
        |      FROM q JOIN live e
        |        ON e.label = q.label AND e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rn
        |      FROM s)
        |SELECT qid, nid, sim FROM r WHERE rn = 1""".stripMargin),
    // store-ops-only bench variant (see v25's) for the filtered store
    benchFn = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val dir = filteredDeleteDirFor(d)
      graft.util.StoreLease.break(s, dir)
      graft.util.Fs.rmTree(s, dir)
      buildFiltered(emb, dir, "label")
      val deleted = emb.filter(col("vec_id") % 10 === 3)
      val live = emb.filter(col("vec_id") % 10 =!= 3).cache()
      deleteFiltered(deleted, dir, "label")
      val queries = Similarity.probePanel(live)
      searchFiltered(load(s, dir), queries, live, "label", k = 1)
        .count(): Unit
      compactFiltered(s, dir, "label")
      val ixC = ensureFiltered(live, dir, "label")
      val out = searchFiltered(ixC, queries, live, "label", k = 1)
        .localCheckpoint(eager = true)
      emb.unpersist(); live.unpersist()
      out
    })

  def all: Seq[QueryDef] =
    Seq(persisted, persistedFiltered, deleteCompact, filteredDeleteCompact)
}
