package graft.llm

import graft.{QueryDef, Tables}
import graft.store.{StageSwap, Table, Tombstones}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted n-gram-Jaccard DEDUP SIGNATURE STORE — the dedup analog of
  * the vector/graph index-maintenance matrix: build / ensure / probe /
  * append / delete / compact over a gram-prefix index on storage, so
  * deduplicating a new crawl batch against the accepted corpus costs
  * O(batch + candidates) instead of re-shingling the whole corpus per
  * ingest (which is what [[Dedup.incrementalDedup]] — the one-shot,
  * storeless form — must do, and what no 100 TB ingest loop can afford).
  *
  * Index shape (AllPairs/PPJoin prefix filtering — Bayardo WWW'07, Xiao
  * WWW'08 — under a FIXED universal gram order):
  *
  *   - `prefix/bucket=B/` — (id, gram, set_sz) for each indexed doc's
  *     PREFIX grams only, cut under the store's FROZEN total order
  *     (build-time-hot flag, then gram hash — see [[prefixGrams]]).
  *     The prefix-filter lemma holds under any fixed total order; full
  *     document-frequency ranking is deliberately NOT used (df drifts
  *     as the corpus grows and would force re-ranking every stored
  *     prefix on every append), but the bounded hot-gram set gives the
  *     rarest-first insight where it matters: a corpus-wide
  *     boilerplate gram sorts last and leaves every prefix, killing
  *     the (share·n)² candidate blowup a ubiquitous gram otherwise
  *     causes. Partitioned by `bucket = pmod(gram, nBuckets)` so a
  *     probe scans only the partition directories its own prefix grams
  *     hash into.
  *   - `hotgrams/` — the frozen hot set (grams with df >
  *     max(64, 0.002·n_docs) at build, GROW-ONLY extended by
  *     [[refreshHotGrams]] as post-build appends drift the df;
  *     provably ≤ (grams/doc)/0.002 rows — broadcast-sized at ANY
  *     corpus size). Read back by every probe/append so all prefix
  *     cuts forever share one order.
  *   - `sets/sbucket=S/` — (id, sh) full sorted gram arrays, the
  *     verify side; partitioned by `sbucket = pmod(id, nIdBuckets)` so
  *     candidate verification fetches only the directories that hold
  *     candidate ids.
  *   - `tombstones/` — merge-on-read deletes ([[delete]]); every probe
  *     anti-joins it, [[compact]] folds it away rewriting ONLY affected
  *     partitions (crash-safe under [[graft.store.StageSwap]]).
  *   - `gramdf/` — incrementally-maintained per-gram document
  *     frequency (base + signed per-batch deltas, merge-on-read like
  *     the tombstones, folded at maintenance), so the hot-gram refresh
  *     tick costs O(appended) instead of re-exploding the corpus while
  *     holding the writer lease.
  *   - `meta/` — doc count, XOR fingerprint (incrementally maintained:
  *     append XORs survivors in, delete XORs them back out, so
  *     [[ensure]] over the live corpus validates WITHOUT rebuild),
  *     store threshold t0, bucket counts, max indexed id (the
  *     monotonic-id ingest contract), format_version.
  *
  * Keeper semantics match [[Dedup.incrementalDedup]] (and its DuckDB
  * oracle): batch ids are all greater than every stored id (enforced),
  * and a batch doc drops iff it is the HIGHER id of any verified
  * Jaccard-≥-t pair — against a live stored doc or against a lower-id
  * batch doc. Null-text batch docs produce no grams, match nothing,
  * and are always kept (they are not indexable and not deletable).
  *
  * Scale posture: the probe's only collects are the distinct probed
  * prefix buckets (≤ nBuckets values) and the distinct candidate set
  * buckets (≤ nIdBuckets values) — bounded IN-lists that prune the
  * partitioned scans, the same shape as [[VectorIndex.search]]'s probed
  * cells. Nothing rescans or rewrites unaffected partitions.
  *
  * Reference anchor: the dedup mandate (SURVEY.md §2.12); store shapes
  * follow the public Iceberg/Delta merge-on-read pattern.
  */
object DedupIndex {

  /** Incremented on every [[build]] so specs and gates can assert a
    * later [[ensure]] was a pure fingerprint-validated load. */
  @volatile var buildsThisProcess: Int = 0

  private val Format = 2
  private val Eps = 1e-9

  private def indexable(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)

  /** (count, XOR of per-row hashes) over the INDEXABLE rows — the same
    * incremental-XOR contract as the vector stores: build sets it,
    * append XORs survivors in, delete XORs them out, ensure compares. */
  private def fingerprint(docs: DataFrame, idCol: String,
      textCol: String): (Long, Long) = {
    val r = indexable(docs, idCol, textCol)
      .agg(count(lit(1)), expr(s"bit_xor(xxhash64($idCol, $textCol))"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Prefix grams of already-shingled docs at threshold `t`:
    * (id, gram, set_sz, bucket), cut under the store's FROZEN total
    * order: (is-hot-at-build, gram hash) — common grams sort LAST, so
    * a corpus-wide stop-phrase gram leaves every prefix (the PPJoin
    * rarest-first insight, applied with a build-time-frozen hot SET
    * instead of full DF ranks so appends never re-rank: the
    * prefix-filter completeness theorem holds under ANY fixed total
    * order, and both sides of every candidate join cut under this
    * one). Without the defense a prefix-resident gram shared by 20% of
    * the corpus yields (0.2·n)² candidate pairs — measured as an OOM
    * at the store-skew tier's ×100 before this fix
    * (`artifacts/scale_campaign_r14_storeskew{2,3}.log`). The hot set
    * is provably broadcast-sized: #grams with df > f·n_docs ≤
    * (avg grams/doc)/f, INDEPENDENT of corpus size. Hot grams can
    * still appear in a prefix when a doc is nearly all boilerplate —
    * then its near-dups are true pairs and the work is output-bound.
    * Drift contract: grams that become hot only AFTER build keep their
    * cold rank until a [[refreshHotGrams]] (or rebuild) extends the
    * frozen set.
    *
    * Shape (r14 advice): a partition-local kernel, NOT
    * explode + join + window — `sh` is already sorted ascending, so the
    * frozen (hot, hash) order is exactly coldAsc ++ hotAsc, two stable
    * in-order passes against the broadcast hot set, and the prefix cut
    * is a head-count. Zero shuffle on every build, probe, and append
    * (the window form paid a full per-doc sort of every gram each
    * time, undermining the O(batch) probe posture). */
  private def prefixGrams(grams: DataFrame, idCol: String, t: Double,
      nBuckets: Int, hot: Array[Long]): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    // `hot` is bounded: ≤ (grams/doc)/HotGramFraction rows by the
    // df-threshold lemma, independent of corpus size — read driver-side
    // ([[readHotGramsArr]]), no per-cut collect job
    val hotB = spark.sparkContext.broadcast {
      val s = new java.util.HashSet[java.lang.Long](hot.length * 2 + 16)
      hot.foreach(g => s.add(g): Unit)
      s
    }
    grams.select(col(idCol).cast("long"), col("sh"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, sh) =>
        val hs = hotB.value
        val n = sh.length
        val prefLen = n - math.ceil(t * n - Eps).toInt + 1
        if (prefLen <= 0) Iterator.empty
        else {
          val out = Array.newBuilder[(Long, Int, Long)]
          var taken = 0
          var i = 0
          while (i < n && taken < prefLen) {
            if (!hs.contains(sh(i))) { out += ((id, n, sh(i))); taken += 1 }
            i += 1
          }
          i = 0
          while (i < n && taken < prefLen) {
            if (hs.contains(sh(i))) { out += ((id, n, sh(i))); taken += 1 }
            i += 1
          }
          out.result().iterator
        }
      }
      .toDF(idCol, "set_sz", "gram")
      .withColumn("bucket", pmod(col("gram"), lit(nBuckets)).cast("int"))
  }

  /** Grams whose build-time document frequency exceeds
    * max(64, HotGramFraction · n_docs) — the frozen hot set. */
  private val HotGramFraction = 0.002

  private def hotGramsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("gram",
        org.apache.spark.sql.types.LongType)))

  // ------------------------------------------------------------------
  // gramdf/ — incrementally-maintained document frequency (r15 verdict
  // item 1). The hot-gram refresh needs exact per-gram df over the LIVE
  // corpus; recomputing it by exploding every stored gram set is an
  // O(corpus) shuffle executed while holding the single-writer lease —
  // an ingest stall recurring every ~2% growth. Instead df is
  // maintained like the tombstones: `gramdf/base/` holds exact (gram,
  // df) as of build (or the last fold), every append writes a tiny
  // POSITIVE delta for the survivors' grams, every delete a NEGATIVE
  // delta for the deleted docs' grams, and merged-on-read sums are
  // exact at any moment. The refresh tick then needs only the grams
  // whose count CHANGED since the last evaluation — exactly the grams
  // present in unfolded deltas — because under a non-decreasing
  // threshold an unchanged count can never newly cross (every gram was
  // below its evaluation threshold when last evaluated, and thresholds
  // only grow with appends). Deletes can shrink the threshold; that
  // rare case takes a full merged pass — still a scan of the
  // aggregated df table, never a re-explode of `sets/`. Deltas fold
  // into base only at maintenance ([[compact]] always, [[compactFiles]]
  // when the delta file count passes its budget), so a refresh tick
  // writes nothing corpus-sized.
  // ------------------------------------------------------------------

  private def gramDfSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("gram",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("df",
        org.apache.spark.sql.types.LongType)))

  private def gramDfBase(dir: String) = s"$dir/gramdf/base"
  private def gramDfDelta(dir: String) = s"$dir/gramdf/delta"
  private def gramDfEval(dir: String) = s"$dir/gramdf/evalmeta"

  private def hasGramDf(spark: SparkSession, dir: String): Boolean =
    graft.util.Fs.exists(spark, gramDfBase(dir))

  /** `gramdf/base` is BUCKET-PARTITIONED by gram hash (the termstats/
    * layout from [[TextIndex]], r16 verdict Missing #3): at 100 TB the
    * distinct-gram table is billions of rows, and the refresh tick's
    * candidate semi-join — though shuffle-free — still had to SCAN
    * every row of an unpartitioned base. With the partition column the
    * tick prunes to the ≤ [[gramDfBucketsOf]] partitions its own delta
    * grams hash into, so tick scan bytes track the APPEND, not the
    * corpus. Legacy (unpartitioned, r16) bases read fine without
    * pruning and upgrade to the partitioned layout at the next fold. */
  private val GramDfBucketsLegacy = 64

  /** SCALE-ADAPTIVE partition counts (guide §2: derive partitioning
    * from input size, not a constant tuned for one scale): a
    * fixture-sized store paying 64 partition directories per write is
    * pure committer/listing overhead (measured ~40% of the d17/d18
    * store-op bench), while the caps keep today's at-scale layout.
    * Callers passing an explicit count (the 0-sentinel default means
    * derive) get exactly that count — the spec/layout contract. */
  private def autoBuckets(nDocs: Long, cap: Int): Int =
    math.max(4L, math.min(cap.toLong, nDocs / 1000L)).toInt

  /** The gramdf/ bucket count is a PER-STORE layout fact: recorded in
    * a `gramdf/layout` sidecar at build/seed, preserved by folds;
    * absent (every pre-r18 store) means the legacy constant 64. Write
    * and prune must always agree, so nothing ever consults a global. */
  private def gramDfLayout(dir: String) = s"$dir/gramdf/layout"

  private def gramDfBucketsOf(spark: SparkSession, dir: String): Int =
    if (!graft.util.Fs.exists(spark, gramDfLayout(dir)))
      GramDfBucketsLegacy
    else try graft.util.Sidecar.readHead(spark, gramDfLayout(dir))
      .getAs[Int]("gbuckets")
    catch { case scala.util.control.NonFatal(_) => GramDfBucketsLegacy }

  private def writeGramDfLayout(spark: SparkSession, dir: String,
      nb: Int): Unit =
    graft.util.Sidecar.write(spark, gramDfLayout(dir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("gbuckets",
          org.apache.spark.sql.types.IntegerType))),
      Seq(Seq[Any](nb)))

  private def gramBucketOf(gram: Column, nb: Int): Column =
    pmod(gram, lit(nb)).cast("int")

  private def gramDfPartSchema =
    org.apache.spark.sql.types.StructType(gramDfSchema.fields :+
      org.apache.spark.sql.types.StructField("gbucket",
        org.apache.spark.sql.types.IntegerType))

  private def gramDfBasePartitioned(spark: SparkSession,
      dir: String): Boolean =
    graft.util.Fs.listDirNames(spark, gramDfBase(dir))
      .exists(_.startsWith("gbucket="))

  private def writeGramDfBase(df: DataFrame, path: String,
      nb: Int): Unit =
    df.select(col("gram"), col("df"))
      .withColumn("gbucket", gramBucketOf(col("gram"), nb))
      .repartition(col("gbucket"))
      .write.mode("overwrite").partitionBy("gbucket").parquet(path)

  /** Base reader: partition-pruned to `buckets` on the new layout;
    * a legacy unpartitioned base reads whole (no prune — correct,
    * just unpruned until the next fold rewrites it). `private[llm]`
    * so the spec can assert the prune lands as PartitionFilters. */
  private[llm] def readGramDfBase(spark: SparkSession, dir: String,
      buckets: Option[Seq[Int]]): DataFrame =
    if (gramDfBasePartitioned(spark, dir)) {
      val raw = spark.read.schema(gramDfPartSchema).parquet(gramDfBase(dir))
      val pruned = buckets match {
        case Some(bs) => raw.filter(col("gbucket").isin(bs.map(Int.box): _*))
        case None => raw
      }
      pruned.select(col("gram"), col("df"))
    } else spark.read.schema(gramDfSchema).parquet(gramDfBase(dir))

  /** Exact per-gram document frequency by explosion — the build-time
    * seed and the legacy-store fallback. O(total grams in `grams`). */
  private def gramDfOf(grams: DataFrame): DataFrame =
    grams.select(explode(col("sh")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))

  /** The hot-set count threshold at `nDocs` live docs. */
  private def hotThresholdFor(nDocs: Long): Long =
    math.max(64L, (HotGramFraction * nDocs).toLong)

  // evalmeta is a one-long sidecar — driver-side I/O ([[graft.util
  // .Sidecar]]), no Spark job per tick
  private def writeGramDfEval(spark: SparkSession, dir: String,
      tEval: Long): Unit =
    graft.util.Sidecar.write(spark, gramDfEval(dir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t_eval",
          org.apache.spark.sql.types.LongType))),
      Seq(Seq[Any](tEval)))

  private def readGramDfEval(spark: SparkSession, dir: String): Option[Long] =
    if (!graft.util.Fs.exists(spark, gramDfEval(dir))) None
    else try Some(graft.util.Sidecar.readHead(spark, gramDfEval(dir))
      .getAs[Long]("t_eval"))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Signed per-batch df delta for `grams` (each doc's grams are
    * distinct, so a per-gram row count IS a doc count). O(batch). */
  private def writeGramDfDelta(spark: SparkSession, dir: String,
      grams: DataFrame, sign: Int): Unit =
    gramDfOf(grams)
      .select(col("gram"), (col("df") * sign).cast("long").as("df"))
      .repartition(1).write.mode("append").parquet(gramDfDelta(dir))

  /** Merged-on-read exact df: base plus the signed unfolded deltas.
    * Grams whose live count reached zero carry df = 0 rows. */
  private[llm] def mergedGramDf(spark: SparkSession, dir: String): DataFrame = {
    val base = readGramDfBase(spark, dir, None)
    if (!graft.util.Fs.exists(spark, gramDfDelta(dir))) base
    else base.unionByName(
        spark.read.schema(gramDfSchema).parquet(gramDfDelta(dir)))
      .groupBy("gram").agg(sum(col("df")).as("df"))
  }

  /** Fold unfolded deltas into an exact rewritten base (maintenance
    * commit). The base rewrite and delta drop are one atomicity domain
    * — a crash in between would double-count every folded delta — so
    * the fold sits behind an [[graft.util.IngestMarker]]: a crash fails
    * every later op LOUD and ensure() rebuilds, the documented
    * recovery. Caller holds the writer lease. */
  private def foldGramDf(spark: SparkSession, dir: String): Unit = {
    if (!hasGramDf(spark, dir) ||
      !graft.util.Fs.exists(spark, gramDfDelta(dir))) return
    graft.util.IngestMarker.write(spark, dir, "gramdf delta fold in flight")
    // the fold rewrites to the BUCKET-PARTITIONED layout (upgrading a
    // legacy unpartitioned base in passing), PRESERVING the store's
    // recorded gramdf bucket count
    val nb = gramDfBucketsOf(spark, dir)
    StageSwap.replace(spark, Table(gramDfBase(dir))) { staging =>
      writeGramDfBase(mergedGramDf(spark, dir).filter(col("df") =!= 0L),
        staging, nb)
    }
    writeGramDfLayout(spark, dir, nb)
    graft.util.Fs.rmTree(spark, gramDfDelta(dir))
    graft.util.IngestMarker.clear(spark, dir)
  }

  /** The frozen hot set, driver-side (bounded by the df lemma — every
    * consumer collected it anyway, so the Spark-job read bought
    * nothing). Files may be Spark-written (legacy) or sidecar-written;
    * both read identically. */
  private def readHotGramsArr(spark: SparkSession,
      dir: String): Array[Long] =
    graft.util.Sidecar.readRows(spark, s"$dir/hotgrams")
      .map(_.getAs[Long]("gram")).toArray

  private def writeHotGrams(spark: SparkSession, dir: String,
      grams: Seq[Long], overwrite: Boolean): Unit = {
    val rows = grams.map(g => Seq[Any](g))
    if (overwrite)
      graft.util.Sidecar.write(spark, s"$dir/hotgrams",
        hotGramsSchema, rows)
    else
      graft.util.Sidecar.append(spark, s"$dir/hotgrams",
        hotGramsSchema, rows)
  }

  private def readMeta(spark: SparkSession, dir: String) =
    graft.util.Sidecar.readHead(spark, s"$dir/meta")

  private def prefixT(dir: String) = Table(s"$dir/prefix", "bucket")
  private def setsT(dir: String) = Table(s"$dir/sets", "sbucket")
  private def tombs(dir: String) = Tombstones(dir, "nid")

  /** Per-bucket prefix-row STATISTICS (`prefstats/`) — the
    * [[graft.plans.RangeJoinNative.rangeJoinChosen]] pattern applied
    * to the store (r14 stretch): [[build]] writes exact per-bucket
    * counts, every [[append]] adds DELTA rows (src = "append"), and
    * maintenance ([[compact]]/[[compactFiles]]/[[refreshHotGrams]])
    * rewrites the table exactly (src = "maint"). Two consumers:
    *   - [[probePairs]] sums counts over its probed buckets (one tiny
    *     read) and ROUTES the store-side candidate join: a probed
    *     store slice under [[BroadcastStoreRows]] becomes a broadcast
    *     build side — zero shuffle, no 32× salt explosion of the
    *     batch side — while a large slice takes the salted shuffle
    *     join (the hot-gram-safe form);
    *   - [[refreshHotGramsLocked]]'s trigger: the O(corpus) df
    *     recompute runs only when append-delta mass since the last
    *     maintenance exceeds [[RefreshDueFraction]] of the table —
    *     amortized O(1) per ingested row even when `compactFiles`
    *     fires every few micro-batches on a huge store.
    * Counts OVER-state live rows (merge-on-read deletes never
    * decrement) — conservative for both consumers. A store without
    * the table (pre-r15 layout) routes to the salted join and an
    * always-due refresh: the safe legacy defaults. */
  // ~256k prefix rows ≈ 6 MB columnar / tens of MB as a built
  // broadcast relation — safe for a default-memory driver (the
  // BroadcastExchange build amplifies; a 1M-row limit courted OOM on
  // 1g drivers while buying nothing: the regime this path serves —
  // early ingest loops and fixture scale — sits far below either)
  private val BroadcastStoreRows = 262144L
  private val RefreshDueFraction = 0.02

  private def statsPath(dir: String) = s"$dir/prefstats"

  private def statsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))

  /** All prefstats rows, driver-side: ≤ nBuckets rows per file-set by
    * construction — a sidecar, not a table. */
  private def readStatsRows(spark: SparkSession,
      dir: String): Seq[(Int, Long, String)] =
    graft.util.Sidecar.readRows(spark, statsPath(dir))
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n_rows"),
        r.getAs[String]("src")))

  /** (total prefix rows, rows appended since last maintenance), or
    * None when the table is absent/unreadable (legacy store). */
  private[llm] def statsTotals(spark: SparkSession,
      dir: String): Option[(Long, Long)] =
    if (!graft.util.Fs.exists(spark, statsPath(dir))) None
    else try {
      val rows = readStatsRows(spark, dir)
      Some((rows.map(_._2).sum,
        rows.collect { case (_, n, "append") => n }.sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Exact rewrite from the live prefix table (maintenance commit):
    * one bounded aggregate job (≤ nBuckets result rows), committed
    * driver-side. */
  private def rewriteStats(spark: SparkSession, dir: String): Unit = {
    val counts = try {
      spark.read.parquet(s"$dir/prefix")
        .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    } catch { // zero-file store: a valid empty stats table
      case scala.util.control.NonFatal(_) => Seq.empty[(Int, Long)]
    }
    graft.util.Sidecar.write(spark, statsPath(dir), statsSchema,
      counts.map { case (b, n) => Seq[Any](b, n, "maint") })
  }

  /** Every [[append]] adds one prefstats file, and every probe reads
    * them all; past [[GramDfFoldFiles]] files they fold to one file of
    * one row per (bucket, src) holding the summed count, so
    * [[statsTotals]] and the probe router's per-bucket sums read the
    * same. Runs inside the append's marker window. */
  private def maybeFoldStats(spark: SparkSession, dir: String): Unit =
    if (graft.util.Fs.dataFileCount(spark, statsPath(dir)) > GramDfFoldFiles) {
      val rows = readStatsRows(spark, dir)
        .groupBy { case (b, _, src) => (b, src) }.toSeq.sortBy(_._1)
        .map { case ((b, src), rs) => Seq[Any](b, rs.map(_._2).sum, src) }
      StageSwap.replace(spark, Table(statsPath(dir))) { staging =>
        graft.util.Sidecar.write(spark, staging, statsSchema, rows)
      }
    }

  /** The store tables' fixed schemas ([[Dedup.shingleHashes]] casts the
    * id to long, so these hold for every store regardless of the
    * caller's idCol). Probe/delete reads pass them EXPLICITLY: schema
    * inference on a partitioned dir with zero data files throws
    * UNABLE_TO_INFER_SCHEMA, and a store legitimately HAS zero files
    * when it was bootstrapped from an empty first micro-batch (the
    * st17 streaming ingest contract — batch 0 of a real feed can be
    * empty). An explicit schema makes the empty store a valid store
    * (probes find nothing, appends grow it) and skips the footer read
    * on every probe besides. */
  private def setsSchema(idCol: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("sbucket",
        org.apache.spark.sql.types.IntegerType)))

  private def prefixSchema(idCol: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("set_sz",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("gram",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType)))

  private def readSets(spark: SparkSession, dir: String,
      idCol: String): DataFrame =
    spark.read.schema(setsSchema(idCol)).parquet(s"$dir/sets")

  private def readPrefixTable(spark: SparkSession, dir: String,
      idCol: String): DataFrame =
    spark.read.schema(prefixSchema(idCol)).parquet(s"$dir/prefix")

  private def metaSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("checksum",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("max_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("threshold",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n_buckets",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_id_buckets",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("format_version",
        org.apache.spark.sql.types.IntegerType)))

  // driver-side meta commit ([[graft.util.Sidecar]]) — read at the top
  // of every op, written at the end of every mutation
  private def writeMeta(spark: SparkSession, dir: String, nDocs: Long,
      checksum: Long, maxId: Long, t0: Double, nBuckets: Int,
      nIdBuckets: Int): Unit =
    // Seq[Any]: mixed numeric literals must NOT unify to a wider type
    // (a Long checksum widened through Double loses bits)
    graft.util.Sidecar.write(spark, s"$dir/meta", metaSchema,
      Seq(Seq[Any](nDocs, checksum, maxId, t0, nBuckets, nIdBuckets,
        Format)))

  /** Shingle the corpus ONCE, write prefix + sets + meta. The
    * once-per-corpus cost every later [[probe]]/[[append]] amortizes.
    * Holds the store's single-writer lease ([[graft.util.StoreLease]])
    * like every mutating op.
    *
    * `nBuckets`/`nIdBuckets` = 0 (the default) derives the partition
    * counts from the indexed-corpus size ([[autoBuckets]], capped at
    * the legacy 64/32); an explicit count is honored verbatim. Every
    * later op reads the counts back from meta, so the derivation is a
    * build-time-only decision. */
  def build(docs: DataFrame, dir: String, threshold: Double,
      nBuckets: Int = 0, nIdBuckets: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val spark = docs.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "build") {
    buildsThisProcess += 1
    graft.util.Fs.rmTree(spark, dir)
    val idx = indexable(docs, idCol, textCol)
    val grams = Dedup.shingleHashes(idx, idCol, textCol)
      .localCheckpoint(eager = true)
    val nIdx = grams.count()
    val nb = if (nBuckets > 0) nBuckets else autoBuckets(nIdx, 64)
    val nib = if (nIdBuckets > 0) nIdBuckets else autoBuckets(nIdx, 32)
    grams
      .withColumn("sbucket", pmod(col(idCol), lit(nib)).cast("int"))
      .repartition(col("sbucket"))
      .write.mode("overwrite").partitionBy("sbucket").parquet(s"$dir/sets")
    // the frozen hot set MUST be persisted before any prefix is cut:
    // every later prefix (probe, append) reads it back so both sides
    // of every candidate join share one total order forever. The full
    // per-gram df aggregate is persisted as `gramdf/base` (ONE
    // explode+groupBy, reused for the hot cut), seeding the
    // incrementally-maintained df the refresh tick reads instead of
    // re-exploding the corpus.
    val tBuild = hotThresholdFor(nIdx)
    writeGramDfBase(gramDfOf(grams), gramDfBase(dir), nb)
    writeGramDfLayout(spark, dir, nb)
    writeGramDfEval(spark, dir, tBuild)
    // bounded collect (the df lemma): the hot set is committed
    // driver-side and handed straight to the prefix cut — previously a
    // Spark write plus a read-back collect
    val hotArr = readGramDfBase(spark, dir, None)
      .filter(col("df") > tBuild).select("gram")
      .collect().map(_.getLong(0))
    writeHotGrams(spark, dir, hotArr.toSeq, overwrite = true)
    prefixGrams(grams, idCol, threshold, nb, hotArr)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/prefix")
    rewriteStats(spark, dir) // exact per-bucket counts at build
    val (n, sum) = fingerprint(docs, idCol, textCol)
    val maxId = docs.agg(coalesce(max(col(idCol)).cast("long"),
      lit(Long.MinValue))).head().getLong(0)
    writeMeta(spark, dir, n, sum, maxId, threshold, nb, nib)
    }
  }

  /** Load-or-build: one fingerprint aggregate over the corpus against
    * the incrementally-maintained meta — a maintained store (any number
    * of appends/deletes later) validates WITHOUT rebuild.
    *
    * Failure separation (r13 advice): only the META read and its field
    * shape are allowed to mean "store invalid → rebuild" (and only on
    * NonFatal errors — an OOM propagates). The corpus-side fingerprint
    * aggregate is NOT caught: a transient I/O failure reading the
    * corpus RETHROWS instead of being treated as a mismatch, because
    * the rebuild it would trigger starts by deleting the healthy store
    * — a transient error must never destroy the only copy of the
    * index. A crashed-append marker ([[graft.util.IngestMarker]])
    * counts as invalid: rebuild is exactly the documented recovery. */
  def ensure(docs: DataFrame, dir: String, threshold: Double,
      nBuckets: Int = 0, nIdBuckets: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val metaOpt =
      if (graft.util.IngestMarker.present(spark, dir)) None
      else try Some(readMeta(spark, dir))
      catch { case scala.util.control.NonFatal(_) => None }
    val valid = metaOpt.exists { meta =>
      val shapeOk = try {
        // bucket counts are a LAYOUT fact the store carries in meta; a
        // caller on the derive-default (0) accepts whatever the store
        // was built with (a maintained store's corpus has grown since
        // build, so re-deriving here would spuriously rebuild) — only
        // an EXPLICIT count is a contract to enforce
        meta.getAs[Int]("format_version") == Format &&
          math.abs(meta.getAs[Double]("threshold") - threshold) < Eps &&
          (nBuckets == 0 || meta.getAs[Int]("n_buckets") == nBuckets) &&
          (nIdBuckets == 0 ||
            meta.getAs[Int]("n_id_buckets") == nIdBuckets)
      } catch { case scala.util.control.NonFatal(_) => false }
      shapeOk && {
        val (n, sum) = fingerprint(docs, idCol, textCol) // NOT caught
        meta.getAs[Long]("n_docs") == n &&
          meta.getAs[Long]("checksum") == sum
      }
    }
    if (!valid) build(docs, dir, threshold, nBuckets, nIdBuckets,
      idCol, textCol)
  }

  /** Verified near-dup pairs of `batch` against the live store AND
    * within the batch: (doc_a, doc_b, jaccard) with jaccard ≥ t,
    * doc_a < doc_b (store ids are always below batch ids by the
    * monotonic-id contract; batch-internal pairs are id-ordered).
    * READ-ONLY — the store is not touched. Probe threshold must be ≥
    * the store threshold t0: stored prefixes were cut at t0, and a
    * lower-t probe would need LONGER prefixes than the store holds
    * (silent recall loss — fail loud instead). */
  def probePairs(batch: DataFrame, dir: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    graft.util.IngestMarker.requireAbsent(spark, dir, "probe")
    val meta = readMeta(spark, dir)
    require(meta.getAs[Int]("format_version") == Format,
      s"dedup index at $dir has format ${meta.getAs[Int]("format_version")}" +
        s", expected $Format — rebuild via ensure()")
    val t0 = meta.getAs[Double]("threshold")
    require(threshold >= t0 - Eps,
      s"probe threshold $threshold is below the store threshold $t0 — " +
        "stored prefixes are too short for it; rebuild at the lower " +
        "threshold")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nIdBuckets = meta.getAs[Int]("n_id_buckets")
    val bMin = batch.agg(coalesce(min(col(idCol)).cast("long"),
      lit(Long.MaxValue))).head().getLong(0)
    require(meta.getAs[Long]("max_id") < bMin,
      s"probe needs all batch ids > every stored id " +
        s"(store max ${meta.getAs[Long]("max_id")}, batch min $bMin)")
    val gramsB = Dedup.shingleHashes(indexable(batch, idCol, textCol),
      idCol, textCol).localCheckpoint(eager = true)
    val prefB = prefixGrams(gramsB, idCol, threshold, nBuckets,
        readHotGramsArr(spark, dir))
      .localCheckpoint(eager = true)
    // bounded collect: ≤ nBuckets distinct values → partition IN-list
    val probeBuckets = prefB.select("bucket").distinct()
      .collect().map(_.getInt(0))
    val storePref = storePrefixScan(spark, dir, probeBuckets, idCol)
    def sizeOk(a: String, b: String) =
      col(s"$a.set_sz") >= lit(threshold) * col(s"$b.set_sz") - Eps &&
        col(s"$b.set_sz") >= lit(threshold) * col(s"$a.set_sz") - Eps
    // store-vs-batch candidate join, STATS-ROUTED (the rangeJoinChosen
    // pattern): one tiny prefstats read sums the probed buckets' row
    // counts.
    //  - small slice (≤ BroadcastStoreRows): the store side BROADCASTS
    //    — zero shuffle, no salt explosion, and a hot gram costs
    //    nothing extra because a broadcast join has no per-key tasks.
    //    This is every early-ingest-loop probe and the whole d17/st17
    //    fixture scale.
    //  - large slice (or no/unreadable stats — legacy store): SALTED
    //    shuffle join on pmod(store id, 32). The store's fixed-hash
    //    gram order has no document-frequency defense, so a
    //    corpus-wide stop-phrase gram that hashes low sits in the
    //    prefix of EVERY doc containing it and its posting list
    //    becomes one join key = ONE task (the single-task hot-key
    //    bound, measured in the r14 store-skew campaign). The salt
    //    splits each gram's store posting across ≤ 32 key values; the
    //    batch side explodes all 32 salts — a 32× blowup of the
    //    O(micro-batch) SMALL side — and the output is identical.
    // Both forms are row-identical (asserted in DedupIndexSpec by
    // deleting prefstats and re-probing).
    val probedStoreRows =
      if (!graft.util.Fs.exists(spark, statsPath(dir))) Long.MaxValue
      else try {
        val probed = probeBuckets.toSet
        readStatsRows(spark, dir)
          .collect { case (b, n, _) if probed(b) => n }.sum
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val candSB =
      if (probedStoreRows <= BroadcastStoreRows)
        broadcast(storePref).alias("x")
          .join(prefB.alias("y"),
            col("x.gram") === col("y.gram") && sizeOk("x", "y"))
          .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      else storePref
        .withColumn("__salt", pmod(col(idCol), lit(32)).cast("int"))
        .alias("x")
        .join(prefB.withColumn("__salt",
            explode(sequence(lit(0), lit(31)))).alias("y"),
          col("x.gram") === col("y.gram") &&
            col("x.__salt") === col("y.__salt") && sizeOk("x", "y"))
        .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
    val candBB = prefB.alias("x").join(prefB.alias("y"),
        col("x.gram") === col("y.gram") &&
          col(s"x.$idCol") < col(s"y.$idCol") && sizeOk("x", "y"))
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
    val cands = candSB.unionByName(candBB).distinct()
      .localCheckpoint(eager = true)
    // verify fetch: only the sbucket partitions that hold candidates
    val candStore = cands.select(col("doc_a").as(idCol))
      .join(gramsB.select(col(idCol)), Seq(idCol), "left_anti").distinct()
    val candSbuckets = candStore
      .select(pmod(col(idCol), lit(nIdBuckets)).cast("int").as("sb"))
      .distinct().collect().map(_.getInt(0))
    val setsStore =
      if (candSbuckets.isEmpty) gramsB.select(col(idCol), col("sh")).limit(0)
      else readSets(spark, dir, idCol)
        .filter(col("sbucket").isin(candSbuckets.map(Int.box).toSeq: _*))
        .join(candStore, Seq(idCol), "left_semi")
        .select(col(idCol), col("sh"))
    val setsAll = setsStore.unionByName(gramsB.select(col(idCol), col("sh")))
    Dedup.verifyJaccard(cands, setsAll, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** The store side of a probe: prefix partitions restricted to the
    * probed buckets (a partition-column IN list — directory-level
    * pruning, plan-asserted in PlanGuardSpec) with tombstoned docs
    * anti-joined out ABOVE the pruned scan (merge-on-read). */
  private[llm] def storePrefixScan(spark: SparkSession, dir: String,
      probeBuckets: Seq[Int], idCol: String): DataFrame =
    tombs(dir).live(spark, readPrefixTable(spark, dir, idCol)
      .filter(col("bucket").isin(probeBuckets.map(Int.box): _*)), idCol)

  /** Kept batch ids after dedup against the live store and the batch
    * itself — [[Dedup.incrementalDedup]] semantics, O(batch) cost. */
  def probe(batch: DataFrame, dir: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val drops = probePairs(batch, dir, threshold, idCol, textCol)
      .select(col("doc_b").as(idCol)).distinct()
    batch.select(col(idCol)).join(drops, Seq(idCol), "left_anti")
  }

  /** Probe, then INGEST the survivors: their full gram sets and
    * t0-prefixes append to the partitioned store (repartition by the
    * partition key first — the tasks × partitions small-files rule),
    * and the meta fingerprint XORs them in so a later [[ensure]] over
    * the union corpus validates without rebuild. Returns the kept ids.
    * Cost: one batch shingle pass + candidate-bounded verify; existing
    * partitions are appended to, never rewritten.
    *
    * Crash contract (r13 advice): the data appends and the meta commit
    * are two separate writes, so an [[graft.util.IngestMarker]] goes
    * down BEFORE the first data file and clears AFTER the meta write.
    * A crash in between leaves the marker, and every later
    * probe/append/delete/compact fails LOUD instead of letting a
    * redelivered batch self-match its half-ingested rows (J = 1) and
    * silently drop genuine survivors; [[ensure]] sees the marker and
    * rebuilds — the documented recovery. */
  def append(batch: DataFrame, dir: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    graft.util.StoreLease.withLease(spark, dir, "append") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "append")
    val meta = readMeta(spark, dir)
    require(meta.getAs[Int]("format_version") == Format,
      s"dedup index at $dir has format ${meta.getAs[Int]("format_version")}" +
        s", expected $Format — rebuild via ensure()")
    val t0 = meta.getAs[Double]("threshold")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val nIdBuckets = meta.getAs[Int]("n_id_buckets")
    val kept = probe(batch, dir, threshold, idCol, textCol)
      .localCheckpoint(eager = true)
    val survivors = batch.join(kept, Seq(idCol), "left_semi")
    val gramsS = Dedup.shingleHashes(indexable(survivors, idCol, textCol),
      idCol, textCol).localCheckpoint(eager = true)
    // marker content is diagnostic only — naming the op costs nothing,
    // counting the survivors cost one extra job
    graft.util.IngestMarker.write(spark, dir, "append in flight")
    gramsS
      .withColumn("sbucket", pmod(col(idCol), lit(nIdBuckets)).cast("int"))
      .repartition(col("sbucket"))
      .write.mode("append").partitionBy("sbucket").parquet(s"$dir/sets")
    val prefS = prefixGrams(gramsS, idCol, t0, nBuckets,
        readHotGramsArr(spark, dir))
      .localCheckpoint(eager = true)
    prefS
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/prefix")
    // stats DELTA: one tiny aggregate of the (checkpointed) batch
    // prefix (≤ nBuckets result rows), committed driver-side. A legacy
    // store WITHOUT the table gets a one-time full rewrite instead — a
    // delta-only table would under-count the base rows and could
    // mis-route a huge store to the broadcast join.
    if (graft.util.Fs.exists(spark, statsPath(dir))) {
      graft.util.Sidecar.append(spark, statsPath(dir), statsSchema,
        prefS.groupBy("bucket").agg(count(lit(1)).as("n_rows"))
          .collect().map(r => Seq[Any](r.getInt(0), r.getLong(1), "append"))
          .toSeq)
      maybeFoldStats(spark, dir)
    } else rewriteStats(spark, dir)
    // df DELTA: one tiny aggregate of the survivors' grams, inside the
    // same marker window as the data writes. A legacy store without
    // gramdf/ skips it — the refresh's legacy path recomputes and
    // seeds the table there.
    if (hasGramDf(spark, dir))
      writeGramDfDelta(spark, dir, gramsS, sign = 1)
    val (sn, ssum) = fingerprint(survivors, idCol, textCol)
    val bMax = batch.agg(coalesce(max(col(idCol)).cast("long"),
      lit(Long.MinValue))).head().getLong(0)
    writeMeta(spark, dir, meta.getAs[Long]("n_docs") + sn,
      meta.getAs[Long]("checksum") ^ ssum,
      math.max(meta.getAs[Long]("max_id"), bMax), t0, nBuckets, nIdBuckets)
    graft.util.IngestMarker.clear(spark, dir)
    kept
    }
  }

  /** Merge-on-read delete: ids land in a tombstone table every probe
    * anti-joins; no partition is touched. `deleted` must be the actual
    * live indexed (id, text) rows, each exactly once — ENFORCED, because
    * the XOR fingerprint is only exact under that contract (a double
    * delete or a never-indexed row would silently drift it). */
  def delete(deleted: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = deleted.sparkSession
    import spark.implicits._
    graft.util.StoreLease.withLease(spark, dir, "delete") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "delete")
    val meta = readMeta(spark, dir)
    // same guard as probePairs/compact/compactFiles (r14 advice): a
    // format-1 store must fail LOUD here too — without it, delete's
    // writeMeta stamps the current format and silently relabels a
    // legacy store that has no hotgrams/ table, wedging every later op
    require(meta.getAs[Int]("format_version") == Format,
      s"dedup index at $dir has format ${meta.getAs[Int]("format_version")}" +
        s", expected $Format — rebuild via ensure()")
    val ids = deleted.select(col(idCol).cast("long").as("nid"))
      .localCheckpoint(eager = true)
    // ONE aggregate answers every row-shaped audit (total, indexable,
    // distinct) AND the fingerprint — previously four separate jobs.
    // The bit_xor skips null-text rows exactly like fingerprint() does
    // (they are never indexed, so they must not contribute).
    val audit = deleted.agg(
      count(lit(1)),
      count(col(textCol)),
      countDistinct(col(idCol).cast("long")),
      expr(s"bit_xor(CASE WHEN $textCol IS NOT NULL " +
        s"THEN xxhash64($idCol, $textCol) END)")).head()
    val nDel = audit.getLong(0)
    val nIdx = audit.getLong(1)
    require(nIdx == nDel,
      s"${nDel - nIdx} of $nDel delete rows have null $textCol — " +
        "null-text docs are never indexed and cannot be deleted")
    require(audit.getLong(2) == nDel,
      s"delete set contains duplicate ${idCol}s")
    val nStored = ids.join(
      readSets(spark, dir, idCol).select(col(idCol).as("nid")),
      Seq("nid"), "left_semi").count()
    require(nStored == nDel,
      s"${nDel - nStored} of $nDel ${idCol}s are not in the index at $dir")
    tombs(dir).requireFresh(spark, ids, nDel, s"${idCol}s")
    val dn = nIdx
    val dsum = if (audit.isNullAt(3)) 0L else audit.getLong(3)
    // planned (not run) before the marker: a non-integral id column
    // fails here, before the first write, instead of mid-window
    val delGrams = Dedup.shingleHashes(indexable(deleted, idCol, textCol),
      idCol, textCol)
    // tombstones, the NEGATIVE df delta, and the meta commit are one
    // atomicity domain now that gramdf/ must stay exact (a crash
    // between them would leave df overstated and the fingerprint
    // stale): marker down before the first write, cleared after —
    // a crash fails later ops LOUD and ensure() rebuilds.
    graft.util.IngestMarker.write(spark, dir,
      s"delete of $nDel docs in flight")
    tombs(dir).append(ids)
    if (hasGramDf(spark, dir))
      writeGramDfDelta(spark, dir, delGrams, sign = -1)
    writeMeta(spark, dir, meta.getAs[Long]("n_docs") - dn,
      meta.getAs[Long]("checksum") ^ dsum, meta.getAs[Long]("max_id"),
      meta.getAs[Double]("threshold"), meta.getAs[Int]("n_buckets"),
      meta.getAs[Int]("n_id_buckets"))
    graft.util.IngestMarker.clear(spark, dir)
    }
  }

  /** Fold tombstones into the store: rewrite ONLY the prefix buckets
    * and set sbuckets that contain deleted rows, crash-safe under the
    * [[graft.store.StageSwap]] contract (its recovery runs first, and
    * tombstones drop LAST). Also the heavyweight gramdf commit: deltas
    * are evaluated and folded back to one exact base. */
  def compact(spark: SparkSession, dir: String): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compact") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "compact")
    require(readMeta(spark, dir).getAs[Int]("format_version") == Format,
      s"dedup index at $dir has an unexpected format — rebuild via ensure()")
    StageSwap.recover(spark, prefixT(dir), setsT(dir))
    // gramdf maintenance first (compact is the heavyweight commit):
    // when unfolded deltas exist, evaluate — the cheap candidate tick
    // unless deletes lowered the threshold — then FORCE-fold them back
    // to one exact base, so a compacted store always reads one table.
    // No deltas → base is already exact; the ordinary due-trigger tick
    // still runs (free when not due). The hotgrams fold is
    // content-preserving and safe either way.
    if (hasGramDf(spark, dir) &&
      graft.util.Fs.exists(spark, gramDfDelta(dir))) {
      refreshHotGramsLocked(spark, dir, force = true): Unit
      maybeFoldGramDf(spark, dir, force = true)
    } else {
      refreshHotGramsLocked(spark, dir): Unit
      maybeFoldGramDf(spark, dir, force = true)
    }
    val tomb = tombs(dir)
    if (!tomb.exists(spark)) return
    val idCol = spark.read.parquet(s"$dir/sets").columns
      .find(c => c != "sh" && c != "sbucket").get
    tomb.foldInto(spark, prefixT(dir), readPrefixTable(spark, dir, idCol),
      idCol)
    tomb.foldInto(spark, setsT(dir), readSets(spark, dir, idCol), idCol)
    tomb.drop(spark)
    rewriteStats(spark, dir) // folded rows leave the stats too
    }
  }

  /** FILE-MERGE maintenance (the append-history bound): every
    * [[append]] lands one new file per partition directory it touches
    * — [[compact]] only folds tombstones — so a K-ingest history
    * accumulates O(K) files per bucket and probe SCAN TASKS grow with
    * history rather than data (measured:
    * `graft.tools.StoreHistoryBench`, SCALE.md append-history curve).
    * This pass rewrites ONLY the prefix/sets partition directories
    * whose data-file count exceeds `maxFiles`
    * ([[graft.store.StageSwap.mergeFiles]]: one task's output per
    * directory, `maxRecordsPerFile` re-splitting a genuinely huge
    * bucket); rows pass through verbatim — tombstones are deliberately
    * NOT folded here, the two maintenance costs stay independently
    * schedulable. `refreshHot` runs the [[refreshHotGrams]] tick first.
    *
    * Trigger rule: run when the per-partition file count approaches
    * the store's append cadence budget — at one append per
    * micro-batch, `maxFiles = 16` keeps every probe's per-bucket task
    * count constant at ≤ 16 for the cost of one bounded rewrite every
    * 16 batches (amortized O(1) files touched per ingested row). */
  def compactFiles(spark: SparkSession, dir: String, maxFiles: Int = 16,
      maxRecordsPerFile: Long = 8000000L, refreshHot: Boolean = true): Unit = {
    graft.util.StoreLease.withLease(spark, dir, "compactFiles") {
    graft.util.IngestMarker.requireAbsent(spark, dir, "compactFiles")
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    require(readMeta(spark, dir).getAs[Int]("format_version") == Format,
      s"dedup index at $dir has an unexpected format — rebuild via ensure()")
    StageSwap.recover(spark, prefixT(dir), setsT(dir))
    // hot-gram drift maintenance rides the file-merge cadence (r14
    // verdict item 1): recutting affected docs' prefixes rewrites
    // whole buckets to one task's output anyway, so refresh-then-fold
    // never merges a bucket twice
    if (refreshHot) refreshHotGramsLocked(spark, dir): Unit
    Seq(prefixT(dir), setsT(dir))
      .foreach(StageSwap.mergeFiles(spark, _, maxFiles, maxRecordsPerFile))
    }
  }

  /** Grow-only HOT-GRAM REFRESH — drift maintenance for the frozen
    * hot set (the r14 verdict's top item). The build-time freeze
    * provably bounds BUILD-time-hot grams, but a months-long ingest
    * loop is exactly where new boilerplate emerges (a new crawl
    * source's banner): a gram whose document frequency crosses the
    * threshold only through appends keeps its cold rank and re-opens
    * the measured (share·n)² candidate blowup — and before this pass,
    * the only remedy was a FULL rebuild, the one cost the store exists
    * to avoid.
    *
    * Pass shape:
    *   1. recompute df over the LIVE sets (one scan + map-side-combined
    *      aggregate; tombstoned docs excluded) and take grams over
    *      max(64, [[HotGramFraction]]·n_docs) not already in
    *      `hotgrams/` — bounded by the same ≤ (grams/doc)/fraction
    *      lemma as the build-time set;
    *   2. GROW-ONLY extend `hotgrams/`: a doc containing NONE of the
    *      newly-hot grams has the exact same prefix under the extended
    *      order (removing grams a doc doesn't hold can't reorder the
    *      grams it does), so ONLY docs containing a newly-hot gram
    *      need recutting — selected by a broadcast-set kernel pass,
    *      bounded by the df lemma;
    *   3. recut those docs' prefixes under the extended order and
    *      stage-and-swap ONLY the buckets holding their old or new
    *      rows (bounded partition IN-lists, the [[compact]] shape).
    * After the pass, EVERY stored prefix equals its cut under the
    * extended total order, so probe-vs-store completeness holds again
    * with zero probe-side change (proved in DedupIndexSpec).
    *
    * Crash contract: steps 2–3 are one atomicity domain — a probe
    * against an extended hot set with un-recut prefixes (or vice
    * versa) could silently miss pairs, so an [[graft.util
    * .IngestMarker]] goes down before the first mutation and clears
    * after the swap; a crash in between fails every later op LOUD and
    * ensure() rebuilds (the documented recovery).
    *
    * Runs automatically inside [[compactFiles]] (the maintenance
    * cadence a streaming ingest already pays — `refreshHot = false`
    * opts out); callable standalone. The df recompute is the pass's
    * only O(corpus) term, so its TRIGGER is stats-driven: it runs
    * only when the `prefstats/` append-delta mass since the last
    * maintenance reaches [[RefreshDueFraction]] of the table
    * (`force = true` overrides) — a huge store whose ingest trickle
    * is below the threshold pays nothing. Returns the number of grams
    * promoted. */
  def refreshHotGrams(spark: SparkSession, dir: String,
      force: Boolean = false): Long =
    graft.util.StoreLease.withLease(spark, dir, "refreshHotGrams") {
      graft.util.IngestMarker.requireAbsent(spark, dir, "refreshHotGrams")
      require(readMeta(spark, dir).getAs[Int]("format_version") == Format,
        s"dedup index at $dir has an unexpected format — rebuild via ensure()")
      StageSwap.recover(spark, prefixT(dir), setsT(dir))
      refreshHotGramsLocked(spark, dir, force)
    }

  /** [[refreshHotGrams]] body; caller holds the lease and has run the
    * marker/format/staging gates. */
  private def refreshHotGramsLocked(spark: SparkSession,
      dir: String, force: Boolean = false): Long = {
    import spark.implicits._
    val meta = readMeta(spark, dir)
    val nDocs = meta.getAs[Long]("n_docs")
    if (nDocs == 0) return 0L
    val statsDue = statsTotals(spark, dir) match {
      case None => true // legacy store without stats: always due
      case Some((total, appended)) =>
        total == 0 || appended.toDouble >= RefreshDueFraction * total
    }
    // a trickle ingest on a huge store can sit under the 2% mass
    // trigger for a long history while delta files pile up one per
    // append — and folding is only safe right after an evaluation, so
    // file buildup itself makes a tick due (the tick is O(appended)
    // now, so the extra evaluations cost nothing corpus-sized)
    val filesDue = hasGramDf(spark, dir) &&
      graft.util.Fs.exists(spark, gramDfDelta(dir)) &&
      graft.util.Fs.dataFileCount(spark, gramDfDelta(dir)) > GramDfFoldFiles
    if (!force && !statsDue && !filesDue) return 0L
    val t0 = meta.getAs[Double]("threshold")
    val nBuckets = meta.getAs[Int]("n_buckets")
    val idCol = spark.read.parquet(s"$dir/sets").columns
      .find(c => c != "sh" && c != "sbucket").get
    val liveSets = tombs(dir).live(spark,
      readSets(spark, dir, idCol).select(col(idCol), col("sh")), idCol)
    val tNow = hotThresholdFor(nDocs)
    // bounded collect: ≤ (grams/doc)/HotGramFraction newly-hot grams.
    // Three tiers, cheapest first (r15 verdict item 1 — the tick must
    // not re-explode the corpus while holding the writer lease):
    //  - CANDIDATE path (the normal tick): thresholds are
    //    non-decreasing since the last evaluation, so a gram whose
    //    count did not change cannot newly cross — and the grams whose
    //    count changed are EXACTLY the unfolded gramdf/delta grams.
    //    Cost: one aggregated-df-table scan pruned to candidates by a
    //    broadcast semi-join (zero shuffle) plus an O(candidates)
    //    merge — O(appended-since-fold), independent of corpus size.
    //  - FULL MERGED path (deletes lowered the threshold, or evalmeta
    //    unreadable): one pass over base ∪ delta — a scan+groupBy of
    //    the aggregated table, still never an explode of sets/.
    //  - LEGACY path (pre-r16 store without gramdf/): the one
    //    remaining O(corpus) recompute, which also SEEDS gramdf/ so
    //    every later tick is delta-driven.
    // the frozen hot set, driver-side — consulted by both tiers below
    // and previously re-scanned as an anti-join build side each time
    val hotNow = readHotGramsArr(spark, dir).toSet
    val newHot: Array[Long] =
      if (!hasGramDf(spark, dir)) {
        // the base seed is safe to land before anything else (it is
        // exact df bookkeeping either way); evalmeta is NOT written
        // here — it lands only after promotion completes, so a crash
        // in between leaves the next tick on the full path, which
        // re-finds these grams
        val dfAll = gramDfOf(liveSets).localCheckpoint(eager = true)
        writeGramDfBase(dfAll, gramDfBase(dir),
          gramDfBucketsOf(spark, dir))
        System.err.println(s"[DedupIndex] legacy store at $dir: seeded " +
          "gramdf/ with a one-time full df recompute")
        dfAll.filter(col("df") > tNow).select(col("gram"))
          .collect().map(_.getLong(0)).filterNot(hotNow)
      } else {
        val tEval = readGramDfEval(spark, dir)
        val deltaExists = graft.util.Fs.exists(spark, gramDfDelta(dir))
        val merged: DataFrame =
          if (tEval.exists(_ <= tNow)) {
            if (!deltaExists)
              spark.range(0).select(col("id").as("gram"), col("id").as("df"))
            else {
              val deltaAgg = spark.read.schema(gramDfSchema)
                .parquet(gramDfDelta(dir))
                .groupBy("gram").agg(sum(col("df")).as("df"))
                .localCheckpoint(eager = true)
              // bounded collect: ≤ the store's gramdf bucket count —
              // the delta grams' partitions, the only base partitions
              // any candidate can live in
              val candBuckets = deltaAgg
                .select(gramBucketOf(col("gram"),
                  gramDfBucketsOf(spark, dir)).as("gbucket"))
                .distinct().collect().map(_.getInt(0)).toSeq
              // base side: partition prune to the candidate buckets,
              // THEN the broadcast LEFT-SEMI row prune — scan bytes
              // track the append, not the corpus (shuffle-free as
              // before); a legacy unpartitioned base reads whole
              readGramDfBase(spark, dir, Some(candBuckets))
                .join(broadcast(deltaAgg.select("gram")),
                  Seq("gram"), "left_semi")
                .unionByName(deltaAgg)
                .groupBy("gram").agg(sum(col("df")).as("df"))
            }
          } else mergedGramDf(spark, dir)
        merged.filter(col("df") > tNow).select(col("gram"))
          .collect().map(_.getLong(0)).filterNot(hotNow)
      }
    if (newHot.isEmpty) {
      // the evaluation RAN and promoted everything due (nothing):
      // committing evalmeta = tNow arms the next tick's candidate
      // shortcut; reset the append-delta accounting so the mass
      // trigger re-arms; fold the evaluated deltas if over budget
      // (folding is only safe right after an evaluation — a fold
      // before one would erase the change-tracking the candidate
      // shortcut relies on)
      writeGramDfEval(spark, dir, tNow)
      rewriteStats(spark, dir)
      maybeFoldGramDf(spark, dir)
      return 0L
    }
    // LOUD two-phase window: the extended order and the recut prefixes
    // must land together — a probe seeing one without the other could
    // silently miss pairs, so the whole mutation sits behind a marker
    graft.util.IngestMarker.write(spark, dir,
      s"hot-gram refresh of ${newHot.length} grams in flight")
    writeHotGrams(spark, dir, newHot.toSeq, overwrite = false)
    val nhB = spark.sparkContext.broadcast {
      val s = new java.util.HashSet[java.lang.Long](newHot.length * 2 + 16)
      newHot.foreach(g => s.add(g): Unit)
      s
    }
    // affected docs: live docs whose gram set holds a newly-hot gram —
    // kernel filter against the broadcast set, no explode/shuffle
    val affSets = liveSets.select(col(idCol).cast("long"), col("sh"))
      .as[(Long, Array[Long])]
      .filter { case (_, sh) =>
        val hs = nhB.value
        var i = 0
        var found = false
        while (!found && i < sh.length) { found = hs.contains(sh(i)); i += 1 }
        found
      }
      .toDF(idCol, "sh")
      .localCheckpoint(eager = true)
    val affIds = affSets.select(col(idCol))
    val newPref = prefixGrams(affSets, idCol, t0, nBuckets,
        readHotGramsArr(spark, dir)) // the EXTENDED set, read back
      .localCheckpoint(eager = true)
    // bounded collects: ≤ nBuckets values each — the buckets holding
    // affected docs' OLD rows and those receiving their NEW rows
    val prefix = prefixT(dir)
    val affB = (StageSwap.leavesOf(prefix, readPrefixTable(spark, dir, idCol)
        .join(affIds, Seq(idCol), "left_semi")) ++
      StageSwap.leavesOf(prefix, newPref)).distinct
    StageSwap.rewrite(spark, prefix,
      readPrefixTable(spark, dir, idCol)
        .filter(StageSwap.within(prefix, affB))
        .join(affIds, Seq(idCol), "left_anti")
        .unionByName(newPref.filter(StageSwap.within(prefix, affB))),
      affB)
    rewriteStats(spark, dir) // recut buckets + re-armed trigger
    graft.util.IngestMarker.clear(spark, dir)
    // promotion COMPLETE — only now may evalmeta advance (a crash
    // before this line leaves the old evalmeta, so the next tick
    // re-evaluates and re-finds these grams instead of losing them)
    writeGramDfEval(spark, dir, tNow)
    maybeFoldGramDf(spark, dir)
    newHot.length.toLong
  }

  /** One delta/hotgrams file per append/refresh accumulates O(history)
    * files whose every read re-lists and re-merges them; past this
    * budget the maintenance tick folds them (same rule as
    * [[compactFiles]]' `maxFiles`). */
  private val GramDfFoldFiles = 16

  /** Fold gramdf deltas (and the grow-only hotgrams appends) when
    * their file counts pass the budget. ONLY called right after an
    * evaluation — a fold before one would erase the change-tracking
    * the candidate shortcut relies on. Caller holds the lease. */
  private def maybeFoldGramDf(spark: SparkSession, dir: String,
      force: Boolean = false): Unit = {
    if (!hasGramDf(spark, dir)) return
    val deltaOver = graft.util.Fs.exists(spark, gramDfDelta(dir)) &&
      (force ||
        graft.util.Fs.dataFileCount(spark, gramDfDelta(dir)) > GramDfFoldFiles)
    if (deltaOver) foldGramDf(spark, dir)
    // hotgrams/: every refresh appends one single-file delta and every
    // build/probe/append collects the whole table (r15 advice) — fold
    // to one file past the budget and LOG the set size so drift of the
    // broadcast-sized assumption is visible. Already-single-file sets
    // skip even under force: the rewrite would change nothing.
    val hotFiles = graft.util.Fs.dataFileCount(spark, s"$dir/hotgrams")
    if ((force && hotFiles > 1) || hotFiles > GramDfFoldFiles) {
      val hot = readHotGramsArr(spark, dir)
      graft.util.IngestMarker.write(spark, dir, "hotgrams fold in flight")
      StageSwap.replace(spark, Table(s"$dir/hotgrams")) { staging =>
        graft.util.Sidecar.write(spark, staging, hotGramsSchema,
          hot.toSeq.map(g => Seq[Any](g)))
      }
      graft.util.IngestMarker.clear(spark, dir)
      System.err.println(s"[DedupIndex] hotgrams at $dir folded to one " +
        s"file: ${hot.length} grams (broadcast-sized by the df lemma)")
    }
  }

  // ------------------------------------------------------------------
  // d17 — full lifecycle gate on the d9 fixture (same oracle semantics)
  // ------------------------------------------------------------------

  private def indexDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/dedup_index_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** d17 — dedup-index ingest lifecycle. Same fixture and keeper
    * semantics as d9 (so the DuckDB oracle is d9's, verbatim): corpus =
    * docs with id % 3 ≠ 0; batch = the id % 3 = 0 docs re-keyed +2 M
    * (genuinely new) plus re-crawls of corpus docs with id % 5 = 0
    * re-keyed +3 M (guaranteed dups). In-query gates beyond the oracle:
    *   1. ensure() after build is a pure load (no rebuild);
    *   2. after append(batch), ensure() over corpus ∪ survivors
    *      validates WITHOUT rebuild — the XOR fingerprint is exact
    *      through ingest;
    *   3. merge-on-read delete is EXACT at pair level: probePairs of a
    *      fixed re-crawl equals the pre-delete pairs minus precisely
    *      the pairs whose store side was deleted;
    *   4. compact() changes NOTHING a probe can see (same pairs), drops
    *      the tombstone table, and the surviving sets row count equals
    *      the maintained meta doc count.
    * Emitted row: kept count + id checksum of the APPEND survivors —
    * hash-checked against the DuckDB brute-force pair graph. */
  val ingest = QueryDef(
    "d17_dedup_index_ingest",
    { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      require(mx < 1000000L,
        s"d17 fixture re-keying assumes doc_id < 1e6, got max $mx")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .unionByName(
          docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
            .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      val dir = indexDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir, threshold = 0.9)
      val b0 = buildsThisProcess
      ensure(corpus, dir, threshold = 0.9)
      val noRebuild0 = buildsThisProcess == b0
      val kept = append(batch, dir, threshold = 0.9)
        .localCheckpoint(eager = true)
      val live = corpus.unionByName(batch.join(kept, Seq("doc_id"),
        "left_semi"))
      val b1 = buildsThisProcess
      ensure(live, dir, threshold = 0.9)
      val noRebuild1 = buildsThisProcess == b1
      // fixed re-crawl probe: copies of the soon-deleted docs (+4 M)
      // and copies of live corpus docs (+5 M); both id spaces sit above
      // every stored id
      val delSet = batch.join(kept, Seq("doc_id"), "left_semi")
        .filter(col("doc_id") % 7 === 0 && col("text").isNotNull)
        .localCheckpoint(eager = true)
      val recrawl = delSet
        .select((col("doc_id") + 4000000).as("doc_id"), col("text"))
        .unionByName(corpus
          .filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 5000000).as("doc_id"), col("text")))
      def pairsOf(): DataFrame =
        probePairs(recrawl, dir, threshold = 0.9)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint(eager = true)
      val pairsBefore = pairsOf()
      delete(delSet, dir)
      val pairsAfter = pairsOf()
      val expectedAfter = pairsBefore.join(
        delSet.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      val mergeOnReadExact =
        pairsAfter.exceptAll(expectedAfter).count() == 0 &&
          expectedAfter.exceptAll(pairsAfter).count() == 0
      compact(s, dir)
      val pairsCompacted = pairsOf()
      val compactInvisible =
        pairsCompacted.exceptAll(pairsAfter).count() == 0 &&
          pairsAfter.exceptAll(pairsCompacted).count() == 0
      val noTombLeft = !graft.util.Fs.exists(s, s"$dir/tombstones")
      val setsCount = s.read.parquet(s"$dir/sets").count()
      val metaDocs = readMeta(s, dir).getAs[Long]("n_docs")
      val deletedGone = delSet.count() > 0 && setsCount == metaDocs
      kept
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_checksum"))
        .filter(lit(noRebuild0 && noRebuild1 && mergeOnReadExact &&
          compactInvisible && noTombLeft && deletedGone))
    },
    oracle = Some(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |          WHERE doc_id % 3 = 0
        |          UNION ALL
        |          SELECT doc_id + 3000000, text FROM documents
        |          WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0),
        |u AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |         FROM u WHERE text IS NOT NULL),
        |tri AS (SELECT doc_id,
        |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |               END AS sh
        |        FROM toks),
        |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
        |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
        |inter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ix
        |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |prs AS (SELECT pa, pb FROM inter
        |        JOIN cnt ca ON pa = ca.doc_id JOIN cnt cb ON pb = cb.doc_id
        |        WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9),
        |drops AS (SELECT DISTINCT pb AS id FROM prs WHERE pb >= 2000000)
        |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_checksum
        |FROM batch WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin),
    // store-ops-only bench variant (r15 verdict item 3): the identical
    // lifecycle — build, append, probe, delete, compact, probe — with
    // the truth-side reconciliations (exceptAll pair-graph compares,
    // double ensure fingerprints, tombstone-layout asserts) stripped;
    // Verify still runs the full-gate form above
    benchFn = Some { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .unionByName(
          docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
            .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      val dir = indexDirFor(d)
      graft.util.StoreLease.break(s, dir)
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir, threshold = 0.9)
      val kept = append(batch, dir, threshold = 0.9)
        .localCheckpoint(eager = true)
      val delSet = batch.join(kept, Seq("doc_id"), "left_semi")
        .filter(col("doc_id") % 7 === 0 && col("text").isNotNull)
        .localCheckpoint(eager = true)
      val recrawl = delSet
        .select((col("doc_id") + 4000000).as("doc_id"), col("text"))
        .unionByName(corpus
          .filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 5000000).as("doc_id"), col("text")))
      probePairs(recrawl, dir, threshold = 0.9).count(): Unit
      delete(delSet, dir)
      compact(s, dir)
      probePairs(recrawl, dir, threshold = 0.9)
        .select(col("doc_a"), col("doc_b"))
    })

  // ------------------------------------------------------------------
  // d18 — hot-gram DRIFT lifecycle under the d9 pair-graph oracle
  // ------------------------------------------------------------------

  private def driftDirFor(sfDir: String): String =
    graft.util.Fixtures.dir + "/dedup_drift_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** The planted drift banner: 12 tokens outside the fixture
    * vocabulary, literal-identical in the oracle SQL. */
  private val DriftBanner: String =
    (0 until 12).map(i => s"zzdrift$i").mkString(" ")

  /** d18 — dedup-index DRIFT lifecycle: the banner exists in NO corpus
    * doc (so the build-time hot set cannot contain its grams) and is
    * planted on half of each of two APPEND batches — the
    * new-crawl-source scenario whose df crosses the hot threshold only
    * after build. Sequence: build → append(b1) → append(b2) →
    * probePairs(fixed re-crawl) → [[refreshHotGrams]] →
    * probePairs again. In-query gates beyond the oracle:
    *   1. the refresh PROMOTED the banner (≥ 10 grams — its interior
    *      windows — promoted; the unforced trigger path fires because
    *      the two appends are well over the 2% stats threshold);
    *   2. refresh is probe-INVISIBLE: the two probePairs results are
    *      row-identical (completeness under the extended order);
    *   3. the banner's own grams are absent from every stored prefix
    *      after the refresh (the quadratic path is closed);
    *   4. ensure() over the live corpus after the refresh is a pure
    *      load — refresh never touches membership or fingerprint.
    * Emitted row: kept count + id checksum of BOTH appends' survivors,
    * hash-checked against the DuckDB brute-force pair graph with the
    * banner planting and the two-stage keeper semantics replayed in
    * SQL (a batch-1 doc that dropped is not in the store when batch 2
    * probes, so it cannot cause batch-2 drops). */
  val drift = QueryDef(
    "d18_dedup_index_drift",
    { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      require(mx < 1000000L,
        s"d18 fixture re-keying assumes doc_id < 1e6, got max $mx")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      def plant(mod4: Int, mod8: Int, off: Long): DataFrame =
        docs.filter(col("doc_id") % 4 === mod4)
          .select((col("doc_id") + off).as("doc_id"),
            when(col("doc_id") % 8 === mod8 && col("text").isNotNull,
              concat(lit(DriftBanner + " "), col("text")))
              .otherwise(col("text")).as("text"))
      val b1 = plant(1, 1, 2000000L)
      val b2 = plant(3, 3, 3000000L)
      val dir = driftDirFor(d)
      graft.util.StoreLease.break(s, dir) // fixture dir
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir, threshold = 0.9)
      val kept1 = append(b1, dir, threshold = 0.9)
        .localCheckpoint(eager = true)
      val kept2 = append(b2, dir, threshold = 0.9)
        .localCheckpoint(eager = true)
      // fixed re-crawl: exact copies of corpus docs (guaranteed pairs)
      // plus banner-carrying copies — both id spaces above the store
      val recrawl = corpus.filter(col("doc_id") % 10 === 2 &&
          col("text").isNotNull)
        .select((col("doc_id") + 4000000).as("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") % 10 === 4 &&
            col("text").isNotNull)
          .select((col("doc_id") + 5000000).as("doc_id"),
            concat(lit(DriftBanner + " "), col("text")).as("text")))
      def pairsOf(): DataFrame =
        probePairs(recrawl, dir, threshold = 0.9)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint(eager = true)
      val before = pairsOf()
      val promoted = refreshHotGrams(s, dir) // unforced: trigger path
      val after = pairsOf()
      val refreshInvisible =
        after.exceptAll(before).count() == 0 &&
          before.exceptAll(after).count() == 0
      // the banner's own grams: interior windows shared by any two
      // banner docs regardless of their tails
      val bannerGrams = {
        import s.implicits._
        val two = Seq((1L, DriftBanner + " qa1 qa2 qa3"),
          (2L, DriftBanner + " qb1 qb2 qb3")).toDF("doc_id", "text")
        Dedup.shingleHashes(two, "doc_id", "text")
          .collect().map(_.getSeq[Long](1).toSet).reduce(_ intersect _)
      }
      val bannerInPrefix = s.read.parquet(s"$dir/prefix")
        .filter(col("gram").isin(bannerGrams.toSeq.map(Long.box): _*))
        .count()
      val live = corpus
        .unionByName(b1.join(kept1, Seq("doc_id"), "left_semi"))
        .unionByName(b2.join(kept2, Seq("doc_id"), "left_semi"))
      val builds0 = buildsThisProcess
      ensure(live, dir, threshold = 0.9)
      val noRebuild = buildsThisProcess == builds0
      kept1.unionByName(kept2)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_checksum"))
        .filter(lit(promoted >= 10 && refreshInvisible &&
          bannerInPrefix == 0 && noRebuild && before.count() > 0))
    },
    oracle = Some {
      val ban = DriftBanner
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |b1 AS (SELECT doc_id + 2000000 AS doc_id,
        |              CASE WHEN flag THEN '$ban ' || text ELSE text END AS text
        |       FROM (SELECT doc_id, text,
        |                    (doc_id % 8 = 1 AND text IS NOT NULL) AS flag
        |             FROM documents WHERE doc_id % 4 = 1)),
        |b2 AS (SELECT doc_id + 3000000 AS doc_id,
        |              CASE WHEN flag THEN '$ban ' || text ELSE text END AS text
        |       FROM (SELECT doc_id, text,
        |                    (doc_id % 8 = 3 AND text IS NOT NULL) AS flag
        |             FROM documents WHERE doc_id % 4 = 3)),
        |u AS (SELECT * FROM corpus UNION ALL SELECT * FROM b1
        |      UNION ALL SELECT * FROM b2),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |         FROM u WHERE text IS NOT NULL),
        |tri AS (SELECT doc_id,
        |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |               END AS sh
        |        FROM toks),
        |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
        |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
        |inter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ix
        |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |prs AS (SELECT pa, pb FROM inter
        |        JOIN cnt ca ON pa = ca.doc_id JOIN cnt cb ON pb = cb.doc_id
        |        WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9),
        |drops1 AS (SELECT DISTINCT pb AS id FROM prs
        |           WHERE pb >= 2000000 AND pb < 3000000 AND pa < 3000000),
        |drops2 AS (SELECT DISTINCT pb AS id FROM prs
        |           WHERE pb >= 3000000
        |             AND (pa < 2000000 OR pa >= 3000000
        |                  OR (pa >= 2000000 AND pa < 3000000
        |                      AND pa NOT IN (SELECT id FROM drops1))))
        |SELECT count(*) AS n_kept,
        |       CAST(sum(doc_id) AS BIGINT) AS kept_checksum
        |FROM (SELECT doc_id FROM b1
        |      WHERE doc_id NOT IN (SELECT id FROM drops1)
        |      UNION ALL
        |      SELECT doc_id FROM b2
        |      WHERE doc_id NOT IN (SELECT id FROM drops2))""".stripMargin
    },
    // store-ops-only bench variant: build, two drifting appends, the
    // pre-refresh probe, the refresh tick, the post-refresh probe —
    // without the banner-gram prefix audits, the ensure fingerprint
    // pass, or the exceptAll invariance compares (all still gated in
    // Verify's full form above)
    benchFn = Some { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      def plant(mod4: Int, mod8: Int, off: Long): DataFrame =
        docs.filter(col("doc_id") % 4 === mod4)
          .select((col("doc_id") + off).as("doc_id"),
            when(col("doc_id") % 8 === mod8 && col("text").isNotNull,
              concat(lit(DriftBanner + " "), col("text")))
              .otherwise(col("text")).as("text"))
      val dir = driftDirFor(d)
      graft.util.StoreLease.break(s, dir)
      graft.util.Fs.rmTree(s, dir)
      build(corpus, dir, threshold = 0.9)
      append(plant(1, 1, 2000000L), dir, threshold = 0.9).count(): Unit
      append(plant(3, 3, 3000000L), dir, threshold = 0.9).count(): Unit
      val recrawl = corpus.filter(col("doc_id") % 10 === 2 &&
          col("text").isNotNull)
        .select((col("doc_id") + 4000000).as("doc_id"), col("text"))
        .unionByName(corpus.filter(col("doc_id") % 10 === 4 &&
            col("text").isNotNull)
          .select((col("doc_id") + 5000000).as("doc_id"),
            concat(lit(DriftBanner + " "), col("text")).as("text")))
      probePairs(recrawl, dir, threshold = 0.9).count(): Unit
      refreshHotGrams(s, dir): Unit
      probePairs(recrawl, dir, threshold = 0.9)
        .select(col("doc_a"), col("doc_b"))
    })

  def all: Seq[QueryDef] = Seq(ingest, drift)
}
