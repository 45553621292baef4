package graft.tools

import graft.util.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness: synthesizes 10x/100x versions of the sf0.1
  * tables (seeded, deterministic — the replicate-and-perturb recipe
  * Sim.scala uses for its fixtures) and times the heaviest operators
  * at each factor, so the "designed for 100 TB" claims rest on a
  * MEASURED wall-time-vs-rows curve instead of plan audits alone.
  *
  * Synthesis contract (per factor F):
  *  - every row of the base table is replicated F times with its keys
  *    offset by `rep * (maxKey + 1)` — key spaces stay disjoint, so
  *    per-replica structure (graph components, near-dup clusters,
  *    doc/vector geometry) is PRESERVED, and global structure scales
  *    linearly, which is exactly the regime a bigger crawl/corpus has;
  *  - text is re-vocabularied per replica (each word deterministically
  *    suffixed via xxhash64(word, rep)) so shingle/window collisions
  *    across replicas vanish — otherwise every document would acquire
  *    F exact near-dup copies and the dedup candidate structure would
  *    grow quadratically in F, which is a fixture artifact, not scale;
  *  - embeddings get deterministic per-replica component noise
  *    (±0.01), preserving intra-replica geometry while keeping
  *    replicas from being byte-identical;
  *  - foreign keys (o_orderkey = l_orderkey) share one offset so joins
  *    keep their selectivity.
  *
  * Run:  sbt "runMain graft.tools.ScaleBench"
  * Env:  SPARK_GRAFT_SF_DIR (base, default /root/testdata/sf0.1),
  *       SPARK_GRAFT_SCALE_FACTORS (default "1,10,100"),
  *       SPARK_GRAFT_SCALE_QUERIES (default: the 14 heaviest),
  *       SPARK_GRAFT_CPUS (default: the host's processors).
  * Output: one JSON line per (factor, query) plus a final summary
  * line; the full artifact also lands in scale_out.json. Queries in
  * the build-once index families run TWICE per factor — the second
  * run fingerprint-validates the stored index, isolating the
  * amortized search-only path from the build.
  */
object ScaleBench {

  private val defaultQueries = Seq(
    "d2_minhash_lsh", "d5_ngram_jaccard", "d12_repeated_substring_spans",
    "d14_strip_repeated_spans",
    "v19_persisted_ann_recall", "v20_graph_ann_recall",
    "v24_graph_pq_recall", "v25_index_delete_compact",
    "v26_graph_delete", "v27_filtered_delete_compact",
    "v28_graph_append", "st16_stream_incremental_agg",
    "d17_dedup_index_ingest", "st17_stream_dedup_index_ingest",
    "g1_pagerank", "g2_connected_components", "g6_bfs_distance",
    "c2_budget_sample", "t8_tfidf_top_terms", "mm4_video_near_dup",
    "j7_range_join", "j14_range_join_native",
    "j15_range_join_wide", "j16_range_join_wide_native")

  /** SKEW tier (SPARK_GRAFT_SCALE_SKEW=1): the scaling campaign's
    * key-offset replication preserves per-key structure, so it can
    * never show what one HOT key does to the native merge joins —
    * their ClusteredDistribution(keys) puts all of a key's work in one
    * task, and AQE's skew splitting does not know these operators. The
    * skew synthesis reroutes ~20% of all events to a single user; this
    * set measures the composed form (bucket-salted by construction),
    * the unmitigated native merges, and [[graft.plans.RangeJoinNative
    * .rangeJoinSkew]] at production-shaped settings. The WIDE
    * unmitigated native join is deliberately absent at this tier: the
    * hot key's pair enumeration (points × concurrently-open intervals
    * ≈ 2M × 2200 at ×100) is the documented single-task envelope the
    * mitigation exists to break. */
  private val skewDefaultQueries = Seq(
    "j7_range_join", "j14_range_join_native", "j14_skew_mitigated",
    "j14_auto", "j15_range_join_wide", "j16_skew_mitigated",
    "j16_auto", "j8_asof_native")

  /** STORE-skew tier (SPARK_GRAFT_SCALE_STORESKEW=1, r13 verdict
    * item 6): the join-skew tier covers the native merges only; the
    * analogous single-task bounds for the dedup/ANN stores are a hot
    * SHINGLE (a stop-phrase every crawl shares → one gram's join
    * bucket holds 20% of the corpus) and a hot IVF CELL (a dense
    * embedding cluster → one cell holds 20% of the vectors). The
    * synthesis plants three hotnesses on top of the normal replication:
    *   - hot BLOCK (1-in-200 docs): identical boilerplate + unique
    *     tail — mutually near-dup, so every LSH band maps them to ONE
    *     bucket (~2.5 k docs at ×100 on the 5 k-doc sf0.1 base);
    *     crosses d2's maxBucketSize=2000 cap only at ×100, putting the
    *     cap's chain path ON the measured curve. Kept just above the
    *     cap deliberately: the dup-CLUSTER's pair graph is
    *     output-quadratic in cluster size (every re-crawl truly
    *     near-dups every stored copy), and the store contract assumes
    *     a pre-deduped corpus (the real ingest path self-dedups at
    *     bootstrap) — the planting stresses the candidate machinery,
    *     not the fixture's memory budget;
    *   - hot PHRASE (20% of docs): a shared 12-token prefix on
    *     otherwise-unique text — the hot gram. PPJoin prefix ordering
    *     (rarest-first) must keep it OUT of every prefix, or d17's
    *     candidate join goes quadratic;
    *   - hot CELL (20% of vectors): a tight cluster (±0.001/component)
    *     that lands in one IVF cell — its scan must parallelize by
    *     FILES, not collapse into one task per cell key.
    * The registered queries run UNCHANGED; linear-ish slopes here are
    * the proof the caps/ordering bound the hot keys. */
  private val storeSkewDefaultQueries = Seq(
    "d2_minhash_lsh", "d17_dedup_index_ingest",
    "v19_persisted_ann_recall",
    // graph store under the hot CELL (r14 verdict item 4): 20% of all
    // vectors in one tight cluster makes that cluster a dense
    // neighborhood / hot-hub region of the kNN graph — the beam walks
    // (v20) and the append's insertion searches (v28) must stay
    // bounded by the degree cap 2M, not blow up with cluster size
    "v20_graph_ann_recall", "v28_graph_append")

  /** Build-once stores: the second timed run is the search-only path. */
  private val secondRun = Set(
    "v19_persisted_ann_recall", "v20_graph_ann_recall",
    "v24_graph_pq_recall")

  private def replicate(spark: SparkSession, df: DataFrame,
      f: Int): DataFrame =
    df.crossJoin(broadcast(
      spark.range(f).select(col("id").cast("long").as("rep"))))

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1

  /** Deterministic per-replica word re-vocabulary: word -> word~k with
    * k = xxhash64(word, rep) mod 97. Within a replica the mapping is a
    * bijection on the vocabulary (frequency structure, near-dup
    * clusters, span repeats all preserved); across replicas any given
    * word matches with p = 1/97, so multi-token windows never do. */
  private def perturbText(text: org.apache.spark.sql.Column,
      rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(rep === 0, text).otherwise(
      array_join(transform(split(text, " "),
        w => concat(w, lit("~"),
          pmod(xxhash64(w, rep), lit(97)).cast("string"))), " "))

  def synthesize(spark: SparkSession, baseSf: String, f: Int,
      outRoot: String): String = {
    // base-specific directory + validated marker: a stale synthesis for
    // a DIFFERENT base (or factor) must never be silently reused
    val baseTag = baseSf.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"$outRoot/$baseTag/x$f"
    val marker = s"$out/_SCALE_MARKER"
    val reusable = try {
      val m = spark.read.parquet(marker).head()
      m.getAs[String]("base") == baseSf && m.getAs[Int]("factor") == f
    } catch { case _: Throwable => false }
    if (reusable) return out
    graft.util.Fs.rmTree(spark, out)
    def rd(t: String) = spark.read.parquet(s"$baseSf/$t.parquet")

    val docs = rd("documents")
    val maxDoc = maxOf(docs, "doc_id")
    replicate(spark, docs, f)
      .select((col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        perturbText(col("text"), col("rep")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = rd("embeddings")
    val maxVec = maxOf(emb, "vec_id")
    replicate(spark, emb, f)
      .select((col("vec_id") + col("rep") * maxVec).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), i, col("rep")), lit(1000))
              .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val orders = rd("orders")
    val li = rd("lineitem")
    // one shared orderkey offset keeps the orders-lineitem join FK valid
    val maxOrd = math.max(maxOf(orders, "o_orderkey"),
      maxOf(li, "l_orderkey"))
    val maxCust = maxOf(orders, "o_custkey")
    val maxPart = maxOf(li, "l_partkey")
    val maxSupp = maxOf(li, "l_suppkey")
    replicate(spark, orders, f)
      .select((col("o_orderkey") + col("rep") * maxOrd).as("o_orderkey"),
        (col("o_custkey") + col("rep") * maxCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(spark, li, f)
      .select((col("l_orderkey") + col("rep") * maxOrd).as("l_orderkey"),
        (col("l_partkey") + col("rep") * maxPart).as("l_partkey"),
        (col("l_suppkey") + col("rep") * maxSupp).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ev = rd("events")
    val maxEvent = maxOf(ev, "event_id")
    val maxUser = maxOf(ev, "user_id")
    // user spaces stay disjoint per replica: per-user event streams (and
    // with them range/asof/session structure) replicate unchanged
    replicate(spark, ev, f)
      .select((col("event_id") + col("rep") * maxEvent).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // the rest pass through unscaled (dimension tables / unused here)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        rd(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    import spark.implicits._
    Seq((baseSf, f)).toDF("base", "factor")
      .repartition(1).write.mode("overwrite").parquet(marker)
    out
  }

  /** Skew-tier variants that are not registry queries: the j14/j16
    * workloads through the salted merge at production-shaped settings
    * (absolute threshold sized to "one key's merge exceeds a task",
    * catching ONLY the synthesized hot user — cold keys take the
    * zero-replication salt-0 path). */
  private def inlineQueries
      : Map[String, (SparkSession, String) => DataFrame] = {
    def workload(s: SparkSession, d: String, w: Long) = {
      val ev = graft.Tables.events(s, d).filter(col("ts").isNotNull)
      val l = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("rid"),
          (unix_micros(col("ts")) - w).as("lo"),
          (unix_micros(col("ts")) + w).as("hi"))
      (l, r)
    }
    def agg(df: DataFrame) = df.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(col("event_id") + col("rid")), lit(0L))
        .cast("long").as("pair_checksum"))
    def mitigated(w: Long): (SparkSession, String) => DataFrame =
      (s, d) => {
        val (l, r) = workload(s, d, w)
        agg(graft.plans.RangeJoinNative.rangeJoinSkew(l, r,
          Seq("user_id"), "us", "lo", "hi",
          splits = 32, hotThreshold = 100000L))
      }
    def auto(w: Long): (SparkSession, String) => DataFrame =
      (s, d) => {
        val (l, r) = workload(s, d, w)
        agg(graft.plans.RangeJoinNative.rangeJoinAuto(l, r,
          Seq("user_id"), "us", "lo", "hi",
          splits = 32, hotThreshold = 100000L))
      }
    Map("j14_skew_mitigated" -> mitigated(300000000L),
      "j16_skew_mitigated" -> mitigated(7200000000L),
      "j14_auto" -> auto(300000000L),
      "j16_auto" -> auto(7200000000L))
  }

  /** Skewed synthesis: normal replication, then ~20% of all events
    * (deterministic hash of the replicated event id) reroute to the
    * dedicated hot user −1 — an id no offset replica can produce, so
    * the remaining users keep their exact per-replica structure. Only
    * the events table is written (the skew set is join-only). */
  def synthesizeSkew(spark: SparkSession, baseSf: String, f: Int,
      outRoot: String): String = {
    val baseTag = baseSf.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"$outRoot/$baseTag/x${f}skew"
    val marker = s"$out/_SCALE_MARKER"
    val reusable = try {
      val m = spark.read.parquet(marker).head()
      m.getAs[String]("base") == baseSf && m.getAs[Int]("factor") == f &&
        m.getAs[Boolean]("skew")
    } catch { case _: Throwable => false }
    if (reusable) return out
    graft.util.Fs.rmTree(spark, out)
    val ev = spark.read.parquet(s"$baseSf/events.parquet")
    val maxEvent = maxOf(ev, "event_id")
    val maxUser = maxOf(ev, "user_id")
    replicate(spark, ev, f)
      .select((col("event_id") + col("rep") * maxEvent).as("event_id"),
        col("ts"),
        when(pmod(xxhash64(col("event_id") + col("rep") * maxEvent),
          lit(5)) === 0, lit(-1L))
          .otherwise(col("user_id") + col("rep") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    import spark.implicits._
    Seq((baseSf, f, true)).toDF("base", "factor", "skew")
      .repartition(1).write.mode("overwrite").parquet(marker)
    out
  }

  /** The planted hot boilerplate block (~200 tokens): hot-block docs
    * are this text plus a unique one-token tail, so pairwise Jaccard
    * ≈ 0.97 ≥ the d2/d17 threshold 0.9 — a genuine near-dup CLUSTER,
    * every member colliding in every LSH band. Token shapes avoid the
    * fixture vocabulary and the `~k` re-vocabulary suffixes. */
  private val hotBlock: String =
    (0 until 200).map(i => "boiler" + ((i * 2654435761L) % 9973)).mkString(" ")

  /** The planted hot stop-phrase (12 tokens): prepended verbatim to
    * 20% of docs ACROSS replicas (deliberately not re-vocabularied),
    * so its grams' document frequency is 0.2·n at every factor. */
  private val hotPhrase: String =
    (0 until 12).map(i => "stopword" + ((i * 40503L) % 997)).mkString(" ")

  /** Store-skew synthesis: normal documents/embeddings replication
    * (same re-vocabulary / component-noise recipe as [[synthesize]]),
    * then the three plantings documented on [[storeSkewDefaultQueries]].
    * Only the two tables the store queries read are written. */
  def synthesizeStoreSkew(spark: SparkSession, baseSf: String, f: Int,
      outRoot: String): String = {
    val baseTag = baseSf.replaceAll("[^A-Za-z0-9._-]", "_")
    val out = s"$outRoot/$baseTag/x${f}storeskew"
    val marker = s"$out/_SCALE_MARKER"
    val reusable = try {
      val m = spark.read.parquet(marker).head()
      m.getAs[String]("base") == baseSf && m.getAs[Int]("factor") == f &&
        m.getAs[Boolean]("storeskew")
    } catch { case _: Throwable => false }
    if (reusable) return out
    graft.util.Fs.rmTree(spark, out)
    def rd(t: String) = spark.read.parquet(s"$baseSf/$t.parquet")

    val docs = rd("documents")
    val maxDoc = maxOf(docs, "doc_id")
    val base = replicate(spark, docs, f)
      .select((col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        perturbText(col("text"), col("rep")).as("text"),
        col("lang"), col("source"))
    base
      .select(col("doc_id"),
        // hot BLOCK: 1-in-200 docs; hot PHRASE: 1-in-5 of the rest
        when(pmod(xxhash64(col("doc_id")), lit(200)) === 0,
          concat(lit(hotBlock + " u"), col("doc_id").cast("string")))
          .when(pmod(xxhash64(col("doc_id"), lit(1)), lit(5)) === 0,
            concat(lit(hotPhrase + " "), coalesce(col("text"), lit(""))))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = rd("embeddings")
    val maxVec = maxOf(emb, "vec_id")
    replicate(spark, emb, f)
      .select((col("vec_id") + col("rep") * maxVec).as("vec_id"),
        // hot CELL: 1-in-5 vectors become centroid + ±0.001 jitter
        when(pmod(xxhash64(col("vec_id") + col("rep") * maxVec, lit(7)),
          lit(5)) === 0,
          transform(col("embedding"), (_, i) =>
            ((pmod(xxhash64(lit(42L), i), lit(1000)).cast("double")
              / 1000.0 - 0.5)
              + (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(1000))
                .cast("double") / 1000.0 - 0.5) * 0.002).cast("float")))
          .when(col("rep") === 0, col("embedding"))
          .otherwise(
            transform(col("embedding"), (x, i) =>
              (x + (pmod(xxhash64(col("vec_id"), i, col("rep")), lit(1000))
                .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    import spark.implicits._
    Seq((baseSf, f, true)).toDF("base", "factor", "storeskew")
      .repartition(1).write.mode("overwrite").parquet(marker)
    out
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val baseSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val skewMode = sys.env.get("SPARK_GRAFT_SCALE_SKEW").contains("1")
    val storeSkewMode =
      sys.env.get("SPARK_GRAFT_SCALE_STORESKEW").contains("1")
    require(!(skewMode && storeSkewMode),
      "SPARK_GRAFT_SCALE_SKEW and SPARK_GRAFT_SCALE_STORESKEW are exclusive")
    val qNames = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(if (skewMode) skewDefaultQueries
      else if (storeSkewMode) storeSkewDefaultQueries
      else defaultQueries)
    val spark = GraftSession("graft.tools.ScaleBench", GraftSession.hostCores)
    // generic JIT/session warmup (Bench's first block): the factor-1
    // tier additionally serves as the operator-specific warmup for the
    // 10x/100x tiers, which are the measurement that matters
    try {
      spark.range(1000).selectExpr("sum(id) as s").write
        .format("noop").mode("overwrite").save()
      graft.SparkEntry.queries.get("a1_grouped_agg").foreach { fn =>
        fn(spark, baseSf).write.format("noop").mode("overwrite").save()
      }
    } catch { case _: Throwable => () }
    val outRoot = "target/scale"
    val results = scala.collection.mutable.ArrayBuffer[String]()
    val loadStart = GraftSession.loadAvg()
    factors.foreach { f =>
      val dir =
        if (skewMode) {
          // skew mode synthesizes EVERY factor (including x1) so the
          // 20%-hot-user structure is constant along the curve
          val t0 = System.nanoTime()
          val d = synthesizeSkew(spark, baseSf, f, outRoot)
          val secs = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[scale] synthesized skewed x$f in $secs%.1f s")
          d
        } else if (storeSkewMode) {
          // store-skew mode also synthesizes x1 so the planted-hot
          // structure is constant along the curve
          val t0 = System.nanoTime()
          val d = synthesizeStoreSkew(spark, baseSf, f, outRoot)
          val secs = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[scale] synthesized store-skewed x$f in $secs%.1f s")
          d
        } else if (f == 1) baseSf
        else {
          val t0 = System.nanoTime()
          val d = synthesize(spark, baseSf, f, outRoot)
          val secs = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[scale] synthesized x$f in $secs%.1f s")
          d
        }
      val nDocs = spark.read.parquet(
        if (skewMode) s"$dir/events.parquet"
        else s"$dir/documents.parquet").count()
      qNames.foreach { name =>
        val fn = graft.SparkEntry.queries.getOrElse(name,
          inlineQueries.getOrElse(name, throw new IllegalArgumentException(
            s"unknown scale query '$name'")))
        val reps = if (secondRun.contains(name)) 2 else 1
        var rep = 0
        while (rep < reps) {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.valuesIterator
            .foreach(_.unpersist(blocking = false))
          System.gc()
          val t0 = System.nanoTime()
          val res = try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            val secs = (System.nanoTime() - t0) / 1e9
            f"""{"query":${jstr(name)},"factor":$f,"rep":$rep,"secs":${math.floor(secs * 100 + 0.5) / 100},"docs":$nDocs}"""
          } catch {
            case e: Throwable =>
              s"""{"query":${jstr(name)},"factor":$f,"rep":$rep,"error":${jstr(
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
          }
          results += res
          System.err.println(s"[scale] $res")
          rep += 1
        }
      }
    }
    val loadEnd = GraftSession.loadAvg()
    val body = results.mkString("[", ",", "]")
    val json = s"""{"metric":"scale","base":${jstr(baseSf)},"skew":$skewMode,"storeskew":$storeSkewMode,"loadavg_start":${jstr(
      loadStart)},"loadavg_end":${jstr(loadEnd)},"n_cores":${spark
      .sparkContext.defaultParallelism},"results":$body}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      if (skewMode) "scale_out_skew.json"
      else if (storeSkewMode) "scale_out_storeskew.json"
      else "scale_out.json"),
      json + "\n")
    spark.stop()
    println(json)
  }
}
