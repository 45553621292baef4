package graft.tools

import graft.util.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HOT-GRAM DRIFT campaign for the persisted dedup store (r14 verdict
  * item 1's "Done" evidence): the store-skew tier proved the frozen
  * hot-gram set kills the (share·n)² stop-phrase quadratic when the
  * phrase is hot AT BUILD — this campaign plants the phrase ONLY in
  * post-build APPEND batches (the new-crawl-source-banner scenario),
  * where the frozen set is blind and every banner gram keeps its cold
  * prefix rank.
  *
  * Protocol, per factor F (plain replicated corpus, no build-time
  * planting, so the build-time hot set never contains the banner):
  *   - corpus = half the docs → build at t = 0.9;
  *   - K append batches from the other half, HALF of each batch
  *     replaced by short banner docs (12-token banner + 6 unique tail
  *     tokens — prefix length 2, so pre-refresh prefixes are almost
  *     surely banner grams and one gram's posting holds every banner
  *     doc, while ≥ 6 rare tail grams make every prefix all-cold
  *     after refresh) — banner df crosses the max(64, 0.002·n)
  *     threshold within the first batches and keeps growing;
  *   - two stores, same batch sequence: "plain" (no maintenance — the
  *     drift hazard curve) and "maint" (`DedupIndex.refreshHotGrams`
  *     every R appends — the bounded curve);
  *   - measured per append: append seconds; at a cadence: the seconds
  *     of a FIXED banner-bearing probe (its candidate count is what
  *     the un-refreshed cold rank inflates);
  *   - result-invariance oracle: refresh must never change keeper
  *     semantics, so each append's kept-id checksum must be IDENTICAL
  *     between the two stores — recorded per append, compared at the
  *     end;
  *   - mechanism evidence: banner grams present in `prefix/` on the
  *     plain store, promoted to `hotgrams/` and absent from `prefix/`
  *     on the maintained store.
  *
  * Run:  sbt "runMain graft.tools.DriftBench"
  * Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *       SPARK_GRAFT_CPUS (default: the host's processors),
  *       SPARK_GRAFT_DRIFT_FACTORS (default "1,10"),
  *       SPARK_GRAFT_DRIFT_APPENDS (24),
  *       SPARK_GRAFT_DRIFT_EVERY (4, probe cadence),
  *       SPARK_GRAFT_DRIFT_REFRESH (8, maint-mode refresh cadence).
  * Output: one JSON line (stdout + drift_out.json).
  */
object DriftBench {

  private def jnum(d: Double): String =
    (math.floor(d * 1000 + 0.5) / 1000).toString

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 12 banner tokens shaped to dodge the fixture vocabulary and the
    * scale synthesis' `~k` re-vocabulary suffixes. */
  private val banner: String =
    (0 until 12).map(i => "banner" + ((i * 48271L) % 1009)).mkString(" ")

  def main(args: Array[String]): Unit = {
    val baseSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_DRIFT_FACTORS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val nAppends = sys.env.getOrElse("SPARK_GRAFT_DRIFT_APPENDS", "24").toInt
    val every = sys.env.getOrElse("SPARK_GRAFT_DRIFT_EVERY", "4").toInt
    val refreshEvery =
      sys.env.getOrElse("SPARK_GRAFT_DRIFT_REFRESH", "8").toInt
    val spark = GraftSession("graft.tools.DriftBench", GraftSession.hostCores)
    val loadStart = GraftSession.loadAvg()
    val root = "target/drift"
    graft.util.Fs.rmTree(spark, root)
    val results = scala.collection.mutable.ArrayBuffer[String]()

    // TICK-COST campaign (SPARK_GRAFT_DRIFT_MODE=ticks): isolate the
    // refresh tick's wall time as a function of CORPUS size under a
    // FIXED-size append. The gramdf delta path must stay ~flat across
    // factors (O(appended)).
    if (sys.env.get("SPARK_GRAFT_DRIFT_MODE").contains("ticks")) {
      // fixed-size batch of genuinely NEW docs (16 hash-keyed tokens
      // each — pairwise Jaccard ≈ 0, so every doc survives and its
      // grams land in gramdf/delta): identical at every factor, which
      // is the controlled variable
      val appendDocs = spark.range(2000).select(
          (col("id") + 900000000000000L).as("doc_id"),
          concat_ws(" ", (0 until 16).map(j =>
            concat(lit(s"tk${j}_"),
              pmod(col("id") * 7919 + j * 104729, lit(1000003))
                .cast("string"))): _*).as("text"))
        .localCheckpoint(true)
      factors.foreach { f =>
        val dataDir =
          if (f == 1) baseSf
          else ScaleBench.synthesize(spark, baseSf, f, "target/scale")
        val corpus = graft.Tables.documents(spark, dataDir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text")).localCheckpoint(true)
        val nCorpus = corpus.count()
        val dir = s"$root/tick_x$f"
        graft.util.StoreLease.break(spark, dir) // fixture dir
        graft.util.Fs.rmTree(spark, dir)
        graft.llm.DedupIndex.build(corpus, dir, threshold = 0.9)
        val nKept = graft.llm.DedupIndex
          .append(appendDocs, dir, threshold = 0.9).count()
        val (pDelta, sDelta) = secs(
          graft.llm.DedupIndex.refreshHotGrams(spark, dir, force = true))
        // TRICKLE tick (r17): gramdf/base is bucket-partitioned, so a
        // tick whose unfolded delta touches few buckets prunes the base
        // SCAN itself (partition dirs, not just rows). Fold the big
        // delta first (compact), then a 1-doc append — the trickle
        // shape the file-buildup trigger exists for — and account the
        // bytes the pruned tick reads vs the whole base.
        graft.llm.DedupIndex.compact(spark, dir)
        val trickle = spark.range(1).select(
            (col("id") + 910000000000000L).as("doc_id"),
            concat_ws(" ", (0 until 16).map(j =>
              concat(lit(s"tr${j}_"),
                pmod(col("id") * 6007 + j * 31337, lit(999983))
                  .cast("string"))): _*).as("text"))
          .localCheckpoint(true)
        graft.llm.DedupIndex.append(trickle, dir, threshold = 0.9)
          .count(): Unit
        // the base is partitioned by the store's own bucket count
        val nBuckets = graft.util.Sidecar.readHead(spark, s"$dir/meta")
          .getAs[Int]("n_buckets")
        val candB = spark.read.parquet(s"$dir/gramdf/delta")
          .select(pmod(col("gram"), lit(nBuckets)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val baseBuckets = graft.util.Fs
          .listDirNames(spark, s"$dir/gramdf/base")
          .filter(_.startsWith("gbucket="))
        val bytesTotal = baseBuckets.map(d => graft.util.Fs
          .dataSize(spark, s"$dir/gramdf/base/$d")).sum
        val bytesPruned = candB.map(b => graft.util.Fs
          .dataSize(spark, s"$dir/gramdf/base/gbucket=$b")).sum
        val baseRows = spark.read
          .parquet(s"$dir/gramdf/base").count()
        val (pTrickle, sTrickle) = secs(
          graft.llm.DedupIndex.refreshHotGrams(spark, dir, force = true))
        val row = s"""{"factor":$f,"corpus_docs":$nCorpus,""" +
          s""""append_kept":$nKept,"tick_delta_secs":${jnum(sDelta)},""" +
          s""""promoted_delta":$pDelta,""" +
          s""""base_rows":$baseRows,"base_buckets":${baseBuckets.length},""" +
          s""""trickle_cand_buckets":${candB.length},""" +
          s""""base_bytes_total":$bytesTotal,""" +
          s""""base_bytes_pruned_scan":$bytesPruned,""" +
          s""""tick_trickle_secs":${jnum(sTrickle)},""" +
          s""""promoted_trickle":$pTrickle}"""
        results += row
        System.err.println(s"[drift-ticks] $row")
      }
      val json = s"""{"metric":"dedup_refresh_tick","base":"$baseSf",""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"${GraftSession.loadAvg()}",""" +
        s""""results":[${results.mkString(",")}]}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("drift_ticks_out.json"), json + "\n")
      spark.stop()
      println(json)
      return
    }

    factors.foreach { f =>
      val dataDir =
        if (f == 1) baseSf
        else ScaleBench.synthesize(spark, baseSf, f, "target/scale")
      val docs = graft.Tables.documents(spark, dataDir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val appendSrc = docs.filter(col("doc_id") % 2 =!= 0)
      // banner docs: banner + 6 per-doc-unique tail tokens. The shape
      // is the sharpest refreshABLE drift case: 16 grams, prefix
      // length 2, ten shared banner grams — pre-refresh the two
      // lowest-hash grams are almost surely banner grams (one gram's
      // posting list holds ~every banner doc → the quadratic), while
      // the 6-token tail yields ≥ 6 rare grams, more than the prefix,
      // so POST-refresh every prefix is all-cold and candidates
      // collapse. (A tail shorter than the prefix would be the
      // documented output-bound-boilerplate case refresh cannot and
      // should not fix.) Pairwise banner-doc Jaccard ≈ 10/22 < 0.9,
      // so nothing actually drops — pure candidate pressure.
      def tail6(id: org.apache.spark.sql.Column) =
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit(s"tl$j"), pmod(id + j * 7919, lit(1000003))
            .cast("string"))): _*)
      // banner planted on HALF of every APPEND batch only
      def withBanner(batch: DataFrame): DataFrame = batch.select(
        col("doc_id"),
        when(pmod(xxhash64(col("doc_id"), lit(3)), lit(2)) === 0,
          concat(lit(banner + " "), tail6(col("doc_id"))))
          .otherwise(col("text")).as("text"))
      // fixed probe shape: re-crawls of 50 corpus docs plus 50
      // banner-shaped docs — re-keyed per round so ids stay above the
      // growing store max
      val probeSrc = corpus.orderBy(col("doc_id")).limit(50)
        .localCheckpoint(true)
      // one store per mode, fed the identical batch sequence
      val modes = Seq("plain" -> -1, "maint" -> refreshEvery)
      val checks = scala.collection.mutable.Map[String, Seq[Long]]()
      modes.foreach { case (mode, rEvery) =>
        val dir = s"$root/x${f}_$mode"
        graft.util.StoreLease.break(spark, dir) // fixture dir
        graft.util.Fs.rmTree(spark, dir)
        graft.llm.DedupIndex.build(corpus, dir, threshold = 0.9)
        var probeRound = 0
        def probeSecs(): Double = {
          probeRound += 1
          val off = 8000000000000L + probeRound * 1000000L
          val batch = probeSrc.select((col("doc_id") + off).as("doc_id"),
              col("text"))
            .unionByName(probeSrc.select(
              (col("doc_id") + off + 500000L).as("doc_id"),
              concat(lit(banner + " "),
                tail6(col("doc_id") + off)).as("text")))
          val (_, s) = secs(graft.llm.DedupIndex.probe(batch, dir,
            threshold = 0.9).count())
          s
        }
        def point(after: Int, appendSecs: Double): Unit = {
          val p = probeSecs()
          val row = s"""{"factor":$f,"mode":"$mode","after":$after,""" +
            s""""append_secs":${jnum(appendSecs)},"probe_secs":${jnum(p)}}"""
          results += row
          System.err.println(s"[drift] $row")
        }
        point(0, 0.0)
        val keptChecksums = scala.collection.mutable.ArrayBuffer[Long]()
        var k = 0
        var failed = false
        while (k < nAppends && !failed) {
          val batch = withBanner(appendSrc
            .filter(pmod(xxhash64(col("doc_id")), lit(nAppends)) === k)
            .select((col("doc_id") + (k + 1) * 100000000000L).as("doc_id"),
              col("text")))
          val r = try {
            val (kept, aSecs) = secs(
              graft.llm.DedupIndex.append(batch, dir, threshold = 0.9)
                .agg(coalesce(sum(col("doc_id")), lit(0L)).cast("long"))
                .head().getLong(0))
            keptChecksums += kept
            Some(aSecs)
          } catch {
            case e: Throwable =>
              results += s"""{"factor":$f,"mode":"$mode","after":${k + 1},"error":"${
                Option(e.getMessage).getOrElse(e.getClass.getName)
                  .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)}"}"""
              failed = true
              None
          }
          k += 1
          r.foreach { aSecs =>
            if (rEvery > 0 && k % rEvery == 0) {
              val (n, rs) = secs(
                graft.llm.DedupIndex.refreshHotGrams(spark, dir))
              // the tick wall time is first-class evidence now (r15
              // verdict item 1's "Done" column): recorded per refresh,
              // not just logged
              results += s"""{"factor":$f,"mode":"$mode","refresh_after":$k,""" +
                s""""refresh_secs":${jnum(rs)},"promoted":$n}"""
              System.err.println(
                f"[drift] x$f/$mode refresh after $k: $n grams in $rs%.2f s")
            }
            if (k % every == 0) point(k, aSecs)
          }
        }
        checks(mode) = keptChecksums.toSeq
        // mechanism evidence on the final store state
        val bannerGrams = graft.llm.Dedup.shingleHashes(
          spark.createDataFrame(spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(1L, banner + " qq1 qq2 qq3"),
            org.apache.spark.sql.Row(2L, banner + " pp1 pp2 pp3"))),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))),
          "doc_id", "text")
          .collect().map(_.getSeq[Long](1).toSet).reduce(_ intersect _)
        val hot = spark.read.parquet(s"$dir/hotgrams")
          .collect().map(_.getLong(0)).toSet
        val inPrefix = spark.read.parquet(s"$dir/prefix")
          .filter(col("gram").isin(bannerGrams.toSeq.map(Long.box): _*))
          .count()
        results += s"""{"factor":$f,"mode":"$mode","banner_grams":${
          bannerGrams.size},"banner_promoted":${
          bannerGrams.count(hot.contains)},"banner_prefix_rows":$inPrefix}"""
        System.err.println(s"[drift] ${results.last}")
      }
      // a mode that errored mid-campaign must FAIL the invariant, not
      // vacuously pass it (r15 advice): both modes must be present,
      // have completed the same number of appends, and agree exactly
      val invariant = (checks.get("plain"), checks.get("maint")) match {
        case (Some(a), Some(b)) => a.size == b.size && a == b
        case _ => false
      }
      results += s"""{"factor":$f,"kept_invariant":$invariant,"plain_appends":${
        checks.getOrElse("plain", Nil).size},"maint_appends":${
        checks.getOrElse("maint", Nil).size}}"""
      System.err.println(s"[drift] ${results.last}")
    }

    val loadEnd = GraftSession.loadAvg()
    val json = s"""{"metric":"dedup_drift","base":"$baseSf","appends":$nAppends,""" +
      s""""refresh_every":$refreshEvery,"loadavg_start":"$loadStart",""" +
      s""""loadavg_end":"$loadEnd","results":[${results.mkString(",")}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("drift_out.json"), json + "\n")
    spark.stop()
    println(json)
  }
}
