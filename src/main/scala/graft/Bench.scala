package graft
import graft.util.GraftSession
import java.nio.file.{Files, Paths}

/** Benchmark main. Forces FULL evaluation of every declared query via a
  * noop-format write (count() would let Catalyst prune unreferenced
  * projections, under-measuring pure-projection queries), emits one JSON
  * line on stdout AND writes it to bench_out.json in the cwd so the
  * driver can parse it even when sbt noise surrounds stdout. A failed
  * query is reported in an "errors" map — never silently as a fast time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft.Bench", GraftSession.hostCores)
    // Warm up the session before timing anything: scheduler, codegen,
    // shuffle, and the noop committer all initialize here instead of
    // inside whichever query happens to run first. Also first-touch the
    // heavyweight machinery whose CLASS-LOAD + JIT cost otherwise lands
    // inside the first query that uses it (measured: v10's first run
    // 13.7 s vs 4.95 s warmed — the delta was MLlib KMeans + window
    // initialization, not the query): MLlib clustering, window
    // functions, and Dataset encoders each get one tiny exercise.
    try {
      spark.range(1000).selectExpr("sum(id) as s").write
        .format("noop").mode("overwrite").save()
      SparkEntry.queries.get("a1_grouped_agg").foreach { fn =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      import org.apache.spark.sql.functions.{col, row_number}
      spark.range(256)
        .selectExpr("id % 7 as k", "cast(id as double) as v")
        .select(col("k"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("k").orderBy("v")).as("rn"))
        .write.format("noop").mode("overwrite").save()
      // (the KMeans warmup retired in round 9: ivfTopK/semanticDedup now
      // train through pqTrain's treeAggregate, warmed by the next line)
      graft.llm.Similarity.pqTrain(
        spark.range(256).selectExpr("id as vec_id",
          "array(cast(id as float), cast(id % 13 as float)) as embedding"),
        1, 4, iters = 2)
      import spark.implicits._
      spark.range(256).as[Long].flatMap(i => Iterator((i, i + 1L)))
        .write.format("noop").mode("overwrite").save()
      // The ExactSubstr span family is the heaviest remaining first-touch
      // path (r07: d14 11.5 s single-shot vs 4.1 s warm median — the gap
      // was rolling-hash/Utf16Substr/localCheckpoint/RDD-cutter JIT, not
      // plan cost). One miniature end-to-end dedupRepeatedSpans touches
      // every stage: window hashing, candidate checkpoint, window-
      // granular election, loser re-merge, and the row cutter.
      val wdocs = spark.range(64).select(
        col("id").as("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(
            "warmup boilerplate text shared across documents 0123456789 "),
          (col("id") % 7).cast("string")).as("text"))
      graft.llm.Dedup.dedupRepeatedSpans(wdocs, win = 20, minDocs = 2)
        .write.format("noop").mode("overwrite").save()
      // Iterative-graph machinery (per-round localCheckpoint, cached
      // self-joins, AQE re-plan per round): a 3-round mini PageRank
      // eats the first-touch JIT that otherwise lands inside g1. The
      // warmup graph must be LARGE enough (5k nodes, 60k edges) that
      // (a) AQE picks the same physical join strategies as the real
      // run (a 16-node warmup broadcast everything, leaving the
      // shuffled-join classes cold) and (b) the join/agg inner loops
      // cross the JIT compile threshold (~10k iterations) — measured
      // at sf0.1: g1 18.6 s truly cold, 12.7 s after a 4k-edge
      // warmup, ~8 s after this one (5.0 s is the warm floor).
      val wedges = spark.range(60000).select(
        (col("id") % 4999).as("src"), ((col("id") * 31 + 7) % 4999).as("dst"))
      graft.ops.GraphOps.pageRankFixedPoint(wedges, 3)
        .write.format("noop").mode("overwrite").save()
      // ...and the star-contraction path (g2/d4): its per-round
      // aggregate+join shape and localCheckpoint machinery differ from
      // the PageRank loop's, and r09 showed g2's cold time ~3x its warm
      // median while g1 (warmed above) stayed flat — same first-touch
      // class, so it gets the same treatment on the same warmup graph.
      graft.ops.GraphOps.connectedComponents(wedges)
        .write.format("noop").mode("overwrite").save()
      // ...and the multimodal codec + dHash + banded-Hamming kernels
      // (r10 committed artifacts: mm4 23.5 s cold vs 4.8 s isolated
      // warm — the delta was codec/fingerprint JIT, not plan cost)
      graft.llm.Multimodal.warmup(spark)
    } catch { case _: Throwable => () }
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Peak-memory column (the reference harness reports wall-time AND
    // peak RSS — examples/cpu/benchmark_cpu_memory.py:80-101; this is
    // the parity column): per-query peak HEAP via
    // MemoryPoolMXBean peak-usage counters, reset before each query —
    // unlike VmHWM (a monotone process-wide high-water mark) the pool
    // peaks are resettable, so each query gets its own number. The
    // process-wide VmHWM (true RSS ceiling incl. off-heap) is reported
    // once in the summary.
    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakHeapMb(): Double =
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    def vmHwmMb(): Double = try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
    val peakMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Shared-host noise is the recurring confounder in round-over-round
    // bench comparisons (r10/r11 both had 1.5-5x scatter on sub-second
    // queries traced to ambient load): the artifact records the load at
    // start and end plus the core count.
    val loadStart = GraftSession.loadAvg()
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=d2_minhash_lsh,d4_… times
    // just those queries; unset (the driver's mode) runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_BENCH_REPS=N (default 1, the driver contract) times each
    // query N times and reports the per-query MEDIAN. A single-shot run on
    // a shared machine turns a noisy neighbor into a phantom regression
    // (r05: a14 read 56 s under load, 5.4 s isolated); the median of 3+
    // reps is robust to one polluted sample while leaving the default
    // cost unchanged.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val nSamples = scala.collection.mutable.LinkedHashMap[String, Int]()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val samples = scala.collection.mutable.ArrayBuffer[Double]()
      var rep = 0
      while (rep < reps && !errors.contains(name)) {
        // Evict every cached table/RDD a previous query may have leaked,
        // OUTSIDE the timed window: leftover storage blocks squeeze the
        // next query's execution memory (measured: mm4 33.6 s late in
        // the full run vs 8.6 s standalone — the delta was neighbors'
        // cache pressure, not the query). Nothing is referenced across
        // queries, so the eviction is safe; each query is then measured
        // against a cold cache, which is the driver's contract anyway.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
        System.gc()
        resetHeapPeaks()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          samples += (System.nanoTime() - t0) / 1e9
          // max over reps: the worst observed footprint is the number a
          // capacity plan needs
          val pk = math.floor(peakHeapMb() * 10 + 0.5) / 10
          peakMb(name) = math.max(peakMb.getOrElse(name, 0.0), pk)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] $name FAILED: ${errors(name)}")
        }
        rep += 1
      }
      // A failure on a later rep keeps the error AND the median of the
      // successful samples — partial timing signal beats a pure red row.
      // The artifact records how each number was produced: "timing"
      // labels the run cold-single-shot vs warm-median (back-to-back
      // reps are cache/JIT-warmed — comparable to each other, NOT to
      // single-shot numbers), and "n_samples" exposes partial medians
      // (n_samples < reps == that query's median is from fewer,
      // earlier — colder — samples).
      if (samples.nonEmpty) {
        times(name) = median(samples.toSeq)
        nSamples(name) = samples.length
      }
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val nss = nSamples.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val pks = peakMb.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val timing = if (reps > 1) "warm-median" else "cold-single-shot"
    val total = times.values.sum
    val loadEnd = GraftSession.loadAvg()
    // the cores the session honours, not the host's processor count
    val cores = spark.sparkContext.defaultParallelism
    // names whose timing is the store-ops-only bench variant (full
    // gate choreography runs in Verify only) — self-describing artifact
    val variants = SparkEntry.benchVariantNames
      .map(jstr).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_failed":${errors.size},"reps":$reps,"timing":${jstr(timing)},"store_ops_only":$variants,"n_samples":$nss,"peak_heap_mb":$pks,"peak_rss_mb":${vmHwmMb()},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadEnd)},"n_cores":$cores,"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    // The result line goes out LAST, after the Spark session (and its
    // log chatter) is fully stopped, so no concurrent logger can splice
    // bytes into the middle of the JSON (r08's artifact showed
    // "parsed": null — the driver's stdout parse missed the line even
    // though bench_out.json carried it). Printed on both streams,
    // explicitly flushed.
    spark.stop()
    println(json)
    Console.out.flush()
    System.err.println(json)
    System.err.flush()
    // The driver keeps only a ~2 KB tail of output, and the full artifact
    // line above is ~6 KB at 168 queries — r08 and r09 both landed with
    // "parsed": null because the line's HEAD (and its opening brace) was
    // truncated away. The LAST line is therefore a compact summary that
    // always fits in the tail window: same contract fields
    // (metric/value/unit/sf/queries) with "queries" restricted to the 10
    // slowest — the full per-query map stays in bench_out.json and in the
    // full line above.
    val slow10 = times.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${times.size},"n_failed":${errors.size},"reps":$reps,"timing":${jstr(timing)},"peak_rss_mb":${vmHwmMb()},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadEnd)},"n_cores":$cores,"queries":$slow10,"note":"slowest-10 only; full map in bench_out.json","sf":${jstr(sfDir)}}"""
    println(summary)
    Console.out.flush()
    System.err.println(summary)
    System.err.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
