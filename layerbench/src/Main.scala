package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The per-layer metric catalogue: `<module>.<Object>.<function>.<counter>`
  * for spans, `<module>.job_s` for module attribution, and
  * `llm.<Store>.<counter>` for per-store totals and footprint. */
object Layers {
  val cliStages = Seq("Ingest", "Cv", "Refit", "Predict")
  val stores: Seq[(String, Seq[String])] = Seq(
    "DedupIndex" -> Seq("build", "append", "delete", "compactFiles", "compact"),
    "TextIndex" -> Seq("build", "append", "delete", "compactFiles", "compact"),
    "VectorIndex" -> Seq("build", "append", "delete", "compactFiles", "compact"))
  val modules = Seq("ml", "io", "ops")

  private val cliCounters = Seq("wall_s" -> "s", "jobs" -> "count",
    "job_s" -> "s", "driver_gap_s" -> "s", "shuffle_mb" -> "MB",
    "output_mb" -> "MB")
  private val opCounters = Seq("wall_s" -> "s", "jobs" -> "count",
    "job_s" -> "s", "driver_gap_s" -> "s")
  private val storeCounters = Seq("shuffle_mb" -> "MB", "output_mb" -> "MB",
    "files" -> "count", "mb" -> "MB", "space_amp" -> "ratio")

  val all: Seq[(String, String)] =
    Seq("spark.Session.start.wall_s" -> "s",
      "bench.setup.inputs.wall_s" -> "s",
      "trace.overhead_pct" -> "%") ++
      cliStages.flatMap(st => cliCounters.map { case (k, u) =>
        s"cli.$st.main.$k" -> u }) ++
      modules.map(m => s"$m.job_s" -> "s") ++
      stores.flatMap { case (st, fns) =>
        fns.flatMap(f => opCounters.map { case (k, u) =>
          s"llm.$st.$f.$k" -> u }) ++
          storeCounters.map { case (k, u) => s"llm.$st.$k" -> u }
      }

  /** Per-layer values from the measured pass's traced spans and jobs.
    * Every catalogued metric is present; a layer the workload does not
    * exercise reads 0. */
  def compute(tr: Tracer, jobs: Seq[JobRec],
      overheadPct: Double): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap(all.map { case (k, _) => k -> 0.0 }: _*)
    def set(k: String, v: Double): Unit = if (out.contains(k)) out(k) = v
    val spans = tr.all
    val kids = spans.groupBy(_.parent)
    val bySpan = jobs.groupBy(_.span)
    def subtree(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def jobsOf(s: Span): Seq[JobRec] = subtree(s.id).flatMap(bySpan.getOrElse(_, Nil))
    def mb(js: Seq[JobRec], f: JobRec => Long) = js.map(f).sum / 1e6

    // set-up spans are never tagged: report their wall time (the median
    // of the input-generation repetitions)
    spans.filterNot(_.measured).groupBy(_.name)
      .foreach { case (n, ss) => set(s"$n.wall_s", Stats.median(ss.map(_.wallNs / 1e9))) }
    set("trace.overhead_pct", overheadPct)

    val tagged = spans.filter(_.traced)
    tagged.groupBy(_.name).foreach { case (n, ss) =>
      val js = ss.map(jobsOf)
      val wall = ss.map(_.wallNs / 1e9)
      val jobS = ss.zip(js).map { case (s, j) =>
        Trace.unionSeconds(j, s.startMs, s.endMs) }
      set(s"$n.wall_s", Stats.median(wall))
      set(s"$n.jobs", Stats.median(js.map(_.size.toDouble)))
      set(s"$n.job_s", Stats.median(jobS))
      set(s"$n.driver_gap_s", Stats.median(wall.zip(jobS).map(t => t._1 - t._2)))
      set(s"$n.shuffle_mb", Stats.median(js.map(mb(_, _.shuffleBytes))))
      set(s"$n.output_mb", Stats.median(js.map(mb(_, _.outputBytes))))
    }

    modules.foreach(m => set(s"$m.job_s", Trace.unionSeconds(jobs.filter(_.module == m))))

    stores.foreach { case (st, _) =>
      val ss = tagged.filter(_.name.startsWith(s"llm.$st."))
      val js = ss.flatMap(s => bySpan.getOrElse(s.id, Nil))
      set(s"llm.$st.shuffle_mb", mb(js, _.shuffleBytes))
      set(s"llm.$st.output_mb", mb(js, _.outputBytes))
      ss.filter(_.attrs.contains("files")).lastOption.foreach { s =>
        set(s"llm.$st.files", s.attrs("files"))
        set(s"llm.$st.mb", s.attrs("bytes") / 1e6)
        set(s"llm.$st.space_amp", s.attrs("bytes") / s.attrs("live_bytes"))
      }
    }
    out
  }
}

object Main {
  val Workloads = Seq("daxos_pipeline", "store_churn")
  /** How many times set-up makes its inputs; setup_s takes the median. */
  val SetupReps = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg\nusage: --workload " +
      Workloads.mkString("|") + " --seed N --seconds S --trace 0|1 " +
      "--work DIR [--trace-dir DIR] [--scale full|tiny] [--run-id ID] " +
      "[--baseline name=value,...] [--baseline-runs N]")
    sys.exit(2)
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Exception => "unknown" }

  /** Seconds of CPU time the hypervisor stole from this machine so far
    * (all CPUs; /proc/stat counts in 1/100 s). */
  private def stealS(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")(8).toDouble / 100
    catch { case _: Exception => Double.NaN }

  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-metrics"))) {
      println(Json.value(Layers.all.map { case (n, u) =>
        mutable.LinkedHashMap("name" -> n, "unit" -> u) }))
      return
    }
    if (args.length % 2 != 0) usage("arguments come as --key value pairs")
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a.getOrElse("workload", usage("--workload is required"))
    val seed = a.get("seed").map(_.toLong).getOrElse(usage("--seed is required"))
    val seconds = a.get("seconds").map(_.toDouble).getOrElse(usage("--seconds is required"))
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a.getOrElse("work", usage("--work is required"))
    val tiny = a.getOrElse("scale", "full") == "tiny"
    val runId = a.getOrElse("run-id", java.util.UUID.randomUUID().toString)
    // medians of the untraced runs recorded in this checkout, for the
    // tracing-overhead line
    val baseline: Map[String, Double] = a.get("baseline").filter(_.nonEmpty)
      .map(_.split(",").map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v.toDouble }.toMap)
      .getOrElse(Map.empty)
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val steal0 = stealS()
    sys.props("graft.cli.keepSession") = "true"
    val sessMs0 = System.currentTimeMillis()
    val sessT0 = System.nanoTime()
    val spark: SparkSession = graft.cli.Cli.session(s"graftbench-$workload")
    val sessNs = System.nanoTime() - sessT0
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, traced, runId)
    tr.record("spark.Session.start", sessMs0, sessNs)
    val c = new Ctx(spark, tr, work, seed, tiny)
    val wl: Workload =
      if (workload == "daxos_pipeline") new DaxosPipeline(c) else new StoreChurn(c)

    var measured = false
    var setupS = Double.NaN
    val prepS = mutable.ArrayBuffer[Double]()
    try {
      val readyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      for (_ <- 0 until SetupReps) {
        val t0 = System.nanoTime()
        tr.span("bench.setup.inputs")(wl.prepare())
        prepS += (System.nanoTime() - t0) / 1e9
      }
      setupS = readyS + Stats.median(prepS.toSeq)
      tr.measure(wl.run(seconds))
      measured = true
    } catch {
      case e: OpFailed =>
        System.err.println(s"graftbench: ${e.getMessage}: ${e.getCause}")
      case scala.util.control.NonFatal(e) =>
        c.check(s"the run threw ${e.getClass.getSimpleName}: ${e.getMessage}", false)
        e.printStackTrace()
    }

    val jobs = tr.drain()
    val complete = c.failed == 0 && measured
    lazy val e2e: Seq[(String, Double, String)] =
      Seq(("setup_s", setupS, "s"), ("peak_rss_mb", peakRssMb(), "MB"),
        ("pass_s", wl.passS, "s"))

    // tracing overhead: the traced run's end-to-end numbers against the
    // medians of the untraced runs recorded in this checkout (both cold
    // single-pass runs); without any, it is not measured and reads 0
    val overhead: Seq[(String, Double, Double)] =
      if (!traced || !complete) Nil
      else e2e.collect { case (n, v, _) if baseline.contains(n) => (n, baseline(n), v) }
    val timed = overhead.filterNot(o => Set("setup_s", "peak_rss_mb")(o._1))
    val overheadPct =
      if (timed.isEmpty) 0.0
      else Stats.median(timed.map { case (_, u, t) => 100 * (t - u) / u })
    val metrics: Seq[(String, Double, String)] =
      if (!complete) Nil
      else if (!traced) e2e
      else {
        val vals = Layers.compute(tr, jobs, overheadPct)
        Layers.all.map { case (n, u) => (n, vals(n), u) }
      }

    val sc = spark.sparkContext
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(sc.master)
      .map(_.group(1).toInt).getOrElse(sc.defaultParallelism)
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xmx"))
      .lastOption.getOrElse(s"-Xmx${Runtime.getRuntime.maxMemory >> 20}m")
    val spansFile = s"${a.getOrElse("trace-dir", work)}/" +
      s"$workload-seed$seed-$runId.spans.jsonl"
    tr.writeSpans(spansFile, jobs)
    val record = mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "trace" -> traced,
      "scale" -> (if (tiny) "tiny" else "full"),
      "cores_honoured" -> cores, "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx" -> xmx, "spark_version" -> spark.version,
      "git_commit" -> sys.env.getOrElse("GRAFTBENCH_GIT_COMMIT", "unknown"),
      "source_sha256" -> sys.env.getOrElse("GRAFTBENCH_SOURCE_SHA", "unknown"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "cpu_steal_s" -> (stealS() - steal0),
      "setup_input_s" -> prepS.toSeq,
      "ops_attempted" -> c.attempted, "ops_failed" -> c.failed,
      "failures" -> c.failures.take(20).toSeq, "spans_file" -> spansFile)
    if (measured) record ++= wl.record
    if (traced) {
      record("jobs_traced") = jobs.size
      record("overhead_basis") = s"median of ${a.getOrElse("baseline-runs", "0")} " +
        "untraced runs recorded in this checkout"
      if (complete && overhead.isEmpty)
        println("tracing overhead: not measured, no untraced run is recorded " +
          "in this checkout")
      overhead.foreach { case (n, u, t) =>
        println(f"tracing overhead: $n untraced $u%.4f traced $t%.4f " +
          f"(${100 * (t - u) / u}%+.2f%%)")
      }
    }
    println(Json.obj(Seq("run_record" -> record)))
    val result = Json.obj(Seq(
      "correct" -> complete,
      "attempted" -> math.max(1L, c.attempted),
      "failed" -> (if (complete) 0L else math.max(1L, c.failed)),
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))
    spark.stop()
    println(result)
    System.out.flush()
    sys.exit(if (complete) 0 else 1)
  }
}
