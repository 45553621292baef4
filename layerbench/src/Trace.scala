package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer, made during set-up or during the
  * measured pass. Times are epoch milliseconds (the clock Spark stamps
  * job events with) plus a nanosecond wall duration. */
final case class Span(id: Int, name: String, parent: Int, measured: Boolean,
    traced: Boolean, startMs: Long, endMs: Long, wallNs: Long,
    attrs: mutable.LinkedHashMap[String, Double])

/** A Spark job as the listener saw it, tagged with the span that was
  * open on the submitting thread. */
final case class JobRec(jobId: Int, span: Int, module: String,
    startMs: Long, var endMs: Long, var shuffleBytes: Long = 0L,
    var outputBytes: Long = 0L)

/** Attributes Spark jobs to benchmark spans. The span id travels as a
  * thread-local job property, so only jobs submitted while a traced
  * span is open are recorded. Each job's module is the innermost
  * `graft.<module>` frame of its stage call site. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val Frame = """(?m)^\s*graft\.([a-z]+)\.""".r

  def moduleOf(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey)))
    tag.foreach { t =>
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse("")
      synchronized {
        jobs(e.jobId) = JobRec(e.jobId, t.toInt, moduleOf(site), e.time, -1L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def openJobs: Int = synchronized(jobs.values.count(_.endMs < 0))
  def snapshot: Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toSeq)
}

/** Span recorder. Spans are always timed; with `traced` the listener is
  * registered and the measured pass's spans tag their jobs. Everything
  * stays in memory until [[writeSpans]] at the end of the run. */
final class Tracer(sc: SparkContext, val traced: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var measuring = false
  private var tagging = false
  val listener: Option[JobListener] =
    if (traced) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  /** Brackets the measured pass; in a traced run its jobs are tagged. */
  def measure[T](body: => T): T = {
    measuring = true
    tagging = traced
    try body finally { measuring = false; tagging = false }
  }

  def isTagging: Boolean = tagging

  /** Records an already-closed span (one that began before the tracer
    * existed, like the session start). */
  def record(name: String, startMs: Long, wallNs: Long): Unit =
    spans += Span(spans.size, name, -1, measuring, false, startMs,
      startMs + wallNs / 1000000, wallNs, mutable.LinkedHashMap())

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(id, name, parent, measuring, tagging, 0L, 0L, 0L,
      mutable.LinkedHashMap())
    spans += s
    stack = id :: stack
    if (tagging) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      spans(id) = s.copy(startMs = ms0, endMs = System.currentTimeMillis(),
        wallNs = wall)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey,
        if (tagging) stack.headOption.map(_.toString).orNull else null)
    }
  }

  /** Attaches a value to the most recently closed span. */
  def annotateLast(key: String, v: Double): Unit =
    spans.lastOption.foreach(_.attrs(key) = v)
  def all: Seq[Span] = spans.toSeq

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Seq[JobRec] = listener.map { l =>
    val deadline = System.currentTimeMillis() + 30000
    var prev = -1
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      val n = l.snapshot.size
      if (l.openJobs == 0 && n == prev) stable += 1 else stable = 0
      prev = n
    }
    sc.removeSparkListener(l)
    l.snapshot
  }.getOrElse(Nil)

  def writeSpans(path: String, jobs: Seq[JobRec]): Unit = {
    val byId = jobs.groupBy(_.span)
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(c => subtree(c.id))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val js = subtree(s.id).flatMap(byId.getOrElse(_, Nil))
      val jobS = Trace.unionSeconds(js, s.startMs, s.endMs)
      val fields = mutable.LinkedHashMap[String, Any](
        "run_id" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "measured" -> s.measured,
        "traced" -> s.traced, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallNs / 1e9)
      if (s.traced) {
        fields("jobs") = js.size
        fields("job_s") = jobS
        fields("driver_gap_s") = s.wallNs / 1e9 - jobS
      }
      s.attrs.foreach { case (k, v) => fields(k) = v }
      w.println(Json.obj(fields.toSeq))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

object Trace {
  /** Seconds covered by the union of the jobs' intervals, clipped to
    * [lo, hi] (epoch ms). */
  def unionSeconds(jobs: Seq[JobRec], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Double = {
    val iv = jobs.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  /** (files, bytes) of every regular file under `dir`. */
  def footprint(dir: String): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { files += 1; bytes += f.length() }
    walk(new java.io.File(dir))
    (files, bytes)
  }
}

/** Minimal JSON writer for flat records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")
}
