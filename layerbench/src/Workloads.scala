package graftbench

import graft.cli.{Cv, Ingest, Predict, Refit}
import graft.llm.{DedupIndex, TextIndex, VectorIndex}
import graftbench.Inputs.{Doc, Vec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What every workload shares: the session, the tracer, its scratch
  * directory, the seed and the scale, plus the correctness ledger. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: String,
    val seed: Long, val tiny: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** A timed op: counted as attempted, and as failed when it throws. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    try tr.span(name)(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw new OpFailed(name, e)
    }
  }

  def docsDf(ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def vecsDf(vs: Seq[Vec]): DataFrame = {
    import spark.implicits._
    vs.map(v => (v.id, v.v)).toDF("vec_id", "embedding")
  }

  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}

final class OpFailed(name: String, cause: Throwable)
    extends RuntimeException(s"$name failed", cause)

/** One benchmark workload. [[prepare]] makes the inputs (set-up, timed
  * as such); [[run]] repeats whole passes until `seconds` have passed,
  * at least one; [[passS]] is the median pass time, the end-to-end
  * metric every workload shares; [[record]] adds the workload's own
  * figures to the run record. */
trait Workload {
  def prepare(): Unit
  def run(seconds: Double): Unit
  def passS: Double
  def record: Seq[(String, Any)]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` at `q`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Rank-sum AUC of scores against 0/1 labels (ties get mid-ranks). */
  def auc(yTrue: Seq[Double], score: Seq[Double]): Double = {
    val sorted = score.zip(yTrue).sortBy(_._1).toIndexedSeq
    val ranks = new Array[Double](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
      (i to j).foreach(ranks(_) = (i + j) / 2.0 + 1)
      i = j + 1
    }
    val pos = sorted.indices.filter(sorted(_)._2 > 0.5)
    val nPos = pos.size.toDouble
    val nNeg = sorted.length - nPos
    (pos.map(ranks).sum - nPos * (nPos + 1) / 2) / (nPos * nNeg)
  }
}

// ---------------------------------------------------------------------
// daxos_pipeline: Ingest -> Cv -> Refit -> Predict on a planted fixture
// ---------------------------------------------------------------------

final class DaxosPipeline(c: Ctx) extends Workload {
  private val n = if (c.tiny) 400 else 10000
  private val p = if (c.tiny) 8 else 100
  private val chunk = if (c.tiny) 50 else 100
  private val k = 2
  private val nIter = 1
  private val nRounds = 3
  private var aucFloor = Double.NaN
  private val dir = s"${c.work}/daxos"
  private val fixture = s"$dir/fixture"
  private val walls = mutable.ArrayBuffer[Double]()

  /** Renders the seeded planted-odds-ratio fixture (ml.Sim) as PLINK
    * `.raw` text plus a covariates TSV. The AUC floor is half the planted
    * signal above chance: the AUC of the true log-odds score (the two
    * planted SNPs' dosages weighted by log OR) on the same rows. */
  def prepare(): Unit = {
    val s = c.spark
    val cfg = graft.ml.Sim.Config(n = n, p = p,
      seed = Inputs.derive(c.seed, "daxos.fixture") & 0xFFFFFF, chunkRows = chunk)
    val names = graft.ml.Sim.snpNames(cfg.p, cfg.seed)
    val rows = graft.ml.Sim.bundle(s, cfg)
      .select(col("fid"), col("iid"), col("pat"), col("mat"),
        col("sex").cast("int"), col("phenotype").cast("int"), col("features"))
      .collect()
    val ors = graft.ml.Sim.oddsRatios(p)
    val oracle = Stats.auc(rows.map(r => r.getInt(5) - 1.0).toSeq,
      rows.map { r =>
        val g = r.getSeq[Float](6)
        (p - 2 until p).map(j => g(j) * math.log(ors(j))).sum
      }.toSeq)
    aucFloor = 0.5 + (oracle - 0.5) / 2
    val lines = rows.map { r =>
        val g = r.getSeq[Float](6).map(_.toInt).mkString(" ")
        s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} " +
          s"${r.getString(3)} ${r.getInt(4)} ${r.getInt(5)} $g"
      }
    Files.createDirectories(Paths.get(fixture))
    Files.write(Paths.get(s"$fixture/fixture.raw"),
      ((graft.io.Plink.metaCols ++ names).mkString(" ") +: lines.toSeq)
        .mkString("\n").getBytes("UTF-8"))
    val cov = graft.ml.Sim.covariates(s, cfg).collect().map { r =>
      f"${r.getString(0)}\t${r.getString(1)}\t${r.getFloat(2)}%.6f\t" +
        f"${r.getFloat(3)}%.6f\t${r.getFloat(4)}%.1f"
    }
    Files.write(Paths.get(s"$fixture/covariates.tsv"),
      ("FID\tIID\tCOV1\tCOV2\tCOV3" +: cov.toSeq).mkString("\n")
        .getBytes("UTF-8"))
  }

  /** The same command lines every run (the CLIs' default --seed), so
    * the sampled hyper-parameters and the work they imply do not vary
    * with the workload seed; only the fixture does. */
  private def pipeline(out: String): Unit = {
    c.op("cli.Ingest.main") {
      Ingest.main(Array("--raw", s"$fixture/fixture.raw",
        "--covariates", s"$fixture/covariates.tsv", "--out", s"$out/store",
        "--chunk-rows", chunk.toString))
    }
    c.op("cli.Cv.main") {
      Cv.main(Array("--bundle", s"$out/store", "--out", s"$out/cv",
        "--k", k.toString, "--n-iter", nIter.toString,
        "--n-rounds", nRounds.toString, "--chunk-rows", chunk.toString))
    }
    c.op("cli.Refit.main") {
      Refit.main(Array("--bundle", s"$out/store",
        "--hp-results", s"$out/cv/cv_results/*.csv", "--out", s"$out/refit",
        "--run-shap", "true"))
    }
    c.op("cli.Predict.main") {
      Predict.main(Array("--bundle", s"$out/store",
        "--model-dir", s"$out/refit", "--out", s"$out/pred"))
    }
  }

  /** Whole pipelines until `seconds` have passed, at least one. */
  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val out = s"$dir/run$i"
      val t0 = System.nanoTime()
      pipeline(out)
      walls += (System.nanoTime() - t0) / 1e9
      verify(out)
      c.rmTree(out)
      i += 1
    }
  }

  private def verify(out: String): Unit = {
    val s = c.spark
    val preds = s.read.option("header", "true").csv(s"$out/pred/predictions")
      .select(col("y_true").cast("double"), col("y_pred").cast("double"))
      .collect()
    c.check(s"predictions have $n rows (got ${preds.length})",
      preds.length == n)
    val auc = Stats.auc(preds.map(_.getDouble(0)).toSeq,
      preds.map(_.getDouble(1)).toSeq)
    c.check(f"AUC $auc%.4f is above the planted-effect floor $aucFloor%.4f",
      auc > aucFloor)
    val cvRows = s.read.option("header", "true")
      .csv(s"$out/cv/cv_results").count()
    c.check(s"CV rows = n-iter x k = ${nIter * k} (got $cvRows)",
      cvRows == nIter * k)
  }

  /** A pass is the wall time from Ingest through Predict. */
  def passS: Double = Stats.median(walls.toSeq)

  def record: Seq[(String, Any)] = Seq("pipeline_s" -> walls.toSeq)
}

// ---------------------------------------------------------------------
// The store corpus: a base split plus one appended batch
// ---------------------------------------------------------------------

final class StoreCorpus(seed: Long, nDocs: Int, nVecs: Int) {
  val dim = 64
  val threshold = 0.9
  private val nBaseDocs = nDocs * 7 / 10
  private val nBaseVecs = nVecs * 7 / 10
  private val allDocs = Inputs.docs(Inputs.derive(seed, "docs"), nDocs, 0L)
  private val allVecs = Inputs.vecs(Inputs.derive(seed, "vecs"), nVecs, 0L, dim)
  val baseDocs: IndexedSeq[Doc] = allDocs.take(nBaseDocs)
  val baseVecs: IndexedSeq[Vec] = allVecs.take(nBaseVecs)

  /** Appended ids lie above every base id (the stores' monotonic-id
    * contract). */
  private val appendBase = 1000000L

  /** The appended new documents, distinct from every other document. */
  val freshDocs: IndexedSeq[Doc] = allDocs.drop(nBaseDocs).zipWithIndex
    .map { case (d, i) => Doc(appendBase + i, d.text) }

  /** Verbatim re-crawls of live documents under new ids. */
  def recrawls(live: IndexedSeq[Doc]): IndexedSeq[Doc] =
    Inputs.sample(live, freshDocs.size / 2, Inputs.derive(seed, "recrawl"))
      .zipWithIndex.map { case (d, i) => Doc(appendBase + 500000L + i, d.text) }

  val freshVecs: IndexedSeq[Vec] = allVecs.drop(nBaseVecs).zipWithIndex
    .map { case (v, i) => Vec(appendBase + i, v.v) }

  /** A fixed 5% of the live set, seeded. */
  def deletions[T](live: IndexedSeq[T], what: String): IndexedSeq[T] =
    Inputs.sample(live, math.max(1, live.size / 20),
      Inputs.derive(seed, s"delete.$what"))

  def docBytes(ds: Iterable[Doc]): Double =
    ds.iterator.map(d => 8 + d.text.getBytes("UTF-8").length).sum.toDouble
  def vecBytes(n: Int): Double = n * (8.0 + 4.0 * dim)
}

/** The three stores of one lifecycle, with the model of their live sets. */
final class Stores(c: Ctx, val root: String, corpus: StoreCorpus) {
  val dedup = s"$root/dedup"
  val text = s"$root/text"
  val vector = s"$root/vector"
  var liveDocs: IndexedSeq[Doc] = corpus.baseDocs
  var liveVecs: IndexedSeq[Vec] = corpus.baseVecs
  var deletedDocs = IndexedSeq.empty[Doc]

  private def vecs: DataFrame = c.vecsDf(liveVecs)

  /** A timed store op; in traced passes the store directory is walked
    * afterwards, from outside, for its footprint. Returns seconds. */
  private def run(store: String, fn: String, dir: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    c.op(s"llm.$store.$fn")(body)
    val dt = (System.nanoTime() - t0) / 1e9
    if (c.tr.isTagging) {
      val (files, bytes) = Trace.footprint(dir)
      c.tr.annotateLast("files", files.toDouble)
      c.tr.annotateLast("bytes", bytes.toDouble)
      c.tr.annotateLast("live_bytes",
        if (dir == vector) corpus.vecBytes(liveVecs.size)
        else corpus.docBytes(liveDocs))
    }
    dt
  }

  def build(): Double = {
    val docs = c.docsDf(liveDocs)
    val vs = vecs
    run("DedupIndex", "build", dedup) {
      DedupIndex.build(docs, dedup, corpus.threshold)
    } + run("TextIndex", "build", text) {
      TextIndex.build(docs, text)
    } + run("VectorIndex", "build", vector) {
      VectorIndex.build(vs, vector)
    }
  }

  /** New documents mixed with re-crawls go through the dedup keeper; the
    * survivors enter the text index; the new vectors enter the vector
    * index. Returns seconds. */
  def append(): Double = {
    val fresh = corpus.freshDocs
    val batch = c.docsDf(fresh ++ corpus.recrawls(liveDocs))
    var kept = Set.empty[Long]
    val tDedup = run("DedupIndex", "append", dedup) {
      kept = DedupIndex.append(batch, dedup, corpus.threshold)
        .collect().map(_.get(0).asInstanceOf[Number].longValue).toSet
    }
    c.check(s"dedup keeps exactly the ${fresh.size} new documents " +
      s"(kept ${kept.size})", kept == fresh.map(_.id).toSet)
    liveDocs = liveDocs ++ fresh
    val tText = run("TextIndex", "append", text) {
      TextIndex.append(c.docsDf(fresh), text)
    }
    val vb = corpus.freshVecs
    val vbDf = c.vecsDf(vb)
    val tVec = run("VectorIndex", "append", vector) {
      VectorIndex.append(vbDf, vector)
    }
    liveVecs = liveVecs ++ vb
    tDedup + tText + tVec
  }

  def delete(): Double = {
    val dd = corpus.deletions(liveDocs, "docs")
    val dv = corpus.deletions(liveVecs, "vecs")
    val ddDf = c.docsDf(dd)
    val dvDf = c.vecsDf(dv)
    val t = run("DedupIndex", "delete", dedup) { DedupIndex.delete(ddDf, dedup) } +
      run("TextIndex", "delete", text) { TextIndex.delete(ddDf, text) } +
      run("VectorIndex", "delete", vector) { VectorIndex.delete(dvDf, vector) }
    val gone = dd.map(_.id).toSet
    val goneV = dv.map(_.id).toSet
    liveDocs = liveDocs.filterNot(d => gone(d.id))
    deletedDocs = dd
    liveVecs = liveVecs.filterNot(v => goneV(v.id))
    t
  }

  def maintain(): Double = {
    val s = c.spark
    run("DedupIndex", "compactFiles", dedup) { DedupIndex.compactFiles(s, dedup) } +
      run("TextIndex", "compactFiles", text) { TextIndex.compactFiles(s, text) } +
      run("VectorIndex", "compactFiles", vector) { VectorIndex.compactFiles(s, vector) } +
      run("DedupIndex", "compact", dedup) { DedupIndex.compact(s, dedup) } +
      run("TextIndex", "compact", text) { TextIndex.compact(s, text) } +
      run("VectorIndex", "compact", vector) { VectorIndex.compact(s, vector) }
  }

  /** Each store's fingerprint (live count and content hash) must match
    * the model of the live set, so `ensure` validates without a
    * rebuild. Deleted documents must not come back from a probe. */
  def verify(): Unit = {
    val docs = c.docsDf(liveDocs)
    val d0 = DedupIndex.buildsThisProcess
    DedupIndex.ensure(docs, dedup, corpus.threshold)
    c.check(s"DedupIndex holds the ${liveDocs.size} live documents",
      DedupIndex.buildsThisProcess == d0)
    val t0 = TextIndex.buildsThisProcess
    TextIndex.ensure(docs, text)
    c.check(s"TextIndex holds the ${liveDocs.size} live documents",
      TextIndex.buildsThisProcess == t0)
    val v0 = VectorIndex.buildsThisProcess
    val ix = VectorIndex.ensure(vecs, vector)
    c.check(s"VectorIndex holds the ${liveVecs.size} live vectors " +
      s"(its meta says ${ix.nVectors})",
      VectorIndex.buildsThisProcess == v0 && ix.nVectors == liveVecs.size)
    val copies = deletedDocs.zipWithIndex.map { case (d, i) =>
      Doc(9000000000L + i, d.text) }
    val gone = deletedDocs.map(_.id).toSet
    val back = DedupIndex.probePairs(c.docsDf(copies), dedup, corpus.threshold)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).filter(gone)
    c.check(s"no deleted id comes back from a probe (${back.length} did)",
      back.isEmpty)
  }
}

// ---------------------------------------------------------------------
// store_churn: build, one append + delete, one maintenance window
// ---------------------------------------------------------------------

final class StoreChurn(c: Ctx) extends Workload {
  private var corpus: StoreCorpus = null
  private final case class Pass(build: Double, append: Double, delete: Double,
      maint: Double) {
    def total: Double = build + append + delete + maint
  }
  private val passes = mutable.ArrayBuffer[Pass]()

  def prepare(): Unit =
    corpus = new StoreCorpus(c.seed, if (c.tiny) 500 else 2000,
      if (c.tiny) 500 else 1000)

  /** Whole lifecycles until `seconds` have passed, at least one. */
  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val st = new Stores(c, s"${c.work}/churn$i", corpus)
      val p = Pass(st.build(), st.append(), st.delete(), st.maintain())
      st.verify()
      passes += p
      c.rmTree(st.root)
      i += 1
    }
  }

  /** A pass is the time of its timed ops: the builds, the append, the
    * delete and the maintenance window. The correctness checks between
    * them are not counted. */
  def passS: Double = Stats.median(passes.map(_.total).toSeq)

  /** The lifecycle's parts, medians over passes. */
  def record: Seq[(String, Any)] = if (passes.isEmpty) Nil else {
    def med(f: Pass => Double) = Stats.median(passes.map(f).toSeq)
    Seq("build_s" -> med(_.build), "append_s" -> med(_.append),
      "delete_s" -> med(_.delete), "maintenance_s" -> med(_.maint))
  }
}
