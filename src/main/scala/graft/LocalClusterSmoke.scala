package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Multi-executor deployment checks on `local-cluster[2,2,2048]` —
  * Spark's standalone-in-miniature test master that forks two REAL
  * executor JVMs (separate processes, separate heaps, real
  * serialization and shuffle over the wire) — proving the engine
  * carries no hidden driver-locality assumption: every closure must
  * serialize, every kernel class must load on a remote executor from
  * `spark.executor.extraClassPath`, and shuffle / broadcast cross
  * process boundaries. This is the deployment-shape analog of the
  * reference's cluster bring-up (daxos/distribute.py:8-101
  * spin_cluster/wait_for_workers), which on Spark is the cluster
  * manager's job — the engine-side obligation is exactly what these
  * checks cover. Two checks:
  *
  *  1. [[pipelineCheck]] — the m6 CV pipeline (Sim fixture, chunked
  *     k-fold, GBT fits, distributed AUC: the deepest
  *     driver-vs-executor surface in the repo) plus one shuffle-heavy
  *     relational query for the Exchange path.
  *  2. [[storedIndexRoundTrip]] — builds a [[graft.llm.VectorIndex]]
  *     store from one cluster session's EXECUTOR writes, stops that
  *     session, and searches the store from a COMPLETELY FRESH cluster
  *     session: fingerprint validation, partition-pruned scan, and
  *     exact re-rank must all work with zero state carried over —
  *     proving the store round-trip has no hidden driver locality
  *     (nothing in the index lives only in the building JVM).
  *
  * Run as a main (`sbt "runMain graft.LocalClusterSmoke"`) or as the
  * opt-in spec (`sbt 'set Test / testOptions := Seq()' "testOnly
  * graft.LocalClusterSpec"` — excluded from the default `sbt test`
  * run because it stops/starts SparkContexts, which a shared-session
  * test JVM cannot tolerate mid-run). SPARK_HOME is set by build.sbt
  * for forked runs; executors need it to assemble their launch
  * command.
  */
object LocalClusterSmoke {

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")

  /** Fresh `local-cluster[2,2,2048]` session. Stops any live session
    * first (builder.getOrCreate would silently return it otherwise —
    * defeating the whole cross-JVM point), then waits for both remote
    * executors to register. */
  def newClusterSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val classes =
      new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = graft.util.GraftSession.build("graft.LocalClusterSmoke",
      "local-cluster[2,2,2048]", 8,
      Map("spark.executor.extraClassPath" -> classes,
        "spark.executor.extraJavaOptions" -> addOpens))
    // driver shows up in the memory-status map too, hence >= 3
    var waited = 0
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        waited < 120) {
      Thread.sleep(500); waited += 1
    }
    val nExec = spark.sparkContext.getExecutorMemoryStatus.size - 1
    require(nExec >= 2, s"expected 2 remote executors, got $nExec")
    spark
  }

  /** m6 CV pipeline + one shuffle-heavy relational query; returns the
    * m6 row count (must be > 0). */
  def pipelineCheck(spark: SparkSession, sfDir: String): Long = {
    val n = SparkEntry.queries("m6_cv_driver")(spark, "unused").count()
    require(n > 0, "m6 emitted zero rows on the multi-executor cluster")
    require(SparkEntry.queries("a1_grouped_agg")(spark, sfDir).count() > 0,
      "a1 emitted zero rows")
    n
  }

  /** Build a VectorIndex store in ONE cluster session (executor-side
    * partitioned writes), stop it, and search from a FRESH cluster
    * session. Returns (stored code count, recall@1 vs the fresh
    * session's own brute-force truth). The fresh session must
    * fingerprint-validate WITHOUT rebuilding — the store alone carries
    * everything. */
  def storedIndexRoundTrip(sfDir: String): (Long, Double) = {
    val sA = newClusterSession()
    val dir = try {
      val emb = Tables.embeddings(sA, sfDir)
        .select(col("vec_id"), col("embedding"))
      val dir = graft.util.Fixtures.store(sA, "cluster_index", sfDir)
      graft.util.Fs.rmTree(sA, dir)
      graft.llm.VectorIndex.build(emb, dir)
      dir
    } finally {
      sA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val sB = newClusterSession()
    try {
      val emb = Tables.embeddings(sB, sfDir)
        .select(col("vec_id"), col("embedding")).cache()
      val before = graft.llm.VectorIndex.buildsThisProcess
      val ix = graft.llm.VectorIndex.ensure(emb, dir)
      require(graft.llm.VectorIndex.buildsThisProcess == before,
        "fresh session failed to fingerprint-validate the stored index")
      val queries = graft.llm.Similarity.probePanel(emb)
      val recall = graft.llm.Similarity.recall(
        graft.llm.Similarity.bruteForceTop1(queries, emb),
        graft.llm.VectorIndex.search(ix, queries, emb, k = 1))
      (ix.codes.count(), recall)
    } finally {
      sB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** [[storedIndexRoundTrip]] for the GRAPH store (GraphAnn): build
    * from one cluster session, stop it, beam-search from a fresh one.
    * The fresh session must fingerprint-validate WITHOUT rebuilding.
    * Returns (stored node count, recall@1 vs the fresh session's own
    * brute-force truth). */
  def storedGraphRoundTrip(sfDir: String): (Long, Double) = {
    val sA = newClusterSession()
    val dir = try {
      val emb = Tables.embeddings(sA, sfDir)
        .select(col("vec_id"), col("embedding"))
      val dir = graft.util.Fixtures.store(sA, "cluster_graph", sfDir)
      graft.util.Fs.rmTree(sA, dir)
      graft.llm.GraphAnn.ensure(emb, dir): Unit
      dir
    } finally {
      sA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val sB = newClusterSession()
    try {
      val emb = Tables.embeddings(sB, sfDir)
        .select(col("vec_id"), col("embedding")).cache()
      val before = graft.llm.GraphAnn.buildsThisProcess
      val graph = graft.llm.GraphAnn.ensure(emb, dir)
      require(graft.llm.GraphAnn.buildsThisProcess == before,
        "fresh session failed to fingerprint-validate the stored graph")
      val queries = graft.llm.Similarity.probePanel(emb)
      val recall = graft.llm.Similarity.recall(
        graft.llm.Similarity.bruteForceTop1(queries, emb),
        graft.llm.GraphAnn.beamSearch(queries, graph, emb, k = 1))
      (sB.read.parquet(s"$dir/nodes").count(), recall)
    } finally {
      sB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** [[storedIndexRoundTrip]] for the FILTERED (label, cell) store:
    * build from one cluster session, pre-filtered search from a fresh
    * one against the within-label brute-force truth. Returns (stored
    * code count, within-label recall@1). */
  def storedFilteredRoundTrip(sfDir: String): (Long, Double) = {
    val sA = newClusterSession()
    val dir = try {
      val emb = Tables.embeddings(sA, sfDir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val dir = graft.util.Fixtures.store(sA, "cluster_filtered", sfDir)
      graft.util.Fs.rmTree(sA, dir)
      graft.llm.VectorIndex.build(emb, dir, filterCol = Some("label"))
      dir
    } finally {
      sA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val sB = newClusterSession()
    try {
      val emb = Tables.embeddings(sB, sfDir)
        .select(col("vec_id"), col("embedding"), col("label")).cache()
      val before = graft.llm.VectorIndex.buildsThisProcess
      val ix = graft.llm.VectorIndex.ensure(emb, dir, filterCol = Some("label"))
      require(graft.llm.VectorIndex.buildsThisProcess == before,
        "fresh session failed to fingerprint-validate the filtered store")
      val queries = graft.llm.Similarity.probePanel(emb)
      val recall = graft.llm.Similarity.recall(
        graft.llm.Similarity.bruteForceTop1(queries, emb, Some("label")),
        graft.llm.VectorIndex.search(ix, queries, emb, k = 1))
      (ix.codes.count(), recall)
    } finally {
      sB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** [[storedIndexRoundTrip]] for the DEDUP signature store
    * ([[graft.llm.DedupIndex]]): build the prefix/sets store from one
    * cluster session, stop it, probe a mixed batch from a fresh one.
    * The fresh session must fingerprint-validate WITHOUT rebuilding;
    * exact re-crawls of stored docs must drop and genuinely-new docs
    * must survive. Returns (stored set count, probe accuracy — the
    * fraction of batch docs classified as expected; must be 1.0). */
  def storedDedupRoundTrip(sfDir: String): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val sA = newClusterSession()
    val dir = try {
      val corpus = Tables.documents(sA, sfDir)
        .select(col("doc_id"), col("text"))
      val dir = graft.util.Fixtures.store(sA, "cluster_dedup", sfDir)
      graft.util.Fs.rmTree(sA, dir)
      graft.llm.DedupIndex.build(corpus, dir, threshold = 0.9)
      dir
    } finally {
      sA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val sB = newClusterSession()
    try {
      val corpus = Tables.documents(sB, sfDir)
        .select(col("doc_id"), col("text"))
      val before = graft.llm.DedupIndex.buildsThisProcess
      graft.llm.DedupIndex.ensure(corpus, dir, threshold = 0.9)
      require(graft.llm.DedupIndex.buildsThisProcess == before,
        "fresh session failed to fingerprint-validate the dedup store")
      // exact re-crawls of every 5th stored doc MUST drop; synthetic
      // docs over a per-id-unique vocabulary MUST survive
      val dups = corpus
        .filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val fresh = sB.range(3000000L, 3000020L)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(w =>
            concat(lit(s"uniq${w}_"), col("id"))): _*).as("text"))
      val batch = dups.unionByName(fresh)
      val kept = graft.llm.DedupIndex.probe(batch, dir, threshold = 0.9)
        .collect().map(_.getLong(0)).toSet
      val mustDrop = dups.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val mustKeep = (3000000L until 3000020L).toSet
      val correct = mustDrop.count(!kept.contains(_)) +
        mustKeep.count(kept.contains)
      val accuracy = correct.toDouble / (mustDrop.size + mustKeep.size)
      (sB.read.parquet(s"$dir/sets").count(), accuracy)
    } finally {
      sB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** TextIndex store: built by one cluster session, fingerprint-
    * validated and searched from a FRESH one; the store-backed BM25
    * must agree row-for-row with the storeless scorer over the store's
    * own live postings. Returns (posting rows, 1.0 iff identical). */
  def storedTextRoundTrip(sfDir: String): (Long, Double) = {
    import org.apache.spark.sql.functions._
    val sA = newClusterSession()
    val dir = try {
      val docs = Tables.documents(sA, sfDir)
        .select(col("doc_id"), col("text"))
      val dir = graft.util.Fixtures.store(sA, "cluster_text", sfDir)
      graft.util.Fs.rmTree(sA, dir)
      graft.llm.TextIndex.build(docs, dir)
      dir
    } finally {
      sA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val sB = newClusterSession()
    try {
      val docs = Tables.documents(sB, sfDir)
        .select(col("doc_id"), col("text"))
      val before = graft.llm.TextIndex.buildsThisProcess
      graft.llm.TextIndex.ensure(docs, dir)
      require(graft.llm.TextIndex.buildsThisProcess == before,
        "fresh session failed to fingerprint-validate the text store")
      val panel = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("text"))
      val store = graft.llm.TextIndex.searchBm25(panel, dir, topN = 3)
        .collect().map(_.toSeq).toSet
      val storeless = graft.llm.HybridRetrieval.bm25FromPostings(
          graft.llm.TextIndex.livePostings(sB, dir)
            .select("doc", "term", "tf"),
          panel.select("qid"), topN = 3)
        .collect().map(_.toSeq).toSet
      val agree = if (store == storeless && store.nonEmpty) 1.0 else 0.0
      (sB.read.parquet(s"$dir/postings").count(), agree)
    } finally {
      sB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Two cluster sessions CONTEND for one store's writer lease through
    * the [[graft.util.HardLinkConditionalPut]] reference primitive —
    * the stage-then-conditional-publish shape an object-store
    * deployment substitutes its S3/GCS/ABFS conditional write into.
    * Session A builds the store and leaves holding the lease (the
    * live-or-dead rival writer); session B's append must fail LOUD
    * naming the holder, and after the operator's documented
    * `break()` the same append succeeds. Returns (blockedLoud,
    * appendedAfterBreak). */
  def leaseContentionRoundTrip(sfDir: String): (Boolean, Boolean) = {
    import org.apache.spark.sql.functions._
    val old = graft.util.StoreLease.setPrimitive(
      graft.util.HardLinkConditionalPut)
    try {
      val sA = newClusterSession()
      val dir = try {
        val docs = Tables.documents(sA, sfDir)
          .select(col("doc_id"), col("text"))
        val dir = graft.util.Fixtures.store(sA, "cluster_lease_text", sfDir)
        graft.util.Fs.rmTree(sA, dir)
        graft.llm.TextIndex.build(docs.filter(col("doc_id") % 2 === 0), dir)
        // the rival: session A acquires through the conditional-put
        // primitive and "dies" holding it
        graft.util.StoreLease.acquire(sA, dir, "clusterA-rival-writer")
        dir
      } finally {
        sA.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val sB = newClusterSession()
      try {
        val batch = Tables.documents(sB, sfDir)
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 2 === 1)
        val n0 = sB.read.parquet(s"$dir/docids").count()
        val blocked = try {
          graft.llm.TextIndex.append(batch, dir); false
        } catch {
          case e: IllegalStateException =>
            e.getMessage.contains("clusterA-rival-writer")
        }
        val untouched = sB.read.parquet(s"$dir/docids").count() == n0
        graft.util.StoreLease.break(sB, dir)
        graft.llm.TextIndex.append(batch, dir)
        val appended = sB.read.parquet(s"$dir/docids").count() > n0
        (blocked && untouched, appended)
      } finally {
        sB.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally graft.util.StoreLease.setPrimitive(old): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val t0 = System.nanoTime()
    try {
      val spark = newClusterSession()
      val nExec = spark.sparkContext.getExecutorMemoryStatus.size - 1
      val n = pipelineCheck(spark, sfDir)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val (nStored, recall) = storedIndexRoundTrip(sfDir)
      require(recall >= 0.6, s"cross-session stored-index recall $recall")
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"PASS local-cluster[2,2,2048]: executors=$nExec " +
        f"m6_rows=$n index_codes=$nStored index_recall=$recall%.3f " +
        f"total=$secs%.1f s")
    } catch {
      case e: Throwable =>
        println(s"FAIL local-cluster smoke: ${e.getMessage}")
        SparkSession.getActiveSession.foreach(_.stop())
        sys.exit(1)
    }
  }
}
