package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

class GraphAnnSpec extends SparkSpec {

  private def noiseF(seed: Int): Float = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, 0x9e3779b9))
    (h.toDouble / Int.MaxValue).toFloat
  }

  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val anchor = i % 8
      val v = Array.tabulate(64) { j =>
        (if (j % 8 == anchor) 2.0f else 0.0f) + noiseF(i * 64 + j)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private val base = graft.util.Fixtures.dir + "/spec_graph_ann"

  test("neighbor graph has bounded degree, no self-loops, full coverage") {
    val c = corpus(300).cache()
    val g = GraphAnn.buildNeighborGraph(c, m = 8).cache()
    // degree cap: symmetrization alone leaves hubs unbounded (measured
    // 21 at m=8 on this fixture); the 2m cap must hold exactly
    val maxDeg = g.groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 16, s"degree $maxDeg exceeds 2m")
    assert(g.filter(col("src") === col("dst")).count() == 0)
    // every node keeps at least its own m strongest out-edges' worth of
    // connectivity (the cap trims hubs, never isolates a node)
    assert(g.select("src").distinct().count() == 300)
    g.unpersist(); c.unpersist()
  }

  test("beam search over the stored graph recovers exact top-1 on clustered data") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val q = c.filter(col("vec_id") < 10)
    val g = GraphAnn.ensure(c, s"$base/a")
    val exact = Similarity.bruteForceTop1(q, c).select(col("qid"), col("nid"))
    val approx = GraphAnn.beamSearch(q, g, c, k = 1)
      .select(col("qid"), col("nid").as("na"))
    val nQ = exact.count().toDouble
    val hits = exact.join(approx, Seq("qid"))
      .filter(col("nid") === col("na")).count()
    assert(nQ == 10)
    // clustered fixture: the graph path should be essentially exact
    assert(hits / nQ >= 0.9, s"recall ${hits / nQ}")
    c.unpersist()
  }

  test("beam candidate dedup rides the ranking window: output equals a " +
      "distinct-based reference walk and holds no (qid, nid) duplicates") {
    // multi-path fixture: duplicates are GUARANTEED — every expansion of
    // a dense 8-anchor graph reaches the same neighbor via several beam
    // nodes, so the per-round lag-dedup (which replaced the pre-score
    // distinct()) is exercised on every round
    val c = corpus(240).cache()
    val g = GraphAnn.buildNeighborGraph(c, m = 8).localCheckpoint(true)
    val queries = c.filter(col("vec_id") < 12)
    val res = GraphAnn.beamSearch(queries, g, c, k = 5, beam = 8,
      rounds = 3, entries = 4).cache()
    // no duplicate (qid, nid) survives ranking
    assert(res.groupBy("qid", "nid").count()
      .filter(col("count") > 1).count() == 0)
    // reference walk: the SAME round structure with an explicit
    // distinct() + window pair per round (the pre-r18 shape)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val emb = c.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val edges = g.select("src", "dst")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    def score(cands: DataFrame): DataFrame = cands
      .join(emb, "nid").join(q, "qid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("nv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 8)
      .select(col("qid"), col("nid"), col("sim"))
    val entryIds = c.filter(col("vec_id") >= Similarity.ProbePanelSize)
      .orderBy(col("vec_id")).limit(4)
      .select("vec_id").collect().map(_.getLong(0))
    var ref = score(q.select(col("qid"),
      explode(typedLit(entryIds.toSeq)).as("nid")))
      .localCheckpoint(true)
    (0 until 3).foreach { _ =>
      ref = score(ref.select(col("qid"), col("nid").as("src"))
        .join(edges, "src").select(col("qid"), col("dst").as("nid"))
        .unionByName(ref.select("qid", "nid"))
        .distinct()).localCheckpoint(true)
    }
    val refTop = ref.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
    assert(res.exceptAll(refTop).count() == 0 &&
      refTop.exceptAll(res).count() == 0,
      "window-riding dedup diverged from the distinct-based reference")
    res.unpersist(); c.unpersist()
  }

  test("ensure builds once, reloads after, and rebuilds on corpus change") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    val before = GraphAnn.buildsThisProcess
    GraphAnn.ensure(c, s"$base/b")
    assert(GraphAnn.buildsThisProcess == before + 1)
    val g2 = GraphAnn.ensure(c, s"$base/b")
    assert(GraphAnn.buildsThisProcess == before + 1)
    assert(g2.count() > 0)
    GraphAnn.ensure(corpus(301), s"$base/b")
    assert(GraphAnn.buildsThisProcess == before + 2)
    c.unpersist()
  }

  test("delete hides a node from BOTH edge endpoints; membership enforced") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/d"
    val c = corpus(300).cache()
    GraphAnn.ensure(c, dir)
    val deleted = c.filter(col("vec_id") % 7 === 0)
    GraphAnn.delete(deleted, dir)
    val edges = GraphAnn.load(spark, dir)
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val remaining = edges.select("src", "dst").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(remaining.intersect(delIds).isEmpty,
      "tombstoned nodes must vanish as src AND dst")
    // membership contract: double delete and never-indexed ids raise
    val e1 = intercept[IllegalArgumentException] {
      GraphAnn.delete(deleted, dir)
    }
    assert(e1.getMessage.contains("already tombstoned"))
    val e2 = intercept[IllegalArgumentException] {
      GraphAnn.delete(corpus(310).filter(col("vec_id") >= 300), dir)
    }
    assert(e2.getMessage.contains("not indexed"))
    c.unpersist()
  }

  test("compact repairs severed 2-hop paths and fingerprint stays incremental") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/e"
    val c = corpus(300).cache()
    GraphAnn.ensure(c, dir)
    val deleted = c.filter(col("vec_id") % 7 === 0)
    val live = c.filter(col("vec_id") % 7 =!= 0).cache()
    GraphAnn.delete(deleted, dir)
    val tombIds = deleted.select(col("vec_id"))
    val affected = spark.read.parquet(s"$dir/edges")
      .join(tombIds.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
      .join(tombIds.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .select("src").distinct().localCheckpoint(true)
    val survivingDeg = GraphAnn.load(spark, dir)
      .join(affected, Seq("src"), "left_semi").count()
    GraphAnn.compact(live, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val edgesC = spark.read.parquet(s"$dir/edges")
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val endpoints = edgesC.select("src", "dst").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(endpoints.intersect(delIds).isEmpty)
    // repair: affected nodes regain degree via bridges (never lose any)
    val repairedDeg = edgesC.join(affected, Seq("src"), "left_semi").count()
    assert(repairedDeg > survivingDeg,
      s"expected bridge edges: $repairedDeg vs $survivingDeg")
    // degree cap still holds after repair
    val maxDeg = edgesC.groupBy("src").count().agg(max("count"))
      .head().getLong(0)
    assert(maxDeg <= 32, s"degree $maxDeg exceeds 2m")
    // fingerprint maintained incrementally: no rebuild over live corpus
    val builds = GraphAnn.buildsThisProcess
    GraphAnn.ensure(live, dir)
    assert(GraphAnn.buildsThisProcess == builds)
    assert(spark.read.parquet(s"$dir/nodes").count() == live.count())
    c.unpersist(); live.unpersist()
  }

  test("append inserts a batch without rebuild; new nodes reachable both ways") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/g"
    val all = corpus(300).cache()
    val old = all.filter(col("vec_id") < 270).cache()
    val batch = all.filter(col("vec_id") >= 270)
    GraphAnn.ensure(old, dir)
    val builds = GraphAnn.buildsThisProcess
    GraphAnn.append(batch, old, dir)
    // fingerprint maintained incrementally: full corpus validates
    val edges = GraphAnn.ensure(all, dir)
    assert(GraphAnn.buildsThisProcess == builds, "append forced a rebuild")
    // every batch node has out-edges AND back-edges into it
    val batchIds = (270L until 300L).toSet
    val srcs = edges.select("src").distinct().collect()
      .map(_.getLong(0)).toSet
    val dsts = edges.select("dst").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(srcs), "batch nodes missing out-edges")
    assert(batchIds.subsetOf(dsts), "batch nodes missing back-edges")
    // degree cap survives the insert
    val maxDeg = edges.groupBy("src").count().agg(max("count"))
      .head().getLong(0)
    assert(maxDeg <= 32, s"degree $maxDeg exceeds 2m")
    // search over the appended graph still recovers exact top-1 on the
    // clustered fixture, INCLUDING when the true neighbor is new
    val q = all.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTop1(q, all)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = GraphAnn.beamSearch(q, edges, all, k = 1)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"post-append recall $recall")
    // membership: re-appending the same batch fails loud
    val e = intercept[IllegalArgumentException] {
      GraphAnn.append(batch, old, dir)
    }
    assert(e.getMessage.contains("already indexed"))
    // pending tombstones block append (compact first)
    GraphAnn.delete(all.filter(col("vec_id") < 5), dir)
    val e2 = intercept[IllegalArgumentException] {
      GraphAnn.append(corpus(310).filter(col("vec_id") >= 300), all, dir)
    }
    assert(e2.getMessage.contains("tombstones"))
    all.unpersist(); old.unpersist()
  }

  test("compact recovers a crash between table removal and rename") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/f"
    val c = corpus(300).cache()
    GraphAnn.ensure(c, dir)
    val deleted = c.filter(col("vec_id") % 7 === 0)
    val live = c.filter(col("vec_id") % 7 =!= 0)
    GraphAnn.delete(deleted, dir)
    // fabricate the worst window: staged edges written, live edges dir
    // already removed, rename never ran, tombstones still present
    GraphAnn.load(spark, dir).localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$dir/edges_staging")
    graft.util.Fs.rmTree(spark, s"$dir/edges")
    GraphAnn.compact(live, dir)
    val edgesC = spark.read.parquet(s"$dir/edges")
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val endpoints = edgesC.select("src", "dst").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(endpoints.intersect(delIds).isEmpty)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val builds = GraphAnn.buildsThisProcess
    GraphAnn.ensure(live, dir)
    assert(GraphAnn.buildsThisProcess == builds)
    c.unpersist()
  }

  // hub batches: near-identical vectors (one anchor + tiny noise) —
  // the hot-cell append shape from the store-skew campaign
  private def hub(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val v = Array.tabulate(64) { j =>
        (if (j % 8 == 0) 2.0f else 0.0f) + noiseF(i * 64 + j) * 0.02f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  /** Run `body` with the append/compact auto-repair trigger disabled,
    * restoring the previous setting — the manual-repair tests need an
    * UNMAINTAINED saturated store to exercise. */
  private def withAutoRepair[T](enabled: Boolean)(body: => T): T = {
    val prev = sys.props.get("graft.graph.autoRepair")
    sys.props("graft.graph.autoRepair") = enabled.toString
    try body finally prev match {
      case Some(v) => sys.props("graft.graph.autoRepair") = v
      case None => sys.props.remove("graft.graph.autoRepair"): Unit
    }
  }

  test("repairDensity diversifies saturated hub nodes: degrees drop, " +
      "recall holds, untouched nodes byte-identical, meta untouched") {
    withAutoRepair(false) {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/density"
    val c = corpus(300).cache()
    GraphAnn.ensure(c, dir): Unit
    var live = c
    (0 until 4).foreach { b =>
      val batch = hub((1000 + b * 50) until (1000 + (b + 1) * 50))
      GraphAnn.append(batch, live, dir)
      live = live.unionByName(batch).localCheckpoint(true)
    }
    // localCheckpoint, NOT cache(): the cache manager substitutes a
    // cached relation into any plan-identical later query, so a cached
    // `before` would make the post-repair load() return the PRE-repair
    // rows (same parquet path = same analyzed plan)
    val before = GraphAnn.load(spark, dir).localCheckpoint(true)
    val m = 16
    val satBefore = before.groupBy("src").count()
      .filter(col("count") >= 2 * m).count()
    assert(satBefore > 0, "fixture vacuous — no node saturated its cap")
    val q = live.filter(col("vec_id") < 10)
    def recallOf(g: DataFrame): Double = {
      val exact = Similarity.bruteForceTop1(q, live)
        .select(col("qid"), col("nid"))
      val approx = GraphAnn.beamSearch(q, g, live, k = 1)
        .select(col("qid"), col("nid").as("na"))
      exact.join(approx, Seq("qid"))
        .filter(col("nid") === col("na")).count().toDouble / 10.0
    }
    val recallBefore = recallOf(before)
    val metaBefore = spark.read.parquet(s"$dir/meta").head().toSeq
    val nRepaired = GraphAnn.repairDensity(live, dir)
    assert(nRepaired == satBefore,
      s"repaired $nRepaired of $satBefore saturated nodes")
    val after = GraphAnn.load(spark, dir).localCheckpoint(true)
    // diversification SHRANK the saturated nodes' lists (a dense hub
    // keeps representatives + long-range edges, not 2M clones), never
    // below the m floor, no self-loops
    val satSrc = before.groupBy("src").count()
      .filter(col("count") >= 2 * m).select("src")
    val degAfter = after.join(satSrc, Seq("src"), "left_semi")
      .groupBy("src").count()
    // a saturated node with 32 genuinely direction-distinct neighbors
    // legitimately keeps them all, so the evidence is AGGREGATE: the
    // saturated set's edge mass shrinks materially, the cap holds, and
    // the m floor holds
    val edgesBefore = before.join(satSrc, Seq("src"), "left_semi").count()
    val edgesAfter = after.join(satSrc, Seq("src"), "left_semi").count()
    assert(edgesAfter <= (edgesBefore * 0.9).toLong,
      s"saturated edge mass barely moved: $edgesBefore -> $edgesAfter")
    assert(degAfter.agg(max("count")).head().getLong(0) <= 2 * m,
      "degree cap violated after repair")
    assert(degAfter.agg(min("count")).head().getLong(0) >= m,
      "a repaired node fell below the m floor")
    assert(after.filter(col("src") === col("dst")).count() == 0)
    // untouched nodes' lists pass through identical
    val beforeU = before.join(satSrc, Seq("src"), "left_anti")
    val afterU = after.join(satSrc, Seq("src"), "left_anti")
    assert(beforeU.exceptAll(afterU).count() == 0 &&
      afterU.exceptAll(beforeU).count() == 0,
      "repairDensity touched a non-saturated node")
    // navigability preserved (the occlusion rule's whole point)
    val recallAfter = recallOf(after)
    assert(recallAfter >= math.min(recallBefore, 0.9),
      s"recall $recallBefore -> $recallAfter after repair")
    // edges are derived data: meta untouched, ensure stays a pure load
    assert(spark.read.parquet(s"$dir/meta").head().toSeq == metaBefore)
    val b0 = GraphAnn.buildsThisProcess
    GraphAnn.ensure(live, dir): Unit
    assert(GraphAnn.buildsThisProcess == b0,
      "repairDensity drifted the fingerprint")
    // converged: a second pass is a fixed point (a node that kept 2m
    // genuinely diverse edges is re-selected identically)
    GraphAnn.repairDensity(live, dir): Unit
    val after2 = GraphAnn.load(spark, dir)
    assert(after2.exceptAll(after).count() == 0 &&
      after.exceptAll(after2).count() == 0,
      "second repairDensity pass changed the graph")
    c.unpersist()
    }
  }

  test("append maintains the saturation odometer and auto-triggers the " +
      "density repair; a spread history with the trigger off keeps more " +
      "edges") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val c = corpus(300).cache()
    // identical hub-append history into two stores: trigger OFF (the
    // unmaintained baseline) vs trigger ON at default thresholds
    def history(dir: String): DataFrame = {
      GraphAnn.ensure(c, dir): Unit
      var live: DataFrame = c
      (0 until 4).foreach { b =>
        val batch = hub((1000 + b * 50) until (1000 + (b + 1) * 50))
        GraphAnn.append(batch, live, dir)
        live = live.unionByName(batch).localCheckpoint(true)
      }
      live
    }
    val offDir = s"$base/auto_off"
    val onDir = s"$base/auto_on"
    val repairs0 = GraphAnn.repairsThisProcess
    withAutoRepair(false)(history(offDir)): Unit
    assert(GraphAnn.repairsThisProcess == repairs0,
      "auto-repair fired with the trigger disabled")
    // the odometer exists and armed on the unmaintained store
    val (offTotal, offAppended) = GraphAnn.readSatStats(spark, offDir)
    assert(offTotal > 0 && offAppended > 0,
      s"odometer never armed: total=$offTotal appended=$offAppended")
    val live = history(onDir)
    assert(GraphAnn.repairsThisProcess > repairs0,
      "hub-concentrated appends never auto-triggered the density repair")
    // the maintained store carries materially less edge mass than the
    // unmaintained one on the identical history
    val offEdges = GraphAnn.load(spark, offDir).count()
    val onEdges = GraphAnn.load(spark, onDir).count()
    assert(onEdges < offEdges,
      s"auto-repair kept edge mass at the unmaintained level: " +
        s"on=$onEdges off=$offEdges")
    // the odometer reset after the repair (saturated-but-diverse nodes
    // do not re-arm it)
    val (_, onAppended) = GraphAnn.readSatStats(spark, onDir)
    assert(onAppended < offAppended,
      s"odometer never reset: on=$onAppended off=$offAppended")
    // the maintained store still navigates: recall against the live
    // brute force holds the v20 bar
    val q = live.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTop1(q, live)
      .select(col("qid"), col("nid"))
    val approx = GraphAnn.beamSearch(q, GraphAnn.load(spark, onDir), live,
        k = 1)
      .select(col("qid"), col("nid").as("na"))
    val hits = exact.join(approx, Seq("qid"))
      .filter(col("nid") === col("na")).count()
    assert(hits >= 6, s"recall ${hits / 10.0} after auto-repair")
    // the repair stayed maintenance-only: ensure() over the live corpus
    // is a pure load (fingerprint untouched)
    val b0 = GraphAnn.buildsThisProcess
    GraphAnn.ensure(live, onDir): Unit
    assert(GraphAnn.buildsThisProcess == b0,
      "auto-repair drifted the fingerprint")
    c.unpersist()
  }

  test("a repairing compact: an odometer armed by un-repaired appends " +
      "fires the density repair from compact's maintenance path") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/compact_repair"
    val c = corpus(300).cache()
    // arm the odometer with the trigger OFF (an ingest loop running a
    // build predating the trigger, or with it disabled)
    var live: DataFrame = withAutoRepair(false) {
      GraphAnn.ensure(c, dir): Unit
      var l: DataFrame = c
      (0 until 4).foreach { b =>
        val batch = hub((1000 + b * 50) until (1000 + (b + 1) * 50))
        GraphAnn.append(batch, l, dir)
        l = l.unionByName(batch).localCheckpoint(true)
      }
      l
    }
    val (_, armed) = GraphAnn.readSatStats(spark, dir)
    assert(armed > 0, "fixture vacuous — odometer never armed")
    val edgesBefore = GraphAnn.load(spark, dir).count()
    // delete a few nodes so compact has tombstones to fold, then let
    // its maintenance tail fire the repair (trigger back at defaults)
    val deleted = live.filter(col("vec_id") % 29 === 0)
    live = live.join(deleted.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    GraphAnn.delete(deleted, dir)
    val repairs0 = GraphAnn.repairsThisProcess
    GraphAnn.compact(live, dir)
    assert(GraphAnn.repairsThisProcess > repairs0,
      "compact never fired the due density repair")
    val (_, afterApp) = GraphAnn.readSatStats(spark, dir)
    assert(afterApp == 0, s"odometer not reset by the repair: $afterApp")
    assert(GraphAnn.load(spark, dir).count() < edgesBefore,
      "repairing compact left the saturated edge mass in place")
    // store stays consistent: ensure() over the live corpus is a pure
    // load after delete + compact + repair
    val b0 = GraphAnn.buildsThisProcess
    GraphAnn.ensure(live, dir): Unit
    assert(GraphAnn.buildsThisProcess == b0,
      "repairing compact drifted the fingerprint")
    c.unpersist()
  }

  test("delete rejects a pre-format-3 store with the actionable message") {
    import spark.implicits._
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/g"
    val c = corpus(100).cache()
    GraphAnn.ensure(c, dir)
    // fabricate a legacy (format 2) meta: no nodes table contract
    val meta = spark.read.parquet(s"$dir/meta").head()
    Seq((meta.getAs[Long]("n_vectors"), meta.getAs[Long]("checksum"),
        meta.getAs[Int]("m"), meta.getAs[Int]("init_cell_size"),
        meta.getAs[Int]("descent_rounds"), 2))
      .toDF("n_vectors", "checksum", "m", "init_cell_size",
        "descent_rounds", "format_version")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] {
      GraphAnn.delete(c.filter(col("vec_id") < 5), dir)
    }
    assert(e.getMessage.contains("rebuild via ensure()"),
      s"expected the actionable format message, got: ${e.getMessage}")
    c.unpersist()
  }

  test("a store of an older format fails every op naming ensure(), and " +
      "ensure() rebuilds it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/format3"
    val c = corpus(120).cache()
    GraphAnn.ensure(c, dir)
    // the format-3 meta: the same fields under the older version
    val row = graft.util.Sidecar.readHead(spark, s"$dir/meta")
    val old = graft.store.Meta("graph store", 3,
      "n_vectors" -> LongType, "checksum" -> LongType, "m" -> IntegerType,
      "init_cell_size" -> IntegerType, "descent_rounds" -> IntegerType)
    old.write(spark, dir, old.fields.map { case (f, _) => row.getAs[Any](f) }: _*)
    def refused(op: => Any): Unit = {
      val e = intercept[IllegalArgumentException] { op }
      assert(e.getMessage.contains("has format 3, expected 4") &&
        e.getMessage.contains("ensure()"), e.getMessage)
    }
    val batch = corpus(130).filter(col("vec_id") >= 120)
    refused(GraphAnn.append(batch, c, dir))
    refused(GraphAnn.delete(c.filter(col("vec_id") < 5), dir))
    refused(GraphAnn.compact(c, dir))
    refused(GraphAnn.compactFiles(spark, dir))
    refused(GraphAnn.repairDensity(c, dir))
    refused(GraphAnn.load(spark, dir))
    val b0 = GraphAnn.buildsThisProcess
    val rebuilt = GraphAnn.ensure(c, dir)
    assert(GraphAnn.buildsThisProcess == b0 + 1,
      "ensure did not rebuild the older-format store")
    // the rebuilt store searches like a freshly built one
    val fresh = GraphAnn.ensure(c, s"$base/format4")
    def top1(g: DataFrame): Set[(Long, Long)] =
      GraphAnn.beamSearch(c.filter(col("vec_id") < 10), g, c, k = 1)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    val hits = top1(rebuilt)
    assert(hits.size == 10 && hits == top1(fresh))
    c.unpersist()
  }

  test("delete audits ids after the long cast: \"7\" and \"007\" are " +
      "one id, so the set fails as a duplicate") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/cast"
    val c = corpus(120).cache()
    GraphAnn.ensure(c, dir)
    val row = c.filter(col("vec_id") === 7L)
    val e = intercept[IllegalArgumentException] {
      GraphAnn.delete(row.select(col("vec_id").cast("string").as("vec_id"),
          col("embedding"))
        .unionByName(row.select(lit("007").as("vec_id"), col("embedding"))),
        dir)
    }
    assert(e.getMessage.contains("duplicate"))
    val builds = GraphAnn.buildsThisProcess
    GraphAnn.ensure(c, dir)
    assert(GraphAnn.buildsThisProcess == builds)
    c.unpersist()
  }

  test("a crashed-op marker blocks delete/append/compact/compactFiles/" +
      "repairDensity/load, and ensure() rebuilds through it") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/marker"
    val c = corpus(120).cache()
    GraphAnn.ensure(c, dir)
    // fabricate the crash state: an op died inside its commit window
    graft.util.IngestMarker.write(spark, dir, "spec-fabricated crash")
    val batch = corpus(130).filter(col("vec_id") >= 120)
    intercept[IllegalArgumentException] {
      GraphAnn.delete(c.filter(col("vec_id") < 5), dir)
    }
    intercept[IllegalArgumentException] { GraphAnn.append(batch, c, dir) }
    intercept[IllegalArgumentException] { GraphAnn.compact(c, dir) }
    intercept[IllegalArgumentException] { GraphAnn.compactFiles(spark, dir) }
    intercept[IllegalArgumentException] { GraphAnn.repairDensity(c, dir) }
    intercept[IllegalArgumentException] { GraphAnn.load(spark, dir) }
    // ensure() is the documented recovery — even over the corpus the
    // meta still describes: marker ⇒ rebuild, marker cleared
    val b0 = GraphAnn.buildsThisProcess
    val edges = GraphAnn.ensure(c, dir)
    assert(GraphAnn.buildsThisProcess == b0 + 1,
      "ensure did not rebuild through the crash marker")
    assert(!graft.util.IngestMarker.present(spark, dir),
      "rebuild left the marker in place")
    assert(edges.select("src").distinct().count() == 120)
    c.unpersist()
  }

  test("a store without satstats/ is rebuilt by ensure()") {
    graft.util.Fs.rmRecursive(new java.io.File(base))
    val dir = s"$base/nosat"
    val c = corpus(120).cache()
    GraphAnn.ensure(c, dir)
    // compact rewrites satstats/ after its edge swap; a crash inside
    // that overwrite leaves the table missing
    GraphAnn.delete(c.filter(col("vec_id") < 5), dir)
    val live = c.filter(col("vec_id") >= 5)
    GraphAnn.compact(live, dir)
    graft.util.Fs.rmTree(spark, s"$dir/satstats")
    val b0 = GraphAnn.buildsThisProcess
    val rebuilt = GraphAnn.ensure(live, dir)
    assert(GraphAnn.buildsThisProcess == b0 + 1,
      "ensure accepted a store without satstats/")
    assert(rebuilt.select("src").distinct().count() == 115)
    // the rebuilt store appends (append reads satstats/) and validates
    val batch = corpus(130).filter(col("vec_id") >= 120)
    GraphAnn.append(batch, live, dir)
    GraphAnn.ensure(live.unionByName(batch), dir)
    assert(GraphAnn.buildsThisProcess == b0 + 1)
    c.unpersist()
  }
}
