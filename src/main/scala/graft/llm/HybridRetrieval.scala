package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Hybrid retrieval: BM25 keyword search + vector similarity fused by
  * Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
  * the retrieval shape RAG/data-curation pipelines actually deploy
  * (sparse catches exact-term matches dense embeddings wash out, dense
  * catches paraphrase the term match misses; RRF fuses on RANKS so no
  * score calibration between the two systems is needed).
  *
  * Scale shape: the keyword side is a posting-list equi-join — query
  * terms ⋈ a (term, doc, tf) inverted index — linear in postings
  * touched, the standard IR plan; the vector side is any top-k path
  * (exact here for the oracle; swap ivfTopK/VectorIndex.search at
  * corpus scale — RRF only consumes ranks, so the fusion is oblivious
  * to which index produced them). Fusion itself is a union + groupBy
  * over 2·topN rows per query.
  *
  * Determinism contract (cross-engine, like every gated score here):
  * BM25 sums are rounded to 4dp BEFORE ranking (term-sum order differs
  * between engines at ~1e-13; 4dp makes near-ties exact ties, resolved
  * by doc id identically on both sides — the c17 lesson), cosine to
  * the standard 6dp, and RRF scores are rational functions of integer
  * ranks.
  */
object HybridRetrieval {

  val K1 = 1.2
  val B = 0.75
  val RrfK = 60

  /** (doc_id, term, tf) postings + (doc_id, dl) lengths from a text
    * frame, using the repo's cross-engine tokenization idiom
    * (split(lower(text), ' '), empty tokens dropped). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc", "term").agg(count(lit(1)).cast("double").as("tf"))

  /** BM25 top-`topN` per query, where each query is itself a document
    * of the corpus (more-like-this retrieval; self excluded). Returns
    * (qid, rank, doc, score4). */
  def bm25TopN(docs: DataFrame, queryIds: DataFrame, topN: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25FromPostings(postings(docs, idCol, textCol), queryIds, topN)

  /** BM25 over an ALREADY-BUILT (doc, term, tf) posting frame — the
    * store-backed search path (st15 searches a streamed-in posting
    * store with exactly this; [[bm25TopN]] is the build-and-search
    * convenience over it). Corpus stats (N, avgdl, df) derive from the
    * postings, so an incrementally-appended store needs no separate
    * stats maintenance. */
  def bm25FromPostings(post: DataFrame, queryIds: DataFrame,
      topN: Int): DataFrame = {
    val dl = post.groupBy("doc").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")).head()
    // empty corpus: no postings, no stats — empty result, never an NPE
    // off the null avgdl (the 100 TB empty-slice contract)
    if (stats.isNullAt(1)) {
      val s = post.sparkSession
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rank", "doc", "score4")
    }
    val (nDocs, avgdl) = (stats.getDouble(0), stats.getDouble(1))
    val df = post.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val qterms = post.join(queryIds.select(col("qid")),
        post("doc") === col("qid"))
      .select(col("qid"), col("term")).distinct()
    val w = Window.partitionBy("qid").orderBy(col("score4").desc,
      col("doc").asc)
    // no broadcast hint on df: AQE broadcasts the small-sf vocab on its
    // own, and at corpus scale a 100M-term dictionary must shuffle-join
    qterms.join(post, "term").filter(col("doc") =!= col("qid"))
      .join(df, "term")
      .join(dl, "doc")
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(avgdl))))
      .groupBy("qid", "doc").agg(sum(col("contrib")).as("score"))
      .withColumn("score4", round(col("score"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("qid"), col("rank"), col("doc"), col("score4"))
  }

  /** RRF-fuse any two (qid, rank, doc) lists: score = Σ 1/(k + rank)
    * over the lists a doc appears in; final top-`k` by (rounded score
    * desc, doc asc). */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val contrib = (r: Column) => lit(1.0) / (lit(RrfK.toDouble) + r)
    val both = a.select(col("qid"), col("doc"), contrib(col("rank")).as("c"))
      .unionByName(
        b.select(col("qid"), col("doc"), contrib(col("rank")).as("c")))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc").asc)
    both.groupBy("qid", "doc").agg(round(sum(col("c")), 6).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc"), col("rrf"))
  }

  /** V21 — hybrid retrieval with a FULL DuckDB oracle: for each probe-
    * panel document, BM25 top-10 over the documents table (its own
    * terms as the query) and exact-cosine top-10 over the aligned
    * embeddings table fuse by RRF into a final top-5. DuckDB replays
    * the entire pipeline — postings, idf, BM25 sum, both rankings, and
    * the fusion — so a drift anywhere (tokenization, idf formula, tie
    * order, fusion constant) hash-mismatches.
    */
  val hybrid = QueryDef(
    "v21_hybrid_rrf_retrieval",
    { (s, d) =>
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val panel = Similarity.probePanel(emb).select(col("vec_id").as("qid"))
      val kw = bm25TopN(docs, panel, topN = 10)
      val vec = Similarity.bruteForceTopK(Similarity.probePanel(emb), emb, 10)
        .select(col("qid"), col("rank"), col("nid").as("doc"))
      rrfFuse(kw, vec, k = 5)
    },
    oracle = Some(
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
         |           WHERE doc < ${Similarity.ProbePanelSize}),
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
         |  GROUP BY q.qid, p.doc),
         |kw AS (SELECT qid, doc,
         |              row_number() OVER (PARTITION BY qid
         |                ORDER BY score4 DESC, doc) AS rank
         |       FROM bm QUALIFY rank <= 10),
         |qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id < ${Similarity.ProbePanelSize}),
         |cs AS (SELECT qid, e.vec_id AS doc,
         |              round(list_cosine_similarity(qv,
         |                CAST(e.embedding AS DOUBLE[])), 6) AS sim
         |       FROM qv, embeddings e WHERE e.vec_id != qid),
         |vec AS (SELECT qid, doc,
         |               row_number() OVER (PARTITION BY qid
         |                 ORDER BY sim DESC, doc) AS rank
         |        FROM cs QUALIFY rank <= 10),
         |fused AS (
         |  SELECT qid, doc, round(sum(1.0 / ($RrfK + rank)), 6) AS rrf
         |  FROM (SELECT qid, doc, rank FROM kw
         |        UNION ALL SELECT qid, doc, rank FROM vec)
         |  GROUP BY qid, doc)
         |SELECT qid, CAST(row_number() OVER (PARTITION BY qid
         |         ORDER BY rrf DESC, doc) AS INT) AS rank, doc, rrf
         |FROM fused QUALIFY rank <= 5""".stripMargin))

  def all: Seq[QueryDef] = Seq(hybrid)
}
