package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Binary (1-bit) sign quantization ANN — the most compressed member
  * of the quantized-search family (int8 v7, PQ v11, IVF-PQ v12): each
  * 64-dim float vector packs to ONE 64-bit word (sign of each
  * component — charikar-hyperplane sketching with the coordinate axes
  * as planes), Hamming distance approximates the angle
  * (E[hamming]/bits = θ/π for random hyperplanes), and the compressed
  * EXHAUSTIVE scan is the contract, as in PQ: 8 bytes per corpus row
  * through `bit_count(a XOR b)` — a single codegen'd instruction pair
  * per candidate, 32× less memory traffic than the float scan. A
  * top-`shortlist` per query re-ranks by exact cosine (candidates
  * only). This is the shape production stores ship as "binary
  * quantization" (32× compression, rescore on the float source).
  */
object BinaryQuant {

  /** Pack sign bits of an Array[Float] column into a LongType column
    * (bit j = 1 iff v(j) > 0; dims beyond 64 fold by XOR so any dim
    * works, 64 exactly fills the word). */
  def signPack(v: Column): Column = {
    val packer = udf { (vs: Seq[Float]) =>
      val a = vs.toArray
      var bits = 0L
      var j = 0
      while (j < a.length) {
        if (a(j) > 0f) bits ^= (1L << (j % 64))
        j += 1
      }
      bits
    }
    packer(v)
  }

  /** Hamming shortlist + exact-cosine re-rank top-k. The Hamming scan
    * runs entirely on packed longs (`bit_count(q ^ n)` — whole-stage
    * codegen, no UDF in the scan); floats are touched only for the
    * ≤ shortlist re-rank rows per query. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 64): DataFrame = {
    val codes = corpus.select(col("vec_id").as("nid"),
      signPack(col("embedding")).as("nbits"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"), signPack(col("embedding")).as("qbits"))
    val short = q.crossJoin(codes)
      .filter(col("qid") =!= col("nid"))
      .withColumn("hamming", bit_count(col("qbits").bitwiseXOR(col("nbits"))))
      .withColumn("hrank", row_number().over(
        Window.partitionBy("qid").orderBy(col("hamming").asc, col("nid").asc)))
      .filter(col("hrank") <= shortlist)
      .select("qid", "qv", "nid")
    val rescored = short
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        "nid")
      .withColumn("sim",
        round(Similarity.cosine(col("qv"), col("nv")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** V22 — binary-quantization recall gate, v11-hardened: emitted rows
    * are the exact brute-force truth (v1's oracle); they emit only when
    * the 1-bit path reaches recall@1 ≥ 0.6 on the probe panel AND the
    * packed codes match an INDEPENDENT re-derivation: the sign-parity
    * fold recomputed as a codegen'd column expression
    * (transform-with-index + aggregate-XOR) must equal the UDF kernel's
    * long on every corpus row. A packing bug in either implementation —
    * wrong bit position, wrong sign test, wrong fold — fails the gate;
    * the previous count-parity check could not (counting a projection
    * of emb always equals emb.count()).
    */
  val binary = QueryDef(
    "v22_binary_quant_recall",
    { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .cache()
      val queries = Similarity.probePanel(emb)
      val exact = Similarity.bruteForceTop1(queries, emb)
        .localCheckpoint(eager = true)
      val recallOk =
        Similarity.recall(exact, binaryTopK(queries, emb, k = 1)) >= 0.6
      // !isnan guard: Catalyst orders NaN GREATER than any value, so a
      // bare `x > 0f` would set the bit for a NaN component while the
      // signPack UDF's JVM `> 0f` is false for NaN — the cross-check
      // must replay the kernel's IEEE semantics, not SQL's total order.
      val bitsExpr = aggregate(
        transform(col("embedding"), (x, i) =>
          when(!isnan(x) && x > lit(0f),
            call_function("shiftleft", lit(1L), pmod(i, lit(64))))
            .otherwise(lit(0L))),
        lit(0L), (acc, v) => acc.bitwiseXOR(v))
      val nPackMismatch =
        emb.filter(signPack(col("embedding")) =!= bitsExpr).count()
      emb.unpersist()
      exact.filter(lit(recallOk && nPackMismatch == 0L))
    },
    oracle = Some(Similarity.top1OracleSql()))

  def all: Seq[QueryDef] = Seq(binary)
}
