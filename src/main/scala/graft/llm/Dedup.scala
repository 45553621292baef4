package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact (content-hash
  * groupBy), MinHash+LSH banded near-dup (shingle → signature → band →
  * bucket join → exact-Jaccard verify), SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale design — the non-negotiables at 100 TB:
  *   - NEVER all-pairs: candidates come only from LSH band-bucket
  *     equality joins (a shuffle on band hash, linear in data + bucket
  *     collisions), then the exact-Jaccard verify runs on candidates
  *     only.
  *   - signatures/shingles are per-row array expressions (codegen, no
  *     UDF, no shuffle until the band explode).
  *   - exact dedup is one hash aggregate on md5(text) — the canonical
  *     map-side-combinable groupBy.
  */
object Dedup {

  /** Distinct token-3-gram shingles per document (as strings for exact
    * verification, hashed on demand for signatures). */
  def shingles(textCol: Column): Column = {
    val toks = split(textCol, " ")
    when(size(toks) < 3, array(textCol)).otherwise(
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3))))))
  }

  /** MinHash signature: nHashes independent min-hashes. The shingle
    * STRINGS are hashed once (`xxhash64(s)`), then each h_i re-mixes
    * the resulting long (`xxhash64(h, i)`) — hashing a fixed 8-byte
    * value nHashes times instead of re-hashing variable-length strings,
    * ~an order of magnitude off the signature cost. One array
    * expression, no shuffle.
    */
  def minhashSignature(shinglesCol: Column, nHashes: Int): Column = {
    val hashed = transform(shinglesCol, s => xxhash64(s))
    transform(sequence(lit(0), lit(nHashes - 1)),
      i => aggregate(hashed, lit(Long.MaxValue),
        (acc, h) => least(acc, xxhash64(h, i))))
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * nHashes), hash each band, self-join on (band index, band hash).
    * Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    *
    * Hot-bucket bound: a bucket of size m emits m(m−1)/2 pairs, so ONE
    * pathological bucket (boilerplate-heavy corpus — crawl headers,
    * license blocks) would go quadratic. Buckets larger than
    * `maxBucketSize` instead emit a sorted id-CHAIN (m−1 consecutive
    * pairs): linear work. Recall past the cap is BEST-EFFORT: a bucket
    * is a single-band collision, so id-adjacent chain links need not be
    * true near-dups — a link that fails exact-Jaccard verification can
    * split the bucket's duplicate group, and a pair lost that way is
    * recovered only if another band (or another chain link path)
    * surfaces it. That is the price of bounded work on a pathological
    * bucket; the uncapped path (bsz ≤ maxBucketSize) remains exact.
    * The bucket-size count and the chain lag() share the self-join's
    * (band, band_hash) hash partitioning, so the cap adds no shuffle
    * (the exchange is computed once and reused for both join sides).
    */
  def lshCandidates(docs: DataFrame, idCol: String, nHashes: Int,
      bands: Int, maxBucketSize: Int = 2000): DataFrame = {
    require(bands >= 1 && bands <= nHashes && nHashes % bands == 0,
      s"bands must divide nHashes: bands=$bands, nHashes=$nHashes " +
        "(bands > nHashes would make every band hash identical — all-pairs)")
    val rowsPerBand = nHashes / bands
    val banded = docs.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
          .as(Seq("band", "band_hash")))
    bucketCandidates(banded, idCol, maxBucketSize)
  }

  /** Candidate pairs from any (idCol, band, band_hash) bucket frame —
    * the capped self-join shared by the MinHash-LSH and SimHash band
    * paths (the hot-bucket chain mechanics are documented on
    * [[lshCandidates]]). */
  private def bucketCandidates(banded: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2: $maxBucketSize")
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val sized = banded.withColumn("bsz", count(lit(1)).over(bucket))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val allPairs = small.alias("a")
      .join(small.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    val chained = sized.filter(col("bsz") > maxBucketSize)
      .withColumn("prev", lag(col(idCol), 1).over(bucket.orderBy(col(idCol))))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col(idCol).as("doc_b"))
    allPairs.unionByName(chained).distinct()
  }

  /** Exact Jaccard verification of candidate pairs on the true shingle
    * sets (the n-gram-Jaccard operator; also the LSH verify stage). */
  def verifyJaccard(candidates: DataFrame, docsWithShingles: DataFrame,
      idCol: String): DataFrame = {
    val sh = docsWithShingles.select(col(idCol), col("sh"))
    candidates
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("n_inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Distinct character n-grams (sliding window of n chars); texts
    * shorter than n collapse to a single whole-text gram. */
  def charNgrams(textCol: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(textCol) - (n - 1), lit(1))),
      i => textCol.substr(i, lit(n))))

  /** EXACT n-gram Jaccard near-dup pairs ≥ `threshold` — the
    * deterministic companion to the probabilistic MinHash path, never
    * all-pairs. AllPairs/PPJoin-style prefix filtering (Bayardo et
    * al., WWW'07; Xiao et al., WWW'08 — public algorithms): order
    * grams globally by document frequency (rarest first); if
    * J(A,B) ≥ t then |A∩B| ≥ ceil(t·|A|), so the first
    * |A| − ceil(t·|A|) + 1 grams of A must hit B — docs sharing NO
    * prefix gram cannot reach the threshold, and candidate generation
    * joins only on prefix grams (the rarest of each doc, so buckets
    * are small by construction). A size filter (J ≤ min/max set size)
    * prunes further. Exact Jaccard then runs on candidates only, over
    * hashed gram sets (64-bit collisions within one pair: ~2⁻⁶⁴).
    *
    * Gram family is pluggable via the (id, sh: array<long>) hashed-gram
    * frame: [[shingleHashes]] (token 3-grams, byte-slice kernel — the
    * default) or [[charNgrams]] hashed through `xxhash64`. NOTE prefix
    * filtering needs a DIVERSE gram space — on a corpus whose
    * char-5-gram vocabulary is tiny (the synthetic test corpus has
    * ~2k distinct char-5-grams over 1M occurrences) even the rarest
    * grams are ubiquitous and candidates blow up; token shingles keep
    * the space sparse (63 s vs ~3 s at sf0.1 for identical output).
    *
    * At 100 TB: gram explode + two hash aggregates + a prefix-indexed
    * equi-join — every stage linear in data, shuffle keyed on gram /
    * doc id, no driver state. The window rank is per-doc (bounded
    * partitions). Completeness vs brute force is pinned by the d5
    * DuckDB oracle (which IS the all-pairs computation) and
    * TextDedupSpec.
    */
  def ngramJaccardDedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    ngramJaccardOnGrams(shingleHashes(docs, idCol, textCol), idCol, threshold)

  /** [[ngramJaccardDedup]] over any hashed-gram frame (id, sh). */
  def ngramJaccardOnGrams(grams: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one shingling pass feeds everything downstream; gram rows are
    // (long, long) — a small multiple of the corpus row count and far
    // smaller than the corpus text (same bound as minhashDedup's
    // candidate materialization)
    val base = grams.localCheckpoint(eager = true)
    val g = base.select(col(idCol), explode(col("sh")).as("gram"))
    val sz = base.select(col(idCol), size(col("sh")).as("set_sz"))
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    // FLOAT-BOUNDARY CARE in both prune bounds: 0.8d > 4/5 exactly, so
    // at set sizes where t·|A| is an exact integer the unadjusted
    // ceil(t·|A|) lands one too HIGH (shorter prefix than the AllPairs
    // bound → a provable miss), and t·|B| can exceed an exactly-t-ratio
    // sibling size (size filter drops a true boundary pair). The 1e-9
    // slack errs toward a superset — extra candidates are verified
    // exactly downstream, missed ones are gone forever.
    val ranked = g.join(dfreq, "gram")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("gram"))))
      .join(sz, Seq(idCol))
      .filter(col("rk") <=
        col("set_sz") - ceil(lit(threshold) * col("set_sz") - 1e-9) + 1)
      .select(col(idCol), col("gram"), col("set_sz"))
    // candidate pairs are ids-only and tiny; materialize once for the
    // verify join (same pattern as minhashDedup)
    val cands = ranked.alias("x").join(ranked.alias("y"),
        col("x.gram") === col("y.gram") &&
          col(s"x.$idCol") < col(s"y.$idCol") &&
          col("x.set_sz") >= lit(threshold) * col("y.set_sz") - 1e-9 &&
          col("y.set_sz") >= lit(threshold) * col("x.set_sz") - 1e-9)
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      .distinct()
      .localCheckpoint(eager = true)
    val candIds = cands.select(col("doc_a").as(idCol))
      .unionByName(cands.select(col("doc_b").as(idCol))).distinct()
    val sets = base.join(candIds, Seq(idCol), "left_semi")
    verifyJaccard(cands, sets, idCol).filter(col("jaccard") >= threshold)
  }

  /** Distinct hashed token-3-gram shingles per doc as a byte-slice
    * kernel pass: one scan, no expression-side shingle strings. Hashes
    * are `xxhash64(shingle_string)`-identical (same slice identity as
    * [[minhashSignatures]]; asserted against the expression form in
    * TextDedupSpec). Output sorted ascending per doc — set semantics
    * only (explode / array_intersect are order-free).
    */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.util.Ids.requireLongCompatible(docs, idCol, "shingleHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val shingle = new Shingler
        it.map { case (id, bytes) => (id, shingle(bytes)) }
      }.toDF(idCol, "sh")
  }

  /** The [[shingleHashes]] kernel: a doc's UTF-8 bytes to its distinct
    * hashed token 3-grams, sorted. Reuses its buffers across calls, so
    * one instance serves a whole partition. */
  private[llm] final class Shingler {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    private var starts = new Array[Int](256)
    private var buf = new Array[Long](256)

    def apply(bytes: Array[Byte]): Array[Long] = {
      val len = bytes.length
      val (st, nToks) = ByteSliceText.tokenStarts(bytes, starts)
      starts = st
      var n = 0
      if (nToks < 3) {
        buf(0) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, 42L)
        n = 1
      } else {
        val m = nToks - 2
        if (buf.length < m)
          buf = new Array[Long](Integer.highestOneBit(m) * 2)
        var w = 0
        while (w <= nToks - 3) {
          val s0 = starts(w)
          val end = if (w + 3 < nToks) starts(w + 3) - 2 else len - 1
          buf(w) = XXH64.hashUnsafeBytes(
            bytes, Platform.BYTE_ARRAY_OFFSET + s0, end - s0 + 1, 42L)
          w += 1
        }
        n = m
      }
      val arr = java.util.Arrays.copyOf(buf, n)
      java.util.Arrays.sort(arr)
      var out = 0
      var i = 0
      while (i < n) { // in-place dedup of the sorted hashes
        if (out == 0 || arr(out - 1) != arr(i)) { arr(out) = arr(i); out += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(arr, out)
    }
  }

  /** Full MinHash-LSH near-dup pipeline: pairs with exact Jaccard ≥
    * `threshold`. With 32 hashes / 16 bands, a true pair at j = 0.9 is
    * missed with probability (1 − 0.81)^16 ≈ 3e-12 — recall is
    * effectively exact, which the oracle's brute-force SQL verifies.
    */
  /** Corpus-scale minhash signatures as a partition-local primitive
    * kernel: ZERO shuffle — each task scans its documents once and
    * emits (id, sig) directly.
    *
    * Two prior shapes measured slower at sf0.1: nested HOF lambdas
    * (re-inline the shingle pipeline per hash — 13×), and
    * explode + groupBy(id) with 32 min aggregates (the former champion;
    * its cost is not the hashing but the per-shingle-row hash-agg
    * update machinery — a multiply-add hash family instead of
    * `xxhash64(h, i)` measured ~6% SLOWER end-to-end, so the arithmetic
    * was never the bottleneck).
    *
    * The kernel exploits byte-slice identity: `split` on a single-space
    * regex followed by `concat_ws(" ", window)` reproduces the ORIGINAL
    * byte sequence (empty tokens from consecutive spaces round-trip),
    * so every 3-token shingle string is a contiguous UTF-8 slice of the
    * text. We therefore hash slices of the raw bytes in place —
    * `XXH64.hashUnsafeBytes(seed=42)` — which is bit-identical to
    * `xxhash64(shingle_string)`, and remix per draw exactly like the
    * HOF form: `xxhash64(h, i) = hashLong(i, hashLong(h, 42))`. Same
    * hash family as [[minhashSignature]], asserted in TextDedupSpec.
    * `array_distinct` is dropped: min over a multiset equals min over
    * its set. At 100 TB this is the shape that matters — signature cost
    * is a pure scan-local pass with no exchange at all.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      nHashes: Int): DataFrame = {
    graft.util.Ids.requireLongCompatible(docs, idCol, "minhashSignatures")
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val spark = docs.sparkSession
    import spark.implicits._
    val n = nHashes
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val sig = new Array[Long](n)
        // token-start buffer grown geometrically, reused across rows
        var starts = new Array[Int](256)
        it.map { case (id, bytes) =>
          java.util.Arrays.fill(sig, Long.MaxValue)
          val len = bytes.length
          val (st, nToks) = ByteSliceText.tokenStarts(bytes, starts)
          starts = st
          def mixInto(h0: Long): Unit = {
            val base = XXH64.hashLong(h0, 42L)
            var i = 0
            while (i < n) {
              // the draw index is an INT in the expression forms
              // (sequence/lit produce IntegerType), so remix via hashInt
              val v = XXH64.hashInt(i, base)
              if (v < sig(i)) sig(i) = v
              i += 1
            }
          }
          if (nToks < 3) {
            mixInto(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, 42L))
          } else {
            var w = 0
            while (w <= nToks - 3) {
              val s0 = starts(w)
              val end = if (w + 3 < nToks) starts(w + 3) - 2 else len - 1
              mixInto(XXH64.hashUnsafeBytes(
                bytes, Platform.BYTE_ARRAY_OFFSET + s0, end - s0 + 1, 42L))
              w += 1
            }
          }
          (id, sig.clone())
        }
      }.toDF(idCol, "sig")
  }

  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, nHashes: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 2000): DataFrame = {
    val sigDf = minhashSignatures(docs, idCol, textCol, nHashes)
    // Candidate pairs are ids-only and a tiny fraction of the corpus;
    // materialize them ONCE (localCheckpoint, not cache — nothing left
    // pinned in executor storage under a live reference after the
    // query) so the id-prune and the verify join don't each recompute
    // the LSH self-join.
    val cands = lshCandidates(sigDf, idCol, nHashes, bands, maxBucketSize)
      .localCheckpoint(eager = true)
    val candIds = cands.select(col("doc_a").as(idCol))
      .unionByName(cands.select(col("doc_b").as(idCol))).distinct()
    // Shingle ONLY candidate docs (semi-join prune): the round-2 plan
    // re-shingled the whole corpus for the verify stage — verify cost
    // now scales with |candidates|, not |corpus|. Shingles are carried
    // as xxhash64 longs, not strings (array_intersect on longs;
    // 64-bit collisions within one pair: ~2⁻⁶⁴), computed by the same
    // byte-slice kernel as the signature and prefix-filter paths.
    val withSh = shingleHashes(
      docs.join(candIds, Seq(idCol), "left_semi"), idCol, textCol)
    verifyJaccard(cands, withSh, idCol).filter(col("jaccard") >= threshold)
  }

  /** SimHash: 48-bit signature from md5-derived token hashes — each bit
    * is the sign of the Σ(±1) vote over tokens. Near-dup iff hamming
    * distance small. Pure expressions; bucketable by signature prefix
    * for the scale path. 48 bits (12 md5 hex chars) keeps every hash
    * inside double's 2^53 exact-integer range so the per-bit extraction
    * `floor(h / 2^b) & 1` is exact in codegen arithmetic (the Scala
    * `shiftleft`/`shiftright` helpers only take literal bit counts, not
    * a lambda-bound column).
    */
  val simhashBits = 48

  def simhash(textCol: Column): Column = {
    val toks = split(lower(textCol), " ")
    val tokHash = (t: Column) => conv(substring(md5(t), 1, 12), 16, 10).cast("long")
    val hashes = transform(toks, tokHash)
    val bitOf = (h: Column, b: Column) =>
      (h / pow(lit(2.0), b)).cast("long").bitwiseAND(1)
    aggregate(
      sequence(lit(0), lit(simhashBits - 1)),
      lit(0L),
      (acc, b) => acc + when(
        aggregate(hashes, lit(0L),
          (s, h) => s + when(bitOf(h, b) === 1, 1L).otherwise(-1L)) > 0,
        pow(lit(2.0), b).cast("long")).otherwise(0L))
  }

  /** Kernel form of [[simhash]]: bit-identical signatures at 1/48th the
    * hash cost. The HOF form's outer `aggregate` over the 48 bit draws
    * inlines the `transform(toks, md5)` expression into its lambda body,
    * so Catalyst re-evaluates every token's md5 once PER BIT; here each
    * token is digested exactly once and its 48 vote updates are plain
    * long arithmetic. `lower` stays a Catalyst expression upstream so
    * locale/Unicode lowercase semantics match the expression form (and
    * the DuckDB oracle) exactly. Equality with [[simhash]] is asserted
    * in TextDedupSpec.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.util.Ids.requireLongCompatible(docs, idCol, "simhashSignatures")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val votes = new Array[Int](simhashBits)
        it.map { case (id, text) =>
          java.util.Arrays.fill(votes, 0)
          // limit -1: Spark's split keeps trailing empty tokens; Java's
          // default limit 0 would drop them and flip signatures
          val toks = text.split(" ", -1)
          var t = 0
          while (t < toks.length) {
            md.reset()
            val d = md.digest(
              toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 12 hex chars of the digest = first 6 bytes, big-endian
            var h = 0L
            var i = 0
            while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
            var b = 0
            while (b < simhashBits) {
              votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
              b += 1
            }
            t += 1
          }
          var sh = 0L
          var b = 0
          while (b < simhashBits) { if (votes(b) > 0) sh |= (1L << b); b += 1 }
          (id, sh)
        }
      }.toDF(idCol, "sh")
  }

  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS within `maxHamming` bits — the signature's
    * dedup operator (Manku et al., WWW'07, the public simhash-dedup
    * construction). EXACT recall by pigeonhole over MULTI-SLICE keys:
    * split the 48-bit signature into `bands` equal slices; a pair
    * differing in ≤ maxHamming bits has its differing bits inside ≤
    * maxHamming slices, so it agrees exactly on ≥ bands − maxHamming
    * slices — hence on at least one (bands − maxHamming)-subset of
    * slices. Keying every such subset (C(bands, bands−maxHamming)
    * tables; the concatenated slices fit one long) makes candidates a
    * provable superset, never all-pairs. The default 6 bands × 8 bits
    * at radius 3 gives C(6,3)=20 keys of 24 bits per doc — single-
    * slice 12-bit keys (4 bands) saturate on signature-dense corpora
    * (buckets grow linearly with docs; measured 549/5000 already at
    * sf0.1), while 24-bit combo keys are ~4000× finer. The exact
    * hamming check then runs on candidates only, two longs per pair.
    * The hot-bucket cap remains as a backstop for pathological
    * signature mass points; while no bucket exceeds it (true at the
    * gated scales) recall is exact, and past it pair LISTINGS inside
    * an oversized bucket thin to a linear chain as documented on
    * [[lshCandidates]].
    */
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 6,
      maxBucketSize: Int = 2000): DataFrame = {
    require(simhashBits % bands == 0, s"bands must divide $simhashBits: $bands")
    require(maxHamming <= bands - 1,
      s"pigeonhole guarantee needs maxHamming <= bands-1: $maxHamming vs $bands")
    val bits = simhashBits / bands
    val mask = (1L << bits) - 1
    val comboSize = bands - maxHamming
    require(comboSize * bits <= 63, s"combo key must fit a long: $comboSize x $bits bits")
    val combos = (0 until bands).combinations(comboSize).toSeq
    // signatures are 16 bytes/doc — materialize once for banding + verify
    val sig = simhashSignatures(docs, idCol, textCol)
      .localCheckpoint(eager = true)
    def sliceOf(b: Int): Column =
      shiftright(col("sh"), b * bits).bitwiseAND(lit(mask))
    val banded = sig.select(col(idCol), posexplode(
        array(combos.map(c =>
          c.foldLeft(lit(0L))((acc, b) =>
            shiftleft(acc, bits).bitwiseOR(sliceOf(b)))): _*))
        .as(Seq("band", "band_hash")))
    val cands = bucketCandidates(banded, idCol, maxBucketSize)
    cands
      .join(sig.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sig.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("hamming", hammingDist(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Connected components over the near-dup pair graph → (doc_id,
    * cluster = min reachable id). Iterative min-label propagation to a
    * fixpoint; dedup pair graphs have tiny diameters (duplicate groups),
    * so this converges in a few joins over the PAIR set — corpus-scale
    * data never enters the loop.
    */
  def nearDupClusters(pairs: DataFrame, driverLimit: Long = 10000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Self-pairs (a, a) are vacuous ("a duplicates itself") — drop them up
    // front so BOTH resolution paths agree: previously the driver
    // union-find emitted (a, a) for a self-loop-only node while
    // distributedClusters (which canonicalizes hi > lo) omitted it.
    val cached = pairs.select(col("doc_a"), col("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")).cache()
    val nPairs = cached.count()
    if (nPairs <= driverLimit) {
      // verified dup pairs are a tiny fraction of the corpus — union-find
      // on the driver beats a multi-job propagation loop by a wide
      // margin (pairs ≤ 10M longs ≈ 160 MB, still driver-safe).
      val es = cached.collect().map(r => (r.getLong(0), r.getLong(1)))
      cached.unpersist()
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      parent.keys.toSeq.map(id => (id, find(id))).toDF("doc_id", "cluster")
    } else distributedClusters(cached)
  }

  /** Connected components for pair graphs too large for the driver:
    * alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm). Each round is two aggregate+join passes over the EDGE
    * set and the edge set only ever shrinks toward one star per
    * component, so convergence is O(log n) ROUNDS regardless of graph
    * diameter — a 10M-link chain converges in ~25 rounds where naive
    * min-label propagation needs 10M iterations (one hop per join).
    * Convergence is detected by an O(1) canonical-edge checksum (count
    * + hash sum), not a row-level diff; each round's edge set is
    * localCheckpointed so lineage stays one round deep. FAILS LOUDLY
    * if maxRounds is exhausted — a silently truncated propagation
    * would split one duplicate group into several keepers.
    */
  private[graft] def distributedClusters(pairs: DataFrame, maxRounds: Int = 60): DataFrame = {
    // canonical storage: (hi, lo) with hi > lo, distinct, no self-loops
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(eager = true)

    // large-star(u): every neighbor v > u connects to m = min(Γ(u)∪{u});
    // emitted (v, m) already satisfies v > u ≥ m, so it stays canonical.
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = bi.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      bi.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
    }

    // small-star(u): u and all smaller neighbors connect to the min
    // smaller neighbor m; canonical storage already groups u's smaller
    // neighbors as the lo side of hi = u.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("hi").agg(min(col("lo")).as("m"))
      e.join(mins, "hi")
        .select(explode(array(
            struct(col("hi").as("hi"), col("m").as("lo")),
            struct(col("lo").as("hi"), col("m").as("lo")))).as("x"))
        .select(col("x.hi"), col("x.lo"))
        .filter(col("hi") =!= col("lo")).distinct()
    }

    // bit_xor (not sum): order-independent, can't overflow under ANSI,
    // and edges are distinct so xor-cancellation can't fake a fixpoint
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = checksum(edges)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = true)
      val sig = checksum(next)
      if (sig == prev) {
        // A checksum match could (astronomically unlikely, but a wrong
        // cluster labeling is a correctness bug, not a perf bug) be a
        // 64-bit xor collision. Close it with ONE exact set-difference
        // check at the claimed fixpoint only: counts already matched via
        // the checksum, so next ⊆ edges ⟺ next = edges and a single
        // one-direction exceptAll suffices. If it fails we simply keep
        // iterating — the loop's maxRounds loud-fail still bounds us.
        converged = next.exceptAll(edges).isEmpty
      }
      prev = sig
      edges = next
      round += 1
    }
    if (!converged) {
      pairs.unpersist()
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $maxRounds rounds " +
          "(theoretical bound is O(log n) — this indicates a bug, not a big graph)")
    }
    // at the fixpoint every component is one star: (child, root) edges
    // with root = component min; roots appear only on the lo side.
    val out = edges.select(col("hi").as("doc_id"), col("lo").as("cluster"))
      .unionByName(edges.select(col("lo").as("doc_id"), col("lo").as("cluster")).distinct())
      .localCheckpoint(eager = true)
    pairs.unpersist()
    out
  }

  /** The dedup APPLY step: keep one document per near-dup cluster (the
    * min id), pass non-duplicated documents through untouched. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val clusters = nearDupClusters(
      minhashDedup(docs, idCol, textCol, threshold))
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------- queries

  /** Exact dedup oracle — union the corpus with a re-keyed copy of
    * itself (deterministic planted duplicates), group by content hash,
    * report duplicate groups. One hash aggregate; at 100 TB this is the
    * standard map-side-combine dedup scan.
    */
  val exact = QueryDef.sql(
    "d1_exact_dedup",
    """WITH u AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text FROM documents),
      |g AS (SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
      |      FROM u GROUP BY 1)
      |SELECT count(*) AS n_groups,
      |       CAST(sum(n) AS BIGINT) AS n_docs,
      |       CAST(sum(n - 1) AS BIGINT) AS n_removable,
      |       CAST(sum(keeper) AS BIGINT) AS keeper_checksum
      |FROM g WHERE n > 1""".stripMargin) {
    (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val u = docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      u.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .filter(col("n") > 1)
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n")).cast("long").as("n_docs"),
          sum(col("n") - 1).cast("long").as("n_removable"),
          sum(col("keeper")).cast("long").as("keeper_checksum"))
  }

  /** MinHash-LSH near-dup oracle — the DuckDB side brute-forces exact
    * Jaccard over ALL pairs (fine at oracle scale); the Spark side goes
    * through LSH banding + verify. A hash match proves the LSH path
    * loses no pair at j ≥ 0.9.
    */
  val minhash = QueryDef.sql(
    "d2_minhash_lsh",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
      |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
      |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(ix * 1.0 / (ca.c + cb.c - ix), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON doc_a = ca.doc_id
      |JOIN cnt cb ON doc_b = cb.doc_id
      |WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9""".stripMargin) {
    (s, d) =>
      minhashDedup(Tables.documents(s, d), "doc_id", "text", threshold = 0.9)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared oracle CTE: DuckDB's independent recomputation of every
    * per-doc 48-bit simhash from md5 token hashes (hex-slice → bigint,
    * per-bit ±1 vote, vote>0 sets the bit). Interpolated into BOTH the
    * d3 and d7 oracles so a semantic change to the signature cannot
    * leave one gate validating stale semantics.
    */
  private val simhashSigCte: String =
    """t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |           FROM documents WHERE text IS NOT NULL),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,12))::BIGINT AS h FROM t),
      |v AS (SELECT doc_id, b.b AS b,
      |             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |      FROM h CROSS JOIN (SELECT unnest(range(48)) AS b) b
      |      GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |               SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
      |        FROM v GROUP BY doc_id)""".stripMargin

  /** SimHash oracle: the driver hash-compares the full (doc_id, sh)
    * table against [[simhashSigCte]] — a cross-engine bit-for-bit check
    * of the whole signature kernel. The near-dup semantics (exact copy
    * ⇒ distance 0, high-Jaccard ⇒ small hamming radius) are asserted in
    * TextDedupSpec.
    */
  val simhashQ = QueryDef.sql(
    "d3_simhash",
    s"WITH $simhashSigCte\nSELECT doc_id, sh FROM sig") { (s, d) =>
    simhashSignatures(Tables.documents(s, d), "doc_id", "text")
  }

  /** n-gram Jaccard oracle: DuckDB computes the ALL-PAIRS exact
    * token-3-gram Jaccard (inverted-index equi-join, feasible at oracle
    * scale), so a hash match proves the prefix-filtered plan loses no
    * pair ≥ 0.8 and fabricates none.
    */
  val ngramJaccardQ = QueryDef.sql(
    "d5_ngram_jaccard",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents WHERE text IS NOT NULL),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM tri),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b,
      |             inter * 1.0 / (sa.n + sb.n - inter) AS jac
      |      FROM ix JOIN sz sa ON sa.doc_id = doc_a
      |               JOIN sz sb ON sb.doc_id = doc_b)
      |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
      |FROM j WHERE jac >= 0.8""".stripMargin) {
    (s, d) =>
      ngramJaccardDedup(Tables.documents(s, d), "doc_id", "text", threshold = 0.8)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cluster resolution oracle: both engines build the ≥0.9-Jaccard
    * pair graph over the corpus's natural near-dup pairs and reduce
    * each connected component to its min-id keeper. The oracle
    * propagates min labels 3 hops (near-dup group diameters here are
    * ≤ 2; the Spark side iterates to an actual fixpoint), then both
    * report the same cluster summary.
    */
  val clusters = QueryDef.sql(
    "d4_near_dup_clusters",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
      |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
      |inter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ix
      |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |prs AS (SELECT pa, pb FROM inter
      |        JOIN cnt ca ON pa = ca.doc_id JOIN cnt cb ON pb = cb.doc_id
      |        WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9),
      |e AS (SELECT pa AS src, pb AS dst FROM prs
      |      UNION ALL SELECT pb, pa FROM prs),
      |l1 AS (SELECT src AS id, least(src, min(dst)) AS lbl FROM e GROUP BY src),
      |l2 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l1 la ON la.id = e.src JOIN l1 lb ON lb.id = e.dst
      |       GROUP BY e.src),
      |l3 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l2 la ON la.id = e.src JOIN l2 lb ON lb.id = e.dst
      |       GROUP BY e.src)
      |SELECT count(*) AS n_clustered_docs,
      |       CAST(count(DISTINCT lbl) AS BIGINT) AS n_clusters,
      |       CAST(count(*) - count(DISTINCT lbl) AS BIGINT) AS n_removable,
      |       CAST(sum(lbl) AS BIGINT) AS label_checksum
      |FROM l3""".stripMargin) {
    (s, d) =>
      // natural corpus only: the planted near-dup pairs (j ≥ 0.9) give a
      // nonzero cluster set without the d1-style doubled-corpus cost
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cl = nearDupClusters(minhashDedup(docs, "doc_id", "text", 0.9))
      cl.agg(count(lit(1)).as("n_clustered_docs"),
        countDistinct(col("cluster")).cast("long").as("n_clusters"),
        (count(lit(1)) - countDistinct(col("cluster"))).cast("long")
          .as("n_removable"),
        sum(col("cluster")).cast("long").as("label_checksum"))
  }

  /** End-to-end dedup oracle: the full pipeline OUTPUT (which docs
    * survive) is hash-compared, not just pairs or cluster labels —
    * DuckDB brute-forces the ≥0.9 pair graph over the planted-dup
    * corpus, propagates min labels 3 hops (component diameters here
    * ≤ 2), and keeps label==id docs; Spark runs dropNearDuplicates
    * (LSH → verify → union-find → anti-join).
    */
  val dropQ = QueryDef.sql(
    "d6_drop_near_dups",
    """WITH u AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text FROM documents),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM u),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
      |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
      |inter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ix
      |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |prs AS (SELECT pa, pb FROM inter
      |        JOIN cnt ca ON pa = ca.doc_id JOIN cnt cb ON pb = cb.doc_id
      |        WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9),
      |e AS (SELECT pa AS src, pb AS dst FROM prs
      |      UNION ALL SELECT pb, pa FROM prs),
      |l1 AS (SELECT src AS id, least(src, min(dst)) AS lbl FROM e GROUP BY src),
      |l2 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l1 la ON la.id = e.src JOIN l1 lb ON lb.id = e.dst
      |       GROUP BY e.src),
      |l3 AS (SELECT e.src AS id, least(min(la.lbl), min(lb.lbl)) AS lbl
      |       FROM e JOIN l2 la ON la.id = e.src JOIN l2 lb ON lb.id = e.dst
      |       GROUP BY e.src),
      |dropped AS (SELECT id FROM l3 WHERE id <> lbl)
      |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_checksum
      |FROM u WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin) {
    (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val u = docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      dropNearDuplicates(u, "doc_id", "text", threshold = 0.9)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_checksum"))
  }

  /** SimHash-dedup oracle: DuckDB brute-forces ALL-PAIRS hamming over
    * independently recomputed signatures, so the hash match proves the
    * banded pigeonhole plan finds every pair within the radius and
    * fabricates none.
    */
  val simhashDedupQ = QueryDef.sql(
    "d7_simhash_dedup",
    s"""WITH $simhashSigCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin) {
    (s, d) =>
      simhashDedup(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
  }

  /** INCREMENTAL dedup: drop each doc of a NEW batch that near-dups
    * (exact n-gram Jaccard ≥ `threshold`) any existing-corpus doc or
    * any smaller-id batch doc — WITHOUT ever pairing the corpus
    * against itself. This is the production ingest shape: the corpus
    * is already deduped; re-checking its internal pairs on every
    * batch would be O(corpus²) forever.
    *
    * Plan shape at 100 TB: the batch's prefix-gram table is tiny (a
    * day's crawl) and BROADCASTS; the corpus side streams through one
    * scan → explode → prefix filter → broadcast-hash-join probe. No
    * corpus-corpus candidate is ever generated (the probe side is
    * batch-only), and the only corpus-sized aggregate is the gram-df
    * table — which a production deployment maintains incrementally as
    * a side table rather than recomputing (recomputed here; any
    * CONSISTENT global gram order keeps the AllPairs prefix bound
    * exact, df order just maximizes pruning). Verification fetches
    * shingle sets for candidate ids only (left-semi into the kernel
    * scan).
    *
    * Requires all batch ids > all corpus ids (ingest sequence ids do
    * this for free); enforced with a cheap agg.
    *
    * The broadcast is SIZE-GUARDED: the batch's total gram count (one
    * cheap agg over the already-checkpointed shingle frame) must stay
    * within `broadcastMaxGrams`, else the hint is dropped and the
    * planner shuffles both sides — a caller feeding a corpus-sized
    * "batch" gets a slower-but-correct plan change instead of a
    * driver/executor OOM. The default (10M grams, low hundreds of MB
    * serialized) is a conservative executor-memory crossover.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      broadcastMaxGrams: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // id-bound check on the RAW frames (no shingling), then shingle the
    // corpus exactly ONCE: the gram frame feeds dfreq, the ranked main
    // side, and the verify sets — without the checkpoint each consumer
    // would re-scan and re-shingle the whole corpus (3× the dominant
    // cost). Blocks go to MEMORY_AND_DISK; at extreme scale swap for a
    // reliable checkpoint dir — the plan shape is unchanged.
    val bounds = corpus.agg(max(col(idCol)).cast("long")).head()
    val bBounds = batch.agg(min(col(idCol)).cast("long")).head()
    require(bounds.isNullAt(0) || bBounds.isNullAt(0) ||
      bounds.getLong(0) < bBounds.getLong(0),
      "incrementalDedup needs all batch ids > all corpus ids " +
        s"(corpus max ${bounds.get(0)}, batch min ${bBounds.get(0)})")
    val gramsC = shingleHashes(corpus, idCol, textCol).localCheckpoint(eager = true)
    val gramsB = shingleHashes(batch, idCol, textCol).localCheckpoint(eager = true)
    val gramsAll = gramsC.unionByName(gramsB)
    val g = gramsAll.select(col(idCol), explode(col("sh")).as("gram"))
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    // same float-boundary slack as ngramJaccardOnGrams (see there)
    def ranked(grams: DataFrame): DataFrame =
      grams.select(col(idCol), explode(col("sh")).as("gram"))
        .join(dfreq, "gram")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("df"), col("gram"))))
        .join(grams.select(col(idCol), size(col("sh")).as("set_sz")), Seq(idCol))
        .filter(col("rk") <=
          col("set_sz") - ceil(lit(threshold) * col("set_sz") - 1e-9) + 1)
        .select(col(idCol), col("gram"), col("set_sz"))
    val nBatchGrams = gramsB
      .agg(coalesce(sum(size(col("sh"))), lit(0L)).cast("long"))
      .head().getLong(0)
    val rankedBatch = ranked(gramsB).alias("y")
    val probe =
      if (nBatchGrams <= broadcastMaxGrams) broadcast(rankedBatch)
      else rankedBatch
    val cands = ranked(gramsAll).alias("x").join(probe,
        col("x.gram") === col("y.gram") &&
          col(s"x.$idCol") < col(s"y.$idCol") &&
          col("x.set_sz") >= lit(threshold) * col("y.set_sz") - 1e-9 &&
          col("y.set_sz") >= lit(threshold) * col("x.set_sz") - 1e-9)
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      .distinct()
      .localCheckpoint(eager = true)
    val candIds = cands.select(col("doc_a").as(idCol))
      .unionByName(cands.select(col("doc_b").as(idCol))).distinct()
    val sets = gramsAll.join(candIds, Seq(idCol), "left_semi")
    val drops = verifyJaccard(cands, sets, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_b").as(idCol)).distinct()
    batch.select(col(idCol)).join(drops, Seq(idCol), "left_anti")
  }

  /** Incremental-ingest oracle: corpus = docs with id % 3 ≠ 0 (already
    * deduped in-place for the test's purposes); batch = the id % 3 = 0
    * docs re-keyed +2,000,000 (genuinely new) plus re-crawls of corpus
    * docs with id % 5 = 0 re-keyed +3,000,000 (guaranteed dups).
    * DuckDB brute-forces the full ≥0.9 pair graph over corpus ∪ batch;
    * because every batch id exceeds every corpus id, "batch doc pairs
    * with any smaller id" is exactly `pb ∈ batch` on (pa < pb) pairs —
    * the same greedy keep-first policy the Spark side implements
    * without ever generating a corpus-corpus pair.
    */
  val incrementalQ = QueryDef.sql(
    "d9_incremental_dedup",
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |batch AS (SELECT doc_id + 2000000 AS doc_id, text FROM documents
      |          WHERE doc_id % 3 = 0
      |          UNION ALL
      |          SELECT doc_id + 3000000, text FROM documents
      |          WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0),
      |u AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |         FROM u WHERE text IS NOT NULL),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |shd AS (SELECT doc_id, unnest(sh) AS s FROM tri),
      |cnt AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY 1),
      |inter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ix
      |          FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |prs AS (SELECT pa, pb FROM inter
      |        JOIN cnt ca ON pa = ca.doc_id JOIN cnt cb ON pb = cb.doc_id
      |        WHERE ix * 1.0 / (ca.c + cb.c - ix) >= 0.9),
      |drops AS (SELECT DISTINCT pb AS id FROM prs WHERE pb >= 2000000)
      |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_checksum
      |FROM batch WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin) {
    (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // the +2M/+3M re-keying is only collision-free while ids stay
      // below 1M; past that the id-bound require inside
      // incrementalDedup may not trip, so guard here explicitly
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      require(mx < 1000000L,
        s"d9 fixture re-keying assumes doc_id < 1e6, got max $mx")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .unionByName(
          docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
            .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      incrementalDedup(corpus, batch, "doc_id", "text", threshold = 0.9)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("kept_checksum"))
  }

  /** Edit-distance (Levenshtein ≤ maxDist) pair join with EXACT-recall
    * SEGMENT blocking (the PassJoin scheme — Li, Deng, Feng, VLDB'11;
    * public algorithm): split each length-l key into d+1 contiguous
    * segments; ≤d edits can touch at most d of them, so for any true
    * pair one segment of A survives VERBATIM in B, shifted by at most
    * d positions. Candidates therefore come from an equi-join on
    * (build-length, segment-index, segment-content): the build side
    * emits its d+1 segments, the probe side emits every substring
    * that could equal a segment of a length-l build key for
    * l ∈ [m−d, m+d] (bounded (2d+1)²(d+1) keys per key — constants,
    * not data). The window is allowed down to l = 0 so an EMPTY build
    * key (whose d+1 segments are all "") is still probe-reachable from
    * keys of length ≤ d — without it, a pair (empty key, short key)
    * where the empty doc holds the smaller id would be silently
    * dropped. Length-only blocking is NOT enough: a corpus of
    * fixed-width keys (30-char prefixes — everything is length 30)
    * degenerates it to all-pairs, which is exactly the O(n²) this
    * operator must never do. Segment content is a highly-selective
    * join key at any corpus size; the levenshtein DP runs once per
    * candidate pair, and the pigeonhole argument keeps recall exact.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, keyCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val d = maxDist
    val k = d + 1 // segments per key
    // canonical segmentation of a length-l key: (k - l%k) segments of
    // floor(l/k) chars, then l%k segments one char longer
    def segLen(l: Column, i: Column): Column =
      (l / k).cast("int") + when(i >= lit(k) - l % k, 1).otherwise(0)
    def segStart(l: Column, i: Column): Column =
      lit(1) + i * (l / k).cast("int") +
        greatest(i - (lit(k) - l % k), lit(0))
    val keyed = docs.select(col(idCol).as("id"), col(keyCol).as("key"),
      length(col(keyCol)).as("m"))
    val build = keyed.select(col("id"), col("key"), col("m").as("l"),
        explode(transform(sequence(lit(0), lit(d)), i =>
          struct(i.as("i"),
            col("key").substr(segStart(col("m"), i), segLen(col("m"), i))
              .as("seg")))).as("s"))
      .select(col("id"), col("key"), col("l"),
        col("s.i").as("i"), col("s.seg").as("seg"))
    // probe: for each candidate build length l and segment i, every
    // start within the ±d shift window — deduped per key before the join
    val probe = keyed.select(col("id"), col("key"), col("m"),
        explode(array_distinct(flatten(flatten(
          transform(sequence(col("m") - d, col("m") + d), l =>
            transform(sequence(lit(0), lit(d)), i =>
              filter(
                transform(sequence(lit(-d), lit(d)), shift =>
                  struct(l.as("l"), i.as("i"),
                    (segStart(l, i) + shift).as("start"),
                    segLen(l, i).as("slen"))),
                st => st("l") >= 0 && st("start") >= 1 &&
                  st("start") + st("slen") - 1 <= col("m")))))))).as("s"))
      .select(col("id"), col("key"), col("m"),
        col("s.l").as("l"), col("s.i").as("i"),
        col("key").substr(col("s.start"), col("s.slen")).as("seg"))
    val cands = build.alias("a")
      .join(probe.alias("b"),
        col("a.l") === col("b.l") && col("a.i") === col("b.i") &&
          col("a.seg") === col("b.seg") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"))
      .distinct()
    // one DP evaluation per candidate — Filter/Project don't share
    // subexpressions, so compute the distance once and filter on it.
    // The THRESHOLD form of the builtin runs the banded O(d·n) DP with
    // early exit (−1 past the bound) instead of the full O(n²) table.
    cands
      .withColumn("dist",
        levenshtein(col("key_a"), col("key_b"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** d10 oracle: brute-force levenshtein over all pairs (with the same
    * length prune, which DuckDB needs for tractability and which is
    * recall-lossless — see [[editDistancePairs]]). Keys are 30-char
    * text prefixes: long enough that a ≤2 edit distance means a real
    * near-duplicate head, short enough for the O(k²) DP cell cost.
    */
  val editDistQ = QueryDef.sql(
    "d10_edit_distance_pairs",
    """WITH s AS (SELECT doc_id, substr(text, 1, 30) AS p
      |           FROM documents WHERE text IS NOT NULL)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
      |FROM s a JOIN s b
      |  ON a.doc_id < b.doc_id
      | AND abs(len(a.p) - len(b.p)) <= 2
      | AND levenshtein(a.p, b.p) <= 2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, 30).as("p"))
    editDistancePairs(docs, "doc_id", "p", maxDist = 2)
  }

  // -------------------------------- repeated-substring (ExactSubstr) dedup

  /** Per-position Rabin–Karp window hashes: one row per FULL length-`win`
    * UTF-16-unit window, `pos` 1-based in UTF-16 units. Same modulus/
    * base as [[TextAnalysis.rollingFingerprints]], O(1) per-position
    * update, one scan, no shuffle.
    *
    * OFFSET CONTRACT (the whole ExactSubstr family shares it): positions
    * and lengths are UTF-16 units — `java.lang.String` indices — and a
    * window never SPLITS a surrogate pair: positions whose window would
    * start on the low half or end on the high half of a pair are
    * skipped (a no-op for BMP text, where every position qualifies).
    * Downstream, window/span content is extracted with
    * [[graft.expressions.Utf16Substr]] (byte-walking UTF-16 extraction,
    * null on pair-splitting offsets) and spans are cut with
    * `String.substring` — all three consumers index in the same units,
    * so election and cut boundaries agree for ANY input text, and a cut
    * can never manufacture a lone surrogate. (Lee et al.'s ExactSubstr
    * works on bytes for the same reason; UTF-16 units are the JVM-native
    * equivalent.) For external comparison: BMP-only corpora also agree
    * with code-point engines like DuckDB `substr`.
    */
  def rollingHashWindows(docs: DataFrame, win: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(win >= 2, s"window $win too small")
    graft.util.Ids.requireLongCompatible(docs, idCol, "rollingHashWindows")
    val spark = docs.sparkSession
    import spark.implicits._
    val K = win
    val B = TextAnalysis.rollB
    val M = TextAnalysis.rollM
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val bK = { var p = 1L; var i = 0; while (i < K) { p = p * B % M; i += 1 }; p }
        val n = text.length
        if (n < K) Iterator.empty
        else {
          var h = 0L
          var j = 0
          while (j < K) { h = (h * B + text.charAt(j) % M) % M; j += 1 }
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](n - K + 1)
          // Strings out of Spark are valid UTF-16 (UTF8String decode
          // pairs every surrogate), so low-at-start / high-at-end is
          // exactly "window splits a pair".
          if (!Character.isLowSurrogate(text.charAt(0)) &&
              !Character.isHighSurrogate(text.charAt(K - 1)))
            out += ((id, 1L, h))
          var p = 1
          while (p <= n - K) {
            h = (h * B + text.charAt(p + K - 1) % M) % M
            h = ((h - text.charAt(p - 1) % M * bK % M) % M + M) % M
            if (!Character.isLowSurrogate(text.charAt(p)) &&
                !Character.isHighSurrogate(text.charAt(p + K - 1)))
              out += ((id, (p + 1).toLong, h))
            p += 1
          }
          out.iterator
        }
      }.toDF(idCol, "pos", "h")
  }

  /** ExactSubstr-style repeated-substring spans (Lee et al. 2022,
    * arXiv:2107.06499 — "Deduplicating Training Data Makes Language
    * Models Better"; suffix-array formulation replaced by a rolling-hash
    * candidate pass, which Spark distributes): every length-`win`
    * window whose exact content occurs in ≥ `minDocs` DISTINCT
    * documents, merged into maximal per-document spans
    * (doc_id, span_start, span_end — 1-based inclusive).
    *
    * Scale: hash pass is one scan; the distinct-doc count per hash and
    * the exact-content verify are term-keyed linear aggregates; span
    * merge is a per-doc window (bounded groups). Hash collisions only
    * ADD candidates — the verify groups by the actual substring, so
    * recall and precision are exact. Within-doc-only repeats do not
    * count toward `minDocs` (cross-document boilerplate is the
    * curation target; t6 covers within-doc repetition).
    */
  /** Shuffle width for the window-hash aggregates, derived from the
    * corpus' CHARACTER volume (≈ one window row per character): the
    * session's fixed `spark.sql.shuffle.partitions` is sized for the
    * candidate-fraction stages, but the first aggregate shuffles the
    * FULL window table — at 32 partitions a 500M-char corpus puts
    * ~15M rows in every task, overflowing execution memory into spill
    * loops (measured in the r12 100x scale run: d12 482 s, ~9x over
    * linear). ~2M rows (~80 MB) per task keeps the per-task hash map
    * in memory at any corpus size; the 2048 cap matches a 4G-char
    * local ceiling and would simply be raised on a real cluster. */
  private def windowAggParts(docs: DataFrame, textCol: String): Int = {
    val r = docs
      .agg(sum(length(coalesce(col(textCol), lit(""))))).head()
    val vol = if (r.isNullAt(0)) 0L else r.getLong(0)
    val session = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    math.max(session, math.min(2048L, vol / 2000000L + 1L).toInt)
  }

  def repeatedSubstringSpans(docs: DataFrame, win: Int = 50,
      minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    import org.apache.spark.sql.expressions.Window
    // ONE compute + ONE shuffle of the full window table (~one row per
    // character): the per-hash distinct-doc count is evaluated IN PLACE
    // on the h-partitioned table with two stacked window functions
    // (dense_rank over id ⇒ running distinct-doc index, max over the
    // h-group ⇒ its count), so the hot-window candidate filter reads
    // the same sorted partitions — no second rolling-hash pass over the
    // corpus (the r12 design recomputed `wins` for the candidate join,
    // doubling the chain's scan/CPU and its cache-pressure exposure at
    // ×100) and no separately-built hot-hash side to broadcast.
    val parts = windowAggParts(docs, textCol)
    val byH = rollingHashWindows(docs, win, idCol, textCol)
      .repartition(parts, col("h"))
    val wNd = Window.partitionBy("h")
    val wNdOrd = Window.partitionBy("h").orderBy(idCol)
    // candidates are the small cross-doc-repeated fraction; the exact
    // CONTENT verify (hash collisions only ever ADD candidates — this
    // re-group by the actual substring keeps recall and precision
    // exact) uses the same in-place window shape as the hash stage:
    // one s-keyed shuffle, one sort, distinct-doc count via
    // dense_rank/max, filter — no second read of the 100-byte-string
    // candidate table and no sort-merge join back onto it.
    val wS = Window.partitionBy("s")
    val wSOrd = Window.partitionBy("s").orderBy(idCol)
    val verified = byH
      .withColumn("di", dense_rank().over(wNdOrd))
      .withColumn("nd", max(col("di")).over(wNd))
      .filter(col("nd") >= minDocs)
      .select(col(idCol), col("pos"))
      .join(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), col("pos"),
        // UTF-16 extraction to match the producer's offset units — the
        // builtin substr counts code points and would mis-slice
        // surrogate-bearing docs. Producer positions are always valid,
        // so the expression's null channel never fires here.
        graft.expressions.Utf16Substr(col(textCol), col("pos"), lit(win)).as("s"))
      // s-keyed at volume width, then verify in place
      .repartition(parts, col("s"))
      .withColumn("di", dense_rank().over(wSOrd))
      .withColumn("nd", max(col("di")).over(wS))
      .filter(col("nd") >= minDocs)
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val prevMaxEnd = max(col("pos") + (win - 1)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    verified
      .withColumn("pme", prevMaxEnd)
      .withColumn("newg",
        when(col("pme").isNull || col("pos") > col("pme") + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("newg")).over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (win - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** The APPLY step: cut every repeated span from each document EXCEPT
    * in that span's first-occurrence document — the Lee et al.
    * keep-one-occurrence rule at SPAN granularity. Two election modes:
    *
    *  - `win = 0` (conservative): span identity is the MERGED span's
    *    exact text content — per distinct content, the minimum doc id
    *    among its carriers keeps the span; every other carrier cuts it.
    *    A doc whose merged span extent is unique (nearby windows fused
    *    into a longer span no other doc carries verbatim) is its own
    *    group's keeper and keeps it — a first occurrence is never cut,
    *    at the cost of under-cutting when merge extents diverge across
    *    carriers (doc A fusing B1+B2 while docs B and C carry B1 and B2
    *    separately → three distinct contents → nothing cut).
    *  - `win > 0` (window-granular; pass the SAME win the span producer
    *    used): each span is re-split into its constituent win-length
    *    windows, the keeper of each distinct WINDOW content is its
    *    minimum carrier doc id, and every non-keeper doc cuts its
    *    losing windows (adjacent losers re-merge into cut sub-spans).
    *    Where merge extents coincide this reduces to the content rule;
    *    where they diverge it still dedups — in the B1+B2 example doc A
    *    keeps the fused span (it carries the boundary windows and, as
    *    min id, wins B1's and B2's windows) while B and C cut theirs.
    *
    * Disjoint span groups keep their first occurrences independently
    * in both modes (doc 1 keeping boilerplate A never forfeits doc 3's
    * claim to unrelated boilerplate B). Returns the docs frame with
    * `text` rewritten and `n_cut` chars removed.
    *
    * Scale: spans is the small repeated fraction; the content extraction
    * is one join to docs on the id, the keeper election one
    * content-keyed aggregate — no corpus-sized shuffle beyond the final
    * left join docs⋈cuts.
    *
    * `win` is REQUIRED (no default): pass the SAME `win` the span
    * producer used — window-granular election is the mode the curation
    * pipeline wants (see [[dedupRepeatedSpans]], the one-call entry
    * point that guarantees the match). Pass `win <= 0` only when you
    * explicitly want the conservative content-keyed mode, accepting its
    * documented under-cut on diverging merge extents.
    *
    * OFFSETS: all positions are 1-based UTF-16 units per
    * [[rollingHashWindows]]'s contract. Election content is extracted
    * with [[graft.expressions.Utf16Substr]] and spans are cut with
    * `String.substring`, so election and cut boundaries agree for any
    * input, including non-BMP (emoji-bearing) text; and because
    * producer windows never split surrogate pairs, neither do cut
    * boundaries — stripped output is always well-formed UTF-16.
    */
  def stripRepeatedSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      win: Int): DataFrame = {
    val spark = docs.sparkSession
    val withText = spans.join(docs.select(col(idCol), col(textCol)), Seq(idCol))
    val cuttable = if (win <= 0) {
      val withContent = withText
        .withColumn("spc", graft.expressions.Utf16Substr(col(textCol),
          col("span_start"),
          (col("span_end") - col("span_start") + 1).cast("int")))
      val keepers = withContent.groupBy("spc")
        .agg(min(col(idCol)).as("keeper_id"))
      withContent.join(keepers, "spc")
        .filter(col(idCol) =!= col("keeper_id"))
        .select(col(idCol), col("span_start"), col("span_end"))
    } else {
      // window-granular election: explode each span back into its
      // win-length windows (fan-out bounded by span text volume — the
      // small repeated fraction), elect per distinct window content,
      // then re-merge each doc's losing windows into cut sub-spans
      // with the same adjacency fold the span producer uses. The
      // per-doc window is fine at scale for the same reason it is in
      // repeatedSubstringSpans: only span positions enter it.
      // producer spans are always >= win long; the filter guards foreign
      // spans frames (Spark's sequence(a, b) DESCENDS when a > b, which
      // would silently fabricate positions)
      // pinned for its two consumers (keepers aggregate + losing join) —
      // the candS pattern from repeatedSubstringSpans: without it the
      // docs⋈spans join, explode, and substring extraction replay twice
      // volume-derived shuffle width for the wc-keyed election (the
      // same sizing fix as repeatedSubstringSpans' hot-hash chain —
      // the r12 100x run OOM'd here at the session's 32 partitions):
      // span volume is bounded by the corpus char volume, so sizing
      // from the docs side needs no replay of the spans lineage, and
      // HashPartitioning(wc) satisfies both the keeper aggregate and
      // the losing join, so the chain runs at this width exchange-free
      val parts = windowAggParts(docs, textCol)
      val winPos = withText
        .filter(col("span_end") - col("span_start") + 1 >= win)
        .select(col(idCol), col(textCol),
          explode(sequence(col("span_start"), col("span_end") - (win - 1)))
            .as("pos"))
        .select(col(idCol), col("pos"),
          graft.expressions.Utf16Substr(col(textCol), col("pos"), lit(win))
            .as("wc"))
        // interior re-split positions of a merged span can land on the
        // low half of a surrogate pair — those were never producer
        // windows; Utf16Substr's null channel filters them, keeping the
        // election universe identical to the producer's window universe
        .filter(col("wc").isNotNull)
        .repartition(parts, col("wc"))
        .localCheckpoint(eager = false)
      val keepers = winPos.groupBy("wc").agg(min(col(idCol)).as("keeper_id"))
      val losing = winPos.join(keepers, "wc")
        .filter(col(idCol) =!= col("keeper_id"))
        .select(col(idCol), col("pos"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(idCol).orderBy("pos")
      val prevMaxEnd = max(col("pos") + (win - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      losing
        .withColumn("pme", prevMaxEnd)
        .withColumn("newg",
          when(col("pme").isNull || col("pos") > col("pme") + 1, 1).otherwise(0))
        .withColumn("grp", sum(col("newg")).over(w))
        .groupBy(col(idCol), col("grp"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + (win - 1)).as("span_end"))
        .select(col(idCol), col("span_start"), col("span_end"))
    }
    val agg = cuttable.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("span_start"),
        col("span_end")))).as("sp"))
    val joined = docs.join(agg, Seq(idCol), "left")
    val idIdx = joined.schema.fieldIndex(idCol)
    val tIdx = joined.schema.fieldIndex(textCol)
    val spIdx = joined.schema.fieldIndex("sp")
    val outSchema = org.apache.spark.sql.types.StructType(
      joined.schema.fields.patch(spIdx, Nil, 1))
      .add("n_cut", org.apache.spark.sql.types.IntegerType)
    val out = joined.rdd.map { row =>
      val base = row.toSeq.patch(spIdx, Nil, 1)
      if (row.isNullAt(spIdx) || row.isNullAt(tIdx))
        org.apache.spark.sql.Row.fromSeq(base :+ 0)
      else {
        val text = row.getString(tIdx)
        val sp = row.getSeq[org.apache.spark.sql.Row](spIdx)
        val sb = new StringBuilder
        var cursor = 0
        sp.foreach { s =>
          val a = s.getLong(0).toInt - 1 // 1-based inclusive -> 0-based
          val b = s.getLong(1).toInt // exclusive end in 0-based
          if (a > cursor) sb.append(text.substring(cursor, a))
          cursor = math.max(cursor, b)
        }
        if (cursor < text.length) sb.append(text.substring(cursor))
        val cut = text.length - sb.length
        org.apache.spark.sql.Row.fromSeq(
          base.updated(tIdx - (if (tIdx > spIdx) 1 else 0), sb.toString) :+ cut)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** The one-call curation entry point: detect repeated spans and strip
    * them with WINDOW-GRANULAR election, guaranteeing producer and
    * election use the same `win` (the mismatch the two-call form leaves
    * to the caller). This is the mode a curation pipeline wants —
    * content-keyed election (`stripRepeatedSpans(…, win = 0)`) silently
    * under-cuts when merge extents diverge across carriers (doc A's
    * fused B1+B2 span vs docs carrying B1/B2 separately); window
    * election still dedups there (oracled by d14).
    */
  def dedupRepeatedSpans(docs: DataFrame, win: Int = 50, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = repeatedSubstringSpans(docs, win, minDocs, idCol, textCol)
    stripRepeatedSpans(docs, spans, idCol, textCol, win = win)
  }

  /** D12 — repeated-substring spans, FULL oracle: DuckDB replays the
    * same semantics directly on substrings (no hashes — the hash pass
    * is an optimization the verify step erases). All-integer output.
    */
  val repeatedSubstr = QueryDef.sql(
    "d12_repeated_substring_spans",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |             substr(text, CAST(i AS INT), 50) AS s
      |      FROM d CROSS JOIN LATERAL
      |        unnest(range(1, CAST(length(text) - 49 + 1 AS BIGINT))) t(i)),
      |hot AS (SELECT s FROM (SELECT DISTINCT s, doc_id FROM w)
      |        GROUP BY s HAVING count(*) >= 2),
      |c AS (SELECT doc_id, pos FROM w WHERE s IN (SELECT s FROM hot)),
      |m AS (SELECT doc_id, pos,
      |             max(pos + 49) OVER (PARTITION BY doc_id ORDER BY pos
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM c),
      |g AS (SELECT doc_id, pos,
      |             sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |      FROM m)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 49 AS span_end
      |FROM g GROUP BY doc_id, grp""".stripMargin) { (s, d) =>
    repeatedSubstringSpans(Tables.documents(s, d), win = 50, minDocs = 2)
  }

  /** D14 — strip repeated spans end-to-end, FULL oracle: DuckDB replays
    * the whole chain — d12's span detection, the window-granular keeper
    * election, loser re-merge — and reports chars cut per document.
    * The engine counts positions in UTF-16 units, DuckDB in code
    * points; on the driver's ASCII/BMP corpus the two coincide exactly
    * (and the skip-pair-splitting rule is a no-op), so the per-doc cut
    * totals hash-match. Non-BMP behavior is covered by dedicated
    * TextDedupSpec cases instead (DuckDB can't replay UTF-16 units).
    */
  val stripSpansQ = QueryDef.sql(
    "d14_strip_repeated_spans",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |             substr(text, CAST(i AS INT), 50) AS s
      |      FROM d CROSS JOIN LATERAL
      |        unnest(range(1, CAST(length(text) - 49 + 1 AS BIGINT))) t(i)),
      |hot AS (SELECT s FROM (SELECT DISTINCT s, doc_id FROM w)
      |        GROUP BY s HAVING count(*) >= 2),
      |c AS (SELECT doc_id, pos FROM w WHERE s IN (SELECT s FROM hot)),
      |m AS (SELECT doc_id, pos,
      |             max(pos + 49) OVER (PARTITION BY doc_id ORDER BY pos
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM c),
      |g AS (SELECT doc_id, pos,
      |             sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |      FROM m),
      |sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 49 AS e0
      |       FROM g GROUP BY doc_id, grp),
      |wv AS (SELECT sp.doc_id, CAST(i AS BIGINT) AS pos,
      |              substr(d.text, CAST(i AS INT), 50) AS wc
      |       FROM sp JOIN d ON sp.doc_id = d.doc_id CROSS JOIN LATERAL
      |         unnest(range(s0, e0 - 49 + 1)) t(i)),
      |k AS (SELECT wc, min(doc_id) AS keeper FROM wv GROUP BY wc),
      |cw AS (SELECT doc_id, pos FROM wv JOIN k USING (wc)
      |       WHERE doc_id <> keeper),
      |m2 AS (SELECT doc_id, pos,
      |              max(pos + 49) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |       FROM cw),
      |g2 AS (SELECT doc_id, pos,
      |              sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
      |                OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |       FROM m2),
      |cuts AS (SELECT doc_id, min(pos) AS cs, max(pos) + 49 AS ce
      |         FROM g2 GROUP BY doc_id, grp)
      |SELECT doc_id, CAST(sum(ce - cs + 1) AS BIGINT) AS n_cut
      |FROM cuts GROUP BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // the gated path IS the curation entry point (producer win == election win)
    dedupRepeatedSpans(docs, win = 50, minDocs = 2)
      .filter(col("n_cut") > 0)
      .select(col("doc_id"), col("n_cut").cast("long").as("n_cut"))
  }

  /** CCNet-style boilerplate-line removal (Wenzek et al., LREC 2020 —
    * public method): drop every line whose TRIMMED form appears in at
    * least `minDocs` distinct documents (nav bars, cookie banners,
    * license footers — the shared furniture of scraped corpora), and
    * reassemble each document from its surviving lines in order.
    * Whitespace-only lines are structural, not boilerplate: they never
    * count toward the hot set and are always kept.
    *
    * Returns (idCol, n_kept, n_dropped, cleaned).
    *
    * Scale shape: explode lines (linear scan), hot-line detection is a
    * distinct + hash aggregate keyed by line content (map-side
    * combinable), membership test is a left-anti shuffle join on the
    * trimmed line, reassembly one groupBy(id) with an array_sort fold
    * (per-doc state = that doc's lines — bounded by document size, the
    * same bound `shingles` already assumes). Hot lines are by
    * definition the skewed keys of the anti-join's probe side; AQE's
    * skew-split handles the probe partitions (sk1 demonstrates the
    * mechanism), and the hot SET itself stays small relative to the
    * corpus (it is the repeated-content summary, not the corpus).
    */
  def stripBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val reserved = Seq("n_kept", "n_dropped", "cleaned").filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"input already has ${reserved.mkString(", ")} — rename before stripping")
    val base = docs.filter(col(textCol).isNotNull)
    // split(.., -1) keeps trailing empty lines — parity with the
    // oracle's string_split and a lossless n_total count
    val lines = base.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .withColumn("__key", trim(col("__line")))
    val hot = lines.filter(col("__key") =!= "")
      .select(col("__id"), col("__key")).distinct()
      .groupBy("__key").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__key").as("__hot"))
    val kept = lines.join(hot, lines("__key") === hot("__hot"), "left_anti")
    val rebuilt = kept.groupBy("__id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")), "\n").as("cleaned"))
    val totals = base.select(col(idCol).as("__id"),
      size(split(col(textCol), "\n", -1)).cast("long").as("__n_total"))
    totals.join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** D11 — boilerplate-line dedup over a DERIVED multi-line corpus:
    * the fixture's texts are single-line, so both engines split on the
    * same common-token replacement (' value ' → newline), which plants
    * identical cross-doc lines exactly where the corpus repeats
    * phrasing. Per-doc output (kept/dropped counts + a 16-hex md5 of
    * the reassembled text) pins LINE-LEVEL content and ORDER, not just
    * totals.
    */
  val lineDedupQ = QueryDef.sql(
    "d11_line_dedup",
    """WITH d AS (SELECT doc_id, replace(text, ' value ', chr(10)) AS t
      |           FROM documents WHERE text IS NOT NULL),
      |l AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
      |      FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d)),
      |hot AS (SELECT key FROM (SELECT DISTINCT trim(line) AS key, doc_id FROM l
      |                         WHERE trim(line) <> '')
      |        GROUP BY key HAVING count(*) >= 2),
      |kept AS (SELECT doc_id, pos, line FROM l
      |         WHERE trim(line) NOT IN (SELECT key FROM hot)),
      |r AS (SELECT doc_id, count(*) AS n_kept,
      |             string_agg(line, chr(10) ORDER BY pos) AS cleaned
      |      FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id)
      |SELECT tot.doc_id, coalesce(r.n_kept, 0) AS n_kept,
      |       tot.n_total - coalesce(r.n_kept, 0) AS n_dropped,
      |       substr(md5(coalesce(r.cleaned, '')), 1, 16) AS clean_sig
      |FROM tot LEFT JOIN r USING (doc_id)""".stripMargin) { (s, d) =>
    val derived = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), expr("replace(text, ' value ', chr(10))").as("t"))
    stripBoilerplateLines(derived, "doc_id", "t", minDocs = 2)
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        substring(md5(col("cleaned")), 1, 16).as("clean_sig"))
  }

  // ---------------------------------------------------- containment join

  /** ASYMMETRIC set-containment pairs: C(a→b) = |sh(a) ∩ sh(b)| /
    * |sh(a)| ≥ t — doc a's n-grams mostly inside doc b. This is the
    * relation Jaccard can't see: a tweet-length quote inside a long
    * article has tiny Jaccard but containment ≈ 1, and it is exactly
    * the shape train/test leakage and quotation-dedup care about
    * (Lee et al. 2022 §5 discuss substring containment for the same
    * reason).
    *
    * Scale: the prefix-filter bound adapts one-sided — if a misses at
    * most (1−t)·|a| of its grams from b, then a's rarest
    * ⌊(1−t)|a|⌋+1 grams (global-df order) must hit b. So only the
    * CONTAINED side explodes a prefix; the container side serves its
    * full gram list (the inverted index it already built). Candidates
    * carry a one-sided size filter (|b| ≥ t·|a| − ε; a container may
    * be arbitrarily larger). Exact verification touches candidates
    * only. Same float-boundary slack discipline as ngramJaccardOnGrams.
    */
  def containmentOnGrams(grams: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = grams.localCheckpoint(eager = true)
    val g = base.select(col(idCol), explode(col("sh")).as("gram"))
    val sz = base.select(col(idCol), size(col("sh")).as("set_sz"))
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    val prefix = g.join(dfreq, "gram")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("gram"))))
      .join(sz, Seq(idCol))
      .filter(col("rk") <=
        col("set_sz") - ceil(lit(threshold) * col("set_sz") - 1e-9) + 1)
      .select(col(idCol).as("doc_a"), col("gram"), col("set_sz").as("sz_a"))
    val full = g.select(col(idCol).as("doc_b"), col("gram"))
      .join(sz.select(col(idCol).as("doc_b"), col("set_sz").as("sz_b")),
        "doc_b")
    val cands = prefix.join(full,
        prefix("gram") === full("gram") &&
          col("doc_a") =!= col("doc_b") &&
          col("sz_b") >= lit(threshold) * col("sz_a") - 1e-9)
      .select(col("doc_a"), col("doc_b")).distinct()
      .localCheckpoint(eager = true)
    val candIds = cands.select(col("doc_a").as(idCol))
      .unionByName(cands.select(col("doc_b").as(idCol))).distinct()
    val sets = base.join(candIds, Seq(idCol), "left_semi")
    val sh = sets.select(col(idCol), col("sh"))
    cands
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** D15 — containment pairs over documents + planted quote docs
    * (first-half-of-tokens excerpts, id+1000000 — both engines build
    * the identical excerpt). FULL DuckDB oracle: brute-force ordered
    * gram-intersection replay; the engine's prefix filter must lose
    * nothing at t = 0.9.
    */
  val containmentQ = QueryDef.sql(
    "d15_containment_pairs",
    """WITH src AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(list_slice(string_split(text, ' '), 1,
      |           (len(string_split(text, ' ')) + 1) // 2), ' ')
      |  FROM documents
      |  WHERE text IS NOT NULL AND doc_id % 5 = 0
      |    AND len(string_split(text, ' ')) >= 7),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM src),
      |tri AS (SELECT doc_id,
      |               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |                    ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |               END AS sh
      |        FROM toks),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM tri),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |       GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(inter * 1.0 / sa.n, 6) AS containment
      |FROM ix JOIN sz sa ON sa.doc_id = doc_a
      |WHERE inter * 1.0 / sa.n >= 0.9""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val quotes = docs.filter(col("doc_id") % 5 === 0 &&
        size(split(col("text"), " ")) >= 7)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(expr(
          "slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2)"),
          " ").as("text"))
    val corpus = docs.unionByName(quotes)
    containmentOnGrams(shingleHashes(corpus, "doc_id", "text"), "doc_id",
      threshold = 0.9)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  // ------------------------------------------------- bloom ingest gate

  /** D16 — Bloom-filter membership gate at the ingest edge: the corpus
    * publishes an O(bits)-sized Bloom filter over content hashes; an
    * incoming batch probes it BEFORE any join or shuffle, splitting
    * into definitely-new (Bloom's zero-false-negative guarantee: a
    * miss is PROOF of novelty) and maybe-seen (forwarded to the exact
    * check — the filter only shrinks that expensive path's input;
    * only maybe-seen rows ever reach the corpus join). FULL DuckDB
    * oracle since round 9: the emitted row is the END-TO-END survivor
    * summary — batch size, dups dropped, new docs kept, kept-id
    * checksum — which is DETERMINISTIC regardless of which hashes the
    * Bloom filter happens to false-positive on (FPs just route a few
    * new docs through the exact check, which passes them anyway), so
    * DuckDB replays it with a plain NOT IN over the same batch
    * construction. The Bloom-specific invariants still gate emission
    * engine-side: zero false negatives (the guarantee), FP rate on
    * genuinely-new docs within 5× the configured 1% (Spark's
    * BloomFilter sizes to the requested FPP) — break either and the
    * row vanishes, failing the hash compare loudly.
    */
  val bloomGate = QueryDef.sql(
    "d16_bloom_dedup_gate",
    """WITH corpus AS (SELECT doc_id, text FROM documents
      |                WHERE text IS NOT NULL),
      |batch AS (
      |  SELECT doc_id + 5000000 AS doc_id, text
      |  FROM corpus WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id + 6000000 AS doc_id,
      |         text || ' fresh ' || CAST(doc_id AS VARCHAR)
      |  FROM corpus WHERE doc_id % 2 = 1),
      |kept AS (SELECT doc_id FROM batch
      |         WHERE text NOT IN (SELECT text FROM corpus))
      |SELECT (SELECT count(*) FROM batch) AS n_batch,
      |       (SELECT count(*) FROM batch) - (SELECT count(*) FROM kept)
      |         AS n_dups_dropped,
      |       (SELECT count(*) FROM kept) AS n_new_kept,
      |       (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM kept)
      |         AS kept_checksum""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val corpusHashes = docs.select(xxhash64(col("text")).as("h"))
    val nCorpus = corpusHashes.count()
    val bloom = corpusHashes.stat.bloomFilter("h", nCorpus, 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    // incoming batch: half exact re-crawls (planted dups), half new
    val batch = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat_ws(" ", col("text"), lit("fresh"), col("doc_id").cast("string"))
            .as("text")))
    val probed = batch.withColumn("h", xxhash64(col("text")))
      .withColumn("maybe_seen",
        udf((h: Long) => bloomB.value.mightContainLong(h)).apply(col("h")))
      .localCheckpoint(eager = false)
    // exact stage, maybe-seen rows ONLY: hash-keyed anti join with the
    // text itself as the verify key (candidates-then-verify — the full
    // text never shuffles for definitely-new rows)
    val corpusKeyed = docs
      .select(xxhash64(col("text")).as("h"), col("text"))
    val keptMaybe = probed.filter(col("maybe_seen"))
      .join(corpusKeyed, Seq("h", "text"), "left_anti")
    val kept = probed.filter(!col("maybe_seen"))
      .select("doc_id").unionByName(keptMaybe.select("doc_id"))
    val keptAgg = kept.agg(count(lit(1)).as("n_new_kept"),
      coalesce(sum(col("doc_id")), lit(0L)).cast("long")
        .as("kept_checksum")).head()
    val agg = probed.agg(
      sum(when(col("doc_id") < 6000000L && !col("maybe_seen"), 1L)
        .otherwise(0L)).as("n_false_negative"),
      sum(when(col("doc_id") >= 6000000L && col("maybe_seen"), 1L)
        .otherwise(0L)).as("n_false_positive"),
      sum(when(col("doc_id") < 6000000L, 1L).otherwise(0L)).as("n_dups"),
      sum(when(col("doc_id") >= 6000000L, 1L).otherwise(0L)).as("n_new"))
      .head()
    val (fn, fp, nDup, nNew) = (agg.getLong(0), agg.getLong(1),
      agg.getLong(2), agg.getLong(3))
    val spark = s; import spark.implicits._
    Seq((nDup + nNew, (nDup + nNew) - keptAgg.getLong(0),
      keptAgg.getLong(0), keptAgg.getLong(1)))
      .toDF("n_batch", "n_dups_dropped", "n_new_kept", "kept_checksum")
      .filter(lit(fn == 0L && nDup > 0L && nNew > 0L &&
        fp.toDouble / nNew < 0.05))
  }

  def all: Seq[QueryDef] =
    Seq(exact, minhash, simhashQ, simhashDedupQ, ngramJaccardQ, clusters,
      dropQ, incrementalQ, editDistQ, repeatedSubstr, stripSpansQ, lineDedupQ,
      containmentQ, bloomGate)
}
