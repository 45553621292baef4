package graftbench

import java.util.SplittableRandom

/** Seeded input generators. The seed decides every generated value;
  * the program under test sees only the rows built here. */
object Inputs {

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** A fixed vocabulary; document words are drawn Zipf(1) over it so a
    * few words are common and most are rare, like natural text. */
  private val Vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "da",
      "ve", "zu", "ho", "gi", "fa", "be", "wo")
    Array.tabulate(4096)(i =>
      syll(i & 15) + syll((i >> 4) & 15) + syll((i >> 8) & 15))
  }

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  /** `n` distinct documents of 20 to 80 words with ids `firstId` up. */
  def docs(seed: Long, n: Int, firstId: Long): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.HashSet[String]()
    IndexedSeq.tabulate(n) { i =>
      var t = ""
      while (t.isEmpty || seen.contains(t))
        t = Seq.fill(20 + r.nextInt(61))(word(r)).mkString(" ")
      seen += t
      Doc(firstId + i, t)
    }
  }

  /** `n` isotropic unit vectors of `dim` floats with ids `firstId` up
    * (the near-isotropic regime the engine's recall gates are set for). */
  def vecs(seed: Long, n: Int, firstId: Long, dim: Int): IndexedSeq[Vec] = {
    val r = new SplittableRandom(seed)
    IndexedSeq.tabulate(n) { i =>
      val x = Array.fill(dim)(gauss(r))
      val norm = math.sqrt(x.map(a => a * a).sum)
      Vec(firstId + i, x.map(a => (a / norm).toFloat))
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** `k` distinct picks from `xs`, seeded. */
  def sample[T](xs: IndexedSeq[T], k: Int, seed: Long): IndexedSeq[T] = {
    val r = new SplittableRandom(seed)
    val idx = Array.range(0, xs.length)
    val m = math.min(k, xs.length)
    for (i <- 0 until m) {
      val j = i + r.nextInt(idx.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(m).toIndexedSeq.map(xs)
  }

  /** Mixes a run seed with a stream name, so each input has its own
    * stream and changing one input leaves the others as they were. */
  def derive(seed: Long, stream: String): Long =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L +
      scala.util.hashing.MurmurHash3.stringHash(stream)).nextLong()
}
