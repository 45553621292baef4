package graft.ml

import org.scalatest.funsuite.AnyFunSuite

class SimSpec extends AnyFunSuite {

  /** The draw with replacement that snpNames made before repeats were
    * redrawn, kept inline as the reference for unchanged seeds. */
  private def plainDraw(p: Int, seed: Long): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    val alleles = "ACGT"
    IndexedSeq.tabulate(p - 2)(_ =>
      s"rs${100000 + rng.nextInt(900000)}_${alleles(rng.nextInt(4))}") ++
      IndexedSeq("rs7412_T", "rs429358_C")
  }

  test("snpNames redraws a repeated name: seed 7509125 gives 100 distinct " +
      "names at p=100") {
    val seed = 7509125L
    val plain = plainDraw(100, seed)
    assert(plain.distinct.size == 99, "the fixture seed no longer repeats")
    val names = Sim.snpNames(100, seed)
    assert(names.size == 100 && names.distinct.size == 100)
    // names before the first repeat are the plain draw's
    val firstRepeat = plain.indices.find(i => plain.take(i).contains(plain(i))).get
    assert(names.take(firstRepeat) == plain.take(firstRepeat))
    assert(names.takeRight(2) == IndexedSeq("rs7412_T", "rs429358_C"))
  }

  test("snpNames keeps the plain draw's names for a seed with no repeated " +
      "name") {
    // 4645017 repeats an rs number with another allele (two distinct
    // names); the rest are the simulator seeds the specs and queries use
    val seeds = Seq(4645017L, 99L, 55L, 31L, 19L, 606L, 77L, 321L, 7L, 123L)
    for (seed <- seeds; p <- Seq(8, 16, 100)) {
      val plain = plainDraw(p, seed)
      assert(plain.distinct.size == p, s"seed $seed repeats a name at p $p")
      assert(Sim.snpNames(p, seed) == plain, s"seed $seed, p $p")
    }
    val nums = plainDraw(100, 4645017L).map(_.takeWhile(_ != '_'))
    assert(nums.distinct.size == 99)
  }
}
