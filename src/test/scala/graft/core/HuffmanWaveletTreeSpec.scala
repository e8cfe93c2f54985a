package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class HuffmanWaveletTreeSpec extends AnyFunSuite {

  test("rank matches naive counting on skewed and uniform sequences") {
    val rnd = new Random(42)
    for (sigma <- Seq(2, 3, 17, 300)) {
      val n = 2000
      // skew: half the positions use symbol 0
      val seq = Array.fill(n)(if (rnd.nextBoolean()) 0 else rnd.nextInt(sigma))
      val wt = HuffmanWaveletTree(seq, sigma)
      for (_ <- 0 until 300) {
        val pos = rnd.nextInt(n + 1)
        val sym = rnd.nextInt(sigma)
        assert(wt.rank(pos, sym) == TestOracles.countPrevOccurrences(sym, seq, pos),
          s"sigma=$sigma pos=$pos sym=$sym")
      }
    }
  }

  test("inverseSelect returns (symbol, rank-before) at every position") {
    val rnd = new Random(7)
    val sigma = 50
    val seq = Array.fill(3000)(rnd.nextInt(sigma))
    val wt = HuffmanWaveletTree(seq, sigma)
    var i = 0
    while (i < seq.length) {
      val packed = wt.inverseSelect(i)
      assert((packed & 0xffffL).toInt == seq(i), s"access($i)")
      assert((packed >>> 16).toInt == TestOracles.countPrevOccurrences(seq(i), seq, i), s"rank@$i")
      i += 1
    }
  }

  test("agrees with naive counting on uniform random input (sigma=120)") {
    // no symbol dominates, so the Huffman shape is close to a balanced tree
    val rnd = new Random(3)
    val sigma = 120
    val seq = Array.fill(5000)(rnd.nextInt(sigma))
    val wt = HuffmanWaveletTree(seq, sigma)
    for (_ <- 0 until 500) {
      val pos = rnd.nextInt(seq.length + 1)
      val sym = rnd.nextInt(sigma)
      assert(wt.rank(pos, sym) == TestOracles.countPrevOccurrences(sym, seq, pos),
        s"pos=$pos sym=$sym")
    }
    var i = 0
    while (i < seq.length) {
      val packed = wt.inverseSelect(i)
      assert((packed & 0xffffL).toInt == seq(i), s"access($i)")
      assert((packed >>> 16).toInt == TestOracles.countPrevOccurrences(seq(i), seq, i), s"rank@$i")
      i += 1
    }
  }

  test("decodeAll equals the sequence on skewed and uniform input, Rank9 and RRR") {
    val rnd = new Random(11)
    for (sigma <- Seq(2, 3, 17, 120, 300); compress <- Seq(false, true)) {
      val skewed = Array.fill(3000)(if (rnd.nextBoolean()) 0 else rnd.nextInt(sigma))
      val uniform = Array.fill(3000)(rnd.nextInt(sigma))
      for (seq <- Seq(skewed, uniform))
        assert(HuffmanWaveletTree(seq, sigma, compress).decodeAll().sameElements(seq),
          s"sigma=$sigma compress=$compress")
    }
    assert(HuffmanWaveletTree(Array(0, 0, 0), 1).decodeAll().sameElements(Array(0, 0, 0)))
    assert(HuffmanWaveletTree(Array.empty[Int], 1).decodeAll().isEmpty)
  }

  test("rank, inverseSelect and decodeAll match running counts: sigma up to 40k, skewed, Rank9 and RRR") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // symbol 0 first, so a sequence of one distinct symbol is the supported all-zero one;
    // the sixth power skews frequencies towards small symbols and deepens the tree
    val gen = for {
      sigma <- Gen.choose(2, 40000); n <- Gen.choose(1, 20000); power <- Gen.oneOf(1, 3, 6)
      seed <- Gen.long
    } yield {
      val r = new Random(seed)
      val seq = Array.tabulate(n)(i => if (i == 0) 0 else (math.pow(r.nextDouble(), power) * sigma).toInt)
      (seq, sigma, seed)
    }
    val prop = Prop.forAllNoShrink(gen) { case (seq, sigma, seed) =>
      val r = new Random(seed)
      Seq(false, true).forall { compress =>
        val wt = HuffmanWaveletTree(seq, sigma, compress)
        val count = new Array[Int](sigma)
        var ok = wt.decodeAll().sameElements(seq)
        var i = 0
        while (ok && i <= seq.length) {
          if (i % 97 == 0 || i == seq.length) {
            val syms = Seq(seq(r.nextInt(seq.length)), r.nextInt(sigma))
            ok = syms.forall(sym => wt.rank(i, sym) == count(sym))
          }
          if (ok && i < seq.length) {
            ok = wt.inverseSelect(i) == ((count(seq(i)).toLong << 16) | seq(i))
            count(seq(i)) += 1
          }
          i += 1
        }
        ok
      }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, s"property failed: ${res.status}")
    assert(intercept[IllegalArgumentException](HuffmanWaveletTree(Array(0, 1), 65537))
      .getMessage.contains("sigma must be at most 65536"))
  }

  test("degenerate single-symbol sequence (the sentinel-only corpus)") {
    val wt = HuffmanWaveletTree(Array(0), 1)
    assert(wt.rank(1, 0) == 1 && wt.rank(0, 0) == 0)
    assert(wt.inverseSelect(0) == 0L)
  }

  test("serde round-trip preserves answers and hashCode") {
    val rnd = new Random(42)
    val seq = Array.fill(4000)(if (rnd.nextInt(4) == 0) 1 else rnd.nextInt(64))
    val wt = HuffmanWaveletTree(seq, 64)
    val back = Serde.readFromByteArray(HuffmanWaveletTree.read,
      Serde.writeToByteArray[HuffmanWaveletTree]((x, o) => x.write(o), wt))
    assert(back.hashCode == wt.hashCode)
    (0 until 4000 by 97).foreach { p =>
      assert(back.rank(p, p % 64) == wt.rank(p, p % 64))
      assert(back.inverseSelect(p) == wt.inverseSelect(p))
    }
  }
}
