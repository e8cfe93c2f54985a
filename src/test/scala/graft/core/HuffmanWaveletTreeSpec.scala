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
