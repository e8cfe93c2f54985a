package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class VariableWidthIntVectorSpec extends AnyFunSuite {
  test("variable-width values round-trip at caller-tracked offsets") {
    val rnd = new Random(42)
    val v = new VariableWidthIntVector(100000)
    val entries = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    var pos = 0L
    while (pos < 99000) {
      val width = 1 + rnd.nextInt(63)
      val value = rnd.nextLong() & Bits.lowMask(width)
      v.setValue(pos, value, width)
      entries += ((pos, value, width))
      pos += width
    }
    entries.foreach { case (p, value, w) => assert(v.getValue(p, w) == value, s"pos=$p w=$w") }
  }

  test("serde round-trip") {
    val v = new VariableWidthIntVector(1000)
    v.setValue(0, 123, 10); v.setValue(10, 77, 7)
    val back = Serde.readFromByteArray(VariableWidthIntVector.read,
      Serde.writeToByteArray[VariableWidthIntVector]((x, o) => x.write(o), v))
    assert(back == v && back.getValue(0, 10) == 123 && back.getValue(10, 7) == 77)
  }
}

class RrrVectorSpec extends AnyFunSuite {

  test("offset encode/decode is a bijection per class, ordered by numeric value") {
    val byClass = (0 until (1 << 15)).groupBy(java.lang.Integer.bitCount)
    for ((c, words) <- byClass) {
      val sorted = words.sorted
      sorted.zipWithIndex.foreach { case (w, i) =>
        assert(RrrVector.encodeOffset(w) == i, s"class=$c word=$w")
        assert(RrrVector.decodeOffset(c, i) == w)
      }
      assert(RrrVector.OffsetWidth(c) == (if (sorted.length <= 1) 0 else Bits.minBits(sorted.length - 1)))
    }
  }

  test("access/rankOnes/rankZeroes match a naive bit array across densities and sample rates") {
    val rnd = new Random(42)
    for (density <- Seq(0.01, 0.5, 0.95); rate <- Seq(1, 2, 8, 32); n <- Seq(14, 15, 16, 10000)) {
      val bits = Array.fill(n)(rnd.nextDouble() < density)
      val v = RrrVector.fromBits(bits, rate)
      var ones = 0
      var i = 0
      while (i < n) {
        assert(v.access(i) == bits(i), s"access($i) d=$density r=$rate n=$n")
        assert(v.rankOnes(i) == ones, s"rank($i) d=$density r=$rate n=$n")
        assert(v.rankZeroes(i) == i - ones)
        if (bits(i)) ones += 1
        i += 1
      }
      assert(v.rankOnes(n) == ones)
    }
  }

  test("answers equal the plain RankBitVector on the same bits") {
    val rnd = new Random(7)
    val n = 50000
    val plain = TestOracles.bitVector(n)(_ => rnd.nextInt(9) == 0)
    val rrr = RrrVector(plain, 16)
    (0 until n by 137).foreach { i =>
      assert(rrr.access(i) == plain.access(i))
      assert(rrr.rankOnes(i) == plain.rankOnes(i))
    }
    // entropy coding pays off on sparse input (~11% density)
    assert(rrr.sizeInBytes < plain.sizeInBytes)
  }

  test("serde round-trip preserves equality, hashCode and answers") {
    val rnd = new Random(42)
    val bits = Array.fill(4096)(rnd.nextBoolean())
    val v = RrrVector.fromBits(bits, 8)
    val back = Serde.readFromByteArray(RrrVector.read,
      Serde.writeToByteArray[RrrVector]((x, o) => x.write(o), v))
    assert(back == v && back.hashCode == v.hashCode)
    (0 until 4096 by 61).foreach(i => assert(back.rankOnes(i) == v.rankOnes(i)))
  }
}
