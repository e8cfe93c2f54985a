package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class IntVectorSpec extends AnyFunSuite {
  test("packed values round-trip across word boundaries for many widths") {
    val rnd = new Random(42)
    for (width <- Seq(1, 3, 7, 13, 17, 31, 45, 63)) {
      val n = 1000
      val expected = Array.fill(n)(math.abs(rnd.nextLong()) & Bits.lowMask(width))
      val v = new IntVector(n, width)
      expected.zipWithIndex.foreach { case (x, i) => v.setValue(i, x) }
      expected.zipWithIndex.foreach { case (x, i) => assert(v.getValue(i) == x, s"width=$width i=$i") }
    }
  }

  test("serde round-trip preserves equality and hashCode") {
    val v = new IntVector(100, 13)
    (0 until 100).foreach(i => v.setValue(i, (i * 37 % 8000).toLong))
    val bytes = Serde.writeToByteArray[IntVector]((x, o) => x.write(o), v)
    val back = Serde.readFromByteArray(IntVector.read, bytes)
    assert(back == v && back.hashCode == v.hashCode)
  }
}

class RankBitVectorSpec extends AnyFunSuite {
  test("rankOnes/rankZeroes/access match a naive bit array at several densities") {
    val rnd = new Random(42)
    for (density <- Seq(0.01, 0.5, 0.99); n <- Seq(1, 63, 64, 65, 511, 512, 513, 10000)) {
      val bits = Array.fill(n)(rnd.nextDouble() < density)
      val v = TestOracles.bitVector(n)(bits)
      var ones = 0
      var i = 0
      while (i < n) {
        assert(v.rankOnes(i) == ones, s"rankOnes($i) density=$density n=$n")
        assert(v.rankZeroes(i) == i - ones)
        assert(v.access(i) == bits(i))
        if (bits(i)) ones += 1
        i += 1
      }
      assert(v.rankOnes(n) == ones)
    }
  }

  test("serde round-trip") {
    val v = TestOracles.bitVector(1000)(_ % 3 == 0)
    val bytes = Serde.writeToByteArray[RankBitVector]((x, o) => x.write(o), v)
    val back = Serde.readFromByteArray(RankBitVector.read, bytes)
    assert(back == v && back.rankOnes(997) == v.rankOnes(997))
  }
}

class SuffixArraySpec extends AnyFunSuite {
  private def check(s: Array[Int], sigma: Int): Unit = {
    val got = SuffixArrays.saIs(s, sigma)
    val want = TestOracles.naiveSa(s)
    assert(got.toSeq == want.toSeq, s"input=${s.mkString(",")}")
  }

  test("SA-IS matches naive oracle on random small inputs (sentinel-terminated)") {
    val rnd = new Random(42)
    for (_ <- 0 until 300) {
      val n = 1 + rnd.nextInt(40)
      val s = Array.fill(n)(1 + rnd.nextInt(4)) :+ 0
      check(s, 6)
    }
    for (_ <- 0 until 100) { // larger alphabet + longer
      val n = 50 + rnd.nextInt(300)
      val s = Array.fill(n)(1 + rnd.nextInt(60)) :+ 0
      check(s, 62)
    }
  }

  test("SA-IS handles degenerate inputs") {
    check(Array(0), 1)
    check(Array(1, 0), 2)
    check(Array(1, 1, 1, 1, 0), 2)
    check(Array(2, 1, 2, 1, 2, 1, 0), 3)
    check(Array.fill(5000)(1) :+ 0, 2) // long run
  }

  test("SA-IS matches prefix doubling: n up to 20k, sigma 2 to 40,000, periodic and Fibonacci") {
    import org.scalacheck.{Gen, Prop, Test}
    // values in [1, sigma), then the sentinel 0
    val uniform = for { sigma <- Gen.choose(2, 40000); n <- Gen.choose(0, 20000); seed <- Gen.long }
      yield { val r = new Random(seed); (Array.fill(n)(1 + r.nextInt(sigma - 1)), sigma) }
    val skewed = for { sigma <- Gen.choose(2, 40000); n <- Gen.choose(0, 20000); seed <- Gen.long }
      yield {
        val r = new Random(seed)
        (Array.fill(n)(1 + (math.pow(r.nextDouble(), 6) * (sigma - 1)).toInt), sigma)
      }
    val periodic = for {
      sigma <- Gen.choose(2, 40000); period <- Gen.choose(1, 64); n <- Gen.choose(0, 20000)
      seed <- Gen.long
    } yield {
      val r = new Random(seed)
      val unit = Array.fill(period)(1 + r.nextInt(sigma - 1))
      (Array.tabulate(n)(i => unit(i % period)), sigma)
    }
    val fibonacci = for {
      sigma <- Gen.choose(3, 40000); n <- Gen.choose(0, 20000); a <- Gen.choose(1, sigma - 1)
    } yield (TestOracles.fibonacciWord(n, a, 1 + (a % (sigma - 1))), sigma)
    val gen = Gen.oneOf(uniform, skewed, periodic, fibonacci)
    val prop = Prop.forAllNoShrink(gen) { case (body, sigma) =>
      val s = body :+ 0
      java.util.Arrays.equals(SuffixArrays.saIs(s, sigma), TestOracles.prefixDoublingSa(s))
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(res.passed, s"property failed: ${res.status}")
    // inputs that reach the recursion at least two levels deep
    val fib = TestOracles.fibonacciWord(17711, 1, 2) :+ 0
    val periodicText = Array.tabulate(20000)(i => Array(3, 1, 4, 1, 5, 9, 2, 6, 5, 3)(i % 10)) :+ 0
    for ((s, sigma) <- Seq((fib, 3), (periodicText, 10))) {
      val depth = TestOracles.saIsDepth(s)
      assert(depth >= 2, s"recursion depth $depth")
      assert(java.util.Arrays.equals(SuffixArrays.saIs(s, sigma), TestOracles.prefixDoublingSa(s)))
    }
    // the prefix-doubling oracle agrees with the naive one where the naive one is cheap
    val rnd = new Random(5)
    for (_ <- 0 until 50) {
      val s = Array.fill(1 + rnd.nextInt(200))(1 + rnd.nextInt(5)) :+ 0
      assert(TestOracles.prefixDoublingSa(s).toSeq == TestOracles.naiveSa(s).toSeq)
    }
  }

  test("SuffixArraySearch count/locate match the overlap oracle on the log corpus") {
    val text = TestOracles.LogChars.take(50000)
    val search = new SuffixArraySearch(text)
    val rnd = new Random(42)
    for (_ <- 0 until 50) {
      val start = rnd.nextInt(text.length - 32)
      val pat = java.util.Arrays.copyOfRange(text, start, start + 1 + rnd.nextInt(31))
      assert(search.count(pat) == TestOracles.countOverlapping(text, pat))
      assert(search.locate(pat).toSeq == TestOracles.locateOverlapping(text, pat).toSeq)
    }
    assert(search.count("zzz-never-there".toCharArray) == 0)
  }
}

class BwtSpec extends AnyFunSuite {
  test("Wikipedia BANANA example") {
    assert(new String(Bwt.transform("BANANA".toCharArray)) == "ANNB\u0000AA")
  }

  test("BANANA with embedded sentinel") {
    assert(new String(Bwt.transform("BANANA\u0000".toCharArray)) == "\u0000ANNB\u0000AA")
  }

  test("short string example") {
    assert(new String(Bwt.transform("the_fm_index_is_a_great_data_structure".toCharArray)) ==
      "esteamxa_tedu_nrhrd__t__fiugti_aa\u0000scrte")
  }

  test("BWT increases redundancy on natural text") {
    val t = TestOracles.LongerText
    assert(Bwt.redundancy(Bwt.transform(t)) > Bwt.redundancy(t))
  }
}
