package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import TestOracles._

/** Differential + error-path tests mirroring the reference suite's semantics
  * (/root/reference/indices/src/test/java/com/dynatrace/fm/FmIndexTest.java): overlap
  * counting, multi-sentinel handling, sample-rate sweeps, serialization round-trips,
  * boundary extraction corner cases, and exact error messages.
  */
class FmIndexSpec extends AnyFunSuite {

  private val sampleRates = Seq(1, 2, 4, 8, 16)
  private def assertLocations(count: Int, locations: Array[Int], pat: Array[Char], text: Array[Char]): Unit = {
    val expected = locateOverlapping(text, pat)
    assert(count == expected.length, s"count for '${new String(pat)}'")
    assert(locations.take(count).sorted.toSeq == expected.toSeq)
  }

  test("RRR-compressed build: identical count/locate/extract, smaller bytes, round-trips") {
    val rnd = new Random(1234)
    val fast = new FmIndexBuilder().setSampleRate(8).build(LogChars)
    val small = new FmIndexBuilder().setSampleRate(8).setCompression(true).build(LogChars)
    for (_ <- 0 until 60) {
      val start = rnd.nextInt(LogCorpus.length - 32)
      val pat = LogCorpus.substring(start, start + 1 + rnd.nextInt(31)).toCharArray
      assert(small.count(pat) == fast.count(pat))
      assert(small.locateAll(pat).toSeq == fast.locateAll(pat).toSeq)
    }
    val a = rnd.nextInt(LogCorpus.length - 64)
    assert(small.extractString(a, a + 64) == fast.extractString(a, a + 64))
    // RRR round-trips through the kind-byte serde and stays compressed
    val back = FmIndex.deserialize(small.serialize())
    assert(back.hashCode == small.hashCode)
    assert(back.count("the".toCharArray) == fast.count("the".toCharArray))
    val fastBytes = fast.serialize().length
    val smallBytes = small.serialize().length
    info(s"serialized bytes: rank9=$fastBytes rrr=$smallBytes " +
      f"(${100.0 * smallBytes / fastBytes}%.1f%%)")
    assert(smallBytes < fastBytes, "RRR build should serialize smaller on log text")
  }

  test("count on a simple string") {
    val text = "This is a long string\u0000".toCharArray
    val fmi = new FmIndexBuilder().setEnableExtraction(false).build(text)
    assert(fmi.count("is".toCharArray) == countOverlapping(text, "is".toCharArray))
  }

  test("count with multiple embedded sentinels") {
    val text = "This \u0000is a \u0000long string\u0000".toCharArray
    val fmi = FmIndex.build(text, 4)
    assert(fmi.count("is".toCharArray) == countOverlapping(text, "is".toCharArray))
    assert(fmi.count("\u0000".toCharArray) == countOverlapping(text, "\u0000".toCharArray))
  }

  test("count of a partial and sliced pattern") {
    val text = "This is a long string\u0000".toCharArray
    val sub = "is a long".toCharArray
    val fmi = new FmIndexBuilder().build(text)
    assert(fmi.count(sub, 0, 2) == countOverlapping(text, "is".toCharArray))
    assert(fmi.count(sub, 2, 1) == countOverlapping(text, " ".toCharArray))
  }

  test("count and locate of non-existing patterns return 0") {
    val text = "This is a long string\u0000".toCharArray
    val fmi = new FmIndexBuilder().build(text)
    assert(fmi.count("baaa".toCharArray) == 0)
    assert(fmi.locate("baaa".toCharArray, new Array[Int](0)) == 0)
    assert(fmi.count("does not exist here".toCharArray) == 0)
    assert(fmi.count("never seen".toCharArray) == 0)
    assert(fmi.locate("does not exist here".toCharArray, new Array[Int](1)) == 0)
  }

  test("count from the log corpus across sample rates") {
    val rnd = new Random(42)
    for (rate <- sampleRates) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(LogChars)
      for (_ <- 0 until 100) {
        val start = rnd.nextInt(LogCorpus.length - 32)
        val pat = LogCorpus.substring(start, start + 1 + rnd.nextInt(31)).toCharArray
        assert(fmi.count(pat) == countOverlapping(LogChars, pat), s"rate=$rate pat='${new String(pat)}'")
      }
    }
  }

  test("locate from the log corpus across sample rates") {
    val rnd = new Random(42)
    val locations = new Array[Int](10000)
    for (rate <- sampleRates) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(LogChars)
      for (_ <- 0 until 100) {
        val start = rnd.nextInt(LogCorpus.length - 32)
        val pat = LogCorpus.substring(start, start + 16 + rnd.nextInt(16)).toCharArray
        val count = fmi.locate(pat, 0, pat.length, locations, 10000)
        assertLocations(count, locations, pat, LogChars)
      }
    }
  }

  test("locate honors maxMatches") {
    val fmi = new FmIndexBuilder().build(LogChars)
    val count = fmi.locate("INFO".toCharArray, 0, 4, new Array[Int](100), 100)
    assert(count == 100)
  }

  test("locate with randomly injected sentinels") {
    val rnd = new Random(42)
    val modified = LogChars.clone()
    for (_ <- 0 until 1000) modified(rnd.nextInt(modified.length - 2)) = '\u0000'
    val locations = new Array[Int](100000)
    for (rate <- Seq(1, 4, 16)) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(modified)
      for (_ <- 0 until 100) {
        val start = rnd.nextInt(modified.length - 32)
        val pat = java.util.Arrays.copyOfRange(modified, start, start + 1 + rnd.nextInt(31))
        val count = fmi.locate(pat, 0, pat.length, locations, -1)
        assertLocations(count, locations, pat, modified)
      }
    }
  }

  test("serialize -> deserialize preserves hashCode and locate answers") {
    val rnd = new Random(42)
    val locations = new Array[Int](100000)
    for (rate <- Seq(1, 8)) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).setEnableExtraction(false).build(LogChars)
      val back = FmIndex.deserialize(fmi.serialize())
      assert(back.hashCode == fmi.hashCode)
      for (_ <- 0 until 20) {
        val start = rnd.nextInt(LogCorpus.length - 32)
        val pat = LogCorpus.substring(start, start + 1 + rnd.nextInt(31)).toCharArray
        val count = back.locate(pat, 0, pat.length, locations, -1)
        assertLocations(count, locations, pat, LogChars)
      }
    }
  }

  /** Offsets of the SA-sample bitvector kind byte and the wavelet kind byte, found by
    * walking the layout FmIndex.write emits.
    */
  private def kindByteOffsets(bytes: Array[Byte]): (Int, Int) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    def pos = bytes.length - in.available()
    in.readByte() // serial version
    in.readInt() // sampleRate
    val extract = in.readBoolean()
    in.readInt() // length
    in.readInt() // bitWidth
    in.skipBytes(6 * in.readInt()) // (int char, short code) alphabet entries
    in.skipBytes(4 * in.readInt()) // lookUp
    in.skipBytes(4 * in.readInt()) // cumulative
    IntVector.read(in)
    if (extract) IntVector.read(in)
    val sampledKind = pos
    BitSeqSerde.read(in)
    (sampledKind, pos)
  }

  test("deserialize rejects unknown wavelet and bitvector kind bytes") {
    val bytes = new FmIndexBuilder().setSampleRate(8).build(LogChars).serialize()
    val (sampledKind, waveletKind) = kindByteOffsets(bytes)
    assert(bytes(sampledKind) == 0 && bytes(waveletKind) == 1)
    def corrupt(at: Int, b: Int): Unit = {
      val bad = bytes.clone()
      bad(at) = b.toByte
      val e = intercept[java.io.IOException](FmIndex.deserialize(bad))
      assert(e.getMessage.contains(s"kind byte $b"), e.getMessage)
    }
    // 0 and 2 are the kind bytes older builds wrote for other wavelet engines
    Seq(0, 2, 3, 0x7f, 0xff).foreach(corrupt(waveletKind, _))
    Seq(2, 3, 0x7f, 0xff).foreach(corrupt(sampledKind, _))
  }

  test("serialized bytes are pinned: golden hashes at sample rates 8 and 32, Rank9 and RRR") {
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    // serial version 1 as persisted shard tables hold it: a mismatch means bytes
    // written earlier would no longer read back the same index
    val golden = Seq(
      (8, false) -> "2dcd318ae688404c7cbee91f52a996002ec0c5677660ab58122a4382339911a0",
      (8, true) -> "d83b03e38c707bc7e914333e276135ce3224e0313135b32ebf5e5dc9ee2039c9",
      (32, false) -> "7c8d68b922643f44630b524640f5cb799e532c094b8b5b5eb03e7baddcf03a5f",
      (32, true) -> "ddb2ed6df89a624c6ef8fde29314c6ddd1a399857fe8d65efdaaa8f3251c33ff")
    val got = golden.map { case (k @ (rate, compress), _) =>
      k -> sha256(new FmIndexBuilder().setSampleRate(rate).setCompression(compress)
        .build(LogChars).serialize())
    }
    assert(got == golden)
  }

  test("locate with sliced substring") {
    val rnd = new Random(42)
    val locations = new Array[Int](10000)
    val fmi = new FmIndexBuilder().setSampleRate(4).build(LogChars)
    for (_ <- 0 until 100) {
      val start = rnd.nextInt(LogCorpus.length - 64)
      val sub = LogCorpus.substring(start, start + 32 + rnd.nextInt(32)).toCharArray
      val subStart = rnd.nextInt(8)
      val subEnd = subStart + 16 + rnd.nextInt(sub.length - subStart - 16 - 1) min sub.length
      val count = fmi.locate(sub, subStart, subEnd - subStart, locations, 10000)
      assertLocations(count, locations, java.util.Arrays.copyOfRange(sub, subStart, subEnd), LogChars)
    }
  }

  test("byte patterns via UTF-8 conversion locate correctly") {
    val rnd = new Random(42)
    val fmi = new FmIndexBuilder().setSampleRate(2).build(LogChars)
    val dest = new Array[Char](64)
    val locations = new Array[Int](50000)
    for (_ <- 0 until 100) {
      val start = rnd.nextInt(LogCorpus.length - 32)
      val aux = LogCorpus.substring(start, start + 1 + rnd.nextInt(31))
      val bytes = aux.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val size = FmIndex.convertBytePatternToCharPattern(bytes, 0, bytes.length, dest)
      val count = fmi.locate(dest, 0, size, locations, -1)
      assertLocations(count, locations, aux.toCharArray, LogChars)
    }
  }

  test("UTF-8 conversion: 4-byte char within range and beyond range") {
    val ok = Array[Byte]('a'.toByte, 0xf0.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 'c'.toByte)
    assert(FmIndex.convertBytePatternToCharPattern(ok, 0, ok.length, new Array[Char](3)) == 3)
    val big = Array[Byte]('a'.toByte, 0xf7.toByte, 0xb8.toByte, 0xb8.toByte, 0xb8.toByte, 'c'.toByte)
    val e = intercept[RuntimeException] {
      FmIndex.convertBytePatternToCharPattern(big, 0, big.length, new Array[Char](3))
    }
    assert(e.getMessage == "Found a character that exceeds (32767): it was 2068024")
  }

  test("alphabet larger than 32767 symbols is rejected") {
    val text = Array.tabulate(Short.MaxValue + 1)(i => i.toChar)
    val e = intercept[IllegalArgumentException] { FmIndex.build(text, 32) }
    assert(e.getMessage == "Input has more than 32767 different symbols")
  }

  test("extract full corpus and random slices across sample rates") {
    val rnd = new Random(42)
    for (rate <- sampleRates) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(LogChars)
      assert(fmi.extractString(0, LogChars.length) == LogCorpus, s"full extract rate=$rate")
      for (_ <- 0 until 100) {
        val start = rnd.nextInt(LogChars.length - 100)
        val end = start + rnd.nextInt(100)
        assert(fmi.extractString(start, end) == LogCorpus.substring(start, end))
      }
    }
  }

  test("decodeAll equals the input and extract(0, n): rates 1/8/32, Rank9 and RRR") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val small = Gen.listOf(Gen.oneOf('a', 'b', 'c', '\u0000', '\n')).map(_.mkString)
    val text = Gen.listOf(Gen.frequency(8 -> Gen.choose(' ', '~'), 1 -> Gen.const('\u0000'),
      1 -> Gen.choose('\u4e00', '\u4eff'))).map(_.mkString)
    // more than 1024 distinct symbols: the alphabet fingerprint's c & 1023 aliases
    val wide = Gen.choose(1200, 1600).map { n =>
      val rnd = new Random(n)
      Array.fill(4 * n)((0x100 + rnd.nextInt(n)).toChar).mkString
    }
    val edge = Gen.oneOf("", "a", "aaaa", "\u0000", "\u0000\u0000x", "\n")
    val gen = Gen.frequency(3 -> small, 4 -> text, 1 -> wide, 2 -> edge)
    val prop = Prop.forAll(gen) { s =>
      val in = s.toCharArray
      Seq(1, 8, 32).forall { rate =>
        Seq(false, true).forall { compress =>
          val fm = FmIndex.build(in, rate, compress = compress)
          val decoded = fm.decodeAll()
          java.util.Arrays.equals(decoded, in) &&
            fm.extractString(0, in.length) == new String(decoded)
        }
      }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(150), prop)
    assert(res.passed, s"property failed: ${res.status}")
    val wideFm = FmIndex.build(wide.sample.get.toCharArray, 8)
    assert(wideFm.getAlphabetLength > 1025)
    val noExtract = FmIndex.build("abc".toCharArray, 8, enableExtract = false)
    assert(intercept[RuntimeException](noExtract.decodeAll()).getMessage ==
      "Text recovery not enabled at build time")
  }

  test("extraction errors: disabled, bounds, small destination") {
    val noExtract = new FmIndexBuilder().setEnableExtraction(false).build(LogChars)
    assert(intercept[RuntimeException](noExtract.extract(50, 100, new Array[Char](50), 0))
      .getMessage == "Text recovery not enabled at build time")
    assert(intercept[RuntimeException](noExtract.extractUntilBoundary(50, new Array[Char](50), 0, '\n'))
      .getMessage == "Text recovery not enabled at build time")

    val fmi = new FmIndexBuilder().build(LogChars)
    assert(intercept[RuntimeException](fmi.extract(-5, 100, new Array[Char](50), 0))
      .getMessage == "Requested position less than 0")
    assert(intercept[RuntimeException](fmi.extract(LogChars.length, LogChars.length + 50, new Array[Char](50), 0))
      .getMessage == "Stop position longer than index string")
    assert(intercept[RuntimeException](fmi.extract(50, 100, new Array[Char](10), 0))
      .getMessage == "Supplied destination is not large enough")
    assert(intercept[RuntimeException](fmi.extractUntilBoundary(-5, new Array[Char](50), 0, '\n'))
      .getMessage == "Requested position less than 0")
    assert(intercept[RuntimeException](fmi.extractUntilBoundary(LogChars.length + 1, new Array[Char](50), 0, '\n'))
      .getMessage == "Requested position longer than index string")
    assert(intercept[IllegalArgumentException](fmi.extractUntilBoundary(50, new Array[Char](0), 0, '\n'))
      .getMessage == "Supplied destination for extraction has size zero")
  }

  test("boundary char not in alphabet is rejected for all three variants") {
    val fmi = new FmIndexBuilder().build(LogChars)
    val missing = 'ሴ'
    for (f <- Seq[() => Int](
      () => fmi.extractUntilBoundary(50, new Array[Char](50), 0, missing),
      () => fmi.extractUntilBoundaryLeft(50, new Array[Char](50), 0, missing),
      () => fmi.extractUntilBoundaryRight(50, new Array[Char](50), 0, missing))) {
      assert(intercept[IllegalArgumentException](f()).getMessage == "Boundary does not exist")
    }
  }

  test("extractUntilBoundary corner cases (seeds x sample rates on the fixture string)") {
    val text = BoundaryText.toCharArray
    for (seed <- Seq(0, 1, 14, 66); rate <- Iterator.iterate(1)(_ * 2).takeWhile(_ <= 256)) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(BoundaryText.toCharArray)
      val dest = new Array[Char](100)

      var n = fmi.extractUntilBoundary(seed, dest, 0, '\n')
      assert(new String(dest, 0, n) == extractUntilBoundary(text, seed, '\n'), s"both seed=$seed rate=$rate")

      n = fmi.extractUntilBoundaryLeft(seed, dest, 0, '\n')
      assert(new String(dest, 0, n) == extractUntilBoundaryLeft(text, seed, '\n'), s"left seed=$seed rate=$rate")

      n = fmi.extractUntilBoundaryRight(seed, dest, 0, '\n')
      assert(new String(dest, 0, n) == extractUntilBoundaryRight(text, seed, '\n'), s"right seed=$seed rate=$rate")
    }
  }

  test("extractUntilBoundary{,Left,Right} vs oracle on random log seeds") {
    val rnd = new Random(42)
    val dest = new Array[Char](1 << 15)
    for (rate <- sampleRates) {
      val fmi = new FmIndexBuilder().setSampleRate(rate).build(LogChars)
      for (_ <- 0 until 100) {
        val seed = rnd.nextInt(LogChars.length - 100)
        var n = fmi.extractUntilBoundary(seed, dest, 0, '\n')
        assert(new String(dest, 0, n) == extractUntilBoundary(LogChars, seed, '\n'), s"both seed=$seed rate=$rate")
        n = fmi.extractUntilBoundaryLeft(seed, dest, 0, '\n')
        assert(new String(dest, 0, n) == extractUntilBoundaryLeft(LogChars, seed, '\n'), s"left seed=$seed rate=$rate")
        n = fmi.extractUntilBoundaryRight(seed, dest, 0, '\n')
        assert(new String(dest, 0, n) == extractUntilBoundaryRight(LogChars, seed, '\n'), s"right seed=$seed rate=$rate")
      }
    }
  }

  test("serialize -> deserialize preserves boundary extraction") {
    val rnd = new Random(42)
    val dest = new Array[Char](1 << 15)
    val fmi = new FmIndexBuilder().setSampleRate(8).build(LogChars)
    val back = FmIndex.deserialize(fmi.serialize())
    assert(back.hashCode == fmi.hashCode)
    for (_ <- 0 until 100) {
      val seed = rnd.nextInt(LogChars.length - 100)
      val n = back.extractUntilBoundary(seed, dest, 0, '\n')
      assert(new String(dest, 0, n) == extractUntilBoundary(LogChars, seed, '\n'))
    }
  }

  test("convenience methods") {
    val fmi = new FmIndexBuilder().build(LogChars)
    assert(fmi.getInputLength == LogChars.length + 1)
    assert(fmi.getAlphabetLength == LogCorpus.distinct.length + 1) // + sentinel
    assert(fmi.toString == "FMIndex-sampleRate:32-extract:true")
    assert(fmi.getAlphabetLength > 1000, "corpus should be multichar-rich")
  }

  test("count/locate agree with SuffixArraySearch as a second oracle") {
    val text = LogChars.take(30000)
    val fmi = new FmIndexBuilder().setSampleRate(4).build(text)
    val sas = new SuffixArraySearch(text)
    val rnd = new Random(42)
    for (_ <- 0 until 100) {
      val start = rnd.nextInt(text.length - 16)
      val pat = java.util.Arrays.copyOfRange(text, start, start + 1 + rnd.nextInt(15))
      assert(fmi.count(pat) == sas.count(pat))
      assert(fmi.locateAll(pat).toSeq == sas.locate(pat).toSeq)
    }
  }
}
