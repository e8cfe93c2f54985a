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

  test("serialized bytes are pinned: golden hashes at rates 1, 3 and 16 on wide, run and 2-symbol inputs") {
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val wide = GoldenInputs.head._2
    assert(wide.distinct.length > 1024 && wide.contains('\u0000') &&
      wide.exists(Character.isHighSurrogate))
    // (input, sample rate, compress, extract) -> SHA-256 of serialize()
    val golden: Map[(String, Int, Boolean, Boolean), String] = Map(
      ("wide", 1, false, true) ->
        "9f5fa4ed507e9ceb86f9cea2837b2ff0dc6b236f4887d9953685ea7d5a4b1a72",
      ("wide", 1, true, true) ->
        "2165da1057969d8b628175d335d4addf36407c37dd4daa6c713c3aece2a00c75",
      ("wide", 3, false, true) ->
        "203efba9bb67373b89b07fb311e5c655c558f16c580c241ec7f65a40226cd005",
      ("wide", 3, true, true) ->
        "b63e0379a933e78ca7e0190136827db30e1f4fcab4441c77130b1df4874c4c44",
      ("wide", 16, false, true) ->
        "62c7f15ff29a01684949b27d5e48069b7b083a8e9b5d42ef70f1d855fb3502c1",
      ("wide", 16, true, true) ->
        "3338f41e43a2723ed19c72205e6f2ad8a5a699e80a390bdfb8ffb5084bf77d83",
      ("run", 1, false, true) ->
        "ffd9fd7ae86449b278348ee8d08a338d7f2d2fe175f03ff81faeba3d29c85bd1",
      ("run", 1, true, true) ->
        "4fef587246f0300c4286227bd472fe4e2e022071a0954c7feb6a9c4391e8857e",
      ("run", 3, false, true) ->
        "00bf7000511022ec26428d6ba26f822f4d0d332f1d795a2085c5e92ac387de0f",
      ("run", 3, true, true) ->
        "7c027087f07ca1434cd5a04cbd91fcfa27afb1c3afdadefaaf566b83d141e9d8",
      ("run", 16, false, true) ->
        "8088f1bfb8d288190c8272b7171d7c54fbeaa8dd928d4c3018e869a5c168d645",
      ("run", 16, true, true) ->
        "e104c2d367853d695b800b89ed7097c381fb1be46dd1fa4b829b94c262771811",
      ("two", 1, false, true) ->
        "d92463bae3cabeed937cc4be3b1f396bd0e72cb7576de946dcf8687757f13f17",
      ("two", 1, true, true) ->
        "31c7cf5248fafef3ac43ce4efdcb4d97c6d224f707ea7d0c7572f539a01ac311",
      ("two", 3, false, true) ->
        "6511ec19df4f519f9cfbbf31b2cd6aabf70d02276b9a7bf520a8b5c0bc77f864",
      ("two", 3, true, true) ->
        "d8d91dfb16958f8866c28d2c41b26f66e5a3936e3b25f807c26ad72059a82980",
      ("two", 16, false, true) ->
        "78d1f892c5721866b8f58eb496434c5b6c76b53853249d54e4c3763f2579a365",
      ("two", 16, true, true) ->
        "c372add6fdf7aad55603e98743cfd703c8be9ec2416dc14f7cf2ec7e34a1076b",
      ("wide", 3, false, false) ->
        "da86e8f974c588194e61c154cf1ebbf528ff1f644fb2b5d40ceeb9163440a1df",
      ("wide", 3, true, false) ->
        "e5949ccd28e65f48f4b6412d33111102bc36f739d4d610337704d9060c3fee61")
    val got = golden.keys.map { case k @ (name, rate, compress, extract) =>
      k -> sha256(FmIndex.build(GoldenInputs.toMap.apply(name), rate, extract, compress).serialize())
    }.toMap
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
