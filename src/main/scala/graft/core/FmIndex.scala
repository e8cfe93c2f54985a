package graft.core

import java.io.{DataInput, DataOutput, IOException}
import scala.collection.mutable

/** FM-Index: compressed full-text substring index (suffix array + Burrows-Wheeler transform
  * + Huffman-shaped wavelet tree rank/select) supporting count / locate / extract /
  * extractUntilBoundary over the indexed text.
  *
  * Public behavior mirrors the reference implementation's test suite exactly
  * (/root/reference/indices/src/main/java/com/dynatrace/fm/FmIndex.java:155-941,
  * /root/reference/indices/src/test/java/com/dynatrace/fm/FmIndexTest.java), including
  * overlapping-match counting, appearance-order alphabet mapping, embedded-sentinel rules
  * (FmIndex.java:396-435), sampling semantics and exact error messages. Internals are a
  * fresh design: SA-IS construction (the reference delegates to DivSufSort) and a
  * Huffman-shaped wavelet tree whose single-descent inverseSelect fuses the reference's
  * separate inverseSelect + rank calls (FmIndex.java:532-535) into one.
  *
  * Thread-safe for concurrent reads after construction.
  */
final class FmIndex private (
    val sampleRate: Int,
    val enableExtract: Boolean,
    private val length: Int, // corpus length INCLUDING the appended sentinel
    private val monotonicMap: mutable.LongMap[Short],
    private val monotonicLookUp: Array[Int],
    private val cumulative: Array[Int],
    private val bitWidthSuffixes: Int,
    private val suffixes: IntVector,
    private val positions: IntVector, // null when !enableExtract
    private val sampledSuffixes: BitRankSeq,
    private val wavelet: HuffmanWaveletTree
) {

  @inline private def code(ch: Char): Int = monotonicMap.getOrElse(ch.toLong, 0.toShort).toInt

  /** Corpus length including the terminating sentinel. */
  def getInputLength: Int = length

  /** Number of distinct symbols (sigma), including the sentinel. */
  def getAlphabetLength: Int = monotonicMap.size

  // ---------------------------------------------------------------- count

  /** Number of OVERLAPPING occurrences of `pattern` in the indexed text. */
  def count(pattern: Array[Char]): Int = count(pattern, 0, pattern.length)

  def count(pattern: String): Int = count(pattern.toCharArray)

  def count(pattern: Array[Char], offset: Int, len: Int): Int = {
    var i = offset + len - 1
    var c = code(pattern(i))
    if (c == 0) return 0
    var start = cumulative(c)
    var end = cumulative(c + 1)
    while (start < end && i >= offset + 1) {
      i -= 1
      c = code(pattern(i))
      if (c == 0) return 0
      start = cumulative(c) + wavelet.rank(start, c)
      end = cumulative(c) + wavelet.rank(end, c)
    }
    math.max(0, end - start)
  }

  // --------------------------------------------------------------- locate

  /** Finds occurrence positions (unspecified order, like the reference); returns the number
    * written into `locations`. `maxMatches < 0` means unbounded.
    */
  def locate(pattern: Array[Char], locations: Array[Int]): Int =
    locate(pattern, 0, pattern.length, locations, -1)

  def locate(pattern: Array[Char], offset: Int, len: Int, locations: Array[Int], maxMatches: Int): Int = {
    var i = offset + len - 1
    var c = code(pattern(i))
    if (c == 0) return 0
    var start = cumulative(c)
    var end = cumulative(c + 1)
    while (start < end && i >= offset + 1) {
      i -= 1
      c = code(pattern(i))
      if (c == 0) return 0
      start = cumulative(c) + wavelet.rank(start, c)
      end = cumulative(c) + wavelet.rank(end, c)
    }
    var matches = 0
    if (start < end) {
      var row = start + 1
      while (row <= end && matches != maxMatches) {
        var j = row
        var distance = 0
        while (!sampledSuffixes.access(j - 1)) {
          val packed = wavelet.inverseSelect(j - 1)
          // LF step: C[sym] + rank(j, sym) == C[sym] + rankBefore + 1
          j = cumulative((packed & 0xffffL).toInt) + (packed >>> 16).toInt + 1
          distance += 1
        }
        locations(matches) = suffixes.getValue(sampledSuffixes.rankOnes(j) - 1).toInt + distance
        matches += 1
        row += 1
      }
    }
    matches
  }

  /** Convenience: all positions, sorted ascending. */
  def locateAll(pattern: Array[Char]): Array[Int] = {
    val c = count(pattern)
    val out = new Array[Int](c)
    locate(pattern, 0, pattern.length, out, -1)
    java.util.Arrays.sort(out)
    out
  }

  // -------------------------------------------------------------- extract

  /** Reconstructs the original text slice [start, stop) into `destination` at `offset`. */
  def extract(start: Int, stop: Int, destination: Array[Char], offset: Int): Int = {
    if (!enableExtract) throw new RuntimeException("Text recovery not enabled at build time")
    if (start < 0) throw new RuntimeException("Requested position less than 0")
    if (stop >= length) throw new RuntimeException("Stop position longer than index string")

    var samplePosition = positions.getValue(stop / sampleRate + 1).toInt + 1
    var skip = sampleRate - stop % sampleRate
    if (stop / sampleRate == positions.length - 2) skip = length - stop

    val range = stop - start
    if (destination.length - offset < range)
      throw new RuntimeException("Supplied destination is not large enough")
    var remaining = range
    var distance = 0
    while (remaining > 0) {
      val packed = wavelet.inverseSelect(samplePosition - 1)
      val c = (packed & 0xffffL).toInt
      samplePosition = cumulative(c) + (packed >>> 16).toInt + 1
      if (distance >= skip) {
        destination(remaining - 1 + offset) = monotonicLookUp(c).toChar
        remaining -= 1
      }
      distance += 1
    }
    range
  }

  def extractString(start: Int, stop: Int): String = {
    val dest = new Array[Char](stop - start)
    extract(start, stop, dest, 0)
    new String(dest)
  }

  /** The whole indexed text, equal to `extract(0, getInputLength - 1)`, by one linear
    * inverse BWT instead of one wavelet descent per char: decode the BWT sequentially,
    * turn it into LF by one counting pass over `cumulative`, then walk LF from row 0
    * (the sentinel's row), writing the text back to front.
    *
    * Peak working memory is about 9 B/char: the BWT codes, overwritten in place by LF
    * (4), each row's char (2), the text (2) and the wavelet decode's one-array copy of
    * the node bits (under 1). `FmIndex.build` holds the symbol codes, the suffix array
    * and the BWT (4 B/char each) at once, plus SA-IS's buckets. `Probe shard` on a
    * 16M-char corpus at sampleRate 16 measured build 18.6-24.3 B/char and this decode
    * 8.4-9.9 B/char of peak heap (Rank9 and RRR alike).
    */
  def decodeAll(): Array[Char] = {
    if (!enableExtract) throw new RuntimeException("Text recovery not enabled at build time")
    val lf = wavelet.decodeAll()
    val rowChar = new Array[Char](length)
    val next = java.util.Arrays.copyOf(cumulative, cumulative.length)
    var i = 0
    while (i < length) {
      val c = lf(i)
      rowChar(i) = monotonicLookUp(c).toChar
      lf(i) = next(c)
      next(c) += 1
      i += 1
    }
    val out = new Array[Char](length - 1)
    var row = 0
    var k = length - 2
    while (k >= 0) {
      out(k) = rowChar(row)
      row = lf(row)
      k -= 1
    }
    out
  }

  private def checkBoundsForExtraction(from: Int, destination: Array[Char]): Unit = {
    if (!enableExtract) throw new RuntimeException("Text recovery not enabled at build time")
    if (from < 0) throw new RuntimeException("Requested position less than 0")
    if (from >= length) throw new RuntimeException("Requested position longer than index string")
    if (destination.length == 0)
      throw new IllegalArgumentException("Supplied destination for extraction has size zero")
  }

  @inline private def mappedBoundaryOrThrow(boundary: Char): Int = {
    val b = code(boundary)
    if (b == 0) throw new IllegalArgumentException("Boundary does not exist")
    b
  }

  /** Rightward boundary scan shared by extractUntilBoundary{,Right}: appends the chars
    * of (from0, x) to `destination` at `offset + already`, where x is the first
    * boundary position after from0 or the corpus end (sentinel excluded); returns the
    * count appended. Implemented as a windowed scan over the proven extract(start,
    * stop) primitive — each window is decoded by ONE LF-walk and scanned forward
    * (cheaper than the reference's +4-char re-walks, FmIndex.java:692-756, which pay a
    * fresh sample-skip walk every 4 chars). NOTE a deliberate divergence from the
    * reference IMPLEMENTATION in the final window: the reference's end-of-corpus
    * branch (FmIndex.java:908-916) overwrites an already-found boundary position,
    * returning stray chars when a match abuts the corpus end; its own char-walk test
    * oracle (test Util.java:167-258) — and therefore this method — stops at the
    * boundary there too.
    */
  private def scanRightUntilBoundary(
      from0: Int, destination: Array[Char], offset: Int, already: Int, boundary: Char): Int = {
    val step = 64
    val win = new Array[Char](math.min(step, math.max(1, length - 1)))
    var n = 0
    var start = from0 + 1
    var done = false
    while (!done && start < length - 1) {
      val stop = math.min(start + step, length - 1)
      extract(start, stop, win, 0)
      var i = 0
      while (i < stop - start && !done) {
        if (win(i) == boundary) done = true
        else {
          if (offset + already + n >= destination.length)
            throw new RuntimeException(
              "Extraction does not fit in the supplied destination. Currently extracted: " +
                (offset + already + n))
          destination(offset + already + n) = win(i)
          n += 1
        }
        i += 1
      }
      start = stop
    }
    n
  }

  /** Extracts the record around `from` delimited on both sides by `boundary` (exclusive).
    * Returns 0 (empty) when the character at `from` is itself the boundary.
    * (Reference semantics: FmIndex.java:640-759 and the char-walk oracle in
    * test Util.java:167-258; see scanRightUntilBoundary for the one corpus-end
    * divergence from the reference implementation.)
    */
  def extractUntilBoundary(from0: Int, destination: Array[Char], offset: Int, boundary: Char): Int = {
    checkBoundsForExtraction(from0, destination)
    val mappedBoundary = mappedBoundaryOrThrow(boundary)
    if (from0 >= length - 1) return 0 // sentinel position: no record to extract

    // leftward (downstream) walk: chars at from0-1, from0-2, ... until boundary/corpus start
    var samplePosition = positions.getValue(from0 / sampleRate + 1).toInt + 1
    var skip = sampleRate - from0 % sampleRate
    if (from0 / sampleRate == positions.length - 2) skip = length - from0
    var downStreamPos = destination.length - 1
    var remaining = destination.length
    var distance = 0
    var stop = false
    while (remaining > 0 && !stop) {
      val packed = wavelet.inverseSelect(samplePosition - 1)
      val c = (packed & 0xffffL).toInt
      samplePosition = cumulative(c) + (packed >>> 16).toInt + 1
      if (distance >= skip) {
        if (c == mappedBoundary || c == 0) stop = true
        else {
          destination(downStreamPos) = monotonicLookUp(c).toChar
          downStreamPos -= 1
          remaining -= 1
        }
      }
      distance += 1
    }
    val downStreamLength = destination.length - (downStreamPos + 1)
    System.arraycopy(destination, downStreamPos + 1, destination, offset, downStreamLength)

    // the char at from0 itself (the leftward walk covers only chars BEFORE from0):
    // boundary here means the empty extraction regardless of either side
    val self = new Array[Char](1)
    extract(from0, from0 + 1, self, 0)
    if (self(0) == boundary) return 0
    if (offset + downStreamLength >= destination.length)
      throw new RuntimeException(
        "Extraction does not fit in the supplied destination. Currently extracted: " +
          (offset + downStreamLength))
    destination(offset + downStreamLength) = self(0)

    1 + downStreamLength +
      scanRightUntilBoundary(from0, destination, offset, downStreamLength + 1, boundary)
  }

  /** Leftward-only variant (e.g. the key of a key=value pair). FmIndex.java:772-831. */
  def extractUntilBoundaryLeft(from0: Int, destination: Array[Char], offset: Int, boundary: Char): Int = {
    val from = from0 + 1 // include the char at from0 itself
    checkBoundsForExtraction(from, destination)
    val mappedBoundary = mappedBoundaryOrThrow(boundary)

    var samplePosition = positions.getValue(from / sampleRate + 1).toInt + 1
    var skip = sampleRate - from % sampleRate
    if (from / sampleRate == positions.length - 2) skip = length - from
    var downStreamPos = destination.length - 1
    var distance = 0
    var stop = false
    while (!stop) {
      val packed = wavelet.inverseSelect(samplePosition - 1)
      val c = (packed & 0xffffL).toInt
      samplePosition = cumulative(c) + (packed >>> 16).toInt + 1
      if (distance >= skip) {
        if (c == mappedBoundary || c == 0) stop = true
        else {
          destination(downStreamPos) = monotonicLookUp(c).toChar
          downStreamPos -= 1
          if (downStreamPos == offset)
            throw new RuntimeException(
              "Extraction does not fit in the supplied destination. Currently extracted: " +
                (destination.length - offset))
        }
      }
      distance += 1
    }
    val downStreamLength = destination.length - (downStreamPos + 1)
    System.arraycopy(destination, downStreamPos + 1, destination, offset, downStreamLength)
    downStreamLength
  }

  /** Rightward-only variant (e.g. the value of a key=value pair): chars strictly after
    * `from0` up to the boundary or corpus end; empty when the char at `from0` is the
    * boundary itself. FmIndex.java:844-922 semantics per the char-walk oracle.
    */
  def extractUntilBoundaryRight(from0: Int, destination: Array[Char], offset: Int, boundary: Char): Int = {
    checkBoundsForExtraction(from0, destination)
    mappedBoundaryOrThrow(boundary)
    if (from0 >= length - 1) return 0 // sentinel position: nothing to the right
    val self = new Array[Char](1)
    extract(from0, from0 + 1, self, 0)
    if (self(0) == boundary) return 0
    scanRightUntilBoundary(from0, destination, offset, 0, boundary)
  }

  // ---------------------------------------------------------------- serde

  def write(out: DataOutput): Unit = {
    out.writeByte(FmIndex.SerialVersion)
    out.writeInt(sampleRate)
    out.writeBoolean(enableExtract)
    out.writeInt(length)
    out.writeInt(bitWidthSuffixes)
    out.writeInt(monotonicMap.size)
    monotonicMap.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.writeInt(k.toInt)
      out.writeShort(v.toInt)
    }
    out.writeInt(monotonicLookUp.length)
    monotonicLookUp.foreach(out.writeInt)
    out.writeInt(cumulative.length)
    cumulative.foreach(out.writeInt)
    suffixes.write(out)
    if (enableExtract) positions.write(out)
    BitSeqSerde.write(out, sampledSuffixes)
    out.writeByte(FmIndex.HuffmanWaveletKind)
    wavelet.write(out)
  }

  def serialize(): Array[Byte] = Serde.writeToByteArray[FmIndex]((v, o) => v.write(o), this)

  override def hashCode: Int = {
    var h = sampleRate + (if (enableExtract) 1 else 0) + length + bitWidthSuffixes
    h += monotonicMap.toSeq.sortBy(_._1).hashCode()
    h += java.util.Arrays.hashCode(monotonicLookUp)
    h += java.util.Arrays.hashCode(cumulative)
    h += suffixes.hashCode
    if (positions ne null) h += positions.hashCode
    h += sampledSuffixes.hashCode
    h += wavelet.hashCode
    h
  }

  override def toString: String = s"FMIndex-sampleRate:$sampleRate-extract:$enableExtract"
}

object FmIndex {

  // v1: bitvectors carry a kind byte (0 = Rank9, 1 = RRR-compressed)
  private[core] val SerialVersion: Byte = 1

  /** Kind byte written before the wavelet; the Huffman-shaped tree is the only kind read. */
  private val HuffmanWaveletKind: Byte = 1

  val MaxAlphabet: Int = Short.MaxValue.toInt

  /** Builds the index: sentinel append -> appearance-order alphabet mapping (embedded-'\0'
    * rule: when the input itself contains '\0', those map to code 1 and only the final
    * appended sentinel takes code 0) -> cumulative counts -> SA-IS -> one pass over the
    * suffix array for the SA samples, their marks and the BWT -> Huffman-shaped wavelet
    * tree. `compress` stores every bitvector, the SA-sample marks and each wavelet node,
    * RRR-compressed (reference-style: smallest, slower queries); the default Rank9
    * everywhere favors query speed.
    */
  def build(input: Array[Char], sampleRate: Int = 32, enableExtract: Boolean = true,
      compress: Boolean = false): FmIndex = {
    require(sampleRate > 0, "sampleRate must be positive")
    val (map, lookUp, seq) = encode(input)
    val n = seq.length
    val sigma = lookUp.length

    val cumulative = new Array[Int](sigma + 1)
    var i = 0
    while (i < n) { cumulative(seq(i) + 1) += 1; i += 1 }
    i = 1
    while (i <= sigma) { cumulative(i) += cumulative(i - 1); i += 1 }

    val sa = SuffixArrays.saIs(seq, sigma)

    // row i samples suffix sa(i) when sampleRate divides it; power-of-two rates (the
    // pipeline's 16 among them) test and divide by mask and shift. Row i of the BWT
    // needs only sa(i), so the BWT overwrites the suffix array in place.
    val sampledSuffix = new Array[Int](n / sampleRate + 1)
    val sampledRow = if (enableExtract) new Array[Int](n / sampleRate + 2) else null
    val marks = new Array[Long](((n + 63) >>> 6) max 1)
    val shift = if (Integer.bitCount(sampleRate) == 1) Integer.numberOfTrailingZeros(sampleRate) else -1
    val mask = sampleRate - 1
    var si = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      sa(i) = if (p == 0) 0 else seq(p - 1) // seq(n - 1) is the sentinel 0
      if (if (shift >= 0) (p & mask) == 0 else p % sampleRate == 0) {
        sampledSuffix(si) = p
        si += 1
        marks(i >>> 6) |= 1L << i
        if (enableExtract) sampledRow(if (shift >= 0) p >>> shift else p / sampleRate) = i
      }
      i += 1
    }
    val bitWidth = Bits.minBits(n.toLong)
    val suffixes = IntVector.pack(sampledSuffix, bitWidth)
    val positions =
      if (!enableExtract) null
      else {
        sampledRow((n - 1) / sampleRate + 1) = sampledRow(0)
        IntVector.pack(sampledRow, bitWidth)
      }
    val sampled = BitSeqSerde.maybeCompress(RankBitVector.fromWords(n, marks), compress)

    // Huffman-shaped wavelet: frequent BWT symbols descend ~entropy levels, not log(sigma)
    val wavelet = HuffmanWaveletTree(sa, sigma, compress) // sa holds the BWT

    new FmIndex(sampleRate, enableExtract, n, map, lookUp, cumulative, bitWidth,
      suffixes, positions, sampled, wavelet)
  }

  /** The appearance-order alphabet of `input`: the char -> code map, its inverse (code ->
    * char, so sigma is its length) and the code sequence with the sentinel 0 appended.
    * Chars are coded through a dense 64K table; the map gets one insert per symbol.
    */
  private[graft] def encode(input: Array[Char]): (mutable.LongMap[Short], Array[Int], Array[Int]) = {
    var hasZero = false
    var i = 0
    while (i < input.length && !hasZero) { hasZero = input(i) == '\u0000'; i += 1 }
    val zeroCode: Short = if (hasZero) 1 else 0

    val map = new mutable.LongMap[Short](1024)
    val lookUpBuf = new Array[Int](MaxAlphabet + 2)
    // 0 marks an unseen char: every code but the sentinel's is at least 1, and '\0'
    // occurs in the input only when it takes code 1
    val codeOf = new Array[Short](65536)
    map.update(0L, zeroCode)
    codeOf(0) = zeroCode
    lookUpBuf(zeroCode) = 0
    var next = zeroCode + 1
    val seq = new Array[Int](input.length + 1)
    i = 0
    while (i < input.length) {
      val ch = input(i)
      var code = codeOf(ch)
      if (code == 0) {
        if (map.size >= MaxAlphabet)
          throw new IllegalArgumentException(s"Input has more than $MaxAlphabet different symbols")
        code = next.toShort
        map.update(ch.toLong, code)
        codeOf(ch) = code
        lookUpBuf(next) = ch.toInt
        next += 1
      }
      seq(i) = code
      i += 1
    }
    // the appended sentinel seq(input.length) stays 0, the unique smallest symbol
    (map, java.util.Arrays.copyOfRange(lookUpBuf, 0, next), seq)
  }

  def read(in: DataInput): FmIndex = {
    Serde.checkSerialVersion(SerialVersion, in.readByte())
    val sampleRate = in.readInt()
    val enableExtract = in.readBoolean()
    val length = in.readInt()
    val bitWidth = in.readInt()
    val mapSize = in.readInt()
    val map = new mutable.LongMap[Short](mapSize max 8)
    var i = 0
    while (i < mapSize) {
      val k = in.readInt()
      val v = in.readShort()
      map.update(k.toLong, v)
      i += 1
    }
    val lookUp = new Array[Int](in.readInt())
    i = 0
    while (i < lookUp.length) { lookUp(i) = in.readInt(); i += 1 }
    val cumulative = new Array[Int](in.readInt())
    i = 0
    while (i < cumulative.length) { cumulative(i) = in.readInt(); i += 1 }
    val suffixes = IntVector.read(in)
    val positions = if (enableExtract) IntVector.read(in) else null
    val sampled = BitSeqSerde.read(in)
    val kind = in.readByte()
    if (kind != HuffmanWaveletKind)
      throw new IOException(s"unknown wavelet kind byte ${kind & 0xff}")
    val wavelet = HuffmanWaveletTree.read(in)
    new FmIndex(sampleRate, enableExtract, length, map, lookUp, cumulative, bitWidth,
      suffixes, positions, sampled, wavelet)
  }

  def deserialize(bytes: Array[Byte]): FmIndex = Serde.readFromByteArray(read, bytes)

  /** UTF-8 byte pattern -> char pattern; rejects code points above 32767 like the reference
    * (FmIndex.java:239-298). Returns the number of chars written to `destination`.
    */
  def convertBytePatternToCharPattern(
      pattern: Array[Byte], offset: Int, length: Int, destination: Array[Char]): Int = {
    var pos = offset
    var i = 0
    while (pos < length + offset) {
      val b0 = pattern(pos)
      var next: Char = 0
      if (b0 < 0) {
        if (((b0 & 0xf0) >>> 3) == 30) { // 4-byte sequence
          val cp = (((b0 & 0x07) << 18) | ((pattern(pos + 1) & 0x3f) << 12) |
            ((pattern(pos + 2) & 0x3f) << 6) | (pattern(pos + 3) & 0x3f)) & 0x1fffff
          pos += 4
          if (cp > Short.MaxValue)
            throw new RuntimeException(
              s"Found a character that exceeds (${Short.MaxValue.toInt}): it was $cp")
          next = cp.toChar
        } else if (((b0 & 0xe0) >>> 4) == 14) { // 3-byte sequence
          next = ((((b0 & 0x0f) << 12) | ((pattern(pos + 1) & 0x3f) << 6) |
            (pattern(pos + 2) & 0x3f)) & 0xffff).toChar
          pos += 3
        } else { // 2-byte sequence
          next = ((((b0 & 0x1f) << 6) | (pattern(pos + 1) & 0x3f)) & 0x7ff).toChar
          pos += 2
        }
      } else {
        next = b0.toChar
        pos += 1
      }
      destination(i) = next
      i += 1
    }
    i
  }
}

/** Fluent builder matching the reference's defaults
  * (/root/reference/indices/src/main/java/com/dynatrace/fm/FmIndexBuilder.java:21-62):
  * sampleRate = 32, extraction enabled.
  */
final class FmIndexBuilder {
  private var sampleRate: Int = 32
  private var enableExtraction: Boolean = true
  private var compress: Boolean = false

  def setSampleRate(rate: Int): FmIndexBuilder = { sampleRate = rate; this }
  def setEnableExtraction(enabled: Boolean): FmIndexBuilder = { enableExtraction = enabled; this }
  /** RRR-compressed bitvectors (reference-style all-or-nothing storage) vs Rank9. */
  def setCompression(enabled: Boolean): FmIndexBuilder = { compress = enabled; this }
  def build(text: Array[Char]): FmIndex =
    FmIndex.build(text, sampleRate, enableExtraction, compress)
  def build(text: String): FmIndex = build(text.toCharArray)
}
