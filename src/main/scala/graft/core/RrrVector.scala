package graft.core

import java.io.{DataInput, DataOutput}

/** RRR compressed bitvector (Raman, Raman, Rao: "Succinct indexable dictionaries with
  * applications to encoding k-ary trees and multisets", SODA 2002): the bit sequence is
  * split into 15-bit blocks, each encoded as (class = popcount, offset = index of the
  * block within the enumeration of all 15-bit words of that popcount), with sampled
  * prefix sums for rank. Classes are packed 4 bits each; offsets use ceil(log2 C(15,c))
  * bits.
  *
  * Same query contract as the reference
  * (/root/reference/indices/src/main/java/com/dynatrace/bitsequence/RrrVector.java:143-410)
  * but the combinatorial tables (binomials, offset widths, enumeration ranking) are
  * computed at class-load time from first principles instead of shipping ~16k generated
  * source lines.
  */
final class RrrVector private (
    val numBits: Int,
    val sampleRate: Int, // blocks per rank sample
    private val numBlocks: Int,
    private val classes: IntVector, // 4-bit popcount per 15-bit block
    private val offsets: VariableWidthIntVector, // variable-width offset stream
    private val sampledRanks: Array[Int], // rank1 at block sampleRate*k
    private val sampledOffsetPos: Array[Long] // offset-stream bit position there
) extends BitRankSeq {
  import RrrVector._

  /** The bit at `pos`. */
  def access(pos: Int): Boolean = {
    val block = pos / BlockSize
    val word = decodeBlock(block)
    ((word >>> (pos % BlockSize)) & 1) != 0
  }

  /** Number of 1-bits in [0, pos). */
  def rankOnes(pos: Int): Int = {
    if (pos <= 0) return 0
    val block = pos / BlockSize
    val sample = block / sampleRate
    var rank = sampledRanks(sample)
    var b = sample * sampleRate
    var bitPos = sampledOffsetPos(sample)
    while (b < block) {
      val c = classes.getValue(b).toInt
      rank += c
      bitPos += OffsetWidth(c)
      b += 1
    }
    if (block < numBlocks) {
      val rem = pos % BlockSize
      if (rem > 0) {
        val word = decodeAt(block, bitPos)
        rank += java.lang.Integer.bitCount(word & ((1 << rem) - 1))
      }
    }
    rank
  }

  def rankZeroes(pos: Int): Int = pos - rankOnes(pos)

  /** One sequential pass over the blocks: no per-bit walk from a rank sample. */
  def toWords: Array[Long] = {
    val out = new Array[Long]((numBits + 63) >>> 6)
    var bitPos = 0L
    var b = 0
    while (b < numBlocks) {
      val c = classes.getValue(b).toInt
      val w = OffsetWidth(c)
      val word = decodeOffset(c, if (w == 0) 0 else offsets.getValue(bitPos, w).toInt).toLong
      bitPos += w
      val base = b * BlockSize
      val sh = base & 63
      out(base >>> 6) |= word << sh
      // a block that straddles two words: its high bits go to the next one
      if (sh > 64 - BlockSize && (base >>> 6) + 1 < out.length) out((base >>> 6) + 1) |= word >>> (64 - sh)
      b += 1
    }
    out
  }

  private def decodeBlock(block: Int): Int = {
    val sample = block / sampleRate
    var b = sample * sampleRate
    var bitPos = sampledOffsetPos(sample)
    while (b < block) {
      bitPos += OffsetWidth(classes.getValue(b).toInt)
      b += 1
    }
    decodeAt(block, bitPos)
  }

  private def decodeAt(block: Int, bitPos: Long): Int = {
    val c = classes.getValue(block).toInt
    val w = OffsetWidth(c)
    val off = if (w == 0) 0L else offsets.getValue(bitPos, w)
    decodeOffset(c, off.toInt)
  }

  def sizeInBytes: Long =
    8L * classes.data.length + 8L * offsets.data.length +
      4L * sampledRanks.length + 8L * sampledOffsetPos.length + 24

  def write(out: DataOutput): Unit = {
    out.writeInt(numBits)
    out.writeInt(sampleRate)
    out.writeInt(numBlocks)
    classes.write(out)
    offsets.write(out)
  }

  override def hashCode: Int =
    numBits + 31 * sampleRate + classes.hashCode + offsets.hashCode

  override def equals(o: Any): Boolean = o match {
    case v: RrrVector =>
      numBits == v.numBits && sampleRate == v.sampleRate &&
        classes == v.classes && offsets == v.offsets
    case _ => false
  }
}

object RrrVector {

  val BlockSize = 15

  /** binomial(n, k) for n,k in 0..15 */
  private val Binomial: Array[Array[Long]] = {
    val b = Array.ofDim[Long](BlockSize + 1, BlockSize + 1)
    var n = 0
    while (n <= BlockSize) {
      b(n)(0) = 1
      var k = 1
      while (k <= n) {
        b(n)(k) = b(n - 1)(k - 1) + (if (k <= n - 1) b(n - 1)(k) else 0L)
        k += 1
      }
      n += 1
    }
    b
  }

  /** Bits needed to store an offset of class c: ceil(log2 C(15, c)). */
  val OffsetWidth: Array[Int] = Array.tabulate(BlockSize + 1) { c =>
    val count = Binomial(BlockSize)(c)
    if (count <= 1) 0 else Bits.minBits(count - 1)
  }

  /** Rank of `word` within the enumeration (by increasing numeric value) of all 15-bit
    * words with the same popcount.
    */
  def encodeOffset(word: Int): Int = {
    var offset = 0L
    var remaining = java.lang.Integer.bitCount(word)
    var i = BlockSize - 1
    while (i >= 0 && remaining > 0) {
      if (((word >>> i) & 1) != 0) {
        offset += Binomial(i)(remaining)
        remaining -= 1
      }
      i -= 1
    }
    offset.toInt
  }

  /** Inverse of encodeOffset: the `offset`-th 15-bit word of popcount `clazz`. */
  def decodeOffset(clazz: Int, offset: Int): Int = {
    var word = 0
    var remaining = clazz
    var off = offset.toLong
    var i = BlockSize - 1
    while (i >= 0 && remaining > 0) {
      val without = Binomial(i)(remaining)
      if (off >= without) {
        word |= (1 << i)
        off -= without
        remaining -= 1
      }
      i -= 1
    }
    word
  }

  /** Rebuilds the sampled rank/offset-position directory (covers the trailing sample at
    * b == numBlocks so rank(pos == numBits) resolves).
    */
  private def buildDirectory(
      numBlocks: Int, sampleRate: Int, classOf: Int => Int): (Array[Int], Array[Long]) = {
    val numSamples = numBlocks / sampleRate + 1
    val sampledRanks = new Array[Int](numSamples)
    val sampledOffsetPos = new Array[Long](numSamples)
    var rank = 0
    var bitPos = 0L
    var b = 0
    while (b <= numBlocks) {
      if (b % sampleRate == 0 && b / sampleRate < numSamples) {
        sampledRanks(b / sampleRate) = rank
        sampledOffsetPos(b / sampleRate) = bitPos
      }
      if (b < numBlocks) {
        val c = classOf(b)
        rank += c
        bitPos += OffsetWidth(c)
      }
      b += 1
    }
    (sampledRanks, sampledOffsetPos)
  }

  /** Builds from a plain bitvector. `sampleRate` is in blocks per rank sample. */
  def apply(bits: RankBitVector, sampleRate: Int): RrrVector =
    fromAccess(bits.numBits, bits.access, sampleRate)

  def fromBits(bits: Array[Boolean], sampleRate: Int): RrrVector =
    fromAccess(bits.length, i => bits(i), sampleRate)

  private def fromAccess(numBits: Int, bit: Int => Boolean, sampleRate: Int): RrrVector = {
    require(sampleRate > 0)
    val numBlocks = (numBits + BlockSize - 1) / BlockSize
    val classes = new IntVector(numBlocks max 1, 4)
    val words = new Array[Int](numBlocks)
    var b = 0
    while (b < numBlocks) {
      var word = 0
      var i = 0
      val base = b * BlockSize
      val lim = math.min(BlockSize, numBits - base)
      while (i < lim) {
        if (bit(base + i)) word |= (1 << i)
        i += 1
      }
      words(b) = word
      classes.setValue(b, java.lang.Integer.bitCount(word).toLong)
      b += 1
    }
    var totalOffsetBits = 0L
    b = 0
    while (b < numBlocks) { totalOffsetBits += OffsetWidth(classes.getValue(b).toInt); b += 1 }
    val offsets = new VariableWidthIntVector(math.max(totalOffsetBits, 1L))
    var bitPos = 0L
    b = 0
    while (b < numBlocks) {
      val c = classes.getValue(b).toInt
      val w = OffsetWidth(c)
      if (w > 0) offsets.setValue(bitPos, encodeOffset(words(b)).toLong, w)
      bitPos += w
      b += 1
    }
    val (sampledRanks, sampledOffsetPos) =
      buildDirectory(numBlocks, sampleRate, i => classes.getValue(i).toInt)
    new RrrVector(numBits, sampleRate, numBlocks, classes, offsets, sampledRanks, sampledOffsetPos)
  }

  def read(in: DataInput): RrrVector = {
    val numBits = in.readInt()
    val sampleRate = in.readInt()
    val numBlocks = in.readInt()
    val classes = IntVector.read(in)
    val offsets = VariableWidthIntVector.read(in)
    val (sampledRanks, sampledOffsetPos) =
      buildDirectory(numBlocks, sampleRate, i => classes.getValue(i).toInt)
    new RrrVector(numBits, sampleRate, numBlocks, classes, offsets, sampledRanks, sampledOffsetPos)
  }
}
