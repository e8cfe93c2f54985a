package graft.core

import java.io.{DataInput, DataOutput}

/** Immutable bitvector with O(1)-ish rank, broadword style (one absolute count per
  * 512-bit block + popcount over at most 8 words).
  *
  * Functional stand-in for the reference's RRR-compressed bitvector
  * (/root/reference/indices/src/main/java/com/dynatrace/bitsequence/RrrVector.java:314-410):
  * identical `access`/`rankOnes`/`rankZeroes` answers, trading compression for speed
  * (the reference itself documents Rank9 as ~4-7x faster than RRR, README.md:244-258).
  */
final class RankBitVector private (
    val numBits: Int,
    private val words: Array[Long],
    private val blockRank: Array[Int],
    private val subRank: Array[Long] // 7 packed 9-bit cumulative word counts per block
) extends BitRankSeq {

  @inline def access(pos: Int): Boolean =
    ((words(pos >>> 6) >>> (pos & 63)) & 1L) != 0L

  /** Number of 1-bits in [0, pos): absolute block count + packed in-block word count +
    * one masked popcount (true Rank9 shape — no loops).
    */
  def rankOnes(pos: Int): Int = {
    val wordIdx = pos >>> 6
    val block = pos >>> 9
    val k = wordIdx & 7
    var r = blockRank(block)
    if (k != 0) r += ((subRank(block) >>> (9 * (k - 1))) & 0x1ffL).toInt
    val rem = pos & 63
    if (rem != 0) r += java.lang.Long.bitCount(words(wordIdx) & ((1L << rem) - 1L))
    r
  }

  /** Number of 0-bits in [0, pos). */
  @inline def rankZeroes(pos: Int): Int = pos - rankOnes(pos)

  def toWords: Array[Long] = words

  def sizeInBytes: Long = 8L * words.length + 4L * blockRank.length + 8L * subRank.length + 16

  def write(out: DataOutput): Unit = {
    out.writeInt(numBits)
    out.writeInt(words.length)
    var i = 0
    while (i < words.length) { out.writeLong(words(i)); i += 1 }
  }

  override def hashCode: Int = numBits + java.util.Arrays.hashCode(words)

  override def equals(o: Any): Boolean = o match {
    case v: RankBitVector => numBits == v.numBits && java.util.Arrays.equals(words, v.words)
    case _ => false
  }
}

object RankBitVector {

  def fromWords(numBits: Int, words: Array[Long]): RankBitVector = {
    val nBlocks = ((numBits + 511) >>> 9) + 1
    val blockRank = new Array[Int](nBlocks max 1)
    val subRank = new Array[Long](nBlocks max 1)
    var acc = 0
    var b = 0
    while (b < nBlocks) {
      blockRank(b) = acc
      var inBlock = 0
      var packed = 0L
      var k = 0
      while (k < 8) {
        val w = (b << 3) + k
        if (w < words.length) inBlock += java.lang.Long.bitCount(words(w))
        if (k < 7) packed |= inBlock.toLong << (9 * k)
        k += 1
      }
      subRank(b) = packed
      acc += inBlock
      b += 1
    }
    new RankBitVector(numBits, words, blockRank, subRank)
  }

  def read(in: DataInput): RankBitVector = {
    val numBits = in.readInt()
    val n = in.readInt()
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = in.readLong(); i += 1 }
    fromWords(numBits, words)
  }
}
