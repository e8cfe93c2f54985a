package graft.core

import java.io.{DataInput, DataOutput, IOException}

/** Common contract of the rank bitvectors backing the FM-Index: plain Rank9
  * (RankBitVector, fast) or RRR-compressed (RrrVector, ~entropy-sized). The reference
  * stores its FM bitvectors RRR-compressed (RrrVector.java); we make the engine a
  * build-time choice: Rank9 for hot in-memory shards, RRR when shard bytes dominate
  * (at 100 TB the shard table's footprint IS the cluster's memory/IO bill).
  */
trait BitRankSeq {
  def numBits: Int
  def access(pos: Int): Boolean
  def rankOnes(pos: Int): Int
  def rankZeroes(pos: Int): Int
  /** The bits as 64-bit words, bit i at `words(i >>> 6) >>> (i & 63)`: Rank9 returns
    * its backing array (do not write to it), RRR decodes a copy block by block.
    */
  def toWords: Array[Long]
  def sizeInBytes: Long
  def write(out: DataOutput): Unit
}

/** Kind-byte-dispatched serde for BitRankSeq (0 = Rank9, 1 = RRR). */
object BitSeqSerde {
  def write(out: DataOutput, bv: BitRankSeq): Unit = bv match {
    case r: RrrVector => out.writeByte(1); r.write(out)
    case r: RankBitVector => out.writeByte(0); r.write(out)
  }

  def read(in: DataInput): BitRankSeq = in.readByte() match {
    case 0 => RankBitVector.read(in)
    case 1 => RrrVector.read(in)
    case other => throw new IOException(s"unknown bitvector kind byte ${other & 0xff}")
  }

  /** Default RRR rank-sample rate (blocks per sample) used by the compressed build. */
  val RrrSampleRate = 16

  def maybeCompress(bv: RankBitVector, compress: Boolean): BitRankSeq =
    if (compress) RrrVector(bv, RrrSampleRate) else bv
}
