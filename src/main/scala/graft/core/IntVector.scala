package graft.core

import java.io.{DataInput, DataOutput}

/** Fixed-width bit-packed integer vector backed by an `Array[Long]`.
  *
  * Same capability as the reference's bit-packed vector
  * (/root/reference/indices/src/main/java/com/dynatrace/intsequence/IntVector.java:46-162):
  * `length` elements of `width` bits each, values may straddle word boundaries.
  */
final class IntVector(val length: Int, val width: Int, val data: Array[Long]) {
  require(width > 0 && width <= 63, s"width must be in [1,63], got $width")

  def this(length: Int, width: Int) =
    this(length, width, new Array[Long](IntVector.wordsFor(length, width)))

  private val mask: Long = Bits.lowMask(width)

  def setValue(pos: Int, value: Long): Unit = {
    val off = pos.toLong * width
    val w = (off >>> 6).toInt
    val shift = (off & 63).toInt
    data(w) = (data(w) & ~(mask << shift)) | ((value & mask) << shift)
    val spill = shift + width - 64
    if (spill > 0) {
      data(w + 1) = (data(w + 1) & ~Bits.lowMask(spill)) | ((value & mask) >>> (width - spill))
    }
  }

  def getValue(pos: Int): Long = {
    val off = pos.toLong * width
    val w = (off >>> 6).toInt
    val shift = (off & 63).toInt
    val spill = shift + width - 64
    if (spill <= 0) (data(w) >>> shift) & mask
    else ((data(w) >>> shift) | (data(w + 1) << (64 - shift))) & mask
  }

  def write(out: DataOutput): Unit = {
    out.writeInt(length)
    out.writeInt(width)
    out.writeInt(data.length)
    var i = 0
    while (i < data.length) { out.writeLong(data(i)); i += 1 }
  }

  override def hashCode: Int =
    length + 31 * width + java.util.Arrays.hashCode(data)

  override def equals(o: Any): Boolean = o match {
    case v: IntVector =>
      length == v.length && width == v.width && java.util.Arrays.equals(data, v.data)
    case _ => false
  }
}

object IntVector {
  def wordsFor(length: Int, width: Int): Int = {
    val bits = length.toLong * width
    ((bits + 63) >>> 6).toInt
  }

  /** `values` packed at `width` bits each in one sequential pass; every value must be
    * non-negative and below 2^width.
    */
  def pack(values: Array[Int], width: Int): IntVector = {
    val data = new Array[Long](wordsFor(values.length, width))
    var acc = 0L // the bits of the word being filled
    var bits = 0
    var w = 0
    var i = 0
    while (i < values.length) {
      val v = values(i).toLong
      acc |= v << bits
      bits += width
      if (bits >= 64) {
        data(w) = acc
        w += 1
        bits -= 64
        acc = v >>> (width - bits) // the spilled high bits; 0 when none spilled
      }
      i += 1
    }
    if (bits > 0) data(w) = acc
    new IntVector(values.length, width, data)
  }

  def read(in: DataInput): IntVector = {
    val length = in.readInt()
    val width = in.readInt()
    val n = in.readInt()
    val data = new Array[Long](n)
    var i = 0
    while (i < n) { data(i) = in.readLong(); i += 1 }
    new IntVector(length, width, data)
  }
}
