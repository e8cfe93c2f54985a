package graft.core

import java.io.{DataInput, DataOutput}

/** Huffman-shaped wavelet tree: symbols get canonical-derived Huffman paths, so frequent
  * symbols (the BWT of log text is highly skewed) descend ~entropy levels instead of
  * ceil(log2 sigma). Same rank/inverseSelect contract as the reference's Huffman-shaped
  * fixed-block-boosting wavelet
  * (/root/reference/indices/src/main/java/com/dynatrace/wavelet/WaveletFixedBlockBoosting.java:1010,1305),
  * realized as one rank bitvector per internal Huffman node instead of block boosting.
  *
  * Deterministic construction: the Huffman heap breaks frequency ties by node id, so the
  * same input always yields the same structure (required for serde hashCode equality).
  */
final class HuffmanWaveletTree private (
    val length: Int,
    val sigma: Int,
    private val codes: Array[Long], // root-first bit path of each symbol (MSB at len-1)
    private val codeLens: Array[Byte],
    private val nodeLeft: Array[Int], // >= 0: internal node id; < 0: leaf, sym = -v - 1
    private val nodeRight: Array[Int],
    private val root: Int,
    private val nodeBv: Array[BitRankSeq] // Rank9 (fast) or RRR (compressed) per build
) {

  /** Occurrences of `sym` in [0, pos). */
  def rank(pos: Int, sym: Int): Int = {
    if (sym < 0 || sym >= sigma || codeLens(sym) == 0) {
      // degenerate single-symbol alphabet: the only symbol has an empty code
      return if (sigma == 1 && sym == 0) pos else 0
    }
    var p = pos
    var node = root
    var l = codeLens(sym) - 1
    val code = codes(sym)
    while (l >= 0) {
      val bv = nodeBv(node)
      if (((code >>> l) & 1L) == 0L) {
        p = bv.rankZeroes(p)
        node = nodeLeft(node)
      } else {
        p = bv.rankOnes(p)
        node = nodeRight(node)
      }
      l -= 1
    }
    p
  }

  /** (rank(pos, symbol) << 16) | symbol for the symbol at `pos` — one descent. */
  def inverseSelect(pos: Int): Long = {
    if (root < 0) return (pos.toLong << 16) | 0L // sigma == 1
    var p = pos
    var node = root
    while (true) {
      val bv = nodeBv(node)
      val next =
        if (bv.access(p)) { p = bv.rankOnes(p); nodeRight(node) }
        else { p = bv.rankZeroes(p); nodeLeft(node) }
      if (next < 0) return (p.toLong << 16) | (-next - 1).toLong
      node = next
    }
    0L // unreachable
  }

  /** The whole sequence in one sequential pass, the construction loop run backwards:
    * position i reads the next unread bit of each node on its path, so no rank is
    * needed (`inverseSelect` pays one per level per position). The node bits are
    * copied into one word array (each node word-aligned) and the children into one
    * array indexed by the bit, so a level costs three loads and no branch.
    */
  def decodeAll(): Array[Int] = {
    val out = new Array[Int](length)
    if (root < 0) return out // sigma == 1: every position holds symbol 0
    val m = nodeBv.length
    val cursor = new Array[Long](m) // absolute index of each node's next unread bit
    var words = 0L
    var v = 0
    while (v < m) { cursor(v) = words << 6; words += (nodeBv(v).numBits + 63) >>> 6; v += 1 }
    val bits = new Array[Long](words.toInt)
    val child = new Array[Int](2 * m)
    v = 0
    while (v < m) {
      System.arraycopy(nodeBv(v).toWords, 0, bits, (cursor(v) >>> 6).toInt, (nodeBv(v).numBits + 63) >>> 6)
      child(2 * v) = nodeLeft(v)
      child(2 * v + 1) = nodeRight(v)
      v += 1
    }
    var i = 0
    while (i < length) {
      var node = root
      while (node >= 0) {
        val p = cursor(node)
        cursor(node) = p + 1
        node = child(2 * node + ((bits((p >>> 6).toInt) >>> p) & 1L).toInt)
      }
      out(i) = -node - 1
      i += 1
    }
    out
  }

  def write(out: DataOutput): Unit = {
    out.writeInt(length)
    out.writeInt(sigma)
    var i = 0
    while (i < sigma) { out.writeLong(codes(i)); out.writeByte(codeLens(i).toInt); i += 1 }
    out.writeInt(nodeLeft.length)
    i = 0
    while (i < nodeLeft.length) {
      out.writeInt(nodeLeft(i)); out.writeInt(nodeRight(i))
      i += 1
    }
    out.writeInt(root)
    i = 0
    while (i < nodeBv.length) { BitSeqSerde.write(out, nodeBv(i)); i += 1 }
  }

  override def hashCode: Int = {
    var h = length + 31 * sigma + root
    var i = 0
    while (i < nodeBv.length) { h = h * 31 + nodeBv(i).hashCode; i += 1 }
    h + java.util.Arrays.hashCode(codes)
  }
}

object HuffmanWaveletTree {

  /** Builds over `seq` with values in [0, sigma); every value should occur at least once
    * (absent values get rank 0 via zero-length codes). `compress` stores every node
    * bitvector RRR-compressed (entropy-sized, ~2-4x slower rank) instead of Rank9.
    */
  def apply(seq: Array[Int], sigma: Int, compress: Boolean = false): HuffmanWaveletTree = {
    val n = seq.length
    val freq = new Array[Long](sigma)
    var i = 0
    while (i < n) { freq(seq(i)) += 1; i += 1 }
    val present = (0 until sigma).filter(freq(_) > 0)

    if (present.length <= 1) {
      // single distinct symbol (or empty): no internal nodes. Only supported when that
      // symbol is 0 (the FM-Index sentinel) — inverseSelect has no tree to read from.
      require(present.isEmpty || present.head == 0,
        "degenerate single-symbol sequences must use symbol 0")
      return new HuffmanWaveletTree(n, sigma, new Array[Long](sigma),
        new Array[Byte](sigma), Array.empty, Array.empty, -1, Array.empty[BitRankSeq])
    }

    // deterministic Huffman: min-heap on (freq, id); leaf ids 0..sigma-1, internal after
    val numInternal = present.length - 1
    val nodeLeft = new Array[Int](numInternal)
    val nodeRight = new Array[Int](numInternal)
    val subFreq = new Array[Long](numInternal)
    implicit val ord: Ordering[(Long, Int)] = Ordering.Tuple2(Ordering.Long.reverse, Ordering.Int.reverse)
    val heap = scala.collection.mutable.PriorityQueue[(Long, Int)]()
    present.foreach(s => heap.enqueue((freq(s), -s - 1))) // leaves as negative markers
    var nextInternal = 0
    while (heap.size > 1) {
      val (f1, a) = heap.dequeue()
      val (f2, b) = heap.dequeue()
      val id = nextInternal
      nodeLeft(id) = a // leaves arrive as -(sym+1); internal ids are >= 0
      nodeRight(id) = b
      subFreq(id) = f1 + f2
      heap.enqueue((f1 + f2, id))
      nextInternal += 1
    }
    val root = heap.dequeue()._2

    // assign codes by walking the tree
    val codes = new Array[Long](sigma)
    val codeLens = new Array[Byte](sigma)
    def assign(node: Int, code: Long, len: Int): Unit = {
      if (node < 0) {
        val sym = -node - 1
        codes(sym) = code
        codeLens(sym) = len.toByte
      } else {
        assign(nodeLeft(node), code << 1, len + 1)
        assign(nodeRight(node), (code << 1) | 1L, len + 1)
      }
    }
    assign(root, 0L, 0)

    // per-node bitvector sizes = subtree frequency
    val builders = Array.tabulate(numInternal)(id => new RankBitVector.Builder(subFreq(id).toInt))
    val cursors = new Array[Int](numInternal)
    i = 0
    while (i < n) {
      val sym = seq(i)
      var node = root
      var l = codeLens(sym) - 1
      val code = codes(sym)
      while (l >= 0) {
        val bit = (code >>> l) & 1L
        if (bit != 0L) builders(node).set(cursors(node))
        cursors(node) += 1
        node = if (bit == 0L) nodeLeft(node) else nodeRight(node)
        l -= 1
      }
      i += 1
    }
    new HuffmanWaveletTree(n, sigma, codes, codeLens, nodeLeft, nodeRight, root,
      builders.map(b => BitSeqSerde.maybeCompress(b.result(), compress)))
  }

  def read(in: DataInput): HuffmanWaveletTree = {
    val length = in.readInt()
    val sigma = in.readInt()
    val codes = new Array[Long](sigma)
    val codeLens = new Array[Byte](sigma)
    var i = 0
    while (i < sigma) { codes(i) = in.readLong(); codeLens(i) = in.readByte(); i += 1 }
    val numInternal = in.readInt()
    val nodeLeft = new Array[Int](numInternal)
    val nodeRight = new Array[Int](numInternal)
    i = 0
    while (i < numInternal) { nodeLeft(i) = in.readInt(); nodeRight(i) = in.readInt(); i += 1 }
    val root = in.readInt()
    val nodeBv = new Array[BitRankSeq](numInternal)
    i = 0
    while (i < numInternal) { nodeBv(i) = BitSeqSerde.read(in); i += 1 }
    new HuffmanWaveletTree(length, sigma, codes, codeLens, nodeLeft, nodeRight, root, nodeBv)
  }
}
