package graft.core

import java.io.{DataInput, DataOutput}

/** Huffman-shaped wavelet tree: symbols get canonical-derived Huffman paths, so frequent
  * symbols (the BWT of log text is highly skewed) descend ~entropy levels instead of
  * ceil(log2 sigma). Same rank/inverseSelect contract as the reference's Huffman-shaped
  * fixed-block-boosting wavelet
  * (/root/reference/indices/src/main/java/com/dynatrace/wavelet/WaveletFixedBlockBoosting.java:1010,1305),
  * realized as one rank bitvector per internal Huffman node instead of block boosting.
  *
  * Deterministic construction: the Huffman merges break frequency ties by node id, so the
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
    // inverseSelect packs the symbol into 16 bits, and construction buffers hold chars
    require(sigma <= 65536, s"sigma must be at most 65536, got $sigma")
    val n = seq.length
    // symbol counts, and the symbols as chars: the first of the two partition buffers
    // used below
    val freq = new Array[Long](sigma)
    val bufs = Array(new Array[Char](n), new Array[Char](n))
    val buf0 = bufs(0)
    var i = 0
    while (i < n) { val a = seq(i); freq(a) += 1; buf0(i) = a.toChar; i += 1 }
    var nPresent = 0
    i = 0
    while (i < sigma) { if (freq(i) > 0) nPresent += 1; i += 1 }

    if (nPresent <= 1) {
      // single distinct symbol (or empty): no internal nodes. Only supported when that
      // symbol is 0 (the FM-Index sentinel) — inverseSelect has no tree to read from.
      require(nPresent == 0 || freq(0) > 0,
        "degenerate single-symbol sequences must use symbol 0")
      return new HuffmanWaveletTree(n, sigma, new Array[Long](sigma),
        new Array[Byte](sigma), Array.empty, Array.empty, -1, Array.empty[BitRankSeq])
    }

    // Deterministic Huffman: merge the two smallest nodes by (freq, id) until one is
    // left; leaf ids are -(sym+1), internal ids 0, 1, ... in merge order. Merges come
    // out in (freq, id) order, so the smallest node heads either the sorted leaves or
    // the unmerged internal nodes (the two-queue form of a min-heap on (freq, id)).
    val numInternal = nPresent - 1
    val nodeLeft = new Array[Int](numInternal)
    val nodeRight = new Array[Int](numInternal)
    val subFreq = new Array[Long](numInternal)
    val leaves = new Array[Long](nPresent) // freq, then 65535 - sym: ascending (freq, id)
    var k = 0
    i = 0
    while (i < sigma) {
      if (freq(i) > 0) { leaves(k) = (freq(i) << 16) | (65535 - i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(leaves)
    var nextLeaf = 0
    var nextMerged = 0
    var id = 0
    while (id < numInternal) {
      var sum = 0L
      var side = 0
      while (side < 2) {
        // a leaf wins ties: its id is negative
        val leaf = nextLeaf < nPresent &&
          (nextMerged == id || (leaves(nextLeaf) >>> 16) <= subFreq(nextMerged))
        val node =
          if (leaf) {
            val key = leaves(nextLeaf)
            nextLeaf += 1
            sum += key >>> 16
            (key & 0xffffL).toInt - 65536 // -(sym + 1)
          } else {
            val merged = nextMerged
            nextMerged += 1
            sum += subFreq(merged)
            merged
          }
        if (side == 0) nodeLeft(id) = node else nodeRight(id) = node
        side += 1
      }
      subFreq(id) = sum
      id += 1
    }
    val root = numInternal - 1

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

    // Node bits, a word at a time. Each node's symbols sit contiguously, in sequence
    // order, at the same offset in one of two buffers: a node at depth d reads its
    // range from one buffer and stably partitions it into its children's subranges of
    // the other, so every node's bits come from one sequential pass. Children have
    // smaller ids than their parent, so descending ids visit parents first.
    def size(node: Int): Int = if (node >= 0) subFreq(node).toInt else freq(-node - 1).toInt
    val path = new Array[Long](sigma) // the code reversed: bit d is the branch at depth d
    i = 0
    while (i < sigma) {
      if (codeLens(i) > 0) path(i) = java.lang.Long.reverse(codes(i)) >>> (64 - codeLens(i))
      i += 1
    }
    val lo = new Array[Int](numInternal)
    val depth = new Array[Int](numInternal)
    val nodeBv = new Array[BitRankSeq](numInternal)
    var v = root
    while (v >= 0) {
      val d = depth(v)
      val src = bufs(d & 1)
      val dst = bufs((d + 1) & 1)
      val left = nodeLeft(v)
      val right = nodeRight(v)
      val start = lo(v)
      val end = start + size(v)
      var c0 = start
      var c1 = start + size(left)
      if (left >= 0) { lo(left) = c0; depth(left) = d + 1 }
      if (right >= 0) { lo(right) = c1; depth(right) = d + 1 }
      val partition = left >= 0 || right >= 0 // leaves need no symbols
      val words = new Array[Long](((end - start + 63) >>> 6) max 1)
      var w = 0
      var p = start
      while (p < end) {
        val stop = math.min(end, p + 64)
        var word = 0L
        var k = 0
        while (p < stop) {
          val sym = src(p)
          val b = ((path(sym) >>> d) & 1L).toInt
          word |= b.toLong << k
          if (partition) { // branch-free: b picks the cursor
            dst(c0 + ((c1 - c0) & -b)) = sym
            c0 += 1 - b
            c1 += b
          }
          k += 1
          p += 1
        }
        words(w) = word
        w += 1
      }
      nodeBv(v) = BitSeqSerde.maybeCompress(RankBitVector.fromWords(end - start, words), compress)
      v -= 1
    }
    new HuffmanWaveletTree(n, sigma, codes, codeLens, nodeLeft, nodeRight, root, nodeBv)
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
