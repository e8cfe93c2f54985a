package graft.core

import scala.util.Random

/** Naive oracles + deterministic fixtures for differential testing, behaviorally matching
  * the reference's test utilities
  * (/root/reference/indices/src/test/java/com/dynatrace/util/Util.java:111-258) and the
  * HDFS_2k_multichar.log fixture characteristics (2k lines, >2000 distinct chars including
  * multi-byte UTF-8). We synthesize our own corpus with the same properties (seed 42).
  */
object TestOracles {

  val SmallerText: Array[Char] = "aloha what a string this is string is eh".toCharArray

  val LongerText: Array[Char] =
    ("""It was a bright cold day in the lab and the clocks were striking thirteen.
      |The analyst, his chin nuzzled into his coat in an effort to escape the vile
      |wind, slipped quickly through the glass doors, though not quickly enough to
      |prevent a swirl of gritty dust from entering along with him. The hallway smelt
      |of old coffee and fresh solder. At one end of it a colour poster, too large
      |for indoor display, had been tacked to the wall. It depicted simply an
      |enormous dashboard, more than a metre wide: the face of a cluster, heavy
      |with graphs, ruggedly handsome executors and partitions. The analyst made
      |for the stairs. It was no use trying the lift. Even at the best of times it
      |was seldom working, and at present the electric current was cut off during
      |daylight hours. It was part of the economy drive in preparation for
      |Capacity Week. The office was seven flights up, and the analyst, who was
      |thirty-nine and had a varicose ulcer above his right ankle, went slowly,
      |resting several times on the way. On each landing, opposite the lift-shaft,
      |the poster with the enormous dashboard gazed from the wall. It was one of
      |those pictures which are so contrived that the numbers follow you about when
      |you move. THE SHUFFLE IS WATCHING YOU, the caption beneath it ran.
      |""".stripMargin).toCharArray

  /** The corner-case boundary fixture from FmIndexTest.java:379. */
  val BoundaryText: String = "What a string!\nNow this is long, indeed\nBut others could be longer."

  /** Deterministic HDFS-style multichar log corpus: 2000 lines, components, block ids,
    * key=value pairs, and CJK/Thai/Katakana salt (alphabet > 1000 distinct, all < 32767).
    */
  lazy val LogCorpus: String = {
    val rnd = new Random(42)
    val levels = Array("INFO", "WARN", "ERROR", "DEBUG")
    val components = Array(
      "dfs.DataNode$PacketResponder", "dfs.FSNamesystem", "dfs.DataBlockScanner",
      "mapred.TaskTracker", "rpc.Server", "net.NetworkTopology", "ipc.Client",
      "hdfs.StateChange", "security.UserGroupInformation", "util.GSet")
    val words = Array(
      "Received", "block", "of", "size", "from", "terminating", "Verification",
      "succeeded", "for", "ask", "to", "replicate", "Deleting", "added", "stored",
      "PacketResponder", "exception", "while", "serving", "src", "dest")
    val sb = new StringBuilder
    var i = 0
    while (i < 2000) {
      sb.append(f"${81109 + rnd.nextInt(100)}%06d ")
      sb.append(f"${rnd.nextInt(240000)}%06d ")
      sb.append(rnd.nextInt(4000)).append(' ')
      sb.append(levels(rnd.nextInt(levels.length))).append(' ')
      sb.append(components(rnd.nextInt(components.length))).append(": ")
      var w = 0
      val nWords = 4 + rnd.nextInt(10)
      while (w < nWords) {
        rnd.nextInt(6) match {
          case 0 => sb.append("blk_").append(rnd.nextLong())
          case 1 => sb.append("size=").append(rnd.nextInt(1 << 26))
          case 2 => // multichar salt: CJK / Thai / Katakana, all below 32767
            val base = rnd.nextInt(3) match {
              case 0 => 0x4e00 + rnd.nextInt(0x2000)
              case 1 => 0x0e01 + rnd.nextInt(0x3a)
              case _ => 0x30a1 + rnd.nextInt(0x54)
            }
            var k = 0
            val len = 1 + rnd.nextInt(4)
            while (k < len) { sb.append((base + rnd.nextInt(64)).toChar); k += 1 }
          case 3 => sb.append("10.").append(rnd.nextInt(256)).append('.')
            .append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
            .append(':').append(rnd.nextInt(65536))
          case _ => sb.append(words(rnd.nextInt(words.length)))
        }
        sb.append(' ')
        w += 1
      }
      sb.append('\n')
      i += 1
    }
    sb.toString
  }

  lazy val LogChars: Array[Char] = LogCorpus.toCharArray

  /** Golden-hash inputs for the construction kernels' edge cases: more than 1024
    * distinct symbols with embedded '\u0000' and a surrogate pair, a 5,000-char
    * single-symbol run, and a 2-symbol text.
    */
  lazy val GoldenInputs: Seq[(String, Array[Char])] = Seq(
    "wide" -> {
      val rnd = new Random(13)
      val sb = new StringBuilder
      var k = 0
      while (k < 1100) { // 7919 is coprime to 1100: every CJK char of the range once
        sb.append((0x4e00 + (k * 7919) % 1100).toChar).append(('a' + rnd.nextInt(26)).toChar)
        if (k % 50 == 0) sb.append('\u0000')
        if (k % 97 == 0) sb.append("\uD83D\uDE00")
        k += 1
      }
      sb.toString.toCharArray
    },
    "run" -> Array.fill(5000)('x'),
    "two" -> { val rnd = new Random(17); Array.fill(4000)(if (rnd.nextInt(3) == 0) 'b' else 'a') })

  /** Overlapping-match count of a literal pattern (restart at start+1). */
  def countOverlapping(text: Array[Char], pattern: Array[Char]): Int =
    locateOverlapping(text, pattern).length

  /** Sorted positions of overlapping matches of a literal pattern. */
  def locateOverlapping(text: Array[Char], pattern: Array[Char]): Array[Int] = {
    val t = new String(text)
    val p = new String(pattern)
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var from = 0
    var idx = t.indexOf(p, from)
    while (idx >= 0) {
      out += idx
      from = idx + 1
      idx = t.indexOf(p, from)
    }
    out.toArray
  }

  /** Slice around `seed` delimited (exclusive) by `boundary` on both sides. */
  def extractUntilBoundary(text: Array[Char], seed: Int, boundary: Char): String = {
    if (text(seed) == boundary) return ""
    val down = new StringBuilder
    var i = seed
    while (i >= 0 && text(i) != boundary) { down.append(text(i)); i -= 1 }
    val up = new StringBuilder
    i = seed + 1
    while (i < text.length && text(i) != boundary) { up.append(text(i)); i += 1 }
    down.reverse.toString + up.toString
  }

  def extractUntilBoundaryLeft(text: Array[Char], seed: Int, boundary: Char): String = {
    if (text(seed) == boundary) return ""
    val down = new StringBuilder
    var i = seed
    while (i >= 0 && text(i) != boundary) { down.append(text(i)); i -= 1 }
    down.reverse.toString
  }

  def extractUntilBoundaryRight(text: Array[Char], seed: Int, boundary: Char): String = {
    if (text(seed) == boundary) return ""
    val up = new StringBuilder
    var i = seed + 1
    while (i < text.length && text(i) != boundary) { up.append(text(i)); i += 1 }
    up.toString
  }

  /** Suffix array by sorting suffix indices by suffix comparison, O(n^2 log n). */
  def naiveSa(s: Array[Int]): Array[Int] = {
    val n = s.length
    Array.range(0, n).sortWith { (a, b) =>
      var i = a; var j = b
      var res = 0
      while (res == 0 && i < n && j < n) {
        res = Integer.compare(s(i), s(j))
        i += 1; j += 1
      }
      if (res != 0) res < 0 else i == n && j < n
    }
  }

  /** Suffix array by prefix doubling, O(n log^2 n): each round sorts the suffixes by
    * (rank of the first k symbols, rank of the next k) packed into one long with the
    * position. Symbols and n must be below 2^21 - 1. An oracle independent of SA-IS.
    */
  def prefixDoublingSa(s: Array[Int]): Array[Int] = {
    val n = s.length
    require(n < (1 << 21) - 1 && s.forall(x => x >= 0 && x < (1 << 21) - 1))
    val low = (1L << 21) - 1
    var rank = s.clone()
    val keys = new Array[Long](n)
    val sa = new Array[Int](n)
    var k = 1
    var sorted = false
    while (!sorted) {
      var i = 0
      while (i < n) {
        val next = if (i + k < n) rank(i + k) + 1 else 0 // a suffix that ended sorts first
        keys(i) = (rank(i).toLong << 42) | (next.toLong << 21) | i
        i += 1
      }
      java.util.Arrays.sort(keys)
      val nextRank = new Array[Int](n)
      var r = 0
      i = 0
      while (i < n) {
        if (i > 0 && (keys(i) >>> 21) != (keys(i - 1) >>> 21)) r += 1
        sa(i) = (keys(i) & low).toInt
        nextRank(sa(i)) = r
        i += 1
      }
      rank = nextRank
      sorted = r == n - 1
      k *= 2
    }
    sa
  }

  /** How many levels of reduced strings SA-IS recurses into for the sentinel-terminated
    * `s`: 0 when its LMS substrings are all distinct. Derived independently of SA-IS:
    * LMS substrings are ordered by their suffixes' ranks and named by comparing chars
    * and L/S types up to and including the next LMS position.
    */
  def saIsDepth(s: Array[Int]): Int = {
    val n = s.length
    val sType = new Array[Boolean](n)
    sType(n - 1) = true
    for (i <- n - 2 to 0 by -1) sType(i) = s(i) < s(i + 1) || (s(i) == s(i + 1) && sType(i + 1))
    val lms = (1 until n).filter(i => sType(i) && !sType(i - 1)).toArray
    val nextLms = lms.indices.map(j => if (j + 1 < lms.length) lms(j + 1) else lms(j)).toArray
    def substring(j: Int) = (lms(j) to nextLms(j)).map(x => (s(x), sType(x)))
    val rank = new Array[Int](n)
    prefixDoublingSa(s).zipWithIndex.foreach { case (p, r) => rank(p) = r }
    val byRank = lms.indices.sortBy(j => rank(lms(j)))
    val names = new Array[Int](lms.length)
    var name = 0
    byRank.indices.foreach { r =>
      if (r > 0 && substring(byRank(r)) != substring(byRank(r - 1))) name += 1
      names(byRank(r)) = name
    }
    if (name == lms.length - 1) 0 else 1 + saIsDepth(names)
  }

  /** The Fibonacci word of length `n` over {a, b} (a prefix of the infinite word). */
  def fibonacciWord(n: Int, a: Int, b: Int): Array[Int] = {
    var prev = Array(b)
    var cur = Array(a)
    while (cur.length < n) { val next = cur ++ prev; prev = cur; cur = next }
    cur.take(n)
  }

  /** A Rank9 vector of `numBits` bits with bit i set when `set(i)`. */
  def bitVector(numBits: Int)(set: Int => Boolean): RankBitVector = {
    val words = new Array[Long](((numBits + 63) >>> 6) max 1)
    (0 until numBits).foreach(i => if (set(i)) words(i >>> 6) |= 1L << i)
    RankBitVector.fromWords(numBits, words)
  }

  /** Naive symbol frequency in [0, until). */
  def countPrevOccurrences(sym: Int, seq: Array[Int], until: Int): Int = {
    var c = 0
    var i = 0
    while (i < until) { if (seq(i) == sym) c += 1; i += 1 }
    c
  }
}
