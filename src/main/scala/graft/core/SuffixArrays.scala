package graft.core

/** Suffix-array construction and plain binary-search queries.
  *
  * The reference delegates construction to an external library (DivSufSort,
  * /root/reference/indices/src/main/java/com/dynatrace/fm/FmIndex.java:329-341); we implement
  * SA-IS (Nong, Zhang, Chan: "Linear Suffix Array Construction by Almost Pure Induced-Sorting",
  * DCC 2009) from scratch. `SuffixArraySearch` mirrors the reference's standalone suffix-array
  * count/locate (/root/reference/indices/src/main/java/com/dynatrace/suffixarray/SuffixArray.java:100-156)
  * and doubles as an independent test oracle for the FM-Index.
  */
object SuffixArrays {

  /** SA-IS. Input values must lie in [0, sigma) and s must END with a unique, smallest
    * sentinel: s(n-1) == 0 and 0 appears nowhere else. Runs in O(n).
    */
  def saIs(s: Array[Int], sigma: Int): Array[Int] = {
    val n = s.length
    require(n > 0, "empty input")
    val sa = new Array[Int](n)
    if (n == 1) { sa(0) = 0; return sa }

    // t(i): 0 when suffix i is L-type, 1 when S-type, 3 when LMS (S-type after an
    // L-type), so one read answers either question and the naming compares both at
    // once. The scan is branch-free and leaves the LMS positions, descending, in sa.
    val t = new Array[Byte](n)
    var nLms = 0
    var next = 1 // the type of suffix i + 1; the sentinel is S-type
    var i = n - 2
    while (i >= 0) {
      val a = s(i)
      val b = s(i + 1)
      val cur = ((a - b) >>> 31) | ((((a ^ b) - 1) >>> 31) & next) // a < b, or a == b and S
      val lms = next & (cur ^ 1)
      t(i + 1) = (next | (lms << 1)).toByte
      sa(nLms) = i + 1
      nLms += lms
      next = cur
      i -= 1
    }
    t(0) = next.toByte
    val lmsPos = new Array[Int](nLms) // text order
    var k = 0
    while (k < nLms) { lmsPos(k) = sa(nLms - 1 - k); k += 1 }

    // bucket starts and ends, computed once and copied into `bkt` before each scan
    val starts = new Array[Int](sigma)
    val ends = new Array[Int](sigma)
    i = 0
    while (i < n) { ends(s(i)) += 1; i += 1 }
    var sum = 0
    var c = 0
    while (c < sigma) { starts(c) = sum; sum += ends(c); ends(c) = sum; c += 1 }
    val bkt = new Array[Int](sigma)

    def induce(): Unit = {
      // induce L-type suffixes scanning left-to-right
      System.arraycopy(starts, 0, bkt, 0, sigma)
      var j = 0
      while (j < n) {
        val p = sa(j) - 1
        if (p >= 0 && t(p) == 0) {
          val c = s(p); sa(bkt(c)) = p; bkt(c) += 1
        }
        j += 1
      }
      // induce S-type suffixes scanning right-to-left
      System.arraycopy(ends, 0, bkt, 0, sigma)
      j = n - 1
      while (j >= 0) {
        val p = sa(j) - 1
        if (p >= 0 && t(p) != 0) {
          val c = s(p); bkt(c) -= 1; sa(bkt(c)) = p
        }
        j -= 1
      }
    }

    // 1) place LMS suffixes at their bucket ends (arbitrary relative order), induce once
    java.util.Arrays.fill(sa, -1)
    System.arraycopy(ends, 0, bkt, 0, sigma)
    k = 0
    while (k < nLms) { val p = lmsPos(k); val c = s(p); bkt(c) -= 1; sa(bkt(c)) = p; k += 1 }
    induce()

    // 2) compact the now-sorted LMS substrings to the front of sa (branch-free:
    //    t(p) >> 1 is 1 exactly for LMS)
    k = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      sa(k) = p
      k += t(p) >> 1
      i += 1
    }

    // 3) name LMS substrings (equal substrings share a name); two substrings are equal
    //    when chars and types agree up to and including the next LMS position
    var name = 0
    var prev = -1
    i = 0
    while (i < nLms) {
      val pos = sa(i)
      var diff = prev < 0
      if (!diff) {
        var d = 0
        var done = false
        while (!done) {
          val a = pos + d
          val b = prev + d
          if (s(a) != s(b) || t(a) != t(b)) { diff = true; done = true }
          else if (d > 0 && t(a) == 3) done = true
          else d += 1
        }
      }
      if (diff) { name += 1; prev = pos }
      sa(nLms + (pos >>> 1)) = name - 1
      i += 1
    }

    // 4) the reduced string (LMS names in text order), solved directly when the names
    //    are unique and recursively otherwise
    val s1 = new Array[Int](nLms)
    k = 0
    while (k < nLms) { s1(k) = sa(nLms + (lmsPos(k) >>> 1)); k += 1 }
    val sa1: Array[Int] =
      if (name == nLms) {
        val r = new Array[Int](nLms)
        k = 0
        while (k < nLms) { r(s1(k)) = k; k += 1 }
        r
      } else saIs(s1, name)

    // 5) final induced sort seeded with LMS suffixes in sorted order
    java.util.Arrays.fill(sa, -1)
    System.arraycopy(ends, 0, bkt, 0, sigma)
    i = nLms - 1
    while (i >= 0) {
      val p = lmsPos(sa1(i))
      val c = s(p)
      bkt(c) -= 1
      sa(bkt(c)) = p
      i -= 1
    }
    induce()
    sa
  }
}

/** Plain suffix-array substring search over a text: count and locate by two binary
  * searches (lower/upper interval). Overlapping-match semantics, like the FM-Index.
  */
final class SuffixArraySearch(text: Array[Char]) {
  private val n = text.length
  private val sa: Array[Int] = {
    // map chars to [1, sigma) and append sentinel 0
    val s = new Array[Int](n + 1)
    var i = 0
    while (i < n) { s(i) = text(i).toInt + 1; i += 1 }
    s(n) = 0
    SuffixArrays.saIs(s, 65538)
  }

  /** Compares pattern against suffix sa(row); <0 if pattern sorts before, 0 on prefix match. */
  private def cmp(pattern: Array[Char], row: Int): Int = {
    val start = sa(row)
    var i = 0
    while (i < pattern.length) {
      val ti = start + i
      if (ti >= n) return 1 // suffix exhausted -> suffix is smaller
      val d = Character.compare(pattern(i), text(ti))
      if (d != 0) return d
      i += 1
    }
    0
  }

  private def lowerBound(pattern: Array[Char]): Int = {
    var lo = 0; var hi = n + 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(pattern, mid) > 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def upperBound(pattern: Array[Char]): Int = {
    var lo = 0; var hi = n + 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(pattern, mid) >= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  def count(pattern: Array[Char]): Int = upperBound(pattern) - lowerBound(pattern)

  /** All match positions, sorted ascending. */
  def locate(pattern: Array[Char]): Array[Int] = {
    val lo = lowerBound(pattern)
    val hi = upperBound(pattern)
    val out = new Array[Int](hi - lo)
    var i = lo
    while (i < hi) { out(i - lo) = sa(i); i += 1 }
    java.util.Arrays.sort(out)
    out
  }
}
