package graft.core

/** Single-shard stress at the pipeline's maxCorpusChars cap (128M chars,
  * TranscriptPipeline.Config.maxCorpusChars): builds ONE FmIndex over a deterministic
  * log-like corpus and reports build throughput, peak-heap estimate, serialized bytes
  * and query latencies — the numbers that size real executors (a shard-build task at
  * the cap needs corpus + SA-IS int arrays + BWT in memory at once).
  *
  * Usage: runMain graft.core.BigShardStress [chars] [sampleRate]
  *    or: runMain graft.core.BigShardStress --file <path> <reps> [sampleRate]
  * The --file mode replicates a UTF-8 log fixture (e.g. the reference's
  * HDFS_2k_multichar.log) and additionally reports serialized size as a percentage of
  * input UTF-8 BYTES — the unit the reference's size benchmark uses (44.5% @rate 32 on
  * Android.log, FmIndexSerializedSizeBenchmark.java:57).
  * Prints one JSON line per build config (Rank9 for speed, RRR for size).
  */
object BigShardStress {

  /** Deterministic log-like text (levels, block ids, key=value pairs, CJK salt) with a
    * multi-hundred-symbol alphabet, no Spark dependency.
    */
  def corpus(chars: Int, seed: Long = 42L): Array[Char] = {
    val rnd = new scala.util.Random(seed)
    val levels = Array("INFO ", "WARN ", "ERROR ", "DEBUG ")
    val words = Array("Received", "block", "packet", "src:", "dest:", "size=", "blk_",
      "PacketResponder", "terminating", "exception", "retry", "offset=")
    val sb = new java.lang.StringBuilder(chars + 256)
    while (sb.length < chars) {
      sb.append(levels(rnd.nextInt(levels.length)))
      val n = 4 + rnd.nextInt(10)
      var i = 0
      while (i < n) {
        rnd.nextInt(6) match {
          case 0 => sb.append("blk_").append(rnd.nextLong())
          case 1 => sb.append("size=").append(rnd.nextInt(1 << 24))
          case 2 => sb.append((0x4e00 + rnd.nextInt(512)).toChar)
          case _ => sb.append(words(rnd.nextInt(words.length)))
        }
        sb.append(' ')
        i += 1
      }
      sb.append('\n')
    }
    val out = new Array[Char](chars)
    sb.getChars(0, chars, out, 0)
    out
  }

  private def usedHeapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  /** Runs `f` while sampling used heap every 20 ms: (result, seconds, peak used bytes). */
  private def withPeakHeap[T](f: => T): (T, Double, Long) = {
    @volatile var peak = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      val rt = Runtime.getRuntime
      while (sampling) {
        peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    val out = f
    val sec = (System.nanoTime() - t0) / 1e9
    sampling = false
    sampler.join()
    (out, sec, peak)
  }

  def main(args: Array[String]): Unit = {
    val (text, inputBytes, sampleRate) =
      if (args.headOption.contains("--file")) {
        val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(1)))
        val reps = args(2).toInt
        val rate = if (args.length > 3) args(3).toInt else 32
        val one = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
        val sb = new java.lang.StringBuilder(one.length * reps)
        (0 until reps).foreach(_ => sb.append(one))
        val out = new Array[Char](sb.length)
        sb.getChars(0, sb.length, out, 0)
        System.err.println(s"[stress] fixture ${args(1)} x$reps: ${out.length} chars, " +
          s"${raw.length.toLong * reps} bytes")
        (out, raw.length.toLong * reps, rate)
      } else {
        val chars = if (args.length > 0) args(0).toInt else 1 << 27 // 128M default
        val rate = if (args.length > 1) args(1).toInt else 32
        System.err.println(s"[stress] generating $chars chars...")
        (corpus(chars), -1L, rate)
      }
    val chars = text.length
    val baseHeap = usedHeapMb()

    val configs = Seq[(String, FmIndexBuilder)](
      ("huffman+rank9", new FmIndexBuilder().setSampleRate(sampleRate)),
      ("huffman+rrr", new FmIndexBuilder().setSampleRate(sampleRate).setCompression(true))
    )
    val patterns = Seq("blk_", "PacketResponder", "size=1", "terminating")
    configs.foreach { case (name, builder) =>
      // sample used heap during the build: the transient peak (SA-IS int arrays + BWT)
      // is what sizes a real executor, not the retained index
      val (fm, buildSec, peak) = withPeakHeap(builder.build(text))
      val peakMb = (peak >> 20) - baseHeap
      val retainedMb = usedHeapMb() - baseHeap
      val bytes = fm.serialize().length
      // warm the query paths before timing: the FIRST config otherwise pays the JIT
      // interpreter/compile cost in its numbers and cross-config ratios skew
      patterns.foreach(p => fm.count(p.toCharArray))
      fm.locate("blk_".toCharArray, 0, 4, new Array[Int](1000), 1000)
      fm.extractString(chars / 3, chars / 3 + 1024)
      val q0 = System.nanoTime()
      val counts = patterns.map(p => fm.count(p.toCharArray))
      val countUs = (System.nanoTime() - q0) / 1e3 / patterns.length
      val l0 = System.nanoTime()
      val loc = new Array[Int](1000)
      val nLoc = fm.locate("blk_".toCharArray, 0, 4, loc, 1000)
      val locateUs = (System.nanoTime() - l0) / 1e3
      val e0 = System.nanoTime()
      val snippet = fm.extractString(chars / 2, chars / 2 + 1024)
      val extractUs = (System.nanoTime() - e0) / 1e3
      require(snippet.length == 1024 && nLoc > 0 && counts.head > 0)
      // per-char costs of two ways to rebuild text: the LF-walk extract (one wavelet
      // descent per char) against one linear decode of the whole shard, as route runs
      // (shard-sized corpora repeat each pass: their arrays stay in cache)
      val span = math.min(chars, 1 << 20)
      val reps = math.max(1, (1 << 22) / chars)
      fm.extractString(0, span)
      val x0 = System.nanoTime()
      (1 to reps).foreach(_ => fm.extractString(0, span))
      val extractNs = (System.nanoTime() - x0).toDouble / span / reps
      fm.decodeAll() // warm-up
      val decodeBase = usedHeapMb()
      val (decoded, decodeSec, decodePeak) = withPeakHeap {
        var last = fm.decodeAll()
        (2 to reps).foreach(_ => last = fm.decodeAll())
        last
      }
      require(java.util.Arrays.equals(decoded, text), "decodeAll differs from the input")
      val decodePeakMb = (decodePeak >> 20) - decodeBase
      // one overlapping indexOf scan of the decoded text, as route runs per live rule
      val decodedText = new String(decoded)
      val s0 = System.nanoTime()
      var hits = 0
      (1 to reps).foreach { _ =>
        var i = decodedText.indexOf("blk_")
        while (i >= 0) { hits += 1; i = decodedText.indexOf("blk_", i + 1) }
      }
      val scanNs = (System.nanoTime() - s0).toDouble / chars / reps
      require(hits == counts.head * reps)
      println(
        f"""{"engine":"$name","chars":$chars,"sampleRate":$sampleRate,""" +
          f""""buildSec":$buildSec%.1f,"mcharsPerSec":${chars / 1e6 / buildSec}%.2f,""" +
          f""""peakHeapMb":$peakMb,"retainedMb":$retainedMb,"serializedBytes":$bytes,""" +
          f""""bytesPerChar":${bytes.toDouble / chars}%.3f,""" +
          (if (inputBytes > 0) f""""pctOfInputBytes":${100.0 * bytes / inputBytes}%.1f,""" else "") +
          f""""countUsPerPattern":$countUs%.0f,"locate1000Us":$locateUs%.0f,""" +
          f""""extract1024Us":$extractUs%.0f,"extractNsPerChar":$extractNs%.1f,""" +
          f""""decodeNsPerChar":${decodeSec * 1e9 / chars / reps}%.1f,"scanNsPerChar":$scanNs%.2f,""" +
          f""""buildPeakBytesPerChar":${peakMb * 1048576.0 / chars}%.1f,""" +
          f""""decodePeakBytesPerChar":${decodePeakMb * 1048576.0 / chars}%.1f}""")
    }
  }
}
