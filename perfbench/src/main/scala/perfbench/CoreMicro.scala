package perfbench

import graft.core.{FmIndex, FmIndexBuilder}
import scala.util.Random

/** Single-threaded FM-core microbench over shards of a persisted shard table.
  * Mirrors the reference's JMH state (BASELINE.md): 20k random substrings of
  * length 8-32 drawn from the indexed text, locate at 1/10/100 matches and
  * 32-char extracts. A sample of the counts is checked against a naive scan.
  */
object CoreMicro {
  val Queries = 20000

  /** `shards`: serialized FM bytes with their corpus length, in table order. */
  def run(shards: Seq[(Array[Byte], Long)], sampleRate: Int, seed: Long, maxChars: Long,
      r: Report, t: Tracer): Unit = t.span("core.microbench") {
    // leading shards up to `maxChars` of text (always at least one)
    val chosen = shards.foldLeft(Vector.empty[(Array[Byte], Long)]) { (acc, s) =>
      if (acc.nonEmpty && acc.map(_._2).sum + s._2 > maxChars) acc else acc :+ s
    }
    val bytes = chosen.map(_._1.length.toLong).sum
    val chars = chosen.map(_._2).sum

    val (fms, deserS) = Main.timed(t.span("core.deserialize") { chosen.map(s => FmIndex.deserialize(s._1)) })
    val texts = fms.zip(chosen).map { case (fm, (_, n)) => fm.extractString(0, n.toInt) }
    val (_, buildS) = Main.timed(t.span("core.build") {
      texts.foreach(s => new FmIndexBuilder().setSampleRate(sampleRate).build(s.toCharArray))
    })
    r.metric("core.deserialize.ms_per_mb", deserS * 1e3 / (bytes / 1e6), "ms/MB")
    r.metric("core.build.mchars_per_s", chars / 1e6 / buildS, "Mchar/s")
    r.metric("core.index.bytes_per_char", bytes.toDouble / chars, "B/char")

    val rnd = new Random(seed)
    val nonEmpty = texts.indices.filter(i => texts(i).length >= 40)
    val qs = Array.fill(Queries) {
      val i = nonEmpty(rnd.nextInt(nonEmpty.size))
      val len = 8 + rnd.nextInt(25)
      val at = rnd.nextInt(texts(i).length - len)
      (i, texts(i).substring(at, at + len).toCharArray)
    }

    val countNs = new Array[Long](Queries)
    val counts = new Array[Int](Queries)
    t.span("core.count") {
      var k = 0
      while (k < Queries) {
        val (i, p) = qs(k)
        val t0 = System.nanoTime()
        counts(k) = fms(i).count(p)
        countNs(k) = System.nanoTime() - t0
        k += 1
      }
    }
    val sortedNs = countNs.map(_.toDouble).toSeq
    r.metric("core.count.us_p50", Stats.quantile(sortedNs, 0.5) / 1e3, "us")
    r.metric("core.count.us_p99", Stats.quantile(sortedNs, 0.99) / 1e3, "us")
    // a 200-query sample of the counts against a naive overlapping scan
    (0 until 200).foreach { k =>
      val (i, p) = qs(k)
      val s = new String(p)
      var n = 0
      var at = texts(i).indexOf(s)
      while (at >= 0) { n += 1; at = texts(i).indexOf(s, at + 1) }
      r.check(n == counts(k), s"core count mismatch for query $k: fm=${counts(k)} scan=$n")
    }

    val buf = new Array[Int](100)
    Seq(1, 10, 100).foreach { m =>
      var matches = 0L
      val (_, s) = Main.timed(t.span(s"core.locate$m") {
        qs.foreach { case (i, p) => matches += fms(i).locate(p, 0, p.length, buf, m) }
      })
      r.metric(s"core.locate$m.us_per_match", s * 1e6 / math.max(1L, matches), "us")
    }

    val dst = new Array[Char](32)
    var extracted = 0L
    val (_, exS) = Main.timed(t.span("core.extract") {
      qs.foreach { case (i, p) =>
        val start = rnd.nextInt(texts(i).length - 32)
        extracted += fms(i).extract(start, start + 32, dst, 0)
      }
    })
    r.metric("core.extract.ns_per_char", exS * 1e9 / math.max(1L, extracted), "ns")
    r.info("core_microbench") = Map("shards" -> chosen.size, "chars" -> chars, "bytes" -> bytes,
      "queries" -> Queries, "sample_rate" -> sampleRate)
  }
}
