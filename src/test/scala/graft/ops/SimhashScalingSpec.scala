package graft.ops

import graft.{SharedSparkSession, SparkEntry, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale behavior of the 64-bit / 4x16-bit-band SimHash pairing (q37).
  *
  * The round-3 design banded a 16-bit signature into two 8-bit halves — 256 values
  * per band, so bucket sizes grew ~n/256 and candidate pairs ~n^2/512 REGARDLESS of
  * content (structural, not adversarial). The 64-bit signature with 16-bit quarters
  * is the production shape (4 bands over 2^16 values each): this spec pins that
  * bucket sizes stay near-constant and per-doc candidate work stays bounded when the
  * corpus grows 10x, and that the band join's recall is exact for hamming <= 3.
  */
class SimhashScalingSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  /** Deterministic synthetic corpus: n docs of odd token counts over a shared vocab
    * (odd so no majority ties — signature bits land ~iid uniform, the honest model
    * for distinct web documents).
    */
  private def corpusDir(n: Int): String = {
    import spark.implicits._
    val dir = tempDir(s"simhash_scale_$n").toString
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(5000)(i => s"tok${i}_${rnd.nextInt(100000)}")
    (0 until n).map { i =>
      val r = new scala.util.Random(1000L + i)
      val len = 21 + 2 * r.nextInt(15) // odd, 21..49
      (i.toLong, Array.fill(len)(vocab(r.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def signatures(dir: String): DataFrame =
    SparkEntry.queries("q42_simhash")(spark, dir)

  /** (max band-bucket size, total candidate pairs across the 4 bands). */
  private def bandStats(sig: DataFrame): (Long, Long) = {
    val buckets = sig
      .select(posexplode(CorpusQueries.simhashBands(col("simhash"))).as(Seq("bi", "bv")))
      .groupBy("bi", "bv").count()
    val maxBucket = buckets.agg(max("count")).head.getLong(0)
    val candidates = buckets
      .agg(sum(col("count") * (col("count") - 1))).head.getLong(0) / 2
    (maxBucket, candidates)
  }

  test("16-bit bands: bucket sizes stay near-constant and per-doc candidates bounded on a 10x corpus") {
    val (n1, n2) = (500, 5000)
    val (d1, d2) = (corpusDir(n1), corpusDir(n2))
    val (max1, cand1) = bandStats(signatures(d1))
    val (max2, cand2) = bandStats(signatures(d2))
    // bucket sizes: ~n/65536 per band value — growing the corpus 10x must not grow
    // the max bucket 10x (the old 8-bit bands grew it linearly: ~n/256)
    assert(max1 <= 4, s"n=$n1 max bucket $max1")
    assert(max2 <= 8, s"n=$n2 max bucket $max2 — buckets growing linearly?")
    // per-doc candidate work stays below a small constant at both scales (the old
    // shape paid ~n/512 candidates PER DOC — ~10/doc at n=5000)
    assert(cand1.toDouble / n1 < 1.0, s"n=$n1: ${cand1.toDouble / n1} candidates/doc")
    assert(cand2.toDouble / n2 < 1.0, s"n=$n2: ${cand2.toDouble / n2} candidates/doc")

    // contrast pin: banding the SAME signatures the old way (8-bit halves of the low
    // 16 bits) explodes candidate work by >10x per doc at n2 — the structural blowup
    // this round removed
    val oldBuckets = signatures(d2)
      .select(posexplode(array(
        col("simhash").bitwiseAND(lit(255L)),
        shiftright(col("simhash"), 8).bitwiseAND(lit(255L)))).as(Seq("bi", "bv")))
      .groupBy("bi", "bv").count()
    val oldCand = oldBuckets
      .agg(sum(col("count") * (col("count") - 1))).head.getLong(0) / 2
    assert(oldCand > 10L * cand2,
      s"expected the 8-bit shape to cost >10x the 16-bit shape: old=$oldCand new=$cand2")
  }

  test("band join recall is pigeonhole-exact for hamming <= 3 (engine-side brute-force check)") {
    import spark.implicits._
    // corpus with PLANTED near-duplicates: copies with 1..3 tokens changed land within
    // a few signature bits of their source
    val dir = tempDir("simhash_recall").toString
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(2000)(i => s"w$i")
    val base = (0 until 150).map { i =>
      val r = new scala.util.Random(500L + i)
      (i.toLong, Array.fill(31)(vocab(r.nextInt(vocab.length))))
    }
    val nearDups = base.take(40).map { case (id, toks) =>
      val t2 = toks.clone()
      val edits = 1 + rnd.nextInt(3)
      (0 until edits).foreach(_ => t2(rnd.nextInt(t2.length)) = vocab(rnd.nextInt(vocab.length)))
      (1000L + id, t2)
    }
    (base ++ nearDups).map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("q37_simhash_neardup")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = signatures(dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "planted near-duplicates produced no hamming<=3 pairs — vacuous test")
    assert(got == want, s"band join recall broke: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}
