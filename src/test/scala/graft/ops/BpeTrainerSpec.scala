package graft.ops

import graft.SharedSparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed BPE trainer against a plain in-memory reference on an
  * adversarial vocabulary: same-symbol runs (where greedy left-to-right vs global
  * replace diverge), interleaved pairs, merged symbols that re-enter later merges,
  * and count ties (broken by (l, r) ascending). The catalog gate (q59) proves the
  * trainer against DuckDB on the real corpus; this spec proves the greedy contract
  * on the inputs the corpus never produces.
  */
class BpeTrainerSpec extends AnyFunSuite with SharedSparkSession {

  /** Reference BPE: greedy single-pass merge application, (count desc, l, r) argmax. */
  private def refTrain(words: Map[String, Long], k: Int)
      : (Seq[(Int, String, String, Long, Long)], Map[String, Vector[String]]) = {
    var tbl: Map[String, (Vector[String], Long)] =
      words.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (rank <- 1 to k) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (syms, f)) <- tbl; i <- 0 until syms.length - 1)
        pc.updateWith((syms(i), syms(i + 1)))(v => Some(v.getOrElse(0L) + f))
      val ((l, r), n) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      def apply1(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
          else { out += syms(i); i += 1 }
        }
        out.result()
      }
      tbl = tbl.map { case (w, (syms, f)) => w -> (apply1(syms), f) }
      val vocab = tbl.values.iterator.flatMap(_._1).toSet.size.toLong
      merges += ((rank, l, r, n, vocab))
    }
    (merges.result(), tbl.map { case (w, (syms, _)) => w -> syms })
  }

  // runs of one symbol, interleaved xyxy, tie pairs, and words that force a learned
  // symbol ('ab') to win a later round as the LEFT side of a merge
  private val adversarial: Map[String, Long] = Map(
    "aaaa" -> 7, "aaa" -> 5, "aa" -> 3,
    "abab" -> 6, "ababab" -> 2,
    "abc" -> 4, "abd" -> 4, // tie between (ab,c)... exercised after ab merges
    "banana" -> 5, "bandana" -> 3,
    "xxyy" -> 9, "xyxy" -> 9, // tie on (x,y) vs (y,x)? counts differ by construction
    "zzzzz" -> 1)

  private def toDf(words: Map[String, Long]) = {
    import spark.implicits._
    words.toSeq.toDF("w", "f")
  }

  test("distributed trainer matches the in-memory reference on adversarial runs/ties") {
    val k = 12
    val (expect, refWords) = refTrain(adversarial, k)
    val (got, finalWords) = BpeTrainer.train(toDf(adversarial), k)
    assert(got.map(m => (m.merge_rank, m.left_sym, m.right_sym, m.n_pair, m.vocab_after))
      == expect, s"merge tables diverge:\n got=$got\n exp=$expect")
    // the final symbolized words must match the reference exactly, word by word
    val gotWords = finalWords.collect().map(r =>
      r.getString(0) -> r.getSeq[String](2).toVector).toMap
    BpeTrainer.free(finalWords)
    assert(gotWords == refWords)
    // greedy sanity on the runs: 'aaaa' after merging (a,a) must be [aa, aa] not 3 merges
    val aa = gotWords("aaaa")
    assert(aa.forall(_.forall(_ == 'a')) && aa.map(_.length).sum == 4)
  }

  test("local fast path == distributed loop (merges + final words identical)") {
    val k = 12
    val (local, localWords) = BpeTrainer.train(toDf(adversarial), k) // under localMax
    val (dist, distWords) = BpeTrainer.train(toDf(adversarial), k, localMax = 0)
    assert(local == dist, s"merge tables diverge:\n local=$local\n dist=$dist")
    val lw = localWords.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getSeq[String](2).toVector))).toMap
    val dw = distWords.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getSeq[String](2).toVector))).toMap
    BpeTrainer.free(distWords)
    assert(lw == dw)
  }

  test("applyMerge fold is exact greedy left-to-right on literal edge cases") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "a", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("a", "a", "a"), "a", "a", Seq("aa", "a")),
      (Seq("x", "y", "x", "y"), "x", "y", Seq("xy", "xy")),
      (Seq("aa", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("a"), "a", "a", Seq("a")),
      (Seq("b", "a", "n", "a", "n", "a"), "a", "n", Seq("b", "an", "an", "a")))
    for ((in, l, r, want) <- cases) {
      val got = Seq(in).toDF("s")
        .select(BpeTrainer.applyMerge(col("s"), l, r)).head.getSeq[String](0)
      assert(got == want, s"applyMerge($in, $l, $r) = $got, want $want")
    }
  }

  test("randomized: 200 words over {a,b,c,d}, k=10 — trainer matches the reference") {
    val rnd = new scala.util.Random(0x59BE)
    // small alphabet forces deep merge chains and many exact count ties; random
    // freqs in [1,9] keep tie-breaking load-bearing
    val words: Map[String, Long] = (1 to 200).map { _ =>
      val len = 1 + rnd.nextInt(10)
      val w = Array.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString
      w -> (1L + rnd.nextInt(9))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val k = 10
    val (expect, refWords) = refTrain(words, k)
    val (got, finalWords) = BpeTrainer.train(toDf(words), k)
    assert(got.map(m => (m.merge_rank, m.left_sym, m.right_sym, m.n_pair, m.vocab_after))
      == expect)
    val gotWords = finalWords.collect().map(r =>
      r.getString(0) -> r.getSeq[String](2).toVector).toMap
    BpeTrainer.free(finalWords)
    assert(gotWords == refWords)
  }

  test("encode replays the learned merges: tokenizing a training word yields its final symbols") {
    import spark.implicits._
    val k = 10
    val (merges, finalWords) = BpeTrainer.train(toDf(adversarial), k)
    val expected = finalWords.collect().map(r =>
      r.getString(0) -> r.getSeq[String](2).toVector).toMap
    BpeTrainer.free(finalWords)
    val enc = adversarial.keys.toSeq.toDF("w")
      .select(col("w"), BpeTrainer.encode(BpeTrainer.charSymbols(col("w")), merges).as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(enc == expected)
  }

  test("encodeCountKernel equals the expression replay's token count on every word") {
    // the kernel is the q59b apply path; randomized + adversarial words cover
    // same-symbol runs, re-entering merged symbols and multi-round chains
    val rnd = new scala.util.Random(0xC0DE)
    val words: Map[String, Long] = (adversarial.keys ++ (1 to 150).map { _ =>
      Array.fill(1 + rnd.nextInt(10))(('a' + rnd.nextInt(4)).toChar).mkString
    }).map(_ -> 1L).toMap
    val k = 12
    val (merges, finalWords) = BpeTrainer.train(toDf(words), k)
    BpeTrainer.free(finalWords)
    import spark.implicits._
    val viaExpr = words.keys.toSeq.toDF("w")
      .select(col("w"),
        size(BpeTrainer.encode(BpeTrainer.charSymbols(col("w")), merges)).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    words.keys.foreach { w =>
      assert(BpeTrainer.encodeCountKernel(w, merges) == viaExpr(w),
        s"kernel != expression replay for '$w'")
    }
  }
}
