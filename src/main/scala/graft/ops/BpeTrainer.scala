package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the vocabulary-learning step
  * of an LLM data pipeline (Sennrich et al. 2016, the GPT-2/SentencePiece recipe).
  *
  * Scale shape: the corpus collapses into a (word, freq) table with ONE hash
  * aggregation — its size is the word vocabulary, not the corpus (~10^7-10^8 rows at
  * 100 TB, vs 10^13 tokens). Every merge round after that is a partial+final pair
  * count over the vocab-sized table plus a single argmax row to the driver; the fold
  * that applies the merge is a per-row array aggregate. K merge rounds = K small jobs
  * whose cost is independent of corpus size. Nothing here is corpus-proportional on
  * the driver: the only collects are the 1-row argmax and the scalar vocab count.
  *
  * Greedy left-to-right merge semantics (the BPE contract: a pair consumed by a merge
  * cannot start another merge in the same round — 'aaaa' with pair (a,a) becomes
  * 'aa','aa', not three overlapping merges) are implemented as a fold: append each
  * symbol, but if the accumulator's last element is `l` and the incoming symbol is
  * `r`, replace the last element with `l+r`. The fold is exact because a just-merged
  * element equals `l+r`, which can never equal `l` (symbols are non-empty), so a
  * merged element never chains into a second merge within the round.
  */
object BpeTrainer {

  /** One learned merge: its rank (1-based), the pair, the pair's weighted count at
    * the time it won, and the distinct-symbol vocabulary size after applying it.
    */
  final case class MergeRow(merge_rank: Int, left_sym: String, right_sym: String,
                            n_pair: Long, vocab_after: Long)

  /** Split a word into single-character symbols (1-based substr — unambiguous where
    * `split(w, "")` is not).
    */
  def charSymbols(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Greedy left-to-right application of one merge (l, r) to a symbol array. */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, lit(-1)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Adjacent symbol pairs of an array as (l, r) structs — empty for 1-symbol words. */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Train `k` merges over a (w: string, f: long) word-frequency table. Ties on the
    * pair count break by (l, r) ascending, so the learned merge list is deterministic.
    * Returns the merge table and the final symbolized word-frequency frame
    * (w, f, syms) — the trained tokenizer's view of the vocabulary.
    *
    * When the vocab fits under `localMax` rows the entire k-round loop runs on the
    * driver over one bounded collect (BpeTrainerSpec pins local == distributed on
    * the same vocabulary): the distributed loop's k+1 jobs exist to keep VOCAB-sized
    * state off the driver, and below the threshold that state is broadcast-sized —
    * paying per-round job latency for it is pure overhead.
    */
  def train(wordFreq: DataFrame, k: Int,
      localMax: Int = LocalFit.MaxRows): (Seq[MergeRow], DataFrame) =
    LocalFit.collectIfSmall(wordFreq.select(col("w"), col("f")), localMax) match {
      case Some(head) =>
        val spark = wordFreq.sparkSession
        import spark.implicits._
        val (merges, words) = trainLocal(
          head.map(r => (r.getString(0), r.getLong(1))), k)
        (merges, spark.createDataset(words.toSeq).toDF("w", "f", "syms"))
      case None => trainDistributed(wordFreq, k)
    }

  /** UTF-8 byte-wise string comparison — Spark's string ordering (UTF8String
    * compares unsigned bytes; Java String.compareTo compares UTF-16 units, which
    * differs beyond the BMP). The tiebreak must match the distributed orderBy.
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** The k-round loop over an in-memory vocab — merge for merge the distributed
    * semantics: weighted adjacent-pair counts, argmax with (n desc, l asc, r asc)
    * byte-wise tiebreak, greedy left-to-right application, per-round distinct-symbol
    * vocab count. Symbols start as CODE POINTS (charSymbols' substr contract).
    */
  private def trainLocal(vocab: Array[(String, Long)],
      k: Int): (Seq[MergeRow], Array[(String, Long, Seq[String])]) = {
    val words = vocab.map { case (w, f) =>
      val syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        syms += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (w, f, syms)
    }
    val merges = Seq.newBuilder[MergeRow]
    for (rank <- 1 to k) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, f, syms) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      require(counts.nonEmpty, s"BPE merge round $rank: no adjacent pairs left")
      var best: ((String, String), Long) = null
      counts.foreach { cand =>
        if (best == null || cand._2 > best._2 ||
            (cand._2 == best._2 && {
              val c = cmpUtf8(cand._1._1, best._1._1)
              c < 0 || (c == 0 && cmpUtf8(cand._1._2, best._1._2) < 0)
            })) best = cand
      }
      val ((l, r), n) = best
      val merged = l + r
      var wi = 0
      while (wi < words.length) {
        val syms = words(wi)._3
        // greedy left-to-right in place: the applyMerge fold contract
        var read = 0
        var write = 0
        while (read < syms.length) {
          val x = syms(read)
          if (write > 0 && syms(write - 1) == l && x == r) syms(write - 1) = merged
          else { syms(write) = x; write += 1 }
          read += 1
        }
        syms.remove(write, syms.length - write)
        wi += 1
      }
      val distinct = new java.util.HashSet[String]()
      words.foreach(_._3.foreach(distinct.add))
      merges += MergeRow(rank, l, r, n, distinct.size.toLong)
    }
    (merges.result(), words.map { case (w, f, syms) => (w, f, syms.toSeq) })
  }

  /** The per-round distributed loop — the at-scale path for vocabs over the local
    * threshold; unchanged semantics (see train).
    */
  private def trainDistributed(wordFreq: DataFrame, k: Int): (Seq[MergeRow], DataFrame) = {
    val merges = Seq.newBuilder[MergeRow]
    // Lazy localCheckpoint per round, not persist: each round stacks another
    // interpreted-HOF fold onto the plan, and with plain persist round i's actions
    // re-analyze/canonicalize an i-deep nested-aggregate tree — driver time goes
    // quadratic in k (measured: the 16-round loop dropped from ~75 s to seconds at
    // sf0.001 when the lineage is truncated to a LogicalRDD each round). The first
    // action of a round materializes that round's checkpoint in the same job; the
    // superseded round's blocks are freed eagerly so storage stays at ONE snapshot.
    var cur = wordFreq
      .select(col("w"), col("f"), charSymbols(col("w")).as("syms"))
      .localCheckpoint(false)
    // ONE collect per round state: the 1-row distinct-symbol count and the 1-row
    // argmax pair are two aggregate branches over the SAME lazily checkpointed
    // frame, joined into a single row (left join: the row survives when no pairs
    // remain, so the per-round require keeps firing) — round i's action returns
    // round i's vocab_after AND round i+1's winning pair, halving the old
    // argmax-job-then-count-job sequence to k+1 driver-bounded jobs total.
    def stats(df: DataFrame): (Long, Option[(String, String, Long)]) = {
      val pairTop = df
        .select(col("f"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
      val vocab = df.select(explode(col("syms")).as("s"))
        .agg(countDistinct(col("s")).as("v"))
      val row = vocab.join(pairTop, lit(true), "left").collect()(0)
      (row.getLong(0),
        if (row.isNullAt(1)) None
        else Some((row.getString(1), row.getString(2), row.getLong(3))))
    }
    var topCur = stats(cur)._2
    for (rank <- 1 to k) {
      require(topCur.nonEmpty, s"BPE merge round $rank: no adjacent pairs left")
      val (l, r, n) = topCur.get
      val next = cur
        .withColumn("syms", applyMerge(col("syms"), l, r))
        .localCheckpoint(false)
      val (vocabAfter, topNext) = stats(next)
      free(cur) // safe: the stats action just materialized `next` past `cur`
      cur = next
      topCur = topNext
      merges += MergeRow(rank, l, r, n, vocabAfter)
    }
    (merges.result(), cur)
  }

  /** Frees the block store behind the returned (localCheckpoint'd) word frame —
    * `Dataset.unpersist` only clears cacheManager entries, so callers done with the
    * trained frame must release it through here. No-op for non-checkpointed frames.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Encode a symbol array by replaying a learned merge list in rank order —
    * tokenization with the trained vocabulary.
    */
  def encode(syms: Column, merges: Seq[MergeRow]): Column =
    merges.foldLeft(syms)((s, m) => applyMerge(s, m.left_sym, m.right_sym))

  /** Token COUNT of one word under the learned merge list — the same greedy
    * left-to-right replay as [[encode]] ([[applyMerge]]'s fold contract, symbol
    * for symbol) in a plain Scala kernel. [[encode]] composes k nested
    * interpreted array-aggregate expressions (per word, per row: a depth-k
    * expression tree); for the corpus-apply query only the FINAL count is
    * needed, and this kernel computes it in one linear pass per merge round.
    * BpeTrainerSpec pins kernel == expression replay on every trained word.
    */
  def encodeCountKernel(w: String, merges: Seq[MergeRow]): Int = {
    var syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) { syms += String.valueOf(w.charAt(i)); i += 1 }
    merges.foreach { m =>
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      val merged = m.left_sym + m.right_sym
      syms.foreach { x =>
        if (out.nonEmpty && out.last == m.left_sym && x == m.right_sym)
          out(out.length - 1) = merged
        else out += x
      }
      syms = out
    }
    syms.length
  }
}
