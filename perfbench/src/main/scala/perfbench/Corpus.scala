package perfbench

import graft.pipeline.{ShardRow, SinkRule, TranscriptPipeline, Transcripts, Turn}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Per-sink totals: matching turns, overlapping matches, and chars of the
  * matching turns' text (which checks the text the route stage extracts).
  */
final case class SinkTotals(rows: Long, matches: Long, chars: Long)

/** Shared pieces of the transcript workloads: the seeded corpus, the naive-scan
  * oracle and the route operation (route + enrich, aggregated per shard and sink).
  */
object Corpus {

  def overlapping(text: String, pattern: String): Int = {
    var n = 0
    var i = text.indexOf(pattern)
    while (i >= 0) { n += 1; i = text.indexOf(pattern, i + 1) }
    n
  }

  /** The seeded corpus: 4 conversations at 25x the normal turns (salted across shards). */
  def turns(spark: SparkSession, convs: Int, turnsPerConv: Int, seed: Long): Dataset[Turn] =
    Transcripts.generate(spark, convs, turnsPerConv, skewConvs = 4, skewFactor = 25, seed = seed)

  def turnCount(convs: Int, turnsPerConv: Int): Long =
    (convs - 4).toLong * turnsPerConv + 4L * turnsPerConv * 25

  // Greek letters: their (char & 1023) fingerprint bits are set by no char the
  // generator emits, so every shard prunes rules holding one without an FM lookup
  private val absentChars = "πλΩψξ"

  /** A large seeded rule set, one sink per rule: `present` substrings of length
    * 8-32 of corpus turns (the reference JMH query shape) and `absent` rules
    * holding a character no shard contains.
    */
  def seededRules(spark: SparkSession, turns: Dataset[Turn], seed: Long, present: Int,
      absent: Int): Seq[SinkRule] = {
    import spark.implicits._
    val texts = turns.select("text").as[String].sample(false, 0.05, seed).collect().filter(_.length >= 40)
    val rnd = new Random(seed)
    val fromCorpus = (0 until present).map { k =>
      val t = texts(rnd.nextInt(texts.length))
      val len = 8 + rnd.nextInt(25)
      val at = rnd.nextInt(t.length - len + 1)
      SinkRule(f"r$k%03d", t.substring(at, at + len))
    }
    val pruned = (0 until absent).map { k =>
      val t = texts(rnd.nextInt(texts.length))
      val at = rnd.nextInt(t.length - 8)
      val c = absentChars(rnd.nextInt(absentChars.length))
      SinkRule(f"x$k%03d", t.substring(at, at + 4) + c + t.substring(at + 4, at + 8))
    }
    fromCorpus ++ pruned
  }

  def coreInput(shards: Dataset[ShardRow]): Seq[(Array[Byte], Long)] =
    shards.select("shard_id", "shard", "corpus_chars").collect().sortBy(_.getInt(0))
      .map(r => (r.getAs[Array[Byte]](1), r.getLong(2))).toSeq

  /** Naive overlapping-scan oracle over the generated turns, per sink. */
  def oracle(spark: SparkSession, turns: Dataset[Turn], rules: Seq[SinkRule]): Map[String, SinkTotals] = {
    import spark.implicits._
    val rs = rules.toArray
    turns.flatMap { t =>
      rs.iterator.flatMap { r =>
        val n = overlapping(t.text, r.pattern)
        if (n == 0) Iterator.empty else Iterator.single((r.sink, n.toLong, t.text.length.toLong))
      }
    }.toDF("sink", "n", "len")
      .groupBy("sink").agg(count(lit(1)), sum("n"), sum("len"))
      .collect().map(r => r.getString(0) -> SinkTotals(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  /** (shard_id, sink) -> totals from route + enrich over a shard table. */
  def route(spark: SparkSession, shards: Dataset[ShardRow], rules: Seq[SinkRule]): Map[(Int, String), SinkTotals] =
    TranscriptPipeline.enrich(spark, TranscriptPipeline.route(spark, shards, rules))
      .groupBy("shard_id", "sink")
      .agg(count(lit(1)), sum("n_matches"), sum(length(col("text"))),
        // enrichment columns feed the result, so the joins cannot be pruned away
        count(col("role_group")), sum(col("risk_tier")))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> SinkTotals(r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  def perSink(bySinkShard: Map[(Int, String), SinkTotals]): Map[String, SinkTotals] =
    bySinkShard.groupBy(_._1._2).map { case (sink, m) =>
      sink -> m.values.foldLeft(SinkTotals(0, 0, 0))((a, b) =>
        SinkTotals(a.rows + b.rows, a.matches + b.matches, a.chars + b.chars))
    }

  /** Compares per-sink totals; a sink missing on one side counts as zero there. */
  def checkSinks(r: Report, what: String, got: Map[String, SinkTotals], want: Map[String, SinkTotals]): Boolean = {
    val zero = SinkTotals(0, 0, 0)
    val bad = (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.getOrElse(k, zero) != want.getOrElse(k, zero))
    r.check(bad.isEmpty, s"$what: sinks differ from the oracle: " +
      bad.take(3).map(k => s"$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
  }

  /** Fraction of (shard, rule) pairs the alphabet fingerprint prunes, and of the
    * evaluated pairs that matched at least once.
    */
  def pairFractions(spark: SparkSession, shards: Dataset[ShardRow], rules: Seq[SinkRule],
      routed: Map[(Int, String), SinkTotals]): (Double, Double) = {
    val fps = shards.select("alpha_bits").collect().map(_.getSeq[Long](0).toArray)
    val pairs = fps.length.toLong * rules.size
    val pruned = fps.iterator.map(fp => rules.count(r => !TranscriptPipeline.mayContain(fp, r.pattern))).sum
    val evaluated = pairs - pruned
    (pruned.toDouble / pairs, if (evaluated == 0) 0.0 else routed.size.toDouble / evaluated)
  }
}
