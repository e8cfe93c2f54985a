package graft.ops

import graft.core.{FmIndex, FmIndexBuilder}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One FM-Index shard over a deterministic partition of a document table: the corpus is
  * the documents' texts joined by a separator, so extractUntilBoundary with the
  * separator reconstructs exactly one document.
  */
case class DocShard(
    shard_id: Int,
    shard: Array[Byte],
    doc_ids: Array[Long],
    offsets: Array[Int],
    lens: Array[Int],
    alpha_fp: Array[Long] // 1024-bit char-presence fingerprint (char & 1023)
)

/** FM-Index operators over the `documents` testdata table, Spark-first: one shuffle to
  * colocate docs into deterministic shards, mapPartitions for the rank/select inner loop,
  * Catalyst aggregation for the global merge.
  */
object DocShards {

  val Separator = '\n'

  def build(spark: SparkSession, docs: DataFrame, numShards: Int, sampleRate: Int = 8,
      compress: Boolean = false): Dataset[DocShard] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .withColumn("shard_id", pmod(hash(col("doc_id")), lit(numShards)).cast("int"))
      .repartition(numShards, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("doc_id"))
      .as[(Long, String, Int)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[DocShard] {
          override def hasNext: Boolean = buf.hasNext
          override def next(): DocShard = {
            val shardId = buf.head._3
            val sb = new java.lang.StringBuilder
            val ids = mutable.ArrayBuffer[Long]()
            val offsets = mutable.ArrayBuffer[Int]()
            val lens = mutable.ArrayBuffer[Int]()
            while (buf.hasNext && buf.head._3 == shardId) {
              val (id, text, _) = buf.next()
              if (sb.length > 0) sb.append(Separator)
              offsets += sb.length
              lens += text.length
              sb.append(text)
              ids += id
            }
            // trailing separator terminates the last document so boundary extraction
            // is always two-sided (never walks to the end of the corpus)
            sb.append(Separator)
            val corpus = new Array[Char](sb.length)
            sb.getChars(0, sb.length, corpus, 0)
            val fm = new FmIndexBuilder().setSampleRate(sampleRate)
              .setCompression(compress).build(corpus)
            // char-presence fingerprint: lets a filter on fm_count(shard, p) > 0 skip
            // the shard without deserializing (FmFingerprintPruning optimizer rule)
            DocShard(shardId, fm.serialize(), ids.toArray, offsets.toArray, lens.toArray,
              graft.functions.AlphaFingerprint.build(corpus))
          }
        }
      }
  }

  /** The slot of the document holding corpus position `pos`. */
  private def slotOf(s: DocShard, pos: Int): Int = {
    val t = java.util.Arrays.binarySearch(s.offsets, pos)
    if (t < 0) -t - 2 else t
  }

  /** A destination for boundary extraction of any one document of `s`: sized from the
    * shard's own max doc length (+1 for the boundary char). A fixed 64 KiB buffer would
    * make extractUntilBoundary* throw on any longer document though the lengths are known.
    */
  private def boundaryBuffer(s: DocShard): Array[Char] =
    new Array[Char](math.max(1 << 16, if (s.lens.isEmpty) 0 else s.lens.max + 1))

  /** Total overlapping occurrences of each pattern across the corpus: per-shard FM count
    * (map-side partial) then a global sum (final agg).
    */
  def countPatterns(spark: SparkSession, shards: Dataset[DocShard], patterns: Seq[String]): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(patterns.toArray)
    shards
      .flatMap { s =>
        val fm = FmIndex.deserialize(s.shard)
        b.value.iterator.map(p => (p, fm.count(p.toCharArray).toLong))
      }
      .toDF("pattern", "partial")
      .groupBy("pattern")
      .agg(sum("partial").as("n_matches"))
  }

  /** (doc_id, pattern, position-within-document) for every overlapping match. */
  def locatePatterns(spark: SparkSession, shards: Dataset[DocShard], patterns: Seq[String]): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(patterns.toArray)
    shards.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      b.value.iterator.flatMap { p =>
        fm.locateAll(p.toCharArray).iterator.map { pos =>
          val t = slotOf(s, pos)
          (s.doc_ids(t), p, (pos - s.offsets(t)).toLong)
        }
      }
    }.toDF("doc_id", "pattern", "pos")
  }

  /** FM-extracted slice [from, from+len) of each document (clamped to the doc). */
  def extractSlices(spark: SparkSession, shards: Dataset[DocShard], from: Int, len: Int): DataFrame = {
    import spark.implicits._
    shards.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      (0 until s.doc_ids.length).iterator.flatMap { t =>
        if (s.lens(t) < from) Iterator.empty
        else {
          val start = s.offsets(t) + from
          val stop = math.min(s.offsets(t) + s.lens(t), start + len)
          Iterator.single((s.doc_ids(t), fm.extractString(start, stop)))
        }
      }
    }.toDF("doc_id", "snippet")
  }

  /** Key/value-style split around the FIRST match of `pattern` in each matching
    * document, using the one-sided boundary extractions: prefix = chars from the
    * document start to just before the match (extractUntilBoundaryLeft), suffix =
    * chars just after the match to the document end (extractUntilBoundaryRight) —
    * the reference's key=value extraction surface
    * (/root/reference/indices/src/main/java/com/dynatrace/fm/FmIndex.java:772-831,844-922)
    * over a distributed shard table. `p` is the 1-based match position.
    */
  def boundaryParts(spark: SparkSession, shards: Dataset[DocShard], pattern: String): DataFrame = {
    import spark.implicits._
    shards.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      val pat = pattern.toCharArray
      val first = mutable.LinkedHashMap[Int, Int]() // doc slot -> first local hit
      fm.locateAll(pat).foreach { pos => // ascending, so first insert wins
        val t = slotOf(s, pos)
        if (!first.contains(t)) first(t) = pos - s.offsets(t)
      }
      val dest = boundaryBuffer(s)
      first.iterator.map { case (t, local) =>
        val g = s.offsets(t) + local
        val prefix =
          if (local == 0) "" // match at doc start: nothing left of it inside the doc
          else {
            val n = fm.extractUntilBoundaryLeft(g - 1, dest, 0, Separator)
            new String(dest, 0, n)
          }
        val suffix = {
          val n = fm.extractUntilBoundaryRight(g + pat.length - 1, dest, 0, Separator)
          new String(dest, 0, n)
        }
        (s.doc_ids(t), (local + 1).toLong, prefix, suffix)
      }
    }.toDF("doc_id", "p", "prefix", "suffix")
  }

  /** Documents containing `pattern`, with text RECONSTRUCTED from the shard via
    * extractUntilBoundary around the first match (the separator delimits documents).
    */
  def docsOfMatches(spark: SparkSession, shards: Dataset[DocShard], pattern: String): DataFrame = {
    import spark.implicits._
    shards.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      val seen = mutable.LinkedHashSet[Int]()
      fm.locateAll(pattern.toCharArray).foreach(pos => seen += slotOf(s, pos))
      val dest = boundaryBuffer(s)
      seen.iterator.map { t =>
        // reconstruct the whole document by boundary extraction around its first char
        val n = fm.extractUntilBoundary(s.offsets(t), dest, 0, Separator)
        (s.doc_ids(t), new String(dest, 0, n))
      }
    }.toDF("doc_id", "text")
  }
}
