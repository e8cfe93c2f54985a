package graft.ops

import graft.pipeline.{ShardRow, TranscriptPipeline, Turn}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** Session-scoped cache of built shard tables for the query catalog. Production
  * persists the shard table once and re-queries it (`TranscriptPipeline
  * .writeShardTable` / `readShardTable`); the catalog mirrors that by sharing one
  * persisted Dataset across the queries that hit the same (table, config) — q20-q25
  * over the document shards, q71-q73 over the event shards — instead of rebuilding
  * the identical index table per query. Keyed by the live SparkContext so a cached
  * plan can never leak across sessions (Bench starts a fresh session per phase).
  */
private[graft] object ShardTableCache {

  private val cache = mutable.Map[(Int, String), Any]()

  private def key(s: SparkSession, tag: String): (Int, String) =
    (System.identityHashCode(s.sparkContext), tag)

  private def getOrBuild[T](s: SparkSession, tag: String)(build: => Dataset[T]): Dataset[T] =
    synchronized {
      // entries from any other context belong to a previous (stopped) session in this
      // single-driver setup — drop them so stale plans can never be served
      cache.filterInPlace { case ((ctx, _), _) => ctx == System.identityHashCode(s.sparkContext) }
      cache.getOrElseUpdate(key(s, tag), build.persist()).asInstanceOf[Dataset[T]]
    }

  /** SPARK_GRAFT_SHARD_COMPRESSION=off|all (unset = off) turns RRR on for every catalog
    * shard table WITHOUT touching query code — how the catalog's correctness check is
    * re-run against compressed shards (results must be identical: compression is
    * storage-only). Any other value throws, so a typo can never silently check
    * uncompressed shards.
    */
  private[graft] def parseCompression(value: Option[String]): Boolean = value match {
    case None | Some("off") => false
    case Some("all") => true
    case Some(other) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_SHARD_COMPRESSION must be off or all, got '$other'")
  }

  private[graft] def compress: Boolean =
    parseCompression(sys.env.get("SPARK_GRAFT_SHARD_COMPRESSION"))

  def docShards(s: SparkSession, dir: String, numShards: Int): Dataset[DocShard] =
    getOrBuild(s, s"docs:$dir:$numShards:$compress") {
      DocShards.build(s, s.read.parquet(s"$dir/documents.parquet"), numShards,
        compress = compress)
    }

  def eventShards(s: SparkSession, dir: String, cfg: TranscriptPipeline.Config): Dataset[ShardRow] = {
    import s.implicits._
    val effective = effectiveCfg(cfg)
    getOrBuild(s, s"events:$dir:$effective") {
      TranscriptPipeline.buildShards(s, CorpusQueries.eventTranscripts(s, dir).as[Turn], effective)
    }
  }

  /** Shards built from turns served BY THE MANIFEST TABLE (q74's north-rule
    * composition). Cached separately from `eventShards` — same rows, different
    * provenance: this build's input plan is the DSv2 manifest scan, so the cache
    * must never alias the raw-parquet build.
    */
  def manifestEventShards(s: SparkSession, dir: String, cfg: TranscriptPipeline.Config,
      turns: => Dataset[Turn]): Dataset[ShardRow] = {
    val effective = effectiveCfg(cfg)
    getOrBuild(s, s"manifest-events:$dir:$effective") {
      TranscriptPipeline.buildShards(s, turns, effective)
    }
  }

  /** An arbitrary prebuilt shard table under a cache key — q75's two-phase
    * incremental build (tagged-snapshot shards + delta shards, unioned) caches as
    * one unit. The FULL config is part of the key, same as every sibling entry —
    * two callers sharing a tag but differing in numShards/rules must never alias.
    */
  def customShards(s: SparkSession, tag: String, cfg: TranscriptPipeline.Config,
      build: => Dataset[ShardRow]): Dataset[ShardRow] =
    getOrBuild(s, s"custom:$tag:${effectiveCfg(cfg)}")(build)

  /** The catalog-wide compression sweep (env knob) applied to a pipeline config. */
  private[graft] def effectiveCfg(cfg: TranscriptPipeline.Config): TranscriptPipeline.Config =
    if (compress) cfg.copy(compress = true) else cfg
}
