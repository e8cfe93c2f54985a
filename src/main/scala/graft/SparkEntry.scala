package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CorpusQueries, RelationalQueries}
import graft.pipeline.{Transcripts, TranscriptPipeline}

/** Driver contract: flagship entry + the operator catalog with DuckDB oracles.
  * See SURVEY.md section 2 for the coverage map.
  */
object SparkEntry {

  /** Flagship: the full parse -> index -> route -> aggregate transcript pipeline on a
    * deterministic synthetic corpus — raw log lines are grok-parsed into turns,
    * FM-Index shards are built per deterministic partition, substring routing fans
    * turns out to sinks, enriched from in-row dimension lookups.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Transcripts.generate(spark, nConvs = 30, turnsPerConv = 20)
    val parsed = Transcripts.parseRawLines(spark, Transcripts.renderRawLines(turns))
    val cfg = TranscriptPipeline.Config(numShards = 16, saltBlock = 64, sampleRate = 16)
    val shards = TranscriptPipeline.buildShards(spark, parsed, cfg)
    val routed = TranscriptPipeline.route(spark, shards, cfg.rules)
    TranscriptPipeline.enrich(spark, routed)
      .orderBy(col("sink"), col("conv_id"), col("turn_idx"))
  }

  /** One entry per implemented operator from SURVEY.md section 2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ CorpusQueries.queries

  /** DuckDB-equivalent SQL for the driver's correctness gate. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ CorpusQueries.oracleSql
}
