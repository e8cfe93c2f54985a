package graft.pipeline

import graft.SharedSparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class PartitionedTableSpec extends AnyFunSuite with SharedSparkSession {

  test("bucketed write + manifest + read round-trips and prunes partitions") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, nConvs = 20, turnsPerConv = 10)
    val dir = Files.createTempDirectory("ptab").toString
    val counts = PartitionedTable.writeTranscripts(spark, turns, dir, buckets = 8)
    assert(counts.values.sum == turns.count())
    assert(PartitionedTable.manifestRowCount(dir) == turns.count())

    val back = PartitionedTable.readTranscripts(spark, dir)
    assert(back.count() == turns.count())
    assert(back.exceptAll(turns).count() == 0 && turns.exceptAll(back).count() == 0)

    // identity partition pruning reaches the scan
    val pruned = spark.read.parquet(dir).filter(col("p_bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_bucket"))
    assert(pruned.count() == counts.getOrElse(3, 0L))

    // the pipeline consumes the bucketed table directly
    val cfg = TranscriptPipeline.Config(numShards = 8, saltBlock = 16, sampleRate = 8)
    val shards = TranscriptPipeline.buildShards(spark, back, cfg)
    assert(shards.map(_.n_turns.toLong).reduce(_ + _) == turns.count())
  }
}
