package graft.pipeline

import graft.{SharedSparkSession, TempDirs}
import graft.sources.ManifestDataSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class TranscriptTableSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  test("table input serves the committed snapshot only, and every turn is indexed") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, nConvs = 20, turnsPerConv = 10)
    val dir = tempDir("turntab").toString
    turns.withColumn("p_bucket", pmod(hash(col("conv_id")), lit(8)))
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p_bucket").mode("overwrite").save(dir)
    // an uncommitted file in the table's layout, as a writer killed before its
    // commit leaves behind: a directory listing would serve its rows
    val loose = tempDir("turntab_loose").toString
    turns.limit(5).coalesce(1).write.mode("overwrite").parquet(loose)
    val part = Files.list(Paths.get(loose)).filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.createDirectories(Paths.get(dir, "p_bucket=99"))
    Files.copy(part, Paths.get(dir, "p_bucket=99", "part-uncommitted.parquet"))

    val back = Transcripts.readTable(spark, dir)
    assert(back.count() == turns.count())
    assert(back.exceptAll(turns).count() == 0 && turns.exceptAll(back).count() == 0)

    val cfg = TranscriptPipeline.Config(numShards = 8, saltBlock = 16, sampleRate = 8)
    val shards = TranscriptPipeline.buildShards(spark, back, cfg)
    assert(shards.map(_.n_turns.toLong).reduce(_ + _) == turns.count())

    // plain parquet without a manifest is refused up front, naming the directory
    val e = intercept[IllegalArgumentException](Transcripts.readTable(spark, loose))
    assert(e.getMessage.contains(loose), e.getMessage)
  }
}
