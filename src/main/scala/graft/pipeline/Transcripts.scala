package graft.pipeline

import graft.sources.{ManifestDataSource, ManifestTables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.util.Random

/** One turn of a multi-turn conversation/agent transcript — the pipeline's input row
  * (schema fixed by BASELINE.json.input_hint).
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** A routing rule: turns whose text contains `pattern` fan out to sink `sink`. */
case class SinkRule(sink: String, pattern: String)

object Transcripts {

  val Roles: Array[String] = Array("user", "assistant", "system", "tool")
  val Tools: Array[String] = Array("", "bash", "search", "browser", "editor", "scheduler")

  val BaseEpochMicros: Long = 1767225600L * 1000000L // 2026-01-01T00:00:00Z

  /** Default routing rules exercising ASCII, structured and multi-byte patterns. */
  val DefaultRules: Seq[SinkRule] = Seq(
    SinkRule("errors", " ERROR "),
    SinkRule("blocks", "blk_"),
    SinkRule("kv", "size="),
    SinkRule("unicode", "画留"), // CJK bigram present in the salted corpus
    SinkRule("agents", "tool_call")
  )

  /** Enrichment dimensions, tiny by design: role -> (role_group, is_human) and
    * tool -> (tool_family, risk_tier), looked up in-row by `TranscriptPipeline.enrich`.
    */
  val RoleDim: Seq[(String, String, Boolean)] = Seq(("user", "human", true),
    ("assistant", "model", false), ("system", "control", false), ("tool", "machine", false))
  val ToolDim: Seq[(String, String, Int)] = Seq(("", "none", 0), ("bash", "shell", 3),
    ("search", "web", 1), ("browser", "web", 2), ("editor", "files", 2), ("scheduler", "system", 3))

  /** Deterministic (seed-fixed, wall-clock-free) transcript text for one turn.
    * Log-like payload with levels, block ids, key=value pairs and multi-byte salt so
    * per-shard alphabets exceed 1000 symbols (mirroring the reference's multichar fixture).
    */
  private def turnText(rnd: Random): String = {
    val levels = Array("INFO", "WARN", "ERROR", "DEBUG")
    val verbs = Array("Received", "Sent", "Parsed", "Dropped", "Retried", "Routed", "Spilled")
    val nouns = Array("request", "block", "packet", "shard", "batch", "frame", "segment")
    val sb = new StringBuilder(160)
    sb.append(levels(rnd.nextInt(levels.length))).append(' ')
    val n = 6 + rnd.nextInt(12)
    var i = 0
    while (i < n) {
      rnd.nextInt(8) match {
        case 0 => sb.append("blk_").append(rnd.nextLong())
        case 1 => sb.append("size=").append(rnd.nextInt(1 << 24))
        case 2 => sb.append("tool_call id=").append(rnd.nextInt(10000))
        case 3 =>
          val base = rnd.nextInt(3) match {
            case 0 => 0x4e00
            case 1 => 0x0e01
            case _ => 0x30a1
          }
          var k = 0
          val len = 1 + rnd.nextInt(3)
          while (k < len) { sb.append((base + rnd.nextInt(96)).toChar); k += 1 }
          // make the routing bigram reasonably frequent
          if (rnd.nextInt(6) == 0) sb.append('画').append('留')
        case 4 => sb.append(verbs(rnd.nextInt(verbs.length)))
        case _ => sb.append(nouns(rnd.nextInt(nouns.length)))
      }
      sb.append(' ')
      i += 1
    }
    // guarantee " ERROR " routing pattern appears as whole token sometimes
    if (rnd.nextInt(5) == 0) sb.append(" ERROR code=").append(rnd.nextInt(500))
    sb.toString
  }

  /** Generates a deterministic transcript Dataset. `skewConvs` conversations get
    * `skewFactor`x the turn count to exercise salted repartitioning.
    */
  def generate(
      spark: SparkSession,
      nConvs: Int,
      turnsPerConv: Int,
      skewConvs: Int = 2,
      skewFactor: Int = 50,
      seed: Long = 42L
  ): Dataset[Turn] = {
    import spark.implicits._
    val convIds = spark.sparkContext.parallelize(0 until nConvs, math.min(nConvs, 64))
    convIds
      .flatMap { c =>
        val rnd = new Random(seed + c)
        val convId = f"conv-$c%08d"
        val turns = if (c < skewConvs) turnsPerConv * skewFactor else turnsPerConv
        var tsMicros = BaseEpochMicros + c.toLong * 3600L * 1000000L
        (0 until turns).iterator.map { t =>
          tsMicros += 1000000L + rnd.nextInt(30000000)
          Turn(
            convId,
            t,
            Roles(rnd.nextInt(Roles.length)),
            turnText(rnd),
            Tools(rnd.nextInt(Tools.length)),
            new Timestamp(tsMicros / 1000L)
          )
        }
      }
      .toDS()
  }

  /** Renders turns as raw log lines for the grok/regex parse stage:
    * `<iso-ts> [<conv_id>#<turn_idx>] <role>(tool=<tool>): <text>`
    */
  def renderRawLines(turns: Dataset[Turn]): DataFrame =
    turns.select(
      concat(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"), lit(" ["),
        col("conv_id"), lit("#"), col("turn_idx"), lit("] "),
        col("role"), lit("(tool="), col("tool"), lit("): "), col("text")
      ).as("value")
    )

  /** The turns of a manifest table's latest committed snapshot, pinned at plan time:
    * uncommitted or stray parquet files under `dir` are never read. Any partition
    * columns (e.g. `p_bucket`) are dropped. A directory without a committed snapshot
    * fails here, naming it.
    */
  private[graft] def readTable(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    val snap = ManifestTables.latestSnapshotId(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir is not a manifest table: no committed snapshot under $dir/_manifests"))
    spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", snap.toString).load(dir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Turn]
  }

  private val LinePattern =
    "^(\\S+) \\[([^#\\]]+)#(\\d+)\\] (\\w+)\\(tool=([^)]*)\\): (.*)$"

  /** Grok/regex parse of raw transcript lines back into structured Turn rows.
    *
    * One compiled matcher pass per line: the previous all-Catalyst form called
    * regexp_extract once PER FIELD, so every line ran the full pattern five
    * times (plus a formatter-based to_timestamp) — measured r06 at ~2.5x the
    * kernel's parse wall. Semantics are unchanged on every line the renderer
    * can produce: find() mirrors regexp_extract's matcher, non-matching lines
    * drop exactly like the old `conv_id != ""` filter, and the timestamp
    * group — shape-checked to the renderer's fixed `.SSS'Z'` layout, the only
    * layout the old explicit format string accepted — parses to the identical
    * UTC instant (malformed timestamps become null, as to_timestamp returned).
    */
  def parseRawLines(spark: SparkSession, raw: DataFrame): Dataset[Turn] = {
    import spark.implicits._
    val pat = LinePattern
    raw.select(col("value")).as[String].mapPartitions { it =>
      val p = java.util.regex.Pattern.compile(pat)
      val tsShape = java.util.regex.Pattern.compile(
        "\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{3}Z")
      it.flatMap { line =>
        val m = p.matcher(line)
        if (!m.find()) Iterator.empty
        else {
          val ts: Timestamp =
            if (!tsShape.matcher(m.group(1)).matches()) null
            else try Timestamp.from(java.time.Instant.parse(m.group(1)))
            catch { case _: java.time.format.DateTimeParseException => null }
          Iterator.single(Turn(m.group(2), m.group(3).toInt, m.group(4),
            m.group(6), m.group(5), ts))
        }
      }
    }
  }
}
