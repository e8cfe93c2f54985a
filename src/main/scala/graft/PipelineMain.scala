package graft

import graft.ops.CorpusQueries
import graft.pipeline.{SinkRule, Transcripts, TranscriptPipeline}
import org.apache.spark.sql.SparkSession

/** Production entry point (spark-submit):
  *
  *   spark-submit --class graft.PipelineMain <jar> \
  *     --input <manifest table dir | raw-line dir with --raw-lines | "synthetic:N_CONVS:TURNS"> \
  *     --output <out dir> [--shards 4096] [--sample-rate 16] [--salt-block 4096] \
  *     [--rules sink=pattern,sink=pattern,...] [--raw-lines] [--compress]
  *
  * A table input is read at its latest committed manifest snapshot (write it through
  * graft.sources.ManifestDataSource); a directory without one fails at startup. Every
  * flag is checked before the session starts.
  *
  * Runs parse -> index -> route -> aggregate and writes per-sink tables, aggregates,
  * window stats and lineage under --output with atomic per-attempt commit markers.
  * Re-running with the same --output resumes: committed shard_ids (from the lineage
  * parquet) are anti-joined away, and a crash in any window leaves only orphan files
  * that readers never see. Cluster size comes from spark-submit (--master / executor
  * settings); nothing here depends on it — shard assignment is a pure function of the
  * data.
  */
object PipelineMain {

  private val ValueFlags = Set("input", "output", "shards", "sample-rate", "salt-block", "rules")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--raw-lines" => m += "raw-lines" -> "true"; i += 1
        case "--compress" => m += "compress" -> "true"; i += 1
        case flag if flag.startsWith("--") && ValueFlags(flag.drop(2)) && i + 1 < args.length =>
          m += flag.drop(2) -> args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  /** `--rules sink=pattern,...`. Every entry needs a sink, an `=` and a non-empty
    * pattern: an empty pattern would otherwise reach FmIndex.count (which needs at
    * least one char) inside a routing task, after the whole shard build.
    */
  private[graft] def parseRules(spec: String): Seq[SinkRule] =
    spec.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(sink, pattern) if sink.nonEmpty && pattern.nonEmpty => SinkRule(sink, pattern)
        case _ => throw new IllegalArgumentException(
          s"--rules entry '$kv' is not sink=pattern with a non-empty sink and pattern")
      }
    }

  private def positive(name: String, value: String): Int =
    CorpusQueries.parsePositiveInt(name, Some(value)).get

  /** The pipeline config of the parsed flags; a bad count names its flag. */
  private[graft] def parseConfig(opts: Map[String, String]): TranscriptPipeline.Config =
    TranscriptPipeline.Config(
      numShards = positive("--shards", opts.getOrElse("shards", "4096")),
      saltBlock = positive("--salt-block", opts.getOrElse("salt-block", "4096")),
      sampleRate = positive("--sample-rate", opts.getOrElse("sample-rate", "16")),
      rules = opts.get("rules").map(parseRules).getOrElse(Transcripts.DefaultRules),
      compress = opts.contains("compress"))

  /** `--input synthetic:N_CONVS:TURNS` as (N_CONVS, TURNS); None for any other input. */
  private[graft] def parseSynthetic(input: String): Option[(Int, Int)] =
    if (!input.startsWith("synthetic:")) None
    else input.split(":", -1) match {
      case Array(_, n, t) => Some((positive("--input synthetic N_CONVS", n),
        positive("--input synthetic TURNS", t)))
      case _ => throw new IllegalArgumentException(
        s"--input '$input' is not synthetic:N_CONVS:TURNS")
    }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val cfg = parseConfig(opts)
    val synthetic = parseSynthetic(input)

    val spark = SparkSession.builder()
      // spark-submit injects spark.master; default to local[*] for direct JVM runs
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .appName("graft-transcript-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val turns = synthetic match {
      case Some((nConvs, nTurns)) => Transcripts.generate(spark, nConvs, nTurns)
      case None if opts.contains("raw-lines") =>
        Transcripts.parseRawLines(spark, spark.read.text(input))
      case None => Transcripts.readTable(spark, input)
    }

    val t0 = System.nanoTime()
    val report = TranscriptPipeline.runToSinks(spark, turns, cfg, output)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] resumed=${report.resumed} shards=${report.shardsBuilt} " +
      f"turns=${report.turnsIndexed} routed=${report.rowsRouted} " +
      f"seconds=$sec%.1f turns_per_sec=${report.turnsIndexed / sec}%.0f")
    spark.stop()
  }
}
