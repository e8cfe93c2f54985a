package perfbench

import graft.pipeline.{TranscriptPipeline, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `ingest`: a fresh runToSinks from raw log lines to committed sinks, in a
  * closed loop with one client, at local[cores] and then at local[1] on the
  * same corpus. The index-write side: parse, shard build, route with the 5
  * default rules, sink write and the lineage/aggregate/commit tail.
  */
object Ingest {
  val Convs = 500
  val TurnsPerConv = 40
  val Cfg: TranscriptPipeline.Config = TranscriptPipeline.Config(numShards = 64, saltBlock = 256,
    sampleRate = 16, numPartitionsOpt = Some(16))
  private val rules = Cfg.rules
  // the traced run's direct route call: corpus substrings plus absent-char rules
  val SeededRules = 224
  val AbsentRules = 32

  final case class Input(rawDir: String, turns: Long, oracle: Map[String, SinkTotals])

  /** Generates the corpus, writes it as raw log lines and computes the oracle. */
  def setup(cfg: Settings, cores: Int): (SparkSession, Input) = {
    val spark = Main.session(cfg, cores)
    val turns = Corpus.turns(spark, Convs, TurnsPerConv, cfg.seed)
    val rawDir = cfg.dir("raw")
    Transcripts.renderRawLines(turns).write.parquet(rawDir)
    (spark, Input(rawDir, Corpus.turnCount(Convs, TurnsPerConv), Corpus.oracle(spark, turns, rules)))
  }

  /** Committed rows and matches per sink (text chars are checked on the route call). */
  def sinkTotals(spark: SparkSession, outDir: String): Map[String, SinkTotals] =
    TranscriptPipeline.readSinks(spark, outDir).groupBy("sink")
      .agg(count(lit(1)), sum("n_matches")).collect()
      .map(r => r.getString(0) -> SinkTotals(r.getLong(1), r.getLong(2), 0L)).toMap

  private def withoutChars(m: Map[String, SinkTotals]) = m.map { case (k, v) => k -> v.copy(chars = 0L) }

  /** (rows, sum n_matches, sum n_turns) of the committed aggregates. */
  def aggregateTotals(spark: SparkSession, outDir: String): (Long, Long, Long) = {
    val r = spark.read.parquet(s"$outDir/aggregates")
      .agg(count(lit(1)), sum("n_matches"), sum("n_turns")).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One timed ingest: parse + runToSinks into a fresh output directory. */
  def once(spark: SparkSession, in: Input, outDir: String): (TranscriptPipeline.RunReport, Double) =
    Main.timed {
      val turns = Transcripts.parseRawLines(spark, spark.read.parquet(in.rawDir))
      TranscriptPipeline.runToSinks(spark, turns, Cfg, outDir)
    }

  def verify(r: Report, spark: SparkSession, in: Input, rep: TranscriptPipeline.RunReport, outDir: String): Unit = {
    r.check(rep.turnsIndexed == in.turns && !rep.resumed,
      s"ingest indexed ${rep.turnsIndexed} turns (resumed=${rep.resumed}), want ${in.turns}")
    Corpus.checkSinks(r, "ingest", sinkTotals(spark, outDir), withoutChars(in.oracle))
  }

  /** A rerun into committed output must resume and change neither sinks nor aggregates. */
  def resume(r: Report, spark: SparkSession, in: Input, outDir: String, t: Tracer): Unit = {
    val before = (sinkTotals(spark, outDir), aggregateTotals(spark, outDir))
    val rep = t.span("pipeline.resume") {
      TranscriptPipeline.runToSinks(spark,
        Transcripts.parseRawLines(spark, spark.read.parquet(in.rawDir)), Cfg, outDir)
    }
    r.check(rep.resumed && rep.turnsIndexed == 0, s"resume reported $rep")
    val after = (sinkTotals(spark, outDir), aggregateTotals(spark, outDir))
    r.check(after == before, s"resume changed committed output: $before -> $after")
  }

  def run(cfg: Settings, t: Tracer, r: Report): Unit = {
    val reps = if (cfg.trace) 1 else 3
    var spark: SparkSession = null
    var in: Input = null
    val setupS = r.phase("setup")((1 to reps).map { _ =>
      val ((s, i), sec) = Main.timed(setup(cfg, cfg.cores))
      spark = s; in = i; sec
    })
    r.info("corpus") = Map("turns" -> in.turns, "convs" -> Convs, "turns_per_conv" -> TurnsPerConv,
      "shards" -> Cfg.numShards, "partitions" -> Cfg.numPartitions, "sample_rate" -> Cfg.sampleRate)
    // JIT warm-up on the same corpus (the first run is ~30% slower)
    val warm = cfg.dir("out-warm")
    r.phase("warm-up")(verify(r, spark, in, once(spark, in, warm)._1, warm))

    if (cfg.trace) traced(cfg, spark, in, t, r)
    else {
      var lastOut = ""
      val par = Main.closedLoop(cfg.seconds, 3) { i =>
        val out = cfg.dir(s"out-par-${i % 2}")
        val (rep, sec) = r.phase("parallel")(once(spark, in, out))
        r.phase("verify")(verify(r, spark, in, rep, out))
        lastOut = out
        sec
      }
      r.phase("resume")(resume(r, spark, in, lastOut, t))
      val serialSession = r.phase("session") {
        val s = Main.session(cfg, 1)
        s.read.parquet(in.rawDir).count() // the new context's first job
        s
      }
      val ser = Main.closedLoop(cfg.seconds, 3) { i =>
        val out = cfg.dir(s"out-ser-${i % 2}")
        val (rep, sec) = r.phase("serial")(once(serialSession, in, out))
        r.phase("verify")(verify(r, serialSession, in, rep, out))
        sec
      }
      r.info("samples") = Map("setup" -> setupS.size, "parallel_ops" -> par.size, "serial_ops" -> ser.size)
      r.info("parallel_op_s") = par
      r.info("serial_op_s") = ser
      Main.endToEnd(r, setupS, in.turns.toDouble, "turn committed", Stats.median(par), Stats.median(ser),
        cfg.cores)
    }
  }

  /** Traced ingest: one untraced op on each side of the traced one (for the
    * tracing overhead), then a traced pass of the catalog so that run reports
    * every layer too.
    */
  private def traced(cfg: Settings, spark: SparkSession, in: Input, t: Tracer, r: Report): Unit = {
    val (_, before) = once(spark, in, cfg.dir("out-untraced"))
    val (op, tracedS) = layers(cfg, spark, in, t, r)
    Layers.sparkCounts(r, t, op)
    t.detach()
    Main.overhead(r, tracedS, before, once(spark, in, cfg.dir("out-untraced"))._2)
    Catalog.probe(cfg, t, r)
  }

  /** The pipeline and core layers, for a traced run of another workload. */
  def probe(cfg: Settings, t: Tracer, r: Report): Unit = {
    val (spark, in) = setup(cfg, cfg.cores)
    val warm = cfg.dir("out-warm")
    verify(r, spark, in, once(spark, in, warm)._1, warm)
    layers(cfg, spark, in, t, r)
    t.detach()
  }

  /** One traced runToSinks split into its layers, then each layer's public call
    * on its own. Returns the traced runToSinks span and its wall time.
    */
  private def layers(cfg: Settings, spark: SparkSession, in: Input, t: Tracer, r: Report): (Span, Double) = {
    t.attach(spark.sparkContext)
    val out = cfg.dir("out-traced")
    val ((rep, _), tracedS) = Main.timed(t.span("pipeline.runToSinks") { once(spark, in, out) })
    verify(r, spark, in, rep, out)
    val op = t.find("pipeline.runToSinks").get
    attribute(r, t, op)
    resume(r, spark, in, out, t)
    Layers.put(r, "pipeline.resume", t.aggOf(t.find("pipeline.resume").get))

    // direct layer calls, each materialized on its own
    val parsed = t.span("pipeline.parse") {
      val p = Transcripts.parseRawLines(spark, spark.read.parquet(in.rawDir)).persist()
      val n = p.count()
      r.metric("pipeline.parse.rows_dropped", (in.turns - n).toDouble, "count")
      p
    }
    val shards = t.span("pipeline.build") {
      val s = TranscriptPipeline.buildShards(spark, parsed, Cfg).persist()
      s.count()
      s
    }
    // the read side: a large seeded rule set routed over the persisted shards
    val turns = Corpus.turns(spark, Convs, TurnsPerConv, cfg.seed)
    val seeded = Corpus.seededRules(spark, turns, cfg.seed, SeededRules, AbsentRules)
    val seededOracle = Corpus.oracle(spark, turns, seeded)
    val routed = t.span("pipeline.route") { Corpus.route(spark, shards, seeded) }
    Corpus.checkSinks(r, "route with seeded rules", Corpus.perSink(routed), seededOracle)
    Seq("pipeline.parse", "pipeline.build", "pipeline.route")
      .foreach(n => Layers.put(r, n, t.aggOf(t.find(n).get)))
    val (pruned, hit) = Corpus.pairFractions(spark, shards, seeded, routed)
    r.metric("pipeline.route.rules_per_s", seeded.size / t.aggOf(t.find("pipeline.route").get).wallS, "rules/s")
    r.metric("pipeline.route.rows_out", routed.values.map(_.rows).sum.toDouble, "count")
    r.metric("pipeline.route.pruned_frac", pruned, "ratio")
    r.metric("pipeline.route.hit_frac", hit, "ratio")
    CoreMicro.run(Corpus.coreInput(shards), Cfg.sampleRate, cfg.seed, 2000000L, r, t)
    parsed.unpersist()
    shards.unpersist()
    (op, tracedS)
  }

  /** Splits the traced runToSinks wall into parse, build, route, sink and tail.
    * The sink write is the SQL execution whose insert path ends in /sinks. Its
    * stages are told apart by their task metrics and order: the sink write
    * writes output; the shard build reads the build shuffle (and materializes
    * the persisted shard table); stages before it are the raw scan + parse,
    * stages after it route + enrich. Everything after the sink execution is the
    * tail (lineage, aggregates, window, commit); the rest (planning, markers,
    * gaps between jobs) is `other`.
    */
  private def attribute(r: Report, t: Tracer, op: Span): Unit = {
    // the insert node's arguments start with its output path
    val insertPath = "Arguments: (\\S+?),".r
    val jobs = t.jobsOf(op)
    val sinkJobs = jobs.filter { case (l, j) =>
      t.planOf(l, j).contains("InsertIntoHadoopFsRelationCommand") &&
        insertPath.findAllMatchIn(t.planOf(l, j)).exists(_.group(1).endsWith("/sinks"))
    }
    val stages = sinkJobs.flatMap { case (l, j) => l.synchronized(j.stageIds.flatMap(l.stages.get)) }
      .filter(_.taskMs.nonEmpty)
    val write = stages.filter(_.outputBytes > 0)
    val build = stages.filter(s => s.shuffleRead > 0 && s.outputBytes == 0)
    val buildAt = build.map(_.submitMs).minOption.getOrElse(Long.MaxValue)
    val rest = stages.filterNot(s => write.contains(s) || build.contains(s))
    val (parse, route) = rest.partition(_.submitMs < buildAt)
    def wall(st: Seq[StageRec]) = st.map(s => s.doneMs - s.submitMs).sum / 1e3
    val sinkEnd = sinkJobs.map(_._2.endMs).maxOption.getOrElse(op.endMs)
    val tail = jobs.filter(_._2.startMs >= sinkEnd)
      .flatMap { case (l, j) => l.synchronized(j.stageIds.flatMap(l.stages.get)) }.filter(_.taskMs.nonEmpty)
    val total = (op.endMs - op.startMs) / 1e3
    val tailS = (op.endMs - sinkEnd) / 1e3
    val parts = Seq("parse" -> wall(parse), "build" -> wall(build), "route" -> wall(route),
      "sink" -> wall(write), "tail" -> tailS)
    (parts :+ ("other" -> (total - parts.map(_._2).sum)))
      .foreach { case (k, v) => r.metric(s"ingest.share.$k", v / total, "ratio") }
    Layers.put(r, "pipeline.sink", t.agg(write, wall(write)))
    Layers.put(r, "pipeline.tail", t.agg(tail, tailS))
    r.info("ingest_attribution_s") = (parts :+ ("total" -> total)).toMap
  }
}
