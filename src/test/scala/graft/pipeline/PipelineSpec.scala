package graft.pipeline

import graft.{Probe, SharedSparkSession, TempDirs}
import graft.core.FmIndex
import org.apache.spark.TaskKilled
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd,
  SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** End-to-end pipeline checks (the BASELINE.md invariants):
  *  - routed-row equality: FM-shard routing == Catalyst contains() oracle, per sink
  *  - per-turn text equality: FM extract of EVERY turn == the input text column
  *  - aggregate-count equality vs the oracle pipeline
  *  - grok parse round-trip: render raw lines -> regex parse -> original rows
  *  - resume: partial run + resumed run == single full run, no recount drift
  */
class PipelineSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  private lazy val turns = Transcripts.generate(spark, nConvs = 40, turnsPerConv = 25,
    skewConvs = 2, skewFactor = 20).cache()

  private val cfg = TranscriptPipeline.Config(numShards = 8, saltBlock = 16, sampleRate = 8)

  /** Catalyst-only oracle: route by substring containment on the raw input. */
  private def oracleRouted(rules: Seq[SinkRule]): DataFrame = {
    rules.map { r =>
      turns.filter(col("text").contains(r.pattern))
        .select(lit(r.sink).as("sink"), col("conv_id"), col("turn_idx"),
          col("role"), col("tool"), col("ts"), col("text"))
    }.reduce(_ unionAll _)
  }

  /** The default rules plus a second rule into the `errors` sink: a turn that both
    * match gives that sink two rows with one turn_idx and different n_matches.
    */
  private val sharedSinkCfg = cfg.copy(rules = cfg.rules :+ SinkRule("errors", "R"))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0

  /** `window/` and `aggregates/` of a finished run equal the window and the aggregates
    * of its committed sinks.
    */
  private def assertTailMatchesSinks(out: String): Unit = {
    val sinks = TranscriptPipeline.readSinks(spark, out)
    assert(same(spark.read.parquet(s"$out/window"), TranscriptPipeline.runningWindow(sinks)),
      s"$out: window/ differs from runningWindow(readSinks)")
    assert(same(spark.read.parquet(s"$out/aggregates"),
      TranscriptPipeline.conversationAggregates(sinks)),
      s"$out: aggregates/ differ from conversationAggregates(readSinks)")
  }

  test("grok parse of rendered raw lines round-trips every field") {
    val raw = Transcripts.renderRawLines(turns)
    val parsed = Transcripts.parseRawLines(spark, raw)
    assert(parsed.count() == turns.count())
    // millisecond-precision ts survives the render/parse cycle
    val diff = parsed.exceptAll(turns).count() + turns.exceptAll(parsed).count()
    assert(diff == 0, "parsed rows differ from original rows")
  }

  test("FM-shard routing equals the Catalyst contains() oracle per sink") {
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg).cache()
    val routed = TranscriptPipeline.route(spark, shards, cfg.rules)
      .select("sink", "conv_id", "turn_idx", "role", "tool", "ts", "text")
    val oracle = oracleRouted(cfg.rules)
    val missing = oracle.exceptAll(routed).count()
    val extra = routed.exceptAll(oracle).count()
    assert(missing == 0 && extra == 0, s"routing mismatch: missing=$missing extra=$extra")
    assert(routed.count() > 0, "routing should produce rows on the synthetic corpus")
    shards.unpersist()
  }

  test("RRR-compressed shards route identically") {
    val rrrCfg = cfg.copy(compress = true)
    val base = TranscriptPipeline.route(spark,
        TranscriptPipeline.buildShards(spark, turns, cfg), cfg.rules)
      .select("sink", "conv_id", "turn_idx", "text")
    val rrr = TranscriptPipeline.route(spark,
        TranscriptPipeline.buildShards(spark, turns, rrrCfg), rrrCfg.rules)
      .select("sink", "conv_id", "turn_idx", "text")
    assert(base.count() > 0, "routing should produce rows on the synthetic corpus")
    assert(base.exceptAll(rrr).count() == 0 && rrr.exceptAll(base).count() == 0,
      "compressed shards changed routing output")
  }

  test("per-turn text equality: extract of every turn equals the input text") {
    import spark.implicits._
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg)
    val reconstructed = shards.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      (0 until s.n_turns).iterator.map { t =>
        (s.conv_ids(t), s.turn_idxs(t), fm.extractString(s.offsets(t), s.offsets(t) + s.lens(t)))
      }
    }.toDF("conv_id", "turn_idx", "text")
    val original = turns.select("conv_id", "turn_idx", "text")
    assert(reconstructed.count() == original.count())
    assert(reconstructed.exceptAll(original).count() == 0, "reconstructed text differs")
  }

  test("match counts equal the FM count() on each shard corpus and the oracle") {
    import spark.implicits._
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg).cache()
    val pattern = "size="
    // per-shard FM count on the concatenated corpus == per-turn oracle sum (separator
    // is not part of any pattern so no cross-turn matches exist)
    val fmTotal = shards.map { s =>
      FmIndex.deserialize(s.shard).count(pattern.toCharArray).toLong
    }.reduce(_ + _)
    val oracleTotal = turns
      .select(sum(size(split(col("text"), java.util.regex.Pattern.quote(pattern), -1)) - 1))
      .first().getLong(0)
    assert(fmTotal == oracleTotal, s"fm=$fmTotal oracle=$oracleTotal")
    shards.unpersist()
  }

  test("skewed conversations are split across shards by the salt block") {
    val sid = TranscriptPipeline.shardIdCol(cfg)
    val perConvShards = turns.withColumn("sid", sid)
      .groupBy("conv_id").agg(countDistinct("sid").as("n"))
    val skewed = perConvShards.filter(col("conv_id") === "conv-00000000").first().getLong(1)
    assert(skewed > 1, s"skewed conversation should span multiple shards, got $skewed")
  }

  test("full run writes sinks/aggregates/lineage and a resumed run converges exactly") {
    import spark.implicits._
    for (cfg <- Seq(this.cfg, sharedSinkCfg)) {
      val outFull = tempDir("graft_full").toString
      val outResume = tempDir("graft_resume").toString

      val r1 = TranscriptPipeline.runToSinks(spark, turns, cfg, outFull)
      assert(!r1.resumed && r1.shardsBuilt > 0 && r1.rowsRouted > 0)

      // simulate a killed job: first attempt only processed shards 0..3
      val half = turns.withColumn("sid", TranscriptPipeline.shardIdCol(cfg))
        .filter(col("sid") < 4).drop("sid").as[Turn]
      val p1 = TranscriptPipeline.runToSinks(spark, half, cfg, outResume)
      assert(!p1.resumed)
      val p2 = TranscriptPipeline.runToSinks(spark, turns, cfg, outResume)
      assert(p2.resumed, "second run must resume from the committed lineage")
      // every shard is committed now: a rerun is a no-op attempt
      val p3 = TranscriptPipeline.runToSinks(spark, turns, cfg, outResume)
      assert(p3 == TranscriptPipeline.RunReport(0L, 0L, 0L, resumed = true), s"no-op rerun reported $p3")

      // each report equals the totals its attempt committed to the lineage
      def committedTotals(out: String, attempt: Int) = {
        val r = spark.read.parquet(s"$out/lineage").filter(col("attempt") === attempt)
          .agg(count(lit(1)), coalesce(sum("n_turns"), lit(0L)), coalesce(sum("rows_routed"), lit(0L)))
          .first()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      Seq((r1, outFull, 0), (p1, outResume, 0), (p2, outResume, 1), (p3, outResume, 2))
        .foreach { case (rep, out, attempt) =>
          assert((rep.shardsBuilt, rep.turnsIndexed, rep.rowsRouted) == committedTotals(out, attempt),
            s"attempt $attempt of $out reported $rep")
        }
      assert(p1.turnsIndexed + p2.turnsIndexed == r1.turnsIndexed &&
        p1.rowsRouted + p2.rowsRouted == r1.rowsRouted)

      val sinksFull = TranscriptPipeline.readSinks(spark, outFull)
      val sinksRes = TranscriptPipeline.readSinks(spark, outResume)
      assert(same(sinksFull, sinksRes), "resumed sinks differ from single-run sinks")

      val aggFull = spark.read.parquet(s"$outFull/aggregates")
      val aggRes = spark.read.parquet(s"$outResume/aggregates")
      assert(same(aggFull, aggRes))

      val lineage = spark.read.parquet(s"$outFull/lineage")
      // the schemas re-reads use instead of inferring are the inferred ones
      assert(lineage.schema == TranscriptPipeline.LineageSchema)
      assert(sinksFull.schema == spark.read.parquet(s"$outFull/sinks").drop("attempt").schema)
      assert(lineage.count() == r1.shardsBuilt)
      assert(lineage.agg(sum("n_turns")).first().getLong(0) == turns.count())
      assertTailMatchesSinks(outFull)
      assertTailMatchesSinks(outResume)
    }
  }

  test("the fused build + route write equals buildShards then route, piece by piece") {
    // a cap that splits the shards into pieces, and a rule that no shard contains
    val splitCfg = cfg.copy(maxCorpusChars = 2000, rules = cfg.rules :+ SinkRule("none", "ㄱㄲ"))
    val out = tempDir("graft_fused").toString
    TranscriptPipeline.runToSinks(spark, turns, splitCfg, out)
    val shards = TranscriptPipeline.buildShards(spark, turns, splitCfg).cache()
    assert(shards.filter(col("shard_seq") > 0).count() > 0, "the cap must split a shard")

    val sinks = TranscriptPipeline.readSinks(spark, out)
    val twoStep = TranscriptPipeline.enrich(spark, TranscriptPipeline.route(spark, shards, splitCfg.rules))
      .select(sinks.columns.toSeq.map(col): _*)
    assert(sinks.count() > 0 && sinks.exceptAll(twoStep).count() == 0 &&
      twoStep.exceptAll(sinks).count() == 0, "fused sink rows differ from enrich(route(buildShards))")

    val lineage = spark.read.parquet(s"$out/lineage")
    val keys = Seq("shard_id", "shard_seq", "n_turns", "corpus_chars", "alphabet", "checksum")
    val pieces = shards.withColumn("n_turns", col("n_turns").cast("long")).select(keys.map(col): _*)
    val observed = lineage.select(keys.map(col): _*)
    assert(observed.exceptAll(pieces).count() == 0 && pieces.exceptAll(observed).count() == 0,
      "lineage rows differ from the buildShards pieces")
    // rows_routed: the shard's sink rows on its first piece, 0 on the later ones
    val perShard = sinks.groupBy("shard_id").agg(count(lit(1)).as("n"))
    val want = lineage.select("shard_id", "shard_seq").join(perShard, Seq("shard_id"), "left")
      .select(col("shard_id"), col("shard_seq"),
        when(col("shard_seq") === 0, coalesce(col("n"), lit(0L))).otherwise(lit(0L)).as("rows_routed"))
    val got = lineage.select("shard_id", "shard_seq", "rows_routed")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"rows_routed misattributed: ${got.exceptAll(want).collect().take(5).mkString(", ")}")
    shards.unpersist()
  }

  test("runToSinks forks no chmod, and its files get the modes of a default-FS write") {
    val out = tempDir("graft_nofork").toString
    val (_, forks) = Probe.processStarts(TranscriptPipeline.runToSinks(spark, turns, cfg, out))
    val chmods = forks.filter(_.startsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod forks, e.g. ${chmods.take(3).mkString("; ")}")
    // (directory modes, file modes) under root, root included
    def modes(root: Path): (Set[String], Set[String]) = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.toSeq.partition(Files.isDirectory(_)) match { case (dirs, files) =>
        def of(ps: Seq[Path]) = ps.map(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
        (of(dirs), of(files))
      } finally walk.close()
    }
    val ref = tempDir("graft_nofork_ref").resolve("t")
    turns.write.parquet(ref.toString)
    val want = modes(ref)
    assert(want._1.nonEmpty && want._2.nonEmpty)
    Seq("sinks", "lineage", "aggregates", "window").foreach { d =>
      assert(modes(Paths.get(out, d)) == want, s"$d modes differ from a default-FS write")
    }
  }

  /** Kills the first attempt of one task of the sink write's result stage (the fused
    * build/route/write stage) as it starts, and counts that stage's TaskKilled ends. The
    * scheduler relaunches a killed task.
    */
  private class SinkTaskKiller extends SparkListener {
    @volatile private var stage = -1
    @volatile private var sent = false
    val killedEnds = new AtomicInteger
    // In a fresh run the sink write's job is the first with two stages (under AQE its
    // shuffle map stage runs first as a one-stage job); the tail starts after it ends.
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (stage < 0 && e.stageIds.size > 1) stage = e.stageIds.max
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (e.stageId == stage && !sent) {
        sent = true
        spark.sparkContext.killTaskAttempt(e.taskInfo.taskId, interruptThread = true, "retry test")
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.stageId == stage && e.reason.isInstanceOf[TaskKilled]) killedEnds.incrementAndGet()
  }

  test("a killed and relaunched sink-write task counts its lineage once") {
    // a cap that splits shards into many pieces: the kill lands while the task still
    // reads its sorted input, long before it asks to commit
    val splitCfg = cfg.copy(maxCorpusChars = 2000)
    val clean = tempDir("graft_kill_clean").toString
    val out = tempDir("graft_kill").toString
    val want = TranscriptPipeline.runToSinks(spark, turns, splitCfg, clean)
    val killer = new SinkTaskKiller
    spark.sparkContext.addSparkListener(killer)
    val got = try {
      val report = TranscriptPipeline.runToSinks(spark, turns, splitCfg, out)
      // the listener bus delivers the kill's task end asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (killer.killedEnds.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      report
    } finally spark.sparkContext.removeSparkListener(killer)
    assert(killer.killedEnds.get > 0, "no sink-write task attempt was killed")
    assert(got == want, s"retried run reported $got, clean run $want")
    assert(same(spark.read.parquet(s"$out/lineage"), spark.read.parquet(s"$clean/lineage")),
      "lineage differs from the clean run")
    assert(same(TranscriptPipeline.readSinks(spark, out), TranscriptPipeline.readSinks(spark, clean)),
      "sink rows differ from the clean run")
  }

  test("crash before the commit marker never duplicates sink rows (crash-atomic resume)") {
    import spark.implicits._
    for (cfg <- Seq(this.cfg, sharedSinkCfg)) {
      val outFull = tempDir("graft_atomic_full").toString
      val out = tempDir("graft_atomic").toString
      TranscriptPipeline.runToSinks(spark, turns, cfg, outFull)

      // attempt 0: only shards 0..3 commit cleanly
      val half = turns.withColumn("sid", TranscriptPipeline.shardIdCol(cfg))
        .filter(col("sid") < 4).drop("sid").as[Turn]
      TranscriptPipeline.runToSinks(spark, half, cfg, out)

      // attempt 1 "crashes" after appending sinks + lineage but BEFORE the commit marker:
      // run it fully, then delete the marker — the on-disk state is exactly the crash window
      TranscriptPipeline.runToSinks(spark, turns, cfg, out)
      val marker = java.nio.file.Paths.get(out, "_manifests", "commit-1")
      assert(Files.deleteIfExists(marker), "expected commit-1 marker to exist")
      // a crash inside writeMarker leaves its temp file behind (named as
      // ManifestTables.createOnce names it): never a marker
      Seq(".tmp-start-9-1.inprogress", ".tmp-commit-1-1.inprogress",
          ".tmp-commit-2-1.inprogress").foreach { name =>
        Files.write(java.nio.file.Paths.get(out, "_manifests", name), Array[Byte]())
      }

      // readers must not see the orphaned attempt
      val committedOnly = TranscriptPipeline.readSinks(spark, out)
      val attempt0 = spark.read.parquet(s"$out/sinks").filter(col("attempt") === 0).drop("attempt")
      assert(same(committedOnly, attempt0), "orphan attempt rows leaked to readers")

      // the re-run takes a FRESH attempt id (orphan rows can never be adopted) and the
      // final committed view equals the single-run result exactly — no duplicated rows
      val r = TranscriptPipeline.runToSinks(spark, turns, cfg, out)
      assert(r.resumed)
      assert(TranscriptPipeline.committedAttempts(out) == Set(0, 2))
      val fin = TranscriptPipeline.readSinks(spark, out)
      val full = TranscriptPipeline.readSinks(spark, outFull)
      assert(same(fin, full), "post-crash resume diverged from the single-run sinks")
      assertTailMatchesSinks(out)
    }
  }

  test("in-row enrich equals the two broadcast left joins it replaces") {
    import spark.implicits._
    // the reference: the join form over the dimension rows, as literal rows
    val roleLookup = Seq(("user", "human", true), ("assistant", "model", false),
      ("system", "control", false), ("tool", "machine", false)).toDF("role", "role_group", "is_human")
    val toolLookup = Seq(("", "none", 0), ("bash", "shell", 3), ("search", "web", 1),
      ("browser", "web", 2), ("editor", "files", 2), ("scheduler", "system", 3))
      .toDF("tool", "tool_family", "risk_tier")
    def viaJoins(routed: org.apache.spark.sql.Dataset[RoutedHit]) = routed
      .join(broadcast(roleLookup), Seq("role"), "left")
      .join(broadcast(toolLookup), Seq("tool"), "left")

    val shards = TranscriptPipeline.buildShards(spark, turns, cfg)
    val hit = RoutedHit("s", "conv-x", 0, "user", "bash", null, 1, "t", 0)
    // keys the dimensions lack (and null keys) enrich to all-null columns
    val unknown = Seq(hit.copy(role = "robot", tool = "hammer"), hit.copy(role = null, tool = null),
      hit.copy(turn_idx = 1, tool = "hammer"), hit.copy(turn_idx = 2, role = "robot")).toDS()
    val routed = TranscriptPipeline.route(spark, shards, cfg.rules).union(unknown).cache()
    val got = TranscriptPipeline.enrich(spark, routed)
    val want = viaJoins(routed)
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    assert(got.count() == want.count() && got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, "in-row enrich differs from the join form")
    assert(got.filter(col("role") === "robot" || col("role").isNull)
      .filter(col("role_group").isNotNull || col("is_human").isNotNull).count() == 0)
    assert(got.filter(col("tool") === "hammer" || col("tool").isNull)
      .filter(col("tool_family").isNotNull || col("risk_tier").isNotNull).count() == 0)
    assert(got.filter(col("role_group").isNotNull && col("tool_family").isNotNull).count() > 0)
    routed.unpersist()
  }

  test("resume at 10,000 shards: anti-join scales, no shard-count-proportional driver state") {
    import spark.implicits._
    // many tiny shards: the shape that breaks driver-side id lists / isin trees
    // shard keys are (conv_id, turn_idx/saltBlock): 3000 convs x 10 blocks = 30k keys
    // over 10k shards -> ~95% of shards populated (Poisson 1 - e^-3)
    val bigCfg = TranscriptPipeline.Config(numShards = 10000, saltBlock = 2,
      sampleRate = 8, numPartitionsOpt = Some(32))
    val manyTurns = Transcripts.generate(spark, nConvs = 3000, turnsPerConv = 20).cache()
    val outFull = tempDir("graft_10k_full").toString
    val out = tempDir("graft_10k").toString

    val rf = TranscriptPipeline.runToSinks(spark, manyTurns, bigCfg, outFull)
    assert(rf.shardsBuilt > 9000, s"expected ~10k populated shards, got ${rf.shardsBuilt}")

    // attempt 0 commits roughly half the shards, then the full input resumes over it
    val half = manyTurns.withColumn("sid", TranscriptPipeline.shardIdCol(bigCfg))
      .filter(col("sid") < 5000).drop("sid").as[Turn]
    TranscriptPipeline.runToSinks(spark, half, bigCfg, out)
    val r = TranscriptPipeline.runToSinks(spark, manyTurns, bigCfg, out)
    assert(r.resumed)
    assert(r.shardsBuilt < rf.shardsBuilt,
      "resume must rebuild only uncommitted shards, not the whole table")

    val fin = TranscriptPipeline.readSinks(spark, out)
    val full = TranscriptPipeline.readSinks(spark, outFull)
    assert(fin.exceptAll(full).count() == 0 && full.exceptAll(fin).count() == 0,
      "10k-shard resume diverged from the single-run sinks")

    // plan audit: pending-turn filtering is a LeftAnti JOIN against the lineage
    // parquet, never an In/InSet literal list over shard ids
    val committed = spark.read.parquet(s"$out/lineage")
      .select(col("shard_id").as("__cid")).distinct()
    val pendingPlan = manyTurns.withColumn("__sid", TranscriptPipeline.shardIdCol(bigCfg))
      .join(committed, col("__sid") === col("__cid"), "left_anti")
      .queryExecution.executedPlan.toString
    assert(pendingPlan.contains("LeftAnti"), "resume filter must be an anti-join")
    manyTurns.unpersist()
  }

  test("decode routing equals the locate + extract path") {
    import spark.implicits._
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg).cache()
    val cols = Seq("sink", "conv_id", "turn_idx", "role", "tool", "ts", "n_matches", "text")
    val viaDecode = TranscriptPipeline.route(spark, shards, cfg.rules).selectExpr(cols: _*)
    // reference: locateAll every match, keep those inside one turn, extract that turn
    val viaLocate = shards.collect().toSeq.flatMap { s =>
      val fm = FmIndex.deserialize(s.shard)
      cfg.rules.flatMap { rule =>
        val ends = fm.locateAll(rule.pattern.toCharArray).toSeq.flatMap { pos =>
          (0 until s.n_turns).find { t =>
            s.offsets(t) <= pos && pos + rule.pattern.length <= s.offsets(t) + s.lens(t)
          }
        }
        ends.groupBy(identity).toSeq.map { case (t, hits) =>
          RoutedHit(rule.sink, s.conv_ids(t), s.turn_idxs(t), s.roles(t), s.tools(t),
            TsMicros.toTimestamp(s.ts_micros(t)), hits.length,
            fm.extractString(s.offsets(t), s.offsets(t) + s.lens(t)), s.shard_id)
        }
      }
    }.toDS().selectExpr(cols: _*)
    assert(viaDecode.count() > 0, "routing should produce rows on the synthetic corpus")
    assert(viaLocate.exceptAll(viaDecode).count() == 0 &&
      viaDecode.exceptAll(viaLocate).count() == 0, "decode routing differs from locate + extract")
    shards.unpersist()
  }

  test("a match across the turn separator routes no turn") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val texts = Seq("alpha end", "start beta", "line one\nline two", "", "tail\n", "end")
    val hand = texts.zipWithIndex.map { case (t, i) => Turn("conv-x", i, "user", t, "", ts) }.toDS()
    // one shard: the corpus is the texts joined by the separator, in turn order
    val oneShard = cfg.copy(numShards = 1)
    val rules = Seq(SinkRule("nl", "\n"), SinkRule("cross", "end\nstart"),
      SinkRule("inner", "one\nline"), SinkRule("line", "line"), SinkRule("endtail", "\nend"))
    val oracle = rules.map { r =>
      hand.filter(col("text").contains(r.pattern))
        .select(lit(r.sink).as("sink"), col("turn_idx"), col("text"))
    }.reduce(_ unionAll _)
    assert(oracle.count() == 4, "oracle: nl x2, inner, line; cross and endtail match nothing")
    val shards = TranscriptPipeline.buildShards(spark, hand, oneShard).cache()
    val routed = TranscriptPipeline.route(spark, shards, rules)
    val got = routed.select("sink", "turn_idx", "text")
    assert(got.exceptAll(oracle).count() == 0 && oracle.exceptAll(got).count() == 0,
      s"routed ${got.collect().mkString(", ")}")
    // n_matches counts only the matches inside the turn: one '\n' in "line one\nline two"
    val nl = routed.filter(col("sink") === "nl").select("turn_idx", "n_matches").as[(Int, Int)]
      .collect().toSet
    assert(nl == Set((2, 1), (4, 1)), s"nl=$nl")
    assert(routed.filter(col("sink") === "line").select("n_matches").as[Int].collect().toSeq == Seq(2))
    shards.unpersist()
  }

  test("the route scan fails loudly when its total differs from count()") {
    val shard = TranscriptPipeline.buildShards(spark, turns, cfg).head()
    assert(TranscriptPipeline.scanAll("abab", "ab", 2, shard).toSeq == Seq(0, 2))
    for (wrong <- Seq(1, 3)) {
      val e = intercept[IllegalStateException](TranscriptPipeline.scanAll("abab", "ab", wrong, shard))
      assert(e.getMessage.contains(s"shard ${shard.shard_id}/${shard.shard_seq}") &&
        e.getMessage.contains("'ab'") && e.getMessage.contains(s"count() says $wrong"), e.getMessage)
    }
  }

  test("alphabet fingerprint prunes shards that cannot match, never drops real matches") {
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg).cache()
    // a pattern whose char is absent from the whole corpus -> every shard pruned
    val pruned = TranscriptPipeline.route(spark, shards,
      Seq(SinkRule("none", "ㄱㄲ"))).count()
    assert(pruned == 0)
    // pruning must not lose hits: route with pruning equals the Catalyst oracle (already
    // checked above); here check mayContain is sound on real shards
    val sample = shards.take(3)
    sample.foreach { sh =>
      assert(TranscriptPipeline.mayContain(sh.alpha_bits, "ERROR"))
      assert(!TranscriptPipeline.mayContain(sh.alpha_bits, "ㄱ"))
    }
    shards.unpersist()
  }

  test("windowed running aggregates are ordered and monotone per conversation") {
    val shards = TranscriptPipeline.buildShards(spark, turns, cfg)
    val routed = TranscriptPipeline.route(spark, shards, cfg.rules)
    val win = TranscriptPipeline.runningWindow(routed.toDF())
    val bad = win.filter(col("running_matches") < col("n_matches")).count()
    assert(bad == 0)
    // hit_rank is dense per (sink, conv)
    val chk = win.groupBy("sink", "conv_id")
      .agg(count(lit(1)).as("n"), max("hit_rank").as("mx"))
      .filter(col("n") =!= col("mx")).count()
    assert(chk == 0)
  }

  test("the window orders rows of one turn in one sink the same whatever order they arrive in") {
    import spark.implicits._
    // two rules routing turns 0 and 1 into sink s: two rows per turn, n_matches 1 and 3
    val rows = Seq(("s", "c", 0, 1), ("s", "c", 0, 3), ("s", "c", 1, 3), ("s", "c", 1, 1))
    def window(in: Seq[(String, String, Int, Int)]) = TranscriptPipeline.runningWindow(
      in.toDF("sink", "conv_id", "turn_idx", "n_matches").coalesce(1))
      .select("turn_idx", "hit_rank", "running_matches", "n_matches").as[(Int, Int, Long, Int)]
      .collect().toSet
    val want = Set((0, 1, 1L, 1), (0, 2, 4L, 3), (1, 3, 5L, 1), (1, 4, 8L, 3))
    assert(window(rows) == want)
    assert(window(rows.reverse) == want)
  }
}
