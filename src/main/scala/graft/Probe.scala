package graft

import graft.core.{Bwt, FmIndex, FmIndexBuilder, HuffmanWaveletTree, SuffixArrays}
import graft.ops.CorpusQueries
import graft.pipeline.{Transcripts, TranscriptPipeline}
import graft.sources.ManifestTables
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** Measurement main: one session builder, one timing helper and one task listener
  * shared by four Spark modes, plus the Spark-free `shard` mode. Each Spark mode
  * prints one JSON line on stdout; every timed step also prints its wall, task and
  * shuffle-write totals on stderr, so a wall far above taskSec / cores points at
  * driver-side work (planning, commits, bounded collects).
  * Bench.scala stays the frozen end-to-end line; this main adds evidence beside it.
  *
  *   runMain graft.Probe query <repeats> [queryName ...] [--plans <dir>]
  *       catalog queries on SPARK_GRAFT_SF_DIR into the noop sink, min of <repeats>;
  *       --plans writes each query's post-AQE formatted plan to <dir>/<q>.txt
  *   runMain graft.Probe scale [scale ...]        corpus-growth probe (default 1 10)
  *   runMain graft.Probe dml [fileCount ...]      manifest DML cost (default 100 1000)
  *   runMain graft.Probe pipeline [cores] [nConvs] [turns] [runs]
  *       min of <runs> full runToSinks (defaults 15000 x 120, 3 runs) + heap peak
  *   runMain graft.Probe shard [chars] [rate] | shard --file <path> <reps> [rate]
  *       one FmIndex over a generated log-like corpus (default 128M chars) or <reps>
  *       copies of a UTF-8 file, rate default 32; one JSON line per engine
  *
  * Cores: the pipeline's first argument, else SPARK_GRAFT_CPUS, else every
  * available processor. All arguments are checked before the session starts.
  */
object Probe {

  private[graft] sealed trait Mode
  /** A mode that runs inside a SparkSession. */
  private[graft] sealed trait SparkMode extends Mode
  private[graft] final case class Query(repeats: Int, names: Seq[String],
      plans: Option[String]) extends SparkMode
  private[graft] final case class Scale(scales: Seq[Int]) extends SparkMode
  private[graft] final case class Dml(sizes: Seq[Int]) extends SparkMode
  private[graft] final case class Pipeline(cores: Option[Int], nConvs: Int, turns: Int,
      runs: Int) extends SparkMode
  /** `size` is the generated corpus's chars, or the copies of `file` when it is set. */
  private[graft] final case class Shard(size: Int, file: Option[String], rate: Int) extends Mode

  private def positive(name: String, v: String): Int =
    CorpusQueries.parsePositiveInt(name, Some(v)).get

  /** The value of `flag` and the arguments without the pair. */
  private def flagValue(args: Seq[String], flag: String, what: String): (Option[String], Seq[String]) =
    args.indexOf(flag) match {
      case -1 => (None, args)
      case i if i + 1 < args.length => (Some(args(i + 1)), args.patch(i, Nil, 2))
      case _ => throw new IllegalArgumentException(s"$flag needs a $what")
    }

  private[graft] def parseArgs(args: Seq[String]): Mode = {
    val (plans, withFile) = flagValue(args, "--plans", "directory")
    val (file, rest) = flagValue(withFile, "--file", "path")
    rest.find(_.startsWith("--")).foreach { f =>
      throw new IllegalArgumentException(s"unexpected argument: $f")
    }
    val mode = rest match {
      case Seq("query", repeats, names @ _*) =>
        names.find(!SparkEntry.queries.contains(_)).foreach { n =>
          throw new IllegalArgumentException(s"unknown query: '$n'")
        }
        Query(positive("repeats", repeats), names, plans)
      case Seq("scale", scales @ _*) =>
        Scale(if (scales.isEmpty) Seq(1, 10) else scales.map(positive("scale", _)))
      case Seq("dml", sizes @ _*) =>
        Dml(if (sizes.isEmpty) Seq(100, 1000) else sizes.map { v =>
          val n = positive("file count", v)
          if (n % 100 != 0) throw new IllegalArgumentException(
            s"file count must be a multiple of 100 (one commit is 100 files), got '$v'")
          n
        })
      case Seq("pipeline", nums @ _*) if nums.length <= 4 =>
        val Seq(cores, nConvs, turns, runs) = nums.zip(Seq("cores", "nConvs", "turns", "runs"))
          .map { case (v, name) => Some(positive(name, v)) }.padTo(4, None)
        Pipeline(cores, nConvs.getOrElse(15000), turns.getOrElse(120), runs.getOrElse(3))
      case Seq("shard", nums @ _*) if nums.length <= 2 && (file.isEmpty || nums.nonEmpty) =>
        val Seq(size, rate) = nums.zip(Seq(if (file.isEmpty) "chars" else "reps", "rate"))
          .map { case (v, name) => Some(positive(name, v)) }.padTo(2, None)
        Shard(size.getOrElse(1 << 27), file, rate.getOrElse(32))
      case Seq(m, _*) if !Set("query", "scale", "dml", "pipeline", "shard")(m) =>
        throw new IllegalArgumentException(
          s"unknown mode '$m': expected query, scale, dml, pipeline or shard")
      case _ => throw new IllegalArgumentException(
        "usage: query <repeats> [q ...] [--plans <dir>] | scale [n ...] | dml [files ...] " +
          "| pipeline [cores] [nConvs] [turns] [runs] | shard [chars] [rate] " +
          s"| shard --file <path> <reps> [rate]; got '${args.mkString(" ")}'")
    }
    if (plans.nonEmpty && !mode.isInstanceOf[Query])
      throw new IllegalArgumentException("--plans applies to the query mode only")
    if (file.nonEmpty && !mode.isInstanceOf[Shard])
      throw new IllegalArgumentException("--file applies to the shard mode only")
    mode
  }

  /** SPARK_GRAFT_CPUS: unset means every available processor. */
  private[graft] def parseCpus(value: Option[String]): Int =
    CorpusQueries.parsePositiveInt("SPARK_GRAFT_CPUS", value)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Task time and shuffle-write bytes of every task that ended since the last reset. */
  private final class Meter extends SparkListener {
    val taskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskMs.addAndGet(e.taskInfo.duration)
      if (e.taskMetrics != null)
        shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Runs `body` once and returns its result and wall seconds; stderr gets the task
    * time and shuffle-write bytes of the tasks it ran.
    */
  private def measure[T](meter: Meter, label: String)(body: => T): (T, Double) = {
    meter.taskMs.set(0L)
    meter.shuffleBytes.set(0L)
    val (r, sec) = timed(body)
    System.err.println(f"[probe] $label%-32s wall=$sec%.3f s " +
      f"taskSec=${meter.taskMs.get / 1e3}%.1f shuffleWriteMB=${meter.shuffleBytes.get / 1e6}%.1f")
    (r, sec)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def tmpPath(name: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"), name).toString

  /** `body`'s result and wall seconds. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` while sampling used heap every 20 ms: (result, seconds, peak used bytes). */
  private def withPeakHeap[T](f: => T): (T, Double, Long) = {
    @volatile var peak = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      val rt = Runtime.getRuntime
      while (sampling) {
        peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val (out, sec) = timed(f)
    sampling = false
    sampler.join()
    (out, sec, peak)
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case s: Shard => shard(s) // no session: the heap figures stay Spark-free
    case mode: SparkMode => sessionMain(mode)
  }

  private def sessionMain(mode: SparkMode): Unit = {
    val envCpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val sfDir = mode match {
      case _: Query => sys.env.getOrElse("SPARK_GRAFT_SF_DIR", throw new IllegalArgumentException(
        "the query mode reads its tables from SPARK_GRAFT_SF_DIR, which is unset"))
      case _ => ""
    }
    val cores = mode match {
      case p: Pipeline => p.cores.getOrElse(envCpus)
      case _ => envCpus
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    // warm codegen and the noop sink once
    noop(spark.range(1 << 20).selectExpr("sum(id) as s"))
    val json = mode match {
      case q: Query => query(spark, meter, sfDir, q)
      case s: Scale => scale(spark, meter, s.scales)
      case d: Dml => dml(spark, meter, d.sizes)
      case p: Pipeline => pipeline(spark, meter, cores, p)
    }
    println(json)
    spark.stop()
  }

  // ------------------------------------------------------------------ query

  private def query(spark: SparkSession, meter: Meter, sfDir: String, q: Query): String = {
    noop(spark.read.parquet(s"$sfDir/nation.parquet"))
    val names = if (q.names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else q.names
    names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val times = (1 to q.repeats).map { r =>
        measure(meter, s"$name rep $r")(noop(fn(spark, sfDir)))._2
      }
      q.plans.foreach { dir =>
        val df = fn(spark, sfDir)
        noop(df) // execute, so the final AQE plan exists
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, s"$name.txt"), plan.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      }
      val all = times.map(t => f"$t%.3f").mkString("[", ",", "]")
      f""""$name":{"min":${times.min}%.3f,"all":$all}"""
    }.mkString("{", ",", "}")
  }

  // ------------------------------------------------------------------ scale

  /* Corpus-growth probe for the content-quadratic-risk operators (the round-4 "sf1
   * stretch": no sf1 testdata exists, so the growth evidence comes from a
   * deterministic generator that mirrors the documents/embeddings shape at 1x/10x/100x
   * the sf0.1 row counts — same schema, same ~300-char docs, ~4% planted exact + near
   * duplicates so dedup/similarity operators stay non-trivial).
   *
   * For each scale it times the operators whose cost could grow super-linearly with
   * corpus size (band joins, inverted indexes, connected components, IVF). A healthy
   * engine shows ~linear growth; a quadratic candidate blowup shows as ~100x time at
   * 10x rows — exactly the failure q37's 16-bit signature had before round 4.
   */

  /** Bump on ANY generator change — the corpus cache key includes it. */
  private val GenVersion = 2

  private val ProbeQueries = Seq(
    "q30_token_count", "q37_simhash_neardup", "q40_dedup_exact", "q41_minhash_lsh",
    "q42_simhash", "q43_jaccard_ngram", "q44_dup_clusters", "q45_top_terms",
    "q50_knn_brute", "q51b_ivf_kmeans", "q52_embed_neardup", "q52_capped64",
    "q58_semantic_dedup", "q58_kscaled",
    // chunk dedup is chunks ~ 6n rows through one hash agg + equi-join + doc_id
    // regroup — linear by construction; probed to pin the no-window claim
    "q86_chunk_dedup",
    // BPE training's claim is the inverse of the quadratic risks above: after the
    // one corpus-sized agg, all 16 merge rounds run over the VOCAB (fixed 20k words
    // in this generator at every scale), so wall time should stay ~flat at 100x rows
    "q59_bpe_train",
    // the round-5 selection/retrieval family: every cutoff comes from a BOUNDED
    // histogram or a broadcast table, so all three must track the linear scans
    "q88_ccnet_buckets", "q89_dsir", "q90_bm25",
    // exact-substring dedup (r05 VERDICT watch item #2): linear in corpus CHARS
    // but with a priced wire constant — one md5 fingerprint per character
    // position through the duplicate-count window. The probe records wall AND
    // shuffle-write bytes so the B/char budget is measured, not just derived
    "q57_substring_dedup",
    // the round-5 codec-path family: q95 is the band-join class (the dHash twin of
    // q37 — md5-seeded pixels keep cross-cluster hashes independent, so candidate
    // pairs grow ~linearly); q96 is a pure per-row kernel; q97 is q86's chunk
    // stream through a df agg + anti join — all three must track the linear scans
    "q95_image_neardup", "q96_audio_tones", "q97_boilerplate")

  /** Uncapped q52 measured ~31 s at 10x and >14 min at 100x on this generator:
    * RANDOM (non-clustered) embeddings give 4-bit hyperplane bands ~no selectivity,
    * so candidates grow ~n^2/32 — the structural case for the hot-bucket cap
    * (SPARK_GRAFT_LSH_MAXBUCKET). Skip the known-quadratic point; q52_capped64 runs
    * the same pipeline with maxBucket=64 at every scale to demonstrate the lever.
    * q58 at the fixed default k=10 is the same class (pairs ~ n^2/k) — skipped at
    * 100x; q58_kscaled runs the paper's k ~ n/200 at every scale to demonstrate
    * THAT lever (SPARK_GRAFT_SEMDEDUP_K in production).
    */
  private def skip(q: String, scale: Int): Boolean =
    (q == "q52_embed_neardup" || q == "q58_semantic_dedup") && scale >= 100

  private def q58Scaled(s: SparkSession, dir: String): DataFrame = {
    val n = s.read.parquet(s"$dir/embeddings.parquet").count()
    CorpusQueries.semanticDedup(s, dir, k = math.max(10, (n / 200).toInt))
  }

  private def q52Capped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val bands = graft.ops.SimilarityLsh.bandsKernel(
      emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])],
      CorpusQueries.EmbedPlanes, bandBits = 4)
    val cand = graft.ops.SimilarityLsh.candidatePairs(bands, "__id", maxBucket = Some(64))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    val joined = cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a").cast("long"), col("vec_b").cast("long"), col("ea"), col("eb"))
      .as[(Long, Long, Array[Float], Array[Float])]
    graft.ops.SimilarityLsh.rerankCosineKernel(joined, 0.35).toDF("vec_a", "vec_b")
  }

  /** Deterministic synthetic corpus in the testdata shape. Both outputs are checked:
    * a run killed between the two writes must regenerate, not half-serve.
    */
  private def ensureCorpus(spark: SparkSession, dir: String, scale: Int): Unit = {
    if (Files.exists(Paths.get(s"$dir/documents.parquet", "_SUCCESS")) &&
      Files.exists(Paths.get(s"$dir/embeddings.parquet", "_SUCCESS"))) return
    import spark.implicits._
    val nDocs = 5000 * scale
    val nEmb = 2000 * scale
    val langs = Array("en", "fr", "es", "de", "zh")
    val sources = Array("web", "chat", "code", "paper")
    val vocab = Array.tabulate(20000)(i => s"w$i")
    val docs = spark.range(nDocs.toLong).as[Long].mapPartitions { it =>
      it.map { i =>
        val r = new scala.util.Random(0xC0FFEE + i)
        // ~2% exact duplicates of doc i-1, ~2% near-duplicates of doc i-2 (the base
        // doc EXISTS in the corpus — an edit of the doc's own fresh tokens would just
        // be another unique document, and the probe would measure a dup-free corpus)
        val base = if (i % 50 == 1) i - 1 else if (i % 50 == 2) i - 2 else i
        val rb = new scala.util.Random(0xC0FFEE + base)
        val len = 35 + rb.nextInt(20)
        val toks = Array.fill(len)(vocab(rb.nextInt(vocab.length)))
        if (i % 50 == 2 && len > 3) { // 2-token edit of doc i-2
          toks(1) = vocab(r.nextInt(vocab.length)); toks(len - 2) = vocab(r.nextInt(vocab.length))
        }
        val text = toks.mkString(" ")
        (i, text, langs((i % langs.length).toInt), sources((i % sources.length).toInt),
          text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.range(nEmb.toLong).as[Long].mapPartitions { it =>
      it.map { i =>
        val r = new scala.util.Random(0xBEEF + i)
        (i, Array.fill(64)((r.nextGaussian() / 8).toFloat), (i % 10).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def scale(spark: SparkSession, meter: Meter, scales: Seq[Int]): String = {
    val out = scales.map { scale =>
      // GenVersion in the path: a cached corpus from an OLDER generator (e.g. the
      // round-4 dup-planting fix) must never be silently re-measured
      val dir = tmpPath(s"graft_scaleprobe_v${GenVersion}_$scale")
      ensureCorpus(spark, dir, scale)
      val times = ProbeQueries.filterNot(skip(_, scale)).map { q =>
        val fn: (SparkSession, String) => DataFrame =
          if (q == "q52_capped64") q52Capped
          else if (q == "q58_kscaled") q58Scaled
          // probe-corpus variants: its source values and vocabulary differ from
          // the testdata tables the catalog entries pin for the oracle gate
          else if (q == "q89_dsir")
            (s, d) => CorpusQueries.dsirSelect(s, d, targetSource = "web")
          else if (q == "q90_bm25")
            (s, d) => CorpusQueries.bm25TopK(s, d,
              Seq((1L, "w17"), (1L, "w42"), (1L, "w99"), (2L, "w123"),
                (2L, "w1234"), (3L, "w5"), (3L, "w777"), (3L, "w3141")))
          else SparkEntry.queries(q)
        q -> measure(meter, s"scale=$scale $q")(noop(fn(spark, dir)))._2
      }
      scale -> times
    }
    val json = out.map { case (scale, times) =>
      s""""$scale": {${times.map { case (q, s) => f""""$q": $s%.2f""" }.mkString(", ")}}"""
    }.mkString(", ")
    s"""{"metric":"scale_probe","unit":"sec","scales":{$json}}"""
  }

  // ------------------------------------------------------------------ dml

  /* Manifest-DML cost at realistic FILE COUNTS (the round-5 "price metadata ops"
   * item): the oracle gates run on tables of tens of files; this mode grows a
   * manifest table to N data files through the REAL DSv2 append path (batches of
   * 100 files per commit) and measures, at each N:
   *
   *  - per-APPEND commit wall, first-10 vs last-10 average — the O(fresh files +
   *    segment count) claim: if commits re-copied the table's entry list, the last
   *    appends at 10k files would cost ~100x the first (they must stay ~flat);
   *  - scan PLANNING + zero-column count at N files (footer-count path, pruned and
   *    unpruned);
   *  - metadata-only partition DELETE (snapshot edit, no data read);
   *  - merge-on-read positional DELETE via SQL (O(matches) commit);
   *  - equality-delete upsert commit (O(keys), no data file read);
   *  - manifest compaction (rewrite_manifests: the explicitly-paid O(total) fold);
   *  - data-file compaction (bin-pack rewrite of the small files).
   *
   * Rows per file are tiny on purpose: the probe prices METADATA, not decode.
   */
  private def dml(spark: SparkSession, meter: Meter, sizes: Seq[Int]): String = {
    val out = sizes.map { n =>
      def time[T](label: String)(f: => T): (T, Double) = measure(meter, s"dml n=$n $label")(f)
      val dir = Files.createTempDirectory(s"graft_dmlprobe_$n").toString
      val appends = n / 100
      // one commit = 100 files x 50 rows (repartition pins the file count)
      def batch(k: Int) = spark.range(k * 5000L, (k + 1) * 5000L)
        .select(col("id"), (col("id") * 7).as("v"),
          concat(lit("p"), pmod(col("id"), lit(4))).as("part"))
        .repartition(100)
      val commitSecs = (0 until appends).map { k =>
        val df = batch(k)
        df.count() // materialize the plan outside the timed window
        time(s"append $k")(df.write.format("graft.sources.ManifestDataSource")
          .option("partcol", "part").mode("append").save(dir))._2
      }
      def avg(xs: Seq[Double]) = xs.sum / xs.length
      // disjoint head/tail windows so growth in per-commit cost is visible even
      // at small append counts
      val window = math.max(1, math.min(10, appends / 2))
      val firstAvg = avg(commitSecs.take(window))
      val lastAvg = avg(commitSecs.takeRight(window))

      // PARTITION EVOLUTION at N files: add_partition_field stamps every live
      // implicit-spec entry with the old spec's registry id — the ONE O(entries)
      // metadata rewrite evolution pays, priced here at realistic file counts;
      // the drop then flips the default back (entries already stamped, so every
      // segment carries by NAME — the O(segments) floor). The rest of the
      // battery runs on the stamped table, exercising the evolved read paths.
      val (_, respecAddSec) = time("respec add")(
        graft.sources.ManifestMaintenance.addPartitionField(dir, "bucket(8,id)"))
      val (_, respecDropSec) = time("respec drop")(
        graft.sources.ManifestMaintenance.dropPartitionField(dir, "bucket(8,id)"))

      def tbl = spark.read.format("graft.sources.ManifestDataSource").load(dir)
      val (_, countSec) = time("count")(tbl.count())
      val (_, prunedSec) = time("pruned count")(tbl.filter(col("part") === "p1").count())

      val cat = s"graft_dml_$n"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
        new java.io.File(dir).getParent)
      val tname = s"$cat.`${new java.io.File(dir).getName}`"
      // merge-on-read positional DELETE (SQL): O(matches) commit
      spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      val (_, morSec) =
        try time("mor delete")(spark.sql(s"DELETE FROM $tname WHERE id % 997 = 3"))
        finally spark.conf.unset("spark.graft.manifest.deleteMode")
      // a second MoR delete stacks a second positional segment; the
      // position-delete rewrite then folds both into one — metadata-only,
      // O(segments + recorded positions), zero data files opened
      spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try spark.sql(s"DELETE FROM $tname WHERE id % 991 = 7")
      finally spark.conf.unset("spark.graft.manifest.deleteMode")
      val (rpdSnap, rpdSec) = time("rewrite position deletes")(
        graft.sources.ManifestMaintenance.rewritePositionDeletes(dir))
      require(rpdSnap.isDefined, "two delete segments must fold")
      // equality upsert: one commit carrying keys + fresh files, no data read
      val (_, eqSec) = time("eq upsert") {
        spark.range(0L, 500L).select(col("id"), (col("id") * 9).as("v"),
          concat(lit("p"), pmod(col("id"), lit(4))).as("part"))
          .repartition(4)
          .write.format("graft.sources.ManifestDataSource")
          .option("partcol", "part").option("upsertkey", "id")
          .mode("append").save(dir)
      }
      // metadata-only DELETE: snapshot edit, no data file read
      val (_, metaDelSec) = time("meta delete")(spark.sql(s"DELETE FROM $tname WHERE part = 'p3'"))
      // manifest compaction: the explicitly-paid O(total files) segment fold
      val (_, foldSec) = time("manifest fold")(graft.sources.ManifestTables.compact(dir))
      // data-file compaction: bin-pack the small files (reads + rewrites data)
      val (_, packSec) = time("data compact")(
        graft.sources.ManifestMaintenance.compactDataFiles(spark, dir, 8L << 20))
      val filesAfter = graft.sources.ManifestMaintenance.liveDataFiles(dir).length
      System.err.println(f"[probe] dml n=$n commit first10=$firstAvg%.3f " +
        f"last10=$lastAvg%.3f filesAfter=$filesAfter")
      ManifestTables.deleteTree(Paths.get(dir))
      n -> Map(
        "commit_first10_avg" -> firstAvg, "commit_last10_avg" -> lastAvg,
        "respec_add" -> respecAddSec, "respec_drop" -> respecDropSec,
        "count_star" -> countSec, "pruned_count" -> prunedSec,
        "mor_delete" -> morSec, "rewrite_posdel" -> rpdSec, "eq_upsert" -> eqSec,
        "meta_delete" -> metaDelSec, "manifest_fold" -> foldSec,
        "data_compact" -> packSec)
    }
    val json = out.map { case (n, m) =>
      s""""$n": {${m.toSeq.sortBy(_._1).map { case (k, v) => f""""$k": $v%.3f""" }.mkString(", ")}}"""
    }.mkString(", ")
    s"""{"metric":"manifest_dml_probe","unit":"sec","sizes":{$json}}"""
  }

  // ------------------------------------------------------------------ pipeline

  /** Min of `runs` back-to-back full runToSinks over a cached raw-line corpus, with the
    * sampled heap peak over those runs. local-mode executors share the driver JVM, so
    * that peak IS the all-executors working set; divide by cores for a
    * per-executor-core sizing estimate at cluster scale. The per-stage split is
    * perfbench's `--trace 1`.
    */
  private def pipeline(spark: SparkSession, meter: Meter, cores: Int, p: Pipeline): String = {
    val rawDir = tmpPath(s"graft_bench_rawlines_${p.nConvs}x${p.turns}")
    if (!Files.exists(Paths.get(rawDir, "_SUCCESS"))) {
      val turns = Transcripts.generate(spark, p.nConvs, p.turns, skewConvs = 4, skewFactor = 25)
      Transcripts.renderRawLines(turns).write.mode("overwrite").parquet(rawDir)
    }
    val cfg = TranscriptPipeline.Config(numShards = 512, saltBlock = 2048,
      sampleRate = 16, numPartitionsOpt = Some(128))
    val warm = Files.createTempDirectory("probe_warm").toString
    TranscriptPipeline.runToSinks(spark, Transcripts.generate(spark, 8, 40),
      cfg.copy(numShards = cores), warm)
    ManifestTables.deleteTree(Paths.get(warm))
    val raw = spark.read.parquet(rawDir)
    val nTurns = raw.count()

    val (times, _, peak) = withPeakHeap((1 to p.runs).map { i =>
      val out = Files.createTempDirectory(s"probe_pipeline_$i").toString
      val (_, sec) = measure(meter, s"pipeline run $i")(
        TranscriptPipeline.runToSinks(spark, Transcripts.parseRawLines(spark, raw), cfg, out))
      ManifestTables.deleteTree(Paths.get(out))
      sec
    })
    val runs = times.map(t => f"$t%.2f").mkString("[", ",", "]")
    f"""{"cores":$cores,"turns":$nTurns,"fullRuns":$runs,"min":${times.min}%.2f,""" +
      f""""turnsPerSec":${nTurns / times.min}%.0f,"peakHeapMb":${peak >> 20}}"""
  }

  // ------------------------------------------------------------------ shard

  /* Single-shard stress at the pipeline's maxCorpusChars cap (128M chars,
   * TranscriptPipeline.Config.maxCorpusChars): builds ONE FmIndex and reports build
   * throughput and its warm split (SA-IS, wavelet, rest), peak-heap estimate,
   * serialized bytes and query latencies — the numbers that size real executors (a
   * shard-build task at the cap needs corpus + SA-IS int arrays + BWT in memory at
   * once). Prints one JSON line per build config
   * (Rank9 for speed, RRR for size). The --file form replicates a UTF-8 log fixture
   * (e.g. the reference's HDFS_2k_multichar.log) and additionally reports serialized
   * size as a percentage of input UTF-8 BYTES — the unit the reference's size
   * benchmark uses (44.5% @rate 32 on Android.log,
   * FmIndexSerializedSizeBenchmark.java:57).
   */

  /** Deterministic log-like text (levels, block ids, key=value pairs, CJK salt) with a
    * multi-hundred-symbol alphabet.
    */
  private def shardCorpus(chars: Int): Array[Char] = {
    val rnd = new scala.util.Random(42L)
    val levels = Array("INFO ", "WARN ", "ERROR ", "DEBUG ")
    val words = Array("Received", "block", "packet", "src:", "dest:", "size=", "blk_",
      "PacketResponder", "terminating", "exception", "retry", "offset=")
    val sb = new java.lang.StringBuilder(chars + 256)
    while (sb.length < chars) {
      sb.append(levels(rnd.nextInt(levels.length)))
      val n = 4 + rnd.nextInt(10)
      var i = 0
      while (i < n) {
        rnd.nextInt(6) match {
          case 0 => sb.append("blk_").append(rnd.nextLong())
          case 1 => sb.append("size=").append(rnd.nextInt(1 << 24))
          case 2 => sb.append((0x4e00 + rnd.nextInt(512)).toChar)
          case _ => sb.append(words(rnd.nextInt(words.length)))
        }
        sb.append(' ')
        i += 1
      }
      sb.append('\n')
    }
    val out = new Array[Char](chars)
    sb.getChars(0, chars, out, 0)
    out
  }

  private def usedHeapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  private def shard(sh: Shard): Unit = {
    val (text, inputBytes) = sh.file match {
      case Some(path) =>
        val raw = Files.readAllBytes(Paths.get(path))
        val out = new String(raw, java.nio.charset.StandardCharsets.UTF_8).repeat(sh.size).toCharArray
        System.err.println(s"[probe] fixture $path x${sh.size}: ${out.length} chars, " +
          s"${raw.length.toLong * sh.size} bytes")
        (out, raw.length.toLong * sh.size)
      case None =>
        System.err.println(s"[probe] generating ${sh.size} chars...")
        (shardCorpus(sh.size), -1L)
    }
    val chars = text.length
    val baseHeap = usedHeapMb()

    val configs = Seq(("huffman+rank9", false), ("huffman+rrr", true))
    val patterns = Seq("blk_", "PacketResponder", "size=1", "terminating")
    configs.foreach { case (name, compress) =>
      val builder = new FmIndexBuilder().setSampleRate(sh.rate).setCompression(compress)
      // sample used heap during the build: the transient peak (SA-IS int arrays + BWT)
      // is what sizes a real executor, not the retained index
      val (fm, buildSec, peak) = withPeakHeap(builder.build(text))
      val peakMb = (peak >> 20) - baseHeap
      val retainedMb = usedHeapMb() - baseHeap
      val bytes = fm.serialize().length
      // warm the query paths before timing: the FIRST config otherwise pays the JIT
      // interpreter/compile cost in its numbers and cross-config ratios skew
      patterns.foreach(p => fm.count(p.toCharArray))
      fm.locate("blk_".toCharArray, 0, 4, new Array[Int](1000), 1000)
      fm.extractString(chars / 3, chars / 3 + 1024)
      val (counts, countSec) = timed(patterns.map(p => fm.count(p.toCharArray)))
      val (nLoc, locateSec) = timed(fm.locate("blk_".toCharArray, 0, 4, new Array[Int](1000), 1000))
      val (snippet, extractSec) = timed(fm.extractString(chars / 2, chars / 2 + 1024))
      require(snippet.length == 1024 && nLoc > 0 && counts.head > 0)
      // per-char costs of two ways to rebuild text: the LF-walk extract (one wavelet
      // descent per char) against one linear decode of the whole shard, as route runs
      // (shard-sized corpora repeat each pass: their arrays stay in cache)
      val span = math.min(chars, 1 << 20)
      val reps = math.max(1, (1 << 22) / chars)
      fm.extractString(0, span)
      val (_, spanSec) = timed((1 to reps).foreach(_ => fm.extractString(0, span)))
      fm.decodeAll() // warm-up
      val decodeBase = usedHeapMb()
      val (decoded, decodeSec, decodePeak) = withPeakHeap {
        var last = fm.decodeAll()
        (2 to reps).foreach(_ => last = fm.decodeAll())
        last
      }
      require(java.util.Arrays.equals(decoded, text), "decodeAll differs from the input")
      val decodePeakMb = (decodePeak >> 20) - decodeBase
      // one overlapping indexOf scan of the decoded text, as route runs per live rule
      val decodedText = new String(decoded)
      val (hits, scanSec) = timed((1 to reps).map { _ =>
        var n = 0
        var i = decodedText.indexOf("blk_")
        while (i >= 0) { n += 1; i = decodedText.indexOf("blk_", i + 1) }
        n
      }.sum)
      require(hits == counts.head * reps)
      val (saisNs, waveletNs, restNs) = buildSplit(text, sh.rate, compress, reps)
      println(
        f"""{"engine":"$name","chars":$chars,"sampleRate":${sh.rate},""" +
          f""""buildSec":$buildSec%.1f,"mcharsPerSec":${chars / 1e6 / buildSec}%.2f,""" +
          f""""peakHeapMb":$peakMb,"retainedMb":$retainedMb,"serializedBytes":$bytes,""" +
          f""""bytesPerChar":${bytes.toDouble / chars}%.3f,""" +
          (if (inputBytes > 0) f""""pctOfInputBytes":${100.0 * bytes / inputBytes}%.1f,""" else "") +
          f""""countUsPerPattern":${countSec * 1e6 / patterns.length}%.0f,""" +
          f""""locate1000Us":${locateSec * 1e6}%.0f,"extract1024Us":${extractSec * 1e6}%.0f,""" +
          f""""extractNsPerChar":${spanSec * 1e9 / span / reps}%.1f,""" +
          f""""decodeNsPerChar":${decodeSec * 1e9 / chars / reps}%.1f,""" +
          f""""scanNsPerChar":${scanSec * 1e9 / chars / reps}%.2f,""" +
          f""""buildPeakBytesPerChar":${peakMb * 1048576.0 / chars}%.1f,""" +
          f""""decodePeakBytesPerChar":${decodePeakMb * 1048576.0 / chars}%.1f,""" +
          f""""saisNsPerChar":$saisNs%.1f,"waveletNsPerChar":$waveletNs%.1f,""" +
          f""""restNsPerChar":$restNs%.1f}""")
    }
  }

  /** Warm ns per char of SA-IS, of the wavelet construction and of the rest of the
    * build (alphabet, the pass over the suffix array, bitvector directories), each the
    * mean of `reps` runs on `text`. The kernels are called on the inputs
    * `FmIndex.build` gives them; the rest is a warm build less the two.
    */
  private def buildSplit(text: Array[Char], rate: Int, compress: Boolean,
      reps: Int): (Double, Double, Double) = {
    def nsPerChar(sec: Double) = sec * 1e9 / text.length / reps
    val (_, buildSec) = timed((1 to reps).foreach(_ => FmIndex.build(text, rate, compress = compress)))
    val (_, lookUp, seq) = FmIndex.encode(text)
    var sa: Array[Int] = null
    val (_, saisSec) = timed((1 to reps).foreach(_ => sa = SuffixArrays.saIs(seq, lookUp.length)))
    val bwt = Bwt.fromSuffixArray(seq, sa)
    val (_, waveletSec) = timed((1 to reps).foreach(_ => HuffmanWaveletTree(bwt, lookUp.length, compress)))
    (nsPerChar(saisSec), nsPerChar(waveletSec), nsPerChar(buildSec - saisSec - waveletSec))
  }
}
