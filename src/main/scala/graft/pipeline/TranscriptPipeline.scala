package graft.pipeline

import graft.core.{FmIndex, FmIndexBuilder}
import graft.sources.ManifestTables
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One FM-Index shard: the compressed index + per-turn metadata for one deterministic
  * partition of the transcript table. The shard's corpus is the concatenation of its
  * turns' texts joined by a single separator; `offsets`/`lens` map corpus
  * positions back to turns. The shard replaces the raw text downstream — routed rows
  * rematerialize their text via FM extract.
  */
case class ShardRow(
    shard_id: Int,
    shard_seq: Int,
    shard: Array[Byte],
    n_turns: Int,
    corpus_chars: Long,
    alphabet: Int,
    alpha_bits: Array[Long], // 1024-bit char-presence fingerprint (char & 1023)
    checksum: Long,
    conv_ids: Array[String],
    turn_idxs: Array[Int],
    roles: Array[String],
    tools: Array[String],
    ts_micros: Array[Long],
    offsets: Array[Int],
    lens: Array[Int]
)

/** A turn routed to a sink, with its text reconstructed from the shard (not carried
  * through from the input) — per-turn text equality is therefore exercised on every row.
  */
case class RoutedHit(
    sink: String,
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    n_matches: Int,
    text: String,
    shard_id: Int
)

/** One shard piece's lineage as the task that built and routed it reports it:
  * `rows_routed` counts the rows routed from this piece alone.
  */
case class PieceLineage(shard_id: Int, shard_seq: Int, n_turns: Long, corpus_chars: Long,
    alphabet: Int, checksum: Long, rows_routed: Long)

/** Internal: a row of the fused build + route stage, either a routed hit or, after a
  * piece's hits, that piece's lineage (exactly one field is non-null).
  */
case class HitOrPiece(hit: RoutedHit, piece: PieceLineage)

/** Internal: a Turn with its deterministic shard assignment (encoders need this public). */
case class TurnWithShard(
    conv_id: String, turn_idx: Int, role: String, text: String, tool: String,
    ts: Timestamp, shard_id: Int)

object TsMicros {
  /** java.sql.Timestamp <-> epoch micros, preserving sub-millisecond precision. */
  def toMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** Parse -> index -> route -> aggregate over transcript tables, Spark-first.
  *
  * Scale design (targets a 1000-executor cluster; tested on local[N]):
  *  - shard assignment is a PURE FUNCTION of the row: shard_id =
  *    pmod(hash(conv_id, floor(turn_idx / saltBlock)), numShards). The salt block splits
  *    skewed conversations across shards while keeping runs of consecutive turns together;
  *    determinism makes resume-by-shard safe regardless of cluster size or task retries.
  *  - exactly ONE shuffle colocates turns into shards (repartition on shard_id), then
  *    sortWithinPartitions streams through Spark's spill-safe external sort; shard
  *    construction is a single mapPartitions pass with run-detection on shard_id — no
  *    per-group in-memory regrouping beyond one shard's corpus (capped by maxCorpusChars).
  *  - routing evaluates all broadcast patterns against each shard piece: a piece with
  *    any match is decoded once (one linear inverse BWT) and scanned per rule. In
  *    `runToSinks` each piece is routed from its in-memory index right after it is
  *    built, in the sink write's stage: the index is never serialized, persisted or
  *    exchanged, and routed rows reach the writer with no shuffle. `route` runs the
  *    same kernel over a serialized shard table. Per-(sink, conv) aggregation is a
  *    classic partial+final agg handled by Catalyst.
  *  - enrichment is an in-row CASE lookup, not a join (dimensions are tiny by design).
  *  - lineage rows + a JSON manifest make the job resumable: committed shard_ids are
  *    skipped on re-run, so a killed job continues without recount drift. The lineage
  *    rows are observed on the sink write, so the commit re-reads nothing to write them.
  */
object TranscriptPipeline {

  case class Config(
      numShards: Int = 64,
      saltBlock: Int = 4096,
      sampleRate: Int = 16,
      maxCorpusChars: Int = 1 << 27, // split shards beyond 128M chars (int positions cap)
      rules: Seq[SinkRule] = Transcripts.DefaultRules,
      numPartitionsOpt: Option[Int] = None,
      compress: Boolean = false // RRR bitvectors everywhere: size over query speed
  ) {
    /** Task partitions for the shard-build shuffle. Keep numShards >= 4x numPartitions:
      * shard_ids hash into partitions, so several shards per partition smooth the
      * Poisson imbalance of the shard_id -> partition assignment.
      */
    def numPartitions: Int = numPartitionsOpt.getOrElse(math.max(1, numShards / 4))
  }

  val Separator = '\n'

  /** Deterministic shard id column. */
  def shardIdCol(cfg: Config) =
    pmod(hash(col("conv_id"), floor(col("turn_idx") / cfg.saltBlock)), lit(cfg.numShards))
      .cast("int")

  // ------------------------------------------------------------------ index stage

  /** For each target partition p of an n-way hash exchange, an int whose Murmur3
    * hash lands exactly in p (pmod(hash(x, 42), n) == p) — lets a DataFrame
    * repartition place keys in chosen partitions deterministically while staying
    * a Tungsten hash exchange (an RDD custom partitioner would shuffle through
    * the closure serializer). Driver-side search, ~n probes total, memoized.
    */
  private val hashKeyCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  private[pipeline] def hashKeysFor(n: Int): Array[Int] =
    hashKeyCache.computeIfAbsent(n, _ => {
      val keys = new Array[Int](n)
      val found = new Array[Boolean](n)
      var remaining = n
      var x = 0
      while (remaining > 0) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
        val p = ((h % n) + n) % n
        if (!found(p)) { found(p) = true; keys(p) = x; remaining -= 1 }
        x += 1
      }
      keys
    })

  /** The shard build's colocating shuffle: each turn with its shard_id, exchanged so that
    * all of a shard's turns sit in one partition, sorted by (shard_id, conv_id, turn_idx).
    */
  private def colocate(spark: SparkSession, turns: Dataset[Turn], cfg: Config): Dataset[TurnWithShard] = {
    import spark.implicits._
    // CONTIGUOUS shard blocks instead of hashing shard_id into partitions: with
    // numShards/numPartitions ~4, Poisson hash placement gives some partitions
    // 0 shards and others 8+ (measured 3.3x max/median task skew in the build
    // stage — the last wave idles most cores); block p = shard * parts / shards
    // puts exactly ceil(shards/parts) shards in every task. The block id maps
    // through hashKeysFor so the exchange is still a plain Tungsten hash
    // repartition; all rows of one shard still land in exactly one partition.
    val parts = cfg.numPartitions
    val blockKeys = hashKeysFor(parts)
    val blockKey = element_at(lit(blockKeys),
      expr(s"int((CAST(shard_id AS BIGINT) * $parts) DIV ${cfg.numShards})") + 1)
    turns
      .withColumn("shard_id", shardIdCol(cfg))
      .repartition(parts, blockKey)
      .sortWithinPartitions(col("shard_id"), col("conv_id"), col("turn_idx"))
      .as[TurnWithShard]
  }

  /** The shard pieces of one colocated partition, each as its metadata (a [[ShardRow]]
    * whose `shard` bytes are null) with its in-memory index. Each next() consumes and
    * indexes one piece: a run of equal shard_id, split when the corpus cap is reached
    * (int positions bound the shard corpus size).
    */
  private def pieces(it: Iterator[TurnWithShard], cfg: Config): Iterator[(ShardRow, FmIndex)] = {
    val buf = it.buffered
    var curShard = Int.MinValue
    var curSeq = 0
    new Iterator[(ShardRow, FmIndex)] {
      override def hasNext: Boolean = buf.hasNext

      override def next(): (ShardRow, FmIndex) = {
        val shardId = buf.head.shard_id
        if (shardId != curShard) { curShard = shardId; curSeq = 0 }
        val sb = new java.lang.StringBuilder
        val convIds = mutable.ArrayBuffer[String]()
        val turnIdxs = mutable.ArrayBuffer[Int]()
        val roles = mutable.ArrayBuffer[String]()
        val tools = mutable.ArrayBuffer[String]()
        val tsMicros = mutable.ArrayBuffer[Long]()
        val offsets = mutable.ArrayBuffer[Int]()
        val lens = mutable.ArrayBuffer[Int]()
        var checksum = 0L
        while (buf.hasNext && buf.head.shard_id == shardId && sb.length < cfg.maxCorpusChars) {
          val t = buf.next()
          if (sb.length > 0) sb.append(Separator)
          offsets += sb.length
          lens += t.text.length
          sb.append(t.text)
          convIds += t.conv_id; turnIdxs += t.turn_idx; roles += t.role
          tools += t.tool; tsMicros += TsMicros.toMicros(t.ts)
          checksum += t.conv_id.hashCode.toLong * 31L + t.turn_idx
        }
        val corpus = new Array[Char](sb.length)
        sb.getChars(0, sb.length, corpus, 0)
        val fm = new FmIndexBuilder().setSampleRate(cfg.sampleRate)
          .setCompression(cfg.compress).build(corpus)
        // char-presence fingerprint: the distributed analog of the reference's
        // unknown-symbol short-circuit (FmIndex.java:457-459) lifted to shard
        // granularity — routing skips shards that cannot contain a pattern's chars
        val alphaBits = graft.functions.AlphaFingerprint.build(corpus)
        val meta = ShardRow(shardId, curSeq, null, convIds.length,
          corpus.length.toLong, fm.getAlphabetLength, alphaBits, checksum,
          convIds.toArray, turnIdxs.toArray, roles.toArray, tools.toArray,
          tsMicros.toArray, offsets.toArray, lens.toArray)
        curSeq += 1
        (meta, fm)
      }
    }
  }

  /** One [[ShardRow]] per shard piece, its index serialized. */
  def buildShards(spark: SparkSession, turns: Dataset[Turn], cfg: Config): Dataset[ShardRow] = {
    import spark.implicits._
    colocate(spark, turns, cfg).mapPartitions(pieces(_, cfg).map { case (meta, fm) =>
      meta.copy(shard = fm.serialize())
    })
  }

  // ------------------------------------------------------------------ route stage

  /** True iff every char of `pattern` is present in the shard's fingerprint
    * (delegates to the shared kernel so builder and test can never drift).
    */
  def mayContain(alphaBits: Array[Long], pattern: String): Boolean =
    graft.functions.AlphaFingerprint.mayContain(alphaBits, pattern)

  /** Evaluates every routing rule against every shard; emits one row per (sink, turn)
    * with the overlapping-match count and the turn text RECONSTRUCTED from the shard.
    * A match counts for the turn holding its start, and only if it also ends inside
    * that turn: a match that runs across the separator into the next turn is in no
    * turn's text (the Catalyst `contains()` oracle agrees).
    *
    * Each shard prunes rules by its alphabet fingerprint and counts the rest (one
    * O(|pattern|) backward search each). A shard with any live rule is decoded once
    * (`FmIndex.decodeAll`, one linear inverse BWT, O(corpus) however frequent the
    * patterns are) and scanned once per live rule with overlapping `indexOf`; each
    * routed row's text is a slice of the decoded text. Each rule's scan total must
    * equal its `count()`, so a corrupted shard fails the task instead of routing wrong
    * rows. Rows come out in (rule, position) order, so a retried task emits the same
    * rows in the same order.
    */
  def route(spark: SparkSession, shards: Dataset[ShardRow], rules: Seq[SinkRule]): Dataset[RoutedHit] = {
    import spark.implicits._
    val bRules = spark.sparkContext.broadcast(rules.toArray)
    shards.flatMap(s => routeShard(s, FmIndex.deserialize(s.shard), bRules.value))
  }

  /** [[route]]'s kernel for one shard piece: `s`'s metadata and its index `fm`, evaluated
    * only when some rule survives the fingerprint.
    */
  private def routeShard(s: ShardRow, fm: => FmIndex, rules: Array[SinkRule]): Iterator[RoutedHit] = {
    lazy val index = fm
    val live = rules.toSeq.flatMap { rule =>
      if (!mayContain(s.alpha_bits, rule.pattern)) None
      else {
        val total = index.count(rule.pattern.toCharArray)
        if (total == 0) None else Some(rule -> total)
      }
    }
    if (live.isEmpty) Iterator.empty
    else {
      val corpus = new String(index.decodeAll())
      val texts = new Array[String](s.n_turns)
      def turnText(t: Int): String = {
        if (texts(t) eq null) texts(t) = corpus.substring(s.offsets(t), s.offsets(t) + s.lens(t))
        texts(t)
      }
      live.iterator.flatMap { case (rule, total) =>
        matchesPerTurn(scanAll(corpus, rule.pattern, total, s), rule.pattern.length, s.offsets, s.lens)
          .iterator.map { case (t, n) =>
            RoutedHit(rule.sink, s.conv_ids(t), s.turn_idxs(t), s.roles(t), s.tools(t),
              TsMicros.toTimestamp(s.ts_micros(t)), n, turnText(t), s.shard_id)
          }
      }
    }
  }

  /** Sorted start positions of the overlapping occurrences of `pattern` in `corpus`;
    * throws unless there are exactly `total` (the shard's `count()`).
    */
  private[pipeline] def scanAll(corpus: String, pattern: String, total: Int, s: ShardRow): Array[Int] = {
    val starts = new Array[Int](total)
    var n = 0
    var i = corpus.indexOf(pattern)
    while (i >= 0) {
      if (n < total) starts(n) = i
      n += 1
      i = corpus.indexOf(pattern, i + 1)
    }
    if (n != total)
      throw new IllegalStateException(s"shard ${s.shard_id}/${s.shard_seq}: pattern " +
        s"'$pattern' occurs $n times in the decoded text but count() says $total")
    starts
  }

  /** (turn, matches) in turn order from ascending match starts: a match counts for the
    * turn holding its start, and only if it ends inside that turn's text.
    */
  private[pipeline] def matchesPerTurn(starts: Array[Int], patternLen: Int, offsets: Array[Int],
      lens: Array[Int]): mutable.ArrayBuffer[(Int, Int)] = {
    val out = mutable.ArrayBuffer[(Int, Int)]()
    var t = 0
    starts.foreach { pos =>
      while (t + 1 < offsets.length && offsets(t + 1) <= pos) t += 1
      if (pos + patternLen <= offsets(t) + lens(t)) {
        if (out.nonEmpty && out.last._1 == t) out(out.length - 1) = (t, out.last._2 + 1)
        else out += ((t, 1))
      }
    }
    out
  }

  /** Persists the shard table (the compressed index REPLACES the raw text downstream);
    * route/aggregate jobs re-run from here without rebuilding.
    */
  def writeShardTable(shards: Dataset[ShardRow], dir: String): Unit =
    shards.write.mode("overwrite").parquet(dir)

  def readShardTable(spark: SparkSession, dir: String): Dataset[ShardRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[ShardRow]
  }

  // -------------------------------------------------------------- aggregate stage

  /** Per-(sink, conversation) aggregate counts, unordered (readers sort if they need to). */
  def conversationAggregates(routed: DataFrame): DataFrame =
    routed
      .groupBy(col("sink"), col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("n_matches")).as("n_matches"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts")
      )

  /** Windowed per-conversation running stats ordered by (conv_id, turn_idx). */
  def runningWindow(routed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sink"), col("conv_id")).orderBy(col("turn_idx"))
    routed
      // project BEFORE the window: the sort must not drag the text payload through
      .select("sink", "conv_id", "turn_idx", "n_matches")
      .withColumn("hit_rank", row_number().over(w))
      .withColumn("running_matches",
        sum(col("n_matches")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("sink", "conv_id", "turn_idx", "hit_rank", "running_matches", "n_matches")
  }

  /** Enrichment with the role/tool dimensions: the rows the left joins on `role` and
    * then `tool` would give (same columns, order, types and nullability; null enrichment
    * for an unknown key), looked up in-row by a CASE per column. A dimension of a few
    * rows is cheaper inlined than joined: no broadcast job, no hash build.
    */
  def enrich(spark: SparkSession, routed: Dataset[RoutedHit]): DataFrame = {
    import Transcripts.{RoleDim, ToolDim}
    def lookup(key: String, dim: Seq[Product], field: Int): Column = {
      val cases = dim.map(r => (col(key) === r.productElement(0), r.productElement(field)))
      cases.tail.foldLeft(when(cases.head._1, cases.head._2)) { case (c, (k, v)) => c.when(k, v) }
    }
    val rest = routed.columns.filterNot(Set("role", "tool")).map(col).toSeq
    routed.select(Seq(col("tool"), col("role")) ++ rest ++ Seq(
      lookup("role", RoleDim, 1).as("role_group"), lookup("role", RoleDim, 2).as("is_human"),
      lookup("tool", ToolDim, 1).as("tool_family"), lookup("tool", ToolDim, 2).as("risk_tier")): _*)
  }

  // ----------------------------------------------------------------- full job + resume

  case class RunReport(shardsBuilt: Long, turnsIndexed: Long, rowsRouted: Long, resumed: Boolean)

  /** Commit protocol (an Iceberg-snapshot pattern on plain parquet; no table format in
    * this sandbox). The LINEAGE PARQUET is the source of truth for what is committed:
    *
    *  1. run start: write `_manifests/start-K` (K = number of existing start markers) —
    *     attempt ids are unique even across crashed runs, so a crashed attempt's orphan
    *     sink rows can never be adopted by a later commit.
    *  2. append sink rows under `sinks/sink=S/attempt=K/`.
    *  3. append lineage rows (one per shard piece) with attempt=K, as ONE file per
    *     attempt. The rows are observed on step 2's write (no re-read of `sinks/`, no
    *     join), and the attempt's `RunReport` is computed from them.
    *  4. atomically create `_manifests/commit-K` (write temp + ATOMIC_MOVE). Only now is
    *     attempt K committed.
    *
    * Readers (`readSinks`, resume) only trust attempts with a commit marker, so a crash
    * in any window (after the sink append, or mid-lineage-write) leaves orphan files
    * that are simply never read — no duplicated rows, no recount drift. Resume derives
    * committed shard_ids from the lineage parquet and ANTI-JOINS pending turns against
    * them (scales to millions of shards; no driver-side id list, no giant `isin` tree).
    */
  private def manifestPath(outDir: String) = Paths.get(outDir, "_manifests")

  /** Ids of the markers named exactly `<prefix><digits>` (not a crashed write's `.tmp`). */
  private def listMarkers(outDir: String, prefix: String): Set[Int] = {
    val marker = s"$prefix(\\d+)".r
    ManifestTables.listNames(manifestPath(outDir)).collect { case marker(k) => k.toInt }.toSet
  }

  private def writeMarker(outDir: String, name: String, body: String): Unit = {
    val dir = manifestPath(outDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, dir.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def committedAttempts(outDir: String): Set[Int] = listMarkers(outDir, "commit-")

  // Schemas of the files the pipeline writes, so re-reads skip the inference job.
  private[pipeline] val LineageSchema = StructType.fromDDL("shard_id INT, shard_seq INT, " +
    "n_turns BIGINT, corpus_chars BIGINT, alphabet INT, checksum BIGINT, rows_routed BIGINT, attempt INT")

  /** `sinks/` as read back: the data columns of `enrich`, then the partition columns. */
  private def sinkSchema(spark: SparkSession): StructType = {
    val s = enrich(spark, spark.emptyDataset[RoutedHit](Encoders.product[RoutedHit])).schema
    StructType((s.filterNot(_.name == "sink") :+ s("sink") :+ StructField("attempt", IntegerType))
      .map(_.copy(nullable = true)))
  }

  /** Committed sink rows only (attempts with a commit marker); `attempt` is dropped —
    * it is commit bookkeeping, not data. Partition pruning keeps orphan files unread.
    */
  def readSinks(spark: SparkSession, outDir: String): DataFrame = {
    val committed = committedAttempts(outDir)
    spark.read.schema(sinkSchema(spark)).parquet(s"$outDir/sinks")
      .filter(col("attempt").isInCollection(committed.toSeq))
      .drop("attempt")
  }

  /** Runs parse->index->route->aggregate, writing per-sink tables, aggregates and lineage
    * under `outDir`. If committed attempts exist, their shards are skipped (resume).
    */
  def runToSinks(spark: SparkSession, turns: Dataset[Turn], cfg: Config, outDir: String): RunReport = {
    import spark.implicits._
    val committed = committedAttempts(outDir)
    val resumed = committed.nonEmpty
    val attempt = (listMarkers(outDir, "start-") ++ committed + (-1)).max + 1
    writeMarker(outDir, s"start-$attempt", s"""{"attempt": $attempt}""")

    val pendingTurns =
      if (!resumed) turns
      else {
        // lineage parquet = committed shard ids; anti-join scales to any shard count
        val committedIds = spark.read.schema(LineageSchema).parquet(s"$outDir/lineage")
          .filter(col("attempt").isInCollection(committed.toSeq))
          .select(col("shard_id").as("__cid")).distinct()
        turns.withColumn("__sid", shardIdCol(cfg))
          .join(committedIds, col("__sid") === col("__cid"), "left_anti")
          .drop("__sid").as[Turn]
      }

    // Build and route in one pass: each piece is routed from its in-memory index right
    // after it is built, in the task that writes its rows, so no shard bytes are
    // serialized, persisted or exchanged. Each piece then emits its lineage row.
    val bRules = spark.sparkContext.broadcast(cfg.rules.toArray)
    val routed = colocate(spark, pendingTurns, cfg).mapPartitions { it =>
      pieces(it, cfg).flatMap { case (s, fm) =>
        var rows = 0L
        routeShard(s, fm, bRules.value).map { h => rows += 1; HitOrPiece(h, null) } ++
          Iterator.single(HitOrPiece(null, PieceLineage(s.shard_id, s.shard_seq, s.n_turns,
            s.corpus_chars, s.alphabet, s.checksum, rows)))
      }
    }
    // The lineage rows are observed on the sink write, so they are exact under task
    // retry: the observation runs in the write's result stage, and Spark merges a result
    // task's accumulator updates only for the first successful attempt of its partition.
    val observed = Observation(s"lineage-$attempt")
    val hits = routed.observe(observed, collect_list(col("piece")).as("pieces"))
      .filter(col("hit").isNotNull).select("hit.*").as[RoutedHit]

    val enriched = enrich(spark, hits).withColumn("attempt", lit(attempt))
    // No shuffle between the build and the write: route, enrich and the sink write run
    // in the stage that reads the colocating shuffle, so the text-heavy routed rows are
    // never exchanged. coalesce is narrow: it only merges partitions, so the write runs
    // min(shard partitions, defaultParallelism) tasks, and it does not rebalance, so
    // a hot shard's rows all land on one writer. Output file count (and the
    // driver-serial commit) stays at most cluster width. A retried task re-reads the
    // same shuffle blocks, rebuilds the same pieces, and route emits rows in position
    // order, so a retry writes the same rows.
    // committer v2 (direct task commit, no serial driver-side rename pass) is safe
    // for sinks + lineage ONLY because visibility is governed by the attempt
    // markers, not the parquet committer: readers never trust an attempt without
    // its commit marker, so a crash mid-write strands invisible files exactly as
    // before. aggregates/window (marker-less overwrite outputs) keep the default
    // committer.
    val directCommit = Map("mapreduce.fileoutputcommitter.algorithm.version" -> "2")
    // Every write of this run (sinks, lineage, aggregates, window) sets local file
    // permissions in-process instead of forking a `chmod` per file, `.crc` and directory
    // (see NoForkLocalFileSystem). The FS cache must be off for these writes, or they
    // would get the session's cached default `file:` instance back.
    val noFork = Map("fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    // concurrent writers instead of the dynamic-partition sort: FileFormatWriter
    // otherwise SORTS every task's rows by (sink, attempt) before writing — a full
    // pass over the text-heavy payload to order at most |rules|+1 distinct keys.
    // With enough concurrent writers the sort is skipped and each task streams
    // rows to its (few) open sink files. Session conf, so save/restore around the
    // write (runToSinks shares sessions with catalog queries under Verify).
    val writersKey = "spark.sql.maxConcurrentOutputFileWriters"
    val prevWriters = spark.conf.getOption(writersKey)
    spark.conf.set(writersKey, math.max(8, cfg.rules.length + 2).toString)
    // `text` and `ts` are written PLAIN with no dictionary page. Texts are nearly all
    // distinct, so the dictionary writer hashed every one only to find the dictionary
    // too large and re-encode the column plain. A turn's `ts` is distinct within a
    // sink file, so its kept INT96 dictionary was larger than the plain values and
    // slower to write. Rows are unchanged; file bytes are not.
    val plain = Seq("text", "ts").map(c => s"parquet.enable.dictionary#$c" -> "false")
    try enriched.coalesce(spark.sparkContext.defaultParallelism)
      .write.options(directCommit ++ plain ++ noFork)
      .mode("append").partitionBy("sink", "attempt").parquet(s"$outDir/sinks")
    finally prevWriters match {
      case Some(v) => spark.conf.set(writersKey, v)
      case None => spark.conf.unset(writersKey)
    }

    // this attempt's rows, re-read from the files just written (pruned to the
    // columns each consumer needs; never consults commit markers), feed the fresh
    // path's aggregates
    val attemptRows = spark.read.schema(sinkSchema(spark)).parquet(s"$outDir/sinks")
      .filter(col("attempt") === attempt).drop("attempt")
    // aggregates must cover ALL committed data. A fresh run aggregates this attempt's
    // rows in jobs concurrent with the lineage write (the commit marker still lands
    // strictly after it); a resumed run re-reads the committed sinks, so it waits for
    // THIS attempt's marker and converges to exactly the single-run result.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def startAggJobs(src: DataFrame): (Future[Unit], Future[Unit]) = (
      Future {
        conversationAggregates(src).write.options(noFork).mode("overwrite")
          .parquet(s"$outDir/aggregates")
      },
      Future {
        runningWindow(src).write.options(noFork).mode("overwrite").parquet(s"$outDir/window")
      })
    val freshJobs = if (resumed) None else Some(startAggJobs(attemptRows))
    // ONE lineage file per attempt (one small row per shard piece), written from the
    // observed rows. They pass through the driver: O(shard pieces) of state, the same
    // order as a broadcast of per-shard counts. rows_routed is counted per piece and
    // reported per shard_id on the first piece of a split shard (seq 0), so summing it
    // never double-counts.
    val observedPieces = observed.get("pieces").asInstanceOf[scala.collection.Seq[Row]]
    val routedPerShard = observedPieces.groupMapReduce(_.getAs[Int]("shard_id"))(
      _.getAs[Long]("rows_routed"))(_ + _)
    val lineage = observedPieces.map { p =>
      val (id, seq) = (p.getAs[Int]("shard_id"), p.getAs[Int]("shard_seq"))
      Row(id, seq, p.getAs[Long]("n_turns"), p.getAs[Long]("corpus_chars"),
        p.getAs[Int]("alphabet"), p.getAs[Long]("checksum"),
        if (seq == 0) routedPerShard(id) else 0L, attempt)
    }.sortBy(r => (r.getInt(0), r.getInt(1)))
    spark.createDataFrame(lineage.asJava, LineageSchema).coalesce(1)
      .write.options(directCommit ++ noFork).mode("append").parquet(s"$outDir/lineage")
    writeMarker(outDir, s"commit-$attempt", s"""{"attempt": $attempt, "committed": true}""")
    val (fAgg, fWin) = freshJobs.getOrElse(startAggJobs(readSinks(spark, outDir)))
    Await.result(fAgg, Duration.Inf)
    Await.result(fWin, Duration.Inf)
    RunReport(lineage.size.toLong, lineage.map(_.getLong(2)).sum, lineage.map(_.getLong(6)).sum,
      resumed)
  }
}
