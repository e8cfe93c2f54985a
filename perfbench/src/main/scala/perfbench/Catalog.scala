package perfbench

import graft.SparkEntry
import graft.functions.{FmFunctions, GraftExtensions}
import graft.ops.DocShards
import graft.sources.{ManifestTables, ShardIndexTable}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `catalog`: a fixed subset of SparkEntry.queries over the bundled sf0.01
  * tables, each fully materialized into a noop sink, one query after the other.
  * The only load on graft.ops, graft.functions, graft.sources and
  * graft.streaming; it skips the transcript pipeline except for the q7x queries.
  *
  * Every pass starts from the same state: a fresh session (so ShardTableCache,
  * which is keyed by SparkContext, starts empty), q26's shard table published
  * once before the timed passes, and q63's table directory empty.
  * SparkEntry's manifest queries keep their tables under fixed /tmp/graft_*
  * paths, so the `sources` group runs the harness's copy of two of them
  * (`Rooted`), with the tables under the run root instead.
  */
object Catalog {
  /** query -> layer group */
  val Subset: Seq[(String, String)] = Seq(
    "q04_join_shuffle" -> "relational",
    "q20_fm_count" -> "fm",
    "q22_fm_extract" -> "fm",
    "q26_fm_prune_sql" -> "sources",
    "q41_minhash_lsh" -> "kernels",
    "q59_bpe_train" -> "fits",
    "q63_manifest_source" -> "sources",
    "q67_stream_hourly" -> "streaming")

  /** The bodies of q26_fm_prune_sql and q63_manifest_source as SparkEntry
    * defines them, except for where their tables live. They publish and read a
    * fingerprint-partitioned shard table (ShardIndexTable.publish/readPruned)
    * and commit and read a manifest table (ManifestTables.commit/readData).
    * Their answers are checked against the same oracle as the originals.
    *
    * As in SparkEntry, q26's table has one stable path that every session
    * reuses (publish is a no-op once a snapshot is committed), so it is built
    * in the dump before the timed passes; q63 writes a fresh table per pass.
    */
  private val Rooted: Map[String, (SparkSession, String, Tables) => DataFrame] = Map(
    "q26_fm_prune_sql" -> ((s, dir, tables) => {
      FmFunctions.register(s)
      GraftExtensions.installRules(s)
      val tbl = s"${tables.stable}/q26"
      ShardIndexTable.publish(DocShards.build(s, s.read.parquet(s"$dir/documents.parquet"), 16).toDF(), tbl)
      val branches = Seq("merge", "the ", "zz-absent").zipWithIndex.map { case (p, i) =>
        val view = s"doc_shards_q26_$i"
        ShardIndexTable.readPruned(s, tbl, p).createOrReplaceTempView(view)
        s"""SELECT '$p' AS pattern, fm_count(shard, '$p') AS c
           |FROM $view WHERE fm_count(shard, '$p') > 0""".stripMargin
      }
      s.sql(
        s"""SELECT pattern, CAST(sum(c) AS BIGINT) AS n_matches
           |FROM (${branches.mkString("\nUNION ALL\n")})
           |GROUP BY pattern ORDER BY pattern""".stripMargin)
    }),
    "q63_manifest_source" -> ((s, dir, tables) => {
      val out = s"${tables.pass}/q63"
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.withColumn("lang_p", col("lang"))
        .write.mode("overwrite").partitionBy("lang_p").parquet(out)
      ManifestTables.commit(out, "lang_p")
      docs.limit(5).write.mode("overwrite").parquet(s"$out/lang_p=zz") // in-flight, uncommitted
      ManifestTables.readData(s, out, "lang_p")
        .groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang_p").as("lang"), col("n_docs"))
        .orderBy(col("lang"))
    }))

  /** Where the `sources` queries keep their tables: `stable` lives for the
    * whole run, `pass` is emptied before every pass.
    */
  final case class Tables(stable: String, pass: String)

  private def tables(cfg: Settings): Tables =
    Tables(cfg.root.resolve("tables-stable").toString, cfg.dir("tables-pass"))

  private def query(cfg: Settings, s: SparkSession, q: String, tables: Tables): DataFrame =
    Rooted.get(q) match {
      case Some(f) => f(s, cfg.dataDir, tables)
      case None => SparkEntry.queries(q)(s, cfg.dataDir)
    }

  private def session(cfg: Settings, cores: Int): SparkSession = {
    val s = Main.session(cfg, cores)
    // warm the reader, codegen and the noop sink so the first query does not
    // absorb that one-time cost
    s.read.parquet(s"${cfg.dataDir}/nation.parquet").write.format("noop").mode("overwrite").save()
    s.range(1 << 20).selectExpr("sum(id) as s").write.format("noop").mode("overwrite").save()
    s
  }

  /** `df` with its row count and an order-independent row checksum observed
    * while it is written; the write itself is unchanged.
    */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val rowHash = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("decimal(20,0)")
    (df.observe(o, count(lit(1)).as("rows"), sum(rowHash).as("checksum")), o)
  }

  /** Runs every query once into the noop sink. Each answer's observed checksum
    * must equal the one of the dump (`want`); a query that throws fails too.
    */
  private def pass(cfg: Settings, s: SparkSession, order: Seq[String], want: Map[String, Map[String, Any]],
      r: Report, t: Tracer): Seq[(String, Double)] = {
    val tables = this.tables(cfg)
    order.map { q =>
      val group = Subset.toMap.apply(q)
      val (got, sec) = Main.timed(t.span(s"query.$q", "group" -> group) {
        try {
          val (df, o) = observed(query(cfg, s, q, tables))
          df.write.format("noop").mode("overwrite").save()
          Some(o)
        } catch { case e: Throwable => System.err.println(s"[catalog] $q failed: $e"); None }
      })
      got match {
        case Some(o) => r.check(want.get(q).contains(o.get),
          s"catalog query $q at ${s.sparkContext.master}: ${o.get}, want ${want.get(q)}")
        case None => r.check(ok = false, s"catalog query $q at ${s.sparkContext.master} threw")
      }
      q -> sec
    }
  }

  /** Writes every query's result as parquet under `verify/` in the run root,
    * for the DuckDB-verified fingerprint check run.py makes after the JVM exits,
    * and returns each result's observed checksum, which the timed passes must
    * reproduce.
    */
  private def dump(cfg: Settings, s: SparkSession, order: Seq[String], r: Report): Map[String, Map[String, Any]] = {
    val root = cfg.dir("verify")
    val tables = this.tables(cfg)
    order.flatMap { q =>
      try {
        val (df, o) = observed(query(cfg, s, q, tables))
        df.coalesce(1).write.parquet(s"$root/$q")
        Some(q -> o.get)
      } catch { case e: Throwable => r.check(ok = false, s"catalog query $q threw while dumping: $e"); None }
    }.toMap
  }

  /** For tools/make_fingerprints.py: the subset's oracle SQL plus its Spark results. */
  def exportOracle(cfg: Settings, r: Report): Unit = {
    val s = session(cfg, cfg.cores)
    dump(cfg, s, Subset.map(_._1), r)
    r.info("oracle_sql") = Subset.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
  }

  /** One traced pass on a fresh session: wall and task time per layer group
    * and per named query. Returns the pass span.
    */
  private def layers(cfg: Settings, want: Map[String, Map[String, Any]], t: Tracer, r: Report): Span = {
    val s = session(cfg, cfg.cores)
    t.attach(s.sparkContext)
    t.span("catalog.op")(pass(cfg, s, Subset.map(_._1), want, r, t))
    val op = t.find("catalog.op").get
    val perQuery = t.within(op).filter(_.name.startsWith("query.")).map(sp =>
      (sp.name.stripPrefix("query."), sp.attrs("group").toString, t.aggOf(sp)))
    Layers.CatalogGroups.foreach { g =>
      val qs = perQuery.filter(_._2 == g)
      r.metric(s"catalog.$g.wall_s", qs.map(_._3.wallS).sum, "s")
      r.metric(s"catalog.$g.task_s", qs.map(_._3.taskS).sum, "s")
    }
    Layers.NamedQueries.foreach { n =>
      perQuery.find(_._1.startsWith(n + "_")).foreach(q => r.metric(s"catalog.$n.wall_s", q._3.wallS, "s"))
    }
    op
  }

  /** The catalog layers, for a traced run of another workload: the dump (its
    * warm-up and reference answers), then one traced pass.
    */
  def probe(cfg: Settings, t: Tracer, r: Report): Unit = {
    r.info("queries") = Subset.map(_._1)
    layers(cfg, dump(cfg, session(cfg, cfg.cores), Subset.map(_._1), r), t, r)
    t.detach()
  }

  def run(cfg: Settings, t: Tracer, r: Report): Unit = {
    // the tables are fixed, so the seed changes nothing here: one fixed order
    // keeps the ShardTableCache build in the same query on every run
    val order = Subset.map(_._1)
    r.info("queries") = order
    val reps = if (cfg.trace) 1 else 3
    var s: SparkSession = null
    val setupS = r.phase("setup")((1 to reps).map(_ => Main.timed { s = session(cfg, cfg.cores) }._2))
    // the dump pass doubles as the JIT warm-up of the timed passes; every timed
    // pass then starts on a fresh session of its own
    val want = r.phase("dump")(dump(cfg, s, order, r))

    if (cfg.trace) {
      def untraced() = pass(cfg, session(cfg, cfg.cores), order, want, r, t).map(_._2).sum
      val before = untraced()
      val op = layers(cfg, want, t, r)
      Layers.sparkCounts(r, t, op)
      t.detach()
      Main.overhead(r, (op.endMs - op.startMs) / 1e3, before, untraced())
      Ingest.probe(cfg, t, r)
    } else {
      // each pass (one op) on a fresh session; a pass's typical wall is the sum
      // of the per-query medians, so one slow query in one pass does not move it
      def loop(cores: Int, tag: String) = r.phase(tag) {
        val samples = scala.collection.mutable.ArrayBuffer[(String, Double)]()
        val totals = Main.closedLoop(cfg.seconds, 3) { i =>
          val times = pass(cfg, session(cfg, cores), order, want, r, t)
          samples ++= times
          r.info(s"${tag}_pass_${i}_s") = times.toMap
          times.map(_._2).sum
        }
        val perQuery = samples.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) }
        (totals, samples.map(_._2).toSeq, perQuery)
      }
      val (par, parSamples, parQuery) = loop(cfg.cores, "parallel")
      val (ser, _, serQuery) = loop(1, "serial")
      r.info("samples") = Map("setup" -> setupS.size, "parallel_passes" -> par.size, "serial_passes" -> ser.size,
        "queries_per_pass" -> order.size)
      r.info("parallel_op_s") = par
      r.info("serial_op_s") = ser
      r.info("query_median_s") = parQuery
      r.info("serial_query_median_s") = serQuery
      r.info("query_p50_s") = Stats.median(parSamples)
      r.info("query_p90_s") = Stats.quantile(parSamples, 0.9)
      Main.endToEnd(r, setupS, order.size.toDouble, "query", parQuery.values.sum, serQuery.values.sum, cfg.cores)
    }
  }
}
