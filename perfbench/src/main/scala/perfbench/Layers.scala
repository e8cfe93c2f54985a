package perfbench

/** The per-layer metrics a traced run reports, with their units, in
  * BENCHMARK.json order. Every traced run measures all of them: its own
  * workload's layers plus a traced pass of the other workload (see
  * perfbench/README.md for which workload should move which metric).
  */
object Layers {
  val CatalogGroups: Seq[String] = Seq("relational", "fm", "kernels", "fits", "sources", "streaming")
  val NamedQueries: Seq[String] = Seq("q41", "q59", "q67")

  val all: Seq[(String, String)] = Seq(
    "core.build.mchars_per_s" -> "Mchar/s",
    "core.count.us_p50" -> "us",
    "core.count.us_p99" -> "us",
    "core.locate1.us_per_match" -> "us",
    "core.locate10.us_per_match" -> "us",
    "core.locate100.us_per_match" -> "us",
    "core.extract.ns_per_char" -> "ns",
    "core.deserialize.ms_per_mb" -> "ms/MB",
    "core.index.bytes_per_char" -> "B/char",
    "pipeline.parse.wall_s" -> "s",
    "pipeline.parse.task_s" -> "s",
    "pipeline.parse.rows_dropped" -> "count",
    "pipeline.build.wall_s" -> "s",
    "pipeline.build.task_s" -> "s",
    "pipeline.build.shuffle_write_mb" -> "MB",
    "pipeline.build.spill_mb" -> "MB",
    "pipeline.build.task_skew" -> "ratio",
    "pipeline.route.wall_s" -> "s",
    "pipeline.route.task_s" -> "s",
    "pipeline.route.rules_per_s" -> "rules/s",
    "pipeline.route.rows_out" -> "count",
    "pipeline.route.pruned_frac" -> "ratio",
    "pipeline.route.hit_frac" -> "ratio",
    "pipeline.sink.wall_s" -> "s",
    "pipeline.sink.task_s" -> "s",
    "pipeline.sink.bytes_written_mb" -> "MB",
    "pipeline.tail.wall_s" -> "s",
    "pipeline.tail.task_s" -> "s",
    "pipeline.resume.wall_s" -> "s",
    "pipeline.resume.task_s" -> "s",
    "ingest.share.parse" -> "ratio",
    "ingest.share.build" -> "ratio",
    "ingest.share.route" -> "ratio",
    "ingest.share.sink" -> "ratio",
    "ingest.share.tail" -> "ratio",
    "ingest.share.other" -> "ratio"
  ) ++ CatalogGroups.flatMap(g => Seq(s"catalog.$g.wall_s" -> "s", s"catalog.$g.task_s" -> "s")) ++
    NamedQueries.map(q => s"catalog.$q.wall_s" -> "s") ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "trace.overhead_frac" -> "ratio")

  private val units = all.toMap

  /** Reports wall and task seconds (and the rest of `a`) under `prefix`. */
  def put(r: Report, prefix: String, a: Agg): Unit = {
    def set(k: String, v: Double): Unit =
      units.get(s"$prefix.$k").foreach(u => r.metric(s"$prefix.$k", v, u))
    set("wall_s", a.wallS)
    set("task_s", a.taskS)
    set("shuffle_write_mb", a.shuffleWriteMb)
    set("spill_mb", a.spillMb)
    set("task_skew", a.skew)
    set("bytes_written_mb", a.outputMb)
  }

  /** Spark job/stage/task counts of one traced operation. */
  def sparkCounts(r: Report, t: Tracer, op: Span): Unit = {
    val st = t.stagesOf(op).map(_._2)
    r.metric("spark.jobs", st.map(_.jobId).distinct.size.toDouble, "count")
    r.metric("spark.stages", st.size.toDouble, "count")
    r.metric("spark.tasks", st.map(_.taskMs.size).sum.toDouble, "count")
  }
}
