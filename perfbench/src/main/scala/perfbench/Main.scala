package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
}

/** Command-line settings of one benchmark process (run.py passes all of them). */
final case class Settings(workload: String, seed: Long, seconds: Double, trace: Boolean,
    root: Path, dataDir: String, out: Path, traceOut: Path, cores: Int) {
  /** A fresh, empty directory under the run root. */
  def dir(name: String): String = {
    val p = root.resolve(name)
    Main.deleteRecursively(p)
    p.toString
  }
}

/** What one workload run reports: counts of checked operations, the metrics
  * (end-to-end for untraced runs, per-layer for traced ones) and notes.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()

  /** Counts one checked operation; a false check is a failure, never skipped. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    ok
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val phases = mutable.LinkedHashMap[String, Double]()

  /** Times a phase of the run (reported as info, so a slow run explains itself). */
  def phase[T](name: String)(body: => T): T = {
    val (v, s) = Main.timed(body)
    phases(name) = phases.getOrElse(name, 0.0) + s
    info("phase_s") = phases
    v
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Main {

  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** A fresh local session. Every scratch path Spark owns points under the run root. */
  def session(cfg: Settings, cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${cfg.workload}-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.root.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", cfg.root.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its result with its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Repeats `op` until `seconds` have passed in this phase, at least `minOps` times. */
  def closedLoop(seconds: Double, minOps: Int)(op: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Double]()
    while (out.size < minOps || secondsSince(t0) < seconds) out += op(out.size)
    out.toSeq
  }

  /** Traced op time against the mean of an untraced op before and after it. */
  def overhead(r: Report, traced: Double, before: Double, after: Double): Unit = {
    r.metric("trace.overhead_frac", traced / ((before + after) / 2) - 1.0, "ratio")
    r.info("trace_overhead_s") = Map("untraced_before" -> before, "traced" -> traced, "untraced_after" -> after)
  }

  /** The end-to-end metrics every workload reports. One operation does `items`
    * units of work (turns or queries, named by `item`); `parOpS` and `serialOpS`
    * are its typical times at local[cores] and local[1].
    */
  def endToEnd(r: Report, setup: Seq[Double], items: Double, item: String, parOpS: Double,
      serialOpS: Double, cores: Int): Unit = {
    val thr = items / parOpS
    val thr1 = items / serialOpS
    r.metric("setup_s", Stats.median(setup), "s")
    r.metric("throughput", thr, "items/s")
    r.metric("serial_throughput", thr1, "items/s")
    r.metric("scaling_eff", thr / thr1 / cores, "ratio")
    r.info("item") = item
    r.info("op_p50_s") = parOpS
    r.info("setup_s_all") = setup
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(kv("root")).toAbsolutePath
    Files.createDirectories(root)
    val cfg = Settings(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      root, kv("data"), Paths.get(kv("out")), Paths.get(kv("trace-out")),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val tracer = new Tracer(s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}", cfg.trace)
    val report = new Report
    report.info("jvm_uptime_at_main_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      cfg.workload match {
        case "ingest" => Ingest.run(cfg, tracer, report)
        case "catalog" => Catalog.run(cfg, tracer, report)
        case "catalog-oracle" => Catalog.exportOracle(cfg, report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (cfg.workload != "catalog-oracle" && !cfg.trace) report.metric("peak_rss_mb", peakRssMb(), "MB")
    } catch {
      case e: Throwable =>
        report.check(ok = false, s"${cfg.workload} aborted: $e")
        e.printStackTrace()
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
    if (cfg.trace) Files.write(cfg.traceOut, tracer.toJson.getBytes(StandardCharsets.UTF_8))
    report.info("failures") = report.failures.toSeq
    report.info("jvm_uptime_at_exit_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val json = "{" + Seq(
      "attempted" -> report.attempted, "failed" -> report.failed,
      "metrics" -> report.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> report.info).map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString(",") + "}"
    Files.write(cfg.out, json.getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }
}
