package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed-random-projection (hyperplane) LSH for cosine similarity — the scale path for
  * embedding near-duplicate joins: candidates come from an EQUI-JOIN on (band_idx,
  * band_val) keys instead of an all-pairs cartesian, then only candidates are exactly
  * reranked. Charikar's SimHash-for-vectors scheme: P(sign agrees) = 1 - theta/pi.
  *
  * Hyperplane weights are small integers from a fixed LCG so the DuckDB oracle can
  * inline the IDENTICAL matrix as SQL literals and reproduce the whole pipeline
  * bit-for-bit (double math, same operation order) — the correctness gate then verifies
  * the LSH computation itself, not just a downstream filter.
  *
  * Recall is tunable, not 1.0: with b-bit bands and L bands, a pair at angle theta
  * collides with prob 1-(1-p^b)^L, p = 1-theta/pi. At real near-dup thresholds
  * (cos >= 0.8) the prune is orders of magnitude; at loose thresholds it degrades
  * gracefully toward the exact join. The plan SHAPE (shuffle on band keys, rerank only
  * matches) is what survives a 100x scale-up.
  */
object SimilarityLsh {

  /** Deterministic plane weights in [-4, 4], row-major LCG stream (seed fixed). */
  def planeWeights(nPlanes: Int, dim: Int): Array[Array[Int]] = {
    var s = 0x9e3779b97f4a7c15L
    Array.tabulate(nPlanes, dim) { (_, _) =>
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % 9) - 4).toInt
    }
  }

  /** Sequential-fold double dot product — operation order matches the oracle's
    * list_sum(list_transform(...)) exactly (established parity rule).
    */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  private def planeLit(w: Array[Int]): Column = array(w.toSeq.map(x => lit(x.toDouble)): _*)

  /** One BIGINT band value per band: bandBits sign bits packed little-endian. */
  def bandValues(emb: Column, planes: Array[Array[Int]], bandBits: Int): Seq[Column] = {
    require(planes.length % bandBits == 0)
    planes.grouped(bandBits).map { group =>
      group.zipWithIndex.map { case (w, j) =>
        when(dotD(emb, planeLit(w)) >= 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }.toSeq
  }

  /** (id, band_idx, band_val) rows: L rows per input row. */
  def bands(df: DataFrame, idCol: String, embCol: String, planes: Array[Array[Int]],
      bandBits: Int): DataFrame = {
    val vals = bandValues(col(embCol), planes, bandBits)
    df.select(col(idCol), posexplode(array(vals: _*)).as(Seq("band_idx", "band_val")))
  }

  /** Uncapped fan-out guard: a partial+final count over the band keys (map-side
    * combine absorbs the hot key, same shape the cap uses), warning loudly when any
    * bucket exceeds `threshold` rows — its self-join alone emits > threshold²/2
    * candidate pairs inside ONE shuffle partition, the exact degradation ScaleProbe
    * measured (~quadratic on non-clustered inputs, killed at 100x). The warning
    * names the remedy knob so a deployment that forgot the cap can't re-derive the
    * probe's kill silently. Returns the message it logged (None = within budget).
    */
  def fanoutWarning(bandsDf: DataFrame, keys: Seq[String], threshold: Long): Option[String] = {
    val hot = bandsDf.groupBy(keys.map(col): _*).count()
      .filter(col("count") > threshold)
      .agg(count(lit(1)).as("n"), max(col("count")).as("worst")).head()
    if (hot.getLong(0) == 0L) None
    else {
      val worst = hot.getLong(1)
      val msg = s"uncapped LSH band join: ${hot.getLong(0)} bucket(s) exceed " +
        s"$threshold rows (worst $worst -> ~${worst * worst / 2} candidate pairs " +
        "inside ONE task); set SPARK_GRAFT_LSH_MAXBUCKET (or pass maxBucket) to " +
        "bound fan-out — uncapped degrades ~quadratically on non-clustered inputs"
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      Some(msg)
    }
  }

  /** Uncapped band joins warn when a bucket exceeds this many rows. */
  private[graft] val FanoutGuardThreshold = 4096L

  // one guard run per corpus key per JVM: the guard is an extra agg job, and a
  // catalog running several queries over the SAME immutable corpus (q41/q44/q44b
  // share the minhash bands) should pay it once, not per query
  private val guarded = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Distinct unordered candidate pairs (id_a < id_b) sharing any band. The equi-join
    * shuffles on the band key — no cartesian anywhere.
    *
    * `maxBucket`: web-scale guard against degenerate buckets (a band value shared by k
    * rows emits k^2/2 candidates inside ONE shuffle partition — all-zero embeddings,
    * boilerplate docs). Buckets larger than the cap are dropped BEFORE the self-join via
    * a partial+final count on the band key, bounding any bucket's candidate fan-out at
    * maxBucket^2/2. Costs recall only on pairs whose every shared band is degenerate —
    * exactly the pairs an exact rerank would mostly reject. Default None keeps the
    * oracle-exact behavior (q41/q44/q52 gates compare against a capless SQL pipeline).
    */
  def candidatePairs(bandsDf: DataFrame, idCol: String,
      maxBucket: Option[Int] = None, guardKey: Option[String] = None): DataFrame = {
    val keys = Seq("band_idx", "band_val")
    if (maxBucket.isEmpty) {
      // callers without a stable corpus key memoize on the band frame's semantic
      // plan hash — a repeated identical call (bench min-of-N reruns, shared
      // bands across queries) must not re-pay the guard's aggregation each time.
      // KNOWN TRADE: the hash captures the PLAN, not the data — the same plan
      // re-run after the underlying table changed skips the re-check. The guard
      // is advisory (the cap is the real protection); long-lived production
      // sessions should pass an explicit per-corpus guardKey or set the cap.
      val gk = guardKey.getOrElse(
        s"plan:${bandsDf.queryExecution.logical.semanticHash()}")
      if (guarded.add(gk)) fanoutWarning(bandsDf, keys, FanoutGuardThreshold)
    }
    val capped = maxBucket match {
      case None => bandsDf
      case Some(cap) =>
        // partial+final groupBy absorbs the hot key map-side; the join back is an
        // equi-join on the same band key the pair join shuffles on (no extra exchange
        // of the big side under AQE-reused partitioning)
        val sizes = bandsDf.groupBy(keys.map(col): _*).count()
          .filter(col("count") <= cap).drop("count")
        bandsDf.join(sizes, keys)
    }
    val a = capped.select((col(idCol).as("id_a") +: keys.map(col)): _*)
    val b = capped.select((col(idCol).as("id_b") +: keys.map(c => col(c).as(s"__r_$c"))): _*)
    val cond = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col("id_a") < col("id_b")
    a.join(b, cond).select(col("id_a"), col("id_b")).distinct()
  }

  // ------------------------------------------------------------------ typed kernels
  // Interpreted higher-order lambdas cost ~10x, and Catalyst's InferFiltersFromGenerate
  // + pushdown can inline a whole HOF pipeline into a pre-shuffle Filter that runs on
  // the (few) scan partitions. The hot paths therefore run as typed mapPartitions
  // kernels with IDENTICAL double operation order to the declarative/oracle forms:
  // a while-loop `acc += x(i).toDouble * w(i)` is the same left fold as
  // aggregate(zip_with(...)) and DuckDB's list_sum(list_transform(...)).

  /** (id, band_idx, band_val) rows from a typed kernel — bit-identical to `bands`. */
  def bandsKernel(ds: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      planes: Array[Array[Int]], bandBits: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val numBands = planes.length / bandBits
    ds.mapPartitions { it =>
      it.flatMap { case (id, emb) =>
        val bands = new Array[Long](numBands)
        var p = 0
        while (p < planes.length) {
          val w = planes(p)
          var acc = 0.0
          var i = 0
          while (i < emb.length) { acc += emb(i).toDouble * w(i).toDouble; i += 1 }
          if (acc >= 0.0) bands(p / bandBits) |= 1L << (p % bandBits)
          p += 1
        }
        (0 until numBands).iterator.map(g => (id, g, bands(g)))
      }
    }.toDF("__id", "band_idx", "band_val")
  }

  /** Exact cosine rerank of candidate pairs; cos computed with the same op order as
    * `cosine` (dot / (sqrt(dot_aa) * sqrt(dot_bb)), sequential folds).
    */
  def rerankCosineKernel(ds: org.apache.spark.sql.Dataset[(Long, Long, Array[Float], Array[Float])],
      minCos: Double): org.apache.spark.sql.Dataset[(Long, Long)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { case (a, b, ea, eb) =>
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        while (i < ea.length) {
          dot += ea(i).toDouble * eb(i).toDouble
          i += 1
        }
        i = 0
        while (i < ea.length) { na += ea(i).toDouble * ea(i).toDouble; i += 1 }
        i = 0
        while (i < eb.length) { nb += eb(i).toDouble * eb(i).toDouble; i += 1 }
        val cos = dot / (math.sqrt(na) * math.sqrt(nb))
        if (cos >= minCos) Iterator.single((a, b)) else Iterator.empty
      }
    }
  }

  // --------------------------------------------------------------- oracle SQL rendering

  /** DuckDB: the same plane dot with identical double op order. */
  def duckPlaneDot(embExpr: String, w: Array[Int]): String = {
    val wl = w.mkString("[", ", ", "]")
    s"list_sum(list_transform(range(1, ${w.length + 1}), " +
      s"i -> CAST($embExpr[i] AS DOUBLE) * CAST(($wl)[i] AS DOUBLE)))"
  }

  /** DuckDB: band value g over `planes` with bandBits bits. */
  def duckBandVal(embExpr: String, planes: Array[Array[Int]], bandBits: Int, g: Int): String = {
    val terms = (0 until bandBits).map { j =>
      s"(CASE WHEN ${duckPlaneDot(embExpr, planes(g * bandBits + j))} >= 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }
}
