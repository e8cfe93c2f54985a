package graft.ops

import org.apache.spark.sql.Dataset

/** IVF (inverted-file) coarse quantizer for approximate nearest-neighbor search:
  * Lloyd's k-means over QUANTIZED integer vectors, so the model is bit-reproducible
  * across engines — Spark and the DuckDB oracle derive the identical centroids,
  * assignments and probe lists, and the correctness gate verifies the whole ANN
  * pipeline, not just a downstream filter.
  *
  * Why integers: float k-means sums are order-dependent (fp addition is not
  * associative), so a shuffle could flip a near-tie assignment between runs or
  * engines. Here every vector is quantized once (`floor(x * 1000 + 0.5)` in double —
  * a single deterministic fp op per component) and all distances/sums are exact
  * Long arithmetic; centroid updates re-quantize through one deterministic double
  * division. Integer addition is associative, so partial aggregation across any
  * partitioning yields identical centroids.
  *
  * Scale shape: the model is k×dim longs (tiny, broadcast); fitting is `iters`
  * passes of map-side partial sums + a k-row reduce — the same shape MLlib k-means
  * uses, no shuffle of the vectors themselves. Search probes `nprobe` inverted
  * lists via an equi-join on the cluster id: candidates scale with n·nprobe/k,
  * not n². Recall on the isotropic test embeddings (the hardest case — no cluster
  * structure): ≥0.92 @ k=10, nprobe=3, ~30% of the table scanned (IvfKmeansSpec).
  */
object IvfKmeans {

  val Scale = 1000.0

  /** Deterministic quantization: one double multiply-add-floor per component. */
  def quantize(e: Array[Float]): Array[Long] = {
    val q = new Array[Long](e.length)
    var i = 0
    while (i < e.length) { q(i) = math.floor(e(i).toDouble * Scale + 0.5).toLong; i += 1 }
    q
  }

  /** Exact squared L2 distance between quantized vectors. */
  def dist2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Centroids sorted by cluster id (ids are stable across refits). */
  final case class Model(centroids: Array[(Int, Array[Long])]) {

    /** Nearest centroid, ties to the smaller cluster id (centroids are id-sorted
      * and the comparison is strict, so the first minimum wins).
      */
    def assign(q: Array[Long]): Int = {
      var best = centroids(0)._1
      var bestD = dist2(q, centroids(0)._2)
      var i = 1
      while (i < centroids.length) {
        val d = dist2(q, centroids(i)._2)
        if (d < bestD) { bestD = d; best = centroids(i)._1 }
        i += 1
      }
      best
    }

    /** The `nprobe` nearest cluster ids, ordered by (distance, id). */
    def probes(q: Array[Long], nprobe: Int): Array[Int] =
      centroids.map { case (cl, c) => (dist2(q, c), cl) }.sorted.take(nprobe).map(_._2)
  }

  /** Lloyd iterations: seeds are the quantized vectors with the k smallest ids
    * (deterministic, and trivially reproducible in SQL); each pass computes exact
    * integer partial sums per partition and reduces k rows; empty clusters drop out
    * (the oracle's GROUP BY does the same).
    */
  def fit(ds: Dataset[(Long, Array[Float])], k: Int, iters: Int): Model = {
    val spark = ds.sparkSession
    import spark.implicits._
    // fit makes 1 + iters full passes (seed collect + one partial-sum job per
    // iteration); persisting the quantized vectors computes the upstream
    // scan/shuffle/quantize ONCE instead of per pass (unpersisted before return,
    // so nothing leaks into the caller's plans or across queries)
    val quant = ds.map { case (id, e) => (id, quantize(e)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitQuantized(quant, k, iters)
    finally quant.unpersist(blocking = false)
  }

  /** Lloyd iterations over an in-memory quantized table — the same seeds, integer
    * sums and centroid re-quantization as the distributed loop.
    */
  private[ops] def fitLocal(rows: Array[(Long, Array[Long])], k: Int,
      iters: Int): Model = {
    val seeds = rows.filter(_._1 < k).sortBy(_._1).map { case (id, q) => (id.toInt, q) }
    require(seeds.length == k, s"need vec_ids 0..${k - 1} as seeds, found ${seeds.length}")
    var model = Model(seeds)
    for (_ <- 0 until iters) {
      val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Long)]
      rows.foreach { case (_, q) =>
        val cl = model.assign(q)
        val (sum, n) = acc.getOrElseUpdate(cl, (new Array[Long](q.length), 0L))
        var i = 0
        while (i < q.length) { sum(i) += q(i); i += 1 }
        acc(cl) = (sum, n + 1)
      }
      model = Model(acc.toArray.sortBy(_._1).map { case (cl, (sum, n)) =>
        (cl, sum.map(s => math.floor(s.toDouble / n.toDouble + 0.5).toLong))
      })
    }
    model
  }

  /** fit over an ALREADY-QUANTIZED (and typically caller-persisted) vector table —
    * the shared-cache path for composite indexes running several fits over the
    * same vectors (q54 shares one persisted quant between the coarse IVF fit and
    * the PQ codebook fits). Bit-identical to fit(): same seeds, same integer
    * partial sums, same centroid division. At most `localMax` rows fit on the driver
    * ([[LocalFit]]); the integer partial sums are associative, so that local fit is
    * bit-identical to the distributed one (IvfKmeansSpec pins it).
    */
  def fitQuantized(quant: Dataset[(Long, Array[Long])], k: Int, iters: Int,
      localMax: Int = LocalFit.MaxRows): Model = {
    val spark = quant.sparkSession
    import spark.implicits._
    LocalFit.collectIfSmall(quant, localMax).map(fitLocal(_, k, iters)).getOrElse {
      val seeds = quant.filter(_._1 < k).collect().sortBy(_._1)
        .map { case (id, q) => (id.toInt, q) }
      require(seeds.length == k, s"need vec_ids 0..${k - 1} as seeds, found ${seeds.length}")
      var model = Model(seeds)
      for (_ <- 0 until iters) {
        val bc = spark.sparkContext.broadcast(model)
        val partials = quant.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Long)]
          it.foreach { case (_, q) =>
            val cl = bc.value.assign(q)
            val (sum, n) = acc.getOrElseUpdate(cl, (new Array[Long](q.length), 0L))
            var i = 0
            while (i < q.length) { sum(i) += q(i); i += 1 }
            acc(cl) = (sum, n + 1)
          }
          acc.iterator.map { case (cl, (sum, n)) => (cl, sum, n) }
        }
        val totals = partials.groupByKey(_._1)
          .reduceGroups { (a, b) =>
            val s = a._2.clone()
            var i = 0
            while (i < s.length) { s(i) += b._2(i); i += 1 }
            (a._1, s, a._3 + b._3)
          }
          .map(_._2).collect()
        // re-quantize the mean: one deterministic double division per component,
        // identical to the oracle's floor(CAST(sum AS DOUBLE)/count(*) + 0.5)
        model = Model(totals.sortBy(_._1).map { case (cl, sum, n) =>
          (cl, sum.map(s => math.floor(s.toDouble / n.toDouble + 0.5).toLong))
        })
      }
      model
    }
  }

  /** (vec_id, cluster) for every vector under the final model. */
  def assignAll(ds: Dataset[(Long, Array[Float])], model: Model): Dataset[(Long, Int)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    ds.mapPartitions(it => it.map { case (id, e) => (id, bc.value.assign(quantize(e))) })
  }

  /** (query_id, probed_cluster) rows: nprobe rows per query. */
  def probesFor(ds: Dataset[(Long, Array[Float])], model: Model, nprobe: Int): Dataset[(Long, Int)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    ds.mapPartitions(it => it.flatMap { case (id, e) =>
      bc.value.probes(quantize(e), nprobe).iterator.map(cl => (id, cl))
    })
  }

  // --------------------------------------------------------------- oracle SQL rendering

  /** DuckDB CTE chain reproducing fit + assignment + probes bit-for-bit. Emits
    * `quant` (quantized vectors), `af` (final assignment), `pr` (query probes).
    */
  def duckModelCtes(k: Int, iters: Int, nprobe: Int, dim: Int, querySql: String): String = {
    def distExpr(q: String, c: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> ($q[i] - $c[i]) * ($q[i] - $c[i])))"
    def assignCte(name: String, cFrom: String) =
      s"""$name AS (SELECT vec_id, cl FROM (
         |  SELECT v.vec_id, c.cl,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${distExpr("v.q", "c.c")}, c.cl) AS rn
         |  FROM quant v, $cFrom c) WHERE rn = 1)""".stripMargin
    def updateCte(name: String, aFrom: String) = {
      val mean = (1 to dim).map(i =>
        s"CAST(floor(CAST(sum(q[$i]) AS DOUBLE) / count(*) + 0.5) AS BIGINT)").mkString(", ")
      s"""$name AS (SELECT a.cl AS cl, [$mean] AS c
         |  FROM $aFrom a JOIN quant USING (vec_id) GROUP BY a.cl)""".stripMargin
    }
    val steps = new scala.collection.mutable.ArrayBuffer[String]
    steps += s"""quant AS (SELECT vec_id, list_transform(embedding,
                |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
                |  FROM embeddings)""".stripMargin
    steps += s"c0 AS (SELECT CAST(vec_id AS INT) AS cl, q AS c FROM quant WHERE vec_id < $k)"
    for (i <- 1 to iters) {
      steps += assignCte(s"a$i", s"c${i - 1}")
      steps += updateCte(s"c$i", s"a$i")
    }
    steps += assignCte("af", s"c$iters")
    steps += s"""pr AS (SELECT vec_id AS query_id, cl AS qcl FROM (
                |  SELECT v.vec_id, c.cl,
                |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${distExpr("v.q", "c.c")}, c.cl) AS rn
                |  FROM quant v, c$iters c WHERE $querySql) WHERE rn <= $nprobe)""".stripMargin
    steps.mkString(",\n")
  }
}
