package graft.ops

import org.apache.spark.sql.Dataset

/** Product quantization (PQ) for approximate nearest-neighbor search, composed
  * with the IVF coarse quantizer into the classic IVF-PQ index: IVF's inverted
  * lists bound WHICH vectors are candidates, PQ's compact codes bound the COST of
  * ranking them. Each vector is split into `numSub` subvectors; each subspace gets
  * its own small codebook (k centroids, fit by the same quantized-integer Lloyd
  * k-means as [[IvfKmeans]]); a vector's code is `numSub` small ints (here 8 bytes
  * for a 64-dim float vector — a 32x compression of the ranking working set).
  * Query-side ranking is ADC (asymmetric distance computation): one lookup table
  * of `numSub x k` exact integer partial distances per query, then each candidate
  * scores with `numSub` table lookups + adds — no float math per candidate.
  *
  * Determinism carries over from [[IvfKmeans]]: all codebooks, codes and ADC
  * scores are exact integer arithmetic over the same quantized components (a
  * slice of `quantize(v)` equals `quantize(slice(v))` since quantization is
  * per-component), so the DuckDB oracle re-derives the identical index and the
  * correctness gate covers fit + encode + ADC, not just a downstream filter.
  *
  * Scale shape: codebooks are `numSub * k * subdim` longs (tiny, broadcast);
  * fitting is `numSub` independent k-means runs over sliced vectors (map-side
  * partial sums, k-row reduces); encoding is one map pass; ADC candidates come
  * from the IVF equi-join, never all pairs. At 100 TB the codes table (8 bytes +
  * id per vector) is what a re-ranking pass scans — the full float vectors are
  * touched only for the final exact top-k rerank of C candidates per query.
  */
object ProductQuantizer {

  /** Per-subspace codebooks; `subdim` components per subspace, id-sorted models. */
  final case class Pq(subdim: Int, models: Array[IvfKmeans.Model]) {
    def numSub: Int = models.length

    /** The PQ code of a quantized full vector: per-subspace nearest centroid id. */
    def encode(q: Array[Long]): Array[Int] = {
      val code = new Array[Int](models.length)
      var m = 0
      while (m < models.length) {
        code(m) = models(m).assign(java.util.Arrays.copyOfRange(q, m * subdim, (m + 1) * subdim))
        m += 1
      }
      code
    }

    /** ADC lookup table for one quantized query: `lut(m)(cl)` = exact squared L2
      * between the query's m-th subvector and subspace-m centroid `cl`. Dense over
      * cl (seed ids stay < k even when empty clusters drop out); unused slots stay
      * MaxValue and are never referenced because codes only name live centroids.
      */
    def lut(q: Array[Long], k: Int): Array[Array[Long]] =
      Array.tabulate(models.length) { m =>
        val sub = java.util.Arrays.copyOfRange(q, m * subdim, (m + 1) * subdim)
        val row = Array.fill(k)(Long.MaxValue)
        models(m).centroids.foreach { case (cl, c) => row(cl) = IvfKmeans.dist2(sub, c) }
        row
      }
  }

  /** `numSub` independent subspace k-means fits over component slices. The input
    * embeddings must have `numSub * subdim` components and carry vec_ids 0..k-1
    * (the deterministic seeds, as in [[IvfKmeans.fit]]).
    *
    * All subspaces fit in ONE pass per iteration: a single mapPartitions computes
    * the (subspace, cluster) partial sums for every subspace at once, so the data
    * is scanned 1 + iters times total instead of numSub * (1 + iters). Each
    * subspace's assignments, sums and centroid updates are the exact integer math
    * of an independent [[IvfKmeans.fit]] over its slice (quantize is
    * per-component, so slice-then-quantize == quantize-then-slice), keeping the
    * model bit-identical to the per-subspace form the oracle re-derives.
    */
  def fit(ds: Dataset[(Long, Array[Float])], numSub: Int, subdim: Int, k: Int,
      iters: Int): Pq = {
    val spark = ds.sparkSession
    import spark.implicits._
    val quant = ds.map { case (id, e) => (id, IvfKmeans.quantize(e)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitQuantized(quant, numSub, subdim, k, iters)
    finally quant.unpersist(blocking = false)
  }

  /** fit over an already-quantized (caller-persisted) vector table — see
    * [[IvfKmeans.fitQuantized]]; q54 shares one persisted quant with the coarse
    * IVF fit.
    */
  def fitQuantized(quant: Dataset[(Long, Array[Long])], numSub: Int, subdim: Int,
      k: Int, iters: Int, localMax: Int = LocalFit.MaxRows): Pq = {
    val spark = quant.sparkSession
    import spark.implicits._
    def slice(q: Array[Long], m: Int): Array[Long] =
      java.util.Arrays.copyOfRange(q, m * subdim, (m + 1) * subdim)
    // local fast path (see LocalFit): each subspace fit is the same integer
    // Lloyd over the sliced vectors — bit-identical by associativity
    LocalFit.collectIfSmall(quant, localMax).map { head =>
      Pq(subdim, Array.tabulate(numSub) { m =>
        IvfKmeans.fitLocal(head.map { case (id, q) => (id, slice(q, m)) }, k, iters)
      })
    }.getOrElse {
      val seeds = quant.filter(_._1 < k).collect().sortBy(_._1)
      require(seeds.length == k, s"need vec_ids 0..${k - 1} as seeds, found ${seeds.length}")
      var models = Array.tabulate(numSub) { m =>
        IvfKmeans.Model(seeds.map { case (id, q) => (id.toInt, slice(q, m)) })
      }
      for (_ <- 0 until iters) {
        val bc = spark.sparkContext.broadcast(models)
        val partials = quant.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap.empty[(Int, Int), (Array[Long], Long)]
          it.foreach { case (_, q) =>
            var m = 0
            while (m < bc.value.length) {
              val sub = java.util.Arrays.copyOfRange(q, m * subdim, (m + 1) * subdim)
              val cl = bc.value(m).assign(sub)
              val (sum, n) = acc.getOrElseUpdate((m, cl), (new Array[Long](subdim), 0L))
              var i = 0
              while (i < subdim) { sum(i) += sub(i); i += 1 }
              acc((m, cl)) = (sum, n + 1)
              m += 1
            }
          }
          acc.iterator.map { case ((m, cl), (sum, n)) => (m, cl, sum, n) }
        }
        val totals = partials.groupByKey(x => (x._1, x._2))
          .reduceGroups { (a, b) =>
            val s = a._3.clone()
            var i = 0
            while (i < s.length) { s(i) += b._3(i); i += 1 }
            (a._1, a._2, s, a._4 + b._4)
          }
          .map(_._2).collect()
        models = Array.tabulate(numSub) { m =>
          IvfKmeans.Model(totals.filter(_._1 == m).sortBy(_._2).map { case (_, cl, sum, n) =>
            (cl, sum.map(s => math.floor(s.toDouble / n.toDouble + 0.5).toLong))
          })
        }
      }
      Pq(subdim, models)
    }
  }

  /** (vec_id, code) for every vector — the compact ranking set. */
  def encodeAll(ds: Dataset[(Long, Array[Float])], pq: Pq): Dataset[(Long, Array[Int])] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pq)
    ds.mapPartitions(it => it.map { case (id, e) =>
      (id, bc.value.encode(IvfKmeans.quantize(e)))
    })
  }

  // --------------------------------------------------------------- oracle SQL rendering

  /** DuckDB CTE chain reproducing the PQ index bit-for-bit, appended after
    * [[IvfKmeans.duckModelCtes]] (reuses its `quant`). Emits `codes`
    * (vec_id, m, code) and `qlut` (query_id, m, cl, d) for queries matching
    * `querySql` over alias `v`.
    */
  def duckPqCtes(numSub: Int, subdim: Int, k: Int, iters: Int, querySql: String): String = {
    def distExpr(q: String, c: String) =
      s"list_sum(list_transform(range(1, ${subdim + 1}), i -> ($q[i] - $c[i]) * ($q[i] - $c[i])))"
    val steps = new scala.collection.mutable.ArrayBuffer[String]
    for (m <- 0 until numSub) {
      val lo = m * subdim + 1
      val hi = (m + 1) * subdim
      steps += s"qm$m AS (SELECT vec_id, q[$lo:$hi] AS q FROM quant)"
      steps += s"pc${m}_0 AS (SELECT CAST(vec_id AS INT) AS cl, q AS c FROM qm$m WHERE vec_id < $k)"
      for (i <- 1 to iters) {
        steps += s"""pa${m}_$i AS (SELECT vec_id, cl FROM (
                    |  SELECT v.vec_id, c.cl,
                    |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${distExpr("v.q", "c.c")}, c.cl) AS rn
                    |  FROM qm$m v, pc${m}_${i - 1} c) WHERE rn = 1)""".stripMargin
        val mean = (1 to subdim).map(j =>
          s"CAST(floor(CAST(sum(q[$j]) AS DOUBLE) / count(*) + 0.5) AS BIGINT)").mkString(", ")
        steps += s"""pc${m}_$i AS (SELECT a.cl AS cl, [$mean] AS c
                    |  FROM pa${m}_$i a JOIN qm$m USING (vec_id) GROUP BY a.cl)""".stripMargin
      }
      steps += s"""code$m AS (SELECT vec_id, $m AS m, cl AS code FROM (
                  |  SELECT v.vec_id, c.cl,
                  |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${distExpr("v.q", "c.c")}, c.cl) AS rn
                  |  FROM qm$m v, pc${m}_$iters c) WHERE rn = 1)""".stripMargin
      steps += s"""qlut$m AS (SELECT v.vec_id AS query_id, $m AS m, c.cl,
                  |    ${distExpr("v.q", "c.c")} AS d
                  |  FROM qm$m v, pc${m}_$iters c WHERE $querySql)""".stripMargin
    }
    steps += (0 until numSub).map(m => s"SELECT * FROM code$m")
      .mkString("codes AS (", " UNION ALL ", ")")
    steps += (0 until numSub).map(m => s"SELECT * FROM qlut$m")
      .mkString("qlut AS (", " UNION ALL ", ")")
    steps.mkString(",\n")
  }
}
