package graft.ops

import graft.SharedSparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfKmeansSpec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  private def embDs = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
  }

  test("fit is deterministic across refits and repartitionings") {
    val a = IvfKmeans.fit(embDs, k = 10, iters = 2)
    val b = IvfKmeans.fit(embDs.repartition(7), k = 10, iters = 2)
    assert(a.centroids.map(_._1).sameElements(b.centroids.map(_._1)))
    a.centroids.zip(b.centroids).foreach { case ((_, ca), (_, cb)) =>
      assert(ca.sameElements(cb), "integer k-means must not depend on partitioning")
    }
  }

  test("local fast path == distributed Lloyd (centroids bit-identical)") {
    import spark.implicits._
    val quant = embDs.map { case (id, e) => (id, IvfKmeans.quantize(e)) }
    val local = IvfKmeans.fitQuantized(quant, k = 10, iters = 2)
    val dist = IvfKmeans.fitQuantized(quant, k = 10, iters = 2, localMax = 0)
    assert(local.centroids.map(_._1).sameElements(dist.centroids.map(_._1)))
    local.centroids.zip(dist.centroids).foreach { case ((_, ca), (_, cb)) =>
      assert(ca.sameElements(cb), "local fit must equal the distributed fit")
    }
    val pqLocal = ProductQuantizer.fitQuantized(quant, numSub = 8, subdim = 8,
      k = 16, iters = 2)
    val pqDist = ProductQuantizer.fitQuantized(quant, numSub = 8, subdim = 8,
      k = 16, iters = 2, localMax = 0)
    pqLocal.models.zip(pqDist.models).foreach { case (a, b) =>
      assert(a.centroids.map(_._1).sameElements(b.centroids.map(_._1)))
      a.centroids.zip(b.centroids).foreach { case ((_, ca), (_, cb)) =>
        assert(ca.sameElements(cb), "local PQ fit must equal the distributed fit")
      }
    }
  }

  test("assignment matches a single-threaded reference run") {
    val model = IvfKmeans.fit(embDs, k = 10, iters = 2)
    // reference: same algorithm, no Spark — quantize + Lloyd locally
    val local = embDs.collect().sortBy(_._1).map { case (id, e) => (id, IvfKmeans.quantize(e)) }
    var ref = IvfKmeans.Model(local.take(10).map { case (id, q) => (id.toInt, q) })
    for (_ <- 0 until 2) {
      val byCl = local.groupBy { case (_, q) => ref.assign(q) }
      ref = IvfKmeans.Model(byCl.toArray.sortBy(_._1).map { case (cl, rows) =>
        val n = rows.length.toLong
        val sum = new Array[Long](rows.head._2.length)
        rows.foreach { case (_, q) => var i = 0; while (i < q.length) { sum(i) += q(i); i += 1 } }
        (cl, sum.map(s => math.floor(s.toDouble / n.toDouble + 0.5).toLong))
      })
    }
    model.centroids.zip(ref.centroids).foreach { case ((ida, ca), (idb, cb)) =>
      assert(ida == idb && ca.sameElements(cb))
    }
    val sparkAssign = IvfKmeans.assignAll(embDs, model).collect().toMap
    local.foreach { case (id, q) => assert(sparkAssign(id) == ref.assign(q)) }
  }

  test("q51b recall@5 >= 0.9 vs exact top-5, scanning ~nprobe/k of the table") {
    val out = CorpusQueries.queries("q51b_ivf_kmeans")(spark, dir).collect()
    assert(out.length == 50, s"10 queries x top-5 expected, got ${out.length}")
    val hits = out.map(_.getAs[Long]("hit")).sum
    val recall = hits.toDouble / out.length
    info(f"IVF k=10 nprobe=3 recall@5 = $recall%.2f ($hits/${out.length})")
    assert(recall >= 0.9, f"recall $recall%.2f below the 0.9 design point")
  }

  test("IVF-PQ: codes are 8 bytes per 64-dim vector, discriminative, and ADC " +
      "shortlist recall@5 >= 0.6 on isotropic embeddings") {
    import spark.implicits._
    val embDs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding")).as[(Long, Array[Float])]
    val pq = ProductQuantizer.fit(embDs, numSub = 8, subdim = 8, k = 16, iters = 2)
    val codes = ProductQuantizer.encodeAll(embDs, pq).collect()
    // 64 floats (256 B) -> 8 small ints: the ranking working set compresses 32x
    assert(codes.forall(_._2.length == 8))
    // every code names a LIVE centroid of its subspace, and every subspace
    // discriminates (a collapsed codebook would make ADC useless)
    val live = pq.models.map(_.centroids.map(_._1).toSet)
    codes.foreach { case (_, c) =>
      c.zipWithIndex.foreach { case (cl, m) => assert(live(m).contains(cl)) }
    }
    (0 until 8).foreach { m =>
      val distinct = codes.map(_._2(m)).distinct.length
      assert(distinct >= 4, s"subspace $m collapsed to $distinct codes")
    }
    // encode agrees with a local re-derivation (engine-independence of the math)
    val local = embDs.collect().map { case (id, e) => (id, IvfKmeans.quantize(e)) }.toMap
    codes.take(50).foreach { case (id, c) => assert(pq.encode(local(id)).sameElements(c)) }
    // end-to-end recall through the catalog query's hit column: isotropic random
    // embeddings are PQ's hardest case (no cluster structure), so the floor is
    // modest — the oracle gate, not this number, pins correctness
    val out = CorpusQueries.queries("q54_ivf_pq")(spark, dir).collect()
    assert(out.length == 40, s"8 queries x top-5 expected, got ${out.length}")
    val recall = out.map(_.getAs[Long]("hit")).sum.toDouble / out.length
    info(f"IVF-PQ nprobe=3 C=40 recall@5 = $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f below the 0.6 floor")
  }

  test("candidate generation is an equi-join on cluster ids (no cartesian)") {
    val plan = CorpusQueries.queries("q51b_ivf_kmeans")(spark, dir)
      .queryExecution.executedPlan.toString
    // the single BroadcastNestedLoopJoin allowed is the bounded brute-force REFERENCE
    // side (10-query broadcast) used only to compute the hit flag
    val nl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size +
      "CartesianProduct".r.findAllIn(plan).size
    assert(nl <= 1, s"IVF candidate path must be an equi-join, found $nl nested-loop joins")
  }
}
