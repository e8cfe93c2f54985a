package graft.ops

import graft.SharedSparkSession
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite with SharedSparkSession {

  /** Union-find oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], label: String): Unit = {
    import spark.implicits._
    val got = ConnectedComponents.run(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ufComponents(edges)
    assert(got == want, s"$label: spark=$got oracle=$want")
  }

  test("pairs, triangles, and chains resolve to min-id clusters") {
    check(Seq((5L, 2L), (7L, 7L), (10L, 11L), (11L, 12L), (3L, 9L), (9L, 3L)), "small")
  }

  test("long chain converges in O(log diameter) rounds (pointer jumping)") {
    import spark.implicits._
    val chain = (0L until 256L).map(i => (i, i + 1))
    val (labels, rounds) =
      ConnectedComponents.runWithRounds(chain.toDF("a", "b"), localMax = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ufComponents(chain), "chain-257 labels wrong")
    // pure propagation would need 256 rounds; reach doubles per round with jumping
    assert(rounds <= 14, s"chain-257 took $rounds rounds — pointer jumping regressed")
  }

  test("random graphs match a union-find oracle") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      check(edges, s"random-$trial")
    }
  }

  test("local fast path == distributed loop (labels identical on random graphs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 120
      val edges = Seq.fill(100)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val local = ConnectedComponents.run(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = ConnectedComponents
        .runWithRounds(edges.toDF("a", "b"), localMax = 0)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"trial $trial: local=$local distributed=$dist")
    }
  }

  test("empty edge input returns an empty labeling (no NPE on null sum)") {
    import spark.implicits._
    val out = ConnectedComponents.run(Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(out.collect().isEmpty)
  }

  test("checkpoint storage stays bounded across many rounds (superseded blocks freed)") {
    import spark.implicits._
    // 2^10-long chain → ~log2(1024) pointer-jump rounds, one localCheckpoint each
    val chain = (0L until 1024L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.size
    val (labels, rounds) =
      ConnectedComponents.runWithRounds(chain.toDF("a", "b"), localMax = 0)
    labels.count()
    assert(rounds >= 8, s"expected >= 8 rounds on a 1025-chain, got $rounds")
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the FINAL round's checkpoint (plus anything the session held before) may
    // remain — round N-1's blocks must be freed when round N lands
    assert(after <= before + 1,
      s"persisted RDDs grew $before -> $after across $rounds rounds — checkpoints leak")
  }

  test("q44 clusters are consistent: every LSH/exact edge lands in one cluster") {
    val dir = "/root/testdata/sf0.001"
    val clusters = CorpusQueries.queries("q44_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = CorpusQueries.minhashLshPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) split across clusters")
    }
    assert(clusters.forall { case (n, c) => c <= n && clusters(c) == c },
      "cluster id must be the min member and itself clustered")
  }
}
