package graft.ops

import graft.SharedSparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the sketch structures the catalog's exact-output queries rely on
  * (q05c bloom semi-join, q49 CMS heavy hitters) plus the HLL estimate surface.
  * The queries stay bit-exact BECAUSE of these one-sided guarantees: Bloom and CMS
  * admit false positives (removed by the exact verify stage) but never false
  * negatives, so sketch-prefiltering loses nothing.
  */
class SketchSpec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  private def shingles = {
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(col("text")) >= 8)
      .select(explode(transform(sequence(lit(1), length(col("text")) - 7),
        i => col("text").substr(i, lit(8)))).as("sh"))
  }

  test("CountMinSketch never underestimates any key (q49's no-false-negative guarantee)") {
    val sh = shingles
    val cms = sh.stat.countMinSketch("sh", 0.0001, 0.99, 42)
    val exact = sh.groupBy(col("sh")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = exact.map(_._2).sum
    var over = 0L
    var maxOver = 0L
    for ((k, n) <- exact) {
      val est = cms.estimateCount(k)
      assert(est >= n, s"CMS UNDERestimated '$k': est=$est exact=$n — breaks q49")
      if (est > n) { over += 1; maxOver = math.max(maxOver, est - n) }
    }
    // eps = 1e-4: overestimate bound is eps * totalCount per key (w.p. 0.99)
    val bound = math.max(1L, (0.0001 * total).toLong * 10)
    assert(maxOver <= bound, s"max overestimate $maxOver exceeds 10x the eps bound $bound")
  }

  test("BloomFilter has no false negatives on present keys (q05c's guarantee)") {
    val keys = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_totalprice") > 200000).select(col("o_custkey"))
    val bloom = keys.stat.bloomFilter("o_custkey", 100000L, 0.01)
    val present = keys.distinct().collect().map(_.getLong(0))
    assert(present.nonEmpty)
    for (k <- present)
      assert(bloom.mightContain(k), s"bloom false NEGATIVE on $k — q05c would drop rows")
    // false-positive rate on absent keys stays near the configured 1%
    val absent = (1000000L to 1002000L).count(bloom.mightContain)
    assert(absent <= 200, s"false-positive rate ${absent / 2000.0} far above configured 0.01")
  }

  test("HLL approx_count_distinct lands within 10% of exact on the shingle vocab") {
    val sh = shingles
    val exact = sh.select(countDistinct(col("sh"))).head().getLong(0)
    val est = sh.select(approx_count_distinct(col("sh"), 0.02)).head().getLong(0)
    val rel = math.abs(est - exact).toDouble / exact
    assert(rel < 0.10, s"HLL estimate $est vs exact $exact (rel err $rel)")
  }
}
