package graft.ops

import graft.SharedSparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The row-count gate in front of every iterative fit: `max` rows fit on the
  * driver, `max + 1` rows or `max = 0` take the distributed loop.
  */
class LocalFitSpec extends AnyFunSuite with SharedSparkSession {

  test("collectIfSmall: max rows collect, max + 1 rows and max = 0 do not") {
    import spark.implicits._
    val ds = spark.range(5).as[Long].repartition(3)
    assert(LocalFit.collectIfSmall(ds, 5).map(_.sorted.toSeq).contains(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(LocalFit.collectIfSmall(ds, 6).map(_.length).contains(5))
    assert(LocalFit.collectIfSmall(ds, 4).isEmpty)
    assert(LocalFit.collectIfSmall(ds, 0).isEmpty)
    assert(LocalFit.collectIfSmall(ds, -1).isEmpty)
  }

  test("a fit takes the local path at exactly localMax rows, the distributed one above") {
    import spark.implicits._
    // a 4-edge chain: the local union-find reports 0 rounds, the distributed loop >= 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val want = (1L to 5L).map(n => (n, 1L)).toSet
    for ((localMax, local) <- Seq(4 -> true, 3 -> false, 0 -> false)) {
      val (cc, rounds) = ConnectedComponents.runWithRounds(edges, localMax = localMax)
      assert((rounds == 0) == local, s"localMax=$localMax rounds=$rounds")
      assert(cc.as[(Long, Long)].collect().toSet == want, s"localMax=$localMax")
    }
  }
}
