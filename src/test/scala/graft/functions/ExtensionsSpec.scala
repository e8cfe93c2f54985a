package graft.functions

import graft.{SharedSparkSession, TempDirs}
import graft.ops.ShardTableCache
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session-extension surface: alpha_may_contain expression semantics, the
  * FmFingerprintPruning optimizer rule (soundness + that it actually fires), and the
  * GraftExtensions wiring class.
  */
class ExtensionsSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  private val dir = "/root/testdata/sf0.001"

  test("alpha_may_contain: false only when some pattern char is absent") {
    val fp = new Array[Long](16)
    for (c <- "merge the quick\n") { val b = c & 1023; fp(b >>> 6) |= 1L << (b & 63) }
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = ArrayData.toArrayData(fp)
    assert(AlphaFingerprint.mayContain(arr, UTF8String.fromString("merge")))
    assert(AlphaFingerprint.mayContain(arr, UTF8String.fromString("")))
    assert(!AlphaFingerprint.mayContain(arr, UTF8String.fromString("zebra")),
      "z is absent -> must report false")
    // one-sided: may return true for absent patterns made of present chars
    assert(AlphaFingerprint.mayContain(arr, UTF8String.fromString("greet")))
  }

  test("FmFingerprintPruning fires on fm_count filters and preserves results") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    val shards = ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
    shards.createOrReplaceTempView("shards_ext_test")
    val q = spark.sql(
      """SELECT count(*) AS n FROM shards_ext_test
        |WHERE fm_count(shard, 'merge') > 0""".stripMargin)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("alpha_may_contain"),
      s"pruning rule did not fire:\n${opt.take(1500)}")
    // soundness: guarded result == unguarded result (rule removed)
    val n = q.head().getLong(0)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == FmFingerprintPruning)
    val n0 = spark.sql(
      """SELECT count(*) AS n FROM shards_ext_test
        |WHERE fm_count(shard, 'merge') > 0""".stripMargin).head().getLong(0)
    GraftExtensions.installRules(spark)
    assert(n == n0, s"pruning changed the result: $n vs $n0")
    assert(n > 0, "fixture must contain matching shards")
  }

  test("pruning eliminates shards for patterns with absent chars (fingerprint works)") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    val shards = ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
    // CJK char absent from the synthetic docs' ASCII region: fingerprint must kill all
    // rows without consulting the index; and semantics must agree with fm_count
    shards.createOrReplaceTempView("shards_ext_test2")
    val rows = spark.sql(
      """SELECT count(*) AS n FROM shards_ext_test2
        |WHERE fm_count(shard, 'zqßx') > 0""".stripMargin).head().getLong(0)
    val direct = shards.select(
        sum(when(FmFunctions.fm_count(col("shard"), lit("zqßx")) > 0, 1L)
          .otherwise(0L)).as("n")).head().getLong(0)
    assert(rows == direct)
  }

  test("GraftExtensions class wires functions and rule into a SparkSessionExtensions") {
    // the config path (spark.sql.extensions) can't be exercised on the shared test
    // session (extensions bind at session construction); apply the class directly and
    // verify the injections are accepted
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
  }

  test("rule steps aside on ambiguous provenance (self-join exposes two shard pairs)") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
      .createOrReplaceTempView("shards_ext_amb")
    // the OR references BOTH sides: guarding either branch with the wrong side's
    // fingerprint could wrongly kill rows, so the rule must not fire at all here
    val q = spark.sql(
      """SELECT count(*) AS n
        |FROM shards_ext_amb a JOIN shards_ext_amb b ON a.shard_id <> b.shard_id
        |WHERE fm_count(a.shard, 'merge') > 0 OR fm_count(b.shard, 'merge') > 0""".stripMargin)
    assert(!q.queryExecution.optimizedPlan.toString.contains("alpha_may_contain"),
      "rule guarded a filter with ambiguous shard/fingerprint provenance")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == FmFingerprintPruning)
    val n0 = spark.sql(
      """SELECT count(*) AS n
        |FROM shards_ext_amb a JOIN shards_ext_amb b ON a.shard_id <> b.shard_id
        |WHERE fm_count(a.shard, 'merge') > 0 OR fm_count(b.shard, 'merge') > 0""".stripMargin)
      .head().getLong(0)
    GraftExtensions.installRules(spark)
    assert(q.head().getLong(0) == n0)
  }

  test("null alpha_fp rows survive the injected guard (null-safe rewrite)") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    val p = tempDir("ext_nullfp").toString
    // half the shards carry a NULL fingerprint (nullable parquet read) — the guard
    // must treat unknown as "may contain", never as "drop"
    ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
      .withColumn("alpha_fp", when(col("shard_id") % 2 === 0, col("alpha_fp")))
      .write.mode("overwrite").parquet(p)
    val t = spark.read.parquet(p)
    t.createOrReplaceTempView("shards_ext_nullfp")
    val q = spark.sql(
      """SELECT count(*) AS n FROM shards_ext_nullfp
        |WHERE fm_count(shard, 'merge') > 0""".stripMargin)
    assert(q.queryExecution.optimizedPlan.toString.contains("alpha_may_contain"),
      "rule should still fire on a nullable fingerprint column")
    val direct = t.select(
      sum(when(FmFunctions.fm_count(col("shard"), lit("merge")) > 0, 1L).otherwise(0L)))
      .head().getLong(0)
    assert(q.head().getLong(0) == direct,
      "null-fingerprint rows were dropped by a null-propagating guard")
  }

  test("rule steps aside when shard and alpha_fp come from different relations") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    val base = ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
    val pa = tempDir("ext_xrel_a").toString
    val pb = tempDir("ext_xrel_b").toString
    base.select(col("shard_id"), col("shard")).write.mode("overwrite").parquet(pa)
    // a SAME-NAMED fingerprint from another table, deliberately claiming 'merge'
    // chars are absent — pairing it with A.shard would wrongly kill every row
    val lyingFp = graft.functions.AlphaFingerprint.build("0123456789".toCharArray)
    base.select(col("shard_id")).withColumn("alpha_fp", typedlit(lyingFp.toSeq))
      .write.mode("overwrite").parquet(pb)
    spark.read.parquet(pa).createOrReplaceTempView("ext_xrel_a")
    spark.read.parquet(pb).createOrReplaceTempView("ext_xrel_b")
    val q = spark.sql(
      """SELECT count(*) AS n
        |FROM ext_xrel_a a JOIN ext_xrel_b b ON a.shard_id = b.shard_id
        |WHERE fm_count(a.shard, 'merge') > 0""".stripMargin)
    assert(!q.queryExecution.optimizedPlan.toString.contains("alpha_may_contain"),
      "rule paired a shard with a different relation's fingerprint")
    assert(q.head().getLong(0) > 0,
      "cross-relation pairing killed rows whose fm_count predicate is true")
  }

  test("idempotent: running the optimizer twice does not stack guards") {
    FmFunctions.register(spark)
    GraftExtensions.installRules(spark)
    val shards = ShardTableCache.docShards(spark, dir, numShards = 16).toDF()
    shards.createOrReplaceTempView("shards_ext_test3")
    val opt = spark.sql(
      """SELECT count(*) AS n FROM shards_ext_test3
        |WHERE fm_count(shard, 'merge') > 0""".stripMargin)
      .queryExecution.optimizedPlan.toString
    assert("alpha_may_contain".r.findAllIn(opt).size == 1,
      s"guard duplicated:\n${opt.take(1500)}")
  }
}
