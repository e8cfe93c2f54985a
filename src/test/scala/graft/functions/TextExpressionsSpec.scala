package graft.functions

import graft.SharedSparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextExpressionsSpec extends AnyFunSuite with SharedSparkSession {

  /** Independent reference: fold over code points, h = (h*31 + cp) mod 1e9+7. */
  private def ref(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  private val samples = Seq(
    "", "a", "ab", "hello world", "the quick brown fox",
    "ab中🙂", // CJK + emoji (surrogate pair): code points, not UTF-16 units
    "\u0000embedded\u0000nul", "line1\nline2\ttab", "x" * 5000)

  test("rolling_hash matches the code-point fold reference (interpreted eval)") {
    for (s <- samples) {
      val row = RollingHash(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .eval(null)
      assert(row == ref(s), s"mismatch on ${s.take(20)}")
    }
  }

  test("rolling_hash under forced CODEGEN_ONLY evaluates identically") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = samples.toDF("s")
      val got = df.select(col("s"), TextFunctions.rolling_hash(col("s")).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (s <- samples) assert(got(s) == ref(s), s"codegen mismatch on ${s.take(20)}")
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("UTF-8 byte-path decode equals String.codePointAt on arbitrary unicode strings") {
    // property check over generated strings incl. astral-plane code points — guards
    // the hand-rolled UTF-8 decode in RollingHashUtil.hash
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val cp = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), // ASCII
      2 -> Gen.choose(0x80, 0x7ff), // 2-byte
      2 -> Gen.choose(0x800, 0xd7ff), // 3-byte below surrogates
      1 -> Gen.choose(0xe000, 0xffff), // 3-byte above surrogates
      1 -> Gen.choose(0x10000, 0x10ffff)) // 4-byte astral
    val gen = Gen.listOf(cp).map(cps => new String(cps.toArray, 0, cps.length))
    val prop = Prop.forAll(gen) { s =>
      RollingHashUtil.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s)) == ref(s)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("rolling_hash distributes: distinct texts rarely collide on the fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.select(col("text")).distinct().count()
    val nh = docs.select(TextFunctions.rolling_hash(col("text")).as("h")).distinct().count()
    // 1e9+7 buckets; ~500 distinct docs: collisions should be essentially absent
    assert(nh >= n - 1, s"$n distinct texts hashed to only $nh values")
  }
}
