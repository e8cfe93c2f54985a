package graft

import graft.ops.ShardTableCache
import graft.pipeline.SinkRule
import org.scalatest.funsuite.AnyFunSuite

/** Option parsing that must fail at startup, before any Spark job runs. */
class ConfigParsingSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SHARD_COMPRESSION accepts only off and all; unset means off") {
    assert(!ShardTableCache.parseCompression(None))
    assert(!ShardTableCache.parseCompression(Some("off")))
    assert(ShardTableCache.parseCompression(Some("all")))
    for (bad <- Seq("wavelet", "ALL", "on", "", "all ")) {
      val e = intercept[IllegalArgumentException](ShardTableCache.parseCompression(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("--rules parses sink=pattern entries; a pattern may itself contain '='") {
    assert(PipelineMain.parseRules("errors=ERROR,kv=size=") ==
      Seq(SinkRule("errors", "ERROR"), SinkRule("kv", "size=")))
  }

  test("--rules rejects an entry without '='") {
    val e = intercept[IllegalArgumentException](PipelineMain.parseRules("errors=ERROR,foo"))
    assert(e.getMessage.contains("'foo'"), e.getMessage)
    intercept[IllegalArgumentException](PipelineMain.parseRules("foo"))
  }

  test("--rules rejects an empty pattern or sink") {
    for (entry <- Seq("errors=", "=ERROR")) {
      val e = intercept[IllegalArgumentException](PipelineMain.parseRules(s"ok=x,$entry"))
      assert(e.getMessage.contains(s"'$entry'"), e.getMessage)
    }
  }

  test("unknown options are rejected, not ignored") {
    assert(PipelineMain.parseArgs(Array("--input", "i", "--output", "o", "--compress")) ==
      Map("input" -> "i", "output" -> "o", "compress" -> "true"))
    val e = intercept[IllegalArgumentException](
      PipelineMain.parseArgs(Array("--input", "i", "--compression", "all")))
    assert(e.getMessage.contains("--compression"), e.getMessage)
  }
}
