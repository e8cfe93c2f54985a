package graft

import graft.ops.{CorpusQueries, ShardTableCache, SimilarityLsh}
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

  test("numeric catalog knobs accept only positive integers; unset means the default") {
    for (name <- Seq("SPARK_GRAFT_LSH_MAXBUCKET", "SPARK_GRAFT_SEMDEDUP_K")) {
      assert(CorpusQueries.parsePositiveInt(name, None).isEmpty)
      assert(CorpusQueries.parsePositiveInt(name, Some("1")).contains(1))
      assert(CorpusQueries.parsePositiveInt(name, Some("64")).contains(64))
      for (bad <- Seq("0", "-1", "abc", "", " 8", "1.5", "99999999999")) {
        val e = intercept[IllegalArgumentException](
          CorpusQueries.parsePositiveInt(name, Some(bad)))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }

  test("SPARK_GRAFT_LSH_FANOUT_WARN: unset 4096, 0 disables, positive longs; else throws") {
    assert(SimilarityLsh.parseFanoutWarn(None) == 4096L)
    assert(SimilarityLsh.parseFanoutWarn(Some("0")) == 0L)
    assert(SimilarityLsh.parseFanoutWarn(Some("1")) == 1L)
    assert(SimilarityLsh.parseFanoutWarn(Some("99999999999")) == 99999999999L)
    for (bad <- Seq("-1", "abc", "", " 8", "1.5", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](SimilarityLsh.parseFanoutWarn(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_LSH_FANOUT_WARN") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
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

  test("Probe parses each mode's arguments; unset SPARK_GRAFT_CPUS means every processor") {
    assert(Probe.parseArgs(Seq("query", "2", "q01_agg_pricing", "--plans", "p")) ==
      Probe.Query(2, Seq("q01_agg_pricing"), Some("p")))
    assert(Probe.parseArgs(Seq("scale")) == Probe.Scale(Seq(1, 10)))
    assert(Probe.parseArgs(Seq("dml", "200")) == Probe.Dml(Seq(200)))
    assert(Probe.parseArgs(Seq("pipeline", "4", "200", "40")) ==
      Probe.Pipeline(Some(4), 200, 40, 3))
    assert(Probe.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Probe.parseCpus(Some("3")) == 3)
  }

  test("Probe rejects an unknown mode, a non-numeric count and an unknown flag") {
    val cases = Seq(
      Seq("explain", "1") -> "'explain'",
      Seq("query", "many", "q01_agg_pricing") -> "'many'",
      Seq("query", "1", "q00_missing") -> "'q00_missing'",
      Seq("scale", "1", "ten") -> "'ten'",
      Seq("dml", "150") -> "'150'",
      Seq("pipeline", "4", "200", "x40") -> "'x40'",
      Seq("pipeline", "1", "2", "3", "4", "5") -> "pipeline 1 2 3 4 5",
      Seq("scale", "--cpus", "4") -> "--cpus",
      Seq("dml", "--plans", "p") -> "--plans",
      Seq("query", "1", "--plans") -> "--plans")
    for ((args, named) <- cases) {
      val e = intercept[IllegalArgumentException](Probe.parseArgs(args))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    for (bad <- Seq("0", "eight", "")) {
      val e = intercept[IllegalArgumentException](Probe.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
