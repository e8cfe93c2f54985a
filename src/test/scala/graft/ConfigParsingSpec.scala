package graft

import graft.ops.{CorpusQueries, ShardTableCache}
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

  test("PipelineMain counts and synthetic:N:T parse strictly; a bad value names its flag") {
    val cfg = PipelineMain.parseConfig(Map("shards" -> "8", "sample-rate" -> "4", "compress" -> "true"))
    assert((cfg.numShards, cfg.saltBlock, cfg.sampleRate, cfg.compress) == ((8, 4096, 4, true)))
    assert(PipelineMain.parseSynthetic("synthetic:30:20").contains((30, 20)))
    assert(PipelineMain.parseSynthetic("/data/turns").isEmpty)
    val cases = Seq(
      Map("shards" -> "abc") -> "--shards",
      Map("sample-rate" -> "0") -> "--sample-rate",
      Map("salt-block" -> "-1") -> "--salt-block")
    for ((opts, flag) <- cases) {
      val e = intercept[IllegalArgumentException](PipelineMain.parseConfig(opts))
      assert(e.getMessage.contains(flag) && e.getMessage.contains(s"'${opts.head._2}'"),
        e.getMessage)
    }
    for ((bad, named) <- Seq("synthetic:5" -> "synthetic:5", "synthetic:5:x" -> "'x'",
        "synthetic:0:3" -> "'0'", "synthetic:1:2:3" -> "synthetic:1:2:3")) {
      val e = intercept[IllegalArgumentException](PipelineMain.parseSynthetic(bad))
      assert(e.getMessage.contains("--input") && e.getMessage.contains(named), e.getMessage)
    }
  }

  test("Probe parses each mode's arguments; unset SPARK_GRAFT_CPUS means every processor") {
    assert(Probe.parseArgs(Seq("query", "2", "q01_agg_pricing", "--plans", "p")) ==
      Probe.Query(2, Seq("q01_agg_pricing"), Some("p")))
    assert(Probe.parseArgs(Seq("scale")) == Probe.Scale(Seq(1, 10)))
    assert(Probe.parseArgs(Seq("dml", "200")) == Probe.Dml(Seq(200)))
    assert(Probe.parseArgs(Seq("pipeline", "4", "200", "40")) ==
      Probe.Pipeline(Some(4), 200, 40, 3))
    assert(Probe.parseArgs(Seq("shard")) == Probe.Shard(1 << 27, None, 32))
    assert(Probe.parseArgs(Seq("shard", "40000", "16")) == Probe.Shard(40000, None, 16))
    assert(Probe.parseArgs(Seq("shard", "--file", "f.log", "4")) == Probe.Shard(4, Some("f.log"), 32))
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
      Seq("query", "1", "--plans") -> "--plans",
      Seq("shard", "2M") -> "'2M'",
      Seq("shard", "1", "2", "3") -> "shard 1 2 3",
      Seq("shard", "--file", "f.log") -> "shard --file f.log",
      Seq("shard", "--file", "f.log", "4", "0") -> "'0'",
      Seq("scale", "--file", "f.log") -> "--file")
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
