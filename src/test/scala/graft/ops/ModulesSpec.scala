package graft.ops

import graft.{SharedSparkSession, TempDirs}
import graft.functions.FmFunctions
import graft.pipeline.Transcripts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  test("approximate aggregates: HLL distinct and approx percentile within error bounds") {
    // sketch surface for corpus-level stats where exactness is not worth the shuffle:
    // approx_count_distinct (HyperLogLog++, mergeable partials) and percentile_approx
    // (KLL-style). Not DuckDB-gated (different sketch algorithms) — gated here against
    // the exact answers with the sketches' own error contracts.
    val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    val exactD = orders.select(countDistinct(col("o_custkey"))).head.getLong(0)
    val approxD = orders.select(approx_count_distinct(col("o_custkey"), 0.02)).head.getLong(0)
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05,
      s"HLL rsd=0.02 drifted: approx=$approxD exact=$exactD")
    val exactP = orders.select(percentile(col("o_totalprice"), lit(0.5))).head.getDouble(0)
    val approxP = orders
      .select(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))).head.getDouble(0)
    assert(math.abs(approxP - exactP) / exactP < 0.02,
      s"approx p50 drifted: approx=$approxP exact=$exactP")
  }

  test("md5HexFn equals Spark's md5 over the UTF-8 bytes on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(20)
    def pick(chars: IndexedSeq[Char]): String =
      Seq.fill(rnd.nextInt(12))(chars(rnd.nextInt(chars.length))).mkString
    val ascii = (' ' to '~').toVector
    val bmp = "éßøΩжשع中文字\u20ac\ufffd\uffff".toVector
    val pairs = Vector("\ud83d\ude00", "\ud834\udd1e", "\udbff\udfff") // U+1F600, U+1D11E, U+10FFFF
    val lone = Vector('\ud800', '\udbff', '\udc00', '\udfff')
    val strs = Vector("", " ", "\ud800", "\udc00a", "a\ud83d") ++ Vector.fill(200) {
      rnd.nextInt(4) match {
        case 0 => pick(ascii)
        case 1 => pick(ascii ++ bmp)
        case 2 => pick(ascii) + pairs(rnd.nextInt(pairs.length)) + pick(bmp)
        case _ => pick(ascii) + lone(rnd.nextInt(lone.length)) + pick(ascii ++ bmp)
      }
    }
    val md5hex = CorpusQueries.md5HexFn()
    val got = strs.zipWithIndex.toDF("s", "i")
      .select(col("i"), md5(col("s").cast("binary")))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toVector
    assert(got.length == strs.length)
    strs.zip(got).foreach { case (x, h) =>
      assert(md5hex(x) == h, s"md5 mismatch on ${x.map(_.toInt.toHexString)}")
    }
  }

  test("q57 exact substring dedup equals the brute-force span oracle") {
    // differential gate for the hashed-window shape: the brute force counts every
    // length-20 window in a HashMap and merges duplicated runs per doc — if the
    // distributed fingerprint/count/join/island pipeline drops or splits a span,
    // the sets differ
    val dir = "/root/testdata/sf0.001"
    val L = 20
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    for ((_, text) <- docs; p <- 0 to text.length - L)
      counts.updateWith(text.substring(p, p + L))(c => Some(c.getOrElse(0) + 1))
    val want = docs.flatMap { case (id, text) =>
      val dupStarts = (0 to text.length - L).filter(p => counts(text.substring(p, p + L)) >= 2)
      // merge consecutive duplicated starts into maximal spans (1-based, inclusive)
      dupStarts.foldLeft(List.empty[(Long, Long, Long)]) {
        case ((s0, e0, _) :: rest, p) if p + 1 == e0 - L + 2 =>
          (s0, (p + L).toLong, (p + L) - s0 + 1) :: rest
        case (acc, p) =>
          ((p + 1).toLong, (p + L).toLong, L.toLong) :: acc
      }.map { case (s0, e0, _) => (id, s0, e0, e0 - s0 + 1) }
    }.toSet
    val got = graft.SparkEntry.queries("q57_substring_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want,
      s"span sets differ: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "fixture must contain duplicated spans for the gate to bite")
  }

  test("q90 BM25: fixed-point scores and two-level top-k equal a brute-force oracle") {
    // independent single-machine re-derivation of the whole fixed-point formula AND
    // the per-query top-10 — if the salt-pruned two-level window drops a true
    // top-10 row, or any integer factor diverges, the row sets differ
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val queries = Seq(1L -> Seq("scan", "filter", "join"), 2L -> Seq("hash", "merge"),
      3L -> Seq("spark", "stream", "window"))
    val n = docs.length.toLong
    val w = docs.map(_._2.length.toLong).sum
    val qTerms = queries.flatMap(_._2).distinct
    val df = qTerms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val want = queries.flatMap { case (qid, terms) =>
      docs.flatMap { case (id, toks) =>
        val dl = toks.length.toLong
        val scores = terms.flatMap { term =>
          val tf = toks.count(_ == term).toLong
          if (tf == 0) None else {
            val idfFp = ((n - df(term)) * 2 + 1) * 1000000L / (df(term) * 2 + 1)
            val tfFp = 22 * tf * w * 1000 / (10 * tf * w + 3 * w + 9 * dl * n)
            Some(idfFp * tfFp / 1000)
          }
        }
        if (scores.isEmpty) None else Some((id, scores.sum, scores.length.toLong))
      }.sortBy { case (id, score, _) => (-score, id) }.take(10).zipWithIndex
        .map { case ((id, score, hits), i) => (qid, (i + 1).toLong, id, score, hits) }
    }.toSet
    val got = graft.SparkEntry.queries("q90_bm25_topk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == want,
      s"BM25 top-k differs: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.size == 30, "every query must fill its top-10 on the fixture")
  }

  test("rankedIds: distributed range-partitioned ranking equals a global sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // duplicate counts force tiebreak by term; more rows than partitions
    val rows = (0 until 5000).map(i => (f"t$i%04d-${rnd.nextInt(50)}", rnd.nextInt(40).toLong))
    val df = rows.toDF("term", "n").repartition(16)
    val got = CorpusQueries.rankedIds(df, Seq(col("n").desc, col("term")), "id")
      .select("term", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.sortBy { case (t, n) => (-n, t) }.zipWithIndex
      .map { case ((t, _), i) => t -> (i + 1).toLong }.toMap
    assert(got == want, "distributed ids must equal the global (n desc, term) ranking")
    // ids are dense 1..N
    assert(got.values.toSeq.sorted == (1L to rows.length).toSeq)
    // plan-shape audit of the pre-barrier subplan (rankedIds' .rdd hides it from
    // PlanShapeSpec's catalog-wide traversal): a range exchange + in-partition sort,
    // never a Window, never a single-partition funnel
    val p = CorpusQueries.rankedInput(df, Seq(col("n").desc, col("term")))
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), s"ranking input must range-partition:\n${p.take(800)}")
    assert(!p.contains("Window"), s"ranking input must not plan a Window:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"), s"ranking input must not funnel to one partition")
  }

  test("fm_count / fm_extract Catalyst expressions match direct shard queries") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shards = DocShards.build(spark, docs, numShards = 4).toDF()
    FmFunctions.register(spark)
    shards.createOrReplaceTempView("doc_shards")

    // Column API
    val viaExpr = shards
      .select(FmFunctions.fm_count(col("shard"), lit("merge")).as("c"))
      .agg(sum("c")).first().getLong(0)
    // SQL API
    val viaSql = spark.sql("SELECT sum(fm_count(shard, 'merge')) FROM doc_shards").first().getLong(0)
    // direct
    val direct = DocShards.countPatterns(spark, shards.as[DocShard], Seq("merge"))
      .select("n_matches").first().getLong(0)
    assert(viaExpr == direct && viaSql == direct)
    assert(direct > 0)

    val firstSlice = spark.sql("SELECT fm_extract(shard, 0, 10) FROM doc_shards LIMIT 1")
      .first().getString(0)
    assert(firstSlice.length == 10)
  }

  test("fm_locate generator explodes match positions via a Generate node") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shards = DocShards.build(spark, docs, numShards = 4).toDF()
    FmFunctions.register(spark)
    shards.createOrReplaceTempView("doc_shards_g")

    val viaGen = spark.sql(
      "SELECT fm_locate(shard, 'merge') AS pos FROM doc_shards_g")
    assert(viaGen.queryExecution.executedPlan.toString.contains("Generate"),
      "fm_locate must be planned as a Generate (UDTF), not a scalar projection")

    // positions per shard equal locateAll on the deserialized shard
    val genCount = viaGen.count()
    val direct = shards.as[DocShard].collect().map { s =>
      graft.core.FmIndex.deserialize(s.shard).locateAll("merge".toCharArray).length
    }.sum
    assert(genCount == direct && direct > 0)

    // global count agrees with the scalar fm_count expression
    val viaCount = spark.sql("SELECT sum(fm_count(shard, 'merge')) FROM doc_shards_g")
      .first().getLong(0)
    assert(genCount == viaCount)
  }

  test("redundancy aggregator equals the single-string metric") {
    import spark.implicits._
    val texts = Seq("aaabbb", "abab", "cccc")
    val ds = texts.toDF("text")
    val got = ds.select(FmFunctions.redundancy(col("text"))).first().getDouble(0)
    val chars = texts.map(_.length).sum
    val runs = texts.map(t => 1 + t.zip(t.tail).count { case (a, b) => a != b }).sum
    assert(math.abs(got - chars.toDouble / runs) < 1e-12)
  }

  test("multimodal: batched stub feature extraction has real schema, batching and determinism") {
    import spark.implicits._
    val assets = spark.range(100).as[Long].map { i =>
      val payload = Array.tabulate(((i % 7) * 300 + 100).toInt)(j => ((i * 31 + j) % 251).toByte)
      Asset(i, if (i % 2 == 0) "image" else "audio", payload, s"src${i % 3}")
    }
    val feats = Multimodal.extractFeatures(spark, assets, numPartitions = 4, batchSize = 8)
    val rows = feats.collect()
    assert(rows.length == 100)
    assert(rows.forall(_.features.length == Multimodal.FeatureDim))
    assert(rows.forall(r => r.n_frames == math.ceil(r.n_bytes / 256.0).toInt))
    // deterministic across runs
    val again = Multimodal.extractFeatures(spark, assets, numPartitions = 4, batchSize = 8).collect()
    assert(rows.sortBy(_.asset_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.asset_id).map(_.features.toSeq).toSeq)
  }

  test("streaming: file sink + checkpoint restart is exactly-once across new data") {
    val turns = Transcripts.generate(spark, nConvs = 10, turnsPerConv = 12)
    val half = turns.count() / 2
    val rawDir = tempDir("stream_ckpt_raw").toString
    val outDir = tempDir("stream_ckpt_out").toString + "/sink"
    val ckpt = tempDir("stream_ckpt_meta").toString
    val all = Transcripts.renderRawLines(turns)
    all.limit(half.toInt).write.mode("overwrite").parquet(rawDir)

    def runOnce(): Unit = {
      val q = Transcripts.parseRawLines(spark,
          spark.readStream.schema("value STRING").parquet(rawDir))
        .toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    runOnce() // first half
    // new files arrive while the stream is DOWN; the checkpoint must resume past
    // the already-committed batch and process only the new files, exactly once
    all.exceptAll(all.limit(half.toInt)).write.mode("append").parquet(rawDir)
    runOnce() // picks up the second half only
    runOnce() // no new data: must append nothing

    val out = spark.read.parquet(outDir)
    val expected = Transcripts.parseRawLines(spark, spark.read.parquet(rawDir)).toDF()
    assert(out.count() == expected.count(),
      s"restart duplicated or dropped rows: ${out.count()} vs ${expected.count()}")
    assert(out.exceptAll(expected).count() == 0 && expected.exceptAll(out).count() == 0,
      "file-sink contents diverged from the batch parse after restart")
  }
}
