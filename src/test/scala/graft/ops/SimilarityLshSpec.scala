package graft.ops

import graft.SharedSparkSession
import graft.functions.ShardCache
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityLshSpec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  test("q52 LSH+rerank: precision 1.0 vs brute force, recall measured and sane") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", SimilarityLsh.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= 0.35)
      .select("vec_a", "vec_b")

    val lsh = CorpusQueries.queries("q52_embed_neardup")(spark, dir)

    val extra = lsh.exceptAll(brute).count() // would be a rerank bug
    assert(extra == 0, s"LSH emitted $extra pairs the exact join rejects (precision < 1)")

    val nBrute = brute.count()
    val nLsh = lsh.count()
    val recall = if (nBrute == 0) 1.0 else nLsh.toDouble / nBrute
    info(f"SRP-LSH 8x4-bit bands at cos>=0.35: recall $recall%.3f ($nLsh/$nBrute), " +
      "candidates are an equi-join on band keys (no cartesian)")
    // 0.35 is a deliberately loose threshold (~70 degrees); SRP recall there is
    // bounded by 1-(1-p^4)^8 with p~0.61 — assert the implementation achieves it
    assert(nBrute > 0, "fixture should contain qualifying pairs")
    assert(recall >= 0.5, f"recall $recall%.3f collapsed — banding is miswired")
  }

  test("LSH recall approaches 1 at real near-dup thresholds (cos >= 0.8)") {
    import spark.implicits._
    // planted near-duplicates: base vectors plus small perturbations
    val rnd = new scala.util.Random(7)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, v.toSeq), (i.toLong * 2 + 1, dup.toSeq))
    }
    val df = rows.toSeq.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

    val bands = SimilarityLsh.bands(df, "vec_id", "embedding", CorpusQueries.EmbedPlanes, 4)
    val cand = SimilarityLsh.candidatePairs(bands, "vec_id")
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val lsh = cand.join(a, "id_a").join(b, "id_b")
      .withColumn("cos", SimilarityLsh.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= 0.8).select("id_a", "id_b")
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", SimilarityLsh.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= 0.8).select("id_a", "id_b")

    val nBrute = brute.count()
    val nLsh = lsh.count()
    assert(nBrute >= 150, s"fixture should plant many near-dup pairs, got $nBrute")
    val recall = nLsh.toDouble / nBrute
    info(f"recall at cos>=0.8: $recall%.3f ($nLsh/$nBrute)")
    assert(recall >= 0.97, f"recall $recall%.3f below the near-dup design point")
    // and the candidate set actually prunes: far fewer candidates than all pairs
    val allPairs = df.count() * (df.count() - 1) / 2
    val nCand = cand.count()
    info(s"candidates $nCand of $allPairs pairs (${100.0 * nCand / allPairs}%)")
    assert(nCand < allPairs / 2, "banding failed to prune")
  }

  test("typed band kernel is bit-identical to the declarative bands (oracle parity)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val declarative = SimilarityLsh.bands(emb, "vec_id", "embedding", CorpusQueries.EmbedPlanes, 4)
      .select(col("vec_id").cast("long").as("__id"), col("band_idx"), col("band_val"))
    val kernel = SimilarityLsh.bandsKernel(
      emb.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])],
      CorpusQueries.EmbedPlanes, 4)
    assert(declarative.exceptAll(kernel).count() == 0 &&
      kernel.exceptAll(declarative).count() == 0, "kernel bands diverge from declarative")
  }

  test("hot-bucket cap bounds candidate fan-out on an adversarial corpus; default stays exact") {
    // adversarial: 400 all-equal embeddings land in ONE bucket per band (k^2/2 pairs
    // = 79,800 uncapped); 20 distinct vectors form small honest buckets
    val planes = SimilarityLsh.planeWeights(nPlanes = 8, dim = 4)
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, Array(1f, 2f, 3f, 4f))) ++
      (400L until 420L).map(i => (i, Array.tabulate(4)(j => (i % 13 + j).toFloat)))
    val bands = SimilarityLsh.bands(rows.toDF("id", "embedding"), "id", "embedding",
      planes, bandBits = 4)
    val uncapped = SimilarityLsh.candidatePairs(bands, "id").count()
    val capped = SimilarityLsh.candidatePairs(bands, "id", maxBucket = Some(50)).count()
    assert(uncapped >= 79800L, s"adversarial corpus should explode uncapped: $uncapped")
    // every bucket the degenerate vectors share exceeds the cap → their pairs vanish;
    // remaining candidates are bounded by (bands x cap^2/2)
    assert(capped <= 50L * 50 * 2 / 2, s"cap failed to bound candidates: $capped")
    // the honest small buckets survive the cap
    val honest = SimilarityLsh.candidatePairs(bands, "id", maxBucket = Some(50))
      .filter(col("id_a") >= 400L).count()
    assert(honest > 0, "cap must not drop small honest buckets")
    info(s"uncapped=$uncapped capped=$capped honest=$honest")
  }

  test("uncapped fan-out guard fires loudly on the adversarial corpus, stays quiet on honest ones") {
    val planes = SimilarityLsh.planeWeights(nPlanes = 8, dim = 4)
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, Array(1f, 2f, 3f, 4f))) ++
      (400L until 420L).map(i => (i, Array.tabulate(4)(j => (i % 13 + j).toFloat)))
    val bands = SimilarityLsh.bands(rows.toDF("id", "embedding"), "id", "embedding",
      planes, bandBits = 4)
    // degenerate bucket of 400 rows > threshold 100 -> the warning fires and names
    // the remedy knob (a deployment that forgot the cap cannot die silently)
    val warned = SimilarityLsh.fanoutWarning(bands, Seq("band_idx", "band_val"), 100L)
    assert(warned.isDefined, "guard must fire on a 400-row bucket at threshold 100")
    assert(warned.get.contains("SPARK_GRAFT_LSH_MAXBUCKET"), warned.get)
    // honest corpus (real embeddings, small buckets): no warning at the default
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val honest = SimilarityLsh.bands(emb, "vec_id", "embedding", CorpusQueries.EmbedPlanes, 4)
    assert(SimilarityLsh.fanoutWarning(honest, Seq("band_idx", "band_val"),
      SimilarityLsh.FanoutGuardThreshold).isEmpty,
      "guard must stay quiet on the fixture corpus at the default threshold")
    // and the oracle gate stays byte-identical: the guard only ever LOGS
    val before = SimilarityLsh.candidatePairs(bands, "id").count()
    assert(before >= 79800L)
  }

  test("ShardCache keys by content: equal-hashCode inputs cannot alias") {
    // two different corpora -> different shards; cache must hold BOTH and answer each
    ShardCache.clear()
    val fmA = new graft.core.FmIndexBuilder().build("abracadabra".toCharArray)
    val fmB = new graft.core.FmIndexBuilder().build("abracadabrX".toCharArray)
    val ba = fmA.serialize()
    val bb = fmB.serialize()
    assert(ShardCache.get(ba).count("abra".toCharArray) == 2)
    assert(ShardCache.get(bb).count("abra".toCharArray) == 1)
    assert(ShardCache.entryCount == 2, "distinct shard bytes must occupy distinct cache slots")
    // same bytes -> same entry (no growth)
    ShardCache.get(ba.clone())
    assert(ShardCache.entryCount == 2)
  }

  test("ShardCache identity memo: repeated reference is fast-pathed, in-place buffer reuse is not aliased") {
    ShardCache.clear()
    val fmA = new graft.core.FmIndexBuilder().build("abracadabra".toCharArray)
    val fmB = new graft.core.FmIndexBuilder().build("qqqqqqqqqqz".toCharArray)
    val ba = fmA.serialize()
    val bb = fmB.serialize()
    // same reference twice: served consistently (memo hit path)
    assert(ShardCache.get(ba).count("abra".toCharArray) == 2)
    assert(ShardCache.get(ba).count("abra".toCharArray) == 2)
    // hostile buffer reuse: overwrite the SAME array instance with another shard's
    // bytes (same length corpus -> plausibly same serialized length)
    if (ba.length == bb.length) {
      System.arraycopy(bb, 0, ba, 0, bb.length)
      assert(ShardCache.get(ba).count("qq".toCharArray) == fmB.count("qq".toCharArray),
        "memo served a stale index after in-place buffer mutation")
    }
  }
}
