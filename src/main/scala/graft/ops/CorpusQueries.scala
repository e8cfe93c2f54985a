package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.jdk.CollectionConverters._

/** FM-Index, text-analysis, dedup, similarity and multimodal operators over the
  * `documents` / `embeddings` / `events` testdata tables, each with a DuckDB oracle.
  *
  * Parity rules: hashes are md5 hex (identical in both engines), ratios avoided in favor
  * of integer counts, float math done in DOUBLE with identical operation order, rankings
  * totally ordered with integer tiebreakers.
  */
object CorpusQueries {

  /** q56 packing bucket width (docs per heavy-window task). Small here so the
    * small-SF gates exercise multiple buckets per language; at scale size it so
    * corpus/B offset rows stay broadcast-sized (~10^6 docs/bucket at 10^12 rows).
    */
  private[graft] val SeqPackBucket = 128

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Small-file tables arrive as 1-2 input partitions; CPU-heavy per-row derivations
    * (hashing, shingling) need an explicit fan-out to use the cluster.
    */
  private def tWide(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** SemDeDup (q58) body, k-parameterized: ScaleProbe runs it both at the
    * oracle-pinned default k and at the paper's k ~ n/<target cluster size> to
    * evidence that the knob keeps per-cluster pair counts bounded at scale.
    */
  private[graft] def semanticDedup(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val ds = tWide(s, dir, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
    val model = IvfKmeans.fit(ds, k = k, iters = 2)
    // lazy checkpoint: the assignment feeds both sides of the within-cluster
    // self-join AND the final keep/drop join — one assign pass instead of three
    val assigned = IvfKmeans.assignAll(ds, model).toDF("vec_id", "cl")
      .localCheckpoint(false)
    val pairs = assigned.select(col("vec_id").as("vec_a"), col("cl"))
      .join(assigned.select(col("vec_id").as("vec_b"), col("cl")), "cl")
      .filter(col("vec_a") < col("vec_b"))
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a").cast("long"), col("vec_b").cast("long"), col("ea"), col("eb"))
      .as[(Long, Long, Array[Float], Array[Float])]
    val dropped = SimilarityLsh.rerankCosineKernel(pairs, 0.35)
      .toDF("vec_a", "vec_b")
      .groupBy(col("vec_b").as("vec_id")).agg(min(col("vec_a")).as("dup_of"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cl").cast("long").as("cl"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Per-lang VALUE cutoffs over a bounded (lang, score_fp) HISTOGRAM: for each
    * requested (num, den, name), the largest score whose desc-cumulative doc count
    * covers at least num/den of the lang's docs (so `score_fp >= cutoff` selects
    * >= num/den of them, ties by value). Shared by q88/q91 (thirds) and q89
    * (fifth): the cumulative window runs over aggregated histogram rows — bounded
    * by the fixed-point scale, never corpus size — which is what makes these
    * selections scale-safe. ALL cutoffs come from ONE histogram + cumulative pass
    * (max(when(covered, score)) per cutoff is the old filter-then-max, fused), so
    * a two-threshold caller no longer re-derives the histogram per threshold.
    */
  private def langValueCutoffs(scored: DataFrame,
      cuts: Seq[(Int, Int, String)]): DataFrame = {
    val hist = scored.groupBy(col("lang"), col("score_fp"))
      .agg(count(lit(1)).as("cnt"))
    val nDocs = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("score_fp").desc)))
      .join(broadcast(nDocs), Seq("lang"))
    val aggs = cuts.map { case (num, den, as) =>
      max(when(col("cum") * den >= col("n_docs") * num, col("score_fp"))).as(as)
    }
    cum.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-(doc, bigram) counts as ONE typed map — the (doc_id, …) grouping key makes
    * the aggregation row-local (every bigram of a doc lives in its row), so the
    * kernel emits pre-aggregated counts with NO explode and NO shuffle; the old
    * form shuffled every bigram INSTANCE into a hash agg and paid interpreted
    * zip_with/slice lambdas per row. Identical rows out (count(*) over instances
    * == the per-doc multiset count).
    */
  private[graft] def bigramCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, lang, text) =>
        val w = text.split(" ", -1)
        countKeys((0 until w.length - 1).iterator.map(i => w(i) + " " + w(i + 1)))
          .iterator.map { case (bg, c) => (id, lang, bg, c) }
      })
      .toDF("doc_id", "lang", "bigram", "bn")
  }

  /** q88 body over any (doc_id, lang, text) frame — q91 reuses it over its
    * filtered/deduped survivors, so the LM and the cutoffs are computed over
    * exactly the corpus being bucketed. Returns one row per input doc with
    * (doc_id, lang, n_bigrams, lm_hits, score_fp, bucket), unordered.
    */
  private[graft] def ccnetBuckets(docs: DataFrame): DataFrame = {
    // per-(doc, bigram) COUNTS, lazily checkpointed: the LM fit, the scoring agg
    // and (through `scored`) the cutoff histogram all read this compact frame —
    // the old inline form re-exploded the whole corpus once per consumer (4-5
    // passes per action). Counts fold identically: count(*) over instances ==
    // sum(bn) over per-doc distinct bigrams, and lm_hits == sum(bn * c).
    val bgc = bigramCounts(docs).localCheckpoint(false)
    val lm = bgc.groupBy(col("bigram")).agg(sum(col("bn")).as("c"))
      .orderBy(col("c").desc, col("bigram")).limit(100)
    val scored = bgc.join(broadcast(lm), Seq("bigram"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("bn")).as("n_bigrams"),
        sum(col("bn") * coalesce(col("c"), lit(0L))).as("lm_hits"))
      .withColumn("score_fp", expr("lm_hits * 1000000 div n_bigrams"))
      .localCheckpoint(false) // doc-sized; read by the cutoffs AND the final join
    // head cutoff: the largest score covering at least a third of the lang's docs
    // by desc-cumulative count; middle cutoff two thirds — one histogram pass
    val cutoffs = langValueCutoffs(scored, Seq((1, 3, "t_head"), (2, 3, "t_mid")))
    scored
      .join(broadcast(cutoffs), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("lm_hits"),
        col("score_fp"),
        when(col("score_fp") >= col("t_head"), "head")
          .when(col("score_fp") >= col("t_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Fixed 8-word chunks of every document as (doc_id, lang, chunk_idx, chunk, h)
    * with the md5 hex chunk hash computed ONCE in the kernel — shared by q86
    * (chunk dedup) and q97 (boilerplate strip). The old expression form paid an
    * interpreted transform + slice + array_join per doc and re-hashed every chunk
    * at join time. Chunking matches ceil(size/8) slices of split(text, ' ') (a
    * document always has >= 1 word — split of "" is [""]).
    */
  private def chunkRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 8
    t(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md5hex = md5HexFn()
        it.flatMap { case (id, lang, text) =>
          val w = text.split(" ", -1)
          val n = (w.length + W - 1) / W
          (0 until n).iterator.map { i =>
            val chunk = w.slice(i * W, math.min(i * W + W, w.length)).mkString(" ")
            (id, lang, i, chunk, md5hex(chunk))
          }
        }
      }
      .toDF("doc_id", "lang", "chunk_idx", "chunk", "h")
  }

  /** The five Gopher per-doc statistics in ONE typed map (no interpreted HOFs —
    * the expression form paid an array sort + five lambda walks per row):
    * (doc_id, lang, text, n_words, n_wchars, n_distinct, n_stop, top_cnt).
    * Word-length counts are code points (Spark's length() contract); n_stop is the
    * number of DISTINCT stopwords present (the array_intersect contract); top_cnt
    * is the max multiplicity of any word. Shared by q87 and gopherPass.
    */
  private[graft] def gopherCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, text) =>
        val w = text.split(" ", -1)
        val wchars = w.iterator.map(cpCount).sum
        val mult = countKeys(w.iterator)
        val top = mult.valuesIterator.max
        var nStop = 0L
        if (mult.contains("the")) nStop += 1
        if (mult.contains("a")) nStop += 1
        if (mult.contains("of")) nStop += 1
        (id, lang, text, w.length.toLong, wchars, mult.size.toLong, nStop, top)
      })
      .toDF("doc_id", "lang", "text", "n_words", "n_wchars", "n_distinct",
        "n_stop", "top_cnt")
  }

  /** The q87 Gopher rules as one composable predicate-filter over a documents
    * frame: returns the (doc_id, lang, text) survivors. Thresholds identical to
    * the q87 catalog entry (the oracle re-derives both from the same constants).
    */
  private[graft] def gopherPass(docs: DataFrame): DataFrame =
    gopherCounts(docs)
      .filter(col("n_words") >= 30 && col("n_words") <= 80 &&
        col("n_wchars") >= col("n_words") * 4 &&
        col("n_wchars") <= col("n_words") * 7 &&
        col("n_stop") >= 2 &&
        (col("n_words") - col("n_distinct")) * 2 <= col("n_words") &&
        col("top_cnt") * 10 <= col("n_words"))
      .select(col("doc_id"), col("lang"), col("text"))

  /** q89 body, target-source-parameterized: the catalog gates it at `src0`;
    * ScaleProbe runs it with the probe generator's own source values so the
    * target slice is non-empty at every scale. See the q89 scale-shape note.
    */
  private[graft] def dsirSelect(s: SparkSession, dir: String,
      targetSource: String): DataFrame = {
    // per-(doc, bucket) feature COUNTS via a row-local typed kernel (the doc_id
    // grouping key makes the aggregation per-row: no explode, no first shuffle,
    // one md5 per word instance in plain JVM code), lazily checkpointed: the raw
    // histogram, the target histogram and the scoring agg all read this compact
    // frame. Counts fold identically: count(*) over instances == sum(cnt), and
    // w_sum == sum(cnt * r_fp).
    val fc = {
      import s.implicits._
      tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("lang"), col("source"), col("text"))
        .as[(Long, String, String, String)]
        .mapPartitions { it =>
          val md5hex = md5HexFn()
          it.flatMap { case (id, lang, src, text) =>
            countKeys(text.split(" ", -1).iterator
              .map(w => java.lang.Long.parseLong(md5hex(w).substring(0, 3), 16)))
              .iterator.map { case (f, c) => (id, lang, src, f, c) }
          }
        }
        .toDF("doc_id", "lang", "source", "f", "cnt")
        .localCheckpoint(false)
    }
    // raw and target histograms in ONE aggregation pass (conditional sum) instead
    // of two passes + a join: a bucket with no target rows sums 0, exactly the old
    // left-join coalesce(ct, 0)
    val ratio = fc.groupBy(col("f"))
      .agg(sum(col("cnt")).as("cr"),
        sum(when(col("source") === targetSource, col("cnt")).otherwise(0L)).as("ct"))
      .select(col("f"), expr("(ct + 1) * 1000000 div (cr + 1)").as("r_fp"))
    val scored = fc.join(broadcast(ratio), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_feats"), sum(col("cnt") * col("r_fp")).as("w_sum"))
      .withColumn("score_fp", expr("w_sum div n_feats"))
      .localCheckpoint(false) // doc-sized; read by the cutoff AND the final join
    val tSel = langValueCutoffs(scored, Seq((1, 5, "t_sel")))
    scored.join(broadcast(tSel), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("w_sum"),
        col("score_fp"), (col("score_fp") >= col("t_sel")).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** q90 body, query-terms-parameterized (ScaleProbe passes terms from the probe
    * generator's vocabulary). See the q90 scale-shape note at the catalog entry.
    */
  private[graft] def bm25TopK(s: SparkSession, dir: String,
      queryTerms: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    val qt = queryTerms.toDF("query_id", "term")
    // per-(doc, term) frequencies via the row-local typed kernel (no explode, no
    // first shuffle), lazily checkpointed: the df table, the corpus scalars and
    // the scoring join all read this compact frame.
    val tf = tWide(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        val dl = w.length.toLong
        countKeys(w.iterator).iterator.map { case (term, c) => (id, dl, term, c) }
      })
      .toDF("doc_id", "dl", "term", "tf")
      .localCheckpoint(false)
    val dfreq = tf.join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // bounded collect: exactly one row of two longs (see the q90 scale-shape
    // note), derived from tf — countDistinct(doc_id) is unchanged by the
    // grouping and count(*) over instances == sum(tf)
    val statsRow = tf
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        coalesce(sum(col("tf")), lit(0L)).as("n_words"))
      .head()
    val (nDocs, nWords) = (statsRow.getLong(0), statsRow.getLong(1))
    val ts = tf.join(broadcast(qt), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .withColumn("idf_fp",
        expr(s"((${nDocs}L - df) * 2 + 1) * 1000000 div (df * 2 + 1)"))
      .withColumn("tf_fp", expr(s"22 * tf * ${nWords}L * 1000 div " +
        s"(10 * tf * ${nWords}L + 3 * ${nWords}L + 9 * dl * ${nDocs}L)"))
    val ds = ts.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("idf_fp * tf_fp div 1000")).as("score_fp"),
        count(lit(1)).as("n_hit"))
    val local = ds.withColumn("salt", pmod(col("doc_id"), lit(16)))
      .withColumn("lr", row_number().over(
        Window.partitionBy(col("query_id"), col("salt"))
          .orderBy(col("score_fp").desc, col("doc_id"))))
      .filter(col("lr") <= 10)
    local.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_fp").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_fp"),
        col("n_hit"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Scratch table path for queries that materialize under /tmp (q62, the q63 family, q68):
    * a per-APPLICATION subdir under a stable per-(query, SF-dir) root, with an
    * age-guarded sweep of sibling application dirs on entry. Bounded footprint (the
    * Bench ENOSPC class) without the stable-path hazard a review flagged: one
    * application recursively deleting the table another LIVE application is
    * mid-query on — a sibling is only reclaimed once untouched for an hour.
    */
  private[graft] def freshTmpTable(name: String, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
    val root = Paths.get(s"/tmp/graft_${name}_$tag")
    Files.createDirectories(root)
    val appId = org.apache.spark.sql.SparkSession.active.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9_-]", "_")
    val mine = root.resolve(appId)
    val cutoff = System.currentTimeMillis() - 3600000L
    graft.sources.ManifestTables.listNames(root).map(root.resolve)
      .filter(p => p.getFileName.toString != appId && Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach(graft.sources.ManifestTables.deleteTree)
    // re-entry within one application (Bench + Verify in one JVM) still cleans ITS
    // OWN previous copy — the per-run write path is exercised fresh every time
    graft.sources.ManifestTables.deleteTree(mine)
    mine.toString
  }

  val FmPatterns: Seq[String] = Seq("merge", "spark", "the ", "window", "zz-absent")

  /** 32 deterministic hyperplanes over the 64-dim embeddings: 8 bands x 4 sign bits. */
  val EmbedPlanes: Array[Array[Int]] = SimilarityLsh.planeWeights(nPlanes = 32, dim = 64)
  val RouteRulesEvents = Seq(
    graft.pipeline.SinkRule("errors", "error"),
    graft.pipeline.SinkRule("purchases", "purchase"),
    graft.pipeline.SinkRule("k8", "\"k\": 8")
  )

  // ---------------------------------------------------------------- helpers (Spark side)

  /** Distributed dense rank ids 1..N in `order` (which must be a TOTAL order — ids are
    * then independent of partition boundaries): range-repartition on the sort key,
    * sort within partitions, then `zipWithIndex` — the scale-safe replacement for a
    * partitionless `row_number().over(Window.orderBy(...))`. Nothing ever funnels the
    * full input through one task; the only driver-side data is zipWithIndex's one row
    * count per partition (cluster-bounded).
    *
    * zipWithIndex (one of the few justified RDD drops in this codebase) is load-
    * bearing for CORRECTNESS, not just convenience: its internal count job and the
    * downstream consumer run over the SAME RDD instance, so the range-shuffle stage
    * is computed once and reused — per-partition counts and per-partition contents
    * can never disagree. The tempting pure-DataFrame alternative (count per
    * spark_partition_id in one action, rank per partition in another) is WRONG:
    * RangePartitioner's sampling seed incorporates the RDD id, which differs between
    * two executions of the same logical plan, so the two jobs can see different range
    * boundaries — measured on a 5k-row input as overlapping id ranges and ~2% order
    * violations (ModulesSpec pins the fixed behavior).
    */
  def rankedIds(dfIn: DataFrame, order: Seq[Column], idCol: String): DataFrame = {
    val s = dfIn.sparkSession
    // AUDIT NOTE: the .rdd below is a plan barrier — downstream plans show only
    // `Scan ExistingRDD`, so PlanShapeSpec's catalog-wide audit cannot see the
    // ranking subplan. rankedInput is therefore exposed separately and its plan
    // shape (range exchange + in-partition sort, no Window, no extra exchange) is
    // asserted directly in ModulesSpec.
    val sorted = rankedInput(dfIn, order)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType,
          nullable = false))
    val withIds = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    s.createDataFrame(withIds, schema)
  }

  /** The pre-barrier ranking input (range-partitioned + in-partition sorted); public
    * to the test layer so its plan shape stays auditable past rankedIds' RDD barrier.
    */
  private[graft] def rankedInput(dfIn: DataFrame, order: Seq[Column]): DataFrame = {
    val p = math.max(1, dfIn.sparkSession.sparkContext.defaultParallelism)
    dfIn.repartitionByRange(p, order: _*).sortWithinPartitions(order: _*)
  }

  private def md5s(c: Column): Column = md5(c.cast("binary"))

  /** Per-partition MD5 hex hasher for typed kernels (MessageDigest is neither
    * serializable nor thread-safe — construct INSIDE mapPartitions). Byte-for-byte
    * the hex md5() expression both engines compute.
    */
  private[ops] def md5HexFn(): String => String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (x: String) => {
      md.reset()
      val d = md.digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < 16) {
        sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(d(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }
  }

  /** Multiplicity of every key in `keys` — the row-local counting kernel of the
    * typed per-document aggregations (terms, bigrams, md5 feature buckets).
    */
  private def countKeys[K](keys: Iterator[K]): scala.collection.mutable.HashMap[K, Long] = {
    val counts = scala.collection.mutable.HashMap.empty[K, Long]
    keys.foreach(k => counts.update(k, counts.getOrElse(k, 0L) + 1L))
    counts
  }

  /** The distinct word 3-gram shingles of `text` (words of split(text, ' ')) in
    * first-seen order — the `duckShingles` list without its duplicates.
    */
  private def shingleSet(text: String): java.util.LinkedHashSet[String] = {
    val w = text.split(" ", -1)
    val set = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < w.length) { set.add(w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1 }
    set
  }

  /** Code-point count of `s` — Spark's length()/substr() contract (UTF8String
    * counts code points, Java String.length counts UTF-16 units).
    */
  private def cpCount(s: String): Long = s.codePointCount(0, s.length).toLong

  /** Dedup clusters (node, cluster_id) over exact-dup + LSH near-dup edges, shared by
    * q44 (cluster listing) and q44b (dedup apply). Edge generation is hash-grouping
    * (exact) plus the q41 band equi-join (near); min-label propagation with pointer
    * jumping assigns canonical ids. No all-pairs step anywhere.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "documents").select(col("doc_id"), md5s(col("text")).as("fp"))
    val keep = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("keep"))
    val exact = fp.join(keep, "fp").filter(col("doc_id") > col("keep"))
      .select(col("doc_id").as("doc_a"), col("keep").as("doc_b"))
    ConnectedComponents.run(minhashLshPairs(s, dir).union(exact))
  }

  /** 64-bit SimHash per document (token-hash bit majorities), shared by q42/q37.
    * h = first 8 md5 bytes big-endian — matches the oracle's hex-digit HUGEINT math.
    * 64 bits is the production width (Manku et al., WWW'07): banding it into 4
    * 16-bit quarters gives pigeonhole-exact recall at hamming <= 3 with 2^16 values
    * per band, so bucket sizes stay ~n/65536 instead of the n/256 a 16-bit signature
    * forces — the difference between linear and quadratic candidate growth at corpus
    * scale.
    */
  private def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tWide(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, text) =>
          val w = text.split(" ", -1)
          val ones = new Array[Int](64)
          var i = 0
          while (i < w.length) {
            md.reset()
            val d = md.digest(w(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var b = 0
            while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
            var k = 0
            while (k < 64) { ones(k) += ((h >>> k) & 1L).toInt; k += 1 }
            i += 1
          }
          var sim = 0L
          var k = 0
          while (k < 64) { if (2 * ones(k) >= w.length) sim |= 1L << k; k += 1 }
          (docId, sim)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** The four 16-bit quarters of a 64-bit simhash — the band keys of the q37 join.
    * shiftright is arithmetic, so every quarter (the top one included) is masked.
    */
  private[ops] def simhashBands(sim: Column): Column = array(
    sim.bitwiseAND(lit(0xffffL)),
    shiftright(sim, 16).bitwiseAND(lit(0xffffL)),
    shiftright(sim, 32).bitwiseAND(lit(0xffffL)),
    shiftright(sim, 48).bitwiseAND(lit(0xffffL)))

  /** Distinct (doc_a < doc_b, hamming) pairs of the 64-bit signature column `sigCol`
    * within hamming distance 3, ordered: candidates from an equi-join on the four
    * `simhashBands` quarters (pigeonhole: three differing bits leave one quarter
    * intact, so recall is exact), then an exact bit_count(xor) filter. Shared by
    * q37 (simhash) and q95 (dhash).
    */
  private def hammingPairs(sigs: DataFrame, sigCol: String): DataFrame = {
    val bands = sigs.select(col("doc_id"), col(sigCol),
      posexplode(simhashBands(col(sigCol))).as(Seq("band_idx", "band_val")))
    val a = bands.select(col("doc_id").as("doc_a"), col(sigCol).as("sa"),
      col("band_idx"), col("band_val"))
    val b = bands.select(col("doc_id").as("doc_b"), col(sigCol).as("sb"),
      col("band_idx").as("bi2"), col("band_val").as("bv2"))
    a.join(b, col("band_idx") === col("bi2") && col("band_val") === col("bv2") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def words(c: Column): Column = split(c, " ")

  /** Merge rounds for the q59 BPE-training gate — the oracle SQL is generated with
    * the same constant, so the two sides can never disagree on depth.
    */
  private[graft] val BpeMergesK = 16

  /** DuckDB oracle for q59: re-derives the ENTIRE k-round BPE training loop in SQL.
    * Per round: lead() builds adjacent pairs, the argmax pair wins (count desc, then
    * (l, r) asc — the trainer's tiebreak), greedy left-to-right application keeps the
    * odd-ranked positions within each block of CONSECUTIVE match positions (only a
    * same-symbol run can produce one; a merge consumes the next position, so every
    * other match in the run survives), consumed positions drop, positions renumber.
    * The fold in BpeTrainer.applyMerge implements the identical greedy contract.
    */
  private def bpeOracleSql(k: Int): String = {
    val union = (1 to k).map(i => s"SELECT * FROM mr$i").mkString(" UNION ALL ")
    s"""WITH ${bpeChainSql(k)}
       |$union ORDER BY merge_rank""".stripMargin
  }

  /** The shared k-round CTE chain (wf → st0 → … → st$k with per-round mr$i rows)
    * used by both BPE oracles — see bpeOracleSql for the per-round mechanics.
    */
  private def bpeChainSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      val p = s"st${i - 1}"
      s"""nx$i AS MATERIALIZED (SELECT w, f, pos, sym,
         |  lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym FROM $p),
         |top$i AS MATERIALIZED (SELECT sym AS l, nsym AS r, sum(f) AS n FROM nx$i
         |  WHERE nsym IS NOT NULL GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         |mk$i AS MATERIALIZED (SELECT x.w, x.f, x.pos, x.sym, x.nsym,
         |    CASE WHEN x.sym = t.l AND x.nsym = t.r THEN 1 ELSE 0 END AS m
         |  FROM nx$i x CROSS JOIN top$i t),
         |bl$i AS MATERIALIZED (SELECT *, CASE WHEN m = 1
         |    THEN pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) END AS blk
         |  FROM mk$i),
         |gm$i AS MATERIALIZED (SELECT *, CASE WHEN m = 1 AND
         |    row_number() OVER (PARTITION BY w, blk ORDER BY pos) % 2 = 1
         |    THEN 1 ELSE 0 END AS mg FROM bl$i),
         |st$i AS MATERIALIZED (SELECT w, f, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
         |    CASE WHEN mg = 1 THEN sym || nsym ELSE sym END AS sym
         |  FROM (SELECT *, lag(mg, 1, 0) OVER (PARTITION BY w ORDER BY pos) AS consumed
         |        FROM gm$i) WHERE consumed = 0),
         |mr$i AS MATERIALIZED (SELECT $i AS merge_rank, l AS left_sym, r AS right_sym,
         |    CAST(n AS BIGINT) AS n_pair,
         |    (SELECT count(DISTINCT sym) FROM st$i) AS vocab_after FROM top$i)""".stripMargin
    }.mkString(",\n")
    s"""wf AS MATERIALIZED (SELECT w, count(*) AS f FROM
       |    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |st0 AS MATERIALIZED (SELECT w, f, i AS pos, w[i:i] AS sym
       |  FROM (SELECT w, f, unnest(range(1, length(w) + 1)) AS i FROM wf)),
       |$rounds""".stripMargin
  }

  /** DuckDB oracle for q59b: re-derives the trained tokenizer (the full chain), takes
    * each word's FINAL symbol count from st$k, and tokenizes the corpus by joining
    * every word occurrence back to its token count — so the Spark side's encode
    * replay (merge list applied per word) must reproduce training's final state
    * exactly, word by word, weighted by real corpus frequency.
    */
  private def bpeApplyOracleSql(k: Int): String =
    s"""WITH ${bpeChainSql(k)},
       |tok AS MATERIALIZED (SELECT w, count(*) AS n_tok FROM st$k GROUP BY w),
       |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT lang, CAST(sum(t.n_tok) AS BIGINT) AS n_tokens, count(*) AS n_words
       |FROM dw JOIN tok t USING (w) GROUP BY lang ORDER BY lang""".stripMargin

  /** 8 deterministic salts for the MinHash family (fixed 60-bit constants). */
  val MinhashSalts: Array[Long] = Array(
    0x243f6a8885a308dL, 0x13198a2e0370734L, 0xa4093822299f31dL, 0x082efa98ec4e6c8L,
    0x452821e638d0137L, 0xbe5466cf34e90c6L, 0xc0ac29b7c97c50dL, 0x3f84d5b5b547091L)

  // ---------------------------------------------------------------- helpers (oracle side)

  /** DuckDB: word 3-gram shingles of string_split(text, ' '). */
  private val duckShingles =
    "list_transform(range(1, greatest(len(string_split(text,' '))-1, 1)), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])"

  /** DuckDB: parse the 60-bit md5 hex prefix of a lambda var into a BIGINT. md5(x) is
    * inlined per nibble because DuckDB lambdas cannot contain subqueries — the oracle
    * pays 15 digests per shingle; the Spark side pays one.
    */
  private val duckHash60: String = {
    val terms = (1 to 15).map { k =>
      val pow = java.math.BigInteger.valueOf(16L).pow(15 - k)
      s"(strpos('0123456789abcdef', substr(md5(x), $k, 1)) - 1) * $pow"
    }
    s"(${terms.mkString(" + ")})"
  }

  private def duckMinhash(j: Int): String =
    s"list_min(list_transform(hs, h -> xor(h, ${MinhashSalts(j)})))"

  /** DuckDB CTE chain reproducing the Spark MinHash-LSH banding (shared q41/q44). */
  private lazy val duckLshCtes: String = {
    val mh = (0 until 8).map(j => s"${duckMinhash(j)} AS mh$j").mkString(",\n    ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(CAST(mh${2 * b} AS VARCHAR) || ':' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR)) AS band FROM sig")
      .mkString("\n  UNION ALL ")
    s"""hashed AS (SELECT doc_id,
       |    list_transform($duckShingles, x -> $duckHash60) AS hs
       |  FROM documents),
       |sig AS (SELECT doc_id,
       |    $mh
       |  FROM hashed),
       |bands AS ($bands)""".stripMargin
  }

  private def duckOverlapCount(patternSql: String): String =
    s"len(list_filter(range(1, length(text) + 2 - length($patternSql)), " +
      s"i -> substr(text, i, length($patternSql)) = $patternSql))"

  /** First 16 md5 hex digits as an UNSIGNED 64-bit value in HUGEINT math (big-endian,
    * same bytes the Spark kernel packs into its Long). Each term is cast to HUGEINT
    * before the multiply — the full value reaches 2^64-1, past signed BIGINT.
    */
  private val duckHex16 = "(" + (0 until 16).map { i =>
    s"CAST(strpos('0123456789abcdef', substr(md5(t),${i + 1},1))-1 AS HUGEINT)*${BigInt(16).pow(15 - i)}"
  }.mkString(" + ") + ")"

  /** Unsigned-HUGEINT -> signed-BIGINT two's-complement wrap (the Spark Long view). */
  private def duckWrapSigned(h: String): String =
    s"CAST(CASE WHEN ($h) >= ${BigInt(2).pow(63)} THEN ($h) - ${BigInt(2).pow(64)} ELSE ($h) END AS BIGINT)"

  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Events -> transcripts derivation shared by the pipeline queries (must be replicated
    * exactly by the SQL CTE below).
    */
  def eventTranscripts(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("conv_id", concat(lit("conv-"), lpad(col("user_id").cast("string"), 6, "0")))
      .withColumn("turn_idx", row_number().over(w) - 1)
      .withColumn("role",
        when(col("event_type") === "error", "system")
          .when(col("event_type").isin("signup", "purchase"), "user")
          .when(col("event_type") === "click", "assistant")
          .otherwise("tool"))
      .withColumn("tool",
        when(col("event_type") === "error", "bash")
          .when(col("event_type") === "view", "browser")
          .otherwise(""))
      .withColumn("text",
        concat(col("event_type"), lit(" "), col("props"), lit(" v="),
          floor(col("value") / 100).cast("long").cast("string")))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private val duckTranscripts =
    """transcripts AS (
      |  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |    CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)) - 1 AS INT) AS turn_idx,
      |    CASE WHEN event_type = 'error' THEN 'system'
      |         WHEN event_type IN ('signup','purchase') THEN 'user'
      |         WHEN event_type = 'click' THEN 'assistant' ELSE 'tool' END AS role,
      |    event_type || ' ' || props || ' v=' ||
      |      CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR) AS text,
      |    CASE WHEN event_type = 'error' THEN 'bash'
      |         WHEN event_type = 'view' THEN 'browser' ELSE '' END AS tool,
      |    ts
      |  FROM events)""".stripMargin

  /** Catalog-wide LSH hot-bucket cap: `SPARK_GRAFT_LSH_MAXBUCKET=<k>` flips every
    * band join (q41/q44/q52) to the capped web-scale shape without touching query
    * code — the ScaleProbe 100x run is why: non-clustered embeddings degrade 4-bit
    * hyperplane bands toward n^2/32 candidates, and the cap bounds any bucket's
    * fan-out at k^2/2. Unset (the driver's CORRECTNESS runs) = None = oracle-exact.
    */
  private[graft] def lshMaxBucket: Option[Int] =
    parsePositiveInt("SPARK_GRAFT_LSH_MAXBUCKET", sys.env.get("SPARK_GRAFT_LSH_MAXBUCKET"))

  /** A numeric env knob `name`: unset = None, a positive int = Some(it); anything
    * else throws naming the variable — a 0 cap would silently empty the LSH joins
    * and a 0 k would fail deep inside the k-means fit.
    */
  private[graft] def parsePositiveInt(name: String, value: Option[String]): Option[Int] =
    value.map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }

  /** MinHash-LSH near-dup candidate pairs (doc_a < doc_b), shared by q41 and the
    * dedup-clustering query q44. Signatures run in a typed mapPartitions kernel
    * (interpreted higher-order lambdas cost ~10x here); the band join + dedup stay
    * declarative Catalyst — candidates are an EQUI-JOIN on (band_idx, band_val),
    * never all-pairs.
    *
    * `maxBucket` is the web-scale hot-bucket guard (see SimilarityLsh.candidatePairs):
    * a band value shared by k docs (boilerplate pages, empty-ish docs) emits k^2/2
    * candidate rows in one shuffle partition; buckets above the cap are dropped before
    * the self-join via a partial+final count. Default None = oracle-exact.
    */
  def minhashLshPairs(s: SparkSession, dir: String,
      maxBucket: Option[Int] = lshMaxBucket): DataFrame = {
    import s.implicits._
    val bands = tWide(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md5hex = md5HexFn()
        it.flatMap { case (docId, text) =>
          val w = text.split(" ", -1)
          val mins = Array.fill(8)(Long.MaxValue)
          var i = 0
          while (i + 2 < w.length) {
            val h = java.lang.Long.parseLong(
              md5hex(w(i) + " " + w(i + 1) + " " + w(i + 2)).substring(0, 15), 16)
            var j = 0
            while (j < 8) {
              val hj = h ^ MinhashSalts(j)
              if (hj < mins(j)) mins(j) = hj
              j += 1
            }
            i += 1
          }
          if (i == 0) Iterator.empty // fewer than 3 words: no shingles, null minhashes
          else (0 until 4).iterator.map(b =>
            (docId, b, md5hex(s"${mins(2 * b)}:${mins(2 * b + 1)}")))
        }
      }
      .toDF("doc_id", "band_idx", "band_val")
    // NOT checkpointed although both self-join sides recompute the kernel:
    // measured r06 — a localCheckpoint here made q41/q44/q44b 0.2-0.5 s SLOWER
    // because the plan barrier hides the band frame's small size estimate and the
    // candidate self-join loses its broadcast plan for full shuffle+sort; the
    // duplicated kernel is the cheaper side of that trade at every tested SF.
    // The guard key is the corpus dir: q41/q44/q44b share these bands, so one
    // fan-out probe covers all three.
    SimilarityLsh.candidatePairs(bands, "doc_id", maxBucket = maxBucket,
      guardKey = Some(s"minhash:$dir"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
  }

  // ---------------------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- FM-Index: global overlapping-count per pattern via partition-local shards ---
    "q20_fm_count" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16)
      DocShards.countPatterns(s, shards, FmPatterns).orderBy(col("pattern"))
    }),

    // --- FM-Index locate: per-document match positions ---
    "q21_fm_locate" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16)
      DocShards.locatePatterns(s, shards, Seq("merge", "window"))
        .orderBy(col("pattern"), col("doc_id"), col("pos"))
    }),

    // --- FM-Index extract: slice [10, 30) of each document, reconstructed from the shard ---
    "q22_fm_extract" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16)
      DocShards.extractSlices(s, shards, from = 10, len = 20).orderBy(col("doc_id"))
    }),

    // --- FM-Index boundary extraction: full documents containing a pattern, text rebuilt
    //     from the compressed shard (per-document text equality at the oracle gate) ---
    "q23_fm_reconstruct" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16)
      DocShards.docsOfMatches(s, shards, "window").orderBy(col("doc_id"))
    }),

    // --- FM-Index via Catalyst expression: fm_count over the shard table. One scan:
    //     the pattern list is exploded against each shard row (not one scan per pattern) ---
    "q24_fm_count_expr" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16).toDF()
      val pats = Seq("batch", "value")
      shards
        .select(col("shard"), explode(array(pats.map(lit): _*)).as("pattern"))
        .select(col("pattern"),
          graft.functions.FmFunctions.fm_count(col("shard"), col("pattern")).cast("long").as("c"))
        .groupBy(col("pattern")).agg(sum(col("c")).as("n_matches"))
        .orderBy(col("pattern"))
    }),

    // --- FM-Index via Catalyst GENERATOR (UDTF surface): fm_locate explodes match
    //     positions per (shard, pattern); position -> document mapping is declarative
    //     (count of offsets <= pos), so the whole query after the shard scan is a plan
    //     of Generate + HOF expressions — no mapPartitions ---
    "q25_fm_locate_expr" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16).toDF()
      val pats = Seq("merge", "window")
      val located = shards
        .select(col("doc_ids"), col("offsets"),
          explode(array(pats.map(lit): _*)).as("pattern"), col("shard"))
        .select(col("doc_ids"), col("offsets"), col("pattern"),
          graft.functions.FmFunctions.fm_locate(col("shard"), col("pattern")).as("pos"))
      located
        .withColumn("d", size(filter(col("offsets"), o => o <= col("pos"))))
        .select(element_at(col("doc_ids"), col("d")).as("doc_id"), col("pattern"),
          (col("pos") - element_at(col("offsets"), col("d"))).cast("long").as("pos"))
        .orderBy(col("pattern"), col("doc_id"), col("pos"))
    }),

    // --- FM one-sided boundary extraction (the reference's key=value surface):
    //     prefix/suffix of each matching document around its FIRST match, via
    //     extractUntilBoundaryLeft / extractUntilBoundaryRight on the shard ---
    "q27_fm_boundary_parts" -> ((s, dir) => {
      val shards = ShardTableCache.docShards(s, dir, numShards = 16)
      DocShards.boundaryParts(s, shards, "window").orderBy(col("doc_id"))
    }),

    // --- pure-SQL FM surface + optimizer-rule pruning: the session-extension path.
    //     fm_count runs inside spark.sql; the FmFingerprintPruning rule (injectable via
    //     spark.sql.extensions=graft.functions.GraftExtensions) rewrites each
    //     fm_count(shard, p) > 0 filter to short-circuit on the shard's 1024-bit
    //     alphabet fingerprint BEFORE deserializing the index — the plan-level analog
    //     of the reference's unknown-symbol short-circuit. The rule targets the
    //     canonical routing shape, filter-directly-over-the-shard-scan, so the query is
    //     one filtered scan per pattern over the PERSISTED in-memory shard table (an
    //     exploded pattern join would bury the predicate in a join condition and let
    //     column pruning strip alpha_fp first). Patterns not containing the document
    //     separator cannot span documents, so the sum equals the per-document oracle. ---
    //     Round 4: the scan itself prunes too — the shard table is PUBLISHED as a
    //     manifest DSv2 table partitioned by (shard_id, alpha_hex) and each pattern
    //     branch reads ShardIndexTable.readPruned, which drops whole shard FILES
    //     whose fingerprint rules the pattern out before any footer is opened. The
    //     rule remains as the row-level guard on whatever survives; the source-level
    //     prune holds under every plan shape (the rule's documented fragility).
    "q26_fm_prune_sql" -> ((s, dir) => {
      graft.functions.FmFunctions.register(s)
      graft.functions.GraftExtensions.installRules(s)
      // stable per-(corpus, compression, layout-version) path, NOT per-application:
      // publish() is idempotent (claim-once snapshot; shard builds are deterministic
      // for a corpus), so repeated sessions reuse one copy instead of accumulating a
      // shard table per run. The key hashes the ABSOLUTE corpus path (two dirs with
      // one basename must not collide) and carries ShardIndexTable.LayoutVersion so
      // a format change can never silently serve a stale table.
      val dirHash = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(new java.io.File(dir).getAbsolutePath
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d.take(6).map(b => f"$b%02x").mkString
      }
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      // the suffix keeps the names tables were first published under, so they are reused
      val mode = if (ShardTableCache.compress) "CompressAll" else "NoCompression"
      val tbl = s"/tmp/graft_q26_v${graft.sources.ShardIndexTable.LayoutVersion}_" +
        s"${tag}_${dirHash}_$mode"
      graft.sources.ShardIndexTable.publish(
        ShardTableCache.docShards(s, dir, numShards = 16).toDF(), tbl)
      val branches = Seq("merge", "the ", "zz-absent").zipWithIndex.map { case (p, i) =>
        val view = s"doc_shards_q26_$i"
        graft.sources.ShardIndexTable.readPruned(s, tbl, p).createOrReplaceTempView(view)
        s"""SELECT '$p' AS pattern, fm_count(shard, '$p') AS c
           |FROM $view WHERE fm_count(shard, '$p') > 0""".stripMargin
      }
      s.sql(
        s"""SELECT pattern, CAST(sum(c) AS BIGINT) AS n_matches
           |FROM (${branches.mkString("\nUNION ALL\n")})
           |GROUP BY pattern ORDER BY pattern""".stripMargin)
    }),

    //     q26b: the SAME answer with ZERO graft API in the query — the shard table
    //     resolves BY NAME through ManifestCatalog, fm_count resolves as a CATALOG
    //     V2 ScalarFunction, and the WHERE clause's `fm_count(shard, p) > 0`
    //     translates to a UserDefinedScalarFunc V2 predicate that the scan builder
    //     recognizes (SupportsPushDownV2Filters) and turns into fingerprint FILE
    //     pruning. Pure SQL in, file skipping out — the predicate itself stays
    //     residual so the pruning can never change answers.
    "q26b_fm_catalog_pushdown" -> ((s, dir) => {
      graft.functions.FmFunctions.register(s)
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q26b", dir)
      graft.sources.ShardIndexTable.publish(
        ShardTableCache.docShards(s, dir, numShards = 16).toDF(), s"$wh/fm/shards")
      val cat = s"graft_q26b_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val branches = Seq("merge", "the ", "zz-absent").map { p =>
        s"""SELECT '$p' AS pattern, $cat.fm_count(shard, '$p') AS c
           |FROM $cat.fm.shards WHERE $cat.fm_count(shard, '$p') > 0""".stripMargin
      }
      s.sql(
        s"""SELECT pattern, CAST(sum(c) AS BIGINT) AS n_matches
           |FROM (${branches.mkString("\nUNION ALL\n")})
           |GROUP BY pattern ORDER BY pattern""".stripMargin)
    }),

    // --- corpus redundancy metric (typed Aggregator) with expression cross-check ---
    "q34_redundancy" -> ((s, dir) => {
      val runs = (size(filter(sequence(lit(1), size(col("ch")) - 1),
        i => element_at(col("ch"), i) =!= element_at(col("ch"), i + 1))) + 1).cast("long")
      tWide(s, dir, "documents")
        .withColumn("ch", split(col("text"), ""))
        .select(length(col("text")).cast("long").as("n_chars"), runs.as("n_runs"),
          col("text"))
        .agg(sum(col("n_chars")).as("total_chars"), sum(col("n_runs")).as("total_runs"),
          graft.functions.FmFunctions.redundancy(col("text")).as("redundancy"))
    }),

    // --- text analysis: token counts ---
    "q30_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- text analysis: quality scoring on integer features ---
    "q31_quality" -> ((s, dir) => {
      val w = words(col("text"))
      val nTok = size(w)
      val nStop = size(filter(w, x => x.isin("the", "a")))
      t(s, dir, "documents")
        .select(col("doc_id"), nTok.cast("long").as("n_tokens"), nStop.cast("long").as("n_stopwords"))
        .withColumn("quality_class",
          when(col("n_tokens") < 20, "short")
            .when(col("n_stopwords") * 10 >= col("n_tokens"), "stopword_heavy")
            .otherwise("ok"))
        .orderBy(col("doc_id"))
    }),

    // --- text analysis: language-id heuristic (deterministic stopword rule) ---
    "q32_lang_id" -> ((s, dir) => {
      val w = words(col("text"))
      val en = size(filter(w, x => x.isin("the", "a", "of")))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), en.as("en_markers"), size(w).as("n_tokens"))
        .withColumn("lang_pred",
          when(col("en_markers") * 20 >= col("n_tokens"), "en_like").otherwise("unknown"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // --- document fingerprinting: content hash + first minhash ---
    "q33_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // typed kernel: one md5 per shingle position in plain JVM code (the
      // expression form paid an interpreted transform + per-element md5); min over
      // hex strings is byte order, exactly array_min's binary string comparison
      tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val md5hex = md5HexFn()
          it.map { case (id, text) =>
            val w = text.split(" ", -1)
            var minh: String = null
            var n = 0L
            var i = 0
            while (i + 2 < w.length) {
              val h = md5hex(w(i) + " " + w(i + 1) + " " + w(i + 2))
              if (minh == null || h.compareTo(minh) < 0) minh = h
              n += 1
              i += 1
            }
            (id, md5hex(text), Option(minh), n)
          }
        }
        .toDF("doc_id", "fp", "minhash1", "n_shingles")
        .orderBy(col("doc_id"))
    }),

    // --- exact dedup: hash-groupBy keeping the smallest id ---
    "q40_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5s(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("fp"))
    }),

    // --- near-dup candidates: MinHash (8 hashes) + LSH banding (4 bands x 2 rows) ---
    "q41_minhash_lsh" -> ((s, dir) =>
      minhashLshPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // --- exact n-gram Jaccard near-dup scores via an INVERTED SHINGLE INDEX ---
    // Not all-pairs: explode distinct shingles, equi-join on the shingle (pairs sharing
    // nothing never meet), count shared shingles per pair. Exact — same result as the
    // cartesian intersect — with shuffle keyed on shingles, so it scales with the number
    // of SHARED shingles, not with n^2. (At web scale add a document-frequency cap on
    // ultra-common shingles; unnecessary at these SFs and it would change the oracle.)
    "q43_jaccard_ngram" -> ((s, dir) => {
      import s.implicits._
      // typed shingle kernel: interpreted HOF shingling is ~10x slower AND Catalyst's
      // InferFiltersFromGenerate pushes the inlined shingle expression below the
      // repartition onto the few scan partitions; a typed node blocks both
      val ex = tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (docId, text) =>
            val set = shingleSet(text)
            val n = set.size
            set.asScala.iterator.map(sh => (docId, n, sh))
          }
        }.toDF("doc_id", "n_sh", "shingle")
      val a = ex.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
      val b = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
        col("shingle").as("sh_b"))
      a.join(b, col("shingle") === col("sh_b") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter"), min(col("na")).as("na"), min(col("nb")).as("nb"))
        .filter(col("inter") >= 2)
        .withColumn("uni", (col("na") + col("nb")).cast("long") - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // --- dedup CLUSTERING: connected components over exact-dup + LSH near-dup edges ---
    // The full dedup pipeline shape: edge generation is hash-grouping (exact) plus the
    // q41 band equi-join (near), then min-label propagation assigns every clustered doc
    // its canonical id ("keep doc_id = cluster_id"). No all-pairs step anywhere; the
    // iterative step is one shuffle per round and dedup components have tiny diameter.
    "q44_dup_clusters" -> ((s, dir) =>
      dupClusters(s, dir)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("cluster_id"), col("doc_id"))),

    // --- dedup APPLY: the corpus AFTER canonical-doc dedup. Every clustered doc that
    //     is not its cluster's head (min id) is dropped via a LEFT ANTI join — the
    //     end-to-end shape of a production dedup pass: edges -> components -> one
    //     anti-join over the full corpus, no collect, no all-pairs anywhere. ---
    "q44b_dedup_apply" -> ((s, dir) => {
      val drops = dupClusters(s, dir)
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      t(s, dir, "documents")
        .join(drops, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- TF-IDF-style distinctive terms: top-3 per doc by (tf desc, df asc) ---
    // Integer ranking (tf, df) keeps both engines bit-exact. SINGLE corpus pass:
    // explode once, tf = partial+final hash agg; df = a partial+final count over the
    // tf rows (tf has exactly one row per doc containing the term, so count(*) per
    // term IS the document frequency) joined back on the term key. The groupBy's
    // map-side partial agg absorbs stop-word-grade hot terms — the round-2
    // term-partitioned window put every row of a hot term into ONE window partition.
    "q45_top_terms" -> ((s, dir) => {
      import s.implicits._
      // row-local typed kernel: per-(doc, term) counts need no explode and no
      // shuffle (the doc_id grouping key lives in the row). NOT checkpointed
      // (r06 measured the barrier slower than the now-cheap duplicate kernel
      // pass — the q28 trade): recomputation is one columnar scan, while a
      // checkpoint materializes a corpus-proportional cached frame
      val tf = tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          countKeys(text.split(" ", -1).iterator)
            .iterator.map { case (term, c) => (id, term, c) }
        })
        .toDF("doc_id", "term", "tf")
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(df, "term")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // --- n-gram language-model counts: top-100 bigrams (count desc, bigram asc) ---
    "q46_bigram_lm" -> ((s, dir) => {
      val w = words(col("text"))
      tWide(s, dir, "documents")
        .select(explode(zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(100)
    }),

    // --- BPE tokenizer training: the vocabulary-learning step of an LLM pipeline.
    //     The corpus collapses to a (word, freq) table in ONE agg (vocab-sized, not
    //     corpus-sized); each merge round is a partial+final pair count over that
    //     table plus a 1-row argmax collect. The DuckDB oracle re-derives the ENTIRE
    //     16-round training loop (pair counts, argmax, greedy left-to-right merge
    //     application, per-round vocab size) — rounds 8+ merge LEARNED symbols
    //     ('p'+'ar', 's'+'can', 'colu'+'m'), so the gate proves composition, not
    //     just char-bigram counting. See bpeOracleSql. ---
    "q59_bpe_train" -> ((s, dir) => {
      val wf = tWide(s, dir, "documents")
        .select(explode(words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val (merges, finalWords) = BpeTrainer.train(wf, BpeMergesK)
      BpeTrainer.free(finalWords)
      s.createDataFrame(merges).orderBy(col("merge_rank"))
    }),

    // --- BPE tokenization APPLY: train the vocab, then tokenize the whole corpus by
    //     REPLAYING the learned merge list per word (BpeTrainer.encode — the path a
    //     downstream training run uses), never the trainer's internal state. Token
    //     counts are computed once per DISTINCT word (vocab-sized) and joined back to
    //     word occurrences on an equi-key; at 100 TB the tok side is ~10^7-8 rows
    //     (shuffle hash join on w), corpus side streams. The oracle re-derives the
    //     trained tokenizer AND the per-word token counts from the training loop's
    //     final state — encode replay must equal training's final symbolization
    //     exactly, word by word, weighted by real corpus frequency. ---
    "q59b_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      val docs = tWide(s, dir, "documents")
      val wf = docs
        .select(explode(words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val (merges, finalWords) = BpeTrainer.train(wf, BpeMergesK)
      BpeTrainer.free(finalWords)
      // corpus apply in ONE kernel pass: per word instance, the token count comes
      // from the linear replay kernel (spec-pinned equal to the expression replay)
      // memoized per distinct word within the task — replacing the old
      // explode -> per-distinct-word UDF -> equi-join -> agg chain (a full
      // instance shuffle) with a per-row map + a lang-sized aggregation. The
      // trained merge list is rank-ordered and broadcast.
      val bcMerges = s.sparkContext.broadcast(merges)
      docs.select(col("lang"), col("text")).as[(String, String)]
        .mapPartitions { it =>
          val cache = scala.collection.mutable.HashMap.empty[String, Long]
          it.map { case (lang, text) =>
            var nTok = 0L
            var nWords = 0L
            text.split(" ", -1).foreach { w =>
              if (w.nonEmpty) {
                nWords += 1
                nTok += cache.getOrElseUpdate(w,
                  BpeTrainer.encodeCountKernel(w, bcMerges.value).toLong)
              }
            }
            (lang, nTok, nWords)
          }
        }
        .toDF("lang", "tok", "wrds")
        // zero-word docs contribute nothing; dropping them keeps a lang whose
        // every doc is empty absent from the output, exactly like the old
        // explode -> inner-join shape
        .filter(col("wrds") > 0)
        .groupBy(col("lang"))
        .agg(sum(col("tok")).as("n_tokens"), sum(col("wrds")).as("n_words"))
        .orderBy(col("lang"))
    }),

    // --- deterministic train/eval split: content-hash bucketing (md5 first nibble,
    //     0-c -> train = 13/16), the standard leakage-free corpus split ---
    "q47_train_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("split",
          when(substring(md5s(col("text")), 1, 1) <= "c", "train").otherwise("eval"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("split"))
    }),

    // --- frequency-ranked token-id vocabulary + per-doc id stats: the tokenizer-prep
    //     step of a training pipeline. The (count desc, term) ranking is a DISTRIBUTED
    //     range-partitioned sort: ids = per-partition row_number + a per-partition
    //     offset (cumulative sizes of the preceding ranges). The only driver-side data
    //     is one count per partition — cluster-bounded, never data-bounded — so a
    //     billion-term web vocab ranks in parallel (round 2 used a partitionless
    //     Window = the whole vocab through one task; PlanShapeSpec now bans that
    //     shape). The total order is unchanged (term is unique), so ids and the
    //     oracle hash are identical. The APPLY side stays a broadcast join: a
    //     tokenizer vocab is capped by construction; uncapped vocabs would drop the
    //     hint and shuffle on term. ---
    "q28_token_ids" -> ((s, dir) => {
      import s.implicits._
      // row-local typed kernel: per-(doc, term) counts need no explode shuffle;
      // the vocab agg sums counts (== counting instances) and the apply side
      // weights by them (count(*) == sum(c), sum(id) == sum(id * c)). tok is read
      // by both consumers; a checkpoint here measured SLOWER (r06): the barrier
      // costs more than the duplicate (now cheap) pass saves
      val tok = tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          countKeys(text.split(" ", -1).iterator)
            .iterator.map { case (term, c) => (id, term, c) }
        })
        .toDF("doc_id", "term", "c")
      val vocab = rankedIds(
        tok.groupBy(col("term")).agg(sum(col("c")).as("n")),
        Seq(col("n").desc, col("term")), "id")
        .select(col("term"), col("id"))
      tok.join(broadcast(vocab), "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), sum(col("id") * col("c")).as("id_sum"),
          min(col("id")).as("top_term_id"))
        .orderBy(col("doc_id"))
    }),

    // --- train/eval DECONTAMINATION: eval docs sharing >= 3 distinct shingles with
    //     the train split (q47's content-hash split). Inverted-index equi-join on the
    //     shingle — the train side is the DISTINCT shingle set, so a hot shingle
    //     contributes one row, not one per train doc. ---
    "q29_decontam" -> ((s, dir) => {
      import s.implicits._
      // typed kernel: one md5 + one distinct-shingle set per doc in plain JVM
      // code (the expression form paid interpreted shingling + array_distinct,
      // twice — once per split filter below)
      val sh = tWide(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val md5hex = md5HexFn()
          it.flatMap { case (id, text) =>
            val split = if (md5hex(text).charAt(0) <= 'c') "train" else "eval"
            shingleSet(text).asScala.iterator.map(sh => (id, split, sh))
          }
        }
        .toDF("doc_id", "split", "shingle")
      // (not checkpointed: measured slower in r06 — the barrier costs more than
      // the duplicated shingling pass it saves at every tested SF)
      val trainSh = sh.filter(col("split") === "train").select(col("shingle")).distinct()
      sh.filter(col("split") === "eval")
        .join(trainSh, "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("doc_id"))
    }),

    // --- PII-style scrubbing: redact digit runs in the semi-structured props column
    //     (per-row regexp_replace, embarrassingly parallel) ---
    "q35_redact" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), regexp_replace(col("props"), "[0-9]{2,}", "#").as("redacted"))
        .orderBy(col("event_id"))
    }),

    // --- repetition scoring: distinct-token ratio per doc (quality signal; integer
    //     counts + one double division keep both engines bit-exact) ---
    "q36_repetition" -> ((s, dir) => {
      val w = words(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), size(w).cast("long").as("n_tokens"),
          size(array_distinct(w)).cast("long").as("n_distinct"))
        .withColumn("repetition",
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // --- bigram-LM scoring: fit a BOUNDED model (top-100 bigrams by corpus count),
    //     broadcast it, score every doc by model-hit mass + OOV count. The model side
    //     is bounded by construction, so the apply stage is a broadcast join at ANY
    //     corpus size — the standard shape for scoring against a fixed vocab/LM. ---
    "q48_lm_score" -> ((s, dir) => {
      // per-(doc, bigram) counts via the row-local typed kernel (the q88 shape —
      // no explode, no first shuffle). NOT checkpointed (r06: barrier measured
      // slower than the duplicate kernel pass — the q28 trade); count(*) over
      // instances == sum(bn), lm_hits == sum(bn * c), oov == model-miss sum(bn)
      val bgc = bigramCounts(tWide(s, dir, "documents"))
        .drop("lang")
      val lm = bgc.groupBy(col("bigram")).agg(sum(col("bn")).as("c"))
        .orderBy(col("c").desc, col("bigram")).limit(100)
      bgc.join(broadcast(lm), Seq("bigram"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("bn")).as("n_bigrams"),
          sum(col("bn") * coalesce(col("c"), lit(0L))).as("lm_hits"),
          sum(when(col("c").isNull, col("bn")).otherwise(0L)).as("oov"))
        .withColumn("score", col("lm_hits").cast("double") / col("n_bigrams").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // --- Count-Min-Sketch heavy hitters with EXACT output: the sketch (driver-fit,
    //     broadcast) prefilters shingle instances before the shuffle — CMS never
    //     underestimates, so no heavy key is lost; the exact groupBy + HAVING removes
    //     the sketch's false positives. Result is bit-identical to the plain HAVING
    //     query while shuffling only candidate rows. ---
    "q49_cms_heavy" -> ((s, dir) => {
      import s.implicits._
      val T = 100L
      // typed shingle kernel: the expression form paid an interpreted transform +
      // substr per position (NB substr counts code points — the kernel slices on
      // code-point boundaries to keep the same contract); the candidate filter
      // runs inside the second kernel pass instead of a per-row UDF call
      def sh = tWide(s, dir, "documents")
        .select(col("text")).as[String]
        .mapPartitions(_.flatMap { text =>
          val starts = new scala.collection.mutable.ArrayBuffer[Int](text.length + 1)
          var o = 0
          while (o < text.length) {
            starts += o
            o += Character.charCount(text.codePointAt(o))
          }
          starts += text.length
          val nCp = starts.length - 1
          if (nCp < 8) Iterator.empty
          else (0 to nCp - 8).iterator.map(i => text.substring(starts(i), starts(i + 8)))
        })
      val cms = sh.toDF("shingle").stat.countMinSketch("shingle", 0.0001, 0.99, 42)
      val bc = s.sparkContext.broadcast(cms)
      sh.mapPartitions(_.filter(x => bc.value.estimateCount(x) >= T))
        .toDF("shingle")
        .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= T)
        .orderBy(col("shingle"))
    }),

    // --- document fingerprint via a NATIVE codegen'd Catalyst expression: rolling_hash
    //     participates in whole-stage codegen (doGenCode emits a static call), unlike
    //     the CodegenFallback FM expressions whose inner loop is an opaque index ---
    "q38_rolling_fp" -> ((s, dir) => {
      t(s, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.TextFunctions.rolling_hash(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- embedding near-dup: hyperplane-LSH candidates + exact cosine rerank ---
    // The cartesian is gone: candidates come from an equi-join on 8 x 4-bit sign bands
    // (SimilarityLsh), then only candidates are reranked with exact double cosine. The
    // oracle reproduces the IDENTICAL pipeline (same integer hyperplanes, same double op
    // order), so the gate verifies the LSH computation itself. Recall vs the brute-force
    // join is measured in SimilarityLshSpec; at this deliberately loose threshold (0.35,
    // ~70deg) SRP prunes ~2x — at production near-dup thresholds (>=0.8) the same plan
    // prunes by orders of magnitude. No vec_id cap: the full table joins itself.
    "q52_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val bands = SimilarityLsh.bandsKernel(
        tWide(s, dir, "embeddings")
          .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])],
        EmbedPlanes, bandBits = 4)
      val cand = SimilarityLsh.candidatePairs(bands, "__id", maxBucket = lshMaxBucket,
        guardKey = Some(s"embed:$dir"))
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      val joined = cand
        .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .select(col("vec_a").cast("long"), col("vec_b").cast("long"), col("ea"), col("eb"))
        .as[(Long, Long, Array[Float], Array[Float])]
      SimilarityLsh.rerankCosineKernel(joined, 0.35)
        .toDF("vec_a", "vec_b")
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // --- SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    //     embeddings, then dedup ONLY within clusters — a vector drops when any
    //     same-cluster vector with a smaller id sits within the cosine threshold
    //     (one pass, no connected components; deterministic keeper = min id). The
    //     candidate join is an EQUI-join on cluster id, never corpus-wide
    //     all-pairs — but boundedness depends on k: the paper sets k ~ n/<target
    //     cluster size> so per-cluster pair counts stay bounded, and at scale the
    //     deployment MUST raise SPARK_GRAFT_SEMDEDUP_K accordingly (the default
    //     k=10 is the oracle-pinned gate constant; leaving it at 10 on a 100x
    //     corpus re-derives the LSH families' uncapped quadratic degradation).
    //     Clustering reuses the quantized-integer Lloyd kernel, so the DuckDB
    //     oracle re-derives the IDENTICAL model, pairs, and keep/drop decisions
    //     bit-for-bit at the default k. ---
    "q58_semantic_dedup" -> ((s, dir) =>
      semanticDedup(s, dir,
        k = parsePositiveInt("SPARK_GRAFT_SEMDEDUP_K", sys.env.get("SPARK_GRAFT_SEMDEDUP_K"))
          .getOrElse(10))),

    // --- int8 symmetric embedding quantization: q = round(x * 127 / max|x|) per
    //     vector — the storage step of a quantized vector index (4x smaller than
    //     f32). Per-row map, embarrassingly parallel; outputs are INTEGER summaries
    //     of the quantized codes so the gate is engine-exact (double math restricted
    //     to the identical round(x*127/amax) both engines evaluate in the same
    //     order). ---
    "q53_embed_quantize" -> ((s, dir) => {
      val e = col("embedding")
      val amax = array_max(transform(e, x => abs(x.cast("double"))))
      t(s, dir, "embeddings")
        .select(col("vec_id"), e, amax.as("amax"))
        .select(col("vec_id"),
          size(e).cast("long").as("n_dims"),
          transform(e, x =>
            when(col("amax") === 0.0, lit(0L))
              .otherwise(round(x.cast("double") * 127 / col("amax")).cast("long")))
            .as("q"))
        .select(col("vec_id"), col("n_dims"),
          // coalesce(v, 0): a null element contributes 0 exactly like DuckDB's
          // list_sum null-skipping; the oracle coalesces its empty-list NULL to 0 to
          // match the fold's seed — null-consistent at any future data shape
          aggregate(col("q"), lit(0L), (a, b) => a + coalesce(b, lit(0L))).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          size(filter(col("q"), _ =!= 0L)).cast("long").as("nnz"))
        .orderBy(col("vec_id"))
    }),

    // --- SimHash: 64-bit signature from token-hash bit majorities. Typed kernel:
    //     the interpreted-HOF form (transform + 64 filters re-hashing every token)
    //     costs ~4x; integer majority votes are engine-exact vs the oracle ---
    "q42_simhash" -> ((s, dir) =>
      simhashSignatures(s, dir).orderBy(col("doc_id"))),

    // --- SimHash near-dup PAIRING: pairs within hamming distance 3, candidates from
    //     a band equi-join on the four 16-bit signature quarters (pigeonhole: three
    //     differing bits leave at least one quarter intact, so recall is EXACT for
    //     h <= 3), then an exact bit_count(xor) filter — the hamming-space twin of the
    //     q41/q52 Jaccard/cosine LSH shapes, never an all-pairs join. 2^16 values per
    //     band keeps bucket sizes ~n/65536 (SimhashScalingSpec pins the near-linear
    //     candidate growth); the brute-force DuckDB oracle proves the banding loses
    //     nothing. ---
    "q37_simhash_neardup" -> ((s, dir) => {
      val sim = simhashSignatures(s, dir)
      // not checkpointed: the duplicate simhash kernel is cheaper than losing the
      // self-join's broadcast plan behind a stats-hiding barrier (measured r06)
      hammingPairs(sim, "simhash")
    }),

    // --- ANN baseline: brute-force cosine top-5, double math, total order ---
    "q50_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- ANN scale path: IVF-style coarse bucketing by dominant dimension, with
    //     MULTI-PROBE on the query side (top-2 |dim| buckets) — the query probes the
    //     two most likely inverted lists, doubling recall for near-boundary vectors
    //     while candidates stay an equi-join on the bucket key ---
    "q51_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def absArr(e: Column): Column = transform(e, x => abs(x))
      def bucket1(am: Column): Column = array_position(am, array_max(am))
      // second-dominant bucket: mask the first maximum, take the next argmax
      def masked(am: Column, p1: Column): Column =
        transform(sequence(lit(1), size(am)),
          i => when(i === p1, lit(-1e300)).otherwise(element_at(am, i)))
      val q0 = emb.filter(col("vec_id") < 5)
        .withColumn("am", absArr(col("embedding")))
        .withColumn("b1", bucket1(col("am")))
        .withColumn("m2", masked(col("am"), col("b1")))
        .withColumn("b2", array_position(col("m2"), array_max(col("m2"))))
      val q = q0.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(array(col("b1"), col("b2"))).as("qb"))
      val c = emb
        .withColumn("am", absArr(col("embedding")))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
          bucket1(col("am")).as("cb"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      c.join(broadcast(q), col("qb") === col("cb") && col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cb").as("bucket"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- real IVF ANN: quantized-integer k-means (k=10, 2 Lloyd iterations), nprobe=3,
    //     exact cosine rerank of probed candidates, hit flag vs the exact top-5 ---
    // The whole model is deterministic integer math, so the DuckDB oracle re-derives the
    // identical centroids/assignments/probes and the gate verifies the ANN pipeline
    // itself. Recall >= 0.9 at ~30% of the table scanned is asserted in IvfKmeansSpec —
    // on isotropic random embeddings, IVF's hardest case. Candidates come from an
    // equi-join on the cluster id (inverted lists); only the brute-force REFERENCE side
    // (needed for the hit flag) is a broadcast cartesian, bounded by the 10-query side.
    "q51b_ivf_kmeans" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val ds = tWide(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      val model = IvfKmeans.fit(ds, k = 10, iters = 2)
      val assigned = IvfKmeans.assignAll(ds, model).toDF("neighbor_id", "cl")
      // query side from the unwidened scan: the filter pushes down instead of
      // shuffling the whole table to keep 10 rows (see q54)
      val probes = IvfKmeans.probesFor(
        t(s, dir, "embeddings").filter(col("vec_id") < 10)
          .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])],
        model, nprobe = 3)
        .toDF("query_id", "qcl")
      val cand = probes
        .join(assigned, col("qcl") === col("cl") && col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      val wI = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val ivf = cand
        .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "neighbor_id")
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wI).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("bq"), col("embedding").as("qe"))
      val wB = Window.partitionBy(col("bq")).orderBy(col("cos").desc, col("bn"))
      val brute = emb.select(col("vec_id").as("bn"), col("embedding").as("ce"))
        .crossJoin(broadcast(q))
        .filter(col("bn") =!= col("bq"))
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wB))
        .filter(col("rank") <= 5)
        .select(col("bq"), col("bn"))
      ivf.join(brute, col("query_id") === col("bq") && col("neighbor_id") === col("bn"), "left")
        .withColumn("hit", when(col("bn").isNotNull, 1L).otherwise(0L))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("hit"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- IVF-PQ composite index: IVF inverted lists bound WHICH vectors are
    //     candidates (equi-join on probed cluster ids), PQ codes + ADC bound the
    //     COST of ranking them (8 table lookups per candidate instead of 64 float
    //     mults), exact cosine reranks only the ADC shortlist. Codebooks, codes
    //     and ADC scores are quantized-integer math, so the DuckDB oracle
    //     re-derives the identical index end-to-end (fit + encode + ADC + rerank);
    //     the hit flag marks agreement with the exact top-5 (the labeled bounded
    //     brute side, as in q51b). ---
    // --- training-data MIXTURE SAMPLING: per-language keep rates applied by a
    //     deterministic content-hash coin — the corpus-mixing step every training
    //     run needs (upsample scarce languages, downsample dominant ones), with
    //     zero state and exact reproducibility. The coin is the first 4 hex chars
    //     of md5(text) compared lexicographically against a hex threshold
    //     (lowercase-hex order == numeric order, so the DuckDB oracle mirrors it
    //     exactly); rates ride in a broadcast dim, never a shuffle. ---
    "q55_mixture_sample" -> ((s, dir) => {
      import s.implicits._
      val rates = Seq(("en", "8000"), ("fr", "4000"), ("es", "2000"),
        ("de", "1000"), ("zh", "0800")).toDF("lang", "thresh")
      t(s, dir, "documents")
        .join(broadcast(rates), "lang")
        .filter(substring(md5s(col("text")), 1, 4) < col("thresh"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- training-data SEQUENCE PACKING: documents stream per language in doc_id
    //     order into fixed 2048-token sequences (tokens ~ n_chars/4); each doc's
    //     sequence id = floor(running-token-prefix / budget) — the streamed-concat
    //     packing layout trainers consume. TWO-LEVEL prefix sum (the round-4
    //     hot-partition fix): a Window.partitionBy(lang) alone would sort the
    //     dominant language in ONE task at 100 TB, so the heavy window partitions
    //     by (lang, doc_id-range bucket) — each task sorts at most SeqPackBucket
    //     docs — and the per-lang bucket offsets come from a window over the
    //     AGGREGATED one-row-per-bucket frame (corpus/SeqPackBucket rows, broadcast
    //     back). (lang, doc_id) order == (lang, bucket, doc_id) order because the
    //     bucket is doc_id div B, so the composed prefix is bit-identical to the
    //     single-window form the oracle derives. All integer math. PlanShapeSpec
    //     pins that no window over the raw document rows partitions by lang alone. ---
    "q56_sequence_pack" -> ((s, dir) => {
      // bucket width: per-task sort bound AND offsets-frame row count (corpus/B
      // rows — broadcastable). Small here so the small-SF gate exercises multiple
      // buckets per language; at 100 TB size B so corpus/B stays broadcast-sized.
      val base = t(s, dir, "documents")
        .withColumn("bucket", expr(s"doc_id div $SeqPackBucket"))
        .withColumn("toks", expr("n_chars div 4"))
      val wOff = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      val offsets = base.groupBy(col("lang"), col("bucket"))
        .agg(sum(col("toks")).as("bucket_toks"))
        .withColumn("bucket_offset", sum(col("bucket_toks")).over(wOff) - col("bucket_toks"))
        .select(col("lang"), col("bucket"), col("bucket_offset"))
      val wB = Window.partitionBy(col("lang"), col("bucket")).orderBy(col("doc_id"))
      base
        .join(broadcast(offsets), Seq("lang", "bucket"))
        .withColumn("prefix",
          col("bucket_offset") + sum(col("toks")).over(wB) - col("toks"))
        .withColumn("seq_id", expr("prefix div 2048"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("seq_id")).as("n_seqs"),
          sum(col("toks")).cast("long").as("total_toks"),
          max(col("seq_id")).cast("long").as("last_seq"))
        .orderBy(col("lang"))
    }),

    // --- EXACT substring dedup (the "ExactSubstr" operator of Lee et al. 2021,
    //     "Deduplicating Training Data Makes Language Models Better"): every
    //     character span of length >= 20 that occurs more than once ANYWHERE in the
    //     corpus, merged per doc into maximal duplicated spans. The published
    //     implementation builds one corpus-wide suffix array; the Spark-native shape
    //     fingerprints every length-L window (md5: 16 bytes on the wire regardless
    //     of L), finds duplicated fingerprints with ONE shuffle on the fp — a
    //     count(*) window over the fp-partitioned rows replaces the old
    //     groupBy(fp) + join-back, which computed the fingerprint pass twice and
    //     shuffled it by fp twice — and merges runs of duplicated starts into
    //     maximal spans with a per-doc gaps-and-islands window. Shuffle is LINEAR
    //     in corpus characters: one fp per position, no all-pairs step, no
    //     corpus-wide sort; the fp window's partitions are hash buckets of mostly
    //     unique fingerprints (bounded by shuffle sizing, never by one hot key),
    //     and the doc_id window is bounded by one document's length. Per-shard
    //     maximal-match lookups can use the real suffix structures
    //     (graft.core.SuffixArrays / FmIndex); corpus-level detection stays in
    //     hashed-window space so it scales out.
    "q57_substring_dedup" -> ((s, dir) => {
      val L = 20
      val w = tWide(s, dir, "documents")
        .filter(length(col("text")) >= L)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (L - 1))).as("pos"))
        .select(col("doc_id"), col("pos"),
          md5s(expr(s"substring(text, pos, $L)")).as("fp"))
      val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      w.withColumn("c", count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("c") >= 2)
        .withColumn("isl", col("pos") - row_number().over(wD))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("pos")).cast("long").as("span_start"),
          (max(col("pos")) + lit(L - 1)).cast("long").as("span_end"),
          (max(col("pos")) - min(col("pos")) + lit(L)).cast("long").as("span_len"))
        .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "q54_ivf_pq" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val ds = tWide(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      // query-side rows come from the UNWIDENED scan: vec_id < 8 pushes down to the
      // parquet reader, where the tWide form first shuffles the whole table to all
      // cores only to keep 8 rows (two such shuffles saved: probes + LUT collect)
      val qds = t(s, dir, "embeddings").filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      // ONE persisted quantized-vector table shared by the coarse IVF fit and all
      // 8 PQ codebook fits (6 eager passes read the cache instead of re-scanning
      // + re-shuffling + re-quantizing per pass); unpersisted before the lazy
      // assign/encode plans run, so nothing leaks past construction
      val quant = ds.map { case (id, e) => (id, IvfKmeans.quantize(e)) }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (coarse, pq) = try {
        (IvfKmeans.fitQuantized(quant, k = 10, iters = 2),
          ProductQuantizer.fitQuantized(quant, numSub = 8, subdim = 8, k = 16, iters = 2))
      } finally quant.unpersist(blocking = false)
      val assigned = IvfKmeans.assignAll(ds, coarse).toDF("neighbor_id", "cl")
      val probes = IvfKmeans.probesFor(qds, coarse, nprobe = 3)
        .toDF("query_id", "qcl")
      val codes = ProductQuantizer.encodeAll(ds, pq).toDF("neighbor_id", "code")
      // bounded query-side LUTs: 8 queries x 8 subspaces x 16 longs, broadcast
      val luts: Map[Long, Array[Array[Long]]] = qds.collect()
        .map { case (id, e) => id -> pq.lut(IvfKmeans.quantize(e), 16) }.toMap
      val bcLut = s.sparkContext.broadcast(luts)
      val cand = probes
        .join(assigned, col("qcl") === col("cl") && col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      val adc = cand.join(codes, "neighbor_id")
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("code"))
        .as[(Long, Long, Array[Int])]
        .mapPartitions(_.map { case (q, n, code) =>
          val l = bcLut.value(q)
          var sum = 0L
          var m = 0
          while (m < code.length) { sum += l(m)(code(m)); m += 1 }
          (q, n, sum)
        }).toDF("query_id", "neighbor_id", "adc")
      val wA = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("neighbor_id"))
      val shortlist = adc.withColumn("rn", row_number().over(wA)).filter(col("rn") <= 40)
        .select("query_id", "neighbor_id", "adc")
      val wI = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val reranked = shortlist
        .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "neighbor_id")
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wI).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("bq"), col("embedding").as("qe"))
      val wB = Window.partitionBy(col("bq")).orderBy(col("cos").desc, col("bn"))
      val brute = emb.select(col("vec_id").as("bn"), col("embedding").as("ce"))
        .crossJoin(broadcast(q))
        .filter(col("bn") =!= col("bq"))
        .withColumn("cos", SimilarityLsh.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wB))
        .filter(col("rank") <= 5)
        .select(col("bq"), col("bn"))
      reranked.join(brute, col("query_id") === col("bq") && col("neighbor_id") === col("bn"), "left")
        .withColumn("hit", when(col("bn").isNotNull, 1L).otherwise(0L))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"), col("hit"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- multimodal plumbing: opaque binary payloads with typed metadata ---
    "q60_blob_stats" -> ((s, dir) => {
      val blob = col("text").cast("binary")
      t(s, dir, "documents")
        .select(col("doc_id"), length(blob).cast("long").as("n_bytes"),
          ((length(blob) + 255) / 256).cast("long").as("n_chunks"),
          ascii(substring(col("text"), 1, 1)).as("head_byte"))
        .orderBy(col("doc_id"))
    }),

    // --- REAL audio codec under the gate: per doc, deterministic PCM samples are
    //     encoded into an actual RIFF/WAVE PCM-16 payload (headers, chunk sizes,
    //     little-endian fields), then the payload is decoded back by the from-
    //     scratch chunk-walking parser (graft.ops.Codecs) and reduced to integer
    //     audio statistics. The oracle re-derives the statistics from the closed-
    //     form sample formula — any drift in header layout, sample endianness or
    //     chunk walking breaks the gate. (CodecsSpec separately pins golden BYTES
    //     so a mirrored encode/decode bug cannot cancel.) Scale shape: stateless
    //     per-row kernel, no shuffle. ---
    "q92_wav_codec" -> ((s, dir) => {
      import s.implicits._
      tWide(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (200 + id % 100).toInt
            val rate = (8000 + (id % 3) * 4000).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * 7919 + i.toLong * 104729) % 65536) - 32768).toShort)
            val payload = Codecs.encodeWavPcm16(rate, samples)
            val (rateOut, dec) = Codecs.decodeWavPcm16(payload)
            var sumSq = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < dec.length) {
              val v = dec(i).toLong
              sumSq += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              if (i > 0 && ((v < 0) != (dec(i - 1) < 0))) zc += 1
              i += 1
            }
            (id, rateOut.toLong, dec.length.toLong, sumSq, peak, zc,
              payload.length.toLong)
          }
        }
        .toDF("doc_id", "sample_rate", "n_samples", "sum_sq", "peak",
          "n_zero_cross", "n_bytes")
        .orderBy(col("doc_id"))
    }),

    // --- REAL image codec under the gate: deterministic RGB pixels -> an actual
    //     24bpp bottom-up padded BMP payload -> decoded by the from-scratch header
    //     parser -> channel sums + an 8x8 nearest-neighbor THUMBNAIL's integer
    //     luminance sum. The thumbnail samples specific (x, y) coordinates, so a
    //     row-order (bottom-up) or stride (padding) mistake shifts pixels and
    //     breaks the gate even though whole-image sums would not. ---
    "q93_bmp_codec" -> ((s, dir) => {
      import s.implicits._
      tWide(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (16 + id % 8).toInt; val h = (12 + id % 4).toInt
            def rgb(x: Int, y: Int): Int = {
              val r = ((id + 3L * x + 7L * y) % 256).toInt
              val g = ((id * 2 + 5L * x + 11L * y) % 256).toInt
              val b = ((id * 3 + x.toLong + 13L * y) % 256).toInt
              (r << 16) | (g << 8) | b
            }
            val payload = Codecs.encodeBmp24(w, h, rgb)
            val (wOut, hOut, px) = Codecs.decodeBmp24(payload)
            var sr = 0L; var sg = 0L; var sb = 0L
            px.foreach { p =>
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            }
            val thumb = Codecs.resizeNearest(px, wOut, hOut, 8, 8)
            var gray = 0L
            thumb.foreach { p =>
              gray += ((p >> 16) & 0xff) * 299L + ((p >> 8) & 0xff) * 587L +
                (p & 0xff) * 114L
            }
            (id, wOut.toLong, hOut.toLong, sr, sg, sb, gray, payload.length.toLong)
          }
        }
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "gray8_sum",
          "n_bytes")
        .orderBy(col("doc_id"))
    }),

    // --- perceptual image near-dup over the REAL codec path: deterministic cluster
    //     images (5 docs per base share md5-seeded pseudo-random pixels; each member
    //     adds a small per-channel shift) -> actual BMP encode -> from-scratch
    //     decode -> 9x8 nearest-neighbor grayscale thumbnail -> 64-bit dHash
    //     (horizontal gradient sign bits) -> pairing via the SAME 4x16-bit band
    //     equi-join as q37 (pigeonhole: <= 3 differing bits leave a band intact, so
    //     recall is exact) + bit_count(xor) filter. The DuckDB oracle re-derives
    //     every dHash from the closed-form pixels in HUGEINT math and pairs by
    //     brute force, so the banding provably loses nothing AND any codec/
    //     thumbnail/stride drift breaks the gate. Seeding the pixel polynomial's
    //     COEFFICIENTS from md5(base) matters for scale: a plain polynomial in base
    //     is periodic mod 256, so distinct clusters repeat pixel-identical images
    //     every few thousand docs and the pair count goes quadratic; with md5
    //     coefficients, cross-cluster dHashes are independent and hamming<=3
    //     collisions are ~C(64,3)/2^64 — the output stays linear in the corpus.
    //     Scale shape: per-row kernel + band equi-join — never all-pairs. ---
    "q95_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val sigs = tWide(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            val base = id - id % 5
            val shift = (id % 5).toInt
            val w = (16 + base % 8).toInt; val h = (12 + base % 4).toInt
            md.reset()
            val d = md.digest(s"img$base".getBytes(
              java.nio.charset.StandardCharsets.UTF_8)).map(_ & 0xff)
            def rgb(x: Int, y: Int): Int = {
              val r = (d(0) * (x + 1) * (y + 3) + d(1) * (x + 1) + d(2) + shift * 5) % 256
              val g = (d(3) * (y + 1) * (x + 2) + d(4) * (y + 1) + d(5) + shift * 3) % 256
              val b = (d(6) * (x + 1) * (x + 1) + d(7) * (y + 2) * (y + 2) + d(8) + shift) % 256
              (r << 16) | (g << 8) | b
            }
            val payload = Codecs.encodeBmp24(w, h, rgb)
            val (wo, ho, px) = Codecs.decodeBmp24(payload)
            val thumb = Codecs.resizeNearest(px, wo, ho, 9, 8)
            def gray(i: Int): Long =
              ((thumb(i) >> 16) & 0xff) * 299L + ((thumb(i) >> 8) & 0xff) * 587L +
                (thumb(i) & 0xff) * 114L
            var sig = 0L
            var k = 0
            while (k < 64) {
              val tx = k % 8; val ty = k / 8
              if (gray(ty * 9 + tx + 1) > gray(ty * 9 + tx)) sig |= 1L << k
              k += 1
            }
            (id, sig)
          }
        }
        .toDF("doc_id", "dhash")
      hammingPairs(sigs, "dhash")
    }),

    // --- audio tone detection over the REAL codec path: a square-wave tone of
    //     period 8/16/32/64 samples (+ bounded deterministic noise) per doc ->
    //     actual WAV encode -> from-scratch RIFF chunk-walk decode -> a Walsh
    //     correlation bank (integer square-wave correlators at the four candidate
    //     periods; Walsh functions are mutually orthogonal, so the true period's
    //     correlator dominates and `detected_period = true_period` everywhere —
    //     the gate proves the detector works, not just that it round-trips).
    //     All math integer; the oracle re-derives every score closed-form.
    //     Scale shape: stateless per-row kernel, no shuffle. ---
    "q96_audio_tones" -> ((s, dir) => {
      import s.implicits._
      tWide(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (192 + id % 64).toInt
            val pTrue = (8L << (id % 4)).toInt
            val amp = 8000 + (id % 7) * 500
            val samples = Array.tabulate(n) { i =>
              val tone = if (i % pTrue < pTrue / 2) amp else -amp
              val noise = (id * 31 + i.toLong * i * 17) % 2001 - 1000
              (tone + noise).toShort
            }
            val payload = Codecs.encodeWavPcm16(16000, samples)
            val (_, dec) = Codecs.decodeWavPcm16(payload)
            def score(p: Int): Long = {
              var acc = 0L; var i = 0
              while (i < dec.length) {
                acc += (if (i % p < p / 2) dec(i).toLong else -dec(i).toLong)
                i += 1
              }
              math.abs(acc)
            }
            val s8 = score(8); val s16 = score(16)
            val s32 = score(32); val s64 = score(64)
            val best =
              if (s8 >= s16 && s8 >= s32 && s8 >= s64) 8L
              else if (s16 >= s32 && s16 >= s64) 16L
              else if (s32 >= s64) 32L else 64L
            (id, dec.length.toLong, s8, s16, s32, s64, best, pTrue.toLong)
          }
        }
        .toDF("doc_id", "n_samples", "score_p8", "score_p16", "score_p32",
          "score_p64", "detected_period", "true_period")
        .orderBy(col("doc_id"))
    }),

    // --- partitioned-table sink + source round-trip: write documents Hive-partitioned
    //     by language, read back with a partition filter — the filter prunes whole
    //     directories (PartitionFilters in the scan; PlanShapeSpec asserts it), the
    //     identity-partitioning analog of Iceberg partition pruning ---
    "q62_partitioned_source" -> ((s, dir) => {
      val out = freshTmpTable("q62", dir)
      t(s, dir, "documents").withColumn("lang_p", col("lang"))
        .write.mode("overwrite").partitionBy("lang_p").parquet(out)
      s.read.parquet(out)
        .filter(col("lang_p") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    }),

    // --- snapshot-isolated manifest source (Iceberg-layout discipline): data is read
    //     ONLY through the committed manifest's file list, never a directory listing.
    //     The query plants a stray uncommitted parquet file under the table AFTER the
    //     commit — if the reader trusted the directory, the 'zz' partition would leak
    //     into the output and the DuckDB gate would fail, so the gate itself enforces
    //     the isolation property. ---
    "q63_manifest_source" -> ((s, dir) => {
      val out = freshTmpTable("q63", dir)
      t(s, dir, "documents").withColumn("lang_p", col("lang"))
        .write.mode("overwrite").partitionBy("lang_p").parquet(out)
      graft.sources.ManifestTables.commit(out, "lang_p")
      t(s, dir, "documents").limit(5)
        .write.mode("overwrite").parquet(s"$out/lang_p=zz") // in-flight, uncommitted
      graft.sources.ManifestTables.readData(s, out, "lang_p")
        .groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang_p").as("lang"), col("n_docs"))
        .orderBy(col("lang"))
    }),

    // --- DSv2 manifest DATA source (the Iceberg data-path analog): rows are served by
    //     graft.sources.ManifestDataSource itself — pinned snapshot, one InputPartition
    //     per committed file, the lang_p partition-value filter pruning whole files AT
    //     THE MANIFEST before any parquet footer opens, partition column served as a
    //     real column from the manifest's recorded values. The stray uncommitted file
    //     (under the filtered-out 'zz' partition AND a second one under 'en') keeps the
    //     oracle gate enforcing snapshot isolation on the data path. PlanShapeSpec pins
    //     the pruned file count + pushed filter. ---
    "q63b_manifest_data" -> ((s, dir) => {
      val out = freshTmpTable("q63b", dir)
      t(s, dir, "documents").withColumn("lang_p", col("lang"))
        .write.mode("overwrite").partitionBy("lang_p").parquet(out)
      graft.sources.ManifestTables.commit(out, "lang_p")
      t(s, dir, "documents").limit(5)
        .write.mode("overwrite").parquet(s"$out/lang_p=zz") // in-flight, uncommitted
      t(s, dir, "documents").limit(3).withColumn("n_chars", lit(-1L))
        .write.mode("append").parquet(s"$out/lang_p=en")    // stray INSIDE the read partition
      s.read.format("graft.sources.ManifestDataSource").load(out)
        .filter(col("lang_p") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    }),

    // --- TableCatalog end-to-end under the oracle gate: documents land in a
    //     warehouse through the DSv2 WRITE path (snapshot bootstrap), then the
    //     aggregation runs as PLAIN SQL BY NAME through graft.sources.ManifestCatalog
    //     — write path, catalog resolution, manifest-pinned scan and SQL surface all
    //     inside one DuckDB-gated query. Catalog name is per-dir: Spark caches plugin
    //     instances per session, so one name must never point at two warehouses. ---
    "q63c_catalog_sql" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63c", dir)
      t(s, dir, "documents").withColumn("lang_p", col("lang"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63c_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- NESTED TYPES through the DSv2 manifest table: the embeddings table
    //     (array<float>) lands via the DSv2 WRITE path (3-level parquet lists) and is
    //     served back by the VECTORIZED columnar reader — round 3's reader was
    //     flat-primitive row-at-a-time and could not hold this table at all. The
    //     aggregate touches the array CONTENTS (per-element math, not just lengths),
    //     so a decode drift anywhere in the list path breaks the gate. ---
    "q63d_manifest_embeddings" -> ((s, dir) => {
      // per-dir (not per-application) path, physically cleaned first: overwrites are
      // LOGICAL (old files stay for time travel), so a reused dir would otherwise
      // accumulate one table copy per session; the fresh write still exercises the
      // full DSv2 write path every run
      val out = freshTmpTable("q63d", dir)
      t(s, dir, "embeddings").withColumn("label_p", col("label").cast("string"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "label_p").mode("overwrite").save(out)
      s.read.format("graft.sources.ManifestDataSource").load(out)
        .groupBy(col("label_p"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(size(col("embedding"))).cast("long").as("total_dims"),
          sum(round(get(col("embedding"), lit(0)).cast("double") * 10000).cast("long"))
            .as("dim0_scaled"))
        .orderBy(col("label_p"))
    }),

    // --- SCHEMA EVOLUTION under the gate: snapshot 0 carries the narrow schema
    //     (even doc_ids), ALTER TABLE ADD COLUMN publishes a metadata-only snapshot,
    //     the append supplies the new column for odd doc_ids — the final aggregate
    //     mixes pre-ALTER files (null-filled by the reader's constant-vector path)
    //     with post-ALTER files in one scan and must match the relational oracle. ---
    "q63e_schema_evolution" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63e", dir)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63e_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"ALTER TABLE $cat.corpus.docs ADD COLUMN n_tokens BIGINT")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"),
          expr("n_chars div 4").as("n_tokens"))
        .write.format("graft.sources.ManifestDataSource").mode("append").save(s"$wh/corpus/docs")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN n_tokens IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           |  CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS total_tokens
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- metadata-only DELETE under the gate: partition-predicate DELETE FROM is a
    //     snapshot edit (no data file read or removed); the post-delete aggregate
    //     must equal the relational oracle with the deleted partitions excluded. ---
    "q63f_delete_where" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63f", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63f_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"DELETE FROM $cat.corpus.docs WHERE lang_p IN ('en', 'fr')")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- data-file COMPACTION under the gate: three appends fragment each language
    //     partition into three small files; bin-packing rewrites each partition to
    //     ONE file (asserted) and the post-compaction aggregate must still equal the
    //     whole-table relational oracle — rewriting moved bytes, never rows. ---
    "q63g_compaction" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63g", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      (0 until 3).foreach { r =>
        docs.filter(col("doc_id") % 3 === r)
          .write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")
      }
      val nLangs = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
        .map(_._3).distinct.length
      require(graft.sources.ManifestMaintenance
        .compactDataFiles(s, s"$wh/corpus/docs", 64L << 20).isDefined,
        "compaction found nothing to pack — the fragmentation setup is broken")
      val after = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
      require(after.length == nLangs,
        s"expected one compacted file per language, got ${after.length} for $nLangs langs")
      val cat = s"graft_q63g_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- per-file STATS SKIPPING under the gate: the DSv2 write records min/max
    //     column bounds per data file in the manifest; a range predicate on doc_id
    //     then skips whole files at scan PLANNING (before any footer opens) — the
    //     require() proves files were actually skipped, the oracle proves skipping
    //     never changed the answer. Range-clustered ingest (the repartitionByRange)
    //     is exactly the layout streaming/batch ingest produces for time/id keys. ---
    "q63i_stats_skipping" -> ((s, dir) => {
      val wh = freshTmpTable("q63i", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .repartitionByRange(8, col("doc_id"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/docs")
      val tbl = s.read.format("graft.sources.ManifestDataSource").load(s"$wh/docs")
      val filtered = tbl.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      val total = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/docs").length
      val probe = filtered.select("doc_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total,
        s"stats skipping pruned nothing: planned $planned of $total files")
      filtered.groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- copy-on-write ROW-LEVEL operations under the gate: UPDATE with a
    //     non-partition predicate and a MERGE (matched-update + not-matched-insert)
    //     run through Spark's group-based rewrite — runtime group filtering narrows
    //     the rewrite to files that actually CONTAIN matches (filterAttributes =
    //     `_file`), the replace-write swaps exactly those files in one atomic
    //     snapshot, and the final aggregate must equal the relational derivation
    //     (update-then-merge composed in the same order). ---
    "q63h_row_level" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63h", dir)
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63h_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"UPDATE $cat.corpus.docs SET n_chars = n_chars + 1000 WHERE doc_id % 10 = 0")
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .unionAll(docs.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            lit(50L).as("n_chars"), lit("zz").as("lang_p")))
        .createOrReplaceTempView(s"q63h_src_$tag")
      s.sql(
        s"""MERGE INTO $cat.corpus.docs t USING q63h_src_$tag s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET t.n_chars = t.n_chars * 2
           |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars, lang_p)
           |  VALUES (s.doc_id, s.n_chars, s.lang_p)""".stripMargin)
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- MERGE-ON-READ UPDATE under the gate: the delta protocol's second half —
    //     matched rows positional-delete their old version while the updated rows
    //     land as ordinary appends (O(matches) commit; the require proves every
    //     pre-update file survived untouched); readers merge both at scan time and
    //     the aggregate must equal the relational update derivation. ---
    "q63n_mor_update" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63n", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63n_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val filesBefore = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
        .map(_._1).toSet
      s.conf.set("spark.graft.manifest.updateMode", "merge-on-read")
      try s.sql(s"UPDATE $cat.corpus.docs SET n_chars = n_chars + 1000 WHERE doc_id % 10 = 0")
      finally s.conf.unset("spark.graft.manifest.updateMode")
      val filesAfter = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
        .map(_._1).toSet
      require(filesBefore.subsetOf(filesAfter),
        "merge-on-read UPDATE must leave every pre-update data file in place")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- TIMESTAMP AS OF time travel under the gate: the full corpus commits,
    //     a wall-clock instant is captured, an overwrite replaces the table with
    //     a subset — and `.option("asOfTimestamp", t)` must serve the table AS IT
    //     STOOD at t (the full corpus), resolved through per-snapshot commit
    //     timestamps. "What did the corpus look like when the run started?"
    //     without anyone having thought to tag it. ---
    "q63q_time_travel_ts" -> ((s, dir) => {
      val out = freshTmpTable("q63q", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      docs.write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(out)
      val tMid = System.currentTimeMillis()
      // the overwrite must stamp strictly AFTER the probe instant
      while (System.currentTimeMillis() <= tMid) Thread.sleep(1)
      docs.filter(col("lang_p") === "en")
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(out)
      s.read.format("graft.sources.ManifestDataSource")
        .option("asOfTimestamp", tMid.toString).load(out)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- EQUALITY-DELETE STREAMING UPSERT under the gate (Iceberg v2 / Flink-CDC
    //     equality deletes): each micro-batch MERGES BY KEY — the exactly-once sink
    //     commits the batch's rows PLUS one equality-delete segment over its keys,
    //     so older versions of those rows vanish at read time while the batch's own
    //     rows survive (data-sequence ordering). The require proves the write side
    //     never read or rewrote a data file (O(keys) commit); the read-back
    //     aggregate equals the relational last-writer-wins derivation. ---
    "q63r_upsert_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val src = freshTmpTable("q63r_src", dir)
      val dst = freshTmpTable("q63r_dst", dir)
      val ckpt = freshTmpTable("q63r_ckpt", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def land(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").mode("append").save(src)
      def drain(): Unit = {
        val stream = s.readStream.format("graft.sources.ManifestDataSource").load(src)
        val q = graft.sources.ManifestStreamSink
          .start(stream, dst, "lang_p", ckpt, upsertKey = Some("doc_id"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      land(docs)
      drain() // batch 1: the full corpus inserts
      val files1 = graft.sources.ManifestMaintenance.liveDataFiles(dst).map(_._1).toSet
      land(docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 5000L))
      drain() // batch 2: upserts — every third doc replaced with the +5000 version
      val files2 = graft.sources.ManifestMaintenance.liveDataFiles(dst).map(_._1).toSet
      require(files1.subsetOf(files2),
        "equality upsert must never read or rewrite an existing data file")
      drain() // idle restart on the same checkpoint: a pure no-op on dst
      s.read.format("graft.sources.ManifestDataSource").load(dst)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- Z-ORDER clustering under the gate: round-robin ingest interleaves BOTH
    //     doc_id and n_chars ranges across every file (the before-probes prove
    //     each range scan opens everything), zorderBy interleaves the two columns'
    //     normalized bits into one sort key, and BOTH range probes must then open
    //     strictly fewer files — the multi-dimensional skipping a lexicographic
    //     clusterBy (q63l) cannot give the second column. Answers never move. ---
    "q63s_zorder_skipping" -> ((s, dir) => {
      val wh = freshTmpTable("q63s", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .repartition(6) // round-robin: every file spans both value ranges
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/docs")
      def tbl = s.read.format("graft.sources.ManifestDataSource").load(s"$wh/docs")
      // probe bounds derived from the data so the slice stays selective at any SF;
      // FIRST-fifth slices (not mid-range: a slice straddling a dimension's top-bit
      // boundary would overlap both z-halves and skip nothing at small file counts)
      val b = t(s, dir, "documents")
        .agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long"),
          min(col("n_chars")).cast("long"), max(col("n_chars")).cast("long")).head()
      val (dLo, dHi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 5)
      val (cLo, cHi) = (b.getLong(2), b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 5)
      def planned(f: Column): Int = {
        val probe = tbl.filter(f).select("doc_id")
        probe.collect()
        probe.queryExecution.executedPlan.collect {
          case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            bs.inputRDD.getNumPartitions
        }.sum
      }
      val docProbe = col("doc_id") >= dLo && col("doc_id") < dHi
      val charProbe = col("n_chars") >= cLo && col("n_chars") < cHi
      val (before1, before2) = (planned(docProbe), planned(charProbe))
      val perFile = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/docs")
        .map(_._2).max + 1
      require(graft.sources.ManifestMaintenance
        .zorderBy(s, s"$wh/docs", Seq("doc_id", "n_chars"), perFile).isDefined,
        "zorderBy found nothing to rewrite")
      val totalAfter = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/docs").length
      val (after1, after2) = (planned(docProbe), planned(charProbe))
      require(after1 < before1 && after1 < totalAfter,
        s"z-order must sharpen doc_id skipping: $before1 before, $after1 of $totalAfter after")
      require(after2 < before2 && after2 < totalAfter,
        s"z-order must sharpen n_chars skipping: $before2 before, $after2 of $totalAfter after")
      tbl.filter(docProbe).withColumn("probe", lit("doc_id"))
        .unionAll(tbl.filter(charProbe).withColumn("probe", lit("n_chars")))
        .groupBy(col("probe"), col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("probe"), col("lang"))
    }),

    // --- SORTED WRITES under the gate (Iceberg write.distribution-mode=range +
    //     table sort order): `.option("sortorder","doc_id")` range-distributes AND
    //     sorts rows at INGEST, so per-file min/max stats are selective from the
    //     first commit — the requires prove a doc_id range scan opens strictly
    //     fewer files than the same rows ingested round-robin, with NO clustering
    //     rewrite in between (q63l/q63s fix layout after the fact; this prevents
    //     the problem). Answers never move. ---
    "q63ab_sorted_write" -> ((s, dir) => {
      val wh = freshTmpTable("q63ab", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      docs.repartition(6) // round-robin: every file spans the whole doc_id range
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/rr")
      // real range tasks for the sorted ingest: AQE would coalesce a small-SF
      // shuffle to ONE partition (full-range files, nothing left to skip)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2.conf.set("spark.sql.shuffle.partitions", "6")
      t(s2, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").option("sortorder", "doc_id")
        .mode("overwrite").save(s"$wh/sorted")
      val b = docs.agg(min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head()
      val dHi = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 5
      def planned(tbl: String): Int = {
        val probe = s.read.format("graft.sources.ManifestDataSource").load(tbl)
          .filter(col("doc_id") < dHi).select("doc_id")
        probe.collect()
        probe.queryExecution.executedPlan.collect {
          case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            bs.inputRDD.getNumPartitions
        }.sum
      }
      val (rrFiles, sortedFiles) = (planned(s"$wh/rr"), planned(s"$wh/sorted"))
      val total = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/sorted").length
      require(sortedFiles < rrFiles && sortedFiles < total,
        s"sorted ingest must skip files: rr=$rrFiles sorted=$sortedFiles of $total")
      s.read.format("graft.sources.ManifestDataSource").load(s"$wh/sorted")
        .filter(col("doc_id") < dHi)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- CREATE TABLE / INSERT INTO through the catalog under the gate: DDL-first
    //     table creation (empty schema-carrying snapshot 0 with partition spec and
    //     the column-id registry), then plain SQL INSERT resolves against the
    //     declared schema and commits through the DSv2 write path. ---
    "q63t_create_table" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63t", dir)
      val cat = s"graft_q63t_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.corpus.docs
               |  (doc_id BIGINT, n_chars BIGINT, lang_p STRING)
               |  PARTITIONED BY (lang_p)""".stripMargin)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView(s"q63t_src_$tag")
      s.sql(s"INSERT INTO $cat.corpus.docs " +
        s"SELECT doc_id, n_chars, lang AS lang_p FROM q63t_src_$tag")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- COUNT(col)/COUNT(*) aggregate pushdown under the gate, answered from
    //     MANIFEST METADATA alone: every entry the DSv2 writer commits carries an
    //     exact row count and per-column null counts (Iceberg's record_count /
    //     null_value_counts), so the pushed aggregate pre-merges per partition on
    //     the driver — ZERO footers opened, O(manifest) not O(files), the number
    //     that was 59 s at 10k files on the footer path (BENCH.md §0.2). The
    //     requires pin both that the plan took the pushed-agg scan AND that its
    //     every file answered from metadata (footerFiles=0); the DuckDB oracle
    //     recomputes the counts from the raw rows. ---
    "q63aa_count_pushdown" -> ((s, dir) => {
      val wh = freshTmpTable("q63aa", dir)
      val tbl = s"$wh/corpus/docs"
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(col("n_chars")).cast("long").as("q"),
          col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(tbl)
      val agg = s.read.format("graft.sources.ManifestDataSource").load(tbl)
        .groupBy("lang_p")
        .agg(count(col("q")).as("n_scored"), count(lit(1)).as("n_docs"))
      val plan = agg.queryExecution.executedPlan.toString
      require(plan.contains("manifest_data_agg") && plan.contains("count(q)"),
        s"COUNT(col) did not reach the pushed-aggregate scan:\n${plan.take(800)}")
      // AQE wraps the agg plan and AdaptiveSparkPlanExec is a LEAF for collect:
      // recurse through adaptive wrappers to reach the DSv2 scan node
      def scanDescs(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanDescs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scanDescs(q.plan)
        case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(bs.scan.description())
        case other => other.children.flatMap(scanDescs)
      }
      val desc = scanDescs(agg.queryExecution.executedPlan).mkString("\n")
      require(desc.contains("footerFiles=0") && !desc.contains("metaFiles=0"),
        s"pushed COUNT did not answer from manifest metadata: $desc")
      agg.select(col("lang_p").as("lang"), col("n_scored"), col("n_docs"))
        .orderBy("lang")
    }),

    // --- BLOOM-FILTER + ROW-GROUP SKIPPING under the gate: the point-lookup
    //     complement to min/max stats. The table is written with per-row-group
    //     parquet BLOOM FILTERS on a high-cardinality md5 key (rowgroupsize
    //     bounds the skipping granularity); an equality lookup pushes the
    //     residual predicate into the vectorized reader, which proves absence
    //     per row group (stats/dictionary/bloom levels) before any page decodes.
    //     The require pins that the scan EMITTED fewer rows than the table holds
    //     — at 10^12 turns this is the conv_id = 'x' path: min/max on random
    //     keys never skips, the bloom does. DuckDB recomputes the answer rows. ---
    "q63ac_bloom_skip" -> ((s, dir) => {
      val wh = freshTmpTable("q63ac", dir)
      val tbl = s"$wh/corpus/docs"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(concat(lit("k"), col("doc_id"))).as("fp"),
          col("lang").as("lang_p"))
      docs.coalesce(1)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").option("rowgroupsize", "32768")
        .option("bloomfilters", "fp").mode("overwrite").save(tbl)
      val total = docs.count()
      val probeId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val lookup = s.read.format("graft.sources.ManifestDataSource").load(tbl)
        .filter(col("fp") === md5(concat(lit("k"), lit(probeId))))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
      // scan-emitted rows via the scan node's own metric (AQE-aware traversal)
      def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scanRows(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scanRows(q.plan)
        case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          bs.metrics("numOutputRows").value
        case other => other.children.map(scanRows).sum
      }
      lookup.collect()
      val emitted = scanRows(lookup.queryExecution.executedPlan)
      require(emitted > 0 && emitted < total,
        s"bloom row-group skipping did not engage: scan emitted $emitted of $total rows")
      lookup
    }),

    // --- POSITION-DELETE compaction under the gate (Iceberg's
    //     rewrite_position_delete_files): three merge-on-read DELETE commits leave
    //     three positional-delete segments; a metadata-only partition DELETE then
    //     strands those segments' references to the dropped partition's files
    //     (dangling deletes). The rewrite folds all three into ONE segment and
    //     drops the dangling positions WITHOUT touching a data file (requires pin
    //     segment count, file-set identity, and idempotence), and the scan's
    //     answer must not move — the oracle re-derives it relationally. ---
    "q63ad_rewrite_deletes" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63ad", dir)
      val tbl = s"$wh/corpus/docs"
      val cat = s"graft_q63ad_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(tbl)
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try {
        s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 7 = 3")
        s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 11 = 5")
        s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 13 = 8")
      } finally s.conf.unset("spark.graft.manifest.deleteMode")
      // partition drop (metadata-only path): 'de' files leave the table, stranding
      // their positions inside all three delete segments
      s.sql(s"DELETE FROM $cat.corpus.docs WHERE lang_p = 'de'")
      val m = graft.sources.ManifestMaintenance
      require(m.positionalDeleteSegments(tbl).size == 3,
        "setup: expected one positional-delete segment per MoR DELETE commit")
      val filesBefore = m.liveDataFiles(tbl).map(_._1).toSet
      // driven through the SQL procedure surface (the production entry point)
      require(!s.sql(s"CALL $cat.system.rewrite_position_deletes('corpus.docs')")
        .head().isNullAt(0), "rewrite_position_deletes found nothing to fold")
      require(m.positionalDeleteSegments(tbl).size == 1,
        "rewrite must consolidate to exactly one positional segment")
      require(m.liveDataFiles(tbl).map(_._1).toSet == filesBefore,
        "position-delete rewrite is metadata-only: no data file may move")
      require(m.rewritePositionDeletes(tbl).isEmpty,
        "second rewrite must be a no-op (one clean segment, nothing dangling)")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- `.manifests` METADATA TABLE (Iceberg `.manifests` inspection analog)
    //     under the gate: three single-file appends surface as one data segment
    //     EACH (the O(fresh+segments) commit discipline made externally visible),
    //     CALL compact_manifests folds them into exactly one data segment, and a
    //     merge-on-read DELETE adds a position-delete segment whose entry count
    //     equals the rows it removed — each layering state pinned by requires
    //     against the SQL-served metadata table, then the final per-lang aggregate
    //     must still match the relational oracle (layering never moves an answer). ---
    "q63ae_manifests_table" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63ae", dir)
      val tbl = s"$wh/corpus/docs"
      val cat = s"graft_q63ae_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"), col("lang"))
      docs.filter(col("doc_id") % 3 === 0).coalesce(1)
        .write.format("graft.sources.ManifestDataSource").mode("overwrite").save(tbl)
      docs.filter(col("doc_id") % 3 === 1).coalesce(1)
        .write.format("graft.sources.ManifestDataSource").mode("append").save(tbl)
      docs.filter(col("doc_id") % 3 === 2).coalesce(1)
        .write.format("graft.sources.ManifestDataSource").mode("append").save(tbl)
      val meta = s"$cat.corpus.docs.manifests"
      val fresh = s.sql(s"SELECT content, entries, file_bytes, path FROM $meta").collect()
      require(fresh.length == 3 && fresh.forall(r => r.getString(0) == "data" &&
        r.getLong(1) == 1 && !r.isNullAt(2) && r.getString(3) != "<inline>"),
        "three single-file appends must surface as three 1-entry data segments " +
          s"(O(fresh+segments) commits); got ${fresh.mkString(";")}")
      s.sql(s"CALL $cat.system.compact_manifests('corpus.docs')").collect()
      val folded = s.sql(s"SELECT content, entries, file_bytes, path FROM $meta").collect()
      require(folded.length == 1 && folded(0).getString(0) == "data" &&
        folded(0).getLong(1) == 3 && !folded(0).isNullAt(2) &&
        folded(0).getString(3) != "<inline>",
        "compact_manifests must fold the inline entries into exactly one data " +
          s"segment; got ${folded.mkString(";")}")
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 10 = 7")
      finally s.conf.unset("spark.graft.manifest.deleteMode")
      val dels = s.sql(
        s"SELECT entries FROM $meta WHERE content = 'position-deletes'").collect()
      val expectDel = docs.filter(col("doc_id") % 10 === 7).count()
      require(dels.length == 1 && dels(0).getLong(0) == expectDel,
        "the MoR DELETE must surface as one position-delete manifest row with one " +
          s"(path,pos) entry per deleted row ($expectDel); got ${dels.mkString(";")}")
      s.sql(
        s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // --- COLUMN DEFAULT VALUES (Iceberg v3 default-values analog) under the gate:
    //     `ALTER TABLE ... ADD COLUMN ... DEFAULT` is METADATA-ONLY — rows in files
    //     that PREDATE the column serve the default at read time (the existence
    //     default), and an INSERT that omits the column is analyzer-filled (the
    //     current default). Requires pin that the ALTER moved no data file, that a
    //     generation-straddling pushed MIN/MAX/COUNT over the defaulted column
    //     equals the row-level recount (the footer partials must be default-aware,
    //     not all-null), and the final per-lang rollup must equal the relational
    //     oracle's CASE derivation. ---
    "q63af_column_defaults" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63af", dir)
      val tbl = s"$wh/corpus/docs"
      val cat = s"graft_q63af_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.corpus.docs (doc_id BIGINT, n_chars BIGINT, lang STRING)")
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView(s"q63af_src_$tag")
      s.sql(s"INSERT INTO $cat.corpus.docs SELECT doc_id, n_chars, lang " +
        s"FROM q63af_src_$tag WHERE doc_id % 2 = 0")
      val m = graft.sources.ManifestMaintenance
      val filesBefore = m.liveDataFiles(tbl).map(_._1).toSet
      s.sql(s"ALTER TABLE $cat.corpus.docs ADD COLUMN score INT DEFAULT 7")
      require(m.liveDataFiles(tbl).map(_._1).toSet == filesBefore,
        "ADD COLUMN DEFAULT must be metadata-only: no data file may move")
      // gen-2 carries explicit scores; gen-3 omits the column entirely — the
      // analyzer must fill the CURRENT default (7), not null
      s.sql(s"INSERT INTO $cat.corpus.docs SELECT doc_id, n_chars, lang, " +
        s"CAST(doc_id % 5 AS INT) FROM q63af_src_$tag " +
        s"WHERE doc_id % 2 = 1 AND doc_id % 10 <> 9")
      s.sql(s"INSERT INTO $cat.corpus.docs (doc_id, n_chars, lang) " +
        s"SELECT doc_id, n_chars, lang FROM q63af_src_$tag WHERE doc_id % 10 = 9")
      // generation-straddling pushed aggregate: pre-ALTER footers have NO chunk for
      // `score`, so the partials must come from the declared default — an all-null
      // partial would drag MIN to 0-from-gen-2-only / COUNT below the table size
      val pushedDf = s.sql(
        s"SELECT min(score), max(score), count(score) FROM $cat.corpus.docs")
      val pushed = pushedDf.head()
      // pin the PLAN, not just the value: if pushdown ever starts refusing this
      // shape, both sides would recompute plan-side and the default-aware-partials
      // property this gate exists for would go unexercised
      require(pushedDf.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
        "the straddling aggregate must push to the footer-stat scan")
      val recount = s.sql(
        s"""SELECT min(score), max(score), count(score) FROM (
           |  SELECT CASE WHEN doc_id % 2 = 0 OR doc_id % 10 = 9 THEN 7
           |              ELSE CAST(doc_id % 5 AS INT) END AS score
           |  FROM q63af_src_$tag)""".stripMargin).head()
      require(pushed == recount,
        s"straddling pushed aggregate diverged: pushed=$pushed recount=$recount")
      s.sql(
        s"""SELECT lang, count(*) AS n_docs, CAST(sum(score) AS BIGINT) AS total_score,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // --- WRITE-AUDIT-PUBLISH under the gate (Iceberg's spark.wap.id stage-only
    //     commits): a candidate batch lands as a staged head NO reader sees (the
    //     require pins invisibility), an audit read (`wapId` option) serves
    //     parent+delta for quality checks, an UNRELATED append advances the head
    //     in between — the situation WAP exists for — and CALL publish_wap
    //     re-applies the audited delta onto the live head with fresh sequence
    //     numbers. A leaked stage, a lost delta, or a double apply all break
    //     either the in-query requires or the final oracle comparison. ---
    "q78_wap_publish" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q78", dir)
      val tbl = s"$wh/corpus/docs"
      val cat = s"graft_q78_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def part(r: Int) = docs.filter(col("doc_id") % 3 === r)
      part(0).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(tbl)
      // stage the candidate batch: invisible until audited and published
      part(1).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").option("wapId", "cand")
        .mode("append").save(tbl)
      val baseN = part(0).count()
      val plainN = s.read.format("graft.sources.ManifestDataSource").load(tbl).count()
      require(plainN == baseN, s"staged rows leaked into a plain read: $plainN != $baseN")
      // audit: the combined view must hold the delta, no duplicate doc ids
      val audit = s.read.format("graft.sources.ManifestDataSource")
        .option("wapId", "cand").load(tbl)
      val auditN = audit.count()
      val auditDistinct = audit.select("doc_id").distinct().count()
      require(auditN == baseN + part(1).count() && auditDistinct == auditN,
        s"audit view wrong: rows=$auditN distinct=$auditDistinct base=$baseN")
      // an unrelated append lands between stage and publish — WAP's raison d'etre
      part(2).write.format("graft.sources.ManifestDataSource").mode("append").save(tbl)
      s.sql(s"CALL $cat.system.publish_wap('corpus.docs', 'cand')").collect()
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- BRANCHES under the gate (Iceberg branch refs + fast_forward): a staging
    //     branch forks from the live table, TWO candidate batches land on the
    //     branch's own chain (requires pin that main never sees them and that the
    //     branch view serves fork+delta), and CALL fast_forward publishes the
    //     branch state onto the untouched head. A leaked branch commit, a lost
    //     delta, or a mis-stamped sequence breaks the requires or the final
    //     oracle comparison. ---
    "q79_branch_ff" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q79", dir)
      val tbl = s"$wh/corpus/docs"
      val cat = s"graft_q79_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def part(r: Int) = docs.filter(col("doc_id") % 3 === r)
      part(0).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(tbl)
      s.sql(s"CALL $cat.system.create_branch('corpus.docs', 'staging')").collect()
      // two candidate batches land on the branch — invisible to main readers
      Seq(1, 2).foreach { r =>
        part(r).write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").option("branch", "staging")
          .mode("append").save(tbl)
      }
      val baseN = part(0).count()
      val plainN = s.read.format("graft.sources.ManifestDataSource").load(tbl).count()
      require(plainN == baseN, s"branch rows leaked into a plain read: $plainN != $baseN")
      val branchN = s.read.format("graft.sources.ManifestDataSource")
        .option("branch", "staging").load(tbl).count()
      require(branchN == docs.count(),
        s"branch view must serve fork + both deltas: $branchN != ${docs.count()}")
      // audited: publish the branch onto the (untouched) head
      s.sql(s"CALL $cat.system.fast_forward('corpus.docs', 'staging')").collect()
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- SQL TRUNCATE TABLE under the gate (TruncatableTable): a metadata-only
    //     empty snapshot — requires pin that the truncate dropped every pre-batch
    //     row, that the PRE-truncate snapshot still time-travels (no data file was
    //     touched), and that the table keeps accepting appends under the same
    //     spec. The final aggregate sees ONLY the post-truncate batch. ---
    "q80_truncate_table" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q80", dir)
      val cat = s"graft_q80_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.corpus.docs
               |  (doc_id BIGINT, n_chars BIGINT, lang_p STRING)
               |  PARTITIONED BY (lang_p)""".stripMargin)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView(s"q80_src_$tag")
      s.sql(s"INSERT INTO $cat.corpus.docs " +
        s"SELECT doc_id, n_chars, lang FROM q80_src_$tag WHERE doc_id % 3 = 0")
      val pre = s.table(s"$cat.corpus.docs").count()
      s.sql(s"TRUNCATE TABLE $cat.corpus.docs")
      require(s.table(s"$cat.corpus.docs").count() == 0,
        "TRUNCATE TABLE must empty the live table")
      // metadata-only: the pre-truncate snapshot (create=0, insert=1) still serves
      require(s.sql(s"SELECT * FROM $cat.corpus.docs VERSION AS OF 1").count() == pre,
        "pre-truncate snapshot must stay time-travel readable")
      s.sql(s"INSERT INTO $cat.corpus.docs " +
        s"SELECT doc_id, n_chars, lang FROM q80_src_$tag WHERE doc_id % 3 = 1")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- Atomic CREATE OR REPLACE TABLE AS SELECT under the gate
    //     (StagingTableCatalog, Iceberg REPLACE semantics): generation 1 lands via
    //     atomic CTAS (ONE snapshot carrying data + declared DDL + spec), the
    //     replace swaps schema, partitioning, and content in ONE snapshot on the
    //     SAME history — requires pin that pre-replace time travel serves the old
    //     rows under the OLD schema, and that the new schema/spec took. ---
    "q81_replace_table" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q81", dir)
      val cat = s"graft_q81_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView(s"q81_src_$tag")
      s.sql(s"""CREATE TABLE $cat.corpus.docs PARTITIONED BY (lang_p) AS
               |  SELECT doc_id, n_chars, lang AS lang_p FROM q81_src_$tag
               |  WHERE doc_id % 3 = 0""".stripMargin)
      val gen1 = s.table(s"$cat.corpus.docs").count()
      def props(): Map[String, String] = s.sql(s"SHOW TBLPROPERTIES $cat.corpus.docs")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      require(props().get("current-snapshot-id").contains("0"),
        "atomic CTAS must publish exactly ONE snapshot")
      s.sql(s"""CREATE OR REPLACE TABLE $cat.corpus.docs AS
               |  SELECT doc_id, upper(lang) AS lang_u, n_chars * 2 AS chars2
               |  FROM q81_src_$tag WHERE doc_id % 3 = 1""".stripMargin)
      require(s.table(s"$cat.corpus.docs").schema.fieldNames.toSeq ==
        Seq("doc_id", "lang_u", "chars2"), "replace must swap the schema")
      val p2 = props()
      require(p2.get("current-snapshot-id").contains("1") && !p2.contains("partition-spec"),
        "replace must be ONE snapshot on the same history and drop the old partitioning")
      val old = s.sql(s"SELECT * FROM $cat.corpus.docs VERSION AS OF 0")
      require(old.count() == gen1 &&
          old.schema.fieldNames.toSeq == Seq("doc_id", "n_chars", "lang_p"),
        "pre-replace snapshot must serve the old rows under the old schema")
      s.sql(
        s"""SELECT lang_u, count(*) AS n_docs,
           |  CAST(sum(chars2) AS BIGINT) AS total_chars2
           |FROM $cat.corpus.docs GROUP BY lang_u ORDER BY lang_u""".stripMargin)
    }),

    // --- RENAME TABLE under the gate: one atomic directory move (everything a
    //     manifest references is directory-relative, so history, tags, and the
    //     column-id registry ride along). Requires pin that the OLD name stops
    //     resolving, that time travel under the NEW name still serves the
    //     pre-rename snapshot, and that appends under the new name join the same
    //     layout. ---
    "q82_rename_table" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q82", dir)
      val cat = s"graft_q82_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .createOrReplaceTempView(s"q82_src_$tag")
      s.sql(s"""CREATE TABLE $cat.corpus.docs
               |  (doc_id BIGINT, n_chars BIGINT, lang_p STRING)
               |  PARTITIONED BY (lang_p)""".stripMargin)
      s.sql(s"INSERT INTO $cat.corpus.docs " +
        s"SELECT doc_id, n_chars, lang FROM q82_src_$tag WHERE doc_id % 2 = 0")
      val pre = s.table(s"$cat.corpus.docs").count()
      s.sql(s"ALTER TABLE $cat.corpus.docs RENAME TO corpus.docs_v2")
      require(!s.catalog.tableExists(s"$cat.corpus.docs"),
        "the old name must stop resolving after RENAME TABLE")
      require(s.sql(s"SELECT * FROM $cat.corpus.docs_v2 VERSION AS OF 1").count() == pre,
        "time travel under the new name must serve the pre-rename snapshot")
      s.sql(s"INSERT INTO $cat.corpus.docs_v2 " +
        s"SELECT doc_id, n_chars, lang FROM q82_src_$tag WHERE doc_id % 2 = 1")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs_v2 GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- RENAME / DROP COLUMN evolution under the gate: pre-rename files carry the
    //     OLD physical name (resolved by the footer FIELD IDS the writer stamps),
    //     post-rename appends carry the new one, and a scan straddling the rename
    //     must serve one coherent column; DROP retires a column as a pure registry
    //     edit; VERSION AS OF 0 still serves the pre-rename name (require-pinned
    //     against the relational expectation). ---
    "q63u_rename_evolution" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63u", dir)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"), col("source").as("junk"),
          col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63u_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"ALTER TABLE $cat.corpus.docs RENAME COLUMN n_chars TO len_chars")
      s.sql(s"ALTER TABLE $cat.corpus.docs DROP COLUMN junk")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars").as("len_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource").mode("append").save(s"$wh/corpus/docs")
      // time travel to the pre-rename snapshot serves the ORIGINAL names
      val ttSum = s.sql(s"SELECT CAST(sum(n_chars) AS BIGINT) " +
        s"FROM $cat.corpus.docs VERSION AS OF 0").head().getLong(0)
      val expect = docs.filter(col("doc_id") % 2 === 0)
        .agg(sum(col("n_chars")).cast("long")).head().getLong(0)
      require(ttSum == expect,
        s"pre-rename snapshot must serve n_chars unrenamed: got $ttSum, want $expect")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(len_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- TYPE WIDENING evolution under the gate (Iceberg type promotion):
    //     generation-1 files carry the NARROW physical types (int32 doc_id, float
    //     weight); ALTER COLUMN ... TYPE widens the table to bigint/double as a
    //     pure metadata snapshot; generation-2 appends land wide, with doc_id
    //     values past Int.MaxValue. The straddling scan upcasts old vectors at
    //     read time (WideningColumnVector), the FOOTER aggregate merges Integer
    //     and Long partials (require-pinned past 2^31), and VERSION AS OF 0 still
    //     serves the historical narrow int (require-pinned). ---
    "q63v_type_widening" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63v", dir)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("int").as("doc_id"),
          col("n_chars").cast("float").as("weight"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63v_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"ALTER TABLE $cat.corpus.docs ALTER COLUMN doc_id TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.corpus.docs ALTER COLUMN weight TYPE DOUBLE")
      docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + lit(10000000000L)).as("doc_id"),
          col("n_chars").cast("double").as("weight"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource").mode("append").save(s"$wh/corpus/docs")
      // footer-aggregate path over MIXED physical types: the per-file partials are
      // Integer (gen 1) and Long (gen 2) — the merged max proves the wide rows
      val mx = s.sql(s"SELECT max(doc_id) FROM $cat.corpus.docs").head().getLong(0)
      require(mx > Int.MaxValue.toLong,
        s"widened footer max must exceed 2^31 (mixed int32/int64 files), got $mx")
      // time travel to the pre-widening snapshot serves the NARROW type
      val tt = s.sql(s"SELECT max(doc_id) FROM $cat.corpus.docs VERSION AS OF 0").head()
      require(tt.get(0).isInstanceOf[Int],
        s"pre-widening snapshot must serve int, got ${tt.get(0).getClass.getSimpleName}")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_id, max(doc_id) AS max_id,
           |  max(weight) AS max_weight
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- HIDDEN PARTITIONING under the gate (Iceberg partition transforms):
    //     the events stream lands partitioned by `days(ts), bucket(4, user_id)` —
    //     neither column exists in the schema; the writer derives both from the
    //     row (UTC day, murmur3 bucket of the big-endian key bytes). The query's
    //     ordinary `ts >=` range and `user_id =` equality then prune whole FILES
    //     through the SAME transform definitions (the require proves a strict
    //     subset planned), while both predicates stay residual — lossy transforms
    //     (bucket collisions, many timestamps per day) can never replace the row
    //     filter, so answers are exact by construction. This is the partitioning
    //     a 10^12-turn transcript table actually ships: nobody litters queries
    //     with a derived day column, the table routes and prunes by itself. ---
    "q63w_hidden_partitioning" -> ((s, dir) => {
      val wh = freshTmpTable("q63w", dir)
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "days(ts),bucket(4,user_id)").mode("overwrite").save(s"$wh/ev")
      val tbl = s.read.format("graft.sources.ManifestDataSource").load(s"$wh/ev")
      require(tbl.schema.fieldNames.toSet ==
        Set("event_id", "ts", "user_id", "event_type", "value"),
        s"hidden partition columns leaked into ${tbl.schema.simpleString}")
      val filtered = tbl.filter(
        col("ts") >= lit(java.time.LocalDateTime.of(2024, 1, 16, 0, 0)) &&
          col("user_id") === 7L)
      val total = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/ev").length
      val probe = filtered.select("event_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total && planned > 0,
        s"hidden-partition pruning planned nothing out: $planned of $total files")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("value_sum"))
        .orderBy(col("event_type"))
    }),

    // --- CLUSTERED-DISTRIBUTION WRITE under the gate (Iceberg
    //     write.distribution-mode=hash): an 8-task ingest into a days+bucket
    //     hidden-partitioned table would strand up to (tasks x tuples) small
    //     files; `.option("distribute", "true")` makes the write REQUIRE clustered
    //     distribution over the partition expressions — Spark shuffles rows
    //     through the catalog's bucket/days functions (the writer's own transform
    //     definitions) so each tuple lands in ONE task. The require proves the
    //     invariant exactly: files committed == distinct partition tuples. ---
    "q63x_clustered_write" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63x", dir)
      val cat = s"graft_q63x_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.ev
               |  (event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
               |   event_type STRING, value DOUBLE)
               |  PARTITIONED BY (days(ts), bucket(4, user_id))""".stripMargin)
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(8, col("event_id"))
        .writeTo(s"$cat.ev").option("distribute", "true").append()
      val entries = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/ev")
      val tuples = entries.map(_._3).distinct.length
      require(entries.length == tuples && tuples > 0,
        s"clustered write must land ONE file per partition tuple: " +
          s"${entries.length} files over $tuples tuples")
      s.sql(s"""SELECT user_id, event_type, count(*) AS n,
               |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS value_sum
               |FROM $cat.ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // --- PARTITION SPEC EVOLUTION under the gate (Iceberg ADD PARTITION FIELD,
    //     per-data-file spec ids): gen-1 events land under days(ts) alone; a SQL
    //     `CALL cat.system.add_partition_field` adds bucket(4,user_id) WITHOUT
    //     rewriting any file (gen-1 entries are stamped with their old spec id);
    //     gen-2 appends inherit the evolved spec and route by both fields. The
    //     user_id query then prunes gen-2 files through the bucket transform
    //     while gen-1 files — which were never routed by it — all stay planned
    //     (requires pin both), and the aggregate must equal DuckDB's full-table
    //     answer: one wrongly-pruned gen-1 file (over-pruning) or a mislabeled
    //     partition value under the wrong spec breaks the hash gate. ---
    "q63ag_partition_evolution" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63ag", dir)
      val cat = s"graft_q63ag_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      ev.filter(col("event_id") % 2 === 0)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "days(ts)").mode("overwrite").save(s"$wh/ev")
      val gen1Files = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/ev").length
      s.sql(s"CALL $cat.system.add_partition_field('ev', 'bucket(4,user_id)')").collect()
      ev.filter(col("event_id") % 2 === 1)
        .write.format("graft.sources.ManifestDataSource").mode("append").save(s"$wh/ev")
      val total = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/ev").length
      val tbl = s.read.format("graft.sources.ManifestDataSource").load(s"$wh/ev")
      val probe = tbl.filter(col("user_id") === 7L).select("event_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total && planned >= gen1Files,
        s"evolution pruning shape: planned $planned of $total files " +
          s"(gen-1 holds $gen1Files — none of those may bucket-prune)")
      tbl.filter(col("user_id") === 7L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("value_sum"))
        .orderBy(col("event_type"))
    }),

    // --- METADATA TABLES under the gate (Iceberg's inspection surface): three
    //     coalesce(1) appends make the table's history fully DERIVABLE — snapshot
    //     r holds one segment per append so far and one file per (append,
    //     distinct lang) — so `cat.ns.docs.snapshots` itself is oracle-checked
    //     against the relational derivation of the history. ---
    "q63y_snapshots_meta" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63y", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      (0 until 3).foreach { r =>
        docs.filter(col("doc_id") % 3 === r).coalesce(1)
          .write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")
      }
      val cat = s"graft_q63y_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""SELECT snapshot_id, segments, data_files
               |FROM $cat.corpus.docs.snapshots ORDER BY snapshot_id""".stripMargin)
    }),

    // --- MERGE-SCHEMA APPEND under the gate (Delta/Iceberg schema-merge): the
    //     second generation of a corpus arrives with a NEW column; the append
    //     publishes the widened DDL + registry ids inside its own commit (no
    //     separate ALTER), generation-1 files null-fill the column at read time,
    //     and a straddling aggregate counts exactly the generation-2 values. ---
    "q63z_merge_schema" -> ((s, dir) => {
      val wh = freshTmpTable("q63z", dir)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/docs")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("source"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("mergeSchema", "true").mode("append").save(s"$wh/docs")
      s.read.format("graft.sources.ManifestDataSource").load(s"$wh/docs")
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          count(col("source")).as("n_sourced"))
        .orderBy(col("lang"))
    }),

    // --- SNAPSHOT ROLLBACK under the gate, driven through the Iceberg-procedure
    //     SQL surface (CALL cat.system.rollback_to_snapshot): a bad overwrite —
    //     negated values AND a redefined partition spec — is undone by publishing
    //     a new head that re-references snapshot 0's metadata verbatim
    //     (O(metadata), no file copied). The bad snapshot stays time-travelable
    //     (VERSION AS OF 1 still sums negative, require-pinned), the head's
    //     `.snapshots` operation reads 'rollback' (require-pinned), and the
    //     post-rollback append lays out under the RESTORED lang_p spec — the
    //     append's own spec-check would refuse under the bad bucket(4,doc_id)
    //     spec, so the final straddling aggregate passing the oracle proves the
    //     whole table state (files, spec, schema) reverted. ---
    "q76_rollback" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q76", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      // snapshot 0: generation-1 rows (even ids)
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      // snapshot 1: the bad batch — corrupt values, respec'd layout
      docs.withColumn("n_chars", -col("n_chars"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "bucket(4,doc_id)").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q76_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // the Iceberg-procedure SQL surface drives the rollback itself
      val rb = s.sql(s"CALL $cat.system.rollback_to_snapshot('corpus.docs', 0)").head()
      val head = rb.getLong(1)
      require(rb.getLong(0) == 1 && head == 2,
        s"rollback must step head 1 -> 2, got ${rb.getLong(0)} -> $head")
      val badSum = s.sql(s"SELECT CAST(sum(n_chars) AS BIGINT) " +
        s"FROM $cat.corpus.docs VERSION AS OF 1").head().getLong(0)
      require(badSum < 0,
        s"the rolled-back snapshot must stay time-travelable: VERSION AS OF 1 " +
          s"summed $badSum, want the bad batch's negative sum")
      val headOp = s.sql(s"SELECT operation FROM $cat.corpus.docs.snapshots " +
        s"WHERE snapshot_id = $head").head().getString(0)
      require(headOp == "rollback", s"head operation must read 'rollback', got '$headOp'")
      // generation 3: the corrected batch appends under the RESTORED spec
      docs.filter(col("doc_id") % 2 === 1)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")
      s.read.format("graft.sources.ManifestDataSource").load(s"$wh/corpus/docs")
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- CHERRY-PICK under the gate (Iceberg cherrypick_snapshot, the rollback's
    //     companion): a bad append lands BETWEEN two good commits; rolling back to
    //     the last good baseline also discards the good commit that followed, so
    //     the recovery is rollback + CALL cherrypick_snapshot of the good append —
    //     its files re-reference from the new head with FRESH sequence numbers, no
    //     data read or copied. A corrected batch then replaces the bad one, and
    //     the final aggregate equals the plain relational answer; the head chain's
    //     op tags (rollback, cherrypick) are require-pinned off `.snapshots`. ---
    "q77_cherrypick" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q77", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def gen(r: Int) = docs.filter(col("doc_id") % 3 === r)
      gen(0).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs") // snap 0
      gen(1).withColumn("n_chars", -col("n_chars"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")    // snap 1: bad
      gen(2).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")    // snap 2: good
      val cat = s"graft_q77_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      require(s.sql(s"CALL $cat.system.rollback_to_snapshot('corpus.docs', 0)")
        .head().getLong(1) == 3, "rollback must publish head 3")
      require(s.sql(s"CALL $cat.system.cherrypick_snapshot('corpus.docs', 2)")
        .head().getLong(0) == 4, "cherry-pick must publish head 4")
      val ops = s.sql(s"SELECT snapshot_id, operation FROM $cat.corpus.docs.snapshots " +
        "WHERE snapshot_id >= 3 ORDER BY snapshot_id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      require(ops == Seq(3L -> "rollback", 4L -> "cherrypick"),
        s"head chain must read rollback then cherrypick, got $ops")
      gen(1).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")    // snap 5: fixed
      s.read.format("graft.sources.ManifestDataSource").load(s"$wh/corpus/docs")
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- INCREMENTAL batch read (Iceberg incremental-scan analog): three appends
    //     land as three snapshots; .option("startSnapshot", <id-after-first>) must
    //     serve EXACTLY the rows appended after that snapshot — the scan plans
    //     O(delta) files (the require proves a strict subset), the baseline is
    //     never rescanned, and append-only history is enforced. This is the CDC
    //     backbone of a training pipeline: "give me everything that landed since
    //     the corpus version model X trained on". ---
    "q63o_incremental_read" -> ((s, dir) => {
      val out = freshTmpTable("q63o", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def part(r: Int) = docs.filter(col("doc_id") % 3 === r)
      part(0).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(out)
      // the baseline rides a snapshot TAG — "everything since the tagged corpus"
      graft.sources.ManifestTables.tagLatest(out, "trained")
      part(1).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(out)
      part(2).write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(out)
      val total = graft.sources.ManifestMaintenance.liveDataFiles(out).length
      val delta = s.read.format("graft.sources.ManifestDataSource")
        .option("startSnapshot", "trained").load(out)
      val probe = delta.select("doc_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total,
        s"incremental scan must plan a strict subset of the table's $total files, planned $planned")
      delta.groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- CDC CHANGELOG read under the gate (Iceberg changelog / Delta CDF analog):
    //     the full corpus is tagged v0, a merge-on-read DELETE removes doc_id%5
    //     rows (positional delta — no file rewritten), an append lands doc_id%7
    //     rows, and `.option("changelog", true).option("startSnapshot", "v0")`
    //     must serve BOTH sides with a _change_type column: deletes carry their
    //     pre-delete column values read back from the baseline files at exactly
    //     the deleted positions, inserts are the appended rows. The aggregate
    //     equals the relational UNION-ALL derivation bit-for-bit. ---
    "q63p_changelog" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63p", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      docs.write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63p_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // tag through the SQL procedure surface (same entry point as tagLatest),
      // putting CALL create_tag under this query's oracle gate
      s.sql(s"CALL $cat.system.create_tag('corpus.docs', 'v0')").collect()
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 5 = 0")
      finally s.conf.unset("spark.graft.manifest.deleteMode")
      docs.filter(col("doc_id") % 7 === 0)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")
      s.read.format("graft.sources.ManifestDataSource")
        .option("changelog", "true").option("startSnapshot", "v0")
        .load(s"$wh/corpus/docs")
        .groupBy(col("_change_type").as("change"), col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("change"), col("lang"))
    }),

    // --- STREAMING CDC under the gate (Delta Change Data Feed readStream analog):
    //     the changelog is consumed AS A STREAM. Drain 1 is the state load (every
    //     live row arrives as an insert); then a merge-on-read DELETE and an
    //     append land, and the restarted stream (same checkpoint) emits exactly
    //     the delete rows (pre-delete values) and the fresh inserts. The sink's
    //     aggregate equals the relational three-way UNION derivation only if
    //     every change event crossed exactly once. ---
    "q65_stream_changelog" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q65", dir)
      val sink = freshTmpTable("q65_sink", dir)
      val ckpt = freshTmpTable("q65_ckpt", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      docs.write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      def drain(): Unit = {
        val q = s.readStream.format("graft.sources.ManifestDataSource")
          .option("changelog", "true").load(s"$wh/corpus/docs")
          .select(col("_change_type").as("change"), col("lang_p"), col("n_chars"))
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain() // state load: every live row arrives as an insert
      val cat = s"graft_q65_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 5 = 0")
      finally s.conf.unset("spark.graft.manifest.deleteMode")
      docs.filter(col("doc_id") % 7 === 0)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(s"$wh/corpus/docs")
      drain() // the changes, exactly once
      s.read.parquet(sink)
        .groupBy(col("change"), col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("change"), col("lang"))
    }),

    // --- STREAMING SOURCE under the gate (Iceberg incremental-append streaming
    //     read analog): the manifest table is read AS A STREAM — offsets are
    //     snapshot ids, each micro-batch plans exactly the files appended in the
    //     offset range — and routed through the exactly-once manifest SINK into a
    //     second manifest table. The first run drains two snapshots; a THIRD lands
    //     and the restarted stream (same checkpoint) must emit only the delta; a
    //     final idle restart must commit nothing. The read-back aggregate equals
    //     the full-corpus oracle ONLY if every row crossed exactly once. ---
    "q66_stream_manifest_read" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val src = freshTmpTable("q66_src", dir)
      val dst = freshTmpTable("q66_dst", dir)
      val ckpt = freshTmpTable("q66_ckpt", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def landed(r: Int): Unit = docs.filter(col("doc_id") % 3 === r)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("append").save(src)
      def drain(): Unit = {
        val stream = s.readStream.format("graft.sources.ManifestDataSource").load(src)
        val q = graft.sources.ManifestStreamSink.start(stream, dst, "lang_p", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      landed(0); landed(1)
      drain()
      landed(2)
      drain()
      drain() // idle restart on the same checkpoint: a pure no-op on dst
      s.read.format("graft.sources.ManifestDataSource").load(dst)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- STREAMING ADMISSION CONTROL under the gate: same source->sink loop as
    //     q66 but with maxFilesPerTrigger=2 — at 10^12 turns a snapshot may carry
    //     thousands of files and an unbounded micro-batch is a straggler/OOM
    //     hazard, so offsets split pure-append spans at file granularity. The
    //     sink commits one dst snapshot per micro-batch, so the require proves
    //     the drain REALLY ran ceil(freshFiles/2) bounded batches; the aggregate
    //     equals the oracle only if every row crossed exactly once across the
    //     splits. startSnapshot=0 also gates the delta semantics: snapshot-0 rows
    //     (doc_id % 3 == 0) must never enter the stream. ---
    "q66b_stream_rate_limited" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q66b", dir)
      val src = s"$wh/stream/src"; val dst = s"$wh/stream/dst"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def landed(r: Int): Unit = docs.filter(col("doc_id") % 3 === r)
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode(if (r == 0) "overwrite" else "append").save(src)
      // bounded O(files) probe via the PUBLIC files metadata table
      def nFiles(d: String): Int =
        s.read.format("graft.sources.ManifestFilesSource").load(d).count().toInt
      landed(0)
      val bootstrapFiles = nFiles(src)
      landed(1); landed(2)
      val fresh = nFiles(src) - bootstrapFiles
      val stream = s.readStream.format("graft.sources.ManifestDataSource")
        .option("startSnapshot", "0").option("maxFilesPerTrigger", "2").load(src)
      val q = graft.sources.ManifestStreamSink.start(stream, dst, "lang_p", s"$wh/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val cat = s"graft_q66b_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // the sink commits one dst snapshot per non-empty micro-batch
      val batches = s.sql(s"SELECT count(*) FROM $cat.stream.dst.snapshots")
        .head().getLong(0).toInt
      require(batches == (fresh + 1) / 2 && batches > 1,
        s"expected ${(fresh + 1) / 2} rate-limited micro-batches over $fresh fresh " +
          s"files, dst committed $batches")
      s.read.format("graft.sources.ManifestDataSource").load(dst)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- SNAPSHOT TAGS under the gate: the training-reproducibility primitive.
    //     The full corpus is tagged 'trainset', then OVERWRITTEN by a filtered
    //     subset, then expiry reclaims everything untagged — and the aggregate
    //     read back by NAME must still equal the full-corpus oracle: the exact
    //     table state a model trained on stays readable however the table moves
    //     on. (The require proves the latest snapshot really is the subset.) ---
    "q63m_snapshot_tag" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63m", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      docs.write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      graft.sources.ManifestTables.tagLatest(s"$wh/corpus/docs", "trainset")
      docs.filter(col("lang_p") === "en")
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      graft.sources.ManifestTables.expireSnapshots(s"$wh/corpus/docs", keepLast = 1)
      val cat = s"graft_q63m_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val latestLangs = s.sql(s"SELECT count(DISTINCT lang_p) FROM $cat.corpus.docs")
        .head().getLong(0)
      require(latestLangs == 1, s"latest should be the en-only overwrite, saw $latestLangs langs")
      s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs VERSION AS OF 'trainset'
           |GROUP BY lang_p ORDER BY lang""".stripMargin)
    }),

    // --- SORT-ORDER CLUSTERING under the gate: hash-shuffled ingest defeats
    //     data-skipping (every file spans the whole doc_id range — the first
    //     require proves the range scan opens ALL files), clusterBy re-sorts each
    //     partition into range-disjoint files (footer-derived stats), and the same
    //     scan then opens a strict subset (second require). The aggregate must
    //     equal the relational oracle before == after — clustering moves bytes,
    //     never rows. ---
    "q63l_cluster_skipping" -> ((s, dir) => {
      val wh = freshTmpTable("q63l", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .repartition(6, col("n_chars")) // orthogonal key: doc_id ranges interleave
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/docs")
      def tbl = s.read.format("graft.sources.ManifestDataSource").load(s"$wh/docs")
      def planned(): Int = {
        val probe = tbl.filter(col("doc_id") >= 100 && col("doc_id") < 300).select("doc_id")
        probe.collect()
        probe.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.getNumPartitions
        }.sum
      }
      val before = planned()
      val perFile = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/docs")
        .map(_._2).max + 1
      require(graft.sources.ManifestMaintenance
        .clusterBy(s, s"$wh/docs", Seq("doc_id"), perFile).isDefined,
        "clusterBy found nothing to rewrite")
      val totalAfter = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/docs").length
      val afterN = planned()
      require(afterN < totalAfter && afterN < before,
        s"clustering must sharpen skipping: $before files pre-cluster, " +
          s"$afterN of $totalAfter post-cluster")
      tbl.filter(col("doc_id") >= 100 && col("doc_id") < 300)
        .groupBy(col("lang_p").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- MERGE-ON-READ positional DELETE under the gate: a non-partition-predicate
    //     DELETE runs as a delta (the scan emits matching rows' (_file,_pos)
    //     identities, one positional-delete segment commits, NO data file is read
    //     back or rewritten — the require()s prove it), readers apply the positions,
    //     and the aggregate must equal the relational complement. Then compaction
    //     folds the delta into real files and the answer must NOT move. ---
    "q63k_merge_on_read" -> ((s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val wh = freshTmpTable("q63k", dir)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/corpus/docs")
      val cat = s"graft_q63k_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val filesBefore = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
        .map(_._1).toSet
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try s.sql(s"DELETE FROM $cat.corpus.docs WHERE doc_id % 7 = 3")
      finally s.conf.unset("spark.graft.manifest.deleteMode")
      val filesAfter = graft.sources.ManifestMaintenance.liveDataFiles(s"$wh/corpus/docs")
        .map(_._1).toSet
      require(filesAfter == filesBefore,
        "merge-on-read DELETE must leave every data file in place")
      def agg() = s.sql(
        s"""SELECT lang_p AS lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM $cat.corpus.docs GROUP BY lang_p ORDER BY lang""".stripMargin)
      // the DELTA-carrying read (positions applied at scan time) answers first...
      val deltaAnswer = agg().collect().toSeq
      // ...then compaction folds the delta into real files, and the SAME aggregate
      // must not move by a row (the gate re-runs it against DuckDB)
      require(graft.sources.ManifestMaintenance
        .compactDataFiles(s, s"$wh/corpus/docs", 64L << 20).isDefined,
        "compaction found nothing to fold — the merge-on-read setup is broken")
      val folded = agg()
      require(folded.collect().toSeq == deltaAnswer,
        "compaction changed the merge-on-read answer")
      folded
    }),

    // --- storage-partitioned join UNDER THE GATE: two manifest tables written
    //     co-partitioned on lang_p report KeyGroupedPartitioning (HasPartitionKey),
    //     and with V2 bucketing on + broadcast off the join AND the aggregate plan
    //     with ZERO exchanges before the final presentation sort (PlanShapeSpec pins
    //     it). The bucketing/broadcast confs live on a CLONED session (newSession:
    //     same SparkContext, separate SQLConf), so the rest of the catalog plans
    //     untouched — the scoped-conf answer to running SPJ inside a shared-session
    //     catalog. ---
    "q69_spj_manifest" -> ((s, dir) => {
      import s.implicits._
      val wh = freshTmpTable("q69", dir)
      t(s, dir, "documents").withColumn("lang_p", col("lang")).drop("lang")
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/docs")
      Seq(("en", 1L), ("fr", 2L), ("es", 3L), ("de", 4L), ("zh", 5L))
        .toDF("lang_p", "weight")
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "lang_p").mode("overwrite").save(s"$wh/dims")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = s2.read.format("graft.sources.ManifestDataSource").load(s"$wh/docs")
      val dims = s2.read.format("graft.sources.ManifestDataSource").load(s"$wh/dims")
      docs.join(dims, "lang_p")
        .groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars") * col("weight")).cast("long").as("weighted_chars"))
        .orderBy(col("lang_p"))
    }),

    // --- multimodal frame sampling through the REAL batched mapPartitions path:
    //     documents become binary assets with a deterministic kind; extractFeatures
    //     gathers fixed-size batches per partition and emits byte/frame counts (the
    //     stride/frameLen boundary math a keyframe sampler needs). The features
    //     column (stub codec) is sbt-gated; the distributed plumbing is oracle-gated
    //     here. ---
    "q61_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents")
        .select(col("doc_id").as("asset_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
          col("text").cast("binary").as("payload"),
          col("source"))
        .as[Asset]
      Multimodal.extractFeatures(s, assets, numPartitions = s.sparkContext.defaultParallelism)
        .toDF()
        .select(col("asset_id"), col("kind"), col("n_bytes"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("asset_id"))
    }),

    // --- log pipeline stage 1: grok-style derivation of transcripts from events ---
    "q70_parse_transcripts" -> ((s, dir) =>
      eventTranscripts(s, dir).orderBy(col("conv_id"), col("turn_idx"))),

    // --- agent-behavior mining over the transcript table: adjacent-step transition
    //     counts (role, or role:tool when a tool fires) per conversation — the
    //     routing-diagnostics rollup an agent-log operator reads. Scale shape: the
    //     lead() window partitions by conv_id (10^12 turns / ~10^8 convs = bounded
    //     turns per partition), the transition agg is label-cardinality-sized. ---
    "q94_tool_chains" -> ((s, dir) => {
      val step = when(col("tool") === "", col("role"))
        .otherwise(concat(col("role"), lit(":"), col("tool")))
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      eventTranscripts(s, dir)
        .select(col("conv_id"), col("turn_idx"), step.as("step"))
        .withColumn("next_step", lead(col("step"), 1).over(w))
        .filter(col("next_step").isNotNull)
        .groupBy(col("step"), col("next_step"))
        .agg(count(lit(1)).as("n"), countDistinct(col("conv_id")).as("n_convs"))
        .orderBy(col("n").desc, col("step"), col("next_step"))
    }),

    // --- log pipeline stage 2: FM-shard substring routing with match counts ---
    "q71_route_fm" -> ((s, dir) => {
      val cfg = graft.pipeline.TranscriptPipeline.Config(
        numShards = 16, saltBlock = 64, sampleRate = 8, rules = RouteRulesEvents)
      val shards = ShardTableCache.eventShards(s, dir, cfg)
      graft.pipeline.TranscriptPipeline.route(s, shards, cfg.rules)
        .select(col("sink"), col("conv_id"), col("turn_idx"), col("n_matches"))
        .orderBy(col("sink"), col("conv_id"), col("turn_idx"))
    }),

    // --- log pipeline stage 3: per-conversation aggregates over routed rows ---
    "q72_conv_agg" -> ((s, dir) => {
      val cfg = graft.pipeline.TranscriptPipeline.Config(
        numShards = 16, saltBlock = 64, sampleRate = 8, rules = RouteRulesEvents)
      val shards = ShardTableCache.eventShards(s, dir, cfg)
      val routed = graft.pipeline.TranscriptPipeline.route(s, shards, cfg.rules)
      routed.groupBy(col("sink"), col("conv_id"))
        .agg(count(lit(1)).as("n_turns"), sum(col("n_matches")).as("n_matches"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .orderBy(col("sink"), col("conv_id"))
    }),

    // --- THE NORTH-RULE COMPOSITION under the gate: the transcript pipeline runs
    //     OVER the Iceberg-analog table, not over raw files. Turns land in a
    //     manifest table through the DSv2 write (partitioned by role), are read
    //     back through the pinned snapshot, FM shards build FROM that read,
    //     substring routing fans out, and the per-sink aggregate must equal the
    //     relational derivation — transcripts-as-a-table end to end. ---
    "q74_pipeline_manifest" -> ((s, dir) => {
      import s.implicits._
      val out = freshTmpTable("q74", dir)
      eventTranscripts(s, dir).withColumn("role_p", col("role"))
        .write.format("graft.sources.ManifestDataSource")
        .option("partcol", "role_p").mode("overwrite").save(out)
      val cfg = graft.pipeline.TranscriptPipeline.Config(
        numShards = 16, saltBlock = 64, sampleRate = 8, rules = RouteRulesEvents)
      val shards = ShardTableCache.manifestEventShards(s, dir, cfg, {
        s.read.format("graft.sources.ManifestDataSource").load(out)
          .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
            col("tool"), col("ts"))
          .as[graft.pipeline.Turn]
      })
      graft.pipeline.TranscriptPipeline.route(s, shards, cfg.rules)
        .groupBy(col("sink"))
        .agg(countDistinct(col("conv_id")).as("n_convs"),
          count(lit(1)).as("n_turns"), sum(col("n_matches")).as("n_matches"))
        .orderBy(col("sink"))
    }),

    // --- INCREMENTAL INDEX MAINTENANCE under the gate: at 10^12 turns a full
    //     re-index per append is impossible — the shard table must EXTEND. Phase-1
    //     turns land in a manifest table and are indexed; the table is tagged; more
    //     turns append; DELTA shards build from the INCREMENTAL read (startSnapshot
    //     = the tag — only the new files are ever scanned) and union with the
    //     existing shard table. Routing over the union must equal the relational
    //     derivation over ALL turns: a missed or doubled delta breaks the gate. ---
    "q75_incremental_index" -> ((s, dir) => {
      import s.implicits._
      val cfg = ShardTableCache.effectiveCfg(graft.pipeline.TranscriptPipeline.Config(
        numShards = 16, saltBlock = 64, sampleRate = 8, rules = RouteRulesEvents))
      val shards = ShardTableCache.customShards(s, s"incr:$dir", cfg, {
        val out = freshTmpTable("q75", dir)
        val turns = eventTranscripts(s, dir).withColumn("role_p", col("role"))
        def save(mode: String)(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("graft.sources.ManifestDataSource")
            .option("partcol", "role_p").mode(mode).save(out)
        save("overwrite")(turns.filter(col("turn_idx") % 2 === 0))
        graft.sources.ManifestTables.tagLatest(out, "indexed")
        save("append")(turns.filter(col("turn_idx") % 2 === 1))
        def read(opts: Map[String, String]) = {
          val r = opts.foldLeft(s.read.format("graft.sources.ManifestDataSource")) {
            case (rd, (k, v)) => rd.option(k, v)
          }
          r.load(out).select(col("conv_id"), col("turn_idx"), col("role"),
            col("text"), col("tool"), col("ts")).as[graft.pipeline.Turn]
        }
        val indexed = graft.pipeline.TranscriptPipeline.buildShards(s,
          read(Map("snapshot" -> "indexed")), cfg)
        val delta = graft.pipeline.TranscriptPipeline.buildShards(s,
          read(Map("startSnapshot" -> "indexed")), cfg)
        indexed.union(delta)
      })
      graft.pipeline.TranscriptPipeline.route(s, shards, cfg.rules)
        .groupBy(col("sink"))
        .agg(countDistinct(col("conv_id")).as("n_convs"),
          count(lit(1)).as("n_turns"), sum(col("n_matches")).as("n_matches"))
        .orderBy(col("sink"))
    }),

    // --- INCREMENTAL DEDUP over the manifest table: the ingest-time shape at
    //     100 TB — dedup ONLY the delta against the existing corpus (O(batch) work
    //     on the new side + one column-pruned hash scan of the base; never an
    //     all-corpus re-dedup per ingest). The base corpus (doc_id % 3 != 0) is
    //     committed and tagged 'deduped'; the ingest batch = genuinely new docs
    //     (doc_id % 3 = 0) + planted EXACT duplicates of base docs (+1000000 ids,
    //     same text — must drop against the corpus) + planted in-batch duplicates
    //     (+2000000 ids — the min-id original must win). The batch arrives via the
    //     INCREMENTAL read (startSnapshot = tag, O(delta) files, require-pinned
    //     strict subset); in-batch keepers are min(doc_id) per md5; survivors
    //     LEFT ANTI the TAGGED base read projected to md5(text) only (column
    //     pruning keeps the existing-corpus side a 1-column scan — at 10^12 rows
    //     that hash column lives as its own incrementally-maintained table, the
    //     q75 pattern). The oracle re-derives the batch construction and both
    //     dedup levels relationally. ---
    "q83_incremental_dedup" -> ((s, dir) => {
      val out = freshTmpTable("q83", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang").as("lang_p"))
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      val crossDup = base.filter(col("doc_id") % 10 === 1)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val batchDup = fresh.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
      def save(mode: String)(df: DataFrame): Unit =
        df.write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").mode(mode).save(out)
      save("overwrite")(base)
      graft.sources.ManifestTables.tagLatest(out, "deduped")
      save("append")(fresh.unionByName(crossDup).unionByName(batchDup))
      val total = graft.sources.ManifestMaintenance.liveDataFiles(out).length
      val batch = s.read.format("graft.sources.ManifestDataSource")
        .option("startSnapshot", "deduped").load(out)
      val probe = batch.select("doc_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total,
        s"incremental dedup must plan a strict subset of the table's $total files, planned $planned")
      val hashed = batch.withColumn("h", md5(col("text")))
      val keepers = hashed.join(
        hashed.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id")),
        Seq("h", "doc_id"))
      val baseHashes = s.read.format("graft.sources.ManifestDataSource")
        .option("snapshot", "deduped").load(out)
        .select(md5(col("text")).as("h"))
      val survivors = keepers.join(baseHashes, Seq("h"), "left_anti")
      val perLang = hashed.groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_batch"), countDistinct(col("h")).as("n_batch_unique"))
      survivors.groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_new"), sum(col("doc_id")).as("sum_new_ids"))
        .join(perLang, Seq("lang_p"))
        .select(col("lang_p").as("lang"), col("n_batch"), col("n_batch_unique"),
          col("n_new"), col("sum_new_ids"))
        .orderBy(col("lang"))
    }),

    // --- INCREMENTAL MATERIALIZED-VIEW refresh from the CDC changelog (Iceberg
    //     changelog / Delta CDF incremental-view-maintenance): the per-lang rollup
    //     is MATERIALIZED into its own manifest table at tag v0; the corpus then
    //     mutates (a partition-scoped merge-on-read DELETE and an append); the
    //     refresh reads ONLY the changelog over (v0, head] — signed +1/-1 deltas
    //     per change row — and full-outer-merges them into the STORED view, which
    //     recommits as a new MV snapshot. At 100 TB the refresh cost tracks the
    //     CHANGE RATE, never the corpus: the base is re-read only at the deleted
    //     positions of the files the delta names (require-pinned strict subset of
    //     the table's files), and the view table itself is lang-cardinality-sized.
    //     The oracle is the FULL recompute — the gate is exactly the MV-maintenance
    //     equivalence. ---
    "q84_incremental_mv" -> ((s, dir) => {
      val out = freshTmpTable("q84", dir)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      def save(mode: String, path: String)(df: DataFrame): Unit =
        df.write.format("graft.sources.ManifestDataSource")
          .option("partcol", "lang_p").mode(mode).save(path)
      save("overwrite", s"$out/docs")(docs)
      graft.sources.ManifestTables.tagLatest(s"$out/docs", "v0")
      // materialize the view AT v0 (pinned read) into its own manifest table
      s.read.format("graft.sources.ManifestDataSource")
        .option("snapshot", "v0").load(s"$out/docs")
        .groupBy(col("lang_p"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .write.format("graft.sources.ManifestDataSource")
        .mode("overwrite").save(s"$out/mv")
      // corpus mutates: partition-scoped MoR delete + an all-lang append
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val cat = s"graft_q84_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", out)
      s.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 5 = 0 AND lang_p = 'de'")
      finally s.conf.unset("spark.graft.manifest.deleteMode")
      save("append", s"$out/docs")(docs.filter(col("doc_id") % 7 === 0))
      // refresh: the changelog is the ONLY corpus access — prove it plans a
      // strict subset of the table's live files (delta files + the one deleted
      // partition's baseline files, never the other languages' baselines)
      val changes = s.read.format("graft.sources.ManifestDataSource")
        .option("changelog", "true").option("startSnapshot", "v0")
        .load(s"$out/docs")
      val total = graft.sources.ManifestMaintenance.liveDataFiles(s"$out/docs").length
      val probe = changes.select("doc_id")
      probe.collect() // AQE: executedPlan is final only after execution
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
      require(planned < total,
        s"MV refresh must plan a strict subset of the table's $total files, planned $planned")
      val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
      val delta = changes.groupBy(col("lang_p"))
        .agg(sum(sign).as("d_docs"), sum(sign * col("n_chars")).as("d_chars"))
      val stored = s.read.format("graft.sources.ManifestDataSource").load(s"$out/mv")
      val refreshed = stored.join(delta, Seq("lang_p"), "full_outer")
        .select(col("lang_p"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("total_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
            .as("total_chars"))
        .filter(col("n_docs") > 0)
      // the refresh COMMITS as the view's next snapshot; serve the answer from
      // storage so the gate covers the full materialize->mutate->refresh->read loop
      refreshed.write.format("graft.sources.ManifestDataSource")
        .mode("overwrite").save(s"$out/mv")
      s.read.format("graft.sources.ManifestDataSource").load(s"$out/mv")
        .select(col("lang_p").as("lang"), col("n_docs"), col("total_chars"))
        .orderBy(col("lang"))
    }),

    // --- TRAINING-EXAMPLE ASSEMBLY over transcripts: each assistant turn becomes a
    //     (context, target) pair — the preceding up-to-3 turns rendered "role: text"
    //     and joined in turn order. The window partitions by conv_id (bounded by ONE
    //     conversation, never a hot key at 10^12 turns) with a ROWS-bounded frame,
    //     so per-task state is O(context), not O(conversation); collect_list over an
    //     ordered frame preserves turn order, which the oracle's windowed string_agg
    //     must reproduce byte-for-byte. ---
    "q85_context_pairs" -> ((s, dir) => {
      val ctxFrame = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
        .rowsBetween(-3, -1)
      eventTranscripts(s, dir)
        .withColumn("line", concat(col("role"), lit(": "), col("text")))
        .withColumn("context", concat_ws("\n", collect_list(col("line")).over(ctxFrame)))
        .withColumn("n_context_turns", count(lit(1)).over(ctxFrame).cast("int"))
        .filter(col("role") === "assistant" && col("turn_idx") >= 1)
        .select(col("conv_id"), col("turn_idx"), col("n_context_turns"),
          col("context"), col("text").as("target"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // --- chunk-level exact dedup (the C4/RefinedWeb span-dedup shape on this
    //     corpus): every document splits into fixed 8-word chunks, each chunk
    //     content keeps only its GLOBAL first occurrence (min (doc_id, chunk_idx) —
    //     a hash agg on the fixed-width md5, never a corpus-wide window), and
    //     surviving chunks reassemble into cleaned documents. Work is O(total
    //     chunks): one agg shuffle on the 16-byte hash, one equi-join back, one
    //     reassembly shuffle on doc_id; docs whose every chunk was seen earlier
    //     drop out entirely (the oracle pins 497 of 500 at sf0.001). ---
    "q86_chunk_dedup" -> ((s, dir) => {
      // typed chunk kernel (shared with q97): the chunk hash is computed ONCE in
      // the kernel instead of twice in expressions (the old join re-hashed every
      // chunk row to match `md5(chunk) = h`)
      val chunks = chunkRows(s, dir)
      val keepers = chunks
        .groupBy(col("h").as("kh"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
        .select(col("kh"), col("first.doc_id").as("k_doc"), col("first.chunk_idx").as("k_idx"))
      chunks
        .join(keepers, col("h") === col("kh") &&
          col("doc_id") === col("k_doc") && col("chunk_idx") === col("k_idx"))
        .groupBy(col("doc_id"))
        .agg(min(col("lang")).as("lang"),
          count(lit(1)).as("kept_chunks"),
          array_join(transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // --- CCNet/RefinedWeb-style BOILERPLATE removal: chunks (8-word spans, the
    //     engine's paragraph analog) whose document frequency reaches the threshold
    //     are stripped from EVERY document — the complement of q86, which keeps one
    //     global first copy of each duplicated chunk. A document that was all
    //     boilerplate disappears entirely (both sides agree on that semantics).
    //     df is an aggregation keyed on the chunk hash and the strip is one LEFT
    //     ANTI join — linear, never all-pairs. ---
    "q97_boilerplate" -> ((s, dir) => {
      // typed chunk kernel (shared with q86); hash computed once in the kernel
      val chunks = chunkRows(s, dir)
      val boiler = chunks.groupBy(col("h").as("kh"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select(col("kh"))
      chunks.join(boiler, col("h") === col("kh"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(min(col("lang")).as("lang"),
          count(lit(1)).as("kept_chunks"),
          array_join(transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // --- Gopher-style composite quality filter (Rae et al. 2021 "Scaling Language
    //     Models", appendix A1.1 rule shapes, thresholds adapted to the synthetic
    //     vocabulary): five rules composed per document, all in INTEGER math
    //     (mean-word-length and ratio rules cross-multiplied) so the DuckDB gate is
    //     bit-exact. Scale shape: pure per-row map, no shuffle — the top-word count
    //     is a HOF over the row's own (length-capped) word list. ---
    "q87_gopher_filter" -> ((s, dir) => {
      gopherCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_words"), col("n_wchars"),
          col("n_distinct"), col("n_stop"), col("top_cnt"),
          (col("n_words") >= 30 && col("n_words") <= 80).as("r_wordcount"),
          (col("n_wchars") >= col("n_words") * 4 &&
            col("n_wchars") <= col("n_words") * 7).as("r_meanlen"),
          (col("n_stop") >= 2).as("r_stopwords"),
          ((col("n_words") - col("n_distinct")) * 2 <= col("n_words")).as("r_dupfrac"),
          (col("top_cnt") * 10 <= col("n_words")).as("r_topword"))
        .withColumn("pass",
          col("r_wordcount") && col("r_meanlen") && col("r_stopwords") &&
            col("r_dupfrac") && col("r_topword"))
        .orderBy(col("doc_id"))
    }),

    // --- CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.4): score every
    //     document against the corpus bigram LM (q48's kernel), then split each
    //     language into head/middle/tail thirds. Scale shape: the cutoffs come from a
    //     per-(lang, score) HISTOGRAM — distinct fixed-point scores are bounded by the
    //     1e6 scale factor, never by corpus size — so the lang-partitioned cumulative
    //     window runs over aggregated rows (the exact q56-fix contract), and documents
    //     are bucketed by VALUE against two broadcast thresholds, never ranked. ---
    "q88_ccnet_buckets" -> ((s, dir) =>
      ccnetBuckets(tWide(s, dir, "documents")).orderBy(col("doc_id"))),

    // --- the COMPOSED training-mix pipeline: Gopher quality gate -> exact dedup
    //     (min-doc_id keeper per content hash) -> CCNet LM bucketing computed over
    //     exactly the filtered+deduped survivors -> drop the tail third -> per-lang
    //     deterministic md5-coin downsampling. Every stage is individually
    //     oracle-proven (q87/q40/q88/q55); this gate proves they COMPOSE row-exactly
    //     — the answer to "assemble a training mix" as one declarative plan. Scale
    //     shape inherits from the pieces: per-row maps, one hash agg + semi-join,
    //     bounded-histogram cutoffs, broadcast rate table. ---
    "q91_training_mix" -> ((s, dir) => {
      import s.implicits._
      // lazy checkpoint: the Gopher rule pass (per-row HOFs over the word list)
      // feeds the keeper agg AND the semi-join — one rule pass per action
      val survivors = gopherPass(tWide(s, dir, "documents")).localCheckpoint(false)
      val keepers = survivors.groupBy(md5s(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val deduped = survivors.join(keepers, Seq("doc_id"), "left_semi")
      val rates = Seq(("en", "c000"), ("fr", "a000"), ("es", "8000"),
        ("de", "ffff"), ("zh", "4000")).toDF("lang", "thresh")
      ccnetBuckets(deduped)
        .filter(col("bucket") =!= "tail")
        .join(broadcast(rates), Seq("lang"))
        .filter(substring(md5s(concat(lit("m"), col("doc_id").cast("string"))),
          1, 4) < col("thresh"))
        .select(col("doc_id"), col("lang"), col("score_fp"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // --- DSIR-shaped importance selection (Xie et al. 2023, fixed-point variant):
    //     hash word unigrams into 4096 buckets (12-bit md5 prefix), estimate the
    //     add-one-smoothed target/raw likelihood ratio per bucket from a target slice
    //     (source = 'src0'), score each document by its mean instance ratio in integer
    //     math, and keep the top fifth of every language by VALUE threshold. Scale
    //     shape: the ratio table is <= 4096 rows (broadcast), scoring is one equi-join
    //     + one doc-keyed agg, and selection reuses q88's bounded-histogram cutoff —
    //     no global sort, no rank over raw documents. ---
    "q89_dsir_select" -> ((s, dir) => dsirSelect(s, dir, targetSource = "src0")),

    // --- BM25 ranked retrieval (Robertson/Sparck Jones, k1=1.2 b=0.75) in FIXED
    //     POINT: idf is the raw-odds (N-df+0.5)/(df+0.5) form (doubled to stay
    //     integral), the tf saturation term is cleared of fractions by multiplying
    //     through by 10*avgdl*N (avgdl = n_words/n_docs substituted exactly), so both
    //     engines rank by identical BIGINT scores. Scale shape: query terms and the
    //     per-term df table broadcast; the two corpus scalars (N docs, total words)
    //     come from ONE bounded 1-row collect — the statistics job a production
    //     deployment caches with the table (a constant-key broadcast join constant-
    //     folds into the banned nested loop, so the collect IS the clean shape);
    //     top-10 per query is TWO-LEVEL — per-(query, doc_id%16) local top-10 first,
    //     so the final per-query window sees <= 160 rows, never the corpus (a
    //     handful of query ids would otherwise be the q56 hot-partition shape).
    //     Fixed-point ranges fit BIGINT through sf0.1 x1000; production would widen
    //     to decimal(38). ---
    "q90_bm25_topk" -> ((s, dir) => bm25TopK(s, dir,
      Seq((1L, "scan"), (1L, "filter"), (1L, "join"), (2L, "hash"),
        (2L, "merge"), (3L, "spark"), (3L, "stream"), (3L, "window")))),

    // --- log pipeline invariant: routed-turn text RECONSTRUCTED from the shard must
    //     equal the input text (per-turn text equality, checked by the oracle) ---
    "q73_turn_equality" -> ((s, dir) => {
      val cfg = graft.pipeline.TranscriptPipeline.Config(
        numShards = 16, saltBlock = 64, sampleRate = 8, rules = RouteRulesEvents)
      val shards = ShardTableCache.eventShards(s, dir, cfg)
      graft.pipeline.TranscriptPipeline.route(s, shards, Seq(RouteRulesEvents.head))
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .orderBy(col("conv_id"), col("turn_idx"))
    })
  )

  // ---------------------------------------------------------------------------- oracles

  private val patternList = FmPatterns.map(p => s"'$p'").mkString("[", ", ", "]")

  val oracleSql: Map[String, String] = Map(
    "q20_fm_count" ->
      s"""SELECT pattern, CAST(sum(cnt) AS BIGINT) AS n_matches FROM (
         |  SELECT p.pattern, ${duckOverlapCount("p.pattern")} AS cnt
         |  FROM documents, (SELECT unnest($patternList) AS pattern) p
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_fm_boundary_parts" ->
      """SELECT doc_id, CAST(strpos(text, 'window') AS BIGINT) AS p,
        |  CASE WHEN strpos(text, 'window') = 1 THEN ''
        |       ELSE substr(text, 1, strpos(text, 'window') - 1) END AS prefix,
        |  substr(text, strpos(text, 'window') + 6) AS suffix
        |FROM documents WHERE contains(text, 'window') ORDER BY doc_id""".stripMargin,
    "q26_fm_prune_sql" ->
      s"""SELECT pattern, CAST(sum(cnt) AS BIGINT) AS n_matches FROM (
         |  SELECT p.pattern, ${duckOverlapCount("p.pattern")} AS cnt
         |  FROM documents, (SELECT unnest(['merge', 'the ', 'zz-absent']) AS pattern) p
         |) GROUP BY 1 HAVING sum(cnt) > 0 ORDER BY 1""".stripMargin,
    // q26b: identical oracle — the catalog-resolved SQL surface must land on the
    // same answer as the readPruned + session-function surface
    "q26b_fm_catalog_pushdown" ->
      s"""SELECT pattern, CAST(sum(cnt) AS BIGINT) AS n_matches FROM (
         |  SELECT p.pattern, ${duckOverlapCount("p.pattern")} AS cnt
         |  FROM documents, (SELECT unnest(['merge', 'the ', 'zz-absent']) AS pattern) p
         |) GROUP BY 1 HAVING sum(cnt) > 0 ORDER BY 1""".stripMargin,
    "q21_fm_locate" ->
      s"""SELECT doc_id, pattern, CAST(i - 1 AS BIGINT) AS pos FROM (
         |  SELECT d.doc_id, p.pattern,
         |    unnest(list_filter(range(1, length(text) + 2 - length(p.pattern)),
         |      i -> substr(text, i, length(p.pattern)) = p.pattern)) AS i
         |  FROM documents d, (SELECT unnest(['merge','window']) AS pattern) p
         |) ORDER BY pattern, doc_id, pos""".stripMargin,
    "q22_fm_extract" ->
      """SELECT doc_id, substr(text, 11, 20) AS snippet FROM documents
        |WHERE length(text) >= 10 ORDER BY doc_id""".stripMargin,
    "q23_fm_reconstruct" ->
      """SELECT doc_id, text FROM documents WHERE contains(text, 'window')
        |ORDER BY doc_id""".stripMargin,
    "q24_fm_count_expr" ->
      s"""SELECT pattern, CAST(sum(cnt) AS BIGINT) AS n_matches FROM (
         |  SELECT p.pattern, ${duckOverlapCount("p.pattern")} AS cnt
         |  FROM documents, (SELECT unnest(['batch', 'value']) AS pattern) p
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_fm_locate_expr" ->
      s"""SELECT doc_id, pattern, CAST(i - 1 AS BIGINT) AS pos FROM (
         |  SELECT d.doc_id, p.pattern,
         |    unnest(list_filter(range(1, length(text) + 2 - length(p.pattern)),
         |      i -> substr(text, i, length(p.pattern)) = p.pattern)) AS i
         |  FROM documents d, (SELECT unnest(['merge','window']) AS pattern) p
         |) ORDER BY pattern, doc_id, pos""".stripMargin,
    "q34_redundancy" ->
      """SELECT CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(list_filter(range(1, len(string_split(text, ''))),
        |    i -> string_split(text, '')[i] != string_split(text, '')[i+1])) + 1) AS BIGINT) AS total_runs,
        |  CAST(sum(length(text)) AS DOUBLE) /
        |    CAST(sum(len(list_filter(range(1, len(string_split(text, ''))),
        |      i -> string_split(text, '')[i] != string_split(text, '')[i+1])) + 1) AS DOUBLE) AS redundancy
        |FROM documents""".stripMargin,
    "q30_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_quality" ->
      """SELECT doc_id, n_tokens, n_stopwords,
        |  CASE WHEN n_tokens < 20 THEN 'short'
        |       WHEN n_stopwords * 10 >= n_tokens THEN 'stopword_heavy'
        |       ELSE 'ok' END AS quality_class
        |FROM (SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS n_stopwords
        |  FROM documents) ORDER BY doc_id""".stripMargin,
    "q32_lang_id" ->
      """SELECT lang, lang_pred, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN len(list_filter(string_split(text,' '), x -> x IN ('the','a','of'))) * 20
        |      >= len(string_split(text,' ')) THEN 'en_like' ELSE 'unknown' END AS lang_pred
        |  FROM documents) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
         |  list_min(list_transform($duckShingles, x -> md5(x))) AS minhash1,
         |  len($duckShingles) AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q40_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_minhash_lsh" ->
      s"""WITH $duckLshCtes
         |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |FROM bands a JOIN bands c
         |  ON a.band_idx = c.band_idx AND a.band = c.band AND a.doc_id < c.doc_id
         |ORDER BY 1, 2""".stripMargin,
    "q44_dup_clusters" ->
      s"""WITH RECURSIVE $duckLshCtes,
         |lsh AS (SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
         |  FROM bands a JOIN bands c
         |    ON a.band_idx = c.band_idx AND a.band = c.band AND a.doc_id < c.doc_id),
         |exact AS (SELECT d.doc_id AS a, g.keep AS b FROM documents d
         |  JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep FROM documents GROUP BY 1) g
         |    ON md5(d.text) = g.fp AND d.doc_id > g.keep),
         |edges AS (SELECT a, b FROM lsh UNION SELECT b, a FROM lsh UNION
         |          SELECT a, b FROM exact UNION SELECT b, a FROM exact),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node)
         |SELECT r.node AS doc_id, min(r.lbl) AS cluster_id
         |FROM reach r GROUP BY 1 ORDER BY 2, 1""".stripMargin,
    "q44b_dedup_apply" ->
      s"""WITH RECURSIVE $duckLshCtes,
         |lsh AS (SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
         |  FROM bands a JOIN bands c
         |    ON a.band_idx = c.band_idx AND a.band = c.band AND a.doc_id < c.doc_id),
         |exact AS (SELECT d.doc_id AS a, g.keep AS b FROM documents d
         |  JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep FROM documents GROUP BY 1) g
         |    ON md5(d.text) = g.fp AND d.doc_id > g.keep),
         |edges AS (SELECT a, b FROM lsh UNION SELECT b, a FROM lsh UNION
         |          SELECT a, b FROM exact UNION SELECT b, a FROM exact),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node),
         |clusters AS (SELECT r.node AS node, min(r.lbl) AS cluster_id
         |  FROM reach r GROUP BY 1),
         |drops AS (SELECT node FROM clusters WHERE node <> cluster_id)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |SELECT doc_id, rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rank
        |  FROM tf JOIN df ON tf.term = df.term) WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q46_bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM w)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY 1
        |ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "q59_bpe_train" -> bpeOracleSql(BpeMergesK),
    "q59b_bpe_apply" -> bpeApplyOracleSql(BpeMergesK),
    "q83_incremental_dedup" ->
      """WITH base AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <> 0),
        |fresh AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT * FROM fresh
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM base WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 2000000, text, lang FROM fresh WHERE doc_id % 7 = 0),
        |hashed AS (SELECT *, md5(text) AS h FROM batch),
        |keepers AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM hashed)
        |  WHERE rn = 1),
        |survivors AS (SELECT k.* FROM keepers k
        |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE md5(b.text) = k.h)),
        |per_lang AS (SELECT lang, count(*) AS n_batch, count(DISTINCT h) AS n_batch_unique
        |  FROM hashed GROUP BY lang)
        |SELECT s.lang, p.n_batch, p.n_batch_unique, count(*) AS n_new,
        |  CAST(sum(s.doc_id) AS BIGINT) AS sum_new_ids
        |FROM survivors s JOIN per_lang p ON s.lang = p.lang
        |GROUP BY s.lang, p.n_batch, p.n_batch_unique ORDER BY s.lang""".stripMargin,
    // q84: incremental MV refresh == the FULL recompute over the mutated corpus
    "q84_incremental_mv" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT lang, n_chars FROM documents
        |    WHERE NOT (doc_id % 5 = 0 AND lang = 'de')
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 7 = 0
        |) GROUP BY lang ORDER BY lang""".stripMargin,
    "q47_train_split" ->
      """SELECT CASE WHEN substr(md5(text), 1, 1) <= 'c' THEN 'train' ELSE 'eval' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_token_ids" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |vocab AS (SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS id
        |  FROM tok GROUP BY term)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(id) AS BIGINT) AS id_sum,
        |  CAST(min(id) AS BIGINT) AS top_term_id
        |FROM tok JOIN vocab USING (term)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_decontam" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN substr(md5(text), 1, 1) <= 'c' THEN 'train' ELSE 'eval' END AS split,
         |    unnest(list_distinct($duckShingles)) AS shingle
         |  FROM documents),
         |tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train')
         |SELECT doc_id, count(*) AS n_shared
         |FROM sh JOIN tr ON sh.shingle = tr.shingle
         |WHERE sh.split = 'eval'
         |GROUP BY 1 HAVING count(*) >= 3 ORDER BY 1""".stripMargin,
    "q35_redact" ->
      """SELECT event_id, regexp_replace(props, '[0-9]{2,}', '#', 'g') AS redacted
        |FROM events ORDER BY event_id""".stripMargin,
    "q36_repetition" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS repetition
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q48_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM w),
        |lm AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1 ORDER BY c DESC, bigram LIMIT 100)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(COALESCE(lm.c, 0)) AS BIGINT) AS lm_hits,
        |  CAST(sum(CASE WHEN lm.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  CAST(sum(COALESCE(lm.c, 0)) AS DOUBLE) / count(*) AS score
        |FROM bg LEFT JOIN lm ON bg.bigram = lm.bigram
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q49_cms_heavy" ->
      """WITH s AS (SELECT unnest(list_transform(range(1, length(text) - 6),
        |    i -> substr(text, i, 8))) AS shingle
        |  FROM documents WHERE length(text) >= 8)
        |SELECT shingle, count(*) AS n FROM s GROUP BY 1 HAVING count(*) >= 100
        |ORDER BY shingle""".stripMargin,
    "q38_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin,
    "q43_jaccard_ngram" ->
      s"""WITH base AS (SELECT doc_id, list_distinct($duckShingles) AS sh FROM documents),
         |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM base),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
         |    min(a.n) AS na, min(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(na + nb - inter AS BIGINT) AS uni,
         |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
         |FROM pairs WHERE inter >= 2 ORDER BY 1, 2""".stripMargin,
    "q52_embed_neardup" -> {
      // the identical LSH pipeline: same integer hyperplanes, same double op order
      val bandSelects = (0 until 8).map { g =>
        s"SELECT vec_id, $g AS band_idx, " +
          s"${SimilarityLsh.duckBandVal("embedding", EmbedPlanes, 4, g)} AS band_val FROM embeddings"
      }.mkString("\n  UNION ALL ")
      val dotAB = duckDot("ea.embedding", "eb.embedding")
      val nA = duckDot("ea.embedding", "ea.embedding")
      val nB = duckDot("eb.embedding", "eb.embedding")
      s"""WITH bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b FROM cand
         |JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |JOIN embeddings eb ON eb.vec_id = cand.vec_b
         |WHERE $dotAB / (sqrt($nA) * sqrt($nB)) >= 0.35
         |ORDER BY 1, 2""".stripMargin
    },
    // q58: the oracle re-derives the IDENTICAL k-means model (quantized-integer
    // Lloyd), the within-cluster pairs, and the threshold-exact cosine decisions
    "q58_semantic_dedup" -> {
      val model = IvfKmeans.duckModelCtes(k = 10, iters = 2, nprobe = 1, dim = 64,
        querySql = "v.vec_id < 0")
      val dotAB = duckDot("ea.embedding", "eb.embedding")
      val nA = duckDot("ea.embedding", "ea.embedding")
      val nB = duckDot("eb.embedding", "eb.embedding")
      s"""WITH $model,
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id),
         |dropped AS (SELECT vec_b AS vec_id, CAST(min(vec_a) AS BIGINT) AS dup_of
         |  FROM pairs
         |  JOIN embeddings ea ON ea.vec_id = pairs.vec_a
         |  JOIN embeddings eb ON eb.vec_id = pairs.vec_b
         |  WHERE $dotAB / (sqrt($nA) * sqrt($nB)) >= 0.35
         |  GROUP BY 1)
         |SELECT CAST(af.vec_id AS BIGINT) AS vec_id, CAST(af.cl AS BIGINT) AS cl,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
         |  d.dup_of
         |FROM af LEFT JOIN dropped d USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    "q53_embed_quantize" ->
      """WITH qz AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |    CAST(len(embedding) AS BIGINT) AS n_dims,
        |    list_transform(embedding, x -> CASE WHEN amax = 0 THEN 0
        |      ELSE CAST(round(CAST(x AS DOUBLE) * 127 / amax) AS BIGINT) END) AS qv
        |  FROM qz)
        |SELECT vec_id, n_dims,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CAST(len(list_filter(qv, v -> v <> 0)) AS BIGINT) AS nnz
        |FROM q ORDER BY vec_id""".stripMargin,
    "q42_simhash" -> {
      // bit k of the HUGEINT hash via integer division (>> / & are not defined on
      // HUGEINT): (h // 2^k) % 2; signature assembled in HUGEINT then wrapped signed
      val hs = s"list_transform(string_split(text,' '), t -> $duckHex16)"
      val bits = (0 until 64).map(k =>
        s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h // ${BigInt(2).pow(k)}) % 2) = 1)) >= len(hs) " +
          s"THEN CAST(${BigInt(2).pow(k)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)").mkString(" + ")
      s"""SELECT doc_id, ${duckWrapSigned(bits)} AS simhash
         |FROM (SELECT doc_id, $hs AS hs FROM documents) ORDER BY doc_id""".stripMargin
    },
    // brute-force all-pairs oracle: proves the 4x16-bit band join loses no h<=3 pair
    "q37_simhash_neardup" -> {
      val hs = s"list_transform(string_split(text,' '), t -> $duckHex16)"
      val bits = (0 until 64).map(k =>
        s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h // ${BigInt(2).pow(k)}) % 2) = 1)) >= len(hs) " +
          s"THEN CAST(${BigInt(2).pow(k)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)").mkString(" + ")
      s"""WITH sim AS (SELECT doc_id, ${duckWrapSigned(bits)} AS simhash
         |  FROM (SELECT doc_id, $hs AS hs FROM documents))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q50_knn_brute" -> {
      val dotQC = duckDot("qe", "ce")
      val nQ = duckDot("qe", "qe")
      val nC = duckDot("ce", "ce")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |s AS (SELECT query_id, neighbor_id,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM q, c WHERE neighbor_id <> query_id)
         |SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         |  neighbor_id
         |FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q51_knn_ivf" -> {
      val dotQC = duckDot("qe", "ce")
      val nQ = duckDot("qe", "qe")
      val nC = duckDot("ce", "ce")
      val am = "list_transform(embedding, x -> abs(x))"
      val b1 = s"list_indexof($am, list_max($am))"
      val m2 = s"list_transform(range(1, len(embedding) + 1), " +
        s"i -> CASE WHEN i = b1 THEN -1e300 ELSE ($am)[i] END)"
      s"""WITH q0 AS (SELECT vec_id, embedding, $b1 AS b1 FROM embeddings WHERE vec_id < 5),
         |q1 AS (SELECT vec_id, embedding, b1,
         |    list_indexof($m2, list_max($m2)) AS b2 FROM q0),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, unnest([b1, b2]) AS qb FROM q1),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, $b1 AS cb FROM embeddings),
         |s AS (SELECT query_id, neighbor_id, cb,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM q JOIN c ON qb = cb AND neighbor_id <> query_id)
         |SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         |  neighbor_id, CAST(cb AS BIGINT) AS bucket
         |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    "q51b_ivf_kmeans" -> {
      val dotQC = duckDot("qe", "ce")
      val nQ = duckDot("qe", "qe")
      val nC = duckDot("ce", "ce")
      val model = IvfKmeans.duckModelCtes(k = 10, iters = 2, nprobe = 3, dim = 64,
        querySql = "v.vec_id < 10")
      s"""WITH $model,
         |cand AS (SELECT pr.query_id, af.vec_id AS neighbor_id
         |  FROM pr JOIN af ON af.cl = pr.qcl AND af.vec_id <> pr.query_id),
         |sc AS (SELECT c.query_id, c.neighbor_id,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM cand c
         |  JOIN (SELECT vec_id, embedding AS qe FROM embeddings) ea ON ea.vec_id = c.query_id
         |  JOIN (SELECT vec_id, embedding AS ce FROM embeddings) eb ON eb.vec_id = c.neighbor_id),
         |ivf AS (SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM sc) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS bq, c.vec_id AS bn,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM (SELECT vec_id, embedding AS qe FROM embeddings WHERE vec_id < 10) q,
         |       (SELECT vec_id, embedding AS ce FROM embeddings) c
         |  WHERE c.vec_id <> q.vec_id),
         |brute AS (SELECT bq, bn FROM (
         |  SELECT bq, bn, row_number() OVER (PARTITION BY bq ORDER BY cos DESC, bn) AS rank
         |  FROM bs) WHERE rank <= 5)
         |SELECT i.query_id, i.rank, i.neighbor_id,
         |  CAST(CASE WHEN b.bn IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
         |FROM ivf i LEFT JOIN brute b ON b.bq = i.query_id AND b.bn = i.neighbor_id
         |ORDER BY 1, 2""".stripMargin
    },
    // q54: the oracle re-derives the ENTIRE IVF-PQ index — coarse k-means, 8
    // subspace codebooks, codes, per-query ADC tables — in integer SQL, then the
    // same shortlist/rerank/hit pipeline as the Spark side
    "q55_mixture_sample" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |JOIN (VALUES ('en','8000'), ('fr','4000'), ('es','2000'), ('de','1000'),
        |  ('zh','0800')) AS r(lang, thresh) USING (lang)
        |WHERE substr(md5(text), 1, 4) < thresh
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q56_sequence_pack" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, n_chars // 4 AS toks,
        |    sum(n_chars // 4) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (n_chars // 4) AS prefix
        |  FROM documents
        |)
        |SELECT lang, count(DISTINCT prefix // 2048) AS n_seqs,
        |  CAST(sum(toks) AS BIGINT) AS total_toks,
        |  CAST(max(prefix // 2048) AS BIGINT) AS last_seq
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q57_substring_dedup" ->
      """WITH pos AS (SELECT doc_id, text, unnest(range(1, length(text) - 18)) AS p
        |    FROM documents WHERE length(text) >= 20),
        |w AS (SELECT doc_id, p, md5(substr(text, CAST(p AS INT), 20)) AS fp FROM pos),
        |dup AS (SELECT fp FROM w GROUP BY 1 HAVING count(*) >= 2),
        |d AS (SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl
        |  FROM w JOIN dup USING (fp))
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 19 AS BIGINT) AS span_end,
        |  CAST(max(p) - min(p) + 20 AS BIGINT) AS span_len
        |FROM d GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "q54_ivf_pq" -> {
      val dotQC = duckDot("qe", "ce")
      val nQ = duckDot("qe", "qe")
      val nC = duckDot("ce", "ce")
      val ivf = IvfKmeans.duckModelCtes(k = 10, iters = 2, nprobe = 3, dim = 64,
        querySql = "v.vec_id < 8")
      val pq = ProductQuantizer.duckPqCtes(numSub = 8, subdim = 8, k = 16, iters = 2,
        querySql = "v.vec_id < 8")
      s"""WITH $ivf,
         |$pq,
         |cand AS (SELECT pr.query_id, af.vec_id AS neighbor_id
         |  FROM pr JOIN af ON af.cl = pr.qcl AND af.vec_id <> pr.query_id),
         |adcs AS (SELECT c.query_id, c.neighbor_id, CAST(sum(l.d) AS BIGINT) AS adc
         |  FROM cand c JOIN codes k2 ON k2.vec_id = c.neighbor_id
         |  JOIN qlut l ON l.query_id = c.query_id AND l.m = k2.m AND l.cl = k2.code
         |  GROUP BY 1, 2),
         |short AS (SELECT query_id, neighbor_id, adc FROM (
         |  SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
         |  FROM adcs) WHERE rn <= 40),
         |sc AS (SELECT s.query_id, s.neighbor_id, s.adc,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM short s
         |  JOIN (SELECT vec_id, embedding AS qe FROM embeddings) ea ON ea.vec_id = s.query_id
         |  JOIN (SELECT vec_id, embedding AS ce FROM embeddings) eb ON eb.vec_id = s.neighbor_id),
         |rr AS (SELECT query_id, rank, neighbor_id, adc FROM (
         |  SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM sc) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS bq, c.vec_id AS bn,
         |    $dotQC / (sqrt($nQ) * sqrt($nC)) AS cos
         |  FROM (SELECT vec_id, embedding AS qe FROM embeddings WHERE vec_id < 8) q,
         |       (SELECT vec_id, embedding AS ce FROM embeddings) c
         |  WHERE c.vec_id <> q.vec_id),
         |brute AS (SELECT bq, bn FROM (
         |  SELECT bq, bn, row_number() OVER (PARTITION BY bq ORDER BY cos DESC, bn) AS rank
         |  FROM bs) WHERE rank <= 5)
         |SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.neighbor_id, r.adc,
         |  CAST(CASE WHEN b.bn IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
         |FROM rr r LEFT JOIN brute b ON b.bq = r.query_id AND b.bn = r.neighbor_id
         |ORDER BY 1, 2""".stripMargin
    },
    "q60_blob_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks,
        |  ascii(substr(text, 1, 1)) AS head_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q62_partitioned_source" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_manifest_source" ->
      """SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63b_manifest_data" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63c_catalog_sql" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63d_manifest_embeddings" ->
      """SELECT CAST(label AS VARCHAR) AS label_p, count(*) AS n_vecs,
        |  CAST(sum(len(embedding)) AS BIGINT) AS total_dims,
        |  CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS dim0_scaled
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63e: the evolved-table aggregate == a relational derivation over documents
    // (even doc_ids predate the ALTER -> null n_tokens; odd carry n_chars // 4)
    "q63e_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars // 4 ELSE 0 END) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63f: post-DELETE table == documents minus the deleted partitions
    "q63f_delete_where" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang NOT IN ('en', 'fr') GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63g: compaction moved bytes, not rows — whole-table aggregate unchanged
    "q63g_compaction" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63i: stats skipping is invisible to answers — plain filtered aggregate
    "q63i_stats_skipping" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id >= 100 AND doc_id < 300 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63n: merge-on-read UPDATE == the relational update derivation
    "q63n_mor_update" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END)
        |    AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63q: the timestamp pin pre-dates the overwrite -> the FULL corpus
    "q63q_time_travel_ts" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63r: streaming equality upsert == relational last-writer-wins by key
    "q63r_upsert_stream" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN n_chars + 5000 ELSE n_chars END)
        |    AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63s: z-order moves bytes, never rows — both probes' filtered aggregates,
    // bounds derived identically (integer division over global min/max)
    "q63s_zorder_skipping" ->
      """WITH b AS (SELECT min(doc_id) AS dmn, max(doc_id) AS dmx,
        |  min(n_chars) AS cmn, max(n_chars) AS cmx FROM documents)
        |SELECT probe, lang, n_docs, total_chars FROM (
        |  SELECT 'doc_id' AS probe, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents, b
        |  WHERE doc_id >= dmn AND doc_id < dmn + (dmx - dmn) // 5
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'n_chars' AS probe, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents, b
        |  WHERE n_chars >= cmn AND n_chars < cmn + (cmx - cmn) // 5
        |  GROUP BY 1, 2
        |) ORDER BY probe, lang""".stripMargin,
    // q63t: CREATE TABLE + INSERT INTO round-trip == the plain aggregate
    "q63t_create_table" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63ab: the sorted-ingest table's range slice == the raw-row recount
    "q63ab_sorted_write" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents,
        |  (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) // 5 AS hi FROM documents) b
        |WHERE doc_id < hi GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63ac: the bloom point-lookup's answer rows == the raw-row recompute
    // (the skipping itself is the Spark-side require; answers never move)
    "q63ac_bloom_skip" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE md5('k' || CAST(doc_id AS VARCHAR)) =
        |      md5('k' || CAST((SELECT max(doc_id) FROM documents) AS VARCHAR))
        |ORDER BY doc_id""".stripMargin,
    // q63ad: three modular MoR deletes plus the 'de' partition drop, re-derived
    // relationally — the position-delete rewrite must not move a row
    "q63ad_rewrite_deletes" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5 AND doc_id % 13 <> 8
        |  AND lang <> 'de'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63af: defaults are pinned by in-query requires (metadata-only ALTER,
    // default-aware straddling pushed aggregate); the oracle re-derives the rollup
    // with the CASE the defaults imply — existence default 7 for gen-1 (pre-ALTER
    // files), current default 7 for gen-3 (column omitted at INSERT)
    "q63af_column_defaults" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 OR doc_id % 10 = 9 THEN 7
        |                ELSE doc_id % 5 END) AS BIGINT) AS total_score,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63ae: the layering states are pinned by in-query requires; the oracle pins
    // that inline -> folded-segment -> position-delete layering never moves the answer
    "q63ae_manifests_table" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 10 <> 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63aa: pushed COUNT(col) over footer null counts == the row-level recount
    "q63aa_count_pushdown" ->
      """SELECT lang, count(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END) AS n_scored,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q80: after TRUNCATE only the second (doc_id%3=1) batch survives
    "q80_truncate_table" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 3 = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q81: the replaced table holds the transformed doc_id%3=1 generation only
    "q81_replace_table" ->
      """SELECT upper(lang) AS lang_u, count(*) AS n_docs,
        |  CAST(sum(n_chars * 2) AS BIGINT) AS total_chars2
        |FROM documents WHERE doc_id % 3 = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q82: rename moves the whole directory — both generations answer under the
    // new name, so the aggregate equals the plain whole-table answer
    "q82_rename_table" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q78_wap_publish" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_branch_ff" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q76: rollback restores snapshot 0 (even ids) and the corrected odd batch
    // appends after it — the final table holds exactly all documents
    "q76_rollback" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q77: rollback discards the bad append AND the good one after it; the
    // cherry-pick restores the good commit and the corrected batch lands — the
    // final table holds exactly all documents
    "q77_cherrypick" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63u: rename/drop are metadata-only — the straddling scan aggregates the
    // SAME rows the un-renamed relation holds
    "q63u_rename_evolution" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63v: widening is metadata-only — the straddling scan aggregates the same
    // rows the relational derivation produces (odd ids shifted past 2^31; the
    // float->double weight path stays exact because n_chars < 2^24)
    "q63v_type_widening" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id
        |                ELSE doc_id + 10000000000 END) AS BIGINT) AS sum_id,
        |  CAST(max(CASE WHEN doc_id % 2 = 0 THEN doc_id
        |                ELSE doc_id + 10000000000 END) AS BIGINT) AS max_id,
        |  CAST(max(CAST(n_chars AS FLOAT)) AS DOUBLE) AS max_weight
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63w: hidden partitioning is pure file ROUTING + pruning — the relational
    // answer is the plain filtered rollup (integer-cents sum, q67's dsum pattern)
    "q63w_hidden_partitioning" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100 AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND user_id = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63x: distribution only changes the FILE layout — the relational answer is
    // the plain per-user/type rollup
    "q63x_clustered_write" ->
      """SELECT user_id, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q63ag: partition evolution only changes file ROUTING metadata — the
    // relational answer is the plain filtered rollup over BOTH generations
    // (missing gen-1 rows would mean old files were wrongly bucket-pruned)
    "q63ag_partition_evolution" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100 AS value_sum
        |FROM events WHERE user_id = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63y: the snapshots metadata table == the relational derivation of the
    // history — snapshot r carries r+1 one-per-append segments and cumulatively
    // one file per (append, distinct lang)
    "q63y_snapshots_meta" ->
      """WITH per AS (
        |  SELECT doc_id % 3 AS r, count(DISTINCT lang) AS n FROM documents GROUP BY 1)
        |SELECT CAST(p.r AS BIGINT) AS snapshot_id, CAST(p.r + 1 AS INT) AS segments,
        |  CAST((SELECT sum(n) FROM per p2 WHERE p2.r <= p.r) AS BIGINT) AS data_files
        |FROM per p ORDER BY 1""".stripMargin,
    // q63z: merge-schema == the relational view where gen-1 (even doc_id) rows
    // have NULL source and gen-2 rows carry theirs
    "q63z_merge_schema" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_sourced
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63o: the incremental read == the relational complement of the first append
    "q63o_incremental_read" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63p: the changelog == UNION ALL of the relational delete/insert derivations
    "q63p_changelog" ->
      """SELECT change, lang, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT 'delete' AS change, lang, n_chars FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'insert' AS change, lang, n_chars FROM documents WHERE doc_id % 7 = 0
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q65: state-load inserts + CDC events == the three-way relational derivation
    "q65_stream_changelog" ->
      """SELECT change, lang, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT 'insert' AS change, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT 'insert' AS change, lang, n_chars FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 'delete' AS change, lang, n_chars FROM documents WHERE doc_id % 5 = 0
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q66: source->sink streaming loop is exactly-once == full-corpus aggregate
    "q66_stream_manifest_read" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q66b: startSnapshot=0 excludes the bootstrap commit (doc_id % 3 = 0); the
    // rate-limited drain must deliver exactly the two appended thirds
    "q66b_stream_rate_limited" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63m: the tag pins the FULL corpus through overwrite + expiry
    "q63m_snapshot_tag" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63l: clustering moves bytes, never rows — same filtered aggregate as q63i
    "q63l_cluster_skipping" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id >= 100 AND doc_id < 300 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63k: merge-on-read DELETE == relational complement of the predicate
    "q63k_merge_on_read" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 7 <> 3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63h: UPDATE-then-MERGE composed relationally in the same order (the %70
    // rows see BOTH the +1000 and the doubling; merge inserts land in lang 'zz')
    "q63h_row_level" ->
      """WITH upd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        |    lang FROM documents
        |), merged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars,
        |    lang FROM upd
        |  UNION ALL
        |  SELECT doc_id + 1000000000, 50, 'zz' FROM documents WHERE doc_id % 97 = 0
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // q69: exchange-free storage-partitioned join == plain relational join
    "q69_spj_manifest" ->
      """SELECT lang AS lang_p, count(*) AS n_docs,
        |  CAST(sum(n_chars * weight) AS BIGINT) AS weighted_chars
        |FROM documents JOIN (VALUES ('en', 1), ('fr', 2), ('es', 3), ('de', 4),
        |  ('zh', 5)) AS w(lang, weight) USING (lang)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_frame_sample" ->
      """SELECT doc_id AS asset_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q70_parse_transcripts" ->
      s"""WITH $duckTranscripts
         |SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts
         |ORDER BY conv_id, turn_idx""".stripMargin,
    "q94_tool_chains" ->
      s"""WITH $duckTranscripts,
         |s AS (SELECT conv_id, turn_idx,
         |        CASE WHEN tool = '' THEN role ELSE role || ':' || tool END AS step
         |      FROM transcripts),
         |p AS (SELECT conv_id, step,
         |        lead(step) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_step
         |      FROM s)
         |SELECT step, next_step, count(*) AS n,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
         |FROM p WHERE next_step IS NOT NULL
         |GROUP BY 1, 2 ORDER BY n DESC, step, next_step""".stripMargin,
    "q71_route_fm" ->
      s"""WITH $duckTranscripts,
         |rules AS (SELECT * FROM (VALUES ('errors','error'), ('purchases','purchase'),
         |  ('k8','"k": 8')) AS r(sink, pattern))
         |SELECT r.sink, t.conv_id, t.turn_idx,
         |  CAST(${duckOverlapCount("r.pattern")} AS INT) AS n_matches
         |FROM transcripts t JOIN rules r ON contains(t.text, r.pattern)
         |ORDER BY r.sink, t.conv_id, t.turn_idx""".stripMargin,
    "q72_conv_agg" ->
      s"""WITH $duckTranscripts,
         |rules AS (SELECT * FROM (VALUES ('errors','error'), ('purchases','purchase'),
         |  ('k8','"k": 8')) AS r(sink, pattern)),
         |routed AS (
         |  SELECT r.sink, t.conv_id, t.turn_idx, t.ts,
         |    ${duckOverlapCount("r.pattern")} AS n_matches
         |  FROM transcripts t JOIN rules r ON contains(t.text, r.pattern))
         |SELECT sink, conv_id, count(*) AS n_turns, CAST(sum(n_matches) AS BIGINT) AS n_matches,
         |  min(ts) AS first_ts, max(ts) AS last_ts
         |FROM routed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q73_turn_equality" ->
      s"""WITH $duckTranscripts
         |SELECT conv_id, turn_idx, text FROM transcripts WHERE contains(text, 'error')
         |ORDER BY conv_id, turn_idx""".stripMargin,
    "q85_context_pairs" ->
      s"""WITH $duckTranscripts,
         |lines AS (
         |  SELECT conv_id, turn_idx, role, text, role || ': ' || text AS line
         |  FROM transcripts),
         |ctx AS (
         |  SELECT conv_id, turn_idx, role, text,
         |    string_agg(line, chr(10)) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context,
         |    CAST(count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS INT) AS n_context_turns
         |  FROM lines)
         |SELECT conv_id, turn_idx, n_context_turns, context, text AS target
         |FROM ctx WHERE role = 'assistant' AND turn_idx >= 1
         |ORDER BY conv_id, turn_idx""".stripMargin,
    // q74: the manifest-table round-trip is the identity, so the pipeline-over-
    // the-table aggregate equals the relational routing derivation; q75's
    // incremental index must equal the full index — ONE shared derivation, so
    // the two gates can never silently diverge
    // q86: chunk-level exact dedup — fixed 8-word chunks, global first occurrence
    // by (doc_id, chunk_idx) wins, survivors reassemble in chunk order
    "q86_chunk_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
        |), c AS (
        |  SELECT doc_id, lang, g.i AS chunk_idx,
        |         array_to_string(words[g.i*8+1 : g.i*8+8], ' ') AS chunk
        |  FROM w, LATERAL (
        |    SELECT unnest(range(CAST(ceil(len(words)/8.0) AS BIGINT))) AS i) g
        |), k AS (
        |  SELECT doc_id, lang, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c
        |)
        |SELECT doc_id, min(lang) AS lang, count(*) AS kept_chunks,
        |       string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
        |FROM k WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q97: boilerplate strip — chunks present in >= 2 distinct docs removed from ALL
    "q97_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
        |), c AS (
        |  SELECT doc_id, lang, g.i AS chunk_idx,
        |         array_to_string(words[g.i*8+1 : g.i*8+8], ' ') AS chunk
        |  FROM w, LATERAL (
        |    SELECT unnest(range(CAST(ceil(len(words)/8.0) AS BIGINT))) AS i) g
        |), b AS (
        |  SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        |)
        |SELECT doc_id, min(lang) AS lang, count(*) AS kept_chunks,
        |       string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
        |FROM c WHERE chunk NOT IN (SELECT chunk FROM b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q87: Gopher-style composite quality filter — five integer-exact rules
    "q87_gopher_filter" ->
      """WITH f AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS n_wchars,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(list_distinct(w), x -> x IN ('the','a','of'))) AS BIGINT) AS n_stop,
        |    CAST(list_max(list_transform(list_distinct(w),
        |      d -> len(list_filter(w, x -> x = d)))) AS BIGINT) AS top_cnt
        |  FROM f
        |)
        |SELECT doc_id, lang, n_words, n_wchars, n_distinct, n_stop, top_cnt,
        |  (n_words >= 30 AND n_words <= 80) AS r_wordcount,
        |  (n_wchars >= n_words * 4 AND n_wchars <= n_words * 7) AS r_meanlen,
        |  (n_stop >= 2) AS r_stopwords,
        |  ((n_words - n_distinct) * 2 <= n_words) AS r_dupfrac,
        |  (top_cnt * 10 <= n_words) AS r_topword,
        |  (n_words >= 30 AND n_words <= 80
        |   AND n_wchars >= n_words * 4 AND n_wchars <= n_words * 7
        |   AND n_stop >= 2
        |   AND (n_words - n_distinct) * 2 <= n_words
        |   AND top_cnt * 10 <= n_words) AS pass
        |FROM g ORDER BY doc_id""".stripMargin,
    // q88: CCNet perplexity buckets — q48's LM score in fixed point, then per-lang
    // head/middle/tail thirds cut by value against a desc-cumulative histogram
    "q88_ccnet_buckets" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS bigram FROM w),
        |lm AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1
        |       ORDER BY c DESC, bigram LIMIT 100),
        |scored AS (
        |  SELECT bg.doc_id, bg.lang, count(*) AS n_bigrams,
        |    CAST(sum(COALESCE(lm.c, 0)) AS BIGINT) AS lm_hits,
        |    CAST(CAST(sum(COALESCE(lm.c, 0)) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS score_fp
        |  FROM bg LEFT JOIN lm ON bg.bigram = lm.bigram GROUP BY 1, 2),
        |hist AS (SELECT lang, score_fp, count(*) AS cnt FROM scored GROUP BY 1, 2),
        |n AS (SELECT lang, count(*) AS n_docs FROM scored GROUP BY 1),
        |cum AS (SELECT h.lang, h.score_fp,
        |          sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.score_fp DESC) AS cum,
        |          n.n_docs
        |        FROM hist h JOIN n USING (lang)),
        |th AS (SELECT lang, max(score_fp) AS t_head FROM cum
        |       WHERE 3 * cum >= n_docs GROUP BY 1),
        |tm AS (SELECT lang, max(score_fp) AS t_mid FROM cum
        |       WHERE 3 * cum >= 2 * n_docs GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.n_bigrams, s.lm_hits, s.score_fp,
        |  CASE WHEN s.score_fp >= th.t_head THEN 'head'
        |       WHEN s.score_fp >= tm.t_mid THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s JOIN th USING (lang) JOIN tm USING (lang)
        |ORDER BY s.doc_id""".stripMargin,
    // q89: DSIR fixed-point importance selection — 12-bit md5 feature buckets,
    // add-one-smoothed target/raw ratio, per-lang top-fifth by value threshold
    "q89_dsir_select" ->
      """WITH inst AS (
        |  SELECT doc_id, lang, source,
        |    CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) AS BIGINT) AS f
        |  FROM (SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |raw AS (SELECT f, count(*) AS cr FROM inst GROUP BY 1),
        |tgt AS (SELECT f, count(*) AS ct FROM inst WHERE source = 'src0' GROUP BY 1),
        |ratio AS (SELECT raw.f,
        |    CAST((COALESCE(tgt.ct, 0) + 1) * 1000000 // (raw.cr + 1) AS BIGINT) AS r_fp
        |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f),
        |scored AS (
        |  SELECT inst.doc_id, inst.lang, count(*) AS n_feats,
        |    CAST(sum(ratio.r_fp) AS BIGINT) AS w_sum,
        |    CAST(CAST(sum(ratio.r_fp) AS BIGINT) // count(*) AS BIGINT) AS score_fp
        |  FROM inst JOIN ratio ON inst.f = ratio.f GROUP BY 1, 2),
        |hist AS (SELECT lang, score_fp, count(*) AS cnt FROM scored GROUP BY 1, 2),
        |n AS (SELECT lang, count(*) AS n_docs FROM scored GROUP BY 1),
        |cum AS (SELECT h.lang, h.score_fp,
        |          sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.score_fp DESC) AS cum,
        |          n.n_docs
        |        FROM hist h JOIN n USING (lang)),
        |ts AS (SELECT lang, max(score_fp) AS t_sel FROM cum
        |       WHERE 5 * cum >= n_docs GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.n_feats, s.w_sum, s.score_fp,
        |  (s.score_fp >= ts.t_sel) AS selected
        |FROM scored s JOIN ts USING (lang)
        |ORDER BY s.doc_id""".stripMargin,
    // q91: the composed training mix — Gopher gate, content-hash dedup, CCNet
    // bucketing over the survivors, tail dropped, per-lang md5-coin downsample
    "q91_training_mix" ->
      """WITH f AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, lang, text FROM f WHERE
        |  len(w) BETWEEN 30 AND 80
        |  AND list_sum(list_transform(w, x -> length(x)))
        |      BETWEEN len(w) * 4 AND len(w) * 7
        |  AND len(list_filter(list_distinct(w), x -> x IN ('the','a','of'))) >= 2
        |  AND (len(w) - len(list_distinct(w))) * 2 <= len(w)
        |  AND list_max(list_transform(list_distinct(w),
        |        d -> len(list_filter(w, x -> x = d)))) * 10 <= len(w)),
        |k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
        |d AS (SELECT g.* FROM g JOIN k USING (doc_id)),
        |w2 AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM d),
        |bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS bigram FROM w2),
        |lm AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1
        |       ORDER BY c DESC, bigram LIMIT 100),
        |scored AS (
        |  SELECT bg.doc_id, bg.lang, count(*) AS n_bigrams,
        |    CAST(CAST(sum(COALESCE(lm.c, 0)) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS score_fp
        |  FROM bg LEFT JOIN lm ON bg.bigram = lm.bigram GROUP BY 1, 2),
        |hist AS (SELECT lang, score_fp, count(*) AS cnt FROM scored GROUP BY 1, 2),
        |n AS (SELECT lang, count(*) AS n_docs FROM scored GROUP BY 1),
        |cum AS (SELECT h.lang, h.score_fp,
        |          sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.score_fp DESC) AS cum,
        |          n.n_docs
        |        FROM hist h JOIN n USING (lang)),
        |th AS (SELECT lang, max(score_fp) AS t_head FROM cum
        |       WHERE 3 * cum >= n_docs GROUP BY 1),
        |tm AS (SELECT lang, max(score_fp) AS t_mid FROM cum
        |       WHERE 3 * cum >= 2 * n_docs GROUP BY 1),
        |b AS (SELECT s.doc_id, s.lang, s.score_fp,
        |        CASE WHEN s.score_fp >= th.t_head THEN 'head'
        |             WHEN s.score_fp >= tm.t_mid THEN 'middle'
        |             ELSE 'tail' END AS bucket
        |      FROM scored s JOIN th USING (lang) JOIN tm USING (lang)),
        |rates AS (SELECT v.l AS lang, v.t AS thresh
        |  FROM (VALUES ('en','c000'),('fr','a000'),('es','8000'),
        |               ('de','ffff'),('zh','4000')) v(l, t))
        |SELECT b.doc_id, b.lang, b.score_fp, b.bucket
        |FROM b JOIN rates USING (lang)
        |WHERE b.bucket <> 'tail'
        |  AND substr(md5('m' || CAST(b.doc_id AS VARCHAR)), 1, 4) < rates.thresh
        |ORDER BY b.doc_id""".stripMargin,
    // q92: the WAV round-trip's expected statistics from the closed-form samples
    "q92_wav_codec" ->
      """WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n,
        |                  8000 + (doc_id % 3) * 4000 AS rate FROM documents),
        |s AS (SELECT doc_id, n, rate,
        |        list_transform(range(0, n),
        |          i -> (doc_id * 7919 + i * 104729) % 65536 - 32768) AS sm
        |      FROM d)
        |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(sm, v -> v * v)) AS BIGINT) AS sum_sq,
        |  CAST(list_max(list_transform(sm, v -> abs(v))) AS BIGINT) AS peak,
        |  CAST(len(list_filter(range(1, n),
        |    i -> (sm[i+1] < 0) != (sm[i] < 0))) AS BIGINT) AS n_zero_cross,
        |  CAST(44 + n * 2 AS BIGINT) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,
    // q93: the BMP round-trip's expected sums from the closed-form pixels; the
    // 8x8 thumbnail samples (tx*w//8, ty*h//8) — nearest-neighbor floor, as the
    // decoder/resizer computes it
    "q93_bmp_codec" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 4 AS h
        |           FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(list_transform(range(0, w * h),
        |    i -> (doc_id + 3 * (i % w) + 7 * (i // w)) % 256)) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(0, w * h),
        |    i -> (doc_id * 2 + 5 * (i % w) + 11 * (i // w)) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(0, w * h),
        |    i -> (doc_id * 3 + (i % w) + 13 * (i // w)) % 256)) AS BIGINT) AS sum_b,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |      (doc_id + 3 * (((i % 8) * w) // 8) + 7 * (((i // 8) * h) // 8)) % 256 * 299
        |    + (doc_id * 2 + 5 * (((i % 8) * w) // 8) + 11 * (((i // 8) * h) // 8)) % 256 * 587
        |    + (doc_id * 3 + (((i % 8) * w) // 8) + 13 * (((i // 8) * h) // 8)) % 256 * 114
        |  )) AS BIGINT) AS gray8_sum,
        |  CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
    // q95: brute-force all-pairs oracle over closed-form dHashes — proves the
    // 4x16-bit band join loses no hamming<=3 pair AND that the codec round-trip
    // (encode -> decode -> 9x8 thumbnail -> gradient bits) matches the pixel formula
    "q95_image_neardup" -> {
      // md5("img" || base) byte i, from the hex string — the Scala kernel's digest
      def byteAt(i: Int): String =
        s"((strpos('0123456789abcdef', substr(hx, ${2 * i + 1}, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(hx, ${2 * i + 2}, 1)) - 1))"
      // channel values at sampled coordinate (sx, sy) — mirrors the Scala rgb()
      // the BMP round-trip encodes; thumbnail sample x = tx*w//9, y = ty*h//8
      def gray(sx: String, sy: String): String =
        s"(((d0*($sx+1)*($sy+3) + d1*($sx+1) + d2 + shift*5) % 256) * 299" +
          s" + ((d3*($sy+1)*($sx+2) + d4*($sy+1) + d5 + shift*3) % 256) * 587" +
          s" + ((d6*($sx+1)*($sx+1) + d7*($sy+2)*($sy+2) + d8 + shift) % 256) * 114)"
      val g = gray("((i % 9) * w) // 9", "((i // 9) * h) // 8")
      val bits = (0 until 64).map { k =>
        val l = (k / 8) * 9 + (k % 8) + 1 // 1-based index of gray(tx, ty) in gr
        s"(CASE WHEN gr[${l + 1}] > gr[$l] THEN CAST(${BigInt(2).pow(k)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
      }.mkString(" + ")
      val bytes = (0 to 8).map(i => s"${byteAt(i)} AS d$i").mkString(", ")
      s"""WITH d AS (SELECT doc_id, doc_id % 5 AS shift,
         |             16 + (doc_id - doc_id % 5) % 8 AS w,
         |             12 + (doc_id - doc_id % 5) % 4 AS h,
         |             md5('img' || CAST(doc_id - doc_id % 5 AS VARCHAR)) AS hx
         |           FROM documents),
         |db AS (SELECT doc_id, shift, w, h, $bytes FROM d),
         |t AS (SELECT doc_id, list_transform(range(0, 72), i -> $g) AS gr FROM db),
         |sig AS (SELECT doc_id, ${duckWrapSigned(bits)} AS dhash FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // q96: the Walsh correlation bank re-derived closed-form — scores, argmax
    // (ties to the smaller period) and the true period, all integer
    "q96_audio_tones" -> {
      val x = "(CASE WHEN i % P < P // 2 THEN amp ELSE -amp END" +
        " + (doc_id * 31 + i * i * 17) % 2001 - 1000)"
      def sc(p: Int): String =
        s"CAST(abs(list_sum(list_transform(range(0, n), i -> $x * " +
          s"(CASE WHEN i % $p < ${p / 2} THEN 1 ELSE -1 END)))) AS BIGINT)"
      s"""WITH d AS (SELECT doc_id, 192 + doc_id % 64 AS n,
         |             CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
         |                  WHEN 2 THEN 32 ELSE 64 END AS P,
         |             8000 + (doc_id % 7) * 500 AS amp
         |           FROM documents),
         |s AS (SELECT doc_id, n, P,
         |        ${sc(8)} AS s8, ${sc(16)} AS s16, ${sc(32)} AS s32, ${sc(64)} AS s64
         |      FROM d)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
         |  s8 AS score_p8, s16 AS score_p16, s32 AS score_p32, s64 AS score_p64,
         |  CAST(CASE WHEN s8 >= s16 AND s8 >= s32 AND s8 >= s64 THEN 8
         |       WHEN s16 >= s32 AND s16 >= s64 THEN 16
         |       WHEN s32 >= s64 THEN 32 ELSE 64 END AS BIGINT) AS detected_period,
         |  CAST(P AS BIGINT) AS true_period
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // q90: fixed-point BM25 — identical integer idf/tf factors, top-10 per query
    "q90_bm25_topk" ->
      """WITH qt AS (SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
        |  FROM (VALUES (1,'scan'),(1,'filter'),(1,'join'),(2,'hash'),(2,'merge'),
        |               (3,'spark'),(3,'stream'),(3,'window')) v(q, t)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |inst AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM w),
        |stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |                 CAST(count(*) AS BIGINT) AS n_words FROM inst),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM inst GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        |          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |ts AS (SELECT q.query_id, t.doc_id,
        |    CAST(((s.n_docs - d.df) * 2 + 1) * 1000000 // (d.df * 2 + 1) AS BIGINT) AS idf_fp,
        |    CAST(22 * t.tf * s.n_words * 1000
        |      // (10 * t.tf * s.n_words + 3 * s.n_words + 9 * t.dl * s.n_docs) AS BIGINT) AS tf_fp
        |  FROM tf t JOIN qt q USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s),
        |ds AS (SELECT query_id, doc_id,
        |         CAST(sum(idf_fp * tf_fp // 1000) AS BIGINT) AS score_fp,
        |         count(*) AS n_hit
        |       FROM ts GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_fp, n_hit,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY score_fp DESC, doc_id) AS rank
        |      FROM ds)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_fp, n_hit
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q74_pipeline_manifest" -> perSinkRoutedSql,
    "q75_incremental_index" -> perSinkRoutedSql
  )

  private lazy val perSinkRoutedSql: String =
    s"""WITH $duckTranscripts,
       |rules AS (SELECT * FROM (VALUES ('errors','error'), ('purchases','purchase'),
       |  ('k8','"k": 8')) AS r(sink, pattern)),
       |routed AS (
       |  SELECT r.sink, t.conv_id, ${duckOverlapCount("r.pattern")} AS n_matches
       |  FROM transcripts t JOIN rules r ON contains(t.text, r.pattern))
       |SELECT sink, count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns,
       |  CAST(sum(n_matches) AS BIGINT) AS n_matches
       |FROM routed GROUP BY 1 ORDER BY 1""".stripMargin
}
