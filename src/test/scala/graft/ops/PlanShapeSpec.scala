package graft.ops

import graft.{SharedSparkSession, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that matter at 100x scale, asserted on the
  * actual executed plans so a refactor cannot silently regress them.
  *  - filters/projections reach the parquet scan (PushedFilters, pruned ReadSchema)
  *  - small dimensions broadcast; the big fact side never builds a hash table
  *  - similarity/near-dup candidate generation never plans a cartesian
  *    (BroadcastNestedLoopJoin/CartesianProduct), except the LABELED brute-force
  *    baselines whose broadcast side is bounded by construction
  */
class PlanShapeSpec extends AnyFunSuite with SharedSparkSession {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filters not pushed to scan:\n${p.take(2000)}")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("q86: chunk dedup prunes the documents scan to its three columns and " +
      "keeps the keeper join a hash join") {
    val p = plan("q86_chunk_dedup")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"chunk dedup reads columns it never uses: $readSchema")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"keeper join degraded to a nested loop:\n${p.take(1500)}")
  }

  test("q03: both dimension joins are broadcast hash joins (fact side streams)") {
    val p = plan("q03_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to a shuffle join")
  }

  test("q05/q05b: anti and semi joins broadcast the subquery side") {
    assert(plan("q05_anti_join").contains("LeftAnti"))
    assert(plan("q05b_semi_join").contains("LeftSemi"))
  }

  test("similarity candidate generation plans no cartesian anywhere") {
    for (q <- Seq("q41_minhash_lsh", "q43_jaccard_ngram", "q52_embed_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned an all-pairs join:\n${p.take(1500)}")
    }
  }

  // AQE wraps the physical plan in AdaptiveSparkPlanExec, a LEAF node — a plain
  // plan.collect sees nothing below it (and WindowExec checks would be vacuously
  // green). Recurse through adaptive wrappers and materialized query stages.
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(s.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec => allNodes(r.child)
      case _ => Nil
    }
    p +: (p.children.flatMap(allNodes) ++ inner)
  }

  test("catalog-wide: no unlabeled nested-loop joins, no partitionless Window") {
    val nlOffenders = scala.collection.mutable.ListBuffer[(String, Int)]()
    val winOffenders = scala.collection.mutable.ListBuffer[String]()
    var windowsSeen = 0
    for (q <- SparkEntry.queries.keys.toSeq.sorted) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val p = exec.toString
      val nl = "CartesianProduct".r.findAllIn(p).size +
        "BroadcastNestedLoopJoin".r.findAllIn(p).size
      if (nl > 0) nlOffenders += (q -> nl)
      // a Window with no partition keys funnels its ENTIRE input through one task —
      // the q28 round-2 hazard; banned everywhere in the catalog
      val bare = allNodes(exec).filter {
        case w: org.apache.spark.sql.execution.window.WindowExec => windowsSeen += 1
          w.partitionSpec.isEmpty
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => windowsSeen += 1
          w.partitionSpec.isEmpty
        case _ => false
      }
      if (bare.nonEmpty) winOffenders += q
    }
    // self-check that the traversal actually reaches Window nodes (q06/q07/q45/...)
    // — if AQE wrapping changes again, this fails instead of the ban going vacuous
    assert(windowsSeen > 5, s"plan traversal found only $windowsSeen Window nodes — AQE recursion broken?")
    // q50 IS the brute-force baseline; q51b/q54 carry one bounded brute side for
    // their recall hit columns. Nothing else may nest-loop.
    val allowed = Set("q50_knn_brute", "q51b_ivf_kmeans", "q54_ivf_pq")
    assert(nlOffenders.map(_._1).toSet.subsetOf(allowed),
      s"unexpected nested-loop joins: $nlOffenders")
    assert(winOffenders.isEmpty,
      s"partitionless Window (single-task global sort) in: $winOffenders")
  }

  test("q56 packing: no window over raw document rows partitions by lang alone") {
    // the round-4 hot-partition fix: the heavy prefix window must partition by
    // (lang, bucket) — a lang-only window may exist ONLY over the aggregated
    // one-row-per-bucket frame (an Aggregate must sit between it and the scan)
    val df = SparkEntry.queries("q56_sequence_pack")(spark, dir)
    df.collect() // AQE: executedPlan is final only after execution
    val wins = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.exists(_.partitionSpec.size >= 2),
      "the packing prefix window must partition by (lang, bucket)")
    wins.filter(_.partitionSpec.size == 1).foreach { w =>
      val hasAgg = allNodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])
      assert(hasAgg,
        s"lang-only window over unaggregated rows (one task per language): $w")
    }
  }

  test("q18 as-of join: pure window composition, no join operator at all") {
    val p = plan("q18_asof_join")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n${p.take(1500)}")
    assert(p.contains("Window"), "as-of must resolve via a single partitioned window")
  }

  test("q45 top-terms: df is an aggregated equi-join side, never a hot-term window") {
    val p = plan("q45_top_terms")
    // two Generates — one per diamond branch (tf, and df's re-aggregation of tf):
    // a deliberate second MAP-SIDE pass, traded for removing the round-2
    // term-partitioned window that funneled every row of a stop-word-grade term
    // into one window partition. Map passes scale linearly; hot keys don't.
    assert("Generate".r.findAllIn(p).size <= 2, "df must re-aggregate, not re-explode more")
    // a term-partitioned window spec is exactly the hot-key shape being banned (the
    // rank window may still ORDER by df — that one partitions by doc_id)
    assert(!p.contains("windowspecdefinition(term"),
      s"df must not come from a term-partitioned window:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q18b range join: banded equi-join, never a nested-loop theta join") {
    val p = plan("q18b_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join planned as nested loop:\n${p.take(1500)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "banded range join must resolve via an equi-join on the day bucket")
  }

  test("q15c unpivot: one-pass Expand, no per-column scans") {
    val p = plan("q15c_unpivot")
    assert(p.contains("Expand"), s"unpivot must plan an Expand node:\n${p.take(1500)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, "unpivot must scan the input once")
  }

  test("q04b salted join: a real shuffled join on (key, salt)") {
    val p = plan("q04b_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"salting needs a shuffled join:\n${p.take(1500)}")
    assert(p.contains("salt"), "join keys must include the salt column")
  }

  test("q05c bloom semi-join: sketch prefilter below an exact semi-join") {
    val p = plan("q05c_bloom_semi")
    assert(p.contains("LeftSemi"), s"exact semi-join missing:\n${p.take(1500)}")
  }

  test("q38 rolling_hash: expression fuses into whole-stage codegen") {
    // AQE inserts WholeStageCodegen per stage at execution — run first, then inspect
    val df = SparkEntry.queries("q38_rolling_fp")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("rolling_hash"))
    assert(line.isDefined, s"rolling_hash not in plan:\n${p.take(1500)}")
    assert(line.exists(_.contains("*(")),
      s"rolling_hash fell out of whole-stage codegen: ${line.get.trim}")
  }

  test("q62: the language filter prunes whole partition directories at the scan") {
    val p = plan("q62_partitioned_source")
    val scan = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("lang_p") && !scan.contains("PartitionFilters: []"),
      s"partition filter did not reach the scan: $scan")
  }

  test("q63b: the DSv2 manifest data scan pins partitions=en and prunes files") {
    val df = SparkEntry.queries("q63b_manifest_data")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.find(_.contains("manifest_data")).getOrElse("")
    assert(scan.contains("partitions=lang_p=en"), s"partition filter not pushed: $scan")
    val files = "files=(\\d+)".r.findFirstMatchIn(scan).map(_.group(1).toInt)
    assert(files.exists(n => n > 0 && n <= 8),
      s"expected a small pruned file count (one partition's files), got $files in: $scan")
  }

  test("q26: fingerprint pruning is sealed into the SOURCE on every pattern branch") {
    // Round 4 moved q26 from the optimizer-rule guard (which needs alpha_fp to
    // survive column pruning — it does not over a DSv2 relation) to
    // ShardIndexTable.readPruned: each branch's scan carries pushed partition
    // filters on the fingerprint columns, so pruning is part of the scan's file
    // list and holds under every plan shape. The rule itself stays covered by
    // ExtensionsSpec on in-memory shapes; the 0-file prune of a provably-absent
    // pattern is pinned in ManifestSourceSpec's ShardIndexTable test.
    val df = SparkEntry.queries("q26_fm_prune_sql")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // 'zz-absent' contains '-', absent from the sf0.001 corpus: that branch's scan
    // is pruned to NOTHING at plan time (an empty relation — no files, no footers);
    // the two live branches carry pushed fingerprint partition filters
    assert("BatchScan manifest_data".r.findAllIn(p).size == 2,
      s"expected 2 live manifest scans (third branch fully pruned):\n${p.take(2000)}")
    assert("alpha_hex0=".r.findAllIn(p).size == 2,
      s"each live scan must carry pushed fingerprint partition filters:\n${p.take(2000)}")
    // the absent branch leaves no node at all: PropagateEmptyRelation erases it from
    // the Union, which is exactly the zero-I/O outcome the pruning promises
  }

  test("q69: storage-partitioned join + aggregate plan with no hash exchange") {
    // Both manifest tables report KeyGroupedPartitioning on lang_p; join and
    // groupBy both run on the storage partitioning. The ONLY exchange allowed is
    // the final presentation sort's range partitioning.
    val df = SparkEntry.queries("q69_spj_manifest")(spark, dir)
    df.collect() // AQE: materialize before reading the executed plan
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName.contains("Join")), "plan lost its join")
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(_.outputPartitioning.toString.contains("range")),
      s"SPJ plan shuffled on hash keys:\n${df.queryExecution.executedPlan.toString.take(2500)}")
    assert(exchanges.size <= 1, s"expected at most the presentation-sort exchange, got ${exchanges.size}")
  }

  test("pipeline route stage: patterns broadcast, shards stream (single shuffle)") {
    val turns = graft.pipeline.Transcripts.generate(spark, 10, 10)
    val cfg = graft.pipeline.TranscriptPipeline.Config(numShards = 4, saltBlock = 8, sampleRate = 8)
    val shards = graft.pipeline.TranscriptPipeline.buildShards(spark, turns, cfg)
    val p = shards.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"shard build must shuffle exactly once:\n${p.take(1500)}")
  }
}
