package graft.sources

import graft.{SharedSparkSession, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The DSv2 manifest metadata table and the snapshot-isolated data reader. */
class ManifestSourceSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  private def freshTable(): String = {
    val out = tempDir("manifest_src").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("lang_p", col("lang"))
      .write.mode("overwrite").partitionBy("lang_p").parquet(out)
    ManifestTables.commit(out, "lang_p")
    out
  }

  test("DSv2 metadata table lists exactly the committed files with partition values") {
    val out = freshTable()
    val meta = spark.read.format(classOf[ManifestFilesSource].getName).load(out)
    val rows = meta.collect()
    assert(rows.nonEmpty)
    val actualFiles = Files.walk(Paths.get(out)).iterator()
    var expected = 0
    actualFiles.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet") && !p.toString.contains("_manifests")) expected += 1
    }
    assert(rows.length == expected, s"metadata rows ${rows.length} vs files $expected")
    val parts = meta.select("partition").distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("en", "fr", "es", "de", "zh"))
    // byte sizes come from the real files
    val metaBytes = meta.agg(sum("bytes")).head().getLong(0)
    assert(metaBytes > 0)
  }

  test("column pruning reaches the DSv2 scan (pruned readSchema)") {
    val out = freshTable()
    val meta = spark.read.format(classOf[ManifestFilesSource].getName).load(out)
      .select("bytes")
    val scanLine = meta.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[bytes#") && !scanLine.contains("partition#"),
      s"scan did not prune columns: $scanLine")
    assert(meta.agg(sum("bytes")).head().getLong(0) > 0)
  }

  test("partition filter pushes into the DSv2 scan and prunes manifest entries") {
    val out = freshTable()
    val meta = spark.read.format(classOf[ManifestFilesSource].getName).load(out)
      .filter(col("partition") === "en")
    val scanLine = meta.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("partitions=en"),
      s"filter not pushed into the source: $scanLine")
    val rows = meta.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("partition") == "en"))
    // IN-list filter too
    val two = spark.read.format(classOf[ManifestFilesSource].getName).load(out)
      .filter(col("partition").isin("en", "fr"))
    assert(two.select("partition").distinct().collect().map(_.getString(0)).toSet
      == Set("en", "fr"))
  }

  test("snapshot isolation: files written after the commit are invisible") {
    val out = freshTable()
    val before = spark.read.format(classOf[ManifestFilesSource].getName).load(out).count()
    val dataBefore = ManifestTables.readData(spark, out, "lang_p").count()
    // stray uncommitted write
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(7)
      .write.mode("overwrite").parquet(s"$out/lang_p=zz")
    val after = spark.read.format(classOf[ManifestFilesSource].getName).load(out).count()
    val dataAfter = ManifestTables.readData(spark, out, "lang_p")
    assert(after == before, "metadata table leaked uncommitted files")
    assert(dataAfter.count() == dataBefore, "data reader leaked uncommitted rows")
    assert(dataAfter.filter(col("lang_p") === "zz").count() == 0)
    // a plain directory read DOES see the stray partition — the manifest is the
    // difference, not parquet itself
    assert(spark.read.parquet(out).filter(col("lang_p") === "zz").count() == 7)
  }

  test("readData restores the partition column and matches the source table") {
    val out = freshTable()
    val got = ManifestTables.readData(spark, out, "lang_p")
      .groupBy("lang_p").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  // ------------------------------------------------------------ DSv2 DATA table (r3)

  private def dataTable(out: String) =
    spark.read.format(classOf[ManifestDataSource].getName).load(out)

  private def inputPartitionCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // AQE: executedPlan is final only after execution
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputRDD.getNumPartitions
    }.sum
  }

  test("data table: a partition filter prunes whole FILES at the manifest") {
    val out = freshTable()
    val all = dataTable(out)
    val en = dataTable(out).filter(col("lang_p") === "en")
    val totalFiles = inputPartitionCount(all.select("doc_id"))
    val enFiles = inputPartitionCount(en.select("doc_id"))
    assert(totalFiles > enFiles && enFiles > 0,
      s"expected manifest-level file pruning: total=$totalFiles en=$enFiles")
    val scanLine = en.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("partitions=lang_p=en"), s"filter not pushed: $scanLine")
    // values match a plain pre-stray read
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(en.count() == want)
  }

  test("data table: full row fidelity vs the parquet reader (all columns, sorted)") {
    val out = freshTable()
    val got = dataTable(out)
      .select("doc_id", "text", "lang", "source", "n_chars", "lang_p")
      .orderBy("doc_id").collect()
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("lang_p", col("lang"))
      .select("doc_id", "text", "lang", "source", "n_chars", "lang_p")
      .orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("data table: column pruning reaches the projected parquet read") {
    val out = freshTable()
    val df = dataTable(out).select("n_chars")
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("n_chars#") && !scanLine.contains("text#"),
      s"scan did not prune columns: $scanLine")
    val got = df.agg(sum("n_chars")).head().getLong(0)
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .agg(sum("n_chars")).head().getLong(0)
    assert(got == want)
  }

  test("data table: zero-column scans (count(*)) read only footer row counts") {
    val out = freshTable()
    assert(dataTable(out).count() ==
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count())
    // partition-column-only projection also avoids data pages
    val parts = dataTable(out).select("lang_p").groupBy("lang_p").count().collect()
    assert(parts.map(_.getString(0)).toSet == Set("en", "fr", "es", "de", "zh"))
  }

  test("data table: timestamps and doubles round-trip (events-shaped schema)") {
    val out = tempDir("manifest_src_ev").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("et_p", col("event_type"))
      .write.mode("overwrite").partitionBy("et_p").parquet(out)
    ManifestTables.commit(out, "et_p")
    val got = dataTable(out).select("event_id", "ts", "value", "et_p").orderBy("event_id").collect()
    val want = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("et_p", col("event_type"))
      .select("event_id", "ts", "value", "et_p").orderBy("event_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("data table: array<float> (embeddings) round-trips through write + vectorized read") {
    val out = tempDir("manifest_embed").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("label_p", col("label").cast("string"))
    emb.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "label_p").mode("append").save(out)
    val back = dataTable(out)
    // the read is COLUMNAR: Spark inserts ColumnarToRow over the batch scan
    back.select("vec_id", "embedding").collect()
    val plan = back.select("vec_id", "embedding").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a columnar scan:\n${plan.take(800)}")
    // full fidelity vs the native parquet read
    val got = back.select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    val want = emb.select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getSeq[Float](1) == b.getSeq[Float](1), s"embedding mismatch at vec ${a.getLong(0)}")
      assert(a.getInt(2) == b.getInt(2))
    }
    // manifest-level partition pruning still applies over the array table
    val one = dataTable(out).filter(col("label_p") === "3")
    assert(one.count() == emb.filter(col("label") === 3).count())
  }

  test("data table: arrays with nulls and empties survive the round-trip") {
    import spark.implicits._
    val out = tempDir("manifest_arr_edge").toString
    val rows = Seq(
      (1L, Some(Seq(1.0f, -2.5f, Float.NaN)), "a"),
      (2L, Some(Seq.empty[Float]), "a"),
      (3L, None, "b"),
      (4L, Some(Seq(Float.PositiveInfinity, 0.0f)), "b")
    ).toDF("id", "xs", "p")
    rows.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    val back = dataTable(out).select("id", "xs").orderBy("id").collect()
    assert(back(0).getSeq[Float](1).map(f => if (f.isNaN) "nan" else f.toString) ==
      Seq("1.0", "-2.5", "nan"))
    assert(back(1).getSeq[Float](1).isEmpty, "empty array must stay empty, not become null")
    assert(back(2).isNullAt(1), "null array must stay null")
    assert(back(3).getSeq[Float](1) == Seq(Float.PositiveInfinity, 0.0f))
  }

  test("data table: out-of-file-order projection returns columns in the requested order") {
    val out = freshTable()
    // file order is (doc_id, text, lang, source, n_chars); request reversed + partition
    // in the middle — exercises the vector permutation
    val got = dataTable(out).select("n_chars", "lang_p", "doc_id").orderBy("doc_id").collect()
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("n_chars"), col("lang").as("lang_p"), col("doc_id")).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  // ------------------------------------------------------------ DSv2 WRITE path (r3)

  test("DSv2 write bootstrap: first write commits snapshot 0, appends commit 1, overwrite replaces") {
    import spark.implicits._
    val out = tempDir("manifest_write").toString
    val t0 = Seq((1L, "alpha", "en"), (2L, "beta", "fr")).toDF("id", "txt", "lang_p")
    t0.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(out)
    assert(dataTable(out).count() == 2)
    // append commits a NEW snapshot containing old + new files
    Seq((3L, "gamma", "en")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(out)
    assert(dataTable(out).count() == 3)
    assert(dataTable(out).filter(col("lang_p") === "en").count() == 2)
    // overwrite REPLACES the manifest's entry list; files stay on disk
    Seq((9L, "omega", "de")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName).mode("overwrite").save(out)
    assert(dataTable(out).select("id").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // TIME TRAVEL: every historical snapshot stays readable
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "0").load(out).count() == 2)
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "1").load(out).count() == 3)
    val ids1 = spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "1").load(out)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == Seq(1L, 2L, 3L))
  }

  test("DSv2 write interoperates with Spark partitionBy layout and survives hostile partition values") {
    import spark.implicits._
    val out = tempDir("manifest_write_esc").toString
    Seq((1L, "v a:b"), (2L, "plain"), (3L, "v a:b")).toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    // raw value served back, filterable; on-disk dir is %XX-escaped like Spark's own
    assert(dataTable(out).filter(col("p") === "v a:b").count() == 2)
    val dirs = Files.list(java.nio.file.Paths.get(out)).iterator()
    var sawEscaped = false
    dirs.forEachRemaining(d => if (d.getFileName.toString.startsWith("p=v%20a%3Ab")) sawEscaped = true)
    assert(sawEscaped, "expected Hive-escaped partition dir on disk")
    // Spark's OWN parquet reader sees the same partition values from the layout
    val viaSpark = spark.read.parquet(out).select("p").distinct()
      .collect().map(_.getString(0)).toSet
    assert(viaSpark == Set("v a:b", "plain"))
  }

  test("DSv2 write: append schema mismatch is rejected; uncommitted read fails loudly") {
    import spark.implicits._
    val out = tempDir("manifest_write_schema").toString
    Seq((1L, "x", "en")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(out)
    val bad = intercept[Exception] {
      Seq((2L, 5.0, "en")).toDF("id", "other", "lang_p")
        .write.format(classOf[ManifestDataSource].getName).mode("append").save(out)
    }
    // Spark's own resolution rejects first now that ACCEPT_ANY_SCHEMA is withheld
    // post-bootstrap; the builder's require remains as defense in depth
    assert(bad.getMessage.contains("does not match table") ||
      bad.getMessage.toLowerCase.contains("cannot resolve") ||
      bad.getMessage.toLowerCase.contains("incompatible") ||
      bad.getMessage.toLowerCase.contains("cannot write"),
      s"unexpected error: ${bad.getMessage.take(300)}")
    val fresh = tempDir("manifest_unwritten").toString
    val err = intercept[Exception] { dataTable(fresh).count() }
    assert(err.getMessage.contains("no committed snapshot") ||
      err.getMessage.contains("_manifests"))
  }

  test("DSv2 write/read round-trip property: nulls, unicode, NaN/Inf, extreme values survive") {
    import spark.implicits._
    val out = tempDir("manifest_fuzz").toString
    // adversarial rows: nulls in every nullable column, unicode + quotes in strings,
    // NaN/Inf doubles, Long extremes — partition values kept hostile but non-null
    val rows = Seq(
      (1L, Option("plain"), Option(1.5), Option(Long.MaxValue), "p one"),
      (2L, Option("uni 中文 \"q\" \\back"), Option(Double.NaN), Option(Long.MinValue), "p=two"),
      (3L, None, Option(Double.PositiveInfinity), None, "p one"),
      (4L, Option(""), None, Option(0L), "p%3"),
      (5L, Option("line\nbreak\ttab"), Option(-0.0), Option(42L), "p one")
    ).toDF("id", "s", "d", "l", "p")
    rows.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    val back = dataTable(out).select("id", "s", "d", "l", "p").orderBy("id").collect()
    val want = rows.select("id", "s", "d", "l", "p").orderBy("id").collect()
    // Row.equals handles NaN == NaN per Spark semantics? compare field-by-field with
    // java.lang.Double.compare so NaN round-trip is asserted exactly
    assert(back.length == want.length)
    back.zip(want).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(Option(a.getString(1)) == Option(b.getString(1)), s"string mismatch at id ${a.getLong(0)}")
      val (da, db) = (a.isNullAt(2), b.isNullAt(2))
      assert(da == db)
      if (!da) assert(java.lang.Double.compare(a.getDouble(2), b.getDouble(2)) == 0,
        s"double mismatch at id ${a.getLong(0)}: ${a.getDouble(2)} vs ${b.getDouble(2)}")
      assert((a.isNullAt(3), b.isNullAt(3)) match {
        case (true, true) => true
        case (false, false) => a.getLong(3) == b.getLong(3)
        case _ => false
      })
      assert(a.getString(4) == b.getString(4))
    }
    // hostile partition values are filterable by their raw form
    assert(dataTable(out).filter(col("p") === "p=two").count() == 1)
    assert(dataTable(out).filter(col("p") === "p%3").count() == 1)
  }

  test("streaming sink: exactly-once micro-batch commits into the manifest table") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = tempDir("manifest_stream_src").toString
    val out = tempDir("manifest_stream_out").toString
    val ckpt = tempDir("manifest_stream_ckpt").toString
    Seq((1L, "en"), (2L, "fr")).toDF("id", "p").write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("id BIGINT, p STRING").parquet(src)
      val q = ManifestStreamSink.start(stream, out, "p", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(dataTable(out).count() == 2)
    // new files arrive; a restarted query on the same checkpoint appends exactly them
    Seq((3L, "en")).toDF("id", "p").write.mode("append").parquet(src)
    runOnce()
    assert(dataTable(out).count() == 3)
    // idle restart: no new data, no new rows, AND no new snapshots — empty
    // micro-batches publish nothing, so table metadata cannot grow on idle restarts
    val snapBefore = ManifestTables.latestSnapshotId(out)
    runOnce()
    assert(dataTable(out).count() == 3)
    assert(ManifestTables.latestSnapshotId(out) == snapBefore,
      "an idle restart published a snapshot")
    // at-least-once REPLAY of an already-committed (sink, batch) must be a no-op:
    // the note is stamped inside a committed snapshot, so the commit is refused
    val sinkId = ManifestStreamSink.sinkIdFor(ckpt)
    val replay = Seq((9L, "zz")).toDF("id", "p")
    assert(!ManifestStreamSink.commitBatch(replay, 0L, out, "p", sinkId),
      "replayed batch id must not commit twice")
    assert(dataTable(out).filter(col("p") === "zz").count() == 0)
    // a genuinely new batch id of the same sink commits
    assert(ManifestStreamSink.commitBatch(replay, 999L, out, "p", sinkId))
    assert(dataTable(out).count() == 4)
    // a DIFFERENT logical stream (new checkpoint -> new sinkId) reuses batch id 0
    // without being deduped against the first stream's batch 0
    val other = Seq((20L, "de")).toDF("id", "p")
    val sinkId2 = ManifestStreamSink.sinkIdFor(ckpt + "-other")
    assert(ManifestStreamSink.commitBatch(other, 0L, out, "p", sinkId2),
      "a second stream's batch 0 must not collide with the first stream's")
    assert(dataTable(out).count() == 5)
  }

  test("snapshot publication is claim-once: a second committer on the same id must retry") {
    val out = tempDir("manifest_claim").toString
    val e1 = Seq(ManifestTables.Entry("a.parquet", 10L, "en", 0))
    val e2 = Seq(ManifestTables.Entry("b.parquet", 20L, "fr", 0))
    assert(ManifestTables.tryWriteSnapshot(out, "p", e1, 0))
    // same id already claimed -> false, and the committed content is UNCHANGED
    assert(!ManifestTables.tryWriteSnapshot(out, "p", e2, 0))
    assert(ManifestTables.readSnapshot(out, Some(0)).map(_.path) == Seq("a.parquet"))
    // the loser retries on the next id, as ManifestBatchWrite.commit does
    assert(ManifestTables.tryWriteSnapshot(out, "p", e2, 1))
    assert(ManifestTables.readLatest(out).map(_.path) == Seq("b.parquet"))
    // no stray .tmp/.inprogress file may ever read as a snapshot
    assert(ManifestTables.latestSnapshotId(out).contains(1))
  }

  test("a marker or snapshot name that exists is never overwritten, and temp files are never listed") {
    val out = tempDir("graft_publish").toString
    val mdir = Paths.get(out, "_manifests")
    def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val marker = mdir.resolve("commit-0")
    assert(ManifestTables.createOnce(marker, "first"))
    assert(!ManifestTables.createOnce(marker, "second"), "an existing marker was claimed twice")
    assert(read(marker) == "first")
    val e = Seq(ManifestTables.Entry("a.parquet", 10L, "en", 0))
    assert(ManifestTables.tryWriteSnapshot(out, "p", e, 0))
    val snapshot = mdir.resolve("snapshot-00000.json")
    val before = read(snapshot)
    assert(!ManifestTables.tryWriteSnapshot(out, "p", Seq(e.head.copy(path = "b.parquet")), 0))
    assert(read(snapshot) == before, "an existing snapshot was overwritten")
    // nothing but the published names is left behind
    assert(ManifestTables.listNames(mdir).toSet == Set("commit-0", "snapshot-00000.json"))
    // temp files a crashed publish leaves behind are never listed as committed
    Seq(".tmp-commit-1-7.inprogress", ".tmp-start-2-7.inprogress",
        ".tmp-snapshot-00001.json-7.inprogress").foreach(n => Files.write(mdir.resolve(n), Array[Byte]()))
    assert(graft.pipeline.TranscriptPipeline.committedAttempts(out) == Set(0))
    assert(ManifestTables.latestSnapshotId(out).contains(0))
    ManifestTables.replaceAtomically(snapshot, "replaced")
    assert(read(snapshot) == "replaced")
    assert(!ManifestTables.listNames(mdir).exists(n => n.startsWith(".tmp-snapshot-00000")))
    // published files get the mode of a plain write, not the temp file's owner-only one
    val plain = Files.write(mdir.resolve("plain"), Array[Byte]())
    Seq(marker, snapshot).foreach(p =>
      assert(Files.getPosixFilePermissions(p) == Files.getPosixFilePermissions(plain), s"$p mode"))
  }

  test("segment layering: 100 appends x 100 files commit in flat per-commit metadata cost") {
    // the exact sequence ManifestBatchWrite.commit performs, at the metadata layer
    // (no Spark jobs, so the measurement isolates commit cost): one segment per
    // append + a snapshot referencing previous segment names. Cost must NOT grow with
    // total file count — the round-3 path rewrote all previous entries every time.
    val out = tempDir("manifest_layered").toString
    def appendOnce(i: Int): Double = {
      val entries = (0 until 100).map(j =>
        ManifestTables.Entry(f"p=a/part-$i%03d-$j%03d.parquet", 1000L + j, "a", 0))
      val t0 = System.nanoTime()
      val seg = ManifestTables.writeSegment(out, entries)
      val latest = ManifestTables.latestSnapshotId(out)
      val prev = latest.map(_ => ManifestTables.readSnapshotRefs(out, None))
        .getOrElse(ManifestTables.SnapshotRefs(0, Nil, Nil))
      assert(ManifestTables.tryWriteSnapshotRefs(out, "p", Nil,
        prev.segments :+ seg, latest.map(_ + 1).getOrElse(0)))
      (System.nanoTime() - t0) / 1e6
    }
    val times = (0 until 100).map(appendOnce)
    assert(ManifestTables.readLatest(out).size == 10000)
    // snapshot 99 references 100 segments by NAME; its size is O(segments), far below
    // the ~1 MB an inline 10k-entry list costs
    val snapBytes = Files.size(Paths.get(out, "_manifests", "snapshot-00099.json"))
    assert(snapBytes < 8000, s"snapshot file grew to $snapBytes bytes — inline entries leaking?")
    // wall-time flatness: the last 10 commits may not cost more than 5x the first 10
    // (generous bound — the lists being compared differ 10x in committed files, the
    // old design differed ~90x in bytes written)
    val first = times.slice(2, 12).sum / 10
    val last = times.takeRight(10).sum / 10
    assert(last < first * 5 + 2.0, s"per-commit cost grew: first10=${first}ms last10=${last}ms")
    // time travel into the middle of the append history
    assert(ManifestTables.readSnapshot(out, Some(49)).size == 5000)
    // incremental planning is O(delta): the (98, 99] diff yields exactly the last
    // append's 100 files out of 10000 — no baseline rescan in the served set
    val refs99 = ManifestTables.readSnapshotRefs(out, None)
    val endPaths = ManifestTables.entriesOf(out, refs99).map(_.path).toSet
    val base98 = ManifestDataSource.incrementalBaseline(out, 98, refs99, endPaths)
    assert((endPaths -- base98).size == 100, s"delta was ${(endPaths -- base98).size}")
    // compaction folds everything into one segment, preserving entries and history
    val cid = ManifestTables.compact(out)
    assert(cid.contains(100))
    val refs = ManifestTables.readSnapshotRefs(out, None)
    assert(refs.inline.isEmpty && refs.segments.size == 1)
    assert(ManifestTables.readLatest(out).size == 10000)
    assert(ManifestTables.readSnapshot(out, Some(49)).size == 5000, "compaction broke time travel")
    assert(ManifestTables.compact(out).isEmpty, "re-compacting a compacted table must no-op")
  }

  test("DSv2 appends publish segments; legacy inline bootstraps fold on first append") {
    val out = freshTable() // legacy ManifestTables.commit -> INLINE entries
    val inlineRefs = ManifestTables.readSnapshotRefs(out, None)
    assert(inlineRefs.inline.nonEmpty && inlineRefs.segments.isEmpty)
    val before = dataTable(out).count()
    // first DSv2 append: previous inline entries fold into their own segment
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
      .withColumn("lang_p", lit("xx"))
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(out)
    val refs = ManifestTables.readSnapshotRefs(out, None)
    assert(refs.inline.isEmpty, "inline entries must fold into a segment on layered append")
    assert(refs.segments.size == 2, s"expected folded+fresh segments, got ${refs.segments}")
    assert(dataTable(out).count() == before + 5)
    // second append adds exactly ONE more segment reference (no re-folding)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(3)
      .withColumn("lang_p", lit("yy"))
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(out)
    val refs2 = ManifestTables.readSnapshotRefs(out, None)
    assert(refs2.inline.isEmpty && refs2.segments.size == 3,
      s"expected 3 segments after second append, got ${refs2.segments.size}")
    assert(dataTable(out).count() == before + 8)
    assert(dataTable(out).filter(col("lang_p") === "yy").count() == 3)
  }

  test("multi-column TYPED partitions: write, typed read-back, manifest pruning on both columns") {
    import spark.implicits._
    val out = tempDir("manifest_multipart").toString
    val rows = Seq(
      (1L, "a", "en", 2023, java.sql.Date.valueOf("2023-05-01")),
      (2L, "b", "en", 2024, java.sql.Date.valueOf("2024-06-02")),
      (3L, "c", "fr", 2023, java.sql.Date.valueOf("2023-05-01")),
      (4L, "d", "fr", 2024, java.sql.Date.valueOf("2024-06-02")),
      (5L, "e", "en", 2024, java.sql.Date.valueOf("2024-07-03"))
    ).toDF("id", "txt", "lang_p", "year_p", "day_p")
    rows.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p,year_p,day_p").mode("append").save(out)
    // nested Hive layout in spec order on disk
    assert(Files.isDirectory(Paths.get(out, "lang_p=en", "year_p=2024", "day_p=2024-06-02")))
    // typed schema: int and date partition columns come back TYPED, not as strings
    val back = dataTable(out)
    assert(back.schema("year_p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(back.schema("day_p").dataType == org.apache.spark.sql.types.DateType)
    assert(back.schema("lang_p").dataType == org.apache.spark.sql.types.StringType)
    // full fidelity including the typed constants
    val got = back.select("id", "txt", "lang_p", "year_p", "day_p").orderBy("id").collect()
    val want = rows.select("id", "txt", "lang_p", "year_p", "day_p").orderBy("id").collect()
    assert(got.toSeq == want.toSeq)
    // manifest-level pruning on BOTH a string and an int partition column: 5 files
    // (one per tuple), the conjunctive filter must plan exactly 2
    val filtered = back.filter(col("lang_p") === "en" && col("year_p") === 2024)
    assert(inputPartitionCount(filtered.select("id")) == 2,
      "expected manifest-level pruning to 2 files on (lang_p, year_p)")
    assert(filtered.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L))
    // date-typed equality prunes too
    val d = back.filter(col("day_p") === java.sql.Date.valueOf("2023-05-01"))
    assert(inputPartitionCount(d.select("id")) == 2)
    assert(d.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // append preserves the spec; a conflicting partcol is rejected
    val err = intercept[Exception] {
      rows.write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(out)
    }
    assert(err.getMessage.contains("partition columns"))
    // count(*) via the footer path with typed partition constants
    assert(back.filter(col("year_p") === 2023).count() == 2)
  }

  test("ShardIndexTable: fingerprint pruning drops whole shard FILES at the manifest") {
    val dir = "/root/testdata/sf0.001"
    val tbl = tempDir("shard_index_tbl").toString
    val shards = graft.ops.ShardTableCache.docShards(spark, dir, numShards = 16)
    graft.sources.ShardIndexTable.publish(shards.toDF(), tbl)
    val totalFiles = graft.sources.ManifestTables.readLatest(tbl).size
    assert(totalFiles == 16, s"expected one file per shard, got $totalFiles")
    def planned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    }
    // a pattern built from a char NO shard's corpus contains (pick an unset
    // fingerprint bit across all shards) must plan ZERO files — the scan never opens
    // a footer, the multi-MB shard column is never deserialized
    val fps = shards.collect().map(_.alpha_fp)
    val absentBit = (0 until 1024).find(b =>
      fps.forall(fp => (fp(b >>> 6) & (1L << (b & 63))) == 0L))
    assert(absentBit.isDefined, "corpus saturated the 1024-bit fingerprint — pick a bigger space")
    val absentPattern = s"x${(absentBit.get + 1024).toChar}y" // char & 1023 == absentBit
    val pruned = graft.sources.ShardIndexTable.readPruned(spark, tbl, absentPattern)
    assert(planned(pruned.select("shard_id")) == 0,
      "provably-absent pattern must prune every shard file at the manifest")
    assert(pruned.count() == 0)
    // a common pattern keeps candidate shards, and the rows served match the cached
    // in-memory shard table exactly
    val kept = graft.sources.ShardIndexTable.readPruned(spark, tbl, "the ")
    val keptFiles = planned(kept.select("shard_id"))
    assert(keptFiles > 0 && keptFiles <= totalFiles)
    assert(kept.select("shard_id").distinct().count() == shards.toDF()
      .select("shard_id").distinct().count())
  }

  test("FunctionCatalog: SQL fm_count predicate prunes shard FILES via V2 pushdown") {
    // The query-driven twin of the readPruned test: nothing but a WHERE clause —
    // `cat.fm_count(shard, p) > 0` resolves through ManifestCatalog's
    // FunctionCatalog, Catalyst translates it to a UserDefinedScalarFunc V2
    // predicate, and ManifestDataScanBuilder.pushPredicates turns it into
    // fingerprint file pruning. The predicate stays residual, so answers are
    // oracle-exact regardless of pruning (q26b pins that); HERE we pin the I/O.
    val dir = "/root/testdata/sf0.001"
    val wh = tempDir("fm_fn_catalog").toString
    val shards = graft.ops.ShardTableCache.docShards(spark, dir, numShards = 16)
    graft.sources.ShardIndexTable.publish(shards.toDF(), s"$wh/fm/shards")
    spark.conf.set("spark.sql.catalog.graft_fnc", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_fnc.warehouse", wh)
    def planned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    }
    // absent pattern (unset fingerprint bit in every shard) -> ZERO files planned
    val fps = shards.collect().map(_.alpha_fp)
    val absentBit = (0 until 1024).find(b =>
      fps.forall(fp => (fp(b >>> 6) & (1L << (b & 63))) == 0L)).get
    val absent = s"x${(absentBit + 1024).toChar}y"
    val qAbsent = spark.sql(
      s"SELECT shard_id FROM graft_fnc.fm.shards WHERE graft_fnc.fm_count(shard, '$absent') > 0")
    assert(planned(qAbsent) == 0,
      "SQL fm_count predicate on a provably-absent pattern must prune every file")
    // present pattern -> candidate files only, and the residual predicate still
    // re-checks: the total equals the session-expression answer on the full table
    val qThe = spark.sql(
      "SELECT CAST(sum(graft_fnc.fm_count(shard, 'the ')) AS BIGINT) AS n " +
        "FROM graft_fnc.fm.shards WHERE graft_fnc.fm_count(shard, 'the ') > 0")
    graft.functions.FmFunctions.register(spark)
    val expected = shards.toDF().selectExpr("fm_count(shard, 'the ') AS c")
      .agg(sum("c")).head().getLong(0)
    assert(qThe.head().getLong(0) == expected)
    val keptFiles = planned(spark.sql(
      "SELECT shard_id FROM graft_fnc.fm.shards WHERE graft_fnc.fm_count(shard, 'the ') > 0"))
    assert(keptFiles > 0 && keptFiles <= 16)
    // the pushed predicate is visible in the explain output (UI/debug surface)
    val explained = qAbsent.queryExecution.toString
    assert(explained.contains("fm_count"), "plan should carry the fm_count predicate")
  }

  test("storage-partitioned join: co-partitioned manifest tables join with NO shuffle") {
    import spark.implicits._
    val dirA = tempDir("manifest_spj_a").toString
    val dirB = tempDir("manifest_spj_b").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("lang_p", col("lang")).drop("lang")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(dirA)
    Seq(("en", 1.0), ("fr", 2.0), ("es", 3.0), ("de", 4.0), ("zh", 5.0))
      .toDF("lang_p", "weight")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(dirB)
    val prev = (spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a non-broadcast join
    try {
      val a = dataTable(dirA)
      val b = dataTable(dirB)
      val joined = a.join(b, "lang_p")
        .groupBy("lang_p").agg(count(lit(1)).as("n"), max("weight").as("w"))
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      val native = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.map(t => t._1 -> t._2).toMap == native)
      // join AND aggregation both run on the reported storage partitioning: the
      // whole plan is EXCHANGE-FREE (SortMergeJoin over locally-sorted scans)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"expected a shuffle-free storage-partitioned join:\n${p.take(2000)}")
      assert(p.contains("Join"), s"plan lost its join?\n${p.take(500)}")
    } finally {
      prev._1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._2)
    }
  }

  test("limit pushdown: readers stop early, results stay correct") {
    val out = freshTable()
    val native = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // correctness: limited reads agree with the native reader on count, and rows are
    // a subset of the table
    assert(dataTable(out).limit(7).count() == 7)
    val some = dataTable(out).select("doc_id").limit(3).collect().map(_.getLong(0)).toSet
    val all = native.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(some.size == 3 && some.subsetOf(all))
    // a limit larger than the table is the identity
    assert(dataTable(out).limit(1000000).count() == native.count())
    // zero-data-column footer path honors the cap too
    assert(dataTable(out).select("lang_p").limit(2).count() == 2)
  }

  test("expireSnapshots reclaims overwritten files; retained history and reads survive") {
    import spark.implicits._
    val out = tempDir("manifest_expire").toString
    def write(mode: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode).save(out)
    write("append", Seq((1L, "a")))            // snapshot 0
    write("append", Seq((2L, "a")))            // snapshot 1
    write("overwrite", Seq((10L, "b")))        // snapshot 2: drops snapshots 0-1's files logically
    write("append", Seq((11L, "b")))           // snapshot 3
    def dataFiles(): Set[String] = {
      val w = Files.walk(Paths.get(out))
      try {
        val it = w.iterator()
        var s = Set.empty[String]
        while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".parquet") &&
          !p.toString.contains("_manifests")) s += p.toString }
        s
      } finally w.close()
    }
    val before = dataFiles()
    assert(before.size == 4)
    // keep the last 2 snapshots: 0 and 1 expire; their files are referenced by NO
    // retained snapshot (the overwrite dropped them) -> physically reclaimed
    val (nSnap, nSeg, nData) = ManifestTables.expireSnapshots(out, keepLast = 2)
    assert(nSnap == 2 && nData == 2, s"expected 2 snapshots + 2 data files removed, got ($nSnap, $nSeg, $nData)")
    assert(dataFiles().size == 2)
    // live reads + retained time travel unaffected
    assert(dataTable(out).select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "2").load(out).count() == 1)
    // expired ids are gone
    val err = intercept[Exception] {
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("snapshot", "0").load(out).collect()
    }
    assert(err.getMessage.contains("no committed snapshot 0"))
    // shared segments survive: snapshot 3 references snapshot 2's segment — a second
    // expiry keeping only the latest must NOT delete files snapshot 3 still lists
    val (n2, _, d2) = ManifestTables.expireSnapshots(out, keepLast = 1)
    assert(n2 == 1 && d2 == 0, s"expiring snapshot 2 must reclaim no files (all shared), got d2=$d2")
    assert(dataTable(out).count() == 2)
    // idempotent
    assert(ManifestTables.expireSnapshots(out, keepLast = 1) == ((0, 0, 0)))
  }

  test("expiry preserves streaming exactly-once: a replayed batch stays refused after its note's snapshot is gone") {
    import spark.implicits._
    val out = tempDir("manifest_expire_stream").toString
    val sinkId = "expire-sink"
    assert(ManifestStreamSink.commitBatch(Seq((1L, "a")).toDF("id", "p"), 0L, out, "p", sinkId))
    assert(ManifestStreamSink.commitBatch(Seq((2L, "a")).toDF("id", "p"), 1L, out, "p", sinkId))
    // a later un-noted commit (e.g. compaction or a plain append) becomes the only
    // retained snapshot — both noted snapshots expire
    Seq((3L, "b")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .mode("append").save(out)
    val (nSnap, _, _) = ManifestTables.expireSnapshots(out, keepLast = 1)
    assert(nSnap == 2)
    // the sink's high-water mark survived in the sidecar: replaying batches 0/1 is
    // still a no-op (without preservation this would duplicate rows)
    assert(!ManifestStreamSink.commitBatch(Seq((9L, "z")).toDF("id", "p"), 0L, out, "p", sinkId))
    assert(!ManifestStreamSink.commitBatch(Seq((9L, "z")).toDF("id", "p"), 1L, out, "p", sinkId))
    assert(dataTable(out).filter(col("p") === "z").count() == 0)
    // a genuinely NEW batch still commits
    assert(ManifestStreamSink.commitBatch(Seq((4L, "c")).toDF("id", "p"), 2L, out, "p", sinkId))
    assert(dataTable(out).count() == 4)
  }

  test("tableSchema walks the ACTUAL snapshot ids after expiry leaves gaps") {
    import spark.implicits._
    val out = tempDir("manifest_expire_schema").toString
    Seq((1L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)         // snapshot 0
    Seq((2L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .mode("append").save(out)                                // snapshot 1
    spark.emptyDataset[(Long, String)].toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName).mode("overwrite").save(out) // snapshot 2: empty
    ManifestTables.expireSnapshots(out, keepLast = 2)          // ids now {1, 2} — 0 is a gap
    // the empty-latest schema fallback must walk existing ids, not assume 0..latest
    assert(dataTable(out).count() == 0)
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "1").load(out).count() == 2)
  }

  test("removeOrphans reclaims stale unreferenced segment JSONs too") {
    import spark.implicits._
    val out = tempDir("manifest_orphan_segs").toString
    Seq((1L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    val referenced = ManifestTables.readSnapshotRefs(out, None).segments
    assert(referenced.nonEmpty)
    // a lost compact() attempt / crashed pre-publication commit leaves an
    // unreferenced segment; old ones must be reclaimed, referenced ones kept
    val strayName = ManifestTables.writeSegment(out,
      Seq(ManifestTables.Entry("ghost.parquet", 1L, "a", 0)))
    val stray = Paths.get(out, "_manifests", strayName)
    Files.setLastModifiedTime(stray,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 86400000L))
    val removed = ManifestTables.removeOrphans(out, olderThanMillis = 3600000L)
    assert(removed == 1)
    assert(!Files.exists(stray))
    referenced.foreach(s => assert(Files.exists(Paths.get(out, "_manifests", s))))
    assert(dataTable(out).count() == 1)
    // the threshold floor is enforced
    val err = intercept[IllegalArgumentException] { ManifestTables.removeOrphans(out, 1000L) }
    assert(err.getMessage.contains("floor"))
  }

  test("removeOrphans deletes only old unreferenced files") {
    import spark.implicits._
    val out = tempDir("manifest_orphans").toString
    Seq((1L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    // an old orphan (aborted/crashed write): unreferenced + old mtime -> deleted
    val oldOrphan = Paths.get(out, "p=a", "orphan-old.parquet")
    Files.write(oldOrphan, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(oldOrphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 86400000L))
    // a fresh orphan (possibly an in-flight writer) -> kept
    val newOrphan = Paths.get(out, "p=a", "orphan-new.parquet")
    Files.write(newOrphan, Array[Byte](4, 5, 6))
    val removed = ManifestTables.removeOrphans(out, olderThanMillis = 3600000L)
    assert(removed == 1)
    assert(!Files.exists(oldOrphan) && Files.exists(newOrphan))
    // committed data untouched
    assert(dataTable(out).count() == 1)
  }

  test("noted commits are exactly-once under concurrency (TOCTOU regression)") {
    import spark.implicits._
    // N racing committers carrying the SAME (sinkId, batchId) note: exactly one may
    // publish. The round-3 code checked the note BEFORE reading the latest snapshot
    // id — a competing noted publication landing between the two reads would be
    // missed and the batch published twice. The fixed order (pin id, then check note)
    // makes the CAS failure route every loser back through the note check.
    val out = tempDir("manifest_race").toString
    Seq((0L, "seed")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(out)
    val batch = Seq((1L, "en"), (2L, "fr")).toDF("id", "p")
    val sinkId = "race-sink"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = (0 until 6).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            gate.await()
            ManifestStreamSink.commitBatch(batch, 7L, out, "p", sinkId)
          }
        })
      }
      gate.countDown()
      results.foreach(_.get()) // surface any exception; return value only reflects
                               // the fast-path pre-check, not who won the race
    } finally pool.shutdown()
    // the batch's rows appear exactly once, and exactly ONE snapshot landed beyond
    // the seed (id 0): every losing racer must have deduped inside the commit loop
    assert(dataTable(out).filter(col("id") === 1L).count() == 1)
    assert(dataTable(out).count() == 3)
    assert(ManifestTables.latestSnapshotId(out).contains(1),
      "racing noted commits published more than one snapshot")
  }

  test("aggregate pushdown: COUNT/MIN/MAX served from parquet footers, zero page decodes") {
    val out = freshTable()
    val native = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // global: one partial row per file, merged by Spark's final aggregate
    val g = dataTable(out).agg(count(lit(1)).as("n"),
      min("n_chars").as("mn"), max("n_chars").as("mx"))
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_data_agg") && plan.contains("pushed=["),
      s"aggregate did not push to the source:\n${plan.take(1200)}")
    val got = g.head()
    val want = native.agg(count(lit(1)), min("n_chars"), max("n_chars")).head()
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1) && got.getLong(2) == want.getLong(2))
    // grouped by the partition column: files are partition-homogeneous partials
    val grouped = dataTable(out).groupBy("lang_p")
      .agg(count(lit(1)).as("n"), max("n_chars").as("mx"))
      .orderBy("lang_p")
    assert(grouped.queryExecution.executedPlan.toString.contains("manifest_data_agg"))
    val gotG = grouped.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val wantG = native.groupBy("lang").agg(count(lit(1)), max("n_chars")).orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotG == wantG)
    // partition pruning composes with the pushed aggregate
    val en = dataTable(out).filter(col("lang_p") === "en").agg(count(lit(1))).head().getLong(0)
    assert(en == native.filter(col("lang") === "en").count())
    // GLOBAL count over a zero-file match must be 0, not null/empty
    val none = dataTable(out).filter(col("lang_p") === "nope").agg(count(lit(1))).head()
    assert(!none.isNullAt(0) && none.getLong(0) == 0L)
    // non-pushable aggregates (sum, string min) fall back to the row path and agree
    val sumDf = dataTable(out).agg(sum("n_chars"))
    assert(!sumDf.queryExecution.executedPlan.toString.contains("manifest_data_agg"))
    assert(sumDf.head().getLong(0) == native.agg(sum("n_chars")).head().getLong(0))
  }

  test("aggregate pushdown: COUNT(col) from footer null counts — planted nulls, " +
      "pre-ADD files count 0, DISTINCT and partition columns stay plan-side") {
    import spark.implicits._
    val wh = tempDir("manifest_countcol").toString
    val tblDir = s"$wh/ns/t"
    // gen-1: nullable int + string columns with planted nulls
    Seq((1L, Some(10), Some("x"), "en"), (2L, Option.empty[Int], Option.empty[String], "en"),
        (3L, Some(30), Some("z"), "fr"), (4L, Option.empty[Int], Some("w"), "fr"))
      .toDF("id", "v", "s", "lang_p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tblDir)
    spark.conf.set("spark.sql.catalog.graft_cc", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cc.warehouse", wh)
    // straddle an ADD COLUMN: gen-1 files lack `score` entirely (their partial is 0)
    spark.sql("ALTER TABLE graft_cc.ns.t ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO graft_cc.ns.t VALUES " +
      "(5, 50, 'y', 'de', 0.5), (6, NULL, NULL, 'de', NULL)")
    val agg = spark.sql(
      "SELECT count(v), count(s), count(score), count(*) FROM graft_cc.ns.t")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_data_agg") && plan.contains("count(v)"),
      s"COUNT(col) did not push to the source:\n${plan.take(1200)}")
    assert(agg.head() == org.apache.spark.sql.Row(3L, 4L, 1L, 6L))
    // grouped by the partition column: per-file partials are per-group partials
    val grouped = spark.sql(
      "SELECT lang_p, count(v) FROM graft_cc.ns.t GROUP BY lang_p ORDER BY lang_p")
    assert(grouped.queryExecution.executedPlan.toString.contains("manifest_data_agg"))
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("de", 1L), ("en", 1L), ("fr", 1L)))
    // count(DISTINCT c) needs the rows — plan-side, and agrees
    val distinctDf = spark.sql("SELECT count(DISTINCT v) FROM graft_cc.ns.t")
    assert(!distinctDf.queryExecution.executedPlan.toString.contains("manifest_data_agg"))
    assert(distinctDf.head().getLong(0) == 3L)
    // partition columns never reach a footer chunk — but Catalyst normalizes
    // count(<non-nullable col>) to count(*), so it pushes in that form and agrees
    val partCount = spark.sql("SELECT count(lang_p) FROM graft_cc.ns.t")
    assert(partCount.queryExecution.executedPlan.toString.contains("pushed=[count(*)]"))
    assert(partCount.head().getLong(0) == 6L)
  }

  test("reported statistics: a small manifest table AUTO-BROADCASTS in a join") {
    val out = freshTable()
    // the manifest side is tiny (sf0.001 documents); its reported sizeInBytes must
    // reach Catalyst so the join plans a broadcast instead of shuffling both sides
    val stats = dataTable(out).queryExecution.optimizedPlan.stats
    val onDisk = ManifestTables.readLatest(out).map(_.bytes).sum
    assert(stats.sizeInBytes.toLong == onDisk,
      s"reported ${stats.sizeInBytes} != manifest bytes $onDisk")
    val big = spark.range(1000000).withColumnRenamed("id", "doc_id")
    val joined = big.join(dataTable(out).select("doc_id", "lang_p"), "doc_id")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small manifest side must broadcast:\n${p.take(1200)}")
    // pruned scans report PRUNED bytes: filtering one lang shrinks the estimate
    val en = dataTable(out).filter(col("lang_p") === "en")
    assert(en.queryExecution.optimizedPlan.stats.sizeInBytes.toLong < onDisk)
  }

  test("runtime filtering (DPP): a join's build side prunes manifest FILES at execution") {
    import spark.implicits._
    val out = freshTable()
    val total = ManifestTables.readLatest(out).size
    // dim stays broadcastable but the manifest fact side must NOT broadcast (a
    // broadcast fact has no scan exchange to prune) — shrink the threshold under the
    // fact's reported size so Spark plans BHJ(dim) + DPP on the partition column
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try {
    // dim must be a SOURCE-backed relation: a filter over a LocalRelation is
    // constant-folded away before PartitionPruning looks for a selective predicate
    val dimDir = tempDir("manifest_dpp_dim").toString
    Seq(("en", 1), ("zz", 2)).toDF("lang_key", "grp").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = dataTable(out)
    val joined = fact.join(dim.filter(col("grp") === 1),
      fact("lang_p") === dim("lang_key"))
    val n = joined.count()
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(n == want)
    joined.collect()
    val scans = {
      def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val inner = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => all(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(q.plan)
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => all(r.child)
          case _ => Nil
        }
        p +: (p.children.flatMap(all) ++ inner)
      }
      all(joined.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.toString.contains("manifest_data") => b
      }
    }
    assert(scans.nonEmpty)
    // the runtime filter reached the scan: fewer FILES planned than committed. With
    // key-grouped reporting the RDD keeps one (possibly EMPTY) group per original
    // partition value, so count actual InputPartitions, not RDD partitions
    val planned = scans.map(_.inputRDD.partitions.map {
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        d.inputPartitions.length
      case _ => 1
    }.sum).sum
    assert(planned < total && planned > 0,
      s"expected runtime file pruning: planned=$planned of $total files " +
        s"(runtime filters: ${scans.map(_.runtimeFilters).mkString(";")})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("snapshot ordering is NUMERIC: id 100000 supersedes 99999 (pad-overflow regression)") {
    // lexicographically "snapshot-100000.json" < "snapshot-99999.json": a
    // name-sorted 'latest' would serve stale data and the append path would
    // silently drop the 100000th commit
    val out = tempDir("manifest_bignum").toString
    assert(ManifestTables.tryWriteSnapshot(out, "p",
      Seq(ManifestTables.Entry("old.parquet", 1L, "", 0)), 99999))
    assert(ManifestTables.tryWriteSnapshot(out, "p",
      Seq(ManifestTables.Entry("new.parquet", 1L, "", 0)), 100000, note = "bignote"))
    assert(ManifestTables.latestSnapshotId(out).contains(100000))
    assert(ManifestTables.readLatest(out).map(_.path) == Seq("new.parquet"),
      "latest must resolve by numeric id, not name sort")
    assert(ManifestTables.readSnapshotRefs(out, None).snapshot == 100000)
    assert(ManifestTables.hasCommittedNote(out, "bignote"))
  }

  test("writer rejects partition values containing the reserved separator") {
    import spark.implicits._
    val out = tempDir("manifest_sep").toString
    val bad = Seq((1L, "a\u001fb", "x")).toDF("id", "p1", "p2")
    val err = intercept[Exception] {
      bad.write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p1,p2").mode("append").save(out)
    }
    assert(err.getMessage.contains("reserved") || err.getMessage.contains("u001f"),
      s"unexpected: ${err.getMessage.take(300)}")
    // nothing was committed — the table stays absent rather than poisoned
    assert(ManifestTables.latestSnapshotId(out).isEmpty)
  }

  test("over-long commit notes are rejected at write time (head-probe contract)") {
    val out = tempDir("manifest_note_len").toString
    val e = Seq(ManifestTables.Entry("a.parquet", 1L, "", 0))
    val longNote = "n" * 300
    val err = intercept[IllegalArgumentException] {
      ManifestTables.tryWriteSnapshot(out, "", e, 0, longNote)
    }
    assert(err.getMessage.contains("note too long"))
    // at the boundary it still works and is findable by the head probe
    val okNote = "n" * ManifestTables.MaxNoteLength
    assert(ManifestTables.tryWriteSnapshot(out, "", e, 0, okNote))
    assert(ManifestTables.hasCommittedNote(out, okNote))
  }

  test("VERSION AS OF serves a legitimately EMPTY snapshot (empty overwrite)") {
    import spark.implicits._
    val wh = tempDir("manifest_wh_empty").toString
    val tblDir = s"$wh/ns/t"
    Seq((1L, "en")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(tblDir)
    // empty overwrite -> snapshot 1 lists no files
    spark.emptyDataset[(Long, String)].toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName).mode("overwrite").save(tblDir)
    spark.conf.set("spark.sql.catalog.graft_empt", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_empt.warehouse", wh)
    assert(spark.sql("SELECT count(*) FROM graft_empt.ns.t VERSION AS OF 1").head().getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft_empt.ns.t VERSION AS OF 0").head().getLong(0) == 1)
    // unknown snapshot still fails at resolution
    val bad = intercept[Exception] {
      spark.sql("SELECT * FROM graft_empt.ns.t VERSION AS OF 42").collect()
    }
    assert(bad.getMessage.contains("42"))
  }

  test("TableCatalog plugin: SQL by name, INSERT INTO commits a snapshot, VERSION AS OF time-travels") {
    import spark.implicits._
    val wh = tempDir("manifest_wh").toString
    // create the table by WRITING (DSv2 bootstrap) at its catalog location
    val tblDir = s"$wh/corpus/docs"
    Seq((1L, "hello", "en"), (2L, "bonjour", "fr")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tblDir)
    spark.conf.set("spark.sql.catalog.graft_test", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_test.warehouse", wh)
    // SELECT by name
    val n0 = spark.sql("SELECT count(*) AS n FROM graft_test.corpus.docs").head().getLong(0)
    assert(n0 == 2)
    // INSERT INTO by name commits a new snapshot through the same write path
    spark.sql("INSERT INTO graft_test.corpus.docs VALUES (3, 'hallo', 'de')")
    assert(spark.sql("SELECT count(*) FROM graft_test.corpus.docs").head().getLong(0) == 3)
    assert(spark.sql(
      "SELECT txt FROM graft_test.corpus.docs WHERE lang_p = 'de'").head().getString(0) == "hallo")
    // SQL time travel reads the pre-insert snapshot
    assert(spark.sql(
      "SELECT count(*) FROM graft_test.corpus.docs VERSION AS OF 0").head().getLong(0) == 2)
    // listing + existence
    assert(spark.sql("SHOW TABLES IN graft_test.corpus").collect()
      .map(_.getString(1)).contains("docs"))
    val missing = intercept[Exception] {
      spark.sql("SELECT * FROM graft_test.corpus.nope").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("nope"))
  }

  test("schema evolution: ADD COLUMN is metadata-only; old files null-fill; " +
      "time travel serves the historical schema") {
    import spark.implicits._
    val wh = tempDir("manifest_evolve").toString
    val tblDir = s"$wh/ns/t"
    Seq((1L, "a", "en"), (2L, "b", "fr")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tblDir)
    spark.conf.set("spark.sql.catalog.graft_evo", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evo.warehouse", wh)
    def countData(): Long = {
      val w = Files.walk(Paths.get(tblDir))
      try w.filter(_.toString.endsWith(".parquet")).count() finally w.close()
    }
    val dataFilesBefore = countData()
    spark.sql("ALTER TABLE graft_evo.ns.t ADD COLUMN score DOUBLE")
    // metadata-only: no data file written or rewritten
    assert(countData() == dataFilesBefore, "ALTER must not touch data files")
    // old rows serve the added column as NULL (vectorized constant fill)
    val widened = spark.sql("SELECT id, txt, score, lang_p FROM graft_evo.ns.t ORDER BY id")
      .collect()
    assert(widened.map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq ==
      Seq((1L, "a", true), (2L, "b", true)))
    // new appends carry the column; mixed old/new files read correctly
    // table order after ALTER: (id, txt, lang_p, score) — added columns append last
    spark.sql("INSERT INTO graft_evo.ns.t VALUES (3, 'c', 'de', 0.5)")
    val mixed = spark.sql(
      "SELECT id, score FROM graft_evo.ns.t ORDER BY id").collect()
    assert(mixed.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some(0.5))))
    assert(spark.sql("SELECT count(*) FROM graft_evo.ns.t WHERE score IS NULL")
      .head().getLong(0) == 2)
    // projecting ONLY constant columns over a pre-ALTER file (the no-decode path)
    assert(spark.sql("SELECT score, lang_p FROM graft_evo.ns.t WHERE lang_p = 'en'")
      .collect().map(r => (r.isNullAt(0), r.getString(1))).toSeq == Seq((true, "en")))
    // time travel: the pre-ALTER snapshot serves the NARROW historical schema
    val v0 = spark.sql("SELECT * FROM graft_evo.ns.t VERSION AS OF 0")
    assert(!v0.schema.fieldNames.contains("score"), v0.schema.simpleString)
    assert(v0.count() == 2)
    // an append that omits the added NULLABLE column null-fills it (Spark's output
    // resolution against the evolved table schema supplies the null default) —
    // old writers keep working after an ALTER, the evolution contract
    Seq((4L, "d", "zh")).toDF("id", "txt", "lang_p")
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tblDir)
    assert(spark.sql("SELECT score FROM graft_evo.ns.t WHERE id = 4").head().isNullAt(0))
    // compaction preserves the evolved schema
    assert(ManifestTables.compact(tblDir).isDefined)
    assert(spark.read.format(classOf[ManifestDataSource].getName).load(tblDir)
      .schema.fieldNames.contains("score"))
    assert(spark.sql("SELECT CAST(sum(score) AS DOUBLE) FROM graft_evo.ns.t")
      .head().getDouble(0) == 0.5)
    // RENAME is a metadata-only registry edit as of round 5 (see the dedicated
    // rename battery); TYPE CHANGES still fail loudly
    spark.sql("ALTER TABLE graft_evo.ns.t RENAME COLUMN txt TO body")
    val cnt = spark.sql("SELECT count(*) FROM graft_evo.ns.t").head().getLong(0)
    assert(spark.sql("SELECT count(body) FROM graft_evo.ns.t").head().getLong(0) == cnt)
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE graft_evo.ns.t ALTER COLUMN body TYPE INT")
    }
    // Spark's analyzer refuses the type change before our catalog even sees it
    // (NOT_SUPPORTED_CHANGE_COLUMN); our own guard names ADD/RENAME/DROP
    assert(bad.getMessage.contains("ADD/RENAME/DROP") ||
      bad.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), bad.getMessage)
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE graft_evo.ns.t ADD COLUMN score DOUBLE")
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("DELETE FROM: partition-predicate deletes are metadata-only snapshot edits; " +
      "untouched segments carry by name; time travel still serves pre-delete data") {
    import spark.implicits._
    val wh = tempDir("manifest_delete").toString
    val tblDir = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tblDir)
    append((1L, "en"), (2L, "en"))            // segment A: all matching
    append((3L, "fr"), (4L, "de"))            // segment B: untouched
    append((5L, "en"), (6L, "fr"))            // segment C: mixed -> rewritten
    spark.conf.set("spark.sql.catalog.graft_del", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_del.warehouse", wh)
    def dataFiles(): Long = {
      val w = Files.walk(Paths.get(tblDir))
      try w.filter(_.toString.endsWith(".parquet")).count() finally w.close()
    }
    val filesBefore = dataFiles()
    val preDeleteSnap = ManifestTables.latestSnapshotId(tblDir).get
    val segsBefore = ManifestTables.readSnapshotRefs(tblDir, None).segments
    assert(segsBefore.length == 3, segsBefore.mkString(","))
    spark.sql("DELETE FROM graft_del.ns.t WHERE lang_p = 'en'")
    assert(spark.sql("SELECT id FROM graft_del.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 6L))
    // metadata-only: no data file removed or rewritten; the pre-delete snapshot
    // still serves all six rows (reclamation is expireSnapshots' job, not DELETE's)
    assert(dataFiles() == filesBefore, "DELETE must not touch data files")
    assert(spark.sql(s"SELECT count(*) FROM graft_del.ns.t VERSION AS OF $preDeleteSnap")
      .head().getLong(0) == 6)
    // segment discipline: B carried by NAME, A dropped, C replaced by a rewrite
    val segsAfter = ManifestTables.readSnapshotRefs(tblDir, None).segments
    assert(segsAfter.contains(segsBefore(1)), "untouched segment must carry by name")
    assert(!segsAfter.contains(segsBefore(0)) && !segsAfter.contains(segsBefore(2)))
    assert(segsAfter.length == 2, segsAfter.mkString(","))
    // a no-match delete publishes NO snapshot (the table is unchanged)
    val idBefore = ManifestTables.latestSnapshotId(tblDir).get
    spark.sql("DELETE FROM graft_del.ns.t WHERE lang_p = 'zz'")
    assert(ManifestTables.latestSnapshotId(tblDir).get == idBefore)
    // non-partition predicates take the COPY-ON-WRITE path (see the row-level
    // operations test): only the file holding the matching row is swapped
    val entriesPreRowLevel = ManifestTables.readSnapshot(tblDir, None).map(_.path).toSet
    spark.sql("DELETE FROM graft_del.ns.t WHERE id = 3")
    assert(spark.sql("SELECT id FROM graft_del.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(4L, 6L))
    val entriesPostRowLevel = ManifestTables.readSnapshot(tblDir, None).map(_.path).toSet
    // exactly one file replaced (segment B's fr file holds only id=3, so the
    // rewrite has zero survivors and the file is simply dropped); every other
    // file carries untouched
    assert((entriesPreRowLevel -- entriesPostRowLevel).size == 1,
      s"expected 1 replaced file, diff=${entriesPreRowLevel -- entriesPostRowLevel}")
    // IN predicate; then unconditional DELETE = truncate to a legitimately empty
    // snapshot that still reads (and time travel still works underneath)
    spark.sql("DELETE FROM graft_del.ns.t WHERE lang_p IN ('fr')")
    assert(spark.sql("SELECT id FROM graft_del.ns.t").collect().map(_.getLong(0)).toSeq == Seq(4L))
    spark.sql("DELETE FROM graft_del.ns.t")
    assert(spark.sql("SELECT count(*) FROM graft_del.ns.t").head().getLong(0) == 0)
    assert(spark.sql(s"SELECT count(*) FROM graft_del.ns.t VERSION AS OF $preDeleteSnap")
      .head().getLong(0) == 6)
  }

  test("row-level operations: UPDATE/MERGE copy-on-write rewrites only files with " +
      "matches; _file provenance column; no-match ops publish nothing") {
    import spark.implicits._
    val wh = tempDir("manifest_rowlevel").toString
    val tblDir = s"$wh/ns/t"
    def append(rows: (Long, String, Long)*): Unit =
      rows.toSeq.toDF("id", "lang_p", "score").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tblDir)
    append((1L, "en", 10L), (2L, "fr", 20L))   // 2 files
    append((3L, "en", 30L), (4L, "en", 40L))   // 1 file (same partition)
    append((5L, "de", 50L))                    // 1 file
    spark.conf.set("spark.sql.catalog.graft_rl", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rl.warehouse", wh)
    def rows() = spark.sql("SELECT id, lang_p, score FROM graft_rl.ns.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def entries() = ManifestTables.readSnapshot(tblDir, None).map(_.path).toSet

    // the _file metadata column reports each row's manifest-relative source file
    val byFile = spark.sql("SELECT _file, id FROM graft_rl.ns.t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(byFile.map(_._1).toSet == entries(), "_file must be the manifest-relative path")
    assert(byFile.filter { case (_, id) => id == 3L || id == 4L }.map(_._1).distinct.size == 1,
      "ids 3 and 4 were appended into one en file")

    // UPDATE with a row predicate: only the file holding ids 3+4 is swapped
    val preUpdate = entries()
    val preUpdateSnap = ManifestTables.latestSnapshotId(tblDir).get
    spark.sql("UPDATE graft_rl.ns.t SET score = score + 1 WHERE id = 3")
    assert(rows() == Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "en", 31L),
      (4L, "en", 40L), (5L, "de", 50L)))
    val postUpdate = entries()
    assert((preUpdate -- postUpdate).size == 1, s"one file out, got ${preUpdate -- postUpdate}")
    assert((postUpdate -- preUpdate).size == 1, s"one file in, got ${postUpdate -- preUpdate}")
    // time travel still serves the pre-update value from the original file
    assert(spark.sql(s"SELECT score FROM graft_rl.ns.t VERSION AS OF $preUpdateSnap WHERE id = 3")
      .head().getLong(0) == 30L)

    // a no-match UPDATE publishes NO snapshot
    val idBefore = ManifestTables.latestSnapshotId(tblDir).get
    spark.sql("UPDATE graft_rl.ns.t SET score = 0 WHERE id = 999")
    assert(ManifestTables.latestSnapshotId(tblDir).get == idBefore)

    // MERGE: matched rows update, unmatched source rows insert (new file appended);
    // files without matches carry untouched
    val preMerge = entries()
    spark.sql(
      """MERGE INTO graft_rl.ns.t t
        |USING (SELECT * FROM VALUES (5L, 'de', 500L), (7L, 'it', 70L) AS s(id, lang_p, score)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.score = s.score
        |WHEN NOT MATCHED THEN INSERT (id, lang_p, score) VALUES (s.id, s.lang_p, s.score)
        |""".stripMargin)
    assert(rows() == Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "en", 31L),
      (4L, "en", 40L), (5L, "de", 500L), (7L, "it", 70L)))
    val postMerge = entries()
    // only the de file was replaced; en/fr files carry; the it row landed in a fresh file
    assert((preMerge -- postMerge).size == 1, s"merge replaced ${preMerge -- postMerge}")
    assert(spark.sql("SELECT DISTINCT lang_p FROM graft_rl.ns.t WHERE id = 7")
      .head().getString(0) == "it")

    // row-level ops on a time-travel relation are refused loudly
    val bad = intercept[Exception] {
      spark.sql(s"UPDATE graft_rl.ns.t VERSION AS OF $preUpdateSnap SET score = 0 WHERE id = 1")
    }
    assert(bad.getMessage != null)
  }

  test("merge-on-read DELETE: positional delta segment, no data file rewritten; " +
      "readers apply positions; copy-on-write and compaction compose; GC reclaims") {
    import spark.implicits._
    val wh = tempDir("manifest_mor").toString
    val tblDir = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tblDir)
    append((1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"), (5L, "en")) // file A
    append((6L, "fr"), (7L, "fr"), (8L, "fr"))                          // file B
    spark.conf.set("spark.sql.catalog.graft_mor", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mor.warehouse", wh)
    def parquets(): Set[String] = {
      val w = Files.walk(Paths.get(tblDir))
      try {
        val it = w.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) { val s = it.next().toString; if (s.endsWith(".parquet")) b += s }
        b.result()
      } finally w.close()
    }
    def ids() = spark.sql("SELECT id FROM graft_mor.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val filesBefore = parquets()
    val preSnap = ManifestTables.latestSnapshotId(tblDir).get
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM graft_mor.ns.t WHERE id IN (2, 4, 7)")
      // delta, not rewrite: every data file byte-identical, one delete segment added
      assert(parquets() == filesBefore, "merge-on-read DELETE must not touch data files")
      val refs1 = ManifestTables.readSnapshotRefs(tblDir, None)
      assert(refs1.deletes.length == 1, refs1.deletes.mkString(","))
      assert(ids() == Seq(1L, 3L, 5L, 6L, 8L))
      // count(*) goes through the honest (non-footer) path and sees the deletes
      assert(spark.sql("SELECT count(*) FROM graft_mor.ns.t").head().getLong(0) == 5)
      // positions are FILE-ABSOLUTE: id=5 keeps _pos 4 even after 2 and 4 vanished
      val posRow = spark.sql("SELECT _file, _pos FROM graft_mor.ns.t WHERE id = 5").head()
      assert(posRow.getLong(1) == 4L, posRow.toString)
      // time travel serves the pre-delete snapshot complete
      assert(spark.sql(s"SELECT count(*) FROM graft_mor.ns.t VERSION AS OF $preSnap")
        .head().getLong(0) == 8)
      // no-match delta DELETE publishes nothing
      val snapBefore = ManifestTables.latestSnapshotId(tblDir).get
      spark.sql("DELETE FROM graft_mor.ns.t WHERE id = 999")
      assert(ManifestTables.latestSnapshotId(tblDir).get == snapBefore)
      // a second delta stacks (segments union at read)
      spark.sql("DELETE FROM graft_mor.ns.t WHERE id = 1")
      assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.length == 2)
      assert(ids() == Seq(3L, 5L, 6L, 8L))
    } finally spark.conf.unset("spark.graft.manifest.deleteMode")
    // copy-on-write UPDATE composes: the rewrite scan APPLIES the positions, so the
    // replacement en file holds only the surviving rows (3 updated, 5 untouched)
    spark.sql("UPDATE graft_mor.ns.t SET id = 30 WHERE id = 3")
    assert(ids() == Seq(5L, 6L, 8L, 30L))
    // compaction folds the deltas into real rewrites: all delete refs gone,
    // answers unchanged, and the fr file shrank to its survivors
    assert(ManifestMaintenance.compactDataFiles(spark, tblDir, 64L << 20).isDefined)
    assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.isEmpty,
      "compaction must fold positional deletes away")
    assert(ids() == Seq(5L, 6L, 8L, 30L))
    assert(spark.sql("SELECT count(*) FROM graft_mor.ns.t").head().getLong(0) == 4)
    // lifecycle: expiry + orphan GC reclaim the now-unreferenced delete segments
    ManifestTables.expireSnapshots(tblDir, keepLast = 1)
    val mdir = Paths.get(tblDir, "_manifests")
    val delFiles = {
      val w = Files.list(mdir)
      try {
        val it = w.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) { val s = it.next().getFileName.toString; if (s.startsWith("del-")) b += s }
        b.result()
      } finally w.close()
    }
    assert(delFiles.isEmpty, s"expiry left delete segments: $delFiles")
    assert(ids() == Seq(5L, 6L, 8L, 30L))
  }

  test("rewritePositionDeletes: segments fold to one, dangling positions drop, " +
      "metadata-only, idempotent; fully-dead segments already pruned by DELETE") {
    import spark.implicits._
    val wh = tempDir("manifest_rpd").toString
    val tblDir = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tblDir)
    append((1L, "en"), (2L, "en"), (3L, "en")) // file A
    append((4L, "fr"), (5L, "fr"), (6L, "fr")) // file B
    spark.conf.set("spark.sql.catalog.graft_rpd", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rpd.warehouse", wh)
    def parquets(): Set[String] = {
      val w = Files.walk(Paths.get(tblDir))
      try {
        val it = w.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) { val s = it.next().toString; if (s.endsWith(".parquet")) b += s }
        b.result()
      } finally w.close()
    }
    def ids() = spark.sql("SELECT id FROM graft_rpd.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    // nothing to fold on a delete-free table
    assert(ManifestMaintenance.rewritePositionDeletes(tblDir).isEmpty)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM graft_rpd.ns.t WHERE id IN (1, 4)") // A pos 0, B pos 0
      spark.sql("DELETE FROM graft_rpd.ns.t WHERE id IN (2, 5)") // A pos 1, B pos 1
    } finally spark.conf.unset("spark.graft.manifest.deleteMode")
    assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.length == 2)
    // metadata partition drop strands both segments' fr positions (file B leaves)
    spark.sql("DELETE FROM graft_rpd.ns.t WHERE lang_p = 'fr'")
    assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.length == 2)
    val filesBefore = parquets()
    val preSnap = ManifestTables.latestSnapshotId(tblDir).get
    assert(ManifestMaintenance.rewritePositionDeletes(tblDir).isDefined)
    val refs = ManifestTables.readSnapshotRefs(tblDir, None)
    assert(refs.deletes.length == 1, refs.deletes.mkString(","))
    // the merged segment holds ONLY file A's positions, union of both commits
    val seg = ManifestTables.readDeleteSegment(tblDir, refs.deletes.head)
    assert(seg.size == 1, seg.keys.mkString(","))
    assert(seg.head._2 == Seq(0L, 1L), seg.head._2.mkString(","))
    assert(parquets() == filesBefore, "position-delete rewrite must not touch data files")
    assert(ids() == Seq(3L))
    // time travel still serves the pre-rewrite snapshot through the OLD segments
    assert(spark.sql(s"SELECT id FROM graft_rpd.ns.t VERSION AS OF $preSnap ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // idempotent: one clean segment, nothing dangling
    assert(ManifestMaintenance.rewritePositionDeletes(tblDir).isEmpty)
    // a partition DELETE that kills a segment's LAST live file prunes the segment
    // itself (livePositionalDeletes) — the rewrite then has nothing left to do
    spark.sql("DELETE FROM graft_rpd.ns.t WHERE lang_p = 'en'")
    assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.isEmpty)
    assert(ManifestMaintenance.rewritePositionDeletes(tblDir).isEmpty)
    assert(ids().isEmpty)
  }

  test("merge-on-read UPDATE: delete+insert delta — no touched file rewritten, " +
      "replacement rows append; partition moves work; compaction folds") {
    import spark.implicits._
    val wh = tempDir("manifest_moru").toString
    val tblDir = s"$wh/ns/t"
    Seq((1L, 10L, "en"), (2L, 20L, "en"), (3L, 30L, "fr")).toDF("id", "score", "lang_p")
      .coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tblDir)
    spark.conf.set("spark.sql.catalog.graft_moru", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_moru.warehouse", wh)
    def rows() = spark.sql("SELECT id, score, lang_p FROM graft_moru.ns.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val before = ManifestTables.readSnapshot(tblDir, None).map(_.path).toSet
    spark.conf.set("spark.graft.manifest.updateMode", "merge-on-read")
    try {
      spark.sql("UPDATE graft_moru.ns.t SET score = score + 1 WHERE id = 2")
      val after = ManifestTables.readSnapshot(tblDir, None).map(_.path).toSet
      // the touched file stays; the replacement row landed as ONE fresh append
      assert(before.subsetOf(after), s"original files must stay: ${before -- after}")
      assert((after -- before).size == 1, s"fresh files: ${after -- before}")
      assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.length == 1)
      assert(rows() == Seq((1L, 10L, "en"), (2L, 21L, "en"), (3L, 30L, "fr")))
      // SET on the PARTITION column: the row moves directories
      spark.sql("UPDATE graft_moru.ns.t SET lang_p = 'de' WHERE id = 3")
      assert(rows() == Seq((1L, 10L, "en"), (2L, 21L, "en"), (3L, 30L, "de")))
      assert(spark.sql("SELECT count(*) FROM graft_moru.ns.t WHERE lang_p = 'fr'")
        .head().getLong(0) == 0)
      // a no-match UPDATE publishes nothing
      val snapBefore = ManifestTables.latestSnapshotId(tblDir).get
      spark.sql("UPDATE graft_moru.ns.t SET score = 0 WHERE id = 999")
      assert(ManifestTables.latestSnapshotId(tblDir).get == snapBefore)
    } finally spark.conf.unset("spark.graft.manifest.updateMode")
    // compaction folds the deltas; answers unchanged
    assert(ManifestMaintenance.compactDataFiles(spark, tblDir, 64L << 20).isDefined)
    assert(ManifestTables.readSnapshotRefs(tblDir, None).deletes.isEmpty)
    assert(rows() == Seq((1L, 10L, "en"), (2L, 21L, "en"), (3L, 30L, "de")))
  }

  test("per-file column stats: data-column predicates skip whole files by min/max; " +
      "compaction merges bounds; unknown/long/all-null columns never mis-prune") {
    import spark.implicits._
    val wh = tempDir("manifest_stats").toString
    val tbl = s"$wh/t"
    // three files in ONE partition with disjoint id ranges, a short string tag,
    // and a score column that is all-null in the third file
    def append(ids: Range, tag: String, score: Option[Double]): Unit =
      ids.map { i =>
        val s: java.lang.Double = score.map(v => java.lang.Double.valueOf(v + i)).orNull
        (i.toLong, tag, s, "en")
      }.toDF("id", "tag", "score", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(0 until 10, "alpha", Some(0.5))
    append(10 until 20, "mid", Some(100.5))
    append(20 until 30, "zulu", None)
    val entries = ManifestTables.readSnapshot(tbl, None)
    assert(entries.length == 3 && entries.forall(_.stats.nonEmpty),
      entries.map(e => s"${e.path}:${e.stats}").mkString("\n"))
    def tdf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    def files(df: org.apache.spark.sql.DataFrame): Int = inputPartitionCount(df)
    // long range: only the file whose [min,max] overlaps opens
    assert(files(tdf.filter(col("id") >= 25).select("id")) == 1)
    assert(files(tdf.filter(col("id") === 12).select("id")) == 1)
    assert(files(tdf.filter(col("id") < 0).select("id")) == 0)
    assert(files(tdf.filter(col("id") isin (3L, 7L)).select("id")) == 1)
    assert(tdf.filter(col("id") >= 25).count() == 5)
    // string bounds in UTF8 binary order: 'zulu' lives only in file 3
    assert(files(tdf.filter(col("tag") === "zulu").select("id")) == 1)
    assert(files(tdf.filter(col("tag") > "zz").select("id")) == 0)
    // double bounds; the ALL-NULL score file is skipped for any comparison...
    assert(files(tdf.filter(col("score") > 50.0).select("id")) == 1)
    assert(tdf.filter(col("score") > 50.0).count() == 10)
    // ...but never for IS NULL (no bound is extracted from null tests)
    assert(tdf.filter(col("score").isNull).count() == 10)
    // a filter on BOTH partition and data columns composes both prunings
    assert(files(tdf.filter(col("lang_p") === "en" && col("id") === 5).select("id")) == 1)
    assert(files(tdf.filter(col("lang_p") === "xx" && col("id") === 5).select("id")) == 0)
    // compaction MERGES stats: pack files 1+2 (bin bound fits two), file 3 alone
    val twoFileBytes = entries.take(2).map(_.bytes).sum
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, twoFileBytes + 1).isDefined)
    val after = ManifestTables.readSnapshot(tbl, None)
    assert(after.length == 2, after.map(_.path).mkString(","))
    assert(after.forall(_.stats.nonEmpty))
    assert(files(tdf.filter(col("id") >= 25).select("id")) == 1) // merged [0,19] skipped
    assert(files(tdf.filter(col("id") === 12).select("id")) == 1)
    assert(tdf.filter(col("id") >= 25).count() == 5)
    // a LONG string column records UNUSABLE '?' bounds (never pruned on; its
    // exact null count still rides for the metadata COUNT path)
    val tbl2 = s"$wh/t2"
    Seq((1L, "x" * 100, "en"), (2L, "y" * 100, "en")).toDF("id", "body", "lang_p")
      .coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tbl2)
    val e2 = ManifestTables.readSnapshot(tbl2, None)
    assert(e2.head.stats.contains("id"), e2.head.stats)
    val fsp = ManifestStats.FieldSep
    assert(e2.head.stats.contains(s"body${fsp}s$fsp?$fsp?${fsp}0"), e2.head.stats)
    assert(e2.head.rows == 2, e2.head.toString)
    val t2 = spark.read.format(classOf[ManifestDataSource].getName).load(tbl2)
    assert(t2.filter(col("body") === ("x" * 100)).count() == 1)
    // SQL -0.0 = 0.0, but Double.compare separates them: a 0.0-valued file must
    // NOT be pruned for a -0.0 literal (both sides normalize)
    val tbl3 = s"$wh/t3"
    Seq((1L, 0.0d, "en")).toDF("id", "v", "lang_p")
      .coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tbl3)
    val t3 = spark.read.format(classOf[ManifestDataSource].getName).load(tbl3)
    assert(t3.filter(col("v") === lit(-0.0d)).count() == 1)
    // corrupted stats degrade to "no pruning", never a planning crash
    val fs = ManifestStats.FieldSep
    assert(ManifestStats.allows(s"id${fs}l${fs}garbage${fs}also",
      Seq(ManifestStats.Bound("id", "=", Seq(java.lang.Long.valueOf(5L))))))
    // the metadata column names are reserved at write time
    val bad = intercept[Exception] {
      Seq((1L, "x")).toDF("_file", "lang_p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(s"$wh/t4")
    }
    assert(bad.getMessage.contains("reserved"), bad.getMessage)
  }

  test("clusterBy: sort-order rewrite makes per-file ranges disjoint so range " +
      "queries skip; footer-derived stats; deletes fold; time travel intact") {
    import spark.implicits._
    val wh = tempDir("manifest_cluster").toString
    val tbl = s"$wh/t"
    // ingest order orthogonal to id: every append spans the WHOLE id range, so a
    // range predicate must open every file before clustering
    def append(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"body-$i", "en")).toDF("id", "tag", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(Seq(0L, 10L, 20L, 30L))
    append(Seq(1L, 11L, 21L, 31L))
    append(Seq(2L, 12L, 22L, 32L))
    def tdf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    def files(df: org.apache.spark.sql.DataFrame): Int = inputPartitionCount(df)
    assert(files(tdf.filter(col("id") >= 30).select("id")) == 3,
      "interleaved ingest must defeat skipping before clustering")
    // a positional delete folds during the clustering rewrite
    spark.conf.set("spark.sql.catalog.graft_cl", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cl.warehouse", wh.substring(0, wh.lastIndexOf('/')))
    val preSnap = ManifestTables.latestSnapshotId(tbl).get
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql(s"DELETE FROM graft_cl.${wh.substring(wh.lastIndexOf('/') + 1)}.t WHERE id = 11")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    // cluster into ~3 files per partition (target sized to one source file)
    val target = ManifestTables.readSnapshot(tbl, None).map(_.bytes).max + 1
    assert(ManifestMaintenance.clusterBy(spark, tbl, Seq("id"), target).isDefined)
    val after = ManifestTables.readSnapshot(tbl, None)
    assert(after.forall(_.path.contains("cluster-")), after.map(_.path).mkString(","))
    assert(after.forall(_.stats.nonEmpty), "clustered files must carry footer stats")
    assert(ManifestTables.readSnapshotRefs(tbl, None).deletes.isEmpty,
      "clustering must fold positional deletes")
    // ranges now disjoint: the same predicate opens a strict subset of the files
    assert(after.length >= 2)
    assert(files(tdf.filter(col("id") >= 30).select("id")) < after.length)
    assert(tdf.filter(col("id") >= 30).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(30L, 31L, 32L))
    // content identical minus the folded delete; time travel serves pre-delete
    assert(tdf.count() == 11)
    assert(tdf.filter(col("id") === 11).count() == 0)
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", preSnap.toString).load(tbl).count() == 12)
  }

  test("snapshot tags: VERSION AS OF a name; tags pin snapshots through expiry; " +
      "immutable; deleteTag releases") {
    import spark.implicits._
    val wh = tempDir("manifest_tags").toString
    val tbl = s"$wh/ns/t"
    def write(mode: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode).save(tbl)
    write("overwrite", (1L, "en"), (2L, "fr"))
    val v0 = ManifestTables.latestSnapshotId(tbl).get
    ManifestTables.createTag(tbl, "train_v1", v0)
    write("overwrite", (10L, "en"))
    // resolve by name through BOTH surfaces: SQL VERSION AS OF and the path option
    spark.conf.set("spark.sql.catalog.graft_tag", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tag.warehouse", wh)
    assert(spark.sql("SELECT id FROM graft_tag.ns.t VERSION AS OF 'train_v1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "train_v1").load(tbl).count() == 2)
    assert(spark.sql("SELECT count(*) FROM graft_tag.ns.t").head().getLong(0) == 1)
    // tags are immutable; unknown tags fail loudly naming the known ones
    intercept[IllegalArgumentException] { ManifestTables.createTag(tbl, "train_v1", v0) }
    val unknown = intercept[Exception] {
      spark.sql("SELECT * FROM graft_tag.ns.t VERSION AS OF 'nope'").collect()
    }
    assert(unknown.getMessage.contains("train_v1"), unknown.getMessage)
    // expiry RETAINS the tagged snapshot: still readable by name afterwards
    ManifestTables.expireSnapshots(tbl, keepLast = 1)
    assert(spark.sql("SELECT count(*) FROM graft_tag.ns.t VERSION AS OF 'train_v1'")
      .head().getLong(0) == 2)
    assert(ManifestTables.listTags(tbl) == Seq(("train_v1", v0)))
    // releasing the tag lets the next expiry reclaim it
    assert(ManifestTables.deleteTag(tbl, "train_v1"))
    ManifestTables.expireSnapshots(tbl, keepLast = 1)
    intercept[Exception] {
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("snapshot", v0.toString).load(tbl).count()
    }
    assert(spark.sql("SELECT count(*) FROM graft_tag.ns.t").head().getLong(0) == 1)
  }

  test("data-file compaction: bin-packs small files per partition into one atomic " +
      "snapshot swap; schema-evolution-aware; no-op when nothing packs") {
    import spark.implicits._
    val wh = tempDir("manifest_compactdata").toString
    val tblDir = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tblDir)
    append((1L, "en"), (2L, "fr"))
    append((3L, "en"))
    append((4L, "en"), (5L, "fr"))
    // evolve mid-history: the en bin will span pre- and post-ALTER files
    spark.conf.set("spark.sql.catalog.graft_cmp", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cmp.warehouse", wh)
    spark.sql("ALTER TABLE graft_cmp.ns.t ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO graft_cmp.ns.t VALUES (6, 'en', 2.5)")
    val entriesBefore = ManifestTables.readSnapshot(tblDir, None)
    assert(entriesBefore.length == 6) // en: 4 files, fr: 2 files
    val preSnap = ManifestTables.latestSnapshotId(tblDir).get
    def allRows() = spark.sql(
      "SELECT id, lang_p, score FROM graft_cmp.ns.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val rowsBefore = allRows()
    // a 1-byte target packs nothing (every file forms its own bin) — pure no-op
    assert(ManifestMaintenance.compactDataFiles(spark, tblDir, 1L).isEmpty)
    assert(ManifestTables.latestSnapshotId(tblDir).get == preSnap)
    // a generous target packs each partition into ONE file
    val snap = ManifestMaintenance.compactDataFiles(spark, tblDir, 64L << 20)
    assert(snap.contains(preSnap + 1))
    assert(allRows() == rowsBefore, "compaction must not change table content")
    val entriesAfter = ManifestTables.readSnapshot(tblDir, None)
    assert(entriesAfter.length == 2, entriesAfter.map(_.path).mkString(","))
    assert(entriesAfter.map(_.partition).sorted == Seq("en", "fr"))
    // time travel still serves the pre-compaction snapshot from the original files
    assert(spark.sql(s"SELECT count(*) FROM graft_cmp.ns.t VERSION AS OF $preSnap")
      .head().getLong(0) == 6)
    // re-running finds only single-file bins — no-op, no snapshot published
    assert(ManifestMaintenance.compactDataFiles(spark, tblDir, 64L << 20).isEmpty)
    // the evolved column survived the rewrite (materialized nulls for legacy rows)
    assert(spark.sql("SELECT CAST(sum(score) AS DOUBLE) FROM graft_cmp.ns.t")
      .head().getDouble(0) == 2.5)
    // appends after compaction still work and the next compaction packs them in
    append((7L, "en"))
    assert(ManifestMaintenance.compactDataFiles(spark, tblDir, 64L << 20).isDefined)
    assert(spark.sql("SELECT count(*) FROM graft_cmp.ns.t").head().getLong(0) == 7)
  }

  test("manifest escaping: quotes/backslashes in values and %XX partition dirs round-trip") {
    assert(ManifestTables.jsonUnescape(ManifestTables.jsonEscape("a\"b\\c\nd")) == "a\"b\\c\nd")
    assert(ManifestTables.hiveUnescape("a%20b%3Ac") == "a b:c")
    assert(ManifestTables.hiveUnescape("100%25") == "100%")
    assert(ManifestTables.hiveUnescape("no-escapes") == "no-escapes")
    // end-to-end: a partition VALUE containing a space (Hive-escaped on disk) is
    // served raw by the data table and filterable by its raw form
    val out = tempDir("manifest_src_esc").toString
    spark.range(4).withColumn("p", concat(lit("v "), (col("id") % 2).cast("string")))
      .write.mode("overwrite").partitionBy("p").parquet(out)
    ManifestTables.commit(out, "p")
    val vals = dataTable(out).select("p").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set("v 0", "v 1"), s"got $vals")
    assert(dataTable(out).filter(col("p") === "v 1").count() == 2)
  }

  // ------------------------------------------------------------ incremental reads

  private def incAppend(tbl: String, lo: Long, hi: Long, lang: String): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"d$i", lang)).toDF("id", "body", "lang_p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tbl)
  }

  test("incremental batch read: startSnapshot serves exactly the appended delta; " +
      "tags resolve; empty range is empty; overwrite in range refuses") {
    val tbl = tempDir("manifest_inc").toString + "/t"
    incAppend(tbl, 0, 5, "en")
    val base = ManifestTables.latestSnapshotId(tbl).get
    ManifestTables.createTag(tbl, "base", base)
    val tBase = System.currentTimeMillis()
    while (System.currentTimeMillis() <= tBase) Thread.sleep(1)
    incAppend(tbl, 5, 8, "en")
    incAppend(tbl, 8, 12, "fr")
    def inc(start: String) = spark.read.format(classOf[ManifestDataSource].getName)
      .option("startSnapshot", start).load(tbl)
    // exactly the two post-base appends, by id AND by value
    assert(inc(base.toString).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (5L until 12L).toSeq)
    // tag name resolves to the same baseline
    assert(inc("base").count() == 7)
    // so does a wall-clock instant ("everything since last night's sync")
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .option("startTimestamp", tBase.toString).load(tbl).count() == 7)
    // partition pruning composes with the delta
    assert(inc("base").filter(col("lang_p") === "fr").count() == 4)
    // aggregate pushdown composes with the delta: the delta is whole appended
    // files, so COUNT/MAX come from exactly those files' footers
    val aggD = inc("base").agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(aggD.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "incremental aggregate did not push to the footer scan")
    val aggRow = aggD.head()
    assert(aggRow.getLong(0) == 7 && aggRow.getLong(1) == 11, aggRow.toString)
    // empty range: startSnapshot == read snapshot
    val latest = ManifestTables.latestSnapshotId(tbl).get
    assert(inc(latest.toString).count() == 0)
    // an overwrite inside the range breaks append-only: the read must refuse
    spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
      .filter(col("lang_p") === "en").limit(2)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tbl)
    val e = intercept[Exception] { inc(base.toString).collect() }
    assert(e.getMessage != null && e.getMessage.contains("not append-only"),
      s"unexpected: ${e.getMessage}")
  }

  test("incremental batch read: merge-on-read delete activity in range refuses") {
    val tbl = tempDir("manifest_inc_mor").toString + "/t"
    incAppend(tbl, 0, 6, "en")
    val base = ManifestTables.latestSnapshotId(tbl).get
    incAppend(tbl, 6, 9, "en")
    // craft a positional-delete commit the way the delta writer does
    val dataFile = ManifestTables.readLatest(tbl).head.path
    val seg = ManifestTables.writeDeleteSegment(tbl, Map(dataFile -> Seq(0L)))
    val refs = ManifestTables.readSnapshotRefs(tbl, None)
    assert(ManifestTables.tryWriteSnapshotRefs(tbl, "lang_p", refs.inline,
      refs.segments, refs.snapshot + 1, schemaDdl = refs.schemaDdl,
      deletes = refs.deletes :+ seg))
    val e = intercept[Exception] {
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("startSnapshot", base.toString).load(tbl).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("delete segments"),
      s"unexpected: ${e.getMessage}")
  }

  test("changelog read: net insert/delete rows reconstruct the end snapshot; " +
      "insert-then-delete-in-range nets out; rewrites refuse; pruning composes") {
    import spark.implicits._
    val wh = tempDir("manifest_cdc").toString
    val tbl = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append((0L, "en"), (1L, "en"), (2L, "en"), (3L, "en"))   // file A
    append((10L, "fr"), (11L, "fr"), (12L, "fr"))            // file B
    val s0 = ManifestTables.latestSnapshotId(tbl).get
    spark.conf.set("spark.sql.catalog.graft_cdc", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdc.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    var d1 = -1; var c1 = -1
    try {
      spark.sql("DELETE FROM graft_cdc.ns.t WHERE id IN (3, 12)") // baseline deletes
      d1 = ManifestTables.latestSnapshotId(tbl).get
      append((20L, "en"), (21L, "en"), (22L, "en"))               // file C (in-range)
      c1 = ManifestTables.latestSnapshotId(tbl).get
      spark.sql("DELETE FROM graft_cdc.ns.t WHERE id IN (1, 21)") // baseline + in-range
    } finally spark.conf.unset("spark.graft.manifest.deleteMode")
    // an APPEND-ONLY sub-range pinned via time travel: inserts only (columnar path),
    // and 21 is still an insert at that end — it nets out only in the wider range
    val insOnly = spark.read.format(classOf[ManifestDataSource].getName)
      .option("changelog", "true").option("startSnapshot", d1.toString)
      .option("snapshot", c1.toString).load(tbl)
      .select("_change_type", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(insOnly == Set(("insert", 20L), ("insert", 21L), ("insert", 22L)), insOnly)
    def changelog = spark.read.format(classOf[ManifestDataSource].getName)
      .option("changelog", "true").option("startSnapshot", s0.toString).load(tbl)
    val rows = changelog.select("_change_type", "id", "lang_p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // id 21 was appended AND deleted inside the range: it nets out of BOTH sides
    assert(rows == Set(
      ("insert", 20L, "en"), ("insert", 22L, "en"),
      ("delete", 3L, "en"), ("delete", 12L, "fr"), ("delete", 1L, "en")), rows)
    // apply property: rows(s0) - deletes + inserts == rows(latest)
    val at0 = spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", s0.toString).load(tbl)
      .select("id").collect().map(_.getLong(0)).toSet
    val now = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
      .select("id").collect().map(_.getLong(0)).toSet
    val dels = rows.collect { case ("delete", id, _) => id }
    val ins = rows.collect { case ("insert", id, _) => id }
    assert((at0 -- dels) ++ ins == now, s"apply property broken: $at0 -> $now")
    // partition pruning composes with both views
    val enOnly = changelog.filter(col("lang_p") === "en")
      .select("_change_type", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(enOnly == Set(("insert", 20L), ("insert", 22L), ("delete", 3L), ("delete", 1L)))
    // zero-data-column projection over the delete view (count by change type)
    val counts = changelog.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("insert" -> 2L, "delete" -> 3L), counts.toString)
    // a rewrite in the range (compaction folds files + deltas) must refuse
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, targetBytes = 1L << 30).nonEmpty ||
      ManifestTables.compact(tbl).nonEmpty)
    val e = intercept[Exception] { changelog.collect() }
    assert(e.getMessage != null && e.getMessage.contains("not representable"),
      s"unexpected: ${e.getMessage}")
    // changelog without a startSnapshot is an error by contract
    val e2 = intercept[Exception] {
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("changelog", "true").load(tbl).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("startSnapshot"))
  }

  test("streaming source: initial load applies pending deletes (state, not history); " +
      "streamSkipRewrites recovers a stream wedged on a rewrite") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tempDir("manifest_stream_skip")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append((0L, "en"), (1L, "en"), (2L, "en"))
    append((10L, "fr"), (11L, "fr"))
    spark.conf.set("spark.sql.catalog.graft_sskip", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sskip.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_sskip.ns.t WHERE id = 1")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def drain(skip: Boolean): Unit = {
      val r0 = spark.readStream.format(classOf[ManifestDataSource].getName)
      val r = if (skip) r0.option("streamSkipRewrites", "true") else r0
      val q = r.load(tbl).writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sinkIds() = spark.read.parquet(sink).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // initial load is a STATE read: the deleted row never enters the stream
    drain(skip = false)
    assert(sinkIds() == Seq(0L, 2L, 10L, 11L), sinkIds().mkString(","))
    // a rewrite lands (overwrite), then a genuine append on top of it
    Seq((30L, "en"), (31L, "en")).toDF("id", "lang_p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tbl)
    append((20L, "de"))
    // strict restart refuses — and names the recovery option
    val e = intercept[Exception] { drain(skip = false) }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("streamSkipRewrites")), chain(e).mkString(" | "))
    // the skip restart resumes from the SAME checkpoint: the overwrite transition
    // contributes nothing (its files never re-emit), the append flows through
    drain(skip = true)
    assert(sinkIds() == Seq(0L, 2L, 10L, 11L, 20L), sinkIds().mkString(","))
  }

  test("changelog STREAM: state load arrives as inserts, then per-range insert/delete " +
      "rows exactly once across restarts; a MOR UPDATE emits its delete/insert pair") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tempDir("manifest_cdc_stream")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def append(rows: (Long, Long, String)*): Unit =
      rows.toSeq.toDF("id", "v", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append((0L, 5L, "en"), (1L, 6L, "en"), (2L, 7L, "en"))
    append((10L, 8L, "fr"), (11L, 9L, "fr"))
    spark.conf.set("spark.sql.catalog.graft_cdcs", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdcs.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_cdcs.ns.t WHERE id = 1")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[ManifestDataSource].getName)
        .option("changelog", "true").load(tbl)
        .select(col("_change_type").as("change"), col("id"), col("v"), col("lang_p"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rows() = spark.read.parquet(sink).select("change", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // state load: the pre-stream deleted row never appears
    drain()
    assert(rows() == Map(("insert", 0L, 5L) -> 1, ("insert", 2L, 7L) -> 1,
      ("insert", 10L, 8L) -> 1, ("insert", 11L, 9L) -> 1), rows().toString)
    // a MOR delete + an append land; the restarted stream emits exactly the changes
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_cdcs.ns.t WHERE id = 10")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    append((20L, 40L, "de"), (21L, 41L, "de"))
    drain()
    assert(rows() == Map(("insert", 0L, 5L) -> 1, ("insert", 2L, 7L) -> 1,
      ("insert", 10L, 8L) -> 1, ("insert", 11L, 9L) -> 1,
      ("delete", 10L, 8L) -> 1, ("insert", 20L, 40L) -> 1,
      ("insert", 21L, 41L) -> 1), rows().toString)
    // a merge-on-read UPDATE is one commit carrying delete positions + fresh rows:
    // the stream represents it as its delete/insert pair
    spark.conf.set("spark.graft.manifest.updateMode", "merge-on-read")
    try spark.sql("UPDATE graft_cdcs.ns.t SET v = v + 100 WHERE id = 20")
    finally spark.conf.unset("spark.graft.manifest.updateMode")
    drain()
    // FULL map equality: the UPDATE drain must add exactly its delete/insert pair
    val after = rows()
    assert(after == Map(("insert", 0L, 5L) -> 1, ("insert", 2L, 7L) -> 1,
      ("insert", 10L, 8L) -> 1, ("insert", 11L, 9L) -> 1,
      ("delete", 10L, 8L) -> 1, ("insert", 20L, 40L) -> 1,
      ("insert", 21L, 41L) -> 1,
      ("delete", 20L, 40L) -> 1, ("insert", 20L, 140L) -> 1), after.toString)
    // idle restart: no duplicates
    drain()
    assert(rows() == after)
  }

  test("changelog STREAM + streamSkipRewrites: a skipped rewrite resets the delete " +
      "baseline; later delete growth and appends still arrive as events") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tempDir("manifest_cdc_skip")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def write(mode: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode).save(tbl)
    write("append", (0L, "en"), (1L, "en"))
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def drain(skip: Boolean): Unit = {
      val r0 = spark.readStream.format(classOf[ManifestDataSource].getName)
        .option("changelog", "true")
      val r = if (skip) r0.option("streamSkipRewrites", "true") else r0
      val q = r.load(tbl)
        .select(col("_change_type").as("change"), col("id"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rows() = spark.read.parquet(sink).select("change", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    drain(skip = false) // state load
    assert(rows() == Map(("insert", 0L) -> 1, ("insert", 1L) -> 1), rows().toString)
    // a REWRITE lands (overwrite), then a MOR delete of one overwritten row
    // (delete growth AFTER the rewrite — exercises the prevDels baseline reset),
    // then a pure append
    write("overwrite", (30L, "en"), (31L, "en"))
    spark.conf.set("spark.sql.catalog.graft_cskip", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cskip.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_cskip.ns.t WHERE id = 31")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    write("append", (40L, "de"))
    // strict drain refuses; the skip drain walks per transition AND NETS: the
    // overwrite contributes nothing (30/31 never stream as inserts), so the
    // delete of 31 ALSO drops — a delete event for a row the stream never
    // delivered would make a deletes-first replica diverge. Only the append flows.
    intercept[Exception] { drain(skip = false) }
    drain(skip = true)
    assert(rows() == Map(("insert", 0L) -> 1, ("insert", 1L) -> 1,
      ("insert", 40L) -> 1), rows().toString)
  }

  test("changelog STREAM + streamSkipRewrites: skip mode is documented-lossy around " +
      "rewrites — a delete targeting a rewritten copy cannot retract the original insert") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tempDir("manifest_cdc_skipnet")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def write(mode: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode).save(tbl)
    write("append", (0L, "en"))
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[ManifestDataSource].getName)
        .option("changelog", "true").option("streamSkipRewrites", "true").load(tbl)
        .select(col("_change_type").as("change"), col("id"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // in ONE un-drained window: append id=9, a rewrite (forces the walk), then a
    // MOR delete of id=9. The delete lands on the REWRITE's copy of the row —
    // file/position identity was severed by the skipped rewrite, so the stream
    // cannot attribute the retraction to F9's insert. This is the documented
    // loss of skip mode (the strict default refuses the range instead): id=9
    // streams as an insert with no delete, and a replica must re-sync from a
    // full snapshot after any skipped rewrite to be exact again.
    write("append", (9L, "en"))
    spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tbl) // rewrite: same rows, new files
    spark.conf.set("spark.sql.catalog.graft_cnet", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cnet.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_cnet.ns.t WHERE id = 9")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    drain()
    val got = spark.read.parquet(sink).select("change", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map(("insert", 0L) -> 1, ("insert", 9L) -> 1), got.toString)
  }

  test("TIMESTAMP AS OF: commit timestamps resolve SQL + option reads; before-first " +
      "refuses; both pins at once refuse; legacy snapshots fall back to file mtime") {
    import spark.implicits._
    val root = tempDir("manifest_ts")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def write(mode: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode).save(tbl)
    val t0 = System.currentTimeMillis() - 1
    write("overwrite", (1L, "en"), (2L, "en"))
    val tMid = System.currentTimeMillis()
    while (System.currentTimeMillis() <= tMid) Thread.sleep(1)
    write("append", (3L, "fr"))
    def idsAt(opts: (String, String)*): Seq[Long] = {
      val r = opts.foldLeft(spark.read.format(classOf[ManifestDataSource].getName)) {
        case (rd, (k, v)) => rd.option(k, v)
      }
      r.load(tbl).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(idsAt("asOfTimestamp" -> tMid.toString) == Seq(1L, 2L))
    assert(idsAt("asOfTimestamp" -> System.currentTimeMillis().toString)
      == Seq(1L, 2L, 3L))
    // SQL TIMESTAMP AS OF through the catalog (Spark hands micros)
    spark.conf.set("spark.sql.catalog.graft_ts", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ts.warehouse", wh)
    val n = spark.sql(
      s"SELECT count(*) FROM graft_ts.ns.t TIMESTAMP AS OF timestamp_millis(${tMid}L)")
      .head().getLong(0)
    assert(n == 2, s"SQL TIMESTAMP AS OF served $n rows")
    // before the first commit: loud refusal
    val e = intercept[Exception] { idsAt("asOfTimestamp" -> t0.toString) }
    assert(e.getMessage != null && e.getMessage.contains("no snapshot"), e.getMessage)
    // both pins at once: refused
    val e2 = intercept[Exception] {
      idsAt("asOfTimestamp" -> tMid.toString, "snapshot" -> "0")
    }
    assert(e2.getMessage != null && e2.getMessage.contains("not both"), e2.getMessage)
    // startTimestamp BEFORE the full retained history = the delta is everything
    assert(idsAt("startTimestamp" -> t0.toString) == Seq(1L, 2L, 3L))
    assert(idsAt("startTimestamp" -> tMid.toString) == Seq(3L))
    // EXPIRY-gap ambiguity: keep {0 (tagged), latest}, expire the middle — an
    // instant resolving to 0 with its successor expired must refuse, not serve
    // the stale snapshot-0 state (or re-serve the gap's rows as a delta)
    write("append", (4L, "de")) // snapshot 2
    ManifestTables.createTag(tbl, "genesis", 0)
    ManifestTables.expireSnapshots(tbl, keepLast = 1) // retains {0, 2}
    val e3 = intercept[Exception] { idsAt("asOfTimestamp" -> tMid.toString) }
    assert(e3.getMessage != null && e3.getMessage.contains("ambiguous"), e3.getMessage)
    val e4 = intercept[Exception] { idsAt("startTimestamp" -> tMid.toString) }
    assert(e4.getMessage != null && e4.getMessage.contains("ambiguous"), e4.getMessage)
    // legacy snapshot with no ts field resolves via file mtime
    val legacy = tempDir("manifest_ts_legacy")
    val mdir = legacy.resolve("_manifests"); Files.createDirectories(mdir)
    Files.writeString(mdir.resolve("snapshot-00000.json"),
      """{"snapshot": 0, "partition_column": "p", "files": []}""")
    val ts = ManifestTables.snapshotTimestamp(legacy.toString, 0)
    val mtime = Files.getLastModifiedTime(mdir.resolve("snapshot-00000.json")).toMillis
    assert(ts == mtime, s"legacy fallback: $ts != $mtime")
  }

  test("changelog SYNC: applying a changelog range to a replica (DELETE + INSERT) " +
      "reproduces the source table exactly — the derived-corpus propagation primitive") {
    import spark.implicits._
    val root = tempDir("manifest_cdc_sync")
    val wh = s"$root/wh"
    def write(tblPath: String, mode: String, rows: (Long, Long, String)*): Unit =
      rows.toSeq.toDF("id", "v", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode).save(tblPath)
    val src = s"$wh/ns/src"; val dst = s"$wh/ns/dst"
    write(src, "overwrite", (1L, 10L, "en"), (2L, 20L, "en"), (3L, 30L, "fr"),
      (4L, 40L, "fr"), (5L, 50L, "de"))
    // replica bootstraps as a full copy; the source's current version is tagged
    spark.read.format(classOf[ManifestDataSource].getName).load(src)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(dst)
    ManifestTables.tagLatest(src, "synced")
    // the source moves on: a MOR delete, a MOR update, and an append
    spark.conf.set("spark.sql.catalog.graft_sync", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sync.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    spark.conf.set("spark.graft.manifest.updateMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM graft_sync.ns.src WHERE id IN (2, 4)")
      spark.sql("UPDATE graft_sync.ns.src SET v = v + 1000 WHERE id = 3")
    } finally {
      spark.conf.unset("spark.graft.manifest.deleteMode")
      spark.conf.unset("spark.graft.manifest.updateMode")
    }
    write(src, "append", (6L, 60L, "en"), (7L, 70L, "de"))
    // apply the changelog to the replica: deletes first (covers the UPDATE pair's
    // retraction), then inserts land through the ordinary catalog INSERT
    val chg = spark.read.format(classOf[ManifestDataSource].getName)
      .option("changelog", "true").option("startSnapshot", "synced").load(src)
    val view = "graft_sync_chg"
    chg.createOrReplaceTempView(view)
    spark.sql(s"DELETE FROM graft_sync.ns.dst WHERE id IN " +
      s"(SELECT id FROM $view WHERE _change_type = 'delete')")
    spark.sql(s"INSERT INTO graft_sync.ns.dst " +
      s"SELECT id, v, lang_p FROM $view WHERE _change_type = 'insert'")
    def all(tbl: String) = spark.read.format(classOf[ManifestDataSource].getName)
      .load(tbl).select("id", "v", "lang_p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(all(dst) == all(src), s"replica ${all(dst)} != source ${all(src)}")
    assert(all(src) == Seq((1L, 10L, "en"), (3L, 1030L, "fr"), (5L, 50L, "de"),
      (6L, 60L, "en"), (7L, 70L, "de")))
  }

  test("streaming source: AvailableNow drains appends incrementally across restarts, " +
      "each file exactly once; time-travel relations refuse to stream") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("manifest_stream_src")
    val tbl = s"$root/t"
    val ckpt = s"$root/ckpt"
    val sink = s"$root/sink"
    incAppend(tbl, 0, 4, "en")
    incAppend(tbl, 4, 6, "fr")
    def runOnce(): Unit = {
      val q = spark.readStream.format(classOf[ManifestDataSource].getName).load(tbl)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val got1 = spark.read.parquet(sink).select("id").collect().map(_.getLong(0)).sorted
    assert(got1.toSeq == (0L until 6L).toSeq, got1.mkString(","))
    // two more snapshots land; the restarted stream must emit ONLY the delta
    incAppend(tbl, 6, 9, "en")
    incAppend(tbl, 9, 11, "de")
    runOnce()
    val got2 = spark.read.parquet(sink).select("id").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == (0L until 11L).toSeq, got2.mkString(","))
    // idle restart: no new snapshots -> no new rows, no duplicates
    runOnce()
    assert(spark.read.parquet(sink).count() == 11)
    // projection + filter compose with the stream (fresh checkpoint/sink)
    val q2 = spark.readStream.format(classOf[ManifestDataSource].getName).load(tbl)
      .filter(col("lang_p") === "de").select("id")
      .writeStream.format("parquet").option("path", s"$root/sink2")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$root/sink2").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(9L, 10L))
    // a pinned (time-travel) relation must refuse to stream
    val e = intercept[Exception] {
      val q3 = spark.readStream.format(classOf[ManifestDataSource].getName)
        .option("snapshot", "1").load(tbl)
        .writeStream.format("noop").option("checkpointLocation", s"$root/ckpt3")
        .trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("cannot " + "be read as a stream")),
      chain(e).mkString(" | "))
  }

  // ------------------------------------------------------------ round-5 additions

  test("equality-delete upsert: O(keys) commit, last-writer-wins read, pushdown refusal, compaction folds") {
    import spark.implicits._
    val tbl = tempDir("manifest_eqdel").toString
    def write(df: org.apache.spark.sql.DataFrame, mode: String, upsert: Boolean): Unit = {
      val w = df.write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode)
      (if (upsert) w.option("upsertkey", "id") else w).save(tbl)
    }
    write((0L until 40L).map(i => (i, i * 10, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "v", "lang_p"), "overwrite", upsert = false)
    val files0 = ManifestMaintenance.liveDataFiles(tbl).map(_._1).toSet
    // upsert batch: ids 0,5,10,... replaced with v = id*10 + 1
    write((0L until 40L by 5).map(i => (i, i * 10 + 1, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "v", "lang_p"), "append", upsert = true)
    val files1 = ManifestMaintenance.liveDataFiles(tbl).map(_._1).toSet
    assert(files0.subsetOf(files1), "upsert must not remove or rewrite data files")
    def tableDf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    def expect: Map[Long, Long] =
      (0L until 40L).map(i => i -> (if (i % 5 == 0) i * 10 + 1 else i * 10)).toMap
    val got = tableDf.select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"upsert read diverged: ${got.toSeq.sorted.take(8)}")
    // the batch's own rows survived its delete (data-sequence ordering)
    assert(tableDf.count() == 40)
    // aggregate pushdown REFUSES while the eq delete is pending (footer counts
    // would overcount); the plan must not carry a manifest_data_agg scan
    val agg = tableDf.groupBy("lang_p").agg(count(lit(1)))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "pushed aggregate must refuse while equality deletes are pending")
    // incremental read over the upsert range refuses (not representable)
    ManifestTables.createTag(tbl, "preup", 0)
    val inc = intercept[Exception] {
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("startSnapshot", "preup").load(tbl).collect()
    }
    assert(Iterator.iterate(inc: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("delete segments changed"))))
    // compaction APPLIES the eq delete, folds the segment away, columnar returns
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, 64L << 20).isDefined)
    assert(ManifestTables.readSnapshotRefs(tbl, None).eqDeletes.isEmpty,
      "compaction must fold spent equality-delete segments")
    val got2 = tableDf.select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == expect, "compaction changed the upsert answer")
    // after fold, pushed aggregates come back
    val agg2 = tableDf.groupBy("lang_p").agg(count(lit(1)))
    agg2.collect()
    assert(agg2.queryExecution.executedPlan.toString.contains("manifest_data_agg"))
    // expiry reclaims the now-unreferenced eqd segment
    ManifestTables.deleteTag(tbl, "preup")
    ManifestTables.expireSnapshots(tbl, keepLast = 1)
    val leftover = Files.list(Paths.get(tbl, "_manifests"))
    val eqd = try {
      val it = leftover.iterator(); var n = 0
      while (it.hasNext) if (it.next().getFileName.toString.startsWith("eqd-")) n += 1
      n
    } finally leftover.close()
    assert(eqd == 0, s"expiry left $eqd orphan equality-delete segments")
  }

  test("rename/drop evolution: field-id resolution across files, history ban, time travel, compaction composes") {
    import spark.implicits._
    val wh = tempDir("manifest_rename").toString
    val cat = "graft_ren_" + wh.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    (0L until 10L).map(i => (i, i * 2, s"s$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "n", "junk", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    spark.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN n TO m")
    spark.sql(s"ALTER TABLE $cat.ns.t DROP COLUMN junk")
    // post-rename append carries the new name
    (10L until 20L).map(i => (i, i * 2, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "m", "p")
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    def df = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    assert(df.schema.fieldNames.toSeq == Seq("id", "m", "p"))
    assert(df.agg(sum("m")).head().getLong(0) == (0L until 20L).map(_ * 2).sum)
    // pre-rename snapshot serves the ORIGINAL names
    val tt = spark.sql(s"SELECT sum(n) FROM $cat.ns.t VERSION AS OF 0").head().getLong(0)
    assert(tt == (0L until 10L).map(_ * 2).sum)
    // historical-name reuse is banned (id-less files could not disambiguate)
    val reuse = intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN n BIGINT") }
    assert(Iterator.iterate(reuse: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("used before"))))
    val reuse2 = intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN junk STRING") }
    assert(Iterator.iterate(reuse2: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("used before"))))
    // compaction after the rename resolves old physical names per file (a by-name
    // read would silently null the renamed column)
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, 64L << 20).isDefined)
    assert(df.agg(sum("m")).head().getLong(0) == (0L until 20L).map(_ * 2).sum,
      "compaction nulled a renamed column")
    assert(df.filter(col("m").isNull).count() == 0)
    // rename after compaction still works (compacted files are id-less: history)
    spark.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN m TO k")
    assert(spark.sql(s"SELECT sum(k) FROM $cat.ns.t").head().getLong(0)
      == (0L until 20L).map(_ * 2).sum)
  }

  test("type widening: int->bigint/float->double straddle, footer aggs, refusals, eq-delete guard") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val wh = tempDir("manifest_widen").toString
    val cat = "graft_wide_" + wh.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    (0 until 10).map(i => (i, i.toFloat / 2f, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "w", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    // non-widening changes refuse (lossy / re-interpreting)
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN id TYPE STRING") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN w TYPE INT") }
    spark.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN w TYPE DOUBLE")
    // narrowing back refuses
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.t ALTER COLUMN id TYPE INT") }
    // gen-2 append lands wide, past 2^31
    (0 until 10).map(i => (i + 5000000000L, i + 0.25d, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "w", "p")
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    def df = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    assert(df.schema("id").dataType == LongType && df.schema("w").dataType == DoubleType)
    val wantSum = (0 until 10).map(_.toLong).sum + (0 until 10).map(i => i + 5000000000L).sum
    assert(df.agg(sum("id")).head().getLong(0) == wantSum)
    // predicates hit BOTH physical generations: the long filter (int32 files all
    // skip by 'l'-kind stats), and the double filter over float-widened vectors
    assert(df.filter(col("id") >= 5000000000L).count() == 10)
    assert(df.filter(col("w") < 2.0d).count() == 6) // gen1 i/2<2 -> 4, gen2 i+0.25<2 -> 2
    // footer aggregate merges Integer (gen-1) and Long (gen-2) partials
    val mm = spark.sql(s"SELECT min(id), max(id) FROM $cat.ns.t").head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == 5000000009L)
    // time travel to the pre-widening snapshot serves the narrow int
    assert(spark.sql(s"SELECT max(id) FROM $cat.ns.t VERSION AS OF 0").head().get(0)
      .isInstanceOf[Int])
    // compaction rewrites old files at the WIDE type; answers unchanged
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, 64L << 20).isDefined)
    assert(df.agg(sum("id")).head().getLong(0) == wantSum, "compaction changed a widened column")
    // a live equality-delete segment keyed on the column blocks widening until compaction
    val tbl2 = s"$wh/ns/t2"
    (0 until 6).map(i => (i, i.toLong, "a")).toDF("k", "v", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl2)
    (0 until 3).map(i => (i, i + 100L, "a")).toDF("k", "v", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("upsertkey", "k").mode("append").save(tbl2)
    val blocked = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.t2 ALTER COLUMN k TYPE BIGINT") }
    assert(Iterator.iterate(blocked: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("equality-delete"))))
    assert(ManifestMaintenance.compactDataFiles(spark, tbl2, 64L << 20).isDefined)
    spark.sql(s"ALTER TABLE $cat.ns.t2 ALTER COLUMN k TYPE BIGINT")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ns.t2 WHERE k < 3").head().getLong(0) == 303L)
  }

  test("CREATE TABLE / CTAS / DROP TABLE through the catalog") {
    val wh = tempDir("manifest_create").toString
    val cat = "graft_ct_" + wh.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, v BIGINT, p STRING) PARTITIONED BY (p)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0) == 0)
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a')")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ns.t WHERE p = 'a'").head().getLong(0) == 40)
    // creating over an existing table refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.t (x BIGINT) PARTITIONED BY (x)")
    }
    // CTAS
    spark.sql(s"CREATE TABLE $cat.ns.t2 AS SELECT id, v FROM $cat.ns.t")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ns.t2").head().getLong(0) == 60)
    // DROP TABLE removes it
    assert(spark.sql(s"DROP TABLE $cat.ns.t2") != null)
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.ns.t2").collect() }
  }

  test("expired-notes sidecar: non-stream commit-note dedup survives snapshot expiry") {
    import spark.implicits._
    val tbl = tempDir("manifest_notes").toString
    def noted(ids: Range, note: String): Unit =
      ids.map(i => (i.toLong, "x")).toDF("id", "p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").option("commitnote", note).mode("append").save(tbl)
    noted(0 until 5, "job-A")
    noted(5 until 8, "job-B")
    // expire everything but the latest: job-A's carrying snapshot is gone
    ManifestTables.expireSnapshots(tbl, keepLast = 1)
    assert(ManifestTables.hasCommittedNote(tbl, "job-A"),
      "expiry voided a non-stream commit note - replay would double-publish")
    // the replay is a no-op: row count unchanged
    noted(0 until 5, "job-A")
    assert(spark.read.format(classOf[ManifestDataSource].getName).load(tbl).count() == 8)
  }

  test("fm_count pruning resolves against the scan's PINNED snapshot, not latest (overwrite race)") {
    // the round-4 shape intersected hex pairs from the LATEST snapshot: a pinned
    // VERSION AS OF read racing an overwrite would silently lose rows (a pruned
    // file cannot be resurrected by the residual re-check). Round 5 applies the
    // fingerprint PER ENTRY of the scan's own pinned snapshot.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val wh = tempDir("fm_pinned").toString
    val tbl = s"$wh/fm/shards"
    val shards = graft.ops.ShardTableCache.docShards(spark, dir, numShards = 8)
    ShardIndexTable.publish(shards.toDF(), tbl)
    val pinned = ManifestTables.latestSnapshotId(tbl).get
    val cat = "graft_fmpin_" + wh.replaceAll("[^A-Za-z0-9]", "").takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    graft.functions.FmFunctions.register(spark)
    val expected = shards.toDF().selectExpr("fm_count(shard, 'the ') AS c")
      .agg(sum("c")).head().getLong(0)
    assert(expected > 0)
    // OVERWRITE the table with one alien shard whose fingerprint matches nothing —
    // the latest snapshot now shares NO hex pairs with the pinned one
    val alien = new graft.core.FmIndexBuilder().build("zzzz qqqq".toCharArray)
    Seq((999, alien.serialize(), Array(999L), Array(0), Array(9), Array.fill(16)(0L)))
      .toDF("shard_id", "shard", "doc_ids", "offsets", "lens", "alpha_fp")
      .withColumn("alpha_hex0",
        concat_ws("", transform(slice(col("alpha_fp"), 1, 8), x => lpad(hex(x), 16, "0"))))
      .withColumn("alpha_hex1",
        concat_ws("", transform(slice(col("alpha_fp"), 9, 8), x => lpad(hex(x), 16, "0"))))
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", s"shard_id,${ShardIndexTable.HexCols.mkString(",")}")
      .mode("overwrite").save(tbl)
    // the CATALOG-resolved fm_count predicate over VERSION AS OF must still see
    // every pinned row (latest-pair intersection would have pruned them all)
    val got = spark.sql(
      s"SELECT CAST(sum($cat.fm_count(shard, 'the ')) AS BIGINT) FROM " +
        s"$cat.fm.shards VERSION AS OF $pinned WHERE $cat.fm_count(shard, 'the ') > 0")
      .head().getLong(0)
    assert(got == expected, s"pinned read lost rows under the overwrite: $got vs $expected")
    // and on the LATEST snapshot the alien fingerprint prunes every file
    val latest = spark.sql(s"SELECT shard_id FROM $cat.fm.shards " +
      s"WHERE $cat.fm_count(shard, 'the ') > 0")
    latest.collect()
    val planned = latest.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    assert(planned == 0, s"alien snapshot should prune every file, planned $planned")
  }

  test("pushed MIN/MAX refuses float/double columns (NaN footer stats would corrupt MIN)") {
    // parquet-mr propagates NaN through footer min/max; under Spark's
    // NaN-is-greatest ordering a pushed MIN would return NaN instead of the true
    // minimum. The refusal keeps the aggregate plan-side and therefore exact.
    import spark.implicits._
    val tbl = tempDir("manifest_nan").toString
    Seq((1L, 2.5, "a"), (2L, Double.NaN, "a"), (3L, -7.5, "b"))
      .toDF("id", "x", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    def tblDf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    val agg = tblDf.agg(min("x").as("mn"), max("x").as("mx"))
    val row = agg.head()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "MIN/MAX over a double column must not push to footer statistics")
    assert(row.getDouble(0) == -7.5, s"true minimum lost: ${row.getDouble(0)}")
    // long columns still push
    val ok = tblDf.agg(count(lit(1)), min("id"), max("id"))
    ok.collect()
    assert(ok.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "integer MIN/MAX should still push to the footer scan")
  }

  // ------------------------------------------------- HIDDEN PARTITIONING (round 5)

  /** events-shaped frame: 4 UTC days x 40 users, deterministic. */
  private def hiddenEventsDf = {
    spark.range(400).select(
      expr("timestamp_seconds(86400 * cast(id % 4 as bigint) + id)").as("ts"),
      (col("id") % 40).as("user_id"),
      concat(lit("m"), col("id")).as("msg"))
  }

  test("hidden partitioning: days(ts) + bucket(n,user_id) route files, stay out of " +
      "the schema, and round-trip every row") {
    val tbl = tempDir("manifest_hidden").toString
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts),bucket(4,user_id)").mode("overwrite").save(tbl)
    val df = dataTable(tbl)
    // hidden columns never surface in the table schema
    assert(df.schema.fieldNames.toSet == Set("ts", "user_id", "msg"),
      s"hidden partition columns leaked into ${df.schema.simpleString}")
    // the directory layout IS day/bucket nested
    val dirs = Files.list(Paths.get(tbl)).iterator()
    var sawDay = false
    dirs.forEachRemaining(p => if (p.getFileName.toString.startsWith("ts_day=")) sawDay = true)
    assert(sawDay, "expected ts_day=... directories")
    // full fidelity
    val got = df.orderBy("msg").collect()
    val want = hiddenEventsDf.orderBy("msg").collect()
    assert(got.toSeq == want.toSeq)
    // 4 days x up to 4 buckets worth of files
    val parts = ManifestTables.readLatest(tbl).map(_.partition).distinct
    assert(parts.forall(_.split(ManifestTables.PartSep).length == 2))
    assert(parts.map(_.split(ManifestTables.PartSep).head).distinct.size == 4, s"expected 4 days: $parts")
  }

  test("hidden partitioning: bucket equality and day ranges prune whole FILES; " +
      "answers stay exact (residual predicate re-checks rows)") {
    val tbl = tempDir("manifest_hidden_prune").toString
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts),bucket(4,user_id)").mode("overwrite").save(tbl)
    val total = inputPartitionCount(dataTable(tbl).select("msg"))
    // bucket equality: user_id = 7 maps through the SAME hash the writer used
    val byUser = dataTable(tbl).filter(col("user_id") === 7L)
    val userFiles = inputPartitionCount(byUser.select("msg"))
    assert(userFiles < total && userFiles > 0,
      s"bucket pruning expected: total=$total user=$userFiles")
    assert(byUser.count() == hiddenEventsDf.filter(col("user_id") === 7L).count())
    // IN-list maps every value
    val inTwo = dataTable(tbl).filter(col("user_id").isin(7L, 8L))
    assert(inTwo.count() == hiddenEventsDf.filter(col("user_id").isin(7L, 8L)).count())
    // day range: ts >= day 2 prunes days 0-1's files entirely
    val t2 = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2 * 86400))
    val byDay = dataTable(tbl).filter(col("ts") >= lit(t2))
    val dayFiles = inputPartitionCount(byDay.select("msg"))
    assert(dayFiles < total && dayFiles > 0,
      s"day-range pruning expected: total=$total range=$dayFiles")
    assert(byDay.count() == hiddenEventsDf.filter(col("ts") >= lit(t2)).count())
    // both at once compound
    val both = dataTable(tbl).filter(col("ts") >= lit(t2) && col("user_id") === 7L)
    assert(inputPartitionCount(both.select("msg")) <= math.min(userFiles, dayFiles))
    assert(both.count() ==
      hiddenEventsDf.filter(col("ts") >= lit(t2) && col("user_id") === 7L).count())
  }

  test("hidden partitioning: truncate(w,col) prunes by prefix bucket; values with " +
      "shared prefixes stay exact") {
    import spark.implicits._
    val tbl = tempDir("manifest_hidden_trunc").toString
    val df = Seq(("alpha", 1L), ("alps", 2L), ("beta", 3L), ("bet", 4L), ("gamma", 5L))
      .toDF("word", "n")
    df.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "truncate(2,word)").mode("overwrite").save(tbl)
    val total = inputPartitionCount(dataTable(tbl).select("n"))
    val q = dataTable(tbl).filter(col("word") === "alpha")
    assert(inputPartitionCount(q.select("n")) < total)
    assert(q.select("n").head().getLong(0) == 1L)
    // prefix-sharing value routed to the same file is filtered by the residual
    assert(dataTable(tbl).filter(col("word") === "alps").count() == 1)
  }

  test("hidden partitioning: copy-on-write UPDATE re-derives transform routing for " +
      "rewritten rows; reads stay exact") {
    val wh = tempDir("manifest_hidden_dml").toString
    val tbl = s"$wh/ns/ev"
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts),bucket(4,user_id)").mode("overwrite").save(tbl)
    spark.conf.set("spark.sql.catalog.hiddml", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.hiddml.warehouse", wh)
    try spark.sql("UPDATE hiddml.ns.ev SET msg = concat(msg, '!') WHERE user_id = 7")
    finally {
      spark.conf.unset("spark.sql.catalog.hiddml")
      spark.conf.unset("spark.sql.catalog.hiddml.warehouse")
    }
    val df = dataTable(tbl)
    assert(df.filter(col("user_id") === 7L).collect().forall(_.getAs[String]("msg").endsWith("!")))
    assert(df.count() == 400)
    // rewritten rows still prune by bucket (routing survived the rewrite)
    val total = inputPartitionCount(dataTable(tbl).select("msg"))
    val pruned = inputPartitionCount(dataTable(tbl).filter(col("user_id") === 7L).select("msg"))
    assert(pruned < total, s"post-UPDATE bucket pruning lost: $pruned vs $total")
  }

  test("hidden partitioning: CREATE TABLE PARTITIONED BY (days(ts), bucket(n, id)) " +
      "+ INSERT INTO prune like the option path; ALTER protects transform sources") {
    val wh = tempDir("manifest_hidden_cat").toString
    spark.conf.set("spark.sql.catalog.hidcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.hidcat.warehouse", wh)
    try {
      spark.sql("CREATE TABLE hidcat.ev (ts timestamp, user_id bigint, msg string) " +
        "PARTITIONED BY (days(ts), bucket(4, user_id))")
      hiddenEventsDf.createOrReplaceTempView("hidden_src")
      spark.sql("INSERT INTO hidcat.ev SELECT * FROM hidden_src")
      val df = spark.table("hidcat.ev")
      assert(df.schema.fieldNames.toSet == Set("ts", "user_id", "msg"))
      assert(df.count() == 400)
      val total = inputPartitionCount(df.select("msg"))
      val pruned = inputPartitionCount(
        spark.sql("SELECT msg FROM hidcat.ev WHERE user_id = 7"))
      assert(pruned < total && pruned > 0, s"catalog bucket pruning: $pruned vs $total")
      // the transform SOURCE column is pinned: rename/drop would orphan the spec
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE hidcat.ev RENAME COLUMN user_id TO uid"))
      assert(e1.getMessage.contains("hidden partition transform"))
      val e2 = intercept[Exception](spark.sql("ALTER TABLE hidcat.ev DROP COLUMN ts"))
      assert(e2.getMessage.contains("hidden partition transform"))
      // renaming an unrelated column still works
      spark.sql("ALTER TABLE hidcat.ev RENAME COLUMN msg TO message")
      assert(spark.table("hidcat.ev").schema.fieldNames.contains("message"))
    } finally {
      spark.conf.unset("spark.sql.catalog.hidcat")
      spark.conf.unset("spark.sql.catalog.hidcat.warehouse")
    }
  }

  test("hidden partitioning: an append asking a DIFFERENT partition spec is rejected") {
    val tbl = tempDir("manifest_hidden_spec").toString
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts),bucket(4,user_id)").mode("overwrite").save(tbl)
    val e = intercept[Exception] {
      hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "days(ts),bucket(8,user_id)").mode("append").save(tbl)
    }
    assert(e.getMessage.contains("partition columns") &&
      e.getMessage.contains("bucket(8,user_id)"))
    // an append with NO partcol option inherits the recorded spec
    hiddenEventsDf.limit(10).write.format(classOf[ManifestDataSource].getName)
      .mode("append").save(tbl)
    assert(dataTable(tbl).count() == 410)
  }

  test("clustered-distribution write: distribute=true collapses per-task small " +
      "files to one file per partition tuple (identity, path-based)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      .repartition(8)
    val tblA = tempDir("manifest_dist_a").toString
    docs.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tblA)
    val defaultFiles = ManifestTables.readLatest(tblA).size
    val tblB = tempDir("manifest_dist_b").toString
    docs.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").option("distribute", "true")
      .mode("overwrite").save(tblB)
    val clusteredFiles = ManifestTables.readLatest(tblB).size
    // 5 languages: the clustered write lands exactly one file per partition value;
    // the default per-task layout strands (tasks x values) files
    assert(clusteredFiles == 5, s"expected 5 clustered files, got $clusteredFiles")
    assert(defaultFiles > clusteredFiles,
      s"expected per-task fan-out without distribution: $defaultFiles vs $clusteredFiles")
    // same rows either way
    assert(dataTable(tblB).orderBy("doc_id").collect().toSeq ==
      dataTable(tblA).orderBy("doc_id").collect().toSeq)
  }

  test("sorted write: sortorder range-distributes + sorts at ingest — range " +
      "predicates skip files with no clustering rewrite; answers identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
    val tblA = tempDir("manifest_sort_a").toString
    docs.repartition(6) // round-robin: every file spans the whole doc_id range
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tblA)
    // the sorted ingest needs real range tasks: AQE would coalesce this tiny
    // shuffle to one partition (one full-range file per lang, nothing to skip)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "6")
    val tblB = tempDir("manifest_sort_b").toString
    s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("n_chars"), col("lang").as("lang_p"))
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").option("sortorder", "doc_id")
      .mode("overwrite").save(tblB)
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val hi = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 5
    def planned(out: String): Int =
      inputPartitionCount(dataTable(out).filter(col("doc_id") < hi).select("doc_id"))
    val (unsorted, sorted) = (planned(tblA), planned(tblB))
    val total = ManifestTables.readLatest(tblB).size
    assert(sorted < unsorted && sorted < total,
      s"sorted ingest must skip files: unsorted=$unsorted sorted=$sorted of $total")
    assert(dataTable(tblB).orderBy("doc_id").collect().toSeq ==
      dataTable(tblA).orderBy("doc_id").collect().toSeq)
    // an unknown sort column refuses loudly
    val bad = intercept[Exception] {
      docs.write.format(classOf[ManifestDataSource].getName)
        .option("sortorder", "nope").mode("overwrite")
        .save(tempDir("manifest_sort_c").toString)
    }
    assert(bad.getMessage.contains("sortorder"))
  }

  test("clustered-distribution write: hidden transforms shuffle through the " +
      "catalog's bucket/days functions — one file per (day, bucket) tuple") {
    val wh = tempDir("manifest_dist_hidden").toString
    spark.conf.set("spark.sql.catalog.distcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.distcat.warehouse", wh)
    try {
      spark.sql("CREATE TABLE distcat.ev (ts timestamp, user_id bigint, msg string) " +
        "PARTITIONED BY (days(ts), bucket(4, user_id))")
      hiddenEventsDf.repartition(8)
        .writeTo("distcat.ev").option("distribute", "true").append()
      // expected file count = distinct (UTC day, murmur3 bucket) tuples of the data
      val expect = hiddenEventsDf.collect().map { r =>
        val micros = r.getAs[Any]("ts") match {
          case i: java.time.Instant => i.toEpochMilli * 1000L
          case t: java.sql.Timestamp => t.getTime * 1000L
          case other => fail(s"unexpected ts external type ${other.getClass}")
        }
        val day = ManifestTables.PartTransforms.epochDayOfMicros(micros)
        val bucket = ManifestTables.PartTransforms.bucketLong(r.getAs[Long]("user_id"), 4)
        (day, bucket)
      }.distinct.length
      val files = ManifestTables.readLatest(s"$wh/ev").size
      assert(files == expect,
        s"clustered transform write should land one file per tuple: $files vs $expect")
      assert(spark.table("distcat.ev").count() == 400)
    } finally {
      spark.conf.unset("spark.sql.catalog.distcat")
      spark.conf.unset("spark.sql.catalog.distcat.warehouse")
    }
  }

  test("compaction composes with hidden partitioning: bin-packed files keep their " +
      "(day,bucket) routing; transform pruning and answers survive") {
    val tbl = tempDir("manifest_hidden_compact").toString
    // three appends of the same tuples -> >= 3 small files per (day, bucket)
    (0 until 3).foreach { r =>
      hiddenEventsDf.filter(col("user_id") % 3 === r).coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "days(ts),bucket(4,user_id)").mode("append").save(tbl)
    }
    val before = ManifestTables.readLatest(tbl).size
    val compacted = ManifestMaintenance.compactDataFiles(spark, tbl, targetBytes = 512 * 1024L)
    assert(compacted.nonEmpty, "expected a compaction snapshot")
    val after = ManifestTables.readLatest(tbl).size
    assert(after < before, s"compaction should shrink the file count: $before -> $after")
    // routing survived: partition values still split as (day, bucket) tuples...
    val parts = ManifestTables.readLatest(tbl).map(_.partition).distinct
    assert(parts.forall(_.split(ManifestTables.PartSep).length == 2))
    // ...and transform pruning still works on the compacted files
    val total = inputPartitionCount(dataTable(tbl).select("msg"))
    val pruned = inputPartitionCount(
      dataTable(tbl).filter(col("user_id") === 7L).select("msg"))
    assert(pruned < total && pruned > 0, s"post-compaction pruning: $pruned of $total")
    assert(dataTable(tbl).count() == 400)
    assert(dataTable(tbl).filter(col("user_id") === 7L).count() ==
      hiddenEventsDf.filter(col("user_id") === 7L).count())
  }

  test("SHOW TBLPROPERTIES surfaces format, snapshot id and the partition spec " +
      "in the partcol grammar") {
    import spark.implicits._
    val wh = tempDir("manifest_props").toString
    Seq((1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(86400L)), "a"))
      .toDF("id", "ts", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p,days(ts)").mode("overwrite").save(s"$wh/ns/t")
    spark.conf.set("spark.sql.catalog.propcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.propcat.warehouse", wh)
    try {
      val props = spark.sql("SHOW TBLPROPERTIES propcat.ns.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("format").contains("graft-manifest/parquet"))
      assert(props.get("current-snapshot-id").contains("0"))
      assert(props.get("partition-spec").contains("p,days(ts)"), props.toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.propcat")
      spark.conf.unset("spark.sql.catalog.propcat.warehouse")
    }
  }

  test("a mid-stream partition-spec redefinition refuses the crossing micro-batch " +
      "(a long-running stream must not parse the new layout under its stale spec)") {
    import spark.implicits._
    val tbl = tempDir("manifest_stream_respec").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    // the stream pins its spec at start (what a long-running query holds)
    val stream = new ManifestMicroBatchStream(tbl, dataTable(tbl).schema,
      ManifestTables.readPartitionSpec(tbl), Map.empty, None, Nil)
    // a concurrent overwrite redefines the partitioning
    Seq((3L, "c")).toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "bucket(4,id)").mode("overwrite").save(tbl)
    val e = intercept[IllegalArgumentException](
      stream.planInputPartitions(ManifestStreamOffset(0), ManifestStreamOffset(1)))
    assert(e.getMessage.contains("changed mid-stream"), e.getMessage)
  }

  test("mergeSchema append: new columns become metadata-only ADDs inside the " +
      "same commit; old rows null-fill; the widened schema then binds appends") {
    import spark.implicits._
    val tbl = tempDir("manifest_mergeschema").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(tbl)
    // an extra-column append WITHOUT the option still refuses
    val e = intercept[Exception] {
      Seq((3L, "x", "a")).toDF("id", "extra", "p")
        .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    }
    assert(e.getMessage.contains("does not match table") ||
      e.getMessage.contains("TOO_MANY_DATA_COLUMNS"), e.getMessage)
    Seq((3L, "x", "a")).toDF("id", "extra", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("mergeSchema", "true").mode("append").save(tbl)
    val df = dataTable(tbl)
    assert(df.schema.fieldNames.toSet == Set("id", "extra", "p"))
    assert(df.schema("extra").nullable, "merged column must be nullable (old rows null-fill)")
    val rows = df.select("id", "extra").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, Some("x"))))
    // the widened schema is now authoritative: a narrow append NULL-FILLS the
    // nullable merged column via Spark's own output resolution (exactly how
    // appends behave after an explicit ALTER ADD)
    Seq((4L, "a")).toDF("id", "p")
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    assert(dataTable(tbl).filter(col("id") === 4L).select("extra").head().isNullAt(0))
    // ...and the merged column got a registry id: it renames like any ALTER ADD
    val wh = tempDir("manifest_mergeschema_wh").toString
    val t2 = s"$wh/ns/t"
    Seq((1L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(t2)
    Seq((2L, 7L, "a")).toDF("id", "w", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("mergeSchema", "true").mode("append").save(t2)
    spark.conf.set("spark.sql.catalog.mscat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.mscat.warehouse", wh)
    try {
      spark.sql("ALTER TABLE mscat.ns.t RENAME COLUMN w TO weight")
      val got = spark.sql("SELECT id, weight FROM mscat.ns.t ORDER BY id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(got == Seq((1L, -1L), (2L, 7L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.mscat")
      spark.conf.unset("spark.sql.catalog.mscat.warehouse")
    }
  }

  test("overwrite may REDEFINE the partition spec; time travel reads each " +
      "snapshot under its own layout; appends still pin to the recorded spec") {
    import spark.implicits._
    val tbl = tempDir("manifest_respec").toString
    Seq((1L, "en", 10L), (2L, "fr", 20L)).toDF("id", "lang_p", "score")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("overwrite").save(tbl)
    // REPLACE with bucket partitioning on id — a different spec entirely
    Seq((3L, "de", 30L), (4L, "de", 40L)).toDF("id", "lang_p", "score")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "bucket(4,id)").mode("overwrite").save(tbl)
    assert(dataTable(tbl).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // the pinned pre-respec snapshot still serves ITS layout (lang_p a real
    // partition column with its own values, not the new bucket spec)
    val old = spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", "0").load(tbl)
    assert(old.select("id", "lang_p").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((1L, "en"), (2L, "fr")))
    // an APPEND asking yet another spec refuses (it must join the current layout)
    val e = intercept[Exception] {
      Seq((5L, "zh", 50L)).toDF("id", "lang_p", "score")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("metadata DELETE folds positional-delete segments left dangling by the " +
      "removed files; bootstrap/overwrite upserts publish no spent eq segment") {
    import spark.implicits._
    val wh = tempDir("manifest_fold_dangling").toString
    val tbl = s"$wh/ns/t"
    Seq((1L, "a"), (2L, "a")).toDF("id", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(tbl)
    Seq((3L, "b")).toDF("id", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(tbl)
    spark.conf.set("spark.sql.catalog.foldcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.foldcat.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try {
      spark.sql("DELETE FROM foldcat.ns.t WHERE id = 1") // positional delta in p=a
      assert(ManifestTables.readSnapshotRefs(tbl, None).deletes.nonEmpty)
      spark.conf.unset("spark.graft.manifest.deleteMode")
      // metadata-only partition DELETE removes every file the delta references
      spark.sql("DELETE FROM foldcat.ns.t WHERE p = 'a'")
      val refs = ManifestTables.readSnapshotRefs(tbl, None)
      assert(refs.deletes.isEmpty,
        s"dangling positional segment must fold with its files: ${refs.deletes}")
      // ...so the footer-aggregate fast path is back immediately
      val agg = dataTable(tbl).agg(count(lit(1)), min("id"))
      agg.collect()
      assert(agg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
        "aggregate should push to footers once no delete segment is live")
      assert(dataTable(tbl).collect().map(_.getLong(0)).toSeq == Seq(3L))
    } finally {
      spark.conf.unset("spark.graft.manifest.deleteMode")
      spark.conf.unset("spark.sql.catalog.foldcat")
      spark.conf.unset("spark.sql.catalog.foldcat.warehouse")
    }
    // a FIRST (bootstrap) upsert has no older file to delete from: no segment
    val tbl2 = s"$wh/ns/u"
    Seq((1L, "x", "a")).toDF("id", "v", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").option("upsertkey", "id").mode("append").save(tbl2)
    assert(ManifestTables.readSnapshotRefs(tbl2, None).eqDeletes.isEmpty,
      "bootstrap upsert must not publish a spent-at-birth eq-delete segment")
    // the second upsert targets real older files and does
    Seq((1L, "y", "a")).toDF("id", "v", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").option("upsertkey", "id").mode("append").save(tbl2)
    assert(ManifestTables.readSnapshotRefs(tbl2, None).eqDeletes.length == 1)
    assert(dataTable(tbl2).select("v").collect().map(_.getString(0)).toSeq == Seq("y"))
  }

  test("RENAME/DROP of a column the registry never tracked (unsafe name) refuses " +
      "instead of orphaning its data") {
    val wh = tempDir("manifest_untracked").toString
    spark.conf.set("spark.sql.catalog.regcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.regcat.warehouse", wh)
    try {
      spark.sql("CREATE TABLE regcat.ns.t (id BIGINT, p STRING) PARTITIONED BY (p)")
      spark.sql("ALTER TABLE regcat.ns.t ADD COLUMN `bad name` INT")
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE regcat.ns.t RENAME COLUMN `bad name` TO good"))
      assert(e1.getMessage.contains("not tracked"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE regcat.ns.t DROP COLUMN `bad name`"))
      assert(e2.getMessage.contains("not tracked"), e2.getMessage)
      // tracked columns still rename fine
      spark.sql("ALTER TABLE regcat.ns.t RENAME COLUMN id TO ident")
      assert(spark.table("regcat.ns.t").schema.fieldNames.contains("ident"))
    } finally {
      spark.conf.unset("spark.sql.catalog.regcat")
      spark.conf.unset("spark.sql.catalog.regcat.warehouse")
    }
  }

  test("zorderBy survives astronomic column ranges: ranks stay spread (no integer " +
      "wrap) and range predicates still skip files") {
    val tbl = tempDir("manifest_zorder_wide").toString
    // ids span ~9.2e17 — (v - mn) * 65535 would wrap a long and clamp every rank
    // to the SAME value, silently destroying the layout
    val df = spark.range(512).select(
      (col("id") * 1800000000000000L).as("wide_id"),
      (col("id") % 17).as("k"),
      lit("x").as("p"))
    df.orderBy(expr("hash(wide_id)")) // adversarial ingest order
      .repartition(8)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    ManifestMaintenance.zorderBy(spark, tbl, Seq("wide_id", "k"), targetBytes = 2048L)
    val afterFiles = ManifestTables.readLatest(tbl).size
    assert(afterFiles > 1, s"need multiple clustered files for a skipping probe")
    val q = dataTable(tbl)
      .filter(col("wide_id") >= 100000000000000000L && col("wide_id") < 300000000000000000L)
      .select("k")
    q.collect()
    val planned = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    assert(planned < afterFiles && planned > 0,
      s"wide-range z-order must still skip: planned=$planned of $afterFiles files")
    assert(q.count() ==
      df.filter(col("wide_id") >= 100000000000000000L &&
        col("wide_id") < 300000000000000000L).count())
  }

  test("metadata tables by name: cat.ns.t.files / .snapshots / .tags serve the " +
      "table's inspection surface in plain SQL") {
    import spark.implicits._
    val wh = tempDir("manifest_meta_tbl").toString
    val tbl = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode("append").save(tbl)
    append((1L, "a"), (2L, "b")) // snapshot 0: 2 files
    append((3L, "a"))            // snapshot 1: +1 file
    ManifestTables.tagLatest(tbl, "v1")
    append((4L, "c"))            // snapshot 2: +1 file
    spark.conf.set("spark.sql.catalog.metacat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.metacat.warehouse", wh)
    try {
      val files = spark.sql("SELECT path, partition FROM metacat.ns.t.files ORDER BY path")
        .collect()
      assert(files.length == 4)
      assert(files.map(_.getString(1)).sorted.toSeq == Seq("a", "a", "b", "c"))
      val snaps = spark.sql(
        "SELECT snapshot_id, segments, data_files, note FROM metacat.ns.t.snapshots " +
          "ORDER BY snapshot_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.isNullAt(3)))
      assert(snaps.toSeq == Seq((0L, 1, 2L, true), (1L, 2, 3L, true), (2L, 3, 4L, true)),
        s"snapshots metadata mismatch: ${snaps.toSeq}")
      // every commit carries its operation tag
      val ops = spark.sql("SELECT operation FROM metacat.ns.t.snapshots ORDER BY snapshot_id")
        .collect().map(_.getString(0)).toSeq
      assert(ops == Seq("append", "append", "append"), ops.toString)
      // committed_at is a real, non-decreasing timestamp
      val ts = spark.sql("SELECT committed_at FROM metacat.ns.t.snapshots ORDER BY snapshot_id")
        .collect().map(_.getTimestamp(0).getTime)
      assert(ts.length == 3 && ts.sorted.toSeq == ts.toSeq && ts.head > 0L)
      val tags = spark.sql("SELECT tag, snapshot_id FROM metacat.ns.t.tags").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(tags.toSeq == Seq(("v1", 1L)))
      // .partitions: per-partition file/byte rollup from manifest entries alone
      val parts = spark.sql("SELECT p, files FROM metacat.ns.t.partitions ORDER BY p")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(parts.toSeq == Seq(("a", 2L), ("b", 1L), ("c", 1L)), parts.toSeq.toString)
      assert(spark.sql("SELECT sum(bytes) FROM metacat.ns.t.partitions").head().getLong(0) ==
        ManifestTables.readLatest(tbl).map(_.bytes).sum)
      // a missing suffix still errors like a missing table
      intercept[Exception](spark.sql("SELECT * FROM metacat.ns.t.nope").collect())
    } finally {
      spark.conf.unset("spark.sql.catalog.metacat")
      spark.conf.unset("spark.sql.catalog.metacat.warehouse")
    }
  }

  test(".manifests metadata table: layered manifest segments by content (data, " +
      "position-deletes, equality-deletes) plus the inline head row") {
    import spark.implicits._
    val wh = tempDir("manifest_manifests_meta").toString
    val tbl = s"$wh/ns/t"
    def write(rows: Seq[(Long, Long, String)], mode: String,
        opts: Map[String, String] = Map.empty): Unit = {
      val w = rows.toDF("id", "v", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode)
      opts.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.save(tbl)
    }
    write((0L until 8L).map(i => (i, i * 10, "a")), "overwrite")
    write((8L until 12L).map(i => (i, i * 10, "b")), "append")
    spark.conf.set("spark.sql.catalog.mfcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.mfcat.warehouse", wh)
    try {
      def rows() = spark.sql(
        "SELECT path, content, entries, file_bytes FROM mfcat.ns.t.manifests")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
      val fresh = rows()
      assert(fresh.length == 2 &&
        fresh.forall(r => r._2 == "data" && r._3 == 1 && r._4 > 0),
        s"two single-file appends must list as two 1-entry data segments: ${fresh.toSeq}")
      // an upsert batch adds an equality-delete segment carrying its ONE key value
      write(Seq((0L, 999L, "a")), "append", Map("upsertkey" -> "id"))
      val eq = rows().filter(_._2 == "equality-deletes")
      assert(eq.length == 1 && eq(0)._3 == 1 && eq(0)._4 > 0, rows().toSeq.toString)
      // a merge-on-read row DELETE adds a position-deletes segment, one (path,pos)
      spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try spark.sql("DELETE FROM mfcat.ns.t WHERE id = 3")
      finally spark.conf.unset("spark.graft.manifest.deleteMode")
      val pos = rows().filter(_._2 == "position-deletes")
      assert(pos.length == 1 && pos(0)._3 == 1 && pos(0)._4 > 0, rows().toSeq.toString)
      // a WAP publish re-applies its staged entries INLINE at the head: the
      // synthetic '<inline>' row surfaces them (file_bytes null — no segment file)
      write(Seq((20L, 200L, "c")), "append", Map("wapId" -> "w1"))
      spark.sql("CALL mfcat.system.publish_wap('ns.t', 'w1')").collect()
      val inl = rows().filter(_._1 == "<inline>")
      assert(inl.length == 1 && inl(0)._2 == "data" && inl(0)._3 == 1 &&
        inl(0)._4 == -1L, rows().toSeq.toString)
      // the layering states reconcile with the live table: 12 - 1 deleted + 1 wap
      assert(spark.sql("SELECT count(*) FROM mfcat.ns.t").head().getLong(0) == 12L)
    } finally {
      spark.conf.unset("spark.sql.catalog.mfcat")
      spark.conf.unset("spark.sql.catalog.mfcat.warehouse")
    }
  }

  test("column DEFAULT values: metadata-only ALTER, existence default on old files, " +
      "current default fills omitted INSERT columns, pushed aggregates stay exact, " +
      "equality deletes key on the default") {
    import spark.implicits._
    val wh = tempDir("manifest_defaults").toString
    val tbl = s"$wh/ns/t"
    spark.conf.set("spark.sql.catalog.defcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.defcat.warehouse", wh)
    try {
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "w").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName).mode("overwrite").save(tbl)
      val before = ManifestMaintenance.liveDataFiles(tbl).map(_._1).toSet
      spark.sql("ALTER TABLE defcat.ns.t ADD COLUMN v INT DEFAULT 5")
      spark.sql("ALTER TABLE defcat.ns.t ADD COLUMN s STRING DEFAULT 'a''b'")
      assert(ManifestMaintenance.liveDataFiles(tbl).map(_._1).toSet == before,
        "ADD COLUMN DEFAULT must move no data file")
      def df = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
      // pre-ALTER rows serve the existence defaults — never null
      assert(df.filter($"v" === 5).count() == 10 && df.filter($"v".isNull).count() == 0)
      assert(df.filter($"s" === "a'b").count() == 10)
      // an explicit NULL stays null (a default is not a constraint)...
      spark.sql("INSERT INTO defcat.ns.t VALUES (100, 0, CAST(NULL AS INT), 'x')")
      assert(df.filter($"v".isNull).select("id").head().getLong(0) == 100L)
      // ...and an OMITTED column analyzer-fills the current default
      spark.sql("INSERT INTO defcat.ns.t (id, w) VALUES (101, 2)")
      val filled = df.filter($"id" === 101).select("v", "s").head()
      assert((filled.getInt(0), filled.getString(1)) == ((5, "a'b")), filled.toString)
      // generation-straddling pushed MIN/MAX/COUNT: pre-ALTER footers carry no
      // chunk for v, so the partials must come from the declared default
      val agg = spark.sql("SELECT min(v), max(v), count(v) FROM defcat.ns.t")
      val row = agg.head()
      assert(agg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
        "the straddling aggregate must still push to the footer scan")
      assert((row.getInt(0), row.getInt(1), row.getLong(2)) == ((5, 5, 11L)), row.toString)
      // an equality delete KEYED ON THE DEFAULTED COLUMN must see the default for
      // pre-ALTER rows (the inner reader threads defaults through the eq check):
      // an upsert carrying v=5 erases every row whose v reads 5
      Seq((200L, 9L, 5, "z")).toDF("id", "w", "v", "s").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("upsertkey", "v").mode("append").save(tbl)
      val left = df.select("id").collect().map(_.getLong(0)).toSet
      assert(left == Set(100L, 200L),
        s"eq delete on the default value must erase all defaulted rows, left: $left")
      // time travel to the pre-ALTER snapshot serves the pre-ALTER schema
      assert(spark.sql("SELECT * FROM defcat.ns.t VERSION AS OF 0")
        .schema.fieldNames.toSeq == Seq("id", "w"))
      // backslash round-trip: render and parse share catalyst's own literal
      // convention (Literal.sql / ResolveDefaultColumns), so 'x\\y' = x\y exactly
      spark.sql("ALTER TABLE defcat.ns.t ADD COLUMN b STRING DEFAULT 'x\\\\y'")
      assert(df.filter($"b" === "x\\y").count() == 2, df.select("id", "b").collect().toSeq)
      // unsupported default types refuse loudly
      val bad = intercept[Exception](spark.sql("ALTER TABLE defcat.ns.t ADD COLUMN " +
        "t2 TIMESTAMP DEFAULT TIMESTAMP '2020-01-01 00:00:00'"))
      assert(Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null).take(6)
        .exists(t => Option(t.getMessage).exists(_.contains("column DEFAULTs are supported"))),
        bad.toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.defcat")
      spark.conf.unset("spark.sql.catalog.defcat.warehouse")
    }
  }

  test("bucket SPJ: two bucket(4,user_id)-partitioned catalog tables join on the " +
      "SOURCE key with NO shuffle (storage-partitioned join through the transform)") {
    import spark.implicits._
    val wh = tempDir("manifest_spj_bucket").toString
    spark.conf.set("spark.sql.catalog.spjcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.warehouse", wh)
    val prev = (spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE spjcat.ev (ts timestamp, user_id bigint, msg string) " +
        "PARTITIONED BY (bucket(4, user_id))")
      spark.sql("CREATE TABLE spjcat.users (user_id bigint, tier string) " +
        "PARTITIONED BY (bucket(4, user_id))")
      hiddenEventsDf.writeTo("spjcat.ev").option("distribute", "true").append()
      (0L until 40L).map(u => (u, if (u % 2 == 0) "free" else "pro")).toDF("user_id", "tier")
        .writeTo("spjcat.users").option("distribute", "true").append()
      val joined = spark.sql(
        """SELECT u.tier, count(*) AS n FROM spjcat.ev e JOIN spjcat.users u
          |ON e.user_id = u.user_id GROUP BY u.tier ORDER BY u.tier""".stripMargin)
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("free", 200L), ("pro", 200L)), s"wrong join answer: $got")
      // the JOIN subtree must be exchange-free (the later GROUP BY tier / ORDER BY
      // legitimately shuffle — tier is not the partition key)
      def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val inner = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => all(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(q.plan)
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => all(r.child)
          case _ => Nil
        }
        p +: (p.children.flatMap(all) ++ inner)
      }
      val join = all(joined.queryExecution.executedPlan).collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.nonEmpty, "plan lost its join")
      val sub = all(join.get)
      assert(!sub.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        s"expected a shuffle-free bucket storage-partitioned join:\n${join.get.toString.take(2000)}")
    } finally {
      prev._1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._2)
      spark.conf.unset("spark.sql.catalog.spjcat")
      spark.conf.unset("spark.sql.catalog.spjcat.warehouse")
    }
  }

  test("hidden partitioning: DPP — a join's runtime filter on the bucket SOURCE " +
      "prunes manifest files at execution") {
    import spark.implicits._
    val tbl = tempDir("manifest_hidden_dpp").toString
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "bucket(4,user_id)").mode("overwrite").save(tbl)
    val total = ManifestTables.readLatest(tbl).size
    assert(total >= 3, s"need several bucket files for the probe, got $total")
    // same staging as the identity-DPP test: source-backed selective dim, fact must
    // not broadcast (a broadcast fact has no scan exchange to prune)
    val dimDir = tempDir("manifest_hidden_dpp_dim").toString
    Seq((7L, 1), (900L, 2)).toDF("uid", "grp").write.mode("overwrite").parquet(dimDir)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try {
      val fact = dataTable(tbl)
      val dim = spark.read.parquet(dimDir)
      val joined = fact.join(dim.filter(col("grp") === 1), fact("user_id") === dim("uid"))
      val want = hiddenEventsDf.filter(col("user_id") === 7L).count()
      assert(joined.count() == want)
      joined.collect()
      def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val inner = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => all(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(q.plan)
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => all(r.child)
          case _ => Nil
        }
        p +: (p.children.flatMap(all) ++ inner)
      }
      val scans = all(joined.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.toString.contains("manifest_data") => b
      }
      assert(scans.nonEmpty)
      val planned = scans.map(_.inputRDD.partitions.map {
        case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          d.inputPartitions.length
        case _ => 1
      }.sum).sum
      assert(planned < total && planned > 0,
        s"expected runtime bucket pruning: planned=$planned of $total files " +
          s"(runtime filters: ${scans.map(_.runtimeFilters).mkString(";")})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("rollbackTo publishes a new head with the target's state; history, spec, " +
      "and the reverse roll all survive") {
    import spark.implicits._
    val tbl = tempDir("manifest_rollback").toString
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)               // snapshot 0
    Seq((9L, -99L, "z")).toDF("id", "v", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "bucket(4,id)").mode("overwrite").save(tbl)    // snapshot 1 (bad, respec'd)
    // unknown target refuses loudly; rollback to the current head is a no-op
    intercept[IllegalArgumentException](ManifestTables.rollbackTo(tbl, 7))
    assert(ManifestTables.rollbackTo(tbl, 1) == 1)
    assert(ManifestTables.rollbackTo(tbl, 0) == 2)                      // snapshot 2 = state 0
    assert(dataTable(tbl).as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 10L, "a"), (2L, 20L, "b")))
    // the spec reverted with the files: an append under 'p' commits again
    Seq((3L, 30L, "c")).toDF("id", "v", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("append").save(tbl)                  // snapshot 3
    assert(dataTable(tbl).count() == 3)
    // the bad snapshot stays addressable — and rollback can roll FORWARD to it
    // (set-current-snapshot semantics), restoring ITS spec and file set
    assert(ManifestTables.rollbackTo(tbl, 1) == 4)
    assert(dataTable(tbl).as[(Long, Long, String)].collect().toSeq == Seq((9L, -99L, "z")))
    assert(ManifestTables.readPartitionSpec(tbl).map(ManifestTables.specTokenOf) ==
      Seq("bucket(4,id)"))
  }

  test("cherrypick re-applies an append delta after a rollback; non-appends, " +
      "double applies, and spec drift refuse") {
    import spark.implicits._
    val tbl = tempDir("manifest_cherrypick").toString
    def write(rows: Seq[(Long, String)], mode: String, partcol: String = "p"): Unit =
      rows.toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", partcol).mode(mode).save(tbl)
    write(Seq((1L, "a")), "overwrite")   // snapshot 0
    write(Seq((2L, "b")), "append")      // snapshot 1 (the bad one, pretend)
    write(Seq((3L, "a")), "append")      // snapshot 2 (good, lands after the bad)
    assert(ManifestTables.rollbackTo(tbl, 0) == 3)
    // re-apply the GOOD commit on top of the rolled-back state
    assert(ManifestTables.cherrypick(tbl, 2) == 4)
    assert(dataTable(tbl).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (3L, "a")))
    // double apply refuses (snapshot 2's file is live again)
    assert(intercept[IllegalArgumentException](ManifestTables.cherrypick(tbl, 2))
      .getMessage.contains("double-apply"))
    // the skipped commit can be picked too — order-independent recovery
    assert(ManifestTables.cherrypick(tbl, 1) == 5)
    assert(dataTable(tbl).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // an overwrite (removal) snapshot refuses: snapshot 3 is the rollback itself
    // (removed snapshot 1 and 2's files vs its parent)
    assert(intercept[IllegalArgumentException](ManifestTables.cherrypick(tbl, 3))
      .getMessage.contains("not a pure append"))
    // spec drift refuses: respec the head, then try to pick an old append
    write(Seq((9L, "z")), "overwrite", partcol = "bucket(4,id)") // snapshot 6
    assert(intercept[IllegalArgumentException](ManifestTables.cherrypick(tbl, 2))
      .getMessage.contains("spec"))
    // an identity-column RENAME keeps the same type token — the spec check must
    // still refuse (the old files' values would re-route to the wrong column)
    val tbl2 = tempDir("manifest_cherrypick2").toString
    def w2(rows: Seq[(Long, String, String)], mode: String, pc: String): Unit =
      rows.toDF("id", "p", "q").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", pc).mode(mode).save(tbl2)
    w2(Seq((1L, "a", "x")), "overwrite", "p")                   // snapshot 0
    w2(Seq((2L, "b", "y")), "append", "p")                      // snapshot 1
    assert(ManifestTables.rollbackTo(tbl2, 0) == 2)
    w2(Seq((3L, "c", "z")), "overwrite", "q")                   // snapshot 3: same TYPE, new name
    assert(intercept[IllegalArgumentException](ManifestTables.cherrypick(tbl2, 1))
      .getMessage.contains("spec"))
  }

  test("CALL cat.system.* procedures: rollback, expire, compact, rewrite, orphans " +
      "run through plain SQL and return their outcome rows") {
    import spark.implicits._
    val wh = tempDir("manifest_proc").toString
    val cat = "graft_proc_spec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    def write(rows: Seq[(Long, String)], mode: String): Unit =
      rows.toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode).save(s"$wh/ns/t")
    write(Seq((1L, "a"), (2L, "b")), "overwrite")         // snapshot 0
    write(Seq((9L, "z")), "overwrite")                    // snapshot 1 (bad)
    // rollback through SQL; result row names the previous and new head
    val rb = spark.sql(s"CALL $cat.system.rollback_to_snapshot('ns.t', 0)").head()
    assert((rb.getLong(0), rb.getLong(1)) == (1L, 2L))
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id").as[Long].collect()
      .toSeq == Seq(1L, 2L))
    // three tiny appends -> compact_manifests folds them into one segment
    write(Seq((3L, "a")), "append"); write(Seq((4L, "b")), "append")
    val folded = spark.sql(s"CALL $cat.system.compact_manifests('ns.t')").head()
    assert(!folded.isNullAt(0))
    assert(ManifestTables.readSnapshotRefs(s"$wh/ns/t", None).segments.length == 1)
    // rewrite_data_files bin-packs the small per-partition files
    val rw = spark.sql(s"CALL $cat.system.rewrite_data_files('ns.t', ${8L << 20})").head()
    assert(!rw.isNullAt(0))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0) == 4L)
    // expire everything but the head (named-arg form; keep_last has a default)
    val ex = spark.sql(
      s"CALL $cat.system.expire_snapshots(table => 'ns.t', keep_last => 1)").head()
    assert(ex.getInt(0) > 0)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 0").collect())
    // files restored by the rollback survive the GC: the head references them
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t").head().getLong(0) == 4L)
    // create_tag pins the current head by default; the tag serves VERSION AS OF
    // across later appends; tags are immutable; drop_tag releases the name
    val tagged = spark.sql(s"CALL $cat.system.create_tag('ns.t', 'rel1')")
      .head().getLong(0)
    assert(tagged == ManifestTables.latestSnapshotId(s"$wh/ns/t").get.toLong)
    write(Seq((5L, "a")), "append")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 'rel1'")
      .head().getLong(0) == 4L)
    val eTag = intercept[Exception](
      spark.sql(s"CALL $cat.system.create_tag('ns.t', 'rel1', $tagged)").collect())
    assert(eTag.getMessage.contains("already exists") ||
      Option(eTag.getCause).exists(_.getMessage.contains("already exists")), eTag.getMessage)
    assert(spark.sql(s"CALL $cat.system.create_tag(table => 'ns.t', tag => 'rel2', " +
      s"snapshot_id => $tagged)").head().getLong(0) == tagged)
    assert(spark.sql(s"CALL $cat.system.drop_tag('ns.t', 'rel2')").head().getBoolean(0))
    assert(!spark.sql(s"CALL $cat.system.drop_tag('ns.t', 'rel2')").head().getBoolean(0))
    // the procedure surface is introspectable through plain SQL
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .select("procedure_name").collect().map(_.getString(0)).toSet
    assert(listed.contains("rollback_to_snapshot") && listed.size == 16, listed)
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.expire_snapshots")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("expire_snapshots"), desc)
    // orphan sweep with a future cutoff finds nothing on a clean table
    assert(spark.sql(s"CALL $cat.system.remove_orphan_files('ns.t', ${1L << 62})")
      .head().getInt(0) == 0)
    // unknown procedure and unknown table both refuse loudly
    val e1 = intercept[Exception](spark.sql(s"CALL $cat.system.nope('ns.t')").collect())
    assert(e1.getMessage.contains("unknown procedure") ||
      Option(e1.getCause).exists(_.getMessage.contains("unknown procedure")), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql(s"CALL $cat.system.compact_manifests('ns.ghost')").collect())
    assert(e2.getMessage.contains("no committed manifest table") ||
      Option(e2.getCause).exists(_.getMessage.contains("no committed manifest table")),
      e2.getMessage)
    // a BIGINT snapshot id past Int.MaxValue refuses instead of wrapping to a
    // small id (4294967296.toInt == 0 would silently roll back to snapshot 0)
    val e3 = intercept[Exception](spark.sql(
      s"CALL $cat.system.rollback_to_snapshot('ns.t', ${1L << 32})").collect())
    assert(e3.getMessage.contains("out of range") ||
      Option(e3.getCause).exists(_.getMessage.contains("out of range")), e3.getMessage)
  }

  test("partition-scoped rewrite_data_files, CALL rewrite_position_deletes, and " +
      "age-based expire_snapshots(older_than) through SQL") {
    import spark.implicits._
    val wh = tempDir("manifest_proc2").toString
    val cat = "graft_proc2_spec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode("append").save(tbl)
    append((1L, "a"), (2L, "a")) // snap 0
    append((3L, "a"))            // snap 1: second small file in a
    append((4L, "b"))            // snap 2
    append((5L, "b"))            // snap 3: second small file in b
    def ids() = spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    // partition-scoped compaction: only partition a packs; b keeps BOTH files
    val before = ManifestMaintenance.liveDataFiles(tbl)
    assert(before.count(_._3 == "a") == 2 && before.count(_._3 == "b") == 2)
    val rw = spark.sql(s"CALL $cat.system.rewrite_data_files('ns.t', " +
      s"${8L << 20}, partition_value => 'a')").head()
    assert(!rw.isNullAt(0), "scoped rewrite found nothing to pack")
    val after = ManifestMaintenance.liveDataFiles(tbl)
    assert(after.count(_._3 == "a") == 1, after.mkString(","))
    assert(after.filter(_._3 == "b").toSet == before.filter(_._3 == "b").toSet,
      "partition b must be untouched by a rewrite scoped to a")
    assert(ids() == Seq(1L, 2L, 3L, 4L, 5L))
    // two MoR deletes stack two segments; CALL rewrite_position_deletes folds them
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.ns.t WHERE id = 1")
      spark.sql(s"DELETE FROM $cat.ns.t WHERE id = 2")
    } finally spark.conf.unset("spark.graft.manifest.deleteMode")
    assert(ManifestTables.readSnapshotRefs(tbl, None).deletes.length == 2)
    assert(!spark.sql(s"CALL $cat.system.rewrite_position_deletes('ns.t')")
      .head().isNullAt(0))
    assert(ManifestTables.readSnapshotRefs(tbl, None).deletes.length == 1)
    assert(ids() == Seq(3L, 4L, 5L))
    // age cutoff at epoch 0: every commit is younger — a no-op (prefix cut is empty)
    assert(ManifestTables.expireSnapshotsOlderThan(tbl, 0L) == ((0, 0, 0)))
    // far-future cutoff through CALL: everything is older, keep_last floors it at 2
    val nSnaps = ManifestTables.snapshotIds(tbl).length
    val ex = spark.sql(s"CALL $cat.system.expire_snapshots(table => 'ns.t', " +
      s"keep_last => 2, older_than => TIMESTAMP '2100-01-01 00:00:00')").head()
    assert(ex.getInt(0) == nSnaps - 2, ex.toString)
    assert(ManifestTables.snapshotIds(tbl).length == 2)
    assert(ids() == Seq(3L, 4L, 5L), "age expiry must not move the live answer")
  }

  test("write-audit-publish: staged appends stay invisible, audit reads parent+delta, " +
      "publish re-applies onto an advanced head, discard leaves orphans for GC") {
    import spark.implicits._
    val tbl = tempDir("manifest_wap").toString
    def write(rows: Seq[(Long, Long, String)], mode: String,
        wap: Option[String] = None): Unit = {
      val w = rows.toDF("id", "v", "lang_p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode)
      wap.fold(w)(w.option("wapId", _)).save(tbl)
    }
    def tableDf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet

    write((0L until 10L).map(i => (i, i, if (i % 2 == 0) "en" else "fr")), "overwrite")
    val head0 = ManifestTables.latestSnapshotId(tbl).get

    // stage a delta under wap id "cand1": no snapshot lands, reads see nothing
    write((10L until 15L).map(i => (i, i, "en")), "append", wap = Some("cand1"))
    assert(ManifestTables.latestSnapshotId(tbl).contains(head0),
      "a staged write must not advance the snapshot chain")
    assert(ids(tableDf) == (0L until 10L).toSet, "staged rows leaked into a plain read")
    assert(ManifestTables.listStaged(tbl) == Seq(("cand1", head0)))

    // reusing a staged id refuses loudly (coordination bug, not a race)
    val dup = intercept[Exception](
      write(Seq((99L, 99L, "en")), "append", wap = Some("cand1")))
    assert(Iterator.iterate(dup: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("already staged"))), dup.getMessage)
    // stage-only commits are appends: overwrite and upsertkey refuse
    val ow = intercept[Exception](
      write(Seq((99L, 99L, "en")), "overwrite", wap = Some("cand2")))
    assert(Iterator.iterate(ow: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("only appends can stage"))))

    // AUDIT read: parent + delta, repeatable, no pushed footer aggregate
    val audit = spark.read.format(classOf[ManifestDataSource].getName)
      .option("wapId", "cand1").load(tbl)
    assert(ids(audit) == (0L until 15L).toSet, "audit read must serve parent + delta")
    val auditAgg = audit.groupBy("lang_p").agg(count(lit(1)).as("c"))
    val auditCounts = auditAgg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(auditCounts == Map("en" -> 10L, "fr" -> 5L), auditCounts)
    assert(!auditAgg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "pushed aggregates must refuse on an audit read (footers would drop the delta)")
    // partition pruning still works over the combined view
    assert(ids(audit.filter(col("lang_p") === "en")) ===
      (0L until 10L by 2).toSet ++ (10L until 15L))

    // an unrelated append lands between stage and publish (the WAP point)
    write(Seq((20L, 20L, "fr")), "append")
    val head1 = ManifestTables.latestSnapshotId(tbl).get
    assert(head1 == head0 + 1)
    assert(ids(tableDf) == (0L until 10L).toSet + 20L)

    // publish re-applies the staged delta onto the ADVANCED head
    val pub = ManifestTables.publishStaged(tbl, "cand1")
    assert(pub == head1 + 1)
    assert(ids(tableDf) == (0L until 15L).toSet + 20L)
    assert(ManifestTables.listStaged(tbl).isEmpty, "publish must consume the staged head")
    // the head's operation tag reads "publish"
    assert(ManifestTables.snapshotTsAndNote(tbl, pub)._2.contains("publish"))
    // published rows carry FRESH sequence numbers: an upsert recorded while the
    // write sat staged must not retroactively delete them
    val again = intercept[Exception](ManifestTables.publishStaged(tbl, "cand1"))
    assert(again.getMessage.contains("no staged write"), again.getMessage)
    // CRASH WINDOW: the publish landed but the staged head survived (simulated by
    // restaging the same id with the same-content delta after the published rows
    // were REWRITTEN into new paths, defeating the live-path double-apply check) —
    // the wap-<id> commit note makes the retry a consumed no-op, never a re-apply
    val preCrash = ids(tableDf)
    val cand1 = (10L until 15L).map(i => (i, i, "en"))
    ManifestTables.writeStaged(tbl, "cand1", ManifestTables.latestSnapshotId(tbl).get,
      "lang_p", "string", cand1.map { case (i, _, l) =>
        ManifestTables.Entry(s"fake-${i}.parquet", 1L, l, 0) })
    graft.sources.ManifestMaintenance.compactDataFiles(spark, tbl, 1L << 30) // moves paths
    val noop = ManifestTables.publishStaged(tbl, "cand1")
    assert(noop == ManifestTables.latestSnapshotId(tbl).get)
    assert(ids(tableDf) == preCrash, "a crash-leftover staged head re-applied its delta")
    assert(ManifestTables.listStaged(tbl).isEmpty, "the leftover must be consumed")

    // discard path: stage, audit would pass, drop instead — data files survive
    // until removeOrphans, and ONLY once the staged head is gone
    write(Seq((30L, 30L, "en")), "append", wap = Some("cand3"))
    val stagedPaths = ManifestTables.readStaged(tbl, "cand3").entries.map(_.path)
    assert(stagedPaths.nonEmpty)
    // backdate the staged data files past the GC age guard: the staged head must
    // still protect them (an audit candidate may sit for days)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    stagedPaths.foreach(p => Files.setLastModifiedTime(Paths.get(tbl, p), old))
    ManifestTables.removeOrphans(tbl, 600_000L)
    assert(stagedPaths.forall(p => Files.exists(Paths.get(tbl, p))),
      "removeOrphans deleted a staged write's data files")
    assert(ManifestTables.discardStaged(tbl, "cand3"))
    ManifestTables.removeOrphans(tbl, 600_000L)
    assert(stagedPaths.forall(p => !Files.exists(Paths.get(tbl, p))),
      "a discarded staged write's files must become reclaimable orphans")
    assert(ids(tableDf) == (0L until 15L).toSet + 20L, "discard must not change the table")
  }

  test("write-audit-publish: spec drift while staged refuses at publish; " +
      "CALL publish_wap/discard_wap drive the flow from SQL") {
    import spark.implicits._
    val wh = tempDir("manifest_wap_sql").toString
    val cat = "graft_wap_spec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    def write(rows: Seq[(Long, String)], mode: String, wap: Option[String] = None,
        part: String = "p"): Unit = {
      val w = rows.toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", part).mode(mode)
      wap.fold(w)(w.option("wapId", _)).save(tbl)
    }
    write(Seq((1L, "a"), (2L, "b")), "overwrite")
    write(Seq((3L, "a")), "append", wap = Some("w1"))
    // publish through SQL; the result row is the new head id
    val pub = spark.sql(s"CALL $cat.system.publish_wap('ns.t', 'w1')").head()
    assert(pub.getLong(0) == 1L)
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L))
    // spec drift: stage under the current spec, overwrite-respec the table, publish refuses
    write(Seq((4L, "b")), "append", wap = Some("w2"))
    write(Seq((5L, "x")), "overwrite", part = "bucket(2,id)") // respec: hidden bucket now
    val drift = intercept[Exception](
      spark.sql(s"CALL $cat.system.publish_wap('ns.t', 'w2')").collect())
    assert(Iterator.iterate(drift: Throwable)(_.getCause).takeWhile(_ != null).take(6)
      .exists(t => Option(t.getMessage).exists(_.contains("cannot re-route"))), drift.getMessage)
    // discard through SQL cleans it up
    assert(spark.sql(s"CALL $cat.system.discard_wap('ns.t', 'w2')").head().getBoolean(0))
    assert(ManifestTables.listStaged(tbl).isEmpty)
  }

  test("branches: isolated appends, fork-carried eq-deletes skip branch rows, " +
      "fast-forward republishes with restamped sequences, GC protects the chain") {
    import spark.implicits._
    val tbl = tempDir("manifest_branch").toString
    def write(rows: Seq[(Long, Long, String)], mode: String,
        branch: Option[String] = None, upsert: Boolean = false): Unit = {
      var w = rows.toDF("id", "v", "lang_p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode(mode)
      branch.foreach(b => w = w.option("branch", b))
      if (upsert) w = w.option("upsertkey", "id")
      w.save(tbl)
    }
    def mainDf = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    def branchDf(b: String) = spark.read.format(classOf[ManifestDataSource].getName)
      .option("branch", b).load(tbl)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // snapshot 0: ids 0..9 v=0; snapshot 1: upsert id 5 -> v=1 (an equality-delete
    // segment at sequence 1 now rides in the table state the branch will fork)
    write((0L until 10L).map(i => (i, 0L, if (i % 2 == 0) "en" else "fr")), "overwrite")
    write(Seq((5L, 1L, "fr")), "append", upsert = true)
    val base = ManifestTables.latestSnapshotId(tbl).get
    assert(base == 1)
    assert(ManifestTables.createBranch(tbl, "dev") == base)

    // two branch appends — one fresh id, one REUSING the upserted key: the carried
    // equality delete (seq 1) must not swallow the branch row (stamped base+K > 1)
    write(Seq((100L, 0L, "en")), "append", branch = Some("dev"))
    write(Seq((5L, 2L, "fr")), "append", branch = Some("dev"))
    val mainPairs = (0L until 10L).filterNot(_ == 5).map((_, 0L)).toSet + ((5L, 1L))
    assert(pairs(mainDf) == mainPairs, "branch rows leaked into main")
    assert(pairs(branchDf("dev")) == mainPairs + ((100L, 0L)) + ((5L, 2L)),
      "branch read must serve fork + branch appends (incl. the re-appended upsert key)")
    // partition pruning holds on the branch view; footer aggregates refuse
    assert(pairs(branchDf("dev").filter(col("lang_p") === "fr")) ==
      Set((1L, 0L), (3L, 0L), (7L, 0L), (9L, 0L), (5L, 1L), (5L, 2L)))
    val agg = branchDf("dev").groupBy("lang_p").agg(count(lit(1)).as("c"))
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 6L, "fr" -> 6L))
    assert(!agg.queryExecution.executedPlan.toString.contains("manifest_data_agg"),
      "pushed aggregates must refuse on a branch read (footers would answer main-only)")
    assert(ManifestTables.listBranches(tbl) == Seq(("dev", base, 2)))

    // fast-forward onto the untouched head; the fork pointer advances with it
    val ff = ManifestTables.fastForward(tbl, "dev")
    assert(ff == base + 1)
    assert(pairs(mainDf) == mainPairs + ((100L, 0L)) + ((5L, 2L)))
    assert(ManifestTables.snapshotTsAndNote(tbl, ff)._2.contains("fastforward"))
    assert(ManifestTables.readBranchBase(tbl, "dev") == ff)
    // the cycle repeats: another branch append, another fast-forward
    write(Seq((101L, 0L, "en")), "append", branch = Some("dev"))
    assert(pairs(mainDf).size == 12, "second-round branch append leaked into main")
    assert(ManifestTables.fastForward(tbl, "dev") == ff + 1)
    assert(pairs(mainDf) == mainPairs + ((100L, 0L)) + ((5L, 2L)) + ((101L, 0L)))
    // restamped sequences sit BELOW every future main sequence: a post-ff upsert
    // of the twice-written key must swallow BOTH id-5 rows (a surviving
    // branch-local stamp would resurrect one past the new delete's sequence)
    write(Seq((5L, 3L, "fr")), "append", upsert = true)
    assert(pairs(mainDf).filter(_._1 == 5L) == Set((5L, 3L)),
      "a fast-forwarded row escaped a later equality delete — restamping broke")

    // a branch forked from an old snapshot survives main-history expiry
    ManifestTables.createBranch(tbl, "keep")
    ManifestTables.createBranch(tbl, "idle") // never written to
    write(Seq((200L, 0L, "en")), "append", branch = Some("keep"))
    write(Seq((300L, 0L, "en")), "append")
    write(Seq((301L, 0L, "en")), "append")
    // even the zero-commit NO-OP path validates the fork point: returning a stale
    // head id as "success" would misdirect a caller keying work off it
    val idle = intercept[Exception](ManifestTables.fastForward(tbl, "idle"))
    assert(idle.getMessage.contains("not fast-forwardable"), idle.getMessage)
    assert(ManifestTables.dropBranch(tbl, "idle"))
    ManifestTables.expireSnapshots(tbl, keepLast = 1)
    assert(pairs(branchDf("keep")).contains((200L, 0L)) &&
      pairs(branchDf("keep")).contains((5L, 3L)),
      "expiry pulled segments out from under a live branch")
    val adv = intercept[Exception](ManifestTables.fastForward(tbl, "keep"))
    assert(adv.getMessage.contains("not fast-forwardable"), adv.getMessage)

    // dropped-branch data files become reclaimable orphans — and ONLY after the drop
    ManifestTables.createBranch(tbl, "tmp")
    write(Seq((400L, 0L, "en")), "append", branch = Some("tmp"))
    val tmpPaths = ManifestTables.entriesOf(tbl, ManifestTables.readBranchRefs(tbl, "tmp"))
      .map(_.path).toSet -- ManifestTables.readLatest(tbl).map(_.path).toSet
    assert(tmpPaths.nonEmpty)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    tmpPaths.foreach(p => Files.setLastModifiedTime(Paths.get(tbl, p), old))
    ManifestTables.removeOrphans(tbl, 600_000L)
    assert(tmpPaths.forall(p => Files.exists(Paths.get(tbl, p))),
      "removeOrphans deleted a live branch's data files")
    assert(ManifestTables.dropBranch(tbl, "tmp"))
    ManifestTables.removeOrphans(tbl, 600_000L)
    assert(tmpPaths.forall(p => !Files.exists(Paths.get(tbl, p))),
      "a dropped branch's files must become reclaimable orphans")
  }

  test("branches: SQL create_branch/fast_forward/drop_branch, the .refs metadata " +
      "table, and the refusal surface") {
    import spark.implicits._
    def msgChain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
        .flatMap(t => Option(t.getMessage)).toSeq
    val wh = tempDir("manifest_branch_sql").toString
    val cat = "graft_branch_sql"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    def write(rows: Seq[(Long, String)], mode: String,
        opts: Map[String, String] = Map.empty): Unit = {
      var w = rows.toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode)
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.save(tbl)
    }
    write(Seq((1L, "a"), (2L, "b")), "overwrite")
    assert(spark.sql(s"CALL $cat.system.create_branch('ns.t', 'dev')")
      .head().getLong(0) == 0L)
    write(Seq((3L, "a")), "append", Map("branch" -> "dev"))
    // .refs lists main, tags, and branches with their anchors
    ManifestTables.createTag(tbl, "v1", 0)
    val refs = spark.sql(
      s"SELECT name, type, snapshot_id, branch_head FROM $cat.ns.t.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(refs == Set(("main", "branch", 0L, -1L), ("dev", "branch", 0L, 1L),
      ("v1", "tag", 0L, -1L)), refs)
    // the procedure surface is complete and introspectable
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .select("procedure_name").collect().map(_.getString(0)).toSet
    assert(listed.contains("fast_forward") && listed.size == 16, listed)
    // fast_forward through SQL; the published table answers by name
    assert(spark.sql(s"CALL $cat.system.fast_forward('ns.t', 'dev')")
      .head().getLong(0) == 1L)
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L))
    // the refusal surface, each loud and named
    val dup = intercept[Exception](
      spark.sql(s"CALL $cat.system.create_branch('ns.t', 'dev')").collect())
    assert(msgChain(dup).exists(_.contains("already exists")), dup.getMessage)
    val ow = intercept[Exception](
      write(Seq((9L, "a")), "overwrite", Map("branch" -> "dev")))
    assert(msgChain(ow).exists(_.contains("only appends can land")), ow.getMessage)
    val up = intercept[Exception](write(Seq((9L, "a")), "append",
      Map("branch" -> "dev", "upsertkey" -> "id")))
    assert(msgChain(up).exists(_.contains("cannot combine with upsertkey")))
    val wap = intercept[Exception](write(Seq((9L, "a")), "append",
      Map("branch" -> "dev", "wapId" -> "x")))
    assert(msgChain(wap).exists(_.contains("cannot combine with wapId")))
    val unknownW = intercept[Exception](
      write(Seq((9L, "a")), "append", Map("branch" -> "nope")))
    assert(msgChain(unknownW).exists(_.contains("no branch 'nope'")), unknownW.getMessage)
    val combo = intercept[Exception](
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("branch", "dev").option("snapshot", "0").load(tbl).collect())
    assert(msgChain(combo).exists(_.contains("cannot combine")), combo.getMessage)
    val unknownR = intercept[Exception](
      spark.read.format(classOf[ManifestDataSource].getName)
        .option("branch", "nope").load(tbl).collect())
    assert(msgChain(unknownR).exists(_.contains("no branch 'nope'")), unknownR.getMessage)
    // fast-forward refuses once main advanced past the fork (from SQL too)
    write(Seq((4L, "b")), "append", Map("branch" -> "dev"))
    write(Seq((5L, "a")), "append")
    val drift = intercept[Exception](
      spark.sql(s"CALL $cat.system.fast_forward('ns.t', 'dev')").collect())
    assert(msgChain(drift).exists(_.contains("not fast-forwardable")), drift.getMessage)
    // SQL time travel to the branch head (Iceberg's VERSION AS OF '<branch>'):
    // the branch view serves its pending append; main serves its own
    assert(spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 'dev' ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql(s"SELECT id FROM $cat.ns.t ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L, 5L))
    // a DML attempt on the branch-pinned relation refuses loudly
    val dml = intercept[Exception](
      spark.sql(s"DELETE FROM $cat.ns.t VERSION AS OF 'dev' WHERE id = 4").collect())
    assert(msgChain(dml).nonEmpty) // Spark rejects DML on time-travel relations
    // drop through SQL cleans up the ref and the chain
    assert(spark.sql(s"CALL $cat.system.drop_branch('ns.t', 'dev')").head().getBoolean(0))
    assert(ManifestTables.listBranches(tbl).isEmpty)
    // with the branch gone, the same VERSION AS OF resolves as neither tag nor branch
    val gone = intercept[Exception](
      spark.sql(s"SELECT id FROM $cat.ns.t VERSION AS OF 'dev'").collect())
    assert(msgChain(gone).exists(_.contains("neither a snapshot id nor a tag")),
      gone.getMessage)
  }

  test("branches: appends validate against the BRANCH's schema and spec — " +
      "main evolving or respec'ing after the fork neither blocks nor corrupts them") {
    import spark.implicits._
    def msgChain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
        .flatMap(t => Option(t.getMessage)).toSeq
    val wh = tempDir("manifest_branch_evo").toString
    val cat = "graft_branch_evo"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tbl = s"$wh/ns/t"
    Seq((1L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    ManifestTables.createBranch(tbl, "dev")
    // main evolves: ADD COLUMN extra — the branch's schema stays (id, p)
    spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN extra BIGINT")
    // a branch append in the BRANCH's shape lands; one in MAIN's evolved shape refuses
    Seq((2L, "a")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").option("branch", "dev").mode("append").save(tbl)
    val evolved = intercept[Exception](
      Seq((3L, 30L, "a")).toDF("id", "extra", "p")
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").option("branch", "dev").mode("append").save(tbl))
    // refused at ANALYSIS already: inferSchema serves the branch's (id, p), so
    // Spark's own arity check fires before the builder's deep compare would
    assert(msgChain(evolved).exists(m => m.contains("does not match table") ||
      m.contains("TOO_MANY_DATA_COLUMNS")), evolved.getMessage)
    def branchIds = spark.read.format(classOf[ManifestDataSource].getName)
      .option("branch", "dev").load(tbl).select("id").as[Long].collect().toSet
    assert(branchIds == Set(1L, 2L))
    // main respecs (overwrite under a different layout): a branch append still
    // lands under the BRANCH's recorded layout — only fast_forward refuses
    Seq((9L, 9L, "x")).toDF("id", "extra", "p")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "bucket(2,id)").mode("overwrite").save(tbl)
    Seq((4L, "b")).toDF("id", "p").write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").option("branch", "dev").mode("append").save(tbl)
    assert(branchIds == Set(1L, 2L, 4L))
    val ff = intercept[Exception](ManifestTables.fastForward(tbl, "dev"))
    assert(ff.getMessage.contains("not fast-forwardable"), ff.getMessage)
  }

  test("streaming admission control: maxFilesPerTrigger splits pure-append spans at " +
      "file granularity, offsets resume mid-span, the union is exact") {
    import spark.implicits._
    val root = tempDir("manifest_ratelimit")
    val tbl = s"$root/t"
    // one file per distinct partition value (single writer task): deterministic
    // fresh-file counts per commit, one row per file
    def append(mode: String, ids: Long*): Unit =
      ids.map(i => (i, s"p$i")).toDF("id", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode).save(tbl)
    append("overwrite", 0L)
    append("append", 1L, 2L)     // snapshot 1: 2 fresh files
    append("append", 3L, 4L, 5L) // snapshot 2: 3 fresh files
    append("append", 6L)         // snapshot 3: 1 fresh file
    val st = new ManifestMicroBatchStream(tbl,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, p STRING"),
      ManifestTables.readPartitionSpec(tbl, None), Map.empty,
      startSnapshot = Some(0), statBounds = Nil, admission = StreamAdmission(files = Some(2)))
    val lim = st.getDefaultReadLimit
    assert(lim.isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadMaxFiles])
    def off(s: Int, p: Int = 0) = ManifestStreamOffset(s, p)
    // walk: 2-file span fits the budget exactly; the 3-file span splits mid-span;
    // the remainder + the 1-file span share the third batch
    val o1 = st.latestOffset(off(0), lim)
    assert(o1 == off(1), o1)
    val o2 = st.latestOffset(o1, lim)
    assert(o2 == off(1, 2), o2)
    val o3 = st.latestOffset(o2, lim)
    assert(o3 == off(3), o3)
    assert(st.latestOffset(o3, lim) == o3) // drained: no progress, no empty batch
    def files(a: org.apache.spark.sql.connector.read.streaming.Offset,
        b: org.apache.spark.sql.connector.read.streaming.Offset): Seq[String] =
      st.planInputPartitions(a, b).toSeq
        .map(_.asInstanceOf[ManifestDataInputPartition].relPath)
    val batches = Seq(files(off(0), o1), files(o1, o2), files(o2, o3))
    assert(batches.map(_.size) == Seq(2, 2, 2), batches.map(_.size).toString)
    val all = batches.flatten
    assert(all.distinct.size == all.size, "a file was planned twice")
    // the rate-limited decomposition covers exactly the single-shot range plan
    assert(files(off(0), off(3)).sorted == all.sorted)
    // offset JSON: pre-admission-control checkpoints (no pos) deserialize as pos=0;
    // mid-span offsets round-trip through their JSON
    assert(st.deserializeOffset("""{"snapshot":2}""") == off(2))
    assert(st.deserializeOffset(off(1, 2).json()) == off(1, 2))
  }

  test("streaming admission control: non-append spans are consumed atomically — a " +
      "merge-on-read delete commit is never split even when the budget is larger") {
    import spark.implicits._
    val root = tempDir("manifest_ratelimit_mor")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(Seq((0L, "en")))
    append(Seq((1L, "en"), (2L, "fr")))      // snapshot 1: pure append
    spark.conf.set("spark.sql.catalog.graft_rlmor", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rlmor.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_rlmor.ns.t WHERE id = 1") // snapshot 2: delete growth
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    append(Seq((3L, "de"), (4L, "de")))      // snapshot 3: pure append
    val st = new ManifestMicroBatchStream(tbl,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, lang_p STRING"),
      ManifestTables.readPartitionSpec(tbl, None), Map.empty,
      startSnapshot = Some(0), statBounds = Nil, changelog = true,
      admission = StreamAdmission(files = Some(10)))
    val lim = st.getDefaultReadLimit
    def off(s: Int, p: Int = 0) = ManifestStreamOffset(s, p)
    // the append span fits, but the walk STOPS before the delete span even with
    // budget left: non-append spans get their own batch
    val o1 = st.latestOffset(off(0), lim)
    assert(o1 == off(1), o1)
    val o2 = st.latestOffset(o1, lim)
    assert(o2 == off(2), o2)
    val o3 = st.latestOffset(o2, lim)
    assert(o3 == off(3), o3)
    // the delete batch carries the changelog delete row
    val cts = st.planInputPartitions(o1, o2).toSeq
      .map(_.asInstanceOf[ManifestDataInputPartition].changeType)
    assert(cts == Seq("delete"), cts.toString)
  }

  test("streaming admission control end-to-end: AvailableNow drains in bounded " +
      "micro-batches with exactly-once delivery across checkpointed restarts") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.{Dataset, Row}
    import spark.implicits._
    val root = tempDir("manifest_ratelimit_e2e")
    val tbl = s"$root/t"
    def append(mode: String, ids: Long*): Unit =
      ids.map(i => (i, s"p$i")).toDF("id", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode(mode).save(tbl)
    append("overwrite", 0L)
    append("append", 1L, 2L)
    append("append", 3L, 4L, 5L)
    val ckpt = s"$root/ckpt"
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[ManifestDataSource].getName)
        .option("startSnapshot", "0").option("maxFilesPerTrigger", "2").load(tbl)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          val ids = b.select("id").collect().map(_.getLong(0)).toSeq.sorted
          seen.synchronized { seen += ((id, ids)) }
          ()
        }.start()
      q.awaitTermination()
    }
    drain()
    val firstBatches = seen.toSeq
    assert(firstBatches.map(_._2.size).forall(_ <= 2),
      s"a batch exceeded maxFilesPerTrigger: $firstBatches")
    assert(firstBatches.size >= 3, s"5 files at <=2/batch need >=3 batches: $firstBatches")
    assert(firstBatches.flatMap(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L), firstBatches)
    // restart from the same checkpoint after another append: only the delta arrives
    append("append", 6L)
    drain()
    assert(seen.flatMap(_._2).sorted == (1L to 6L), seen.toString)
  }

  test("streaming admission control: maxRowsPerTrigger budgets batches from the " +
      "manifest's exact row counts; rows-unknown entries exhaust the budget; " +
      "maxBytesPerTrigger composes; oversized first files still flow (soft limits)") {
    import spark.implicits._
    val root = tempDir("manifest_ratelimit_rows")
    val tbl = s"$root/t"
    // one file per commit; file k carries k+1 rows (1, 2, 3, 4 rows)
    def append(rows: Seq[Long]): Unit =
      rows.map(i => (i, "en")).toDF("id", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "p").mode("append").save(tbl)
    append(Seq(0L))
    append(Seq(1L))                      // snapshot 1: 1 row
    append(Seq(2L, 3L))                  // snapshot 2: 2 rows
    append(Seq(4L, 5L, 6L))              // snapshot 3: 3 rows
    append(Seq(7L, 8L, 9L, 10L))         // snapshot 4: 4 rows
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, p STRING")
    def stream(a: StreamAdmission) = new ManifestMicroBatchStream(tbl, schema,
      ManifestTables.readPartitionSpec(tbl, None), Map.empty,
      startSnapshot = Some(0), statBounds = Nil, admission = a)
    def off(s: Int, p: Int = 0) = ManifestStreamOffset(s, p)
    // rows budget 3: [1+2 rows], [3 rows], [4 rows — oversized but FIRST, soft-admitted]
    val st = stream(StreamAdmission(rows = Some(3L)))
    val lim = st.getDefaultReadLimit
    assert(lim.isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadMaxRows])
    val o1 = st.latestOffset(off(0), lim)
    assert(o1 == off(2), o1)
    val o2 = st.latestOffset(o1, lim)
    assert(o2 == off(3), o2)
    val o3 = st.latestOffset(o2, lim)
    assert(o3 == off(4), o3)
    assert(st.latestOffset(o3, lim) == o3)
    // bytes-only budget: every parquet file here is well over 1 byte, so each
    // batch soft-admits exactly one file — and the default limit is non-trivial
    val bt = stream(StreamAdmission(bytes = Some(1L)))
    val blim = bt.getDefaultReadLimit
    val b1 = bt.latestOffset(off(0), blim)
    assert(b1 == off(1), b1)
    val b2 = bt.latestOffset(b1, blim)
    assert(b2 == off(2), b2)
    // files+rows composite: files=2 would take snapshots 1+2, but rows=2 stops
    // the second file (1+2 > 2) -> snapshot 1 alone
    val ct = stream(StreamAdmission(files = Some(2), rows = Some(2L)))
    val clim = ct.getDefaultReadLimit
    assert(clim.isInstanceOf[org.apache.spark.sql.connector.read.streaming.CompositeReadLimit])
    assert(ct.latestOffset(off(0), clim) == off(1))
    // age snapshot 2's segment to the pre-rows format: the unknown-rows file
    // exhausts the row budget — admitted, then the batch closes
    val segs = Files.list(Paths.get(tbl, "_manifests")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("seg-")).toSeq.sorted
    val seg2 = segs.find { sp =>
      new String(Files.readAllBytes(sp), StandardCharsets.UTF_8).contains("\"seq\": 2")
    }.get
    Files.write(seg2, new String(Files.readAllBytes(seg2), StandardCharsets.UTF_8)
      .replaceAll(""",\s*"rows":\s*\d+""", "").getBytes(StandardCharsets.UTF_8))
    val ut = stream(StreamAdmission(rows = Some(100L)))
    val ulim = ut.getDefaultReadLimit
    // an UNKNOWN-rows file never shares a batch: it would blow the budget, so the
    // batch closes before it — it then flows alone as the next batch's (soft)
    // first admission, and known-rows batching resumes after it
    val u1 = ut.latestOffset(off(0), ulim)
    assert(u1 == off(1), u1)
    val u2 = ut.latestOffset(u1, ulim)
    assert(u2 == off(2), u2)
    val u3 = ut.latestOffset(u2, ulim)
    assert(u3 == off(4), u3)
    // end-to-end: the rate-limited union is exact under maxRowsPerTrigger
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format(classOf[ManifestDataSource].getName)
      .option("startSnapshot", "0").option("maxRowsPerTrigger", "3").load(tbl)
      .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSeq.sorted
        seen.synchronized { seen += ids }
        ()
      }.start()
    q.awaitTermination()
    assert(seen.size >= 3, seen.toString)
    assert(seen.flatten.sorted == (1L to 10L), seen.toString)
  }

  /** Rows the DSv2 scan node itself emitted (pre-residual-filter) — the direct
    * observable for row-group skipping: skipped groups' rows never surface here.
    */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("numOutputRows").value
    }.sum
  }

  test("row-group skipping: residual comparisons prune parquet row groups via footer " +
      "stats inside one file — the scan emits a fraction of the rows, answers exact") {
    val root = tempDir("manifest_rowgroup")
    val tbl = s"$root/t"
    val n = 50000
    // one task, sorted ids, small row groups: each group owns a narrow id range
    spark.range(n).select(col("id"),
        concat(lit("pay-"), col("id"), lit("-" + "x" * 40)).as("payload"),
        lit("en").as("lang_p"))
      .coalesce(1).sortWithinPartitions("id")
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").option("rowgroupsize", "65536")
      .mode("append").save(tbl)
    def t = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    val all = scanOutputRows(t.select("id", "payload"))
    assert(all == n, all.toString)
    // point lookup: only the one row group whose [min,max] covers the id decodes
    val eq = t.filter(col("id") === 31337L).select("id", "payload")
    val eqRows = scanOutputRows(eq)
    assert(eqRows < n / 4, s"row groups did not skip: scan emitted $eqRows of $n")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(31337L))
    // range: only the tail groups decode
    val range = t.filter(col("id") >= (n - 1000).toLong).select("id")
    val rangeRows = scanOutputRows(range)
    assert(rangeRows < n / 4 && range.count() == 1000, s"$rangeRows")
    // absent value: every group's stats exclude it — zero rows decoded
    assert(scanOutputRows(t.filter(col("id") === -5L).select("id")) == 0L)
  }

  test("bloom-filter row-group skipping: .option(bloomfilters) writes per-row-group " +
      "blooms; equality on an unsorted high-cardinality key skips groups stats cannot") {
    val root = tempDir("manifest_bloom")
    // 64-char high-entropy strings defeat dictionary encoding (the dictionary
    // page overflows to plain), and interleaved writes give every row group the
    // same [min,max] span — so neither stats nor dictionary can skip: only the
    // bloom can prove a group lacks the key
    val n = 80000
    def key(i: Long): String = {
      var h = i * 0x9E3779B97F4A7C15L
      val sb = new StringBuilder
      while (sb.length < 64) {
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
        sb.append(java.lang.Long.toHexString(h)); h += 1
      }
      sb.substring(0, 64)
    }
    val keyUdf = udf((i: Long) => key(i))
    def written(dir: String, bloom: Boolean): Unit = {
      val w = spark.range(n).select(col("id"), keyUdf(col("id")).as("cid"),
          lit("en").as("lang_p"))
        .coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").option("rowgroupsize", (1 << 20).toString)
      (if (bloom) w.option("bloomfilters", "cid") else w).mode("append").save(dir)
    }
    written(s"$root/bloom", bloom = true)
    written(s"$root/plain", bloom = false)
    val probe = key(60000L) // lives in one late row group
    def lookup(dir: String) = spark.read.format(classOf[ManifestDataSource].getName)
      .load(dir).filter(col("cid") === probe).select("id", "cid")
    // control: same data without blooms — stats/dictionary cannot skip, every
    // row decodes (this also proves the dictionary fallback really happened)
    val plainRows = scanOutputRows(lookup(s"$root/plain"))
    assert(plainRows == n, s"control leaked skipping: $plainRows of $n")
    // blooms: the non-containing groups prove absence and never decode
    val bloomRows = scanOutputRows(lookup(s"$root/bloom"))
    assert(bloomRows <= n / 2, s"blooms did not skip row groups: $bloomRows of $n")
    assert(lookup(s"$root/bloom").collect().map(_.getLong(0)).toSeq == Seq(60000L))
  }

  /** All DSv2 scan descriptions of a plan, recursing through AQE wrappers
    * (AdaptiveSparkPlanExec is a LEAF for plain collect).
    */
  private def scanDescs(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scanDescs(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scanDescs(q.plan)
    case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      Seq(bs.scan.description())
    case other => other.children.flatMap(scanDescs)
  }

  test("metadata aggregates: COUNT/MIN/MAX pre-merge from manifest row counts and V2 " +
      "stats — zero footers opened, grouped and global, int finalization included") {
    import spark.implicits._
    val root = tempDir("manifest_metaagg")
    val tbl = s"$root/t"
    def append(rows: Seq[(Long, java.lang.Long, Int, String)]): Unit =
      rows.toDF("id", "q", "iv", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(Seq((1L, 10L, 5, "en"), (2L, null, 7, "en"), (3L, 30L, 1, "fr")))
    append(Seq((4L, null, 9, "en"), (5L, 50L, 2, "fr"), (6L, 60L, 8, "de")))
    val t = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    val grouped = t.groupBy("lang_p").agg(
      count(lit(1)).as("n"), count(col("q")).as("nq"),
      min(col("id")).as("mn"), max(col("id")).as("mx"),
      min(col("iv")).as("imn"), max(col("iv")).as("imx"))
    val desc = scanDescs(grouped.queryExecution.executedPlan).mkString("\n")
    assert(desc.contains("manifest_data_agg") && desc.contains("footerFiles=0") &&
      desc.contains("metaFiles=") && !desc.contains("metaFiles=0"), desc)
    val got = grouped.orderBy("lang_p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getInt(5), r.getInt(6))).toSeq
    assert(got == Seq(("de", 1L, 1L, 6L, 6L, 8, 8), ("en", 3L, 1L, 1L, 4L, 5, 9),
      ("fr", 2L, 2L, 3L, 5L, 1, 2)), got.toString)
    // global (no grouping): one pre-merged synthetic partial
    val global = t.agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("iv")).as("mx"))
    val gdesc = scanDescs(global.queryExecution.executedPlan).mkString("\n")
    assert(gdesc.contains("footerFiles=0") && gdesc.contains("metaGroups="), gdesc)
    val g = global.head()
    assert((g.getLong(0), g.getLong(1), g.getInt(2)) == ((6L, 1L, 9)), g.toString)
    // an ALL-NULL column aggregates to null from metadata (empty bounds, exact nulls)
    val tbl2 = s"$root/t2"
    Seq((1L, null: java.lang.Long, "en"), (2L, null: java.lang.Long, "en"))
      .toDF("id", "v", "lang_p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p").mode("append").save(tbl2)
    val t2 = spark.read.format(classOf[ManifestDataSource].getName).load(tbl2)
    val nn = t2.agg(min(col("v")).as("mn"), count(col("v")).as("nv"))
    assert(scanDescs(nn.queryExecution.executedPlan).mkString.contains("footerFiles=0"))
    val r2 = nn.head()
    assert(r2.isNullAt(0) && r2.getLong(1) == 0L, r2.toString)
  }

  test("metadata aggregates: entries without recorded row counts fall back to footers " +
      "PER FILE; the mixed merge stays exact") {
    import spark.implicits._
    val root = tempDir("manifest_metaagg_mixed")
    val tbl = s"$root/t"
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(Seq((1L, "en"), (2L, "fr")))
    append(Seq((3L, "en"), (4L, "de")))
    // age ONE commit's segment to the pre-feature format: strip the rows field and
    // the stats attribute — exactly what entries written before the feature look like
    val segs = Files.list(Paths.get(tbl, "_manifests")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("seg-")).toSeq.sortBy(_.toString)
    assert(segs.size == 2, segs.toString)
    val aged = new String(Files.readAllBytes(segs.head), StandardCharsets.UTF_8)
      .replaceAll(""",\s*"rows":\s*\d+""", "")
      .replaceAll(""",\s*"stats":\s*"[^"]*"""", "")
    Files.write(segs.head, aged.getBytes(StandardCharsets.UTF_8))
    val entries = ManifestTables.readLatest(tbl)
    assert(entries.count(_.rows < 0) == 2 && entries.count(_.rows >= 0) == 2,
      entries.map(e => s"${e.path}:${e.rows}").mkString(","))
    val t = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
    val agg = t.agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    val desc = scanDescs(agg.queryExecution.executedPlan).mkString("\n")
    assert(desc.contains("metaFiles=2") && desc.contains("footerFiles=2"), desc)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 1L, 4L)), r.toString)
  }

  test("metadata aggregates stay EXACT through merge-on-read delete + compaction: the " +
      "compacted entry's stats re-derive from ITS footer, never merged input bounds") {
    import spark.implicits._
    val root = tempDir("manifest_metaagg_compact")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def append(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "lang_p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName)
        .option("partcol", "lang_p").mode("append").save(tbl)
    append(Seq((1L, "en"), (2L, "en")))
    append(Seq((9L, "en"), (10L, "en")))
    spark.conf.set("spark.sql.catalog.graft_maggc", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_maggc.warehouse", wh)
    spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
    try spark.sql("DELETE FROM graft_maggc.ns.t WHERE id = 10")
    finally spark.conf.unset("spark.graft.manifest.deleteMode")
    def aggOf() = spark.read.format(classOf[ManifestDataSource].getName).load(tbl)
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    // pending MoR delete: the aggregate must NOT push (metadata predates the delete)
    val before = scanDescs(aggOf().queryExecution.executedPlan).mkString("\n")
    assert(!before.contains("manifest_data_agg"), before)
    assert(ManifestMaintenance.compactDataFiles(spark, tbl, 1L << 30).isDefined)
    // compaction folded the delete; the pushed agg answers from metadata and the
    // deleted extreme row (id=10) must be GONE from the answer — a merged input
    // bound would still claim max=10 here
    val agg = aggOf()
    val after = scanDescs(agg.queryExecution.executedPlan).mkString("\n")
    assert(after.contains("manifest_data_agg") && after.contains("footerFiles=0"), after)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1)) == ((3L, 9L)), r.toString)
    // the compacted entry carries the exact post-delete row count
    val e = ManifestTables.readLatest(tbl)
    assert(e.size == 1 && e.head.rows == 3, e.map(x => s"${x.path}:${x.rows}").mkString(","))
  }

  test("hidden partitioning: hours(ts) and months(ts) complete the time-granularity " +
      "family — routing, range pruning, SQL PARTITIONED BY, evolution") {
    import graft.sources.{ManifestTables => MT}
    // unit sanity: months since epoch is the Iceberg month transform
    assert(MT.PartTransforms.monthsSinceEpoch(java.time.LocalDate.of(1970, 1, 1)) == 0)
    assert(MT.PartTransforms.monthsSinceEpoch(java.time.LocalDate.of(1971, 2, 15)) == 13)
    assert(MT.PartTransforms.epochHourOfMicros(3600000000L * 7 + 5) == 7)
    // 3 CALENDAR months (31-day strides: Jan 1 / Feb 1 / Mar 4 1970) x 10 hours
    val df = spark.range(300).select(
      expr("timestamp_seconds(86400 * 31 * cast(id % 3 as bigint) + " +
        "3600 * cast(id % 10 as bigint))").as("ts"),
      col("id").as("n"))
    val t1 = tempDir("manifest_hours").toString
    df.coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "hours(ts)").mode("overwrite").save(t1)
    assert(dataTable(t1).schema.fieldNames.toSet == Set("ts", "n"))
    val total = inputPartitionCount(dataTable(t1).select("n"))
    assert(total == 30, s"expected 30 hour partitions, got $total")
    // ts >= hour 5 of month 0 prunes month-0 hours 0-4's files entirely
    val cut = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(5 * 3600))
    val q = dataTable(t1).filter(col("ts") >= lit(cut))
    val planned = inputPartitionCount(q.select("n"))
    assert(planned == 25, s"hour-range pruning expected 25 of $total, got $planned")
    assert(q.count() == df.filter(col("ts") >= lit(cut)).count())
    // months through SQL CREATE TABLE PARTITIONED BY + catalog function routing
    val wh = tempDir("manifest_months").toString
    spark.conf.set("spark.sql.catalog.hmcat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.hmcat.warehouse", wh)
    try {
      spark.sql("CREATE TABLE hmcat.ev (ts TIMESTAMP_NTZ, n BIGINT) " +
        "PARTITIONED BY (months(ts))")
      df.selectExpr("CAST(ts AS TIMESTAMP_NTZ) AS ts", "n")
        .writeTo("hmcat.ev").option("distribute", "true").append()
      val entries = ManifestMaintenance.liveDataFiles(s"$wh/ev")
      assert(entries.length == 3 &&
        entries.map(_._3).toSet == Set("0", "1", "2"), entries.mkString(","))
      // a month-range predicate prunes whole files; the cut sits INSIDE month
      // 1's data range so footer stats cannot also prune the month-1 file (the
      // test isolates the month-transform pruning)
      val cut2 = java.time.LocalDateTime.ofEpochSecond(31L * 86400 + 2 * 3600, 0,
        java.time.ZoneOffset.UTC)
      val q2 = spark.sql(s"SELECT sum(n) AS s FROM hmcat.ev WHERE ts >= " +
        s"TIMESTAMP_NTZ '2970-01-01 00:00:00'") // sanity: empty month range
      assert(q2.head().isNullAt(0))
      val byMonth = spark.table("hmcat.ev").filter(col("ts") >= lit(cut2))
      assert(inputPartitionCount(byMonth.select("n")) == 2,
        "month-range pruning expected 2 of 3 files")
      assert(byMonth.count() == df.filter(col("ts") >= lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(31L * 86400 + 2 * 3600)))).count())
      // evolution composes: a new hours field on the months table
      ManifestMaintenance.addPartitionField(s"$wh/ev", "hours(ts)")
      df.selectExpr("CAST(ts AS TIMESTAMP_NTZ) AS ts", "CAST(n + 1000 AS BIGINT) AS n")
        .coalesce(1).write.format(classOf[ManifestDataSource].getName)
        .mode("append").save(s"$wh/ev")
      val all = spark.table("hmcat.ev")
      assert(all.count() == 600)
      val q3 = all.filter(col("ts") >= lit(cut2))
      assert(q3.count() == 2 * df.filter(col("ts") >= lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(31L * 86400 + 2 * 3600)))).count())
    } finally {
      spark.conf.unset("spark.sql.catalog.hmcat")
      spark.conf.unset("spark.sql.catalog.hmcat.warehouse")
    }
    // years(ts): 3 years x 20 rows, range pruning in whole years
    assert(MT.PartTransforms.yearsSinceEpoch(java.time.LocalDate.of(1972, 6, 1)) == 2)
    val ydf = spark.range(60).select(
      expr("timestamp_seconds(86400 * 365 * cast(id % 3 as bigint) + " +
        "3600 * cast(id as bigint))").as("ts"), col("id").as("n"))
    val t2 = tempDir("manifest_years").toString
    ydf.coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "years(ts)").mode("overwrite").save(t2)
    assert(ManifestTables.readLatest(t2).map(_.partition).toSet == Set("0", "1", "2"))
    val ycut = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(365L * 86400 + 7 * 3600))
    val yq = dataTable(t2).filter(col("ts") >= lit(ycut))
    assert(inputPartitionCount(yq.select("n")) == 2, "year-range pruning expected 2 of 3")
    assert(yq.count() == ydf.filter(col("ts") >= lit(ycut)).count())
  }

  // ------------------------------------------------- PARTITION SPEC EVOLUTION

  test("partition evolution: ADD PARTITION FIELD bucket(4,user_id) — old files " +
      "stay readable and un-prunable by the new field, new files prune, answers exact") {
    val tbl = tempDir("manifest_evolve_add").toString
    // generations split by row id, NOT by user_id: both halves carry every
    // user_id, so footer-stats pruning can never remove a whole generation and
    // the test isolates the per-spec bucket-pruning behavior
    def evDf(lo: Int, hi: Int) = spark.range(lo, hi).select(
      expr("timestamp_seconds(86400 * cast(id % 4 as bigint) + id)").as("ts"),
      (col("id") % 40).as("user_id"),
      concat(lit("m"), col("id")).as("msg"))
    val gen1 = evDf(0, 200)
    val gen2 = evDf(200, 400)
    gen1.write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts)").mode("overwrite").save(tbl)
    val gen1Files = ManifestTables.readLatest(tbl).size
    val preRespec = ManifestTables.latestSnapshotId(tbl).get
    ManifestMaintenance.addPartitionField(tbl, "bucket(4,user_id)")
    // appends inherit the evolved spec without re-stating it
    gen2.write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    // registry: both specs registered, gen-1 entries stamped with the OLD spec id
    assert(ManifestTables.listSpecIds(tbl) == Seq(1, 2))
    assert(ManifestTables.readSpecFile(tbl, 1).map(_.name) == Seq("ts_day"))
    assert(ManifestTables.readSpecFile(tbl, 2).map(_.name) == Seq("ts_day", "user_id_bucket4"))
    val entries = ManifestTables.readLatest(tbl)
    assert(entries.count(_.specId == 1) == gen1Files, "gen-1 entries must be stamped")
    assert(entries.exists(_.specId == 0), "gen-2 entries ride implicit (default) spec")
    // full fidelity across the straddle
    val df = dataTable(tbl)
    assert(df.count() == 400)
    val total = inputPartitionCount(df.select("msg"))
    assert(total == entries.size)
    // a bucket predicate targeting a GEN-2 user prunes gen-2 files but must keep
    // every gen-1 file (their spec predates the field)
    val byUser = df.filter(col("user_id") === 25L)
    val userFiles = inputPartitionCount(byUser.select("msg"))
    assert(userFiles < total && userFiles >= gen1Files,
      s"total=$total gen1=$gen1Files planned=$userFiles")
    assert(byUser.count() == hiddenEventsDf.filter(col("user_id") === 25L).count())
    // a gen-1 user's rows all survive (would vanish if old files were pruned)
    assert(df.filter(col("user_id") === 7L).count() ==
      hiddenEventsDf.filter(col("user_id") === 7L).count())
    // day ranges prune BOTH generations (both specs carry days(ts))
    val t2 = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2 * 86400))
    val byDay = df.filter(col("ts") >= lit(t2))
    assert(inputPartitionCount(byDay.select("msg")) < total)
    assert(byDay.count() == hiddenEventsDf.filter(col("ts") >= lit(t2)).count())
    // time travel BEFORE the evolution serves gen-1 under its own spec
    val tt = spark.read.format(classOf[ManifestDataSource].getName)
      .option("snapshot", preRespec.toString).load(tbl)
    assert(tt.count() == gen1.count())
    // incremental read across the respec snapshot: exactly the gen-2 delta
    val inc = spark.read.format(classOf[ManifestDataSource].getName)
      .option("startSnapshot", preRespec.toString).load(tbl)
    assert(inc.count() == gen2.count())
  }

  test("partition evolution: an UNPARTITIONED table gains days(ts); old files are " +
      "never pruned, new files prune; DROP PARTITION FIELD returns to unpartitioned") {
    val tbl = tempDir("manifest_evolve_unpart").toString
    val gen1 = hiddenEventsDf.limit(200)
    gen1.coalesce(2).write.format(classOf[ManifestDataSource].getName)
      .mode("overwrite").save(tbl)
    val gen1Files = ManifestTables.readLatest(tbl).size
    ManifestMaintenance.addPartitionField(tbl, "days(ts)")
    hiddenEventsDf.write.format(classOf[ManifestDataSource].getName)
      .mode("append").save(tbl)
    val df = dataTable(tbl)
    assert(df.count() == 600)
    val total = inputPartitionCount(df.select("msg"))
    val t3 = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3 * 86400))
    val byDay = df.filter(col("ts") >= lit(t3))
    val dayFiles = inputPartitionCount(byDay.select("msg"))
    assert(dayFiles < total && dayFiles >= gen1Files,
      s"total=$total gen1=$gen1Files planned=$dayFiles")
    assert(byDay.count() == gen1.filter(col("ts") >= lit(t3)).count() +
      hiddenEventsDf.filter(col("ts") >= lit(t3)).count())
    // drop the field again: a THIRD spec (empty) becomes the default
    ManifestMaintenance.dropPartitionField(tbl, "days(ts)")
    assert(ManifestTables.readPartitionSpec(tbl).isEmpty)
    hiddenEventsDf.limit(50).coalesce(1)
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    val df2 = dataTable(tbl)
    assert(df2.count() == 650)
    assert(df2.filter(col("ts") >= lit(t3)).count() ==
      gen1.filter(col("ts") >= lit(t3)).count() +
        hiddenEventsDf.filter(col("ts") >= lit(t3)).count() +
        hiddenEventsDf.limit(50).filter(col("ts") >= lit(t3)).count())
  }

  test("partition evolution: a LEGACY-bootstrap table (inline commit entries, no " +
      "rows/seq fields) stamps and evolves — the sparse entry JSON round-trips") {
    val out = freshTable() // ManifestTables.commit bootstrap: legacy inline entries
    val before = dataTable(out).count()
    ManifestMaintenance.addPartitionField(out, "bucket(4,doc_id)")
    val entries = ManifestTables.readLatest(out)
    assert(entries.nonEmpty && entries.forall(_.specId == 1),
      entries.map(e => s"${e.path}:${e.specId}").mkString(","))
    assert(entries.forall(e => e.rows < 0 && e.seq < 0), "legacy fields must stay absent")
    // reads, identity pruning, and post-evolution appends all still work
    assert(dataTable(out).count() == before)
    val en = dataTable(out).filter(col("lang_p") === "en")
    assert(inputPartitionCount(en.select("doc_id")) <
      inputPartitionCount(dataTable(out).select("doc_id")))
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("lang_p", col("lang")).limit(50).coalesce(1)
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(out)
    assert(dataTable(out).count() == before + 50)
    assert(dataTable(out).filter(col("doc_id") === 7L).count() ==
      dataTable(out).collect().count(_.getAs[Long]("doc_id") == 7L))
  }

  test("partition evolution: identity fields, duplicates, and unknown sources refuse") {
    val tbl = tempDir("manifest_evolve_refuse").toString
    hiddenEventsDf.withColumn("lang_p", lit("en"))
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "lang_p,days(ts)").mode("overwrite").save(tbl)
    // identity add refuses (layout of identity columns is fixed); msg is a
    // string column, so it parses as a legal identity token and reaches the
    // evolution-specific refusal rather than the type check
    val e1 = intercept[IllegalArgumentException] {
      ManifestMaintenance.addPartitionField(tbl, "msg") }
    assert(e1.getMessage.contains("identity"), e1.getMessage)
    // identity drop refuses (values exist only in the manifest)
    val e2 = intercept[IllegalArgumentException] {
      ManifestMaintenance.dropPartitionField(tbl, "lang_p") }
    assert(e2.getMessage.contains("identity"), e2.getMessage)
    // duplicate field refuses
    val e3 = intercept[IllegalArgumentException] {
      ManifestMaintenance.addPartitionField(tbl, "days(ts)") }
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
    // unknown source column refuses
    val e4 = intercept[IllegalArgumentException] {
      ManifestMaintenance.addPartitionField(tbl, "bucket(4,nope)") }
    assert(e4.getMessage.contains("missing"), e4.getMessage)
    // dropping an absent field refuses
    val e5 = intercept[IllegalArgumentException] {
      ManifestMaintenance.dropPartitionField(tbl, "bucket(8,user_id)") }
    assert(e5.getMessage.contains("no partition field"), e5.getMessage)
  }

  test("partition evolution: compaction on a spec-straddled table stays " +
      "spec-homogeneous per bin; answers and pruning survive") {
    val tbl = tempDir("manifest_evolve_compact").toString
    val gen1 = hiddenEventsDf.filter(col("user_id") < 20L)
    val gen2 = hiddenEventsDf.filter(col("user_id") >= 20L)
    gen1.repartition(4).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts)").mode("overwrite").save(tbl)
    ManifestMaintenance.addPartitionField(tbl, "bucket(4,user_id)")
    gen2.repartition(4).write.format(classOf[ManifestDataSource].getName)
      .mode("append").save(tbl)
    val want = dataTable(tbl).orderBy("msg").collect().toSeq
    val compacted = ManifestMaintenance.compactDataFiles(spark, tbl, 64L * 1024 * 1024)
    assert(compacted.isDefined, "straddled table had multi-file bins to pack")
    // every surviving entry's partition value parses under ITS OWN spec
    val specOf = ManifestTables.specResolver(tbl, ManifestTables.readPartitionSpec(tbl))
    ManifestTables.readLatest(tbl).foreach { e =>
      ManifestDataSource.splitPartValues(e.partition, specOf(e).length) // throws on mix-up
    }
    val df = dataTable(tbl)
    assert(df.orderBy("msg").collect().toSeq == want, "compaction moved answers")
    // pruning still exact after the rewrite
    val byUser = df.filter(col("user_id") === 25L)
    assert(byUser.count() == hiddenEventsDf.filter(col("user_id") === 25L).count())
    assert(inputPartitionCount(byUser.select("msg")) <
      inputPartitionCount(df.select("msg")))
  }

  test("partition evolution: a running stream rides through ADD PARTITION FIELD " +
      "without restart; rows cross exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tempDir("manifest_evolve_stream")
    val tbl = s"$root/t"
    def append(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("user_id", "msg").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    append((1L, "a"), (2L, "b"))
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format(classOf[ManifestDataSource].getName)
        .load(tbl).writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    ManifestMaintenance.addPartitionField(tbl, "bucket(4,user_id)")
    append((3L, "c"), (4L, "d"))
    drain() // same checkpoint: the respec span contributes nothing, the append flows
    val got = spark.read.parquet(sink).select("msg").collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("a", "b", "c", "d"), got.mkString(","))
  }

  test("partition evolution: the .specs metadata table lists the registry with " +
      "the default flagged; a never-evolved table shows its one spec as id 0") {
    val root = tempDir("manifest_specs_meta")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    hiddenEventsDf.coalesce(1).write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "days(ts)").mode("overwrite").save(tbl)
    spark.conf.set("spark.sql.catalog.specscat", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.specscat.warehouse", wh)
    try {
      def rows() = spark.sql("SELECT * FROM specscat.ns.t.specs ORDER BY spec_id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSeq
      assert(rows() == Seq((0, "days(ts)", true)), rows().mkString(","))
      ManifestMaintenance.addPartitionField(tbl, "bucket(4,user_id)")
      assert(rows() == Seq((1, "days(ts)", false),
        (2, "days(ts),bucket(4,user_id)", true)), rows().mkString(","))
      ManifestMaintenance.dropPartitionField(tbl, "user_id_bucket4")
      // the drop re-registers nothing (content-dedupe): spec 1 is default again
      assert(rows() == Seq((1, "days(ts)", true),
        (2, "days(ts),bucket(4,user_id)", false)), rows().mkString(","))
    } finally {
      spark.conf.unset("spark.sql.catalog.specscat")
      spark.conf.unset("spark.sql.catalog.specscat.warehouse")
    }
  }

  test("partition evolution: copy-on-write row-level DML on a spec-straddled table " +
      "rewrites matched files under the current spec; answers stay exact") {
    import spark.implicits._
    val root = tempDir("manifest_evolve_cow")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"), (4L, 40L, "b"))
      .toDF("id", "v", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("partcol", "p").mode("overwrite").save(tbl)
    ManifestMaintenance.addPartitionField(tbl, "bucket(2,id)")
    Seq((5L, 50L, "a"), (6L, 60L, "b")).toDF("id", "v", "p").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName).mode("append").save(tbl)
    spark.conf.set("spark.sql.catalog.evocow", classOf[ManifestCatalog].getName)
    spark.conf.set("spark.sql.catalog.evocow.warehouse", wh)
    try {
      // the UPDATE's rewrite touches a gen-1 (old-spec) and a gen-2 file at once
      spark.sql("UPDATE evocow.ns.t SET v = v + 1000 WHERE id IN (1, 5)")
      val got = dataTable(tbl).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(got == Seq((1L, 1010L, "a"), (2L, 20L, "b"), (3L, 30L, "a"),
        (4L, 40L, "b"), (5L, 1050L, "a"), (6L, 60L, "b")), got.mkString(","))
      spark.sql("DELETE FROM evocow.ns.t WHERE id = 3")
      assert(dataTable(tbl).count() == 5)
    } finally {
      spark.conf.unset("spark.sql.catalog.evocow")
      spark.conf.unset("spark.sql.catalog.evocow.warehouse")
    }
  }

  test("partition evolution: a WAP write staged BEFORE a respec still publishes " +
      "(delta stamped with its own spec id); cherry-pick composes the same way") {
    import spark.implicits._
    val root = tempDir("manifest_evolve_wap")
    val wh = s"$root/wh"; val tbl = s"$wh/ns/t"
    def write(rows: Seq[(Long, Long, String)], mode: String,
        wap: Option[String] = None): Unit = {
      val w = rows.toDF("id", "v", "p").coalesce(1)
        .write.format(classOf[ManifestDataSource].getName).mode(mode)
      val w2 = if (ManifestTables.latestSnapshotId(tbl).isEmpty || mode == "overwrite")
        w.option("partcol", "p") else w
      wap.fold(w2)(w2.option("wapId", _)).save(tbl)
    }
    write(Seq((1L, 10L, "a"), (2L, 20L, "b")), "overwrite")
    // stage under [p], then EVOLVE the live table to [p, bucket(2,id)]
    write(Seq((3L, 30L, "a")), "append", wap = Some("we1"))
    ManifestMaintenance.addPartitionField(tbl, "bucket(2,id)")
    write(Seq((4L, 40L, "b")), "append") // lands under the evolved spec
    val pub = ManifestTables.publishStaged(tbl, "we1")
    assert(pub > 0)
    val got = dataTable(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"), (4L, 40L, "b")),
      got.mkString(","))
    // the published delta is stamped with the PRE-evolution spec's id, so an
    // identity predicate still prunes it exactly and a bucket predicate keeps it
    assert(dataTable(tbl).filter(col("p") === "a").count() == 2)
    assert(dataTable(tbl).filter(col("id") === 3L).count() == 1)
    // cherry-pick across the respec: roll back past the publish, pick it again
    val head = ManifestTables.latestSnapshotId(tbl).get
    ManifestTables.rollbackTo(tbl, head - 1) // undo the publish
    assert(dataTable(tbl).count() == 3)
    val picked = ManifestTables.cherrypick(tbl, head)
    assert(picked > head)
    assert(dataTable(tbl).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("partition evolution: equality-delete upsert ordering survives a respec " +
      "(post-respec upsert erases pre-respec rows by key)") {
    import spark.implicits._
    val tbl = tempDir("manifest_evolve_eqd").toString
    Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "v").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName).mode("overwrite").save(tbl)
    ManifestMaintenance.addPartitionField(tbl, "bucket(2,id)")
    Seq((2L, "new2"), (4L, "new4")).toDF("id", "v").coalesce(1)
      .write.format(classOf[ManifestDataSource].getName)
      .option("upsertkey", "id").mode("append").save(tbl)
    val got = dataTable(tbl).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "old1"), (2L, "new2"), (3L, "old3"), (4L, "new4")),
      got.mkString(","))
  }
}
