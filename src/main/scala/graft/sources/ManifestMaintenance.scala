package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Data-file COMPACTION for manifest tables — the `rewrite_data_files` analog to
  * `ManifestTables.compact`'s `rewrite_manifests`. The small-file problem is the
  * canonical failure mode of streaming/append-heavy tables at scale: a 100 TB table
  * fed by per-micro-batch commits accumulates millions of KB-sized parquet files,
  * and every scan pays one footer open + one InputPartition per file. Compaction
  * bin-packs small files of the SAME partition into consolidated files and publishes
  * the swap as one atomic snapshot edit:
  *
  *  - files are packed greedily, in manifest order, into bins of at most
  *    `targetBytes`; only bins holding >= 2 files are rewritten (a lone small file
  *    or any file already near target size is carried unchanged);
  *  - each bin is read through Spark WITH THE AUTHORITATIVE table schema, so a bin
  *    spanning pre- and post-ALTER files materializes the evolved columns (nulls
  *    for legacy rows) — compaction and schema evolution compose;
  *  - the rewritten snapshot is published with the same optimistic-concurrency CAS
  *    as every other commit; concurrent APPENDS are preserved (their entries are
  *    re-read on each attempt), while a concurrent OVERWRITE/DELETE that removed
  *    any source file ABORTS the compaction (publishing would resurrect deleted
  *    rows — Iceberg's serializable-validation rule), cleaning up its output;
  *  - old snapshots still reference the original small files (time travel is
  *    untouched); the physical bytes are reclaimed later by `expireSnapshots` +
  *    `removeOrphans`, the same lifecycle as overwrite and DELETE.
  *
  * Reference behavior: dynatrace-oss/index4j has no table maintenance surface; this
  * follows the published Iceberg/Delta OPTIMIZE design (bin-pack rewrite + snapshot
  * swap) re-expressed on this repo's manifest layout.
  */
object ManifestMaintenance {

  /** Live data files of the current snapshot: (relative path, bytes, joined
    * partition value) — the public maintenance view (file counts before/after
    * compaction, fragmentation monitoring) without exposing manifest internals.
    */
  def liveDataFiles(dir: String): Seq[(String, Long, String)] =
    ManifestTables.readSnapshot(dir, None).map(e => (e.path, e.bytes, e.partition))

  /** Positional-delete segment names of the current snapshot — the public
    * maintenance view of merge-on-read delete fragmentation (one segment per MoR
    * DELETE/UPDATE commit until [[rewritePositionDeletes]] or compaction folds them).
    */
  def positionalDeleteSegments(dir: String): Seq[String] =
    ManifestTables.readSnapshotRefs(dir, None).deletes

  /** POSITION-DELETE compaction (Iceberg's `rewrite_position_delete_files`): merges
    * the accumulated merge-on-read positional-delete segments into ONE consolidated
    * segment and drops DANGLING positions (references to data files no longer live —
    * left behind by partition DELETEs / overwrites / compactions of other files). A
    * metadata-only rewrite: no data file is read or written, answers never move — a
    * streaming MoR workload commits one delete segment per micro-batch, and until
    * this folds them every scan pays one segment open per commit. Returns the new
    * snapshot id; None when there is nothing to fold (fewer than two segments and no
    * dangling positions) or a concurrent commit invalidated the plan (re-run then).
    */
  def rewritePositionDeletes(dir: String): Option[Int] = {
    val planRefs = ManifestTables.readSnapshotRefs(dir, None)
    val livePaths = ManifestTables.entriesOf(dir, planRefs).map(_.path).toSet
    val perSeg = planRefs.deletes.map(d => ManifestTables.readDeleteSegment(dir, d))
    val dangling = perSeg.exists(_.keysIterator.exists(p => !livePaths.contains(p)))
    if (perSeg.length < 2 && !dangling) return None
    // union of positions per live file; sorted+distinct (writeDeleteSegment's own
    // normal form), dangling paths dropped
    val merged: Map[String, Seq[Long]] = perSeg.flatMap(_.toSeq)
      .groupBy(_._1).collect { case (p, kvs) if livePaths.contains(p) =>
        p -> kvs.flatMap(_._2).distinct.sorted.toSeq }
    val newDeletes =
      if (merged.isEmpty) Nil else Seq(ManifestTables.writeDeleteSegment(dir, merged))
    var attempt = 0
    while (true) {
      val refs = ManifestTables.readSnapshotRefs(dir, None)
      // serializable validation: a NEW delete segment landing mid-rewrite would be
      // silently dropped by publishing the stale merge; a file-set change (append,
      // overwrite, compaction) invalidates the dangling classification. Abort on
      // either — this op is cheap to re-run on the fresh state.
      if (refs.deletes != planRefs.deletes || refs.eqDeletes != planRefs.eqDeletes ||
          ManifestTables.entriesOf(dir, refs).map(_.path).toSet != livePaths) {
        newDeletes.foreach(d => try Files.deleteIfExists(Paths.get(dir, "_manifests", d))
          catch { case _: Exception => })
        return None
      }
      val next = refs.snapshot + 1 // pin from the refs already read (CAS ordering rule)
      if (ManifestTables.tryWriteSnapshotRefs(dir, ManifestTables.readPartitionColumn(dir),
          refs.inline, refs.segments, next,
          partTypes = ManifestTables.readPartitionTypes(dir), schemaDdl = refs.schemaDdl,
          deletes = newDeletes, eqDeletes = refs.eqDeletes,
          colIds = refs.colIds, operation = "rewrite-deletes")) {
        return Some(next)
      }
      attempt += 1
      if (attempt >= 64) {
        throw new IllegalStateException(
          s"rewritePositionDeletes on $dir lost the snapshot race $attempt times")
      }
      Thread.sleep(math.min(1000L, 20L * attempt) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
    }
    None // unreachable
  }

  /** One rewritten bin: the source entries it replaces and the replacement entry. */
  private case class Rewrite(sources: Seq[ManifestTables.Entry], replacement: ManifestTables.Entry)

  /** Bin-packs and rewrites small data files; returns the new snapshot id, or None
    * when no partition holds a packable bin (the table is left untouched — no
    * snapshot is published). `targetBytes` is both the pack bound and the "already
    * big enough" cutoff. `onlyPartitions` scopes the rewrite to the named (joined)
    * partition values — Iceberg's `rewrite_data_files(where => ...)`: at 100 TB a
    * table is never compacted whole; the streaming-fed HOT partition compacts on a
    * tight loop while cold history stays untouched (and uncharged).
    */
  def compactDataFiles(spark: SparkSession, dir: String, targetBytes: Long,
      onlyPartitions: Option[Set[String]] = None): Option[Int] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val partCols = ManifestTables.readPartitionSpec(dir)
    val schema = ManifestDataSource.tableSchema(dir)
    require(schema.nonEmpty, s"no committed schema under $dir — nothing to compact")
    val dataSchema = StructType(schema.filterNot(f => partCols.exists(_.name == f.name)))
    val planRefs = ManifestTables.readSnapshotRefs(dir, None)
    val entries = ManifestTables.entriesOf(dir, planRefs)
    // merge-on-read: positional AND equality deletes APPLY during the rewrite (a
    // compaction that copied deleted rows into the replacement would resurrect
    // them) and their segments fold away once no live file depends on them
    val deleted = ManifestTables.deletedPositions(dir, planRefs)
    val eqDels = ManifestTables.resolvedEqDeletes(dir, planRefs)
    def eqApplies(e: ManifestTables.Entry): Boolean =
      eqDels.exists(d => ManifestTables.seqOf(e) < d.seq)

    // pack per (SPEC, partition), in manifest order (stable, deterministic given a
    // snapshot): under partition evolution the same joined value can mean
    // different layouts, and a bin must stay spec-homogeneous — its replacement
    // entry inherits the group's spec id, so the compacted file keeps routing and
    // pruning exactly as its sources did. A file with recorded deletes always
    // packs (even alone): folding the delete is itself the maintenance win
    val binsToRewrite = entries.groupBy(e => (e.specId, e.partition)).toSeq
      .sortBy(_._1)
      .filter { case ((_, joined), _) => onlyPartitions.forall(_.contains(joined)) }
      .flatMap { case ((specId, joined), es) =>
        // the bin's directory layout and value split follow the GROUP's spec,
        // not the table's current default (they may differ under evolution)
        val groupSpec =
          if (specId == 0) partCols else ManifestTables.readSpecFile(dir, specId)
        packBins(es, targetBytes)
          .filter(bin => bin.length >= 2 ||
            bin.exists(e => deleted.contains(e.path) || eqApplies(e)))
          .map(bin => (specId, joined, groupSpec, bin))
      }
    // independent bins rewrite concurrently (guide §2.6 back-fill)
    val rewrites: Seq[Rewrite] = mapConcurrently(binsToRewrite) {
      case (specId, joined, groupSpec, bin) =>
        Rewrite(bin, rewriteBin(spark, dir, groupSpec, dataSchema, joined, bin,
          deleted, eqDels, planRefs.colIds).copy(specId = specId))
    }
    if (rewrites.isEmpty) return None

    val replaced: Map[String, ManifestTables.Entry] =
      rewrites.flatMap(r => r.sources.map(e => e.path -> r.replacement)).toMap
    def cleanup(): Unit = rewrites.foreach { r =>
      try Files.deleteIfExists(Paths.get(dir, r.replacement.path))
      catch { case _: Exception => }
    }

    // CAS publication: re-read per attempt so concurrent appends survive; abort if
    // any source file left the table meanwhile (overwrite/delete raced us)
    var attempt = 0
    while (true) {
      val refs = ManifestTables.readSnapshotRefs(dir, None)
      val current = ManifestTables.entriesOf(dir, refs)
      val present = current.map(_.path).toSet
      if (!replaced.keysIterator.forall(present.contains)) {
        cleanup()
        return None // a concurrent overwrite/DELETE removed a source file
      }
      // serializable validation: a positional delete committed AFTER the bins were
      // read would be silently undone if its target file was rewritten from the
      // stale read — abort and let the caller re-run on the fresh state. An
      // EQUALITY delete landing after planning targets every pre-existing file by
      // definition — same abort (conservative and correct).
      val newDels = refs.deletes.filterNot(planRefs.deletes.contains)
      if (newDels.exists(d => ManifestTables.readDeleteSegment(dir, d)
          .keysIterator.exists(replaced.contains)) ||
          refs.eqDeletes.exists(e => !planRefs.eqDeletes.contains(e))) {
        cleanup()
        return None
      }
      // pin the target id from the refs already read: a concurrent commit must
      // claim this same id first, failing our CAS (a fresh latest-id read here
      // could silently absorb a commit our entry list never saw)
      val next = refs.snapshot + 1
      // each source entry collapses into its bin's replacement (data sequence =
      // the claimed id: the rewrite APPLIED every older delete), emitted once at
      // the position of the bin's FIRST file; everything else carries unchanged
      val emitted = scala.collection.mutable.HashSet.empty[String]
      val newEntries = current.flatMap { e =>
        replaced.get(e.path) match {
          case None => Some(e)
          case Some(rep) => if (emitted.add(rep.path)) Some(rep.copy(seq = next)) else None
        }
      }
      val seg = ManifestTables.writeSegment(dir, newEntries)
      // delete segments fold away once every path they reference left the table
      // (their positions were APPLIED in the rewrites); segments still touching a
      // live (un-rewritten) file carry forward. Equality-delete segments fold the
      // same way once no live file is older than them.
      val livePaths = newEntries.map(_.path).toSet
      val liveDels = refs.deletes.filter(d =>
        ManifestTables.readDeleteSegment(dir, d).keysIterator.exists(livePaths.contains))
      if (ManifestTables.tryWriteSnapshotRefs(dir, ManifestTables.readPartitionColumn(dir),
          Nil, Seq(seg), next,
          partTypes = ManifestTables.readPartitionTypes(dir), schemaDdl = refs.schemaDdl,
          deletes = liveDels,
          eqDeletes = ManifestTables.liveEqDeletes(dir, refs.eqDeletes, newEntries),
          colIds = refs.colIds, operation = "compact")) {
        return Some(next)
      }
      attempt += 1
      if (attempt >= 64) { // same bound as the write path: fail loudly, never hang
        cleanup()
        throw new IllegalStateException(s"compaction on $dir lost the snapshot race $attempt times")
      }
      Thread.sleep(math.min(1000L, 20L * attempt) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
    }
    None // unreachable
  }

  /** SORT-ORDER CLUSTERING rewrite (`rewrite_data_files` with a sort order — the
    * Z-order-lite half of the data-skipping story): every partition's rows are
    * globally re-sorted on `sortCols` and re-landed as ~`targetBytes` files with
    * DISJOINT key ranges, so the per-file min/max stats the scan prunes on become
    * maximally selective. Ingest order rarely matches query order — a table
    * appended by arrival time answers id/time-range queries by opening every
    * file; after clustering, a 1%-of-keyspace predicate opens ~1% of the files.
    * The new files are written by Spark (range repartition + in-partition sort),
    * so their stats derive from the parquet FOOTERS ([[ManifestStats.fromFooter]]);
    * positional deletes apply during the read and fold away; the swap publishes
    * under the same CAS + serializable validation as compaction. Returns the new
    * snapshot id, or None when the table is empty or a concurrent commit
    * invalidated the rewrite.
    */
  def clusterBy(spark: SparkSession, dir: String, sortCols: Seq[String],
      targetBytes: Long): Option[Int] = {
    require(sortCols.nonEmpty, "clusterBy needs at least one sort column")
    import org.apache.spark.sql.functions.col
    clusterRewrite(spark, dir, sortCols, targetBytes, { (df, nOut) =>
      df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    })
  }

  /** Z-ORDER clustering (multi-dimensional rewrite_data_files): each key column
    * normalizes to a 16-bit rank over its GLOBAL [min, max] (one agg over the
    * deletes-aware read), the ranks' bits INTERLEAVE into one BIGINT z-key, and the
    * rewrite range-sorts on it — so files end up range-disjoint in z-space and
    * range predicates on EVERY key column skip files, not just the first
    * (lexicographic clusterBy gives the second column nothing). Integer key
    * columns only (int/long/date); all-null or constant columns rank 0 and simply
    * stop contributing bits. Answers never move — it is a pure layout rewrite.
    */
  def zorderBy(spark: SparkSession, dir: String, zCols: Seq[String],
      targetBytes: Long): Option[Int] = {
    require(zCols.length >= 2 && zCols.length <= 3,
      s"zorderBy interleaves 2-3 columns, got ${zCols.length}")
    import org.apache.spark.sql.functions.{col, expr}
    val partCols = ManifestTables.readPartitionSpec(dir)
    val schema = ManifestDataSource.tableSchema(dir)
    require(schema.nonEmpty, s"no committed schema under $dir — nothing to cluster")
    zCols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column '$c' in ${schema.simpleString}"))
      require(Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.DateType).contains(f.dataType),
        s"zorder column '$c' must be int/long/date, got ${f.dataType}")
      require(!partCols.exists(_.name == c), s"zorder column '$c' is a partition column")
    }
    // global per-column bounds — the normalization denominators; 2 x |zCols|
    // driver values, bounded. Preferred source: the manifest's own per-file
    // min/max stats (zero data-file reads — the Iceberg metadata play); they
    // include rows deletes will drop during the rewrite, which only widens the
    // normalization range — the z-key drives LAYOUT only, answers never depend
    // on it. Fallback to one full deletes-applied scan when any live file lacks
    // a usable record for a z-column.
    val planRefs = ManifestTables.readSnapshotRefs(dir, None)
    val entries = ManifestTables.entriesOf(dir, planRefs)
    if (entries.isEmpty) return None
    val dataSchema = StructType(schema.filterNot(f => partCols.exists(_.name == f.name)))
    val statBounds: Option[Seq[(String, Long, Long)]] = {
      val per = entries.map(e => ManifestStats.parseRecs(e.stats))
      val cols = zCols.map { c =>
        val recs = per.map(_.get(c))
        val usable = recs.forall(r => r.exists(rec =>
          rec.kind == 'l' && rec.mn.nonEmpty && rec.mx.nonEmpty &&
            rec.mn.toLongOption.isDefined && rec.mx.toLongOption.isDefined))
        if (!usable) None
        else Some((c, recs.map(_.get.mn.toLong).min, recs.map(_.get.mx.toLong).max))
      }
      if (cols.forall(_.isDefined)) Some(cols.map(_.get)) else None
    }
    val bounds: Seq[(String, Long, Long)] = statBounds.getOrElse {
      val boundsRow = readFilesWithDeletes(rewriteSession(spark), dir, dataSchema, entries,
        ManifestTables.deletedPositions(dir, planRefs),
        ManifestTables.resolvedEqDeletes(dir, planRefs), planRefs.colIds)
        .selectExpr(zCols.flatMap(c =>
          Seq(s"min(CAST($c AS BIGINT)) AS __mn_$c", s"max(CAST($c AS BIGINT)) AS __mx_$c")): _*)
        .head()
      zCols.zipWithIndex.map { case (c, i) =>
        val mn = if (boundsRow.isNullAt(2 * i)) 0L else boundsRow.getLong(2 * i)
        val mx = if (boundsRow.isNullAt(2 * i + 1)) 0L else boundsRow.getLong(2 * i + 1)
        (c, mn, mx)
      }
    }
    val C = zCols.length
    // 16-bit normalized rank per column, then bit interleave: bit i of column c
    // lands at z-bit i*C + c. Disjoint bits, so + assembles them.
    val norms = bounds.map { case (c, mn, mx) =>
      // range computed in BigInt: mx - mn itself overflows a long when mn is
      // deeply negative
      val range = BigInt(mx) - BigInt(mn)
      if (range <= (BigInt(1) << 47)) {
        // exact integer path: range < 2^47 keeps (v - mn) * 65535 inside a long
        val r = math.max(1L, range.toLong)
        s"least(65535L, greatest(0L, ((CAST($c AS BIGINT) - ${mn}L) * 65535L) div ${r}L))"
      } else {
        // astronomic ranges (snowflake-style ids, epoch-micros-as-bigint): the
        // integer multiply would WRAP and silently destroy the layout (ranks
        // clamp to 0, files end up unclustered while the rewrite reports
        // success) — rank in double space instead. Precision loss moves bucket
        // edges by ~1 ulp of the range; the z-key only drives LAYOUT, answers
        // never depend on it.
        val step = (range.toDouble max 1.0) / 65536.0
        s"least(65535L, greatest(0L, CAST(floor((CAST($c AS DOUBLE) - " +
          s"CAST(${mn}L AS DOUBLE)) / CAST($step AS DOUBLE)) AS BIGINT)))"
      }
    }
    clusterRewrite(spark, dir, zCols, targetBytes, { (df, nOut) =>
      val withNorms = norms.zipWithIndex.foldLeft(df) { case (d, (n, c)) =>
        d.withColumn(s"__z_$c", expr(s"coalesce($n, 0L)"))
      }
      val zkey = (0 until 16).flatMap(i => (0 until C).map(c =>
        s"shiftleft(shiftright(__z_$c, $i) & 1L, ${i * C + c})")).mkString(" + ")
      withNorms.withColumn("__zkey", expr(zkey))
        .repartitionByRange(nOut, col("__zkey"))
        .sortWithinPartitions(col("__zkey"))
        .drop((0 until C).map(c => s"__z_$c") :+ "__zkey": _*)
    })
  }

  /** The shared clustering rewrite loop: per table partition, read every file
    * (deletes applied, renamed columns resolved), re-land via `sorter` as
    * ~targetBytes files, swap atomically under the CAS + serializable validation.
    */
  private def clusterRewrite(spark: SparkSession, dir: String, keyCols: Seq[String],
      targetBytes: Long, sorter: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)
      : Option[Int] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val partCols = ManifestTables.readPartitionSpec(dir)
    val schema = ManifestDataSource.tableSchema(dir)
    require(schema.nonEmpty, s"no committed schema under $dir — nothing to cluster")
    val dataSchema = StructType(schema.filterNot(f => partCols.exists(_.name == f.name)))
    keyCols.foreach { c =>
      require(dataSchema.fieldNames.contains(c),
        s"sort column '$c' is not a data column of ${dataSchema.simpleString}")
    }
    val planRefs = ManifestTables.readSnapshotRefs(dir, None)
    val entries = ManifestTables.entriesOf(dir, planRefs)
    if (entries.isEmpty) return None
    val deleted = ManifestTables.deletedPositions(dir, planRefs)
    val eqDels = ManifestTables.resolvedEqDeletes(dir, planRefs)

    // one rewrite group per (SPEC, partition) — spec-homogeneous like compaction
    // (the rewritten range files inherit the group's spec id): all its files ->
    // N range-disjoint files
    val groups: Seq[(Seq[ManifestTables.Entry], Seq[ManifestTables.Entry])] =
      mapConcurrently(entries.groupBy(e => (e.specId, e.partition)).toSeq.sortBy(_._1)) {
        case ((specId, joined), es) =>
          val groupSpec =
            if (specId == 0) partCols else ManifestTables.readSpecFile(dir, specId)
          (es, rewriteClustered(spark, dir, groupSpec, dataSchema, joined, es, deleted,
            eqDels, planRefs.colIds, sorter, targetBytes).map(_.copy(specId = specId)))
      }
    val sourceToGroup: Map[String, Int] = groups.zipWithIndex.flatMap {
      case ((srcs, _), g) => srcs.map(_.path -> g) }.toMap
    val allSources = sourceToGroup.keySet
    def cleanup(): Unit = groups.foreach(_._2.foreach { e =>
      try Files.deleteIfExists(Paths.get(dir, e.path)) catch { case _: Exception => }
    })

    var attempt = 0
    while (true) {
      val refs = ManifestTables.readSnapshotRefs(dir, None)
      val current = ManifestTables.entriesOf(dir, refs)
      if (!allSources.subsetOf(current.map(_.path).toSet)) {
        cleanup(); return None // concurrent overwrite/DELETE retracted a source
      }
      val newDels = refs.deletes.filterNot(planRefs.deletes.contains)
      if (newDels.exists(d => ManifestTables.readDeleteSegment(dir, d)
          .keysIterator.exists(allSources.contains)) ||
          refs.eqDeletes.exists(e => !planRefs.eqDeletes.contains(e))) {
        cleanup(); return None // a delete we did not apply landed on a source
      }
      val next = refs.snapshot + 1 // pin from the refs already read (CAS ordering rule)
      val emitted = scala.collection.mutable.HashSet.empty[Int]
      val newEntries = current.flatMap { e =>
        sourceToGroup.get(e.path) match {
          case None => Seq(e)
          case Some(g) => if (emitted.add(g)) groups(g)._2.map(_.copy(seq = next)) else Nil
        }
      }
      val seg = ManifestTables.writeSegment(dir, newEntries)
      val livePaths = newEntries.map(_.path).toSet
      val liveDels = refs.deletes.filter(d =>
        ManifestTables.readDeleteSegment(dir, d).keysIterator.exists(livePaths.contains))
      if (ManifestTables.tryWriteSnapshotRefs(dir, ManifestTables.readPartitionColumn(dir),
          Nil, Seq(seg), next,
          partTypes = ManifestTables.readPartitionTypes(dir), schemaDdl = refs.schemaDdl,
          deletes = liveDels,
          eqDeletes = ManifestTables.liveEqDeletes(dir, refs.eqDeletes, newEntries),
          colIds = refs.colIds, operation = "cluster")) {
        return Some(next)
      }
      attempt += 1
      if (attempt >= 64) {
        cleanup()
        throw new IllegalStateException(s"clusterBy on $dir lost the snapshot race $attempt times")
      }
      Thread.sleep(math.min(1000L, 20L * attempt) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
    }
    None // unreachable
  }

  /** One partition's clustered rewrite: global sort (via `sorter`) into
    * ~targetBytes files; per-file stats from the written parquet footers.
    */
  private def rewriteClustered(spark: SparkSession, dir: String,
      partCols: Seq[ManifestTables.PartCol], dataSchema: StructType, joined: String,
      files: Seq[ManifestTables.Entry], deleted: Map[String, Array[Long]],
      eqDels: Seq[ManifestTables.EqDelete], colIds: Option[String],
      sorter: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame,
      targetBytes: Long): Seq[ManifestTables.Entry] = {
    val uid = java.util.UUID.randomUUID().toString
    val tmpOut = s"$dir/_compact_tmp/$uid"
    val s2 = rewriteSession(spark)
    val nOut = math.max(1, math.ceil(files.map(_.bytes).sum.toDouble / targetBytes).toInt)
    sorter(readFilesWithDeletes(s2, dir, dataSchema, files, deleted, eqDels, colIds), nOut)
      .write.parquet(tmpOut)
    val parts = ManifestTables.listNames(Paths.get(tmpOut))
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted.map(Paths.get(tmpOut, _))
    val fields = dataSchema.fields.map(f => (f.name, f.dataType)).toSeq
    val out = parts.zipWithIndex.map { case (p, k) =>
      val rel = partitionDirOf(partCols, joined) + s"cluster-$uid-$k.parquet"
      val target = Paths.get(dir, rel)
      Files.createDirectories(target.getParent)
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      val (st, rows) = ManifestStats.fromFooter(target.toString, fields,
        ManifestDataSource.hadoopConf())
      ManifestTables.Entry(rel, Files.size(target), joined, snapshot = -1,
        stats = st, rows = rows)
    }
    ManifestTables.deleteTree(Paths.get(dir, "_compact_tmp", uid))
    out
  }

  /** Greedy in-order packing: a file at or above the target forms its own bin. */
  private def packBins(es: Seq[ManifestTables.Entry], targetBytes: Long)
      : Seq[Seq[ManifestTables.Entry]] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[ManifestTables.Entry]]
    var cur = Vector.empty[ManifestTables.Entry]
    var curBytes = 0L
    es.foreach { e =>
      if (e.bytes >= targetBytes) {
        if (cur.nonEmpty) { bins += cur; cur = Vector.empty; curBytes = 0L }
        bins += Vector(e)
      } else if (cur.nonEmpty && curBytes + e.bytes > targetBytes) {
        bins += cur; cur = Vector(e); curBytes = e.bytes
      } else {
        cur :+= e; curBytes += e.bytes
      }
    }
    if (cur.nonEmpty) bins += cur
    bins.toSeq
  }

  /** Reads one bin with the authoritative data schema and lands it as ONE parquet
    * file inside the partition's directory (unique name; a crash strands only an
    * unreferenced file that removeOrphans reclaims). Spark writes the file so the
    * layout is exactly what the vectorized read path expects; timestamps are forced
    * to INT64 micros (the manifest schema mapping) rather than Spark's INT96 legacy
    * default.
    */
  /** Deletes-aware read of a set of committed files with the authoritative data
    * schema: positional deletes apply DURING the read via the native scan's
    * `_metadata.row_index`, EQUALITY deletes as key filters on exactly the files
    * they sequence after, and RENAMED columns resolve per file (footer field ids /
    * name history) before aliasing to their current names — files needing any of
    * those read one-at-a-time, clean files batch together. Shared by compaction
    * and clustering: a maintenance rewrite that skipped any of this would
    * resurrect deleted rows or null out renamed columns.
    */
  private def readFilesWithDeletes(s2: SparkSession, dir: String, dataSchema: StructType,
      files: Seq[ManifestTables.Entry], deleted: Map[String, Array[Long]],
      eqDels: Seq[ManifestTables.EqDelete],
      colIds: Option[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val reg = colIds.map(ManifestTables.parseColIds).getOrElse(Nil)
    // only a rename/drop history forces per-file name resolution; fresh registries
    // (every name single-history) read by name exactly as before
    val renamed = reg.exists(c => c.names.length > 1 || c.dropped)
    def applicable(e: ManifestTables.Entry): Seq[ManifestTables.EqDelete] =
      eqDels.filter(d => ManifestTables.seqOf(e) < d.seq)
    def eqFilter(df: org.apache.spark.sql.DataFrame,
        dels: Seq[ManifestTables.EqDelete]): org.apache.spark.sql.DataFrame =
      dels.foldLeft(df) { (d, del) =>
        val vals: Seq[org.apache.spark.sql.Column] = del.ctype match {
          case "long" => del.values.map(v => lit(v.toLong))
          case "int" => del.values.map(v => lit(v.toInt))
          case _ => del.values.map(v => lit(v))
        }
        d.filter(col(del.column).isNull || !col(del.column).isin(vals: _*))
      }
    /** Per-file read with physical->current name resolution (the DSv2 reader's
      * id/history rule, replayed for Spark's native scan).
      */
    def resolvedRead(e: ManifestTables.Entry): org.apache.spark.sql.DataFrame = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        ManifestDataSource.parquetInput(s"$dir/${e.path}"))
      val phys = try r.getFileMetaData.getSchema.getFields.asScala.toSeq finally r.close()
      val hasIds = phys.exists(_.getId != null)
      val idOf = reg.filterNot(_.dropped).map(c => c.current -> c.id).toMap
      val histOf = reg.filterNot(_.dropped).map(c => c.current -> c.names).toMap
      val cols = dataSchema.fields.toSeq.map { f =>
        val viaId = if (!hasIds) None
          else idOf.get(f.name).flatMap(id => phys.find(p =>
            p.getId != null && p.getId.intValue == id).map(_.getName))
        // history fallback even on id-stamped files (same rule as the DSv2 reader)
        val viaName =
          phys.map(_.getName).find(histOf.getOrElse(f.name, Seq(f.name)).contains)
        (viaId orElse viaName)
          .map(local => col(local).cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }
      s2.read.parquet(s"$dir/${e.path}")
        .withColumn("__graft_ri", col("_metadata.row_index"))
        .select(cols :+ col("__graft_ri"): _*)
    }
    // per-FILE isolation only where unavoidable: positional deletes (positions are
    // per file) and rename resolution (physical schemas differ). Files whose only
    // specialness is an applicable EQUALITY-delete set batch into ONE read per
    // distinct set — the filter is identical across the group, and a union of one
    // DataFrame per file would put O(files) parquet relations into a single plan
    // (measured: 12 min to compact 1000 tiny files; grouped, it is one job).
    val (perFile, batchable) = files.partition(e =>
      renamed || deleted.get(e.path).exists(_.nonEmpty))
    val batched = batchable.groupBy(e => applicable(e).map(_.seq)).toSeq
      .sortBy(_._1.mkString(","))
      .map { case (_, es) =>
        eqFilter(s2.read.schema(dataSchema).parquet(es.map(e => s"$dir/${e.path}"): _*),
          applicable(es.head))
      }
    val perFileDfs = perFile.map { e =>
      val base =
        if (renamed) resolvedRead(e)
        else s2.read.schema(dataSchema).parquet(s"$dir/${e.path}")
          .withColumn("__graft_ri", col("_metadata.row_index"))
      val posFiltered = deleted.get(e.path).filter(_.nonEmpty) match {
        case None => base
        case Some(poss) =>
          base.filter(!col("__graft_ri").isin(poss.map(java.lang.Long.valueOf).toSeq: _*))
      }
      eqFilter(posFiltered, applicable(e)).drop("__graft_ri")
    }
    (batched ++ perFileDfs).reduce(_ unionAll _)
  }

  /** Run independent per-partition rewrite jobs from a thread pool of at most 4 so the
    * next group's tasks back-fill executors freed by the current group's tail
    * (guide §2.6 overlap): Spark's scheduler runs concurrent jobs FIFO, each
    * rewrite works in its own uuid temp dir and new session, and Future.traverse
    * preserves input order so the caller sees the exact sequential result.
    */
  private def mapConcurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.length <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, xs.length))
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(xs)(x => scala.concurrent.Future(f(x))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
  }

  private def rewriteSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    // timestamps forced to INT64 micros (the manifest schema mapping), not
    // Spark's INT96 legacy default
    s2.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s2
  }

  private def partitionDirOf(partCols: Seq[ManifestTables.PartCol], joined: String): String = {
    val vals = ManifestDataSource.splitPartValues(joined, partCols.length)
    partCols.zip(vals).map { case (pc, v) =>
      s"${pc.name}=${ManifestTables.hiveEscape(v)}/" }.mkString
  }

  private def rewriteBin(spark: SparkSession, dir: String,
      partCols: Seq[ManifestTables.PartCol], dataSchema: StructType,
      joined: String, bin: Seq[ManifestTables.Entry],
      deleted: Map[String, Array[Long]],
      eqDels: Seq[ManifestTables.EqDelete],
      colIds: Option[String]): ManifestTables.Entry = {
    val uid = java.util.UUID.randomUUID().toString
    val tmpOut = s"$dir/_compact_tmp/$uid"
    val s2 = rewriteSession(spark)
    readFilesWithDeletes(s2, dir, dataSchema, bin, deleted, eqDels, colIds)
      .coalesce(1).write.parquet(tmpOut)
    val part = listOnly(Paths.get(tmpOut), p => {
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    })
    val rel = partitionDirOf(partCols, joined) + s"compact-$uid.parquet"
    val target = Paths.get(dir, rel)
    Files.createDirectories(target.getParent)
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    ManifestTables.deleteTree(Paths.get(dir, "_compact_tmp", uid))
    // the compacted file's stats derive from ITS OWN footer, never merged input
    // bounds: deletes applied during the rewrite can remove the extreme rows, so a
    // merged bound would be prune-safe but aggregate-WRONG — and the footer path
    // also carries exact row/null counts, keeping the compacted table answerable
    // from metadata (ManifestAggScan). Merged bounds remain the fallback only if
    // the fresh footer yields nothing (keeps at least the data-skipping).
    val fields = dataSchema.fields.map(f => (f.name, f.dataType)).toSeq
    val (footerStats, rows) =
      ManifestStats.fromFooter(target.toString, fields, ManifestDataSource.hadoopConf())
    ManifestTables.Entry(rel, Files.size(target), joined, snapshot = -1,
      stats = if (footerStats.nonEmpty) footerStats
        else ManifestStats.merge(bin.map(_.stats), fields),
      rows = rows)
  }

  private def listOnly(dirPath: Path, pred: Path => Boolean): Path = {
    val all = ManifestTables.listNames(dirPath).map(dirPath.resolve).filter(pred)
    require(all.length == 1, s"expected exactly one part file in $dirPath, got ${all.length}")
    all.head
  }

  // ------------------------------------------------ PARTITION SPEC EVOLUTION
  // Iceberg's ADD/DROP PARTITION FIELD: the table's layout changes WITHOUT
  // rewriting a single data file. Restricted to HIDDEN transform fields
  // (bucket/days/truncate over a source data column): identity partition columns
  // are part of the table schema and their values live only in the manifest, so
  // the identity set is immutable under evolution (redefine it with an explicit
  // overwrite, which rewrites the data anyway). The commit is metadata-only:
  // every live entry still carrying the implicit "snapshot's own spec" id 0 is
  // re-stamped with the explicit registry id of the OLD default
  // (ManifestTables.ensureSpecId), the touched manifests are rewritten once —
  // O(entries) metadata, the same cost class as a manifest fold — and the new
  // snapshot flips the default spec for future writes. Readers resolve each
  // file's partition values under ITS OWN spec (ManifestTables.specResolver):
  // old files are never pruned by a predicate their spec cannot answer, new
  // files prune through the new transform, and answers never move. Time travel,
  // rollback, and cherry-pick compose: a pre-evolution snapshot's unstamped
  // entries still read under that snapshot's own recorded spec.

  /** Adds one hidden transform field (`bucket(n,col)` / `days(col)` /
    * `truncate(w,col)`) to the table's partition spec. Returns the new snapshot id.
    */
  def addPartitionField(dir: String, token: String): Int =
    respec(dir, s"add_partition_field($token)") { (spec, schema) =>
      val pc = parseOneField(token, schema)
      require(pc.transform.nonEmpty,
        s"add_partition_field('$token'): only hidden transform fields evolve — " +
          "identity partitioning is fixed at table layout time (use an explicit " +
          "overwrite to re-partition by a data column)")
      require(!spec.exists(_.name == pc.name),
        s"partition field '${pc.name}' already exists in spec " +
          s"'${spec.map(ManifestTables.specTokenOf).mkString(",")}'")
      spec :+ pc
    }

  /** Drops one hidden transform field, addressed by its spec token
    * (`bucket(4,user_id)`) or its synthetic column name (`user_id_bucket4`).
    * Returns the new snapshot id.
    */
  def dropPartitionField(dir: String, token: String): Int =
    respec(dir, s"drop_partition_field($token)") { (spec, schema) =>
      val target = spec.find(pc => pc.name == token.trim ||
        ManifestTables.specTokenOf(pc) == token.replaceAll("\\s", ""))
      require(target.isDefined,
        s"no partition field '$token' in spec " +
          s"'${spec.map(ManifestTables.specTokenOf).mkString(",")}'")
      require(target.get.transform.nonEmpty,
        s"drop_partition_field('$token'): identity partition columns cannot be " +
          "dropped — their values exist only in the manifest, and files written " +
          "without them would be unreadable; re-partition with an explicit overwrite")
      spec.filterNot(_ == target.get)
    }

  /** Parses one partcol-grammar token against the table schema (source column
    * existence + type rules are parsePartColOption's, shared with the writer).
    */
  private def parseOneField(token: String,
      schema: StructType): ManifestTables.PartCol = {
    val parsed = ManifestDataSource.parsePartColOption(token, schema)
    require(parsed.length == 1, s"expected ONE partition field token, got '$token'")
    parsed.head
  }

  /** The shared respec commit: derive the new spec from the CURRENT one, stamp
    * all implicit-spec entries with the old default's registry id, publish under
    * the standard CAS. Everything (spec, schema, entries) derives from ONE refs
    * read per attempt — the two-latest-reads straddle is a known bug class here.
    */
  private def respec(dir: String, what: String)(
      evolve: (Seq[ManifestTables.PartCol], StructType) => Seq[ManifestTables.PartCol]): Int = {
    var attempt = 0
    while (true) {
      val refs = ManifestTables.readSnapshotRefs(dir, None)
      // the UNPARTITIONED spec is a legal starting point: existing files simply
      // have no value for the new field (their spec answers no partition
      // predicate, so they are never pruned) while new appends route and prune —
      // Iceberg's "partition an existing table later" story
      val oldSpec = ManifestTables.readPartitionSpec(dir, Some(refs.snapshot))
      val schema = ManifestDataSource.tableSchema(dir, Some(refs.snapshot))
      val newSpec = evolve(oldSpec, schema)
      require(newSpec != oldSpec, s"$what left the spec unchanged")
      // register BOTH specs up front: the old id stamps the live entries below;
      // the new one makes the registry a complete history for introspection
      val oldId = ManifestTables.ensureSpecId(dir, oldSpec)
      ManifestTables.ensureSpecId(dir, newSpec)
      def stamp(e: ManifestTables.Entry): ManifestTables.Entry =
        if (e.specId == 0) e.copy(specId = oldId) else e
      val newInline = refs.inline.map(stamp)
      // untouched segments (no implicit-spec entry) carry by NAME; a lost CAS
      // strands only unreferenced seg- files, which removeOrphans reclaims
      val newSegs = refs.segments.map { seg =>
        val es = ManifestTables.readSegmentEntries(dir, seg, refs.snapshot)
        if (es.forall(_.specId != 0)) seg
        else ManifestTables.writeSegment(dir, es.map(stamp))
      }
      val next = refs.snapshot + 1
      if (ManifestTables.tryWriteSnapshotRefs(dir, newSpec.map(_.name).mkString(","),
          newInline, newSegs, next,
          partTypes = newSpec.map(ManifestTables.typeTokenOf).mkString(","),
          schemaDdl = refs.schemaDdl, deletes = refs.deletes,
          eqDeletes = refs.eqDeletes, colIds = refs.colIds,
          operation = "respec")) return next
      attempt += 1
      require(attempt < 64, s"$what on $dir lost the snapshot race $attempt times")
      Thread.sleep(math.min(1000L, 20L * attempt) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
    }
    -1 // unreachable
  }
}
