package graft.sources

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}
import java.util

/** TableCatalog plugin over a warehouse of manifest-committed tables — manifest tables
  * become addressable by NAME in plain SQL, the last mile of the DSv2 surface:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.ManifestCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("SELECT lang_p, count(*) FROM graft.corpus.docs GROUP BY 1")
  *   spark.sql("INSERT INTO graft.corpus.docs SELECT ...")       // snapshot commit
  *   spark.sql("SELECT * FROM graft.corpus.docs VERSION AS OF 0") // time travel
  * }}}
  *
  * A table named `ns1.ns2.t` lives at `<warehouse>/ns1/ns2/t` — any directory holding
  * a committed `_manifests` snapshot IS a table (the catalog holds no state of its
  * own, exactly like the path-based API; both views of the same directory stay
  * consistent because the manifest is the single source of truth). SQL `VERSION AS
  * OF n` maps to the pinned-snapshot read. DDL is intentionally thin: tables are
  * CREATED by writing data (the DSv2 write bootstrap defines the schema); the one
  * supported evolution is `ALTER TABLE ... ADD COLUMN` (metadata-only snapshot, old
  * files null-fill); everything else is unsupported rather than half-implemented.
  */
class ManifestCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"spark.sql.catalog.$name.warehouse must point at the table root directory")
  }
  override def name(): String = catalogName

  /** DDL with column DEFAULTs (CREATE TABLE ... DEFAULT x, ALTER ... ADD COLUMN
    * ... DEFAULT x) only reaches a catalog that declares this capability; the
    * manifest table serves the EXISTS default for files predating the column
    * (Iceberg v3 default-values analog) and Spark's analyzer fills the CURRENT
    * default into INSERTs that omit the column. Like the column-id registry,
    * defaults are part of the declared schema: a path-mode `overwrite` REDEFINES
    * the schema from the incoming data and drops them (the format's replace
    * semantics); SQL TRUNCATE and INSERT OVERWRITE keep the declared schema.
    */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def dirOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def isTable(dir: String): Boolean =
    ManifestTables.latestSnapshotId(dir).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    ManifestTables.listNames(nsDir).filter(n => isTable(nsDir.resolve(n).toString))
      .map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTable(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir))
      return metaTableFor(ident).getOrElse(throw new NoSuchTableException(ident))
    new ManifestDataTable(dir, ManifestDataSource.tableSchema(dir))
  }

  /** Iceberg-style METADATA tables by name suffix: `cat.ns.t.files` (live data
    * files + partition values), `cat.ns.t.snapshots` (history: id, commit time,
    * note, segment counts, live file count), `cat.ns.t.tags` (named refs),
    * `cat.ns.t.refs` (main + tags + branches), `cat.ns.t.partitions` (per-partition
    * rollup), `cat.ns.t.manifests` (layered manifest segments by content). Served
    * only when the suffix does NOT shadow a real table directory (a genuine table
    * named `files` wins; list it the normal way).
    */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    import org.apache.spark.sql.types._
    if (ident.namespace().isEmpty) return None
    val parent = (warehouse +: ident.namespace().toSeq).mkString("/")
    if (!isTable(parent)) return None
    ident.name() match {
      case "files" => Some(new ManifestFilesTable(parent))
      case "snapshots" =>
        val schema = new StructType()
          .add("snapshot_id", LongType, nullable = false)
          .add("committed_at", TimestampType, nullable = false)
          .add("operation", StringType, nullable = true)
          .add("note", StringType, nullable = true)
          .add("segments", IntegerType, nullable = false)
          .add("delete_segments", IntegerType, nullable = false)
          .add("eq_delete_segments", IntegerType, nullable = false)
          .add("data_files", LongType, nullable = false)
        Some(new ManifestMetaTable(s"manifest_snapshots($parent)", schema, () =>
          ManifestTables.snapshotIds(parent).map { id =>
            // per row: one full refs read + one head probe (ts + op + note
            // together) + the segment entry lists for data_files — an explicitly
            // O(history x segments) introspection column, priced here, not hidden
            val refs = ManifestTables.readSnapshotRefs(parent, Some(id))
            val (ts, op, note) = ManifestTables.snapshotTsAndNote(parent, id)
            Seq[Any](id.toLong, ts * 1000L, op.orNull, note.orNull,
              refs.segments.length, refs.deletes.length, refs.eqDeletes.length,
              ManifestTables.entriesOf(parent, refs).size.toLong)
          }))
      case "tags" =>
        val schema = new StructType()
          .add("tag", StringType, nullable = false)
          .add("snapshot_id", LongType, nullable = false)
        Some(new ManifestMetaTable(s"manifest_tags($parent)", schema, () =>
          ManifestTables.listTags(parent).map { case (n, id) =>
            Seq[Any](n, id.toLong) }))
      case "refs" =>
        // every named ref (Iceberg `.refs` analog): main, tags, and branches.
        // snapshot_id is the MAIN-chain anchor (head / tagged id / fork base);
        // branch_head is the branch-LOCAL head id (0 = fork state, grows with
        // every branch append; null for main and tags)
        val schema = new StructType()
          .add("name", StringType, nullable = false)
          .add("type", StringType, nullable = false)
          .add("snapshot_id", LongType, nullable = false)
          .add("branch_head", LongType, nullable = true)
        Some(new ManifestMetaTable(s"manifest_refs($parent)", schema, () =>
          (Seq(Seq[Any]("main", "branch",
            ManifestTables.latestSnapshotId(parent).getOrElse(-1).toLong, null)) ++
            ManifestTables.listTags(parent).map { case (n, id) =>
              Seq[Any](n, "tag", id.toLong, null) } ++
            ManifestTables.listBranches(parent).map { case (n, base, head) =>
              Seq[Any](n, "branch", base.toLong, head.toLong) }).sortBy(r =>
            (r(1).toString, r(0).toString))))
      case "partitions" =>
        // per-partition file/byte rollup (Iceberg `.partitions` analog): one
        // canonical-string column per partition column (hidden transforms
        // included — this is where their values ARE visible), from the live
        // manifest entries alone — zero data files opened
        val spec = ManifestTables.readPartitionSpec(parent)
        val schema = StructType(
          spec.map(pc => StructField(pc.name, StringType, nullable = false)) ++
            Seq(StructField("files", LongType, nullable = false),
              StructField("bytes", LongType, nullable = false),
              // exact per-partition record count from manifest metadata; null
              // when any entry predates the rows feature (unknown, never guessed)
              StructField("rows", LongType, nullable = true)))
        Some(new ManifestMetaTable(s"manifest_partitions($parent)", schema, () => {
          // evolution-aware: each entry's values re-lay-out under the CURRENT
          // spec; files predating a hidden field show "" for it (honest: they
          // were never routed by it)
          val specOf = ManifestTables.specResolver(parent, spec)
          ManifestTables.readLatest(parent)
            .map(e => e.copy(partition =
              ManifestDataSource.normalizePartition(specOf, spec)(e)))
            .groupBy(_.partition).toSeq.sortBy(_._1)
            .map { case (p, es) =>
              val vals: Seq[Any] =
                if (spec.isEmpty) Nil
                else ManifestDataSource.splitPartValues(p, spec.length)
              val rows: Any =
                if (es.exists(_.rows < 0)) null else es.map(_.rows).sum
              vals ++ Seq(es.size.toLong, es.map(_.bytes).sum, rows)
            }
        }))
      case "manifests" =>
        // layered-manifest inspection (Iceberg `.manifests` analog): one row per
        // manifest segment the LATEST snapshot references — data segments,
        // position-delete segments, equality-delete segments (Iceberg's `content`
        // field) — plus one synthetic '<inline>' row for fresh entries still riding
        // in the snapshot head (not yet folded; Iceberg has no inline state, so the
        // label is ours and its file_bytes is null). `entries` counts manifest
        // ENTRIES: data files, (path,pos) pairs, or delete-key values respectively.
        val schema = new StructType()
          .add("path", StringType, nullable = false)
          .add("content", StringType, nullable = false)
          .add("entries", LongType, nullable = false)
          .add("file_bytes", LongType, nullable = true)
        Some(new ManifestMetaTable(s"manifest_manifests($parent)", schema, () => {
          val refs = ManifestTables.readSnapshotRefs(parent, None)
          def bytesOf(name: String): Any =
            java.nio.file.Files.size(java.nio.file.Paths.get(parent, "_manifests", name))
          val inline: Seq[Seq[Any]] =
            if (refs.inline.isEmpty) Nil
            else Seq(Seq[Any]("<inline>", "data", refs.inline.size.toLong, null))
          val segs = refs.segments.map { seg =>
            Seq[Any](seg, "data",
              ManifestTables.readSegmentEntries(parent, seg, refs.snapshot).size.toLong,
              bytesOf(seg))
          }
          val dels = refs.deletes.map { d =>
            Seq[Any](d, "position-deletes",
              ManifestTables.readDeleteSegment(parent, d).valuesIterator
                .map(_.size.toLong).sum, bytesOf(d))
          }
          val eqs = refs.eqDeletes.map { e =>
            Seq[Any](e, "equality-deletes",
              ManifestTables.readEqDeleteSegment(parent, e).values.size.toLong,
              bytesOf(e))
          }
          (inline ++ segs ++ dels ++ eqs).sortBy(r => (r(1).toString, r(0).toString))
        }))
      case "specs" =>
        // partition-spec registry (Iceberg `.all_specs`-style inspection): every
        // registered historical spec plus the current default. A never-evolved
        // table has no registry — its one spec shows as the reserved id 0.
        val schema = new StructType()
          .add("spec_id", IntegerType, nullable = false)
          .add("spec", StringType, nullable = false)
          .add("is_default", BooleanType, nullable = false)
        Some(new ManifestMetaTable(s"manifest_specs($parent)", schema, () => {
          val cur = ManifestTables.readPartitionSpec(parent)
          def tok(sp: Seq[ManifestTables.PartCol]) =
            sp.map(ManifestTables.specTokenOf).mkString(",")
          val rows = ManifestTables.listSpecIds(parent).map { id =>
            val sp = ManifestTables.readSpecFile(parent, id)
            Seq[Any](id, tok(sp), sp == cur)
          }
          if (rows.exists(_(2) == true)) rows
          else Seq[Any](0, tok(cur), true) +: rows
        }))
      case _ => None
    }
  }

  /** SQL `VERSION AS OF <n>` — serves the pinned committed snapshot; a BRANCH
    * name serves the branch head as a read view (Iceberg's branch time travel).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // a decimal literal is a snapshot id; otherwise a TAG wins over a same-named
    // branch (tags are immutable promises; shadowing one silently would move data)
    if (version.toIntOption.isEmpty && ManifestTables.readTag(dir, version).isEmpty &&
        ManifestTables.branchExists(dir, version))
      return new ManifestDataTable(dir,
        ManifestDataSource.branchSchema(dir, version), pinnedBranch = Some(version))
    val snap = ManifestTables.resolveVersion(dir, version)
    // Fail at resolution time if the pinned snapshot does not exist (readSnapshot
    // throws for an unknown id); a legitimately EMPTY snapshot (e.g. an empty
    // overwrite) is fine and serves zero rows. The schema is the PINNED snapshot's
    // own (tableSchema honors its ALTER-recorded DDL when present): a version from
    // before a column was added serves the narrower historical schema.
    ManifestTables.readSnapshot(dir, Some(snap))
    new ManifestDataTable(dir, ManifestDataSource.tableSchema(dir, Some(snap)), Some(snap))
  }

  /** SQL `TIMESTAMP AS OF <t>` — Spark hands MICROseconds since epoch; serve the
    * latest snapshot committed at or before that moment (same pinning as a
    * version read; legacy pre-ts snapshots resolve via their file mtime).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val snap = ManifestTables.requireTimestampMs(dir, timestamp / 1000L)
    new ManifestDataTable(dir, ManifestDataSource.tableSchema(dir, Some(snap)), Some(snap))
  }

  /** `CREATE TABLE` / CTAS: publishes an EMPTY schema-carrying snapshot 0 (the
    * same DDL + partition-spec machinery ALTER uses), so `INSERT INTO` and CTAS's
    * follow-up write resolve against the declared schema immediately. Partitioning
    * accepts identity columns (string|int|date) and the HIDDEN transforms
    * `bucket(n, col)` / `days(ts)` / `truncate(w, col)` — SQL `PARTITIONED BY
    * (days(ts), bucket(8, user_id))` works directly. The column-id registry
    * bootstraps here, so created tables are rename/drop-evolvable from birth.
    */
  override def createTable(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(ident)
    val tokens = ManifestCatalog.renderSpecTokens(partitions)
    val spec =
      if (tokens.isEmpty) Nil
      else ManifestDataSource.parsePartColOption(tokens.mkString(","), schema)
    ManifestCatalog.publishSchemaSnapshot(dir, spec, schema,
      requireFresh = true, ident = ident)
    loadTable(ident)
  }

  /** Schema evolution, Iceberg-style metadata-only: ADD / RENAME / DROP COLUMN and
    * lossless TYPE WIDENING (int->bigint, float->double) each publish a NEW snapshot
    * carrying the same file references plus the edited schema DDL and the column-id
    * registry — no data file is touched. ADD null-fills pre-ALTER files at read time
    * (constant vectors); RENAME and DROP are pure registry edits: files written with
    * field IDS resolve by id, id-less files (legacy tables, Spark-written maintenance
    * rewrites) resolve through the id's NAME HISTORY — unambiguous because historical
    * names may never be reused. Widened columns keep each file's PHYSICAL type:
    * readers upcast int32/float vectors at scan time (Iceberg's type-promotion rule),
    * so a scan straddling the ALTER serves one coherent wide column. Lossy or
    * re-ordering type changes stay rejected (they would need per-file value rewrite).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val alterSpec = ManifestTables.readPartitionSpec(dir)
    val partNames = alterSpec.map(_.name).toSet
    // hidden-transform SOURCE columns: the recorded partition spec names them, so
    // rename/drop would orphan the spec (type WIDENING stays fine — int sources
    // widen to long before hashing, so bucket values are unchanged)
    val partSrcs = alterSpec.flatMap(_.transform.map(_.src)).toSet
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType => ()
      case other => throw new UnsupportedOperationException(
        s"manifest tables support ADD/RENAME/DROP COLUMN and int->bigint / " +
          s"float->double widening only, got ${other.getClass.getSimpleName}")
    }
    // optimistic-concurrency publication, same discipline as the write path: the
    // ALTER races cleanly with concurrent appends (losers retarget latest+1)
    var attempt = 0
    var done = false
    while (!done) {
      // ONE latest read per attempt: refs first, schema derived from THAT pinned
      // snapshot — reading them independently could straddle a concurrent commit
      // (notably a concurrent ALTER), silently dropping its column from the
      // widened DDL while our CAS still succeeds on refs.snapshot+1
      val refs = ManifestTables.readSnapshotRefs(dir, None)
      val cur = ManifestDataSource.tableSchema(dir, Some(refs.snapshot))
      // RENAME/DROP need the column-id registry; a legacy table synthesizes it on
      // first use (its id-less files resolve by NAME HISTORY, which stays
      // unambiguous because historical-name REUSE is rejected below)
      var reg: Seq[ManifestTables.ColId] = refs.colIds
        .map(ManifestTables.parseColIds)
        .orElse(ManifestTables.colIdsBootstrap(
          cur.fieldNames.toSeq.filterNot(partNames.contains)).map(ManifestTables.parseColIds))
        .getOrElse(Nil)
      val allHistoricNames: Set[String] = reg.flatMap(_.names).toSet
      def nextId: Int = (reg.map(_.id) :+ 0).max + 1
      var schema = cur
      changes.foreach {
        case a: TableChange.AddColumn =>
          require(a.fieldNames().length == 1,
            s"ADD COLUMN supports top-level columns only, got ${a.fieldNames().mkString(".")}")
          require(a.isNullable,
            s"added column ${a.fieldNames().head} must be nullable — existing files cannot backfill it")
          require(a.position() == null,
            "FIRST/AFTER positions are not supported — added columns append at the end")
          val n = a.fieldNames().head
          require(!schema.fieldNames.contains(n),
            s"column $n already exists in ${schema.simpleString}")
          require(reg.isEmpty || !allHistoricNames.contains(n),
            s"column name '$n' was used before (renamed or dropped) — reuse would be " +
              "ambiguous for data files without field ids; pick a fresh name")
          val added = Option(a.defaultValue()) match {
            case None => StructField(n, a.dataType(), nullable = true)
            case Some(dv) =>
              // analyzed + constant-folded by Spark before it reaches the catalog;
              // re-rendered canonically from the literal VALUE (never the user's
              // expression text) so the stored form is stable and re-parseable
              val lit = dv.getValue()
              require(lit != null,
                s"DEFAULT for column $n must fold to a literal at ALTER time")
              ManifestCatalog.withDefaultMeta(
                StructField(n, a.dataType(), nullable = true),
                ManifestCatalog.defaultLiteralSql(lit.value(), a.dataType()))
          }
          schema = StructType(schema.fields :+ added)
          if (reg.nonEmpty && n.matches(ManifestTables.SafeColName))
            reg = reg :+ ManifestTables.ColId(nextId, dropped = false, Seq(n))
        case r: TableChange.RenameColumn =>
          require(r.fieldNames().length == 1,
            s"RENAME COLUMN supports top-level columns only, got ${r.fieldNames().mkString(".")}")
          val from = r.fieldNames().head
          val to = r.newName()
          require(!partNames.contains(from),
            s"cannot rename partition column '$from' — partition directories are laid out by name")
          require(!partSrcs.contains(from),
            s"cannot rename '$from' — it is the source of a hidden partition transform " +
              "(the recorded partition spec names it)")
          require(schema.fieldNames.contains(from), s"no column '$from' in ${schema.simpleString}")
          require(!schema.fieldNames.contains(to), s"column '$to' already exists")
          require(to.matches(ManifestTables.SafeColName), s"unsupported column name '$to'")
          require(reg.nonEmpty,
            s"RENAME COLUMN needs the column-id registry — table columns carry names " +
              "outside the safe grammar, so files could not be resolved after a rename")
          // an in-schema column the registry never tracked (ADDed under a name
          // outside the safe grammar) must refuse too: the rename would "succeed"
          // as a pure DDL edit, but reads of the new name could never resolve the
          // old physical field — every pre-rename row would null-fill silently
          require(reg.exists(c => !c.dropped && c.current == from),
            s"column '$from' is not tracked in the column-id registry (it was added " +
              "under a name outside the safe grammar) — renaming it would orphan its " +
              "existing data; copy it into a fresh safely-named column instead")
          require(!allHistoricNames.contains(to),
            s"column name '$to' was used before (renamed or dropped) — reuse would be " +
              "ambiguous for data files without field ids; pick a fresh name")
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          reg = reg.map(c =>
            if (!c.dropped && c.current == from) c.copy(names = c.names :+ to) else c)
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames().length == 1,
            s"DROP COLUMN supports top-level columns only, got ${d.fieldNames().mkString(".")}")
          val n = d.fieldNames().head
          require(!partNames.contains(n), s"cannot drop partition column '$n'")
          require(!partSrcs.contains(n),
            s"cannot drop '$n' — it is the source of a hidden partition transform")
          require(schema.fieldNames.contains(n), s"no column '$n' in ${schema.simpleString}")
          require(reg.nonEmpty,
            "DROP COLUMN needs the column-id registry — bootstrap failed on unsafe names")
          // same rule as RENAME: an untracked column has no retired id to record,
          // so the name-reuse ban could not protect it — a later same-name ADD
          // would silently resurrect the dropped data from old files
          require(reg.exists(c => !c.dropped && c.current == n),
            s"column '$n' is not tracked in the column-id registry (it was added " +
              "under a name outside the safe grammar) — dropping it could not be " +
              "protected against name reuse; leave it in place")
          // a live equality delete keyed on this column could no longer address
          // its rows — compaction folds it away first
          require(!ManifestTables.eqDeletesOf(dir, refs).exists(e =>
              reg.exists(c => !c.dropped && c.names.contains(e.column) && c.current == n)),
            s"column '$n' keys a live equality-delete segment — compact the table first")
          schema = StructType(schema.fields.filterNot(_.name == n))
          // the id RETIRES (history kept for the reuse ban); a re-added same-name
          // column would get a new id, so dropped data can never resurrect
          reg = reg.map(c =>
            if (!c.dropped && c.current == n) c.copy(dropped = true) else c)
        case u: TableChange.UpdateColumnType =>
          require(u.fieldNames().length == 1,
            s"ALTER COLUMN TYPE supports top-level columns only, got ${u.fieldNames().mkString(".")}")
          val n = u.fieldNames().head
          require(!partNames.contains(n),
            s"cannot widen partition column '$n' — partition directories encode its values")
          require(schema.fieldNames.contains(n), s"no column '$n' in ${schema.simpleString}")
          val from = schema(schema.fieldIndex(n)).dataType
          val to = u.newDataType()
          require((from, to) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => from == to
          }, s"unsupported type change ${from.simpleString} -> ${to.simpleString} on '$n' — " +
            "only int->bigint and float->double widen losslessly (files keep their " +
            "physical type; readers upcast)")
          // a live equality-delete segment keyed on this column carries values
          // encoded at the OLD type — compaction folds it away first
          require(!ManifestTables.eqDeletesOf(dir, refs).exists(e =>
              e.column == n || reg.exists(c =>
                !c.dropped && c.names.contains(e.column) && c.current == n)),
            s"column '$n' keys a live equality-delete segment — compact the table first")
          schema = StructType(schema.fields.map(f =>
            if (f.name == n) f.copy(dataType = to) else f))
        case _ => ()
      }
      // pin the target id from the refs already read (CAS ordering rule)
      val next = refs.snapshot + 1
      done = ManifestTables.tryWriteSnapshotRefs(dir, ManifestTables.readPartitionColumn(dir),
        refs.inline, refs.segments, next, partTypes = ManifestTables.readPartitionTypes(dir),
        schemaDdl = Some(ManifestTables.renderSchema(schema)), deletes = refs.deletes,
        eqDeletes = refs.eqDeletes,
        colIds = if (reg.isEmpty) refs.colIds else Some(ManifestTables.renderColIds(reg)),
        operation = "alter")
      if (!done) {
        attempt += 1
        require(attempt < 16, s"ALTER TABLE on $dir lost the snapshot race $attempt times")
        Thread.sleep(20L * attempt +
          java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
      }
    }
    loadTable(ident)
  }

  /** `DROP TABLE` (and CTAS-failure cleanup): removes the table directory. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) return false
    ManifestTables.deleteTree(Paths.get(dir))
    true
  }

  /** `ALTER TABLE ... RENAME TO`: everything a manifest table references is
    * directory-RELATIVE (entries, segments, delete segments, branch refs, staged
    * WAP heads, tags), so a table rename is ONE atomic directory move — no
    * metadata rewrite, history/branches/tags all ride along. In-flight readers
    * keep their already-planned scans (files were resolved at plan time) or fail
    * loudly on the vanished path — the location-coupled-rename contract of
    * filesystem table formats.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    Files.createDirectories(Paths.get(to).getParent)
    try Files.move(Paths.get(from), Paths.get(to),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // an occupied target directory means the name is taken (a committed table,
      // a concurrent creator's staging dir, or unrelated files — never clobber)
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.FileSystemException
          if Files.exists(Paths.get(to)) =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(newIdent)
    }
  }

  // ------------------------------------------------------- StagingTableCatalog
  // Atomic CTAS / RTAS / CREATE OR REPLACE TABLE (Iceberg's REPLACE TABLE
  // semantics, not drop+create): the staged table validates its declared schema
  // and partition spec up front, the query writes through the ordinary DSv2 batch
  // path with REPLACE semantics, and the ONE atomic publication point is either
  // the batch commit (data present) or commitStagedChanges (plain REPLACE TABLE,
  // no AS SELECT). A failed query never publishes — the old head stays the head,
  // and every pre-replace snapshot stays time-travel readable afterwards.

  override def stageCreate(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(ident)
    // requireFresh: a plain CREATE must keep refusing if a concurrent creator
    // lands between this stage-time check and the commit (CTAS queries run long)
    new StagedManifestTable(dir, ident, schema,
      ManifestCatalog.renderSpecTokens(partitions),
      replaceExisting = false, requireFresh = true)
  }

  override def stageReplace(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new StagedManifestTable(dir, ident, schema,
      ManifestCatalog.renderSpecTokens(partitions),
      replaceExisting = true, requireFresh = false)
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = dirOf(ident)
    // OR REPLACE: a table appearing concurrently is replaced, never refused
    new StagedManifestTable(dir, ident, schema,
      ManifestCatalog.renderSpecTokens(partitions),
      replaceExisting = isTable(dir), requireFresh = false)
  }

  // ---------------------------------------------------------- SupportsNamespaces
  // Namespaces ARE warehouse directories (the same stateless rule as tables: any
  // directory holding a committed `_manifests` snapshot is a table, any other
  // directory is a namespace). CREATE NAMESPACE = mkdir; DROP NAMESPACE refuses
  // while non-empty unless CASCADE; SHOW NAMESPACES lists direct child dirs that
  // are not themselves tables.

  private def nsDirOf(namespace: Array[String]): java.nio.file.Path =
    Paths.get((warehouse +: namespace.toSeq).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    ManifestTables.listNames(dir)
      .filter(n => Files.isDirectory(dir.resolve(n)) && !isTable(dir.resolve(n).toString))
      .map(namespace :+ _).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(nsDirOf(namespace)) && !isTable(nsDirOf(namespace).toString)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val m = new util.HashMap[String, String]()
    m.put(org.apache.spark.sql.connector.catalog.SupportsNamespaces.PROP_LOCATION,
      nsDirOf(namespace).toString)
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsDirOf(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "manifest namespaces are plain directories — they carry no mutable properties")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDirOf(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade) {
      if (ManifestTables.listNames(dir).nonEmpty) throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
      Files.delete(dir)
    } else ManifestTables.deleteTree(dir)
    true
  }

  // ------------------------------------------------------------- FunctionCatalog
  // `cat.fm_count(shard, 'p')` in SQL resolves HERE; the resulting
  // ApplyFunctionExpression translates to a V2 UserDefinedScalarFunc predicate that
  // the manifest scan recognizes for fingerprint file pruning (any namespace depth —
  // the function is catalog-global, not per-table)

  // Iceberg-style SQL maintenance procedures: CALL cat.system.<proc>(...) —
  // thin bindings over ManifestTables/ManifestMaintenance (ManifestProcedures)
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ManifestProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    ManifestProcedures.list(warehouse, namespace)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    ("fm_count" +: PartitionTransformFunctions.all.keys.toSeq.sorted)
      .map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "fm_count" => graft.functions.FmCountV2
      // partition-transform functions: how a clustered-distribution write's
      // bucket/days/truncate expressions bind (RequiresDistributionAndOrdering)
      case n if PartitionTransformFunctions.all.contains(n) =>
        PartitionTransformFunctions.all(n)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  override def functionExists(ident: Identifier): Boolean =
    ident.name() == "fm_count" || PartitionTransformFunctions.all.contains(ident.name())
}

private[sources] object ManifestCatalog {
  /** Renders each Spark Transform as a `partcol` option token — the ONE grammar the
    * write path parses/validates (a drifted copy would accept a spec the writer then
    * refuses). Shared by CREATE TABLE and the staged CTAS/RTAS path.
    */
  private[sources] def renderSpecTokens(
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform]): Seq[String] = {
    import org.apache.spark.sql.connector.expressions.Literal
    def ref1(t: org.apache.spark.sql.connector.expressions.Transform): String = {
      require(t.references.length == 1 && t.references.head.fieldNames.length == 1,
        s"partition transform $t must reference exactly one top-level column")
      t.references.head.fieldNames.head
    }
    def intArg(t: org.apache.spark.sql.connector.expressions.Transform): Int =
      t.arguments.collectFirst {
        case l: Literal[_] if l.value().isInstanceOf[java.lang.Integer] =>
          l.value().asInstanceOf[java.lang.Integer].intValue()
      }.getOrElse(throw new UnsupportedOperationException(
        s"partition transform $t needs an integer parameter"))
    partitions.toSeq.map { t =>
      t.name match {
        case "identity" => ref1(t)
        case "bucket" => s"bucket(${intArg(t)},${ref1(t)})"
        case "days" => s"days(${ref1(t)})"
        case "hours" => s"hours(${ref1(t)})"
        case "months" => s"months(${ref1(t)})"
        case "years" => s"years(${ref1(t)})"
        case "truncate" => s"truncate(${intArg(t)},${ref1(t)})"
        case other => throw new UnsupportedOperationException(
          s"manifest tables support identity/bucket/days/hours/months/years/" +
            s"truncate partitioning, got $other")
      }
    }
  }

  /** The ONE empty schema-carrying snapshot publication `CREATE TABLE` and the
    * staged `REPLACE TABLE` (no AS SELECT) share: declared DDL + partition spec +
    * a fresh column-id registry, under the usual CAS retry discipline. With
    * `requireFresh` the publication refuses (TableAlreadyExists) the moment ANY
    * snapshot exists — a plain CREATE must never swallow a concurrent creator.
    */
  /** Column-DEFAULT value types the manifest format stores and serves. Kept to
    * primitives whose literal text round-trips exactly through the snapshot head
    * and whose constants the vectorized reader can serve (see
    * ManifestDataSource.existenceDefaults / ManifestDataReaderFactory).
    */
  private val SupportedDefaultTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, FloatType, DoubleType, BooleanType, StringType)
  }

  private[sources] def withDefaultMeta(f: org.apache.spark.sql.types.StructField,
      sql: String): org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(ManifestTables.CurrentDefaultKey, sql)
      .putString(ManifestTables.ExistsDefaultKey, sql).build())

  /** Canonical literal text for a folded default value: catalyst's own
    * `Literal(...).sql` — the exact convention Spark stores for CREATE TABLE
    * defaults (backslash/quote escaping included), so the read side's
    * ResolveDefaultColumns parse round-trips every value identically on both
    * the ALTER and CREATE paths.
    */
  private[sources] def defaultLiteralSql(v: Any,
      dt: org.apache.spark.sql.types.DataType): String = {
    require(SupportedDefaultTypes.contains(dt),
      s"column DEFAULTs are supported for int/bigint/float/double/boolean/string " +
        s"only, got ${dt.simpleString}")
    org.apache.spark.sql.catalyst.expressions.Literal(v, dt).sql
  }

  /** Stage/publish-time guard: every declared DEFAULT must be a supported type and
    * must parse back (existenceDefaults throws loudly on a non-foldable text).
    */
  private[sources] def validateDefaults(
      schema: org.apache.spark.sql.types.StructType): Unit = {
    schema.fields.foreach { f =>
      if (f.metadata.contains(ManifestTables.ExistsDefaultKey) ||
          f.metadata.contains(ManifestTables.CurrentDefaultKey))
        require(SupportedDefaultTypes.contains(f.dataType),
          s"column DEFAULTs are supported for int/bigint/float/double/boolean/" +
            s"string only; column ${f.name} is ${f.dataType.simpleString}")
    }
    ManifestDataSource.existenceDefaults(schema)
  }

  private[sources] def publishSchemaSnapshot(dir: String,
      spec: Seq[ManifestTables.PartCol], schema: org.apache.spark.sql.types.StructType,
      requireFresh: Boolean, ident: Identifier): Unit = {
    val identityNames = spec.filter(_.transform.isEmpty).map(_.name)
    val dataCols = schema.fieldNames.toSeq.filterNot(identityNames.contains)
    validateDefaults(schema)
    Files.createDirectories(Paths.get(dir))
    var attempt = 0
    var done = false
    while (!done) {
      val next = ManifestTables.latestSnapshotId(dir).map(_ + 1).getOrElse(0)
      if (requireFresh && next > 0)
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
      done = ManifestTables.tryWriteSnapshotRefs(dir, spec.map(_.name).mkString(","),
        Nil, Nil, next, partTypes = spec.map(ManifestTables.typeTokenOf).mkString(","),
        schemaDdl = Some(ManifestTables.renderSchema(schema)),
        colIds = ManifestTables.colIdsBootstrap(dataCols),
        operation = if (next > 0) "replace" else "create")
      if (!done) {
        attempt += 1
        require(attempt < 16,
          s"schema-snapshot publication on $dir lost the snapshot race $attempt times")
        Thread.sleep(20L * attempt +
          java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 20))
      }
    }
  }
}

/** A staged create/replace target (StagingTableCatalog): writes land through the
  * ordinary manifest batch path with REPLACE semantics — the batch commit is the
  * atomic publication when the statement carries a query (CTAS/RTAS); a plain
  * `REPLACE TABLE` publishes its empty schema-carrying snapshot in
  * commitStagedChanges instead. Until one of those single CAS points lands,
  * readers of an existing table keep seeing the old head, and a brand-new table
  * does not exist. After a replace, pre-replace snapshots stay readable through
  * time travel with their own schema, spec, and column-id registry (the replace
  * bootstraps a FRESH registry — all live files are new).
  */
private[sources] class StagedManifestTable(dir: String, ident: Identifier,
    declared: org.apache.spark.sql.types.StructType, specTokens: Seq[String],
    replaceExisting: Boolean, requireFresh: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability

  // stage-time validation: a bad spec/schema fails BEFORE the query runs
  ManifestCatalog.validateDefaults(declared)
  private val spec: Seq[ManifestTables.PartCol] =
    if (specTokens.isEmpty) Nil
    else ManifestDataSource.parsePartColOption(specTokens.mkString(","), declared)
  private val createdDir = !Files.isDirectory(Paths.get(dir))
  Files.createDirectories(Paths.get(dir))
  @volatile private var wrote = false

  override def name(): String = s"manifest_staged($dir)"
  override def schema(): org.apache.spark.sql.types.StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ManifestWriteBuilder(dir, declared, info, stagedReplace = true,
      stagedPartTokens = Some(specTokens.mkString(",")).filter(_.nonEmpty),
      stagedDdl = Some(ManifestTables.renderSchema(declared)),
      stagedOp = Some(if (replaceExisting) "replace" else "create"),
      stagedRequireFresh = requireFresh,
      onCommitted = () => wrote = true)

  override def commitStagedChanges(): Unit = {
    // CTAS/RTAS: the batch commit already published atomically — nothing to add
    // (publishing a second, empty snapshot here would erase the data just written)
    if (wrote) return
    // plain CREATE/REPLACE TABLE (no AS SELECT): publish the empty
    // schema-carrying snapshot now — the same bootstrap createTable publishes,
    // deferred to THIS call so a failed statement never half-creates
    ManifestCatalog.publishSchemaSnapshot(dir, spec, declared,
      requireFresh = requireFresh, ident = ident)
  }

  override def abortStagedChanges(): Unit = {
    // nothing was published (the batch write aborts its own data files); a CREATE
    // that made the directory removes it again — but only while EMPTY: a
    // concurrent staged writer to the same name may have in-flight files here,
    // and deleting those would let its commit publish a snapshot over missing
    // data. Non-empty leftovers are removeOrphans' job, like any aborted write.
    if (createdDir && ManifestTables.latestSnapshotId(dir).isEmpty) {
      try {
        val m = Paths.get(dir, "_manifests")
        if (Files.isDirectory(m)) Files.delete(m) // throws unless empty
        Files.delete(Paths.get(dir))              // throws unless empty
      } catch { case _: Exception => () }
    }
  }
}
