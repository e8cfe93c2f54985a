package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** Generic snapshot-manifest commit for a Hive-partitioned parquet directory — the
  * Iceberg-layout discipline for any single string partition column: `_manifests/snapshot-N.json` lists every data file
  * with its byte size and partition value. Readers that go through the manifest (the
  * DSv2 source below) see EXACTLY the committed snapshot — stray or in-flight files in
  * the directory are invisible, which is the property that makes concurrent
  * writers/readers safe on object storage.
  */
object ManifestTables {

  /** Minimal JSON string escape/unescape — a path or partition value containing a
    * quote, backslash or control char must survive the manifest round-trip verbatim
    * (an unescaped quote would truncate the entry and silently drop the file).
    */
  private[sources] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[sources] def jsonUnescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case other => sb.append(other); i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Hive-style %XX escaping for partition DIRECTORY names (the charset Spark's own
    * partitioned writes escape, space included) — the DSv2 writer lays files out
    * exactly like a Spark `partitionBy` write so both layouts interoperate.
    */
  private[sources] def hiveEscape(s: String): String = {
    def needs(c: Char): Boolean =
      c < ' ' || c == '\u007f' || " \"#%'*/:=?\\{[]^".indexOf(c) >= 0
    if (!s.exists(needs)) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach { c => if (needs(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c) }
      sb.toString
    }
  }

  /** Decodes Hive's %XX partition-directory escaping (Spark writes `a b` as `a%20b`)
    * so manifests carry the RAW partition value — readers then never re-derive values
    * from file paths.
    */
  private[sources] def hiveUnescape(s: String): String =
    if (s.indexOf('%') < 0) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 && Character.digit(s.charAt(i + 2), 16) >= 0) {
          sb.append(((Character.digit(s.charAt(i + 1), 16) << 4) +
            Character.digit(s.charAt(i + 2), 16)).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  def commit(dir: String, partCol: String, snapshot: Int = 0): Unit = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_manifests"))
      .map(p => root.relativize(p).toString)
      .toSeq.sorted
    finally walk.close()
    def partOf(rel: String): String =
      rel.split('/').find(_.startsWith(partCol + "=")) match {
        case Some(seg) => hiveUnescape(seg.substring(partCol.length + 1))
        case None => ""
      }
    val fileList = files.map { f =>
      s"""    {"path": "${jsonEscape(f)}", "bytes": ${Files.size(root.resolve(f))}, "partition": "${jsonEscape(partOf(f))}"}"""
    }
    val json =
      s"""{
         |  "snapshot": $snapshot,
         |  "partition_column": "${jsonEscape(partCol)}",
         |  "files": [
         |${fileList.mkString(",\n")}
         |  ]
         |}""".stripMargin
    replaceAtomically(root.resolve("_manifests").resolve(f"snapshot-$snapshot%05d.json"), json)
  }

  /** `seq` is the file's DATA SEQUENCE NUMBER (Iceberg v2's ordering primitive):
    * the snapshot id whose commit landed the file; -1 on legacy entries (older
    * than everything — every equality delete applies to them). An equality-delete
    * segment with sequence S applies to exactly the files with seq < S, which is
    * what lets an upsert's own fresh rows survive the delete it rides with.
    *
    * `specId` is the file's PARTITION SPEC id (Iceberg's per-data-file spec_id —
    * the partition-evolution primitive): 0 means "the spec recorded by the
    * snapshot being read" (the only rule tables had before evolution existed, so
    * the field is omitted from the JSON and old manifests parse unchanged); a
    * positive id resolves through the immutable `_manifests/spec-<id>.json`
    * registry — see [[readSpecFile]]. `addPartitionField`/`dropPartitionField`
    * re-stamp every live 0-entry with the explicit id of the OLD default spec
    * before flipping the snapshot's default, so a post-evolution snapshot is
    * fully self-describing and every file's partition values keep the layout
    * they were written under.
    */
  private[sources] case class Entry(path: String, bytes: Long, partition: String, snapshot: Int,
      stats: String = "", seq: Int = -1, rows: Long = -1L, specId: Int = 0)

  /** Effective data sequence for delete ordering: legacy entries order before
    * everything.
    */
  private[sources] def seqOf(e: Entry): Int = if (e.seq < 0) Int.MinValue else e.seq

  /** What a snapshot file REFERENCES, without expanding segments: inline entries
    * (legacy full-list commits) plus immutable segment-file names. The layered form
    * is what keeps DSv2 append commits O(fresh files + segment count) instead of
    * O(every file ever appended) — Iceberg's manifest-list discipline on this layout.
    * `eqDeletes` are equality-delete segment names (merge-on-read by KEY VALUE);
    * `colIds` is the column-id registry ALTER rename/drop maintain (None on tables
    * that never evolved names).
    */
  private[sources] case class SnapshotRefs(snapshot: Int, inline: Seq[Entry], segments: Seq[String],
      schemaDdl: Option[String] = None, deletes: Seq[String] = Nil,
      eqDeletes: Seq[String] = Nil, colIds: Option[String] = None)

  /** Multi-column partition values ride in ONE entry field, joined by the unit
    * separator (a control char: always \\u-escaped in the manifest JSON, never legal
    * in a raw value's Hive directory name, so the join is unambiguous).
    */
  private[sources] val PartSep = '\u001f'

  /** Partition COLUMN spec: names + narrow value types (string | int | date — the
    * production partition-key types; everything else stays a data column). A
    * TRANSFORM makes the column HIDDEN (Iceberg hidden partitioning): its value
    * derives from a source DATA column — `bucket(n, src)` (int), `days(src)` over a
    * timestamp (date), `truncate(w, src)` over a string (string) — the source stays
    * a stored data column, the partition column never appears in the table schema,
    * and predicates on the SOURCE column prune files through the transform.
    */
  private[sources] case class PartCol(name: String, tpe: String,
      transform: Option[PartTransform] = None) {
    require(tpe == "string" || tpe == "int" || tpe == "date",
      s"unsupported partition type '$tpe' for column '$name' (string|int|date)")
  }

  /** kind: bucket (param = bucket count) | days | hours | months (time
    * granularities, param unused) | trunc (param = prefix width); src = the DATA
    * column the value derives from.
    */
  private[sources] case class PartTransform(kind: String, param: Int, src: String) {
    require(kind == "bucket" || kind == "days" || kind == "hours" ||
        kind == "months" || kind == "years" || kind == "trunc",
      s"unknown partition transform '$kind' (bucket|days|hours|months|years|trunc)")
    require(kind != "bucket" || param >= 2, s"bucket($param) needs >= 2 buckets")
    require(kind != "trunc" || param >= 1, s"truncate($param) needs width >= 1")
  }

  /** partition_types token codec: plain `tpe` for identity columns,
    * `tpe:kind:param:src` for transforms (colons never appear in type names and the
    * safe-name grammar bans them in column names, so the split is unambiguous).
    */
  private[sources] def typeTokenOf(pc: PartCol): String = pc.transform match {
    case None => pc.tpe
    case Some(t) => s"${pc.tpe}:${t.kind}:${t.param}:${t.src}"
  }

  /** The `.option("partcol", ...)` grammar token a spec column round-trips to —
    * for error messages a user can paste back.
    */
  private[sources] def specTokenOf(pc: PartCol): String = pc.transform match {
    case None => pc.name
    case Some(t) => t.kind match {
      case "bucket" => s"bucket(${t.param},${t.src})"
      case "days" => s"days(${t.src})"
      case "hours" => s"hours(${t.src})"
      case "months" => s"months(${t.src})"
      case "years" => s"years(${t.src})"
      case _ => s"truncate(${t.param},${t.src})"
    }
  }
  private[sources] def parseTypeToken(name: String, token: String): PartCol =
    token.split(':') match {
      case Array(tpe) => PartCol(name, tpe)
      case Array(tpe, kind, param, src) =>
        PartCol(name, tpe, Some(PartTransform(kind, param.toInt, src)))
      case _ => throw new IllegalArgumentException(
        s"malformed partition type token '$token' for column '$name'")
    }

  /** Writer/reader-side spec reconstruction from the two recorded strings. */
  private[sources] def parsePartSpec(names: String, types: String): Seq[PartCol] = {
    if (names.isEmpty) return Nil
    val nameSeq = names.split(',').toSeq
    val typeSeq = if (types.isEmpty) nameSeq.map(_ => "string") else types.split(',').toSeq
    require(typeSeq.length == nameSeq.length,
      s"partition spec records ${nameSeq.length} columns but ${typeSeq.length} types")
    nameSeq.zip(typeSeq).map { case (n, t) => parseTypeToken(n, t) }
  }

  /** The transform value functions — the ONE definition the writer and the scan's
    * pruning share (a drifted copy would prune files the writer routed elsewhere).
    * The bucket hash is Scala's MurmurHash3 over canonical bytes (big-endian for
    * longs, UTF-8 for strings) — stable across JVMs, part of this table format.
    */
  private[sources] object PartTransforms {
    import scala.util.hashing.MurmurHash3
    private def bucketOfBytes(b: Array[Byte], n: Int): Int =
      Math.floorMod(MurmurHash3.bytesHash(b, 0), n)
    def bucketLong(v: Long, n: Int): Int = {
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
      bucketOfBytes(b, n)
    }
    def bucketString(s: String, n: Int): Int =
      bucketOfBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), n)
    def epochDayOfMicros(us: Long): Long = Math.floorDiv(us, 86400000000L)
    /** hours(ts): whole hours since epoch (Iceberg hour transform). */
    def epochHourOfMicros(us: Long): Long = Math.floorDiv(us, 3600000000L)
    /** months since epoch of a UTC date (Iceberg month transform). */
    def monthsSinceEpoch(d: java.time.LocalDate): Long =
      (d.getYear - 1970).toLong * 12 + d.getMonthValue - 1
    def epochMonthOfMicros(us: Long): Long =
      monthsSinceEpoch(java.time.LocalDate.ofEpochDay(epochDayOfMicros(us)))
    /** years since epoch of a UTC date (Iceberg year transform). */
    def yearsSinceEpoch(d: java.time.LocalDate): Long = (d.getYear - 1970).toLong
    def epochYearOfMicros(us: Long): Long =
      yearsSinceEpoch(java.time.LocalDate.ofEpochDay(epochDayOfMicros(us)))
    def truncString(s: String, w: Int): String = if (s.length <= w) s else s.substring(0, w)
  }

  // escape-aware JSON string body: any run of non-quote/non-backslash chars or \x pairs
  private val JStr = "((?:[^\"\\\\]|\\\\.)*)"

  // Only a COMPLETE name counts as committed: in-flight temp files (".tmp-...") and
  // anything torn must never be read as a snapshot, or a crashed writer would make
  // the table silently read as empty.
  private val SnapshotName = "snapshot-(\\d+)\\.json".r

  /** All committed snapshot files, ascending by NUMERIC id. Sorting the names
    * lexicographically would diverge from latestSnapshotId at id 100000 (the %05d
    * pad overflows: "snapshot-100000" < "snapshot-99999" as strings), making the
    * append path read a stale 'latest' and silently drop the 100000th commit —
    * reachable by design once per-micro-batch streaming snapshots accumulate.
    */
  private def snapshotFiles(dir: String): Seq[String] = {
    val mdir = Paths.get(dir, "_manifests")
    require(Files.isDirectory(mdir), s"no _manifests under $dir — commit a snapshot first")
    listNames(mdir).collect { case n @ SnapshotName(id) => (id.toInt, mdir.resolve(n).toString) }
      .sortBy(_._1).map(_._2)
  }

  /** All committed snapshot ids, ascending — NOT assumed contiguous (expiry
    * removes old ids).
    */
  private[sources] def snapshotIds(dir: String): Seq[Int] =
    listNames(Paths.get(dir, "_manifests")).collect { case SnapshotName(id) => id.toInt }.sorted

  /** The names of the entries directly under `dir`; empty when it is not a directory. */
  private[graft] def listNames(dir: java.nio.file.Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.map(_.getFileName.toString).toList finally stream.close()
    }

  /** Deletes `root` and everything under it, children first; a missing root is a no-op. */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Publishes `body` as `target` iff no file of that name exists; false when one
    * does, whose content is then left unchanged. The body lands in a temp file first
    * (`.tmp-<name>-*.inprogress`, a name no reader lists as a committed file), then
    * `Files.createLink(target, tmp)` claims the final name: hard-link creation is
    * atomic AND fails if the target exists, unlike rename(), which silently replaces
    * and would let two concurrent committers overwrite each other (lost update).
    */
  private[graft] def createOnce(target: java.nio.file.Path, body: String): Boolean =
    viaTemp(target, body) { tmp =>
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }

  /** Atomically replaces `target` (or creates it) with `body`: readers see the old
    * content or the new, never a torn file. For the few mutable sidecars only.
    */
  private[graft] def replaceAtomically(target: java.nio.file.Path, body: String): Unit =
    viaTemp(target, body) { tmp =>
      Files.move(tmp, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

  private val PlainFileMode = java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
    java.nio.file.attribute.PosixFilePermissions.fromString("rw-rw-rw-"))

  private def viaTemp[T](target: java.nio.file.Path, body: String)(
      publish: java.nio.file.Path => T): T = {
    Files.createDirectories(target.getParent)
    // the name is cut so that a long target name cannot push the temp name past the
    // file-name length limit; rw-rw-rw- less the umask is the mode a plain
    // Files.write gives, where createTempFile's default is owner-only
    val tmp = Files.createTempFile(target.getParent,
      s".tmp-${target.getFileName.toString.take(64)}-", ".inprogress", PlainFileMode)
    try {
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      publish(tmp)
    } finally Files.deleteIfExists(tmp)
  }

  /** Highest committed snapshot id, or None before the first commit. */
  private[graft] def latestSnapshotId(dir: String): Option[Int] =
    snapshotIds(dir).lastOption

  private[sources] def readLatest(dir: String): Seq[Entry] = readSnapshot(dir, None)

  private def snapshotFileFor(dir: String, id: Option[Int]): String = {
    val snaps = snapshotFiles(dir)
    require(snaps.nonEmpty, s"empty _manifests under $dir — commit a snapshot first")
    id match {
      case None => snaps.last
      case Some(n) =>
        snaps.find(_.endsWith(f"snapshot-$n%05d.json")).getOrElse(
          throw new IllegalArgumentException(
            s"no committed snapshot $n under $dir (have: ${snaps.map(Paths.get(_).getFileName).mkString(", ")})"))
    }
  }

  private def parseEntries(txt: String, sourceFile: String, snap: Int): Seq[Entry] = {
    // partition key optional: unpartitioned tables carry no partition values (they
    // surface as ""); per-file column
    // stats optional (entries written before the stats feature read as stat-less —
    // they are simply never pruned on data-column bounds)
    val entry =
      (s"\\{\"path\":\\s*\"$JStr\",\\s*\"bytes\":\\s*(\\d+)" +
        s"(?:,\\s*\"partition\":\\s*\"$JStr\")?" +
        s"(?:,\\s*\"stats\":\\s*\"$JStr\")?" +
        s"(?:,\\s*\"seq\":\\s*(\\d+))?" +
        s"(?:,\\s*\"rows\":\\s*(\\d+))?" +
        s"(?:,\\s*\"specid\":\\s*(\\d+))?\\}").r
    val out = entry.findAllMatchIn(txt)
      .map(m => Entry(jsonUnescape(m.group(1)), m.group(2).toLong,
        jsonUnescape(Option(m.group(3)).getOrElse("")), snap,
        jsonUnescape(Option(m.group(4)).getOrElse("")),
        Option(m.group(5)).map(_.toInt).getOrElse(-1),
        Option(m.group(6)).map(_.toLong).getOrElse(-1L),
        Option(m.group(7)).map(_.toInt).getOrElse(0)))
      .toSeq
    // loud failure on format drift: a manifest that lists files we cannot parse must
    // never silently read as an empty table
    require(out.nonEmpty || !txt.contains("\"path\""),
      s"manifest $sourceFile lists files but none matched the entry format")
    out
  }

  /** Inline entries + segment references of a snapshot, WITHOUT expanding segments —
    * the O(metadata) read the append path uses.
    */
  /** The segment names referenced by one snapshot file's JSON — the ONE parser every
    * reader and both GC paths share (a drifted copy would under-compute the
    * referenced set and delete live data).
    */
  private def parseSegmentRefs(txt: String): Seq[String] =
    "\"segments\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt) match {
      case None => Nil
      case Some(m) =>
        s"\"$JStr\"".r.findAllMatchIn(m.group(1)).map(g => jsonUnescape(g.group(1))).toSeq
    }

  /** Positional-DELETE segment names referenced by a snapshot (merge-on-read).
    * The leading quote in the pattern keeps it from matching inside "eqdeletes".
    */
  private def parseDeleteRefs(txt: String): Seq[String] =
    "\"deletes\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt) match {
      case None => Nil
      case Some(m) =>
        s"\"$JStr\"".r.findAllMatchIn(m.group(1)).map(g => jsonUnescape(g.group(1))).toSeq
    }

  /** Equality-DELETE segment names referenced by a snapshot (merge-on-read by key). */
  private def parseEqDeleteRefs(txt: String): Seq[String] =
    "\"eqdeletes\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt) match {
      case None => Nil
      case Some(m) =>
        s"\"$JStr\"".r.findAllMatchIn(m.group(1)).map(g => jsonUnescape(g.group(1))).toSeq
    }

  private[sources] def readSnapshotRefs(dir: String, id: Option[Int]): SnapshotRefs =
    parseRefsFile(snapshotFileFor(dir, id))

  /** One snapshot-format file → SnapshotRefs: the ONE parser the main chain and
    * every branch chain share (same JSON layout, different filename namespace).
    */
  private def parseRefsFile(chosen: String): SnapshotRefs = {
    val txt = new String(Files.readAllBytes(Paths.get(chosen)), StandardCharsets.UTF_8)
    val snap = "\"snapshot\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(0)
    // schema evolution: an overriding full-table schema (DDL) recorded by ALTER
    // TABLE; absent on tables that never evolved (schema then derives from files)
    val ddl = s"\"schema\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1)))
    val colIds = s"\"colids\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1)))
    SnapshotRefs(snap, parseEntries(txt, chosen, snap), parseSegmentRefs(txt), ddl,
      parseDeleteRefs(txt), parseEqDeleteRefs(txt), colIds)
  }

  /** The partition spec recorded in one snapshot-format file (branch heads share
    * the layout with main-chain snapshots).
    */
  private def partitionSpecOfFile(path: String): Seq[PartCol] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val names = s"\"partition_column\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    if (names.isEmpty) return Nil
    val types = s"\"partition_types\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    parsePartSpec(names, types)
  }

  /** Entries of a pinned snapshot id (time travel) or the latest when None: inline
    * entries plus every referenced immutable segment, in reference order.
    */
  private[sources] def readSnapshot(dir: String, id: Option[Int]): Seq[Entry] =
    entriesOf(dir, readSnapshotRefs(dir, id))

  /** Entry expansion of an ALREADY-READ refs value — callers that need entries AND
    * refs use one readSnapshotRefs + this, so both views describe the SAME snapshot
    * (two independent 'latest' reads can straddle a concurrent commit).
    */
  private[sources] def entriesOf(dir: String, refs: SnapshotRefs): Seq[Entry] =
    refs.inline ++ refs.segments.flatMap(readSegmentEntries(dir, _, refs.snapshot))

  /** Entries of ONE immutable segment — lets per-segment operations (DELETE's
    * selective manifest rewrite) avoid materializing the whole table's entry list
    * as a single undifferentiated sequence.
    */
  private[sources] def readSegmentEntries(dir: String, seg: String, snapshot: Int): Seq[Entry] = {
    val segPath = Paths.get(dir, "_manifests", seg)
    require(Files.exists(segPath),
      s"snapshot $snapshot references missing segment $seg")
    parseEntries(new String(Files.readAllBytes(segPath), StandardCharsets.UTF_8),
      segPath.toString, snapshot)
  }

  /** Writes an immutable manifest segment; returns its name for snapshot reference.
    * Unique (UUID) name + temp-then-link publication: a crash leaves only an
    * unreferenced temp or an orphaned complete segment, never a torn referenced one.
    */
  /** One entry's JSON object — path/bytes/partition plus OPTIONAL per-file column
    * stats (min/max bounds the scan prunes on; see ManifestDataSource.FileStats).
    */
  private def entryJson(e: Entry): String = {
    val statsField = if (e.stats.isEmpty) "" else s""", "stats": "${jsonEscape(e.stats)}""""
    val seqField = if (e.seq < 0) "" else s""", "seq": ${e.seq}"""
    // exact per-file record count (Iceberg's record_count): the field COUNT(*)
    // answers from without opening a footer; absent on legacy entries (= unknown)
    val rowsField = if (e.rows < 0) "" else s""", "rows": ${e.rows}"""
    // per-file partition-spec id (partition evolution); 0 = the snapshot's own
    // spec, omitted so never-evolved manifests stay byte-identical
    val specField = if (e.specId <= 0) "" else s""", "specid": ${e.specId}"""
    s"""    {"path": "${jsonEscape(e.path)}", "bytes": ${e.bytes}, "partition": "${jsonEscape(e.partition)}"$statsField$seqField$rowsField$specField}"""
  }

  /** Publishes `body` as a fresh `_manifests/<kind>-<uuid>.json`; returns its name. */
  private def publishUnique(dir: String, kind: String, body: String): String = {
    val name = s"$kind-${java.util.UUID.randomUUID()}.json"
    require(createOnce(Paths.get(dir, "_manifests", name), body), s"$name already exists")
    name
  }

  private[sources] def writeSegment(dir: String, entries: Seq[Entry]): String = {
    val fileList = entries.map(entryJson)
    val json = s"""{\n  "files": [\n${fileList.mkString(",\n")}\n  ]\n}"""
    publishUnique(dir, "seg", json)
  }

  /** Writes an immutable positional-DELETE segment: data-file path -> ascending
    * row positions deleted from it (merge-on-read — Iceberg positional delete
    * files on this layout, JSON for the analog; the production format would be
    * parquet). Same unique-name + temp-then-link publication as data segments.
    */
  private[sources] def writeDeleteSegment(dir: String, byFile: Map[String, Seq[Long]]): String = {
    val body = byFile.toSeq.sortBy(_._1).map { case (path, poss) =>
      s"""    "${jsonEscape(path)}": [${poss.sorted.distinct.mkString(",")}]"""
    }
    val json = s"""{\n  "positions": {\n${body.mkString(",\n")}\n  }\n}"""
    publishUnique(dir, "del", json)
  }

  /** One EQUALITY-delete segment (Iceberg v2 equality delete files on this layout):
    * every row whose `column` value is in `values` is deleted from every data file
    * with data sequence < `seq` — applied at read time against the key column, so
    * the WRITE side never opens a data file (O(keys) commit: the streaming-upsert /
    * GDPR-erasure-by-key primitive). `ctype` is the key's narrow type (long | int |
    * string); values ride as canonical strings.
    */
  private[sources] case class EqDelete(column: String, ctype: String, seq: Int,
      values: Seq[String]) {
    require(ctype == "long" || ctype == "int" || ctype == "string",
      s"unsupported equality-delete key type '$ctype' (long|int|string)")
  }

  /** Writes an immutable equality-delete segment; same unique-name + temp-then-link
    * publication as data segments. Re-written per CAS attempt (the seq must equal
    * the claimed snapshot id) — O(keys) content, rare retries.
    */
  private[sources] def writeEqDeleteSegment(dir: String, d: EqDelete): String = {
    val body = d.values.sorted.distinct.map(v => s"""    "${jsonEscape(v)}"""")
    val json =
      s"""{
         |  "column": "${jsonEscape(d.column)}",
         |  "ctype": "${d.ctype}",
         |  "seq": ${d.seq},
         |  "values": [
         |${body.mkString(",\n")}
         |  ]
         |}""".stripMargin
    publishUnique(dir, "eqd", json)
  }

  private[sources] def readEqDeleteSegment(dir: String, name: String): EqDelete = {
    val p = Paths.get(dir, "_manifests", name)
    require(Files.exists(p), s"snapshot references missing equality-delete segment $name")
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def str(k: String): String = s"\"$k\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1)))
      .getOrElse(throw new IllegalStateException(s"equality-delete segment $name lacks $k"))
    val seq = "\"seq\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"equality-delete segment $name lacks seq"))
    val values = "\"values\"\\s*:\\s*\\[([\\s\\S]*)\\]".r.findFirstMatchIn(txt) match {
      case None => Nil
      case Some(m) =>
        s"\"$JStr\"".r.findAllMatchIn(m.group(1)).map(g => jsonUnescape(g.group(1))).toSeq
    }
    EqDelete(str("column"), str("ctype"), seq, values)
  }

  /** All equality deletes a snapshot references, segment order preserved. */
  private[sources] def eqDeletesOf(dir: String, refs: SnapshotRefs): Seq[EqDelete] =
    refs.eqDeletes.map(readEqDeleteSegment(dir, _))

  /** Equality deletes with key columns RESOLVED to their CURRENT names through the
    * column-id registry (a rename landing after the delete must not orphan it);
    * a delete keyed on a dropped column refuses loudly. THE one resolver the scan
    * and the maintenance rewrites share.
    */
  private[sources] def resolvedEqDeletes(dir: String, refs: SnapshotRefs): Seq[EqDelete] = {
    val dels = eqDeletesOf(dir, refs)
    if (dels.isEmpty) dels
    else {
      val reg = refs.colIds.map(parseColIds).getOrElse(Nil)
      dels.map { d =>
        reg.find(_.names.contains(d.column)) match {
          case Some(c) =>
            require(!c.dropped,
              s"equality delete keyed on dropped column '${d.column}' — compact before dropping delete keys")
            if (c.current == d.column) d else d.copy(column = c.current)
          case None => d
        }
      }
    }
  }

  /** Equality-delete segment names still APPLICABLE over `entries`: a segment whose
    * every live file has data sequence >= its own is spent (rewrites stamped those
    * files with a newer seq after applying it) and folds away.
    */
  private[sources] def liveEqDeletes(dir: String, names: Seq[String],
      entries: Seq[Entry]): Seq[String] =
    if (names.isEmpty) Nil
    else {
      val minSeq = if (entries.isEmpty) Int.MaxValue else entries.map(seqOf).min
      names.filter(n => readEqDeleteSegment(dir, n).seq > minSeq)
    }

  /** Positional-delete segment names still referencing at least one LIVE path — a
    * segment whose every referenced file left the table (whole-file DELETE,
    * copy-on-write rewrite) is dangling, and carrying it would pin every scan in
    * row mode and block footer aggregates indefinitely on a table compaction never
    * happens to touch.
    */
  private[sources] def livePositionalDeletes(dir: String, names: Seq[String],
      livePaths: Set[String]): Seq[String] =
    names.filter(d => readDeleteSegment(dir, d).keysIterator.exists(livePaths.contains))

  // ------------------------------------------------------------- column-id registry
  // Iceberg's field-id indirection on this layout: every DATA column owns a stable
  // integer id; new parquet files stamp the id into their footer schema, so RENAME
  // and DROP are pure metadata edits — the reader resolves a requested id to
  // whatever NAME the column had when each file was written. Files without ids
  // (legacy, or Spark-written maintenance rewrites) resolve through the id's NAME
  // HISTORY instead, which is unambiguous because name REUSE is rejected at ALTER
  // time (a re-added name gets a new id, and id-less files could not tell the two
  // apart). Grammar: comma-joined `<id>:<'!' if dropped><name1>|<name2>|...`,
  // names oldest-to-newest (last = current).

  private[sources] case class ColId(id: Int, dropped: Boolean, names: Seq[String]) {
    def current: String = names.last
  }

  private[sources] val SafeColName = "[A-Za-z_][A-Za-z0-9_]*"

  private[sources] def parseColIds(s: String): Seq[ColId] =
    s.split(',').toSeq.filter(_.nonEmpty).map { part =>
      val i = part.indexOf(':')
      require(i > 0, s"malformed colids entry '$part'")
      val id = part.substring(0, i).toInt
      val rest = part.substring(i + 1)
      val dropped = rest.startsWith("!")
      val names = (if (dropped) rest.substring(1) else rest).split('|').toSeq
      require(names.nonEmpty && names.forall(_.matches(SafeColName)),
        s"malformed colids names in '$part'")
      ColId(id, dropped, names)
    }

  private[sources] def renderColIds(cols: Seq[ColId]): String =
    cols.map(c => s"${c.id}:${if (c.dropped) "!" else ""}${c.names.mkString("|")}").mkString(",")

  /** Fresh id assignment for a table's data columns (bootstrap: the first time ids
    * are needed). None when any name falls outside the safe grammar — the table
    * then simply keeps the legacy no-ids behavior and rename/drop stay rejected.
    */
  private[sources] def colIdsBootstrap(dataCols: Seq[String]): Option[String] =
    if (dataCols.isEmpty || !dataCols.forall(_.matches(SafeColName))) None
    else Some(renderColIds(dataCols.zipWithIndex.map { case (n, i) =>
      ColId(i + 1, dropped = false, Seq(n)) }))

  // ------------------------------------------------------------------ snapshot TAGS
  // Named immutable refs to snapshot ids (Iceberg tag analog): `VERSION AS OF
  // 'name'` resolves through them, and expireSnapshots RETAINS tagged snapshots —
  // the training-reproducibility primitive ("the exact corpus model X trained on"
  // stays readable by name however many snapshots land afterwards).

  private val TagNamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  private def tagPath(dir: String, name: String) =
    Paths.get(dir, "_manifests", s"tag-$name.json")

  /** Creates an IMMUTABLE tag (create-once via hard link — re-tagging a used name
    * fails loudly; delete first to move a name). The snapshot must exist.
    */
  def createTag(dir: String, name: String, snapshot: Int): Unit = {
    require(name.matches(TagNamePattern),
      s"tag name '$name' must match $TagNamePattern")
    snapshotFileFor(dir, Some(snapshot)) // throws on an unknown snapshot
    val json = s"""{\n  "tag": "${jsonEscape(name)}",\n  "snapshot": $snapshot\n}"""
    require(createOnce(tagPath(dir, name), json),
      s"tag '$name' already exists on $dir — tags are immutable; deleteTag first")
  }

  /** Tags the CURRENT latest snapshot (the common "pin what I just built" call);
    * returns the pinned id.
    */
  def tagLatest(dir: String, name: String): Int = {
    val id = latestSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir to tag"))
    createTag(dir, name, id)
    id
  }

  def readTag(dir: String, name: String): Option[Int] = {
    val p = tagPath(dir, name)
    if (!Files.exists(p)) None
    else "\"snapshot\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(_.group(1).toInt)
  }

  def listTags(dir: String): Seq[(String, Int)] = {
    val TagFile = s"tag-($TagNamePattern)\\.json".r
    listNames(Paths.get(dir, "_manifests")).collect { case TagFile(n) => n }
      .sorted.flatMap(n => readTag(dir, n).map(n -> _))
  }

  def deleteTag(dir: String, name: String): Boolean =
    Files.deleteIfExists(tagPath(dir, name))

  /** `VERSION AS OF` argument -> snapshot id: a decimal literal is an id, anything
    * else resolves as a tag name (loud on an unknown tag).
    */
  private[sources] def resolveVersion(dir: String, version: String): Int =
    version.toIntOption.getOrElse(
      readTag(dir, version).getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a snapshot id nor a tag on $dir " +
          s"(tags: ${listTags(dir).map(_._1).mkString(", ")}; " +
          s"branches: ${listBranches(dir).map(_._1).mkString(", ")})")))

  /** One delete segment's path -> positions map. */
  private[sources] def readDeleteSegment(dir: String, name: String): Map[String, Seq[Long]] = {
    val p = Paths.get(dir, "_manifests", name)
    require(Files.exists(p), s"snapshot references missing delete segment $name")
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val rec = s"\"$JStr\"\\s*:\\s*\\[([0-9,\\s]*)\\]".r
    rec.findAllMatchIn(txt).flatMap { m =>
      val path = jsonUnescape(m.group(1))
      if (path == "positions") None // the wrapper key itself never matches [digits]
      else Some(path -> m.group(2).split(',').iterator
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
    }.toMap
  }

  /** Union of every delete segment a snapshot references: data-file path ->
    * SORTED DISTINCT deleted positions. O(total recorded deletes) driver-side —
    * the same metadata scale as the manifest itself.
    */
  private[sources] def deletedPositions(dir: String, refs: SnapshotRefs): Map[String, Array[Long]] =
    if (refs.deletes.isEmpty) Map.empty
    else refs.deletes.flatMap(readDeleteSegment(dir, _).toSeq)
      .groupBy(_._1)
      .map { case (path, chunks) =>
        path -> chunks.flatMap(_._2).distinct.sorted.toArray
      }

  /** Max escaped commit-note size in UTF-8 BYTES (not chars: jsonEscape passes
    * non-ASCII through, so 200 CJK chars are 600 bytes). noteOf reads only the first
    * NoteHeadBytes of a snapshot file; a note whose closing quote fell outside that
    * head would silently never match — voiding exactly-once dedup — so over-long
    * notes are rejected at write time instead. 256 + the ~40-byte JSON preamble
    * stays safely inside the 512-byte probe.
    */
  private[sources] val MaxNoteLength = 256
  private val NoteHeadBytes = 512

  /** Column-default metadata keys (Spark's own ResolveDefaultColumns contract):
    * CURRENT_DEFAULT fills INSERTs that omit the column; EXISTS_DEFAULT is the
    * value rows written BEFORE the column existed serve at read time.
    */
  private[sources] val CurrentDefaultKey = "CURRENT_DEFAULT"
  private[sources] val ExistsDefaultKey = "EXISTS_DEFAULT"

  private[sources] def schemaHasDefaults(s: StructType): Boolean =
    s.fields.exists(f => f.metadata.contains(CurrentDefaultKey) ||
      f.metadata.contains(ExistsDefaultKey))

  /** Schema text for snapshot storage. Plain DDL normally; Spark's JSON form when
    * any field carries column-DEFAULT metadata — StructType.toDDL EMITS a
    * `DEFAULT <sql>` clause that StructType.fromDDL cannot parse back (verified on
    * Spark 4.1), while the JSON form round-trips field metadata exactly. Old
    * snapshots always stored DDL, so parseSchema dispatches on the leading '{'.
    */
  private[sources] def renderSchema(s: StructType): String =
    if (schemaHasDefaults(s)) s.json else s.toDDL

  private[sources] def parseSchema(txt: String): StructType =
    if (txt.trim.startsWith("{"))
      org.apache.spark.sql.types.DataType.fromJson(txt).asInstanceOf[StructType]
    else StructType.fromDDL(txt)

  /** Publishes an explicit entry list as snapshot `id` iff that id is still unclaimed
    * (`createOnce`). Returns false when the id was taken; the caller re-reads the
    * latest state and retries with the next id — optimistic concurrency, the Iceberg
    * commit protocol in miniature.
    */
  private[sources] def tryWriteSnapshot(dir: String, partCol: String,
      entries: Seq[Entry], id: Int, note: String = ""): Boolean =
    tryWriteSnapshotRefs(dir, partCol, entries, Nil, id, note)

  /** The layered form: a snapshot may carry inline entries AND references to
    * immutable segment files. Appends publish one fresh segment + the previous
    * reference list, so commit cost scales with metadata (segment count), never with
    * the table's total file count.
    */
  private[sources] def tryWriteSnapshotRefs(dir: String, partCol: String,
      inline: Seq[Entry], segments: Seq[String], id: Int, note: String = "",
      partTypes: String = "", schemaDdl: Option[String] = None,
      deletes: Seq[String] = Nil, eqDeletes: Seq[String] = Nil,
      colIds: Option[String] = None, operation: String = "",
      fileName: Option[String] = None): Boolean = {
    require(jsonEscape(note).getBytes(StandardCharsets.UTF_8).length <= MaxNoteLength,
      s"commit note too long (escaped max $MaxNoteLength UTF-8 bytes) — " +
        "the note must fit the fixed-size head probe that keeps dedup O(1) bytes/snapshot")
    // the operation tag is introspection (the `.snapshots` metadata table), part
    // of the FIXED-SIZE head: a short token from a closed set, never user data
    require(operation.matches("[a-z-]{0,24}"),
      s"snapshot operation tag must be a short lowercase token, got '$operation'")
    val fileList = inline.map(entryJson)
    // `note` rides INSIDE the atomic publication — the exactly-once hook: a streaming
    // sink stamps its micro-batch id here, so "was batch B committed?" and "commit
    // batch B" can never be observed apart (see ManifestStreamSink). It stays in the
    // fixed-size HEAD, before the growing segments/files lists, so noteOf's probe
    // holds no matter how large the table gets.
    val noteLine = if (note.isEmpty) "" else s"""  "note": "${jsonEscape(note)}",\n"""
    val segLine =
      if (segments.isEmpty) ""
      else s"""  "segments": [${segments.map(s => s""""${jsonEscape(s)}"""").mkString(", ")}],\n"""
    // merge-on-read positional-delete segment references (applied at read time;
    // folded away by data-file compaction)
    val delLine =
      if (deletes.isEmpty) ""
      else s"""  "deletes": [${deletes.map(s => s""""${jsonEscape(s)}"""").mkString(", ")}],\n"""
    // merge-on-read EQUALITY-delete segment references (applied at read time
    // against key columns; folded away once every older file is rewritten)
    val eqDelLine =
      if (eqDeletes.isEmpty) ""
      else s"""  "eqdeletes": [${eqDeletes.map(s => s""""${jsonEscape(s)}"""").mkString(", ")}],\n"""
    // column-id registry (rename/drop schema evolution); rides next to the DDL
    val colIdsLine = colIds.fold("")(c => s"""  "colids": "${jsonEscape(c)}",\n""")
    // multi-column/typed partitions: names stay comma-joined in partition_column
    // (back-compat: a single untyped name reads as one string column), value types
    // ride in partition_types
    val typesLine =
      if (partTypes.isEmpty) "" else s"""  "partition_types": "${jsonEscape(partTypes)}",\n"""
    // schema evolution: the full-table schema (DDL) recorded by ALTER TABLE and
    // propagated through every later append/compaction; stays after the fixed-size
    // note head (a wide table's DDL may exceed the note probe window)
    val schemaLine = schemaDdl.fold("")(d => s"""  "schema": "${jsonEscape(d)}",\n""")
    // commit timestamp (ms): TIMESTAMP AS OF resolution; lives in the fixed-size
    // head (short + before the growing lists, so the note probe still holds)
    val opLine = if (operation.isEmpty) "" else s"""  "op": "$operation",\n"""
    val json =
      s"""{
         |  "snapshot": $id,
         |  "ts": ${System.currentTimeMillis()},
         |$opLine$noteLine  "partition_column": "${jsonEscape(partCol)}",
         |$typesLine$schemaLine$colIdsLine$segLine$delLine$eqDelLine  "files": [
         |${fileList.mkString(",\n")}
         |  ]
         |}""".stripMargin
    createOnce(Paths.get(dir, "_manifests", fileName.getOrElse(f"snapshot-$id%05d.json")), json)
  }

  /** Roll the table back to `target`'s state by publishing a NEW head whose refs
    * are the target snapshot's refs verbatim (Iceberg's rollback_to_snapshot): the
    * rolled-back snapshots stay in history — time travel still serves them, and
    * reclamation belongs to expireSnapshots — the head's operation tag reads
    * "rollback" (surfaced by the `.snapshots` metadata table), and the commit uses
    * the same optimistic hard-link CAS as every write. Cost is O(target's
    * METADATA): inline entries and segment NAMES are re-referenced, never copied
    * or rewritten. The partition spec, schema DDL, column-id registry, and both
    * delete-segment lists revert with the files, so a rollback across a respec /
    * rename / widening restores the WHOLE table state, and later appends lay out
    * under the restored spec. Restored equality/positional deletes stay correct
    * for post-rollback appends because fresh files commit with fresh (higher)
    * sequence numbers — an old delete segment never applies to them. Returns the
    * new head id, or `target` itself when the table is already there.
    */
  def rollbackTo(dir: String, target: Int): Int = {
    var attempt = 0
    while (true) {
      val latest = latestSnapshotId(dir)
      require(latest.isDefined, s"no committed snapshot under $dir — nothing to roll back")
      require(target <= latest.get,
        s"cannot roll back $dir to snapshot $target: latest is ${latest.get}")
      if (target == latest.get) return target
      val refs = readSnapshotRefs(dir, Some(target)) // throws on unknown/expired ids
      val spec = readPartitionSpec(dir, Some(target))
      val next = latest.get + 1
      if (tryWriteSnapshotRefs(dir, spec.map(_.name).mkString(","), refs.inline,
          refs.segments, next, partTypes = spec.map(typeTokenOf).mkString(","),
          schemaDdl = refs.schemaDdl, deletes = refs.deletes,
          eqDeletes = refs.eqDeletes, colIds = refs.colIds,
          operation = "rollback")) return next
      // CAS loss: a concurrent commit took our id. Like compaction, rollback is
      // maintenance — retry briefly, then defer to live traffic.
      attempt += 1
      require(attempt < 8,
        s"rollbackTo($dir, $target) lost the snapshot race $attempt times — " +
          "table under sustained write traffic; quiesce writers and re-run")
      Thread.sleep(50L * attempt +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 50))
    }
    -1 // unreachable
  }

  /** Re-apply one snapshot's APPEND delta onto the current head (Iceberg's
    * cherrypick_snapshot) — the natural companion of rollbackTo: roll past a bad
    * commit, then cherry-pick the good commits that followed it. The files
    * `target` added relative to its parent (id target-1: history is linear in
    * this format) are re-referenced from the head with FRESH sequence numbers —
    * like a new append, so current equality-delete segments never retroactively
    * apply to them — and the head's spec/schema/registry/delete lists carry
    * unchanged. Refuses loudly unless the pick is provably safe: the target must
    * be a pure append (no removals, no delete-segment changes vs its parent), its
    * partition spec must match the CURRENT head's (its files' layout must route
    * under the live spec), none of its added paths may already be live (double
    * apply), and the files must still exist on disk (not yet GC'd). O(target +
    * parent + head metadata); no data file is read or copied.
    */
  def cherrypick(dir: String, target: Int): Int = {
    var attempt = 0
    while (true) {
      val latest = latestSnapshotId(dir)
      require(latest.isDefined, s"no committed snapshot under $dir — nothing to cherry-pick")
      require(target >= 1 && target <= latest.get,
        s"cannot cherry-pick snapshot $target of $dir: need 1..${latest.get} " +
          "(snapshot 0 has no parent — roll back to it instead)")
      val tRefs = readSnapshotRefs(dir, Some(target))
      val pRefs = readSnapshotRefs(dir, Some(target - 1)) // loud error if expired
      val tEntries = entriesOf(dir, tRefs)
      val tPaths = tEntries.map(_.path).toSet
      val pPaths = entriesOf(dir, pRefs).map(_.path).toSet
      val removed = pPaths.toSeq.filterNot(tPaths)
      require(removed.isEmpty,
        s"snapshot $target of $dir is not a pure append (removed ${removed.length} " +
          "files vs its parent) — only append snapshots cherry-pick cleanly")
      require(tRefs.deletes == pRefs.deletes && tRefs.eqDeletes == pRefs.eqDeletes,
        s"snapshot $target of $dir changed delete segments vs its parent — " +
          "row-level commits do not cherry-pick")
      // IDENTITY-column equality — names, types, order: an identity-column
      // rename keeps the same type token but re-routes every value to a
      // different column, exactly the silent-wrong-results class this refusal
      // exists for. HIDDEN-field drift (a respec between target and head)
      // composes instead: the picked entries get stamped with the target spec's
      // registry id, so per-file resolution keeps their routing/pruning exact.
      val tSpec = readPartitionSpec(dir, Some(target))
      val headSpec = readPartitionSpec(dir, Some(latest.get))
      require(tSpec.filter(_.transform.isEmpty) == headSpec.filter(_.transform.isEmpty),
        s"snapshot $target of $dir was laid out under spec " +
          s"'${tSpec.map(specTokenOf).mkString(",")}' but the head records " +
          s"'${headSpec.map(specTokenOf).mkString(",")}' — " +
          "identity layout changed; files cannot re-route")
      val pickStamp = if (tSpec == headSpec) 0 else ensureSpecId(dir, tSpec)
      val added = tEntries.filterNot(e => pPaths.contains(e.path))
      require(added.nonEmpty, s"snapshot $target of $dir added no files — nothing to pick")
      val headRefs = readSnapshotRefs(dir, Some(latest.get))
      val live = entriesOf(dir, headRefs).map(_.path).toSet
      val dup = added.map(_.path).filter(live)
      require(dup.isEmpty,
        s"cherry-pick of snapshot $target would double-apply ${dup.length} files " +
          s"already live at the head (e.g. ${dup.head})")
      val gone = added.map(_.path).filterNot(p => Files.exists(Paths.get(dir, p)))
      require(gone.isEmpty,
        s"snapshot $target's files were already garbage-collected " +
          s"(e.g. ${gone.head}) — nothing left to re-reference")
      val next = latest.get + 1
      if (tryWriteSnapshotRefs(dir, headSpec.map(_.name).mkString(","),
          headRefs.inline ++ added.map(e => e.copy(seq = next,
            specId = if (e.specId == 0) pickStamp else e.specId)),
          headRefs.segments, next,
          partTypes = headSpec.map(typeTokenOf).mkString(","),
          schemaDdl = headRefs.schemaDdl, deletes = headRefs.deletes,
          eqDeletes = headRefs.eqDeletes, colIds = headRefs.colIds,
          operation = "cherrypick")) return next
      attempt += 1
      require(attempt < 8,
        s"cherrypick($dir, $target) lost the snapshot race $attempt times — " +
          "table under sustained write traffic; re-run later")
      Thread.sleep(50L * attempt +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 50))
    }
    -1 // unreachable
  }

  // --------------------------------------------------- STAGED snapshots (WAP)
  // Write-audit-publish (Iceberg's spark.wap.id stage-only commits): an append
  // lands as `staged-<wapid>.json` OUTSIDE the snapshot-NNNNN namespace — no
  // reader, committer, or CAS loop ever sees it — carrying its delta entries
  // INLINE (self-contained: no segment a snapshot-driven GC could reclaim) plus
  // the head id it was derived from. An audit read serves parent + delta through
  // the normal scan; `publishStaged` re-applies the delta onto the LIVE head with
  // cherry-pick's validation rules (fresh sequence numbers, spec equality, no
  // double apply); `discardStaged` drops the staged head and leaves the data
  // files to removeOrphans — which treats staged heads as reference roots, so an
  // un-published audit candidate can sit for days without losing its files.

  private[sources] case class Staged(wapId: String, parent: Int, partCol: String,
      partTypes: String, entries: Seq[Entry])

  private def stagedPath(dir: String, wapId: String) = {
    require(wapId.matches(TagNamePattern),
      s"wap id '$wapId' must match $TagNamePattern")
    Paths.get(dir, "_manifests", s"staged-$wapId.json")
  }

  /** Stages an append delta under `wapId` (create-once: a reused id fails loudly
    * — two writers staging the same audit id is a coordination bug, not a race to
    * serialize). `parent` is the head the writer derived from; publication
    * re-validates against the live head, so parent is provenance, not a lock.
    */
  private[sources] def writeStaged(dir: String, wapId: String, parent: Int,
      partCol: String, partTypes: String, entries: Seq[Entry]): Unit = {
    require(entries.nonEmpty, s"staged write '$wapId' added no files — nothing to audit")
    val typesLine =
      if (partTypes.isEmpty) "" else s"""  "partition_types": "${jsonEscape(partTypes)}",\n"""
    val json =
      s"""{
         |  "wap": "${jsonEscape(wapId)}",
         |  "parent": $parent,
         |  "ts": ${System.currentTimeMillis()},
         |  "partition_column": "${jsonEscape(partCol)}",
         |$typesLine  "files": [
         |${entries.map(entryJson).mkString(",\n")}
         |  ]
         |}""".stripMargin
    require(createOnce(stagedPath(dir, wapId), json),
      s"wap id '$wapId' is already staged on $dir — publish or discard it first")
  }

  private[sources] def readStaged(dir: String, wapId: String): Staged = {
    val p = stagedPath(dir, wapId)
    require(Files.exists(p),
      s"no staged write '$wapId' on $dir (staged: ${listStaged(dir).map(_._1).mkString(", ")})")
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val parent = "\"parent\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"staged head $p carries no parent id"))
    val partCol = s"\"partition_column\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    val partTypes = s"\"partition_types\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    Staged(wapId, parent, partCol, partTypes, parseEntries(txt, p.toString, parent))
  }

  /** The staged parent id alone, from the FIXED-SIZE head (wap/parent/ts lead the
    * JSON) — plan-time probes and listings never parse the delta's entry list.
    */
  private[sources] def readStagedParent(dir: String, wapId: String): Int = {
    val p = stagedPath(dir, wapId)
    require(Files.exists(p),
      s"no staged write '$wapId' on $dir (staged: ${listStaged(dir).map(_._1).mkString(", ")})")
    "\"parent\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(headOf(p))
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"staged head $p carries no parent id"))
  }

  private[sources] def listStaged(dir: String): Seq[(String, Int)] = {
    val StagedFile = s"staged-($TagNamePattern)\\.json".r
    listNames(Paths.get(dir, "_manifests")).collect { case StagedFile(n) => n }
      .sorted.map(n => n -> readStagedParent(dir, n))
  }

  /** Cheap existence probe (no parse): the write path's schema-inference options
    * flow through pinFromOptions before the stage exists.
    */
  private[sources] def stagedExists(dir: String, wapId: String): Boolean =
    Files.exists(stagedPath(dir, wapId))

  /** Drops a staged write without publishing (audit failed). The delta's data
    * files become ordinary orphans — reclaimed by removeOrphans after its age
    * guard, never eagerly (a concurrent audit reader may still be scanning them).
    */
  private[sources] def discardStaged(dir: String, wapId: String): Boolean =
    Files.deleteIfExists(stagedPath(dir, wapId))

  /** Publishes a staged write onto the CURRENT head (Iceberg's WAP publish,
    * implemented with cherry-pick's append-delta rules): the staged entries are
    * re-referenced with fresh sequence numbers — current equality-delete segments
    * never retroactively apply to them — and the head's spec, schema, registry,
    * and delete lists carry unchanged. Commits that landed between stage and
    * publish are fine (that's the point of WAP); the refusals are the provable
    * unsafeties: spec drift since stage time (files route under a different
    * layout), a path already live at the head (double apply), or a delta file
    * GC'd while staged (discard + restage instead). The staged head is deleted
    * AFTER the snapshot lands; a crash in between leaves a harmless already-
    * published staged file whose re-publish attempt refuses as a double apply.
    */
  private[sources] def publishStaged(dir: String, wapId: String): Int = {
    val staged = readStaged(dir, wapId)
    // exactly-once across the crash window: the publish commit carries note
    // `wap-<id>`, so a staged head surviving a crash-after-CAS (or restaged with
    // the same id) cannot re-apply even after a rewrite/compaction moves the
    // published rows into new paths — the live-path double-apply check below
    // would no longer see them, but the note (persisted across snapshot expiry
    // by the expired-notes sidecar) still refuses. Same pin-id-then-check-note
    // ordering as every noted commit.
    val note = s"wap-$wapId"
    var attempt = 0
    while (true) {
      val latest = latestSnapshotId(dir)
      require(latest.isDefined, s"no committed snapshot under $dir — nothing to publish onto")
      if (hasCommittedNote(dir, note)) {
        discardStaged(dir, wapId) // consume the leftover; the publish already landed
        return latest.get
      }
      val headSpec = readPartitionSpec(dir, Some(latest.get))
      val stagedSpec = parsePartSpec(staged.partCol, staged.partTypes)
      val sameSpec = stagedSpec == headSpec
      // a PARTITION EVOLUTION between stage and publish (hidden fields only)
      // composes: the delta's entries get stamped with their OWN spec's registry
      // id, so per-file resolution keeps their routing/pruning exact under the
      // evolved head. An identity change (overwrite respec) still refuses —
      // identity values exist only in the manifest and cannot re-route.
      require(sameSpec ||
          stagedSpec.filter(_.transform.isEmpty) == headSpec.filter(_.transform.isEmpty),
        s"staged write '$wapId' was laid out under spec '${staged.partCol}' but the " +
          s"head records '${headSpec.map(specTokenOf).mkString(",")}' — " +
          "identity layout changed; files cannot re-route; discard and restage")
      val stampId = if (sameSpec) 0 else ensureSpecId(dir, stagedSpec)
      val headRefs = readSnapshotRefs(dir, Some(latest.get))
      val live = entriesOf(dir, headRefs).map(_.path).toSet
      val dup = staged.entries.map(_.path).filter(live)
      require(dup.isEmpty,
        s"publishing staged write '$wapId' would double-apply ${dup.length} files " +
          s"already live at the head (e.g. ${dup.head}) — was it published before?")
      val gone = staged.entries.map(_.path).filterNot(p => Files.exists(Paths.get(dir, p)))
      require(gone.isEmpty,
        s"staged write '$wapId' references files no longer on disk (e.g. ${gone.head}) " +
          "— garbage-collected while staged; discard and restage")
      val next = latest.get + 1
      if (tryWriteSnapshotRefs(dir, headSpec.map(_.name).mkString(","),
          headRefs.inline ++ staged.entries.map(e => e.copy(snapshot = next, seq = next,
            specId = if (e.specId == 0) stampId else e.specId)),
          headRefs.segments, next, note = note,
          partTypes = headSpec.map(typeTokenOf).mkString(","),
          schemaDdl = headRefs.schemaDdl, deletes = headRefs.deletes,
          eqDeletes = headRefs.eqDeletes, colIds = headRefs.colIds,
          operation = "publish")) {
        discardStaged(dir, wapId)
        return next
      }
      attempt += 1
      require(attempt < 8,
        s"publishStaged($dir, $wapId) lost the snapshot race $attempt times — " +
          "table under sustained write traffic; re-run later")
      Thread.sleep(50L * attempt +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 50))
    }
    -1 // unreachable
  }

  // ------------------------------------------------------------------ BRANCHES
  // Named WRITABLE refs (Iceberg branches): a branch forks from a main-chain
  // snapshot and carries its own linear chain of commits in a parallel
  // `branch-<name>-snapshot-NNNNN.json` namespace — the SAME snapshot file
  // format, the same hard-link CAS, the same O(fresh + segments) append cost —
  // while `branchref-<name>.json` records the fork point: the main snapshot id
  // the branch state is based on. Reads and writes select a branch with
  // `.option("branch", <name>)`; `fastForward` publishes the branch state back
  // onto main when (and only when) main still sits at the fork point, then
  // advances the fork pointer so the append → audit → fast-forward cycle
  // repeats. Branch commits are APPEND-ONLY — the provably-safe republish set:
  // a branch overwrite/upsert would need main-chain delete ordering that a
  // fork-relative numbering cannot express. Branch appends stamp their fresh
  // entries with data sequence base+K — strictly above every fork-carried
  // sequence — so equality deletes carried from main never retroactively
  // swallow branch-appended rows, and fast-forward can tell carried segments
  // from branch-local ones by sequence alone, with no second bookkeeping file.

  private def branchRefPath(dir: String, name: String) = {
    require(name.matches(TagNamePattern),
      s"branch name '$name' must match $TagNamePattern")
    Paths.get(dir, "_manifests", s"branchref-$name.json")
  }

  private def branchSnapName(name: String, id: Int) =
    f"branch-$name-snapshot-$id%05d.json"

  /** Forks a branch from main snapshot `at` (default: the current head). The
    * branch NAME is the create-once claim (hard link — two creators of one name
    * is a coordination bug, refused loudly); branch snapshot 0 then re-references
    * the fork state verbatim, O(metadata), nothing copied. A crash in between
    * leaves a torn branch that reads loudly — drop_branch and recreate.
    */
  def createBranch(dir: String, name: String, at: Option[Int] = None): Int = {
    val base = at.getOrElse(latestSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot under $dir — nothing to branch from")))
    val refs = readSnapshotRefs(dir, Some(base)) // loud on an unknown id
    val spec = readPartitionSpec(dir, Some(base))
    require(createOnce(branchRefPath(dir, name), branchRefJson(name, base)),
      s"branch '$name' already exists on $dir")
    val ok = tryWriteSnapshotRefs(dir, spec.map(_.name).mkString(","), refs.inline,
      refs.segments, 0, partTypes = spec.map(typeTokenOf).mkString(","),
      schemaDdl = refs.schemaDdl, deletes = refs.deletes, eqDeletes = refs.eqDeletes,
      colIds = refs.colIds, operation = "fork",
      fileName = Some(branchSnapName(name, 0)))
    require(ok, s"branch '$name' left a torn chain on $dir — drop it and recreate")
    base
  }

  private def branchRefJson(name: String, base: Int): String =
    s"""{"branch": "${jsonEscape(name)}", "base": $base, "ts": ${System.currentTimeMillis()}}"""

  private[sources] def branchExists(dir: String, name: String): Boolean =
    Files.exists(branchRefPath(dir, name))

  /** The branch's fork point: the main snapshot id its state is based on (advanced
    * by each successful fastForward).
    */
  private[sources] def readBranchBase(dir: String, name: String): Int = {
    val p = branchRefPath(dir, name)
    require(Files.exists(p), s"no branch '$name' on $dir " +
      s"(have: ${listBranches(dir).map(_._1).mkString(", ")})")
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    "\"base\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"branch ref $p carries no base id"))
  }

  private def branchSnapshotFiles(dir: String, name: String): Seq[(Int, String)] = {
    val mdir = Paths.get(dir, "_manifests")
    val B = (java.util.regex.Pattern.quote(s"branch-$name-snapshot-") + "(\\d+)\\.json").r
    listNames(mdir).collect { case n @ B(id) => (id.toInt, mdir.resolve(n).toString) }
      .sortBy(_._1)
  }

  /** Highest branch-local snapshot id (0 = the fork state, K = K appends since). */
  private[sources] def branchHeadId(dir: String, name: String): Option[Int] = {
    val ids = branchSnapshotFiles(dir, name).map(_._1)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The branch chain file serving branch-local id `id` (head when None) — the
    * ONE selection every branch read shares.
    */
  private def chosenBranchFile(dir: String, name: String, id: Option[Int]): String = {
    val files = branchSnapshotFiles(dir, name)
    require(files.nonEmpty,
      s"branch '$name' on $dir has no snapshot 0 — torn create; drop it and recreate")
    id match {
      case None => files.last._2
      case Some(n) => files.find(_._1 == n).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $n on branch '$name' of $dir (have: ${files.map(_._1).mkString(", ")})"))
    }
  }

  private[sources] def readBranchRefs(dir: String, name: String,
      id: Option[Int] = None): SnapshotRefs = {
    require(branchExists(dir, name), s"no branch '$name' on $dir " +
      s"(have: ${listBranches(dir).map(_._1).mkString(", ")})")
    parseRefsFile(chosenBranchFile(dir, name, id))
  }

  private[sources] def readBranchPartitionSpec(dir: String, name: String,
      id: Option[Int] = None): Seq[PartCol] =
    partitionSpecOfFile(chosenBranchFile(dir, name, id))

  /** (name, fork base, branch head id) per branch, name-sorted. */
  def listBranches(dir: String): Seq[(String, Int, Int)] = {
    val R = s"branchref-($TagNamePattern)\\.json".r
    listNames(Paths.get(dir, "_manifests")).collect { case R(n) => n }.sorted.map(n =>
      (n, readBranchBase(dir, n), branchHeadId(dir, n).getOrElse(-1)))
  }

  /** Drops the ref and the branch's chain files. Fork-shared segments stay
    * referenced by main snapshots; branch-appended segments and data files become
    * ordinary orphans for removeOrphans (never reclaimed eagerly — a concurrent
    * branch reader may still be scanning them).
    */
  def dropBranch(dir: String, name: String): Boolean = {
    val had = Files.deleteIfExists(branchRefPath(dir, name))
    branchSnapshotFiles(dir, name).foreach { case (_, f) =>
      Files.deleteIfExists(Paths.get(f)) }
    had
  }

  /** One branch append commit: the fresh entries land as a new segment on the
    * branch chain under the branch's own CAS. Fresh entries are stamped data
    * sequence base + K (K = the new branch snapshot id) — strictly above every
    * fork-carried sequence, see the section comment. Returns the branch head id.
    */
  private[sources] def appendToBranch(dir: String, name: String, partCol: String,
      partTypes: String, fresh: Seq[Entry]): Int = {
    val base = readBranchBase(dir, name)
    var attempt = 0
    while (true) {
      val head = branchHeadId(dir, name).getOrElse(throw new IllegalStateException(
        s"branch '$name' on $dir has no snapshot 0 — torn create; drop it and recreate"))
      val prev = readBranchRefs(dir, name, Some(head))
      // the branch head's own spec, pinned to THIS attempt's head read: branch
      // chains never respec (append-only), but the WRITER laid its files out under
      // the MAIN table's current spec — if main redefined the layout after the
      // fork, these files cannot join the branch
      val spec = readBranchPartitionSpec(dir, name, Some(head))
      require(spec.map(_.name).mkString(",") == partCol &&
          spec.map(typeTokenOf).mkString(",") == partTypes,
        s"branch '$name' records spec '${spec.map(specTokenOf).mkString(",")}' but " +
          s"this write's files were laid out under '$partCol' (the main table's " +
          "current spec) — main was respec'd after the fork; drop and re-fork")
      val next = head + 1
      val stamped = fresh.map(_.copy(snapshot = next, seq = base + next))
      val freshSeg =
        if (stamped.isEmpty) None else Some(writeSegment(dir, stamped))
      // fold fork-carried inline entries into their own segment once, like main
      val inlineSeg =
        if (prev.inline.isEmpty) None else Some(writeSegment(dir, prev.inline))
      if (tryWriteSnapshotRefs(dir, partCol, Nil,
          prev.segments ++ inlineSeg ++ freshSeg, next, partTypes = partTypes,
          schemaDdl = prev.schemaDdl, deletes = prev.deletes,
          eqDeletes = prev.eqDeletes, colIds = prev.colIds, operation = "append",
          fileName = Some(branchSnapName(name, next))))
        return next
      attempt += 1
      require(attempt < 8,
        s"append to branch '$name' of $dir lost the snapshot race $attempt times — " +
          "sustained contention; rerun or reduce concurrent committers")
      Thread.sleep(50L * attempt +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 50))
    }
    -1 // unreachable
  }

  /** Publishes the branch's state onto main — Iceberg's fast_forward. Valid only
    * while main still sits at the branch's fork point; anything else is a genuine
    * merge, which is cherrypick's job, commit by commit. Fork-carried segments
    * (every entry's sequence ≤ base) are re-referenced by NAME; branch-appended
    * entries are RESTAMPED to the new main sequence in one fresh segment —
    * branch-local sequences (base+K) live in a numbering main will reuse, and a
    * later main equality delete at sequence base+2 would skip a branch row still
    * stamped base+3, resurrecting it. Restamping to `next` (= base+1, below every
    * future main sequence) keeps delete ordering exact; the relative order WITHIN
    * the branch collapses harmlessly — branches are append-only, so no
    * intra-branch delete can distinguish them. After publishing, the fork pointer
    * advances to the new head, so the append → fast-forward cycle repeats. A
    * crash between publish and pointer advance leaves the branch refusing the
    * next fastForward ("main advanced") — drop and re-fork. O(branch metadata).
    */
  def fastForward(dir: String, name: String): Int = {
    val base = readBranchBase(dir, name)
    // the fork-point check guards the NO-OP path too: a caller keying follow-up
    // work off the returned head id must never get a stale id back as "success"
    val mainLatest = latestSnapshotId(dir)
    require(mainLatest.contains(base),
      s"main is at snapshot ${mainLatest.getOrElse(-1)} but branch '$name' forked " +
        s"from $base — not fast-forwardable; cherry-pick the branch commits instead")
    if (branchHeadId(dir, name).contains(0)) return base // nothing to publish
    val head = readBranchRefs(dir, name, None)
    val next = base + 1
    val spec = readBranchPartitionSpec(dir, name)
    // classify by SEQUENCE, segment-atomically: every segment was written by one
    // commit, so it is either entirely fork-carried or entirely branch-appended —
    // a mix is chain corruption and must fail loudly, not half-restamp
    val segEntries = head.segments.map(s => s -> readSegmentEntries(dir, s, head.snapshot))
    val (carriedSegs, freshSegs) = segEntries.partition {
      case (_, es) => es.forall(e => seqOf(e) <= base)
    }
    freshSegs.foreach { case (s, es) =>
      require(es.forall(e => seqOf(e) > base),
        s"branch '$name' segment $s mixes fork-carried and branch-appended " +
          "sequences — corrupt chain; drop the branch") }
    val (carriedInline, freshInline) = head.inline.partition(e => seqOf(e) <= base)
    val restamped = (freshSegs.flatMap(_._2) ++ freshInline)
      .map(e => e.copy(snapshot = next, seq = next))
    val freshSeg = if (restamped.isEmpty) None else Some(writeSegment(dir, restamped))
    val ok = tryWriteSnapshotRefs(dir, spec.map(_.name).mkString(","), carriedInline,
      carriedSegs.map(_._1) ++ freshSeg, next,
      partTypes = spec.map(typeTokenOf).mkString(","), schemaDdl = head.schemaDdl,
      deletes = head.deletes, eqDeletes = head.eqDeletes, colIds = head.colIds,
      operation = "fastforward")
    require(ok, s"main advanced while fast-forwarding branch '$name' — no longer " +
      "at the fork point; cherry-pick the branch commits instead")
    // advance the fork pointer (atomic replace — the ONLY mutation of a ref file)
    replaceAtomically(branchRefPath(dir, name), branchRefJson(name, next))
    next
  }

  /** Maintenance: fold the latest snapshot's inline entries + every segment into ONE
    * fresh segment and publish it as a new snapshot (Iceberg's rewrite_manifests
    * analog). Appends stay O(metadata) forever; compaction is the explicitly-paid
    * O(total files) pass, run when the segment list has grown long. Old snapshots
    * keep referencing their original (immutable, never-deleted) segments, so time
    * travel is unaffected. Returns the new snapshot id, or None when the table is
    * already a single segment with no inline entries (nothing to fold).
    */
  def compact(dir: String): Option[Int] = {
    var result: Option[Int] = None
    var done = false
    var attempt = 0
    while (!done) {
      val latest = latestSnapshotId(dir)
      require(latest.isDefined, s"no committed snapshot under $dir — nothing to compact")
      val refs = readSnapshotRefs(dir, None)
      if (refs.inline.isEmpty && refs.segments.length <= 1) { done = true }
      else {
        val entries = entriesOf(dir, refs)
        val folded = writeSegment(dir, entries)
        // positional-delete segments carry forward, dropping any whose every
        // referenced path has left the table (dangling after copy-on-write
        // rewrites or whole-file deletes)
        val livePaths = entries.map(_.path).toSet
        val liveDels = livePositionalDeletes(dir, refs.deletes, livePaths)
        val next = latest.get + 1
        if (tryWriteSnapshotRefs(dir, readPartitionColumn(dir), Nil, Seq(folded), next,
            partTypes = readPartitionTypes(dir), schemaDdl = refs.schemaDdl,
            deletes = liveDels, eqDeletes = liveEqDeletes(dir, refs.eqDeletes, entries),
            colIds = refs.colIds, operation = "fold")) {
          result = Some(next); done = true
        } else {
          // CAS loss: a concurrent commit advanced the table — back off, re-read and
          // re-fold. Each lost attempt orphans one folded segment and costs an
          // O(total files) re-read, so unlike the O(metadata) append loop this one
          // gives up early: compaction is maintenance, losing to live traffic is fine.
          attempt += 1
          require(attempt < 8,
            s"compact($dir) lost the snapshot race $attempt times — " +
              "table under sustained write traffic; re-run compaction later")
          Thread.sleep(50L * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 50))
        }
      }
    }
    result
  }

  /** Expire every committed snapshot except the newest `keepLast`, then physically
    * delete segments and data files referenced by NO retained snapshot — the
    * expire_snapshots half of the table lifecycle (overwrites are logical, and a
    * per-micro-batch streaming sink accumulates snapshots without bound; this is
    * where the disk is reclaimed). Order matters for crash safety:
    *
    *  1. expired snapshot JSONs are removed FIRST — after this no reader can pin
    *     them, so the files they exclusively referenced are provably dead;
    *  2. then dead segments, then dead data files. A crash between steps leaves only
    *     harmless orphans (cleaned by the next run), never a referenced-but-deleted
    *     file, because retained snapshots' references were never touched.
    *
    * Safe next to concurrent committers: a new snapshot only references the CURRENT
    * latest's segments (all retained) plus brand-new files, so the retained set
    * computed from one listing can only under-delete, never over-delete.
    *
    * Returns (snapshots, segments, data files) removed.
    */
  def expireSnapshots(dir: String, keepLast: Int = 1): (Int, Int, Int) = {
    require(keepLast >= 1, "must retain at least the latest snapshot")
    val snaps = snapshotFiles(dir)
    if (snaps.length <= keepLast) return (0, 0, 0)
    // TAGGED snapshots are retained regardless of age — a tag is a promise that
    // this exact table state stays readable by name (delete the tag to release it)
    val tagged = listTags(dir).map(_._2).toSet
    def idOf(f: String): Int =
      SnapshotName.findFirstMatchIn(Paths.get(f).getFileName.toString).get.group(1).toInt
    val keepTail = snaps.takeRight(keepLast).toSet
    val (retained, expired) = snaps.partition(f =>
      keepTail.contains(f) || tagged.contains(idOf(f)))
    if (expired.isEmpty) return (0, 0, 0)
    def refsOf(files: Seq[String]): (Set[String], Set[String], Set[String], Set[String]) = {
      val all = files.map { f =>
        val txt = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
        (parseSegmentRefs(txt).toSet, parseEntries(txt, f, 0).map(_.path).toSet,
          parseDeleteRefs(txt).toSet, parseEqDeleteRefs(txt).toSet)
      }
      (all.flatMap(_._1).toSet, all.flatMap(_._2).toSet, all.flatMap(_._3).toSet,
        all.flatMap(_._4).toSet)
    }
    // a sink's EXACTLY-ONCE replay dedup depends on its newest commit note being
    // findable; if expiry would delete the snapshot carrying a sink's newest note,
    // persist that high-water mark to a sidecar BEFORE any deletion (hasCommittedNote
    // consults the sidecar first)
    preserveSinkWatermarks(dir, expired, retained)
    // branch chains and staged (WAP) heads are reference roots: a branch forked
    // from an expired snapshot re-references its segments, and expiring main
    // history must never pull data out from under a live branch or audit candidate
    val protectedFiles = listBranches(dir).flatMap(b =>
      branchSnapshotFiles(dir, b._1).map(_._2)) ++
      listStaged(dir).map { case (w, _) =>
        Paths.get(dir, "_manifests", s"staged-$w.json").toString }
    val (retainedSegs, retainedInline, retainedDels, retainedEq) =
      refsOf(retained ++ protectedFiles)
    val (expiredSegs, expiredInline, expiredDels, expiredEq) = refsOf(expired)
    val deadDels = (expiredDels -- retainedDels) ++ (expiredEq -- retainedEq)
    // data files referenced by retained snapshots = their inline entries + every
    // entry of every retained segment
    val retainedData = retainedInline ++ retainedSegs.flatMap { seg =>
      parseEntries(new String(Files.readAllBytes(Paths.get(dir, "_manifests", seg)),
        StandardCharsets.UTF_8), seg, 0).map(_.path)
    }
    val deadSegs = expiredSegs -- retainedSegs
    val deadData = (expiredInline ++ deadSegs.toSeq.flatMap { seg =>
      val sp = Paths.get(dir, "_manifests", seg)
      if (Files.exists(sp))
        parseEntries(new String(Files.readAllBytes(sp), StandardCharsets.UTF_8), seg, 0).map(_.path)
      else Nil
    }) -- retainedData
    // 1: snapshots, 2: segments (data + delete), 3: data files
    expired.foreach(f => Files.deleteIfExists(Paths.get(f)))
    deadSegs.foreach(s => Files.deleteIfExists(Paths.get(dir, "_manifests", s)))
    deadDels.foreach(s => Files.deleteIfExists(Paths.get(dir, "_manifests", s)))
    deadData.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
    (expired.length, deadSegs.size + deadDels.size, deadData.size)
  }

  /** AGE-based retention (Iceberg's `expire_snapshots(older_than, retain_last)`):
    * expires every snapshot whose commit timestamp is strictly older than
    * `olderThanMillis` (epoch ms), always retaining at least the `retainLast`
    * newest. History is linear, so age expiry is a PREFIX cut — a younger snapshot
    * never expires before an older one (a mid-history gap would break time
    * travel's "every retained id is servable" contract); the cut point resolves
    * from commit timestamps and the work delegates to [[expireSnapshots]], so
    * tagged snapshots, branch roots, staged heads, and sink watermarks keep the
    * exact same protections.
    */
  def expireSnapshotsOlderThan(dir: String, olderThanMillis: Long,
      retainLast: Int = 1): (Int, Int, Int) = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    val snaps = snapshotIds(dir)
    if (snaps.isEmpty) return (0, 0, 0)
    // commit timestamps are non-decreasing in snapshot order (one writer commits
    // at a time under the CAS), so the first at-or-after-cutoff snapshot starts
    // the retained suffix; everything before it is age-expired
    val keepFrom = snaps.indexWhere(id => snapshotTsAndNote(dir, id)._1 >= olderThanMillis)
    val keepCount = if (keepFrom < 0) 0 else snaps.length - keepFrom
    val keepLast = math.max(retainLast, keepCount)
    if (keepLast >= snaps.length) return (0, 0, 0)
    expireSnapshots(dir, keepLast)
  }

  /** Delete data files under `dir` referenced by NO committed snapshot and older
    * than `olderThanMillis` — crashed/speculative task leftovers and aborted writes
    * (remove_orphan_files). The age guard keeps in-flight writers' files safe: a
    * file younger than the threshold may belong to a commit that has not published
    * yet. Returns the number of files removed.
    */
  def removeOrphans(dir: String, olderThanMillis: Long): Int = {
    // the age guard is the ONLY protection for in-flight writers: a live commit's
    // task files are unreferenced until the snapshot publishes, so the threshold
    // must exceed the longest write job's duration. Enforce a sane floor and make
    // the operator contract explicit (Iceberg's remove_orphan_files defaults to 3
    // DAYS for the same reason).
    require(olderThanMillis >= 600000L,
      s"removeOrphans threshold ${olderThanMillis}ms is below the 10-minute floor — " +
        "it must exceed the longest concurrent write's duration, or live commits corrupt")
    // staged (WAP) heads are reference roots too: their delta files belong to a
    // write that PUBLISHED its intent — unbounded-age staging is the feature, so
    // the age guard alone must never reclaim an audit candidate's data
    val stagedTxt = listStaged(dir).map { case (w, _) =>
      new String(Files.readAllBytes(Paths.get(dir, "_manifests", s"staged-$w.json")),
        StandardCharsets.UTF_8)
    }
    // branch chains are reference roots too: their appended segments and data
    // files belong to live (if unpublished) table states
    val branchTxt = listBranches(dir).flatMap(b =>
      branchSnapshotFiles(dir, b._1).map { case (_, f) =>
        new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8) })
    val snapTxt = snapshotFiles(dir).map(f =>
      new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)) ++
      stagedTxt ++ branchTxt
    val referencedSegs = snapTxt.flatMap(parseSegmentRefs).toSet
    val referencedDels = snapTxt.flatMap(parseDeleteRefs).toSet ++
      snapTxt.flatMap(parseEqDeleteRefs)
    val referenced = snapTxt.flatMap(txt => parseEntries(txt, dir, 0).map(_.path)).toSet ++
      referencedSegs.flatMap { seg =>
        parseEntries(new String(Files.readAllBytes(Paths.get(dir, "_manifests", seg)),
          StandardCharsets.UTF_8), seg, 0).map(_.path)
      }
    val root = Paths.get(dir)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val walk = Files.walk(root)
    val orphans = try walk.iterator().asScala
      .filter { p =>
        val name = p.getFileName.toString
        // data files outside _manifests, plus UNREFERENCED segment JSONs inside it
        // (lost compact() attempts, crashed pre-publication commits) — both orphan
        // classes accumulate forever without this
        (p.toString.endsWith(".parquet") && !p.toString.contains("_manifests") &&
          !referenced.contains(root.relativize(p).toString)) ||
        (name.startsWith("seg-") && name.endsWith(".json") &&
          p.getParent.getFileName.toString == "_manifests" && !referencedSegs.contains(name)) ||
        (name.startsWith("del-") && name.endsWith(".json") &&
          p.getParent.getFileName.toString == "_manifests" && !referencedDels.contains(name)) ||
        (name.startsWith("eqd-") && name.endsWith(".json") &&
          p.getParent.getFileName.toString == "_manifests" && !referencedDels.contains(name))
      }
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .toSeq
    finally walk.close()
    orphans.foreach(Files.deleteIfExists)
    orphans.length
  }

  /** Before deleting expired snapshots, persist each sink's newest committed batch
    * id if that note would otherwise vanish — `hasCommittedNote`'s monotone rule then
    * answers from the sidecar, keeping streaming replay dedup EXACT across expiry.
    * Values only grow, so a replace-write is safe. NON-stream notes have no monotone
    * rule to compress under, so each one whose every carrying snapshot expires is
    * persisted verbatim into a second sidecar (expired-notes) — without it a
    * replayed noted batch would publish TWICE once its snapshot aged out. The
    * sidecar grows one line per expired note: bounded by actual noted commits, the
    * same metadata scale as the snapshots themselves.
    */
  private def preserveSinkWatermarks(dir: String,
      expired: Seq[String], retained: Seq[String]): Unit = {
    def newestNotes(files: Seq[String]): Map[String, Long] =
      files.flatMap(noteOf).foldLeft(Map.empty[String, Long]) { (m, note) =>
        note match {
          case StreamNote(sink, b) => m.updated(sink, math.max(m.getOrElse(sink, -1L), b.toLong))
          case _ => m
        }
      }
    val allExpired = expired.flatMap(noteOf)
    val exp = newestNotes(expired)
    // non-stream notes vanishing with their snapshots -> the expired-notes sidecar
    val plain = allExpired.filter {
      case StreamNote(_, _) => false
      case _ => true
    }.toSet -- retained.flatMap(noteOf).toSet
    if (plain.nonEmpty) {
      val merged = (expiredNotes(dir) ++ plain).toSeq.sorted
      replaceAtomically(Paths.get(dir, "_manifests", "expired-notes.json"),
        merged.map(n => s""""${jsonEscape(n)}"""")
          .mkString("{\n  \"notes\": [\n    ", ",\n    ", "\n  ]\n}"))
    }
    if (exp.isEmpty) return
    val ret = newestNotes(retained)
    exp.foreach { case (sink, wm) =>
      if (ret.getOrElse(sink, -1L) < wm && sinkWatermark(dir, sink).forall(_ < wm)) {
        replaceAtomically(Paths.get(dir, "_manifests", s"sinkwm-${hiveEscape(sink)}.json"),
          s"""{"sink": "${jsonEscape(sink)}", "batch": $wm}""")
      }
    }
  }

  /** Non-stream notes whose carrying snapshots were all expired (dedup stays exact
    * across expiry — see preserveSinkWatermarks).
    */
  private def expiredNotes(dir: String): Set[String] = {
    val f = Paths.get(dir, "_manifests", "expired-notes.json")
    if (!Files.exists(f)) Set.empty
    else {
      val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      // parse only the bracketed list body, so a note literally named "notes"
      // survives the round-trip
      "\"notes\"\\s*:\\s*\\[([\\s\\S]*)\\]".r.findFirstMatchIn(txt) match {
        case None => Set.empty
        case Some(m) =>
          s"\"$JStr\"".r.findAllMatchIn(m.group(1)).map(g => jsonUnescape(g.group(1))).toSet
      }
    }
  }

  private def sinkWatermark(dir: String, sink: String): Option[Long] = {
    val f = Paths.get(dir, "_manifests", s"sinkwm-${hiveEscape(sink)}.json")
    if (!Files.exists(f)) None
    else "\"batch\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .map(_.group(1).toLong)
  }

  /** The commit note of one snapshot file, reading only the HEAD of the file — the
    * note line precedes the (cumulative, growing) file list, so the probe stays O(1)
    * bytes per snapshot no matter how large the table gets.
    */
  private def noteOf(snapshotFile: String): Option[String] = {
    val head = headOf(Paths.get(snapshotFile))
    s"\"note\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(head).map(m => jsonUnescape(m.group(1)))
  }

  /** (commit ts ms, operation tag, note) of one snapshot from ONE head probe —
    * all three live in the fixed-size head; the `.snapshots` metadata table reads
    * each snapshot head once. Pre-tag snapshots answer operation None.
    */
  private[sources] def snapshotTsAndNote(dir: String, id: Int)
      : (Long, Option[String], Option[String]) = {
    val p = Paths.get(dir, "_manifests", f"snapshot-$id%05d.json")
    val head = headOf(p)
    val ts = "\"ts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toLong)
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
    val op = "\"op\"\\s*:\\s*\"([a-z-]+)\"".r.findFirstMatchIn(head).map(_.group(1))
    val note = s"\"note\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(head)
      .map(m => jsonUnescape(m.group(1))).filter(_.nonEmpty)
    (ts, op, note)
  }

  /** The fixed-size head of a snapshot file — THE probe both the note reader and
    * the timestamp reader share; every head field must stay inside it.
    */
  private def headOf(p: java.nio.file.Path): String = {
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val buf = java.nio.ByteBuffer.allocate(NoteHeadBytes)
      val n = ch.read(buf)
      new String(buf.array(), 0, math.max(n, 0), StandardCharsets.UTF_8)
    } finally ch.close()
  }

  /** Commit timestamp (ms) of one snapshot — from the head's "ts" field, falling
    * back to the snapshot FILE's mtime for pre-ts snapshots (legacy tables keep
    * working; hard links preserve the original write time).
    */
  private[sources] def snapshotTimestamp(dir: String, id: Int): Long = {
    val p = Paths.get(dir, "_manifests", f"snapshot-$id%05d.json")
    "\"ts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(headOf(p)).map(_.group(1).toLong)
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
  }

  /** TIMESTAMP AS OF resolution: the latest snapshot committed at or before `ms`
    * — "the table as it stood at that wall-clock moment". Commit timestamps are
    * nondecreasing in snapshot id (each commit CAS-claims latest+1 after reading
    * the previous head), so a NEWEST-FIRST scan stops at the first qualifying id —
    * O(commits newer than ms) head probes, typically one. EXPIRY-gap safety: if
    * the id directly above the match was expired, the true as-of snapshot may be
    * gone — resolving to the older survivor would silently serve stale state (or,
    * for a delta start, re-serve every row of the gap), so that case refuses
    * loudly. `None` means `ms` predates every RETAINED snapshot: the caller
    * decides (time travel refuses; a delta start means "everything" — but only
    * when snapshot 0 is retained, i.e. nothing older could have qualified).
    */
  private[sources] def resolveTimestampMs(dir: String, ms: Long): Option[Int] = {
    val ids = snapshotIds(dir).sorted
    require(ids.nonEmpty, s"no committed snapshot under $dir")
    val hit = ids.reverseIterator.find(id => snapshotTimestamp(dir, id) <= ms)
    hit.foreach { id =>
      require(id == ids.max || ids.contains(id + 1),
        s"timestamp $ms on $dir is ambiguous: the snapshot(s) directly after " +
          s"$id were expired, so the table's true state at that instant may be " +
          "unrecoverable — pin a snapshot id or tag instead")
    }
    hit
  }

  /** TIMESTAMP AS OF (reads): refuses before the earliest retained commit. */
  private[sources] def requireTimestampMs(dir: String, ms: Long): Int =
    resolveTimestampMs(dir, ms).getOrElse(throw new IllegalArgumentException(
      s"no snapshot of $dir existed at timestamp $ms (earliest retained commit: " +
        s"${snapshotTimestamp(dir, snapshotIds(dir).min)} ms)"))

  /** startTimestamp (incremental start): `ms` before the table's FULL retained
    * history means the delta is the whole table (None = no baseline); if older
    * snapshots were expired we cannot know whether they predated `ms` — refuse
    * rather than silently re-serve rows.
    */
  private[sources] def resolveStartTimestampMs(dir: String, ms: Long): Option[Int] = {
    val r = resolveTimestampMs(dir, ms)
    if (r.isEmpty) require(snapshotIds(dir).min == 0,
      s"startTimestamp $ms predates every RETAINED snapshot of $dir and older " +
        "ones were expired — whether they predate the instant is unknowable; " +
        "start from a snapshot id or tag instead")
    r
  }

  private val StreamNote = "stream-(.+)-batch-(\\d+)".r

  /** Was `note` recorded by any committed snapshot? Scans newest-first reading only
    * file heads. STREAM notes (`stream-<sinkId>-batch-<id>`) use the monotone rule:
    * a sink's micro-batch ids are sequential per checkpoint, so the FIRST same-sink
    * note found newest-first decides — its id >= the probed id means the batch (or a
    * successor, which implies it) committed. For an active sink that note is in the
    * newest snapshot, making the steady-state probe O(1) file heads instead of a
    * full-history scan per batch on a long-lived table. Non-stream notes keep the
    * exhaustive scan (no ordering assumption to exploit).
    */
  private[sources] def hasCommittedNote(dir: String, note: String): Boolean = {
    if (latestSnapshotId(dir).isEmpty) return false
    note match {
      case StreamNote(sink, b) =>
        // expiry may have deleted the snapshot that carried this sink's newest note;
        // its high-water mark then lives in the sidecar (preserveSinkWatermarks)
        sinkWatermark(dir, sink).exists(_ >= b.toLong) ||
        snapshotFiles(dir).reverseIterator.flatMap(noteOf).collectFirst {
          case StreamNote(`sink`, b2) => b2.toLong >= b.toLong
        }.getOrElse(false)
      case _ =>
        // the expired-notes sidecar keeps dedup exact once a note's every carrying
        // snapshot has been expired (see preserveSinkWatermarks)
        expiredNotes(dir).contains(note) ||
        snapshotFiles(dir).reverseIterator.exists(f => noteOf(f).contains(note))
    }
  }

  /** Partition spec AT A SNAPSHOT (latest when None): every snapshot records its
    * own partition_column/partition_types, so a pinned (time-travel) scan of a
    * table whose OVERWRITE redefined the partitioning still interprets its own
    * entries with the layout they were written under.
    */
  private[sources] def readPartitionSpec(dir: String,
      snapshot: Option[Int] = None): Seq[PartCol] = {
    val names = readPartitionColumn(dir, snapshot)
    if (names.isEmpty) return Nil
    val txt = new String(
      Files.readAllBytes(Paths.get(snapshotFileFor(dir, snapshot))), StandardCharsets.UTF_8)
    val types = s"\"partition_types\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    val nameSeq = names.split(',').toSeq
    val typeSeq =
      if (types.isEmpty) nameSeq.map(_ => "string")
      else types.split(',').toSeq
    require(typeSeq.length == nameSeq.length,
      s"manifest under $dir records ${nameSeq.length} partition columns but ${typeSeq.length} types")
    nameSeq.zip(typeSeq).map { case (n, t) => parseTypeToken(n, t) }
  }

  private[sources] def readPartitionTypes(dir: String): String = {
    val spec = readPartitionSpec(dir)
    if (spec.isEmpty) "" else spec.map(typeTokenOf).mkString(",")
  }

  // ------------------------------------------------- partition-spec REGISTRY
  // Partition SPEC EVOLUTION (Iceberg's per-file spec_id): historical specs live
  // in immutable side files `_manifests/spec-<id>.json`, content-deduped and
  // published create-once (hard-link CAS — two concurrent registrations of the
  // same content converge on one id). They are the only key to interpreting a
  // stamped entry's partition values, so NOTHING ever deletes them: expiry only
  // removes snapshot files and removeOrphans only reclaims seg-/del-/eqd- names.
  // A table that never evolves has no spec files — zero format overhead.

  private def specPath(dir: String, id: Int): java.nio.file.Path =
    Paths.get(dir, "_manifests", f"spec-$id%05d.json")

  private[sources] def listSpecIds(dir: String): Seq[Int] = {
    val SpecFile = "spec-(\\d+)\\.json".r
    listNames(Paths.get(dir, "_manifests")).collect { case SpecFile(id) => id.toInt }.sorted
  }

  /** The registered spec of one id — loud on an unknown id: an entry stamped with
    * a spec the registry cannot resolve must never be served under a guessed
    * layout.
    */
  private[sources] def readSpecFile(dir: String, id: Int): Seq[PartCol] = {
    val p = specPath(dir, id)
    require(Files.exists(p),
      s"manifest entry references partition spec $id but $p does not exist — " +
        "spec registry files are append-only and must never be deleted")
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // the embedded id must agree with the filename: a copied/renamed spec file
    // would otherwise silently resolve stamped entries under the wrong layout —
    // the registry's loud-failure rule for corruption
    val embedded = "\"spec\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    require(embedded.contains(id),
      s"spec registry corruption: $p declares spec id ${embedded.orNull}, " +
        s"filename says $id")
    val names = s"\"partition_column\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    val types = s"\"partition_types\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
    parsePartSpec(names, types)
  }

  /** The id `spec` is already registered under, if any (content equality — names,
    * types, AND transforms).
    */
  private[sources] def specIdOf(dir: String, spec: Seq[PartCol]): Option[Int] =
    listSpecIds(dir).find(id => readSpecFile(dir, id) == spec)

  /** Registers `spec` (or returns its existing id). Ids start at 1 — 0 is the
    * reserved "snapshot's own spec" sentinel entries default to.
    */
  private[sources] def ensureSpecId(dir: String, spec: Seq[PartCol]): Int = {
    var attempt = 0
    while (attempt < 64) {
      specIdOf(dir, spec) match {
        case Some(id) => return id
        case None =>
          val ids = listSpecIds(dir)
          val next = if (ids.isEmpty) 1 else ids.max + 1
          val json =
            s"""{
               |  "spec": $next,
               |  "partition_column": "${jsonEscape(spec.map(_.name).mkString(","))}",
               |  "partition_types": "${jsonEscape(spec.map(typeTokenOf).mkString(","))}"
               |}""".stripMargin
          if (createOnce(specPath(dir, next), json)) return next // else raced: re-check
      }
      attempt += 1
    }
    throw new IllegalStateException(s"ensureSpecId on $dir lost the registry race $attempt times")
  }

  /** Per-entry spec resolution for a scan pinned to `snapshotSpec`: specid 0 reads
    * under the pinned snapshot's own spec (the pre-evolution rule, still the only
    * rule on never-evolved tables); stamped ids resolve through the registry,
    * memoized per resolver (a scan touches at most a handful of specs).
    */
  private[sources] def specResolver(dir: String,
      snapshotSpec: Seq[PartCol]): Entry => Seq[PartCol] = {
    val cache = scala.collection.mutable.HashMap.empty[Int, Seq[PartCol]]
    e => if (e.specId <= 0) snapshotSpec
         else cache.getOrElseUpdate(e.specId, readSpecFile(dir, e.specId))
  }

  /** Per-entry spec resolution for MAIN-CHAIN multi-snapshot consumers (the
    * streaming source plans entries from many snapshots): a specid-0 entry reads
    * under the spec of the snapshot it was read FROM (`Entry.snapshot`). Sound by
    * the stamping invariant — a respec stamps every live implicit-spec entry
    * before flipping the default, so any refs' unstamped entries are laid out
    * under that snapshot's own recorded spec. Branch/staged reads never call this
    * (they pin one spec and refuse to stream).
    */
  private[sources] def mainChainSpecResolver(dir: String): Entry => Seq[PartCol] = {
    val byId = scala.collection.mutable.HashMap.empty[Int, Seq[PartCol]]
    val bySnap = scala.collection.mutable.HashMap.empty[Int, Seq[PartCol]]
    e => if (e.specId > 0) byId.getOrElseUpdate(e.specId, readSpecFile(dir, e.specId))
         else bySnap.getOrElseUpdate(e.snapshot, readPartitionSpec(dir, Some(e.snapshot)))
  }

  private[sources] def readPartitionColumn(dir: String,
      snapshot: Option[Int] = None): String = {
    // snapshotFileFor applies the strict SnapshotName filter — a `.tmp-snapshot-*`
    // in-flight temp must never be selected as the latest snapshot here either
    val txt = new String(
      Files.readAllBytes(Paths.get(snapshotFileFor(dir, snapshot))), StandardCharsets.UTF_8)
    s"\"partition_column\"\\s*:\\s*\"$JStr\"".r.findFirstMatchIn(txt)
      .map(m => jsonUnescape(m.group(1))).getOrElse("")
  }

  /** Reads the latest committed snapshot through the DSv2 data source (snapshot
    * isolation: directory listings are never trusted). The partition column is served
    * as a REAL column straight from the manifest's recorded values — nothing is
    * re-derived from file paths — and partition-value filters prune whole files at the
    * manifest before any parquet footer is opened.
    */
  def readData(spark: SparkSession, dir: String, partCol: String) = {
    val recorded = readPartitionColumn(dir)
    require(recorded == partCol,
      s"manifest under $dir records partition column '$recorded', caller asked for '$partCol'")
    spark.read.format("graft.sources.ManifestDataSource").load(dir)
  }
}

/** DataSource V2: the manifest FILES metadata table (the analog of Iceberg's `.files`
  * metadata table). `spark.read.format("graft.sources.ManifestFilesSource")
  * .load(dir)` returns one row per data file of the latest committed snapshot with
  * schema (path, bytes, partition, snapshot). Column pruning is pushed into the scan
  * (SupportsPushDownRequiredColumns). The full DSv2 stack — TableProvider -> Table ->
  * ScanBuilder -> Batch -> PartitionReaderFactory — on public connector APIs only.
  */
class ManifestFilesSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestFilesSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestFilesTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object ManifestFilesSource {
  val Schema: StructType = new StructType()
    .add("path", StringType, nullable = false)
    .add("bytes", LongType, nullable = false)
    .add("partition", StringType, nullable = false)
    .add("snapshot", LongType, nullable = false)
    // Iceberg files-table record_count analog; null on pre-feature entries
    .add("rows", LongType, nullable = true)
}

private class ManifestFilesTable(dir: String) extends Table with SupportsRead {
  require(dir != null, "graft.sources.ManifestFilesSource requires .load(<table dir>)")
  override def name(): String = s"manifest_files($dir)"
  override def schema(): StructType = ManifestFilesSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(dir)
}

/** Driver-computed METADATA tables served by NAME through ManifestCatalog
  * (`cat.ns.t.snapshots`, `cat.ns.t.tags`; `cat.ns.t.files` reuses
  * ManifestFilesTable) — Iceberg's table-inspection surface. Row counts are
  * bounded by table HISTORY, so one InputPartition computed at plan time (the
  * same snapshot-pinning rule every other scan follows) is the right shape.
  * Values ship as external scalars (String/Long/Int/null) and convert to
  * catalyst form in the reader.
  */
private[sources] class ManifestMetaTable(tableName: String, tschema: StructType,
    compute: () => Seq[Seq[Any]]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        private lazy val rows = compute() // pinned at plan time, on the driver
        override def readSchema(): StructType = tschema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(MetaRowsPartition(rows))
        override def createReaderFactory(): PartitionReaderFactory =
          new MetaRowsReaderFactory(tschema)
        override def description(): String = tableName
      }
    }
}

private case class MetaRowsPartition(rows: Seq[Seq[Any]]) extends InputPartition

private class MetaRowsReaderFactory(tschema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val it = partition.asInstanceOf[MetaRowsPartition].rows.iterator
    new PartitionReader[InternalRow] {
      private var cur: Seq[Any] = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = InternalRow.fromSeq(
        cur.zip(tschema.fields.toSeq).map {
          case (null, _) => null
          case (v: String, f) if f.dataType == StringType => UTF8String.fromString(v)
          case (v, _) => v
        })
      override def close(): Unit = ()
    }
  }
}

private class ManifestScanBuilder(dir: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = ManifestFilesSource.Schema
  private var partitionValues: Option[Set[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  /** Accepts equality/IN filters on the partition column — the scan then reads only
    * matching manifest entries (partition pruning at the source). Everything else is
    * left to Spark (returned as residual).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushed, residual) = filters.partition {
      case EqualTo("partition", _: String) => true
      case In("partition", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    val accepted = pushed.flatMap {
      case EqualTo("partition", v: String) => Seq(Set(v))
      case In("partition", vs) => Seq(vs.map(_.asInstanceOf[String]).toSet)
      case _ => Nil
    }
    if (accepted.nonEmpty)
      partitionValues = Some(accepted.reduce(_ intersect _))
    residual
  }
  override def pushedFilters(): Array[Filter] =
    partitionValues.map(vs => Array[Filter](In("partition", vs.toArray))).getOrElse(Array.empty)

  override def build(): Scan = new ManifestScan(dir, required, partitionValues)
}

private class ManifestScan(dir: String, required: StructType,
    partitionValues: Option[Set[String]]) extends Scan with Batch {
  // SNAPSHOT PINNED AT PLAN TIME: the manifest is resolved ONCE on the driver and the
  // entry list ships inside the InputPartition. Reading it per-task would let a commit
  // that lands between planning and execution (or between a task and its retry) leak
  // a different snapshot into the same logical scan.
  private lazy val pinned: Seq[ManifestTables.Entry] =
    ManifestTables.readLatest(dir)
      .filter(e => partitionValues.forall(_.contains(e.partition)))
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestInputPartition(pinned))
  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(required.fieldNames)
  override def description(): String =
    s"manifest_files($dir, partitions=${partitionValues.map(_.toSeq.sorted.mkString(",")).getOrElse("*")})"
}

private case class ManifestInputPartition(entries: Seq[ManifestTables.Entry])
    extends InputPartition

private class ManifestReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val entries = partition.asInstanceOf[ManifestInputPartition].entries.iterator
    new PartitionReader[InternalRow] {
      private var cur: ManifestTables.Entry = _
      override def next(): Boolean = { val h = entries.hasNext; if (h) cur = entries.next(); h }
      override def get(): InternalRow =
        InternalRow.fromSeq(fields.toSeq.map {
          case "path" => UTF8String.fromString(cur.path)
          case "bytes" => cur.bytes
          case "partition" => UTF8String.fromString(cur.partition)
          case "snapshot" => cur.snapshot.toLong
          case "rows" => if (cur.rows < 0) null else cur.rows
        })
      override def close(): Unit = ()
    }
  }
}
