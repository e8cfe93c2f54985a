package graft.sources

import graft.{SharedSparkSession, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL TRUNCATE TABLE (TruncatableTable) and the StagingTableCatalog surface:
  * atomic CTAS / RTAS / CREATE OR REPLACE TABLE with Iceberg REPLACE semantics
  * (a new snapshot on the same history, never drop+create).
  */
class StagedDdlSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  private var n = 0
  /** A fresh warehouse + catalog per test (catalog conf is sticky per name). */
  private def freshCatalog(): (String, String) = synchronized {
    n += 1
    val wh = tempDir("staged_ddl").toString
    val cat = s"stagedddl$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("n_chars"), col("lang"))

  test("TRUNCATE TABLE empties the table, keeps schema and time travel, accepts new inserts") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"""CREATE TABLE $cat.ns.t (doc_id BIGINT, n_chars BIGINT, lang_p STRING)
                 |  PARTITIONED BY (lang_p)""".stripMargin)
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"INSERT INTO $cat.ns.t SELECT doc_id, n_chars, lang FROM ${cat}_src")
    val pre = spark.table(s"$cat.ns.t").count()
    assert(pre > 0)
    spark.sql(s"TRUNCATE TABLE $cat.ns.t")
    assert(spark.table(s"$cat.ns.t").count() == 0)
    // schema survives an empty table (recorded DDL, not footer inference)
    assert(spark.table(s"$cat.ns.t").schema.fieldNames.toSeq ==
      Seq("doc_id", "n_chars", "lang_p"))
    // metadata-only: pre-truncate snapshot still serves every row
    assert(spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 1").count() == pre)
    // the truncate stamped its operation
    val ops = spark.table(s"$cat.ns.t.snapshots")
      .orderBy("snapshot_id").select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "truncate"), ops.toString)
    // the table keeps accepting appends under the same spec
    spark.sql(s"INSERT INTO $cat.ns.t SELECT doc_id, n_chars, lang FROM ${cat}_src " +
      "WHERE doc_id % 5 = 0")
    val post = spark.table(s"$cat.ns.t").count()
    assert(post == docs.filter(col("doc_id") % 5 === 0).count() && post < pre)
  }

  test("TRUNCATE TABLE drops pending merge-on-read delete segments with the rows") {
    val (_, wh) = freshCatalog()
    val tbl = s"$wh/ns/t"
    docs.limit(100).write.format(classOf[ManifestDataSource].getName)
      .mode("overwrite").save(tbl)
    // an equality-delete upsert leaves a live eq-delete segment
    docs.limit(10).write.format(classOf[ManifestDataSource].getName)
      .option("upsertkey", "doc_id").mode("append").save(tbl)
    assert(ManifestTables.readSnapshotRefs(tbl, None).eqDeletes.nonEmpty)
    new ManifestDataTable(tbl, ManifestDataSource.tableSchema(tbl)).truncateTable()
    val refs = ManifestTables.readSnapshotRefs(tbl, None)
    assert(refs.segments.isEmpty && refs.deletes.isEmpty && refs.eqDeletes.isEmpty)
    assert(spark.read.format(classOf[ManifestDataSource].getName).load(tbl).count() == 0)
  }

  test("atomic CTAS creates a partitioned table with data and recorded DDL in one snapshot") {
    val (cat, wh) = freshCatalog()
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"""CREATE TABLE $cat.ns.t PARTITIONED BY (lang_p) AS
                 |  SELECT doc_id, n_chars, lang AS lang_p FROM ${cat}_src""".stripMargin)
    assert(spark.table(s"$cat.ns.t").count() == docs.count())
    // ONE commit: the data snapshot is snapshot 0 and records the declared schema
    assert(ManifestTables.latestSnapshotId(s"$wh/ns/t").contains(0))
    assert(ManifestTables.readSnapshotRefs(s"$wh/ns/t", None).schemaDdl.isDefined)
    assert(ManifestTables.readPartitionSpec(s"$wh/ns/t").map(_.name) == Seq("lang_p"))
    // CTAS against an existing table refuses at stage time
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT doc_id FROM ${cat}_src")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
  }

  test("CREATE OR REPLACE TABLE AS SELECT swaps schema and content, keeps history readable") {
    val (cat, wh) = freshCatalog()
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"""CREATE TABLE $cat.ns.t PARTITIONED BY (lang_p) AS
                 |  SELECT doc_id, n_chars, lang AS lang_p FROM ${cat}_src""".stripMargin)
    val gen1 = spark.table(s"$cat.ns.t").count()
    spark.sql(s"""CREATE OR REPLACE TABLE $cat.ns.t AS
                 |  SELECT doc_id, upper(lang) AS lang_u FROM ${cat}_src
                 |  WHERE doc_id % 2 = 0""".stripMargin)
    // new schema, new content, NO partitioning
    assert(spark.table(s"$cat.ns.t").schema.fieldNames.toSeq == Seq("doc_id", "lang_u"))
    assert(spark.table(s"$cat.ns.t").count() ==
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(ManifestTables.readPartitionSpec(s"$wh/ns/t").isEmpty)
    // the replace is ONE snapshot on the SAME history: pre-replace time travel
    // serves the old rows under the old schema and the old partition spec
    assert(ManifestTables.latestSnapshotId(s"$wh/ns/t").contains(1))
    val old = spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 0")
    assert(old.schema.fieldNames.toSeq == Seq("doc_id", "n_chars", "lang_p"))
    assert(old.count() == gen1)
  }

  test("plain REPLACE TABLE (no AS SELECT) publishes an empty schema-carrying snapshot") {
    val (cat, wh) = freshCatalog()
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT doc_id, n_chars FROM ${cat}_src")
    val gen1 = spark.table(s"$cat.ns.t").count()
    spark.sql(s"REPLACE TABLE $cat.ns.t (k BIGINT, v STRING) PARTITIONED BY (v)")
    assert(spark.table(s"$cat.ns.t").count() == 0)
    assert(spark.table(s"$cat.ns.t").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(ManifestTables.readPartitionSpec(s"$wh/ns/t").map(_.name) == Seq("v"))
    assert(spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 0").count() == gen1)
    // the replaced table accepts inserts against its new schema immediately
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.table(s"$cat.ns.t").count() == 2)
    val ops = spark.table(s"$cat.ns.t.snapshots")
      .orderBy("snapshot_id").select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "replace", "append"), ops.toString)
  }

  test("a staged CREATE refuses at commit when the table appeared concurrently; OR REPLACE proceeds") {
    val (cat, wh) = freshCatalog()
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ident = Identifier.of(Array("ns"), "t")
    val schema = StructType(Seq(StructField("k", LongType)))
    // stage a plain CREATE while the table does not exist...
    val staged = new StagedManifestTable(s"$wh/ns/t", ident, schema, Nil,
      replaceExisting = false, requireFresh = true)
    // ...then a concurrent creator lands first
    docs.limit(5).write.format(classOf[ManifestDataSource].getName)
      .mode("overwrite").save(s"$wh/ns/t")
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      staged.commitStagedChanges()
    }
    // the concurrent creator's rows survive untouched
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .load(s"$wh/ns/t").count() == 5)
    // CREATE OR REPLACE staged on the same absent-at-stage-time name REPLACES
    val orReplace = new StagedManifestTable(s"$wh/ns/t", ident, schema, Nil,
      replaceExisting = false, requireFresh = false)
    orReplace.commitStagedChanges()
    assert(spark.read.format(classOf[ManifestDataSource].getName)
      .load(s"$wh/ns/t").count() == 0)
    assert(ManifestTables.latestSnapshotId(s"$wh/ns/t").contains(1))
  }

  test("abortStagedChanges removes only an EMPTY created directory, never another writer's files") {
    val (_, wh) = freshCatalog()
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ident = Identifier.of(Array("ns"), "t")
    val schema = StructType(Seq(StructField("k", LongType)))
    val dir = java.nio.file.Paths.get(s"$wh/ns/t")
    // another staged writer's in-flight data file sits in the directory
    val staged = new StagedManifestTable(dir.toString, ident, schema, Nil,
      replaceExisting = false, requireFresh = true)
    java.nio.file.Files.write(dir.resolve("other-writer.parquet"), Array[Byte](1, 2, 3))
    staged.abortStagedChanges()
    assert(java.nio.file.Files.exists(dir.resolve("other-writer.parquet")),
      "abort must not delete a concurrent writer's files")
    // an EMPTY created directory is cleaned up
    val ident2 = Identifier.of(Array("ns"), "t2")
    val staged2 = new StagedManifestTable(s"$wh/ns/t2", ident2, schema, Nil,
      replaceExisting = false, requireFresh = true)
    staged2.abortStagedChanges()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/ns/t2")))
  }

  test("namespaces: CREATE/SHOW/DROP map to warehouse directories; non-empty drop refuses") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.corp")
    spark.sql(s"CREATE NAMESPACE $cat.corp.raw")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0)).contains("corp"))
    assert(spark.sql(s"SHOW NAMESPACES IN $cat.corp").collect()
      .map(_.getString(0)).contains("corp.raw"))
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"CREATE TABLE $cat.corp.raw.t AS SELECT doc_id FROM ${cat}_src LIMIT 10")
    // tables never list as namespaces
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat.corp.raw").collect()
      .map(_.getString(0)).exists(_.endsWith(".t")))
    assert(spark.sql(s"SHOW TABLES IN $cat.corp.raw").collect().map(_.getString(1)) === Array("t"))
    val e = intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.corp.raw") }
    assert(e.getMessage.toLowerCase.contains("schema_not_empty") ||
      e.getMessage.toLowerCase.contains("contains objects"), e.getMessage)
    spark.sql(s"DROP NAMESPACE $cat.corp.raw CASCADE")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/corp/raw")))
    spark.sql(s"DROP NAMESPACE $cat.corp") // now empty — plain drop works
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/corp")))
  }

  test("RENAME TABLE moves history, tags, and refs atomically; occupied targets refuse") {
    val (cat, wh) = freshCatalog()
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT doc_id, n_chars FROM ${cat}_src")
    spark.sql(s"INSERT INTO $cat.ns.t SELECT doc_id + 1000000, n_chars FROM ${cat}_src")
    val n = spark.table(s"$cat.ns.t").count()
    spark.sql(s"ALTER TABLE $cat.ns.t RENAME TO ns.t2")
    assert(!spark.catalog.tableExists(s"$cat.ns.t"))
    assert(spark.table(s"$cat.ns.t2").count() == n)
    // history rides along: the pre-insert snapshot time-travels under the new name
    assert(spark.sql(s"SELECT * FROM $cat.ns.t2 VERSION AS OF 0").count() == n / 2)
    // renaming onto an existing table refuses
    spark.sql(s"CREATE TABLE $cat.ns.other (k BIGINT)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.t2 RENAME TO ns.other")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    assert(spark.table(s"$cat.ns.t2").count() == n, "a refused rename must not move anything")
  }

  test("a failing RTAS never publishes: the old head stays, a failing CTAS leaves no table") {
    val (cat, wh) = freshCatalog()
    docs.createOrReplaceTempView(s"${cat}_src")
    spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT doc_id, n_chars FROM ${cat}_src")
    val gen1 = spark.table(s"$cat.ns.t").count()
    spark.udf.register("boomfn", (i: Long) =>
      if (i >= 0) throw new RuntimeException("boom") else i)
    intercept[Exception] {
      spark.sql(s"""CREATE OR REPLACE TABLE $cat.ns.t AS
                   |  SELECT boomfn(doc_id) AS x FROM ${cat}_src""".stripMargin)
    }
    // old head untouched: same snapshot id, same rows, same schema
    assert(ManifestTables.latestSnapshotId(s"$wh/ns/t").contains(0))
    assert(spark.table(s"$cat.ns.t").count() == gen1)
    assert(spark.table(s"$cat.ns.t").schema.fieldNames.toSeq == Seq("doc_id", "n_chars"))
    // a failing CTAS on a BRAND-NEW name leaves nothing behind
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.fresh AS SELECT boomfn(doc_id) AS x FROM ${cat}_src")
    }
    assert(!spark.catalog.tableExists(s"$cat.ns.fresh") ||
      intercept[Exception](spark.table(s"$cat.ns.fresh").collect()) != null)
    assert(ManifestTables.latestSnapshotId(s"$wh/ns/fresh").isEmpty)
  }
}
