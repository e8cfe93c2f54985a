package graft.sources

import graft.{SharedSparkSession, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** MODEL-BASED random DML battery for the manifest table format: a SEEDED random
  * sequence of table operations runs against both the real table (through the
  * production DSv2 write path and the SQL DML/CALL surfaces) and a driver-local
  * reference model (a plain Map[id -> (v, p)]); after EVERY step the full table
  * read must equal the model exactly, and periodic rollbacks must restore the
  * model state recorded at the target snapshot.
  *
  * The point is INTERACTIONS: merge-on-read positional deltas under compaction,
  * equality upserts stacked over positional deletes, maintenance folds between
  * reads, copy-on-write rewrites over delta-carrying files, a mid-walk column
  * RENAME that every later operation (and rollback) must resolve through the
  * column-id registry, a mid-walk ADD COLUMN ... DEFAULT (pre-ADD rows serve the
  * existence default, rewrites materialize it, rollback across the ADD restores
  * the narrower schema), snapshot expiry shrinking the rollback horizon — the
  * compositions no single-purpose spec covers. Every single-operation property
  * already has its own gate; this battery is the regression net for the pairs
  * nobody thought to write.
  */
class ManifestModelSpec extends AnyFunSuite with SharedSparkSession with TempDirs {

  test("40-step seeded random DML sequence matches the reference model after every step") {
    import spark.implicits._
    val wh = tempDir("manifest_model").toString
    val tbl = s"$wh/ns/t"
    val cat = "graft_model_spec"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)

    val rnd = new scala.util.Random(0xD1CE)
    val parts = Array("a", "b", "c")
    val model = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, String)]
    // the value column's LIVE name — renamed mid-walk; a rollback across the
    // rename restores the old name (the snapshot carries its schema + registry)
    var vcol = "v"
    // mid-walk defaulted column: None before the ADD; rows existing at ADD time
    // serve the existence default, later writes carry explicit values
    var dcol: Option[String] = None
    val dModel = scala.collection.mutable.Map.empty[Long, Int]
    // model state + live column name + defaulted-column state + evolution flag
    // AS OF each snapshot
    val history = scala.collection.mutable.Map.empty[Int,
      (Map[Long, (Long, String)], String, Option[String], Map[Long, Int], Boolean)]
    var nextId = 0L
    // PARTITION EVOLUTION state: whether the hidden bucket(4,id) field is on the
    // current default spec — toggled by forced respec steps, restored by
    // rollback (the snapshot carries its spec, so the flag rides in `history`)
    var bucketOn = false

    def appendRows(k: Int, upsert: Boolean): String = {
      val rows = (0 until k).map { _ =>
        val id = if (upsert && model.nonEmpty && rnd.nextBoolean()) {
          val keys = model.keysIterator.toIndexedSeq // overwrite an existing id
          keys(rnd.nextInt(keys.length))
        } else { nextId += 1; nextId }
        (id, rnd.nextInt(1000).toLong, parts(rnd.nextInt(parts.length)))
      }
      // distinct ids per batch: the upsert's within-batch semantics (last wins vs
      // both land) is not what this battery targets
      val distinctRows = rows.groupBy(_._1).map(_._2.head).toSeq
      // once the defaulted column exists, DataFrame appends must carry it (only
      // the SQL surface analyzer-fills omitted columns)
      val withD = distinctRows.map { case (id, v, p) =>
        (id, v, p, if (dcol.isDefined) rnd.nextInt(100) else 0) }
      val df = dcol match {
        case None => distinctRows.toDF("id", vcol, "p")
        case Some(d) => withD.toDF("id", vcol, "p", d)
      }
      // partcol only on the bootstrap write: later appends INHERIT the recorded
      // spec, which the forced respec steps evolve mid-walk (an explicit stale
      // partcol would refuse against the evolved spec — by design)
      val w0 = df.coalesce(1 + rnd.nextInt(2))
        .write.format(classOf[ManifestDataSource].getName)
      val w = (if (ManifestTables.latestSnapshotId(tbl).isEmpty)
        w0.option("partcol", "p") else w0).mode("append")
      (if (upsert) w.option("upsertkey", "id") else w).save(tbl)
      withD.foreach { case (id, v, p, dv) =>
        if (upsert) model(id) = (v, p)
        else { assert(!model.contains(id)); model(id) = (v, p) }
        if (dcol.isDefined) dModel(id) = dv
      }
      s"${if (upsert) "upsert" else "append"}(${distinctRows.length})"
    }

    def predDelete(mor: Boolean): String = {
      val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m)
      if (mor) spark.conf.set("spark.graft.manifest.deleteMode", "merge-on-read")
      try spark.sql(s"DELETE FROM $cat.ns.t WHERE id % $m = $r")
      finally if (mor) spark.conf.unset("spark.graft.manifest.deleteMode")
      val dead = model.keysIterator.filter(id => id % m == r).toSeq
      dead.foreach(model.remove)
      s"${if (mor) "mor" else "cow"}_delete(%$m=$r,-${dead.length})"
    }

    def predUpdate(mor: Boolean): String = {
      val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m); val add = 1000L
      if (mor) spark.conf.set("spark.graft.manifest.updateMode", "merge-on-read")
      try spark.sql(s"UPDATE $cat.ns.t SET $vcol = $vcol + $add WHERE id % $m = $r")
      finally if (mor) spark.conf.unset("spark.graft.manifest.updateMode")
      var hit = 0
      model.keysIterator.toSeq.foreach { id =>
        if (id % m == r) { val (v, p) = model(id); model(id) = (v + add, p); hit += 1 }
      }
      s"${if (mor) "mor" else "cow"}_update(%$m=$r,~$hit)"
    }

    def partitionDelete(): String = {
      val p = parts(rnd.nextInt(parts.length))
      spark.sql(s"DELETE FROM $cat.ns.t WHERE p = '$p'")
      val dead = model.collect { case (id, (_, pp)) if pp == p => id }.toSeq
      dead.foreach(model.remove)
      s"partition_delete($p,-${dead.length})"
    }

    def maintenance(kind: Int): String = kind match {
      case 0 => s"compact(${ManifestMaintenance.compactDataFiles(spark, tbl, 64L << 20)})"
      case 1 => s"fold(${ManifestTables.compact(tbl)})"
      case 2 => s"rewrite_posdel(${ManifestMaintenance.rewritePositionDeletes(tbl)})"
      case 3 =>
        s"cluster(${ManifestMaintenance.clusterBy(spark, tbl, Seq(vcol), 64L << 20)})"
      case _ =>
        // expiry shrinks the rollback horizon; keepLast=5 so some targets survive
        s"expire(${ManifestTables.expireSnapshots(tbl, keepLast = 5)})"
    }

    var renameN = 1
    def rename(): String = {
      val from = vcol
      renameN += 1
      vcol = s"v$renameN" // always a FRESH name: reuse is rejected by design
      spark.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN $from TO $vcol")
      s"rename($from->$vcol)"
    }

    def rollback(): String = {
      val snaps = ManifestTables.snapshotIds(tbl).filter(history.contains)
      if (snaps.length < 2) return "rollback(skipped)"
      val target = snaps(rnd.nextInt(snaps.length))
      val cur = ManifestTables.rollbackTo(tbl, target)
      val (m, vc, dc, dm, b) = history(target)
      model.clear(); model ++= m; vcol = vc
      dcol = dc; dModel.clear(); dModel ++= dm
      bucketOn = b // the restored head records the target's spec
      s"rollback($target->$cur,$vc)"
    }

    /** Forced PARTITION EVOLUTION step: toggles the hidden bucket(4,id) field.
      * Every later operation — appends (inherit the evolved spec), row-level
      * DML, maintenance rewrites, rollbacks across the respec — then runs on a
      * spec-straddled table, which is exactly the composition this battery is
      * for (per-file spec ids keep every generation's routing/pruning exact).
      */
    def respec(): String =
      if (!bucketOn) {
        ManifestMaintenance.addPartitionField(tbl, "bucket(4,id)")
        bucketOn = true
        "add_partition_field(bucket(4,id))"
      } else {
        ManifestMaintenance.dropPartitionField(tbl, "bucket(4,id)")
        bucketOn = false
        "drop_partition_field(bucket(4,id))"
      }

    def addDefaultCol(): String = {
      spark.sql(s"ALTER TABLE $cat.ns.t ADD COLUMN d INT DEFAULT 9")
      dcol = Some("d")
      // every row already in the table serves the EXISTENCE default from now on
      model.keysIterator.foreach(id => dModel(id) = 9)
      "add_column(d INT DEFAULT 9)"
    }

    def check(step: Int, op: String): Unit = {
      val dsel = dcol.map(d => s", $d").getOrElse("")
      val got = spark.sql(s"SELECT id, $vcol, p$dsel FROM $cat.ns.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (dcol.isDefined) r.getInt(3) else 0)).toSeq
      val want = model.toSeq.map { case (id, (v, p)) =>
        (id, v, p, if (dcol.isDefined) dModel(id) else 0) }.sortBy(_._1)
      assert(got == want,
        s"step $step [$op]: table=${got.take(30)}... model=${want.take(30)}...")
      ManifestTables.latestSnapshotId(tbl).foreach(id =>
        history(id) = (model.toMap, vcol, dcol, dModel.toMap, bucketOn))
    }

    appendRows(8, upsert = false); check(0, "bootstrap")
    (1 to 40).foreach { step =>
      val op =
        if (step == 13 || step == 27) rename()
        else if (step == 20) addDefaultCol()
        else if (step == 8 || step == 24 || step == 35) respec()
        else rnd.nextInt(100) match {
          case x if x < 25 => appendRows(3 + rnd.nextInt(8), upsert = false)
          case x if x < 40 => appendRows(3 + rnd.nextInt(6), upsert = true)
          case x if x < 52 => predDelete(mor = true)
          case x if x < 60 => predDelete(mor = false)
          case x if x < 68 => predUpdate(mor = true)
          case x if x < 76 => predUpdate(mor = false)
          case x if x < 80 => partitionDelete()
          case x if x < 94 => maintenance(rnd.nextInt(5))
          case _ => rollback()
        }
      check(step, op)
    }
    // end-state sanity: the sequence actually exercised a non-trivial table
    assert(model.nonEmpty, "the random walk emptied the table — reseed the weights")
  }
}
