package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE / DELETE under `write.*.mode = merge-on-read`:
  * positional tombstones + appended rows in one commit, ZERO data-file
  * rewrites — and bit-identical results to the copy-on-write mode. */
class MorDmlSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft_mor_wh").toFile.getPath

  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mor")
    s
  }

  private def dataFilePaths(loc: String): Set[String] =
    IcebergTables.load(loc).newScan().planFiles().map(_.file.path).toSet

  /** (content=1 added delete files, added data files) of the CURRENT snapshot. */
  private def currentCommitFiles(loc: String): (Seq[graft.core.DataFileInfo],
                                                Seq[graft.core.DataFileInfo]) = {
    val t = IcebergTables.load(loc)
    val snap = t.currentSnapshot.get
    val ms = graft.core.ManifestIO.readManifestList(t.io.open(snap.manifestList))
      .filter(_.addedSnapshotId == snap.snapshotId)
    val entries = ms.flatMap(m =>
      graft.core.ManifestIO.readManifestEntries(t.io.open(m.path), m)
        .filter(_.status == graft.core.ManifestEntryStatus.Added))
    val (del, data) = entries.map(_.dataFile)
      .partition(_.content != graft.core.DataFileContent.Data)
    (del, data)
  }

  test("_pos metadata column is selectable and file-relative") {
    spark.sql("CREATE TABLE graft.mor.pos (id BIGINT)")
    spark.sql("INSERT INTO graft.mor.pos VALUES (10), (11), (12)")
    spark.sql("INSERT INTO graft.mor.pos VALUES (20)")
    val rows = spark.sql("SELECT id, _file, _pos FROM graft.mor.pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // positions restart at 0 within each file
    rows.groupBy(_._2).foreach { case (_, inFile) =>
      assert(inFile.map(_._3).sorted.toSeq == (0L until inFile.length).toSeq)
    }
    assert(rows.length == 4)
  }

  test("MERGE under merge-on-read: delete+append manifests, zero rewrites") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE graft.mor.m (id BIGINT, name STRING, v DOUBLE)
         TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.m VALUES (1, 'old', 1.0), (2, 'keep', 2.0)")
    spark.sql("INSERT INTO graft.mor.m VALUES (3, 'old3', 3.0)")
    val loc = s"$warehouse/mor/m"
    val before = dataFilePaths(loc)

    Seq((1L, "new", 10.0), (4L, "ins", 4.0)).toDF("id", "name", "v")
      .createOrReplaceTempView("m_updates")
    spark.sql(
      """MERGE INTO graft.mor.m t USING m_updates s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.name = s.name, t.v = s.v
         WHEN NOT MATCHED THEN INSERT *""")

    val got = spark.sql("SELECT id, name, v FROM graft.mor.m ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "new", 10.0), (2L, "keep", 2.0),
      (3L, "old3", 3.0), (4L, "ins", 4.0)))

    // every pre-merge data file survives untouched; the commit added ONLY
    // tombstones + new rows
    val after = dataFilePaths(loc)
    assert(before.subsetOf(after), "no data file may be rewritten under MoR")
    val (del, data) = currentCommitFiles(loc)
    assert(del.nonEmpty && del.forall(
      _.content == graft.core.DataFileContent.PositionDeletes))
    assert(del.map(_.recordCount).sum == 1, "exactly the matched row is tombstoned")
    assert(data.nonEmpty, "updated + inserted rows appended")
    assert(data.map(_.recordCount).sum == 2, "one updated + one inserted row")
  }

  test("UPDATE under merge-on-read tombstones in place") {
    spark.sql(
      """CREATE TABLE graft.mor.u (id BIGINT, v DOUBLE)
         TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.u VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    val loc = s"$warehouse/mor/u"
    val before = dataFilePaths(loc)

    spark.sql("UPDATE graft.mor.u SET v = v * 10 WHERE id = 2")

    assert(spark.sql("SELECT id, v FROM graft.mor.u ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    assert(before.subsetOf(dataFilePaths(loc)))
    val (del, data) = currentCommitFiles(loc)
    assert(del.map(_.recordCount).sum == 1 && data.map(_.recordCount).sum == 1)
    // time travel to the pre-update state still works
    val snaps = IcebergTables.load(loc).metadata.snapshots
    assert(spark.sql(
      s"SELECT v FROM graft.mor.u VERSION AS OF ${snaps.head.snapshotId} WHERE id = 2")
      .collect()(0).getDouble(0) == 2.0)
  }

  test("non-pushable DELETE under merge-on-read writes tombstones only") {
    spark.sql(
      """CREATE TABLE graft.mor.d (id BIGINT, s STRING)
         TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.d VALUES (1, 'aax'), (2, 'bbb'), (3, 'aay')")
    val loc = s"$warehouse/mor/d"
    val before = dataFilePaths(loc)

    // LIKE is not convertible → the row-level (delta) path, not SupportsDelete
    spark.sql("DELETE FROM graft.mor.d WHERE s LIKE '%a_'")

    assert(spark.sql("SELECT id FROM graft.mor.d").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(dataFilePaths(loc) == before, "delete must add no data files")
    val (del, data) = currentCommitFiles(loc)
    assert(data.isEmpty && del.map(_.recordCount).sum == 2)
    val t = IcebergTables.load(loc)
    assert(t.currentSnapshot.flatMap(_.summary).map(_.operation)
      .contains(graft.core.OpDelete))
  }

  test("MoR MERGE on a partitioned table derives partition tuples for inserts") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE graft.mor.p (id BIGINT, cat STRING, v DOUBLE)
         PARTITIONED BY (cat)
         TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')""")
    spark.sql(
      """INSERT INTO graft.mor.p VALUES
         (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)""")
    Seq((3L, "b", 30.0), (9L, "d", 9.0)).toDF("id", "cat", "v")
      .createOrReplaceTempView("pm_mor")
    spark.sql(
      """MERGE INTO graft.mor.p t USING pm_mor s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.v = s.v
         WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT id, v FROM graft.mor.p ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (9L, 9.0)))
    // appended files carry their partition tuple → pruning stays exact
    val t = IcebergTables.load(s"$warehouse/mor/p")
    val dFiles = t.newScan(graft.core.Expr.equalTo("cat", graft.core.StrLit("d")))
      .planFiles()
    assert(dFiles.nonEmpty && dFiles.forall(_.file.partition("cat") == "d"))
    assert(dFiles.size < t.newScan().planFiles().size)
  }

  test("CoW and MoR modes produce identical results for the same MERGE") {
    import spark.implicits._
    for ((mode, tbl) <- Seq("copy-on-write" -> "eqv_cow", "merge-on-read" -> "eqv_mor")) {
      spark.sql(
        s"""CREATE TABLE graft.mor.$tbl (id BIGINT, grp STRING, v DOUBLE)
           TBLPROPERTIES ('write.merge.mode' = '$mode',
                          'write.update.mode' = '$mode',
                          'write.delete.mode' = '$mode')""")
      spark.sql(
        s"""INSERT INTO graft.mor.$tbl VALUES
           (1,'a',1.0),(2,'a',2.0),(3,'b',3.0),(4,'b',4.0),(5,'c',5.0)""")
      Seq((2L, "a", 20.0), (4L, "x", 40.0), (6L, "c", 6.0))
        .toDF("id", "grp", "v").createOrReplaceTempView(s"chg_$tbl")
      spark.sql(
        s"""MERGE INTO graft.mor.$tbl t USING chg_$tbl s ON t.id = s.id
           WHEN MATCHED AND s.v > 25 THEN UPDATE SET t.grp = s.grp, t.v = s.v
           WHEN MATCHED THEN DELETE
           WHEN NOT MATCHED THEN INSERT *""")
      spark.sql(s"UPDATE graft.mor.$tbl SET v = v + 100 WHERE grp = 'c'")
      spark.sql(s"DELETE FROM graft.mor.$tbl WHERE v < 1.5")
    }
    val cow = spark.sql("SELECT * FROM graft.mor.eqv_cow ORDER BY id").collect().toSeq
    val mor = spark.sql("SELECT * FROM graft.mor.eqv_mor ORDER BY id").collect().toSeq
    assert(cow == mor, s"CoW $cow != MoR $mor")
    assert(cow.nonEmpty)
    // and the MoR table really is tombstone-based
    assert(IcebergTables.load(s"$warehouse/mor/eqv_mor").newScan().planFiles()
      .exists(_.deleteFiles.nonEmpty))
  }

  test("maintenance after MoR DML churn: rewrite tombstones, compact, same rows") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE graft.mor.life (id BIGINT, v DOUBLE)
         TBLPROPERTIES ('write.merge.mode' = 'merge-on-read',
                        'write.update.mode' = 'merge-on-read',
                        'write.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.life SELECT id, CAST(id AS DOUBLE) FROM range(0, 50)")
    // three rounds of churn → three tombstone files accumulate
    for (r <- 1 to 3) {
      Seq((r.toLong, r * 100.0), (50L + r, r * 1.0)).toDF("id", "v")
        .createOrReplaceTempView(s"life_chg_$r")
      spark.sql(
        s"""MERGE INTO graft.mor.life t USING life_chg_$r c ON t.id = c.id
           WHEN MATCHED THEN UPDATE SET t.v = c.v
           WHEN NOT MATCHED THEN INSERT *""")
    }
    spark.sql("DELETE FROM graft.mor.life WHERE id % 10 = 9")
    val loc = s"$warehouse/mor/life"
    val expected = spark.sql("SELECT id, v FROM graft.mor.life ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def deleteFileCount(): Int = IcebergTables.load(loc).newScan().planFiles()
      .flatMap(_.deleteFiles).map(_.path).distinct.size
    assert(deleteFileCount() >= 4, "churn must have accumulated tombstone files")

    // delete-file compaction: fewer tombstone files, same rows
    spark.sql("CALL graft.system.rewrite_position_deletes('mor.life')")
    assert(deleteFileCount() <= 2, "rewrite must consolidate tombstones")
    assert(spark.sql("SELECT id, v FROM graft.mor.life ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected)

    // full compaction absorbs the tombstones entirely
    spark.sql("CALL graft.system.compact('mor.life', 1)")
    assert(IcebergTables.load(loc).newScan().planFiles()
      .forall(_.deleteFiles.isEmpty))
    assert(spark.sql("SELECT id, v FROM graft.mor.life ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected)
  }

  test("snapshot isolation tolerates concurrent appends, conflicts on deletes") {
    spark.sql(
      """CREATE TABLE graft.mor.iso (id BIGINT, v DOUBLE)
         TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.iso VALUES (1, 1.0), (2, 2.0)")
    val loc = s"$warehouse/mor/iso"

    // pure append between scan and commit: tombstones name only
    // pre-existing files → valid on the moved base under snapshot isolation
    val scanned1 = IcebergTables.load(loc)
    TableWriter.append(scanned1,
      spark.sql("SELECT CAST(3 AS BIGINT) AS id, CAST(3.0 AS DOUBLE) AS v"))
    TableWriter.commitDelta(scanned1, Nil, Nil, isolation = "snapshot")
    assert(spark.sql("SELECT count(*) FROM graft.mor.iso")
      .collect()(0).getLong(0) == 3, "concurrent append must survive")

    // concurrent DELETE: re-appending its rows would be a lost delete —
    // snapshot isolation must still conflict
    val scanned2 = IcebergTables.load(loc)
    TableWriter.deleteWhere(scanned2, spark,
      org.apache.spark.sql.functions.col("id") === 2L)
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.commitDelta(scanned2, Nil, Nil, isolation = "snapshot")
    }

    // serializable (the default) conflicts even on a pure append
    val scanned3 = IcebergTables.load(loc)
    TableWriter.append(scanned3,
      spark.sql("SELECT CAST(4 AS BIGINT) AS id, CAST(4.0 AS DOUBLE) AS v"))
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.commitDelta(scanned3, Nil, Nil)
    }
  }

  test("keyed MERGE via merge_keyed: zero target scans, result ≡ CoW MERGE") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)).toDF("id", "name", "v")
    val changes = Seq((2L, "B2", 20.0), (5L, "E", 5.0)).toDF("id", "name", "v")
    changes.createOrReplaceTempView("eqm_changes")

    // reference: positional MERGE on a CoW copy
    spark.sql("CREATE TABLE graft.mor.eqm_cow (id BIGINT, name STRING, v DOUBLE)")
    base.writeTo("graft.mor.eqm_cow").append()
    spark.sql(
      """MERGE INTO graft.mor.eqm_cow t USING eqm_changes s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.name = s.name, t.v = s.v
         WHEN NOT MATCHED THEN INSERT *""")
    val want = spark.sql("SELECT id, name, v FROM graft.mor.eqm_cow ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

    // the keyed shape: one equality-tombstone + append snapshot
    spark.sql("CREATE TABLE graft.mor.eqm (id BIGINT, name STRING, v DOUBLE)")
    base.writeTo("graft.mor.eqm").append()
    val loc = s"$warehouse/mor/eqm"
    val filesBefore = dataFilePaths(loc)
    val plansBefore = TableScan.planFilesCalls.get()
    val res = spark.sql(
      "CALL graft.system.merge_keyed('mor.eqm', 'eqm_changes', 'id')").collect()(0)
    assert(TableScan.planFilesCalls.get() == plansBefore,
      "keyed MERGE must not plan (hence never read) the target's data files")
    assert(res.getLong(1) == 2L) // merged_rows

    val got = spark.sql("SELECT id, name, v FROM graft.mor.eqm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == want)
    // commit shape: ONE snapshot, equality tombstones + appended rows only,
    // no data file rewritten
    assert(filesBefore.subsetOf(dataFilePaths(loc)))
    val (del, data) = currentCommitFiles(loc)
    assert(del.nonEmpty && del.forall(
      _.content == graft.core.DataFileContent.EqualityDeletes))
    assert(data.map(_.recordCount).sum == 2)
    // the merge is ONE snapshot on top of the base append
    val t = IcebergTables.load(loc)
    assert(t.currentSnapshot.get.summary.get.operation == graft.core.OpOverwrite)
  }

  test("MoR commit is pinned: a concurrent commit between scan and write conflicts") {
    spark.sql(
      """CREATE TABLE graft.mor.race (id BIGINT, v DOUBLE)
         TBLPROPERTIES ('write.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.mor.race VALUES (1, 1.0), (2, 2.0)")
    val loc = s"$warehouse/mor/race"
    val scanned = IcebergTables.load(loc)
    // concurrent commit lands → the pinned delta commit must conflict
    TableWriter.append(scanned,
      spark.sql("SELECT CAST(3 AS BIGINT) AS id, CAST(3.0 AS DOUBLE) AS v"))
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.commitDelta(scanned, Nil, Nil)
    }
  }
}
