package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE / complex DELETE via copy-on-write row-level
  * operations, plus the `_file` metadata column they ride on. */
class RowLevelOpsSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft_rlo_wh").toFile.getPath

  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.rlo")
    s
  }

  test("_file metadata column is selectable and file-accurate") {
    spark.sql("CREATE TABLE graft.rlo.f (id BIGINT)")
    spark.sql("INSERT INTO graft.rlo.f VALUES (1), (2)")
    spark.sql("INSERT INTO graft.rlo.f VALUES (3)")
    val rows = spark.sql("SELECT id, _file FROM graft.rlo.f").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(3L) != rows(1L), "second commit is a different file")
    // _file values are exactly the planned data files
    val planned = IcebergTables.load(s"$warehouse/rlo/f")
      .newScan().planFiles().map(_.file.path).toSet
    assert(rows.values.toSet == planned)
  }

  test("SQL UPDATE rewrites only affected files") {
    spark.sql("CREATE TABLE graft.rlo.u (id BIGINT, grp STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.rlo.u VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    spark.sql("INSERT INTO graft.rlo.u VALUES (3, 'b', 30.0)")
    val before = spark.sql("SELECT DISTINCT _file FROM graft.rlo.u WHERE id = 3")
      .collect()(0).getString(0)
    val untouched = spark.sql("SELECT DISTINCT _file FROM graft.rlo.u WHERE id = 1")
      .collect()(0).getString(0)

    spark.sql("UPDATE graft.rlo.u SET v = v * 2 WHERE id = 3")

    val got = spark.sql("SELECT id, v FROM graft.rlo.u ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 60.0)))
    // the file containing id=1,2 was not rewritten (group filtering)
    val after1 = spark.sql("SELECT DISTINCT _file FROM graft.rlo.u WHERE id = 1")
      .collect()(0).getString(0)
    assert(after1 == untouched, "unaffected file must not be rewritten")
    val after3 = spark.sql("SELECT DISTINCT _file FROM graft.rlo.u WHERE id = 3")
      .collect()(0).getString(0)
    assert(after3 != before, "affected file must be replaced")
    // history records an overwrite commit
    val t = IcebergTables.load(s"$warehouse/rlo/u")
    assert(t.currentSnapshot.flatMap(_.summary).map(_.operation)
      .contains(graft.core.OpOverwrite))
  }

  test("MERGE INTO updates matches and inserts the rest") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.rlo.m (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.rlo.m VALUES (1, 'old'), (2, 'keep')")
    Seq((1L, "new"), (3L, "ins")).toDF("id", "name")
      .createOrReplaceTempView("updates")

    spark.sql(
      """MERGE INTO graft.rlo.m t USING updates s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.name = s.name
         WHEN NOT MATCHED THEN INSERT *""")

    val got = spark.sql("SELECT id, name FROM graft.rlo.m ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("non-pushable DELETE falls back to copy-on-write and stays exact") {
    spark.sql("CREATE TABLE graft.rlo.d (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.rlo.d VALUES (1, 'aax'), (2, 'bbb'), (3, 'aay')")
    // LIKE is not convertible by FilterConv → SupportsDelete refuses it and
    // Spark routes through the row-level rewrite
    spark.sql("DELETE FROM graft.rlo.d WHERE s LIKE '%a_'")
    val got = spark.sql("SELECT id FROM graft.rlo.d ORDER BY id").collect()
      .map(_.getLong(0))
    assert(got.toSeq == Seq(2L))
  }

  test("UPDATE on a partitioned table keeps partition tuples and pruning") {
    spark.sql(
      """CREATE TABLE graft.rlo.p (id BIGINT, cat STRING, v DOUBLE)
         PARTITIONED BY (cat)""")
    spark.sql(
      """INSERT INTO graft.rlo.p VALUES
         (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'c', 4.0)""")
    spark.sql("UPDATE graft.rlo.p SET v = v + 100 WHERE id = 2")

    val got = spark.sql("SELECT id, v FROM graft.rlo.p ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 1.0), (2L, 102.0), (3L, 3.0), (4L, 4.0)))
    // replacement files carry their partition tuple → pruning still exact
    val t = IcebergTables.load(s"$warehouse/rlo/p")
    val aFiles = t.newScan(graft.core.Expr.equalTo("cat", graft.core.StrLit("a")))
      .planFiles()
    assert(aFiles.nonEmpty && aFiles.forall(_.file.partition("cat") == "a"))
    assert(aFiles.size < t.newScan().planFiles().size)
    assert(spark.sql("SELECT count(*) FROM graft.rlo.p WHERE cat = 'a'")
      .collect()(0).getLong(0) == 2)

    // MERGE on the partitioned table too (update + cross-partition insert)
    import spark.implicits._
    Seq((3L, "b", 30.0), (9L, "d", 9.0)).toDF("id", "cat", "v")
      .createOrReplaceTempView("pm")
    spark.sql(
      """MERGE INTO graft.rlo.p t USING pm s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET t.v = s.v
         WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT v FROM graft.rlo.p WHERE id = 3")
      .collect()(0).getDouble(0) == 30.0)
    assert(spark.sql("SELECT count(*) FROM graft.rlo.p WHERE cat = 'd'")
      .collect()(0).getLong(0) == 1)
  }

  test("key-equality DELETE commits an equality delete with zero data scan") {
    spark.sql("CREATE TABLE graft.rlo.eq (id BIGINT, grp STRING, v DOUBLE)")
    spark.sql(
      """INSERT INTO graft.rlo.eq VALUES
         (1,'a',1.0),(2,'a',2.0),(3,'b',3.0),(4,'b',4.0),(5,'c',5.0)""")
    val loc = s"$warehouse/rlo/eq"

    def newDeleteEntries(): Seq[graft.core.ManifestEntry] = {
      val t = IcebergTables.load(loc)
      val snap = t.currentSnapshot.get
      graft.core.ManifestIO.readManifestList(t.io.open(snap.manifestList))
        .filter(m => m.content == 1 && m.addedSnapshotId == snap.snapshotId)
        .flatMap(m => graft.core.ManifestIO.readManifestEntries(t.io.open(m.path), m))
    }

    // IN list → one equality-delete file with one key per value, no scan
    val planCallsBefore = TableScan.planFilesCalls.get()
    spark.sql("DELETE FROM graft.rlo.eq WHERE id IN (1, 3)")
    val e1 = newDeleteEntries()
    assert(e1.nonEmpty && e1.forall(
      _.dataFile.content == graft.core.DataFileContent.EqualityDeletes))
    assert(e1.map(_.dataFile.recordCount).sum == 2, "one key row per IN value")
    assert(TableScan.planFilesCalls.get() == planCallsBefore,
      "equality delete must not scan-plan the table")
    assert(spark.sql("SELECT id FROM graft.rlo.eq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L, 5L))

    // multi-column conjunction → one key TUPLE on both columns
    spark.sql("DELETE FROM graft.rlo.eq WHERE grp = 'b' AND id = 4")
    val e2 = newDeleteEntries()
    assert(e2.forall(
      _.dataFile.content == graft.core.DataFileContent.EqualityDeletes))
    assert(e2.map(_.dataFile.recordCount).sum == 1)
    assert(e2.head.dataFile.equalityIds.size == 2, "tuple over (grp, id)")
    assert(spark.sql("SELECT id FROM graft.rlo.eq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 5L))

    // a range predicate stays on the positional path
    spark.sql("DELETE FROM graft.rlo.eq WHERE id > 4")
    val e3 = newDeleteEntries()
    assert(e3.nonEmpty && e3.forall(
      _.dataFile.content == graft.core.DataFileContent.PositionDeletes))
    assert(spark.sql("SELECT id FROM graft.rlo.eq").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))

    // rows inserted AFTER an equality delete are untouched by it
    spark.sql("INSERT INTO graft.rlo.eq VALUES (1,'a',9.0)")
    assert(spark.sql("SELECT id FROM graft.rlo.eq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("mergeSchema append evolves the table schema on write") {
    spark.sql(
      """CREATE TABLE graft.rlo.ms (id BIGINT, v DOUBLE)
         TBLPROPERTIES ('write.accept-any-schema' = 'true')""")
    spark.sql("INSERT INTO graft.rlo.ms VALUES (1, 1.0), (2, 2.0)")

    // frame carries a NEW column → mergeSchema adds it, old rows read null
    import spark.implicits._
    Seq((3L, 3.0, "c")).toDF("id", "v", "tag")
      .writeTo("graft.rlo.ms").option("mergeSchema", "true").append()
    val rows = spark.sql("SELECT id, v, tag FROM graft.rlo.ms ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq((1L, 1.0, null), (2L, 2.0, null), (3L, 3.0, "c")))
    val t = IcebergTables.load(s"$warehouse/rlo/ms")
    assert(t.schema.fields.map(_.name) == Seq("id", "v", "tag"))

    // by-name append with a MISSING column null-fills it
    Seq((4L, "d")).toDF("id", "tag").writeTo("graft.rlo.ms").append()
    assert(spark.sql("SELECT v FROM graft.rlo.ms WHERE id = 4")
      .collect()(0).isNullAt(0))

    // positional VALUES insert still works under ACCEPT_ANY_SCHEMA
    spark.sql("INSERT INTO graft.rlo.ms VALUES (5, 5.0, 'e')")
    assert(spark.sql("SELECT tag FROM graft.rlo.ms WHERE id = 5")
      .collect()(0).getString(0) == "e")

    // without mergeSchema, a new column is a clear error, not silent drop
    val e = intercept[Exception] {
      Seq((6L, 6.0, "f", 9L)).toDF("id", "v", "tag", "extra")
        .writeTo("graft.rlo.ms").append()
    }
    assert(e.getMessage.contains("mergeSchema"), e.getMessage)
  }

  test("full lifecycle: insert, MoR delete, CoW update, compact, time travel") {
    spark.sql("CREATE TABLE graft.rlo.life (id BIGINT, grp STRING, v DOUBLE)")
    spark.sql(
      """INSERT INTO graft.rlo.life VALUES
         (1,'a',1.0),(2,'a',2.0),(3,'b',3.0),(4,'b',4.0),(5,'c',5.0)""")
    val loc = s"$warehouse/rlo/life"
    val snap0 = IcebergTables.load(loc).currentSnapshot.get.snapshotId

    // MoR tombstone delete (pushable predicate)
    spark.sql("DELETE FROM graft.rlo.life WHERE id = 5")
    assert(IcebergTables.load(loc).newScan().planFiles()
      .exists(_.deleteFiles.nonEmpty), "expected MoR tombstones")

    // CoW update on a table that already carries tombstones: the rewrite
    // reads through the deletes, so the deleted row must not resurrect
    spark.sql("UPDATE graft.rlo.life SET v = v * 10 WHERE grp = 'a'")
    val afterUpdate = spark.sql("SELECT id, v FROM graft.rlo.life ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(afterUpdate.toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 3.0), (4L, 4.0)))

    // compaction absorbs remaining tombstones
    spark.sql("CALL graft.system.compact('rlo.life', 1)")
    val t = IcebergTables.load(loc)
    assert(t.newScan().planFiles().forall(_.deleteFiles.isEmpty))
    assert(spark.sql("SELECT CAST(sum(v) AS DOUBLE) FROM graft.rlo.life")
      .collect()(0).getDouble(0) == 37.0)

    // every historical state still resolves exactly
    assert(spark.sql(s"SELECT count(*) FROM graft.rlo.life VERSION AS OF $snap0")
      .collect()(0).getLong(0) == 5)
  }

  test("CoW commit carries untouched manifests by reference (O(delta) metadata)") {
    spark.sql("CREATE TABLE graft.rlo.om (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.rlo.om VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO graft.rlo.om VALUES (3, 3.0)")
    spark.sql("INSERT INTO graft.rlo.om VALUES (4, 4.0)")
    val loc = s"$warehouse/rlo/om"
    def manifests(): Seq[graft.core.ManifestFile] = {
      val t = IcebergTables.load(loc)
      graft.core.ManifestIO.readManifestList(
        t.io.open(t.currentSnapshot.get.manifestList))
    }
    val before = manifests()
    assert(before.size == 3, "three appends → three manifests")
    val beforeByPath = before.map(m => m.path -> m).toMap
    val beforeBytes = before.map(m =>
      m.path -> Files.readAllBytes(new java.io.File(m.path).toPath)).toMap

    spark.sql("UPDATE graft.rlo.om SET v = 40.0 WHERE id = 4")

    val after = manifests()
    // the two manifests not containing id=4 carry over by reference —
    // identical path, identical bytes on disk
    val carried = after.filter(m => beforeByPath.contains(m.path))
    assert(carried.size == 2, s"expected 2 untouched manifests, got $after")
    carried.foreach { m =>
      assert(m == beforeByPath(m.path), "carried manifest metadata unchanged")
      assert(java.util.Arrays.equals(
        Files.readAllBytes(new java.io.File(m.path).toPath), beforeBytes(m.path)),
        "carried manifest file bytes unchanged")
    }
    val got = spark.sql("SELECT id, v FROM graft.rlo.om ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 40.0)))

    // with scan provenance, the commit READS only the touched manifests —
    // replace one more file via the direct API and count entry reads
    val t2 = IcebergTables.load(loc)
    val target = t2.newScan().planFiles().find(_.file.recordCount == 1).get
    val reads0 = graft.core.ManifestIO.entryReads.get()
    TableWriter.replaceFiles(t2, Set(target.file.path), Nil,
      touchedManifests = Some(Set(target.manifestPath)))
    val commitReads = graft.core.ManifestIO.entryReads.get() - reads0
    assert(commitReads == 1,
      s"commit should read ONLY the touched manifest, read $commitReads")
    assert(IcebergTables.load(loc).newScan().toDF(spark).count() == 3)
  }

  test("CoW commit pinned to the scanned version conflicts with a concurrent commit") {
    spark.sql("CREATE TABLE graft.rlo.race (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.rlo.race VALUES (1, 1.0), (2, 2.0)")
    val loc = s"$warehouse/rlo/race"
    val scanned = IcebergTables.load(loc)
    val files = scanned.newScan().planFiles().map(_.file.path)
    // a MoR delete lands between the CoW scan and its commit: its tombstones
    // reference the file the CoW is about to replace — carrying on would
    // silently resurrect the deleted row, so the commit must conflict
    TableWriter.deleteWhere(scanned, spark, org.apache.spark.sql.functions.col("id") === 2)
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.replaceFiles(scanned, files.toSet, Nil)
    }
    // the concurrent delete survived
    assert(spark.sql("SELECT id FROM graft.rlo.race ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("UPDATE preserves time travel to the pre-update snapshot") {
    spark.sql("CREATE TABLE graft.rlo.tt (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.rlo.tt VALUES (1, 1.0), (2, 2.0)")
    val snap = IcebergTables.load(s"$warehouse/rlo/tt").currentSnapshot.get.snapshotId
    spark.sql("UPDATE graft.rlo.tt SET v = 9.0 WHERE id = 1")
    assert(spark.sql("SELECT v FROM graft.rlo.tt WHERE id = 1")
      .collect()(0).getDouble(0) == 9.0)
    assert(spark.sql(s"SELECT v FROM graft.rlo.tt VERSION AS OF $snap WHERE id = 1")
      .collect()(0).getDouble(0) == 1.0)
  }
}
