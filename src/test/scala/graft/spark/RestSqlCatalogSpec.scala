package graft.spark

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, RestCatalog, TestRestCatalogServer}
import graft.core._

/** The REST plane behind the Spark SQL catalog: a [[GraftCatalog]]
  * configured with `uri` resolves tables and views through a live REST
  * server next to its local warehouse — SELECT over a REST-cataloged
  * table, SQL DML (INSERT / DELETE / UPDATE / MERGE / INSERT OVERWRITE /
  * TRUNCATE) committing through the server's update actions with the
  * scanned head pinned (CAS conflict on concurrent commits), CALL
  * expire_snapshots committing remove-snapshots server-side, CREATE VIEW
  * persisting server-side, and SHOW VIEWS listing BOTH planes. */
class RestSqlCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val server = new TestRestCatalogServer("graft-ci", "s3cr3t")
  private lazy val rc: RestCatalog = {
    server.start()
    Catalog.load("it", server.uri,
      Map(RestCatalog.KeyCredential -> "graft-ci:s3cr3t")).asInstanceOf[RestCatalog]
  }
  private lazy val wh = Files.createTempDirectory("rest_sql_wh").toFile.getPath

  override def afterAll(): Unit = server.stop()

  private def conf(): Unit = {
    server.start()
    spark.conf.set("spark.sql.catalog.grest", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grest.warehouse", wh)
    spark.conf.set("spark.sql.catalog.grest.uri", server.uri)
    spark.conf.set("spark.sql.catalog.grest.credential", "graft-ci:s3cr3t")
  }

  private val schema = Schema(0, StructT(Seq(
    NestedField(1, "id", LongT, required = true),
    NestedField(2, "data", StringT))))

  private def appendRest(ident: Seq[String], loc: String,
                         rows: Seq[(Long, String)], tag: String): Unit = {
    import spark.implicits._
    val raw = Files.createTempDirectory(s"rsql_$tag").toFile
    rows.toDF("id", "data").coalesce(1).write.mode("overwrite").parquet(raw.getPath)
    val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
    dest.getParentFile.mkdirs()
    java.nio.file.Files.copy(src.toPath, dest.toPath)
    TableWriter.appendFiles(TableWriter.restTableOf(rc.loadTable(ident), rc),
      Seq(CowFileOut(dest.getPath, rows.size, Map.empty)))
    ()
  }

  private def rowsOf(table: String): Seq[(Long, String)] =
    spark.sql(s"SELECT id, data FROM $table ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("SQL DML on a REST-cataloged table commits through the server") {
    conf()
    rc.createNamespace(Seq("db"))
    val loc = Files.createTempDirectory("rsql_t").toFile.getPath
    rc.createTable(Seq("db", "events"), schema, location = Some(loc))
    appendRest(Seq("db", "events"), loc, Seq((1L, "a"), (2L, "b")), "e1")

    assert(rowsOf("grest.db.events") == Seq((1L, "a"), (2L, "b")))
    // SHOW TABLES sees the REST plane
    val listed = spark.sql("SHOW TABLES IN grest.db")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("events"), listed)

    def md() = rc.loadTable(Seq("db", "events")).metadata

    // INSERT INTO appends through the server's update actions
    spark.sql("INSERT INTO grest.db.events VALUES (3, 'c')")
    assert(md().snapshots.size == 2)
    assert(rowsOf("grest.db.events") == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // key-equality DELETE commits an equality-delete manifest — zero data
    // scan, zero data-file rewrite
    spark.sql("DELETE FROM grest.db.events WHERE id = 1")
    assert(rowsOf("grest.db.events") == Seq((2L, "b"), (3L, "c")))
    val delSnap = md().currentSnapshot.get
    assert(delSnap.summary.get.properties.get("added-delete-files").contains("1"),
      delSnap.summary)
    assert(delSnap.summary.get.properties.get("added-data-files").contains("0"))

    // non-equality pushable DELETE commits positional tombstones (V2 MoR)
    spark.sql("INSERT INTO grest.db.events VALUES (10, 'x'), (11, 'y')")
    spark.sql("DELETE FROM grest.db.events WHERE id > 10")
    assert(rowsOf("grest.db.events") == Seq((2L, "b"), (3L, "c"), (10L, "x")))

    // UPDATE rides the copy-on-write row-level path, committed server-side
    spark.sql("UPDATE grest.db.events SET data = 'B' WHERE id = 2")
    assert(rowsOf("grest.db.events") == Seq((2L, "B"), (3L, "c"), (10L, "x")))

    // MERGE: matched update + unmatched insert in one commit
    spark.sql(
      """MERGE INTO grest.db.events t
         USING (SELECT 3L AS id, 'C' AS data
                UNION ALL SELECT 4L, 'd') s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    assert(rowsOf("grest.db.events") ==
      Seq((2L, "B"), (3L, "C"), (4L, "d"), (10L, "x")))

    // INSERT OVERWRITE replaces every live file in one pinned commit;
    // prior state stays reachable through the server's snapshot history
    val headBefore = md().currentSnapshotId.get
    spark.sql("INSERT OVERWRITE grest.db.events VALUES (9, 'z')")
    assert(rowsOf("grest.db.events") == Seq((9L, "z")))
    assert(md().snapshots.exists(_.snapshotId == headBefore))

    // TRUNCATE TABLE: metadata-only empty overwrite through the server
    spark.sql("TRUNCATE TABLE grest.db.events")
    assert(spark.sql("SELECT count(*) FROM grest.db.events")
      .collect()(0).getLong(0) == 0L)

  }

  test("ALTER TABLE on a REST table commits add-schema/set-properties through the server") {
    conf()
    rc.createNamespace(Seq("alt"))
    val loc = Files.createTempDirectory("rsql_alt").toFile.getPath
    rc.createTable(Seq("alt", "t"), schema, location = Some(loc))
    appendRest(Seq("alt", "t"), loc, Seq((1L, "a"), (2L, "b")), "a1")

    // ADD COLUMN evolves the schema SERVER-side; old rows read null
    spark.sql("ALTER TABLE grest.alt.t ADD COLUMN score DOUBLE")
    val md1 = rc.loadTable(Seq("alt", "t")).metadata
    assert(md1.currentSchema.fields.map(_.name) == Seq("id", "data", "score"))
    assert(md1.schemas.size == 2, "schema history must append, not rewrite")
    // nothing was written behind the server: no local metadata json
    assert(!new java.io.File(loc, "metadata/v1.metadata.json").isFile &&
      !new java.io.File(loc, "metadata/v2.metadata.json").isFile,
      "ALTER must not write metadata files under the table location")
    val rows = spark.sql("SELECT id, data, score FROM grest.alt.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
    assert(rows == Seq((1L, "a", true), (2L, "b", true)))

    // INSERT fills the new column; RENAME resolves old files by field id
    spark.sql("INSERT INTO grest.alt.t VALUES (3, 'c', 0.5)")
    spark.sql("ALTER TABLE grest.alt.t RENAME COLUMN data TO label")
    val got = spark.sql("SELECT id, label, score FROM grest.alt.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // DROP COLUMN + SET/UNSET TBLPROPERTIES ride the same wire
    spark.sql("ALTER TABLE grest.alt.t DROP COLUMN score")
    assert(rc.loadTable(Seq("alt", "t")).metadata.currentSchema.fields
      .map(_.name) == Seq("id", "label"))
    spark.sql("ALTER TABLE grest.alt.t SET TBLPROPERTIES ('team' = 'ml')")
    assert(rc.loadTable(Seq("alt", "t")).metadata.properties
      .get("team").contains("ml"))
    spark.sql("ALTER TABLE grest.alt.t UNSET TBLPROPERTIES ('team')")
    assert(!rc.loadTable(Seq("alt", "t")).metadata.properties.contains("team"))

    // a racing evolution conflicts: assert-current-schema-id guards it
    val before = rc.loadTable(Seq("alt", "t")).metadata
    rc.commitTable(Seq("alt", "t"),
      Seq(graft.catalog.AssertTableUuid(before.tableUuid)),
      Seq(graft.catalog.AddSchema(before.currentSchema.copy(
        schemaId = before.currentSchemaId + 1)),
        graft.catalog.SetCurrentSchema(-1)))
    intercept[graft.catalog.CommitConflictError] {
      rc.commitTable(Seq("alt", "t"),
        Seq(graft.catalog.AssertTableUuid(before.tableUuid),
          graft.catalog.AssertCurrentSchemaId(before.currentSchemaId)),
        Seq(graft.catalog.AddSchema(before.currentSchema.copy(
          schemaId = before.currentSchemaId + 1)),
          graft.catalog.SetCurrentSchema(-1)))
    }

    // format-version upgrade routes through upgrade-format-version (the
    // dedicated test below covers the DV re-home); here: pure flip works
    spark.sql("ALTER TABLE grest.alt.t SET TBLPROPERTIES ('format-version' = '3')")
    assert(rc.loadTable(Seq("alt", "t")).metadata.formatVersion == 3)

    // and the evolved table still takes SQL DML end-to-end
    spark.sql("UPDATE grest.alt.t SET label = 'A' WHERE id = 1")
    assert(spark.sql("SELECT label FROM grest.alt.t WHERE id = 1")
      .collect()(0).getString(0) == "A")
  }

  test("MoR-mode SQL UPDATE on a REST table commits a positional delta") {
    conf()
    rc.createNamespace(Seq("mor"))
    val loc = Files.createTempDirectory("rsql_mor").toFile.getPath
    rc.createTable(Seq("mor", "t"), schema,
      Map("write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"), location = Some(loc))
    appendRest(Seq("mor", "t"), loc, Seq((1L, "a"), (2L, "b"), (3L, "c")), "m1")

    spark.sql("UPDATE grest.mor.t SET data = 'A' WHERE id = 1")
    assert(rowsOf("grest.mor.t") == Seq((1L, "A"), (2L, "b"), (3L, "c")))
    // the commit is a DELTA: positional tombstones + appended rows, no
    // data-file rewrite (the seed file is still live)
    val md = rc.loadTable(Seq("mor", "t")).metadata
    val head = md.currentSnapshot.get
    assert(head.summary.get.properties.get("added-delete-files").contains("1"),
      head.summary)
    assert(head.summary.get.properties.get("added-data-files").contains("1"))
  }

  test("V3 REST table: MoR UPDATE and positional DELETE commit deletion vectors") {
    conf()
    rc.createNamespace(Seq("v3"))
    val loc = Files.createTempDirectory("rsql_v3").toFile.getPath
    rc.createTable(Seq("v3", "t"), schema,
      Map("format-version" -> "3",
        "write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"), location = Some(loc))
    assert(rc.loadTable(Seq("v3", "t")).metadata.formatVersion == 3)
    appendRest(Seq("v3", "t"), loc, Seq((1L, "a"), (2L, "b"), (3L, "c")), "v1")

    // MoR UPDATE on V3: tombstones re-home into a deletion vector,
    // committed through the server
    spark.sql("UPDATE grest.v3.t SET data = 'A' WHERE id = 1")
    assert(rowsOf("grest.v3.t") == Seq((1L, "A"), (2L, "b"), (3L, "c")))
    val md1 = rc.loadTable(Seq("v3", "t")).metadata
    assert(md1.currentSnapshot.get.summary.get.properties
      .get("deletion-vectors-added").contains("1"), md1.currentSnapshot.get.summary)

    // positional DELETE (non-equality pushable) also rides the DV path;
    // the new DV MERGES the file's prior deletes
    spark.sql("DELETE FROM grest.v3.t WHERE id > 2")
    assert(rowsOf("grest.v3.t") == Seq((1L, "A"), (2L, "b")))
    val md2 = rc.loadTable(Seq("v3", "t")).metadata
    assert(md2.currentSnapshot.get.summary.get.properties
      .get("deletion-vectors-added").contains("1"), md2.currentSnapshot.get.summary)
    // V3 row lineage advanced server-side across the appends
    assert(md2.nextRowId.exists(_ >= 3L), md2.nextRowId)
  }

  test("format-version upgrade over REST: pure flip, and DV re-home in the same commit") {
    conf()
    rc.createNamespace(Seq("up"))
    // (a) no live tombstones: ONE upgrade-format-version action — a pure
    // metadata flip, no new snapshot
    val loc1 = Files.createTempDirectory("rsql_up1").toFile.getPath
    rc.createTable(Seq("up", "clean"), schema, location = Some(loc1))
    appendRest(Seq("up", "clean"), loc1, Seq((1L, "a")), "u1")
    val snapsBefore = rc.loadTable(Seq("up", "clean")).metadata.snapshots.size
    spark.sql("ALTER TABLE grest.up.clean SET TBLPROPERTIES ('format-version'='3')")
    val mdClean = rc.loadTable(Seq("up", "clean")).metadata
    assert(mdClean.formatVersion == 3)
    assert(mdClean.snapshots.size == snapsBefore)
    assert(rowsOf("grest.up.clean") == Seq((1L, "a")))

    // (b) live parquet tombstones: the upgrade re-homes them into DVs in
    // the SAME commit as the flip (reader sees V2+tombstones or V3+DVs,
    // never a V3 table whose tombstone files it must silently ignore)
    val loc2 = Files.createTempDirectory("rsql_up2").toFile.getPath
    rc.createTable(Seq("up", "mor"), schema,
      Map("write.delete.mode" -> "merge-on-read"), location = Some(loc2))
    appendRest(Seq("up", "mor"), loc2, Seq((1L, "a"), (2L, "b"), (3L, "c")), "u2")
    // a RANGE delete (id = 2 would take the equality-delete shortcut,
    // which V3 permits — only positional parquet tombstones need re-homing)
    spark.sql("DELETE FROM grest.up.mor WHERE id > 2")
    assert(rc.loadTable(Seq("up", "mor")).metadata.formatVersion == 2)
    spark.sql("ALTER TABLE grest.up.mor SET TBLPROPERTIES ('format-version'='3')")
    val mdV3 = rc.loadTable(Seq("up", "mor")).metadata
    assert(mdV3.formatVersion == 3)
    val head = mdV3.currentSnapshot.get
    assert(head.summary.get.properties.get("deletion-vectors-added").contains("1"),
      head.summary)
    assert(head.summary.get.properties
      .get("position-delete-files-removed").contains("1"), head.summary)
    assert(rowsOf("grest.up.mor") == Seq((1L, "a"), (2L, "b")))
    // no live parquet tombstone remains — every delete reference is a DV
    val dels = TableWriter.restTableOf(rc.loadTable(Seq("up", "mor")))
      .newScan().planFiles().flatMap(_.deleteFiles)
    assert(dels.nonEmpty && dels.forall(_.isDeletionVector),
      dels.map(d => (d.path, d.isDeletionVector)))
    // subsequent DML rides the V3 DV path (folds the re-homed DV)
    spark.sql("DELETE FROM grest.up.mor WHERE id > 1")
    assert(rowsOf("grest.up.mor") == Seq((1L, "a")))

    // (c) downgrade refuses
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE grest.up.mor SET TBLPROPERTIES ('format-version'='2')")
    }
    assert(e.getMessage.contains("downgrade"), e.getMessage)
  }

  test("Structured Streaming over REST: sink epochs commit through the server; source follows the catalog") {
    conf()
    import spark.implicits._
    rc.createNamespace(Seq("st"))
    val loc = Files.createTempDirectory("rsql_stream").toFile.getPath
    rc.createTable(Seq("st", "t"), schema, location = Some(loc))

    // SINK: writeStream.toTable on the REST-cataloged table — each
    // non-empty epoch commits ONE append snapshot through the server
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("rsql_stream_ck").toFile.getPath
    val wq = in.toDF.toDF("id", "data").writeStream
      .option("checkpointLocation", ckpt)
      .toTable("grest.st.t")
    try {
      in.addData((1L, "a"), (2L, "b")); wq.processAllAvailable()
      in.addData((3L, "c")); wq.processAllAvailable()
    } finally wq.stop()
    val md = rc.loadTable(Seq("st", "t")).metadata
    assert(md.snapshots.size == 2, md.snapshots.map(_.summary))
    assert(md.snapshots.forall(_.summary.exists(
      _.properties.contains("streaming-query-id"))), md.snapshots.map(_.summary))
    assert(rowsOf("grest.st.t") == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // SOURCE: readStream.table follows the CATALOG — fresh server
    // metadata every poll; a later SQL INSERT (also through the server)
    // reaches the running stream as its own micro-batch
    val ck2 = Files.createTempDirectory("rsql_stream_ck2").toFile.getPath
    val rq = spark.readStream.table("grest.st.t")
      .writeStream.format("memory").queryName("rest_stream_read")
      .option("checkpointLocation", ck2).start()
    try {
      rq.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM rest_stream_read")
        .head.getLong(0) == 3)
      spark.sql("INSERT INTO grest.st.t VALUES (4, 'd')")
      rq.processAllAvailable()
      assert(spark.sql("SELECT id, data FROM rest_stream_read ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally rq.stop()
  }

  test("data-rewriting maintenance CALLs on a REST table commit through the server") {
    conf()
    rc.createNamespace(Seq("mx"))
    val loc = Files.createTempDirectory("rsql_mx").toFile.getPath
    rc.createTable(Seq("mx", "t"), schema,
      Map("write.delete.mode" -> "merge-on-read"), location = Some(loc))
    // small-file debt + a positional tombstone
    appendRest(Seq("mx", "t"), loc, Seq((1L, "a")), "x1")
    appendRest(Seq("mx", "t"), loc, Seq((2L, "b")), "x2")
    appendRest(Seq("mx", "t"), loc, Seq((3L, "c")), "x3")
    spark.sql("DELETE FROM grest.mx.t WHERE id > 2")
    def md() = rc.loadTable(Seq("mx", "t")).metadata
    val snaps0 = md().snapshots.size

    // rewrite_position_deletes: merged tombstones commit server-side
    spark.sql("CALL grest.system.rewrite_position_deletes('mx.t')").collect()
    assert(md().snapshots.size == snaps0 + 1)

    // rewrite_manifests: consolidation commits server-side
    spark.sql("CALL grest.system.rewrite_manifests('mx.t')").collect()
    assert(md().snapshots.size == snaps0 + 2)

    // compact: whole-table rewrite commits as a head-pinned replace
    spark.sql("CALL grest.system.compact('mx.t', 1)").collect()
    assert(md().snapshots.size == snaps0 + 3)
    assert(rowsOf("grest.mx.t") == Seq((1L, "a"), (2L, "b")))
    // the server owns history: NO metadata json was written behind it
    val metaDir = new java.io.File(loc, "metadata")
    assert(!Option(metaDir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.endsWith(".metadata.json")), "local metadata written")

    // rewrite_sorted registers its order server-side (add-sort-order +
    // set-default-sort-order) and stamps the files, so the
    // SupportsReportOrdering gate holds over REST too
    spark.sql("CALL grest.system.rewrite_sorted('mx.t', 1, 'id')").collect()
    val mdS = md()
    assert(mdS.sortOrder.fields.map(_.sourceId) == Seq(1), mdS.sortOrders)
    val stamped = TableWriter.restTableOf(rc.loadTable(Seq("mx", "t")))
      .newScan().planFiles()
    assert(stamped.nonEmpty &&
      stamped.forall(_.file.sortOrderId.contains(mdS.sortOrder.orderId)),
      stamped.map(t => (t.file.path, t.file.sortOrderId)))

    // compute_table_stats / compute_partition_stats: set-statistics /
    // set-partition-statistics update actions register server-side
    spark.sql("CALL grest.system.compute_table_stats('mx.t', 'id,data')").collect()
    val md1 = md()
    assert(md1.statisticsFiles.exists(
      _.snapshotId == md1.currentSnapshot.get.snapshotId), md1.statisticsFiles)

    // partition-spec evolution commits add-spec + set-default-spec(-1)
    spark.sql("CALL grest.system.add_partition_field('mx.t', 'data', 'identity')")
      .collect()
    val mdSpec = md()
    assert(mdSpec.partitionSpecs.size == 2 &&
      mdSpec.partitionSpec.fields.map(_.name) == Seq("data"),
      mdSpec.partitionSpecs)
    spark.sql("INSERT INTO grest.mx.t VALUES (5, 'e')")
    assert(rowsOf("grest.mx.t") == Seq((1L, "a"), (2L, "b"), (5L, "e")))
    spark.sql("CALL grest.system.compute_partition_stats('mx.t')").collect()
    val md2 = md()
    assert(md2.partitionStatisticsFiles.exists(
      _.snapshotId == md2.currentSnapshot.get.snapshotId))
    spark.sql("CALL grest.system.drop_partition_field('mx.t', 'data')").collect()
    assert(md().partitionSpec.fields.isEmpty)

    // merge_keyed: ONE atomic retract-and-replace snapshot, server-side
    {
      import spark.implicits._
      Seq((2L, "B2"), (7L, "g")).toDF("id", "data")
        .createOrReplaceTempView("mx_src")
    }
    spark.sql("CALL grest.system.merge_keyed('mx.t', 'mx_src', 'id')").collect()
    assert(rowsOf("grest.mx.t") ==
      Seq((1L, "a"), (2L, "B2"), (5L, "e"), (7L, "g")))

    // binpack selection holds over REST: every file already clears a
    // 1-byte min-size floor, so selection rewrites nothing
    val snapsBeforeNoop = md().snapshots.size
    val r2 = spark.sql(
      "CALL grest.system.compact('mx.t', 1, CAST(NULL AS STRING), 1, " +
        "CAST(NULL AS INT))").collect()(0)
    assert(r2.getInt(2) == 0, s"expected 0 rewritten, got $r2")
    assert(md().snapshots.size == snapsBeforeNoop) // no-op → no commit
  }

  test("SQL DDL routes to the REST plane: namespaces, CREATE/DROP/RENAME TABLE") {
    conf()
    // CREATE NAMESPACE on a uri-configured catalog lands on the SERVER
    spark.sql("CREATE NAMESPACE grest.ddl")
    assert(rc.listNamespaces().contains(Seq("ddl")))
    assert(spark.sql("SHOW NAMESPACES IN grest").collect()
      .map(_.getString(0)).contains("ddl"))

    // CREATE TABLE into the REST-resident namespace creates through the
    // server, carrying the PARTITIONED BY spec on the CreateTableRequest
    spark.sql("CREATE TABLE grest.ddl.t (id BIGINT, data STRING) " +
      "PARTITIONED BY (data)")
    val created = rc.loadTable(Seq("ddl", "t")).metadata
    assert(created.partitionSpec.fields.size == 1 &&
      created.partitionSpec.fields.head.transform == graft.core.IdentityTransform,
      created.partitionSpec)
    // and it takes SQL DML end-to-end immediately
    spark.sql("INSERT INTO grest.ddl.t VALUES (1, 'a'), (2, 'b')")
    assert(rowsOf("grest.ddl.t") == Seq((1L, "a"), (2L, "b")))

    // a SECOND create in the same (now warehouse-dir-backed) namespace
    // still lands on the server — plane selection is by namespace
    // residency, not by the dirs provisioning created
    spark.sql("CREATE TABLE grest.ddl.s (id BIGINT)")
    assert(rc.tableExists(Seq("ddl", "s")))
    spark.sql("DROP TABLE grest.ddl.s")

    // ALTER NAMESPACE on the server-resident namespace routes its
    // properties update through the spec's route
    spark.sql("ALTER NAMESPACE grest.ddl SET PROPERTIES ('team'='graft')")
    assert(rc.namespaceProperties(Seq("ddl")).get("team").contains("graft"))

    // RENAME routes through the server; a re-create under the OLD name
    // provisions a FRESH location (never the renamed table's directory)
    spark.sql("ALTER TABLE grest.ddl.t RENAME TO grest.ddl.t2")
    assert(rc.tableExists(Seq("ddl", "t2")) && !rc.tableExists(Seq("ddl", "t")))
    assert(rowsOf("grest.ddl.t2") == Seq((1L, "a"), (2L, "b")))
    spark.sql("CREATE TABLE grest.ddl.t (id BIGINT, data STRING)")
    val reloc = rc.loadTable(Seq("ddl", "t")).metadata.location
    assert(reloc != rc.loadTable(Seq("ddl", "t2")).metadata.location)
    spark.sql("DROP TABLE grest.ddl.t") // sweeps ONLY its own fresh dir
    assert(rowsOf("grest.ddl.t2") == Seq((1L, "a"), (2L, "b")))

    // DROP TABLE drops on the server (and sweeps the warehouse-provisioned
    // location dir); DROP NAMESPACE then drops the empty namespace
    spark.sql("DROP TABLE grest.ddl.t2")
    assert(!rc.tableExists(Seq("ddl", "t2")))
    spark.sql("DROP NAMESPACE grest.ddl")
    assert(!rc.listNamespaces().contains(Seq("ddl")))
  }

  test("CALL register_table adopts an existing table into the REST catalog") {
    conf()
    import spark.implicits._
    rc.createNamespace(Seq("reg"))
    val loc = Files.createTempDirectory("rsql_reg").toFile.getPath
    val t = TableWriter.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "data"), loc)
    val res = spark.sql("CALL grest.system.register_table('reg.adopted', " +
      s"'${t.metadataPath}')").collect()(0)
    assert(rc.tableExists(Seq("reg", "adopted")))
    assert(rowsOf("grest.reg.adopted") == Seq((1L, "a"), (2L, "b")))
    assert(res.getString(0).nonEmpty)
  }

  test("metadata tables resolve over REST parents") {
    conf()
    rc.createNamespace(Seq("mt"))
    val loc = Files.createTempDirectory("rsql_mt").toFile.getPath
    rc.createTable(Seq("mt", "t"), schema, location = Some(loc))
    appendRest(Seq("mt", "t"), loc, Seq((1L, "a")), "q1")
    appendRest(Seq("mt", "t"), loc, Seq((2L, "b")), "q2")
    // `grest.mt.t.snapshots` / `.files` serve the SERVER-loaded tree
    assert(spark.sql("SELECT snapshot_id FROM grest.mt.t.snapshots")
      .collect().length == 2)
    assert(spark.sql("SELECT file_path FROM grest.mt.t.files")
      .collect().length == 2)
    assert(spark.sql("SELECT name FROM grest.mt.t.refs")
      .collect().map(_.getString(0)).toSet == Set("main"))
  }

  test("WAP over REST: branch staging + fast_forward, wap.id stage + publish_changes") {
    conf()
    rc.createNamespace(Seq("wap"))
    val loc = Files.createTempDirectory("rsql_wap").toFile.getPath
    rc.createTable(Seq("wap", "t"), schema,
      Map("write.wap.enabled" -> "true"), location = Some(loc))
    appendRest(Seq("wap", "t"), loc, Seq((1L, "a")), "w1")

    // branch staging: the INSERT forks from main, only the branch moves
    spark.conf.set("spark.wap.branch", "audit")
    try spark.sql("INSERT INTO grest.wap.t VALUES (2, 'staged')")
    finally spark.conf.unset("spark.wap.branch")
    val mdB = rc.loadTable(Seq("wap", "t")).metadata
    assert(mdB.refs.contains("audit"))
    assert(rowsOf("grest.wap.t") == Seq((1L, "a")), "main must be untouched")
    // publish via fast_forward — one set-snapshot-ref(main) server-side
    val ff = spark.sql("CALL grest.system.fast_forward('wap.t', 'audit')")
      .collect()(0)
    assert(ff.getLong(1) == mdB.refs("audit").snapshotId)
    assert(rowsOf("grest.wap.t") == Seq((1L, "a"), (2L, "staged")))

    // wap.id stage-commit: add-snapshot with NO ref move
    spark.conf.set("spark.wap.id", "audit-42")
    try spark.sql("INSERT INTO grest.wap.t VALUES (3, 'pending')")
    finally spark.conf.unset("spark.wap.id")
    val mdS = rc.loadTable(Seq("wap", "t")).metadata
    val staged = mdS.snapshots.find(_.summary.exists(
      _.properties.get("wap.id").contains("audit-42")))
    assert(staged.isDefined, "stage must land as an unreferenced snapshot")
    assert(!mdS.currentSnapshotId.contains(staged.get.snapshotId))
    assert(rowsOf("grest.wap.t") == Seq((1L, "a"), (2L, "staged")))
    // publish by wap id — cherrypick through the server
    val pub = spark.sql("CALL grest.system.publish_changes('wap.t', 'audit-42')")
      .collect()(0)
    assert(pub.getLong(0) == staged.get.snapshotId)
    assert(rowsOf("grest.wap.t") ==
      Seq((1L, "a"), (2L, "staged"), (3L, "pending")))
    // duplicate publish refuses (provenance stamp)
    val e = intercept[Exception] {
      spark.sql("CALL grest.system.cherrypick_snapshot('wap.t', " +
        s"${staged.get.snapshotId}L)").collect()
    }
    assert(e.getMessage.contains("already published"), e.getMessage)
  }

  test("mergeSchema INSERT on a REST table commits add-schema before the append") {
    conf()
    import spark.implicits._
    rc.createNamespace(Seq("ms"))
    val loc = Files.createTempDirectory("rsql_ms").toFile.getPath
    rc.createTable(Seq("ms", "t"), schema,
      Map("write.accept-any-schema" -> "true"), location = Some(loc))
    appendRest(Seq("ms", "t"), loc, Seq((1L, "a")), "m1")

    Seq((2L, "b", 0.9)).toDF("id", "data", "score")
      .writeTo("grest.ms.t").option("mergeSchema", "true").append()
    val md = rc.loadTable(Seq("ms", "t")).metadata
    assert(md.currentSchema.fields.map(_.name) == Seq("id", "data", "score"))
    val got = spark.sql("SELECT id, data, score FROM grest.ms.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(0.9))))
  }

  test("REST CoW/overwrite commits pin the scanned head: concurrent commit conflicts") {
    conf()
    rc.createNamespace(Seq("cas"))
    val loc = Files.createTempDirectory("rsql_cas").toFile.getPath
    rc.createTable(Seq("cas", "t"), schema, location = Some(loc))
    appendRest(Seq("cas", "t"), loc, Seq((1L, "a")), "c1")

    // the pin the SQL row-level path passes: basedOn = the scanned load
    val scanned = rc.loadTable(Seq("cas", "t"))
    val paths = TableWriter.restTableOf(scanned).newScan(remotePlanningOk = false)
      .planFiles().map(_.file.path).toSet
    // a concurrent writer lands between scan and commit
    appendRest(Seq("cas", "t"), loc, Seq((2L, "b")), "c2")
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.replaceFiles(TableWriter.restTableOf(scanned, rc), paths, Nil)
    }
    // nothing lost: both rows still present, and a RE-SCANNED rewrite lands
    assert(rowsOf("grest.cas.t") == Seq((1L, "a"), (2L, "b")))
    spark.sql("UPDATE grest.cas.t SET data = 'A' WHERE id = 1")
    assert(rowsOf("grest.cas.t") == Seq((1L, "A"), (2L, "b")))
  }

  test("CALL expire_snapshots on a REST-cataloged table commits remove-snapshots") {
    conf()
    rc.createNamespace(Seq("exp"))
    val loc = Files.createTempDirectory("rsql_exp").toFile.getPath
    rc.createTable(Seq("exp", "t"), schema, location = Some(loc))
    appendRest(Seq("exp", "t"), loc, Seq((1L, "a")), "x1")
    appendRest(Seq("exp", "t"), loc, Seq((2L, "b")), "x2")
    appendRest(Seq("exp", "t"), loc, Seq((3L, "c")), "x3")
    assert(rc.loadTable(Seq("exp", "t")).metadata.snapshots.size == 3)

    val row = spark.sql("CALL grest.system.expire_snapshots('exp.t', " +
      s"${System.currentTimeMillis() + 1000}L, 1)").collect()(0)
    assert(row.getInt(0) == 2 && row.getInt(1) == 1, row)
    val md = rc.loadTable(Seq("exp", "t")).metadata
    assert(md.snapshots.size == 1)
    assert(md.snapshots.head.snapshotId == md.currentSnapshotId.get)
    // the surviving state still reads through SQL
    assert(spark.sql("SELECT count(*) FROM grest.exp.t").collect()(0).getLong(0) == 3L)
  }

  /** SQL view DDL needs [[GraftSparkExtensions]] (vanilla Spark has no
    * surface for DSv2 ViewCatalog) — builder dance as in ViewCatalogSpec. */
  private def newExtSession(): org.apache.spark.sql.SparkSession = {
    val base = SparkTestSession.spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSparkExtensions())
      .config("spark.sql.catalog.grest", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.grest.warehouse", wh)
      .config("spark.sql.catalog.grest.uri", server.uri)
      .config("spark.sql.catalog.grest.credential", "graft-ci:s3cr3t")
      .config("spark.sql.catalog.glocal", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.glocal.warehouse", wh)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    org.apache.spark.sql.SparkSession.setDefaultSession(base)
    org.apache.spark.sql.SparkSession.setActiveSession(base)
    s
  }

  test("ref maintenance CALLs on a REST-cataloged table commit through the server") {
    conf()
    rc.createNamespace(Seq("refs"))
    val loc = Files.createTempDirectory("rsql_refs").toFile.getPath
    rc.createTable(Seq("refs", "t"), schema, location = Some(loc))
    appendRest(Seq("refs", "t"), loc, Seq((1L, "a")), "r1")
    val s1 = rc.loadTable(Seq("refs", "t")).metadata.currentSnapshotId.get
    appendRest(Seq("refs", "t"), loc, Seq((2L, "b")), "r2")
    val s2 = rc.loadTable(Seq("refs", "t")).metadata.currentSnapshotId.get

    // branch WITH retention lands server-side
    val row = spark.sql("CALL grest.system.create_branch('refs.t', 'audit', " +
      s"${s1}L, min_snapshots_to_keep => 3)").collect()(0)
    assert(row.getLong(1) == s1)
    val md1 = rc.loadTable(Seq("refs", "t")).metadata
    assert(md1.refs("audit").snapshotId == s1)
    assert(md1.refs("audit").minSnapshotsToKeep.contains(3))

    spark.sql("CALL grest.system.create_tag('refs.t', 'pin', 0L)")
    assert(rc.loadTable(Seq("refs", "t")).metadata.refs("pin").snapshotId == s2)
    // retention on a tag refuses before any commit
    val e = intercept[Exception] {
      spark.sql("CALL grest.system.set_branch_retention('refs.t', 'pin', 2, 0L)")
    }
    assert(e.getMessage.contains("tag"), e.getMessage)

    spark.sql("CALL grest.system.set_branch_retention('refs.t', 'audit', 5, 0L)")
    assert(rc.loadTable(Seq("refs", "t")).metadata
      .refs("audit").minSnapshotsToKeep.contains(5))

    // rollback main to s1 via CAS'd set-snapshot-ref
    val rb = spark.sql(
      s"CALL grest.system.rollback_to_snapshot('refs.t', ${s1}L)").collect()(0)
    assert(rb.getLong(0) == s2 && rb.getLong(1) == s1)
    assert(rc.loadTable(Seq("refs", "t")).metadata.currentSnapshotId
      .contains(s1))
    assert(spark.sql("SELECT count(*) FROM grest.refs.t")
      .collect()(0).getLong(0) == 1L)

    spark.sql("CALL grest.system.drop_ref('refs.t', 'pin')")
    assert(!rc.loadTable(Seq("refs", "t")).metadata.refs.contains("pin"))
  }

  test("remove_orphan_files on a REST table sweeps against SERVER metadata") {
    conf()
    rc.createNamespace(Seq("orph"))
    val loc = Files.createTempDirectory("rsql_orph").toFile.getPath
    rc.createTable(Seq("orph", "t"), schema, location = Some(loc))
    appendRest(Seq("orph", "t"), loc, Seq((1L, "a")), "live")
    // a crashed writer left an unreferenced file, older than the cutoff
    val orphan = new java.io.File(new java.io.File(loc, "data"), "orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    orphan.setLastModified(System.currentTimeMillis() - 86400000L)

    val row = spark.sql("CALL grest.system.remove_orphan_files('orph.t', " +
      s"${System.currentTimeMillis() - 3600000L}L)").collect()(0)
    assert(row.getInt(0) == 1, row)
    assert(!orphan.exists(), "orphan must be swept")
    // the referenced data survives and still reads
    assert(spark.sql("SELECT count(*) FROM grest.orph.t")
      .collect()(0).getLong(0) == 1L)
  }

  test("views persist server-side; SHOW VIEWS lists both planes; versions append") {
    server.start()
    rc.createNamespace(Seq("vdb"))
    val spark = newExtSession()
    // a LOCAL base table in the same catalog namespace
    import spark.implicits._
    TableWriter.create(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"),
      s"$wh/vdb/base")

    spark.sql("CREATE VIEW grest.vdb.doubled AS " +
      "SELECT id, v * 2 AS v2 FROM grest.vdb.base")
    // persisted SERVER-side, not as a local warehouse file
    assert(rc.viewExists(Seq("vdb", "doubled")))
    assert(!new java.io.File(s"$wh/vdb/doubled/view.metadata.json").isFile,
      "REST-configured catalog must not write the view locally")
    // SELECT through the REST-persisted view
    val got = spark.sql("SELECT v2 FROM grest.vdb.doubled ORDER BY v2")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(20L, 40L, 60L))

    // a local-plane view (catalog WITHOUT uri, same warehouse)
    spark.sql("CREATE VIEW glocal.vdb.tripled AS " +
      "SELECT id, v * 3 AS v3 FROM glocal.vdb.base")
    // SHOW VIEWS through the REST-configured catalog lists BOTH planes
    val views = spark.sql("SHOW VIEWS IN grest.vdb")
      .collect().map(_.getString(1)).toSet
    assert(views == Set("doubled", "tripled"), views)

    // CREATE OR REPLACE appends a server-side version and moves current
    spark.sql("CREATE OR REPLACE VIEW grest.vdb.doubled AS " +
      "SELECT id, v * 2 + 1 AS v2 FROM grest.vdb.base")
    val md = ViewMetadata.parse(rc.loadView(Seq("vdb", "doubled")))
    assert(md.versions.map(_.versionId) == Seq(1, 2), md.versions.map(_.versionId))
    assert(md.currentVersionId == 2)
    val got2 = spark.sql("SELECT v2 FROM grest.vdb.doubled ORDER BY v2")
      .collect().map(_.getLong(0)).toSeq
    assert(got2 == Seq(21L, 41L, 61L))

    // ALTER VIEW properties land server-side
    spark.sql("ALTER VIEW grest.vdb.doubled SET TBLPROPERTIES ('team' = 'ml')")
    assert(ViewMetadata.parse(rc.loadView(Seq("vdb", "doubled")))
      .properties.get("team").contains("ml"))

    // DROP removes it from the server; the local-plane view is untouched
    spark.sql("DROP VIEW grest.vdb.doubled")
    assert(!rc.viewExists(Seq("vdb", "doubled")))
    assert(spark.sql("SHOW VIEWS IN grest.vdb")
      .collect().map(_.getString(1)).toSet == Set("tripled"))
  }

  test("sync_bm25_index on a REST-cataloged pair commits the fold transactionally") {
    conf()
    import spark.implicits._
    rc.createNamespace(Seq("sy"))
    val locD = Files.createTempDirectory("sy_docs").toFile.getPath
    val locI = Files.createTempDirectory("sy_idx").toFile.getPath
    val docsSchema = Schema(0, StructT(Seq(
      NestedField(1, "doc_id", LongT, required = true),
      NestedField(2, "text", StringT))))
    val idxSchema = Schema(0, StructT(Seq(
      NestedField(1, "doc_id", LongT, required = true),
      NestedField(2, "w", LongT, required = true),
      NestedField(3, "tf", LongT, required = true))))
    rc.createTable(Seq("sy", "docs"), docsSchema, location = Some(locD))
    rc.createTable(Seq("sy", "idx"), idxSchema,
      Map(graft.queries.Bm25Index.HashFamilyProp -> "md5-60"),
      location = Some(locI))

    def appendDocs(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val raw = Files.createTempDirectory(s"sy_$tag").toFile
      df.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(locD, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      TableWriter.appendFiles(TableWriter.restTableOf(rc.loadTable(Seq("sy", "docs")), rc),
        Seq(CowFileOut(dest.getPath, df.count(), Map.empty)))
      ()
    }
    val b1 = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    appendDocs(b1, "b1")

    val row = spark.sql("CALL grest.system.sync_bm25_index(" +
      "'sy.docs', 'sy.idx', 0L, 'md5')").collect()(0)
    assert(row.getLong(1) > 0, row)
    val idxT = TableWriter.restTableOf(rc.loadTable(Seq("sy", "idx")))
    val p = graft.queries.Bm25Index.OracleParams
    assert(idxT.newScan().toDF(spark).collect().map(_.toSeq).toSet ==
      graft.queries.Bm25Index.rows(b1, p).collect().map(_.toSeq).toSet)

    // catch-up after another append; content-idempotent full-history replay
    val b2 = Seq((3L, "gamma delta")).toDF("doc_id", "text")
    appendDocs(b2, "b2")
    spark.sql("CALL grest.system.sync_bm25_index('sy.docs', 'sy.idx', 0L, 'md5')")
    val idxT2 = TableWriter.restTableOf(rc.loadTable(Seq("sy", "idx")))
    assert(idxT2.newScan().toDF(spark).collect().map(_.toSeq).toSet ==
      graft.queries.Bm25Index.rows(b1.union(b2), p).collect().map(_.toSeq).toSet)

    // a MIXED pair (REST source, local index) refuses loudly
    TableWriter.create(Seq((0L, 0L, 0L)).toDF("doc_id", "w", "tf"),
      s"$wh/sy_local/idx")
    val e = intercept[Exception] {
      spark.sql("CALL grest.system.sync_bm25_index(" +
        "'sy.docs', 'sy_local.idx', 0L, 'md5')").collect()
    }
    assert(e.getMessage.contains("same catalog plane"), e.getMessage)
  }

  test("REST view round-trip: uuid guard conflicts on stale replace") {
    conf()
    rc.createNamespace(Seq("vg"))
    val v1 = ViewVersion(1, System.currentTimeMillis(), "SELECT 1 AS x",
      "spark", "grest", Seq("vg"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.IntegerType))).json,
      Seq("x"), Nil, Nil)
    rc.createView(Seq("vg", "v"), ViewMetadata.versionJson(v1), "mem://vg/v")
    // wrong uuid → 409 → CommitConflictError; state unchanged
    intercept[graft.catalog.CommitConflictError] {
      rc.commitView(Seq("vg", "v"), Some("00000000-0000-0000-0000-000000000000"),
        Some(ViewMetadata.versionJson(v1.copy(versionId = 2))))
    }
    assert(ViewMetadata.parse(rc.loadView(Seq("vg", "v"))).versions.size == 1)
    // correct uuid succeeds
    val uuid = ViewMetadata.parse(rc.loadView(Seq("vg", "v"))).viewUuid
    rc.commitView(Seq("vg", "v"), Some(uuid),
      Some(ViewMetadata.versionJson(v1.copy(versionId = 2))))
    assert(ViewMetadata.parse(rc.loadView(Seq("vg", "v"))).currentVersionId == 2)
    // rename + drop round out the endpoint set
    rc.renameView(Seq("vg", "v"), Seq("vg", "v2"))
    assert(rc.viewExists(Seq("vg", "v2")) && !rc.viewExists(Seq("vg", "v")))
    rc.dropView(Seq("vg", "v2"))
    assert(!rc.viewExists(Seq("vg", "v2")))
  }
}
