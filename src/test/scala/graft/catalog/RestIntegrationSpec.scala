package graft.catalog

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** LIVE REST-catalog integration: the real client against a stateful
  * in-process server over actual HTTP — OAuth2 token round-trip, config
  * merge, the full namespace/table lifecycle, server-side commit
  * requirement enforcement (409 → CommitConflictError), and the error
  * taxonomy. Closes the "mock-only" caveat on S1–S4/S32: every request
  * here crosses a socket and the server holds state between calls. */
class RestIntegrationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new TestRestCatalogServer("graft-ci", "s3cr3t")
  private lazy val catalog: RestCatalog = {
    server.start()
    Catalog.load("it", server.uri,
      Map(RestCatalog.KeyCredential -> "graft-ci:s3cr3t",
        RestCatalog.KeyWarehouse -> "wh")).asInstanceOf[RestCatalog]
  }

  override def afterAll(): Unit = server.stop()

  private val schema = Schema(0, StructT(Seq(
    NestedField(1, "id", LongT, required = true),
    NestedField(2, "data", StringT))))

  test("bad credentials are refused with the OAuth error taxonomy") {
    server.start() // idempotent once; ensure running before catalog init
    val e = intercept[OAuthError] {
      Catalog.load("bad", server.uri,
        Map(RestCatalog.KeyCredential -> "graft-ci:wrong"))
    }
    assert(e.getMessage.contains("invalid_client") ||
      e.getMessage.contains("bad credentials"))
  }

  test("namespace lifecycle: create, list, properties, update, drop") {
    catalog.createNamespace(Seq("it_db"), Map("owner" -> "ci"))
    assert(catalog.listNamespaces().contains(Seq("it_db")))
    assert(catalog.namespaceProperties(Seq("it_db"))("owner") == "ci")
    val summary = catalog.updateNamespaceProperties(Seq("it_db"),
      removals = Seq("owner", "ghost"), updates = Map("tier" -> "gold"))
    assert(summary.removed == Seq("owner") && summary.missing == Seq("ghost"))
    assert(summary.updated == Seq("tier"))
    assert(catalog.namespaceProperties(Seq("it_db")) == Map("tier" -> "gold"))
    // duplicate create → AlreadyExists
    intercept[AlreadyExistsError](catalog.createNamespace(Seq("it_db")))
    catalog.createNamespace(Seq("it_tmp"))
    catalog.dropNamespace(Seq("it_tmp"))
    assert(!catalog.listNamespaces().contains(Seq("it_tmp")))
  }

  test("table lifecycle: create, load, list, rename, drop; 404 taxonomy") {
    catalog.createNamespace(Seq("it_t"))
    val created = catalog.createTable(Seq("it_t", "orders"), schema,
      Map("fmt" -> "parquet"))
    assert(created.metadata.formatVersion == 2)
    assert(created.metadata.currentSchema.fields.map(_.name) == Seq("id", "data"))
    assert(created.metadata.properties("fmt") == "parquet")

    val loaded = catalog.loadTable(Seq("it_t", "orders"))
    assert(loaded.metadata.tableUuid == created.metadata.tableUuid)
    assert(loaded.metadataLocation.nonEmpty)
    assert(loaded.config.get("srv-table-config").contains("yes"))
    assert(catalog.listTables(Seq("it_t")) == Seq(Seq("it_t", "orders")))

    catalog.renameTable(Seq("it_t", "orders"), Seq("it_t", "orders2"))
    assert(catalog.listTables(Seq("it_t")) == Seq(Seq("it_t", "orders2")))
    intercept[NoSuchTableError](catalog.loadTable(Seq("it_t", "orders")))
    catalog.dropTable(Seq("it_t", "orders2"))
    assert(catalog.listTables(Seq("it_t")).isEmpty)
  }

  test("register adopts an existing metadata file verbatim; duplicate → 409") {
    catalog.createNamespace(Seq("it_reg"))
    // compose a real metadata file the way a foreign catalog would have
    // left it: create a table, dump its metadata JSON to disk, drop it
    val donor = catalog.createTable(Seq("it_reg", "donor"), schema,
      Map("origin" -> "elsewhere"))
    val mdFile = java.nio.file.Files.createTempFile("register", ".metadata.json")
    java.nio.file.Files.writeString(mdFile, donor.metadata.toJson)
    catalog.dropTable(Seq("it_reg", "donor"))

    val adopted = catalog.registerTable(Seq("it_reg", "adopted"),
      s"file://$mdFile")
    // verbatim adoption: same uuid, same schema, same properties
    assert(adopted.metadata.tableUuid == donor.metadata.tableUuid)
    assert(adopted.metadata.currentSchema.fields.map(_.name) ==
      Seq("id", "data"))
    assert(adopted.metadata.properties("origin") == "elsewhere")
    val loaded = catalog.loadTable(Seq("it_reg", "adopted"))
    assert(loaded.metadata.tableUuid == donor.metadata.tableUuid)
    assert(catalog.listTables(Seq("it_reg")) == Seq(Seq("it_reg", "adopted")))
    // registering over an existing identifier must refuse
    intercept[AlreadyExistsError] {
      catalog.registerTable(Seq("it_reg", "adopted"), s"file://$mdFile")
    }
  }

  test("commit: property txn with uuid guard; stale guard → conflict") {
    catalog.createNamespace(Seq("it_c"))
    val t = catalog.createTable(Seq("it_c", "t"), schema)
    val after = catalog.commitTableProperties(Seq("it_c", "t"),
      t.metadata.tableUuid, set = Map("k" -> "v"), remove = Nil)
    assert(after.metadata.properties("k") == "v")
    // wrong uuid → server-side 409 → CommitConflictError, nothing applied
    intercept[CommitConflictError] {
      catalog.commitTableProperties(Seq("it_c", "t"),
        "00000000-0000-0000-0000-000000000000",
        set = Map("k" -> "BAD"), remove = Nil)
    }
    assert(catalog.loadTable(Seq("it_c", "t")).metadata.properties("k") == "v")
  }

  test("commit: add-snapshot + set-snapshot-ref moves main; stale ref conflicts") {
    catalog.createNamespace(Seq("it_s"))
    val t = catalog.createTable(Seq("it_s", "t"), schema)
    val snap = Snapshot(101L, None, 1L, System.currentTimeMillis(),
      "mem://warehouse/it_s/t/metadata/snap-101.avro",
      Some(SnapshotSummary(OpAppend)), Some(0))
    // first commit: main must not exist yet (assert snapshot-id null)
    val after = catalog.commitTable(Seq("it_s", "t"),
      Seq(AssertRefSnapshotId("main", None)),
      Seq(AddSnapshot(snap), SetSnapshotRef("main", 101L, "branch")))
    assert(after.metadata.currentSnapshotId.contains(101L))
    assert(after.metadata.snapshotById(101L).exists(
      _.manifestList.endsWith("snap-101.avro")))

    // a second writer still asserting "main is unset" must conflict
    val snap2 = snap.copy(snapshotId = 102L, sequenceNumber = 2L,
      parentSnapshotId = Some(101L),
      manifestList = "mem://warehouse/it_s/t/metadata/snap-102.avro")
    intercept[CommitConflictError] {
      catalog.commitTable(Seq("it_s", "t"),
        Seq(AssertRefSnapshotId("main", None)),
        Seq(AddSnapshot(snap2), SetSnapshotRef("main", 102L, "branch")))
    }
    // correctly-pinned CAS succeeds
    val after2 = catalog.commitTable(Seq("it_s", "t"),
      Seq(AssertRefSnapshotId("main", Some(101L))),
      Seq(AddSnapshot(snap2), SetSnapshotRef("main", 102L, "branch")))
    assert(after2.metadata.currentSnapshotId.contains(102L))
    assert(after2.metadata.snapshots.map(_.snapshotId) == Seq(101L, 102L))
    assert(after2.metadata.lastSequenceNumber == 2L)
  }

  test("commit: V3 add-snapshot with first-row-id advances next-row-id") {
    catalog.createNamespace(Seq("it_l"))
    val t = catalog.createTable(Seq("it_l", "t"), schema)
    val snap = Snapshot(201L, None, 1L, System.currentTimeMillis(),
      "mem://warehouse/it_l/t/metadata/snap-201.avro",
      Some(SnapshotSummary(OpAppend, Map("added-records" -> "7"))), Some(0),
      firstRowId = Some(0L))
    catalog.commitTable(Seq("it_l", "t"),
      Seq(AssertRefSnapshotId("main", None)),
      Seq(AddSnapshot(snap), SetSnapshotRef("main", 201L, "branch")))
    val after = catalog.loadTable(Seq("it_l", "t"))
    // the server owns the advance: next-row-id = first-row-id + added rows,
    // so the NEXT client's load assigns from 7
    assert(after.metadata.nextRowId.contains(7L), after.metadata.nextRowId)

    val snap2 = snap.copy(snapshotId = 202L, sequenceNumber = 2L,
      parentSnapshotId = Some(201L),
      manifestList = "mem://warehouse/it_l/t/metadata/snap-202.avro",
      firstRowId = Some(7L),
      summary = Some(SnapshotSummary(OpAppend, Map("added-records" -> "3"))))
    catalog.commitTable(Seq("it_l", "t"),
      Seq(AssertRefSnapshotId("main", Some(201L))),
      Seq(AddSnapshot(snap2), SetSnapshotRef("main", 202L, "branch")))
    assert(catalog.loadTable(Seq("it_l", "t")).metadata.nextRowId
      .contains(10L))
  }

  test("transactions/commit: two-table commit is atomic — both or neither") {
    catalog.createNamespace(Seq("it_tx"))
    val a = catalog.createTable(Seq("it_tx", "a"), schema)
    val b = catalog.createTable(Seq("it_tx", "b"), schema)
    def snap(id: Long, tbl: String) = Snapshot(id, None, 1L,
      System.currentTimeMillis(),
      s"mem://warehouse/it_tx/$tbl/metadata/snap-$id.avro",
      Some(SnapshotSummary(OpAppend)), Some(0))

    // atomic success: one POST moves both tables
    catalog.commitTransaction(Seq(
      TableChange(Seq("it_tx", "a"),
        Seq(AssertTableUuid(a.metadata.tableUuid),
          AssertRefSnapshotId("main", None)),
        Seq(AddSnapshot(snap(301L, "a")), SetSnapshotRef("main", 301L))),
      TableChange(Seq("it_tx", "b"),
        Seq(AssertTableUuid(b.metadata.tableUuid),
          AssertRefSnapshotId("main", None)),
        Seq(AddSnapshot(snap(302L, "b")), SetSnapshotRef("main", 302L)))))
    assert(catalog.loadTable(Seq("it_tx", "a"))
      .metadata.currentSnapshotId.contains(301L))
    assert(catalog.loadTable(Seq("it_tx", "b"))
      .metadata.currentSnapshotId.contains(302L))

    // a STALE requirement on table b must roll back table a's otherwise
    // valid change — a is listed FIRST, so this pins that the server
    // validates every table before applying any update
    intercept[CommitConflictError] {
      catalog.commitTransaction(Seq(
        TableChange(Seq("it_tx", "a"),
          Seq(AssertRefSnapshotId("main", Some(301L))),
          Seq(AddSnapshot(snap(303L, "a")), SetSnapshotRef("main", 303L))),
        TableChange(Seq("it_tx", "b"),
          Seq(AssertRefSnapshotId("main", None)), // stale: b moved to 302
          Seq(AddSnapshot(snap(304L, "b")), SetSnapshotRef("main", 304L)))))
    }
    assert(catalog.loadTable(Seq("it_tx", "a"))
      .metadata.currentSnapshotId.contains(301L),
      "table a's valid change must have rolled back with the transaction")
    assert(catalog.loadTable(Seq("it_tx", "b"))
      .metadata.currentSnapshotId.contains(302L))

    // an unknown member table fails the whole transaction up front
    intercept[CommitConflictError] {
      catalog.commitTransaction(Seq(
        TableChange(Seq("it_tx", "a"),
          Seq(AssertRefSnapshotId("main", Some(301L))),
          Seq(AddSnapshot(snap(305L, "a")), SetSnapshotRef("main", 305L))),
        TableChange(Seq("it_tx", "ghost"), Nil, Nil)))
    }
    assert(catalog.loadTable(Seq("it_tx", "a"))
      .metadata.currentSnapshotId.contains(301L))
  }

  test("TableWriter.transaction: staged file appends land atomically") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    catalog.createNamespace(Seq("it_txf"))
    val locS = java.nio.file.Files.createTempDirectory("txf_src").toFile.getPath
    val locI = java.nio.file.Files.createTempDirectory("txf_idx").toFile.getPath
    catalog.createTable(Seq("it_txf", "src"), schema, location = Some(locS))
    catalog.createTable(Seq("it_txf", "idx"), schema, location = Some(locI))

    def fileFor(loc: String, tag: String): graft.spark.CowFileOut = {
      val raw = java.nio.file.Files.createTempDirectory(s"txf_raw_$tag").toFile
      Seq((1L, tag), (2L, tag)).toDF("id", "data")
        .coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      graft.spark.CowFileOut(dest.getPath, 2, Map.empty)
    }

    // source table + its derived index move in ONE transaction
    val s1 = fileFor(locS, "s1")
    graft.spark.TableWriter.transaction(catalog)
      .stageAppend(Seq("it_txf", "src"), Seq(s1))
      .stageAppend(Seq("it_txf", "idx"), Seq(fileFor(locI, "i1")),
        Map("derived-from" -> "src"))
      .commit()
    val srcSnap = catalog.loadTable(Seq("it_txf", "src"))
      .metadata.currentSnapshotId
    val idxSnap = catalog.loadTable(Seq("it_txf", "idx"))
      .metadata.currentSnapshotId
    assert(srcSnap.isDefined && idxSnap.isDefined)

    // double-staging one table in a transaction is refused at stage time
    intercept[IllegalArgumentException] {
      graft.spark.TableWriter.transaction(catalog)
        .stageAppend(Seq("it_txf", "src"), Seq(fileFor(locS, "dup1")))
        .stageAppend(Seq("it_txf", "src"), Seq(fileFor(locS, "dup2")))
    }

    // a COW REPLACE and an append land atomically in one transaction —
    // e.g. compacting one member while appending to its sibling
    val rewrite = fileFor(locS, "s1-rewrite")
    graft.spark.TableWriter.transaction(catalog)
      .stageReplace(Seq("it_txf", "src"), Set(s1.path), Seq(rewrite))
      .stageAppend(Seq("it_txf", "idx"), Seq(fileFor(locI, "i1b")))
      .commit()
    val srcLoaded = catalog.loadTable(Seq("it_txf", "src"))
    val srcTable = new graft.spark.IcebergTable(srcLoaded.metadata.location,
      srcLoaded.metadataLocation, srcLoaded.metadata,
      graft.spark.IOConfig.fileIO(srcLoaded.ioProps),
      ioProps = srcLoaded.ioProps)
    val paths = srcTable.newScan().planFiles().map(_.file.path)
    assert(paths.exists(_.endsWith("s1-rewrite.parquet")), paths)
    assert(!paths.contains(s1.path), "replaced file must leave the live set")
    val srcSnap2 = catalog.loadTable(Seq("it_txf", "src"))
      .metadata.currentSnapshotId

    // a concurrent commit to ONE member between stage and commit rolls
    // back the WHOLE transaction — the other member must not move either
    val tx = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(Seq("it_txf", "src"), Seq(fileFor(locS, "s2")))
      .stageAppend(Seq("it_txf", "idx"), Seq(fileFor(locI, "i2")))
    graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(Seq("it_txf", "idx")), catalog),
      Seq(fileFor(locI, "sneak")))
    intercept[CommitConflictError](tx.commit())
    assert(catalog.loadTable(Seq("it_txf", "src"))
      .metadata.currentSnapshotId == srcSnap2,
      "src must not advance when the transaction rolled back")
  }

  test("expireSnapshotsRest: remove-snapshots through the catalog honors branch policies") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    catalog.createNamespace(Seq("it_exp"))
    val loc = java.nio.file.Files.createTempDirectory("exp_rest").toFile.getPath
    val ident = Seq("it_exp", "t")
    catalog.createTable(ident, schema, location = Some(loc))

    def appendOne(tag: String): Long = {
      val raw = java.nio.file.Files.createTempDirectory(s"exp_raw_$tag").toFile
      Seq((1L, tag)).toDF("id", "data")
        .coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(ident), catalog),
        Seq(graft.spark.CowFileOut(dest.getPath, 1, Map.empty)))
        .metadata.currentSnapshotId.get
    }
    val s1 = appendOne("a1"); val s2 = appendOne("a2"); val s3 = appendOne("a3")

    // branch "audit" pinned at s1 WITH a retention policy (min-keep 1)
    catalog.commitTable(ident, Nil,
      Seq(SetSnapshotRef("audit", s1, "branch", minSnapshotsToKeep = Some(1))))
    val s2List = catalog.loadTable(ident).metadata
      .snapshotById(s2).get.manifestList

    // a stale main guard must 409 WITHOUT expiring anything
    intercept[CommitConflictError] {
      catalog.commitTable(ident,
        Seq(AssertRefSnapshotId("main", Some(s1))), // main is at s3
        Seq(RemoveSnapshots(Seq(s2))))
    }
    assert(catalog.loadTable(ident).metadata.snapshotById(s2).isDefined)

    // aggressive expiry: keep main's newest (s3) + the branch target under
    // its policy (s1); s2 — referenced but retained by NO policy — expires
    val after = graft.spark.TableWriter.expireSnapshots(graft.spark.TableWriter.restTableOf(catalog.loadTable(ident), catalog),
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1,
      deleteFiles = true)
    val ids = after.metadata.snapshots.map(_.snapshotId).toSet
    assert(ids == Set(s1, s3), ids)
    assert(after.metadata.refs("audit").snapshotId == s1)
    assert(after.metadata.currentSnapshotId.contains(s3))
    // the reloaded table agrees (server state, not just the response)
    assert(catalog.loadTable(ident).metadata.snapshots
      .map(_.snapshotId).toSet == Set(s1, s3))
    // deleteFiles swept the expired snapshot's manifest list; kept
    // history still reads
    assert(!new java.io.File(s2List).exists(), s2List)
    val kept = catalog.loadTable(ident)
    val keptTable = new graft.spark.IcebergTable(kept.metadata.location,
      kept.metadataLocation, kept.metadata,
      graft.spark.IOConfig.fileIO(kept.ioProps), ioProps = kept.ioProps)
    assert(keptTable.newScan().toDF(spark).count() == 3L)

    // ref aging: a branch whose HEAD is older than max-ref-age-ms drops
    // server-side via remove-snapshot-ref (its pinned history then expires
    // on the NEXT pass, exactly like the local-FS plane)
    catalog.commitTable(ident, Nil,
      Seq(SetSnapshotRef("stale", s1, "branch", maxRefAgeMs = Some(0L))))
    Thread.sleep(5)
    val after2 = graft.spark.TableWriter.expireSnapshots(graft.spark.TableWriter.restTableOf(catalog.loadTable(ident), catalog),
      olderThanMs = 0L, retainLast = 10)
    assert(!after2.metadata.refs.contains("stale"), after2.metadata.refs.keySet)
    assert(after2.metadata.refs.contains("audit"))

    // idempotent: nothing left to expire → no commit, same state back
    val again = graft.spark.TableWriter.expireSnapshots(graft.spark.TableWriter.restTableOf(catalog.loadTable(ident), catalog),
      olderThanMs = 0L, retainLast = 10)
    assert(again.metadata.snapshots.map(_.snapshotId).toSet == Set(s1, s3))
  }

  test("transactional maintained-model sync: source + index move in lockstep") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    catalog.createNamespace(Seq("it_sync"))
    val locD = java.nio.file.Files.createTempDirectory("sync_docs").toFile.getPath
    val locI = java.nio.file.Files.createTempDirectory("sync_idx").toFile.getPath
    val docsId = Seq("it_sync", "docs"); val idxId = Seq("it_sync", "idx")
    val docsSchema = Schema(0, StructT(Seq(
      NestedField(1, "doc_id", LongT, required = true),
      NestedField(2, "text", StringT))))
    val idxSchema = Schema(0, StructT(Seq(
      NestedField(1, "doc_id", LongT, required = true),
      NestedField(2, "w", LongT, required = true),
      NestedField(3, "tf", LongT, required = true))))
    catalog.createTable(docsId, docsSchema, location = Some(locD))
    catalog.createTable(idxId, idxSchema,
      Map(graft.queries.Bm25Index.HashFamilyProp -> "md5-60"),
      location = Some(locI))
    val p = graft.queries.Bm25Index.OracleParams

    def stagedFile(df: org.apache.spark.sql.DataFrame, tag: String)
        : graft.spark.CowFileOut = {
      val raw = java.nio.file.Files.createTempDirectory(s"sync_$tag").toFile
      df.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(locD, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      graft.spark.CowFileOut(dest.getPath, df.count(), Map.empty)
    }
    def docsTable = graft.spark.TableWriter.restTableOf(catalog.loadTable(docsId))
    def idxTable = graft.spark.TableWriter.restTableOf(catalog.loadTable(idxId))
    def asWindow(df: org.apache.spark.sql.DataFrame, seq: Long) =
      df.withColumn("_change_type", lit("insert"))
        .withColumn("_commit_sequence", lit(seq))

    // batch 1: source append + index fold land in ONE transaction
    val b1 = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val tx1 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(docsId, Seq(stagedFile(b1, "b1")))
    assert(graft.queries.Bm25Index.stageChanges(tx1, catalog, idxId,
      asWindow(b1, 1L), p))
    tx1.commit()
    assert(docsTable.newScan().toDF(spark).count() == 2L)
    val expect1 = graft.queries.Bm25Index.rows(b1, p)
      .collect().map(_.toSeq).toSet
    assert(idxTable.newScan().toDF(spark).collect().map(_.toSeq).toSet
      == expect1)

    // batch 2 through the same lockstep pair
    val b2 = Seq((3L, "gamma delta")).toDF("doc_id", "text")
    val tx2 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(docsId, Seq(stagedFile(b2, "b2")))
    assert(graft.queries.Bm25Index.stageChanges(tx2, catalog, idxId,
      asWindow(b2, 2L), p))
    tx2.commit()
    val allDocs = b1.union(b2)
    assert(idxTable.newScan().toDF(spark).collect().map(_.toSeq).toSet
      == graft.queries.Bm25Index.rows(allDocs, p).collect().map(_.toSeq).toSet)

    // injected failure BETWEEN stage and commit: a concurrent commit to the
    // source rolls back the WHOLE pair — neither docs nor index move
    val docsSnapBefore = catalog.loadTable(docsId).metadata.currentSnapshotId
    val idxSnapBefore = catalog.loadTable(idxId).metadata.currentSnapshotId
    val b3 = Seq((4L, "epsilon zeta")).toDF("doc_id", "text")
    val tx3 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(docsId, Seq(stagedFile(b3, "b3")))
    assert(graft.queries.Bm25Index.stageChanges(tx3, catalog, idxId,
      asWindow(b3, 3L), p))
    graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(docsId), catalog),
      Seq(stagedFile(Seq((99L, "sneak")).toDF("doc_id", "text"), "sneak")))
    intercept[CommitConflictError](tx3.commit())
    assert(catalog.loadTable(idxId).metadata.currentSnapshotId == idxSnapBefore,
      "index must not move when the source-side guard failed")
    assert(catalog.loadTable(docsId).metadata.currentSnapshotId
      != docsSnapBefore, "only the sneak commit moved docs")
    // the index still serves the pre-failure state
    assert(idxTable.newScan().toDF(spark).collect().map(_.toSeq).toSet
      == graft.queries.Bm25Index.rows(allDocs, p).collect().map(_.toSeq).toSet)

    // mismatched hash family refuses at stage time
    intercept[IllegalArgumentException] {
      graft.queries.Bm25Index.stageChanges(
        graft.spark.TableWriter.transaction(catalog), catalog, idxId,
        asWindow(b3, 4L), graft.queries.Bm25Index.Params())
    }
  }

  test("graph index: assign + graph + corpus move in ONE transaction") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.queries.{GraphAnn, GraphIndex}
    catalog.createNamespace(Seq("it_gix"))
    val locC = java.nio.file.Files.createTempDirectory("gix_corpus").toFile.getPath
    val locA = java.nio.file.Files.createTempDirectory("gix_assign").toFile.getPath
    val locG = java.nio.file.Files.createTempDirectory("gix_graph").toFile.getPath
    val corpusId = Seq("it_gix", "corpus")
    val assignId = Seq("it_gix", "assign")
    val graphId = Seq("it_gix", "graph")
    catalog.createTable(corpusId, Schema(0, StructT(Seq(
      NestedField(1, "vec_id", LongT, required = true),
      NestedField(2, "embedding", ListT(4, DoubleT, elementRequired = true))))),
      location = Some(locC))
    catalog.createTable(assignId, Schema(0, StructT(Seq(
      NestedField(1, "vec_id", LongT, required = true),
      NestedField(2, "cid", LongT, required = true)))), location = Some(locA))
    catalog.createTable(graphId, Schema(0, StructT(Seq(
      NestedField(1, "src", LongT, required = true),
      NestedField(2, "dst", LongT, required = true)))), location = Some(locG))

    val p = GraphAnn.GraphParams(nCells = 4, probes = 2, degree = 3,
      beamWidth = 4, hops = 2, refine = 0)
    def vec(i: Long): Seq[Double] =
      Seq((i % 3).toDouble, (i * 7 % 5).toDouble, (i * 3 % 11).toDouble, 1.0)
    def corpusDf(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def stagedFile(df: org.apache.spark.sql.DataFrame, tag: String)
        : graft.spark.CowFileOut = {
      val raw = java.nio.file.Files.createTempDirectory(s"gix_$tag").toFile
      df.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(locC, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      graft.spark.CowFileOut(dest.getPath, df.count(), Map.empty)
    }
    def asWindow(df: org.apache.spark.sql.DataFrame, seq: Long) =
      df.withColumn("_change_type", lit("insert"))
        .withColumn("_commit_sequence", lit(seq))
    def tableDf(id: Seq[String]) = graft.spark.TableWriter
      .restTableOf(catalog.loadTable(id)).newScan().toDF(spark)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // bootstrap = sync-from-empty, landed WITH the corpus append in one tx;
    // centers frozen from the bootstrap batch (the ann07 rule)
    val b1 = corpusDf(0L to 9L)
    val cents = GraphIndex.centersOf(b1, p)
    val tx1 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(corpusId, Seq(stagedFile(b1, "b1")))
    assert(GraphIndex.stageChanges(tx1, catalog, assignId, graphId,
      b1, asWindow(b1, 1L), cents, p))
    tx1.commit()
    def scratch(corpus: org.apache.spark.sql.DataFrame) =
      (GraphIndex.assignOf(corpus, cents, p),
        GraphIndex.edgesOf(corpus, cents, p))
    val (asg1, g1) = scratch(b1)
    assert(pairSet(tableDf(assignId)) == pairSet(asg1))
    assert(pairSet(tableDf(graphId)) == pairSet(g1))

    // second window: corpus + both index tables advance atomically
    val b2 = corpusDf(10L to 14L)
    val all = b1.union(b2)
    val tx2 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(corpusId, Seq(stagedFile(b2, "b2")))
    assert(GraphIndex.stageChanges(tx2, catalog, assignId, graphId,
      all, asWindow(b2, 2L), cents, p))
    tx2.commit()
    val (asg2, g2) = scratch(all)
    assert(pairSet(tableDf(assignId)) == pairSet(asg2))
    assert(pairSet(tableDf(graphId)) == pairSet(g2))
    assert(tableDf(corpusId).count() == 15L)

    // conflict between stage and commit rolls back the whole triple
    val idxSnapBefore = catalog.loadTable(graphId).metadata.currentSnapshotId
    val b3 = corpusDf(15L to 16L)
    val tx3 = graft.spark.TableWriter.transaction(catalog)
      .stageAppend(corpusId, Seq(stagedFile(b3, "b3")))
    assert(GraphIndex.stageChanges(tx3, catalog, assignId, graphId,
      all.union(b3), asWindow(b3, 3L), cents, p))
    graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(corpusId), catalog),
      Seq(stagedFile(corpusDf(Seq(99L)), "sneak")))
    intercept[CommitConflictError](tx3.commit())
    assert(catalog.loadTable(graphId).metadata.currentSnapshotId == idxSnapBefore,
      "graph must not move when the corpus-side guard failed")
    assert(pairSet(tableDf(graphId)) == pairSet(g2))
  }

  test("stageDelta: a MoR tombstone+append joins a multi-table transaction") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    catalog.createNamespace(Seq("it_mor"))
    val locA = java.nio.file.Files.createTempDirectory("mor_a").toFile.getPath
    val locB = java.nio.file.Files.createTempDirectory("mor_b").toFile.getPath
    val aId = Seq("it_mor", "a"); val bId = Seq("it_mor", "b")
    catalog.createTable(aId, schema, location = Some(locA))
    catalog.createTable(bId, schema, location = Some(locB))

    def fileAt(loc: String, df: org.apache.spark.sql.DataFrame, tag: String)
        : graft.spark.CowFileOut = {
      val raw = java.nio.file.Files.createTempDirectory(s"mor_$tag").toFile
      df.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dest.toPath)
      graft.spark.CowFileOut(dest.getPath, df.count(), Map.empty)
    }
    val seed = fileAt(locA, Seq((1L, "x"), (2L, "y")).toDF("id", "data"), "seed")
    graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(aId), catalog), Seq(seed))

    // positional tombstone for row 0 of the seed file (drops id=1)
    val delDir = java.nio.file.Files.createTempDirectory("mor_del").toFile
    Seq((seed.path, 0L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(delDir.getPath)
    val delFile = delDir.listFiles().filter(_.getName.endsWith(".parquet")).head

    graft.spark.TableWriter.transaction(catalog)
      .stageDelta(aId, Seq(fileAt(locA, Seq((3L, "z")).toDF("id", "data"), "add")),
        Seq(delFile.getPath))
      .stageAppend(bId, Seq(fileAt(locB, Seq((7L, "sib")).toDF("id", "data"), "sib")))
      .commit()

    def tableOf(id: Seq[String]) =
      graft.spark.TableWriter.restTableOf(catalog.loadTable(id))
    val aRows = tableOf(aId).newScan().toDF(spark)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(aRows == Set(2L, 3L), s"tombstone must hide id=1: $aRows")
    assert(tableOf(bId).newScan().toDF(spark).count() == 1L)
  }

  test("vended credentials: delegation handshake, per-table creds, expiry refresh") {
    catalog.createNamespace(Seq("it_vc"))
    catalog.createTable(Seq("it_vc", "t1"), schema)
    catalog.createTable(Seq("it_vc", "t2"), schema)

    val l1 = catalog.loadTable(Seq("it_vc", "t1"))
    // the client opted into access delegation on the load, offering BOTH
    // spec flavors in preference order
    assert(server.lastAccessDelegation
      .contains("vended-credentials,remote-signing"))
    // longest-prefix match: THIS table's credential wins over the decoy
    // prefix the server also vends
    assert(l1.ioProps("s3.access-key-id") == "vended-key-it_vc-t1")
    assert(l1.ioProps("s3.secret-access-key") == "vended-secret-it_vc-t1")
    // ...and each table gets ITS OWN credential
    val l2 = catalog.loadTable(Seq("it_vc", "t2"))
    assert(l2.ioProps("s3.access-key-id") == "vended-key-it_vc-t2")

    // the vended credential reaches the Hadoop conf scans/writes build
    // from (the IOConfig property map, same path as s3a executor reads)
    val hc = graft.spark.IOConfig.hadoopConf(l1.ioProps)
    assert(hc("fs.s3a.access.key") == "vended-key-it_vc-t1")
    assert(hc("fs.s3a.secret.key") == "vended-secret-it_vc-t1")

    // live credentials: the fresh-load hook reuses the cached handle
    val before = server.loadCounts(("it_vc", "t1"))
    val reused = catalog.loadTableFresh(Seq("it_vc", "t1"), Some(l1))
    assert(reused == l1 && server.loadCounts(("it_vc", "t1")) == before)

    // expired credentials: the hook must get FRESH ones — via the spec's
    // dedicated credentials route (this server advertises it), WITHOUT
    // re-reading the metadata tree (RestTelemetrySpec pins the
    // full-reload fallback for servers that don't advertise it)
    server.vendedExpiryMs = Some(System.currentTimeMillis() - 1000)
    val expired = catalog.loadTable(Seq("it_vc", "t1"))
    assert(expired.credentialsExpired(System.currentTimeMillis()))
    server.vendedExpiryMs = None // server rotates to fresh creds
    val credsBefore = server.credentialRequests
    val refreshed = catalog.loadTableFresh(Seq("it_vc", "t1"), Some(expired))
    assert(!refreshed.credentialsExpired(System.currentTimeMillis()))
    assert(server.credentialRequests == credsBefore + 1)
    assert(server.loadCounts(("it_vc", "t1")) == before + 1,
      "credential refresh must not reload the table")
  }

  test("remote-signing delegation: signed metadata reads, writes, signer re-auth") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    server.remoteSigningOnly = true
    try {
      catalog.createNamespace(Seq("it_rs"))
      val loc = java.nio.file.Files.createTempDirectory("rs_t").toFile.getPath
      val ident = Seq("it_rs", "t")
      catalog.createTable(ident, schema, location = Some(loc))

      def fileAt(df: org.apache.spark.sql.DataFrame, tag: String)
          : graft.spark.CowFileOut = {
        val raw = java.nio.file.Files.createTempDirectory(s"rs_$tag").toFile
        df.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
        val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(src.toPath, dest.toPath)
        graft.spark.CowFileOut(dest.getPath, df.count(), Map.empty)
      }
      // WRITE path on a remote-signing table: the append stages manifests
      // and commits through the catalog with no storage keys anywhere
      graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(ident), catalog),
        Seq(fileAt(Seq((1L, "a"), (2L, "b")).toDF("id", "data"), "w1")))

      val loaded = catalog.loadTable(ident)
      // the server vended NO keys — signing config + injected auth only
      assert(!loaded.ioProps.contains("s3.access-key-id"))
      assert(loaded.ioProps.get("s3.remote-signing-enabled").contains("true"))
      assert(loaded.ioProps.get("s3.signer.uri").contains(server.uri))
      assert(loaded.ioProps.contains("s3.signer.token"))

      // re-home the metadata plane onto the SIGNED storage route: every
      // manifest-list/manifest byte now crosses the signer handshake
      val snap = loaded.metadata.currentSnapshot.get
      val manifests = graft.core.ManifestIO.readManifestList(
        graft.core.LocalFileIO.open(snap.manifestList))
        .map(m => m.copy(path = server.storageUrl(m.path)))
      val httpList = new java.io.File(loc, "metadata/snap-http.avro")
      graft.core.ManifestIO.writeManifestList(httpList, manifests)
      val snap2 = snap.copy(snapshotId = snap.snapshotId + 1,
        parentSnapshotId = Some(snap.snapshotId),
        sequenceNumber = snap.sequenceNumber + 1,
        manifestList = server.storageUrl(httpList.getPath))
      catalog.commitTable(ident,
        Seq(AssertRefSnapshotId("main", Some(snap.snapshotId))),
        Seq(AddSnapshot(snap2), SetSnapshotRef("main", snap2.snapshotId)))

      // READ path: the scan's FileIO routes http paths through the signer
      val signsBefore = server.signRequests
      val table = graft.spark.TableWriter.restTableOf(catalog.loadTable(ident))
      val rows = table.newScan().toDF(spark)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(rows == Set(1L, 2L), rows)
      assert(server.signRequests > signsBefore,
        "scan must have gone through the signer")

      // an UNSIGNED fetch of the same object is refused — the signature
      // really is the auth
      val bare = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(server.storageUrl(httpList.getPath))).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(bare.statusCode() == 403, bare.statusCode())

      // EXPIRED signer auth self-heals: a second client invalidates our
      // bearer token server-side; the next signed read re-mints from the
      // stored credential and succeeds
      Catalog.load("intruder", server.uri,
        Map(RestCatalog.KeyCredential -> "graft-ci:s3cr3t"))
      val again = graft.spark.TableWriter.restTableOf(
        // NOTE: loadTable itself re-mints the CATALOG token; the stale
        // SIGNER token still rides ioProps from the earlier load
        LoadedTable(loaded.identifier, loaded.metadataLocation,
          catalog.loadTable(ident).metadata, loaded.config,
          loaded.storageCredentials))
      assert(again.newScan().toDF(spark)
        .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally server.remoteSigningOnly = false
  }

  test("join view: REST-staged sync applies the merge with both watermarks") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.queries.JoinView
    catalog.createNamespace(Seq("it_jv"))
    // local source tables (read-only to the sync: changelog + time travel)
    val oLoc = java.nio.file.Files.createTempDirectory("jv_o").toFile.getPath
    val lLoc = java.nio.file.Files.createTempDirectory("jv_l").toFile.getPath
    val locV = java.nio.file.Files.createTempDirectory("jv_v").toFile.getPath
    val o1 = graft.spark.TableWriter.create(
      (1L to 8L).map(ok => (ok, ok % 4 + 1)).toDF("o_orderkey", "o_custkey")
        .coalesce(1), oLoc)
    val l1 = graft.spark.TableWriter.create(
      (for { ok <- 1L to 8L; ln <- 1 to 3 } yield (ok, ln, 10.0 * ln))
        .toDF("l_orderkey", "l_linenumber", "l_quantity").coalesce(1), lLoc)
    // REST view: watermark props from table creation, bootstrap appended
    val viewId = Seq("it_jv", "view")
    val viewSchema = Schema(0, StructT(Seq(
      NestedField(1, "o_custkey", LongT),
      NestedField(2, "items", LongT),
      NestedField(3, "qty", LongT))))
    catalog.createTable(viewId, viewSchema, Map(
      JoinView.OrdersSnapProp -> o1.currentSnapshot.get.snapshotId.toString,
      JoinView.LineitemSnapProp -> l1.currentSnapshot.get.snapshotId.toString),
      location = Some(locV))
    // strip column metadata before the hand-rolled write: o_custkey
    // carries the ORDERS table's parquet field id, which the view's
    // id-first reader would map to view field 2 (`items`)
    val boot0 = JoinView.aggregate(o1.newScan().toDF(spark),
      l1.newScan().toDF(spark))
    val boot = boot0.select(boot0.columns.map(c =>
      col(c).as(c, org.apache.spark.sql.types.Metadata.empty)).toIndexedSeq: _*)
    val raw = java.nio.file.Files.createTempDirectory("jv_boot").toFile
    boot.coalesce(1).write.mode("overwrite").parquet(raw.getPath)
    val srcF = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
    val destF = new java.io.File(new java.io.File(locV, "data"), "boot.parquet")
    destF.getParentFile.mkdirs()
    java.nio.file.Files.copy(srcF.toPath, destF.toPath)
    graft.spark.TableWriter.appendFiles(graft.spark.TableWriter.restTableOf(catalog.loadTable(viewId), catalog),
      Seq(graft.spark.CowFileOut(destF.getPath, boot.count(), Map.empty)))

    // both sources move after the watermark
    val o2 = graft.spark.TableWriter.deleteWhere(o1, spark,
      col("o_custkey") === 2)
    val l2 = graft.spark.TableWriter.append(l1,
      Seq((3L, 4, 7.0)).toDF("l_orderkey", "l_linenumber", "l_quantity")
        .coalesce(1))
    val tx = graft.spark.TableWriter.transaction(catalog)
    assert(JoinView.stageChanges(tx, catalog, viewId, o2, l2, spark))
    tx.commit()
    def viewRows = graft.spark.TableWriter.restTableOf(catalog.loadTable(viewId))
      .newScan().toDF(spark).select("o_custkey", "items", "qty")
      .orderBy("o_custkey").collect().map(_.toSeq).toSeq
    val expect = JoinView.aggregate(o2.newScan().toDF(spark),
      l2.newScan().toDF(spark)).orderBy("o_custkey")
      .collect().map(_.toSeq).toSeq
    assert(viewRows == expect)
    // watermarks advanced in the SAME commit: a re-stage is a no-op
    assert(!JoinView.stageChanges(graft.spark.TableWriter.transaction(catalog),
      catalog, viewId, o2, l2, spark))
  }

  test("invalidated bearer token self-heals by re-minting from credentials") {
    catalog.createNamespace(Seq("it_auth"))
    // a SECOND client authenticating invalidates our token server-side
    // (the test server issues exactly one live token)
    Catalog.load("other", server.uri,
      Map(RestCatalog.KeyCredential -> "graft-ci:s3cr3t"))
    // our next request would 401 — the client re-mints once and succeeds
    assert(catalog.listNamespaces().contains(Seq("it_auth")))
  }

  test("config merge applied: server defaults lose to props, overrides win") {
    // the catalog came up against a server returning defaults+overrides;
    // reaching any authorized endpoint proves the OAuth token was minted
    // and attached — and namespace state persists across requests
    assert(catalog.listNamespaces().nonEmpty)
  }
}
