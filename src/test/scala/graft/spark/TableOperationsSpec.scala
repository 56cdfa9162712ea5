package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, RestCatalog, TestRestCatalogServer}
import graft.core._

/** Each Iceberg operation is written once, against the handle's commit
  * target ([[TableOperations]]): the same [[TableWriter]] calls land the
  * same table state whether the handle is file-backed or REST-cataloged,
  * and every operation is exactly ONE commit carrying its real snapshot
  * operation. */
class TableOperationsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val server = new TestRestCatalogServer("parity", "s3cr3t")
  private lazy val rc: RestCatalog = {
    server.start()
    Catalog.load("parity", server.uri,
      Map(RestCatalog.KeyCredential -> "parity:s3cr3t")).asInstanceOf[RestCatalog]
  }

  override def afterAll(): Unit = server.stop()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getPath

  private def rows(keys: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    keys.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
  }

  /** A table seeded with `seed`, and how to load its committed state. */
  private final case class Plane(name: String, load: () => IcebergTable)

  private def filePlane(seed: DataFrame): Plane = {
    val loc = tmpDir("ops_file")
    TableWriter.create(seed, loc)
    Plane("file", () => IcebergTables.load(loc))
  }

  private def restPlane(seed: DataFrame): Plane = {
    val id = Seq(s"ops_${System.nanoTime()}", "t")
    rc.createNamespace(id.init)
    rc.createTable(id, SchemaConv.fromSparkSchema(seed.schema),
      location = Some(tmpDir("ops_rest")))
    val load = () => TableWriter.restTableOf(rc.loadTable(id), rc)
    TableWriter.append(load(), seed)
    Plane("rest", load)
  }

  private def operation(t: IcebergTable): SnapshotOp =
    t.currentSnapshot.get.summary.get.operation

  test("overwrite and whole-table compact each commit ONE metadata version " +
      "with their real operation") {
    val loc = tmpDir("ops_versions")
    TableWriter.create(rows(1, 2, 3), loc)
    val v0 = IcebergTables.load(loc).loadedVersion

    val overwritten = TableWriter.overwrite(IcebergTables.load(loc), rows(4, 5))
    assert(IcebergTables.load(loc).loadedVersion == v0 + 1)
    assert(overwritten.loadedVersion == v0 + 1)
    assert(operation(IcebergTables.load(loc)) == OpOverwrite)

    val compacted = TableWriter.compact(IcebergTables.load(loc), spark)
    assert(IcebergTables.load(loc).loadedVersion == v0 + 2)
    assert(compacted.loadedVersion == v0 + 2)
    assert(operation(IcebergTables.load(loc)) == OpReplace)

    val live = IcebergTables.load(loc).newScan().toDF(spark)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(live == Seq(4L, 5L))
  }

  test("plane parity: the same calls give the same rows, snapshot " +
      "operations and refs on a file-backed and a REST handle") {
    val outcomes = Seq(filePlane(rows(1, 2, 3)), restPlane(rows(1, 2, 3))).map { p =>
      TableWriter.append(p.load(), rows(4, 5, 6))
      val afterAppend = p.load().currentSnapshot.get.snapshotId
      TableWriter.deleteWhere(p.load(), spark, col("k") === 2L)
      TableWriter.compact(p.load(), spark)
      TableWriter.createRef(p.load(), "audit", BranchRef)
      TableWriter.rollbackTo(p.load(), afterAppend)
      TableWriter.expireSnapshots(p.load(), System.currentTimeMillis() + 1000,
        retainLast = 1)
      val t = p.load()
      val md = t.metadata
      val live = t.newScan().toDF(spark).select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
      val ops = md.snapshots.sortBy(_.sequenceNumber)
        .map(s => s.sequenceNumber -> s.summary.get.operation)
      // snapshot ids differ per plane; a ref is identified by the sequence
      // number of the snapshot it points at
      val refs = md.refs.map { case (name, r) =>
        name -> (r.refType, md.snapshotById(r.snapshotId).map(_.sequenceNumber))
      }
      p.name -> (live, ops, refs)
    }
    val (file, rest) = (outcomes.head._2, outcomes(1)._2)
    assert(file == rest, s"file plane $file\nREST plane $rest")
    // main is back at the append; the audit branch holds the compaction,
    // and only the first snapshot aged out
    assert(file._1 == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(file._2 == Seq(2L -> OpAppend, 3L -> OpDelete, 4L -> OpReplace))
    assert(file._3 == Map(TableMetadata.MainBranch -> (BranchRef, Some(2L)),
      "audit" -> (BranchRef, Some(4L))))
  }

  /** The spec's summary counts every snapshot carries, 0 included. */
  private val SpecSummaryKeys = Set("added-data-files", "added-records",
    "added-files-size", "added-delete-files", "added-position-deletes",
    "added-equality-deletes", "deleted-data-files", "deleted-records")

  /** What is wrong with `snap`'s summary and manifest-list rows, measured
    * against the entries of the manifests it wrote itself (DELETED ones
    * included): nothing, when the list is empty. */
  private def summaryProblems(t: IcebergTable, snap: Snapshot,
                              extras: Set[String]): Seq[String] = {
    import ManifestEntryStatus.{Added, Deleted, Existing}
    val summary = snap.summary.get.properties
    val keyProblem =
      if (summary.keySet == SpecSummaryKeys ++ extras) Nil
      else Seq(s"keys ${summary.keySet.toSeq.sorted}")
    val own = ManifestIO.readManifestList(t.io.open(snap.manifestList))
      .filter(_.addedSnapshotId == snap.snapshotId)
    val read = own.map(m =>
      m -> ManifestIO.readManifestEntries(t.io.open(m.path), m, discardDeleted = false))
    val rowProblems = read.flatMap { case (m, es) =>
      def of(status: Int) = es.filter(_.status == status)
      val counted = Seq(Added, Existing, Deleted).map(s =>
        (of(s).size, of(s).map(_.dataFile.recordCount).sum))
      val listed = Seq((m.addedFilesCount, m.addedRowsCount),
        (m.existingFilesCount, m.existingRowsCount),
        (m.deletedFilesCount, m.deletedRowsCount))
      if (counted == listed) Nil
      else Seq(s"manifest-list row $listed, manifest entries $counted (${m.path})")
    }
    val entries = read.flatMap(_._2)
    def files(status: Int, contents: Int*): Seq[DataFileInfo] =
      entries.filter(e => e.status == status && contents.contains(e.dataFile.content))
        .map(_.dataFile)
    def records(fs: Seq[DataFileInfo]): Long = fs.map(_.recordCount).sum
    import DataFileContent.{Data, EqualityDeletes, PositionDeletes}
    val added = files(Added, Data, PositionDeletes, EqualityDeletes)
    val expected = Map(
      "added-data-files" -> files(Added, Data).size.toLong,
      "added-records" -> records(files(Added, Data)),
      "added-files-size" -> added.map(f =>
        if (f.isDeletionVector) f.contentSizeInBytes.get else f.fileSizeInBytes).sum,
      "added-delete-files" -> files(Added, PositionDeletes, EqualityDeletes).size.toLong,
      "added-position-deletes" -> records(files(Added, PositionDeletes)),
      "added-equality-deletes" -> records(files(Added, EqualityDeletes)),
      "deleted-data-files" -> files(Deleted, Data).size.toLong,
      "deleted-records" -> records(files(Deleted, Data)))
    val countProblems = expected.toSeq.sortBy(_._1).collect {
      case (k, v) if !summary.get(k).contains(v.toString) =>
        s"$k = ${summary.get(k)}, manifests say $v"
    }
    val lineageProblem =
      if (t.metadata.formatVersion < 3 || snap.firstRowId.isDefined) Nil
      else Seq("V3 snapshot without first-row-id")
    keyProblem ++ rowProblems ++ countProblems ++ lineageProblem
  }

  test("every snapshot's summary counts the entries of the manifests it " +
      "wrote, and their manifest-list rows agree with them") {
    val loc = tmpDir("ops_summary")
    TableWriter.create(rows(1, 2, 3), loc)
    def t = IcebergTables.load(loc)
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    // (operation, its own summary keys, the call)
    val steps: Seq[(String, Set[String], () => Any)] = Seq(
      ("append", Set.empty, () => TableWriter.append(t, rows(4, 5, 6))),
      ("V2 deleteWhere", Set.empty,
        () => TableWriter.deleteWhere(t, spark, col("k") === 2L)),
      ("second V2 deleteWhere", Set.empty,
        () => TableWriter.deleteWhere(t, spark, col("k") === 5L)),
      // one equality-delete file per non-empty shuffle partition
      ("deleteEquality", Set.empty, () => {
        val was = spark.conf.getOption(coalesce)
        spark.conf.set(coalesce, "false")
        try TableWriter.deleteEquality(t, spark.range(6, 14, 1, 4).toDF("k"), Seq("k"))
        finally was.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
      }),
      ("replaceEquality", Set.empty,
        () => TableWriter.replaceEquality(t, rows(1).select("k"), Seq("k"), rows(1))),
      ("rewritePositionDeletes", Set("delete-files-rewritten", "delete-files-created"),
        () => TableWriter.rewritePositionDeletes(t, spark)),
      ("rewriteManifests", Set("manifests-rewritten", "manifests-created"),
        () => TableWriter.rewriteManifests(t)),
      ("cherrypickSnapshot", Set("source-snapshot-id", "published-wap-id"), () => {
        val staged = TableWriter.stageWapAppend(t, rows(20), "summary-wap")
        TableWriter.cherrypickSnapshot(staged, staged.metadata.snapshots.find(
          _.summary.exists(_.properties.get("wap.id").contains("summary-wap")))
          .get.snapshotId)
      }),
      ("compact", Set("replaced-data-files"), () => TableWriter.compact(t, spark)),
      ("overwrite", Set("replaced-data-files"),
        () => TableWriter.overwrite(t, rows(1, 2, 3))),
      ("V2 deleteWhere before the upgrade", Set.empty,
        () => TableWriter.deleteWhere(t, spark, col("k") === 1L)),
      ("upgradeFormatVersion", Set("deletion-vectors-added", "format-version",
        "position-delete-files-removed"),
        () => TableWriter.upgradeFormatVersion(t, spark, 3)),
      ("V3 deleteWhere", Set("deletion-vectors-added"),
        () => TableWriter.deleteWhere(t, spark, col("k") === 2L)),
      ("V3 append", Set.empty, () => TableWriter.append(t, rows(7))),
      ("V3 rewriteManifests", Set("manifests-rewritten", "manifests-created"),
        () => TableWriter.rewriteManifests(t)))
    val snapshots = steps.map { case (name, extras, run) =>
      val before = t.currentSnapshot.map(_.snapshotId)
      run()
      val table = t
      val snap = table.currentSnapshot.get
      assert(!before.contains(snap.snapshotId), s"$name committed no snapshot")
      name -> (snap, summaryProblems(table, snap, extras))
    }
    val problems = snapshots.collect {
      case (name, (_, ps)) if ps.nonEmpty => s"$name: ${ps.mkString("; ")}"
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    val eq = snapshots.toMap.apply("deleteEquality")._1
    assert(eq.summary.get.properties("added-delete-files").toInt > 1,
      "the equality delete should write more than one file")
    assert(t.newScan().toDF(spark).select("k").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(3L, 7L))
  }

  test("a whole-table compact records every delete file it drops as a " +
      "DELETED entry of its own manifests") {
    import ManifestEntryStatus.Deleted
    val loc = tmpDir("ops_compact_deletes")
    TableWriter.create(rows(1, 2, 3), loc)
    def t = IcebergTables.load(loc)
    TableWriter.append(t, rows(4, 5, 6))
    TableWriter.deleteWhere(t, spark, col("k") === 2L)
    TableWriter.deleteEquality(t, rows(5).select("k"), Seq("k"))
    val parent = t
    val liveAtParent = parent.newScan().planFiles().flatMap(_.deleteFiles)
      .map(_.path).distinct.sorted
    assert(liveAtParent.size >= 2, liveAtParent.mkString(", "))

    val compacted = TableWriter.compact(parent, spark)
    val snap = compacted.currentSnapshot.get
    val own = ManifestIO.readManifestList(compacted.io.open(snap.manifestList))
      .filter(_.addedSnapshotId == snap.snapshotId)
    val retired = own.filter(_.content == 1).flatMap(m =>
      ManifestIO.readManifestEntries(compacted.io.open(m.path), m, discardDeleted = false))
    assert(retired.forall(e => e.status == Deleted && e.snapshotId.contains(snap.snapshotId)),
      retired.mkString("\n"))
    assert(retired.map(_.dataFile.path).sorted == liveAtParent)
    assert(compacted.newScan().planFiles().forall(_.deleteFiles.isEmpty))
    assert(compacted.newScan().toDF(spark).select("k").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L, 4L, 6L))
  }

  test("a V2 deleteWhere that matches no row commits a delete snapshot " +
      "without a delete file") {
    val loc = tmpDir("ops_delete_nothing")
    TableWriter.create(rows(1, 2, 3), loc)
    def t = IcebergTables.load(loc)
    val before = t.currentSnapshot.get.snapshotId
    TableWriter.deleteWhere(t, spark, col("k") === 99L)
    val snap = t.currentSnapshot.get
    assert(snap.snapshotId != before)
    assert(snap.summary.get.operation == OpDelete)
    assert(snap.summary.get.properties("added-delete-files") == "0",
      snap.summary.get.properties.toString)
    assert(t.newScan().planFiles().forall(_.deleteFiles.isEmpty))
    // the one real delete file is the only one a rewrite then counts
    TableWriter.deleteWhere(t, spark, col("k") === 2L)
    val (rewritten, before2, created) = TableWriter.rewritePositionDeletes(t, spark)
    assert((before2, created) == (1, 1))
    assert(rewritten.newScan().toDF(spark).select("k").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L))
  }
}
