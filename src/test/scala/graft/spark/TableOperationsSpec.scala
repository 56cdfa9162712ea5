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
}
