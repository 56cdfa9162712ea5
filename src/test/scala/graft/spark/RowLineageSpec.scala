package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** V3 row lineage: commit-side assignment (next-row-id / first-row-id /
  * first_row_id) and the `_row_id` / `_last_updated_sequence_number`
  * metadata columns. */
class RowLineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def v3Table(loc: String): IcebergTable = {
    val s = spark
    import s.implicits._
    val t = TableWriter.create(Seq.empty[(Long, String)].toDF("id", "v"), loc)
    TableWriter.upgradeFormatVersion(t, s, 3)
  }

  test("appends assign sequential row ids; metadata carries lineage fields") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("lineage").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.append(t, Seq((4L, "d"), (5L, "e"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))

    // metadata: next-row-id advanced past all 5 rows; snapshots record bases
    assert(t.metadata.nextRowId.contains(5L), t.metadata.nextRowId)
    val bases = t.metadata.snapshots.flatMap(_.firstRowId)
    assert(bases == Seq(0L, 3L), bases)
    // serialized JSON carries the spec keys
    val json = t.metadata.toJson
    assert(json.contains("\"next-row-id\":5"), json)
    assert(json.contains("\"first-row-id\":3"), json)

    // manifests + data files carry first_row_id
    val mfs = ManifestIO.readManifestList(
      t.io.open(t.currentSnapshot.get.manifestList))
    assert(mfs.flatMap(_.firstRowId).sorted == Seq(0L, 3L), mfs.map(_.firstRowId))

    // _row_id = file base + position; _last_updated_sequence_number per commit
    val rows = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 0L, 2L), (2L, 1L, 2L), (3L, 2L, 2L),
      (4L, 3L, 3L), (5L, 4L, 3L)), rows)
  }

  test("MoR delete preserves surviving rows' ids") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("lineage_dv").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.deleteWhereDv(t, s, col("id") === 2L)
    val rows = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // id 2 held row id 1; survivors keep 0 and 2 — ids are stable, not
    // renumbered (the property incremental consumers depend on)
    assert(rows == Set((1L, 0L), (3L, 2L)), rows)
    // a pure-delete snapshot records its base but consumes no ids
    assert(t.metadata.nextRowId.contains(3L))
  }

  test("pre-lineage files read null _row_id after an upgrade") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("lineage_up").toFile.getPath
    var t = TableWriter.create(Seq((1L, "a")).toDF("id", "v"), loc)
    t = TableWriter.upgradeFormatVersion(t, s, 3)
    t = TableWriter.append(t, Seq((2L, "b")).toDF("id", "v"))
    val rows = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // the pre-upgrade file has no first_row_id → null; the post-upgrade
    // append starts at 0 (per spec, upgraded tables begin assigning at 0)
    assert(rows == Set((1L, -1L), (2L, 0L)), rows)
  }

  test("changelog carries _row_id for inserts and deletes") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("lineage_cdc").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.deleteWhereDv(t, s, col("id") === 2L)
    val log = graft.streaming.Changelog.changelogDF(s, t,
      fromSnapshotId = None, includeRowLineage = true)
    val rows = log.select("id", "_row_id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // inserts at commit 1 carry assigned ids; the DV delete names the SAME
    // id the row was born with — the stable identity incremental
    // consumers key on
    assert(rows == Set((1L, 0L, "insert"), (2L, 1L, "insert"),
      (3L, 2L, "insert"), (2L, 1L, "delete")), rows)
    // library read path serves the same columns
    val live = t.newScan().toDF(s)
      .select("id", "_row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == Set((1L, 0L), (3L, 2L)), live)
  }

  test("manifest-level first_row_id inherits into null data-file entries") {
    val dir = Files.createTempDirectory("lineage_inherit").toFile
    val mk = (path: String, rows: Long) => ManifestEntry(
      ManifestEntryStatus.Added, Some(1L), Some(1L), Some(1L),
      DataFileInfo(DataFileContent.Data, path, "PARQUET", Map.empty, rows,
        10L, Map.empty, Map.empty, Map.empty, Map.empty, Map.empty,
        Map.empty, Nil, Nil, None))
    val f = new java.io.File(dir, "m.avro")
    ManifestIO.writeManifest(f, Seq(mk("/a", 10), mk("/b", 5), mk("/c", 7)),
      StructT(Nil))
    val manifest = ManifestFile(f.getPath, f.length(), 0, 0, 1, 1, 1L,
      3, 0, 0, 22, 0, 0, Nil, 2, firstRowId = Some(100L))
    val back = ManifestIO.readManifestEntries(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)), manifest)
    assert(back.map(_.dataFile.firstRowId) ==
      Seq(Some(100L), Some(110L), Some(115L)))
    // without a manifest base nothing is invented
    val noBase = ManifestIO.readManifestEntries(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)),
      manifest.copy(firstRowId = None))
    assert(noBase.forall(_.dataFile.firstRowId.isEmpty))
  }
}
