package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** V3 row lineage across REWRITES (spec: writers must preserve the row ids
  * of rows copied from existing data files): compaction materializes
  * `_row_id` / `_last_updated_sequence_number` into the rewritten files
  * under the spec's reserved field ids, and both read paths (DSv2 and the
  * library scan) prefer the materialized value over the derived
  * first_row_id + position. */
class CompactionLineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def v3Table(loc: String): IcebergTable = {
    val s = spark
    import s.implicits._
    val t = TableWriter.create(Seq.empty[(Long, String)].toDF("id", "v"), loc)
    TableWriter.upgradeFormatVersion(t, s, 3)
  }

  private def lineageOf(loc: String): Map[Long, (Long, Long)] =
    spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("compaction preserves _row_id and _last_updated_sequence_number") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cl_basic").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.append(t, Seq((4L, "d"), (5L, "e"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    val before = lineageOf(loc)
    assert(before.values.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))

    t = TableWriter.compact(t, s, targetFiles = 1)
    assert(lineageOf(loc) == before)

    // the rewritten parquet file physically carries the lineage columns
    // (reserved field ids), so FOREIGN readers resolve them too
    val files = t.newScan().planFiles().map(_.file.path)
    assert(files.size == 1, files)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val fields = footer.getFooter.getFileMetaData.getSchema.getFields
      import scala.jdk.CollectionConverters._
      val byName = fields.asScala.map(f => f.getName -> Option(f.getId)).toMap
      assert(byName(GraftReaders.RowIdCol).map(_.intValue())
        .contains(GraftReaders.RowIdFieldId))
      assert(byName(GraftReaders.LastUpdatedSeqCol).map(_.intValue())
        .contains(GraftReaders.LastUpdatedSeqFieldId))
    } finally footer.close()

    // compacting AGAIN preserves the ORIGINAL ids: the second rewrite's
    // scan must prefer the materialized values over its own fresh
    // first_row_id derivation
    t = TableWriter.compact(t, s, targetFiles = 1)
    assert(lineageOf(loc) == before)

    // library scan path agrees
    val lib = t.newScan().toDF(s)
      .select("id", "_row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lib == before.map { case (k, (r, _)) => (k, r) }.toSet)
  }

  test("compaction after a DV delete: survivors keep their ids, DVs retire") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cl_dv").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.deleteWhereDv(t, s, col("id") === 2L)
    val before = lineageOf(loc)
    assert(before.keySet == Set(1L, 3L, 4L))

    t = TableWriter.compact(t, s, targetFiles = 1)
    val after = lineageOf(loc)
    // ids survive with their ORIGINAL values even though positions shifted
    // (row at position 1 was deleted — derived id would have renumbered)
    assert(after.view.mapValues(_._1).toMap ==
      before.view.mapValues(_._1).toMap, after)
    // the rewrite applied the DV; no delete files remain
    assert(t.newScan().planFiles().forall(_.deleteFiles.isEmpty))
  }

  test("pre-lineage rows get fresh non-colliding ids on rewrite") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cl_up").toFile.getPath
    // one file written BEFORE the upgrade (null _row_id), one after
    var t = TableWriter.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).sortWithinPartitions("id"), loc)
    t = TableWriter.upgradeFormatVersion(t, s, 3)
    t = TableWriter.append(t, Seq((3L, "c")).toDF("id", "v"))
    val pre = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(pre == Map(1L -> None, 2L -> None, 3L -> Some(0L)), pre)

    t = TableWriter.compact(t, s, targetFiles = 1)
    val post = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("_row_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // the tracked row keeps its id; the pre-lineage rows are ASSIGNED ids
    // by the rewrite (spec: null materialized _row_id reads the new file's
    // first_row_id + position) — fresh, distinct, non-colliding
    assert(post(3L).contains(0L), post)
    val assigned = Seq(post(1L), post(2L)).flatten
    assert(assigned.size == 2 && assigned.distinct.size == 2, post)
    assert(!assigned.contains(0L), post)
  }

  test("sorted and z-ordered rewrites preserve lineage too") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cl_sort").toFile.getPath
    var t = v3Table(loc)
    t = TableWriter.append(t, (1L to 20L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    t = TableWriter.append(t, (21L to 40L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id"))
    val before = lineageOf(loc)
    t = TableWriter.compact(t, s, targetFiles = 2, sortBy = Seq("id"))
    assert(lineageOf(loc) == before)
    t = TableWriter.compact(t, s, targetFiles = 2, zOrderBy = Seq("id", "v"))
    assert(lineageOf(loc) == before)
  }

  test("maintained index: sync after compaction is a no-op") {
    val s = spark
    import s.implicits._
    val docsLoc = Files.createTempDirectory("cl_idx_docs").toFile.getPath
    val idxLoc = Files.createTempDirectory("cl_idx_idx").toFile.getPath
    var docs = TableWriter.create(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), docsLoc)
    docs = TableWriter.upgradeFormatVersion(docs, s, 3)
    docs = TableWriter.append(docs, Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "pack my box with five dozen liquor jugs for the long trip"),
        (3L, "sphinx of black quartz judge my vow said the old examiner"))
      .toDF("doc_id", "text"))
    docs = TableWriter.updateWhere(docs, s, col("doc_id") === 2L,
      Map("text" -> concat(col("text"), lit(" v2"))))
    val p = graft.queries.DedupIndex.Params()
    var idx = graft.queries.DedupIndex.build(
      docs.newScan().toDF(s), idxLoc, p)
    val synced = docs.currentSnapshot.get.snapshotId
    val idxVersionBefore = idx.loadedVersion
    val idxRows = idx.newScan().toDF(s).collect().toSet

    // compact the DOCS table — rewrites every file, preserves every id
    docs = TableWriter.compact(docs, s, targetFiles = 1)
    // the changelog window since `synced` contains the compaction only →
    // net effect is EMPTY and the sync commits nothing
    idx = graft.queries.DedupIndex.syncFromChangelog(s, docs, idx,
      Some(synced), p)
    assert(idx.loadedVersion == idxVersionBefore,
      s"sync after compaction committed (v$idxVersionBefore -> v${idx.loadedVersion})")
    assert(idx.newScan().toDF(s).collect().toSet == idxRows)
  }
}
