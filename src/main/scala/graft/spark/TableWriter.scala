package graft.spark

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr => sexpr, regexp_replace, to_date, udf, year => syear}
import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.catalog.{AddPartitionSpec, AddSchema, AddSnapshot, AddSortOrder, AssertCurrentSchemaId, AssertRefSnapshotId, AssertTableUuid, RemoveProperties, RemoveSnapshotRef, RemoveSnapshots, SetCurrentSchema, SetDefaultSortOrder, SetDefaultSpec, SetPartitionStatistics, SetProperties, SetSnapshotRef, SetStatistics, TableRequirement, TableUpdate, UpgradeFormatVersion}
import graft.core._
import graft.core.DeleteMatching.tombstonePath

/** The write/commit path — "Writing is WIP" in the reference
  * (cmd/icegopher/main.go:314,330); here it's implemented: distributed task
  * writers (shared with the CoW path) write the parquet, derive partition
  * tuples per row, and count float/double NaNs inline; the driver turns
  * parquet FOOTERS into per-file Iceberg stats (no second data pass —
  * O(files) metadata reads) and stages manifests → manifest list. Every
  * operation is written once: it stages the REST spec's requirements and
  * updates and commits them through the handle's [[TableOperations]] — a
  * metadata-file CAS for file-backed tables, the catalog's `updateTable`
  * route for REST-cataloged ones.
  */
object TableWriter {

  /** Create a new table at `location` from a DataFrame. `partitionBy` maps
    * source column name → transform; data is written hive-partitioned on the
    * transformed value so the scan planner can prune on partition tuples.
    *
    * `sortBy` goes beyond the reference (which carries sort orders as inert
    * metadata, sorting.go:29-157): the data is RANGE-CLUSTERED on the sort
    * columns at write time — one range shuffle — so per-file min/max bounds
    * become disjoint and stats pruning drops all but the matching files for
    * range/point predicates on those columns. The order is recorded in table
    * metadata and stamped on each data file (`sort_order_id`). */
  def create(df: DataFrame, location: String,
             partitionBy: Seq[(String, Transform)] = Nil,
             properties: Map[String, String] = Map.empty,
             sortBy: Seq[String] = Nil): IcebergTable = {
    val schema = SchemaConv.fromSparkSchema(df.schema)
    val spec = PartitionSpec(0, partitionBy.zipWithIndex.map { case ((src, t), i) =>
      val f = schema.findFieldByName(src).getOrElse(
        throw new IllegalArgumentException(s"partition source column '$src' not found"))
      PartitionField(f.id, PartitionSpec.PartitionDataIdStart + i,
        partName(src, t), t)
    })
    createTable(df, location, schema, spec, properties,
      sortOrderFor(schema, sortBy), formatVersion = 2)
  }

  /** [[create]] with an EXPLICIT Iceberg schema — the authoring path for
    * types a Spark DataFrame schema cannot express (V3 geometry/geography:
    * the frame carries WKB binary, the table schema carries the geo type).
    * The frame's column names and physical Spark types must match the
    * schema's projection. Types the V3 spec introduced force
    * format-version 3. */
  def createWithSchema(df: DataFrame, location: String, schema: Schema,
                       partitionBy: Seq[(String, Transform)] = Nil,
                       properties: Map[String, String] = Map.empty,
                       sortBy: Seq[String] = Nil): IcebergTable = {
    val target = SchemaConv.toSparkSchema(schema)
    require(df.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      target.fields.map(f => (f.name, f.dataType))),
      s"frame schema ${df.schema.simpleString} does not match the table " +
        s"schema's Spark projection ${target.simpleString}")
    val spec = PartitionSpec(0, partitionBy.zipWithIndex.map { case ((src, t), i) =>
      val f = schema.findFieldByName(src).getOrElse(
        throw new IllegalArgumentException(s"partition source column '$src' not found"))
      f.fieldType match {
        case _: GeometryT | _: GeographyT | VariantT | UnknownT =>
          throw new IllegalArgumentException(
            s"cannot partition by ${f.fieldType.repr} column '$src': the V3 " +
              "spec defines no partition transforms for it")
        case _ =>
      }
      PartitionField(f.id, PartitionSpec.PartitionDataIdStart + i,
        partName(src, t), t)
    })
    val needsV3 = schema.struct.fields.exists(f => f.fieldType match {
      case _: GeometryT | _: GeographyT | VariantT | UnknownT |
           TimestampNsT | TimestampTzNsT => true
      case _ => false
    })
    createTable(df, location, schema, spec, properties, sortOrderFor(schema, sortBy),
      formatVersion = if (needsV3) 3 else 2)
  }

  /** Commit a new table's version 1: its first metadata, already carrying
    * the first snapshot. A table BORN V3 (V3-only types) assigns row
    * lineage from 0 on that commit, per spec. */
  private def createTable(df: DataFrame, location: String, schema: Schema,
                          spec: PartitionSpec, properties: Map[String, String],
                          sortOrder: SortOrder, formatVersion: Int): IcebergTable = {
    val empty = TableMetadata(formatVersion = formatVersion,
      tableUuid = java.util.UUID.randomUUID().toString, location = location,
      lastSequenceNumber = 0L, lastUpdatedMs = System.currentTimeMillis(),
      lastColumnId = schema.highestFieldId, schemas = Seq(schema),
      currentSchemaId = schema.schemaId, partitionSpecs = Seq(spec),
      defaultSpecId = spec.specId,
      lastPartitionId = Some((spec.fields.map(_.fieldId) :+ 999).max),
      properties = properties, snapshots = Nil, currentSnapshotId = None,
      snapshotLog = Nil, metadataLog = Nil,
      sortOrders = Seq(SortOrder.unsorted, sortOrder).distinctBy(_.orderId),
      defaultSortOrderId = sortOrder.orderId, refs = Map.empty,
      nextRowId = if (formatVersion >= 3) Some(0L) else None)
    // no metadata file yet: the handle's commit lands version 1
    val table = new IcebergTable(location, "", empty, LocalFileIO)
    val outs = writeDistributed(df, newDataDir(table), schema, spec, properties,
      sortOrder, preClustered = false)
    publish(table, stageAppendSnapshot(table, outs, Map.empty, sortOrder.orderId))
  }

  private def sortOrderFor(schema: Schema, sortBy: Seq[String]): SortOrder =
    if (sortBy.isEmpty) SortOrder.unsorted
    else SortOrder(1, sortBy.map { c =>
      val f = schema.findFieldByName(c).getOrElse(
        throw new IllegalArgumentException(s"sort column '$c' not found"))
      SortField(f.id, IdentityTransform, SortAsc, NullsFirst)
    })

  /** A fresh directory for one write's data files. */
  private def newDataDir(table: IcebergTable): File =
    new File(table.location, s"data/snap-${System.nanoTime()}")

  /** The distributed write of `df` under the table's schema, spec and
    * properties (unsorted: appends keep the caller's layout). */
  private def writeData(table: IcebergTable, df: DataFrame): Seq[CowFileOut] =
    writeDistributed(alignForWrite(df, table.schema), newDataDir(table),
      table.schema, table.spec, table.properties, SortOrder.unsorted,
      preClustered = false)

  /** Overwrite (INSERT OVERWRITE / truncate-then-write): ONE `overwrite`
    * snapshot retires every live data file and adds the new rows —
    * previous files remain reachable only through time travel. */
  def overwrite(table: IcebergTable, df: DataFrame): IcebergTable =
    replace(table, None, writeData(table, df), None, None, OpOverwrite)

  /** Append a snapshot: new files join the previous snapshot's manifests.
    * A frame missing schema columns is aligned first — each absent column
    * fills with its V3 `write-default` when declared, null otherwise. */
  def append(table: IcebergTable, df: DataFrame): IcebergTable =
    appendFiles(table, writeData(table, df))

  /** Align a write frame whose columns are a SUBSET of the schema: absent
    * columns fill with their `write-default` (V3) or null, present columns
    * reorder and cast to the table's types. The SINGLE fill
    * implementation — the DSv2 write path delegates here, so SQL INSERT
    * and DataFrame append can never fill different values for the same
    * omitted column. Frames with exactly the schema's column order pass
    * through untouched; non-subset frames return unchanged for the caller
    * to reject or align positionally. */
  private[spark] def alignForWrite(df: DataFrame, schema: Schema): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = SchemaConv.toSparkSchema(schema)
    if (df.schema.fieldNames.sameElements(target.fieldNames)) return df
    val dataNames = df.schema.fieldNames.toSet
    if (!dataNames.subsetOf(target.fieldNames.toSet)) return df
    df.select(target.fields.toIndexedSeq.map { f =>
      if (dataNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else SchemaConv.writeDefaultOf(f) match {
        case Some((typ, l)) => SchemaConv.literalColumn(typ, l).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Positional MoR delete: rows of `table` matching `predicate` become
    * (file_path, pos) tombstones in a delete manifest — no data rewrite.
    * One distributed scan finds them; the data files' task writer writes
    * them sorted, one file per non-empty partition, so a predicate that
    * matches nothing commits a snapshot without a delete file. */
  def deleteWhere(table: IcebergTable, spark: org.apache.spark.sql.SparkSession,
                  predicate: Column): IcebergTable = {
    // V3 forbids positional delete FILES (and readers ignore them for
    // DV-bearing files — writing one would silently drop the delete)
    if (table.metadata.formatVersion >= 3)
      return deleteWhereDv(table, spark, predicate)
    val written = writeDeleteFiles(
      deadRows(table.newScan(), spark, predicate).orderBy("file_path", "pos"),
      new File(table.location, s"data/deletes-${System.nanoTime()}"),
      DeleteMatching.PositionalDeleteSchema)
    publish(table, stageDeltaSnapshot(table, Nil, written.map(_.path)))
  }

  /** Write delete-file rows, clustered and sorted by the caller, through
    * the data files' task writer under `schema`'s field ids (the reserved
    * `file_path`/`pos` ids for positional deletes): unpartitioned, no
    * table properties (Parquet, the default target size), at least one
    * file per non-empty partition and none for an empty one. */
  private def writeDeleteFiles(rows: DataFrame, dir: File, schema: Schema): Seq[CowFileOut] =
    writeDistributed(rows, dir, schema, PartitionSpec.unpartitioned, Map.empty,
      SortOrder.unsorted, preClustered = true)

  /** The (file_path, pos) tombstone coordinates of the rows of `scan`
    * matching `predicate`: the scan's `_file`/`_pos` metadata columns,
    * the path in its tombstone form ([[DeleteMatching.tombstonePath]]). */
  private def deadRows(scan: TableScan, spark: org.apache.spark.sql.SparkSession,
                       predicate: Column): DataFrame =
    scan.toDF(spark).filter(predicate)
      .select(tombstonePathCol(col(GraftReaders.FileCol)), col(GraftReaders.PosCol).as("pos"))

  /** The (file_path, pos) coordinates held by positional delete files,
    * the path in its tombstone form. */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
                           deleteFiles: Seq[String]): DataFrame =
    spark.read.parquet(deleteFiles: _*)
      .select(tombstonePathCol(col("file_path")), col("pos"))

  /** [[DeleteMatching.tombstonePath]] over a frame's path column. */
  private def tombstonePathCol(path: Column): Column =
    regexp_replace(path, DeleteMatching.FileScheme, "").as("file_path")

  /** V3 deletion-vector MoR delete: rows matching `predicate` become
    * roaring-bitmap DELETION VECTORS in Puffin files — one blob per
    * touched data file, one Puffin container per write task — and the
    * table's format-version moves to 3 (DVs are a V3-only construct).
    *
    * Same plan shape as [[deleteWhere]]: ONE distributed scan computes the
    * (file, pos) tombstones, then a shuffle on file_path co-locates each
    * data file's positions in one task, which serializes them as a single
    * bitmap (a DV is per-file by definition, so the grouping is exact and
    * the blob write is single-pass). Per the V3 spec the new DV for a file
    * MERGES that file's prior deletes — its previous DV (which is then
    * retired from the live set: at most one live DV per file) or, for a
    * DV-less file, its positional-parquet tombstones. */
  def deleteWhereDv(table: IcebergTable, spark: org.apache.spark.sql.SparkSession,
                    predicate: Column): IcebergTable = {
    val scan = table.newScan()
    val (dead, priorDvs) =
      foldPriorDeletes(spark, deadRows(scan, spark, predicate), scan.planFiles())
    commitDvSnapshot(table) { (snapId, seq) =>
      dvChanges(table, Nil, writeDvFiles(spark, dead, priorDvs, table, snapId, seq),
        _ => false, OpDelete, Map.empty, snapId, seq)
    }
  }

  /** Prior deletes of the files a new DV write touches, resolved exactly as
    * the READER would: a file that already has a deletion vector
    * contributes that DV (readers ignore its positional parquet tombstones
    * — those positions were merged when the DV was created, so folding them
    * again could only resurrect ignored coordinates); a DV-less file
    * contributes its live positional-parquet tombstones. Returns the
    * dead-coordinate frame with prior parquet positions folded in (narrow
    * (path, pos) pairs only) plus the per-file prior-DV coordinates for
    * [[writeDvFiles]] to union executor-side. */
  private def foldPriorDeletes(spark: org.apache.spark.sql.SparkSession,
                               newDead: DataFrame, tasks: Seq[FileScanTask])
      : (DataFrame, Map[String, Seq[(String, Long, Long)]]) = {
    val priorDvs: Map[String, Seq[(String, Long, Long)]] = tasks.map { t =>
      tombstonePath(t.file.path) -> t.deleteFiles.filter(_.isDeletionVector)
        .map(d => (tombstonePath(d.path), d.contentOffset.get,
          d.contentSizeInBytes.get))
    }.filter(_._2.nonEmpty).toMap
    val priorPaths = tasks.flatMap { t =>
      if (priorDvs.contains(tombstonePath(t.file.path))) Nil
      else t.deleteFiles.filter(d =>
        d.content == DataFileContent.PositionDeletes && !d.isDeletionVector)
        .map(_.path)
    }.distinct
    val dead =
      if (priorPaths.isEmpty) newDead
      else {
        import spark.implicits._
        // only positions of files the new delete touches need re-homing
        // into DVs; untouched files keep their parquet tombstones (readers
        // keep honoring them — only DV'd files ignore parquet)
        val prior = tombstonesOf(spark, priorPaths)
          .join(newDead.select(col("file_path")).distinct(), Seq("file_path"),
            "left_semi")
        // a shared tombstone parquet can also carry positions of DV-bearing
        // files; those are reader-ignored dead weight — never fold them
        val pruned =
          if (priorDvs.isEmpty) prior
          else prior.join(
            org.apache.spark.sql.functions.broadcast(
              priorDvs.keys.toSeq.toDF("file_path")),
            Seq("file_path"), "left_anti")
        newDead.unionAll(pruned)
      }
    (dead, priorDvs)
  }

  /** Distributed deletion-vector production shared by [[deleteWhereDv]],
    * [[commitDeltaDv]] and [[upgradeFormatVersion]]: shuffle the dead
    * (file_path, pos) coordinates once on file_path so each data file's
    * positions land in ONE task, union in the prior deletion vector(s) of
    * any file being superseded (the V3 merge rule), and write one Puffin
    * container per task with one deletion-vector-v1 blob per data file.
    * Only narrow (path, pos) pairs ride the shuffle; the returned manifest
    * rows are one per touched file — metadata-sized. */
  private def writeDvFiles(spark: org.apache.spark.sql.SparkSession,
                           dead: DataFrame,
                           priorDvs: Map[String, Seq[(String, Long, Long)]],
                           table: IcebergTable, snapId: Long, seq: Long)
      : Seq[DataFileInfo] = {
    import spark.implicits._
    val delDir = new File(table.location, s"data/dv-$snapId"); delDir.mkdirs()
    val dvInfos: Seq[(String, String, Long, Long, Long, Long)] = dead
      .repartition(col("file_path"))
      .sortWithinPartitions("file_path", "pos")
      .as[(String, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          // one Puffin container per task, one DV blob per data file
          val byFile =
            scala.collection.mutable.LinkedHashMap[String, Roaring64NavigableMap]()
          it.foreach { case (f, p) =>
            byFile.getOrElseUpdate(f, new Roaring64NavigableMap(false))
              .addLong(p)
          }
          byFile.foreach { case (target, bm) =>
            priorDvs.getOrElse(target, Nil).foreach { case (path, off, len) =>
              bm.or(graft.core.Puffin.readDvBlob(
                graft.core.Puffin.readBlob(path, off, len)))
            }
          }
          val pid = org.apache.spark.TaskContext.getPartitionId()
          writeDvContainer(new File(delDir, f"dv-$pid%05d.puffin").getPath,
            byFile.toSeq, snapId, seq)
        }
      }.collect().toSeq // one row per touched data file: metadata-sized

    dvDataFiles(dvInfos)
  }

  /** Write one Puffin container holding a deletion-vector-v1 blob per
    * (referenced data file, positions) pair, recorded under snapshot
    * `snapId` at sequence `seq` (executor-side). Returns one
    * [[dvDataFiles]] row per blob. */
  private def writeDvContainer(puffin: String,
                               dvs: Seq[(String, Roaring64NavigableMap)],
                               snapId: Long, seq: Long)
      : Iterator[(String, String, Long, Long, Long, Long)] = {
    val metas = graft.core.Puffin.write(puffin, dvs.map { case (target, bm) =>
      (graft.core.Puffin.dvBlobBytesOf(bm), graft.core.Puffin.BlobMetadata(
        graft.core.Puffin.DeletionVectorV1, fields = Nil,
        snapshotId = snapId, sequenceNumber = seq, offset = 0, length = 0,
        properties = Map("referenced-data-file" -> target,
          "cardinality" -> bm.getLongCardinality.toString)))
    })
    val size = new File(puffin).length()
    metas.iterator.map { m =>
      (puffin, m.properties("referenced-data-file"),
        m.offset, m.length, m.properties("cardinality").toLong, size)
    }
  }

  /** Manifest rows for freshly-written DV blobs: (puffin path, referenced
    * data file, blob offset, blob length, cardinality, container size). */
  private def dvDataFiles(
      dvInfos: Seq[(String, String, Long, Long, Long, Long)])
      : Seq[DataFileInfo] =
    dvInfos.map { case (puffin, target, off, len, card, size) =>
      DataFileInfo(
        content = DataFileContent.PositionDeletes, path = puffin,
        format = "PUFFIN", partition = Map.empty, recordCount = card,
        fileSizeInBytes = size, columnSizes = Map.empty,
        valueCounts = Map.empty, nullValueCounts = Map.empty,
        nanValueCounts = Map.empty, lowerBounds = Map.empty,
        upperBounds = Map.empty, splitOffsets = Nil, equalityIds = Nil,
        sortOrderId = None, referencedDataFile = Some(target),
        contentOffset = Some(off), contentSizeInBytes = Some(len))
    }

  /** DV maintenance (`CALL graft.system.rewrite_deletion_vectors('db.t')`):
    * every MoR delete commit on a V3 table writes NEW Puffin containers for
    * the files it touches (merging each file's prior DV, which retires),
    * so a stream of small deletes fragments the live deletion vectors
    * across many tiny containers — and the superseded blobs keep occupying
    * bytes inside containers that still hold one live blob. This CALL
    * consolidates: the live DV set (resolved exactly as a reader resolves
    * it, so DVs of dead data files drop out) is re-encoded into
    * size-targeted containers, committed as ONE replace snapshot that
    * retires every prior DV entry. Reads are identical before and after;
    * the old Puffin files become unreferenced once pre-rewrite snapshots
    * expire (`expire_snapshots` / `remove_orphan_files` sweep them — they
    * are ordinary delete-manifest entries).
    *
    * Scale shape: only metadata-sized (target, src, offset, length) rows
    * ride the Spark job; blob BYTES are read, validated (decode +
    * re-encode canonicalizes the roaring encoding) and written
    * executor-side, many blobs per output container.
    *
    * Returns (live DV blobs rewritten, containers before, containers
    * after). No-op when the live set already lives in a single container
    * with no dead weight. */
  def rewriteDeletionVectors(table: IcebergTable,
                             spark: org.apache.spark.sql.SparkSession)
      : (IcebergTable, Int, Int, Int) = {
    val snap = table.currentSnapshot.getOrElse(return (table, 0, 0, 0))
    // the live DV per data file, exactly as the reader resolves it
    val live: Seq[(String, String, Long, Long)] =
      table.newScan().planFiles().flatMap { t =>
        t.deleteFiles.filter(_.isDeletionVector).map(d =>
          (tombstonePath(t.file.path), d.path, d.contentOffset.get,
            d.contentSizeInBytes.get))
      }.distinct
    // every DV entry still live in the manifests — includes DANGLING DVs
    // whose referenced data file left the live set (their entries survive
    // the data file's removal; readers just never consult them)
    val manifests = ManifestIO.readManifestList(table.io.open(snap.manifestList))
    val allDvEntries = manifests.filter(_.content == 1).flatMap(m =>
      ManifestIO.readManifestEntries(table.io.open(m.path), m,
        discardDeleted = true)).filter(_.dataFile.isDeletionVector)
    val containersBefore = allDvEntries.map(_.dataFile.path).distinct.size
    if (allDvEntries.isEmpty) return (table, 0, 0, 0)
    // optimal already: one container, every blob in it live
    if (containersBefore <= 1 && allDvEntries.size == live.size)
      return (table, 0, containersBefore, containersBefore)

    var containersAfter = 0
    val out = commitDvSnapshot(table) { (snapId, seq) =>
      val delDir = new File(table.location, s"data/dv-rw-$snapId"); delDir.mkdirs()
      val dvInfos: Seq[(String, String, Long, Long, Long, Long)] =
        if (live.isEmpty) Nil
        else {
          import spark.implicits._
          // one output container per ~4k blobs keeps containers near the
          // manifest-target sweet spot without a byte-level size estimate
          val parts = math.max(1, math.ceil(live.size / 4096.0).toInt)
          live.toDF("target", "src", "off", "len")
            .repartitionByRange(parts, col("target"))
            .sortWithinPartitions("target")
            .as[(String, String, Long, Long)]
            .mapPartitions { it =>
              val rows = it.toArray
              if (rows.isEmpty) Iterator.empty
              else {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                writeDvContainer(new File(delDir, f"dv-rw-$pid%05d.puffin").getPath,
                  rows.toSeq.map { case (target, src, off, len) =>
                    target -> graft.core.Puffin.readDvBlob(
                      graft.core.Puffin.readBlob(src, off, len))
                  }, snapId, seq)
              }
            }.collect().toSeq // one row per live DV: metadata-sized
        }
      containersAfter = dvInfos.map(_._1).distinct.size
      dvChanges(table, Nil, dvDataFiles(dvInfos), alsoSuperseded = _.isDeletionVector,
        OpReplace, Map("deletion-vectors-rewritten" -> allDvEntries.size.toString),
        snapId, seq)
    }
    (out, live.size, containersBefore, containersAfter)
  }

  /** Rewrite delete manifests so superseded entries leave the live set: V3
    * allows at most ONE live deletion vector per data file, so a commit
    * that writes a new DV for a file must retire the file's previous DV
    * (whose positions it merged); format upgrade likewise retires every
    * positional-parquet tombstone it re-homed. Kept entries carry as
    * EXISTING, superseded ones stay in the rewritten manifest as
    * DELETED-status entries recording this snapshot ([[retire]]). Returns
    * the manifests with nothing superseded, carried by reference, and the
    * rewritten ones; one with nothing live left is dropped by
    * [[liveManifests]] at the NEXT commit. */
  private def supersedeDeleteEntries(table: IcebergTable,
                                     deleteManifests: Seq[ManifestFile],
                                     superseded: DataFileInfo => Boolean,
                                     snapId: Long)
      : (Seq[ManifestFile], Seq[NewManifest]) = {
    val split = deleteManifests.map { m =>
      m -> ManifestIO.readManifestEntries(table.io.open(m.path), m)
        .partition(e => superseded(e.dataFile))
    }
    (split.collect { case (m, (gone, _)) if gone.isEmpty => m },
      split.collect { case (m, (gone, kept)) if gone.nonEmpty =>
        NewManifest("manifest-del-ss", 1, m.partitionSpecId,
          partTypeOf(table, m.partitionSpecId, StructT(Nil)), retire(kept, gone, snapId))
      })
  }

  /** A rewritten manifest's entries: `kept` carry as EXISTING, `gone`
    * stay as DELETED entries recording the snapshot that removed them
    * (Iceberg spec: the committing snapshot names what it removed, so
    * `entries` forensics and changelog readers never diff whole
    * snapshots). */
  private def retire(kept: Seq[ManifestEntry], gone: Seq[ManifestEntry],
                     snapId: Long): Seq[ManifestEntry] =
    kept.map(_.copy(status = ManifestEntryStatus.Existing)) ++
      gone.map(_.copy(status = ManifestEntryStatus.Deleted, snapshotId = Some(snapId)))

  /** Stage and commit a snapshot carrying deletion vectors. DVs are a V3
    * construct, so a table below V3 moves to 3 in the same commit — the
    * format flip first, so the snapshot lands on V3 metadata and a reader
    * never sees DVs under an older format; lineage is assigned under that
    * target version. */
  private def commitDvSnapshot(table: IcebergTable)
                              (body: (Long, Long) => SnapshotChanges): IcebergTable =
    publish(table, stageSnapshot(table, table.currentSnapshot,
      table.metadata.copy(formatVersion = 3))(body), leading =
      if (table.metadata.formatVersion >= 3) Nil else Seq(UpgradeFormatVersion(3)))

  /** The changes of ONE snapshot carrying appended data files, new
    * deletion vectors, and the retirement of whatever those DVs supersede
    * (prior DVs of the touched files always; `alsoSuperseded` lets format
    * upgrade retire parquet tombstones too). */
  private def dvChanges(table: IcebergTable,
                        added: Seq[graft.spark.CowFileOut],
                        dvFiles: Seq[DataFileInfo],
                        alsoSuperseded: DataFileInfo => Boolean,
                        op: SnapshotOp, extraSummary: Map[String, String],
                        snapId: Long, seq: Long): SnapshotChanges = {
    val (prevData, prevDelete) = liveManifests(table).partition(_.content == 0)
    val touched = dvFiles.flatMap(_.referencedDataFile).map(tombstonePath).toSet
    val isSuperseded: DataFileInfo => Boolean = d =>
      (d.isDeletionVector &&
        touched(tombstonePath(d.referencedDataFile.get))) || alsoSuperseded(d)
    val (kept, rewritten) =
      supersedeDeleteEntries(table, prevDelete, isSuperseded, snapId)
    SnapshotChanges(op, prevData ++ kept,
      (manifestOf(table, "manifest-dv-add", added.map(addedEntry(table, _, snapId, seq))) +:
        rewritten) :+ manifestOf(table, "manifest-dv", dvFiles.map(addedFile(_, snapId, seq))),
      Map("deletion-vectors-added" -> dvFiles.size.toString) ++ extraSummary)
  }

  /** V3 variant of [[commitDelta]] — SQL MoR DML on a format-version-3
    * table: the task-written positional tombstones are re-homed into
    * deletion vectors at commit time. V3 forbids positional delete FILES —
    * and concretely, a reader ignores them for any file that already has a
    * DV, so committing them on a v3 table would SILENTLY DROP the delete.
    * Costs one extra distributed pass over O(changed rows): read the task
    * tombstones back, fold in each touched file's prior deletes
    * ([[foldPriorDeletes]]), write one DV per file, and commit DVs +
    * appends in ONE snapshot under the same conflict pin as
    * [[commitDelta]]. */
  private def commitDeltaDv(table: IcebergTable,
                            added: Seq[graft.spark.CowFileOut],
                            posDeleteFiles: Seq[String]): IcebergTable = {
    val spark = org.apache.spark.sql.SparkSession.active
    val newDead = tombstonesOf(spark, posDeleteFiles)
    val (dead, priorDvs) =
      foldPriorDeletes(spark, newDead, table.newScan().planFiles())
    val committed = commitDvSnapshot(table) { (snapId, seq) =>
      dvChanges(table, added, writeDvFiles(spark, dead, priorDvs, table, snapId, seq),
        _ => false, if (added.isEmpty) OpDelete else OpOverwrite, Map.empty,
        snapId, seq)
    }
    // the task tombstone parquet files were commit intermediates only
    posDeleteFiles.foreach(p => new File(p).delete())
    committed
  }

  /** Upgrade a table's format-version in place. 1→2, and →3 with no live
    * positional tombstones, is one `upgrade-format-version` update — a
    * pure metadata flip, no snapshot. →3 with live tombstones additionally
    * re-homes every LIVE positional-parquet tombstone into deletion
    * vectors (V3 tables must not carry position delete files): one
    * distributed pass groups live tombstone coordinates by data file —
    * dangling tombstones of vanished files drop; a file that already has
    * a DV keeps it untouched, and its parquet tombstone entries (dead
    * weight readers already ignore) retire WITHOUT folding, so reader
    * semantics are preserved bit-for-bit — then ONE snapshot retires all
    * parquet tombstone entries and adds the DVs, in the SAME commit as the
    * format flip. Both shapes are head-pinned: the no-tombstones decision
    * and the re-home came from this handle's scan, so a MoR delete landing
    * in between conflicts instead of leaving live parquet tombstones under
    * V3. At 100 TB the re-home is O(live tombstone rows): data files are
    * untouched. Downgrades refuse. */
  def upgradeFormatVersion(table: IcebergTable,
                           spark: org.apache.spark.sql.SparkSession,
                           target: Int): IcebergTable = {
    val md = table.metadata
    require(target >= 2 && target <= 3,
      s"unsupported format-version $target (this engine writes 2 and 3)")
    require(target >= md.formatVersion,
      s"cannot downgrade format-version ${md.formatVersion} -> $target")
    if (target == md.formatVersion) return table
    val tasks =
      if (table.currentSnapshot.isEmpty) Nil else table.newScan().planFiles()
    val posPaths = tasks.flatMap(_.deleteFiles.filter(d =>
      d.content == DataFileContent.PositionDeletes && !d.isDeletionVector)
      .map(_.path)).distinct
    if (target == 2 || posPaths.isEmpty)
      return table.ops.commit(md, headGuard(md),
        Seq(UpgradeFormatVersion(target)))
    val dead = rehomedTombstones(spark, tasks, posPaths)
    commitDvSnapshot(table) { (snapId, seq) =>
      dvChanges(table, Nil, writeDvFiles(spark, dead, Map.empty, table, snapId, seq),
        alsoSuperseded = d =>
          d.content == DataFileContent.PositionDeletes && !d.isDeletionVector,
        op = OpReplace,
        extraSummary = Map("format-version" -> "3",
          "position-delete-files-removed" -> posPaths.size.toString),
        snapId, seq)
    }
  }

  /** The tombstone coordinates the V2→V3 re-home ([[upgradeFormatVersion]])
    * turns into one DV per touched file: dangling tombstones of vanished
    * files drop; a file that already has a DV keeps it untouched and its
    * parquet tombstone entries (dead weight readers already ignore) retire
    * WITHOUT folding. */
  private def rehomedTombstones(spark: org.apache.spark.sql.SparkSession,
                                tasks: Seq[graft.core.FileScanTask],
                                posPaths: Seq[String]): DataFrame = {
    val dvByFile = tasks.filter(_.deleteFiles.exists(_.isDeletionVector))
      .map(t => tombstonePath(t.file.path)).toSet
    val liveNoDv = tasks.map(t => tombstonePath(t.file.path))
      .filterNot(dvByFile).distinct
    filterLiveTombstones(tombstonesOf(spark, posPaths), liveNoDv, spark)
  }

  /** Equality MoR delete: any row whose `equalityCols` tuple appears in
    * `keys` is deleted — no data rewrite, no scan at commit time at all
    * (the delete applies table-wide to earlier-sequence files). */
  def deleteEquality(table: IcebergTable, keys: DataFrame,
                     equalityCols: Seq[String]): IcebergTable =
    publish(table, stageEqualitySnapshot(table, keys, equalityCols, None))

  /** Write `keys` as equality-delete parquet (one file per non-empty
    * partition of their distinct) and stage its content=1 manifest for
    * snapshot `snapId` at sequence `seq`; shared by [[deleteEquality]]
    * (own commit) and [[replaceEquality]] (same commit as the data). The
    * data files' writer writes them: cast to the key columns' types, under
    * their field ids, timestamps as INT64 micros. */
  private def eqDeleteManifest(table: IcebergTable, keys: DataFrame,
                               equalityCols: Seq[String],
                               snapId: Long, seq: Long): NewManifest = {
    val keyFields = equalityCols.map(c => table.schema.findFieldByName(c).getOrElse(
      throw new IllegalArgumentException(s"equality column '$c' not in schema")))
    val distinctKeys = keys.select(equalityCols.zip(keyFields).map { case (c, f) =>
      col(c).cast(SchemaConv.toSparkType(f.fieldType)).as(f.name) }: _*).distinct()
    val written = writeDeleteFiles(distinctKeys,
      new File(table.location, s"data/eqdeletes-$snapId"), Schema(0, StructT(keyFields)))
    manifestOf(table, "manifest-eqdel", written.sortBy(_.path).map(
      addedEntry(table, _, snapId, seq, content = DataFileContent.EqualityDeletes,
        equalityIds = keyFields.map(_.id))))
  }

  /** ATOMIC retract-and-replace: ONE snapshot carrying an equality-delete
    * manifest on `keyCols` plus the appended `rows` — the Flink-CDC-style
    * MoR upsert commit. The delete applies only to files with a STRICTLY
    * SMALLER sequence number (Iceberg's rule), so the same-sequence
    * appended rows are exempt by construction. Unlike [[upsert]] (two
    * commits), a reader can never observe the retracted-but-not-replaced
    * intermediate state, and a crash leaves either the old or the new
    * state — the primitive an incrementally-maintained view needs.
    * `extraProperties` merge into table properties in the same commit
    * (e.g. a maintenance watermark: state and bookkeeping move together
    * or not at all). */
  def replaceEquality(table: IcebergTable, keys: DataFrame,
                      keyCols: Seq[String], rows: DataFrame,
                      extraProperties: Map[String, String] = Map.empty)
      : IcebergTable =
    publish(table, stageEqualitySnapshot(table, keys, keyCols, Some(rows)),
      trailing = propertyUpdates(extraProperties, Nil))

  /** MoR UPDATE: rows matching `predicate` get `assignments` applied — the
    * originals become positional tombstones, the rewritten rows are
    * appended. Only the MATCHING rows are ever rewritten; untouched data
    * files are untouched. (Two commits: delete, then append.)
    *
    * The updated projection reads the PRE-delete snapshot (the frame is
    * pinned to `table`'s immutable metadata), so the lazily-executed
    * append still reads the original rows after the tombstones commit. */
  def updateWhere(table: IcebergTable, spark: org.apache.spark.sql.SparkSession,
                  predicate: Column,
                  assignments: Map[String, Column]): IcebergTable = {
    assignments.keys.foreach(c => require(
      table.schema.findFieldByName(c).isDefined, s"unknown column '$c'"))
    val updated = table.newScan().toDF(spark)
      .filter(predicate)
      .select(table.schema.fields.map(f =>
        assignments.getOrElse(f.name, col(f.name)).as(f.name)): _*)
    val afterDelete = deleteWhere(table, spark, predicate)
    append(afterDelete, updated)
  }

  /** Upsert by key (MERGE's matched-update + not-matched-insert for keyed
    * tables): existing rows with a key present in `rows` are equality-
    * tombstoned, then `rows` is appended. No scan at delete time, one
    * distributed write — metadata-sized commits regardless of table size. */
  def upsert(table: IcebergTable, rows: DataFrame,
             keyCols: Seq[String]): IcebergTable = {
    val afterDelete = deleteEquality(table, rows.select(keyCols.map(col): _*), keyCols)
    append(afterDelete, rows)
  }

  /** Merge-on-read row-level commit: ONE atomic snapshot carrying the
    * positional-tombstone files AND the appended data files of a SQL
    * UPDATE / MERGE / DELETE running under `write.*.mode = merge-on-read`.
    *
    * Metadata work is O(written files): every previous manifest carries
    * over BY REFERENCE; the tombstones get one new delete manifest
    * (content=1) and the appended rows one new data manifest — no data
    * file is read or rewritten. Both land at the same sequence number: the
    * tombstones apply to every earlier-or-equal-sequence data file whose
    * path they name (all strictly earlier here — the new files' paths
    * appear in no tombstone), so a reader sees exactly the post-DML state.
    *
    * `scanned` is the handle the row-level scan read: the buffered
    * (file, pos) coordinates are only valid against its files, so the
    * commit is pinned to it (a stale handle conflicts). A V3 table re-homes
    * the tombstones into deletion vectors ([[commitDeltaDv]]).
    *
    * Isolation (Iceberg's `write.<op>.isolation-level` semantics):
    * `serializable` (the default) conflicts on ANY concurrent commit the
    * plane's guard sees; `snapshot` tolerates concurrent PURE APPENDS —
    * appended files cannot contain any row this operation tombstoned or
    * read (new paths, and positional deletes only name pre-existing
    * paths), so committing on the moved base is exactly snapshot
    * isolation. The validation walks the snapshot parent chain from the
    * current head back to the scanned snapshot, requires every
    * intermediate commit be an `append` under the SAME schema, and
    * otherwise stays pinned to the scan and conflicts (a concurrent
    * delete/rewrite may have removed rows this operation re-appends — the
    * lost-delete anomaly snapshot isolation forbids). */
  def commitDelta(scanned: IcebergTable, added: Seq[graft.spark.CowFileOut],
                  posDeleteFiles: Seq[String],
                  isolation: String = "serializable"): IcebergTable = {
    val table =
      if (!isolation.equalsIgnoreCase("snapshot")) scanned
      else {
        val fresh = scanned.ops.current()
        if (appendOnlySince(fresh, scanned.currentSnapshot.map(_.snapshotId)))
          fresh
        else scanned
      }
    if (table.metadata.formatVersion >= 3 && posDeleteFiles.nonEmpty)
      commitDeltaDv(table, added, posDeleteFiles)
    else publish(table, stageDeltaSnapshot(table, added, posDeleteFiles))
  }

  /** Stage the MoR delta snapshot — the body of [[commitDelta]], shared
    * with [[RestTransaction.stageDelta]]. */
  private def stageDeltaSnapshot(table: IcebergTable,
                                 added: Seq[graft.spark.CowFileOut],
                                 posDeleteFiles: Seq[String]): Snapshot =
    stageSnapshot(table) { (snapId, seq) =>
      SnapshotChanges(if (added.isEmpty) OpDelete else OpOverwrite,
        liveManifests(table),
        Seq(manifestOf(table, "manifest-mor", added.map(addedEntry(table, _, snapId, seq))),
          // Parquet delete files: the footer counts their rows
          manifestOf(table, "manifest-mor-del", posDeleteFiles.map(p =>
            addedEntry(table, CowFileOut(p, 0L, Map.empty), snapId, seq,
              content = DataFileContent.PositionDeletes)))))
    }

  /** Every commit between `sinceSnapshotId` and the current head is a
    * pure append under an unchanged schema — the condition under which a
    * positional-tombstone commit stays valid on the moved base. Walks
    * the parent chain (O(intermediate commits), metadata only). */
  private def appendOnlySince(table: IcebergTable,
                              sinceSnapshotId: Option[Long]): Boolean = {
    val byId = table.metadata.snapshots.map(s => s.snapshotId -> s).toMap
    var cur = table.currentSnapshot
    while (cur.isDefined && cur.map(_.snapshotId) != sinceSnapshotId) {
      val s = cur.get
      if (!s.summary.map(_.operation).contains(OpAppend)) return false
      if (s.schemaId.exists(id => id != table.schema.schemaId)) return false
      cur = s.parentSnapshotId.flatMap(byId.get)
    }
    // chain must actually REACH the scanned snapshot (a rollback or
    // expired lineage means the base is unrecognizable — conflict)
    cur.map(_.snapshotId) == sinceSnapshotId ||
      (cur.isEmpty && sinceSnapshotId.isEmpty)
  }

  /** Copy-on-write commit for row-level operations: atomically swap
    * `removedPaths` for `added` files (each with its partition tuple, as
    * derived row-wise by the task writers) in one OVERWRITE snapshot.
    *
    * Metadata work is O(affected files), not O(table): manifests whose
    * entries reference no removed path carry over BY REFERENCE in the new
    * manifest list (the files on disk are untouched); only manifests that
    * contain a removed file are rewritten — their kept entries become
    * EXISTING with their original sequence numbers, so older positional
    * deletes still apply to them — and the added files get one new
    * manifest. Delete manifests carry over untouched; tombstones
    * referencing removed files are inert (their file_path bounds can't
    * match the new files).
    *
    * The commit is pinned to `table`, the handle the caller computed
    * `removedPaths` from: if anything committed in between (e.g. a MoR
    * DELETE whose tombstones reference a replaced file — which this
    * rewrite would silently undo), the commit fails with
    * [[graft.catalog.CommitConflictError]] instead of losing the
    * concurrent write. A `sortOrder` is registered first and stamped on
    * the added files. */
  def replaceFiles(table: IcebergTable, removedPaths: Set[String],
                   added: Seq[graft.spark.CowFileOut],
                   touchedManifests: Option[Set[String]] = None,
                   sortOrder: Option[SortOrder] = None): IcebergTable =
    replace(table, Some(removedPaths), added, touchedManifests, sortOrder,
      OpOverwrite)

  /** The one replace commit: `removed` = None retires EVERY live data
    * file (overwrite, whole-table compaction). */
  private def replace(table: IcebergTable, removed: Option[Set[String]],
                      added: Seq[graft.spark.CowFileOut],
                      touchedManifests: Option[Set[String]],
                      sortOrder: Option[SortOrder], op: SnapshotOp): IcebergTable = {
    val (target, order) = sortOrder.filterNot(_.isUnsorted) match {
      case Some(o) => registerSortOrder(table, o)
      case None => (table, None)
    }
    val snapshot =
      stageReplaceSnapshot(table, removed, added, touchedManifests, order, op)
    // staged from (and head-pinned to) the caller's handle; lands through
    // the handle the sort-order registration returned
    val (requirements, updates) = snapshotChange(table.metadata, snapshot)
    target.ops.commit(target.metadata, requirements, updates)
  }

  /** How a sorted rewrite registers its order: reuse an IDENTICAL
    * already-registered order's id, else commit `add-sort-order` +
    * `set-default-sort-order(-1)` FIRST, in its own commit, and stamp
    * files with the id the catalog assigned — ids can be reassigned on
    * conflict, and stamping a guessed id that a racing engine's different
    * order ends up owning would let SupportsReportOrdering claim the
    * WRONG ordering for these files. Once registered, an order's id is
    * immutable, so the stamp is safe. Returns the handle after
    * registration and the registered order. */
  private def registerSortOrder(table: IcebergTable, order: SortOrder)
      : (IcebergTable, Option[SortOrder]) = {
    val md = table.metadata
    md.sortOrders.find(_.fields == order.fields) match {
      case Some(existing) =>
        if (md.defaultSortOrderId == existing.orderId) (table, Some(existing))
        else (commitUpdates(table, Seq(SetDefaultSortOrder(existing.orderId))),
          Some(existing))
      case None =>
        val guess = order.copy(orderId =
          (md.sortOrders.map(_.orderId) :+ 0).max + 1)
        val t = commitUpdates(table,
          Seq(AddSortOrder(guess), SetDefaultSortOrder(-1)))
        (t, Some(t.metadata.sortOrders.find(_.fields == order.fields)
          .getOrElse(guess)))
    }
  }

  /** Per-commit V3 row-lineage assignment (spec v3 "Row Lineage"): ADDED
    * data-file entries take `first_row_id` sequentially from the table's
    * `next-row-id`; the snapshot records the base, and committing it
    * (`add-snapshot`) advances `next-row-id` past every added row.
    * Identity below V3.
    *
    * Rewrites ([[compact]] and friends) MATERIALIZE each surviving row's
    * `_row_id`/`_last_updated_sequence_number` into the new files under
    * the spec's reserved field ids, and readers prefer the materialized
    * value — so the fresh `first_row_id` stamped here only reaches rows
    * whose materialized id is null (pre-lineage files), exactly the
    * spec's assignment rule. The id-space gap this leaves (the rewrite's
    * range is mostly unused) is allowed: row ids need not be contiguous. */
  private final case class Lineage(manifests: Seq[(NewManifest, Option[Long])],
                                   snapshotFirstRowId: Option[Long])

  /** Stamps the ADDED data entries of `manifests`, in order; each manifest
    * pairs with the first id it stamped (None when it stamped none). */
  private def assignLineage(md: TableMetadata,
                            manifests: Seq[NewManifest]): Lineage = {
    if (md.formatVersion < 3) return Lineage(manifests.map(_ -> None), None)
    val base = md.nextRowId.getOrElse(0L)
    var cursor = base
    val stamped = manifests.map { m =>
      val first = cursor
      val entries = m.entries.map { e =>
        if (e.dataFile.content == DataFileContent.Data &&
            e.status == ManifestEntryStatus.Added && e.dataFile.firstRowId.isEmpty) {
          val r = e.copy(dataFile = e.dataFile.copy(firstRowId = Some(cursor)))
          cursor += e.dataFile.recordCount
          r
        } else e
      }
      (m.copy(entries = entries), if (cursor > first) Some(first) else None)
    }
    Lineage(stamped, Some(base))
  }

  /** One manifest a staged snapshot writes: `entries` under spec `specId`
    * and its partition type; content 0 holds data files, 1 delete files.
    * `tag` names the file. */
  private final case class NewManifest(tag: String, content: Int, specId: Int,
                                       partType: StructT,
                                       entries: Seq[ManifestEntry])

  /** What one operation's snapshot is made of: the manifests it carries by
    * reference, the ones it writes (its ADDED entries, and rewritten
    * manifests whose removals stay as DELETED entries, see [[retire]]),
    * and the operation's own summary keys. */
  private final case class SnapshotChanges(op: SnapshotOp,
                                           carried: Seq[ManifestFile],
                                           written: Seq[NewManifest],
                                           extraSummary: Map[String, String] = Map.empty)

  /** The one snapshot producer: every commit that adds a snapshot stages it
    * here. It allocates the snapshot id and sequence number and hands them
    * to `body` (DV blobs and delete directories record them before
    * staging), assigns row lineage to the added data entries under
    * `landsOn` (the metadata the commit lands on), writes the non-empty
    * manifests of `body`'s changes and one manifest list over the carried
    * and written manifests, and summarizes the entries it wrote. Pure
    * staging: the returned snapshot is not yet committed. */
  private def stageSnapshot(table: IcebergTable, parent: Option[Snapshot],
                            landsOn: TableMetadata)
                           (body: (Long, Long) => SnapshotChanges): Snapshot = {
    val seq = table.metadata.lastSequenceNumber + 1
    val snapId = System.nanoTime()
    val changes = body(snapId, seq)
    val lineage = assignLineage(landsOn, changes.written)
    val written = lineage.manifests.filter(_._1.entries.nonEmpty).zipWithIndex.map {
      case ((m, firstRowId), i) =>
        writeManifest(table, s"${m.tag}-$snapId-$i", m, snapId, seq, firstRowId)
    }
    val listFile = new File(metadataDir(table), s"snap-$snapId.avro")
    ManifestIO.writeManifestList(listFile, changes.carried ++ written)
    Snapshot(snapId, parent.map(_.snapshotId), seq, System.currentTimeMillis(),
      listFile.getPath,
      Some(SnapshotSummary(changes.op,
        summaryOf(lineage.manifests.flatMap(_._1.entries)) ++ changes.extraSummary)),
      Some(table.schema.schemaId), firstRowId = lineage.snapshotFirstRowId)
  }

  /** [[stageSnapshot]] on main's head, landing on the table's metadata. */
  private def stageSnapshot(table: IcebergTable)
                           (body: (Long, Long) => SnapshotChanges): Snapshot =
    stageSnapshot(table, table.currentSnapshot, table.metadata)(body)

  /** The spec's summary counts of one snapshot, from the entries it wrote:
    * ADDED data and delete files, and DELETED data files. Every key is
    * written, 0 included. `added-records` is what a V3 commit advances
    * `next-row-id` by; streaming admission control reads `added-files-size`
    * for maxBytesPerTrigger without touching manifests. */
  private def summaryOf(entries: Seq[ManifestEntry]): Map[String, String] = {
    def files(status: Int) = entries.filter(_.status == status).map(_.dataFile)
    val (addedData, addedDeletes) =
      files(ManifestEntryStatus.Added).partition(_.content == DataFileContent.Data)
    val deletedData =
      files(ManifestEntryStatus.Deleted).filter(_.content == DataFileContent.Data)
    def records(fs: Seq[DataFileInfo]): Long = fs.map(_.recordCount).sum
    def deletes(content: Int): Long = records(addedDeletes.filter(_.content == content))
    Map(
      "added-data-files" -> addedData.size,
      "added-records" -> records(addedData),
      // a deletion vector counts its blob, not the Puffin container it shares
      "added-files-size" -> (addedData ++ addedDeletes).map(f =>
        if (f.isDeletionVector) f.contentSizeInBytes.get else f.fileSizeInBytes).sum,
      "added-delete-files" -> addedDeletes.size,
      "added-position-deletes" -> deletes(DataFileContent.PositionDeletes),
      "added-equality-deletes" -> deletes(DataFileContent.EqualityDeletes),
      "deleted-data-files" -> deletedData.size,
      "deleted-records" -> records(deletedData)
    ).map { case (k, v) => k -> v.toString }
  }

  /** Manifests whose entries are all DELETED carry no live files — they
    * exist to record removals in the snapshot that made them, and are
    * dropped when the NEXT snapshot's manifest list is assembled (matching
    * Iceberg: delete-recording manifests live exactly one snapshot). Both
    * contents: data manifests emptied by a REPLACE, delete manifests
    * emptied by DV supersede ([[supersedeDeleteEntries]]). */
  private def liveManifests(table: IcebergTable,
                            snapshot: Option[Snapshot]): Seq[ManifestFile] =
    snapshot.toSeq.flatMap(s =>
      ManifestIO.readManifestList(table.io.open(s.manifestList)))
      .filter(m => m.addedFilesCount + m.existingFilesCount > 0)

  private def liveManifests(table: IcebergTable): Seq[ManifestFile] =
    liveManifests(table, table.currentSnapshot)

  /** Stage a replace snapshot: manifests containing replaced paths
    * rewritten under their own spec, untouched manifests carried by
    * reference, added files in one new manifest. `removedPaths` = None
    * replaces EVERY live data file; then no data file predates the
    * snapshot's deletes' targets any more, so every live delete file leaves
    * too, recorded as a DELETED entry of this snapshot. */
  private def stageReplaceSnapshot(table: IcebergTable,
                                   removedPaths: Option[Set[String]],
                                   added: Seq[graft.spark.CowFileOut],
                                   touchedManifests: Option[Set[String]],
                                   sortOrder: Option[SortOrder],
                                   op: SnapshotOp): Snapshot = {
    val isRemoved: String => Boolean = p => removedPaths.forall(_.contains(p))
    val (dataManifests, deleteManifests) =
      liveManifests(table).partition(_.content == 0)
    // scan provenance (when the caller has it) bounds the metadata work to
    // O(affected manifests): only manifests the scan actually read files
    // from can reference a replaced path. Without provenance, one parallel
    // pass over all data manifests finds the affected ones. Untouched
    // manifests are never read past this point and never rewritten.
    val (candidates, skipped) = touchedManifests match {
      case Some(paths) => dataManifests.partition(m => paths.contains(m.path))
      case None => (dataManifests, Nil)
    }
    val withEntries = {
      import scala.collection.parallel.CollectionConverters._
      candidates.par.map { m =>
        m -> ManifestIO.readManifestEntries(table.io.open(m.path), m)
      }.seq.toSeq
    }
    val (touched, untouchedRead) = withEntries.partition { case (_, es) =>
      es.exists(e => isRemoved(e.dataFile.path))
    }
    val untouched = untouchedRead.map(_._1) ++ skipped
    val split = touched.map { case (m, es) =>
      m -> es.partition(e => isRemoved(e.dataFile.path))
    }

    stageSnapshot(table) { (snapId, seq) =>
      // rewritten manifests keep their OWN spec's partition type (specs may
      // have evolved — writing old tuples under the new partition struct
      // would drop their values); the NEXT commit drops all-DELETED ones
      val rewritten = split.map { case (m, (gone, kept)) =>
        NewManifest("manifest-cow", 0, m.partitionSpecId,
          partTypeOf(table, m.partitionSpecId, table.spec.partitionType(table.schema)),
          retire(kept, gone, snapId))
      }
      val (keptDeletes, retiredDeletes) =
        if (removedPaths.isEmpty)
          supersedeDeleteEntries(table, deleteManifests, _ => true, snapId)
        else (deleteManifests, Nil)
      // a sorted rewrite stamps its order so readers can claim per-file
      // ordering (SupportsReportOrdering gates on this exact id)
      SnapshotChanges(op, untouched ++ keptDeletes,
        (rewritten ++ retiredDeletes) :+ manifestOf(table, "manifest-cow", added.map(
          addedEntry(table, _, snapId, seq, sortOrder.fold(0)(_.orderId)))),
        Map("replaced-data-files" ->
          split.map { case (_, (gone, _)) => gone.size }.sum.toString))
    }
  }

  /** Compaction: rewrite the current snapshot's live rows (MoR deletes
    * applied) into `targetFiles` fresh files and commit a REPLACE snapshot.
    * The rewrite is one distributed pass; small-file pressure and delete
    * debt reset to zero.
    *
    * With `where` set, the rewrite is PARTITION-SCOPED (Iceberg's
    * `rewrite_data_files(where => ...)`): only files the scan planner
    * cannot prove disjoint from the predicate are rewritten — whole files,
    * never row-filtered, so the table's row set is unchanged — and the
    * commit rides the O(affected-files) [[replaceFiles]] CoW path instead
    * of a full-table REPLACE. At 100 TB this is the difference between
    * compacting a hot day-partition (touching its handful of manifests)
    * and rewriting the entire table.
    *
    * `minFileSizeBytes` / `deleteFileThreshold` add Iceberg's
    * `rewrite_data_files` binpack SELECTION on top of the scope: only
    * files smaller than the floor, or carrying at least that many delete
    * files, rewrite — already-healthy 512 MB files are left byte-identical
    * instead of being re-copied for nothing. With either knob set the
    * commit always rides the CoW path (selection implies surviving
    * files). Unset (the default) keeps rewrite-everything-in-scope
    * semantics. */
  /** The file set a compaction with these knobs rewrites — shared by
    * [[compact]] and the `CALL compact` procedure's reporting so they can
    * never disagree. Scope first (predicate pruning picks candidates),
    * then binpack selection: a file qualifies when it is smaller than
    * `minFileSizeBytes` OR referenced by at least `deleteFileThreshold`
    * delete files; with neither knob, everything in scope qualifies.
    * Metadata-only (one driver-side plan), commit-path scan (manifest
    * provenance, no remote planning). */
  def compactSelection(table: IcebergTable,
                       where: Option[BooleanExpression],
                       minFileSizeBytes: Option[Long] = None,
                       deleteFileThreshold: Option[Int] = None)
      : Seq[FileScanTask] = {
    val tasks = table.newScan(where.getOrElse(AlwaysTrue),
      remotePlanningOk = false).planFiles()
    if (minFileSizeBytes.isEmpty && deleteFileThreshold.isEmpty) tasks
    else tasks.filter(t =>
      minFileSizeBytes.exists(m => t.file.fileSizeInBytes < m) ||
        deleteFileThreshold.exists(th => t.deleteFiles.size >= th))
  }

  def compact(table: IcebergTable, spark: org.apache.spark.sql.SparkSession,
              targetFiles: Int = 0, sortBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil,
              where: Option[BooleanExpression] = None,
              minFileSizeBytes: Option[Long] = None,
              deleteFileThreshold: Option[Int] = None): IcebergTable = {
    require(sortBy.isEmpty || zOrderBy.isEmpty,
      "compact takes sortBy or zOrderBy, not both")
    // V3 row lineage survives the rewrite (spec: writers must preserve row
    // ids of rows copied from existing files): the scan derives each row's
    // `_row_id`/`_last_updated_sequence_number` (materialized-over-derived
    // precedence, so compacting twice keeps the ORIGINAL ids) and the
    // rewrite MATERIALIZES them as physical columns under the spec's
    // reserved field ids. Readers prefer the materialized value; rows that
    // were null (pre-lineage files) fall back to the new file's fresh
    // first_row_id + position — the spec's assignment for unassigned rows.
    val materializeLineage = table.metadata.formatVersion >= 3 &&
      !table.schema.fields.exists(f =>
        f.name == GraftReaders.RowIdCol || f.name == GraftReaders.LastUpdatedSeqCol)
    // Partition scope: plan with the predicate (partition-tuple +
    // column-metrics pruning pick the file set), then read the SELECTED
    // FILES WHOLE through an unfiltered scan — a file whose metrics merely
    // overlap the predicate still holds non-matching rows that must
    // survive the rewrite, so the predicate never filters rows here.
    val selectionOn = minFileSizeBytes.isDefined || deleteFileThreshold.isDefined
    val scoped: Option[(Set[String], Set[String])] =
      if (where.isEmpty && !selectionOn) None
      else {
        val tasks =
          compactSelection(table, where, minFileSizeBytes, deleteFileThreshold)
        // manifest provenance is all-or-nothing: a partial set would falsely
        // claim the unattributed tasks' manifests reference no selected file
        val mfs = tasks.map(_.manifestPath)
        Some((tasks.map(_.file.path).toSet,
          if (mfs.nonEmpty && mfs.forall(_.nonEmpty)) mfs.toSet
          else Set.empty[String]))
      }
    scoped.foreach { case (paths, _) => if (paths.isEmpty) return table }
    var df = table.newScan().toDF(spark)
    scoped.foreach { case (paths, _) =>
      df = df.filter(col(GraftReaders.FileCol).isin(paths.toSeq: _*))
    }
    if (materializeLineage)
      df = df.select(col("*"), col(GraftReaders.RowIdCol),
        col(GraftReaders.LastUpdatedSeqCol))
    val order = sortOrderFor(table.schema, sortBy)
    if (zOrderBy.nonEmpty) {
      // z-ordered rewrite: range-cluster on the interleaved-bits curve
      // value — ONE range shuffle, per-file bounds tight in EVERY chosen
      // column at once (multi-dimensional pruning; lexicographic sort only
      // prunes on its leading column)
      zOrderBy.foreach(c => require(table.schema.findFieldByName(c).isDefined,
        s"z-order column '$c' not in schema"))
      val zc = graft.spark.functions.ZOrder.zorder(zOrderBy.map(col): _*)
      df = (if (targetFiles > 0) df.repartitionByRange(targetFiles, zc)
            else df.repartitionByRange(zc))
        .sortWithinPartitions(zc)
    } else if (!order.isUnsorted) {
      // sorted rewrite: range-cluster on the sort keys (disjoint per-file
      // bounds → stats pruning) at the requested file count
      val cols = sortBy.map(col)
      df = (if (targetFiles > 0) df.repartitionByRange(targetFiles, cols: _*)
            else df.repartitionByRange(cols: _*))
        .sortWithinPartitions(cols: _*)
    } else if (targetFiles > 0) df = df.repartition(targetFiles)
    val outs = writeDistributed(df,
      new File(table.location, s"data/compact-${java.util.UUID.randomUUID()}"),
      table.schema, table.spec, table.properties, order, preClustered = true)
    scoped match {
      // scoped rewrite: swap exactly the selected files in one OVERWRITE
      // snapshot — manifests without a selected file are carried by
      // reference, untouched partitions' files stay byte-identical
      case Some((selected, manifests)) =>
        replaceFiles(table, selected, outs,
          touchedManifests = Some(manifests).filter(_.nonEmpty),
          sortOrder = Some(order))
      // whole-table rewrite: ONE replace snapshot retires every live file
      case None =>
        replace(table, None, outs, None, Some(order), OpReplace)
    }
  }

  /** Split a dotted column path into (parent struct path, leaf name).
    * Convenience for the string-named evolution entry points; a column
    * whose literal name contains a dot must go through the `Seq[String]`
    * overloads (SQL ALTER TABLE does — Spark hands us the parsed parts). */
  private def splitColPath(name: String): (Seq[String], String) = {
    val parts = name.split('.').toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty), s"bad column path '$name'")
    (parts.init, parts.last)
  }

  /** Resolve a segment path to its field by WALKING struct levels — never
    * the flat name index, which is ambiguous when a literal name contains
    * a dot. */
  private def resolveField(root: StructT, path: Seq[String],
                           what: String): Option[NestedField] = {
    def rec(s: StructT, p: Seq[String]): Option[NestedField] = p match {
      case Seq(leaf) => s.fields.find(_.name == leaf)
      case seg +: rest => s.fields.find(_.name == seg).flatMap(_.fieldType match {
        case st: StructT => rec(st, rest)
        case _ => None
      })
      case _ => None
    }
    require(path.nonEmpty && path.forall(_.nonEmpty), s"$what: empty column path")
    rec(root, path)
  }

  /** Rewrite the struct at dotted `parentPath` (empty = the root struct)
    * with `f`, leaving every other field untouched. Evolution descends
    * STRUCT chains only — list elements / map values have no stable
    * user-facing field *names* to evolve through (Iceberg addresses them as
    * `element`/`value`), so a non-struct segment is refused loudly rather
    * than guessed at. */
  private def rewriteStructAt(root: StructT, parentPath: Seq[String],
                              what: String)(f: StructT => StructT): StructT = {
    def rec(s: StructT, path: Seq[String]): StructT = path match {
      case Seq() => f(s)
      case seg +: rest =>
        val fld = s.fields.find(_.name == seg).getOrElse(
          throw new IllegalArgumentException(
            s"$what: no field '$seg' on the path"))
        fld.fieldType match {
          case st: StructT =>
            StructT(s.fields.map(x =>
              if (x.id == fld.id) x.copy(fieldType = rec(st, rest)) else x))
          case other => throw new UnsupportedOperationException(
            s"$what: '$seg' is ${other.repr}, not a struct — evolution " +
              "through list/map types is not supported")
        }
    }
    rec(root, parentPath)
  }

  /** Schema evolution: add an optional column (new field id above all
    * existing ids). `name` may be a nested path (`a.b.c` adds field `c` to
    * the struct at `a.b`), and `colType` may itself be NESTED (struct/
    * list/map) — every id inside the new subtree is REASSIGNED fresh here
    * (parent before children, Iceberg's assignment order), so callers
    * build nested types with placeholder ids. Existing files stay valid —
    * readers see null for the new column; the scan resolves each
    * snapshot's schema by id. */
  def addColumn(table: IcebergTable, name: String,
                colType: graft.core.IcebergType, doc: Option[String]): IcebergTable = {
    val (parent, leaf) = splitColPath(name)
    addColumnAt(table, parent :+ leaf, colType, doc)
  }

  def addColumn(table: IcebergTable, name: String,
                colType: graft.core.IcebergType): IcebergTable =
    addColumn(table, name, colType, None)

  /** ADD COLUMN with V3 defaults: `initialDefault` is what pre-existing
    * data files read for the column; `writeDefault` fills writes that omit
    * it. Requires a format-version 3 table. */
  def addColumn(table: IcebergTable, name: String,
                colType: graft.core.IcebergType,
                initialDefault: Option[graft.core.Literal],
                writeDefault: Option[graft.core.Literal]): IcebergTable = {
    val (parent, leaf) = splitColPath(name)
    addColumnAt(table, parent :+ leaf, colType, None, initialDefault,
      writeDefault)
  }

  def addColumnAt(table: IcebergTable, path: Seq[String],
                  colType: graft.core.IcebergType,
                  doc: Option[String] = None,
                  initialDefault: Option[graft.core.Literal] = None,
                  writeDefault: Option[graft.core.Literal] = None,
                  required: Boolean = false): IcebergTable = {
    val md = table.metadata
    val (parent, leaf) = (path.init, path.last)
    val name = path.mkString(".")
    require(resolveField(md.currentSchema.struct, path, "ADD COLUMN").isEmpty,
      s"column '$name' exists")
    // column defaults are a V3 feature: stamping them into V1/V2 metadata
    // would be silently ignored by spec-conforming readers
    if (initialDefault.isDefined || writeDefault.isDefined)
      require(md.formatVersion >= 3,
        s"column defaults require format-version 3 (table is V${md.formatVersion}" +
          " — upgradeFormatVersion first)")
    // a required column added after files exist has no value in those files
    // unless initial-default supplies one (V3 spec invariant)
    if (required)
      require(initialDefault.isDefined || md.currentSnapshotId.isEmpty,
        s"cannot add required column '$name' to a non-empty table without " +
          "an initial-default")
    require(initialDefault.isEmpty || colType.isPrimitive,
      s"default values for nested types are not supported: ${colType.repr}")
    // ids for the new subtree must come from last-column-id, which tracks
    // the max ever assigned (an id from a DROPPED column must never be
    // reused — old data files still carry it)
    var nextId = md.lastColumnId
    def alloc(): Int = { nextId += 1; nextId }
    def reassign(t: graft.core.IcebergType): graft.core.IcebergType = t match {
      case s: StructT => StructT(s.fields.map { f =>
        val id = alloc(); f.copy(id = id, fieldType = reassign(f.fieldType))
      })
      case l: graft.core.ListT =>
        val id = alloc(); l.copy(elementId = id, element = reassign(l.element))
      case m: graft.core.MapT =>
        val kid = alloc(); val vid = alloc()
        m.copy(keyId = kid, key = reassign(m.key),
          valueId = vid, value = reassign(m.value))
      case p => p
    }
    val newId = alloc()
    val assigned = reassign(colType)
    val newStruct = rewriteStructAt(md.currentSchema.struct, parent, "ADD COLUMN") { s =>
      require(!s.fields.exists(_.name == leaf), s"column '$name' exists")
      StructT(s.fields :+ NestedField(newId, leaf, assigned, required = required,
        doc, initialDefault = initialDefault, writeDefault = writeDefault))
    }
    commitSchema(table, newStruct, lastColumnId = nextId)
  }

  /** Partition spec evolution: add a partition field (metadata-only; spec
    * history is preserved so manifests written under older specs keep
    * pruning through their own evaluators). Existing data is NOT rewritten —
    * new writes use the new spec, exactly like Iceberg's
    * `ADD PARTITION FIELD`. */
  def addPartitionField(table: IcebergTable, srcCol: String,
                        transform: Transform,
                        name: Option[String] = None): IcebergTable = {
    val md = table.metadata
    val src = md.currentSchema.findFieldByName(srcCol).getOrElse(
      throw new IllegalArgumentException(s"column '$srcCol' not found"))
    val spec = table.spec
    require(!spec.fields.exists(f => f.sourceId == src.id && f.transform == transform),
      s"'$srcCol' is already partitioned by ${transform.repr}")
    val fieldName = name.getOrElse(partName(srcCol, transform))
    require(!spec.fields.exists(_.name == fieldName),
      s"partition field '$fieldName' exists")
    val nextFieldId = (md.partitionSpecs.flatMap(_.fields.map(_.fieldId)) ++
      md.lastPartitionId).maxOption
      .getOrElse(PartitionSpec.PartitionDataIdStart - 1) + 1
    val newSpec = PartitionSpec(
      md.partitionSpecs.map(_.specId).maxOption.getOrElse(-1) + 1,
      spec.fields :+ PartitionField(src.id, nextFieldId, fieldName, transform))
    commitSpec(table, newSpec)
  }

  /** Partition spec evolution: drop a partition field from the default spec
    * (metadata-only). Files written under older specs stay pruned by their
    * own spec; new writes stop partitioning on the dropped field. */
  def dropPartitionField(table: IcebergTable, fieldName: String): IcebergTable = {
    val md = table.metadata
    val spec = table.spec
    require(spec.fields.exists(_.name == fieldName),
      s"partition field '$fieldName' not found in the default spec")
    val newSpec = PartitionSpec(
      md.partitionSpecs.map(_.specId).maxOption.getOrElse(-1) + 1,
      spec.fields.filterNot(_.name == fieldName))
    commitSpec(table, newSpec)
  }

  /** Commit a partition-spec evolution as the spec's `add-spec` +
    * `set-default-spec(-1)` — the catalog owns spec-id assignment on
    * conflict and advances `last-partition-id`. Metadata-only. */
  private def commitSpec(table: IcebergTable, spec: PartitionSpec): IcebergTable =
    commitUpdates(table, Seq(AddPartitionSpec(spec), SetDefaultSpec(-1)))

  /** Schema evolution: rename a top-level column. Field-ID-based resolution
    * makes this safe — the field keeps its id, so data files written under
    * the old name still resolve (readers match parquet columns by field id,
    * SURVEY §1.2), and time travel to pre-rename snapshots projects the old
    * name via that snapshot's schema version. */
  def renameColumn(table: IcebergTable, from: String, to: String): IcebergTable = {
    val (parent, leaf) = splitColPath(from)
    renameColumnAt(table, parent :+ leaf, to)
  }

  def renameColumnAt(table: IcebergTable, path: Seq[String],
                     to: String): IcebergTable = {
    val md = table.metadata
    require(!to.contains('.'), s"new name must be a bare name, got '$to'")
    val (parent, leaf) = (path.init, path.last)
    val f = resolveField(md.currentSchema.struct, path, "RENAME COLUMN").getOrElse(
      throw new IllegalArgumentException(s"column '${path.mkString(".")}' not found"))
    val newStruct = rewriteStructAt(md.currentSchema.struct, parent, "RENAME COLUMN") { s =>
      // collision only matters among SIBLINGS — `a.b.x` and `x` coexist
      require(!s.fields.exists(_.name == to), s"column '$to' exists")
      s.copy(fields = s.fields.map(x =>
        if (x.id == f.id && x.name == leaf) x.copy(name = to) else x))
    }
    commitSchema(table, newStruct, md.lastColumnId)
  }

  /** Schema evolution: drop a top-level column (metadata-only — data files
    * keep the column bytes; current reads never request them, old snapshots
    * still project them through their own schema version). Partition source
    * and identifier columns are protected. */
  def dropColumn(table: IcebergTable, name: String): IcebergTable = {
    val (parent, leaf) = splitColPath(name)
    dropColumnAt(table, parent :+ leaf)
  }

  def dropColumnAt(table: IcebergTable, path: Seq[String]): IcebergTable = {
    val md = table.metadata
    val name = path.mkString(".")
    val f = resolveField(md.currentSchema.struct, path, "DROP COLUMN").getOrElse(
      throw new IllegalArgumentException(s"column '$name' not found"))
    // dropping a struct drops its whole subtree: every id under it must be
    // safe, not just the root's
    val subtree = graft.core.SchemaIndex.subtreeIds(f)
    require(!table.spec.fields.exists(pf => subtree.contains(pf.sourceId)),
      s"column '$name' is a partition source; drop the partition field first")
    require(!md.currentSchema.identifierFieldIds.exists(subtree.contains),
      s"column '$name' is (or contains) an identifier field")
    val (parent, leaf) = (path.init, path.last)
    val newStruct = rewriteStructAt(md.currentSchema.struct, parent, "DROP COLUMN") { s =>
      require(s.fields.size > 1,
        if (parent.isEmpty) "cannot drop the last column"
        else s"cannot drop the last field of struct '${parent.mkString(".")}'")
      s.copy(fields = s.fields.filterNot(x => x.id == f.id && x.name == leaf))
    }
    commitSchema(table, newStruct, md.lastColumnId)
  }

  /** Schema evolution: widen a column's type per the Iceberg promotion
    * rules (int→long, float→double, decimal precision growth at fixed
    * scale). Metadata-only: the field keeps its id, old files keep their
    * old-width values/stats (readers widen both), old snapshots keep their
    * own schema version. */
  def updateColumnType(table: IcebergTable, name: String,
                       to: IcebergType): IcebergTable = {
    val (parent, leaf) = splitColPath(name)
    updateColumnTypeAt(table, parent :+ leaf, to)
  }

  def updateColumnTypeAt(table: IcebergTable, path: Seq[String],
                         to: IcebergType): IcebergTable = {
    val md = table.metadata
    val name = path.mkString(".")
    val f = resolveField(md.currentSchema.struct, path, "ALTER COLUMN TYPE").getOrElse(
      throw new IllegalArgumentException(s"column '$name' not found"))
    val ok = (f.fieldType, to) match {
      case (a, b) if a == b => true
      case (IntT, LongT) => true
      case (FloatT, DoubleT) => true
      case (DecimalT(p, s), DecimalT(p2, s2)) => s2 == s && p2 >= p
      case _ => false
    }
    require(ok, s"cannot promote ${f.fieldType.repr} to ${to.repr} " +
      "(allowed: int->long, float->double, decimal precision growth)")
    if (f.fieldType == to) return table
    val (parent, leaf) = (path.init, path.last)
    val newStruct = rewriteStructAt(md.currentSchema.struct, parent,
        "ALTER COLUMN TYPE") { s =>
      s.copy(fields = s.fields.map(x =>
        if (x.id == f.id && x.name == leaf) x.copy(fieldType = to) else x))
    }
    commitSchema(table, newStruct, md.lastColumnId)
  }

  /** Shared ALTER COLUMN plumbing: resolve `path`, apply `change` to the
    * field, bump to a fresh schema id (max + 1 — immune to current-id
    * regressions), and commit the metadata-only schema evolution. */
  private def rewriteFieldMetadata(table: IcebergTable, path: Seq[String],
                                   op: String)
                                  (change: NestedField => NestedField)
      : IcebergTable = {
    val md = table.metadata
    val f = resolveField(md.currentSchema.struct, path, op).getOrElse(
      throw new IllegalArgumentException(
        s"column '${path.mkString(".")}' not found"))
    val (parent, leaf) = (path.init, path.last)
    val newStruct = rewriteStructAt(md.currentSchema.struct, parent, op) { st =>
      st.copy(fields = st.fields.map(x =>
        if (x.id == f.id && x.name == leaf) change(x) else x))
    }
    commitSchema(table, newStruct, md.lastColumnId)
  }

  /** Commit `struct` as a new current schema (id max + 1 — immune to
    * current-id regressions) via the spec's `add-schema` +
    * `set-current-schema(-1)`, guarded by `assert-current-schema-id` so two
    * racing evolutions based on the same schema cannot both land.
    * Metadata-only. */
  private def commitSchema(table: IcebergTable, struct: StructT,
                           lastColumnId: Int): IcebergTable = {
    val md = table.metadata
    val schema = Schema(md.schemas.map(_.schemaId).max + 1, struct,
      md.currentSchema.identifierFieldIds)
    table.ops.commit(md,
      Seq(AssertTableUuid(md.tableUuid), AssertCurrentSchemaId(md.currentSchemaId)),
      Seq(AddSchema(schema, Some(lastColumnId)), SetCurrentSchema(-1)))
  }

  /** Resolve a column path to its Iceberg type (DDL plumbing). */
  def resolveFieldType(table: IcebergTable,
                       path: Seq[String]): graft.core.IcebergType =
    resolveField(table.metadata.currentSchema.struct, path, "ALTER COLUMN")
      .getOrElse(throw new IllegalArgumentException(
        s"column '${path.mkString(".")}' not found")).fieldType

  /** ALTER COLUMN COMMENT: metadata-only doc update (new schema version,
    * same field ids). */
  def updateColumnCommentAt(table: IcebergTable, path: Seq[String],
                            comment: Option[String]): IcebergTable =
    rewriteFieldMetadata(table, path, "ALTER COLUMN COMMENT")(
      _.copy(doc = comment))

  /** ALTER COLUMN DROP NOT NULL (required → optional — always legal per
    * the Iceberg spec). The WIDENING direction (optional → required) is
    * refused: proving no nulls exist takes a data scan, and a wrong
    * promise turns every subsequent read into undefined behavior. */
  def updateColumnNullabilityAt(table: IcebergTable, path: Seq[String],
                                nullable: Boolean): IcebergTable = {
    val md = table.metadata
    val f = resolveField(md.currentSchema.struct, path, "ALTER COLUMN NULL")
      .getOrElse(throw new IllegalArgumentException(
        s"column '${path.mkString(".")}' not found"))
    if (!nullable && !f.required)
      throw new UnsupportedOperationException(
        s"cannot make optional column '${path.mkString(".")}' required: " +
          "existing data may hold nulls (Iceberg only allows " +
          "required -> optional)")
    if (f.required == !nullable) return table
    rewriteFieldMetadata(table, path, "ALTER COLUMN NULL")(
      _.copy(required = !nullable))
  }

  /** ALTER COLUMN SET/DROP DEFAULT: changes only the `write-default` —
    * per the V3 spec, `initial-default` is immutable once set (it defines
    * what pre-existing files read and must never drift). V3-only. */
  def updateColumnDefaultAt(table: IcebergTable, path: Seq[String],
                            writeDefault: Option[graft.core.Literal])
      : IcebergTable = {
    val md = table.metadata
    require(md.formatVersion >= 3 || writeDefault.isEmpty,
      s"column defaults require format-version 3 (table is V${md.formatVersion})")
    val name = path.mkString(".")
    val f = resolveField(md.currentSchema.struct, path, "ALTER COLUMN DEFAULT")
      .getOrElse(throw new IllegalArgumentException(s"column '$name' not found"))
    require(writeDefault.isEmpty || f.fieldType.isPrimitive,
      s"default values for nested types are not supported: ${f.fieldType.repr}")
    rewriteFieldMetadata(table, path, "ALTER COLUMN DEFAULT")(
      _.copy(writeDefault = writeDefault))
  }

  /** Metadata-only property update (SET/UNSET TBLPROPERTIES). */
  def updateProperties(table: IcebergTable, set: Map[String, String],
                       unset: Seq[String] = Nil): IcebergTable =
    commitUpdates(table, propertyUpdates(set, unset))

  private def propertyUpdates(set: Map[String, String],
                              unset: Seq[String]): Seq[TableUpdate] =
    Seq(SetProperties(set)).filter(_ => set.nonEmpty) ++
      Seq(RemoveProperties(unset)).filter(_ => unset.nonEmpty)

  /** Roll `main` back to an earlier snapshot (metadata-only): the current
    * pointer moves, history is preserved, rolled-back snapshots stay
    * reachable by id until expired. */
  /** Coalesce the current snapshot's data manifests into size-targeted
    * ones (`commit.manifest.target-size-bytes`, default 8 MB) — a
    * METADATA-only commit: no data file moves, the plan-time manifest walk
    * just gets fewer, larger Avro files to open. Entries keep their
    * explicit snapshot/sequence provenance (no inheritance is lost) and
    * group per partition spec so tuples stay under their own partition
    * type. Delete manifests are carried as-is. The new snapshot is a
    * REPLACE, invisible to changelog readers. */
  /** Coalesce the current snapshot's positional delete files into a
    * BOUNDED set of sorted files, dropping dangling tombstones (rows
    * pointing at data files no longer live — left behind by
    * compactions/CoW rewrites). MoR read cost is O(delete files) per scan
    * group, so a table that has absorbed many small DELETEs reads
    * measurably faster after this.
    *
    * Output is bin-packed to `write.target-file-size-bytes`: surviving
    * tombstones are range-partitioned on (file_path, pos) into
    * ceil(liveBytes / target) disjoint, individually-sorted files — every
    * file writes from its own executor task, so a delete-heavy table
    * never funnels all tombstones through one task (the old `coalesce(1)`
    * shape). Disjoint sorted ranges preserve the per-file (path, pos)
    * ordering and path bounds that delete matching prunes on.
    *
    * Equality-delete entries keep their partition tuples: manifests that
    * hold only eq-deletes are carried into the new manifest list AS-IS
    * (original spec id + partition type intact); eq entries living in
    * mixed manifests are rewritten grouped per original spec with the
    * spec's partition type, so a spec-compliant external reader never
    * sees a partition-scoped eq delete widened to global scope.
    *
    * Sequence safety: the merged files commit at the next sequence
    * number, which covers every data file the originals covered (pos
    * tombstones address (path, pos) — files committed later have new
    * paths, so the wider range cannot over-delete). */
  /** Dangling-tombstone filter as a LEFT SEMI join against a live-paths
    * dataset, never an In-literal: a 100 TB table has 200k+ live files
    * (millions when small-filed), and inlining each path as a literal
    * would bloat the serialized plan of every task and the driver that
    * builds it. As a join the path set ships once (AQE broadcasts it
    * when it fits — it is metadata-sized, O(file count)), and the
    * tombstone side streams through distributed. */
  private[spark] def filterLiveTombstones(
      tombstones: org.apache.spark.sql.DataFrame, livePaths: Seq[String],
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val liveDf = livePaths.toDF("live_path")
    tombstones.join(liveDf, col("file_path") === col("live_path"), "left_semi")
  }

  def rewritePositionDeletes(table: IcebergTable,
                             spark: org.apache.spark.sql.SparkSession)
      : (IcebergTable, Int, Int) = {
    val md = table.metadata
    val snap = table.currentSnapshot.getOrElse(return (table, 0, 0))
    val manifests = ManifestIO.readManifestList(table.io.open(snap.manifestList))
    val deleteManifests = manifests.filter(_.content == 1)
    val manifestEntries = deleteManifests.map(m =>
      m -> ManifestIO.readManifestEntries(table.io.open(m.path), m))
    // V3 deletion vectors are PositionDeletes by content but NOT parquet —
    // they consolidate via rewriteDeletionVectors, never through this
    // parquet merge (reading a Puffin container as parquet would throw)
    val posFiles = manifestEntries.flatMap(_._2)
      .filter(e => e.dataFile.content == DataFileContent.PositionDeletes &&
        !e.dataFile.isDeletionVector)
    if (posFiles.isEmpty) return (table, 0, 0)
    // Manifests with no parquet pos-delete entry (eq-only, DV-only, mixed
    // eq+DV) ride along untouched (tuples + spec preserved); only manifests
    // containing at least one parquet pos-delete entry rewrite.
    val (eqOnlyManifests, mixedManifests) = manifestEntries.partition {
      case (_, es) => es.nonEmpty &&
        es.forall(e => e.dataFile.content == DataFileContent.EqualityDeletes ||
          e.dataFile.isDeletionVector)
    }
    val eqEntries = mixedManifests.flatMap { case (m, es) =>
      es.filter(_.dataFile.content == DataFileContent.EqualityDeletes)
        .map(m.partitionSpecId -> _)
    }
    // DV entries rescued from mixed manifests: their own manifest (DVs
    // carry no partition tuple — summaries stay Nil, planner keeps it)
    val dvRescued = mixedManifests.flatMap(_._2)
      .filter(_.dataFile.isDeletionVector)
      .map(_.copy(status = ManifestEntryStatus.Existing))

    // a DV-covered file's parquet tombstones are reader-ignored (their
    // positions were merged into the DV when it was created) — dropping
    // them here is exact, like danglers
    val liveTasks = table.newScan().planFiles()
    val livePaths = liveTasks.filter(!_.deleteFiles.exists(_.isDeletionVector))
      .map(_.file.path).toSet
    import org.apache.spark.sql.functions.col
    val targetBytes = GraftCowWriterFactory.targetFileBytes(md.properties)
    // Upper bound on surviving bytes: the inputs (danglers only shrink it).
    val liveBytesUb = posFiles.map(_.dataFile.fileSizeInBytes).sum
    val outFiles = math.max(1,
      math.ceil(liveBytesUb.toDouble / targetBytes).toInt)
    val merged = filterLiveTombstones(
        tombstonesOf(spark, posFiles.map(_.dataFile.path).distinct),
        livePaths.toSeq.map(tombstonePath), spark)
      .repartitionByRange(outFiles, col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")

    val snapshot = stageSnapshot(table) { (snapId, seq) =>
      val mergedFiles = writeDeleteFiles(merged,
        new File(table.location, s"data/deletes-rw-$snapId"), DeleteMatching.PositionalDeleteSchema)
      // Eq entries rescued from mixed manifests: one manifest per original
      // spec, partition type preserved so tuples survive the rewrite.
      val eqManifests = eqEntries.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (specId, tagged) =>
          NewManifest("manifest-del-rw-eq", 1, specId,
            partTypeOf(table, specId, StructT(Nil)),
            retire(tagged.map(_._2), Nil, snapId))
      }
      SnapshotChanges(OpReplace,
        manifests.filter(_.content == 0) ++ eqOnlyManifests.map(_._1),
        // the merged files replace the rewritten ones, which stay as
        // DELETED entries of the same manifest
        (manifestOf(table, "manifest-del-rw",
          mergedFiles.map(addedEntry(table, _, snapId, seq,
            content = DataFileContent.PositionDeletes)) ++
            retire(Nil, posFiles, snapId)) +:
          eqManifests) :+ manifestOf(table, "manifest-del-rw-dv", dvRescued),
        Map("delete-files-rewritten" -> posFiles.size.toString,
          "delete-files-created" -> mergedFiles.size.toString))
    }
    (publish(table, snapshot), posFiles.size,
      snapshot.summary.get.properties("delete-files-created").toInt)
  }

  def rewriteManifests(table: IcebergTable): IcebergTable = {
    val md = table.metadata
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"${table.location} has no snapshot"))
    val targetBytes = md.properties.get("commit.manifest.target-size-bytes")
      .flatMap(_.toLongOption).getOrElse(8L * 1024 * 1024)
    val manifests = ManifestIO.readManifestList(table.io.open(snap.manifestList))
    val (dataManifests, deleteManifests) = manifests.partition(_.content == 0)
    if (dataManifests.size <= 1) return table

    val bySpec = dataManifests.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
    val rewritten = bySpec.flatMap { case (specId, ms) =>
      val entries = {
        import scala.collection.parallel.CollectionConverters._
        ms.sortBy(_.path).par.map { m =>
          ManifestIO.readManifestEntries(table.io.open(m.path), m)
            .map(_.copy(status = ManifestEntryStatus.Existing))
        }.seq.flatten
      }
      if (entries.isEmpty) Nil
      else {
        val partType = partTypeOf(table, specId,
          table.spec.partitionType(table.schema))
        val totalBytes = ms.map(_.length).sum
        val groups = math.max(1, math.min(entries.size,
          math.ceil(totalBytes.toDouble / targetBytes).toInt))
        val perGroup = math.ceil(entries.size.toDouble / groups).toInt
        entries.grouped(perGroup).map(es =>
          NewManifest("manifest-rw", 0, specId, partType, es)).toSeq
      }
    }
    publish(table, stageSnapshot(table) { (_, _) =>
      SnapshotChanges(OpReplace, deleteManifests, rewritten,
        Map("manifests-rewritten" -> dataManifests.size.toString,
          "manifests-created" -> rewritten.size.toString))
    })
  }

  def rollbackTo(table: IcebergTable, snapshotId: Long): IcebergTable = {
    val md = table.metadata
    require(md.snapshotById(snapshotId).isDefined, s"snapshot $snapshotId not found")
    // head-pinned: a commit between load and rollback conflicts instead of
    // being silently undone
    table.ops.commit(md, headGuard(md), Seq(setRefUpdate(md, MainBranch, snapshotId)))
  }

  /** The effect of one expiry pass over `md0` at time `now`: the refs that
    * aged out, and the snapshot partition into kept/expired. */
  private[spark] final case class ExpiryPlan(agedOutRefs: Set[String],
                                             kept: Seq[Snapshot],
                                             expired: Seq[Snapshot])

  /** Expire snapshots older than `olderThanMs`, always retaining the
    * current snapshot, the newest `retainLast`, and every ref target —
    * landed as `remove-snapshot-ref` + `remove-snapshots` updates pinned
    * to main's head, so a concurrent commit conflicts instead of this pass
    * expiring history computed against a stale snapshot set. With
    * `deleteFiles` the data/manifest files reachable ONLY from expired
    * snapshots are removed from disk — only AFTER the commit landed, so a
    * conflict leaves every file of the still-live history intact. */
  def expireSnapshots(table: IcebergTable, olderThanMs: Long,
                      retainLast: Int = 1,
                      deleteFiles: Boolean = false): IcebergTable = {
    val md = table.metadata
    val plan = computeExpiry(md, olderThanMs, retainLast,
      System.currentTimeMillis())
    if (plan.expired.isEmpty && plan.agedOutRefs.isEmpty) return table
    val committed = table.ops.commit(md, headGuard(md),
      plan.agedOutRefs.toSeq.sorted.map(RemoveSnapshotRef(_)) ++
        Seq(RemoveSnapshots(plan.expired.map(_.snapshotId)))
          .filter(_ => plan.expired.nonEmpty))
    if (deleteFiles && plan.expired.nonEmpty)
      deleteExpiredFiles(table, plan.kept, plan.expired)
    committed
  }

  /** Remove from disk every file reachable ONLY from `expired` snapshots.
    * liveOnly on the kept side: a DELETED-status entry in a retained
    * snapshot records a file some RETAINED-or-expired parent held; if no
    * retained snapshot holds it LIVE, the file is unreachable and must go.
    * The expired side keeps deleted entries so tombstone-recorded files
    * are swept. */
  private def deleteExpiredFiles(table: IcebergTable, kept: Seq[Snapshot],
                                 expired: Seq[Snapshot]): Unit = {
    val live = reachablePaths(table, kept, liveOnly = true)
    (reachablePaths(table, expired) -- live).foreach(p => new File(p).delete())
  }

  /** The shared expiry computation (see [[ExpiryPlan]]). */
  private[spark] def computeExpiry(md0: TableMetadata, olderThanMs: Long,
                                   retainLast: Int, now: Long): ExpiryPlan = {
    // ref aging first (Iceberg `max-ref-age-ms`): a branch/tag whose HEAD
    // snapshot is older than its retention window is dropped, so the
    // snapshots it pinned become expirable below. Main never ages out.
    val agedOut = md0.refs.filter { case (name, r) =>
      name != TableMetadata.MainBranch &&
        r.maxRefAgeMs.exists(maxAge =>
          md0.snapshotById(r.snapshotId).exists(now - _.timestampMs > maxAge))
    }.keySet
    val md = md0.copy(refs = md0.refs -- agedOut)
    // Per-branch retention (Iceberg `expire_snapshots` semantics): each
    // branch retains its newest `min-snapshots-to-keep` ancestors plus all
    // ancestors newer than `now - max-snapshot-age-ms`; an unset field
    // falls back to the caller's global args (retainLast / olderThanMs).
    // A branch declaring NEITHER field keeps its whole UNPUBLISHED
    // lineage: fast_forward walks the parent chain to the main ancestor,
    // so expiring an intermediate snapshot would leave such a branch
    // permanently unpublishable — declaring a retention policy is the
    // branch owner's opt-in to trimming that lineage. A snapshot is
    // expirable only when NO branch's policy retains it; snapshots in no
    // branch's ancestry (orphaned heads) are governed by the global
    // `olderThanMs` alone.
    def ancestry(headId: Long): List[Snapshot] = {
      val b = List.newBuilder[Snapshot]
      var cur = md.snapshotById(headId)
      while (cur.isDefined) {
        b += cur.get
        cur = cur.get.parentSnapshotId.flatMap(md.snapshotById)
      }
      b.result()
    }
    val mainAncestry: Set[Long] = md.currentSnapshotId
      .map(ancestry(_).map(_.snapshotId).toSet).getOrElse(Set.empty)
    val branchRefs = md.refs.filter(_._2.refType == BranchRef)
    // one ancestry walk per branch, shared by the retention computation
    // and the referenced set
    val branchAncestry: Map[String, List[Snapshot]] =
      branchRefs.map { case (name, r) => name -> ancestry(r.snapshotId) }
    val retainedByBranch: Set[Long] = branchRefs.flatMap { case (name, r) =>
      val anc = branchAncestry(name)
      val hasPolicy =
        r.minSnapshotsToKeep.isDefined || r.maxSnapshotAgeMs.isDefined
      if (name == TableMetadata.MainBranch || hasPolicy) {
        val minKeep = math.max(1, r.minSnapshotsToKeep.getOrElse(
          if (name == TableMetadata.MainBranch) retainLast else 1))
        val cutoff = r.maxSnapshotAgeMs.map(now - _).getOrElse(olderThanMs)
        anc.zipWithIndex.collect {
          case (s, i) if i < minKeep || s.timestampMs >= cutoff => s.snapshotId
        }
      } else {
        anc.iterator.map(_.snapshotId)
          .takeWhile(id => !mainAncestry.contains(id)).toSeq
      }
    }.toSet
    val referenced: Set[Long] =
      branchAncestry.values.flatten.map(_.snapshotId).toSet
    val keepIds: Set[Long] =
      md.currentSnapshotId.toSet ++
        md.refs.values.map(_.snapshotId) ++
        retainedByBranch ++
        md.snapshots.sortBy(-_.timestampMs).take(math.max(1, retainLast))
          .map(_.snapshotId)
    val (kept, expired) = md.snapshots.partition(s =>
      keepIds.contains(s.snapshotId) ||
        (!referenced.contains(s.snapshotId) && s.timestampMs >= olderThanMs))
    ExpiryPlan(agedOut, kept, expired)
  }

  /** Every path the given snapshots reference: manifest lists, manifests,
    * data/delete files. Parallel driver I/O, each distinct manifest read
    * once even when many snapshots share it. */
  private def reachablePaths(table: IcebergTable, snaps: Seq[Snapshot],
                             liveOnly: Boolean = false): Set[String] = {
    import scala.collection.parallel.CollectionConverters._
    val lists = snaps.map(_.manifestList).distinct
    val manifests = lists.par.flatMap(l =>
      ManifestIO.readManifestList(table.io.open(l))).seq.distinctBy(_.path)
    val dataPaths = manifests.par.flatMap(m =>
      ManifestIO.readManifestEntries(table.io.open(m.path), m,
        discardDeleted = liveOnly).map(_.dataFile.path)).seq
    (lists ++ manifests.map(_.path) ++ dataPaths).toSet
  }

  /** Garbage-collect files under the table location that NO snapshot
    * references (failed writes, aborted commits, files from a crashed
    * driver) and that are older than `olderThanMs` — the grace period
    * protects files written by in-flight commits whose metadata isn't
    * visible yet. Metadata JSONs and the version hint are always kept.
    * Returns (files removed, bytes reclaimed). */
  def removeOrphanFiles(table: IcebergTable, olderThanMs: Long): (Int, Long) = {
    val norm = (p: String) => p.stripPrefix("file:")
    val live = reachablePaths(table, table.metadata.snapshots).map(norm)
    def walk(dir: File): Seq[File] = {
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
      fs.filter(_.isFile).toSeq ++ fs.filter(_.isDirectory).flatMap(walk)
    }
    // hidden files (.crc sidecars, _SUCCESS markers) are infrastructure,
    // not data — excluded like Iceberg's hidden-path filter
    val candidates = (walk(new File(table.location, "data")) ++
      Option(new File(table.location, "metadata").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".avro")))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val orphans = candidates.filter(f =>
      !live.contains(norm(f.getPath)) && f.lastModified() < olderThanMs)
    val bytes = orphans.map(_.length()).sum
    orphans.foreach(_.delete())
    (orphans.size, bytes)
  }

  /** Stage an APPEND snapshot for already-written data files: footer stats
    * + task-side NaN counts, one new manifest, the parent's manifests
    * carried by reference. */
  private def stageAppendSnapshot(table: IcebergTable,
                                  added: Seq[graft.spark.CowFileOut],
                                  extraSummary: Map[String, String],
                                  sortOrderId: Int = 0,
                                  parentOverride: Option[Snapshot] = None)
      : Snapshot = {
    val parent = parentOverride.orElse(table.currentSnapshot)
    stageSnapshot(table, parent, table.metadata) { (snapId, seq) =>
      SnapshotChanges(OpAppend, liveManifests(table, parent),
        Seq(manifestOf(table, "manifest", added.sortBy(_.path)
          .map(addedEntry(table, _, snapId, seq, sortOrderId)))),
        extraSummary)
    }
  }

  /** Commit an APPEND snapshot of already-written data files (the
    * streaming sink's per-epoch commit, `add_files`, and every DataFrame
    * append): to main, or — with `branch` — to that branch only (WAP
    * staging). The snapshot stages against the plane's append base
    * ([[TableOperations.appendBase]]). */
  def appendFiles(table: IcebergTable, added: Seq[graft.spark.CowFileOut],
                  extraSummary: Map[String, String] = Map.empty,
                  branch: Option[String] = None): IcebergTable = {
    val base = table.ops.appendBase(table)
    branch.filter(_ != MainBranch) match {
      case Some(b) => commitToBranch(base, added, b, extraSummary)
      case None => publish(base, stageAppendSnapshot(base, added, extraSummary))
    }
  }

  /** [[appendFiles]] against the latest state of the table at `location`. */
  def appendFiles(location: String, added: Seq[graft.spark.CowFileOut]): IcebergTable =
    appendFiles(IcebergTables.load(location), added)

  /** Staged append (WAP): the snapshot forks from the branch head (or
    * main, for a new branch) and ONLY the branch ref moves — main, the
    * snapshot log and the current snapshot are published state. Pinned to
    * the branch's head, so concurrent commits to the branch conflict. */
  private def commitToBranch(table: IcebergTable,
                             added: Seq[graft.spark.CowFileOut], branch: String,
                             extraSummary: Map[String, String]): IcebergTable = {
    val md = table.metadata
    val parent = md.refs.get(branch) match {
      case Some(r) =>
        require(r.refType == BranchRef, s"ref '$branch' is a tag, not a branch")
        md.snapshotById(r.snapshotId)
      case None => table.currentSnapshot
    }
    val snapshot = stageAppendSnapshot(table, added,
      extraSummary + ("branch" -> branch), parentOverride = parent)
    table.ops.commit(md, headGuard(md, branch),
      Seq(AddSnapshot(snapshot), setRefUpdate(md, branch, snapshot.snapshotId)))
  }

  /** Write-audit-publish: append `df` to a BRANCH — the snapshot forks
    * from the branch head (or main, for a new branch), only the branch ref
    * moves; main and every reader of it are untouched until
    * [[fastForward]] publishes. Same distributed write + staging as a
    * main-line append. */
  def appendToBranch(table: IcebergTable, df: DataFrame,
                     branch: String): IcebergTable = {
    require(branch != MainBranch, "use append() for the main branch")
    appendFiles(table, writeData(table, df), branch = Some(branch))
  }

  /** Stage-commit WAP (Iceberg's `spark.wap.id` flavor): append `df` as a
    * snapshot OUTSIDE every ref's lineage — it forks from the current main
    * head and its summary carries `wap.id`, but NO ref moves, so every
    * reader (main, branches, tags) is untouched. Audit via
    * `VERSION AS OF <snapshot_id>` or the snapshots metadata table
    * filtered on `wap.id`; publish with [[cherrypickSnapshot]], which
    * re-commits the staged files at the then-current head (so publish
    * works whether or not main moved — unlike a branch fast-forward).
    * A wap id that was already staged or published is refused (Iceberg's
    * duplicate-WAP guard). Staged-and-never-published snapshots age out
    * through [[expireSnapshots]] like any unreferenced snapshot. */
  def stageWapAppend(table: IcebergTable, df: DataFrame,
                     wapId: String): IcebergTable = {
    require(wapId.trim.nonEmpty, "wap id must be non-empty")
    val dup = table.metadata.snapshots.find(_.summary.exists(s =>
      s.properties.get("wap.id").contains(wapId) ||
        s.properties.get("published-wap-id").contains(wapId)))
    require(dup.isEmpty,
      s"wap.id '$wapId' was already staged or published " +
        s"(snapshot ${dup.map(_.snapshotId).getOrElse(-1L)})")
    val outs = writeData(table, df)
    val base = table.ops.appendBase(table)
    // deliberately NO ref / current-snapshot / snapshot-log change: the
    // stage is invisible until cherrypickSnapshot publishes it
    commitUpdates(base,
      Seq(AddSnapshot(stageAppendSnapshot(base, outs, Map("wap.id" -> wapId)))))
  }

  /** Publish a branch: fast-forward `toRef` onto main. Requires main's
    * head to be an ancestor of the branch head (pure fast-forward — no
    * merge semantics), which also makes the move safe for readers: every
    * main row survives on the branch unless a branch commit removed it.
    * Pinned to both the branch head and main's head. */
  def fastForward(table: IcebergTable, branch: String): IcebergTable = {
    val md = table.metadata
    val ref = md.refs.getOrElse(branch,
      throw new IllegalArgumentException(s"ref '$branch' not found"))
    val head = md.snapshotById(ref.snapshotId).getOrElse(
      throw new IllegalStateException(s"branch '$branch' head missing"))
    val mainHead = md.currentSnapshotId
    // ancestry walk: branch head → parents must pass through main's head
    @annotation.tailrec
    def isAncestor(of: Option[Long]): Boolean = of match {
      case None => mainHead.isEmpty
      case Some(id) if mainHead.contains(id) => true
      case Some(id) => isAncestor(md.snapshotById(id).flatMap(_.parentSnapshotId))
    }
    require(isAncestor(Some(head.snapshotId)),
      s"main is not an ancestor of '$branch' — cannot fast-forward")
    table.ops.commit(md,
      headGuard(md) :+ AssertRefSnapshotId(branch, Some(head.snapshotId)),
      Seq(setRefUpdate(md, MainBranch, head.snapshotId)))
  }

  /** Cherry-pick an APPEND snapshot onto the current main head (Iceberg's
    * `cherrypick_snapshot`): the snapshot's added data files are
    * re-committed as a NEW append at the head — the publish path for a WAP
    * branch commit when main has MOVED since the branch forked
    * ([[fastForward]]'s ancestry guard rejects exactly that case).
    *
    * Only append snapshots are re-applied: an append commutes with any
    * interleaved commit (its rows carry the new, highest sequence number,
    * so older deletes can't silently apply to them), while replays of
    * overwrites/deletes could resurrect or re-kill rows they never saw.
    * Re-publishing is metadata-only — the source manifests' ADDED entries
    * are rewritten (per their ORIGINAL spec) with the new snapshot's
    * sequence number; the data files are referenced in place. */
  def cherrypickSnapshot(table: IcebergTable, snapshotId: Long): IcebergTable =
    publish(table, stageCherrypick(table, snapshotId))

  /** The staging body of [[cherrypickSnapshot]] (re-written manifests +
    * manifest list on disk, no metadata commit). */
  private def stageCherrypick(table: IcebergTable,
                              snapshotId: Long): Snapshot = {
    val md = table.metadata
    val snap = md.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"snapshot $snapshotId not found"))
    require(snap.summary.exists(_.operation == OpAppend),
      s"only append snapshots can be cherry-picked; $snapshotId is " +
        snap.summary.map(_.operation.repr).getOrElse("unknown"))
    // already-published guard: if the snapshot is an ancestor of main's
    // head — or a previous cherry-pick of it is (summary provenance) —
    // re-applying it would duplicate its rows
    @annotation.tailrec
    def published(of: Option[Long]): Boolean = of match {
      case None => false
      case Some(id) if id == snapshotId => true
      case Some(id) =>
        val s = md.snapshotById(id)
        if (s.exists(_.summary.exists(_.properties.get("source-snapshot-id")
            .contains(snapshotId.toString)))) true
        else published(s.flatMap(_.parentSnapshotId))
    }
    require(!published(md.currentSnapshotId),
      s"snapshot $snapshotId is already published in main's lineage")

    val parentManifestPaths = snap.parentSnapshotId.flatMap(md.snapshotById)
      .toSeq.flatMap(p => ManifestIO.readManifestList(table.io.open(p.manifestList)))
      .map(_.path).toSet
    val addedManifests = ManifestIO.readManifestList(table.io.open(snap.manifestList))
      .filterNot(m => parentManifestPaths.contains(m.path))
    require(addedManifests.forall(_.content == 0),
      s"snapshot $snapshotId added delete manifests — not cherry-pickable")

    val picked = addedManifests.map(m => m ->
      ManifestIO.readManifestEntries(table.io.open(m.path), m)
        .filter(e => e.status == ManifestEntryStatus.Added &&
          e.snapshotId.contains(snap.snapshotId)).map(_.dataFile))
    stageSnapshot(table) { (snapId, seq) =>
      SnapshotChanges(OpAppend, liveManifests(table),
        picked.map { case (m, files) =>
          NewManifest("manifest-pick", 0, m.partitionSpecId,
            partTypeOf(table, m.partitionSpecId, table.spec.partitionType(table.schema)),
            files.map(addedFile(_, snapId, seq)))
        },
        Map("source-snapshot-id" -> snapshotId.toString)
          // publishing a WAP stage stamps its id, so the duplicate-WAP
          // guard holds even after the staged snapshot itself is expired
          ++ snap.summary.flatMap(_.properties.get("wap.id"))
            .map("published-wap-id" -> _))
    }
  }

  /** Import EXISTING parquet files into the table without rewriting them
    * (Iceberg's `add_files` migration path): footer-derived per-column
    * stats go into a new APPEND snapshot's manifest; hive-style `k=v`
    * path segments map to identity partition values. The files are
    * referenced in place — id-less footers are fine, the read path
    * resolves them by name. */
  def addFiles(table: IcebergTable, sourceDir: String): IcebergTable = {
    def walk(f: File): Seq[File] = {
      val fs = Option(f.listFiles()).getOrElse(Array.empty)
      fs.filter(x => x.isFile && x.getName.endsWith(".parquet") &&
        !x.getName.startsWith(".") && !x.getName.startsWith("_")).toSeq ++
        fs.filter(_.isDirectory).flatMap(walk)
    }
    val files = walk(new File(sourceDir)).sortBy(_.getPath)
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    val identityFields = table.spec.fields.collect {
      case pf if pf.transform == IdentityTransform =>
        pf.name -> table.schema.findFieldById(pf.sourceId).get
    }.toMap
    def partitionOf(f: File): Map[String, Any] = {
      val segs = f.getPath.stripPrefix(sourceDir).split('/').filter(_.contains('='))
      segs.flatMap { seg =>
        val Array(k, v) = seg.split("=", 2)
        identityFields.get(k).map { field =>
          val value: Any =
            if (v == "null" || v.isEmpty) null
            else field.fieldType match {
              case IntT => Integer.valueOf(v)
              case LongT => java.lang.Long.valueOf(v)
              case StringT => v
              case DateT => Integer.valueOf(
                java.time.LocalDate.parse(v).toEpochDay.toInt)
              case BooleanT => java.lang.Boolean.valueOf(v)
              case DoubleT => java.lang.Double.valueOf(v)
              case FloatT => java.lang.Float.valueOf(v)
              case other => throw new UnsupportedOperationException(
                s"add_files: partition value of type $other not parseable")
            }
          k -> value
        }
      }.toMap
    }
    if (identityFields.size != table.spec.fields.size)
      throw new UnsupportedOperationException(
        "add_files requires identity partitioning (or none): transformed " +
          "partition values cannot be inferred from paths")
    val outs = files.map(f =>
      graft.spark.CowFileOut(f.getPath, 0L, partitionOf(f), Map.empty))
    appendFiles(table, outs, Map("added-by" -> "add_files"))
  }

  /** SQL INSERT INTO on a REST-cataloged table — [[append]] on the
    * table's REST handle. */
  def appendRest(catalog: graft.catalog.RestCatalog, identifier: Seq[String],
                 df: DataFrame): IcebergTable =
    append(restTableOf(catalog.loadTable(identifier), catalog), df)

  /** Stage an equality-delete snapshot WITHOUT committing: an
    * equality-delete manifest on `keyCols` (a `delete`) plus, for the
    * atomic retract-and-replace ([[replaceEquality]]), the appended `rows`
    * (an `overwrite`) — manifests and the manifest list land on disk
    * under the table location. The delete applies only to
    * strictly-smaller sequence numbers, so same-snapshot rows are exempt
    * by construction. */
  private def stageEqualitySnapshot(table: IcebergTable, keys: DataFrame,
                                    keyCols: Seq[String],
                                    rows: Option[DataFrame]): Snapshot =
    stageSnapshot(table) { (snapId, seq) =>
      val deletes = eqDeleteManifest(table, keys, keyCols, snapId, seq)
      val outs = rows.toSeq.flatMap(df => writeDistributed(df, newDataDir(table),
        table.schema, table.spec, table.properties, SortOrder.unsorted,
        preClustered = false))
      SnapshotChanges(if (rows.isEmpty) OpDelete else OpOverwrite,
        liveManifests(table), Seq(deletes, manifestOf(table, "manifest-eq",
          outs.sortBy(_.path).map(addedEntry(table, _, snapId, seq)))))
    }

  /** An [[IcebergTable]] over a REST-loaded table. With `catalog` the
    * handle commits through it ([[RestTableOperations]]; `afterCommit`
    * runs after each landed commit) and plans/reports scans through it
    * when the server advertises those routes; without, it is read-only. */
  def restTableOf(loaded: graft.catalog.LoadedTable,
                  catalog: graft.catalog.RestCatalog = null,
                  afterCommit: () => Unit = () => ()): IcebergTable = {
    val md = loaded.metadata
    // catalog-side scan planning, when the serving catalog advertises the
    // spec's plan endpoints: scans resolve their pin LOCALLY (so client and
    // server cannot disagree on ref/as-of resolution — and a commit that
    // landed after this load cannot leak into a current-snapshot scan),
    // then delegate file enumeration to the server. Any refusal falls back
    // to driver-side planning inside TableScan.
    val planner: Option[graft.catalog.RemoteScanPlanner] =
      Option(catalog).filter(_.supportsScanPlanning).map { rc =>
        new graft.catalog.RemoteScanPlanner {
          def plan(filter: BooleanExpression, snapshotId: Option[Long],
                   ref: Option[String], asOfTimestampMs: Option[Long],
                   caseSensitive: Boolean)
              : Option[Seq[graft.core.FileScanTask]] = {
            val pinned = snapshotId.isDefined || ref.isDefined ||
              asOfTimestampMs.isDefined
            val resolvedPin: Option[Long] = snapshotId
              .orElse(ref.flatMap(md.snapshotByName).map(_.snapshotId))
              .orElse(asOfTimestampMs.flatMap(md.snapshotAsOfTime)
                .map(_.snapshotId))
            // a REQUESTED pin that the loaded metadata cannot resolve
            // (unknown/expired ref, as-of before the first snapshot) must
            // NOT fall through to the current snapshot — that would
            // silently serve current-table rows for a time-travel query.
            // Decline instead: the local planner raises the same
            // 'ref not found' / 'no snapshot as of' error the driver-side
            // path does.
            if (pinned && resolvedPin.isEmpty) None
            else {
              val resolved =
                resolvedPin.orElse(md.currentSnapshot.map(_.snapshotId))
              if (resolved.isEmpty) None // empty table: local returns Nil fast
              else rc.planTableScan(loaded.identifier, md, resolved,
                useSnapshotSchema = pinned, filter,
                caseSensitive = caseSensitive)
            }
          }

          def planIncremental(fromSnapshotId: Long, toSnapshotId: Option[Long])
              : Option[Seq[graft.core.FileScanTask]] = {
            // pin the end CLIENT-side (loaded metadata) so a commit that
            // landed after this load cannot widen the window server-side
            val end = toSnapshotId
              .orElse(md.currentSnapshot.map(_.snapshotId))
            if (end.isEmpty) None
            else rc.planTableScan(loaded.identifier, md, snapshotId = None,
              useSnapshotSchema = false, graft.core.AlwaysTrue,
              startSnapshotId = Some(fromSnapshotId), endSnapshotId = end)
          }
        }
      }
    // scan telemetry (the spec's `metrics` route), when advertised
    val reporter: Option[graft.catalog.ScanMetricsReporter] =
      Option(catalog).filter(_.supportsMetricsEndpoint).map { rc =>
        new graft.catalog.ScanMetricsReporter {
          def report(snapshotId: Option[Long], filter: BooleanExpression,
                     projectedFieldNames: Seq[String],
                     resultDataFiles: Long, resultDeleteFiles: Long,
                     planningDurationNs: Long): Unit =
            rc.reportScanMetrics(loaded.identifier, snapshotId, filter,
              md.currentSchema.schemaId, projectedFieldNames,
              resultDataFiles, resultDeleteFiles, planningDurationNs)
        }
      }
    new IcebergTable(md.location, loaded.metadataLocation, md,
      IOConfig.fileIO(loaded.ioProps), ioProps = loaded.ioProps,
      remotePlanner = planner, scanMetricsReporter = reporter,
      bindOps = _ =>
        if (catalog == null) throw new UnsupportedOperationException(
          s"${loaded.identifier.mkString(".")}: read-only REST handle " +
            "(no catalog bound to commit through)")
        else new RestTableOperations(catalog, loaded, afterCommit))
  }

  /** Atomic multi-table REST transaction: stage changes across tables,
    * then [[commit]] lands ALL of them or NONE via the spec's
    * `POST /v1/transactions/commit`. Each table's change is staged by the
    * same code its single-table commit uses and guarded the same way
    * (assert-table-uuid + assert-ref-snapshot-id(main)), so any concurrent
    * commit to any member rolls the whole transaction back
    * ([[graft.catalog.CommitConflictError]]) — the consistency a pipeline
    * needs to move a source table and its maintained derived tables
    * (index/mat-view) in lockstep. */
  final class RestTransaction private[TableWriter] (
      catalog: graft.catalog.RestCatalog) {
    private val changes = Vector.newBuilder[graft.catalog.TableChange]
    private var staged = Set.empty[Seq[String]]

    /** Load `identifier` for staging — each table joins at most once: two
      * snapshots for one table would chain on the same parent and overlap
      * row-id ranges. */
    private def member(identifier: Seq[String]): IcebergTable = {
      require(!staged.contains(identifier),
        s"table ${identifier.mkString(".")} already staged in this " +
          "transaction: two snapshots for one table would chain on the " +
          "same parent and overlap row-id ranges")
      staged += identifier
      restTableOf(catalog.loadTable(identifier), catalog)
    }

    private def add(identifier: Seq[String], table: IcebergTable,
                    snapshot: Snapshot,
                    extra: Seq[TableUpdate] = Nil): this.type = {
      val (requirements, updates) = snapshotChange(table.metadata, snapshot)
      changes += graft.catalog.TableChange(identifier, requirements,
        updates ++ extra)
      this
    }

    def stageAppend(identifier: Seq[String],
                    added: Seq[graft.spark.CowFileOut],
                    extraSummary: Map[String, String] = Map.empty)
        : this.type = {
      val t = member(identifier)
      add(identifier, t, stageAppendSnapshot(t, added, extraSummary))
    }

    /** Stage a CoW replace (rewrite `removedPaths` into `added`) for this
      * transaction — e.g. a compaction of one member table landing
      * atomically with appends to its siblings. */
    def stageReplace(identifier: Seq[String], removedPaths: Set[String],
                     added: Seq[graft.spark.CowFileOut],
                     touchedManifests: Option[Set[String]] = None)
        : this.type = {
      val t = member(identifier)
      add(identifier, t, stageReplaceSnapshot(t, Some(removedPaths), added,
        touchedManifests, None, OpOverwrite))
    }

    /** Stage a MoR delta ([[commitDelta]]'s shape: positional tombstones +
      * appended files in ONE snapshot) for this transaction — SQL
      * UPDATE/MERGE/DELETE under merge-on-read joining a multi-table
      * commit. */
    def stageDelta(identifier: Seq[String],
                   added: Seq[graft.spark.CowFileOut],
                   posDeleteFiles: Seq[String]): this.type = {
      val t = member(identifier)
      add(identifier, t, stageDeltaSnapshot(t, added, posDeleteFiles))
    }

    /** Stage an atomic retract-and-replace ([[replaceEquality]]'s shape:
      * equality tombstones on `keyCols` + the replacement `rows` in ONE
      * snapshot) — the commit the maintained-model family (BM25 postings,
      * LM counts, ANN codes, aggregate views) makes per changefeed window.
      * `extraProperties` (e.g. the exactly-once sync watermark) ride the
      * SAME UpdateTableRequest, so index state and bookkeeping move
      * together or not at all — and with [[stageAppend]] on the source
      * table in the same transaction, source and derived index move in
      * lockstep. */
    def stageReplaceEquality(identifier: Seq[String], keys: DataFrame,
                             keyCols: Seq[String], rows: DataFrame,
                             extraProperties: Map[String, String] = Map.empty)
        : this.type = {
      val t = member(identifier)
      add(identifier, t, stageEqualitySnapshot(t, keys, keyCols, Some(rows)),
        propertyUpdates(extraProperties, Nil))
    }

    /** All-or-nothing commit; on success, verifies per-table V3 lineage
      * advancement by reloading (the transaction route returns no body). */
    def commit(): Unit = {
      val all = changes.result()
      catalog.commitTransaction(all)
      all.foreach { c =>
        RestTableOperations.verifyLineage(c.identifier, c.updates,
          catalog.loadTable(c.identifier).metadata.nextRowId)
      }
    }
  }

  /** Open a multi-table transaction against a REST catalog. */
  def transaction(catalog: graft.catalog.RestCatalog): RestTransaction =
    new RestTransaction(catalog)

  /** Create (or move) a branch or tag pointing at a snapshot. Branch-only
    * `minSnapshotsToKeep` / `maxSnapshotAgeMs` set the branch's own
    * snapshot-retention policy, enforced by [[expireSnapshots]]. */
  def createRef(table: IcebergTable, name: String, refType: RefType,
                snapshotId: Option[Long] = None,
                maxRefAgeMs: Option[Long] = None,
                minSnapshotsToKeep: Option[Int] = None,
                maxSnapshotAgeMs: Option[Long] = None): IcebergTable = {
    val id = snapshotId.orElse(table.currentSnapshot.map(_.snapshotId)).getOrElse(
      throw new IllegalArgumentException("table has no snapshot to reference"))
    require(table.metadata.snapshotById(id).isDefined, s"snapshot $id not found")
    require(refType == BranchRef ||
      (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
      "snapshot retention (min-snapshots-to-keep / max-snapshot-age-ms) " +
        "applies to branches only; tags pin exactly their target")
    commitUpdates(table, Seq(SetSnapshotRef(name, id, refType.repr,
      minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs)))
  }

  /** Set (or clear, with None) a branch's snapshot-retention policy —
    * Iceberg's `ALTER BRANCH ... WITH SNAPSHOT RETENTION`. Works on main
    * too: a policy on main overrides [[expireSnapshots]]'s global args
    * for main's own lineage. Re-sets the ref at its current target (the
    * spec's set-snapshot-ref REPLACES the ref), pinned to that target. */
  def setRefRetention(table: IcebergTable, name: String,
                      minSnapshotsToKeep: Option[Int],
                      maxSnapshotAgeMs: Option[Long]): IcebergTable = {
    val md = table.metadata
    val r = md.refs.getOrElse(name,
      throw new IllegalArgumentException(s"ref '$name' not found"))
    require(r.refType == BranchRef,
      s"snapshot retention applies to branches only; '$name' is a tag")
    table.ops.commit(md, headGuard(md, name),
      Seq(SetSnapshotRef(name, r.snapshotId, BranchRef.repr,
        minSnapshotsToKeep, maxSnapshotAgeMs, r.maxRefAgeMs)))
  }

  /** Drop a branch or tag (`main` is protected). */
  def dropRef(table: IcebergTable, name: String): IcebergTable = {
    require(name != MainBranch, "cannot drop the main branch")
    require(table.metadata.refs.contains(name), s"ref '$name' not found")
    commitUpdates(table, Seq(RemoveSnapshotRef(name)))
  }

  // ------------------------------------------------------------------ guts


  private val MainBranch = TableMetadata.MainBranch

  /** The head of `ref` as `md` saw it (main falls back to the current
    * snapshot; None = the ref does not exist). */
  private def refHead(md: TableMetadata, ref: String): Option[Long] =
    md.refs.get(ref).map(_.snapshotId)
      .orElse(if (ref == MainBranch) md.currentSnapshotId else None)

  /** A commit pinned to `ref`'s head as `md` saw it. */
  private def headGuard(md: TableMetadata,
                        ref: String = MainBranch): Seq[TableRequirement] =
    Seq(AssertTableUuid(md.tableUuid), AssertRefSnapshotId(ref, refHead(md, ref)))

  /** The `set-snapshot-ref` update moving branch `name` — carrying the
    * existing ref's retention policy, since the update REPLACES the ref. */
  private def setRefUpdate(md: TableMetadata, name: String,
                           snapId: Long): SetSnapshotRef = {
    val prev = md.refs.get(name).filter(_.refType == BranchRef)
    SetSnapshotRef(name, snapId, BranchRef.repr,
      minSnapshotsToKeep = prev.flatMap(_.minSnapshotsToKeep),
      maxSnapshotAgeMs = prev.flatMap(_.maxSnapshotAgeMs),
      maxRefAgeMs = prev.flatMap(_.maxRefAgeMs))
  }

  /** The requirements + updates that publish `snapshot` as main's new
    * head, pinned to main's head as `md` saw it. */
  private def snapshotChange(md: TableMetadata, snapshot: Snapshot)
      : (Seq[TableRequirement], Seq[TableUpdate]) =
    (headGuard(md),
      Seq(AddSnapshot(snapshot), setRefUpdate(md, MainBranch, snapshot.snapshotId)))

  /** Commit `snapshot` as main's new head through the table's ops;
    * `leading`/`trailing` updates ride the same commit. */
  private def publish(table: IcebergTable, snapshot: Snapshot,
                      leading: Seq[TableUpdate] = Nil,
                      trailing: Seq[TableUpdate] = Nil): IcebergTable = {
    val (requirements, updates) = snapshotChange(table.metadata, snapshot)
    table.ops.commit(table.metadata, requirements, leading ++ updates ++ trailing)
  }

  /** A metadata-only commit guarded by the table's identity alone. */
  private def commitUpdates(table: IcebergTable,
                            updates: Seq[TableUpdate]): IcebergTable =
    table.ops.commit(table.metadata,
      Seq(AssertTableUuid(table.metadata.tableUuid)), updates)

  private def metadataDir(table: IcebergTable): File = {
    val d = new File(table.location, "metadata"); d.mkdirs(); d
  }

  /** The ADDED entry of snapshot `snapId` (at sequence `seq`) for a file
    * this engine wrote, data or delete: footer stats (Parquet, ORC; AVRO
    * carries counts only) over the columns its content holds — the
    * reserved `file_path`/`pos` for positional deletes, the table's
    * otherwise — plus task-side NaN counts, stamped with the sort order it
    * was written under and, for equality deletes, the key field ids. The
    * one entry rule for written files. */
  private def addedEntry(table: IcebergTable, f: CowFileOut, snapId: Long,
                         seq: Long, sortOrderId: Int = 0,
                         content: Int = DataFileContent.Data,
                         equalityIds: Seq[Int] = Nil): ManifestEntry = {
    val file = new File(f.path)
    val partition = f.partition.filter(_._2 != null)
    val schema =
      if (content == DataFileContent.PositionDeletes) DeleteMatching.PositionalDeleteSchema
      else table.schema
    val info = f.path.toLowerCase match {
      case p if p.endsWith(".orc") =>
        statsFromOrc(file, schema, partition, f.nanCounts)
      case p if p.endsWith(".avro") =>
        DataFileInfo(DataFileContent.Data, f.path, "AVRO", partition, f.rows,
          file.length(), Map.empty, Map.empty, Map.empty, f.nanCounts,
          Map.empty, Map.empty, Nil, Nil, None)
      case _ => statsFromFooter(file, schema, partition, f.nanCounts)
    }
    addedFile(info.copy(content = content, sortOrderId = Some(sortOrderId),
      equalityIds = equalityIds), snapId, seq)
  }

  /** The ADDED entry of snapshot `snapId` (at sequence `seq`) for `info`. */
  private def addedFile(info: DataFileInfo, snapId: Long, seq: Long): ManifestEntry =
    ManifestEntry(ManifestEntryStatus.Added, Some(snapId), Some(seq), Some(seq), info)

  /** A manifest of `entries` under the current spec: data files under its
    * partition type, delete files unpartitioned. */
  private def manifestOf(table: IcebergTable, tag: String,
                         entries: Seq[ManifestEntry]): NewManifest = {
    val data = entries.forall(_.dataFile.content == DataFileContent.Data)
    NewManifest(tag, if (data) 0 else 1, table.spec.specId,
      if (data) table.spec.partitionType(table.schema) else StructT(Nil), entries)
  }

  /** Write `m` as manifest `<name>.avro` of snapshot `snapId` (at sequence
    * `seq`) and return its manifest-list row: file and row counts per
    * entry status, the lowest entry sequence number, and the partition
    * summary of the entries still live. */
  private def writeManifest(table: IcebergTable, name: String, m: NewManifest,
                            snapId: Long, seq: Long,
                            firstRowId: Option[Long]): ManifestFile = {
    val mf = new File(metadataDir(table), s"$name.avro")
    val entries = m.entries
    ManifestIO.writeManifest(mf, entries, m.partType)
    val by = entries.groupBy(_.status).withDefaultValue(Nil)
    def rows(status: Int): Long = by(status).map(_.dataFile.recordCount).sum
    ManifestFile(
      path = mf.getPath, length = mf.length(),
      partitionSpecId = m.specId, content = m.content, sequenceNumber = seq,
      minSequenceNumber = entries.flatMap(_.sequenceNumber).minOption.getOrElse(seq),
      addedSnapshotId = snapId,
      addedFilesCount = by(ManifestEntryStatus.Added).size,
      existingFilesCount = by(ManifestEntryStatus.Existing).size,
      deletedFilesCount = by(ManifestEntryStatus.Deleted).size,
      addedRowsCount = rows(ManifestEntryStatus.Added),
      existingRowsCount = rows(ManifestEntryStatus.Existing),
      deletedRowsCount = rows(ManifestEntryStatus.Deleted),
      partitions = partitionSummaries(
        entries.filter(_.status != ManifestEntryStatus.Deleted), m.partType),
      formatVersion = 2, firstRowId = firstRowId)
  }

  /** Partition type of spec `specId` over the current schema (unknown
    * spec: `orElse`). */
  private def partTypeOf(table: IcebergTable, specId: Int,
                         orElse: => StructT): StructT =
    table.metadata.partitionSpecs.find(_.specId == specId)
      .map(_.partitionType(table.schema)).getOrElse(orElse)

  private def partName(src: String, t: Transform): String = t match {
    case IdentityTransform => src
    case BucketTransform(n) => s"${src}_bucket"
    case TruncateTransform(w) => s"${src}_trunc"
    case other => s"${src}_${other.repr}"
  }

  /** Spark column computing a transform value (write path only; the UDFs here
    * run once per written row, pruning later uses the core evaluators). */
  private def transformColumn(t: Transform, src: Column, typ: IcebergType): Column = t match {
    case IdentityTransform => src
    case DayTransform => to_date(src)
    case MonthTransform => sexpr(s"(year(${srcName(src)}) - 1970) * 12 + month(${srcName(src)}) - 1")
    case YearTransform => syear(src) - 1970
    case HourTransform => sexpr(s"floor(unix_timestamp(${srcName(src)}) / 3600)")
    case BucketTransform(n) =>
      // codegen'd native expression — full write throughput, spec-exact hash
      graft.spark.functions.functions.icebergBucket(n, src)
    case TruncateTransform(w) => typ match {
      case IntT | LongT => (src - (((src % w) + w) % w)).cast(SchemaConv.toSparkType(typ))
      case StringT => src.substr(0, w)
      case other => throw new IllegalArgumentException(s"truncate write on $other unsupported")
    }
    case other => throw new IllegalArgumentException(s"cannot write transform $other")
  }

  private def srcName(c: Column): String = c.toString

  /** The distributed data write shared by every DataFrame write:
    * optional range clustering per the sort order, hash distribution by
    * the transformed partition value, then the task writers (one open
    * file per partition tuple, inline NaN counts, attempt-unique names).
    * Returns one CowFileOut per written file — metadata-sized. */
  /** Iceberg's write-layout knob. `none` writes in place (no exchange —
    * the caller's layout is trusted; partition-grouping is still a LOCAL
    * sort), `hash` clusters each partition value into few tasks, `range`
    * range-clusters by partition (+ sort) keys for disjoint per-file
    * bounds. Defaults preserve this engine's established behavior:
    * `range` for sorted writes, `hash` for partitioned unsorted writes,
    * `none` otherwise. */
  val DistributionModeProp = "write.distribution-mode"

  private def writeDistributed(df: DataFrame, dataDir: File, schema: Schema,
                               spec: PartitionSpec,
                               properties: Map[String, String],
                               sortOrder: SortOrder,
                               preClustered: Boolean): Seq[CowFileOut] = {
    val sortCols =
      if (sortOrder.isUnsorted) Nil
      else sortOrder.fields.map(sf =>
        col(schema.findFieldById(sf.sourceId).get.name))
    val mode = properties.get(DistributionModeProp).map(_.toLowerCase)
      .getOrElse(
        if (!sortOrder.isUnsorted) "range"
        else if (!spec.isUnpartitioned) "hash"
        else "none")
    require(Seq("none", "hash", "range").contains(mode),
      s"invalid $DistributionModeProp '$mode': use none, hash, or range")

    // distribution: without an exchange keyed on the TRANSFORMED partition
    // value, every task writes a file for every partition value it happens
    // to hold — tasks × partitions small files at cluster scale. `hash`
    // sends each partition value to one task; `range` additionally gives
    // files disjoint bound ranges on the keys (stats pruning); `none`
    // trusts the caller's layout (the pre-clustered compaction/z-order
    // paths, or a user who already arranged the frame). The derived
    // columns exist only to key the exchange — the select drops them
    // before rows reach the writers. In every mode rows reach the task
    // writer LOCALLY SORTED by partition tuple, so it writes one file at
    // a time instead of holding an open writer per tuple it will ever see
    // — with thousands of (e.g. day × status) tuples per task, concurrent
    // open parquet writers are the classic dynamic-partition OOM. (The
    // sortWithinPartitions is local — no extra shuffle.)
    val distributed =
      if (preClustered || (spec.isUnpartitioned && sortCols.isEmpty &&
          !properties.contains(DistributionModeProp))) df
      else {
        val withParts = spec.fields.foldLeft(df) { (d, pf) =>
          val srcField = schema.findFieldById(pf.sourceId).get
          d.withColumn(s"_p_${pf.name}", transformColumn(pf.transform, col(srcField.name),
            srcField.fieldType))
        }
        val partKeys = spec.fields.map(f => col(s"_p_${f.name}"))
        val arranged = mode match {
          case "hash" if partKeys.nonEmpty =>
            withParts.repartition(partKeys: _*)
              .sortWithinPartitions(partKeys ++ sortCols: _*)
          case "range" =>
            // the established sorted-write layout: range-cluster and
            // locally sort by the sort keys alone (partition-aligned for
            // the common time-sorted case — files get disjoint sort-key
            // bounds); without a sort order, by the partition keys
            val keys = if (sortCols.nonEmpty) sortCols else partKeys
            if (keys.isEmpty) withParts
            else withParts.repartitionByRange(keys: _*)
              .sortWithinPartitions(keys: _*)
          case _ => // none, or hash on an unpartitioned table
            if (partKeys.isEmpty && sortCols.isEmpty) withParts
            else withParts.sortWithinPartitions(partKeys ++ sortCols: _*)
        }
        arranged.select(df.columns.toIndexedSeq.map(col): _*)
      }

    // distributed write through the task writers (shared with the CoW
    // path): each task derives partition tuples per row with the core
    // transforms, keeps one open parquet file per tuple, and counts
    // float/double NaNs inline — so commit needs NO second pass over the
    // written data (footers don't record NaN counts). Partition tuples ride
    // the commit messages into the manifest; no hive directory layout.
    dataDir.mkdirs()
    val factory = GraftCowWriterFactory.of(dataDir.getPath, distributed.schema,
      schema, spec, properties)
    val outs: Seq[CowFileOut] = distributed.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        // taskAttemptId (globally unique per attempt) in the file name:
        // with speculation or a stage retry, two live attempts of the same
        // partition must never write the same path — the loser's abort()
        // would delete the winner's committed file
        val attemptId = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(pid.toLong)
        val w = factory.createWriter(pid, attemptId)
        var ok = false
        try {
          rows.foreach(w.write)
          val m = w.commit().asInstanceOf[GraftCowCommit]
          ok = true
          Iterator.single(m)
        } finally if (!ok) w.abort()
      }
      .collect().toSeq.flatMap(_.files) // one row per written file: metadata-sized
    outs
  }

  /** Optimistic-concurrency retry loop: run `op` against a FRESH handle
    * on the table (reloaded through its ops, so REST tables retry too),
    * reloading and retrying on [[graft.catalog.CommitConflictError]] — the
    * standard commit pattern for concurrent writers (appends and MoR
    * deletes compose with any concurrent commit; CoW ops re-plan against
    * the new snapshot on reload, so the retry is semantically a re-run).
    * The final attempt's conflict propagates. */
  def withCommitRetry[T](table: IcebergTable, maxAttempts: Int = 4)
                        (op: IcebergTable => T): T = {
    var attempt = 1
    while (true) {
      try return op(table.ops.current())
      catch {
        case _: graft.catalog.CommitConflictError if attempt < maxAttempts =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compute the spec's PARTITION STATISTICS file for the current
    * snapshot and register it under `partition-statistics`: one row per
    * partition tuple with the data/delete file and record rollups, in the
    * spec's parquet schema (field ids 1-12; `partition` = the UNIFIED
    * tuple struct across all partition specs). Foreign engines read the
    * registered file directly; `SELECT * FROM db.t.partition_statistics`
    * serves it back here.
    *
    * Scale shape: manifests decode with the planner's parallel readers
    * and STREAM into an O(partitions) aggregation map — entry rows are
    * never retained. The output is O(partitions) by definition (it IS the
    * stats file), written once as a single parquet. */
  def computePartitionStats(table: IcebergTable,
                            spark: org.apache.spark.sql.SparkSession)
      : (IcebergTable, Int) = {
    val snap = table.currentSnapshot.getOrElse(throw new IllegalArgumentException(
      "compute_partition_stats: table has no snapshot"))
    val md = table.metadata
    // unified partition tuple: every field of every spec, by field id
    val unified: Seq[(PartitionField, graft.core.IcebergType)] =
      md.partitionSpecs.flatMap(sp => sp.partitionType(md.currentSchema).fields
          .zip(sp.fields).map { case (nf, pf) => (pf, nf.fieldType) })
        .groupBy(_._1.fieldId).toSeq.sortBy(_._1).map(_._2.head)

    // manifest partition values are raw Avro decodes (Integer days for
    // dates, Long micros for timestamps, unscaled big-endian bytes for
    // decimals) — convert to the EXTERNAL value the row schema declares.
    // Byte-typed values wrap in ByteBuffer so the aggregation key groups
    // by CONTENT (arrays have identity equality); unwrapped at row build.
    def extVal(v: Any, t: graft.core.IcebergType): Any = v match {
      case null => null
      case u: org.apache.avro.util.Utf8 => extVal(u.toString, t)
      case f: org.apache.avro.generic.GenericData.Fixed => extVal(f.bytes(), t)
      case bb: java.nio.ByteBuffer =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
        extVal(a, t)
      case other => t match {
        case DateT => other match {
          case i: java.lang.Integer =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue))
          case x => x
        }
        case TimestampTzT => other match {
          case l: java.lang.Long =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(l)
          case x => x
        }
        case TimestampT => other match {
          case l: java.lang.Long =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .microsToLocalDateTime(l)
          case x => x
        }
        case DecimalT(_, s) => other match {
          case a: Array[Byte] =>
            new java.math.BigDecimal(new java.math.BigInteger(a), s)
          case x => x
        }
        case UuidT => other match {
          case a: Array[Byte] if a.length == 16 =>
            val b = java.nio.ByteBuffer.wrap(a)
            new java.util.UUID(b.getLong, b.getLong).toString
          case x => x
        }
        case _ => other match {
          case a: Array[Byte] => java.nio.ByteBuffer.wrap(a)
          case x => x
        }
      }
    }
    def tupleOf(p: Map[String, Any]): Seq[Any] =
      unified.map { case (pf, t) => extVal(p.get(pf.name).orNull, t) }

    final case class Agg(var dataRecords: Long = 0L, var dataFiles: Int = 0,
                         var dataBytes: Long = 0L,
                         var posDelRecords: Long = 0L, var posDelFiles: Int = 0,
                         var eqDelRecords: Long = 0L, var eqDelFiles: Int = 0,
                         var lastSnap: Long = 0L, var lastMs: Long = 0L,
                         var specId: Int = 0, var specSeq: Long = -1L)
    val byPartition = scala.collection.mutable.LinkedHashMap[Seq[Any], Agg]()
    val snapTs: Map[Long, Long] =
      md.snapshots.map(s0 => s0.snapshotId -> s0.timestampMs).toMap
    val manifests = ManifestIO.readManifestList(table.io.open(snap.manifestList))
    val decoded = {
      import scala.collection.parallel.CollectionConverters._
      manifests.par.map(m =>
        m -> ManifestIO.readManifestEntries(table.io.open(m.path), m)).seq
    }
    // pass 1 (data entries) builds path → tuple so DELETE entries that
    // reference a data file (V3 DVs) attribute to ITS partition; delete
    // files without a reference or tuple land on the null tuple (honest:
    // they may span partitions)
    val partOfPath = scala.collection.mutable.HashMap[String, Seq[Any]]()
    decoded.foreach { case (_, entries) =>
      entries.foreach { e =>
        if (e.dataFile.content == DataFileContent.Data)
          partOfPath(e.dataFile.path) = tupleOf(e.dataFile.partition)
      }
    }
    decoded.foreach { case (m, entries) =>
      entries.filter(_.status != ManifestEntryStatus.Deleted).foreach { e =>
        val key: Seq[Any] =
          if (e.dataFile.content == DataFileContent.Data)
            tupleOf(e.dataFile.partition)
          else e.dataFile.referencedDataFile.flatMap(partOfPath.get)
            .orElse(Some(tupleOf(e.dataFile.partition))
              .filter(_.exists(_ != null)))
            .getOrElse(unified.map(_ => null))
        val a = byPartition.getOrElseUpdate(key, Agg())
        // spec_id = the spec this tuple's DATA belongs to (delete entries
        // attribute to a referenced file's partition, so their manifest's
        // spec must not override it); newest data wins when specs evolved
        // onto the same unified tuple
        if (e.dataFile.content == DataFileContent.Data) {
          val seq = e.sequenceNumber.getOrElse(0L)
          if (seq >= a.specSeq) { a.specSeq = seq; a.specId = m.partitionSpecId }
        } else if (a.specSeq < 0L)
          a.specId = m.partitionSpecId
        e.dataFile.content match {
          case DataFileContent.Data =>
            a.dataRecords += e.dataFile.recordCount
            a.dataFiles += 1
            a.dataBytes += e.dataFile.fileSizeInBytes
          case DataFileContent.PositionDeletes =>
            a.posDelRecords += e.dataFile.recordCount
            a.posDelFiles += 1
          case DataFileContent.EqualityDeletes =>
            a.eqDelRecords += e.dataFile.recordCount
            a.eqDelFiles += 1
          case _ =>
        }
        // entries committed by an EXPIRED snapshot have no timestamp —
        // skip them rather than emit a snapshot id with a null timestamp
        e.snapshotId.foreach { sid =>
          snapTs.get(sid).foreach { ts =>
            if (ts >= a.lastMs) { a.lastMs = ts; a.lastSnap = sid }
          }
        }
      }
    }

    // the spec's schema, parquet field ids stamped (partition children
    // keep their partition-field ids)
    import org.apache.spark.sql.types._
    def idMeta(id: Int) = new MetadataBuilder()
      .putLong(GraftCowWriterFactory.ParquetFieldIdKey, id.toLong).build()
    val partStruct = StructType(unified.map { case (pf, t) =>
      StructField(pf.name, SchemaConv.toSparkType(t), nullable = true,
        metadata = idMeta(pf.fieldId))
    })
    val schema = StructType(Seq(
      StructField("partition", partStruct, nullable = false, idMeta(1)),
      StructField("spec_id", IntegerType, nullable = false, idMeta(2)),
      StructField("data_record_count", LongType, nullable = false, idMeta(3)),
      StructField("data_file_count", IntegerType, nullable = false, idMeta(4)),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false,
        idMeta(5)),
      StructField("position_delete_record_count", LongType, nullable = true,
        idMeta(6)),
      StructField("position_delete_file_count", IntegerType, nullable = true,
        idMeta(7)),
      StructField("equality_delete_record_count", LongType, nullable = true,
        idMeta(8)),
      StructField("equality_delete_file_count", IntegerType, nullable = true,
        idMeta(9)),
      StructField("total_record_count", LongType, nullable = true, idMeta(10)),
      StructField("last_updated_at", LongType, nullable = true, idMeta(11)),
      StructField("last_updated_snapshot_id", LongType, nullable = true,
        idMeta(12))))
    val rows = byPartition.toSeq.map { case (key, a) =>
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(key.map {
          // unwrap the key's value-equality ByteBuffer back to the bytes
          // BinaryType expects
          case bb: java.nio.ByteBuffer =>
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
          case other => other
        }: _*),
        a.specId,
        a.dataRecords, a.dataFiles, a.dataBytes,
        a.posDelRecords, a.posDelFiles, a.eqDelRecords, a.eqDelFiles,
        // total_record_count is "records after applying deletes" — exact
        // only when the partition carries no delete files; else unknown
        (if (a.posDelFiles == 0 && a.eqDelFiles == 0) a.dataRecords else null)
          : Any,
        if (a.lastMs == 0) null else a.lastMs,
        if (a.lastSnap == 0) null else a.lastSnap)
    }
    val stage = Files.createTempDirectory("pstats").toFile
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(stage.getPath)
    val src = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new File(new File(table.location, "metadata"),
      s"partition-stats-${snap.snapshotId}-${System.nanoTime()}.parquet")
    Files.move(src.toPath, dest.toPath)
    stage.listFiles().foreach(_.delete()); stage.delete()

    // register: the set-partition-statistics update replaces any entry
    // for THIS snapshot and keeps the others
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", snap.snapshotId)
    entry.put("statistics-path", dest.getPath)
    entry.put("file-size-in-bytes", dest.length())
    (commitUpdates(table, Seq(SetPartitionStatistics(
      mapper.writeValueAsString(entry)))), rows.size)
  }

  /** Compute per-column NDV statistics for the CURRENT snapshot and
    * register them as a Puffin statistics file (theta sketch per column +
    * the `ndv` blob property readers consult first). The scan's
    * `SupportsReportStatistics` then feeds these to Spark's CBO — and any
    * foreign engine reading the table gets them through the standard
    * `statistics` metadata.
    *
    * Scale shape: TWO distributed passes, both bounded. Pass 1 is one
    * aggregate row (approx NDV per column); pass 2 re-scans keeping only
    * hashes under a per-column threshold chosen so ~2k survive per column
    * (the KMV bottom-k construction: retain the k smallest hashes, theta =
    * the (k+1)-th) — so driver memory is O(columns × k), never O(NDV).
    *
    * The sketch payload hashes with Spark's xxhash64 (not DataSketches'
    * murmur3 family), so estimates decode correctly everywhere but
    * cross-engine sketch MERGES are not supported; the `ndv` property is
    * the authoritative summary. */
  def computeTableStats(table: IcebergTable,
                        spark: org.apache.spark.sql.SparkSession,
                        columns: Seq[String] = Nil): (IcebergTable, Int) = {
    val snap = table.currentSnapshot.getOrElse(throw new IllegalArgumentException(
      "compute_table_stats: table has no snapshot"))
    val eligible: IcebergType => Boolean = {
      case _: NestedIcebergType | UnknownT | VariantT |
           _: GeometryT | _: GeographyT => false
      case _ => true
    }
    val targets: Seq[NestedField] =
      if (columns.nonEmpty) columns.map(c =>
        table.schema.findFieldByName(c).getOrElse(throw new IllegalArgumentException(
          s"compute_table_stats: unknown column '$c'")))
      else table.schema.fields.filter(f => eligible(f.fieldType))
    require(targets.nonEmpty, "compute_table_stats: no eligible columns")
    targets.foreach(f => require(eligible(f.fieldType),
      s"compute_table_stats: ${f.fieldType.repr} column '${f.name}' not supported"))

    val K = 2048
    val df = table.newScan().toDF(spark).select(targets.map(f => col(f.name)): _*)
    // pass 1: approximate NDV per column, one aggregate row
    val approx = df.agg(
      org.apache.spark.sql.functions.approx_count_distinct(targets.head.name),
      targets.tail.map(f =>
        org.apache.spark.sql.functions.approx_count_distinct(f.name)): _*)
      .collect()(0)
    val approxNdv = targets.indices.map(i => math.max(1L, approx.getLong(i)))
    // pass 2: per column keep hashes below a threshold sized for ~2K
    // survivors (all of them when NDV is small) — bounded driver collect
    val thresholds = approxNdv.map { nd =>
      if (nd <= 2L * K) Long.MaxValue
      else {
        val t = (BigInt(Long.MaxValue) * (2L * K) / nd).toLong
        math.max(1L, t)
      }
    }
    val pairCols = targets.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit(i).as("ci"),
        org.apache.spark.sql.functions.when(col(f.name).isNotNull,
          org.apache.spark.sql.functions.shiftrightunsigned(
            org.apache.spark.sql.functions.xxhash64(col(f.name)), 1))
          .as("h"))
    }
    val collected = df
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(pairCols: _*)).as("e"))
      .filter(col("e.h").isNotNull)
      .select(col("e.ci"), col("e.h"))
      .filter(targets.indices.map(i =>
        col("ci") === i && col("h") < thresholds(i)).reduce(_ || _))
      .distinct()
      .collect().groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap

    // per column: exact sketch when everything survived under MaxValue;
    // else KMV — k smallest retained, theta = the (k+1)-th (or the pass-2
    // threshold when fewer than k+1 survived)
    val blobs = targets.zipWithIndex.map { case (f, i) =>
      val hs = collected.getOrElse(i, Array.empty[Long]).toSeq
      val (retained, theta) =
        if (thresholds(i) == Long.MaxValue && hs.size <= K) (hs, None)
        else if (hs.size > K) (hs.take(K), Some(hs(K)))
        else (hs, Some(thresholds(i)))
      val bytes = ThetaSketch.compactSketchBytes(retained, theta)
      val ndv = math.round(ThetaSketch.estimate(bytes))
      (bytes, f.id, ndv)
    }

    val puffin = new File(new File(table.location, "metadata"),
      s"stats-${snap.snapshotId}-${System.nanoTime()}.puffin")
    val metas = Puffin.write(puffin.getPath, blobs.map { case (bytes, id, ndv) =>
      (bytes, Puffin.BlobMetadata(graft.spark.TableStatistics.ThetaBlobType,
        Seq(id), snap.snapshotId, snap.sequenceNumber, 0L, 0L,
        Map("ndv" -> ndv.toString)))
    })
    val footerSize = puffin.length() - (metas.last.offset + metas.last.length)

    // register: the set-statistics update replaces any existing entry for
    // THIS snapshot and carries foreign/older entries through as their
    // ORIGINAL raw nodes (reconstructing from the parsed model would zero
    // file sizes and blob sequence numbers a foreign Puffin reader trusts)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", snap.snapshotId)
    entry.put("statistics-path", puffin.getPath)
    entry.put("file-size-in-bytes", puffin.length())
    entry.put("file-footer-size-in-bytes", footerSize)
    val bmArr = entry.putArray("blob-metadata")
    blobs.zip(metas).foreach { case ((_, id, ndv), m) =>
      val bn = bmArr.addObject()
      bn.put("type", graft.spark.TableStatistics.ThetaBlobType)
      bn.put("snapshot-id", snap.snapshotId)
      bn.put("sequence-number", snap.sequenceNumber)
      bn.putArray("fields").add(id)
      bn.putObject("properties").put("ndv", ndv.toString)
      ()
    }
    (commitUpdates(table, Seq(SetStatistics(mapper.writeValueAsString(entry)))),
      targets.size)
  }

  private def isNaNLit(l: Literal): Boolean = l match {
    case FloatLit(f) => f.isNaN
    case DoubleLit(d) => d.isNaN
    case _ => false
  }

  private def partitionSummaries(entries: Seq[ManifestEntry],
                                 partType: StructT): Seq[FieldSummary] =
    partType.fields.map { f =>
      val values = entries.flatMap(e => Option(e.dataFile.partition.get(f.name).orNull))
      val hasNull = entries.exists(e => e.dataFile.partition.get(f.name).forall(_ == null))
      val lits = values.flatMap(v => avroValueToLiteral(v, f.fieldType))
      // NaN values are excluded from bounds (per spec) and reported via
      // containsNaN, so the ManifestEvaluator's all-null inference stays
      // sound for float/double partitions
      val hasNaN = lits.exists(isNaNLit)
      val sorted = lits.filterNot(isNaNLit)
        .sortWith((a, b) => LiteralOrdering.compare(a, b).exists(_ < 0))
      FieldSummary(hasNull, Some(hasNaN),
        sorted.headOption.map(_.toBytes), sorted.lastOption.map(_.toBytes))
    }

  private def avroValueToLiteral(v: Any, t: IcebergType): Option[Literal] = v match {
    case null => None
    case i: java.lang.Integer => Some(if (t == DateT) DateLit(i) else IntLit(i))
    case l: java.lang.Long => Some(if (t == TimestampT) TsLit(l) else LongLit(l))
    case s: String => Some(StrLit(s))
    case b: java.lang.Boolean => Some(BoolLit(b))
    case f: java.lang.Float => Some(FloatLit(f))
    case d: java.lang.Double => Some(DoubleLit(d))
    case b: Array[Byte] => LiteralCodec.fromBytes(t, b)
    case _ => None
  }

  /** Parquet footer → per-file Iceberg stats: min/max/null counts aggregated
    * across row groups; split offsets = row-group start positions. Metadata
    * read only — never touches row data. */
  private def statsFromFooter(file: File, schema: Schema,
                              partition: Map[String, Any],
                              nanCounts: Map[Int, Long]): DataFileInfo = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.getPath), new Configuration()))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val splitOffsets = blocks.map(_.getStartingPos).sorted

      val colSizes = scala.collection.mutable.Map[Int, Long]()
      val valCounts = scala.collection.mutable.Map[Int, Long]()
      val nullCounts = scala.collection.mutable.Map[Int, Long]()
      val lowerB = scala.collection.mutable.Map[Int, Literal]()
      val upperB = scala.collection.mutable.Map[Int, Literal]()

      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val colPath = chunk.getPath.toDotString
        schema.findFieldByName(colPath).foreach { field =>
          val id = field.id
          colSizes.updateWith(id)(v => Some(v.getOrElse(0L) + chunk.getTotalSize))
          valCounts.updateWith(id)(v => Some(v.getOrElse(0L) + chunk.getValueCount))
          val stats: org.apache.parquet.column.statistics.Statistics[_] =
            chunk.getStatistics
          if (stats != null && !stats.isEmpty) {
            if (stats.isNumNullsSet)
              nullCounts.updateWith(id)(v => Some(v.getOrElse(0L) + stats.getNumNulls))
            if (stats.hasNonNullValue) {
              for (mn <- parquetStatToLiteral(stats.genericGetMin.asInstanceOf[AnyRef], field.fieldType))
                lowerB.updateWith(id) {
                  case Some(cur) if LiteralOrdering.compare(cur, mn).exists(_ <= 0) => Some(cur)
                  case _ => Some(mn)
                }
              for (mx <- parquetStatToLiteral(stats.genericGetMax.asInstanceOf[AnyRef], field.fieldType))
                upperB.updateWith(id) {
                  case Some(cur) if LiteralOrdering.compare(cur, mx).exists(_ >= 0) => Some(cur)
                  case _ => Some(mx)
                }
            }
          }
        }
      }
      // V3 geo columns: parquet's binary min/max over WKB bytes is
      // meaningless for pruning (byte order ≠ spatial order) — the spec's
      // geo bounds are ENVELOPE corner POINTS. One extra read of the file
      // projected to only its geo columns (file-local, no shuffle; geo
      // writes pay one column re-read per file). Plain x/y min/max — a
      // correct, conservative envelope; the antimeridian-wrapped tightening
      // the spec ALLOWS for geography is a writer optimization we skip
      // (the evaluator still honors wrapped bounds from foreign writers).
      val geoBounds = geoEnvelopeBounds(file, schema)
      DataFileInfo(
        content = DataFileContent.Data, path = file.getPath, format = "PARQUET",
        partition = partition, recordCount = rowCount,
        fileSizeInBytes = file.length(),
        columnSizes = colSizes.toMap, valueCounts = valCounts.toMap,
        // zero entries are kept on purpose: nanCount==0 is positive evidence
        // that lets an isNaN predicate prune the file
        nullValueCounts = nullCounts.toMap, nanValueCounts = nanCounts,
        lowerBounds = lowerB.map { case (k, v) => k -> v.toBytes }.toMap ++
          geoBounds.map { case (k, (lo, _)) => k -> lo },
        upperBounds = upperB.map { case (k, v) => k -> v.toBytes }.toMap ++
          geoBounds.map { case (k, (_, hi)) => k -> hi },
        splitOffsets = splitOffsets, equalityIds = Nil, sortOrderId = Some(0))
    } finally reader.close()
  }

  /** Per-geo-column (lower, upper) bound bytes — envelope corners as POINT
    * WKB — computed by re-reading the written file projected to its geo
    * columns through the scan's reader. Empty when the schema has no geo
    * columns or the file holds none of them. A column whose every value is
    * null/unparseable gets no bounds (prune-safe). */
  private def geoEnvelopeBounds(file: File, schema: Schema)
      : Map[Int, (Array[Byte], Array[Byte])] = {
    val geoFields = schema.fields.filter(f => f.fieldType match {
      case _: GeometryT | _: GeographyT => true
      case _ => false
    })
    if (geoFields.isEmpty) return Map.empty
    val footer = GraftReaders.footerInfo(file.getPath)
    val sparkSchema = SchemaConv.toSparkSchema(schema)
    val geo = geoFields.map(f => (sparkSchema(f.name), f.id))
      .filter { case (sf, _) => GraftReaders.holds(footer, sf, Seq(sf.name)) }
    if (geo.isEmpty) return Map.empty
    val env = scala.collection.mutable.Map[Int, (Double, Double, Double, Double)]()
    val r = GraftReaders.fileRows(file.getPath,
      org.apache.spark.sql.types.StructType(geo.map(_._1)))
    try while (r.nextKeyValue()) {
      val row = r.getCurrentValue
      geo.indices.filterNot(row.isNullAt).foreach { i =>
        graft.core.Wkb.envelope(row.getBinary(i)).foreach {
          case (xmin, ymin, xmax, ymax) =>
            env.updateWith(geo(i)._2) {
              case Some((lx, ly, ux, uy)) => Some((math.min(lx, xmin),
                math.min(ly, ymin), math.max(ux, xmax), math.max(uy, ymax)))
              case None => Some((xmin, ymin, xmax, ymax))
            }
        }
      }
    } finally r.close()
    env.map { case (id, (lx, ly, ux, uy)) =>
      id -> (graft.core.Wkb.pointWkb(lx, ly), graft.core.Wkb.pointWkb(ux, uy))
    }.toMap
  }

  /** ORC footer → per-file Iceberg stats: orc-core's per-file column
    * statistics mapped to counts and (for int/long/date/float/double/
    * string columns) min/max bounds — bounds are emitted only where the
    * mapping is exact, so pruning stays correct-or-conservative. Metadata
    * read only. */
  private def statsFromOrc(file: File, schema: Schema,
                           partition: Map[String, Any],
                           nanCounts: Map[Int, Long]): DataFileInfo = {
    import org.apache.orc.OrcFile
    val reader = OrcFile.createReader(new Path(file.getPath),
      OrcFile.readerOptions(new Configuration()))
    try {
      val rowCount = reader.getNumberOfRows
      val splitOffsets = reader.getStripes.asScala.map(_.getOffset).toSeq.sorted
      val names = reader.getSchema.getFieldNames.asScala.toSeq
      val stats = reader.getStatistics // index 0 = root struct
      val valCounts = scala.collection.mutable.Map[Int, Long]()
      val nullCounts = scala.collection.mutable.Map[Int, Long]()
      val lowerB = scala.collection.mutable.Map[Int, Array[Byte]]()
      val upperB = scala.collection.mutable.Map[Int, Array[Byte]]()
      names.zipWithIndex.foreach { case (name, i) =>
        schema.findFieldByName(name).foreach { field =>
          // flat schemas: top-level child i is orc column i+1
          val s = stats(i + 1)
          valCounts(field.id) = rowCount
          nullCounts(field.id) = rowCount - s.getNumberOfValues
          def put(mn: Option[Literal], mx: Option[Literal]): Unit =
            if (s.getNumberOfValues > 0) {
              mn.foreach(l => lowerB(field.id) = l.toBytes)
              mx.foreach(l => upperB(field.id) = l.toBytes)
            }
          (s, field.fieldType) match {
            case (ic: org.apache.orc.IntegerColumnStatistics, IntT) =>
              put(Some(IntLit(ic.getMinimum.toInt)), Some(IntLit(ic.getMaximum.toInt)))
            case (ic: org.apache.orc.IntegerColumnStatistics, LongT) =>
              put(Some(LongLit(ic.getMinimum)), Some(LongLit(ic.getMaximum)))
            case (ic: org.apache.orc.IntegerColumnStatistics, DateT) =>
              put(Some(DateLit(ic.getMinimum.toInt)), Some(DateLit(ic.getMaximum.toInt)))
            case (dc: org.apache.orc.DoubleColumnStatistics, FloatT) =>
              put(Some(FloatLit(dc.getMinimum.toFloat)), Some(FloatLit(dc.getMaximum.toFloat)))
            case (dc: org.apache.orc.DoubleColumnStatistics, DoubleT) =>
              put(Some(DoubleLit(dc.getMinimum)), Some(DoubleLit(dc.getMaximum)))
            case (sc: org.apache.orc.StringColumnStatistics, StringT)
                if sc.getMinimum != null && sc.getMaximum != null =>
              put(Some(StrLit(sc.getMinimum)), Some(StrLit(sc.getMaximum)))
            case _ => // no exact mapping → no bounds (prune-safe)
          }
        }
      }
      DataFileInfo(
        content = DataFileContent.Data, path = file.getPath, format = "ORC",
        partition = partition, recordCount = rowCount,
        fileSizeInBytes = file.length(),
        columnSizes = Map.empty, valueCounts = valCounts.toMap,
        nullValueCounts = nullCounts.toMap, nanValueCounts = nanCounts,
        lowerBounds = lowerB.toMap, upperBounds = upperB.toMap,
        splitOffsets = splitOffsets, equalityIds = Nil, sortOrderId = Some(0))
    } finally reader.close()
  }

  private def parquetStatToLiteral(v: AnyRef, t: IcebergType): Option[Literal] = (v, t) match {
    case (null, _) => None
    case (i: java.lang.Integer, IntT) => Some(IntLit(i))
    case (i: java.lang.Integer, DateT) => Some(DateLit(i))
    case (l: java.lang.Long, LongT) => Some(LongLit(l))
    case (l: java.lang.Long, TimestampT | TimestampTzT) => Some(TsLit(l))
    case (l: java.lang.Long, TimeT) => Some(TimeLit(l))
    case (f: java.lang.Float, FloatT) => Some(FloatLit(f))
    case (d: java.lang.Double, DoubleT) => Some(DoubleLit(d))
    case (b: java.lang.Boolean, BooleanT) => Some(BoolLit(b))
    case (b: org.apache.parquet.io.api.Binary, StringT) =>
      Some(StrLit(b.toStringUsingUTF8))
    case (b: org.apache.parquet.io.api.Binary, BinaryT) => Some(BytesLit(b.getBytes))
    case (b: org.apache.parquet.io.api.Binary, DecimalT(_, s)) =>
      Some(DecLit(BigInt(new java.math.BigInteger(b.getBytes)), s))
    case (i: java.lang.Integer, DecimalT(_, s)) => Some(DecLit(BigInt(i.intValue()), s))
    case (l: java.lang.Long, DecimalT(_, s)) => Some(DecLit(BigInt(l.longValue()), s))
    case _ => None
  }
}
