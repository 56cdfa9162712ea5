package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{DataFileContent, DataFileInfo, FileScanTask,
  ManifestEntryStatus, ManifestIO, OpReplace, Snapshot}
import graft.spark.{GraftReaders, GraftScan, GraftSparkTable, IcebergTable,
  SchemaConv}

/** Row-level CDC over the snapshot log — the `create_changelog_view`
  * surface Iceberg exposes, built from the commit provenance our writer
  * records (every commit names its removed files as DELETED-status
  * manifest entries; see TableWriter).
  *
  * Per-COMMIT semantics, ordered by sequence number:
  *   - `append`    → the added files' rows as `insert`
  *   - `overwrite` → added files as `insert`, removed files (read at the
  *     PARENT snapshot, with the deletes visible there applied — rows
  *     already deleted earlier are not re-reported) as `delete`; rows the
  *     rewrite merely COPIED between files (carryovers) cancel by default
  *   - `delete` (MoR) → the tombstoned rows as `delete`: the reader
  *     applies the commit's new positional, DV and equality tombstones
  *     to the files they touch, as the batch read path applies deletes
  *   - `replace` (compaction) → skipped: rewrites carry rows the
  *     changelog already delivered
  *
  * Scale: resolution is metadata-only (the window's own manifests — never
  * a diff of whole snapshots); a commit's change partitions read only its
  * added and removed files and the files its new tombstones touch, so
  * work is O(changed files), not O(table). */
object Changelog {

  final case class ChangeSet(snapshot: Snapshot,
                             addedPaths: Set[String],
                             removedPaths: Set[String],
                             // delete files the commit added: positional,
                             // equality and V3 deletion vectors (Puffin)
                             newDeletePaths: Set[String])

  /** File-level change resolution for snapshots with sequence in
    * `(fromSeq, toSeq]`. Fails loudly on expired window snapshots (same
    * contract as the appends-only changefeed) unless `stopAtRetained`
    * (the unbounded changelog's "everything retained" contract). */
  def changedFilesInWindow(table: IcebergTable, fromSeq: Long,
                           toSeq: Long,
                           stopAtRetained: Boolean = false): Seq[ChangeSet] = {
    // MAIN-lineage walk (not a sequence filter): unpublished branch
    // commits consume sequence numbers but must not leak into the
    // changelog, and the gaps they leave must not read as expired history
    EventStreams.mainLineageWindow(table, fromSeq, toSeq, stopAtRetained)
      .filterNot(_.summary.exists(_.operation == OpReplace))
      .map { s =>
        // only manifests WRITTEN by this commit (their list sequence is the
        // commit's) can carry its adds/removes — older ones are never read
        val own = ManifestIO.readManifestList(table.io.open(s.manifestList))
          .filter(_.sequenceNumber == s.sequenceNumber)
        val entries = own.map { m =>
          m -> ManifestIO.readManifestEntries(table.io.open(m.path), m,
            discardDeleted = false)
        }
        val added = entries.collect { case (m, es) if m.content == 0 =>
          es.filter(e => e.status == ManifestEntryStatus.Added &&
            e.sequenceNumber.contains(s.sequenceNumber)).map(_.dataFile.path)
        }.flatten.toSet
        val removed = entries.collect { case (m, es) if m.content == 0 =>
          es.filter(e => e.status == ManifestEntryStatus.Deleted &&
            e.snapshotId.contains(s.snapshotId)).map(_.dataFile.path)
        }.flatten.toSet
        val newDeletes = entries.collect { case (m, es) if m.content == 1 =>
          es.filter(e => e.status == ManifestEntryStatus.Added &&
            e.sequenceNumber.contains(s.sequenceNumber)).map(_.dataFile.path)
        }.flatten.toSet
        ChangeSet(s, added, removed, newDeletes)
      }
      .filter(c => c.addedPaths.nonEmpty || c.removedPaths.nonEmpty ||
        c.newDeletePaths.nonEmpty)
  }

  /** The changes of the commits in `(fromSnapshotId, toSnapshotId]`:
    * `toSnapshotId = None` is the current snapshot; `fromSnapshotId =
    * None` means "everything retained" — over a table with expired
    * history the lineage walk stops at the oldest retained ancestor. */
  def changesBetween(table: IcebergTable, fromSnapshotId: Option[Long],
                     toSnapshotId: Option[Long]): Seq[ChangeSet] = {
    val md = table.metadata
    def seqOf(id: Long): Long = md.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $id not found in ${table.location}")).sequenceNumber
    changedFilesInWindow(table, fromSnapshotId.map(seqOf).getOrElse(0L),
      toSnapshotId.map(seqOf)
        .orElse(md.currentSnapshot.map(_.sequenceNumber)).getOrElse(0L),
      stopAtRetained = fromSnapshotId.isEmpty)
  }

  /** The input partitions that read `changes` row by row, stamped with
    * their commit — the one change-scan plan behind the batch changelog
    * and the `read-changes` stream, built on
    * [[graft.spark.GraftScan.taskPartitions]]:
    *   - added files → `insert` rows, read at the commit (its deletes
    *     applied)
    *   - removed files → `delete` rows, read at the PARENT snapshot so
    *     rows already dead there are not re-reported
    *   - new positional, DV and equality tombstones → `delete` rows: only
    *     the data files they touch are read, and the reader emits exactly
    *     the rows the NEW tombstones kill (older tombstones still filter)
    * `initialLoad` adds every live row of that snapshot as its `insert`
    * (a stream's first batch over expired history). Rows a copy-on-write
    * rewrite merely copied surface as a delete+insert pair of the same
    * commit; [[EventStreams.cancelCarryovers]] cancels them. */
  def changePartitions(table: IcebergTable, required: StructType,
                       changes: Seq[ChangeSet],
                       initialLoad: Option[Snapshot] = None): Seq[InputPartition] = {
    def planAt(snapshotId: Long): Seq[FileScanTask] =
      table.newScan(snapshotId = Some(snapshotId)).planFiles()
    def stamp(tpe: String, s: Snapshot) = (tpe, s.snapshotId, s.sequenceNumber)
    // (task, row stamp, the new tombstones whose rows it emits)
    val reads: Seq[(FileScanTask, (String, Long, Long), Seq[DataFileInfo])] =
      initialLoad.toSeq.flatMap(s =>
        planAt(s.snapshotId).map(t => (t, stamp("insert", s), Nil))) ++
      changes.flatMap { c =>
        val s = c.snapshot
        lazy val atCommit = planAt(s.snapshotId)
        lazy val atParent = s.parentSnapshotId.map(planAt).getOrElse(Nil)
        val inserts =
          if (c.addedPaths.isEmpty) Nil
          else atCommit.filter(t => c.addedPaths(t.file.path))
            .map(t => (t, stamp("insert", s), Nil))
        val removed =
          if (c.removedPaths.isEmpty) Nil
          else {
            require(s.parentSnapshotId.isDefined,
              "removed files in a parentless snapshot")
            atParent.filter(t => c.removedPaths(t.file.path))
          }
            .map(t => (t, stamp("delete", s), Nil))
        val killed =
          if (c.newDeletePaths.isEmpty) Nil
          else atCommit.flatMap { t =>
            val (hit, old) = t.deleteFiles.partition(d => c.newDeletePaths(d.path))
            // a new deletion vector merged the file's earlier tombstones
            // (the V3 rule) and the plan hides them: the PARENT's
            // tombstones are the already-dead filter
            val prior =
              if (!hit.exists(_.isDeletionVector)) Nil
              else atParent.find(_.file.path == t.file.path).toSeq
                .flatMap(_.deleteFiles)
                .filter(_.content == DataFileContent.PositionDeletes)
            Option.when(hit.nonEmpty)((
              t.copy(deleteFiles =
                (old ++ prior).distinctBy(d => (d.path, d.contentOffset))),
              stamp("delete", s), hit))
          }
        inserts ++ removed ++ killed
      }
    val maxSplit = GraftScan.maxSplitBytes(reads.map(_._1))
    reads.flatMap { case (t, cdc, hit) =>
      GraftScan.taskPartitions(table, required, t, maxSplit, cdc = Some(cdc),
        cdcMatch = hit)
    }
  }

  /** The changelog DataFrame: table columns plus `_change_type`
    * (`insert`/`delete`), `_commit_snapshot_id`, `_commit_sequence` —
    * a batch read of the `read-changes` scan over `(fromSnapshotId,
    * toSnapshotId]` (see [[changesBetween]] for the window and
    * [[changePartitions]] for what each commit reports).
    *
    * `removeCarryovers` (default true, matching Iceberg's
    * `create_changelog_view`): a copy-on-write commit rewrites whole
    * files, so rows merely COPIED to a new file would surface as a
    * delete at the parent plus an identical insert — those pairs cancel
    * per commit ([[EventStreams.cancelCarryovers]], one shuffle of the
    * changed rows, paid only when the window holds a commit that both
    * adds files and removes or tombstones rows), leaving only genuine
    * changes.
    *
    * With `includeRowLineage`, `_row_id` identifies rows across commits
    * (V3 tables only; null for pre-lineage files) and carryover cancel
    * matches on it too: MoR commits preserve ids so pairs cancel exactly;
    * CoW rewrites reassign ids (this engine's documented fresh-id model),
    * so rewritten rows surface as delete(old id) + insert(new id). */
  def changelogDF(spark: SparkSession, table: IcebergTable,
                  fromSnapshotId: Option[Long],
                  toSnapshotId: Option[Long] = None,
                  removeCarryovers: Boolean = true,
                  includeRowLineage: Boolean = false): DataFrame = {
    val window = (fromSnapshotId.map("start-snapshot-id" -> _.toString) ++
      toSnapshotId.map("end-snapshot-id" -> _.toString)).toMap
    val changes = org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      DataSourceV2Relation.create(
        new GraftSparkTable(table, readChanges = true, wapReads = false),
        None, None, new CaseInsensitiveStringMap(window.asJava)))
    val cols = SchemaConv.toSparkSchema(table.schema).fieldNames.toSeq ++
      (if (includeRowLineage) Seq(GraftReaders.RowIdCol) else Nil) ++
      GraftReaders.CdcCols.map(_.name)
    val df = changes.select(cols.map(col): _*)
    // only a commit that both writes rows and drops others can copy rows:
    // a window of appends and pure deletes (the usual index sync) skips
    // the cancel's shuffle (the window walk is metadata-only)
    val rewrites = removeCarryovers &&
      changesBetween(table, fromSnapshotId, toSnapshotId).exists(c =>
        c.addedPaths.nonEmpty &&
          (c.removedPaths.nonEmpty || c.newDeletePaths.nonEmpty))
    if (rewrites) EventStreams.cancelCarryovers(df) else df
  }
}
