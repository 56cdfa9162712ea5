package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DataFileContent, ManifestEntryStatus, ManifestIO, OpReplace,
  Snapshot}
import graft.spark.IcebergTable

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
  *   - `delete` (MoR) → the tombstoned rows as `delete`: positional
  *     tombstones join the parent scan on (path, pos); equality keys
  *     semi-join it on the key columns
  *   - `replace` (compaction) → skipped: rewrites carry rows the
  *     changelog already delivered
  *
  * Scale: resolution is metadata-only (the window's own manifests — never
  * a diff of whole snapshots); each emitted piece is a distributed
  * path-restricted scan, so work is O(changed files + matched tombstones),
  * not O(table). */
object Changelog {

  final case class ChangeSet(snapshot: Snapshot,
                             addedPaths: Set[String],
                             removedPaths: Set[String],
                             posDeletePaths: Seq[String],
                             eqDeletes: Seq[(Seq[Int], String)],
                             // V3 deletion vectors added by the commit:
                             // (referenced data file, puffin path, offset,
                             // length)
                             dvDeletes: Seq[(String, String, Long, Long)] = Nil)

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
        val newDeleteFiles = entries.collect { case (m, es) if m.content == 1 =>
          es.filter(e => e.status == ManifestEntryStatus.Added &&
            e.sequenceNumber.contains(s.sequenceNumber))
        }.flatten
        val (dvs, posFiles) = newDeleteFiles
          .filter(_.dataFile.content == DataFileContent.PositionDeletes)
          .partition(_.dataFile.isDeletionVector)
        ChangeSet(s, added, removed,
          posDeletePaths = posFiles.map(_.dataFile.path),
          eqDeletes = newDeleteFiles
            .filter(_.dataFile.content == DataFileContent.EqualityDeletes)
            .map(e => (e.dataFile.equalityIds, e.dataFile.path)),
          dvDeletes = dvs.map(e => (e.dataFile.referencedDataFile.get,
            e.dataFile.path, e.dataFile.contentOffset.get,
            e.dataFile.contentSizeInBytes.get)))
      }
      .filter(c => c.addedPaths.nonEmpty || c.removedPaths.nonEmpty ||
        c.posDeletePaths.nonEmpty || c.eqDeletes.nonEmpty ||
        c.dvDeletes.nonEmpty)
  }

  /** The changelog DataFrame: table columns plus `_change_type`
    * (`insert`/`delete`), `_commit_snapshot_id`, `_commit_sequence`,
    * ordered by commit. Window is `(fromSnapshotId, toSnapshotId]`;
    * `fromSnapshotId = None` means "everything retained" — over a table
    * with expired history it reports the changes recorded by the
    * retained commits (the lineage walk stops at the oldest retained
    * ancestor).
    *
    * `removeCarryovers` (default true, matching Iceberg's
    * `create_changelog_view`): a copy-on-write commit rewrites whole
    * files, so rows merely COPIED to a new file would surface as a
    * delete at the parent plus an identical insert — per commit, those
    * pairs cancel via a multiset difference (`exceptAll`) on the data
    * columns, leaving only genuine changes. The extra shuffle is
    * O(changed files) and only paid by commits that both add and remove
    * files. */
  def changelogDF(spark: SparkSession, table: IcebergTable,
                  fromSnapshotId: Option[Long],
                  toSnapshotId: Option[Long] = None,
                  removeCarryovers: Boolean = true,
                  includeRowLineage: Boolean = false): DataFrame = {
    val md = table.metadata
    def seqOf(id: Long): Long = md.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $id not found in ${table.location}")).sequenceNumber
    val fromSeq = fromSnapshotId.map(seqOf).getOrElse(0L)
    val toSeq = toSnapshotId.map(seqOf)
      .orElse(md.currentSnapshot.map(_.sequenceNumber)).getOrElse(0L)

    val norm = (c: Column) => regexp_replace(c, "^file:(//)?", "")
    // With row lineage on, `_row_id` identifies rows across commits (V3
    // tables only; null for pre-lineage files). Carryover cancel then
    // matches on the FULL row incl. _row_id: MoR commits preserve ids so
    // pairs cancel exactly; CoW rewrites reassign ids (this engine's
    // documented fresh-id model), so rewritten rows surface as
    // delete(old id) + insert(new id) — truthful under that model.
    val outCols = graft.spark.SchemaConv.toSparkSchema(table.schema).fieldNames ++
      (if (includeRowLineage) Seq("_row_id") else Nil)

    def stamp(df: DataFrame, tpe: String, s: Snapshot): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(s.snapshotId))
        .withColumn("_commit_sequence", lit(s.sequenceNumber))
    val project = (df: DataFrame) => df.select(outCols.map(col).toIndexedSeq: _*)
    // rows live at `snapshotId`, as output columns (+ the scheme-less file
    // path and row position, the coordinates tombstones name)
    def rowsAt(snapshotId: Option[Long]): DataFrame =
      project(table.newScan(snapshotId = snapshotId).toDF(spark))
    def rowsWithPosAt(snapshotId: Option[Long]): DataFrame =
      table.newScan(snapshotId = snapshotId).toDF(spark)
        .select(outCols.map(col).toIndexedSeq ++ Seq(
          norm(col(graft.spark.GraftReaders.FileCol)).as("__path"),
          col(graft.spark.GraftReaders.PosCol).as("__pos")): _*)
    // rows of just `paths` (scan pruned to those files)
    def fileRowsAt(snapshotId: Option[Long], paths: Set[String]): DataFrame =
      project(table.newScan(snapshotId = snapshotId).toDF(spark)
        .filter(col(graft.spark.GraftReaders.FileCol).isin(paths.toSeq: _*)))

    val pieces = changedFilesInWindow(table, fromSeq, toSeq,
      stopAtRetained = fromSnapshotId.isEmpty).flatMap { c =>
      val s = c.snapshot
      val ins = Seq.newBuilder[DataFrame]
      val del = Seq.newBuilder[DataFrame]
      if (c.addedPaths.nonEmpty)
        ins += fileRowsAt(Some(s.snapshotId), c.addedPaths)
      val parent = s.parentSnapshotId
      if (c.removedPaths.nonEmpty) {
        // removed files read at the PARENT snapshot so tombstones that
        // already applied there don't resurface as deletes here
        require(parent.isDefined, "removed files in a parentless snapshot")
        del += fileRowsAt(parent, c.removedPaths)
      }
      if (c.posDeletePaths.nonEmpty && parent.isDefined) {
        val parentRows = rowsWithPosAt(parent)
        val tombstones = spark.read.parquet(c.posDeletePaths: _*)
          .select(norm(col("file_path")).as("__del_path"),
            col("pos").as("__del_pos"))
        del += project(parentRows.join(tombstones,
          col("__path") === col("__del_path") &&
            col("__pos") === col("__del_pos"), "left_semi"))
      }
      if (c.dvDeletes.nonEmpty && parent.isDefined) {
        // deletion-vector commit: the newly-dead rows are the PARENT's
        // live rows matched by the new bitmaps. Rows the DV merely merged
        // in from older tombstones were already dead at the parent, so the
        // parent scan excludes them — no over-reporting. Bitmaps decode
        // executor-side (one task per blob), same as the batch read path.
        import spark.implicits._
        val refs = c.dvDeletes.map { case (target, path, off, len) =>
          (target.replaceFirst("^file:(//)?", ""), path, off, len)
        }
        val tombstones = spark.createDataset(refs)
          .flatMap { case (target, path, off, len) =>
            val bm = graft.core.Puffin.readDvBlob(graft.core.Puffin.readBlob(
              path.replaceFirst("^file:(//)?", ""), off, len))
            val out = Vector.newBuilder[(String, Long)]
            bm.forEach(p => out += ((target, p)))
            out.result()
          }.toDF("__dv_path", "__dv_pos")
        val parentRows = rowsWithPosAt(parent)
        del += project(parentRows.join(tombstones,
          col("__path") === col("__dv_path") &&
            col("__pos") === col("__dv_pos"), "left_semi"))
      }
      c.eqDeletes.groupBy(_._1).foreach { case (eqIds, files) =>
        if (parent.isDefined) {
          val keyCols = eqIds.flatMap(id => table.schema.findColumnName(id))
          require(keyCols.size == eqIds.size,
            s"equality ids $eqIds not resolvable in current schema")
          val keys = spark.read.parquet(files.map(_._2).distinct: _*)
            .select(keyCols.map(col).toIndexedSeq: _*).distinct()
          // a USING join leads with its keys: re-project to outCols order
          del += project(rowsAt(parent).join(broadcast(keys), keyCols, "left_semi"))
        }
      }
      val insDF = ins.result().reduceOption(_.unionAll(_))
      val delDF = del.result().reduceOption(_.unionAll(_))
      (insDF, delDF) match {
        // a commit that both adds and removes files is a rewrite: cancel
        // the copied-row pairs so only genuine changes surface
        case (Some(i), Some(d)) if removeCarryovers =>
          Seq(stamp(i.exceptAll(d), "insert", s), stamp(d.exceptAll(i), "delete", s))
        case _ =>
          insDF.map(stamp(_, "insert", s)).toSeq ++
            delDF.map(stamp(_, "delete", s)).toSeq
      }
    }

    if (pieces.isEmpty) {
      val empty = org.apache.spark.sql.types.StructType(
        graft.spark.SchemaConv.toSparkSchema(table.schema).fields ++
        (if (includeRowLineage)
           Seq(org.apache.spark.sql.types.StructField("_row_id",
             org.apache.spark.sql.types.LongType))
         else Nil) ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_snapshot_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_sequence",
            org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        empty)
    } else pieces.reduce(_.unionAll(_))
  }
}
