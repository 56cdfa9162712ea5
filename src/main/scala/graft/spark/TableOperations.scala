package graft.spark

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.catalog.{AddSnapshot, CommitConflictError, LoadedTable, MetadataUpdates, RestCatalog, TableRequirement, TableUpdate}
import graft.core.{MetadataLogEntry, TableMetadata}

/** Where a table's commits land — Iceberg Java's `TableOperations` shape.
  * Every [[IcebergTable]] handle carries one, so each Iceberg operation in
  * [[TableWriter]] is written once: it stages its requirements and
  * updates (the REST spec's update actions) and calls [[commit]], whether
  * the table's catalog of record is a metadata directory or a REST
  * server. A lost race surfaces as [[graft.catalog.CommitConflictError]]
  * on both planes. */
trait TableOperations {

  /** A fresh handle on the table's latest committed state (Iceberg's
    * refresh-then-current). */
  def current(): IcebergTable

  /** Land `updates` on top of `base` iff every requirement holds and no
    * other commit got in first; returns a handle on the committed state.
    * `base` is the metadata the caller staged from — the handle's own. */
  def commit(base: TableMetadata, requirements: Seq[TableRequirement],
             updates: Seq[TableUpdate]): IcebergTable

  /** The handle an APPEND stages its snapshot against once its data files
    * are written. Appends commute, so a plane whose guard is the branch
    * head may re-load here and narrow the conflict window to the commit
    * itself; a plane whose guard is the handle's version must keep the
    * caller's handle, so a stale handle conflicts. */
  def appendBase(handle: IcebergTable): IcebergTable
}

/** File-backed commits: `v<N>.metadata.json` under `<location>/metadata`.
  *
  * Guard: a compare-and-swap on the metadata VERSION. The handle was
  * loaded at version N; its commit hard-links version N+1 into place,
  * which fails if that file exists — so any commit that landed after the
  * handle was loaded (a concurrent append, a property change, anything)
  * conflicts, and the caller reloads and re-stages. Requirements are
  * checked against `base` and updates applied by the shared
  * [[graft.catalog.MetadataUpdates]] applier, the same code a REST server
  * runs. Each commit appends the base file to the metadata log, trims the
  * log to `write.metadata.previous-versions-max`, writes the version hint
  * after the swap, and (opt-in) deletes retired version files only after
  * the swap succeeded. */
final class FileTableOperations(table: IcebergTable) extends TableOperations {

  def current(): IcebergTable = IcebergTables.load(table.location)

  def appendBase(handle: IcebergTable): IcebergTable = handle

  def commit(base: TableMetadata, requirements: Seq[TableRequirement],
             updates: Seq[TableUpdate]): IcebergTable = {
    val applied = MetadataUpdates.commit(base, requirements, updates)
    val logged =
      if (table.metadataPath.isEmpty) applied.metadataLog
      else base.metadataLog :+
        MetadataLogEntry(table.metadataPath, base.lastUpdatedMs)
    val version = table.loadedVersion + 1
    val file = FileTableOperations.write(table.location, applied.copy(
      lastUpdatedMs = System.currentTimeMillis(), metadataLog = logged), version)
    IcebergTables.loadFile(table.location, file)
  }
}

object FileTableOperations {

  /** How many PREVIOUS metadata files a table retains (spec property;
    * Iceberg's default). The current file never counts against it. */
  private def previousVersionsMax(md: TableMetadata): Int =
    md.properties.get("write.metadata.previous-versions-max")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(100)

  /** Write `md0` as version `version` of the table at `location`; returns
    * the written file. */
  private[spark] def write(location: String, md0: TableMetadata,
                           version: Int): File = {
    val metaDir = new File(location, "metadata"); metaDir.mkdirs()
    // metadata-log retention (spec `write.metadata.previous-versions-max`):
    // the log tracks previous metadata files and is truncated oldest-first
    // beyond the cap on EVERY commit — a 100-TB table commits millions of
    // times, and an unbounded log makes the metadata file itself grow
    // without bound
    val keep = previousVersionsMax(md0)
    val md = if (md0.metadataLog.size > keep)
      md0.copy(metadataLog = md0.metadataLog.takeRight(keep)) else md0
    val tmp = new File(metaDir, s".v$version.metadata.json.tmp-${System.nanoTime()}")
    Files.write(tmp.toPath, md.toJson.getBytes(StandardCharsets.UTF_8))
    val dst = new File(metaDir, s"v$version.metadata.json")
    // COMPARE-AND-SWAP commit: a hard link creation is atomic and FAILS if
    // the target exists (unlike POSIX rename, which silently replaces), so
    // two writers racing to version N cannot clobber each other — the
    // loser gets a CommitConflictError and can reload + retry. Readers see
    // either the old or the new version, never a partial file.
    try Files.createLink(dst.toPath, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp.toPath)
        throw new CommitConflictError(
          s"metadata version $version of $location was committed concurrently")
    }
    Files.deleteIfExists(tmp.toPath)
    Files.write(new File(metaDir, "version-hint.text").toPath,
      version.toString.getBytes(StandardCharsets.UTF_8))
    // `write.metadata.delete-after-commit.enabled`: after a SUCCESSFUL
    // commit, physically delete metadata files older than the retained
    // window (current + the newest `keep` previous). Opt-in — the failure
    // mode of deleting under a concurrent slow reader is the operator's
    // call, exactly as in Iceberg. Only version files are touched; the
    // deletion happens after the CAS, so a failed commit never deletes.
    if (md.properties.get("write.metadata.delete-after-commit.enabled")
        .exists(_.equalsIgnoreCase("true"))) {
      val cutoff = version - keep // keep (cutoff..version-1) + current
      Option(metaDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
        .filter(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toInt < cutoff)
        .foreach(f => Files.deleteIfExists(f.toPath))
    }
    dst
  }
}

/** REST-cataloged commits: the spec's `updateTable` route.
  *
  * Guard: the requirements themselves, re-checked atomically by the
  * server — `assert-table-uuid`, plus `assert-ref-snapshot-id` on the
  * branch a snapshot commit moves (or `assert-current-schema-id` for
  * schema evolution). A commit that moved the guarded ref after `base`
  * was loaded answers 409, surfaced as
  * [[graft.catalog.CommitConflictError]]; commits that leave the ref alone
  * (a property change, a new tag) do not conflict. After a commit lands,
  * `afterCommit` runs (the owning Spark catalog drops its metadata-cache
  * entry there) and V3 row lineage is verified: a server that ignores a
  * snapshot's `first-row-id` would hand the same row ids out twice.
  * `bound` is the load this handle came from; its IO config and vended
  * credentials carry over to the handles commits return. */
final class RestTableOperations(val catalog: RestCatalog,
                                bound: LoadedTable,
                                afterCommit: () => Unit) extends TableOperations {

  def identifier: Seq[String] = bound.identifier

  def current(): IcebergTable = handle(catalog.loadTable(identifier))

  def appendBase(h: IcebergTable): IcebergTable = current()

  def commit(base: TableMetadata, requirements: Seq[TableRequirement],
             updates: Seq[TableUpdate]): IcebergTable = {
    val committed = catalog.commitTable(identifier, requirements, updates)
    afterCommit()
    RestTableOperations.verifyLineage(identifier, updates,
      committed.metadata.nextRowId)
    handle(committed.copy(config = bound.config,
      storageCredentials = bound.storageCredentials))
  }

  private def handle(loaded: LoadedTable): IcebergTable =
    TableWriter.restTableOf(loaded, catalog, afterCommit)
}

object RestTableOperations {

  /** The row-id watermark each staged V3 snapshot in `updates` must
    * advance the table past: its `first-row-id` plus the rows it added. */
  private def lineageWatermark(updates: Seq[TableUpdate]): Option[Long] =
    updates.collect { case AddSnapshot(s) => s }.flatMap(s =>
      s.firstRowId.map(_ + s.summary.flatMap(_.properties.get("added-records"))
        .map(_.toLong).getOrElse(0L))).maxOption

  /** A server whose update applier ignores AddSnapshot's first-row-id
    * would hand the SAME base to the next commit — duplicate _row_id is
    * silent corruption for every incremental consumer, so fail loudly. */
  def verifyLineage(identifier: Seq[String], updates: Seq[TableUpdate],
                    serverNext: => Option[Long]): Unit =
    lineageWatermark(updates).foreach { stampedPast =>
      val next = serverNext.getOrElse(0L)
      require(next >= stampedPast,
        s"REST catalog did not advance next-row-id past " +
          s"${identifier.mkString(".")}'s committed rows (stamped through " +
          s"$stampedPast, server next-row-id $next): " +
          "the server does not apply AddSnapshot row lineage — refusing to " +
          "continue with duplicate _row_id assignment")
    }
}
