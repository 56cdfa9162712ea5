package graft.spark

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core._

/** Table façade (parity with `table/table.go:65-109`): metadata accessors,
  * refresh, scan construction — plus the execution the reference never had:
  * `TableScan.toDF` is a DataFrame over the DSv2 scan, which plans files
  * through the core planner (two-level pruning + stats skipping + MoR
  * delete matching) and decodes them with Spark's vectorized Parquet
  * reader. Planning is driver-side O(metadata); row decode is distributed,
  * splittable, and codegen'd. */
final class IcebergTable(val location: String, val metadataPath: String,
                         val metadata: TableMetadata, val io: FileIO,
                         /** The property map `io` was built from — table
                           * properties MERGED with catalog-supplied config
                           * (REST `config` can carry object-store
                           * credentials/endpoints the metadata doesn't).
                           * Executor-side FileIO rebuilds (distributed
                           * planning) must use THIS map, not
                           * `metadata.properties` alone. */
                         val ioProps: Map[String, String] = Map.empty,
                         /** Catalog-side scan planning (the REST spec's
                           * plan/tasks routes), wired by
                           * [[TableWriter.restTableOf]] when the serving
                           * catalog advertises the capability. None — the
                           * universal default — plans driver-side. */
                         val remotePlanner: Option[graft.catalog.RemoteScanPlanner] = None,
                         /** Scan telemetry (the REST spec's `metrics`
                           * route), wired like [[remotePlanner]]; reports
                           * are fire-and-forget. */
                         val scanMetricsReporter: Option[graft.catalog.ScanMetricsReporter] = None,
                         /** Binds the handle's commit target: file-backed
                           * by default, REST via [[TableWriter.restTableOf]]. */
                         bindOps: IcebergTable => TableOperations =
                           new FileTableOperations(_)) {

  /** Where this handle's commits land (see [[TableOperations]]). */
  lazy val ops: TableOperations = bindOps(this)

  /** Effective IO properties: the explicit merged map when provided,
    * else the table's own properties. */
  def effectiveIoProps: Map[String, String] =
    if (ioProps.nonEmpty) ioProps else metadata.properties

  /** Metadata version this table was loaded at — file-backed commits pin
    * their CAS to `loadedVersion + 1`, so a writer holding stale state
    * conflicts instead of silently dropping a concurrent commit. */
  def loadedVersion: Int =
    "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(metadataPath)
      .map(_.group(1).toInt).getOrElse(0)

  def schema: Schema = metadata.currentSchema
  def spec: PartitionSpec = metadata.partitionSpec
  def sortOrder: SortOrder = metadata.sortOrder
  def properties: Map[String, String] = metadata.properties
  def currentSnapshot: Option[Snapshot] = metadata.currentSnapshot

  /** Re-load metadata from the catalog/file system (table.go:100-109). */
  def refresh(): IcebergTable = ops.current()

  def newScan(filter: BooleanExpression = AlwaysTrue,
              selected: Seq[String] = Nil,
              snapshotId: Option[Long] = None,
              ref: Option[String] = None,
              asOfTimestampMs: Option[Long] = None,
              caseSensitive: Boolean = true,
              // false pins the scan to driver-side planning; commit-path
              // scans need per-task manifest provenance / data sequence
              // numbers, which the REST plan wire format does not carry
              remotePlanningOk: Boolean = true): TableScan =
    TableScan(this, filter, selected, snapshotId, ref, asOfTimestampMs,
      caseSensitive, remotePlanningOk)

  // ------------------------------------------------------- metadata tables
  /** `table.snapshots`-style metadata relations, themselves Spark queries. */
  def snapshotsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshots.map(s => (s.snapshotId, s.parentSnapshotId, s.sequenceNumber,
      s.timestampMs, s.summary.map(_.operation.repr).getOrElse(""), s.manifestList))
      .toDF("snapshot_id", "parent_id", "sequence_number", "committed_at_ms",
        "operation", "manifest_list")
  }

  def historyDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshotLog.map(e => (e.timestampMs, e.snapshotId))
      .toDF("made_current_at_ms", "snapshot_id")
  }

  def refsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.refs.toSeq.map { case (name, r) =>
      (name, r.refType.repr, r.snapshotId)
    }.toDF("name", "type", "snapshot_id")
  }

  def filesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planFiles().map { t =>
      (t.file.path, t.file.format, t.file.recordCount, t.file.fileSizeInBytes,
        t.deleteFiles.size)
    }.toDF("file_path", "file_format", "record_count", "file_size_in_bytes",
      "delete_files")
  }

  /** Per-partition rollup (file/record/byte/delete-file counts) computed as
    * a distributed job over the files scan — see
    * [[MetadataTables.partitionsAgg]]. */
  def partitionsDF(spark: SparkSession): DataFrame =
    MetadataTables.partitionsAgg(spark, this)

  def manifestsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.toSeq.flatMap { s =>
      ManifestIO.readManifestList(io.open(s.manifestList))
    }.map(m => (m.path, m.length, m.partitionSpecId, m.content, m.sequenceNumber,
      m.addedFilesCount, m.existingFilesCount, m.deletedFilesCount))
      .toDF("path", "length", "partition_spec_id", "content", "sequence_number",
        "added_files", "existing_files", "deleted_files")
  }
}

object TableScan {
  /** Diagnostic: total planFiles invocations in this JVM (specs assert
    * planning work per query, e.g. one plan per agg-pushdown query). */
  val planFilesCalls = new java.util.concurrent.atomic.AtomicLong()
}

final case class TableScan(table: IcebergTable, filter: BooleanExpression,
                           selected: Seq[String], snapshotId: Option[Long],
                           ref: Option[String], asOfTimestampMs: Option[Long],
                           caseSensitive: Boolean,
                           remotePlanningOk: Boolean = true) {

  def planFiles(): Seq[FileScanTask] = {
    TableScan.planFilesCalls.incrementAndGet()
    val t0 = System.nanoTime()
    // catalog-side planning first when the table rides a plan-capable REST
    // catalog; any refusal (inexpressible filter, capability off, server
    // failure) falls back to the driver-side planner below — the client
    // holds the full metadata tree, so local is always correct
    val remote =
      if (remotePlanningOk) table.remotePlanner.flatMap(
        _.plan(filter, snapshotId, ref, asOfTimestampMs, caseSensitive))
      else None
    val tasks = remote.getOrElse(new ScanPlanner(table.io, table.metadata)
      .planFiles(filter, snapshotId, ref, asOfTimestampMs, caseSensitive,
        DistributedPlanner.decoder(table)))
    // scan telemetry (REST `metrics` route): what this scan planned,
    // whether server-side or local — fire-and-forget by contract.
    // result-delete-files means DISTINCT delete files (a delete file
    // referenced by N data-file tasks counts once), and the reported
    // snapshot is the scan's RESOLVED pin, not the table's current.
    table.scanMetricsReporter.foreach { r =>
      val reportSnapshot = snapshotId
        .orElse(ref.flatMap(table.metadata.snapshotByName).map(_.snapshotId))
        .orElse(asOfTimestampMs.flatMap(table.metadata.snapshotAsOfTime)
          .map(_.snapshotId))
        .orElse(table.currentSnapshot.map(_.snapshotId))
      r.report(reportSnapshot, filter, selected, tasks.size.toLong,
        tasks.iterator.flatMap(_.deleteFiles.iterator.map(_.path))
          .toSet.size.toLong,
        System.nanoTime() - t0)
    }
    tasks
  }

  /** Execute: a DataFrame over the DSv2 relation of this scan's handle
    * ([[GraftSparkTable]] → [[GraftScan]]), the one read path. Planning
    * is lazy but pinned: the relation holds this handle's immutable
    * metadata, and explicit time travel resolves to one snapshot here.
    * Merge-on-read deletes, name mapping and column defaults apply inside
    * the scan's per-partition readers; `filter` prunes files through
    * predicate pushdown and is re-applied row-wise; `selected` projects.
    *
    * Row provenance comes from the relation's metadata columns — `_file`,
    * `_pos`, `_row_id`, `_last_updated_sequence_number` — selected before
    * any projection (`toDF(spark).select(col("*"), col("_pos"))`); a
    * `_file IN (...)` / `_file = ...` filter restricts the planned file
    * set. */
  def toDF(spark: SparkSession): DataFrame = {
    val pinned = table.metadata.pinnedSnapshot(snapshotId, ref, asOfTimestampMs)
    var df = org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftSparkTable(table, pinned.map(_.snapshotId), wapReads = false),
        None, None))
    if (filter != AlwaysTrue) df = df.filter(FilterConv.toColumn(filter))
    if (selected.nonEmpty && !selected.contains("*"))
      df = df.select(selected.map(col): _*)
    df
  }
}

object IcebergTables {

  /** Parsed-metadata cache, keyed by CONTENT hash (path + byte length +
    * MD5 of the bytes). What this saves is re-PARSING the same multi-MB
    * metadata JSON on every query of a hot table: at 10⁵ snapshots the
    * parse dominates local plan latency, while the read+hash it costs is
    * an order of magnitude cheaper than the parse. A (path, size, mtime)
    * key would be cheaper still but unsound at the edge: drop + recreate
    * a table at the same location and v1.metadata.json reappears at the
    * same path — with coarse filesystem mtime granularity and an equal
    * byte length, a stale entry would serve the OLD table's metadata.
    * Hashing the bytes makes staleness impossible by construction.
    * Bounded LRU; TableMetadata is an immutable case-class tree, safe to
    * share. FRESHNESS still comes from re-resolving the latest version on
    * every load. */
  private val ParseCacheMax = 64
  private val parseCache =
    new java.util.LinkedHashMap[(String, Long, String), TableMetadata](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), TableMetadata]): Boolean =
        size() > ParseCacheMax
    }

  private def parseCached(metadataFile: File): TableMetadata = {
    val bytes = java.nio.file.Files.readAllBytes(metadataFile.toPath)
    val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val key = (metadataFile.getPath, bytes.length.toLong,
      java.util.Base64.getEncoder.encodeToString(digest))
    parseCache.synchronized {
      val hit = parseCache.get(key)
      if (hit != null) return hit
    }
    val md = TableMetadata.parse(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    parseCache.synchronized { parseCache.put(key, md) }
    md
  }

  /** Load a table from a metadata JSON path or a table directory (resolves
    * the latest `metadata/v*.metadata.json`, preferring `version-hint.text`). */
  def load(path: String): IcebergTable = {
    val p = path.stripPrefix("file://")
    val metadataFile =
      if (p.endsWith(".json")) new File(p)
      else resolveLatest(new File(p))
    val loc = if (p.endsWith(".json")) metadataFile.getParentFile.getParentFile.getPath
      else p
    loadFile(loc, metadataFile)
  }

  /** The table at `location` as of one specific metadata file. */
  private[spark] def loadFile(location: String, metadataFile: File): IcebergTable =
    new IcebergTable(location, metadataFile.getPath, parseCached(metadataFile),
      LocalFileIO)

  private def resolveLatest(tableDir: File): File = {
    val metaDir = new File(tableDir, "metadata")
    // The hint is written AFTER the CAS commit, so under concurrent writers
    // it can lag the latest version — reconcile against the listing and
    // take the larger (correctness over the listing-free fast path).
    val hintVersion: Option[Int] = {
      val hint = new File(metaDir, "version-hint.text")
      if (!hint.exists()) None
      else new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim.toIntOption
    }
    val candidates = Option(metaDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("v\\d+\\.metadata\\.json"))
    val maxListed = candidates
      .map(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt)
      .maxOption
    (hintVersion, maxListed) match {
      case (Some(h), Some(m)) =>
        val v = math.max(h, m)
        val f = new File(metaDir, s"v$v.metadata.json")
        if (f.exists()) return f
      case (Some(h), None) =>
        val f = new File(metaDir, s"v$h.metadata.json")
        if (f.exists()) return f
      case _ =>
    }
    if (candidates.isEmpty)
      throw new IllegalArgumentException(s"no metadata json found under $metaDir")
    candidates.maxBy(f => f.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt)
  }
}
