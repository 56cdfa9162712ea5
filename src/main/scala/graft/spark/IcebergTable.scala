package graft.spark

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, regexp_replace}

import graft.core._

/** Table façade (parity with `table/table.go:65-109`): metadata accessors,
  * refresh, scan construction — plus the execution the reference never had:
  * `TableScan.toDF` plans files through the core planner (two-level pruning +
  * stats skipping + MoR delete matching) and hands the pruned file set to
  * Spark's vectorized Parquet reader. Planning is driver-side O(metadata);
  * row decode is distributed, splittable, and codegen'd. */
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

  /** Current-state scans use the table's current schema; explicit time
    * travel resolves the pinned snapshot's schema (scanner.go:54-61). */
  def snapshotSchema: Schema = {
    val pinned = snapshotId.flatMap(table.metadata.snapshotById)
      .orElse(ref.flatMap(table.metadata.snapshotByName))
      .orElse(asOfTimestampMs.flatMap(table.metadata.snapshotAsOfTime))
    pinned.flatMap(_.schemaId).flatMap(table.metadata.schemaById)
      .getOrElse(table.metadata.currentSchema)
  }

  /** Projection (scanner.go:54-67): snapshot schema pruned to the selection. */
  def projection: Schema =
    if (selected.isEmpty || selected.contains("*")) snapshotSchema
    else snapshotSchema.select(caseSensitive, selected: _*)

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
    val tasks = remote.getOrElse(planFilesLocal())
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

  /** Driver-side planning, unconditionally — the path for consumers that
    * need what the REST plan wire format does not carry (per-task manifest
    * provenance for CoW manifest carry-over, data sequence numbers for V3
    * row-lineage derivation). */
  def planFilesLocal(): Seq[FileScanTask] =
    new ScanPlanner(table.io, table.metadata)
      .planFiles(filter, snapshotId, ref, asOfTimestampMs, caseSensitive,
        DistributedPlanner.decoder(table))

  /** Execute: pruned file set → Spark parquet scan (+ MoR anti-join when
    * positional deletes exist) → residual filter → projection.
    *
    * `keepProvenance = true` adds `__path`/`__pos` columns (normalized file
    * path + file-global row index) to every row — the positional-delete
    * writer needs them, and Spark's `_metadata` pseudo-column only resolves
    * directly on a file-source relation, not above the MoR anti-joins. */
  def toDF(spark: SparkSession): DataFrame = toDF(spark, keepProvenance = false)

  def toDF(spark: SparkSession, keepProvenance: Boolean): DataFrame =
    toDF(spark, keepProvenance, pathFilter = None)

  /** Scan restricted to a known file set (changelog readers resolve
    * added/removed paths from manifests, then read just those files with
    * full MoR semantics at this scan's snapshot). */
  private[graft] def toDF(spark: SparkSession, keepProvenance: Boolean,
                          pathFilter: Option[Set[String]]): DataFrame =
    toDF(spark, keepProvenance, pathFilter, keepLineage = false)

  /** `keepLineage = true` adds the V3 row-lineage columns `_row_id`
    * (file first_row_id + position; null for pre-lineage files) and
    * `_last_updated_sequence_number` — the library-path twin of the DSv2
    * metadata columns, derived by one broadcast join against the O(files)
    * lineage map the planner already holds. */
  private[graft] def toDF(spark: SparkSession, keepProvenance: Boolean,
                          pathFilter: Option[Set[String]],
                          keepLineage: Boolean): DataFrame = {
    val needProvOut = keepProvenance || keepLineage
    // lineage derivation consumes per-task data sequence numbers, which
    // server-planned tasks don't carry — lineage scans plan locally
    val tasks = (if (keepLineage) planFilesLocal() else planFiles())
      .filter(t => pathFilter.forall(_.contains(t.file.path)))
    val dataSchema = SchemaConv.toSparkSchema(snapshotSchema)
    // V3 materialized lineage: lineage scans ALSO request the physical
    // `_row_id`/`_last_updated_sequence_number` columns lineage-preserving
    // compaction writes into rewritten files (reserved field ids). Files
    // without them — the common case — read null and the derivation below
    // falls back to first_row_id + position / the file's data sequence
    // number: the spec's materialized-over-derived precedence.
    val lineagePhys: Seq[org.apache.spark.sql.types.StructField] =
      if (!keepLineage) Nil
      else Seq(
        (GraftReaders.RowIdCol, GraftReaders.RowIdFieldId),
        (GraftReaders.LastUpdatedSeqCol, GraftReaders.LastUpdatedSeqFieldId))
        .filterNot { case (n, _) => dataSchema.fieldNames.contains(n) }
        .map { case (n, id) =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = true,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(SchemaConv.FieldIdKey, id.toLong).build())
        }
    val sparkSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ lineagePhys)
    if (tasks.isEmpty) {
      var empty = projectedSparkSchema(dataSchema)
      if (keepProvenance) empty = org.apache.spark.sql.types.StructType(
        empty.fields :+
          org.apache.spark.sql.types.StructField("__path",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("__pos",
            org.apache.spark.sql.types.LongType))
      if (keepLineage) empty = org.apache.spark.sql.types.StructType(
        empty.fields :+
          org.apache.spark.sql.types.StructField("_row_id",
            org.apache.spark.sql.types.LongType) :+
          org.apache.spark.sql.types.StructField(
            "_last_updated_sequence_number",
            org.apache.spark.sql.types.LongType))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }

    // group data files by the equality-delete files assigned to them: an
    // equality delete applies only to files committed before it, so each
    // group gets its own anti-joins and the groups union back together.
    // (Positional deletes join on file_path and are safe to apply globally.)
    val grouped = tasks.groupBy(_.deleteFiles
      .filter(_.content == graft.core.DataFileContent.EqualityDeletes)
      .map(_.path).sorted)

    val posDeletePaths = tasks.flatMap(_.deleteFiles
      .filter(d => d.content == graft.core.DataFileContent.PositionDeletes &&
        !d.isDeletionVector)
      .map(_.path)).distinct
    // V3 deletion vectors: (target data file, puffin path, offset, length)
    // — metadata-sized (one row per touched data file); the bitmaps decode
    // EXECUTOR-side in the anti-join's build relation, never on the driver
    val dvRefs = tasks.flatMap(_.deleteFiles
      .filter(_.isDeletionVector)
      .map(d => (d.referencedDataFile.get, d.path,
        d.contentOffset.get, d.contentSizeInBytes.get))).distinct
    val norm = (c: Column) => regexp_replace(c, "^file:(//)?", "")
    val normS = (p: String) => p.replaceFirst("^file:(//)?", "")

    // field-id matching for files that CARRY parquet field ids; name
    // matching (with historical-name substitution after renames) for files
    // that don't — Spark's ignoreMissing semantics are silent-NULL, not
    // name fallback, so the split is decided per file from its footer.
    // The session confs are benign globally: id matching only engages for
    // schemas carrying parquet.field.id metadata — exactly the ones
    // annotated here — and ignoreMissing covers ids ADDED after a file was
    // written (schema evolution → nulls).
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val candidateSchema =
      SchemaConv.withNameCandidates(sparkSchema, table.metadata.schemas,
        SchemaConv.nameMappingOf(table.metadata.properties))

    /** One DataFrame over a file set: id-annotated read for id-carrying
      * files, per-name-resolution plain reads for id-less ones (footer
      * probes cache per path, so repeated scans pay nothing). `_metadata`
      * provenance (needed for positional-delete matching) only resolves
      * directly on a file-source relation, so it's projected to plain
      * columns per sub-read BEFORE any union. */
    // V3 column defaults: fields whose `initial-default` must materialize
    // for data files that predate the column. Files are grouped by WHICH
    // defaulted columns they lack (footer probes, cached per path) and each
    // group gets constant fills — files carrying the column, including
    // genuine NULLs, are never rewritten. Zero cost when no field carries a
    // default (every pre-V3 table short-circuits).
    val defaultedFields: Seq[org.apache.spark.sql.types.StructField] =
      candidateSchema.fields.toSeq
        .filter(_.metadata.contains(SchemaConv.InitialDefaultKey))

    def readByFooter(groupFiles: Seq[graft.core.DataFileInfo],
                     withProvenance: Boolean): DataFrame = {
      if (defaultedFields.isEmpty) return readPlain(groupFiles, withProvenance)
      groupFiles.groupBy { f =>
        defaultedFields.map(fld =>
          DefaultValues.absentFromFile(fld, f.format, f.path))
      }.toSeq.sortBy(_._1.mkString(","))
        .map { case (absent, fs) =>
          var df = readPlain(fs, withProvenance)
          defaultedFields.zip(absent).foreach { case (fld, isAbsent) =>
            if (isAbsent) {
              val (typ, lit) = SchemaConv.initialDefaultOf(fld).get
              df = df.withColumn(fld.name, SchemaConv.literalColumn(typ, lit))
            }
          }
          df
        }.reduce(_.unionAll(_))
    }

    def readPlain(groupFiles: Seq[graft.core.DataFileInfo],
                  withProvenance: Boolean): DataFrame = {
      def prov(df: DataFrame): DataFrame =
        if (!withProvenance) df
        else df.withColumn("__path", norm(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
      // ORC/AVRO data files decode through the row readers (stripe/
      // sync-block byte-range splits, provenance = file-absolute row
      // index from stripe/block metadata); parquet files take the
      // vectorized path below
      val (parquetFiles, otherFiles) =
        groupFiles.partition(_.format.equalsIgnoreCase("PARQUET"))
      val nonParquetParts = otherFiles.groupBy(_.format.toUpperCase).toSeq
        .sortBy(_._1).map { case (fmt, fs) =>
          FormatReaders.nonParquetDF(spark, fmt,
            fs.map(f => (f.path, f.fileSizeInBytes)).sortBy(_._1),
            candidateSchema, withProvenance)
            .toDF((sparkSchema.fieldNames ++
              (if (withProvenance) Seq("__path", "__pos") else Nil)).toIndexedSeq: _*)
        }
      if (parquetFiles.isEmpty && nonParquetParts.nonEmpty)
        return nonParquetParts.reduce(_.unionAll(_))
      val paths = parquetFiles.map(_.path)
      val (withIds, without) =
        paths.partition(p => GraftReaders.footerInfo(p).hasIds)
      val parts = Seq.newBuilder[DataFrame]
      if (withIds.nonEmpty)
        parts += prov(spark.read.schema(SchemaConv.parquetIdAnnotated(sparkSchema))
          .parquet(withIds: _*))
      // id-less files grouped by how their columns resolve by name, so one
      // read serves every file written under the same historical names
      without.groupBy { p =>
        val names = GraftReaders.footerInfo(p).names
        SchemaConv.nameFallbackSchema(candidateSchema, names).fieldNames.toSeq
      }.toSeq.sortBy(_._1.mkString(",")).foreach { case (resolved, ps) =>
        val fileSide = org.apache.spark.sql.types.StructType(
          sparkSchema.fields.zip(resolved).map { case (f, n) => f.copy(name = n) })
        parts += prov(spark.read.schema(fileSide).parquet(ps: _*))
          .toDF((sparkSchema.fieldNames ++
            (if (withProvenance) Seq("__path", "__pos") else Nil)).toIndexedSeq: _*)
      }
      (parts.result() ++ nonParquetParts).reduce(_.unionAll(_))
    }

    def readGroup(groupTasks: Seq[FileScanTask], eqPaths: Seq[String]) = {
      val needProv = posDeletePaths.nonEmpty || dvRefs.nonEmpty || needProvOut
      var gdf = readByFooter(groupTasks.map(_.file), needProv)
      if (posDeletePaths.nonEmpty) {
        // merge-on-read: anti-join on (file, row position)
        val deletes = spark.read.parquet(posDeletePaths: _*)
          .select(norm(col("file_path")).as("__del_path"), col("pos").as("__del_pos"))
        gdf = gdf
          .join(deletes, col("__path") === col("__del_path") &&
            col("__pos") === col("__del_pos"), "left_anti")
      }
      if (dvRefs.nonEmpty) {
        // V3 deletion vectors: the ref list is one row per touched file;
        // each task decodes its blob and emits (target, pos) tombstones —
        // the same anti-join shape as positional files
        import spark.implicits._
        val refsDs = spark.createDataset(dvRefs.map {
          case (target, path, off, len) => (normS(target), path, off, len)
        })
        val dvTombstones = refsDs.flatMap { case (target, path, off, len) =>
          val bm = graft.core.Puffin.readDvBlob(
            graft.core.Puffin.readBlob(normS(path), off, len))
          val out = Vector.newBuilder[(String, Long)]
          bm.forEach(p => out += ((target, p)))
          out.result()
        }.toDF("__dv_path", "__dv_pos")
        gdf = gdf
          .join(dvTombstones, col("__path") === col("__dv_path") &&
            col("__pos") === col("__dv_pos"), "left_anti")
      }
      if (needProv && !needProvOut) gdf = gdf.drop("__path", "__pos")
      // equality deletes for THIS group, one anti-join per column set; the
      // delete side is deduplicated key tuples, typically tiny → broadcast
      val eqFiles = groupTasks.headOption.toSeq.flatMap(_.deleteFiles
        .filter(_.content == graft.core.DataFileContent.EqualityDeletes))
      eqFiles.groupBy(_.equalityIds).foreach { case (eqIds, files) =>
        val colNames = eqIds.flatMap(id => snapshotSchema.findColumnName(id))
        if (colNames.size == eqIds.size && colNames.nonEmpty) {
          // delete files may predate a key-column rename: select each key
          // by whichever historical name the file carries, aliased to the
          // current name for the anti-join
          val delRaw = spark.read.parquet(files.map(_.path).distinct: _*)
          val delCols = eqIds.flatMap { id =>
            val current = snapshotSchema.findColumnName(id).get
            (current +: table.metadata.schemas.reverse
              .flatMap(s => s.findFieldById(id).map(_.name))).distinct
              .find(delRaw.columns.contains)
              .map(n => col(n).as(current))
          }
          if (delCols.size == eqIds.size) {
            val delRows = delRaw.select(delCols: _*).distinct()
            gdf = gdf.join(org.apache.spark.sql.functions.broadcast(delRows),
              colNames, "left_anti")
          }
        }
      }
      gdf
    }

    var df = grouped.toSeq.sortBy(_._1.mkString(","))
      .map { case (eqPaths, ts) => readGroup(ts, eqPaths) }
      .reduce(_.unionAll(_))

    if (keepLineage) {
      // V3 row lineage on the library path: one broadcast join against the
      // O(files) (path -> first_row_id, data seq) map the planner holds.
      // Materialized values (physical columns in compacted files) win;
      // nulls fall back to the derived first_row_id + position / data-seq.
      import spark.implicits._
      val lookup = tasks.map(t => (normS(t.file.path),
          t.file.firstRowId, t.dataSequenceNumber))
        .toDF("__l_path", "__l_first", "__l_seq")
      df = df.join(org.apache.spark.sql.functions.broadcast(lookup),
          col("__path") === col("__l_path"), "left")
      val derivedRowId = col("__l_first") + col("__pos")
      df =
        if (lineagePhys.exists(_.name == GraftReaders.RowIdCol))
          df.withColumn(GraftReaders.RowIdCol,
            coalesce(col(GraftReaders.RowIdCol), derivedRowId))
        else df.withColumn(GraftReaders.RowIdCol, derivedRowId)
      df =
        (if (lineagePhys.exists(_.name == GraftReaders.LastUpdatedSeqCol))
          df.withColumn(GraftReaders.LastUpdatedSeqCol,
            coalesce(col(GraftReaders.LastUpdatedSeqCol), col("__l_seq")))
        else df.withColumn(GraftReaders.LastUpdatedSeqCol, col("__l_seq")))
        .drop("__l_path", "__l_first", "__l_seq")
      if (!keepProvenance) df = df.drop("__path", "__pos")
    }
    if (filter != AlwaysTrue) df = df.filter(FilterConv.toColumn(filter))
    if (selected.nonEmpty && !selected.contains("*"))
      df = df.select(selected.map(col): _*)
    df
  }

  private def projectedSparkSchema(full: org.apache.spark.sql.types.StructType) =
    if (selected.isEmpty || selected.contains("*")) full
    else org.apache.spark.sql.types.StructType(
      selected.map(n => full(full.fieldIndex(n))))
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
