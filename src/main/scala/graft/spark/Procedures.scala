package graft.spark

import java.util.Collections

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance procedures, Iceberg-style:
  *
  *   CALL graft.system.rollback_to_snapshot('db.t', <snapshot_id>)
  *   CALL graft.system.expire_snapshots('db.t', <older_than_ms>, <retain_last>)
  *   CALL graft.system.compact('db.t', <target_files>)
  *
  * Each returns a one-row result summarizing the action. Table argument is
  * a catalog-relative `db.table` identifier. */
object GraftProcedures {

  val Names: Seq[String] = Seq("rollback_to_snapshot", "expire_snapshots",
    "compact", "rewrite_sorted", "remove_orphan_files",
    "add_partition_field", "drop_partition_field",
    "create_branch", "create_tag", "drop_ref", "set_branch_retention",
    "create_changelog_view",
    "rewrite_manifests", "rewrite_zorder", "fast_forward", "add_files",
    "rewrite_position_deletes", "rewrite_deletion_vectors",
    "cherrypick_snapshot", "publish_changes", "register_table",
    "compute_table_stats", "compute_partition_stats",
    "merge_keyed",
    "sync_dedup_index", "sync_bm25_index", "sync_lm_counts", "sync_agg_view",
    "sync_join_view",
    "sync_ann_index", "sync_sq_index",
    "sync_graph_index", "graph_index_stats",
    "ann_index_stats", "ann_ivf_index_stats", "sq_index_stats",
    "rebuild_ann_index", "rebuild_ann_ivf_index", "rebuild_sq_index",
    "ann_recall_probe", "ann_ivf_recall_probe")

  /** Shared result shape of the ANN stats/rebuild procedures. */
  private val annStatsSchema = StructType(Seq(
    StructField("code_rows", LongType, nullable = false),
    StructField("quant_error", DoubleType, nullable = false),
    StructField("bootstrap_error", DoubleType),
    StructField("drift_ratio", DoubleType),
    StructField("max_cell_share", DoubleType)))

  private def annStatsRow(s: graft.queries.AnnIndex.IndexStats): Array[Any] =
    Array[Any](s.codeRows, s.quantErr, s.bootstrapErr.orNull,
      s.driftRatio.orNull, s.maxCellShare.orNull)

  /** Resolve a (source, derived) table pair onto ONE catalog plane for the
    * sync_* procedures: both REST → the transactional path, both local →
    * the local fold; a MIXED pair refuses loudly — a cross-plane sync has
    * no atomic commit to ride and would silently reintroduce the drift the
    * transactional path exists to prevent. */
  private def pairedRest(
      resolveRest: String => Option[(graft.catalog.RestCatalog, Seq[String])],
      src: String, dst: String)
      : Option[(graft.catalog.RestCatalog, Seq[String], Seq[String])] =
    (resolveRest(src), resolveRest(dst)) match {
      case (Some((rc, a)), Some((_, b))) => Some((rc, a, b))
      case (None, None) => None
      case (s, _) => throw new IllegalArgumentException(
        s"sync: '$src' and '$dst' must live in the same catalog plane " +
          s"(${if (s.isDefined) s"'$src' is REST-cataloged, '$dst' is not"
              else s"'$dst' is REST-cataloged, '$src' is not"})")
    }

  def load(name: String, resolveLocation: String => String,
           resolveTable: String => IcebergTable,
           resolveRest: String =>
             Option[(graft.catalog.RestCatalog, Seq[String])] = _ => None)
      : UnboundProcedure = {
    name match {
      case "rollback_to_snapshot" => proc(name,
        Seq("table" -> StringType, "snapshot_id" -> LongType),
        StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val prev = table.currentSnapshot.map(_.snapshotId)
        val out = TableWriter.rollbackTo(table, in.getLong(1))
        Array[Any](prev.orNull, out.currentSnapshot.get.snapshotId)
      }
      case "expire_snapshots" => proc(name,
        Seq("table" -> StringType, "older_than_ms" -> LongType,
          "retain_last" -> IntegerType),
        StructType(Seq(
          StructField("expired_snapshots", IntegerType, nullable = false),
          StructField("remaining_snapshots", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val before = table.metadata.snapshots.size
        val out = TableWriter.expireSnapshots(table, in.getLong(1),
          retainLast = in.getInt(2), deleteFiles = true)
        val after = out.metadata.snapshots.size
        Array[Any](before - after, after)
      }
      case "compact" => proc(name,
        Seq("table" -> StringType, "target_files" -> IntegerType,
          "where" -> StringType, "min_file_size_bytes" -> LongType,
          "delete_file_threshold" -> IntegerType),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("rewritten_files", IntegerType, nullable = false))),
        defaults = Map("where" -> "CAST(NULL AS STRING)",
          "min_file_size_bytes" -> "CAST(NULL AS BIGINT)",
          "delete_file_threshold" -> "CAST(NULL AS INT)")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val table = resolveTable(in.getUTF8String(0).toString)
        // a predicate scopes the rewrite to the files the planner can't
        // prove disjoint from it — an inexpressible predicate REFUSES
        // (parsePredicate throws) rather than widening to the whole table
        val where = Option(in.getUTF8String(2)).map(s =>
          graft.spark.FilterConv.parsePredicate(spark, s.toString))
        // binpack selection (Iceberg rewrite_data_files): rewrite only
        // too-small / delete-laden files; healthy files stay byte-identical
        val minSize = if (in.isNullAt(3)) None else Some(in.getLong(3))
        val delThreshold = if (in.isNullAt(4)) None else Some(in.getInt(4))
        val rewritten = TableWriter.compactSelection(table, where,
          minSize, delThreshold).size
        val before = table.newScan().planFiles().size
        val out = TableWriter.compact(table, spark, in.getInt(1), where = where,
          minFileSizeBytes = minSize, deleteFileThreshold = delThreshold)
        Array[Any](before, out.newScan().planFiles().size, rewritten)
      }
      case "rewrite_sorted" => proc(name,
        Seq("table" -> StringType, "target_files" -> IntegerType,
          "sort_by" -> StringType),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("sorted_by", StringType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val cols = in.getUTF8String(2).toString.split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "rewrite_sorted needs at least one sort column")
        val before = table.newScan().planFiles().size
        val out = TableWriter.compact(table,
          org.apache.spark.sql.SparkSession.active, in.getInt(1), sortBy = cols)
        Array[Any](before, out.newScan().planFiles().size, cols.mkString(","))
      }
      case "compute_table_stats" => proc(name,
        Seq("table" -> StringType, "columns" -> StringType),
        StructType(Seq(
          StructField("statistics_path", StringType, nullable = false),
          StructField("columns_analyzed", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val cols = Option(in.getUTF8String(1)).map(_.toString).getOrElse("")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val (out, n) = TableWriter.computeTableStats(table,
          org.apache.spark.sql.SparkSession.active, cols)
        Array[Any](UTF8String.fromString(
          out.metadata.statisticsFiles.find(
            _.snapshotId == out.currentSnapshot.get.snapshotId)
            .map(_.path).getOrElse("")), n)
      }
      case "compute_partition_stats" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(
          StructField("statistics_path", StringType, nullable = false),
          StructField("partitions", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val (out, n) = TableWriter.computePartitionStats(table,
          org.apache.spark.sql.SparkSession.active)
        Array[Any](UTF8String.fromString(
          out.metadata.partitionStatisticsFiles.find(
            _.snapshotId == out.currentSnapshot.get.snapshotId)
            .map(_.path).getOrElse("")), n)
      }
      case "remove_orphan_files" => proc(name,
        Seq("table" -> StringType, "older_than_ms" -> LongType),
        StructType(Seq(
          StructField("removed_files", IntegerType, nullable = false),
          StructField("reclaimed_bytes", LongType, nullable = false)))) { in =>
        // file-plane only (no metadata commit), so the REST route just
        // reads the SERVER's current metadata to compute reachability —
        // sweeping against a stale local metadata.json would delete files
        // a newer server-side commit references
        val table = resolveTable(in.getUTF8String(0).toString)
        val (n, bytes) = TableWriter.removeOrphanFiles(table, in.getLong(1))
        Array[Any](n, bytes)
      }
      case "add_partition_field" => proc(name,
        Seq("table" -> StringType, "column" -> StringType,
          "transform" -> StringType),
        StructType(Seq(
          StructField("spec_id", IntegerType, nullable = false),
          StructField("field_name", StringType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val t = graft.core.Transform.parse(in.getUTF8String(2).toString)
        val out = TableWriter.addPartitionField(table,
          in.getUTF8String(1).toString, t)
        Array[Any](out.spec.specId, out.spec.fields.last.name)
      }
      case "drop_partition_field" => proc(name,
        Seq("table" -> StringType, "field_name" -> StringType),
        StructType(Seq(
          StructField("spec_id", IntegerType, nullable = false),
          StructField("remaining_fields", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val out = TableWriter.dropPartitionField(table,
          in.getUTF8String(1).toString)
        Array[Any](out.spec.specId, out.spec.fields.size)
      }
      case "create_branch" | "create_tag" => proc(name,
        Seq("table" -> StringType, "name" -> StringType,
          "snapshot_id" -> LongType,
          // branch-only snapshot retention (Iceberg's WITH SNAPSHOT
          // RETENTION); 0 = unset, enforced by expire_snapshots
          "min_snapshots_to_keep" -> IntegerType,
          "max_snapshot_age_ms" -> LongType,
          "max_ref_age_ms" -> LongType),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false))),
        defaults = Map("snapshot_id" -> "0", "min_snapshots_to_keep" -> "0",
          "max_snapshot_age_ms" -> "0", "max_ref_age_ms" -> "0")) { in =>
        val refType =
          if (name == "create_branch") graft.core.BranchRef else graft.core.TagRef
        // snapshot_id 0 → current snapshot
        val snap = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val refName = in.getUTF8String(1).toString
        val refs = TableWriter.createRef(
          resolveTable(in.getUTF8String(0).toString), refName, refType, snap,
          maxRefAgeMs = Some(in.getLong(5)).filter(_ > 0),
          minSnapshotsToKeep = Some(in.getInt(3)).filter(_ > 0),
          maxSnapshotAgeMs = Some(in.getLong(4)).filter(_ > 0)).metadata.refs
        Array[Any](in.getUTF8String(1), refs(refName).snapshotId)
      }
      case "set_branch_retention" => proc(name,
        Seq("table" -> StringType, "branch" -> StringType,
          "min_snapshots_to_keep" -> IntegerType,
          "max_snapshot_age_ms" -> LongType),
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("min_snapshots_to_keep", IntegerType),
          StructField("max_snapshot_age_ms", LongType))),
        defaults = Map("min_snapshots_to_keep" -> "0",
          "max_snapshot_age_ms" -> "0")) { in =>
        val refName = in.getUTF8String(1).toString
        val minKeep = Some(in.getInt(2)).filter(_ > 0)
        val maxAge = Some(in.getLong(3)).filter(_ > 0)
        val refs = TableWriter.setRefRetention(
          resolveTable(in.getUTF8String(0).toString), refName, minKeep, maxAge)
          .metadata.refs
        val r = refs(refName)
        Array[Any](in.getUTF8String(1),
          r.minSnapshotsToKeep.map(Int.box).orNull,
          r.maxSnapshotAgeMs.map(Long.box).orNull)
      }
      case "drop_ref" => proc(name,
        Seq("table" -> StringType, "name" -> StringType),
        StructType(Seq(
          StructField("dropped", StringType, nullable = false),
          StructField("remaining_refs", IntegerType, nullable = false)))) { in =>
        val refs = TableWriter.dropRef(
          resolveTable(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString).metadata.refs
        Array[Any](in.getUTF8String(1), refs.size)
      }
      case "create_changelog_view" => proc(name,
        Seq("table" -> StringType, "view_name" -> StringType,
          "start_snapshot_id" -> LongType, "end_snapshot_id" -> LongType),
        StructType(Seq(
          StructField("view_name", StringType, nullable = false),
          StructField("commits", IntegerType, nullable = false)))) { in =>
        val table = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val view = in.getUTF8String(1).toString
        // snapshot_id 0 → unbounded end of the window
        val from = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val to = in.getLong(3) match { case 0L => None; case id => Some(id) }
        val spark = org.apache.spark.sql.SparkSession.active
        val df = graft.streaming.Changelog.changelogDF(spark, table, from, to)
        df.createOrReplaceTempView(view)
        val commits = graft.streaming.Changelog.changesBetween(table, from, to).size
        Array[Any](view, commits)
      }
      case "rewrite_zorder" => proc(name,
        Seq("table" -> StringType, "target_files" -> IntegerType,
          "zorder_by" -> StringType),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("zordered_by", StringType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val cols = in.getUTF8String(2).toString.split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(cols.size >= 2,
          "rewrite_zorder needs at least two columns (use rewrite_sorted for one)")
        val before = table.newScan().planFiles().size
        val out = TableWriter.compact(table,
          org.apache.spark.sql.SparkSession.active, in.getInt(1), zOrderBy = cols)
        Array[Any](before, out.newScan().planFiles().size, cols.mkString(","))
      }
      case "rewrite_position_deletes" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(
          StructField("delete_files_before", IntegerType, nullable = false),
          StructField("delete_files_after", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val (_, before, after) = TableWriter.rewritePositionDeletes(table,
          org.apache.spark.sql.SparkSession.active)
        Array[Any](before, after)
      }
      case "rewrite_deletion_vectors" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(
          StructField("dvs_rewritten", IntegerType, nullable = false),
          StructField("puffin_files_before", IntegerType, nullable = false),
          StructField("puffin_files_after", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val (_, rewritten, before, after) = TableWriter.rewriteDeletionVectors(
          table, org.apache.spark.sql.SparkSession.active)
        Array[Any](rewritten, before, after)
      }
      case "add_files" => proc(name,
        Seq("table" -> StringType, "source_dir" -> StringType),
        StructType(Seq(
          StructField("added_files", IntegerType, nullable = false),
          StructField("added_records", LongType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val before = table.newScan().planFiles()
        val out = TableWriter.addFiles(table, in.getUTF8String(1).toString)
        val after = out.newScan().planFiles()
        val newFiles = after.filterNot(t => before.exists(_.file.path == t.file.path))
        Array[Any](newFiles.size, newFiles.map(_.file.recordCount).sum)
      }
      case "fast_forward" => proc(name,
        Seq("table" -> StringType, "branch" -> StringType),
        StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        val prev = table.currentSnapshot.map(_.snapshotId)
        val out = TableWriter.fastForward(table, in.getUTF8String(1).toString)
        Array[Any](prev.orNull, out.currentSnapshot.get.snapshotId)
      }
      case "cherrypick_snapshot" => proc(name,
        Seq("table" -> StringType, "snapshot_id" -> LongType),
        StructType(Seq(
          StructField("source_snapshot_id", LongType, nullable = false),
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val out = TableWriter.cherrypickSnapshot(
          resolveTable(in.getUTF8String(0).toString), in.getLong(1))
        Array[Any](in.getLong(1), out.currentSnapshot.get.snapshotId)
      }
      // Iceberg's WAP publish verb: resolve the staged snapshot by its
      // wap.id and cherrypick it — the id is what the audit pipeline
      // carries around, not a snapshot id
      case "publish_changes" => proc(name,
        Seq("table" -> StringType, "wap_id" -> StringType),
        StructType(Seq(
          StructField("source_snapshot_id", LongType, nullable = false),
          StructField("current_snapshot_id", LongType, nullable = false)))) { in =>
        val wapId = in.getUTF8String(1).toString
        val table = resolveTable(in.getUTF8String(0).toString)
        val staged = table.metadata.snapshots.find(_.summary.exists(
            _.properties.get("wap.id").contains(wapId)))
          .getOrElse(throw new IllegalArgumentException(
            s"no staged snapshot carries wap.id '$wapId'")).snapshotId
        val out = TableWriter.cherrypickSnapshot(table, staged)
        Array[Any](staged, out.currentSnapshot.get.snapshotId)
      }
      // Iceberg's register_table: adopt an EXISTING table under a catalog
      // identifier without touching a single data or metadata file. In
      // this path-convention catalog the entry is a `location.ref` pointer
      // at the real table directory — reads, writes, DDL, and procedures
      // all resolve through it.
      case "register_table" => proc(name,
        Seq("table" -> StringType, "metadata_location" -> StringType),
        StructType(Seq(
          StructField("table_location", StringType, nullable = false),
          StructField("current_snapshot_id", LongType)))) { in =>
        val tableRef = in.getUTF8String(0).toString
        resolveRest(tableRef) match {
          case Some((rc, id)) =>
            // REST plane: the server adopts the existing metadata file
            // verbatim (the spec's register route) — nothing is rewritten
            val committed = rc.registerTable(id,
              in.getUTF8String(1).toString)
            Array[Any](committed.metadata.location,
              committed.metadata.currentSnapshotId
                .map(java.lang.Long.valueOf(_)).orNull)
          case None =>
        val entryDir = new java.io.File(resolveLocation(tableRef))
        val metaLoc = in.getUTF8String(1).toString.stripPrefix("file://")
        // the entry directory must not exist AT ALL: a table dir, a view
        // dir, or a (nested) NAMESPACE dir here would make the identifier
        // ambiguous — and a later DROP TABLE would recursively delete
        // whatever lived inside
        require(!entryDir.exists(),
          s"register_table: '$tableRef' already exists (as a table, view, " +
            "or namespace)")
        require(entryDir.getParentFile != null &&
            entryDir.getParentFile.isDirectory,
          s"register_table: namespace of '$tableRef' not found — " +
            "CREATE NAMESPACE first")
        // validates by parsing (accepts a table dir or a metadata.json)
        val table = IcebergTables.load(metaLoc)
        val target = table.location
        // writes land in the TABLE DIRECTORY — it must load on its own
        val latest =
          try IcebergTables.load(target)
          catch { case e: Exception =>
            throw new IllegalArgumentException(
              s"register_table: '$metaLoc' parses but its table directory " +
                s"'$target' is not loadable (${e.getMessage}) — this " +
                "path-based catalog adopts tables using the " +
                "v<N>.metadata.json convention; use the REST catalog's " +
                "registerTable for arbitrary foreign metadata naming")
          }
        // the pointer tracks the DIRECTORY (reads always resolve the
        // latest version), so registering a stale metadata file would
        // silently serve a different state than the argument names —
        // refuse instead of diverging from the register_table contract
        require(new java.io.File(latest.metadataPath).getCanonicalPath ==
            new java.io.File(table.metadataPath).getCanonicalPath,
          s"register_table: '$metaLoc' is not the table's CURRENT " +
            s"metadata (latest is '${latest.metadataPath}') — pass the " +
            "current metadata file or the table directory")
        entryDir.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(entryDir, "location.ref").toPath, target)
        Array[Any](target,
          table.currentSnapshot.map(s => java.lang.Long.valueOf(s.snapshotId))
            .orNull)
        }
      }
      case "rewrite_manifests" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(
          StructField("manifests_before", IntegerType, nullable = false),
          StructField("manifests_after", IntegerType, nullable = false)))) { in =>
        val table = resolveTable(in.getUTF8String(0).toString)
        def count(t: IcebergTable): Int = t.currentSnapshot.toSeq.flatMap(s =>
          graft.core.ManifestIO.readManifestList(t.io.open(s.manifestList))).size
        val before = count(table)
        val out = TableWriter.rewriteManifests(table)
        Array[Any](before, count(out))
      }
      // incremental-maintenance procedures: fold the docs table's
      // changefeed into a maintained structure. after_snapshot_id 0 →
      // full history (bootstrap catch-up).
      case "sync_dedup_index" => proc(name,
        Seq("docs" -> StringType, "index" -> StringType,
          "after_snapshot_id" -> LongType),
        StructType(Seq(
          StructField("index_snapshot_id", LongType, nullable = false),
          StructField("index_rows", LongType, nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val out = pairedRest(resolveRest, in.getUTF8String(0).toString,
          in.getUTF8String(1).toString) match {
          case Some((rc, docsId, idxId)) =>
            val changes = graft.streaming.Changelog.changelogDF(spark,
              TableWriter.restTableOf(rc.loadTable(docsId)), from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.DedupIndex.stageChanges(tx, idxId, changes,
                graft.queries.DedupIndex.Params())) tx.commit()
            TableWriter.restTableOf(rc.loadTable(idxId))
          case None =>
            graft.queries.DedupIndex.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(in.getUTF8String(0).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(1).toString)),
              from, graft.queries.DedupIndex.Params())
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "merge_keyed" => proc(name,
        Seq("table" -> StringType, "source" -> StringType, "keys" -> StringType),
        StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("merged_rows", LongType, nullable = false)))) { in =>
        // keyed MERGE (matched → replace row, not matched → insert) as ONE
        // equality-delete + append snapshot: O(source) work, the target is
        // NEVER scanned — unlike positional MERGE, which must read the
        // target to find (file, pos) coordinates. `keys` is a
        // comma-separated merge-key column list; rows in `source` must be
        // unique per key (the keyed-upsert contract).
        val spark = org.apache.spark.sql.SparkSession.active
        val table = resolveTable(in.getUTF8String(0).toString)
        val source = spark.table(in.getUTF8String(1).toString)
        val keyCols = in.getUTF8String(2).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(keyCols.nonEmpty, "merge_keyed needs at least one key column")
        val out = TableWriter.replaceEquality(table,
          source.selectExpr(keyCols: _*), keyCols, source)
        val appended = out.currentSnapshot.get.summary
          .flatMap(_.properties.get("added-records")).map(_.toLong).getOrElse(0L)
        Array[Any](out.currentSnapshot.get.snapshotId, appended)
      }
      case "sync_bm25_index" => proc(name,
        Seq("docs" -> StringType, "index" -> StringType,
          "after_snapshot_id" -> LongType, "term_hash" -> StringType),
        StructType(Seq(
          StructField("index_snapshot_id", LongType, nullable = false),
          StructField("posting_rows", LongType, nullable = false))),
        // the hash family MUST match what the index was built with —
        // appending xxhash64 postings into an md5-keyed table would be
        // silent hash-space mixing, so the family is an explicit argument
        defaults = Map("term_hash" -> "'xxhash64'")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val p = in.getUTF8String(3).toString match {
          case "xxhash64" => graft.queries.Bm25Index.Params()
          case "md5" => graft.queries.Bm25Index.OracleParams
          case other => throw new IllegalArgumentException(
            s"term_hash must be 'xxhash64' or 'md5', got '$other'")
        }
        val out = pairedRest(resolveRest, in.getUTF8String(0).toString,
          in.getUTF8String(1).toString) match {
          // both tables REST-cataloged → the fold commits as ONE
          // transaction through the server (the t33 discipline)
          case Some((rc, docsId, idxId)) =>
            val changes = graft.streaming.Changelog.changelogDF(spark,
              TableWriter.restTableOf(rc.loadTable(docsId)), from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.Bm25Index.stageChanges(tx, rc, idxId, changes, p))
              tx.commit()
            TableWriter.restTableOf(rc.loadTable(idxId))
          case None =>
            graft.queries.Bm25Index.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(in.getUTF8String(0).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(1).toString)),
              from, p)
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "sync_lm_counts" => proc(name,
        Seq("docs" -> StringType, "counts" -> StringType,
          "after_snapshot_id" -> LongType, "target_filter" -> StringType),
        StructType(Seq(
          StructField("counts_snapshot_id", LongType, nullable = false),
          StructField("bigram_rows", LongType, nullable = false))),
        // target_filter is the SQL predicate naming the LM's training
        // slice — it must match what the table was BUILT over
        defaults = Map("target_filter" -> "'true'")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val tgt = org.apache.spark.sql.functions.expr(in.getUTF8String(3).toString)
        val out = pairedRest(resolveRest, in.getUTF8String(0).toString,
          in.getUTF8String(1).toString) match {
          case Some((rc, docsId, lmId)) =>
            val changes = graft.streaming.Changelog.changelogDF(spark,
              TableWriter.restTableOf(rc.loadTable(docsId)), from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.LmIndex.stageChanges(tx, rc, lmId, changes,
                tgt, spark)) tx.commit()
            TableWriter.restTableOf(rc.loadTable(lmId))
          case None =>
            graft.queries.LmIndex.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(in.getUTF8String(0).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(1).toString)),
              tgt, from)
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "sync_agg_view" => proc(name,
        Seq("docs" -> StringType, "view" -> StringType,
          "after_snapshot_id" -> LongType),
        StructType(Seq(
          StructField("view_snapshot_id", LongType, nullable = false),
          StructField("applied_sequence", LongType)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(2) match { case 0L => None; case id => Some(id) }
        val out = pairedRest(resolveRest, in.getUTF8String(0).toString,
          in.getUTF8String(1).toString) match {
          case Some((rc, docsId, viewId)) =>
            val changes = graft.streaming.Changelog.changelogDF(spark,
              TableWriter.restTableOf(rc.loadTable(docsId)), from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.MatView.stageChanges(tx, rc, viewId, changes,
                spark)) tx.commit()
            TableWriter.restTableOf(rc.loadTable(viewId))
          case None =>
            graft.queries.MatView.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(in.getUTF8String(0).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(1).toString)),
              from)
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.properties.get(graft.queries.MatView.AppliedSeqProp)
            .flatMap(_.toLongOption).orNull)
      }
      case "sync_join_view" => proc(name,
        // no after_snapshot_id: the view's per-source watermark properties
        // are the window — the CALL is self-describing and idempotent
        Seq("orders" -> StringType, "lineitem" -> StringType,
          "view" -> StringType),
        StructType(Seq(
          StructField("view_snapshot_id", LongType, nullable = false),
          StructField("orders_snapshot", LongType, nullable = false),
          StructField("lineitem_snapshot", LongType, nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val oRef = in.getUTF8String(0).toString
        val lRef = in.getUTF8String(1).toString
        val vRef = in.getUTF8String(2).toString
        // all three must share a plane (the sync_graph_index triple rule);
        // on REST the merge lands as ONE transaction
        val out = (resolveRest(oRef), resolveRest(lRef), resolveRest(vRef)) match {
          case (Some((rc, oId)), Some((_, lId)), Some((_, vId))) =>
            val oT = TableWriter.restTableOf(rc.loadTable(oId))
            val lT = TableWriter.restTableOf(rc.loadTable(lId))
            val tx = TableWriter.transaction(rc)
            if (graft.queries.JoinView.stageChanges(tx, rc, vId, oT, lT,
                spark)) tx.commit()
            TableWriter.restTableOf(rc.loadTable(vId))
          case (None, None, None) =>
            graft.queries.JoinView.applyChanges(
              IcebergTables.load(resolveLocation(vRef)),
              IcebergTables.load(resolveLocation(oRef)),
              IcebergTables.load(resolveLocation(lRef)), spark)
          case _ => throw new IllegalArgumentException(
            "sync_join_view: orders, lineitem, and view must live in the " +
              "same catalog plane")
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.properties(graft.queries.JoinView.OrdersSnapProp).toLong,
          out.properties(graft.queries.JoinView.LineitemSnapProp).toLong)
      }
      case "sync_ann_index" => proc(name,
        Seq("corpus" -> StringType, "codebook" -> StringType,
          "codes" -> StringType, "after_snapshot_id" -> LongType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType),
        StructType(Seq(
          StructField("codes_snapshot_id", LongType, nullable = false),
          StructField("code_rows", LongType, nullable = false))),
        // geometry args default to the battery's 8×16 so existing CALLs
        // keep working; an index built with other Params passes its own
        defaults = Map("n_sub" -> "8", "k_sub" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(3) match { case 0L => None; case id => Some(id) }
        val p = graft.queries.AnnIndex.Params(in.getInt(4), in.getInt(5))
        val out = pairedRest(resolveRest, in.getUTF8String(0).toString,
          in.getUTF8String(2).toString) match {
          case Some((rc, corpusId, codesId)) =>
            // the frozen codebook is read from EITHER plane (stats side)
            val cb = resolveRest(in.getUTF8String(1).toString) match {
              case Some((rc2, cbId)) => TableWriter.restTableOf(rc2.loadTable(cbId))
              case None => IcebergTables.load(
                resolveLocation(in.getUTF8String(1).toString))
            }
            val changes = graft.streaming.Changelog.changelogDF(spark,
              TableWriter.restTableOf(rc.loadTable(corpusId)), from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.AnnIndex.stageChanges(tx, codesId,
                cb.newScan().toDF(spark), changes, p)) tx.commit()
            TableWriter.restTableOf(rc.loadTable(codesId))
          case None =>
            graft.queries.AnnIndex.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(in.getUTF8String(0).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(2).toString)),
              IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
                .newScan().toDF(spark), from, p)
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "sync_graph_index" => proc(name,
        Seq("corpus" -> StringType, "cents" -> StringType,
          "assign" -> StringType, "graph" -> StringType,
          "after_snapshot_id" -> LongType),
        StructType(Seq(
          StructField("graph_snapshot_id", LongType, nullable = false),
          StructField("edge_rows", LongType, nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val from = in.getLong(4) match { case 0L => None; case id => Some(id) }
        val corpusRef = in.getUTF8String(0).toString
        val centsRef = in.getUTF8String(1).toString
        val assignRef = in.getUTF8String(2).toString
        val graphRef = in.getUTF8String(3).toString
        // the frozen centers are read from EITHER plane (the sync_ann_index
        // codebook rule); corpus + both index tables must share a plane —
        // on REST the sync lands as ONE transaction (lockstep or nothing)
        def centsDf = (resolveRest(centsRef) match {
          case Some((rc2, id)) => TableWriter.restTableOf(rc2.loadTable(id))
          case None => IcebergTables.load(resolveLocation(centsRef))
        }).newScan().toDF(spark)
        val out = (resolveRest(corpusRef), resolveRest(assignRef),
            resolveRest(graphRef)) match {
          case (Some((rc, corpusId)), Some((_, assignId)), Some((_, graphId))) =>
            val corpusT = TableWriter.restTableOf(rc.loadTable(corpusId))
            val changes =
              graft.streaming.Changelog.changelogDF(spark, corpusT, from)
            val tx = TableWriter.transaction(rc)
            if (graft.queries.GraphIndex.stageChanges(tx, rc, assignId,
                graphId, corpusT.newScan().toDF(spark), changes, centsDf))
              tx.commit()
            TableWriter.restTableOf(rc.loadTable(graphId))
          case (None, None, None) =>
            graft.queries.GraphIndex.syncFromChangelog(spark,
              IcebergTables.load(resolveLocation(corpusRef)),
              IcebergTables.load(resolveLocation(assignRef)),
              IcebergTables.load(resolveLocation(graphRef)),
              centsDf, from)._2
          case _ => throw new IllegalArgumentException(
            "sync_graph_index: corpus, assign, and graph must live in the " +
              "same catalog plane")
        }
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "graph_index_stats" => proc(name,
        Seq("corpus" -> StringType, "graph" -> StringType),
        StructType(Seq(
          StructField("edge_rows", LongType, nullable = false),
          StructField("max_out_degree", LongType, nullable = false),
          StructField("orphan_nodes", LongType, nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        def df(ref: String) = (resolveRest(ref) match {
          case Some((rc, id)) => TableWriter.restTableOf(rc.loadTable(id))
          case None => IcebergTables.load(resolveLocation(ref))
        }).newScan().toDF(spark)
        import org.apache.spark.sql.functions.{col, count, lit, max}
        val graph = df(in.getUTF8String(1).toString)
        val edges = graph.count()
        val maxDeg =
          if (edges == 0L) 0L
          else graph.groupBy("src").agg(count(lit(1)).as("d"))
            .agg(max("d")).collect()(0).getLong(0)
        // orphans = corpus rows with NO out-edges: fresh inserts whose
        // sync hasn't run, or nodes alone in their cells — the drift
        // signal that says "sync or re-center"
        val orphans = df(in.getUTF8String(0).toString)
          .select(col("vec_id").as("src")).distinct()
          .join(graph.select("src").distinct(), Seq("src"), "left_anti")
          .count()
        Array[Any](edges, maxDeg, orphans)
      }
      case "sync_sq_index" => proc(name,
        Seq("corpus" -> StringType, "params" -> StringType,
          "codes" -> StringType, "after_snapshot_id" -> LongType),
        StructType(Seq(
          StructField("codes_snapshot_id", LongType, nullable = false),
          StructField("code_rows", LongType, nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val prm = IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
        val codes = IcebergTables.load(resolveLocation(in.getUTF8String(2).toString))
        val from = in.getLong(3) match { case 0L => None; case id => Some(id) }
        val out = graft.queries.AnnIndex.syncSqFromChangelog(spark, corpus,
          codes, prm.newScan().toDF(spark), from)
        Array[Any](out.currentSnapshot.get.snapshotId,
          out.newScan().toDF(spark).count())
      }
      case "sq_index_stats" | "rebuild_sq_index" => proc(name,
        Seq("corpus" -> StringType, "params" -> StringType,
          "codes" -> StringType),
        StructType(Seq(
          StructField("code_rows", LongType, nullable = false),
          StructField("saturation_rate", DoubleType, nullable = false),
          StructField("recon_error", DoubleType, nullable = false),
          StructField("bootstrap_error", DoubleType),
          StructField("drift_ratio", DoubleType),
          StructField("corpus_rows_without_codes", LongType, nullable = false),
          StructField("codes_rows_without_corpus", LongType,
            nullable = false)))) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
          .newScan().toDF(spark)
        val paramsLoc = resolveLocation(in.getUTF8String(1).toString)
        val codesLoc = resolveLocation(in.getUTF8String(2).toString)
        val s =
          if (name == "rebuild_sq_index")
            graft.queries.AnnIndex.rebuildSq(spark, corpus, paramsLoc, codesLoc)
          else graft.queries.AnnIndex.statsSq(spark,
            IcebergTables.load(codesLoc),
            IcebergTables.load(paramsLoc).newScan().toDF(spark), corpus)
        Array[Any](s.codeRows, s.saturationRate, s.reconError,
          s.bootstrapErr.orNull, s.driftRatio.orNull,
          s.corpusRowsWithoutCodes, s.codesRowsWithoutCorpus)
      }
      case "ann_index_stats" => proc(name,
        Seq("corpus" -> StringType, "codebook" -> StringType,
          "codes" -> StringType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType),
        annStatsSchema,
        defaults = Map("n_sub" -> "8", "k_sub" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val cb = IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
        val codes = IcebergTables.load(resolveLocation(in.getUTF8String(2).toString))
        annStatsRow(graft.queries.AnnIndex.stats(spark, codes,
          cb.newScan().toDF(spark), corpus.newScan().toDF(spark),
          graft.queries.AnnIndex.Params(in.getInt(3), in.getInt(4))))
      }
      case "ann_recall_probe" => proc(name,
        Seq("corpus" -> StringType, "codebook" -> StringType,
          "codes" -> StringType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType,
          "k" -> IntegerType, "shortlist" -> IntegerType,
          "n_queries" -> IntegerType),
        StructType(Seq(
          StructField("queries", LongType, nullable = false),
          StructField("k", IntegerType, nullable = false),
          StructField("shortlist", IntegerType, nullable = false),
          StructField("exact_pairs", LongType, nullable = false),
          StructField("hit_pairs", LongType, nullable = false),
          StructField("recall", DoubleType, nullable = false))),
        defaults = Map("n_sub" -> "8", "k_sub" -> "16", "k" -> "10",
          "shortlist" -> "50", "n_queries" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val cb = IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
        val codes = IcebergTables.load(resolveLocation(in.getUTF8String(2).toString))
        val r = graft.queries.AnnIndex.recallProbe(spark, codes,
          cb.newScan().toDF(spark), corpus.newScan().toDF(spark),
          graft.queries.AnnIndex.Params(in.getInt(3), in.getInt(4)),
          k = in.getInt(5), shortlist = in.getInt(6),
          nQueries = in.getInt(7))
        Array[Any](r.queries, r.k, r.shortlist, r.exactPairs, r.hitPairs,
          r.recall)
      }
      case "ann_ivf_recall_probe" => proc(name,
        Seq("corpus" -> StringType, "centroids" -> StringType,
          "codebook" -> StringType, "codes" -> StringType,
          "n_probe" -> IntegerType, "n_sub" -> IntegerType,
          "k_sub" -> IntegerType, "k" -> IntegerType,
          "shortlist" -> IntegerType, "n_queries" -> IntegerType),
        StructType(Seq(
          StructField("queries", LongType, nullable = false),
          StructField("k", IntegerType, nullable = false),
          StructField("shortlist", IntegerType, nullable = false),
          StructField("exact_pairs", LongType, nullable = false),
          StructField("hit_pairs", LongType, nullable = false),
          StructField("recall", DoubleType, nullable = false))),
        defaults = Map("n_probe" -> "4", "n_sub" -> "8", "k_sub" -> "16",
          "k" -> "10", "shortlist" -> "50", "n_queries" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val cents = IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
        val cb = IcebergTables.load(resolveLocation(in.getUTF8String(2).toString))
        val codes = IcebergTables.load(resolveLocation(in.getUTF8String(3).toString))
        val r = graft.queries.AnnIndex.recallProbeIvf(spark, codes,
          cents.newScan().toDF(spark), cb.newScan().toDF(spark),
          corpus.newScan().toDF(spark),
          graft.queries.AnnIndex.IvfParams(nProbe = in.getInt(4),
            nSub = in.getInt(5), kSub = in.getInt(6)),
          k = in.getInt(7), shortlist = in.getInt(8),
          nQueries = in.getInt(9))
        Array[Any](r.queries, r.k, r.shortlist, r.exactPairs, r.hitPairs,
          r.recall)
      }
      case "ann_ivf_index_stats" => proc(name,
        Seq("corpus" -> StringType, "centroids" -> StringType,
          "codebook" -> StringType, "codes" -> StringType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType),
        annStatsSchema,
        defaults = Map("n_sub" -> "8", "k_sub" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        val cents = IcebergTables.load(resolveLocation(in.getUTF8String(1).toString))
        val cb = IcebergTables.load(resolveLocation(in.getUTF8String(2).toString))
        val codes = IcebergTables.load(resolveLocation(in.getUTF8String(3).toString))
        annStatsRow(graft.queries.AnnIndex.statsIvf(spark, codes,
          cents.newScan().toDF(spark), cb.newScan().toDF(spark),
          corpus.newScan().toDF(spark),
          graft.queries.AnnIndex.IvfParams(
            nSub = in.getInt(4), kSub = in.getInt(5))))
      }
      case "rebuild_ann_index" => proc(name,
        Seq("corpus" -> StringType, "codebook" -> StringType,
          "codes" -> StringType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType),
        annStatsSchema,
        defaults = Map("n_sub" -> "8", "k_sub" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        annStatsRow(graft.queries.AnnIndex.rebuild(spark,
          corpus.newScan().toDF(spark),
          resolveLocation(in.getUTF8String(1).toString),
          resolveLocation(in.getUTF8String(2).toString),
          graft.queries.AnnIndex.Params(in.getInt(3), in.getInt(4))))
      }
      case "rebuild_ann_ivf_index" => proc(name,
        Seq("corpus" -> StringType, "centroids" -> StringType,
          "codebook" -> StringType, "codes" -> StringType,
          "n_sub" -> IntegerType, "k_sub" -> IntegerType),
        annStatsSchema,
        defaults = Map("n_sub" -> "8", "k_sub" -> "16")) { in =>
        val spark = org.apache.spark.sql.SparkSession.active
        val corpus = IcebergTables.load(resolveLocation(in.getUTF8String(0).toString))
        annStatsRow(graft.queries.AnnIndex.rebuildIvf(spark,
          corpus.newScan().toDF(spark),
          resolveLocation(in.getUTF8String(1).toString),
          resolveLocation(in.getUTF8String(2).toString),
          resolveLocation(in.getUTF8String(3).toString),
          graft.queries.AnnIndex.IvfParams(
            nSub = in.getInt(4), kSub = in.getInt(5))))
      }
      case other =>
        throw new IllegalArgumentException(s"unknown procedure $other")
    }
  }

  private def proc(procName: String, params: Seq[(String, DataType)],
                   out: StructType,
                   defaults: Map[String, String] = Map.empty)
                  (body: InternalRow => Array[Any]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft $procName"
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, t) =>
            val b = ProcedureParameter.in(n, t)
            defaults.get(n).foreach(b.defaultValue)
            b.build()
          }.toArray
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val values = body(input).map {
            case s: String => UTF8String.fromString(s)
            case v => v
          }
          // procedure output must be a LocalScan (driver-side rows)
          val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema(): StructType = out
            override def rows(): Array[InternalRow] = Array(
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(values))
            override def description(): String = s"$procName result"
          }
          Collections.singletonList(scan).iterator()
        }
      }
    }
}
