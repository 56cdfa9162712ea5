package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.{AlwaysTrue, And => CoreAnd, BooleanExpression, Expr, FileScanTask}

/** DataSource V2 surface: `spark.read.format("icegopher").load(tableDir)`.
  *
  * The architecture SURVEY §3.2 prescribes: Catalyst's
  * `V2ScanRelationPushDown` drives our ScanBuilder — pushed filters reach the
  * core planner for manifest/stats pruning (SupportsPushDownFilters), column
  * pruning reaches the parquet reader (SupportsPushDownRequiredColumns),
  * limits short-circuit (SupportsPushDownLimit), planned-file stats feed the
  * CBO/broadcast decisions (SupportsReportStatistics), and runtime filters
  * from joins re-plan the file set (SupportsRuntimeFiltering → dynamic
  * partition pruning).
  *
  * Every pushed filter is ALSO returned as residual, so Spark re-applies it
  * row-wise — pruning is inclusive (skip-only) and can never change results.
  *
  * Execution: each file is SPLIT on its stored row-group offsets
  * (`splitOffsets`, mirroring the reference's FileScanTask Start/Length,
  * `table/scanner/scanner.go:97-110`) and decoded by Spark's vectorized
  * parquet reader — columnar batches inside whole-stage codegen when the
  * task carries no deletes, row-at-a-time with MoR delete filtering when it
  * does. Delete files are parsed ONCE per executor (not once per task) via
  * [[DeleteFileCache]]. Time travel: `.option("snapshot-id", …)` /
  * `.option("branch", …)` / `.option("as-of-timestamp-ms", …)`.
  */
class IcegopherSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "icegopher"

  private def loadTable(options: CaseInsensitiveStringMap): IcebergTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("icegopher source requires a path"))
    IcebergTables.load(path)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = SchemaConv.toSparkSchema(loadTable(options).schema)
    if (options.getBoolean("read-changes", false))
      StructType(base.fields ++ GraftReaders.CdcCols)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftSparkTable(IcebergTables.load(properties.get("path")),
      readChanges = "true".equalsIgnoreCase(properties.get("read-changes")))
}

object GraftSparkTable {
  /** Iceberg's write-audit-publish session conf: while `spark.wap.branch`
    * is set, SQL INSERTs STAGE on that branch (main and its readers are
    * untouched) and un-pinned reads resolve to the branch head, so audit
    * queries see the staged state. Publish with
    * `CALL <cat>.system.fast_forward(t, branch)` (or `cherrypick_snapshot`
    * when main has moved). `"main"`/empty = conf unset. Resolved at plan
    * time on the driver; absent/driverless contexts read it as unset. */
  private[graft] def wapBranch: Option[String] =
    try Option(org.apache.spark.sql.SparkSession.active.conf
        .get("spark.wap.branch", null))
      .map(_.trim).filter(_.nonEmpty)
      .filter(_ != graft.core.TableMetadata.MainBranch)
    catch { case _: Exception => None }

  /** The other WAP flavor: `spark.wap.id` stage-commits (snapshot outside
    * every ref's lineage, audited by snapshot id, published via
    * `CALL cherrypick_snapshot`). Iceberg-matching: the id only takes
    * effect on tables with `write.wap.enabled=true` — a fleet-wide conf
    * must not silently change commit semantics for tables that never
    * opted into stage-commit auditing. */
  private[graft] def wapId: Option[String] =
    try Option(org.apache.spark.sql.SparkSession.active.conf
        .get("spark.wap.id", null))
      .map(_.trim).filter(_.nonEmpty)
    catch { case _: Exception => None }

  private[graft] def wapStageId(table: IcebergTable): Option[String] =
    wapId.filter(_ =>
      table.properties.get("write.wap.enabled").exists(_.equalsIgnoreCase("true")))
}

/** `pinnedSnapshotId` is set by the catalog's time-travel hooks
  * (`VERSION AS OF` / `TIMESTAMP AS OF`) and by time-traveling
  * `TableScan.toDF`: the scan is pinned to that snapshot and the table
  * reports the SNAPSHOT's schema, so old reads resolve the schema they
  * were written under. `wapReads` lets un-pinned scans follow
  * `spark.wap.branch` (audit reads of a table resolved by name); a handle
  * read (`TableScan.toDF`) always reads the handle's own state. SQL writes
  * — DML, WAP staging, mergeSchema evolution, V3 DV deltas — re-load
  * through the handle's [[TableOperations]] and commit through them, so a
  * REST-cataloged table commits THROUGH its server. */
final class GraftSparkTable(table: IcebergTable,
                            pinnedSnapshotId: Option[Long] = None,
                            readChanges: Boolean = false,
                            wapReads: Boolean = true) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Read-state identity: relations over the same table state read the
    * same rows, so plans over them are `sameResult` — the key
    * [[graft.queries.CacheSlot]] and Spark's cache manager match on. A
    * committed state is its metadata file under the table's UUID (a table
    * dropped and recreated at the same location rewrites
    * `v1.metadata.json` under a new UUID); a handle without a metadata
    * file keys on the metadata itself. */
  private def stateKey: (String, Any, Option[Long], Boolean, Boolean) =
    (table.metadata.tableUuid,
      if (table.metadataPath.nonEmpty) table.metadataPath else table.metadata,
      pinnedSnapshotId, readChanges, wapReads)
  override def equals(o: Any): Boolean = o match {
    case t: GraftSparkTable => stateKey == t.stateKey
    case _ => false
  }
  override def hashCode(): Int = stateKey.hashCode()

  /** SQL UPDATE / MERGE / non-pushable DELETE: copy-on-write rewrite of
    * only the affected files by default (see [[GraftRowLevelOperation]]);
    * when the operation's Iceberg mode property (`write.update.mode` /
    * `write.delete.mode` / `write.merge.mode`) is `merge-on-read`, the
    * delta-based operation commits positional tombstones + appended rows
    * instead — O(changed rows), no data-file rewrite (see
    * [[GraftDeltaRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
      // row-level DML commits (CoW swap / MoR delta) target main; running
      // one while a WAP stage is active would bypass the audit gate the
      // user just asked for — refuse loudly instead of committing to main
      GraftSparkTable.wapBranch.foreach { b =>
        throw new UnsupportedOperationException(
          s"spark.wap.branch='$b' is set: UPDATE/DELETE/MERGE are not " +
            "stageable on a branch — publish (fast_forward) or unset " +
            "spark.wap.branch first")
      }
      val modeProp = info.command() match {
        case DELETE => "write.delete.mode"
        case UPDATE => "write.update.mode"
        case _ => "write.merge.mode"
      }
      // re-read properties at operation build: the mode may have been set
      // by an ALTER TABLE after this Table handle was resolved; for REST
      // tables the fresh state comes from the server, never location files
      val fresh = table.ops.current()
      GraftSparkTable.wapStageId(fresh).foreach { id =>
        throw new UnsupportedOperationException(
          s"spark.wap.id='$id' is set and this table has " +
            "write.wap.enabled: UPDATE/DELETE/MERGE cannot be " +
            "stage-committed — publish (cherrypick_snapshot) or unset " +
            "spark.wap.id first")
      }
      val mor = fresh.properties
        .get(modeProp).exists(_.equalsIgnoreCase("merge-on-read"))
      if (mor)
        new GraftDeltaRowLevelOperation(fresh, info.command())
      else new GraftRowLevelOperation(fresh, info.command())
    }

  private def activeSchema: graft.core.Schema = pinnedSnapshotId
    .flatMap(table.metadata.snapshotById)
    .flatMap(_.schemaId)
    .flatMap(table.metadata.schemaById)
    .getOrElse(table.schema)

  /** `_file` metadata column (per-row source data file): selectable as
    * `SELECT _file, * FROM t` and the group coordinate for copy-on-write
    * row-level operations. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftReaders.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "path of the data file the row lives in"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftReaders.PosCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row position within its data file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftReaders.RowIdCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "V3 row lineage: table-unique row id (file first_row_id + position); " +
            "null for files written before the table tracked lineage"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftReaders.LastUpdatedSeqCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "V3 row lineage: data sequence number of the commit that last " +
            "wrote this row's file"
      })

  /** DELETE FROM ... WHERE: key-equality predicates (`k = v`,
    * `k IN (...)`, multi-column `a = x AND b = y`) commit an EQUALITY
    * delete — a key-list file and one metadata commit, ZERO data scan, so
    * the delete is O(keys) regardless of table size. Everything else
    * commits positional merge-on-read tombstones (one distributed scan, no
    * data rewrite). Only fully-convertible predicates are accepted;
    * otherwise Spark falls back to an error (no silent rewrite). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterConv.fromSparkFilter(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    GraftSparkTable.wapBranch.foreach { b =>
      throw new UnsupportedOperationException(
        s"spark.wap.branch='$b' is set: DELETE is not stageable on a " +
          "branch — publish (fast_forward) or unset spark.wap.branch first")
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val current = table.ops.current()
    GraftSparkTable.wapStageId(current).foreach { id =>
      throw new UnsupportedOperationException(
        s"spark.wap.id='$id' is set and this table has write.wap.enabled: " +
          "DELETE cannot be stage-committed — publish (cherrypick_snapshot) " +
          "or unset spark.wap.id first")
    }
    equalityDeleteKeys(filters) match {
      case Some((cols, rows)) =>
        val full = SchemaConv.toSparkSchema(current.schema)
        val keySchema = StructType(
          cols.map(c => full(full.fieldIndex(c)).copy(nullable = false)))
        val keys = spark.createDataFrame(
          java.util.Arrays.asList(
            rows.map(r => org.apache.spark.sql.Row(r: _*)): _*), keySchema)
        TableWriter.deleteEquality(current, keys, cols)
      case None =>
        val expr = filters.flatMap(FilterConv.fromSparkFilter)
          .reduceOption(CoreAnd(_, _)).getOrElse(AlwaysTrue)
        TableWriter.deleteWhere(current, spark, FilterConv.toColumn(expr))
    }
  }

  /** Key-equality shapes that can skip the scan: a conjunction of
    * single-column equalities (one key tuple) or a single IN (one key per
    * value). Null values stay on the positional path — SQL null-equality
    * semantics never match, while an eq-delete key row would. */
  private def equalityDeleteKeys(filters: Array[Filter])
      : Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val colExists = (c: String) =>
      SchemaConv.toSparkSchema(table.schema).fieldNames.contains(c)
    filters match {
      case _ if filters.isEmpty => None
      case Array(in: In)
          if in.values.nonEmpty && !in.values.contains(null) &&
            colExists(in.attribute) =>
        Some((Seq(in.attribute), in.values.toSeq.map(Seq(_))))
      case eqs if eqs.forall {
            case e: EqualTo => e.value != null && colExists(e.attribute)
            case _ => false
          } && eqs.map(_.asInstanceOf[EqualTo].attribute).distinct.length == eqs.length =>
        val es = eqs.map(_.asInstanceOf[EqualTo])
        Some((es.map(_.attribute).toSeq, Seq(es.map(_.value).toSeq)))
      case _ => None
    }
  }

  /** TRUNCATE TABLE: metadata-only empty overwrite — one commit, no
    * tombstone per row (the SupportsDelete default would MoR-delete every
    * row). Previous data stays reachable through time travel. */
  override def truncateTable(): Boolean = {
    val spark = org.apache.spark.sql.SparkSession.active
    val current = table.ops.current()
    TableWriter.overwrite(current, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SchemaConv.toSparkSchema(current.schema)))
    true
  }
  override def name(): String = table.location

  /** Surface the Iceberg partition spec as Spark connector transforms, so
    * `SHOW CREATE TABLE` prints a PARTITIONED BY clause that round-trips
    * through [[GraftCatalog.createTable]] and `DESCRIBE EXTENDED` lists
    * the partitioning. Void transforms (spec-evolution tombstones) are
    * omitted — they partition nothing. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    table.spec.fields.flatMap { f =>
      table.schema.findColumnName(f.sourceId).flatMap { src =>
        f.transform match {
          case graft.core.IdentityTransform => Some(Expressions.identity(src))
          case graft.core.BucketTransform(n) => Some(Expressions.bucket(n, src))
          case graft.core.TruncateTransform(w) => Some(Expressions.apply(
            "truncate", Expressions.literal(w), Expressions.column(src)))
          case graft.core.YearTransform => Some(Expressions.years(src))
          case graft.core.MonthTransform => Some(Expressions.months(src))
          case graft.core.DayTransform => Some(Expressions.days(src))
          case graft.core.HourTransform => Some(Expressions.hours(src))
          case _ => None // void / unknown: partitions nothing
        }
      }
    }.toArray
  }

  /** Table properties as DESCRIBE EXTENDED / SHOW CREATE TABLE surface
    * them: the user's own properties plus the Iceberg-style read-only
    * facts a user debugs with — format version, sort order, current
    * snapshot — and `provider` so SHOW CREATE prints `USING icegopher`. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    table.properties.foreach { case (k, v) => m.put(k, v) }
    m.put(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER,
      "icegopher")
    m.put("format-version", table.metadata.formatVersion.toString)
    if (!table.sortOrder.isUnsorted)
      m.put("sort-order", table.sortOrder.fields.map { f =>
        val src = table.schema.findColumnName(f.sourceId).getOrElse(s"#${f.sourceId}")
        val expr = f.transform match {
          case graft.core.IdentityTransform => src
          case t => s"${t.repr}($src)"
        }
        s"$expr ${f.direction.repr} ${f.nullOrder.repr}"
      }.mkString(", "))
    table.currentSnapshot.foreach { s =>
      m.put("current-snapshot-id", s.snapshotId.toString)
      m.put("current-snapshot-sequence-number", s.sequenceNumber.toString)
      m.put("current-snapshot-timestamp-ms", s.timestampMs.toString)
    }
    m
  }

  override def schema(): StructType = {
    val base = SchemaConv.toSparkSchema(activeSchema)
    // read-changes (streaming CDC): rows carry commit provenance columns
    if (readChanges) StructType(base.fields ++ GraftReaders.CdcCols) else base
  }
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
    // opt-in (Iceberg-style): lets writes reach the source unvalidated so
    // `.option("mergeSchema", "true")` can evolve the schema; the write
    // path then validates/aligns by name itself
    if (table.properties.get("write.accept-any-schema").contains("true"))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, schema(), options, pinnedSnapshotId,
      // streaming reads poll the table's catalog of record for fresh
      // metadata (a REST table's local listing may lag or not exist)
      streamReload = Some(() => table.ops.current()), wapReads = wapReads,
      readChanges = readChanges)

  /** Write path: the V1Write bridge hands us the source DataFrame intact, so
    * INSERT INTO / df.writeTo(...).append() reuse the same distributed
    * parquet write + footer-stats manifest commit as the library API.
    * `overwrite` (INSERT OVERWRITE / truncate) starts the manifest list from
    * scratch — a REPLACE commit. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => insert(data)

          private def insert(data: org.apache.spark.sql.DataFrame): Unit = {
              var current = table.ops.current() // fresh metadata
              val mergeSchema = info.options().getBoolean("mergeSchema", false)
              if (mergeSchema) {
                // schema evolution on write: new primitive columns in the
                // incoming frame become table columns (fresh field ids)
                val existing = current.schema.fields.map(_.name).toSet
                data.schema.fields.filterNot(f => existing.contains(f.name))
                  .foreach { f =>
                    val t = SchemaConv.primitiveFromSpark(f.dataType).getOrElse(
                      throw new UnsupportedOperationException(
                        s"mergeSchema supports primitive new columns; " +
                          s"'${f.name}' is ${f.dataType.simpleString}"))
                    // Seq-path form: f.name is a literal TOP-LEVEL name
                    // even if it contains a dot
                    current = TableWriter.addColumnAt(current, Seq(f.name), t)
                  }
              }
              val df = alignToTable(data, current)
              (GraftSparkTable.wapStageId(current), GraftSparkTable.wapBranch) match {
                case (Some(id), Some(b)) =>
                  throw new UnsupportedOperationException(
                    s"both spark.wap.id='$id' and spark.wap.branch='$b' " +
                      "are set — choose one WAP flavor (stage-commit or " +
                      "branch staging)")
                case (Some(id), None) =>
                  // WAP stage-commit: only plain appends can stage — an
                  // overwrite's REPLACE semantics can't be re-applied at
                  // publish (cherrypick refuses non-append snapshots)
                  if (overwrite) throw new UnsupportedOperationException(
                    s"spark.wap.id='$id' is set and this table has " +
                      "write.wap.enabled: INSERT OVERWRITE/truncate cannot " +
                      "be staged (unset spark.wap.id, or rewrite on main)")
                  TableWriter.stageWapAppend(current, df, id)
                case (None, Some(b)) =>
                  // WAP branch staging: same append-only rule — an
                  // overwrite on a branch would publish silently on
                  // fast-forward without ever being auditable as a diff
                  if (overwrite) throw new UnsupportedOperationException(
                    s"spark.wap.branch='$b' is set: INSERT OVERWRITE/" +
                      "truncate cannot be staged on a branch (unset " +
                      "spark.wap.branch, or publish and rewrite on main)")
                  TableWriter.appendToBranch(current, df, b)
                case (None, None) =>
                  if (overwrite) TableWriter.overwrite(current, df)
                  else TableWriter.append(current, df)
              }
              ()
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new graft.streaming.GraftStreamingWrite(table, info.schema(),
              info.queryId())
        }
    }
  }

  /** Align an incoming frame to the table schema. A no-op for ordinary
    * writes (Spark already validated and reordered); with ACCEPT_ANY_SCHEMA
    * the frame arrives raw, so: name-subset frames align by NAME (absent
    * table columns null-filled), same-arity frames with foreign names align
    * by POSITION (VALUES lists), anything else is a clear error. Matched
    * columns are cast to the table's types. */
  private def alignToTable(data: org.apache.spark.sql.DataFrame,
                           current: IcebergTable): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val target = SchemaConv.toSparkSchema(current.schema)
    if (data.schema.fieldNames.sameElements(target.fieldNames) &&
        data.schema.fields.map(_.dataType).sameElements(target.fields.map(_.dataType)))
      return data
    val dataNames = data.schema.fieldNames.toSet
    if (dataNames.subsetOf(target.fieldNames.toSet))
      // shared fill: absent columns take their V3 write-default (or null),
      // present ones reorder + cast — one implementation for every write
      // surface (TableWriter.alignForWrite)
      TableWriter.alignForWrite(data, current.schema)
    else if (data.schema.length == target.length)
      data.select(target.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        col(data.schema.fieldNames(i)).cast(f.dataType).as(f.name)
      }: _*)
    else throw new IllegalArgumentException(
      s"cannot align write schema ${data.schema.simpleString} to table " +
        s"schema ${target.simpleString}: names don't match and arity differs " +
        "(use .option(\"mergeSchema\", \"true\") to add new columns)")
  }
}

final class GraftScanBuilder(table: IcebergTable, fullSchema: StructType,
                             options: CaseInsensitiveStringMap,
                             pinnedSnapshotId: Option[Long] = None,
                             streamReload: Option[() => IcebergTable] = None,
                             wapReads: Boolean = true,
                             // the table reads changes: its schema carries
                             // the CDC columns (GraftSparkTable.readChanges)
                             readChanges: Boolean = false)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushed: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty
  // static `_file = ...` / `_file IN (...)` conjuncts and the file set they
  // pin: exact (every row of a kept file satisfies them), so not residuals
  private var pathPushed: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty
  private var filePaths: Option[Set[String]] = None
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None
  private var aggResult: Option[(StructType, Array[Array[Any]])] = None
  // a table resolved without `read-changes` has no CDC columns: reading
  // its changes would return inserted and deleted rows unlabelled
  require(readChanges || !options.getBoolean("read-changes", false),
    "read-changes needs a table whose schema has the change columns: read " +
      "it by path (format(\"icegopher\").option(\"read-changes\", true)" +
      ".load(path)) or through graft.streaming.Changelog.changelogDF")

  /** PARTIAL top-N pushdown over SORTED tables: when the requested order
    * is a prefix of the table's identity sort order, each partition — a
    * contiguous range of one sorted file — emits only its FIRST n rows,
    * which ARE its local top-n; Spark's retained global TopN merges them.
    * `ORDER BY k LIMIT 10` over a sorted 100-TB table then reads ~10 rows
    * per file instead of every row. This is only the cheap metadata
    * acceptance — the per-FILE gate (every scanned file written under the
    * current sort order) re-checks at plan time, and on a mismatch the
    * reader cap simply doesn't apply (full rows, still correct). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{
      NamedReference, SortDirection => V2Dir, NullOrdering => V2Null}
    if (n <= 0 || orders.isEmpty) return false
    val parsed = orders.toSeq.map { o =>
      o.expression() match {
        case f: NamedReference if f.fieldNames().length == 1 =>
          Some((f.fieldNames()(0),
            o.direction() == V2Dir.ASCENDING,
            o.nullOrdering() == V2Null.NULLS_FIRST))
        case _ => None
      }
    }
    if (parsed.exists(_.isEmpty)) return false
    val so = table.sortOrder
    if (so.isUnsorted) return false
    val lead = so.fields
      .takeWhile(_.transform == graft.core.IdentityTransform)
      .flatMap(sf => table.schema.findFieldById(sf.sourceId).map(f =>
        (f.name, sf.direction == graft.core.SortAsc,
          sf.nullOrder == graft.core.NullsFirst)))
    val req = parsed.flatten
    if (req.length > lead.length || lead.take(req.length) != req) return false
    topN = Some((req, n))
    true
  }

  /** The source returns each partition's local top-n, never the global
    * answer — Spark must keep its TopN operator. */
  override def isPartiallyPushed(): Boolean = true

  // V2 predicate pushdown (not the V1 Filter API): the V2 form carries
  // catalog-function predicates too, so a plain SQL
  // `WHERE graft.system.st_intersects_bbox(geom, ...)` reaches the scan
  // and prunes files on the V3 geo bounds — V1 Filters cannot express it
  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    // accept the convertible subset for file skipping; everything remains a
    // residual for Spark (inclusive pruning never drops matching rows).
    // Convertibility alone is not enough: the conversion is untyped (e.g.
    // st_intersects_bbox over a plain BINARY column, or binary equality on
    // a geo column converts fine but Expr.bind rejects it at scan planning,
    // failing a query that evaluates correctly as a residual) — so a
    // predicate only prunes if it also BINDS against the table schema
    val (onFile, rest) = predicates.partition(p => pathsOf(p).isDefined)
    pathPushed = onFile
    filePaths = onFile.flatMap(pathsOf).reduceOption(_ intersect _)
    pushed = rest.filter(p => FilterConv.fromV2Predicate(p).exists(e =>
      try {
        graft.core.Expr.bind(table.schema, graft.core.Expr.rewriteNot(e))
        true
      } catch { case scala.util.control.NonFatal(_) => false }))
    rest
  }
  override def pushedPredicates()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushed ++ pathPushed

  /** The file set a `_file = 'p'` / `_file IN ('p', ...)` predicate on the
    * metadata column selects (a data column named `_file` shadows it; a
    * change read plans commits, not a file set, so it stays a residual). */
  private def pathsOf(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[String]] =
    if (readChanges || fullSchema.fieldNames.contains(GraftReaders.FileCol)) None
    else FilterConv.fromV2Predicate(p).collect {
      case graft.core.UnboundPredicate(graft.core.OpEq | graft.core.OpIn,
          GraftReaders.FileCol, lits)
          if lits.forall(_.isInstanceOf[graft.core.StrLit]) =>
        lits.collect { case graft.core.StrLit(v) => v }.toSet
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  // ------------------------------------------------- aggregate pushdown
  // Unfiltered COUNT/COUNT(col)/MIN/MAX are answered ENTIRELY from
  // manifest stats: record counts, null counts, per-column bounds.
  // GROUP BY is supported when every grouping column is IDENTITY-
  // partitioned in every scanned file's spec — then each file belongs to
  // exactly one group and the same stats aggregate per group. At 100 TB
  // this turns `SELECT count(*) FROM t` or `SELECT day, count(*) FROM t
  // GROUP BY day` into an O(manifests) driver read — zero data-file I/O,
  // zero tasks of real work. Refused (→ Spark aggregates normally)
  // whenever correctness would need data: any filter, a non-identity or
  // partially-partitioned group column, delete files, missing stats,
  // truncatable string/binary bounds, or NaN-ambiguous float/double
  // bounds.

  // Spark probes supportCompletePushDown, then calls pushAggregation with
  // the same Aggregation — memoize so the file set is planned ONCE per
  // agg-pushdown query, not twice
  private var aggMemo: Option[(AnyRef, Option[(StructType, Array[Array[Any]])])] = None
  private def metadataAggregateMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Array[Any]])] = aggMemo match {
    case Some((key, v)) if key eq agg => v
    case _ =>
      val v = metadataAggregate(agg)
      aggMemo = Some((agg, v))
      v
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAggregateMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = metadataAggregateMemo(agg)
    aggResult.isDefined
  }

  private def snapshotPins: (Option[Long], Option[String], Option[Long]) = {
    val explicit =
      (Option(options.get("snapshot-id")).map(_.toLong).orElse(pinnedSnapshotId),
        Option(options.get("branch")),
        Option(options.get("as-of-timestamp-ms")).map(_.toLong))
    explicit match {
      // WAP audit reads: an un-pinned scan under `spark.wap.branch`
      // resolves to the staging branch IF the table has one (no staged
      // commit yet → main, matching Iceberg); any explicit pin
      // (VERSION/TIMESTAMP AS OF, .option) wins, so `VERSION AS OF 'main'`
      // still reads the published state during an audit
      case (None, None, None) if wapReads =>
        (None,
          GraftSparkTable.wapBranch.filter(table.metadata.refs.contains),
          None)
      case e => e
    }
  }

  private def metadataAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushed.nonEmpty || filePaths.nonEmpty || limit.nonEmpty || topN.nonEmpty)
      return None
    // incremental and change reads answer from a commit window, not the
    // snapshot's full stats
    if (options.get("start-snapshot-id") != null || readChanges) return None
    // a bbox option is a row filter the manifest stats can't see — a
    // pushed COUNT would answer over ALL rows of surviving files
    if (options.get("bbox") != null) return None

    def colId(e: org.apache.spark.sql.connector.expressions.Expression): Option[graft.core.NestedField] =
      e.references() match {
        case Array(r) if r.fieldNames().length == 1 =>
          table.schema.findFieldByName(r.fieldNames()(0))
        case _ => None
      }

    /** Decoded bound for every file in `fs`, or None if any file lacks it. */
    def bounds(fs: Seq[graft.core.DataFileInfo], f: graft.core.NestedField,
               side: graft.core.DataFileInfo => Map[Int, Array[Byte]]): Option[Seq[graft.core.Literal]] = {
      val all = fs.map(df => side(df).get(f.id)
        .flatMap(b => graft.core.LiteralCodec.fromBytes(f.fieldType, b)))
      if (all.forall(_.isDefined)) Some(all.flatten) else None
    }

    /** Bounds are trustworthy only for fixed-width types: string/binary
      * bounds may be writer-truncated, float/double bounds exclude NaN. */
    def boundSafe(fs: Seq[graft.core.DataFileInfo], f: graft.core.NestedField): Boolean = f.fieldType match {
      case graft.core.IntT | graft.core.LongT | graft.core.DateT |
           graft.core.TimeT | graft.core.TimestampT | graft.core.TimestampTzT |
           graft.core.BooleanT | graft.core.DecimalT(_, _) => true
      case graft.core.FloatT | graft.core.DoubleT =>
        // only if every file PROVES it holds no NaN
        fs.forall(df => df.nanValueCounts.get(f.id).contains(0L))
      case _ => false
    }

    def toCatalyst(l: graft.core.Literal): Any = l match {
      case graft.core.IntLit(v) => v
      case graft.core.LongLit(v) => v
      case graft.core.FloatLit(v) => v
      case graft.core.DoubleLit(v) => v
      case graft.core.BoolLit(v) => v
      case graft.core.DateLit(v) => v
      case graft.core.TimeLit(v) => v
      case graft.core.TsLit(v) => v
      case graft.core.DecLit(unscaled, scale) =>
        org.apache.spark.sql.types.Decimal(BigDecimal(unscaled, scale))
      case other => throw new IllegalStateException(s"unexpected bound literal $other")
    }

    // ---- grouping: identity-partition columns only (see header comment).
    // The grouping expression must BE a bare column reference — a pushed
    // scalar expression OVER a partition column (e.g. `GROUP BY f(col)`)
    // also references one field, but its group values are not the
    // partition values
    val groupCols: Seq[graft.core.NestedField] =
      agg.groupByExpressions().toSeq.map {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          colId(r).getOrElse(return None)
        case _ => return None
      }
    /** Group-key types whose manifest partition values map 1:1 onto
      * catalyst internal values with well-defined equality (floats are
      * excluded: Spark normalizes -0.0/NaN in grouping keys, Iceberg
      * partition tuples don't; binary excluded: array identity-equality). */
    def groupSafe(t: graft.core.IcebergType): Boolean = t match {
      case graft.core.BooleanT | graft.core.IntT | graft.core.LongT |
           graft.core.DateT | graft.core.TimeT | graft.core.TimestampT |
           graft.core.TimestampTzT | graft.core.StringT | graft.core.UuidT |
           graft.core.DecimalT(_, _) => true
      case _ => false
    }
    if (!groupCols.forall(f => groupSafe(f.fieldType))) return None
    val specsById = table.metadata.partitionSpecs.map(s => s.specId -> s).toMap
    /** The partition field carrying `f`'s IDENTITY value in `spec`, if
      * the spec has one — the single definition every identity check in
      * this pushdown goes through. */
    def identityField(spec: graft.core.PartitionSpec,
                      f: graft.core.NestedField): Option[graft.core.PartitionField] =
      spec.fields.find(p =>
        p.sourceId == f.id && p.transform == graft.core.IdentityTransform)
    /** Statically decidable: SOME spec identity-partitions on `f` (the
      * exact per-file check happens after planning). */
    def anySpecIdentity(f: graft.core.NestedField): Boolean =
      specsById.values.exists(s => identityField(s, f).isDefined)
    // statically refusable: if NO spec identity-partitions a group column,
    // no scanned file can answer it — refuse before planning any files
    if (!groupCols.forall(anySpecIdentity)) return None
    /** Partition-field name carrying `f`'s IDENTITY value under `specId`,
      * or None (→ refuse) if that spec doesn't identity-partition on it. */
    def identityName(specId: Int, f: graft.core.NestedField): Option[String] =
      specsById.get(specId).flatMap(identityField(_, f)).map(_.name)
    /** Raw Avro manifest partition value → catalyst internal value. */
    def internalVal(raw: Any, t: graft.core.IcebergType): Any = raw match {
      case null => null
      case fx: org.apache.avro.generic.GenericData.Fixed => internalVal(fx.bytes(), t)
      case bb: java.nio.ByteBuffer =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
        internalVal(a, t)
      case other => t match {
        case graft.core.StringT =>
          org.apache.spark.unsafe.types.UTF8String.fromString(other.toString)
        case graft.core.UuidT => other match {
          case a: Array[Byte] if a.length == 16 =>
            val b = java.nio.ByteBuffer.wrap(a)
            org.apache.spark.unsafe.types.UTF8String.fromString(
              new java.util.UUID(b.getLong, b.getLong).toString)
          case s => org.apache.spark.unsafe.types.UTF8String.fromString(s.toString)
        }
        case graft.core.DecimalT(_, s) => other match {
          case a: Array[Byte] => org.apache.spark.sql.types.Decimal(
            BigDecimal(new java.math.BigInteger(a), s))
          case x => x
        }
        // int/long-backed types (int, long, date, time, timestamps) arrive
        // from the Avro decode already in catalyst-internal form
        case _ => other
      }
    }
    /** Group key of one task, or None if its spec can't answer it. */
    def keyOf(t: graft.core.FileScanTask): Option[Seq[Any]] = {
      val vs = groupCols.map { f =>
        identityName(t.specId, f) match {
          case Some(name) =>
            internalVal(t.file.partition.get(name).orNull, f.fieldType)
          case None => return None
        }
      }
      Some(vs)
    }

    // ---- aggregate columns: schema + per-task-set evaluator, shared by
    // the ungrouped (one group = all files) and grouped paths. Extractors
    // see FileScanTasks (not bare files) so COUNT(DISTINCT identity-col)
    // can read per-file partition values under each file's own spec.
    val aggCols: Seq[(StructField, Seq[graft.core.FileScanTask] => Option[Any])] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          (StructField("count_star", LongType, nullable = false),
            (ts: Seq[graft.core.FileScanTask]) =>
              Some(ts.map(_.file.recordCount).sum): Option[Any])
        case c: Count if !c.isDistinct =>
          val f = colId(c.column()).getOrElse(return None)
          (StructField(s"count_${f.name}", LongType, nullable = false),
            (ts: Seq[graft.core.FileScanTask]) => {
              val counts = ts.map(_.file).map(df =>
                for {
                  v <- df.valueCounts.get(f.id)
                  n <- df.nullValueCounts.get(f.id)
                } yield v - n)
              if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
            })
        case c: Count if c.isDistinct =>
          // COUNT(DISTINCT col) is exact from manifests when col is an
          // IDENTITY partition column in every scanned file's spec: the
          // value is constant per file, so the distinct set is the set of
          // live partition values (nulls excluded per SQL; zero-record
          // files contribute no value — the planner already drops them)
          val f = colId(c.column()).getOrElse(return None)
          if (!groupSafe(f.fieldType)) return None
          if (!anySpecIdentity(f)) return None
          (StructField(s"count_distinct_${f.name}", LongType, nullable = false),
            (ts: Seq[graft.core.FileScanTask]) => {
              val live = ts.filter(_.file.recordCount > 0)
              val names = live.map(t => identityName(t.specId, f))
              if (names.exists(_.isEmpty)) None // a spec without the field
              else Some(live.zip(names)
                .map { case (t, n) =>
                  internalVal(t.file.partition.get(n.get).orNull, f.fieldType)
                }
                .filter(_ != null).distinct.size.toLong)
            })
        case m: Min =>
          val f = colId(m.column()).getOrElse(return None)
          (StructField(s"min_${f.name}", SchemaConv.toSparkType(f.fieldType)),
            (ts: Seq[graft.core.FileScanTask]) =>
              if (!boundSafe(ts.map(_.file), f)) None
              else bounds(ts.map(_.file), f, _.lowerBounds).filter(_.nonEmpty).map(bs =>
                toCatalyst(bs.reduce((a, b) =>
                  if (graft.core.LiteralOrdering.compare(a, b).exists(_ <= 0)) a
                  else b))))
        case m: Max =>
          val f = colId(m.column()).getOrElse(return None)
          (StructField(s"max_${f.name}", SchemaConv.toSparkType(f.fieldType)),
            (ts: Seq[graft.core.FileScanTask]) =>
              if (!boundSafe(ts.map(_.file), f)) None
              else bounds(ts.map(_.file), f, _.upperBounds).filter(_.nonEmpty).map(bs =>
                toCatalyst(bs.reduce((a, b) =>
                  if (graft.core.LiteralOrdering.compare(a, b).exists(_ >= 0)) a
                  else b))))
        case _ => return None
      }

    // every static check passed — only now pay the file planning
    val (snap, ref, asOf) = snapshotPins
    val tasks =
      try table.newScan(snapshotId = snap, ref = ref, asOfTimestampMs = asOf).planFiles()
      catch { case _: Exception => return None }
    // deleted rows are invisible to manifest stats — bail out
    if (tasks.exists(_.deleteFiles.nonEmpty)) return None

    def rowFor(key: Seq[Any], ts: Seq[graft.core.FileScanTask]): Option[Array[Any]] = {
      val vs = aggCols.map(_._2(ts))
      if (vs.forall(_.isDefined)) Some((key ++ vs.map(_.get)).toArray) else None
    }

    val rows: Array[Array[Any]] =
      if (groupCols.isEmpty) Array(rowFor(Nil, tasks).getOrElse(return None))
      else {
        // every file maps to exactly one group (identity partition) — an
        // empty table yields zero groups, matching SQL GROUP BY semantics.
        // Groups whose files hold ZERO rows are dropped the same way: SQL
        // emits no group for a partition with no rows, so a committed
        // empty data file must not invent one
        val keyed = tasks.map(t => keyOf(t).getOrElse(return None) -> t)
        keyed.groupBy(_._1).toSeq
          .filter { case (_, kts) => kts.exists(_._2.file.recordCount > 0) }
          .map { case (k, kts) =>
            rowFor(k, kts.map(_._2)).getOrElse(return None)
          }.toArray
      }
    val schema = StructType(
      groupCols.map(f =>
        StructField(f.name, SchemaConv.toSparkType(f.fieldType))) ++
        aggCols.map(_._1))
    Some((schema, rows))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new GraftAggScan(table, schema, values)
    case None =>
      // geo bbox prune, option-carried (Spark's filter pushdown cannot
      // express st_intersects_bbox): .option("bbox", "xmin,ymin,xmax,ymax")
      // + .option("bbox-column", "geom") — prunes files on the V3 geo
      // bounds and filters rows by envelope, same as the library API.
      // Parsed ONCE; both the prune expression and the reader's row
      // filter derive from this tuple
      val bboxRow: Option[(String, Double, Double, Double, Double)] =
        Option(options.get("bbox")).map { spec =>
          val colName = Option(options.get("bbox-column")).getOrElse(
            throw new IllegalArgumentException(
              "option 'bbox' requires 'bbox-column' naming the geo column"))
          val p = spec.split(",").map(_.trim.toDouble)
          require(p.length == 4,
            s"option 'bbox' must be 'xmin,ymin,xmax,ymax', got '$spec'")
          (colName, p(0), p(1), p(2), p(3))
        }
      val bboxExpr = bboxRow.map { case (c, xmin, ymin, xmax, ymax) =>
        graft.core.Expr.stIntersectsBBox(c, xmin, ymin, xmax, ymax)
      }
      val expr = (pushed.flatMap(FilterConv.fromV2Predicate) ++ bboxExpr)
        .reduceOption(CoreAnd(_, _)).getOrElse(AlwaysTrue)
      val (snap, ref, asOf) = snapshotPins
      val window = (Option(options.get("start-snapshot-id")).map(_.toLong),
        Option(options.get("end-snapshot-id")).map(_.toLong))
      new GraftScan(table, expr, required, snap, ref, asOf, limit,
        Option(options.get("stream-start")).getOrElse("earliest"), window,
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("maxBytesPerTrigger")).map(_.toLong),
        readChanges,
        bbox = bboxRow,
        requestedTopN = topN,
        streamReload = streamReload,
        filePaths = filePaths)
  }
}

/** Complete aggregate pushdown result: precomputed rows (one per group;
  * exactly one when ungrouped), zero data I/O. */
final class GraftAggScan(table: IcebergTable, aggSchema: StructType,
                         rows: Array[Array[Any]])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"icegopher ${table.location} [metadata-only aggregate]"
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(64L * math.max(rows.length, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows.length)
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val all = p.asInstanceOf[GraftAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < all.length }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(all(i).clone())
          override def close(): Unit = ()
        }
    }
}

final case class GraftAggPartition(rows: Array[Array[Any]]) extends InputPartition

final class GraftScan(table: IcebergTable, filter: BooleanExpression,
                      required: StructType, snapshotId: Option[Long],
                      branch: Option[String], asOf: Option[Long],
                      limit: Option[Int], streamStart: String = "earliest",
                      // `start-snapshot-id` / `end-snapshot-id`: a batch
                      // read with a start covers the files appended in
                      // (start, end]; a read-changes batch read the
                      // row-level changes of that window, where no start
                      // means everything retained
                      window: (Option[Long], Option[Long]) = (None, None),
                      maxFilesPerTrigger: Option[Int] = None,
                      maxBytesPerTrigger: Option[Long] = None,
                      readChanges: Boolean = false,
                      // option-carried geo bbox: (column, xmin, ymin,
                      // xmax, ymax) — prunes files via `filter` AND
                      // filters rows in the reader (Spark can't re-apply
                      // a non-Filter residual, so the reader owns it)
                      bbox: Option[(String, Double, Double, Double,
                        Double)] = None,
                      // partial top-N: the requested (column, asc,
                      // nullsFirst) prefix + n; applies a per-partition
                      // reader cap ONLY when the scan actually reports a
                      // covering ordering (see planInputPartitions)
                      requestedTopN: Option[(Seq[(String, Boolean, Boolean)],
                        Int)] = None,
                      // fresh-metadata loader for streaming reads when the
                      // table's catalog of record is not the filesystem
                      // (REST): each micro-batch poll follows the server
                      streamReload: Option[() => IcebergTable] = None,
                      // the data files a static `_file` predicate keeps
                      filePaths: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private def incremental: Option[Long] = window._1.filter(_ => !readChanges)

  /** Report the table's sort order as per-partition output ordering when
    * the scan provably delivers it: every scanned data file was written
    * under the CURRENT sort order (file.sort_order_id matches), so each
    * input partition — a contiguous row-group range of one sorted file —
    * is sorted; deletes and residual filters only REMOVE rows, which
    * preserves order. Spark then drops its Sort for merge-join/ordered-
    * window inputs over sorted tables (SPJ already removed the exchange —
    * this removes the remaining O(n log n) per task at 100 TB). Only the
    * LEADING identity-transform prefix is reported: truncate/bucket sort
    * fields don't imply column order. Changefeed/incremental reads append
    * synthetic rows in commit order — never reported. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    // memoized per planned file set (Spark calls this several times per
    // plan, and planInputPartitions consults it again for the top-N gate —
    // the every-file-sorted forall is O(tasks) and need only run once;
    // `eq` invalidates after a runtime-filter re-plan, same discipline as
    // colStatsCache)
    if (readChanges || incremental.isDefined) return Array.empty
    val t0 = tasks
    val cached = orderingCache
    if (cached != null && (cached._1 eq t0)) return cached._2
    val computed = computeOutputOrdering(t0)
    orderingCache = (t0, computed)
    computed
  }

  @volatile private var orderingCache: (Seq[FileScanTask],
    Array[org.apache.spark.sql.connector.expressions.SortOrder]) = _

  private def computeOutputOrdering(tasks: Seq[FileScanTask])
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{
      Expressions, SortDirection => V2Dir, NullOrdering => V2Null}
    val so = table.sortOrder
    if (so.isUnsorted || tasks.isEmpty) return Array.empty
    if (!tasks.forall(_.file.sortOrderId.contains(so.orderId)))
      return Array.empty
    // stop at the first non-identity or unresolvable field: a (a, b)-sorted
    // stream is sorted by its PREFIX (a), but never by a later field alone
    val lead = so.fields.iterator
      .map(sf =>
        if (sf.transform != graft.core.IdentityTransform) None
        else table.schema.findFieldById(sf.sourceId).map(f =>
          Expressions.sort(Expressions.column(f.name),
            if (sf.direction == graft.core.SortAsc) V2Dir.ASCENDING
            else V2Dir.DESCENDING,
            if (sf.nullOrder == graft.core.NullsFirst) V2Null.NULLS_FIRST
            else V2Null.NULLS_LAST)))
      .takeWhile(_.isDefined).flatten.toArray
    lead
  }

  /** Storage-partitioned joins: report the table's partition transforms as
    * KeyGroupedPartitioning and stamp each input partition with its tuple —
    * two tables partitioned the same way (e.g. `bucket(16, key)`) then join
    * WITHOUT any exchange (`spark.sql.sources.v2.bucketing.enabled=true`).
    * At 100 TB this deletes the dominant shuffle of fact-fact joins. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val specFields = table.spec.fields
    if (specFields.isEmpty || readChanges)
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    val keys = specFields.map { pf =>
      val src = table.schema.findFieldById(pf.sourceId).get.name
      pf.transform match {
        case graft.core.IdentityTransform => Expressions.identity(src)
        case graft.core.BucketTransform(n) => Expressions.bucket(n, src)
        case graft.core.YearTransform => Expressions.years(src)
        case graft.core.MonthTransform => Expressions.months(src)
        case graft.core.DayTransform => Expressions.days(src)
        case graft.core.HourTransform => Expressions.hours(src)
        case other => return new org.apache.spark.sql.connector.read
          .partitioning.UnknownPartitioning(0)
      }
    }
    // byte-encoded tuple values (e.g. decimal partitions) have reference
    // equality — grouping on them would be wrong, so don't report keys
    val tuples = tasks.map(t =>
      specFields.map(pf => t.file.partition.get(pf.name).orNull))
    if (tuples.exists(_.exists(_.isInstanceOf[Array[Byte]])))
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      keys.toArray, math.max(1, tuples.distinct.size))
  }

  /** Runtime filters (dynamic partition pruning / runtime group filtering):
    * Spark hands us the join-side values after build-side execution; we AND
    * them into the scan filter and re-plan the file set before any task
    * launches. Metadata-only — no data read to prune. Filters on the
    * `_file` metadata column restrict the file set directly (the group
    * filter of copy-on-write row-level operations), intersected with any
    * static `_file` predicate's set. */
  private var runtimeFilter: BooleanExpression = AlwaysTrue
  private var filePathFilter: Option[Set[String]] = filePaths

  override def filterAttributes(): Array[NamedReference] = {
    val partCols = table.spec.fields.flatMap { pf =>
      table.schema.findFieldById(pf.sourceId).map(f =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
    }
    // `_file` is only resolvable when this scan actually outputs it (the
    // row-level-operation scans); advertising it on ordinary scans breaks
    // DPP's reference resolution
    val fileCol =
      if (required.fieldNames.contains(GraftReaders.FileCol))
        Seq(org.apache.spark.sql.connector.expressions.Expressions
          .column(GraftReaders.FileCol))
      else Nil
    (partCols ++ fileCol).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo => SEq, In => SIn}
    val (fileFilters, rest) =
      filters.partition(_.references.contains(GraftReaders.FileCol))
    val paths = fileFilters.collect {
      case SIn(c, vs) if c == GraftReaders.FileCol =>
        vs.map(String.valueOf(_: Any)).toSet
      case SEq(c, v) if c == GraftReaders.FileCol => Set(String.valueOf(v))
    }.reduceOption(_ intersect _)
    val converted = rest.flatMap(FilterConv.fromSparkFilter)
    if (paths.isDefined || converted.nonEmpty) {
      paths.foreach(p => filePathFilter = Some(filePathFilter.fold(p)(_ intersect p)))
      if (converted.nonEmpty) runtimeFilter = converted.reduce(CoreAnd(_, _))
      plannedTasks = null // re-plan with the tighter filter
    }
  }

  @volatile private var plannedTasks: Seq[FileScanTask] = _
  private def tasks: Seq[FileScanTask] = {
    if (plannedTasks == null) {
      val planned = incremental match {
        // incremental batch read: files APPENDED in (start, end] — the
        // batch form of the streaming changefeed (replace/overwrite
        // snapshots carry rows a reader at `start` already saw); no file
        // skipping here, Spark's residual filters keep row correctness
        case Some(from) =>
          val to = window._2
          // incremental batch reads may also plan through a plan-capable
          // REST catalog (the request's start/end-snapshot-id form); the
          // local changefeed walk is the universal fallback. Same gates as
          // the snapshot path: consumers of per-task provenance/sequence
          // numbers (lineage columns, row-level `_file`) stay local.
          val remoteIncrOk =
            !required.fieldNames.contains(GraftReaders.FileCol) &&
            !required.fieldNames.contains(GraftReaders.RowIdCol) &&
            !required.fieldNames.contains(GraftReaders.LastUpdatedSeqCol)
          (if (remoteIncrOk)
            table.remotePlanner.flatMap(_.planIncremental(from, to))
          else None)
            .getOrElse(
              graft.streaming.EventStreams.appendedFilesBetween(table, from, to))
        case None =>
          // catalog-side planning is gated OFF for scans whose consumers
          // need what the REST plan wire format doesn't carry: row-level
          // operations (`_file` projection → CoW manifest provenance) and
          // V3 lineage reads (data sequence numbers)
          val remoteOk =
            !required.fieldNames.contains(GraftReaders.FileCol) &&
            !required.fieldNames.contains(GraftReaders.RowIdCol) &&
            !required.fieldNames.contains(GraftReaders.LastUpdatedSeqCol)
          table.newScan(CoreAnd(filter, runtimeFilter) match {
            case CoreAnd(AlwaysTrue, AlwaysTrue) => AlwaysTrue
            case CoreAnd(l, AlwaysTrue) => l
            case CoreAnd(AlwaysTrue, r) => r
            case e => e
          }, snapshotId = snapshotId, ref = branch,
            asOfTimestampMs = asOf,
            remotePlanningOk = remoteOk).planFiles()
      }
      plannedTasks = filePathFilter match {
        case Some(paths) => planned.filter(t => paths.contains(t.file.path))
        case None => planned
      }
    }
    plannedTasks
  }

  /** Data files this scan reads (post runtime filtering) — the group set a
    * copy-on-write row-level commit replaces. */
  private[spark] def scannedFilePaths: Seq[String] = tasks.map(_.file.path)

  /** Manifests those files came from: a CoW commit only needs to read and
    * rewrite these — every other manifest provably references no scanned
    * (hence no replaced) file. All-or-nothing: if ANY task lacks manifest
    * provenance (e.g. a server-planned task — the REST wire format carries
    * no manifest paths), a partial set would falsely claim the missing
    * tasks' manifests reference nothing, so the whole claim is withdrawn
    * (empty → consumers fall back to reading every manifest). */
  private[spark] def scannedManifestPaths: Set[String] = {
    val mfs = tasks.map(_.manifestPath)
    if (mfs.nonEmpty && mfs.forall(_.nonEmpty)) mfs.toSet else Set.empty
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(table.location, required,
      streamStart, maxFilesPerTrigger, maxBytesPerTrigger, readChanges,
      reload = streamReload)
  override def description(): String =
    if (readChanges) s"icegopher ${table.location} [changes $window]"
    else s"icegopher ${table.location} [${tasks.size} files after pruning]"

  /** A read-changes batch scan: the change partitions of its window,
    * planned once. */
  private lazy val changePartitions: Array[InputPartition] =
    graft.streaming.Changelog.changePartitions(table, required,
      graft.streaming.Changelog.changesBetween(table, window._1, window._2))
      .toArray

  /** Planned-file stats (SupportsReportStatistics): lets Spark's CBO size
    * this relation from metadata — broadcast decisions without scanning.
    * Column NDVs come from preserved theta-sketch `statistics` (foreign
    * engines' sketches included), feeding join-cardinality estimation
    * under `spark.sql.cbo.enabled`. A read-changes scan reports only the
    * bytes its change partitions read. */
  override def estimateStatistics(): Statistics =
    if (readChanges) new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(changePartitions
          .map(_.asInstanceOf[GraftInputPartition].length).sum)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    } else new Statistics {
    /** Manifest recordCount ignores MoR deletes; when a partition-stats
      * registry exists FOR THE PINNED SNAPSHOT (ice23's
      * `compute_partition_stats`), subtract the planned partitions'
      * delete records — a mostly-deleted partition then reports its LIVE
      * size and a broadcast-able join side actually broadcasts. A
      * partition's deletes are subtracted ONLY when the plan holds the
      * WHOLE partition (planned record sum == the registry's data record
      * count): under file-level pruning the deletes could target the
      * pruned files, and whole-partition subtraction would collapse a
      * many-row scan to zero. Equality deletes are counted at face value
      * (they may overlap), so this is an estimate that can under-report,
      * which CBO tolerates. */
    private def liveRows: Long = {
      val base = tasks.map(_.file.recordCount).sum
      // the ref-pinned head when scanning a branch — looking up main's
      // registry for a branch scan would subtract the wrong history
      val pinned = snapshotId
        .orElse(branch.flatMap(b => table.metadata.refs.get(b))
          .map(_.snapshotId))
        .orElse(table.currentSnapshot.map(_.snapshotId))
      val deletes = pinned.map { sid =>
        val counts = TableStatistics.partitionDeleteCounts(table, sid)
        if (counts.isEmpty) 0L
        else {
          val plannedRecords = tasks
            .flatMap(t => TableStatistics.normalizePartition(t.file.partition)
              .map(_ -> t.file.recordCount))
            .groupMapReduce(_._1)(_._2)(_ + _)
          counts.collect {
            case (k, (dataRecords, del))
                if plannedRecords.get(k).contains(dataRecords) => del
          }.sum
        }
      }.getOrElse(0L)
      math.max(0L, base - deletes)
    }
    override def sizeInBytes(): java.util.OptionalLong = {
      val bytes = tasks.map(_.file.fileSizeInBytes).sum
      val base = tasks.map(_.file.recordCount).sum
      val live = liveRows
      // scale bytes by the live fraction so join sizing sees both signals
      java.util.OptionalLong.of(
        if (base <= 0 || live == base) bytes
        else math.max(1L, (bytes.toDouble * live / base).toLong))
    }
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(liveRows)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      // decoding per-file bounds over 10^5 files × many columns is real
      // driver work — compute once per planned file set (re-planned tasks
      // after runtime filtering get a fresh map; `eq` catches that)
      val t = tasks
      val cached = colStatsCache
      if (cached != null && (cached._1 eq t)) return cached._2
      val out = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // a pruned scan can't have more distinct values than rows: cap the
      // whole-table sketch NDV at the planned row count
      val rowCap = tasks.map(_.file.recordCount).sum
      TableStatistics.ndv(table, snapshotId).foreach { case (fieldId, n0) =>
        val n = math.min(n0, math.max(1L, rowCap))
        table.schema.findColumnName(fieldId).foreach { name =>
          // null count from the planned files' manifest stats — Spark's
          // join estimation engages only when BOTH distinctCount and
          // nullCount are known (JoinEstimation.columnStatsWithCountsExist)
          val nulls = tasks.map(_.file.nullValueCounts
            .getOrElse(fieldId, 0L)).sum
          // min/max from the manifests' per-file bounds: numeric join
          // keys with no interval estimate to ZERO rows in Spark's
          // ValueInterval logic, so the bounds are load-bearing
          val ft = table.schema.findFieldById(fieldId).map(_.fieldType)
          def bound(m: graft.core.DataFileInfo => Map[Int, Array[Byte]],
                    takeFirst: Boolean): Option[Any] =
            ft.flatMap { t =>
              val lits: Seq[graft.core.Literal] = tasks.flatMap(task =>
                m(task.file).get(fieldId).flatMap(b =>
                  graft.core.LiteralCodec.fromBytes(t, b)))
              lits.reduceOption { (a: graft.core.Literal, b: graft.core.Literal) =>
                val c = graft.core.LiteralOrdering.compare(a, b)
                  .getOrElse(return None)
                if ((c <= 0) == takeFirst) a else b
              }.map(l => SchemaConv.catalystDefault(t, l))
            }
          val minV = bound(_.lowerBounds, takeFirst = true)
          val maxV = bound(_.upperBounds, takeFirst = false)
          out.put(org.apache.spark.sql.connector.expressions.Expressions
            .column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(n)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(nulls)
              override def min(): java.util.Optional[Object] =
                minV.map(_.asInstanceOf[Object]).map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                maxV.map(_.asInstanceOf[Object]).map(java.util.Optional.of[Object])
                  .getOrElse(java.util.Optional.empty[Object]())
            })
        }
      }
      colStatsCache = (t, out)
      out
    }
  }

  @volatile private var colStatsCache: (Seq[FileScanTask],
    java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]) = _

  /** One InputPartition per row-group range: each file is split on its
    * stored `splitOffsets`, adjacent row groups coalesced up to
    * `spark.sql.files.maxPartitionBytes` — so a single large file fans out
    * across the cluster instead of pinning one task. A read-changes scan
    * reads its window's change partitions instead. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (readChanges) return changePartitions
    val maxSplit = GraftScan.maxSplitBytes(tasks)
    // partial top-N: the per-partition reader cap applies ONLY when the
    // scan provably delivers the requested ordering (same gate as
    // outputOrdering — every file under the current sort order); on a
    // mismatch the cap is skipped and Spark's retained TopN stays exact
    val topNLimit: Option[Int] = requestedTopN.flatMap { case (req, n) =>
      import org.apache.spark.sql.connector.expressions.{
        NamedReference, SortDirection => V2Dir, NullOrdering => V2Null}
      val reported = outputOrdering().toSeq.map(o =>
        (o.expression().asInstanceOf[NamedReference].fieldNames()(0),
          o.direction() == V2Dir.ASCENDING,
          o.nullOrdering() == V2Null.NULLS_FIRST))
      if (req.length <= reported.length && reported.take(req.length) == req)
        Some(n)
      else None
    }
    val effLimit = limit.orElse(topNLimit)
    // columnar-ness must be uniform across the scan (Spark refuses mixed
    // partitions), so it's decided here for the whole file set; `_file`
    // projection rides the row path
    val columnar = effLimit.isEmpty && bbox.isEmpty &&
      tasks.forall(_.deleteFiles.isEmpty) &&
      !required.fieldNames.contains(GraftReaders.FileCol) &&
      !required.fieldNames.contains(GraftReaders.PosCol) &&
      !required.fieldNames.contains(GraftReaders.RowIdCol) &&
      !required.fieldNames.contains(GraftReaders.LastUpdatedSeqCol) &&
      tasks.forall(_.file.format.equalsIgnoreCase("PARQUET"))
    // ROW-GROUP skipping inside each parquet file (chunk stats, dictionary,
    // bloom filters): the same pushed predicate that pruned whole files at
    // the manifest level, converted once per scan; applied per file only
    // when its footer carries every referenced column under its current
    // name. Conservative by construction — all filters stay residuals.
    val rgExpr = CoreAnd(filter, runtimeFilter) match {
      case CoreAnd(l, AlwaysTrue) => l
      case CoreAnd(AlwaysTrue, r) => r
      case e => e
    }
    val rowGroupPredicate = ParquetRowGroupFilter.convert(rgExpr, table.schema)
    val rowGroupPredicateCols =
      ParquetRowGroupFilter.referencedTypes(rgExpr, table.schema)
    tasks.flatMap(t => GraftScan.taskPartitions(table, required, t, maxSplit,
      effLimit, columnar, rowGroupPredicate, rowGroupPredicateCols, bbox))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory()
}

object GraftScan {

  /** Spark's own split sizing (FilePartition.maxSplitBytes): cap at
    * files.maxPartitionBytes, but don't produce splits smaller than the
    * open cost, and aim for one split per core when the read is small. */
  private[graft] def maxSplitBytes(tasks: Seq[FileScanTask]): Long = {
    val (confMax, openCost) =
      try {
        val c = org.apache.spark.sql.internal.SQLConf.get
        (c.filesMaxPartitionBytes, c.filesOpenCostInBytes)
      } catch { case _: Exception => (128L * 1024 * 1024, 4L * 1024 * 1024) }
    val parallelism =
      try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
      catch { case _: Exception => 1 }
    val totalBytes = tasks.map(t => t.file.fileSizeInBytes + openCost).sum
    math.min(confMax, math.max(openCost, totalBytes / math.max(1, parallelism)))
  }

  /** The input partitions that read one planned task — the one place a
    * [[GraftInputPartition]] is built, for batch scans, streams and change
    * reads alike. The task's delete files split into positional files,
    * deletion vectors and equality keys; the reader schema adds what those
    * need plus the row index and lineage columns; historical names and the
    * name mapping ride along for id-less files, data and delete files
    * alike; each row-group (parquet) or byte (ORC/Avro) range
    * is one partition. A change read stamps its rows with `cdc` (change
    * type, commit snapshot id, commit sequence); when `cdcMatch` (a
    * commit's NEW tombstones) is non-empty the reader emits only the rows
    * they kill, while the task's own deletes still drop rows already dead. */
  private[graft] def taskPartitions(table: IcebergTable, required: StructType,
      task: FileScanTask, maxSplit: Long, limit: Option[Int] = None,
      columnar: Boolean = false,
      rowGroupFilter: Option[
        org.apache.parquet.filter2.predicate.FilterPredicate] = None,
      rowGroupFilterCols: Seq[(String, String)] = Nil,
      bbox: Option[(String, Double, Double, Double, Double)] = None,
      cdc: Option[(String, Long, Long)] = None,
      cdcMatch: Seq[graft.core.DataFileInfo] = Nil): Seq[InputPartition] = {
    val (pos, dvs, eq) = deletesOf(table, task.deleteFiles)
    val (matchPos, matchDv, matchEq) = deletesOf(table, cdcMatch)
    // historical names ride along so the per-file name fallback (id-less
    // files) resolves renamed columns executor-side
    val read = SchemaConv.withNameCandidates(
      readerSchema(table, required, bbox,
        Seq(pos, dvs, matchPos, matchDv).exists(_.nonEmpty), eq ++ matchEq),
      table.metadata.schemas,
      SchemaConv.nameMappingOf(table.metadata.properties))
    // partition tuple in spec-field order, catalyst-typed — the key for
    // storage-partitioned join grouping
    val partValues: Array[Any] = table.spec.fields.map { pf =>
      task.file.partition.get(pf.name).orNull match {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case u: org.apache.avro.util.Utf8 =>
          org.apache.spark.unsafe.types.UTF8String.fromString(u.toString)
        case other => other
      }
    }.toArray
    // non-parquet files split on byte ranges: ORC owns the stripes and
    // Avro the sync blocks whose first byte lands in the range, and the
    // readers recover the FILE-ABSOLUTE row index from stripe/block
    // metadata — so positional deletes keep applying across splits
    val fmt = task.file.format.toUpperCase
    val ranges =
      if (fmt == "PARQUET")
        splitRanges(task.file.splitOffsets, task.file.fileSizeInBytes, maxSplit)
      else FormatReaders.byteRanges(task.file.fileSizeInBytes, maxSplit)
    ranges.map { case (start, len) =>
      GraftInputPartition(task.file.path, start, len, required.json, read.json,
        limit, pos, eq, columnar, partValues, fmt,
        rowGroupFilter, rowGroupFilterCols,
        cdc = cdc, cdcMatchPos = matchPos, cdcMatchEq = matchEq,
        dvDeletes = dvs, cdcMatchDv = matchDv,
        firstRowId = task.file.firstRowId,
        dataSeq = task.dataSequenceNumber,
        bbox = bbox.map { case (c, xmin, ymin, xmax, ymax) =>
          (c, xmin, ymin, xmax, ymax, table.schema.findFieldByName(c)
            .exists(_.fieldType.isInstanceOf[graft.core.GeographyT]))
        }): InputPartition
    }
  }

  /** Delete files as the reader applies them: positional file paths, V3
    * deletion vectors (the planner hands them through as PUFFIN entries
    * carrying the blob coordinates, never alongside positional files for
    * one data file), and equality deletes. */
  private def deletesOf(table: IcebergTable, files: Seq[graft.core.DataFileInfo])
      : (Seq[String], Seq[DvRef], Seq[EqDelete]) = {
    val (dvs, pos) = files
      .filter(_.content == graft.core.DataFileContent.PositionDeletes)
      .partition(_.isDeletionVector)
    val eq = files.filter(_.content == graft.core.DataFileContent.EqualityDeletes)
      .map(d => EqDelete(d.path,
        d.equalityIds.flatMap(id => table.schema.findColumnName(id))))
    (pos.map(_.path),
      dvs.map(d => DvRef(d.path, d.contentOffset.get, d.contentSizeInBytes.get)),
      eq)
  }

  /** What the file reader materializes: the projected columns, plus
    * equality-delete key and bbox columns (needed for row checks even
    * when projected away), plus the row-index column Spark's vectorized
    * reader fills with file row positions (needed to match positional
    * deletes). */
  private def readerSchema(table: IcebergTable, required: StructType,
                           bbox: Option[(String, Double, Double, Double, Double)],
                           needRowIndex: Boolean, eq: Seq[EqDelete]): StructType = {
    // `_file`/`_pos` and the CDC stamp are synthesized by the reader, never
    // read from the file (`_pos` from the same row-index channel
    // positional deletes use)
    val synthesized = Set(GraftReaders.FileCol, GraftReaders.PosCol,
      GraftReaders.RowIdCol, GraftReaders.LastUpdatedSeqCol) ++
      GraftReaders.CdcCols.map(_.name)
    var s = StructType(required.fields.filterNot(f => synthesized(f.name)))
    lazy val fullSpark = SchemaConv.toSparkSchema(table.schema)
    (eq.flatMap(_.cols) ++ bbox.map(_._1)).distinct
      .filterNot(c => s.fieldNames.contains(c)).foreach { c =>
        s = s.add(fullSpark(fullSpark.fieldIndex(c)).copy(nullable = true))
      }
    // V3 materialized lineage: files rewritten by lineage-preserving
    // compaction carry physical `_row_id`/`_last_updated_sequence_number`
    // columns (reserved field ids); request them whenever the lineage
    // metadata columns are projected. Files WITHOUT them — the common case
    // — read null (id/name miss → null column) and the projection falls
    // back to the derived first_row_id + position / data-sequence values.
    def lineagePhys(name: String, id: Int): StructField =
      StructField(name, LongType, nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(SchemaConv.FieldIdKey, id.toLong).build())
    if (required.fieldNames.contains(GraftReaders.RowIdCol))
      s = s.add(lineagePhys(GraftReaders.RowIdCol, GraftReaders.RowIdFieldId))
    if (required.fieldNames.contains(GraftReaders.LastUpdatedSeqCol))
      s = s.add(lineagePhys(GraftReaders.LastUpdatedSeqCol,
        GraftReaders.LastUpdatedSeqFieldId))
    if (needRowIndex || required.fieldNames.contains(GraftReaders.PosCol) ||
        required.fieldNames.contains(GraftReaders.RowIdCol))
      s = s.add(StructField(GraftReaders.RowIndexCol, LongType, nullable = true))
    s
  }

  /** Row-group ranges for a file: `splitOffsets` are the row-group start
    * positions; parquet assigns a row group to the range containing its
    * midpoint, so ranges aligned on starts partition the file exactly. */
  private def splitRanges(offsets: Seq[Long], fileSize: Long,
                          maxSplit: Long): Seq[(Long, Long)] = {
    if (offsets.size <= 1) return Seq((0L, fileSize))
    val starts = offsets.sorted
    val ends = starts.tail :+ fileSize
    val out = Vector.newBuilder[(Long, Long)]
    var rs = starts.head
    var re = rs
    starts.zip(ends).foreach { case (s, e) =>
      if (e - rs > maxSplit && re > rs) { out += ((rs, re - rs)); rs = s }
      re = e
    }
    if (re > rs) out += ((rs, re - rs))
    // the first range must start at 0 so no row group is orphaned
    out.result() match {
      case (s0, l0) +: rest if s0 > 0 => (0L, s0 + l0) +: rest
      case r => r
    }
  }
}

/** One equality-delete file: `cols` are the key columns under their CURRENT
  * names. The reader requests them from the delete file as the reader
  * schema's fields, so each resolves as the data column does: by field id,
  * or in an id-less file by its name candidates. */
final case class EqDelete(path: String, cols: Seq[String])

/** One V3 deletion-vector blob: the Puffin container path plus the blob's
  * byte range (from the manifest entry's content_offset/size). The DV is
  * specific to ONE data file, so no per-row path matching is needed —
  * membership of the file row index in the bitmap is the whole check. */
final case class DvRef(path: String, offset: Long, length: Long)

final case class GraftInputPartition(path: String, start: Long, length: Long,
                                     requiredJson: String, readJson: String,
                                     limit: Option[Int],
                                     posDeletes: Seq[String] = Nil,
                                     eqDeletes: Seq[EqDelete] = Nil,
                                     columnar: Boolean = false,
                                     partitionValues: Array[Any] = Array.empty,
                                     format: String = "PARQUET",
                                     rowGroupFilter: Option[
                                       org.apache.parquet.filter2.predicate.FilterPredicate] = None,
                                     rowGroupFilterCols: Seq[(String, String)] = Nil,
                                     // CDC (streaming read-changes): stamp
                                     // emitted rows with this commit...
                                     cdc: Option[(String, Long, Long)] = None,
                                     // ...and when these are set, emit ONLY
                                     // the rows the named NEW tombstone
                                     // files delete (posDeletes/eqDeletes
                                     // above still filter rows already
                                     // dead before the commit)
                                     cdcMatchPos: Seq[String] = Nil,
                                     cdcMatchEq: Seq[EqDelete] = Nil,
                                     // V3 deletion vectors for THIS data
                                     // file (Puffin blob coordinates)
                                     dvDeletes: Seq[DvRef] = Nil,
                                     // CDC: emit ONLY the rows these NEW
                                     // deletion vectors kill
                                     cdcMatchDv: Seq[DvRef] = Nil,
                                     // V3 row lineage of THIS data file:
                                     // first _row_id, and the data
                                     // sequence number of its commit
                                     firstRowId: Option[Long] = None,
                                     dataSeq: Long = 0L,
                                     // geo bbox row filter: (column, xmin,
                                     // ymin, xmax, ymax, isGeography)
                                     bbox: Option[(String, Double, Double,
                                       Double, Double, Boolean)] = None)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(partitionValues)
}

/** Columnar when NO partition of the scan carries deletes or a limit (Spark
  * requires uniform columnar-ness, so the scan decides once for all
  * partitions); otherwise rows — still vectorized underneath. */
final class GraftReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[GraftInputPartition].columnar

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftBatchReader(p)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftRowReader(p)
  }
}

/** Shared plumbing for Spark's vectorized parquet reader. */
private[graft] object GraftReaders {
  /** Metadata column name for per-row file provenance. */
  val FileCol: String = "_file"

  /** Metadata column name for the row's position within its data file —
    * with [[FileCol]] the row-id coordinate of merge-on-read row-level
    * operations (a positional tombstone is exactly a (_file, _pos) pair). */
  val PosCol: String = "_pos"

  /** V3 row-lineage metadata columns: `_row_id` = the data file's
    * `first_row_id` + the row's position (null when the file predates
    * lineage tracking); `_last_updated_sequence_number` = the file's data
    * sequence number. The cheap-incremental-consumer surface the V3 spec
    * adds — exposed read-only, derived per input partition. */
  val RowIdCol: String = "_row_id"
  val LastUpdatedSeqCol: String = "_last_updated_sequence_number"

  /** Reserved Iceberg field ids for MATERIALIZED row-lineage columns
    * (Iceberg spec "Reserved Field IDs", V3 row lineage): files rewritten
    * by lineage-preserving compaction carry `_row_id` /
    * `_last_updated_sequence_number` as physical columns under these ids;
    * readers prefer the materialized value and fall back to
    * `first_row_id + position` / the file's data sequence number where it
    * is null — exactly the spec's precedence. */
  val RowIdFieldId: Int = 2147483540
  val LastUpdatedSeqFieldId: Int = 2147483539

  /** CDC output columns (streaming `read-changes` mode): stamped per
    * input partition from its commit provenance. */
  val ChangeTypeCol: String = "_change_type"
  val CommitSnapshotCol: String = "_commit_snapshot_id"
  val CommitSequenceCol: String = "_commit_sequence"
  val CdcCols: Seq[org.apache.spark.sql.types.StructField] = Seq(
    org.apache.spark.sql.types.StructField(ChangeTypeCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(CommitSnapshotCol,
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField(CommitSequenceCol,
      org.apache.spark.sql.types.LongType, nullable = false))

  /** Spark's temporary metadata column name: when present in the requested
    * schema, `VectorizedParquetRecordReader` fills it with the row's
    * position in the FILE (correct across row groups and splits) — exactly
    * the coordinate positional deletes address. */
  val RowIndexCol: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Driver/executor-wide footer probe: does the file carry parquet field
    * ids, and what are its top-level column names? Data files are immutable
    * once committed, so results cache forever. One footer read per file per
    * JVM — amortized across splits and queries, and the decode path reads
    * the footer anyway. */
  final case class FooterInfo(hasIds: Boolean, names: Set[String],
                              primitiveTypes: Map[String, String],
                              ids: Set[Int], length: Long)
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, FooterInfo]()
  // cache is an optimization only: bound its memory on huge tables by
  // dropping everything once it crosses ~1M paths (refills on demand)
  private val FooterCacheMax = 1 << 20

  /** A constant column vector holding one catalyst value — the columnar
    * form of an absent column's `initial-default`. */
  def constantVector(dt: DataType, value: Any)
      : org.apache.spark.sql.execution.vectorized.ConstantColumnVector = {
    val v = new org.apache.spark.sql.execution.vectorized
      .ConstantColumnVector(4096, dt)
    (dt, value) match {
      case (_, null) => v.setNull()
      case (BooleanType, b: java.lang.Boolean) => v.setBoolean(b)
      case (IntegerType | DateType, i: java.lang.Integer) => v.setInt(i)
      case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) =>
        v.setLong(l)
      case (FloatType, f: java.lang.Float) => v.setFloat(f)
      case (DoubleType, d: java.lang.Double) => v.setDouble(d)
      case (StringType, s: org.apache.spark.unsafe.types.UTF8String) =>
        v.setUtf8String(s)
      case (BinaryType, b: Array[Byte]) => v.setBinary(b)
      case (d: DecimalType, dec: org.apache.spark.sql.types.Decimal) =>
        v.setDecimal(dec, d.precision)
      case (t, other) => throw new IllegalArgumentException(
        s"unsupported constant vector: $t <- ${other.getClass.getName}")
    }
    v
  }

  def footerInfo(path: String): FooterInfo = {
    if (footerCache.size() > FooterCacheMax) footerCache.clear()
    footerCache.computeIfAbsent(path, { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), new Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val msg = r.getFooter.getFileMetaData.getSchema
        import scala.jdk.CollectionConverters._
        FooterInfo(
          hasIds = msg.getFields.asScala.exists(_.getId != null),
          names = msg.getFields.asScala.map(_.getName).toSet,
          primitiveTypes = msg.getFields.asScala.collect {
            case f if f.isPrimitive =>
              f.getName -> f.asPrimitiveType().getPrimitiveTypeName.name()
          }.toMap,
          ids = msg.getFields.asScala.flatMap(f =>
            Option(f.getId).map(_.intValue())).toSet,
          length = in.getLength)
      } finally r.close()
    })
  }

  /** Whether a file with `footer` holds `f`, by the rule [[createVectorized]]
    * resolves it by: its field id when both carry ids, otherwise one of
    * `names` (the current name and its candidates). A requested column
    * the file lacks reads as nulls, so callers that must not see those
    * check here first. */
  def holds(footer: FooterInfo, f: StructField, names: Seq[String]): Boolean =
    if (footer.hasIds && f.metadata.contains(SchemaConv.FieldIdKey))
      footer.ids(f.metadata.getLong(SchemaConv.FieldIdKey).toInt)
    else names.exists(footer.names)

  /** A whole parquet file read row by row through [[createVectorized]]. */
  def fileRows(path: String, readSchema: StructType): ParquetRowFileReader =
    new ParquetRowFileReader(
      createVectorized(path, 0L, footerInfo(path).length, readSchema))

  def createVectorized(path: String, start: Long, length: Long,
                       readSchema: StructType,
                       rowGroupFilter: Option[
                         org.apache.parquet.filter2.predicate.FilterPredicate] = None,
                       rowGroupFilterCols: Seq[(String, String)] = Nil)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    val conf = new Configuration()
    // Spark's fieldId.read.ignoreMissing semantics are SILENT NULLS for a
    // file without ids — not name fallback — so the id/name decision is
    // made per file from its footer: id matching when the footer carries
    // ids, name matching (with historical-name substitution for renamed
    // columns) when it doesn't.
    val footer = footerInfo(path)
    val requested =
      if (footer.hasIds) SchemaConv.parquetIdAnnotated(readSchema)
      else SchemaConv.nameFallbackSchema(readSchema, footer.names)
    // the keys ParquetReadSupport consults when clipping the file schema
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", requested.json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    // V3 timestamp_ns columns are requested as LongType (ns-epoch); the
    // reader accepts INT64/TIMESTAMP(NANOS) → LongType only under this
    // flag. Micro-precision columns are unaffected by it.
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", footer.hasIds)
    // with id matching on, a requested id absent from the file means a
    // column ADDED after the file was written → nulls (correct evolution)
    conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", true)
    conf.set("spark.sql.session.timeZone", "UTC")
    // row-group/bloom/dictionary skipping: only when the file's footer has
    // every referenced column under its current name AND physical type —
    // renamed id-less files would silently not match, and files written
    // before a type promotion (int→long etc.) fail parquet's filter
    // validator; manifest-level pruning already handled both correctly
    rowGroupFilter.foreach { pred =>
      val applicable = rowGroupFilterCols.forall { case (n, t) =>
        footer.primitiveTypes.get(n).contains(t)
      }
      if (applicable)
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, pred)
    }
    val reader = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC",
        /* useOffHeap = */ false, /* capacity = */ 4096)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(path), start, length, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, attempt)
    reader.initBatch(new StructType(), InternalRow.empty)
    reader
  }
}

/** Columnar read: vectorized batches straight into whole-stage codegen.
  * V3 column defaults stay columnar: a defaulted column ABSENT from this
  * file is served as a constant vector (set once, zero per-row work)
  * spliced over the reader's null vector. */
final class GraftBatchReader(p: GraftInputPartition)
    extends PartitionReader[ColumnarBatch] {
  private val readSchema = DataType.fromJson(p.readJson).asInstanceOf[StructType]
  private val reader =
    GraftReaders.createVectorized(p.path, p.start, p.length, readSchema,
      p.rowGroupFilter, p.rowGroupFilterCols)
  reader.enableReturningBatches()

  private val fileDefaults: Map[Int, Any] =
    DefaultValues.absentDefaults(readSchema, p.format, p.path)
  private val constVectors: Map[Int, org.apache.spark.sql.vectorized.ColumnVector] =
    fileDefaults.map { case (ord, v) =>
      ord -> (GraftReaders.constantVector(readSchema(ord).dataType, v)
        : org.apache.spark.sql.vectorized.ColumnVector)
    }
  // the vectorized reader reuses its column vectors across batches, so the
  // spliced wrapper is built once and only its row count changes
  private var wrapped: ColumnarBatch = _

  override def next(): Boolean = reader.nextBatch()
  override def get(): ColumnarBatch = {
    val inner = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
    if (constVectors.isEmpty) return inner
    if (wrapped == null) {
      val cols = Array.tabulate(inner.numCols())(i =>
        constVectors.getOrElse(i, inner.column(i)))
      wrapped = new ColumnarBatch(cols)
    }
    wrapped.setNumRows(inner.numRows())
    wrapped
  }
  override def close(): Unit = {
    reader.close()
    constVectors.values.foreach(_.close())
  }
}

/** Row read over the same vectorized decode, applying MoR deletes:
  * positional tombstones matched on the reader-provided file row index,
  * equality tombstones matched on the key columns. Output rows are projected
  * down to the required schema (delete-key and row-index columns dropped). */
final class GraftRowReader(p: GraftInputPartition)
    extends PartitionReader[InternalRow] {
  private val readSchema = DataType.fromJson(p.readJson).asInstanceOf[StructType]
  private val required = DataType.fromJson(p.requiredJson).asInstanceOf[StructType]
  private val reader: RowFileReader = p.format.toUpperCase match {
    case "PARQUET" => new ParquetRowFileReader(
      GraftReaders.createVectorized(p.path, p.start, p.length, readSchema,
        p.rowGroupFilter, p.rowGroupFilterCols))
    case fmt => FormatReaders.rowReader(fmt, p.path, readSchema, p.start, p.length)
  }

  // V3 column defaults: ordinal → constant for columns ABSENT from this
  // file (the projection and eq-delete matching substitute them; files
  // that carry the column — incl. genuine NULLs — have no entry here)
  private val fileDefaults: Map[Int, Any] =
    DefaultValues.absentDefaults(readSchema, p.format, p.path)

  private val rowIdxOrd: Int =
    if (p.posDeletes.nonEmpty || p.cdcMatchPos.nonEmpty ||
        p.dvDeletes.nonEmpty || p.cdcMatchDv.nonEmpty)
      readSchema.fieldIndex(GraftReaders.RowIndexCol) else -1
  private val posSet: java.util.HashSet[java.lang.Long] =
    if (p.posDeletes.isEmpty) null
    else DeleteFileCache.positionsFor(p.posDeletes, p.path)
  // V3 deletion vector: kept AS the roaring bitmap (no expansion to a hash
  // set — a DV over a dense 10⁹-row file stays KBs in memory this way)
  private val dvBitmap: org.roaringbitmap.longlong.Roaring64NavigableMap =
    if (p.dvDeletes.isEmpty) null
    else DeleteFileCache.deletionVector(p.dvDeletes)
  private def buildEqMatchers(eqs: Seq[EqDelete])
      : Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])] =
    eqs.groupBy(_.cols).toSeq.collect { case (cols, files) if cols.nonEmpty =>
      val ords = cols.map(readSchema.fieldIndex).toArray
      val fields = ords.map(readSchema(_))
      val dts = fields.map(_.dataType)
      val set = new java.util.HashSet[Seq[Any]]()
      files.foreach(f => set.addAll(DeleteFileCache.equalityKeys(f.path,
        fields.toSeq.map(FormatReaders.candidates), fields)))
      (ords, dts, set)
    }
  private val eqMatchers = buildEqMatchers(p.eqDeletes)
  // CDC delete partitions: the NEW tombstones select which rows to EMIT
  private val matchPosSet: java.util.HashSet[java.lang.Long] =
    if (p.cdcMatchPos.isEmpty) null
    else DeleteFileCache.positionsFor(p.cdcMatchPos, p.path)
  private val matchDvBitmap: org.roaringbitmap.longlong.Roaring64NavigableMap =
    if (p.cdcMatchDv.isEmpty) null
    else DeleteFileCache.deletionVector(p.cdcMatchDv)
  private val matchEqMatchers = buildEqMatchers(p.cdcMatchEq)

  private val project: UnsafeProjection = UnsafeProjection.create(
    required.fields.map { f =>
      import org.apache.spark.sql.catalyst.expressions.{Expression, Literal => CLit}
      import org.apache.spark.unsafe.types.UTF8String
      f.name match {
        case GraftReaders.FileCol =>
          CLit(UTF8String.fromString(p.path), StringType): Expression
        case GraftReaders.PosCol =>
          BoundReference(readSchema.fieldIndex(GraftReaders.RowIndexCol),
            org.apache.spark.sql.types.LongType, nullable = false): Expression
        case GraftReaders.RowIdCol =>
          // V3 row lineage, spec precedence: a MATERIALIZED `_row_id`
          // (written by lineage-preserving compaction) wins; null falls
          // back to first_row_id + file-absolute row position; null when
          // the file predates lineage tracking (pre-upgrade)
          val phys = BoundReference(
            readSchema.fieldIndex(GraftReaders.RowIdCol),
            org.apache.spark.sql.types.LongType, nullable = true)
          val derived: Expression = p.firstRowId match {
            case Some(base) =>
              org.apache.spark.sql.catalyst.expressions.Add(
                CLit(base, org.apache.spark.sql.types.LongType),
                BoundReference(readSchema.fieldIndex(GraftReaders.RowIndexCol),
                  org.apache.spark.sql.types.LongType, nullable = false))
            case None =>
              CLit(null, org.apache.spark.sql.types.LongType)
          }
          org.apache.spark.sql.catalyst.expressions.Coalesce(
            Seq(phys, derived)): Expression
        case GraftReaders.LastUpdatedSeqCol =>
          org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
            BoundReference(
              readSchema.fieldIndex(GraftReaders.LastUpdatedSeqCol),
              org.apache.spark.sql.types.LongType, nullable = true),
            CLit(p.dataSeq, org.apache.spark.sql.types.LongType))): Expression
        case GraftReaders.ChangeTypeCol if p.cdc.isDefined =>
          CLit(UTF8String.fromString(p.cdc.get._1), StringType): Expression
        case GraftReaders.CommitSnapshotCol if p.cdc.isDefined =>
          CLit(p.cdc.get._2, org.apache.spark.sql.types.LongType): Expression
        case GraftReaders.CommitSequenceCol if p.cdc.isDefined =>
          CLit(p.cdc.get._3, org.apache.spark.sql.types.LongType): Expression
        case _ =>
          val ord = readSchema.fieldIndex(f.name)
          if (fileDefaults.contains(ord))
            CLit(fileDefaults(ord), f.dataType): Expression
          else BoundReference(ord, f.dataType, f.nullable): Expression
      }
    }.toIndexedSeq)

  private var current: InternalRow = _
  private var emitted = 0L

  private def matchesEq(row: InternalRow,
                        ms: Seq[(Array[Int], Array[DataType],
                          java.util.HashSet[Seq[Any]])]): Boolean =
    ms.exists { case (ords, dts, set) =>
      val key: Seq[Any] = ords.indices.map { i =>
        if (fileDefaults.contains(ords(i)))
          DeleteFileCache.canonical(fileDefaults(ords(i)))
        else if (row.isNullAt(ords(i))) null
        else DeleteFileCache.canonical(row.get(ords(i), dts(i)))
      }
      set.contains(key)
    }

  private val bboxOrd: Int =
    p.bbox.map(b => readSchema.fieldIndex(b._1)).getOrElse(-1)
  /** Row-level envelope-vs-bbox test (same semantics as the library
    * path's residual Column): null/unparseable WKB never matches. */
  private def bboxHit(row: InternalRow): Boolean = p.bbox match {
    case None => true
    case Some((_, xmin, ymin, xmax, ymax, geo)) =>
      !row.isNullAt(bboxOrd) &&
        graft.core.Wkb.envelope(row.getBinary(bboxOrd)).exists {
          case (lx, ly, ux, uy) =>
            graft.core.Wkb.bboxIntersects(lx, ly, ux, uy,
              xmin, ymin, xmax, ymax, geo)
        }
  }

  private def deleted(row: InternalRow): Boolean = {
    if (posSet != null && posSet.contains(row.getLong(rowIdxOrd))) return true
    if (dvBitmap != null && dvBitmap.contains(row.getLong(rowIdxOrd))) return true
    matchesEq(row, eqMatchers)
  }

  /** CDC delete partitions emit only rows the commit's NEW tombstones
    * kill; everything else passes everything through. */
  private def cdcSelected(row: InternalRow): Boolean = {
    if (matchPosSet == null && matchDvBitmap == null && matchEqMatchers.isEmpty)
      return true
    (matchPosSet != null && matchPosSet.contains(row.getLong(rowIdxOrd))) ||
      (matchDvBitmap != null && matchDvBitmap.contains(row.getLong(rowIdxOrd))) ||
      matchesEq(row, matchEqMatchers)
  }

  override def next(): Boolean = {
    if (p.limit.exists(emitted >= _)) return false
    while (reader.nextKeyValue()) {
      val row = reader.getCurrentValue
      if (!deleted(row) && cdcSelected(row) && bboxHit(row)) {
        current = row
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = project(current)
  override def close(): Unit = reader.close()
}

/** Executor-wide parse-once cache for delete files.
  *
  * A delete file is typically matched to MANY data files; without a cache
  * every task re-reads it (O(deleteFiles × dataFiles) I/O). Here each
  * executor JVM parses a delete file once and shares the decoded form
  * across all its tasks; distinct executors each read it once — the
  * strategy of Apache Iceberg's Spark executor cache.
  *
  * Delete files are decoded by the data files' own reader
  * ([[GraftReaders.fileRows]] over Spark's vectorized parquet reader):
  * positional files as (`file_path`, `pos`) under their reserved field ids,
  * equality files as the reader schema's key fields, so a key column
  * resolves by the footer rule a data column does (id, else name
  * candidates and the name mapping) and decodes to the same Catalyst
  * value (INT96 and millisecond timestamps, decimals, int→long widening).
  *
  * The bound is on the decoded size of what the cache holds — the keys of
  * an equality-delete file, the positions of a positional one, the blob
  * bytes of a deletion vector — against a fixed share of the JVM's heap,
  * not on an entry count: every task over a table asks for its delete files
  * in the same order, so a count bound below a data file's delete-file
  * count evicts each file just before its next use. A file heavier than
  * the whole budget is returned to its caller and not kept.
  *
  * Each file is loaded at most once and outside the map's lock: concurrent
  * callers of one file wait for its single parse, callers of other files
  * do not wait at all. Cached values are shared and never mutated. */
private[spark] class DeleteFileCache(budgetBytes: Long) {
  import DeleteFileCache._
  import java.util.concurrent.ExecutionException
  import com.google.common.cache.{Cache, CacheBuilder}
  import com.google.common.util.concurrent.{ExecutionError, UncheckedExecutionException}
  import graft.core.DeleteMatching.tombstonePath

  /** Number of delete-file parses performed by this cache (spec hook). */
  val fileReads = new java.util.concurrent.atomic.AtomicLong(0)

  // one segment: Guava splits the weight budget evenly across segments,
  // so only with one does the bound cover the whole map; the segment lock
  // guards bookkeeping only, `get` runs the loader outside it
  private val entries: Cache[Key, Decoded] = CacheBuilder.newBuilder()
    .concurrencyLevel(1)
    .maximumWeight(budgetBytes)
    .weigher[Key, Decoded]((_: Key, d: Decoded) => d.weight)
    .build[Key, Decoded]()

  /** Estimated heap bytes of the decoded delete files held now. */
  def retainedBytes: Long =
    entries.asMap.values.asScala.map(_.weight.toLong).sum

  /** `key`'s decoded value; `load` (value, its estimated heap bytes) runs
    * at most once per key while the entry is held. */
  private def cached[V](key: Key)(load: => (V, Long)): V = {
    val d = try entries.get(key, () => {
      fileReads.incrementAndGet()
      val (value, bytes) = load
      val weight = ElementBytes + 2L * key.file.length + bytes
      Decoded(value, math.min(weight, Int.MaxValue.toLong).toInt)
    }) catch {
      // rethrow the loader's own failure, not Guava's wrapper
      case e @ (_: ExecutionException | _: UncheckedExecutionException |
                _: ExecutionError) if e.getCause != null => throw e.getCause
    }
    d.value.asInstanceOf[V]
  }

  /** Union of tombstoned positions for `dataPath` across `deleteFiles`. */
  def positionsFor(deleteFiles: Seq[String],
                   dataPath: String): java.util.HashSet[java.lang.Long] = {
    val target = tombstonePath(dataPath)
    val out = new java.util.HashSet[java.lang.Long]()
    deleteFiles.foreach { df =>
      cached(PosKey(df))(loadPositions(df)).get(target).foreach(out.addAll)
    }
    out
  }

  /** The V3 deletion vector(s) for one data file. The Puffin BLOB BYTES
    * are read and cached once per (puffin file, offset) per executor —
    * splits of a 512 MB file read by 16 tasks hit disk once — but each
    * caller gets its OWN decoded bitmap: Roaring64NavigableMap is
    * documented not-thread-safe (even reads can lazily cache), so handing
    * concurrent reader tasks one shared mutable instance would be a latent
    * race. Decoding KB–MB of validated roaring bytes per task is memory
    * copy speed; the expensive parts (I/O, CRC/magic validation) are
    * amortized by the byte cache. */
  def deletionVector(refs: Seq[DvRef])
      : org.roaringbitmap.longlong.Roaring64NavigableMap = {
    val blobs = refs.map { ref =>
      cached(DvKey(ref.path, ref.offset)) {
        val blob = graft.core.Puffin.readBlob(tombstonePath(ref.path), ref.offset,
          ref.length)
        (blob, ArrayBytes + blob.length)
      }
    }
    val bms = blobs.map(graft.core.Puffin.readDvBlob)
    if (bms.size == 1) bms.head
    else {
      val out = new org.roaringbitmap.longlong.Roaring64NavigableMap(false)
      bms.foreach(out.or)
      out
    }
  }

  /** Decoded key tuples of one equality-delete file: `fields` are the key
    * columns as the data file is read (type, field id, name candidates),
    * `names` per key the names an id-less file may hold it under. A file
    * holding none of a key's id or names fails, naming the file: read as
    * nulls, the key would delete every null-keyed row. */
  def equalityKeys(deleteFile: String, names: Seq[Seq[String]],
                   fields: Array[StructField]): java.util.HashSet[Seq[Any]] =
    cached(EqKey(deleteFile, names, fields.toSeq))(
      loadEqualityKeys(deleteFile, names, fields))

  private def loadPositions(deleteFile: String)
      : (Map[String, java.util.HashSet[java.lang.Long]], Long) = {
    val out = scala.collection.mutable.Map[String, java.util.HashSet[java.lang.Long]]()
    var bytes = 0L
    // tombstones are sorted by path: resolve each run's path once
    var raw: org.apache.spark.unsafe.types.UTF8String = null
    var set: java.util.HashSet[java.lang.Long] = null
    val r = GraftReaders.fileRows(deleteFile, PositionRequest)
    try while (r.nextKeyValue()) {
      val row = r.getCurrentValue
      if (!row.getUTF8String(0).equals(raw)) {
        raw = row.getUTF8String(0).copy()
        val fp = tombstonePath(raw.toString)
        set = out.getOrElseUpdate(fp, {
          bytes += ElementBytes + ArrayBytes + 2L * fp.length
          new java.util.HashSet[java.lang.Long]()
        })
      }
      if (set.add(row.getLong(1))) bytes += ElementBytes
    } finally r.close()
    (out.toMap, bytes)
  }

  private def loadEqualityKeys(deleteFile: String, names: Seq[Seq[String]],
                               fields: Array[StructField])
      : (java.util.HashSet[Seq[Any]], Long) = {
    val footer = GraftReaders.footerInfo(deleteFile)
    fields.indices.find(i => !GraftReaders.holds(footer, fields(i), names(i)))
      .foreach(i => throw new IllegalStateException(
        s"equality-delete file $deleteFile has none of ${names(i).mkString("/")}"))
    val dts = fields.map(_.dataType)
    val set = new java.util.HashSet[Seq[Any]]()
    var bytes = 0L
    val r = GraftReaders.fileRows(deleteFile, StructType(fields))
    try while (r.nextKeyValue()) {
      val row = r.getCurrentValue
      val key: Seq[Any] = dts.indices.map { i =>
        if (row.isNullAt(i)) null else owned(row.get(i, dts(i)))
      }
      if (set.add(key)) bytes += keyBytes(key)
    } finally r.close()
    (set, bytes)
  }
}

/** The JVM's delete-file cache; its budget is an eighth of the heap the
  * JVM may grow to. */
private[spark] object DeleteFileCache
    extends DeleteFileCache(Runtime.getRuntime.maxMemory / 8) {
  import org.apache.spark.unsafe.types.UTF8String

  private sealed trait Key { def file: String }
  private final case class PosKey(file: String) extends Key
  private final case class EqKey(file: String, names: Seq[Seq[String]],
                                 fields: Seq[StructField]) extends Key
  private final case class DvKey(file: String, offset: Long) extends Key
  private final case class Decoded(value: Any, weight: Int)

  /** A positional delete file's columns under their reserved field ids. */
  private val PositionRequest: StructType =
    SchemaConv.toSparkSchema(graft.core.DeleteMatching.PositionalDeleteSchema)

  // rough heap bytes: a map or hash-set element (node, table slot, boxed
  // position or key Seq; also the cost of an entry itself beside its key's
  // path) and an array or object header
  private final val ElementBytes = 64L
  private final val ArrayBytes = 16L

  /** Estimated heap bytes of one decoded equality key. */
  private def keyBytes(key: Seq[Any]): Long = key.foldLeft(ElementBytes) {
    case (n, s: UTF8String) => n + 40 + s.numBytes
    case (n, b: Seq[_]) => n + 40 + b.size
    case (n, _) => n + 24
  }

  /** Canonical comparable form shared by the delete-file decode and the
    * data-row decode (arrays have reference equality; box them). */
  def canonical(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** [[canonical]], owning its bytes: a string read from a column vector
    * is a view into a buffer the reader reuses. */
  private def owned(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => canonical(other)
  }
}
