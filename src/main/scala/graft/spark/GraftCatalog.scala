package graft.spark

import java.io.File
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{PartitionSpec, Schema => IceSchema, SortOrder, TableMetadata}

/** Spark session-catalog plugin: register with
  * `spark.sql.catalog.graft=graft.spark.GraftCatalog` and
  * `spark.sql.catalog.graft.warehouse=/path/to/warehouse`, then
  * `SELECT * FROM graft.db.tbl` resolves through the Iceberg metadata plane
  * (S1's Spark mapping in SURVEY §2.1). Warehouse layout:
  * `<warehouse>/<namespace>/<table>/metadata/v*.metadata.json`.
  *
  * Reads go through [[GraftSparkTable]] (full pushdown wiring);
  * DDL surface: create (empty table), drop, rename, namespaces, and
  * persistent SQL views (`CREATE [OR REPLACE] VIEW` / `SHOW VIEWS` /
  * `DROP VIEW` via [[ViewCatalog]] — view metadata is versioned JSON per
  * the Iceberg view spec, see [[ViewMetadata]]). */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with ViewCatalog {

  /** Partition-transform functions: SQL-callable and REQUIRED for
    * storage-partitioned joins (Spark resolves a table's reported
    * transforms against its catalog's functions). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      graft.spark.functions.GraftFunctions.Names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ok = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!ok || !graft.spark.functions.GraftFunctions.Names.contains(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    graft.spark.functions.GraftFunctions.load(ident.name())
  }

  /** `CALL graft.system.<proc>(...)` maintenance procedures. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live in the 'system' namespace, got $ident")
    // REST idents this CALL touches — re-invalidated AFTER the procedure
    // commits, because a concurrent SQL read between resolve-time
    // invalidation and the commit can re-populate the cache with
    // pre-commit metadata (the CachingCatalog contract is that a commit
    // through THIS catalog is visible immediately).
    val touchedRest = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val inner = GraftProcedures.load(ident.name(), tableRef => {
      val parts = tableRef.split('.')
      // register_table needs the raw catalog ENTRY directory (it CREATES
      // the pointer, and must never follow a stale one), so its ref must
      // be namespace-qualified to rule out an entry-dir collision with a
      // warehouse-root table; every other procedure operates on the real
      // table behind an existing pointer, where a bare root-level name is
      // unambiguous and allowed.
      if (ident.name() == "register_table") {
        require(parts.length >= 2,
          s"register_table requires a namespace-qualified ref (db.t), " +
            s"got '$tableRef'")
        tableDir(Identifier.of(parts.init, parts.last)).getPath
      } else
        resolvedTableLocation(tableDir(Identifier.of(parts.init, parts.last)))
    }, resolveTable = tableRef => {
      // a REST-cataloged table's handle commits through the server's
      // update actions, never by rewriting metadata files behind it
      val parts = tableRef.split('.')
      val dir = tableDir(Identifier.of(parts.init, parts.last))
      val onRest = if (isTable(dir)) None else rest.flatMap { rc =>
        try Some(restHandle(rc, parts.toSeq, rc.loadTable(parts.toSeq)))
        catch { case _: graft.catalog.CatalogError => None }
      }
      onRest.foreach { _ =>
        // the procedure may commit through the server: drop any cached
        // metadata for this ident so subsequent reads see the commit
        invalidateRest(parts.toSeq)
        touchedRest.add(parts.toSeq)
      }
      onRest.getOrElse(IcebergTables.load(resolvedTableLocation(dir)))
    }, resolveRest = tableRef => {
      // REST-plane routing: only for refs that are NOT local path tables —
      // a maintenance CALL on a REST-cataloged table must commit through
      // the server's update actions, never rewrite metadata files behind it
      val parts = tableRef.split('.')
      if (isTable(tableDir(Identifier.of(parts.init, parts.last)))) None
      else rest.filter { rc =>
        try { rc.loadTable(parts.toSeq); true }
        catch {
          // register_table's target must NOT exist — it routes REST when
          // the namespace is server-resident and the ident is free
          case _: graft.catalog.NoSuchTableError
              if ident.name() == "register_table" =>
            try { rc.namespaceProperties(parts.init.toSeq); true }
            catch { case _: graft.catalog.CatalogError => false }
          case _: graft.catalog.CatalogError => false
        }
      }.map { rc =>
        // the procedure may commit through the server: drop any cached
        // metadata for this ident so subsequent reads see the commit
        invalidateRest(parts.toSeq)
        touchedRest.add(parts.toSeq)
        (rc, parts.toSeq)
      }
    })
    // wrap so call() invalidates the touched idents again POST-commit
    new org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
      override def name(): String = inner.name()
      override def description(): String = inner.description()
      override def bind(inputType: StructType)
          : org.apache.spark.sql.connector.catalog.procedures.BoundProcedure = {
        val bound = inner.bind(inputType)
        new org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
          override def name(): String = bound.name()
          override def description(): String = bound.description()
          override def isDeterministic: Boolean = bound.isDeterministic
          override def parameters() = bound.parameters()
          override def call(input: org.apache.spark.sql.catalyst.InternalRow) =
            try bound.call(input)
            finally {
              var id = touchedRest.poll()
              while (id != null) { invalidateRest(id); id = touchedRest.poll() }
            }
        }
      }
    }
  }

  private var catalogName: String = _
  private var warehouse: File = _
  private var restUri: Option[String] = None
  private var restProps: Map[String, String] = Map.empty

  /** REST metadata caching (`cache-expiration-interval-ms` catalog
    * option, 0 = off, the default): SQL reads of a REST table stop
    * re-reading the whole metadata tree on EVERY query — the dominant
    * catalog RTT at query rate. Semantics match Iceberg's CachingCatalog:
    * a commit through THIS catalog's procedures invalidates immediately;
    * an external writer's commit is visible after at most the interval.
    * Within the interval, expired vended credentials still refresh (the
    * dedicated credentials route when advertised — no metadata re-read). */
  private var cacheExpirationMs: Long = 0L
  private val restCache = new java.util.concurrent.ConcurrentHashMap[
    Seq[String], (graft.catalog.LoadedTable, Long)]()

  private def restLoad(rc: graft.catalog.RestCatalog,
                       ident: Seq[String]): graft.catalog.LoadedTable = {
    if (cacheExpirationMs <= 0L) return rc.loadTable(ident)
    val now = System.currentTimeMillis()
    val entry = restCache.get(ident)
    if (entry != null && entry._2 + cacheExpirationMs > now) {
      // served from cache; only expired credentials trigger traffic
      val fresh = rc.loadTableFresh(ident, Some(entry._1), now)
      if (!(fresh eq entry._1)) // keep the ORIGINAL load time for expiry
        restCache.put(ident, (fresh, entry._2))
      fresh
    } else {
      val loaded = rc.loadTable(ident)
      restCache.put(ident, (loaded, now))
      loaded
    }
  }

  private def invalidateRest(ident: Seq[String]): Unit = {
    restCache.remove(ident); ()
  }

  /** The optional REST plane behind this catalog
    * (`spark.sql.catalog.<name>.uri=http://...` + `credential` /
    * `rest-warehouse` / `prefix`): tables and views not found in the local
    * warehouse resolve through it, views CREATE into it (shared-deployment
    * persistence), and maintenance procedures route their commits through
    * its update actions. Lazy — a purely local catalog never dials out. */
  private lazy val rest: Option[graft.catalog.RestCatalog] =
    restUri.map(u => graft.catalog.Catalog.load(catalogName, u, restProps)
      .asInstanceOf[graft.catalog.RestCatalog])

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    warehouse = new File(wh.stripPrefix("file://"))
    warehouse.mkdirs()
    restUri = Option(options.get("uri"))
    cacheExpirationMs = Option(options.get("cache-expiration-interval-ms"))
      .flatMap(_.toLongOption).getOrElse(0L)
    restProps = Seq(
      graft.catalog.RestCatalog.KeyCredential -> Option(options.get("credential")),
      graft.catalog.RestCatalog.KeyToken -> Option(options.get("token")),
      graft.catalog.RestCatalog.KeyWarehouse -> Option(options.get("rest-warehouse")),
      graft.catalog.RestCatalog.KeyPrefix -> Option(options.get("prefix")))
      .collect { case (k, Some(v)) => k -> v }.toMap
  }

  private def restIdent(ident: Identifier): Seq[String] =
    ident.namespace().toSeq :+ ident.name()

  /** A handle on a REST-cataloged table that commits through `rc`; each
    * landed commit drops this catalog's metadata-cache entry, so a write
    * through THIS catalog is visible immediately (the CachingCatalog
    * contract). */
  private def restHandle(rc: graft.catalog.RestCatalog, id: Seq[String],
                         loaded: graft.catalog.LoadedTable): IcebergTable =
    TableWriter.restTableOf(loaded, rc, afterCommit = () => invalidateRest(id))

  /** REST-plane table resolution: a SELECT over a REST-cataloged table
    * rides the full scan stack, and SQL DML (INSERT / INSERT OVERWRITE /
    * DELETE / UPDATE / MERGE / TRUNCATE) commits THROUGH the server's
    * update actions via the handle's [[RestTableOperations]] — never
    * metadata files behind its back. */
  private def restLoadTable(ident: Identifier): Option[Table] =
    rest.flatMap { rc =>
      val id = restIdent(ident)
      try Some(new GraftSparkTable(restHandle(rc, id, restLoad(rc, id))))
      catch {
        case _: graft.catalog.NoSuchTableError |
             _: graft.catalog.NoSuchNamespaceError => None
      }
    }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): File =
    new File(new File(warehouse, ident.namespace().mkString(File.separator)),
      ident.name())

  /** A REGISTERED table (`CALL register_table`) lives outside the
    * warehouse; its catalog entry is a directory holding only a
    * `location.ref` pointer to the real table directory. */
  private def registeredRef(dir: File): Option[String] = {
    val f = new File(dir, "location.ref")
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    else None
  }

  /** A LOCAL-plane table is a dir holding table METADATA (a metadata json
    * or the version hint), or a registered pointer. A bare `metadata/`
    * folder does not qualify: a REST-cataloged table provisioned under
    * this warehouse keeps its manifests there while the SERVER owns the
    * metadata jsons — it must not shadow itself into the local plane. */
  private def isTable(dir: File): Boolean = {
    if (new File(dir, "location.ref").isFile) return true
    val meta = new File(dir, "metadata")
    meta.isDirectory && {
      new File(meta, "version-hint.text").isFile ||
        Option(meta.list()).exists(_.exists(_.endsWith(".metadata.json")))
    }
  }

  /** The directory table data/metadata actually lives in — the table dir
    * itself, or the `location.ref` target for registered tables. */
  private def resolvedTableLocation(dir: File): String =
    registeredRef(dir).getOrElse(dir.getPath)

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new File(warehouse, namespace.mkString(File.separator))
    val local: Array[Identifier] =
      if (!nsDir.isDirectory) Array.empty
      else Option(nsDir.listFiles()).getOrElse(Array.empty)
        .filter(isTable)
        .map(f => Identifier.of(namespace, f.getName))
    val remote: Array[Identifier] = rest.map { rc =>
      try rc.listTables(namespace.toSeq)
        .map(id => Identifier.of(id.dropRight(1).toArray, id.last)).toArray
      catch { case _: graft.catalog.NoSuchNamespaceError |
                   _: graft.catalog.NoSuchTableError => Array.empty[Identifier] }
    }.getOrElse(Array.empty)
    if (!nsDir.isDirectory && rest.isEmpty)
      throw new IllegalArgumentException(
        s"namespace ${namespace.mkString(".")} not found")
    (local ++ remote).distinct
  }

  private def loadIce(ident: Identifier): IcebergTable = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)
    IcebergTables.load(resolvedTableLocation(dir))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: `db.t.snapshots` arrives as namespace [db, t],
    // name "snapshots" — serve it when db.t is a table and the name is a
    // known metadata view (a real nested table named e.g. "snapshots"
    // would shadow these, checked first)
    if (!isTable(tableDir(ident)) && ident.namespace().nonEmpty &&
        MetadataTables.Names.contains(ident.name())) {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      if (isTable(tableDir(parent)))
        return MetadataTables.build(loadIce(parent), ident.name())
      // REST parent: the same metadata views over the server-loaded tree
      rest.foreach { rc =>
        try return MetadataTables.build(
          TableWriter.restTableOf(restLoad(rc, restIdent(parent)), rc),
          ident.name())
        catch { case _: graft.catalog.CatalogError => () }
      }
    }
    // `db.v.versions` over a VIEW: its retained version history
    if (!isTable(tableDir(ident)) && ident.namespace().nonEmpty &&
        ident.name() == "versions") {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val vf = viewFile(parent)
      if (vf.isFile)
        return MetadataTables.buildViewVersions(tableDir(parent).getPath,
          ViewMetadata.parse(java.nio.file.Files.readString(vf.toPath)))
    }
    if (!isTable(tableDir(ident))) restLoadTable(ident) match {
      case Some(t) => return t
      case None =>
    }
    new GraftSparkTable(loadIce(ident))
  }

  /** SQL time travel `VERSION AS OF <v>`: `<v>` is a snapshot id or a
    * branch/tag name (the same resolution the scan API offers). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadIce(ident)
    val snapId = version.toLongOption
      .filter(id => t.metadata.snapshotById(id).isDefined)
      .orElse(t.metadata.snapshotByName(version).map(_.snapshotId))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot resolve version '$version': not a snapshot id or ref of $ident"))
    new GraftSparkTable(t, Some(snapId))
  }

  /** SQL time travel `TIMESTAMP AS OF <t>`: Spark hands the timestamp in
    * MICROseconds; resolve the latest snapshot at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = loadIce(ident)
    val snap = t.metadata.snapshotAsOfTime(timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $ident as of ${timestamp / 1000L} ms"))
    new GraftSparkTable(t, Some(snap.snapshotId))
  }

  /** BOTH planes: a REST-cataloged table exists even without a local
    * directory — otherwise Spark's create-if-absent surfaces
    * (`writeStream.toTable`, `saveAsTable`) would CREATE a shadowing
    * local table over a live REST one. One status-only HEAD round trip;
    * no metadata transfer. */
  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident)) ||
      rest.exists(rc =>
        try rc.tableExists(restIdent(ident))
        catch { case _: graft.catalog.CatalogError => false })

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // mirror of createView's tableExists guard: a view occupies the same
    // directory (view.metadata.json in tableDir) — writing table metadata
    // next to it would make the identifier ambiguous and dropView's
    // recursive delete would destroy the table's data
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    // plane selection: a SERVER-RESIDENT namespace owns its CREATE TABLE
    // (and CTAS) — the decision must not depend on warehouse dirs, which
    // REST provisioning itself creates (a dir-existence rule would flip
    // the SECOND create in a namespace to the local plane). The
    // provisioned location gets a per-create unique suffix so a rename
    // followed by a same-name create can never share a directory with a
    // live table (drop sweeps only the dropped table's own location).
    rest.foreach { rc =>
      val nsOnRest =
        try { rc.namespaceProperties(ident.namespace().toSeq); true }
        catch { case _: graft.catalog.CatalogError => false }
      if (nsOnRest) {
        val dir = new File(tableDir(ident).getPath + "_" +
          java.util.UUID.randomUUID().toString.take(8))
        dir.mkdirs()
        val iceSchema = SchemaConv.fromSparkSchema(schema)
        val spec = specFromTransforms(iceSchema, partitions)
        rc.createTable(restIdent(ident), iceSchema,
          properties.asScala.toMap, Some(dir.getPath),
          spec = Some(spec).filter(_.fields.nonEmpty))
        return restLoadTable(ident).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException(ident))
      }
    }
    val dir = tableDir(ident)
    dir.mkdirs()
    val iceSchema = SchemaConv.fromSparkSchema(schema)
    val spec = specFromTransforms(iceSchema, partitions)
    val now = System.currentTimeMillis()
    val md = TableMetadata(
      formatVersion = 2,
      tableUuid = java.util.UUID.randomUUID().toString,
      location = dir.getPath,
      lastSequenceNumber = 0,
      lastUpdatedMs = now,
      lastColumnId = iceSchema.highestFieldId,
      schemas = Seq(iceSchema),
      currentSchemaId = iceSchema.schemaId,
      partitionSpecs = Seq(spec),
      defaultSpecId = spec.specId,
      lastPartitionId = Some(spec.fields.map(_.fieldId).maxOption.getOrElse(999)),
      properties = properties.asScala.toMap,
      snapshots = Nil, currentSnapshotId = None,
      snapshotLog = Nil, metadataLog = Nil,
      sortOrders = Seq(SortOrder.unsorted), defaultSortOrderId = 0,
      refs = Map.empty)
    val metaDir = new File(dir, "metadata"); metaDir.mkdirs()
    java.nio.file.Files.write(new File(metaDir, "v1.metadata.json").toPath,
      md.toJson.getBytes("UTF-8"))
    java.nio.file.Files.write(new File(metaDir, "version-hint.text").toPath,
      "1".getBytes("UTF-8"))
    new GraftSparkTable(IcebergTables.load(dir.getPath))
  }

  /** `PARTITIONED BY (days(ts), bucket(4, id), ...)` in CREATE TABLE DDL →
    * Iceberg partition spec. Accepts identity/years/months/days/hours/
    * bucket/truncate; literal+reference argument order is free (Spark and
    * Iceberg DDL dialects disagree on truncate). */
  private def specFromTransforms(schema: graft.core.Schema,
                                 transforms: Array[Transform]): PartitionSpec = {
    import graft.core.{Transform => IceTransform, _}
    import org.apache.spark.sql.connector.{expressions => cx}
    if (transforms.isEmpty) return PartitionSpec.unpartitioned
    val fields = transforms.zipWithIndex.map { case (t, i) =>
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"partition transform ${t.describe()} must reference one top-level column")
      val src = schema.findFieldByName(refs(0).fieldNames()(0)).getOrElse(
        throw new IllegalArgumentException(
          s"partition source column '${refs(0).describe()}' not in schema"))
      def intArg: Int = t.arguments().collectFirst {
        case l: cx.Literal[_] => l.value() match {
          case n: java.lang.Number => n.intValue()
          case other => other.toString.toInt
        }
      }.getOrElse(throw new IllegalArgumentException(
        s"${t.name()} transform requires an integer argument"))
      val (ice, name): (IceTransform, String) = t.name() match {
        case "identity" => (IdentityTransform, src.name)
        case "years" | "year" => (YearTransform, s"${src.name}_year")
        case "months" | "month" => (MonthTransform, s"${src.name}_month")
        case "days" | "day" => (DayTransform, s"${src.name}_day")
        case "hours" | "hour" => (HourTransform, s"${src.name}_hour")
        case "bucket" => (BucketTransform(intArg), s"${src.name}_bucket")
        case "truncate" => (TruncateTransform(intArg), s"${src.name}_trunc")
        case other => throw new UnsupportedOperationException(
          s"partition transform '$other' is not supported")
      }
      PartitionField(src.id, PartitionSpec.PartitionDataIdStart + i, name, ice)
    }
    PartitionSpec(0, fields.toIndexedSeq)
  }

  /** ALTER TABLE: ADD/RENAME/DROP COLUMN — top-level or NESTED struct
    * paths (`a.b.c`; added columns are optional — the only safe Iceberg
    * evolution without default values) — and SET/UNSET TBLPROPERTIES,
    * delegating to the library write path. RENAME/DROP are metadata-only:
    * field-id resolution keeps existing data files readable and old
    * snapshots projecting their own schema; nested fields carry ids the
    * same as top-level ones, so the same machinery covers both. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // a REST-cataloged table (no local metadata) evolves through the
    // server: its handle commits each change as the spec's update actions
    val table =
      if (!isTable(tableDir(ident)) && rest.isDefined)
        restHandle(rest.get, restIdent(ident), rest.get.loadTable(restIdent(ident)))
      else loadIce(ident)
    val (t, setProps, unsetProps) = applyAlterChanges(table, changes)
    val t2 =
      if (setProps.nonEmpty || unsetProps.nonEmpty)
        TableWriter.updateProperties(t, setProps, unsetProps)
      else t
    new GraftSparkTable(t2)
  }

  /** Apply Spark TableChanges to `t` through the TableWriter evolution
    * functions; property set/unset are RETURNED, not applied (they fold
    * into one updateProperties commit). */
  private def applyAlterChanges(t0: IcebergTable, changes: Seq[TableChange])
      : (IcebergTable, Map[String, String], Seq[String]) = {
    var t = t0
    val setProps = scala.collection.mutable.LinkedHashMap[String, String]()
    val unsetProps = scala.collection.mutable.ArrayBuffer[String]()
    // Spark hands over PARSED path segments — pass them through as-is (a
    // joined-then-resplit string would mis-nest a literal dotted name)
    changes.foreach {
      case a: TableChange.AddColumn =>
        val icType = primitiveIceType(a.dataType())
        // `ADD COLUMN ... DEFAULT <literal>` (V3): the literal becomes
        // BOTH defaults — pre-existing files read it (initial-default)
        // and writers that omit the column fill it (write-default),
        // matching the DDL's user-visible meaning
        val dflt = Option(a.defaultValue()).map { dv =>
          // expression-only defaults have no constant-foldable value
          // (getValue == null) — refuse like UpdateColumnDefaultValue does
          // rather than NPE (Iceberg defaults are values, not expressions)
          Option(dv.getValue) match {
            case Some(v) => SchemaConv.literalFromCatalyst(icType, v.value())
            case None => throw new UnsupportedOperationException(
              "only literal column defaults are supported" +
                Option(dv.getSql).map(s => s" (sql: $s)").getOrElse(""))
          }
        }
        t = TableWriter.addColumnAt(t, a.fieldNames().toIndexedSeq,
          icType, Option(a.comment()),
          initialDefault = dflt, writeDefault = dflt)
      case u: TableChange.UpdateColumnDefaultValue =>
        // SET DEFAULT → new write-default; DROP DEFAULT → none. The
        // initial-default is immutable per the V3 spec. Only literal
        // defaults store (Iceberg defaults are values, not expressions).
        val path = u.fieldNames().toIndexedSeq
        val icType = TableWriter.resolveFieldType(t, path)
        val next = Option(u.newCurrentDefault()).flatMap { dv =>
          dv.getExpression match {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              Some(SchemaConv.literalFromCatalyst(icType, l.value()))
            case other => throw new UnsupportedOperationException(
              s"only literal column defaults are supported, got: $other " +
                s"(sql: ${dv.getSql})")
          }
        }
        t = TableWriter.updateColumnDefaultAt(t, path, next)
      case r: TableChange.RenameColumn =>
        t = TableWriter.renameColumnAt(t, r.fieldNames().toIndexedSeq, r.newName())
      case d: TableChange.DeleteColumn =>
        t = TableWriter.dropColumnAt(t, d.fieldNames().toIndexedSeq)
      case u: TableChange.UpdateColumnType =>
        t = TableWriter.updateColumnTypeAt(t, u.fieldNames().toIndexedSeq,
          primitiveIceType(u.newDataType()))
      case c: TableChange.UpdateColumnComment =>
        t = TableWriter.updateColumnCommentAt(t, c.fieldNames().toIndexedSeq,
          Option(c.newComment()).filter(_.nonEmpty))
      case n: TableChange.UpdateColumnNullability =>
        t = TableWriter.updateColumnNullabilityAt(t,
          n.fieldNames().toIndexedSeq, n.nullable())
      // `format-version` is not a free-form property: it drives the
      // metadata's format-version field, and an upgrade to 3 re-homes
      // live positional tombstones into deletion vectors (Iceberg's own
      // Spark integration upgrades through this property too)
      case s: TableChange.SetProperty if s.property() == "format-version" =>
        val target = s.value().toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"format-version must be an integer, got '${s.value()}'"))
        t = TableWriter.upgradeFormatVersion(t,
          org.apache.spark.sql.SparkSession.active, target)
      case s: TableChange.SetProperty => setProps += s.property() -> s.value()
      case r: TableChange.RemoveProperty => unsetProps += r.property()
      case other => throw new UnsupportedOperationException(
        s"table change ${other.getClass.getSimpleName} is not supported")
    }
    (t, setProps.toMap, unsetProps.toSeq)
  }

  /** ADD COLUMN type conversion — nested types included (struct/array/
    * map); field ids here are PLACEHOLDERS (0): `TableWriter.addColumn`
    * reassigns every id in the subtree fresh above last-column-id. */
  private def primitiveIceType(dt: org.apache.spark.sql.types.DataType)
      : graft.core.IcebergType = {
    import org.apache.spark.sql.types._
    import graft.core._
    dt match {
      case BooleanType => BooleanT
      case ByteType | ShortType | IntegerType => IntT
      case LongType => LongT
      case FloatType => FloatT
      case DoubleType => DoubleT
      case DateType => DateT
      case TimestampNTZType => TimestampT
      case TimestampType => TimestampTzT
      case StringType => StringT
      case BinaryType => BinaryT
      case VariantType => VariantT
      case d: DecimalType => DecimalT(d.precision, d.scale)
      case s: StructType => StructT(s.fields.toSeq.map(f =>
        NestedField(0, f.name, primitiveIceType(f.dataType),
          required = !f.nullable)))
      case a: ArrayType =>
        ListT(0, primitiveIceType(a.elementType),
          elementRequired = !a.containsNull)
      case m: MapType =>
        MapT(0, primitiveIceType(m.keyType), 0,
          primitiveIceType(m.valueType), valueRequired = !m.valueContainsNull)
      case other => throw new UnsupportedOperationException(
        s"ADD COLUMN of type $other is not supported")
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (isTable(dir)) { deleteRec(dir); true }
    else rest.exists { rc =>
      // REST plane: the server owns the drop; a table whose location this
      // catalog provisioned under its own warehouse gets its directory
      // removed too (matching the local plane's purge-on-drop semantics)
      val id = restIdent(ident)
      try {
        val loc =
          try Some(rc.loadTable(id).metadata.location)
          catch { case _: graft.catalog.CatalogError => None }
        rc.dropTable(id); invalidateRest(id)
        loc.map(l => new File(l.stripPrefix("file://").stripPrefix("file:")))
          .filter(f => f.getCanonicalPath.startsWith(
            warehouse.getCanonicalPath + File.separator) && f.isDirectory)
          .foreach(deleteRec)
        true
      } catch {
        case _: graft.catalog.NoSuchTableError |
             _: graft.catalog.NoSuchNamespaceError => false
      }
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from) && rest.exists(_.tableExists(restIdent(oldIdent)))) {
      val rc = rest.get
      val targetNs0 = newIdent.namespace() match {
        case ns if ns.headOption.contains(catalogName) => ns.drop(1)
        case ns => ns
      }
      val to = Identifier.of(targetNs0, newIdent.name())
      rc.renameTable(restIdent(oldIdent), restIdent(to))
      invalidateRest(restIdent(oldIdent)); invalidateRest(restIdent(to))
      return
    }
    if (!isTable(from)) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(oldIdent)
    // ALTER TABLE ... RENAME TO passes the target unresolved — it may still
    // carry this catalog's name as the leading namespace segment
    val targetNs = newIdent.namespace() match {
      case ns if ns.headOption.contains(catalogName) => ns.drop(1)
      case ns => ns
    }
    val target = Identifier.of(targetNs, newIdent.name())
    if (viewExists(target))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(target)
    val to = tableDir(target)
    to.getParentFile.mkdirs()
    if (!from.renameTo(to))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  // ----------------------------------------------------------------- views

  private def viewFile(ident: Identifier): File =
    new File(tableDir(ident), "view.metadata.json")

  private def isView(dir: File): Boolean =
    new File(dir, "view.metadata.json").isFile

  private def restViewExists(ident: Identifier): Boolean =
    rest.exists { rc =>
      try rc.viewExists(restIdent(ident))
      catch { case _: graft.catalog.CatalogError => false }
    }

  override def viewExists(ident: Identifier): Boolean =
    viewFile(ident).isFile || restViewExists(ident)

  /** SHOW VIEWS lists BOTH planes: local warehouse view files and the
    * REST catalog's server-side views. */
  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val nsDir = new File(warehouse, ns.mkString(File.separator))
    val local: Array[Identifier] =
      if (!nsDir.isDirectory) Array.empty
      else Option(nsDir.listFiles()).getOrElse(Array.empty)
        .filter(isView)
        .map(f => Identifier.of(ns, f.getName))
    val remote: Array[Identifier] = rest.map { rc =>
      try rc.listViews(ns.toSeq)
        .map(id => Identifier.of(id.dropRight(1).toArray, id.last)).toArray
      catch { case _: graft.catalog.CatalogError => Array.empty[Identifier] }
    }.getOrElse(Array.empty)
    if (!nsDir.isDirectory && rest.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(ns)
    (local ++ remote).distinct
  }

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (f.isFile)
      return new GraftView(ident,
        ViewMetadata.parse(java.nio.file.Files.readString(f.toPath)))
    rest.foreach { rc =>
      try return new GraftView(ident,
        ViewMetadata.parse(rc.loadView(restIdent(ident))))
      catch { case _: graft.catalog.NoSuchTableError => }
    }
    throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchViewException(ident)
  }

  private def versionFromInfo(info: ViewInfo, versionId: Int): ViewVersion =
    ViewVersion(
      versionId = versionId,
      timestampMs = System.currentTimeMillis(),
      sql = info.sql(),
      dialect = "spark",
      defaultCatalog = info.currentCatalog(),
      defaultNamespace = Option(info.currentNamespace()).map(_.toSeq)
        .getOrElse(Nil),
      sparkSchemaJson = info.schema().json,
      queryColumnNames = Option(info.queryColumnNames()).map(_.toSeq)
        .getOrElse(Nil),
      columnAliases = Option(info.columnAliases()).map(_.toSeq).getOrElse(Nil),
      columnComments = Option(info.columnComments()).map(_.toSeq)
        .getOrElse(Seq.empty[String]).map(Option(_)))

  private def writeView(ident: Identifier, md: ViewMetadata): Unit = {
    val dir = tableDir(ident)
    dir.mkdirs()
    java.nio.file.Files.write(viewFile(ident).toPath,
      md.toJson.getBytes("UTF-8"))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // REST configured → the SERVER is the view store: CREATE VIEW on a
    // shared catalog must be visible to every other client of that
    // catalog, not land in this engine's local warehouse
    rest match {
      case Some(rc) =>
        val created = rc.createView(restIdent(ident),
          ViewMetadata.versionJson(versionFromInfo(info, 1)),
          location = tableDir(ident).getPath,
          properties = Option(info.properties()).map(_.asScala.toMap)
            .getOrElse(Map.empty))
        GraftViewExistsCache.invalidate()
        new GraftView(ident, ViewMetadata.parse(created))
      case None =>
        val nsDir = new File(warehouse, ident.namespace().mkString(File.separator))
        if (ident.namespace().nonEmpty && !nsDir.isDirectory)
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchNamespaceException(ident.namespace())
        val md = ViewMetadata(
          viewUuid = java.util.UUID.randomUUID().toString,
          location = tableDir(ident).getPath,
          currentVersionId = 1,
          versions = Seq(versionFromInfo(info, 1)),
          properties = Option(info.properties()).map(_.asScala.toMap)
            .getOrElse(Map.empty))
        writeView(ident, md)
        GraftViewExistsCache.invalidate()
        new GraftView(ident, md)
    }
  }

  /** CREATE OR REPLACE VIEW: appends a new version and moves
    * `current-version-id` — history is retained like table snapshots.
    * Plane-preserving: a view replaces where it lives (local file or REST
    * server); orCreate routes through [[createView]]'s plane choice. */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    val f = viewFile(ident)
    if (!f.isFile) {
      if (restViewExists(ident)) {
        val rc = rest.get
        val prev = ViewMetadata.parse(rc.loadView(restIdent(ident)))
        val nextId = prev.versions.map(_.versionId).max + 1
        val updated = rc.commitView(restIdent(ident), Some(prev.viewUuid),
          Some(ViewMetadata.versionJson(versionFromInfo(info, nextId))),
          setProperties = Option(info.properties()).map(_.asScala.toMap)
            .getOrElse(Map.empty))
        return new GraftView(ident, ViewMetadata.parse(updated))
      }
      if (!orCreate)
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchViewException(ident)
      return createView(info)
    }
    val prev = ViewMetadata.parse(java.nio.file.Files.readString(f.toPath))
    val nextId = prev.versions.map(_.versionId).max + 1
    val md = prev.copy(
      currentVersionId = nextId,
      versions = prev.versions :+ versionFromInfo(info, nextId),
      properties = Option(info.properties()).map(_.asScala.toMap)
        .getOrElse(Map.empty))
    writeView(ident, md)
    new GraftView(ident, md)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val f = viewFile(ident)
    if (!f.isFile && restViewExists(ident)) {
      val rc = rest.get
      val prev = ViewMetadata.parse(rc.loadView(restIdent(ident)))
      val sets = changes.collect {
        case s: ViewChange.SetProperty => s.property() -> s.value() }.toMap
      val removes = changes.collect {
        case r: ViewChange.RemoveProperty => r.property() }
      changes.foreach {
        case _: ViewChange.SetProperty | _: ViewChange.RemoveProperty =>
        case other => throw new UnsupportedOperationException(
          s"view change ${other.getClass.getSimpleName} is not supported")
      }
      val updated = rc.commitView(restIdent(ident), Some(prev.viewUuid),
        None, setProperties = sets, removeProperties = removes)
      return new GraftView(ident, ViewMetadata.parse(updated))
    }
    if (!f.isFile)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    var md = ViewMetadata.parse(java.nio.file.Files.readString(f.toPath))
    changes.foreach {
      case s: ViewChange.SetProperty =>
        md = md.copy(properties = md.properties + (s.property() -> s.value()))
      case r: ViewChange.RemoveProperty =>
        md = md.copy(properties = md.properties - r.property())
      case other => throw new UnsupportedOperationException(
        s"view change ${other.getClass.getSimpleName} is not supported")
    }
    writeView(ident, md)
    new GraftView(ident, md)
  }

  override def dropView(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (isView(dir)) {
      deleteRec(dir); GraftViewExistsCache.invalidate(); true
    } else if (restViewExists(ident)) {
      rest.get.dropView(restIdent(ident))
      GraftViewExistsCache.invalidate()
      true
    } else false
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isView(from) && restViewExists(oldIdent)) {
      val targetNs = newIdent.namespace() match {
        case ns if ns.headOption.contains(catalogName) => ns.drop(1)
        case ns => ns
      }
      rest.get.renameView(restIdent(oldIdent),
        restIdent(Identifier.of(targetNs, newIdent.name())))
      GraftViewExistsCache.invalidate()
      return
    }
    if (!isView(from))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    val targetNs = newIdent.namespace() match {
      case ns if ns.headOption.contains(catalogName) => ns.drop(1)
      case ns => ns
    }
    val target = Identifier.of(targetNs, newIdent.name())
    if (viewExists(target))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(target)
    val to = tableDir(target)
    to.getParentFile.mkdirs()
    if (!from.renameTo(to))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
    GraftViewExistsCache.invalidate()
  }

  // ------------------------------------------------------------ namespaces

  /** BOTH planes, like listTables: SHOW NAMESPACES unions the warehouse
    * dirs with the REST server's listing. */
  override def listNamespaces(): Array[Array[String]] = {
    val local = Option(warehouse.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isTable(f))
      .map(f => Seq(f.getName))
    val remote = rest.toSeq.flatMap { rc =>
      try rc.listNamespaces() catch { case _: graft.catalog.CatalogError => Nil }
    }
    (local.toSeq ++ remote).distinct.map(_.toArray).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = new File(warehouse, namespace.mkString(File.separator))
      val local = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !isTable(f))
        .map(f => (namespace :+ f.getName).toSeq)
      val remote = rest.toSeq.flatMap { rc =>
        try rc.listNamespaces(namespace.toSeq)
        catch { case _: graft.catalog.CatalogError => Nil }
      }
      (local.toSeq ++ remote).distinct.map(_.toArray).toArray
    }

  /** Namespace properties live in a `.namespace.properties` file inside the
    * namespace directory — metadata-plane only, invisible to table listing
    * (dotfile, not a table dir). */
  private def nsPropsFile(namespace: Array[String]): File =
    new File(new File(warehouse, namespace.mkString(File.separator)),
      ".namespace.properties")

  private def readNsProps(namespace: Array[String]): Map[String, String] = {
    val f = nsPropsFile(namespace)
    if (!f.isFile) Map.empty
    else {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(f)
      try p.load(in) finally in.close()
      p.asScala.toMap
    }
  }

  private def writeNsProps(namespace: Array[String], props: Map[String, String]): Unit = {
    val f = nsPropsFile(namespace)
    if (props.isEmpty) { f.delete(); return }
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val out = new java.io.FileOutputStream(f)
    try p.store(out, null) finally out.close()
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = new File(warehouse, namespace.mkString(File.separator))
    if (!dir.isDirectory) {
      // REST fallback: a server-resident namespace exists for USE/SHOW
      // even without a warehouse dir
      rest.foreach { rc =>
        try return rc.namespaceProperties(namespace.toSeq).asJava
        catch { case _: graft.catalog.CatalogError => () }
      }
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    }
    (readNsProps(namespace) + ("location" -> dir.getPath)).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    // a uri-configured catalog's namespace DDL belongs to the catalog of
    // record: CREATE NAMESPACE lands on the SERVER (local namespaces in
    // such a catalog come from warehouse dirs, never SQL DDL)
    rest match {
      case Some(rc) =>
        rc.createNamespace(namespace.toSeq,
          metadata.asScala.toMap - "location" - "owner" - "comment")
      case None =>
        new File(warehouse, namespace.mkString(File.separator)).mkdirs()
        val props = metadata.asScala.toMap - "location" - "owner" - "comment"
        if (props.nonEmpty) writeNsProps(namespace, props)
    }
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    val dir = new File(warehouse, namespace.mkString(File.separator))
    // a SERVER-RESIDENT namespace owns its properties (same residency
    // rule as CREATE TABLE — a warehouse dir here is only a provisioning
    // side-effect, never SQL-created in a uri-configured catalog)
    rest.foreach { rc =>
      val onRest =
        try { rc.namespaceProperties(namespace.toSeq); true }
        catch { case _: graft.catalog.CatalogError => false }
      if (onRest) {
        val sets = scala.collection.mutable.Map[String, String]()
        val removes = Vector.newBuilder[String]
        changes.foreach {
          case s: NamespaceChange.SetProperty => sets += s.property() -> s.value()
          case r: NamespaceChange.RemoveProperty => removes += r.property()
          case other => throw new UnsupportedOperationException(
            s"namespace change ${other.getClass.getSimpleName} is not supported")
        }
        rc.updateNamespaceProperties(namespace.toSeq, removes.result(),
          sets.toMap)
        return
      }
    }
    if (!dir.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    var props = readNsProps(namespace)
    changes.foreach {
      case s: NamespaceChange.SetProperty => props += s.property() -> s.value()
      case r: NamespaceChange.RemoveProperty => props -= r.property()
      case other => throw new UnsupportedOperationException(
        s"namespace change ${other.getClass.getSimpleName} is not supported")
    }
    writeNsProps(namespace, props)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new File(warehouse, namespace.mkString(File.separator))
    // the props dotfile is the namespace's OWN metadata, not content — a
    // namespace holding only its properties is empty for DROP purposes
    def hasContent = Option(dir.listFiles()).exists(
      _.exists(_.getName != nsPropsFile(namespace).getName))
    val restHasNs = rest.exists { rc =>
      try { rc.namespaceProperties(namespace.toSeq); true }
      catch { case _: graft.catalog.CatalogError => false }
    }
    if (restHasNs) {
      // REST-resident namespace: the server owns the drop (refusing a
      // non-empty one per the spec). ANY local content under the same
      // warehouse dir — tables, views, sub-namespaces, or the data dirs
      // of live REST tables provisioned there — blocks a plain drop just
      // like the local plane's rule; CASCADE drops the server's tables
      // and views first, then sweeps the local dir.
      if (!cascade && hasContent)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
      val rc = rest.get
      if (cascade) {
        rc.listViews(namespace.toSeq).foreach(v =>
          try rc.dropView(v)
          catch { case _: graft.catalog.CatalogError => () })
        rc.listTables(namespace.toSeq).foreach { id =>
          try { rc.dropTable(id); invalidateRest(id) }
          catch { case _: graft.catalog.CatalogError => () }
        }
      }
      rc.dropNamespace(namespace.toSeq)
      if (dir.isDirectory) deleteRec(dir)
      GraftViewExistsCache.invalidate()
      true
    }
    else if (!dir.isDirectory) false
    else if (!cascade && hasContent)
      // Spark treats a `false` return as "nothing to drop" and reports
      // success — a non-empty namespace must throw to surface the
      // required CASCADE
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    else { deleteRec(dir); GraftViewExistsCache.invalidate(); true }
  }
}
