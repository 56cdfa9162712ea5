package graft.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, StringType, StructType}

/** Session extensions that make [[ViewCatalog]] views usable from SQL.
  *
  * Spark 4.1 ships the DSv2 `ViewCatalog` API but no SQL surface for it —
  * `CREATE VIEW cat.db.v` fails analysis with MISSING_CATALOG_ABILITY and
  * `SELECT` never consults `loadView` (the ecosystem catalogs ship their own
  * analyzer extensions for exactly this). This is that extension, Spark-first:
  *
  *   - a delegating parser post-processor rewrites view DDL (`CREATE [OR
  *     REPLACE] VIEW`, `DROP VIEW`, `SHOW VIEWS`, `ALTER VIEW SET/UNSET
  *     TBLPROPERTIES`, `ALTER VIEW RENAME`) that targets a [[ViewCatalog]]
  *     into runnable commands over the catalog API;
  *   - a resolution rule substitutes `UnresolvedRelation`s that name a
  *     stored view with its parsed SQL (references scoped to the view's
  *     default catalog/namespace), so views compose with every read path
  *     and nested views resolve by fixed-point application.
  *
  * Register with `spark.sql.extensions=graft.spark.GraftSparkExtensions`.
  * DDL on the session catalog (temp views included) is untouched — the
  * rewrite only fires when the target resolves to a [[ViewCatalog]]. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((session, delegate) =>
      new GraftViewSqlParser(session, delegate))
    ext.injectResolutionRule(session => GraftViewResolution(session))
    ext.injectResolutionRule(session => GraftCdcCarryoverCancel(session))
  }
}

/** Wraps `.option("read-changes", true)` streams with
  * [[graft.streaming.EventStreams.cancelCarryovers]], so the streaming CDC
  * surface matches the batch changelog's default (CoW carryover delete+
  * insert pairs cancelled per commit) instead of emitting spurious churn
  * for every merely-copied row. `.option("cdc-carryovers", "emit")` keeps
  * the raw pair surface (also the behavior without these extensions,
  * and of a batch `read-changes` read; `Changelog.changelogDF` cancels
  * batch carryovers itself).
  * The substitution preserves the relation's output exprIds, and a marker
  * option on the wrapped relation keeps the rule idempotent across
  * analyzer iterations. */
case class GraftCdcCarryoverCancel(session: SparkSession) extends Rule[LogicalPlan] {
  private val Marker = "graft-cdc-cancel-applied"
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case rel: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
        if rel.table.isInstanceOf[GraftSparkTable] &&
          rel.extraOptions.getBoolean("read-changes", false) &&
          !"emit".equalsIgnoreCase(
            rel.extraOptions.getOrDefault("cdc-carryovers", "cancel")) &&
          !rel.extraOptions.containsKey(Marker) =>
      val opts = new java.util.HashMap[String, String](
        rel.extraOptions.asCaseSensitiveMap())
      opts.put(Marker, "true")
      val marked = rel.copy(extraOptions =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
      // Build the wrapper as LOGICAL NODES (catalyst constructors, no
      // Dataset round-trip): the deserializers inside are Unresolved and
      // THIS analyzer resolves them on its next fixed-point iteration —
      // no nested `queryExecution.analyzed` call from inside the rule.
      val wrapped = graft.streaming.EventStreams.cancelCarryoversPlan(marked)
      // The wrapper round-trips through an object encoder
      // (flatMapGroupsWithState → SerializeFromObject), which must not
      // change the relation's schema. Fail loudly on any type drift, and
      // re-assert nullability the encoder widened (the cancel operator
      // re-emits source rows verbatim, so a source-non-null column is
      // still non-null) instead of silently loosening the stream schema.
      require(rel.output.length == wrapped.output.length &&
        rel.output.zip(wrapped.output).forall { case (o, n) =>
          // type equality modulo nullability (sql form carries no nullity)
          o.dataType.sql == n.dataType.sql },
        "carryover-cancel wrapper changed the read-changes schema: " +
          s"${rel.output.map(a => s"${a.name}:${a.dataType.simpleString}")} " +
          s"vs ${wrapped.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
      Project(rel.output.zip(wrapped.output).map { case (o, n) =>
        val e: Expression =
          if (!o.nullable && n.nullable)
            org.apache.spark.sql.catalyst.expressions.KnownNotNull(n)
          else n
        Alias(e, o.name)(exprId = o.exprId)
      }, wrapped)
  }
}

private[spark] object GraftViewSupport {
  /** Resolve `parts` to (view catalog, identifier) if the explicit or
    * current catalog is a [[ViewCatalog]]; None → leave the plan to Spark.
    *
    * An identifier whose head names an EXISTING catalog that is not a
    * ViewCatalog (e.g. `spark_catalog.default.v` while `USE graft`) is
    * explicitly aimed elsewhere — it must NOT fall through to the current
    * catalog, or qualified DDL would be hijacked into the wrong catalog. */
  def viewCatalogAndIdent(session: SparkSession,
                          parts: Seq[String]): Option[(ViewCatalog, Identifier)] = {
    val cm = session.sessionState.catalogManager
    if (parts.length > 1) {
      val headCat = try Some(cm.catalog(parts.head))
                    catch { case _: Exception => None }
      headCat match {
        case Some(v: ViewCatalog) =>
          return Some((v, Identifier.of(parts.tail.init.toArray, parts.last)))
        case Some(_) => return None // qualified at a non-view catalog
        case None => () // head is a namespace under the current catalog
      }
    }
    cm.currentCatalog match {
      case v: ViewCatalog =>
        val ns = if (parts.length == 1) cm.currentNamespace
                 else parts.init.toArray
        Some((v, Identifier.of(ns, parts.last)))
      case _ => None
    }
  }

  /** Session temp views take precedence over stored views for bare
    * single-part names (matching Spark's own resolution order), and the
    * reserved global-temp database is always Spark's (even a miss there
    * should produce Spark's error, not a graft lookup). */
  def shadowedByTempView(session: SparkSession, parts: Seq[String]): Boolean =
    parts match {
      case Seq(name) =>
        session.sessionState.catalog.getTempView(name).isDefined
      case Seq(db, _) =>
        db == session.conf.get("spark.sql.globalTempDatabase", "global_temp")
      case _ => false
    }

  /** Namespace resolution for SHOW VIEWS: (catalog name, namespace).
    * A head naming an existing non-view catalog is aimed elsewhere → None
    * (same no-hijack rule as [[viewCatalogAndIdent]]). */
  def viewCatalogAndNs(session: SparkSession,
                       parts: Seq[String]): Option[(String, Seq[String])] = {
    val cm = session.sessionState.catalogManager
    if (parts.nonEmpty) {
      val headCat = try Some(cm.catalog(parts.head))
                    catch { case _: Exception => None }
      headCat match {
        case Some(_: ViewCatalog) => return Some((parts.head, parts.tail))
        case Some(_) => return None
        case None => ()
      }
    }
    if (cm.currentCatalog.isInstanceOf[ViewCatalog])
      Some((cm.currentCatalog.name(),
        if (parts.nonEmpty) parts else cm.currentNamespace.toSeq))
    else None
  }

  /** Build the substituted read plan for a stored view: parse its SQL,
    * qualify unqualified table references with the view's default
    * catalog/namespace (view SQL is scoped to where the view was defined,
    * not to the reader's context), apply column aliases, alias the subtree
    * with the view name. */
  def viewPlan(session: SparkSession, ident: Identifier,
               view: org.apache.spark.sql.connector.catalog.View): LogicalPlan = {
    val parsed = session.sessionState.sqlParser.parsePlan(view.query())
    val defCat = view.currentCatalog()
    val defNs = view.currentNamespace().toSeq
    val scoped = parsed.transformUp {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
        u.copy(multipartIdentifier =
          (defCat +: defNs) ++ u.multipartIdentifier)
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 1 + defNs.length &&
            u.multipartIdentifier.init == defNs =>
        u.copy(multipartIdentifier = defCat +: u.multipartIdentifier)
    }
    val aliases = view.columnAliases()
    val named = if (aliases != null && aliases.nonEmpty) {
      val qNames = view.queryColumnNames()
      Project(aliases.toSeq.zip(qNames.toSeq).map { case (a, q) =>
        Alias(UnresolvedAttribute.quoted(q), a)()
      }, scoped)
    } else scoped
    SubqueryAlias(ident.name(), named)
  }
}

/** Per-analysis memo for `viewExists` filesystem probes: the resolution
  * rule fires for every UnresolvedRelation on every analyzer fixed-point
  * iteration — without a memo, plain table reads pay a filesystem stat per
  * iteration whenever the current/named catalog is a ViewCatalog. Entries
  * are invalidated wholesale on any view DDL through this session's
  * commands; external (cross-process) catalog writes are picked up on the
  * next invalidation or JVM, the standard catalog-cache trade-off. */
private[spark] object GraftViewExistsCache {
  private val generation = new java.util.concurrent.atomic.AtomicLong(0)
  // one sub-map per catalog INSTANCE (reference identity, weakly held so a
  // dropped session's catalog doesn't pin its cache): two catalogs may
  // share a name while pointing at different warehouses (multi-session
  // setups), and any name- or hash-keyed entry could leak existence
  // across them
  private val cache = new java.util.WeakHashMap[ViewCatalog,
    java.util.concurrent.ConcurrentHashMap[(Long, String), java.lang.Boolean]]()
  def invalidate(): Unit = {
    generation.incrementAndGet()
    cache.synchronized { cache.clear() }
  }
  def viewExists(cat: ViewCatalog, ident: Identifier): Boolean = {
    // Memoize ONLY GraftCatalog instances: our DDL paths invalidate this
    // cache, a third-party ViewCatalog's DDL does not — caching its
    // probes would serve stale existence with no invalidation hook.
    if (!cat.isInstanceOf[GraftCatalog]) return cat.viewExists(ident)
    val perCat = cache.synchronized {
      var m = cache.get(cat)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(Long, String), java.lang.Boolean]()
        cache.put(cat, m)
      }
      m
    }
    perCat.computeIfAbsent((generation.get, ident.toString),
      _ => java.lang.Boolean.valueOf(cat.viewExists(ident))).booleanValue()
  }
}

/** Substitutes stored-view references during resolution. Each matched view
  * is expanded RECURSIVELY with the reference path threaded through, so
  * nested views resolve in one rule application and a cyclic definition
  * (constructible via `ALTER VIEW ... AS`) fails immediately with the cycle
  * named (`view cycle: a -> b -> a`) instead of dying on the analyzer's
  * generic max-iterations error. Bare single-part names that a session temp
  * view shadows are left to Spark (temp views outrank stored views). */
case class GraftViewResolution(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = substitute(plan, Nil)

  private def substitute(plan: LogicalPlan,
                         path: List[String]): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation
          if !GraftViewSupport.shadowedByTempView(session, u.multipartIdentifier) =>
        GraftViewSupport.viewCatalogAndIdent(session, u.multipartIdentifier)
          .filter { case (cat, ident) =>
            GraftViewExistsCache.viewExists(cat, ident) }
          .map { case (cat, ident) =>
            val key = (cat.name() +: ident.namespace().toSeq :+ ident.name())
              .mkString(".")
            if (path.contains(key))
              throw new IllegalStateException(
                "view cycle: " + (path.reverse :+ key)
                  .dropWhile(_ != key).mkString(" -> "))
            substitute(
              GraftViewSupport.viewPlan(session, ident, cat.loadView(ident)),
              key :: path)
          }
          .getOrElse(u)
    }
}

/** Delegating parser: rewrites parsed view DDL that targets a
  * [[ViewCatalog]] into graft view commands; everything else passes
  * through untouched. */
class GraftViewSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  /** DDL on a bare name that a session temp view shadows stays with Spark
    * (temp views outrank stored views for DROP/ALTER/RENAME/reads, as in
    * Spark's own resolution). CREATE [OR REPLACE] VIEW is the exception —
    * in Spark a temp view never blocks creating a permanent view of the
    * same name, so [[rewrite]] uses the unshadowed check there. */
  private def targetsViewCatalog(parts: Seq[String]): Boolean =
    !GraftViewSupport.shadowedByTempView(session, parts) &&
      targetsViewCatalogUnshadowed(parts)

  private def targetsViewCatalogUnshadowed(parts: Seq[String]): Boolean =
    // the global-temp database stays reserved to Spark even for CREATE
    !(parts.length == 2 && parts.head ==
      session.conf.get("spark.sql.globalTempDatabase", "global_temp")) &&
      GraftViewSupport.viewCatalogAndIdent(session, parts).isDefined

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateView => c.child match {
      case id: UnresolvedIdentifier
          if targetsViewCatalogUnshadowed(id.nameParts) =>
        GraftCreateViewCommand(id.nameParts,
          c.userSpecifiedColumns, c.comment, c.properties,
          c.originalText.getOrElse(throw new IllegalArgumentException(
            "CREATE VIEW without original SQL text")),
          c.query, c.allowExisting, c.replace)
      case _ => plan
    }
    case d: DropView => d.child match {
      // the parser emits UnresolvedIdentifier here (UnresolvedView appears
      // in ALTER VIEW); accept either shape
      case id: UnresolvedIdentifier if targetsViewCatalog(id.nameParts) =>
        GraftDropViewCommand(id.nameParts, d.ifExists)
      case v: UnresolvedView if targetsViewCatalog(v.multipartIdentifier) =>
        GraftDropViewCommand(v.multipartIdentifier, d.ifExists)
      case _ => plan
    }
    case s: ShowViews => s.child match {
      case ns: UnresolvedNamespace =>
        GraftViewSupport.viewCatalogAndNs(session, ns.multipartIdentifier)
          .map { case (cat, nsParts) =>
            GraftShowViewsCommand(cat, nsParts, s.pattern)
          }.getOrElse(plan)
      case _ => plan
    }
    case s: SetViewProperties => s.child match {
      case v: UnresolvedView if targetsViewCatalog(v.multipartIdentifier) =>
        GraftAlterViewCommand(v.multipartIdentifier,
          s.properties.toSeq.map(kv => (kv._1, Some(kv._2))))
      case _ => plan
    }
    case s: UnsetViewProperties => s.child match {
      case v: UnresolvedView if targetsViewCatalog(v.multipartIdentifier) =>
        GraftAlterViewCommand(v.multipartIdentifier,
          s.propertyKeys.map(k => (k, None)))
      case _ => plan
    }
    case a: AlterViewAs => a.child match {
      case v: UnresolvedView if targetsViewCatalog(v.multipartIdentifier) =>
        GraftAlterViewAsCommand(v.multipartIdentifier, a.originalText, a.query)
      case _ => plan
    }
    case r: RenameTable if r.isView => r.child match {
      case v: UnresolvedTableOrView if targetsViewCatalog(v.multipartIdentifier) =>
        GraftRenameViewCommand(v.multipartIdentifier, r.newName)
      case _ => plan
    }
    case _ => plan
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

case class GraftCreateViewCommand(
    nameParts: Seq[String],
    userSpecifiedColumns: Seq[(String, Option[String])],
    comment: Option[String],
    properties: Map[String, String],
    sqlText: String,
    query: LogicalPlan,
    allowExisting: Boolean,
    replace: Boolean) extends LeafRunnableCommand {

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val (catalog, ident) =
      GraftViewSupport.viewCatalogAndIdent(sparkSession, nameParts).get
    val analyzed = sparkSession.sessionState.executePlan(query).analyzed
    val queryNames = analyzed.schema.fieldNames
    if (userSpecifiedColumns.nonEmpty)
      require(userSpecifiedColumns.length == queryNames.length,
        s"view column list has ${userSpecifiedColumns.length} names but the " +
          s"query produces ${queryNames.length} columns")
    val aliases = userSpecifiedColumns.map(_._1)
    val colComments = userSpecifiedColumns.map(_._2.orNull)
    val schema =
      if (aliases.isEmpty) analyzed.schema
      else StructType(analyzed.schema.fields.zip(aliases).map {
        case (f, a) => f.copy(name = a)
      })
    val cm = sparkSession.sessionState.catalogManager
    val props = properties ++ comment.map(ViewCatalog.PROP_COMMENT -> _)
    val info = new ViewInfo(ident, sqlText,
      cm.currentCatalog.name(), cm.currentNamespace,
      schema, queryNames, aliases.toArray, colComments.toArray,
      props.asJava)
    if (replace) catalog.replaceView(info, true)
    else if (allowExisting && catalog.viewExists(ident)) ()
    else catalog.createView(info)
    Seq.empty
  }
}

case class GraftDropViewCommand(nameParts: Seq[String], ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val (catalog, ident) =
      GraftViewSupport.viewCatalogAndIdent(sparkSession, nameParts).get
    val dropped = catalog.dropView(ident)
    if (!dropped && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    Seq.empty
  }
}

case class GraftShowViewsCommand(catalogName: String, ns: Seq[String],
                                 pattern: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("viewName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val catalog = sparkSession.sessionState.catalogManager
      .catalog(catalogName).asInstanceOf[ViewCatalog]
    // SHOW VIEWS LIKE patterns: '*' any chars, '|' alternation
    def matches(name: String): Boolean = pattern.forall(p =>
      p.split("\\|").exists(alt =>
        name.matches(java.util.regex.Pattern.quote(alt)
          .replace("*", "\\E.*\\Q"))))
    val stored = catalog.listViews(ns: _*).toSeq
      .filter(i => matches(i.name()))
      .sortBy(_.name())
      .map(i => Row(i.namespace().mkString("."), i.name(), false))
    // Spark's SHOW VIEWS also lists session temp views matching the
    // pattern (namespace "", isTemporary=true); mirror that here.
    val temp = sparkSession.sessionState.catalog
      .listLocalTempViews("*").map(_.table)
      .filter(matches).sorted
      .map(n => Row("", n, true))
    stored ++ temp
  }
}

case class GraftAlterViewCommand(nameParts: Seq[String],
                                 changes: Seq[(String, Option[String])])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val (catalog, ident) =
      GraftViewSupport.viewCatalogAndIdent(sparkSession, nameParts).get
    val vc = changes.map {
      case (k, Some(v)) => ViewChange.setProperty(k, v)
      case (k, None) => ViewChange.removeProperty(k)
    }
    catalog.alterView(ident, vc: _*)
    Seq.empty
  }
}

case class GraftAlterViewAsCommand(nameParts: Seq[String], sqlText: String,
                                   query: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val (catalog, ident) =
      GraftViewSupport.viewCatalogAndIdent(sparkSession, nameParts).get
    val prev = catalog.loadView(ident) // NoSuchViewException if absent
    val analyzed = sparkSession.sessionState.executePlan(query).analyzed
    val cm = sparkSession.sessionState.catalogManager
    val info = new ViewInfo(ident, sqlText,
      cm.currentCatalog.name(), cm.currentNamespace,
      analyzed.schema, analyzed.schema.fieldNames,
      Array.empty, Array.empty, prev.properties())
    catalog.replaceView(info, false)
    Seq.empty
  }
}

case class GraftRenameViewCommand(nameParts: Seq[String], newName: Seq[String])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val (catalog, ident) =
      GraftViewSupport.viewCatalogAndIdent(sparkSession, nameParts).get
    catalog.renameView(ident,
      Identifier.of(newName.init.toArray, newName.last))
    Seq.empty
  }
}
