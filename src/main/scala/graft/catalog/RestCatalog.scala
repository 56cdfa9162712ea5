package graft.catalog

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.catalog.MetadataUpdates.commitBody
import graft.core.TableMetadata

/** Catalog abstraction + REST implementation (parity with
  * `table/catalog/catalog.go:99-125` and `table/catalog/rest.go:179-557`):
  * OAuth2 client-credentials token fetch, `/v1/config` defaults←props←
  * overrides merge, bearer-session headers, namespace/table listing and
  * mutation, table load, and the per-status error taxonomy. All plain JDK
  * HTTP — the catalog plane is driver-side control traffic. */
sealed abstract class CatalogError(msg: String) extends RuntimeException(msg)
final class BadRequestError(m: String) extends CatalogError(m)
final class UnauthorizedError(m: String) extends CatalogError(m)
final class ForbiddenError(m: String) extends CatalogError(m)
final class NoSuchTableError(m: String) extends CatalogError(m)
final class NoSuchNamespaceError(m: String) extends CatalogError(m)
final class AlreadyExistsError(m: String) extends CatalogError(m)
final class CommitConflictError(m: String) extends CatalogError(m)
final class AuthExpiredError(m: String) extends CatalogError(m)
final class ServiceUnavailableError(m: String) extends CatalogError(m)
final class ServerError(m: String) extends CatalogError(m)
final class RestError(code: Int, m: String) extends CatalogError(s"HTTP $code: $m")
final class OAuthError(val error: String, val description: String)
  extends CatalogError(s"$error: $description")

/** A storage credential vended by the catalog (LoadTableResult
  * `storage-credentials`): `config` applies to paths under `prefix` —
  * scoped, typically expiring, per-table access the modern REST catalogs
  * (Polaris/Unity-style) hand out instead of ambient credentials. */
final case class StorageCredential(prefix: String, config: Map[String, String])

final case class LoadedTable(identifier: Seq[String], metadataLocation: String,
                             metadata: TableMetadata, config: Map[String, String],
                             storageCredentials: Seq[StorageCredential] = Nil) {
  /** The IO property map for THIS table: metadata properties, overridden
    * by the catalog's per-table `config`, overridden by the vended
    * credential whose prefix longest-matches the table location. Every
    * REST read/write path must build FileIO from this, not from metadata
    * properties alone. */
  def ioProps: Map[String, String] = {
    val cred = storageCredentials
      .filter(c => metadata.location.startsWith(c.prefix))
      .sortBy(-_.prefix.length).headOption
    metadata.properties ++ config ++ cred.map(_.config).getOrElse(Map.empty)
  }

  /** True when any vended/config credential carries an `...expires-at-ms`
    * stamp at-or-before `nowMs` — the caller must re-load the table to get
    * fresh credentials before touching storage. */
  def credentialsExpired(nowMs: Long): Boolean =
    ioProps.exists { case (k, v) =>
      k.endsWith("expires-at-ms") && v.toLongOption.exists(_ <= nowMs)
    }
}

/** Commit requirements per the Iceberg REST spec's `updateTable` route —
  * the optimistic-concurrency guards the server re-checks atomically. */
sealed trait TableRequirement
final case class AssertTableUuid(uuid: String) extends TableRequirement
/** `snapshotId = None` asserts the ref does NOT exist yet. */
final case class AssertRefSnapshotId(ref: String, snapshotId: Option[Long])
  extends TableRequirement
/** The spec's `assert-current-schema-id` — schema evolution's
  * optimistic-concurrency guard: two racing ALTERs both based on schema N
  * cannot both land. */
final case class AssertCurrentSchemaId(schemaId: Int) extends TableRequirement

/** Commit updates per the REST spec. `AddSnapshot` + `SetSnapshotRef` are
  * the data-commit pair: append/CoW writers stage manifests, then move the
  * branch in one server-side transaction. */
sealed trait TableUpdate
final case class SetProperties(updates: Map[String, String]) extends TableUpdate
final case class RemoveProperties(removals: Seq[String]) extends TableUpdate
final case class AddSnapshot(snapshot: graft.core.Snapshot) extends TableUpdate
final case class SetSnapshotRef(refName: String, snapshotId: Long,
                                refType: String = "branch",
                                minSnapshotsToKeep: Option[Int] = None,
                                maxSnapshotAgeMs: Option[Long] = None,
                                maxRefAgeMs: Option[Long] = None)
  extends TableUpdate
/** The spec's `remove-snapshots` action — snapshot expiry lands through
  * the catalog (the server owns the metadata), never by rewriting
  * metadata files behind its back. */
final case class RemoveSnapshots(snapshotIds: Seq[Long]) extends TableUpdate
/** The spec's `remove-snapshot-ref` action — ref aging (`max-ref-age-ms`)
  * drops a branch/tag server-side in the same expiry commit. */
final case class RemoveSnapshotRef(refName: String) extends TableUpdate
/** The spec's `add-schema` action — SQL ALTER TABLE on a REST-cataloged
  * table commits the EVOLVED schema (computed client-side by the same
  * evolution functions the local plane runs) instead of writing metadata
  * behind the server. `lastColumnId` rides along so the server's id
  * high-water mark advances past every id the new schema allocated. */
final case class AddSchema(schema: graft.core.Schema,
                           lastColumnId: Option[Int] = None) extends TableUpdate
/** The spec's `set-current-schema` action; `schemaId = -1` means "the
  * schema added in this same update set" per the spec. */
final case class SetCurrentSchema(schemaId: Int) extends TableUpdate
/** The spec's `upgrade-format-version` action — the format flip of a
  * V2→V3 upgrade commits through the server. When the table carries live
  * positional parquet tombstones, the DV re-home snapshot rides the SAME
  * commit (`TableWriter.upgradeFormatVersion`), so a reader observes
  * either the V2 table with tombstones or the V3 table with DVs — never a
  * V3 table whose tombstone files readers silently ignore. */
final case class UpgradeFormatVersion(formatVersion: Int) extends TableUpdate
/** The spec's `set-statistics` action — `entryJson` is ONE StatisticsFile
  * node (snapshot-id, statistics-path, sizes, blob-metadata); the server
  * owns the array merge (replace same-snapshot entry, keep others). */
final case class SetStatistics(entryJson: String) extends TableUpdate
/** The spec's `set-partition-statistics` action (one
  * PartitionStatisticsFile node, same server-side merge rule). */
final case class SetPartitionStatistics(entryJson: String) extends TableUpdate
/** The spec's `add-spec` action — partition-spec evolution commits the
  * EVOLVED spec (computed client-side by the same evolution functions the
  * local plane runs); the server owns spec-id assignment on conflict and
  * advances `last-partition-id` past every field id the spec allocated. */
final case class AddPartitionSpec(spec: graft.core.PartitionSpec)
  extends TableUpdate
/** The spec's `set-default-spec` action; `specId = -1` means "the spec
  * added in this same update set" per the spec. */
final case class SetDefaultSpec(specId: Int) extends TableUpdate
/** The spec's `add-sort-order` action — a sorted rewrite registers the
  * order it wrote under, so readers can claim per-file ordering
  * (SupportsReportOrdering) over REST-cataloged tables too. */
final case class AddSortOrder(order: graft.core.SortOrder) extends TableUpdate
/** The spec's `set-default-sort-order` action; `orderId = -1` means "the
  * order added in this same update set". */
final case class SetDefaultSortOrder(orderId: Int) extends TableUpdate

/** One table's change set inside a multi-table transaction
  * ([[RestCatalog.commitTransaction]]). */
final case class TableChange(identifier: Seq[String],
                             requirements: Seq[TableRequirement],
                             updates: Seq[TableUpdate])

final case class PropertiesUpdateSummary(removed: Seq[String], updated: Seq[String],
                                         missing: Seq[String])

trait Catalog {
  def name: String
  def listNamespaces(parent: Seq[String] = Nil): Seq[Seq[String]]
  def createNamespace(ns: Seq[String], props: Map[String, String] = Map.empty): Unit
  def dropNamespace(ns: Seq[String]): Unit
  def namespaceProperties(ns: Seq[String]): Map[String, String]
  def updateNamespaceProperties(ns: Seq[String], removals: Seq[String],
                                updates: Map[String, String]): PropertiesUpdateSummary
  def listTables(ns: Seq[String]): Seq[Seq[String]]
  def loadTable(identifier: Seq[String]): LoadedTable
  def dropTable(identifier: Seq[String]): Unit
  def renameTable(from: Seq[String], to: Seq[String]): Unit
  /** Adopt an EXISTING table's metadata file under a new identifier —
    * nothing is rewritten (the REST spec's register verb). */
  def registerTable(identifier: Seq[String], metadataLocation: String): LoadedTable
}

object Catalog {
  /** `LoadCatalog` scheme dispatch (catalog.go:49-62, 99-125): http(s) →
    * REST; anything else is unsupported in this build. */
  def load(name: String, uri: String, props: Map[String, String] = Map.empty): Catalog = {
    val scheme = URI.create(uri).getScheme
    scheme match {
      case "http" | "https" => new RestCatalog(name, uri, props)
      case other => throw new IllegalArgumentException(
        s"unsupported catalog type for scheme '$other'")
    }
  }
}

object RestCatalog {
  /** Namespace levels join with the unit separator in REST paths (rest.go:40). */
  val NamespaceSeparator = "\u001f"
  val KeyCredential = "credential"
  val KeyToken = "token"
  val KeyWarehouse = "warehouse"
  val KeyPrefix = "prefix"
}

final class RestCatalog(val name: String, uri: String,
                        initialProps: Map[String, String]) extends Catalog {
  import RestCatalog._

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()
  private var baseUri: URI = normalize(uri)
  private var props: Map[String, String] = initialProps

  /** The spec's advertised-endpoints capability list (empty when the
    * server's `/config` omits it). Declared BEFORE the construction-time
    * `locally` block below: `fetchConfig()` assigns it, and a later-in-
    * source initializer would re-run and clobber the fetched value. */
  @volatile var endpoints: Set[String] = Set.empty

  // session establishment: token then config (rest.go:179-199)
  private var token: Option[String] = props.get(KeyToken)
  locally {
    if (token.isEmpty) props.get(KeyCredential).foreach { cred =>
      token = Some(fetchAccessToken(cred))
    }
    fetchConfig()
  }

  private def normalize(u: String): URI = {
    val s = if (u.endsWith("/")) u.dropRight(1) else u
    URI.create(if (s.endsWith("/v1")) s else s + "/v1")
  }

  private def prefixedPath(segments: String*): String = {
    val prefix = props.get(KeyPrefix).filter(_.nonEmpty).map(p => s"/$p").getOrElse("")
    baseUri.toString + prefix + segments.map(s =>
      "/" + URLEncoder.encode(s, StandardCharsets.UTF_8).replace("+", "%20")).mkString
  }

  /** OAuth2 client-credentials flow (rest.go:201-242): `credential` is
    * `clientId:secret` (or just a secret). */
  private def fetchAccessToken(creds: String): String = {
    val (id, secret) = creds.split(":", 2) match {
      case Array(i, s) => (i, s)
      case Array(s) => ("", s)
    }
    def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    val form = s"grant_type=client_credentials&client_id=${enc(id)}" +
      s"&client_secret=${enc(secret)}&scope=catalog"
    val req = HttpRequest.newBuilder(URI.create(baseUri.toString + "/oauth/tokens"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build()
    val rsp = client.send(req, HttpResponse.BodyHandlers.ofString())
    rsp.statusCode() match {
      case 200 =>
        mapper.readTree(rsp.body()).get("access_token").asText()
      case 400 | 401 =>
        val n = mapper.readTree(rsp.body())
        throw new OAuthError(
          Option(n.get("error")).map(_.asText()).getOrElse("unknown"),
          Option(n.get("error_description")).map(_.asText()).getOrElse(""))
      case _ => throw statusError(rsp.statusCode(), rsp.body())
    }
  }

  /** `/v1/config` merge: defaults ← our props ← overrides (rest.go:272-309). */
  private def fetchConfig(): Unit = {
    val q = props.get(KeyWarehouse)
      .map(w => "?warehouse=" + URLEncoder.encode(w, StandardCharsets.UTF_8))
      .getOrElse("")
    val rsp = get(baseUri.toString + "/config" + q)
    val cfg = mapper.readTree(rsp)
    def toMap(key: String): Map[String, String] =
      Option(cfg.get(key)).map { o =>
        o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)
    props = toMap("defaults") ++ props ++ toMap("overrides")
    props.get("uri").foreach(u => baseUri = normalize(u))
    // capability discovery: servers advertise their supported routes; a
    // client must not call an endpoint the server never declared
    endpoints = Option(cfg.get("endpoints")).map { a =>
      val b = Set.newBuilder[String]
      a.forEach(e => b += e.asText())
      b.result()
    }.getOrElse(Set.empty)
  }

  /** True when the server advertises the scan-planning plane. */
  def supportsScanPlanning: Boolean =
    endpoints.contains(
      "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan")

  /** True when the server advertises the dedicated credentials route —
    * vended-credential refresh without a full table load. */
  def supportsCredentialsEndpoint: Boolean =
    endpoints.contains(
      "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/credentials")

  /** True when the server accepts engine metrics reports. */
  def supportsMetricsEndpoint: Boolean =
    endpoints.contains(
      "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics")

  // --------------------------------------------------------- http plumbing

  private def request(method: String, url: String, body: Option[String] = None,
                      extraHeaders: Map[String, String] = Map.empty,
                      retriedAuth: Boolean = false): String = {
    var b = HttpRequest.newBuilder(URI.create(url))
      .header("X-Client-Version", "0.14.1")
      .header("User-Agent", "graft/0.1.0")
    extraHeaders.foreach { case (k, v) => b = b.header(k, v) }
    token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
    b = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
      case "HEAD" => b.method("HEAD", HttpRequest.BodyPublishers.noBody())
    }
    val rsp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    // a long-lived session outlives its bearer token: on 401/419, mint a
    // fresh one from the stored client credentials and retry ONCE — only
    // for this idempotent-to-retry case (the request never reached its
    // handler), never in a loop
    if ((rsp.statusCode() == 401 || rsp.statusCode() == 419) &&
        !retriedAuth && props.contains(KeyCredential)) {
      token = Some(fetchAccessToken(props(KeyCredential)))
      return request(method, url, body, extraHeaders, retriedAuth = true)
    }
    if (rsp.statusCode() / 100 != 2) throw statusError(rsp.statusCode(), rsp.body())
    rsp.body()
  }

  private def get(url: String): String = request("GET", url)

  /** Error taxonomy per HTTP status (rest.go:320-359). */
  private def statusError(code: Int, body: String): CatalogError = {
    val msg = try {
      val n = mapper.readTree(body)
      Option(n.get("error")).flatMap(e => Option(e.get("message")).map(_.asText()))
        .getOrElse(body)
    } catch { case _: Exception => body }
    code match {
      case 400 => new BadRequestError(msg)
      case 401 => new UnauthorizedError(msg)
      case 403 => new ForbiddenError(msg)
      case 404 => new NoSuchTableError(msg)
      case 409 => new AlreadyExistsError(msg)
      case 419 => new AuthExpiredError(msg)
      case 503 => new ServiceUnavailableError(msg)
      case c if c >= 500 => new ServerError(msg)
      case c => new RestError(c, msg)
    }
  }

  // ------------------------------------------------------------ operations

  /** Follow the spec's opaque `next-page-token` until the server stops
    * returning one — a large catalog pages its listings, and a client
    * that reads only the first page silently truncates. An empty or
    * repeating token also terminates (defensive against bad servers). */
  private def paged(base: String, hasQuery: Boolean)
                   (collect: com.fasterxml.jackson.databind.JsonNode => Unit): Unit = {
    val sep = if (hasQuery) "&" else "?"
    var url = base
    var seen = Set.empty[String]
    var continue = true
    while (continue) {
      val n = mapper.readTree(get(url))
      collect(n)
      Option(n.get("next-page-token")).map(_.asText()).filter(_.nonEmpty) match {
        case Some(tok) if !seen.contains(tok) =>
          seen += tok
          url = base + sep + "pageToken=" +
            URLEncoder.encode(tok, StandardCharsets.UTF_8)
        case _ => continue = false
      }
    }
  }

  def listNamespaces(parent: Seq[String] = Nil): Seq[Seq[String]] = {
    val q = if (parent.nonEmpty)
      "?parent=" + URLEncoder.encode(parent.mkString(NamespaceSeparator), StandardCharsets.UTF_8)
    else ""
    val out = Vector.newBuilder[Seq[String]]
    paged(prefixedPath("namespaces") + q, hasQuery = q.nonEmpty) { n =>
      Option(n.get("namespaces")).foreach(_.forEach { ns =>
        val segs = Vector.newBuilder[String]; ns.forEach(s => segs += s.asText())
        out += segs.result()
      })
    }
    out.result()
  }

  def createNamespace(ns: Seq[String], props: Map[String, String] = Map.empty): Unit = {
    val body = mapper.createObjectNode()
    val arr = body.putArray("namespace"); ns.foreach(arr.add)
    val p = body.putObject("properties")
    props.foreach { case (k, v) => p.put(k, v) }
    request("POST", prefixedPath("namespaces"), Some(mapper.writeValueAsString(body)))
  }

  def dropNamespace(ns: Seq[String]): Unit =
    request("DELETE", prefixedPath("namespaces", ns.mkString(NamespaceSeparator)))

  def namespaceProperties(ns: Seq[String]): Map[String, String] = {
    val n = mapper.readTree(get(prefixedPath("namespaces", ns.mkString(NamespaceSeparator))))
    Option(n.get("properties")).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
  }

  def updateNamespaceProperties(ns: Seq[String], removals: Seq[String],
                                updates: Map[String, String]): PropertiesUpdateSummary = {
    val body = mapper.createObjectNode()
    val rm = body.putArray("removals"); removals.foreach(rm.add)
    val up = body.putObject("updates"); updates.foreach { case (k, v) => up.put(k, v) }
    val rsp = mapper.readTree(request("POST",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "properties"),
      Some(mapper.writeValueAsString(body))))
    def arr(k: String): Seq[String] = {
      val b = Vector.newBuilder[String]
      Option(rsp.get(k)).foreach(_.forEach(v => b += v.asText()))
      b.result()
    }
    PropertiesUpdateSummary(arr("removed"), arr("updated"), arr("missing"))
  }

  /** Create a table on the REST catalog (`POST .../namespaces/{ns}/tables`
    * per the spec — absent from the reference entirely, whose catalog is
    * read-only). Returns the server's view of the created table. */
  def createTable(identifier: Seq[String], schema: graft.core.Schema,
                  props: Map[String, String] = Map.empty,
                  location: Option[String] = None,
                  spec: Option[graft.core.PartitionSpec] = None)
      : LoadedTable = {
    require(identifier.size >= 2, s"invalid table identifier: $identifier")
    val ns = identifier.dropRight(1)
    val body = mapper.createObjectNode()
    body.put("name", identifier.last)
    location.foreach(l => body.put("location", l))
    // schema JSON: the standard iceberg struct payload + schema-id
    val sw = new java.io.StringWriter()
    val gen = mapper.createGenerator(sw)
    graft.core.IcebergTypeJson.write(schema.struct, gen)
    gen.close()
    val schemaNode = mapper.readTree(sw.toString)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    schemaNode.put("schema-id", schema.schemaId)
    val idArr = schemaNode.putArray("identifier-field-ids")
    schema.identifierFieldIds.foreach(idArr.add)
    body.set("schema", schemaNode)
    // CreateTableRequest partition-spec (PARTITIONED BY in SQL DDL)
    spec.foreach { sp =>
      val sn = body.putObject("partition-spec")
      sn.put("spec-id", sp.specId)
      val fs = sn.putArray("fields")
      sp.fields.foreach { f =>
        val fn = fs.addObject()
        fn.put("source-id", f.sourceId)
        fn.put("field-id", f.fieldId)
        fn.put("name", f.name)
        fn.put("transform", f.transform.repr)
      }
    }
    val p = body.putObject("properties")
    props.foreach { case (k, v) => p.put(k, v) }
    val rsp = request("POST",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "tables"),
      Some(mapper.writeValueAsString(body)))
    val n = mapper.readTree(rsp)
    LoadedTable(identifier,
      Option(n.get("metadata-location")).map(_.asText()).getOrElse(""),
      TableMetadata.parseNode(n.get("metadata")), Map.empty)
  }

  /** Commit property changes — sugar over [[commitTable]]. */
  def commitTableProperties(identifier: Seq[String], tableUuid: String,
                            set: Map[String, String],
                            remove: Seq[String]): LoadedTable =
    commitTable(identifier, Seq(AssertTableUuid(tableUuid)),
      (if (set.nonEmpty) Seq(SetProperties(set)) else Nil) ++
        (if (remove.nonEmpty) Seq(RemoveProperties(remove)) else Nil))

  /** General table commit via the REST `updateTable` route
    * (`POST .../tables/{table}` — the reference stubs this with "Writing
    * is WIP", rest.go:418-424; here it carries data commits too:
    * add-snapshot + set-snapshot-ref move a branch to freshly-staged
    * manifests in one server-side transaction). Guards run server-side
    * atomically; a 409 (requirement failed / concurrent commit) surfaces
    * as [[CommitConflictError]] so writers can re-plan and retry. Returns
    * the server's post-commit table. */
  def commitTable(identifier: Seq[String], requirements: Seq[TableRequirement],
                  updates: Seq[TableUpdate]): LoadedTable = {
    require(identifier.size >= 2, s"invalid table identifier: $identifier")
    val ns = identifier.dropRight(1)
    val body = commitBody(identifier, requirements, updates)
    val rsp =
      try request("POST", prefixedPath("namespaces", ns.mkString(NamespaceSeparator),
        "tables", identifier.last), Some(mapper.writeValueAsString(body)))
      catch {
        case e: AlreadyExistsError => throw new CommitConflictError(e.getMessage)
      }
    val n = mapper.readTree(rsp)
    LoadedTable(identifier,
      Option(n.get("metadata-location")).map(_.asText()).getOrElse(""),
      TableMetadata.parseNode(n.get("metadata")), Map.empty)
  }

  /** Atomic multi-table commit — the REST spec's
    * `POST /v1/{prefix}/transactions/commit` (CommitTransactionRequest):
    * every table's requirements are validated and every table's updates
    * applied in ONE server-side transaction; any failed requirement rolls
    * back ALL tables (409 → [[CommitConflictError]]). The consistency
    * surface a maintained-model pipeline needs to move a source table and
    * its derived index in lockstep. (The reference panics on every
    * commit, rest.go:418-424.) */
  def commitTransaction(changes: Seq[TableChange]): Unit = {
    require(changes.nonEmpty, "empty transaction")
    changes.foreach(c => require(c.identifier.size >= 2,
      s"invalid table identifier: ${c.identifier}"))
    val body = mapper.createObjectNode()
    val arr = body.putArray("table-changes")
    changes.foreach { c =>
      arr.add(commitBody(c.identifier, c.requirements, c.updates))
    }
    try request("POST", prefixedPath("transactions", "commit"),
      Some(mapper.writeValueAsString(body)))
    catch {
      case e: AlreadyExistsError => throw new CommitConflictError(e.getMessage)
    }
    ()
  }

  /** Existence probe (the spec's `HEAD .../tables/{table}`) — one
    * status-only round trip, no metadata transfer: the check engines run
    * before deciding to CREATE (e.g. Spark's `writeStream.toTable` /
    * `saveAsTable` create-if-absent paths). */
  def tableExists(identifier: Seq[String]): Boolean = {
    require(identifier.size >= 2, s"invalid table identifier: $identifier")
    val ns = identifier.dropRight(1)
    try {
      request("HEAD", prefixedPath("namespaces",
        ns.mkString(NamespaceSeparator), "tables", identifier.last))
      true
    } catch {
      case _: NoSuchTableError | _: NoSuchNamespaceError => false
    }
  }

  def listTables(ns: Seq[String]): Seq[Seq[String]] = {
    val out = Vector.newBuilder[Seq[String]]
    paged(prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "tables"),
        hasQuery = false) { n =>
      Option(n.get("identifiers")).foreach(_.forEach { id =>
        val segs = Vector.newBuilder[String]
        Option(id.get("namespace")).foreach(_.forEach(s => segs += s.asText()))
        segs += id.get("name").asText()
        out += segs.result()
      })
    }
    out.result()
  }

  /** GET table JSON → parsed metadata (rest.go:388-416). */
  def loadTable(identifier: Seq[String]): LoadedTable = {
    require(identifier.size >= 2, s"invalid table identifier: $identifier")
    val ns = identifier.dropRight(1)
    val tbl = identifier.last
    // ask the server for access delegation, BOTH spec flavors in
    // preference order: scoped per-table storage credentials, else
    // catalog-side request signing (a server without either capability
    // simply omits storage-credentials / signing config)
    val n = mapper.readTree(request("GET",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "tables", tbl),
      extraHeaders = Map("X-Iceberg-Access-Delegation" ->
        "vended-credentials,remote-signing")))
    val md = TableMetadata.parseNode(n.get("metadata"))
    def toMap(o: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    val cfg = Option(n.get("config")).map(toMap).getOrElse(Map.empty)
    val creds = Option(n.get("storage-credentials")).map { arr =>
      val b = Vector.newBuilder[StorageCredential]
      arr.forEach(c => b += StorageCredential(
        Option(c.get("prefix")).map(_.asText()).getOrElse(""),
        Option(c.get("config")).map(toMap).getOrElse(Map.empty)))
      b.result()
    }.getOrElse(Vector.empty)
    // remote signing chosen (signing config, no vended keys): inject the
    // session's auth so data IO — including EXECUTOR-side IO rebuilt from
    // these string props — can call the signer, and re-mint on expiry.
    // `s3.signer.uri` defaults to this catalog when the server enables
    // signing without naming a separate signer service.
    val cfg2 =
      if (!cfg.get(SignedHttpIO.RemoteSigningEnabled)
            .exists(_.equalsIgnoreCase("true")) || creds.nonEmpty) cfg
      else {
        val withUri =
          if (cfg.contains(SignedHttpIO.SignerUri)) cfg
          else cfg + (SignedHttpIO.SignerUri ->
            baseUri.toString.stripSuffix("/v1"))
        withUri ++
          token.map(SignedHttpIO.SignerToken -> _) ++
          props.get(KeyCredential).map(SignedHttpIO.SignerCredential -> _)
      }
    LoadedTable(identifier,
      Option(n.get("metadata-location")).map(_.asText()).getOrElse(""), md, cfg2,
      creds)
  }

  /** `cached` if its vended credentials are still live, otherwise a fresh
    * load — the refresh-on-expiry hook for long-lived table handles. */
  def loadTableFresh(identifier: Seq[String], cached: Option[LoadedTable],
                     nowMs: Long = System.currentTimeMillis()): LoadedTable =
    cached.filter(_.identifier == identifier) match {
      case Some(c) if !c.credentialsExpired(nowMs) => c
      case Some(c) if supportsCredentialsEndpoint =>
        // expired vended credentials, unchanged metadata: the spec's
        // dedicated credentials route re-mints WITHOUT re-reading the whole
        // metadata tree — at 10⁵ snapshots a full reload for a token
        // refresh is real latency. Falls back to a full load if the fresh
        // credentials are somehow still expired (defensive).
        val refreshed = c.copy(storageCredentials = loadCredentials(identifier))
        if (!refreshed.credentialsExpired(nowMs)) refreshed
        else loadTable(identifier)
      case _ => loadTable(identifier)
    }

  /** The spec's `GET .../tables/{table}/credentials` route: fresh storage
    * credentials for a table whose metadata the client already holds. */
  def loadCredentials(identifier: Seq[String]): Seq[StorageCredential] = {
    val ns = identifier.dropRight(1)
    val n = mapper.readTree(get(prefixedPath("namespaces",
      ns.mkString(NamespaceSeparator), "tables", identifier.last,
      "credentials")))
    def toMap(o: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    Option(n.get("storage-credentials")).map { arr =>
      val b = Vector.newBuilder[StorageCredential]
      arr.forEach(c => b += StorageCredential(
        Option(c.get("prefix")).map(_.asText()).getOrElse(""),
        Option(c.get("config")).map(toMap).getOrElse(Map.empty)))
      b.result()
    }.getOrElse(Vector.empty)
  }

  /** The spec's `POST .../tables/{table}/metrics` route (ReportMetricsRequest,
    * report-type scan-report): engines report what each scan planned —
    * catalogs aggregate this into table-access telemetry and use it to
    * drive compaction/caching decisions. Fire-and-forget: a telemetry
    * failure must never fail a scan. */
  def reportScanMetrics(identifier: Seq[String],
                        snapshotId: Option[Long],
                        filter: graft.core.BooleanExpression,
                        schemaId: Int,
                        projectedFieldNames: Seq[String],
                        resultDataFiles: Long, resultDeleteFiles: Long,
                        planningDurationNs: Long): Unit =
    try {
      val ns = identifier.dropRight(1)
      val body = mapper.createObjectNode()
      body.put("report-type", "scan-report")
      body.put("table-name", identifier.mkString("."))
      snapshotId.foreach(id => body.put("snapshot-id", id))
      body.set[com.fasterxml.jackson.databind.JsonNode]("filter",
        RestScanPlanning.expressionToJson(filter, mapper).getOrElse {
          val t = mapper.createObjectNode(); t.put("type", "true"); t
        })
      body.put("schema-id", schemaId)
      if (projectedFieldNames.nonEmpty) {
        val arr = body.putArray("projected-field-names")
        projectedFieldNames.foreach(f => arr.add(f))
      }
      val metrics = body.putObject("metrics")
      def counter(name: String, v: Long): Unit = {
        val c = metrics.putObject(name)
        c.put("unit", "count"); c.put("value", v)
        ()
      }
      counter("result-data-files", resultDataFiles)
      counter("result-delete-files", resultDeleteFiles)
      val timer = metrics.putObject("total-planning-duration")
      timer.put("count", 1L)
      timer.put("time-unit", "nanoseconds")
      timer.put("total-duration", planningDurationNs)
      request("POST", prefixedPath("namespaces",
        ns.mkString(NamespaceSeparator), "tables", identifier.last, "metrics"),
        Some(mapper.writeValueAsString(body)))
      ()
    } catch { case _: Exception => }

  // ------------------------------------------------------- scan planning

  /** Server-side scan planning (the REST spec's `plan`/`tasks` routes):
    * submit the scan, follow the async handshake if the server chose it,
    * drain every opaque `plan-task`, and parse the spec `FileScanTask`
    * JSON back into the core model. Returns None — caller plans locally —
    * when the capability is absent, the filter has no REST serialization,
    * or the server/parse fails (the client always holds the full metadata
    * tree, so local planning is the universally-correct fallback).
    *
    * `metadata` must be the SAME metadata the scan was opened against: it
    * resolves partition types by spec-id and bound types by field id when
    * decoding the response. `snapshotId` pins the scan server-side — the
    * caller resolves refs / as-of timestamps to an id first so client and
    * server cannot disagree on ref resolution. */
  def planTableScan(identifier: Seq[String], metadata: TableMetadata,
                    snapshotId: Option[Long], useSnapshotSchema: Boolean,
                    filter: graft.core.BooleanExpression,
                    select: Seq[String] = Nil,
                    caseSensitive: Boolean = true,
                    // incremental form: files appended in (start, end] —
                    // mutually exclusive with snapshotId per the spec
                    startSnapshotId: Option[Long] = None,
                    endSnapshotId: Option[Long] = None)
      : Option[Seq[graft.core.FileScanTask]] = {
    if (!supportsScanPlanning) return None
    val filterNode = RestScanPlanning.expressionToJson(filter, mapper) match {
      case Some(n) => n
      case None => RestScanPlanning.localFallbacks.incrementAndGet(); return None
    }
    val ns = identifier.dropRight(1).mkString(NamespaceSeparator)
    val tbl = identifier.last
    val schema =
      (if (useSnapshotSchema)
        snapshotId.flatMap(metadata.snapshotById).flatMap(_.schemaId)
          .flatMap(metadata.schemaById)
      else None).getOrElse(metadata.currentSchema)
    try {
      val body = mapper.createObjectNode()
      if (startSnapshotId.isEmpty)
        snapshotId.foreach(id => body.put("snapshot-id", id))
      startSnapshotId.foreach(id => body.put("start-snapshot-id", id))
      endSnapshotId.foreach(id => body.put("end-snapshot-id", id))
      body.put("use-snapshot-schema", useSnapshotSchema)
      body.put("case-sensitive", caseSensitive)
      body.set[com.fasterxml.jackson.databind.JsonNode]("filter", filterNode)
      if (select.nonEmpty) {
        val arr = body.putArray("select")
        select.foreach(s => arr.add(s))
      }
      var result = mapper.readTree(request("POST",
        prefixedPath("namespaces", ns, "tables", tbl, "plan"),
        Some(mapper.writeValueAsString(body))))
      // async handshake: "submitted" + plan-id → poll GET plan/{id}
      // (bounded; a stuck plan falls back to local planning, and the
      // abandoned plan is cancelled so the server can reclaim it)
      var planId = Option(result.get("plan-id")).filter(!_.isNull).map(_.asText())
      var polls = 0
      while (result.get("plan-status").asText() == "submitted" && polls < 50) {
        Thread.sleep(50L * math.min(polls + 1, 4))
        polls += 1
        result = mapper.readTree(get(
          prefixedPath("namespaces", ns, "tables", tbl, "plan", planId.get)))
      }
      result.get("plan-status").asText() match {
        case "completed" =>
        case "submitted" =>
          planId.foreach(id => try request("DELETE",
            prefixedPath("namespaces", ns, "tables", tbl, "plan", id))
          catch { case _: Exception => })
          RestScanPlanning.localFallbacks.incrementAndGet()
          return None
        case _ => // failed / cancelled
          RestScanPlanning.localFallbacks.incrementAndGet()
          return None
      }
      val out = Vector.newBuilder[graft.core.FileScanTask]
      def collect(node: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
        // delete-file-references index into THIS response's delete-files
        val dels = Option(node.get("delete-files")).filter(_.isArray).map { a =>
          (0 until a.size()).map(i =>
            RestScanPlanning.contentFileFromJson(a.get(i), metadata, schema))
            .toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
        Option(node.get("file-scan-tasks")).filter(_.isArray).foreach { a =>
          (0 until a.size()).foreach(i => out +=
            RestScanPlanning.fileScanTaskFromJson(a.get(i), dels, metadata, schema))
        }
        Option(node.get("plan-tasks")).filter(_.isArray).map { a =>
          (0 until a.size()).map(i => a.get(i).asText()).toSeq
        }.getOrElse(Nil)
      }
      // drain the opaque plan-task queue (a task fetch may return more)
      var queue = collect(result)
      var fetches = 0
      while (queue.nonEmpty) {
        fetches += 1
        require(fetches <= 10000, "plan-task fetch runaway")
        val taskBody = mapper.createObjectNode()
        taskBody.put("plan-task", queue.head)
        queue = queue.tail ++ collect(mapper.readTree(request("POST",
          prefixedPath("namespaces", ns, "tables", tbl, "tasks"),
          Some(mapper.writeValueAsString(taskBody)))))
      }
      RestScanPlanning.remotePlans.incrementAndGet()
      Some(out.result())
    } catch {
      case _: Exception =>
        RestScanPlanning.localFallbacks.incrementAndGet()
        None
    }
  }

  def dropTable(identifier: Seq[String]): Unit = {
    val ns = identifier.dropRight(1)
    request("DELETE", prefixedPath("namespaces", ns.mkString(NamespaceSeparator),
      "tables", identifier.last))
  }

  /** Register an EXISTING table's current metadata.json under a catalog
    * identifier — the spec's `POST /namespaces/{ns}/register` verb. The
    * metadata file is adopted as-is (the server reads it; nothing is
    * rewritten), which is how a table migrates between catalogs without
    * touching a single data or metadata file. */
  def registerTable(identifier: Seq[String],
                    metadataLocation: String): LoadedTable = {
    require(identifier.size >= 2, s"invalid table identifier: $identifier")
    val ns = identifier.dropRight(1)
    val body = mapper.createObjectNode()
    body.put("name", identifier.last)
    body.put("metadata-location", metadataLocation)
    val n = mapper.readTree(request("POST",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "register"),
      Some(mapper.writeValueAsString(body))))
    val cfg = Option(n.get("config")).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
    LoadedTable(identifier,
      Option(n.get("metadata-location")).map(_.asText())
        .getOrElse(metadataLocation),
      TableMetadata.parseNode(n.get("metadata")), cfg)
  }

  def renameTable(from: Seq[String], to: Seq[String]): Unit = {
    val body = mapper.createObjectNode()
    def ident(node: com.fasterxml.jackson.databind.node.ObjectNode,
              id: Seq[String]): Unit = {
      val arr = node.putArray("namespace"); id.dropRight(1).foreach(arr.add)
      node.put("name", id.last)
    }
    ident(body.putObject("source"), from)
    ident(body.putObject("destination"), to)
    request("POST", prefixedPath("tables", "rename"),
      Some(mapper.writeValueAsString(body)))
  }

  // ------------------------------------------------------------------ views
  // The Iceberg REST view plane (`/v1/{prefix}/namespaces/{ns}/views`):
  // list / create / load / update (UpdateViewRequest: requirements +
  // add-view-version / set-current-view-version / properties actions) /
  // drop / rename. View metadata crosses this client as raw JSON — the
  // Spark layer owns the typed model (graft.spark.ViewMetadata); the
  // catalog owns only the wire. The reference's catalog trait stops at
  // tables (table/catalog/catalog.go:99-125) — views are where a SHARED
  // catalog deployment actually lives, so this build goes past it.

  def listViews(ns: Seq[String]): Seq[Seq[String]] = {
    val out = Vector.newBuilder[Seq[String]]
    paged(prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "views"),
        hasQuery = false) { n =>
      Option(n.get("identifiers")).foreach(_.forEach { id =>
        val segs = Vector.newBuilder[String]
        Option(id.get("namespace")).foreach(_.forEach(s => segs += s.asText()))
        segs += id.get("name").asText()
        out += segs.result()
      })
    }
    out.result()
  }

  /** Load a view's metadata JSON; [[NoSuchViewError]] when absent. */
  def loadView(identifier: Seq[String]): String = {
    require(identifier.size >= 2, s"invalid view identifier: $identifier")
    val ns = identifier.dropRight(1)
    val n = mapper.readTree(request("GET",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "views",
        identifier.last)))
    mapper.writeValueAsString(n.get("metadata"))
  }

  def viewExists(identifier: Seq[String]): Boolean =
    try { loadView(identifier); true }
    catch { case _: NoSuchTableError => false } // 404 taxonomy is shared

  /** CreateViewRequest: name + location + the initial view-version node +
    * properties; the server assigns the uuid and version history. Returns
    * the created metadata JSON. */
  def createView(identifier: Seq[String], viewVersionJson: String,
                 location: String,
                 properties: Map[String, String] = Map.empty): String = {
    require(identifier.size >= 2, s"invalid view identifier: $identifier")
    val ns = identifier.dropRight(1)
    val body = mapper.createObjectNode()
    body.put("name", identifier.last)
    body.put("location", location)
    body.set[com.fasterxml.jackson.databind.JsonNode]("view-version",
      mapper.readTree(viewVersionJson))
    val props = body.putObject("properties")
    properties.foreach { case (k, v) => props.put(k, v) }
    val n = mapper.readTree(request("POST",
      prefixedPath("namespaces", ns.mkString(NamespaceSeparator), "views"),
      Some(mapper.writeValueAsString(body))))
    mapper.writeValueAsString(n.get("metadata"))
  }

  /** UpdateViewRequest: optional assert-view-uuid requirement, then
    * add-view-version (+ set-current-view-version -1 = "the one just
    * added") and/or property updates — CREATE OR REPLACE VIEW appends a
    * version and moves the pointer in ONE server-side commit, mirroring
    * table snapshot history. Returns the updated metadata JSON. */
  def commitView(identifier: Seq[String], viewUuid: Option[String],
                 addVersionJson: Option[String],
                 setProperties: Map[String, String] = Map.empty,
                 removeProperties: Seq[String] = Nil): String = {
    require(identifier.size >= 2, s"invalid view identifier: $identifier")
    val ns = identifier.dropRight(1)
    val body = mapper.createObjectNode()
    val reqs = body.putArray("requirements")
    viewUuid.foreach { u =>
      val r = reqs.addObject()
      r.put("type", "assert-view-uuid"); r.put("uuid", u)
    }
    val ups = body.putArray("updates")
    addVersionJson.foreach { vj =>
      val add = ups.addObject()
      add.put("action", "add-view-version")
      add.set[com.fasterxml.jackson.databind.JsonNode]("view-version",
        mapper.readTree(vj))
      val cur = ups.addObject()
      cur.put("action", "set-current-view-version")
      cur.put("view-version-id", -1)
    }
    if (setProperties.nonEmpty) {
      val u = ups.addObject()
      u.put("action", "set-properties")
      val m = u.putObject("updates")
      setProperties.foreach { case (k, v) => m.put(k, v) }
    }
    if (removeProperties.nonEmpty) {
      val u = ups.addObject()
      u.put("action", "remove-properties")
      val arr = u.putArray("removals"); removeProperties.foreach(arr.add)
    }
    val rsp =
      try request("POST", prefixedPath("namespaces",
        ns.mkString(NamespaceSeparator), "views", identifier.last),
        Some(mapper.writeValueAsString(body)))
      catch {
        case e: AlreadyExistsError => throw new CommitConflictError(e.getMessage)
      }
    mapper.writeValueAsString(mapper.readTree(rsp).get("metadata"))
  }

  def dropView(identifier: Seq[String]): Unit = {
    val ns = identifier.dropRight(1)
    request("DELETE", prefixedPath("namespaces",
      ns.mkString(NamespaceSeparator), "views", identifier.last))
  }

  def renameView(from: Seq[String], to: Seq[String]): Unit = {
    val body = mapper.createObjectNode()
    def ident(node: com.fasterxml.jackson.databind.node.ObjectNode,
              id: Seq[String]): Unit = {
      val arr = node.putArray("namespace"); id.dropRight(1).foreach(arr.add)
      node.put("name", id.last)
    }
    ident(body.putObject("source"), from)
    ident(body.putObject("destination"), to)
    request("POST", prefixedPath("views", "rename"),
      Some(mapper.writeValueAsString(body)))
  }
}
