package graft.catalog

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.catalog.MetadataUpdates.{applyUpdates, checkRequirements}

/** A minimal but STATEFUL Iceberg REST catalog for integration tests AND
  * the battery's transactional-sync fixture (t33 provisions against a live
  * server, which is why this lives on the main classpath): real sockets,
  * real OAuth2 client-credentials round-trip, real status codes, and
  * server-side commit requirement checks — the protocol plane the mocked
  * RestCatalogSpec cannot exercise. Table metadata is held and mutated as
  * raw JSON (jackson nodes), deliberately NOT via the client's graft.core
  * model, so the two sides only meet on the wire format. JDK-only
  * (com.sun.net.httpserver + jackson) — no extra dependencies. */
final class TestRestCatalogServer(clientId: String, secret: String) {
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  @volatile private var issuedToken: String = _

  // ns (joined with ) -> properties
  private val namespaces = mutable.LinkedHashMap[String, ObjectNode]()
  // (ns, table) -> metadata node
  private val tables = mutable.LinkedHashMap[(String, String), ObjectNode]()
  // (ns, view) -> view metadata node (REST view spec plane)
  private val views = mutable.LinkedHashMap[(String, String), ObjectNode]()
  // observability for specs: the last access-delegation header the client
  // sent on a table load, per-table load counts, and an overridable expiry
  // for the vended credential (None = one hour out)
  @volatile var lastAccessDelegation: Option[String] = None
  val loadCounts = mutable.LinkedHashMap[(String, String), Int]()
  @volatile var vendedExpiryMs: Option[Long] = None
  // remote-signing mode: the server vends NO storage credentials and
  // instead answers the spec's signer route; the storage route then only
  // serves requests carrying the signature this server minted
  @volatile var remoteSigningOnly: Boolean = false
  @volatile var signRequests: Int = 0
  private val signingSecret = java.util.UUID.randomUUID().toString

  // ---- scan-planning plane state (spec plan/tasks routes) ----
  /** Advertise + serve the scan-planning endpoints (off → clients must
    * fall back to local planning — the capability-gated path). */
  @volatile var scanPlanningEnabled: Boolean = true
  /** How plan requests answer: "inline" (completed with file-scan-tasks),
    * "async" (submitted + plan-id; completes after [[asyncPollsBeforeReady]]
    * status polls), "chunked" (completed with opaque plan-tasks the client
    * fetches via POST tasks). */
  @volatile var planMode: String = "inline"
  @volatile var asyncPollsBeforeReady: Int = 2
  @volatile var planTaskChunkSize: Int = 2
  @volatile var planRequests: Int = 0
  @volatile var planPolls: Int = 0
  @volatile var taskFetches: Int = 0
  /** plan-id → (status, remaining polls until ready, response chunks) —
    * each chunk is a self-contained {delete-files, file-scan-tasks} node
    * (delete-file-references are chunk-scoped per the spec). */
  private val plans = mutable.LinkedHashMap[String, (String, Int, IndexedSeq[ObjectNode])]()

  // ---- credentials + metrics routes (spec table endpoints) ----
  @volatile var credentialsEndpointEnabled: Boolean = true
  @volatile var metricsEndpointEnabled: Boolean = true
  @volatile var credentialRequests: Int = 0
  @volatile var metricsReports: Int = 0
  @volatile var lastMetricsReport: Option[String] = None

  /** HMAC the signer mints and the storage route verifies — a stand-in
    * with SigV4's shape (method+uri bound, secret held server-side). */
  private def signature(method: String, uri: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      signingSecret.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    val hex = mac.doFinal(s"$method\n$uri".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"GRAFT-HMAC-SHA256 $hex"
  }

  /** The signed-storage URL a test table should record for a local file. */
  def storageUrl(localPath: String): String =
    s"$uri/v1/storage?p=" + java.net.URLEncoder.encode(
      localPath, StandardCharsets.UTF_8)

  def port: Int = server.getAddress.getPort
  def uri: String = s"http://127.0.0.1:$port"

  private var started = false
  def start(): Unit = synchronized {
    if (!started) { server.createContext("/", handle _); server.start(); started = true }
  }
  def stop(): Unit = synchronized { if (started) server.stop(0) }

  private def respond(ex: HttpExchange, code: Int, body: String = ""): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, s"""{"error": {"message": ${mapper.writeValueAsString(msg)},
       "type": "err", "code": $code}}""")

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def authorized(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .contains(s"Bearer $issuedToken")

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val segs = path.stripPrefix("/v1/").split("/").toSeq
      .map(URLDecoder.decode(_, StandardCharsets.UTF_8))
    val method = ex.getRequestMethod
    (method, segs) match {
      case ("POST", Seq("oauth", "tokens")) =>
        val form = readBody(ex).split("&").map(_.split("=", 2))
          .map(kv => URLDecoder.decode(kv(0), StandardCharsets.UTF_8) ->
            URLDecoder.decode(kv.lift(1).getOrElse(""), StandardCharsets.UTF_8))
          .toMap
        if (form.get("grant_type").contains("client_credentials") &&
            form.get("client_id").contains(clientId) &&
            form.get("client_secret").contains(secret)) {
          issuedToken = java.util.UUID.randomUUID().toString
          respond(ex, 200,
            s"""{"access_token": "$issuedToken", "token_type": "bearer"}""")
        } else respond(ex, 401,
          """{"error": "invalid_client", "error_description": "bad credentials"}""")
      case ("GET", Seq("config")) =>
        // capability discovery: the scan-planning plane is advertised via
        // the spec's `endpoints` list; clients must not call unlisted routes
        val advertised =
          (if (scanPlanningEnabled) Seq(
            "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan",
            "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan/{plan-id}",
            "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan/{plan-id}",
            "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/tasks")
          else Nil) ++
          (if (credentialsEndpointEnabled) Seq(
            "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}/credentials")
          else Nil) ++
          (if (metricsEndpointEnabled) Seq(
            "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics")
          else Nil)
        val planEndpoints =
          if (advertised.isEmpty) ""
          else advertised.map(e => s""""$e"""")
            .mkString(""", "endpoints": [""", ", ", "]")
        respond(ex, 200,
          s"""{"defaults": {"srv-default": "d"}, "overrides": {"srv-override": "o"}$planEndpoints}""")
      // storage data plane: auth is the SIGNATURE, not the bearer token
      // (that's the point of remote signing — the client never holds a
      // storage credential)
      case ("GET", Seq("storage")) =>
        val fullUri = s"http://127.0.0.1:$port${ex.getRequestURI}"
        val expected = signature("GET", fullUri)
        if (!Option(ex.getRequestHeaders.getFirst("Authorization"))
            .contains(expected))
          err(ex, 403, "missing or invalid request signature")
        else {
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val p = q.split("&").map(_.split("=", 2))
            .collectFirst { case Array("p", v) =>
              URLDecoder.decode(v, StandardCharsets.UTF_8) }
          p.map(java.nio.file.Paths.get(_)) match {
            case Some(path) if java.nio.file.Files.isRegularFile(path) =>
              val bytes = java.nio.file.Files.readAllBytes(path)
              ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
              ex.sendResponseHeaders(200, bytes.length)
              ex.getResponseBody.write(bytes)
              ex.close()
            case _ => err(ex, 404, s"no such object: $p")
          }
        }
      case _ if !authorized(ex) =>
        err(ex, 401, "missing or invalid bearer token")
      // the spec's S3 signer route (s3-signer-open-api): bearer-authed;
      // returns the header set the client must attach to its storage call
      case ("POST", Seq("aws", "s3", "sign")) =>
        val b = mapper.readTree(readBody(ex))
        val method = b.get("method").asText()
        val uri0 = b.get("uri").asText()
        signRequests += 1
        val root = mapper.createObjectNode()
        root.put("uri", uri0)
        val hs = root.putObject("headers")
        hs.putArray("Authorization").add(signature(method, uri0))
        respond(ex, 200, mapper.writeValueAsString(root))
      case ("GET", Seq("namespaces")) =>
        // `?parent=` scopes the listing to DIRECT children (the spec's
        // nested-namespace rule); without it, roots only
        val parent = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").map(_.split("=", 2))
          .collectFirst { case Array("parent", v) =>
            URLDecoder.decode(v, StandardCharsets.UTF_8) }
        val root = mapper.createObjectNode()
        val arr = root.putArray("namespaces")
        namespaces.keys.foreach { ns =>
          val segs = ns.split("").toSeq
          val emit = parent match {
            case Some(p) =>
              val ps = p.split("").toSeq
              segs.size == ps.size + 1 && segs.startsWith(ps)
            case None => segs.size == 1
          }
          if (emit) { val a = arr.addArray(); segs.foreach(a.add) }
        }
        respond(ex, 200, mapper.writeValueAsString(root))
      case ("POST", Seq("namespaces")) =>
        val b = mapper.readTree(readBody(ex))
        val parts = Vector.newBuilder[String]
        b.get("namespace").forEach(n => parts += n.asText())
        val key = parts.result().mkString("")
        if (namespaces.contains(key)) err(ex, 409, s"namespace $key exists")
        else {
          val props = mapper.createObjectNode()
          Option(b.get("properties")).foreach(p =>
            p.properties().forEach(e => props.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue): Unit))
          namespaces(key) = props
          respond(ex, 200, "{}")
        }
      case ("GET", Seq("namespaces", ns)) =>
        namespaces.get(ns) match {
          case None => err(ex, 404, s"namespace $ns not found")
          case Some(props) =>
            val root = mapper.createObjectNode()
            val a = root.putArray("namespace"); ns.split("").foreach(a.add)
            root.set("properties", props)
            respond(ex, 200, mapper.writeValueAsString(root))
        }
      case ("DELETE", Seq("namespaces", ns)) =>
        if (tables.keys.exists(_._1 == ns)) err(ex, 409, "namespace not empty")
        else if (namespaces.remove(ns).isEmpty) err(ex, 404, "no such namespace")
        else respond(ex, 204)
      case ("POST", Seq("namespaces", ns, "properties")) =>
        namespaces.get(ns) match {
          case None => err(ex, 404, s"namespace $ns not found")
          case Some(props) =>
            val b = mapper.readTree(readBody(ex))
            val removed = mapper.createArrayNode()
            val missing = mapper.createArrayNode()
            Option(b.get("removals")).foreach(_.forEach { r =>
              if (props.has(r.asText())) { props.remove(r.asText()); removed.add(r.asText()) }
              else missing.add(r.asText())
            })
            val updated = mapper.createArrayNode()
            Option(b.get("updates")).foreach(_.properties().forEach { e =>
              props.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue); updated.add(e.getKey)
            })
            val root = mapper.createObjectNode()
            root.set("removed", removed); root.set("updated", updated)
            root.set("missing", missing)
            respond(ex, 200, mapper.writeValueAsString(root))
        }
      case ("GET", Seq("namespaces", ns, "tables")) =>
        if (!namespaces.contains(ns)) err(ex, 404, s"namespace $ns not found")
        else {
          val root = mapper.createObjectNode()
          val arr = root.putArray("identifiers")
          tables.keys.filter(_._1 == ns).foreach { case (n, t) =>
            val id = arr.addObject()
            val a = id.putArray("namespace"); n.split("").foreach(a.add)
            id.put("name", t)
          }
          respond(ex, 200, mapper.writeValueAsString(root))
        }
      case ("POST", Seq("namespaces", ns, "tables")) =>
        if (!namespaces.contains(ns)) err(ex, 404, s"namespace $ns not found")
        else {
          val b = mapper.readTree(readBody(ex))
          val tname = b.get("name").asText()
          if (tables.contains((ns, tname))) err(ex, 409, s"table $tname exists")
          else {
            val md = newMetadata(b, ns, tname)
            tables((ns, tname)) = md
            respond(ex, 200, tableResponse(ns, tname, md))
          }
        }
      case ("POST", Seq("namespaces", ns, "register")) =>
        if (!namespaces.contains(ns)) err(ex, 404, s"namespace $ns not found")
        else {
          val b = mapper.readTree(readBody(ex))
          val tname = b.get("name").asText()
          val loc = b.get("metadata-location").asText()
          if (tables.contains((ns, tname))) err(ex, 409, s"table $tname exists")
          else {
            // the spec's register verb: the server READS the existing
            // metadata file and adopts it verbatim — nothing is rewritten
            val raw = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(
                loc.stripPrefix("file://").stripPrefix("file:"))),
              StandardCharsets.UTF_8)
            val md = mapper.readTree(raw).asInstanceOf[ObjectNode]
            tables((ns, tname)) = md
            respond(ex, 200, tableResponse(ns, tname, md))
          }
        }
      // the spec's existence probe: HEAD /namespaces/{ns}/tables/{t} —
      // status only, no body
      case ("HEAD", Seq("namespaces", ns, "tables", t)) =>
        ex.sendResponseHeaders(if (tables.contains((ns, t))) 204 else 404, -1)
        ex.close()
      case ("GET", Seq("namespaces", ns, "tables", t)) =>
        tables.get((ns, t)) match {
          case None => err(ex, 404, s"table $ns.$t not found")
          case Some(md) =>
            val delegation =
              Option(ex.getRequestHeaders.getFirst("X-Iceberg-Access-Delegation"))
            lastAccessDelegation = delegation
            loadCounts((ns, t)) = loadCounts.getOrElse((ns, t), 0) + 1
            // the header is a comma-separated preference list; the server
            // picks the flavor it supports
            val asked = delegation.toSeq
              .flatMap(_.split(",")).map(_.trim).toSet
            respond(ex, 200, tableResponse(ns, t, md,
              vend = asked.contains("vended-credentials") && !remoteSigningOnly,
              remoteSign = asked.contains("remote-signing") && remoteSigningOnly))
        }
      case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
        if (tables.remove((ns, t)).isEmpty) err(ex, 404, s"table $ns.$t not found")
        else respond(ex, 204)
      case ("POST", Seq("namespaces", ns, "tables", t)) =>
        tables.get((ns, t)) match {
          case None => err(ex, 404, s"table $ns.$t not found")
          case Some(md) => commit(ex, ns, t, md)
        }
      case ("POST", Seq("transactions", "commit")) =>
        // CommitTransactionRequest: N CommitTableRequests, atomic — ALL
        // requirements validated against pre-transaction state before ANY
        // update applies; one failure rolls back the whole transaction
        // (nothing was mutated yet).
        val b = mapper.readTree(readBody(ex))
        val changes = Vector.newBuilder[(ObjectNode,
          com.fasterxml.jackson.databind.JsonNode)]
        var failure: Option[String] = None
        Option(b.get("table-changes")).foreach(_.forEach { c =>
          val identNode = c.get("identifier")
          val parts = Vector.newBuilder[String]
          identNode.get("namespace").forEach(n => parts += n.asText())
          val key = (parts.result().mkString(""),
            identNode.get("name").asText())
          tables.get(key) match {
            case None => failure = failure.orElse(
              Some(s"table ${key._1}.${key._2} not found"))
            case Some(md) =>
              failure = failure.orElse(checkRequirements(c, md))
              changes += ((md, c))
          }
        })
        failure match {
          case Some(msg) => err(ex, 409, msg)
          case None =>
            if (changes.result().isEmpty) err(ex, 400, "empty transaction")
            else {
              changes.result().foreach { case (md, c) => applyUpdates(c, md) }
              respond(ex, 204)
            }
        }
      // dedicated credentials route: fresh vended credentials WITHOUT a
      // metadata reload (the refresh path for long-lived table handles)
      case ("GET", Seq("namespaces", ns, "tables", t, "credentials")) =>
        if (!credentialsEndpointEnabled)
          err(ex, 404, "credentials endpoint not supported")
        else tables.get((ns, t)) match {
          case None => err(ex, 404, s"table $ns.$t not found")
          case Some(md) =>
            credentialRequests += 1
            val root = mapper.createObjectNode()
            val arr = root.putArray("storage-credentials")
            val own = arr.addObject()
            own.put("prefix", md.get("location").asText())
            val oc = own.putObject("config")
            oc.put("s3.access-key-id", s"vended-key-$ns-$t")
            oc.put("s3.secret-access-key", s"vended-secret-$ns-$t")
            oc.put("s3.session-token-expires-at-ms",
              vendedExpiryMs.getOrElse(System.currentTimeMillis() + 3600000L))
            respond(ex, 200, mapper.writeValueAsString(root))
        }
      // engine metrics reports (scan telemetry): accepted and recorded
      case ("POST", Seq("namespaces", ns, "tables", t, "metrics")) =>
        if (!metricsEndpointEnabled)
          err(ex, 404, "metrics endpoint not supported")
        else tables.get((ns, t)) match {
          case None => err(ex, 404, s"table $ns.$t not found")
          case Some(_) =>
            metricsReports += 1
            lastMetricsReport = Some(readBody(ex))
            respond(ex, 204)
        }
      // ---- scan-planning plane (spec plan/tasks routes) ----
      case ("POST", Seq("namespaces", ns, "tables", t, "plan")) =>
        if (!scanPlanningEnabled) err(ex, 404, "scan planning not supported")
        else tables.get((ns, t)) match {
          case None => err(ex, 404, s"table $ns.$t not found")
          case Some(md) =>
            planRequests += 1
            planScan(md, mapper.readTree(readBody(ex))) match {
              case Left(msg) =>
                val root = mapper.createObjectNode()
                root.put("plan-status", "failed")
                val e = root.putObject("error")
                e.put("message", msg); e.put("type", "err"); e.put("code", 400)
                respond(ex, 200, mapper.writeValueAsString(root))
              case Right(chunks) =>
                val id = java.util.UUID.randomUUID().toString
                planMode match {
                  case "async" =>
                    plans(id) = ("submitted", asyncPollsBeforeReady, chunks)
                    val root = mapper.createObjectNode()
                    root.put("plan-status", "submitted")
                    root.put("plan-id", id)
                    respond(ex, 200, mapper.writeValueAsString(root))
                  case "chunked" =>
                    plans(id) = ("completed", 0, chunks)
                    val root = mapper.createObjectNode()
                    root.put("plan-status", "completed")
                    val pts = root.putArray("plan-tasks")
                    chunks.indices.foreach(i => pts.add(s"$id#$i"))
                    respond(ex, 200, mapper.writeValueAsString(root))
                  case _ => // inline: one completed response, tasks in-line
                    respond(ex, 200,
                      mapper.writeValueAsString(completedNode(chunks)))
                }
            }
        }
      case ("GET", Seq("namespaces", ns, "tables", t, "plan", id)) =>
        plans.get(id) match {
          case None => err(ex, 404, s"no such plan: $id")
          case Some(("cancelled", _, _)) =>
            respond(ex, 200, """{"plan-status": "cancelled"}""")
          case Some(("submitted", left, chunks)) =>
            planPolls += 1
            if (left > 1) {
              plans(id) = ("submitted", left - 1, chunks)
              respond(ex, 200,
                s"""{"plan-status": "submitted", "plan-id": "$id"}""")
            } else {
              plans(id) = ("completed", 0, chunks)
              respond(ex, 200, mapper.writeValueAsString(completedNode(chunks)))
            }
          case Some((_, _, chunks)) =>
            planPolls += 1
            respond(ex, 200, mapper.writeValueAsString(completedNode(chunks)))
        }
      case ("DELETE", Seq("namespaces", ns, "tables", t, "plan", id)) =>
        if (!plans.contains(id)) err(ex, 404, s"no such plan: $id")
        else {
          plans(id) = ("cancelled", 0, IndexedSeq.empty)
          respond(ex, 204)
        }
      case ("POST", Seq("namespaces", ns, "tables", t, "tasks")) =>
        val pt = mapper.readTree(readBody(ex)).get("plan-task").asText()
        pt.split("#", 2) match {
          case Array(id, idx) if plans.get(id).exists(_._3.indices
              .contains(idx.toIntOption.getOrElse(-1))) =>
            taskFetches += 1
            respond(ex, 200,
              mapper.writeValueAsString(plans(id)._3(idx.toInt)))
          case _ => err(ex, 404, s"no such plan-task: $pt")
        }
      case ("GET", Seq("namespaces", ns, "views")) =>
        if (!namespaces.contains(ns)) err(ex, 404, s"namespace $ns not found")
        else {
          val root = mapper.createObjectNode()
          val arr = root.putArray("identifiers")
          views.keys.filter(_._1 == ns).foreach { case (n, v) =>
            val id = arr.addObject()
            val a = id.putArray("namespace"); n.split('').foreach(a.add)
            id.put("name", v)
          }
          respond(ex, 200, mapper.writeValueAsString(root))
        }
      case ("POST", Seq("namespaces", ns, "views")) =>
        if (!namespaces.contains(ns)) err(ex, 404, s"namespace $ns not found")
        else {
          val b = mapper.readTree(readBody(ex))
          val vname = b.get("name").asText()
          if (views.contains((ns, vname))) err(ex, 409, s"view $vname exists")
          else {
            val md = mapper.createObjectNode()
            md.put("format-version", 1)
            md.put("view-uuid", java.util.UUID.randomUUID().toString)
            md.put("location", Option(b.get("location")).map(_.asText())
              .getOrElse(s"mem://warehouse/${ns.replace("", "/")}/$vname"))
            val v0 = b.get("view-version").deepCopy[ObjectNode]()
            md.put("current-version-id", v0.get("version-id").asInt())
            md.putArray("versions").add(v0)
            val props = md.putObject("properties")
            Option(b.get("properties")).foreach(_.properties().forEach(e =>
              props.set[com.fasterxml.jackson.databind.JsonNode](
                e.getKey, e.getValue): Unit))
            views((ns, vname)) = md
            respond(ex, 200, viewResponse(ns, vname, md))
          }
        }
      case ("GET", Seq("namespaces", ns, "views", v)) =>
        views.get((ns, v)) match {
          case None => err(ex, 404, s"view $ns.$v not found")
          case Some(md) => respond(ex, 200, viewResponse(ns, v, md))
        }
      case ("DELETE", Seq("namespaces", ns, "views", v)) =>
        if (views.remove((ns, v)).isEmpty) err(ex, 404, s"view $ns.$v not found")
        else respond(ex, 204)
      case ("POST", Seq("namespaces", ns, "views", v)) =>
        views.get((ns, v)) match {
          case None => err(ex, 404, s"view $ns.$v not found")
          case Some(md) =>
            val b = mapper.readTree(readBody(ex))
            // requirements first, all-or-nothing
            var failure: Option[String] = None
            Option(b.get("requirements")).foreach(_.forEach { r =>
              r.get("type").asText() match {
                case "assert-view-uuid" =>
                  if (r.get("uuid").asText() != md.get("view-uuid").asText())
                    failure = failure.orElse(Some("view uuid mismatch"))
                case other =>
                  failure = failure.orElse(Some(s"unknown requirement $other"))
              }
            })
            failure match {
              case Some(msg) => err(ex, 409, msg)
              case None =>
                var lastAdded = -1
                Option(b.get("updates")).foreach(_.forEach { u =>
                  u.get("action").asText() match {
                    case "add-view-version" =>
                      val vs = md.withArray[ArrayNode]("versions")
                      var maxId = 0
                      vs.forEach(x => maxId =
                        math.max(maxId, x.get("version-id").asInt()))
                      val nv = u.get("view-version").deepCopy[ObjectNode]()
                      // the server owns version-id assignment on conflict
                      if (nv.get("version-id").asInt() <= maxId)
                        nv.put("version-id", maxId + 1)
                      vs.add(nv)
                      lastAdded = nv.get("version-id").asInt()
                    case "set-current-view-version" =>
                      val id = u.get("view-version-id").asInt()
                      md.put("current-version-id",
                        if (id == -1) lastAdded else id)
                      ()
                    case "set-properties" =>
                      val props = md.`with`("properties")
                      u.get("updates").properties().forEach(e =>
                        props.set[com.fasterxml.jackson.databind.JsonNode](
                          e.getKey, e.getValue): Unit)
                    case "remove-properties" =>
                      val props = md.`with`("properties")
                      u.get("removals").forEach(r => props.remove(r.asText()): Unit)
                    case other =>
                      throw new IllegalArgumentException(s"unknown view update $other")
                  }
                })
                respond(ex, 200, viewResponse(ns, v, md))
            }
        }
      case ("POST", Seq("views", "rename")) =>
        val b = mapper.readTree(readBody(ex))
        def keyOf(k: String): (String, String) = {
          val node = b.get(k)
          val parts = Vector.newBuilder[String]
          node.get("namespace").forEach(n => parts += n.asText())
          (parts.result().mkString(""), node.get("name").asText())
        }
        val (from, to) = (keyOf("source"), keyOf("destination"))
        views.remove(from) match {
          case None => err(ex, 404, s"view $from not found")
          case Some(md) =>
            if (views.contains(to)) { views(from) = md; err(ex, 409, "exists") }
            else { views(to) = md; respond(ex, 204) }
        }
      case ("POST", Seq("tables", "rename")) =>
        val b = mapper.readTree(readBody(ex))
        def keyOf(k: String): (String, String) = {
          val node = b.get(k)
          val parts = Vector.newBuilder[String]
          node.get("namespace").forEach(n => parts += n.asText())
          (parts.result().mkString(""), node.get("name").asText())
        }
        val (from, to) = (keyOf("source"), keyOf("destination"))
        tables.remove(from) match {
          case None => err(ex, 404, s"table $from not found")
          case Some(md) =>
            if (tables.contains(to)) { tables(from) = md; err(ex, 409, "exists") }
            else { tables(to) = md; respond(ex, 204) }
        }
      case _ => err(ex, 400, s"unhandled route $method $path")
    }
  } catch {
    case e: Exception => err(ex, 500, s"server error: ${e.getMessage}")
  }

  /** Build fresh metadata JSON from a createTable request body — V2 by
    * default; a `format-version` entry in the request properties selects
    * the version (Iceberg's own create-time property), so clients can
    * create V3 tables (DV deletes, row lineage) through this server. */
  private def newMetadata(b: com.fasterxml.jackson.databind.JsonNode,
                          ns: String, tname: String): ObjectNode = {
    val md = mapper.createObjectNode()
    val fv = Option(b.get("properties"))
      .flatMap(p => Option(p.get("format-version")))
      .map(_.asText().toInt).getOrElse(2)
    md.put("format-version", fv)
    if (fv >= 3) md.put("next-row-id", 0L)
    md.put("table-uuid", java.util.UUID.randomUUID().toString)
    md.put("location", Option(b.get("location")).map(_.asText())
      .getOrElse(s"mem://warehouse/${ns.replace("", "/")}/$tname"))
    md.put("last-sequence-number", 0L)
    md.put("last-updated-ms", System.currentTimeMillis())
    val schema = b.get("schema").deepCopy[ObjectNode]()
    var maxId = 0
    schema.get("fields").forEach(f => maxId = math.max(maxId, f.get("id").asInt()))
    md.put("last-column-id", maxId)
    md.put("current-schema-id", schema.get("schema-id").asInt())
    md.putArray("schemas").add(schema)
    Option(b.get("partition-spec")).filter(!_.isNull) match {
      case Some(sn0) =>
        // CreateTableRequest carried a spec (SQL PARTITIONED BY)
        val sn = sn0.deepCopy[ObjectNode]()
        if (!sn.has("spec-id")) sn.put("spec-id", 0)
        md.put("default-spec-id", sn.get("spec-id").asInt())
        md.putArray("partition-specs").add(sn)
        var maxF = 999
        sn.get("fields").forEach(f =>
          maxF = math.max(maxF, f.get("field-id").asInt()))
        md.put("last-partition-id", maxF)
        ()
      case None =>
        md.put("default-spec-id", 0)
        val spec = md.putArray("partition-specs").addObject()
        spec.put("spec-id", 0); spec.putArray("fields")
        ()
    }
    md.put("default-sort-order-id", 0)
    val so = md.putArray("sort-orders").addObject()
    so.put("order-id", 0); so.putArray("fields")
    val props = md.putObject("properties")
    Option(b.get("properties")).foreach(
      _.properties().forEach { e =>
        // format-version is reserved: it selected the metadata version
        // above and is not a free-form table property
        if (e.getKey != "format-version")
          props.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue): Unit
      })
    md.putArray("snapshots")
    md.putObject("refs")
    md
  }

  /** Apply a commitTable body: requirements first (all-or-nothing), then
    * updates — the server-side transaction semantics of the REST spec. */
  private def commit(ex: HttpExchange, ns: String, t: String,
                     md: ObjectNode): Unit = {
    val b = mapper.readTree(readBody(ex))
    checkRequirements(b, md) match {
      case Some(msg) => err(ex, 409, msg)
      case None =>
        applyUpdates(b, md)
        respond(ex, 200, tableResponse(ns, t, md))
    }
  }

  private def viewResponse(ns: String, v: String, md: ObjectNode): String = {
    val root = mapper.createObjectNode()
    root.put("metadata-location",
      md.get("location").asText() + "/metadata/current.view.json")
    root.set[com.fasterxml.jackson.databind.JsonNode]("metadata", md)
    mapper.writeValueAsString(root)
  }

  private def tableResponse(ns: String, t: String, md: ObjectNode,
                            vend: Boolean = false,
                            remoteSign: Boolean = false): String = {
    val root = mapper.createObjectNode()
    root.put("metadata-location",
      s"mem://warehouse/${ns.replace("", "/")}/$t/metadata/current.json")
    root.set("metadata", md)
    val cfg = root.putObject("config")
    cfg.put("srv-table-config", "yes")
    // remote-signing delegation: NO keys cross the wire — the client gets
    // the signer location and must route storage IO through it
    if (remoteSign) {
      cfg.put("s3.remote-signing-enabled", "true")
      cfg.put("s3.signer.uri", uri)
    }
    // scoped per-table credentials, vended ONLY when the client asked for
    // access delegation (the spec's opt-in handshake). One credential for
    // the table's own location, one decoy for an unrelated prefix -- the
    // client must pick by longest prefix match.
    if (vend) {
      val arr = root.putArray("storage-credentials")
      val own = arr.addObject()
      own.put("prefix", md.get("location").asText())
      val oc = own.putObject("config")
      oc.put("s3.access-key-id", s"vended-key-$ns-$t")
      oc.put("s3.secret-access-key", s"vended-secret-$ns-$t")
      oc.put("s3.session-token-expires-at-ms",
        vendedExpiryMs.getOrElse(System.currentTimeMillis() + 3600000L))
      val decoy = arr.addObject()
      decoy.put("prefix", "s3://some-other-bucket/elsewhere")
      decoy.putObject("config").put("s3.access-key-id", "WRONG-TABLE-KEY")
    }
    mapper.writeValueAsString(root)
  }

  // ------------------------- scan-planning helpers (server side) ----------
  // The wire shapes below are hand-built with jackson, independently of the
  // client's parsing codecs — the two sides meet only on the spec's JSON,
  // so a shared-codec bug cannot cancel out. Planning itself reuses the
  // core ScanPlanner (a catalog service would run whatever planner it has;
  // the protocol is what's under test).

  /** Run the plan request against a table's metadata; Right = response
    * chunks (each a self-contained {delete-files, file-scan-tasks} node),
    * Left = the failure message for a `plan-status: failed` answer. */
  private def planScan(mdNode: ObjectNode,
                       body: com.fasterxml.jackson.databind.JsonNode)
      : Either[String, IndexedSeq[ObjectNode]] =
    try {
      import graft.core._
      val metadata = TableMetadata.parse(mdNode.toString)
      val snapshotId = Option(body.get("snapshot-id")).filter(!_.isNull)
        .map(_.asLong())
      val useSnap = Option(body.get("use-snapshot-schema")).filter(!_.isNull)
        .map(_.asBoolean())
      val cs = Option(body.get("case-sensitive")).filter(!_.isNull)
        .forall(_.asBoolean())
      val schema =
        (if (useSnap.getOrElse(snapshotId.isDefined))
          snapshotId.flatMap(metadata.snapshotById).flatMap(_.schemaId)
            .flatMap(metadata.schemaById)
        else None).getOrElse(metadata.currentSchema)
      val expr = Option(body.get("filter")).filter(!_.isNull)
        .map(parsePlanExpr(_, schema, cs)).getOrElse(AlwaysTrue)
      val startId = Option(body.get("start-snapshot-id")).filter(!_.isNull)
        .map(_.asLong())
      val endId = Option(body.get("end-snapshot-id")).filter(!_.isNull)
        .map(_.asLong())
      val tasks = startId match {
        case Some(from) =>
          // incremental form: files APPENDED in (start, end] — the same
          // metadata-only changefeed walk the engine's local path defines
          graft.streaming.EventStreams.appendedFilesBetween(
            new graft.spark.IcebergTable(metadata.location, "", metadata,
              LocalFileIO), from, endId)
        case None =>
          new ScanPlanner(LocalFileIO, metadata)
            .planFiles(expr, snapshotId, caseSensitive = cs,
              useSnapshotSchema = useSnap)
      }
      val size =
        if (planMode == "chunked") math.max(1, planTaskChunkSize)
        else math.max(1, tasks.size)
      val chunks =
        if (tasks.isEmpty) IndexedSeq(chunkNode(Nil, metadata, schema))
        else tasks.grouped(size)
          .map(g => chunkNode(g, metadata, schema)).toIndexedSeq
      Right(chunks)
    } catch {
      case e: Exception => Left(Option(e.getMessage).getOrElse(e.toString))
    }

  /** Spec `Expression` JSON → core expression; literal values are typed by
    * the referenced column (single-value JSON parse). Unknown columns and
    * unsupported types throw — surfaced as a failed plan. */
  private def parsePlanExpr(n: com.fasterxml.jackson.databind.JsonNode,
                            schema: graft.core.Schema,
                            caseSensitive: Boolean)
      : graft.core.BooleanExpression = {
    import graft.core._
    def sub(x: com.fasterxml.jackson.databind.JsonNode) =
      parsePlanExpr(x, schema, caseSensitive)
    n.get("type").asText() match {
      case "true" => AlwaysTrue
      case "false" => AlwaysFalse
      case "and" => And(sub(n.get("left")), sub(n.get("right")))
      case "or" => Or(sub(n.get("left")), sub(n.get("right")))
      case "not" => Not(sub(n.get("child")))
      case opName =>
        val termNode = n.get("term")
        // Term = Reference (plain string) | TransformTerm (object) — the
        // transform form is refused (plans bind plain column references)
        require(termNode != null && termNode.isTextual,
          s"unsupported term: $termNode")
        val term = termNode.asText()
        val field = (if (caseSensitive) schema.findFieldByName(term)
                     else schema.findFieldByNameCaseInsensitive(term))
          .getOrElse(throw new IllegalArgumentException(
            s"cannot bind reference '$term'"))
        def lit(v: com.fasterxml.jackson.databind.JsonNode): Literal =
          SingleValueJson.parse(field.fieldType, v)
        def values: Seq[Literal] = {
          val a = n.get("values")
          (0 until a.size()).map(i => lit(a.get(i)))
        }
        opName match {
          case "is-null" => UnboundPredicate(OpIsNull, term)
          case "not-null" => UnboundPredicate(OpNotNull, term)
          case "is-nan" => UnboundPredicate(OpIsNan, term)
          case "not-nan" => UnboundPredicate(OpNotNan, term)
          case "eq" => UnboundPredicate(OpEq, term, Seq(lit(n.get("value"))))
          case "not-eq" => UnboundPredicate(OpNotEq, term, Seq(lit(n.get("value"))))
          case "lt" => UnboundPredicate(OpLt, term, Seq(lit(n.get("value"))))
          case "lt-eq" => UnboundPredicate(OpLtEq, term, Seq(lit(n.get("value"))))
          case "gt" => UnboundPredicate(OpGt, term, Seq(lit(n.get("value"))))
          case "gt-eq" => UnboundPredicate(OpGtEq, term, Seq(lit(n.get("value"))))
          case "in" => UnboundPredicate(OpIn, term, values)
          case "not-in" => UnboundPredicate(OpNotIn, term, values)
          case "starts-with" =>
            UnboundPredicate(OpStartsWith, term, Seq(lit(n.get("value"))))
          case "not-starts-with" =>
            UnboundPredicate(OpNotStartsWith, term, Seq(lit(n.get("value"))))
          case other =>
            throw new IllegalArgumentException(s"unsupported expression: $other")
        }
    }
  }

  /** One response chunk: `delete-files` (deduped by path, chunk-scoped)
    * + `file-scan-tasks` whose `delete-file-references` index into it. */
  private def chunkNode(tasks: Seq[graft.core.FileScanTask],
                        metadata: graft.core.TableMetadata,
                        schema: graft.core.Schema): ObjectNode = {
    val root = mapper.createObjectNode()
    // dedupe key is NOT the path alone: V3 deletion vectors share one
    // Puffin container — distinct blobs differ only by offset/target
    def delKey(d: graft.core.DataFileInfo) =
      (d.path, d.contentOffset, d.contentSizeInBytes, d.referencedDataFile)
    val delIndex =
      scala.collection.mutable.LinkedHashMap[(String, Option[Long],
        Option[Long], Option[String]), Int]()
    val delNodes = Vector.newBuilder[ObjectNode]
    tasks.foreach(_.deleteFiles.foreach { d =>
      if (!delIndex.contains(delKey(d))) {
        delIndex(delKey(d)) = delIndex.size
        delNodes += contentFileNode(d,
          specForPartition(d.partition, metadata), metadata, schema)
      }
    })
    val dels = root.putArray("delete-files")
    delNodes.result().foreach(d => dels.add(d): Unit)
    val arr = root.putArray("file-scan-tasks")
    tasks.foreach { t =>
      val tn = arr.addObject()
      tn.set[com.fasterxml.jackson.databind.JsonNode]("data-file",
        contentFileNode(t.file, t.specId, metadata, schema))
      if (t.deleteFiles.nonEmpty) {
        val refs = tn.putArray("delete-file-references")
        t.deleteFiles.foreach(d => refs.add(delIndex(delKey(d))))
      }
    }
    root
  }

  /** Merge chunks into ONE completed response (inline/async answers):
    * delete-files concatenate and each task's chunk-scoped references are
    * re-based — on DEEP COPIES, because an async plan can be polled twice
    * and in-place mutation would double-offset the second answer. */
  private def completedNode(chunks: Seq[ObjectNode]): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("plan-status", "completed")
    val dels = root.putArray("delete-files")
    val tasksArr = root.putArray("file-scan-tasks")
    chunks.foreach { c =>
      val offset = dels.size()
      Option(c.get("delete-files")).foreach(_.forEach(d => dels.add(d.deepCopy[ObjectNode]()): Unit))
      Option(c.get("file-scan-tasks")).foreach(_.forEach { t =>
        val copy = t.deepCopy[ObjectNode]()
        Option(copy.get("delete-file-references")).foreach { refs =>
          val rebased = mapper.createArrayNode()
          refs.forEach(r => rebased.add(r.asInt() + offset): Unit)
          copy.set[com.fasterxml.jackson.databind.JsonNode](
            "delete-file-references", rebased)
          ()
        }
        tasksArr.add(copy)
        ()
      })
    }
    root
  }

  /** Delete files don't carry their spec id through the core model — pick
    * the spec whose field names match the file's partition tuple exactly
    * (current spec first). Best-effort: readers act on delete files by
    * path/reference, never by partition tuple. */
  private def specForPartition(partition: Map[String, Any],
                               metadata: graft.core.TableMetadata): Int =
    (metadata.partitionSpec +: metadata.partitionSpecs)
      .find(_.fields.map(_.name).toSet == partition.keySet)
      .map(_.specId).getOrElse(metadata.partitionSpec.specId)

  /** Spec `ContentFile` JSON for one file of the manifest model. */
  private def contentFileNode(f: graft.core.DataFileInfo, specId: Int,
                              metadata: graft.core.TableMetadata,
                              schema: graft.core.Schema): ObjectNode = {
    import graft.core._
    val n = mapper.createObjectNode()
    n.put("spec-id", specId)
    n.put("content", f.content match {
      case 0 => "data"
      case 1 => "position-deletes"
      case 2 => "equality-deletes"
      case other => throw new IllegalArgumentException(s"content $other")
    })
    n.put("file-path", f.path)
    n.put("file-format", f.format.toLowerCase)
    val spec = metadata.partitionSpecs.find(_.specId == specId)
      .getOrElse(metadata.partitionSpec)
    val partType = spec.partitionType(schema)
    val partArr = n.putArray("partition")
    partType.fields.foreach { pf =>
      f.partition.get(pf.name).filter(_ != null) match {
        case None => partArr.addNull(); ()
        case Some(v) =>
          anyToLit(v, pf.fieldType) match {
            case Some(l) => partArr.add(
              mapper.readTree(SingleValueJson.toJsonString(l, pf.fieldType))); ()
            case None => partArr.addNull(); ()
          }
      }
    }
    n.put("file-size-in-bytes", f.fileSizeInBytes)
    n.put("record-count", f.recordCount)
    def counts(key: String, m: Map[Int, Long]): Unit = if (m.nonEmpty) {
      val o = n.putObject(key)
      val ks = o.putArray("keys"); val vs = o.putArray("values")
      m.toSeq.sortBy(_._1).foreach { case (k, v) => ks.add(k); vs.add(v); () }
    }
    counts("column-sizes", f.columnSizes)
    counts("value-counts", f.valueCounts)
    counts("null-value-counts", f.nullValueCounts)
    counts("nan-value-counts", f.nanValueCounts)
    def bounds(key: String, m: Map[Int, Array[Byte]]): Unit = if (m.nonEmpty) {
      val entries = m.toSeq.sortBy(_._1).flatMap { case (id, bytes) =>
        schema.findFieldById(id).flatMap { fld =>
          val lit = fld.fieldType match {
            // geo bounds are raw WKB points — carried as binary hex
            case _: GeometryT | _: GeographyT => Some(BytesLit(bytes))
            case t => LiteralCodec.fromBytes(t, bytes)
          }
          lit.map { l =>
            val t = fld.fieldType match {
              case _: GeometryT | _: GeographyT => BinaryT
              case t0 => t0
            }
            (id, mapper.readTree(SingleValueJson.toJsonString(l, t)))
          }
        }
      }
      if (entries.nonEmpty) {
        val o = n.putObject(key)
        val ks = o.putArray("keys"); val vs = o.putArray("values")
        entries.foreach { case (k, v) => ks.add(k); vs.add(v); () }
      }
    }
    bounds("lower-bounds", f.lowerBounds)
    bounds("upper-bounds", f.upperBounds)
    if (f.splitOffsets.nonEmpty) {
      val a = n.putArray("split-offsets")
      f.splitOffsets.foreach(v => a.add(v): Unit)
    }
    if (f.equalityIds.nonEmpty) {
      val a = n.putArray("equality-ids")
      f.equalityIds.foreach(v => a.add(v): Unit)
    }
    f.sortOrderId.foreach(v => n.put("sort-order-id", v))
    f.referencedDataFile.foreach(v => n.put("referenced-data-file", v))
    f.contentOffset.foreach(v => n.put("content-offset", v))
    f.contentSizeInBytes.foreach(v => n.put("content-size-in-bytes", v))
    f.firstRowId.foreach(v => n.put("first-row-id", v))
    n
  }

  /** A partition tuple value (as the Avro manifest reader materializes it)
    * → a typed literal, mirroring the planner's tuple-evaluation
    * conventions. */
  private def anyToLit(v: Any, t: graft.core.IcebergType)
      : Option[graft.core.Literal] = {
    import graft.core._
    v match {
      case null => None
      case i: java.lang.Integer => Some(t match {
        case DateT => DateLit(i)
        case LongT => LongLit(i.toLong)
        case _ => IntLit(i)
      })
      case l: java.lang.Long => Some(t match {
        case TimeT => TimeLit(l)
        case TimestampT | TimestampTzT => TsLit(l)
        case IntT | DateT => IntLit(l.toInt)
        case _ => LongLit(l)
      })
      case s: String => Some(StrLit(s))
      case u: org.apache.avro.util.Utf8 => Some(StrLit(u.toString))
      case b: java.lang.Boolean => Some(BoolLit(b))
      case f: java.lang.Float => Some(FloatLit(f))
      case d: java.lang.Double => Some(DoubleLit(d))
      case b: Array[Byte] => LiteralCodec.fromBytes(t, b).orElse(Some(BytesLit(b)))
      case _ => None
    }
  }
}
