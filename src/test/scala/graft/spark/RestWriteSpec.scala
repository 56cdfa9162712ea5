package graft.spark

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CommitConflictError, RestCatalog}

/** Data commits against a REST catalog: [[TableWriter.appendFilesRest]]
  * stages the manifest + manifest list under the table location, then
  * commits add-snapshot + set-snapshot-ref through the catalog's
  * `updateTable` route (the reference's REST catalog can only read —
  * commit panics, rest.go:418-424). */
class RestWriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private var server: HttpServer = _
  private var port: Int = _
  @volatile private var lastCommitBody: String = ""
  private var tableLoc: String = _

  private def tableJson: String =
    s"""{
      "metadata-location": "$tableLoc/metadata/v1.metadata.json",
      "metadata": {
        "format-version": 2,
        "table-uuid": "11111111-2222-3333-4444-555555555555",
        "location": "$tableLoc",
        "last-sequence-number": 0,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
          {"id": 1, "name": "id", "required": true, "type": "long"},
          {"id": 2, "name": "data", "required": false, "type": "string"}]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {}
      }
    }"""

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // a REAL committed table on disk, served through the catalog: its current
  // metadata JSON is read fresh per request so the CoW test sees a snapshot
  private var cowLoc: String = _

  private def diskTableJson: String = {
    val t = IcebergTables.load(cowLoc)
    val md = new String(Files.readAllBytes(
      java.nio.file.Paths.get(t.metadataPath)), StandardCharsets.UTF_8)
    s"""{"metadata-location": "${t.metadataPath}", "metadata": $md}"""
  }

  override def beforeAll(): Unit = {
    tableLoc = Files.createTempDirectory("rest_tbl").toFile.getPath
    server = HttpServer.create(new InetSocketAddress(0), 0)
    port = server.getAddress.getPort
    server.createContext("/v1/config", (ex: HttpExchange) => send(ex, 200, "{}"))
    server.createContext("/v1/namespaces", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("GET", "/v1/namespaces/db/tables/t") => send(ex, 200, tableJson)
        case ("POST", "/v1/namespaces/db/tables/t") =>
          lastCommitBody = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          send(ex, 200, tableJson)
        case ("GET", "/v1/namespaces/db/tables/cow") => send(ex, 200, diskTableJson)
        case ("POST", "/v1/namespaces/db/tables/cow") =>
          lastCommitBody = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          send(ex, 200, diskTableJson)
        case ("GET", "/v1/namespaces/db/tables/busy") => send(ex, 200, tableJson)
        case ("POST", "/v1/namespaces/db/tables/busy") =>
          send(ex, 409,
            """{"error": {"message": "Requirement failed: branch main moved"}}""")
        case _ => send(ex, 404, s"""{"error": {"message": "no route $path"}}""")
      }
    })
    server.start()
  }

  override def afterAll(): Unit = server.stop(0)

  private def dataFile(tag: String): CowFileOut = {
    import spark.implicits._
    val raw = Files.createTempDirectory(s"rest_raw_$tag").toFile
    Seq((1L, "a"), (2L, "b")).toDF("id", "data")
      .coalesce(1).write.mode("overwrite").parquet(raw.getPath)
    val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(new java.io.File(tableLoc, "data"), s"$tag.parquet")
    dest.getParentFile.mkdirs()
    Files.copy(src.toPath, dest.toPath)
    CowFileOut(dest.getPath, 2, Map.empty)
  }

  test("appendFilesRest stages manifests and commits via updateTable") {
    val cat = new RestCatalog("r", s"http://localhost:$port", Map.empty)
    val committed = TableWriter.appendFiles(TableWriter.restTableOf(cat.loadTable(Seq("db", "t")), cat),
      Seq(dataFile("f1")), Map("source" -> "spec"))

    val body = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lastCommitBody)
    // guards: table uuid + main-branch position (fresh table → no snapshot)
    assert(body.get("requirements").get(0).get("uuid").asText()
      == "11111111-2222-3333-4444-555555555555")
    assert(body.get("requirements").get(1).get("ref").asText() == "main")
    assert(body.get("requirements").get(1).get("snapshot-id").isNull)
    // updates: the staged snapshot, then the branch move to it
    val ups = body.get("updates")
    assert(ups.get(0).get("action").asText() == "add-snapshot")
    val sn = ups.get(0).get("snapshot")
    assert(sn.get("sequence-number").asLong() == 1L)
    assert(sn.get("summary").get("operation").asText() == "append")
    assert(sn.get("summary").get("source").asText() == "spec")
    assert(ups.get(1).get("action").asText() == "set-snapshot-ref")
    assert(ups.get(1).get("snapshot-id").asLong() == sn.get("snapshot-id").asLong())
    // the staged manifest list exists and references the data file
    val listPath = sn.get("manifest-list").asText()
    assert(new java.io.File(listPath).exists(), s"manifest list missing: $listPath")
    val manifests = graft.core.ManifestIO.readManifestList(
      new java.io.FileInputStream(listPath))
    assert(manifests.size == 1)
    val entries = graft.core.ManifestIO.readManifestEntries(
      new java.io.FileInputStream(manifests.head.path), manifests.head)
    assert(entries.map(_.dataFile.path).exists(_.endsWith("f1.parquet")))
    assert(entries.head.dataFile.recordCount == 2)
    // server's post-commit view comes back parsed
    assert(committed.metadata.tableUuid == "11111111-2222-3333-4444-555555555555")
  }

  test("replaceFilesRest commits a CoW overwrite through updateTable") {
    import spark.implicits._
    cowLoc = Files.createTempDirectory("rest_cow").toFile.getPath
    val t0 = TableWriter.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "data").coalesce(1), cowLoc)
    val victim = t0.newScan().planFiles().head.file.path
    val mainBefore = t0.currentSnapshot.get.snapshotId

    // replacement file, as a CoW rewrite task would have produced
    val raw = Files.createTempDirectory("rest_cow_raw").toFile
    Seq((1L, "a2"), (2L, "b2")).toDF("id", "data")
      .coalesce(1).write.mode("overwrite").parquet(raw.getPath)
    val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(new java.io.File(cowLoc, "data"), "rewrite-1.parquet")
    Files.copy(src.toPath, dest.toPath)

    val cat = new RestCatalog("r", s"http://localhost:$port", Map.empty)
    TableWriter.replaceFiles(TableWriter.restTableOf(cat.loadTable(Seq("db", "cow")), cat),
      Set(victim), Seq(CowFileOut(dest.getPath, 2, Map.empty)))

    val body = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lastCommitBody)
    // guard pins main to the pre-CoW snapshot the scan saw
    assert(body.get("requirements").get(1).get("snapshot-id").asLong() == mainBefore)
    val sn = body.get("updates").get(0).get("snapshot")
    assert(sn.get("summary").get("operation").asText() == "overwrite")
    assert(sn.get("summary").get("replaced-data-files").asText() == "1")
    // the staged manifest list replaces the victim with the rewrite
    val manifests = graft.core.ManifestIO.readManifestList(
      new java.io.FileInputStream(sn.get("manifest-list").asText()))
    val paths = manifests.flatMap(m => graft.core.ManifestIO.readManifestEntries(
      new java.io.FileInputStream(m.path), m)).map(_.dataFile.path)
    assert(paths.exists(_.endsWith("rewrite-1.parquet")), paths)
    assert(!paths.contains(victim), "replaced file must be gone from the new list")
  }

  test("V3 REST append assigns first-row-id client-side from next-row-id") {
    // V3 twin of the `t` route: the served metadata carries next-row-id=40,
    // so the staged snapshot must claim ids [40, 42) — upstream practice:
    // the CLIENT assigns from the base metadata and the AddSnapshot carries
    // first-row-id for the server to advance next-row-id from
    val v3Json = tableJson
      .replace("\"format-version\": 2", "\"format-version\": 3")
      .replace("\"properties\": {}", "\"properties\": {}, \"next-row-id\": 40")
    server.createContext("/v1/namespaces/db/tables/v3t", (ex: HttpExchange) =>
      ex.getRequestMethod match {
        case "GET" => send(ex, 200, v3Json)
        case _ =>
          lastCommitBody = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          // a conforming server advances next-row-id past the added rows —
          // the client VERIFIES this post-commit (a server that ignores
          // AddSnapshot.first-row-id would silently duplicate _row_id)
          send(ex, 200, v3Json.replace("\"next-row-id\": 40",
            "\"next-row-id\": 42"))
      })
    val cat = new RestCatalog("r", s"http://localhost:$port", Map.empty)
    TableWriter.appendFiles(TableWriter.restTableOf(cat.loadTable(Seq("db", "v3t")), cat), Seq(dataFile("f3")))
    val body = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lastCommitBody)
    val sn = body.get("updates").get(0).get("snapshot")
    assert(sn.get("first-row-id").asLong() == 40L, sn)
    assert(sn.get("summary").get("added-records").asText() == "2")
    // the staged manifest list + manifest carry the stamped lineage
    val manifests = graft.core.ManifestIO.readManifestList(
      new java.io.FileInputStream(sn.get("manifest-list").asText()))
    assert(manifests.head.firstRowId.contains(40L), manifests.head.firstRowId)
    val entries = graft.core.ManifestIO.readManifestEntries(
      new java.io.FileInputStream(manifests.head.path), manifests.head)
    assert(entries.head.dataFile.firstRowId.contains(40L))

    // a server that does NOT apply AddSnapshot row lineage (next-row-id
    // unchanged) would hand the same base to the next commit — duplicate
    // _row_id assignment must fail loudly, not corrupt silently
    server.createContext("/v1/namespaces/db/tables/v3bad", (ex: HttpExchange) =>
      ex.getRequestMethod match {
        case "GET" => send(ex, 200, v3Json)
        case _ => send(ex, 200, v3Json) // next-row-id still 40
      })
    val e = intercept[IllegalArgumentException] {
      TableWriter.appendFiles(TableWriter.restTableOf(cat.loadTable(Seq("db", "v3bad")), cat), Seq(dataFile("f4")))
    }
    assert(e.getMessage.contains("next-row-id"), e.getMessage)
  }

  test("409 on the data commit surfaces as CommitConflictError") {
    val cat = new RestCatalog("r", s"http://localhost:$port", Map.empty)
    val e = intercept[CommitConflictError] {
      TableWriter.appendFiles(TableWriter.restTableOf(cat.loadTable(Seq("db", "busy")), cat), Seq(dataFile("f2")))
    }
    assert(e.getMessage.contains("branch main moved"))
  }
}
