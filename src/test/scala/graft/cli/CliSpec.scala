package graft.cli

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{SparkTestSession, TableWriter}

/** CLI verbs against a local table, asserting on captured stdout (the
  * automated analog of cmd/icegopher's output tests). */
class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val tableLoc: String = {
    val loc = Files.createTempDirectory("cli_tbl").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src, loc, properties = Map("owner" -> "graft-tests"))
    TableWriter.append(t1, src)
    loc
  }

  private def run(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out)) { Main.run(args.toArray) }
    out.toString("UTF-8")
  }

  test("describe") {
    val out = run("describe", tableLoc)
    assert(out.contains("Table format version: 2"))
    assert(out.contains("Current snapshot:"))
    assert(out.contains("r_regionkey"))
  }

  test("schema and uuid and location") {
    assert(run("schema", tableLoc).contains("r_name"))
    assert(run("uuid", tableLoc).trim.matches("[0-9a-f-]{36}"))
    assert(run("location", tableLoc).trim == tableLoc)
  }

  test("spec on unpartitioned table") {
    assert(run("spec", tableLoc).contains("[unpartitioned]"))
  }

  test("snapshots lists both commits") {
    val out = run("snapshots", tableLoc)
    assert(out.linesIterator.size == 2)
    assert(out.contains("append"))
  }

  test("refs lists main branch") {
    assert(run("refs", tableLoc).contains("main\tbranch"))
  }

  test("properties get") {
    assert(run("properties", "get", tableLoc).contains("owner\tgraft-tests"))
    assert(run("properties", "get", tableLoc, "owner").trim == "graft-tests")
  }

  test("files prints the snapshot tree") {
    val out = run("files", tableLoc)
    assert(out.contains("Snapshot "))
    assert(out.contains("Manifest:"))
    assert(out.contains("Datafile:"))
  }

  test("partitions prints the per-partition rollup") {
    // create + append of the 5-row region table → 10 rows in one bucket
    val out = run("partitions", tableLoc)
    assert(out.contains("<unpartitioned>"), out)
    assert(out.contains("rows=10"), out)

    val json = run("--json", "partitions", tableLoc)
    val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(arr.size() == 1)
    assert(arr.get(0).get("record_count").asLong() == 10L)

    // partitioned table rolls up per partition value
    val loc = Files.createTempDirectory("cli_part").toFile.getPath
    TableWriter.create(
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"), loc,
      partitionBy = Seq("r_regionkey" -> graft.core.IdentityTransform))
    val pOut = run("partitions", loc)
    assert(pOut.linesIterator.size == 5, pOut)
    assert(pOut.contains("r_regionkey=0"), pOut)
  }

  private def freshTable(): String = {
    val loc = Files.createTempDirectory("cli_mut").toFile.getPath
    TableWriter.create(
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"), loc,
      properties = Map("owner" -> "graft-tests"))
    loc
  }

  test("properties set and remove") {
    val loc = freshTable()
    run("properties", "set", loc, "retention", "30d")
    assert(run("properties", "get", loc, "retention").trim == "30d")
    run("properties", "remove", loc, "retention")
    assert(intercept[Main.CliError](
      run("properties", "get", loc, "retention")).msg.contains("not found"))
    // removing a missing key is an error
    assert(intercept[Main.CliError](
      run("properties", "remove", loc, "nope")).msg.contains("not found"))
  }

  test("rename moves the table, old path stops resolving") {
    val loc = freshTable()
    val dst = loc + "_renamed"
    run("rename", loc, dst)
    assert(run("uuid", dst).trim.matches("[0-9a-f-]{36}"))
    assert(intercept[Main.CliError](run("rename", loc, dst + "2"))
      .msg.contains("not an Iceberg table"))
    // renaming onto an existing table is refused
    val other = freshTable()
    assert(intercept[Main.CliError](run("rename", other, dst))
      .msg.contains("already exists"))
  }

  test("drop deletes the table; dropping a non-table is an error") {
    val loc = freshTable()
    run("drop", loc)
    assert(!new java.io.File(loc, "metadata").exists())
    assert(intercept[Main.CliError](run("drop", loc))
      .msg.contains("not an Iceberg table"))
  }

  test("rollback and expire verbs") {
    val loc = freshTable()
    val t1 = graft.spark.IcebergTables.load(loc)
    val snap1 = t1.currentSnapshot.get.snapshotId
    TableWriter.append(t1,
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"))
    // expire everything but the newest snapshot
    run("expire", loc, (System.currentTimeMillis() + 1000).toString, "1")
    val afterExpire = graft.spark.IcebergTables.load(loc)
    assert(afterExpire.metadata.snapshots.size == 1)
    assert(afterExpire.metadata.snapshots.head.snapshotId != snap1)
    // rollback within remaining history (roll to the survivor = no-op move)
    val survivor = afterExpire.currentSnapshot.get.snapshotId
    run("rollback", loc, survivor.toString)
    assert(graft.spark.IcebergTables.load(loc).currentSnapshot.get.snapshotId == survivor)
    // a catalog identifier without --uri has no catalog to commit through
    assert(intercept[Main.CliError](run("rollback", "ns.tbl", "1"))
      .msg.contains("--uri"))
  }

  test("rollback and expire on a REST-cataloged table commit through the server") {
    val server = new graft.catalog.TestRestCatalogServer("cli", "pw")
    server.start()
    try {
      // a fresh client per command (the CLI mints its own token; the test
      // server keeps ONE live token, and RestCatalog self-heals by
      // re-minting — so interleaving clients is fine)
      val cat = graft.catalog.Catalog.load("cliT", server.uri,
        Map(graft.catalog.RestCatalog.KeyCredential -> "cli:pw"))
        .asInstanceOf[graft.catalog.RestCatalog]
      cat.createNamespace(Seq("m"))
      val loc = java.nio.file.Files.createTempDirectory("cli_rest").toFile.getPath
      cat.createTable(Seq("m", "t"), graft.core.Schema(0, graft.core.StructT(Seq(
        graft.core.NestedField(1, "id", graft.core.LongT, required = true)))),
        location = Some(loc))
      def appendOne(tag: String): Long = {
        val raw = java.nio.file.Files.createTempDirectory(s"cli_$tag").toFile
        import spark.implicits._
        Seq(1L).toDF("id").coalesce(1).write.mode("overwrite").parquet(raw.getPath)
        val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(src.toPath, dest.toPath)
        TableWriter.appendFiles(TableWriter.restTableOf(cat.loadTable(Seq("m", "t")), cat),
          Seq(graft.spark.CowFileOut(dest.getPath, 1, Map.empty)))
          .metadata.currentSnapshotId.get
      }
      val s1 = appendOne("a"); val s2 = appendOne("b"); appendOne("c")
      run(s"--uri=${server.uri}", "--credential=cli:pw", "rollback", "m.t",
        s2.toString)
      assert(cat.loadTable(Seq("m", "t")).metadata.currentSnapshotId
        .contains(s2))
      run(s"--uri=${server.uri}", "--credential=cli:pw", "expire", "m.t",
        (System.currentTimeMillis() + 1000).toString, "1")
      val md = cat.loadTable(Seq("m", "t")).metadata
      // main rolled to s2 and expiry keeps its ancestry head only (s1 is
      // referenced ancestry below the policy → expired; s3 is an orphaned
      // head, old → expired)
      assert(md.currentSnapshotId.contains(s2))
      assert(!md.snapshots.exists(_.snapshotId == s1),
        md.snapshots.map(_.snapshotId))
    } finally server.stop()
  }

  test("rewrite-manifests and changes verbs") {
    val loc = freshTable()
    val t1 = graft.spark.IcebergTables.load(loc)
    TableWriter.append(t1,
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"))
    val out = run("rewrite-manifests", loc)
    assert(out.contains("2 -> 1"), out)
    // changes: two appends visible, the manifest rewrite invisible
    val ch = run("changes", loc)
    val lines = ch.trim.split('\n')
    assert(lines.head.startsWith("sequence"), ch)
    assert(lines.length == 3, ch)
    assert(lines.forall(!_.contains("\t0\t0\t")), "rewrite should not appear")
    val json = run("--json", "changes", loc, "1")
    assert(json.contains("\"added_files\":1") && !json.contains("\"sequence\":1"),
      json)
  }

  test("unknown verb and missing --uri are errors, not exits") {
    assert(intercept[Main.CliError](run("frobnicate")).msg.contains("usage:"))
    assert(intercept[Main.CliError](run("list")).msg.contains("--uri"))
  }

  test("malformed numeric args die with friendly errors, not stack traces") {
    val loc = freshTable()
    assert(intercept[Main.CliError](run("rollback", loc, "abc"))
      .msg.contains("invalid snapshot id"))
    assert(intercept[Main.CliError](run("expire", loc, "xyz"))
      .msg.contains("invalid timestamp"))
    assert(intercept[Main.CliError](run("expire", loc, "123", "many"))
      .msg.contains("invalid retain"))
  }

  test("--json emits machine-readable describe and snapshots") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val desc = m.readTree(run("--json", "describe", tableLoc))
    assert(desc.get("format-version").asInt() == 2)
    assert(desc.get("table-uuid").asText().matches("[0-9a-f-]{36}"))
    assert(desc.has("current-snapshot-id"))
    val snaps = m.readTree(run("--json", "snapshots", tableLoc))
    assert(snaps.isArray && snaps.size() == 2)
    assert(snaps.get(0).get("operation").asText() == "append")
  }

  test("register verb adopts a metadata file through the REST catalog") {
    val server = new graft.catalog.TestRestCatalogServer("cli", "pw")
    server.start()
    try {
      val cat = graft.catalog.Catalog.load("t", server.uri,
        Map(graft.catalog.RestCatalog.KeyCredential -> "cli:pw"))
      cat.createNamespace(Seq("clidb"))
      val metaPath = graft.spark.IcebergTables.load(tableLoc).metadataPath
      val out = run(s"--uri=${server.uri}", "--credential=cli:pw",
        "register", "clidb.adopted", metaPath)
      assert(out.contains("registered clidb.adopted"))
      // the CLI's own token fetch superseded `cat`'s (the test server
      // issues one live token) — assert through a fresh client
      val cat2 = graft.catalog.Catalog.load("t2", server.uri,
        Map(graft.catalog.RestCatalog.KeyCredential -> "cli:pw"))
      assert(cat2.listTables(Seq("clidb")) == Seq(Seq("clidb", "adopted")))
      assert(cat2.loadTable(Seq("clidb", "adopted")).metadata.tableUuid ==
        graft.spark.IcebergTables.load(tableLoc).metadata.tableUuid)
    } finally server.stop()
  }

  test("namespace property verbs go through the REST catalog") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    @volatile var lastBody = ""
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def send(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/v1/config", (ex: HttpExchange) =>
      send(ex, 200, """{"defaults": {}, "overrides": {}}"""))
    server.createContext("/v1/namespaces/db1", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath.endsWith("/properties")) {
        lastBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        send(ex, 200, """{"removed": [], "updated": ["k"], "missing": []}""")
      } else send(ex, 200,
        """{"namespace": ["db1"], "properties": {"owner": "me"}}"""))
    server.start()
    try {
      val uri = s"--uri=http://localhost:${server.getAddress.getPort}"
      assert(run(uri, "properties", "get", "namespace", "db1").contains("owner\tme"))
      assert(run(uri, "properties", "get", "namespace", "db1", "owner").trim == "me")
      assert(run(uri, "properties", "set", "namespace", "db1", "k", "v")
        .contains("set k on namespace db1"))
      assert(lastBody.contains("\"k\""), s"update body: $lastBody")
      assert(run(uri, "properties", "remove", "namespace", "db1", "k")
        .contains("removed k from namespace db1"))
      assert(lastBody.contains("\"removals\""), s"removal body: $lastBody")
    } finally server.stop(0)
  }
}
