package graft.spark

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Catalog-side metadata caching for SQL reads of REST tables
  * (`cache-expiration-interval-ms`, default 0 = off): at query rate the
  * dominant REST overhead is re-reading the whole metadata tree per
  * query. Semantics match Iceberg's CachingCatalog — commits through this
  * catalog's procedures invalidate immediately; an external writer's
  * commit becomes visible after at most the interval. */
class RestMetadataCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val server = new TestRestCatalogServer("graft-ci", "s3cr3t")
  private lazy val catalog: RestCatalog = {
    server.start()
    Catalog.load("cache-it", server.uri,
      Map(RestCatalog.KeyCredential -> "graft-ci:s3cr3t"))
      .asInstanceOf[RestCatalog]
  }

  override def afterAll(): Unit = server.stop()

  private def appendRow(loc: String, ident: Seq[String], tag: String): Unit = {
    val s = spark
    import s.implicits._
    val raw = Files.createTempDirectory(s"cache_raw_$tag").toFile
    Seq((99L, tag)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(raw.getPath)
    val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
    dest.getParentFile.mkdirs()
    Files.copy(src.toPath, dest.toPath)
    TableWriter.appendFiles(TableWriter.restTableOf(catalog.loadTable(ident), catalog),
      Seq(CowFileOut(dest.getPath, 1L, Map.empty)))
    ()
  }

  test("cached SQL reads load metadata once; a procedure CALL invalidates; " +
      "external commits appear after at most the interval") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cache_t").toFile.getPath
    val t = TableWriter.create(
      (0L until 5L).map(i => (i, "x")).toDF("id", "v"), loc)
    catalog.createNamespace(Seq("cc"))
    catalog.registerTable(Seq("cc", "t"), t.metadataPath)

    s.conf.set("spark.sql.catalog.rcache", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.rcache.warehouse",
      Files.createTempDirectory("rcache_wh").toFile.getPath)
    s.conf.set("spark.sql.catalog.rcache.uri", server.uri)
    s.conf.set("spark.sql.catalog.rcache.credential", "graft-ci:s3cr3t")
    s.conf.set("spark.sql.catalog.rcache.cache-expiration-interval-ms",
      "600000")

    def count(): Long =
      s.sql("SELECT COUNT(*) FROM rcache.cc.t").head().getLong(0)
    def loads: Int = server.loadCounts.getOrElse(("cc", "t"), 0)

    assert(count() == 5L)
    val after1 = loads
    assert(count() == 5L && count() == 5L)
    assert(loads == after1, "repeated reads must serve cached metadata")

    // external writer commits through the server: the cached handle is
    // allowed to serve the OLD snapshot until expiry/invalidation (the
    // append itself loads the table through the RAW client — snapshot the
    // counter after it)
    appendRow(loc, Seq("cc", "t"), "ext1")
    val afterAppend = loads
    assert(count() == 5L, "within the interval the cache serves the old pin")
    assert(loads == afterAppend, "the stale read must not hit the server")

    // any procedure CALL on the ident invalidates immediately
    s.sql("CALL rcache.system.create_tag('cc.t', 'marker')").collect()
    assert(count() == 6L, "post-invalidation read must see the commit")
    assert(loads > afterAppend)
  }

  test("without the option every read loads; with it credential expiry " +
      "refreshes inside the window without a metadata reload") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("cache_t2").toFile.getPath
    val t = TableWriter.create(Seq((1L, "x")).toDF("id", "v"), loc)
    catalog.registerTable(Seq("cc", "t2"), t.metadataPath)

    s.conf.set("spark.sql.catalog.rnocache", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.rnocache.warehouse",
      Files.createTempDirectory("rnocache_wh").toFile.getPath)
    s.conf.set("spark.sql.catalog.rnocache.uri", server.uri)
    s.conf.set("spark.sql.catalog.rnocache.credential", "graft-ci:s3cr3t")
    def loads: Int = server.loadCounts.getOrElse(("cc", "t2"), 0)
    s.sql("SELECT COUNT(*) FROM rnocache.cc.t2").collect()
    val a = loads
    s.sql("SELECT COUNT(*) FROM rnocache.cc.t2").collect()
    assert(loads > a, "cache off (default): each read loads")

    // cached catalog + credential expiry: the refresh rides the
    // credentials route, not a reload
    s.conf.set("spark.sql.catalog.rcache2", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.rcache2.warehouse",
      Files.createTempDirectory("rcache2_wh").toFile.getPath)
    s.conf.set("spark.sql.catalog.rcache2.uri", server.uri)
    s.conf.set("spark.sql.catalog.rcache2.credential", "graft-ci:s3cr3t")
    s.conf.set("spark.sql.catalog.rcache2.cache-expiration-interval-ms",
      "600000")
    server.vendedExpiryMs = Some(System.currentTimeMillis() + 150L)
    try {
      s.sql("SELECT COUNT(*) FROM rcache2.cc.t2").collect() // caches w/ soon-expired creds
      val b = loads
      val credsB = server.credentialRequests
      server.vendedExpiryMs = None // server now vends live creds
      Thread.sleep(200L) // let the vended credential expire
      s.sql("SELECT COUNT(*) FROM rcache2.cc.t2").collect()
      assert(loads == b, "credential refresh must not reload metadata")
      assert(server.credentialRequests > credsB,
        "expired creds inside the cache window ride the credentials route")
    } finally server.vendedExpiryMs = None
  }
}
