package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `TableScan.toDF` is a DataFrame over the DSv2 scan: `_file` predicates
  * prune the planned file set, a read leaves the caller's session conf
  * alone, plans are keyed on the table state (the `CacheSlot` freshness
  * contract), and a handle read ignores `spark.wap.branch`. */
class ReadPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).toFile.getPath

  private def fourFileTable(name: String): IcebergTable = {
    val s = spark
    import s.implicits._
    TableWriter.create((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4, col("id")), tmpDir(name))
  }

  /** The planned scan's description: `icegopher <loc> [N files after pruning]`. */
  private def scanDescription(df: DataFrame): String =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.description()
    }.getOrElse(fail(s"no DSv2 scan in\n${df.queryExecution.optimizedPlan}"))

  test("a _file IN (one path) read plans exactly that file") {
    val t = fourFileTable("rp_file_in")
    val files = t.newScan().planFiles().map(_.file)
    assert(files.size == 4, files)
    val one = files.head

    val lib = t.newScan().toDF(spark).filter(col("_file").isin(one.path))
    assert(scanDescription(lib).endsWith("[1 files after pruning]"), scanDescription(lib))
    assert(lib.count() == one.recordCount)

    // the SQL surface prunes the same way, `=` as well as IN
    val viaSource = spark.read.format("icegopher").load(t.location)
      .where(col("_file") === one.path)
    assert(scanDescription(viaSource).endsWith("[1 files after pruning]"),
      scanDescription(viaSource))
    assert(viaSource.select("_file").distinct().collect().map(_.getString(0))
      .toSeq == Seq(one.path))
  }

  test("a toDF read leaves the session's parquet field-id confs unset") {
    val t = fourFileTable("rp_conf")
    val keys = Seq("spark.sql.parquet.fieldId.read.enabled",
      "spark.sql.parquet.fieldId.read.ignoreMissing")
    keys.foreach(spark.conf.unset)
    assert(t.newScan().toDF(spark).collect().length == 40)
    // getAll holds only explicitly set keys (getOption reports defaults)
    keys.foreach(k => assert(!spark.conf.getAll.contains(k), s"$k was set"))
  }

  test("toDF plans are keyed on the table state") {
    val s = spark
    import s.implicits._
    val loc = tmpDir("rp_key")
    val rows = (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val v1 = TableWriter.create(rows, loc)
    val atV1 = v1.newScan().toDF(spark)
    // two frames over one state, from the same or a re-loaded handle
    assert(atV1.sameSemantics(v1.newScan().toDF(spark)))
    assert(atV1.sameSemantics(IcebergTables.load(loc).newScan().toDF(spark)))

    // an evolved state is a different key
    val v2 = TableWriter.append(v1, rows)
    assert(!atV1.sameSemantics(v2.newScan().toDF(spark)))

    // drop + recreate at the same location: v1.metadata.json reappears at
    // the same path, under a new table UUID
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(loc))
    val again = TableWriter.create(rows, loc)
    assert(again.metadataPath == v1.metadataPath)
    assert(!atV1.sameSemantics(again.newScan().toDF(spark)))
  }

  test("a toDF read of the handle ignores spark.wap.branch") {
    val s = spark
    val wh = tmpDir("rp_wap")
    s.conf.set("spark.sql.catalog.grpwap", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.grpwap.warehouse", wh)
    s.sql("CREATE TABLE grpwap.db.t (id BIGINT, v STRING)")
    s.sql("INSERT INTO grpwap.db.t VALUES (1, 'a'), (2, 'b')")
    s.conf.set("spark.wap.branch", "audit")
    try {
      s.sql("INSERT INTO grpwap.db.t VALUES (3, 'c')")
      assert(s.sql("SELECT count(*) FROM grpwap.db.t").head().getLong(0) == 3)
      val t = IcebergTables.load(s"$wh/db/t")
      assert(t.newScan().toDF(s).count() == 2)
      assert(t.newScan(ref = Some("audit")).toDF(s).count() == 3)
    } finally s.conf.unset("spark.wap.branch")
  }
}
