package graft.spark

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DeleteMatching, ManifestIO}

/** Delete files are decoded by the data files' own reader. Equality keys
  * of every primitive key type round-trip: the writer casts them to their
  * columns' types and stamps field ids (timestamps as INT64 micros, whatever
  * the session writes by default), and a key matches the data value it was
  * taken from. A delete file missing a key column fails with the file named
  * instead of reading the key as null. Positional tombstones address a data
  * file by one path form, with or without its `file:` scheme, and every
  * positional delete file carries the spec's reserved field ids. */
class DeleteFileDecodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getPath

  /** (case, the table's key expression over `id`, the key frame's). */
  private val cases: Seq[(String, String, String)] = {
    val micros = "timestamp_micros(1700000000000000 + id * 1000001)"
    def same(name: String, expr: String) = (name, expr, expr)
    Seq(
      same("int", "CAST(id AS INT)"),
      same("long", "id * 10000000000"),
      same("string", "concat('key-', id)"),
      same("date", "date_add(DATE'2024-02-27', CAST(id AS INT))"),
      same("timestamptz", micros),
      same("timestamp", s"CAST($micros AS TIMESTAMP_NTZ)"),
      same("decimal(10,2)", "CAST(id + 0.25 AS DECIMAL(10,2))"),
      same("decimal(38,4)", "CAST(id * 1000000000000 + 0.0625 AS DECIMAL(38,4))"),
      same("binary", "CAST(concat('b', id) AS BINARY)"),
      same("boolean", "id % 2 = 0"),
      ("int key frame on a long column", "id", "CAST(id AS INT)"))
  }

  /** Field ids and physical types of a parquet file's top-level columns. */
  private def footerColumns(path: String): Seq[(Option[Int], PrimitiveTypeName)] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq.map(f =>
      (Option(f.getId).map(_.intValue), f.asPrimitiveType.getPrimitiveTypeName))
    finally r.close()
  }

  private def sortedValues(df: DataFrame): Seq[Long] =
    df.select("v").collect().map(_.getLong(0)).toSeq.sorted

  test("equality deletes on every key type delete exactly their rows, " +
      "written under field ids and without INT96") {
    val problems = cases.flatMap { case (name, tableExpr, keyExpr) =>
      val source = spark.range(0, 8).selectExpr(s"$tableExpr AS k", "id AS v")
      val keys = spark.range(0, 8).where("id IN (1, 4)").selectExpr(s"$keyExpr AS k")
      val expected = sortedValues(source.join(keys, Seq("k"), "left_anti"))
      assert(expected.size < 8, s"$name: the keys match no row")
      val loc = tmpDir("eqkey")
      val t = TableWriter.create(source.coalesce(1), loc)
      val outcome =
        try {
          val after = TableWriter.deleteEquality(t, keys, Seq("k"))
          val keyFiles = after.newScan().planFiles().flatMap(_.deleteFiles)
            .map(_.path).distinct
          val footers = keyFiles.flatMap(p => footerColumns(p).map(p -> _))
          val got = sortedValues(IcebergTables.load(loc).newScan().toDF(spark))
          Seq(
            if (got == expected) None else Some(s"rows $got, expected $expected"),
            if (keyFiles.nonEmpty) None else Some("no equality-delete file"),
            footers.collectFirst { case (p, (None, _)) => s"$p: a column without a field id" },
            footers.collectFirst { case (p, (_, PrimitiveTypeName.INT96)) => s"$p: an INT96 column" }
          ).flatten
        } catch { case e: Exception => Seq(e.toString) }
      outcome.map(p => s"$name: $p")
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("positional delete files carry the reserved field ids") {
    val reserved = DeleteMatching.PositionalDeleteSchema.fields.map(f => Some(f.id))
    def liveDeleteFiles(t: IcebergTable): Seq[String] =
      t.newScan().planFiles().flatMap(_.deleteFiles).map(_.path).distinct
    /** The delete files of `t` without the reserved ids, or a note that it
      * has none. */
    def idProblems(name: String, t: IcebergTable): Seq[String] = {
      val files = liveDeleteFiles(t)
      if (files.isEmpty) Seq(s"$name: no positional delete file")
      else files.filterNot(p => footerColumns(p).map(_._1) == reserved)
        .map(p => s"$name: $p has ids ${footerColumns(p).map(_._1)}")
    }
    val loc = tmpDir("pos_ids")
    val t = TableWriter.create(spark.range(0, 10).selectExpr("id AS k").coalesce(1), loc)
    val deleted = TableWriter.deleteWhere(t, spark, col("k") === 2L)
    val (merged, _, _) = TableWriter.rewritePositionDeletes(
      TableWriter.deleteWhere(deleted, spark, col("k") === 5L), spark)

    val warehouse = tmpDir("pos_ids_wh")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gdec", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.gdec.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gdec.d")
    s.sql("""CREATE TABLE gdec.d.m (id BIGINT, s STRING)
             TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    s.sql("INSERT INTO gdec.d.m VALUES (1, 'aax'), (2, 'bbb'), (3, 'aay')")
    // LIKE is not pushable: the row-level delta write, not deleteWhere
    s.sql("DELETE FROM gdec.d.m WHERE s LIKE '%a_'")
    val mor = IcebergTables.load(s"$warehouse/d/m")

    val problems = idProblems("deleteWhere", deleted) ++
      idProblems("rewritePositionDeletes", merged) ++
      idProblems("SQL merge-on-read DELETE", mor)
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(merged.newScan().toDF(spark).select("k").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    assert(mor.newScan().toDF(spark).select("id").collect().map(_.getLong(0))
      .toSeq == Seq(2L))
  }

  test("a delete file holding none of a key's id or names fails naming the file") {
    val dir = tmpDir("eqkey_missing")
    val withId = new MetadataBuilder().putLong(SchemaConv.FieldIdKey, 1L).build()
    val key = Array(StructField("k", LongType, nullable = true, withId))
    val cache = new DeleteFileCache(budgetBytes = 1L << 20)
    // an id-less file under another name, and a file with ids in which the
    // key's name carries another field's id
    val idLess = s"$dir/id-less"
    spark.range(0, 3).selectExpr("id AS other").coalesce(1).write.parquet(idLess)
    val otherId = s"$dir/other-id"
    spark.range(0, 3).select(col("id").as("k", new MetadataBuilder()
      .putLong(GraftCowWriterFactory.ParquetFieldIdKey, 2L).build()))
      .coalesce(1).write.parquet(otherId)
    val files = Seq(idLess, otherId).flatMap(d => new java.io.File(d).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")))
    assert(files.size == 2)
    assert(GraftReaders.footerInfo(files(1)).hasIds)
    files.foreach { f =>
      val e = intercept[IllegalStateException](cache.equalityKeys(f, Seq(Seq("k")), key))
      assert(e.getMessage.contains(f) && e.getMessage.contains("has none of k"),
        e.getMessage)
    }
  }

  test("positional deletes apply to a data file whose manifest path has a file:// scheme") {
    val loc = tmpDir("pos_scheme")
    val t = TableWriter.create(spark.range(0, 6).selectExpr("id AS k").coalesce(1), loc)
    val m = ManifestIO.readManifestList(t.io.open(t.currentSnapshot.get.manifestList)).head
    val file = new java.io.File(m.path.stripPrefix("file:"))
    val entries = ManifestIO.readManifestEntries(new java.io.FileInputStream(file), m,
      discardDeleted = false)
    ManifestIO.writeManifest(file, entries.map(e =>
      e.copy(dataFile = e.dataFile.copy(path = "file://" + e.dataFile.path))),
      t.spec.partitionType(t.schema))
    val schemed = IcebergTables.load(loc)
    assert(schemed.newScan().planFiles().map(_.file.path).forall(_.startsWith("file:///")))
    def keys(table: IcebergTable): Seq[Long] =
      table.newScan().toDF(spark).select("k").collect().map(_.getLong(0)).toSeq.sorted
    val deleted = TableWriter.deleteWhere(schemed, spark, col("k") === 2L)
    assert(keys(deleted) == Seq(0L, 1L, 3L, 4L, 5L))
    val (merged, _, _) = TableWriter.rewritePositionDeletes(deleted, spark)
    assert(keys(merged) == Seq(0L, 1L, 3L, 4L, 5L))
  }
}
