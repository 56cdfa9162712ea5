package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{GraftInputPartition, IcebergTables, SparkTestSession,
  TableWriter}

/** The batch changelog is a read of the `read-changes` scan: it returns the
  * rows the stream delivers, and a merge-on-read commit reads only the data
  * files its new tombstones touch. */
class ChangeScanSpec extends AnyFunSuite {

  private lazy val warehouse =
    Files.createTempDirectory("graft_cs").toFile.getPath

  private lazy val spark: SparkSession = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.catalog.gcs", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcs.warehouse", warehouse)
    s
  }

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).toFile.getPath

  /** Rows as value lists in column order: a rename changes a column's name,
    * not its position. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("batch changelog returns the rows the read-changes stream delivers") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcs.db")
    spark.sql("CREATE TABLE gcs.db.ev (id BIGINT, cat STRING, v BIGINT)")
    spark.sql("INSERT INTO gcs.db.ev VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'b', 30), (4, 'b', 40), (5, 'c', 50), (6, 'c', 60)")
    val loc = s"$warehouse/db/ev"
    val q = EventStreams.cancelCarryovers(spark.readStream.format("icegopher")
        .option("read-changes", "true").load(loc))
      .writeStream.format("memory").queryName("cs_stream")
      .option("checkpointLocation", tmpDir("cs_ck"))
      .outputMode(OutputMode.Append()).start()
    try {
      def step(commit: => Any): Unit = { commit; q.processAllAvailable() }
      q.processAllAvailable()
      step(TableWriter.append(IcebergTables.load(loc),
        Seq((7L, "d", 70L)).toDF("id", "cat", "v").coalesce(1)))
      // copy-on-write: the rewritten file's other rows are carryovers
      step(spark.sql("UPDATE gcs.db.ev SET v = v + 100 WHERE id = 2"))
      step(TableWriter.deleteWhere(IcebergTables.load(loc), spark,
        col("id") === 3L))
      step(TableWriter.deleteEquality(IcebergTables.load(loc),
        Seq("c").toDF("cat"), Seq("cat")))
      // the equality delete file keeps the key's old name
      step(TableWriter.renameColumn(IcebergTables.load(loc), "cat", "kind"))
      step(TableWriter.append(IcebergTables.load(loc),
        Seq((8L, "e", 80L)).toDF("id", "kind", "v").coalesce(1)))
      // V3: the deletion vector merges the file's positional tombstones
      step(TableWriter.deleteWhereDv(TableWriter.upgradeFormatVersion(
        IcebergTables.load(loc), spark, 3), spark, col("id") === 4L))

      val streamed = rowsOf(spark.table("cs_stream"))
      val batch = rowsOf(
        Changelog.changelogDF(spark, IcebergTables.load(loc), None))
      assert(batch == streamed,
        s"batch:\n${batch.mkString("\n")}\nstream:\n${streamed.mkString("\n")}")
      val byType = batch.groupMap(_(3))(r => (r(0), r(2)))
      assert(byType("delete").toSet ==
        Set((2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (6L, 60L)), batch)
      assert(byType("insert").toSet == ((1L to 8L).map(i => (i, i * 10)) :+
        ((2L, 120L))).toSet, batch)
    } finally q.stop()
  }

  test("a MoR delete's changelog reads only the data file it touches") {
    val s = spark
    import s.implicits._
    val t = TableWriter.create((0L until 40L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(4, col("id")), tmpDir("cs_touch"))
    assert(t.newScan().planFiles().size == 4)
    val touched = t.newScan().toDF(spark).filter(col("id") === 7L)
      .select("_file").head().getString(0)
    val after = TableWriter.deleteWhere(t, spark, col("id") === 7L)

    val log = Changelog.changelogDF(spark, after,
      Some(t.currentSnapshot.get.snapshotId))
    val read = log.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.toBatch.planInputPartitions().toSeq
    }.flatten.map(_.asInstanceOf[GraftInputPartition].path).toSet
    assert(read == Set(touched), read)
    assert(log.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "delete")))
  }

  test("read-changes on a catalog table fails instead of reading unlabelled rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcs.db")
    spark.sql("CREATE TABLE gcs.db.cat_rc (id BIGINT)")
    spark.sql("INSERT INTO gcs.db.cat_rc VALUES (1), (2)")
    spark.sql("DELETE FROM gcs.db.cat_rc WHERE id = 1")
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val reads = Seq(
      () => spark.read.option("read-changes", "true").table("gcs.db.cat_rc"),
      () => spark.sql(
        "SELECT * FROM gcs.db.cat_rc WITH ('read-changes' = 'true')"))
    reads.foreach { read =>
      val e = intercept[Exception](read().collect())
      assert(messages(e).contains("change columns"), messages(e))
    }
  }

  test("create_changelog_view over expired history counts retained commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcs.db")
    spark.sql("CREATE TABLE gcs.db.exp (id BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO gcs.db.exp VALUES ($i)"))
    val loc = s"$warehouse/db/exp"
    TableWriter.expireSnapshots(IcebergTables.load(loc),
      System.currentTimeMillis() + 1000, retainLast = 2)
    val res = spark.sql(
      "CALL gcs.system.create_changelog_view('db.exp', 'exp_changes', 0, 0)")
      .collect()
    assert(res(0).getString(0) == "exp_changes" && res(0).getInt(1) == 2,
      res.toSeq)
    assert(spark.sql("SELECT id FROM exp_changes").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }
}
