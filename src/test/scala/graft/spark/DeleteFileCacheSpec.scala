package graft.spark

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite

/** The executor's delete-file cache: a table whose data files each carry
  * more delete files than any small entry count parses each of them once,
  * concurrent callers of one file share one parse, and a file heavier than
  * the budget is served without being kept. */
class DeleteFileCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val DataFiles = 20
  private val DeleteFiles = 84

  /** 2,000 rows in 20 data files under one equality delete of every even
    * key, written as 84 files: one per shuffle partition of the delete's
    * distinct, as a parallel writer would. */
  private lazy val table: IcebergTable = {
    val loc = Files.createTempDirectory("tbl_delcache").toFile.getPath
    val t1 = TableWriter.create(spark.range(0, 2000)
      .selectExpr("id AS k", "CAST(id AS STRING) AS v").repartition(DataFiles), loc)
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> DeleteFiles.toString)
    // the shared session sets shuffle partitions itself: restore, not unset
    val was = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try TableWriter.deleteEquality(t1, spark.range(0, 1000).selectExpr("id * 2 AS k"), Seq("k"))
    finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def deletePaths: Seq[String] =
    table.newScan().planFiles().flatMap(_.deleteFiles).map(_.path).distinct

  private val keyField = Array(StructField("k", LongType))

  test("every data file under 84 equality-delete files: each is parsed once per JVM") {
    val tasks = table.newScan().planFiles()
    assert(tasks.size == DataFiles)
    assert(tasks.forall(_.deleteFiles.size == DeleteFiles),
      tasks.map(_.deleteFiles.size).distinct.mkString(","))

    val before = DeleteFileCache.fileReads.get()
    val retainedBefore = DeleteFileCache.retainedBytes
    assert(table.newScan().toDF(spark).count() == 1000)
    val reads = DeleteFileCache.fileReads.get() - before
    assert(reads <= DeleteFiles,
      s"$DeleteFiles delete files parsed $reads times across $DataFiles tasks")
    info(s"retained ${DeleteFileCache.retainedBytes - retainedBefore} bytes for " +
      s"$DeleteFiles files of 1,000 keys")

    val again = DeleteFileCache.fileReads.get()
    assert(table.newScan().toDF(spark).count() == 1000)
    assert(DeleteFileCache.fileReads.get() - again == 0, "a second read parsed again")
  }

  test("concurrent callers of one delete file share a single parse") {
    val cache = new DeleteFileCache(budgetBytes = 1L << 30)
    val path = deletePaths.head
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(new Callable[java.util.HashSet[Seq[Any]]] {
        def call(): java.util.HashSet[Seq[Any]] = {
          start.await()
          cache.equalityKeys(path, Seq(Seq("k")), keyField)
        }
      }))
      start.countDown()
      val sets = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(cache.fileReads.get() == 1)
      assert(!sets.head.isEmpty)
      assert(sets.forall(_ == sets.head))
      assert(sets.head.asScala.forall(k => k.head.asInstanceOf[Long] % 2 == 0))
    } finally pool.shutdownNow()
  }

  test("a delete file heavier than the budget is served but not kept") {
    val path = deletePaths.head
    val tiny = new DeleteFileCache(budgetBytes = 1L)
    val first = tiny.equalityKeys(path, Seq(Seq("k")), keyField)
    val second = tiny.equalityKeys(path, Seq(Seq("k")), keyField)
    assert(!first.isEmpty && first == second)
    assert(tiny.fileReads.get() == 2, "an entry over the budget was kept")
    assert(tiny.retainedBytes == 0)

    val roomy = new DeleteFileCache(budgetBytes = 1L << 30)
    assert(roomy.equalityKeys(path, Seq(Seq("k")), keyField) == first)
    assert(roomy.equalityKeys(path, Seq(Seq("k")), keyField) == first)
    assert(roomy.fileReads.get() == 1)
    assert(roomy.retainedBytes > 0)
  }
}
