package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a generated-code compile failure fails the spec instead of falling
      // back to interpreted evaluation
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** End-to-end: write an Iceberg table from the driver-generated parquet,
  * read it back through the scan planner, verify file skipping, time travel,
  * branches/tags, and merge-on-read positional deletes. */
class IcebergTableSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).toFile.getPath

  test("create + read back round trips row count and values") {
    val loc = tmpDir("tbl_basic")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val table = TableWriter.create(src, loc)
    assert(table.currentSnapshot.nonEmpty)
    assert(table.schema.fields.map(_.name) == Seq("r_regionkey", "r_name"))

    val back = table.newScan().toDF(spark)
    assert(back.count() == src.count())
    assert(back.orderBy("r_regionkey").collect().map(_.getString(1)).toSeq ==
      src.orderBy("r_regionkey").collect().map(_.getString(1)).toSeq)
  }

  test("unreadable data format fails at plan time with path and format named") {
    import graft.core.ManifestIO
    val loc = tmpDir("tbl_badfmt")
    val table = TableWriter.create(spark.read.parquet(s"$sf/region.parquet"), loc)
    // rewrite the committed manifest with the entry's format flipped to an
    // unreadable one (AVRO/ORC are real formats now — FormatReadSpec)
    val snap = table.currentSnapshot.get
    val m = ManifestIO.readManifestList(table.io.open(snap.manifestList)).head
    val entries = ManifestIO.readManifestEntries(
      new java.io.FileInputStream(m.path.stripPrefix("file:")), m,
      discardDeleted = false)
    ManifestIO.writeManifest(new java.io.File(m.path.stripPrefix("file:")),
      entries.map(e => e.copy(dataFile = e.dataFile.copy(format = "CSV"))),
      table.spec.partitionType(table.schema))
    val ex = intercept[UnsupportedOperationException] {
      IcebergTables.load(loc).newScan().planFiles()
    }
    assert(ex.getMessage.contains("CSV"), ex.getMessage)
    assert(ex.getMessage.contains(entries.head.dataFile.path), ex.getMessage)
  }

  test("stats-based file skipping prunes files") {
    val loc = tmpDir("tbl_prune")
    // 4 files with disjoint orderkey ranges via sorted repartitionByRange
    val src = spark.read.parquet(s"$sf/orders.parquet")
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    val table = TableWriter.create(src, loc)
    val all = table.newScan().planFiles()
    assert(all.size == 4)

    val minKey = src.agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .collect()(0).getLong(0)
    val some = table.newScan(Expr.equalTo("o_orderkey", LongLit(minKey))).planFiles()
    assert(some.size == 1, s"expected 1 file after stats pruning, got ${some.size}")

    val none = table.newScan(Expr.equalTo("o_orderkey", LongLit(-5))).planFiles()
    assert(none.isEmpty)

    // and the DataFrame result is still correct
    val cnt = table.newScan(Expr.equalTo("o_orderkey", LongLit(minKey))).toDF(spark).count()
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderkey") === minKey).count()
    assert(cnt == expect)
  }

  test("partitioned table prunes on partition tuples and summaries") {
    val loc = tmpDir("tbl_part")
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val table = TableWriter.create(src, loc,
      partitionBy = Seq("c_mktsegment" -> IdentityTransform))
    val all = table.newScan().planFiles()
    assert(all.size >= 5) // one file per segment at least

    val one = table.newScan(Expr.equalTo("c_mktsegment", StrLit("BUILDING"))).planFiles()
    assert(one.nonEmpty && one.size < all.size)
    assert(one.forall(_.file.partition("c_mktsegment") == "BUILDING"))

    val df = table.newScan(Expr.equalTo("c_mktsegment", StrLit("BUILDING"))).toDF(spark)
    val expect = src.filter(col("c_mktsegment") === "BUILDING").count()
    assert(df.count() == expect)
  }

  test("bucket-partitioned table prunes equality predicates") {
    val loc = tmpDir("tbl_bucket")
    val src = spark.read.parquet(s"$sf/supplier.parquet")
    val table = TableWriter.create(src, loc,
      partitionBy = Seq("s_suppkey" -> BucketTransform(4)))
    val all = table.newScan().planFiles()
    assert(all.size > 1)
    val one = table.newScan(Expr.equalTo("s_suppkey", LongLit(1))).planFiles()
    assert(one.size < all.size)
    val df = table.newScan(Expr.equalTo("s_suppkey", LongLit(1))).toDF(spark)
    assert(df.count() == 1)
  }

  test("append creates a second snapshot; time travel reads the first") {
    val loc = tmpDir("tbl_tt")
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val t1 = TableWriter.create(src.filter(col("n_regionkey") === 0), loc)
    val firstSnap = t1.currentSnapshot.get.snapshotId
    val firstCount = t1.newScan().toDF(spark).count()

    val t2 = TableWriter.append(t1, src.filter(col("n_regionkey") =!= 0))
    assert(t2.metadata.snapshots.size == 2)
    assert(t2.newScan().toDF(spark).count() == src.count())
    // snapshot pin
    assert(t2.newScan(snapshotId = Some(firstSnap)).toDF(spark).count() == firstCount)
    // as-of-time travel
    val t1Time = t2.metadata.snapshotLog.head.timestampMs
    assert(t2.newScan(asOfTimestampMs = Some(t1Time)).toDF(spark).count() == firstCount)
  }

  test("branches and tags resolve to snapshots") {
    val loc = tmpDir("tbl_refs")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    val tagged = TableWriter.createRef(t1, "v1.0", TagRef)
    val t2 = TableWriter.append(tagged, src) // doubles the rows
    assert(t2.newScan().toDF(spark).count() == 2 * src.count())
    assert(t2.newScan(ref = Some("v1.0")).toDF(spark).count() == src.count())
    assert(t2.newScan(ref = Some("main")).toDF(spark).count() == 2 * src.count())
    intercept[IllegalArgumentException](t2.newScan(ref = Some("nope")).planFiles())
  }

  test("merge-on-read positional deletes") {
    val loc = tmpDir("tbl_mor")
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val t1 = TableWriter.create(src, loc)
    val t2 = TableWriter.deleteWhere(t1, spark, col("n_regionkey") === 2)
    val expect = src.filter(col("n_regionkey") =!= 2).count()
    val got = t2.newScan().toDF(spark)
    assert(got.count() == expect)
    assert(got.filter(col("n_regionkey") === 2).count() == 0)
    // delete files are matched to tasks
    val tasks = t2.newScan().planFiles()
    assert(tasks.exists(_.deleteFiles.nonEmpty))
    // time travel back to before the delete still sees all rows
    val firstSnap = t2.metadata.snapshots.head.snapshotId
    assert(t2.newScan(snapshotId = Some(firstSnap)).toDF(spark).count() == src.count())
  }

  test("merge-on-read equality deletes") {
    import spark.implicits._
    val loc = tmpDir("tbl_eqdel")
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val t1 = TableWriter.create(src, loc)
    val keys = Seq(1L, 5L, 9L).toDF("c_custkey")
    val t2 = TableWriter.deleteEquality(t1, keys, Seq("c_custkey"))
    val got = t2.newScan().toDF(spark)
    assert(got.count() == src.count() - 3)
    assert(got.filter(col("c_custkey").isin(1L, 5L, 9L)).count() == 0)
    // rows appended AFTER the equality delete are not affected
    val t3 = TableWriter.append(t2, src.filter(col("c_custkey") === 1L))
    assert(t3.newScan().toDF(spark).filter(col("c_custkey") === 1L).count() == 1)
    // time travel before the delete sees everything
    val firstSnap = t3.metadata.snapshots.head.snapshotId
    assert(t3.newScan(snapshotId = Some(firstSnap)).toDF(spark).count() == src.count())
  }

  test("compaction rewrites deletes away and preserves results") {
    val loc = tmpDir("tbl_compact")
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val t1 = TableWriter.create(src.repartition(6), loc)
    val t2 = TableWriter.deleteWhere(t1, spark, col("c_nationkey") === 3)
    val before = t2.newScan().toDF(spark).count()
    assert(t2.newScan().planFiles().exists(_.deleteFiles.nonEmpty))

    val t3 = TableWriter.compact(t2, spark, targetFiles = 2)
    val tasks = t3.newScan().planFiles()
    assert(tasks.size == 2)
    assert(tasks.forall(_.deleteFiles.isEmpty), "compaction must absorb deletes")
    assert(t3.newScan().toDF(spark).count() == before)
    assert(t3.currentSnapshot.flatMap(_.summary).map(_.operation).contains(OpReplace))
    // pre-compaction snapshot still time-travels with its deletes applied
    val prevSnap = t2.currentSnapshot.get.snapshotId
    assert(t3.newScan(snapshotId = Some(prevSnap)).toDF(spark).count() == before)
  }

  test("schema evolution: added column is null for old files, real for new") {
    import spark.implicits._
    val loc = tmpDir("tbl_evolve")
    val t1 = TableWriter.create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), loc)
    val t2 = TableWriter.addColumn(t1, "score", DoubleT)
    assert(t2.schema.fields.map(_.name) == Seq("id", "name", "score"))
    assert(t2.metadata.schemas.size == 2)
    // old files read with nulls in the new column
    val read = t2.newScan().toDF(spark)
    assert(read.columns.toSeq == Seq("id", "name", "score"))
    assert(read.filter(col("score").isNull).count() == 2)
    // append rows carrying the new column
    val t3 = TableWriter.append(t2, Seq((3L, "c", 0.5)).toDF("id", "name", "score"))
    val all = t3.newScan().toDF(spark)
    assert(all.count() == 3)
    assert(all.filter(col("score").isNotNull).count() == 1)
  }

  test("writer records nan counts; isNaN prunes NaN-free files") {
    import spark.implicits._
    val loc = tmpDir("tbl_nan")
    // two files with disjoint id ranges: NaN lands only in the first
    val src = Seq((1L, Double.NaN), (2L, 0.5), (3L, 1.5), (4L, 2.5))
      .toDF("id", "v")
      .repartitionByRange(2, col("id"))
      .sortWithinPartitions("id")
    val table = TableWriter.create(src, loc)
    val tasks = table.newScan().planFiles()
    assert(tasks.size == 2)
    val vId = table.schema.findFieldByName("v").get.id
    // both files carry an entry; exactly one is non-zero
    assert(tasks.forall(_.file.nanValueCounts.contains(vId)))
    assert(tasks.count(_.file.nanValueCounts(vId) > 0) == 1)
    // isNaN prunes down to the NaN-bearing file
    val pruned = table.newScan(Expr.isNan("v")).planFiles()
    assert(pruned.size == 1)
    assert(pruned.head.file.nanValueCounts(vId) == 1L)
    // and the result is right
    assert(table.newScan(Expr.isNan("v")).toDF(spark)
      .filter(col("v").isNaN).count() == 1)
  }

  test("float/double partition summaries carry bounds and honest containsNaN") {
    import spark.implicits._
    val loc = tmpDir("tbl_fpart")
    val src = Seq((1L, 0.5), (2L, 0.5), (3L, 2.5), (4L, 2.5))
      .toDF("id", "score")
    val table = TableWriter.create(src, loc,
      partitionBy = Seq("score" -> IdentityTransform))
    val manifests = ManifestIO.readManifestList(
      table.io.open(table.currentSnapshot.get.manifestList))
    val summary = manifests.head.partitions.head
    assert(summary.containsNaN.contains(false))
    assert(summary.lowerBound.flatMap(b => LiteralCodec.fromBytes(DoubleT, b))
      .contains(DoubleLit(0.5)))
    assert(summary.upperBound.flatMap(b => LiteralCodec.fromBytes(DoubleT, b))
      .contains(DoubleLit(2.5)))
    // notNull over the double partition keeps all files (the latent
    // unknown-skip bug this guards against dropped them)
    assert(table.newScan(Expr.notNull("score")).planFiles().size ==
      table.newScan().planFiles().size)
    // and partition pruning on the double works
    val one = table.newScan(Expr.equalTo("score", DoubleLit(0.5))).planFiles()
    assert(one.nonEmpty &&
      one.size < table.newScan().planFiles().size)
  }

  test("MoR update rewrites only matching rows") {
    import spark.implicits._
    val loc = tmpDir("tbl_upd")
    val t1 = TableWriter.create(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "grp", "v"), loc)
    val t2 = TableWriter.updateWhere(t1, spark, col("grp") === "a",
      Map("v" -> (col("v") * 2)))
    val got = t2.newScan().toDF(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 20.0), (2L, 20.0), (3L, 60.0)))
    // time travel to before the update still sees originals
    val firstSnap = t2.metadata.snapshots.head.snapshotId
    assert(t2.newScan(snapshotId = Some(firstSnap)).toDF(spark)
      .filter(col("v") === 10.0).count() == 1)
  }

  test("upsert replaces keyed rows and inserts new ones") {
    import spark.implicits._
    val loc = tmpDir("tbl_ups")
    val t1 = TableWriter.create(
      Seq((1L, "old"), (2L, "keep")).toDF("id", "name"), loc)
    val t2 = TableWriter.upsert(t1,
      Seq((1L, "new"), (3L, "ins")).toDF("id", "name"), Seq("id"))
    val got = t2.newScan().toDF(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("partitioned write distributes by partition value (no file explosion)") {
    val loc = tmpDir("tbl_dist")
    // 8 upstream tasks x 5 segments would naively write up to 40 files;
    // hash distribution bounds it at one file per partition value
    val src = spark.read.parquet(s"$sf/customer.parquet").repartition(8)
    val table = TableWriter.create(src, loc,
      partitionBy = Seq("c_mktsegment" -> IdentityTransform))
    val files = table.newScan().planFiles()
    val segments = src.select("c_mktsegment").distinct().count()
    assert(files.size == segments,
      s"expected one file per segment ($segments), got ${files.size}")
  }

  test("write-side sort order clusters files for stats pruning") {
    val loc = tmpDir("tbl_sorted")
    val src = spark.read.parquet(s"$sf/orders.parquet").repartition(8) // scrambled
    // AQE would coalesce a test-sized range shuffle into one partition;
    // keep several so the disjoint-bounds property is observable
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val table =
      try TableWriter.create(src, loc, sortBy = Seq("o_orderkey"))
      finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // metadata records the order; files are stamped with it
    assert(table.metadata.defaultSortOrderId == 1)
    assert(table.metadata.sortOrders.exists(o => o.orderId == 1 &&
      o.fields.map(_.direction) == Seq(SortAsc)))
    val tasks = table.newScan().planFiles()
    assert(tasks.size > 1)
    assert(tasks.forall(_.file.sortOrderId.contains(1)))
    // range clustering → disjoint bounds → point predicate hits ONE file
    val keyId = table.schema.findFieldByName("o_orderkey").get.id
    val someKey = src.agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .collect()(0).getLong(0)
    val hit = table.newScan(Expr.equalTo("o_orderkey", LongLit(someKey))).planFiles()
    assert(hit.size == 1,
      s"sorted write should prune to 1 file, got ${hit.size} of ${tasks.size}")
    // and results are complete despite the rewrite shuffle
    assert(table.newScan().toDF(spark).count() == src.count())
  }

  test("projection prunes columns") {
    val loc = tmpDir("tbl_proj")
    val src = spark.read.parquet(s"$sf/part.parquet")
    val table = TableWriter.create(src, loc)
    val df = table.newScan(selected = Seq("p_partkey", "p_name")).toDF(spark)
    assert(df.columns.toSeq == Seq("p_partkey", "p_name"))
    assert(df.count() == src.count())
  }

  test("concurrent commits at the same version conflict instead of clobbering") {
    val loc = tmpDir("tbl_cas")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    // two writers load the SAME table state, both try to commit version 2
    val stale = IcebergTables.load(loc)
    TableWriter.append(t1, src) // wins
    intercept[graft.catalog.CommitConflictError] {
      TableWriter.append(stale, src) // loser must not silently clobber
    }
    // the winning commit is intact
    assert(IcebergTables.load(loc).newScan().toDF(spark).count() == 2 * src.count())
  }

  test("withCommitRetry reloads and lands the loser's commit") {
    val loc = tmpDir("tbl_retry")
    val src = spark.read.parquet(s"$sf/region.parquet")
    TableWriter.create(src, loc)
    // N writers race from the same observed state; every append must land
    val threads = (1 to 3).map { _ =>
      new Thread(() =>
        TableWriter.withCommitRetry(IcebergTables.load(loc))(t => TableWriter.append(t, src)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(IcebergTables.load(loc).newScan().toDF(spark).count() == 4 * src.count())
    assert(IcebergTables.load(loc).metadata.snapshots.size == 4)
  }

  test("rollback moves main to an earlier snapshot, history preserved") {
    val loc = tmpDir("tbl_rb")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    val snap1 = t1.currentSnapshot.get.snapshotId
    val t2 = TableWriter.append(t1, src)
    assert(t2.newScan().toDF(spark).count() == 2 * src.count())

    val t3 = TableWriter.rollbackTo(t2, snap1)
    assert(t3.currentSnapshot.get.snapshotId == snap1)
    assert(t3.newScan().toDF(spark).count() == src.count())
    // the rolled-back snapshot remains reachable by id
    val snap2 = t2.currentSnapshot.get.snapshotId
    assert(t3.newScan(snapshotId = Some(snap2)).toDF(spark).count() == 2 * src.count())
  }

  test("expireSnapshots drops old snapshots and orphaned files") {
    val loc = tmpDir("tbl_exp")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    val firstSnap = t1.currentSnapshot.get.snapshotId
    // overwrite: first snapshot's files become unreachable from current
    val t2 = TableWriter.overwrite(t1, src.limit(2))
    val firstFiles = t2.newScan(snapshotId = Some(firstSnap)).planFiles()
      .map(_.file.path)
    assert(firstFiles.forall(p => new java.io.File(p).exists()))

    val t3 = TableWriter.expireSnapshots(t2,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1,
      deleteFiles = true)
    assert(t3.metadata.snapshots.map(_.snapshotId) ==
      Seq(t2.currentSnapshot.get.snapshotId))
    // expired snapshot no longer resolvable; its orphaned files are gone
    intercept[IllegalArgumentException] {
      t3.newScan(snapshotId = Some(firstSnap)).planFiles()
    }
    assert(firstFiles.forall(p => !new java.io.File(p).exists()))
    // current data intact
    assert(t3.newScan().toDF(spark).count() == 2)
  }

  test("expireSnapshots ages out refs past max-ref-age-ms") {
    val loc = tmpDir("tbl_refage")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    val snap1 = t1.currentSnapshot.get.snapshotId
    // an aged tag (0 ms retention) and an unaged one pin the same snapshot
    val t2 = TableWriter.createRef(t1, "aged", graft.core.TagRef,
      maxRefAgeMs = Some(0L))
    val t3 = TableWriter.createRef(t2, "durable", graft.core.TagRef)
    val t4 = TableWriter.append(t3, src)
    Thread.sleep(5)
    val t5 = TableWriter.expireSnapshots(t4,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    // the aged ref is gone; the durable one still pins snapshot 1
    assert(!t5.metadata.refs.contains("aged"))
    assert(t5.metadata.refs("durable").snapshotId == snap1)
    assert(t5.metadata.snapshotById(snap1).isDefined,
      "durable tag must keep its snapshot alive")
    // drop the durable tag too: the old snapshot now expires
    val t6 = TableWriter.dropRef(t5, "durable")
    val t7 = TableWriter.expireSnapshots(t6,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t7.metadata.snapshotById(snap1).isEmpty)
  }

  test("write-audit-publish: branch appends are invisible until fast-forward") {
    val loc = tmpDir("tbl_wap")
    import spark.implicits._
    val t1 = TableWriter.create(Seq(1L, 2L).toDF("id").coalesce(1), loc)
    val mainBefore = t1.currentSnapshot.get.snapshotId

    // two staged commits on the audit branch
    val t2 = TableWriter.appendToBranch(t1, Seq(3L).toDF("id").coalesce(1), "audit")
    val t3 = TableWriter.appendToBranch(t2, Seq(4L).toDF("id").coalesce(1), "audit")

    // main unmoved; branch sees the staged rows; branch lineage chains
    assert(t3.currentSnapshot.get.snapshotId == mainBefore)
    assert(t3.newScan().toDF(spark).count() == 2)
    assert(t3.newScan(ref = Some("audit")).toDF(spark)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    val auditHead = t3.metadata.snapshotByName("audit").get
    assert(t3.metadata.snapshotById(auditHead.parentSnapshotId.get)
      .flatMap(_.parentSnapshotId).contains(mainBefore))

    // publish: main fast-forwards to the audit head
    val t4 = TableWriter.fastForward(t3, "audit")
    assert(t4.currentSnapshot.get.snapshotId == auditHead.snapshotId)
    assert(t4.newScan().toDF(spark).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))

    // diverged main (a new commit after the fork) must refuse to fast-forward
    val t5 = TableWriter.appendToBranch(t4, Seq(9L).toDF("id").coalesce(1), "other")
    val t6 = TableWriter.append(t5, Seq(5L).toDF("id").coalesce(1))
    val e = intercept[IllegalArgumentException](TableWriter.fastForward(t6, "other"))
    assert(e.getMessage.contains("fast-forward"))

    // ...which is exactly what cherry-pick is for: re-apply the branch
    // append onto the diverged head as a new snapshot
    val otherHead = t6.metadata.snapshotByName("other").get.snapshotId
    val t7 = TableWriter.cherrypickSnapshot(t6, otherHead)
    assert(t7.newScan().toDF(spark).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 5L, 9L))
    assert(t7.currentSnapshot.get.summary.get
      .properties("source-snapshot-id") == otherHead.toString)

    // double-publish guard: the same source cannot be applied twice
    val dup = intercept[IllegalArgumentException](
      TableWriter.cherrypickSnapshot(t7, otherHead))
    assert(dup.getMessage.contains("already published"))

    // non-append snapshots are refused (replaying a delete could re-kill
    // rows it never saw)
    val t8 = TableWriter.deleteWhere(t7, spark, col("id") === 9L)
    val delSnap = t8.currentSnapshot.get.snapshotId
    val t9 = TableWriter.rollbackTo(t8, t7.currentSnapshot.get.snapshotId)
    val bad = intercept[IllegalArgumentException](
      TableWriter.cherrypickSnapshot(t9, delSnap))
    assert(bad.getMessage.contains("append"))
  }

  test("bloom filter table property reaches the written parquet") {
    val loc = tmpDir("tbl_bloom")
    val src = spark.read.parquet(s"$sf/orders.parquet").coalesce(1)
    val t = TableWriter.create(src, loc, properties = Map(
      "write.parquet.bloom-filter-enabled.column.o_orderkey" -> "true"))
    val path = t.newScan().planFiles().head.file.path
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val cols = r.getFooter.getBlocks.get(0).getColumns.asScala
      def bloomOffset(c: String): Long =
        cols.find(_.getPath.toDotString == c).get.getBloomFilterOffset
      assert(bloomOffset("o_orderkey") >= 0,
        "o_orderkey should carry a bloom filter")
      assert(bloomOffset("o_custkey") < 0,
        "unconfigured columns should not pay for bloom filters")
    } finally r.close()
  }

  test("pushed predicates skip row groups via bloom/dictionary on read") {
    import spark.implicits._
    val loc = tmpDir("tbl_rg")
    // even ids only: a probe for an odd id is within min/max bounds, so
    // manifest stats CANNOT prune the file — only in-file row-group
    // filtering (dictionary/bloom) can prove absence
    TableWriter.create(
      spark.range(10000).select(($"id" * 2).as("id")).coalesce(1), loc,
      properties = Map(
        "write.parquet.bloom-filter-enabled.column.id" -> "true"))

    def decodedRows(cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.format("icegopher").load(loc).filter(cond)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics("numOutputRows").value
      }.get
    }
    // file NOT pruned (1 planned file), yet zero rows decoded: the row
    // group was skipped inside the reader
    val t = IcebergTables.load(loc)
    assert(t.newScan(Expr.equalTo("id", LongLit(4001L))).planFiles().size == 1)
    assert(decodedRows(col("id") === 4001L) == 0L,
      "absent-value probe should decode nothing")
    // present value decodes (and residual filtering still nets one row)
    assert(decodedRows(col("id") === 4000L) > 0L)
  }

  test("writers roll files at write.target-file-size-bytes") {
    val loc = tmpDir("tbl_roll")
    val src = spark.read.parquet(s"$sf/orders.parquet").coalesce(1) // ONE task
    val t = TableWriter.create(src, loc,
      properties = Map("write.target-file-size-bytes" -> "16384"))
    val files = t.newScan().planFiles()
    assert(files.size > 1, s"one task should roll into several files, got ${files.size}")
    // all rows present, every file bounded well under the source size
    assert(t.newScan().toDF(spark).count() == src.count())
    // rolled files stay near the target (the roll triggers AT the
    // threshold, so files overshoot by at most one row-group flush)
    assert(files.map(_.file.fileSizeInBytes).max < 16384 * 20,
      files.map(_.file.fileSizeInBytes).mkString(","))
  }

  test("metadata tables") {
    val loc = tmpDir("tbl_meta")
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t1 = TableWriter.create(src, loc)
    val t2 = TableWriter.append(t1, src)
    assert(t2.snapshotsDF(spark).count() == 2)
    assert(t2.historyDF(spark).count() == 2)
    assert(t2.refsDF(spark).collect().map(_.getString(0)).contains("main"))
    assert(t2.filesDF(spark).count() == t2.newScan().planFiles().size)
    assert(t2.manifestsDF(spark).count() == 2)
  }

  test("schema conversion round trips field ids") {
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
    val iceberg = SchemaConv.fromSparkSchema(src.schema)
    assert(iceberg.fields.map(_.id) == (1 to src.schema.size))
    val back = SchemaConv.toSparkSchema(iceberg)
    assert(back.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.fields.forall(_.metadata.contains(SchemaConv.FieldIdKey)))
  }

  test("spark filter conversion") {
    import org.apache.spark.sql.sources._
    val e = FilterConv.fromSparkFilter(
      And(EqualTo("a", 5), GreaterThan("b", "x")))
    assert(e.contains(graft.core.And(
      Expr.equalTo("a", IntLit(5)), Expr.greaterThan("b", StrLit("x")))))
    assert(FilterConv.fromSparkFilter(StringContains("a", "z")).isEmpty)
  }
}
