package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{SparkTestSession, TableWriter}

/** Drives the streaming operators through MemoryStream (real incremental
  * execution, not batch shortcuts) and the incremental Iceberg read across
  * snapshots. */
class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("watermarked windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.windowedCounts(events, "10 minutes", "20 minutes")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode(OutputMode.Update()).start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((t(1), "click", 1.0), (t(2), "click", 2.0), (t(11), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
      val clicks = rows.find(r => r.getString(1) == "click").get
      assert(clicks.getLong(2) == 2 && clicks.getDouble(3) == 3.0)
      // late-but-within-watermark data updates the first window
      input.addData((t(3), "click", 4.0))
      q.processAllAvailable()
      val clicks2 = spark.table("winagg").collect()
        .filter(r => r.getString(1) == "click").maxBy(_.getLong(2))
      assert(clicks2.getLong(2) == 3 && clicks2.getDouble(3) == 7.0)
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "event_id", "payload")
    val deduped = EventStreams.dedupStream(events, Seq("event_id"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedupst")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((t(1), 1L, "a"), (t(2), 2L, "b"), (t(3), 1L, "a-dup"))
      q.processAllAvailable()
      // a replay in a later batch within the watermark is dropped too
      input.addData((t(4), 2L, "b-dup"), (t(5), 3L, "c"))
      q.processAllAvailable()
      val ids = spark.table("dedupst").collect().map(_.getLong(1)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = EventStreams.intervalJoin(
      imps.toDF().toDF("ts", "user_id", "ad"),
      clicks.toDF().toDF("ts", "user_id", "target"),
      key = "user_id", maxDelay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      imps.addData((t(0), 1L, "adA"), (t(0), 2L, "adB"))
      // user 1 clicks inside the window, user 2 clicks 20 min late,
      // user 3 clicks with no impression at all
      clicks.addData((t(5), 1L, "landing"), (t(20), 2L, "landing"),
        (t(5), 3L, "landing"))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("l_user_id"), r.getAs[String]("l_ad"),
          r.getAs[String]("r_target")))
      assert(rows.toSeq == Seq((1L, "adA", "landing")), rows.mkString(","))
    } finally q.stop()
  }

  test("stateful sessionization via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val out = EventStreams.sessionize(input.toDS(), timeoutMs = 0)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      def ev(u: Long, min: Int, v: Double) = EventStreams.Event(u,
        Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), "click", v)
      input.addData(ev(1, 0, 1.0), ev(1, 1, 2.0), ev(2, 0, 5.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(sessions(1L) == (2L, 3.0))
      assert(sessions(2L) == (1L, 5.0))
      // second batch accumulates into existing state
      input.addData(ev(1, 2, 10.0))
      q.processAllAvailable()
      val s1 = spark.table("sessions").collect().filter(_.getLong(0) == 1L)
        .maxBy(_.getLong(1))
      assert(s1.getLong(1) == 3 && s1.getDouble(2) == 13.0)
    } finally q.stop()
  }

  test("incremental read returns only post-snapshot rows") {
    val loc = Files.createTempDirectory("tbl_incr").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val t1 = TableWriter.create(src.filter(col("n_regionkey") === 0), loc)
    val snap1 = t1.currentSnapshot.get.snapshotId
    val t2 = TableWriter.append(t1, src.filter(col("n_regionkey") === 1))
    val t3 = TableWriter.append(t2, src.filter(col("n_regionkey") === 2))

    val incr = EventStreams.incrementalRead(t3, spark, snap1)
    val expect = src.filter(col("n_regionkey") === 1 || col("n_regionkey") === 2).count()
    assert(incr.count() == expect)
    assert(incr.filter(col("n_regionkey") === 0).count() == 0)

    // bounded range: only snapshot 2's files
    val snap2 = t3.metadata.snapshots(1).snapshotId
    val bounded = EventStreams.appendedFilesBetween(t3, snap1, Some(snap2))
    val rows2 = bounded.map(_.file.recordCount).sum
    assert(rows2 == src.filter(col("n_regionkey") === 1).count())

    // same windows through the DSv2 reader options (the SQL-facing surface)
    val viaSource = spark.read.format("icegopher")
      .option("start-snapshot-id", snap1).load(loc)
    assert(viaSource.count() == expect)
    assert(viaSource.filter(col("n_regionkey") === 0).count() == 0)
    val viaBounded = spark.read.format("icegopher")
      .option("start-snapshot-id", snap1).option("end-snapshot-id", snap2).load(loc)
    assert(viaBounded.count() == src.filter(col("n_regionkey") === 1).count())
    // filters compose with the window (residual evaluation)
    assert(viaSource.filter(col("n_regionkey") === 2).count() ==
      src.filter(col("n_regionkey") === 2).count())
    // aggregate pushdown must NOT answer an incremental read from
    // full-table stats
    assert(viaSource.agg(org.apache.spark.sql.functions.count("*")).collect()(0)
      .getLong(0) == expect)
  }

  test("writeStream sink commits one append snapshot per epoch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types._
    val loc = Files.createTempDirectory("tbl_sink").toFile.getPath
    // the sink target must exist with the stream's schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    TableWriter.create(empty, loc)

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "s").writeStream.format("icegopher")
      .option("checkpointLocation",
        Files.createTempDirectory("sink_ck").toFile.getPath)
      .start(loc)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(spark.read.format("icegopher").load(loc).count() == 2)
      input.addData((3L, "c"))
      q.processAllAvailable()
      val got = spark.read.format("icegopher").load(loc).orderBy("id").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(got.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
      // one APPEND snapshot per non-empty epoch, each carrying its epoch id
      val t = graft.spark.IcebergTables.load(loc)
      val epochSnaps = t.metadata.snapshots.filter(
        _.summary.exists(_.properties.contains(GraftStreamingWrite.EpochKey)))
      assert(epochSnaps.size == 2, s"snapshots: ${t.metadata.snapshots}")
    } finally q.stop()
  }

  test("epoch-retry dedup survives interleaved commits and fresh queries") {
    import spark.implicits._
    val loc = Files.createTempDirectory("tbl_dedup").toFile.getPath
    val table = TableWriter.create(Seq((1L, "a")).toDF("id", "s"), loc)
    val schema = graft.spark.SchemaConv.toSparkSchema(table.schema)

    // a parquet file matching the table schema, registered via the sink path
    def dataFile(tag: String, row: (Long, String)): String = {
      val raw = Files.createTempDirectory(s"raw_$tag").toFile
      Seq(row).toDF("id", "s").coalesce(1).write.mode("overwrite")
        .parquet(raw.getPath)
      val src = raw.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(new java.io.File(loc, "data"), s"$tag.parquet")
      dest.getParentFile.mkdirs()
      Files.copy(src.toPath, dest.toPath)
      dest.getPath
    }
    def msgs(path: String) = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      graft.spark.GraftCowCommit(Seq(graft.spark.CowFileOut(path, 1, Map.empty))))
    def snapCount = graft.spark.IcebergTables.load(loc).metadata.snapshots.size

    val wA = new GraftStreamingWrite(graft.spark.IcebergTables.load(loc), schema, "queryA")
    wA.commit(0, msgs(dataFile("a0", (2L, "b"))))
    assert(snapCount == 2)

    // an interleaved batch append lands between commit and retry — the
    // epoch marker is no longer on the CURRENT snapshot
    TableWriter.append(graft.spark.IcebergTables.load(loc), Seq((3L, "c")).toDF("id", "s"))
    assert(snapCount == 3)

    // retry of epoch 0 must still dedup (history scan), deleting its files
    val dup = dataFile("a0retry", (2L, "b"))
    wA.commit(0, msgs(dup))
    assert(snapCount == 3, "retried epoch must not re-commit")
    assert(!new java.io.File(dup).exists(), "retry's duplicate files deleted")

    // a NEW query whose epoch numbering restarts at 0 must NOT be deduped
    // against queryA's epoch-0 marker
    val wB = new GraftStreamingWrite(graft.spark.IcebergTables.load(loc), schema, "queryB")
    wB.commit(0, msgs(dataFile("b0", (4L, "d"))))
    assert(snapCount == 4, "fresh query's first epoch must commit")
    assert(spark.read.format("icegopher").load(loc).count() == 4)
  }

  test("readStream over an Iceberg table emits appends per micro-batch") {
    val loc = Files.createTempDirectory("tbl_stream").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val t1 = TableWriter.create(src.filter(col("n_regionkey") === 0), loc)

    val q = spark.readStream.format("icegopher").load(loc)
      .writeStream.format("memory").queryName("icestream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // earliest (default): first batch replays the whole table
      val first = spark.table("icestream").count()
      assert(first == src.filter(col("n_regionkey") === 0).count())

      // append mid-stream → next micro-batch carries ONLY the new files
      TableWriter.append(graft.spark.IcebergTables.load(loc),
        src.filter(col("n_regionkey") === 1))
      q.processAllAvailable()
      val total = spark.table("icestream").count()
      assert(total == src.filter(col("n_regionkey") <= 1).count())
      assert(spark.table("icestream")
        .filter(col("n_regionkey") === 1).count() == total - first)
    } finally q.stop()
  }

  test("readStream does not re-emit compacted rows as appends") {
    val loc = Files.createTempDirectory("tbl_stream3").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src, loc)

    val q = spark.readStream.format("icegopher").load(loc)
      .writeStream.format("memory").queryName("icestream3")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("icestream3").count() == src.count())
      // compaction rewrites the same rows into new files — the stream must
      // NOT deliver them again
      TableWriter.compact(graft.spark.IcebergTables.load(loc), spark, 1)
      q.processAllAvailable()
      assert(spark.table("icestream3").count() == src.count(),
        "compaction must not duplicate streamed rows")
      // but a real append after the compaction still flows
      TableWriter.append(graft.spark.IcebergTables.load(loc), src.limit(3))
      q.processAllAvailable()
      assert(spark.table("icestream3").count() == src.count() + 3)
    } finally q.stop()
  }

  test("append racing a compaction is not lost by the stream") {
    val loc = Files.createTempDirectory("tbl_stream4").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src, loc)

    val q = spark.readStream.format("icegopher").load(loc)
      .writeStream.format("memory").queryName("icestream4")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("icestream4").count() == src.count())
      // append AND compaction land before the next batch is planned: the
      // compaction's manifest list no longer carries the append's manifest
      // (REPLACE starts from empty), so resolving the window from the
      // latest snapshot would silently drop the appended rows
      val t2 = TableWriter.append(graft.spark.IcebergTables.load(loc), src.limit(3))
      TableWriter.compact(t2, spark, 1)
      q.processAllAvailable()
      assert(spark.table("icestream4").count() == src.count() + 3,
        "append committed before a compaction must still be streamed")
    } finally q.stop()

    // the library changefeed walks per-snapshot lists the same way
    val t = graft.spark.IcebergTables.load(loc)
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    val appended = EventStreams.appendedFilesInWindow(t,
      snaps.head.sequenceNumber, snaps.last.sequenceNumber)
    assert(appended.map(_.file.recordCount).sum == 3,
      "changefeed over (create, compact] must surface exactly the appended rows")
  }

  test("changefeed fails loudly when a window snapshot was expired") {
    val loc = Files.createTempDirectory("tbl_stream5").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src, loc)
    Thread.sleep(5)
    val t2 = TableWriter.append(t1, src.limit(2))
    val t3 = TableWriter.append(t2, src.limit(1))
    // expire everything but the newest two snapshots: seq 1's snapshot is gone
    val expired = TableWriter.expireSnapshots(t3,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 2)
    assert(expired.metadata.snapshots.size == 2)
    val ex = intercept[IllegalStateException] {
      EventStreams.appendedFilesInWindow(expired, 0L, 3L)
    }
    assert(ex.getMessage.contains("expired"))
  }

  test("readStream earliest over expired history full-scans the oldest retained snapshot") {
    val loc = Files.createTempDirectory("tbl_stream6").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src, loc) // 5 regions
    Thread.sleep(5)
    val t2 = TableWriter.append(t1, src.limit(2))
    val t3 = TableWriter.append(t2, src.limit(1))
    // seq-1 snapshot expired: replaying appends from 0 is impossible, but
    // the oldest retained snapshot is still a correct initial load
    val expired = TableWriter.expireSnapshots(t3,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 2)
    assert(expired.metadata.snapshots.size == 2)

    val q = spark.readStream.format("icegopher").load(loc)
      .writeStream.format("memory").queryName("icestream6")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // oldest retained = snapshot 2 (5 + 2 rows) full-scanned, plus the
      // seq-3 append (1 row) — the whole current table, no data loss
      assert(spark.table("icestream6").count() == 8)
      // live appends keep flowing incrementally after the initial load
      TableWriter.append(graft.spark.IcebergTables.load(loc), src.limit(3))
      q.processAllAvailable()
      assert(spark.table("icestream6").count() == 11)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch") {
    val loc = Files.createTempDirectory("tbl_stream7").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src.limit(2).coalesce(1), loc)
    val t2 = TableWriter.append(t1, src.limit(1).coalesce(1))
    TableWriter.append(t2, src.limit(1).coalesce(1))

    val q = spark.readStream.format("icegopher")
      .option("maxFilesPerTrigger", "1").load(loc)
      .writeStream.format("memory").queryName("icestream7")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("icestream7").count() == 4, "no rows lost under rate limit")
      // three single-file snapshots with a 1-file cap → three non-empty batches
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >=3 rate-limited batches, got $nonEmpty: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("maxBytesPerTrigger bounds each micro-batch by size") {
    val loc = Files.createTempDirectory("tbl_stream8").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src.limit(2).coalesce(1), loc)
    val t2 = TableWriter.append(t1, src.limit(1).coalesce(1))
    TableWriter.append(t2, src.limit(1).coalesce(1))

    // 1-byte budget: every snapshot exceeds it, so the at-least-one-snapshot
    // progress rule makes each batch exactly one snapshot
    val q = spark.readStream.format("icegopher")
      .option("maxBytesPerTrigger", "1").load(loc)
      .writeStream.format("memory").queryName("icestream8")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("icestream8").count() == 4, "no rows lost under byte limit")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >=3 byte-limited batches, got $nonEmpty: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains existing snapshots in bounded batches, then stops") {
    val loc = Files.createTempDirectory("tbl_streamAN").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src.limit(2).coalesce(1), loc)
    val t2 = TableWriter.append(t1, src.limit(1).coalesce(1))
    TableWriter.append(t2, src.limit(1).coalesce(1))

    val q = spark.readStream.format("icegopher")
      .option("maxFilesPerTrigger", "1").load(loc)
      .writeStream.format("memory").queryName("icestreamAN")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
      // the full backlog is delivered, still respecting the per-batch cap
      assert(spark.table("icestreamAN").count() == 4,
        "AvailableNow must drain all pre-existing rows")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >=3 rate-limited batches, got $nonEmpty: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("readStream with stream-start=latest skips existing data") {
    val loc = Files.createTempDirectory("tbl_stream2").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    TableWriter.create(src, loc)

    val q = spark.readStream.format("icegopher")
      .option("stream-start", "latest").load(loc)
      .writeStream.format("memory").queryName("icestream2")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("icestream2").count() == 0) // nothing replayed
      TableWriter.append(graft.spark.IcebergTables.load(loc), src.limit(2))
      q.processAllAvailable()
      assert(spark.table("icestream2").count() == 2)
    } finally q.stop()
  }

  test("readStream with stream-start=<snapshot/tag> resumes after it") {
    val loc = Files.createTempDirectory("tbl_stream3").toFile.getPath
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t1 = TableWriter.create(src.limit(2).coalesce(1), loc) // 2 rows
    val t2 = TableWriter.append(t1, src.limit(3).coalesce(1)) // +3 rows
    val processed = t2.currentSnapshot.get.snapshotId
    val t3 = TableWriter.createRef(t2, "done-here", graft.core.TagRef,
      Some(processed))
    TableWriter.append(t3, src.limit(4).coalesce(1)) // +4 rows (after pin)

    // pin by snapshot id: only the post-pin append is delivered
    val q1 = spark.readStream.format("icegopher")
      .option("stream-start", processed.toString).load(loc)
      .writeStream.format("memory").queryName("icestream3a")
      .outputMode(OutputMode.Append()).start()
    try {
      q1.processAllAvailable()
      assert(spark.table("icestream3a").count() == 4,
        "expected only rows appended after the pinned snapshot")
    } finally q1.stop()

    // pin by tag name: same window
    val q2 = spark.readStream.format("icegopher")
      .option("stream-start", "done-here").load(loc)
      .writeStream.format("memory").queryName("icestream3b")
      .outputMode(OutputMode.Append()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("icestream3b").count() == 4)
    } finally q2.stop()

    // an unresolvable pin fails loudly, naming the option
    val e = intercept[Exception] {
      val q3 = spark.readStream.format("icegopher")
        .option("stream-start", "no-such-ref").load(loc)
        .writeStream.format("memory").queryName("icestream3c")
        .outputMode(OutputMode.Append()).start()
      try q3.processAllAvailable() finally q3.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).mkString("\n").contains("stream-start"), e.getMessage)
  }
}
