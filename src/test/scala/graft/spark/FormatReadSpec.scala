package graft.spark

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Mixed-format tables: data files with `file_format` ORC / AVRO read
  * through both the library scan and the DSv2 source, including MoR
  * positional deletes against non-parquet rows. (Our writers only produce
  * parquet; these files enter via hand-built manifests, the way an
  * external engine would have committed them.) */
class FormatReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(name: String): String =
    Files.createTempDirectory(name).toFile.getPath

  /** Commit `path` (already written in `format` with rows matching the
    * table schema) as an APPEND snapshot via hand-built metadata. */
  private def appendForeignFile(loc: String, path: String, format: String,
                                rowCount: Long): IcebergTable = {
    val table = IcebergTables.load(loc)
    val md = table.metadata
    val seq = md.lastSequenceNumber + 1
    val snapId = System.nanoTime()
    val metaDir = new File(loc, "metadata")
    val info = DataFileInfo(DataFileContent.Data, path, format, Map.empty,
      rowCount, new File(path).length(), Map.empty, Map.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, Nil, Nil, None)
    val entry = ManifestEntry(ManifestEntryStatus.Added, Some(snapId),
      Some(seq), Some(seq), info)
    val mf = new File(metaDir, s"manifest-foreign-$snapId.avro")
    ManifestIO.writeManifest(mf, Seq(entry), StructT(Nil))
    val manifest = ManifestFile(mf.getPath, mf.length(), 0, 0, seq, seq,
      snapId, 1, 0, 0, rowCount, 0, 0, Nil, 2)
    val prev = table.currentSnapshot.toSeq.flatMap(s =>
      ManifestIO.readManifestList(table.io.open(s.manifestList)))
    val listFile = new File(metaDir, s"snap-$snapId.avro")
    ManifestIO.writeManifestList(listFile, prev :+ manifest)
    val now = System.currentTimeMillis()
    val snapshot = Snapshot(snapId, table.currentSnapshot.map(_.snapshotId),
      seq, now, listFile.getPath, Some(SnapshotSummary(OpAppend)),
      Some(md.currentSchemaId))
    val next = md.copy(lastSequenceNumber = seq, lastUpdatedMs = now,
      snapshots = md.snapshots :+ snapshot, currentSnapshotId = Some(snapId),
      snapshotLog = md.snapshotLog :+ SnapshotLogEntry(snapId, now),
      refs = md.refs + (TableMetadata.MainBranch ->
        SnapshotRef(snapId, BranchRef)))
    val v = table.loadedVersion + 1
    Files.write(new File(metaDir, s"v$v.metadata.json").toPath,
      next.toJson.getBytes(StandardCharsets.UTF_8))
    Files.write(new File(metaDir, "version-hint.text").toPath,
      v.toString.getBytes(StandardCharsets.UTF_8))
    IcebergTables.load(loc)
  }

  private def writeAvro(dir: String, rows: Seq[(Long, String)],
                        syncInterval: Int = 0): String = {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id").requiredString("name").endRecord()
    val f = new File(dir, s"foreign-${System.nanoTime()}.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    if (syncInterval > 0) w.setSyncInterval(syncInterval)
    w.create(schema, f)
    rows.foreach { case (id, name) =>
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("name", name)
      w.append(r)
    }
    w.close()
    f.getPath
  }

  private def writeOrc(dir: String, rows: Seq[(Long, String)]): String = {
    val out = new File(dir, s"orc-${System.nanoTime()}")
    rows.toDF("id", "name").coalesce(1).write.orc(out.getPath)
    out.listFiles().find(_.getName.endsWith(".orc")).get.getPath
  }

  test("ORC and AVRO data files read through the library scan and DSv2") {
    val loc = tmpDir("tbl_fmt")
    val dataDir = new File(loc, "data"); // created by the parquet write
    TableWriter.create(Seq((1L, "pq")).toDF("id", "name").coalesce(1), loc)
    dataDir.mkdirs()

    appendForeignFile(loc, writeOrc(dataDir.getPath,
      Seq((2L, "orc-a"), (3L, "orc-b"))), "ORC", 2)
    val t = appendForeignFile(loc, writeAvro(dataDir.getPath,
      Seq((4L, "avro-a"), (5L, "avro-b"))), "AVRO", 2)

    // library scan: all three formats in one DataFrame
    val got = t.newScan().toDF(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "pq"), (2L, "orc-a"), (3L, "orc-b"),
      (4L, "avro-a"), (5L, "avro-b")))

    // column pruning still applies
    assert(t.newScan(selected = Seq("name")).toDF(spark)
      .collect().map(_.getString(0)).toSet ==
      Set("pq", "orc-a", "orc-b", "avro-a", "avro-b"))

    // DSv2 source (row path forced by the mixed formats)
    val dsv2 = spark.read.format("icegopher").load(loc)
    assert(dsv2.count() == 5)
    assert(dsv2.filter(col("id") >= 4L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((4L, "avro-a"), (5L, "avro-b")))
  }

  test("positional deletes apply to non-parquet rows (library + DSv2)") {
    val loc = tmpDir("tbl_fmt_del")
    TableWriter.create(Seq((1L, "pq")).toDF("id", "name").coalesce(1), loc)
    val dataDir = new File(loc, "data"); dataDir.mkdirs()
    appendForeignFile(loc, writeOrc(dataDir.getPath,
      Seq((2L, "orc-a"), (3L, "orc-b"))), "ORC", 2)
    val t = appendForeignFile(loc, writeAvro(dataDir.getPath,
      Seq((4L, "avro-a"), (5L, "avro-b"))), "AVRO", 2)

    // MoR delete hits one ORC row and one AVRO row — tombstones address
    // (path, row-position) synthesized by the non-parquet readers
    val t2 = TableWriter.deleteWhere(t, spark,
      col("id") === 3L || col("id") === 4L)

    val lib = t2.newScan().toDF(spark).collect().map(_.getLong(0)).toSet
    assert(lib == Set(1L, 2L, 5L), s"got $lib")
    val dsv2 = spark.read.format("icegopher").load(loc)
      .collect().map(_.getLong(0)).toSet
    assert(dsv2 == Set(1L, 2L, 5L), s"got $dsv2")
  }

  test("ORC and AVRO readers cover nulls, timestamps, dates, doubles, binary") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("ts", TimestampType),
      StructField("day", DateType),
      StructField("bin", BinaryType),
      StructField("flag", BooleanType)))
    val rows = Seq(
      Row(1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"),
        java.sql.Date.valueOf("2024-03-01"), Array[Byte](1, 2, 3), true),
      Row(2L, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)

    val loc = tmpDir("tbl_fmt_types")
    TableWriter.create(df.limit(0), loc) // empty table fixes the schema
    val dataDir = new File(loc, "data"); dataDir.mkdirs()

    // ORC file with the full row set
    val orcOut = new File(dataDir, "orc-types")
    df.coalesce(1).write.orc(orcOut.getPath)
    val orcPath = orcOut.listFiles().find(_.getName.endsWith(".orc")).get.getPath
    val t1 = appendForeignFile(loc, orcPath, "ORC", 2)
    val got1 = t1.newScan().toDF(spark).orderBy("id").collect()
    assert(got1.length == 2)
    assert(got1(0).getString(1) == "a" && got1(0).getDouble(2) == 1.5)
    assert(got1(0).getTimestamp(3) ==
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"))
    assert(got1(0).getDate(4) == java.sql.Date.valueOf("2024-03-01"))
    assert(got1(0).getAs[Array[Byte]](5).toSeq == Seq[Byte](1, 2, 3))
    assert(got1(0).getBoolean(6))
    assert((1 to 6).forall(got1(1).isNullAt))

    // AVRO file via the avro-core writer with logical types
    import org.apache.avro.{LogicalTypes, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val tsType = LogicalTypes.timestampMicros()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG))
    val dateType = LogicalTypes.date()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.INT))
    val avroSchema = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .name("s").`type`().nullable().stringType().noDefault()
      .name("d").`type`().nullable().doubleType().noDefault()
      .name("ts").`type`().unionOf().nullType().and().`type`(tsType).endUnion().noDefault()
      .name("day").`type`().unionOf().nullType().and().`type`(dateType).endUnion().noDefault()
      .name("bin").`type`().nullable().bytesType().noDefault()
      .name("flag").`type`().nullable().booleanType().noDefault()
      .endRecord()
    val af = new File(dataDir, "types.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avroSchema))
    w.create(avroSchema, af)
    val r1 = new GenericData.Record(avroSchema)
    r1.put("id", 3L); r1.put("s", "b"); r1.put("d", 2.5)
    r1.put("ts", 1709287200123456L) // micros
    r1.put("day", 19783) // days
    r1.put("bin", java.nio.ByteBuffer.wrap(Array[Byte](9)))
    r1.put("flag", false)
    w.append(r1)
    val r2 = new GenericData.Record(avroSchema)
    r2.put("id", 4L)
    w.append(r2)
    w.close()
    val t2 = appendForeignFile(loc, af.getPath, "AVRO", 2)
    val got2 = t2.newScan().toDF(spark).filter(col("id") >= 3L)
      .orderBy("id").collect()
    assert(got2.length == 2)
    assert(got2(0).getString(1) == "b" && got2(0).getDouble(2) == 2.5)
    assert(got2(0).getTimestamp(3).getTime == 1709287200123L)
    assert(got2(0).getDate(4).toLocalDate ==
      java.time.LocalDate.ofEpochDay(19783))
    assert(got2(0).getAs[Array[Byte]](5).toSeq == Seq[Byte](9))
    assert(!got2(0).getBoolean(6))
    assert((1 to 6).forall(got2(1).isNullAt))
  }

  test("multi-stripe ORC / multi-block Avro split across tasks, MoR intact") {
    val loc = tmpDir("tbl_fmt_split")
    val n = 20000
    TableWriter.create(Seq((-1L, "seed")).toDF("id", "name").coalesce(1), loc)
    val dataDir = new File(loc, "data"); dataDir.mkdirs()

    // many small ORC stripes / Avro sync blocks in a single file each;
    // md5-hex payloads so compression can't fold the file under one split
    def payload(i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 4).map(r => md.digest(s"$r-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).mkString
    }
    val orcOut = new File(dataDir, "orc-multi")
    (0 until n).map(i => (i.toLong, payload(i))).toDF("id", "name")
      .coalesce(1).write.option("orc.stripe.size", "65536").orc(orcOut.getPath)
    val orcPath = orcOut.listFiles().find(_.getName.endsWith(".orc")).get.getPath
    appendForeignFile(loc, orcPath, "ORC", n)
    val avroPath = writeAvro(dataDir.getPath,
      (0 until n).map(i => ((100000 + i).toLong, payload(1000000 + i))),
      syncInterval = 2048)
    val t = appendForeignFile(loc, avroPath, "AVRO", n)

    // force byte-range splits well below both file sizes
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      assert(FormatReaders.byteRanges(new File(orcPath).length, 65536).size > 1)
      assert(FormatReaders.byteRanges(new File(avroPath).length, 65536).size > 1)

      // sanity: split reads cover every row exactly once
      assert(t.newScan().toDF(spark).count() == 2L * n + 1)

      // MoR delete hits rows in EARLY and LATE stripes/blocks of both
      // files — only correct if each split's row index is file-absolute
      val victims = Set(5L, 9999L, 19999L, 100005L, 109999L, 119999L)
      val t2 = TableWriter.deleteWhere(t, spark,
        col("id").isin(victims.toSeq: _*))

      val lib = t2.newScan().toDF(spark)
      assert(lib.count() == 2L * n + 1 - victims.size)
      assert(lib.filter(col("id").isin(victims.toSeq: _*)).count() == 0)
      // spot-check the immediate neighbors survived
      val near = lib.filter(col("id").isin(4L, 6L, 19998L, 109998L))
        .collect().map(_.getLong(0)).toSet
      assert(near == Set(4L, 6L, 19998L, 109998L), s"got $near")

      val dsv2 = spark.read.format("icegopher").load(loc)
      assert(dsv2.count() == 2L * n + 1 - victims.size)
      assert(dsv2.filter(col("id").isin(victims.toSeq: _*)).count() == 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("write.format-default=orc: appends write ORC files with manifest stats") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("ts", TimestampType),
      StructField("day", DateType),
      StructField("bin", BinaryType),
      StructField("dec", DecimalType(10, 2)),
      StructField("flag", BooleanType)))
    val rows = Seq(
      Row(1L, "alpha", 1.5, java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"),
        java.sql.Date.valueOf("2024-03-01"), Array[Byte](1, 2, 3),
        new java.math.BigDecimal("12345.67"), true),
      Row(2L, null, null, null, null, null, null, null),
      Row(3L, "zeta", -2.25, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        java.sql.Date.valueOf("2020-01-01"), Array[Byte](9),
        new java.math.BigDecimal("-1.00"), false))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    val loc = tmpDir("tbl_orc_write")
    val t0 = TableWriter.create(df, loc,
      properties = Map("write.format.default" -> "orc"))
    // the data files ARE orc, recorded as such in the manifest
    val files = t0.newScan().planFiles()
    assert(files.nonEmpty && files.forall(_.file.format == "ORC"),
      files.map(f => (f.file.path, f.file.format)).toString)
    assert(files.forall(_.file.path.endsWith(".orc")))
    // reads back identically through the library scan
    val got = t0.newScan().toDF(spark).orderBy("id").collect()
    assert(got.length == 3)
    assert(got(0).getString(1) == "alpha" && got(0).getDouble(2) == 1.5)
    assert(got(0).getTimestamp(3) ==
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"))
    assert(got(0).getDate(4) == java.sql.Date.valueOf("2024-03-01"))
    assert(got(0).getAs[Array[Byte]](5).toSeq == Seq[Byte](1, 2, 3))
    assert(got(0).getDecimal(6) == new java.math.BigDecimal("12345.67"))
    assert(got(0).getBoolean(7))
    assert((1 to 7).forall(got(1).isNullAt))
    assert(got(2).getDecimal(6) == new java.math.BigDecimal("-1.00"))
    // ORC footer stats reached the manifest: bounds + null counts
    val info = files.head.file
    assert(info.recordCount == 3 && info.nullValueCounts.nonEmpty)
    assert(info.lowerBounds.nonEmpty && info.upperBounds.nonEmpty)
    // ...and they PRUNE: an out-of-range predicate plans zero files
    assert(t0.newScan(graft.core.Expr.greaterThan("id",
      graft.core.LongLit(100L))).planFiles().isEmpty)
    // append keeps honoring the property; MoR delete still matches rows
    val t1 = TableWriter.append(t0, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(4L, "late", null, null, null,
        null, null, null)), 1), schema))
    assert(t1.newScan().planFiles().forall(_.file.format == "ORC"))
    val t2 = TableWriter.deleteWhere(t1, spark, col("id") === 3L)
    assert(t2.newScan().toDF(spark).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
  }

  test("write.format-default=avro: appends write Avro files that read back") {
    val loc = tmpDir("tbl_avro_write")
    val t0 = TableWriter.create(
      (0 until 100).map(i => (i.toLong, s"row-$i")).toDF("id", "name"),
      loc, properties = Map("write.format.default" -> "avro"))
    val files = t0.newScan().planFiles()
    assert(files.nonEmpty && files.forall(_.file.format == "AVRO"))
    assert(files.forall(_.file.path.endsWith(".avro")))
    assert(files.map(_.file.recordCount).sum == 100)
    assert(t0.newScan().toDF(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      (0 until 100).map(i => (i.toLong, s"row-$i")).toSet)
    // DSv2 read + SQL filter over avro-backed data
    val dsv2 = spark.read.format("icegopher").load(loc)
    assert(dsv2.filter(col("id") < 10L).count() == 10)
    // MoR delete against avro rows
    val t1 = TableWriter.deleteWhere(t0, spark, col("id") % 10 === 0)
    assert(t1.newScan().toDF(spark).count() == 90)
  }

  test("write.format-default=orc: a read stream delivers every appended row") {
    val loc = tmpDir("tbl_orc_stream")
    val rows = (i: Range) => i.map(n => (n.toLong, s"row-$n"))
    TableWriter.create(rows(0 until 10).toDF("id", "name").coalesce(1), loc,
      properties = Map("write.format.default" -> "orc"))
    val q = spark.readStream.format("icegopher").load(loc)
      .writeStream.format("memory").queryName("orc_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val t1 = TableWriter.append(IcebergTables.load(loc),
        rows(10 until 15).toDF("id", "name").coalesce(1))
      assert(t1.newScan().planFiles().forall(_.file.format == "ORC"))
      q.processAllAvailable()
      val got = spark.table("orc_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.sorted == rows(0 until 15), got)
    } finally q.stop()
  }

  test("write.format.default=orc: a CoW UPDATE, a MoR MERGE and a streaming " +
      "append add only ORC data files") {
    val warehouse = tmpDir("fmt_wh")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gfmt", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.gfmt.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gfmt.f")
    s.sql("""CREATE TABLE gfmt.f.o (id BIGINT, name STRING)
             TBLPROPERTIES ('write.format.default' = 'orc',
                            'write.merge.mode' = 'merge-on-read')""")
    val loc = s"$warehouse/f/o"
    def dataFiles(): Seq[DataFileInfo] =
      IcebergTables.load(loc).newScan().planFiles().map(_.file)
    /** The data files `step` adds that are not ORC, or a note that it
      * added none. */
    def nonOrcAdded(name: String)(step: => Unit): Seq[String] = {
      val before = dataFiles().map(_.path).toSet
      step
      val added = dataFiles().filterNot(f => before(f.path))
      if (added.isEmpty) Seq(s"$name added no data file")
      else added.filterNot(f => f.format == "ORC" && f.path.endsWith(".orc"))
        .map(f => s"$name added ${f.format} file ${f.path}")
    }
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val problems =
      nonOrcAdded("INSERT")(s.sql("INSERT INTO gfmt.f.o VALUES (1, 'a'), (2, 'b'), (3, 'c')")) ++
      nonOrcAdded("copy-on-write UPDATE")(s.sql("UPDATE gfmt.f.o SET name = 'B' WHERE id = 2")) ++
      nonOrcAdded("merge-on-read MERGE") {
        Seq((3L, "C"), (4L, "d")).toDF("id", "name").createOrReplaceTempView("fmt_src")
        s.sql("""MERGE INTO gfmt.f.o t USING fmt_src u ON t.id = u.id
                 WHEN MATCHED THEN UPDATE SET t.name = u.name
                 WHEN NOT MATCHED THEN INSERT *""")
      } ++
      nonOrcAdded("streaming append") {
        val q = input.toDF().toDF("id", "name").writeStream.format("icegopher")
          .option("checkpointLocation", tmpDir("fmt_ck")).start(loc)
        try { input.addData((5L, "e")); q.processAllAvailable() } finally q.stop()
      }
    assert(problems.isEmpty, problems.mkString("\n"))
    val got = IcebergTables.load(loc).newScan().toDF(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"), (5L, "e")))
  }

  test("unknown data format still fails loudly at plan time") {
    val loc = tmpDir("tbl_fmt_bad")
    TableWriter.create(Seq((1L, "pq")).toDF("id", "name").coalesce(1), loc)
    val dataDir = new File(loc, "data"); dataDir.mkdirs()
    val t = appendForeignFile(loc, writeAvro(dataDir.getPath,
      Seq((9L, "x"))), "CSV", 1)
    val e = intercept[UnsupportedOperationException](t.newScan().planFiles())
    assert(e.getMessage.contains("CSV"))
  }
}
