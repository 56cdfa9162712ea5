package graft.spark

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Integration pin: a COMPLETE format-version-3 table composed the way a
  * FOREIGN engine would write it — raw metadata JSON (not our serializer),
  * a column with `initial-default` the data file predates, row-lineage
  * carried only at the MANIFEST level (null per-file first_row_id → the
  * reader must inherit), and a deletion vector — all in one table. The
  * per-feature specs prove each mechanism alone; this proves they compose
  * on a table this engine never wrote. */
class ForeignV3TableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def buildForeignTable(): String = {
    val loc = Files.createTempDirectory("foreign_v3").toFile.getPath
    val dataDir = new File(loc, "data"); dataDir.mkdirs()
    val metaDir = new File(loc, "metadata"); metaDir.mkdirs()

    // one data file with parquet FIELD IDS (id=1, v=2), rows in known
    // order; the schema's third column (tier, id=3) does NOT exist in it
    val s = spark
    import s.implicits._
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val annotated = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val df = spark.createDataFrame(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .sort("id").coalesce(1).rdd, annotated)
    val tmpOut = new File(dataDir, "stage")
    df.write.parquet(tmpOut.getPath)
    val part = tmpOut.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dataFile = new File(dataDir, "foreign-00000.parquet")
    java.nio.file.Files.move(part.toPath, dataFile.toPath)

    // deletion vector killing position 1 (the "b" row)
    val puffin = new File(dataDir, "foreign-dv.puffin")
    val blob = Puffin.dvBlobBytes(Iterator(1L))
    val metas = Puffin.write(puffin.getPath, Seq((blob, Puffin.BlobMetadata(
      "deletion-vector-v1", Seq.empty, 77L, 1L, 0L, 0L,
      Map("referenced-data-file" -> dataFile.getPath)))))

    // data manifest: entry with NULL first_row_id (inheritance required)
    val dataEntry = ManifestEntry(ManifestEntryStatus.Added, Some(77L),
      Some(1L), Some(1L),
      DataFileInfo(DataFileContent.Data, dataFile.getPath, "PARQUET",
        Map.empty, 3L, dataFile.length(), Map.empty, Map.empty, Map.empty,
        Map.empty, Map.empty, Map.empty, Nil, Nil, None))
    val dataManifest = new File(metaDir, "foreign-m0.avro")
    ManifestIO.writeManifest(dataManifest, Seq(dataEntry), StructT(Nil))

    // delete manifest: the DV entry (PUFFIN + blob coordinates)
    val dvEntry = ManifestEntry(ManifestEntryStatus.Added, Some(77L),
      Some(1L), Some(1L),
      DataFileInfo(DataFileContent.PositionDeletes, puffin.getPath, "PUFFIN",
        Map.empty, 1L, puffin.length(), Map.empty, Map.empty, Map.empty,
        Map.empty, Map.empty, Map.empty, Nil, Nil, None,
        referencedDataFile = Some(dataFile.getPath),
        contentOffset = Some(metas.head.offset),
        contentSizeInBytes = Some(metas.head.length)))
    val dvManifest = new File(metaDir, "foreign-m1.avro")
    ManifestIO.writeManifest(dvManifest, Seq(dvEntry), StructT(Nil))

    // manifest list: row-lineage base lives at the MANIFEST level only
    val listFile = new File(metaDir, "foreign-snap.avro")
    ManifestIO.writeManifestList(listFile, Seq(
      ManifestFile(dataManifest.getPath, dataManifest.length(), 0, 0,
        1L, 1L, 77L, 1, 0, 0, 3L, 0L, 0L, Nil, 2, firstRowId = Some(100L)),
      ManifestFile(dvManifest.getPath, dvManifest.length(), 0, 1,
        1L, 1L, 77L, 1, 0, 0, 1L, 0L, 0L, Nil, 2)))

    // RAW metadata JSON, hand-written as a foreign engine serializes it
    val metadataJson = s"""{
      "format-version": 3,
      "table-uuid": "11111111-2222-3333-4444-555555555555",
      "location": "$loc",
      "last-sequence-number": 1,
      "last-updated-ms": 1700000000000,
      "last-column-id": 4,
      "current-schema-id": 0,
      "schemas": [{
        "type": "struct", "schema-id": 0, "fields": [
          {"id": 1, "name": "id", "required": false, "type": "long"},
          {"id": 2, "name": "v", "required": false, "type": "string"},
          {"id": 3, "name": "tier", "required": false, "type": "string",
           "initial-default": "basic", "write-default": "standard"},
          {"id": 4, "name": "mystery", "required": false, "type": "unknown"}
        ]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id": 0, "fields": []}],
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id": 0, "fields": []}],
      "properties": {},
      "next-row-id": 200,
      "current-snapshot-id": 77,
      "snapshots": [{
        "snapshot-id": 77, "sequence-number": 1,
        "timestamp-ms": 1700000000000,
        "manifest-list": "${listFile.getPath}",
        "summary": {"operation": "append"},
        "schema-id": 0, "first-row-id": 100
      }],
      "snapshot-log": [{"snapshot-id": 77, "timestamp-ms": 1700000000000}],
      "metadata-log": [],
      "refs": {"main": {"snapshot-id": 77, "type": "branch"}}
    }"""
    java.nio.file.Files.writeString(
      new File(metaDir, "v1.metadata.json").toPath, metadataJson)
    loc
  }

  test("V3 type completeness: timestamp_ns / variant / geometry / geography") {
    // metadata round-trip through RAW JSON (foreign serialization)
    val json = """{"type": "struct", "schema-id": 0, "fields": [
      {"id": 1, "name": "t1", "required": false, "type": "timestamp_ns"},
      {"id": 2, "name": "t2", "required": false, "type": "timestamptz_ns"},
      {"id": 3, "name": "doc", "required": false, "type": "variant"},
      {"id": 4, "name": "shape", "required": false, "type": "geometry(EPSG:4326)"},
      {"id": 5, "name": "region", "required": false,
       "type": "geography(EPSG:4979, karney)"},
      {"id": 6, "name": "simple", "required": false, "type": "geometry"}]}"""
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = IcebergTypeJson.parse(mapper.readTree(json)).asInstanceOf[StructT]
    assert(parsed.fields.map(_.fieldType.repr) == Seq("timestamp_ns",
      "timestamptz_ns", "variant", "geometry(EPSG:4326)",
      "geography(EPSG:4979, karney)", "geometry"))
    assert(parsed.fieldById(4).get.fieldType == GeometryT("EPSG:4326"))
    assert(parsed.fieldById(5).get.fieldType == GeographyT("EPSG:4979", "karney"))
    assert(parsed.fieldById(6).get.fieldType == GeometryT())
    // serialize back with OUR writer and reparse — stable
    val sw = new java.io.StringWriter()
    val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(sw)
    IcebergTypeJson.write(parsed, gen); gen.close()
    assert(IcebergTypeJson.parse(mapper.readTree(sw.toString)) == parsed)
  }

  test("reads a foreign V3 table with timestamp_ns and geo columns") {
    val loc = Files.createTempDirectory("foreign_v3_ns").toFile.getPath
    val dataDir = new File(loc, "data"); dataDir.mkdirs()
    val metaDir = new File(loc, "metadata"); metaDir.mkdirs()

    // a parquet file with a REAL INT64/TIMESTAMP(NANOS) column, written the
    // way a foreign ns-precision engine would (parquet example API — Spark
    // itself cannot write nanos)
    val dataFile: File = new File(dataDir, "ns-00000.parquet")
    locally {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType, Types => PTypes}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.example.data.simple.SimpleGroup
      import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
      val msg: MessageType = PTypes.buildMessage()
        .addField(PTypes.optional(PrimitiveTypeName.INT64).named("id"))
        .addField(PTypes.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"): PType)
        .named("row")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dataFile.getPath))
        .withType(msg).build()
      Seq((1L, 1700000000123456789L), (2L, 1700000001000000001L)).foreach {
        case (id, ns) =>
          val g = new SimpleGroup(msg)
          g.add("id", id); g.add("ts", ns)
          w.write(g)
      }
      w.close()
    }

    val entry = ManifestEntry(ManifestEntryStatus.Added, Some(9L),
      Some(1L), Some(1L),
      DataFileInfo(DataFileContent.Data, dataFile.getPath, "PARQUET",
        Map.empty, 2L, dataFile.length(), Map.empty, Map.empty, Map.empty,
        Map.empty, Map.empty, Map.empty, Nil, Nil, None))
    val manifest = new File(metaDir, "ns-m0.avro")
    ManifestIO.writeManifest(manifest, Seq(entry), StructT(Nil))
    val listFile = new File(metaDir, "ns-snap.avro")
    ManifestIO.writeManifestList(listFile, Seq(
      ManifestFile(manifest.getPath, manifest.length(), 0, 0,
        1L, 1L, 9L, 1, 0, 0, 2L, 0L, 0L, Nil, 2)))
    java.nio.file.Files.writeString(
      new File(metaDir, "v1.metadata.json").toPath, s"""{
      "format-version": 3,
      "table-uuid": "21111111-2222-3333-4444-555555555555",
      "location": "$loc",
      "last-sequence-number": 1, "last-updated-ms": 1700000000000,
      "last-column-id": 4, "current-schema-id": 0,
      "schemas": [{"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": false, "type": "long"},
        {"id": 2, "name": "ts", "required": false, "type": "timestamp_ns"},
        {"id": 3, "name": "shape", "required": false, "type": "geometry"},
        {"id": 4, "name": "region", "required": false, "type": "geography"}
      ]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id": 0, "fields": []}],
      "default-sort-order-id": 0, "sort-orders": [{"order-id": 0, "fields": []}],
      "properties": {}, "next-row-id": 0,
      "current-snapshot-id": 9,
      "snapshots": [{"snapshot-id": 9, "sequence-number": 1,
        "timestamp-ms": 1700000000000, "manifest-list": "${listFile.getPath}",
        "summary": {"operation": "append"}, "schema-id": 0}],
      "snapshot-log": [], "metadata-log": [],
      "refs": {"main": {"snapshot-id": 9, "type": "branch"}}
    }""")

    // ns values surface LOSSLESSLY as nanosecond-epoch longs; the geo
    // columns (absent from the file) read null WKB bytes
    val rows = spark.read.format("icegopher").load(loc)
      .select("id", "ts", "shape").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet
    assert(rows == Set((1L, 1700000000123456789L, true),
      (2L, 1700000001000000001L, true)), rows)

    // a VALUE predicate on a geo column is refused loudly (WKB byte
    // comparison against point-encoded bounds would prune wrongly)...
    val e = intercept[Exception] {
      IcebergTables.load(loc).newScan(
        UnboundPredicate(OpEq, "shape", Seq(BytesLit(Array[Byte](1))))).planFiles()
    }
    assert(e.getMessage.contains("geometry"), e.getMessage)
    // ...while ns-timestamp predicates work as plain long comparisons
    val filtered = spark.read.format("icegopher").load(loc)
      .filter(col("ts") > 1700000000500000000L).count()
    assert(filtered == 1L)
  }

  /** The deepest interop layer this sandbox can pin without network
    * access: manifests encoded by a RAW Apache-Avro writer from schemas
    * that follow apache/iceberg-java's published conventions — NULL-FIRST
    * unions, `field-id`/`element-id` props, the spec's record names
    * (`manifest_file`, `manifest_entry`, `r2` data_file, `r102` partition,
    * map-as-array with `logicalType: map`), V1-leftover fields our model
    * doesn't carry (`block_size_in_bytes`, `key_metadata`), deflate-coded
    * blocks, and the spec's OCF metadata keys (`schema`,
    * `partition-spec`, `partition-spec-id`, `format-version`, `content`).
    * None of these bytes pass through ManifestIO's writer, so a reader
    * habit that only works on our own output fails here. */
  test("foreign-avro-convention manifests: read both paths, prune on bounds, commit continues") {
    import org.apache.avro.{Schema => AS}
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val loc = Files.createTempDirectory("foreign_avro").toFile.getPath
    val dataDir = new File(loc, "data"); dataDir.mkdirs()
    val metaDir = new File(loc, "metadata"); metaDir.mkdirs()

    // data file via Spark's own parquet sink (field ids annotated)
    val s = spark
    import s.implicits._
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val annotated = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val df = spark.createDataFrame(
      Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("id", "v")
        .sort("id").coalesce(1).rdd, annotated)
    val stage = new File(dataDir, "stage"); df.write.parquet(stage.getPath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dataFile = new File(dataDir, "fav-00000.parquet")
    java.nio.file.Files.move(part.toPath, dataFile.toPath)

    def leLong(v: Long): java.nio.ByteBuffer = {
      val bb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(v); bb.flip(); bb
    }

    // ---- manifest (entries) file, iceberg-java conventions
    val entrySchema = new AS.Parser().parse("""{
      "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
        {"name": "data_file", "type": {"type": "record", "name": "r2", "fields": [
          {"name": "content", "type": "int", "field-id": 134},
          {"name": "file_path", "type": "string", "doc": "Location URI with FS scheme", "field-id": 100},
          {"name": "file_format", "type": "string", "field-id": 101},
          {"name": "partition", "type": {"type": "record", "name": "r102", "fields": []}, "field-id": 102},
          {"name": "record_count", "type": "long", "field-id": 103},
          {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
          {"name": "block_size_in_bytes", "type": ["null", "long"], "default": null, "field-id": 105},
          {"name": "lower_bounds", "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "k126_v127", "fields": [
              {"name": "key", "type": "int", "field-id": 126},
              {"name": "value", "type": "bytes", "field-id": 127}]},
            "logicalType": "map"}], "default": null, "field-id": 125},
          {"name": "upper_bounds", "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "k129_v130", "fields": [
              {"name": "key", "type": "int", "field-id": 129},
              {"name": "value", "type": "bytes", "field-id": 130}]},
            "logicalType": "map"}], "default": null, "field-id": 128},
          {"name": "split_offsets", "type": ["null", {"type": "array",
            "items": "long", "element-id": 133}], "default": null, "field-id": 132},
          {"name": "sort_order_id", "type": ["null", "int"], "default": null, "field-id": 140}
        ]}, "field-id": 2}
      ]}""")
    val dfSchema = entrySchema.getField("data_file").schema()
    val manifestFile = new File(metaDir, "fav-m0.avro")
    locally {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
      w.setCodec(CodecFactory.deflateCodec(3))
      w.setMeta("schema",
        """{"type":"struct","schema-id":0,"fields":[
           {"id":1,"name":"id","required":false,"type":"long"},
           {"id":2,"name":"v","required":false,"type":"string"}]}""")
      w.setMeta("partition-spec", "[]")
      w.setMeta("partition-spec-id", "0")
      w.setMeta("format-version", "2")
      w.setMeta("content", "data")
      w.create(entrySchema, manifestFile)
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", dataFile.getPath)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(
        dfSchema.getField("partition").schema()))
      dfr.put("record_count", 3L)
      dfr.put("file_size_in_bytes", dataFile.length())
      dfr.put("block_size_in_bytes", 67108864L) // the V1 leftover
      def kvList(sch: AS, vs: Seq[(Int, java.nio.ByteBuffer)]) = {
        val items = sch.getTypes.get(1).getElementType
        val l = new java.util.ArrayList[GenericRecord]()
        vs.foreach { case (k, v) =>
          val r = new GenericData.Record(items)
          r.put("key", k); r.put("value", v); l.add(r)
        }
        l
      }
      dfr.put("lower_bounds", kvList(
        dfSchema.getField("lower_bounds").schema(), Seq(1 -> leLong(10L))))
      dfr.put("upper_bounds", kvList(
        dfSchema.getField("upper_bounds").schema(), Seq(1 -> leLong(30L))))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", null) // inherit from the manifest
      e.put("sequence_number", null)
      e.put("file_sequence_number", null)
      e.put("data_file", dfr)
      w.append(e); w.close()
    }

    // ---- manifest list, iceberg-java conventions
    val listSchema = new AS.Parser().parse("""{
      "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "type": ["null", {"type": "array", "items": {
          "type": "record", "name": "r508", "fields": [
            {"name": "contains_null", "type": "boolean", "field-id": 509},
            {"name": "contains_nan", "type": ["null", "boolean"], "default": null, "field-id": 518},
            {"name": "lower_bound", "type": ["null", "bytes"], "default": null, "field-id": 510},
            {"name": "upper_bound", "type": ["null", "bytes"], "default": null, "field-id": 511}
          ]}, "element-id": 508}], "default": null, "field-id": 507},
        {"name": "key_metadata", "type": ["null", "bytes"], "default": null, "field-id": 519}
      ]}""")
    val listFile = new File(metaDir, "fav-snap.avro")
    locally {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](listSchema))
      w.setCodec(CodecFactory.deflateCodec(3))
      w.setMeta("format-version", "2")
      w.setMeta("snapshot-id", "77")
      w.setMeta("sequence-number", "1")
      w.create(listSchema, listFile)
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", manifestFile.getPath)
      r.put("manifest_length", manifestFile.length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 77L)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 3L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r.put("partitions", null)
      r.put("key_metadata", null)
      w.append(r); w.close()
    }

    // ---- hand-written metadata JSON
    java.nio.file.Files.writeString(
      new File(metaDir, "v1.metadata.json").toPath, s"""{
      "format-version": 2,
      "table-uuid": "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee",
      "location": "$loc",
      "last-sequence-number": 1,
      "last-updated-ms": 1700000000000,
      "last-column-id": 2,
      "current-schema-id": 0,
      "schemas": [{"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": false, "type": "long"},
        {"id": 2, "name": "v", "required": false, "type": "string"}]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id": 0, "fields": []}],
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id": 0, "fields": []}],
      "properties": {},
      "current-snapshot-id": 77,
      "snapshots": [{"snapshot-id": 77, "sequence-number": 1,
        "timestamp-ms": 1700000000000,
        "manifest-list": "${listFile.getPath}",
        "summary": {"operation": "append"}, "schema-id": 0}],
      "snapshot-log": [{"snapshot-id": 77, "timestamp-ms": 1700000000000}],
      "metadata-log": [],
      "refs": {"main": {"snapshot-id": 77, "type": "branch"}}
    }""")

    // both read paths see the foreign bytes
    val t = IcebergTables.load(loc)
    val lib = t.newScan().toDF(spark)
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(lib == Set((10L, "x"), (20L, "y"), (30L, "z")), lib)
    val dsv2 = spark.read.format("icegopher").load(loc)
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dsv2 == lib)
    // seq-number inheritance filled the null entry fields from the list
    val entries = t.newScan().planFiles()
    assert(entries.size == 1)
    assert(entries.head.dataSequenceNumber == 1L,
      entries.head.dataSequenceNumber)

    // the foreign-encoded bounds drive metrics pruning
    assert(t.newScan(Expr.greaterThan("id", LongLit(100L))).planFiles().isEmpty)
    assert(t.newScan(Expr.lessThanOrEq("id", LongLit(10L))).planFiles().size == 1)

    // this engine commits ON the foreign table, CONTINUING its sequence
    val t2 = TableWriter.append(t, Seq((40L, "w")).toDF("id", "v"))
    assert(t2.metadata.lastSequenceNumber == 2L)
    val snap = t2.currentSnapshot.get
    assert(snap.sequenceNumber == 2L && snap.parentSnapshotId.contains(77L))
    assert(spark.read.format("icegopher").load(loc).count() == 4L)
    // and the foreign manifest is still carried (not rewritten) by the
    // new snapshot's manifest list
    val carried = ManifestIO.readManifestList(t2.io.open(snap.manifestList))
      .map(_.path)
    assert(carried.contains(manifestFile.getPath), carried)
  }

  test("defaults + inherited lineage + DV compose on a foreign V3 table") {
    val loc = buildForeignTable()
    val t = IcebergTables.load(loc)
    assert(t.metadata.formatVersion == 3)
    assert(t.metadata.nextRowId.contains(200L))
    assert(t.currentSnapshot.get.firstRowId.contains(100L))

    // the V3 `unknown` column surfaces as an always-null column
    val mystery = spark.read.format("icegopher").load(loc)
      .select("id", "mystery").collect()
    assert(mystery.length == 2 && mystery.forall(_.isNullAt(1)))

    // DSv2: the DV kills id=2; tier reads its initial-default; _row_id
    // inherits from the MANIFEST base (100) + position
    val rows = spark.read.format("icegopher").load(loc)
      .select(col("id"), col("v"), col("tier"), col("_row_id"),
        col("_last_updated_sequence_number"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(rows == Set((1L, "a", "basic", 100L, 1L),
      (3L, "c", "basic", 102L, 1L)), rows)

    // core toDF path: same composition (defaults + DV + lineage)
    val core = t.newScan().toDF(spark)
      .select("id", "tier", "_row_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(core == Set((1L, "basic", 100L), (3L, "basic", 102L)), core)

    // a filter ON the defaulted column matches the old file's rows
    val n = spark.read.format("icegopher").load(loc)
      .filter(col("tier") === "basic").count()
    assert(n == 2)

    // this engine committing ON the foreign table preserves its V3-ness
    // and continues the id sequence from the foreign next-row-id
    val s2 = spark
    import s2.implicits._
    val t2 = TableWriter.append(t, Seq((9L, "z")).toDF("id", "v"))
    assert(t2.metadata.formatVersion == 3)
    assert(t2.metadata.nextRowId.contains(201L), t2.metadata.nextRowId)
    val appended = spark.read.format("icegopher").load(loc)
      .filter(col("id") === 9L)
      .select("tier", "_row_id").collect()(0)
    // write-default fills the omitted column; the new row's id starts at
    // the foreign table's next-row-id
    assert(appended.getString(0) == "standard" && appended.getLong(1) == 200L,
      appended.toString)
  }
}
