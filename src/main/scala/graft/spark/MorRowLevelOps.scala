package graft.spark

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Merge-on-read row-level operations: SQL UPDATE / MERGE / DELETE under
  * `write.update.mode` / `write.merge.mode` / `write.delete.mode` =
  * `merge-on-read` (the standard Iceberg knob for write-heavy tables).
  *
  * Spark's delta-based rewrite drives this (`SupportsDelta`): the
  * operation's scan carries the `(_file, _pos)` row id per row, Spark
  * computes per-row deltas — deleted row ids, updated rows (old id + new
  * row), inserted rows — and the writer turns them into POSITIONAL
  * TOMBSTONE files plus ordinary appended data files. The commit is ONE
  * atomic snapshot carrying both. Nothing is rewritten: a point UPDATE on
  * a 100 TB table commits O(changed rows) bytes, vs copy-on-write's
  * O(touched 512 MB files) rewrite ([[GraftRowLevelOperation]], still the
  * default mode — better for read-heavy tables since reads stay
  * tombstone-free).
  *
  * The reference has no write path at all (rest.go:418-424 panics on
  * commit); both modes and the mode property itself follow the public
  * Iceberg spec + Spark DSv2 row-level API. */
final class GraftDeltaRowLevelOperation(table: IcebergTable,
                                        cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  // the handle the scan's row positions came from — the delta commit is
  // pinned to it
  @volatile private var scanned: IcebergTable = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"icegopher $cmd ${table.location} [merge-on-read]"

  /** The tombstone coordinate: which file, which row in it. */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftReaders.FileCol),
    Expressions.column(GraftReaders.PosCol))

  // no extra metadata attributes: the row id itself carries provenance, and
  // the commit never regroups by file (tombstones are written as-is)
  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fresh = table.ops.current()
    scanned = fresh
    new GraftScanBuilder(fresh, SchemaConv.toSparkSchema(fresh.schema), options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
          new IllegalStateException("delta write without a rowId schema"))
        // Iceberg's per-op isolation knob: serializable (default)
        // conflicts on any concurrent commit; snapshot tolerates pure
        // appends (see TableWriter.commitDelta)
        val isolationProp = cmd match {
          case RowLevelOperation.Command.DELETE => "write.delete.isolation-level"
          case RowLevelOperation.Command.UPDATE => "write.update.isolation-level"
          case _ => "write.merge.isolation-level"
        }
        val isolation = table.properties.getOrElse(isolationProp, "serializable")
        new GraftDeltaWrite(table.location, info.schema(), rowIdSchema,
          () => {
            require(scanned != null, "row-level write before scan was planned")
            scanned
          }, isolation)
      }
    }
}

/** V2 delta batch write: tasks write positional-tombstone parquet +
  * ordinary data files; the driver commit lands both in ONE snapshot,
  * pinned to the handle the scan read (a concurrent commit between scan
  * and write would invalidate the captured row positions). */
final class GraftDeltaWrite(location: String, dataSchema: StructType,
                            rowIdSchema: StructType,
                            scanned: () => IcebergTable,
                            isolation: String = "serializable")
    extends DeltaWrite with DeltaBatchWrite {

  private val writeDir =
    new File(location, s"data/mor-${java.util.UUID.randomUUID()}")

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    writeDir.mkdirs()
    val table = scanned()
    val partFields = table.spec.fields.map { pf =>
      val src = table.schema.findFieldById(pf.sourceId).getOrElse(
        throw new IllegalStateException(s"partition source ${pf.sourceId} missing"))
      PartFieldSpec(src.name, pf.transform.repr, pf.name)
    }
    GraftDeltaWriterFactory(writeDir.getPath,
      GraftCowWriterFactory.withParquetIds(dataSchema, table.schema).json,
      rowIdSchema.json, partFields,
      GraftCowWriterFactory.floatFieldsOf(table.schema, dataSchema),
      GraftCowWriterFactory.parquetPropsOf(
        org.apache.spark.sql.SparkSession.active, table.properties),
      GraftCowWriterFactory.targetFileBytes(table.properties),
      GraftCowWriterFactory.maxOpenFilesOf(table.properties))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val data = messages.collect { case m: GraftDeltaCommit => m.dataFiles }.flatten
    val dels = messages.collect { case m: GraftDeltaCommit => m.deleteFiles }.flatten
    // format-version 3 forbids positional delete FILES (readers ignore
    // them for DV-bearing files — the delete would silently drop): there
    // the task tombstones re-home into deletion vectors at commit
    TableWriter.commitDelta(scanned(), data.toSeq, dels.toSeq, isolation)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftDeltaCommit =>
      m.dataFiles.foreach(f => new File(f.path).delete())
      m.deleteFiles.foreach(f => new File(f).delete())
    }
    writeDir.delete()
  }
}

final case class GraftDeltaCommit(dataFiles: Seq[CowFileOut],
                                  deleteFiles: Seq[String])
    extends WriterCommitMessage

final case class GraftDeltaWriterFactory(dir: String, dataSchemaJson: String,
                                         rowIdSchemaJson: String,
                                         partFields: Seq[PartFieldSpec],
                                         floatFields: Seq[FloatFieldSpec],
                                         parquetProps: Map[String, String],
                                         targetFileBytes: Long,
                                         maxOpenFiles: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftPositionDeltaWriter(dir, partitionId, taskId,
      DataType.fromJson(dataSchemaJson).asInstanceOf[StructType],
      DataType.fromJson(rowIdSchemaJson).asInstanceOf[StructType],
      partFields, floatFields, parquetProps, targetFileBytes, maxOpenFiles)
}

/** Task-side delta writer: inserts ride the same rolling partitioned data
  * writer as copy-on-write; deletes buffer (file, pos) pairs and flush at
  * task commit as ONE sorted positional-delete parquet file per task
  * (Iceberg's required (file_path, pos) order). An update is a delete of
  * the old coordinate plus an insert of the new row — same file shapes,
  * no third case. Memory: the delete buffer is 2 words per MATCHED row of
  * this task only (never the scanned rows), the shape Iceberg's own
  * position-delta writers accept. */
final class GraftPositionDeltaWriter(dir: String, partitionId: Int, taskId: Long,
                                     dataSchema: StructType,
                                     rowIdSchema: StructType,
                                     partFields: Seq[PartFieldSpec],
                                     floatFields: Seq[FloatFieldSpec],
                                     parquetProps: Map[String, String],
                                     targetFileBytes: Long,
                                     maxOpenFiles: Int)
    extends DeltaWriter[InternalRow] {

  private val fileOrd = rowIdSchema.fieldIndex(GraftReaders.FileCol)
  private val posOrd = rowIdSchema.fieldIndex(GraftReaders.PosCol)

  private var inserter: GraftCowDataWriter = _
  private def ins(): GraftCowDataWriter = {
    if (inserter == null)
      inserter = new GraftCowDataWriter(dir, partitionId, taskId, dataSchema,
        partFields, floatFields, parquetProps, targetFileBytes,
        maxOpenFiles = maxOpenFiles)
    inserter
  }

  private val deletes = ArrayBuffer[(String, Long)]()

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes += ((id.getUTF8String(fileOrd).toString, id.getLong(posOrd)))

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def insert(row: InternalRow): Unit = ins().write(row)

  override def commit(): WriterCommitMessage = {
    val dataFiles =
      if (inserter == null) Nil
      else inserter.commit().asInstanceOf[GraftCowCommit].files
    val delFiles =
      if (deletes.isEmpty) Nil
      else {
        val f = new File(dir, f"delete-$partitionId%05d-$taskId.parquet")
        PosDeleteFileWriter.write(f.getPath,
          deletes.distinct.sorted.toSeq, parquetProps)
        Seq(f.getPath)
      }
    GraftDeltaCommit(dataFiles, delFiles)
  }

  override def abort(): Unit = {
    if (inserter != null) inserter.abort()
    deletes.clear()
  }

  override def close(): Unit = ()
}

/** Writes one positional-delete parquet file — (file_path, pos) rows,
  * caller-sorted — through Spark's ParquetWriteSupport (same encoding as
  * every other file this engine writes; [[DeleteFileCache]] and DuckDB
  * both read it back by name). */
private[spark] object PosDeleteFileWriter {
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  val schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private final class B(path: Path)
      extends ParquetWriter.Builder[InternalRow, B](path) {
    override def self(): B = this
    override def getWriteSupport(c: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  def write(path: String, rows: Seq[(String, Long)],
            parquetProps: Map[String, String]): Unit = {
    val conf = new Configuration()
    parquetProps.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.setBoolean("spark.sql.parquet.writeLegacyFormat", false)
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
    conf.setBoolean("spark.sql.parquet.variant.annotateLogicalType.enabled", false)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    val codec = {
      import org.apache.parquet.hadoop.metadata.CompressionCodecName
      parquetProps.get("parquet.compression").map(_.toUpperCase) match {
        case None | Some("SNAPPY") => CompressionCodecName.SNAPPY
        case Some("NONE") | Some("UNCOMPRESSED") => CompressionCodecName.UNCOMPRESSED
        case Some(c) =>
          try CompressionCodecName.valueOf(c)
          catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
      }
    }
    val w = new B(new Path(path)).withConf(conf)
      .withCompressionCodec(codec).build()
    try rows.foreach { case (f, p) =>
      w.write(new GenericInternalRow(Array[Any](UTF8String.fromString(f), p)))
    } finally w.close()
  }
}
