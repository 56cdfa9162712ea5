package graft.spark

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{DeleteMatching, PartitionSpec}

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

/** V2 delta batch write: each task writes its appended rows and its
  * positional tombstones through two task writers built by
  * [[GraftCowWriterFactory.of]] (the rows in the table's format, the
  * tombstones as Parquet under the reserved `file_path`/`pos` field ids);
  * the driver commit lands both in ONE snapshot, pinned to the handle the
  * scan read (a concurrent commit between scan and write would invalidate
  * the captured row positions). */
final class GraftDeltaWrite(location: String, dataSchema: StructType,
                            rowIdSchema: StructType,
                            scanned: () => IcebergTable,
                            isolation: String = "serializable")
    extends DeltaWrite with DeltaBatchWrite {

  private val writeDir =
    new File(location, s"data/mor-${java.util.UUID.randomUUID()}")
  // both task writers name files part-<partition>-<task>-<seq>: the
  // tombstone files get their own directory
  private val deleteDir = new File(writeDir, "deletes")

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    deleteDir.mkdirs()
    val table = scanned()
    GraftDeltaWriterFactory(
      GraftCowWriterFactory.of(writeDir.getPath, dataSchema, table.schema,
        table.spec, table.properties),
      GraftCowWriterFactory.of(deleteDir.getPath,
        SchemaConv.toSparkSchema(DeleteMatching.PositionalDeleteSchema),
        DeleteMatching.PositionalDeleteSchema, PartitionSpec.unpartitioned, Map.empty),
      rowIdSchema.fieldIndex(GraftReaders.FileCol),
      rowIdSchema.fieldIndex(GraftReaders.PosCol))
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
    deleteDir.delete()
    writeDir.delete()
  }
}

final case class GraftDeltaCommit(dataFiles: Seq[CowFileOut],
                                  deleteFiles: Seq[String])
    extends WriterCommitMessage

/** The delta write's two task writers and where a row id holds its
  * `_file` and `_pos`. */
final case class GraftDeltaWriterFactory(inserts: GraftCowWriterFactory,
                                         deletes: GraftCowWriterFactory,
                                         fileOrd: Int, posOrd: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftPositionDeltaWriter(this, partitionId, taskId)
}

/** Task-side delta writer: inserts ride the same rolling partitioned data
  * writer as copy-on-write; deletes buffer (file, pos) pairs and flush at
  * task commit, sorted (Iceberg's required (file_path, pos) order),
  * through a second task writer over the positional-delete schema: one
  * Parquet file per task. An update is a delete of the old coordinate plus
  * an insert of the new row — same file shapes, no third case. Memory: the
  * delete buffer is 2 words per MATCHED row of this task only (never the
  * scanned rows), the shape Iceberg's own position-delta writers accept. */
final class GraftPositionDeltaWriter(factory: GraftDeltaWriterFactory,
                                     partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var inserter: DataWriter[InternalRow] = _
  private var deleter: DataWriter[InternalRow] = _

  private val deletes = ArrayBuffer[(String, Long)]()

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes += ((id.getUTF8String(factory.fileOrd).toString, id.getLong(factory.posOrd)))

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def insert(row: InternalRow): Unit = {
    if (inserter == null) inserter = factory.inserts.createWriter(partitionId, taskId)
    inserter.write(row)
  }

  private def files(w: DataWriter[InternalRow]): Seq[CowFileOut] =
    w.commit().asInstanceOf[GraftCowCommit].files

  override def commit(): WriterCommitMessage = {
    val dataFiles = if (inserter == null) Nil else files(inserter)
    val delFiles =
      if (deletes.isEmpty) Nil
      else {
        deleter = factory.deletes.createWriter(partitionId, taskId)
        deletes.distinct.sorted.foreach { case (f, p) =>
          deleter.write(new GenericInternalRow(Array[Any](UTF8String.fromString(f), p)))
        }
        files(deleter).map(_.path)
      }
    GraftDeltaCommit(dataFiles, delFiles)
  }

  override def abort(): Unit = {
    if (inserter != null) inserter.abort()
    if (deleter != null) deleter.abort()
    deletes.clear()
  }

  override def close(): Unit = ()
}
