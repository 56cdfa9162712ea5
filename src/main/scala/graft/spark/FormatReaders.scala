package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-granular readers for non-parquet data files (`file_format` AVRO /
  * ORC in the manifests — real Iceberg tables mix formats; the reference
  * decodes the enum, manifest.go:314-320, but can read nothing).
  *
  * Shape: each produces InternalRow in the requested read schema, columns
  * resolved BY NAME with the same historical-name candidates the id-less
  * parquet fallback uses (renamed columns keep resolving), missing columns
  * as null (schema evolution), and the synthetic row-index column filled
  * with the FILE-ABSOLUTE row position — so positional deletes match
  * exactly like they do on parquet.
  *
  * Splittable: both readers take a (start, length) byte range with the
  * standard ownership contract — ORC reads the stripes whose first byte
  * falls in the range (orc-core's `Options.range`), Avro syncs to the
  * first block boundary at/after `start` and reads until past
  * `start+length` (avro-mapred's contract) — so a multi-GB file fans out
  * across tasks instead of becoming one straggler. Each reader derives
  * its row-index BASE from file metadata alone: ORC sums the row counts
  * of the stripes before the range; Avro walks the on-disk block headers
  * (count/size varints + seek over the data) up to the range start,
  * reading ~20 bytes per skipped block and never decoding a row.
  *
  * Scale: these are row-path readers (no vectorized decode) — correct
  * first; the scan stays distributed (one task per split) and
  * mixed-format tables only pay the row path for their non-parquet
  * files. */
private[spark] trait RowFileReader {
  def nextKeyValue(): Boolean
  def getCurrentValue: InternalRow
  def close(): Unit
}

private[spark] final class ParquetRowFileReader(
    r: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader)
    extends RowFileReader {
  override def nextKeyValue(): Boolean = r.nextKeyValue()
  override def getCurrentValue: InternalRow =
    r.getCurrentValue.asInstanceOf[InternalRow]
  override def close(): Unit = r.close()
}

private[spark] object FormatReaders {
  /** Resolution order for a field: current name, then historical names. */
  def candidates(f: StructField): Seq[String] =
    f.name +: (if (f.metadata.contains(SchemaConv.NameCandidatesKey))
      f.metadata.getStringArray(SchemaConv.NameCandidatesKey).toSeq else Nil)

  def rowReader(format: String, path: String, schema: StructType,
                start: Long = 0L, length: Long = Long.MaxValue): RowFileReader =
    format.toUpperCase match {
      case "AVRO" => new AvroRowFileReader(path, schema, start, length)
      case "ORC" => new OrcRowFileReader(path, schema, start, length)
      case other => throw new UnsupportedOperationException(
        s"no row reader for format $other")
    }

  /** Byte-range splits for a non-parquet file: ceil(size / maxSplit)
    * contiguous ranges; the readers own the stripes/blocks whose first
    * byte lands in their range. */
  def byteRanges(size: Long, maxSplit: Long): Seq[(Long, Long)] = {
    if (size <= maxSplit) return Seq((0L, size))
    (0L until size by maxSplit).map(s => (s, math.min(maxSplit, size - s)))
  }
}

/** Avro OCF decode via the avro-core reader (no spark-avro needed),
  * GenericRecord fields mapped to catalyst values. `start`/`length`
  * select the sync-delimited blocks whose preceding sync marker begins in
  * [start, start+length) — the avro-mapred split contract — and the
  * row-index base is recovered by walking the block headers before
  * `start` (seek-over-data, no row decode). */
private[spark] final class AvroRowFileReader(path: String, schema: StructType,
                                             start: Long = 0L,
                                             length: Long = Long.MaxValue)
    extends RowFileReader {
  import org.apache.avro.file.DataFileReader
  import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

  private val hp = new Path(path)
  private val fs = hp.getFileSystem(new Configuration())
  private val end =
    if (length == Long.MaxValue) Long.MaxValue else start + length
  private val stream = new DataFileReader[GenericRecord](
    new org.apache.avro.mapred.FsInput(hp, new Configuration()),
    new GenericDatumReader[GenericRecord]())
  private val rowIndexBase: Long =
    if (start <= 0) 0L else AvroBlockWalker.rowsBefore(fs, hp, start)
  if (start > 0) stream.sync(start)
  private val fileFields: Set[String] = {
    import scala.jdk.CollectionConverters._
    stream.getSchema.getFields.asScala.map(_.name).toSet
  }
  // per output field: the avro field name it reads (None → null column),
  // and whether a timestamp is millis-encoded (micros is the Iceberg
  // default)
  private val resolved: Array[Option[String]] = schema.fields.map { f =>
    if (f.name == GraftReaders.RowIndexCol) None
    else FormatReaders.candidates(f).find(fileFields.contains)
  }
  private val millisTs: Array[Boolean] = schema.fields.zip(resolved).map {
    case (_, Some(n)) =>
      val fs = stream.getSchema.getField(n).schema()
      val s = if (fs.getType == org.apache.avro.Schema.Type.UNION) {
        import scala.jdk.CollectionConverters._
        fs.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL)
          .getOrElse(fs)
      } else fs
      Option(s.getLogicalType).exists(_.getName == "timestamp-millis")
    case _ => false
  }
  private val rowIdxOrd = schema.fieldNames.indexOf(GraftReaders.RowIndexCol)

  private var rowIndex = rowIndexBase - 1
  private var current: InternalRow = _

  private def convert(v: Any, dt: DataType, millis: Boolean): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => UTF8String.fromString(u.toString)
    case s: String => UTF8String.fromString(s)
    case b: java.nio.ByteBuffer =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out)
      dt match {
        case d: DecimalType => org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(new java.math.BigInteger(out), d.scale),
          d.precision, d.scale)
        case _ => out
      }
    case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
    case l: java.lang.Long if dt == TimestampType || dt == TimestampNTZType =>
      if (millis) l * 1000L else l.longValue()
    case n: java.lang.Number => dt match {
      case IntegerType | DateType => n.intValue()
      case LongType => n.longValue()
      case FloatType => n.floatValue()
      case DoubleType => n.doubleValue()
      case ShortType => n.shortValue()
      case ByteType => n.byteValue()
      case _ => throw new UnsupportedOperationException(
        s"avro value of ${n.getClass} for $dt in $path")
    }
    case b: java.lang.Boolean => b.booleanValue()
    case other => throw new UnsupportedOperationException(
      s"unsupported avro value ${other.getClass} in $path")
  }

  override def nextKeyValue(): Boolean = {
    if (!stream.hasNext || (end != Long.MaxValue && stream.pastSync(end)))
      return false
    val rec = stream.next()
    rowIndex += 1
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      values(i) =
        if (i == rowIdxOrd) rowIndex
        else resolved(i) match {
          case Some(n) => convert(rec.get(n), schema(i).dataType, millisTs(i))
          case None => null
        }
      i += 1
    }
    current = new GenericInternalRow(values)
    true
  }
  override def getCurrentValue: InternalRow = current
  override def close(): Unit = stream.close()
}

/** Walks an Avro OCF's on-disk block headers — count/size varints + a
  * seek over the data — to recover how many rows precede a byte offset.
  * Never decodes a row and never reads block payloads, so skipping to a
  * split at offset N costs ~20 bytes of I/O per skipped block. */
private[spark] object AvroBlockWalker {
  import org.apache.hadoop.fs.{FSDataInputStream, FileSystem}

  /** Rows in blocks whose preceding sync marker begins before `start` —
    * the file-absolute row index of the first row a split starting at
    * `start` will read (the avro-mapred ownership contract: a block
    * belongs to the split whose range contains its marker start). */
  def rowsBefore(fs: FileSystem, path: Path, start: Long): Long = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic(0) == 'O' && magic(1) == 'b' && magic(2) == 'j',
        s"not an Avro object container file: $path")
      // file metadata map: (count, entries...) groups until count == 0;
      // a negative count is followed by the group's byte size (seekable)
      var n = readZigZag(in)
      while (n != 0) {
        if (n < 0) { val size = readZigZag(in); in.seek(in.getPos + size) }
        else {
          var i = 0L
          while (i < n) { skipBytesItem(in); skipBytesItem(in); i += 1 }
        }
        n = readZigZag(in)
      }
      // the header's trailing 16-byte sync is the first block's marker
      var marker = in.getPos
      var rows = 0L
      while (marker < start && marker + 16 < len) {
        in.seek(marker + 16)
        val count = readZigZag(in)
        val size = readZigZag(in)
        rows += count
        marker = in.getPos + size // data end = next block's marker start
      }
      rows
    } finally in.close()
  }

  /** Zigzag-varint long (Avro's `long` wire format). */
  private def readZigZag(in: FSDataInputStream): Long = {
    var b = in.read()
    if (b < 0) throw new java.io.EOFException()
    var n: Long = b & 0x7f
    var shift = 7
    while ((b & 0x80) != 0) {
      b = in.read()
      if (b < 0) throw new java.io.EOFException()
      n |= (b & 0x7fL) << shift
      shift += 7
    }
    (n >>> 1) ^ -(n & 1)
  }

  /** Skip one Avro `bytes`/`string` item: varint length + payload. */
  private def skipBytesItem(in: FSDataInputStream): Unit = {
    val size = readZigZag(in)
    in.seek(in.getPos + size)
  }
}

/** ORC decode via orc-core's vectorized row batches (bundled with Spark),
  * surfaced row-by-row. `start`/`length` select the stripes whose first
  * byte falls inside the range (orc-core's own split contract); the
  * row-index base is the row count of the stripes before the range, from
  * stripe metadata alone. */
private[spark] final class OrcRowFileReader(path: String, schema: StructType,
                                            start: Long = 0L,
                                            length: Long = Long.MaxValue)
    extends RowFileReader {
  import org.apache.orc.OrcFile

  private val hp = new Path(path)
  private val reader = OrcFile.createReader(hp,
    OrcFile.readerOptions(new Configuration()))
  private val fileSchema = reader.getSchema
  private val fileNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    fileSchema.getFieldNames.asScala.toSeq
  }
  private val colOf: Array[Int] = schema.fields.map { f =>
    if (f.name == GraftReaders.RowIndexCol) -1
    else FormatReaders.candidates(f).collectFirst {
      case n if fileNames.contains(n) => fileNames.indexOf(n)
    }.getOrElse(-1)
  }
  private val rowIndexBase: Long =
    if (start <= 0) 0L
    else {
      import scala.jdk.CollectionConverters._
      reader.getStripes.asScala.takeWhile(_.getOffset < start)
        .map(_.getNumberOfRows).sum
    }
  private val rows =
    if (start <= 0 && length == Long.MaxValue) reader.rows()
    else reader.rows(reader.options().range(start, length))
  private val batch = fileSchema.createRowBatch(1024)
  private var inBatch = 0
  private var batchSize = 0
  private var rowIndex = rowIndexBase - 1
  private var current: InternalRow = _

  private def value(col: Int, r: Int, dt: DataType): Any = {
    import org.apache.hadoop.hive.ql.exec.vector._
    val v = batch.cols(col)
    val idx = if (v.isRepeating) 0 else r
    if (!v.noNulls && v.isNull(idx)) return null
    v match {
      case lv: LongColumnVector => dt match {
        case BooleanType => lv.vector(idx) != 0L
        case IntegerType | DateType => lv.vector(idx).toInt
        case ShortType => lv.vector(idx).toShort
        case ByteType => lv.vector(idx).toByte
        case LongType => lv.vector(idx)
        case _ => throw new UnsupportedOperationException(
          s"orc long vector for $dt in $path")
      }
      case dv: DoubleColumnVector =>
        if (dt == FloatType) dv.vector(idx).toFloat else dv.vector(idx)
      case bv: BytesColumnVector =>
        val bytes = java.util.Arrays.copyOfRange(bv.vector(idx),
          bv.start(idx), bv.start(idx) + bv.length(idx))
        if (dt == BinaryType) bytes else UTF8String.fromBytes(bytes)
      case tv: TimestampColumnVector =>
        tv.time(idx) * 1000L + (tv.nanos(idx) / 1000L) % 1000L
      case dv: DecimalColumnVector => dt match {
        case d: DecimalType => org.apache.spark.sql.types.Decimal(
          dv.vector(idx).getHiveDecimal.bigDecimalValue(), d.precision, d.scale)
        case _ => throw new UnsupportedOperationException(
          s"orc decimal vector for $dt in $path")
      }
      case other => throw new UnsupportedOperationException(
        s"unsupported orc vector ${other.getClass} for $dt in $path")
    }
  }

  override def nextKeyValue(): Boolean = {
    if (inBatch >= batchSize) {
      if (!rows.nextBatch(batch)) return false
      batchSize = batch.size
      inBatch = 0
      if (batchSize == 0) return false
    }
    rowIndex += 1
    val r = inBatch
    inBatch += 1
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      values(i) =
        if (colOf(i) < 0)
          (if (schema(i).name == GraftReaders.RowIndexCol) rowIndex else null)
        else value(colOf(i), r, schema(i).dataType)
      i += 1
    }
    current = new GenericInternalRow(values)
    true
  }
  override def getCurrentValue: InternalRow = current
  override def close(): Unit = { rows.close(); reader.close() }
}
