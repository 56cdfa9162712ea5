package graft.spark

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Data-file writers for `write.format.default` = orc / avro — the write
  * side of FormatReaders (the reference carries the format enum,
  * manifest.go:314-320, but can write nothing). One open file per call,
  * rolled by the task writer at `write.target-file-size-bytes` like the
  * parquet sink. Self-consistency contract: whatever these write, the
  * row readers in FormatReaders read back bit-identically (same
  * micros-encoded timestamps, date days, unscaled-bytes decimals). Every
  * data-file write (appends, copy-on-write rewrites, merge-on-read
  * inserts, the streaming sink) takes the table's format through
  * [[GraftCowWriterFactory.of]]; delete files are always Parquet.
  *
  * ORC files get real footer statistics (orc-core computes them per
  * stripe), which the commit path turns into Iceberg bounds — so stats
  * pruning works on ORC-written tables. Avro has no footer stats: the
  * manifest entry records counts only, and the metrics evaluator's
  * missing-stats rules keep those files un-prunable but correct. */
private[spark] trait RollingWriter {
  def write(row: InternalRow): Unit
  /** Approximate bytes written so far (rolling trigger — precision is
    * not required, only monotonic growth). */
  def dataSize: Long
  def close(): Unit
}

private[spark] object FormatWriters {
  /** Rough serialized size per row — drives file rolling only. */
  def estimateRowBytes(row: InternalRow, schema: StructType): Long = {
    var sz = 8L
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) sz += (schema(i).dataType match {
        case StringType => row.getUTF8String(i).numBytes().toLong + 4
        case BinaryType => row.getBinary(i).length.toLong + 4
        case _: DecimalType => 16L
        case BooleanType | ByteType => 1L
        case ShortType => 2L
        case IntegerType | DateType | FloatType => 4L
        case _ => 8L
      })
      i += 1
    }
    sz
  }

  def fileExtension(format: String): String = format.toUpperCase match {
    case "ORC" => "orc"
    case "AVRO" => "avro"
    case _ => "parquet"
  }

  /** Iceberg's data-file format table property. */
  val FormatProp = "write.format.default"

  /** The table's data-file format ([[FormatProp]]); PARQUET unless
    * overridden. */
  def dataFormatOf(properties: Map[String, String]): String = {
    val f = properties.getOrElse(FormatProp, "parquet").toUpperCase
    require(f == "PARQUET" || f == "ORC" || f == "AVRO",
      s"unsupported $FormatProp: $f")
    f
  }
}

/** ORC writing via orc-core (bundled with Spark): rows buffered into
  * vectorized batches, flushed per 1024 rows. Column encodings mirror
  * what OrcRowFileReader decodes (timestamps as millis+nanos vectors
  * reconstructing exact micros). */
private[spark] final class OrcRollingWriter(path: String, schema: StructType)
    extends RollingWriter {
  import org.apache.hadoop.hive.ql.exec.vector._
  import org.apache.orc.{OrcFile, TypeDescription}

  private val td = {
    val root = TypeDescription.createStruct()
    schema.fields.foreach { f =>
      root.addField(f.name, f.dataType match {
        case BooleanType => TypeDescription.createBoolean()
        case ByteType => TypeDescription.createByte()
        case ShortType => TypeDescription.createShort()
        case IntegerType => TypeDescription.createInt()
        case LongType => TypeDescription.createLong()
        case FloatType => TypeDescription.createFloat()
        case DoubleType => TypeDescription.createDouble()
        case StringType => TypeDescription.createString()
        case BinaryType => TypeDescription.createBinary()
        case DateType => TypeDescription.createDate()
        case TimestampType | TimestampNTZType => TypeDescription.createTimestamp()
        case d: DecimalType => TypeDescription.createDecimal()
          .withPrecision(d.precision).withScale(d.scale)
        case other => throw new UnsupportedOperationException(
          s"ORC write of $other not supported")
      })
    }
    root
  }
  private val writer = OrcFile.createWriter(new Path(path),
    OrcFile.writerOptions(new Configuration()).setSchema(td).overwrite(true))
  private val batch = td.createRowBatch(1024)
  private var bytes = 0L

  private def setCell(col: ColumnVector, i: Int, row: InternalRow,
                      ord: Int, dt: DataType): Unit = {
    if (row.isNullAt(ord)) { col.noNulls = false; col.isNull(i) = true; return }
    (col, dt) match {
      case (lv: LongColumnVector, BooleanType) =>
        lv.vector(i) = if (row.getBoolean(ord)) 1L else 0L
      case (lv: LongColumnVector, ByteType) => lv.vector(i) = row.getByte(ord)
      case (lv: LongColumnVector, ShortType) => lv.vector(i) = row.getShort(ord)
      case (lv: LongColumnVector, IntegerType | DateType) =>
        lv.vector(i) = row.getInt(ord)
      case (lv: LongColumnVector, LongType) => lv.vector(i) = row.getLong(ord)
      case (dv: DoubleColumnVector, FloatType) => dv.vector(i) = row.getFloat(ord)
      case (dv: DoubleColumnVector, DoubleType) => dv.vector(i) = row.getDouble(ord)
      case (bv: BytesColumnVector, StringType) =>
        bv.setVal(i, row.getUTF8String(ord).getBytes)
      case (bv: BytesColumnVector, BinaryType) => bv.setVal(i, row.getBinary(ord))
      case (tv: TimestampColumnVector, TimestampType | TimestampNTZType) =>
        // micros → (millis, subsecond nanos); reader reconstructs exactly
        val m = row.getLong(ord)
        tv.time(i) = Math.floorDiv(m, 1000L)
        tv.nanos(i) = (Math.floorMod(m, 1000000L) * 1000L).toInt
      case (dv: DecimalColumnVector, d: DecimalType) =>
        dv.vector(i).set(org.apache.hadoop.hive.common.`type`.HiveDecimal.create(
          row.getDecimal(ord, d.precision, d.scale).toJavaBigDecimal))
      case (c, t) => throw new UnsupportedOperationException(
        s"ORC write: ${c.getClass.getSimpleName} for $t")
    }
  }

  override def write(row: InternalRow): Unit = {
    val i = batch.size
    var c = 0
    while (c < schema.length) {
      setCell(batch.cols(c), i, row, c, schema(c).dataType)
      c += 1
    }
    batch.size += 1
    bytes += FormatWriters.estimateRowBytes(row, schema)
    if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
  }

  override def dataSize: Long = bytes
  override def close(): Unit = {
    if (batch.size > 0) { writer.addRowBatch(batch); batch.reset() }
    writer.close()
  }
}

/** Avro OCF writing via avro-core: catalyst values mapped to the same
  * logical types AvroRowFileReader decodes (timestamp-micros, date,
  * bytes-decimal). Nullable columns become union(null, T). */
private[spark] final class AvroRollingWriter(path: String, schema: StructType)
    extends RollingWriter {
  import org.apache.avro.{LogicalTypes, Schema => ASchema, SchemaBuilder}
  import org.apache.avro.file.DataFileWriter
  import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

  private def baseType(dt: DataType): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case ByteType | ShortType | IntegerType => ASchema.create(ASchema.Type.INT)
    case LongType => ASchema.create(ASchema.Type.LONG)
    case FloatType => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
    case StringType => ASchema.create(ASchema.Type.STRING)
    case BinaryType => ASchema.create(ASchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case TimestampType | TimestampNTZType =>
      LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(ASchema.create(ASchema.Type.BYTES))
    case other => throw new UnsupportedOperationException(
      s"Avro write of $other not supported")
  }

  private val avroSchema: ASchema = {
    var fields = SchemaBuilder.record("r").namespace("graft").fields()
    schema.fields.foreach { f =>
      val t = baseType(f.dataType)
      fields =
        if (f.nullable)
          fields.name(f.name).`type`(ASchema.createUnion(
            ASchema.create(ASchema.Type.NULL), t)).withDefault(null)
        else fields.name(f.name).`type`(t).noDefault()
    }
    fields.endRecord()
  }
  private val writer = new DataFileWriter[GenericRecord](
    new GenericDatumWriter[GenericRecord](avroSchema))
  writer.create(avroSchema, new File(path))
  private var bytes = 0L

  private def cell(row: InternalRow, ord: Int, dt: DataType): AnyRef = dt match {
    case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(ord))
    case ByteType => Integer.valueOf(row.getByte(ord).toInt)
    case ShortType => Integer.valueOf(row.getShort(ord).toInt)
    case IntegerType | DateType => Integer.valueOf(row.getInt(ord))
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.valueOf(row.getLong(ord))
    case FloatType => java.lang.Float.valueOf(row.getFloat(ord))
    case DoubleType => java.lang.Double.valueOf(row.getDouble(ord))
    case StringType => row.getUTF8String(ord).toString
    case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(ord))
    case d: DecimalType => java.nio.ByteBuffer.wrap(
      row.getDecimal(ord, d.precision, d.scale)
        .toJavaBigDecimal.unscaledValue().toByteArray)
    case other => throw new UnsupportedOperationException(
      s"Avro write of $other not supported")
  }

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < schema.length) {
      rec.put(i, if (row.isNullAt(i)) null else cell(row, i, schema(i).dataType))
      i += 1
    }
    writer.append(rec)
    bytes += FormatWriters.estimateRowBytes(row, schema)
  }

  override def dataSize: Long = bytes
  override def close(): Unit = writer.close()
}
