package graft.spark

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Literal => IceLiteral, _}

/** Copy-on-write row-level operations: SQL UPDATE / MERGE / (non-pushable)
  * DELETE.
  *
  * Spark's group-based rewrite drives this: the operation's scan reads the
  * table with per-row `_file` provenance, runtime group filtering narrows
  * the scan to the files that contain matching rows (via the scan's
  * `_file` runtime filter — metadata-only), Spark computes the replacement
  * rows for those files, and commit atomically swaps exactly the scanned
  * files for the newly written ones. Untouched files are never read or
  * rewritten; without group filtering the rewrite degrades to a full-table
  * copy, which is slower but still correct.
  *
  * Partitioned tables work: each write task derives the partition tuple per
  * row with the core transforms and keeps one open file per partition
  * value, and the commit records the tuples in the manifest (scans resolve
  * files from manifests, so no hive directory layout is needed).
  *
  * (Pushable DELETEs never get here — `SupportsDelete` commits merge-on-
  * read tombstones without touching data.) */
final class GraftRowLevelOperation(table: IcebergTable,
                                   cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  @volatile private var capturedScan: GraftScan = _
  // the handle the scan planned against — the commit derives its snapshot
  // from THIS metadata and is pinned to it, so a commit that lands
  // mid-rewrite conflicts instead of being silently based away
  @volatile private var scanned: IcebergTable = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"icegopher $cmd ${table.location} [copy-on-write]"

  /** `_file` groups the rewrite; on V3 tables the row-lineage metadata
    * columns ride along too, so the replacement files MATERIALIZE each
    * carried row's `_row_id`/`_last_updated_sequence_number` (the spec's
    * id-preserving rewrite) instead of re-identifying every row. */
  private lazy val v3Lineage: Boolean = {
    val md = table.metadata
    md.formatVersion >= 3 &&
      !md.currentSchema.fields.exists(f =>
        f.name == GraftReaders.RowIdCol || f.name == GraftReaders.LastUpdatedSeqCol)
  }

  override def requiredMetadataAttributes(): Array[NamedReference] = {
    val base = Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftReaders.FileCol))
    if (!v3Lineage) base
    else base ++ Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftReaders.RowIdCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftReaders.LastUpdatedSeqCol))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fresh = table.ops.current()
    scanned = fresh
    // the `_file` projection keeps this scan on driver-side planning: the
    // CoW commit needs per-task manifest provenance
    val inner = new GraftScanBuilder(fresh,
      SchemaConv.toSparkSchema(fresh.schema), options)
    // capture the built scan: its (runtime-filtered) file set is the group
    // set the commit replaces
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      override def pruneColumns(requiredSchema: StructType): Unit =
        inner.pruneColumns(requiredSchema)
      override def build(): Scan = {
        val scan = inner.build().asInstanceOf[GraftScan]
        capturedScan = scan
        scan
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(table.location, info.schema(),
          () => {
            require(capturedScan != null, "row-level write before scan was planned")
            (scanned, capturedScan.scannedFilePaths,
              capturedScan.scannedManifestPaths)
          },
          withLineage = v3Lineage,
          // Spark's If-shaped rewrite delivers the SCAN's metadata for
          // modified rows too, so a materialized _last_updated_sequence_
          // number would keep the OLD value on rows this commit changed —
          // a seq-keyed incremental consumer would MISS the update. For
          // UPDATE/MERGE only _row_id materializes; _last falls back to
          // the rewritten file's data sequence number (file-granular
          // updated-seq, the safe over-approximation). DELETE rewrites
          // carry provably-unmodified rows, so both fields materialize.
          withLastUpdated = cmd == RowLevelOperation.Command.DELETE)
    }
}

/** V2 batch write for the replacement rows: tasks write them in the
  * table's file format through the task writer [[GraftCowWriterFactory.of]]
  * builds; the driver commit swaps the replaced files in one OVERWRITE
  * snapshot, pinned to the handle the scan read (CommitConflictError on
  * concurrent commits — a MoR delete landing mid-rewrite would otherwise
  * be silently undone). */
final class GraftReplaceDataWrite(location: String, writeSchema: StructType,
                                  replacedFiles: () => (IcebergTable, Seq[String], Set[String]),
                                  withLineage: Boolean = false,
                                  withLastUpdated: Boolean = true)
    extends Write with BatchWrite {

  private val writeDir =
    new File(location, s"data/cow-${java.util.UUID.randomUUID()}")

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    writeDir.mkdirs()
    val table = replacedFiles()._1
    // V3 lineage: physical trailing columns under the spec's reserved ids;
    // metadata arrives as (_file, _row_id, _last_updated_sequence_number)
    // — the declaration order of requiredMetadataAttributes
    val fullSchema =
      if (!withLineage) writeSchema
      else StructType(writeSchema.fields ++ (
        StructField(GraftReaders.RowIdCol, LongType, nullable = true) +:
        (if (withLastUpdated)
          Seq(StructField(GraftReaders.LastUpdatedSeqCol, LongType,
            nullable = true))
        else Nil)))
    GraftCowWriterFactory.of(writeDir.getPath, fullSchema, table.schema,
      table.spec, table.properties,
      lineageMetaOrds =
        if (!withLineage) Nil
        else if (withLastUpdated) Seq(1, 2) else Seq(1))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.collect { case m: GraftCowCommit => m.files }.flatten
    val (scanned, paths, manifests) = replacedFiles()
    TableWriter.replaceFiles(scanned, paths.toSet, added.toSeq,
      touchedManifests = Some(manifests).filter(_.nonEmpty))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftCowCommit =>
      m.files.foreach(f => new File(f.path).delete())
    }
    writeDir.delete()
  }
}

/** One partition field of the write: source column, transform repr, name. */
final case class PartFieldSpec(srcCol: String, transformRepr: String,
                               partName: String)

final case class CowFileOut(path: String, rows: Long,
                            partition: Map[String, Any],
                            nanCounts: Map[Int, Long] = Map.empty)

final case class GraftCowCommit(files: Seq[CowFileOut]) extends WriterCommitMessage

/** One float/double column of the write: name + Iceberg field id, so task
  * writers can count NaNs inline (parquet footers don't record them and a
  * post-hoc data pass would double the write cost). */
final case class FloatFieldSpec(colName: String, fieldId: Int)

/** The serializable recipe of one task writer; built only by
  * [[GraftCowWriterFactory.of]]. */
final case class GraftCowWriterFactory(dir: String, schemaJson: String,
                                       partFields: Seq[PartFieldSpec],
                                       floatFields: Seq[FloatFieldSpec],
                                       parquetProps: Map[String, String],
                                       targetFileBytes: Long,
                                       format: String,
                                       maxOpenFiles: Int,
                                       // V3 CoW lineage: ordinals of
                                       // (_row_id, _last_updated_sequence_
                                       // number) in the METADATA row Spark
                                       // hands write(meta, row); when set,
                                       // `schemaJson` already carries the
                                       // two trailing long columns
                                       lineageMetaOrds: Seq[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftCowDataWriter(dir, partitionId, taskId,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], partFields, floatFields,
      parquetProps, targetFileBytes, format, maxOpenFiles, lineageMetaOrds)
}

object GraftCowWriterFactory {
  /** The one rule deriving a task writer, for every file this engine
    * writes: `writeSchema` stamped with `schema`'s field ids, `spec`'s
    * partition fields, the float fields counted for NaNs, and from
    * `properties` the Parquet settings, file format, target file size and
    * open-file cap. Data files pass the table's schema, spec and
    * properties; delete files pass their own schema, no partitions and no
    * properties, so they are always Parquet. */
  def of(dir: String, writeSchema: StructType, schema: graft.core.Schema,
         spec: graft.core.PartitionSpec, properties: Map[String, String],
         lineageMetaOrds: Seq[Int] = Nil): GraftCowWriterFactory =
    GraftCowWriterFactory(dir, withParquetIds(writeSchema, schema).json,
      spec.fields.map { pf =>
        val src = schema.findFieldById(pf.sourceId).getOrElse(
          throw new IllegalStateException(s"partition source ${pf.sourceId} missing"))
        PartFieldSpec(src.name, pf.transform.repr, pf.name)
      },
      floatFieldsOf(schema, writeSchema),
      parquetPropsOf(org.apache.spark.sql.SparkSession.active, properties),
      targetFileBytes(properties), FormatWriters.dataFormatOf(properties),
      maxOpenFilesOf(properties), lineageMetaOrds)

  /** Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  val ParquetFieldIdKey = "parquet.field.id"

  /** Iceberg's target data-file size property; writers roll to a new file
    * when the open one reaches it (512 MB default, Iceberg's own). */
  val TargetFileSizeProp = "write.target-file-size-bytes"
  val DefaultTargetFileSize: Long = 512L * 1024 * 1024

  def targetFileBytes(tableProps: Map[String, String]): Long =
    tableProps.get(TargetFileSizeProp).flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(DefaultTargetFileSize)

  /** Hard cap on CONCURRENTLY open data files per task writer. The append
    * path locally sorts rows by partition tuple, so one open file at a
    * time suffices there; this cap protects the paths that can't
    * guarantee tuple-grouped input (CoW rewrites, the streaming sink,
    * range-clustered writes whose sort keys aren't the partition keys) —
    * an open parquet writer buffers up to a row group, so open writers ×
    * tasks is the memory bill. Evicting closes the file; a tuple that
    * reappears just opens a new file (same shape the roll-at-target-size
    * path already produces). */
  val MaxOpenFilesProp = "write.task.max-open-files"
  val DefaultMaxOpenFiles: Int = 4

  def maxOpenFilesOf(tableProps: Map[String, String]): Int =
    tableProps.get(MaxOpenFilesProp).flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(DefaultMaxOpenFiles)

  /** The table's float/double fields present in the write schema. */
  def floatFieldsOf(schema: graft.core.Schema, writeSchema: StructType): Seq[FloatFieldSpec] =
    schema.fields.collect {
      case f if (f.fieldType == graft.core.FloatT || f.fieldType == graft.core.DoubleT) &&
        writeSchema.fieldNames.contains(f.name) => FloatFieldSpec(f.name, f.id)
    }

  /** Stamp Iceberg field ids onto the write schema as parquet field-id
    * metadata, so written files carry ids and renamed columns keep
    * resolving (readers match by id when the file has ids). Recurses into
    * nested structs, matching the nested ALTER TABLE surface — a renamed
    * `a.b.c` resolves by id in any file written through this stamp.
    *
    * Rename-safety deliberately stops at LIST/MAP boundaries: fields
    * nested under a list element / map value are written WITHOUT ids and
    * resolve by name only — consistent with schema evolution refusing
    * list/map paths (`rewriteStructAt`: those levels have no stable
    * user-facing field names to evolve through), so no rename can ever
    * target them and the id stamp would be dead weight. */
  def withParquetIds(writeSchema: StructType, schema: graft.core.Schema): StructType = {
    def stamp(st: StructType, ice: graft.core.StructT,
              topLevel: Boolean): StructType =
      StructType(st.fields.map { f =>
        ice.fields.find(_.name == f.name) match {
          case Some(nf) =>
            val dt = (f.dataType, nf.fieldType) match {
              case (s: StructType, is: graft.core.StructT) => stamp(s, is, false)
              case (other, _) => other
            }
            f.copy(dataType = dt,
              metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putLong(ParquetFieldIdKey, nf.id.toLong).build())
          case None =>
            // V3 materialized row lineage: top-level `_row_id` /
            // `_last_updated_sequence_number` columns (written by
            // lineage-preserving compaction) are not table-schema fields;
            // they carry the spec's RESERVED ids so readers resolve them
            // by id like any other column
            val reserved =
              if (!topLevel) None
              else if (f.name == GraftReaders.RowIdCol)
                Some(GraftReaders.RowIdFieldId)
              else if (f.name == GraftReaders.LastUpdatedSeqCol)
                Some(GraftReaders.LastUpdatedSeqFieldId)
              else None
            reserved match {
              case Some(id) => f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong(ParquetFieldIdKey, id.toLong).build())
              case None => f
            }
        }
      })
    stamp(writeSchema, schema.struct, topLevel = true)
  }

  /** Driver-side capture of the session's parquet writer settings
    * (`parquet.*` Hadoop conf — block/page size etc. — plus the session
    * compression codec), shipped to the task writers so a direct
    * `ParquetWriter` behaves like Spark's own parquet sink. */
  def parquetPropsOf(spark: org.apache.spark.sql.SparkSession,
                     tableProps: Map[String, String] = Map.empty)
      : Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val fromHadoop = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter(_._1.startsWith("parquet.")).toMap
    // Iceberg-style per-column bloom filter table properties → writer
    // settings: point lookups on high-cardinality keys skip row groups
    // without any sort (complementary to min/max bounds, which need
    // clustering to be selective)
    val bloom = tableProps.collect {
      case (k, v) if k.startsWith(BloomPropPrefix) =>
        (s"parquet.bloom.filter.enabled#" + k.stripPrefix(BloomPropPrefix)) -> v
    }
    // V3 variant shredding (write.variant.shredding.*): per-column shred
    // DDL rides the writer props as strings so task writers — which only
    // see serialized props — can build the shredded parquet schema
    val shred =
      if (!tableProps.get(ShredEnabledProp).exists(_.equalsIgnoreCase("true")))
        Map.empty[String, String]
      else tableProps.collect {
        case (k, v) if k.startsWith(ShredSchemaPropPrefix) =>
          (VariantShredKeyPrefix + k.stripPrefix(ShredSchemaPropPrefix)) -> v
      }
    fromHadoop ++ bloom ++ shred + ("parquet.compression" ->
      spark.conf.get("spark.sql.parquet.compression.codec", "snappy"))
  }

  val BloomPropPrefix = "write.parquet.bloom-filter-enabled.column."

  /** Table properties enabling V3 variant SHREDDING on write: when
    * enabled, each variant column with a configured shredding DDL
    * (`write.variant.shredding.schema.<column> = "a int, b string"`) is
    * written as the spec's {metadata, value, typed_value} group — typed
    * subcolumns readers prune and push into, values that don't fit the
    * type falling back to the binary residual. Columns without a
    * configured DDL stay unshredded (inference would need a data
    * pre-pass). */
  val ShredEnabledProp = "write.variant.shredding.enabled"
  val ShredSchemaPropPrefix = "write.variant.shredding.schema."
  private[spark] val VariantShredKeyPrefix = "graft.variant.shred#"
}

/** The task writer of every data and delete file: Parquet through
  * Spark's ParquetWriteSupport (same encoding as Spark's own parquet sink)
  * — or the ORC/Avro rolling writers when the table's
  * `write.format.default` says so — one open file per partition tuple
  * seen by this task. Partition tuples are derived per row with the CORE
  * transforms (bucket/truncate/day/... exactly as the spec defines them)
  * and shipped to the driver in the commit message — manifests carry
  * them, so reads prune correctly without a hive directory layout. */
final class GraftCowDataWriter(dir: String, partitionId: Int, taskId: Long,
                               schema: StructType, partFields: Seq[PartFieldSpec],
                               floatFields: Seq[FloatFieldSpec] = Nil,
                               parquetProps: Map[String, String] = Map.empty,
                               targetFileBytes: Long = Long.MaxValue,
                               format: String = "PARQUET",
                               maxOpenFiles: Int =
                                 GraftCowWriterFactory.DefaultMaxOpenFiles,
                               lineageMetaOrds: Seq[Int] = Nil)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  private val conf = {
    val c = new Configuration()
    parquetProps.foreach { case (k, v) => c.set(k, v) }
    ParquetWriteSupport.setSchema(schema, c)
    c.set("spark.sql.session.timeZone", "UTC")
    c.setBoolean("spark.sql.parquet.writeLegacyFormat", false)
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
    c.setBoolean("spark.sql.parquet.variant.annotateLogicalType.enabled", false)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    // V3 variant shredding: replace each configured variant column with
    // the spec's {metadata, value, typed_value} struct (Spark's write
    // support does the per-row cast, residual fallback included) — the
    // LOGICAL schema stays VariantType, so field ids and manifests are
    // unchanged; only the parquet layout gains typed subcolumns
    val shredDdls = parquetProps.collect {
      case (k, v) if k.startsWith(GraftCowWriterFactory.VariantShredKeyPrefix) =>
        k.stripPrefix(GraftCowWriterFactory.VariantShredKeyPrefix) -> v
    }
    if (shredDdls.nonEmpty) {
      import org.apache.spark.sql.execution.datasources.parquet.SparkShreddingUtils
      import org.apache.spark.sql.types.{DataType, VariantType}
      var any = false
      val replaced = StructType(schema.fields.map { f =>
        (f.dataType, shredDdls.get(f.name)) match {
          case (VariantType, Some(ddl)) =>
            any = true
            f.copy(dataType = SparkShreddingUtils.addWriteShreddingMetadata(
              SparkShreddingUtils.variantShreddingSchema(DataType.fromDDL(ddl))))
          case _ => f
        }
      })
      if (any) ParquetWriteSupport.setShreddingSchema(replaced, c)
    }
    c
  }

  private final class B(path: Path)
      extends ParquetWriter.Builder[InternalRow, B](path) {
    override def self(): B = this
    override def getWriteSupport(c: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  // the direct Builder path ignores these conf keys (only ParquetOutputFormat
  // reads them), so apply explicitly to match Spark's sink behavior
  private val codec = {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    parquetProps.get("parquet.compression").map(_.toUpperCase) match {
      case None | Some("SNAPPY") => CompressionCodecName.SNAPPY
      case Some("NONE") | Some("UNCOMPRESSED") => CompressionCodecName.UNCOMPRESSED
      case Some(c) =>
        try CompressionCodecName.valueOf(c)
        catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
    }
  }
  private val rowGroupBytes = parquetProps.get("parquet.block.size")
    .flatMap(_.toLongOption).getOrElse(ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
  // the direct Builder path also ignores the bloom conf keys — explicit
  private val bloomCols: Seq[String] = parquetProps.collect {
    case (k, v) if k.startsWith("parquet.bloom.filter.enabled#") &&
      v.equalsIgnoreCase("true") =>
      k.stripPrefix("parquet.bloom.filter.enabled#")
  }.toSeq.sorted

  /** A parquet writer behind the format-agnostic rolling interface. */
  private final class ParquetRollingWriter(path: String) extends RollingWriter {
    private val w = {
      var b = new B(new Path(path)).withConf(conf)
        .withCompressionCodec(codec).withRowGroupSize(rowGroupBytes)
      bloomCols.foreach(c => b = b.withBloomFilterEnabled(c, true))
      b.build()
    }
    override def write(row: InternalRow): Unit = w.write(row)
    override def dataSize: Long = w.getDataSize
    override def close(): Unit = w.close()
  }

  private def openWriter(path: String): RollingWriter = format.toUpperCase match {
    case "ORC" => new OrcRollingWriter(path, schema)
    case "AVRO" => new AvroRollingWriter(path, schema)
    case _ => new ParquetRollingWriter(path)
  }

  private case class Sink(file: File, writer: RollingWriter,
                          partition: Map[String, Any]) {
    var rows = 0L
    val nan = new Array[Long](floatFields.size)
    def toOut: CowFileOut = CowFileOut(file.getPath, rows, partition,
      floatFields.zipWithIndex.map { case (ff, i) => ff.fieldId -> nan(i) }.toMap)
  }

  // one OPEN sink per partition tuple this task sees (empty tuple when
  // unpartitioned → exactly one); sinks that reach `targetFileBytes` roll
  // into `finished` and a fresh file opens for the tuple
  private val sinks = scala.collection.mutable.LinkedHashMap[Seq[Any], Sink]()
  private val finished = scala.collection.mutable.ArrayBuffer[CowFileOut]()
  private var fileSeq = 0
  private val resolved = partFields.map { pf =>
    val ord = schema.fieldIndex(pf.srcCol)
    (pf, ord, schema(ord).dataType, Transform.parse(pf.transformRepr))
  }
  // (ordinal, isDouble) per float/double column, for inline NaN counting
  private val floatOrds = floatFields.map { ff =>
    val ord = schema.fieldIndex(ff.colName)
    (ord, schema(ord).dataType == DoubleType)
  }

  private def toIceLiteral(raw: Any, dt: DataType): Option[IceLiteral] = raw match {
    case null => None
    case i: java.lang.Integer => Some(dt match {
      case DateType => DateLit(i)
      case _ => IntLit(i)
    })
    case l: java.lang.Long => Some(dt match {
      case TimestampType | TimestampNTZType => TsLit(l)
      case _ => LongLit(l)
    })
    case u: org.apache.spark.unsafe.types.UTF8String => Some(StrLit(u.toString))
    case s: String => Some(StrLit(s))
    case b: java.lang.Boolean => Some(BoolLit(b))
    case f: java.lang.Float => Some(FloatLit(f))
    case d: java.lang.Double => Some(DoubleLit(d))
    case d: org.apache.spark.sql.types.Decimal => dt match {
      case t: DecimalType =>
        Some(DecLit(BigInt(d.toJavaBigDecimal.unscaledValue()), t.scale))
      case _ => None
    }
    case other => throw new UnsupportedOperationException(
      s"partition source value $other (${other.getClass}) unsupported")
  }

  private def literalToAvro(l: IceLiteral): Any = l match {
    case IntLit(v) => Integer.valueOf(v)
    case LongLit(v) => java.lang.Long.valueOf(v)
    case DateLit(v) => Integer.valueOf(v)
    case TsLit(v) => java.lang.Long.valueOf(v)
    case TimeLit(v) => java.lang.Long.valueOf(v)
    case StrLit(v) => v
    case BoolLit(v) => java.lang.Boolean.valueOf(v)
    case FloatLit(v) => java.lang.Float.valueOf(v)
    case DoubleLit(v) => java.lang.Double.valueOf(v)
    case other => other.toBytes
  }

  private def partitionOf(row: InternalRow): Map[String, Any] =
    resolved.map { case (pf, ord, dt, transform) =>
      val lit = if (row.isNullAt(ord)) None else toIceLiteral(row.get(ord, dt), dt)
      pf.partName -> lit.flatMap(l => transform.apply(Some(l)))
        .map(literalToAvro).orNull
    }.toMap

  private def closeSink(key: Seq[Any]): Unit = {
    val s = sinks(key)
    s.writer.close()
    if (s.rows > 0) finished += s.toOut else s.file.delete()
    sinks.remove(key)
  }

  private[spark] def openSinks: Int = sinks.size

  /** V3 CoW lineage: Spark's group-based rewrite delivers the scan's
    * metadata row alongside each data row (DataAndMetadataWritingSparkTask
    * → write(meta, row)); the requested `_row_id` /
    * `_last_updated_sequence_number` values are MATERIALIZED as the
    * trailing columns of the write schema — null metadata (rows the
    * rewrite MODIFIED, or pre-lineage files) stays null and readers fall
    * back to the new file's fresh first_row_id + position, exactly the
    * spec's assignment for updated/unassigned rows. */
  override def write(meta: InternalRow, row: InternalRow): Unit =
    if (lineageMetaOrds.isEmpty) write(row)
    else {
      val extra = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(lineageMetaOrds.length)
      var i = 0
      while (i < lineageMetaOrds.length) {
        val mo = lineageMetaOrds(i)
        if (mo < meta.numFields && !meta.isNullAt(mo))
          extra.setLong(i, meta.getLong(mo))
        else extra.setNullAt(i)
        i += 1
      }
      write(new org.apache.spark.sql.catalyst.expressions
        .JoinedRow(row, extra): InternalRow)
    }

  override def write(row: InternalRow): Unit = {
    val partition = partitionOf(row)
    val key = resolved.map { case (pf, _, _, _) => partition(pf.partName) }
    val sink = sinks.get(key) match {
      case Some(s) =>
        // LRU refresh: move the touched sink to the tail so eviction
        // drops the longest-idle tuple (for tuple-sorted input that is
        // exactly the already-finished one)
        sinks.remove(key); sinks.put(key, s); s
      case None =>
        if (sinks.size >= maxOpenFiles) closeSink(sinks.head._1)
        val ext = FormatWriters.fileExtension(format)
        val f = new File(dir, f"part-$partitionId%05d-$taskId-$fileSeq%03d.$ext")
        fileSeq += 1
        val s = Sink(f, openWriter(f.getPath), partition)
        sinks.put(key, s)
        s
    }
    sink.writer.write(row)
    sink.rows += 1
    var i = 0
    while (i < floatOrds.length) {
      val (ord, isDouble) = floatOrds(i)
      if (!row.isNullAt(ord)) {
        val isNaN =
          if (isDouble) java.lang.Double.isNaN(row.getDouble(ord))
          else java.lang.Float.isNaN(row.getFloat(ord))
        if (isNaN) sink.nan(i) += 1
      }
      i += 1
    }
    // roll at the target size so one task can't produce an unbounded file
    if (sink.writer.dataSize >= targetFileBytes) closeSink(key)
  }

  override def commit(): WriterCommitMessage = {
    sinks.values.foreach(_.writer.close())
    GraftCowCommit(finished.toSeq ++
      sinks.values.toSeq.filter(_.rows > 0).map(_.toOut))
  }

  override def abort(): Unit = {
    sinks.values.foreach { s =>
      try s.writer.close() finally s.file.delete()
    }
    finished.foreach(f => new File(f.path).delete())
  }

  override def close(): Unit = ()
}
