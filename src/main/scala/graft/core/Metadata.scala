package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Snapshot, refs, and table metadata (V1/V2) with the reference's parse +
  * pre-validate + validate pipeline (`table/metadata.go:70-311`,
  * `table/snapshots.go:32-172`, `table/refs.go:25-60`).
  */
sealed trait SnapshotOp { def repr: String }
case object OpAppend extends SnapshotOp { val repr = "append" }
case object OpReplace extends SnapshotOp { val repr = "replace" }
case object OpOverwrite extends SnapshotOp { val repr = "overwrite" }
case object OpDelete extends SnapshotOp { val repr = "delete" }

object SnapshotOp {
  def parse(s: String): SnapshotOp = s match {
    case "append" => OpAppend
    case "replace" => OpReplace
    case "overwrite" => OpOverwrite
    case "delete" => OpDelete
    case other => throw new IllegalArgumentException(s"invalid operation value: '$other'")
  }
}

/** Snapshot summary: operation + free-form property bag; `operation` is
  * required (snapshots.go:81-98). */
final case class SnapshotSummary(operation: SnapshotOp,
                                 properties: Map[String, String] = Map.empty)

final case class Snapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    manifestList: String,
    summary: Option[SnapshotSummary],
    schemaId: Option[Int],
    // V3 row lineage: first _row_id assigned by this snapshot's commit
    // (spec: required on v3 snapshots; absent below V3)
    firstRowId: Option[Long] = None)

sealed trait RefType { def repr: String }
case object BranchRef extends RefType { val repr = "branch" }
case object TagRef extends RefType { val repr = "tag" }

final case class SnapshotRef(
    snapshotId: Long,
    refType: RefType,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None,
    maxRefAgeMs: Option[Long] = None)

final case class SnapshotLogEntry(snapshotId: Long, timestampMs: Long)
final case class MetadataLogEntry(metadataFile: String, timestampMs: Long)

/** One `statistics` entry (a Puffin file of sketch blobs, usually written
  * by a foreign engine) and the blob index the table metadata carries for
  * it. `fields` are Iceberg field ids; `properties` may carry the blob's
  * pre-derived summary (e.g. `ndv` for theta sketches). */
final case class StatsBlobMetadata(blobType: String, fields: Seq[Int],
                                   properties: Map[String, String])
final case class StatisticsFile(snapshotId: Long, path: String,
                                blobs: Seq[StatsBlobMetadata])

/** One `partition-statistics` entry: a spec-schema parquet file of
  * per-partition rollups for a snapshot. */
final case class PartitionStatisticsFile(snapshotId: Long, path: String,
                                         fileSizeInBytes: Long)

object TableMetadata {
  val MainBranch = "main"
  private val mapper = new ObjectMapper()

  def parse(json: String): TableMetadata = parseNode(mapper.readTree(json))

  def parseNode(root: JsonNode): TableMetadata = {
    val version = Option(root.get("format-version")).map(_.asInt()).getOrElse(
      throw new IllegalArgumentException("invalid or missing format-version in table metadata"))
    // V1/V2 fully; V3 for READS (deletion vectors in Puffin files decode
    // through the scan planner; row-lineage fields are additive metadata a
    // scan may ignore). V3-only WRITE features stay refused at their write
    // sites; this engine's own commits emit V2 unless the table is already
    // V3.
    if (version < 1 || version > 3)
      throw new IllegalArgumentException(s"unsupported format-version: $version")

    def optLong(k: String): Option[Long] = Option(root.get(k)).map(_.asLong())
    def optInt(k: String): Option[Int] = Option(root.get(k)).map(_.asInt())

    // schemas: V2 requires the list; V1 may carry only the bare "schema"
    var schemas: Vector[Schema] = Option(root.get("schemas")).map { arr =>
      val b = Vector.newBuilder[Schema]; arr.forEach(n => b += Schema.fromJson(n)); b.result()
    }.getOrElse(Vector.empty)
    if (schemas.isEmpty && version == 1)
      schemas = Option(root.get("schema")).map(n => Vector(Schema.fromJson(n)))
        .getOrElse(Vector.empty)
    val currentSchemaId = optInt("current-schema-id")
      .getOrElse(schemas.headOption.map(_.schemaId).getOrElse(0))

    var specs: Vector[PartitionSpec] = Option(root.get("partition-specs")).map { arr =>
      val b = Vector.newBuilder[PartitionSpec]
      arr.forEach(n => b += PartitionSpec.fromJson(n)); b.result()
    }.getOrElse(Vector.empty)
    if (specs.isEmpty && version == 1)
      specs = Option(root.get("partition-spec"))
        .map(n => Vector(PartitionSpec.fromV1FieldsJson(n))).getOrElse(Vector.empty)
    if (specs.isEmpty) specs = Vector(PartitionSpec.unpartitioned)
    val defaultSpecId = optInt("default-spec-id").getOrElse(specs.head.specId)

    var sortOrders: Vector[SortOrder] = Option(root.get("sort-orders")).map { arr =>
      val b = Vector.newBuilder[SortOrder]; arr.forEach(n => b += SortOrder.fromJson(n)); b.result()
    }.getOrElse(Vector.empty)
    if (sortOrders.isEmpty) sortOrders = Vector(SortOrder.unsorted)
    val defaultSortOrderId = optInt("default-sort-order-id").getOrElse(0)

    val props: Map[String, String] = Option(root.get("properties")).map { o =>
      val b = Map.newBuilder[String, String]
      o.properties().forEach(e => b += e.getKey -> e.getValue.asText())
      b.result()
    }.getOrElse(Map.empty)

    val snapshots: Vector[Snapshot] = Option(root.get("snapshots")).map { arr =>
      val b = Vector.newBuilder[Snapshot]
      arr.forEach { n =>
        b += Snapshot(
          snapshotId = n.get("snapshot-id").asLong(),
          parentSnapshotId = Option(n.get("parent-snapshot-id")).map(_.asLong()),
          sequenceNumber = Option(n.get("sequence-number")).map(_.asLong()).getOrElse(0L),
          timestampMs = n.get("timestamp-ms").asLong(),
          manifestList = Option(n.get("manifest-list")).map(_.asText()).getOrElse(""),
          summary = Option(n.get("summary")).map(parseSummary),
          schemaId = Option(n.get("schema-id")).map(_.asInt()),
          firstRowId = Option(n.get("first-row-id")).map(_.asLong()))
      }
      b.result()
    }.getOrElse(Vector.empty)

    // -1 is treated the same as absent (metadata.go:184-188)
    val currentSnapshotId = optLong("current-snapshot-id").filter(_ != -1L)

    var refs: Map[String, SnapshotRef] = Option(root.get("refs")).map { o =>
      val b = Map.newBuilder[String, SnapshotRef]
      o.properties().forEach { e => b += e.getKey -> parseRef(e.getValue) }
      b.result()
    }.getOrElse(Map.empty)
    // synthesize the main branch from current-snapshot-id (metadata.go:190-197)
    currentSnapshotId.foreach { id =>
      if (!refs.contains(MainBranch))
        refs = refs + (MainBranch -> SnapshotRef(id, BranchRef))
    }

    val snapshotLog = Option(root.get("snapshot-log")).map { arr =>
      val b = Vector.newBuilder[SnapshotLogEntry]
      arr.forEach(n => b += SnapshotLogEntry(n.get("snapshot-id").asLong(),
        n.get("timestamp-ms").asLong()))
      b.result()
    }.getOrElse(Vector.empty)

    val metadataLog = Option(root.get("metadata-log")).map { arr =>
      val b = Vector.newBuilder[MetadataLogEntry]
      arr.forEach(n => b += MetadataLogEntry(n.get("metadata-file").asText(),
        n.get("timestamp-ms").asLong()))
      b.result()
    }.getOrElse(Vector.empty)

    val md = TableMetadata(
      formatVersion = version,
      tableUuid = Option(root.get("table-uuid")).map(_.asText()).getOrElse(""),
      location = Option(root.get("location")).map(_.asText()).getOrElse(""),
      lastSequenceNumber = optLong("last-sequence-number").getOrElse(0L),
      lastUpdatedMs = optLong("last-updated-ms").getOrElse(0L),
      lastColumnId = optInt("last-column-id").getOrElse(0),
      schemas = schemas,
      currentSchemaId = currentSchemaId,
      partitionSpecs = specs,
      defaultSpecId = defaultSpecId,
      lastPartitionId = optInt("last-partition-id"),
      properties = props,
      snapshots = snapshots,
      currentSnapshotId = currentSnapshotId,
      snapshotLog = snapshotLog,
      metadataLog = metadataLog,
      sortOrders = sortOrders,
      defaultSortOrderId = defaultSortOrderId,
      refs = refs,
      nextRowId = optLong("next-row-id"),
      statisticsJson = Option(root.get("statistics")).map(_.toString),
      partitionStatisticsJson =
        Option(root.get("partition-statistics")).map(_.toString))
    md.validate()
    md
  }

  private def parseSummary(n: JsonNode): SnapshotSummary = {
    val op = Option(n.get("operation")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("missing operation key in snapshot summary"))
    val b = Map.newBuilder[String, String]
    n.properties().forEach { e =>
      if (e.getKey != "operation") b += e.getKey -> e.getValue.asText()
    }
    SnapshotSummary(SnapshotOp.parse(op), b.result())
  }

  private def parseRef(n: JsonNode): SnapshotRef = {
    val t = Option(n.get("type")).map(_.asText()).getOrElse("")
    val refType = t match {
      case "branch" => BranchRef
      case "tag" => TagRef
      case other => throw new IllegalArgumentException(
        s"invalid snapshot ref type, should be 'branch' or 'tag': '$other'")
    }
    SnapshotRef(
      snapshotId = n.get("snapshot-id").asLong(),
      refType = refType,
      minSnapshotsToKeep = Option(n.get("min-snapshots-to-keep")).map(_.asInt()),
      maxSnapshotAgeMs = Option(n.get("max-snapshot-age-ms")).map(_.asLong()),
      maxRefAgeMs = Option(n.get("max-ref-age-ms")).map(_.asLong()))
  }

  /** One schema as spec JSON (struct + schema-id + identifier-field-ids) —
    * the payload of a REST `add-schema` update action, and the shape
    * `toJson` writes into the metadata's `schemas` array. */
  def schemaJson(s: Schema): String =
    schemaToNode(s, new ObjectMapper()).toString

  private[core] def schemaToNode(s: Schema, mapper: ObjectMapper): ObjectNode = {
    val sw = new java.io.StringWriter()
    val g = mapper.createGenerator(sw)
    IcebergTypeJson.write(s.struct, g)
    g.close()
    val node = mapper.readTree(sw.toString).asInstanceOf[ObjectNode]
    node.put("schema-id", s.schemaId)
    val arr = node.putArray("identifier-field-ids")
    s.identifierFieldIds.foreach(arr.add)
    node
  }
}

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    schemas: Seq[Schema],
    currentSchemaId: Int,
    partitionSpecs: Seq[PartitionSpec],
    defaultSpecId: Int,
    lastPartitionId: Option[Int],
    properties: Map[String, String],
    snapshots: Seq[Snapshot],
    currentSnapshotId: Option[Long],
    snapshotLog: Seq[SnapshotLogEntry],
    metadataLog: Seq[MetadataLogEntry],
    sortOrders: Seq[SortOrder],
    defaultSortOrderId: Int,
    refs: Map[String, SnapshotRef],
    // V3 row lineage: the next _row_id to assign (spec: required in v3
    // metadata; this engine emits it for every V3 table it writes)
    nextRowId: Option[Long] = None,
    // `statistics` / `partition-statistics` (Puffin stats files written by
    // other engines): carried VERBATIM as raw JSON so a commit by this
    // engine never silently drops another engine's table statistics. The
    // sketch blobs themselves (e.g. apache-datasketches-theta-v1) are not
    // read — preserved, not interpreted.
    statisticsJson: Option[String] = None,
    partitionStatisticsJson: Option[String] = None) {

  /** Parsed view of the preserved `statistics` entries (the raw JSON still
    * rides commits verbatim; this view is what the scan's NDV reporting
    * reads). Malformed entries are skipped — statistics are advisory. */
  lazy val statisticsFiles: Seq[StatisticsFile] =
    statisticsJson.toSeq.flatMap { raw =>
      try {
        import scala.jdk.CollectionConverters._
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
        if (!root.isArray) Nil
        else root.asScala.flatMap { n =>
          for {
            snap <- Option(n.get("snapshot-id")).filter(_.isIntegralNumber)
            path <- Option(n.get("statistics-path")).filter(_.isTextual)
          } yield StatisticsFile(snap.asLong(), path.asText(),
            Option(n.get("blob-metadata")).filter(_.isArray).toSeq
              .flatMap(_.asScala.flatMap { b =>
                for (t <- Option(b.get("type")).filter(_.isTextual))
                  yield StatsBlobMetadata(t.asText(),
                    Option(b.get("fields")).filter(_.isArray).toSeq
                      .flatMap(_.asScala.map(_.asInt())),
                    Option(b.get("properties")).filter(_.isObject).map(p =>
                      p.properties().asScala
                        .map(e => e.getKey -> e.getValue.asText()).toMap)
                      .getOrElse(Map.empty))
              }))
        }.toSeq
      } catch { case _: Exception => Nil }
    }

  /** Parsed view of `partition-statistics` entries (spec: snapshot-id,
    * statistics-path, file-size-in-bytes). Malformed entries skipped. */
  lazy val partitionStatisticsFiles: Seq[PartitionStatisticsFile] =
    partitionStatisticsJson.toSeq.flatMap { raw =>
      try {
        import scala.jdk.CollectionConverters._
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
        if (!root.isArray) Nil
        else root.asScala.flatMap { n =>
          for {
            snap <- Option(n.get("snapshot-id")).filter(_.isIntegralNumber)
            path <- Option(n.get("statistics-path")).filter(_.isTextual)
          } yield PartitionStatisticsFile(snap.asLong(), path.asText(),
            Option(n.get("file-size-in-bytes")).map(_.asLong()).getOrElse(0L))
        }.toSeq
      } catch { case _: Exception => Nil }
    }

  def currentSchema: Schema =
    schemas.find(_.schemaId == currentSchemaId).getOrElse(
      throw new IllegalStateException(s"current-schema-id $currentSchemaId not found"))
  def schemaById(id: Int): Option[Schema] = schemas.find(_.schemaId == id)
  def partitionSpec: PartitionSpec =
    partitionSpecs.find(_.specId == defaultSpecId).getOrElse(PartitionSpec.unpartitioned)
  def sortOrder: SortOrder =
    sortOrders.find(_.orderId == defaultSortOrderId).getOrElse(SortOrder.unsorted)

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(snapshotById)
  def snapshotById(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)
  /** Resolve a branch/tag name to its snapshot (refs.go → scanner.go:69-80). */
  def snapshotByName(name: String): Option[Snapshot] =
    refs.get(name).flatMap(r => snapshotById(r.snapshotId))
  /** Snapshot as of a wall-clock time (snapshot-log based time travel). */
  def snapshotAsOfTime(timestampMs: Long): Option[Snapshot] =
    snapshotLog.filter(_.timestampMs <= timestampMs)
      .sortBy(_.timestampMs).lastOption
      .flatMap(e => snapshotById(e.snapshotId))

  /** The snapshot a time-travel pin selects — snapshot id first, then ref,
    * then as-of time; None when no pin is given. An unresolvable pin is an
    * error, never a silent read of the current snapshot. */
  def pinnedSnapshot(snapshotId: Option[Long], ref: Option[String],
                     asOfTimestampMs: Option[Long]): Option[Snapshot] =
    (snapshotId, ref, asOfTimestampMs) match {
      case (Some(id), _, _) => Some(snapshotById(id).getOrElse(
        throw new IllegalArgumentException(s"snapshot $id not found")))
      case (_, Some(r), _) => Some(snapshotByName(r).getOrElse(
        throw new IllegalArgumentException(s"ref '$r' not found")))
      case (_, _, Some(ts)) => Some(snapshotAsOfTime(ts).getOrElse(
        throw new IllegalArgumentException(s"no snapshot as of $ts")))
      case _ => None
    }

  /** Invariant checks, matching metadata.go:212-273. */
  def validate(): Unit = {
    if (!schemas.exists(_.schemaId == currentSchemaId))
      throw new IllegalArgumentException(
        s"invalid metadata: current-schema-id $currentSchemaId can't be found in any schema")
    if (!partitionSpecs.exists(_.specId == defaultSpecId))
      throw new IllegalArgumentException(
        s"invalid metadata: default-spec-id $defaultSpecId can't be found")
    if (defaultSortOrderId != 0 && !sortOrders.exists(_.orderId == defaultSortOrderId))
      throw new IllegalArgumentException(
        s"invalid metadata: default-sort-order-id $defaultSortOrderId can't be found")
    if (lastUpdatedMs == 0)
      throw new IllegalArgumentException("invalid metadata: missing last-updated-ms")
    if (lastColumnId == 0)
      throw new IllegalArgumentException("invalid metadata: missing last-column-id")
  }

  /** Serialize to Iceberg metadata JSON. V1 metadata upgrades to V2 on
    * write; V3 stays V3 (downgrading a deletion-vector table to V2 would
    * make its Puffin delete entries illegal). */
  def toJson: String = {
    val mapper = new ObjectMapper()
    val out = new java.io.StringWriter()
    val gen = mapper.createGenerator(out)
    gen.writeStartObject()
    gen.writeNumberField("format-version", math.max(2, formatVersion))
    gen.writeStringField("table-uuid", tableUuid)
    gen.writeStringField("location", location)
    gen.writeNumberField("last-sequence-number", lastSequenceNumber)
    gen.writeNumberField("last-updated-ms", lastUpdatedMs)
    gen.writeNumberField("last-column-id", lastColumnId)
    gen.writeNumberField("current-schema-id", currentSchemaId)
    gen.writeArrayFieldStart("schemas")
    schemas.foreach { s =>
      // schema object = struct json + schema-id + identifier-field-ids
      val node = schemaToNode(s, mapper)
      gen.writeTree(node)
    }
    gen.writeEndArray()
    gen.writeNumberField("default-spec-id", defaultSpecId)
    gen.writeArrayFieldStart("partition-specs")
    partitionSpecs.foreach { spec =>
      gen.writeStartObject()
      gen.writeNumberField("spec-id", spec.specId)
      gen.writeArrayFieldStart("fields")
      spec.fields.foreach { f =>
        gen.writeStartObject()
        gen.writeNumberField("source-id", f.sourceId)
        gen.writeNumberField("field-id", f.fieldId)
        gen.writeStringField("name", f.name)
        gen.writeStringField("transform", f.transform.repr)
        gen.writeEndObject()
      }
      gen.writeEndArray()
      gen.writeEndObject()
    }
    gen.writeEndArray()
    lastPartitionId.foreach(id => gen.writeNumberField("last-partition-id", id))
    gen.writeNumberField("default-sort-order-id", defaultSortOrderId)
    gen.writeArrayFieldStart("sort-orders")
    sortOrders.foreach { o =>
      gen.writeStartObject()
      gen.writeNumberField("order-id", o.orderId)
      gen.writeArrayFieldStart("fields")
      o.fields.foreach { f =>
        gen.writeStartObject()
        gen.writeStringField("transform", f.transform.repr)
        gen.writeNumberField("source-id", f.sourceId)
        gen.writeStringField("direction", f.direction.repr)
        gen.writeStringField("null-order", f.nullOrder.repr)
        gen.writeEndObject()
      }
      gen.writeEndArray()
      gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.writeObjectFieldStart("properties")
    properties.foreach { case (k, v) => gen.writeStringField(k, v) }
    gen.writeEndObject()
    // V3 requires next-row-id; a V3 table that never assigned ids starts
    // at 0 (upgraded tables: pre-upgrade rows have no lineage, per spec)
    if (formatVersion >= 3)
      gen.writeNumberField("next-row-id", nextRowId.getOrElse(0L))
    currentSnapshotId.foreach(id => gen.writeNumberField("current-snapshot-id", id))
    gen.writeArrayFieldStart("snapshots")
    snapshots.foreach { s =>
      gen.writeStartObject()
      gen.writeNumberField("snapshot-id", s.snapshotId)
      s.parentSnapshotId.foreach(p => gen.writeNumberField("parent-snapshot-id", p))
      gen.writeNumberField("sequence-number", s.sequenceNumber)
      gen.writeNumberField("timestamp-ms", s.timestampMs)
      gen.writeStringField("manifest-list", s.manifestList)
      s.summary.foreach { sum =>
        gen.writeObjectFieldStart("summary")
        gen.writeStringField("operation", sum.operation.repr)
        sum.properties.foreach { case (k, v) => gen.writeStringField(k, v) }
        gen.writeEndObject()
      }
      s.schemaId.foreach(id => gen.writeNumberField("schema-id", id))
      s.firstRowId.foreach(v => gen.writeNumberField("first-row-id", v))
      gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.writeArrayFieldStart("snapshot-log")
    snapshotLog.foreach { e =>
      gen.writeStartObject()
      gen.writeNumberField("snapshot-id", e.snapshotId)
      gen.writeNumberField("timestamp-ms", e.timestampMs)
      gen.writeEndObject()
    }
    gen.writeEndArray()
    gen.writeArrayFieldStart("metadata-log")
    metadataLog.foreach { e =>
      gen.writeStartObject()
      gen.writeStringField("metadata-file", e.metadataFile)
      gen.writeNumberField("timestamp-ms", e.timestampMs)
      gen.writeEndObject()
    }
    gen.writeEndArray()
    statisticsJson.foreach { raw =>
      gen.writeFieldName("statistics"); gen.writeRawValue(raw)
    }
    partitionStatisticsJson.foreach { raw =>
      gen.writeFieldName("partition-statistics"); gen.writeRawValue(raw)
    }
    gen.writeObjectFieldStart("refs")
    refs.foreach { case (name, r) =>
      gen.writeObjectFieldStart(name)
      gen.writeNumberField("snapshot-id", r.snapshotId)
      gen.writeStringField("type", r.refType.repr)
      r.minSnapshotsToKeep.foreach(v => gen.writeNumberField("min-snapshots-to-keep", v))
      r.maxSnapshotAgeMs.foreach(v => gen.writeNumberField("max-snapshot-age-ms", v))
      r.maxRefAgeMs.foreach(v => gen.writeNumberField("max-ref-age-ms", v))
      gen.writeEndObject()
    }
    gen.writeEndObject()
    gen.writeEndObject()
    gen.close()
    out.toString
  }

  private def schemaToNode(s: Schema, mapper: ObjectMapper): ObjectNode =
    TableMetadata.schemaToNode(s, mapper)
}
