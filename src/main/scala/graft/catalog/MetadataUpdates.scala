package graft.catalog

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.core.TableMetadata

/** The ONE implementation of the REST spec's commit semantics — the
  * CommitTableRequest wire body, its requirement checks and its update
  * actions applied to a table-metadata JSON node. The REST client
  * serializes commits with [[commitBody]]; [[TestRestCatalogServer]]
  * checks and applies them server-side; the file-backed commit target
  * (`graft.spark.FileTableOperations`) runs the same [[commit]] against
  * the metadata it is about to write. Both catalog planes therefore apply
  * an update set with the same code. */
object MetadataUpdates {
  private val mapper = new ObjectMapper()

  /** Apply `updates` to `base` iff every requirement holds — the
    * all-or-nothing server-side transaction of the REST spec, run on the
    * client's model: serialize both sides to the wire shape, check,
    * apply, parse back. A failed requirement is a
    * [[CommitConflictError]], exactly what a REST server's 409 becomes. */
  def commit(base: TableMetadata, requirements: Seq[TableRequirement],
             updates: Seq[TableUpdate]): TableMetadata = {
    val body = commitBody(Nil, requirements, updates)
    val md = mapper.readTree(base.toJson).asInstanceOf[ObjectNode]
    checkRequirements(body, md).foreach(msg =>
      throw new CommitConflictError(s"${base.location}: $msg"))
    applyUpdates(body, md)
    TableMetadata.parseNode(md)
  }

  /** The spec's CommitTableRequest node — shared by the single-table
    * `updateTable` route, each entry of `transactions/commit`, and
    * [[commit]] (which names no table: `identifier` empty). */
  def commitBody(identifier: Seq[String],
                 requirements: Seq[TableRequirement],
                 updates: Seq[TableUpdate]): ObjectNode = {
    val body = mapper.createObjectNode()
    if (identifier.nonEmpty) {
      val ident = body.putObject("identifier")
      val nsArr = ident.putArray("namespace")
      identifier.dropRight(1).foreach(nsArr.add)
      ident.put("name", identifier.last)
    }
    val reqs = body.putArray("requirements")
    requirements.foreach {
      case AssertTableUuid(uuid) =>
        val r = reqs.addObject()
        r.put("type", "assert-table-uuid"); r.put("uuid", uuid)
      case AssertRefSnapshotId(ref, snapId) =>
        val r = reqs.addObject()
        r.put("type", "assert-ref-snapshot-id"); r.put("ref", ref)
        snapId match {
          case Some(id) => r.put("snapshot-id", id)
          case None => r.putNull("snapshot-id")
        }
      case AssertCurrentSchemaId(schemaId) =>
        val r = reqs.addObject()
        r.put("type", "assert-current-schema-id")
        r.put("current-schema-id", schemaId)
    }
    val ups = body.putArray("updates")
    updates.foreach {
      case SetProperties(set) =>
        val u = ups.addObject()
        u.put("action", "set-properties")
        val m = u.putObject("updates"); set.foreach { case (k, v) => m.put(k, v) }
      case RemoveProperties(remove) =>
        val u = ups.addObject()
        u.put("action", "remove-properties")
        val arr = u.putArray("removals"); remove.foreach(arr.add)
      case AddSnapshot(s) =>
        val u = ups.addObject()
        u.put("action", "add-snapshot")
        val sn = u.putObject("snapshot")
        sn.put("snapshot-id", s.snapshotId)
        s.parentSnapshotId.foreach(p => sn.put("parent-snapshot-id", p))
        sn.put("sequence-number", s.sequenceNumber)
        sn.put("timestamp-ms", s.timestampMs)
        sn.put("manifest-list", s.manifestList)
        s.summary.foreach { sum =>
          val so = sn.putObject("summary")
          so.put("operation", sum.operation.repr)
          sum.properties.foreach { case (k, v) => so.put(k, v) }
        }
        s.schemaId.foreach(id => sn.put("schema-id", id))
        s.firstRowId.foreach(v => sn.put("first-row-id", v))
      case SetSnapshotRef(refName, snapId, refType, minKeep, maxSnapAge,
          maxRefAge) =>
        val u = ups.addObject()
        u.put("action", "set-snapshot-ref")
        u.put("ref-name", refName)
        u.put("type", refType)
        u.put("snapshot-id", snapId)
        // the spec's set-snapshot-ref REPLACES the ref, so the retention
        // policy rides the update or is lost server-side
        minKeep.foreach(v => u.put("min-snapshots-to-keep", v))
        maxSnapAge.foreach(v => u.put("max-snapshot-age-ms", v))
        maxRefAge.foreach(v => u.put("max-ref-age-ms", v))
      case RemoveSnapshots(ids) =>
        val u = ups.addObject()
        u.put("action", "remove-snapshots")
        val arr = u.putArray("snapshot-ids"); ids.foreach(arr.add)
      case RemoveSnapshotRef(refName) =>
        val u = ups.addObject()
        u.put("action", "remove-snapshot-ref")
        u.put("ref-name", refName)
      case AddSchema(schema, lastColumnId) =>
        val u = ups.addObject()
        u.put("action", "add-schema")
        u.set[JsonNode]("schema",
          mapper.readTree(graft.core.TableMetadata.schemaJson(schema)))
        lastColumnId.foreach(v => u.put("last-column-id", v))
      case SetCurrentSchema(schemaId) =>
        val u = ups.addObject()
        u.put("action", "set-current-schema")
        u.put("schema-id", schemaId)
      case UpgradeFormatVersion(v) =>
        val u = ups.addObject()
        u.put("action", "upgrade-format-version")
        u.put("format-version", v)
      case SetStatistics(entryJson) =>
        val u = ups.addObject()
        u.put("action", "set-statistics")
        u.set[JsonNode]("statistics",
          mapper.readTree(entryJson))
      case SetPartitionStatistics(entryJson) =>
        val u = ups.addObject()
        u.put("action", "set-partition-statistics")
        u.set[JsonNode]("partition-statistics",
          mapper.readTree(entryJson))
      case AddPartitionSpec(spec) =>
        val u = ups.addObject()
        u.put("action", "add-spec")
        val sn = u.putObject("spec")
        sn.put("spec-id", spec.specId)
        val fs = sn.putArray("fields")
        spec.fields.foreach { f =>
          val fn = fs.addObject()
          fn.put("source-id", f.sourceId)
          fn.put("field-id", f.fieldId)
          fn.put("name", f.name)
          fn.put("transform", f.transform.repr)
        }
      case SetDefaultSpec(specId) =>
        val u = ups.addObject()
        u.put("action", "set-default-spec")
        u.put("spec-id", specId)
      case AddSortOrder(order) =>
        val u = ups.addObject()
        u.put("action", "add-sort-order")
        val on = u.putObject("sort-order")
        on.put("order-id", order.orderId)
        val fs = on.putArray("fields")
        order.fields.foreach { f =>
          val fn = fs.addObject()
          fn.put("transform", f.transform.repr)
          fn.put("source-id", f.sourceId)
          fn.put("direction", f.direction.repr)
          fn.put("null-order", f.nullOrder.repr)
        }
      case SetDefaultSortOrder(orderId) =>
        val u = ups.addObject()
        u.put("action", "set-default-sort-order")
        u.put("sort-order-id", orderId)
    }
    body
  }

  /** Validate one CommitTableRequest's requirements against `md` WITHOUT
    * mutating anything; first failure message, or None. */
  def checkRequirements(b: JsonNode, md: ObjectNode): Option[String] = {
    var failure: Option[String] = None
    Option(b.get("requirements")).foreach(_.forEach { r =>
      r.get("type").asText() match {
        case "assert-table-uuid" =>
          if (r.get("uuid").asText() != md.get("table-uuid").asText())
            failure = failure.orElse(Some("table uuid mismatch"))
        case "assert-ref-snapshot-id" =>
          val refName = r.get("ref").asText()
          val current = Option(md.get("refs"))
            .flatMap(rs => Option(rs.get(refName)))
            .map(_.get("snapshot-id").asLong())
          val expected = Option(r.get("snapshot-id")).filter(!_.isNull)
            .map(_.asLong())
          if (current != expected)
            failure = failure.orElse(
              Some(s"ref $refName at $current, requirement expected $expected"))
        case "assert-current-schema-id" =>
          val expected = r.get("current-schema-id").asInt()
          val current = md.get("current-schema-id").asInt()
          if (current != expected)
            failure = failure.orElse(Some(
              s"current schema id $current, requirement expected $expected"))
        case other => failure = failure.orElse(Some(s"unknown requirement $other"))
      }
    })
    failure
  }

  /** Apply one CommitTableRequest's updates to `md` in place. */
  def applyUpdates(b: JsonNode, md: ObjectNode): Unit = {
    // `set-current-schema` with schema-id = -1 refers to the schema
    // added in this same update set (the spec's pairing rule);
    // `set-default-spec` has the same -1 rule for `add-spec`
    var lastAddedSchemaId = -1
    var lastAddedSpecId = -1
    var lastAddedSortOrderId = -1
    // snapshots added in this update set, by id -> timestamp-ms
    val addedAt = mutable.Map[Long, Long]()
    Option(b.get("updates")).foreach(_.forEach { u =>
      u.get("action").asText() match {
        case "set-properties" =>
          val props = md.`with`("properties")
          u.get("updates").properties().forEach(e =>
            props.set[JsonNode](e.getKey, e.getValue): Unit)
        case "remove-properties" =>
          val props = md.`with`("properties")
          u.get("removals").forEach(r => props.remove(r.asText()): Unit)
        case "add-snapshot" =>
          val sn = u.get("snapshot")
          md.withArray[ArrayNode]("snapshots").add(sn)
          addedAt(sn.get("snapshot-id").asLong()) = sn.get("timestamp-ms").asLong()
          md.put("last-sequence-number",
            math.max(md.get("last-sequence-number").asLong(),
              sn.get("sequence-number").asLong()))
          md.put("last-updated-ms", System.currentTimeMillis())
          // V3 row lineage (REST spec): a snapshot carrying
          // first-row-id advances the table's next-row-id past the
          // rows it added (summary added-records)
          Option(sn.get("first-row-id")).filter(!_.isNull).foreach { fr =>
            val addedRows = Option(sn.get("summary"))
              .flatMap(s0 => Option(s0.get("added-records")))
              .map(_.asLong()).getOrElse(0L)
            val cur = Option(md.get("next-row-id")).map(_.asLong()).getOrElse(0L)
            md.put("next-row-id", math.max(cur, fr.asLong() + addedRows))
            ()
          }
        case "set-snapshot-ref" =>
          val refName = u.get("ref-name").asText()
          val snapId = u.get("snapshot-id").asLong()
          val ref = md.`with`("refs").putObject(refName)
          ref.put("snapshot-id", snapId)
          ref.put("type", u.get("type").asText())
          // retention policy rides the update (the spec's
          // set-snapshot-ref REPLACES the ref node)
          Seq("min-snapshots-to-keep", "max-snapshot-age-ms",
            "max-ref-age-ms").foreach { f =>
            Option(u.get(f)).filter(!_.isNull)
              .foreach(v => ref.put(f, v.asLong()))
          }
          // main's head is the table's current snapshot; the log
          // records each change of it
          if (refName == "main" && (!md.has("current-snapshot-id") ||
              md.get("current-snapshot-id").asLong() != snapId)) {
            md.put("current-snapshot-id", snapId)
            val log = Option(md.get("snapshot-log"))
              .collect { case a: ArrayNode => a }
              .getOrElse(md.putArray("snapshot-log"))
            val e = log.addObject()
            e.put("snapshot-id", snapId)
            // a snapshot this commit added becomes current at its own
            // timestamp (time travel resolves through the log); an
            // existing one (rollback, fast-forward) at commit time
            e.put("timestamp-ms",
              addedAt.getOrElse(snapId, System.currentTimeMillis()))
          }
        case "remove-snapshots" =>
          val drop = mutable.Set[Long]()
          u.get("snapshot-ids").forEach(id => drop += id.asLong())
          val kept = mapper.createArrayNode()
          md.withArray[ArrayNode]("snapshots").forEach { sn =>
            if (!drop.contains(sn.get("snapshot-id").asLong())) kept.add(sn): Unit
          }
          md.set[JsonNode]("snapshots", kept)
          Option(md.get("snapshot-log")).collect { case a: ArrayNode => a }
            .foreach { log =>
              val keptLog = mapper.createArrayNode()
              log.forEach { e =>
                if (!drop.contains(e.get("snapshot-id").asLong())) keptLog.add(e): Unit
              }
              md.set[JsonNode]("snapshot-log", keptLog)
              ()
            }
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "remove-snapshot-ref" =>
          md.`with`("refs").remove(u.get("ref-name").asText())
          ()
        case "add-schema" =>
          val sn = u.get("schema").deepCopy[ObjectNode]()
          val schemas = md.withArray[ArrayNode]("schemas")
          // the server owns schema-id assignment on conflict (the
          // same rule the view route applies to version ids)
          var maxId = -1
          schemas.forEach(x => maxId =
            math.max(maxId, x.get("schema-id").asInt()))
          if (sn.get("schema-id").asInt() <= maxId)
            sn.put("schema-id", maxId + 1)
          schemas.add(sn)
          lastAddedSchemaId = sn.get("schema-id").asInt()
          // advance the column-id high-water mark past every id the
          // new schema allocated (ids of DROPPED columns must never
          // be reused — old data files still carry them)
          Option(u.get("last-column-id")).filter(!_.isNull).foreach { v =>
            md.put("last-column-id",
              math.max(md.get("last-column-id").asLong(), v.asLong()))
            ()
          }
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "set-current-schema" =>
          val id = u.get("schema-id").asInt()
          val target = if (id == -1) lastAddedSchemaId else id
          var known = false
          md.withArray[ArrayNode]("schemas").forEach(x =>
            known ||= x.get("schema-id").asInt() == target)
          if (!known) throw new IllegalArgumentException(
            s"set-current-schema: schema-id $target not in metadata")
          md.put("current-schema-id", target)
          ()
        case "upgrade-format-version" =>
          val target = u.get("format-version").asInt()
          val cur = md.get("format-version").asInt()
          if (target < cur) throw new IllegalArgumentException(
            s"cannot downgrade format-version $cur -> $target")
          md.put("format-version", target)
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "add-spec" =>
          val sn = u.get("spec").deepCopy[ObjectNode]()
          val specs = md.withArray[ArrayNode]("partition-specs")
          // the server owns spec-id assignment on conflict (the
          // add-schema rule)
          var maxId = -1
          specs.forEach(x => maxId = math.max(maxId, x.get("spec-id").asInt()))
          if (sn.get("spec-id").asInt() <= maxId)
            sn.put("spec-id", maxId + 1)
          specs.add(sn)
          lastAddedSpecId = sn.get("spec-id").asInt()
          // advance the partition-field-id high-water mark (dropped
          // fields' ids must never be reused — old manifests carry them)
          var maxField =
            Option(md.get("last-partition-id")).map(_.asInt()).getOrElse(999)
          sn.get("fields").forEach(f =>
            maxField = math.max(maxField, f.get("field-id").asInt()))
          md.put("last-partition-id", maxField)
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "set-default-spec" =>
          val id0 = u.get("spec-id").asInt()
          val target = if (id0 == -1) lastAddedSpecId else id0
          var known = false
          md.withArray[ArrayNode]("partition-specs").forEach(x =>
            known ||= x.get("spec-id").asInt() == target)
          if (!known) throw new IllegalArgumentException(
            s"set-default-spec: spec-id $target not in metadata")
          md.put("default-spec-id", target)
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "add-sort-order" =>
          val on = u.get("sort-order").deepCopy[ObjectNode]()
          val orders = md.withArray[ArrayNode]("sort-orders")
          var maxId = -1
          orders.forEach(x => maxId =
            math.max(maxId, x.get("order-id").asInt()))
          if (on.get("order-id").asInt() <= maxId)
            on.put("order-id", maxId + 1)
          orders.add(on)
          lastAddedSortOrderId = on.get("order-id").asInt()
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case "set-default-sort-order" =>
          val id0 = u.get("sort-order-id").asInt()
          val target = if (id0 == -1) lastAddedSortOrderId else id0
          var known = false
          md.withArray[ArrayNode]("sort-orders").forEach(x =>
            known ||= x.get("order-id").asInt() == target)
          if (!known) throw new IllegalArgumentException(
            s"set-default-sort-order: order-id $target not in metadata")
          md.put("default-sort-order-id", target)
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        // statistics registration: replace any entry for the same
        // snapshot, keep others (the spec's merge rule)
        case "set-statistics" | "set-partition-statistics" =>
          val field = if (u.get("action").asText() == "set-statistics")
            "statistics" else "partition-statistics"
          val entry = u.get(field)
          val sid = entry.get("snapshot-id").asLong()
          val kept = mapper.createArrayNode()
          Option(md.get(field)).collect { case a: ArrayNode => a }
            .foreach(_.forEach { n =>
              if (n.get("snapshot-id").asLong() != sid) kept.add(n): Unit
            })
          kept.add(entry)
          md.set[JsonNode](field, kept)
          md.put("last-updated-ms", System.currentTimeMillis())
          ()
        case other => throw new IllegalArgumentException(s"unknown update $other")
      }
    })
  }
}
