package graft.core

import java.io.{BufferedInputStream, FileInputStream, InputStream}

/** Pluggable file IO (parity with `io/io.go:48-64`): open by URI-ish path.
  * Local paths and `file://` URIs here; object-store schemes are mapped to
  * Hadoop FS configuration in the Spark layer. */
trait FileIO {
  def open(path: String): InputStream
}

object LocalFileIO extends FileIO {
  def open(path: String): InputStream = {
    val p = if (path.startsWith("file://")) path.stripPrefix("file://") else path
    new BufferedInputStream(new FileInputStream(p))
  }
}

/** Unit of work handed to the execution engine: one data file + its matched
  * positional delete files (scanner.go:87-122). `manifestPath` records which
  * manifest the entry came from — copy-on-write commits use it to rewrite
  * only the manifests that actually reference replaced files. */
final case class FileScanTask(
    file: DataFileInfo,
    deleteFiles: Seq[DataFileInfo] = Nil,
    start: Long = 0L,
    length: Long = -1L,
    manifestPath: String = "",
    // data sequence number of the entry (V3 row lineage:
    // _last_updated_sequence_number; 0 below V2 inheritance)
    dataSequenceNumber: Long = 0L,
    // partition spec the file was written under (from its manifest) —
    // lets consumers interpret `file.partition` tuples per-file when
    // specs have evolved (e.g. grouped metadata-aggregate pushdown)
    specId: Int = 0) {
  def sizeBytes: Long =
    (if (length > 0) length else file.fileSizeInBytes) +
      deleteFiles.map(_.fileSizeInBytes).sum
  def filesCount: Int = 1 + deleteFiles.size
}

/** Inclusive projection of a row filter onto partition-tuple space (the
  * partition-filter hook the reference leaves to the caller, scanner.go:131).
  *
  * For each predicate on a partitioned source column, emit the transformed
  * predicate on the partition field per the Iceberg spec: monotonic
  * transforms (identity/truncate/year/month/day/hour) project all range
  * comparisons (Lt/Gt become LtEq/GtEq of the transformed literal); bucket
  * projects only equality/IN; null checks project through every transform
  * (transforms preserve null). Unprojectable predicates become AlwaysTrue
  * (inclusive = never skips a file it shouldn't). */
object InclusiveProjection {
  def project(spec: PartitionSpec, schema: Schema,
              bound: BooleanExpression): BooleanExpression = bound match {
    case And(l, r) => And(project(spec, schema, l), project(spec, schema, r))
    case Or(l, r) => Or(project(spec, schema, l), project(spec, schema, r))
    case Not(_) => sys.error("filter must be NNF before projection")
    case AlwaysTrue | AlwaysFalse => bound
    case p: UnboundPredicate => sys.error(s"unbound predicate in projection: $p")
    case BoundPredicate(op, field, lits) =>
      val parts = spec.fieldsBySourceId.getOrElse(field.id, Nil)
      val projected = parts.flatMap { pf =>
        projectPredicate(op, pf, field, lits)
      }
      // all partition-field projections of one predicate must hold
      projected.reduceOption(And(_, _)).getOrElse(AlwaysTrue)
  }

  private def projectPredicate(op: PredOp, pf: PartitionField, field: NestedField,
                               lits: Seq[Literal]): Option[BooleanExpression] = {
    def partField = NestedField(pf.fieldId, pf.name,
      pf.transform.resultType(field.fieldType))
    def transformed(l: Literal): Option[Literal] = pf.transform.apply(Some(l))
    pf.transform match {
      case VoidTransform => None
      case _ => op match {
        case OpIsNull | OpNotNull =>
          Some(BoundPredicate(op, partField))
        case OpEq =>
          transformed(lits.head).map(t => BoundPredicate(OpEq, partField, Seq(t)))
        case OpIn =>
          val ts = lits.flatMap(l => transformed(l))
          if (ts.size == lits.size) Some(BoundPredicate(OpIn, partField, ts.distinct))
          else None
        case OpLt | OpLtEq | OpGt | OpGtEq if isMonotonic(pf.transform) =>
          val relaxed = op match {
            case OpLt => OpLtEq
            case OpGt => OpGtEq
            case o => o
          }
          transformed(lits.head).map(t => BoundPredicate(relaxed, partField, Seq(t)))
        case _ => None // NotEq/NotIn/NaN/StartsWith: no inclusive projection
      }
    }
  }

  private def isMonotonic(t: Transform): Boolean = t match {
    case IdentityTransform | _: TruncateTransform | YearTransform |
         MonthTransform | DayTransform | HourTransform => true
    case _ => false
  }
}

/** Evaluates a partition predicate against a manifest's per-field summaries
  * (two-level pruning: skip whole manifests before opening them,
  * manifest.go:36-41/124-129). Summaries are positional by spec field. */
final class ManifestEvaluator(spec: PartitionSpec, schema: Schema,
                              partExpr: BooleanExpression) {
  private val partType = spec.partitionType(schema)

  def eval(m: ManifestFile): Boolean = {
    if (m.partitions.isEmpty) return true
    visit(partExpr, m.partitions)
  }

  private def fieldIndex(id: Int): Int = partType.fields.indexWhere(_.id == id)

  private def visit(e: BooleanExpression, sums: Seq[FieldSummary]): Boolean = e match {
    case AlwaysTrue => true
    case AlwaysFalse => false
    case And(l, r) => visit(l, sums) && visit(r, sums)
    case Or(l, r) => visit(l, sums) || visit(r, sums)
    case Not(_) => sys.error("NNF required")
    case p: UnboundPredicate => sys.error(s"unbound: $p")
    case BoundPredicate(op, field, lits) =>
      val idx = fieldIndex(field.id)
      if (idx < 0 || idx >= sums.size) return true
      val s = sums(idx)
      val t = field.fieldType
      def lower = s.lowerBound.flatMap(b => LiteralCodec.fromBytes(t, b))
      def upper = s.upperBound.flatMap(b => LiteralCodec.fromBytes(t, b))
      op match {
        case OpIsNull => s.containsNull
        case OpNotNull =>
          // Skip only on positive evidence that every value is null:
          // containsNull AND no bounds recorded. Missing bounds alone must
          // never skip — writers may omit bounds for types they don't
          // summarize. Float/double may hide NaN (which has no bounds but
          // is not null), so additionally require containsNaN == false.
          val allNull = s.containsNull && s.lowerBound.isEmpty && (t match {
            case FloatT | DoubleT => s.containsNaN.contains(false)
            case _ => true
          })
          !allNull
        case OpIsNan => s.containsNaN.getOrElse(true)
        case OpNotNan => true
        case OpEq =>
          val lit = lits.head
          !(lower.flatMap(LiteralOrdering.compare(_, lit)).exists(_ > 0) ||
            upper.flatMap(LiteralOrdering.compare(_, lit)).exists(_ < 0))
        case OpIn => lits.exists { lit =>
          !(lower.flatMap(LiteralOrdering.compare(_, lit)).exists(_ > 0) ||
            upper.flatMap(LiteralOrdering.compare(_, lit)).exists(_ < 0))
        }
        case OpLt => !lower.flatMap(LiteralOrdering.compare(_, lits.head)).exists(_ >= 0)
        case OpLtEq => !lower.flatMap(LiteralOrdering.compare(_, lits.head)).exists(_ > 0)
        case OpGt => !upper.flatMap(LiteralOrdering.compare(_, lits.head)).exists(_ <= 0)
        case OpGtEq => !upper.flatMap(LiteralOrdering.compare(_, lits.head)).exists(_ < 0)
        case _ => true
      }
  }
}

/** Exact evaluation of a partition predicate against one file's partition
  * tuple (the per-entry partition filter, scanner.go:131-133). */
final class PartitionEvaluator(spec: PartitionSpec, schema: Schema,
                               partExpr: BooleanExpression) {
  private val partType = spec.partitionType(schema)

  def eval(partition: Map[String, Any]): Boolean = visit(partExpr, partition)

  private def toLiteral(v: Any, t: IcebergType): Option[Literal] = v match {
    case null => None
    case i: java.lang.Integer => Some(t match {
      case DateT => DateLit(i)
      case LongT => LongLit(i.toLong)
      case _ => IntLit(i)
    })
    case l: java.lang.Long => Some(t match {
      case TimeT => TimeLit(l)
      case TimestampT | TimestampTzT => TsLit(l)
      case IntT | DateT => IntLit(l.toInt)
      case _ => LongLit(l)
    })
    case s: String => Some(StrLit(s))
    case u: org.apache.avro.util.Utf8 => Some(StrLit(u.toString))
    case b: java.lang.Boolean => Some(BoolLit(b))
    case f: java.lang.Float => Some(FloatLit(f))
    case d: java.lang.Double => Some(DoubleLit(d))
    case b: Array[Byte] => Some(LiteralCodec.fromBytes(t, b).getOrElse(BytesLit(b)))
    case other => throw new IllegalArgumentException(s"unsupported partition value: $other")
  }

  private def visit(e: BooleanExpression, part: Map[String, Any]): Boolean = e match {
    case AlwaysTrue => true
    case AlwaysFalse => false
    case And(l, r) => visit(l, part) && visit(r, part)
    case Or(l, r) => visit(l, part) || visit(r, part)
    case Not(_) => sys.error("NNF required")
    case p: UnboundPredicate => sys.error(s"unbound: $p")
    case BoundPredicate(op, field, lits) =>
      val raw = part.get(field.name).orNull
      val v = toLiteral(raw, field.fieldType)
      op match {
        case OpIsNull => v.isEmpty
        case OpNotNull => v.nonEmpty
        case OpIsNan => v.exists {
          case FloatLit(f) => f.isNaN
          case DoubleLit(d) => d.isNaN
          case _ => false
        }
        case OpNotNan => !v.exists {
          case FloatLit(f) => f.isNaN
          case DoubleLit(d) => d.isNaN
          case _ => false
        }
        case OpEq => v.exists(l => LiteralOrdering.compare(l, lits.head).contains(0))
        case OpNotEq => v.exists(l => !LiteralOrdering.compare(l, lits.head).contains(0))
        case OpIn => v.exists(l => lits.exists(LiteralOrdering.compare(l, _).contains(0)))
        case OpNotIn => v.exists(l => !lits.exists(LiteralOrdering.compare(l, _).contains(0)))
        case OpLt => v.exists(l => LiteralOrdering.compare(l, lits.head).exists(_ < 0))
        case OpLtEq => v.exists(l => LiteralOrdering.compare(l, lits.head).exists(_ <= 0))
        case OpGt => v.exists(l => LiteralOrdering.compare(l, lits.head).exists(_ > 0))
        case OpGtEq => v.exists(l => LiteralOrdering.compare(l, lits.head).exists(_ >= 0))
        case OpStartsWith => (v, lits.head) match {
          case (Some(StrLit(s)), StrLit(p)) => s.startsWith(p)
          case _ => true
        }
        case OpNotStartsWith => (v, lits.head) match {
          case (Some(StrLit(s)), StrLit(p)) => !s.startsWith(p)
          case _ => true
        }
        // geo columns are never partition sources (transforms refuse
        // them), so a bbox predicate can't reach a partition tuple — keep
        case OpStIntersectsBBox | OpNotStIntersectsBBox => true
      }
  }
}

/** Delete-file → data-file matching (scanner.go:144-193), extracted as a
  * pure serializable helper so both driver-side planning ([[ScanPlanner]])
  * and executor-side distributed metadata scans
  * ([[graft.spark.MetadataTables]] `files`) run the identical semantics. */
object DeleteMatching extends Serializable {

  /** Positional-delete file schema (manifest.go:548-551): file_path is
    * field 2147483546, pos 2147483545. */
  val PositionalDeleteSchema = Schema(0, StructT(Seq(
    NestedField(2147483546, "file_path", StringT, required = true),
    NestedField(2147483545, "pos", LongT, required = true))))

  /** The scheme prefix a path drops in its tombstone form, as a regex (the
    * form Spark's `regexp_replace` takes for whole tombstone frames). */
  val FileScheme = "^file:(//)?"
  private val FileSchemeRe = java.util.regex.Pattern.compile(FileScheme)

  /** A path as positional tombstones and deletion vectors address it: no
    * `file:` or `file://` scheme, so `file:///x`, `file:/x` and `/x` are
    * one data file. */
  def tombstonePath(p: String): String = FileSchemeRe.matcher(p).replaceFirst("")

  /** scanner.go:162-193: keep delete entries whose seq number is ≥ the data
    * file's (a delete applies to files committed before it), then check the
    * delete file's file_path bounds actually cover this data file. `sorted`
    * must be ascending by sequence number; planning is O(F log D) instead
    * of O(F·D) when delete files accumulate. */
  def posDeletes(data: ManifestEntry, sorted: Seq[ManifestEntry]): Seq[DataFileInfo] = {
    val dataSeq = data.sequenceNumber.getOrElse(0L)
    var lo = 0
    var hi = sorted.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid).sequenceNumber.getOrElse(0L) < dataSeq) lo = mid + 1
      else hi = mid
    }
    val idx = if (lo < sorted.size) lo else -1
    if (idx < 0) return Nil
    // a tombstone file may address the data file with or without a scheme
    val path = data.dataFile.path
    val bare = tombstonePath(path)
    val pathEval = new InclusiveMetricsEvaluator(PositionalDeleteSchema,
      if (bare == path) Expr.equalTo("file_path", StrLit(path))
      else Expr.in("file_path", Seq(StrLit(path), StrLit(bare))),
      caseSensitive = false)
    sorted.drop(idx)
      .filter(e => pathEval.eval(e.dataFile.stats))
      .map(_.dataFile)
  }

  /** Equality deletes apply to data files committed STRICTLY BEFORE the
    * delete per the Iceberg spec. */
  def eqDeletes(dataSeq: Long, entries: Seq[ManifestEntry]): Seq[DataFileInfo] =
    entries.filter(_.sequenceNumber.exists(_ > dataSeq)).map(_.dataFile)
}

/** The scan: the `PlanFiles` orchestration the reference declares but never
  * implements (`table/scanner/scanner.go:32-34`). Pipeline per §3.2 of the
  * survey: snapshot pin → manifest-list read → manifest-summary prune →
  * per-manifest entry scan with partition filter + metrics eval →
  * positional-delete assignment → FileScanTasks.
  *
  * Planning is metadata-sized and runs on the driver: O(manifests) small
  * Avro reads, never O(rows). At 100 TB the output task list feeds Spark's
  * parquet reader, which splits and schedules per executor.
  */
object ScanPlanner {
  /** Pluggable bulk decoder for the expensive planning phase (per-manifest
    * entry decode + partition/metrics filtering): given the pruned live
    * data manifests, return the surviving (manifestPath, entry) pairs, or
    * None to use the driver's parallel-collection decode. The Spark layer
    * installs a decoder that runs the phase as a distributed job above a
    * manifest-count threshold — a 100-TB table after years of streaming
    * commits can carry 10⁴–10⁵ manifests, past what driver threads should
    * chew alone. */
  type BulkEntryDecoder =
    (TableMetadata, Schema, BooleanExpression, Boolean, Seq[ManifestFile])
      => Option[Seq[(String, ManifestEntry)]]

  val NoBulkDecoder: BulkEntryDecoder = (_, _, _, _, _) => None

  /** Decode + filter ONE data manifest — the unit of work of distributed
    * planning. Rebuilds its evaluators locally from serializable inputs,
    * so the closure shipped to executors carries only case classes. */
  def decodeDataManifest(io: FileIO, metadata: TableMetadata, schema: Schema,
                         rowFilter: BooleanExpression, caseSensitive: Boolean,
                         m: ManifestFile): Seq[(String, ManifestEntry)] = {
    val bound = Expr.bind(schema, Expr.rewriteNot(rowFilter), caseSensitive)
    val metrics = new InclusiveMetricsEvaluator(schema, rowFilter, caseSensitive)
    val spec = metadata.partitionSpecs.find(_.specId == m.partitionSpecId)
      .getOrElse(PartitionSpec.unpartitioned)
    val partEval = new PartitionEvaluator(spec, schema,
      InclusiveProjection.project(spec, schema, bound))
    ManifestIO.readManifestEntries(io.open(m.path), m)
      .filter(e => partEval.eval(e.dataFile.partition))
      .filter(e => metrics.eval(e.dataFile.stats))
      .map(e => (m.path, e))
  }
}

final class ScanPlanner(io: FileIO, metadata: TableMetadata) {

  /** Positional-delete file schema — see [[DeleteMatching.PositionalDeleteSchema]]. */
  val PositionalDeleteSchema: Schema = DeleteMatching.PositionalDeleteSchema

  def planFiles(
      rowFilter: BooleanExpression = AlwaysTrue,
      snapshotId: Option[Long] = None,
      ref: Option[String] = None,
      asOfTimestampMs: Option[Long] = None,
      caseSensitive: Boolean = true,
      bulkDecoder: ScanPlanner.BulkEntryDecoder = ScanPlanner.NoBulkDecoder,
      // explicit schema choice (the REST plan request's
      // `use-snapshot-schema`): Some(false) plans a PINNED snapshot under
      // the CURRENT schema — a server handling a client whose scan pins its
      // loaded snapshot id but is not time-traveling. None keeps the local
      // heuristic (pinned scan → that snapshot's schema).
      useSnapshotSchema: Option[Boolean] = None)
      : Seq[FileScanTask] = {

    val snapshot = metadata.pinnedSnapshot(snapshotId, ref, asOfTimestampMs)
      .orElse(metadata.currentSnapshot).getOrElse(return Nil)

    // time-travel scans resolve the SNAPSHOT's schema version; current-table
    // scans use the CURRENT schema (the current snapshot may predate a
    // metadata-only schema evolution like RENAME/DROP COLUMN)
    val timeTravel = useSnapshotSchema.getOrElse(
      snapshotId.isDefined || ref.isDefined || asOfTimestampMs.isDefined)
    val schema =
      if (!timeTravel) metadata.currentSchema
      else snapshot.schemaId.flatMap(metadata.schemaById)
        .getOrElse(metadata.currentSchema)

    val bound = Expr.bind(schema, Expr.rewriteNot(rowFilter), caseSensitive)
    val metrics = new InclusiveMetricsEvaluator(schema, rowFilter, caseSensitive)

    val manifests = ManifestIO.readManifestList(io.open(snapshot.manifestList))

    // per-spec projection + evaluators (manifests may span spec versions);
    // built eagerly so the parallel manifest scan below reads an immutable map
    val specEvals: Map[Int, (ManifestEvaluator, PartitionEvaluator)] =
      (manifests.map(_.partitionSpecId).distinct :+ 0).distinct.map { specId =>
        val spec = metadata.partitionSpecs.find(_.specId == specId)
          .getOrElse(PartitionSpec.unpartitioned)
        val partExpr = InclusiveProjection.project(spec, schema, bound)
        specId -> (new ManifestEvaluator(spec, schema, partExpr),
          new PartitionEvaluator(spec, schema, partExpr))
      }.toMap
    def evals(specId: Int): (ManifestEvaluator, PartitionEvaluator) =
      specEvals.getOrElse(specId, specEvals(0))

    val (dataManifests, deleteManifests) =
      manifests.partition(_.content == 0)

    // two-level pruning: drop whole manifests on partition summaries
    val liveDataManifests = dataManifests.filter(m => evals(m.partitionSpecId)._1.eval(m))

    // entry decode: the pluggable bulk decoder (a distributed job above a
    // manifest-count threshold) or, by default, parallel driver threads —
    // I/O-bound small Avro files, fine up to O(1000) manifests
    val dataEntries = bulkDecoder(metadata, schema, rowFilter, caseSensitive,
        liveDataManifests).getOrElse {
      import scala.collection.parallel.CollectionConverters._
      liveDataManifests.par.flatMap { m =>
        val (_, partEval) = evals(m.partitionSpecId)
        ManifestIO.readManifestEntries(io.open(m.path), m)
          .filter(e => partEval.eval(e.dataFile.partition))
          .filter(e => metrics.eval(e.dataFile.stats))
          .map(e => (m.path, e))
      }.seq
    }

    // delete files: positional entries sorted by sequence number for the
    // binary-search assignment (scanner.go:144-193); equality deletes
    // (which the reference only decodes, manifest.go:438-443) apply to data
    // files committed STRICTLY BEFORE the delete per the Iceberg spec
    val allDeleteEntries = deleteManifests
      .filter(m => evals(m.partitionSpecId)._1.eval(m))
      .flatMap(m => ManifestIO.readManifestEntries(io.open(m.path), m))
    // V3 deletion vectors carry their target file in the manifest entry —
    // matched by exact path, no metrics evaluation needed; at most one DV
    // per data file in a well-formed table (readers tolerate several by
    // unioning). Parquet positional deletes keep the V2 bounds-check path.
    val (dvEntries, posParquetEntries) = allDeleteEntries
      .filter(_.dataFile.content == DataFileContent.PositionDeletes)
      .partition(_.dataFile.isDeletionVector)
    import DeleteMatching.tombstonePath
    val dvByTarget: Map[String, Seq[ManifestEntry]] =
      dvEntries.groupBy(e => tombstonePath(e.dataFile.referencedDataFile.get))
    val posDeleteEntries = posParquetEntries
      .sortBy(_.sequenceNumber.getOrElse(0L)).toIndexedSeq
    val eqDeleteEntries = allDeleteEntries
      .filter(_.dataFile.content == DataFileContent.EqualityDeletes)

    // fail at plan time with the file named, not at execution with an
    // inscrutable footer exception: manifests carry the format enum
    // (reference decodes it too, manifest.go:314-320). Data files may be
    // PARQUET (vectorized), ORC or AVRO (row readers); delete files are
    // written by this engine and are always parquet.
    def requireFormat(f: DataFileInfo, role: String, allowed: Set[String]): Unit =
      if (!allowed.contains(f.format.toUpperCase)) {
        // a PUFFIN delete entry is only readable as a V3 deletion vector,
        // which needs the blob coordinates in the manifest entry
        if (f.format.toUpperCase == "PUFFIN")
          throw new UnsupportedOperationException(
            s"${f.path} is a PUFFIN delete entry without deletion-vector " +
              "coordinates (referenced_data_file / content_offset / " +
              "content_size_in_bytes) — V3 deletion vectors require all " +
              "three in the manifest entry")
        throw new UnsupportedOperationException(
          s"unsupported $role file format ${f.format} for ${f.path}: " +
            s"expected one of ${allowed.mkString(", ")}")
      }
    posParquetEntries.foreach(e =>
      requireFormat(e.dataFile, "delete", Set("PARQUET")))
    eqDeleteEntries.foreach(e =>
      requireFormat(e.dataFile, "delete", Set("PARQUET")))

    val specOfManifest: Map[String, Int] =
      manifests.map(m => m.path -> m.partitionSpecId).toMap
    dataEntries.map { case (manifestPath, e) =>
      requireFormat(e.dataFile, "data", Set("PARQUET", "ORC", "AVRO"))
      val dataSeq = e.sequenceNumber.getOrElse(0L)
      // same applicability rule as positional files: a DV applies to data
      // committed at or before its sequence; when one exists for a file,
      // the spec says readers MUST ignore positional delete FILES for it
      // (the writer merged them into the DV when it was produced)
      val dvs = dvByTarget.getOrElse(tombstonePath(e.dataFile.path), Nil)
        .filter(_.sequenceNumber.getOrElse(0L) >= dataSeq)
        .map(_.dataFile)
      val posDeletes =
        if (dvs.nonEmpty || posDeleteEntries.isEmpty) Nil
        else matchDeletes(e, posDeleteEntries)
      val eqDeletes = DeleteMatching.eqDeletes(dataSeq, eqDeleteEntries)
      FileScanTask(e.dataFile, dvs ++ posDeletes ++ eqDeletes,
        manifestPath = manifestPath, dataSequenceNumber = dataSeq,
        specId = specOfManifest.getOrElse(manifestPath, 0))
    }
  }

  /** See [[DeleteMatching.posDeletes]]. */
  private[core] def matchDeletes(data: ManifestEntry,
                           sorted: Seq[ManifestEntry]): Seq[DataFileInfo] =
    DeleteMatching.posDeletes(data, sorted)
}
