package graft.streaming

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes,
  ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

import graft.core.ManifestIO
import graft.spark.{GraftReaderFactory, GraftScan, IcebergTable, IcebergTables}

/** Snapshot-sequence offset: a micro-batch covers the data files appended
  * in `(fromSeq, toSeq]`. `full` marks an INITIAL offset whose snapshot must
  * be delivered as a complete scan (earliest-start on a table whose older
  * history was expired — the appends can no longer be replayed one by one,
  * but the oldest retained snapshot is still a correct initial load).
  * JSON so checkpoints survive restarts; the `full` field is absent in
  * pre-existing checkpoints and defaults to false. */
final case class GraftOffset(seq: Long, full: Boolean = false) extends Offset {
  override def json(): String =
    if (full) s"""{"seq":$seq,"full":true}""" else s"""{"seq":$seq}"""
}

object GraftOffset {
  def fromJson(json: String): GraftOffset =
    GraftOffset(
      """"seq"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"bad offset: $json")),
      """"full"\s*:\s*true""".r.findFirstIn(json).isDefined)
}

/** Structured Streaming source over an Iceberg table:
  * `spark.readStream.format("icegopher").load(dir)` — each micro-batch is
  * the set of files APPENDED since the last processed snapshot sequence,
  * resolved purely from metadata (the changefeed `EventStreams
  * .appendedFilesBetween` exposes as a library call). Append-only semantics,
  * the standard for table-format streaming: replace/delete snapshots are
  * surfaced as appends of their new files only.
  *
  * `.option("stream-start", "latest")` begins at the current snapshot
  * (default `earliest` replays the table — file-by-file when the full
  * snapshot history is retained, otherwise a full scan of the oldest
  * retained snapshot as the first batch, incremental from there); a
  * snapshot id or branch/tag name pins the start strictly AFTER that
  * snapshot — the incremental-consumer entry point ("I have processed up
  * to here, give me what follows").
  *
  * `.option("maxFilesPerTrigger", n)` / `.option("maxBytesPerTrigger", b)`
  * bound each micro-batch (SupportsAdmissionControl): the end offset
  * advances snapshot by snapshot only while the cumulative appended file
  * count / byte size stays within budget (always at least one snapshot,
  * so the stream makes progress) — without a bound, a stream started
  * against a large existing table plans the entire history into one
  * giant first batch.
  *
  * Execution reuses the batch read path's input partitions
  * ([[GraftScan.taskPartitions]]) and row readers, including MoR delete
  * matching for the initial full scan. */
final class GraftMicroBatchStream(location: String, required: StructType,
                                  streamStart: String,
                                  maxFilesPerTrigger: Option[Int] = None,
                                  maxBytesPerTrigger: Option[Long] = None,
                                  readChanges: Boolean = false,
                                  // the table's catalog of record, when it
                                  // is not the filesystem: each poll loads
                                  // FRESH metadata through it (a
                                  // REST-cataloged stream follows the
                                  // server, never a stale local listing)
                                  reload: Option[() => IcebergTable] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def freshTable(): IcebergTable =
    reload.map(_()).getOrElse(IcebergTables.load(location))

  /** Trigger.AvailableNow: pin the drain target to the table's state at
    * query start. Batches still honor maxFiles/maxBytes admission, but
    * never advance past the pinned sequence — commits racing the backfill
    * are left for the next run, which is what gives AvailableNow its
    * "process exactly what existed, then stop" contract. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap =
      Some(freshTable().currentSnapshot.map(_.sequenceNumber).getOrElse(0L))
  }

  override def initialOffset(): Offset = {
    val t = freshTable()
    streamStart match {
      case "latest" =>
        GraftOffset(t.currentSnapshot.map(_.sequenceNumber).getOrElse(0L))
      case "earliest" | "" =>
        val latest = t.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
        // replayable iff the MAIN lineage walks back to genesis unbroken
        // (branch commits leave sequence gaps that are NOT expiry)
        val replayable =
          scala.util.Try(EventStreams.mainLineageWindow(t, 0L, latest)).isSuccess
        if (replayable) GraftOffset(0L) // full history retained: replay appends
        else {
          // expired history: the oldest retained snapshot is the earliest
          // correct initial load — deliver it as a full scan
          val oldest = t.metadata.snapshots.minBy(_.sequenceNumber)
          GraftOffset(oldest.sequenceNumber, full = true)
        }
      case pin =>
        // a snapshot id or branch/tag name: the changefeed starts strictly
        // AFTER that snapshot (the consumer has it; deliver what follows) —
        // the standard incremental-consumer entry point, same resolution
        // as batch time travel
        val snap = pin.toLongOption
          .flatMap(id => t.metadata.snapshotById(id))
          .orElse(t.metadata.snapshotByName(pin))
          .getOrElse(throw new IllegalArgumentException(
            s"stream-start '$pin' is not 'earliest', 'latest', a snapshot " +
              s"id, or a ref of $location"))
        GraftOffset(snap.sequenceNumber)
    }
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits =
      maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit).toSeq ++
        maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n): ReadLimit).toSeq
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Flatten allAvailable/maxFiles/maxBytes/composite into budget options. */
  private def budgetsOf(limit: ReadLimit): (Option[Long], Option[Long]) =
    limit match {
      case mf: ReadMaxFiles => (Some(mf.maxFiles().toLong), None)
      case mb: ReadMaxBytes => (None, Some(mb.maxBytes()))
      case c: CompositeReadLimit =>
        val parts = c.getReadLimits.map(budgetsOf)
        (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption)
      case _ => (None, None)
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t = freshTable()
    val live = t.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
    val latest = availableNowCap.fold(live)(math.min(live, _))
    val s = start.asInstanceOf[GraftOffset]
    budgetsOf(limit) match {
      case (None, None) => GraftOffset(math.max(s.seq, latest))
      case (fileBudget, byteBudget) =>
        // advance snapshot by snapshot while the cumulative appended file
        // count AND byte size fit; always include at least one snapshot so
        // a single oversized commit cannot stall the stream. O(snapshots)
        // driver metadata: sizes come from the snapshot summary when the
        // writer recorded them, else one manifest-list read.
        var end = s.seq
        var files = fileBudget.getOrElse(Long.MaxValue)
        var bytes = byteBudget.getOrElse(Long.MaxValue)
        var first = true
        var stop = false
        // main-lineage snapshots only: branch commits must neither consume
        // the admission budget nor define the batch end
        EventStreams.mainLineageWindow(t, s.seq, latest)
          .foreach { snap =>
            val isAppend = snap.summary.forall(_.operation == graft.core.OpAppend)
            def summaryLong(key: String): Option[Long] =
              snap.summary.flatMap(_.properties.get(key)).flatMap(_.toLongOption)
            lazy val addedManifests =
              ManifestIO.readManifestList(t.io.open(snap.manifestList))
                .filter(m => m.content == 0 &&
                  m.sequenceNumber == snap.sequenceNumber)
            val nFiles = if (!isAppend) 0L else summaryLong("added-data-files")
              .getOrElse(addedManifests.map(_.addedFilesCount.toLong).sum)
            val nBytes = if (!isAppend) 0L else summaryLong("added-files-size")
              .getOrElse {
                // entry-level fallback: only for snapshots predating the
                // size-stamping writer, one small Avro read each
                addedManifests.flatMap(m =>
                  ManifestIO.readManifestEntries(t.io.open(m.path), m)
                    .filter(_.sequenceNumber.contains(snap.sequenceNumber))
                    .map(_.dataFile.fileSizeInBytes)).sum
              }
            if (!stop && ((nFiles <= files && nBytes <= bytes) || first)) {
              end = snap.sequenceNumber
              files -= nFiles
              bytes -= nBytes
              first = false
            } else stop = true // contiguity: never skip past a full snapshot
          }
        GraftOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)

  /** A batch covers the commits in `(start, end]`: their appended files,
    * or with `read-changes` their row-level changes
    * ([[Changelog.changePartitions]]), stamped with `_change_type` /
    * `_commit_snapshot_id` / `_commit_sequence` — the streaming twin of
    * [[Changelog.changelogDF]]. A `full` start offset first delivers its
    * own snapshot as a complete MoR-correct scan (as inserts of that
    * commit when reading changes). A copy-on-write rewrite surfaces copied
    * rows as a delete+insert pair within the SAME batch;
    * [[graft.spark.GraftSparkExtensions]] wraps read-changes streams with
    * [[EventStreams.cancelCarryovers]] so the delivered stream matches the
    * batch changelog's default, and `.option("cdc-carryovers", "emit")`
    * (or running without the extensions) yields the raw pair surface.
    * Exactly-once: offsets partition the sequence window. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset]
    val toSeq = end.asInstanceOf[GraftOffset].seq
    val t = freshTable()
    val initial = Option.when(s.full)(
      t.metadata.snapshots.find(_.sequenceNumber == s.seq).getOrElse(
        throw new IllegalStateException(
          s"initial-offset snapshot (sequence ${s.seq}) of $location was expired")))
    if (readChanges)
      return Changelog.changePartitions(t, required,
        Changelog.changedFilesInWindow(t, s.seq, toSeq), initial).toArray
    val tasks = initial.toSeq.flatMap(snap =>
      t.newScan(snapshotId = Some(snap.snapshotId)).planFiles()) ++
      EventStreams.appendedFilesInWindow(t, s.seq, toSeq)
    val maxSplit = GraftScan.maxSplitBytes(tasks)
    tasks.flatMap(GraftScan.taskPartitions(t, required, _, maxSplit)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
