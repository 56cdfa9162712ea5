package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.core.{FileScanTask, ManifestIO}
import graft.spark.IcebergTable

/** Streaming surface.
  *
  * The reference has no streaming (SURVEY §2.2); the honest analogs are:
  *   1. Structured Streaming transforms over an event stream —
  *      watermarked tumbling-window aggregation and stateful
  *      sessionization via mapGroupsWithState, the two canonical shapes.
  *   2. Iceberg *incremental* reads — the files appended between two
  *      snapshots, the batch-world equivalent of a changefeed (and exactly
  *      what a `readStream` source over an Iceberg table would poll).
  *
  * All operators here work identically on batch DataFrames (Spark's
  * unified API): the specs drive them through MemoryStream.
  */
object EventStreams {

  /** Watermarked tumbling-window count+sum per event type. Late data beyond
    * the watermark is dropped; state is bounded by (types × open windows). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String,
                         value: Double)
  final case class SessionState(count: Long, sum: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, events: Long, sum_value: Double,
                              closed: Boolean)

  /** Stateful sessionization: per-user running aggregates with an optional
    * inactivity timeout — the `mapGroupsWithState` shape for custom state
    * the built-in windows can't express. State per key is O(1).
    * `timeoutMs <= 0` disables the processing-time timeout (deterministic
    * micro-batch behavior for tests). */
  def sessionize(events: Dataset[Event],
                 timeoutMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](timeoutConf) {
        case (user, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(user, s.count, s.sum, closed = true)
          } else {
            val evs = it.toSeq
            val prev = state.getOption.getOrElse(SessionState(0, 0.0, 0L))
            val next = SessionState(prev.count + evs.size,
              prev.sum + evs.map(_.value).sum,
              math.max(prev.lastTs, evs.map(_.ts.getTime).maxOption.getOrElse(0L)))
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            SessionOut(user, next.count, next.sum, closed = false)
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch exact-dedup
    * pass (t02): events whose key columns repeat within the watermark
    * horizon are dropped, with dedup STATE BOUNDED by the watermark
    * (`dropDuplicatesWithinWatermark`) — at 100 TB/day the state store
    * holds one entry per distinct key per horizon, not per all time.
    * Needs an event-time column named `ts` for the watermark. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream INTERVAL join — the attribution shape
    * (impression ⋈ click within an attribution window): rows of `right`
    * join rows of `left` sharing `key` whose `right.tsCol` falls in
    * `[left.tsCol, left.tsCol + maxDelay]`. The time bound plus the
    * watermarks is what makes this a BOUNDED-state join: each side
    * buffers only rows newer than (watermark − maxDelay); without the
    * interval predicate, stream-stream join state grows forever.
    * Column names collide between the sides, so both are prefixed
    * (`l_`/`r_`) in the output. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   tsCol: String = "ts",
                   maxDelay: String = "10 minutes",
                   watermark: String = "20 minutes"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r, expr(
      s"""l_$key = r_$key AND
          r_$tsCol >= l_$tsCol AND
          r_$tsCol <= l_$tsCol + INTERVAL $maxDelay"""))
  }

  /** Per-snapshot changelog: the data files each APPEND snapshot with
    * sequence in `(fromSeq, toSeq]` added, read from that snapshot's OWN
    * manifest list — NOT the latest one. Resolving from the latest list is
    * a data-loss race: a compaction/overwrite committed after an append
    * but before the window is planned removes the append's manifest from
    * every later list (REPLACE starts from empty), and the replace's own
    * files are rewrites the stream already delivered — the appended rows
    * would silently vanish from the changefeed.
    *
    * Fails loudly if a snapshot in the window was expired: its files can
    * no longer be resolved, and skipping it silently would be the same
    * data loss. */
  def appendedFilesInWindow(table: IcebergTable, fromSeq: Long,
                            toSeq: Long): Seq[FileScanTask] = {
    mainLineageWindow(table, fromSeq, toSeq)
      // only APPEND snapshots emit: overwrite/replace (compaction, CoW
      // rewrites) carry rows the stream already delivered
      .filter(_.summary.forall(_.operation == graft.core.OpAppend))
      .flatMap { s =>
        ManifestIO.readManifestList(table.io.open(s.manifestList))
          .filter(m => m.content == 0 && m.sequenceNumber == s.sequenceNumber)
          .flatMap(m => ManifestIO.readManifestEntries(table.io.open(m.path), m))
          .filter(e => e.status == graft.core.ManifestEntryStatus.Added &&
            e.sequenceNumber.contains(s.sequenceNumber))
          .map(e => FileScanTask(e.dataFile))
      }
  }

  /** The MAIN-lineage snapshots with sequence in `(fromSeq, toSeq]`,
    * resolved by walking parent ids down from the current tip — NOT by
    * filtering all snapshots on sequence: branch commits (write-audit-
    * publish) consume sequence numbers without ever being on main, so a
    * dense-sequence filter would leak unpublished branch rows into the
    * changefeed AND false-positive the expiry check on the gaps they
    * leave. Fails loudly when the parent CHAIN truly breaks above
    * `fromSeq` (history expired) — the changefeed's no-silent-data-loss
    * contract. `stopAtRetained` opts OUT of that for the unbounded batch
    * changelog, whose contract is "everything retained": the walk then
    * stops at the oldest retained ancestor instead of failing. */
  private[streaming] def mainLineageWindow(table: IcebergTable, fromSeq: Long,
                                           toSeq: Long,
                                           stopAtRetained: Boolean = false)
      : Seq[graft.core.Snapshot] = {
    if (toSeq <= fromSeq) return Nil
    val md = table.metadata
    val out = Vector.newBuilder[graft.core.Snapshot]
    var cur = md.currentSnapshot
    while (cur.exists(_.sequenceNumber > fromSeq)) {
      val s = cur.get
      if (s.sequenceNumber <= toSeq) out += s
      cur = s.parentSnapshotId match {
        case None =>
          if (fromSeq > 0) throw new IllegalStateException(
            s"cannot resolve changefeed window ($fromSeq, $toSeq] of " +
              s"${table.location}: lineage ends above sequence $fromSeq")
          None
        case Some(pid) =>
          val p = md.snapshotById(pid)
          if (p.isEmpty && !stopAtRetained) throw new IllegalStateException(
            s"cannot resolve changefeed window ($fromSeq, $toSeq] of " +
              s"${table.location}: snapshot ${s.snapshotId}'s parent $pid was expired")
          p // None (expired below an opted-out window) ends the walk
      }
    }
    out.result().reverse
  }

  /** Files appended strictly after `fromSnapshotId` up to and including
    * `toSnapshotId` (defaults to current) — an append-only changefeed in
    * file granularity, resolved purely from metadata. */
  def appendedFilesBetween(table: IcebergTable, fromSnapshotId: Long,
                           toSnapshotId: Option[Long] = None): Seq[FileScanTask] = {
    val md = table.metadata
    val from = md.snapshotById(fromSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"snapshot $fromSnapshotId not found"))
    val to = toSnapshotId.flatMap(md.snapshotById).orElse(md.currentSnapshot)
      .getOrElse(throw new IllegalArgumentException("no target snapshot"))
    appendedFilesInWindow(table, from.sequenceNumber, to.sequenceNumber)
  }

  /** Incremental read as a DataFrame: the rows of the files appended
    * after a snapshot, read through the icegopher scan's
    * `start-snapshot-id` window (field ids, name mapping, defaults and
    * every file format, as any table read). */
  def incrementalRead(table: IcebergTable, spark: SparkSession,
                      fromSnapshotId: Long): DataFrame =
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.spark.GraftSparkTable(table, wapReads = false), None, None,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("start-snapshot-id", fromSnapshotId.toString))))

  /** Executor-side helpers for [[cancelCarryovers]] — a standalone
    * serializable holder so the task closures don't capture
    * [[EventStreams]] (non-serializable, driver-only members). */
  private[streaming] object CarryoverCanon extends Serializable {
    /** Deterministic, content-based canonical string for a row value —
      * `toString` alone would hash arrays (binary columns!) by identity. */
    def canonValue(v: Any): String = v match {
      case null => "\u0000null"
      case b: Array[Byte] => "B:" + java.util.Base64.getEncoder.encodeToString(b)
      case a: Array[_] => a.iterator.map(canonValue).mkString("A[", ",", "]")
      case s: scala.collection.Seq[_] =>
        s.iterator.map(canonValue).mkString("A[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.iterator.map { case (k, x) => canonValue(k) + "=" + canonValue(x) }
          .toSeq.sorted.mkString("M{", ",", "}")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(canonValue).mkString("R(", ",", ")")
      case other => other.toString
    }

    def contentOf(r: org.apache.spark.sql.Row,
                  contentIdx: Array[Int]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < contentIdx.length) {
        sb.append(canonValue(r.get(contentIdx(i)))).append('\u0001')
        i += 1
      }
      sb.toString
    }

    def keyOf(r: org.apache.spark.sql.Row, contentIdx: Array[Int]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(md.digest(
        contentOf(r, contentIdx)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }

    def cancelGroup(rows: Iterator[org.apache.spark.sql.Row],
                    contentIdx: Array[Int], typeIdx: Int)
        : Iterator[org.apache.spark.sql.Row] =
      // exact multiset cancel by full content (hash collisions are
      // resolved here, not by the key)
      rows.toSeq.groupBy(contentOf(_, contentIdx)).valuesIterator.flatMap {
        same =>
          val (dels, inss) = same.partition(_.getString(typeIdx) == "delete")
          val cancelled = math.min(dels.size, inss.size)
          dels.drop(cancelled) ++ inss.drop(cancelled)
      }
  }

  /** Cancel copy-on-write carryover pairs in a CDC row stream: a CoW
    * rewrite surfaces every merely-copied row as a `delete` (old file) +
    * `insert` (new file) pair within the same commit; only the surplus on
    * either side is a genuine change. [[Changelog.changelogDF]] applies
    * the same cancel — multiset semantics on full row content, scoped per
    * commit.
    *
    * Shape for 100 TB: one shuffle of the batch's CHANGED rows keyed by
    * md5(commit, row content) — pairs meet in the same task, groups are
    * O(duplicate count) tiny, and no state is retained across batches
    * (carryover pairs are always intra-commit, and a commit never spans
    * micro-batches), so state-store size is zero. Works identically on
    * batch DataFrames (Spark's unified API).
    *
    * Registered automatically on `.option("read-changes", true)` streams
    * by [[graft.spark.GraftSparkExtensions]]; pass
    * `.option("cdc-carryovers", "emit")` for the raw pair surface.
    *
    * CHECKPOINT CONSTRAINT: this wrapper inserts a stateful operator
    * (`flatMapGroupsWithState`) into the stream plan, and Spark validates
    * the stateful-operator graph against the checkpoint on restart. The
    * `cdc-carryovers` mode (and whether the extensions are installed) must
    * therefore stay FIXED for the lifetime of a checkpoint: restarting a
    * `cancel`-mode checkpoint in `emit` mode (or vice versa, or without
    * the extensions) fails Spark's state-operator validation. To switch
    * modes, start a new checkpoint from a pinned `stream-start`. */
  def cancelCarryovers(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnShim.ofRows(df.sparkSession,
      cancelCarryoversPlan(df.queryExecution.analyzed))

  /** The logical-plan form of [[cancelCarryovers]]: builds the
    * `AppendColumns` (grouping key) + `FlatMapGroupsWithState` (cancel)
    * nodes DIRECTLY via their catalyst constructors, leaving
    * `UnresolvedDeserializer`s for whatever analyzer run owns the plan.
    * This is what lets [[graft.spark.GraftCdcCarryoverCancel]] wrap a
    * relation from INSIDE an analyzer rule without re-entering the
    * analyzer (`Dataset.ofRows(...).queryExecution.analyzed` mid-rule —
    * the fragile form this replaces); the rule's host analyzer resolves
    * the deserializers on its next fixed-point iteration. */
  def cancelCarryoversPlan(child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, FlatMapGroupsWithState, LogicalGroupState}
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(child.output.map(a =>
      StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val typeIdx = schema.fieldIndex(graft.spark.GraftReaders.ChangeTypeCol)
    // commit columns STAY in the key: cancellation is per-commit
    val contentIdx = schema.fields.indices.filterNot(_ == typeIdx).toArray
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
    val appended = AppendColumns[Row, String](
      CarryoverCanon.keyOf(_, contentIdx), child)
    // state never set -> none stored
    val cancel: (Any, Iterator[Any], LogicalGroupState[Any]) => Iterator[Any] =
      (_, rows, _) => CarryoverCanon.cancelGroup(
        rows.asInstanceOf[Iterator[Row]], contentIdx, typeIdx)
        .asInstanceOf[Iterator[Any]]
    FlatMapGroupsWithState[String, Row, Boolean, Row](
      cancel,
      appended.newColumns,
      child.output,
      org.apache.spark.sql.streaming.OutputMode.Append(),
      isMapGroupsWithState = false,
      GroupStateTimeout.NoTimeout,
      appended)
  }
}
