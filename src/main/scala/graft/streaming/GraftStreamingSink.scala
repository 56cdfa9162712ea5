package graft.streaming

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.spark.{GraftCowCommit, GraftCowWriterFactory, IcebergTable, TableWriter}

/** Structured Streaming SINK over an Iceberg table:
  * `df.writeStream.format("icegopher").start(dir)` — each epoch commits one
  * APPEND snapshot through the same task writers as batch writes (the
  * table's file format, partition tuples + NaN counts derived per row,
  * field ids stamped).
  *
  * Exactly-once across epoch retries: each commit stamps BOTH the query id
  * and the epoch id into the snapshot summary, and a replayed commit scans
  * the snapshot HISTORY (newest-first) for this query's latest committed
  * epoch — not just the current snapshot — so the dedup survives
  * interleaved commits (batch appends, a second stream) landing between
  * the original commit and its retry, and a fresh query whose epoch
  * numbering restarts at 0 can never false-match another query's marker.
  * A replayed epoch deletes its files and returns without a new snapshot.
  * Readers (including the streaming SOURCE) see each epoch atomically —
  * a table can sit mid-pipeline as both sink and source. */
final class GraftStreamingWrite(table: IcebergTable, schema: StructType,
                                queryId: String)
    extends StreamingWrite {

  private val writeDir =
    new File(table.location, s"data/stream-${java.util.UUID.randomUUID()}")

  /** Every epoch loads fresh metadata through the table's catalog of
    * record and commits through it — on a REST table, pinned to the loaded
    * head: a racing commit 409s and Spark's epoch retry re-runs against
    * fresh metadata (the dedup scan then recognizes an already-landed
    * epoch). */
  private def currentTable(): IcebergTable = table.ops.current()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    writeDir.mkdirs()
    val table = currentTable()
    val inner = GraftCowWriterFactory.of(writeDir.getPath, schema, table.schema,
      table.spec, table.properties)
    new StreamingDataWriterFactory {
      // task attempt ids are globally unique per SparkContext, so file
      // names cannot collide across epochs or retries
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        inner.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.collect { case m: GraftCowCommit => m.files }.flatten.toSeq
    val current = currentTable()
    // this query's most recent committed epoch, anywhere in history —
    // epoch ids within a query are monotonic, so `>=` means replay
    val lastCommitted: Option[Long] = current.metadata.snapshots.reverseIterator
      .flatMap(_.summary.map(_.properties))
      .find(_.get(GraftStreamingWrite.QueryKey).contains(queryId))
      .flatMap(_.get(GraftStreamingWrite.EpochKey))
      .flatMap(_.toLongOption)
    if (lastCommitted.exists(_ >= epochId)) {
      // epoch retry after a successful commit: drop the duplicate files
      added.foreach(f => new File(f.path).delete())
      return
    }
    if (added.isEmpty) return // empty micro-batch: no empty snapshots
    // the WAP gates batch writes honor: stage-commits can't absorb a
    // stream (each epoch would re-stage the same wap.id — refuse loudly);
    // branch staging CAN (epoch appends land on the branch, main stays
    // published state until fast_forward/cherrypick)
    graft.spark.GraftSparkTable.wapStageId(current).foreach { id =>
      throw new UnsupportedOperationException(
        s"spark.wap.id='$id' is set and this table has write.wap.enabled: " +
          "a streaming sink cannot stage-commit (every epoch would reuse " +
          "the id) — unset spark.wap.id or stage on a branch via " +
          "spark.wap.branch")
    }
    val stamps = Map(GraftStreamingWrite.EpochKey -> epochId.toString,
      GraftStreamingWrite.QueryKey -> queryId)
    TableWriter.appendFiles(current, added, stamps,
      branch = graft.spark.GraftSparkTable.wapBranch)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftCowCommit =>
      m.files.foreach(f => new File(f.path).delete())
    }
}

object GraftStreamingWrite {
  val EpochKey = "streaming-epoch-id"
  val QueryKey = "streaming-query-id"
}
