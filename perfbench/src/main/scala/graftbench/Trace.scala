package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for an operation's root span;
  * every span of one operation carries that operation's `op` id. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark around the calls it makes into each
  * layer. Kept in memory; [[Tracer.json]] writes them out when the run
  * ends. Only the benchmark's own thread opens spans. */
final class Tracer {
  private val buf = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0
  @volatile var enabled = false

  /** Root span of one operation. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f else { opId += 1; span("bench", name)(f) }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        stack = stack.tail
        buf += Span(id, parent, opId, layer, name, t0, System.nanoTime())
      }
    }

  /** Attach a span timed elsewhere (a Spark job seen by the listener) under
    * the innermost span of the current operation that encloses it. */
  def attach(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val mid = startNs + (endNs - startNs) / 2
      val host = buf.reverseIterator.takeWhile(_.op == opId)
        .filter(s => s.layer != layer && s.startNs <= mid && mid <= s.endNs)
        .maxByOption(_.startNs)
      host.foreach { h =>
        val id = nextId; nextId += 1
        buf += Span(id, h.id, opId, layer, name,
          math.max(startNs, h.startNs), math.min(endNs, h.endNs))
      }
    }

  def spans: Seq[Span] = buf.toSeq

  def json: com.fasterxml.jackson.databind.node.ArrayNode = {
    val out = Json.mapper.createArrayNode()
    buf.foreach(s => out.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
      .put("layer", s.layer).put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs))
    out
  }
}

object Tracer {
  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover. Leaf spans of one layer under one parent
    * (Spark jobs that ran concurrently) count once, as their union. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    def clip(s: Span, cs: Seq[Span]) = cs
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
    val inner = spans.filter(s => kids.contains(s.id)).map { s =>
      s.layer -> (s.durNs - union(clip(s, kids(s.id))))
    }
    val leaves = spans.filterNot(s => kids.contains(s.id))
      .groupBy(s => (s.parent, s.layer)).toSeq.map { case ((_, layer), group) =>
        layer -> union(group.map(s => (s.startNs, s.endNs)))
      }
    (inner ++ leaves).groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }
}

/** Counts Spark's execution work from its listener events: jobs, stages,
  * tasks and the task metrics, plus each job's interval so it can be
  * attached to the span that ran it. Registered only for traced passes. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, cpuNs, gcMs, inputBytes, inputRows, shuffleRead,
    shuffleWrite, spill = new AtomicLong()
  private val jobStart = scala.collection.concurrent.TrieMap[Int, Long]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach(t => done.add((e.jobId, t, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Finished jobs since the last call, as (jobId, startMs, endMs). */
  def drainJobs(): Seq[(Int, Long, Long)] = {
    val out = ArrayBuffer[(Int, Long, Long)]()
    var j = done.poll()
    while (j != null) { out += j; j = done.poll() }
    out.toSeq
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "input_bytes" -> inputBytes.get,
    "input_rows" -> inputRows.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get)
}

/** Counts "Failed to compile" errors logged by Spark's code generator: each
  * one means a generated class fell back to interpreted evaluation. */
object CodegenLog {
  val failures = new AtomicLong()
  private val LoggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  private final class Counter extends AbstractAppender(
      "graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (String.valueOf(e.getMessage.getFormattedMessage).contains("Failed to compile"))
        failures.incrementAndGet()
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new Counter
    app.start()
    ctx.getLogger(LoggerName).addAppender(app)
  }
}
