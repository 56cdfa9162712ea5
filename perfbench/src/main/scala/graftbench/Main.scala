package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => NioFiles}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.queries.CacheSlot

/** The benchmark's JVM entry point; `run.py` builds and launches it.
  *
  *   graftbench.Main --workload <pipeline|ingest> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --work <dir> --expected <file>
  *     --trace-out <file>
  *   graftbench.Main derive <verify_out_dir> <expected_file>
  *
  * One client runs passes back to back against `local[2]` until `--seconds`
  * have elapsed and [[MinPasses]] have run. For a workload that fills
  * CacheSlots, passes alternate: one starts right after
  * `CacheSlot.releaseAll()`, the next runs with caches resident. A workload
  * without caches has nothing to release, so each of its passes counts as
  * both kinds.
  * With `--trace 1`, half the passes are traced and the last stdout
  * line carries the per-layer metrics; otherwise it carries the end-to-end
  * metrics. */
object Main {
  /** Spark task threads. The operations are latency-bound (a pipeline pass
    * runs about 45 tasks in 40 stages) and run as fast on two threads as on
    * four, while the JIT keeps about one more core busy: two threads leave
    * the host's other cores as headroom, so a busy neighbour slows a run
    * less. */
  val Parallelism = 2
  /** Passes run even past `--seconds` until there are four (two of each
    * kind when they alternate); a traced run needs eight, half of them
    * traced. */
  val MinPasses = 4

  /** Text, dedup, ANN and multimodal operators. t23, d01 and ann03 fill
    * CacheSlots; d01 and mm04 hash with md5_prefix_long. */
  val Pipeline: Seq[String] = Seq(
    "t23_dsir_weights", "d01_minhash_lsh", "ann03_ivf", "mm04_chunk_dedup")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, expected: String, traceOut: String)

  final case class PassRec(i: Int, release: Boolean, traced: Boolean, secs: Double, ok: Boolean,
                           steal: Double)

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.headOption.contains("derive")) { derive(args(1), args(2)); 0 }
        else run(parse(args))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e"); e.printStackTrace(); 2
      }
    System.out.flush()
    sys.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("data"), get("work"), get("expected"), get("trace-out"))
    require(Set("pipeline", "ingest")(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Parallelism]")
      .config("spark.sql.shuffle.partitions", Parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (GC ms, JIT compilation ms) this JVM has spent so far. */
  def jvmTimes(): (Long, Long) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val stealStart = Steal.sample()
    val work = new File(o.work)
    val tables = new File(work, "tables")
    tables.mkdirs()
    // fixtures land in this run's fresh root, so building them is set-up
    System.setProperty("graft.table.cache", tables.getPath)
    val spark = session(work)
    CodegenLog.install()

    val tracer = new Tracer
    val runner = new Runner(tracer)
    val gauges = new Gauges
    val expected = readExpected(new File(o.expected))
    val w: Workload = o.workload match {
      case "pipeline" => new Battery(spark, o.data, tables, Pipeline, expected, runner, gauges)
      case "ingest" => new Ingest(spark, tables, o.seed, runner, gauges)
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val codegenSetup = CodegenLog.failures.get
    val setupSteal = Steal.share(stealStart, Steal.sample())

    val jvmBefore = jvmTimes()
    val probe = new LayerProbe(spark, tracer, runner, tables, w)
    val rng = new Random(o.seed)
    val passes = mutable.ArrayBuffer[PassRec]()
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    // with caches, passes alternate release, resident, and end on a complete pair
    val alternate = w.cached
    var i = 0
    while (System.nanoTime() < deadline || i < (if (o.trace) 8 else MinPasses) ||
        (alternate && i % 2 == 1)) {
      val release = alternate && i % 2 == 0
      // traced: passes 2 to 5 of every 8. The traced resident passes 3 and
      // 5 sit between the untraced resident passes 1 and 7, so a steady
      // warm-up trend cancels out of the tracing overhead.
      val traced = o.trace && (2 to 5).contains(i % 8)
      if (release) CacheSlot.releaseAll()
      runner.pass = i
      if (traced) probe.begin()
      val s0 = Steal.sample()
      val t0 = System.nanoTime()
      w.pass(i, rng)
      val secs = (System.nanoTime() - t0) / 1e9
      val steal = Steal.share(s0, Steal.sample())
      if (traced) probe.end()
      passes += PassRec(i, release, traced, secs, runner.records.filter(_.pass == i).forall(_.ok), steal)
      i += 1
    }
    val loadEnd = loadAvg()
    val (gcMs, jitMs) = { val a = jvmTimes(); (a._1 - jvmBefore._1, a._2 - jvmBefore._2) }
    val stored = w.storedBytesPerInputByte
    w.close()

    val recs = runner.records.toSeq
    val failures = recs.filterNot(_.ok)
    val opMs = opSamples(recs, passes.filter(p => !p.traced && !p.release).map(_.i).toSet)
    val summary = if (opMs.nonEmpty) Some(Stats.summarize(opMs)) else None
    def medianPass(release: Boolean, traced: Boolean): Double = {
      val xs = passes.filter(p => p.ok && p.traced == traced && (!alternate || p.release == release))
        .map(_.secs)
      if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", medianPass(release = false, traced = false), "s"),
        ("release_pass_s", medianPass(release = true, traced = false), "s"))
      else {
        val overhead = medianPass(release = false, traced = true) /
          medianPass(release = false, traced = false) - 1
        probe.metrics(gauges, stored) :+ (("trace.overhead_frac", overhead, "frac"))
      }

    if (o.trace) Json.mapper.writeValue(new File(o.traceOut), tracer.json)
    val stamp = Json.obj()
      .put("workload", o.workload).put("seed", o.seed).put("seconds", o.seconds)
      .put("trace", o.trace).put("nproc", Runtime.getRuntime.availableProcessors)
      .put("spark_parallelism", Parallelism)
      .put("loadavg_start", loadStart).put("loadavg_end", loadEnd)
      .put("passes", passes.size).put("timed_jvm_gc_ms", gcMs).put("timed_jit_ms", jitMs)
      .put("codegen_failures_setup", codegenSetup)
      .put("setup_steal", setupSteal)
      .put("stored_bytes_per_input_byte", stored)
    val passSecs = stamp.putArray("pass_secs")
    passes.foreach(p => passSecs.add(p.secs))
    val passSteal = stamp.putArray("pass_steal")
    passes.foreach(p => passSteal.add(p.steal))
    summary.foreach { s =>
      val lat = stamp.putObject("op_latency_ms").put("n", s.n).put("p50", s.p50)
      if (s.highPct > 50) lat.put(s"p${s.highPct}", s.high)
    }
    val setupOps = stamp.putObject("setup_op_ms")
    recs.filter(_.pass == -1).groupMapReduce(_.name)(_.ms)(_ + _)
      .foreach { case (k, v) => setupOps.put(k, v) }
    val opMsNode = stamp.putObject("op_ms")
    recs.filter(r => r.ok && r.pass >= 0).groupBy(_.name).toSeq.sortBy(_._1).foreach {
      case (k, rs) => val xs = opMsNode.putArray(k); rs.foreach(r => xs.add(r.ms))
    }
    val failed = stamp.putArray("failed_ops")
    failures.foreach(f => failed.add(s"${f.name}@${f.pass}: ${f.error.get}"))
    val stampLine = Json.obj()
    stampLine.set[ObjectNode]("stamp", stamp)
    println(Json.mapper.writeValueAsString(stampLine))

    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val result = Json.obj()
      .put("correct", failures.isEmpty && finite)
      .put("attempted", recs.size)
      .put("failed", failures.size)
    val metricsNode = result.putObject("metrics")
    metrics.foreach { case (k, v, u) =>
      metricsNode.putObject(k).put("value", if (v.isNaN || v.isInfinite) -1.0 else v).put("unit", u)
    }
    println(Json.mapper.writeValueAsString(result))
    spark.stop()
    0
  }

  /** Latencies of the operations of `passes` that succeeded: a failed
    * operation is never a timing. */
  def opSamples(recs: Seq[OpRecord], passes: Set[Int]): Seq[Double] =
    recs.filter(r => r.ok && passes(r.pass)).map(_.ms)

  def readExpected(f: File): Map[String, Fingerprint.Value] = {
    val node = Json.mapper.readTree(f)
    node.properties().asScala.map { e =>
      e.getKey -> Fingerprint.Value(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }

  /** Fingerprints of the battery results a `graft.Verify` run wrote (one
    * parquet directory per query), for the queries the workloads use. Run
    * it only on output that `scripts/check_oracle.py` matched against
    * DuckDB. */
  def derive(verifyOut: String, out: String): Unit = {
    val work = NioFiles.createTempDirectory("perfbench-derive").toFile
    val spark = session(work)
    val out0 = Json.obj()
    Pipeline.sorted.foreach { name =>
      val fp = Fingerprint.of(spark.read.parquet(s"$verifyOut/$name").collect())
      out0.putObject(name).put("rows", fp.rows).put("hash", fp.hash)
    }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out), out0)
    spark.stop()
    Files.deleteRec(work)
  }
}

/** Per-layer counters around traced passes: the engine's public counters,
  * Spark's listener, the codegen log, files written and cached blocks. */
final class LayerProbe(spark: SparkSession, tracer: Tracer, runner: Runner,
                       tables: File, w: Workload) {
  private val sc = spark.sparkContext
  private val listener = new ExecListener
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val totals = mutable.LinkedHashMap[String, Double]()
  private var before: Map[String, Double] = Map.empty
  private var cachedBefore: Set[Int] = Set.empty
  private var tracedPasses = 0

  private def counters(): Map[String, Double] = {
    val files = Files.walk(tables).toSeq
    Map[String, Double](
      "core.plan_calls" -> graft.spark.TableScan.planFilesCalls.get.toDouble,
      "core.manifest_entry_reads" -> graft.core.ManifestIO.entryReads.get.toDouble,
      "core.distributed_plans" -> graft.spark.DistributedPlanner.runs.get.toDouble,
      "catalog.remote_plans" -> graft.catalog.RestScanPlanning.remotePlans.get.toDouble,
      "catalog.local_fallbacks" -> graft.catalog.RestScanPlanning.localFallbacks.get.toDouble,
      "catalog.commit_conflicts" -> (w match {
        case i: Ingest => i.commitConflicts.get.toDouble
        case _ => 0.0
      }),
      "exec.codegen_failures" -> CodegenLog.failures.get.toDouble,
      "exec.codegen_compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      "spark.files_written" -> files.size.toDouble,
      "spark.bytes_written" -> files.map(_.length).sum.toDouble,
      "spark.metadata_bytes" ->
        files.filter(_.getParentFile.getName == "metadata").map(_.length).sum.toDouble
    ) ++
      listener.snapshot.map { case (k, v) => s"exec.$k" -> v.toDouble }
  }

  def begin(): Unit = {
    before = counters()
    cachedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    sc.addSparkListener(listener)
    tracer.enabled = true
    runner.afterOp = () => {
      org.apache.spark.BenchBus.drain(sc)
      listener.drainJobs().foreach { case (id, s, e) =>
        tracer.attach("exec", s"job$id", s * 1000000L + clockOffsetNs, e * 1000000L + clockOffsetNs)
      }
    }
  }

  def end(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    runner.afterOp = () => ()
    tracer.enabled = false
    sc.removeSparkListener(listener)
    counters().foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v - before(k) }
    val cached = sc.getRDDStorageInfo
    totals("queries.cache_fills") = totals.getOrElse("queries.cache_fills", 0.0) +
      cached.count(r => !cachedBefore(r.id))
    totals("queries.cache_resident_bytes") = totals.getOrElse("queries.cache_resident_bytes", 0.0) +
      cached.map(r => r.memSize + r.diskSize).sum
    totals("queries.cache_persisted_rdds") = totals.getOrElse("queries.cache_persisted_rdds", 0.0) +
      cached.length
    tracedPasses += 1
  }

  def metrics(gauges: Gauges, stored: Double): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    def med(layer: String, name: String): Double = {
      val xs = spans.filter(s => s.layer == layer && s.name == name).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def medOp(prefix: String): Double = {
      val xs = spans.filter(s => s.parent == 0 && s.name.startsWith(prefix)).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def perPass(k: String): Double = totals.getOrElse(k, 0.0) / math.max(1, tracedPasses)
    val self = Tracer.selfTimes(spans)
    val opWallNs = spans.filter(_.parent == 0).map(_.durNs).sum.toDouble
    def frac(layer: String): Double = if (opWallNs > 0) self.getOrElse(layer, 0L) / opWallNs else 0.0
    val jobsPerOp = spans.filter(s => s.layer == "exec" && s.name.startsWith("job"))
      .groupMapReduce(_.op)(_.durNs / 1e6)(_ + _)
    val ops = spans.filter(_.parent == 0).map(_.op)
    val runMs = if (ops.isEmpty) 0.0 else Stats.median(ops.map(jobsPerOp.getOrElse(_, 0.0)))
    Seq(
      ("core.plan_ms", med("core", "plan"), "ms"),
      ("core.load_ms", med("core", "load"), "ms"),
      ("core.plan_calls", perPass("core.plan_calls"), "count/pass"),
      ("core.manifest_entry_reads", perPass("core.manifest_entry_reads"), "count/pass"),
      ("core.manifests_live", gauges.mean("core.manifests_live"), "count"),
      ("core.files_kept_ratio", gauges.mean("core.files_kept_ratio"), "frac"),
      ("core.delete_files_per_task", gauges.mean("core.delete_files_per_task"), "count"),
      ("core.distributed_plans", perPass("core.distributed_plans"), "count/pass"),
      ("catalog.load_ms", med("catalog", "load"), "ms"),
      ("catalog.commit_ms", med("catalog", "append_pair"), "ms"),
      ("catalog.commit_conflicts", perPass("catalog.commit_conflicts"), "count/pass"),
      ("catalog.remote_plans", perPass("catalog.remote_plans"), "count/pass"),
      ("catalog.local_fallbacks", perPass("catalog.local_fallbacks"), "count/pass"),
      ("spark.append_ms", med("spark", "append"), "ms"),
      ("spark.delete_pos_ms", med("spark", "delete_pos"), "ms"),
      ("spark.delete_dv_ms", med("spark", "delete_dv"), "ms"),
      ("spark.compact_ms", med("spark", "compact"), "ms"),
      ("spark.rewrite_manifests_ms", med("spark", "rewrite_manifests"), "ms"),
      ("spark.todf_ms", med("spark", "todf"), "ms"),
      ("spark.sql_lookup_ms", medOp("lookup_sql"), "ms"),
      ("spark.lookup_ms", medOp("lookup_"), "ms"),
      ("spark.files_written", perPass("spark.files_written"), "count/pass"),
      ("spark.bytes_written", perPass("spark.bytes_written"), "B/pass"),
      ("spark.metadata_bytes", perPass("spark.metadata_bytes"), "B/pass"),
      ("spark.stored_bytes_per_input_byte", stored, "B/B"),
      ("queries.build_ms", med("queries", "build"), "ms"),
      ("queries.cache_resident_bytes", perPass("queries.cache_resident_bytes"), "B"),
      ("queries.cache_persisted_rdds", perPass("queries.cache_persisted_rdds"), "count"),
      ("queries.cache_fills", perPass("queries.cache_fills"), "count/pass"),
      ("exec.plan_ms", gauges.median("exec.plan_ms"), "ms"),
      ("exec.run_ms", runMs, "ms"),
      ("exec.jobs", perPass("exec.jobs"), "count/pass"),
      ("exec.stages", perPass("exec.stages"), "count/pass"),
      ("exec.tasks", perPass("exec.tasks"), "count/pass"),
      ("exec.task_cpu_ms", perPass("exec.cpu_ns") / 1e6, "ms/pass"),
      ("exec.gc_ms", perPass("exec.gc_ms"), "ms/pass"),
      ("exec.input_bytes", perPass("exec.input_bytes"), "B/pass"),
      ("exec.input_rows", perPass("exec.input_rows"), "count/pass"),
      ("exec.result_rows", gauges.mean("exec.result_rows"), "count"),
      ("exec.shuffle_read_bytes", perPass("exec.shuffle_read"), "B/pass"),
      ("exec.shuffle_write_bytes", perPass("exec.shuffle_write"), "B/pass"),
      ("exec.spill_bytes", perPass("exec.spill"), "B/pass"),
      ("exec.codegen_failures", perPass("exec.codegen_failures"), "count/pass"),
      ("exec.codegen_compile_ms", perPass("exec.codegen_compile_ms"), "ms/pass"),
      ("trace.self_frac.core", frac("core"), "frac"),
      ("trace.self_frac.catalog", frac("catalog"), "frac"),
      ("trace.self_frac.spark", frac("spark"), "frac"),
      ("trace.self_frac.queries", frac("queries"), "frac"),
      ("trace.self_frac.exec", frac("exec"), "frac"),
      ("trace.self_frac.bench", frac("bench"), "frac"),
      ("trace.covered_frac", if (opWallNs > 0) 1 - frac("bench") else 0.0, "frac"),
      ("trace.ops", ops.size.toDouble, "count"))
  }
}

object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
}

/** The share of this host's CPU time that the hypervisor gave to other
  * guests ("steal" in /proc/stat) over an interval. */
object Steal {
  /** (steal, total) jiffies summed over all CPUs; (0, 0) without /proc/stat. */
  def sample(): (Long, Long) =
    try {
      val line = NioFiles.readAllLines(new File("/proc/stat").toPath).get(0)
      val xs = line.trim.split("\\s+").slice(1, 9).map(_.toLong)
      (if (xs.length == 8) xs(7) else 0L, xs.sum)
    } catch { case _: Exception => (0L, 0L) }

  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total > 0) (to._1 - from._1).toDouble / total else 0.0
  }
}
