package graft.spark

import graft.core._

/** Distributed scan planning: decode + filter manifest entries as a Spark
  * job instead of on driver threads.
  *
  * The driver's parallel-collection decode is sized for O(1000) manifests;
  * a 100-TB table after years of streaming commits can carry 10⁴–10⁵, and
  * at that scale the entry decode (not the manifest-list read) dominates
  * plan latency. Above a manifest-count threshold this planner ships one
  * task per manifest-batch to executors (the pattern
  * [[FilesMetadataTable]] established for the `files` metadata table) and
  * collects only the SURVIVING entries — exactly what the driver must hold
  * anyway to assemble FileScanTasks, so driver memory is unchanged; only
  * the decode CPU and manifest I/O move off the driver.
  *
  * Activation: table property `plan.distributed.threshold`, default 1000.
  * Planning without an active session (pure-core callers, tests of the
  * metadata plane) always uses the driver path. */
object DistributedPlanner {

  val ThresholdProp = "plan.distributed.threshold"
  val DefaultThreshold = 1000

  /** Diagnostic: distributed planning jobs run in this JVM (spec hook). */
  val runs = new java.util.concurrent.atomic.AtomicLong()

  /** Bulk decoder for `table`, handed to [[ScanPlanner.planFiles]]. */
  def decoder(table: IcebergTable): ScanPlanner.BulkEntryDecoder = {
    // threshold lookup reads TABLE properties; the executor-side FileIO
    // rebuild must use the EFFECTIVE IO map (table properties merged with
    // catalog-supplied config — REST catalogs hand object-store
    // credentials/endpoints through `config`, and exactly the large
    // catalog-managed tables this path exists for need them)
    val props = table.properties
    val ioProps = table.effectiveIoProps
    (metadata, schema, rowFilter, caseSensitive, manifests) => {
      val sparkOpt = org.apache.spark.sql.SparkSession.getActiveSession
      val threshold = props.get(ThresholdProp).map(v =>
        v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$ThresholdProp must be an integer, got '$v'")))
        .getOrElse(DefaultThreshold)
      if (sparkOpt.isEmpty || manifests.size < math.max(1, threshold)) None
      else {
        runs.incrementAndGet()
        val sc = sparkOpt.get.sparkContext
        // one broadcast of the shared planning context; every task rebuilds
        // its evaluators from it (all case classes — cheaply serializable)
        val bc = sc.broadcast((metadata, schema, rowFilter, caseSensitive,
          ioProps))
        val parts = math.max(1, math.min(manifests.size, sc.defaultParallelism * 2))
        val out = sc.parallelize(manifests, parts).mapPartitions { ms =>
          val (md, sch, filt, cs, p) = bc.value
          val io = IOConfig.fileIO(p)
          ms.flatMap(m =>
            ScanPlanner.decodeDataManifest(io, md, sch, filt, cs, m))
        }.collect().toSeq
        bc.destroy()
        Some(out)
      }
    }
  }
}
