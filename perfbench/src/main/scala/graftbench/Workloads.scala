package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.{Catalog, CommitConflictError, RestCatalog, TestRestCatalogServer}
import graft.core._
import graft.queries.CacheSlot
import graft.spark.{IcebergTable, IcebergTables, TableWriter}

/** One operation's outcome. A failed operation carries no timing. */
final case class OpRecord(name: String, pass: Int, ms: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs operations in a closed loop with a single client: each starts after
  * the previous one's result has been received and checked. */
final class Runner(val tracer: Tracer) {
  val records = mutable.ArrayBuffer[OpRecord]()
  var pass = -1
  /** Called after each operation, before its check (trace bookkeeping). */
  var afterOp: () => Unit = () => ()

  /** Times `action` from the call until its result is in hand, then applies
    * `check` (untimed). A throw or a failed check fails the operation. */
  def op[T](name: String)(action: => T)(check: T => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val res = try Right(tracer.op(name)(action)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    afterOp()
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw $e") }
    }
    err.foreach(e => System.err.println(s"[perfbench] op $name (pass $pass) FAILED: $e"))
    records += OpRecord(name, pass, if (err.isEmpty) ms else Double.NaN, err)
  }
}

object Exec {
  /** Collect the full result (every column, every sort) inside an exec span;
    * when tracing, record Spark's planning-phase time and the row count. */
  def collect(df: DataFrame, tr: Tracer, gauges: Gauges): Array[Row] = {
    val rows = tr.span("exec", "collect")(df.collect())
    if (tr.enabled) {
      gauges.add("exec.plan_ms", df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
      gauges.add("exec.result_rows", rows.length.toDouble)
    }
    rows
  }
}

/** Named samples a workload reports as per-layer metrics (means). */
final class Gauges {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def mean(k: String): Double = m.get(k).filter(_.nonEmpty).map(b => b.sum / b.size).getOrElse(0.0)
  def median(k: String): Double = m.get(k).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
}

trait Workload {
  /** Provision fixtures and warm up; everything before the first timed pass. */
  def setup(): Unit
  /** One timed pass; `rng` fixes the operation order (and, for ingest, the
    * generated rows and keys). */
  def pass(i: Int, rng: Random): Unit
  /** Bytes stored by the engine per byte of input. */
  def storedBytesPerInputByte: Double
  /** Whether passes fill CacheSlots, so that release and resident passes
    * differ. */
  def cached: Boolean
  def close(): Unit = ()
}

/** A set of battery queries (`SparkEntry.queries`), each collected in full
  * and checked against its expected fingerprint. */
final class Battery(spark: SparkSession, dataDir: String, tableRoot: File,
                    names: Seq[String], expected: Map[String, Fingerprint.Value],
                    runner: Runner, gauges: Gauges) extends Workload {
  private val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"no battery query $n"))).toMap

  /** A cold pass that builds the fixtures and fills the caches, then
    * resident, release and resident passes: on a 4-core host pass times
    * fall steeply over about this much work, as the JIT catches up. */
  def setup(): Unit = {
    names.foreach(run)
    names.foreach(run)
    CacheSlot.releaseAll()
    names.foreach(run)
    names.foreach(run)
  }

  def pass(i: Int, rng: Random): Unit = rng.shuffle(names).foreach(run)

  def cached: Boolean = true

  private def run(name: String): Unit = {
    val tr = runner.tracer
    runner.op(name) {
      val df = tr.span("queries", "build")(fns(name)(spark, dataDir))
      Exec.collect(df, tr, gauges)
    } { rows =>
      expected.get(name) match {
        case None => Some("no expected fingerprint")
        case Some(want) =>
          val got = Fingerprint.of(rows)
          if (got == want) None else Some(s"fingerprint $got, expected $want")
      }
    }
  }

  def storedBytesPerInputByte: Double =
    Files.bytesUnder(tableRoot).toDouble / Files.bytesUnder(new File(dataDir))
}

/** Live rows of each ingest table, as the writes so far should have left
  * them. Every lookup is checked against it. */
final class IngestModel {
  private val live = mutable.Map[String, mutable.TreeMap[Long, String]]()
  private val dead = mutable.Map[String, mutable.ArrayBuffer[Long]]()

  def append(t: String, rows: Seq[(Long, String)]): Unit =
    live.getOrElseUpdate(t, mutable.TreeMap()) ++= rows

  def delete(t: String, keys: Seq[Long]): Unit = {
    keys.foreach(k => live.get(t).foreach(_.remove(k)))
    dead.getOrElseUpdate(t, mutable.ArrayBuffer()) ++= keys
  }

  def liveKeys(t: String): IndexedSeq[Long] =
    live.get(t).map(_.keys.toIndexedSeq).getOrElse(IndexedSeq.empty)
  def deletedKeys(t: String): IndexedSeq[Long] =
    dead.get(t).map(_.toIndexedSeq).getOrElse(IndexedSeq.empty)

  /** Rows with lo <= k <= hi. */
  def expected(t: String, lo: Long, hi: Long): Seq[(Long, String)] =
    live.get(t).map(_.range(lo, hi + 1).toSeq).getOrElse(Nil)

  /** None when `got` is exactly the live rows in [lo, hi]; otherwise what
    * differs: missing rows, and rows that should not be there (deleted or
    * never written). */
  def check(t: String, lo: Long, hi: Long, got: Seq[(Long, String)]): Option[String] = {
    val want = expected(t, lo, hi)
    val extra = got.diff(want)
    val missing = want.diff(got)
    if (extra.isEmpty && missing.isEmpty) None
    else {
      val deleted = extra.map(_._1).filter(deletedKeys(t).toSet)
      Some(s"$t [$lo, $hi]: ${missing.size} missing, ${extra.size} unexpected" +
        (if (deleted.nonEmpty) s" (deleted keys returned: ${deleted.take(5).mkString(",")})" else ""))
    }
  }
}

/** Streaming-style ingest: small appends, deletes by key, periodic
  * compaction and manifest rewrites, concurrent REST appends, and point and
  * range lookups. The writes go to fresh tables every pass, so passes stay
  * alike; most lookups read one delete-heavy table built in set-up. */
final class Ingest(spark: SparkSession, root: File, seed: Long, runner: Runner,
                   gauges: Gauges) extends Workload {
  import Ingest._
  private val tr = runner.tracer
  private var server: TestRestCatalogServer = _
  private var cat: RestCatalog = _
  private var inputBytes = 0L
  val commitConflicts = new java.util.concurrent.atomic.AtomicLong()

  private val heavyWh = new File(root, "ingest/heavy")
  private val heavyLoc = new File(heavyWh, "db/heavy").getPath
  private val heavyModel = new IngestModel
  private var heavyMaxKey = 0L
  private var heavyLookups = 0

  def setup(): Unit = {
    server = new TestRestCatalogServer("graft", "graft")
    server.start()
    cat = Catalog.load("bench", server.uri,
      Map(RestCatalog.KeyCredential -> "graft:graft")).asInstanceOf[RestCatalog]
    buildHeavy(new Random(seed))
    // warm-up: two passes, unshuffled, on tables of their own; pass times
    // fall steeply over about this much work, as the JIT catches up
    for (w <- 0 until 2) {
      val s = new PassState(new Random(w))
      s.create()
      Deck.foreach(s.step)
    }
  }

  override def close(): Unit = if (server != null) server.stop()

  def cached: Boolean = false

  def storedBytesPerInputByte: Double =
    Files.bytesUnder(new File(root, "ingest")).toDouble / inputBytes

  def pass(i: Int, rng: Random): Unit = {
    val s = new PassState(rng)
    s.create()
    rng.shuffle(Deck).foreach(s.step)
  }

  /** Rows with increasing keys and random values. */
  private final class Rows(rng: Random) {
    var last = 0L
    def batch(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
      last += 1 + rng.nextInt(3)
      (last, rng.alphanumeric.take(8 + rng.nextInt(24)).mkString)
    }
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    inputBytes += rows.map(r => 8L + r._2.length).sum
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, RowSchema)
  }

  private def load(loc: String): IcebergTable = tr.span("core", "load")(IcebergTables.load(loc))

  /** A write operation: load the table, write, and check that the write
    * committed a new snapshot (`mustCommit`). */
  private def write(name: String, loc: String, mustCommit: Boolean = true)(
      f: IcebergTable => IcebergTable): Unit =
    runner.op(name) {
      val base = load(loc)
      (base, f(base))
    } { case (before, after) =>
      if (!mustCommit || after.currentSnapshot.map(_.snapshotId) !=
          before.currentSnapshot.map(_.snapshotId)) None
      else Some("no new snapshot committed")
    }

  /** The delete-heavy table, built the way a streaming sink fills one:
    * [[HeavyAppends]] commits of one small pre-written data file each (so
    * as many manifests), then [[HeavyDeletes]] equality deletes of random
    * live keys (the commit a SQL `DELETE ... WHERE k IN (...)` makes). Like
    * a parallel writer, a delete commit writes one delete file per shuffle
    * partition its keys hash to, about 21, so every data file ends up
    * under about 84 delete files, past DeleteFileCache's 64 entries.
    * Lookups read it; no pass writes to it. */
  private def buildHeavy(rng: Random): Unit = {
    spark.conf.set(s"spark.sql.catalog.$HeavyCatalog", "graft.spark.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$HeavyCatalog.warehouse", heavyWh.getPath)
    val rows = new Rows(rng)
    val first = rows.batch(HeavyBatchRows)
    val rest = rows.batch((HeavyAppends - 1) * HeavyBatchRows)
    heavyModel.append("heavy", first ++ rest)
    heavyMaxKey = rows.last
    runner.op("heavy_create")(TableWriter.create(frame(first).coalesce(1), heavyLoc))(t =>
      if (t.currentSnapshot.isDefined) None else Some("no snapshot committed"))
    // the micro-batches' files, written in one job through a staging table
    val staged = TableWriter.create(
      frame(rest).repartitionByRange(HeavyAppends - 1, col("k")),
      new File(heavyWh, "staging").getPath)
    staged.newScan().planFiles().map(_.file).sortBy(_.path).foreach { f =>
      val out = graft.spark.CowFileOut(f.path.stripPrefix("file:"), f.recordCount, Map.empty)
      write("heavy_append", heavyLoc)(_ => TableWriter.appendFiles(heavyLoc, Seq(out)))
    }
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> HeavyDeleteFiles.toString)
    val was = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    (1 to HeavyDeletes).foreach { _ =>
      val live = heavyModel.liveKeys("heavy")
      val keys = Seq.fill(HeavyDeleteKeys)(live(rng.nextInt(live.size))).distinct
      val keyFrame = spark.createDataFrame(keys.map(k => Row(k)).asJava, KeySchema)
      write("heavy_delete", heavyLoc)(b => TableWriter.deleteEquality(b, keyFrame, Seq("k")))
      heavyModel.delete("heavy", keys)
    }
    was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** A point lookup (a live or a deleted key) or a range lookup of `t`,
    * through `toDF` on a planned scan of `table`, or through SQL on
    * `sqlTable`, checked against `model`. */
  private def lookup(t: String, model: IngestModel, maxKey: Long, rng: Random,
                     point: Boolean, sqlTable: Option[String], shape: Boolean)(
      table: => IcebergTable): Unit = {
    val (lo, hi) =
      if (!point) {
        val r = rng.nextLong(math.max(1L, maxKey)); (r, r + RangeWidth)
      } else {
        val dead = model.deletedKeys(t)
        val keys = if (dead.nonEmpty && rng.nextBoolean()) dead else model.liveKeys(t)
        val k = keys(rng.nextInt(keys.size)); (k, k)
      }
    runner.op(s"lookup_${if (sqlTable.isDefined) "sql" else "scan"}_$t") {
      val df = sqlTable match {
        case Some(q) => tr.span("spark", "sql")(spark.sql(
          s"SELECT k, v FROM $q WHERE k BETWEEN $lo AND $hi"))
        case None =>
          val tbl = table
          val scan = tbl.newScan(And(Expr.greaterThanOrEq("k", LongLit(lo)),
            Expr.lessThanOrEq("k", LongLit(hi))))
          val tasks = tr.span("core", "plan")(scan.planFiles())
          if (shape && tr.enabled) scanShape(tbl, tasks)
          tr.span("spark", "todf")(scan.toDF(spark)).select("k", "v")
      }
      Exec.collect(df, tr, gauges)
    } { rows => model.check(t, lo, hi, rows.map(r => (r.getLong(0), r.getString(1))).toSeq) }
  }

  /** Lookups of the delete-heavy table alternate `toDF` and SQL, and point
    * and range: any four in a row are one of each kind. Every data file
    * carries the same delete files, so the kinds cost about the same. */
  private def lookupHeavy(rng: Random): Unit = {
    heavyLookups += 1
    val sql = heavyLookups % 2 == 0
    lookup("heavy", heavyModel, heavyMaxKey, rng, point = (heavyLookups / 2) % 2 == 0,
      sqlTable = if (sql) Some(s"$HeavyCatalog.db.heavy") else None, shape = true)(load(heavyLoc))
  }

  /** The delete-heavy table's shape as a scan sees it. */
  private def scanShape(table: IcebergTable, tasks: Seq[FileScanTask]): Unit = {
    val manifests = table.currentSnapshot.toSeq.flatMap(s =>
      ManifestIO.readManifestList(table.io.open(s.manifestList)))
    val dataFiles = manifests.filter(_.content == 0)
      .map(m => m.addedFilesCount + m.existingFilesCount).sum
    gauges.add("core.manifests_live", manifests.size.toDouble)
    if (dataFiles > 0) gauges.add("core.files_kept_ratio", tasks.size.toDouble / dataFiles)
    if (tasks.nonEmpty)
      gauges.add("core.delete_files_per_task", tasks.map(_.deleteFiles.size).sum.toDouble / tasks.size)
  }

  private var passes = 0

  /** One pass's fresh tables: V2 (positional deletes), V3 (deletion
    * vectors) and a table on the REST server, with their model. */
  private final class PassState(rng: Random) {
    passes += 1
    val dir = new File(root, s"ingest/p$passes")
    val wh = new File(dir, "wh")
    val locs = Map("v2" -> new File(wh, "db/v2").getPath, "v3" -> new File(wh, "db/v3").getPath)
    val catName = s"ingest_p$passes"
    val restId = Seq(s"p$passes", "t")
    val model = new IngestModel
    val rows = new Rows(rng)
    var lookups = 0
    var steps = 0

    def create(): Unit = {
      spark.conf.set(s"spark.sql.catalog.$catName", "graft.spark.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh.getPath)
      val b2 = rows.batch(BatchRows); val b3 = rows.batch(BatchRows); val br = rows.batch(BatchRows)
      val (f2, f3, fr) = (frame(b2), frame(b3), frame(br))
      runner.op("create") {
        tr.span("spark", "create")(TableWriter.create(f2, locs("v2")))
        val t3 = tr.span("spark", "create")(TableWriter.create(f3, locs("v3")))
        tr.span("spark", "upgrade")(TableWriter.upgradeFormatVersion(t3, spark, 3))
        tr.span("catalog", "create") {
          cat.createNamespace(restId.init)
          cat.createTable(restId, RestSchema, location = Some(new File(dir, "rest").getPath))
        }
        tr.span("catalog", "append")(TableWriter.appendRest(cat, restId, fr))
      } { _ => None }
      model.append("v2", b2); model.append("v3", b3); model.append("rest", br)
    }

    def step(kind: String): Unit = {
      steps += 1
      val t = if (steps % 2 == 0) "v2" else "v3"
      kind match {
        case "append" =>
          val b = rows.batch(BatchRows)
          val df = frame(b)
          write(s"append_$t", locs(t))(b => tr.span("spark", "append")(TableWriter.append(b, df)))
          model.append(t, b)
        case "delete_pos" | "delete_dv" =>
          val tbl = if (kind == "delete_pos") "v2" else "v3"
          val live = model.liveKeys(tbl)
          val keys = Seq.fill(DeleteKeys)(live(rng.nextInt(live.size))).distinct
          write(kind, locs(tbl))(b => tr.span("spark", kind)(
            TableWriter.deleteWhere(b, spark, col("k").isin(keys: _*))))
          model.delete(tbl, keys)
        case "compact" =>
          write(s"compact_$t", locs(t))(b => tr.span("spark", "compact")(TableWriter.compact(b, spark)))
        case "rewrite_manifests" =>
          // folds the appends' one-manifest-each into one; with a single
          // data manifest there is nothing to commit
          write(s"rewrite_manifests_$t", locs(t), mustCommit = false)(b =>
            tr.span("spark", "rewrite_manifests")(TableWriter.rewriteManifests(b)))
        case "rest_append_pair" => restPair()
        case "lookup" => lookupFresh()
        case "lookup_heavy" => lookupHeavy(rng)
      }
    }

    /** Two threads append to the REST table at once; a commit that loses
      * the race (409) reloads and retries. */
    def restPair(): Unit = {
      val batches = Seq(rows.batch(BatchRows), rows.batch(BatchRows))
      val frames = batches.map(frame)
      runner.op("rest_append_pair") {
        tr.span("catalog", "append_pair") {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          try {
            frames.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = appendWithRetry(f)
            })).foreach(_.get())
          } finally pool.shutdown()
        }
      } { _ => None }
      batches.foreach(model.append("rest", _))
    }

    private def appendWithRetry(f: DataFrame): Unit = {
      var attempt = 1
      var done = false
      while (!done) {
        try { TableWriter.appendRest(cat, restId, f); done = true }
        catch {
          case _: CommitConflictError if attempt < MaxCommitAttempts =>
            commitConflicts.incrementAndGet(); attempt += 1
        }
      }
    }

    /** Reads back what this pass wrote: the fresh tables in turn, V2 and
      * V3 alternately through `toDF` and SQL, the REST table through
      * `toDF`. */
    def lookupFresh(): Unit = {
      lookups += 1
      val t = Seq("v2", "v3", "rest")(lookups % 3)
      val sql = t != "rest" && (lookups / 3) % 2 == 1
      lookup(t, model, rows.last, rng, point = lookups % 2 == 1,
        sqlTable = if (sql) Some(s"$catName.db.$t") else None, shape = false) {
        if (t == "rest") TableWriter.restTableOf(
          tr.span("catalog", "load")(cat.loadTable(restId)), cat)
        else load(locs(t))
      }
    }
  }
}

object Ingest {
  val BatchRows = 200
  val DeleteKeys = 12
  val RangeWidth = 40L
  val MaxCommitAttempts = 8
  val HeavyCatalog = "ingest_heavy"
  val HeavyAppends = 200
  val HeavyBatchRows = 50
  val HeavyDeletes = 4
  val HeavyDeleteKeys = 48
  val HeavyDeleteFiles = 24
  /** One pass's operations, shuffled by the seed. */
  val Deck: Seq[String] =
    Seq("append", "append", "delete_pos", "delete_dv", "compact", "rewrite_manifests",
      "rest_append_pair") ++ Seq.fill(3)("lookup") ++ Seq.fill(2)("lookup_heavy")
  val RowSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
  val KeySchema = StructType(Seq(StructField("k", LongType, nullable = false)))
  val RestSchema = Schema(0, StructT(Seq(NestedField(1, "k", LongT), NestedField(2, "v", StringT))))
}

object Files {
  def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty

  def bytesUnder(f: File): Long = walk(f).map(_.length).sum

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
