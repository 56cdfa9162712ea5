package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, to_date}

import graft.core._
import graft.spark.{IcebergTable, IcebergTables, TableWriter}
import graft.tables.Tables
import QueryUtils._

/** Oracle-checked queries that execute THROUGH the Iceberg engine: source
  * parquet → committed Iceberg table (once per sfDir, cached on disk) →
  * core scan planner (stats pruning / partition pruning / time travel / MoR)
  * → Spark execution. The DuckDB oracle runs the equivalent query on the raw
  * parquet, so a hash match proves the whole metadata plane preserves the
  * data exactly. */
object IcebergOps {

  private[queries] def cacheRoot = sys.props.getOrElse("graft.table.cache",
    sys.env.getOrElse("GRAFT_TABLE_CACHE", "/tmp/graft_tables"))

  /** Cross-process-safe once-only provisioning of a fixture directory:
    * callers race on a file lock NEXT TO `root` (never inside — the build
    * may wipe root); the winner runs `build` and writes a completion
    * marker, losers — same JVM or another process — block on the lock and
    * then see the marker. A crash mid-build leaves no marker, so the next
    * caller wipes the partial state and rebuilds instead of loading a
    * half-written fixture. Intra-JVM serialization rides the object
    * monitor (a FileLock is held per-JVM; a second thread locking the
    * same file would throw OverlappingFileLockException). */
  private[queries] def provisionOnce(root: File)(build: => Unit): Unit =
    synchronized {
      val done = new File(root, ".graft-complete")
      if (done.isFile) return
      root.getParentFile.mkdirs()
      val lockPath =
        new File(root.getParentFile, s".${root.getName}.lock").toPath
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!done.isFile) {
            if (root.exists()) deleteRec(root)
            build
            done.createNewFile()
          }
        } finally lock.release()
      } finally ch.close()
    }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Create-or-load a cached Iceberg table derived from a test table. */
  private[queries] def cached(name: String, sfDir: String)(create: String => IcebergTable): IcebergTable = {
    val loc = s"$cacheRoot/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}/$name"
    provisionOnce(new File(loc)) { create(loc); () }
    IcebergTables.load(loc)
  }

  /** Scan + filter + project through the metrics-pruned Iceberg scan. */
  def ice01ScanFilter(s: SparkSession, d: String): DataFrame = {
    val table = cached("lineitem", d) { loc =>
      TableWriter.create(
        Tables.lineitem(s, d).repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), loc)
    }
    table.newScan(
        And(Expr.greaterThan("l_quantity", DoubleLit(45)),
          Expr.greaterThanOrEq("l_orderkey", LongLit(100))),
        selected = Seq("l_orderkey", "l_linenumber", "l_quantity"))
      .toDF(s)
      .orderBy("l_orderkey", "l_linenumber")
  }

  val ice01Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_quantity > 45 AND l_orderkey >= 100
       ORDER BY l_orderkey, l_linenumber"""

  /** Identity-partitioned table: partition pruning + aggregation. */
  def ice02PartitionAgg(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_by_status", d) { loc =>
      TableWriter.create(Tables.orders(s, d), loc,
        partitionBy = Seq("o_orderstatus" -> IdentityTransform))
    }
    table.newScan(Expr.in("o_orderstatus", Seq(StrLit("F"), StrLit("O"))))
      .toDF(s)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val ice02Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ${sqlDsum("o_totalprice")} AS sum_price
       FROM orders WHERE o_orderstatus IN ('F', 'O')
       GROUP BY o_orderstatus, o_orderpriority
       ORDER BY o_orderstatus, o_orderpriority"""

  /** Snapshot isolation: two commits, query pinned to the first snapshot. */
  def ice03TimeTravel(s: SparkSession, d: String): DataFrame = {
    val table = cached("customer_2snap", d) { loc =>
      val src = Tables.customer(s, d)
      val t1 = TableWriter.create(src.filter(col("c_nationkey") < 10), loc)
      TableWriter.append(t1, src.filter(col("c_nationkey") >= 10))
    }
    val firstSnap = table.metadata.snapshots.head.snapshotId
    table.newScan(snapshotId = Some(firstSnap))
      .toDF(s)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  val ice03Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n FROM customer
       WHERE c_nationkey < 10 GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Merge-on-read: positional deletes applied at read time. */
  def ice04MorDelete(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_mor", d) { loc =>
      val t1 = TableWriter.create(Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value"), loc)
      TableWriter.deleteWhere(t1, s, col("event_type") === "error")
    }
    table.newScan()
      .toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val ice04Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
       FROM events WHERE event_type <> 'error'
       GROUP BY event_type ORDER BY event_type"""

  /** V3 deletion vectors: ice04's merge-on-read delete expressed as Puffin
    * roaring-bitmap DVs (format-version 3) instead of positional-delete
    * parquet — the oracle proves the bitmap path drops exactly the
    * predicate's rows. The fixture's second commit moves the table to V3. */
  def ice17DeletionVectors(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_dv", d) { loc =>
      val t1 = TableWriter.create(Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value"), loc)
      TableWriter.deleteWhereDv(t1, s,
        col("event_type") === "error" || col("value") > 90)
    }
    table.newScan()
      .toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val ice17Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
       FROM events WHERE NOT (event_type = 'error' OR value > 90)
       GROUP BY event_type ORDER BY event_type"""

  /** V3 column defaults end-to-end: a column added with `initial-default`
    * + `write-default` after files exist. Commit 1's files predate the
    * column entirely (they read the initial default), commit 2 omits the
    * column at write time (the write default fills it), commit 3 writes
    * explicit values (defaults must not clobber data). The oracle
    * reconstructs all three populations from the raw parquet. */
  def ice19ColumnDefaults(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.concat
    val table = cached("events_defaults", d) { loc =>
      var t = TableWriter.create(Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value"), loc)
      t = TableWriter.upgradeFormatVersion(t, s, 3)
      t = TableWriter.addColumn(t, "channel", StringT,
        initialDefault = Some(StrLit("organic")),
        writeDefault = Some(StrLit("direct")))
      t = TableWriter.append(t, Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_type", "value"))
      TableWriter.append(t, Tables.events(s, d)
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          concat(lit("src_"), (col("user_id") % 3).cast("string")).as("channel")))
    }
    table.newScan().toDF(s)
      .groupBy("channel", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("channel", "event_type")
  }

  val ice19Sql: String =
    s"""SELECT channel, event_type, COUNT(*) AS n,
       ${sqlDsum("value")} AS sum_value FROM (
         SELECT 'organic' AS channel, event_type, value FROM events
         UNION ALL
         SELECT 'direct', event_type, value FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT 'src_' || CAST(user_id % 3 AS VARCHAR), event_type, value
         FROM events WHERE event_type = 'view'
       ) GROUP BY channel, event_type ORDER BY channel, event_type"""

  /** V3 row lineage end-to-end: two single-file sorted appends on a V3
    * table, read back through the `_row_id` / `_last_updated_sequence_number`
    * metadata columns. The oracle reconstructs the spec's assignment rule
    * (ids dense from 0 in commit order, file order = sort order) with
    * window functions over the raw parquet — a hash match proves commit
    * assignment, manifest stamping, and the reader's base+position
    * derivation all agree. */
  def ice20RowLineage(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_lineage", d) { loc =>
      val src = Tables.events(s, d).select("event_id", "event_type", "value")
      var t = TableWriter.create(src.limit(0), loc)
      t = TableWriter.upgradeFormatVersion(t, s, 3)
      t = TableWriter.append(t, src.filter(col("event_type") === "click")
        .coalesce(1).sortWithinPartitions("event_id"))
      TableWriter.append(t, src.filter(col("event_type") === "view")
        .coalesce(1).sortWithinPartitions("event_id"))
    }
    s.read.format("icegopher").load(table.location)
      .select(col("event_id"), col("_row_id").as("row_id"),
        col("_last_updated_sequence_number").as("last_seq"))
      .orderBy("event_id")
  }

  val ice20Sql: String =
    """SELECT event_id, row_id, last_seq FROM (
         SELECT event_id,
                ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS row_id,
                CAST(2 AS BIGINT) AS last_seq
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_id,
                (SELECT COUNT(*) FROM events WHERE event_type = 'click')
                  + ROW_NUMBER() OVER (ORDER BY event_id) - 1,
                CAST(3 AS BIGINT)
         FROM events WHERE event_type = 'view'
       ) ORDER BY event_id"""

  /** Distributed scan planning: the table property forces the per-manifest
    * entry decode to run as a Spark job (the 10⁴-manifest scale path);
    * the oracle proves the distributed decode prunes and returns exactly
    * the driver path's rows. Fixture = 7 single-linenumber appends, so the
    * plan spans 7 manifests with real pruning work in each. */
  def ice21DistributedPlan(s: SparkSession, d: String): DataFrame = {
    val table = cached("lineitem_distplan", d) { loc =>
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      var t = TableWriter.create(src.filter(col("l_linenumber") === 1), loc)
      (2 to 7).foreach { i =>
        t = TableWriter.append(t, src.filter(col("l_linenumber") === i))
      }
      TableWriter.updateProperties(t,
        Map(graft.spark.DistributedPlanner.ThresholdProp -> "1"))
    }
    table.newScan(Expr.greaterThan("l_quantity", DoubleLit(30)))
      .toDF(s)
      .groupBy("l_linenumber")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_linenumber")
  }

  val ice21Sql: String =
    s"""SELECT l_linenumber, COUNT(*) AS n,
       ${sqlDsum("l_extendedprice")} AS sum_price
       FROM lineitem WHERE l_quantity > 30
       GROUP BY l_linenumber ORDER BY l_linenumber"""

  /** Day-transform partitioned events: temporal partition pruning. */
  def ice05DayPartition(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_daily", d) { loc =>
      TableWriter.create(Tables.events(s, d).select("event_id", "ts", "value"), loc,
        partitionBy = Seq("ts" -> DayTransform))
    }
    table.newScan(And(
        Expr.greaterThanOrEq("ts", StrLit("2024-01-10T00:00:00").to(TimestampT)),
        Expr.lessThan("ts", StrLit("2024-01-15T00:00:00").to(TimestampT))))
      .toDF(s)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
  }

  val ice05Sql: String =
    """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
       GROUP BY CAST(ts AS DATE) ORDER BY day"""

  /** SQL-identifier access through the session catalog plugin: the whole
    * path is Spark SQL text → GraftCatalog → Iceberg metadata → pruned scan. */
  def ice06SqlCatalog(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse"
    s.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    synchronized {
      if (!new File(s"$wh/db/part/metadata").exists())
        TableWriter.create(Tables.part(s, d), s"$wh/db/part")
    }
    s.sql(
      """SELECT p_brand, COUNT(*) AS n, MIN(p_retailprice) AS min_price,
         MAX(p_retailprice) AS max_price
         FROM graft.db.part WHERE p_size >= 10
         GROUP BY p_brand ORDER BY p_brand""")
  }

  val ice06Sql: String =
    """SELECT p_brand, COUNT(*) AS n, MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price
       FROM part WHERE p_size >= 10
       GROUP BY p_brand ORDER BY p_brand"""

  /** DSv2 `format("icegopher")` read path: pushdown-driven pruning + the
    * row reader (incl. its projection and type decode) against the oracle. */
  def ice07Dsv2Format(s: SparkSession, d: String): DataFrame = {
    val table = cached("supplier_dsv2", d) { loc =>
      TableWriter.create(Tables.supplier(s, d), loc)
    }
    s.read.format("icegopher").load(table.location)
      .filter(col("s_nationkey") < 15)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("sum_bal"))
      .orderBy("s_nationkey")
  }

  val ice07Sql: String =
    s"""SELECT s_nationkey, COUNT(*) AS n, ${sqlDsum("s_acctbal")} AS sum_bal
       FROM supplier WHERE s_nationkey < 15
       GROUP BY s_nationkey ORDER BY s_nationkey"""

  /** SQL time travel: `VERSION AS OF` through the session catalog — the
    * catalog's `loadTable(ident, version)` hook pins the snapshot AND
    * resolves that snapshot's schema (mirrors ice03, which pins via the
    * library API). */
  def ice08SqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse"
    s.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val table = synchronized {
      val loc = s"$wh/db/customer_tt"
      if (new File(s"$loc/metadata").exists()) IcebergTables.load(loc)
      else {
        val src = Tables.customer(s, d)
        val t1 = TableWriter.create(src.filter(col("c_nationkey") < 10), loc)
        TableWriter.append(t1, src.filter(col("c_nationkey") >= 10))
      }
    }
    val firstSnap = table.metadata.snapshots.head.snapshotId
    s.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS n
          FROM graft.db.customer_tt VERSION AS OF $firstSnap
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  val ice08Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n FROM customer
       WHERE c_nationkey < 10 GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Metadata-only aggregate pushdown, checked against the data: Spark
    * answers COUNT/MIN/MAX from manifest stats (zero data I/O —
    * `GraftScanBuilder.pushAggregation`); DuckDB computes the same from the
    * raw rows. A hash match proves the writer's footer-derived stats are
    * EXACT, not just inclusive. */
  def ice09AggPushdown(s: SparkSession, d: String): DataFrame = {
    val table = cached("part_agg", d) { loc =>
      TableWriter.create(Tables.part(s, d).repartition(4), loc)
    }
    s.read.format("icegopher").load(table.location)
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.min("p_size").as("min_size"),
        org.apache.spark.sql.functions.max("p_size").as("max_size"),
        org.apache.spark.sql.functions.min("p_retailprice").as("min_price"),
        org.apache.spark.sql.functions.max("p_retailprice").as("max_price"))
  }

  val ice09Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
       MIN(p_size) AS min_size, MAX(p_size) AS max_size,
       MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price
       FROM part"""

  /** Storage-partitioned join: both sides bucket(8) on the join key through
    * the catalog, `spark.sql.sources.v2.bucketing.enabled` on — the join
    * executes with NO exchange on either side (asserted in
    * VectorizedReadSpec; here the oracle proves the shuffle-free plan is
    * also value-exact). */
  def ice10StoragePartitionedJoin(spark: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse"
    // dedicated child session: the SPJ conf is consulted at EXECUTION time,
    // so it cannot be restored before returning the lazy frame — isolating
    // it (and the catalog registration) in a newSession keeps the shared
    // battery session's plans unaffected
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    synchronized {
      if (!new File(s"$wh/db/cust_b/metadata").exists())
        TableWriter.create(Tables.customer(s, d), s"$wh/db/cust_b",
          partitionBy = Seq("c_custkey" -> BucketTransform(8)))
      if (!new File(s"$wh/db/orders_b/metadata").exists())
        TableWriter.create(Tables.orders(s, d), s"$wh/db/orders_b",
          partitionBy = Seq("o_custkey" -> BucketTransform(8)))
    }
    s.sql(
      s"""SELECT c.c_mktsegment, COUNT(*) AS n, ${sqlDsum("o.o_totalprice")} AS sum_price
          FROM graft.db.cust_b c JOIN graft.db.orders_b o
            ON c.c_custkey = o.o_custkey
          WHERE o.o_orderstatus = 'F'
          GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
  }

  val ice10Sql: String =
    s"""SELECT c.c_mktsegment, COUNT(*) AS n, ${sqlDsum("o.o_totalprice")} AS sum_price
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       WHERE o.o_orderstatus = 'F'
       GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""

  /** Z-ordered + bloom-filtered point read: lineitem rewritten on the
    * (l_orderkey, l_partkey) Morton curve with a bloom filter on
    * l_partkey, then a two-column point-range probe runs through BOTH
    * pruning levels — per-file bounds tight in both curve columns prune
    * files, and inside survivors the pushed predicate's chunk-stats/
    * bloom checks skip row groups. The oracle proves the clustered
    * rewrite preserved the data bit-exactly. */
  def ice11ZorderPointread(s: SparkSession, d: String): DataFrame = {
    val table = cached("lineitem_z", d) { loc =>
      val t = TableWriter.create(Tables.lineitem(s, d)
          .repartition(8), loc,
        properties = Map(
          "write.parquet.bloom-filter-enabled.column.l_partkey" -> "true"))
      TableWriter.compact(t, s, targetFiles = 8,
        zOrderBy = Seq("l_orderkey", "l_partkey"))
    }
    val scan = table.newScan(
      And(
        And(Expr.greaterThanOrEq("l_orderkey", LongLit(1000L)),
          Expr.lessThan("l_orderkey", LongLit(3000L))),
        Expr.lessThan("l_partkey", LongLit(500L))),
      selected = Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"))
    scan.toDF(s).orderBy("l_orderkey", "l_linenumber")
  }

  val ice11Sql: String =
    """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_orderkey >= 1000 AND l_orderkey < 3000 AND l_partkey < 500
       ORDER BY l_orderkey, l_linenumber"""

  /** Keyed MERGE (upsert) end-to-end: a base table (keys ≡ 0 mod 3) merged
    * with a change set (keys ≡ 0 mod 2) — overlapping keys are equality-
    * tombstoned and replaced (matched-UPDATE), new keys are appended
    * (not-matched-INSERT). The read runs through the MoR scan, so the hash
    * match proves equality-delete application + append visibility produce
    * exactly SQL MERGE semantics on the raw data. */
  def ice12MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_upsert", d) { loc =>
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val base = TableWriter.create(
        src.filter(col("o_orderkey") % 3 === 0), loc)
      val changes = src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      TableWriter.upsert(base, changes, Seq("o_orderkey"))
    }
    table.newScan().toDF(s)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val ice12Sql: String =
    s"""WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 0),
       chg AS (
         SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0),
       merged AS (
         SELECT * FROM chg
         UNION ALL
         SELECT * FROM base WHERE o_orderkey % 2 <> 0)
       SELECT o_orderstatus, COUNT(*) AS n,
              ${sqlDsum("o_totalprice")} AS sum_price
       FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Row-level CDC through the changelog: create + MoR DELETE commits, then
    * the per-commit changelog rolled up by change type — inserts are the
    * initial rows, deletes are exactly the tombstoned rows. Proves commit
    * provenance (added files at each snapshot, positional tombstones read
    * against the parent) reconstructs the row-level history. */
  def ice13Changelog(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_cdc", d) { loc =>
      val t1 = TableWriter.create(Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value"), loc)
      TableWriter.deleteWhere(t1, s, col("event_type") === "error")
    }
    graft.streaming.Changelog.changelogDF(s, table, None)
      .groupBy("_change_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("_change_type", "event_type")
  }

  val ice13Sql: String =
    """SELECT * FROM (
         SELECT 'insert' AS _change_type, event_type, COUNT(*) AS n
         FROM events GROUP BY event_type
         UNION ALL
         SELECT 'delete' AS _change_type, event_type, COUNT(*) AS n
         FROM events WHERE event_type = 'error' GROUP BY event_type)
       ORDER BY _change_type, event_type"""

  /** One extensions-enabled session per warehouse: `SparkSessionExtensions`
    * apply only at session BUILD, so the view battery entry derives a
    * session (sharing the SparkContext) instead of mutating the caller's.
    * The active/default session is restored immediately — the derived one
    * is reachable only through this holder. */
  private object ViewSession {
    private val sessions = scala.collection.mutable.Map[String, SparkSession]()
    def get(base: SparkSession, wh: String): SparkSession = synchronized {
      sessions.getOrElseUpdate(wh, {
        val active = SparkSession.getActiveSession
        val default = SparkSession.getDefaultSession
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val s = SparkSession.builder()
          .withExtensions(new graft.spark.GraftSparkExtensions())
          .config("spark.sql.catalog.graftv", "graft.spark.GraftCatalog")
          .config("spark.sql.catalog.graftv.warehouse", wh)
          .config("spark.sql.shuffle.partitions",
            base.conf.get("spark.sql.shuffle.partitions"))
          // inherit the caller's timestamp semantics: the derived session
          // must bucket events.ts identically on a non-UTC host
          .config("spark.sql.session.timeZone",
            base.conf.get("spark.sql.session.timeZone"))
          .getOrCreate()
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
        s
      })
    }
  }

  /** Persistent SQL views end-to-end against the oracle: a stored view over
    * the nation table and a second stored view that AGGREGATES THROUGH the
    * first joined to region — so view DDL, nested-view resolution (the
    * recursive substitution with cycle detection), default-namespace
    * scoping, and the Iceberg read path under it all sit on the hash-exact
    * path. The oracle is the equivalent plain SQL on the raw parquet. */
  def ice14SqlView(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_views"
    val vs = ViewSession.get(s, wh)
    provisionOnce(new File(wh)) {
      vs.sql("CREATE NAMESPACE IF NOT EXISTS graftv.vdb")
      TableWriter.create(Tables.nation(vs, d), s"$wh/vdb/nation")
      TableWriter.create(Tables.region(vs, d), s"$wh/vdb/region")
      vs.sql("""CREATE OR REPLACE VIEW graftv.vdb.nations_named AS
        SELECT n_nationkey, n_name, n_regionkey FROM graftv.vdb.nation""")
      vs.sql("""CREATE OR REPLACE VIEW graftv.vdb.region_counts AS
        SELECT r.r_name, COUNT(*) AS n_nations, MIN(v.n_name) AS first_nation
        FROM graftv.vdb.nations_named v
        JOIN graftv.vdb.region r ON v.n_regionkey = r.r_regionkey
        GROUP BY r.r_name""")
    }
    vs.sql("""SELECT r_name, n_nations, first_nation
              FROM graftv.vdb.region_counts ORDER BY r_name""")
  }

  val ice14Sql: String =
    """SELECT r.r_name, COUNT(*) AS n_nations, MIN(n.n_name) AS first_nation
       FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name ORDER BY r_name"""

  /** Partition-spec evolution end to end: half the orders land under spec 0
    * (identity on o_orderstatus), the spec then evolves — ADD PARTITION
    * FIELD month(o_orderdate), metadata-only, no rewrite — and the other
    * half lands under spec 1. The query filters on BOTH columns, so
    * old-spec manifests prune by status only (their evaluator can't see
    * the month field) while new-spec manifests prune by status AND month;
    * the hash match against the raw parquet proves no row is lost or
    * duplicated across the spec boundary. At 100 TB this is THE mechanism
    * for fixing a bad partition layout without a table rewrite. (month,
    * not day: at sf0.1 a day grain yields ~2400 tuples × 3 statuses of
    * KB-sized files — a small-files anti-pattern that only measures file-
    * open latency; the evolution semantics are grain-independent.) */
  def ice15PartitionEvolution(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_spec_evolved_m", d) { loc =>
      val src = Tables.orders(s, d)
      val t0 = TableWriter.create(src.filter(col("o_orderkey") % 2 === 0), loc,
        partitionBy = Seq("o_orderstatus" -> IdentityTransform))
      val t1 = TableWriter.addPartitionField(t0, "o_orderdate", MonthTransform)
      TableWriter.append(t1, src.filter(col("o_orderkey") % 2 === 1))
    }
    table.newScan(And(
        Expr.equalTo("o_orderstatus", StrLit("F")),
        Expr.lessThan("o_orderdate", StrLit("1998-01-01T00:00:00").to(TimestampT))))
      .toDF(s)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("day")
  }

  val ice15Sql: String =
    s"""SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n,
       ${sqlDsum("o_totalprice")} AS total
       FROM orders
       WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY CAST(o_orderdate AS DATE) ORDER BY day"""

  /** Merge-on-read SQL DML end to end: the same keyed MERGE as ice12 but
    * through SQL `MERGE INTO` with `write.merge.mode = merge-on-read`
    * (positional tombstones + appended rows, ZERO data-file rewrites —
    * MorDmlSpec asserts the commit shape; here the ORACLE proves the
    * result), followed by a non-pushable SQL DELETE that rides the same
    * delta path. The read runs through the MoR scan, so the hash match
    * proves tombstone application over a multi-commit DML history is
    * exactly SQL semantics. At 100 TB this is the write path for
    * update-heavy tables: a point MERGE commits O(changed rows), not
    * O(touched 512 MB files). */
  def ice16MorDml(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_mor"
    s.conf.set("spark.sql.catalog.graftm", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftm.warehouse", wh)
    provisionOnce(new File(wh)) {
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      TableWriter.create(src.filter(col("o_orderkey") % 3 === 0),
        s"$wh/mdb/orders_mor",
        properties = Map(
          "write.merge.mode" -> "merge-on-read",
          "write.update.mode" -> "merge-on-read",
          "write.delete.mode" -> "merge-on-read"))
      src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .createOrReplaceTempView("ice16_changes")
      s.sql(
        """MERGE INTO graftm.mdb.orders_mor t
           USING ice16_changes c ON t.o_orderkey = c.o_orderkey
           WHEN MATCHED THEN UPDATE SET
             t.o_orderstatus = c.o_orderstatus, t.o_totalprice = c.o_totalprice
           WHEN NOT MATCHED THEN INSERT *""")
      // non-pushable predicate → the delta DELETE path (tombstones only)
      s.sql("DELETE FROM graftm.mdb.orders_mor WHERE o_orderkey % 10 = 6")
    }
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         ${sqlDsum("o_totalprice")} AS sum_price
         FROM graftm.mdb.orders_mor
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** ice16 on FORMAT-VERSION 3: the same SQL MERGE + non-pushable DELETE,
    * but the table is V3, so the delta commits land their tombstones as
    * Puffin DELETION VECTORS (MorRowLevelOps routes V3 → commitDeltaDv;
    * the fixture asserts a DV is really in the manifests), and the final
    * `CALL compact` exercises the LINEAGE-PRESERVING rewrite (materialized
    * `_row_id` columns) with the result still hash-matched against the
    * oracle. One entry drives: V3 upgrade DDL → MoR DV write → DV-aware
    * scan → id-preserving compaction → clean read. */
  def ice22MorDmlV3(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_morv3"
    s.conf.set("spark.sql.catalog.graftv", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftv.warehouse", wh)
    provisionOnce(new File(wh)) {
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      TableWriter.create(src.filter(col("o_orderkey") % 3 === 0),
        s"$wh/vdb/orders_v3",
        properties = Map(
          "write.merge.mode" -> "merge-on-read",
          "write.update.mode" -> "merge-on-read",
          "write.delete.mode" -> "merge-on-read"))
      s.sql("ALTER TABLE graftv.vdb.orders_v3 SET TBLPROPERTIES ('format-version'='3')")
      src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .createOrReplaceTempView("ice22_changes")
      s.sql(
        """MERGE INTO graftv.vdb.orders_v3 t
           USING ice22_changes c ON t.o_orderkey = c.o_orderkey
           WHEN MATCHED THEN UPDATE SET
             t.o_orderstatus = c.o_orderstatus, t.o_totalprice = c.o_totalprice
           WHEN NOT MATCHED THEN INSERT *""")
      s.sql("DELETE FROM graftv.vdb.orders_v3 WHERE o_orderkey % 10 = 6")
      // loud guard: the V3 DML really produced deletion vectors
      val t = IcebergTables.load(s"$wh/vdb/orders_v3")
      require(t.metadata.formatVersion == 3, "ice22: table must be V3")
      require(t.newScan().planFiles()
        .exists(_.deleteFiles.exists(_.isDeletionVector)),
        "ice22: expected Puffin deletion vectors in the scan")
      s.sql("CALL graftv.system.compact('vdb.orders_v3', 4)")
    }
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         ${sqlDsum("o_totalprice")} AS sum_price
         FROM graftv.vdb.orders_v3
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  // def: ice16Sql is initialized later in this object (same oracle — the
  // DML semantics are identical; only the delete/rewrite encoding differs)
  def ice22Sql: String = ice16Sql

  /** Partition statistics through the ORACLE: `compute_partition_stats`
    * writes the spec's per-partition rollup parquet and registers it; the
    * entry reads the REGISTERED FILE back and the oracle recomputes the
    * same rollup relationally from the raw source — a hash match proves
    * the manifest-walk aggregation, the spec-schema file, and the
    * registration agree with ground truth. */
  def ice23PartitionStats(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_pstats", d) { loc =>
      val t = TableWriter.create(
        Tables.events(s, d).select("event_id", "event_type", "value"), loc,
        partitionBy = Seq("event_type" -> graft.core.IdentityTransform))
      TableWriter.computePartitionStats(t, s)._1
    }
    val reg = table.metadata.partitionStatisticsFiles
      .find(_.snapshotId == table.currentSnapshot.get.snapshotId)
      .getOrElse(throw new IllegalStateException(
        "ice23: partition statistics not registered"))
    s.read.parquet(reg.path)
      .selectExpr("partition.event_type AS event_type",
        "data_record_count", "total_record_count")
      .orderBy("event_type")
  }

  val ice23Sql: String =
    """SELECT event_type, COUNT(*) AS data_record_count,
              COUNT(*) AS total_record_count
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** V3 `variant` through the ORACLE: documents are re-encoded as variant
    * payloads (Spark's binary metadata+value pair), written through the SQL
    * catalog into a V3 table, and read back through the DSv2 scan with
    * `variant_get` path extraction — the oracle recomputes the same rollup
    * from the RAW source columns, so a hash match proves the variant
    * encode → parquet write → scan → path-extract round trip is lossless.
    * At 100 TB variant is the schema-flexible ingest column: one typed
    * binary column instead of a sparse thousand-column struct, with path
    * extraction still codegen'd per row (no JSON string re-parse). */
  def ice24Variant(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_var"
    s.conf.set("spark.sql.catalog.graftj", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftj.warehouse", wh)
    provisionOnce(new File(wh)) {
      s.sql("CREATE TABLE graftj.jdb.docs_var (doc_id BIGINT, payload VARIANT)")
      Tables.documents(s, d).createOrReplaceTempView("ice24_src")
      s.sql(
        """INSERT INTO graftj.jdb.docs_var
           SELECT doc_id, parse_json(to_json(named_struct(
             'lang', lang, 'src', source, 'n', n_chars)))
           FROM ice24_src""")
      // loud guard: the table's Iceberg metadata really records `variant`
      val t = IcebergTables.load(s"$wh/jdb/docs_var")
      require(t.schema.struct.fields.exists(_.fieldType == VariantT),
        "ice24: expected a variant column in the Iceberg schema")
    }
    s.sql(
      """SELECT variant_get(payload, '$.lang', 'string') AS lang,
                variant_get(payload, '$.src', 'string') AS source,
                COUNT(*) AS n,
                SUM(variant_get(payload, '$.n', 'bigint')) AS sum_chars
         FROM graftj.jdb.docs_var
         GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  val ice24Sql: String =
    """SELECT lang, source, COUNT(*) AS n,
              CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       FROM documents GROUP BY lang, source ORDER BY lang, source"""

  /** Write-audit-publish through the ORACLE: base data is committed to
    * main, new rows STAGE on a branch under `spark.wap.branch` (SQL
    * INSERT → [[TableWriter.appendToBranch]]; main is bit-identical until
    * publish — guarded by reading `VERSION AS OF 'main'` mid-stage), the
    * audit read sees the staged union, and `CALL fast_forward` publishes.
    * The oracle composes base ∪ staged relationally, so the hash match
    * proves staging/publish moved exactly the audited rows and nothing
    * else. At 100 TB this is the ingest safety gate: bad batches are
    * audited on a branch and dropped without ever being visible to
    * production readers. */
  def ice25Wap(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_wap"
    s.conf.set("spark.sql.catalog.graftw", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftw.warehouse", wh)
    provisionOnce(new File(wh)) {
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      TableWriter.create(src.filter(col("o_orderkey") % 3 === 0),
        s"$wh/wdb/orders_wap")
      val before = s.sql("SELECT COUNT(*) AS n FROM graftw.wdb.orders_wap")
        .head().getLong(0)
      src.filter(col("o_orderkey") % 3 === 1)
        .createOrReplaceTempView("ice25_staged")
      s.conf.set("spark.wap.branch", "audit")
      try {
        s.sql("INSERT INTO graftw.wdb.orders_wap SELECT * FROM ice25_staged")
        // audit: staged read grew; published state did not
        val audit = s.sql("SELECT COUNT(*) AS n FROM graftw.wdb.orders_wap")
          .head().getLong(0)
        val main = s.sql(
          "SELECT COUNT(*) AS n FROM graftw.wdb.orders_wap VERSION AS OF 'main'")
          .head().getLong(0)
        require(audit > before && main == before,
          s"ice25: WAP isolation broken (before=$before audit=$audit main=$main)")
      } finally s.conf.unset("spark.wap.branch")
      s.sql("CALL graftw.system.fast_forward('wdb.orders_wap', 'audit')")
      ()
    }
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         ${sqlDsum("o_totalprice")} AS sum_price
         FROM graftw.wdb.orders_wap
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  val ice25Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       ${sqlDsum("o_totalprice")} AS sum_price
       FROM orders WHERE o_orderkey % 3 IN (0, 1)
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** GROUPED metadata-aggregate pushdown: GROUP BY an identity partition
    * column answers COUNT/MIN/MAX PER GROUP from manifest stats — every
    * file belongs to exactly one group, so per-group aggregation of
    * whole-file stats is exact, still zero data I/O (asserted: the
    * executed plan is the metadata-only scan). DuckDB computes the same
    * from raw rows. At 100 TB this turns `SELECT day, count(*) FROM t
    * GROUP BY day` — the canonical ingest-monitoring query — into an
    * O(manifests) driver read instead of a full-table scan + shuffle. */
  def ice26GroupedAggPushdown(s: SparkSession, d: String): DataFrame = {
    // same fixture as ice02 — one cached identity-partitioned orders table
    val table = cached("orders_by_status", d) { loc =>
      TableWriter.create(Tables.orders(s, d), loc,
        partitionBy = Seq("o_orderstatus" -> IdentityTransform))
    }
    val df = s.read.format("icegopher").load(table.location)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.min("o_orderkey").as("min_key"),
        org.apache.spark.sql.functions.max("o_orderkey").as("max_key"),
        count(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")
    require(df.queryExecution.executedPlan.toString
        .contains("metadata-only aggregate"),
      "ice26: grouped aggregate was not metadata-answered")
    df
  }

  val ice26Sql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       CAST(COUNT(o_custkey) AS BIGINT) AS n_cust
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** COUNT(DISTINCT identity-partition-col) from manifests: the column is
    * constant per file, so the distinct set is exactly the set of live
    * partition values — `SELECT COUNT(DISTINCT day) FROM t` at 100 TB is
    * an O(manifests) driver read (plan-asserted metadata-only; shares
    * ice02's cached fixture). */
  def ice27CountDistinctPushdown(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_by_status", d) { loc =>
      TableWriter.create(Tables.orders(s, d), loc,
        partitionBy = Seq("o_orderstatus" -> IdentityTransform))
    }
    val df = s.read.format("icegopher").load(table.location)
      .agg(org.apache.spark.sql.functions.count_distinct(
          col("o_orderstatus")).as("nd"),
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.max("o_orderkey").as("max_key"))
    require(df.queryExecution.executedPlan.toString
        .contains("metadata-only aggregate"),
      "ice27: count-distinct aggregate was not metadata-answered")
    df
  }

  val ice27Sql: String =
    """SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd,
       CAST(COUNT(*) AS BIGINT) AS n, MAX(o_orderkey) AS max_key
       FROM orders"""

  /** Keyed MERGE as equality deletes (`CALL …merge_keyed`): two stacked
    * merges land as ONE equality-tombstone + append snapshot each, with
    * ZERO scans of the target (positional MERGE must read the target to
    * find (file, pos); the keyed shape tombstones by key instead —
    * O(source) commits at any table size). The oracle composes the same
    * two upserts relationally. */
  def ice18EqMerge(s: SparkSession, d: String): DataFrame = {
    val wh = s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/warehouse_eqm"
    s.conf.set("spark.sql.catalog.grafte", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.grafte.warehouse", wh)
    provisionOnce(new File(wh)) {
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      TableWriter.create(src.filter(col("o_orderkey") % 3 === 0),
        s"$wh/edb/orders_eqm")
      src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .createOrReplaceTempView("ice18_chg1")
      s.sql("CALL grafte.system.merge_keyed('edb.orders_eqm', 'ice18_chg1', 'o_orderkey')")
      src.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("V").as("o_orderstatus"),
          (col("o_totalprice") + 7.0).as("o_totalprice"))
        .createOrReplaceTempView("ice18_chg2")
      s.sql("CALL grafte.system.merge_keyed('edb.orders_eqm', 'ice18_chg2', 'o_orderkey')")
      ()
    }
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         ${sqlDsum("o_totalprice")} AS sum_price
         FROM grafte.edb.orders_eqm
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  val ice18Sql: String =
    s"""WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 0),
       chg1 AS (
         SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0),
       m1 AS (
         SELECT * FROM chg1
         UNION ALL
         SELECT * FROM base WHERE o_orderkey % 2 <> 0),
       chg2 AS (
         SELECT o_orderkey, o_custkey, 'V' AS o_orderstatus,
                o_totalprice + 7.0 AS o_totalprice
         FROM orders WHERE o_orderkey % 5 = 0),
       m2 AS (
         SELECT * FROM chg2
         UNION ALL
         SELECT * FROM m1 WHERE o_orderkey % 5 <> 0)
       SELECT o_orderstatus, COUNT(*) AS n,
              ${sqlDsum("o_totalprice")} AS sum_price
       FROM m2 GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val ice16Sql: String =
    s"""WITH base AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 0),
       chg AS (
         SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0),
       merged AS (
         SELECT * FROM chg
         UNION ALL
         SELECT * FROM base WHERE o_orderkey % 2 <> 0),
       kept AS (SELECT * FROM merged WHERE o_orderkey % 10 <> 6)
       SELECT o_orderstatus, COUNT(*) AS n,
              ${sqlDsum("o_totalprice")} AS sum_price
       FROM kept GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** V3 geo end-to-end (ice28): a geometry table AUTHORED by this engine —
    * WKB points with envelope bounds written as bbox corner POINTS per the
    * V3 geo spec — scanned with the spec-sanctioned `st_intersects_bbox`
    * prune; the residual applies the same envelope test row-level, so
    * file pruning and row semantics agree exactly. The oracle recomputes
    * the bbox filter from the source coordinates (DuckDB has no geo here;
    * for points, envelope-intersects ≡ coordinate range test). GeoSpec
    * additionally pins the planFiles prune count and the WKB byte
    * round-trip. Coordinates derive from p_partkey by integer modulo then
    * double arithmetic — bit-identical in both engines. */
  def ice28GeoBbox(s: SparkSession, d: String): DataFrame = {
    val table = partGeoTable(s, d)
    table.newScan(Expr.stIntersectsBBox("geom", -50.0, -20.0, 40.0, 60.0))
      .toDF(s)
      .select("id", "x", "y")
      .orderBy("id")
  }

  private def partGeoTable(s: SparkSession, d: String): IcebergTable =
    cached("part_geo", d) { loc =>
      val src = Tables.part(s, d).select(
        col("p_partkey").as("id"),
        ((col("p_partkey") % 73) / lit(18)).cast("int").as("band"),
        ((col("p_partkey") % 73).cast("double") * 4.9 - 178.0).as("x"),
        ((col("p_partkey") % 37).cast("double") * 4.5 - 81.0).as("y"))
      val geomCol = org.apache.spark.sql.graft.ColumnShim.column(
        graft.spark.functions.StPointExpr(
          org.apache.spark.sql.graft.ColumnShim.expression(col("x")),
          org.apache.spark.sql.graft.ColumnShim.expression(col("y"))))
      val df = src.withColumn("geom", geomCol)
      val schema = Schema(0, StructT(Seq(
        NestedField(1, "id", LongT),
        NestedField(2, "band", IntT),
        NestedField(3, "x", DoubleT),
        NestedField(4, "y", DoubleT),
        NestedField(5, "geom", GeometryT()))))
      TableWriter.createWithSchema(df, loc, schema,
        partitionBy = Seq("band" -> IdentityTransform))
    }

  /** The SQL twin of ice28 (ice30): the SAME geo table queried through
    * plain SQL — `WHERE graft.system.st_intersects_bbox(geom, ...)` —
    * exercising the V2 FUNCTION-PREDICATE pushdown end to end: Spark
    * resolves the V2-catalog function, wraps it as a
    * BOOLEAN_EXPRESSION predicate, the scan converts it to the core geo
    * predicate (files prune on V3 geo bounds), and the residual function
    * evaluation applies the envelope test row-wise. A different bbox from
    * ice28 so the two entries cannot mask each other. */
  def ice30GeoSqlPushdown(s: SparkSession, d: String): DataFrame = {
    val table = partGeoTable(s, d)
    s.conf.set("spark.sql.catalog.graft_geo", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_geo.warehouse",
      s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/geo_wh")
    s.read.format("icegopher").load(table.location)
      .createOrReplaceTempView("part_geo_v")
    s.sql("""SELECT id, x, y FROM part_geo_v
             WHERE graft_geo.system.st_intersects_bbox(
               geom, -170D, -75D, -60D, -10D)
             ORDER BY id""")
  }

  val ice30Sql: String =
    """WITH g AS (
         SELECT p_partkey AS id,
                CAST(p_partkey % 73 AS DOUBLE) * 4.9 - 178.0 AS x,
                CAST(p_partkey % 37 AS DOUBLE) * 4.5 - 81.0 AS y
         FROM part)
       SELECT id, x, y FROM g
       WHERE x >= -170.0 AND x <= -60.0 AND y >= -75.0 AND y <= -10.0
       ORDER BY id"""

  val ice28Sql: String =
    """WITH g AS (
         SELECT p_partkey AS id,
                CAST(p_partkey % 73 AS DOUBLE) * 4.9 - 178.0 AS x,
                CAST(p_partkey % 37 AS DOUBLE) * 4.5 - 81.0 AS y
         FROM part)
       SELECT id, x, y FROM g
       WHERE x >= -50.0 AND x <= 40.0 AND y >= -20.0 AND y <= 60.0
       ORDER BY id"""

  /** A geo table of BOXES (2-point-linestring WKB whose envelope is the
    * box), derived arithmetically from supplier keys so the oracle can
    * recompute the rectangles without parsing WKB. Box extents (+3.71,
    * +4.23) are chosen so no point of [[partGeoTable]]'s lattice falls
    * EXACTLY on a box edge — the two engines' float rounding can then
    * never disagree about a boundary pair. */
  private def supplierBoxTable(s: SparkSession, d: String): IcebergTable =
    cached("supplier_geo", d) { loc =>
      val src = Tables.supplier(s, d).filter(col("s_suppkey") % 2 === 0)
        .select(
          col("s_suppkey").as("sid"),
          ((col("s_suppkey") % 67).cast("double") * 5.3 - 177.0).as("x0"),
          ((col("s_suppkey") % 31).cast("double") * 5.1 - 79.0).as("y0"))
        .withColumn("x1", col("x0") + 3.71)
        .withColumn("y1", col("y0") + 4.23)
      val geomCol = org.apache.spark.sql.graft.ColumnShim.column(
        graft.spark.functions.StBoxExpr(
          org.apache.spark.sql.graft.ColumnShim.expression(col("x0")),
          org.apache.spark.sql.graft.ColumnShim.expression(col("y0")),
          org.apache.spark.sql.graft.ColumnShim.expression(col("x1")),
          org.apache.spark.sql.graft.ColumnShim.expression(col("y1"))))
      val df = src.withColumn("geom", geomCol)
      val schema = Schema(0, StructT(Seq(
        NestedField(1, "sid", LongT),
        NestedField(2, "x0", DoubleT),
        NestedField(3, "y0", DoubleT),
        NestedField(4, "x1", DoubleT),
        NestedField(5, "y1", DoubleT),
        NestedField(6, "geom", GeometryT()))))
      TableWriter.createWithSchema(df, loc, schema)
    }

  /** ice31: the grid-bucketed spatial join ([[GeoJoin.stBboxJoin]]) —
    * points (ice28's geo table) against boxes, bucketed into 8° cells,
    * exact-envelope verified, one emission per pair via the canonical
    * cell. The oracle recomputes containment arithmetically, so a hash
    * match proves the bucketed join ≡ the full quadratic semantics. */
  def ice31BboxJoin(s: SparkSession, d: String): DataFrame = {
    val pts = partGeoTable(s, d).newScan().toDF(s)
      .select(col("id"), col("geom").as("pg"))
    val boxes = supplierBoxTable(s, d).newScan().toDF(s)
      .select(col("sid"), col("geom").as("bg"))
    GeoJoin.stBboxJoin(pts, "pg", boxes, "bg", cellSize = 8.0)
      .select("id", "sid").orderBy("id", "sid")
  }

  val ice31Sql: String =
    """WITH g AS (
         SELECT p_partkey AS id,
                CAST(p_partkey % 73 AS DOUBLE) * 4.9 - 178.0 AS x,
                CAST(p_partkey % 37 AS DOUBLE) * 4.5 - 81.0 AS y
         FROM part),
       b AS (
         SELECT s_suppkey AS sid,
                CAST(s_suppkey % 67 AS DOUBLE) * 5.3 - 177.0 AS x0,
                CAST(s_suppkey % 31 AS DOUBLE) * 5.1 - 79.0 AS y0
         FROM supplier WHERE s_suppkey % 2 = 0)
       SELECT id, sid FROM g, b
       WHERE x >= x0 AND x <= x0 + 3.71 AND y >= y0 AND y <= y0 + 4.23
       ORDER BY id, sid"""

  /** Partition-scoped compaction through the oracle (ice32): orders
    * identity-partitioned by status accumulates MoR tombstones across every
    * partition, then `compact(where => status = 'F')` rewrites ONLY the F
    * partition via the O(affected-files) CoW replace. The fixture pins the
    * scale claims loudly — untouched partitions keep their exact files, the
    * scoped partition's delete debt folds to zero, debt OUTSIDE the scope
    * survives — and the final aggregate hash-matches DuckDB on the raw
    * parquet, proving the scoped rewrite changed bytes but not rows. */
  def ice32ScopedCompact(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_scoped_compact", d) { loc =>
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      var t = TableWriter.create(src, loc,
        partitionBy = Seq("o_orderstatus" -> IdentityTransform))
      t = TableWriter.deleteWhere(t, s, col("o_orderkey") % 10 === 7)
      val isF = (f: graft.core.DataFileInfo) =>
        f.partition.get("o_orderstatus").contains("F")
      val untouched = t.newScan().planFiles()
        .filterNot(t0 => isF(t0.file)).map(_.file.path).toSet
      t = TableWriter.compact(t, s, targetFiles = 1,
        where = Some(Expr.equalTo("o_orderstatus", StrLit("F"))))
      val after = t.newScan().planFiles()
      require(after.filterNot(t0 => isF(t0.file)).map(_.file.path).toSet ==
        untouched, "ice32: files outside the compaction scope changed")
      require(after.filter(t0 => isF(t0.file))
        .forall(_.deleteFiles.isEmpty),
        "ice32: scoped partition kept its delete debt")
      require(after.exists(_.deleteFiles.nonEmpty),
        "ice32: expected surviving MoR debt outside the scope")
      t
    }
    table.newScan().toDF(s)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val ice32Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       ${sqlDsum("o_totalprice")} AS sum_price
       FROM orders WHERE o_orderkey % 10 <> 7
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Per-branch snapshot retention through the oracle (ice29): a branch
    * declares `min-snapshots-to-keep = 3`, five staged appends land on it,
    * then an AGGRESSIVE global expiry runs (expire-everything-older-than-
    * now, retain 1). The branch policy is the ONLY thing keeping its three
    * newest ancestors alive — the two older staged ancestors expire. The
    * query time-travels to the 3rd-newest surviving ancestor and
    * aggregates it: if retention enforcement regressed (ancestor
    * expired), the pinned scan fails and the driver records err; the hash
    * match proves the retained history reads back exactly. */
  def ice29BranchRetention(s: SparkSession, d: String): DataFrame = {
    val table = cached("orders_retention", d) { loc =>
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      var t = TableWriter.create(src.filter(col("o_orderkey") % 6 === 0), loc)
      t = TableWriter.createRef(t, "audit", BranchRef,
        minSnapshotsToKeep = Some(3))
      (1 to 5).foreach { i =>
        t = TableWriter.appendToBranch(t,
          src.filter(col("o_orderkey") % 6 === i), "audit")
      }
      TableWriter.expireSnapshots(t,
        olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    }
    val md = table.metadata
    val ancestry = Iterator.iterate(md.snapshotById(md.refs("audit").snapshotId))(
      _.flatMap(_.parentSnapshotId).flatMap(md.snapshotById))
      .takeWhile(_.isDefined).flatten.toSeq
    // policy keeps exactly the 3 newest; the 3rd-newest holds slices 0-3
    val third = ancestry(2).snapshotId
    table.newScan(snapshotId = Some(third)).toDF(s)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val ice29Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       ${sqlDsum("o_totalprice")} AS sum_price
       FROM orders WHERE o_orderkey % 6 <= 3
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** REST server-side scan planning through the oracle (ice33): the
    * day-partitioned events table is registered with a LIVE REST catalog
    * and the temporal-pruning scan delegates file enumeration to the
    * server's `plan` endpoint (spec plan/tasks routes) — the filter, the
    * pruned `FileScanTask` set with its partition tuples and stats, and
    * the timestamp literals all cross the wire as spec JSON. At 100 TB
    * this is the plan-latency path: a catalog holding hot manifest caches
    * enumerates the files once, server-side, and the engine driver never
    * reads a manifest byte. The fixture REQUIRES the plan to have gone
    * through the server and to match the driver-side planner's file set —
    * a silent local fallback fails the entry instead of passing
    * accidentally. The hash match against DuckDB proves the wire-planned
    * scan reads exactly the right rows. */
  def ice33RestPlan(s: SparkSession, d: String): DataFrame = {
    val table = cached("events_daily", d) { loc =>
      TableWriter.create(Tables.events(s, d).select("event_id", "ts", "value"), loc,
        partitionBy = Seq("ts" -> DayTransform))
    }
    val filter = And(
      Expr.greaterThanOrEq("ts", StrLit("2024-01-05T00:00:00").to(TimestampT)),
      Expr.lessThan("ts", StrLit("2024-01-12T00:00:00").to(TimestampT)))
    val server = new graft.catalog.TestRestCatalogServer("graft", "graft")
    server.start()
    try {
      val cat = graft.catalog.Catalog.load("ice33", server.uri,
        Map(graft.catalog.RestCatalog.KeyCredential -> "graft:graft"))
        .asInstanceOf[graft.catalog.RestCatalog]
      cat.createNamespace(Seq("p"))
      cat.registerTable(Seq("p", "events"), table.metadataPath)
      val remote = graft.spark.TableWriter.restTableOf(
        cat.loadTable(Seq("p", "events")), cat)
      // plan now, while the server is live (toDF plans lazily); execution
      // later reads the (local) parquet directly
      val df = remote.newScan(filter).toDF(s)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy("day")
      df.queryExecution.executedPlan
      require(server.planRequests > 0,
        "ice33: the scan silently fell back to local planning")
      require(remote.newScan(filter).planFiles().map(_.file.path).sorted ==
        table.newScan(filter).planFiles().map(_.file.path).sorted,
        "ice33: server-planned file set diverges from the local planner")
      df
    } finally server.stop()
  }

  val ice33Sql: String =
    s"""SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
       ${sqlDsum("value")} AS sum_v
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
       GROUP BY CAST(ts AS DATE) ORDER BY day"""

  /** SQL DML on a REST-cataloged table (ice34): INSERT INTO, key-equality
    * DELETE, copy-on-write UPDATE, and MERGE each run as plain Spark SQL
    * against a GraftCatalog bound to a LIVE REST server — every commit
    * rides the server's update actions through the table handle's
    * [[graft.spark.RestTableOperations]] (the scanned head pinned), never
    * metadata files behind it. The reference PANICS on any REST
    * commit (rest.go:418-424); here the full SQL DML surface is the
    * client. Provisioned once per sf dir; the server's final metadata is
    * then materialized locally so bench iterations and the oracle compare
    * replay a pure local read.
    *
    * 100-TB shape: each statement is the same distributed plan the local
    * plane runs (one write pass, an O(keys) equality delete, an
    * O(affected-files) CoW rewrite) plus ONE catalog RTT per commit. */
  def ice34RestSqlDml(s: SparkSession, d: String): DataFrame = {
    val root = new File(
      s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/rest_sql_dml")
    provisionOnce(root) {
      val loc = new File(root, "ev"); loc.mkdirs()
      val wh = new File(root, "wh"); wh.mkdirs()
      val server = new graft.catalog.TestRestCatalogServer("graft", "graft")
      server.start()
      try {
        val cat = graft.catalog.Catalog.load("ice34", server.uri,
          Map(graft.catalog.RestCatalog.KeyCredential -> "graft:graft"))
          .asInstanceOf[graft.catalog.RestCatalog]
        cat.createNamespace(Seq("p"))
        cat.createTable(Seq("p", "ev"), Schema(0, StructT(Seq(
          NestedField(1, "event_id", LongT, required = true),
          NestedField(2, "event_type", StringT),
          NestedField(3, "value", DoubleT)))), location = Some(loc.getPath))
        s.conf.set("spark.sql.catalog.ice34cat", "graft.spark.GraftCatalog")
        s.conf.set("spark.sql.catalog.ice34cat.warehouse", wh.getPath)
        s.conf.set("spark.sql.catalog.ice34cat.uri", server.uri)
        s.conf.set("spark.sql.catalog.ice34cat.credential", "graft:graft")
        Tables.events(s, d).select("event_id", "event_type", "value")
          .createOrReplaceTempView("ice34_src")
        s.sql("INSERT INTO ice34cat.p.ev " +
          "SELECT event_id, event_type, value FROM ice34_src")
        s.sql("DELETE FROM ice34cat.p.ev WHERE event_type = 'click'")
        s.sql("UPDATE ice34cat.p.ev SET value = value * 2 " +
          "WHERE event_id % 10 = 0")
        s.sql("""MERGE INTO ice34cat.p.ev t
                 USING (SELECT event_id, 'merged' AS event_type, value
                        FROM ice34_src WHERE event_id % 97 = 0) m
                 ON t.event_id = m.event_id
                 WHEN MATCHED THEN UPDATE SET event_type = m.event_type
                 WHEN NOT MATCHED THEN INSERT *""")
        // materialize the server's final metadata so post-provision runs
        // read without the ephemeral server (the t33 discipline)
        val metaDir = new File(loc, "metadata"); metaDir.mkdirs()
        java.nio.file.Files.writeString(
          new File(metaDir, "v1.metadata.json").toPath,
          cat.loadTable(Seq("p", "ev")).metadata.toJson)
      } finally server.stop()
    }
    IcebergTables.load(new File(root, "ev").getPath).newScan().toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("event_id"))
          .cast("double").as("sum_id"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Schema evolution + WAP on a REST-cataloged table (ice35): ALTER
    * TABLE ADD COLUMN commits the spec's `add-schema` action through a
    * LIVE server (old rows read null for the new column by field-id
    * resolution), a post-evolution INSERT fills it, and a
    * `spark.wap.branch` INSERT stages on a branch — invisible to main —
    * until `CALL fast_forward` publishes it as one
    * set-snapshot-ref(main). The oracle replays the sequence
    * relationally: evolution = null-extension, WAP = the staged rows
    * appearing only in the published union. Same provisioning discipline
    * as ice34 (once per sf dir, metadata materialized for post-cache
    * runs). */
  def ice35RestEvolution(s: SparkSession, d: String): DataFrame = {
    val root = new File(
      s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/rest_evolution")
    provisionOnce(root) {
      val loc = new File(root, "ev"); loc.mkdirs()
      val wh = new File(root, "wh"); wh.mkdirs()
      val server = new graft.catalog.TestRestCatalogServer("graft", "graft")
      server.start()
      try {
        val cat = graft.catalog.Catalog.load("ice35", server.uri,
          Map(graft.catalog.RestCatalog.KeyCredential -> "graft:graft"))
          .asInstanceOf[graft.catalog.RestCatalog]
        cat.createNamespace(Seq("p"))
        cat.createTable(Seq("p", "ev"), Schema(0, StructT(Seq(
          NestedField(1, "event_id", LongT, required = true),
          NestedField(2, "event_type", StringT),
          NestedField(3, "value", DoubleT)))), location = Some(loc.getPath))
        s.conf.set("spark.sql.catalog.ice35cat", "graft.spark.GraftCatalog")
        s.conf.set("spark.sql.catalog.ice35cat.warehouse", wh.getPath)
        s.conf.set("spark.sql.catalog.ice35cat.uri", server.uri)
        s.conf.set("spark.sql.catalog.ice35cat.credential", "graft:graft")
        Tables.events(s, d).select("event_id", "event_type", "value")
          .createOrReplaceTempView("ice35_src")
        s.sql("INSERT INTO ice35cat.p.ev SELECT event_id, event_type, value " +
          "FROM ice35_src WHERE event_id % 2 = 0")
        // server-side schema evolution; the seed rows read null for score
        s.sql("ALTER TABLE ice35cat.p.ev ADD COLUMN score DOUBLE")
        s.sql("INSERT INTO ice35cat.p.ev SELECT event_id, event_type, value, " +
          "value AS score FROM ice35_src WHERE event_id % 2 = 1")
        // WAP: stage on a branch (main untouched), publish via fast_forward
        s.conf.set("spark.wap.branch", "audit")
        try s.sql("INSERT INTO ice35cat.p.ev SELECT event_id, 'wap', value, " +
          "CAST(1.0 AS DOUBLE) FROM ice35_src WHERE event_id % 101 = 0")
        finally s.conf.unset("spark.wap.branch")
        s.sql("CALL ice35cat.system.fast_forward('p.ev', 'audit')")
        val metaDir = new File(loc, "metadata"); metaDir.mkdirs()
        java.nio.file.Files.writeString(
          new File(metaDir, "v1.metadata.json").toPath,
          cat.loadTable(Seq("p", "ev")).metadata.toJson)
      } finally server.stop()
    }
    IcebergTables.load(new File(root, "ev").getPath).newScan().toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("event_id"))
          .cast("double").as("sum_id"),
        dsum(col("value")).as("sum_value"),
        count(col("score")).as("n_scored"),
        dsum(col("score")).as("sum_score"))
      .orderBy("event_type")
  }

  /** V2→V3 format upgrade on a REST-cataloged table (ice36): a MoR
    * DELETE leaves V2 positional parquet tombstones; `ALTER TABLE SET
    * TBLPROPERTIES ('format-version'='3')` commits the spec's
    * `upgrade-format-version` action WITH the DV re-home snapshot in the
    * SAME commit (tombstones retire into deletion vectors; data files are
    * untouched — the pass is O(live tombstone rows), not O(table));
    * post-upgrade MoR UPDATE rides the V3 DV path, folding the re-homed
    * DV. The oracle replays delete+update relationally: the upgrade must
    * be row-invariant, which is exactly what the hash check pins.
    * Internal requires pin what SQL can't see: the V3 flip, the summary's
    * tombstone retirement, and that no parquet tombstone stays live. */
  def ice36RestUpgrade(s: SparkSession, d: String): DataFrame = {
    val root = new File(
      s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/rest_upgrade")
    provisionOnce(root) {
      val loc = new File(root, "ev"); loc.mkdirs()
      val wh = new File(root, "wh"); wh.mkdirs()
      val server = new graft.catalog.TestRestCatalogServer("graft", "graft")
      server.start()
      try {
        val cat = graft.catalog.Catalog.load("ice36", server.uri,
          Map(graft.catalog.RestCatalog.KeyCredential -> "graft:graft"))
          .asInstanceOf[graft.catalog.RestCatalog]
        cat.createNamespace(Seq("p"))
        cat.createTable(Seq("p", "ev"), Schema(0, StructT(Seq(
          NestedField(1, "event_id", LongT, required = true),
          NestedField(2, "event_type", StringT),
          NestedField(3, "value", DoubleT)))),
          Map("write.delete.mode" -> "merge-on-read",
            "write.update.mode" -> "merge-on-read"),
          location = Some(loc.getPath))
        s.conf.set("spark.sql.catalog.ice36cat", "graft.spark.GraftCatalog")
        s.conf.set("spark.sql.catalog.ice36cat.warehouse", wh.getPath)
        s.conf.set("spark.sql.catalog.ice36cat.uri", server.uri)
        s.conf.set("spark.sql.catalog.ice36cat.credential", "graft:graft")
        Tables.events(s, d).select("event_id", "event_type", "value")
          .createOrReplaceTempView("ice36_src")
        s.sql("INSERT INTO ice36cat.p.ev SELECT event_id, event_type, value " +
          "FROM ice36_src")
        // V2 MoR DELETE: positional parquet tombstones, no data rewrite —
        // the % predicate is not source-pushable (no equality-delete
        // shortcut, no metadata-only whole-file drop), so every affected
        // file gets real tombstones for the upgrade to re-home
        s.sql("DELETE FROM ice36cat.p.ev WHERE event_id % 5 = 4")
        require(cat.loadTable(Seq("p", "ev")).metadata.formatVersion == 2,
          "seed table must start V2")
        s.sql("ALTER TABLE ice36cat.p.ev SET TBLPROPERTIES " +
          "('format-version'='3')")
        val md3 = cat.loadTable(Seq("p", "ev")).metadata
        require(md3.formatVersion == 3,
          s"expected V3 after upgrade, got ${md3.formatVersion}")
        val head = md3.currentSnapshot.get.summary.get.properties
        require(head.get("position-delete-files-removed")
          .exists(_.toInt >= 1), s"upgrade summary missing retirement: $head")
        val dels = graft.spark.TableWriter
          .restTableOf(cat.loadTable(Seq("p", "ev")))
          .newScan().planFiles().flatMap(_.deleteFiles)
        require(dels.nonEmpty && dels.forall(_.isDeletionVector),
          "parquet tombstones survived the upgrade")
        // post-upgrade MoR UPDATE rides the V3 DV path (folds the re-homed DV)
        s.sql("UPDATE ice36cat.p.ev SET value = value * 2 " +
          "WHERE event_id % 7 = 0")
        val metaDir = new File(loc, "metadata"); metaDir.mkdirs()
        java.nio.file.Files.writeString(
          new File(metaDir, "v1.metadata.json").toPath,
          cat.loadTable(Seq("p", "ev")).metadata.toJson)
      } finally server.stop()
    }
    IcebergTables.load(new File(root, "ev").getPath).newScan().toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("event_id"))
          .cast("double").as("sum_id"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** SQL DDL lifecycle on the REST plane (ice37): CREATE NAMESPACE lands
    * on a live server, CREATE TABLE ... PARTITIONED BY ships the spec on
    * the CreateTableRequest, INSERT writes through the server under the
    * identity partitioning, ALTER TABLE RENAME routes the spec's rename
    * verb, and DROP TABLE (on a scratch sibling) deletes server-side.
    * The oracle replays the INSERT's projection relationally — DDL must
    * be row-invariant end to end. Internal requires pin what SQL can't
    * see: the server-side spec, the rename, and the drop. */
  def ice37RestDdl(s: SparkSession, d: String): DataFrame = {
    val root = new File(
      s"$cacheRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/rest_ddl")
    provisionOnce(root) {
      val wh = new File(root, "wh"); wh.mkdirs()
      val server = new graft.catalog.TestRestCatalogServer("graft", "graft")
      server.start()
      try {
        val cat = graft.catalog.Catalog.load("ice37", server.uri,
          Map(graft.catalog.RestCatalog.KeyCredential -> "graft:graft"))
          .asInstanceOf[graft.catalog.RestCatalog]
        s.conf.set("spark.sql.catalog.ice37cat", "graft.spark.GraftCatalog")
        s.conf.set("spark.sql.catalog.ice37cat.warehouse", wh.getPath)
        s.conf.set("spark.sql.catalog.ice37cat.uri", server.uri)
        s.conf.set("spark.sql.catalog.ice37cat.credential", "graft:graft")
        s.sql("CREATE NAMESPACE ice37cat.p")
        require(cat.listNamespaces().contains(Seq("p")),
          "CREATE NAMESPACE did not land on the server")
        s.sql("CREATE TABLE ice37cat.p.ev (event_id BIGINT, " +
          "event_type STRING, value DOUBLE) PARTITIONED BY (event_type)")
        val created = cat.loadTable(Seq("p", "ev")).metadata
        require(created.partitionSpec.fields.size == 1,
          s"CreateTableRequest dropped the spec: ${created.partitionSpec}")
        Tables.events(s, d).select("event_id", "event_type", "value")
          .createOrReplaceTempView("ice37_src")
        s.sql("INSERT INTO ice37cat.p.ev SELECT event_id, event_type, value " +
          "FROM ice37_src WHERE event_id % 3 = 0")
        // rename routes the spec's verb; rows survive under the new name
        s.sql("ALTER TABLE ice37cat.p.ev RENAME TO ice37cat.p.events2")
        require(cat.tableExists(Seq("p", "events2")) &&
          !cat.tableExists(Seq("p", "ev")), "rename did not land")
        // a SECOND create in the same namespace must also land on the
        // server (plane selection cannot depend on warehouse dirs, which
        // the first create's provisioning made); drop deletes server-side
        s.sql("CREATE TABLE ice37cat.p.scratch (id BIGINT)")
        require(cat.tableExists(Seq("p", "scratch")),
          "second CREATE in the namespace did not land on the server")
        s.sql("DROP TABLE ice37cat.p.scratch")
        require(!cat.tableExists(Seq("p", "scratch")), "drop did not land")
        val loc = new File(
          cat.loadTable(Seq("p", "events2")).metadata.location
            .stripPrefix("file://").stripPrefix("file:"))
        val metaDir = new File(loc, "metadata"); metaDir.mkdirs()
        java.nio.file.Files.writeString(
          new File(metaDir, "v1.metadata.json").toPath,
          cat.loadTable(Seq("p", "events2")).metadata.toJson)
        // steady-state reads resolve the materialized metadata from the
        // table location recorded at provision time
        java.nio.file.Files.writeString(
          new File(root, "location.txt").toPath, loc.getPath)
      } finally server.stop()
    }
    val loc = java.nio.file.Files.readString(
      new File(root, "location.txt").toPath).trim
    IcebergTables.load(loc).newScan().toDF(s)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("event_id"))
          .cast("double").as("sum_id"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** DuckDB mirror of the ice37 INSERT projection: the DDL around it
    * (create/partition/rename/drop) must not move a single row. */
  val ice37Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
              CAST(SUM(event_id) AS DOUBLE) AS sum_id,
              ${sqlDsum("value")} AS sum_value
       FROM events WHERE event_id % 3 = 0
       GROUP BY event_type ORDER BY event_type"""

  /** DuckDB mirror of the ice36 sequence: delete = filter, update = CASE
    * projection; the V2→V3 upgrade itself must not move a single row. */
  val ice36Sql: String =
    s"""WITH seed AS (SELECT event_id, event_type, value FROM events),
       afterdel AS (SELECT * FROM seed WHERE event_id % 5 <> 4),
       afterupd AS (
         SELECT event_id, event_type,
                CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
         FROM afterdel)
       SELECT event_type, COUNT(*) AS n,
              CAST(SUM(event_id) AS DOUBLE) AS sum_id,
              ${sqlDsum("value")} AS sum_value
       FROM afterupd GROUP BY event_type ORDER BY event_type"""

  /** DuckDB mirror of the ice35 sequence: evolution = null-extension of
    * the pre-ALTER rows, WAP = the staged branch rows present only
    * because fast_forward published them. */
  val ice35Sql: String =
    s"""WITH seed AS (
         SELECT event_id, event_type, value, CAST(NULL AS DOUBLE) AS score
         FROM events WHERE event_id % 2 = 0),
       ins AS (
         SELECT event_id, event_type, value, value AS score
         FROM events WHERE event_id % 2 = 1),
       wap AS (
         SELECT event_id, 'wap' AS event_type, value, 1.0 AS score
         FROM events WHERE event_id % 101 = 0),
       allr AS (
         SELECT * FROM seed UNION ALL SELECT * FROM ins
         UNION ALL SELECT * FROM wap)
       SELECT event_type, COUNT(*) AS n,
              CAST(SUM(event_id) AS DOUBLE) AS sum_id,
              ${sqlDsum("value")} AS sum_value,
              COUNT(score) AS n_scored,
              ${sqlDsum("score")} AS sum_score
       FROM allr GROUP BY event_type ORDER BY event_type"""

  /** DuckDB mirror of the ice34 DML sequence, replayed relationally over
    * the source parquet: delete = filter, update = CASE projection, merge
    * = left-join update ∪ anti-join insert. */
  val ice34Sql: String =
    s"""WITH seed AS (SELECT event_id, event_type, value FROM events),
       afterdel AS (SELECT * FROM seed WHERE event_type <> 'click'),
       afterupd AS (
         SELECT event_id, event_type,
                CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
         FROM afterdel),
       m AS (SELECT event_id, 'merged' AS event_type, value
             FROM seed WHERE event_id % 97 = 0),
       merged AS (
         SELECT a.event_id,
                CASE WHEN m.event_id IS NOT NULL THEN 'merged'
                     ELSE a.event_type END AS event_type,
                a.value
         FROM afterupd a LEFT JOIN m ON a.event_id = m.event_id
         UNION ALL
         SELECT m.event_id, m.event_type, m.value FROM m
         WHERE NOT EXISTS (SELECT 1 FROM afterupd a
                           WHERE a.event_id = m.event_id))
       SELECT event_type, COUNT(*) AS n,
              CAST(SUM(event_id) AS DOUBLE) AS sum_id,
              ${sqlDsum("value")} AS sum_value
       FROM merged GROUP BY event_type ORDER BY event_type"""
}
