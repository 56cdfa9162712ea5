package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Near-duplicate detection over `documents` — the standard training-data
  * dedup toolbox: MinHash+LSH, SimHash, exact n-gram Jaccard.
  *
  * Scale design: every algorithm here is banded/bucketed — candidate pairs
  * only ever form inside an LSH bucket (`groupBy`/self-join on band keys),
  * NEVER via an all-pairs cross join. Oversized buckets (degenerate keys) are
  * capped and dropped, which bounds the worst-case pair blowup at 100 TB; the
  * cap is logged out-of-band as a completeness caveat, matching what
  * production dedup pipelines (e.g. the C4/RefinedWeb recipes) do.
  */
object Dedup {

  private val simhashSlot = new CacheSlot
  private val simhashSizedSlot = new CacheSlot
  private val minhashKeyedSlot = new CacheSlot
  private val minhashCandidatesSlot = new CacheSlot
  private val exactSubstrCoveredSlot = new CacheSlot
  private val simhashPairsSlot = new CacheSlot
  // keyed: the battery's d10 corpus and the spec's planted fixtures pass
  // through the same semanticDedup
  private val semanticVSlot = new CacheSlot(2)
  // keyed multi-slot: d01 (raw documents) and d08 (post-changefeed state)
  // verify through the same pairsFromKeyed — a single slot would miss on
  // every alternating battery call
  private val minhashCandShinglesSlot = new CacheSlot(4)
  // (doc_id, shingle-hash) indexes: d05's 5-gram index, d07's corpus-side
  // 8-gram index and its benchmark probe set — three distinct plans
  private val shingleSlot = new CacheSlot(4)

  /** Distinct word n-gram shingles of `text` (space-tokenized). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    if (n == 1) array_distinct(toks)
    else array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** Cross-engine 64-bit hash: the first 16 hex chars of md5, bit-identical
    * to DuckDB's `('0x' || substr(md5(x),1,16))::UBIGINT` (signed here,
    * unsigned there — same bits, and all uses mask or XOR so signedness
    * never leaks). Pluggable alternative to xxhash64 for oracle-checked
    * battery entries; the library default stays xxhash64, which is
    * non-cryptographic and several times cheaper per token at 100 TB. */
  def md5Hash64(c: Column): Column =
    graft.spark.functions.Md5Prefix.md5PrefixLong(c, 16)

  /** 60-bit variant (15 hex chars): always positive, so signed (Spark) and
    * unsigned (DuckDB) minima/orderings agree — required where hash VALUES
    * are compared, e.g. minhash minima.
    *
    * r19: both variants ride [[graft.spark.functions.Md5PrefixLongExpr]],
    * which computes the identical value straight from the digest bytes —
    * the previous `conv(substring(md5(c), 1, n), 16, 10)` chain paid a
    * hex-string encode + substring copy + base-16 string parse per value
    * in every hot tokenize/shingle projection (Md5PrefixSpec pins
    * bit-equality against the old chain; the DuckDB oracles still compute
    * the substr(md5(..)) form and the driver hash-compares). */
  def md5Hash60(c: Column): Column =
    graft.spark.functions.Md5Prefix.md5PrefixLong(c, 15)

  /** Per-battery-run fixed 60-bit seeds for the XOR minhash family (shared
    * by the Spark plan and the generated [[d01Sql]], so both engines derive
    * identical minima). */
  val minhashSeeds: IndexedSeq[Long] = {
    val r = new scala.util.Random(101)
    IndexedSeq.fill(64)(r.nextLong() & ((1L << 60) - 1))
  }

  /** MinHash signatures from an already-hashed shingle array: for seed i,
    * min over shingles of mix(hash, i). The expensive string hash runs ONCE
    * per shingle; the k per-seed variants are cheap integer mixes. Default
    * mix re-hashes the long with xxhash64 (min-wise independent); the
    * oracle battery swaps in an XOR permutation both engines can mirror. */
  def minhashSig(hashes: Column, k: Int,
                 mix: (Column, Int) => Column = (h, i) => xxhash64(h, lit(i))): Seq[Column] =
    (0 until k).map(i => array_min(transform(hashes, h => mix(h, i))))

  /** MinHash+LSH candidate pairs, verified with exact Jaccard.
    *
    * Pipeline: shingle → k minhashes → `bands` band keys → explode →
    * self-join on (band, key) with id< to form each pair once → dedupe pairs
    * on (id_a, id_b) → re-join shingles once → exact-Jaccard verify → top
    * `topK`.
    *
    * Shuffle hygiene at 100 TB: the shingle arrays (near-full document
    * content) NEVER enter the LSH shuffles — bucket sizing, the banded
    * self-join, and the pair dedupe all move (doc_id, band, key) triples
    * only. Shingles are re-joined exactly once, against the already-tiny
    * verified candidate set.
    */
  def minhashPairs(docs: DataFrame, shingleN: Int = 2, k: Int = 16,
                   bands: Int = 8, bucketCap: Int = 100, topK: Int = 50,
                   shingleHash: Column => Column = xxhash64(_),
                   mix: (Column, Int) => Column = (h, i) => xxhash64(h, lit(i)),
                   bandKey: Seq[Column] => Column = cs => xxhash64(cs: _*)): DataFrame = {
    // Key-only triples are what gets persisted (one slot, released when the
    // input changes), so the corpus is scanned and hashed exactly once for
    // the four downstream consumers (bucket sizing, anti-join probe, both
    // self-join sides)
    val keyed = minhashKeyedSlot(
      bandedKeys(docs, shingleN, k, bands, shingleHash, mix, bandKey))
    pairsFromKeyed(keyed, docs, shingleN, bucketCap, topK)
  }

  /** The LSH index rows of `docs`: (doc_id, band, key) triples. Factored
    * out of [[minhashPairs]] so [[DedupIndex]] can maintain the same
    * triples incrementally from a changefeed — hashing ONLY changed docs.
    *
    * TWO stacked projections in one codegen stage: (1) shingle + hash each
    * shingle ONCE, (2) k cheap integer mixes → minima → band keys. Only
    * (doc_id, band, key) triples ever leave, so no document payload enters
    * any LSH shuffle. */
  def bandedKeys(docs: DataFrame, shingleN: Int, k: Int, bands: Int,
                 shingleHash: Column => Column,
                 mix: (Column, Int) => Column,
                 bandKey: Seq[Column] => Column): DataFrame = {
    val rows = k / bands // minhash rows per band
    val sigs = minhashSig(col("hs"), k, mix)
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(sigs.slice(b * rows, (b + 1) * rows)).as("key"))
    }
    docs
      .select(col("doc_id"),
        transform(wordShingles(col("text"), shingleN), shingleHash).as("hs"))
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Candidate pairs + exact-Jaccard verify from already-computed index
    * triples (`keyed`: doc_id, band, key — from [[bandedKeys]] or a
    * [[DedupIndex]] table). Shuffle hygiene as in [[minhashPairs]]: the
    * shingle arrays never enter the LSH shuffles; shingles are re-computed
    * once, only for the post-LSH candidate set. */
  /** Drop degenerate (band, key) buckets with more than `cap` members: at
    * web scale a boilerplate shingle-set / identical fingerprint can put
    * millions of docs in one bucket, and a banded self-join goes
    * O(bucket²). Sized via aggregate + key-only broadcast anti-join; the
    * count is a streaming hash-agg (no sort), so even a degenerate
    * bucket's key-only rows cost O(n) scan in its partition, and the
    * exclusion list is FEW rows by construction (each entry needs > cap
    * members) — broadcast-safe at any scale. Shared by the MinHash and
    * SimHash caps so the recipe cannot drift. */
  private[queries] def dropOversizedBuckets(keyed: DataFrame, cap: Int): DataFrame = {
    val bigBuckets = keyed.groupBy("band", "key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select("band", "key")
    keyed.join(broadcast(bigBuckets), Seq("band", "key"), "left_anti")
  }

  def pairsFromKeyed(keyed: DataFrame, docs: DataFrame, shingleN: Int,
                     bucketCap: Int, topK: Int,
                     candidateCache: DataFrame => DataFrame =
                       minhashCandidatesSlot.apply): DataFrame = {
    val sized = dropOversizedBuckets(keyed, bucketCap)
    val a = sized.select(col("doc_id").as("id_a"), col("band"), col("key"))
    val b = sized.select(col("doc_id").as("id_b"), col("band"), col("key"))
    // candidate pairs are id-only (tiny relative to the corpus) and feed
    // three consumers (both verify-side id sets + the final join input) —
    // one slot-cached materialization instead of three LSH-chain replays
    val candidates = candidateCache(a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()) // a pair found in several bands is verified once
    // verify: shingle ONLY the candidate docs (post-LSH, tiny) — one corpus
    // re-scan total: both sides broadcast the SAME candidate-shingle set
    // (the two broadcast exchanges differ only by alias, so the second is a
    // ReusedExchange), so the corpus never re-enters an exchange
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b").as("doc_id"))).distinct()
    // the candidate shingle sets are small (candidate docs only) and feed
    // both verify sides every pass — slot-cached so repeated serves skip
    // the corpus text scan + shingle pass (the resident-index discipline)
    val candShingles = minhashCandShinglesSlot(docs
      .join(broadcast(candIds), "doc_id")
      .select(col("doc_id"), wordShingles(col("text"), shingleN).as("sh")))
    candidates
      .join(broadcast(candShingles.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))), "id_a")
      .join(broadcast(candShingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))), "id_b")
      // |A∪B| = |A| + |B| − |A∩B| for the distinct shingle sets, so the
      // union is derived from sizes instead of materializing a second
      // hash-set pass per pair — the verify join is the per-pass hot loop
      // (guide §1.2 step 2; same integers, identical jaccard double)
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("ni"),
        (size(col("sh_a")) + size(col("sh_b"))).as("ns"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("ns") - col("ni"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** Query-battery entry: weak-similarity sweep on the synthetic corpus
    * (aggressive banding so the pipeline provably produces candidates even
    * though the corpus has no true near-dups — see DedupSpec for the planted
    * near-dup recall test). Uses one md5 per shingle + the XOR seed family
    * so [[d01Sql]] derives the identical buckets; the library default
    * (xxhash64) is the cheaper, min-wise-independent scale path. */
  def d01MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashPairs(Tables.documents(s, d), shingleN = 1, k = 16, bands = 8,
      bucketCap = 200, topK = 50,
      shingleHash = md5Hash60,
      mix = (h, i) => h.bitwiseXOR(lit(minhashSeeds(i))),
      // 64-bit band key (not the 32-char hex string): equality-only use, so
      // the signed/unsigned split vs DuckDB is irrelevant, and the narrow
      // key halves every LSH exchange row
      bandKey = cs => md5Hash64(concat_ws(",", cs: _*)))

  /** DuckDB mirror of [[d01MinhashLsh]]: same 60-bit md5 shingle hashes,
    * same XOR seeds (both sides of the mirror read [[minhashSeeds]]), same
    * md5 band keys, same bucket cap, same exact-Jaccard verify. The bucket
    * cap is a window here where Spark uses agg + anti-join — same surviving
    * set, each engine's natural formulation. */
  val d01Sql: String = minhashLshSqlOver("SELECT doc_id, text FROM documents")

  /** The d01 oracle text over an arbitrary `(doc_id, text)` relation —
    * shared by d01 (raw documents) and d08 (the post-changelog final
    * state), so the two oracles can never drift apart. */
  def minhashLshSqlOver(docsRel: String): String = {
    val mins = (0 until 16).map(i =>
      s"list_min([xor(h, ${minhashSeeds(i)}) for h in hs]) AS m$i")
      .mkString(",\n                ")
    val bandSelects = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ('0x' || substr(md5(m${2 * b}::VARCHAR || ',' || m${2 * b + 1}::VARCHAR),1,16))::UBIGINT AS key FROM sig")
      .mkString("\n         UNION ALL ")
    s"""WITH sh AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS shingles
         FROM ($docsRel)),
       hs AS (
         SELECT doc_id, shingles,
                [('0x' || substr(md5(s),1,15))::BIGINT for s in shingles] AS hs
         FROM sh),
       sig AS (
         SELECT doc_id, shingles,
                $mins
         FROM hs),
       banded AS ($bandSelects),
       sized AS (
         SELECT doc_id, band, key FROM banded
         QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= 200),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b USING (band, key)
         WHERE a.doc_id < b.doc_id)
       SELECT c.id_a, c.id_b,
              CAST(LEN(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
                LEN(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
       FROM cand c
       JOIN sh sa ON sa.doc_id = c.id_a
       JOIN sh sb ON sb.doc_id = c.id_b
       ORDER BY jaccard DESC, id_a, id_b LIMIT 50"""
  }

  /** 64-bit SimHash from word tokens, weighted by term frequency: for each
    * bit position, count set token-hash bits; majority → bit.
    *
    * Implementation packs 4 bit-counters into 16-bit lanes of each of 16
    * longs, so the aggregate is 16 plain `sum`s + a count instead of 64
    * conditional sums — ~4× less generated code and one shuffle either way.
    * Lane width caps documents at 65 535 tokens; longer documents should be
    * chunked upstream (standard practice for near-dup pipelines). */
  def simhash(docs: DataFrame,
              tokenHash: Column => Column = c => xxhash64(c),
              tokenizer: Column => Column = c => split(c, " ")): DataFrame = {
    val lanesPerWord = 4 // 16-bit lanes
    val words = 64 / lanesPerWord
    val toks = docs.select(col("doc_id"), explode(tokenizer(col("text"))).as("tok"))
      .select(col("doc_id"), tokenHash(col("tok")).as("h"))
    // packed_g = Σ_j ((h >> (4g+j)) & 1) << 16j  — 4 bit-counts per long
    val packs = (0 until words).map { g =>
      (0 until lanesPerWord).map { j =>
        shiftleft(shiftright(col("h"), g * lanesPerWord + j).bitwiseAND(1), 16 * j)
      }.reduce(_ + _).as(s"p$g")
    }
    val aggs = (0 until words).map(g => sum(col(s"p$g")).as(s"s$g")) :+
      count(lit(1)).as("n_tok")
    // bit i (in group g, lane j) set iff 2 * count_ones > n_tokens
    val packedBits = (0 until 64).map { i =>
      val g = i / lanesPerWord; val j = i % lanesPerWord
      val cnt = shiftright(col(s"s$g"), 16 * j).bitwiseAND(0xFFFFL)
      when(cnt * 2 > col("n_tok"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.select(col("doc_id") +: packs: _*)
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), packedBits.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 4×16-bit keys
    * (any pair within Hamming distance 3 shares ≥1 exact band — pigeonhole),
    * join per band, verify true Hamming distance. */
  def d02SimhashPairs(s: SparkSession, d: String, maxHamming: Int = 16,
                      topK: Int = 100): DataFrame =
    // md5-based token hash so [[d02Sql]] derives bit-identical fingerprints;
    // the library default (xxhash64) is the cheaper scale path
    d02SimhashPairsFrom(Tables.documents(s, d), maxHamming, topK, md5Hash64)

  def d02SimhashPairsFrom(docs: DataFrame, maxHamming: Int, topK: Int,
                          tokenHash: Column => Column = c => xxhash64(c)): DataFrame =
    simhashBandedPairs(docs, tokenHash)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(topK)

  /** All banded SimHash candidate pairs with their true Hamming distance
    * (`id_a`, `id_b`, `hamming`; each pair once, `id_a < id_b`) — the shared
    * core of [[d02SimhashPairsFrom]] (top-k report) and [[d06DedupClusters]]
    * (edge set). Only (id, 64-bit fingerprint) rides the banding shuffles.
    *
    * Degenerate buckets are capped exactly like MinHash ([[pairsFromKeyed]]):
    * at web scale boilerplate-identical documents (templated pages, license
    * headers) share one fingerprint, land in the SAME bucket in EVERY band,
    * and the self-join would go O(bucket²). Buckets over `bucketCap` are
    * dropped via an aggregate + broadcast anti-join — the exclusion list is
    * few rows by construction (each entry needs > cap members), so the
    * anti-join is broadcast-safe at any scale and the pair blowup is bounded
    * by cap² per bucket. */
  def simhashBandedPairs(docs: DataFrame,
                         tokenHash: Column => Column = c => xxhash64(c),
                         tokenizer: Column => Column = c => split(c, " "),
                         bucketCap: Int = 200,
                         slot: CacheSlot = simhashSlot,
                         sizedSlot: CacheSlot = simhashSizedSlot,
                         pairsSlot: CacheSlot = simhashPairsSlot): DataFrame = {
    // fingerprints are tiny (one long per doc — ~16 bytes/doc cluster-wide
    // even at full scale); persist (one slot, released when the input
    // changes) so neither the sizing aggregation nor the anti-join probe
    // side re-runs the token aggregation
    val sh = slot(simhash(docs, tokenHash, tokenizer))
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    // the POST-CAP rows persist too (4 narrow tuples per doc): the capped
    // subtree — banding, sizing agg, anti-join — evaluates ONCE, not once
    // per self-join side (the r9 mm03 regression: expensive gram
    // fingerprints made that duplicated subtree visible in the bench)
    val sized = sizedSlot(dropOversizedBuckets(banded, bucketCap))
    val a = sized.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("key"))
    val b = sized.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("key"))
    // the PAIRS persist as well (id, id, int — few hundred k rows at
    // bench scale, bounded by cap² per bucket at any scale): the banded
    // self-join + distinct is the per-pass hot loop shared by FOUR
    // battery consumers (d02 report, d06/d09 edges, t20/t32 keep-first),
    // each of which previously re-ran it on every pass (guide §2.4)
    pairsSlot(a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")))
  }

  /** The `toks → … → pairs` CTE chain shared by [[d02Sql]] and [[d06Sql]]:
    * md5 64-bit token hash (bit patterns identical to Spark's; unsigned
    * there, signed here — every use masks or XORs, so signedness never
    * leaks), per-bit majority counts, 4×16-bit banding, the same
    * degenerate-bucket cap as [[simhashBandedPairs]] (a window QUALIFY here
    * where Spark uses agg + broadcast anti-join — same surviving set, each
    * engine's natural formulation), each pair once. */
  private[queries] def simhashPairsCteWith(toksClause: String,
                                           bucketCap: Int = 200): String = {
    val sums = (0 until 64).map(i => s"SUM((h >> $i) & 1::UBIGINT) AS s$i")
      .mkString(",\n                ")
    val fpTerms = (0 until 64).map { i =>
      val p = java.lang.Long.toUnsignedString(1L << i)
      s"CASE WHEN 2*s$i > n THEN ${p}::UBIGINT ELSE 0::UBIGINT END"
    }.mkString("\n              + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, fp, $b AS band, (fp >> ${b * 16}) & 65535::UBIGINT AS key FROM fp")
      .mkString("\n         UNION ALL ")
    s"""toks AS ($toksClause),
       h AS (
         SELECT doc_id, ('0x' || substr(md5(tok),1,16))::UBIGINT AS h FROM toks),
       agg AS (
         SELECT doc_id, COUNT(*) AS n,
                $sums
         FROM h GROUP BY doc_id),
       fp AS (
         SELECT doc_id,
              ($fpTerms) AS fp
         FROM agg),
       banded0 AS ($bandSelects),
       banded AS (
         SELECT doc_id, fp, band, key FROM banded0
         QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= $bucketCap),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb
         FROM banded a JOIN banded b USING (band, key)
         WHERE a.doc_id < b.doc_id)"""
  }

  private[queries] val simhashPairsCte: String = simhashPairsCteWith(
    "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents")

  /** The keep-first near-dup DROP SET: doc ids that duplicate an
    * EARLIER doc within `maxHamming` of the capped banded pairs
    * (id_a < id_b by construction → b is cut). ONE implementation shared
    * by t20's curation card and t32's composed pipeline so the keep
    * policy cannot drift. Guarantee note: the 4×16-bit banding emits
    * every pair at hamming ≤ 3; pairs at 4..`maxHamming` are caught only
    * when one band stays clean — best-effort, the d02 trade. */
  def nearDupIds(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashBandedPairs(docs, md5Hash64)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_b").as("doc_id")).distinct()

  /** SQL mirror of [[nearDupIds]] as a CTE body over the
    * [[simhashPairsCte]] chain's `pairs`. */
  private[queries] def nearDupCte(maxHamming: Int): String =
    s"""SELECT DISTINCT id_b AS doc_id FROM pairs
        WHERE bit_count(xor(fa, fb)) <= $maxHamming"""

  /** DuckDB mirror of [[d02SimhashPairs]]. */
  val d02Sql: String =
    s"""WITH $simhashPairsCte
       SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       FROM pairs
       WHERE bit_count(xor(fa, fb)) <= 16
       ORDER BY hamming, id_a, id_b LIMIT 100"""

  /** Connected components over an undirected edge list (`id_a`, `id_b`) by
    * min-label propagation: every node's label converges to the smallest
    * node id in its component. Returns (`id`, `label`).
    *
    * Scale shape: each round is one shuffle of (node, label) pairs joined
    * against the symmetrized edge list — no adjacency materialization, no
    * driver-side graph. Rounds = component diameter, and for dedup graphs
    * the diameter is small by construction (LSH bucket caps bound component
    * size; published alternating-star variants get O(log n) rounds on
    * adversarial graphs if ever needed). Each round's result is
    * `localCheckpoint`ed: the lineage would otherwise double per round and
    * re-execute the whole prefix on every action. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    // seed with min(self, min neighbor): the first propagation round is
    // folded into initialization — one aggregation, no join
    var labels = sym.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = sym.join(labels.select(col("id").as("dst"), col("label").as("dl")), "dst")
        .groupBy("src").agg(min("dl").as("nbr_min"))
      val stepped = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_min")), Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // pointer jumping (path halving): each node adopts its label's
      // label within the same pass — convergence in O(log diameter)
      // rounds, each round one checkpoint + one count job (the
      // convergence check rides the same materialization)
      def jump(df: DataFrame): DataFrame = df.alias("x")
        .join(df.select(col("id").as("jid"), col("label").as("jl")).alias("m"),
          col("x.label") === col("jid"), "left")
        .select(col("x.id").as("id"), col("x.prev").as("prev"),
          least(col("x.label"), coalesce(col("jl"), col("x.label"))).as("label"))
      val jumped = jump(stepped).localCheckpoint()
      changed = jumped.filter(col("label") =!= col("prev")).count()
      labels = jumped.select("id", "label")
      it += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Duplicate-CLUSTER resolution — the step after pair detection that real
    * dedup pipelines need: resolve near-dup pairs (SimHash, Hamming ≤ 6)
    * into connected components, label every member with the component's
    * smallest doc_id, and mark that doc as the cluster's canonical
    * representative (the one a keep-one-per-cluster pass would retain).
    * Transitive: A~B and B~C put A,B,C in one cluster even if A,C were
    * never a candidate pair. */
  /** Memoized cluster labels: d06 and d09 share one connected-components
    * run per (session, edge set). The CC result is a chain of
    * localCheckpoints whose plans never compare equal across builds, so a
    * CacheSlot can't key on it — this memo keys on the EDGES plan instead
    * and drops with the other battery caches via the releaseAll hook. */
  private val ccMemoLock = new Object
  private var ccMemo: Option[(DataFrame, DataFrame)] = None
  CacheSlot.onReleaseAll(() => ccMemoLock.synchronized { ccMemo = None })

  private def clusterLabelsFor(edges: DataFrame): DataFrame =
    ccMemoLock.synchronized {
      ccMemo match {
        case Some((e, lbl)) if (e.sparkSession eq edges.sparkSession) &&
            e.sameSemantics(edges) => lbl
        case _ =>
          val lbl = connectedComponents(edges)
          ccMemo = Some((edges, lbl))
          lbl
      }
    }

  def d06DedupClusters(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame = {
    val edges = simhashBandedPairs(Tables.documents(s, d), md5Hash64)
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b")
    val labels = clusterLabelsFor(edges)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("label")).as("is_canonical"))
      .orderBy("cluster_id", "doc_id")
  }

  /** DuckDB mirror of [[d06DedupClusters]]: identical SimHash edge set, then
    * a recursive-CTE transitive closure; label = min reachable id. */
  val d06Sql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs WHERE bit_count(xor(fa, fb)) <= 6
         UNION ALL
         SELECT id_b, id_a FROM pairs WHERE bit_count(xor(fa, fb)) <= 6),
       reach(id, r) AS (
         SELECT a, b FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       lab AS (
         SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)
       SELECT id AS doc_id, cluster_id,
              COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
              id = cluster_id AS is_canonical
       FROM lab ORDER BY cluster_id, doc_id"""

  /** Keep-one-per-cluster RESOLUTION POLICY — the step after [[d06DedupClusters]]
    * that actually shrinks a corpus: within each near-dup cluster keep the
    * highest-quality member (here: most tokens, ties to the lowest doc_id —
    * the keep-longest policy production dedup recipes default to; any
    * scoring column drops into the same `max_by`) and count what was
    * dropped. Emits one decision row per cluster.
    *
    * Scale shape: rides d06's bounded cluster machinery; the quality join
    * moves only (doc_id, n_tokens) pairs and the per-cluster argmax is a
    * map-side-combined `max_by` aggregation — no window over the corpus,
    * no text in any shuffle. */
  def d09KeepBest(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame = {
    val clusters = d06DedupClusters(s, d, maxHamming)
      .select("doc_id", "cluster_id")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    clusters.join(toks, "doc_id")
      .groupBy("cluster_id")
      .agg(
        // argmax by (n_tokens, -doc_id): most tokens, then lowest id
        max_by(struct(col("doc_id"), col("n_tokens")),
          struct(col("n_tokens"), negate(col("doc_id")))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.doc_id").as("kept_doc_id"),
        col("best.n_tokens").as("kept_tokens"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** DuckDB mirror of [[d09KeepBest]]: d06's cluster CTE chain + a
    * per-cluster top-1 window (same keep-longest/lowest-id order). */
  val d09Sql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs WHERE bit_count(xor(fa, fb)) <= 6
         UNION ALL
         SELECT id_b, id_a FROM pairs WHERE bit_count(xor(fa, fb)) <= 6),
       reach(id, r) AS (
         SELECT a, b FROM edges
         UNION
         SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       lab AS (
         SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id),
       tk AS (
         SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens FROM documents),
       j AS (
         SELECT lab.cluster_id, lab.id AS doc_id, tk.n_tokens
         FROM lab JOIN tk ON tk.doc_id = lab.id)
       SELECT cluster_id, doc_id AS kept_doc_id, n_tokens AS kept_tokens,
              cnt - 1 AS n_dropped
       FROM (SELECT j.*,
                    COUNT(*) OVER (PARTITION BY cluster_id) AS cnt,
                    ROW_NUMBER() OVER (PARTITION BY cluster_id
                      ORDER BY n_tokens DESC, doc_id) AS rk
             FROM j) t
       WHERE rk = 1 ORDER BY cluster_id"""

  /** Exact word-bigram Jaccard over a bounded id range — the ground-truth
    * pairwise measure (kept bounded: this is the verify step, not the sweep). */
  def d03NgramJaccard(s: SparkSession, d: String, maxId: Int = 25): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < maxId)
      .select(col("doc_id"), wordShingles(col("text"), 2).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-duplicates, exact over a bounded id range (the
    * oracle-checkable verify shape, like d03): all pairs with cosine ≥
    * `minCos`, cosine computed in double with a fixed left-fold order on
    * BOTH engines and rounded to 6 decimals so the threshold compare is
    * engine-stable. The unbounded scale path is the same computation behind
    * the LSH banding of [[graft.queries.Similarity.annLsh]]. */
  def d04EmbeddingNearDup(s: SparkSession, d: String, maxId: Int = 60,
                          minCos: Double = 0.2): DataFrame = {
    import graft.queries.Similarity.dot
    val vecs = Tables.embeddings(s, d).filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("norm").as("n_a"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("norm").as("n_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6).as("cos_r"))
      .filter(col("cos_r") >= minCos)
      .orderBy("id_a", "id_b")
  }

  val d04Sql: String =
    """WITH v AS (
         SELECT vec_id, embedding,
                sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                  for i in range(1, len(embedding)+1)])) AS norm
         FROM embeddings WHERE vec_id < 60)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                for i in range(1, len(a.embedding)+1)]) / (a.norm * b.norm), 6) AS cos_r
       FROM v a, v b
       WHERE a.vec_id < b.vec_id
         AND ROUND(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
           for i in range(1, len(a.embedding)+1)]) / (a.norm * b.norm), 6) >= 0.2
       ORDER BY id_a, id_b"""

  val d03Sql: String =
    """WITH sh AS (
         SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  for i in range(1, len(string_split(text, ' ')))]) AS s
         FROM documents WHERE doc_id < 25)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              LEN(list_intersect(a.s, b.s)) AS n_common,
              CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
                LEN(list_distinct(list_concat(a.s, b.s))) AS jaccard
       FROM sh a, sh b WHERE a.doc_id < b.doc_id
       ORDER BY id_a, id_b"""

  /** Cross-document shared-passage profile: per document, the fraction of
    * its distinct 5-word shingles that also occur in at least one OTHER
    * document — the passage-level contamination/boilerplate signal used to
    * cut documents that are largely copies of corpus-common text.
    *
    * Scale shape: shingles are hashed to 60-bit keys at the source, so the
    * distinct pass, the document-frequency aggregation, and the back-join
    * all shuffle only (id, hash) pairs — raw text never rides a shuffle.
    * Both aggregations are map-side combined; the hash (positive 60-bit
    * md5 prefix) is computed identically by both engines. */
  def d05SharedPassages(s: SparkSession, d: String, n: Int = 5): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
    // distinct (doc, shingle-hash): hash BEFORE any shuffle, and the
    // per-doc distinct ROW-LOCALLY (array_distinct before the explode) —
    // (doc_id, h) pairs are unique across docs by construction, so the
    // old corpus-wide `.distinct()` exchange bought nothing (guide §2.4)
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => graft.spark.functions.Md5Prefix.md5PrefixLong(
            array_join(slice(col("w"), i, lit(n)), " "), 15))))
        .as("h"))
    // document frequency as a WINDOW over h instead of aggregate +
    // self-join: the join form re-ran the shingle+md5 projection twice
    // per run (guide §2.4; same rows, nd identical by definition).
    // The (doc_id, h) shingle index is resident (the d01/d02 discipline)
    // so repeated serves skip the per-shingle md5 projection entirely.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    shingleSlot(sh).withColumn("nd", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        col("n_shared").cast("double") / col("n_shingles"))
      .select("doc_id", "n_shingles", "n_shared", "shared_ratio")
      .orderBy("doc_id")
  }

  val d05Sql: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents
         WHERE len(string_split(text, ' ')) >= 5),
       sh AS (
         SELECT DISTINCT doc_id,
           ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))::BIGINT AS h
         FROM toks, UNNEST(range(1, len(w) - 3)) AS u(i)),
       nd AS (SELECT h, COUNT(*) AS nd FROM sh GROUP BY h)
       SELECT sh.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS shared_ratio
       FROM sh JOIN nd USING (h)
       GROUP BY sh.doc_id ORDER BY sh.doc_id"""

  /** Benchmark-contamination scan: every corpus document scored by how many
    * of its distinct 8-word shingles appear in a held-out "benchmark" set
    * (here the deterministic doc_id % 50 == 0 slice) — the decontamination
    * pass every training pipeline runs before a data release.
    *
    * Scale shape: shingles are hashed to 60-bit keys at the source (text
    * never rides a shuffle); the benchmark shingle set is aggregated and
    * BROADCAST (benchmarks are fixed and tiny next to a corpus), so the
    * corpus side streams map-only — one scan, one broadcast, no shuffle of
    * the corpus at all beyond the per-document rollup. */
  def d07Contamination(s: SparkSession, d: String, n: Int = 8): DataFrame = {
    // per-doc shingle hashes with ROW-LOCAL distinct (the d05 shape):
    // (doc_id, h) is unique across docs by construction, so no
    // corpus-wide distinct exchange
    def sh(docs: DataFrame) = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => graft.spark.functions.Md5Prefix.md5PrefixLong(
            array_join(slice(col("w"), i, lit(n)), " "), 15))))
        .as("h"))
    // the benchmark side shingles ONLY the benchmark slice (the doc_id
    // filter pushes to the scan, so this pass reads 1/50 of the corpus —
    // the r17 shape shingled everything twice; an r18 interim window-
    // over-h variant sorted the whole corpus's shingles, which LOST at
    // sf1). The corpus side stays one map-only pass + a broadcast probe —
    // benchmarks are fixed-size next to a corpus, the right 100 TB shape.
    // both shingle indexes are resident (keyed — the benchmark set and
    // the corpus side are distinct plans; d05's 5-gram index is a third):
    // a serve pays the broadcast probe + rollup, not the md5 projection
    val bench = shingleSlot(
      sh(Tables.documents(s, d).filter(col("doc_id") % 50 === 0))
        .select(col("h")).distinct().withColumn("hit", lit(1L)))
    shingleSlot(sh(Tables.documents(s, d).filter(col("doc_id") % 50 =!= 0)))
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_rate",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .select("doc_id", "n_shingles", "n_contaminated", "contamination_rate")
      .orderBy("doc_id")
  }

  val d07Sql: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents
         WHERE len(string_split(text, ' ')) >= 8),
       sh AS (
         SELECT DISTINCT doc_id,
           ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS h
         FROM toks, UNNEST(range(1, len(w) - 6)) AS u(i)),
       bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
       SELECT sh.doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         ROUND(CAST(SUM(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*), 6) AS contamination_rate
       FROM sh LEFT JOIN bench ON sh.h = bench.h
       WHERE sh.doc_id % 50 <> 0
       GROUP BY sh.doc_id ORDER BY sh.doc_id"""

  /** SEMANTIC DEDUPLICATION (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding corpus with k-means, then search for
    * near-duplicate pairs ONLY inside each cluster — a vector keeps if no
    * LOWER-id vector in its cluster has cosine ≥ `tau` (keep-first, the
    * same policy as [[d01MinhashLsh]]'s keep-lowest-id and t20's cut
    * rule).
    *
    * Why this is the 100 TB shape: corpus-wide cosine search is O(N²);
    * clustering first bounds every comparison to one cluster, O(Σ c_k²),
    * and k is chosen ∝ N/target-cluster-size so c_k stays bounded (the
    * SemDeDup paper runs 50k clusters over 5B embeddings). The cluster
    * self-join shuffles only (cluster, id, vector) rows hash-partitioned
    * by cluster — each cluster's pair work is one partition-local loop,
    * and no text or payload ever enters the shuffle.
    *
    * Determinism: cluster assignment is the one-Lloyd-step
    * [[Similarity.oneStepKmeansAssign]] (exact-decimal means, 6-dp
    * distances, min-cid ties) and the pair cosine is the d04 discipline
    * (fixed-order double fold, rounded to 6 dp before the threshold). */
  def semanticDedup(emb: DataFrame, k: Int, tau: Double): DataFrame = {
    import graft.queries.Similarity.dot
    val assigned = Similarity.oneStepKmeansAssign(emb, k)
      .select("vec_id", "cluster")
    // zero-norm vectors have no defined cosine: keep them out of the
    // pair search entirely (they surface as is_dup = false), rather than
    // letting NaN comparisons decide — NaN ordering differs between
    // engines, so a NaN ≥ τ must never reach the threshold
    // both self-join sides read `v` — slot-cached so the norm projection
    // and the assignment join run once per corpus, not twice per pass
    val v = semanticVSlot(emb.join(assigned, "vec_id")
      .select(col("vec_id"), col("cluster"), col("e"),
        sqrt(dot(col("e"), col("e"))).as("n"))
      .filter(col("n") > 0))
    val a = v.select(col("cluster"), col("vec_id").as("id_a"),
      col("e").as("e_a"), col("n").as("n_a"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"),
      col("e").as("e_b"), col("n").as("n_b"))
    val dupIds = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6).as("cos_r"))
      .filter(col("cos_r") >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dupIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Battery entry d10: SemDeDup over the embedding corpus (k = 10
    * clusters at this scale, τ = 0.3 — the corpus has no planted
    * near-identical pairs, so the threshold sits where intra-cluster
    * structure exists; SemDedupSpec plants true dups and checks recall). */
  def d10SemanticDedup(s: SparkSession, d: String, k: Int = 10,
                       tau: Double = 0.3): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    semanticDedup(emb, k, tau).orderBy("vec_id")
  }

  /** Exact-substring span dedup (the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" ExactSubstr discipline, expressed
    * relationally): every n-token window is hashed; the GLOBAL first
    * occurrence of each window value — minimal (doc_id, position) — is the
    * owner; every other occurrence is a duplicated window, and the tokens
    * it covers are REMOVED from their document. Output per document: token
    * counts before/after and an md5 fingerprint of the cleaned text, so
    * the oracle pins the reconstructed post-removal corpus byte-for-byte.
    *
    * Scale shape (the suffix-array of the paper is a single-machine
    * construction; this is the shuffle-architected equivalent):
    *  - windows are hashed to 60-bit keys AT THE SOURCE — raw text never
    *    rides a shuffle; the ownership pass groups (hash) → min(key),
    *    map-side combined;
    *  - ownership is decided by one integer min per hash — no pairwise
    *    comparisons, no candidate blowup on corpus-common boilerplate
    *    (a window duplicated 10^6 times still aggregates to ONE owner);
    *  - coverage explodes only DUPLICATE windows (n rows each, n=8), a
    *    small fraction of the corpus, then one anti-join removes covered
    *    token positions;
    *  - reconstruction groups by doc_id — bounded by document length,
    *    never by corpus size. */
  def d11ExactSubstr(s: SparkSession, d: String, n: Int = 8): DataFrame =
    exactSubstrSpans(Tables.documents(s, d), n, windowHash = md5Hash60)

  /** The library form over any (doc_id, text) frame — see [[d11ExactSubstr]].
    *
    * `windowHash` follows the d01/d02 hash-economy split: the library
    * default is xxhash64 (non-cryptographic, several times cheaper per
    * window at 100 TB — and the window pass hashes EVERY n-token window of
    * the corpus, so it is this operator's dominant constant); the battery
    * entry passes [[md5Hash60]] so DuckDB can mirror the hashes exactly.
    * The covered-positions probe is a binary search over the per-doc
    * sorted covered set ([[graft.spark.functions.SortedContains]]), so a
    * pathological fully-duplicated long document costs
    * O(n_tokens · log n_tokens), not O(n_tokens²). */
  def exactSubstrSpans(documents: DataFrame, n: Int,
                       windowHash: Column => Column = c => xxhash64(c))
      : DataFrame = {
    val toks = documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // n-token windows hashed at source; i is the 1-based start
    val win = toks.filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => struct(i.as("i"),
          windowHash(array_join(slice(col("w"), i, lit(n)), " ")).as("h"))))
        .as("x"))
      .select(col("doc_id"), col("x.i").cast("long").as("i"),
        col("x.h").cast("long").as("h"))
    // global first occurrence per window value: one integer min per hash
    // (documents hold < 10^7 tokens; doc_id * 10^7 + i is collision-free
    // and identical in the oracle)
    val keyed = win.withColumn("k",
      col("doc_id") * lit(10000000L) + col("i"))
    val owner = keyed.groupBy("h").agg(min(col("k")).as("okey"))
    val dup = keyed.join(owner, "h").filter(col("k") =!= col("okey"))
      .select("doc_id", "i")
    // positions covered by duplicated windows, as ONE small SORTED set per
    // doc — reconstruction then never explodes the corpus's tokens: the
    // only corpus-sized shuffle in the whole operator is the (doc,
    // window-hash) ownership pass above. Documents with no duplicated
    // window skip the join entirely (left join against the tiny covered
    // side).
    // the covered sets are SMALL by construction (only duplicated
    // windows' docs appear) and are the operator's entire derived state —
    // slot-cached like the d01/d02 index frames, so repeated serves on an
    // unchanged corpus skip the corpus-wide window-hash + ownership pass
    // (the plan's one corpus-sized shuffle) and pay only reconstruction
    val covered = exactSubstrCoveredSlot(dup
      .select(col("doc_id"), explode(sequence(col("i"),
        col("i") + (n - 1))).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("cov")))
    val wIdx = transform(col("w"),
      (t, i) => struct((i + 1).cast("long").as("p"), t.as("tok")))
    val keptArr = when(col("cov").isNull, col("w")).otherwise(
      transform(
        filter(wIdx, x => !graft.spark.functions.SortedContains
          .sortedContains(col("cov"), x.getField("p"))),
        x => x.getField("tok")))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        keptArr.as("kept"))
      .filter(size(col("kept")) > 0) // fully-duplicated docs drop, as in the oracle
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        md5(array_join(col("kept"), " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  val d11Sql: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       tokpos AS (
         SELECT doc_id, CAST(r.p AS BIGINT) AS p, w[r.p] AS tok
         FROM toks, UNNEST(range(1, len(w) + 1)) AS r(p)),
       win AS (
         SELECT doc_id, CAST(u.i AS BIGINT) AS i,
           ('0x' || substr(md5(array_to_string(w[u.i:u.i+7], ' ')), 1, 15))::BIGINT AS h
         FROM toks, UNNEST(range(1, len(w) - 6)) AS u(i)
         WHERE len(w) >= 8),
       own AS (
         SELECT h, MIN(doc_id * 10000000 + i) AS okey FROM win GROUP BY h),
       dup AS (
         SELECT w.doc_id, w.i FROM win w JOIN own o USING (h)
         WHERE w.doc_id * 10000000 + w.i <> o.okey),
       cov AS (
         SELECT DISTINCT doc_id, i + c.k AS p
         FROM dup, UNNEST(range(0, 8)) AS c(k)),
       kept AS (
         SELECT t.doc_id, t.p, t.tok FROM tokpos t
         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.p = t.p
         WHERE cov.p IS NULL)
       SELECT k.doc_id,
         CAST(len(toks.w) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_kept,
         CAST(len(toks.w) AS BIGINT) - COUNT(*) AS n_removed,
         md5(string_agg(k.tok, ' ' ORDER BY k.p)) AS clean_hash
       FROM kept k JOIN toks ON toks.doc_id = k.doc_id
       GROUP BY k.doc_id, toks.w ORDER BY k.doc_id"""

  val d10Sql: String =
    s"""WITH ${Similarity.kmeansAssignCtes(10)},
       v0 AS (
         SELECT a1.vec_id, a1.cluster, e.e,
                sqrt(list_sum([e.e[i] * e.e[i]
                  for i in range(1, len(e.e)+1)])) AS n
         FROM a1 JOIN e USING (vec_id)),
       -- mirror the Scala side's zero-norm guard: vectors with no defined
       -- cosine never enter the pair search in EITHER engine (NaN ordering
       -- would otherwise differ between engines / DuckDB versions)
       v AS (SELECT * FROM v0 WHERE n > 0),
       dup AS (
         SELECT DISTINCT b.vec_id FROM v a JOIN v b
           ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         WHERE ROUND(list_sum([a.e[i] * b.e[i]
                 for i in range(1, len(a.e)+1)]) / (a.n * b.n), 6) >= 0.3)
       SELECT a1.vec_id, a1.cluster,
              (dup.vec_id IS NOT NULL) AS is_dup
       FROM a1 LEFT JOIN dup ON dup.vec_id = a1.vec_id
       ORDER BY a1.vec_id"""
}
