package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Multimodal-column plumbing: opaque binary payloads + typed metadata.
  *
  * The container has no image/audio codecs, so the decode step is a
  * deterministic STUB ([[FakeDecoder]]) — but everything Spark-side is real:
  * the binary column schema, the `Dataset[MediaBlob]` encoder, the
  * `mapPartitions` batch shape (decoder state constructed once per partition,
  * exactly how a JNI/codec handle would be), and the partition-parallel
  * feature extraction. Swapping `FakeDecoder` for a real codec changes no
  * plumbing.
  */
object Multimodal {

  /** The gram-simhash fingerprints get their OWN resident slot: the text
    * pipelines' token simhash (d02/d06) must not evict the media index
    * between battery queries — same pattern as the ANN index slots. */
  private val phashSlot = new CacheSlot
  private val phashSizedSlot = new CacheSlot
  private val phashPairsSlot = new CacheSlot

  /** An opaque media payload with typed metadata — the schema a 100 TB
    * multimodal lakehouse table would carry (payload inline for small blobs;
    * for large ones this column holds a pointer and the decode step fetches). */
  case class MediaBlob(media_id: Long, payload: Array[Byte], mime: String,
                       n_bytes: Long)

  /** Extracted features — fixed-width, columnar-friendly. */
  case class MediaFeatures(media_id: Long, n_bytes: Long, checksum: Long,
                           width: Int, height: Int)

  /** Deterministic stand-in for an image decoder: derives "dimensions" from
    * a content digest of the payload bytes. Stateful-per-partition like a
    * real codec handle (the MessageDigest instance is reused across rows).
    * The checksum is the first 60 bits of sha256 — positive, so the modular
    * "dimension" arithmetic is engine-stable and [[mm02Sql]] can derive
    * byte-identical features. */
  final class FakeDecoder {
    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    def decode(b: MediaBlob): MediaFeatures = {
      sha.reset()
      val d = sha.digest(b.payload)
      var crc = 0L
      var i = 0
      while (i < 8) { crc = (crc << 8) | (d(i) & 0xffL); i += 1 }
      crc = crc >>> 4 // 60 bits, always positive
      MediaFeatures(b.media_id, b.n_bytes, crc,
        width = 64 + (crc % 512).toInt,
        height = 64 + ((crc / 512) % 512).toInt)
    }
  }

  /** Build a binary media table from `documents` (text bytes as the payload —
    * stands in for image bytes; schema/plumbing identical). */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaBlob] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .as[MediaBlob]
  }

  /** Partition-parallel decode + feature extraction: one decoder per
    * partition, streamed batches — never a collect, never per-row codec
    * setup. */
  def extractFeatures(blobs: Dataset[MediaBlob]): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      val dec = new FakeDecoder
      it.map(dec.decode)
    }
  }

  /** Query-battery entry: binary-column stats (SQL-expressible slice of the
    * pipeline — byte lengths + content digest over the binary payload). */
  def mm01BinaryStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        sha2(col("text"), 256).as("digest"))
      .orderBy("doc_id")

  val mm01Sql: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS digest
       FROM documents ORDER BY doc_id"""

  /** Full pipeline as a battery entry. The decode runs through the real
    * mapPartitions plumbing; the stub's digest-derived features are
    * deterministic, so the oracle reproduces them exactly. */
  def mm02Features(s: SparkSession, d: String): DataFrame =
    extractFeatures(mediaTable(s, d)).toDF().orderBy("media_id")

  /** DuckDB mirror of [[mm02Features]]: same 60-bit sha256 checksum (first
    * 15 hex chars — positive in both engines), same modular dimension
    * arithmetic. */
  val mm02Sql: String =
    """WITH f AS (
         SELECT doc_id AS media_id,
                octet_length(encode(text)) AS n_bytes,
                ('0x' || substr(sha256(text),1,15))::BIGINT AS checksum
         FROM documents)
       SELECT media_id, n_bytes, checksum,
              CAST(64 + checksum % 512 AS INT) AS width,
              CAST(64 + (checksum // 512) % 512 AS INT) AS height
       FROM f ORDER BY media_id"""

  /** Media near-dup via perceptual hashes: a 64-bit content-structure
    * hash (SimHash over raw byte 4-grams — no tokenization assumption, so
    * it applies to ANY binary payload) banded into 4×16-bit keys; items
    * sharing a band become candidate pairs (equi-join — never an all-pairs
    * product), verified by full-hash hamming distance, all codegen'd bit
    * ops. Byte-gram SimHash IS similarity-preserving, so the planted
    * near-dup payloads genuinely land within the hamming radius here.
    *
    * This is the image-dedup shape at 100 TB: banding bounds candidate
    * generation exactly like MinHash-LSH for text (bucket caps as in
    * [[graft.queries.Dedup.d01MinhashLsh]] apply unchanged). A real
    * DCT/wavelet pHash drops in at the hash column and changes nothing
    * downstream. */
  def mm03PhashDedup(s: SparkSession, d: String,
                     maxHamming: Int = 6): DataFrame = {
    val grams = (c: Column) => expr(
      "transform(sequence(1, greatest(1, length(text) - 3)), " +
        "i -> substring(text, i, 4))")
    Dedup.simhashBandedPairs(Tables.documents(s, d), Dedup.md5Hash64, grams,
        slot = phashSlot, sizedSlot = phashSizedSlot,
        pairsSlot = phashPairsSlot)
      .select(col("id_a").as("media_a"), col("id_b").as("media_b"),
        col("hamming").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("media_a", "media_b")
  }

  val mm03Sql: String =
    s"""WITH ${Dedup.simhashPairsCteWith(
        "SELECT doc_id, substr(text, i, 4) AS tok FROM documents, " +
          "UNNEST(range(1, greatest(2, len(text) - 2))) t(i)")}
       SELECT id_a AS media_a, id_b AS media_b,
              CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       FROM pairs
       WHERE bit_count(xor(fa, fb)) <= 6
       ORDER BY media_a, media_b"""

  /** Shared downstream of both chunkers: distinct (media_id, chunk-hash)
    * pairs → per-media shared-chunk stats. Scale shape (the d05
    * discipline): payload bytes never ride a shuffle — chunks become
    * (media_id, 60-bit hash) pairs at the scan; both aggregations are
    * map-side combined; the frequency join moves only (hash, count)
    * pairs. */
  // keyed multi-slot: mm04 (fixed), mm05 (CDC) and mm06 (gear) chunk the
  // same corpus through this one downstream — the (media_id, h) chunk
  // index is tiny and is each operator's entire derived state, so it
  // stays resident like the d01/d02 index frames
  private val chunksSlot = new CacheSlot(4)

  private[queries] def sharedChunkStats(chunks0: DataFrame): DataFrame = {
    val chunks = chunksSlot(chunks0)
    // per-chunk multiplicity as a WINDOW over h instead of an
    // aggregate + self-join: the join form evaluated the `chunks`
    // subtree twice per run — for mm05 that is the per-position-digest
    // chunker, the most expensive projection in the battery (guide §2.4;
    // same surviving rows, nm per row identical by definition)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    chunks.withColumn("nm", count(lit(1)).over(w))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nm") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        col("n_shared").cast("double") / col("n_chunks"))
      .orderBy("media_id")
  }

  /** Fixed-offset chunker over a BINARY payload column: cut into
    * `chunkLen`-byte chunks, hash to 60-bit keys, distinct per media. */
  private[queries] def fixedChunks(media: DataFrame, chunkLen: Int): DataFrame =
    media
      .select(col("media_id"),
        // per-media distinct is ROW-LOCAL (one media = one row), so
        // array_distinct before the explode replaces the corpus-wide
        // distinct exchange the old shape paid (guide §2.4)
        explode(array_distinct(transform(
          expr(s"transform(sequence(0, greatest(0, cast(floor((length(payload)-1)/$chunkLen) as int))), " +
            s"i -> substring(payload, i*$chunkLen+1, $chunkLen))"),
          c => graft.spark.functions.Md5Prefix.md5PrefixLong(c, 15))))
        .as("h"))

  /** Content-defined chunker over a BINARY payload column: a boundary
    * falls after byte `i` wherever the hash of the `window`-byte window
    * ending at `i` is ≡ 0 (mod `divisor`) — so boundaries move WITH the
    * content, and a payload shifted by a few bytes still cuts into mostly
    * identical chunks (the property fixed offsets lack; see
    * [[mm05CdcChunkDedup]]). The window hash here is a per-position
    * digest — the SQL-expressible stand-in for FastCDC's gear rolling
    * hash, which drops in via mapPartitions at the same (media_id, hash)
    * interface when single-pass throughput matters. Expected chunk length
    * is `divisor` bytes; the final byte is always a boundary. */
  private[queries] def cdcChunks(media: DataFrame, window: Int = 8,
                                 divisor: Int = 32): DataFrame = {
    val w = window
    media
      .select(col("media_id"), col("payload"),
        sort_array(array_distinct(concat(
          filter(sequence(lit(1), greatest(lit(1), length(col("payload")))),
            i => (i >= w) && (graft.spark.functions.Md5Prefix.md5PrefixLong(
              col("payload").substr(i - (w - 1), lit(w)), 15) % divisor === 0)),
          array(length(col("payload")))))).as("b"))
      .select(col("media_id"), explode(array_distinct(transform(
        expr("""transform(sequence(1, size(b)),
             j -> substring(payload,
                    IF(j = 1, 0, element_at(b, j - 1)) + 1,
                    element_at(b, j) - IF(j = 1, 0, element_at(b, j - 1))))"""),
        c => graft.spark.functions.Md5Prefix.md5PrefixLong(c, 15))))
        .as("h"))
  }

  /** Chunk-level dedup estimator over the media table's BINARY payloads:
    * every payload is cut into fixed 32-byte chunks, chunks are hashed to
    * 60-bit keys, and each media reports how many of its distinct chunks
    * also occur in ANOTHER payload — the storage-dedup ratio a blob store
    * (or a training-data lake holding repeated crawl snapshots) would
    * reclaim. Fixed offsets miss duplicates shifted by even one byte —
    * [[mm05CdcChunkDedup]] is the content-defined variant that catches
    * them. Oracle: the payload bytes are the documents' text (pure ASCII
    * in the testdata), so DuckDB's char-indexed substr addresses the same
    * bytes the Spark side slices from the binary column. */
  def mm04ChunkDedup(s: SparkSession, d: String, chunkLen: Int = 32): DataFrame =
    sharedChunkStats(fixedChunks(
      mediaTable(s, d).toDF().select(col("media_id"), col("payload")),
      chunkLen))

  val mm04Sql: String =
    """WITH ch AS (
         SELECT DISTINCT doc_id AS media_id,
                ('0x' || substr(md5(substr(text, CAST(i*32+1 AS INT), 32)), 1, 15))::BIGINT AS h
         FROM documents,
              UNNEST(range(0, greatest(0, CAST(floor((length(text)-1)/32) AS BIGINT)) + 1)) t(i)),
       f AS (SELECT h, COUNT(*) AS nm FROM ch GROUP BY h)
       SELECT media_id, COUNT(*) AS n_chunks,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                AS shared_ratio
       FROM ch JOIN f USING (h)
       GROUP BY media_id ORDER BY media_id"""

  /** FastCDC-style GEAR rolling-hash chunker — the single-pass throughput
    * path behind the same (media_id, 60-bit chunk hash) interface as
    * [[cdcChunks]]. Per byte: `h = (h << 1) + gear(b)`; a boundary falls
    * where `(h & mask) == 0` (mask bits ⇒ expected chunk length 2^bits),
    * with min/max chunk bounds preventing degenerate cuts. One pass, no
    * per-position digests — O(bytes) with a table lookup per byte, the
    * shape that sustains 100 TB (the SQL-expressible [[cdcChunks]] pays a
    * digest per position and exists for the DuckDB oracle). Runs as
    * mapPartitions: payload bytes stay in the scan task; only (media_id,
    * hash) pairs ever shuffle. Deterministic: the gear table derives from
    * a fixed seed. */
  private[queries] def gearChunks(media: DataFrame, maskBits: Int = 5,
                                  minChunk: Int = 8,
                                  maxChunk: Int = 128): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    val mask = (1L << maskBits) - 1
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition state, like a codec handle: gear table + digest
        val rnd = new java.util.Random(0x9E3779B97F4A7C15L)
        val gear = Array.fill(256)(rnd.nextLong())
        val md5 = java.security.MessageDigest.getInstance("MD5")
        def hash60(bytes: Array[Byte], from: Int, until: Int): Long = {
          md5.reset()
          md5.update(bytes, from, until - from)
          val d = md5.digest()
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          h >>> 4
        }
        it.flatMap { case (id, payload) =>
          val out = Vector.newBuilder[(Long, Long)]
          var start = 0
          var h = 0L
          var i = 0
          while (i < payload.length) {
            h = (h << 1) + gear(payload(i) & 0xff)
            val len = i - start + 1
            if ((len >= minChunk && (h & mask) == 0L) || len >= maxChunk) {
              out += ((id, hash60(payload, start, i + 1)))
              start = i + 1
              h = 0L
            }
            i += 1
          }
          if (start < payload.length || payload.length == 0)
            out += ((id, hash60(payload, start, payload.length)))
          // per-payload distinct is ALL the dedup needed: the media table
          // has one row per media_id, so no (media_id, h) pair can recur
          // across rows — a DataFrame-level distinct here would add a
          // pointless extra shuffle before sharedChunkStats' own
          out.result().distinct
        }
      }
      .toDF("media_id", "h")
  }

  /** Chunk-level dedup with CONTENT-DEFINED boundaries over the media
    * table's binary payloads ([[cdcChunks]]): the estimator a blob store
    * actually wants, because a payload that re-appears shifted by a few
    * bytes (a prepended header, an edited preamble — the common case in
    * crawl snapshots) still shares almost all its chunks, where the
    * fixed-offset cut ([[mm04ChunkDedup]]) shares none. Oracle-checked:
    * the payloads are the documents' bytes (pure ASCII in the testdata,
    * so DuckDB's char-indexed substr addresses the same bytes the Spark
    * side slices from the binary column). */
  def mm05CdcChunkDedup(s: SparkSession, d: String): DataFrame =
    sharedChunkStats(cdcChunks(
      mediaTable(s, d).toDF().select(col("media_id"), col("payload"))))

  /** Battery entry mm06: the same chunk-dedup estimator served by the
    * GEAR single-pass chunker ([[gearChunks]]) — the production 100 TB
    * path. Timed by the bench right next to mm05's per-position-digest
    * oracle twin, so `bench_out.json` carries the measured gear-vs-digest
    * speedup every round. Oracle-checked via [[mm06Sql]]'s recursive CTE
    * (one byte per recursion step, the same gear table inlined as
    * literals); correctness also rides MultimodalSpec's shift-robustness,
    * partitioning-independence, and gear-vs-digest agreement specs. */
  def mm06GearChunkDedup(s: SparkSession, d: String): DataFrame = {
    // guard the oracle's documented assumption: [[mm06Sql]] addresses
    // payload bytes via CHAR-indexed `ascii(substr(...))`, which equals
    // the Spark byte-wise chunker only for pure-ASCII payloads — a
    // multi-byte or >127 byte must fail loudly here, not silently
    // diverge the engines (the filter keeps every row; assert_true
    // throws on the first violation and can't be pruned away)
    val asciiChecked = Tables.documents(s, d)
      .filter(isnull(assert_true(col("text").rlike("^[\\x00-\\x7F]*$"),
        lit("mm06 oracle assumes pure-ASCII payloads; non-ASCII text found"))))
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
    sharedChunkStats(gearChunks(asciiChecked))
  }

  /** DuckDB mirror of [[mm06GearChunkDedup]]: the gear recurrence
    * `h = (h << 1) + gear(byte)` is a per-document sequential state
    * machine, expressed as a recursive CTE advancing one byte per
    * iteration (state = position, chunk start, rolling h; every document
    * steps in the same breadth-wise pass, so total work is O(total
    * bytes)). Java-long wraparound becomes explicit `% 2^64` on HUGEINT;
    * `h & mask` becomes `% 2^maskBits` (identical for the low-bit mask on
    * a non-negative value). The 256-entry gear table is inlined as
    * literals from the SAME `java.util.Random(seed)` stream the Spark
    * side draws in [[gearChunks]], so both engines chunk identically. */
  val mm06Sql: String = {
    val maskBits = 5; val minChunk = 8; val maxChunk = 128
    val rnd = new java.util.Random(0x9E3779B97F4A7C15L)
    val gearRows = (0 until 256).map { b =>
      s"($b,${java.lang.Long.toUnsignedString(rnd.nextLong())}::HUGEINT)"
    }.mkString(",")
    s"""WITH RECURSIVE gear(b, g) AS (VALUES $gearRows),
       docs0 AS (SELECT doc_id AS media_id, text, length(text) AS len FROM documents),
       st(media_id, pos, cstart, nstart, h, cut) AS (
         SELECT media_id, 0::BIGINT, 0::BIGINT, 1::BIGINT, 0::HUGEINT, FALSE FROM docs0
         UNION ALL
         SELECT media_id, pos, cstart,
                CASE WHEN cut THEN pos + 1 ELSE cstart END,
                CASE WHEN cut THEN 0::HUGEINT ELSE h2 END,
                cut
         FROM (
           SELECT st.media_id, st.pos + 1 AS pos, st.nstart AS cstart,
                  (st.h * 2 + g.g) % 18446744073709551616::HUGEINT AS h2,
                  ((st.pos + 1 - st.nstart + 1 >= $minChunk
                      AND (st.h * 2 + g.g) % 18446744073709551616::HUGEINT
                            % ${1 << maskBits} = 0)
                   OR st.pos + 1 - st.nstart + 1 >= $maxChunk) AS cut
           FROM st
           JOIN docs0 d ON d.media_id = st.media_id
           JOIN gear g ON g.b = ascii(substr(d.text, CAST(st.pos + 1 AS INT), 1))
           WHERE st.pos < d.len
         ) x),
       chunks AS (
         SELECT st.media_id,
                substr(d.text, CAST(st.cstart AS INT), CAST(st.pos - st.cstart + 1 AS INT)) AS c
         FROM st JOIN docs0 d USING (media_id) WHERE st.cut
         UNION ALL
         SELECT st.media_id, substr(d.text, CAST(st.nstart AS INT), CAST(d.len - st.nstart + 1 AS INT))
         FROM st JOIN docs0 d USING (media_id)
         WHERE st.pos = d.len AND st.nstart <= d.len
         UNION ALL
         SELECT media_id, '' FROM docs0 WHERE len = 0),
       ch AS (
         SELECT DISTINCT media_id, ('0x' || substr(md5(c),1,15))::BIGINT AS h FROM chunks),
       f AS (SELECT h, COUNT(*) AS nm FROM ch GROUP BY h)
       SELECT media_id, COUNT(*) AS n_chunks,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                AS shared_ratio
       FROM ch JOIN f USING (h)
       GROUP BY media_id ORDER BY media_id"""
  }

  val mm05Sql: String =
    """WITH b AS (
         SELECT doc_id AS media_id, text, i AS pos
         FROM documents, UNNEST(range(8, length(text) + 1)) t(i)
         WHERE ('0x' || substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 15))::BIGINT
                 % 32 = 0
         UNION
         SELECT doc_id, text, length(text) FROM documents),
       ordered AS (
         SELECT media_id, text, pos,
                lag(pos, 1, 0) OVER (PARTITION BY media_id ORDER BY pos) AS prev
         FROM b),
       ch AS (
         SELECT DISTINCT media_id,
                ('0x' || substr(md5(substr(text, CAST(prev + 1 AS INT),
                                           CAST(pos - prev AS INT))), 1, 15))::BIGINT AS h
         FROM ordered),
       f AS (SELECT h, COUNT(*) AS nm FROM ch GROUP BY h)
       SELECT media_id, COUNT(*) AS n_chunks,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              CAST(SUM(CASE WHEN nm > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                AS shared_ratio
       FROM ch JOIN f USING (h)
       GROUP BY media_id ORDER BY media_id"""
}
