package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables
import QueryUtils._

/** Text-analysis operators for the training-data pipeline, over `documents`.
  *
  * All of these are expressed with built-in (codegen'd) functions — no UDFs —
  * so they stay inside whole-stage codegen and scale linearly with input
  * splits: every operator here is embarrassingly parallel per-row except the
  * dedup window/groupBys, which shuffle once on the hash key.
  */
object TextOps {

  private val dsirToksSlot = new CacheSlot
  private val t18TriSlot = new CacheSlot
  // temperature-mixture inputs: t27's corpus (doc_id, source, n_tok) and
  // t32's surviving-candidates frame serve through one selection function
  private val mixDocsSlot = new CacheSlot(4)
  // t19's sharded token-count frame (feeds the per-shard base offsets AND
  // the local running sums — 4 scan+regex replays per pass without it)
  private val packShardSlot = new CacheSlot(2)

  /** Per-document structural stats: chars, tokens, punctuation ratio. */
  def t01TextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_live"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[^.!?]", "")).as("n_punct"))
      .orderBy("doc_id")

  val t01Sql: String =
    """SELECT doc_id, LENGTH(text) AS n_chars_live,
       LEN(regexp_extract_all(text, '\S+')) AS n_tokens,
       LENGTH(regexp_replace(text, '[^.!?]', '', 'g')) AS n_punct
       FROM documents ORDER BY doc_id"""

  /** Exact deduplication: content-hash groups; first doc_id in a group is the
    * keeper, later ones are flagged dup. One shuffle on the 256-bit hash; at
    * 100 TB this is the canonical exact-dedup plan (hash once, never compare
    * full texts across the wire). */
  def t02ExactDedup(s: SparkSession, d: String): DataFrame =
    exactDedupFrom(Tables.documents(s, d))

  def exactDedupFrom(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("dup_rank", row_number().over(w))
      .select(col("doc_id"), col("h"), (col("dup_rank") > 1).as("is_dup"))
      .orderBy("doc_id")
  }

  val t02Sql: String =
    """SELECT doc_id, h, dup_rank > 1 AS is_dup FROM (
         SELECT doc_id, sha256(text) AS h,
                ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS dup_rank
         FROM documents) t
       ORDER BY doc_id"""

  /** Language profile: per-lang doc counts and length stats. */
  def t03LangProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  val t03Sql: String =
    """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Quality scoring: stopword ratio, mean token length, length flags —
    * the standard cheap pre-training quality filters. */
  def t04QualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = expr("split(text, ' ')")
    val stops = expr(
      "size(filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and')))")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        stops.cast("long").as("n_stopwords"),
        (stops.cast("double") / size(toks)).as("stopword_ratio"),
        (col("n_chars") < lit(150)).as("too_short"))
      .orderBy("doc_id")
  }

  val t04Sql: String =
    """SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens,
       LEN(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and'))) AS n_stopwords,
       CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS stopword_ratio,
       n_chars < 150 AS too_short
       FROM documents ORDER BY doc_id"""

  /** Document fingerprinting: md5 of casefolded, punctuation-stripped,
    * whitespace-collapsed text — robust to formatting-only edits. */
  def t05Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " "))).as("fingerprint"))
      .orderBy("doc_id")

  val t05Sql: String =
    """SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
       FROM documents ORDER BY doc_id"""

  /** Token-count histogram: corpus-level token budget per source — the
    * "how many tokens do I have" query every training pipeline runs. */
  /** `tokenCounter` is the pluggable tokenizer seam: the default
    * whitespace counter is the DuckDB-expressible oracle twin; pass
    * [[graft.spark.functions.Bpe.countUdf]] for real BPE-token-denominated
    * budgets (broadcast merge table, row-local, zero extra shuffles). */
  def t06TokenBudget(s: SparkSession, d: String,
                     tokenCounter: Column => Column =
                       graft.spark.functions.Bpe.whitespaceCount): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("lang"),
        tokenCounter(col("text")).as("toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("tokens"))
      .orderBy("source", "lang")

  val t06Sql: String =
    """SELECT source, lang, COUNT(*) AS docs,
       CAST(SUM(LEN(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens
       FROM documents GROUP BY source, lang ORDER BY source, lang"""

  /** Length histogram: doc-size distribution in fixed 50-char buckets — the
    * shape check every corpus ingest runs. Integer bucket math is exact in
    * both engines. */
  def t08LengthHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select((floor(col("n_chars") / 50) * 50).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"))
      .orderBy("bucket")

  val t08Sql: String =
    """SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket, COUNT(*) AS docs
       FROM documents GROUP BY 1 ORDER BY bucket"""

  /** Deterministic hash sampling: content-stable 20% sample keyed on a hash
    * of the document id — reproducible across engines/runs/cluster sizes,
    * unlike `rand()`-based sampling. The standard way to carve eval shards
    * out of a training corpus. */
  def t09HashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h", graft.spark.functions.Md5Prefix
        .md5PrefixLong(col("doc_id").cast("string"), 4).cast("int"))
      .filter(col("h") % 10 < 2)
      .groupBy("lang")
      .agg(count(lit(1)).as("sampled"), sum(col("n_chars")).as("sampled_chars"))
      .orderBy("lang")

  val t09Sql: String =
    """SELECT lang, COUNT(*) AS sampled, CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
       FROM documents
       WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT) % 10 < 2
       GROUP BY lang ORDER BY lang"""

  /** Language identification: score each document against per-language
    * stopword profiles (the cheap n-gram/stopword heuristic production
    * pipelines run before a real classifier); argmax with a fixed
    * tie-break order. Purely codegen'd set-membership counting —
    * embarrassingly parallel at any scale. */
  def t10LangId(s: SparkSession, d: String): DataFrame = {
    def hits(words: Seq[String]): Column =
      size(expr(s"filter(split(lower(text), ' '), x -> x IN (${
        words.map(w => s"'$w'").mkString(", ")}))")).cast("long")
    val en = hits(Seq("the", "and", "of", "to", "a"))
    val de = hits(Seq("der", "und", "die", "das", "ein"))
    val fr = hits(Seq("le", "la", "et", "les", "des"))
    Tables.documents(s, d)
      .select(col("doc_id"), en.as("n_en"), de.as("n_de"), fr.as("n_fr"))
      .withColumn("lang_guess",
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr"), "en")
          .when(col("n_de") >= col("n_fr"), "de")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  val t10Sql: String =
    """SELECT doc_id,
       LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','a'))) AS n_en,
       LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('der','und','die','das','ein'))) AS n_de,
       LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','les','des'))) AS n_fr,
       CASE WHEN LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','a')))
                 >= LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('der','und','die','das','ein')))
             AND LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','a')))
                 >= LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','les','des')))
            THEN 'en'
            WHEN LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('der','und','die','das','ein')))
                 >= LEN(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','les','des')))
            THEN 'de'
            ELSE 'fr' END AS lang_guess
       FROM documents ORDER BY doc_id"""

  /** Keyword extraction: top terms per document by a TF-IDF-style score.
    * The score is the exact rational tf/df (document frequency over the
    * WHOLE corpus) — same ranking as tf·(N/df) for a fixed corpus, and,
    * unlike ln-based idf, a single correctly-rounded IEEE division that
    * both engines compute bit-identically.
    *
    * Scale shape: tf and df are both map-side-combined aggregations; the
    * tf side is bounded by the `maxId` probe slice, so it broadcasts into
    * the join and the corpus-sized document-frequency table never rides a
    * join shuffle to meet a small probe; the top-k is a per-doc window
    * over the already-aggregated (doc, term, tf) rows, never raw tokens. */
  def t11Keywords(s: SparkSession, d: String, maxId: Int = 50,
                  k: Int = 5): DataFrame = {
    val longToks = expr("filter(split(text, ' '), w -> length(w) > 3)")
    val tf = Tables.documents(s, d)
      .filter(col("doc_id") < maxId)
      .select(col("doc_id"), explode(longToks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency via ROW-LOCAL per-doc dedup + a plain count:
    // countDistinct(doc_id) per term was a two-phase distinct aggregation
    // shuffling every (term, doc) occurrence; array_distinct collapses
    // duplicates inside the row first, so one map-side-combined count
    // over already-unique (doc, term) pairs gives the same df (guide §2.3)
    val df = Tables.documents(s, d)
      .select(explode(array_distinct(longToks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
    broadcast(tf).join(df, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  val t11Sql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       toks2 AS (SELECT doc_id, term FROM toks WHERE len(term) > 3),
       tf AS (
         SELECT doc_id, term, COUNT(*) AS tf
         FROM toks2 WHERE doc_id < 50 GROUP BY doc_id, term),
       df AS (
         SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks2 GROUP BY term)
       SELECT doc_id, term, tf, df, rank FROM (
         SELECT tf.doc_id, tf.term, tf.tf, df.df,
                ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                  ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rank
         FROM tf JOIN df USING (term)) t
       WHERE rank <= 5 ORDER BY doc_id, rank"""

  /** N-gram extraction: top character trigrams per language (the feature
    * a real n-gram language-ID model trains on). explode → count → top-k
    * per group via window. */
  def t07TopTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok"))
    Tables.documents(s, d)
      .select(col("lang"), explode(expr("split(text, ' ')")).as("tok"))
      .filter(length(col("tok")) >= 3)
      .select(col("lang"), substring(col("tok"), 1, 3).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("lang", "rank")
  }

  val t07Sql: String =
    """SELECT lang, tok, cnt, rank FROM (
         SELECT lang, tok, cnt,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
         FROM (
           SELECT lang, SUBSTRING(u.tok, 1, 3) AS tok, COUNT(*) AS cnt
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
           WHERE LENGTH(u.tok) >= 3
           GROUP BY lang, SUBSTRING(u.tok, 1, 3))) t
       WHERE rank <= 5 ORDER BY lang, rank"""

  /** Repetition / boilerplate profile per document: total and distinct
    * token counts, the most-repeated token's share of all occurrences
    * (`top_ratio` — high means boilerplate/spam), and the distinct-to-total
    * ratio (`distinct_ratio` — low means repetitive text). The standard
    * cheap quality gates a pretraining pipeline cuts on.
    *
    * Scale shape: two map-side-combined aggregations — (doc, token) counts,
    * then per-doc rollup — both shuffling only ids and counts, never text
    * beyond the first token explode. Ratios are single correctly-rounded
    * IEEE divisions of exact integers, bit-identical across engines. */
  def t12Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .withColumn("top_ratio", col("top_cnt").cast("double") / col("n_tokens"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "n_distinct", "top_cnt", "top_ratio",
        "distinct_ratio")
      .orderBy("doc_id")

  /** Stratified deterministic sample: k documents per language, ranked by
    * a content-independent 60-bit hash of the doc id — the mixture-
    * balancing step of a training-data pipeline (cap each stratum without
    * a global sort), reproducible across engines and runs.
    *
    * Scale shape: one shuffle on the stratum key; the per-stratum window
    * ranks only (id, hash) rows. For strata too large for one partition,
    * the same hash ranks under a salted pre-top-k — not needed at battery
    * scale. */
  def t13StratifiedSample(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val h = graft.spark.functions.Md5Prefix
      .md5PrefixLong(col("doc_id").cast("string"), 15)
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("lang"), col("rank"))
      .orderBy("lang", "rank")
  }

  val t13Sql: String =
    """SELECT doc_id, lang, rank FROM (
         SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                      doc_id) AS rank
         FROM documents) t
       WHERE rank <= 20 ORDER BY lang, rank"""

  /** PII detection patterns (email / SSN-shaped id / US-phone-shaped),
    * restricted to syntax Java regex and RE2 (DuckDB) interpret
    * identically — char classes, bounded repeats, `\b` word boundaries. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IdRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scan + redaction over any text column: per-row match counts for
    * each pattern family and the redacted text (emails → `[EMAIL]`,
    * phone-shaped → `[PHONE]`, id-shaped → `[ID]`). Pure codegen'd
    * `regexp_count`/`regexp_replace` — embarrassingly parallel, no shuffle;
    * the compliance-scrub pass a training-data pipeline runs before
    * anything else sees the text. Phone redaction runs before id so the
    * 3-2-4 id pattern can never re-match inside an already-redacted
    * 3-3-4 phone. */
  def piiScan(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_email", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_phone", regexp_count(col(textCol), lit(PhoneRe)))
      .withColumn("n_id", regexp_count(col(textCol), lit(IdRe)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          IdRe, "[ID]"))

  /** Battery entry: the synthetic corpus contains no PII-shaped tokens (no
    * digits at all — verified), so a direct scan would be all-zeros and
    * prove nothing. Instead both engines derive the SAME deterministic
    * contact-card text per customer (name, an id-shaped 3-2-4 number, an
    * email, a phone for every third customer) and scan THAT — the regex
    * machinery is exercised end-to-end with nonzero counts, cross-engine.
    * The planted-PII recall spec covers the library surface directly. */
  def t14PiiScan(s: SparkSession, d: String): DataFrame = {
    val text = concat(
      lit("reach "), col("c_name"), lit(" at "),
      lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") % 100).cast("string"), 2, "0"), lit("-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" or "), lower(col("c_name")), lit("@example.com"),
      when(col("c_custkey") % 3 === 0,
        concat(lit(" call 555-"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    piiScan(Tables.customer(s, d).select(col("c_custkey"), text.as("text")), "text")
      .select(col("c_custkey"), col("n_email"), col("n_phone"), col("n_id"),
        col("redacted"))
      .orderBy("c_custkey")
  }

  val t14Sql: String = {
    val text =
      """'reach ' || c_name || ' at ' ||
         lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         ' or ' || lower(c_name) || '@example.com' ||
         CASE WHEN c_custkey % 3 = 0
           THEN ' call 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           ELSE '' END"""
    s"""WITH t AS (SELECT c_custkey, $text AS text FROM customer)
       SELECT c_custkey,
         CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_email,
         CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phone,
         CAST(len(regexp_extract_all(text, '$IdRe')) AS INT) AS n_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '$EmailRe', '[EMAIL]', 'g'),
           '$PhoneRe', '[PHONE]', 'g'),
           '$IdRe', '[ID]', 'g') AS redacted
       FROM t ORDER BY c_custkey"""
  }

  val t12Sql: String =
    """WITH toks AS (
         SELECT doc_id, u.tok AS tok
         FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
         WHERE LENGTH(u.tok) > 0),
       cnts AS (
         SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok)
       SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_ratio,
         CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS distinct_ratio
       FROM cnts GROUP BY doc_id ORDER BY doc_id"""

  /** KMV (k-minimum-values) distinct-count sketch per language — the
    * mergeable cardinality sketch of data pipelines, built DETERMINISTIC:
    * the k smallest md5-60-bit hashes of the distinct texts give the
    * estimate (k-1)·2^60 / h_(k) — unlike HLL implementations (which
    * differ engine to engine), both engines derive the identical sketch
    * and the identical estimate. Per-group state is k longs — mergeable
    * across partitions/corpora by keeping the k smallest of the union.
    * Groups with fewer than k distinct values report exactly. */
  def t15KmvDistinct(s: SparkSession, d: String, k: Int = 32): DataFrame = {
    val h = Tables.documents(s, d)
      .select(col("lang"), graft.queries.Dedup.md5Hash60(col("text")).as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("h")
    h.withColumn("r", row_number().over(w))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_distinct_hashes"),
        max(when(col("r") === k, col("h"))).as("kth"))
      .select(col("lang"), col("n_distinct_hashes"),
        round(when(col("kth").isNotNull,
          lit((k - 1).toDouble) * lit(math.pow(2, 60)) / col("kth"))
          .otherwise(col("n_distinct_hashes").cast("double")), 4)
          .as("kmv_estimate"))
      .orderBy("lang")
  }

  val t15Sql: String =
    """WITH h AS (
         SELECT DISTINCT lang,
                ('0x' || substr(md5(text),1,15))::BIGINT AS h FROM documents),
       r AS (SELECT lang, h,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS r
             FROM h),
       a AS (SELECT lang, COUNT(*) AS n_distinct_hashes,
                    MAX(CASE WHEN r = 32 THEN h END) AS kth
             FROM r GROUP BY lang)
       SELECT lang, n_distinct_hashes,
              ROUND(CASE WHEN kth IS NOT NULL
                    THEN 31.0 * 1152921504606846976.0 / kth
                    ELSE CAST(n_distinct_hashes AS DOUBLE) END, 4)
                AS kmv_estimate
       FROM a ORDER BY lang"""

  /** Corpus composition report: per source, the volume/share/quality
    * profile — the first table every dataset card and mixing decision
    * starts from. One map-side-combined aggregation on a low-cardinality
    * key; share-of-corpus comes from a broadcast scalar join. */
  def t16SourceMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val agg = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tokens")), 6)
          .as("chars_per_token"))
    val total = agg.agg(sum(col("total_tokens")).as("corpus_tokens"))
    agg.join(broadcast(total))
      .withColumn("token_share",
        round(col("total_tokens").cast("double") / col("corpus_tokens"), 6))
      .select("source", "n_docs", "total_tokens", "total_chars",
        "chars_per_token", "token_share")
      .orderBy("source")
  }

  val t16Sql: String =
    """WITH a AS (
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                ROUND(CAST(SUM(n_chars) AS DOUBLE) /
                      SUM(len(string_split(text, ' '))), 6) AS chars_per_token
         FROM documents GROUP BY source)
       SELECT source, n_docs, total_tokens, total_chars, chars_per_token,
              ROUND(CAST(total_tokens AS DOUBLE) /
                    (SELECT SUM(total_tokens) FROM a), 6) AS token_share
       FROM a ORDER BY source"""

  /** Trigram-novelty scoring: the share of each document's distinct word
    * trigrams that fall OUTSIDE the corpus's top-100 most-common trigrams —
    * a cheap perplexity proxy (low novelty = boilerplate/templated text,
    * high novelty = fresh content) that needs no language model, only the
    * corpus itself. The top set is chosen deterministically
    * (document-frequency desc, hash asc at ties) so both engines pick the
    * identical set.
    *
    * Scale shape: trigrams are md5-hashed to 60-bit longs at the scan (the
    * d05 discipline); the top-100 set is an aggregate of (hash, df) pairs
    * and BROADCASTS into the membership join — the corpus side never
    * shuffles for it. */
  def t18TrigramNovelty(s: SparkSession, d: String, topK: Int = 100): DataFrame = {
    // per-doc distinct ROW-LOCALLY (array_distinct before the explode —
    // the d05 shape: (doc_id, h) is unique across docs by construction,
    // so the old corpus-wide distinct exchange bought nothing), and the
    // (doc_id, trigram-hash) index slot-cached: it feeds BOTH the top-k
    // aggregation and the membership join, which previously re-ran the
    // per-trigram md5 pass twice per battery pass
    val tri = t18TriSlot(Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - 2),
          i => graft.spark.functions.Md5Prefix.md5PrefixLong(
            array_join(slice(col("w"), i, lit(3)), " "), 15))))
        .as("h")))
    val top = tri.groupBy("h").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("h"))
      .limit(topK)
      .select(col("h"), lit(1L).as("is_top"))
    tri.join(broadcast(top), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(coalesce(col("is_top"), lit(0L))).as("n_common"))
      .withColumn("novelty",
        (col("n_trigrams") - col("n_common")).cast("double") / col("n_trigrams"))
      .orderBy("doc_id")
  }

  val t18Sql: String =
    """WITH tri AS (
         SELECT DISTINCT doc_id,
           ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS h
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 3),
              UNNEST(range(1, len(w) - 1)) t(i)),
       top AS (
         SELECT h FROM (SELECT h, COUNT(*) AS df FROM tri GROUP BY h)
         ORDER BY df DESC, h LIMIT 100)
       SELECT tri.doc_id, COUNT(*) AS n_trigrams,
              CAST(SUM(CASE WHEN top.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_common,
              CAST(COUNT(*) - SUM(CASE WHEN top.h IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
       FROM tri LEFT JOIN top ON tri.h = top.h
       GROUP BY tri.doc_id ORDER BY tri.doc_id"""

  /** Per-source vocabulary profile: token volume, distinct vocabulary,
    * hapax legomena (words seen exactly once — the classic vocabulary-
    * richness signal; a high hapax share flags noisy/OCR-damaged text,
    * a low one flags boilerplate), and the modal word's frequency.
    *
    * Scale shape: words are md5-hashed to 60-bit longs AT THE SOURCE (the
    * d05 discipline — raw strings never ride a shuffle; both engines
    * derive identical hashes so the oracle still matches bit-exactly),
    * then two map-side-combined aggregations: (source, word-hash) counts,
    * re-aggregated per source. */
  def t17Vocab(s: SparkSession, d: String): DataFrame = {
    val wordHash = graft.spark.functions.Md5Prefix.md5PrefixLong(col("w"), 15)
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"), wordHash.as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("c").as("max_word_freq"))
      .orderBy("source")
  }

  val t17Sql: String =
    """WITH w AS (
         SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       c AS (
         SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h,
                COUNT(*) AS c
         FROM w WHERE length(w) > 0 GROUP BY source, h)
       SELECT source, CAST(SUM(c) AS BIGINT) AS n_words,
              COUNT(*) AS n_distinct,
              CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              CAST(MAX(c) AS BIGINT) AS max_word_freq
       FROM c GROUP BY source ORDER BY source"""

  /** SEQUENCE PACKING — the concatenate-then-chunk layout every LLM
    * pretraining pipeline runs: per source, documents are concatenated in
    * deterministic (doc_id) order into one token stream that is cut every
    * `budget` tokens; a document's pack is the chunk its FIRST token lands
    * in (`floor(start_offset / budget)` — straddlers count toward the pack
    * they start in). Output is per-pack occupancy: documents begun, tokens
    * begun, and whether the pack's last document straddles into the next
    * chunk (the attention-masking boundary a loader needs to know about).
    *
    * Scale shape: the running token offset is a HIERARCHICAL prefix sum,
    * not a per-source window — a `partitionBy(source)` window would
    * serialize a skewed corpus's dominant source (web crawl at 60-80% of
    * the data is the normal shape) into ONE task. Instead each source is
    * cut into `shards` contiguous doc_id ranges, the running sum is
    * windowed per (source, shard) — dominant source spread over up to
    * `shards` tasks — and the tiny per-shard totals (shards × |sources|
    * rows, metadata-sized) roll into per-shard base offsets that are
    * broadcast back and added. Long addition is associative, so the
    * offsets are bit-identical to a single global per-source cumsum.
    * Token counts are t06's whitespace tokenizer. */
  def t19SeqPacking(s: SparkSession, d: String, budget: Int = 512,
                    shards: Int = 32,
                    tokenCounter: Column => Column =
                      graft.spark.functions.Bpe.whitespaceCount): DataFrame =
    packSequences(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          tokenCounter(col("text")).as("toks")),
      budget, shards)

  /** Library form of t19 over any `(source, doc_id, toks)` frame.
    * `shards` bounds the largest window task at ~|source|/shards docs;
    * shard boundaries are doc_id value ranges (deterministic, no sampling
    * pass), which is balanced when doc_ids are roughly uniform within a
    * source — the common monotone-ingest layout. The result does NOT
    * depend on the shard assignment, only task sizing does. */
  def packSequences(toks: DataFrame, budget: Int, shards: Int): DataFrame = {
    // Contiguous deterministic shards by doc_id value range per source:
    // shard = floor((doc_id - min) * shards / (max - min + 1)). Contiguity
    // is what makes local running sums prefix-composable.
    val bounds = toks.groupBy("source")
      .agg(min("doc_id").as("_mn"), max("doc_id").as("_mx"))
    // resident: sharded feeds the base-offset rollup AND the local
    // running-sum stream — uncached, the scan + token-count projection
    // re-ran once per consumer per pass (4 scans in the executed plan)
    val sharded = packShardSlot(toks.join(broadcast(bounds), "source")
      .withColumn("_shard",
        floor((col("doc_id") - col("_mn")) * shards /
          (col("_mx") - col("_mn") + 1)))
      .drop("_mn", "_mx"))
    // Per-shard base offsets: map-side-combined totals, then a window over
    // the metadata-sized rollup (shards rows per source).
    val wBase = Window.partitionBy("source").orderBy("_shard")
    val bases = sharded.groupBy("source", "_shard")
      .agg(sum("toks").as("_st"))
      .withColumn("_base", sum(col("_st")).over(wBase) - col("_st"))
      .select("source", "_shard", "_base")
    // Local running sum within each (source, shard) window task, plus the
    // shard's broadcast base = the global per-source offset.
    val wLocal = Window.partitionBy("source", "_shard").orderBy("doc_id")
    sharded
      .withColumn("_local_end", sum(col("toks")).over(wLocal))
      .join(broadcast(bases), Seq("source", "_shard"))
      .withColumn("start_tok", col("_base") + col("_local_end") - col("toks"))
      .withColumn("pack_id", floor(col("start_tok") / budget))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("tokens_begun"),
        max(when(col("start_tok") + col("toks") > (col("pack_id") + 1) * budget,
          1L).otherwise(0L)).as("straddles"))
      .orderBy("source", "pack_id")
  }

  val t19Sql: String =
    """WITH toks AS (
         SELECT source, doc_id,
                CAST(LEN(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks
         FROM documents),
       offs AS (
         SELECT source, doc_id, toks,
                SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) - toks
                  AS start_tok
         FROM toks)
       SELECT source, CAST(FLOOR(start_tok / 512) AS BIGINT) AS pack_id,
              COUNT(*) AS n_docs,
              CAST(SUM(toks) AS BIGINT) AS tokens_begun,
              CAST(MAX(CASE WHEN start_tok + toks >
                     (FLOOR(start_tok / 512) + 1) * 512
                   THEN 1 ELSE 0 END) AS BIGINT) AS straddles
       FROM offs GROUP BY source, pack_id ORDER BY source, pack_id"""

  /** The fused CURATION CARD — what a release pipeline reports after its
    * filter chain runs: per source, how many documents survive, how many
    * fall to near-dup removal vs quality cuts, and the surviving token
    * budget. One pass of decisions over the corpus:
    *
    *   - near-dup drop (keep-FIRST policy): a document is cut when it has
    *     a SimHash near-dup with a smaller doc_id — the pairwise
    *     keep-first recipe exact-dedup pipelines use, served by the same
    *     banded/capped pair machinery as d02 (the cluster-canonical
    *     variant is [[Dedup.d09KeepBest]]);
    *   - quality drop: the t04 length floor, applied to dup survivors
    *     (dup precedence keeps each document counted exactly once);
    *   - the kept rows roll up to the per-source token budget.
    *
    * Scale shape: the pair sweep is d02's (capped buckets, fingerprints
    * only in the shuffles); the decision join moves (doc_id) against a
    * distinct dup-id set; the rollup is one map-side-combined aggregate. */
  def t20CurationCard(s: SparkSession, d: String, maxHamming: Int = 6,
                      minChars: Int = 150): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val dupIds = Dedup.nearDupIds(Tables.documents(s, d), maxHamming)
      .withColumn("is_dup", lit(true))
    docs.join(dupIds, Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"),
        when(col("is_dup"), "dup")
          .when(col("n_chars") < minChars, "quality")
          .otherwise("kept").as("st"))
      .groupBy("source")
      .agg(
        sum(when(col("st") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("st") === "dup", 1L).otherwise(0L)).as("n_drop_dup"),
        sum(when(col("st") === "quality", 1L).otherwise(0L)).as("n_drop_quality"),
        sum(when(col("st") === "kept", col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[t20CurationCard]]: d02's pair CTE chain + the same
    * keep-first / quality / rollup decisions. */
  // --------------- t21: BPE token accounting under pretrained merges

  /** Fixed seed corpus the t21 merge table learns from — LITERAL and
    * data-independent (the synthetic fixture vocabulary), so the oracle
    * can inline the IDENTICAL table as literals. A production pipeline
    * loads a published merges.txt instead; the seam is the same file
    * format ([[graft.spark.functions.Bpe.parseMerges]]). */
  private val bpeSeedCorpus: Seq[String] = Seq(
    "table value part row key hash fast merge batch spark scan sort window line slow agg the a",
    "table value part row key hash fast merge scan sort the a",
    "table value row key fast the a table value")

  private[queries] val t21Merges: graft.spark.functions.Bpe.Merges =
    graft.spark.functions.Bpe.learn(bpeSeedCorpus, 30)

  /** Write the pretrained merges file once to a stable path (content is
    * deterministic, write-then-rename keeps concurrent callers safe). */
  private[queries] lazy val t21MergesPath: String = {
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_bpe")
    dir.mkdirs()
    val f = new java.io.File(dir, "t21_merges.txt")
    if (!f.isFile) {
      val tmp = java.io.File.createTempFile("t21_merges", ".tmp", dir)
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try {
        w.println("#version: graft-t21")
        t21Merges.ranks.toSeq.sortBy(_._2).foreach { case ((a, b), _) =>
          w.println(s"$a $b")
        }
      } finally w.close()
      tmp.renameTo(f)
      ()
    }
    f.getPath
  }

  /** Battery entry t21: per-source token budget under PRETRAINED BPE
    * merges, counted by the SQL-callable `graft_bpe_count` (the bound V2
    * scalar function: merges parsed once driver-side at bind, shipped
    * broadcast with the function, evaluated row-local in the scan task —
    * zero extra shuffles over the whitespace twin t06). The oracle
    * ([[t21Sql]]) applies the SAME merge table via a recursive CTE (the
    * mm06 trick: a bounded per-element sequential state machine — here
    * one merge application per recursion step per word), so the hash
    * match proves real BPE semantics end to end, not just a count. */
  def t21BpeTokens(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftfn", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftfn.warehouse", new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_bpe_wh").getPath)
    s.conf.set(graft.spark.functions.GraftFunctions.BpeMergesPathConf,
      t21MergesPath)
    Tables.documents(s, d).createOrReplaceTempView("t21_docs")
    s.sql(
      """SELECT source, COUNT(*) AS n_docs,
         SUM(graftfn.system.graft_bpe_count(text)) AS bpe_tokens
         FROM t21_docs GROUP BY source ORDER BY source""")
  }

  /** DuckDB mirror of [[t21BpeTokens]]: the merge table inlined as a MAP
    * literal (rank per `left<SOH>right` key), words exploded with their
    * ordinal, and merge application as a recursive CTE whose state is the
    * current symbol list — each step merges the LOWEST-rank adjacent pair
    * (first-index tie, exactly [[graft.spark.functions.Bpe.encodeWord]]'s
    * loop) and stops when no learned pair remains. Terminal rows carry
    * each word's final symbol count. */
  val t21Sql: String = {
    val pairs = t21Merges.ranks.toSeq.sortBy(_._2)
    val keys = pairs.map { case ((a, b), _) => s"'$a' || chr(1) || '$b'" }
      .mkString(", ")
    val ranks = pairs.map(_._2).mkString(", ")
    s"""WITH RECURSIVE
       m AS (SELECT map([$keys], [$ranks]) AS mm),
       w0 AS (
         SELECT doc_id, ws[i] AS w, CAST(i AS BIGINT) AS wi
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d0,
              UNNEST(range(1, len(ws)+1)) t(i)
         WHERE ws[i] <> ''),
       st(doc_id, wi, syms) AS (
         SELECT doc_id, wi, [w[i] for i in range(1, len(w)+1)] FROM w0
         UNION ALL
         SELECT doc_id, wi,
           list_concat(list_concat(syms[1:best_i-1],
             [syms[best_i] || syms[best_i+1]]), syms[best_i+2:])
         FROM (
           SELECT doc_id, wi, syms,
             CASE WHEN list_min(ranks) < 999999
                  THEN list_position(ranks, list_min(ranks)) END AS best_i
           FROM (
             SELECT doc_id, wi, syms,
               [COALESCE(map_extract(mm, syms[i] || chr(1) || syms[i+1])[1],
                 999999) for i in range(1, len(syms))] AS ranks
             FROM st, m WHERE len(syms) > 1) t1) t2
         WHERE best_i IS NOT NULL),
       fin AS (
         SELECT doc_id, wi, len(syms) AS n
         FROM st, m
         WHERE len(syms) <= 1
            OR list_min([COALESCE(map_extract(mm,
                 syms[i] || chr(1) || syms[i+1])[1], 999999)
                 for i in range(1, len(syms))]) = 999999),
       per_doc AS (SELECT doc_id, SUM(n) AS n FROM fin GROUP BY doc_id)
       SELECT d.source, COUNT(*) AS n_docs,
              CAST(SUM(COALESCE(p.n, 0)) AS BIGINT) AS bpe_tokens
       FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
       GROUP BY d.source ORDER BY d.source"""
  }

  val t20Sql: String =
    s"""WITH ${Dedup.simhashPairsCte},
       dup AS (${Dedup.nearDupCte(6)}),
       st AS (
         SELECT d.source, LEN(string_split(d.text, ' ')) AS n_tokens,
                CASE WHEN dup.doc_id IS NOT NULL THEN 'dup'
                     WHEN d.n_chars < 150 THEN 'quality'
                     ELSE 'kept' END AS st
         FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id)
       SELECT source,
              CAST(SUM(CASE WHEN st = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN st = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
              CAST(SUM(CASE WHEN st = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
              CAST(SUM(CASE WHEN st = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
       FROM st GROUP BY source ORDER BY source"""

  // --------------- t23: DSIR importance weights (data selection)

  /** DATA SELECTION VIA IMPORTANCE RESAMPLING (the DSIR recipe, Xie et
    * al. 2023): score every raw document by how target-like its hashed
    * n-gram profile is. Token features hash into `nBuckets` buckets (the
    * portable md5 60-bit hash, mod B); the per-bucket importance
    * log-ratio λ_b = ln(p̂_target(b) / p̂_raw(b)) (add-1 smoothed) is a
    * ≤B-row table computed from two corpus-wide counts; a document's
    * weight is Σ λ_{bucket(token)} over its tokens.
    *
    * Scale shape: two map-side-combined bucket counts (≤B rows out of
    * each), one 1-row total, and the λ table rides a BROADCAST join back
    * onto the token stream — the corpus is scanned map-only twice and
    * shuffles only (doc_id, partial-sum) rows for the per-doc weight.
    * At 100 TB the λ table is still ≤B rows: the importance model's
    * entire state is O(buckets), which is exactly why DSIR scales where
    * per-example classifiers need a trained model shipped to every task.
    *
    * Determinism: λ values round to 6 dp and the per-doc sum runs in
    * exact decimal space, so document ranking is engine-stable; the
    * weight itself leaves as a double cast of the exact decimal.
    *
    * `target` marks the distribution to up-weight (battery: lang='en' —
    * in production, a curated high-quality corpus riding the same
    * schema). */
  def dsirWeights(docs: DataFrame, target: Column, nBuckets: Int,
                  topK: Int): DataFrame = {
    // the bucketed token stream feeds FOUR consumers (target counts, raw
    // counts, totals, and the λ scoring join) — one slot-cached
    // materialization instead of four tokenize replays (the t26 shape)
    val toks = dsirToksSlot(docs
      .select(col("doc_id"), target.as("is_t"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("is_t"),
        pmod(Dedup.md5Hash60(col("w")), lit(nBuckets)).as("b")))
    val ct = toks.filter(col("is_t")).groupBy("b").agg(count(lit(1)).as("ct"))
    val cr = toks.groupBy("b").agg(count(lit(1)).as("cr"))
    val tot = toks.agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tot_t"),
      count(lit(1)).as("tot_r"))
    val lam = cr.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tot_t") + lit(nBuckets))) /
            ((col("cr") + lit(1.0)) / (col("tot_r") + lit(nBuckets)))), 6)
          .cast(DecimalType(38, 6)).as("lam"))
    toks.join(broadcast(lam), "b")
      .groupBy("doc_id").agg(sum(col("lam")).as("w"))
      .orderBy(col("w").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("w").cast("double").as("w_r"))
  }

  /** Battery entry t23: top-50 most target-like (lang='en') documents by
    * DSIR importance weight over 256 hashed unigram buckets. */
  def t23DsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeights(Tables.documents(s, d), col("lang") === "en", 256, 50)
      .orderBy(col("w_r").desc, col("doc_id"))

  val t23Sql: String =
    """WITH w0 AS (
         SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         FROM documents),
       toks AS (
         SELECT doc_id, lang,
                ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS b
         FROM w0 WHERE length(w) > 0),
       ct AS (SELECT b, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
       cr AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
       tot AS (SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tot_t,
                      COUNT(*) AS tot_r FROM toks),
       lam AS (
         SELECT cr.b,
                CAST(ROUND(ln(
                  ((COALESCE(ct.ct, 0) + 1.0) / (tot_t + 256)) /
                    ((cr.cr + 1.0) / (tot_r + 256))), 6)
                  AS DECIMAL(38,6)) AS lam
         FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tot),
       dw AS (SELECT doc_id, SUM(lam) AS w
              FROM toks JOIN lam USING (b) GROUP BY doc_id)
       SELECT doc_id, CAST(w AS DOUBLE) AS w_r FROM dw
       ORDER BY w DESC, doc_id LIMIT 50"""

  // --------------- t27: temperature-based source mixture

  /** DATA MIXING — the per-source temperature resampling every
    * pretraining run configures (α-weighted multinomial over sources, as
    * in the GPT-3 / Pile recipes): each source's token budget is
    * `total_budget · T_s^α / Σ T_s^α` (α = 0.5 flattens the mixture —
    * dominant web crawl down-weighted, small high-quality sources up),
    * and the documents that fill the budget are picked in DETERMINISTIC
    * content-independent order (portable md5 hash of doc_id) — a
    * reproducible shuffle, not a seedless sample. A doc is selected when
    * its slice STARTS inside the budget (t19's straddler rule).
    *
    * Scale shape: per-source totals are a map-side-combined agg (|sources|
    * rows → broadcast); selection is one window cumsum per source —
    * at 100 TB the dominant source's window would shard exactly like
    * [[t19SeqPacking]] (contiguous hash-range shards + per-shard base
    * offsets); the single-window form keeps the oracle 1:1 here.
    *
    * Determinism: α = 0.5 means `sqrt` (IEEE-exact in both engines, no
    * transcendental rounding); weights round to 6 dp into exact decimal
    * before the share division, cumulative sums are integer math. */
  def t27SourceMixture(s: SparkSession, d: String,
                       budgetFraction: Double = 0.5): DataFrame =
    sourceMixture(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tok")),
      budgetFraction)

  /** Core of [[t27SourceMixture]] over an arbitrary
    * (doc_id, source, n_tok) frame. */
  def sourceMixture(docs: DataFrame, budgetFraction: Double): DataFrame =
    mixtureSelection(docs, budgetFraction)
      .groupBy("source")
      .agg(max(col("budget_tokens")).as("budget_tokens"),
        count(lit(1)).as("n_docs_selected"),
        sum(col("n_tok")).as("tokens_selected"))
      .orderBy("source")

  /** The SELECTED documents of the temperature mixture — (doc_id,
    * source, n_tok, budget_tokens) — shared by the t27 rollup and the
    * t32 pipeline's final stage. */
  def mixtureSelection(docs0: DataFrame, budgetFraction: Double): DataFrame = {
    // the (doc_id, source, n_tok) frame feeds the per-source totals AND
    // the windowed cumulative stream — resident (keyed: t27's corpus
    // frame and t32's surviving-candidates frame are distinct plans), so
    // a serve pays the rollups, not 4 regex-tokenize replays (guide §2.4)
    val docs = mixDocsSlot(docs0)
    val perSource = docs.groupBy("source").agg(sum("n_tok").as("ts"))
    // α = 0.5 temperature weights in exact-decimal space; the total
    // budget is a fixed fraction of the corpus (integer via floor)
    val weights = perSource
      .select(col("source"), col("ts"),
        round(sqrt(col("ts").cast("double")), 6).cast(DecimalType(38, 6)).as("w"))
    val totals = weights.agg(
      sum(col("w")).as("tw"),
      floor(sum(col("ts")) * lit(budgetFraction)).cast("long").as("budget"))
    val budgets = weights.crossJoin(broadcast(totals))
      .select(col("source"),
        floor(col("budget") * (col("w").cast("double") / col("tw").cast("double")))
          .cast("long").as("budget_tokens"))
    val h = Dedup.md5Hash60(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs
      .withColumn("h", h)
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(broadcast(budgets), "source")
      .filter(col("cum") - col("n_tok") < col("budget_tokens"))
      .select("doc_id", "source", "n_tok", "budget_tokens")
  }

  /** CTE chain mirroring [[mixtureSelection]] over `rel` (doc_id,
    * source, n_tok), ending in `selx(doc_id, source, n_tok,
    * budget_tokens)` — shared by [[t27Sql]] and [[t32Sql]]. */
  private[queries] def mixtureCtesOver(rel: String,
                                       budgetFraction: Double = 0.5): String =
    s"""per_source AS (SELECT source, SUM(n_tok) AS ts FROM $rel GROUP BY source),
       weights AS (
         SELECT source, ts,
                CAST(ROUND(sqrt(CAST(ts AS DOUBLE)), 6) AS DECIMAL(38,6)) AS w
         FROM per_source),
       totals AS (
         SELECT SUM(w) AS tw,
                CAST(FLOOR(SUM(ts) * $budgetFraction::DOUBLE) AS BIGINT) AS budget
         FROM weights),
       budgets AS (
         SELECT source,
                CAST(FLOOR(budget * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)))
                  AS BIGINT) AS budget_tokens
         FROM weights CROSS JOIN totals),
       ordered AS (
         SELECT doc_id, source, n_tok,
                SUM(n_tok) OVER (PARTITION BY source
                  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                           doc_id) AS cum
         FROM $rel),
       selx AS (
         SELECT o.doc_id, o.source, o.n_tok, b.budget_tokens
         FROM ordered o JOIN budgets b ON b.source = o.source
         WHERE o.cum - o.n_tok < b.budget_tokens)"""

  val t27Sql: String =
    s"""WITH docs AS (
         SELECT doc_id, source,
                CAST(LEN(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
         FROM documents),
       ${mixtureCtesOver("docs")}
       SELECT source,
              MAX(budget_tokens) AS budget_tokens,
              COUNT(*) AS n_docs_selected,
              CAST(SUM(n_tok) AS BIGINT) AS tokens_selected
       FROM selx GROUP BY source ORDER BY source"""

  // --------------- t29: passage chunking (RAG / long-doc splitting)

  /** PASSAGE CHUNKING — overlapping token windows (`size` tokens, step
    * `stride` < size → `size − stride` tokens of overlap), the standard
    * splitting every RAG indexer and long-document pretraining pipeline
    * runs before embedding/packing. Each passage carries its offset, its
    * (possibly short, for the tail) token count, and a 60-bit content
    * fingerprint — the dedup hook: passage fingerprints feed the same
    * exact-dedup/shared-passage machinery as document hashes (d05/t02).
    *
    * Scale shape: entirely ROW-LOCAL — tokenize, window starts, slices
    * and fingerprints all happen inside one projection over the doc; no
    * shuffle at all until whatever consumes the passages aggregates.
    * Start indices are `0, stride, 2·stride, …` while they fall inside
    * the document (the t19 straddler spirit: a tail shorter than `size`
    * still becomes a passage — truncating it would silently drop the
    * corpus's endings). */
  def passageChunks(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
      .select(col("doc_id"), col("ws"), org.apache.spark.sql.functions.size(col("ws")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(expr(s"sequence(0, CAST(floor((n - 1) / $stride.0) AS INT))"))
          .as("pid"))
      .select(col("doc_id"), col("pid"),
        (col("pid") * stride).as("start_tok"),
        least(lit(size), col("n") - col("pid") * stride).as("n_tok"),
        Dedup.md5Hash60(concat_ws(" ",
          slice(col("ws"), col("pid") * stride + 1, lit(size)))).as("fp"))
      .orderBy("doc_id", "pid")
  }

  /** Battery entry t29: 32-token passages at stride 24 (8-token overlap). */
  def t29PassageChunks(s: SparkSession, d: String): DataFrame =
    passageChunks(Tables.documents(s, d), size = 32, stride = 24)

  val t29Sql: String =
    """WITH ws AS (
         SELECT doc_id,
                list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
         FROM documents),
       n AS (SELECT doc_id, ws, len(ws) AS n FROM ws WHERE len(ws) > 0),
       p AS (SELECT doc_id, ws, n, CAST(i AS INT) AS pid
             FROM n, UNNEST(range(0, CAST(FLOOR((n - 1) / 24.0) AS BIGINT) + 1)) t(i))
       SELECT doc_id, pid,
              CAST(pid * 24 AS INT) AS start_tok,
              CAST(LEAST(32, n - pid * 24) AS INT) AS n_tok,
              ('0x' || substr(md5(array_to_string(
                ws[pid * 24 + 1 : pid * 24 + 32], ' ')), 1, 15))::BIGINT AS fp
       FROM p ORDER BY doc_id, pid"""

  // --------------- t30: count-min sketch (heavy-hitter estimation)

  /** Candidate terms whose frequencies t30 estimates — the retrieval
    * query vocabulary plus the corpus's two stopword-like fillers. */
  private[queries] val cmCandidates: Seq[String] =
    (Retrieval.QueryTerms.flatMap(_._2) ++ Seq("the", "a", "data")).distinct.sorted

  /** COUNT-MIN SKETCH (Cormode & Muthukrishnan) — frequency estimates
    * from O(d·w) integers instead of a full frequency table: each token
    * increments one counter per hash row; a term's estimate is the MIN of
    * its d counters, an overestimate by construction (collisions only add).
    *
    * Why this matters at 100 TB: the sketch IS the aggregation state —
    * d·w counters (here 4×512 longs, 16 KB) regardless of vocabulary
    * size, built map-side-combined in one pass and mergeable by vector
    * addition (what the groupBy does across partitions). KMV (t15) answers
    * "how many distinct"; count-min answers "how often is X" for any X
    * decided AFTER the pass, with no per-term state kept. The candidate
    * probe is a broadcast of the (tiny) candidate list against the (tiny)
    * cell table — no corpus rescan. True counts ride along here only to
    * exhibit the ε-overestimate guarantee (the spec asserts est ≥ true).
    */
  def t30CountMin(s: SparkSession, d: String, depth: Int = 4,
                  width: Int = 512): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    def bucket(r: Int, w: Column): Column =
      pmod(Dedup.md5Hash60(concat_ws(":", lit(r.toString), w)), lit(width))
    val cells = toks
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucket(r, col("w")).as("b"))): _*)).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val cands = {
      import s.implicits._
      cmCandidates.toDF("term")
    }
    val probes = cands.select(col("term"),
      explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucket(r, col("term")).as("b"))): _*)).as("c"))
      .select(col("term"), col("c.r").as("r"), col("c.b").as("b"))
    val est = probes.join(cells, Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
    val truth = toks.join(broadcast(cands), col("w") === col("term"))
      .groupBy("term").agg(count(lit(1)).as("true_cnt"))
    est.join(truth, Seq("term"), "left")
      .select(col("term"), coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
        col("cm_est"))
      .orderBy("term")
  }

  val t30Sql: String = {
    val cands = cmCandidates.map(t => s"('$t')").mkString(", ")
    """WITH toks AS (
         SELECT w FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         WHERE length(w) > 0),
       cells AS (
         SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || w), 1, 15))::BIGINT % 512 AS b,
                COUNT(*) AS cnt
         FROM toks, UNNEST(range(0, 4)) t(r) GROUP BY r, b),
       cands(term) AS (VALUES """ + cands + """),
       probes AS (
         SELECT term, r,
                ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 512 AS b
         FROM cands, UNNEST(range(0, 4)) t(r)),
       est AS (
         SELECT term, MIN(COALESCE(cnt, 0)) AS cm_est
         FROM probes LEFT JOIN cells USING (r, b) GROUP BY term),
       truth AS (
         SELECT term, COUNT(*) AS true_cnt
         FROM toks JOIN cands ON toks.w = cands.term GROUP BY term)
       SELECT est.term, CAST(COALESCE(true_cnt, 0) AS BIGINT) AS true_cnt,
              CAST(cm_est AS BIGINT) AS cm_est
       FROM est LEFT JOIN truth ON truth.term = est.term
       ORDER BY est.term"""
  }

  // --------------- t32: the composed curation pipeline

  /** Battery defaults of the pipeline knobs — interpolated into
    * [[t32Sql]] so the Scala defaults and the oracle literally cannot
    * diverge (a caller overriding them must supply a matching oracle). */
  val CurationMinChars = 150
  val CurationMaxHamming = 6
  val CurationBudgetFraction = 0.5

  /** THE CURATION PIPELINE — the whole release recipe as ONE declarative
    * plan, each stage an operator this battery already proves in
    * isolation: exact dedup (t02's keep-first sha-256 rule) → SimHash
    * near-dedup ([[Dedup.nearDupIds]] — guaranteed at hamming ≤ 3 by the
    * 4×16 banding, best-effort at 4..`maxHamming`, the d02 trade) →
    * quality gate (t04's length floor) → temperature mixture selection
    * over the survivors (t27, budgets computed on the CLEANED corpus —
    * selecting before deduping would spend budget on copies). Output is
    * the per-source release card: docs dropped per stage, candidates,
    * budget, and what was actually selected.
    *
    * Drop precedence (each doc counted once): exact > near > quality —
    * a doc that is both an exact and a banded near-dup reports as exact.
    *
    * Scale: nothing here is new plan shape — the stages compose as
    * subtrees (one sha-256 shuffle, the capped SimHash chain, a map-only
    * gate, the |sources|-broadcast mixture), and Catalyst pipelines them
    * with no extra corpus passes beyond the stages' own. */
  def t32CurationPipeline(s: SparkSession, d: String): DataFrame =
    curationPipeline(Tables.documents(s, d))

  /** Core of [[t32CurationPipeline]] over an arbitrary (doc_id, source,
    * n_chars, text) frame. */
  def curationPipeline(docs: DataFrame, minChars: Int = CurationMinChars,
                       maxHamming: Int = CurationMaxHamming,
                       budgetFraction: Double = CurationBudgetFraction): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("n_chars"),
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tok"))
    val wEx = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val exactDup = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("rk", row_number().over(wEx)).filter(col("rk") > 1)
      .select(col("doc_id")).withColumn("ex", lit(true))
    val nearDup = Dedup.nearDupIds(docs, maxHamming)
      .withColumn("nd", lit(true))
    // the per-doc decision frame feeds the drop rollup AND the mixture
    // selection, so the tokenizer + sha2 window + near-dup chain runs once
    // per consumer. Holding IT resident was tried in r18 and measured
    // SLOWER (1.34 vs 1.12 s adjacent runs): the selection side already
    // rides the mixDocsSlot entry, so a second cache layer added an
    // InMemory-on-InMemory read per pass without removing any work —
    // the chain re-runs per consumer BY DESIGN (r18 measured revert).
    val status = base
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .withColumn("st",
        when(col("ex"), "exact_dup")
          .when(col("nd"), "near_dup")
          .when(col("n_chars") < minChars, "quality")
          .otherwise("candidate"))
    val sel = mixtureSelection(
      status.filter(col("st") === "candidate")
        .select("doc_id", "source", "n_tok"),
      budgetFraction)
    status.groupBy("source").agg(
      sum(when(col("st") === "exact_dup", 1L).otherwise(0L)).as("n_drop_exact"),
      sum(when(col("st") === "near_dup", 1L).otherwise(0L)).as("n_drop_near"),
      sum(when(col("st") === "quality", 1L).otherwise(0L)).as("n_drop_quality"),
      sum(when(col("st") === "candidate", 1L).otherwise(0L)).as("n_candidates"))
      .join(sel.groupBy("source").agg(
        max(col("budget_tokens")).as("budget_tokens"),
        count(lit(1)).as("n_selected"),
        sum(col("n_tok")).as("tokens_selected")), Seq("source"), "left")
      .select(col("source"), col("n_drop_exact"), col("n_drop_near"),
        col("n_drop_quality"), col("n_candidates"),
        coalesce(col("budget_tokens"), lit(0L)).as("budget_tokens"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("tokens_selected"), lit(0L)).as("tokens_selected"))
      .orderBy("source")
  }

  val t32Sql: String =
    s"""WITH ${Dedup.simhashPairsCte},
       nd AS (${Dedup.nearDupCte(CurationMaxHamming)}),
       ex AS (SELECT doc_id FROM (
                SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                  ORDER BY doc_id) AS rk
                FROM documents) t
              WHERE rk > 1),
       base AS (
         SELECT doc_id, source, n_chars,
                CAST(LEN(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
         FROM documents),
       status AS (
         SELECT b.doc_id, b.source, b.n_tok,
                CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
                     WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                     WHEN b.n_chars < $CurationMinChars THEN 'quality'
                     ELSE 'candidate' END AS st
         FROM base b
           LEFT JOIN ex ON ex.doc_id = b.doc_id
           LEFT JOIN nd ON nd.doc_id = b.doc_id),
       cand AS (SELECT doc_id, source, n_tok FROM status
                WHERE st = 'candidate'),
       ${TextOps.mixtureCtesOver("cand", CurationBudgetFraction)},
       selroll AS (
         SELECT source, MAX(budget_tokens) AS budget_tokens,
                COUNT(*) AS n_selected,
                CAST(SUM(n_tok) AS BIGINT) AS tokens_selected
         FROM selx GROUP BY source)
       SELECT s0.source,
              CAST(SUM(CASE WHEN s0.st = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_exact,
              CAST(SUM(CASE WHEN s0.st = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_near,
              CAST(SUM(CASE WHEN s0.st = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
              CAST(SUM(CASE WHEN s0.st = 'candidate' THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
              CAST(COALESCE(MAX(sr.budget_tokens), 0) AS BIGINT) AS budget_tokens,
              CAST(COALESCE(MAX(sr.n_selected), 0) AS BIGINT) AS n_selected,
              CAST(COALESCE(MAX(sr.tokens_selected), 0) AS BIGINT) AS tokens_selected
       FROM status s0 LEFT JOIN selroll sr ON sr.source = s0.source
       GROUP BY s0.source ORDER BY s0.source"""

  /** Deterministic training-shard export (t34): the LAST step of a data
    * pipeline — the curated corpus is globally shuffled by a SEEDED hash
    * and split into S shards, each internally ordered by that hash, so
    * re-running the export reproduces every shard byte-for-byte (training
    * jobs resume/compare across runs) while documents land in
    * pseudo-random order (no source/time clumping within a shard, which
    * biases training). Output is the per-shard MANIFEST a training job
    * consumes: document/token counts, the shard's hash range, and an
    * ORDER-SENSITIVE fingerprint (rank-weighted rolling sum) that pins
    * the within-shard sequence — two exports that merely contain the same
    * docs in different order fingerprint differently.
    *
    * Scale shape: ONE hash-partition shuffle (the window's partitioning)
    * over (doc_id, hash, token-count) — text never moves; the per-shard
    * sort is the export's own output order, not extra work. S scales with
    * the corpus (here 8 for the oracle); skew is impossible by hash
    * uniformity. */
  def t34ShardExport(s: SparkSession, d: String, shards: Int = 8,
                     seed: String = "42"): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .withColumn("h", graft.spark.functions.Md5Prefix.md5PrefixLong(
        concat(col("doc_id").cast("string"), lit(":"), lit(seed)), 15))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs.withColumn("rank", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"),
        // order-sensitive: each doc contributes (h mod p1)·(rank mod p1)
        // mod p2 — swap any two docs and the sum changes
        sum(expr("((h % 1000003) * (rank % 1000003)) % 1000000007"))
          .as("order_fp"))
      .orderBy("shard")
  }

  val t34Sql: String =
    """WITH docs AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 15))::BIGINT AS h
         FROM documents),
       ranked AS (
         SELECT doc_id, toks, h, h % 8 AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS rank
         FROM docs)
       SELECT shard, COUNT(*) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         MIN(h) AS min_h, MAX(h) AS max_h,
         CAST(SUM(((h % 1000003) * (rank % 1000003)) % 1000000007) AS BIGINT)
           AS order_fp
       FROM ranked GROUP BY shard ORDER BY shard"""
}
