package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables

/** Distributed TRAINING passes of the data pipeline: learning a BPE merge
  * table from the corpus and fitting a quality classifier — the two
  * model-fitting steps an LLM curation stack runs *on* the data it curates
  * (t21 applies a pretrained merge table; t24 learns one; t04 applies a
  * hand-tuned quality score; t25 fits one from labels).
  *
  * Both are iterative: each iteration is ONE map-side-combined aggregation
  * over the corpus plus a metadata-sized broadcast back (the argmax pair /
  * the weight vector) — the canonical distributed-training shape where the
  * model state is tiny and the data never moves. Per-iteration
  * `localCheckpoint` keeps lineage flat (the d06 / kmeans discipline).
  *
  * Both are ORACLE-CHECKED: iteration counts are fixed, every comparison
  * is on integers/strings (BPE) or 6-dp-rounded exact-decimal sums
  * (logistic gradients), so DuckDB unrolls the same iterations
  * bit-identically.
  */
object Training {

  // --------------- t24: BPE merge learning

  /** Learn the top `nMerges` BPE merges from a (doc_id, text) corpus
    * (Sennrich et al. 2016): start from character symbols, repeatedly
    * take the globally most frequent adjacent symbol pair (ties broken
    * lexicographically — deterministic) and fuse it corpus-wide.
    *
    * Scale shape: the corpus collapses to its WORD-FREQUENCY table
    * first (one map-side-combined count — Zipf makes |vocab| ≪ corpus),
    * and every learning round then runs over |vocab| rows: pair counts
    * are `Σ word_count` aggregations, the winning pair is a 1-row
    * broadcast, and the fuse pass rewrites |vocab| symbol lists — round
    * cost is O(vocab), independent of corpus size, which is what lets a
    * tokenizer train over 100 TB at all (this is also exactly how the
    * in-memory `Bpe.learn` and the original subword-nmt loop work).
    *
    * The merge fuse is a left fold (non-overlapping, left-to-right):
    * append each symbol; when the accumulator's last symbol is `l` and
    * the incoming is `r`, replace the last with `l||r` — byte-for-byte
    * the same fold DuckDB's `list_reduce` runs in [[t24Sql]], and the
    * same semantics as [[graft.spark.functions.Bpe.learn]]'s in-memory
    * loop (BpeTrainSpec pins them equal). */
  /** NOT memoized (r19, VERDICT item 2): t24's declared computation IS
    * this training loop, so every timed serve runs the 6 learn rounds —
    * the r18 memo made the timed passes a model-frame lookup, which
    * inflated the per-query number without optimizing anything. (The
    * r18-era memo keyed on the input plan + nMerges; the warmup-filled
    * variant survives only in the artifact's cold/warm spread now.) */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    // corpus → word-frequency table: all subsequent rounds are O(vocab)
    var syms = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(split(col("w"), "").as("syms"), col("wc"))
      .localCheckpoint()
    val merged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var exhausted = false
    for (i <- 0 until nMerges if !exhausted) {
      val pairs = syms
        .filter(size(col("syms")) > 1)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> struct(element_at(syms, j) AS l, element_at(syms, j + 1) AS r))"))
          .as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("wc"))
        .groupBy("l", "r").agg(sum(col("wc")).as("c"))
      val best = pairs
        .orderBy(col("c").desc, col("l"), col("r")).limit(1)
        .localCheckpoint() // 1 row; reused by the fuse pass AND the output
      // corpus ran out of adjacent pairs before nMerges: stop with what
      // was learned (Bpe.learn's early-stop) — the eager checkpoint makes
      // this a free check, and it guards the cross join from emptying the
      // symbol stream
      if (best.isEmpty) exhausted = true
      else {
        syms = syms
          .crossJoin(broadcast(best.select(col("l").as("__l"), col("r").as("__r"))))
          .select(aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) >= 1 && element_at(acc, -1) === col("__l") && x === col("__r"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x)))).as("syms"), col("wc"))
          .localCheckpoint()
        merged += best.select(lit(i).as("rank"), col("l"), col("r"),
          col("c").as("pair_count"))
      }
    }
    require(merged.nonEmpty, "corpus has no adjacent symbol pairs to learn from")
    merged.reduce(_ union _).orderBy("rank")
  }

  /** Battery entry t24: the 6 top merges learned from `documents`. */
  def t24BpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrain(Tables.documents(s, d), 6)

  /** DuckDB mirror of [[bpeTrain]]: 6 unrolled learn rounds; each round
    * counts adjacent pairs (`UNNEST(range)` positions), takes the argmax
    * with the same (count DESC, l, r) tie-break, and fuses it with the
    * same left fold — `list_reduce` over singleton-wrapped symbols so the
    * accumulator is a symbol LIST (DuckDB's reduce requires acc and
    * element types to match). */
  val t24Sql: String = {
    val n = 6
    val layers = (0 until n).map { i =>
      s"""p$i AS (SELECT syms[j] AS l, syms[j + 1] AS r, SUM(wc) AS c
             FROM s$i, UNNEST(range(1, len(syms))) t(j)
             GROUP BY l, r),
         m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         s${i + 1} AS (
           SELECT list_reduce([[x] for x in syms],
                    (a, b) -> CASE WHEN len(a) >= 1 AND a[len(a)] = m.l
                                        AND b[1] = m.r
                              THEN list_concat(a[1:len(a) - 1],
                                     [a[len(a)] || b[1]])
                              ELSE list_concat(a, b) END) AS syms,
                  wc
           FROM s$i, m$i m)"""
    }.mkString(",\n       ")
    val out = (0 until n)
      .map(i => s"SELECT $i AS rank, l, r, CAST(c AS BIGINT) AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH w0 AS (
         SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, COUNT(*) AS wc FROM w0
              WHERE length(w) > 0 GROUP BY w),
       s0 AS (SELECT [w[i] for i in range(1, len(w) + 1)] AS syms, wc FROM wf),
       $layers
       SELECT * FROM ($out) u ORDER BY rank"""
  }

  // --------------- t25: quality classifier (distributed logistic regression)

  /** Per-doc quality features, all exact integer ratios (deterministic in
    * double on both engines): token count, punctuation density, raw
    * length — plus the bias. The LABEL is what the caller says it is
    * (battery: lang='en' as the fixture's stand-in for human quality
    * labels riding the same schema). */
  private def features(docs: DataFrame, label: Column): DataFrame =
    docs.select(col("doc_id"),
      when(label, 1.0).otherwise(0.0).as("y"),
      lit(1.0).as("x0"),
      (size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long") / lit(100)).as("x1"),
      (length(regexp_replace(col("text"), "[^.!?]", "")) / length(col("text"))).as("x2"),
      (length(col("text")) / lit(1000)).as("x3"))

  // the feature frame feeds every gradient iteration PLUS the final
  // scoring pass (iters + 1 consumers) — slot-cached so the regex
  // tokenization over the corpus runs once per fit, not once per pass
  // (optimization guide §1.2 step 2: the per-task regex was the fit's
  // dominant constant; releases with the battery caches)
  private val featsSlot = new CacheSlot

  /** Fit logistic-regression weights by `iters` full-batch gradient
    * steps: w += lr · (1/N) Σ (y − σ(w·x))·x.
    *
    * Scale shape: each step is ONE map-side-combined aggregation over
    * the corpus (4 decimal sums + a count) and the weights are a 1-row
    * broadcast back into the next pass — model state is O(features),
    * data never moves: the same shape as the kmeans/DSIR passes. (A
    * production run would mini-batch via t09's hash-sampling; full
    * batch keeps the oracle exact.)
    *
    * Determinism: per-doc gradient contributions round to 6 dp and sum
    * in EXACT decimal; the weight update rounds to 6 dp — so the
    * weights are bit-identical across engines even though σ uses `exp`
    * (≤1 ulp each, absorbed by the rounding). Returns the 1-row weight
    * frame (w0..w3). */
  /** NOT memoized (r19, VERDICT item 2, same reasoning as [[bpeTrain]]):
    * t25's declared computation is the fit itself, so every timed serve
    * runs the `iters` gradient passes. The feature frame stays slot-cached
    * ([[featsSlot]]) — that is a within-query repeated subtree (iters + 1
    * consumers of the same regex tokenization), not a result memo. */
  def logisticFit(feats: DataFrame, iters: Int, lr: Double): DataFrame = {
    val s = feats.sparkSession
    import s.implicits._
    var w = Seq((0.0, 0.0, 0.0, 0.0)).toDF("w0", "w1", "w2", "w3")
    val margin =
      col("w0") * col("x0") + col("w1") * col("x1") +
        col("w2") * col("x2") + col("w3") * col("x3")
    val resid = col("y") - lit(1.0) / (lit(1.0) + exp(-margin))
    for (_ <- 0 until iters) {
      val grads = feats.crossJoin(broadcast(w))
        .select((0 to 3).map(k =>
          round(resid * col(s"x$k"), 6).cast(DecimalType(38, 6)).as(s"g$k")): _*)
        .agg(sum(col("g0")).as("g0"), sum(col("g1")).as("g1"),
          sum(col("g2")).as("g2"), sum(col("g3")).as("g3"),
          count(lit(1)).as("n"))
      w = w.crossJoin(grads)
        .select((0 to 3).map(k =>
          round(col(s"w$k") + lit(lr) * (col(s"g$k").cast("double") / col("n")), 6)
            .as(s"w$k")): _*)
        .localCheckpoint() // 1 row per iteration; keeps the next pass's plan flat
    }
    w
  }

  /** Battery entry t25: fit 3 full-batch steps (lr 0.5) against the
    * lang='en' label, then score the corpus with the learned weights —
    * output the top-25 most-quality-like doc ids with the learned
    * weights attached (weights identical on every row: the 1-row model,
    * oracle-checked alongside the ranking). */
  def t25QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val feats = featsSlot(features(Tables.documents(s, d), col("lang") === "en"))
    val w = logisticFit(feats, iters = 3, lr = 0.5)
    val margin =
      col("w0") * col("x0") + col("w1") * col("x1") +
        col("w2") * col("x2") + col("w3") * col("x3")
    val win = Window.orderBy(col("score_r").desc, col("doc_id"))
    feats.crossJoin(broadcast(w))
      .select(col("doc_id"), round(margin, 6).as("score_r"),
        col("w0"), col("w1"), col("w2"), col("w3"))
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(25)
      .withColumn("rank", row_number().over(win))
      .select("doc_id", "rank", "w0", "w1", "w2", "w3")
      .orderBy("rank")
  }

  val t25Sql: String = {
    // the same 3 unrolled steps; fractional literals ::DOUBLE (DuckDB
    // types bare decimals as DECIMAL; multiplication would stay exact
    // decimal and diverge from Spark's double arithmetic)
    def margin(w: String) =
      s"$w.w0 * x0 + $w.w1 * x1 + $w.w2 * x2 + $w.w3 * x3"
    def step(i: Int): String = {
      val g = (0 to 3).map(k =>
        s"""SUM(CAST(ROUND((y - 1.0 / (1.0 + exp(-(${margin(s"w$i")})))) * x$k, 6)
             AS DECIMAL(38,6))) AS g$k""").mkString(", ")
      val upd = (0 to 3).map(k =>
        s"ROUND(w$i.w$k + 0.5::DOUBLE * (CAST(g$k AS DOUBLE) / n), 6) AS w$k")
        .mkString(", ")
      s"""g${i + 1} AS (SELECT $g, COUNT(*) AS n FROM f CROSS JOIN w$i),
         w${i + 1} AS (SELECT $upd FROM w$i CROSS JOIN g${i + 1})"""
    }
    s"""WITH f AS (
         SELECT doc_id,
                CASE WHEN lang = 'en' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y,
                1.0::DOUBLE AS x0,
                LEN(regexp_extract_all(text, '\\S+')) / 100 AS x1,
                LENGTH(regexp_replace(text, '[^.!?]', '', 'g')) / LENGTH(text) AS x2,
                LENGTH(text) / 1000 AS x3
         FROM documents),
       w0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,
                     0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3),
       ${step(0)},
       ${step(1)},
       ${step(2)}
       SELECT doc_id,
              ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS rank,
              w0, w1, w2, w3
       FROM (
         SELECT doc_id, ROUND(${margin("w3")}, 6) AS score_r,
                w0, w1, w2, w3
         FROM f CROSS JOIN w3
         ORDER BY score_r DESC, doc_id LIMIT 25) t
       ORDER BY rank"""
  }

  // --------------- t26: bigram-LM cross-entropy filter (CCNet-style)

  /** Per-doc adjacent hashed-token bigrams: (doc_id, is_t, w1, w2) —
    * pairs form ROW-LOCALLY inside the tokenized array (no
    * position-self-join), so the corpus shuffles nothing to build them. */
  private[queries] def bigrams(docs: DataFrame, target: Column,
                               carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    docs
      .select(Seq(col("doc_id"), target.as("is_t")) ++ cs :+
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"): _*)
      // the ≥2-token gate tests the PRE-HASH array (same length by
      // construction): a filter on size(hs) re-evaluates the whole
      // per-token md5 transform inside the filter condition — Filter and
      // Project are separate operators, so codegen cannot share the
      // subexpression and every row paid the tokenize TWICE (measured
      // r19: the double evaluation was half the bigram scan's cost)
      .filter(size(col("ws")) > 1)
      .select(Seq(col("doc_id"), col("is_t")) ++ cs :+
        transform(col("ws"), w => Dedup.md5Hash60(w)).as("hs"): _*)
      .select(Seq(col("doc_id"), col("is_t")) ++ cs :+ explode(expr(
        "transform(sequence(1, size(hs) - 1), " +
          "j -> struct(element_at(hs, j) AS w1, element_at(hs, j + 1) AS w2))"))
        .as("p"): _*)
      .select(Seq(col("doc_id"), col("is_t")) ++ cs ++
        Seq(col("p.w1"), col("p.w2")): _*)
  }

  /** LANGUAGE-MODEL QUALITY FILTER (the CCNet recipe, Wenzek et al.
    * 2020): train an add-1-smoothed bigram LM on the TARGET slice, score
    * every document by its mean negative log-likelihood (cross-entropy
    * per bigram) under it — low = target-like, the classic
    * "perplexity filter" that CCNet runs with KenLM and that reduces
    * here to its exact n-gram core:
    * p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with c(w1·) the bigram
    * PREFIX count and V the prefix vocabulary size.
    *
    * Scale shape: the LM is two count tables keyed by (w1,w2)/(w1) —
    * at web scale these are NOT broadcastable, and the scoring join is a
    * plain hash equi-join on the bigram key (Catalyst broadcasts them
    * when small enough); tokens ride as 60-bit hashes, never strings.
    * Pair formation is row-local (array transform), so the only corpus
    * shuffles are the two count aggregations and the per-doc mean.
    *
    * Determinism: each bigram's −ln p rounds to 6 dp into exact decimal,
    * per-doc sums are exact, and the mean rounds to 6 dp before
    * ranking. Documents with fewer than two tokens have no bigrams and
    * no defined cross-entropy — they are absent from the output (a
    * production filter would route them to a length gate like t04's
    * instead). */
  def lmCrossEntropy(docs: DataFrame, target: Column, topK: Int): DataFrame = {
    // ONE explicit (w1, w2) exchange feeds BOTH consumers of the corpus
    // bigram stream — the count aggregation (input already partitioned on
    // the grouping key, so the groupBy inserts no second exchange) and the
    // scoring probe — via ReusedExchange (guide §2.4: operations keyed the
    // same way share one exchange). r19 note: r18 instead held this stream
    // RESIDENT (bigramSlot), which traded the reuse away — ~20% worse at
    // sf1 — while pinning an O(corpus) frame in executor storage; the
    // verdict flagged that as 100 TB-unsafe (item 3) and the slot is gone.
    // The count-table side tokenizes only the TARGET slice — `.filter(is_t)`
    // folds into the scan as a lang pushdown, so the expensive per-token
    // md5 runs over 1/|langs| of the corpus (measured: a full-corpus
    // tokenize is 0.92 s at sf0.1; a shared full-width exchange feeding
    // both the counts and the probe was tried first and LOST — it saves
    // the 0.2 s target-slice tokenize but pays a 0.36 s corpus shuffle
    // plus three re-reads, 1.9 s vs 1.2 s end to end). The explicit
    // not-null filter pre-satisfies the per-consumer `isnotnull`
    // constraints the optimizer infers from the downstream joins — without
    // it the count/prefix/vocab subtrees canonicalize DIFFERENTLY and,
    // whenever the counts are not slot-resident (the fill pass, or any
    // caller outside the slot), the count aggregation's exchange is
    // re-executed per consumer instead of being stage-reused
    // (plans/r19/t26_lm_score_unslotted_exec_sf1.txt shows the reuse
    // firing; md5-derived hashes are never null, so the filter drops
    // nothing).
    val pairs = bigrams(docs, target)
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val counts = pairs.filter(col("is_t"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    lmScoreAgainst(counts, pairs, topK)
  }

  /** Score a corpus's bigram stream against an ALREADY-BUILT bigram
    * count table (session-built in [[lmCrossEntropy]], the maintained
    * Iceberg table in [[LmIndex]]): prefix counts are `Σ_w2 cnt` and the
    * prefix vocabulary is `count distinct w1` — both DERIVED from the
    * count table, which is what makes one maintained table the entire
    * LM (the t28 single-table insight applied to the language model). */
  // keyed multi-slot for the MODEL-sized LM state only (VERDICT item 3:
  // "persist only the model-sized count/uni tables"): t26's session
  // counts and t31's maintained-table counts serve through this one
  // scorer in the same battery pass. The corpus bigram STREAM is never
  // slotted — an O(corpus) resident traded away exchange reuse and lost
  // at sf1 (r18's own soak), and is the frame class the CacheSlot
  // scaladoc forbids.
  private val countsSlot = new CacheSlot(8)

  private[queries] def lmScoreAgainst(counts0: DataFrame, pairs: DataFrame,
                                      topK: Int): DataFrame = {
    val counts = countsSlot(counts0)
    val big = counts.select(col("w1"), col("w2"), col("cnt").as("cb"))
    // the prefix rollup: Σ_w2 cnt — derived from the count table at serve
    // time (which is what makes one maintained table the entire LM), and
    // resident like the count table itself (|prefixes| rows)
    val uni = countsSlot(counts.groupBy("w1").agg(sum(col("cnt")).as("cu")))
    // the prefix vocabulary size is the prefix table's row count — derive
    // it from `uni` (|prefixes| rows) instead of a third full-width
    // distinct aggregation over the count table. An LM trained on nothing
    // is undefined (v = 0 would drive every -ln p to -Infinity and rank
    // garbage) — fail loudly IN-PLAN: assert_true rides the 1-row vocab
    // frame, replacing r18's eager `counts.isEmpty` probe, which cost one
    // extra corpus-sized job per serve once the counts stopped being
    // resident (the filter passes every row when v > 0, so results are
    // untouched; it cannot be pruned because it gates the output)
    val vocab = uni.agg(count(lit(1)).as("v"))
      .filter(assert_true(col("v") > 0, lit(
        "LM count table is EMPTY — empty target slice, or wrong table location"
      )).isNull)
    // The exact-decimal per-doc sum is carried as LONG MICROS (r19):
    // round(x, 6) is by construction an integer count of 1e-6 units
    // (0 ≤ x ≤ ~30 here, so micros ≤ 3e7 and per-doc sums ≪ 2^53), so
    // summing the micros in a plain long IS the decimal(38,6) sum —
    // without the 128-bit BigDecimal allocation Spark pays per row at
    // precision 38 (measured at sf1: +1.5 s per pass over the corpus
    // stream, the scoring chain's single biggest term). Recovery is
    // exact: round(v,6)·1e6 sits within ~1e-8 of its integer, so the
    // outer round(.., 0) always lands on it; sum_micros/1e6 as double
    // equals the decimal sum's double cast bit-for-bit (one correctly-
    // rounded division of an exactly-representable integer), and the
    // final round(../count, 6) is unchanged — ce_r is bit-identical.
    val nll = pairs
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(round(-log(
          (coalesce(col("cb"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cu"), lit(0L)) + col("v"))), 6) * lit(1e6), 0)
          .cast("long").as("nll_u"))
    nll.groupBy("doc_id")
      .agg(round((sum(col("nll_u")).cast("double") / lit(1e6)) /
        count(lit(1)), 6).as("ce_r"))
      .orderBy(col("ce_r"), col("doc_id"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ce_r"), col("doc_id"))))
      .select("doc_id", "rank", "ce_r")
      .orderBy("rank")
  }

  /** Battery entry t26: the 25 documents scoring most target-like under
    * a bigram LM trained on the lang='en' slice. */
  def t26LmScore(s: SparkSession, d: String): DataFrame =
    lmCrossEntropy(Tables.documents(s, d), col("lang") === "en", 25)

  /** The t26 oracle over an arbitrary docs relation — shared with
    * [[LmIndex.t31Sql]], whose maintained counts must reproduce this
    * from-scratch scoring over the fixture's final corpus state. */
  def lmSqlOver(docsRel: String): String =
    s"""WITH hs AS (
         SELECT doc_id, lang,
                [('0x' || substr(md5(w), 1, 15))::BIGINT
                 for w in list_filter(string_split(text, ' '), w -> length(w) > 0)]
                  AS hs
         FROM $docsRel),
       pairs AS (
         SELECT doc_id, lang, hs[j] AS w1, hs[j + 1] AS w2
         FROM hs, UNNEST(range(1, len(hs))) t(j)
         WHERE len(hs) > 1),
       big AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs
               WHERE lang = 'en' GROUP BY w1, w2),
       uni AS (SELECT w1, COUNT(*) AS cu FROM pairs
               WHERE lang = 'en' GROUP BY w1),
       vocab AS (SELECT COUNT(DISTINCT w1) AS v FROM pairs WHERE lang = 'en'),
       nll AS (
         SELECT p.doc_id,
                CAST(ROUND(-ln(
                  (COALESCE(cb, 0) + 1.0) / (COALESCE(cu, 0) + v)), 6)
                  AS DECIMAL(38,6)) AS nll
         FROM pairs p
           LEFT JOIN big ON big.w1 = p.w1 AND big.w2 = p.w2
           LEFT JOIN uni ON uni.w1 = p.w1
           CROSS JOIN vocab),
       ce AS (SELECT doc_id,
                     ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS ce_r
              FROM nll GROUP BY doc_id)
       SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ce_r, doc_id) AS rank, ce_r
       FROM (SELECT * FROM ce ORDER BY ce_r, doc_id LIMIT 25) t
       ORDER BY rank"""

  val t26Sql: String = lmSqlOver("documents")
}
