package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Two paths:
  *   - [[annBruteForce]]: exact cosine top-k — the correctness baseline.
  *     Query side is tiny → broadcast; the candidate side streams, so on a
  *     cluster this is one pass over the corpus per query batch with NO
  *     shuffle (the per-query top-k heap is the window aggregation).
  *   - [[annLsh]]: random-hyperplane LSH — the 100 TB path. Vectors are
  *     bucketed by signature prefix; queries only compare against their own
  *     bucket (optionally plus hamming-1 multi-probe neighbor buckets),
  *     turning O(N·Q) into O(Q·bucketSize). All hash bits are computed in
  *     one codegen'd projection — no shuffle until the bucket join, which
  *     is a broadcast join on the tiny query side.
  */
object Similarity {

  // Tiny trained-model frames (sampled/trained codebooks, refined cells,
  // residual codebooks, SQ8 params — each <= a few hundred rows): keyed
  // multi-slot so a serve pass reuses the trained model instead of
  // re-running the sample TakeOrdered + training aggregations per pass.
  // The frames are derived corpus state exactly like the code slots below.
  private val modelSlot = new CacheSlot(16)

  // The OPQ rotation solve collects the bounded sample to the driver and
  // runs a breeze SVD — deterministic, so memoize per (sample plan,
  // params); drops with the battery caches (the graph-memo pattern).
  private val opqRotMemoLock = new Object
  private var opqRotMemo: List[(DataFrame, (Int, Int, Int), Array[Array[Double]])] = Nil
  CacheSlot.onReleaseAll(() => opqRotMemoLock.synchronized { opqRotMemo = Nil })
  private def opqRotationMemo(sample: DataFrame, nSub: Int, kSub: Int,
                              iters: Int): Array[Array[Double]] =
    opqRotMemoLock.synchronized {
      opqRotMemo.find { case (df, params, _) =>
        params == ((nSub, kSub, iters)) &&
          (df.sparkSession eq sample.sparkSession) && df.sameSemantics(sample)
      } match {
        case Some((_, _, r)) => r
        case None =>
          val r = opqRotation(sample, nSub, kSub, iters)
          opqRotMemo = (sample, (nSub, kSub, iters), r) :: opqRotMemo.take(3)
          r
      }
    }

  private val lshBandedSlot = new CacheSlot
  private val ivfAssignedSlot = new CacheSlot
  private val pqCodesSlot = new CacheSlot
  private val sq8DeqSlot = new CacheSlot

  /** Cosine similarity between two float-array columns, computed in double
    * via the native codegen'd dot product. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Native codegen'd dot product — see [[graft.spark.functions.DotProductExpr]]:
    * same value as `aggregate(zip_with(...))` (left-to-right double
    * accumulation), without the HOF chain's interpreted lambdas and
    * per-pair intermediate array in the ANN hot loop. */
  def dot(x: Column, y: Column): Column =
    graft.spark.functions.DotProductExpr.dotProduct(x, y)

  /** Exact top-k neighbors (ids + rank only — floats never leave the plan,
    * keeping the result hash-comparable across engines). Norms are computed
    * once per vector BEFORE the pair join, so the per-pair work is a single
    * dot product — at N candidates × Q queries that's the difference between
    * O((N+Q)·d) and O(N·Q·d) norm work. */
  def annBruteForce(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qnorm"))
    val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("ne")) / (col("qnorm") * col("nnorm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  val annBruteForceSql: String =
    """SELECT qid, nid, rank FROM (
         SELECT q.vec_id AS qid, e.vec_id AS nid,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
         FROM embeddings q, embeddings e
         WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id) t
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** Deterministic random hyperplanes (seeded; independent of run order). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection signature: one bit per hyperplane, packed into a
    * long. Each projection is the native codegen'd dot product against the
    * literal hyperplane — one pass, zero per-row allocation. */
  def lshSignature(emb: Column, planes: Seq[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) approximate top-k — the other canonical ANN scale
    * path: K coarse centroids partition the corpus; each query probes only
    * its `nProbe` nearest cells, turning O(N·Q) into O(Q·(K + N·nProbe/K)).
    *
    * Centroids are a deterministic hash-sample of the corpus itself (the
    * cheap stand-in for k-means that needs no iteration and no RNG state —
    * reproducible across runs/cluster sizes). Assignment is one broadcast
    * pass over the corpus (centroids are tiny by construction); the probe
    * join is an equi-join on cell id — NO cross join at any scale. */
  def annIvf(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
             nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // deterministic coarse centroids: the nCells vectors with the smallest
    // content hash (stable under any partitioning; md5-of-id so the oracle
    // engine derives the identical sample)
    val centroids = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h").limit(nCells)
      .select(col("cid"), col("ce"))
    val cb = broadcast(modelSlot(centroids))

    // corpus → nearest cell: one pass, centroids broadcast, per-pair work a
    // single dot product. The argmin is a min_by AGGREGATION (tie-broken on
    // cid like the oracle's window), so map-side partial aggregation
    // reduces the shuffle to one row per vector — a window here would sort
    // N×K rows each carrying the full embedding. Slot-cached: the IVF
    // index (cell assignment) is reused across queries on the same corpus
    val assigned = ivfAssignedSlot(emb.join(cb)
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(col("embedding"), col("ce")).as("sim"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("embedding")),
        struct(negate(col("sim")), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cid").as("cid")))

    // queries probe their nProbe nearest cells
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(cb)
      .select(col("qid"), col("qe"), col("cid"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nProbe)
      .select(col("qid"), col("qe"), col("cid"))

    // candidates = corpus of the probed cells only; exact cosine + top-k
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** DuckDB mirror of [[annIvf]]: same md5-ordered centroid sample, same
    * left-fold double dot products (the d04Sql determinism discipline), same
    * rank tie-breaks — byte-exact against the Spark plan. */
  val annIvfSql: String =
    """WITH e AS (
         SELECT vec_id, embedding,
                sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                  for i in range(1, len(embedding)+1)])) AS norm
         FROM embeddings),
       c AS (
         SELECT vec_id AS cid, embedding AS ce, norm AS cnorm
         FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
       assigned AS (
         SELECT vec_id, embedding, norm, cid FROM (
           SELECT e.vec_id, e.embedding, e.norm, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    (list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)
                       for i in range(1, len(e.embedding)+1)]) / (e.norm * c.cnorm)) DESC,
                    c.cid) AS rk
           FROM e, c) t
         WHERE rk = 1),
       probes AS (
         SELECT qid, qe, qnorm, cid FROM (
           SELECT e.vec_id AS qid, e.embedding AS qe, e.norm AS qnorm, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    (list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)
                       for i in range(1, len(e.embedding)+1)]) / (e.norm * c.cnorm)) DESC,
                    c.cid) AS rk
           FROM e, c WHERE e.vec_id < 10) t
         WHERE rk <= 4)
       SELECT qid, nid, rank FROM (
         SELECT p.qid, a.vec_id AS nid,
                ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                  (list_sum([CAST(p.qe[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                     for i in range(1, len(p.qe)+1)]) / (p.qnorm * a.norm)) DESC,
                  a.vec_id) AS rank
         FROM assigned a JOIN probes p ON a.cid = p.cid
         WHERE p.qid <> a.vec_id) t
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** DuckDB mirror of [[annLsh]]: the seeded hyperplanes are embedded as
    * round-trip-exact double literals (Java's Double.toString guarantees
    * the decimal form parses back to the identical bits), the signature
    * dots are the same left-fold sums, so both engines derive identical
    * buckets and ranks. */
  val annLshSql: String = {
    val planes = hyperplanes(16, 64)
    val sigTerms = planes.zipWithIndex.map { case (p, j) =>
      val dot = p.zipWithIndex.map { case (v, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ($v)"
      }.mkString(" + ")
      s"CASE WHEN ($dot) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n            + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT vec_id, embedding, norm, $b AS band, (sig >> ${b * 4}) & 15 AS key FROM sig")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS (
         SELECT vec_id, embedding,
                sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                  for i in range(1, len(embedding)+1)])) AS norm
         FROM embeddings),
       sig AS (
         SELECT vec_id, embedding, norm,
              ($sigTerms) AS sig
         FROM e),
       banded AS ($bandSelects),
       pairs AS (
         SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid,
                list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                  for i in range(1, len(q.embedding)+1)]) / (q.norm * c.norm) AS cos
         FROM banded c JOIN banded q USING (band, key)
         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
       SELECT qid, nid, rank FROM (
         SELECT qid, nid,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         FROM pairs) t
       WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** LSH-bucketed approximate top-k: compare each query only to candidates
    * sharing a signature band. Bands of `bandBits` bits out of `nBits`.
    *
    * `multiProbe`: the query side additionally probes every HAMMING-1
    * neighbor of each of its band keys — a near-miss on one signature bit
    * still finds the bucket. Recall lift at ~`bandBits`× QUERY-side rows;
    * the corpus side (the scale side) is untouched. */
  def annLsh(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
             nBits: Int = 16, bandBits: Int = 4,
             multiProbe: Boolean = false): DataFrame = {
    val planes = hyperplanes(nBits, 64)
    val nBands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), lshSignature(col("embedding"), planes).as("sig"))
    // explode into (band, bandKey) — a vector lands in nBands buckets.
    // Slot-cached: the LSH index is computed once and reused by both join
    // sides and across queries on the same corpus
    val banded = lshBandedSlot(emb.select(col("vec_id"), col("embedding"), col("sig"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits).bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("bk.band"), col("bk.key")))
    val q0 = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("band"), col("key"))
    val q =
      if (!multiProbe) q0
      else q0.select(col("qid"), col("qe"), col("band"),
        explode(array(col("key") +: (0 until bandBits).map(j =>
          col("key").bitwiseXOR(lit(1L << j))): _*)).as("key"))
    val cand = banded.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      col("band"), col("key"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.join(broadcast(q), Seq("band", "key"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("cos"))
      .distinct() // a pair may collide in several bands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** DuckDB mirror of [[annLsh]] with `multiProbe = true`: the query side
    * additionally probes each band key's hamming-1 neighbors. */
  val annLshMultiProbeSql: String = {
    val planes = hyperplanes(16, 64)
    val sigTerms = planes.zipWithIndex.map { case (p, j) =>
      val dot = p.zipWithIndex.map { case (v, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ($v)"
      }.mkString(" + ")
      s"CASE WHEN ($dot) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n            + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT vec_id, embedding, norm, $b AS band, (sig >> ${b * 4}) & 15 AS key FROM sig")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS (
         SELECT vec_id, embedding,
                sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                  for i in range(1, len(embedding)+1)])) AS norm
         FROM embeddings),
       sig AS (
         SELECT vec_id, embedding, norm,
              ($sigTerms) AS sig
         FROM e),
       banded AS ($bandSelects),
       probes AS (
         SELECT vec_id, embedding, norm, band, key FROM banded WHERE vec_id < 10
         UNION ALL
         SELECT vec_id, embedding, norm, band, xor(key, 1 << j) AS key
         FROM banded, UNNEST(range(0, 4)) t(j) WHERE vec_id < 10),
       pairs AS (
         SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid,
                list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                  for i in range(1, len(q.embedding)+1)]) / (q.norm * c.norm) AS cos
         FROM banded c JOIN probes q USING (band, key)
         WHERE q.vec_id <> c.vec_id)
       SELECT qid, nid, rank FROM (
         SELECT qid, nid,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         FROM pairs) t
       WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** Product-quantization (PQ) approximate top-k with exact re-rank — the
    * memory-bound 100 TB ANN path (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011; also the layout behind
    * FAISS's IVF-PQ indexes): each vector is split into `nSub` subspaces
    * and every subspace slice is replaced by the id of its nearest
    * codeword, so a 64-dim float vector compresses to `nSub` small codes
    * (here 8 bytes — 32× smaller). Queries never touch raw candidate
    * vectors until the final re-rank:
    *   1. codebook: `kSub` sampled corpus rows (the ann03 md5-sample
    *      discipline — deterministic, no RNG, oracle-derivable), sliced
    *      into per-subspace codewords — a `kSub × nSub`-row DataFrame,
    *      BROADCAST everywhere it's used;
    *   2. encode: one pass over the corpus — per (vector, subspace) the
    *      argmin-L2 codeword via map-side-combined `min_by` aggregation;
    *      only (vec_id, m, j) ints shuffle, never the vectors. Slot-cached:
    *      the PQ index is built once per corpus and reused across queries;
    *   3. ADC (asymmetric distance computation): per query, a tiny
    *      (query × subspace × codeword) distance table — integer-quantized
    *      micro-units so the cross-engine sum is order-independent —
    *      broadcast against the codes; the scan aggregates `nSub` ints per
    *      (query, candidate) with map-side combine;
    *   4. the `shortlist` best ADC candidates per query are re-ranked with
    *      EXACT cosine (vectors fetched only for shortlist × queries rows).
    * At 100 TB the codes table is the only per-candidate state the scan
    * touches (32× less I/O than raw vectors), and composing with ann03's
    * IVF cell filter (encode residuals per probed cell) bounds the ADC
    * scan itself — this entry keeps the full-corpus ADC so the oracle
    * stays one SQL mirror. */
  def annPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
            nSub: Int = 8, kSub: Int = 16, shortlist: Int = 50): DataFrame = {
    val emb = pqEmb(Tables.embeddings(s, d))
    val codebook = modelSlot(pqCodebook(emb, nSub, kSub))
    // Slot-cached: the PQ index is built once per corpus and reused across
    // queries on the same corpus
    val codes = pqCodesSlot(pqEncode(emb, codebook, nSub))
    pqTopK(emb, codes, codebook,
      emb.filter(col("vec_id") < nQueries), nSub, k, shortlist)
  }

  /** (vec_id, e double-array) projection every PQ stage starts from. */
  private[queries] def pqEmb(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))

  // subspace L2, rounded like ann04 so both engines order identically
  private def pqL2r(a: String, b: String): Column = round(expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"), 6)
  // integer micro-units: summing longs is order-independent, so the ADC
  // total is bit-identical regardless of aggregation order in either engine
  private def pqL2Micro(a: String, b: String): Column = round(expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")
    * 1e6).cast("long")

  /** Explode (id, e) into `nSub` (id, m, sv) subspace slices. */
  private[queries] def pqSliced(df: DataFrame, idAs: String, nSub: Int): DataFrame = {
    val subDim = 64 / nSub
    df.select(col("vec_id").as(idAs),
      explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"), slice(col("e"), m * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col(idAs), col("s.m").as("m"), col("s.sv").as("sv"))
  }

  /** PQ codebook: `kSub` sampled corpus rows (the ann03 md5-sample
    * discipline — deterministic, no RNG, oracle-derivable), one codeword
    * per (m, j) — a `kSub × nSub`-row DataFrame, BROADCAST everywhere. */
  private[queries] def pqCodebook(emb: DataFrame, nSub: Int, kSub: Int): DataFrame =
    pqSliced(
      emb.select(col("vec_id"), col("e"), md5(col("vec_id").cast("string")).as("h"))
        .orderBy("h").limit(kSub).select(col("vec_id"), col("e")), "j", nSub)
      .select(col("j"), col("m"), col("sv").as("cw"))

  /** Encode: argmin codeword per (vector, subspace) → (vec_id, m, j);
    * min_by aggregates with map-side combine — no window sort, no vector
    * bytes in the shuffle. */
  private[queries] def pqEncode(emb: DataFrame, codebook: DataFrame,
                                nSub: Int): DataFrame =
    pqSliced(emb, "vec_id", nSub).join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"), col("j"), pqL2r("sv", "cw").as("dist_r"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("j"), struct(col("dist_r"), col("j"))).as("j"))

  /** Trained PQ: [[annPq]] with the codebook REFINED by Lloyd iterations
    * before encoding — k-means per subspace, exactly what FAISS trains
    * (the md5 sample is only the deterministic INIT, as FAISS inits from a
    * sample). Fixed iteration count + exact-decimal means + 6-dp rounding
    * keep both engines bit-identical (the ann04 discipline), so the
    * trained index stays hash-oracle-checkable end to end. Trained
    * codewords sit at their members' means instead of on arbitrary corpus
    * rows — quantization error drops, so the same shortlist reaches
    * HIGHER recall (TrainedQuantizerSpec pins trained ≥ sampled on the
    * planted-neighbor fixture).
    *
    * Scale shape per iteration: one corpus pass against the broadcast
    * codebook (map-side-combined argmin — no vector bytes shuffle), then
    * one (m, j, pos)-keyed mean aggregation producing nSub·kSub·subDim
    * rows. Training adds T corpus passes; encode/serve shapes unchanged. */
  def annTrainedPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                   nSub: Int = 8, kSub: Int = 16, shortlist: Int = 50,
                   iters: Int = 1): DataFrame = {
    val emb = pqEmb(Tables.embeddings(s, d))
    var cb = pqCodebook(emb, nSub, kSub)
    // refine on the bounded sample (the md5-kSub init is a subset of the
    // md5-TrainSampleSize sample, so init ⊂ training set as FAISS does);
    // the ENCODE below still covers the full corpus
    val train = trainSample(emb)
    (0 until iters).foreach(_ => cb = pqTrainStep(train, cb, nSub))
    cb = modelSlot(cb)
    val codes = trainedPqCodesSlot(pqEncode(emb, cb, nSub))
    pqTopK(emb, codes, cb, emb.filter(col("vec_id") < nQueries),
      nSub, k, shortlist)
  }

  private val trainedPqCodesSlot = new CacheSlot

  /** FAISS-style bounded training set: quantizer quality saturates on a
    * sample (FAISS trains on ~max(k·39, 100k) vectors, not the corpus),
    * so Lloyd refinement never pays full-corpus passes — the one place
    * this battery previously deviated from its own 100-TB discipline.
    * Smallest-md5 rank is the repo's deterministic-sampling recipe,
    * mirrored verbatim in the DuckDB oracles; the top-N itself is one
    * map-side-partial TakeOrdered pass, distributed and bounded. Works on
    * any (vec_id, ...) frame — extra columns (e.g. IVF's norm) ride
    * along. */
  val TrainSampleSize = 512
  private[queries] def trainSample(df: DataFrame): DataFrame =
    df.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(TrainSampleSize).drop("h")

  /** One Lloyd refinement of a PQ codebook: every corpus subvector joins
    * its nearest codeword (rounded L2, min-j tie — the encode discipline),
    * each codeword moves to the EXACT-decimal mean of its members (summed
    * as DECIMAL(30,10), divided once, rounded to 6 dp — the ann04
    * cross-engine determinism recipe); a codeword that loses every member
    * keeps its previous position, so the codebook never shrinks. */
  private[queries] def pqTrainStep(emb: DataFrame, cb: DataFrame,
                                   nSub: Int): DataFrame = {
    val assigned = pqSliced(emb, "vec_id", nSub).join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("j"), col("sv"),
        pqL2r("sv", "cw").as("dist_r"))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("j"), col("sv")),
        struct(col("dist_r"), col("j"))).as("best"))
      .select(col("m"), col("best.j").as("j"), col("best.sv").as("sv"))
    val means = assigned
      .select(col("m"), col("j"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "j", "pos")
      .agg(round(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
        .cast("double") / count(lit(1)), 6).as("cv"))
      .groupBy("m", "j")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
        .as("cw1"))
    // both sides are nSub·kSub rows, but they derive from aggregations so
    // the planner can't see that — hint the provably-bounded means side
    // (a sort-merge of two 128-row relations is harmless yet pointless)
    cb.join(broadcast(means), Seq("m", "j"), "left")
      .select(col("m"), col("j"), coalesce(col("cw1"), col("cw")).as("cw"))
  }

  /** OPQ — Optimized Product Quantization (Ge et al., CVPR 2013,
    * non-parametric variant; FAISS's `OPQMatrix` pre-rotation): learn an
    * ORTHONORMAL rotation R that minimizes PQ reconstruction error, then
    * run the whole trained-PQ pipeline in the rotated space. Subspace
    * quantizers assume the coordinates they own carry comparable,
    * independent structure; correlated/skewed dimensions break that, and a
    * learned rotation redistributes variance so every subspace earns its
    * codewords — the standard FAISS step after sampled Lloyd training
    * that ann10 deferred.
    *
    * Scale shape: training alternates (a) one Lloyd step on the ROTATED
    * bounded sample with (b) the orthogonal-Procrustes solve R = V·Uᵀ from
    * SVD(X·Yᵀ) — both on the driver over the ≤[[TrainSampleSize]]×64
    * sample (a 64×64 SVD; the same driver-side-model discipline as the
    * other trainers). Corpus-side, R applies as ONE broadcast-literal
    * matrix multiply per row (map-only, codegen'd HOFs) before the usual
    * encode; serve shapes are unchanged from [[annTrainedPq]]. Cosine is
    * rotation-invariant, so the exact re-rank in rotated space returns the
    * same neighbors it would on the raw vectors.
    *
    * Oracle: the SVD SOLVE has no SQL mirror, but it doesn't need one —
    * the learned R is deterministic (md5-ranked sample, fixed iterations),
    * so the oracle embeds it as literals ([[rotatedERel]]) and recomputes
    * everything downstream of the rotation exactly
    * ([[annTrainedPqSqlOver]]); TrainedQuantizerSpec additionally pins
    * rotated quantization error ≤ unrotated and recall ≥
    * [[annTrainedPq]] at the same shortlist. */
  def annOpqPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
               nSub: Int = 8, kSub: Int = 16, shortlist: Int = 50,
               iters: Int = 2): DataFrame = {
    val emb = pqEmb(Tables.embeddings(s, d))
    val r = opqRotationMemo(trainSample(emb), nSub, kSub, iters)
    lastOpqRotation = Some(r)
    // Slot-cache the rotated corpus: the 6-dp rounding matmul (exactness
    // for the embedded-rotation oracle) otherwise re-executes on the
    // encode pass, the exact-re-rank pass, AND the query side — three
    // O(N·d²) passes where one suffices. The rotation matrix is a plan
    // constant, so the slot hits across passes of the same learned R.
    val rot = opqRotSlot(opqRotate(emb, r))
    var cb = pqCodebook(rot, nSub, kSub)
    cb = modelSlot(pqTrainStep(trainSample(rot), cb, nSub))
    val codes = opqCodesSlot(pqEncode(rot, cb, nSub))
    pqTopK(rot, codes, cb, rot.filter(col("vec_id") < nQueries),
      nSub, k, shortlist)
  }

  private val opqRotSlot = new CacheSlot
  private val opqCodesSlot = new CacheSlot

  /** OPQ + IVF-PQ (battery ann18; oracle-checked like ann17 via the
    * embedded-rotation technique): the FAISS-standard
    * endpoint of the ANN ladder — `OPQ_{M},IVF{n},PQ{M}` — composing the
    * learned pre-rotation with coarse cells + residual product codes.
    * Rotation redistributes variance across the PQ subspaces; the residual
    * quantizer then earns its codewords in every subspace, which is where
    * IVF-PQ loses recall on skewed corpora. Cosine is rotation-invariant,
    * so cells, probes, ADC, and the exact re-rank all work unchanged in
    * rotated space and return the same neighbors the raw space would.
    *
    * Scale shape: identical to [[annTrainedIvfPq]] plus ONE map-only
    * broadcast-literal matmul on the encode path ([[opqRotate]]) — the
    * rotation trains driver-side on the bounded sample, everything
    * corpus-sized stays the one-equi-join ADC pipeline. */
  def annOpqIvfPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                  nCells: Int = 16, nProbe: Int = 4, nSub: Int = 8,
                  kSub: Int = 16, shortlist: Int = 50,
                  iters: Int = 2): DataFrame = {
    val emb = pqEmb(Tables.embeddings(s, d))
    val r = opqRotationMemo(trainSample(emb), nSub, kSub, iters)
    lastOpqRotation = Some(r)
    // Same rotated-corpus slot discipline as [[annOpqPq]] — one rounding
    // matmul per corpus, shared by assign/encode/re-rank/query sides.
    val rot = opqIvfRotSlot(ivfEn(opqRotate(emb, r)))
    val cents = modelSlot(
      ivfTrainStep(trainSample(rot), ivfCentroids(rot, nCells)))
    val assigned = opqIvfAssignedSlot(ivfAssignResiduals(rot, cents))
    val rcodebook = modelSlot(ivfResidualCodebook(assigned, nSub, kSub))
    val codes = opqIvfCodesSlot(ivfPqEncode(assigned, rcodebook, nSub))
    ivfPqTopK(rot, cents, rcodebook, codes,
      rot.filter(col("vec_id") < nQueries), nProbe, nSub, k, shortlist)
  }

  private val opqIvfRotSlot = new CacheSlot
  private val opqIvfAssignedSlot = new CacheSlot
  private val opqIvfCodesSlot = new CacheSlot

  /** Apply a rotation matrix to the `e` column as a plan constant:
    * `e' = R·e` through the codegen'd [[graft.spark.functions.MatVecExpr]]
    * — map-only, no UDF, no shuffle, no interpreted HOF lambdas in the
    * encode hot loop; the 64×64 matrix is part of the plan like LSH's
    * hyperplanes. Rotated coordinates round to 6 dp (the ann04
    * determinism discipline) so the DuckDB oracle — which recomputes the
    * rotation from the SAME matrix embedded as literals — lands on
    * bit-identical coordinates regardless of each engine's FP summation
    * order, and everything downstream of the rotation stays hash-exact. */
  private[queries] def opqRotate(df: DataFrame,
                                 r: Array[Array[Double]]): DataFrame =
    df.withColumn("e",
      graft.spark.functions.MatVec.matVec(r, col("e"), roundDp = 6))

  /** The rotation learned by the LAST [[annOpqPq]]/[[annOpqIvfPq]] run in
    * this JVM. Verify runs every query BEFORE dumping `oracleSql`, so the
    * oracle can embed the learned matrix as SQL literals — the ann02
    * hyperplane technique, with a deterministic TRAINED constant
    * (md5-ranked sample, fixed iterations) instead of a seeded one. Both
    * entries train on the same sample with the same parameters, so they
    * learn the same matrix. */
  @volatile private var lastOpqRotation: Option[Array[Array[Double]]] = None

  /** DuckDB relation computing the OPQ-rotated corpus: `e' = ROUND(R·e, 6)`
    * per coordinate with R embedded as a literal — the oracle twin of
    * [[opqRotate]]. */
  private def rotatedERel(r: Array[Array[Double]]): String = {
    val dim = r.length
    val lit = r.map(_.map(v => java.lang.Double.toString(v))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""SELECT r0.vec_id,
        [ROUND(list_sum([rm.rmat[i][jj] * r0.e[jj] for jj in range(1, ${dim + 1})]), 6)
           for i in range(1, ${dim + 1})] AS e
        FROM (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
              FROM embeddings) r0, (SELECT $lit AS rmat) rm"""
  }

  /** Oracle SQL for ann17/ann18 — available once the OPQ entries have run
    * in this JVM (the Verify flow); empty otherwise, which degrades those
    * entries to the pre-r17 rows-only check instead of mis-oracling. */
  def opqOracleEntries: Map[String, String] =
    lastOpqRotation.map { r =>
      Map(
        "ann17_opq_pq" -> annTrainedPqSqlOver(rotatedERel(r)),
        "ann18_opq_ivfpq" -> annIvfPqSqlOver(rotatedERel(r), None,
          trainCells = true))
    }.getOrElse(Map.empty)

  /** Learn the OPQ rotation on the bounded sample (driver-side; the
    * sample is ≤[[TrainSampleSize]] rows by construction). Alternates a
    * deterministic Lloyd step (md5-rank init, min-index ties — the
    * distributed trainer's discipline) with the Procrustes update.
    * Deterministic for a fixed sample and iteration count. */
  private[queries] def opqRotation(sample: DataFrame, nSub: Int, kSub: Int,
                                   iters: Int): Array[Array[Double]] = {
    import breeze.linalg.{svd, DenseMatrix}
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = sample.select(col("vec_id"), col("e")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
      .sortBy { case (id, _) => md5hex(id.toString) }
    val xs = rows.map(_._2)
    require(xs.nonEmpty && xs.length >= kSub, "opq: sample smaller than kSub")
    val dim = xs.head.length
    val subDim = dim / nSub
    // columns of X are the sample vectors (breeze stores column-major)
    val x = new DenseMatrix(dim, xs.length, xs.flatten)
    var rot = DenseMatrix.eye[Double](dim)
    // codebook [m][k][subDim], initialized from the first kSub md5-ranked
    // ROTATED sample vectors on the first pass, refined once per iteration
    var cb: Array[Array[Array[Double]]] = null
    def nearest(cws: Array[Array[Double]], sv: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < cws.length) {
        var dd = 0.0; var t = 0
        while (t < subDim) { val v = sv(t) - cws(j)(t); dd += v * v; t += 1 }
        // the distributed trainer's 6-dp rounding + min-j tie
        dd = math.rint(dd * 1e6) / 1e6
        if (dd < bestD) { bestD = dd; best = j }
        j += 1
      }
      best
    }
    var it = 0
    while (it < iters) {
      val xr = rot * x
      val cols = Array.tabulate(xs.length)(i =>
        Array.tabulate(dim)(j => xr(j, i)))
      if (cb == null)
        cb = Array.tabulate(nSub)(m => Array.tabulate(kSub)(kk =>
          cols(kk).slice(m * subDim, (m + 1) * subDim)))
      // one Lloyd step in the current rotated space: assign, then move
      // each codeword to its members' mean (empty keeps position)
      val sums = Array.fill(nSub, kSub)(new Array[Double](subDim))
      val counts = Array.fill(nSub, kSub)(0L)
      cols.foreach { v =>
        var m = 0
        while (m < nSub) {
          val sv = v.slice(m * subDim, (m + 1) * subDim)
          val j = nearest(cb(m), sv)
          var t = 0
          while (t < subDim) { sums(m)(j)(t) += sv(t); t += 1 }
          counts(m)(j) += 1
          m += 1
        }
      }
      cb = Array.tabulate(nSub)(m => Array.tabulate(kSub)(j =>
        if (counts(m)(j) == 0) cb(m)(j)
        else cb(m)(j).indices.toArray.map(t =>
          sums(m)(j)(t) / counts(m)(j))))
      // reconstruction Y of the rotated sample from the fresh codebook
      val y = DenseMatrix.zeros[Double](dim, xs.length)
      var i = 0
      while (i < cols.length) {
        var m = 0
        while (m < nSub) {
          val sv = cols(i).slice(m * subDim, (m + 1) * subDim)
          val cw = cb(m)(nearest(cb(m), sv))
          var t = 0
          while (t < subDim) { y(m * subDim + t, i) = cw(t); t += 1 }
          m += 1
        }
        i += 1
      }
      // orthogonal Procrustes: argmin_R ||R·X − Y||_F = V·Uᵀ for
      // SVD(X·Yᵀ) = U·S·Vᵀ
      val s = svd(x * y.t)
      rot = s.Vt.t * s.U.t
      it += 1
    }
    Array.tabulate(dim)(i => Array.tabulate(dim)(j => rot(i, j)))
  }

  /** DuckDB mirror of [[annTrainedPq]] (iters = 1): same sampled init,
    * same rounded-L2 min-j assignment, same exact-decimal means, same ADC
    * + re-rank as [[annPqSql]] — byte-exact. */
  val annTrainedPqSql: String = annTrainedPqSqlOver(
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings")

  /** The trained-PQ oracle over an arbitrary (vec_id, e) corpus relation —
    * ann17 passes the OPQ-rotated corpus ([[rotatedERel]]). */
  def annTrainedPqSqlOver(eRel: String): String =
    s"""WITH e AS ($eRel),
       et AS (
         SELECT vec_id, e FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $TrainSampleSize),
       c0 AS (
         SELECT vec_id AS j, e AS ce FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
       sub AS (SELECT m FROM UNNEST(range(0, 8)) t(m)),
       cb0 AS (
         SELECT s.m, c.j, [c.ce[s.m*8+i] for i in range(1, 9)] AS cw
         FROM c0 c, sub s),
       a0 AS (
         SELECT vec_id, m, j, sv FROM (
           SELECT e.vec_id, cb.m, cb.j,
                  [e.e[cb.m*8+i] for i in range(1, 9)] AS sv,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
                    ROUND(list_sum([ (e.e[cb.m*8+i] - cb.cw[i]) * (e.e[cb.m*8+i] - cb.cw[i])
                      for i in range(1, 9) ]), 6), cb.j) AS rk
           FROM et e, cb0 cb) t
         WHERE rk = 1),
       u AS (
         SELECT m, j, i, CAST(sv[i] AS DECIMAL(30,10)) AS v
         FROM a0, UNNEST(range(1, 9)) t(i)),
       mn AS (
         SELECT m, j, i, ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS cv
         FROM u GROUP BY m, j, i),
       cw1 AS (SELECT m, j, list(cv ORDER BY i) AS cw FROM mn GROUP BY m, j),
       cb1 AS (
         SELECT cb0.m, cb0.j, COALESCE(cw1.cw, cb0.cw) AS cw
         FROM cb0 LEFT JOIN cw1 ON cb0.m = cw1.m AND cb0.j = cw1.j),
       codes AS (
         SELECT vec_id, m, j FROM (
           SELECT e.vec_id, cb.m, cb.j,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
                    ROUND(list_sum([ (e.e[cb.m*8+i] - cb.cw[i]) * (e.e[cb.m*8+i] - cb.cw[i])
                      for i in range(1, 9) ]), 6), cb.j) AS rk
           FROM e, cb1 cb) t
         WHERE rk = 1),
       qd AS (
         SELECT e.vec_id AS qid, cb.m, cb.j,
                CAST(ROUND(list_sum([ (e.e[cb.m*8+i] - cb.cw[i]) * (e.e[cb.m*8+i] - cb.cw[i])
                  for i in range(1, 9) ]) * 1000000) AS BIGINT) AS dm
         FROM e, cb1 cb WHERE e.vec_id < 10),
       adc AS (
         SELECT q.qid, cd.vec_id AS nid, SUM(q.dm) AS approx
         FROM codes cd JOIN qd q ON cd.m = q.m AND cd.j = q.j
         WHERE q.qid <> cd.vec_id
         GROUP BY q.qid, cd.vec_id),
       short AS (
         SELECT qid, nid FROM (
           SELECT qid, nid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx, nid) AS rk
           FROM adc) t
         WHERE rk <= 50),
       en AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM e)
       SELECT qid, nid, rank FROM (
         SELECT sh.qid, sh.nid,
                ROW_NUMBER() OVER (PARTITION BY sh.qid ORDER BY
                  (list_sum([q.e[i] * n.e[i] for i in range(1, len(q.e)+1)])
                     / (q.norm * n.norm)) DESC, sh.nid) AS rank
         FROM short sh
         JOIN en q ON q.vec_id = sh.qid
         JOIN en n ON n.vec_id = sh.nid) t
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** ADC shortlist + exact re-rank from an ALREADY-BUILT code set — shared
    * by [[annPq]] (session-built codes) and [[AnnIndex]] (codes served from
    * the persistent, incrementally-maintained index table). `corpus` is the
    * (vec_id, e) relation candidates re-rank against; `queries` likewise
    * (qid side). Plan shape as documented on [[annPq]]. */
  private[queries] def pqTopK(corpus: DataFrame, codes: DataFrame,
                              codebook: DataFrame, queries: DataFrame,
                              nSub: Int, k: Int, shortlist: Int): DataFrame = {
    // ADC table: query × subspace × codeword distances (tiny; broadcast)
    val qd = pqSliced(queries, "qid", nSub)
      .join(broadcast(codebook), "m")
      .select(col("qid"), col("m"), col("j"), pqL2Micro("sv", "cw").as("dm"))

    // shortlist: approx distance = sum of the candidate's per-subspace
    // table entries; ints only until the re-rank
    val wShort = Window.partitionBy(col("qid")).orderBy(col("approx"), col("nid"))
    val short = codes.join(broadcast(qd), Seq("m", "j"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(sum(col("dm")).as("approx"))
      .withColumn("rk", row_number().over(wShort))
      .filter(col("rk") <= shortlist)
      .select("qid", "nid")

    // exact cosine re-rank of the shortlist only
    val en = corpus.select(col("vec_id"), col("e"),
      sqrt(dot(col("e"), col("e"))).as("norm"))
    val q = queries
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        sqrt(dot(col("e"), col("e"))).as("qnorm"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    // short is BOUNDED at nQueries × shortlist rows for any corpus size —
    // broadcast it so the re-rank streams the corpus map-only
    en.withColumnRenamed("vec_id", "nid").join(broadcast(short), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qnorm") * col("norm"))).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** SCALAR QUANTIZATION (SQ8 — FAISS's ScalarQuantizer family, the
    * simplest lossy index): per-DIMENSION min/max over the corpus maps
    * each coordinate to one byte (`round((x−mn)/Δ·255)`), 4× smaller
    * than float32 with no codebook at all. Serving dequantizes map-only
    * (x̂ = mn + c·Δ/255), shortlists by approximate cosine against the
    * EXACT query, and exact-re-ranks the bounded shortlist — the ann06
    * serving discipline with a 129-value model (64 mins + 64 deltas +
    * nothing else) that broadcasts anywhere.
    *
    * Scale shape: training is ONE map-side-combined (dim, min, max)
    * aggregation; encode/dequantize are map-only passes; the model is
    * O(dims) — the cheapest possible quantizer to maintain. This
    * session-built entry always trains on the exact corpus it encodes,
    * so every coordinate is in-range by construction; a MAINTAINED
    * variant (frozen min/max at bootstrap, the ann07 pattern) must add
    * the standard SQ clamp to [0, 255] before persisting codes for
    * vectors outside the bootstrap range. Constant dimensions get Δ=1
    * so dequant returns mn exactly.
    *
    * Determinism: codes are integers (rounded once); dequantized
    * coordinates and the approx cosine recompute identically in both
    * engines, with the 6-dp round before the shortlist ordering. */
  def annSq8(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
             shortlist: Int = 40): DataFrame = {
    val emb = pqEmb(Tables.embeddings(s, d))
    val params = modelSlot(sq8Params(emb))
    // encode -> dequantize against the just-trained params (the int codes
    // are the PERSISTED form in the maintained variant, ann15; here they
    // exist only inside the expression -- the slot caches the
    // reconstructed vectors the shortlist scans). sq8Encode's [0, 255]
    // clamp is a no-op here: params are trained on the exact corpus being
    // encoded, so every coordinate is in-range by construction.
    val deq = sq8DeqSlot(sq8Dequant(sq8Encode(emb, params), params))
    sq8TopK(deq, emb, emb.filter(col("vec_id") < nQueries), k, shortlist)
  }

  /** DuckDB mirror of [[annSq8]]: [[annSq8SqlOver]] with params trained on
    * the same corpus it encodes (the clamp is a no-op in that case). */
  val annSq8Sql: String = {
    val e =
      "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings"
    annSq8SqlOver(e, e)
  }

  // ------------------------------------------------ SQ8 as a maintained model
  // [[annSq8]] builds and serves in one session; these helpers split the
  // same math into the persistable pieces a MAINTAINED index needs
  // ([[AnnIndex.buildSq]]): a one-row params model frozen at bootstrap,
  // and a clamped encode for vectors that arrive after it.

  /** SQ8 model over `emb` — ONE row (per-dimension mins + deltas), the
    * frozen artifact a maintained SQ index persists at bootstrap. */
  def sq8Params(emb: DataFrame): DataFrame = {
    val dims = emb.select(posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).as("mn"),
        when(max(col("v")) === min(col("v")), lit(1.0))
          .otherwise(max(col("v")) - min(col("v"))).as("dl"))
    dims.groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)")
        .as("mins"),
        expr("transform(array_sort(collect_list(struct(pos, dl))), s -> s.dl)")
        .as("deltas"))
  }

  /** Encode against FROZEN params with the standard SQ clamp to [0, 255]:
    * a maintained index meets coordinates outside the bootstrap range
    * (the session-built [[annSq8]] never does — it trains on what it
    * encodes), and an unclamped code would dequantize outside the model's
    * representable range. The clamp runs in DOUBLE space BEFORE the int
    * cast: a coordinate drifted beyond Int range must saturate to 0/255,
    * not throw CAST_OVERFLOW under ANSI mode. Map-only; the params row
    * broadcasts. */
  def sq8Encode(emb: DataFrame, params: DataFrame): DataFrame =
    emb.crossJoin(broadcast(params))
      .select(col("vec_id"), expr(
        "transform(sequence(1, size(e)), i -> " +
          "CAST(LEAST(255D, GREATEST(0D, round(" +
          "(element_at(e, i) - element_at(mins, i)) / element_at(deltas, i) * 255" +
          ", 0))) AS INT))").as("c"))

  /** Map-only dequantize of persisted SQ8 codes. */
  def sq8Dequant(codes: DataFrame, params: DataFrame): DataFrame =
    codes.crossJoin(broadcast(params))
      .select(col("vec_id"), expr(
        "transform(sequence(1, size(c)), i -> element_at(mins, i) + " +
          "CAST(element_at(c, i) AS DOUBLE) * element_at(deltas, i) / 255)")
        .as("ne"))

  /** Serve top-k from dequantized SQ8 vectors: approx-cosine shortlist
    * (6-dp round before ordering, [[annSq8]]'s discipline) + exact
    * re-rank of the bounded shortlist against the true corpus. */
  def sq8TopK(deq: DataFrame, corpus: DataFrame, queries: DataFrame,
              k: Int, shortlist: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("e").as("qe"),
      sqrt(dot(col("e"), col("e"))).as("qnorm"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("nid"))
    val short = deq
      .select(col("vec_id").as("nid"), col("ne"),
        sqrt(dot(col("ne"), col("ne"))).as("nn"))
      .join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qe"), col("ne")) / (col("qnorm") * col("nn")), 6).as("approx"))
      .withColumn("rk", row_number().over(wShort))
      .filter(col("rk") <= shortlist)
      .select("qid", "nid")
    val en = corpus.select(col("vec_id"), col("e"),
      sqrt(dot(col("e"), col("e"))).as("norm"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    en.withColumnRenamed("vec_id", "nid").join(broadcast(short), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qnorm") * col("norm"))).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** The SQ8 oracle over arbitrary relations: `eRel` is the (vec_id, e)
    * corpus codes/queries/re-rank run against; `paramsSourceRel` the
    * relation the one-row params model trains on (a maintained index pins
    * it to the BOOTSTRAP-time corpus state). Encode clamps to [0, 255]
    * exactly like [[sq8Encode]] — out-of-bootstrap-range coordinates
    * saturate identically in both engines. */
  def annSq8SqlOver(eRel: String, paramsSourceRel: String): String =
    s"""WITH ecur AS ($eRel),
       eboot AS ($paramsSourceRel),
       u AS (SELECT vec_id, i, e[i] AS v FROM eboot, UNNEST(range(1, 65)) t(i)),
       dims AS (
         SELECT i, MIN(v) AS mn,
                CASE WHEN MAX(v) = MIN(v) THEN 1 ELSE MAX(v) - MIN(v) END AS dl
         FROM u GROUP BY i),
       params AS (SELECT list(mn ORDER BY i) AS mins,
                         list(dl ORDER BY i) AS deltas FROM dims),
       codes AS (
         SELECT vec_id,
                [CAST(LEAST(255.0, GREATEST(0.0,
                   ROUND((e[i] - mins[i]) / deltas[i] * 255))) AS INT)
                 for i in range(1, len(e) + 1)] AS c
         FROM ecur, params),
       deq AS (
         SELECT vec_id,
                [mins[i] + CAST(c[i] AS DOUBLE) * deltas[i] / 255
                 for i in range(1, len(c) + 1)] AS ne
         FROM codes, params),
       dn AS (
         SELECT vec_id, ne,
                sqrt(list_sum([ne[i] * ne[i] for i in range(1, len(ne)+1)])) AS nn
         FROM deq),
       q AS (
         SELECT vec_id AS qid, e AS qe,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS qnorm
         FROM ecur WHERE vec_id < 10),
       short AS (
         SELECT qid, nid FROM (
           SELECT q.qid, dn.vec_id AS nid,
                  ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                    ROUND(list_sum([q.qe[i] * dn.ne[i]
                      for i in range(1, len(dn.ne)+1)]) / (q.qnorm * dn.nn), 6)
                      DESC, dn.vec_id) AS rk
           FROM dn, q WHERE q.qid <> dn.vec_id) t
         WHERE rk <= 40),
       en AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM ecur)
       SELECT qid, nid, rank FROM (
         SELECT s.qid, s.nid,
                ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
                  (list_sum([q.qe[i] * en.e[i] for i in range(1, len(en.e)+1)])
                    / (q.qnorm * en.norm)) DESC, s.nid) AS rank
         FROM short s
           JOIN en ON en.vec_id = s.nid
           JOIN q ON q.qid = s.qid) t
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** DuckDB mirror of [[annPq]]: same md5-sampled codebook, same rounded
    * subspace L2s, same integer-micro-unit ADC sums (order-independent in
    * both engines by construction), same tie-breaks — byte-exact. */
  val annPqSql: String = annPqSqlOver(
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings",
    "SELECT * FROM e")

  /** The PQ oracle over arbitrary relations: `eRel` is the (vec_id, e)
    * corpus the codes/queries/re-rank run against; `cbSourceRel` the
    * relation the 16-row codebook samples from (ann07 pins it to the
    * BOOTSTRAP-time corpus state, which is exactly what a maintained index
    * encodes against — the codebook is a snapshot artifact and never
    * re-trains on incremental syncs). */
  def annPqSqlOver(eRel: String, cbSourceRel: String): String =
    s"""WITH e AS ($eRel),
       c AS (
         SELECT vec_id AS j, e AS ce FROM ($cbSourceRel) cb0
         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
       sub AS (SELECT m FROM UNNEST(range(0, 8)) t(m)),
       codes AS (
         SELECT vec_id, m, j FROM (
           SELECT e.vec_id, s.m, c.j,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m ORDER BY
                    ROUND(list_sum([ (e.e[s.m*8+i] - c.ce[s.m*8+i]) * (e.e[s.m*8+i] - c.ce[s.m*8+i])
                      for i in range(1, 9) ]), 6), c.j) AS rk
           FROM e, sub s, c) t
         WHERE rk = 1),
       qd AS (
         SELECT e.vec_id AS qid, s.m, c.j,
                CAST(ROUND(list_sum([ (e.e[s.m*8+i] - c.ce[s.m*8+i]) * (e.e[s.m*8+i] - c.ce[s.m*8+i])
                  for i in range(1, 9) ]) * 1000000) AS BIGINT) AS dm
         FROM e, sub s, c WHERE e.vec_id < 10),
       adc AS (
         SELECT q.qid, cd.vec_id AS nid, SUM(q.dm) AS approx
         FROM codes cd JOIN qd q ON cd.m = q.m AND cd.j = q.j
         WHERE q.qid <> cd.vec_id
         GROUP BY q.qid, cd.vec_id),
       short AS (
         SELECT qid, nid FROM (
           SELECT qid, nid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx, nid) AS rk
           FROM adc) t
         WHERE rk <= 50),
       en AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM e)
       SELECT qid, nid, rank FROM (
         SELECT sh.qid, sh.nid,
                ROW_NUMBER() OVER (PARTITION BY sh.qid ORDER BY
                  (list_sum([q.e[i] * n.e[i] for i in range(1, len(q.e)+1)])
                     / (q.norm * n.norm)) DESC, sh.nid) AS rank
         FROM short sh
         JOIN en q ON q.vec_id = sh.qid
         JOIN en n ON n.vec_id = sh.nid) t
       WHERE rank <= 5 ORDER BY qid, rank"""

  private val ivfPqAssignedSlot = new CacheSlot
  private val ivfPqCodesSlot = new CacheSlot

  /** IVF-PQ: the composed 100 TB ANN path [[annPq]]'s doc promises — the
    * coarse IVF quantizer bounds WHICH codes each query scans (nProbe
    * cells instead of the full corpus), and product quantization on the
    * CELL RESIDUALS (vector − its centroid; residuals are what FAISS's
    * IVF-PQ encodes, since they're smaller and near-isotropic) bounds how
    * much each candidate costs (nSub ints). Per query the ADC table is
    * built per PROBED CELL from the query's residual w.r.t. that cell's
    * centroid, so distances compare residual-to-residual within a cell.
    *
    * Scale shape: centroids and the residual codebook are metadata-sized
    * broadcasts; encode is one corpus pass (map-side-combined argmin);
    * the ADC scan joins codes⋈(query ADC tables) on (cell, subspace,
    * codeword) — candidates outside probed cells never match, so the
    * probe bound composes multiplicatively with the 32× code compression;
    * only the bounded shortlist touches raw vectors.
    *
    * Residual codebook sampling is SALTED (`md5('r' || id)`): the plain
    * md5 order would pick exactly the centroid rows, whose residuals are
    * all-zero — a degenerate codebook. Deterministic and oracle-mirrored
    * like every sample here. */
  def annIvfPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
               nCells: Int = 16, nProbe: Int = 4, nSub: Int = 8,
               kSub: Int = 16, shortlist: Int = 50): DataFrame = {
    val en = ivfEn(pqEmb(Tables.embeddings(s, d)))
    val cents = modelSlot(ivfCentroids(en, nCells))
    // assign each vector to its nearest cell; carry the RESIDUAL out
    val assigned = ivfPqAssignedSlot(ivfAssignResiduals(en, cents))
    val rcodebook = modelSlot(ivfResidualCodebook(assigned, nSub, kSub))
    // encode residuals; codes CARRY the cell id so the ADC join composes
    // cell filtering with codeword lookup in one equi-join
    val codes = ivfPqCodesSlot(ivfPqEncode(assigned, rcodebook, nSub))
    ivfPqTopK(en, cents, rcodebook, codes,
      en.filter(col("vec_id") < nQueries), nProbe, nSub, k, shortlist)
  }

  /** Trained IVF-PQ: [[annIvfPq]] with the coarse CELLS refined by one
    * cosine-Lloyd step before anything else — k-means over the vectors,
    * the FAISS coarse-quantizer training ([[annTrainedPq]] trains the
    * other half, the codebook; here the refined cells also reshape the
    * residual distribution the codebook samples from). Same determinism
    * recipe: exact-decimal means rounded to 6 dp, cosine assignment with
    * min-cid ties, fixed iteration count — hash-oracle-checkable.
    *
    * Scale: the training step is one extra corpus pass (broadcast
    * centroids, map-side-combined argmax) + one (cell, dim) mean
    * aggregation; everything downstream keeps annIvfPq's shapes. */
  def annTrainedIvfPq(s: SparkSession, d: String, nQueries: Int = 10,
                      k: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                      nSub: Int = 8, kSub: Int = 16,
                      shortlist: Int = 50): DataFrame = {
    val (en, cents, rcodebook, codes) = trainedIvfPqModel(s, d, nCells, nSub, kSub)
    ivfPqTopK(en, cents, rcodebook, codes,
      en.filter(col("vec_id") < nQueries), nProbe, nSub, k, shortlist)
  }

  /** The trained-IVF-PQ model frames (corpus, refined cells, residual
    * codebook, codes) — shared by [[annTrainedIvfPq]] (corpus-row queries)
    * and [[ann14OutOfCorpus]] (unseen query vectors); the slots make the
    * second caller reuse the first's cached encode. */
  private[queries] def trainedIvfPqModel(s: SparkSession, d: String,
                                         nCells: Int, nSub: Int, kSub: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val en = ivfEn(pqEmb(Tables.embeddings(s, d)))
    // cells refine on the bounded sample ([[trainSample]]); assignment
    // and encode below still cover the full corpus
    val cents = modelSlot(
      ivfTrainStep(trainSample(en), ivfCentroids(en, nCells)))
    val assigned = trainedIvfAssignedSlot(ivfAssignResiduals(en, cents))
    val rcodebook = modelSlot(ivfResidualCodebook(assigned, nSub, kSub))
    val codes = trainedIvfCodesSlot(ivfPqEncode(assigned, rcodebook, nSub))
    (en, cents, rcodebook, codes)
  }

  /** Fixed OUT-OF-CORPUS query vectors — the serving shape that matters
    * for retrieval (every other ann* entry probes with corpus rows, which
    * can only overstate recall). Values are multiples of 1/1024 so the
    * decimal literals embedded in the DuckDB oracle parse to bit-identical
    * doubles; qids sit far above any corpus id range, so the
    * self-exclusion filter in the serve path never triggers. */
  val OutOfCorpusQueries: Seq[(Long, Seq[Double])] = {
    val rnd = new java.util.Random(421L)
    (0 until 5).map(i =>
      (1000001L + i, Seq.fill(64)((rnd.nextInt(2049) - 1024) / 1024.0)))
  }

  private[queries] def oocQueriesEn(s: SparkSession): DataFrame = {
    import s.implicits._
    ivfEn(OutOfCorpusQueries.toDF("vec_id", "e"))
  }

  private[queries] def oocValuesRel: String = {
    val rows = OutOfCorpusQueries.map { case (id, v) =>
      s"($id, [${v.map(x => BigDecimal(x).bigDecimal.toPlainString).mkString(", ")}])"
    }.mkString(", ")
    s"SELECT vec_id, [CAST(x AS DOUBLE) for x in e] AS e FROM (VALUES $rows) v(vec_id, e)"
  }

  /** Battery entry ann14: the trained IVF-PQ index serving UNSEEN query
    * vectors end-to-end (probe → per-cell residual ADC → bounded exact
    * re-rank). Same plan shapes as ann11 — queries are a 5-row broadcast
    * whichever side they come from. */
  def ann14OutOfCorpus(s: SparkSession, d: String, k: Int = 5,
                       nCells: Int = 16, nProbe: Int = 4, nSub: Int = 8,
                       kSub: Int = 16, shortlist: Int = 50): DataFrame = {
    val (en, cents, rcodebook, codes) = trainedIvfPqModel(s, d, nCells, nSub, kSub)
    ivfPqTopK(en, cents, rcodebook, codes, oocQueriesEn(s),
      nProbe, nSub, k, shortlist)
  }

  private val trainedIvfAssignedSlot = new CacheSlot
  private val trainedIvfCodesSlot = new CacheSlot

  /** One cosine-Lloyd refinement of the coarse cells: members assign by
    * full-precision cosine (desc sim, min-cid tie — the serving-path
    * discipline), each centroid moves to the exact-decimal mean of its
    * members (rounded 6 dp), empty cells keep their previous position;
    * norms recompute from the refined coordinates. */
  private[queries] def ivfTrainStep(en: DataFrame, cents: DataFrame): DataFrame = {
    val members = en.join(broadcast(cents))
      .select(col("vec_id"), col("e"), col("cid"),
        (dot(col("e"), col("ce")) / (col("norm") * col("cn"))).as("sim"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("e")),
        struct(negate(col("sim")), col("cid"))).as("best"))
      .select(col("best.cid").as("cid"), col("best.e").as("e"))
    val means = members
      .select(col("cid"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(round(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
        .cast("double") / count(lit(1)), 6).as("cv"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
        .as("ce1"))
    // nCells-row refinement join: hint the bounded means side (see
    // pqTrainStep's identical note)
    cents.join(broadcast(means), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("ce1"), col("ce")).as("ce"))
      .select(col("cid"), col("ce"), sqrt(dot(col("ce"), col("ce"))).as("cn"))
  }

  /** DuckDB mirror of [[annTrainedIvfPq]]: [[annIvfPqSqlOver]] with the
    * cell-training CTEs enabled. */
  val annTrainedIvfPqSql: String = annIvfPqSqlOver(
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings",
    None, trainCells = true)

  /** DuckDB mirror of [[ann14OutOfCorpus]]: the same trained index, probed
    * by the fixed out-of-corpus literals (identical decimal text in both
    * engines ⇒ identical doubles). */
  val ann14Sql: String = annIvfPqSqlOver(
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings",
    None, trainCells = true, queriesRel = Some(oocValuesRel))

  /** (vec_id, e, norm) projection the IVF stages share. */
  private[queries] def ivfEn(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("e"), sqrt(dot(col("e"), col("e"))).as("norm"))

  /** Deterministic coarse centroids: the md5-ordered sample (ann03
    * discipline) with the norm carried — (cid, ce, cn). */
  private[queries] def ivfCentroids(en: DataFrame, nCells: Int): DataFrame =
    en.select(col("vec_id").as("cid"), col("e").as("ce"),
        col("norm").as("cn"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h").limit(nCells).select("cid", "ce", "cn")

  /** Assign each vector to its nearest cell (full-precision cosine,
    * min-cid tie — ann03's exact discipline) and carry the residual out:
    * (vec_id, cid, r). Centroids broadcast; map-side-combined argmin. */
  private[queries] def ivfAssignResiduals(en: DataFrame, cents: DataFrame): DataFrame =
    en.join(broadcast(cents))
      .select(col("vec_id"), col("e"), col("cid"), col("ce"),
        (dot(col("e"), col("ce")) / (col("norm") * col("cn"))).as("sim"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("e"), col("ce")),
        struct(negate(col("sim")), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        zip_with(col("best.e"), col("best.ce"), (x, y) => x - y).as("r"))

  /** Explode a vector column into per-subspace slices, keeping `keep`. */
  private[queries] def ivfSlices(df: DataFrame, vecCol: String,
                                 keep: Seq[String], nSub: Int): DataFrame = {
    val subDim = 64 / nSub
    df.select(keep.map(col) :+
        explode(array((0 until nSub).map(m => struct(lit(m).as("m"),
          slice(col(vecCol), m * subDim + 1, subDim).as("sv"))): _*)).as("s"): _*)
      .select(keep.map(col) :+ col("s.m").as("m") :+ col("s.sv").as("sv"): _*)
  }

  /** Residual codebook: kSub SALTED-sampled residuals (`md5('r' || id)` —
    * the plain md5 order would pick exactly the centroids, whose residuals
    * are all zero), per-subspace slices → (j, m, cw). */
  private[queries] def ivfResidualCodebook(assigned: DataFrame, nSub: Int,
                                           kSub: Int): DataFrame =
    ivfSlices(
      assigned.select(col("vec_id"), col("r"),
          md5(concat(lit("r"), col("vec_id").cast("string"))).as("h"))
        .orderBy("h").limit(kSub)
        .select(col("vec_id").as("j"), col("r")), "r", Seq("j"), nSub)
      .select(col("j"), col("m"), col("sv").as("cw"))

  /** Encode residuals against the frozen codebook → (vec_id, cid, m, j);
    * map-side-combined argmin, no vector bytes in the shuffle. */
  private[queries] def ivfPqEncode(assigned: DataFrame, rcodebook: DataFrame,
                                   nSub: Int): DataFrame =
    ivfSlices(assigned, "r", Seq("vec_id", "cid"), nSub)
      .join(broadcast(rcodebook), "m")
      .select(col("vec_id"), col("cid"), col("m"), col("j"),
        pqL2r("sv", "cw").as("dist_r"))
      .groupBy("vec_id", "cid", "m")
      .agg(min_by(col("j"), struct(col("dist_r"), col("j"))).as("j"))

  /** Probe + per-cell-residual ADC + shortlist + exact re-rank from an
    * ALREADY-BUILT cell-carrying code set — shared by [[annIvfPq]]
    * (session-built) and [[AnnIndex]]'s persistent IVF-PQ variant. */
  private[queries] def ivfPqTopK(corpusEn: DataFrame, cents: DataFrame,
                                 rcodebook: DataFrame, codes: DataFrame,
                                 queriesEn: DataFrame, nProbe: Int, nSub: Int,
                                 k: Int, shortlist: Int): DataFrame = {
    // queries probe their nProbe nearest cells; ADC tables are built from
    // the query's PER-CELL residual (qid × nProbe × nSub × kSub rows —
    // metadata-sized, broadcast)
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val probes = queriesEn
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("norm").as("qn"))
      .join(broadcast(cents))
      .select(col("qid"), col("qe"), col("cid"), col("ce"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nProbe)
      .select(col("qid"), col("cid"),
        zip_with(col("qe"), col("ce"), (x, y) => x - y).as("qr"))
    val qd = ivfSlices(probes, "qr", Seq("qid", "cid"), nSub)
      .join(broadcast(rcodebook), "m")
      .select(col("qid"), col("cid"), col("m"), col("j"),
        pqL2Micro("sv", "cw").as("dm"))

    val wShort = Window.partitionBy(col("qid")).orderBy(col("approx"), col("nid"))
    val short = codes.join(broadcast(qd), Seq("cid", "m", "j"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(sum(col("dm")).as("approx"))
      .withColumn("rk", row_number().over(wShort))
      .filter(col("rk") <= shortlist)
      .select("qid", "nid")

    // exact cosine re-rank of the bounded shortlist
    val q = queriesEn
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("norm").as("qnorm"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    corpusEn.withColumnRenamed("vec_id", "nid").join(broadcast(short), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qnorm") * col("norm"))).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** DuckDB mirror of [[annIvfPq]]: same md5 centroid sample, salted
    * residual-codebook sample, rounded residual L2s for code assignment,
    * integer-micro-unit ADC sums, and tie-breaks — byte-exact. */
  val annIvfPqSql: String = annIvfPqSqlOver(
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings",
    None)

  /** The IVF-PQ oracle over arbitrary relations: `eRel` is the (vec_id, e)
    * corpus codes/queries/re-rank run against; `bootRel` (when set) the
    * DIFFERENT corpus state the coarse CENTROIDS and residual CODEBOOK
    * were frozen from (ann09 pins it to the bootstrap-time state — a
    * maintained index never re-trains either on incremental syncs). With
    * `bootRel = None` the quantizers derive from `eRel` itself and the
    * bootstrap CTEs are not emitted at all — the ann08 bench oracle pays
    * ONE assignment pass, not a duplicated pair. */
  def annIvfPqSqlOver(eRel: String, bootRel: Option[String],
                      trainCells: Boolean = false,
                      queriesRel: Option[String] = None): String = {
    require(!(trainCells && bootRel.nonEmpty),
      "cell training is only mirrored for same-corpus quantizers")
    // queries default to corpus rows (vec_id < 10); `queriesRel` swaps in
    // an arbitrary (vec_id, e) relation — out-of-corpus serving (ann14)
    val qnCte = queriesRel.fold("")(q =>
      s"""qn AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM ($q) qq),
       """)
    val probeSrc = if (queriesRel.isEmpty) "en" else "qn en"
    val probeFilter = if (queriesRel.isEmpty) "WHERE en.vec_id < 10" else ""
    val rerankQ = if (queriesRel.isEmpty) "en" else "qn"
    val (cSrc, rcbSrc) = if (bootRel.isEmpty) ("en", "assigned") else ("e0", "assigned0")
    val cCte =
      if (!trainCells)
        s"""c AS (
           SELECT vec_id AS cid, e AS ce, norm AS cn FROM $cSrc
           ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)"""
      else
        // one cosine-Lloyd step over the sampled init (annTrainedIvfPq):
        // exact-decimal member means rounded 6 dp, empty cells keep their
        // init position, norms recomputed from the refined coordinates
        s"""c0 AS (
           SELECT vec_id AS cid, e AS ce, norm AS cn FROM $cSrc
           ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
         ent AS (
           SELECT vec_id, e, norm FROM en
           ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $TrainSampleSize),
         at AS (
           SELECT cid, e FROM (
             SELECT en.vec_id, en.e, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
                      (list_sum([en.e[i] * c.ce[i] for i in range(1, len(en.e)+1)])
                         / (en.norm * c.cn)) DESC, c.cid) AS rk
             FROM ent en, c0 c) t
           WHERE rk = 1),
         ut AS (
           SELECT cid, i, CAST(e[i] AS DECIMAL(30,10)) AS v
           FROM at, UNNEST(range(1, 65)) t(i)),
         mt AS (
           SELECT cid, i, ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS cv
           FROM ut GROUP BY cid, i),
         ct AS (SELECT cid, list(cv ORDER BY i) AS ce FROM mt GROUP BY cid),
         c AS (
           SELECT cid, ce,
                  sqrt(list_sum([ce[i] * ce[i] for i in range(1, len(ce)+1)])) AS cn
           FROM (
             SELECT c0.cid, COALESCE(ct.ce, c0.ce) AS ce
             FROM c0 LEFT JOIN ct ON c0.cid = ct.cid) t0)"""
    s"""WITH e AS ($eRel),
       en AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM e),
       ${bootRel.fold("")(b =>
        s"""e0 AS (
         SELECT vec_id, e,
                sqrt(list_sum([e[i] * e[i] for i in range(1, len(e)+1)])) AS norm
         FROM ($b) b0),
       """)}$qnCte$cCte,
       ${bootRel.fold("")(_ =>
        s"""assigned0 AS (
         SELECT vec_id,
                [e[i] - ce[i] for i in range(1, len(e)+1)] AS r
         FROM (
           SELECT e0.vec_id, e0.e, c.cid, c.ce,
                  ROW_NUMBER() OVER (PARTITION BY e0.vec_id ORDER BY
                    (list_sum([e0.e[i] * c.ce[i] for i in range(1, len(e0.e)+1)])
                       / (e0.norm * c.cn)) DESC, c.cid) AS rk
           FROM e0, c) t
         WHERE rk = 1),
       """)}assigned AS (
         SELECT vec_id, cid,
                [e[i] - ce[i] for i in range(1, len(e)+1)] AS r
         FROM (
           SELECT en.vec_id, en.e, c.cid, c.ce,
                  ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
                    (list_sum([en.e[i] * c.ce[i] for i in range(1, len(en.e)+1)])
                       / (en.norm * c.cn)) DESC, c.cid) AS rk
           FROM en, c) t
         WHERE rk = 1),
       rcb AS (
         SELECT vec_id AS j, r AS cw FROM $rcbSrc
         ORDER BY md5('r' || CAST(vec_id AS VARCHAR)) LIMIT 16),
       sub AS (SELECT m FROM UNNEST(range(0, 8)) t(m)),
       codes AS (
         SELECT vec_id, cid, m, j FROM (
           SELECT a.vec_id, a.cid, s.m, rcb.j,
                  ROW_NUMBER() OVER (PARTITION BY a.vec_id, s.m ORDER BY
                    ROUND(list_sum([ (a.r[s.m*8+i] - rcb.cw[s.m*8+i]) * (a.r[s.m*8+i] - rcb.cw[s.m*8+i])
                      for i in range(1, 9) ]), 6), rcb.j) AS rk
           FROM assigned a, sub s, rcb) t
         WHERE rk = 1),
       probes AS (
         SELECT qid, cid, qr FROM (
           SELECT en.vec_id AS qid, c.cid,
                  [en.e[i] - c.ce[i] for i in range(1, len(en.e)+1)] AS qr,
                  ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
                    (list_sum([en.e[i] * c.ce[i] for i in range(1, len(en.e)+1)])
                       / (en.norm * c.cn)) DESC, c.cid) AS rk
           FROM $probeSrc, c $probeFilter) t
         WHERE rk <= 4),
       qd AS (
         SELECT p.qid, p.cid, s.m, rcb.j,
                CAST(ROUND(list_sum([ (p.qr[s.m*8+i] - rcb.cw[s.m*8+i]) * (p.qr[s.m*8+i] - rcb.cw[s.m*8+i])
                  for i in range(1, 9) ]) * 1000000) AS BIGINT) AS dm
         FROM probes p, sub s, rcb),
       adc AS (
         SELECT q.qid, cd.vec_id AS nid, SUM(q.dm) AS approx
         FROM codes cd JOIN qd q ON cd.cid = q.cid AND cd.m = q.m AND cd.j = q.j
         WHERE q.qid <> cd.vec_id
         GROUP BY q.qid, cd.vec_id),
       short AS (
         SELECT qid, nid FROM (
           SELECT qid, nid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx, nid) AS rk
           FROM adc) t
         WHERE rk <= 50)
       SELECT qid, nid, rank FROM (
         SELECT sh.qid, sh.nid,
                ROW_NUMBER() OVER (PARTITION BY sh.qid ORDER BY
                  (list_sum([q.e[i] * n.e[i] for i in range(1, len(q.e)+1)])
                     / (q.norm * n.norm)) DESC, sh.nid) AS rank
         FROM short sh
         JOIN $rerankQ q ON q.vec_id = sh.qid
         JOIN en n ON n.vec_id = sh.nid) t
       WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** K-means to CONVERGENCE as a library API — the generalization of the
    * deterministic 1-iteration battery entry [[ann04Kmeans]], same
    * broadcast-loop shape per iteration:
    *   - centroids live as a k-row DataFrame, BROADCAST into the
    *     assignment pass — never collected into a driver loop;
    *   - the corpus streams map-only through assignment; the centroid
    *     update is one map-side-combined (cluster, dim) aggregation;
    *   - per-iteration centroids `localCheckpoint` so lineage stays flat
    *     across iterations (the d06 connected-components discipline);
    *   - the ONLY driver-side value per iteration is the scalar max
    *     centroid shift (the convergence test).
    * Initialization (`initMode`):
    *   - `"first-k"` (default): the k rows with the smallest ids —
    *     deterministic and partitioning-independent, the mode the oracle
    *     entry pins;
    *   - `"sample"`: the k rows with the smallest `xxhash64(id, seed)` —
    *     a deterministic hash-spread sample across the whole corpus
    *     (distributed top-k, no driver collect), which avoids first-k's
    *     failure mode of seeding every centroid inside whatever cluster
    *     happens to own the low ids. Convergence quality on real corpora
    *     is typically strictly better; a spec pins ≤ on a separable
    *     synthetic corpus.
    * A cluster that loses all members drops out (k shrinks), matching
    * Lloyd's standard degenerate case.
    * Returns (id, cluster, dist) — dist the squared distance to the
    * winning centroid. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             maxIter: Int = 20, tol: Double = 1e-6,
             initMode: String = "first-k", seed: Long = 42L): DataFrame = {
    require(k > 0 && maxIter > 0, "k and maxIter must be positive")
    require(initMode == "first-k" || initMode == "sample",
      s"initMode must be 'first-k' or 'sample', got '$initMode'")
    val emb = df.select(col(idCol).as("__id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__e"))
    def assign(centroids: DataFrame): DataFrame =
      emb.join(broadcast(centroids), lit(true))
        .select(col("__id"), col("__e"), col("cid"), expr(
          "aggregate(zip_with(__e, __c, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")
          .as("dist"))
        .groupBy("__id")
        .agg(min_by(struct(col("cid"), col("__e")),
          struct(col("dist"), col("cid"))).as("best"),
          min(col("dist")).as("dist"))
        .select(col("__id"), col("best.cid").as("cluster"),
          col("best.__e").as("__e"), col("dist"))
    val seedOrder =
      if (initMode == "sample") xxhash64(col("__id"), lit(seed)) else col("__id")
    var centroids = emb.orderBy(seedOrder).limit(k)
      .select(col("__id").as("cid"), col("__e").as("__c")).localCheckpoint()
    var moved = Double.MaxValue
    var iter = 0
    while (iter < maxIter && moved > tol) {
      val updated = assign(centroids)
        .select(col("cluster"), posexplode(col("__e")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(avg(col("v")).as("cv"))
        .groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
          .as("__c"))
        .select(col("cluster").as("cid"), col("__c")).localCheckpoint()
      // one scalar to the driver per iteration: the max squared shift
      moved = updated.select(col("cid"), col("__c").as("__cn"))
        .join(centroids.select(col("cid"), col("__c").as("__co")), "cid")
        .select(max(expr(
          "aggregate(zip_with(__cn, __co, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"))
          .as("m"))
        .collect()(0) match {
          case r if r.isNullAt(0) => 0.0
          case r => r.getDouble(0)
        }
      centroids = updated
      iter += 1
    }
    assign(centroids).select(col("__id").as(idCol), col("cluster"), col("dist"))
  }

  /** Distributed k-means over the embedding corpus (one full Lloyd
    * iteration: assign → exact-mean centroid update → re-assign) — the
    * clustering pass behind corpus curation / semantic dedup / IVF index
    * builds.
    *
    * Scale shape: centroids are a k-row DataFrame BROADCAST into both
    * assignment passes (never collected to the driver loop); the corpus
    * streams map-only through each assignment, and the centroid update is
    * one map-side-combined (cluster, dim) aggregation — per iteration: one
    * pass over the data, one k·d-sized shuffle. Cross-engine determinism:
    * per-row distances fold left-to-right in double, centroid means are
    * EXACT decimal sums divided once, and both distances and centroid
    * coordinates round to 6 decimals before any comparison, so assignment
    * (with min-id tie-break) is bit-identical in both engines. */
  def ann04Kmeans(s: SparkSession, d: String, k: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    oneStepKmeansAssign(emb, k)
      .select("vec_id", "cluster", "dist_r")
      .orderBy("vec_id")
  }

  /** The oracle-deterministic one-Lloyd-step assignment core behind
    * [[ann04Kmeans]] and [[Dedup.d10SemanticDedup]]'s cluster scoping:
    * first-k init → one exact-decimal-mean centroid refinement →
    * re-assign. `emb` is (vec_id, e: array<double>); returns (vec_id,
    * cluster, dist_r) with 6-dp-rounded squared distances and min-cid
    * tie-breaks, bit-identical to the CTE chain [[kmeansAssignCtes]]
    * emits for DuckDB. */
  // keyed multi-slot: ann04 (k=4) and d10 (k=10) assign the same corpus
  // through this one core — the assignment is each caller's entire
  // derived state (3 narrow columns), so it stays resident per (emb, k)
  private val kmeansAssignSlot = new CacheSlot(4)

  private[queries] def oneStepKmeansAssign(emb: DataFrame, k: Int): DataFrame = {
    val c0 = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("c"))

    def assign(centroids: DataFrame): DataFrame = {
      val dists = emb.join(broadcast(centroids), lit(true))
        .select(col("vec_id"), col("cid"), round(expr(
          "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"),
          6).as("dist_r"))
      val w = Window.partitionBy("vec_id")
      dists.withColumn("md", min(col("dist_r")).over(w))
        .filter(col("dist_r") === col("md"))
        .groupBy("vec_id")
        .agg(min(col("cid")).as("cluster"), min(col("dist_r")).as("dist_r"))
    }

    val c1 = assign(c0).join(emb, "vec_id")
      .select(col("cluster"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(round(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
        .cast("double") / count(lit(1)), 6).as("cv"))
      .groupBy("cluster")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      .select(col("cluster").as("cid"), col("c"))

    kmeansAssignSlot(assign(c1))
  }

  /** CTE chain mirroring [[oneStepKmeansAssign]] (k parametrized), ending
    * in `a1(vec_id, cluster, dist_r)` — shared by [[ann04Sql]] and
    * [[Dedup.d10Sql]] so the two oracles can never drift from each other. */
  private[queries] def kmeansAssignCtes(k: Int): String =
    s"""e AS (
         SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       c0 AS (SELECT vec_id AS cid, e AS c FROM e WHERE vec_id < $k),
       d0 AS (SELECT e.vec_id, c.cid,
                ROUND(list_sum([ (e.e[i] - c.c[i]) * (e.e[i] - c.c[i])
                  for i in range(1, len(e.e) + 1) ]), 6) AS dist_r
              FROM e CROSS JOIN c0 c),
       a0 AS (SELECT vec_id, MIN(cid) AS cluster FROM (
                SELECT vec_id, cid, dist_r,
                       MIN(dist_r) OVER (PARTITION BY vec_id) AS md FROM d0)
              WHERE dist_r = md GROUP BY vec_id),
       u AS (SELECT a0.cluster, i, CAST(e.e[i] AS DECIMAL(30,10)) AS v
             FROM a0 JOIN e USING (vec_id), UNNEST(range(1, 65)) t(i)),
       m AS (SELECT cluster, i,
                    ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS cv
             FROM u GROUP BY cluster, i),
       c1 AS (SELECT cluster AS cid, list(cv ORDER BY i) AS c FROM m GROUP BY cluster),
       d1 AS (SELECT e.vec_id, c.cid,
                ROUND(list_sum([ (e.e[i] - c.c[i]) * (e.e[i] - c.c[i])
                  for i in range(1, len(e.e) + 1) ]), 6) AS dist_r
              FROM e CROSS JOIN c1 c),
       a1 AS (SELECT vec_id, MIN(cid) AS cluster, MIN(dist_r) AS dist_r FROM (
                SELECT vec_id, cid, dist_r,
                       MIN(dist_r) OVER (PARTITION BY vec_id) AS md FROM d1)
              WHERE dist_r = md GROUP BY vec_id)"""

  val ann04Sql: String =
    s"""WITH ${kmeansAssignCtes(4)}
       SELECT vec_id, cluster, dist_r FROM a1 ORDER BY vec_id"""
}
