package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{IcebergTable, IcebergTables, TableWriter}
import graft.streaming.Changelog
import graft.tables.Tables

/** Persistent, incrementally-maintained product-quantization ANN index —
  * the [[DedupIndex]] pattern applied to [[Similarity.annPq]]'s codes.
  *
  * A session-built PQ index ([[Similarity.annPq]]'s slot cache) dies with
  * the session and re-encodes the whole corpus on every cold start; at
  * 100 TB that bootstrap is the dominant cost. This module persists the
  * index as TWO Graft Iceberg tables and maintains the codes from the
  * corpus changefeed:
  *
  *   - **codebook** `(j, m, cw)` — built ONCE at bootstrap from the
  *     then-current corpus sample and never re-trained on syncs (re-training
  *     would invalidate every existing code; rebuilding the codebook is an
  *     explicit full re-index, as in FAISS practice);
  *   - **codes** `(vec_id, m, j)` — added vectors encode against the FIXED
  *     codebook (an append of `nSub` int rows per vector), deleted vectors
  *     retract via a metadata-sized equality tombstone on `vec_id`, and an
  *     updated vector re-encodes ONLY itself (retract + fresh encode).
  *
  * Each maintenance batch is one equality-delete commit plus one append
  * commit, both O(changed vectors) regardless of corpus size, and
  * content-idempotent on micro-batch re-delivery (retract-then-insert of
  * the window's net effect). Query serving reads the codes table — no
  * corpus re-encode — through the same ADC + exact-re-rank plan as ann06.
  *
  * Reference scope note: the reference (a metadata-plane client) has no
  * analog; this is engine-native functionality the LLM-pipeline brief
  * requires.
  */
object AnnIndex {

  /** PQ geometry. Must match what the codebook was built with; the battery
    * pins ann06's (8 subspaces × 16 codewords over 64 dims). */
  final case class Params(nSub: Int = 8, kSub: Int = 16)

  /** Bootstrap from the raw `(vec_id, embedding)` corpus shape — the
    * user-facing entry (the SQL procedure and specs go through here). */
  def buildFromCorpus(corpus: DataFrame, codebookLoc: String,
                      codesLoc: String, p: Params = Params())
      : (IcebergTable, IcebergTable) =
    build(Similarity.pqEmb(corpus), codebookLoc, codesLoc, p)

  /** Bootstrap: build codebook + codes tables from the corpus' current
    * state. `emb` must be the (vec_id, e double-array) projection
    * ([[Similarity.pqEmb]]). */
  def build(emb: DataFrame, codebookLoc: String, codesLoc: String,
            p: Params = Params()): (IcebergTable, IcebergTable) = {
    val cb = Similarity.pqCodebook(emb, p.nSub, p.kSub)
    val cbTable = TableWriter.create(cb, codebookLoc)
    var codesTable =
      TableWriter.create(Similarity.pqEncode(emb, cb, p.nSub), codesLoc)
    // drift baseline: the quantization error of the freshly-built index
    // ([[stats]] reports current error against it)
    val err = quantErrorOf(
      codesTable.newScan().toDF(emb.sparkSession), cb, emb, p.nSub)
    codesTable = TableWriter.updateProperties(codesTable,
      Map(BootstrapErrProp -> err.toString))
    (cbTable, codesTable)
  }

  /** Fail loudly when `p` disagrees with the geometry the codebook was
    * BUILT with — encoding against a codebook with a different subspace
    * count would silently write wrong-width codes that corrupt every
    * downstream ADC sum. The codebook is metadata-sized, so the probe is
    * one tiny aggregate. */
  private def requireGeometry(codebook: DataFrame, nSubWant: Int,
                              kSubWant: Int, what: String): Unit = {
    val r = codebook.agg(max(col("m")), countDistinct(col("j"))).collect()(0)
    require(!r.isNullAt(0),
      s"$what codebook is EMPTY — wrong table location, or the index was " +
        "never bootstrapped")
    val nSub = r.getInt(0) + 1
    val kSub = r.getLong(1).toInt
    // kSub is deliberately one-sided: a bootstrap over a corpus with
    // fewer than kSub rows legitimately stores a SMALLER codebook (the
    // md5 sample can't invent rows), and serving against it is correct —
    // only a LARGER stored codebook proves the Params are wrong
    require(nSub == nSubWant && kSub <= kSubWant,
      s"$what params incompatible with the stored codebook: want nSub=" +
        s"$nSubWant (must equal stored $nSub), kSub=$kSubWant (stored " +
        s"$kSub may be smaller — a small bootstrap corpus — but never " +
        "larger) — rebuild the index or fix Params")
  }

  /** Apply one changelog window (batch or micro-batch) to the codes table:
    * ONE equality-delete commit retracting every touched vector's codes +
    * ONE append commit encoding the net-inserted vectors against the FIXED
    * codebook ([[ChangefeedFold.applyChanges]] keyed on `vec_id`). Both
    * commits are O(changed vectors). */
  def applyChanges(codes: IcebergTable, codebook: DataFrame,
                   changes: DataFrame, p: Params): IcebergTable = {
    requireGeometry(codebook, p.nSub, p.kSub, "PQ")
    applyChangesUnchecked(codes, codebook, changes, p)
  }

  /** [[applyChanges]] without the geometry probe — for the streaming
    * drivers, which verify ONCE at stream start (the codebook is frozen,
    * so re-checking per micro-batch would just add a driver-side job per
    * batch). */
  private def applyChangesUnchecked(codes: IcebergTable, codebook: DataFrame,
                                    changes: DataFrame, p: Params): IcebergTable =
    ChangefeedFold.applyChanges(codes, changes, "vec_id",
      ins => Similarity.pqEncode(Similarity.pqEmb(ins), codebook, p.nSub))

  /** Batch catch-up: apply every commit after `afterSnapshotId` (None =
    * the full history) in one net-effect window. */
  def syncFromChangelog(spark: SparkSession, corpus: IcebergTable,
                        codes: IcebergTable, codebook: DataFrame,
                        afterSnapshotId: Option[Long],
                        p: Params = Params()): IcebergTable =
    applyChanges(codes, codebook,
      Changelog.changelogDF(spark, corpus, afterSnapshotId), p)

  /** REST-transactional sync: [[applyChanges]]'s fold staged onto `tx` as
    * ONE retract-and-replace snapshot — geometry-checked like the batch
    * path. Returns false when the window nets to nothing. */
  def stageChanges(tx: TableWriter.RestTransaction, codesIdent: Seq[String],
                   codebook: DataFrame, changes: DataFrame,
                   p: Params): Boolean = {
    requireGeometry(codebook, p.nSub, p.kSub, "PQ")
    ChangefeedFold.stageChanges(tx, codesIdent, changes, "vec_id",
      ins => Similarity.pqEncode(Similarity.pqEmb(ins), codebook, p.nSub))
  }

  /** Continuous maintenance: consume the corpus table's `read-changes`
    * stream and fold each micro-batch into the codes table. Offsets
    * checkpoint per snapshot sequence window and [[applyChanges]] is
    * content-idempotent, so a restarted query re-delivering its in-flight
    * batch converges to the same index state. */
  def maintain(spark: SparkSession, corpusLocation: String,
               codebookLocation: String, codesLocation: String,
               checkpoint: String, p: Params = Params())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val codebook = IcebergTables.load(codebookLocation).newScan().toDF(spark)
    // verify geometry ONCE at stream start — the codebook is frozen
    requireGeometry(codebook, p.nSub, p.kSub, "PQ")
    spark.readStream.format("icegopher")
      .option("read-changes", "true")
      .load(corpusLocation)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChangesUnchecked(IcebergTables.load(codesLocation), codebook, batch, p)
        ()
      }
      .start()
  }

  /** Approximate top-k served FROM the maintained index (no corpus
    * re-encode): the ADC scan reads the codes table; only the bounded
    * shortlist touches raw vectors, against `corpus`.
    *
    * The codes relation is what a resident ANN server holds in memory —
    * slot-cached (keyed: ann07/ann09/ann15 serve different tables, and
    * a `toDF` plan is keyed on the table state, so an evolved table state
    * is a different key, never a stale hit). Without the slot every
    * pass re-read the index TABLE from parquet. */
  def topK(spark: SparkSession, codes: IcebergTable, codebook: DataFrame,
           corpus: DataFrame, queries: DataFrame, p: Params,
           k: Int, shortlist: Int): DataFrame =
    Similarity.pqTopK(corpus, serveSlot(codes.newScan().toDF(spark)), codebook,
      queries, p.nSub, k, shortlist)

  // keyed multi-slot for the maintained indexes' serve-side relations
  // (codes scans, re-rank corpus projections, dequantized SQ vectors) —
  // the resident-index discipline of the session-built ANN entries
  // (Similarity.pqCodesSlot etc.), applied to the table-served paths
  private val serveSlot = new CacheSlot(16)

  /** Serve-time QUALITY telemetry: recall@k of the PQ index against a
    * sampled exact top-k. Drift stats say the codebook aged; recall says
    * what that DID to answers — the number an operator actually pages on. */
  final case class RecallStats(queries: Long, k: Int, shortlist: Int,
                               exactPairs: Long, hitPairs: Long,
                               recall: Double)

  /** Measure recall@k: a deterministic hash-ordered sample of `nQueries`
    * corpus vectors is served through the index ([[topK]], ADC shortlist +
    * exact re-rank) and compared against the brute-force exact top-k for
    * the SAME queries (self excluded on both sides). Cost is bounded: the
    * exact side is one corpus pass against `nQueries` broadcast vectors;
    * the ANN side is the normal serve path — no all-pairs anywhere, so the
    * probe runs at any corpus size. */
  def recallProbe(spark: SparkSession, codes: IcebergTable,
                  codebook: DataFrame, corpusRaw: DataFrame,
                  p: Params = Params(), k: Int = 10, shortlist: Int = 50,
                  nQueries: Int = 16): RecallStats =
    recallStatsOf(corpusRaw, k, shortlist, nQueries,
      (corpus, queries) =>
        topK(spark, codes, codebook, corpus, queries, p, k, shortlist))

  /** [[recallProbe]] for the IVF-PQ index — same exact ground truth, the
    * serve path probes the frozen centroids first (so a too-small nProbe
    * shows up as recall loss HERE, before users see it). */
  def recallProbeIvf(spark: SparkSession, codes: IcebergTable,
                     centroids: DataFrame, codebook: DataFrame,
                     corpusRaw: DataFrame, p: IvfParams = IvfParams(),
                     k: Int = 10, shortlist: Int = 50,
                     nQueries: Int = 16): RecallStats =
    recallStatsOf(corpusRaw, k, shortlist, nQueries,
      (corpus, queries) =>
        topKIvf(spark, codes, centroids, codebook, corpus, queries, p, k,
          shortlist))

  /** The shared probe: deterministic hash-ordered query sample, exact
    * brute-force top-k (one corpus pass against broadcast queries, self
    * excluded — matching the serve paths), recall = |ANN ∩ exact| /
    * |exact|. `serve` returns (qid, nid, rank) for the sampled queries. */
  private def recallStatsOf(corpusRaw: DataFrame, k: Int, shortlist: Int,
                            nQueries: Int,
                            serve: (DataFrame, DataFrame) => DataFrame)
      : RecallStats = {
    import org.apache.spark.sql.expressions.Window
    val corpus = Similarity.pqEmb(corpusRaw)
    val queries = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nQueries)
      .persist()
    try {
      val nq = queries.count()
      val ann = serve(corpus, queries).select("qid", "nid")
      val en = corpus.select(col("vec_id").as("nid"), col("e"),
        sqrt(Similarity.dot(col("e"), col("e"))).as("norm"))
      val q = queries.select(col("vec_id").as("qid"), col("e").as("qe"),
        sqrt(Similarity.dot(col("e"), col("e"))).as("qnorm"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid"))
      val exact = en.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (Similarity.dot(col("qe"), col("e")) /
            (col("qnorm") * col("norm"))).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("qid", "nid")
        .persist()
      try {
        val exactPairs = exact.count()
        val hits = ann.join(exact, Seq("qid", "nid"), "left_semi").count()
        RecallStats(nq, k, shortlist, exactPairs, hits,
          if (exactPairs == 0) 1.0 else hits.toDouble / exactPairs)
      } finally { exact.unpersist(); () }
    } finally { queries.unpersist(); () }
  }

  // ------------------------------------------------- drift + rebuild

  /** Codes-table property recording the mean squared subspace quantization
    * error measured right after bootstrap/rebuild — the drift baseline
    * [[stats]] compares against. */
  val BootstrapErrProp = "ann.bootstrap-quant-error"

  /** Mean squared subspace quantization error of the index's CURRENT
    * state: every code row joins its frozen codeword and its vector's
    * current subvector — ONE corpus-pass aggregation (codebook broadcast,
    * map-side-combined mean). Under churn against a frozen codebook this
    * is THE number that grows silently: new vectors quantize against
    * codewords sampled/trained from a corpus they weren't part of. */
  def quantError(spark: SparkSession, codes: IcebergTable, codebook: DataFrame,
                 corpus: DataFrame, p: Params = Params()): Double =
    quantErrorOf(codes.newScan().toDF(spark), codebook,
      Similarity.pqEmb(corpus), p.nSub)

  private def quantErrorOf(codes: DataFrame, codebook: DataFrame,
                           emb: DataFrame, nSub: Int): Double =
    Similarity.pqSliced(emb, "vec_id", nSub)
      .join(codes.select("vec_id", "m", "j"), Seq("vec_id", "m"))
      .join(broadcast(codebook), Seq("m", "j"))
      .select(expr(
        "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
        .as("d"))
      .agg(avg(col("d"))).collect() match {
        case Array(r) if !r.isNullAt(0) => r.getDouble(0)
        case _ => 0.0
      }

  /** Residual quantization error of the IVF-PQ index: the residual is
    * taken against the cell the CODES assign each vector to (the frozen
    * assignment — exactly what serving ADC sums approximate). */
  private def ivfQuantErrorOf(codes: DataFrame, cents: DataFrame,
                              rcb: DataFrame, emb: DataFrame,
                              nSub: Int): Double = {
    val resid = emb
      .join(codes.select("vec_id", "cid").distinct(), "vec_id")
      .join(broadcast(cents.select("cid", "ce")), "cid")
      .select(col("vec_id"), zip_with(col("e"), col("ce"), (x, y) => x - y).as("r"))
    Similarity.ivfSlices(resid, "r", Seq("vec_id"), nSub)
      .join(codes.select("vec_id", "m", "j"), Seq("vec_id", "m"))
      .join(broadcast(rcb), Seq("m", "j"))
      .select(expr(
        "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
        .as("d"))
      .agg(avg(col("d"))).collect() match {
        case Array(r) if !r.isNullAt(0) => r.getDouble(0)
        case _ => 0.0
      }
  }

  /** Index drift report: (code_rows, current quantization error, the
    * bootstrap baseline, their ratio). `driftRatio > 1` quantifies how
    * much worse the frozen quantizers fit today's corpus than the one
    * they were built from; operators alert on it and call [[rebuild]]. */
  final case class IndexStats(codeRows: Long, quantErr: Double,
                              bootstrapErr: Option[Double],
                              driftRatio: Option[Double],
                              maxCellShare: Option[Double] = None)

  def stats(spark: SparkSession, codes: IcebergTable, codebook: DataFrame,
            corpus: DataFrame, p: Params = Params()): IndexStats = {
    requireGeometry(codebook, p.nSub, p.kSub, "PQ")
    val err = quantError(spark, codes, codebook, corpus, p)
    mkStats(spark, codes, err, None)
  }

  /** IVF-PQ drift report; adds cell-occupancy skew (`maxCellShare` = the
    * largest cell's fraction of all vectors — uniform would be 1/nCells;
    * a drifting corpus piles into few cells, which degrades the probe
    * bound long before the residual error moves). Computed from the codes
    * table alone — no corpus pass. */
  def statsIvf(spark: SparkSession, codes: IcebergTable, centroids: DataFrame,
               codebook: DataFrame, corpus: DataFrame,
               p: IvfParams = IvfParams()): IndexStats = {
    requireGeometry(codebook, p.nSub, p.kSub, "IVF-PQ")
    val codesDf = codes.newScan().toDF(spark)
    val err = ivfQuantErrorOf(codesDf, centroids, codebook,
      Similarity.pqEmb(corpus), p.nSub)
    val occupancy = codesDf.select("vec_id", "cid").distinct()
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double"), sum(col("n")).cast("double"))
      .collect()(0)
    val share =
      if (occupancy.isNullAt(0) || occupancy.getDouble(1) == 0.0) None
      else Some(occupancy.getDouble(0) / occupancy.getDouble(1))
    mkStats(spark, codes, err, share)
  }

  private def mkStats(spark: SparkSession, codes: IcebergTable, err: Double,
                      share: Option[Double]): IndexStats = {
    val boot = codes.properties.get(BootstrapErrProp).flatMap(_.toDoubleOption)
    IndexStats(codes.newScan().toDF(spark).count(), err, boot,
      boot.filter(_ > 0).map(err / _), share)
  }

  /** Full re-index: re-sample + re-train nothing incremental — the
    * codebook rebuilds from the corpus' CURRENT state and every vector
    * re-encodes, exactly the bootstrap path (FAISS discipline: a frozen
    * quantizer is rebuilt, never nudged). Each table swap is one atomic
    * OVERWRITE commit; the codebook commits FIRST and the codes commit
    * carries the refreshed [[BootstrapErrProp]] baseline. A reader
    * between the two commits can observe new-codebook/old-codes — the
    * same transient a FAISS index swap has; re-running serving after the
    * codes commit is the contract (the battery's serving paths re-read
    * both tables per query). */
  def rebuild(spark: SparkSession, corpus: DataFrame, codebookLoc: String,
              codesLoc: String, p: Params = Params()): IndexStats = {
    val emb = Similarity.pqEmb(corpus)
    val cb = Similarity.pqCodebook(emb, p.nSub, p.kSub)
    TableWriter.overwrite(IcebergTables.load(codebookLoc), cb)
    val codesDf = Similarity.pqEncode(emb, cb, p.nSub)
    var codesT = TableWriter.overwrite(IcebergTables.load(codesLoc), codesDf)
    val err = quantErrorOf(codesT.newScan().toDF(spark), cb, emb, p.nSub)
    codesT = TableWriter.updateProperties(codesT,
      Map(BootstrapErrProp -> err.toString))
    mkStats(spark, codesT, err, None)
  }

  /** Full IVF-PQ re-index: centroids, residual codebook, and codes all
    * rebuild from the corpus' current state (three OVERWRITE commits,
    * codes last with the refreshed drift baseline). */
  def rebuildIvf(spark: SparkSession, corpus: DataFrame, centroidsLoc: String,
                 codebookLoc: String, codesLoc: String,
                 p: IvfParams = IvfParams()): IndexStats = {
    val en = Similarity.ivfEn(Similarity.pqEmb(corpus))
    val cents = Similarity.ivfCentroids(en, p.nCells)
    TableWriter.overwrite(IcebergTables.load(centroidsLoc), cents)
    val assigned = Similarity.ivfAssignResiduals(en, cents).persist()
    try {
      val rcb = Similarity.ivfResidualCodebook(assigned, p.nSub, p.kSub)
      TableWriter.overwrite(IcebergTables.load(codebookLoc), rcb)
      var codesT = TableWriter.overwrite(IcebergTables.load(codesLoc),
        Similarity.ivfPqEncode(assigned, rcb, p.nSub))
      val err = ivfQuantErrorOf(codesT.newScan().toDF(spark), cents, rcb,
        Similarity.pqEmb(corpus), p.nSub)
      codesT = TableWriter.updateProperties(codesT,
        Map(BootstrapErrProp -> err.toString))
      val occupancy = codesT.newScan().toDF(spark)
        .select("vec_id", "cid").distinct()
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .agg(max(col("n")).cast("double"), sum(col("n")).cast("double"))
        .collect()(0)
      val share =
        if (occupancy.isNullAt(0) || occupancy.getDouble(1) == 0.0) None
        else Some(occupancy.getDouble(0) / occupancy.getDouble(1))
      mkStats(spark, codesT, err, share)
    } finally { assigned.unpersist(); () }
  }

  // ------------------------------------------------- persistent IVF-PQ

  /** IVF-PQ geometry for the persistent composed index (ann08's shape). */
  final case class IvfParams(nCells: Int = 16, nProbe: Int = 4,
                             nSub: Int = 8, kSub: Int = 16)

  /** Bootstrap the PERSISTENT IVF-PQ index from the corpus' current state:
    * THREE Iceberg tables — coarse centroids `(cid, ce, cn)`, residual
    * codebook `(j, m, cw)`, and cell-carrying codes `(vec_id, cid, m, j)`.
    * Centroids AND codebook are frozen at bootstrap (neither re-trains on
    * a sync — re-clustering would re-home every residual). */
  def buildIvf(corpus: DataFrame, centroidsLoc: String, codebookLoc: String,
               codesLoc: String, p: IvfParams = IvfParams())
      : (IcebergTable, IcebergTable, IcebergTable) = {
    val en = Similarity.ivfEn(Similarity.pqEmb(corpus))
    val cents = Similarity.ivfCentroids(en, p.nCells)
    val centsT = TableWriter.create(cents, centroidsLoc)
    // the full-corpus assignment pass feeds BOTH the codebook sample and
    // the encode — persist it so the bootstrap pays it once, not twice
    val assigned = Similarity.ivfAssignResiduals(en, cents).persist()
    try {
      val rcb = Similarity.ivfResidualCodebook(assigned, p.nSub, p.kSub)
      val rcbT = TableWriter.create(rcb, codebookLoc)
      var codesT = TableWriter.create(
        Similarity.ivfPqEncode(assigned, rcb, p.nSub), codesLoc)
      val err = ivfQuantErrorOf(codesT.newScan().toDF(corpus.sparkSession),
        cents, rcb, Similarity.pqEmb(corpus), p.nSub)
      codesT = TableWriter.updateProperties(codesT,
        Map(BootstrapErrProp -> err.toString))
      (centsT, rcbT, codesT)
    } finally { assigned.unpersist(); () }
  }

  /** Apply one changelog window to the IVF-PQ codes table: net-inserted
    * vectors ASSIGN against the frozen centroids and ENCODE their
    * residuals against the frozen codebook; deletes retract via equality
    * tombstone; updates re-assign + re-encode only themselves
    * ([[ChangefeedFold.applyChanges]] keyed on `vec_id`). Geometry is
    * verified against the stored codebook first — with the defaulted
    * `p`, a silent nSub mismatch would otherwise write wrong-width codes. */
  def applyChangesIvf(codes: IcebergTable, centroids: DataFrame,
                      codebook: DataFrame, changes: DataFrame,
                      p: IvfParams = IvfParams()): IcebergTable = {
    requireGeometry(codebook, p.nSub, p.kSub, "IVF-PQ")
    applyChangesIvfUnchecked(codes, centroids, codebook, changes, p)
  }

  private def applyChangesIvfUnchecked(codes: IcebergTable, centroids: DataFrame,
                                       codebook: DataFrame, changes: DataFrame,
                                       p: IvfParams): IcebergTable =
    ChangefeedFold.applyChanges(codes, changes, "vec_id", ins =>
      Similarity.ivfPqEncode(
        Similarity.ivfAssignResiduals(
          Similarity.ivfEn(Similarity.pqEmb(ins)), centroids),
        codebook, p.nSub))

  /** Batch catch-up for the IVF-PQ index (None = full history). */
  def syncIvfFromChangelog(spark: SparkSession, corpus: IcebergTable,
                           codes: IcebergTable, centroids: DataFrame,
                           codebook: DataFrame, afterSnapshotId: Option[Long],
                           p: IvfParams = IvfParams()): IcebergTable =
    applyChangesIvf(codes, centroids, codebook,
      Changelog.changelogDF(spark, corpus, afterSnapshotId), p)

  /** Continuous IVF-PQ maintenance: consume the corpus table's
    * `read-changes` stream and fold each micro-batch into the codes table
    * against the frozen centroids + codebook (loaded once at stream
    * start — both are bootstrap-frozen artifacts). Content-idempotent on
    * re-delivery like every [[ChangefeedFold]] consumer. */
  def maintainIvf(spark: SparkSession, corpusLocation: String,
                  centroidsLocation: String, codebookLocation: String,
                  codesLocation: String, checkpoint: String,
                  p: IvfParams = IvfParams())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cents = IcebergTables.load(centroidsLocation).newScan().toDF(spark)
    val rcb = IcebergTables.load(codebookLocation).newScan().toDF(spark)
    // verify geometry ONCE at stream start — both quantizers are frozen
    requireGeometry(rcb, p.nSub, p.kSub, "IVF-PQ")
    spark.readStream.format("icegopher")
      .option("read-changes", "true")
      .load(corpusLocation)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChangesIvfUnchecked(IcebergTables.load(codesLocation), cents, rcb,
          batch, p)
        ()
      }
      .start()
  }

  /** Approximate top-k served FROM the maintained IVF-PQ index: probe the
    * frozen centroids, ADC over the codes table, exact re-rank against
    * `corpus` — no corpus re-assign or re-encode. */
  def topKIvf(spark: SparkSession, codes: IcebergTable, centroids: DataFrame,
              codebook: DataFrame, corpus: DataFrame, queries: DataFrame,
              p: IvfParams, k: Int, shortlist: Int): DataFrame =
    Similarity.ivfPqTopK(serveSlot(Similarity.ivfEn(corpus)), centroids,
      codebook, serveSlot(codes.newScan().toDF(spark)),
      Similarity.ivfEn(queries), p.nProbe, p.nSub, k, shortlist)

  // ---------------------------------------------------------------- battery

  /** ann07 fixture: the embeddings corpus driven through every changefeed
    * shape — create (even vec_ids), append (odd), update (negate the
    * embedding on vec_id % 5), delete (vec_id % 7) — with codebook+codes
    * built at commit 1 and the codes incrementally synced over commits
    * 2-4's changelog. Cached per sfDir like the ice* and d08 fixtures. */
  private def ann07Fixture(s: SparkSession, d: String)
      : (IcebergTable, IcebergTable, IcebergTable) = {
    val root =
      s"${IcebergOps.cacheRoot}/${d.replaceAll("[^A-Za-z0-9]", "_")}/ann07"
    val corpusLoc = s"$root/corpus"
    val cbLoc = s"$root/codebook"
    val codesLoc = s"$root/codes"
    IcebergOps.provisionOnce(new java.io.File(root)) {
      val src = Tables.embeddings(s, d).select("vec_id", "embedding")
      val t1 = TableWriter.create(src.filter(col("vec_id") % 2 === 0), corpusLoc)
      val c1 = t1.currentSnapshot.get.snapshotId
      // bootstrap: full build over commit 1's state, read back THROUGH the
      // table (what a real pipeline indexes)
      val (cbT, codes0) = build(
        Similarity.pqEmb(t1.newScan().toDF(s)), cbLoc, codesLoc)
      val t2 = TableWriter.append(t1, src.filter(col("vec_id") % 2 === 1))
      val t3 = TableWriter.updateWhere(t2, s, col("vec_id") % 5 === 0,
        Map("embedding" -> transform(col("embedding"), x => negate(x))))
      val t4 = TableWriter.deleteWhere(t3, s, col("vec_id") % 7 === 0)
      syncFromChangelog(s, t4, codes0, cbT.newScan().toDF(s), Some(c1))
      ()
    }
    (IcebergTables.load(corpusLoc), IcebergTables.load(cbLoc),
      IcebergTables.load(codesLoc))
  }

  /** Battery entry ann07: ann06's PQ top-k, but served from the
    * INCREMENTALLY-maintained codes table over the [[ann07Fixture]] commit
    * sequence. The oracle runs the PQ SQL over the equivalent final state
    * (codebook sampled from the bootstrap-time state), so a hash match
    * proves index-after-changefeed ≡ from-scratch encode of the final
    * corpus against the bootstrap codebook. */
  def ann07IncrementalPq(s: SparkSession, d: String,
                         nQueries: Int = 10, k: Int = 5,
                         shortlist: Int = 50): DataFrame = {
    val (corpusT, cbT, codesT) = ann07Fixture(s, d)
    // the re-rank corpus projection and the (tiny) codebook scan are
    // per-pass constants of the serve — resident alongside the codes
    val corpus = serveSlot(Similarity.pqEmb(corpusT.newScan().toDF(s)))
    topK(s, codesT, serveSlot(cbT.newScan().toDF(s)), corpus,
      corpus.filter(col("vec_id") < nQueries), Params(), k, shortlist)
  }

  /** The fixture's final corpus state, derived from the raw parquet: even
    * half + odd half (all rows), embeddings negated where vec_id % 5 = 0,
    * vec_id % 7 = 0 deleted. The codebook samples the BOOTSTRAP state
    * (even vec_ids, original embeddings). */
  val ann07Sql: String = Similarity.annPqSqlOver(
    """SELECT vec_id,
              CASE WHEN vec_id % 5 = 0
                   THEN [CAST(-x AS DOUBLE) for x in embedding]
                   ELSE [CAST(x AS DOUBLE) for x in embedding] END AS e
       FROM embeddings WHERE vec_id % 7 <> 0""",
    """SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       FROM embeddings WHERE vec_id % 2 = 0""")

  /** ann09 fixture: the ann07 commit sequence with the IVF-PQ index —
    * centroids + residual codebook frozen at commit 1, codes synced over
    * commits 2-4's changelog. */
  private def ann09Fixture(s: SparkSession, d: String)
      : (IcebergTable, IcebergTable, IcebergTable, IcebergTable) = {
    val root =
      s"${IcebergOps.cacheRoot}/${d.replaceAll("[^A-Za-z0-9]", "_")}/ann09"
    val corpusLoc = s"$root/corpus"
    val centsLoc = s"$root/centroids"
    val cbLoc = s"$root/codebook"
    val codesLoc = s"$root/codes"
    IcebergOps.provisionOnce(new java.io.File(root)) {
      val src = Tables.embeddings(s, d).select("vec_id", "embedding")
      val t1 = TableWriter.create(src.filter(col("vec_id") % 2 === 0), corpusLoc)
      val c1 = t1.currentSnapshot.get.snapshotId
      val (centsT, rcbT, codes0) =
        buildIvf(t1.newScan().toDF(s), centsLoc, cbLoc, codesLoc)
      val t2 = TableWriter.append(t1, src.filter(col("vec_id") % 2 === 1))
      val t3 = TableWriter.updateWhere(t2, s, col("vec_id") % 5 === 0,
        Map("embedding" -> transform(col("embedding"), x => negate(x))))
      val t4 = TableWriter.deleteWhere(t3, s, col("vec_id") % 7 === 0)
      syncIvfFromChangelog(s, t4, codes0, centsT.newScan().toDF(s),
        rcbT.newScan().toDF(s), Some(c1))
      ()
    }
    (IcebergTables.load(corpusLoc), IcebergTables.load(centsLoc),
      IcebergTables.load(cbLoc), IcebergTables.load(codesLoc))
  }

  /** Battery entry ann09: ann08's composed IVF-PQ top-k, served from the
    * INCREMENTALLY-maintained index over the [[ann09Fixture]] commit
    * sequence. Oracle: the IVF-PQ SQL with centroids + residual codebook
    * sampled from the bootstrap-time state — a hash match proves
    * index-after-changefeed ≡ from-scratch assign+encode of the final
    * corpus against the frozen coarse/fine quantizers. */
  def ann09IncrementalIvfPq(s: SparkSession, d: String,
                            nQueries: Int = 10, k: Int = 5,
                            shortlist: Int = 50): DataFrame = {
    val (corpusT, centsT, rcbT, codesT) = ann09Fixture(s, d)
    val corpus = serveSlot(Similarity.pqEmb(corpusT.newScan().toDF(s)))
    topKIvf(s, codesT, serveSlot(centsT.newScan().toDF(s)),
      serveSlot(rcbT.newScan().toDF(s)),
      corpus, corpus.filter(col("vec_id") < nQueries),
      IvfParams(), k, shortlist)
  }

  val ann09Sql: String = Similarity.annIvfPqSqlOver(
    """SELECT vec_id,
              CASE WHEN vec_id % 5 = 0
                   THEN [CAST(-x AS DOUBLE) for x in embedding]
                   ELSE [CAST(x AS DOUBLE) for x in embedding] END AS e
       FROM embeddings WHERE vec_id % 7 <> 0""",
    Some("""SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       FROM embeddings WHERE vec_id % 2 = 0"""))

  // ------------------------------------------------------------ SQ8 index

  /** Persistent, incrementally-maintained SQ8 index — the same two-table
    * discipline as the PQ index with the cheapest possible model: ONE row
    * of per-dimension mins/deltas ([[Similarity.sq8Params]]), frozen at
    * bootstrap. Maintained encodes CLAMP to [0, 255]
    * ([[Similarity.sq8Encode]]): vectors that arrive after bootstrap may
    * fall outside the trained range — the documented bound on the
    * session-built ann13, closed here. Each sync is one equality-delete +
    * one append commit, O(changed vectors). */
  def buildSq(emb: DataFrame, paramsLoc: String, codesLoc: String)
      : (IcebergTable, IcebergTable) = {
    val params = Similarity.sq8Params(emb)
    val pTable = TableWriter.create(params, paramsLoc)
    var codesTable = TableWriter.create(
      Similarity.sq8Encode(emb, params), codesLoc)
    // drift baseline: the fresh index's reconstruction error
    val err = sqReconErrorOf(codesTable.newScan().toDF(emb.sparkSession),
      params, emb)
    codesTable = TableWriter.updateProperties(codesTable,
      Map(SqBootstrapErrProp -> err.toString))
    (pTable, codesTable)
  }

  /** The SQ model is exactly one row; anything else means a wrong table
    * location or a never-bootstrapped index — fail before writing codes
    * that would corrupt every downstream dequantize. */
  private def requireSqParams(params: DataFrame): Unit = {
    val n = params.limit(2).count()
    require(n == 1,
      s"SQ params table holds $n rows, expected exactly 1 (mins + deltas) " +
        "— wrong table location, or the index was never bootstrapped")
  }

  /** Apply one changelog window to the SQ codes table (net-effect
    * retract + clamped re-encode against the FROZEN params). */
  def applySqChanges(codes: IcebergTable, params: DataFrame,
                     changes: DataFrame): IcebergTable = {
    requireSqParams(params)
    applySqChangesUnchecked(codes, params, changes)
  }

  /** [[applySqChanges]] without the params probe — for the streaming
    * driver, which verifies ONCE at stream start (the model is frozen). */
  private def applySqChangesUnchecked(codes: IcebergTable, params: DataFrame,
                                      changes: DataFrame): IcebergTable =
    ChangefeedFold.applyChanges(codes, changes, "vec_id",
      ins => Similarity.sq8Encode(Similarity.pqEmb(ins), params))

  /** Batch catch-up for the SQ index: apply every corpus commit after
    * `afterSnapshotId` in one net-effect window. */
  def syncSqFromChangelog(spark: SparkSession, corpus: IcebergTable,
                          codes: IcebergTable, params: DataFrame,
                          afterSnapshotId: Option[Long]): IcebergTable =
    applySqChanges(codes, params,
      Changelog.changelogDF(spark, corpus, afterSnapshotId))

  // ------------------------------------------------- SQ drift + rebuild

  /** SQ drift report. `saturationRate` — the fraction of code coordinates
    * AT the boundary codes 0/255 — is the cheap drift signal for a frozen
    * min/max model: a fresh index sits at its natural boundary-hit rate
    * (each dimension's extremes map to 0/255 exactly), and the rate
    * CLIMBING means vectors are being clamped (unrecoverable information
    * loss). Computed from the codes table alone (no corpus pass).
    * `reconError` is the mean squared reconstruction error against the
    * corpus' CURRENT state (one corpus-pass aggregation, the one-row
    * params broadcast), compared to the bootstrap baseline as
    * `driftRatio` — the [[stats]] discipline, and the exact signal the
    * saturation proxy approximates. */
  final case class SqIndexStats(codeRows: Long, saturationRate: Double,
                                reconError: Double,
                                bootstrapErr: Option[Double],
                                driftRatio: Option[Double],
                                corpusRowsWithoutCodes: Long = 0L,
                                codesRowsWithoutCorpus: Long = 0L)

  /** Codes-table property: reconstruction error right after bootstrap /
    * rebuild — the drift baseline [[statsSq]] compares against. */
  val SqBootstrapErrProp = "ann.sq-bootstrap-recon-error"

  def statsSq(spark: SparkSession, codes: IcebergTable, params: DataFrame,
              corpus: DataFrame): SqIndexStats = {
    requireSqParams(params)
    val codesDf = codes.newScan().toDF(spark)
    val (rate, rows) = sqSaturation(codesDf)
    val (err, corpusOnly, codesOnly) =
      sqReconAudit(codesDf, params, Similarity.pqEmb(corpus))
    val boot = codes.properties.get(SqBootstrapErrProp).flatMap(_.toDoubleOption)
    SqIndexStats(rows, rate, err, boot, boot.filter(_ > 0).map(err / _),
      corpusOnly, codesOnly)
  }

  /** Boundary-code fraction AND row count in one codes-table pass. */
  private def sqSaturation(codesDf: DataFrame): (Double, Long) = {
    val r = codesDf.select(expr(
        "aggregate(transform(c, x -> CASE WHEN x = 0 OR x = 255 THEN 1 " +
          "ELSE 0 END), 0, (a, v) -> a + v)").as("s"),
        expr("size(c)").as("n"))
      .agg(sum(col("s")).cast("double"), sum(col("n")).cast("double"),
        count(lit(1)))
      .collect()(0)
    val rate =
      if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
      else r.getDouble(0) / r.getDouble(1)
    (rate, r.getLong(2))
  }

  /** Mean squared reconstruction error over the vec_ids present in BOTH
    * tables, plus the out-of-sync counts an inner join would silently
    * hide: corpus vectors with no code (missed inserts — exactly the rows
    * whose drift the error can't see) and codes with no corpus vector
    * (missed deletes). One full-outer-join pass. */
  private def sqReconAudit(codes: DataFrame, params: DataFrame,
                           emb: DataFrame): (Double, Long, Long) = {
    val r = Similarity.sq8Dequant(codes, params)
      .join(emb, Seq("vec_id"), "full_outer")
      .select(expr(
        "CASE WHEN ne IS NOT NULL AND e IS NOT NULL THEN " +
          "aggregate(zip_with(ne, e, (x, y) -> (x - y) * (x - y)), 0D, " +
          "(a, v) -> a + v) END").as("d"),
        when(col("ne").isNull, 1L).otherwise(0L).as("corpus_only"),
        when(col("e").isNull, 1L).otherwise(0L).as("codes_only"))
      .agg(avg(col("d")), sum(col("corpus_only")), sum(col("codes_only")))
      .collect()(0)
    (if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def sqReconErrorOf(codes: DataFrame, params: DataFrame,
                             emb: DataFrame): Double =
    sqReconAudit(codes, params, emb)._1

  /** Full SQ re-index: params re-train and every vector re-encodes from
    * the corpus' current state (two OVERWRITE commits, codes last with
    * the refreshed drift baseline) — saturation falls back to the fresh
    * index's natural boundary-hit rate and the drift ratio resets to 1.
    * The stats reuse the already-computed error: no redundant corpus
    * passes on the path built for big corpora. */
  def rebuildSq(spark: SparkSession, corpus: DataFrame, paramsLoc: String,
                codesLoc: String): SqIndexStats = {
    val emb = Similarity.pqEmb(corpus)
    val params = Similarity.sq8Params(emb)
    TableWriter.overwrite(IcebergTables.load(paramsLoc), params)
    var codesT = TableWriter.overwrite(IcebergTables.load(codesLoc),
      Similarity.sq8Encode(emb, params))
    val codesDf = codesT.newScan().toDF(spark)
    val err = sqReconErrorOf(codesDf, params, emb)
    codesT = TableWriter.updateProperties(codesT,
      Map(SqBootstrapErrProp -> err.toString))
    val (rate, rows) = sqSaturation(codesDf)
    val boot = Some(err)
    SqIndexStats(rows, rate, err, boot, boot.filter(_ > 0).map(err / _),
      corpusRowsWithoutCodes = 0L, codesRowsWithoutCorpus = 0L)
  }

  /** Continuous SQ-index maintenance: consume the corpus table's
    * `read-changes` stream and fold each micro-batch into the codes table
    * ([[maintain]]'s discipline with the one-row frozen params model;
    * content-idempotent on micro-batch re-delivery). */
  def maintainSq(spark: SparkSession, corpusLocation: String,
                 paramsLocation: String, codesLocation: String,
                 checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val params = IcebergTables.load(paramsLocation).newScan().toDF(spark)
    // verify the model ONCE at stream start — it is frozen
    requireSqParams(params)
    spark.readStream.format("icegopher")
      .option("read-changes", "true")
      .load(corpusLocation)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applySqChangesUnchecked(IcebergTables.load(codesLocation), params, batch)
        ()
      }
      .start()
  }

  /** ann15 fixture: the ann07 commit sequence (create even / append odd /
    * negate vec_id % 5 / delete vec_id % 7) with the SQ8 index — params
    * frozen at commit 1, codes synced over commits 2-4's changelog. The
    * negated updates land coordinates BELOW the bootstrap mins, so the
    * [0, 255] clamp is exercised for real, not vacuously. */
  private def ann15Fixture(s: SparkSession, d: String)
      : (IcebergTable, IcebergTable, IcebergTable) = {
    val root =
      s"${IcebergOps.cacheRoot}/${d.replaceAll("[^A-Za-z0-9]", "_")}/ann15"
    val corpusLoc = s"$root/corpus"
    val paramsLoc = s"$root/params"
    val codesLoc = s"$root/codes"
    IcebergOps.provisionOnce(new java.io.File(root)) {
      val src = Tables.embeddings(s, d).select("vec_id", "embedding")
      val t1 = TableWriter.create(src.filter(col("vec_id") % 2 === 0), corpusLoc)
      val c1 = t1.currentSnapshot.get.snapshotId
      val (pT, codes0) =
        buildSq(Similarity.pqEmb(t1.newScan().toDF(s)), paramsLoc, codesLoc)
      val t2 = TableWriter.append(t1, src.filter(col("vec_id") % 2 === 1))
      val t3 = TableWriter.updateWhere(t2, s, col("vec_id") % 5 === 0,
        Map("embedding" -> transform(col("embedding"), x => negate(x))))
      val t4 = TableWriter.deleteWhere(t3, s, col("vec_id") % 7 === 0)
      syncSqFromChangelog(s, t4, codes0, pT.newScan().toDF(s), Some(c1))
      ()
    }
    (IcebergTables.load(corpusLoc), IcebergTables.load(paramsLoc),
      IcebergTables.load(codesLoc))
  }

  /** Battery entry ann15: ann13's SQ8 top-k, served from the
    * INCREMENTALLY-maintained codes table over the [[ann15Fixture]]
    * commit sequence. The oracle encodes the final corpus state against
    * params trained on the bootstrap state, with the same clamp — a hash
    * match proves index-after-changefeed ≡ from-scratch clamped encode
    * against the frozen model. */
  def ann15IncrementalSq8(s: SparkSession, d: String,
                          nQueries: Int = 10, k: Int = 5,
                          shortlist: Int = 40): DataFrame = {
    val (corpusT, pT, codesT) = ann15Fixture(s, d)
    // dequantized reconstruction = the resident form of the SQ index
    // (the session-built ann13 caches exactly this via sq8DeqSlot)
    val corpus = serveSlot(Similarity.pqEmb(corpusT.newScan().toDF(s)))
    val params = pT.newScan().toDF(s)
    val deq = serveSlot(
      Similarity.sq8Dequant(codesT.newScan().toDF(s), params))
    Similarity.sq8TopK(deq, corpus,
      corpus.filter(col("vec_id") < nQueries), k, shortlist)
  }

  val ann15Sql: String = Similarity.annSq8SqlOver(
    """SELECT vec_id,
              CASE WHEN vec_id % 5 = 0
                   THEN [CAST(-x AS DOUBLE) for x in embedding]
                   ELSE [CAST(x AS DOUBLE) for x in embedding] END AS e
       FROM embeddings WHERE vec_id % 7 <> 0""",
    """SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       FROM embeddings WHERE vec_id % 2 = 0""")

  /** Battery entry ann16: the maintained SQ codes TABLE pinned directly —
    * integer saturation counts over the PERSISTED codes (boundary-code
    * coordinates, total coordinates, vectors). ann15 proves the codes
    * through the SERVE path (dequant → shortlist → re-rank → top-k);
    * this entry hash-matches the stored integers themselves: DuckDB
    * recomputes the clamped encode of the final corpus against the
    * bootstrap params and must land on the exact same counts — including
    * the coordinates the clamp saturated. */
  def ann16SqSaturation(s: SparkSession, d: String): DataFrame = {
    val (_, _, codesT) = ann15Fixture(s, d)
    codesT.newScan().toDF(s)
      .select(expr(
          "aggregate(transform(c, x -> CASE WHEN x = 0 OR x = 255 THEN 1 " +
            "ELSE 0 END), 0, (a, v) -> a + v)").as("sat"),
        expr("size(c)").as("n"))
      .agg(sum(col("sat")).cast("long").as("saturated"),
        sum(col("n")).cast("long").as("total_coords"),
        count(lit(1)).as("vectors"))
  }

  val ann16Sql: String =
    """WITH ecur AS (
         SELECT vec_id,
                CASE WHEN vec_id % 5 = 0
                     THEN [CAST(-x AS DOUBLE) for x in embedding]
                     ELSE [CAST(x AS DOUBLE) for x in embedding] END AS e
         FROM embeddings WHERE vec_id % 7 <> 0),
       eboot AS (
         SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
         FROM embeddings WHERE vec_id % 2 = 0),
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
         FROM ecur, params)
       SELECT CAST(SUM(list_sum([CASE WHEN x = 0 OR x = 255 THEN 1 ELSE 0 END
                for x in c])) AS BIGINT) AS saturated,
              CAST(SUM(len(c)) AS BIGINT) AS total_coords,
              CAST(COUNT(*) AS BIGINT) AS vectors
       FROM codes"""
}
