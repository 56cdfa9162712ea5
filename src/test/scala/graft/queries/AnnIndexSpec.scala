package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.spark.{IcebergTables, SparkTestSession, TableWriter}

/** Incremental PQ-ANN index maintenance: after ANY commit sequence —
  * appends, copy-on-write updates, MoR deletes — the incrementally-
  * maintained codes table must equal a from-scratch encode of the table's
  * final state against the SAME bootstrap codebook (the codebook is frozen
  * at build time; re-training it is an explicit full re-index). */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val P = AnnIndex.Params()

  /** Deterministic 64-dim float vectors; `scale` perturbs so updates
    * genuinely move a vector to a different codeword neighborhood. */
  private def vec(id: Long, scale: Float = 1f): Array[Float] =
    Array.tabulate(64)(i => scale * (((id * 31 + i * 7) % 13).toFloat - 6f))

  private def embDF(ids: Seq[Long], scale: Float = 1f) = {
    val s = spark
    import s.implicits._
    ids.map(id => (id, vec(id, scale))).toDF("vec_id", "embedding")
  }

  private def codesOf(t: graft.spark.IcebergTable): Set[(Long, Int, Long)] =
    t.newScan().toDF(spark).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** From-scratch: encode the corpus' final state against `codebook`. */
  private def freshEncode(corpus: graft.spark.IcebergTable,
                          codebook: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    Similarity.pqEncode(Similarity.pqEmb(corpus.newScan().toDF(spark)),
        codebook, P.nSub)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("batch changelog sync equals from-scratch encode against the frozen codebook") {
    val loc = Files.createTempDirectory("ann_corpus").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val cbLoc = Files.createTempDirectory("ann_cb").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_codes").toFile.getPath
    val (cbT, codes0) = AnnIndex.build(
      Similarity.pqEmb(t1.newScan().toDF(spark)), cbLoc, cdLoc, P)
    val cb = cbT.newScan().toDF(spark)
    val t2 = TableWriter.append(t1, embDF(20L until 30L))
    val t3 = TableWriter.updateWhere(t2, spark, col("vec_id") === 5L,
      Map("embedding" -> transform(col("embedding"), x => negate(x))))
    val t4 = TableWriter.deleteWhere(t3, spark, col("vec_id") === 7L)
    val synced = AnnIndex.syncFromChangelog(spark, t4, codes0, cb, Some(c1), P)
    assert(codesOf(synced) == freshEncode(t4, cb))
    // the deleted vector is fully retracted; the updated one re-encoded
    assert(!codesOf(synced).exists(_._1 == 7L))
    assert(codesOf(synced).count(_._1 == 5L) == P.nSub)
  }

  test("geometry mismatch with the stored codebook fails loudly") {
    val loc = Files.createTempDirectory("ann_geo").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val cbLoc = Files.createTempDirectory("ann_geo_cb").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_geo_cd").toFile.getPath
    val (cbT, codes0) = AnnIndex.build(
      Similarity.pqEmb(t1.newScan().toDF(spark)), cbLoc, cdLoc, P)
    val t2 = TableWriter.append(t1, embDF(20L until 25L))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.syncFromChangelog(spark, t2, codes0,
        cbT.newScan().toDF(spark), Some(c1), AnnIndex.Params(nSub = 4))
    }
    assert(err.getMessage.contains("codebook"), err.getMessage)
  }

  test("re-delivered window is content-idempotent") {
    val loc = Files.createTempDirectory("ann_corpus2").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val cbLoc = Files.createTempDirectory("ann_cb2").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_codes2").toFile.getPath
    val (cbT, codes0) = AnnIndex.build(
      Similarity.pqEmb(t1.newScan().toDF(spark)), cbLoc, cdLoc, P)
    val cb = cbT.newScan().toDF(spark)
    val t2 = TableWriter.append(t1, embDF(20L until 25L))
    val once = AnnIndex.syncFromChangelog(spark, t2, codes0, cb, Some(c1), P)
    val state1 = codesOf(once)
    // same window applied again (a crashed micro-batch re-delivers)
    val twice = AnnIndex.syncFromChangelog(spark, t2, once, cb, Some(c1), P)
    assert(codesOf(twice) == state1)
  }

  test("IVF-PQ sync equals from-scratch assign+encode against frozen quantizers") {
    val loc = Files.createTempDirectory("ann_ivf").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val centsLoc = Files.createTempDirectory("ann_ivf_c").toFile.getPath
    val cbLoc = Files.createTempDirectory("ann_ivf_cb").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_ivf_cd").toFile.getPath
    val P9 = AnnIndex.IvfParams()
    val (centsT, rcbT, codes0) = AnnIndex.buildIvf(
      t1.newScan().toDF(spark), centsLoc, cbLoc, cdLoc, P9)
    val cents = centsT.newScan().toDF(spark)
    val rcb = rcbT.newScan().toDF(spark)
    val t2 = TableWriter.append(t1, embDF(20L until 30L))
    val t3 = TableWriter.updateWhere(t2, spark, col("vec_id") === 5L,
      Map("embedding" -> transform(col("embedding"), x => negate(x))))
    val t4 = TableWriter.deleteWhere(t3, spark, col("vec_id") === 7L)
    val synced = AnnIndex.syncIvfFromChangelog(spark, t4, codes0, cents, rcb,
      Some(c1), P9)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val fresh = rows(Similarity.ivfPqEncode(
      Similarity.ivfAssignResiduals(
        Similarity.ivfEn(Similarity.pqEmb(t4.newScan().toDF(spark))), cents),
      rcb, P9.nSub))
    assert(rows(synced.newScan().toDF(spark)) == fresh)
    assert(!rows(synced.newScan().toDF(spark)).exists(_._1 == 7L))
  }

  test("streaming IVF-PQ maintenance equals from-scratch assign+encode") {
    val loc = Files.createTempDirectory("ann_ivfs").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val centsLoc = Files.createTempDirectory("ann_ivfs_c").toFile.getPath
    val cbLoc = Files.createTempDirectory("ann_ivfs_cb").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_ivfs_cd").toFile.getPath
    val P9 = AnnIndex.IvfParams()
    // freeze quantizers from commit-1 state; codes start EMPTY and the
    // stream (from earliest) replays commit 1 into them
    val en0 = Similarity.ivfEn(Similarity.pqEmb(t1.newScan().toDF(spark)))
    val cents = Similarity.ivfCentroids(en0, P9.nCells)
    TableWriter.create(cents, centsLoc)
    val rcb = Similarity.ivfResidualCodebook(
      Similarity.ivfAssignResiduals(en0, cents), P9.nSub, P9.kSub)
    TableWriter.create(rcb, cbLoc)
    TableWriter.create(Similarity.ivfPqEncode(
      Similarity.ivfAssignResiduals(
        Similarity.ivfEn(Similarity.pqEmb(embDF(Nil))), cents), rcb, P9.nSub), cdLoc)
    val ck = Files.createTempDirectory("ann_ivfs_ck").toFile.getPath
    val q = AnnIndex.maintainIvf(spark, loc, centsLoc, cbLoc, cdLoc, ck, P9)
    try {
      q.processAllAvailable()
      val t2 = TableWriter.append(t1, embDF(20L until 25L))
      q.processAllAvailable()
      val t3 = TableWriter.deleteWhere(t2, spark, col("vec_id") === 3L)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      val fresh = rows(Similarity.ivfPqEncode(
        Similarity.ivfAssignResiduals(
          Similarity.ivfEn(Similarity.pqEmb(t3.newScan().toDF(spark))), cents),
        rcb, P9.nSub))
      assert(rows(IcebergTables.load(cdLoc).newScan().toDF(spark)) == fresh)
    } finally q.stop()
  }

  private def sqCodesOf(t: graft.spark.IcebergTable): Set[(Long, Seq[Int])] =
    t.newScan().toDF(spark).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet

  test("SQ index: batch sync equals from-scratch clamped encode; clamp exercised") {
    val loc = Files.createTempDirectory("sq_corpus").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val pLoc = Files.createTempDirectory("sq_params").toFile.getPath
    val cdLoc = Files.createTempDirectory("sq_codes").toFile.getPath
    val (pT, codes0) = AnnIndex.buildSq(
      Similarity.pqEmb(t1.newScan().toDF(spark)), pLoc, cdLoc)
    val params = pT.newScan().toDF(spark)
    // scale-3 appends land far outside the bootstrap min/max range —
    // the [0, 255] clamp must engage, identically in the from-scratch
    // reference (which shares sq8Encode)
    val t2 = TableWriter.append(t1, embDF(20L until 30L, scale = 3f))
    val t3 = TableWriter.updateWhere(t2, spark, col("vec_id") === 5L,
      Map("embedding" -> transform(col("embedding"), x => negate(x))))
    val t4 = TableWriter.deleteWhere(t3, spark, col("vec_id") === 7L)
    val synced = AnnIndex.syncSqFromChangelog(spark, t4, codes0, params, Some(c1))
    val fresh = Similarity.sq8Encode(
        Similarity.pqEmb(t4.newScan().toDF(spark)), params)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(sqCodesOf(synced) == fresh)
    assert(!sqCodesOf(synced).exists(_._1 == 7L))
    // clamp proof: some out-of-range coordinate saturated at 0 or 255
    val saturated = sqCodesOf(synced).filter(_._1 >= 20L)
      .flatMap(_._2).count(c => c == 0 || c == 255)
    assert(saturated > 0, "scale-3 appends should saturate the SQ clamp")
    // every code is in-range — nothing escaped the clamp
    assert(sqCodesOf(synced).flatMap(_._2).forall(c => c >= 0 && c <= 255))
  }

  test("SQ index: saturation-rate drift telemetry; rebuild resets it") {
    val loc = Files.createTempDirectory("sq_corpus4").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val pLoc = Files.createTempDirectory("sq_params4").toFile.getPath
    val cdLoc = Files.createTempDirectory("sq_codes4").toFile.getPath
    val (pT, codes0) = AnnIndex.buildSq(
      Similarity.pqEmb(t1.newScan().toDF(spark)), pLoc, cdLoc)
    val params = pT.newScan().toDF(spark)

    // fresh index: natural boundary-hit rate (each dimension's extremes
    // map to 0/255 exactly), drift ratio ~1
    val fresh = AnnIndex.statsSq(spark, codes0, params,
      t1.newScan().toDF(spark))
    assert(fresh.bootstrapErr.isDefined)
    assert(fresh.driftRatio.exists(r => r > 0.99 && r < 1.01))

    // churn far outside the bootstrap range: saturation CLIMBS past the
    // natural rate and reconstruction error blows past the baseline
    val t2 = TableWriter.append(t1, embDF(20L until 40L, scale = 4f))
    val synced = AnnIndex.syncSqFromChangelog(spark, t2, codes0, params, Some(c1))
    val drifted = AnnIndex.statsSq(spark, synced, params,
      t2.newScan().toDF(spark))
    assert(drifted.saturationRate > fresh.saturationRate + 0.1,
      s"scale-4 churn should saturate codes (fresh=${fresh.saturationRate} " +
        s"drifted=${drifted.saturationRate})")
    assert(drifted.driftRatio.exists(_ > 2.0),
      s"reconstruction error should blow past the baseline (${drifted.driftRatio})")
    // in-sync index: zero unmatched rows on either side
    assert(drifted.corpusRowsWithoutCodes == 0L)
    assert(drifted.codesRowsWithoutCorpus == 0L)

    // an OUT-OF-SYNC index (corpus grew past the last sync) must report
    // the unmatched rows an inner join would silently drop — recon error
    // understates drift exactly when inserts were missed
    val t2b = TableWriter.append(t2, embDF(40L until 45L))
    val stale = AnnIndex.statsSq(spark, synced, params,
      t2b.newScan().toDF(spark))
    assert(stale.corpusRowsWithoutCodes == 5L,
      s"5 unsynced corpus vectors must surface (${stale.corpusRowsWithoutCodes})")
    assert(stale.codesRowsWithoutCorpus == 0L)

    // full re-index: params re-train on the current corpus — saturation
    // falls back to a natural rate and the drift baseline resets to ~1
    val rebuilt = AnnIndex.rebuildSq(spark, t2.newScan().toDF(spark),
      pLoc, cdLoc)
    assert(rebuilt.saturationRate < drifted.saturationRate)
    assert(rebuilt.driftRatio.exists(r => r > 0.99 && r < 1.01))
    assert(rebuilt.codeRows == 40L)
  }

  test("SQ index: streaming read-changes maintenance equals from-scratch encode") {
    val loc = Files.createTempDirectory("sq_corpus2").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val pLoc = Files.createTempDirectory("sq_params2").toFile.getPath
    val cdLoc = Files.createTempDirectory("sq_codes2").toFile.getPath
    // params from commit-1 state; codes start EMPTY, the stream replays
    val params0 = Similarity.sq8Params(
      Similarity.pqEmb(t1.newScan().toDF(spark)))
    TableWriter.create(params0, pLoc)
    TableWriter.create(
      Similarity.sq8Encode(Similarity.pqEmb(embDF(Nil)), params0), cdLoc)
    val ck = Files.createTempDirectory("sq_ck").toFile.getPath
    val q = AnnIndex.maintainSq(spark, loc, pLoc, cdLoc, ck)
    try {
      q.processAllAvailable()
      val t2 = TableWriter.append(t1, embDF(20L until 25L, scale = 3f))
      q.processAllAvailable()
      val t3 = TableWriter.deleteWhere(t2, spark, col("vec_id") === 3L)
      q.processAllAvailable()
      val params = IcebergTables.load(pLoc).newScan().toDF(spark)
      val fresh = Similarity.sq8Encode(
          Similarity.pqEmb(t3.newScan().toDF(spark)), params)
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
      assert(sqCodesOf(IcebergTables.load(cdLoc)) == fresh)
    } finally q.stop()
  }

  test("streaming read-changes maintenance equals from-scratch encode") {
    val loc = Files.createTempDirectory("ann_corpus3").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val cbLoc = Files.createTempDirectory("ann_cb3").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_codes3").toFile.getPath
    // bootstrap codebook from commit-1 state; codes start EMPTY and the
    // stream (from earliest) replays commit 1 into them
    val cb = Similarity.pqCodebook(
      Similarity.pqEmb(t1.newScan().toDF(spark)), P.nSub, P.kSub)
    TableWriter.create(cb, cbLoc)
    TableWriter.create(
      Similarity.pqEncode(Similarity.pqEmb(embDF(Nil)), cb, P.nSub), cdLoc)
    val ck = Files.createTempDirectory("ann_ck3").toFile.getPath
    val q = AnnIndex.maintain(spark, loc, cbLoc, cdLoc, ck, P)
    try {
      q.processAllAvailable()
      val t2 = TableWriter.append(t1, embDF(20L until 25L))
      q.processAllAvailable()
      val t3 = TableWriter.deleteWhere(t2, spark, col("vec_id") === 3L)
      q.processAllAvailable()
      assert(codesOf(IcebergTables.load(cdLoc)) ==
        freshEncode(t3, IcebergTables.load(cbLoc).newScan().toDF(spark)))
    } finally q.stop()
  }

  test("serve slots never serve a stale index state across a sync (r19)") {
    // the Bm25IndexSpec freshness pin, applied to the ANN serve path: the
    // codes-table serveSlot keys on plan semantics, and `toDF` bakes the
    // planned FILE LIST into the plan — so serving, syncing the index, and
    // serving again MUST re-fill against the evolved state, never hit
    // stale (InMemoryFileIndex equality is rootPaths-based, so a
    // directory-rooted input would NOT give this guarantee — see the
    // CacheSlot scaladoc precondition).
    val loc = Files.createTempDirectory("ann_corpus5").toFile.getPath
    val t1 = TableWriter.create(embDF(0L until 20L), loc)
    val c1 = t1.currentSnapshot.get.snapshotId
    val cbLoc = Files.createTempDirectory("ann_cb5").toFile.getPath
    val cdLoc = Files.createTempDirectory("ann_codes5").toFile.getPath
    val (cbT, codes1) = AnnIndex.build(
      Similarity.pqEmb(t1.newScan().toDF(spark)), cbLoc, cdLoc, P)
    val cb = cbT.newScan().toDF(spark)
    def serve(codes: graft.spark.IcebergTable,
              corpus: graft.spark.IcebergTable): Set[Long] = {
      val c = Similarity.pqEmb(corpus.newScan().toDF(spark))
      AnnIndex.topK(spark, codes, cb, c, c.filter(col("vec_id") === 0L),
        P, k = 5, shortlist = 50).collect().map(_.getLong(1)).toSet
    }
    val before = serve(codes1, t1) // fills the codes slot for state 1
    assert(before.nonEmpty && !before.contains(100L))
    // evolve: an exact duplicate of query vector 0 arrives — it MUST rank
    // in the post-sync top-k (zero ADC distance, nid tie-break after 0's
    // own codeword twins)
    val t2 = {
      val s = spark
      import s.implicits._
      TableWriter.append(t1, Seq((100L, vec(0L))).toDF("vec_id", "embedding"))
    }
    val codes2 = AnnIndex.syncFromChangelog(spark, t2, codes1, cb, Some(c1), P)
    val after = serve(codes2, t2)
    assert(after.contains(100L),
      s"evolved index must surface the new duplicate vector: $after")
    // the OLD state keeps serving its own results (keyed, not evicted)
    assert(serve(codes1, t1) == before)
  }
}
