package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{IcebergTable, IcebergTables, TableWriter}
import graft.streaming.Changelog
import graft.tables.Tables

/** Persistent, incrementally-maintained neighbor-graph ANN index — the
  * [[AnnIndex]] two-table discipline applied to [[GraphAnn]]'s kNN graph.
  *
  * Three Graft Iceberg tables:
  *   - **cents** `(cid, ce, cnorm)` — the coarse cell centers, sampled
  *     ONCE at bootstrap and frozen (the ann07/ann09 frozen-quantizer
  *     rule: re-sampling would invalidate every assignment; re-centering
  *     is an explicit full re-index);
  *   - **assign** `(vec_id, cid)` — each vector's `probes` cells against
  *     the frozen centers. Maintained per changed KEY (the
  *     [[ChangefeedFold]] shape): O(changed vectors) per sync;
  *   - **graph** `(src, dst)` — the bounded-degree kNN edges. Maintained
  *     per affected CELL: a node's edge list is a pure function of its
  *     cells' membership (`refine = 0` — NN-Descent rounds would make
  *     edges depend on neighbors-of-neighbors, cascading the affected set
  *     one graph hop per round; the maintained rung trades that recall
  *     polish for locality, and serving can spend a wider beam instead).
  *
  * Sync math: a changed vector touches only the cells it left and the
  * cells it entered. Any node assigned to NONE of those cells keeps its
  * exact edge list (its candidate pools are untouched), so recomputing
  * every node assigned to an affected cell — `O(changed · cell
  * population)`, corpus-size-independent — lands the graph in the SAME
  * state a from-scratch rebuild against the frozen centers would
  * (GraphIndexSpec pins the equivalence and the locality bound).
  *
  * Reference scope note: the reference (a metadata-plane Go client) has
  * no ANN surface; engine-native functionality the LLM-pipeline brief
  * requires.
  */
object GraphIndex {
  import GraphAnn.GraphParams

  /** Maintained-graph geometry: [[GraphAnn.GraphParams]] with NN-Descent
    * disabled (see class doc). */
  val MaintainedParams: GraphParams = GraphParams(refine = 0)

  // serve-side resident state (see topK); keyed because the maintenance
  // specs serve successive table states through the same path
  private val serveEnSlot = new CacheSlot(2)
  private val serveGraphSlot = new CacheSlot(2)
  private val serveCentsSlot = new CacheSlot(2)

  private def en(corpus: DataFrame): DataFrame =
    GraphAnn.withNorm(Similarity.pqEmb(corpus))

  /** The frozen cell centers a bootstrap draws from `corpus` — public
    * because a REST-plane bootstrap ([[stageChanges]] from empty) needs
    * to compute and persist them itself. */
  def centersOf(corpus: DataFrame, p: GraphParams = MaintainedParams): DataFrame =
    GraphAnn.graphCentroids(en(corpus), p.nCells)

  /** From-scratch assignment of `corpus` against frozen `cents` — the
    * full re-index primitive (and the spec's equivalence oracle). */
  def assignOf(corpus: DataFrame, cents: DataFrame,
               p: GraphParams = MaintainedParams): DataFrame =
    GraphAnn.graphAssign(en(corpus), cents, p.probes)

  /** From-scratch edge set of `corpus` against frozen `cents`. */
  def edgesOf(corpus: DataFrame, cents: DataFrame,
              p: GraphParams = MaintainedParams): DataFrame =
    GraphAnn.graphEdges(en(corpus), assignOf(corpus, cents, p), p.degree)

  /** Bootstrap: build cents + assign + graph from the corpus' current
    * state. `corpus` is the raw `(vec_id, embedding)` shape. */
  def build(corpus: DataFrame, centsLoc: String, assignLoc: String,
            graphLoc: String, p: GraphParams = MaintainedParams)
      : (IcebergTable, IcebergTable, IcebergTable) = {
    val e = en(corpus)
    val cents = GraphAnn.graphCentroids(e, p.nCells)
    val centsT = TableWriter.create(cents, centsLoc)
    val asg = GraphAnn.graphAssign(e, cents, p.probes)
    val assignT = TableWriter.create(asg, assignLoc)
    val graphT = TableWriter.create(
      GraphAnn.graphEdges(e, asg, p.degree), graphLoc)
    (centsT, assignT, graphT)
  }

  /** Recompute the edge lists of `srcs` (a bounded (vec_id) frame)
    * against the CURRENT assignment + corpus state: each src's candidate
    * pool is the union of its cells' members — exactly the from-scratch
    * rule, applied to a subset. */
  private def edgesFor(corpus: DataFrame, asg: DataFrame,
                       srcs: DataFrame, p: GraphParams): DataFrame = {
    val e = en(corpus)
    val srcAsg = asg.join(srcs, "vec_id")
    // the candidate side is pre-filtered to the srcs' OWN cells (an
    // affected src can sit in an unaffected cell too — its pool spans
    // both), so the pair shuffle carries only those cells' members, never
    // the corpus; the asg scan itself is map-only with a broadcast semi
    // filter (cid-partitioned storage would prune it entirely)
    val srcCells = srcAsg.select("cid").distinct()
    val a = srcAsg.join(e, "vec_id")
      .select(col("cid"), col("vec_id").as("src"),
        col("e").as("ea"), col("norm").as("na"))
    val b = asg.join(broadcast(srcCells), Seq("cid"))
      .join(e, "vec_id")
      .select(col("cid"), col("vec_id").as("dst"),
        col("e").as("eb"), col("norm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cr").desc, col("dst"))
    a.join(b, Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6).as("cr"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= p.degree)
      .select("src", "dst")
  }

  /** Apply one changelog window to the assign + graph tables. Returns the
    * refreshed (assign, graph) tables. Commits: one equality-delete +
    * one append per table — all four O(affected), never O(corpus).
    * `corpus` must be the POST-window corpus state (the changelog's
    * source table after the window's commits — what [[syncFromChangelog]]
    * passes). */
  def applyChanges(corpus: DataFrame, assignT: IcebergTable,
                   graphT: IcebergTable, changes: DataFrame,
                   cents: DataFrame, p: GraphParams = MaintainedParams)
      : (IcebergTable, IcebergTable) = {
    val spark = corpus.sparkSession
    val net = ChangefeedFold.netEffect(changes, "vec_id").persist()
    try {
      if (net.isEmpty) (assignT, graphT)
      else {
        val keys = net.select("vec_id")
        val ins = net.filter(col("_change_type") === "insert")
          .select(corpus.columns.map(col).toIndexedSeq: _*)
        val newAsg = GraphAnn.graphAssign(en(ins), cents, p.probes)
          .persist()
        // affected cells = cells the changed vectors LEFT (their rows in
        // the PRE-sync assign table) ∪ cells they ENTERED
        val preAsg = assignT.newScan().toDF(spark)
        val affectedCells = preAsg.join(keys, "vec_id").select("cid")
          .union(newAsg.select("cid")).distinct().persist()
        try {
          // assign: the plain keyed fold (retract touched, append fresh)
          val assignT2 = {
            val afterRetract = TableWriter.deleteEquality(
              assignT, keys, Seq("vec_id"))
            TableWriter.append(afterRetract, newAsg)
          }
          val postAsg = assignT2.newScan().toDF(spark)
          // graph: retract every node whose pools changed, re-derive them
          // against post-window membership. Deleted vectors are covered
          // twice over — their srcs are in `keys`, and every edge TOWARD
          // them lives at a src sharing one of their (affected) cells.
          val affectedSrcs = postAsg.join(affectedCells, "cid")
            .select("vec_id").distinct()
          val graphT2 = {
            val afterRetract = TableWriter.deleteEquality(graphT,
              affectedSrcs.select(col("vec_id").as("src")).union(
                keys.select(col("vec_id").as("src"))).distinct(),
              Seq("src"))
            TableWriter.append(afterRetract,
              edgesFor(corpus, postAsg, affectedSrcs, p))
          }
          (assignT2, graphT2)
        } finally { affectedCells.unpersist(); newAsg.unpersist(); () }
      }
    } finally { net.unpersist(); () }
  }

  /** REST-transactional sync: the [[applyChanges]] math staged onto `tx`
    * as TWO retract-and-replace snapshots (assign + graph) that commit —
    * or roll back — together with whatever corpus-side change the caller
    * staged on the same transaction (the Bm25Index/AnnIndex lockstep
    * discipline). `corpus` must be the POST-window corpus state (for a
    * lockstep append that is pre-state ∪ staged batch — the staged rows
    * are not committed yet, so they cannot be scanned from the server).
    * Returns false when the window nets to nothing. */
  def stageChanges(tx: TableWriter.RestTransaction,
                   catalog: graft.catalog.RestCatalog,
                   assignIdent: Seq[String], graphIdent: Seq[String],
                   corpus: DataFrame, changes: DataFrame, cents: DataFrame,
                   p: GraphParams = MaintainedParams): Boolean = {
    val spark = corpus.sparkSession
    val net = ChangefeedFold.netEffect(changes, "vec_id").persist()
    try {
      if (net.isEmpty) false
      else {
        val keys = net.select("vec_id")
        val ins = net.filter(col("_change_type") === "insert")
          .select(corpus.columns.map(col).toIndexedSeq: _*)
        val newAsg = GraphAnn.graphAssign(en(ins), cents, p.probes)
        val preAsg = TableWriter.restTableOf(catalog.loadTable(assignIdent))
          .newScan().toDF(spark)
        val affectedCells = preAsg.join(keys, "vec_id").select("cid")
          .union(newAsg.select("cid")).distinct()
        val postAsg = preAsg.join(keys, Seq("vec_id"), "left_anti")
          .union(newAsg)
        val affectedSrcs = postAsg.join(affectedCells, "cid")
          .select("vec_id").distinct()
        tx.stageReplaceEquality(assignIdent, keys, Seq("vec_id"), newAsg)
        tx.stageReplaceEquality(graphIdent,
          affectedSrcs.select(col("vec_id").as("src")).union(
            keys.select(col("vec_id").as("src"))).distinct(),
          Seq("src"), edgesFor(corpus, postAsg, affectedSrcs, p))
        true
      }
    } finally { net.unpersist(); () }
  }

  /** Batch catch-up: apply every corpus commit after `afterSnapshotId`
    * (None = full history) in one net-effect window. */
  def syncFromChangelog(spark: SparkSession, corpus: IcebergTable,
                        assignT: IcebergTable, graphT: IcebergTable,
                        cents: DataFrame, afterSnapshotId: Option[Long],
                        p: GraphParams = MaintainedParams)
      : (IcebergTable, IcebergTable) =
    applyChanges(corpus.newScan().toDF(spark), assignT, graphT,
      Changelog.changelogDF(spark, corpus, afterSnapshotId), cents, p)

  /** Serve top-k from the maintained tables — [[GraphAnn.beamVisited]]
    * over the graph table, final selection membership-filtered against
    * the live corpus (a frozen entry point may have been deleted). */
  def topK(spark: SparkSession, corpus: DataFrame, centsT: IcebergTable,
           graphT: IcebergTable, queries: DataFrame, k: Int,
           p: GraphParams = MaintainedParams): DataFrame = {
    // resident serve-side state (keyed: specs serve evolving tables
    // through this same path): the norm projection over the corpus and
    // the edge table otherwise re-scan per pass — the corpus TWICE per
    // beam hop (frontier scoring + the final membership semi-join)
    val e = serveEnSlot(en(corpus))
    // bounded (nCells rows) — resident like the edge table (r19)
    val cents = serveCentsSlot(centsT.newScan().toDF(spark))
    val graph = serveGraphSlot(graphT.newScan().toDF(spark))
    val q = queries.select(col("vec_id").as("qid"), col("e").as("qe"),
      col("qnorm"))
    // final selection materializes inside the AQE-off scope, as in
    // [[GraphAnn.annGraph]] — fresh per serve, fewer scheduled stages
    GraphAnn.withoutAqe(spark) {
      GraphAnn.topKFromVisited(
        GraphAnn.beamVisited(e, cents, graph, q, p), e, k)
        .localCheckpoint()
    }
  }

  // ---------------------------------------------------------- battery

  /** ann20 fixture: the ann07/ann09 commit sequence — bootstrap on even
    * vec_ids, append odds, negate every fifth, delete every seventh —
    * with the graph index synced from the changelog after bootstrap. */
  private def fixture(s: SparkSession, d: String)
      : (IcebergTable, IcebergTable, IcebergTable, IcebergTable) = {
    val root =
      s"${IcebergOps.cacheRoot}/${d.replaceAll("[^A-Za-z0-9]", "_")}/ann20"
    val corpusLoc = s"$root/corpus"
    val centsLoc = s"$root/cents"
    val assignLoc = s"$root/assign"
    val graphLoc = s"$root/graph"
    IcebergOps.provisionOnce(new java.io.File(root)) {
      val src = Tables.embeddings(s, d).select("vec_id", "embedding")
      val t1 = TableWriter.create(src.filter(col("vec_id") % 2 === 0), corpusLoc)
      val c1 = t1.currentSnapshot.get.snapshotId
      val (centsT, assignT, graphT) = build(
        t1.newScan().toDF(s), centsLoc, assignLoc, graphLoc)
      val t2 = TableWriter.append(t1, src.filter(col("vec_id") % 2 === 1))
      val t3 = TableWriter.updateWhere(t2, s, col("vec_id") % 5 === 0,
        Map("embedding" -> transform(col("embedding"), x => negate(x))))
      val t4 = TableWriter.deleteWhere(t3, s, col("vec_id") % 7 === 0)
      syncFromChangelog(s, t4, assignT, graphT,
        centsT.newScan().toDF(s), Some(c1))
      ()
    }
    (IcebergTables.load(corpusLoc), IcebergTables.load(centsLoc),
      IcebergTables.load(assignLoc), IcebergTables.load(graphLoc))
  }

  /** Battery entry ann20: graph-ANN top-k served from the INCREMENTALLY
    * maintained index over the fixture commit sequence. Oracle: the graph
    * SQL with centroids sampled from the bootstrap-time corpus state — a
    * hash match proves index-after-changefeed ≡ from-scratch build of the
    * final corpus against the frozen centers (the ann09 technique). */
  def ann20IncrementalGraph(s: SparkSession, d: String,
                            nQueries: Int = 10, k: Int = 5): DataFrame = {
    val (corpusT, centsT, _, graphT) = fixture(s, d)
    val corpus = corpusT.newScan().toDF(s)
    val queries = en(corpus).filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("e"), col("norm").as("qnorm"))
    topK(s, corpus, centsT, graphT, queries, k)
  }

  val ann20Sql: String = GraphAnn.annGraphSqlOver(
    """SELECT vec_id,
              CASE WHEN vec_id % 5 = 0
                   THEN [CAST(-x AS DOUBLE) for x in embedding]
                   ELSE [CAST(x AS DOUBLE) for x in embedding] END AS e
       FROM embeddings WHERE vec_id % 7 <> 0""",
    Some("""SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       FROM embeddings WHERE vec_id % 2 = 0"""),
    p = MaintainedParams)
}
