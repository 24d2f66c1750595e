package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.operators.Cluster
import graft.sources.Tables
import graft.gates.Artifacts._

/** Graph algorithms and the connected-component dedup clusters. */
object GraphGates {

  /** The staged [[Artifacts.sccRows]] as a frame: driver-local rows, so
    * it serves (and broadcasts) without cluster state. */
  private def sccMemo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sccRows(s, dir).toSeq.toDF("node", "scc_id")
  }

  val gates: Seq[Gate] = Seq(
    // ----- connected-components clustering of the verified MinHash pairs:
    // transitive near-dup chains collapse to one canonical rep per cluster.
    // Pairs come from the staged per-sfDir spool (spooledNearDupPairs) —
    // the production fan-out shape where one pair derivation feeds many
    // consumers; this gate measures the CC operator itself.
    Gate("dedup_cluster", (s, dir) =>
      Cluster.connectedComponents(s.read.parquet(spooledNearDupPairs(s, dir)))
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.clusterOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- the composite a real pipeline runs (r6 verdict suggestion):
    // cluster labels feed BOTH the per-doc rep column and the keep/drop
    // verdict in one pass — this entry gates the shared-frame finish over
    // the staged pair spool (label once, annotate the whole corpus).
    Gate("dedup_cluster_survivors", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
      val corpus = docs.unionByName(perturbed)
      // cluster labels from the staged CC artifact (clusterRepsSpool —
      // the operator itself stays measured by dedup_cluster); the spool
      // read replaces both the inline CC rounds and the former
      // localCheckpoint (a parquet scan re-reads cheaply per consumer)
      val cc = s.read.parquet(clusterRepsSpool(s, dir))
      corpus.select(col("doc_id"))
        .join(cc.withColumnRenamed("doc_id", "__cid"),
          col("doc_id") === col("__cid"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
          (col("__cid").isNull || col("__cid") === col("cluster_rep"))
            .as("survives"))
        .orderBy(col("doc_id"))
    },
      graft.functions.SketchOracleSql.clusterSurvivorsOracleSql(),
      Seq(clusterRepsSpool)),

    // ----- the final dedup keep/drop decision: corpus minus non-rep
    // cluster members (singletons survive by absence from the pair graph);
    // pairs from the staged spool, like the rest of the cluster family
    Gate("dedup_survivors", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
      val corpus = docs.unionByName(perturbed)
      // staged CC labels (clusterRepsSpool) — dedup_cluster measures CC
      val cc = s.read.parquet(clusterRepsSpool(s, dir))
      val losers = cc.filter(col("doc_id") =!= col("cluster_rep")).select("doc_id")
      corpus.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      graft.functions.SketchOracleSql.survivorsOracleSql(),
      Seq(clusterRepsSpool)),

    // ----- star-contraction gate: a planted CHAIN pair graph (consecutive
    // doc-id ranks, broken every 50 ranks) whose diameter far exceeds the
    // propagation budget — connectedComponents MUST take the
    // large-star/small-star fallback (Cluster.starContract), the code path
    // that saves a pathological graph at 100 TB. Oracle = min doc_id per
    // 50-rank segment (chains follow rank order by construction).
    Gate("dedup_cluster_chain", (s, dir) => {
      val n = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      val a = n.select(col("doc_id").as("a"), col("rn"))
      val b = n.select(col("doc_id").as("b"), (col("rn") - 1).as("rn"))
      // pair rank r with r+1 except across 50-rank boundaries -> chains of
      // length 50, diameter 49 >> maxIters=1: the one propagation round
      // proves non-convergence at minimum cost, then the star fallback does
      // the actual work (which is the code path under test)
      val pairs = a.join(b, Seq("rn")).filter(col("rn") % 50 =!= 0)
        .select(col("a"), col("b"))
      Cluster.connectedComponents(pairs, maxIters = 1)
        .orderBy(col("doc_id"))
    },
      // chains follow doc-id rank order, broken every 50 ranks, so each
      // component's min label is the segment's first doc_id; nodes in a
      // 1-node trailing segment appear in no pair and are absent (CC's
      // contract covers only nodes with at least one pair)
      """WITH n AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(CEIL(rn / 50.0) AS BIGINT) AS grp FROM n
        |), sized AS (
        |  SELECT doc_id, grp, COUNT(*) OVER (PARTITION BY grp) AS gn FROM g
        |)
        |SELECT doc_id, MIN(doc_id) OVER (PARTITION BY grp) AS cluster_rep
        |FROM sized WHERE gn >= 2
        |ORDER BY doc_id""".stripMargin),

    // ----- PageRank over the verified near-dup pair graph (fixed unrolled
    // rounds, decimal-carrier mass sums): the graph-centrality keep signal
    // — hub documents rank above leaf variants within a cluster. Same
    // staged pair spool as dedup_cluster; the oracle unrolls the identical
    // rounds in SQL
    Gate("graph_pagerank", (s, dir) =>
      Cluster.pagerank(s.read.parquet(spooledNearDupPairs(s, dir)), iters = 3)
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.pagerankOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- HITS hubs & authorities (sixth graph signal: walk-count
    // centrality) — unnormalized integer rounds are exact walk counts,
    // so the scores are BIGINTs with no float-normalization channel
    Gate("graph_hits", (s, dir) =>
      Cluster.hits(s.read.parquet(spooledNearDupPairs(s, dir)), iters = 2)
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.hitsOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- single-source BFS hop distances (fifth graph signal:
    // reachability DEPTH; Graph.bfsHops scaladoc) over the planted
    // 50-rank CHAIN graph (the dedup_cluster_chain fixture — the near-dup
    // twin graph has diameter 1, which would leave the frontier rounds
    // untested). Source = smallest node id; 4 rounds walk exactly 5 nodes
    // down the first chain; oracle unrolls the identical integer rounds
    Gate("graph_bfs_hops", (s, dir) => {
      val n = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      val a = n.select(col("doc_id").as("a"), col("rn"))
      val b = n.select(col("doc_id").as("b"), (col("rn") - 1).as("rn"))
      val pairs = a.join(b, Seq("rn")).filter(col("rn") % 50 =!= 0)
        .select(col("a"), col("b"))
      graft.operators.Graph.bfsHops(pairs, rounds = 4)
        .orderBy(col("doc_id"))
    },
      graft.functions.SketchOracleSql.bfsOracleSql()),

    // ----- strongly-connected components (sixth graph signal: DIRECTED
    // cycles, which undirected CC structurally overcounts) via Orzan's
    // coloring / distributed FW-BW (Graph.scc scaladoc) over a planted
    // condensation: 25 ten-node cycle SCCs + 250 singletons joined by DAG
    // edges that must NOT merge. Oracle computes the same canonical
    // min-member ids from a recursive-CTE mutual-reachability closure —
    // algorithm-vs-specification, the dedup_cluster_chain discipline
    Gate("graph_scc", (s, dir) =>
      sccMemo(s, dir).withColumnRenamed("node", "doc_id")
        .withColumn("scc_size",
          count(lit(1)).over(Window.partitionBy(col("scc_id"))))
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.sccOracleSql,
      Seq(sccRows)),

    // ----- graph_scc truth table, stage 1: the planted edge list itself
    // (fixture construction pinned independently of the algorithm)
    Gate("graph_scc_diag_edges", (s, dir) =>
      sccFixtureEdges(s, dir).orderBy(col("src"), col("dst")),
      graft.functions.SketchOracleSql.sccEdgesOracleSql),

    // ----- graph_scc truth table, stage 2: the component size histogram
    // (isolates the size-count fold from the per-node id fold)
    Gate("graph_scc_diag_sizes", (s, dir) =>
      sccMemo(s, dir)
        .groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
        .groupBy(col("scc_size")).agg(count(lit(1)).as("n_sccs"))
        .orderBy(col("scc_size")),
      graft.functions.SketchOracleSql.sccSizesOracleSql,
      Seq(sccRows)),

    // ----- condensation DAG: edges lifted to the component level and
    // intra-component edges dropped — what SCC is FOR downstream (rank
    // the condensation, not the raw cyclic graph: PageRank on a graph
    // with link rings double-counts exactly what this collapses). Pure
    // composition of the gated scc ids with the gated edge list
    Gate("graph_scc_condensation", (s, dir) => {
      val sc = sccMemo(s, dir)
      val e = sccFixtureEdges(s, dir)
      e.join(sc.select(col("node").as("src"), col("scc_id").as("scc_src")),
          Seq("src"))
        .join(sc.select(col("node").as("dst"), col("scc_id").as("scc_dst")),
          Seq("dst"))
        .filter(col("scc_src") =!= col("scc_dst"))
        .select(col("scc_src"), col("scc_dst")).distinct()
        .orderBy(col("scc_src"), col("scc_dst"))
    },
      graft.functions.SketchOracleSql.sccCondensationOracleSql,
      Seq(sccRows)),

    // ----- longest-path topological levels of the condensation — the
    // scheduling depth a pipeline planner reads off the SCC DAG (level-k
    // components can all run once level-<k finished). Iterative
    // Bellman-Ford-on-a-DAG with loud cycle detection; oracle walks the
    // same levels as a recursive CTE and takes MAX per component
    Gate("graph_topo_levels", (s, dir) => {
      val sc = sccMemo(s, dir)
      val e = sccFixtureEdges(s, dir)
      val cond = e
        .join(sc.select(col("node").as("src"), col("scc_id").as("cs")),
          Seq("src"))
        .join(sc.select(col("node").as("dst"), col("scc_id").as("cd")),
          Seq("dst"))
        .filter(col("cs") =!= col("cd"))
        .select(col("cs").as("src"), col("cd").as("dst")).distinct()
      // seed the FULL component universe: an isolated SCC (touching no
      // condensation edge) belongs at level 0, exactly as the oracle's
      // recursive CTE seeds every scc_id — without the universe the
      // engine would silently drop it (agreeing with the oracle only
      // while the fixture happens to have none)
      graft.operators.Graph.topoLevels(cond,
          nodes0 = Some(sc.select(col("scc_id")).distinct()))
        .withColumnRenamed("node", "scc_id")
        .orderBy(col("scc_id"))
    },
      graft.functions.SketchOracleSql.sccTopoLevelsOracleSql,
      Seq(sccRows)),

    // ----- community detection over the same pair graph (synchronous
    // label propagation, fixed rounds): dense near-dup FAMILIES vs the
    // connectivity-only clusters CC yields — the third graph signal next
    // to centrality (pagerank) and reachability (dedup_cluster). Same
    // staged spool; the oracle unrolls the identical rounds
    Gate("graph_label_prop", (s, dir) =>
      Cluster.labelPropagation(
          s.read.parquet(spooledNearDupPairs(s, dir)), iters = 3)
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.labelPropOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- k-core peeling over the same pair graph (fourth graph signal:
    // density — chains survive CC and score zero triangles, but no chain
    // node survives the 2-core). Fixed unrolled peeling rounds; degree
    // within the surviving core (Graph.kCore scaladoc)
    Gate("graph_kcore", (s, dir) =>
      graft.operators.Graph.kCore(
          s.read.parquet(spooledNearDupPairs(s, dir)), k = 2, rounds = 3)
        .orderBy(col("doc_id")),
      graft.functions.SketchOracleSql.kcoreOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- second-order node similarity over the near-dup graph:
    // common-neighbor Jaccard (Liben-Nowell/Kleinberg link prediction) —
    // pairs similar to the same documents even without a direct edge
    Gate("graph_jaccard", (s, dir) =>
      graft.operators.Graph.jaccardSimilarity(
          s.read.parquet(spooledNearDupPairs(s, dir)), minCommon = 2)
        .orderBy(col("u"), col("v")),
      graft.functions.SketchOracleSql.jaccardOracleSql(),
      Seq(spooledNearDupPairs)),

    // ----- distributed triangle counting over a planted graph: ranks of
    // documents in 10-rank segments, edges (r,r+1) and (r,r+2) — every
    // interior rank closes a triangle. Orientation low→high counts each
    // triangle exactly once from its smallest vertex (wedge join + closure
    // join, two shuffles; degree-orientation drops in for skewed graphs)
    Gate("graph_triangles", (s, dir) => {
      val v = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(singlePartitionKey(col("doc_id")))
            .orderBy(col("doc_id"))) - 1)
        .select(col("rn"))
      def within(k: Int, segCap: Int) = v
        .select(col("rn").as("src"), (col("rn") + k).as("dst"))
        .join(v.select(col("rn").as("dst")), Seq("dst"))
        .filter(col("src") % 10 < segCap)
      graft.operators.Graph.triangleCount(
        within(1, 9).unionByName(within(2, 8)))
    },
      """WITH ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn FROM documents
        |), e AS (
        |  SELECT a.rn AS u, b.rn AS v
        |  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
        |  WHERE a.rn % 10 < 9
        |  UNION ALL
        |  SELECT a.rn, b.rn
        |  FROM ranked a JOIN ranked b ON b.rn = a.rn + 2
        |  WHERE a.rn % 10 < 8
        |)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(*)
        |   FROM e e1 JOIN e e2 ON e2.u = e1.v
        |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin)
  )
}
