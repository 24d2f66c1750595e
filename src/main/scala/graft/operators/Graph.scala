package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Seam

/** Distributed triangle counting — the clustering-coefficient /
  * community-density primitive over similarity graphs (e.g. the near-dup
  * pair graph, where triangle density distinguishes boilerplate families
  * from chance collisions).
  *
  * Algorithm: orient every undirected edge low→high endpoint, then count
  * wedges u→v→w that close with an oriented edge u→w. Each triangle
  * {u<v<w} is counted EXACTLY once (only from its smallest vertex), so no
  * division by 3/6 and no double joins. Two shuffle joins total; the wedge
  * join's fan-out is bounded by per-vertex out-degree, which id-orientation
  * caps at the vertex's degree (the classic refinement — orienting by
  * DEGREE then id caps it at O(sqrt(|E|)) per vertex [Suri & Vassilvitskii,
  * WWW 2011] — drops in here by swapping the orientation key; at the gated
  * graph sizes id-orientation already yields the same plan shape).
  */
object Graph {

  /** Count triangles in an undirected edge list (columns `src`, `dst`).
    * Self-loops are dropped; duplicate/reversed edges are canonicalized
    * away. Returns one row: (n_edges, n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    val oriented = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e1.v").as("v"),
        col("e2.v").as("w"))
    val closed = wedges.join(
      oriented.select(col("u"), col("v").as("w")), Seq("u", "w"))
    oriented.agg(count(lit(1)).as("n_edges"))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Common-neighbor Jaccard node similarity (the neighborhood-overlap
    * link-prediction measure of Liben-Nowell & Kleinberg, CIKM 2003):
    * for node pairs sharing >= `minCommon` neighbors,
    * `J(u,v) = |N(u) ∩ N(v)| / (deg(u) + deg(v) - |N(u) ∩ N(v)|)` —
    * "documents similar to the same documents" even when no direct
    * near-dup edge connects them, the second-order signal cluster
    * curation uses to merge over-split components.
    *
    * Shape: one symmetric edge frame, a wedge self-join on the shared
    * neighbor (the [[triangleCount]] pattern) grouped to common counts,
    * then two broadcast-sized degree lookups. Work is Σ deg² — bounded
    * for similarity graphs whose degree the dedup threshold caps; on a
    * power-law graph you would cap per-node adjacency at top-k by edge
    * weight first (the standard guard), which composes as one
    * WindowGroupLimit before this operator. The degree lookups are
    * |nodes|-sized key joins left to Catalyst/AQE (billions of nodes at
    * corpus scale — NOT force-broadcast). Exact integer counts; ONE IEEE
    * division at emission. */
  def jaccardSimilarity(pairs: DataFrame, minCommon: Long = 2,
                        aCol: String = "a", bCol: String = "b"): DataFrame = {
    val und = pairs.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val common = edges.as("l")
      .join(edges.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .groupBy(col("l.dst").as("u"), col("r.dst").as("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    common
      .join(deg.select(col("src").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double") /
          (col("du") + col("dv") - col("common"))).as("jaccard"))
  }

  /** k-core peeling (Seidman, "Network structure and minimum degree",
    * Social Networks 1983; distributed peeling per Montresor et al.) —
    * repeatedly delete nodes of degree < k. The density filter that
    * separates a corpus's tightly-interlinked boilerplate cores from
    * stringy chains: a long chain survives connected components AND has
    * triangles=0, but no chain node survives the 2-core.
    *
    * FIXED `rounds` of synchronous peeling (the [[graft.operators.Cluster]]
    * fixed-round discipline — oracle-unrollable, deterministic): each
    * round is one degree aggregate plus two semi joins filtering both
    * endpoints, with the edge frame cut at a [[graft.Seam]] between
    * rounds. Peeling converges in at most the longest "peel chain" —
    * single digits for similarity graphs; a production caller loops until
    * the edge count probed on the cut stops moving, exactly like
    * `kmeans_converged`.
    *
    * Returns surviving `(idOut, deg)` — degree WITHIN the peeled core. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int,
            aCol: String = "a", bCol: String = "b",
            idOut: String = "doc_id"): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore: k >= 1, rounds >= 1")
    var edges = Seam.cut(
      Cluster.undirectedEdges(pairs.filter(col(aCol) =!= col(bCol)), aCol, bCol))
    var r = 0
    while (r < rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("node"))
      val prev = edges
      edges = Seam.cut(edges
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      Seam.release(prev)
      r += 1
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as(idOut), col("deg"))
  }

  /** Single-source BFS hop distances, bounded to `rounds` hops — the
    * reachability-depth signal next to components (membership), k-core
    * (density), PageRank (centrality) and LPA (community): how many
    * near-dup steps separate a document from the cluster seed, which is
    * the "revision distance" of a document family. Source defaults to
    * the smallest node id (deterministic); kept as a 1-row broadcast
    * frame so the plan stays fully lazy.
    *
    * Classic synchronous frontier (Pregel/Bellman-Ford over unit
    * weights): each round one join pushes `dist+1` along edges and a
    * min-aggregate merges with the standing distances; the frame is cut at
    * a [[graft.Seam]] with eager predecessor release (as in
    * [[Cluster.pagerank]]). Integer-only, so an oracle
    * unrolls the rounds exactly. Cost per round: one shuffle join of the
    * REACHED set against edges — at 100 TB the frontier set, not the
    * graph, bounds the reduce side. Returns `(idOut, dist)` for every
    * node within `rounds` hops, source included at dist 0. */
  def bfsHops(pairs: DataFrame, rounds: Int, aCol: String = "a",
              bCol: String = "b", idOut: String = "doc_id"): DataFrame = {
    require(rounds >= 1, s"bfsHops: rounds must be >= 1, got $rounds")
    val edges =
      Cluster.undirectedEdges(pairs.filter(col(aCol) =!= col(bCol)), aCol, bCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = Seam.cut(edges.agg(min(col("src")).as("node"))
      .select(col("node"), lit(0).as("dist")))
    var r = 0
    while (r < rounds) {
      val pushed = dist.join(edges, dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      val prev = dist
      dist = Seam.cut(dist.unionByName(pushed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      Seam.release(prev)
      r += 1
    }
    edges.unpersist(blocking = false)
    dist.select(col("node").as(idOut), col("dist"))
  }

  /** Strongly-connected components of a DIRECTED edge list — the sixth
    * graph signal, and the one none of the undirected machinery can
    * express (connected components collapse direction; a link graph's
    * cycles are exactly what CC overcounts). Algorithm: Orzan's coloring
    * (Orzan 2004; the distributed FW-BW family of Fleischer, Hendrickson
    * & Pinar 2000 — the standard Pregel-style SCC, cf. Slota, Rajamanickam
    * & Madduri, IPDPS 2014): repeat on the unassigned subgraph —
    * (1) propagate the maximum node id FORWARD to fixpoint (color c(v) =
    * max id that reaches v; monotone, so the 1-row sum of colors is the
    * convergence measure), (2) from each color root (c(r) = r) propagate
    * membership BACKWARD along edges restricted to the root's color class
    * (u joins when u→v, c(u) = c(v), v marked) — the marked set is
    * exactly SCC(root) = reach⁻(r) ∩ reach⁺(r) within the color — then
    * (3) peel the marked nodes and iterate. Every round assigns at least
    * the max unassigned id's SCC, so termination is structural; real
    * graphs finish in a handful of rounds (the giant SCC falls in round
    * one from its max id).
    *
    * SCC ids are re-canonicalized to the MINIMUM member id at emission,
    * so the output is algorithm-independent (the oracle computes the same
    * canonical form from mutual reachability).
    *
    * Scale shape: each fixpoint step is one equi-join (color/mark pushed
    * along the live edge frame) + one hash aggregate, the [[bfsHops]] /
    * Cluster discipline; live-edge restriction is two semi-joins; every
    * iteration state is cut at a [[graft.Seam]] so lineage stays flat, and
    * the only driver-side values — the 1-row convergence aggregates and
    * the outer loop's unassigned count — ride those cuts, one job per
    * round. Rounds, not data, are the scale cost — the published bound is
    * O(log n) expected rounds for the coloring family.
    *
    * Returns one row per node: `(idOut, scc_id)`. */
  def scc(edges0: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          idOut: String = "node"): DataFrame = {
    val edges = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")) // self-loops never change an SCC
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("n"))
      .unionByName(edges.select(col("dst").as("n")))
      .distinct()
    val nodeCount = count(lit(1)).as("n_nodes")
    var (unassigned, nLeft) = Seam.cut(nodes, nodeCount)
    var assigned: DataFrame = null // (n, c) with c the round's root id
    while (nLeft.getLong(0) > 0) {
      val live = Seam.cut(edges
        .join(unassigned.select(col("n").as("src")), Seq("src"), "left_semi")
        .join(unassigned.select(col("n").as("dst")), Seq("dst"), "left_semi"))
      // (1) forward max-id coloring to fixpoint; colors only grow, so the
      // 1-row sum is a strictly-increasing convergence measure.
      // decimal(38,0) carrier: the sum of n ids overflows int64 long
      // before the ids themselves do
      val colorSum = sum(col("c").cast("decimal(38,0)")).as("c_sum")
      var (color, measure) =
        Seam.cut(unassigned.select(col("n"), col("n").as("c")), colorSum)
      var fixed = false
      while (!fixed) {
        val pushed = color.join(live, color("n") === live("src"))
          .select(col("dst").as("n"), col("c"))
        val (next, m2) = Seam.cut(color.unionByName(pushed)
          .groupBy(col("n")).agg(max(col("c")).as("c")), colorSum)
        fixed = m2.getDecimal(0).compareTo(measure.getDecimal(0)) == 0
        measure = m2
        Seam.release(color)
        color = next
      }
      // (2) backward membership from the roots, restricted to the color
      // class; the marked set only grows, so its count is the measure
      val markedCount = count(lit(1)).as("n_marked")
      var (marked, cnt) =
        Seam.cut(color.filter(col("n") === col("c")), markedCount)
      fixed = false
      while (!fixed) {
        val pulled = marked.join(live, marked("n") === live("dst"))
          .select(col("src").as("n"), col("c"))
          .join(color, Seq("n", "c"), "left_semi") // u must wear the color
        val (next, c2) =
          Seam.cut(marked.unionByName(pulled).distinct(), markedCount)
        fixed = c2.getLong(0) == cnt.getLong(0)
        cnt = c2
        // a superseded round; only the final marked set is read (lazily,
        // by the assigned union), so it alone is kept
        Seam.release(marked)
        marked = next
      }
      Seam.release(color)
      Seam.release(live)
      // (3) peel
      assigned =
        if (assigned == null) marked else assigned.unionByName(marked)
      val (rest, n2) = Seam.cut(unassigned
        .join(marked.select(col("n")), Seq("n"), "left_anti"), nodeCount)
      Seam.release(unassigned)
      unassigned = rest
      nLeft = n2
    }
    Seam.release(unassigned)
    edges.unpersist(blocking = false)
    if (assigned == null)
      return nodes.select(col("n").as(idOut), col("n").as("scc_id"))
    // canonical id = min member, independent of which root won the color;
    // plain equi-join — |canon| = |SCCs| can approach |nodes|, so the
    // broadcast decision belongs to the stats/AQE, not the code
    val canon = assigned.groupBy(col("c")).agg(min(col("n")).as("scc_id"))
    assigned.join(canon, Seq("c"))
      .select(col("n").as(idOut), col("scc_id"))
  }

  /** Longest-path topological levels of a DAG — the scheduling depth a
    * pipeline planner reads off the [[scc]] condensation (level-k nodes
    * can all run once every level-<k node finished; the Bellman-Ford
    * longest-path fold specialized to DAGs). level(v) = 0 for sources,
    * else 1 + max over predecessors — iterated to fixpoint with the
    * monotone level-sum as the convergence measure ([[scc]]'s coloring
    * discipline). A CYCLE would grow levels forever, so non-convergence
    * within maxRounds raises loudly rather than looping — the check that
    * enforces the DAG contract instead of assuming it.
    *
    * Scale shape: per round one equi-join (levels pushed along edges) +
    * one max-aggregate, state cut at a [[graft.Seam]]; rounds = DAG depth
    * (condensations of real graphs are shallow — the giant-SCC collapse
    * is exactly what bounds them). Returns `(node, level)`.
    *
    * `nodes0` (optional, one long-typed column) names the node UNIVERSE:
    * isolated nodes — present in the universe but touching no edge —
    * surface at level 0, matching the recursive-CTE restatement that
    * seeds every node. Without it the universe is derived from the edge
    * endpoints, which silently drops isolated nodes. */
  def topoLevels(edges0: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", maxRounds: Int = 64,
                 nodes0: Option[DataFrame] = None): DataFrame = {
    val edges = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val endpoints = edges.select(col("src").as("n"))
      .unionByName(edges.select(col("dst").as("n")))
    val nodes = nodes0
      .map(u => u.select(u.columns.head).toDF("n")
        .select(col("n").cast("long").as("n"))
        .unionByName(endpoints))
      .getOrElse(endpoints)
      .distinct()
    var level = Seam.cut(nodes.select(col("n"), lit(0L).as("l")))
    // initial measure is 0 by construction (every seed level is 0) — no job
    var m = 0L
    var fixed = false
    var r = 0
    while (!fixed) {
      require(r < maxRounds, s"Graph.topoLevels: no fixpoint after " +
        s"$maxRounds rounds — the edge list is not a DAG (run scc and " +
        "lift to the condensation first)")
      val pushed = level.join(edges, level("n") === edges("src"))
        .select(col("dst").as("n"), (col("l") + 1L).as("l"))
      // the level-sum convergence measure rides the round's cut.
      // coalesce: sum over ZERO rows is NULL — an empty universe must
      // converge at 0, not NPE.
      val (next, probe) = Seam.cut(level.unionByName(pushed)
          .groupBy(col("n")).agg(max(col("l")).as("l")),
        coalesce(sum(col("l")), lit(0L)).as("m"))
      val m2 = probe.getLong(0)
      fixed = m2 == m
      m = m2
      Seam.release(level)
      level = next
      r += 1
    }
    edges.unpersist(blocking = false)
    level.select(col("n").as("node"), col("l").as("level"))
  }
}
