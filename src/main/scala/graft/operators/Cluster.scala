package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Seam

/** Graph clustering for dedup pipelines: connected components over
  * near-duplicate pairs, assigning every document the minimum document id
  * reachable through the pair graph (the cluster's canonical
  * representative). This is the step that turns pairwise near-dup output
  * ([[Dedup.minhashNearDups]] et al.) into keep/drop decisions: keep each
  * cluster's representative, drop the rest — without it, transitive
  * near-dup chains (A~B, B~C but not A~C) survive pairwise filtering.
  *
  * Algorithm: iterative min-label propagation (the MapReduce-era HCC shape —
  * Kang/Tsourakakis/Faloutsos "PEGASUS", ICDM 2009; Kiveris et al.
  * "Connected Components in MapReduce and Beyond", SoCC 2014 describe the
  * large-star/small-star contraction). Each round is one shuffle join
  * (propagate labels across edges) plus one shuffle aggregate (min label
  * per node); rounds to converge = graph diameter. Near-dup graphs are
  * dense small clusters — single-digit diameter — so a handful of rounds
  * suffices; when a pathological chain graph trips `maxIters`, the
  * computation hands off to [[connectedComponentsStar]]'s contraction
  * (log-round) instead of failing.
  *
  * Scale notes: labels are cut at a [[graft.Seam]] every round (labels
  * feed both the union and the propagate join), and each superseded
  * round's blocks are released as soon as the next round materializes.
  * The seam's doc says why a cut and not `persist`, and where a reliable
  * checkpoint for preemptible executors would go.
  */
object Cluster {

  /** The undirected edge set of the pair graph `(aCol, bCol)`: distinct
    * `(src, dst)` in both directions. Both directions come from one
    * explode, NOT a self-union: a union of two selects over `pairs` is two
    * separate subtrees, so the (often expensive — MinHash banding)
    * pair-producing pipeline would execute twice before the caller's
    * persist or cut ever kicks in. Self-loops are kept; callers that drop
    * them filter `pairs` first. */
  private[operators] def undirectedEdges(pairs: DataFrame, aCol: String,
                                         bCol: String): DataFrame =
    pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Connected components of the undirected pair graph `(aCol, bCol)`.
    * Returns one row per node that appears in at least one pair:
    * `(idOut, repOut)` with `repOut` = min node id in the component.
    * Singleton documents (no pairs) are absent by construction — callers
    * wanting keep/drop over the full corpus left-join this result and
    * coalesce the representative to the document's own id. Deterministic:
    * min-label is independent of propagation order. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", idOut: String = "doc_id",
                          repOut: String = "cluster_rep",
                          maxIters: Int = 25): DataFrame = {
    val edges = undirectedEdges(pairs, aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed labels with min(own id, min neighbor id): the same single
    // shuffle a distinct-nodes init would cost, but it bakes in the first
    // propagation round — for the common near-dup shape (star/pair
    // clusters whose min id is adjacent to every member) this converges at
    // init and the loop body runs once, purely as the convergence proof
    val seedPlan = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label"))
    // convergence probe: labels only ever decrease and the node set is
    // fixed (every dst is also a src by symmetry), so the exact label sum
    // is strictly decreasing until the fixpoint — an unchanged sum IS
    // convergence. One narrow scan of the checkpointed labels per round,
    // where a changed-rows join would re-shuffle both label sets.
    // The sum probe is only sound for integral ids: casting a string/UUID
    // label to decimal yields NULL for every row, so prev==next==NULL from
    // round 1 and the loop would declare convergence after one iteration,
    // silently returning wrong components. Non-integral ids fall back to
    // the join-based changed-rows count (correct for any orderable type).
    val integralIds = seedPlan.schema("label").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // The label sum rides the round's cut. NULL sum over a NON-EMPTY label
    // set means overflow (non-ANSI NULL), not a fixpoint — fail loudly
    // rather than silently converging on garbage.
    def cutWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) =
      if (!integralIds) (Seam.cut(df), null)
      else {
        val (ck, m) = Seam.cut(df,
          sum(col("label").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        val s = m.getAs[java.math.BigDecimal]("s")
        if (s == null) {
          require(m.getAs[Long]("n") == 0L,
            "connectedComponents: label sum overflowed decimal(38,0); " +
              "convergence probe unusable for this id range")
          (ck, java.math.BigDecimal.ZERO) // empty label set
        } else (ck, s)
      }
    val seeded = cutWithSum(seedPlan)
    var labels = seeded._1
    var prevSum = seeded._2
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val propagated = edges
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      if (integralIds) {
        val (next, nextSum) = cutWithSum(
          labels.unionByName(propagated).groupBy("id").agg(min("label").as("label")))
        converged = prevSum != null && nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        Seam.release(labels) // next is materialized; the old round's blocks are dead
        labels = next
      } else {
        val next = Seam.cut(labels.unionByName(propagated)
          .groupBy("id").agg(min("label").as("label")))
        val changed = next.as("n")
          .join(labels.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.label") =!= col("p.label"))
          .limit(1).count() // limit(1): existence probe, not a full count
        converged = changed == 0L
        Seam.release(labels) // after the probe join — it read the old labels
        labels = next
      }
      iters += 1
    }
    if (!converged) {
      // diameter exceeded the propagation bound (a chain-shaped component,
      // not the dense near-dup shape): hand off to star contraction, whose
      // round count is logarithmic in component size instead of linear in
      // diameter. The edge set is already materialized, so the fallback
      // costs no re-derivation of the (often expensive) pair pipeline.
      // fresh round budget: the propagation bound it just exhausted says
      // nothing about contraction rounds, which grow with log²(n), not
      // diameter — 64 covers any graph that fits in storage
      Seam.release(labels) // propagation's last round is abandoned wholesale
      val star = starContract(
        edges.select(col("src").as("u"), col("dst").as("v")),
        math.max(maxIters, 64))
      val out = Seam.cut(
        star.select(col("id").as(idOut), col("label").as(repOut)))
      edges.unpersist()
      return out
    }
    edges.unpersist()
    labels.select(col("id").as(idOut), col("label").as(repOut))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): converges in O(log²) rounds regardless of component
    * diameter, where min-label propagation needs diameter rounds. The
    * per-round constant is higher (two grouped steps instead of one
    * propagate join), so [[connectedComponents]] uses propagation first and
    * falls back here only when the diameter bound trips.
    *
    * Same contract as [[connectedComponents]]: one row per node appearing
    * in at least one pair, labeled with the component's min node id. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "a",
                              bCol: String = "b", idOut: String = "doc_id",
                              repOut: String = "cluster_rep",
                              maxIters: Int = 25): DataFrame = {
    val bi = Seam.cut(undirectedEdges(pairs, aCol, bCol).toDF("u", "v"))
    starContract(bi, maxIters)
      .select(col("id").as(idOut), col("label").as(repOut))
  }

  /** Core star contraction over an already-bidirected, distinct edge set. */
  private def starContract(bi: DataFrame, maxIters: Int): DataFrame = {
    // every node of the pair graph, including self-pair-only nodes — the
    // final star edges name every non-root node exactly once, so roots and
    // self-loop singletons are restored by a left join at the end
    val nodes = Seam.cut(bi.select(col("u").as("id")).distinct())

    // set signature for convergence: (count, sum of a 64-bit edge hash) —
    // order/partitioning invariant, one narrow scan. The potential function
    // of the star steps strictly decreases until the fixpoint, so an
    // unchanged edge set after a full large+small round IS convergence.
    // Like the propagation loop's sum probe, the signature rides the cut.
    def cutWithSig(df: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      val (ck, m) = Seam.cut(df, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("h"))
      (ck, (m.getLong(0), m.getDecimal(1)))
    }

    // one undirected edge per unordered pair, no self-loops
    val init = cutWithSig(bi.filter(col("u") < col("v")))
    var edges = init._1

    def bidirect(df: DataFrame): DataFrame =
      df.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))

    // large-star(u): m = min(Γ(u) ∪ {u}); connect every neighbor v > u to m.
    // No distinct here: the composed smallStar's groupBy-min and final
    // distinct are duplicate-insensitive, so deduping the intermediate edge
    // set would only spend an extra shuffle per round to shrink a frame the
    // next step collapses anyway.
    def largeStar(df: DataFrame): DataFrame = {
      val b = bidirect(df)
      val mins = b.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      b.join(mins, "u").filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
    }

    // small-star(u): over neighbors v <= u, m = min; connect N ∪ {u} to m
    def smallStar(df: DataFrame): DataFrame = {
      val b = bidirect(df).filter(col("v") <= col("u"))
      val mins = b.groupBy("u").agg(min(col("v")).as("m"))
      b.join(mins, "u")
        .select(explode(array(col("v"), col("u"))).as("x"), col("m"))
        .filter(col("x") =!= col("m"))
        .select(least(col("x"), col("m")).as("u"),
          greatest(col("x"), col("m")).as("v")).distinct()
    }

    var prev = init._2
    var converged = prev._1 == 0L // an edge-free graph is already done
    var iters = 0
    while (!converged && iters < maxIters) {
      val round = cutWithSig(smallStar(largeStar(edges)))
      Seam.release(edges) // the new round is materialized; retire the old one
      edges = round._1
      val sig = round._2
      converged = sig == prev
      prev = sig
      iters += 1
    }
    require(converged,
      s"connectedComponentsStar: no fixpoint after $maxIters rounds")
    // fixpoint edges form stars (root, member) with root = component min,
    // canonicalized u < v: u IS the root. Roots/singletons label themselves.
    val labels = edges.select(col("v").as("id"), col("u").as("label"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** PageRank over the undirected pair graph (Page/Brin/Motwani/Winograd,
    * "The PageRank Citation Ranking", Stanford 1999) — the graph-centrality
    * signal of a dedup pipeline: within a near-dup cluster, high-degree
    * hub documents rank above leaf variants, a keep-decision input
    * complementary to [[connectedComponents]]'s min-id representative.
    *
    * Runs a FIXED number of unrolled rounds so the result is a pure
    * function of the graph (an oracle can restate the identical rounds;
    * fixpoint detection would make row values depend on a convergence
    * tolerance). Each round is one shuffle join (push `pr/deg` mass along
    * edges) plus one shuffle aggregate keyed the same way — at any scale
    * the round cost is two exchanges over the edge frame, and ranks are
    * cut at a [[graft.Seam]] between rounds (as in
    * [[connectedComponents]]). Per-node in-mass sums ride the decimal
    * carrier, so ranks are partition-order invariant — identical on 1
    * executor or 1000. Teleport mass is written `(1.0 - damping)` on BOTH
    * engine and oracle sides: the IEEE subtraction, not a rounded literal,
    * keeps the constants bit-identical.
    *
    * Returns one row per node appearing in at least one pair:
    * `(idOut, deg, pr)`. Symmetric edges mean every node has in-edges, so
    * no dangling-mass correction is needed. */
  def pagerank(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
               iters: Int = 3, damping: Double = 0.85,
               idOut: String = "doc_id"): DataFrame = {
    require(iters >= 1, s"pagerank: iters must be >= 1, got $iters")
    val edges = undirectedEdges(pairs, aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    // node count as a broadcast 1-row frame: keeps the whole computation
    // lazy (no driver-synchronous count action before execution)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    var pr = Seam.cut(deg.crossJoin(broadcast(nNodes))
      .select(col("node"), col("deg"), col("n_nodes"),
        (lit(1.0) / col("n_nodes")).as("pr")))
    var round = 0
    while (round < iters) {
      val mass = pr.join(edges, pr("node") === edges("src"))
        .select(col("dst"),
          (col("pr") / col("deg")).cast("decimal(28,14)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
      val prev = pr
      pr = Seam.cut(pr.select(col("node"), col("deg"), col("n_nodes"))
        .join(mass, col("node") === col("dst"))
        .select(col("node"), col("deg"), col("n_nodes"),
          ((lit(1.0) - lit(damping)) / col("n_nodes") +
            lit(damping) * col("mass").cast("double")).as("pr")))
      Seam.release(prev)
      round += 1
    }
    edges.unpersist(blocking = false)
    pr.select(col("node").as(idOut), col("deg"), col("pr"))
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", JACM 1999) over the near-dup pair graph —
    * the centrality signal that separates a boilerplate TEMPLATE (high
    * authority: many near-copies point at it) from the copies around it.
    *
    * Determinism: the iterations are UNNORMALIZED — with h0 = 1 and an
    * integer adjacency, round r's scores are exact walk COUNTS
    * (a_r = A^(2r-1)·1, h_r = A^(2r)·1), so the whole computation is
    * BIGINT arithmetic with no float-normalization divergence channel;
    * the per-round normalization constant scales every node equally, so
    * rankings are unchanged by dropping it. Bound: scores <= d_max^(2r),
    * far inside int64 for near-dup graphs (d_max is the largest dup
    * family; 10^4-wide families at r=2 still fit).
    *
    * Scale shape: per round, one join of the edge frame against the
    * vector frame + one hash aggregate — the same shuffle budget as a
    * pagerank round; a [[graft.Seam]] cut truncates the lineage per round
    * (as in pagerank). */
  def hits(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
           iters: Int = 2, idOut: String = "doc_id"): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val edges = undirectedEdges(pairs, aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    var hub = Seam.cut(deg.select(col("node"), lit(1L).as("hub")))
    var auth: DataFrame = null
    var round = 0
    while (round < iters) {
      val prevHub = hub
      val prevAuth = auth
      auth = Seam.cut(edges.join(hub, edges("src") === hub("node"))
        .groupBy(edges("dst")).agg(sum(col("hub")).as("auth"))
        .withColumnRenamed("dst", "node"))
      hub = Seam.cut(edges.join(auth, edges("dst") === auth("node"))
        .groupBy(edges("src")).agg(sum(col("auth")).as("hub"))
        .withColumnRenamed("src", "node"))
      Seam.release(prevHub)
      if (prevAuth != null) Seam.release(prevAuth)
      round += 1
    }
    // materialize deg BEFORE releasing edges: deg is a lazy aggregate over
    // the persisted edge frame, and unpersisting first would force the
    // whole explode+distinct subtree to recompute at the caller's action
    val degC = Seam.cut(deg)
    val out = degC.join(auth, Seq("node")).join(hub, Seq("node"))
      .select(col("node").as(idOut), col("deg"),
        col("auth").cast("long").as("auth"), col("hub").cast("long").as("hub"))
    edges.unpersist(blocking = false)
    out
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, "Near
    * linear time algorithm to detect community structures in large-scale
    * networks", Phys. Rev. E 2007) — community detection over the
    * similarity graph, the signal that separates boilerplate FAMILIES
    * (dense near-dup communities) from incidental pair links that
    * connected components would glue together.
    *
    * Runs a FIXED number of synchronous rounds (same rationale as
    * [[pagerank]]: a pure function of the graph that an oracle can unroll;
    * async/fixpoint variants make results order-dependent). Each round is
    * one shuffle join (push labels along edges) plus a two-level aggregate:
    * neighbor-label counts, then per-node argmax with count-desc /
    * label-asc tie-break — fully deterministic, integer-only. Labels are
    * cut at a [[graft.Seam]] between rounds (as in [[connectedComponents]]);
    * per-round cost is two exchanges over the edge frame at any scale.
    *
    * Returns one row per node: `(idOut, community, community_size)`. */
  def labelPropagation(pairs: DataFrame, aCol: String = "a",
                       bCol: String = "b", iters: Int = 3,
                       idOut: String = "doc_id"): DataFrame = {
    require(iters >= 1, s"labelPropagation: iters must be >= 1, got $iters")
    val edges = undirectedEdges(pairs.filter(col(aCol) =!= col(bCol)), aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lab = Seam.cut(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab")))
    var round = 0
    while (round < iters) {
      val prev = lab
      lab = Seam.cut(edges.join(lab, edges("src") === lab("node"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min_by(col("lab"), struct((-col("c")).as("nc"), col("lab")))
          .as("lab"))
        .select(col("dst").as("node"), col("lab")))
      Seam.release(prev)
      round += 1
    }
    edges.unpersist(blocking = false)
    // community sizes: an aggregate over one-row-per-node — bounded by the
    // node frame, never the edge frame
    val sizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
    lab.join(sizes, Seq("lab"))
      .select(col("node").as(idOut), col("lab").as("community"),
        col("community_size"))
  }
}
