package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators over edge lists — Spark-first: each
  * iteration is a plain join + map-side-combining aggregate, and the
  * evolving per-node state is re-staged every round to SEVER the lineage
  * (the classic requirement of iterative dataflow on Spark: without it,
  * iteration k's plan re-derives all k−1 predecessors and the DAG grows
  * without bound; a checkpoint/staging write makes every round O(1) plan
  * depth).
  */
object Graph {

  /** Connected components by min-label propagation: every node starts
    * labeled with itself; each round every node takes the minimum label
    * among itself and its neighbors; fixpoint when no label changes.
    * Output: one row per node appearing in `edges` — (`id`, `cluster`),
    * cluster = the component's minimum node id (deterministic canonical
    * representative).
    *
    * Scale: each round shuffles the (node,label) frame once on the join
    * key and combines the min() map-side; rounds needed = the graph
    * diameter. Near-dup graphs are clique-like (tiny diameter), so 2-3
    * rounds close them. For adversarially long chains at extreme scale,
    * the star-contraction variants (large-star/small-star, Kiveris et
    * al.) drop the round count to O(log n) — same per-round dataflow,
    * different neighbor rule — without changing this interface.
    *
    * The per-round `count` of changed labels is the only driver-side
    * value (a scalar aggregate — the standard iterative convergence
    * check, not a data collect).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // NOTE: if maxIter rounds pass without reaching the fixpoint (a
    // component with diameter > maxIter), the labels returned are the
    // partially-propagated state — raise maxIter for high-diameter
    // graphs (near-dup graphs are clique-like and converge in 2-3).
    val und = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .union(edges.select(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b")))
    // stage the (small) edge frame once: it is re-read every round, and
    // its producing plan may be an expensive dedup pipeline. It is
    // staged in the layout that plan leaves: a hash layout does not
    // survive the checkpoint under AQE (the staged scan reports
    // UnknownPartitioning and every round join re-exchanges it), so a
    // repartition in front of the stage adds a shuffle and elides none.
    val ust = Staging.stage(und, "cc_edges")
    val u = ust.df
    // Seed = the FIRST propagation round folded into initialization:
    // label(x) = min over {x} ∪ neighbors(x), one aggregate over the
    // edge list (no separate node-list job). Clique-like components
    // converge at seed, so the loop below only confirms the fixpoint.
    val seed = u.groupBy(col("a").as("id"))
      .agg(min(least(col("a"), col("b"))).as("label"))
    var cur = Staging.stage(seed, "cc_labels_0")
    // Convergence check: labels only ever DECREASE, so the global label
    // sum is strictly monotone and "sum unchanged" ⟺ fixpoint — one
    // scalar aggregate per round, no old-vs-new compare join.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).collect()(0).getLong(0)
    var curSum = labelSum(cur.df)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // one shuffle join + one map-side-combining min aggregate per
      // round: each node's new label = min over {itself} ∪ neighbor
      // labels, expressed as a union so no second join is needed to
      // carry the node's own label
      val next = cur.df
        .unionByName(u.join(cur.df.withColumnRenamed("id", "b2"), col("b") === col("b2"))
          .select(col("a").as("id"), col("label")))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      val staged = Staging.stage(next, s"cc_labels_${i + 1}")
      val nextSum = labelSum(staged.df)
      converged = nextSum == curSum
      curSum = nextSum
      cur.delete()
      cur = staged
      i += 1
    }
    val out = cur.df.select(col("id"), col("label").as("cluster"))
    ust.delete()
    out
  }

  /** Connected components by STAR CONTRACTION (alternating large-star /
    * small-star, Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the high-diameter scale path
    * [[connectedComponents]]'s doc names: label propagation needs
    * diameter-many rounds (a 10⁶-node chain = 10⁶ rounds), star
    * contraction converges in O(log n) alternating rounds on any graph
    * because each pair of rounds contracts paths toward component minima
    * geometrically. Same interface and output as
    * [[connectedComponents]]: (`id`, `cluster`) for every node appearing
    * in `edges`, cluster = component minimum.
    *
    *   - large-star: every node u emits, for each STRICTLY LARGER
    *     neighbor v, the edge (v, m(u)) where m(u) = min({u} ∪ N(u)) —
    *     hanging big neighbors off the local minimum.
    *   - small-star: every node u emits, for its ≤-neighbors and itself,
    *     edges to m̃(u) = min({u} ∪ {v ∈ N(u) : v < u}) — compressing
    *     multi-hop tails.
    *
    * At the fixpoint the edge set is a union of stars rooted at
    * component minima, so labels read directly off the edges. Each
    * half-round is one shuffle aggregate (per-node min) + one shuffle
    * join, staged via [[Staging]] for O(1) plan depth — identical
    * per-round dataflow cost to a label-propagation round; only the
    * ROUND COUNT differs.
    *
    * Convergence check: edge count + sum of xxhash64(a, b) over the
    * (distinct) edge set, two scalar aggregates per round — an unchanged
    * (count, hash-sum) pair across a full large+small round means an
    * unchanged star set (a hash-sum collision between different
    * same-size edge sets is a 2⁻⁶⁴-scale event; `GraphSpec` proves
    * result-equality against label propagation on random graphs
    * independently of this check).
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 50): DataFrame =
    ccStarWithRounds(edges, srcCol, dstCol, maxIter)._1

  /** [[connectedComponentsStar]] + the number of large+small rounds it
    * ran (spec hook for the O(log n) convergence guarantee).
    */
  private[graft] def ccStarWithRounds(edges: DataFrame, srcCol: String, dstCol: String,
                                      maxIter: Int = 50): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val init = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    // nodes that only ever appear as a component minimum would vanish
    // from a star edge set rooted at them — remember the full node set
    // once so the final projection covers roots and (post-contraction)
    // isolated survivors alike
    val und0 = init.union(init.select(col("b").as("a"), col("a").as("b")))
    val nodes = Staging.stage(und0.select(col("a").as("id")).distinct(), "ccs_nodes")

    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))

    // large-star: (v, m(u)) for every neighbor v > u. No distinct here:
    // its consumer is smallStar, whose min-aggregates are duplicate-
    // insensitive and whose own output dedups — the input to each
    // largeStar is a smallStar output, so duplicates never compound
    // across rounds, and dropping the dedup saves a shuffle per round.
    def largeStar(e: DataFrame): DataFrame = {
      val und = undirected(e)
      val m = und.groupBy(col("a").as("u"))
        .agg(min(least(col("a"), col("b"))).as("m"))
      und.filter(col("b") > col("a"))
        .join(m, col("a") === col("u"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }

    // small-star: (v, m̃(u)) for every neighbor v < u, plus (u, m̃(u))
    def smallStar(e: DataFrame): DataFrame = {
      val und = undirected(e)
      val m = und.groupBy(col("a").as("u"))
        .agg(least(min(when(col("b") < col("a"), col("b"))), min(col("a"))).as("m"))
      und.filter(col("b") < col("a"))
        .select(col("b").as("v"), col("a").as("u"))
        .join(m, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("a"), col("b"))), lit(0L)).as("h")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    var cur = Staging.stage(init, "ccs_0")
    var sig = signature(cur.df)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = Staging.stage(smallStar(largeStar(cur.df)), s"ccs_${i + 1}")
      val nextSig = signature(next.df)
      converged = nextSig == sig
      sig = nextSig
      cur.delete()
      cur = next
      i += 1
    }
    // fixpoint edges are (child, root): every child labels with its
    // root; roots and contracted-away minima label with themselves
    val out = nodes.df
      .join(cur.df.select(col("a").as("id"), col("b").as("lbl")), Seq("id"), "left")
      .groupBy(col("id")).agg(coalesce(min(col("lbl")), min(col("id"))).as("cluster"))
    (out, i)
  }

  /** PageRank over an undirected edge list in EXACT integer fixed-point
    * arithmetic (scale 10^9, damping 85/100):
    *
    *   pr₀(v) = SCALE;  pr_{t+1}(v) = 15·SCALE/100 + (85 · Σ_{u~v} (pr_t(u) div deg(u))) div 100
    *
    * — all BIGINT floor divisions, so the result is deterministic under
    * any partitioning and engine-portable (the float formulation sums
    * contributions in partition order and never hash-matches across
    * engines). Fixed iteration count, the production norm for ranking.
    *
    * Per round: ONE shuffle join of the (node, pr, deg) state onto the
    * edge list + one map-side-combining sum — the same O(1)-plan-depth
    * staged-round shape as [[connectedComponents]]. Every node in an
    * undirected graph has degree ≥ 1, so there are no dangling-mass
    * corrections to apply; directed graphs with sinks are
    * [[pageRankDirected]], which adds the standard dangling
    * redistribution and reduces to this on symmetric edge sets.
    *
    * The use here: rank documents by centrality in the near-dup
    * similarity graph — high-rank nodes are the "template" documents
    * whose shape recurs across the corpus, exactly the ones corpus
    * curation wants to inspect.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val Scale = 1000000000L
    val und = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .union(edges.select(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b")))
    // staged once before the iteration loop, in its producing layout
    // (see the [[connectedComponents]] staging note)
    val ust = Staging.stage(und, "pr_edges")
    val u = ust.df
    val deg = u.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    var cur = Staging.stage(deg.select(col("id"), lit(Scale).as("pr"), col("deg")), "pr_0")
    for (i <- 1 to iterations) {
      val contrib = u
        .join(cur.df.withColumnRenamed("id", "a"), Seq("a"))
        .select(col("b").as("id"), expr("pr div deg").as("w"))
      val next = contrib.groupBy("id").agg(sum(col("w")).as("s"))
        .select(col("id"), (lit(15L * Scale / 100) + expr("(85 * s) div 100")).as("pr"))
        .join(cur.df.select("id", "deg"), Seq("id"))
      val staged = Staging.stage(next, s"pr_$i")
      cur.delete()
      cur = staged
    }
    val out = cur.df.select(col("id"), col("pr"))
    ust.delete()
    out
  }

  /** DIRECTED PageRank with DANGLING-MASS redistribution — the general
    * web-graph formulation [[pageRank]]'s undirected scope note names:
    * a sink (out-degree 0) keeps absorbing rank unless its mass is
    * returned to the graph, so each round the dangling sum D_t is
    * shared uniformly across all N nodes BEFORE damping:
    *
    *   pr_{t+1}(v) = 15·SCALE div 100
    *               + (85 · (Σ_{u→v} (pr_t(u) div outdeg(u)) + D_t div N)) div 100
    *
    * Same exact integer fixed-point discipline as [[pageRank]] (scale
    * 10^9, BIGINT floor divisions only) — deterministic under any
    * partitioning and replayable by an unrolled-CTE oracle (q119). On a
    * SYMMETRIC edge set (both directions present) there are no sinks,
    * D_t = 0, and this reduces to [[pageRank]] exactly — GraphSpec
    * asserts the equality, so the undirected results are unchanged by
    * construction.
    *
    * Per round: the same one-shuffle contribution join + map-side sum,
    * plus a 1-row dangling aggregate broadcast back (a scalar, like the
    * iterative convergence checks). N is a once-computed driver scalar.
    * Rank-mass conservation (Σ pr ≈ N·SCALE, up to floor-division
    * remainders) is the spec's invariant.
    */
  def pageRankDirected(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val Scale = 1000000000L
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // staged once before the iteration loop, in its producing layout
    // (see the [[connectedComponents]] staging note)
    val est = Staging.stage(e, "prd_edges")
    val ed = est.df
    val nodes = ed.select(col("src").as("id"))
      .union(ed.select(col("dst").as("id"))).distinct()
    val outdeg = ed.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val state0 = nodes.join(outdeg, Seq("id"), "left")
      .select(col("id"), lit(Scale).as("pr"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    var cur = Staging.stage(state0, "prd_0")
    val n = cur.df.count() // node count: fixed across rounds
    for (i <- 1 to iterations) {
      val dang = cur.df.filter(col("outdeg") === 0)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
      val contrib = ed
        .join(cur.df.select(col("id").as("src"), col("pr"), col("outdeg")), Seq("src"))
        .select(col("dst").as("id"), expr("pr div outdeg").as("w"))
        .groupBy("id").agg(sum(col("w")).as("s"))
      val next = cur.df.select("id", "outdeg")
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (lit(15L * Scale / 100) +
            expr(s"(85 * (coalesce(s, 0) + dang div $n)) div 100")).as("pr"),
          col("outdeg"))
      val staged = Staging.stage(next, s"prd_$i")
      cur.delete()
      cur = staged
    }
    val out = cur.df.select(col("id"), col("pr"))
    est.delete()
    out
  }

  /** Exact triangle count by DEGREE-ORDERED edge orientation (the
    * node-iterator++ algorithm): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, build wedges at each
    * pivot's out-neighborhood, and close them against the canonical edge
    * set. Each triangle has exactly one node with out-edges to the other
    * two under this orientation, so it is counted exactly once.
    *
    * The degree ordering is the scale lever: out-degrees are bounded by
    * O(√|E|) on any graph, so the wedge join's fan-out — the quadratic
    * danger of a naive a<b<c self-join on a hub node — is capped; the
    * closure check is a semi-join against the edge set. Returns one row:
    * (n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cst = Staging.stage(canon, "tri_edges")
    val e = cst.df
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    // orient u→v iff (deg(u), u) < (deg(v), v)
    val withDeg = und
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
    val oriented = withDeg.filter(
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
    // wedges at pivot u: unordered out-neighbor pairs (v, w), v < w in
    // canonical id order so the closing edge lookup is canonical too
    val wedges = oriented.select(col("u"), col("v"))
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    val closed = wedges.join(
      e.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"), "left_semi")
    val out = closed.agg(count(lit(1)).as("n_triangles"))
    out
  }

  /** k-core extraction by iterative peeling: repeatedly delete nodes
    * whose degree within the surviving subgraph is < k; the fixpoint is
    * the (unique, order-independent) maximal subgraph with minimum
    * degree k — the standard "dense enough to matter" filter for dedup/
    * similarity graphs (peripheral one-off matches peel away; cores
    * survive).
    *
    * Runs EXACTLY `rounds` peeling rounds with no early exit: peeling
    * is idempotent at the fixpoint, so a converged graph is unchanged
    * by extra rounds, and a FIXED round count lets a SQL oracle replay
    * the loop as a static chain of CTEs (the [[graft.operators.Bpe]]
    * pattern). On clique-like near-dup graphs convergence takes 1-2
    * rounds; raise `rounds` for stringy graphs (each round deletes at
    * least the current lowest-degree shell).
    *
    * Per round: one semi-join of the staged edge list against the alive
    * set per endpoint + one map-side-combining count — all shuffles on
    * the node key, staged via [[Staging]] so plan depth stays O(1).
    * Output: (id, core_deg) for surviving nodes, degree measured inside
    * the surviving subgraph.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cst = Staging.stage(canon, "kcore_edges")
    val und = cst.df.union(cst.df.select(col("b").as("a"), col("a").as("b")))
    var alive = Staging.stage(und.select(col("a").as("id")).distinct(), "kcore_alive_0")
    var deg: DataFrame = null
    for (r <- 1 to rounds) {
      val d = und
        .join(alive.df.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(alive.df.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .groupBy(col("a").as("id")).agg(count(lit(1)).as("core_deg"))
      val next = Staging.stage(d.filter(col("core_deg") >= k), s"kcore_alive_$r")
      alive.delete()
      alive = next
      deg = next.df
    }
    val out = deg.select(col("id"), col("core_deg"))
    cst.delete()
    out
  }

  /** Per-node local clustering coefficient in exact milli units:
    * `1000 · 2·tri(v) / (deg(v)·(deg(v)−1))` — how clique-like each
    * node's neighborhood is. On a dedup graph this separates true
    * duplicate CLUSTERS (coefficient → 1000: everything matches
    * everything) from chain artifacts of transitive near-dup edges
    * (coefficient → 0: a should-not-merge chain), the standard signal
    * for auditing CC-based dedup before collapsing clusters.
    *
    * Triangles enumerate once each via the degree-ORIENTED wedge join
    * ([[triangleCount]]'s O(√E) fan-out bound), then explode to their
    * three corners for the per-node count; degrees and the division are
    * exact integers. Nodes of degree < 2 report coefficient 0.
    */
  def clusteringCoeff(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cst = Staging.stage(canon, "cc_coeff_edges")
    val e = cst.df
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
    val oriented = withDeg.filter(
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
    val wedges = oriented.select(col("u"), col("v"))
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    val closed = wedges.join(
      e.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"), "left_semi")
    val perNode = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left_outer")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2L,
          expr("(2000 * coalesce(n_tri, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coeff_mb"))
  }

  /** Multi-source BFS hop distance: for every node reachable within
    * `rounds` hops of ANY seed, the minimum hop count — the "distance
    * from trusted/curated seeds" signal graph-based corpus curation
    * ranks by (near-seed documents inherit trust; far ones get
    * down-weighted). Nodes not reached within `rounds` hops emit no
    * row (distance unknown, not infinite).
    *
    * Runs EXACTLY `rounds` relaxation rounds (idempotent once all
    * shortest paths are found — distances only ever decrease), so a SQL
    * oracle replays the loop as a static CTE chain. Per round: one
    * shuffle join (frontier against the staged edge list) + one
    * map-side-combining min — the [[connectedComponents]] round shape;
    * distances propagate like labels but ADD one per hop.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // stage the UNDIRECTED list once: each relaxation round re-reads it
    // directly instead of re-deriving the union per round (see the
    // [[connectedComponents]] staging note)
    val cst = Staging.stage(
      canon.union(canon.select(col("b").as("a"), col("a").as("b"))), "bfs_edges")
    val und = cst.df
    var cur = Staging.stage(
      seeds.select(col(seedCol).cast("long").as("id")).distinct()
        .withColumn("d", lit(0L)),
      "bfs_d0")
    for (r <- 1 to rounds) {
      val relaxed = cur.df.unionByName(
        und.join(cur.df.withColumnRenamed("id", "b2"), col("b") === col("b2"))
          .select(col("a").as("id"), (col("d") + 1L).as("d")))
      val next = Staging.stage(
        relaxed.groupBy("id").agg(min(col("d")).as("d")), s"bfs_d$r")
      cur.delete()
      cur = next
    }
    val out = cur.df.select(col("id"), col("d").as("hops"))
    cst.delete()
    out
  }
}
