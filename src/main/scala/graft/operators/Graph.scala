package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MaterializeOps

/** Distributed graph measures over edge lists — the web/citation-graph
  * side of corpus curation (rank-weighted sampling, link-spam triage).
  * Companion to the connected-components clustering in [[Dedup]].
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic: ranks are longs in
  * units of `scale`⁻¹, each update is `base + (dampNum · Σ contrib) div
  * dampDen` with integral division throughout. Float PageRank diverges
  * across engines in the last ulp (sum order); the integer form is
  * bit-identical everywhere — Spark, a SQL oracle, a retry on another
  * cluster — which is what lets a 100 TB curation run checkpoint ranks
  * and resume without drift. Precision loss vs float is ≤ deg/scale per
  * node per round — noise at `scale` = 10¹².
  *
  * Scale shape: each iteration is one equi-join of edges to the current
  * ranks (shuffle on src), one aggregate (shuffle on dst), one left join
  * back to the node set — all key-partitioned, no broadcast of anything
  * that grows with the graph. Every iterative measure here runs on
  * [[Materialize.iterate]], the one superstep loop (shared with
  * [[Dedup.connectedComponents]]), which pins the round state so
  * iteration depth never compounds into Catalyst plan blowup —
  * `localCheckpoint` locally, reliable `checkpoint()` when the session
  * has a checkpoint dir (see [[Materialize]] for the executor-loss
  * tradeoff at cluster scale).
  */
object Graph {

  /** Degree above which an UNCAPPED [[jaccardLinkPrediction]] call
    * refuses by name: the wedge join costs Σ deg² over centers, so one
    * hub past this bound (~1e10 wedges from that node alone) turns a
    * default-arg call into an effective hang. Explicit-cap callers and
    * the `Int.MaxValue - 1` opt-in never hit the probe. */
  val JaccardUncappedHubProbeBound: Long = 100000L

  /** Total-wedge bound for the same probe: Σ deg² over all centers —
    * the wedge join's exact row count — past this is hang-scale even
    * when no single node trips the per-node bound (e.g., hundreds of
    * near-100k-degree hubs). 10¹¹ wedges ≈ the work the per-node bound
    * already deems unacceptable from one 3·10⁵-degree hub. */
  val JaccardUncappedWedgeBound: BigInt = BigInt("100000000000")

  /** Ranks after `iterations` synchronous rounds, starting uniform.
    * `edges` is a directed edge list; dangling nodes (no out-edges) are
    * allowed — their mass simply decays (the caller can add reverse edges
    * for the undirected reading, which also removes danglers). Returns
    * `(node_id, rank)` where node ids are every distinct src or dst. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int, scale: Long = 1000000000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    pageRankIntFrom(edges, srcCol, dstCol, iterations, scale, dampNum,
      dampDen, teleport = None)

  /** Personalized PageRank: the teleport mass restarts at `teleport`'s
    * node set instead of uniformly — rank becomes proximity TO THE SEEDS
    * (crawl frontier prioritization from trusted hosts, related-item
    * ranking from a user's history; public algorithm, same fixed-point
    * integer arithmetic as [[pageRankInt]] so it replays bit-identically).
    * Seeds also start with all the initial mass; non-seeds start (and
    * restart) at zero base. `teleport` is one id column; seeds outside
    * the graph's node set are ignored (inner join). */
  def personalizedPageRankInt(edges: DataFrame, srcCol: String,
                              dstCol: String, teleport: DataFrame,
                              iterations: Int,
                              scale: Long = 1000000000000L,
                              dampNum: Long = 85L,
                              dampDen: Long = 100L): DataFrame =
    pageRankIntFrom(edges, srcCol, dstCol, iterations, scale, dampNum,
      dampDen, teleport = Some(teleport))

  private def pageRankIntFrom(edges: DataFrame, srcCol: String,
                              dstCol: String, iterations: Int, scale: Long,
                              dampNum: Long, dampDen: Long,
                              teleport: Option[DataFrame]): DataFrame = {
    require(iterations >= 0 && dampDen > 0 && dampNum >= 0 &&
      dampNum <= dampDen && scale > 0, "bad pageRank parameters")
    // materialize the edge list ONCE: without this every derivation below
    // (node set, degrees, the per-round rank join) re-executes the
    // caller's upstream plan — for gr01 an orders⋈lineitem distinct,
    // 2·iterations+2 times over
    val e = edges.select(col(srcCol).cast("long").as("_src_"),
      col(dstCol).cast("long").as("_dst_")).materializeRound()
    val nodes = e.select(col("_src_").as("node_id"))
      .union(e.select(col("_dst_").as("node_id")))
      .distinct().materializeRound()
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    // per-node initial mass and restart base: uniform in the classic
    // form; concentrated on the (graph-restricted) seed set when
    // personalized — non-seeds start and restart at zero
    val seeds = teleport.map(t => t.select(col(t.columns.head).cast("long")
      .as("node_id")).distinct().join(nodes, "node_id").materializeRound())
    val s = seeds.fold(n)(_.count())
    require(s > 0, "personalized pageRank: no teleport seed is in the graph")
    val init = scale / s
    val base = ((dampDen - dampNum) * init) / dampDen
    val nodesWB = seeds match {
      case None => nodes.select(col("node_id"), lit(init).as("_init_"), lit(base).as("_base_"))
      case Some(sd) =>
        val w = when(col("_isSeed_").isNotNull, 1L).otherwise(0L)
        nodes.join(sd.withColumn("_isSeed_", lit(1)), Seq("node_id"), "left")
          .select(col("node_id"), (w * init).as("_init_"), (w * base).as("_base_"))
          .materializeRound()
    }
    val deg = e.groupBy("_src_").agg(count(lit(1)).as("_deg_"))
    // repartitioned on the join key and cached, so each round's rank join
    // reads the edge side in place: a checkpoint would not do, as under
    // AQE its scan reports unknown partitioning. The first round fills it.
    val edgesWithDeg = e.join(deg, "_src_").repartition(col("_src_")).persist()
    try Materialize.iterate("pageRank",
        nodesWB.select(col("node_id"), col("_init_").as("rank")),
        iterations) { (ranks, _, _) =>
      val contrib = edgesWithDeg
        .join(ranks, col("_src_") === col("node_id"))
        .select(col("_dst_").as("node_id"), expr("rank div _deg_").as("_c_"))
        .groupBy("node_id").agg(sum(col("_c_")).as("_in_"))
      nodesWB.join(contrib, Seq("node_id"), "left")
        .select(col("node_id"), (col("_base_") +
          expr(s"($dampNum * coalesce(_in_, 0L)) div $dampDen")).as("rank"))
    } finally edgesWithDeg.unpersist()
  }

  /** Degree summary per node over a directed edge list: out-degree,
    * in-degree, and distinct neighbor counts — the cheap structural
    * profile (one aggregate per direction, outer-merged). */
  def degreeStats(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val out = edges.groupBy(col(srcCol).cast("long").as("node_id"))
      .agg(count(lit(1)).as("out_degree"),
        countDistinct(col(dstCol)).as("out_distinct"))
    val in = edges.groupBy(col(dstCol).cast("long").as("node_id"))
      .agg(count(lit(1)).as("in_degree"),
        countDistinct(col(srcCol)).as("in_distinct"))
    out.join(in, Seq("node_id"), "full_outer")
      .select(col("node_id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("out_distinct"), lit(0L)).as("out_distinct"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("in_distinct"), lit(0L)).as("in_distinct"))
  }

  /** k-core of an undirected graph (Seidman 1983, public): the unique
    * maximal subgraph where every node keeps degree ≥ k — the standard
    * "dense kernel" cut for link-graph curation (spam farms and
    * long-tail leaf pages peel away; the core is what survives).
    *
    * Computed by DELTA peeling: the symmetric edge list is built, hashed
    * on its source endpoint, and checkpointed ONCE — it is never
    * re-filtered or re-aggregated. Per-round state is the NODE-sized
    * degree table: dropping frontier F only changes the degrees of F's
    * neighbors, so each round joins the fixed edge list against F (edges
    * incident to dropped nodes — the frontier's adjacency, not the whole
    * graph), aggregates the per-neighbor loss, and subtracts it from the
    * surviving degree rows. The fixpoint is order-independent (the
    * k-core is unique), so synchronous rounds are deterministic on any
    * engine/partitioning; pinning the node-sized table per round bounds
    * plan depth, and the frontier size rides that pin as the halt count.
    * Rounds needed = the peeling depth of the graph. `maxRounds` caps the loop
    * and `require`s convergence — an unconverged cut is a wrong answer,
    * not a best effort.
    *
    * The final degrees ARE the answer: a survivor's degree minus its
    * dropped neighbors is exactly its degree within the core, so no
    * final edge-list pass is needed.
    *
    * Input edges are canonicalized (undirected, dedup, self-loops
    * dropped). Returns (node_id, core_degree) for the surviving nodes:
    * core_degree = degree within the k-core, ≥ k by construction. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Long,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // pinned, not cached: the frontier join mostly broadcasts its small
    // side, so the adjacency's layout rarely matters here
    val adj = undirected(edges, srcCol, dstCol).materializeRound()
    // the frontier (sub-k rows) is the halt count, observed on the pin
    Materialize.iterate("kCore",
        adj.groupBy("_a_").agg(count(lit(1)).as("_deg_")), maxRounds,
        Some(_ => col("_deg_") < k)) { (deg, _, frontierCount) =>
      // the observed frontier size is a bounded broadcast hint: ≤1M ids
      // (~8 MB) broadcasts — the common case after round 1 — keeping the
      // adjacency join partition-local with no frontier exchange; a
      // bigger frontier stays on the shuffle path (a round-1 frontier at
      // 100 TB can be half the graph)
      val sub = deg.where(col("_deg_") < k).select("_a_")
      val frontier = if (frontierCount <= (1L << 20)) broadcast(sub) else sub
      // each dropped node's edges subtract one from each neighbor; edges
      // between two dropped nodes subtract from rows the filter below
      // removes anyway, so no double-count is possible
      val delta = adj.join(frontier, "_a_")
        .groupBy(col("_b_").as("_a_")).agg(count(lit(1)).as("_d_"))
      // survivors = deg rows NOT in the frontier: a plain filter
      deg.where(col("_deg_") >= k).join(delta, Seq("_a_"), "left")
        .select(col("_a_"),
          (col("_deg_") - coalesce(col("_d_"), lit(0L))).as("_deg_"))
    }.select(col("_a_").as("node_id"), col("_deg_").as("core_degree"))
  }

  /** The undirected reading of a directed edge list as long `(_a_, _b_)`
    * rows: both directions of every edge, self-loops dropped,
    * deduplicated, hash-partitioned on `_a_` so a join on `_a_` shuffles
    * only its other side once the caller caches it (under AQE a
    * checkpoint's scan reports unknown partitioning). Symmetrized by EXPLODE,
    * not a union of the input with itself, which would execute the
    * (possibly expensive) upstream edge plan twice; repartitioned FIRST,
    * because HashPartitioning(_a_) satisfies the (_a_, _b_) clustering
    * the distinct needs, so the dedup runs partition-local and the build
    * pays one full-edge shuffle instead of two. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val (a, b) = (col(srcCol).cast("long"), col(dstCol).cast("long"))
    edges.where(a =!= b)
      .select(explode(array(struct(a.as("_a_"), b.as("_b_")),
        struct(b.as("_a_"), a.as("_b_")))).as("_e_"))
      .select(col("_e_._a_").as("_a_"), col("_e_._b_").as("_b_"))
      .repartition(col("_a_")).distinct()
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007, public): every node starts labeled with its own id; each
    * round it adopts the label carried by the PLURALITY of its neighbors,
    * ties broken by the smallest label — which makes every round a pure
    * function of the previous labeling, so a fixed iteration count is
    * deterministic on any engine, any partitioning, any retry (the same
    * property the integer PageRank buys with fixed-point sums; here votes
    * are already integers). Communities ≈ trade/link clusters — the
    * coarse structure a curation run balances sampling across, where
    * [[Dedup.connectedComponents]] only separates disconnected islands.
    *
    * Input edges are symmetrized and deduplicated (undirected reading,
    * self-loops dropped): each undirected edge votes once in each
    * direction. Every node of the edge list has ≥ 1 neighbor by
    * construction, so each round relabels every node.
    *
    * Plan per round: one equi-join of the (cached, pre-partitioned)
    * edge list to current labels, one (node, label) count aggregate, one
    * per-node argmax window on the vote table — all shuffles keyed on
    * node id; the window partitions by node over ≤ degree rows, never a
    * global sort. Pinning every second round caps plan depth, the same
    * discipline as [[pageRankInt]]. Synchronous LPA can oscillate on
    * bipartite structure — callers pick `iterations` as a view, not a
    * fixpoint promise. Returns (node_id, label) after `iterations`
    * rounds. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val sym = undirected(edges, srcCol, dstCol).persist()
    val byVotes = Window.partitionBy("node_id").orderBy(col("_n_").desc, col("label"))
    try Materialize.iterate("labelPropagation",
        sym.select(col("_a_").as("node_id")).distinct()
          .withColumn("label", col("node_id")),
        iterations) { (labels, _, _) =>
      sym.join(labels, sym("_a_") === labels("node_id"))
        .groupBy(col("_b_").as("node_id"), col("label"))
        .agg(count(lit(1)).as("_n_"))
        .withColumn("_rn_", row_number().over(byVotes))
        .where(col("_rn_") === 1)
        .select(col("node_id"), col("label"))
    } finally sym.unpersist()
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected graph, via the DEGREE-ORDERED wedge join (Cohen's
    * MapReduce triangle plan / the Schank–Wagner forward algorithm).
    *
    * Input edges may be directed, duplicated, or self-looping — they are
    * canonicalized (`least/greatest`, self-loops dropped, distinct) first.
    * Each undirected edge is then ORIENTED from its lower-ranked endpoint
    * to its higher-ranked one, where rank = (degree, id) packed into one
    * long (`degree·2³² + id`; requires ids < 2³² and degrees < 2³¹ —
    * `require`d). Wedges are generated only at each edge's LOWER-ranked
    * endpoint, so per-node wedge fan-out is bounded by the oriented
    * out-degree ≤ O(√m) — the whole plan is Σ outdeg² ≈ m^1.5 worst case
    * instead of Σ deg² (which a hub node makes quadratic). At 100 TB this
    * is the difference between a skew-proof three-join plan and a hot-key
    * explosion: every join is a key-partitioned equi-join on node ids,
    * nothing is broadcast, and the one quadratic term is provably capped
    * by the orientation.
    *
    * All counting is integral; the only float is the final clustering
    * coefficient `2t / (d(d-1))` — two exact integers through one
    * correctly-rounded IEEE division, so results replay bit-identically
    * on any engine.
    *
    * Returns (node_id, degree, triangles, clustering) for every node of
    * the canonical graph. */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_a_"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_b_"))
      .where(col("_a_") < col("_b_"))
      .distinct()
      .materializeRound() // degrees + orientation + closure all re-read it
    val deg = canon.select(col("_a_").as("node_id"))
      .union(canon.select(col("_b_").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    // rank packing: degree·2^32 + id gives a total order where low-degree
    // nodes sort first (ties by id) — one long comparison per edge. The
    // id bound is enforced lazily inside the plan (no eager job here).
    val ranked = deg.select(
      when(col("node_id") >= lit(4294967296L) || col("node_id") < 0,
        raise_error(lit("triangleStats rank packing needs 0 <= id < 2^32")))
        .otherwise(col("node_id")).as("node_id"),
      // the degree bound the scaladoc promises: a mega-hub past 2^31
      // neighbors would wrap degree*2^32 NEGATIVE, sort as the LOWEST
      // rank, orient every one of its edges outward, and detonate the
      // wedge join with ~deg^2 rows — the exact hot key the orientation
      // exists to prevent
      (when(col("degree") >= lit(2147483648L),
        raise_error(concat(lit("triangleStats rank packing needs degree"),
          lit(" < 2^31, got "), col("degree").cast("string"))))
        .otherwise(col("degree")) * lit(4294967296L) + col("node_id"))
        .as("_rk_"))
    val oriented = canon
      .join(ranked.select(col("node_id").as("_a_"), col("_rk_").as("_rka_")), "_a_")
      .join(ranked.select(col("node_id").as("_b_"), col("_rk_").as("_rkb_")), "_b_")
      .select(
        when(col("_rka_") < col("_rkb_"), col("_a_")).otherwise(col("_b_")).as("u"),
        when(col("_rka_") < col("_rkb_"), col("_b_")).otherwise(col("_a_")).as("v"),
        greatest(col("_rka_"), col("_rkb_")).as("rkv"))
      .materializeRound() // read three times by the wedge + closure joins
    val wedges = oriented.select(col("u"), col("v").as("x"), col("rkv").as("rkx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("rkv").as("rky")), "u")
      .where(col("rkx") < col("rky"))
      .select(col("u"), col("x"), col("y"))
    val triangles = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node_id"), "left")
      .select(col("node_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          (coalesce(col("triangles"), lit(0L)) * 2L).cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Multi-source BFS hop distances: shortest hop count from ANY seed to
    * every node reachable within `maxHops` (crawl-depth labeling, seed
    * proximity tiers, link-spam distance-from-trust — the unweighted
    * companion to [[personalizedPageRankInt]]'s proximity mass).
    *
    * Synchronous frontier expansion: round i joins the CURRENT FRONTIER
    * (the nodes at distance i − 1, which are exactly the nodes first
    * reached in the previous round) to the edge list and min-merges
    * the results into the distance table, so each round is one
    * src-keyed equi-join plus one node-keyed aggregate — both
    * key-partitioned shuffles, nothing driver-sized. Joining only the
    * frontier (not the whole distance table) keeps round cost
    * proportional to the expanding wave, and the distance table is
    * pinned per round so plan depth never compounds; the size of the new
    * frontier rides that pin as the halt count. Integer hop counts make
    * every round replayable bit-identically by an unrolled SQL oracle.
    *
    * `seeds` is one id column; seeds keep distance 0 even if absent from
    * the edge list. Unreachable (or > `maxHops`) nodes are omitted.
    * Returns `(node_id, dist)`. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(srcCol).as("_src_"), col(dstCol).as("_dst_"))
      .distinct().materializeRound()
    val seed = seeds.select(seeds.columns.head).toDF("node_id").distinct()
      .select(col("node_id"), lit(0L).as("dist"))
    // every node at dist < hop was reached before round hop, so the nodes
    // first reached in round hop are exactly those at dist == hop
    Materialize.iterate("bfsDistances", seed, maxHops,
        Some(hop => col("dist") === hop), bounded = true) { (dist, hop, _) =>
      val next = dist.where(col("dist") === hop - 1)
        .join(e, col("node_id") === col("_src_"))
        .select(col("_dst_").as("node_id"), lit(hop.toLong).as("dist"))
      dist.unionByName(next).groupBy("node_id").agg(min(col("dist")).as("dist"))
    }
  }

  /** Weighted shortest paths by synchronous Bellman–Ford rounds: after
    * `rounds` relaxations the table holds, for every reachable node, the
    * exact minimum-weight path USING AT MOST `rounds` EDGES from any
    * seed — set `rounds` ≥ the weighted diameter for full shortest paths
    * (the bounded form is itself useful: cost-limited crawl radius,
    * "within N legs" routing). Integer weights make every round replay
    * bit-identically in an unrolled SQL oracle (float min-plus drifts).
    *
    * Each round relaxes the WHOLE distance table against the edge list —
    * one src-keyed equi-join + one node-keyed min aggregate, both
    * key-partitioned shuffles, pinned every second round (the
    * [[pageRankInt]] discipline; re-relaxing settled nodes only re-emits
    * dominated candidates that min() discards, and unlike BFS a settled
    * node CAN improve later, so no frontier pruning). Negative weights
    * are allowed (the bounded-hop semantics is still exact); unreachable
    * nodes are omitted. Returns `(node_id, dist)`. */
  def ssspInt(edges: DataFrame, srcCol: String, dstCol: String,
              weightCol: String, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col(srcCol).as("_src_"), col(dstCol).as("_dst_"),
        col(weightCol).cast("long").as("_w_"))
      .groupBy("_src_", "_dst_").agg(min(col("_w_")).as("_w_"))
      .materializeRound()
    val seed = seeds.select(seeds.columns.head).toDF("node_id").distinct()
      .select(col("node_id"), lit(0L).as("dist"))
    Materialize.iterate("ssspInt", seed, rounds) { (dist, _, _) =>
      val relaxed = e.join(dist, e("_src_") === dist("node_id"))
        .select(col("_dst_").as("node_id"), (col("dist") + col("_w_")).as("dist"))
      dist.unionByName(relaxed).groupBy("node_id").agg(min(col("dist")).as("dist"))
    }
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) after `iterations`
    * synchronous rounds of the UNNORMALIZED power iteration — each round
    * is `h(u) = Σ_{u→v} a(v)` then `a(v) = Σ_{u→v} h(u)`, starting from
    * all-ones. Integer scores replay bit-identically (the conventional
    * per-round L2 normalization only rescales — it never changes the
    * ranking — and would force floats, so it is applied ONCE at the end
    * as a milli quantization by the max). Growth bounds the round count:
    * values multiply by ≤ in-deg·out-deg per round, so
    * `iterations · log2(degree bound) < 63` is REQUIRED — checked at
    * plan time against the measured max in/out degrees, failing loudly
    * instead of silently wrapping Long. 2-3 rounds pass on any real
    * graph, which is also where HITS rankings stabilize.
    *
    * Plan: two key-partitioned join+aggregate passes per round over the
    * edge list (shuffle on dst for h, on src for a), pinned every second
    * round; the max for quantization is one scalar aggregate.
    * Output: (node_id, hub, auth, hub_milli, auth_milli) over every
    * node appearing as src or dst. */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("_u_"), col(dstCol).as("_v_"))
      .distinct().materializeRound()
    // ENFORCE the documented overflow bound against the MEASURED degrees
    // (two scalar aggregates — metadata-cheap next to the iterations):
    // per full round every score multiplies by at most maxOutDeg·maxInDeg,
    // so after `iterations` rounds values fit in a signed 64-bit long only
    // if iterations · log2(maxOut·maxIn) < 63. Failing loudly here beats
    // the silent Long wraparound that would otherwise corrupt rankings.
    def maxDeg(end: String) = e.groupBy(end).agg(count(lit(1)).as("_c_"))
      .agg(coalesce(max(col("_c_")), lit(1L)))
    val degs = maxDeg("_u_").crossJoin(maxDeg("_v_")).head
    val (maxOut, maxIn) = (degs.getLong(0), degs.getLong(1))
    val log2Growth =
      math.log(maxOut.toDouble * maxIn.toDouble) / math.log(2.0)
    require(iterations * log2Growth < 63.0,
      s"hitsInt: $iterations iterations with max out-degree $maxOut and " +
        s"max in-degree $maxIn can overflow 64-bit scores " +
        f"($iterations x log2($maxOut*$maxIn) = ${iterations * log2Growth}%.1f >= 63); " +
        "lower iterations (HITS rankings stabilize in 2-3 rounds)")
    val nodes = e.select(col("_u_").as("node_id"))
      .union(e.select(col("_v_"))).distinct().materializeRound()
    // one pass: each node's score is the sum over its edges of the other
    // end's score, 0 for nodes without one
    def pass(from: DataFrame, at: String, to: String, in: String, out: String) =
      e.join(from, e(at) === from("node_id"))
        .groupBy(col(to).as("node_id")).agg(sum(col(in)).as(out))
        .unionByName(nodes.select(col("node_id"), lit(0L).as(out)))
        .groupBy("node_id").agg(max(col(out)).as(out))
    // the state is the hub score, so each round reads its input once;
    // round 1 starts from all-one authorities
    val hub = Materialize.iterate("hitsInt",
        nodes.select(col("node_id"), lit(1L).as("a")), iterations) { (s, r, _) =>
      pass(if (r == 1) s else pass(s, "_u_", "_v_", "h", "a"), "_v_", "_u_", "a", "h")
    }
    val scores = hub.join(pass(hub, "_u_", "_v_", "h", "a"), "node_id")
    val maxes = scores.agg(max(col("h")).as("_mh_"), max(col("a")).as("_ma_"))
    scores.crossJoin(broadcast(maxes))
      // milli quantization in DECIMAL(38,0): the iteration guard bounds
      // RAW scores to 63 bits, but 1000*score needs ~10 more — a score
      // that legitimately passes the guard would wrap here (ANSI off)
      // and emit garbage rankings; the quotient is <= 1000, exact as LONG
      .select(col("node_id"), col("h").as("hub"), col("a").as("auth"),
        expr("CASE WHEN _mh_ > 0 THEN cast((1000 * cast(h as decimal(38,0)))" +
          " div _mh_ as bigint) ELSE 0L END").as("hub_milli"),
        expr("CASE WHEN _ma_ > 0 THEN cast((1000 * cast(a as decimal(38,0)))" +
          " div _ma_ as bigint) ELSE 0L END").as("auth_milli"))
  }

  /** Neighbor-set Jaccard link prediction (Liben-Nowell & Kleinberg,
    * CIKM 2003) — the common-neighbors recommender over an undirected
    * graph: for every NON-edge pair sharing ≥ 1 neighbor, score =
    * |N(u)∩N(w)| / |N(u)∪N(w)| in milli fixed point
    * (`(1000·common) div (deg_u + deg_w − common)` — pure integer, so
    * the ranking replays exactly; Adamic–Adar's 1/log(deg) weights are
    * the float variant this deliberately isn't), keeping the top `k`
    * candidates per node by (jaccard, common, neighbor id).
    *
    * Plan: undirected distinct edge list, wedge self-join on the shared
    * center (the [[triangleStats]] shape — cost Σ deg² over CENTER
    * degrees, so `maxCenterDegree` caps it IN-PLAN: a node with more
    * than that many neighbors is skipped as a wedge center — the
    * standard super-node guard, since a 10⁶-degree hub would alone
    * contribute 10¹² wedges while telling almost nothing about any one
    * pair; its pairs can still surface through their other, informative
    * shared neighbors, and its own degree still counts in the union),
    * existing edges removed by an anti-join BEFORE scoring, degrees
    * joined on each endpoint, and the per-node top-k is a key-partitioned
    * window Spark rewrites to WindowGroupLimit (per-partition top-k
    * before the shuffle). Output: (node_id, candidate_id, common,
    * jaccard_milli, rank), both directions of each surviving pair.
    *
    * The default `maxCenterDegree = Int.MaxValue` means NO center cap —
    * exact common-neighbor semantics for every pair. (History note: the
    * default was 100000 through round 15 and was deliberately flipped to
    * uncapped in round 16, so capping is an explicit caller decision,
    * never a silent default — a changed cap changes output rows, since
    * hub-centered candidates vanish.) Uncapped is NOT unguarded: before
    * the wedge join an eager degree probe (one node-count-sized
    * aggregation over the already-checkpointed edge list) raises by name
    * if any center exceeds [[Graph.JaccardUncappedHubProbeBound]] (1e5)
    * degree — one 10⁶-degree hub alone contributes 10¹² wedges, and a
    * named error beats a runaway join. On a real crawl/social graph,
    * PASS AN EXPLICIT CAP (1e4–1e5), the standard super-node guard. */
  def jaccardLinkPrediction(edges: DataFrame, srcCol: String,
                            dstCol: String, k: Int,
                            maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxCenterDegree >= 1,
      s"maxCenterDegree must be >= 1, got $maxCenterDegree")
    val und = edges.select(col(srcCol).as("_a_"), col(dstCol).as("_b_"))
      .where(col("_a_") =!= col("_b_"))
    val e = und.unionByName(und.select(col("_b_").as("_a_"),
        col("_a_").as("_b_"))).distinct().materializeRound()
    val deg = e.groupBy(col("_a_").as("node")).agg(count(lit(1)).as("deg"))
    // super-node guard: drop over-degree CENTERS from the wedge join
    // (their Σ deg² term), not from the graph — degrees and the
    // non-edge anti-join still see every edge
    if (maxCenterDegree == Int.MaxValue) {
      // uncapped-hub probe: Σ deg² over centers is the wedge-join cost.
      // Two checks in one node-count-sized job over the checkpointed
      // edge list's degree table: (a) any single hub past the per-node
      // bound (one 10⁶-degree hub alone is 10¹²-wedge scale), and
      // (b) the TOTAL Σ deg² past the wedge bound — many near-bound hubs
      // cost the same hang without any one node tripping (a). DECIMAL
      // accumulation: deg² of two row-count-scale factors would wrap a
      // LONG sum silently (guard-contract rule 5).
      val probe = deg.agg(
        max(col("deg")).as("_maxd_"),
        max(when(col("deg") > JaccardUncappedHubProbeBound,
          struct(col("deg"), col("node")))).as("_hot_"),
        sum(col("deg").cast("decimal(38,0)") * col("deg")).as("_wedges_"))
        .collect()(0)
      val hot = Option(probe.getStruct(1))
      require(hot.isEmpty, {
        val r = hot.get
        s"jaccardLinkPrediction: uncapped call (maxCenterDegree = " +
          s"Int.MaxValue, the exact-semantics default) but node " +
          s"${r.get(1)} has degree ${r.getLong(0)} > " +
          s"$JaccardUncappedHubProbeBound — the wedge join would be " +
          "quadratic in hub degree; pass an explicit maxCenterDegree " +
          "(1e4-1e5 is the standard super-node cap) or accept the cost " +
          "with maxCenterDegree = Int.MaxValue - 1"
      })
      val wedges = Option(probe.getDecimal(2))
        .map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
      require(wedges.compareTo(JaccardUncappedWedgeBound.bigInteger) <= 0,
        s"jaccardLinkPrediction: uncapped call (maxCenterDegree = " +
          s"Int.MaxValue, the exact-semantics default) and total wedge " +
          s"count sum(deg^2) = $wedges > $JaccardUncappedWedgeBound — no " +
          "single hub trips the per-node bound, but the wedge join's " +
          "total cost is hang-scale; pass an explicit maxCenterDegree " +
          "or accept the cost with maxCenterDegree = Int.MaxValue - 1")
    }
    val eCtr =
      if (maxCenterDegree >= Int.MaxValue - 1) e
      else e.join(
        deg.where(col("deg") <= maxCenterDegree)
          .select(col("node").as("_a_")),
        Seq("_a_"), "left_semi") // node-sized right side: shuffle semi-join
          // on the same _a_ key the wedge join shuffles on anyway
    // wedges u—v—w, u < w: common-neighbor count per unordered pair
    val common = eCtr.as("l").join(eCtr.as("r"),
        col("l._a_") === col("r._a_") && col("l._b_") < col("r._b_"))
      .groupBy(col("l._b_").as("_u_"), col("r._b_").as("_w_"))
      .agg(count(lit(1)).as("common"))
      .join(e.select(col("_a_").as("_u_"), col("_b_").as("_w_")),
        Seq("_u_", "_w_"), "left_anti") // non-edges only
    val scored = common
      .join(deg.select(col("node").as("_u_"), col("deg").as("_du_")), "_u_")
      .join(deg.select(col("node").as("_w_"), col("deg").as("_dw_")), "_w_")
      .withColumn("jaccard_milli",
        expr("(1000 * common) div (_du_ + _dw_ - common)"))
    val both = scored.select(col("_u_").as("node_id"),
        col("_w_").as("candidate_id"), col("common"), col("jaccard_milli"))
      .unionByName(scored.select(col("_w_").as("node_id"),
        col("_u_").as("candidate_id"), col("common"), col("jaccard_milli")))
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("jaccard_milli").desc, col("common").desc,
        col("candidate_id"))
    both.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
