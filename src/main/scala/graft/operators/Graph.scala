package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality (SURVEY.md §2.D — source-quality weighting).
  * Web-scale curation pipelines rank hosts/documents by link
  * centrality and feed the rank into quality weighting; this is the
  * PageRank shape of that step, integer-exact so an independent
  * engine replays it bit-for-bit.
  *
  * Arithmetic contract (mirrors the k-means/D28 trick): ranks live in
  * scaled integer space (`scale` = 1e12 ≈ parts-per-trillion), every
  * division is integral floor division, so there is no float
  * accumulation order to disagree on. Per iteration:
  *
  *   r'(v) = ((scale/n)·(100−d))//100  +  (d · Σ_{(u,v)∈E} r(u)//outdeg(u))//100
  *
  * with d the damping numerator (85 = 0.85).
  *
  * Scale shape: ranks and degrees are fixed-width (node, long) rows;
  * each iteration is ONE shuffle — the contribution aggregate keyed
  * by dst (map-side partial sums first); the rank⋈degree join is
  * node-table-sized, and `localCheckpoint` per round keeps lineage
  * flat (the Components.scala discipline). Nothing corpus-sized ever
  * re-shuffles: at 100 TB the edge list partitions by src once and
  * is reused every round.
  */
object Graph {

  /** @param edges columns `src`, `dst` (directed, pre-deduped or not —
    *              deduped here unless `edgesDistinct`); every node must
    *              appear in at least one edge (node set = src ∪ dst).
    * @param edgesDistinct caller guarantees `edges` carries no
    *              duplicate (src, dst) rows — skips a full
    *              distinct-exchange over the edge list (r16, guide
    *              §2.4: remove shuffles outright; the trade-graph
    *              gates build edges from a persisted DISTINCT pair
    *              table whose two directions live in disjoint key
    *              spaces, so the re-distinct was a no-op exchange).
    * @param symmetric caller guarantees every node occurs as a src
    *              (e.g. both edge directions present): the node set
    *              is then the degree aggregate's key set, skipping
    *              the union+distinct exchange over 2·|E| rows — at
    *              100 TB that exchange is edge-sized, the degree agg
    *              is node-sized after map-side partials (guide §2.3).
    * @return (node, rank_ppt) — rank in parts-per-trillion of total
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, d100: Long = 85L,
      edgesDistinct: Boolean = false, symmetric: Boolean = false): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (edgesDistinct) e0 else e0.distinct()).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val nodes = (
      if (symmetric) deg.select(col("src").as("v"))
      else e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct()
    ).localCheckpoint()
    val n = nodes.count()
    val init = scale / n
    val base = init * (100L - d100) / 100L
    // rounds stay UNcheckpointed: each round's rank table feeds exactly
    // one consumer (the next round), so the loop is one linear DAG the
    // single terminal action computes once — a per-round
    // localCheckpoint added one materialization job per round for no
    // reuse (r16; the shared e/withDeg/nodes inputs stay checkpointed
    // because they ARE multi-consumer). Guard (r17): every
    // `checkpointEvery` rounds the lineage IS cut — plan depth (and
    // Catalyst analysis/codegen time) otherwise grows linearly with
    // the public `iters`, which is free at the gates' iters=3 but
    // superlinear for a large-iters caller (r16 verdict #4). A no-op
    // below the threshold: the gates' plans are byte-identical.
    var r = nodes.select(col("v"), lit(init).as("r"))
    var lastCut = Option.empty[DataFrame]
    for (i <- 1 to iters) {
      r = iterate(nodes, withDeg, r, base, d100)
      if (i % checkpointEvery == 0 && i < iters) { r = cutLineage(r, lastCut); lastCut = Some(r) }
    }
    r.select(col("v").as("node"), col("r").as("rank_ppt"))
  }

  /** Triangle counting via degree-ordered edge orientation (the
    * classic MapReduce-scalable shape, Suri & Vassilvitskii WWW'11 /
    * Cohen 2009): orient every undirected edge from its lower-degree
    * endpoint to its higher-degree endpoint (ties by id), then a
    * triangle u–v–w is found EXACTLY once as wedge u→v, u→w (u the
    * lowest-ordered corner) closed by edge v→w. Orientation bounds
    * every node's out-degree by O(√m) regardless of skew — a celebrity
    * node with 10⁸ followers contributes no wedges from its own
    * adjacency because its edges all point INTO it; without this, the
    * wedge join is quadratic in the max degree.
    *
    * Scale shape: two joins keyed on node ids over fixed-width edge
    * rows (never text/payload); wedge volume is Σ outdeg² ≤ O(m^1.5)
    * — the theoretical floor for exact listing.
    *
    * @param edges undirected edge list in columns `src`, `dst`
    *              (direction/duplication/self-loops cleaned here)
    * @return per-node triangle participation counts (node, triangles)
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val tri = triangles(edges)
    tri.select(col("x").as("node"))
      .union(tri.select(col("y").as("node")))
      .union(tri.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** D124 — per-node LOCAL clustering coefficient (Watts & Strogatz,
    * Nature 1998: C_v = closed wedges at v / possible wedges at v),
    * float-free as an integer ppm: coeff_ppm = 2·tri(v)·10⁶ div
    * (deg(v)·(deg(v)−1)), 0 for degree-1 nodes. The global triangle
    * census (D63) says how cohesive the graph is; this says WHERE —
    * the per-node signal spam/link-farm filters threshold on (farms
    * interlink densely; organic hubs don't). Cost on top of D63's
    * orientation-ordered enumeration: one degree census + one
    * fixed-width join.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("degree * (degree - 1) div 2").as("wedges"),
        when(col("degree") >= 2,
          expr("2 * coalesce(triangles, 0L) * 1000000L div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("coeff_ppm"))
  }

  /** Each triangle exactly once as (x, y, z) = orientation-ordered
    * corners (x lowest (deg, id), z highest).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // feeds deg AND both orientation joins once
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val aFirst = // true ⇢ a precedes b in (deg, id) order
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // oriented edge u→w with u preceding w in (deg, id); dw = deg(w)
    // rides along so wedge legs can be ordered by the SAME total order
    // — then the closing edge y→z is oriented too, and the closure is
    // one equi-join (an OR-of-directions join would lose the hash-join
    // keys and go nested-loop).
    val oriented = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("dw"))
      .localCheckpoint() // reused three times below
    val legBefore = col("e1.dw") < col("e2.dw") ||
      (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") && legBefore)
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    wedges.join(oriented.as("e3"),
        col("y") === col("e3.u") && col("z") === col("e3.w"), "left_semi")
      .select("x", "y", "z")
  }

  /** k-core decomposition by iterative degree peeling: repeatedly
    * delete nodes of degree < k (with their edges) until the fixpoint
    * — what survives is the maximal subgraph where EVERY node keeps ≥k
    * neighbors, the standard graph-cohesion filter (spam-farm cores,
    * community nuclei) link-curation pipelines run after PageRank.
    *
    * Scale shape: each round is one map-side-partial degree aggregate
    * over fixed-width (a, b) rows plus two node-keyed semi-joins;
    * `localCheckpoint` per round keeps lineage flat (the Components/
    * PageRank discipline). Round count is bounded by the peeling
    * depth of the degeneracy ordering — typically tens on real
    * graphs; each round's cost SHRINKS as edges peel away.
    *
    * @return (node, core_deg) — surviving nodes with their degree
    *         inside the k-core
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 100): DataFrame = {
    require(k >= 1, s"invalid k $k")
    var e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var m = e.count()
    var done = m == 0L
    var iters = 0
    while (!done && iters < maxIters) {
      val keep = coreDegrees(e).filter(col("deg") >= k)
        .select("v").localCheckpoint()
      val ne = e
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val nm = ne.count()
      done = nm == m
      e = ne; m = nm; iters += 1
    }
    coreDegrees(e).select(col("v").as("node"), col("deg").as("core_deg"))
  }

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007, the near-linear-time community baseline): every node
    * starts labeled with its own id; each round it adopts the label
    * most frequent among its neighbors, ties broken by SMALLEST label
    * — that tie rule plus synchronous (all-nodes-at-once) updates
    * makes every round a pure function of the previous labeling, so an
    * independent engine replays it bit-for-bit (the k-means/PageRank
    * replay discipline; asynchronous LPA's visit-order dependence
    * would be unreplayable). Fixed iteration count, not
    * convergence-tested: synchronous LPA can 2-cycle on bipartite
    * structure, so a fixpoint test could spin — callers pick the
    * round budget, and label plurality after r rounds reflects
    * r-hop community structure either way.
    *
    * Scale shape: per round, one shuffle for the (node, label) vote
    * count (map-side partial first) and one node-keyed argmax agg over
    * fixed-width rows; the adjacency partitions once and is reused
    * every round (`localCheckpoint` per round keeps lineage flat —
    * the Components/PageRank discipline). Nothing corpus-sized ever
    * re-shuffles. Argmax is `max(struct(cnt, -label))` — one agg, no
    * window sort.
    *
    * @param edges undirected edge list in columns `src`, `dst`
    *              (direction/duplication/self-loops cleaned here);
    *              labels are node ids, so ids must be > Long.MinValue
    * @return (node, community) — community = surviving label
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint()
    var l = adj.select(col("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint()
    for (_ <- 1 to iters) l = lpaRound(adj, l).localCheckpoint()
    l.select(col("v").as("node"), col("label").as("community"))
  }

  /** One synchronous vote round (uncheckpointed — PlanSpec asserts its
    * shape: partial-agg vote count, single-agg argmax, no window, no
    * UDF, no cartesian).
    */
  private[graft] def lpaRound(adj: DataFrame, l: DataFrame): DataFrame = {
    val votes = adj
      .join(l.withColumnRenamed("v", "u"), "u")
      .groupBy("v", "label").agg(count(lit(1)).as("cnt"))
    votes.groupBy("v")
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("v"), (-col("m.nl")).as("label"))
  }

  /** Multi-source BFS hop distance: the unweighted single/multi-source
    * shortest-path primitive (influence radius from a seed set, crawl
    * frontier depth, "within k links of a trusted source" quality
    * signals). Frontier-style level-synchronous BFS — each round
    * expands the CURRENT frontier only, so round r touches the round-r
    * frontier's adjacency, not the whole graph, and total work across
    * all rounds is O(m) edge visits.
    *
    * Scale shape: per round, one node-keyed join of adjacency against
    * the (shrinking) frontier + one anti-join against the settled
    * distance table — all fixed-width (node, long) rows;
    * `localCheckpoint` per round keeps lineage flat (the Components/
    * PageRank discipline). Early-exits when the frontier empties, so
    * a small connected seed region never pays diameter-many rounds.
    *
    * @param edges   undirected edge list in `src`, `dst` (cleaned here)
    * @param sources seed nodes in column `v` (dist 0); seeds not
    *                present in the graph still report dist 0
    * @return (node, hops) for every node reachable within maxHops
    */
  def hopDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 100): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint()
    var dist = sources.select(col("v")).distinct()
      .select(col("v"), lit(0L).as("dist")).localCheckpoint()
    var frontier = dist.select("v")
    var hop = 0L
    var frontierSize = frontier.count()
    while (frontierSize > 0 && hop < maxHops) {
      hop += 1
      val reached = adj
        .join(frontier.withColumnRenamed("v", "u"), "u")
        .select("v").distinct()
      val fresh = reached.join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(hop).as("dist"))
        .localCheckpoint()
      frontierSize = fresh.count()
      if (frontierSize > 0) {
        dist = dist.union(fresh).localCheckpoint()
        frontier = fresh.select("v")
      }
    }
    dist.select(col("v").as("node"), col("dist").as("hops"))
  }

  /** Link-prediction scoring for non-adjacent node pairs at distance
    * 2 (Liben-Nowell & Kleinberg CIKM'03): common-neighbor count —
    * the strongest of the simple structural predictors — plus
    * preferential attachment deg(a)·deg(b), both integer-exact.
    * Curation pipelines use this to propose source/entity merges that
    * near-dup content hashes miss (two mirrors never sharing bytes
    * but sharing most link neighbors).
    *
    * Wedge generation enumerates each CENTER's neighbor pairs — Σ
    * deg² work — so centers above `maxCenterDeg` are excluded (the
    * D4 df-cap discipline): a hub every node touches contributes
    * boilerplate-grade evidence while costing quadratic fan-out; the
    * cap bounds per-center work at cap² and is replayed exactly by
    * the oracle. Degrees (and the pa score) still count ALL edges —
    * only wedge centering is capped.
    *
    * Scale shape: one self-join of the capped adjacency on the center
    * key (fan-out ≤ cap per center), map-side-partial pair count, one
    * anti-join vs the edge list, two node-keyed degree joins — every
    * exchanged row fixed-width.
    *
    * @return (a, b, cn, pa) for non-adjacent pairs a<b with ≥1 common
    *         (capped) neighbor
    */
  def linkPredict(edges: DataFrame, maxCenterDeg: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // feeds adjacency, degrees, and the anti-join
    val adj = und.select(col("a").as("w"), col("b").as("u"))
      .union(und.select(col("b").as("w"), col("a").as("u")))
    val deg = adj.groupBy(col("w").as("v")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg") <= maxCenterDeg).select("v")
    val capped = adj.join(centers.withColumnRenamed("v", "w"), Seq("w"), "left_semi")
      .localCheckpoint() // reused by both wedge legs
    val cn = capped.as("e1")
      .join(capped.as("e2"),
        col("e1.w") === col("e2.w") && col("e1.u") < col("e2.u"))
      .select(col("e1.u").as("a"), col("e2.u").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    cn.join(und, Seq("a", "b"), "left_anti")
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(col("a"), col("b"), col("cn"), (col("da") * col("db")).as("pa"))
  }

  /** Weighted single/multi-source shortest paths by synchronous
    * Bellman-Ford relaxation rounds — the Pregel SSSP shape (Malewicz
    * et al. SIGMOD'10): after round r, dist(v) is EXACTLY the minimum
    * weight over paths of ≤ r edges, a pure function of the round
    * budget that an independent engine replays bit-for-bit with
    * integer weights.
    *
    * Frontier-optimized: only nodes whose distance IMPROVED last
    * round re-send (a settled node's value was already propagated
    * when it last changed, and min-relaxation is monotone — the
    * classic Pregel argument), so steady-state rounds touch the
    * changing region only, not the whole graph. Relaxations are
    * pre-combined map-side (`groupBy(v).min` before the merge), the
    * distance merge is one union+min aggregate over fixed-width
    * (node, long) rows, and `localCheckpoint` per round keeps lineage
    * flat. Early-exits when no distance improves.
    *
    * @param edges   undirected weighted edges `src`, `dst`, `w`
    *                (integer weights ≥ 0; duplicate pairs keep the
    *                MINIMUM weight; self-loops dropped)
    * @param sources seed nodes in column `v` (dist 0)
    * @return (node, dist) for every node reachable within maxRounds
    *         hops
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min("w").as("w"))
    val adj = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(und.select(col("b").as("u"), col("a").as("v"), col("w")))
      .localCheckpoint()
    var dist = sources.select(col("v")).distinct()
      .select(col("v"), lit(0L).as("dist")).localCheckpoint()
    var frontier = dist
    var round = 0
    var active = frontier.count()
    while (active > 0 && round < maxRounds) {
      round += 1
      val prop = adj
        .join(frontier.withColumnRenamed("v", "fu").withColumnRenamed("dist", "fd"),
          col("u") === col("fu"))
        .select(col("v"), (col("fd") + col("w")).as("nd"))
        .groupBy("v").agg(min("nd").as("nd"))
      val improved = prop
        .join(dist.withColumnRenamed("dist", "old"), Seq("v"), "left")
        .filter(col("old").isNull || col("nd") < col("old"))
        .select(col("v"), col("nd").as("dist"))
        .localCheckpoint()
      active = improved.count()
      if (active > 0) {
        dist = dist.union(improved)
          .groupBy("v").agg(min("dist").as("dist"))
          .localCheckpoint()
        frontier = improved
      }
    }
    dist.select(col("v").as("node"), col("dist").as("dist"))
  }

  /** Deterministic pseudo-random walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. KDD'14): one `steps`-step walk from
    * every start node, where the "random" neighbor choice at (walk,
    * node, step) is md5-derived — the shuffleKey/shardAssign
    * determinism discipline applied to graph traversal, so the walk
    * corpus is reproducible on any engine, any partitioning, any
    * cluster size (a re-run must emit byte-identical training
    * sequences or downstream embeddings silently drift).
    *
    * Choice rule: neighbors ranked by id ascending (row_number per
    * node); step t from node v in walk w takes rank
    * (hex12(md5("seed:w:v:t")) mod deg(v)) + 1. Walks from isolated
    * start nodes end at step 0.
    *
    * Scale shape: the whole walk is ONE LINEAR declarative plan —
    * `steps` left-joins of the ranked adjacency (localCheckpoint'd
    * once, reused per step), each carrying fixed-width (walk, node,
    * path) rows, with the visited prefix accumulated in an array
    * column and posexploded ONCE at the end. (The per-step-union
    * alternative re-derives step t's lineage inside every later
    * frame — steps·(steps+1)/2 joins instead of steps; at 5 steps
    * that was 3× the work for identical output.) Walks that die
    * (isolated start) carry a null node forward: the join condition
    * can never match again and the path stops growing, preserving
    * the emit-prefix-only semantics without a per-step frame. The
    * per-node neighbor ranking is a degree-bounded window, paid once.
    * No driver loop, no iterative checkpointing.
    *
    * @return (walk_id, step, node) — step 0 is the start node
    */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      seed: Long): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val ranked = adj
      .join(adj.groupBy("u").agg(count(lit(1)).as("deg")), "u")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")))
      .localCheckpoint() // reused by every step's join
    var cur = starts.select(col("v")).distinct()
      .select(col("v").as("walk_id"), col("v").as("node"),
        array(col("v")).as("path"))
    for (t <- 1 to steps) {
      val pick = conv(substring(md5(concat_ws(":",
          lit(seed).cast("string"), col("walk_id").cast("string"),
          col("node").cast("string"), lit(t).cast("string")).cast("binary")),
        1, 12), 16, 10).cast("long")
      // left join: a walk at a dead end (or already dead — null node
      // never equals u) survives with v null and an unchanged path
      cur = cur.join(ranked,
          col("node") === col("u") && col("rnk") === pmod(pick, col("deg")) + 1,
          "left")
        .select(col("walk_id"), col("v").as("node"),
          when(col("v").isNull, col("path"))
            .otherwise(array_append(col("path"), col("v"))).as("path"))
    }
    cur.select(col("walk_id"),
        posexplode(col("path")).as(Seq("step", "node")))
      .select(col("walk_id"), col("step").cast("int").as("step"), col("node"))
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) — PageRank's
    * companion for DIRECTED endorsement graphs: authorities collect
    * incoming weight, hubs collect the authority of what they point
    * at. On a bipartite buyer→seller graph this separates "big
    * buyers" (hubs) from "widely-bought sellers" (authorities), the
    * two-sided quality signal one PageRank score conflates.
    *
    * Integer-exact variant: scores live at `scale` (1e6) and each
    * half-iteration renormalizes by the CURRENT MAX via integral
    * division (`x·scale // max`) instead of the classical L2 norm —
    * no sqrt, no floats, every round a pure function an independent
    * engine replays. Overflow headroom: a node's raw sum is ≤
    * indegree·scale, and renormalization multiplies by scale — keep
    * indegree·scale² < 2⁶³ (≈9·10⁶ max degree at the default scale).
    *
    * Scale shape: per half-iteration ONE map-side-partial sum keyed
    * by the receiving node plus a broadcast single-row max join;
    * scores/edges are fixed-width rows; `localCheckpoint` per round
    * (the PageRank discipline).
    *
    * @param edges directed edges `src`, `dst` (deduped here)
    * @return (node, hub, auth) at `scale`
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      edgesDistinct: Boolean = false): DataFrame = {
    // edgesDistinct: skip the re-distinct exchange when the caller's
    // edge list is distinct by construction (r16, guide §2.4). Per-
    // half-round checkpoints STAY: unlike pageRank each score table
    // here feeds two consumers (the next half-round and the final
    // join), so uncheckpointed lineage would recompute subtrees.
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (edgesDistinct) e0 else e0.distinct()).localCheckpoint()
    val nodes = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().localCheckpoint()
    // checkpoint the UN-normalized score table, then renorm over the
    // checkpointed rows (r16): renorm's max-aggregate and its data
    // pass previously both recomputed the half-round's join+aggregate
    // subtree (checkpoint sat after the renorm) — one edge-sized pass
    // per half-round wasted. The renorm projection itself is a 1-row
    // broadcast + node-sized select, cheap for its two consumers.
    def renorm(df: DataFrame, c: String): DataFrame = {
      val scored = df.localCheckpoint()
      scored.crossJoin(broadcast(scored.agg(max(col(c)).as("__mx"))))
        .select(col("v"), expr(s"$c * $scale div __mx").as(c))
    }
    var h = nodes.select(col("v"), lit(scale).as("h"))
    var a = nodes.select(col("v"), lit(scale).as("a"))
    for (_ <- 1 to iters) {
      val rawA = e.join(h.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v")).agg(sum("h").as("s"))
      a = renorm(nodes.join(rawA, Seq("v"), "left")
        .select(col("v"), coalesce(col("s"), lit(0L)).as("a")), "a")
      val rawH = e.join(a.withColumnRenamed("v", "dst"), "dst")
        .groupBy(col("src").as("v")).agg(sum("a").as("s"))
      h = renorm(nodes.join(rawH, Seq("v"), "left")
        .select(col("v"), coalesce(col("s"), lit(0L)).as("h")), "h")
    }
    h.join(a, "v").select(col("v").as("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** D87 — one-row graph profile: node/edge counts, degree extremes,
    * wedge count Σ deg·(deg−1)/2, exact triangle total, and the
    * GLOBAL clustering coefficient 3·triangles/wedges in integer ppm
    * — the first summary run on any link graph (is it social-like,
    * clustered, or a near-random mesh?), and the sanity gate before
    * paying for the heavier per-node analyses.
    *
    * Scale shape: one degree aggregate, one single-row reduce over
    * it, the D63 orientation-bounded triangle count reduced to one
    * row, and a cross join of three 1-row frames — nothing
    * node-sized leaves the executors.
    */
  def profile(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // feeds degrees, edge count, and triangles
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val degAgg = deg.agg(count(lit(1)).as("n_nodes"), max("deg").as("max_deg"),
      sum(expr("deg * (deg - 1) div 2")).as("wedges"))
    val edgeAgg = und.agg(count(lit(1)).as("n_edges"))
    val triAgg = triangles(und.select(col("a").as("src"), col("b").as("dst")))
      .agg(count(lit(1)).as("triangles"))
    degAgg.crossJoin(edgeAgg).crossJoin(triAgg)
      .select(col("n_nodes"), col("n_edges"), col("max_deg"), col("wedges"),
        col("triangles"),
        expr("""CASE WHEN wedges = 0 THEN NULL
               |ELSE 3 * triangles * 1000000 div wedges END""".stripMargin)
          .as("clustering_ppm"))
  }

  private def coreDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** One rank iteration (uncheckpointed — PlanSpec asserts its shape:
    * partial-agg contribution sum, no cartesian, no UDF).
    */
  private[graft] def iterate(nodes: DataFrame, withDeg: DataFrame,
      r: DataFrame, base: Long, d100: Long): DataFrame = {
    val contrib = withDeg.join(r, withDeg("src") === r("v"))
      .select(col("dst").as("v"), expr("r div outdeg").as("c"))
      .groupBy("v").agg(sum("c").as("s"))
    nodes.join(contrib, Seq("v"), "left")
      .select(col("v"),
        (lit(base) + expr(s"($d100 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
  }

  /** D59b — personalized PageRank (random walk with restart to a SEED
    * set — the "influence of these nodes" query behind
    * recommendation, data-attribution, and similar-entity search,
    * where global PageRank answers the wrong question). Identical
    * integer arithmetic to [[pageRank]] — contributions
    * `r div outdeg`, damped `d·s div 100` — except the restart mass
    * `scale·(100−d)/100` lands ONLY on the seeds (split evenly), and
    * rank initializes to `scale/|seeds|` at the seeds, 0 elsewhere.
    * Same per-round cost: ONE dst-keyed partial-sum exchange; the
    * seed test is a broadcast-literal predicate.
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long], iters: Int,
      scale: Long = 1000000000000L, d100: Long = 85L,
      edgesDistinct: Boolean = false, symmetric: Boolean = false): DataFrame = {
    require(seeds.nonEmpty, "personalized pagerank needs a seed set")
    // edgesDistinct / symmetric / uncheckpointed rounds: the pageRank
    // r16 moves, same arguments (see there)
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (edgesDistinct) e0 else e0.distinct()).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src").localCheckpoint()
    val nodes = (
      if (symmetric) deg.select(col("src").as("v"))
      else e.select(col("src").as("v")).union(e.select(col("dst").as("v"))).distinct()
    ).localCheckpoint()
    val init = scale / seeds.length
    val seedBase = (scale * (100L - d100) / 100L) / seeds.length
    val isSeed = col("v").isin(seeds: _*)
    var r = nodes.select(col("v"),
      when(isSeed, init).otherwise(0L).cast("long").as("r"))
    var lastCut = Option.empty[DataFrame]
    for (i <- 1 to iters) {
      val contrib = withDeg.join(r, withDeg("src") === r("v"))
        .select(col("dst").as("v"), expr("r div outdeg").as("c"))
        .groupBy("v").agg(sum("c").as("s"))
      r = nodes.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (when(isSeed, seedBase).otherwise(0L).cast("long") +
            expr(s"($d100 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
      // lineage-depth guard, same as pageRank (no-op at the gates' iters)
      if (i % checkpointEvery == 0 && i < iters) { r = cutLineage(r, lastCut); lastCut = Some(r) }
    }
    r.select(col("v").as("node"), col("r").as("rank_ppt"))
  }

  /** Lineage-depth guard for the uncheckpointed rank loops: cut the
    * plan every this-many rounds. 8 keeps the gates (iters=3) on the
    * r16 zero-materialization fast path while bounding a large-iters
    * caller's plan depth at a constant.
    */
  private[graft] val checkpointEvery = 8

  /** `r` checkpointed locally, with the rank loop's previous cut `prev`
    * unpersisted. The checkpoint is eager, so the new cut no longer
    * reads `prev`; left alone, every cut would stay cached until the
    * ContextCleaner collects it.
    */
  private def cutLineage(r: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val cut = r.localCheckpoint()
    prev.map(_.queryExecution.logical).foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
    cut
  }
}
