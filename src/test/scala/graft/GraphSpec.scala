package graft

import graft.operators.Graph
import org.scalatest.funsuite.AnyFunSuite

/** Hand-worked PageRank fixtures: a 3-node symmetric path whose two
  * iterations are computable on paper, invariance properties (mass
  * conservation up to floor loss, partition invariance), and the
  * hub-vs-leaf ordering PageRank exists to produce.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val S = 1000000000000L // scale

  /** path a—b—c (symmetric): b is the hub. */
  private def pathEdges(parts: Int) =
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst").repartition(parts)

  test("pageRank on a—b—c: hand-computed two iterations, hub on top") {
    for (parts <- Seq(1, 4)) {
      val got = Graph.pageRank(pathEdges(parts), iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // init = S/3; base = init*15/100
      val init = S / 3
      val base = init * 15 / 100
      // iter 1: a gets b's half, b gets a+c whole, c gets b's half
      val r1a = base + 85L * (init / 2) / 100
      val r1b = base + 85L * (init + init) / 100
      val r1 = Map(1L -> r1a, 2L -> r1b, 3L -> r1a)
      // iter 2 from r1
      val r2a = base + 85L * (r1b / 2) / 100
      val r2b = base + 85L * (r1a + r1a) / 100
      assert(got === Map(1L -> r2a, 2L -> r2b, 3L -> r2a), s"parts=$parts")
      assert(got(2L) > got(1L), "hub must outrank leaves")
    }
  }

  test("personalizedPageRank: restart mass confined to seeds, upstream-only nodes rank 0") {
    // 1→2→3, 4→3: seed {1}. Node 4 has no in-edges and no restart, so
    // its rank must be EXACTLY 0 every round; mass reaches 2 and 3
    // only through the walk from 1.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val got = Graph.personalizedPageRank(edges.repartition(parts),
          seeds = Seq(1L), iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // r0: 1 -> S (init = S/|seeds| = S), others 0
      // iter1: 1 -> sbase (restart only), 2 -> 85·S/100, 3 -> 0, 4 -> 0
      // iter2: 1 -> sbase, 2 -> 85·sbase/100, 3 -> 85·(85·S/100)/100
      val sbase = (S * 15 / 100) / 1
      val r1_2 = 85L * S / 100
      assert(got(1L) === sbase, got.toString)
      assert(got(2L) === 85L * sbase / 100, got.toString)
      assert(got(3L) === 85L * r1_2 / 100, got.toString)
      assert(got(4L) === 0L, "no restart, no in-edges: rank must be exactly 0")
    }
  }

  test("rank mass is conserved up to bounded floor loss") {
    // star: center 0 — leaves 1..6, symmetric
    val edges = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L)))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 3).collect().map(_.getLong(1))
    val total = ranks.sum
    // every floor division loses < 1 unit per node per term; with
    // n=7 nodes, 3 iters, ≤3 floors per node per iter the loss bound
    // is tiny relative to S
    assert(total <= S && total > S - 7L * 3 * 3 * 100, s"total=$total")
    assert(ranks.max === Graph.pageRank(edges, iters = 3)
      .filter("node = 0").collect().head.getLong(1), "center dominates")
  }

  test("triangles: K4 has exactly 4, each corner in 3; path has none") {
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, every node in C(3,2)=3
    val k4 = (for {a <- 1L to 4L; b <- 1L to 4L if a < b} yield (a, b))
      .toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val tri = Graph.triangles(k4.repartition(parts)).collect()
        .map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(tri.length === 4, "each triangle exactly once")
      assert(tri.toSet === Set(Set(1L, 2L, 3L), Set(1L, 2L, 4L),
        Set(1L, 3L, 4L), Set(2L, 3L, 4L)))
      val counts = Graph.triangleCounts(k4.repartition(parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts === (1L to 4L).map(_ -> 3L).toMap)
    }
    assert(Graph.triangles(pathEdges(1)).count() === 0L)
  }

  test("triangles: direction, duplicates, and self-loops are cleaned; skewed hub stays bounded") {
    // triangle given with mixed directions + dup edge + self loop
    val messy = Seq((1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    val tri = Graph.triangles(messy).collect()
      .map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri.toSeq === Seq(Set(1L, 2L, 3L)))
    // star hub (no triangles): orientation points every edge INTO the
    // hub, so the hub's adjacency yields zero wedges
    val star = (1L to 50L).map(l => (0L, l)).toDF("src", "dst")
    assert(Graph.triangles(star).count() === 0L)
  }

  test("kCore: multi-round pendant-path peel, empty core, full-graph core") {
    // triangle {1,2,3} + pendant path 3-4-5-6: the 2-core must peel
    // the path one node per round (6, then 5, then 4) — exercises the
    // fixpoint loop, not just one pass
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val core2 = Graph.kCore(g.repartition(parts), k = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"parts=$parts")
    }
    // no node has degree 3 → 3-core is empty
    assert(Graph.kCore(g, k = 3).count() === 0L)
    // K4: already its own 3-core (zero peels — immediate fixpoint)
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val core3 = Graph.kCore(k4, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 === (1L to 4L).map(_ -> 3L).toMap)
    // direction/duplicate cleaning: same graph given messy
    val messy = g.union(Seq((2L, 1L), (1L, 2L)).toDF("src", "dst"))
    assert(Graph.kCore(messy, k = 2).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
  }

  test("labelPropagation: two cliques with a bridge settle into two communities") {
    // K3 {1,2,3} and K3 {4,5,6} joined by bridge 3—4. After enough
    // synchronous rounds with the min-label tie rule, the left clique
    // carries label 1 and the right label 4 (4's two clique neighbors
    // outvote the single bridge neighbor).
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val got = Graph.labelPropagation(g.repartition(parts), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet === (1L to 6L).toSet, s"parts=$parts")
      assert(Set(got(1L), got(2L), got(3L)).size === 1, "left clique agrees")
      assert(Set(got(4L), got(5L), got(6L)).size === 1, "right clique agrees")
      assert(got(1L) !== got(5L), "bridge does not merge the cliques")
    }
  }

  test("labelPropagation: one hand-worked synchronous round on a path") {
    // path 1—2—3, l0 = id. Round 1 votes: node 1 sees {2}, node 2
    // sees {1,3} (tie → min = 1), node 3 sees {2}.
    val got = Graph.labelPropagation(pathEdges(1), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    // round 2 from (2,1,2): node 1 sees {1}, node 2 sees {2,2}, node 3
    // sees {1} — synchronous 2-cycle on bipartite structure, by design
    val got2 = Graph.labelPropagation(pathEdges(1), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("labelPropagation: messy input (direction, dups, self-loops) is cleaned") {
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    val a = Graph.labelPropagation(clean, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.labelPropagation(messy, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), "triangle converges to min id")
  }

  test("hopDistances: hand-worked levels, early exit, multi-source min, isolated seed") {
    // path 1—2—3—4—5 seeded at {1}: dist = position
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val d = Graph.hopDistances(path.repartition(parts), Seq(1L).toDF("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L),
        s"parts=$parts")
    }
    // maxHops truncation
    val t = Graph.hopDistances(path, Seq(1L).toDF("v"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // multi-source: seeds {1, 5} — node 3 reached at min distance 2
    val m = Graph.hopDistances(path, Seq(1L, 5L).toDF("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // disconnected component {8,9} is never reached; isolated seed 7
    // (absent from the edge list) still reports dist 0
    val g2 = path.union(Seq((8L, 9L)).toDF("src", "dst"))
    val d2 = Graph.hopDistances(g2, Seq(1L, 7L).toDF("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2(7L) === 0L && !d2.contains(8L) && !d2.contains(9L))
  }

  test("linkPredict: hand-worked scores on a square, adjacency excluded, cap bites") {
    // square 1—2—3—4—1: diagonals (1,3) and (2,4) each share BOTH
    // neighbors (cn=2); every node has deg 2 so pa=4; adjacent pairs
    // never appear.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    for (parts <- Seq(1, 3)) {
      val got = Graph.linkPredict(sq.repartition(parts), maxCenterDeg = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got === Map((1L, 3L) -> (2L, 4L), (2L, 4L) -> (2L, 4L)),
        s"parts=$parts")
    }
    // star 0—{1..5} plus edge 1—2: leaves pair through the hub (cn=1,
    // pa=deg product). Cap the hub (deg 5 > cap 4): every leaf pair
    // loses its only wedge EXCEPT (1,2)... which is adjacent — so
    // output is empty, while degrees still counted the hub edges.
    val star = ((1L to 5L).map(l => (0L, l)) :+ (1L, 2L)).toDF("src", "dst")
    val uncapped = Graph.linkPredict(star, maxCenterDeg = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // leaves 3,4,5 have deg 1; 1,2 have deg 2; hub pairs all leaves
    assert(uncapped((3L, 4L)) === (1L, 1L))
    assert(uncapped((1L, 3L)) === (1L, 2L), "pa uses full degrees")
    assert(!uncapped.contains((1L, 2L)), "adjacent pair excluded")
    assert(Graph.linkPredict(star, maxCenterDeg = 4).count() === 0L,
      "capping the hub removes all hub-centered wedges")
  }

  test("shortestPaths: longer-hop-but-lighter path wins, round budget truncates correctly") {
    // 1—2 (w=10) vs 1—3—4—2 (w=1+1+1): the 3-hop path is shorter.
    val g = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L))
      .toDF("src", "dst", "w")
    for (parts <- Seq(1, 3)) {
      val d = Graph.shortestPaths(g.repartition(parts), Seq(1L).toDF("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d === Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L), s"parts=$parts")
    }
    // with only 1 relaxation round, node 2 still holds the direct 10
    // (dist after round r = min over paths of <= r edges, exactly)
    val r1 = Graph.shortestPaths(g, Seq(1L).toDF("v"), maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    val r2 = Graph.shortestPaths(g, Seq(1L).toDF("v"), maxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(2L) === 10L && r2(4L) === 2L)
  }

  test("shortestPaths: duplicate pairs keep min weight; multi-source min; zero weights") {
    val g = Seq((1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 0L)).toDF("src", "dst", "w")
    val d = Graph.shortestPaths(g, Seq(1L).toDF("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 3L, 3L -> 3L), "min-weight dedup + zero weight")
    // two seeds: every node takes the nearer one
    val path = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L)).toDF("src", "dst", "w")
    val m = Graph.shortestPaths(path, Seq(1L, 4L).toDF("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L))
  }

  test("randomWalks: hand-replayed choices, valid-edge invariant, partition/seed behavior") {
    import java.security.MessageDigest
    // triangle {1,2,3} + pendant 3—4
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    def hex12(s: String): Long = {
      val h = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 12), 16)
    }
    // independent replay: adjacency ranked by id ascending
    val nbrs = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L, 4L),
      4L -> Seq(3L))
    def replay(seed: Long, start: Long, steps: Int): Seq[(Int, Long)] = {
      var node = start
      (0 to steps).map { t =>
        if (t > 0) {
          val ns = nbrs(node)
          node = ns((hex12(s"$seed:$start:$node:$t") % ns.length).toInt)
        }
        t -> node
      }
    }
    for (parts <- Seq(1, 3)) {
      val got = Graph.randomWalks(g.repartition(parts),
          Seq(1L, 2L, 3L, 4L).toDF("v"), steps = 4, seed = 11L)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (w, rows) =>
          w -> rows.sortBy(_.getInt(1)).map(r => r.getInt(1) -> r.getLong(2)).toSeq
        }
      for (start <- 1L to 4L)
        assert(got(start) === replay(11L, start, 4), s"start=$start parts=$parts")
      // every consecutive pair is a real edge
      val edgeSet = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
        .flatMap { case (a, b) => Set((a, b), (b, a)) }
      for ((_, path) <- got; Seq((_, x), (_, y)) <- path.sliding(2))
        assert(edgeSet.contains((x, y)), s"non-edge $x->$y")
    }
    // a different seed changes at least one walk on this graph
    val a = Graph.randomWalks(g, Seq(3L).toDF("v"), 4, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Graph.randomWalks(g, Seq(3L).toDF("v"), 4, seed = 12L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a !== b)
    // isolated start: walk is just step 0
    val iso = Graph.randomWalks(g, Seq(9L).toDF("v"), 4, seed = 11L).collect()
    assert(iso.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      === Seq((9L, 0, 9L)))
  }

  test("hits: hand-worked bipartite iteration, hub/authority separation, partition invariance") {
    val S = 1000000L
    // buyers 1,2 → sellers 10,11: 1→10, 1→11, 2→10. Seller 10 has two
    // buyers (top authority); buyer 1 points at both sellers (top hub).
    val g = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    // iter 1 by hand: rawA(10)=2S, rawA(11)=S, buyers 0 → a = (10:S, 11:S/2, rest 0)
    // rawH(1)=a10+a11=1.5S, rawH(2)=a10=S → h = (1:S, 2:2S/3, rest 0)
    val a11 = S * S / (2 * S)           // 500000
    val h2 = (S * S) / (S + a11)        // 666666
    for (parts <- Seq(1, 3)) {
      val got = Graph.hits(g.repartition(parts), iters = 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got(1L) === ((S, 0L)), s"parts=$parts")
      assert(got(2L) === ((h2, 0L)))
      assert(got(10L) === ((0L, S)))
      assert(got(11L) === ((0L, a11)))
    }
    // a second iteration keeps the same ordering on this graph and
    // duplicate edges change nothing
    val two = Graph.hits(g.union(g), iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(two(1L)._1 === S && two(10L)._2 === S)
    assert(two(2L)._1 < S && two(11L)._2 < S)
  }

  test("cross-operator: unit-weight shortestPaths equals hopDistances on random graphs") {
    val rng = new scala.util.Random(41L)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val edges = (1 to n * 2).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val g = edges.toDF("src", "dst")
      val seeds = Seq(edges.head._1).toDF("v")
      val bfs = Graph.hopDistances(g, seeds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sssp = Graph.shortestPaths(
          g.withColumn("w", org.apache.spark.sql.functions.lit(1L)), seeds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sssp === bfs, s"trial=$trial: unit-weight SSSP must equal BFS")
    }
  }

  test("cross-operator: triangleCounts equals brute-force enumeration on random graphs") {
    val rng = new scala.util.Random(43L)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 4
      val und = (for { a <- 0L until n; b <- a + 1 until n if rng.nextInt(100) < 25 }
        yield (a, b)).toSet
      val brute = (for {
        a <- 0L until n; b <- a + 1 until n; c <- b + 1 until n
        if und((a, b)) && und((b, c)) && und((a, c))
      } yield Set(a, b, c)).toSet
      val got = Graph.triangles(und.toSeq.toDF("src", "dst"))
        .collect().map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length === got.toSet.size, "each triangle exactly once")
      assert(got.toSet === brute, s"trial=$trial n=$n")
    }
  }

  test("cross-operator: labelPropagation labels are node ids; every node labeled") {
    val rng = new scala.util.Random(47L)
    val edges = (1 to 60).map(_ => (rng.nextInt(25).toLong, rng.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val g = edges.toDF("src", "dst")
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    val got = Graph.labelPropagation(g, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === nodes, "every node gets a community")
    assert(got.values.toSet.subsetOf(nodes), "labels are node ids")
  }

  test("profile: K4 closes every wedge (ppm = 1e6); path has zero triangles; messy input cleaned") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val p = Graph.profile(k4).collect().head
    // K4: 4 nodes, 6 edges, deg 3 each, wedges 4·C(3,2)=12, triangles
    // C(4,3)=4 → 3·4/12 = 1.0 exactly
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3),
      p.getLong(4), p.getLong(5)) === ((4L, 6L, 3L, 12L, 4L, 1000000L)))
    val path = Graph.profile(pathEdges(1)).collect().head
    assert(path.getLong(4) === 0L && path.getLong(5) === 0L)
    // dup/direction/self-loop cleaning keeps the same profile
    val messy = k4.union(Seq((2L, 1L), (3L, 3L)).toDF("src", "dst"))
    assert(Graph.profile(messy).collect().head.toSeq === p.toSeq)
  }

  test("duplicate input edges do not change the result") {
    val once = Graph.pageRank(pathEdges(1), iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dup = Graph.pageRank(pathEdges(1).union(pathEdges(1)), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once === dup)
  }

  /** The integer rank recurrence of [[Graph.pageRank]] (`seeds` empty)
    * or [[Graph.personalizedPageRank]] replayed on the driver.
    */
  private def driverRanks(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val nodes = e.flatMap { case (u, v) => Seq(u, v) }.distinct
    val (init, restart) =
      if (seeds.isEmpty) { val i = S / nodes.size; (nodes.map(_ -> i).toMap, nodes.map(_ -> i * 15 / 100).toMap) }
      else (seeds.map(_ -> S / seeds.size).toMap, seeds.map(_ -> (S * 15 / 100) / seeds.size).toMap)
    (1 to iters).foldLeft(nodes.map(v => v -> init.getOrElse(v, 0L)).toMap) { (r, _) =>
      val in = e.groupBy(_._2).map { case (v, es) => v -> es.map { case (u, _) => r(u) / outdeg(u) }.sum }
      nodes.map(v => v -> (restart.getOrElse(v, 0L) + 85L * in.getOrElse(v, 0L) / 100)).toMap
    }
  }

  test("pageRank and personalizedPageRank past a lineage cut match the driver recurrence") {
    val iters = 10
    assert(Graph.checkpointEvery < iters, "the run must cross a lineage cut")
    // a cycle with a chord, a dangling sink (6), a source-only node (7)
    // and a duplicate edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 5L), (5L, 6L), (7L, 1L), (1L, 2L))
    for (parts <- Seq(1, 3)) {
      val df = edges.toDF("src", "dst").repartition(parts)
      def ranks(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ranks(Graph.pageRank(df, iters)) === driverRanks(edges, Nil, iters), s"parts=$parts")
      assert(ranks(Graph.personalizedPageRank(df, Seq(1L, 4L), iters)) ===
        driverRanks(edges, Seq(1L, 4L), iters), s"parts=$parts")
    }
  }

  test("pageRank and personalizedPageRank keep at most one lineage cut cached") {
    val iters = 2 * Graph.checkpointEvery + 1 // cuts after two rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 5L), (5L, 6L), (7L, 1L), (1L, 2L))
    val sc = spark.sparkContext
    def ranks(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((run, seeds) <- Seq[(org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Seq[Long])](
        (Graph.pageRank(_, iters), Nil),
        (Graph.personalizedPageRank(_, Seq(1L, 4L), iters), Seq(1L, 4L)))) {
      val df = edges.toDF("src", "dst").repartition(2)
      val before = sc.getPersistentRDDs.keySet
      val out = run(df)
      // the edges, the degree join and the node set are checkpointed
      // inputs; of the two rank cuts, the first is freed by the second
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size <= 3 + 1, added)
      assert(ranks(out) === driverRanks(edges, seeds, iters))
    }
  }
}
