package graft

import graft.operators.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def ranks(pairs: Seq[(Long, Long)]): Map[Long, Double] =
    Graph.pageRank(pairs.toDF("a_id", "b_id"))
      .as[(Long, Double)].collect().toMap

  test("pagerank conserves mass (no dangling nodes on a symmetrized graph)") {
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L)))
    assert(math.abs(r.values.sum - 1.0) < 1e-9, r)
  }

  test("pagerank is uniform on a regular graph (triangle)") {
    val r = ranks(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9, r))
  }

  test("pagerank ranks a star's center above its leaves") {
    val r = ranks(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)))
    val leaves = Seq(1L, 2L, 3L, 4L).map(r)
    assert(leaves.forall(_ < r(10L)), r)
    // leaves are symmetric: identical ranks
    assert(leaves.distinct.size == 1, r)
  }

  test("pageRankWeighted reduces to pageRank under uniform weights") {
    import org.apache.spark.sql.functions.{col, lit}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    // any constant weight cancels in w/wdeg — same walk as the unweighted
    // form up to float-ulp noise from the extra multiply/divide
    val rw = Graph.pageRankWeighted(
        pairs.toDF("a_id", "b_id").withColumn("w", lit(7L)))
      .as[(Long, Double)].collect().toMap
    val r = ranks(pairs)
    assert(rw.keySet == r.keySet, rw)
    rw.foreach { case (id, v) => assert(math.abs(v - r(id)) < 1e-12, (id, v, r(id))) }
    assert(math.abs(rw.values.sum - 1.0) < 1e-9, rw)
  }

  test("personalizedPageRankWeighted reduces to the unweighted PPR under uniform weights") {
    import org.apache.spark.sql.functions.{col, lit}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val seed = col("id") % 2 === 0
    val rw = Graph.personalizedPageRankWeighted(
        pairs.toDF("a_id", "b_id").withColumn("w", lit(5L)), isSource = seed)
      .as[(Long, Double)].collect().toMap
    val r = Graph.personalizedPageRank(pairs.toDF("a_id", "b_id"), isSource = seed)
      .as[(Long, Double)].collect().toMap
    assert(rw.keySet == r.keySet, rw)
    rw.foreach { case (id, v) => assert(math.abs(v - r(id)) < 1e-12, (id, v, r(id))) }
  }

  test("pageRankWeighted shifts mass toward the heavy edge") {
    import org.apache.spark.sql.functions.lit
    // path a-b-c with w(a,b) >> w(b,c): b routes nearly all its mass to a,
    // so rank(a) > rank(c); the unweighted walk would tie them exactly
    val wp = Seq((1L, 2L, 9999L), (2L, 3L, 1L)).toDF("a_id", "b_id", "w")
    val rw = Graph.pageRankWeighted(wp).as[(Long, Double)].collect().toMap
    assert(rw(1L) > rw(3L) + 0.1, rw)
    assert(math.abs(rw.values.sum - 1.0) < 1e-9, rw)
    val ru = ranks(Seq((1L, 2L), (2L, 3L)))
    assert(math.abs(ru(1L) - ru(3L)) < 1e-12, ru)
  }

  test("triangleStats counts one triangle + a dangling edge (clustering 3/5)") {
    // triangle 1-2-3 plus pendant 3-4: wedges = C(2,2)+C(2,2)+C(3,2)+0 = 5
    val df = Graph.triangleStats(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a_id", "b_id"))
    val (tri, wed, cc) = df.as[(Long, Long, Double)].head()
    assert(tri == 1L && wed == 5L && math.abs(cc - 0.6) < 1e-9, (tri, wed, cc))
  }

  test("triangleStats is zero-triangle on a path, full on K4") {
    val path = Graph.triangleStats(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Double)].head()
    assert(path._1 == 0L && path._3 == 0.0, path)
    // K4: 4 triangles, degrees all 3 -> wedges 12, clustering 3*4/12 = 1
    val k4 = Graph.triangleStats(
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
        .toDF("a_id", "b_id"))
      .as[(Long, Long, Double)].head()
    assert(k4._1 == 4L && k4._2 == 12L && k4._3 == 1.0, k4)
  }

  test("degreeDistribution on a star: one hub of degree n, n leaves of degree 1") {
    val got = Graph.degreeDistribution(
      Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)).toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 4L -> 1L), got)
  }

  test("kCore: paths peel to nothing, cycles survive whole, pendants drop") {
    // path 1-2-3-4: every peel round removes the endpoints -> empty 2-core
    val path = Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id"), k = 2).count()
    assert(path == 0L)
    // cycle 1-2-3-4-1: all degree 2 -> the whole cycle IS the 2-core
    val cyc = Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a_id", "b_id"), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(cyc == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L), cyc)
    // triangle with a pendant chain 3-5-6: chain peels, triangle stays
    val tri = Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 5L), (5L, 6L)).toDF("a_id", "b_id"),
      k = 2).as[(Long, Long)].collect().toMap
    assert(tri == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), tri)
  }

  test("kCore delta peel equals the naive re-filter reference on random graphs") {
    // the r12 rewrite's correctness argument (deg over the surviving
    // subgraph = deg0 minus dropped neighbors, by induction; zero-degree
    // survivors absent) pinned against an INDEPENDENT in-Scala naive
    // reference — recompute degrees, drop <k, re-filter edges — across
    // random graphs, both k values the inventory uses, and round budgets
    // that stop MID-peel (rounds=1,2) as well as past the fixpoint (10)
    for (seed <- Seq(11, 23); k <- Seq(2, 3); rounds <- Seq(1, 2, 10)) {
      val rng = new scala.util.Random(seed * 100 + k)
      val n = 40
      val edges = (1 to 120)
        .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      var adj: Set[(Long, Long)] =
        edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      for (_ <- 1 to rounds) {
        val deg = adj.groupBy(_._1).map { case (v, es) => v -> es.size }
        val keep = deg.filter(_._2 >= k).keySet
        adj = adj.filter { case (a, b) => keep(a) && keep(b) }
      }
      val want = adj.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val got = Graph.kCore(edges.toDF("a_id", "b_id"), k = k, rounds = rounds)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed k=$k rounds=$rounds")
    }
  }

  test("labelPropagation converges each disjoint triangle to its min label") {
    val got = Graph.labelPropagation(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
        .toDF("a_id", "b_id"), rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), got)
  }

  test("commonNeighbors predicts exactly the non-adjacent wedge endpoints") {
    // path 1-2-3: the only prediction is (1,3) via center 2; nj = 1/1 = 1.0
    // (N(1)={2}, N(3)={2}). Adding edge 1-3 closes the wedge -> no rows.
    val path = Graph.commonNeighbors(Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(path == Seq((1L, 3L, 1L, 1.0)), path)
    val closed = Graph.commonNeighbors(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a_id", "b_id")).count()
    assert(closed == 0L)
    // square 1-2-3-4-1: predictions (1,3) and (2,4), each with 2 common
    // neighbors out of deg 2+2-2 = 2 -> nj = 1.0
    val sq = Graph.commonNeighbors(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sq == Seq((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)), sq)
    // reverse-oriented and duplicate edges canonicalize: same square, edges
    // written backwards and repeated, identical predictions
    val messy = Graph.commonNeighbors(
      Seq((2L, 1L), (3L, 2L), (3L, 4L), (4L, 1L), (1L, 2L))
        .toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(messy == sq, messy)
  }

  test("modularity: two disjoint triangles score 0.25 each (Q = 0.5)") {
    // LPA resolves each triangle to its min label; m = 6, per community
    // e_in = 3, deg_sum = 6 -> 3/6 - (6/12)^2 = 0.25
    val got = Graph.modularity(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
        .toDF("a_id", "b_id"), rounds = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 6L, 0.25), (10L, 3L, 3L, 6L, 0.25)), got)
  }

  test("bfsHops: exact hop distances on a path seeded at 0") {
    // seedMod larger than any id: only node 0 (0 % m == 0) seeds
    val got = Graph.bfsHops(
      Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a_id", "b_id"),
      seedMod = 1000, rounds = 6).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), got)
  }

  test("bfsHops: bounded radius truncates; seedless components are absent") {
    val got = Graph.bfsHops(
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"),
      seedMod = 1000, rounds = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L), got)
  }

  test("bfsHops matches in-Scala multi-source BFS on random graphs") {
    import org.scalacheck.{Gen, rng}
    val edgeGen = Gen.listOfN(35,
      Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
    def bruteBfs(edges: Seq[(Long, Long)], seedMod: Long, rounds: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keySet
      var hops = nodes.filter(_ % seedMod == 0).map(_ -> 0L).toMap
      for (r <- 1 to rounds) {
        val frontier = hops.collect { case (n, h) if h == r - 1 => n }
        val reached = frontier.flatMap(adj).filterNot(hops.contains)
        hops = hops ++ reached.map(_ -> r.toLong)
      }
      hops
    }
    (0 until 5).foreach { i =>
      val edges = edgeGen.apply(Gen.Parameters.default, rng.Seed(9000L + i)).get
      if (edges.nonEmpty) {
        // rounds 25 >= any possible diameter: full BFS; rounds 2: truncated
        Seq(25, 2).foreach { rounds =>
          val exp = bruteBfs(edges, seedMod = 3, rounds = rounds)
          val got = Graph.bfsHops(edges.toDF("a_id", "b_id"),
            seedMod = 3, rounds = rounds).as[(Long, Long)].collect().toMap
          assert(got == exp, s"seed=${9000 + i} rounds=$rounds: $got vs $exp")
        }
      }
    }
  }

  /** Un-normalized integer HITS brute force: the exact recurrence
    * Graph.hits runs, in plain Scala maps.
    */
  private def bruteHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      a = nodes.map(n => n -> e.filter(_._2 == n).map(p => h(p._1)).sum).toMap
      h = nodes.map(n => n -> e.filter(_._1 == n).map(p => a(p._2)).sum).toMap
    }
    nodes.map(n => n -> (h(n), a(n))).toMap
  }

  test("hits matches the integer brute force on hand + random digraphs") {
    val hand = Seq((1L, 2L), (1L, 3L), (4L, 3L), (3L, 2L), (5L, 2L))
    val rnd = {
      val r = new scala.util.Random(77)
      Seq.fill(40)((r.nextInt(12).toLong, r.nextInt(12).toLong))
        .filter(p => p._1 != p._2)
    }
    Seq(hand, rnd).foreach { edges =>
      val exp = bruteHits(edges, iters = 5)
      val got = Graph.hits(edges.toDF("src", "dst"), iters = 5)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(got.map(r => r._1 -> (r._2, r._3)).toMap == exp)
      // bp columns floor-normalize against the max of each score
      val mh = math.max(exp.values.map(_._1).max, 1L)
      val ma = math.max(exp.values.map(_._2).max, 1L)
      got.foreach { r =>
        assert(r._4 == r._2 * 10000 / mh && r._5 == r._3 * 10000 / ma, r)
      }
    }
  }

  test("eccentricityStats reports diameter/radius/centers per component") {
    // Component {1,2,3,4}: path 1-2-3-4 → ecc (3,2,2,3), diameter 3,
    // radius 2, centers {2,3}. Component {10,11,12,13}: star centered at
    // 10 → ecc (1,2,2,2), diameter 2, radius 1, one center.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val got = Graph.eccentricityStats(pairs, maxHops = 10)
      .orderBy("comp")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 3L, 2L, 2L), (10L, 4L, 2L, 1L, 1L)), got)
  }

  test("closeness + harmonic agree on hand geometry from ONE shared relaxation") {
    // path 1-2-3-4: endpoint dists (1,2,3) → closeness floor(30000/6)=5000,
    // harmonic 10000+5000+3333; inner dists (1,1,2) → floor(30000/4)=7500,
    // harmonic 25000. Star 10-(11,12,13): center (1,1,1) → 10000 / 30000;
    // leaf (1,2,2) → floor(30000/5)=6000 / 20000.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val dist = Graph.allPairsDist(pairs, maxHops = 10)
    val clo = Graph.closenessFromDist(dist)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    val har = Graph.harmonicFromDist(dist)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    graft.operators.Dedup.release(dist)
    assert(clo == Map(1L -> 5000L, 2L -> 7500L, 3L -> 7500L, 4L -> 5000L,
      10L -> 10000L, 11L -> 6000L, 12L -> 6000L, 13L -> 6000L), clo)
    assert(har == Map(1L -> 18333L, 2L -> 25000L, 3L -> 25000L, 4L -> 18333L,
      10L -> 30000L, 11L -> 20000L, 12L -> 20000L, 13L -> 20000L), har)
  }

  test("stress centrality counts shortest paths through each node (path + star + diamond)") {
    // path 1-2-3-4: through 2 pass (1,3) and (1,4) -> 2; symmetric for 3;
    // endpoints carry nothing. Star 10-(11,12,13): every leaf pair routes
    // through the hub -> C(3,2) = 3; leaves 0.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val dist = Graph.allPairsDist(pairs, maxHops = 10)
    val got = Graph.stressFromDist(dist, pairs)
      .as[(Long, Long)].collect().toMap
    graft.operators.Dedup.release(dist)
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L,
      10L -> 3L, 11L -> 0L, 12L -> 0L, 13L -> 0L), got)
    // diamond 20-21-23 / 20-22-23: TWO shortest paths between the poles,
    // one through each middle node — sigma multiplicity must count both
    val dm = Seq((20L, 21L), (20L, 22L), (21L, 23L), (22L, 23L))
      .toDF("a_id", "b_id")
    val dist2 = Graph.allPairsDist(dm, maxHops = 10)
    val got2 = Graph.stressFromDist(dist2, dm)
      .as[(Long, Long)].collect().toMap
    graft.operators.Dedup.release(dist2)
    // through 21: pair (20,23) has sigma 1*1 = 1 via 21 (and 1 via 22);
    // poles carry the (21,22) pair? d(21,20)+d(20,22)=2=d(21,22) AND the
    // 23-route too: sigma_{21,22}(20) = 1, sigma_{21,22}(23) = 1
    assert(got2 == Map(20L -> 1L, 21L -> 1L, 22L -> 1L, 23L -> 1L), got2)
  }

  test("stressSampled with sample = ALL sources equals exactly 2x exact stress") {
    // Each unordered (s,t) pair is counted from both endpoints in the
    // sampled (ordered) statistic, so a sample covering every source must
    // reproduce 2x stressFromDist — on the path+star AND on the diamond,
    // whose sigma multiplicity (two shortest paths between the poles) is
    // the case a broken sigma-sum would miss.
    import org.apache.spark.sql.functions.lit
    Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L),
        (10L, 11L), (10L, 12L), (10L, 13L)),
      Seq((20L, 21L), (20L, 22L), (21L, 23L), (22L, 23L))
    ).foreach { edges =>
      val pairs = edges.toDF("a_id", "b_id")
      val dist = Graph.allPairsDist(pairs, maxHops = 10)
      val exact = Graph.stressFromDist(dist, pairs)
        .as[(Long, Long)].collect().toMap
      graft.operators.Dedup.release(dist)
      val sampled = Graph.stressSampled(pairs, isSource = lit(true), maxHops = 10)
        .as[(Long, Long)].collect().toMap
      assert(sampled == exact.map { case (k, v) => k -> v * 2 },
        s"$edges: $sampled vs 2x $exact")
    }
  }

  test("stressSampled from a single source accumulates Brandes dependencies") {
    // path 1-2-3-4, S = {1}: delta_1(2) = sigma(1,2)*g(2) = 1*2 (targets
    // 3 and 4 route through 2), delta_1(3) = 1, endpoints 0.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val got = Graph.stressSampled(pairs, isSource = $"id" === 1L, maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 0L), got)
  }

  test("effectiveDiameterApprox is sparse-exact on tiny components") {
    // path 1-2-3-4 + star 10-(11,12,13): 24 reachable ordered pairs with
    // hop distribution d1:12, d2:10, d3:2 -> 90% coverage first reached at
    // h = 2 (cum 22/24); HLL sketches are exact at these ball sizes.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val got = Graph.effectiveDiameterApprox(pairs, maxHops = 10, pct = 90)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((24L, 2L)), got)
    // pct = 100 demands full coverage -> the true bounded diameter (3)
    val full = Graph.effectiveDiameterApprox(pairs, maxHops = 10, pct = 100)
      .as[(Long, Long)].collect().toSeq
    assert(full == Seq((24L, 3L)), full)
  }

  test("weightedDistStats: min-sum relaxation beats the direct edge") {
    // triangle 1-2 (w=5), 2-3 (w=1), 1-3 (w=10): d(1,3) = 6 via 2, not 10
    val w = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("a_id", "b_id", "w")
    val got = Graph.weightedDistStats(w, rounds = 10)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got == Map(
      1L -> ((1L, 2L, 11L, 6L)), 2L -> ((2L, 2L, 6L, 5L)),
      3L -> ((3L, 2L, 7L, 6L))), got)
    // bounded rounds truncate: path 1-2-3 (w=2 each) at rounds=1 reaches
    // only direct neighbors
    val p = Seq((1L, 2L, 2L), (2L, 3L, 2L)).toDF("a_id", "b_id", "w")
    val trunc = Graph.weightedDistStats(p, rounds = 1)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(trunc == Map(
      1L -> ((1L, 1L, 2L, 2L)), 2L -> ((2L, 2L, 4L, 2L)),
      3L -> ((3L, 1L, 2L, 2L))), trunc)
  }

  test("randomWalks follow the hash-argmin deterministically and stay on edges") {
    import org.apache.spark.sql.functions.lit
    // path 1-2-3: from start 2 the first hop picks argmin_h over {1, 3};
    // replay the hash in plain Scala and check every hop is an edge and
    // matches the replayed argmin — the walk is a pure function of the
    // graph, twice-run identical.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    def h(wid: Long, step: Long, nb: Long): Long =
      java.lang.Math.floorMod((wid & 2147483647L) * 2654435761L
        + step * 40503L + (nb & 2147483647L) * 97781L, 1000000007L)
    val got = Graph.randomWalks(edges.toDF("a_id", "b_id"),
        isStart = lit(true), steps = 5)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (w, rows) =>
        w -> rows.sortBy(_._2).map(_._3).toSeq
      }
    assert(got.keySet == adj.keySet, got.keySet)
    got.foreach { case (wid, path) =>
      assert(path.head == wid && path.length == 6, (wid, path))
      path.sliding(2).zipWithIndex.foreach { case (Seq(u, v), i) =>
        assert(adj(u).contains(v), s"walk $wid hop $u->$v not an edge")
        val expect = adj(u).map(nb => (h(wid, i + 1L, nb), nb)).min._2
        assert(v == expect, s"walk $wid step ${i + 1}: $v vs argmin $expect")
      }
    }
    val again = Graph.randomWalks(edges.toDF("a_id", "b_id"),
        isStart = lit(true), steps = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(again == got.toSeq.sortBy(_._1)
      .flatMap { case (w, p) => p.zipWithIndex.map { case (n, i) => (w, i.toLong, n) } },
      "second run differs — walk is not deterministic")
  }

  test("kTruss peels chains, keeps triangles, and reports final support") {
    // triangle 1-2-3 with pendant chain 3-4-5 and a separate path 10-11:
    // k=3 keeps exactly the triangle (each edge in 1 triangle), peels
    // everything else. K4: every edge closes 2 triangles.
    val got = Graph.kTruss(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("a_id", "b_id"), k = 3, rounds = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)), got)
    val k4 = Graph.kTruss(
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
        .toDF("a_id", "b_id"), k = 4, rounds = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(k4.size == 6 && k4.forall(_._3 == 2L), k4)
    // k=4 on the lone triangle (support 1 < k-2=2): fully peeled
    val peeled = Graph.kTruss(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a_id", "b_id"),
      k = 4, rounds = 5).count()
    assert(peeled == 0L)
  }

  test("closenessApprox is sparse-exact on dedup-cluster-sized components") {
    // HLL sketches are exact below the sparse-mode threshold, so on tiny
    // components the HyperANF estimates must EQUAL the exact walk — the
    // regime every dedup-cluster graph lives in (estimation error only
    // enters on giant components; GraphStreamScaleSpec bounds that case).
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val exact = Graph.closenessStats(pairs, maxHops = 10)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val approx = Graph.closenessApprox(pairs, maxHops = 10)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet, (approx.keySet, exact.keySet))
    exact.foreach { case (id, (_, n, s, bp)) =>
      assert(approx(id) == ((id, n, s, bp)), s"id=$id ${approx(id)} vs exact ($n,$s,$bp)")
    }
  }

  test("hits separates hubs from authorities on a bipartite fan") {
    // 1,2,3 each point at 8,9: pure hubs left, pure authorities right
    val df = Graph.hits(
      Seq((1L, 8L), (1L, 9L), (2L, 8L), (2L, 9L), (3L, 8L), (3L, 9L))
        .toDF("src", "dst"), iters = 5)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    Seq(1L, 2L, 3L).foreach { n =>
      assert(df(n)._3 == 0L, s"hub $n has authority ${df(n)}")
      assert(df(n)._2 > 0L)
    }
    Seq(8L, 9L).foreach { n =>
      assert(df(n)._2 == 0L, s"authority $n has hub score ${df(n)}")
      assert(df(n)._3 > 0L)
    }
  }

  test("resourceAllocation quantizes 1/deg exactly and skips adjacent pairs") {
    // star 5-{1,2,3,4} plus exclusive center 6-{1,2}: (1,2) is predicted
    // through BOTH centers (ra = 1e6/4 + 1e6/2), the star-only pairs
    // through 5 alone (1e6/4), and (5,6) through the two deg-2 bridges
    val got = Graph.resourceAllocation(
      Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L), (6L, 1L), (6L, 2L))
        .toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 2L, 750000L), (1L, 3L, 1L, 250000L), (1L, 4L, 1L, 250000L),
      (2L, 3L, 1L, 250000L), (2L, 4L, 1L, 250000L), (3L, 4L, 1L, 250000L),
      (5L, 6L, 2L, 1000000L)), got)
  }

  test("resourceAllocation ranks one exclusive shared neighbor above two shared hubs") {
    // (a,b) share two degree-5 hubs (common=2, ra=400000); (c,d) share one
    // degree-2 exclusive center (common=1, ra=500000) — RA flips the
    // common-neighbor ranking exactly where hub evidence should be weak
    val edges = Seq(
      (100L, 1L), (100L, 2L), (100L, 31L), (100L, 32L), (100L, 33L),
      (200L, 1L), (200L, 2L), (200L, 41L), (200L, 42L), (200L, 43L),
      (300L, 3L), (300L, 4L))
    val got = Graph.resourceAllocation(edges.toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 2L)) == ((2L, 400000L)), got.get((1L, 2L)))
    assert(got((3L, 4L)) == ((1L, 500000L)), got.get((3L, 4L)))
    assert(got((3L, 4L))._2 > got((1L, 2L))._2 &&
      got((1L, 2L))._1 > got((3L, 4L))._1, "ranking flip lost")
  }

  test("louvainMove computes exact singleton gains on the triangle+pendant") {
    // edges (1,2),(2,3),(1,3),(1,4): m=4, deg 1→3, 2→2, 3→2, 4→1;
    // gain(i→{j}) = 2m − deg(i)·deg(j), best = lowest-degree neighbor
    val got = Graph.louvainMove(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 4L, 5L, 1L), (2L, 2L, 3L, 4L, 1L),
      (3L, 2L, 2L, 4L, 1L), (4L, 1L, 1L, 5L, 1L)), got)
  }

  test("louvainMove equals the naive singleton-gain reference on random graphs") {
    for (seed <- Seq(7, 19, 42)) {
      val rng = new scala.util.Random(seed)
      val n = 30
      val edges = (1 to 80)
        .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      val deg = adj.map { case (v, nbs) => v -> nbs.size.toLong }
      val m = edges.size.toLong
      val want = adj.map { case (v, nbs) =>
        val (g, nb) = nbs.toSeq
          .map(j => (2 * m - deg(v) * deg(j), j)).minBy(t => (-t._1, t._2))
        (v, deg(v), if (g > 0) nb else v, g, if (g > 0) 1L else 0L)
      }.toSet
      val got = Graph.louvainMove(edges.toDF("a_id", "b_id"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("louvainTwoLevel: two triangles + bridge resolve in one move phase (hand case)") {
    // edges: triangles {0,1,2} and {3,4,5} bridged by (2,3); m=7, 2m=14.
    // Hand trace (also re-derived by the naive reference below):
    //   sweep 1 (all): 0↔1 swap, 2→0, 3→4, 4↔5 swap (singleton rule);
    //   sweep 2 (even): 0 rejoins {1,2} (g=18), 2 stays (own-tie
    //     preference vs c1 at g=8), 4 rejoins {3,5} (g=18);
    //   sweep 3 (odd): every triangle member stays — local optimum at
    //     exactly the two triangles;
    //   level 2: merging across the bridge scores 14·1 − 7·7 = −35 < 0,
    //     so the coarse sweep correctly declines it.
    // Modularity (Q·(2m)² units): singletons −Σdeg² = −34; both levels
    // 2·(14·2·3 − 49) = 70.
    val got = Graph.louvainTwoLevel(
      Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
        .toDF("a_id", "b_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 6L, -34L), (1L, 2L, 70L), (2L, 2L, 70L)), got)
  }

  test("louvainTwoLevel equals a naive two-level reference on random graphs") {
    for (seed <- Seq(7, 19, 42)) {
      val rng = new scala.util.Random(seed)
      val n = 24
      val edges = (1 to 60)
        .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val nodes = adj.map(_._1).distinct.sorted
      val deg = adj.groupBy(_._1).map { case (v, l) => v -> l.size.toLong }
      val m2 = 2L * edges.size
      def sweep(comm: Map[Long, Long], elig: Long => Boolean): Map[Long, Long] = {
        val stot = comm.toSeq.groupBy(_._2)
          .map { case (c, ms) => c -> ms.map(x => deg(x._1)).sum }
        nodes.map { i =>
          val a = comm(i)
          val kic = adj.filter(_._1 == i).map(x => comm(x._2))
            .groupBy(identity).map { case (c, l) => c -> l.size.toLong }
          val best = (kic.keySet + a).toSeq.map { c =>
            val st = stot(c) - (if (c == a) deg(i) else 0L)
            (-(m2 * kic.getOrElse(c, 0L) - deg(i) * st),
              if (c == a) 0L else 1L, c)
          }.min
          i -> (if (elig(i)) best._3 else a)
        }.toMap
      }
      val c0 = nodes.map(v => v -> v).toMap
      val c3 = sweep(sweep(sweep(c0, _ => true), _ % 2 == 0), _ % 2 == 1)
      val ce = edges.groupBy { case (a, b) =>
        (math.min(c3(a), c3(b)), math.max(c3(a), c3(b))) }
        .map { case (k, l) => k -> l.size.toLong }
      val cnodes = c3.values.toSeq.distinct
      val wd = cnodes.map { u =>
        u -> (ce.collect { case ((x, y), w) if x != y && (x == u || y == u) => w }.sum
          + 2 * ce.getOrElse((u, u), 0L))
      }.toMap
      // level-2 naive reference: the SAME weighted 3-sweep parity schedule
      // as the engine (k = summed edge weight into the community, wtot =
      // summed weighted degree, self-loops excluded from k)
      def wsweep(comm: Map[Long, Long], elig: Long => Boolean): Map[Long, Long] = {
        val stot = comm.toSeq.groupBy(_._2)
          .map { case (c, ms) => c -> ms.map(x => wd(x._1)).sum }
        cnodes.map { u =>
          val a = comm(u)
          val kuc = ce.toSeq.collect {
              case ((x, y), w) if x != y && (x == u || y == u) =>
                comm(if (x == u) y else x) -> w
            }.groupBy(_._1).map { case (c, l) => c -> l.map(_._2).sum }
          val best = (kuc.keySet + a).toSeq.map { c =>
            val st = stot(c) - (if (c == a) wd(u) else 0L)
            (-(m2 * kuc.getOrElse(c, 0L) - wd(u) * st),
              if (c == a) 0L else 1L, c)
          }.min
          u -> (if (elig(u)) best._3 else a)
        }.toMap
      }
      val l2c0 = cnodes.map(u => u -> u).toMap
      val l2 = wsweep(wsweep(wsweep(l2c0, _ => true), _ % 2 == 0), _ % 2 == 1)
      val cf = c3.map { case (i, c) => i -> l2(c) }
      def q(comm: Map[Long, Long]): (Long, Long) = {
        val tot = comm.toSeq.groupBy(_._2)
          .map { case (c, ms) => c -> ms.map(x => deg(x._1)).sum }
        val intra = edges.filter { case (a, b) => comm(a) == comm(b) }
          .groupBy(x => comm(x._1)).map { case (c, l) => c -> l.size.toLong }
        (tot.size.toLong,
          tot.map { case (c, t) => m2 * 2 * intra.getOrElse(c, 0L) - t * t }.sum)
      }
      val want = Seq(q(c0), q(c3), q(cf)).zipWithIndex
        .map { case ((nc, qv), i) => (i.toLong, nc, qv) }
      val got = Graph.louvainTwoLevel(edges.toDF("a_id", "b_id"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == want, s"seed=$seed got=$got want=$want")
    }
  }

  test("louvainTwoLevel: mutually-preferring coarse communities MERGE at level 2") {
    // The accepted-merge case the declined-merge hand test can't cover —
    // and the exact failure a single fully-parallel coarse sweep has: two
    // coarse communities whose best (and only) target is each other would
    // SWAP labels (partition unchanged, merge silently skipped). Graph:
    // triangles {1,3,5} and {2,4,6} with low bridges (1,2),(3,4),(5,6),
    // plus a disconnected K6 ballast on 11..16 that inflates m2 so the
    // coarse merge gain turns positive. Level 1 settles at 3 communities:
    // comm 1 = {1,3,4,5,6}, comm 2 = {2}, and the K6. Coarse frame:
    // intra(1) = 6 (triangle A + 4-6 + bridges 3-4, 5-6), w(1,2) = 3
    // (bridge 1-2 + B edges 2-4, 2-6), wd(1) = 15, wd(2) = 3, m2 = 48 —
    // merge gain both ways = 48·3 − 15·3 = 99 > 0, each the other's ONLY
    // neighbor: mutual preference. Parity schedule: sweep 1 swaps them,
    // sweep 2 (even coarse id) moves 2 back into 1's label — MERGED —
    // and sweep 3 keeps it (staying scores 48·3 − 3·15 = 99 > 0 vs 0 for
    // leaving). Q·(2m)² rises 882 → 1080; a swap would have left 882.
    val triA = Seq((1L, 3L), (3L, 5L), (1L, 5L))
    val triB = Seq((2L, 4L), (4L, 6L), (2L, 6L))
    val bridges = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val k6 = (11L to 16L).combinations(2).map(p => (p(0), p(1))).toSeq
    val pairs = (triA ++ triB ++ bridges ++ k6).toDF("a_id", "b_id")
    val rep = Graph.louvainTwoLevel(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rep == Seq((0L, 12L, -204L), (1L, 3L, 882L), (2L, 2L, 1080L)), rep)
    assert(rep(2)._3 > rep(1)._3, "level-2 Q must exceed level-1 Q on a merge")
    val members = Graph.louvainMemberTable(pairs)
      .as[(Long, Long, Long)].collect()
    val finalOf = members.map(r => r._1 -> r._3).toMap
    assert((1L to 6L).map(finalOf).toSet.size == 1,
      "both triangle communities must share ONE final label after the merge")
    assert(finalOf(11L) != finalOf(1L), "the K6 ballast stays separate")
  }

  test("louvainLevels: levels 0-2 equal louvainTwoLevel, and a fixpoint repeats its row") {
    // same mutual-merge graph as above: converges at the 2-community
    // partition by level 2, so levels 3 and 4 must REPEAT that row
    // (DQ = 0 shows as consecutive equal rows — the convergence signal)
    val triA = Seq((1L, 3L), (3L, 5L), (1L, 5L))
    val triB = Seq((2L, 4L), (4L, 6L), (2L, 6L))
    val bridges = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val k6 = (11L to 16L).combinations(2).map(p => (p(0), p(1))).toSeq
    val pairs = (triA ++ triB ++ bridges ++ k6).toDF("a_id", "b_id")
    val lv = Graph.louvainLevels(pairs, levels = 4)
      .as[(Long, Long, Long)].collect().toSeq
    val two = Graph.louvainTwoLevel(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(lv.take(3) == two,
      s"levels 0-2 must equal the two-level report: $lv vs $two")
    assert(lv(3) == (3L, lv(2)._2, lv(2)._3) && lv(4) == (4L, lv(2)._2, lv(2)._3),
      s"converged partition must repeat its (n_comms, q) row: $lv")
    // and Q is monotone non-decreasing across levels (the property the
    // level-2 parity fix restored)
    assert(lv.map(_._3).sliding(2).forall(p => p(1) >= p(0)), lv)
  }

  test("node2vecWalks reduces to randomWalks under uniform weights") {
    import org.apache.spark.sql.functions.lit
    // with all three weights 100 the key is (h·100) div 100 = h exactly —
    // the second-order walker must retrace the first-order trajectories
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
      .toDF("a_id", "b_id")
    val first = Graph.randomWalks(edges, isStart = lit(true), steps = 6)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val second = Graph.node2vecWalks(edges, isStart = lit(true), steps = 6,
        wReturn = 100L, wCommon = 100L, wFar = 100L)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(first == second, "uniform-weight node2vec diverged from randomWalks")
  }

  test("node2vecWalks equals the naive second-order reference and is deterministic") {
    import org.apache.spark.sql.functions.lit
    def h(wid: Long, step: Long, nb: Long): Long =
      java.lang.Math.floorMod((wid & 2147483647L) * 2654435761L
        + step * 40503L + (nb & 2147483647L) * 97781L, 1000000007L)
    for (seed <- Seq(5, 17)) {
      val rng = new scala.util.Random(seed)
      val n = 20
      val edges = (1 to 40)
        .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      val steps = 6
      // naive reference: key = (h·100) div w, w by node2vec class
      val want = adj.keySet.toSeq.sorted.flatMap { start =>
        var prev = -1L // sentinel: no prev at step 1
        var cur = start
        (0L to steps).map { st =>
          if (st > 0) {
            val next = adj(cur).map { nb =>
              val w = if (prev >= 0 && nb == prev) 25L
                else if (prev >= 0 && adj(prev).contains(nb)) 100L
                else 50L
              ((h(start, st, nb) * 100L) / w, nb)
            }.min._2
            prev = cur
            cur = next
          }
          (start, st, cur)
        }
      }
      val got = Graph.node2vecWalks(edges.toDF("a_id", "b_id"),
          isStart = lit(true), steps = steps)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == want, s"seed=$seed")
      val again = Graph.node2vecWalks(edges.toDF("a_id", "b_id"),
          isStart = lit(true), steps = steps)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(again == got, s"seed=$seed: second run differs")
    }
  }

  test("graphletCounts assigns exact size-3 orbits on the triangle+pendant") {
    // triangle (1,2,3) + pendant edge (1,4):
    //   node 1: deg 3, tri 1, wedge_center C(3,2)-1=2 (pairs {2,4},{3,4}),
    //           wedge_end 0 (1-2-3 and 1-3-2 are closed), cc 1/3
    //   node 2: deg 2, tri 1, wedge_center 0, wedge_end 1 (2-1-4), cc 1
    //   node 4: deg 1, tri 0, wedge_end 2 (4-1-2, 4-1-3), cc 0
    val got = Graph.graphletCounts(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 2L, 0L, 3333L), (2L, 2L, 1L, 0L, 1L, 10000L),
      (3L, 2L, 1L, 0L, 1L, 10000L), (4L, 1L, 0L, 0L, 2L, 0L)), got)
    // identity: total wedge_end = 2 x total wedge_center (each open wedge
    // has two ends and one center) on a random graph
    val rng = new scala.util.Random(31)
    val edges = (1 to 60)
      .map(_ => (rng.nextInt(25).toLong, rng.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val g = Graph.graphletCounts(edges.toDF("a_id", "b_id"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(g.map(_._5).sum == 2 * g.map(_._4).sum, "wedge end/center identity")
    // identity: sum of per-node tri = 3 x number of triangles
    assert(g.map(_._3).sum % 3 == 0, "per-node triangle sum not divisible by 3")
  }

  test("plantedDigraph emits exactly the chain + back-edge rules") {
    // 16 ids = two 8-id segments inside one bucket: chain 0->1..->15 and
    // back edges 5->2, 13->10; target-existence join must drop nothing
    // here (all targets exist) and the bucket rule must not fire (<40 ids)
    val got = Graph.plantedDigraph((0L until 16L).toDF("doc_id"))
      .as[(Long, Long)].collect().toSet
    val chain = (0L until 15L).map(i => (i, i + 1)).toSet
    assert(got == chain + ((5L, 2L)) + ((13L, 10L)), got)
  }

  test("sccLabels recovers the planted 4-cycle components (hand-traced)") {
    val docs = (0L until 16L).toDF("doc_id")
    val labels = Graph.sccLabels(docs.select($"doc_id".as("id")),
        Graph.plantedDigraph(docs))
      .as[(Long, Long)].collect().toMap
    val want = (0L until 16L).map { i =>
      i -> (if (i >= 2 && i <= 5) 2L else if (i >= 10 && i <= 13) 10L else i)
    }.toMap
    assert(labels == want, labels)
  }

  test("sccLabels matches a naive closure reference on random digraphs") {
    // independent reference: boolean Floyd-Warshall reachability + mutual-
    // reach minimum — shares no algorithmic structure with the doubling
    // closure under test
    def naiveScc(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
      val reach = Array.fill(n, n)(false)
      (0 until n).foreach(i => reach(i)(i) = true)
      edges.foreach { case (a, b) => reach(a)(b) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      (0 until n).map(v => v.toLong ->
        (0 until n).filter(u => reach(v)(u) && reach(u)(v)).min.toLong).toMap
    }
    for (seed <- Seq(7, 19, 43)) {
      val rng = new scala.util.Random(seed)
      val n = 22
      val edges = (1 to 50)
        .map(_ => (rng.nextInt(n), rng.nextInt(n)))
        .filter { case (a, b) => a != b }.distinct
      val got = Graph.sccLabels(
          (0L until n.toLong).toDF("id"),
          edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == naiveScc(n, edges), s"seed=$seed")
    }
  }

  test("sccCondensation of a planted bucket is a path (1 source, 1 sink)") {
    // one full 40-id bucket: 5 cycle SCCs + 20 singletons = 25 components,
    // condensation a path of 24 edges; a path's DAG has exactly one source
    // and one sink, and no edge may point backward in component-min order
    val docs = (0L until 40L).toDF("doc_id")
    val labels = Graph.sccLabels(docs.select($"doc_id".as("id")),
      Graph.plantedDigraph(docs))
    val ced = Graph.sccCondensation(Graph.plantedDigraph(docs), labels)
      .as[(Long, Long)].collect().toSeq
    val comps = labels.select($"scc").distinct().as[Long].collect().toSet
    assert(comps.size == 25, comps.size)
    assert(ced.size == 24, ced)
    assert(ced.forall { case (cs, cd) => cs < cd }, ced)
    val sources = comps -- ced.map(_._2).toSet
    val sinks = comps -- ced.map(_._1).toSet
    assert(sources == Set(0L) && sinks == Set(39L), (sources, sinks))
  }

  test("node2vecWalks return bias actually changes a trajectory") {
    import org.apache.spark.sql.functions.lit
    // heavily return-FAVORING weights vs return-PENALIZING weights on a
    // small dense graph must produce different trajectories somewhere —
    // pins that the bias term is live, not just plumbed through
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 4L))
      .toDF("a_id", "b_id")
    val favor = Graph.node2vecWalks(edges, isStart = lit(true), steps = 6,
        wReturn = 1000000L, wCommon = 1L, wFar = 1L)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val penal = Graph.node2vecWalks(edges, isStart = lit(true), steps = 6,
        wReturn = 1L, wCommon = 1L, wFar = 1L)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(favor != penal, "bias weights had no effect on any trajectory")
    // with a crushing return weight every step>=2 must bounce back to prev:
    // positions alternate cur, nb, cur, nb, ...
    favor.groupBy(_._1).foreach { case (wid, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      (2 until path.length).foreach { i =>
        assert(path(i) == path(i - 2),
          s"walk $wid step $i did not return under wReturn=1e6: $path")
      }
    }
  }

  test("gr_assortativity is NULL, not an error, when every dup pair is disjoint") {
    // two disjoint identical-text pairs and a singleton: every degree is 1,
    // so num = den = 0; the DuckDB oracle gives m2 = 4 (2 pairs, both
    // directions), num = 0, den = 0 and a NULL ratio
    val dir = java.nio.file.Files.createTempDirectory("assort").toString
    val texts = Seq("alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon",
      "one two three four five", "one two three four five", "red green blue cyan")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("gr_assortativity")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 0L, 0L)), r)
    assert(r.isNullAt(3), r)
  }
}
