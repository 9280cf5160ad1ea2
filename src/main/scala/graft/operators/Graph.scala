package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph scoring over pair tables (companion to the
  * connected-components keeper selection in [[Dedup]]): PageRank with a
  * fixed iteration count — duplicate-cluster centrality ("which document is
  * the canonical one"), reference-graph scoring, influence ranking.
  *
  * Scale shape (100 TB): each iteration is one equi-join of the edge table
  * with the rank vector plus one groupBy — the textbook distributed
  * formulation. Both shuffles key on the same node id, so a cluster run
  * co-partitions edges and ranks once and every iteration reuses that
  * partitioning; ranks are O(nodes), edges O(degree sum). A FIXED iteration
  * count (not a convergence test) keeps the result a pure deterministic
  * function of the graph — what the SQL oracle replays by unrolling.
  */
object Graph {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The teleport/damping split must stay a partition of the unit walk
    * probability: both PageRank variants take the two as INDEPENDENT
    * literals (teleport is deliberately NOT computed as 1 - damping — see
    * the operand-parity comment inside pageRank), so a caller overriding
    * damping alone would silently run a non-stochastic iteration whose
    * ranks no longer sum to 1. Fail loudly instead.
    */
  private def requireStochastic(damping: Double, teleport: Double): Unit =
    require(math.abs(teleport + damping - 1.0) < 1e-9,
      s"damping ($damping) + teleport ($teleport) must equal 1: override both together")

  /** PageRank on the undirected graph given as (a_id, b_id) pairs; returns
    * (id, rank). Symmetrized edges mean no dangling nodes (every node in
    * play has degree >= 1), so no dangling-mass redistribution term is
    * needed. Lazy plan: `iters` join+agg rounds chained — callers at scale
    * should checkpoint every few rounds (see Dedup.materialize); at
    * inventory scale the chain compiles and runs in one job.
    */
  def pageRank(pairs: DataFrame, iters: Int = 10, damping: Double = 0.85,
               teleport: Double = 0.15): DataFrame = {
    requireStochastic(damping, teleport)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // The (src, dst, deg) join is loop-INVARIANT: materialize it once so the
    // ten rounds each run one ranks join + one aggregate instead of also
    // re-deriving union+distinct+degree from the raw pairs — this halves the
    // per-round shuffle count (the cluster analogue is the pre-partitioned
    // adjacency-with-degree table every production PageRank keys on).
    // NOTE r15 negative result (guide §2.4 gotcha, second attempt): a
    // planner-visible hash(src)/hash(id) checkpoint layout (a repartition
    // on the key, checkpointed with AQE off so the relation keeps its hash
    // partitioning) was implemented and measured WORSE across the family
    // (gr_pagerank 1.74 -> 3.38 s solo, _weighted 1.89 -> 5.13, gr_ppr
    // 1.76 -> 3.08, _weighted 2.05 -> 5.39): at bench scale the rank vector
    // is broadcast-joined anyway (no adjacency re-exchange to remove), and
    // a FIXED-partitioning leaf disables AQE's tiny-shuffle coalescing for
    // every stage that joins it — each round ran 32-task micro-stages where
    // AQE had been coalescing to 1. The co-partitioned layout only pays
    // when partitions carry real data (the 100 TB posture stays in the
    // scaladoc); the bench-honest form is the plain stats-carrying
    // checkpoint + AQE.
    val edgesDeg = Dedup.materialize(edges.join(deg, "src"))
    val nn = broadcast(deg.agg(count(lit(1)).as("n")))
    val nodes = Dedup.materialize(
      deg.select(col("src").as("id")).crossJoin(nn))
    var ranks = nodes.select(col("id"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("contrib"))
      // teleport is its OWN literal, not 1 - damping: the binary 1 - 0.85
      // is 2 ulps above the double the oracle's decimal text "0.15" parses
      // to, and the unrolled-SQL contract is bit-exact operand parity (the
      // 6-decimal gate rounding made the mismatch latent, never safe).
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) / col("n")
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart): teleportation mass
    * goes to a SOURCE set instead of the uniform vector — "centrality as
    * seen from these seeds", the similar-item/recommendation scorer on a
    * duplicate/reference graph (scores concentrate in the seeds'
    * neighborhoods; far components get exactly 0 under a fixed iteration
    * count with no dangling mass).
    *
    * `isSource` is a boolean expression over the node id column `id`
    * (e.g. `col("id") % 2 === 0`) — keeping the seed set a declarative
    * predicate lets both engines derive it without a literal id list.
    * Same per-round shape and materialization discipline as [[pageRank]]:
    * the loop-invariant (src, dst, deg) table is materialized once, each
    * round is one co-partitioned join + aggregate, and the fixed `iters`
    * keeps the result a pure function of the graph for the unrolled SQL
    * oracle.
    */
  def personalizedPageRank(pairs: DataFrame, isSource: org.apache.spark.sql.Column,
                           iters: Int = 10, damping: Double = 0.85,
                           teleport: Double = 0.15): DataFrame = {
    requireStochastic(damping, teleport)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = Dedup.materialize(edges.join(deg, "src"))
    val flagged = deg.select(col("src").as("id"))
      .withColumn("is_src", when(isSource, 1).otherwise(0))
    // Fail LOUDLY on an empty seed set: sum(is_src) = 0 would otherwise
    // flow ns = 0 into every rank's division, which Spark SQL yields as
    // NULL (not an error) — a full frame of silently-NULL ranks. The guard
    // is on the ONE-ROW aggregate (no per-row cost) and fires eagerly at
    // the `nodes` materialization below.
    val ns = broadcast(flagged.agg(sum(col("is_src")).as("ns0"))
      .select(when(col("ns0") > 0, col("ns0"))
        .otherwise(raise_error(
          lit("personalizedPageRank: isSource matches no graph node")))
        .as("ns")))
    val nodes = Dedup.materialize(flagged.crossJoin(ns))
    // operand order mirrors the oracle text exactly (left-assoc
    // is_src * 1.0 / ns, 0.15 * is_src / ns) — double arithmetic is not
    // associative, and the gate rounds at 6 only
    var ranks = nodes.select(col("id"),
      (col("is_src") * lit(1.0) / col("ns")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        // teleport stated as its own literal — see pageRank on why
        // 1 - damping is NOT the double the oracle's "0.15" parses to
        .select(col("id"),
          (lit(teleport) * col("is_src") / col("ns")
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Weight-proportional PageRank over an undirected WEIGHTED pair table
    * (a_id, b_id, w) with INTEGER weights: each round a node passes
    * rank·w(u,v)/wdeg(u) along every edge instead of rank/deg — the
    * similar-item scorer a similarity-weighted pair graph actually wants
    * (a node's mass flows preferentially toward its STRONGEST matches,
    * where [[pageRank]] treats a 0.99-similarity edge and a barely-over-
    * threshold one identically). Returns (id, rank).
    *
    * Same shape and discipline as [[pageRank]]: the loop-invariant
    * (src, dst, w, wdeg) table is materialized once, each round is one
    * co-partitioned join + aggregate, teleport is its OWN literal for
    * oracle operand parity, and the FIXED iteration count keeps the
    * result a pure function of the graph. Weights must be integers
    * (e.g. jaccard in basis points): the per-node wdeg normalizer is
    * then an EXACT BIGINT sum in any engine and any summation order —
    * the only new float in the recurrence is the rank·w/wdeg term, whose
    * 1e-15 summation noise the round(6) readout absorbs, exactly like
    * [[pageRank]]'s rank/deg.
    */
  def pageRankWeighted(wpairs: DataFrame, iters: Int = 10,
                       damping: Double = 0.85,
                       teleport: Double = 0.15): DataFrame = {
    requireStochastic(damping, teleport)
    val edges = wpairs.select(col("a_id").as("src"), col("b_id").as("dst"), col("w"))
      .union(wpairs.select(col("b_id").as("src"), col("a_id").as("dst"), col("w")))
      .distinct()
    val wdeg = edges.groupBy("src").agg(sum(col("w")).as("wdeg"))
    val edgesW = Dedup.materialize(edges.join(wdeg, "src"))
    val nn = broadcast(wdeg.agg(count(lit(1)).as("n")))
    val nodes = Dedup.materialize(
      wdeg.select(col("src").as("id")).crossJoin(nn))
    var ranks = nodes.select(col("id"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edgesW
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        // left-assoc (rank * w) / wdeg — mirrors the oracle text; double
        // arithmetic is not associative and the gate rounds at 6 only
        .select(col("dst").as("id"), (col("rank") * col("w") / col("wdeg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) / col("n")
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Weighted personalized PageRank — [[personalizedPageRank]]'s teleport-
    * to-seeds recurrence over [[pageRankWeighted]]'s weight-proportional
    * transition: restart mass concentrates on the `isSource` seed set and
    * each round flows along edges in proportion to their integer weights —
    * the "similar items as seen from these seeds, preferring strong
    * matches" scorer (the r11 verdict's edge-weighted teleport walk).
    * Same discipline as both parents: materialized loop-invariant
    * weighted adjacency, exact-BIGINT wdeg normalizer, teleport as its
    * own literal, fixed iteration count, loud failure on an empty seed
    * set.
    */
  def personalizedPageRankWeighted(wpairs: DataFrame,
                                   isSource: org.apache.spark.sql.Column,
                                   iters: Int = 10, damping: Double = 0.85,
                                   teleport: Double = 0.15): DataFrame = {
    requireStochastic(damping, teleport)
    val edges = wpairs.select(col("a_id").as("src"), col("b_id").as("dst"), col("w"))
      .union(wpairs.select(col("b_id").as("src"), col("a_id").as("dst"), col("w")))
      .distinct()
    val wdeg = edges.groupBy("src").agg(sum(col("w")).as("wdeg"))
    val edgesW = Dedup.materialize(edges.join(wdeg, "src"))
    val flagged = wdeg.select(col("src").as("id"))
      .withColumn("is_src", when(isSource, 1).otherwise(0))
    val ns = broadcast(flagged.agg(sum(col("is_src")).as("ns0"))
      .select(when(col("ns0") > 0, col("ns0"))
        .otherwise(raise_error(
          lit("personalizedPageRankWeighted: isSource matches no graph node")))
        .as("ns")))
    val nodes = Dedup.materialize(flagged.crossJoin(ns))
    var ranks = nodes.select(col("id"),
      (col("is_src") * lit(1.0) / col("ns")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edgesW
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst").as("id"), (col("rank") * col("w") / col("wdeg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) * col("is_src") / col("ns")
            + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Triangle count + global clustering coefficient over an oriented pair
    * table (a_id < b_id). A triangle x<y<z is one row in the self-join
    * e(x,y) ⋈ e(y,z) ⋈ e(x,z); wedges come from plain degree counts, and
    * the coefficient is 3·triangles / wedges.
    *
    * Scale shape: the two equi-joins key on node ids — co-partitionable,
    * no all-pairs step. The id orientation already bounds the join: each
    * edge pairs only with its endpoints' id-greater neighbors. The classic
    * further lever at 100 TB is to re-orient edges by DEGREE (low-degree
    * endpoint first) so a hub's O(deg²) wedge fan-out lands on its
    * low-degree neighbors instead — same plan, one extra degree join.
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val wedges = deg.agg((sum(col("dg") * (col("dg") - 1)) / 2).cast("bigint").as("n_wedges"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        round(when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges")), 4).as("clustering"))
  }

  /** Per-node 3-node graphlet degree vector (the size-3 orbits of Pržulj
    * 2007): for each node, its degree (orbit 0), wedge-END positions
    * (orbit 1: paths u−n−v it terminates), wedge-CENTER positions
    * (orbit 2: neighbor pairs it bridges that are NOT adjacent), and
    * triangle memberships (orbit 3) — the local-structure signature that
    * separates a hub (huge orbit 2, zero orbit 3) from a clique member
    * (all orbit 3) at equal degree, which is exactly the duplicate-family
    * vs template-chain distinction. All four are exact integers derived
    * from two frames: orbit3 by unpivoting the oriented triangle
    * enumeration, orbit2 = C(deg,2) − tri, orbit1 = Σ_{u∈N(v)}(deg(u)−1)
    * − 2·tri (each closed wedge was counted once from each end). The
    * local clustering coefficient tri/C(deg,2) rides along in basis
    * points (one integer division).
    *
    * Scale shape: the [[triangleStats]] oriented two-equi-join triangle
    * enumeration (hub lever: degree re-orientation), one unpivot +
    * keyed count, one adjacency⋈degree join for the neighbor-degree sum
    * — everything keys on node ids.
    */
  def graphletCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct()
    val es = e.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("id"), col("a").as("nb")))
    val deg = es.groupBy("id").agg(count(lit(1)).as("dg"))
    val t = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tri = t.select(col("x").as("id"))
      .unionAll(t.select(col("y").as("id")))
      .unionAll(t.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    val nbdeg = es.join(deg.select(col("id").as("nb"), col("dg").as("ndg")), "nb")
      .groupBy("id").agg(sum(col("ndg") - 1).as("nd1"))
    deg.join(tri, Seq("id"), "left")
      .join(nbdeg, Seq("id"), "left")
      .select(col("id"), col("dg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        // `div`, not `/`: Column./ is double division (exact here, but the
        // integer form states the contract)
        expr("(dg * (dg - 1)) div 2 - coalesce(tri, CAST(0 AS BIGINT))")
          .as("wedge_center"),
        (coalesce(col("nd1"), lit(0L)) - lit(2L) * coalesce(col("tri"), lit(0L)))
          .as("wedge_end"),
        when(col("dg") < 2, lit(0L))
          .otherwise(expr("(coalesce(tri, 0) * 10000) div (dg * (dg - 1) div 2)"))
          .as("cc_bp"))
      .orderBy("id")
  }

  /** Degree distribution of the undirected graph given as oriented (a_id,
    * b_id) pairs: (deg, n_nodes) — the first thing anyone plots about a
    * graph, and the skew diagnostic that decides whether triangle/wedge
    * work needs degree re-orientation. Two key-local aggregates; the
    * second one's cardinality is O(distinct degrees), trivially small.
    */
  def degreeDistribution(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("id")).union(pairs.select(col("b_id").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  /** k-core peel: `rounds` iterations of "drop every node with degree < k"
    * over the symmetrized graph, returning the surviving (id, deg) — the
    * densest-backbone extraction (spam rings, template families, community
    * seeds are k-cores; pendant/chain structure is not). A FIXED round
    * count (like [[pageRank]]) keeps the result a pure function of the
    * graph that the SQL oracle replays by unrolling; callers size `rounds`
    * >= the graph's peel depth when they need the true fixpoint.
    *
    * Execution is a DELTA peel (the distributed Matula–Beck shape), which
    * is round-for-round identical to the naive re-filter but does per-node
    * instead of per-edge work after round 0: the symmetrized edge table is
    * materialized ONCE; per round the dropped-node set (O(drops), shrinks
    * fast) semi-joins it to count each survivor's lost neighbors, and the
    * O(nodes) degree vector is decremented — deg(v) over the surviving
    * subgraph IS deg0(v) minus v's dropped neighbors, by induction. The
    * naive form's per-round degree re-aggregate + two-sided edge re-filter
    * + O(edges) re-materialization (10× data read 10.5× wall in the r11
    * scale smoke — fully linear per round) never touches the edge table
    * again after the initial degree count. Rounds where nothing drops are
    * skipped via one tiny isEmpty probe on the degree vector — the
    * fixpoint is reached, so the skipped rounds are provable no-ops and
    * the result is unchanged. Nodes whose degree reaches 0 are reported
    * absent (they have no edges in the surviving subgraph), matching the
    * re-filter form where their edge rows vanish.
    *
    * Scale shape per round: one small-side semi-join against the pinned
    * edge table (AQE broadcasts the drop set while it fits; a first-round
    * mass-drop degrades to one co-partitioned shuffle) + two id-keyed
    * joins on the O(nodes) degree vector — work is O(affected edges), not
    * O(all edges), and state is one O(nodes) frame materialized per round.
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 10): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad kCore config ($k, $rounds)")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
        .distinct())
    var deg = Dedup.materialize(es.groupBy("id").agg(count(lit(1)).as("dg")))
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val drops = deg.filter(col("dg") < k).select("id")
      if (drops.isEmpty) converged = true
      else {
        val dec = es.join(drops.select(col("id").as("nb")), Seq("nb"), "left_semi")
          .groupBy("id").agg(count(lit(1)).as("dd"))
        val next = Dedup.materialize(
          deg.join(drops, Seq("id"), "left_anti")
            .join(dec, Seq("id"), "left")
            .select(col("id"),
              (col("dg") - coalesce(col("dd"), lit(0L))).as("dg")))
        Dedup.release(deg)
        deg = next
      }
      r += 1
    }
    // dg = 0 means every neighbor was dropped this round — the node has no
    // edges in the surviving subgraph and the re-filter form would not
    // report it (its edge rows are gone); dg in (0, k) can only be the
    // round-budget-exhausted state, which the re-filter form DOES report
    val out = deg.filter(col("dg") >= 1)
      .select(col("id"), col("dg").as("deg")).orderBy("id")
    Dedup.release(es)
    out
  }

  /** Synchronous label propagation (community detection): every node starts
    * as its own label; each round it adopts its neighborhood's most common
    * label (ties -> smallest label). A FIXED round count keeps the result
    * a pure deterministic function of the graph — sync LPA can oscillate
    * on bipartite-ish structure, and a fixed horizon makes even that
    * reproducible (and SQL-replayable by unrolling), where async/randomized
    * variants are not. Returns (id, community).
    *
    * Scale shape per round: one edge⋈labels join + two keyed aggregates,
    * everything keyed on node id — the same co-partitionable round shape
    * as [[pageRank]] and [[kCore]], materialized per round with the
    * previous round released.
    */
  def labelPropagation(pairs: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      .distinct()
    val es = Dedup.materialize(e)
    var labels = es.select(col("id")).distinct().withColumn("lbl", col("id"))
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      val next = Dedup.materialize(
        es.join(labels.select(col("id").as("nb"), col("lbl")), "nb")
          .groupBy("id", "lbl").agg(count(lit(1)).as("c"))
          .groupBy("id")
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("m"))
          .select(col("id"), col("m.lbl").as("lbl")))
      Dedup.release(prev)
      prev = labels
      labels = next
    }
    val out = labels.select(col("id"), col("lbl").as("community"))
    Dedup.release(prev)
    Dedup.release(es) // final labels are materialized; the edge copy is done
    out
  }

  /** Common-neighbor link prediction over an oriented (a_id, b_id) pair
    * table: for every NON-adjacent pair with at least one shared neighbor,
    * the shared-neighbor count and neighbor-Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — "these two documents never matched
    * directly, but their duplicate neighborhoods overlap".
    *
    * Scale shape: wedge enumeration keyed on the CENTER node (one self-join
    * of the symmetrized adjacency on id), then a groupBy on the predicted
    * pair and an anti-join against the existing edges — every step keys on
    * node/pair ids, no all-pairs scan. Hub fan-out is the same O(deg²)
    * wedge cost triangleStats documents, with the same degree-orientation
    * lever.
    */
  def commonNeighbors(pairs: DataFrame): DataFrame = {
    // canonicalize defensively (min, max) + distinct: a reverse-oriented or
    // duplicate input edge would otherwise slip past the anti-join below
    // and inflate degrees
    val e = pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct()
    val es = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("id"), col("b").as("nb"))
    val wedges = es.as("w1")
      .join(es.as("w2"), col("w1.id") === col("w2.id") && col("w1.nb") < col("w2.nb"))
      .groupBy(col("w1.nb").as("a_id"), col("w2.nb").as("b_id"))
      .agg(count(lit(1)).as("common"))
    val deg = es.groupBy("id").agg(count(lit(1)).as("dg"))
    wedges
      .join(e, col("a_id") === col("a") && col("b_id") === col("b"), "left_anti")
      .join(deg.select(col("id").as("a_id"), col("dg").as("da")), "a_id")
      .join(deg.select(col("id").as("b_id"), col("dg").as("db")), "b_id")
      .select(col("a_id"), col("b_id"), col("common"),
        (floor(col("common") * lit(10000.0) / (col("da") + col("db") - col("common"))) / 10000)
          .as("nj"))
      .orderBy("a_id", "b_id")
  }

  /** Per-community modularity contribution of the [[labelPropagation]]
    * partition: for each community c, e_in(c)/m − (deg(c)/2m)² — summing
    * the column IS Newman modularity Q, the standard "was this community
    * structure better than random" score. The numerator 4·m·e_in − deg²
    * is exact integer arithmetic; one floor quantization of the final
    * ratio keeps the score engine-independent.
    *
    * Scale shape: two label joins on the edge table (edge endpoints →
    * labels, keyed on node id like every round here), then O(communities)
    * aggregates; the scalar m broadcasts. Nothing touches all-pairs.
    */
  def modularity(pairs: DataFrame, rounds: Int = 5): DataFrame = {
    val labels = labelPropagation(pairs, rounds)
    val e = pairs.select(col("a_id"), col("b_id")).distinct()
    val m = broadcast(e.agg(count(lit(1)).as("m")))
    val la = labels.select(col("id").as("a_id"), col("community").as("ca"))
    val lb = labels.select(col("id").as("b_id"), col("community").as("cb"))
    val ein = e.join(la, "a_id").join(lb, "b_id")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val es = e.select(col("a_id").as("id")).union(e.select(col("b_id").as("id")))
    val deg = es.groupBy("id").agg(count(lit(1)).as("dg"))
    val degc = deg.join(labels, "id")
      .groupBy("community")
      .agg(sum(col("dg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    degc.join(ein, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (floor((lit(4) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("deg_sum") * col("deg_sum")) * lit(1000000.0)
          / (lit(4.0) * col("m") * col("m"))) / 1000000).as("q_contrib"))
      .orderBy("community")
  }

  /** Multi-source BFS hop distance: every node whose id ≡ 0 (mod seedMod)
    * is a 0-hop seed; `rounds` synchronous frontier expansions later,
    * return (id, hop) for every node reached — min hop wins. A FIXED round
    * count (like [[kCore]]) keeps the result a pure function of the graph
    * that the SQL oracle replays by unrolling; nodes farther than `rounds`
    * hops (or in seedless components) are absent, which IS the answer for
    * a bounded-radius reachability question.
    *
    * Scale shape per round: one frontier⋈edges join + one min-aggregate,
    * both keyed on node id — co-partitionable with the adjacency like
    * every other loop here; the visited set grows monotonically and is
    * materialized per round with the previous round released. Note this
    * propagates from the whole VISITED set each round (simple, and correct
    * for min-hop since min() absorbs re-derived longer paths); a cluster
    * run at very large diameter would keep a delta frontier instead.
    */
  def bfsHops(pairs: DataFrame, seedMod: Int, rounds: Int): DataFrame = {
    require(seedMod >= 1 && rounds >= 1, s"bad bfsHops config ($seedMod, $rounds)")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
        .distinct())
    var visited = es.select(col("id")).distinct()
      .filter(col("id") % seedMod === 0)
      .select(col("id"), lit(0L).as("hop"))
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      val next = Dedup.materialize(
        visited.union(
            visited.join(es, "id").select(col("nb").as("id"), (col("hop") + 1).as("hop")))
          .groupBy("id").agg(min("hop").as("hop")))
      Dedup.release(prev)
      prev = visited
      visited = next
    }
    val out = visited.orderBy("id")
    Dedup.release(prev)
    Dedup.release(es) // final visited set is materialized; the edge copy is done
    out
  }

  /** Closeness centrality over the undirected pair graph, exact within
    * `maxHops`: per-source shortest-path relaxation carried as one
    * (src, v, d) table — bounded-hop all-pairs BFS run from every node at
    * once. On a DEDUP graph this is the right cost model: components are
    * near-dup clusters (small diameter, bounded size), so the state is
    * per-COMPONENT quadratic, never corpus-quadratic, and each round is
    * the same co-partitioned frontier⋈edges join + min-aggregate as
    * [[bfsHops]]. Returns per node: peers reached (self excluded, within
    * maxHops), total hop distance, and closeness in basis points
    * (floor(10000·n/Σd) — exact integers divided once, floored once; a
    * pair-graph node always reaches ≥1 peer, so the divisor is never 0).
    * The O(component²) distance table is released once the O(nodes)
    * report is materialized — only the small frame outlives the call.
    */
  def closenessStats(pairs: DataFrame, maxHops: Int = 10): DataFrame = {
    val dist = allPairsDist(pairs, maxHops)
    val out = closenessFromDist(dist)
    Dedup.release(dist)
    out
  }

  /** Closeness report from an ALREADY-BUILT [[allPairsDist]] table — the
    * entry point for callers sharing one distance relaxation across several
    * geometry reports (closeness + eccentricity consume the identical
    * table, and re-running the 10-round BFS per consumer was the dominant
    * redundant cost in the graph family). Does NOT release `dist`: the
    * caller owns its lifetime (a family cache, typically).
    */
  def closenessFromDist(dist: DataFrame): DataFrame =
    Dedup.materialize(
      dist.filter(col("v") =!= col("src"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_reached"), sum("d").as("sum_dist"))
        .select(col("src").as("id"), col("n_reached"), col("sum_dist"),
          floor(lit(10000L) * col("n_reached") / col("sum_dist")).cast("bigint")
            .as("closeness_bp")))

  /** Bounded-hop all-pairs distance table (src, v, d) over the undirected
    * pair graph — the shared relaxation behind [[closenessStats]] and
    * [[eccentricityStats]]: per-source BFS run from every node at once as
    * one frontier⋈edges join + min-aggregate per round, per-round
    * materialize + release. Per-COMPONENT quadratic state (dedup clusters
    * are small-diameter and bounded), never corpus-quadratic. Returns the
    * MATERIALIZED table including the (src, src, 0) self rows; the caller
    * owns the release.
    */
  private[graft] def allPairsDist(pairs: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"bad maxHops $maxHops")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("v"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("v"), col("a_id").as("nb")))
        .distinct())
    var dist = es.select(col("v")).distinct()
      .select(col("v").as("src"), col("v"), lit(0L).as("d"))
    var prev: DataFrame = null
    // Non-convergence detection: dist rows grow monotonically (the union
    // keeps every previously-reached (src, v) pair), so equal row counts
    // across the FINAL two rounds prove the relaxation reached fixpoint
    // within maxHops. If the last round still added rows, some component's
    // diameter exceeds maxHops — eccentricityStats' min-reachable-id
    // component labels would silently fragment that component into
    // multiple rows with wrong geometry. Warn loudly (not raise: a
    // bounded-radius question is a legitimate use) with the evidence.
    // Cost: two count() actions on already-materialized frames, only for
    // the final round.
    var lastTwo = (0L, 0L)
    for (r <- 1 to maxHops) {
      val next = Dedup.materialize(
        dist.union(
            dist.join(es, "v")
              .select(col("src"), col("nb").as("v"), (col("d") + 1).as("d")))
          .groupBy("src", "v").agg(min("d").as("d")))
      if (r == maxHops) lastTwo = (dist.count(), next.count())
      Dedup.release(prev); prev = dist; dist = next
    }
    if (lastTwo._1 != lastTwo._2) {
      // Equal counts across the final two rounds is SUFFICIENT but not
      // NECESSARY for convergence: a component whose diameter equals
      // exactly maxHops legitimately adds its last pairs in the final
      // round and the table is still complete. One extra PROBE round
      // (count only, never kept) distinguishes "converged at exactly the
      // bound" from "truncated" before warning.
      val probe = dist.unionAll(
          dist.join(es, "v")
            .select(col("src"), col("nb").as("v"), (col("d") + 1).as("d")))
        .select(col("src"), col("v")).distinct().count()
      if (probe != lastTwo._2)
        log.warn(s"allPairsDist did NOT converge within $maxHops hops " +
          s"(a probe round would still add ${probe - lastTwo._2} pairs): " +
          "component labels / geometry derived from this table fragment " +
          "components whose diameter exceeds the bound")
    }
    Dedup.release(prev); Dedup.release(es)
    dist
  }

  /** Per-component BFS geometry over the undirected pair graph, exact
    * within `maxHops` (choose maxHops > any component diameter and the
    * bound is vacuous): eccentricity per node = max shortest-path hop to
    * any peer, rolled per component (labeled by its min node id, the
    * keeper convention dd_cc_* uses) to node count, diameter = max ecc,
    * radius = min ecc, and the number of center nodes (ecc == radius) —
    * the cluster-shape report that distinguishes a star-shaped duplicate
    * family (radius 1) from a drifted chain (diameter ≈ n). All exact
    * integers: hop counts min/max-aggregated, no division at all.
    */
  def eccentricityStats(pairs: DataFrame, maxHops: Int = 10): DataFrame = {
    val dist = allPairsDist(pairs, maxHops)
    val out = eccentricityFromDist(dist)
    Dedup.release(dist)
    out
  }

  /** Eccentricity/diameter/radius report from an ALREADY-BUILT
    * [[allPairsDist]] table — same shared-relaxation contract as
    * [[closenessFromDist]]: does NOT release `dist`, the caller owns it.
    * allPairsDist itself warns at build time when the relaxation has not
    * converged within its hop bound (the regime where the min-reachable-id
    * component labels here fragment).
    */
  def eccentricityFromDist(dist: DataFrame): DataFrame = {
    // self rows (d = 0) never win a max over a nonempty peer set and keep
    // min(v) covering singleton sources; comp = min reachable id is the
    // component label whenever maxHops covers the component.
    val ecc = dist.groupBy("src")
      .agg(max(col("d")).as("ecc"), min(col("v")).as("comp"))
    val per = ecc.groupBy("comp")
      .agg(count(lit(1)).as("n_nodes"),
        max(col("ecc")).as("diameter"), min(col("ecc")).as("radius"))
    val centers = ecc.join(per.select(col("comp"), col("radius")), "comp")
      .filter(col("ecc") === col("radius"))
      .groupBy("comp").agg(count(lit(1)).as("n_centers"))
    Dedup.materialize(
      per.join(centers, "comp")
        .select(col("comp"), col("n_nodes"), col("diameter"), col("radius"),
          col("n_centers")))
  }

  /** Harmonic centrality from an ALREADY-BUILT [[allPairsDist]] table —
    * H(v) = Σ_peers 1/d(v,u), the closeness variant that stays
    * well-defined on DISCONNECTED graphs (unreached peers contribute 0
    * instead of poisoning the mean; Boldi–Vigna's axiomatic pick for that
    * reason) — the right per-node centrality on a dedup pair graph, which
    * is nothing BUT disconnected components. Exact integers: each peer
    * contributes `10000 div d` (integer division per term — a defined
    * quantization, deterministic in any engine and summation order),
    * summed to harmonic_bp. Same shared-relaxation contract as
    * [[closenessFromDist]]: does NOT release `dist`.
    */
  def harmonicFromDist(dist: DataFrame): DataFrame =
    Dedup.materialize(
      dist.filter(col("v") =!= col("src"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("10000 div d")).as("harmonic_bp"))
        .select(col("src").as("id"), col("n_reached"),
          col("harmonic_bp").cast("bigint").as("harmonic_bp")))

  /** Stress centrality from an ALREADY-BUILT [[allPairsDist]] table —
    * Shimbel's exact-integer member of the betweenness family:
    * stress(v) = Σ_{s<t, s≠v≠t} σ_st(v), the number of shortest paths
    * passing THROUGH v — "which document is the bridge every near-dup
    * chain routes over", the cut-vertex/bottleneck diagnostic on a dedup
    * cluster (true betweenness divides per-pair by σ_st, putting a float
    * ratio inside a big sum; the σ-count form is pure BIGINT arithmetic,
    * engine- and order-independent, which is why it is the variant that
    * can carry a hash-matched oracle).
    *
    * Two phases, both on co-partitioned equi-joins:
    *  1. shortest-path counts σ(s,v) by level: one frontier⋈edges join +
    *     keyed sum per hop, the frontier filtered to rows the distance
    *     table puts at exactly hop d (so counts only flow along shortest-
    *     path DAG edges) — same per-round shape as [[bfsHops]].
    *  2. σ_st(v) = σ(s,v)·σ(v,t) when d(s,v)+d(v,t) = d(s,t): join the
    *     σ table with itself keyed on the MIDDLE node, then one equi-join
    *     against the distance table on (s,t).
    * Phase 2's fan-out is per-component CUBIC (each middle node pairs its
    * component peers) — one step past the quadratic anchor budget, so this
    * is a small-cluster ANCHOR like the all-pairs cosine: right for the
    * bounded dedup components it reports on, with sampled-source Brandes
    * as the documented giant-graph path. Does NOT release `dist`.
    */
  def stressFromDist(dist: DataFrame, pairs: DataFrame, maxHops: Int = 10): DataFrame = {
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("v"), col("b_id").as("w"))
        .union(pairs.select(col("b_id").as("v"), col("a_id").as("w")))
        .distinct())
    // level 0: one path from every source to itself
    var lvl = Dedup.materialize(dist.filter(col("d") === 0)
      .select(col("src"), col("v"), lit(0L).as("d"), lit(1L).as("sg")))
    var acc = lvl
    for (dd <- 1 to maxHops) {
      val next = Dedup.materialize(
        lvl.join(es, "v")
          .select(col("src"), col("w").as("v"), col("sg"))
          // keep only expansions the distance table puts at EXACTLY hop
          // dd — i.e. shortest-path DAG edges; longer detours drop out
          .join(dist.filter(col("d") === dd).select(col("src"), col("v")),
            Seq("src", "v"), "left_semi")
          .groupBy("src", "v")
          .agg(sum(col("sg")).as("sg"))
          .select(col("src"), col("v"), lit(dd.toLong).as("d"), col("sg")))
      val nextAcc = Dedup.materialize(acc.unionAll(next))
      Dedup.release(acc); if (lvl ne acc) Dedup.release(lvl)
      lvl = next; acc = nextAcc
    }
    Dedup.release(lvl)
    val a = acc.filter(col("d") > 0)
      .select(col("src").as("s"), col("v"), col("d").as("dsv"), col("sg").as("s1"))
    val b = acc.filter(col("d") > 0)
      .select(col("src").as("t"), col("v"), col("d").as("dvt"), col("sg").as("s2"))
    val dst = dist.filter(col("d") > 0)
      .select(col("src").as("s"), col("v").as("t"), col("d").as("dst"))
    val through = a.join(b, "v")
      .filter(col("s") < col("t"))
      .join(dst, Seq("s", "t"))
      .filter(col("dsv") + col("dvt") === col("dst"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("s1") * col("s2")).as("stress"))
    val out = Dedup.materialize(
      dist.select(col("src").as("id")).distinct()
        .join(through, Seq("id"), "left")
        .select(col("id"), coalesce(col("stress"), lit(0L)).as("stress")))
    Dedup.release(acc); Dedup.release(es)
    out
  }

  /** Sampled-source Brandes stress centrality — the GIANT-GRAPH scale twin
    * of [[stressFromDist]] (Brandes 2001, "A faster algorithm for
    * betweenness centrality", §4's σ-count variant): instead of the exact
    * form's per-component CUBIC middle-node join over an all-pairs σ
    * table, run the two Brandes passes from a DETERMINISTIC source sample
    * only, giving stress_sampled(v) = Σ_{s∈S, t≠s,v} σ_st(v) — ordered
    * contributions from sampled sources, exact BIGINT σ counts throughout
    * (no float ratios), so the statistic stays hash-matchable and an SQL
    * oracle can replay the identical sample.
    *
    *  1. FORWARD pass (one frame for all sampled sources at once): per
    *     hop, frontier⋈edges + anti-join against the last two levels
    *     (undirected distances differ by ≤1 across an edge, so nothing
    *     older can reappear) + keyed σ-sum — newly reached nodes are
    *     exactly the next BFS level and σ(s,v) = Σ_{u∈pred(v)} σ(s,u).
    *     State O(|S|·nodes) across levels, per-round frames two levels
    *     wide.
    *  2. BACKWARD pass (Brandes' dependency accumulation, σ-count form):
    *     levels processed deepest-first; g_s(v) = Σ_{w∈succ(v)} (1+g_s(w))
    *     counts the shortest-path continuations beyond v, where succ(v)
    *     are v's neighbors one level deeper in s's BFS DAG. Then
    *     Σ_t σ_st(v) = σ(s,v)·g_s(v), summed over sources at each v.
    *
    * With S ⊇ all nodes this equals exactly 2× [[stressFromDist]] (each
    * unordered pair counted from both endpoints) — the GraphSpec
    * equivalence anchor. Every join keys on (source, node) — the same
    * co-partitionable round shape as [[bfsHops]]; state and work are
    * LINEAR in |S|, which is the whole point: at 100 TB pick |S| = a few
    * hundred hash-chosen sources and the cost is |S| BFS passes, not a
    * component-cubic fan-out.
    *
    * `isSource` is a boolean expression over the node id column `id`
    * (the [[personalizedPageRank]] convention) — keeping the sample a
    * declarative predicate is what lets the oracle derive the identical
    * source set without a literal id list.
    */
  def stressSampled(pairs: DataFrame, isSource: org.apache.spark.sql.Column,
                    maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"bad maxHops $maxHops")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("v"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("v"), col("a_id").as("nb")))
        .distinct())
    val nodes = es.select(col("v").as("id")).distinct()
    // forward σ pass: one materialized frame per BFS level (the backward
    // pass consumes levels individually). The new-node anti-join needs
    // only the last TWO levels, not a cumulative visited set: across an
    // undirected edge distances differ by at most 1, so a neighbor of a
    // level-(d−1) node is at distance d−2, d−1, or d — nothing older can
    // appear. This is the textbook distributed-BFS frontier discipline,
    // and it is what keeps the per-round anti-join build side bounded by
    // two level widths instead of the whole |S|×nodes table (measured:
    // the cumulative-visited form cost ~40% more wall-clock from the
    // extra growing-union materialization per round).
    val lvl0 = Dedup.materialize(
      nodes.filter(isSource)
        .select(col("id").as("src"), col("id").as("v"),
          lit(0L).as("d"), lit(1L).as("sg")))
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](lvl0)
    for (dd <- 1 to maxHops) {
      val seen =
        if (levels.size >= 2)
          levels.last.select(col("src"), col("v"))
            .unionAll(levels(levels.size - 2).select(col("src"), col("v")))
        else levels.last.select(col("src"), col("v"))
      val next = Dedup.materialize(
        levels.last.join(es, "v")
          .select(col("src"), col("nb").as("v"), col("sg"))
          .join(seen, Seq("src", "v"), "left_anti")
          .groupBy("src", "v").agg(sum("sg").as("sg"))
          .select(col("src"), col("v"), lit(dd.toLong).as("d"), col("sg")))
      levels += next
    }
    // backward accumulation, deepest level first: nodes at the hop bound
    // have no successors WITHIN it (g = 0 — exact when the BFS converged
    // inside maxHops, the bounded-radius answer otherwise)
    val gs = scala.collection.mutable.ArrayBuffer[DataFrame](
      Dedup.materialize(levels(maxHops)
        .select(col("src"), col("v"), col("d"), col("sg"), lit(0L).as("g"))))
    for (k <- (maxHops - 1) to 0 by -1) {
      val sucSum = levels(k).select(col("src"), col("v"))
        .join(es, "v")
        .join(gs.last.select(col("src"), col("v").as("nb"), col("g")), Seq("src", "nb"))
        .groupBy("src", "v").agg(sum(col("g") + 1).as("gsum"))
      gs += Dedup.materialize(
        levels(k)
          .join(sucSum, Seq("src", "v"), "left")
          .select(col("src"), col("v"), col("d"), col("sg"),
            coalesce(col("gsum"), lit(0L)).as("g")))
    }
    // δ_s(v) = σ(s,v)·g_s(v) for v ≠ s (d > 0), summed over sources;
    // nodes no sampled source reaches report 0 (left join + coalesce)
    val out = Dedup.materialize(
      nodes.join(
          gs.map(g => g.filter(col("d") > 0)).reduce(_ unionAll _)
            .groupBy(col("v").as("id"))
            .agg(sum(col("sg") * col("g")).as("stress_sampled")),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("stress_sampled"), lit(0L)).as("stress_sampled")))
    gs.foreach(Dedup.release)
    levels.foreach(Dedup.release)
    Dedup.release(es)
    out
  }

  /** Approximate closeness centrality via HyperANF-style neighborhood
    * sketches (Boldi–Rosa–Vigna, WWW 2011): per node, an HLL sketch of the
    * h-hop ball, advanced one hop per round by unioning each node's sketch
    * with its neighbors' — O(nodes · sketch) state instead of
    * [[allPairsDist]]'s O(component²) distance table. This is the GIANT-
    * COMPONENT scale twin of [[closenessStats]]: a 100 TB dedup graph with
    * one mega-component (the standard failure mode of a too-low threshold)
    * makes the exact (src, v, d) table quadratic with no fallback, while
    * the sketch state stays linear in nodes regardless of component
    * structure. Ball-size estimates N_h are monotone in h (HLL registers
    * only grow under union, and the estimator is monotone in the
    * registers), so the hop-sum telescopes exactly like the neighborhood
    * function: sum_dist ≈ Σ_h h·(N_h − N_{h−1}).
    *
    * Scale shape per round: one edges⋈sketches equi-join + one keyed
    * hll_union_agg — the same co-partitioned round as [[bfsHops]], with the
    * frontier value a fixed-width sketch instead of a growing pair set;
    * per-round materialize + release. Estimates are exact while a ball
    * fits the sketch's sparse mode (every dedup-cluster graph) and ~2%
    * (lgK=12) beyond — the serving query gates them against the exact
    * closeness with rel_approx_distinct's band-boolean pattern.
    *
    * Returns (id, n_reached_est, sum_dist_est, closeness_bp_est) for every
    * node of the pair graph (self excluded from the ball count, same
    * contract as [[closenessStats]]).
    */
  def closenessApprox(pairs: DataFrame, maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"bad maxHops $maxHops")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
        .distinct())
    // round-0 state: each node's sketch holds exactly itself; est = 1
    var state = Dedup.materialize(
      es.select(col("id")).distinct()
        .groupBy("id").agg(hll_sketch_agg(col("id")).as("sk"))
        .select(col("id"), col("sk"), lit(1L).as("est"), lit(0L).as("sum_d")))
    var prev: DataFrame = null
    for (h <- 1 to maxHops) {
      val unioned = es
        .join(state.select(col("id").as("nb"), col("sk")), "nb")
        .select(col("id"), col("sk"))
        .unionAll(state.select(col("id"), col("sk")))
        .groupBy("id").agg(hll_union_agg(col("sk")).as("sk"))
      val next = Dedup.materialize(
        unioned
          .join(state.select(col("id"), col("est").as("pe"), col("sum_d")), "id")
          .select(col("id"), col("sk"), hll_sketch_estimate(col("sk")).as("est"),
            col("pe"), col("sum_d"))
          .select(col("id"), col("sk"), col("est"),
            (col("sum_d") + lit(h.toLong) * (col("est") - col("pe"))).as("sum_d")))
      Dedup.release(prev); prev = state; state = next
    }
    // est >= 2 for every pair-graph node (each has >= 1 neighbor and the
    // 1-hop sketch is sparse-exact at 2 items), so sum_d >= 1: the bp
    // division is safe without a guard.
    val out = Dedup.materialize(
      state.select(col("id"), (col("est") - 1).as("n_reached_est"),
        col("sum_d").as("sum_dist_est"),
        floor(lit(10000L) * (col("est") - 1) / col("sum_d")).cast("bigint")
          .as("closeness_bp_est")))
    Dedup.release(prev); Dedup.release(state); Dedup.release(es)
    out
  }

  /** Approximate effective diameter off the SAME HyperANF sketch rounds as
    * [[closenessApprox]] — the statistic the HyperANF paper was built for
    * (Boldi–Rosa–Vigna, WWW 2011): the neighborhood function N(h) = Σ_v
    * |ball(v,h)| read per hop from the per-node HLL estimates, and the
    * effective diameter at `pct`% = the smallest h whose cumulative
    * reachable-ordered-pair coverage N(h) − N(0) reaches pct% of
    * N(maxHops) − N(0). Returns ONE row: (total_pairs_est,
    * eff_diameter_est).
    *
    * Scale: identical per-round shape to [[closenessApprox]] (edges ⋈
    * sketches + keyed hll_union_agg, O(nodes·sketch) state) plus one
    * 1-row aggregate per hop — this is the giant-component twin of the
    * exact [[allPairsDist]]-based readout, which needs the per-component
    * QUADRATIC distance table a mega-component makes unbuildable. The
    * integer coverage test (100·cum ≥ pct·total on BIGINT estimates)
    * avoids any float percentile.
    */
  def effectiveDiameterApprox(pairs: DataFrame, maxHops: Int = 10,
                              pct: Int = 90): DataFrame = {
    require(maxHops >= 1 && pct >= 1 && pct <= 100, s"bad config ($maxHops, $pct)")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
        .distinct())
    var state = Dedup.materialize(
      es.select(col("id")).distinct()
        .groupBy("id").agg(hll_sketch_agg(col("id")).as("sk"))
        .select(col("id"), col("sk"), lit(1L).as("est")))
    // per-hop neighborhood function: one 1-row materialized frame per hop
    // (tiny; materialized so the readout survives the state releases)
    val nf = scala.collection.mutable.ArrayBuffer[DataFrame](
      Dedup.materialize(state.agg(sum(col("est")).as("nf"))
        .select(lit(0L).as("h"), col("nf"))))
    var prev: DataFrame = null
    for (h <- 1 to maxHops) {
      val next = Dedup.materialize(
        es.join(state.select(col("id").as("nb"), col("sk")), "nb")
          .select(col("id"), col("sk"))
          .unionAll(state.select(col("id"), col("sk")))
          .groupBy("id").agg(hll_union_agg(col("sk")).as("sk"))
          .select(col("id"), col("sk"), hll_sketch_estimate(col("sk")).as("est")))
      nf += Dedup.materialize(next.agg(sum(col("est")).as("nf"))
        .select(lit(h.toLong).as("h"), col("nf")))
      Dedup.release(prev); prev = state; state = next
    }
    Dedup.release(prev); Dedup.release(state); Dedup.release(es)
    // readout over the O(maxHops)-row hop table: self-pairs (N(0) = node
    // count) excluded from both sides of the coverage test; N is monotone
    // in h (HLL registers only grow under union), so min(h) is the
    // threshold crossing
    val nfAll = nf.reduce(_ unionAll _)
    val bounds = broadcast(nfAll.agg(
      max(when(col("h") === 0, col("nf"))).as("n0"),
      max(when(col("h") === maxHops, col("nf"))).as("nmax")))
    val out = Dedup.materialize(
      nfAll.crossJoin(bounds)
        .filter((col("nf") - col("n0")) * 100 >= (col("nmax") - col("n0")) * pct)
        .agg(min(col("h")).as("eff_diameter_est"))
        .crossJoin(bounds)
        .select((col("nmax") - col("n0")).as("total_pairs_est"),
          col("eff_diameter_est")))
    nf.foreach(Dedup.release)
    // limit(1) is a semantic no-op (the frame IS one row — a scalar
    // aggregate, materialized so it survives the nf releases) but puts a
    // GlobalLimit node back in the plan: checkpointing erased the
    // aggregate, leaving a bare RDD scan that downstream consumers
    // broadcast-cross-join — structurally unprovable as tiny to
    // PlanAudit.tinySide without the explicit bound (its r12 full-sweep
    // flag on gr_effective_diameter_approx)
    out.limit(1)
  }

  /** Bounded weighted shortest-path geometry over a WEIGHTED pair table
    * (a_id, b_id, w) — the min-sum (Bellman-Ford) sibling of the hop-count
    * family: `rounds` relaxations of dist' = min(dist, dist ⋈ edges + w),
    * after which dist(s,v) is exact over all paths of ≤ `rounds` edges
    * (vacuous once rounds ≥ any component diameter). Exact integer
    * weights in, exact integer distances out — no float sums, so the
    * report hash-matches a recursive-CTE oracle replaying the same bound.
    * Returns per node: peers reached, total weighted distance, and the
    * weighted eccentricity max_wdist.
    *
    * Scale shape: identical to [[allPairsDist]] — per round one
    * frontier⋈edges equi-join + keyed min-aggregate, both on node id,
    * materialize + release; state is per-COMPONENT quadratic (the dedup
    * cluster regime), with the same caveats and twins as the hop-count
    * version. On a weighted dedup graph the natural edge weight is a
    * DISSIMILARITY (e.g. 10001 − jaccard_bp), making sum_wdist the
    * "semantic drift" a chain of near-copies accumulates.
    */
  def weightedDistStats(wpairs: DataFrame, rounds: Int = 10): DataFrame = {
    require(rounds >= 1, s"bad rounds $rounds")
    val es = Dedup.materialize(
      wpairs.select(col("a_id").as("v"), col("b_id").as("nb"), col("w"))
        .union(wpairs.select(col("b_id").as("v"), col("a_id").as("nb"), col("w")))
        .distinct())
    var dist = es.select(col("v")).distinct()
      .select(col("v").as("src"), col("v"), lit(0L).as("wd"))
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      val next = Dedup.materialize(
        dist.union(
            dist.join(es, "v")
              .select(col("src"), col("nb").as("v"), (col("wd") + col("w")).as("wd")))
          .groupBy("src", "v").agg(min("wd").as("wd")))
      Dedup.release(prev); prev = dist; dist = next
    }
    val out = Dedup.materialize(
      dist.filter(col("v") =!= col("src"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_reached"), sum("wd").as("sum_wdist"),
          max("wd").as("max_wdist"))
        .select(col("src").as("id"), col("n_reached"),
          col("sum_wdist").cast("bigint").as("sum_wdist"),
          col("max_wdist").cast("bigint").as("max_wdist")))
    Dedup.release(prev); Dedup.release(dist); Dedup.release(es)
    out
  }

  /** Deterministic random-walk corpus over the undirected pair graph — the
    * walk GENERATOR behind graph-embedding pipelines (DeepWalk/node2vec
    * train on exactly these sequences): from every start node selected by
    * `isStart`, one walk of `steps` hops, each hop choosing among the
    * current node's neighbors by a HASH-argmin instead of an RNG —
    * h(walk, step, candidate) = (wid·A + step·B + nb·C) mod P, take the
    * (h, nb) struct-min. "Random" in distribution (the multiplicative
    * constants scramble uniformly), yet a pure deterministic function of
    * the graph, so the full trajectory table hash-matches an SQL oracle
    * replaying the same argmin — the property an RNG-driven walker can
    * never give the correctness gate. Returns (wid, step, node) for
    * steps 0..`steps`, one row per visited position.
    *
    * Scale shape per step: one state⋈edges equi-join keyed on the current
    * node + one per-walk struct-min aggregate — O(walks) state, the same
    * co-partitioned round as [[bfsHops]] with a walk id instead of a
    * source id; per-step materialize + release. At 100 TB this is the
    * standard walk-table build: walks are independent rows, the step loop
    * is the only sequential dimension, and every join keys on node id.
    * Overflow posture: ids are masked to 31 bits before the multiply
    * (the HashFns convention), so (2^31)·2654435761 ≈ 5.7e18 plus the
    * step and neighbor terms stays under 2^63 for ANY id domain — an
    * unmasked id past ~2^31.8 would wrap in Spark (pmod still yields a
    * value) while DuckDB raises, silently breaking the oracle parity.
    */
  def randomWalks(pairs: DataFrame, isStart: org.apache.spark.sql.Column,
                  steps: Int): DataFrame = {
    require(steps >= 1, s"bad steps $steps")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("v"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("v"), col("a_id").as("nb")))
        .distinct())
    val w0 = Dedup.materialize(
      es.select(col("v").as("id")).distinct().filter(isStart)
        .select(col("id").as("wid"), lit(0L).as("step"), col("id").as("cur")))
    val states = scala.collection.mutable.ArrayBuffer[DataFrame](w0)
    for (s <- 1 to steps) {
      val h = pmod(col("wid").bitwiseAND(lit(2147483647L)) * lit(2654435761L)
        + lit(s.toLong) * lit(40503L)
        + col("nb").bitwiseAND(lit(2147483647L)) * lit(97781L), lit(1000000007L))
      states += Dedup.materialize(
        states.last.join(es, states.last("cur") === es("v"))
          .select(col("wid"), col("nb"))
          .groupBy("wid")
          .agg(min(struct(h.as("h"), col("nb").as("nb"))).as("m"))
          .select(col("wid"), lit(s.toLong).as("step"), col("m.nb").as("cur")))
    }
    val out = Dedup.materialize(
      states.map(st => st.select(col("wid"), col("step"), col("cur").as("node")))
        .reduce(_ unionAll _))
    states.foreach(Dedup.release)
    Dedup.release(es)
    out
  }

  /** k-truss peel over an oriented (a_id, b_id) pair table — the EDGE
    * analogue of [[kCore]] (Cohen 2008): `rounds` iterations of "drop
    * every edge in fewer than k−2 triangles", keeping the cohesive cores
    * where node-degree peels can't distinguish a dense community from a
    * hub's star. A FIXED round count (the kCore/labelPropagation
    * convention) keeps the result a pure function of the graph for the
    * unrolled SQL oracle; callers size `rounds` ≥ the peel depth for the
    * true fixpoint. Returns the surviving edges with their support in the
    * FINAL surviving set (so a reader can see how far above the threshold
    * each core edge sits).
    *
    * Scale shape per round: the oriented triangle enumeration is two
    * equi-joins on node ids (each triangle x<y<z found once), the
    * per-edge support one keyed aggregate over the 3-projection union,
    * and the peel one semi-join — all co-partitionable, no all-pairs
    * step, and the edge set only shrinks. Degree re-orientation (low-id →
    * low-degree) is the standard hub lever, same as [[triangleStats]].
    */
  def kTruss(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, s"bad kTruss config ($k, $rounds)")
    def support(e: DataFrame): DataFrame = {
      val t = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      t.select(col("x").as("a"), col("y").as("b"))
        .unionAll(t.select(col("y").as("a"), col("z").as("b")))
        .unionAll(t.select(col("x").as("a"), col("z").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    }
    var e = Dedup.materialize(
      pairs.select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b")).distinct())
    for (_ <- 1 to rounds) {
      val next = Dedup.materialize(
        e.join(support(e).filter(col("sup") >= k - 2), Seq("a", "b"), "left_semi"))
      Dedup.release(e)
      e = next
    }
    val out = Dedup.materialize(
      e.join(support(e), Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup")))
    Dedup.release(e)
    out
  }

  /** HITS hubs & authorities over a DIRECTED edge table (src, dst), `iters`
    * full rounds of the mutual recurrence a ← Aᵀh, h ← A·a — link-economy
    * scoring where PageRank's single score conflates the two roles (here:
    * orient near-dup edges later→earlier and hubs are the serial copiers,
    * authorities the copied originals).
    *
    * Determinism: the textbook algorithm L2-normalizes each round, which
    * puts a float SUM in every iteration (summation-order noise compounds
    * across rounds and flips oracle hashes). Instead we run the
    * UN-normalized power iteration in Long arithmetic — init 1, pure
    * integer sums, so every intermediate is exact in any engine and any
    * summation order — and defer normalization to a single terminal
    * quantized division (basis points of the max). Same fixpoint direction:
    * normalization only rescales, never reorders. Magnitudes grow like
    * λ^(2·iters) (λ <= max degree), so Long holds through iters=5 for any
    * graph with max degree < ~450; the caller-facing contract documents
    * that a deeper/denser run should switch to doubles and accept a
    * tolerance gate instead of a hash gate.
    *
    * Scale shape per round: two equi-joins of edges with an O(nodes) score
    * vector plus two keyed aggregates — both shuffles key on node id, so a
    * cluster run co-partitions edges and scores once (same contract as
    * [[pageRank]]). Each round materializes and releases its predecessor
    * ([[kCore]]'s loop hygiene) so the plan stays O(1) deep.
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"bad hits iters $iters")
    // NOTE r15 negative result: planner-visible hash(src)/hash(dst)
    // checkpoint layouts of the adjacency (one per orientation, each
    // checkpointed with AQE off as in pageRank's note) measured WORSE
    // (gr_hits 1.77 -> 2.9 s solo) for the same reason as pageRank's — a
    // fixed-partitioning leaf disables AQE's tiny-shuffle coalescing, so
    // every half-round ran 32-task micro-stages. Plain stats-carrying
    // checkpoint + AQE stands; the A/Aᵀ co-partitioned layout remains the
    // documented posture for clusters whose partitions carry real data.
    val e = Dedup.materialize(edges.select(col("src"), col("dst")).distinct())
    val nodes = Dedup.materialize(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    var hub = nodes.select(col("id"), lit(1L).as("h"))
    var auth: DataFrame = null
    var prevHub: DataFrame = null
    for (r <- 1 to iters) {
      // The authority frame stays LAZY inside a round: it is consumed
      // exactly once (by this round's hub build), so materializing it only
      // added a checkpoint job per round. Only the FINAL round's authority
      // is materialized — the output projection reads it after the loop,
      // by which time its lazy lineage would reference a released hub.
      val aLazy =
        nodes.join(
            e.join(hub.select(col("id").as("src"), col("h")), "src")
              .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a0")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("a0"), lit(0L)).as("a"))
      val a = if (r == iters) Dedup.materialize(aLazy) else aLazy
      auth = a
      val h = Dedup.materialize(
        nodes.join(
            e.join(a.select(col("id").as("dst"), col("a")), "dst")
              .groupBy(col("src").as("id")).agg(sum(col("a")).as("h0")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("h0"), lit(0L)).as("h")))
      Dedup.release(prevHub)
      prevHub = h
      hub = h
    }
    val mx = broadcast(hub.join(auth, "id")
      .agg(max(col("h")).as("mh"), max(col("a")).as("ma")))
    val out = hub.join(auth, "id").crossJoin(mx)
      // `div`, not `/`: Column./ is DOUBLE division, which is inexact once
      // h·10000 passes 2^53 and rounds-to-nearest where the oracle floors
      .select(col("id"), col("h").as("hub"), col("a").as("auth"),
        expr("(h * 10000) div greatest(mh, CAST(1 AS BIGINT))").as("hub_bp"),
        expr("(a * 10000) div greatest(ma, CAST(1 AS BIGINT))").as("auth_bp"))
    // the final hub/auth frames are materialized, so the returned plan no
    // longer references the edge or node copies — free them now
    Dedup.release(e)
    Dedup.release(nodes)
    out
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for every
    * NON-adjacent pair (a, b) with shared neighbors, RA(a,b) = Σ_z 1/deg(z)
    * over the common neighbors z — [[commonNeighbors]] weighted by how
    * *exclusive* each shared neighbor is (a shared hub is weak evidence, a
    * shared degree-2 node strong). RA is the exact-integer sibling of
    * Adamic–Adar: AA's 1/log deg(z) needs libm log (not correctly-rounded,
    * so not cross-engine reproducible), while RA's per-center term
    * quantizes to the exact integer floor(1e6/deg(z)) and the score is a
    * plain BIGINT sum — hash-gateable in any engine.
    *
    * Scale shape: identical to [[commonNeighbors]] — wedge enumeration
    * keyed on the CENTER node (one self-join of the symmetrized adjacency,
    * with the center's degree carried on the wedge row so no post-join),
    * one groupBy on the predicted pair, one anti-join against existing
    * edges. Hub fan-out is the O(deg²) wedge cost with the usual
    * degree-orientation lever.
    */
  def resourceAllocation(pairs: DataFrame): DataFrame = {
    val e = pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct()
    val es = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("id"), col("b").as("nb"))
    val deg = es.groupBy("id").agg(count(lit(1)).as("dg"))
    val wz = es.join(deg, "id")
    val wedges = wz.as("w1")
      .join(wz.as("w2"), col("w1.id") === col("w2.id") && col("w1.nb") < col("w2.nb"))
      .select(col("w1.nb").as("a_id"), col("w2.nb").as("b_id"),
        col("w1.dg").as("cdg"))
      .groupBy("a_id", "b_id")
      // `div`, not `/`: exact integer quantization of 1/deg — the whole
      // point of RA over AA here (see scaladoc)
      .agg(count(lit(1)).as("common"), sum(expr("1000000 div cdg")).as("ra_ppm"))
    wedges
      .join(e, col("a_id") === col("a") && col("b_id") === col("b"), "left_anti")
      .orderBy("a_id", "b_id")
  }

  /** One synchronous Louvain phase-1 sweep (Blondel et al. 2008) from the
    * singleton partition: every node evaluates the modularity gain of
    * joining each neighbor's community and moves iff the best gain is
    * positive. From singletons the gain of moving i into {j} reduces to the
    * EXACT integer ΔQ·2m² = 2m − deg(i)·deg(j) (derivation: the only
    * δ(c_i,c_j) terms that change are the (i,j) pair itself), so the argmax
    * over neighbors is "the lowest-degree neighbor" with ties broken on the
    * smallest node id — the degree-penalized attachment rule, and a pure
    * integer function of the graph the SQL oracle replays verbatim. This is
    * the PARALLEL sweep (all nodes decide against the pre-sweep partition
    * simultaneously — the standard distributed-Louvain round); sequential
    * Louvain would interleave moves, which no unrolled oracle can replay.
    * Returns per node: degree, chosen community (own id if no positive
    * gain), the best gain in ΔQ·2m² units, and the moved flag.
    *
    * Scale shape: two broadcasts of the O(nodes) degree vector onto the
    * edge list (keyed on node id), one scalar m broadcast, one per-node
    * struct-min — no all-pairs step, co-partitioned with the adjacency.
    */
  def louvainMove(pairs: DataFrame): DataFrame = {
    val e = pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct()
    val es = e.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("id"), col("a").as("nb")))
    val deg = es.groupBy("id").agg(count(lit(1)).as("dg"))
    val m = broadcast(e.agg(count(lit(1)).as("m")))
    es
      .join(deg.select(col("id"), col("dg").as("di")), "id")
      .join(deg.select(col("id").as("nb"), col("dg").as("dj")), "nb")
      .crossJoin(m)
      .select(col("id"), col("nb"), col("di"),
        (lit(2L) * col("m") - col("di") * col("dj")).as("g"))
      .groupBy("id")
      .agg(min(struct((-col("g")).as("ng"), col("nb").as("nb"))).as("b"),
        max(col("di")).as("dg"))
      .select(col("id"), col("dg"),
        when(-col("b.ng") > 0, col("b.nb")).otherwise(col("id")).as("new_comm"),
        (-col("b.ng")).as("gain2m2"),
        when(-col("b.ng") > 0, 1L).otherwise(0L).as("moved"))
      .orderBy("id")
  }

  /** Materialized frames of the shared two-level pipeline — consumed by
    * [[louvainTwoLevel]] (per-level modularity report) and
    * [[louvainCommunitiesFrom]] (the membership table); each consumer
    * materializes its own output then releases `toRelease`.
    */
  private case class LouvainFrames(c3: DataFrame, cf: DataFrame,
                                   toRelease: Seq[DataFrame])

  /** Two-level Louvain pipeline (Blondel et al. 2008, both phases) —
    * completes [[louvainMove]]'s single sweep into the full algorithm
    * shape: a bounded move PHASE (three parallel sweeps), then the
    * COARSENING the method is named for (communities become super-nodes,
    * edge weights aggregate by community pair — one groupBy), then one
    * weighted move sweep on the coarse graph. [[louvainTwoLevel]] reports
    * per-level modularity off these frames in exact Q·(2m)² integer
    * units — q = Σ_c (2m·2·intra_c − tot_c²), no floats anywhere, so the
    * report hash-matches an unrolled SQL oracle — and
    * [[louvainCommunitiesFrom]] emits the membership table.
    *
    * Move rule (general-partition gain, exact integers): node i's score
    * for community c is 2m·k_ic − deg_i·(Σtot(c) − [c = C(i)]·deg_i); the
    * argmax with ties preferring the CURRENT community, then the smallest
    * label, is the standard Louvain greedy (score differences are
    * ΔQ·2m²). From singletons this reduces exactly to [[louvainMove]]'s
    * 2m − deg_i·deg_j rule. Sweep 1 moves every node simultaneously (the
    * distributed-Louvain parallel round); sweeps 2 and 3 move only even /
    * odd ids respectively — the alternating-parity schedule that breaks
    * the two-node swap cycles a fully-parallel iteration can enter, while
    * staying a pure function of the graph that an oracle can replay
    * (sequential Louvain's interleaved moves cannot be). Level 2 runs the
    * SAME 3-sweep schedule on the coarse graph with the weighted general-
    * partition gain 2m·k_uc − wdeg_u·(Σwtot(c) − [c = C(u)]·wdeg_u)
    * (k_uc = edge weight from u into c, self-loops excluded — they cancel
    * in the derivation): a single fully-parallel coarse sweep would let
    * two communities that mutually prefer each other SWAP labels instead
    * of merging (the canonical phase-2 merge becomes a silent no-op) and
    * let move chains merge communities whose combined gain was never
    * evaluated, violating Louvain's monotone-Q property exactly when the
    * coarse pass should help; the parity sweeps break those opposite-
    * parity cycles (GraphSpec's mutual-preference triangles pin the
    * accepted merge).
    *
    * Scale shape per sweep: two O(nodes) broadcast-sized frames (degree,
    * community Σtot) joined onto the edge list, one keyed count for k_ic,
    * one per-node struct-min — co-partitioned with the adjacency, no
    * all-pairs step; the coarsening is ONE groupBy on the community pair,
    * and every level-2 frame is O(communities). Iterative frames go
    * through materialize+release (the fixpoint staging convention).
    * Overflow posture: scores and q terms are ≤ 2m·max_deg and 4m² — past
    * ~2^31 edges the q lattice needs the DECIMAL(38,0) widening
    * rel_table_checksum documents.
    */
  private def louvainPipeline(pairs: DataFrame): LouvainFrames = {
    import Dedup.{materialize, release}
    val e = materialize(pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct())
    val es = materialize(e.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("id"), col("a").as("nb"))))
    val deg = materialize(es.groupBy("id").agg(count(lit(1)).as("dg")))
    val m2 = broadcast(e.agg((count(lit(1)) * 2).as("m2")))
    val c0 = materialize(
      es.select(col("id")).distinct().select(col("id"), col("id").as("c")))

    def sweep(comm: DataFrame,
              eligible: org.apache.spark.sql.Column): DataFrame = {
      val cn = es.join(comm.select(col("id").as("nb"), col("c")), "nb")
        .groupBy("id", "c").agg(count(lit(1)).as("k"))
      val st = comm.join(deg, "id").groupBy("c").agg(sum(col("dg")).as("st"))
      val ownCand = comm.join(cn, Seq("id", "c"), "left")
        .select(col("id"), col("c"),
          coalesce(col("k"), lit(0L)).as("k"), lit(0L).as("nown"))
      val otherCand = cn.join(comm.select(col("id"), col("c").as("a")), "id")
        .filter(col("c") =!= col("a"))
        .select(col("id"), col("c"), col("k"), lit(1L).as("nown"))
      val scored = ownCand.unionAll(otherCand)
        .join(deg, "id").join(st, "c").crossJoin(m2)
        .select(col("id"), col("c"), col("nown"),
          (col("m2") * col("k") - col("dg") * (col("st") -
            when(col("nown") === 0, col("dg")).otherwise(lit(0L)))).as("g"))
      materialize(scored
        .groupBy("id")
        .agg(min(struct((-col("g")).as("ng"), col("nown").as("nown"),
          col("c").as("c"))).as("b"))
        .join(comm.select(col("id"), col("c").as("a")), "id")
        .select(col("id"),
          when(eligible, col("b.c")).otherwise(col("a")).as("c")))
    }

    val c1 = sweep(c0, lit(true))
    val c2 = sweep(c1, col("id") % 2 === 0)
    val c3 = sweep(c2, col("id") % 2 === 1)

    // phase 2: coarsen — aggregate edge weights by community pair (the
    // one groupBy); self-pairs are the intra-community mass
    val ce = materialize(e
      .join(c3.select(col("id").as("a"), col("c").as("ca")), "a")
      .join(c3.select(col("id").as("b"), col("c").as("cb")), "b")
      .select(least(col("ca"), col("cb")).as("u"),
        greatest(col("ca"), col("cb")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w")))
    val ces = ce.filter(col("u") =!= col("v"))
    val cesSym = ces.select(col("u"), col("v"), col("w"))
      .unionAll(ces.select(col("v").as("u"), col("u").as("v"), col("w")))
    val cwd = materialize(c3.select(col("c").as("u")).distinct()
      .join(cesSym.groupBy("u").agg(sum(col("w")).as("nw")), Seq("u"), "left")
      .join(ce.filter(col("u") === col("v"))
        .select(col("u"), (col("w") * 2).as("sw")), Seq("u"), "left")
      .select(col("u"),
        (coalesce(col("nw"), lit(0L)) + coalesce(col("sw"), lit(0L))).as("wd")))
    // level-2 move phase: the SAME 3-sweep alternating-parity schedule as
    // level 1, with the weighted general-partition gain over the coarse
    // graph (see [[weightedMovePhase]]); eagerSweeps = 3 because level 2
    // runs on the community-sized coarse graph, where per-sweep checkpoint
    // jobs beat lazily re-computed exchange fans (the measured
    // louvainLevels coarse-level result)
    val (l2c3, l2frames) = weightedMovePhase(cesSym, cwd, m2, eagerSweeps = 3)
    val cf = materialize(c3.join(l2c3, c3("c") === l2c3("u"))
      .select(c3("id"), l2c3("c")))
    LouvainFrames(c3, cf,
      Seq(cf) ++ l2frames ++ Seq(cwd, ce, c3, c2, c1, c0, deg, es, e))
  }

  /** 3-sweep alternating-parity move phase over a WEIGHTED graph — the
    * generalization both Louvain consumers share: [[louvainPipeline]]'s
    * level-2 pass and every level of [[louvainLevels]]. Gain of coarse
    * node u for community c is 2m·k_uc − wd_u·(Σwtot(c) − [c = C(u)]·wd_u)
    * with k_uc = Σ edge weight from u into c (self-loops excluded — they
    * cancel in the derivation) and wd including self-loop mass; ties
    * prefer the current community, then the smallest label. Sweep 1 moves
    * all nodes, sweeps 2/3 only even/odd ids — the parity schedule that
    * breaks swap cycles. Inputs: `cesSym` (u, v, w) symmetric non-self
    * edges, `cwd` (u, wd) covering EVERY node, `m2` a broadcast 1-row 2m
    * frame. Returns the final (u, c) labels plus all four materialized
    * sweep frames (caller owns their release; the labels frame is
    * included).
    */
  /** [[Dedup.materialize]] + statistics RESET — the form every frame in
    * the deeply-chained Louvain machinery must use. localCheckpoint copies
    * the child plan's ESTIMATED statistics onto the checkpointed
    * LogicalRDD (so join planning stays informed), but size estimates
    * MULTIPLY through joins, so chaining checkpoints through an iterative
    * multi-join operator compounds them doubly-exponentially: by the
    * fourth Louvain level the estimates are BigIntegers of ~10^6 digits
    * and the OPTIMIZER spends tens of seconds per sweep inside
    * BigInteger.multiply (measured: level-4 sweeps 5s → 22s → 66s on a
    * 95-node coarse graph, Karatsuba/ToomCook3 frames dominating the
    * driver stack; optimizer time 2.5s → 8.6s → 30s on a constant-size
    * plan). Rebuilding the frame from the checkpointed RDD drops the
    * estimate to the session default — a CONSTANT — so each plan's stats
    * arithmetic is bounded by its own join count. Auto-broadcast choices
    * lost to the default estimate are recovered at runtime by AQE, which
    * re-plans joins on ACTUAL stage sizes. Only applied under the default
    * localCheckpoint strategy: `persist` keeps lineage (no stats copy to
    * compound) and needs the original frame for cache release.
    */
  private def materializeReset(df: DataFrame): DataFrame = {
    val ck = Dedup.materialize(df)
    if (df.sparkSession.conf.getOption("spark.graft.materialize")
        .forall(_ == "localCheckpoint"))
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    else ck
  }

  /** @param eagerSweeps how many TRAILING sweeps to checkpoint (2 = c2 and
    *   c3, the full-graph default; 3 additionally checkpoints c1; 0 =
    *   fully lazy). A sweep references its predecessor ~5 times and Spark
    *   does NOT reuse the repeated subtrees across those references (the
    *   aliasing projections break exchange canonicalization), so each LAZY
    *   predecessor multiplies the consuming job's exchange count ~5x.
    *   Measured r15, gr_louvain_levels solo: fully lazy coarse sweeps
    *   (eagerSweeps = 0) exploded the per-level stage count ~25x and ran
    *   6.3 -> 52 s — lazy chaining is NOT cheap here despite the
    *   community-sized data, because the cost is stage-barrier count, not
    *   rows. The default stays 2 (c1 lazy) for the one full-graph phase;
    *   [[louvainLevels]] passes 3 for its coarse levels, trading ONE extra
    *   tiny checkpoint job per level for the ~20 recomputed c1 exchanges
    *   inside each c2 job.
    */
  private def weightedMovePhase(cesSym: DataFrame, cwd: DataFrame,
                                m2: DataFrame, eagerSweeps: Int = 2): (DataFrame, Seq[DataFrame]) = {
    def materialize(df: DataFrame): DataFrame = materializeReset(df)
    def wsweep(comm: DataFrame,
               eligible: org.apache.spark.sql.Column): DataFrame =
      materialize(wsweepLazy(comm, eligible))
    def wsweepLazy(comm: DataFrame,
                   eligible: org.apache.spark.sql.Column): DataFrame = {
      val cn = cesSym.join(comm.select(col("u").as("v"), col("c")), "v")
        .groupBy("u", "c").agg(sum(col("w")).as("k"))
      val st = comm.join(cwd, "u").groupBy("c").agg(sum(col("wd")).as("st"))
      val ownCand = comm.join(cn, Seq("u", "c"), "left")
        .select(col("u"), col("c"),
          coalesce(col("k"), lit(0L)).as("k"), lit(0L).as("nown"))
      val otherCand = cn.join(comm.select(col("u"), col("c").as("a")), "u")
        .filter(col("c") =!= col("a"))
        .select(col("u"), col("c"), col("k"), lit(1L).as("nown"))
      val scored = ownCand.unionAll(otherCand)
        .join(cwd, "u").join(st, "c").crossJoin(m2)
        .select(col("u"), col("c"), col("nown"),
          (col("m2") * col("k") - col("wd") * (col("st") -
            when(col("nown") === 0, col("wd")).otherwise(lit(0L)))).as("g"))
      scored
        .groupBy("u")
        .agg(min(struct((-col("g")).as("ng"), col("nown").as("nown"),
          col("c").as("c"))).as("b"))
        .join(comm.select(col("u"), col("c").as("a")), "u")
        .select(col("u"),
          when(eligible, col("b.c")).otherwise(col("a")).as("c"))
    }
    // c0/c1 stay LAZY: a sweep references its predecessor ~4 times, so a
    // lazy c1 is recomputed 4x inside c2's job — trivial on the coarse
    // graphs every caller feeds this phase (louvainPipeline's level 2,
    // louvainLevels' levels >= 2 via the cached level-1 labels; the spec
    // path's level 1 runs on hand-sized graphs). Checkpointing only
    // c2/c3 halves the phase's checkpoint-block churn — the burst that
    // showed up as suite-position spikes on the queries alphabetically
    // AFTER gr_louvain_levels (gr_random_walks 0.41s in-suite vs 0.12s
    // solo, gr_sgns_batch 1.56 vs 0.87, gr_stress 2.34 vs 1.31 — all
    // solo-disproved same-day, BASELINE.md §r14).
    val c0 = cwd.select(col("u"), col("u").as("c"))
    val c1 = if (eagerSweeps >= 3) wsweep(c0, lit(true))
             else wsweepLazy(c0, lit(true))
    val c2 = if (eagerSweeps >= 2) wsweep(c1, col("u") % 2 === 0)
             else wsweepLazy(c1, col("u") % 2 === 0)
    val c3 = if (eagerSweeps >= 1) wsweep(c2, col("u") % 2 === 1)
             else wsweepLazy(c2, col("u") % 2 === 1)
    (c3, Seq(c3, c2, c1).take(eagerSweeps))
  }

  /** (id, comm_move, comm_final) membership table — the ONE expensive
    * product of [[louvainPipeline]] (the 3 sweeps + coarsening), built
    * once and shared: [[louvainReport]] scores per-level modularity off
    * it and [[louvainCommunitiesFrom]] decorates it with community sizes, so
    * the query layer can family-cache this frame instead of running the
    * pipeline per consumer. Materialized; caller owns the release.
    */
  def louvainMemberTable(pairs: DataFrame): DataFrame = {
    import Dedup.{materialize, release}
    val f = louvainPipeline(pairs)
    val res = materialize(
      f.c3.select(col("id"), col("c").as("comm_move"))
        .join(f.cf.select(col("id"), col("c").as("comm_final")), "id"))
    f.toRelease.foreach(release)
    res
  }

  /** Per-level modularity report off a prebuilt [[louvainMemberTable]]:
    * the graph frames it rescoring needs (edges, degrees, 2m) are one
    * cheap pass over `pairs` — the expensive sweeps live in the member
    * table. Does NOT release `members` (it may be a cached frame).
    */
  def louvainReport(pairs: DataFrame, members: DataFrame): DataFrame = {
    import Dedup.{materialize, release}
    val e = materialize(pairs.select(least(col("a_id"), col("b_id")).as("a"),
      greatest(col("a_id"), col("b_id")).as("b")).distinct())
    val deg = materialize(
      e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg")))
    val m2 = broadcast(e.agg((count(lit(1)) * 2).as("m2")))

    def q(comm: DataFrame): DataFrame = {
      val tot = comm.join(deg, "id").groupBy("c").agg(sum(col("dg")).as("tot"))
      val intra = e
        .join(comm.select(col("id").as("a"), col("c").as("ca")), "a")
        .join(comm.select(col("id").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("inc"))
      tot.join(intra, Seq("c"), "left").crossJoin(m2)
        .select((col("m2") * lit(2L) * coalesce(col("inc"), lit(0L))
          - col("tot") * col("tot")).as("qc"))
        .agg(count(lit(1)).as("n_comms"), sum(col("qc")).as("q_2m2"))
    }

    val c0 = deg.select(col("id"), col("id").as("c"))
    val res = materialize(
      q(c0).select(lit(0L).as("level"), col("n_comms"), col("q_2m2"))
        .unionAll(q(members.select(col("id"), col("comm_move").as("c")))
          .select(lit(1L).as("level"), col("n_comms"), col("q_2m2")))
        .unionAll(q(members.select(col("id"), col("comm_final").as("c")))
          .select(lit(2L).as("level"), col("n_comms"), col("q_2m2")))
        .orderBy("level"))
    Seq(deg, e).foreach(release)
    res
  }

  /** Final community membership with sizes off a prebuilt
    * [[louvainMemberTable]] — the table [[louvainReport]] summarizes and
    * the one a dedup-cluster triage panel actually reads. One
    * O(communities) size aggregate joined back; rows = O(nodes). Does
    * NOT release `members`.
    */
  def louvainCommunitiesFrom(members: DataFrame): DataFrame = {
    val sz = members.groupBy(col("comm_final")).agg(count(lit(1)).as("comm_size"))
    members.join(sz, "comm_final")
      .select(col("id"), col("comm_move"), col("comm_final"), col("comm_size"))
      .orderBy("id")
  }

  /** Self-contained report (builds and releases its own member table) —
    * the spec-facing form; the query layer shares one cached member table
    * across both consumers instead.
    */
  def louvainTwoLevel(pairs: DataFrame): DataFrame = {
    import Dedup.release
    val m = louvainMemberTable(pairs)
    val res = louvainReport(pairs, m)
    release(m)
    res
  }

  /** Multi-level Louvain to a bounded cap (Blondel et al. 2008's full
    * outer loop): iterate [move phase → coarsen] `levels` times on the
    * successively coarsened WEIGHTED graph (edge weights sum on community
    * pairs; intra-community mass becomes self-loops), reporting
    * (level, n_comms, q_2m2) per level in exact Q·(2m)² integers. Every
    * level runs [[weightedMovePhase]] (level 1 on unit weights reduces
    * exactly to the pipeline's unweighted sweeps, so levels 0–2 of this
    * report EQUAL [[louvainTwoLevel]] — GraphSpec asserts it). ΔQ = 0
    * convergence needs no explicit stop flag: a locally-optimal partition
    * coarsens to a graph where no coarse node finds positive gain, every
    * later move phase returns singletons, and the report shows consecutive
    * EQUAL (n_comms, q) rows — the fixpoint is self-evident in the output
    * and the cap bounds the work, which is what lets an unrolled SQL
    * oracle replay the loop.
    *
    * Modularity per level is computed on the COARSE graph directly —
    * q = Σ_u (2m·2·self_w(u) − wd(u)²) over its nodes — which equals the
    * original-graph modularity of the composed partition because
    * coarsening preserves intra mass (self-loops) and community weighted
    * degrees exactly.
    *
    * Scale shape: level 1 is the usual O(|E|) sweep machinery; every
    * later level runs on an O(communities)-sized graph, so the cap adds
    * asymptotically nothing beyond the two-level pipeline. All iterative
    * frames go through materialize+release.
    */
  /** @param l1 optional precomputed LEVEL-1 labels (id → community, as
    *   (u, c)) — pass the family-cached member table's comm_move column to
    *   skip re-running the expensive full-graph move phase: level 1 of
    *   this loop on unit weights is EXACTLY the pipeline's unweighted
    *   3-sweep (GraphSpec proves rows 0–2 equal louvainTwoLevel), so the
    *   reuse is an identity, not an approximation.
    */
  def louvainLevels(pairs: DataFrame, levels: Int = 4,
                    l1: Option[DataFrame] = None): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    import Dedup.release
    // every frame here chains through many checkpoint generations — the
    // stats-reset materialize is what keeps the optimizer O(plan), see
    // [[materializeReset]]
    def materialize(df: DataFrame): DataFrame = materializeReset(df)
    val ge0 = materialize(pairs
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct().withColumn("w", lit(1L)))
    val m2 = broadcast(ge0.agg((sum(col("w")) * lit(2L)).as("m2")))
    val owned = scala.collection.mutable.ArrayBuffer[DataFrame](ge0)

    // symmetric non-self edges + per-node weighted degree (self-loops
    // count twice) for one level's graph; cwd covers every node
    def frames(g: DataFrame): (DataFrame, DataFrame) = {
      val ns = g.filter(col("u") =!= col("v"))
      val cesSym = ns.select(col("u"), col("v"), col("w"))
        .unionAll(ns.select(col("v").as("u"), col("u").as("v"), col("w")))
      val cwd = materialize(
        g.select(col("u")).unionAll(g.select(col("v").as("u"))).distinct()
          .join(cesSym.groupBy("u").agg(sum(col("w")).as("nw")), Seq("u"), "left")
          .join(g.filter(col("u") === col("v"))
            .select(col("u"), (col("w") * 2).as("sw")), Seq("u"), "left")
          .select(col("u"),
            (coalesce(col("nw"), lit(0L)) + coalesce(col("sw"), lit(0L))).as("wd")))
      owned += cwd
      (cesSym, cwd)
    }

    def qOf(g: DataFrame, cwd: DataFrame, level: Int): DataFrame =
      cwd.join(g.filter(col("u") === col("v"))
          .select(col("u"), col("w").as("iw")), Seq("u"), "left")
        .crossJoin(m2)
        .select((col("m2") * lit(2L) * coalesce(col("iw"), lit(0L))
          - col("wd") * col("wd")).as("qc"))
        .agg(count(lit(1)).as("n_comms"), sum(col("qc")).as("q_2m2"))
        .select(lit(level.toLong).as("level"), col("n_comms"), col("q_2m2"))

    var ge = ge0
    var (cesSym, cwd) = frames(ge)
    var report = qOf(ge, cwd, 0)
    (1 to levels).foreach { k =>
      val lab = (k, l1) match {
        case (1, Some(pre)) => pre
        case _ =>
          // levels >= 2 run on community-sized coarse graphs where the cost
          // is Spark-job/stage overhead, not rows: checkpoint EVERY sweep
          // (eagerSweeps = 3) so no job re-computes a predecessor's ~5
          // referenced subtrees — see weightedMovePhase's eagerSweeps doc
          // for the measured 0/2/3 comparison; level 1 (only reached
          // without a precomputed l1 — the spec path) keeps the full-graph
          // default.
          val (moved, phaseFrames) =
            weightedMovePhase(cesSym, cwd, m2,
              eagerSweeps = if (k >= 2) 3 else 2)
          owned ++= phaseFrames
          moved
      }
      val geNext = materialize(ge
        .join(lab.select(col("u"), col("c").as("cu")), "u")
        .join(lab.select(col("u").as("v"), col("c").as("cv")), "v")
        .select(least(col("cu"), col("cv")).as("u"),
          greatest(col("cu"), col("cv")).as("v"), col("w"))
        .groupBy("u", "v").agg(sum(col("w")).as("w")))
      owned += geNext
      ge = geNext
      val fr = frames(ge)
      cesSym = fr._1; cwd = fr._2
      report = report.unionAll(qOf(ge, cwd, k))
    }
    val res = materialize(report.orderBy("level"))
    owned.foreach(release)
    res
  }

  /** Deterministic node2vec walk corpus (Grover & Leskovec 2016) — the
    * SECOND-ORDER biased sibling of [[randomWalks]]: each hop from cur
    * (having arrived from prev) weights candidate nb by the node2vec α —
    * `wReturn` if nb = prev (the 1/p return bias), `wCommon` if nb is also
    * a neighbor of prev (BFS-like, α = 1), `wFar` otherwise (the 1/q
    * depth bias). Defaults (25, 100, 50) encode p = 4, q = 2 in percent —
    * return discouraged, exploration mildly discouraged. The weighted
    * choice stays deterministic and integer-exact: candidate key
    * = (h·100) div w with h the same masked multiplicative hash as
    * [[randomWalks]], so a heavier weight shrinks the key range and the
    * struct-min picks the winner — the full trajectory table
    * hash-matches an SQL oracle replaying the same argmin. This race is
    * weight-MONOTONE, not weight-proportional: over uniform h, weight
    * ratio r makes the heavier candidate win with probability
    * 1 − 1/(2r), not the r/(r+1) a true exponential race (key
    * = −ln(u)/w) realizes — so the trajectories encode the p/q
    * preference ORDER faithfully but not node2vec's exact transition
    * distribution (a distribution-faithful variant would precompute
    * integer floor(K·ln(P/h))/w keys; the gate's reproducibility
    * contract is on the deterministic argmin, which either key form
    * satisfies). Step 1 has no prev (all candidates weigh `wFar`), so
    * it coincides with the first-order walk, as in the paper.
    *
    * Scale shape per step: the [[randomWalks]] state⋈edges equi-join plus
    * ONE extra left equi-join against the adjacency on (prev, nb) — the
    * genuine cost of second-order bias (the walker must know the prev
    * neighborhood), still O(walks) state and node-id-keyed throughout.
    * Overflow posture: ids masked to 31 bits before the multiply; the key
    * multiplies the sub-2^30 hash by 100, staying far under 2^63.
    */
  def node2vecWalks(pairs: DataFrame, isStart: org.apache.spark.sql.Column,
                    steps: Int, wReturn: Long = 25L, wCommon: Long = 100L,
                    wFar: Long = 50L): DataFrame = {
    require(steps >= 1, s"bad steps $steps")
    require(wReturn > 0 && wCommon > 0 && wFar > 0, "weights must be positive")
    val es = Dedup.materialize(
      pairs.select(col("a_id").as("v"), col("b_id").as("nb"))
        .union(pairs.select(col("b_id").as("v"), col("a_id").as("nb")))
        .distinct())
    val w0 = Dedup.materialize(
      es.select(col("v").as("id")).distinct().filter(isStart)
        .select(col("id").as("wid"), lit(0L).as("step"),
          lit(null).cast("bigint").as("prev"), col("id").as("cur")))
    val states = scala.collection.mutable.ArrayBuffer[DataFrame](w0)
    for (s <- 1 to steps) {
      val cand = states.last.join(es, states.last("cur") === es("v"))
        .select(col("wid"), col("prev"), col("cur"), col("nb"))
      val pe = es.select(col("v").as("pv"), col("nb").as("pnb"))
      val h = pmod(col("wid").bitwiseAND(lit(2147483647L)) * lit(2654435761L)
        + lit(s.toLong) * lit(40503L)
        + col("nb").bitwiseAND(lit(2147483647L)) * lit(97781L), lit(1000000007L))
      // order matters and matches the oracle CASE: the return candidate is
      // never ALSO a (prev, nb) adjacency row (no self-loops), so the two
      // branches are disjoint, but stating return first documents intent
      val wgt = when(col("nb") === col("prev"), lit(wReturn))
        .when(col("pv").isNotNull, lit(wCommon))
        .otherwise(lit(wFar))
      states += Dedup.materialize(
        cand.join(pe, cand("prev") === pe("pv") && cand("nb") === pe("pnb"), "left")
          .withColumn("hraw", h).withColumn("wgt", wgt)
          // `div`, not `/`: double division near a key collision could
          // floor differently across engines; integer div is exact
          .withColumn("k", expr("(hraw * 100) div wgt"))
          .groupBy("wid")
          // cur is constant per wid in this step's state, so max() is just
          // "carry it" — it becomes next step's prev
          .agg(min(struct(col("k"), col("nb").as("nb"))).as("m"),
            max(col("cur")).as("pc"))
          .select(col("wid"), lit(s.toLong).as("step"), col("pc").as("prev"),
            col("m.nb").as("cur")))
    }
    val out = Dedup.materialize(
      states.map(st => st.select(col("wid"), col("step"), col("cur").as("node")))
        .reduce(_ unionAll _))
    states.foreach(Dedup.release)
    Dedup.release(es)
    out
  }

  /** Bucket width of [[plantedDigraph]] — ids in different buckets are
    * never connected, so every closure/SCC/condensation step is bounded by
    * this constant. A multiple of [[DigraphSeg]] so back edges cannot
    * cross a bucket boundary.
    */
  private[graft] val DigraphBucket = 40

  /** Segment width of [[plantedDigraph]] — one 4-node cycle is planted per
    * segment (back edge at offset 5 to offset 2).
    */
  private[graft] val DigraphSeg = 8

  /** Deterministic planted DIGRAPH over the documents id domain — the
    * directed-graph test harness, in the planted-structure convention the
    * ER registry established (a known ground truth derived by pure
    * arithmetic, so exact structural invariants are oracle-checkable).
    * Nodes are doc ids. Within each [[DigraphBucket]]-id bucket, a chain
    * edge i -> i+1 links consecutive ids, and a back edge i -> i-3 at
    * every i = 5 (mod [[DigraphSeg]]) closes a 4-node cycle per segment —
    * so each full bucket carries 5 known 4-node SCCs threaded on singleton
    * chain nodes, and the condensation of a bucket is a path. Candidate
    * targets are existence-joined against the node set, which truncates
    * both rules correctly on a partial last bucket. Both rules are pure id
    * arithmetic: the SQL oracle re-derives the edge set in two SELECTs.
    */
  def plantedDigraph(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id").as("id"))
    val cand = ids.filter(col("id") % DigraphBucket =!= (DigraphBucket - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .unionAll(ids.filter(col("id") % DigraphSeg === 5)
        .select(col("id").as("src"), (col("id") - 3).as("dst")))
    cand.join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** Strongly-connected-component labels (id, scc) over a directed edge
    * table, scc = the smallest node id in the component. `nodes` is the
    * EXPLICIT id domain (one `id` column): isolated ids become singleton
    * components via the seeded identity rows, keeping the output domain a
    * caller decision instead of an edge-derivation artifact.
    *
    * Method: reflexive-transitive closure by ITERATIVE DOUBLING —
    * R_(k+1) = R_k compose R_k (the identity rows seeded into R_0 make the
    * composition inclusive, so R_k holds all paths of length <= 2^k) —
    * then one bidirectional reduction: v and u share a component iff
    * (v,u) and (u,v) are both in the closure, so scc(v) = min over u of
    * the mutual-reach set (v itself always qualifies via the seeded
    * identity). `doublings` = 6 covers paths of length 64 — more than any
    * [[plantedDigraph]] bucket (or dedup-cluster component) can hold.
    *
    * Scale shape: closure size is per-component QUADRATIC — the right
    * tool exactly when components are bounded (planted buckets,
    * duplicate clusters); each doubling is one equi-join keyed on the
    * midpoint node + one distinct, and the bidirectional reduction is one
    * more self-join, all node-id-keyed shuffles. For unbounded web-scale
    * digraphs the standard replacement is forward-backward pivot
    * decomposition with trimming (FW-BW-Trim) — same primitive per round
    * (a reachability fixpoint), recursing on the unresolved remainder
    * instead of materializing all-pairs reach.
    */
  def sccLabels(nodes: DataFrame, edges: DataFrame, doublings: Int = 6): DataFrame = {
    require(doublings >= 1 && doublings <= 16, s"bad doublings $doublings")
    var r = Dedup.materialize(
      edges.select(col("src").as("s"), col("dst").as("d"))
        .unionAll(nodes.select(col("id").as("s"), col("id").as("d")))
        .distinct())
    for (_ <- 1 to doublings) {
      val prev = r
      r = Dedup.materialize(
        prev.select(col("s"), col("d").as("mid"))
          .join(prev.select(col("s").as("mid"), col("d")), "mid")
          .select(col("s"), col("d")).distinct())
      Dedup.release(prev)
    }
    val lab = r.select(col("s"), col("d"))
      .join(r.select(col("s").as("bs"), col("d").as("bd")),
        col("d") === col("bs") && col("s") === col("bd"))
      .select(col("s").as("id"), col("d").as("m"))
      .groupBy("id").agg(min(col("m")).as("scc"))
    val out = Dedup.materialize(lab)
    Dedup.release(r)
    out
  }

  /** Condensation edges (cs, cd) of a digraph under an (id, scc) label
    * table: the distinct cross-component edges — the DAG the SCC quotient
    * induces. Two label equi-joins + one distinct, all id-keyed.
    */
  def sccCondensation(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("scc").as("cs")), "src")
      .join(labels.select(col("id").as("dst"), col("scc").as("cd")), "dst")
      .filter(col("cs") =!= col("cd"))
      .select(col("cs"), col("cd")).distinct()

}
