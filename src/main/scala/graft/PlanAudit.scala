package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Whole-inventory plan audit: compiles every query's physical plan and
  * flags the join anti-patterns that silently creep in as the inventory
  * grows — fine at sf0.01, fatal at 100 TB. Complements PlanQualitySpec
  * (which pins targeted GOOD shapes): this sweep is the catch-all for
  * queries nobody wrote an assert for yet.
  *
  * Flags:
  *  - CartesianProduct — never acceptable
  *  - BroadcastNestedLoopJoin whose build side is NOT provably tiny — a
  *    build side is fine when it is a scalar aggregate (no grouping keys:
  *    one row by construction) or a literal VALUES table; anything else is
  *    the all-pairs shape and must be on the documented-anchor allowlist
  *
  * Exit code 1 if any unallowed flag fires (usable as a gate).
  * `sbt "runMain graft.PlanAudit"` — add query names to restrict.
  */
object PlanAudit {

  /** Documented n^2 oracle anchors (scale twins are bucketed/LSH) and
    * dimension-sized theta joins — the ONLY queries allowed a non-scalar
    * nested-loop build.
    */
  private val nlAllowed = Set(
    "dd_embedding_cosine", "dd_ngram_jaccard", "dd_containment",
    "dd_neardup_filter", "dd_threshold_sweep",
    "fn_levenshtein", "rel_join_theta",
    // theta-sketch pair algebra: the `<` self-join runs on the per-
    // EVENT-TYPE sketch rollup — dimension-sized (5 rows x one <= k-long
    // array), corpus-independent
    "rel_kmv_setops",
    // recall eval: the EXACT-global-kNN reference side is the documented
    // all-pairs anchor (same posture as dd_embedding_cosine); the
    // measured subject (the blocked kNN graph) is cluster-keyed
    "sim_knn_recall")

  /** Queries allowed an unpartitioned window whose only reduction below it
    * is a KEYED aggregate — each documented as a bounded spine whose key
    * cardinality does not grow with the corpus:
    *  - rel_histogram_eqdepth / rel_zorder / rel_skyline / win_lift:
    *    DistributedRank prefix windows over per-partition counts/minima —
    *    numPartitions rows by construction (win_lift additionally windows
    *    over the 10-row decile table)
    *  - rel_compaction_plan: per-FILE metadata spine (min/max/rows per
    *    file-id group) — file-count-sized, the table compaction planner's
    *    natural working set
    *  - tx_vocab_growth: running sum over a per-doc rollup under a
    *    doc_id < 100 prefix filter pushed to the scan — 100 rows (a
    *    literal filter bound the structural walk cannot prove; it alone
    *    is ALSO excused a class-0 verdict via [[literalBoundedWindows]] —
    *    the other allowlisted names stay flagged if they ever regress to
    *    a window over an unreduced scan)
    *  - ts_cume_users / ts_ewma / ts_rolling_corr / ts_lerp: running
    *    windows over per-DAY/HOUR aggregates or the min-to-max calendar
    *    spine (explode(sequence(min, max))) — calendar-sized (grows with
    *    time, not with corpus volume)
    *  - rel_share_of_total: share window over the returnflag rollup —
    *    dimension-sized (|returnflag| groups)
    *  - tx_mixture_plan: budget window over the per-SOURCE rollup —
    *    source-catalog-sized
    *  - gr_sgns_batch: DistributedRank.globalRunningSum offsets window
    *    over per-partition weight totals — numPartitions rows by
    *    construction (the same prefix-sum spine as rel_histogram_eqdepth)
    *  - rel_dp_topk: the top-k race rank over the per-BRAND rollup —
    *    dimension-sized (|brand| = 25 candidate rows, the exponential
    *    mechanism's fixed public candidate set, corpus-independent)
    */
  private val boundedSpineWindows = Set(
    "rel_histogram_eqdepth", "rel_zorder", "rel_skyline", "win_lift",
    "rel_compaction_plan", "tx_vocab_growth",
    "ts_cume_users", "ts_ewma", "ts_rolling_corr", "ts_lerp",
    "rel_share_of_total", "tx_mixture_plan", "gr_sgns_batch",
    "rel_dp_topk")

  /** The only query excused an UNREDUCED (class-0) window verdict: its
    * bound is a literal prefix filter the structural walk cannot see.
    */
  private val literalBoundedWindows = Set("tx_vocab_growth")

  /** Unpartitioned-window scale audit (round-8 graduation of the r7
    * three-query assert to the whole inventory): a Window with an empty
    * partitionSpec executes in ONE task, so its input must be provably
    * bounded. Boundedness is PROPAGATED structurally through the child
    * subtree (see cls() below), not grepped for anywhere in it. Accepted,
    * strongest first:
    *  - a GlobalLimit on the input path — top-k reduced, k rows
    *    (LocalLimit is NOT evidence: k rows PER PARTITION grows with the
    *    cluster)
    *  - a scalar Aggregate (no grouping keys) — 1 row
    *  - a keyed Aggregate whose own input is already bounded, or ONLY for
    *    [[boundedSpineWindows]] queries, where the key is a documented
    *    corpus-independent spine
    * Anything else — a bare scan, filter, join, or vocabulary-keyed
    * aggregate feeding a global window — is the single-task sort funnel
    * that dies first at 100 TB (the shape tx_bpe_* and tx_sharded_topk
    * carried until round 8).
    */
  def windowIssues(name: String,
                   lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Structural boundedness of a window INPUT, ranked Unbounded(0) <
    // KeyedAgg(1) < Bounded(2). The r8.0 form accepted ANY Limit/scalar
    // aggregate anywhere in the child subtree — including on the build
    // side of a join, where it bounds nothing (corpus JOIN dim.limit(100)
    // is still corpus-sized). This walk propagates correctly:
    //  - GlobalLimit: bounded (k rows). LocalLimit is NOT accepted as
    //    evidence on its own (k per partition — grows with the cluster);
    //    it passes through like other unary nodes.
    //  - scalar Aggregate: 1 row. Keyed Aggregate: distinct-key-sized —
    //    bounded if its INPUT already is (top-k then grouped), else
    //    class 1, acceptable only via the bounded-spine allowlist.
    //  - Join/Union: as bounded as their WEAKEST input (a join output is
    //    corpus-sized whenever either side is).
    //  - Generate (explode): expands rows — weakens Bounded to KeyedAgg
    //    (array-cardinality-bounded), passes anything else through.
    //  - other unary nodes (Project/Filter/Sort/Window/...): pass-through.
    //  - leaves (relations, LogicalRDD/checkpoints): unbounded.
    def cls(p: LogicalPlan): Int = p match {
      case _: GlobalLimit => 2
      case a: Aggregate if a.groupingExpressions.isEmpty => 2
      case a: Aggregate => if (cls(a.child) == 2) 2 else 1
      case j: Join => math.min(cls(j.left), cls(j.right))
      case u: Union => u.children.map(cls).min
      case g: Generate => math.min(cls(g.child), 1)
      case other if other.children.size == 1 => cls(other.children.head)
      case _ => 0
    }
    lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty =>
        cls(w.child) match {
          case 2 => None
          case 1 if boundedSpineWindows(name) => None
          case 0 if literalBoundedWindows(name) => None
          case 1 => Some("unpartitioned window over keyed-aggregate input (not on bounded-spine allowlist)")
          case _ => Some("unpartitioned window over unreduced input")
        }
    }.flatten.distinct
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case _ => Seq(p)
    }
    self ++ p.children.flatMap(walk) ++
      p.subqueries.flatMap(walk)
  }

  /** Row cap of a literal VALUES build side. A `LocalTableScan` holds its
    * rows in the plan, so it is a literal unless a query re-embeds collected
    * data; the cap tells the two apart at the audit's sf0.001. It sits above
    * the largest literal table in the inventory, the 110-band DP lattice of
    * `rel_dp_median` and `rel_dp_quantiles` (`PrivacyQueries.MedBandLo` to
    * `MedBandHi`), and below the smallest fact table at sf0.001
    * (`customer`, 150 rows), so a collected fact table still flags.
    */
  private val LiteralTableRows = 128

  /** Deliberately-reduced build side. The silent-creep danger this audit
    * exists for is a RAW-SCAN nested-loop build (Catalyst picking BNLJ for
    * a non-equi join over an unreduced table, or a broadcast() landing on
    * the wrong side) — so a build subtree counts as reduced when it holds:
    *  - any aggregate (scalar totals are 1 row; grouped aggregates are
    *    distinct-key-sized — the centroid/date-spine shapes; a HUGE
    *    grouped agg under an explicit broadcast would fail loudly at run
    *    time, which is not the silent class this audit hunts), or
    *  - a literal-pinned filter (vec_id IN (...) / === literal — the
    *    broadcast-query-side pattern of the sim_ family), or
    *  - a literal VALUES table of at most [[LiteralTableRows]] rows.
    */
  private def tinySide(p: SparkPlan): Boolean = walk(p).exists {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => true
    // a planned GLOBAL limit bounds the build side to k rows by
    // construction (sim_mmr_rerank's 20-candidate pairwise-sim build) and
    // always contains the GlobalLimitExec/TakeOrderedAndProject node.
    // LocalLimitExec alone is NOT accepted: it bounds k rows PER PARTITION
    // (grows with the cluster) — the same reason windowIssues rejects
    // LocalLimit as boundedness evidence.
    case _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case l: LocalTableScanExec => l.rows.size <= LiteralTableRows
    case f: org.apache.spark.sql.execution.FilterExec =>
      f.condition.exists {
        case _: org.apache.spark.sql.catalyst.expressions.In => true
        case _: org.apache.spark.sql.catalyst.expressions.InSet => true
        case eq: org.apache.spark.sql.catalyst.expressions.EqualTo =>
          eq.right.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] ||
            eq.left.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
        case _ => false
      }
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.benchSession(Bench.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.allQueries.map(_.name)
    var flagged = 0
    // Allowlist liveness: a gate allowlist containing dead names rots
    // silently (r8 carried "sim_threshold_tuning", which was never a query
    // name) — every exempted name must be a live inventory query, or the
    // audit itself fails.
    val live = SparkEntry.queries.keySet
    (nlAllowed ++ boundedSpineWindows ++ literalBoundedWindows)
      .filterNot(live).toSeq.sorted.foreach { dead =>
        flagged += 1
        println(s"FLAG allowlist: '$dead' is not a live query name")
      }
    names.foreach { n =>
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        val plan = qe.executedPlan
        val wIssues = windowIssues(n, qe.optimizedPlan)
        val issues = wIssues ++ walk(plan).flatMap {
          case _: CartesianProductExec => Some("CartesianProduct")
          case j: BroadcastNestedLoopJoinExec =>
            val build = j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }
            if (tinySide(build) || nlAllowed(n)) None
            else Some("BroadcastNestedLoopJoin(non-scalar build)")
          case _ => None
        }.distinct
        if (issues.nonEmpty) {
          flagged += 1
          println(s"FLAG $n: ${issues.mkString(", ")}")
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"FLAG $n: plan compile failed: ${e.getMessage}")
      }
    }
    println(s"AUDIT ${if (flagged == 0) "CLEAN" else s"$flagged FLAGGED"} (${names.size} plans)")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
