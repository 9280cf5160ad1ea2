package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  /** Execution-proof bench action: a noop-format write evaluates every
    * output row/column, whereas `count()` lets Catalyst collapse the plan to
    * Aggregate(count(1)) and prune unfiltered projections — pure-projection
    * queries (fn_string, fn_json, ...) would time scan+count only.
    */
  private[graft] def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The one timed run of this main and [[SoloBands]]: the query's build
    * plus its [[run]], in seconds, or the error — a crashing query must not
    * read as a fast one. The GC before t0 promotes dead broadcast/shuffle
    * refs of earlier queries for cleanup (best effort: it removed observed
    * 3-4x inflation late in long runs).
    */
  private[graft] def timedRun(query: => DataFrame): Either[Throwable, Double] = {
    System.gc()
    val t0 = System.nanoTime()
    try { run(query); Right((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) => Left(e) }
  }

  /** The SPARK_GRAFT_CPUS default of every main (this one, [[SoloBands]],
    * [[Verify]], [[Smoke]], [[Plans]], [[PlanAudit]]): with the env unset
    * they must still build the same-parallelism session — a band measured
    * at the wrong local[N] mis-adjudicates a parallelism mismatch as noise.
    */
  private[graft] def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Locale-pinned decimal formatting for committed JSONL artifacts: the
    * f-interpolator uses the JVM default locale, and a comma-decimal (or
    * digit-substituting) locale would write malformed JSON into
    * STREAM_METRICS/SOLO_BANDS files.
    */
  private[graft] def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  /** AQE's coalesce floor (`coalescePartitions.minPartitionSize`) in
    * [[benchSession]], in bytes. A reduce partition below it is merged into
    * a neighbour. Spark's 1 MB default put every shuffle under about 4 MB
    * (all four of mr_books') on 1-2 of 4 cores, while their reduce tasks
    * are CPU-bound (aggregation, collect_set, sort) and pay for a core from
    * a few hundred KB up. Sweep of the mr_books jobs on local[4] (median of
    * 16 passes in one JVM): 1583 ms at 1 MB, 1307 at 512 KB, 1300 at
    * 384 KB, 1262 at 256 KB, 1290 at 128 KB, 1313 at 64 KB. At 256 KB those
    * shuffles (1.6-3.8 MB) run 4 reduce tasks, with a 1.5x margin on the
    * smallest. A word-count shuffle over 4 partitions then reduces on one
    * task up to about 460 KB, on two from 550 to 920 KB, on four from
    * 1.1 MB (at 1 MB: one task up to 1.46 MB). Inert at scale: there every
    * partition is far above it. Which contiguous partitions merge changes
    * neither per-key grouping nor sorted output.
    */
  private[graft] val CoalesceFloorBytes: Long = 256L * 1024

  /** The one session factory of every main and of perfbench, so bands,
    * plans and correctness run under exactly the benched settings. Callers
    * set their own log level.
    */
  private[graft] def benchSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        CoalesceFloorBytes.toString)
      // Static conf, default 100: the inventory compiles far more than 100
      // generated classes, so the widest plans (the 128-column MinHash
      // signature aggregate) get evicted between their warmup and their
      // timed run and pay a multi-second janino recompile. 2000 was enough
      // at 89 queries; at 263 queries (x several codegen stages each, plus
      // the staged-layout plans) evictions recurred as isolated in-suite
      // spikes (fn_json 1.6s solo vs 9-11s mid-suite), and at 282 queries
      // the same signature returned under 5000 (fn_json 8.8s in-suite in
      // two consecutive full runs, 1.46s solo). At 375 queries (r14) the
      // syndrome returned under 12000 — fn_array read 2.81s in-suite
      // (REPEAT=3 median) vs a same-day solo of 0.77s, and fn_csv 1.73s
      // vs 0.44s, both with untouched code. At 392 queries (r14
      // optimization round) it returned under 20000: the whole wide-plan
      // band (sim_ivfpq_recall 5.52s in-suite vs 2.46s cold solo,
      // dd_semdedup 5.15 vs 2.22, sim_kcenter_coreset 3.83 vs 2.70) read
      // 2-5x over solo with untouched code, and doubling the cache
      // restored them. Size for the whole inventory with headroom.
      .config("spark.sql.codegen.cache.maxEntries", "50000")
      // bucketed-view tables (rel_join_bucketed) go to a JVM-exit-cleaned
      // temp warehouse, not ./spark-warehouse in the repo
      .config("spark.sql.warehouse.dir",
        graft.sources.TempDirs.create("graft_warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Env-gated scaling-probe subset (SPARK_GRAFT_SCALING_SUBSET=1): the 24
    * most expensive queries by the committed r15 baseline leg
    * (plans/r15/bench_r15_opt_before.jsonl, REPEAT=3 medians at sf0.1).
    * Rationale (r14 verdict): at sf0.1 the median query sits on the fixed
    * per-query overhead floor (planning + AQE stage barriers + noop-sink
    * job setup), so an 8-vs-32-core probe over the FULL inventory reads
    * ratios ≈ 1 everywhere and cannot validate any parallelism claim. This
    * subset is the tail that actually computes; run it at a larger SF
    * (SPARK_GRAFT_SF_DIR as usual) to get scaling ratios off the floor.
    * Same JSON contract, but BENCH_LOCAL/STREAM_METRICS artifacts are NOT
    * written (a subset run must never pose as a full-inventory history).
    */
  private[graft] val ScalingSubset: Set[String] = Set(
    "gr_louvain_levels", "gr_stress_sampled", "rel_quantile_merge",
    "st_outer_join", "rel_sample_weighted", "st_full_outer", "st_semi_join",
    "rel_mad", "st_interval_join", "st_chained_agg",
    "gr_effective_diameter_approx", "gr_ppr_weighted", "dd_er_clusters",
    "gr_pagerank_weighted", "rel_percentiles", "rel_median_mode",
    "dd_simhash_bits", "gr_pagerank", "dd_simhash_pairs",
    "st_session_counts", "dd_incremental_minhash", "gr_closeness_approx",
    "tx_bpe_apply", "gr_ppr")

  /** Off-the-clock staging for the timed sfDir, shared with [[SoloBands]]
    * so a band measures the same quantity as the in-suite clock. Returns
    * each step's `_warm:` label and seconds, so the cost stays visible.
    * The layout views (rel_dpp, rel_join_bucketed) and family caches are
    * one-time ingest prep; timed in-suite they land on whichever consumer
    * is alphabetically first and read as phantom regressions. The IO
    * preamble (one noop scan of every table) runs LAST, since the staging
    * shuffles churn the page cache, and re-warms the cold-file IO a prior
    * test suite or verify leaves (+23% uniformly, BASELINE.md r10/r11).
    */
  private[graft] def stage(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    graft.sources.PartitionedView.eventsByDate(spark, sfDir)
    graft.sources.BucketedView.ordersLineitem(spark, sfDir)
    graft.sources.IvfView.embeddingsByLabel(spark, sfDir)
    val stageWarms =
      graft.operators.PipelineQueries.stageFamilyCaches(spark, sfDir) ++
        graft.operators.OpsQueries.stageGramCache(spark, sfDir)
    val ioT0 = System.nanoTime()
    graft.Tables.All.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    stageWarms :+ ("io_preamble" -> (System.nanoTime() - ioT0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = benchSession(envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: run every query once at the smallest SF so its
    // generated code is compiled and JIT-warmed before timing — codegen'd
    // classes depend on plan shape, not scale, so the compile cache carries
    // over to the timed run (first-run JIT was 3-4x the steady state for the
    // widest aggregates).
    val warmDir = "/root/testdata/sf0.001"
    // Optional args = subset of query names to bench (debug aid).
    // NAME-SORTED execution: Map iteration order shifts whenever the
    // inventory grows, silently reassigning which family member pays a
    // shared-cache materialization (minhash pairs, pair stats, streaming
    // emissions) — sorted order keeps per-query times comparable
    // round-over-round.
    // Scaling-probe mode: restrict to the expensive-tail subset (see
    // ScalingSubset). Orthogonal to the positional-args debug filter.
    val scalingMode = sys.env.get("SPARK_GRAFT_SCALING_SUBSET")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val selected =
      (if (args.nonEmpty) SparkEntry.queries.filter { case (n, _) => args.contains(n) }
       else if (scalingMode) SparkEntry.queries.filter { case (n, _) => ScalingSubset(n) }
       else SparkEntry.queries).toSeq.sortBy(_._1)
    selected.foreach { case (_, fn) =>
      try run(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // Second, larger untimed warmup for the allocation-heavy JSON parsers:
    // the sf0.001 pass (~600 event rows) leaves their per-row Jackson parse
    // loops short of C2's invocation threshold, so the TIMED run paid JIT
    // compilation — observed as fn_json landing 1.6-2x above its steady
    // state and settling only by repeat 3 under SPARK_GRAFT_REPEAT=5. One
    // sf0.01 pass (~60k rows) crosses the threshold off the clock.
    val jitHungry = Set("fn_json", "fn_variant")
    selected.filter(q => jitHungry(q._1)).foreach { case (_, fn) =>
      try run(fn(spark, "/root/testdata/sf0.01")) catch { case _: Throwable => () }
    }
    // FULL-INVENTORY RUNS ONLY: a subset debug run (`runMain graft.Bench
    // fn_string`) must not pay minutes of dedup/spectral staging it never
    // uses — every view and cache is get-or-create, so a subset query that
    // does consume one simply stages it inside its own (debug) timing.
    val warms = if (args.isEmpty) stage(spark, sfDir) else Seq.empty
    // SPARK_GRAFT_REPEAT=N: time each query N times (tail-latency hunting).
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // Per-query history FILE in the repo: the driver's tail capture keeps
    // only ~2KB of stdout, which the aggregate map line consumes — at 263
    // queries most per-query times never survive into BENCH_r<N>.json (r6
    // lost ~188 of them). A JSONL file committed with the round makes every
    // query's time retrievable from git without a re-bench. Round tag:
    // SPARK_GRAFT_ROUND, else 1 + the highest driver-written BENCH_r<N>
    // .json in cwd. Guards: full-inventory runs only (a subset debug run
    // must not clobber a full run's history), and cwd must be the repo
    // (build.sbt present).
    val roundTag = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).orElse {
      val rx = """BENCH_r(\d+)\.json""".r
      Option(new java.io.File(".").list())
        .flatMap(_.collect { case rx(n) => n.toInt }.maxOption.map(_ + 1))
    }.map(n => f"_r$n%02d").getOrElse("")
    val localLog =
      if (args.isEmpty && !scalingMode && new java.io.File("build.sbt").exists())
        Some(new java.io.PrintWriter(
          new java.io.FileWriter(s"BENCH_LOCAL$roundTag.jsonl", false)))
      else None
    warms.foreach { case (label, sec) =>
      val line = s"""{"q":"_warm:$label","sec":$sec}"""
      println(line)
      localLog.foreach { w => w.println(line); w.flush() }
    }
    val outcomes = selected.flatMap { case (name, fn) =>
      (1 to repeat).map(i => (if (repeat == 1) name else s"$name#$i") -> fn)
    }.map { case (name, fn) =>
      val outcome = timedRun(fn(spark, sfDir))
      // One short JSONL line per query, emitted as it completes: the
      // driver's tail capture truncates the FRONT of long lines, so a
      // single aggregated per-query map loses ~30% of the inventory's
      // history; short individual lines all survive.
      val line = outcome match {
        case Right(dt) => s"""{"q":"$name","sec":$dt}"""
        case Left(e) =>
          System.err.println(s"[bench] $name failed: $e")
          s"""{"q":"$name","status":"error","error":"${e.getClass.getName}"}"""
      }
      println(line)
      localLog.foreach { w => w.println(line); w.flush() } // crash-safe partials
      name -> outcome
    }
    val results = outcomes.collect { case (name, Right(dt)) => name -> dt }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // The per-query line grows with the inventory (80+ queries) and the
    // driver's tail capture can truncate its FRONT, losing the total field.
    // Repeat the headline on a short trailing line so it always survives.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
    localLog.foreach { w =>
      w.println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
      w.close()
    }
    // Streaming throughput artifact: per-tag micro-batch metrics captured
    // from the engine's own StreamingQueryProgress during the timed run
    // (last run per tag wins = the timed-sfDir execution). The 13 st_*
    // shapes gate CORRECTNESS; this file is the committed speed record a
    // streaming perf regression would show up in.
    if (args.isEmpty && !scalingMode && new java.io.File("build.sbt").exists()) {
      val w = new java.io.PrintWriter(
        new java.io.FileWriter(s"STREAM_METRICS$roundTag.jsonl", false))
      graft.streaming.StreamGate.metricsSnapshot.toSeq.sortBy(_._1).foreach {
        case (t, m) =>
          w.println(fmt("""{"tag":"%s","batches":%d,"input_rows":%d,"trigger_ms":%d,"rows_per_sec":%.1f,"p50_ms":%d,"p95_ms":%d}""",
            t, m.batches, m.inputRows, m.triggerMs, m.rowsPerSec, m.p50Ms, m.p95Ms))
      }
      w.close()
    }
    spark.stop()
    // after every artifact is closed: a failed query fails the run
    if (results.size < outcomes.size) sys.exit(1)
  }
}
