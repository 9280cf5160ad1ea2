package graft

/** Solo per-query repeat bands — the measurement-attribution artifact.
  *
  * Why this exists: in a full 300+-query bench sweep, a query's in-suite
  * time absorbs its suite position (GC adjacency, shared JVM/cache debt
  * from alphabetical neighbors), and in round 8 that manufactured three
  * phantom "regressions" (mm_image_phash, rel_gini, rel_join_part) that
  * solo re-runs disproved. This main records the ground truth: one query,
  * its own JVM (tools/solo_bands.sh launches one invocation per query),
  * the exact Bench session config, layouts + family caches staged off the
  * clock, codegen warmed at sf0.001, then SPARK_GRAFT_REPEAT (default 5)
  * timed runs with a GC between. Emits one JSON line per query —
  * {"q","sf","runs",[...],"min","med","max"} — which the round commits as
  * SOLO_BANDS_r<N>.jsonl: an in-suite time exceeding its committed solo
  * band by >30% is suite noise to re-attribute, not a plan regression to
  * chase. A query whose timed run fails gets {"q","sf","status":"error",
  * "error"} instead, and the main exits 1 after every query's line.
  */
object SoloBands {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SoloBands <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "5").toInt
    // Bench.envCpus, NOT a local default: a band measured at a different
    // local[N] than the suite it adjudicates turns a pure parallelism
    // mismatch into a false "suite noise" verdict (tools/solo_bands.sh
    // still pins 32 explicitly for the committed artifacts).
    val spark = Bench.benchSession(Bench.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // identical off-the-clock staging to Bench: solo bands must measure
    // the same quantity as the in-suite clock, minus the suite
    Bench.stage(spark, sfDir)
    val failed = args.count { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      try Bench.run(fn(spark, "/root/testdata/sf0.001")) // codegen/JIT warm
      catch { case _: Throwable => () }
      val (errors, runs) = (1 to repeat).map(_ => Bench.timedRun(fn(spark, sfDir)))
        .partitionMap(identity)
      // a failed repeat voids the band: its time-to-failure is never banded
      errors.headOption match {
        case Some(e) =>
          System.err.println(s"[solo] $name failed: $e")
          println(s"""{"q":"$name","sf":"$sfDir","status":"error","error":"${e.getClass.getName}"}""")
        case None =>
          val s = runs.sorted
          // Bench.fmt = Locale.ROOT: a comma-decimal default locale would
          // commit malformed JSON into SOLO_BANDS_r<N>.jsonl
          def d3(x: Double) = Bench.fmt("%.3f", x)
          println(s"""{"q":"$name","sf":"$sfDir","runs":[${runs.map(d3).mkString(",")}],"min":${d3(s.head)},"med":${d3(s(s.size / 2))},"max":${d3(s.last)}}""")
      }
      errors.nonEmpty
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
