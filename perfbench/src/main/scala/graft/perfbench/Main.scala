package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The seeded inputs of one run, written by run.py. Format: `key=value`
  * lines, plus one `op=<name>\t<scale>` line per operation of a pass, in
  * pass order. A scale is an sf directory name suffix or `corpus`.
  */
final case class Plan(kv: Map[String, String], ops: Seq[(String, String)]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan lacks $k"))
  def workload: String = this("workload")
  def seconds: Double = this("seconds").toDouble
  def trace: Boolean = this("trace") == "1"
  def minPasses: Int = this("min_passes").toInt
  /** Whole untimed passes at the end of set-up. */
  def warmPasses: Int = this("warm_passes").toInt
  def plant: Boolean = kv.get("plant_failure").contains("1")
  /** Ops whose first run stages a family cache; set-up runs them first. */
  val staged: Set[String] = kv.getOrElse("stage", "").split(',').filter(_.nonEmpty).toSet
  def dir(scale: String): String =
    if (scale == "corpus") this("corpus") else s"${this("data")}/sf$scale"
}

object Plan {
  def read(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)
    val (opLines, kvLines) = lines.partition(_.startsWith("op="))
    Plan(kvLines.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap,
      opLines.map { l => val Array(n, s) = l.drop(3).split('\t'); (n, s) })
  }
}

/** One timed operation as the client saw it. `status` is ok, error or
  * timeout; a non-ok operation is a failure however fast it returned.
  */
final case class OpRec(pass: Int, client: Int, name: String, scale: String,
                       startMs: Double, latS: Double, status: String,
                       error: String, extra: Map[String, Any] = Map.empty) {
  def json: String = Json.obj(("pass" -> pass) +: ("client" -> client) +:
    ("name" -> name) +: ("scale" -> scale) +: ("start_ms" -> startMs) +:
    ("lat_s" -> latS) +: ("status" -> status) +: ("error" -> error) +: extra.toSeq: _*)
}

object Main {
  /** Longest an operation may take before it counts as timed out. */
  val OpTimeoutS = 60.0

  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: out :: Nil => list(out)
    case "run" :: plan :: out :: Nil => run(Plan.read(plan), out)
    case _ =>
      System.err.println("usage: Main list <out.json> | Main run <plan> <outdir>")
      sys.exit(2)
  }

  /** The inventory's names and oracle SQL, for run.py's plan and checks. */
  private def list(out: String): Unit = {
    val body = SparkEntry.allQueries.map { q =>
      Json.str(q.name) + ":" + Json.value(q.oracle)
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(out), body, UTF_8)
    ()
  }

  def run(plan: Plan, outDir: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val trace = new Trace(plan.trace)
    val wl: Workload = plan.workload match {
      case "mr_books" => new MrBooks(plan, trace, cores)
      case "query_tail" | "iterative_rounds" => new DirectQueries(plan, trace)
      case "jobserver_mix" => new JobServerMix(plan, trace)
      case w => sys.error(s"unknown workload $w")
    }
    // ---- set-up, cold: from JVM start through session creation and the
    // resolve/stage/warm-up the workload needs, with the JIT and Spark's
    // JVM-wide codegen cache empty
    val cg0 = Counters.codegen()
    val setupSpan = trace.nextId()
    val (spark, sessionS) = trace.span(setupSpan, 0, "setup", "session") { _ =>
      Bench.benchSession(cores.toString)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val steps = wl.setup(spark, setupSpan)
    // the first passes after the per-op warm-up still run up to 1.5 times
    // slower (JIT, codegen cache); whole passes here keep that off the clock
    val (warmFails, warmPassS) = trace.span(setupSpan, 0, "setup", "warm_passes") { _ =>
      (0 until plan.warmPasses).flatMap(_ => wl.pass(spark, -1)).filter(_.status != "ok")
        .map(r => s"${r.name}@${r.scale}: ${r.error}")
    }
    trace.record(Span(setupSpan, 0, 0, "setup", "setup", jvmStartMs, Clock.nowMs))
    val cg1 = Counters.codegen()
    val setup = Map("total_s" -> (Clock.nowMs - jvmStartMs) / 1e3, "session_s" -> sessionS,
      "codegen_ms" -> (cg1._1 - cg0._1) / 1e6, "codegen_classes" -> (cg1._2 - cg0._2),
      "warm_passes_s" -> warmPassS) ++ steps
    // ---- timed phase: whole passes over the seeded op sequence until
    // the run's seconds are spent. A traced run spends its first half
    // untraced, then attaches the listeners, so the two halves give the
    // tracing overhead.
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val ops = ArrayBuffer.empty[OpRec]
    val timedT0 = Clock.nowMs
    def elapsedS = (Clock.nowMs - timedT0) / 1e3
    def runPass(traced: Boolean): Unit = {
      val fc0 = Counters.familyCache()
      val cg0 = Counters.codegen()
      val t0 = Clock.nowMs
      ops ++= wl.pass(spark, passes.size)
      val t1 = Clock.nowMs
      val fc1 = Counters.familyCache()
      val cg1 = Counters.codegen()
      passes += Map("index" -> passes.size, "traced" -> traced, "start_ms" -> t0,
        "end_ms" -> t1, "wall_s" -> (t1 - t0) / 1e3,
        "family_cache_hits" -> (fc1._1 - fc0._1), "family_cache_misses" -> (fc1._2 - fc0._2),
        "codegen_ms" -> (cg1._1 - cg0._1) / 1e6, "codegen_classes" -> (cg1._2 - cg0._2))
    }
    if (plan.trace) {
      val half = plan.seconds / 2
      while (passes.isEmpty || elapsedS < half) runPass(traced = false)
      trace.attach(spark)
      val untraced = passes.size
      while (passes.size - untraced < 1 || elapsedS < plan.seconds) runPass(traced = true)
    } else {
      while (passes.size < plan.minPasses || elapsedS < plan.seconds) runPass(traced = false)
    }
    trace.drain(spark)
    val layers = if (plan.trace) Layers.perPass(trace, passes.toSeq, cores) else Nil
    // ---- untimed correctness dumps
    val verify = wl.verify(spark, outDir)
    val conf = spark.conf.getAll.toSeq.sorted.filterNot(_._1.contains("warehouse"))
    val result = Json.obj(
      "workload" -> plan.workload, "cores" -> cores,
      "setup" -> setup, "passes" -> passes.toSeq, "layers" -> layers,
      "peak_rss_mb" -> Counters.peakRssMb(),
      "verify" -> verify, "warm_pass_errors" -> warmFails, "spark_conf" -> conf.toMap)
    if (plan.trace) trace.write(s"$outDir/spans.jsonl")
    Files.writeString(Paths.get(s"$outDir/ops.jsonl"), ops.map(_.json).mkString("", "\n", "\n"), UTF_8)
    Files.writeString(Paths.get(s"$outDir/result.json"), result, UTF_8)
    wl.close()
    spark.stop()
  }

  /** Run `body` as one traced operation: an `op` span with build and
    * action children, the op id set as a Spark local property so job
    * events name it. Failures are recorded, never rethrown as fast ops.
    */
  def timedOp(spark: SparkSession, trace: Trace, pass: Int, name: String, scale: String)
             (build: () => org.apache.spark.sql.DataFrame)
             (action: org.apache.spark.sql.DataFrame => Unit): OpRec = {
    val opId = trace.nextId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, opId.toString)
    val t0 = Clock.nowMs
    var err = ""
    try {
      val (df, _) = trace.span(opId, opId, "build", s"build:$name")(_ => build())
      trace.span(opId, opId, "action", s"action:$name")(_ => action(df))
      ()
    } catch {
      case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally sc.setLocalProperty(Trace.OpProperty, null)
    val t1 = Clock.nowMs
    trace.record(Span(opId, 0, opId, "op", s"op:$name", t0, t1))
    val lat = (t1 - t0) / 1e3
    val status = if (err.nonEmpty) "error" else if (lat > OpTimeoutS) "timeout" else "ok"
    OpRec(pass, 0, name, scale, t0, lat, status, err)
  }
}

/** One workload: its set-up steps, one timed pass, and its correctness
  * dump. `setup` returns its step times in seconds by name.
  */
trait Workload {
  def setup(spark: SparkSession, setupSpan: Long): Map[String, Double]
  def pass(spark: SparkSession, index: Int): Seq[OpRec]
  def verify(spark: SparkSession, outDir: String): Map[String, Any]
  def close(): Unit = ()
}
