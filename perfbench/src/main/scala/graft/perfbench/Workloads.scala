package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{CountDownLatch, FutureTask}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import graft.{Bench, SparkEntry, Tables}
import graft.operators.{KvShuffle, MapReduce, TextAnalysis}
import graft.server.{JobServer, KvClient, KvServer}
import graft.sources.TextSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared by the inventory workloads: query lookup, relation resolve,
  * family-cache staging, warm-up, and the result dumps the DuckDB oracle
  * is checked against.
  */
abstract class InventoryWorkload(plan: Plan, trace: Trace) extends Workload {
  type Fn = (SparkSession, String) => DataFrame
  protected var fns: Map[String, Fn] = Map.empty
  protected val distinctOps: Seq[(String, String)] = plan.ops.distinct
  @volatile protected var warmErrors: Seq[String] = Nil

  /** Run one warm-up operation, failures recorded. */
  protected def warmOne(spark: SparkSession, n: String, sc: String): Unit

  /** Warm up the ops that read no family cache (after staging). */
  protected def warmRest(spark: SparkSession, ops: Seq[(String, String)], parent: Long): Unit =
    ops.foreach { case (n, sc) =>
      trace.span(parent, 0, "setup", s"warm:$n@$sc")(_ => warmOne(spark, n, sc))
    }

  /** Resolve every table the plan reads, stage the family caches by
    * running their consumers once each (the plan names them; the engine
    * has no per-query staging hook), then warm up the other ops.
    */
  def setup(spark: SparkSession, setupSpan: Long): Map[String, Double] = {
    fns = SparkEntry.allQueries.map(q => q.name -> q.fn).toMap ++
      (if (plan.plant) Map(Planted.Name -> Planted.fn) else Map.empty)
    val (_, resolveS) = trace.span(setupSpan, 0, "tables", "resolve") { _ =>
      distinctOps.map(_._2).distinct.foreach { sc =>
        Tables.All.foreach(t => Tables.t(spark, plan.dir(sc), t))
      }
    }
    warmErrors = Nil
    val (staged, rest) = distinctOps.partition(op => plan.staged(op._1))
    val (_, stageS) = trace.span(setupSpan, 0, "family_cache", "stage") { id =>
      staged.foreach { case (n, sc) =>
        trace.span(id, 0, "family_cache", s"stage:$n@$sc")(_ => warmOne(spark, n, sc))
      }
    }
    val (_, warmS) = trace.span(setupSpan, 0, "setup", "warmup")(id => warmRest(spark, rest, id))
    Map("resolve_s" -> resolveS, "stage_s" -> stageS, "warmup_s" -> warmS)
  }

  protected def warmFailed(n: String, sc: String, e: Throwable): Unit =
    warmErrors :+= s"$n@$sc: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** Each distinct (query, scale) result as one parquet file, plus the
    * oracle-comparison keys run.py needs.
    */
  protected def dumps(spark: SparkSession, outDir: String): Seq[Map[String, Any]] =
    distinctOps.map { case (n, sc) =>
      val path = s"$outDir/verify/$n@$sc"
      val err = try {
        fns(n)(spark, plan.dir(sc)).coalesce(1).write.mode("overwrite").parquet(path); ""
      } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      Map("name" -> n, "scale" -> sc, "data_dir" -> plan.dir(sc), "path" -> path, "error" -> err)
    }
}

/** A query that always throws — planted by the benchmark's self-test. */
object Planted {
  val Name = "planted_failure"
  val fn: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted failure")
}

/** query_tail and iterative_rounds: one closed-loop client calling the
  * query functions directly with the noop sink ([[Bench.run]]).
  */
final class DirectQueries(plan: Plan, trace: Trace) extends InventoryWorkload(plan, trace) {
  protected def warmOne(spark: SparkSession, n: String, sc: String): Unit =
    try Bench.run(fns(n)(spark, plan.dir(sc)))
    catch { case NonFatal(e) => warmFailed(n, sc, e) }

  def pass(spark: SparkSession, index: Int): Seq[OpRec] = plan.ops.map { case (n, sc) =>
    Main.timedOp(spark, trace, index, n, sc)(() => fns(n)(spark, plan.dir(sc)))(Bench.run)
  }

  def verify(spark: SparkSession, outDir: String): Map[String, Any] =
    Map("dumps" -> dumps(spark, outDir), "warmup_errors" -> warmErrors)
}

/** mr_books: the reference's two jobs over the seeded corpus through all
  * three engine surfaces, one closed-loop client, noop sink.
  */
final class MrBooks(plan: Plan, trace: Trace, cores: Int) extends Workload {
  private val dir = plan.dir("corpus")
  private var kv: KvServer = _
  private var kvJobs = 0
  private val host = java.net.InetAddress.getLoopbackAddress.getHostAddress
  private var warmErrors: Seq[String] = Nil

  private def docs(s: SparkSession): DataFrame = TextSource.readDocuments(s, dir)

  private def job(s: SparkSession, name: String): DataFrame = {
    import s.implicits._
    name match {
      case "ta_wordcount" => TextAnalysis.wordCount(docs(s))
      case "ta_invindex" => TextAnalysis.invertedIndex(docs(s), docCol = "file")
      case "mr_wordcount" =>
        MapReduce.wordCount(docs(s).as[(String, String)]).toDF("word", "cnt")
      case "mr_invindex" =>
        MapReduce.invertedIndex(docs(s).as[(String, String)]).toDF("word", "files")
      case "kv_wordcount" =>
        kvJobs += 1
        KvShuffle.wordCountViaKv(s, docs(s), host, kv.port, s"pb$kvJobs", cores)
      case other => sys.error(s"unknown job $other")
    }
  }

  /** (keys, bytes) the last KV job left in the store; then delete them so
    * the store does not grow across passes (untimed housekeeping).
    */
  private def drainKv(s: SparkSession): (Int, Long) = {
    val mappers = docs(s).rdd.getNumPartitions
    val keys = s"pb${kvJobs}_status" +: (for (p <- 0 until cores; m <- 0 until mappers)
      yield s"partition_pb${kvJobs}_${p}_m$m")
    val present = keys.flatMap(k => kv.getLocal(k).map(k -> _.length.toLong))
    val c = new KvClient(host, kv.port)
    try present.foreach(p => c.delete(p._1)) finally c.close()
    (present.size, present.map(_._2).sum)
  }

  def setup(spark: SparkSession, setupSpan: Long): Map[String, Double] = {
    kv = new KvServer()
    warmErrors = Nil
    val (_, warmS) = trace.span(setupSpan, 0, "setup", "warmup") { _ =>
      plan.ops.foreach { case (n, _) =>
        try { Bench.run(job(spark, n)); if (n == "kv_wordcount") drainKv(spark) }
        catch { case NonFatal(e) => warmErrors :+= s"$n: ${e.getMessage}".take(300) }
      }
    }
    Map("resolve_s" -> 0.0, "stage_s" -> 0.0, "warmup_s" -> warmS)
  }

  def pass(spark: SparkSession, index: Int): Seq[OpRec] = plan.ops.map { case (n, sc) =>
    val r = Main.timedOp(spark, trace, index, n, sc)(() => job(spark, n))(Bench.run)
    if (n == "kv_wordcount" && r.status == "ok") {
      val (keys, bytes) = drainKv(spark)
      r.copy(extra = Map("kv_keys" -> keys, "kv_bytes" -> bytes))
    } else r
  }

  /** Each job's collected result and the reference fold, as JSON files
    * run.py compares: word -> count for the word counts, word -> file
    * names for the inverted indexes.
    */
  def verify(spark: SparkSession, outDir: String): Map[String, Any] = {
    val out = Files.createDirectories(Paths.get(outDir, "verify"))
    def write(name: String, body: Map[String, Any]): String = {
      val p = out.resolve(s"$name.json")
      Files.writeString(p, Json.value(body), UTF_8)
      p.toString
    }
    val (refWc, refIi) = Reference.fold(dir)
    val reference = write("reference", Map("wordcount" -> refWc, "invindex" -> refIi))
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val jobs = plan.ops.map(_._1).distinct.map { n =>
      val entry = try {
        val df = job(spark, n)
        val rows: Map[String, Any] = n match {
          case "ta_invindex" => df.collect().map { r =>
            val files = r.getString(1).split(",").map(base).toSeq
            require(r.getLong(2) == files.distinct.size,
              s"n_docs disagrees with doc_list for ${r.getString(0)}")
            r.getString(0) -> files
          }.toMap
          case "mr_invindex" => df.collect().map { r =>
            r.getString(0) -> r.getSeq[String](1).map(base)
          }.toMap
          case _ =>
            val c = df.collect().map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
            if (n == "kv_wordcount") drainKv(spark)
            c
        }
        Map("path" -> write(n, rows), "error" -> "")
      } catch {
        case NonFatal(e) =>
          Map("path" -> "", "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      n -> entry
    }.toMap
    Map("jobs" -> jobs, "reference" -> reference, "tokens" -> refWc.values.sum,
      "warmup_errors" -> warmErrors)
  }

  override def close(): Unit = if (kv != null) kv.close()
}

/** The independent mr_books reference: a single-threaded fold over the
  * corpus files with Python `str.split()` tokenization (any run of
  * Unicode whitespace as Python defines it separates tokens).
  */
object Reference {
  def isPySpace(c: Char): Boolean = c.toInt match {
    case 0x20 | 0x09 | 0x0a | 0x0b | 0x0c | 0x0d | 0x1c | 0x1d | 0x1e | 0x1f |
         0x85 | 0xa0 | 0x1680 | 0x2028 | 0x2029 | 0x202f | 0x205f | 0x3000 => true
    case x => x >= 0x2000 && x <= 0x200a
  }

  def split(text: String): Iterator[String] = {
    val out = Iterator.newBuilder[String]
    var i = 0
    while (i < text.length) {
      while (i < text.length && isPySpace(text.charAt(i))) i += 1
      val s = i
      while (i < text.length && !isPySpace(text.charAt(i))) i += 1
      if (i > s) out += text.substring(s, i)
    }
    out.result()
  }

  /** (word -> count, word -> file names) over the non-hidden files. */
  def fold(dir: String): (Map[String, Long], Map[String, Set[String]]) = {
    val files = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    files.foldLeft((Map.empty[String, Long], Map.empty[String, Set[String]])) {
      case ((wc, ii), f) =>
        split(new String(Files.readAllBytes(f.toPath), UTF_8)).foldLeft((wc, ii)) {
          case ((w, x), t) =>
            (w.updated(t, w.getOrElse(t, 0L) + 1), x.updated(t, x.getOrElse(t, Set.empty) + f.getName))
        }
    }
  }
}

/** jobserver_mix: an in-process [[JobServer]] driven over HTTP by closed-
  * loop clients, each polling /getjobstatus until its job completes.
  */
final class JobServerMix(plan: Plan, trace: Trace) extends InventoryWorkload(plan, trace) {
  private val clients = plan("clients").toInt
  private var server: JobServer = _
  private val http = HttpClient.newHttpClient()
  /** Output digests and line counts per (query, scale) over all jobs. */
  private val outputs = TrieMap.empty[(String, String), Set[String]]
  private val lineCounts = TrieMap.empty[(String, String), Set[Long]]

  private def url(path: String) = URI.create(s"http://127.0.0.1:${server.boundPort}$path")
  private def get(path: String): String =
    http.send(HttpRequest.newBuilder(url(path)).GET().build(),
      HttpResponse.BodyHandlers.ofString(UTF_8)).body()

  /** Epoch ms of each "Step k" line of a job log. */
  private def steps(log: String): Map[Int, Double] =
    log.linesIterator.flatMap { l =>
      val i = l.indexOf(" INFO Step ")
      if (i < 0) None
      else Some(l.substring(i + 11).takeWhile(_.isDigit).toInt ->
        Instant.parse(l.substring(0, i)).toEpochMilli.toDouble)
    }.toMap

  /** Submit one job and poll until it leaves RUNNING; never throws.
    * `submitted` runs once the POST has returned or failed.
    */
  private def submitAndWait(n: String, sc: String, pass: Int, client: Int,
                            submitted: () => Unit = () => ()): OpRec = {
    val t0 = Clock.nowMs
    try {
      val body = s"""{"query": "$n", "sfDir": "${plan.dir(sc)}"}"""
      val resp = try http.send(HttpRequest.newBuilder(url("/mapreduce"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString(UTF_8)).body()
      finally submitted()
      val tSubmit = Clock.nowMs
      val id = """"job_id" : "([^"]+)"""".r.findFirstMatchIn(resp)
        .getOrElse(sys.error(s"submit refused: $resp")).group(1)
      var status = get(s"/getjobstatus?jobid=$id")
      while (status == "RUNNING" && (Clock.nowMs - t0) / 1e3 < Main.OpTimeoutS) {
        Thread.sleep(10)
        status = get(s"/getjobstatus?jobid=$id")
      }
      val t1 = Clock.nowMs
      val log = get(s"/getjoblog?jobid=$id")
      val st = steps(log)
      val lat = (t1 - t0) / 1e3
      val state = if (status == "RUNNING") "timeout" else if (status == "ERROR") "error" else "ok"
      if (state == "ok") {
        val key = (n, sc)
        outputs.updateWith(key)(o => Some(o.getOrElse(Set.empty) + Digest.sha256(status)))
        lineCounts.updateWith(key)(o => Some(o.getOrElse(Set.empty) + status.linesIterator.size.toLong))
      }
      val opId = trace.nextId()
      trace.add(0, opId, "op", s"op:$n@$sc", t0, t1)
      trace.add(opId, opId, "jobserver", "submit", t0, tSubmit)
      for (s1 <- st.get(1); s2 <- st.get(2)) trace.add(opId, opId, "jobserver", "queue", s1, s2)
      for (s2 <- st.get(2); s4 <- st.get(4)) trace.add(opId, opId, "jobserver", "run", s2, s4)
      for (s4 <- st.get(4)) trace.add(opId, opId, "jobserver", "poll", s4, t1)
      OpRec(pass, client, n, sc, t0, lat, state,
        if (state == "error") log.linesIterator.find(_.contains("ERROR")).getOrElse("ERROR").take(300)
        else "",
        Map("submit_ms" -> (tSubmit - t0),
          "queue_wait_s" -> (for (a <- st.get(1); b <- st.get(2)) yield (b - a) / 1e3),
          "run_s" -> (for (a <- st.get(2); b <- st.get(4)) yield (b - a) / 1e3),
          "poll_lag_s" -> st.get(4).map(b => (t1 - b) / 1e3),
          "output_bytes" -> status.getBytes(UTF_8).length))
    } catch {
      case NonFatal(e) =>
        OpRec(pass, client, n, sc, t0, (Clock.nowMs - t0) / 1e3, "error",
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  protected def warmOne(spark: SparkSession, n: String, sc: String): Unit = {
    val r = submitAndWait(n, sc, -1, 0)
    if (r.status != "ok") warmFailed(n, sc, new RuntimeException(r.error))
  }

  override def setup(spark: SparkSession, setupSpan: Long): Map[String, Double] = {
    server = new JobServer(spark)
    super.setup(spark, setupSpan)
  }

  /** The closed-loop clients warm up the rest together, as in a pass. */
  override protected def warmRest(spark: SparkSession, ops: Seq[(String, String)],
                                  parent: Long): Unit =
    runClients(ops, -1).filter(_.status != "ok").foreach { r =>
      warmFailed(r.name, r.scale, new RuntimeException(r.error))
    }

  def pass(spark: SparkSession, index: Int): Seq[OpRec] = runClients(plan.ops, index)

  /** The ops go out in rounds of `clients`, client c taking op c of each
    * round (ops c, c + clients, ...). In a round client c submits as soon
    * as client c - 1's submission has returned, so the job queue sees the
    * same order in every pass; each client then polls its own job, and the
    * next round starts when all of them have completed. Free-running
    * clients drift into a different interleaving in each run, which moved
    * single queries' latency by up to 2.5 times between runs.
    */
  private def runClients(ops: Seq[(String, String)], index: Int): Seq[OpRec] =
    ops.grouped(clients).toList.flatMap { round =>
      val gates = Seq.fill(round.size + 1)(new CountDownLatch(1))
      gates.head.countDown()
      val work = round.zipWithIndex.map { case ((n, sc), c) =>
        val f = new FutureTask[OpRec](() => {
          gates(c).await()
          submitAndWait(n, sc, index, c, () => gates(c + 1).countDown())
        })
        new Thread(f, s"perfbench-client-$c").start()
        f
      }
      work.map(_.get())
    }

  def verify(spark: SparkSession, outDir: String): Map[String, Any] =
    Map("dumps" -> dumps(spark, outDir), "warmup_errors" -> warmErrors,
      "outputs" -> distinctOps.map { k =>
        Map("name" -> k._1, "scale" -> k._2,
          "digests" -> outputs.getOrElse(k, Set.empty).size,
          "lines" -> lineCounts.getOrElse(k, Set.empty).toSeq)
      })

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}

object Digest {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
