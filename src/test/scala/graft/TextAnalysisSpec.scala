package graft

import graft.operators.{MapReduce, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.{ClassTag, classTag}

/** Reference-semantics golden tests (SURVEY §5.2): word count and inverted
  * index vs independently computed results, on both the DataFrame plans and
  * the typed mapReduce facade. Comparisons are order-insensitive / set-valued
  * per the reference's nondeterminism notes (SURVEY §2.2).
  */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private val docs = Seq(
    ("d0", "the cat sat on the mat"),
    ("d1", "the dog sat"),
    ("d2", "cat dog cat"))

  private def expectedCounts: Map[String, Long] =
    docs.flatMap(_._2.split(" ")).groupBy(identity).map { case (w, l) => w -> l.size.toLong }

  private def expectedIndex: Map[String, Set[String]] =
    docs.flatMap { case (d, t) => t.split(" ").map(w => (w, d)) }
      .groupBy(_._1).map { case (w, l) => w -> l.map(_._2).toSet }

  test("DataFrame word count matches hand-computed counts") {
    val df = docs.toDF("doc_id", "text")
    val got = TextAnalysis.wordCount(df).as[(String, Long)].collect().toMap
    assert(got == expectedCounts)
  }

  test("mapReduce facade word count equals DataFrame plan") {
    val ds = docs.toDS()
    val facade = MapReduce.wordCount(ds).collect().toMap
    assert(facade == expectedCounts)
  }

  test("inverted index matches hand-computed index (set compare)") {
    val df = Seq((0L, "a b a"), (1L, "b c"), (2L, "a")).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(df)
      .select($"word", $"doc_list").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "0,2", "b" -> "0,1", "c" -> "1"))
  }

  test("mapReduce facade inverted index matches expected sets") {
    val ds = docs.toDS()
    val got = MapReduce.invertedIndex(ds).collect().toMap
    assert(got.view.mapValues(_.toSet).toMap == expectedIndex)
  }

  // ---- map-side combining: parity with a serial fold, shuffle traffic ----

  private def serialTokens(text: String): Seq[String] = text.split("\\s+").toSeq.filter(_.nonEmpty)

  private def serialCounts(rows: Seq[(String, String)]): Map[String, Long] =
    rows.foldLeft(Map.empty[String, Long]) { case (m, (_, t)) =>
      serialTokens(t).foldLeft(m)((acc, w) => acc.updated(w, acc.getOrElse(w, 0L) + 1L))
    }

  private def serialPostings[D](rows: Seq[(D, String)]): Map[String, Set[D]] =
    rows.foldLeft(Map.empty[String, Set[D]]) { case (m, (d, t)) =>
      serialTokens(t).foldLeft(m)((acc, w) => acc.updated(w, acc.getOrElse(w, Set.empty[D]) + d))
    }

  // a word repeated many times in one doc, one doc id on two rows, empty and
  // whitespace-only texts, tabs and \r\n; "d10" < "d2" as strings
  private val combineCases = Seq(
    ("d0", Seq.fill(40)("echo").mkString(" ") + " tail echo"),
    ("d1", "echo a\tb\r\nc  a"),
    ("d1", "a z z"),
    ("d2", ""),
    ("d3", " \t\r\n "),
    ("d10", "\tz\r\nz tail"))

  test("combined map side: both inverted indexes and the typed word count equal a serial fold") {
    assert(MapReduce.wordCount(combineCases.toDS()).collect().toMap == serialCounts(combineCases))
    val postings = serialPostings(combineCases)
    assert(MapReduce.invertedIndex(combineCases.toDS()).collect().toMap ==
      postings.map { case (w, ds) => w -> ds.toSeq.sorted })
    def dfIndex(df: DataFrame) = TextAnalysis.invertedIndex(df)
      .as[(String, String, Long)].collect().map { case (w, l, n) => w -> (l, n) }.toMap
    assert(dfIndex(combineCases.toDF("doc_id", "text")) ==
      postings.map { case (w, ds) => w -> (ds.toSeq.sorted.mkString(","), ds.size.toLong) })
    // numeric ids sort numerically (2 before 10), also when an id repeats
    val numeric = Seq((10L, "b a b"), (2L, "a a a"), (2L, "c"), (7L, ""), (1L, "a\tc\r\nc"))
    assert(dfIndex(numeric.toDF("doc_id", "text")) ==
      serialPostings(numeric).map { case (w, ds) => w -> (ds.toSeq.sorted.mkString(","), ds.size.toLong) })
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Sum of one SQL metric over the executed plan's `T` nodes, AQE query
    * stages included; read after the Dataset ran, so it is the final plan.
    */
  private def metricOf[T <: SparkPlan : ClassTag](ds: Dataset[_], metric: String): Long = {
    val plan = ds.queryExecution.executedPlan
    val nodes = PlanWalk.collect(plan) { case p: T => p }
    assert(nodes.nonEmpty, s"no ${classTag[T].runtimeClass.getSimpleName} in\n$plan")
    nodes.map(_.metrics(metric).value).sum
  }

  test("combined map side: one shuffled row per distinct (word, doc), not per token") {
    // unique doc ids, so distinct (word, doc) pairs = sum of distinct words per doc
    val docs = Seq(("t0", "a a a b a"), ("t1", "b b\tc\r\nc b"), ("t2", "a"), ("t3", " "))
    val pairs = docs.map { case (_, t) => serialTokens(t).distinct.size.toLong }.sum
    assert(pairs == 5L && docs.map(d => serialTokens(d._2).size).sum == 11)
    def ran[D <: Dataset[_]](ds: D): D = { ds.collect(); ds }
    val records = "shuffleRecordsWritten"
    val got = (
      metricOf[ShuffleExchangeExec](ran(MapReduce.invertedIndex(docs.toDS())), records),
      metricOf[ShuffleExchangeExec](ran(MapReduce.wordCount(docs.toDS())), records),
      metricOf[GenerateExec](ran(TextAnalysis.invertedIndex(docs.toDF("doc_id", "text"))), "numOutputRows"))
    assert(got == ((pairs, pairs, pairs)))
  }

  /** Reduce partitions the final AQE plan of a ran single-shuffle Dataset
    * reads: a coalescing read's specs, else all of the exchange's.
    */
  private def reducePartitions(ds: Dataset[_]): Int = {
    val plan = ds.queryExecution.executedPlan
    val stages = PlanWalk.collect(plan) { case s: ShuffleQueryStageExec => s.shuffle.numPartitions }
    assert(stages.size == 1, plan)
    PlanWalk.collect(plan) { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      .headOption.getOrElse(stages.head)
  }

  test("bench coalesce floor: a ~1.5 MB word-count shuffle reads 4 reduce partitions, a KB one 1") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    // one distinct hex word per row in 4 input partitions: the partial
    // aggregate cannot combine, so each map task writes its rows' words
    def wordCount(words: Long): Dataset[_] = {
      val ds = TextAnalysis.wordCount(spark.range(0, words, 1, 4)
        .select(substring(sha2(col("id").cast("string"), 256), 1, 16).as("text")))
      ds.collect()
      ds
    }
    def written(ds: Dataset[_]): Long = metricOf[ShuffleExchangeExec](ds, "shuffleBytesWritten")
    try {
      spark.conf.unset(key) // Spark's 1 MB default
      val before = reducePartitions(wordCount(80000))
      spark.conf.set(key, Bench.CoalesceFloorBytes.toString)
      val big = wordCount(80000)
      val small = wordCount(200)
      assert(written(big) > 1200000L && written(big) < 1800000L, written(big))
      assert(written(small) < 10000L, written(small))
      assert(before < 4, "Spark's 1 MB default coalesces the same shuffle")
      assert(reducePartitions(big) == 4)
      assert(reducePartitions(small) == 1)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("word count total equals token count (conservation)") {
    val df = docs.toDF("doc_id", "text")
    val total = TextAnalysis.wordCount(df).agg(sum($"cnt")).as[Long].head()
    assert(total == docs.map(_._2.split(" ").length).sum)
  }

  test("fingerprint is order-sensitive") {
    val df = Seq((0L, "a b"), (1L, "b a")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df).as[(Long, Long)].collect().toMap
    assert(fps(0L) != fps(1L))
  }

  test("langId prediction is deterministic and covers all languages") {
    val df = Seq((0L, "the a fast fast", "en"), (1L, "join scan sort", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(df).select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "en", 1L -> "de"))
  }

  test("repetition: hand-computed shares, lexicographic top-bigram tie-break") {
    // "a b a b c": bigrams (a b)x2, (b a)x1, (b c)x1; tok_chars = 5.
    // top = "a b" (cnt 2, chars 2*2=4); dup bigrams = {"a b"} -> 4 chars.
    val df = Seq((0L, "a b a b c"), (1L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(df).orderBy("doc_id")
      .as[(Long, Long, String, Long, Double, Double)].collect()
    assert(got(0) == ((0L, 4L, "a b", 2L, 0.8, 0.8)))
    // "x y z": all bigrams unique; tie on count -> lexicographic (x y).
    assert(got(1) == ((1L, 2L, "x y", 1L, floor(2.0 * 10000 / 3) / 10000, 0.0)))
  }

  private def floor(x: Double): Double = math.floor(x)

  test("chunk: full coverage, stride overlap, no redundant tail window") {
    val n = 113 // forces 3 chunks: [0,64), [48,112), [96,113)
    val text = (0 until n).map(i => s"t$i").mkString(" ")
    val df = Seq((0L, text), (1L, "only three tokens")).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, size = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, String)].collect()
    val d0 = got.filter(_._1 == 0L)
    assert(d0.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(d0.map(_._3).toSeq == Seq(64L, 64L, 17L))
    assert(d0(0)._4.startsWith("t0 ") && d0(2)._4.endsWith(s" t${n - 1}"))
    // chunk c starts at token c*48
    assert(d0(1)._4.startsWith("t48 ") && d0(2)._4.startsWith("t96 "))
    // short doc: exactly one chunk carrying the whole text
    val d1 = got.filter(_._1 == 1L)
    assert(d1.toSeq == Seq((1L, 0L, 3L, "only three tokens")))
  }

  test("non-space whitespace and empty docs: facade, stats, fingerprint shapes") {
    // Python str.split() semantics on tabs/newlines/runs — the facade must
    // agree with the declarative tokenizer on ANY corpus, not just the
    // single-space testdata
    val messy = Seq(("d0", "a\tb\nc  a"), ("d1", ""), ("d2", "  \t \n "))
      .toDS().map(identity) // Dataset[(String, String)]
    val wc = graft.operators.MapReduce.wordCount(messy).collect().toMap
    assert(wc == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    val df = Seq((0L, "a\tb\nc  a"), (1L, ""), (2L, " \t ")).toDF("doc_id", "text")
    val stats = TextAnalysis.tokenStats(df).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stats == Seq((0L, 4L, 3L, 4L), (1L, 0L, 0L, 0L), (2L, 0L, 0L, 0L)))
    val fps = TextAnalysis.fingerprint(df).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(fps.map(_._1) == Seq(0L, 1L, 2L))
    assert(fps(1)._2 == 0L && fps(2)._2 == 0L, "empty docs fingerprint to 0")
    assert(fps(0)._2 != 0L)
  }

  test("tx_pmi exact-integer ratio encodes ln-PMI (analytic corpus)") {
    // The query's hash surface is the exact BIGINT pair (pmi_num, pmi_den);
    // the transcendental lives here, under tolerance, not in the oracle.
    // Corpus: 25 docs of "cat dog" ⇒ n_tok=50, n_big=25, cnt=ca=cb=25 ⇒
    // PMI(cat,dog) = ln(25·50² / (25·25·25)) = ln 4.
    val dir = java.nio.file.Files.createTempDirectory("pmi").toString
    (0L until 25L).map(i => (i, "cat dog", "en", "test", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("tx_pmi")(spark, dir)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.toSeq == Seq(("cat", "dog", 25L, 25L * 50L * 50L, 25L * 25L * 25L)))
    val pmi = math.log(rows.head._4.toDouble / rows.head._5)
    assert(math.abs(pmi - math.log(4.0)) < 1e-12)
  }
}
