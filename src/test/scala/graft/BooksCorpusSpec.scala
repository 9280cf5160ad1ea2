package graft

import graft.operators.MapReduce
import graft.sources.TextSource
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Comparator
import scala.jdk.CollectionConverters._
import scala.util.{Random, Using}

/** Integration fixture at the reference's real corpus size: four
  * Gutenberg-style books (249,018 tokens, ~1.7 MB), the size and shape of the
  * reference's `books/` input (SURVEY §5.1), generated from a fixed seed by
  * [[BooksCorpusSpec.generate]] into a temp directory for the suite. The
  * distributed jobs read the files through `TextSource.readLines` and are
  * cross-checked against an independent SERIAL computation with the
  * reference's tokenization (Python `str.split()`: whole file, BOM
  * stripped, split on any whitespace run).
  *
  * Before comparing, the spec asserts that the files carry every case the
  * comparison exists to cover: exactly three start with a UTF-8 BOM, one
  * has `\r\n` line endings, and there are tabs, blank lines, runs of
  * whitespace, leading/trailing whitespace and non-ASCII letters — but no
  * non-ASCII whitespace, where `\s` and Python's `str.split()` part ways
  * (TextFns scope note).
  */
class BooksCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private var booksDir: Path = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    booksDir = Files.createTempDirectory("books-corpus")
    BooksCorpusSpec.generate().foreach { case (name, bytes) => Files.write(booksDir.resolve(name), bytes) }
  }

  override def afterAll(): Unit =
    try Using.resource(Files.walk(booksDir))(
      _.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete))
    finally super.afterAll()

  private def base(f: String): String = f.split("/").last

  /** Fails unless the files hold the cases the equality asserts rely on. */
  private def checkFixture(files: Seq[(String, Array[Byte])]): Unit = {
    val texts = files.map { case (_, b) => new String(b, UTF_8) }
    assert(files.map(_._1) == Seq("book0.txt", "book1.txt", "book2.txt", "book3.txt"))
    assert(texts.count(_.startsWith("\uFEFF")) == 3, "three files should start with a UTF-8 BOM")
    assert(texts.exists(_.contains("\r\n")), "one file should use \\r\\n line endings")
    assert(texts.exists(_.contains('\t')), "the corpus should contain tabs")
    assert(texts.exists(t => "\n\r?\n".r.findFirstIn(t).nonEmpty), "the corpus should contain blank lines")
    assert(texts.exists(t => "\\S[ \t]{2,}\\S".r.findFirstIn(t).nonEmpty),
      "the corpus should contain whitespace runs between tokens")
    assert(texts.exists(t => "\n[ \t]+\\S".r.findFirstIn(t).nonEmpty), "the corpus should contain leading whitespace")
    assert(texts.exists(t => "\\S[ \t]+\r?\n".r.findFirstIn(t).nonEmpty), "the corpus should contain trailing whitespace")
    assert(texts.exists(_.exists(c => c > 127 && Character.isLetter(c))), "the corpus should contain non-ASCII letters")
    assert(texts.forall(_.forall(c =>
      !(Character.isWhitespace(c) || Character.isSpaceChar(c)) || " \t\n\r\u000B\f".contains(c))),
      "str.split() parity holds only for the whitespace that \\s matches")
  }

  /** Independent serial tokenization: whole file, Python-split() semantics. */
  private lazy val serialTokens: Map[String, Seq[String]] = {
    val files = Using.resource(Files.list(booksDir))(_.iterator().asScala.toSeq)
      .sortBy(_.toString)
      .map(p => base(p.toString) -> Files.readAllBytes(p))
    checkFixture(files)
    files.map { case (name, bytes) =>
      // three of the books carry a UTF-8 BOM; Hadoop's line reader strips
      // it, so the serial reference must too (python utf-8-sig semantics)
      val text = new String(bytes, UTF_8).stripPrefix("\uFEFF")
      name -> text.split("\\s+").toSeq.filter(_.nonEmpty)
    }.toMap
  }

  private def sparkDocs = {
    // local fn so the map closure doesn't capture the (non-serializable) spec
    val baseFn = (f: String) => f.split("/").last
    TextSource.readLines(spark, booksDir.toString).as[(String, String)]
      .map { case (f, l) => (baseFn(f), l) }
  }

  test("the seeded corpus is byte-identical on every generation") {
    def digest(corpus: Seq[(String, Array[Byte])]): String = {
      val md = MessageDigest.getInstance("SHA-256")
      corpus.foreach { case (name, bytes) => md.update(name.getBytes(UTF_8)); md.update(bytes) }
      md.digest().map("%02x".format(_)).mkString
    }
    val (a, b) = (BooksCorpusSpec.generate(), BooksCorpusSpec.generate())
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) })
    // pins the bytes across JVMs: the generator draws only from
    // java.util.Random and exact arithmetic, so a change here is a change
    // to the generator (update FIXTURES.md with it)
    assert(digest(a) == BooksCorpusSpec.Sha256)
  }

  test("wordCount over the full Gutenberg corpus matches an independent serial count") {
    val expected = serialTokens.values.flatten
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    assert(expected.values.sum > 200000L, "corpus should be real-sized")
    val got = MapReduce.wordCount(sparkDocs).collect().toMap
    assert(got.size == expected.size,
      s"vocabulary differs: ${got.size} vs ${expected.size}")
    assert(got == expected)
  }

  test("invertedIndex over the full corpus matches an independent serial index") {
    val expected = serialTokens.toSeq
      .flatMap { case (f, toks) => toks.distinct.map(_ -> f) }
      .groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted.toSeq).toMap
    val got = MapReduce.invertedIndex(sparkDocs).collect().toMap
      .view.mapValues(_.toSeq).toMap
    assert(got == expected)
    // sanity: common words index every book, rare words fewer
    assert(got("the") == Seq("book0.txt", "book1.txt", "book2.txt", "book3.txt"))
  }
}

/** Seeded Gutenberg-style corpus, sized like the reference's `books/`
  * (SURVEY §5.1: an 848-word excerpt, then 124,705 / 45,369 / 78,096 words).
  *
  * Tokens are drawn from a Zipf(1) vocabulary of 15,000 words whose rank-1
  * word is `the`; the 60 commonest are English function words, the rest
  * are made of syllables, one syllable in twelve with a non-ASCII vowel.
  * Text comes in sentences (capitalized first word; commas, semicolons,
  * quotes, possessives and em-dash compounds attached to tokens), wrapped
  * at ~70 columns into paragraphs split by blank lines, under CHAPTER
  * headings. Whitespace is ASCII only: doubled spaces after sentences,
  * indented and trailing-space lines, whitespace-only separator lines;
  * `book3` adds tab-indented lines and tabs between words, `book2` ends its
  * lines with `\r\n`, and `book1`..`book3` start with a UTF-8 BOM.
  */
object BooksCorpusSpec {
  val Seed = 1813L

  /** SHA-256 over (name, bytes) of the four files, in order. */
  val Sha256 = "5242efba09b46a6dc2545ff55643e43e04527b431d70137e5b39b019e5b247e4"

  private final case class Book(name: String, tokens: Int, bom: Boolean, crlf: Boolean, tabs: Boolean)

  private val Books = Seq(
    Book("book0.txt", 848, bom = false, crlf = false, tabs = false),
    Book("book1.txt", 124705, bom = true, crlf = false, tabs = false),
    Book("book2.txt", 45369, bom = true, crlf = true, tabs = false),
    Book("book3.txt", 78096, bom = true, crlf = false, tabs = true))

  private val FunctionWords = Seq(
    "the", "of", "and", "to", "a", "in", "was", "that", "he", "it",
    "her", "his", "I", "with", "as", "had", "you", "for", "she", "not",
    "be", "at", "but", "is", "my", "on", "have", "him", "by", "which",
    "so", "all", "they", "this", "from", "were", "me", "no", "would", "one",
    "been", "could", "there", "said", "very", "their", "an", "what", "or", "more",
    "if", "when", "them", "we", "will", "are", "any", "some", "then", "into")

  private val VocabSize = 15000

  private def vocabulary(rnd: Random): Array[String] = {
    val onsets = Array("b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t", "v", "w",
      "br", "ch", "cl", "dr", "gr", "pl", "pr", "sh", "st", "str", "th", "tr", "wh")
    val nuclei = Array("a", "e", "i", "o", "u", "ai", "ea", "ee", "ie", "oo", "ou", "y")
    val foreign = Array("é", "è", "ê", "ä", "ö", "ü", "ï", "æ", "œ", "ç", "ñ", "å")
    val codas = Array("", "", "", "d", "l", "n", "r", "s", "t", "ck", "ll", "nd", "ng", "rt", "st")
    val words = scala.collection.mutable.LinkedHashSet.from(FunctionWords)
    while (words.size < VocabSize) {
      val w = new StringBuilder
      // 1-3 syllables, mostly 1-2, so words run to English lengths
      for (_ <- 0 until 1 + rnd.nextInt(2) + (if (rnd.nextInt(4) == 0) 1 else 0)) {
        w ++= onsets(rnd.nextInt(onsets.length))
        w ++= (if (rnd.nextInt(12) == 0) foreign(rnd.nextInt(foreign.length)) else nuclei(rnd.nextInt(nuclei.length)))
        w ++= codas(rnd.nextInt(codas.length))
      }
      words += w.toString
    }
    words.toArray
  }

  /** Cumulative Zipf(1) weights: rank r weighs 1/r (exact, so reproducible). */
  private def zipfCdf(n: Int): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    for (r <- 0 until n) { acc += 1.0 / (r + 1); cdf(r) = acc }
    cdf
  }

  /** The four books as (file name, UTF-8 bytes), deterministic in [[Seed]]. */
  def generate(): Seq[(String, Array[Byte])] = {
    val rnd = new Random(Seed)
    val vocab = vocabulary(rnd)
    val cdf = zipfCdf(vocab.length)
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      vocab(if (i >= 0) i else -i - 1)
    }
    Books.map(b => b.name -> bookBytes(b, rnd, () => word()))
  }

  private def bookBytes(b: Book, rnd: Random, word: () => String): Array[Byte] = {
    val nl = if (b.crlf) "\r\n" else "\n"
    val out = new StringBuilder
    if (b.bom) out += '\uFEFF'
    var tokens = 0
    def line(s: String): Unit = { out ++= s; out ++= nl }
    def heading(s: String): Unit = { line(s); tokens += s.split(" ").length }

    heading(s"The Project Gutenberg eBook of ${b.name}")
    line("")
    var chapter = 0
    while (tokens < b.tokens) {
      if (chapter == 0 || rnd.nextInt(40) == 0) {
        chapter += 1
        line(""); line("")
        heading(s"CHAPTER $chapter.")
        line("")
      }
      // one paragraph: sentences of 4-24 tokens with punctuation attached;
      // the last one is cut to the book's exact token count
      val toks = Vector.newBuilder[String]
      for (_ <- 0 until 1 + rnd.nextInt(6)) {
        val n = 4 + rnd.nextInt(21)
        val quoted = rnd.nextInt(8) == 0
        for (i <- 0 until n) {
          var w = word()
          if (rnd.nextInt(80) == 0) w = w + "—" + word()
          if (rnd.nextInt(60) == 0) w += "'s"
          if (i == 0) w = w.capitalize
          if (i == 0 && quoted) w = (if (rnd.nextBoolean()) "\"" else "“") + w
          if (i == n - 1) {
            w += ".!?".charAt(rnd.nextInt(3) min rnd.nextInt(3))
            if (quoted) w += (if (rnd.nextBoolean()) "\"" else "”")
          } else if (rnd.nextInt(12) == 0) w += ","
          else if (rnd.nextInt(90) == 0) w += ";"
          toks += w
        }
      }
      tokens += wrap(toks.result().take(b.tokens - tokens), b, rnd, line)
      // paragraph break: a blank line, sometimes whitespace-only or doubled
      rnd.nextInt(20) match {
        case 0 => line(if (b.tabs) " \t" else "   ")
        case 1 => line(""); line("")
        case _ => line("")
      }
    }
    out.toString.getBytes(UTF_8)
  }

  /** Wraps a paragraph's tokens into ~70-column lines; returns the token count. */
  private def wrap(toks: Vector[String], b: Book, rnd: Random, line: String => Unit): Int = {
    val cur = new StringBuilder
    def indent(): Unit =
      if (b.tabs && rnd.nextInt(5) == 0) cur ++= (if (rnd.nextBoolean()) "\t" else "  \t")
      else if (rnd.nextInt(25) == 0) cur ++= "    "
    def flush(): Unit = {
      if (rnd.nextInt(40) == 0) cur ++= (if (b.tabs && rnd.nextBoolean()) "\t" else " ")
      line(cur.toString); cur.clear()
    }
    indent()
    var onLine = 0
    for (t <- toks) {
      if (onLine > 0 && cur.length + t.length > 70) { flush(); indent(); onLine = 0 }
      if (onLine > 0) cur ++= (
        if (b.tabs && rnd.nextInt(40) == 0) "\t"
        else if (".!?\"”".contains(cur.last) && rnd.nextInt(3) == 0) "  "
        else " ")
      cur ++= t
      onLine += 1
    }
    flush()
    toks.size
  }
}
