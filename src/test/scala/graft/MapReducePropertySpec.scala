package graft

import graft.operators.{MapReduce, TextAnalysis}
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5.2): the typed facade and the DataFrame plans
  * agree on random corpora; structural invariants of the index. Uses
  * ScalaCheck generators with fixed seeds (sampled manually — the
  * scalatest/scalacheck bridge artifact isn't on the offline classpath).
  */
class MapReducePropertySpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private val vocab = Gen.oneOf("apple", "bee", "cat", "dog", "elk", "fox")
  private val docGen = Gen.listOfN(8, vocab).map(_.mkString(" "))
  private val corpusGen = Gen.listOfN(5, docGen)
    .map(_.zipWithIndex.map { case (t, i) => (i.toString, t) })

  // doc ids drawn from a pool smaller than the corpus, so ids repeat across rows
  private val repeatedIdCorpusGen = Gen.listOfN(6, Gen.zip(Gen.choose(0, 3), docGen))
    .map(_.map { case (i, t) => (i.toString, t) })

  private def samples(n: Int, gen: Gen[List[(String, String)]] = corpusGen): Seq[List[(String, String)]] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, rng.Seed(42L + i)))

  test("facade word count == DataFrame word count on random corpora") {
    samples(5).foreach { corpus =>
      val facade = MapReduce.wordCount(corpus.toDS()).collect().toMap
      val df = TextAnalysis.wordCount(corpus.toDF("doc_id", "text"))
        .as[(String, Long)].collect().toMap
      assert(facade == df)
    }
  }

  test("inverted index membership: doc in index(w) iff w in tokens(doc)") {
    samples(5).foreach { corpus =>
      val idx = MapReduce.invertedIndex(corpus.toDS()).collect().toMap
      corpus.foreach { case (d, t) =>
        val words = t.split(" ").toSet
        words.foreach(w => assert(idx(w).contains(d)))
        idx.foreach { case (w, ds) => if (ds.contains(d)) assert(words.contains(w)) }
      }
    }
  }

  test("facade inverted index == DataFrame inverted index on random corpora") {
    val repeated = samples(3, repeatedIdCorpusGen)
    assert(repeated.forall(c => c.map(_._1).distinct.size < c.size))
    (samples(3) ++ repeated).foreach { corpus =>
      val facade = MapReduce.invertedIndex(corpus.toDS()).collect()
        .map { case (w, ds) => w -> (ds.mkString(","), ds.size.toLong) }.toMap
      val df = TextAnalysis.invertedIndex(corpus.toDF("doc_id", "text"))
        .as[(String, String, Long)].collect().map { case (w, l, n) => w -> (l, n) }.toMap
      assert(facade == df)
    }
  }

  test("word count conservation: sum of counts == total tokens") {
    samples(5).foreach { corpus =>
      val total = MapReduce.wordCount(corpus.toDS()).collect().map(_._2).sum
      assert(total == corpus.map(_._2.split(" ").length).sum)
    }
  }
}
