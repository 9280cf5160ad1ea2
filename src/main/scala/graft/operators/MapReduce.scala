package graft.operators

import org.apache.spark.sql.{Dataset, Encoder}

import scala.collection.mutable

/** Typed facade reproducing the reference's generic map/reduce contract:
  * arbitrary `map: (docId, text) => Seq[(K, V)]` and whole-group
  * `reduce: (K, Iterator[V]) => O` (see /root/reference/mapper_node.py:51-57
  * and /root/reference/reducer_node.py:50-56 — the reduce fn receives the
  * full value list for a key, it is NOT required to be associative).
  *
  * The reference ships user functions as marshalled Python bytecode; here the
  * same role is played by Scala closures via Spark's built-in closure
  * serialization. `flatMap` + `groupByKey.mapGroups` is the exact semantic
  * match (whole-group reduce, single shuffle on K); [[mapReduce]] applies no
  * combiner, because an arbitrary reduce need not be associative.
  *
  * The two shipped jobs (word count, inverted index) combine in the mapper
  * instead: their map fns aggregate within one document before emitting, so
  * the shuffle carries one record per distinct (word, doc) pair rather than
  * one per token (the reference's mapper emits per token,
  * mapper_node.py:81-82). Their outputs are unchanged. The same jobs are
  * also exposed as pure DataFrame plans in [[TextAnalysis]], where Catalyst
  * adds partial aggregation across documents.
  */
object MapReduce {
  def mapReduce[K, V, O](docs: Dataset[(String, String)])(
      mapFn: (String, String) => IterableOnce[(K, V)])(
      reduceFn: (K, Iterator[V]) => O)(
      implicit ekv: Encoder[(K, V)], ek: Encoder[K], eko: Encoder[(K, O)]): Dataset[(K, O)] =
    docs
      .flatMap { case (d, t) => mapFn(d, t) }
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, reduceFn(k, it.map(_._2))))

  /** Reference job 1 — word count (mapreduce_wc.py:3-11): map emits
    * (token, count in this document) once per distinct whitespace token;
    * reduce sums.
    */
  def wordCount(docs: Dataset[(String, String)]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    // \s+ (not " "): Python str.split() splits on ANY whitespace run —
    // a single-space split would carry tabs/newlines inside tokens and
    // diverge from TextFns.tokens and the oracle on non-space whitespace
    mapReduce(docs) { (_, text) =>
      val counts = mutable.HashMap.empty[String, Long]
      text.split("\\s+").foreach(w => if (w.nonEmpty) counts(w) = counts.getOrElse(w, 0L) + 1L)
      counts
    }((_, vs) => vs.sum)
  }

  /** Reference job 2 — inverted index (mapreduce_inverted.py:3-11): map emits
    * (token, docId) once per distinct token of the document; reduce dedups
    * into a sorted doc list (the reference uses an unordered `set()`; we sort
    * for deterministic output, SURVEY §2.2). The reduce still dedups, so a
    * doc id on several rows gives the same list.
    */
  def invertedIndex(docs: Dataset[(String, String)]): Dataset[(String, Seq[String])] = {
    import docs.sparkSession.implicits._
    mapReduce(docs)((doc, text) =>
      text.split("\\s+").iterator.filter(_.nonEmpty).distinct.map(w => (w, doc)))(
      (_, vs) => vs.toSeq.distinct.sorted)
  }
}
