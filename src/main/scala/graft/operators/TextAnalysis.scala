package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => size_}

/** DataFrame-native text analysis over a (docId, text, ...) table.
  *
  * These are the benchmark/oracle forms of the reference's two jobs (word
  * count `mapreduce_wc.py`, inverted index `mapreduce_inverted.py`) plus the
  * LLM-pipeline text operators (token stats, language-ID, quality scoring,
  * fingerprinting, TF-IDF). Pure declarative plans: explode+groupBy shapes
  * get map-side partial aggregation from Catalyst; per-document stats are
  * single-pass, shuffle-free higher-order-function expressions.
  */
object TextAnalysis {

  private def toks(c: Column): Column = TextFns.tokens(c)

  /** (word, cnt) — the reference's word count. Scale: partial aggregation
    * makes the shuffle O(distinct words), not O(tokens).
    */
  def wordCount(docs: DataFrame, textCol: String = "text"): DataFrame =
    // spread: tokenize+explode otherwise run in the single-partition scan
    // stage (see Tables.spread)
    graft.Tables.spread(docs)
      .select(explode(toks(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** (word, doc_list, n_docs) — the reference's inverted index, sorted doc
    * ids for deterministic output (the reference uses an unordered set,
    * SURVEY §2.2). doc_list is a comma-joined string so output hashing is
    * representation-stable. Each document's tokens are deduplicated before
    * the explode, so the aggregate sees one row per distinct (word, doc)
    * pair instead of one per token; collect_set still dedups a doc id that
    * repeats across rows. Scale: the exploded stream is O(distinct words per
    * doc) and collect_set is bounded by docs-per-word; for web-scale vocab a
    * (word, doc) pair table (no collect) is the preferred shape — both are
    * exposed.
    *
    * NOTE: measured negatives on the seed-1 mr_books corpus (local[4],
    * Spark's 1 MB coalesce floor, median job time of 20 interleaved runs in
    * one JVM, this shape 370 ms):
    * `collect_list` + `array_distinct` 381 ms, `repartition(word)` +
    * `collect_set` 408 ms, a `(word, doc)` distinct then `collect_list`
    * 552 ms, this shape with `objectHashAggregate.sortBased.fallbackThreshold`
    * raised past the vocabulary 388 ms.
    */
  def invertedIndex(docs: DataFrame, docCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // sort ids numerically only when the source column IS numeric — casting
    // a path-like doc id (the reference corpus uses './book3.txt') to
    // bigint would NULL it, and collect_set drops NULLs, silently emptying
    // doc_list while n_docs still counts the docs
    val numericIds = docs.schema(docCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val docKey =
      if (numericIds) col("doc").cast("bigint") else col("doc")
    docs
      .select(col(docCol).cast("string").as("doc"),
        explode(array_distinct(toks(col(textCol)))).as("word"))
      .groupBy("word")
      // ONE aggregate: n_docs is the size of the same distinct-doc set the
      // posting list is built from — a separate count_distinct(doc) made
      // Spark plan a second distinct-aggregate path over the exploded
      // stream for a number the collect_set already knows
      .agg(array_sort(collect_set(docKey)).as("ds"))
      .select(col("word"), array_join(col("ds"), ",").as("doc_list"),
        size(col("ds")).cast("bigint").as("n_docs"))
  }

  /** Per-document token statistics. Shuffle-free (no explode): single-pass
    * array expressions per row.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = col("toks")
    docs.select(col("doc_id"), toks(col("text")).as("toks")).select(
      col("doc_id"),
      size(t).cast("bigint").as("n_tokens"),
      size(array_distinct(t)).cast("bigint").as("n_uniq"),
      // codegen'd kernel, bit-identical to
      // aggregate(transform(t, x => length(x).cast("bigint")), 0L, +) —
      // the HOF pair ran an interpreted closure per token (see
      // plans.TokenCharLenSum; TokenKernelsSpec asserts equality)
      graft.plans.StringExpressions.tokenCharLenSum(t).as("n_chars_tok"))
  }

  /** Heuristic language-ID: marker-word vote per language, arg-max with a
    * fixed (alphabetical) tie-break. Deterministic function of the text.
    */
  def langId(docs: DataFrame): DataFrame = {
    val t = col("toks")
    // ONE fused marker pass for all five language scores (one array walk
    // instead of five; see TextFns.markerScores) — the `mc` array column is
    // materialized in its own projection so the five element reads share
    // the single kernel evaluation by construction, not by codegen CSE.
    val scored = docs
      .select(col("doc_id"), col("lang"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), TextFns.markerScores(t).as("mc"))
      .select(
        col("doc_id") +: col("lang").as("actual_lang") +:
          TextFns.langMarkers.keys.toSeq.zipWithIndex.map { case (l, i) =>
            col("mc").getItem(i).as(s"s_$l") }: _*)
    // arg-max CASE chain in ListMap order: first language whose score is >=
    // all later ones wins — mirrored verbatim in the oracle SQL.
    val langs = TextFns.langMarkers.keys.toSeq
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) { case ((l, i), els) =>
      val ge = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(ge, lit(l)).otherwise(els)
    }
    scored.select(Seq(col("doc_id"), pred.as("pred_lang"), col("actual_lang")) ++
      langs.map(l => col(s"s_$l")): _*)
  }

  /** Quality scores: token/char counts, mean token length, stopword ratio,
    * non-alpha character count. Ratios rounded for representation-stable
    * comparison.
    */
  def quality(docs: DataFrame): DataFrame = {
    val t = col("toks")
    val stop = Seq("the", "a", "of", "to", "and")
    docs.select(col("doc_id"), col("lang"), col("text"), toks(col("text")).as("toks")).select(
      col("doc_id"),
      col("lang"),
      size(t).cast("bigint").as("n_tokens"),
      length(col("text")).cast("bigint").as("n_chars"),
      round(length(col("text")).cast("double") / size(t), 4).as("mean_tok_len"),
      // markerScore = the codegen'd TokenMarkerCount kernel, value-identical
      // to size(filter(t, isin(stop))) (its documented contract) — the HOF
      // filter ran an interpreted isin per token of the corpus
      round(TextFns.markerScore(t, stop).cast("double") / size(t), 4)
        .as("stopword_ratio"),
      regexp_count(col("text"), lit("[^a-z ]")).cast("bigint").as("n_nonalpha"))
  }

  /** BPE-style pre-tokenizer regex (GPT-2 pattern family, RE2-compatible
    * subset: contraction suffixes, space-prefixed letter runs / digit runs /
    * punctuation runs, whitespace runs). No lookahead, so the same pattern
    * runs in Spark (java.util.regex) and DuckDB (RE2) with identical
    * leftmost-first alternation.
    */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** Token-budget accounting: whitespace token count vs a BPE-ish
    * pre-tokenizer count per document. Shuffle-free single pass.
    */
  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(toks(col("text"))).cast("bigint").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .cast("bigint").as("n_bpe_tokens"))

  /** Positional rolling-hash fingerprint per document. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.fingerprint(toks(col("text"))).as("fp"))

  /** TF-IDF per (doc, word): tf * ln(N / df). Two aggregations (term counts,
    * doc frequencies) + a broadcast-able join on word; N is a scalar cross
    * join. Scale: both groupBys shuffle on word — co-partitioned.
    */
  def tfidf(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val tf = pairs.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = pairs.groupBy("word").agg(count_distinct(col("doc_id")).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
  }

  /** Repetition signals per document (Gopher/MassiveText-family filters):
    * the character share of the single most frequent word bigram and the
    * character share of ALL bigrams occurring more than once. High values
    * flag boilerplate / templated / looping text that token-level stats
    * (TTR, stopword ratio) miss.
    *
    * Shape: one explode + a doc-keyed window (lead) to form bigrams, then
    * two doc-keyed aggregates — every shuffle is on doc_id, so at scale the
    * whole pipeline is one exchange reused across the window and both
    * groupBys. All intermediates are exact integers; the two ratios are
    * quantized ONCE with floor(x*1e4)/1e4 (deterministic on identical
    * doubles — see ts_lerp's boundary lesson). Tie-break for the top
    * bigram: highest count, then lexicographic (w1, w2).
    */
  def repetition(docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("i")
    val toksPos = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("i", "w")))
    val bigrams = toksPos
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"),
        (length(col("w")) + length(col("w2"))).cast("bigint").as("bl"))
    val counts = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("c"), max("bl").as("bl"))
    val byCount = Window.partitionBy("doc_id")
      .orderBy(col("c").desc, col("w1"), col("w2"))
    val top = counts
      .withColumn("rn", row_number().over(byCount))
      .filter(col("rn") === 1)
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("top_bigram"),
        col("c").as("top_cnt"), (col("c") * col("bl")).as("top_chars"))
    val perDoc = counts.groupBy("doc_id").agg(
      sum("c").as("n_bigrams"),
      coalesce(sum(when(col("c") > 1, col("c") * col("bl"))), lit(0L)).as("dup_chars"))
    val tokChars = toksPos.groupBy("doc_id")
      .agg(sum(length(col("w")).cast("bigint")).as("tok_chars"))
    def share(chars: Column) = floor(chars * lit(10000.0) / col("tok_chars")) / 10000
    perDoc.join(top, "doc_id").join(tokChars, "doc_id")
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram"), col("top_cnt"),
        share(col("top_chars")).as("top_share"),
        share(col("dup_chars")).as("dup_share"))
  }

  /** Overlapping fixed-size token chunking (context-window assembly for
    * training / embedding): windows of `size` tokens at `stride` steps; the
    * final chunk is the first one that reaches the end of the document
    * (shorter than `size` when the tail is short, never a redundant window
    * wholly contained in its predecessor). Chunk count for n tokens:
    * 1 + ceil((n - size) / stride) (1 when n <= size).
    *
    * Shape: pure per-row flatMap — tokenize once, explode a chunk-index
    * sequence, slice the token array. No shuffle at all; at 100 TB this
    * chunks each input split independently, which is exactly how a corpus
    * prep job wants it.
    */
  def chunk(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size, s"bad chunk config ($size, $stride)")
    // integer ceil((n-size)/stride) = floor((n - size + stride - 1) / stride)
    val lastChunk = greatest(lit(0),
      floor((col("n") - lit(size - stride + 1)) / lit(stride.toDouble)).cast("int"))
    docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size_(col("t")).cast("bigint").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), lastChunk)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        slice(col("t"), col("chunk_id") * stride + 1, lit(size)).as("ct"))
      .select(col("doc_id"), col("chunk_id"),
        size_(col("ct")).cast("bigint").as("n_tok"),
        concat_ws(" ", col("ct")).as("chunk_text"))
  }
}
