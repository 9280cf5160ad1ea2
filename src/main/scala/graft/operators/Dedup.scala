package graft.operators

import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a (doc_id, text) corpus and an
  * (vec_id, embedding) table: exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB): the LSH paths (MinHash bands, SimHash chunks)
  * shuffle O(bands x docs) rows and compare only within buckets, avoiding the
  * O(n^2) pair space. MinHash buckets (64-bit band keys, only truly-similar
  * docs collide) expand pairs in-bucket with a size cap; SimHash chunks (16
  * bits, hot on low-entropy corpora) use a self-join so AQE can split skewed
  * keys. Shingling is a codegen'd posexplode + window-lead pipeline — no
  * interpreted array lambdas on the hot path. The exact pairwise forms exist
  * as correctness baselines for the LSH paths and for small inputs.
  */
object Dedup {

  /** Exact-duplicate summary: total docs, distinct texts, redundant docs.
    * (Exact dedup itself = dropDuplicates("text") / min(doc_id) per text.)
    */
  def exactStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("total_docs"),
      count_distinct(col("text")).as("distinct_texts"),
      (count(lit(1)) - count_distinct(col("text"))).as("redundant_docs"))

  /** Exact dedup: keep the lowest doc_id per identical text. Aggregation
    * form (one shuffle on a text hash would be the 100 TB shape; here the
    * text itself is the key).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** Incremental-ingest exact dedup: which of `incoming`'s docs already
    * exist (by text) in `corpus` — the shape of every production ingest
    * tick, where the landed corpus is orders of magnitude larger than the
    * batch. Joins on xxhash64(text) with a text-equality verify (at 100 TB
    * the 8-byte key, not the document body, pays the shuffle; the verify
    * column makes hash collisions harmless), then a per-source rollup.
    */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    // distinct (hash, text) PAIRS: each incoming row matches at most one
    // pair even under a hash collision, so the flag is deterministic
    val corpusKeys = corpus
      .select(xxhash64(col("text")).as("ch"), col("text").as("corpus_text"))
      .distinct()
    incoming
      .select(col("source"), col("text"), xxhash64(col("text")).as("h"))
      .join(corpusKeys,
        col("h") === col("ch") && col("text") === col("corpus_text"), "left")
      .withColumn("dup", col("corpus_text").isNotNull.cast("bigint"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_incoming"),
        sum(col("dup")).as("n_dup"),
        (count(lit(1)) - sum(col("dup"))).as("n_new"))
      .orderBy("source")
  }

  /** Distinct word-n-gram shingle hashes per doc as rows: (doc_id, hraw).
    * Built with posexplode + window lead — whole-stage-codegen'd end to end
    * (an array-lambda formulation would drop to interpreted HOF eval on the
    * hottest path of every dedup operator). hraw is the full 64-bit
    * xxhash64 of the space-joined shingle: with distinct-shingle counts ~1e5
    * the collision probability is ~1e-9, so hash-set Jaccard == string-set
    * Jaccard. One shuffle (by doc_id) + one distinct.
    */
  private[graft] def shingleHashRows(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    // spread: tokenize+posexplode of the whole corpus otherwise runs in
    // the single-partition scan stage (see Tables.spread)
    val tok = graft.Tables.spread(docs).select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("p", "t")))
    if (n == 1)
      // unigram degenerate case: no window needed, and the general path's
      // filter would reference a t0 column that is never created
      return tok.select(col("doc_id"), xxhash64(col("t")).as("hraw")).distinct()
    val w = Window.partitionBy("doc_id").orderBy("p")
    val grams = (1 until n).map(i => lead(col("t"), i).over(w).as(s"t$i"))
    tok.select(col("doc_id") +: col("t") +: grams: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("t") +: (1 until n).map(i => col(s"t$i")): _*)).as("hraw"))
      .distinct()
  }

  /** Materialize a frame that the downstream DAG consumes more than once.
    * Spark recomputes a DataFrame per use; for the dedup operators the
    * shared shingle/signature intermediates feed 2-3 consumers, so one
    * explicit materialization beats re-running the pipeline.
    *
    * The strategy is session-configurable via `spark.graft.materialize`:
    *  - `localCheckpoint` (default): eager, executor-local, truncates
    *    lineage — fastest and plan-stable, right for single-JVM/local mode,
    *    but a lost executor at cluster scale fails the job instead of
    *    recomputing.
    *  - `checkpoint`: reliable checkpoint to `spark.checkpoint.dir` —
    *    the fault-tolerant cluster setting (survives executor loss).
    *  - `persist`: DISK_ONLY cache, lineage kept — recomputable on
    *    executor loss without a checkpoint dir, at the cost of carrying
    *    the full lineage through planning.
    */
  private[graft] def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.materialize")
      .getOrElse("localCheckpoint") match {
      case "checkpoint" => df.checkpoint()
      case "persist" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        // persist is LAZY; force it so materialize is eager under every
        // strategy — callers (materializedPairStats) release upstream
        // intermediates immediately after, which would otherwise trigger a
        // full recompute on first real use
        p.count()
        p
      case _ => df.localCheckpoint()
    }

  /** Release a frame produced by [[materialize]] once fully superseded —
    * iterative operators call this on the previous round's intermediate so
    * long runs don't accumulate one cached/checkpointed copy per round.
    * Callers must only pass frames they will never touch again (after a
    * localCheckpoint the lineage is gone, so a later access could not
    * recompute).
    *
    * Under the `checkpoint` strategy unpersist does NOT delete reliable
    * checkpoint FILES — set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` on such
    * clusters so superseded round snapshots are removed when their RDDs
    * are garbage-collected, or the checkpoint dir grows one snapshot per
    * iteration.
    */
  private[graft] def release(df: DataFrame): Unit =
    if (df != null) df.unpersist(blocking = false)

  /** Shingle-sharing skew profile: (docs_per_shingle, n_shingles) — the
    * distribution that SIZES every shingle pair join (cost Σ f² over these
    * levels). A fat tail is the signal to lean on AQE skew-split / LSH
    * bucket caps before running the exact pair pass. Two keyed aggregates,
    * the second over O(distinct levels) rows.
    */
  def shingleSharingProfile(docs: DataFrame, n: Int = 3): DataFrame =
    shingleHashRows(docs, n)
      .groupBy("hraw").agg(count(lit(1)).as("docs_per_shingle"))
      .groupBy("docs_per_shingle").agg(count(lit(1)).as("n_shingles"))

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= minJ). Pair
    * generation via shingle equi-join (only docs sharing a shingle are ever
    * compared), intersection counted from the join — never materializes the
    * full n^2 space, but still O(sum of per-shingle doc-count^2): the
    * correctness baseline; MinHash below is the scale path.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJ: Double = 0.8): DataFrame =
    jaccardFromStats(shinglePairStats(docs, n), minJ)

  /** Shared pair-statistics table (a_id < b_id, intersection size, both set
    * sizes) behind every exact set-overlap score: Jaccard and containment
    * are pure projections over it, so callers scoring a corpus both ways
    * (the realistic dedup audit) compute the expensive shingle equi-join
    * ONCE and derive each score for free (PipelineQueries caches this frame
    * across the dd_* queries).
    */
  def shinglePairStats(docs: DataFrame, n: Int = 3): DataFrame =
    // materialized because ex is consumed by sz + both join sides
    pairStatsFrom(materialize(shingleHashRows(docs, n)))

  /** Pair statistics over an already-materialized (doc_id, hraw) shingle
    * frame. Join on the 8-byte shingle hash, not the shingle string: cheaper
    * shuffle + comparisons; per-doc set sizes join in afterwards against the
    * (much smaller) pair table. AQE handles hot-shingle skew.
    */
  private def pairStatsFrom(ex: DataFrame): DataFrame = {
    val sz = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ex.select(col("doc_id").as("a_id"), col("hraw"))
      .join(ex.select(col("doc_id").as("b_id"), col("hraw")), Seq("hraw"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
  }

  /** [[shinglePairStats]] materialized for reuse across several scorings,
    * with the shingle-row intermediate released once the stats frame is
    * pinned — callers holding the result long-term (the PipelineQueries
    * family cache) keep only the O(near-dup pairs) table resident, not the
    * O(corpus) shingle rows.
    */
  def materializedPairStats(docs: DataFrame, n: Int = 3): DataFrame = {
    val ex = materialize(shingleHashRows(docs, n))
    val stats = materialize(pairStatsFrom(ex))
    release(ex)
    stats
  }

  /** Jaccard score + threshold over a [[shinglePairStats]] frame. */
  def jaccardFromStats(stats: DataFrame, minJ: Double): DataFrame =
    stats.select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJ)

  /** Containment score + threshold over a [[shinglePairStats]] frame. */
  def containmentFromStats(stats: DataFrame, minC: Double): DataFrame =
    stats.select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4).as("containment"))
      .filter(col("containment") >= minC)

  /** Shingle-containment near-dup pairs (a < b, |A∩B| / min(|A|,|B|) >=
    * minC): the asymmetric companion to [[ngramJaccardPairs]] — catches a
    * short document embedded verbatim in a longer one, which Jaccard misses
    * because the union is dominated by the longer side. Same pair
    * generation (shingle equi-join, intersections counted from the join, no
    * n² materialization), different score.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, minC: Double = 0.9): DataFrame =
    containmentFromStats(shinglePairStats(docs, n), minC)

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" §4 — the
    * MOSS fingerprinter): per document, hash every token n-gram at its
    * position, slide a window of `w` consecutive gram hashes, and in each
    * window select the minimum hash, breaking ties by the RIGHTMOST
    * position (the paper's robust-winnowing tie rule, which maximizes
    * window-to-window selection reuse); the fingerprint set is the
    * distinct (hash, position) selections. Guarantees (paper §3-4): any
    * shared token run of length >= w + n - 1 contributes at least one
    * COMMON fingerprint to both documents (no-miss locality), and the
    * expected fingerprint density is 2/(w+1) of the gram stream —
    * downstream pair detection runs on a ~60% smaller frame at (n=3, w=4)
    * with a hard detection floor, which is what MinHash (probabilistic,
    * whole-doc) cannot promise for LOCAL overlaps.
    *
    * Returns (doc_id, n_grams, h, p) — one row per selected fingerprint,
    * n_grams riding along for density accounting. The gram hash is the
    * cross-engine PolyHash31 polynomial over the space-joined gram
    * (truncated at 64 chars, the [[simhashCrossEngine]] convention), so
    * the whole selection replays bit-for-bit in the SQL oracle.
    *
    * Scale shape: one narrow pass over the token stream (posexplode +
    * window-lead gram assembly, codegen'd polynomial), then ONE
    * doc-partitioned ordered window for the min-selection — no shuffle
    * beyond the per-doc repartition the gram assembly already does, and
    * per-doc partitions are document-sized, never corpus-sized. Documents
    * shorter than one full window (n_grams < w) select their single
    * global minimum — the paper's boundary semantics for short docs.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, s"need n >= 1 and w >= 1, got n=$n w=$w")
    // spread: tokenize+posexplode of the whole corpus otherwise runs in
    // the single-partition scan stage (see Tables.spread)
    val tok = graft.Tables.spread(docs).select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("p", "t")))
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val grams = (1 until n).map(i => lead(col("t"), i).over(byPos).as(s"t$i"))
    val g = tok.select(col("doc_id") +: col("p") +: col("t") +: grams: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"), (col("p") + 1).cast("bigint").as("i"),
        graft.plans.VectorExpressions.polyHash31(
          substring(concat_ws(" ",
            col("t") +: (1 until n).map(i => col(s"t$i")): _*), 1, 64)).as("h"))
    val ng = g.groupBy("doc_id").agg(max(col("i")).as("n_grams"))
    val selWin = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    g.withColumn("m", min(struct(col("h"), (-col("i")).as("np"))).over(selWin))
      .join(ng, "doc_id")
      .filter(col("i") <= greatest(lit(1L), col("n_grams") - (w - 1)))
      .select(col("doc_id"), col("n_grams"),
        col("m.h").as("h"), (-col("m.np")).as("p"))
      .distinct()
  }

  /** Per-document winnowing density report over a [[winnowFingerprints]]
    * frame: gram count, selected fingerprint count, and the achieved
    * density in basis points (expected ~2/(w+1) = 4000 bp at w = 4 on
    * random hashes; sharply lower density flags low-entropy/repetitive
    * text, which is itself a curation signal). O(fingerprints) rollup.
    */
  def winnowStatsFromFp(fp: DataFrame): DataFrame =
    fp.groupBy("doc_id")
      .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_fp"))
      .select(col("doc_id"), col("n_grams"), col("n_fp"),
        expr("(10000 * n_fp) div n_grams").as("density_bp"))

  /** Fingerprint-overlap near-dup pairs over a [[winnowFingerprints]]
    * frame: equi-join documents on shared fingerprint HASHES (positions
    * dropped — cross-document positions don't align) and score each pair
    * by Jaccard over the distinct-hash sets. The same bucket-join shape
    * as the shingle pair join at ~2/(w+1) the stream size, with the
    * winnowing guarantee that any shared run >= w + n - 1 tokens still
    * collides; hot fingerprints (boilerplate grams) are the skew lever —
    * at 100 TB cap bucket fan-out exactly as [[bucketPairs]] does for
    * MinHash buckets (the dd_shingle_skew profile sizes this join too).
    */
  def winnowPairsFromFp(fp: DataFrame, minJ: Double = 0.5): DataFrame = {
    val hs = fp.select(col("doc_id"), col("h")).distinct()
    val sz = hs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    hs.select(col("doc_id").as("a_id"), col("h"))
      .join(hs.select(col("doc_id").as("b_id"), col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("c"))
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4)
          .as("wjac"))
      .filter(col("wjac") >= minJ)
  }

  /** rec_id offset separating planted dirty variants from base registry
    * records in [[erRegistry]] — above every partkey at any tested SF, so
    * `rec_id >= ErOffset` identifies a variant and `rec_id - ErOffset`
    * its true entity.
    */
  private[graft] val ErOffset = 10000000L

  /** Entity-resolution registry: one base record per part (name =
    * p_name + lowercased type, plus brand and size), and for every third
    * part a planted DIRTY duplicate — same entity re-keyed above
    * [[ErOffset]] with one character deleted at a deterministic position
    * in [4, 9] (prefix-preserving, so blocking is variant-stable by
    * construction) and the size jittered by partkey parity. The plant is
    * a pure function of p_partkey (the PII-planting convention of
    * [[PrivacyQueries.piiRedact]]): the oracle re-derives the identical
    * registry, so the gate checks the matcher's semantics on records with
    * KNOWN ground truth, not just plumbing.
    */
  private[graft] def erRegistry(part: DataFrame): DataFrame = {
    val base = part.select(
      col("p_partkey").cast("bigint").as("rec_id"),
      concat_ws(" ", col("p_name"), lower(col("p_type"))).as("nm"),
      col("p_brand").as("brand"),
      col("p_size").cast("bigint").as("size"))
    val variants = part.filter(col("p_partkey") % 3 === 0)
      .select(
        (col("p_partkey").cast("bigint") + lit(ErOffset)).as("rec_id"),
        concat_ws(" ", col("p_name"), lower(col("p_type"))).as("nm0"),
        col("p_brand").as("brand"),
        (col("p_size") + col("p_partkey") % 2).cast("bigint").as("size"),
        (col("p_partkey") % 6 + 4).as("pos"))
      .select(col("rec_id"),
        expr("concat(substr(nm0, 1, pos - 1), substr(nm0, pos + 1))").as("nm"),
        col("brand"), col("size"))
    base.union(variants)
  }

  /** Entity-resolution matched pairs over [[erRegistry]] — the blocking +
    * field-comparison + linear-weight shape of Fellegi & Sunter 1969 (the
    * record-linkage decision model; weights here are FIXED published
    * agreement/disagreement scores in deci-units rather than EM-estimated
    * m/u log-ratios, which keeps the decision rule a pure deterministic
    * function both engines replay):
    *   - BLOCK on (brand, 2-char name prefix) — candidate generation is
    *     an equi-join, never all-pairs; the planted edits preserve both
    *     fields, so blocking costs zero recall on the ground truth
    *   - name comparator: the codegen'd Jaro-Winkler expression
    *     ([[graft.plans.StringExpressions.jaroWinkler]], semantics pinned
    *     to the oracle engine), tiered +22 / +10 / −8 at 0.94 / 0.85
    *   - size comparator: +8 exact, +3 off-by-one, −6 otherwise
    *   - match threshold: total score >= 25, so a match needs a
    *     near-exact name AND a compatible size — a strong name alone
    *     (22 − 6 = 16) or a merely-similar name with equal size
    *     (10 + 8 = 18) both fall short.
    * By construction every planted variant scores >= 25 against its base
    * (one deletion in a >= 13-char name keeps JW >= 0.97; size moves by
    * <= 1), so ground-truth recall is 1 — DedupSpec asserts it.
    *
    * Scale shape (100 TB registry): one shuffle on the block key, pair
    * expansion inside blocks (block sizes are brand × prefix bounded),
    * the scorer fully codegen'd inside the join — the standard blocked
    * record-linkage plan. Skewed blocks are the known lever: tighten the
    * key (add a third field) or cap expansion exactly as [[bucketPairs]]
    * does for LSH buckets.
    */
  def erMatchedPairs(part: DataFrame): DataFrame = {
    val reg = erRegistry(part)
      .withColumn("blk", concat_ws("|", col("brand"), substring(col("nm"), 1, 2)))
    val a = reg.select(col("rec_id").as("a_id"), col("nm").as("nm_a"),
      col("size").as("sz_a"), col("blk"))
    val b = reg.select(col("rec_id").as("b_id"), col("nm").as("nm_b"),
      col("size").as("sz_b"), col("blk"))
    a.join(b, "blk")
      .filter(col("a_id") < col("b_id"))
      // Cheap size prune BEFORE the Jaro-Winkler comparator (guide §1.2
      // per-task work): the decision rule makes a match IMPOSSIBLE at
      // |size diff| >= 2 — the size tier is then −6 and the maximum total
      // is 22 − 6 = 16 < 25 — so gating the expensive string comparator on
      // the two-integer test drops most in-block pairs for free and is
      // EXACTLY result-preserving (every emitted row has score >= 25 and
      // hence size diff <= 1 already).
      .filter(abs(col("sz_a") - col("sz_b")) <= 1)
      .withColumn("jw",
        round(graft.plans.StringExpressions.jaroWinkler(col("nm_a"), col("nm_b")), 4))
      .withColumn("score",
        when(col("jw") >= 0.94, 22L).when(col("jw") >= 0.85, 10L).otherwise(-8L)
          + when(col("sz_a") === col("sz_b"), 8L)
            .when(abs(col("sz_a") - col("sz_b")) === 1, 3L).otherwise(-6L))
      .filter(col("score") >= 25)
      .select(col("a_id"), col("b_id"), col("jw"), col("score"))
  }

  /** Entity clusters over [[erMatchedPairs]]: connected components of the
    * match graph (the star variant — O(log n) rounds at any diameter,
    * which matters here because same-name registries chain through
    * off-by-one sizes), rolled up per entity: cluster id (min rec_id),
    * member count, and how many members are planted variants. The CC step
    * is what turns PAIRWISE match decisions into ENTITIES — the step a
    * pairwise-only linkage gets transitively wrong.
    */
  def erClustersFromPairs(pairs: DataFrame): DataFrame =
    connectedComponentsStar(pairs.select("a_id", "b_id"))
      .groupBy(col("comp").as("ent"))
      .agg(count(lit(1)).as("n_records"),
        sum((col("id") >= ErOffset).cast("bigint")).as("n_variants"))
      .orderBy("ent")

  /** MinHash + LSH candidate pairs, verified by exact Jaccard on the shingle
    * sets. With k=128, 32 bands x 4 rows, P(candidate | J=0.8) ~ 1 - (1 -
    * 0.8^4)^32 ~= 1.0, so verified output equals the exact >=minJ pair set —
    * except inside buckets larger than maxBucket, where pair expansion is
    * capped to min-id + neighbor chains (every duplicate still links to a
    * keeper; see [[bucketPairs]]). One shuffle to form (band, key)
    * buckets, pairs expanded within buckets, then a join back to shingle
    * sets for verification (candidates only).
    */
  /** @param hrowsPre optional prebuilt [[minhashHashRows]] frame — the
    *   query layer family-caches ONE hash-rows materialization and feeds it
    *   to both this pair generator and [[incrementalMinhashProbe]] (each
    *   previously re-ran the full tokenize+shingle+distinct pipeline; the
    *   caller owns the shared frame's lifetime).
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 128, bands: Int = 32,
                      minJ: Double = 0.8, maxBucket: Int = 1000,
                      hrowsPre: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature width k ($k) — otherwise " +
        "the banding would silently read only bands*(k/bands) of the " +
        "computed min-hashes and recall would differ from the requested k")
    val hrows = hrowsPre.getOrElse(minhashHashRows(docs, n))
    val buckets = bandKeyRows(hrows, k, bands)
      .groupBy("band", "key")
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val candM = materialize(bucketPairs(buckets, maxBucket)) // tiny; consumed by the id semi-join + both verify joins
    verifiedJaccard(hrows, candM).filter(col("jaccard") >= minJ)
  }

  /** Minhash'd shingle rows (doc_id, hraw, h), materialized — the shared
    * input of the signature aggregate and the verification hash sets: one
    * aggregation over these rows produces both, so the shingle pipeline
    * runs once and all later joins carry compact longs instead of shingle
    * strings.
    */
  private[graft] def minhashHashRows(docs: DataFrame, n: Int): DataFrame =
    materialize(shingleHashRows(docs, n)
      .select(col("doc_id"), col("hraw"), pmod(col("hraw"), lit(TextFns.HashP)).as("h")))

  /** (doc_id, band, key) LSH band-key rows from the k-wide signature.
    * The signature aggregate is PURE codegen'd min-aggregation — mixing a
    * collect_set into it forced the whole corpus-wide aggregate into
    * interpreted ObjectHashAggregate (observed bimodal 4s-60s runtimes).
    * Verification hash sets are collected separately for candidate docs
    * only, which is also the 100 TB shape: never materialize per-doc sets
    * for the whole corpus.
    */
  private def bandKeyRows(hrows: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val minCols = (0 until k).map(i =>
      min(pmod(lit(TextFns.minhashA(i)) * col("h") + lit(TextFns.minhashB(i)), lit(TextFns.HashP)))
        .as(s"m$i"))
    hrows
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        TextFns.lshBandKeys(array((0 until k).map(i => col(s"m$i")): _*), bands, rows)
          .as("bandkeys"))
      .select(col("doc_id"), posexplode(col("bandkeys")).as(Seq("band", "key")))
  }

  /** Exact-Jaccard verification of candidate pairs: hash sets are
    * collected ONLY for docs that appear in a candidate pair (semi-join
    * first), and the joins broadcast the bounded candidate side — pins
    * the strategy, which otherwise flapped between broadcast and SMJ
    * (observed 3-24s swings). Returns (a_id, b_id, jaccard), unfiltered —
    * callers apply their threshold.
    */
  private def verifiedJaccard(hrows: DataFrame, candM: DataFrame): DataFrame = {
    val candIds = candM.select(col("a_id").as("doc_id"))
      .union(candM.select(col("b_id").as("doc_id"))).distinct()
    val hsets = hrows
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("hraw"))).as("hs"))
    val j1 = broadcast(candM)
      .join(hsets.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
    broadcast(j1)
      .join(hsets.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb"))), 4).as("jaccard"))
  }

  /** Incremental MinHash admission — the INDEX-PROBE shape of near-dup
    * dedup at 100 TB: the landed corpus's LSH bucket table is a persisted
    * ingest artifact; an incoming batch computes signatures for its OWN
    * docs, probes the landed buckets by (band, key) EQUI-join, and
    * verifies candidates with exact Jaccard — never re-pairing the landed
    * corpus against itself. Probe cost is O(batch x bucket-hit rate); the
    * full-corpus signature recompute here exists only because the gate
    * derives both sides from one table — the plan downstream of the
    * signature aggregate is the production probe plan.
    *
    * Returns (new_id, landed_id, jaccard >= minJ) — the admission
    * verdict per incoming doc. Recall bound is [[minhashLshPairs]]'s
    * (32 bands x 4 rows). Over-full landed buckets are capped to their
    * maxBucket smallest members — the min-id keeper convention keeps
    * every batch doc linked to a bucket's canonical representatives.
    */
  /** @param hrowsPre optional prebuilt [[minhashHashRows]] frame shared
    *   with [[minhashLshPairs]] (see there) — when provided, the probe does
    *   NOT release it (the caller owns the shared frame's lifetime).
    */
  def incrementalMinhashProbe(docs: DataFrame, isNew: Column, n: Int = 3,
                              k: Int = 128, bands: Int = 32, minJ: Double = 0.8,
                              maxBucket: Int = 1000,
                              hrowsPre: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature width k ($k)")
    val flags = docs.select(col("doc_id"), isNew.as("is_new"))
    val hrows = hrowsPre.getOrElse(minhashHashRows(docs, n))
    val keyed = bandKeyRows(hrows, k, bands).join(flags, "doc_id")
    val landedBuckets = keyed.filter(!col("is_new"))
      .groupBy("band", "key")
      .agg(slice(array_sort(collect_set(col("doc_id"))), 1, maxBucket).as("ids"))
    val candM = materialize(
      keyed.filter(col("is_new"))
        .select(col("doc_id").as("a_id"), col("band"), col("key"))
        .join(landedBuckets, Seq("band", "key"))
        .select(col("a_id"), explode(col("ids")).as("b_id"))
        .distinct())
    // Materialize the (small, O(admission verdicts)) result and RELEASE the
    // two corpus-sized intermediates this probe pinned (the shingle hash
    // rows inside minhashHashRows and the candidate set) — the probe was
    // the one dedup-family member whose per-execution checkpoints outlived
    // the call (a leak under bench REPEAT and long JobServer sessions; the
    // family-cache siblings release via LRU evict, this path releases
    // inline).
    val out = materialize(verifiedJaccard(hrows, candM)
      .filter(col("jaccard") >= minJ)
      .select(col("a_id").as("new_id"), col("b_id").as("landed_id"), col("jaccard")))
    if (hrowsPre.isEmpty) release(hrows)
    release(candM)
    out
  }

  /** MinHash estimator calibration — the signature ships with its own
    * measurement (the dd_simhash_recall / sim_ivfpq_recall theme, MinHash
    * edition): for each VERIFIED near-dup pair, the k-component signature
    * estimate Ĵ = matches/k next to the exact Jaccard, per pair. This is
    * the number that justifies the signature width: E[Ĵ] = J with
    * sd sqrt(J(1−J)/k) ≈ 0.035 at k = 128 and J ≈ 0.8, so per-pair
    * |est − exact| beyond a few hundred bp flags a broken hash family, not
    * sampling noise.
    *
    * Replayability: components are mins of the [[TextFns.minhashA]]/B
    * affine family over the CROSS-ENGINE polynomial shingle hash
    * ([[polyShingleHashRows]] — 64-char-truncated shingles), not the
    * production xxhash64 features: same estimator math, hash-matchable
    * values. The exact Jaccard comes from the caller's verified pair set
    * (untruncated-shingle definition); the truncation affects only
    * shingles past 64 chars, absent in word-3-gram corpora.
    *
    * Scale shape: signatures are computed ONLY for docs in the pair set
    * (broadcast semi-join first — never a corpus-wide per-doc signature
    * materialization), then two broadcast joins of the O(pairs) frame;
    * the k min-aggregates are one codegen'd map-side-combined pass.
    */
  def minhashEstQuality(docs: DataFrame, pairs: DataFrame, k: Int = 128,
                        n: Int = 3): DataFrame = {
    require(k >= 1 && k <= 128, s"bad signature width $k")
    val ids = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val hrows = polyShingleHashRows(
      docs.join(broadcast(ids), Seq("doc_id"), "left_semi"), n)
    val minCols = (0 until k).map(i =>
      min(pmod(lit(TextFns.minhashA(i)) * col("h0") + lit(TextFns.minhashB(i)),
        lit(TextFns.HashP))).as(s"m$i"))
    val sig = hrows.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    // LEFT joins, not inner: a verified pair whose doc has fewer than n
    // tokens produces zero shingles and hence no signature row — an inner
    // join would silently drop that pair from the calibration report (and
    // the oracle would drop it identically, making the miss invisible to
    // the hash gate). Left-joining keeps every input pair visible: a
    // missing signature surfaces as null matches/est_bp/abs_err_bp rows.
    // The sig frame is O(pair docs) by the semi-join above — broadcast the
    // BUILD sides (a left outer join cannot broadcast its stream side).
    pairs.select(col("a_id"), col("b_id"), col("jaccard"))
      .join(broadcast(sig.select(col("doc_id").as("a_id"), col("sig").as("sa"))),
        Seq("a_id"), "left")
      .join(broadcast(sig.select(col("doc_id").as("b_id"), col("sig").as("sb"))),
        Seq("b_id"), "left")
      .select(col("a_id"), col("b_id"),
        round(col("jaccard") * 10000).cast("bigint").as("jaccard_bp"),
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("matches"))
      .select(col("a_id"), col("b_id"), col("jaccard_bp"), col("matches"),
        expr(s"matches * 10000 div $k").as("est_bp"),
        abs(expr(s"matches * 10000 div $k") - col("jaccard_bp")).as("abs_err_bp"))
  }

  /** b-bit minhash calibration (Li & König 2010, b = 1): next to the full
    * 64-bit-per-component estimator of [[minhashEstQuality]], keep only the
    * LOWEST BIT of each of the k minhash components — 128× less signature
    * storage — and debias the matched-bit fraction as Ĵ = 2·p̂ − 1 (the
    * large-universe limit of the paper's C₁/C₂ correction, where the
    * collision floor for non-equal minima is exactly 1/2). The report
    * carries both estimators against the exact Jaccard so the storage/
    * accuracy trade reads directly off the table: at k = 128 the full
    * estimator's sd is ~√(J(1−J)/k) ≈ 350 bp at J ≈ 0.8, the 1-bit one
    * ~2·√(p(1−p)/k) ≈ 530 bp — the paper's ~"b-bit costs you √3× the
    * variance at b=1, for 64× the space" trade, measurable here per pair.
    *
    * Scale shape: identical to [[minhashEstQuality]] (semi-join to pair
    * docs, one signature aggregate, two broadcast build-side joins); the
    * 1-bit signatures never materialize separately — the parity compare
    * rides the same zip_with pass, because the STORAGE saving is the
    * serving-index story, not a compute saving at calibration time.
    */
  def bbitMinhashQuality(docs: DataFrame, pairs: DataFrame, k: Int = 128,
                         n: Int = 3): DataFrame = {
    require(k >= 1 && k <= 128, s"bad signature width $k")
    val ids = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val hrows = polyShingleHashRows(
      docs.join(broadcast(ids), Seq("doc_id"), "left_semi"), n)
    val minCols = (0 until k).map(i =>
      min(pmod(lit(TextFns.minhashA(i)) * col("h0") + lit(TextFns.minhashB(i)),
        lit(TextFns.HashP))).as(s"m$i"))
    val sig = hrows.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    // LEFT joins for the same zero-shingle visibility contract as
    // minhashEstQuality (a missing signature surfaces as null columns)
    pairs.select(col("a_id"), col("b_id"), col("jaccard"))
      .join(broadcast(sig.select(col("doc_id").as("a_id"), col("sig").as("sa"))),
        Seq("a_id"), "left")
      .join(broadcast(sig.select(col("doc_id").as("b_id"), col("sig").as("sb"))),
        Seq("b_id"), "left")
      .select(col("a_id"), col("b_id"),
        round(col("jaccard") * 10000).cast("bigint").as("jaccard_bp"),
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("matches"),
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x.bitwiseAND(lit(1L)) === y.bitwiseAND(lit(1L)), 1L)
              .otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("matches_1bit"))
      .select(col("a_id"), col("b_id"), col("jaccard_bp"),
        col("matches"), col("matches_1bit"),
        expr(s"matches * 10000 div $k").as("est_bp"),
        // Ĵ₁ = 2·p̂ − 1 can read negative on an unlucky pair — report it
        // signed; clamping would hide exactly the tail the calibration
        // exists to measure
        expr(s"(2 * matches_1bit * 10000) div $k - 10000").as("est1_bp"),
        abs(expr(s"matches * 10000 div $k") - col("jaccard_bp"))
          .as("abs_err_bp"),
        abs(expr(s"(2 * matches_1bit * 10000) div $k - 10000")
          - col("jaccard_bp")).as("abs_err1_bp"))
  }

  /** All (a < b) pairs from a sorted id array, as structs. */
  private def pairUp(ids: org.apache.spark.sql.Column) =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids) - i - 1),
        y => struct(x.as("a"), y.as("b")))))

  /** Expand LSH buckets (`ids` = sorted member array) into candidate
    * (a_id, b_id) pairs. Buckets up to maxBucket expand all O(|bucket|^2)
    * pairs (complete pair set). Over-full buckets — degenerate keys, e.g.
    * one text duplicated 10^4 times at corpus scale — are NOT dropped: every
    * member is chained to the bucket minimum AND to its sorted-id neighbors,
    * O(|bucket|) pairs that link each member to a keeper by two independent
    * routes (a member whose min-link fails verification usually still
    * verifies against a neighbor). Residual bound: pathological over-full
    * buckets mixing several distinct near-dup groups can still leave a
    * member whose min- and neighbor-links all fail verification; full
    * resolution would re-bucket unresolved members iteratively.
    */
  private[graft] def bucketPairs(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val ids = col("ids")
    val minChain = transform(slice(ids, lit(2), size(ids) - 1),
      y => struct(element_at(ids, 1).as("a"), y.as("b")))
    val adjChain = transform(slice(ids, lit(1), size(ids) - 1),
      (x, i) => struct(x.as("a"), element_at(ids, i + lit(2)).as("b")))
    buckets
      .select(
        when(size(ids) <= maxBucket, pairUp(ids))
          .otherwise(concat(minChain, adjChain))
          .as("pairs"))
      .select(explode(col("pairs")).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .distinct()
  }

  /** 64-bit SimHash per doc over n-gram shingle features: bit j of `sim` is
    * the majority vote of bit j across the doc's shingle hashes. 64
    * codegen'd SUM aggregates (partial agg map-side).
    */
  private def simhashFromHashRows(hrows: DataFrame): DataFrame = {
    val bitCols = (0 until 64).map(j =>
      sum(shiftright(col("hraw"), j).bitwiseAND(lit(1L))).as(s"b$j"))
    val counted = hrows.groupBy("doc_id").agg(count(lit(1)).as("n"), bitCols: _*)
    val simCol = (0 until 64)
      .map(j => when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    counted.select(col("doc_id"), simCol.as("sim"))
  }

  /** (doc_id, sim) SimHash table — test/inspection surface over the same
    * pipeline [[simhashPairs]] uses.
    */
  private[graft] def simhash64(docs: DataFrame, n: Int = 3): DataFrame =
    simhashFromHashRows(shingleHashRows(docs, n))

  /** 31^m mod HashP for m = 0..63 — the positional weights of the
    * cross-engine polynomial shingle hash below (1-based: element i is
    * 31^(i-1)).
    */
  private[graft] val pow31: IndexedSeq[Long] =
    Iterator.iterate(1L)(p => (p * 31L) % TextFns.HashP).take(64).toIndexedSeq

  /** Cross-engine SimHash: the same majority-vote bit aggregation as
    * [[simhash64]], but the per-shingle feature hash is REPLAYABLE in ANSI
    * SQL so a DuckDB oracle can hash-match the simhash VALUES themselves —
    * the production path keeps xxhash64 (stronger, cheaper); this variant
    * gates the mechanism (shingling, per-bit majority votes, bit packing)
    * exactly.
    *
    * Per shingle (first 64 chars, truncated identically on both engines):
    * h0 = Σ ascii(char_k) * 31^(L-k) mod p — a positional polynomial exact
    * in signed 64 (terms < 2^38, sums < 2^44). Bit j of the feature is
    * ((A_j * h0 + B_j) mod p) & 1 over the [[TextFns.minhashA]]/B pairwise-
    * independent family; bit j of `sim` is the majority of that bit across
    * the doc's distinct shingles. ASCII corpus assumed (ascii() is a UTF-16
    * unit in Spark vs a codepoint in DuckDB beyond the BMP — same caveat as
    * TextFns.fingerprint).
    */
  private[graft] def simhashCrossEngine(docs: DataFrame, n: Int = 3): DataFrame =
    simhashFromPolyRows(polyShingleHashRows(docs, n))

  /** (doc_id, h0) rows — one per DISTINCT shingle string — under the
    * cross-engine polynomial feature hash (see [[simhashCrossEngine]]).
    * Feeds both the simhash bit votes and [[simhashPairsVerified]]'s
    * exact-Jaccard verification sets.
    */
  private[graft] def polyShingleHashRows(docs: DataFrame, n: Int): DataFrame = {
    // spread: tokenize+posexplode of the whole corpus otherwise runs in
    // the single-partition scan stage (see Tables.spread)
    val tok = graft.Tables.spread(docs).select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("p", "t")))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val grams = (1 until n).map(i => lead(col("t"), i).over(w).as(s"t$i"))
    val sh = tok.select(col("doc_id") +: col("t") +: grams: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"),
        substring(concat_ws(" ", col("t") +: (1 until n).map(i => col(s"t$i")): _*),
          1, 64).as("s"))
      .distinct()
    // codegen'd Horner form of the same polynomial (PolyHash31) — a HOF
    // aggregate/transform formulation evaluates an interpreted lambda per
    // character and measured ~40% slower on the full shingle stream
    sh.select(col("doc_id"),
      graft.plans.VectorExpressions.polyHash31(col("s")).as("h0"))
  }

  private def simhashFromPolyRows(hrows: DataFrame): DataFrame = {
    val bitCols = (0 until 64).map(j =>
      sum(pmod(lit(TextFns.minhashA(j)) * col("h0") + lit(TextFns.minhashB(j)),
        lit(TextFns.HashP)).bitwiseAND(lit(1L))).as(s"b$j"))
    val counted = hrows.groupBy("doc_id").agg(count(lit(1)).as("n"), bitCols: _*)
    val simCol = (0 until 64)
      .map(j => when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    counted.select(col("doc_id"), simCol.as("sim"),
      col("n").cast("bigint").as("n_shingles"))
  }

  /** Chunk-pigeonhole candidate generation over a (doc_id, sim) frame,
    * hamming-verified inline in the join condition; emits distinct
    * (a_id, b_id, ham). Shared by the production xxhash64 path
    * [[simhashPairs]] and the cross-engine oracle path
    * [[simhashPairsCrossEngine]] — see [[simhashPairs]] for the recall
    * bounds and candidate-volume asymptotics.
    */
  private def simhashCandidatePairs(hashed: DataFrame, maxHam: Int,
                                    chunkBits: Int, multiProbe: Boolean): DataFrame = {
    require(64 % chunkBits == 0, s"chunkBits must divide 64, got $chunkBits")
    val nChunks = 64 / chunkBits
    val mask = (1L << chunkBits) - 1
    def chunkKey(c: Int) = shiftright(col("sim"), c * chunkBits).bitwiseAND(lit(mask))
    val chunks = hashed.select(col("doc_id"), col("sim"),
      explode(array((0 until nChunks).map(c =>
        struct(lit(c).as("chunk"), chunkKey(c).as("key"))): _*)).as("ck"))
      .select(col("doc_id"), col("sim"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    // Probe side: exact key plus (with multiProbe) every 1-bit flip — the
    // flips go on ONE side only, which suffices for <=1-bit chunk collision.
    val probes = if (!multiProbe) chunks else {
      val variants = (0 until nChunks).flatMap { c =>
        val base = chunkKey(c)
        (base +: (0 until chunkBits).map(b => base.bitwiseXOR(lit(1L << b))))
          .map(k => struct(lit(c).as("chunk"), k.as("key")))
      }
      hashed.select(col("doc_id"), col("sim"), explode(array(variants: _*)).as("ck"))
        .select(col("doc_id"), col("sim"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    }
    chunks
      .select(col("chunk"), col("key"), col("doc_id").as("a_id"), col("sim").as("sima"))
      .join(probes.select(col("chunk"), col("key"), col("doc_id").as("b_id"), col("sim").as("simb")),
        Seq("chunk", "key"))
      .filter(col("a_id") < col("b_id") &&
        TextFns.hamming(col("sima"), col("simb")) <= maxHam)
      .select(col("a_id"), col("b_id"),
        TextFns.hamming(col("sima"), col("simb")).cast("bigint").as("ham"))
      .distinct()
  }

  /** Cross-engine SimHash near-dup pairs in the SCALE configuration
    * (chunkBits=16 + multiProbe), verified by hamming <= maxHam ONLY. With
    * c = 64/16 = 4 chunks and 1-bit multi-probe, pigeonhole recall is
    * exactly 1 up to 2c-1 = 7 ([[simhashPairs]] scaladoc), so for
    * maxHam <= 7 the verified output EQUALS the all-pairs hamming ball
    * over [[simhashCrossEngine]] values — which is what the DuckDB oracle
    * computes candidate-free (self-join + bit_count(xor) <= maxHam). That
    * puts the whole pair pipeline — shingling, polynomial feature hash,
    * bit votes, packing, pigeonhole buckets, hamming verification — on a
    * hash-matchable surface; the production [[simhashPairs]] keeps
    * xxhash64 features + exact-Jaccard verification and stays rows-only.
    */
  def simhashPairsCrossEngine(docs: DataFrame, n: Int = 3, maxHam: Int = 7): DataFrame = {
    require(maxHam <= 7,
      s"recall-1 bound for 16-bit multi-probe chunks is ham <= 7, got $maxHam")
    val hashed = materialize(
      simhashCrossEngine(docs, n).select(col("doc_id"), col("sim")))
    simhashCandidatePairs(hashed, maxHam, chunkBits = 16, multiProbe = true)
  }

  /** The FULL production SimHash pipeline — pigeonhole candidate buckets,
    * hamming gate, exact-Jaccard verification over the shingle sets — with
    * the per-shingle feature hash re-keyed from xxhash64 to the replayable
    * [[polyShingleHashRows]] polynomial, so every stage sits on a
    * hash-matchable surface. In the scale configuration (16-bit chunks +
    * 1-bit multi-probe) pigeonhole recall at ham <= 7 is exactly 1, so the
    * output EQUALS {pairs : hamming(sim_a, sim_b) <= maxHam AND
    * J(shingles_a, shingles_b) >= minJ} — which a DuckDB oracle computes
    * candidate-free from the [[simhashCrossEngine]] values plus shingle-set
    * intersections. Same plan shape as [[simhashPairs]] (which keeps the
    * cheaper xxhash64 features for corpora that don't need an oracle):
    * chunk-join candidates, broadcast candidate ids, semi-joined
    * verification sets.
    */
  def simhashPairsVerified(docs: DataFrame, n: Int = 3, maxHam: Int = 7,
                           minJ: Double = 0.8): DataFrame = {
    require(maxHam <= 7,
      s"recall-1 bound for 16-bit multi-probe chunks is ham <= 7, got $maxHam")
    val hrows = materialize(polyShingleHashRows(docs, n)) // sims + verify sets
    val hashed = materialize(
      simhashFromPolyRows(hrows).select(col("doc_id"), col("sim")))
    val candM = materialize(
      simhashCandidatePairs(hashed, maxHam, chunkBits = 16, multiProbe = true))
    val candIds = candM.select(col("a_id").as("doc_id"))
      .union(candM.select(col("b_id").as("doc_id"))).distinct()
    val hsets = hrows
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h0"))).as("hs"))
    val j1 = broadcast(candM)
      .join(hsets.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
    broadcast(j1)
      .join(hsets.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      .select(col("a_id"), col("b_id"), col("ham"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** SimHash near-dup pairs: 64-bit simhash, candidates via the chunk
    * pigeonhole, verified by hamming <= maxHam AND exact Jaccard >= minJ.
    *
    * Recall bounds (pigeonhole): with c = 64/chunkBits chunks, a pair at
    * hamming <= c-1 must agree on some chunk — recall 1 up to c-1. With
    * multiProbe (one side also emits every 1-bit flip of each chunk key), a
    * chunk collides whenever it differs by <= 1 bit, so if every chunk
    * differed by >= 2 the total would be >= 2c: recall 1 up to 2c-1. Pairs
    * beyond the bound are found only if they happen to share a chunk.
    *
    * Candidate-volume asymptotics (the cost side of the same dial, for a
    * corpus of n_docs random-ish simhashes): expected RANDOM chunk
    * collisions ~ n_docs^2 * c / 2^chunkBits.
    *  - chunkBits=8 (8x8, default): bound ham<=7, volume ~n^2 * 8/256 =
    *    n^2/32 — effectively quadratic on large corpora; fine at test scale,
    *    NOT the 100 TB configuration.
    *  - chunkBits=16 + multiProbe (the scale config): the SAME ham<=7 bound
    *    (2c-1 with c=4), volume ~n^2 * 4*17/65536 ~= n^2/964 — 30x fewer
    *    random candidates for 17x emitted probe rows (rows are cheap,
    *    candidate verification is not).
    *
    * Candidate generation is a codegen'd self-join on (chunk, key) with the
    * hamming filter inline in the join condition: low-entropy corpora create
    * hot chunk buckets, and a join lets AQE split that skew instead of
    * materializing per-bucket pair arrays.
    */
  def simhashPairs(docs: DataFrame, n: Int = 3, maxHam: Int = 3,
                   minJ: Double = 0.8, chunkBits: Int = 8,
                   multiProbe: Boolean = false): DataFrame = {
    // SimHash over the n-gram SHINGLE features (not unigram tokens): on a
    // small vocabulary most documents share nearly identical token sets, so
    // token-level simhashes collapse and every pair becomes a candidate;
    // shingle features keep unrelated docs ~32 bits apart. One shingle scan
    // feeds both the bit-majority vote (raw 64-bit hash) and the
    // exact-Jaccard verification sets (mod-p hash, as in MinHash).
    val hrows = materialize(shingleHashRows(docs, n)) // consumed by verify sets + bit counts
    val hashed = materialize(simhashFromHashRows(hrows)) // both chunk-join sides
    val cand = simhashCandidatePairs(hashed, maxHam, chunkBits, multiProbe)
      .select("a_id", "b_id")
    val candM = materialize(cand)
    // verification sets for candidate docs only; candidate side broadcast —
    // see minhashLshPairs verification comment
    val candIds = candM.select(col("a_id").as("doc_id"))
      .union(candM.select(col("b_id").as("doc_id"))).distinct()
    val hsets = hrows
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("hraw"))).as("hs"))
    val j1 = broadcast(candM)
      .join(hsets.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
    broadcast(j1)
      .join(hsets.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Connected components of the near-dup pair graph by iterative min-label
    * propagation: every doc's label converges to the minimum doc_id in its
    * component, so keeper = label and every transitive duplicate (a ~ b,
    * b ~ c => {a,b,c} one group even when a !~ c) maps to the same keeper —
    * pairwise b_id-dropping would wrongly keep one doc per EDGE view, not
    * per component. Returns (id, comp).
    *
    * Scale notes: the pair graph is tiny relative to the corpus (only docs
    * with a near-dup edge), each iteration is one join + min-aggregate on
    * it, and iterations are bounded by graph diameter (near-dup clusters
    * are shallow; maxIter caps adversarial chains). The 100 TB refinement
    * of the same fixpoint is large-star/small-star (fewer rounds on
    * high-diameter graphs); min-label is the straightforward form.
    *
    * Convergence is VERIFIED, not assumed: label propagation advances one
    * hop per iteration, so a component whose diameter exceeds maxIter would
    * exit with labels that are silently wrong (docs of one component split
    * across several keepers). If the loop hits maxIter with changes still
    * in flight the operator throws instead of returning bad labels.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val e0 = pairs.select(col("a_id").as("s"), col("b_id").as("d"))
    val edges = materialize( // reused every iteration
      e0.union(e0.select(col("d").as("s"), col("s").as("d"))).distinct())
    var labels = materialize(
      edges.select(col("s").as("id")).distinct().select(col("id"), col("id").as("comp")))
    var changed = 1L
    var it = 0
    var prevMat: DataFrame = null
    while (changed > 0 && it < maxIter) {
      val viaNbr = edges
        .join(labels.select(col("id").as("d"), col("comp")), "d")
        .groupBy("s").agg(min(col("comp")).as("ncomp"))
      val updated = materialize(labels
        .join(viaNbr.select(col("s").as("id"), col("ncomp")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("oldc")))
      changed = updated.filter(col("comp") < col("oldc")).count()
      labels = updated.select("id", "comp")
      // the previous round's materialization is fully superseded now that
      // `updated` is computed — release it instead of leaking one copy/round
      release(prevMat)
      prevMat = updated
      it += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing) — component diameter exceeds maxIter; " +
          "raise maxIter or switch to the large-star/small-star variant")
    labels
  }

  /** Connected components via alternating large-star/small-star edge
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — converges in O(log n) rounds regardless of component
    * DIAMETER, unlike [[connectedComponents]]'s one-hop-per-round label
    * propagation (O(diameter) rounds, which a 10^6-long near-dup chain
    * would never finish). Per round:
    *   large-star(u): m = min(u ∪ Γ(u)); rewire every neighbor v > u to m.
    *   small-star(u): over neighbors v < u, m = min; rewire the rest of
    *     them and u itself to m.
    * Both preserve connectivity and never create self-loops; at the
    * fixpoint every component is a star on its minimum id, read off as the
    * (id, comp) labels. CcPropertySpec checks the result against an exact
    * union-find and the propagation variant on random graphs; the
    * dd_cc_dedup oracle (recursive-CTE transitive closure) gates it
    * end-to-end.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // canonical store: s > d (every edge points larger -> smaller)
    var edges = materialize(pairs
      .select(greatest(col("a_id"), col("b_id")).as("s"),
        least(col("a_id"), col("b_id")).as("d"))
      .filter(col("s") =!= col("d")).distinct())
    var converged = edges.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      val sym = edges.union(edges.select(col("d").as("s"), col("s").as("d")))
      // large-star: m(u) = min(u, min Γ(u)); emit (v, m(u)) for v > u
      val lsMin = sym.groupBy("s").agg(least(min(col("d")), col("s")).as("m"))
      val ls = sym.join(lsMin, "s")
        .filter(col("d") > col("s"))
        .select(col("d").as("s"), col("m").as("d"))
        .distinct()
      // small-star over strictly-smaller neighborhoods: m = min Γ<(u);
      // emit (v, m) for the other small neighbors and (u, m). ls rows are
      // already larger->smaller (v > u >= m), so they ARE the directed
      // smaller-neighborhood edges — no re-symmetrization needed.
      val dir = ls
      val ssMin = dir.groupBy("s").agg(min(col("d")).as("m"))
      val withM = dir.join(ssMin, "s")
      val next = materialize(
        withM.filter(col("d") =!= col("m"))
          .select(col("d").as("s"), col("m").as("d"))
          .union(ssMin.select(col("s"), col("m").as("d")))
          .distinct())
      // fixpoint: the canonical edge set stopped changing. Both sides are
      // distinct sets, so set equality == empty symmetric difference; one
      // full-outer join finds any witness in a single job (early exit) where
      // the two-sided exceptAll formulation cost two jobs per round.
      // INVARIANT: s/d are non-null by construction (callers drop null ids
      // before edge formation, and every derived edge is a min over those) —
      // required because this join matches on plain key equality, so a NULL
      // edge would never equal itself and the loop could not converge.
      converged = next.select(col("s"), col("d"), lit(1).as("__n"))
        .join(edges.select(col("s"), col("d"), lit(1).as("__e")),
          Seq("s", "d"), "full_outer")
        .filter(col("__n").isNull || col("__e").isNull)
        .isEmpty
      release(edges) // superseded once the convergence check has read it
      edges = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "at O(log n) rounds this needs a graph of > 2^maxIter nodes; raise maxIter")
    // fixpoint edges are (member, root) stars; roots label themselves
    edges.select(col("s").as("id"), col("d").as("comp"))
      .union(edges.select(col("d").as("id"), col("d").as("comp")))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine >= minCos).
    * Brute-force pair comparison with the codegen'd dot product — the
    * correctness BASELINE (O(n^2) pairs, a scale-killer at 100 TB);
    * [[embeddingLshPairs]] is the scale path.
    */
  def embeddingNearDupPairs(embs: DataFrame, minCos: Double): DataFrame = {
    // Norms are projected ONCE per vector (O(n) sqrt-of-self-dot), so the
    // n² nested-loop condition evaluates the dot-only kernel:
    // round(dot/(na·nb), 3) is bit-identical to the fused cosine (same
    // element traversal order, same sqrt-then-multiply-then-divide) at a
    // third of the per-pair flops. Measured with the repartition below,
    // the pair costs 3.92 s → 1.16 s solo at sf0.1 (the parallelism is
    // the larger share; the kernel split trims per-pair work).
    val nrm = sqrt(VectorFns.dot(col("embedding"), col("embedding")))
    // The embeddings table is one small parquet file => ONE scan partition,
    // and the nested-loop join streams it on a single core — the whole n²
    // condition loop ran serially (solo 3.9 s at sf0.1 on 32 cores = ~0 %
    // utilization). Spreading the STREAMED side across the session's
    // default parallelism puts every core on an n/P × n slice; the
    // broadcast build side is unchanged. Tables.spread (not an
    // unconditional repartition): once the scan itself splits into >=
    // parallelism partitions at warehouse scale, no exchange is added.
    val a = graft.Tables.spread(
      embs.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        nrm.as("na")))
    val b = embs.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      nrm.as("nb"))
    // Both predicates INSIDE the join condition, cheap id-order test first:
    // left to its own devices Catalyst pushes the cosine filter into the
    // BroadcastNestedLoopJoin condition but orders it BEFORE a_id < b_id, so
    // the dot kernel runs for all n^2 ordered pairs; the explicit
    // short-circuit order halves the evaluations. Survivor rows
    // (tiny) re-evaluate the dot once in the projection.
    val cos = round(VectorFns.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 3)
    a.join(b, col("a_id") < col("b_id") && cos >= minCos)
      .select(col("a_id"), col("b_id"), cos.as("cos_sim"))
  }

  /** SemDeDup-style cluster-blocked semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest centroid,
    * then compare cosines only WITHIN a cluster — the blocking that turns
    * the quadratic all-pairs space into k independent per-cluster pair
    * sets. A vector is dropped when a same-cluster vector with a smaller
    * id matches it at >= `minCos` (deterministic min-id keeper, the same
    * rule as the exact-dedup family). Returns the per-cluster dedup
    * report: (cluster, n_vecs, n_dropped, n_kept).
    *
    * Scale shape: assignment is the broadcast-centroid E-step
    * ([[Similarity.assignVectors]] — one corpus scan, no shuffle beyond
    * the keyed argmin); the pair join is an EQUI-join on the cluster key,
    * so each cluster's pair set is produced shuffle-local and AQE can
    * split a skewed cluster. At 100 TB the cluster count is sized so
    * per-cluster cardinality stays bounded (the paper's sqrt(n) rule);
    * per-cluster pair volume is then O(n) total. The cosine is the fused
    * codegen'd expression — no UDF on the n·(cluster size) hot path.
    */
  def semDedup(embs: DataFrame, minCos: Double): DataFrame = {
    val assigned = Similarity.assignVectors(embs, Similarity.centroids(embs))
      .select("vec_id", "cluster")
    // Per-vector norm projected once before the per-cluster pair square —
    // the dot-only kernel is bit-identical to the fused cosine (same
    // element order, same sqrt-then-multiply) at a third of the per-pair
    // flops; see embeddingNearDupPairs.
    val v = embs.select(col("vec_id"), col("embedding")).join(assigned, "vec_id")
      .withColumn("nrm", sqrt(VectorFns.dot(col("embedding"), col("embedding"))))
    // NOTE r15: the guide §2.2 salt split of this pair square was measured
    // and REVERTED (dd_semdedup 0.80 -> 0.94 s solo) — see the matching
    // note in Similarity.knnGraph for the mechanism.
    val pairs = v.select(col("cluster"), col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(v.select(col("cluster"), col("vec_id").as("b_id"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(VectorFns.dot(col("ea"), col("eb"))
        / (col("na") * col("nb")), 3) >= minCos)
    val dropped = pairs.select(col("cluster"), col("b_id")).distinct()
      .groupBy("cluster").agg(count(lit(1)).as("n_dropped"))
    assigned.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .join(dropped, Seq("cluster"), "left_outer")
      .select(col("cluster"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cluster")
  }

  /** Embedding near-dup pairs at scale: multi-table random-hyperplane LSH
    * candidate generation + exact fused-cosine verification — the 100 TB
    * replacement for [[embeddingNearDupPairs]]'s all-pairs join.
    *
    * Shape: one corpus scan computes all probe-table keys per vector in a
    * single codegen'd pass ([[graft.plans.RhpTableKeys]]); one shuffle of
    * O(tables x vectors) (table, key) rows forms buckets; pairs are expanded
    * in-bucket (capped, chained — [[bucketPairs]]); candidates only are
    * verified with the codegen'd cosine, with the bounded candidate side
    * broadcast-pinned exactly like the MinHash verification.
    *
    * Recall: a pair at angle theta collides in one table with probability
    * p = (1 - theta/pi)^bitsPerTable and is missed by all tables with
    * probability (1 - p)^tables. At the 8-bit x 16-table defaults that miss
    * probability is ~1.4e-4 at cos 0.95 and ~4e-3 at cos 0.9; fewer bits /
    * more tables buy recall at the price of bigger buckets (more verified
    * candidates). Colinear duplicates (scaled copies, cos = 1) have
    * identical sign bits in EVERY table, so their recall is exactly 1 by
    * construction regardless of parameters.
    */
  /** Stats-driven RHP key width: 2^bits ≈ 4n. For two UNRELATED random
    * vectors (angle near pi/2) a sign bit matches with probability ~1/2, so
    * a table produces ~ C(n,2) * 2^-bits birthday-collision candidates —
    * quadratic in n at any FIXED width, O(n) once 2^bits tracks n. True
    * near-dup recall is unhurt where it matters: colinear copies collide at
    * every width, and the recall-sensitive small-angle regime belongs to the
    * recall-biased default config, not this planning knob. The single
    * count() is an AQE-style planning statistic (at warehouse scale it comes
    * from table stats), not a data collect.
    */
  // cap defaults to the fixed hyperplane pool width: embeddingLshPairs
  // REQUIRES bitsPerTable <= KeyPoolBits, so a cap retuned past the pool
  // would throw at runtime once n grows the stats-driven width there —
  // deriving the default keeps the two knobs one constant (the KtrussK
  // convention)
  def lshKeyBitsFor(n: Long, floor: Int = 12, cap: Int = KeyPoolBits): Int = {
    val bits = 2 + (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
    math.min(cap, math.max(floor, bits))
  }

  /** Fixed hyperplane-pool width per probe table — [[lshKeyBitsFor]]'s cap.
    * Every call evaluates tables × KeyPoolBits sign bits per vector and the
    * bucket key MASKS down to the requested width, so the per-vector key
    * cost is CONSTANT in both n and bitsPerTable. Rationale: rhpPlanes'
    * plane for (table, bit) does not depend on the requested width, so
    * `fullKey & (2^bits − 1)` is bit-identical to computing at that width
    * directly — masking changes cost, never keys. Before this, the
    * stats-driven width made per-vector cost grow ~log n (tables × bits ×
    * dim multiplies): the 10× scale smoke read 12× for 10× vectors —
    * exactly 10 × (18 bits / 14 bits) — a measurement of key arithmetic,
    * not bucket fan-out. At the fixed pool the key stage is flat and only
    * the O(n) scan/shuffle grows.
    */
  private val KeyPoolBits = 24

  def embeddingLshPairs(embs: DataFrame, minCos: Double, dim: Int = 64,
                        bitsPerTable: Int = 8, tables: Int = 16,
                        maxBucket: Int = 1000): DataFrame = {
    require(bitsPerTable >= 1 && bitsPerTable <= KeyPoolBits,
      s"bitsPerTable must be in [1, $KeyPoolBits] (the fixed key pool)")
    // The per-vector norm is computed once in the same single-scan pass as
    // the LSH keys (it rides the materialized frame), so candidate
    // verification below runs the dot-only kernel — bit-identical to the
    // fused cosine, a third of the per-candidate flops.
    val keyed = materialize(embs.select(col("vec_id"), col("embedding"),
      VectorFns.rhpKeys(col("embedding"), dim, KeyPoolBits, tables).as("keys"),
      sqrt(VectorFns.dot(col("embedding"), col("embedding"))).as("nrm")))
    val mask = (1L << bitsPerTable) - 1
    val buckets = keyed
      .select(col("vec_id"), posexplode(col("keys")).as(Seq("tbl", "key")))
      .select(col("vec_id"), col("tbl"),
        col("key").bitwiseAND(lit(mask)).as("key"))
      .groupBy("tbl", "key")
      .agg(array_sort(collect_set(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    // Verification joins carry NO broadcast hint: the candidate side is
    // the FASTER-growing side (bucket-pair volume tracks the key-skew
    // tail, ~Σ|bucket|² — the 10× smoke measured 32× candidates for 10×
    // vectors on this cube corpus), so pinning it as the build side
    // re-broadcast 3.65M rows WITH 64-float vectors attached (~GB) and
    // was the whole 12×-growth signature. Unhinted, AQE builds on the
    // O(corpus) keyed side while it fits (10-15 MB at the smoke's 40k
    // vectors) and degrades to a shuffled join when neither side is
    // broadcastable — the only posture that stays linear at 100×.
    val candM = materialize(bucketPairs(buckets, maxBucket))
    candM
      .join(keyed.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("nrm").as("na")), "a_id")
      .join(keyed.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(VectorFns.dot(col("ea"), col("eb"))
          / (col("na") * col("nb")), 3).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Train/test overlap detection (decontamination): flags every non-test
    * ("train") document sharing at least one word n-gram with a held-out
    * test split — the n-gram decontamination step that keeps benchmark
    * answers out of a training corpus. Returns
    * (doc_id, n_test_docs, n_shared) per contaminated train doc.
    *
    * Scale shape: both sides go through [[shingleHashRows]] — the codegen'd
    * posexplode + window-lead pipeline every dedup operator hashes with —
    * so the join keys on a 64-bit xxhash64, never on shingle STRINGS
    * (string keys cost 23s where hashes cost under a second at sf0.1: wide
    * shuffle rows + interpreted array-lambda shingling), and shingles are
    * distinct-per-doc so one repeated phrase can't multiply join rows.
    * The test side (benchmarks — tiny vs. the corpus) is the natural build
    * side. Hash collisions (~1e-9 at 1e5 distinct shingles) are the same
    * accepted equivalence the Jaccard pipeline runs on.
    */
  /** Blocked fuzzy string matching — the SCALE twin of the exact all-pairs
    * Levenshtein anchor (fn_levenshtein, a 25-row dimension cross; fine
    * there, allowlisted, quadratic anywhere else). Standard blocking:
    * assign every name a block key (prefixLen-char prefix, length DIV
    * lenBand), EQUI-JOIN on the key, and run the O(|a|·|b|) edit-distance
    * DP only within blocks — pair cost drops from n² to Σ per-block².
    *
    * Recall tradeoff, by construction: a pair whose edit sits inside the
    * prefix, or that straddles a length band, never shares a block and is
    * missed — the documented blocking compromise every production fuzzy
    * matcher makes (candidate recall < 1; the exact anchor stays the
    * correctness baseline). Input is a 1-column `name` frame (callers
    * pass a DISTINCT vocabulary — matching runs on the name space, not
    * the row space).
    */
  def fuzzyBlockedPairs(names: DataFrame, prefixLen: Int = 2, lenBand: Int = 8,
                        maxDist: Int = 4): DataFrame = {
    val b = names.select(col("name"),
      substring(col("name"), 1, prefixLen).as("pfx"),
      floor(length(col("name")) / lenBand).as("lb"))
    b.select(col("name").as("a"), col("pfx"), col("lb"))
      .join(b.select(col("name").as("b"), col("pfx"), col("lb")), Seq("pfx", "lb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), levenshtein(col("a"), col("b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  def decontaminate(docs: DataFrame, isTest: Column, n: Int = 8): DataFrame = {
    // isTest is evaluated against DOCS (any docs column works, e.g.
    // col("split") === "test"), then carried to the shingle rows by a
    // doc-keyed join — filtering the shingle frame directly would resolve
    // only for doc_id-derived predicates since it carries (doc_id, hraw)
    val flags = docs.select(col("doc_id"), isTest.as("is_test"))
    val sh = shingleHashRows(docs, n).join(flags, "doc_id")
    val test = sh.filter(col("is_test"))
      .select(col("doc_id").as("test_id"), col("hraw"))
    sh.filter(!col("is_test"))
      .join(test, "hraw")
      .groupBy("doc_id")
      .agg(count_distinct(col("test_id")).as("n_test_docs"),
        count(lit(1)).as("n_shared"))
  }

  /** Exact substring-dedup accounting (Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr variant their strongest results use): per candidate doc
    * pair, the longest TOKEN RUN the two docs share, found by run-length
    * merging consecutive shared spans. Every position-indexed `spanW`-token
    * span (stride 1) is hashed; a span match at (pa, pb) lies on diagonal
    * pa − pb, and k consecutive matches on one diagonal are exactly one
    * shared substring of k + spanW − 1 tokens — so a per-diagonal
    * row_number gap-and-island pass recovers every MAXIMAL shared run
    * without ever materializing substrings. Reported per pair: matched
    * span positions, maximal-run count, and the longest shared run in
    * tokens; pairs clear the report at `minRunTokens` (the paper operates
    * at 50 tokens on web corpora; callers scale the threshold to their
    * doc-length regime).
    *
    * Scale shape: span hashing is a narrow per-doc explode (positions ×
    * codegen'd xxhash64, no shuffle); the pair→span joins are equi-joins
    * keyed on (doc, span-hash); the island window partitions on
    * (pair, diagonal) — bounded by doc length, never corpus-sized. Join
    * volume is candidate-bounded: `pairs` comes from a banded/bucketed
    * generator (MinHash LSH, shingle stats), never all-pairs. Spark joins
    * 8-byte span hashes while the oracle joins span STRINGS — the same
    * accepted hash-collision equivalence as [[decontaminate]].
    */
  /** Position-indexed span matches (a_id, b_id, pa, pb) between candidate
    * pair docs — the shared frame under [[substringRuns]] (per-pair run
    * report) and [[substringRunCoverage]] (corpus savings rollup). One
    * narrow span-hash explode per doc, two equi-joins keyed on
    * (doc, span-hash).
    */
  private def spanMatches(docs: DataFrame, pairs: DataFrame,
                          spanW: Int): DataFrame = {
    // spread: per-position slice+join+hash over every doc otherwise runs
    // in the single-partition scan stage (see Tables.spread)
    // codegen'd span-hash kernel — bit-identical to the interpreted
    // transform(sequence, i -> xxhash64(array_join(slice(t, i, w), " ")))
    // form, element p0 = window starting at token p0+1 (see
    // plans.TokenSpanHashes)
    val spans = graft.Tables.spread(docs)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= spanW)
      .select(col("doc_id"),
        posexplode(graft.plans.StringExpressions.tokenSpanHashes(col("t"), spanW))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))
    pairs.select(col("a_id"), col("b_id"))
      .join(spans.select(col("doc_id").as("a_id"), col("p").as("pa"), col("h")),
        "a_id")
      .join(spans.select(col("doc_id").as("b_id"), col("p").as("pb"), col("h")),
        Seq("b_id", "h"))
      .select(col("a_id"), col("b_id"), col("pa"), col("pb"))
  }

  def substringRuns(docs: DataFrame, pairs: DataFrame, spanW: Int = 4,
                    minRunTokens: Int = 20): DataFrame = {
    require(spanW >= 1 && minRunTokens >= spanW,
      s"need minRunTokens >= spanW >= 1, got spanW=$spanW minRunTokens=$minRunTokens")
    // materialized: TWO consumers (the run census and the matched-span
    // count) would otherwise each re-run the span-hash joins — the
    // dominant stage per the scale-shape note above
    val m = materialize(spanMatches(docs, pairs, spanW))
    val byDiag = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    val runs = m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("rid", col("pa") - row_number().over(byDiag))
      .groupBy("a_id", "b_id", "diag", "rid")
      .agg(count(lit(1)).as("len"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_runs"),
        (max(col("len")) + lit(spanW - 1)).as("longest_run_tokens"))
    val res = materialize(
      m.groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared_spans"))
        .join(runs, Seq("a_id", "b_id"))
        .filter(col("longest_run_tokens") >= minRunTokens)
        .select(col("a_id"), col("b_id"), col("n_shared_spans"),
          col("n_runs"), col("longest_run_tokens"))
        .orderBy("a_id", "b_id"))
    release(m)
    res
  }

  /** Corpus-level substring-dedup savings (the Lee et al. 2021 accounting
    * panel next to [[substringRuns]]'s per-pair verdicts): how many tokens
    * sit inside a shared run of >= `minRunTokens` — the upper bound on
    * what an ExactSubstr pass would remove — rolled up per source. A
    * token position counts when it is covered by ANY qualifying run on
    * EITHER side of any candidate pair (both directions: doc a's
    * positions pa..pa+spanW−1, doc b's pb..pb+spanW−1), with overlapping
    * runs unioned exactly by exploding covered positions to a DISTINCT
    * (doc, position) set — interval union as set semantics, no sweep-line
    * state. Returns per source: docs, docs with a qualifying run, total
    * tokens, covered tokens, and coverage in basis points.
    *
    * Scale shape: [[spanMatches]] plus one windowed run-length count over
    * (pair, diagonal) partitions, a bounded spanW-fold position explode on
    * qualifying match rows only, and two keyed aggregates — candidate-
    * bounded throughout, like the run report.
    */
  def substringRunCoverage(docs: DataFrame, pairs: DataFrame, spanW: Int = 4,
                           minRunTokens: Int = 20): DataFrame = {
    require(spanW >= 1 && minRunTokens >= spanW,
      s"need minRunTokens >= spanW >= 1, got spanW=$spanW minRunTokens=$minRunTokens")
    val byDiag = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    val run = Window.partitionBy("a_id", "b_id", "diag", "rid")
    // materialized: the two explode branches of the position union each
    // consume it — unmaterialized, the span joins + island windows would
    // execute twice
    val qual = materialize(spanMatches(docs, pairs, spanW)
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("rid", col("pa") - row_number().over(byDiag))
      .withColumn("len", count(lit(1)).over(run))
      .filter(col("len") + lit(spanW - 1) >= minRunTokens))
    val covered = qual
      .select(col("a_id").as("doc_id"), explode(sequence(col("pa"),
        col("pa") + lit(spanW - 1))).as("pos"))
      .unionAll(qual.select(col("b_id").as("doc_id"),
        explode(sequence(col("pb"), col("pb") + lit(spanW - 1))).as("pos")))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("cov"))
    val res = materialize(
      docs.select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("nt"))
        .join(covered, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cov").isNotNull.cast("bigint")).as("n_dup_docs"),
          sum(col("nt")).as("tokens_total"),
          sum(coalesce(col("cov"), lit(0L))).as("tokens_in_runs"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          col("tokens_total"), col("tokens_in_runs"),
          // greatest(.., 1): a source whose docs all tokenize empty must
          // read 0 bp in BOTH engines — unguarded, Spark's `div` returns
          // NULL while DuckDB's `//` raises Division by error, so the
          // engines diverge on degenerate input (the oracle states the
          // same guard)
          expr("(tokens_in_runs * 10000) div greatest(tokens_total, 1)")
            .as("dup_bp"))
        .orderBy("source"))
    release(qual)
    res
  }

  /** The ExactSubstr REMOVAL transform (Lee et al. 2021 §4 — the output a
    * dedup pipeline actually ships, where [[substringRuns]] and
    * [[substringRunCoverage]] are its accounting panels): emit the
    * deduplicated corpus. For every maximal shared token run of
    * >= `minRunTokens` between a candidate pair, the canonical copy — the
    * MIN-doc_id side, matching the `a_id < b_id` orientation of every pair
    * generator here — survives and the other side's covered positions are
    * cut; overlapping runs on one doc union exactly (a position is cut
    * once no matter how many runs cover it, via a DISTINCT (doc, pos) cut
    * set). Returns one row per input doc: doc_id, tokens_before,
    * tokens_kept, and the reassembled deduplicated text (kept tokens in
    * original order, single-space joined) — docs with no qualifying run
    * pass through verbatim at the token level.
    *
    * Scale shape: [[spanMatches]] + the per-(pair, diagonal) island window
    * as in the accounting queries; the cut set explodes spanW positions on
    * QUALIFYING b-side match rows only, then collapses to one sorted
    * per-doc cut array (bounded by doc length). Reassembly is a LEFT join
    * of the corpus scan against that (dup docs only) cut table followed by
    * a per-row higher-order `filter` over the token array — no corpus-wide
    * position explode, no shuffle beyond the keyed join. The cut is
    * position-exact but token-granular: Spark filters array slots while
    * the oracle replays the identical slot arithmetic on unnested
    * positions.
    */
  def substringApply(docs: DataFrame, pairs: DataFrame, spanW: Int = 4,
                     minRunTokens: Int = 20): DataFrame = {
    require(spanW >= 1 && minRunTokens >= spanW,
      s"need minRunTokens >= spanW >= 1, got spanW=$spanW minRunTokens=$minRunTokens")
    val byDiag = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    val run = Window.partitionBy("a_id", "b_id", "diag", "rid")
    val qual = materialize(spanMatches(docs, pairs, spanW)
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("rid", col("pa") - row_number().over(byDiag))
      .withColumn("len", count(lit(1)).over(run))
      .filter(col("len") + lit(spanW - 1) >= minRunTokens))
    // cut ONLY the non-canonical (b = larger doc_id) side: the min-id doc
    // of each run is the surviving canonical copy
    val cuts = qual
      .select(col("b_id").as("doc_id"),
        explode(sequence(col("pb"), col("pb") + lit(spanW - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("cut"))
    val res = materialize(docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("tokens_before"),
        when(col("cut").isNull, col("t"))
          .otherwise(filter(col("t"), (_, i) =>
            !array_contains(col("cut"), i + lit(1)))).as("kept"))
      .select(col("doc_id"), col("tokens_before"),
        size(col("kept")).cast("long").as("tokens_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
      .orderBy("doc_id"))
    release(qual)
    res
  }

  /** Content-defined chunking dedup (Rabin/FastCDC family): a boundary is
    * cut after every position whose trailing w-char window hashes to
    * 0 mod `modulus` ([[graft.plans.VectorExpressions.polyHash31]] — the
    * same SQL-replayable positional polynomial the SimHash oracle gates),
    * so chunk boundaries depend only on LOCAL content and re-align after
    * insertions — the dedup granularity that catches shared passages
    * exact-hash and shingle dedup both miss (exact needs whole-doc
    * equality, shingles need pair enumeration). Expected chunk length is
    * `modulus` chars; the final chunk of each doc ends at the text end.
    * (Production CDC adds min/max chunk bounds against degenerate runs;
    * the word-salad corpus has no such runs, and bounds would only add
    * two more comparisons to the same plan.)
    *
    * Reported corpus-wide, all exact integers: chunk count, distinct
    * chunks, duplicate groups, reclaimable duplicate bytes
    * (Σ (copies−1)·len), and mean chunk length ×100.
    *
    * Shape at 100 TB: the boundary scan is a narrow per-doc explode
    * (positions × O(1) codegen'd hash, no shuffle), chunk assembly is one
    * per-doc window (partitioned by doc_id, partitions bounded by doc
    * length / modulus), and the dedup rollup is one groupBy on the chunk
    * key — the same explode+groupBy scaling as the shingle pipelines. At
    * production scale the groupBy key would be an 8-byte chunk hash, not
    * the chunk text; the text key here keeps the oracle mechanism-free.
    */
  def cdcChunkStats(docs: DataFrame, w: Int = 16, modulus: Int = 64): DataFrame = {
    require(w >= 2 && w <= 64, s"window $w outside pow31 range")
    require(modulus >= 2, s"bad modulus $modulus")
    // spread: the per-CHARACTER rolling-hash explode below otherwise runs
    // in the single-partition scan stage (see Tables.spread)
    val base = graft.Tables.spread(docs).filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"))
    // Docs shorter than the window cannot host an interior boundary; they
    // still emit their whole-doc chunk through the end-of-text boundary.
    val pos = base.filter(length(col("text")) >= w)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(w), length(col("text")))).as("i"))
    val bounds = pos
      .filter(pmod(graft.plans.VectorExpressions.polyHash31(
        expr(s"substring(text, i - ${w - 1}, $w)")), lit(modulus.toLong)) === 0)
      .select(col("doc_id"), col("i"))
    val allBounds = bounds
      .union(base.select(col("doc_id"), length(col("text")).as("i")))
      .distinct()
    val ws = Window.partitionBy("doc_id").orderBy("i")
    val chunks = allBounds
      .select(col("doc_id"), col("i"),
        (coalesce(lag(col("i"), 1).over(ws), lit(0)) + 1).as("st"))
      .join(base, "doc_id")
      .select(expr("substring(text, st, i - st + 1)").as("chunk"))
    chunks.groupBy("chunk").agg(count(lit(1)).as("copies"))
      .agg(
        sum(col("copies")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum((col("copies") - 1) * length(col("chunk")).cast("long")).as("dup_bytes"),
        expr("(100 * sum(copies * CAST(length(chunk) AS BIGINT))) div sum(copies)")
          .as("avg_len_x100"))
  }

  /** Onion-style block dedup report (Pomikálek 2011, "onion" — Removing
    * boilerplate and duplicate content from web corpora, ch. 5): cut each
    * document into NON-overlapping `blockW`-token blocks, count how many
    * of a document's blocks also occur in at least one OTHER document
    * anywhere in the corpus, and drop documents whose duplicate-block
    * ratio reaches `dropBp` basis points. This is the corpus-GLOBAL
    * complement of the candidate-pair span machinery ([[spanMatches]] /
    * [[substringRuns]]): no pair generation at all — a block's dup status
    * comes from one frequency table — so it catches the document whose
    * content is stitched from MANY sources, which never forms a strong
    * pairwise candidate with any single one of them.
    *
    * Returns one row per source: docs with >= 1 full block, total blocks,
    * cross-doc duplicate blocks, docs dropped by the threshold, and the
    * drop rate in bp.
    *
    * Scale shape: explode to ~tokens/blockW block rows, ONE groupBy on the
    * 64-bit block hash (map-side combined) for the frequency table, one
    * hash-keyed join back, two keyed rollups — O(corpus tokens) with no
    * quadratic step anywhere. The frequency join is hash-to-hash; the
    * oracle joins block STRINGS instead (the decontaminate equivalence).
    * Within-doc repeats deliberately do NOT count as duplicates (ndocs
    * counts DISTINCT docs): self-repetition is tx_repetition's subject —
    * conflating it here would let one boilerplate-heavy doc drop itself.
    */
  def onionReport(docs: DataFrame, blockW: Int = 8, dropBp: Int = 5000): DataFrame = {
    require(blockW >= 1 && dropBp >= 0 && dropBp <= 10000,
      s"bad onion params blockW=$blockW dropBp=$dropBp")
    // spread: tokenize + per-block hash otherwise run in the
    // single-partition scan stage (see Tables.spread)
    val blocks = materialize(graft.Tables.spread(docs)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("t"))
      .withColumn("nt", size(col("t")))
      .filter(col("nt") >= blockW)
      .select(col("doc_id"), col("source"),
        explode(expr(s"transform(sequence(0, nt div $blockW - 1), " +
          s"g -> xxhash64(array_join(slice(t, g * $blockW + 1, $blockW), ' ')))"))
          .as("bh")))
    val freq = blocks.groupBy("bh")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val per = blocks.join(freq, "bh")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_bp", expr("(n_dup_blocks * 10000) div n_blocks"))
    // blocks is materialized because the plan consumes it TWICE (frequency
    // table + join-back); the source-rollup result is materialized so the
    // block frame can be released before returning (substringRunCoverage's
    // lifecycle)
    val res = materialize(per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_blocks")).as("n_blocks"),
        sum(col("n_dup_blocks")).as("n_dup_blocks"),
        sum(when(col("dup_bp") >= dropBp, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_blocks"),
        col("n_dup_blocks"), col("n_dropped"),
        expr("(n_dropped * 10000) div n_docs").as("drop_bp"))
      .orderBy("source"))
    release(blocks)
    res
  }
}
