package graft.operators

import graft.functions.TextFns
import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second curation/layout inventory page: web-corpus URL dedup, mixture
  * planning, PQ serving, audio pitch, layout compaction/partition planning,
  * HITS scoring, masking, and watermark sizing — the operational queries a
  * training-data pipeline runs AROUND the core dedup/similarity batteries
  * in [[PipelineQueries]]. Same QueryDef contract: Spark plan + DuckDB
  * oracle side by side, deterministic ORDER BY, exact-integer or
  * quantized-far-from-noise outputs.
  */
object CurationQueries {

  private def T(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** x^b for a power-of-two b as an explicit repeated-squaring SQL
    * expression — ((x·x)·(x·x))·… — so both engines evaluate the IDENTICAL
    * multiplication tree. Multiplication is IEEE-exact-rounded, so given
    * bit-identical inputs the result is bit-identical WITHOUT any libm
    * pow() (whose last ulp is engine lore). Shared by the Spark plan and
    * the oracle of dd_lsh_tuning.
    */
  private def sqPowSql(base: String, b: Int): String = {
    require(b > 0 && (b & (b - 1)) == 0, s"b must be a power of two, got $b")
    var e = base
    var k = 1
    while (k < b) { e = s"($e * $e)"; k *= 2 }
    e
  }

  /** Parameters shared between a Spark plan and its generated oracle SQL —
    * the SINGLE source each pair derives from, so retuning one cannot
    * silently stale the other (the dd_simhash_bits lesson from round 6).
    */
  private val UrlPathMod = 25       // dd_url_dedup: docs per canonical path
  private val PitchMinLag = 2       // mm_wav_pitch lag search range
  private val PitchMaxLag = 16
  private val CompactFileKeys = 250 // rel_compaction_plan: orderkeys per file
  private val CompactTargetRows = 5000 // rel_compaction_plan: rows per bin
  private val HitsIters = 5         // gr_hits power-iteration rounds
  private val BpeRounds = 5         // tx_bpe_* learned merges
  private val BpeVocab = 200        // tx_bpe_* training vocabulary size
  private val SpanW = 4             // tx_span_dedup: tokens per span
  private val SpanMinDocs = 2       // tx_span_dedup: boilerplate doc threshold

  /** The BpeRounds-round BPE merge-learning loop shared by tx_bpe_merges (reports
    * the merge table) and tx_bpe_apply (applies it to the corpus): returns
    * the 5-row (round, pair, support) frame. Fully declarative — each
    * round's winning pair is a 1-row aggregate broadcast back into the
    * next round's symbol rewrite (the k-means-centroid shape, no
    * driver-side collect); per-round materialize+release keeps the plan
    * O(1) deep over the 200-word training vocabulary.
    */
  private def bpeMergesFrame(s: SparkSession, d: String) =
    bpeMergesFromDocs(T(s, d, "documents"))

  private[graft] def bpeMergesFromDocs(docs: org.apache.spark.sql.DataFrame) = {
    // top-BpeVocab pick is orderBy.limit — TakeOrderedAndProject, a
    // distributed per-partition top-k + driver merge of k-row partials;
    // the previous row_number over an unpartitioned Window funneled the
    // full distinct-token table (billions of rows at web-corpus scale)
    // through one window task (r7 What's-wrong #1)
    var syms = Dedup.materialize(
      TextAnalysis.wordCount(docs)
        .orderBy(col("cnt").desc, col("word"))
        .limit(BpeVocab)
        .select(col("word"), col("cnt"),
          expr("concat(' ', array_join(transform(sequence(1, length(word)), " +
            "i -> substr(word, i, 1)), ' '), ' ')").as("sym")))
    var merges: org.apache.spark.sql.DataFrame = null
    for (r <- 1 to BpeRounds) {
      val pc = syms
        .withColumn("tk", expr("filter(split(sym, ' '), x -> length(x) > 0)"))
        .filter(size(col("tk")) >= 2)
        .select(col("cnt"), explode(expr(
          "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("support"))
      val best = pc
        .agg(min(struct((-col("support")).as("ns"), col("pair").as("p"))).as("b"))
        .select(lit(r).as("round"), col("b.p").as("pair"),
          (-col("b.ns")).as("support"))
        // a degenerate corpus can run out of adjacent pairs before the
        // last round (every word already one symbol) — the aggregate then
        // yields one all-null row; drop it so the merge table simply ends
        // early, exactly like the reference algorithm (BpePropertySpec
        // pins this on an all-"aaaa" corpus)
        .filter(col("pair").isNotNull)
      merges = if (merges == null) best else merges.unionAll(best)
      val next = Dedup.materialize(
        syms.crossJoin(broadcast(best.select(col("pair").as("mp"))))
          .withColumn("sym", expr(
            "replace(sym, concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' '))"))
          .drop("mp"))
      Dedup.release(syms)
      syms = next
    }
    Dedup.release(syms) // merges are 1-row aggregates, already computed per round
    merges
  }

  /** The oracle-side twin of [[bpeMergesFrame]]: WITH-chain ending in
    * MATERIALIZED CTEs m1..m5 (per-round winning pair) and w5 (the
    * rewritten training vocabulary) — both BPE oracles append their own
    * final SELECT to this shared learning replay.
    */
  private def bpeOracleCtes: String = {
    val tk = TextFns.tokensSqlDuckDB("text")
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS support FROM (
         |  SELECT cnt, unnest(list_transform(generate_series(1, len(tk) - 1),
         |           i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM (SELECT cnt, list_filter(string_split(sym, ' '),
         |                x -> length(x) > 0) AS tk
         |        FROM w${r - 1}) q WHERE len(tk) >= 2) t GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT $r AS round,
         |        (min({'ns': -support, 'p': pair})).p AS pair,
         |        -(min({'ns': -support, 'p': pair})).ns AS support FROM p$r),
         |w$r AS MATERIALIZED (SELECT word, cnt,
         |        replace(sym, ' ' || m$r.pair || ' ',
         |                ' ' || replace(m$r.pair, ' ', '') || ' ') AS sym
         |      FROM w${r - 1}, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT unnest($tk) AS word FROM documents),
       |wc AS (SELECT word, count(*) AS cnt FROM toks
       |       WHERE length(word) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT word, cnt,
       |  ' ' || array_to_string(list_transform(generate_series(1, length(word)),
       |           i -> substr(word, i, 1)), ' ') || ' ' AS sym
       |  FROM (SELECT word, cnt,
       |          row_number() OVER (ORDER BY cnt DESC, word) AS rn FROM wc)
       |  WHERE rn <= $BpeVocab),
       |$rounds""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // URL-keyed dedup — the FIRST dedup pass every web corpus runs (before
    // any content hashing): canonicalize the crawl URL (case, default
    // port, tracking params, param order, fragment, trailing slash) and
    // keep the best-covered fetch per canonical URL (longest text, min
    // doc_id on ties). Messiness is injected deterministically from
    // doc_id (same scheme as fn_url_canonical, but keyed on doc_id % 25
    // so canonical groups actually collide: ~5 docs per URL per source at
    // sf0.01); the oracle states the canonical value closed-form and
    // replays the keeper argmax. Scale shape: one string-normalize
    // projection + one groupBy(canonical) — linear, no joins.
    QueryDef("dd_url_dedup",
      (s, d) => {
        val messy = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
          lit(".EXAMPLE.com:443/docs/"), col("doc_id") % UrlPathMod,
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&page="), col("doc_id") % UrlPathMod, lit("&b=2&a=1"),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
        val noFrag = regexp_replace(messy, "#.*$", "")
        val host = lower(parse_url(noFrag, lit("HOST")))
        val path = regexp_replace(parse_url(noFrag, lit("PATH")), "/$", "")
        val canonQ = concat_ws("&",
          array_sort(filter(split(parse_url(noFrag, lit("QUERY")), "&"),
            p => !p.startsWith("utm_"))))
        T(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            concat(lit("https://"), host, path,
              when(length(canonQ) > 0, concat(lit("?"), canonQ)).otherwise(lit("")))
              .as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"),
              col("doc_id").as("kid"))).as("best"))
          .select(col("canonical_url"), col("n_docs"),
            col("best.kid").as("keeper_id"), col("best.n_chars").as("keeper_chars"))
          .orderBy("canonical_url")
      },
      Some(s"""WITH c AS (SELECT doc_id, n_chars,
             |  'https://' || lower(source) || '.example.com/docs/' || (doc_id % $UrlPathMod) ||
             |  '?a=1&b=2&page=' || (doc_id % $UrlPathMod) AS canonical_url
             |  FROM documents)
             |SELECT canonical_url, count(*) AS n_docs,
             |       (max({'c': n_chars, 'n': -doc_id, 'id': doc_id})).id AS keeper_id,
             |       (max({'c': n_chars, 'n': -doc_id, 'id': doc_id})).c AS keeper_chars
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Temperature-scaled domain mixture — the data-recipe step that turns
    // per-domain token counts into sampling weights w_i ∝ n_i^α (α = 0.5
    // here: the standard up-weight-the-tail exponent between proportional
    // α=1 and uniform α=0). Determinism: n^0.5 is sqrt, the ONE
    // transcendental-free power — IEEE 754 requires sqrt correctly
    // rounded, so both engines produce the identical double from the same
    // integer, and one floor quantization to a BIGINT micro-weight makes
    // the shares exact integer arithmetic end to end (the ts_cusum /
    // rel_benford idiom; a general α would go through exp/ln and need a
    // tolerance gate instead). Two aggregates, O(domains) output.
    QueryDef("tx_domain_mixture",
      (s, d) => {
        val g = T(s, d, "documents")
          .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
          .withColumn("sqrt_weight_q",
            floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)).cast("long"))
        val tot = broadcast(g.agg(sum(col("sqrt_weight_q")).as("tot")))
        g.crossJoin(tot)
          .select(col("source"), col("n_docs"), col("n_tokens"), col("sqrt_weight_q"),
            expr("(sqrt_weight_q * 10000) div tot").as("share_bp"))
          .orderBy("source")
      },
      Some(s"""WITH tt AS (SELECT source,
             |  CAST(len(${TextFns.tokensSqlDuckDB("text")}) AS BIGINT) AS ntok
             |  FROM documents),
             |g AS (SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
             |      FROM tt GROUP BY 1),
             |q AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
             |               AS sqrt_weight_q FROM g),
             |t AS (SELECT CAST(sum(sqrt_weight_q) AS BIGINT) AS tot FROM q)
             |SELECT source, n_docs, n_tokens, sqrt_weight_q,
             |       (sqrt_weight_q * 10000) // tot AS share_bp
             |FROM q, t ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Autocorrelation pitch per audio clip (Multimodal.wavAutocorrPitch):
    // REAL WAV decode, then argmax_{lag∈[2,16]} Σ v[i]·v[i+lag] in pure
    // Long arithmetic — every product of 16-bit samples is exact, so the
    // winning lag hash-matches the DuckDB replay of the synth closed form
    // (v_i = (doc_id·131 + i·17) % 2001 − 1000). One partition-local
    // decode+score pass, one row per clip, no shuffle.
    QueryDef("mm_wav_pitch",
      (s, d) => Multimodal.wavAutocorrPitch(
          Multimodal.withSynthPayload(T(s, d, "documents").select("doc_id"),
            Multimodal.synthWav), minLag = PitchMinLag, maxLag = PitchMaxLag)
        .select(col("doc_id"), col("n_samples").cast("bigint").as("n_samples"),
          col("r0"), col("best_lag").cast("bigint").as("best_lag"), col("best_r"))
        .orderBy("doc_id"),
      Some(s"""WITH s AS (SELECT doc_id, 64 + doc_id % 50 AS n FROM documents),
             |i AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM s),
             |v AS (SELECT doc_id, n, i,
             |             CAST((doc_id * 131 + i * 17) % 2001 - 1000 AS BIGINT) AS v
             |      FROM i),
             |r0 AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
             |              CAST(sum(v * v) AS BIGINT) AS r0
             |       FROM v GROUP BY 1),
             |l AS (SELECT doc_id, unnest(generate_series($PitchMinLag, $PitchMaxLag)) AS lag FROM documents),
             |r AS (SELECT a.doc_id, l.lag, CAST(sum(a.v * b.v) AS BIGINT) AS r
             |      FROM l JOIN v a ON a.doc_id = l.doc_id
             |             JOIN v b ON b.doc_id = a.doc_id AND b.i = a.i + l.lag
             |      GROUP BY 1, 2),
             |best AS (SELECT doc_id,
             |           CAST((max({'r': r, 'nl': -lag, 'lag': lag})).lag AS BIGINT) AS best_lag,
             |           (max({'r': r, 'nl': -lag, 'lag': lag})).r AS best_r
             |         FROM r GROUP BY 1)
             |SELECT r0.doc_id, r0.n_samples, r0.r0, best.best_lag, best.best_r
             |FROM r0 JOIN best USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // PQ asymmetric-distance (ADC) top-k — how an IVFPQ index serves a
    // query: the query stays exact, the corpus is its per-subspace codes,
    // and the scan cost per (vector, subspace) is one integer lookup into
    // a broadcast (subspace × codebook) distance table (never the raw
    // vectors — at 100 TB the code table is dim/subDim bytes per vector
    // instead of 4·dim, which is the point of PQ). sim_pq_encode gates the
    // codebook/assignment mechanism; this gates the SERVING path. The
    // oracle replays the same quantized pipeline, so the approximation is
    // shared, not forgiven.
    QueryDef("sim_pq_adc",
      (s, d) => Similarity.pqAdcTopK(T(s, d, "embeddings"),
        queryId = 0L, k = 10, subDim = 16),
      Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
             |                   unnest(generate_series(1, len(embedding))) AS i
             |            FROM embeddings),
             |e2 AS (SELECT vec_id, label, x, i, CAST((i - 1) // 16 AS BIGINT) AS ss FROM ex),
             |cent AS (SELECT label AS c_label, ss, i, avg(x) AS cx FROM e2 GROUP BY 1, 2, 3),
             |dd AS (SELECT e2.vec_id, e2.ss, cent.c_label,
             |              sum((e2.x - cent.cx) * (e2.x - cent.cx)) AS d2
             |       FROM e2 JOIN cent ON e2.i = cent.i AND e2.ss = cent.ss
             |       GROUP BY 1, 2, 3),
             |codes AS (SELECT vec_id, ss, (min({'d2': d2, 'c': c_label})).c AS code
             |          FROM dd GROUP BY 1, 2),
             |dt AS (SELECT ss, c_label AS code, d2 AS dq FROM dd WHERE vec_id = 0)
             |SELECT codes.vec_id, round(sum(dt.dq), 3) AS adc_d2
             |FROM codes JOIN dt ON dt.ss = codes.ss AND dt.code = codes.code
             |WHERE codes.vec_id <> 0
             |GROUP BY 1 ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // Small-file compaction plan — the table-maintenance OPTIMIZE step: a
    // file listing (simulated as l_orderkey div 250 row-groups) is walked
    // in key order and split at cumulative-row boundaries into target-
    // sized output bins (cum_prev div target = the standard sorted
    // bin-boundary plan; bins preserve key order so downstream range
    // pruning survives compaction). The cumulative window runs over FILE
    // METADATA — O(corpus / file size) rows, the same bounded-spine
    // argument as tx_zipf's vocabulary window; the plan itself never
    // touches data rows. Output: one row per planned output file.
    QueryDef("rel_compaction_plan",
      (s, d) => {
        val files = T(s, d, "lineitem")
          .groupBy(expr(s"l_orderkey div $CompactFileKeys").as("file_id"))
          .agg(count(lit(1)).as("n_rows"))
        val w = Window.orderBy("file_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        files
          .withColumn("cum_prev", coalesce(sum(col("n_rows")).over(w), lit(0L)))
          .withColumn("bin", expr(s"cum_prev div $CompactTargetRows"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("total_rows"),
            min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
          .orderBy("bin")
      },
      Some(s"""WITH f AS (SELECT l_orderkey // $CompactFileKeys AS file_id, count(*) AS n_rows
             |           FROM lineitem GROUP BY 1),
             |c AS (SELECT file_id, n_rows,
             |             CAST(coalesce(sum(n_rows) OVER (ORDER BY file_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |               AS BIGINT) AS cum_prev
             |      FROM f)
             |SELECT cum_prev // $CompactTargetRows AS bin, count(*) AS n_files,
             |       CAST(sum(n_rows) AS BIGINT) AS total_rows,
             |       min(file_id) AS first_file, max(file_id) AS last_file
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Date-partition sizing advisor — the WRITE-side layout twin of
    // rel_compaction_plan (that one merges small files; this one splits
    // hot partitions): per ingest day, event volume, recommended file
    // split count at a 2000-rows/file target (exact ceiling division),
    // and the day's volume skew vs. the mean day in basis points. All
    // integer arithmetic over an O(days) aggregate.
    QueryDef("rel_partition_advisor",
      (s, d) => {
        val g = T(s, d, "events")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_events"))
        val tot = broadcast(g.agg(sum(col("n_events")).as("tot"),
          count(lit(1)).as("n_days")))
        g.crossJoin(tot)
          .select(col("day"), col("n_events"),
            expr("(n_events + 1999) div 2000").as("n_splits"),
            expr("(n_events * 10000 * n_days) div tot").as("vs_mean_bp"))
          .orderBy("day")
      },
      Some("""WITH g AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |                  count(*) AS n_events
             |           FROM events GROUP BY 1),
             |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot, count(*) AS n_days FROM g)
             |SELECT day, n_events, (n_events + 1999) // 2000 AS n_splits,
             |       (n_events * 10000 * n_days) // tot AS vs_mean_bp
             |FROM g, t ORDER BY day""".stripMargin)),

    // ------------------------------------------------------------------
    // HITS hubs & authorities over the near-dup graph oriented
    // later→earlier (src = the copying doc, dst = the copied original):
    // 5 un-normalized integer power-iteration rounds (see Graph.hits for
    // why integer + one terminal quantized division beats per-round L2
    // normalization under a hash gate), replayed by the oracle as an
    // unrolled MATERIALIZED CTE chain — the gr_kcore/gr_pagerank idiom.
    QueryDef("gr_hits",
      (s, d) => Graph.hits(
          Dedup.jaccardFromStats(PipelineQueries.pairStats(s, d), minJ = 0.8)
            .select(col("b_id").as("src"), col("a_id").as("dst")),
          iters = HitsIters)
        .orderBy("id"),
      Some {
        val rounds = (1 to HitsIters).map { r =>
          s"""a$r AS MATERIALIZED (SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS a
             |  FROM n LEFT JOIN (SELECT dst AS id, sum(h) AS v
             |                    FROM e JOIN h${r - 1} ON h${r - 1}.id = e.src
             |                    GROUP BY 1) s USING (id)),
             |h$r AS MATERIALIZED (SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS h
             |  FROM n LEFT JOIN (SELECT src AS id, sum(a) AS v
             |                    FROM e JOIN a$r ON a$r.id = e.dst
             |                    GROUP BY 1) s USING (id))""".stripMargin
        }.mkString(",\n")
        s"""WITH ${PipelineQueries.jaccardCtes},
           |prs AS (SELECT a_id, b_id FROM inter
           |        JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
           |        WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8),
           |e AS MATERIALIZED (SELECT b_id AS src, a_id AS dst FROM prs),
           |n AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM n),
           |$rounds,
           |mx AS (SELECT max(h) AS mh, max(a) AS ma
           |       FROM h$HitsIters JOIN a$HitsIters USING (id))
           |SELECT h$HitsIters.id, h$HitsIters.h AS hub, a$HitsIters.a AS auth,
           |       (h$HitsIters.h * 10000) // greatest(mx.mh, 1) AS hub_bp,
           |       (a$HitsIters.a * 10000) // greatest(mx.ma, 1) AS auth_bp
           |FROM h$HitsIters JOIN a$HitsIters USING (id), mx ORDER BY id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Data masking battery: Spark's codegen'd mask() in default and
    // custom-replacement forms over a mixed-case/digit surrogate built
    // from real columns — the PII-desensitization sibling of
    // tx_pii_redact (that one finds and strips structured PII; this one
    // shape-preserves everything for test-data generation). The oracle
    // replays mask() as ordered regexp_replace chains (custom form
    // replaces the OTHER class first so injected replacement chars are
    // never re-matched). ASCII corpus by construction (TextFns scope note).
    QueryDef("fn_mask",
      (s, d) => {
        val raw = concat(upper(substring(col("source"), 1, 3)), lit("-"),
          col("lang"), lit("-"), col("doc_id"), lit(":"),
          substring(col("text"), 1, 24))
        T(s, d, "documents")
          .select(col("doc_id"), raw.as("raw"), mask(raw).as("masked"),
            mask(raw, lit("#"), lit("."), lit("0"), lit("_")).as("masked_custom"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (SELECT doc_id,
             |  upper(substr(source, 1, 3)) || '-' || lang || '-' || doc_id || ':' ||
             |  substr(text, 1, 24) AS raw FROM documents)
             |SELECT doc_id, raw,
             |  regexp_replace(regexp_replace(regexp_replace(raw,
             |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked,
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
             |    '[^A-Za-z0-9]', '_', 'g'),
             |    '[A-Z]', '#', 'g'), '[a-z]', '.', 'g'), '[0-9]', '0', 'g') AS masked_custom
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Watermark-delay sizing: the out-of-orderness histogram every
    // streaming deployment measures BEFORE choosing withWatermark(δ) —
    // each event's lateness vs. the running max EVENT-time among events
    // that ARRIVED before it, bucketed to minutes; pick δ at the bucket
    // covering your completeness target. The source table is perfectly
    // ordered (it is a synthetic log), so arrival time is simulated as
    // ts + a deterministic 0–10-minute delivery jitter hashed from
    // event_id — the standard replay-harness move for sizing a watermark
    // before the real (disordered) feed exists. The window is partitioned
    // by the stream's key (user), never global; all arithmetic is exact
    // integer seconds. ts_interarrival profiles event-time gaps; this
    // profiles arrival-vs-event-time disorder — the axis watermarks
    // actually care about.
    QueryDef("ts_watermark_lateness",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("arr_s", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("ts_s"))
          .withColumn("arr_s", col("ts_s") + (col("event_id") * 7919) % 600)
          .withColumn("prev_max", max(col("ts_s")).over(w))
          .select(
            expr("greatest(coalesce(prev_max - ts_s, 0), 0) div 60").as("late_min"))
          .groupBy("late_min").agg(count(lit(1)).as("n_events"))
          .orderBy("late_min")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
             |           FROM events),
             |x AS (SELECT user_id, event_id, ts_s,
             |             ts_s + (event_id * 7919) % 600 AS arr_s FROM e),
             |p AS (SELECT ts_s,
             |             max(ts_s) OVER (PARTITION BY user_id ORDER BY arr_s, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |      FROM x)
             |SELECT greatest(coalesce(prev_max - ts_s, 0), 0) // 60 AS late_min,
             |       count(*) AS n_events
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // BPE merge learning — 5 rounds of the actual tokenizer-training
    // loop: count adjacent symbol pairs across the (vocabulary-sized)
    // word-frequency table, adopt the most frequent pair as a merge, apply
    // it, repeat. Fully declarative: each round's winning pair is a 1-row
    // aggregate joined back (broadcast) into the next round's symbol
    // rewrite — no driver-side collect, the same shape as broadcasting
    // k-means centroids. Symbols live as space-delimited strings and the
    // merge is one string replace(); replace() scans left-to-right
    // non-overlapping in BOTH engines, so outputs are identical (on odd
    // runs like "a a a" this merges ⌈run/2⌉−1 of the pairs where
    // canonical BPE merges ⌈run/2⌉ — a documented, deterministic variant).
    // Scale shape: BPE always trains on the word-frequency table (Zipf ⇒
    // ≪ corpus); the corpus-sized work is the one word count. The oracle
    // unrolls the 5 rounds as MATERIALIZED CTEs (gr_kcore idiom).
    QueryDef("tx_bpe_merges",
      (s, d) => bpeMergesFrame(s, d)
        .select(col("round"), col("pair"),
          expr("replace(pair, ' ', '')").as("merged"), col("support"))
        .orderBy("round"),
      Some {
        val out = (1 to BpeRounds).map(r =>
          s"SELECT round, pair, replace(pair, ' ', '') AS merged, support " +
            s"FROM m$r WHERE pair IS NOT NULL")
          .mkString("\nUNION ALL\n")
        s"""$bpeOracleCtes
           |$out
           |ORDER BY round""".stripMargin
      }),

    // ------------------------------------------------------------------
    // BPE merge APPLICATION — the tokenize-the-corpus half (tx_bpe_merges
    // is the training half): the 5 learned merges, pivoted into one
    // broadcast row, rewrite every DISTINCT corpus word once (tokenizers
    // always apply at the vocabulary level and weight by count — the
    // corpus-sized work stays a word count), and the per-source rollup
    // reports tokenizer fertility: symbols per word before (= chars) and
    // after, and the compression the 5 merges bought in basis points.
    QueryDef("tx_bpe_apply",
      (s, d) => {
        val mp = broadcast(bpeMergesFrame(s, d)
          .groupBy()
          .pivot("round", (1 to BpeRounds).toSeq)
          .agg(first(col("pair")))
          .toDF((1 to BpeRounds).map("m" + _): _*))
        val applied = (1 to BpeRounds).foldLeft(
            s"concat(' ', array_join(transform(sequence(1, length(word)), " +
              "i -> substr(word, i, 1)), ' '), ' ')") { (acc, r) =>
          // coalesce sentinel: a round with no learned merge (degenerate
          // corpus) must act as a no-op, not null out the whole rewrite
          s"replace($acc, concat(' ', coalesce(m$r, '\u0001'), ' '), " +
            s"concat(' ', replace(coalesce(m$r, '\u0001'), ' ', ''), ' '))"
        }
        T(s, d, "documents")
          .select(col("source"), explode(TextFns.tokens(col("text"))).as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
          .crossJoin(mp)
          .select(col("source"), col("cnt"), length(col("word")).as("n_chars"),
            expr(s"size(filter(split($applied, ' '), x -> length(x) > 0))")
              .as("n_syms"))
          .groupBy("source")
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * col("n_chars")).as("n_symbols_char"),
            sum(col("cnt") * col("n_syms")).as("n_symbols_bpe"))
          .select(col("source"), col("n_words"), col("n_symbols_char"),
            col("n_symbols_bpe"),
            expr("(n_symbols_bpe * 10000) div n_symbols_char").as("compression_bp"))
          .orderBy("source")
      },
      Some {
        val applied = (1 to BpeRounds).foldLeft(
            "' ' || array_to_string(list_transform(generate_series(1, length(word)), " +
              "i -> substr(word, i, 1)), ' ') || ' '") { (acc, r) =>
          s"replace($acc, ' ' || coalesce(m.p$r, chr(1)) || ' ', " +
            s"' ' || replace(coalesce(m.p$r, chr(1)), ' ', '') || ' ')"
        }
        s"""$bpeOracleCtes,
           |m AS (SELECT ${(1 to BpeRounds).map(r => s"(SELECT pair FROM m$r) AS p$r").mkString(", ")}),
           |sw AS (SELECT source, word, count(*) AS cnt FROM (
           |         SELECT source, unnest(${TextFns.tokensSqlDuckDB("text")}) AS word
           |         FROM documents) q WHERE length(word) > 0 GROUP BY 1, 2),
           |ap AS (SELECT source, cnt, length(word) AS n_chars,
           |         len(list_filter(string_split($applied, ' '),
           |             x -> length(x) > 0)) AS n_syms
           |       FROM sw, m)
           |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_words,
           |       CAST(sum(cnt * n_chars) AS BIGINT) AS n_symbols_char,
           |       CAST(sum(cnt * n_syms) AS BIGINT) AS n_symbols_bpe,
           |       (CAST(sum(cnt * n_syms) AS BIGINT) * 10000)
           |         // CAST(sum(cnt * n_chars) AS BIGINT) AS compression_bp
           |FROM ap GROUP BY 1 ORDER BY source""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Degree assortativity of the near-dup graph — do heavy duplicators
    // pair with other heavy duplicators (template farms, r > 0) or with
    // singletons (hub-and-spoke copying, r < 0)? The Newman coefficient
    // over directed-symmetrized edges, in the 4M-multiplied integer form
    // (in doubled-edge sums: (4·2M·Σ'jk − Σ'(j+k)²) over
    // (2·2M·Σ'(j²+k²) − Σ'(j+k)²), Σ' over both directions): every sum is
    // an exact BIGINT (degrees are small; the squares stay far under
    // Long), and the single terminal division is one IEEE op on identical
    // integers — so round(4) is applied to bit-identical doubles. Two
    // keyed aggregates + one broadcast-scalar combine.
    QueryDef("gr_assortativity",
      (s, d) => {
        val prs = Dedup.jaccardFromStats(PipelineQueries.pairStats(s, d), minJ = 0.8)
          .select(col("a_id"), col("b_id"))
        val e = prs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionAll(prs.select(col("b_id").as("src"), col("a_id").as("dst")))
        val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
        e.join(deg.select(col("id").as("src"), col("dg").as("j")), "src")
          .join(deg.select(col("id").as("dst"), col("dg").as("k")), "dst")
          .agg(count(lit(1)).as("m2"), // = 2M (both directions)
            sum(col("j") * col("k")).as("sjk"),
            sum(col("j") + col("k")).as("sjpk"),
            sum(col("j") * col("j") + col("k") * col("k")).as("sj2k2"))
          .select(col("m2"),
            (lit(4L) * col("m2") * col("sjk") - col("sjpk") * col("sjpk")).as("num"),
            (lit(2L) * col("m2") * col("sj2k2") - col("sjpk") * col("sjpk")).as("den"))
          .select(col("m2"), col("num"), col("den"),
            // den = 0 when every degree is equal (all dup pairs disjoint):
            // NULL, as DuckDB's division gives, where ANSI `/` would throw
            round(try_divide(col("num").cast("double"), col("den")), 4).as("assortativity"))
      },
      Some(s"""WITH ${PipelineQueries.jaccardCtes},
             |prs AS (SELECT a_id, b_id FROM inter
             |        JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
             |        WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8),
             |e AS (SELECT a_id AS src, b_id AS dst FROM prs
             |      UNION ALL SELECT b_id, a_id FROM prs),
             |deg AS (SELECT src AS id, count(*) AS dg FROM e GROUP BY 1),
             |jk AS (SELECT dj.dg AS j, dk.dg AS k FROM e
             |       JOIN deg dj ON dj.id = e.src JOIN deg dk ON dk.id = e.dst),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS m2,
             |             CAST(sum(j * k) AS BIGINT) AS sjk,
             |             CAST(sum(j + k) AS BIGINT) AS sjpk,
             |             CAST(sum(j * j + k * k) AS BIGINT) AS sj2k2
             |      FROM jk)
             |SELECT m2, 4 * m2 * sjk - sjpk * sjpk AS num,
             |       2 * m2 * sj2k2 - sjpk * sjpk AS den,
             |       round(CAST(4 * m2 * sjk - sjpk * sjpk AS DOUBLE)
             |             / (2 * m2 * sj2k2 - sjpk * sjpk), 4) AS assortativity
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // Image sharpness (Laplacian energy) — the blur-detection curation
    // gate: REAL PNG decode, then Σ (4·lum − neighbors)² over interior
    // pixels with integer Rec.601 luma (scale 1000, exact end to end).
    // DuckDB replays the synthPng closed forms for all three channels
    // directly — lum(x,y) is a formula, so the Laplacian needs NO
    // neighbor join, just five formula evaluations per pixel.
    QueryDef("mm_image_sharpness",
      (s, d) => Multimodal.imageSharpness(
          Multimodal.withSynthPayload(Tables.spread(T(s, d, "documents")
            .filter(col("doc_id") < 200).select("doc_id")), Multimodal.synthPng))
        .select(col("doc_id"), col("w").cast("bigint").as("w"),
          col("h").cast("bigint").as("h"),
          col("n_interior").cast("bigint").as("n_interior"), col("sharpness"))
        .orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h
             |           FROM documents WHERE doc_id < 200),
             |px AS (SELECT doc_id, w, h,
             |              unnest(generate_series(1, w - 2)) AS x
             |       FROM s),
             |pxy AS (SELECT doc_id, w, h, x,
             |               unnest(generate_series(1, h - 2)) AS y
             |        FROM px),
             |lap AS (SELECT doc_id, w, h,
             |  (4 * (299 * ((doc_id * 7 + x * 13 + y * 31) % 256)
             |      + 587 * ((doc_id * 11 + x * 3 + y * 17) % 256)
             |      + 114 * ((doc_id * 5 + x * 23 + y * 29) % 256))
             |   - (299 * ((doc_id * 7 + (x-1) * 13 + y * 31) % 256)
             |      + 587 * ((doc_id * 11 + (x-1) * 3 + y * 17) % 256)
             |      + 114 * ((doc_id * 5 + (x-1) * 23 + y * 29) % 256))
             |   - (299 * ((doc_id * 7 + (x+1) * 13 + y * 31) % 256)
             |      + 587 * ((doc_id * 11 + (x+1) * 3 + y * 17) % 256)
             |      + 114 * ((doc_id * 5 + (x+1) * 23 + y * 29) % 256))
             |   - (299 * ((doc_id * 7 + x * 13 + (y-1) * 31) % 256)
             |      + 587 * ((doc_id * 11 + x * 3 + (y-1) * 17) % 256)
             |      + 114 * ((doc_id * 5 + x * 23 + (y-1) * 29) % 256))
             |   - (299 * ((doc_id * 7 + x * 13 + (y+1) * 31) % 256)
             |      + 587 * ((doc_id * 11 + x * 3 + (y+1) * 17) % 256)
             |      + 114 * ((doc_id * 5 + x * 23 + (y+1) * 29) % 256))) AS l
             |  FROM pxy)
             |SELECT doc_id, CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
             |       CAST(count(*) AS BIGINT) AS n_interior,
             |       CAST(sum(l * l) AS BIGINT) AS sharpness
             |FROM lap GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Matryoshka truncation eval — modern embedding tables are trained so
    // a PREFIX of the vector is itself a usable embedding; serving then
    // retrieves with the cheap prefix and re-ranks with the full vector.
    // This measures what that buys/costs here: exact top-10 by full
    // 64-dim cosine vs top-10 by first-16-dim cosine, per query, with the
    // overlap (recall@10 of the truncated index) in exact basis points.
    // Same one-scan batched shape as sim_batch_topk; slice() keeps the
    // truncated side a real array<float> through the codegen'd cosine.
    QueryDef("sim_matryoshka",
      (s, d) => {
        val embs = T(s, d, "embeddings")
        val qids = Seq(0L, 1L, 2L, 3L, 4L)
        def topk(dim: Option[Int]) = {
          val emb: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
            c => dim.map(k => slice(c, 1, k)).getOrElse(c)
          val qs = broadcast(embs.filter(col("vec_id").isin(qids.map(l => l: Any): _*))
            .select(col("vec_id").as("q_id"), emb(col("embedding")).as("q_emb")))
          val w = Window.partitionBy("q_id")
            .orderBy(col("cos_sim").desc, col("vec_id"))
          embs.filter(!col("vec_id").isin(qids.map(l => l: Any): _*))
            .crossJoin(qs)
            .select(col("q_id"), col("vec_id"),
              round(graft.functions.VectorFns.cosine(emb(col("embedding")), col("q_emb")), 3)
                .as("cos_sim"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 10)
            .select(col("q_id"), col("vec_id"))
        }
        topk(None).as("f")
          .join(topk(Some(16)).as("t"), Seq("q_id", "vec_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_common"))
          .select(col("q_id"), col("n_common"),
            (col("n_common") * 1000).as("recall_bp"))
          .orderBy("q_id")
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |                   unnest(generate_series(1, len(embedding))) AS i
             |            FROM embeddings),
             |nrmf AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM ex GROUP BY 1),
             |nrmt AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM ex
             |         WHERE i <= 16 GROUP BY 1),
             |dotf AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |                sum(a.x * b.x) AS dp
             |         FROM ex a JOIN ex b ON a.i = b.i
             |         WHERE a.vec_id IN (0, 1, 2, 3, 4)
             |           AND b.vec_id NOT IN (0, 1, 2, 3, 4)
             |         GROUP BY 1, 2),
             |dott AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             |                sum(a.x * b.x) AS dp
             |         FROM ex a JOIN ex b ON a.i = b.i
             |         WHERE a.i <= 16 AND a.vec_id IN (0, 1, 2, 3, 4)
             |           AND b.vec_id NOT IN (0, 1, 2, 3, 4)
             |         GROUP BY 1, 2),
             |tf AS (SELECT q_id, vec_id FROM (
             |    SELECT q_id, d.vec_id,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY round(dp / (nq.n * nv.n), 3) DESC, d.vec_id) AS rn
             |    FROM dotf d JOIN nrmf nq ON nq.vec_id = q_id
             |                JOIN nrmf nv ON nv.vec_id = d.vec_id) z
             |  WHERE rn <= 10),
             |tt AS (SELECT q_id, vec_id FROM (
             |    SELECT q_id, d.vec_id,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY round(dp / (nq.n * nv.n), 3) DESC, d.vec_id) AS rn
             |    FROM dott d JOIN nrmt nq ON nq.vec_id = q_id
             |                JOIN nrmt nv ON nv.vec_id = d.vec_id) z
             |  WHERE rn <= 10)
             |SELECT tf.q_id AS q_id, count(*) AS n_common,
             |       CAST(count(*) * 1000 AS BIGINT) AS recall_bp
             |FROM tf JOIN tt ON tf.q_id = tt.q_id AND tf.vec_id = tt.vec_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Sharded approximate top-k (heavy hitters) WITH its own exactness
    // eval: per shard, keep only the top-50 words; the global top-10 is
    // then computed over the union of shard candidates — the shuffle-light
    // path whose cost is O(shards·m), independent of vocabulary size
    // (the way a 1000-executor cluster surfaces trending terms without
    // shuffling the full term dictionary). A candidate can in principle
    // miss (a word just below every shard's cut), so the query JOINS the
    // approximate top-10 against the exact one and reports rank + count
    // agreement per row — the sim_recall_eval pattern: the approximation
    // ships together with the measurement that justifies it. Shards are
    // doc_id % 8 (deterministic, so DuckDB replays them; a cluster uses
    // its physical partitions).
    QueryDef("tx_sharded_topk",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select((col("doc_id") % 8).as("shard"),
            explode(TextFns.tokens(col("text"))).as("word"))
        val sharded = toks.groupBy("shard", "word").agg(count(lit(1)).as("c"))
        val wS = Window.partitionBy("shard").orderBy(col("c").desc, col("word"))
        val approx = sharded
          .withColumn("rn", row_number().over(wS)).filter(col("rn") <= 50)
          .groupBy("word").agg(sum(col("c")).as("approx_cnt"))
          .orderBy(col("approx_cnt").desc, col("word"))
          .limit(10)
          .withColumn("approx_rank",
            row_number().over(Window.orderBy(col("approx_cnt").desc, col("word"))))
        // exact side: orderBy.limit(10) (distributed top-k) FIRST, then
        // rank within the 10 surviving rows — the prior global row_number
        // ran over the full vocabulary in one task (r7 What's-wrong #2)
        val exact = toks.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("word"))
          .limit(10)
          .withColumn("exact_rank",
            row_number().over(Window.orderBy(col("exact_cnt").desc, col("word"))))
        approx.join(exact, Seq("word"), "full_outer")
          .select(col("word"),
            coalesce(col("approx_rank"), lit(-1L)).cast("bigint").as("approx_rank"),
            coalesce(col("exact_rank"), lit(-1L)).cast("bigint").as("exact_rank"),
            coalesce(col("approx_cnt"), lit(0L)).as("approx_cnt"),
            coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
            (col("approx_cnt") === col("exact_cnt")).as("count_exact"))
          .orderBy("exact_rank", "word")
      },
      Some(s"""WITH toks AS (SELECT doc_id % 8 AS shard,
             |         unnest(${TextFns.tokensSqlDuckDB("text")}) AS word
             |       FROM documents),
             |sh AS (SELECT shard, word, count(*) AS c FROM toks
             |       WHERE length(word) > 0 GROUP BY 1, 2),
             |cand AS (SELECT word, CAST(sum(c) AS BIGINT) AS approx_cnt FROM (
             |    SELECT shard, word, c,
             |           row_number() OVER (PARTITION BY shard
             |             ORDER BY c DESC, word) AS rn FROM sh) q
             |  WHERE rn <= 50 GROUP BY 1),
             |ap AS (SELECT word, approx_cnt,
             |         row_number() OVER (ORDER BY approx_cnt DESC, word) AS approx_rank
             |       FROM cand QUALIFY approx_rank <= 10),
             |exq AS (SELECT word, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks
             |        WHERE length(word) > 0 GROUP BY 1),
             |ex AS (SELECT word, exact_cnt,
             |         row_number() OVER (ORDER BY exact_cnt DESC, word) AS exact_rank
             |       FROM exq QUALIFY exact_rank <= 10)
             |SELECT word,
             |       CAST(coalesce(ap.approx_rank, -1) AS BIGINT) AS approx_rank,
             |       CAST(coalesce(ex.exact_rank, -1) AS BIGINT) AS exact_rank,
             |       coalesce(ap.approx_cnt, 0) AS approx_cnt,
             |       coalesce(ex.exact_cnt, 0) AS exact_cnt,
             |       ap.approx_cnt = ex.exact_cnt AS count_exact
             |FROM ap FULL OUTER JOIN ex USING (word)
             |ORDER BY exact_rank, word""".stripMargin)),

    // ------------------------------------------------------------------
    // O14 under the oracle — word count executed THROUGH the KV exchange
    // (KvShuffle: executors append reference-framed "word\t1\r," partition
    // runs to an embedded KvServer over real sockets, one reduce task per
    // partition key reads + counts), hash-matched against the plain SQL
    // word count. The server lives only for the query's execution: the
    // result is eagerly materialized before teardown, so the lazy frame
    // the driver writes never needs the socket again.
    QueryDef("tx_kv_shuffle",
      (s, d) => {
        val server = new graft.server.KvServer()
        try {
          Dedup.materialize(
            KvShuffle.wordCountViaKv(s, T(s, d, "documents"), "127.0.0.1",
              server.port, jobId = "wc", reducers = 8))
            .orderBy("word")
        } finally server.close()
      },
      Some(s"""WITH toks AS (SELECT unnest(${TextFns.tokensSqlDuckDB("text")}) AS word
             |              FROM documents)
             |SELECT word, count(*) AS cnt FROM toks
             |WHERE length(word) > 0 GROUP BY 1 ORDER BY word""".stripMargin)),

    // ------------------------------------------------------------------
    // Incremental view maintenance of a JOIN — the lakehouse pattern that
    // avoids recomputing a 100 TB join when a delta lands: with base
    // partitions A₀/B₀ and delta batches ΔA/ΔB (split here by
    // deterministic key predicates), the view delta is exactly
    // ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB. The query computes all three terms plus the
    // full recompute and CHECKS the algebra: base + delta counts and an
    // exact integer measure must equal the full join's. Every term is a
    // keyed equi-join on the same key — co-partitionable, and the delta
    // terms are delta-sized, which is the whole point.
    QueryDef("rel_ivm_join",
      (s, d) => {
        val o = T(s, d, "orders").select(col("o_orderkey"),
          (col("o_orderkey") % 10 === 0).as("da"))
        val l = T(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"),
          (col("l_orderkey") % 7 === 0).as("db"))
        def term(oPred: org.apache.spark.sql.Column,
                 lPred: org.apache.spark.sql.Column) =
          o.filter(oPred).join(l.filter(lPred),
            col("o_orderkey") === col("l_orderkey"))
            .agg(count(lit(1)).as("n"),
              // empty delta => sum() is NULL but the oracle's CASE-sum over
              // the full join yields 0 — coalesce so an empty term
              // contributes 0 to the consistency algebra, not NULL
              coalesce(sum(col("l_quantity").cast("long")), lit(0L)).as("q"))
        val base = term(!col("da"), !col("db"))
        val dAB0 = term(col("da"), !col("db"))
        val dA0B = term(!col("da"), col("db"))
        val dAB = term(col("da"), col("db"))
        val full = term(lit(true), lit(true))
        base.select(col("n").as("n_base"), col("q").as("q_base"))
          .crossJoin(dAB0.select(col("n").as("n_da_b0"), col("q").as("q_da_b0")))
          .crossJoin(dA0B.select(col("n").as("n_a0_db"), col("q").as("q_a0_db")))
          .crossJoin(dAB.select(col("n").as("n_da_db"), col("q").as("q_da_db")))
          .crossJoin(full.select(col("n").as("n_full"), col("q").as("q_full")))
          .select(col("n_base"), col("n_da_b0"), col("n_a0_db"), col("n_da_db"),
            col("n_full"),
            (col("n_base") + col("n_da_b0") + col("n_a0_db") + col("n_da_db") ===
              col("n_full")).as("counts_consistent"),
            (col("q_base") + col("q_da_b0") + col("q_a0_db") + col("q_da_db") ===
              col("q_full")).as("measure_consistent"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderkey % 10 = 0 AS da FROM orders),
             |l AS (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q,
             |             l_orderkey % 7 = 0 AS db FROM lineitem),
             |j AS (SELECT da, db, q FROM o JOIN l ON o_orderkey = l_orderkey),
             |t AS (SELECT
             |  CAST(sum(CASE WHEN NOT da AND NOT db THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             |  CAST(sum(CASE WHEN da AND NOT db THEN 1 ELSE 0 END) AS BIGINT) AS n_da_b0,
             |  CAST(sum(CASE WHEN NOT da AND db THEN 1 ELSE 0 END) AS BIGINT) AS n_a0_db,
             |  CAST(sum(CASE WHEN da AND db THEN 1 ELSE 0 END) AS BIGINT) AS n_da_db,
             |  CAST(count(*) AS BIGINT) AS n_full,
             |  CAST(sum(CASE WHEN NOT da AND NOT db THEN q ELSE 0 END) AS BIGINT) AS q_base,
             |  CAST(sum(CASE WHEN da AND NOT db THEN q ELSE 0 END) AS BIGINT) AS q_da_b0,
             |  CAST(sum(CASE WHEN NOT da AND db THEN q ELSE 0 END) AS BIGINT) AS q_a0_db,
             |  CAST(sum(CASE WHEN da AND db THEN q ELSE 0 END) AS BIGINT) AS q_da_db,
             |  CAST(sum(q) AS BIGINT) AS q_full
             |  FROM j)
             |SELECT n_base, n_da_b0, n_a0_db, n_da_db, n_full,
             |       n_base + n_da_b0 + n_a0_db + n_da_db = n_full AS counts_consistent,
             |       q_base + q_da_b0 + q_a0_db + q_da_db = q_full AS measure_consistent
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // LSH banding-curve tuning — the design-time S-curve evaluation that
    // picks (bands b, rows r) BEFORE building a MinHash index: for each
    // candidate config, the expected candidate mass Σ 1−(1−J^r)^b and the
    // expected true-positive mass over the observed pair-Jaccard
    // distribution (pairs sharing ≥ 1 shingle; disjoint pairs contribute
    // exactly 0). Determinism without a tolerance gate: J is ONE IEEE
    // division, the powers are explicit repeated-squaring multiplication
    // trees shared verbatim with the oracle ([[sqPowSql]] — no libm pow),
    // and each pair's probability is floor-quantized to an integer before
    // the engine-order-dependent SUM, so the aggregate is exact BIGINT.
    // Content-defined chunking dedup — boundaries wherever the trailing
    // 16-char window's positional 31-polynomial lands on 0 mod 64 (see
    // Dedup.cdcChunkStats for the scale shape and why CDC catches shared
    // passages whole-doc and pair dedup both miss). The oracle replays
    // the window hash as ONE inline 16-term weighted sum — exact in
    // BIGINT (16 terms < 2^42), and a single end-mod equals the Horner
    // per-step mod because mod is a ring homomorphism.
    QueryDef("dd_cdc_chunks",
      (s, d) => Dedup.cdcChunkStats(T(s, d, "documents")),
      Some {
        val w = 16
        val P = TextFns.HashP
        val terms = (1 to w).map { j =>
          val off = w - j // char j of the window is substr(text, i - off, 1)
          val weight = Dedup.pow31(off)
          s"CAST(ascii(substr(text, i - $off, 1)) AS BIGINT) * $weight"
        }.mkString(" +\n             |           ")
        s"""WITH base AS (SELECT doc_id, text FROM documents
           |              WHERE length(text) >= 1),
           |pos AS (SELECT doc_id, text,
           |               unnest(generate_series($w, length(text))) AS i
           |        FROM base WHERE length(text) >= $w),
           |b AS (SELECT doc_id, i FROM pos
           |      WHERE (($terms) % $P) % 64 = 0),
           |ab AS (SELECT DISTINCT doc_id, i FROM (
           |         SELECT doc_id, i FROM b
           |         UNION ALL
           |         SELECT doc_id, length(text) FROM base) q),
           |st AS (SELECT doc_id, i,
           |              coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i),
           |                       0) + 1 AS st
           |       FROM ab),
           |ch AS (SELECT substr(text, st, i - st + 1) AS chunk
           |       FROM st JOIN base USING (doc_id)),
           |g AS (SELECT chunk, count(*) AS copies FROM ch GROUP BY 1)
           |SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
           |       count(*) AS n_distinct_chunks,
           |       CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_dup_groups,
           |       CAST(sum((copies - 1) * length(chunk)) AS BIGINT) AS dup_bytes,
           |       CAST((100 * sum(copies * length(chunk))) // sum(copies)
           |            AS BIGINT) AS avg_len_x100
           |FROM g""".stripMargin
      }),

    QueryDef("dd_lsh_tuning",
      (s, d) => {
        val st = PipelineQueries.pairStats(s, d)
          .selectExpr("CAST(inter AS DOUBLE) / (na + nb - inter) AS j")
          .selectExpr("j", "j * j AS j2")
          .selectExpr("j", "j2 * j2 AS j4")
          .selectExpr("j", "j4", "j4 * j4 AS j8")
          .selectExpr("j", "j4", "j8", "j8 * j8 AS j16")
        def cfg(name: String, jr: String, b: Int) =
          st.selectExpr(s"'$name' AS config", "j",
              s"CAST(floor((1.0 - ${sqPowSql(s"(1.0 - $jr)", b)}) * 1e8) AS BIGINT) AS pq")
            .groupBy("config")
            .agg(count(lit(1)).as("n_pairs"),
              count_if(col("j") >= 0.8).as("n_true"),
              sum(col("pq")).as("exp_candidates_q"),
              sum(when(col("j") >= 0.8, col("pq")).otherwise(0L)).as("exp_true_q"))
        cfg("b32_r4", "j4", 32)
          .unionAll(cfg("b16_r8", "j8", 16))
          .unionAll(cfg("b08_r16", "j16", 8))
          .orderBy("config")
      },
      Some {
        def cfgSql(name: String, jr: String, b: Int) =
          s"""SELECT '$name' AS config, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             |  CAST(sum(pq) AS BIGINT) AS exp_candidates_q,
             |  CAST(sum(CASE WHEN j >= 0.8 THEN pq ELSE 0 END) AS BIGINT) AS exp_true_q
             |FROM (SELECT j,
             |        CAST(floor((1.0 - ${sqPowSql(s"(1.0 - $jr)", b)}) * 1e8) AS BIGINT) AS pq
             |      FROM q4) x_$name""".stripMargin
        s"""WITH ${PipelineQueries.jaccardCtes},
           |jj AS (SELECT CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
           |       FROM inter JOIN sz sa ON sa.doc_id = a_id
           |                  JOIN sz sb ON sb.doc_id = b_id),
           |q1 AS (SELECT j, j * j AS j2 FROM jj),
           |q2 AS (SELECT j, j2 * j2 AS j4 FROM q1),
           |q3 AS (SELECT j, j4, j4 * j4 AS j8 FROM q2),
           |q4 AS (SELECT j, j4, j8, j8 * j8 AS j16 FROM q3)
           |${cfgSql("b32_r4", "j4", 32)}
           |UNION ALL
           |${cfgSql("b16_r8", "j8", 16)}
           |UNION ALL
           |${cfgSql("b08_r16", "j16", 8)}
           |ORDER BY config""".stripMargin
      }),

    // ------------------------------------------------------------------
    // IVF nprobe cost model — the serving-side planning table: for each
    // query, rank the coarse cells by centroid distance and report the
    // cumulative corpus fraction scanned at nprobe = 1..4. Read next to
    // sim_recall_eval (recall at nprobe=1), this is the scan-cost axis of
    // the recall/latency tradeoff every IVF deployment tunes. Routing is
    // queries × centroids against a broadcast centroid table; cell sizes
    // are one keyed aggregate; the cumulative window is partitioned per
    // query over k rows.
    QueryDef("sim_ivf_cost",
      (s, d) => {
        val embs = T(s, d, "embeddings")
        val qs = embs.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val d2c = qs.crossJoin(broadcast(Similarity.centroids(embs)
            .select(col("label").as("cluster"), col("centroid"))))
          .select(col("q_id"), col("cluster"),
            // floor-quantize to a BIGINT before ranking: Spark folds the
            // squared terms in array order while DuckDB's SUM order is
            // unspecified, so near-tie centroid distances could order
            // differently across engines — the dd_lsh_tuning discipline
            floor(aggregate(zip_with(col("embedding").cast("array<double>"), col("centroid"),
              (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x) * lit(1e6))
              .cast("long").as("d2q"))
        val sizes = embs.groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("n_vecs"))
        val tot = broadcast(embs.agg(count(lit(1)).as("n_total")))
        val rw = Window.partitionBy("q_id").orderBy(col("d2q"), col("cluster"))
        val cw = rw.rowsBetween(Window.unboundedPreceding, 0)
        d2c.join(broadcast(sizes), "cluster")
          .withColumn("nprobe", row_number().over(rw))
          .withColumn("n_scanned", sum(col("n_vecs")).over(cw))
          .filter(col("nprobe") <= 4)
          .crossJoin(tot)
          .select(col("q_id"), col("nprobe"), col("cluster"), col("n_scanned"),
            expr("(n_scanned * 10000) div n_total").as("scan_bp"))
          .orderBy("q_id", "nprobe")
      },
      Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
             |                   unnest(generate_series(1, len(embedding))) AS i
             |            FROM embeddings),
             |cent AS (SELECT label AS cluster, i, avg(x) AS cx FROM ex GROUP BY 1, 2),
             |d2 AS (SELECT ex.vec_id AS q_id, cent.cluster,
             |              CAST(floor(sum((ex.x - cent.cx) * (ex.x - cent.cx)) * 1e6)
             |                AS BIGINT) AS d2q
             |       FROM ex JOIN cent ON ex.i = cent.i
             |       WHERE ex.vec_id < 5 GROUP BY 1, 2),
             |sz AS (SELECT label AS cluster, count(*) AS n_vecs FROM embeddings GROUP BY 1),
             |t AS (SELECT count(*) AS n_total FROM embeddings),
             |rk AS (SELECT q_id, cluster, n_vecs,
             |              row_number() OVER (PARTITION BY q_id ORDER BY d2q, cluster)
             |                AS nprobe,
             |              CAST(sum(n_vecs) OVER (PARTITION BY q_id ORDER BY d2q, cluster
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |                AS n_scanned
             |       FROM d2 JOIN sz USING (cluster))
             |SELECT q_id, CAST(nprobe AS INT) AS nprobe, cluster, n_scanned,
             |       (n_scanned * 10000) // t.n_total AS scan_bp
             |FROM rk, t WHERE nprobe <= 4 ORDER BY q_id, nprobe""".stripMargin)),

    // ------------------------------------------------------------------
    // Zone-map (min/max) skipping audit — quantifies how much of the
    // table a date-range predicate could skip from per-file min/max stats
    // alone, under two write layouts: the natural orderkey-chunked files
    // (dates smeared across every file → nothing skips) vs. a
    // shipdate-partitioned layout (most files skip). The read-side
    // motivation for rel_zorder's write-side clustering: same stats, the
    // LAYOUT decides their power. Pure aggregates over file-granularity
    // groups; dates are compared as exact day counts computed identically
    // in both engines from the same literals.
    QueryDef("rel_zonemap_audit",
      (s, d) => {
        val epoch0 = java.time.LocalDate.of(1990, 1, 1).toEpochDay
        val lo = java.time.LocalDate.of(1998, 6, 1).toEpochDay - epoch0
        val hi = java.time.LocalDate.of(1998, 6, 30).toEpochDay - epoch0
        val li = T(s, d, "lineitem").select(
          expr("l_orderkey div 250").as("f_nat"),
          expr("datediff(CAST(l_shipdate AS DATE), DATE '1990-01-01') div 28").as("f_date"),
          expr("datediff(CAST(l_shipdate AS DATE), DATE '1990-01-01')").as("dday"))
        def audit(layout: String, fcol: String) =
          li.groupBy(col(fcol).as("file_id"))
            .agg(count(lit(1)).as("n_rows"), min(col("dday")).as("mn"),
              max(col("dday")).as("mx"))
            .agg(count(lit(1)).as("n_files"),
              count_if(col("mx") < lit(lo) || col("mn") > lit(hi)).as("n_skippable"),
              sum(when(col("mx") < lit(lo) || col("mn") > lit(hi), col("n_rows"))
                .otherwise(0L)).as("rows_skipped"),
              sum(col("n_rows")).as("n_rows_total"))
            .select(lit(layout).as("layout"), col("n_files"), col("n_skippable"),
              col("rows_skipped"),
              expr("(rows_skipped * 10000) div n_rows_total").as("skip_bp"))
        audit("orderkey_chunks", "f_nat")
          .unionAll(audit("shipdate_4weekly", "f_date"))
          .orderBy("layout")
      },
      Some {
        val epoch0 = java.time.LocalDate.of(1990, 1, 1).toEpochDay
        val lo = java.time.LocalDate.of(1998, 6, 1).toEpochDay - epoch0
        val hi = java.time.LocalDate.of(1998, 6, 30).toEpochDay - epoch0
        def auditSql(layout: String, fileExpr: String) =
          s"""SELECT '$layout' AS layout, count(*) AS n_files,
             |  CAST(sum(CASE WHEN mx < $lo OR mn > $hi THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_skippable,
             |  CAST(sum(CASE WHEN mx < $lo OR mn > $hi THEN n_rows ELSE 0 END) AS BIGINT)
             |    AS rows_skipped,
             |  (CAST(sum(CASE WHEN mx < $lo OR mn > $hi THEN n_rows ELSE 0 END) AS BIGINT)
             |    * 10000) // CAST(sum(n_rows) AS BIGINT) AS skip_bp
             |FROM (SELECT $fileExpr AS file_id, count(*) AS n_rows,
             |             min(dday) AS mn, max(dday) AS mx
             |      FROM days GROUP BY 1) f_$layout""".stripMargin
        s"""WITH days AS (SELECT l_orderkey,
           |    date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS dday
           |  FROM lineitem)
           |${auditSql("orderkey_chunks", "l_orderkey // 250")}
           |UNION ALL
           |${auditSql("shipdate_4weekly", "dday // 28")}
           |ORDER BY layout""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Gram/covariance pass — the one-scan second-moment matrix behind PCA
    // whitening, SemDeDup preprocessing, and embedding-drift monitoring:
    // G[i,j] = Σ_v x_i·x_j over the corpus, emitted as the upper triangle
    // (i <= j) at 1e-8 scale. Determinism: each float product is
    // quantized to an INTEGER hundred-millionth BEFORE the sum — k =
    // round(x·y·1e8) at SCALE 0, where Spark's HALF_UP and DuckDB's
    // std::round agree even at exact .5 ties (both are half-away-from-
    // zero on the double's exact value; fractional scales would reopen
    // the canonical-string-vs-exact BigDecimal gap) — so the aggregate
    // is pure BIGINT arithmetic in both engines regardless of summation
    // order (a raw double sum would differ by summation tree). Shape:
    // the d²/2-ACCUMULATOR
    // aggregate ([[graft.functions.Aggregators.gramUpper]]) — one flat
    // Long array of upper-triangle cells per partition, merged
    // element-wise; no per-product ROW ever exists, so the matrix costs
    // one corpus scan + O(partitions·d²) merge traffic. The two
    // declarative forms this replaced tell the physical-shape story at
    // sf0.1: vec_id-keyed self-join 8.8s, map-side slice()+transform
    // explode 4.8s, accumulator ~1s — all hash-identical against the
    // same oracle. Cell index i·d − i(i−1)/2 + (j−i) is unmapped by a
    // broadcast CONSTANT (idx, i, j) table, not sqrt arithmetic.
    QueryDef("sim_gram_matrix",
      (s, d) => Similarity.gramUpperFrame(T(s, d, "embeddings"), dim = 64)
        .orderBy("i", "j"),
      Some("""WITH pts AS (SELECT vec_id,
             |                    unnest(generate_series(0, len(embedding) - 1)) AS i,
             |                    CAST(unnest(embedding) AS DOUBLE) AS x
             |             FROM embeddings)
             |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
             |       CAST(sum(CAST(round(a.x * b.x * 1e8) AS BIGINT))
             |            AS BIGINT) AS g_e8
             |FROM pts a JOIN pts b ON a.vec_id = b.vec_id AND a.i <= b.i
             |GROUP BY 1, 2 ORDER BY i, j""".stripMargin)),

    // ------------------------------------------------------------------
    // Distribution-drift chi-square — the monitor a pipeline runs on every
    // feature between two periods (train vs serve, last week vs this
    // week): per (event_type, value decile-bucket), the chi² contribution
    // comparing the first and second half of the timeline, in EXACT
    // integer rational form — num = (n_a·T_b − n_b·T_a)², den =
    // T_a·T_b·(n_a+n_b) — so the hash surface is pure BIGINT and the
    // (transcendental-free) statistic is assembled by the reader as
    // Σ num/den · (T_a+T_b). Chi² over PSI deliberately: PSI's ln enters
    // the hash surface, chi² stays rational (same monotone drift signal).
    // One pass: groupBy (type, half, bucket) then a type-keyed pivot join.
    // num is exact in signed 64 while n·T < ~3e9 (fine through ~1e9 rows
    // per series); past that, cast the num products to DECIMAL(38,0) —
    // the rule is unchanged.
    QueryDef("ts_drift_chi2",
      (s, d) => {
        val e = T(s, d, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            floor(col("value") / 10).cast("long").as("bucket"))
        val b = broadcast(e.groupBy("event_type")
          .agg(min(col("us")).as("mn"), max(col("us")).as("mx")))
        val halves = e.join(b, "event_type")
          .withColumn("half",
            expr("CASE WHEN us <= mn + (mx - mn) div 2 THEN 0 ELSE 1 END"))
        val cnt = halves.groupBy("event_type", "bucket")
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
        val tot = cnt.groupBy("event_type")
          .agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
        cnt.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("bucket"), col("n_a"), col("n_b"),
            ((col("n_a") * col("tb") - col("n_b") * col("ta")) *
              (col("n_a") * col("tb") - col("n_b") * col("ta"))).as("num"),
            (col("ta") * col("tb") * (col("n_a") + col("n_b"))).as("den"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us,
             |                  CAST(floor(value / 10) AS BIGINT) AS bucket
             |           FROM events),
             |b AS (SELECT event_type, min(us) AS mn, max(us) AS mx
             |      FROM e GROUP BY 1),
             |h AS (SELECT e.event_type, bucket,
             |             CASE WHEN us <= mn + (mx - mn) // 2 THEN 0 ELSE 1 END AS half
             |      FROM e JOIN b ON b.event_type = e.event_type),
             |cnt AS (SELECT event_type, bucket,
             |               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |        FROM h GROUP BY 1, 2),
             |tot AS (SELECT event_type, CAST(sum(n_a) AS BIGINT) AS ta,
             |               CAST(sum(n_b) AS BIGINT) AS tb
             |        FROM cnt GROUP BY 1)
             |SELECT cnt.event_type, bucket, n_a, n_b,
             |       (n_a * tb - n_b * ta) * (n_a * tb - n_b * ta) AS num,
             |       ta * tb * (n_a + n_b) AS den
             |FROM cnt JOIN tot ON tot.event_type = cnt.event_type
             |ORDER BY cnt.event_type, bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // LTTB downsampling (Largest-Triangle-Three-Buckets, bucket-average
    // variant) — the standard series reducer behind every monitoring UI:
    // per (event_type, day-bucket) keep the ONE point forming the largest
    // triangle with the neighbor buckets' average points, so the
    // downsampled series preserves visual extremes instead of smearing
    // them like plain avg-per-bucket. The average-anchor variant (classic
    // LTTB anchors on the PREVIOUSLY SELECTED point) is the parallel
    // form: every bucket selects independently — one groupBy + two
    // self-joins, no sequential scan — which is why it is the variant a
    // distributed engine should ship. Selection is exact: x in seconds
    // from the series start, y at cent scale, and the triangle area
    // comparison is multiplied out to pure BIGINT (common positive
    // denominator na²·nb dropped), so both engines pick bit-identical
    // points — no IEEE area enters the decision. The product bound is
    // n³·(day_span_s)·(2·y_scale) — safe in signed 64 below ~1.7k points
    // per bucket; at bigger scale shrink the bucket (hour) or move the
    // area to DECIMAL, the selection rule is unchanged. First/last
    // buckets keep the series' first/last point, as classic LTTB does.
    QueryDef("ts_lttb",
      (s, d) => {
        val e = T(s, d, "events")
          .select(col("event_type"),
            col("ts"), unix_micros(col("ts")).as("us"),
            round(col("value") * 100).cast("long").as("y"))
        val b = broadcast(e.groupBy("event_type").agg(min(col("us")).as("mn")))
        val pts = e.join(b, "event_type")
          .select(col("event_type"), col("ts"), col("y"),
            expr("(us - mn) div 1000000").as("x"),
            expr("(us - mn) div 86400000000").as("day"))
        val agg = pts.groupBy("event_type", "day")
          .agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            count(lit(1)).as("n"))
        val nb = pts.as("c")
          .join(agg.select(col("event_type"), (col("day") + 1).as("day"),
            col("sx").as("sxa"), col("sy").as("sya"), col("n").as("na")),
            Seq("event_type", "day"))
          .join(agg.select(col("event_type"), (col("day") - 1).as("day"),
            col("sx").as("sxb"), col("sy").as("syb"), col("n").as("nb")),
            Seq("event_type", "day"))
          .withColumn("area", abs(
            (col("sxa") - col("na") * col("x")) *
              (col("syb") * col("na") - col("sya") * col("nb")) -
            (col("sxa") * col("nb") - col("sxb") * col("na")) *
              (col("y") * col("na") - col("sya"))))
        val wMid = Window.partitionBy("event_type", "day")
          .orderBy(col("area").desc, col("x"), col("y"))
        val mid = nb.withColumn("rn", row_number().over(wMid))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day"), col("x"), col("y"))
        val ext = pts.groupBy("event_type")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val wEdge = Window.partitionBy(col("event_type"), col("day"), col("first"))
          .orderBy(col("ord"), col("y"))
        val edges = pts.join(broadcast(ext), "event_type")
          .filter(col("day") === col("d0") || col("day") === col("d1"))
          .withColumn("first", col("day") === col("d0"))
          .withColumn("ord", when(col("first"), col("x")).otherwise(-col("x")))
          .withColumn("rn", row_number().over(wEdge))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day"), col("x"), col("y"))
        mid.join(edges.select(col("event_type"), col("day"), lit(1).as("e")),
            Seq("event_type", "day"), "left_anti")
          .unionAll(edges)
          .orderBy("event_type", "day")
      },
      Some("""WITH e0 AS (SELECT event_type, epoch_us(ts) AS us,
             |                   CAST(round(value * 100) AS BIGINT) AS y
             |            FROM events),
             |b AS (SELECT event_type, min(us) AS mn FROM e0 GROUP BY 1),
             |pts AS (SELECT e0.event_type, (us - mn) // 1000000 AS x, y,
             |               (us - mn) // 86400000000 AS day
             |        FROM e0 JOIN b ON b.event_type = e0.event_type),
             |agg AS (SELECT event_type, day, CAST(sum(x) AS BIGINT) AS sx,
             |               CAST(sum(y) AS BIGINT) AS sy,
             |               CAST(count(*) AS BIGINT) AS n
             |        FROM pts GROUP BY 1, 2),
             |mid AS (SELECT event_type, day, x, y FROM (
             |    SELECT c.event_type, c.day, c.x, c.y,
             |           row_number() OVER (PARTITION BY c.event_type, c.day
             |             ORDER BY abs((a.sx - a.n * c.x) * (p.sy * a.n - a.sy * p.n)
             |                        - (a.sx * p.n - p.sx * a.n) * (c.y * a.n - a.sy))
             |               DESC, c.x, c.y) AS rn
             |    FROM pts c
             |    JOIN agg a ON a.event_type = c.event_type AND a.day = c.day - 1
             |    JOIN agg p ON p.event_type = c.event_type AND p.day = c.day + 1) z
             |  WHERE rn = 1),
             |ext AS (SELECT event_type, min(day) AS d0, max(day) AS d1
             |        FROM pts GROUP BY 1),
             |edges AS (SELECT event_type, day, x, y FROM (
             |    SELECT pts.event_type, day, x, y,
             |           row_number() OVER (PARTITION BY pts.event_type, day
             |             ORDER BY CASE WHEN day = d0 THEN x ELSE -x END, y) AS rn
             |    FROM pts JOIN ext ON ext.event_type = pts.event_type
             |    WHERE day = d0 OR day = d1) z
             |  WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT mid.* FROM mid
             |  LEFT JOIN edges ON edges.event_type = mid.event_type
             |                 AND edges.day = mid.day
             |  WHERE edges.day IS NULL
             |  UNION ALL SELECT * FROM edges) u
             |ORDER BY event_type, day""".stripMargin)),

    // ------------------------------------------------------------------
    // Bloom-pruned join WITH its own false-positive accounting — the
    // explicit engine-level form of runtime-filter pruning: build a
    // broadcast-sized bitset over the build side's keys (one map-side-
    // combined aggregate), then pre-filter the probe side with pure
    // per-row arithmetic BEFORE any shuffle. At 100 TB the probe never
    // joins to test membership — here it ALSO does the exact join, so
    // the query reports the filter's real n_false_pos/fp_bp alongside
    // the structural guarantee n_false_neg = 0. Bit positions come from
    // the DuckDB-replayable affine family (BloomFns.bitPosSql is the
    // single source for both engines); the probe predicate is generated
    // Spark SQL (element_at + shiftleft — codegen'd, no UDF).
    QueryDef("rel_bloom_join",
      (s, d) => {
        import graft.functions.BloomFns
        val bld = T(s, d, "orders").filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey").as("k")).distinct()
        val bloom = bld.agg(BloomFns.bloom_agg(col("k")).as("bits"))
        T(s, d, "lineitem").select(col("l_orderkey").as("k")).distinct()
          .join(bld.select(col("k"), lit(1L).as("m")), Seq("k"), "left")
          .crossJoin(broadcast(bloom))
          .select(col("k"), col("m"),
            expr(BloomFns.mightContainSql("bits", "k")).as("might"))
          .agg(count(lit(1)).as("n_probe"),
            sum(when(col("might"), 1L).otherwise(0L)).as("n_pass"),
            sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("n_true"),
            sum(when(col("m").isNotNull && !col("might"), 1L).otherwise(0L))
              .as("n_false_neg"))
          .select(col("n_probe"), col("n_pass"), col("n_true"),
            (col("n_pass") - col("n_true")).as("n_false_pos"),
            col("n_false_neg"),
            expr("(n_pass - n_true) * 10000L div (n_probe - n_true)").as("fp_bp"))
      },
      Some {
        import graft.functions.BloomFns
        val bldBits = (0 until BloomFns.NumHash)
          .map(i => s"SELECT DISTINCT ${BloomFns.bitPosSql(i, "k", spark = false)} AS p FROM bld")
          .mkString("\n       UNION\n       ")
        val prbBits = (0 until BloomFns.NumHash)
          .map(i => s"SELECT k, ${BloomFns.bitPosSql(i, "k", spark = false)} AS p FROM prb")
          .mkString("\n       UNION ALL\n       ")
        s"""WITH bld AS (SELECT DISTINCT o_orderkey AS k FROM orders
           |             WHERE o_totalprice > 150000),
           |bits AS ($bldBits),
           |prb AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
           |pp AS ($prbBits),
           |chk AS (SELECT pp.k,
           |               sum(CASE WHEN b.p IS NULL THEN 1 ELSE 0 END) AS miss
           |        FROM pp LEFT JOIN bits b ON pp.p = b.p GROUP BY 1),
           |j AS (SELECT chk.k, chk.miss,
           |             CASE WHEN bld.k IS NULL THEN 0 ELSE 1 END AS m
           |      FROM chk LEFT JOIN bld ON bld.k = chk.k)
           |SELECT CAST(count(*) AS BIGINT) AS n_probe,
           |       CAST(sum(CASE WHEN miss = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           |       CAST(sum(m) AS BIGINT) AS n_true,
           |       CAST(sum(CASE WHEN miss = 0 THEN 1 ELSE 0 END) - sum(m) AS BIGINT)
           |         AS n_false_pos,
           |       CAST(sum(CASE WHEN m = 1 AND miss > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_false_neg,
           |       CAST((sum(CASE WHEN miss = 0 THEN 1 ELSE 0 END) - sum(m)) * 10000
           |            // (count(*) - sum(m)) AS BIGINT) AS fp_bp
           |FROM j""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Repeated-span removal — the C4 boilerplate filter reshaped for a
    // corpus without line breaks: every doc is cut into consecutive
    // SpanW-token spans (map-side slice() over the token array — NO
    // shuffle to build spans), a span whose exact text occurs in >=
    // SpanMinDocs distinct docs is boilerplate, and the doc keeps
    // everything else (ragged tail tokens always survive). Output is
    // the per-doc removal accounting a curation pipeline logs: exact
    // integer token counts only. Scale shape: the boilerplate span set
    // is corpus-bounded and the join is a plain equi-join on span text
    // (hashable 8-byte key at 100 TB via xxhash64 — same production
    // trick as dd_exact_dedup); nothing here is all-pairs.
    QueryDef("tx_span_dedup",
      (s, d) => {
        val tt = T(s, d, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
          .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"), col("t"))
        val spans = tt.filter(col("n_tokens") >= SpanW)
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), expr(s"n_tokens div $SpanW") - 1),
              g => array_join(slice(col("t"), g * SpanW + 1, lit(SpanW)), " ")))
              .as("span"))
        val boiler = spans.groupBy("span")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= SpanMinDocs)
          .select(col("span"), lit(1).as("rep"))
        val removal = spans.join(boiler, Seq("span"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("rep").isNotNull, 1L).otherwise(0L)).as("n_removed"))
        tt.select(col("doc_id"), col("n_tokens"))
          .join(removal, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            (col("n_tokens") -
              lit(SpanW) * coalesce(col("n_removed"), lit(0L))).as("n_tokens_kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tt AS (SELECT doc_id,
             |                   ${TextFns.tokensSqlDuckDB("text")} AS t
             |            FROM documents),
             |sp AS (SELECT doc_id, t,
             |              unnest(generate_series(0, len(t) // $SpanW - 1)) AS g
             |       FROM tt WHERE len(t) >= $SpanW),
             |spans AS (SELECT doc_id,
             |                 list_aggregate(t[g*$SpanW+1 : (g+1)*$SpanW],
             |                                'string_agg', ' ') AS span
             |          FROM sp),
             |boiler AS (SELECT span FROM spans
             |           GROUP BY 1 HAVING count(DISTINCT doc_id) >= $SpanMinDocs),
             |removal AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |                   CAST(sum(CASE WHEN b.span IS NULL THEN 0 ELSE 1 END)
             |                        AS BIGINT) AS n_removed
             |            FROM spans LEFT JOIN boiler b ON spans.span = b.span
             |            GROUP BY 1)
             |SELECT tt.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             |       coalesce(n_spans, 0) AS n_spans,
             |       coalesce(n_removed, 0) AS n_removed,
             |       CAST(len(t) - $SpanW * coalesce(n_removed, 0) AS BIGINT)
             |         AS n_tokens_kept
             |FROM tt LEFT JOIN removal ON removal.doc_id = tt.doc_id
             |ORDER BY tt.doc_id""".stripMargin))
  )
}
