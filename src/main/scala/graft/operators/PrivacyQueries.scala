package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy & governance operators for a training-data pipeline: PII
  * redaction with per-type accounting, and a k-anonymity audit over
  * quasi-identifier combinations. Both are single-pass scans or one
  * aggregation — at 100 TB the redaction is embarrassingly parallel
  * (narrow map over the text column, codegen'd regexp engine, no shuffle)
  * and the k-anonymity audit is one groupBy on the quasi-identifier tuple
  * followed by an O(groups) rollup.
  *
  * Reference anchor: the reference engine only exposes arbitrary per-row
  * map functions (/root/reference/mapreduce.py:16-24); redaction/audit are
  * the governance passes its users would hand-roll there before releasing
  * a corpus.
  */
object PrivacyQueries {

  private def T(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  // The synthetic corpus is lowercase alpha+space, so deterministic
  // pseudo-PII is appended as a pure function of doc_id — the redactor is
  // then exercised on realistic full-length text with a known planted
  // ground truth (counts vary 0..2 per type and per doc). The oracle
  // replants the same strings and re-derives every count, so the gate
  // checks the regex semantics themselves (boundaries, precedence of the
  // three passes), not just plumbing.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b555-\\d{4}\\b"

  /** text + planted PII, as a Column (Spark side). */
  private def plantPii(text: Column, docId: Column): Column = {
    val email = when(docId % 3 =!= 0,
      concat(lit(" contact user"), docId, lit("@mail.example.com"))).otherwise(lit(""))
    val email2 = when(docId % 5 === 0,
      concat(lit(" alt admin"), docId, lit("@corp.example.org"))).otherwise(lit(""))
    val ip = when(docId % 4 =!= 1,
      concat(lit(" from 10."), docId % 200, lit(".0."), docId % 250 + 1)).otherwise(lit(""))
    val phone = when(docId % 2 === 0,
      concat(lit(" call 555-0"), docId % 900 + 100)).otherwise(lit(""))
    concat(text, email, email2, ip, phone)
  }

  /** Same planting in DuckDB SQL (|| concatenation, CASE guards). */
  private val plantPiiSql: String =
    """text ||
      |  CASE WHEN doc_id % 3 <> 0
      |       THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' alt admin' || doc_id || '@corp.example.org' ELSE '' END ||
      |  CASE WHEN doc_id % 4 <> 1
      |       THEN ' from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250 + 1) ELSE '' END ||
      |  CASE WHEN doc_id % 2 = 0
      |       THEN ' call 555-0' || (doc_id % 900 + 100) ELSE '' END""".stripMargin

  /** Redact emails, IPv4s, and phone numbers from `text`, reporting per-doc
    * counts and the redacted-character delta. Pass order is fixed
    * (email → ip → phone): replacement tokens are digit-free so later
    * passes cannot match inside earlier replacements. Each type is COUNTED
    * on the text as it stands when that type's replace pass runs — n_ip
    * counts on the email-redacted text, n_phone on the email+ip-redacted
    * text — so overlapping matches (a digit-bearing email domain like
    * a@10.1.2.3.com contains an IPv4) are attributed to exactly one type
    * and the counts always reconcile with n_chars_removed; counting every
    * type on the raw text would tally such spans twice.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val enriched = docs.select(col("doc_id"),
      plantPii(col("text"), col("doc_id")).as("t"))
    val t1 = regexp_replace(col("t"), EmailRe, "[EMAIL]")
    val t2 = regexp_replace(t1, Ipv4Re, "[IP]")
    val t3 = regexp_replace(t2, PhoneRe, "[PHONE]")
    enriched.select(
      col("doc_id"),
      regexp_count(col("t"), lit(EmailRe)).cast("bigint").as("n_email"),
      regexp_count(t1, lit(Ipv4Re)).cast("bigint").as("n_ip"),
      regexp_count(t2, lit(PhoneRe)).cast("bigint").as("n_phone"),
      (length(col("t")) - length(t3)).cast("bigint").as("n_chars_removed"))
  }

  /** k-anonymity audit: group rows by a quasi-identifier tuple
    * (market segment, nation, account-balance band) and report, per
    * segment, how many identifier groups fall below k and how many rows
    * they expose. The shape is one shuffle on the QI tuple then an
    * O(groups) rollup — the audit a corpus steward runs before release.
    */
  def kAnonymity(customer: DataFrame, k: Int): DataFrame =
    customer
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 2000).cast("bigint").as("bal_band"))
      .groupBy("c_mktsegment", "c_nationkey", "bal_band")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_groups"),
        min(col("sz")).as("min_group_size"),
        sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_rows_at_risk"))
      .orderBy("segment")

  /** l-diversity audit — k-anonymity's standard companion (a group can be
    * large yet still leak if everyone in it shares the sensitive value):
    * per quasi-identifier group (segment, nation), the number of DISTINCT
    * sensitive values (balance band); rolled per segment to the achieved
    * min diversity and the groups/rows below l. Same two-aggregate shape
    * as [[kAnonymity]] — one shuffle on the QI tuple, O(groups) rollup.
    */
  def lDiversity(customer: DataFrame, l: Int): DataFrame =
    customer
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 2000).cast("bigint").as("bal_band"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("sz"), count_distinct(col("bal_band")).as("nsv"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_groups"),
        min(col("nsv")).as("min_diversity"),
        sum(when(col("nsv") < l, 1L).otherwise(0L)).as("n_low_groups"),
        sum(when(col("nsv") < l, col("sz")).otherwise(0L)).as("n_rows_at_risk"))
      .orderBy("segment")

  /** t-closeness audit — the third member of the release triad (a group
    * can be large AND diverse yet still leak if its sensitive-value
    * DISTRIBUTION differs from the corpus-wide one): per quasi-identifier
    * group (segment, nation), the ordered earth-mover's distance between
    * the group's balance-band distribution and the global one,
    * EMD = Σ_i |cum_i(P_g − Q)| / (m−1) over the m globally-present bands
    * in band order; rolled per segment to the worst EMD and the
    * groups/rows above t.
    *
    * Determinism: the EMD is evaluated on the exact integer lattice —
    * every cumulative term is Σ(cnt·N − gcnt·sz), a BIGINT, and the basis
    * points are one integer division at the end — no float accumulates
    * across rows. (At ≥1e9 rows the cnt·N products outgrow BIGINT and the
    * lattice needs a DECIMAL(38,0) widening, the same move
    * rel_table_checksum documents; group/band counts themselves stay
    * bounded by |QI| × m.)
    *
    * Shape at 100 TB: two aggregates over the fact rows (per-cell and
    * per-group), one broadcast of the m-row global band table, and a
    * window over the |QI| × m grid — the grid is cardinality-bounded
    * (thousands of rows), never fact-sized, and the band window is
    * partitioned per group with m-row partitions.
    */
  def tCloseness(customer: DataFrame, tBp: Long): DataFrame = {
    val rows = customer.select(col("c_mktsegment"), col("c_nationkey"),
      floor(col("c_acctbal") / 2000).cast("bigint").as("bal_band"))
    val groups = rows.groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("sz"))
    val bands = rows.groupBy("bal_band").agg(count(lit(1)).as("gcnt"))
    val scalars = rows.agg(count(lit(1)).as("n_total"),
      count_distinct(col("bal_band")).as("m"))
    val cells = rows.groupBy("c_mktsegment", "c_nationkey", "bal_band")
      .agg(count(lit(1)).as("cnt"))
    val grid = groups
      .crossJoin(broadcast(bands))
      .join(cells, Seq("c_mktsegment", "c_nationkey", "bal_band"), "left")
      .select(col("c_mktsegment"), col("c_nationkey"), col("bal_band"),
        col("sz"), col("gcnt"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .crossJoin(broadcast(scalars))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment", "c_nationkey").orderBy("bal_band")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val emd = grid
      .select(col("c_mktsegment"), col("c_nationkey"), col("sz"),
        col("n_total"), col("m"),
        abs(sum(col("cnt") * col("n_total") - col("gcnt") * col("sz")).over(w))
          .as("abs_cum"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(first(col("sz")).as("sz"), first(col("n_total")).as("n_total"),
        first(col("m")).as("m"), sum(col("abs_cum")).as("emd_num"))
      .select(col("c_mktsegment"), col("sz"),
        expr("CASE WHEN m <= 1 THEN CAST(0 AS BIGINT) " +
          "ELSE (10000 * emd_num) div (sz * n_total * (m - 1)) END").as("emd_bp"))
    emd.groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_groups"),
        max(col("emd_bp")).as("max_emd_bp"),
        sum(when(col("emd_bp") > tBp, 1L).otherwise(0L)).as("n_loose_groups"),
        sum(when(col("emd_bp") > tBp, col("sz")).otherwise(0L)).as("n_rows_at_risk"))
      .orderBy("segment")
  }

  /** 3·2^20 — the exact-lattice denominator of the α = 1/2 two-sided
    * geometric CDF (every CDF value of that distribution is a dyadic
    * rational over 3, so u·T thresholds are exact BIGINTs).
    */
  private[graft] val GeoT = 3145728L

  /** Ascending (upper-exclusive threshold·T, z) ladder of the α = 1/2
    * two-sided geometric CDF, tails collapsed at |z| = 8 (tail mass
    * 2^-8/3 ≈ 0.13% per side): F(−k)·T = 2^(21−k) for k ≥ 1,
    * F(k)·T = T − 2^(20−k) for k ≥ 0. THE single definition both the
    * Column ladder and the oracle CASE interpolate, so the mechanism
    * cannot drift between engines.
    */
  private[graft] val geoLadder: Seq[(Long, Int)] =
    (-8 to -1).map(z => (1L << (21 + z), z)) ++
      (0 to 7).map(z => (GeoT - (1L << (20 - z)), z))

  /** Inverse-CDF draw of the two-sided geometric noise from a uniform
    * BIGINT u ∈ [0, GeoT), as a nested-when Column (checks thresholds
    * ascending, first hit wins — same semantics as the SQL CASE).
    */
  private[graft] def geoNoise(u: Column): Column =
    geoLadder.reverse.foldLeft(lit(8L): Column) { case (acc, (thr, z)) =>
      when(u < thr, lit(z.toLong)).otherwise(acc)
    }

  /** The same ladder as an ANSI CASE over a uniform column expression. */
  private def geoNoiseSql(u: String): String =
    "CASE " +
      geoLadder.map { case (thr, z) => s"WHEN $u < $thr THEN $z" }.mkString(" ") +
      " ELSE 8 END"

  /** Candidate lattice for [[dpExponentialMedian]]: $100 account-balance
    * bands covering TPC-H's c_acctbal domain [-999.99, 9999.99] — a FIXED
    * public grid (independent of the data), as the exponential mechanism
    * requires of its output range.
    */
  private[graft] val MedBandLo = -10L
  private[graft] val MedBandHi = 99L

  /** Per-user contribution bound for rel_dp_user — the ONE constant the
    * Spark call, the oracle's rank cut, and the sensitivity statement all
    * derive from.
    */
  private[graft] val DpUserC = 5

  /** k for [[dpTopK]] — release the k most frequent brands. */
  private[graft] val DpTopK = 5

  /** Per-doc distinct-bigram contribution cap for [[dpVocabRelease]] — the
    * ONE constant the Spark rank cut, the oracle, and the ε statement all
    * derive from (the [[DpUserC]] convention).
    */
  private[graft] val DpVocabC = 20

  /** Stability threshold Γ for [[dpVocabRelease]]: a key is released only
    * if its noised bounded count reaches Γ.
    */
  private[graft] val DpVocabGamma = 10

  /** 131-polynomial rolling hash of a string column mod 1e9+7, as a SQL
    * expression both engines state identically (exact BIGINT at every
    * step: acc < 1e9+7, acc·131 + 127 < 2^63). Drives the per-KEY uniform
    * for [[dpVocabRelease]]'s noise draw, where the release key is a
    * string with no integer surrogate.
    */
  private def polyHashExprSpark(c: String): String =
    s"aggregate(sequence(1, length($c)), 7L, " +
      s"(a, i) -> (a * 131L + ascii(substring($c, i, 1))) % 1000000007L)"

  private def polyHashExprDuck(c: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(generate_series(1, length($c)), " +
      s"i -> CAST(ascii($c[i]) AS BIGINT))), (a, x) -> (a * 131 + x) % 1000000007)"

  /** Quantile vector (integer percents) for [[dpExponentialQuantiles]]. */
  private[graft] val DpQuantiles = Seq(25, 50, 75)

  val queries: Seq[QueryDef] = Seq(

    QueryDef("tx_pii_redact",
      // spread: the chained per-row regex passes otherwise run in the
      // single-partition scan stage (see Tables.spread; solo 1.45->0.99s)
      (s, d) => piiRedact(graft.Tables.spread(T(s, d, "documents"))).orderBy("doc_id"),
      Some(s"""WITH enriched AS (SELECT doc_id, $plantPiiSql AS t FROM documents),
             |staged AS (SELECT doc_id, t,
             |             regexp_replace(t, '$EmailRe', '[EMAIL]', 'g') AS t1
             |           FROM enriched),
             |staged2 AS (SELECT *,
             |              regexp_replace(t1, '$Ipv4Re', '[IP]', 'g') AS t2
             |            FROM staged)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_email,
             |       CAST(len(regexp_extract_all(t1, '$Ipv4Re')) AS BIGINT) AS n_ip,
             |       CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phone,
             |       CAST(length(t) - length(
             |         regexp_replace(t2, '$PhoneRe', '[PHONE]', 'g')) AS BIGINT)
             |         AS n_chars_removed
             |FROM staged2 ORDER BY doc_id""".stripMargin)),

    QueryDef("rel_kanonymity",
      (s, d) => kAnonymity(T(s, d, "customer"), k = 5),
      Some("""WITH qi AS (SELECT c_mktsegment, c_nationkey,
             |                   CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             |                   count(*) AS sz
             |            FROM customer GROUP BY ALL)
             |SELECT c_mktsegment AS segment,
             |       count(*) AS n_groups,
             |       min(sz) AS min_group_size,
             |       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
             |       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk
             |FROM qi GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("rel_ldiversity",
      (s, d) => lDiversity(T(s, d, "customer"), l = 3),
      Some("""WITH qi AS (SELECT c_mktsegment, c_nationkey, count(*) AS sz,
             |                   count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS nsv
             |            FROM customer GROUP BY 1, 2)
             |SELECT c_mktsegment AS segment,
             |       count(*) AS n_groups,
             |       min(nsv) AS min_diversity,
             |       CAST(sum(CASE WHEN nsv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_groups,
             |       CAST(sum(CASE WHEN nsv < 3 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk
             |FROM qi GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("rel_tcloseness",
      (s, d) => tCloseness(T(s, d, "customer"), tBp = 2000),
      Some("""WITH rows_ AS (SELECT c_mktsegment, c_nationkey,
             |                      CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
             |               FROM customer),
             |grp AS (SELECT c_mktsegment, c_nationkey, count(*) AS sz
             |        FROM rows_ GROUP BY 1, 2),
             |bnd AS (SELECT bal_band, count(*) AS gcnt FROM rows_ GROUP BY 1),
             |sc AS (SELECT count(*) AS n_total,
             |              count(DISTINCT bal_band) AS m FROM rows_),
             |cel AS (SELECT c_mktsegment, c_nationkey, bal_band, count(*) AS cnt
             |        FROM rows_ GROUP BY 1, 2, 3),
             |grid AS (SELECT g.c_mktsegment, g.c_nationkey, b.bal_band, g.sz,
             |                b.gcnt, coalesce(c.cnt, 0) AS cnt, sc.n_total, sc.m
             |         FROM grp g CROSS JOIN bnd b CROSS JOIN sc
             |         LEFT JOIN cel c ON c.c_mktsegment = g.c_mktsegment
             |                        AND c.c_nationkey = g.c_nationkey
             |                        AND c.bal_band = b.bal_band),
             |cum AS (SELECT c_mktsegment, c_nationkey, sz, n_total, m,
             |               abs(sum(cnt * n_total - gcnt * sz) OVER (
             |                 PARTITION BY c_mktsegment, c_nationkey
             |                 ORDER BY bal_band
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |                 AS abs_cum
             |        FROM grid),
             |emd AS (SELECT c_mktsegment, any_value(sz) AS sz,
             |               CAST(CASE WHEN any_value(m) <= 1 THEN 0
             |                    ELSE (10000 * sum(abs_cum)) //
             |                         (any_value(sz) * any_value(n_total) *
             |                          (any_value(m) - 1)) END AS BIGINT) AS emd_bp
             |        FROM cum GROUP BY c_mktsegment, c_nationkey)
             |SELECT c_mktsegment AS segment,
             |       count(*) AS n_groups,
             |       max(emd_bp) AS max_emd_bp,
             |       CAST(sum(CASE WHEN emd_bp > 2000 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_loose_groups,
             |       CAST(sum(CASE WHEN emd_bp > 2000 THEN sz ELSE 0 END) AS BIGINT)
             |         AS n_rows_at_risk
             |FROM emd GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("rel_dp_release",
      (s, d) => dpGeometricRelease(T(s, d, "customer")),
      Some(s"""WITH g AS (SELECT c_nationkey, count(*) AS n
             |           FROM customer GROUP BY 1),
             |u AS (SELECT c_nationkey, n,
             |             ((CAST(c_nationkey AS BIGINT) & 2147483647)
             |              * 2654435761 + 98765) % 1000000007 % $GeoT AS uu
             |      FROM g)
             |SELECT c_nationkey,
             |       CAST(greatest(n + ${geoNoiseSql("uu")}, 0) AS BIGINT)
             |         AS n_released
             |FROM u ORDER BY c_nationkey""".stripMargin)),

    QueryDef("rel_rr_estimate",
      (s, d) => rrEstimate(T(s, d, "customer")),
      Some(s"""WITH r AS (
             |  SELECT c_mktsegment,
             |         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS truth,
             |         ((CAST(c_custkey AS BIGINT) & 2147483647)
             |          * 2654435761 + 424243) % 1000000007 % 4 AS coin
             |  FROM customer),
             |rep AS (SELECT c_mktsegment, truth,
             |               CASE WHEN coin <= 1 THEN truth
             |                    WHEN coin = 2 THEN 1 ELSE 0 END AS reported
             |        FROM r)
             |SELECT c_mktsegment AS segment, count(*) AS n,
             |       CAST(sum(reported) AS BIGINT) AS n_reported_yes,
             |       CAST((2 * sum(reported) * 1000000) // count(*)
             |            - 500000 AS BIGINT) AS est_yes_ppm,
             |       CAST((sum(truth) * 1000000) // count(*) AS BIGINT)
             |         AS true_yes_ppm
             |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin)),

    // USER-level DP release (contribution bounding) — the guarantee
    // rel_dp_release can't claim: cap each customer to DpUserC orders via
    // a deterministic Knuth-hash rank, so one user — however many orders
    // they own — moves the released per-priority count vector by <= C
    // (L1 sensitivity = C), then the same exact-lattice geometric ladder.
    // See PrivacyQueries.dpUserLevelRelease for the epsilon accounting.
    QueryDef("rel_dp_user",
      (s, d) => dpUserLevelRelease(T(s, d, "orders"), c = DpUserC),
      Some(s"""WITH rk AS (
             |  SELECT o_orderpriority,
             |         row_number() OVER (PARTITION BY o_custkey
             |           ORDER BY ${graft.functions.HashFns.knuthUSql("o_orderkey")},
             |                    o_orderkey) AS rk
             |  FROM orders),
             |g AS (SELECT o_orderpriority AS priority, count(*) AS n_raw,
             |             CAST(sum(CASE WHEN rk <= $DpUserC THEN 1 ELSE 0 END)
             |                  AS BIGINT) AS n_bounded
             |      FROM rk GROUP BY 1),
             |u AS (SELECT priority, n_raw, n_bounded,
             |             ((CAST(substr(priority, 1, 1) AS BIGINT) & 2147483647)
             |              * 2654435761 + 31337) % 1000000007 % $GeoT AS uu
             |      FROM g)
             |SELECT priority, n_raw, n_bounded,
             |       CAST(greatest(n_bounded + ${geoNoiseSql("uu")}, 0) AS BIGINT)
             |         AS n_released
             |FROM u ORDER BY priority""".stripMargin)),

    // Exponential-mechanism DP release of a NON-count statistic — the
    // median balance band per segment (the geometric mechanism covers
    // counts; argmax/median releases need the exponential mechanism).
    // Race (Gumbel-max) form: released = argmin(d − z) with z the
    // trailing-zero count of the per-(segment, band) hash — a
    // Geometric(1/2) draw, the integer floor of the Exp(ln 2) race noise
    // — so only utility DIFFERENCES enter and the release stays exact
    // BIGINT at any d scale. See dpExponentialMedian.
    QueryDef("rel_dp_median",
      (s, d) => dpExponentialMedian(T(s, d, "customer")),
      Some(s"""WITH rows_ AS (SELECT c_mktsegment AS segment,
             |                      CAST(floor(c_acctbal / 100) AS BIGINT) AS band
             |               FROM customer),
             |segs AS (SELECT segment, count(*) AS n FROM rows_ GROUP BY 1),
             |grid AS (SELECT segment, n, gb.band
             |         FROM segs CROSS JOIN (SELECT unnest(generate_series(
             |                $MedBandLo, $MedBandHi)) AS band) gb),
             |cnt AS (SELECT segment, band, count(*) AS c FROM rows_ GROUP BY 1, 2),
             |g AS (SELECT grid.segment, grid.n, grid.band,
             |             coalesce(cnt.c, 0) AS c
             |      FROM grid LEFT JOIN cnt USING (segment, band)),
             |w AS (SELECT *,
             |             CAST(sum(c) OVER (PARTITION BY segment ORDER BY band)
             |                  AS BIGINT) AS cum,
             |             CAST(abs(2 * (sum(c) OVER (PARTITION BY segment
             |                                        ORDER BY band)
             |                      - c) + c - n) AS BIGINT) AS d
             |      FROM g),
             |u AS (SELECT *,
             |             ((CAST(ascii(substr(segment, 1, 1)) AS BIGINT) & 2147483647)
             |              * 2654435761 + (band + 11) * 97781 + 131071)
             |              % 1000000007 + 1 AS h1
             |      FROM w),
             |z_ AS (SELECT *,
             |              CAST(bit_count((h1 & (-h1)) - 1) AS BIGINT) AS z
             |       FROM u),
             |rel AS (SELECT segment,
             |               (min({'key': d - z, 'd': d, 'band': band, 'z': z})).band
             |                 AS released_band,
             |               (min({'key': d - z, 'd': d, 'band': band, 'z': z})).d
             |                 AS d_released,
             |               (min({'key': d - z, 'd': d, 'band': band, 'z': z})).z
             |                 AS noise_bits
             |        FROM z_ GROUP BY 1),
             |med AS (SELECT segment, min(band) AS true_med_band, max(n) AS n
             |        FROM z_ WHERE 2 * cum >= n GROUP BY 1)
             |SELECT med.segment, med.n, med.true_med_band,
             |       rel.released_band, rel.d_released, rel.noise_bits
             |FROM med JOIN rel USING (segment)
             |ORDER BY segment""".stripMargin)),

    // DP top-k selection — one-shot exponential race over per-brand
    // counts (Durfee & Rogers 2019): rank by count + trailing-zero
    // geometric race noise, take the k best, then release each winner's
    // count through the geometric ladder. See dpTopK for the peeling
    // equivalence and budget accounting.
    QueryDef("rel_dp_topk",
      (s, d) => dpTopK(T(s, d, "part"), k = DpTopK),
      Some(s"""WITH g AS (SELECT p_brand AS brand, count(*) AS n_raw,
             |                  CAST(substr(p_brand, 7) AS BIGINT)
             |                    & 2147483647 AS b
             |           FROM part GROUP BY 1, 3),
             |h AS (SELECT brand, n_raw,
             |             (b * 2654435761 + 777) % 1000000007 + 1 AS h1,
             |             (b * 2654435761 + 12345) % 1000000007 % $GeoT AS uu
             |      FROM g),
             |z_ AS (SELECT brand, n_raw, uu,
             |              CAST(bit_count((h1 & (-h1)) - 1) AS BIGINT) AS z
             |       FROM h),
             |rk AS (SELECT *,
             |              row_number() OVER (ORDER BY n_raw + z DESC,
             |                                 n_raw DESC, brand ASC) AS rank
             |       FROM z_)
             |SELECT CAST(rank AS BIGINT) AS rank, brand, n_raw,
             |       z AS noise_bits,
             |       CAST(greatest(n_raw + ${geoNoiseSql("uu")}, 0) AS BIGINT)
             |         AS n_released
             |FROM rk WHERE rank <= $DpTopK ORDER BY rank""".stripMargin)),

    // DP quantile vector — per (segment, q in {25,50,75}) exponential
    // race on the percent-scaled utility lattice; the q = 50 race is the
    // median race at 100x scale. See dpExponentialQuantiles.
    // DP partition selection over the documents vocabulary: release each
    // bigram's contribution-bounded doc-count through the geometric
    // ladder, but only if the noised count clears the stability threshold
    // — the unknown-domain release (which KEYS exist is itself private)
    // that rel_dp_release's fixed public key domain never faces.
    // Suppressed bigrams leave no row. See dpVocabRelease for the
    // (c·ln 2, δ) accounting.
    QueryDef("tx_dp_vocab",
      (s, d) => dpVocabRelease(T(s, d, "documents")),
      Some(s"""WITH tt AS (SELECT doc_id,
             |              ${graft.functions.TextFns.tokensSqlDuckDB("text")} AS t
             |            FROM documents),
             |bg AS (SELECT doc_id, i, t[i] || ' ' || t[i+1] AS b
             |       FROM (SELECT doc_id, t,
             |                    unnest(generate_series(1, len(t) - 1)) AS i
             |             FROM tt WHERE len(t) >= 2)),
             |fstp AS (SELECT doc_id, b, min(i) AS fp FROM bg GROUP BY 1, 2),
             |cap AS (SELECT doc_id, b FROM (
             |          SELECT doc_id, b, row_number() OVER (
             |            PARTITION BY doc_id ORDER BY fp, b) AS rn
             |          FROM fstp) q WHERE rn <= $DpVocabC),
             |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS n
             |        FROM cap GROUP BY 1),
             |u AS (SELECT b, n,
             |        ${polyHashExprDuck("b")} % $GeoT AS uu
             |      FROM cnt)
             |SELECT b AS bigram, n + ${geoNoiseSql("uu")} AS n_released
             |FROM u WHERE n + ${geoNoiseSql("uu")} >= $DpVocabGamma
             |ORDER BY bigram""".stripMargin)),

    QueryDef("rel_dp_quantiles",
      (s, d) => dpExponentialQuantiles(T(s, d, "customer"), qs = DpQuantiles),
      Some(s"""WITH rows_ AS (SELECT c_mktsegment AS segment,
             |                      CAST(floor(c_acctbal / 100) AS BIGINT) AS band
             |               FROM customer),
             |segs AS (SELECT segment, count(*) AS n FROM rows_ GROUP BY 1),
             |grid AS (SELECT segment, n, gb.band
             |         FROM segs CROSS JOIN (SELECT unnest(generate_series(
             |                $MedBandLo, $MedBandHi)) AS band) gb),
             |cnt AS (SELECT segment, band, count(*) AS c FROM rows_ GROUP BY 1, 2),
             |g AS (SELECT grid.segment, grid.n, grid.band,
             |             coalesce(cnt.c, 0) AS c
             |      FROM grid LEFT JOIN cnt USING (segment, band)),
             |w AS (SELECT *,
             |             CAST(sum(c) OVER (PARTITION BY segment ORDER BY band)
             |                  AS BIGINT) AS cum
             |      FROM g),
             |wq AS (SELECT w.*, qq.q,
             |              CAST(abs(100 * (2 * (cum - c) + c) - 2 * qq.q * n)
             |                   AS BIGINT) AS d
             |       FROM w CROSS JOIN (SELECT unnest([${DpQuantiles.mkString(", ")}]
             |              ::BIGINT[]) AS q) qq),
             |u AS (SELECT *,
             |             ((CAST(ascii(substr(segment, 1, 1)) AS BIGINT) & 2147483647)
             |              * 2654435761 + (band + 11) * 97781
             |              + q * 50021 + 131071) % 1000000007 + 1 AS h1
             |      FROM wq),
             |z_ AS (SELECT *,
             |              CAST(bit_count((h1 & (-h1)) - 1) AS BIGINT) AS z
             |       FROM u),
             |rel AS (SELECT segment, q,
             |               (min({'key': d - 200 * z, 'd': d, 'band': band,
             |                     'z': z})).band AS released_band,
             |               (min({'key': d - 200 * z, 'd': d, 'band': band,
             |                     'z': z})).d AS d_released,
             |               (min({'key': d - 200 * z, 'd': d, 'band': band,
             |                     'z': z})).z AS noise_bits
             |        FROM z_ GROUP BY 1, 2),
             |tq AS (SELECT segment, q, min(band) AS true_band, max(n) AS n
             |       FROM z_ WHERE 100 * cum >= q * n GROUP BY 1, 2)
             |SELECT tq.segment, tq.q, tq.n, tq.true_band,
             |       rel.released_band, rel.d_released, rel.noise_bits
             |FROM tq JOIN rel USING (segment, q)
             |ORDER BY segment, q""".stripMargin))
  )

  /** LOCAL-DP prevalence estimation via randomized response (Warner 1965
    * — the mechanism local DP grew from, and the one a data collector runs
    * when it must never SEE the true bit): each row reports its sensitive
    * bit (here: negative account balance) truthfully with probability 1/2
    * and a fair coin otherwise (ε = ln 3 local), and the collector debiases
    * the aggregate: p̂ = 2·p_reported − 1/2. Everything is exact integer
    * arithmetic — the coin is two bits of the masked multiplicative hash
    * (the [[Graph.randomWalks]] deterministic-RNG-stand-in posture; a
    * production collector draws device randomness) and the estimate one
    * integer division to ppm. `true_yes_ppm` rides along as the
    * calibration column a mechanism AUDIT compares against — it exists on
    * the curator side only; a real collector never has it.
    *
    * Scale shape: one narrow projection per row (codegen'd hash + CASE),
    * then one groupBy on the release key — the local-DP transform adds
    * zero shuffle beyond the aggregate that was already there.
    */
  def rrEstimate(customer: DataFrame): DataFrame = {
    val coin = pmod(
      col("c_custkey").cast("bigint").bitwiseAND(lit(2147483647L))
        * lit(2654435761L) + lit(424243L), lit(1000000007L)) % lit(4L)
    val truth = when(col("c_acctbal") < 0, 1L).otherwise(0L)
    customer
      .select(col("c_mktsegment"), truth.as("truth"), coin.as("coin"))
      .select(col("c_mktsegment"), col("truth"),
        when(col("coin") <= 1, col("truth"))
          .when(col("coin") === 2, 1L).otherwise(0L).as("reported"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum(col("reported")).as("n_reported_yes"),
        sum(col("truth")).as("nt"))
      .select(col("segment"), col("n"), col("n_reported_yes"),
        expr("(2 * n_reported_yes * 1000000) div n - 500000").as("est_yes_ppm"),
        expr("(nt * 1000000) div n").as("true_yes_ppm"))
      .orderBy("segment")
  }

  /** Differentially-private count release via the geometric mechanism
    * (Ghosh, Roughgarden & Sundararajan 2009 — the discrete Laplace, and
    * the UTILITY-OPTIMAL mechanism for sensitivity-1 counts): per-nation
    * customer counts plus two-sided geometric noise with α = 1/2
    * (ε = ln 2 per release), clamped at 0 (post-processing, privacy-free).
    * The noise draw is inverse-CDF over an exact dyadic lattice — every
    * threshold is an integer, so the released table is a pure BIGINT
    * function of the data that both engines replay bit-for-bit. The
    * uniform input is the masked multiplicative hash of the group key —
    * the same deterministic RNG stand-in posture as [[Graph.randomWalks]]
    * (a production release would draw real randomness; the pipeline,
    * sensitivity accounting, ladder, and clamp are what this operator
    * carries, and the gate needs the draw replayable).
    *
    * Scale shape: one groupBy on the release key, then O(groups) pure
    * projection — the noise is per-GROUP, so the mechanism adds zero
    * fact-table work at any scale.
    */
  def dpGeometricRelease(customer: DataFrame): DataFrame = {
    val u = pmod(
      col("c_nationkey").cast("bigint").bitwiseAND(lit(2147483647L))
        * lit(2654435761L) + lit(98765L), lit(1000000007L)) % lit(GeoT)
    customer.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      .select(col("c_nationkey"),
        greatest(col("n") + geoNoise(u), lit(0L)).as("n_released"))
      .orderBy("c_nationkey")
  }

  /** USER-level differentially-private count release — the contribution-
    * bounded form a training-data release actually needs (row-level DP
    * like [[dpGeometricRelease]] protects one ROW; a user with 1000 orders
    * is protected only at ε × 1000). Standard two-step recipe (Wilson et
    * al. 2020, "Differentially Private SQL with Bounded User Contribution",
    * PETS): (1) cap each user's contribution to `c` rows via a
    * DETERMINISTIC hash-rank — row_number per user ordered by the Knuth
    * hash of the row key (an unbiased, replayable stand-in for random
    * reservoir selection), keep rank ≤ c — so removing or adding ANY one
    * user, however many rows they own, moves the whole released vector by
    * at most c (L1 sensitivity = c); (2) release per-group bounded counts
    * through the α = 1/2 geometric ladder. With unscaled ladder noise the
    * guarantee is user-level ε = c·ln 2 (sensitivity-c release through a
    * ln 2-per-unit mechanism); a production release targeting a fixed ε
    * would widen the noise to α = 2^(−1/c), which leaves the exact dyadic
    * lattice — the accounting, not the mechanism shape, is what changes.
    * Output per group: raw count (curator-side audit column, the
    * [[dpExponentialMedian]] true_med convention), bounded count, and the
    * noised release.
    *
    * Scale shape: one hash partition by user for the rank-and-cap window
    * (partitions bounded by per-user row count), one groupBy on the
    * release key, then O(groups) noise projection — no step beyond the
    * standard aggregate's shuffle.
    */
  def dpUserLevelRelease(orders: DataFrame, c: Int = 5): DataFrame = {
    require(c >= 1, s"contribution bound must be >= 1, got $c")
    val byUser = Window.partitionBy("o_custkey")
      .orderBy(graft.functions.HashFns.knuthU(col("o_orderkey")).asc,
        col("o_orderkey").asc)
    val u = pmod(
      substring(col("priority"), 1, 1).cast("bigint")
        .bitwiseAND(lit(2147483647L)) * lit(2654435761L) + lit(31337L),
      lit(1000000007L)) % lit(GeoT)
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
      .withColumn("rk", row_number().over(byUser))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_raw"),
        sum((col("rk") <= c).cast("bigint")).as("n_bounded"))
      .select(col("priority"), col("n_raw"), col("n_bounded"),
        greatest(col("n_bounded") + geoNoise(u), lit(0L)).as("n_released"))
      .orderBy("priority")
  }

  /** Differentially-private MEDIAN release via the exponential mechanism
    * (McSherry & Talwar 2007) in its RACE (Gumbel-max) form — the
    * non-count sibling of [[dpGeometricRelease]]: per market segment,
    * release the $100 account-balance band minimizing d(r) − z_r, where
    * the utility distance d(r) = |2·#{bal < r} + #{bal ∈ r} − n| measures
    * how unbalanced the split around candidate r is (adding or removing
    * one row changes d by ≤ 1, so Δu = 1) and z_r is an independent
    * per-candidate Geometric(1/2) draw — the integer floor of an
    * Exp(ln 2) race noise, extracted as the TRAILING-ZERO count of the
    * per-(segment, band) hash via the exact bit identity
    * z = bit_count((h & −h) − 1). Argmin of (d − z) with ties on (d,
    * band) is the base-2 exponential race: the un-quantized form releases
    * r with probability ∝ 2^(−d(r)) = exp(ε·u/2) at ε = 2·ln 2, and the
    * floor-quantized z distorts each candidate's win odds by at most 2×
    * each way — conservatively ε ≤ 4·ln 2.
    *
    * Why the race and not an inverse-CDF over 2^(−d) weights (the r13
    * review's catch): the weight ladder spans 2^(d_max − d_min), which
    * outgrows any fixed-width integer as soon as the lattice's best
    * candidate is far from an exact median — on a $100 grid d_min ≈ the
    * median band's own row count, i.e. HUNDREDS at sf1 — so a capped
    * ladder degenerates to a utility-blind uniform draw and a modular
    * draw undershoots the weight sum. The race compares only DIFFERENCES
    * d − z (bounded by the lattice spread), so it is exact at any scale
    * with plain BIGINTs. The hash is the deterministic uniform stand-in
    * (the [[Graph.randomWalks]] posture — a production release draws real
    * randomness; the candidate grid, utility, sensitivity accounting, and
    * race rule are what this operator carries).
    *
    * Output per segment: n, the true median band (curator-side audit
    * column), the released band, its utility distance, and the noise bits
    * the winner drew.
    *
    * Scale shape: one groupBy on (segment, band) over the facts, then
    * everything runs on the FIXED segments × 110-band grid — O(groups),
    * never fact-sized; the mechanism adds zero scans beyond the one
    * aggregate.
    */
  def dpExponentialMedian(customer: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    val rows = customer.select(col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 100).cast("bigint").as("band"))
    val segs = rows.groupBy("segment").agg(count(lit(1)).as("n"))
    // literal local 110-row lattice (LocalTableScan, inside PlanAudit's
    // LiteralTableRows cap for a nested-loop build, unlike a Range exec)
    val bands = spark.createDataset(MedBandLo to MedBandHi)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("band")
    val grid = segs.crossJoin(broadcast(bands))
    val cnt = rows.groupBy("segment", "band").agg(count(lit(1)).as("c"))
    val g = grid.join(cnt, Seq("segment", "band"), "left")
      .select(col("segment"), col("n"), col("band"),
        coalesce(col("c"), lit(0L)).as("c"))
    val byBand = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy("band")
    val w = g
      .withColumn("cum", sum(col("c")).over(byBand))
      .withColumn("d", abs(lit(2L) * (col("cum") - col("c")) + col("c") - col("n")))
      // h1 in [1, 1e9+7]: per-(segment, band) masked multiplicative hash
      .withColumn("h1", pmod(
        ascii(substring(col("segment"), 1, 1)).cast("bigint")
          .bitwiseAND(lit(2147483647L)) * lit(2654435761L)
          + (col("band") + lit(11L)) * lit(97781L) + lit(131071L),
        lit(1000000007L)) + lit(1L))
      // z = trailing zeros of h1: (h1 & -h1) isolates the lowest set bit,
      // minus 1 yields z set bits — Geometric(1/2) over a uniform draw
      .withColumn("z", expr("CAST(bit_count((h1 & -h1) - 1) AS BIGINT)"))
      .withColumn("key", col("d") - col("z"))
    val released = w
      .groupBy("segment")
      .agg(min(struct(col("key"), col("d"), col("band"), col("z"))).as("r"))
      .select(col("segment"), col("r.band").as("released_band"),
        col("r.d").as("d_released"), col("r.z").as("noise_bits"))
    val trueMed = w.filter(lit(2L) * col("cum") >= col("n"))
      .groupBy("segment")
      .agg(min(col("band")).as("true_med_band"), max(col("n")).as("n"))
    trueMed.join(released, "segment")
      .select(col("segment"), col("n"), col("true_med_band"),
        col("released_band"), col("d_released"), col("noise_bits"))
      .orderBy("segment")
  }

  /** Differentially-private TOP-K selection via the one-shot exponential
    * race (Durfee & Rogers 2019, "Practical Differentially Private Top-k
    * Selection with Pay-what-you-get Composition": adding independent
    * noise to every candidate's count and taking the k largest noisy
    * values in ONE shot is distributionally identical to k sequential
    * exponential-mechanism peels): per-brand part counts n_b, race key
    * n_b + z_b with z_b the trailing-zero Geometric(1/2) draw of the
    * per-brand hash (the integer floor of the Exp(ln 2) Gumbel-race noise
    * — same quantization argument as [[dpExponentialMedian]], ε ≤ 4·ln 2
    * per peel, k peels by pay-what-you-get composition), ranked by
    * (key desc, n desc, brand asc). Each winner's count is then released
    * through the α = 1/2 geometric ladder — the rank order and the count
    * value are SEPARATE releases with separate budget lines. n_raw rides
    * along as the curator-side audit column ([[dpExponentialMedian]]'s
    * true_med convention).
    *
    * Scale shape: one groupBy on the candidate key over the facts, then
    * the race, rank, and noise all run on the O(candidates) aggregate —
    * 25 rows here, never fact-sized; the mechanism adds zero scans beyond
    * the one aggregate. The rank window is a single partition over those
    * 25 rows, not over facts.
    */
  def dpTopK(part: DataFrame, k: Int = DpTopK): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val b = substring(col("brand"), 7, 10).cast("bigint")
      .bitwiseAND(lit(2147483647L))
    val g = part.groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_raw"))
      .withColumn("h1",
        pmod(b * lit(2654435761L) + lit(777L), lit(1000000007L)) + lit(1L))
      .withColumn("z", expr("CAST(bit_count((h1 & -h1) - 1) AS BIGINT)"))
      .withColumn("key", col("n_raw") + col("z"))
    val u = pmod(b * lit(2654435761L) + lit(12345L), lit(1000000007L)) % lit(GeoT)
    val byKey = Window.orderBy(col("key").desc, col("n_raw").desc, col("brand").asc)
    g.withColumn("rank", row_number().over(byKey))
      .filter(col("rank") <= k)
      .select(col("rank").cast("bigint").as("rank"), col("brand"),
        col("n_raw"), col("z").as("noise_bits"),
        greatest(col("n_raw") + geoNoise(u), lit(0L)).as("n_released"))
      .orderBy("rank")
  }

  /** Differentially-private QUANTILE VECTOR release — the multi-quantile
    * generalization of [[dpExponentialMedian]] (one exponential-mechanism
    * race per requested quantile, budget split across the vector; Smith
    * 2011's smooth-sensitivity quantiles are the continuous relative):
    * per (segment, q ∈ qs), release the $100 balance band minimizing
    * d_q(r) − 200·z_r where the utility distance
    * d_q(r) = |100·(2·#{bal < r} + #{bal ∈ r}) − 2·q·n| is the median
    * race's d scaled onto the integer lattice of percents (at q = 50 it
    * is exactly 100× the median's d). Adding or removing one row moves
    * d_q by at most 200, so the race noise is scaled to match
    * (key = d − 200·z, i.e. Δu = 200 units per z bit — the same
    * conservative ε ≤ 4·ln 2 PER QUANTILE as the median race; a vector
    * release composes over |qs|). z is the trailing-zero Geometric(1/2)
    * draw of the per-(segment, band, q) hash, so the three races are
    * independent.
    *
    * Output per (segment, q): n, the true q-th band (curator-side audit
    * column: min band with 100·cum ≥ q·n), the released band, its
    * utility distance, and the winner's noise bits.
    *
    * Scale shape: identical to [[dpExponentialMedian]] — one (segment,
    * band) groupBy over the facts, then everything runs on the FIXED
    * segments × 110-band × |qs| grid, O(groups), never fact-sized.
    */
  def dpExponentialQuantiles(customer: DataFrame,
                             qs: Seq[Int] = DpQuantiles): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 99),
      s"quantiles must be integer percents in [1, 99], got $qs")
    val spark = customer.sparkSession
    val rows = customer.select(col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 100).cast("bigint").as("band"))
    val segs = rows.groupBy("segment").agg(count(lit(1)).as("n"))
    val bands = spark.createDataset(MedBandLo to MedBandHi)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("band")
    val qdf = spark.createDataset(qs.map(_.toLong))(
      org.apache.spark.sql.Encoders.scalaLong).toDF("q")
    val cnt = rows.groupBy("segment", "band").agg(count(lit(1)).as("c"))
    val g = segs.crossJoin(broadcast(bands))
      .join(cnt, Seq("segment", "band"), "left")
      .select(col("segment"), col("n"), col("band"),
        coalesce(col("c"), lit(0L)).as("c"))
    val byBand = Window.partitionBy("segment").orderBy("band")
    val w = g
      .withColumn("cum", sum(col("c")).over(byBand))
      .crossJoin(broadcast(qdf))
      .withColumn("d", abs(lit(100L) * (lit(2L) * (col("cum") - col("c")) + col("c"))
        - lit(2L) * col("q") * col("n")))
      .withColumn("h1", pmod(
        ascii(substring(col("segment"), 1, 1)).cast("bigint")
          .bitwiseAND(lit(2147483647L)) * lit(2654435761L)
          + (col("band") + lit(11L)) * lit(97781L)
          + col("q") * lit(50021L) + lit(131071L),
        lit(1000000007L)) + lit(1L))
      .withColumn("z", expr("CAST(bit_count((h1 & -h1) - 1) AS BIGINT)"))
      .withColumn("key", col("d") - lit(200L) * col("z"))
    val released = w
      .groupBy("segment", "q")
      .agg(min(struct(col("key"), col("d"), col("band"), col("z"))).as("r"))
      .select(col("segment"), col("q"), col("r.band").as("released_band"),
        col("r.d").as("d_released"), col("r.z").as("noise_bits"))
    val trueQ = w.filter(lit(100L) * col("cum") >= col("q") * col("n"))
      .groupBy("segment", "q")
      .agg(min(col("band")).as("true_band"), max(col("n")).as("n"))
    trueQ.join(released, Seq("segment", "q"))
      .select(col("segment"), col("q"), col("n"), col("true_band"),
        col("released_band"), col("d_released"), col("noise_bits"))
      .orderBy("segment", "q")
  }

  /** Differentially-private VOCABULARY release with stability thresholding
    * — DP partition selection (Desfontaines, Voss, Gipson & Mandayam 2020,
    * "Differentially private partition selection"; the recipe behind
    * releasing n-gram/token statistics from private corpora): the key
    * domain (here: word bigrams over the documents table) is UNKNOWN and
    * itself data-derived, so releasing even a key's NAME leaks — the fix
    * is (1) bound each doc's contribution to its first `c` distinct
    * bigrams in reading order (a deterministic first-occurrence rank), (2)
    * noise each bigram's bounded doc-count through the α = 1/2 geometric
    * ladder keyed by a per-bigram string hash, and (3) release ONLY keys
    * whose noised count reaches Γ = [[DpVocabGamma]].
    *
    * Accounting (teaching-grade, stated not tuned): the bounded vector
    * moves by at most c = [[DpVocabC]] coordinates (one count each) per
    * doc, each through a ln 2-per-unit mechanism → doc-level ε = c·ln 2;
    * the thresholding bounds the key-name leak: a bigram present in ONE
    * doc releases only if its noise draw reaches Γ − 1, probability
    * 2^−(Γ−1)/3 per key under the exact dyadic ladder (≈ 6.5e−4 at
    * Γ = 10), so δ ≤ c·2^−(Γ−1)/3 per doc. The tail-collapsed ladder
    * (|z| ≤ 8) additionally makes release probability EXACTLY zero for
    * bounded counts ≤ Γ − 9 — stronger than the untruncated geometric,
    * at the price of the collapsed 0.13% tail mass
    * ([[dpGeometricRelease]]'s documented caveat). The cap posture is
    * [[dpUserLevelRelease]]'s, with first-occurrence position instead of
    * the Knuth hash as the deterministic rank key.
    *
    * Output: (bigram, n_released) for released keys only — suppressed
    * keys leave no row, which IS the mechanism's point.
    *
    * Scale shape: explode to bigram rows, one (doc, bigram) groupBy, one
    * doc-keyed rank window for the cap, one bigram-keyed count, then an
    * O(released keys) projection — every shuffle keyed, no step beyond
    * the aggregate a non-private vocabulary count already pays.
    */
  def dpVocabRelease(docs: DataFrame, c: Int = DpVocabC,
                     gamma: Int = DpVocabGamma): DataFrame = {
    require(c >= 1 && gamma >= 1, s"bad dp vocab params c=$c gamma=$gamma")
    // spread: tokenize + bigram transform otherwise run in the
    // single-partition scan stage (see Tables.spread)
    val toks = graft.Tables.spread(docs)
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = toks.select(col("doc_id"),
        posexplode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as(Seq("i0", "b")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("b"))
    val fstp = bg.groupBy("doc_id", "b").agg(min(col("i")).as("fp"))
    val cap = fstp
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("fp", "b")))
      .filter(col("rn") <= c)
    cap.groupBy("b").agg(count(lit(1)).as("n"))
      .withColumn("uu", pmod(expr(polyHashExprSpark("b")), lit(GeoT)))
      .select(col("b").as("bigram"),
        (col("n") + geoNoise(col("uu"))).as("n_released"))
      .filter(col("n_released") >= gamma)
      .orderBy("bigram")
  }
}
