package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 38" query set (q305–q308): assumption-checking and
  * effect-size statistics — Brown–Forsythe variance homogeneity,
  * Grubbs' outlier statistic, Cohen's d / Hedges' g, and the Chow
  * structural-break test. Same contract as every wave: DuckDB oracle
  * per query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, exact integer moments before any float, deterministic
  * tie-breaks (pinned argmax wherever a float would feed a ranking).
  */
object Wave38Queries extends QueryRegistry {
  import CoreQueries.T

  /** Daily whole-dollar totals per event type, day index 1.. from
    * 2024-01-01 (a Monday — so (idx−1) mod 7 ∈ {5,6} is the weekend,
    * pure integer arithmetic, no engine-specific dow numbering). */
  private def dailyDollars(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir).select(col("event_type"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .groupBy("event_type", "idx")
      .agg(expr("sum(qv) div 100").as("v"))
  private val dailyDollarsSql: String =
    """SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT)) // 100
      |      AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q305
  /** Brown–Forsythe variance homogeneity
    * ([[graft.ops.Hypothesis.brownForsythe]]): are order-value spreads
    * equal across priority classes? — the robust (median-centered)
    * Levene variant, i.e. the assumption check behind the ANOVA the
    * suite already runs (q167). Medians are lower medians of integer
    * cents (rank-pinned); the F comes from the exact-integer anovaF
    * two-pass on z = |x − med|.
    */
  def q305(s: SparkSession, dir: String): DataFrame =
    graft.ops.Hypothesis.brownForsythe(
      T(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
        col("o_orderkey")),
      "o_orderpriority", "cents", "o_orderkey")
  val q305Sql: String =
    """WITH base AS (SELECT o_orderpriority AS g,
      |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v,
      |    o_orderkey AS id
      |  FROM orders),
      |med AS (SELECT g, v AS med FROM (
      |    SELECT g, v, row_number() OVER (PARTITION BY g
      |        ORDER BY v, id) AS rn,
      |      count(*) OVER (PARTITION BY g) AS nn
      |    FROM base) WHERE rn = (nn + 1) // 2),
      |src AS (SELECT b.g, CAST(abs(b.v - m.med) AS DOUBLE) / 100.0e0 AS x
      |  FROM base b JOIN med m USING (g)),
      |grp AS (SELECT g, count(*) AS n_i,
      |    sum(CAST(floor(x * 100.0e0 + 0.5e0) AS BIGINT)) AS s_i
      |  FROM src GROUP BY g),
      |means AS (SELECT g, n_i,
      |    (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)) / 100.0e0 AS m_i
      |  FROM grp),
      |tot AS (SELECT count(*) AS k, sum(n_i) AS n,
      |    (CAST(sum(s_i) AS DOUBLE) / CAST(sum(n_i) AS DOUBLE)) / 100.0e0
      |      AS m
      |  FROM grp),
      |ssw AS (SELECT CAST(sum(CAST(floor(
      |      (x - m_i) * (x - m_i) * 100.0e0 + 0.5e0) AS BIGINT))
      |    AS BIGINT) AS ssw_x100
      |  FROM src JOIN means USING (g)),
      |ssb AS (SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(CAST(n_i AS DOUBLE) * (m_i - m) * (m_i - m)
      |      * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS ssb_x100
      |  FROM means, tot GROUP BY k, n)
      |SELECT k, n, ssb_x100 AS ss_between_x100, ssw_x100 AS ss_within_x100,
      |  round((CAST(ssb_x100 AS DOUBLE) / CAST(k - 1 AS DOUBLE))
      |        / (CAST(ssw_x100 AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f
      |FROM ssb, ssw""".stripMargin

  // ---------------------------------------------------------------- q306
  /** Grubbs' outlier statistic ([[graft.ops.Hypothesis.grubbs]]) per
    * event type over daily dollar totals: which day deviates most from
    * the type's mean, in sd units — the SPC companion to the p-chart
    * (q287), with the candidate day pinned by exact-integer argmax.
    */
  def q306(s: SparkSession, dir: String): DataFrame =
    graft.ops.Hypothesis.grubbs(dailyDollars(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "v", "idx").orderBy("group")
  val q306Sql: String =
    s"""WITH daily AS ($dailyDollarsSql),
       |mo AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s1,
       |    CAST(sum(v * v) AS BIGINT) AS s2
       |  FROM daily GROUP BY g),
       |dev AS (SELECT d.g, d.idx, d.v, m.n, m.s1, m.s2,
       |    abs(m.n * d.v - m.s1) AS adev
       |  FROM daily d JOIN mo m USING (g)),
       |top AS (SELECT * FROM (SELECT *, row_number() OVER (
       |    PARTITION BY g ORDER BY adev DESC, idx) AS rk FROM dev)
       |  WHERE rk = 1)
       |SELECT g AS "group", n, idx AS outlier_id, v AS outlier_val,
       |  round((CAST(adev AS DOUBLE) / CAST(n AS DOUBLE))
       |    / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0))), 6)
       |    AS g_stat
       |FROM top ORDER BY "group"""".stripMargin

  // ---------------------------------------------------------------- q307
  /** Weekend effect size ([[graft.ops.Hypothesis.cohensD]]): Cohen's d
    * and the small-sample-corrected Hedges' g of weekend vs weekday
    * daily dollars per event type — the magnitude companion to the
    * Welch test (q163), which only says whether the difference exists.
    */
  def q307(s: SparkSession, dir: String): DataFrame =
    graft.ops.Hypothesis.cohensD(dailyDollars(s, dir),
      "event_type", pmod(col("idx") - 1, lit(7)).isin(5, 6), "v")
      .orderBy("group")
  val q307Sql: String =
    s"""WITH daily AS ($dailyDollarsSql),
       |armed AS (SELECT g, ((idx - 1) % 7) IN (5, 6) AS arm, v
       |  FROM daily),
       |mo AS (SELECT g, arm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s1,
       |    CAST(sum(v * v) AS BIGINT) AS s2
       |  FROM armed GROUP BY g, arm),
       |j AS (SELECT a.g, a.n AS n1, a.s1 AS s11, a.s2 AS s21,
       |    b.n AS n0, b.s1 AS s10, b.s2 AS s20
       |  FROM mo a JOIN mo b ON a.g = b.g AND a.arm AND NOT b.arm),
       |e AS (SELECT g, n1, n0,
       |    (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
       |      - CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE))
       |    / sqrt(((CAST(n1 AS DOUBLE) * CAST(s21 AS DOUBLE)
       |          - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE))
       |        / CAST(n1 AS DOUBLE)
       |      + (CAST(n0 AS DOUBLE) * CAST(s20 AS DOUBLE)
       |          - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE))
       |        / CAST(n0 AS DOUBLE))
       |      / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0e0)) AS d
       |  FROM j)
       |SELECT g AS "group", n1, n0, round(d, 6) AS d,
       |  round(d * (1.0e0 - 3.0e0
       |    / (4.0e0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
       |      - 9.0e0)), 6) AS hedges_g
       |FROM e ORDER BY "group"""".stripMargin

  // ---------------------------------------------------------------- q308
  /** Chow structural-break test ([[graft.ops.Trend.chowTest]]): does
    * each event type's daily-dollar linear trend change at the series
    * midpoint? — the regime-shift companion to CUSUM (q157) and
    * mean-shift (q173), testing the SLOPE rather than the level.
    */
  def q308(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.chowTest(dailyDollars(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "idx", "v").orderBy("event_type")
  val q308Sql: String =
    s"""WITH daily AS ($dailyDollarsSql),
       |cut AS (SELECT g, (min(idx) + max(idx)) // 2 AS cut
       |  FROM daily GROUP BY g),
       |seg AS (SELECT d.g, d.idx AS t, d.v,
       |    CASE WHEN d.idx <= c.cut THEN 1 ELSE 2 END AS s, c.cut
       |  FROM daily d JOIN cut c USING (g)),
       |mop AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(v) AS BIGINT) AS sv,
       |    CAST(sum(t * t) AS BIGINT) AS stt,
       |    CAST(sum(t * v) AS BIGINT) AS stv,
       |    CAST(sum(v * v) AS BIGINT) AS svv,
       |    CAST(max(cut) AS BIGINT) AS cut
       |  FROM seg GROUP BY g),
       |mos AS (SELECT g, s, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(v) AS BIGINT) AS sv,
       |    CAST(sum(t * t) AS BIGINT) AS stt,
       |    CAST(sum(t * v) AS BIGINT) AS stv,
       |    CAST(sum(v * v) AS BIGINT) AS svv
       |  FROM seg GROUP BY g, s),
       |ssrp AS (SELECT g, n, cut,
       |    (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
       |        / CAST(n AS DOUBLE))
       |    - (CAST(stv AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE)
       |        / CAST(n AS DOUBLE))
       |      * (CAST(stv AS DOUBLE) - CAST(st AS DOUBLE)
       |          * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
       |      / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
       |          * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) AS ssr_p
       |  FROM mop),
       |ssrs AS (SELECT g, sum(
       |    (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
       |        / CAST(n AS DOUBLE))
       |    - (CAST(stv AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE)
       |        / CAST(n AS DOUBLE))
       |      * (CAST(stv AS DOUBLE) - CAST(st AS DOUBLE)
       |          * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
       |      / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
       |          * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS ssr_12
       |  FROM mos GROUP BY g)
       |SELECT p.g AS event_type, p.n, p.cut AS break_t,
       |  CASE WHEN s.ssr_12 > 0 THEN
       |    round(((p.ssr_p - s.ssr_12) / 2.0e0)
       |      / (s.ssr_12 / CAST(p.n - 4 AS DOUBLE)), 6) END AS f
       |FROM ssrp p JOIN ssrs s USING (g) ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q305_brown_forsythe" -> (q305 _),
    "q306_grubbs" -> (q306 _),
    "q307_cohens_d" -> (q307 _),
    "q308_chow" -> (q308 _))

  val oracles: Map[String, String] = Map(
    "q305_brown_forsythe" -> q305Sql,
    "q306_grubbs" -> q306Sql,
    "q307_cohens_d" -> q307Sql,
    "q308_chow" -> q308Sql)
}
