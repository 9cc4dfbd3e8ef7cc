package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 41" query set (q317–q320): time-series structure —
  * maximum drawdown, rescaled-range (Hurst) persistence, SAX motif
  * counts, and a fixed-frequency periodogram over a shared literal
  * trig table. Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * exact integer numerators wherever a ranking or sum feeds a float.
  */
object Wave41Queries extends QueryRegistry {

  /** Daily cent totals per event type, day index from 2024-01-01. */
  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir).select(col("event_type"),
        (datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")) + 1).cast("long").as("idx"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("qv"))
      .groupBy("event_type", "idx").agg(sum("qv").as("v"))
  private val dailyCentsSql: String =
    """SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2""".stripMargin
  /** Same, floor-divided to whole dollars (keeps m·Σv² in long range
    * for the segment statistics). */
  private def dailyDollars(s: SparkSession, dir: String): DataFrame =
    dailyCents(s, dir).select(col("event_type"), col("idx"),
      expr("v div 100").as("v"))
  private val dailyDollarsSql: String =
    s"""SELECT g, idx, v // 100 AS v FROM ($dailyCentsSql)""".stripMargin

  // ---------------------------------------------------------------- q317
  /** Maximum drawdown ([[graft.ops.Trend.maxDrawdown]]) of each event
    * type's daily cent totals: the worst peak-to-trough drop with the
    * trough day pinned by exact-integer rank — the "how bad did it
    * get" card beside CUSUM (q157) and the p-chart (q287).
    */
  def q317(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.maxDrawdown(dailyCents(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "idx", "v").orderBy("event_type")
  val q317Sql: String =
    s"""WITH daily AS ($dailyCentsSql),
       |dd AS (SELECT g, idx,
       |    max(v) OVER (PARTITION BY g ORDER BY idx) - v AS dd
       |  FROM daily),
       |top AS (SELECT * FROM (SELECT g, idx, dd, row_number() OVER (
       |    PARTITION BY g ORDER BY dd DESC, idx) AS rk FROM dd)
       |  WHERE rk = 1),
       |nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n
       |  FROM daily GROUP BY g)
       |SELECT g AS event_type, n, CAST(dd AS BIGINT) AS max_drawdown,
       |  idx AS trough_t
       |FROM top JOIN nn USING (g) ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q318
  /** Hurst exponent by rescaled range ([[graft.ops.Trend.hurstRs]],
    * segment sizes 4/8/16) of daily dollar totals — is the series
    * persistent (H > 0.5), mean-reverting (< 0.5), or random — the
    * long-memory diagnostic beside lag autocorrelation (q147).
    */
  def q318(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.hurstRs(dailyDollars(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "idx", "v").orderBy("event_type")
  val q318Sql: String =
    s"""WITH daily AS ($dailyDollarsSql),
       |rn AS (SELECT g, idx, v, row_number() OVER (PARTITION BY g
       |    ORDER BY idx) AS rn
       |  FROM daily),
       |seg AS (SELECT g, CAST(m AS BIGINT) AS m, (rn - 1) // m AS chunk,
       |    rn, v
       |  FROM rn, (VALUES (4), (8), (16)) t(m)),
       |ag AS (SELECT g, m, chunk, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(v) AS BIGINT) AS sm,
       |    CAST(sum(v * v) AS BIGINT) AS svv
       |  FROM seg GROUP BY 1, 2, 3),
       |z AS (SELECT s.g, s.m, s.chunk,
       |    sum(s.m * s.v - a.sm) OVER (PARTITION BY s.g, s.m, s.chunk
       |      ORDER BY s.rn) AS z,
       |    a.sm, a.svv
       |  FROM seg s JOIN ag a USING (g, m, chunk) WHERE a.cnt = a.m),
       |rs AS (SELECT g, m, chunk,
       |    CAST(max(z) - min(z) AS BIGINT) AS r,
       |    CAST(max(m * svv - sm * sm) AS BIGINT) AS den
       |  FROM z GROUP BY 1, 2, 3),
       |rq AS (SELECT g, m,
       |    CAST(floor(CAST(r AS DOUBLE) / sqrt(CAST(den AS DOUBLE))
       |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS rsq
       |  FROM rs WHERE den > 0),
       |mn AS (SELECT g, m,
       |    CAST(sum(rsq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      / 1000000.0e0 AS rs
       |  FROM rq GROUP BY 1, 2)
       |SELECT a.g AS event_type,
       |  round(a.rs, 6) AS rs4, round(b.rs, 6) AS rs8,
       |  round(c.rs, 6) AS rs16,
       |  round(log2(c.rs / a.rs) / 2.0e0, 6) AS hurst
       |FROM (SELECT g, rs FROM mn WHERE m = 4) a
       |JOIN (SELECT g, rs FROM mn WHERE m = 8) b USING (g)
       |JOIN (SELECT g, rs FROM mn WHERE m = 16) c USING (g)
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q319
  /** SAX motifs ([[graft.ops.Trend.saxMotifs]], 4 symbols, 3-day
    * words, top 5): the recurring local shapes of each event type's
    * daily series — the symbolic counterpart to the matrix-profile
    * motif (q277), which finds the single best pair only.
    */
  def q319(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.saxMotifs(dailyDollars(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "idx", "v", k = 5)
      .orderBy("event_type", "rank")
  val q319Sql: String =
    s"""WITH daily AS ($dailyDollarsSql),
       |mo AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s1,
       |    CAST(sum(v * v) AS BIGINT) AS s2
       |  FROM daily GROUP BY g),
       |sym AS (SELECT d.g, d.idx,
       |    CASE WHEN z < -0.6745e0 THEN 'a' WHEN z < 0.0e0 THEN 'b'
       |         WHEN z < 0.6745e0 THEN 'c' ELSE 'd' END AS s
       |  FROM (SELECT d.g, d.idx,
       |      (CAST(d.v AS DOUBLE) - CAST(m.s1 AS DOUBLE)
       |          / CAST(m.n AS DOUBLE))
       |      / sqrt((CAST(m.n AS DOUBLE) * CAST(m.s2 AS DOUBLE)
       |          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE))
       |        / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE))) AS z
       |    FROM daily d JOIN mo m USING (g)) d),
       |words AS (SELECT g,
       |    s || lead(s, 1) OVER w || lead(s, 2) OVER w AS w
       |  FROM sym WINDOW w AS (PARTITION BY g ORDER BY idx)),
       |cnt AS (SELECT g, w, CAST(count(*) AS BIGINT) AS n_occurrences
       |  FROM words WHERE w IS NOT NULL AND len(w) = 3
       |  GROUP BY g, w),
       |ranked AS (SELECT g, w, n_occurrences,
       |    CAST(row_number() OVER (PARTITION BY g
       |      ORDER BY n_occurrences DESC, w) AS BIGINT) AS rank
       |  FROM cnt)
       |SELECT g AS event_type, w AS word, n_occurrences, rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY event_type, rank""".stripMargin

  // ---------------------------------------------------------------- q320
  /** Weekly/monthly periodogram ([[graft.ops.Trend.periodogram]],
    * periods 7 and 30) of daily cent totals via the shared quantized
    * trig table — which event types carry a weekly rhythm. The C/S
    * sums are exact integers (value-checked); power is the only
    * float.
    */
  def q320(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.periodogram(dailyCents(s, dir)
        .select(col("event_type"), col("idx"), col("v")),
      "event_type", "idx", "v", Seq(7, 30))
      .orderBy("event_type", "period")
  val q320Sql: String =
    s"""WITH daily0 AS ($dailyCentsSql),
       |mu AS (SELECT g, sum(v) // count(*) AS mu FROM daily0 GROUP BY g),
       |daily AS (SELECT d.g, d.idx, d.v - m.mu AS v
       |  FROM daily0 d JOIN mu m USING (g)),
       |tab(p, r, cq, sq) AS (VALUES
       |  ${graft.ops.Trend.periodogramTableSql(Seq(7, 30))}),
       |j AS (SELECT d.g, t.p,
       |    CAST(sum(d.v * t.cq) AS BIGINT) AS cq_sum,
       |    CAST(sum(d.v * t.sq) AS BIGINT) AS sq_sum,
       |    CAST(sum(d.v * d.v) AS BIGINT) AS svv,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM daily d JOIN tab t ON (d.idx % t.p) = t.r
       |  GROUP BY 1, 2)
       |SELECT g AS event_type, CAST(p AS BIGINT) AS period,
       |  cq_sum, sq_sum,
       |  round((CAST(cq_sum AS DOUBLE) / 1000000.0e0
       |      * (CAST(cq_sum AS DOUBLE) / 1000000.0e0)
       |    + CAST(sq_sum AS DOUBLE) / 1000000.0e0
       |      * (CAST(sq_sum AS DOUBLE) / 1000000.0e0))
       |    / (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)), 6) AS power
       |FROM j ORDER BY event_type, period""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q317_max_drawdown" -> (q317 _),
    "q318_hurst" -> (q318 _),
    "q319_sax_motifs" -> (q319 _),
    "q320_periodogram" -> (q320 _))

  val oracles: Map[String, String] = Map(
    "q317_max_drawdown" -> q317Sql,
    "q318_hurst" -> q318Sql,
    "q319_sax_motifs" -> q319Sql,
    "q320_periodogram" -> q320Sql)
}
