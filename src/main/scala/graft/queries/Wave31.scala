package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 31" query set (q277–q280): matrix-profile motif
  * discovery, an empirical-copula dependence grid, char-bigram
  * entropy, and a shuffle-key skew audit. Same contract as every
  * wave: DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave31Queries extends QueryRegistry {
  import CoreQueries.T

  private def daily(s: SparkSession, dir: String): DataFrame =
    ExtQueries.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 6))).cast("double"),
        6).as("daily"))
      .withColumn("idx",
        (datediff(col("day").cast("date"), lit("2024-01-01").cast("date"))
          + 1).cast("long"))
      .select("event_type", "idx", "daily")
  private val dailySql: String =
    """SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |                   CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
      |      AS idx,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS daily
      |  FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q277
  /** Motif discovery ([[graft.ops.Trend.motif]], window 7): the two
    * most-alike z-normalized weeks of each event type's daily series —
    * the matrix-profile primitive, with every per-window statistic a
    * sequential fold shared with the oracle.
    */
  def q277(s: SparkSession, dir: String): DataFrame =
    graft.ops.Trend.motif(daily(s, dir), "event_type", "idx", "daily", 7)
      .orderBy("event_type")
  val q277Sql: String =
    s"""WITH s AS ($dailySql),
       |subs0 AS (SELECT event_type AS k, idx AS start,
       |    list(daily) OVER (PARTITION BY event_type ORDER BY idx
       |      ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS arr
       |  FROM s),
       |subs AS (SELECT k, start, arr,
       |    list_reduce(arr, (a, b) -> a + b) / 7.0e0 AS m,
       |    sqrt(list_reduce(list_transform(arr,
       |        x -> (x - list_reduce(arr, (a, b) -> a + b) / 7.0e0)
       |          * (x - list_reduce(arr, (a, b) -> a + b) / 7.0e0)),
       |      (a, b) -> a + b) / 7.0e0) AS sd
       |  FROM subs0 WHERE len(arr) = 7),
       |subs2 AS (SELECT * FROM subs WHERE sd > 0),
       |pairs AS (SELECT a.k AS k, a.start AS start_a, b.start AS start_b,
       |    list_reduce(list_transform(range(1, 8),
       |      i -> ((a.arr[i] - a.m) / a.sd - (b.arr[i] - b.m) / b.sd)
       |        * ((a.arr[i] - a.m) / a.sd - (b.arr[i] - b.m) / b.sd)),
       |      (x, y) -> x + y) AS d2
       |  FROM subs2 a JOIN subs2 b
       |    ON a.k = b.k AND a.start < b.start),
       |ranked AS (SELECT k, start_a, start_b, d2,
       |    row_number() OVER (PARTITION BY k
       |      ORDER BY d2, start_a, start_b) AS rn
       |  FROM pairs)
       |SELECT k AS event_type, start_a, start_b,
       |  round(sqrt(d2), 6) AS dist
       |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q278
  /** Empirical copula grid ([[graft.ops.Hypothesis.copulaGrid]],
    * 10×10): order value vs the customer's account balance, both in
    * exact marginal deciles — localizes WHERE in the two distributions
    * the dependence (if any) sits, beyond the single Spearman number.
    */
  def q278(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders").select(col("o_custkey"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("x"))
    val c = T(s, dir, "customer").select(col("c_custkey"),
      floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("y"))
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("x"), col("y"))
    graft.ops.Hypothesis.copulaGrid(joined, "x", "y", 10)
  }
  val q278Sql: String = {
    def bmap(c: String): String =
      s"""dom_$c AS (SELECT $c AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM base GROUP BY 1),
         |cum_$c AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum FROM dom_$c),
         |thr_$c AS (SELECT i, CAST(min(v) AS BIGINT) AS t
         |  FROM cum_$c, (SELECT CAST(i AS BIGINT) AS i
         |                FROM range(1, 10) r(i)) sp, tot
         |  WHERE cum >= (i * n + 9) // 10 GROUP BY i),
         |b_$c AS (SELECT d.v,
         |    CAST(sum(CASE WHEN d.v > t.t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS b$c
         |  FROM (SELECT v FROM dom_$c) d, thr_$c t GROUP BY d.v)""".stripMargin
    s"""WITH base AS (SELECT
       |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS x,
       |    CAST(floor(c_acctbal * 100.0e0 + 0.5e0) AS BIGINT) AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |${bmap("x")},
       |${bmap("y")},
       |cells AS (SELECT bx, by, CAST(count(*) AS BIGINT) AS n
       |  FROM base JOIN b_x ON base.x = b_x.v
       |            JOIN b_y ON base.y = b_y.v
       |  GROUP BY bx, by),
       |spine AS (SELECT CAST(a.i AS BIGINT) AS bx, CAST(b.i AS BIGINT) AS by
       |  FROM range(10) a(i), range(10) b(i)),
       |rt AS (SELECT bx, CAST(sum(n) AS BIGINT) AS rx FROM cells GROUP BY 1),
       |ct AS (SELECT by, CAST(sum(n) AS BIGINT) AS cy FROM cells GROUP BY 1),
       |dense AS (SELECT s.bx, s.by, coalesce(c.n, 0) AS n,
       |    CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
       |      / CAST((SELECT n FROM tot) AS DOUBLE) AS e
       |  FROM spine s LEFT JOIN cells c ON s.bx = c.bx AND s.by = c.by
       |  JOIN rt ON s.bx = rt.bx JOIN ct ON s.by = ct.by),
       |chi AS (SELECT round(CAST(CAST(sum(CAST(floor(
       |      (CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e
       |      * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / 1000000000.0e0, 6) AS chi2 FROM dense)
       |SELECT bx, by, CAST(n AS BIGINT) AS n, round(e, 6) AS expected,
       |  round(CAST(n AS DOUBLE) / e, 6) AS ratio, chi2
       |FROM dense, chi ORDER BY bx, by""".stripMargin
  }

  // ---------------------------------------------------------------- q279
  /** Char-bigram entropy per language
    * ([[graft.ops.ext.TextAnalysis.charBigramEntropy]]) — the
    * sub-token compressibility audit next to token entropy (q143).
    */
  def q279(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.charBigramEntropy(
      T(s, dir, "documents"), "text", "lang")
  val q279Sql: String =
    """WITH t AS (SELECT lang AS g,
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS t
      |  FROM documents),
      |bg AS (SELECT g, unnest(list_transform(range(1, len(t)),
      |    i -> substr(t, i, 2))) AS bg
      |  FROM t WHERE len(t) >= 2),
      |counts AS (SELECT g, bg, CAST(count(*) AS BIGINT) AS c
      |  FROM bg GROUP BY g, bg)
      |SELECT g AS lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  round(ln(CAST(CAST(sum(c) AS BIGINT) AS DOUBLE))
      |    - CAST(CAST(sum(CAST(floor(CAST(c AS DOUBLE)
      |        * ln(CAST(c AS DOUBLE)) * 1000000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0e0
      |      / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE), 6) AS entropy
      |FROM counts GROUP BY g ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q280
  /** Shuffle-key skew audit ([[graft.ops.Skew.keySkewAudit]]) of the
    * lineitem supplier key over 32 buckets — the pre-flight diagnostic
    * that decides whether the salted-join path (q58) is warranted.
    */
  def q280(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.keySkewAudit(T(s, dir, "lineitem"), "l_suppkey",
      nBuckets = 32, topK = 10)
  val q280Sql: String =
    """WITH keyed AS (SELECT l_suppkey % 32 AS b, l_suppkey AS k
      |  FROM lineitem),
      |buckets AS (SELECT b, CAST(count(*) AS BIGINT) AS s
      |  FROM keyed GROUP BY b),
      |ranked AS (SELECT s, CAST(row_number() OVER (ORDER BY s, b)
      |    AS BIGINT) AS i FROM buckets),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS nb,
      |    CAST(sum(s) AS BIGINT) AS n, CAST(max(s) AS BIGINT) AS mx,
      |    CAST(sum(i * s) AS BIGINT) AS wsum
      |  FROM ranked),
      |keys AS (SELECT k, CAST(count(*) AS BIGINT) AS c
      |  FROM keyed GROUP BY k),
      |tk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN r <= 10 THEN c ELSE 0 END) AS BIGINT)
      |      AS topc
      |  FROM (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, k)
      |      AS BIGINT) AS r FROM keys))
      |SELECT n AS n_rows, n_keys, mx AS max_bucket,
      |  round(CAST(n AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_bucket,
      |  round(CAST(mx AS DOUBLE)
      |    / (CAST(n AS DOUBLE) / CAST(nb AS DOUBLE)), 6) AS skew_ratio,
      |  round(2.0e0 * CAST(wsum AS DOUBLE)
      |    / (CAST(nb AS DOUBLE) * CAST(n AS DOUBLE))
      |    - CAST(nb + 1 AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS gini,
      |  round(CAST(topc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS topk_share
      |FROM g, tk""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q277_motif" -> (q277 _),
    "q278_copula_grid" -> (q278 _),
    "q279_char_entropy" -> (q279 _),
    "q280_skew_audit" -> (q280 _))

  val oracles: Map[String, String] = Map(
    "q277_motif" -> q277Sql,
    "q278_copula_grid" -> q278Sql,
    "q279_char_entropy" -> q279Sql,
    "q280_skew_audit" -> q280Sql)
}
