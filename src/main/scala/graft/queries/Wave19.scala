package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 19" query set (q229-q232): the model-adjacent
  * analytics block — rank-1 ALS factorization, weight-of-evidence /
  * information-value feature screening, CUPED experiment variance
  * reduction, and Bradley–Terry preference strengths. Same contract
  * as every wave: DuckDB oracle per query, doubles round to 6 dp,
  * integer sums BIGINT-cast in the oracle, fixed-point quantization
  * before any cross-row float sum, deterministic tie-breaks.
  */
object Wave19Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q229
  /** Rank-1 ALS ([[graft.ops.ext.Factorize.rank1Als]]) on the
    * customer×part quantity matrix: u,v,u alternation from all-ones
    * item factors, every factor 1e-6 fixed-point between half-steps
    * so each closed-form solve is an exact integer sum. Readout:
    * per-market-segment fit quality (mean rating vs mean rank-1
    * prediction, MSE on the 1e-2 grid).
    */
  def q229(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Factorize
    val ratings = T(s, dir, "lineitem")
      .join(T(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("cust", "item").agg(sum("qty").as("r"))
    val fac = Factorize.rank1Als(ratings, "cust", "item", rounds = 1)
    val e = col("r").cast("double") - col("predq").cast("double") / 1e12
    fac.join(T(s, dir, "customer"), col("cust") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_ratings"),
        sum("r").as("sr"),
        // predq is ~2.5e13 per row; shed 3 digits pre-sum so the exact
        // integer sum stays inside a Long at any corpus scale
        sum(expr("predq div 1000")).as("sp"),
        sum(floor(e * e * 10000.0 + 0.5).cast("long")).as("se"))
      .select(col("segment"), col("n_ratings"),
        round(col("sr").cast("double") / col("n_ratings").cast("double"), 6)
          .as("avg_rating"),
        round(col("sp").cast("double") / 1e9
          / col("n_ratings").cast("double"), 6).as("avg_pred"),
        round(col("se").cast("double") / 10000.0
          / col("n_ratings").cast("double"), 6).as("mse"))
      .orderBy("segment")
  }
  val q229Sql: String =
    """WITH r AS (SELECT o_custkey AS cust, l_partkey AS item,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |v0 AS (SELECT DISTINCT item, CAST(1000000 AS BIGINT) AS fq FROM r),
      |u1 AS (SELECT cust, CAST(floor(CAST(sum(r.r * v0.fq) AS DOUBLE)
      |    / CAST(sum(v0.fq * v0.fq) AS DOUBLE)
      |    * 1000000.0e0 * 1000000.0e0 + 0.5e0) AS BIGINT) AS fq
      |  FROM r JOIN v0 USING (item) GROUP BY 1),
      |v1 AS (SELECT item, CAST(floor(CAST(sum(r.r * u1.fq) AS DOUBLE)
      |    / CAST(sum(u1.fq * u1.fq) AS DOUBLE)
      |    * 1000000.0e0 * 1000000.0e0 + 0.5e0) AS BIGINT) AS fq
      |  FROM r JOIN u1 USING (cust) GROUP BY 1),
      |u2 AS (SELECT cust, CAST(floor(CAST(sum(r.r * v1.fq) AS DOUBLE)
      |    / CAST(sum(v1.fq * v1.fq) AS DOUBLE)
      |    * 1000000.0e0 * 1000000.0e0 + 0.5e0) AS BIGINT) AS fq
      |  FROM r JOIN v1 USING (item) GROUP BY 1),
      |p AS (SELECT r.cust, r.item, r.r, u2.fq * v1.fq AS predq
      |  FROM r JOIN u2 USING (cust) JOIN v1 USING (item))
      |SELECT c_mktsegment AS segment,
      |  CAST(count(*) AS BIGINT) AS n_ratings,
      |  round(CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS avg_rating,
      |  round(CAST(sum(predq // 1000) AS DOUBLE) / 1e9
      |    / CAST(count(*) AS DOUBLE), 6) AS avg_pred,
      |  round(CAST(sum(CAST(floor((CAST(r AS DOUBLE)
      |        - CAST(predq AS DOUBLE) / 1e12)
      |      * (CAST(r AS DOUBLE) - CAST(predq AS DOUBLE) / 1e12)
      |      * 10000.0e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 10000.0e0
      |    / CAST(count(*) AS DOUBLE), 6) AS mse
      |FROM p JOIN customer ON cust = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q230
  /** WoE / information value ([[graft.ops.ext.FeatureEncode.woeIv]])
    * of two categorical features (market segment, customer nation)
    * against "order is high-priority" — the feature-selection screen.
    * Laplace-adjusted log-odds per category; IV contributions
    * quantize to 1e-9 before the per-feature sum.
    */
  def q230(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.FeatureEncode
    val base = T(s, dir, "orders")
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .withColumn("hot",
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    val seg = FeatureEncode.woeIv(
        base.select(col("c_mktsegment").as("category"), col("hot")),
        "category", "hot")
      .withColumn("feature", lit("segment"))
    val nat = FeatureEncode.woeIv(
        base.select(col("n_name").as("category"), col("hot")),
        "category", "hot")
      .withColumn("feature", lit("nation"))
    seg.unionByName(nat)
      .select(col("feature"), col("category"), col("n_good"), col("n_bad"),
        col("woe"), col("iv"))
      .orderBy("feature", "category")
  }
  val q230Sql: String =
    """WITH base AS (SELECT c_mktsegment, n_name,
      |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS hot
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |cat AS (
      |  SELECT 'segment' AS feature, c_mktsegment AS category,
      |    CAST(count(*) FILTER (WHERE hot) AS BIGINT) AS n_good,
      |    CAST(count(*) FILTER (WHERE NOT hot) AS BIGINT) AS n_bad
      |  FROM base GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'nation' AS feature, n_name AS category,
      |    CAST(count(*) FILTER (WHERE hot) AS BIGINT) AS n_good,
      |    CAST(count(*) FILTER (WHERE NOT hot) AS BIGINT) AS n_bad
      |  FROM base GROUP BY 1, 2),
      |tot AS (SELECT feature, CAST(sum(n_good) AS BIGINT) AS tg,
      |    CAST(sum(n_bad) AS BIGINT) AS tb
      |  FROM cat GROUP BY 1),
      |woe AS (SELECT feature, category, n_good, n_bad,
      |    ln(((CAST(n_good AS DOUBLE) + 0.5e0) / (CAST(tg AS DOUBLE) + 0.5e0))
      |      / ((CAST(n_bad AS DOUBLE) + 0.5e0) / (CAST(tb AS DOUBLE) + 0.5e0)))
      |      AS w,
      |    CAST(floor(((CAST(n_good AS DOUBLE) + 0.5e0)
      |          / (CAST(tg AS DOUBLE) + 0.5e0)
      |        - (CAST(n_bad AS DOUBLE) + 0.5e0)
      |          / (CAST(tb AS DOUBLE) + 0.5e0))
      |      * ln(((CAST(n_good AS DOUBLE) + 0.5e0)
      |          / (CAST(tg AS DOUBLE) + 0.5e0))
      |        / ((CAST(n_bad AS DOUBLE) + 0.5e0)
      |          / (CAST(tb AS DOUBLE) + 0.5e0)))
      |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS ivq
      |  FROM cat JOIN tot USING (feature))
      |SELECT feature, category, n_good, n_bad, round(w, 6) AS woe,
      |  round(CAST(CAST(sum(ivq) OVER (PARTITION BY feature) AS BIGINT)
      |    AS DOUBLE) / 1000000000.0e0, 6) AS iv
      |FROM woe ORDER BY feature, category""".stripMargin

  // ---------------------------------------------------------------- q231
  /** CUPED ([[graft.ops.Experiment.cuped]]): per-user event value
    * split at the corpus midpoint timestamp into pre (covariate) and
    * post (metric) sums, arms by user-id parity, values on the 1e-1
    * fixed-point grid. Reports raw vs adjusted arm means, theta, and
    * the pooled variance-reduction ratio — the A/B readout that
    * shrinks confidence intervals for free.
    */
  def q231(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Experiment
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 10.0 + 0.5).cast("long").as("qv"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val units = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("cut"), col("qv")).otherwise(0L))
          .as("x"),
        sum(when(col("us") >= col("cut"), col("qv")).otherwise(0L))
          .as("y"))
      .select(pmod(col("user_id"), lit(2L)).as("arm"), col("x"), col("y"))
    Experiment.cuped(units, "arm", scale = 10.0).orderBy("arm")
  }
  val q231Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 10.0e0 + 0.5e0) AS BIGINT) AS qv
      |  FROM events),
      |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
      |units AS (SELECT user_id % 2 AS arm,
      |    CAST(sum(CASE WHEN us < cut THEN qv ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN us >= cut THEN qv ELSE 0 END) AS BIGINT) AS y
      |  FROM ev, cut GROUP BY user_id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM units),
      |g AS (SELECT n, sx, sy, sxy, sxx, syy,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
      |  FROM m),
      |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
      |    CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
      |  FROM units GROUP BY 1)
      |SELECT arm, na AS n_units,
      |  round(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 10.0e0, 6)
      |    AS mean_raw,
      |  round((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
      |    - theta * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
      |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 10.0e0, 6)
      |    AS mean_cuped,
      |  round(theta, 6) AS theta,
      |  round(1.0e0 - ((CAST(syy AS DOUBLE)
      |      - 2.0e0 * theta * CAST(sxy AS DOUBLE)
      |      + theta * theta * CAST(sxx AS DOUBLE)) / CAST(n AS DOUBLE)
      |    - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |        - theta * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |        - theta * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |        * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS var_reduction
      |FROM arms, g ORDER BY arm""".stripMargin

  // ---------------------------------------------------------------- q232
  /** Bradley–Terry strengths ([[graft.ops.ext.Preference
    * .bradleyTerry]]) from supplier price duels: within each part,
    * supplier i beats j when i's best quantized unit price is
    * strictly lower; 3 MM rounds on the pair-aggregated win matrix
    * (bounded by suppliers², broadcast strengths each round). Top 20
    * by strength, supplier-key tie-break.
    */
  def q232(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Preference
    val m = T(s, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"),
        floor(col("l_extendedprice") / col("l_quantity") * 100.0 + 0.5)
          .cast("long").as("upq"))
      .groupBy("part", "supp").agg(min("upq").as("m"))
      .persist() // both sides of the pair self-join read this frame
    val b = m.select(col("part"), col("supp").as("j"), col("m").as("mj"))
    // one UNORDERED pair per (part, i<j) — half the join fan-out of
    // the ordered form; both win directions fall out of the same row
    val up = m.join(b, Seq("part"))
      .filter(col("supp") < col("j"))
      .groupBy(col("supp").as("i"), col("j"))
      .agg(sum(when(col("m") < col("mj"), 1L).otherwise(0L)).as("wij"),
        sum(when(col("mj") < col("m"), 1L).otherwise(0L)).as("wji"))
      .persist() // read twice (once per win direction)
    val duels = up.filter(col("wij") > 0)
        .select(col("i"), col("j"), col("wij").as("wins"))
      .unionAll(up.filter(col("wji") > 0)
        .select(col("j").as("i"), col("i").as("j"),
          col("wji").as("wins")))
    val out = Preference.bradleyTerry(duels, rounds = 3)
    val w = Window.orderBy(col("strength").desc, col("player"))
    out.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("player"), col("wins"), col("games"),
        col("strength"))
      .orderBy("rank")
  }
  val q232Sql: String =
    """WITH m AS (SELECT l_partkey AS part, l_suppkey AS supp,
      |    CAST(min(CAST(floor(l_extendedprice / l_quantity * 100.0e0
      |      + 0.5e0) AS BIGINT)) AS BIGINT) AS m
      |  FROM lineitem GROUP BY 1, 2),
      |duels AS (SELECT a.supp AS i, b.supp AS j,
      |    CAST(count(*) AS BIGINT) AS wins
      |  FROM m a JOIN m b ON a.part = b.part AND a.supp <> b.supp
      |    AND a.m < b.m
      |  GROUP BY 1, 2),
      |pairs AS (SELECT i, j, CAST(sum(w) AS BIGINT) AS w,
      |    CAST(sum(g) AS BIGINT) AS g
      |  FROM (SELECT i, j, wins AS w, wins AS g FROM duels
      |        UNION ALL
      |        SELECT j AS i, i AS j, 0 AS w, wins AS g FROM duels)
      |  GROUP BY 1, 2),
      |tot AS (SELECT i, CAST(sum(w) AS BIGINT) AS wins,
      |    CAST(sum(g) AS BIGINT) AS games
      |  FROM pairs GROUP BY 1),
      |p0 AS (SELECT i, CAST(1000000 AS BIGINT) AS piq FROM tot),
      |p1 AS (SELECT d.i, CAST(floor(CAST(t.wins AS DOUBLE)
      |      / (CAST(d.den AS DOUBLE) / 1000000.0e0) * 1000000.0e0
      |      + 0.5e0) AS BIGINT) AS piq
      |  FROM (SELECT p.i, CAST(sum(CAST(floor(CAST(p.g AS DOUBLE)
      |        / ((CAST(a.piq + b.piq AS DOUBLE)) / 1000000.0e0)
      |        * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS den
      |    FROM pairs p JOIN p0 a ON p.i = a.i JOIN p0 b ON p.j = b.i
      |    GROUP BY 1) d JOIN tot t ON d.i = t.i),
      |p2 AS (SELECT d.i, CAST(floor(CAST(t.wins AS DOUBLE)
      |      / (CAST(d.den AS DOUBLE) / 1000000.0e0) * 1000000.0e0
      |      + 0.5e0) AS BIGINT) AS piq
      |  FROM (SELECT p.i, CAST(sum(CAST(floor(CAST(p.g AS DOUBLE)
      |        / ((CAST(a.piq + b.piq AS DOUBLE)) / 1000000.0e0)
      |        * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS den
      |    FROM pairs p JOIN p1 a ON p.i = a.i JOIN p1 b ON p.j = b.i
      |    GROUP BY 1) d JOIN tot t ON d.i = t.i),
      |p3 AS (SELECT d.i, CAST(floor(CAST(t.wins AS DOUBLE)
      |      / (CAST(d.den AS DOUBLE) / 1000000.0e0) * 1000000.0e0
      |      + 0.5e0) AS BIGINT) AS piq
      |  FROM (SELECT p.i, CAST(sum(CAST(floor(CAST(p.g AS DOUBLE)
      |        / ((CAST(a.piq + b.piq AS DOUBLE)) / 1000000.0e0)
      |        * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS den
      |    FROM pairs p JOIN p2 a ON p.i = a.i JOIN p2 b ON p.j = b.i
      |    GROUP BY 1) d JOIN tot t ON d.i = t.i)
      |SELECT rank, player, wins, games, strength
      |FROM (SELECT t.i AS player, t.wins, t.games,
      |        round(CAST(p3.piq AS DOUBLE) / 1000000.0e0, 6) AS strength,
      |        row_number() OVER (ORDER BY
      |          CAST(p3.piq AS DOUBLE) / 1000000.0e0 DESC, t.i)
      |          AS rank
      |      FROM tot t JOIN p3 ON t.i = p3.i)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q229_rank1_als" -> (q229 _),
    "q230_woe_iv" -> (q230 _),
    "q231_cuped" -> (q231 _),
    "q232_bradley_terry" -> (q232 _))

  val oracles: Map[String, String] = Map(
    "q229_rank1_als" -> q229Sql,
    "q230_woe_iv" -> q230Sql,
    "q231_cuped" -> q231Sql,
    "q232_bradley_terry" -> q232Sql)
}
