package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 15" query set (q220-q221): split-conformal prediction
  * intervals (distribution-free uncertainty quantification for a
  * quality-score regressor) and position-bias-corrected engagement
  * (COEC). Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * deterministic tie-breaks everywhere.
  */
object Wave15Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q220
  /** Split-conformal prediction intervals: train a per-lang mean
    * doc-length predictor on doc_id%3==0, take the ⌈(n+1)·0.9⌉-th
    * smallest absolute calibration residual (doc_id%3==1) as the
    * interval half-width q̂, and report EMPIRICAL COVERAGE on the test
    * split (doc_id%3==2) — conformal's finite-sample ≥90% guarantee,
    * checked distribution-free. Residuals are integer (lengths minus a
    * floor'd integer mean), the quantile is nearest-rank (no
    * interpolation), and coverage is an integer ratio — nothing
    * floating until the final round.
    */
  def q220(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
    val train = d.filter(col("doc_id") % 3 === 0)
    val calib = d.filter(col("doc_id") % 3 === 1)
    val test = d.filter(col("doc_id") % 3 === 2)
    val mu = train.groupBy("lang")
      .agg(expr("sum(n_chars) div count(1)").as("mu")) // integer mean
    val res = calib.join(broadcast(mu), "lang")
      .select(col("lang"), abs(col("n_chars") - col("mu")).as("r"))
    val nc = res.groupBy("lang").agg(count(lit(1)).as("n_cal"))
    val wr = Window.partitionBy("lang").orderBy("r")
    val qhat = res.withColumn("rk", row_number().over(wr).cast("long"))
      .join(broadcast(nc), "lang")
      .filter(col("rk") === expr("-((-(n_cal + 1) * 9) div 10)")) // ceil
      .select(col("lang"), col("r").as("qhat"), col("n_cal"))
    test.join(broadcast(mu), "lang").join(broadcast(qhat), "lang")
      .groupBy("lang", "qhat", "n_cal")
      .agg(count(lit(1)).as("n_test"),
        sum((abs(col("n_chars") - col("mu")) <= col("qhat")).cast("long"))
          .as("n_covered"))
      .select(col("lang"), col("n_cal"), col("qhat"), col("n_test"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy("lang")
  }
  val q220Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |mu AS (SELECT lang, sum(n_chars) // count(*) AS mu
      |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1),
      |res AS (SELECT d.lang, abs(d.n_chars - mu.mu) AS r
      |  FROM d JOIN mu USING (lang) WHERE doc_id % 3 = 1),
      |nc AS (SELECT lang, count(*)::BIGINT AS n_cal FROM res GROUP BY 1),
      |qh AS (SELECT lang, r AS qhat, n_cal FROM (
      |    SELECT res.lang, r, nc.n_cal,
      |      row_number() OVER (PARTITION BY res.lang ORDER BY r) AS rk
      |    FROM res JOIN nc ON nc.lang = res.lang)
      |  WHERE rk = -((-(n_cal + 1) * 9) // 10)),
      |tst AS (SELECT d.lang, qh.qhat, qh.n_cal,
      |    CASE WHEN abs(d.n_chars - mu.mu) <= qh.qhat THEN 1 ELSE 0 END
      |      AS cov
      |  FROM d JOIN mu USING (lang) JOIN qh ON qh.lang = d.lang
      |  WHERE doc_id % 3 = 2)
      |SELECT lang, n_cal, CAST(qhat AS BIGINT) AS qhat,
      |  count(*)::BIGINT AS n_test,
      |  round(CAST(sum(cov) AS DOUBLE) / count(*), 6) AS coverage
      |FROM tst GROUP BY lang, n_cal, qhat ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q221
  /** Position-bias-corrected engagement (COEC — clicks over expected
    * clicks): an event's position is its rank within the user's hour
    * (the "session SERP slot"); global per-position high-value-outcome rates
    * are the exposure prior; each event type's COEC is its observed
    * high-value outcomes over those expected from the positions it
    * occupied. Exact integer counts everywhere; one window pass + two
    * aggregations — the counterfactual normalization layer a ranking
    * log needs before any engagement comparison.
    */
  def q221(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir)
      .withColumn("hr", date_trunc("hour", col("ts")))
    val wp = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
    val pos = ev.withColumn("pos",
        least(row_number().over(wp), lit(10)).cast("long"))
      .withColumn("y", (col("value") > 300.0).cast("long"))
    val prior = pos.groupBy("pos")
      .agg(count(lit(1)).as("n_pos"), sum("y").as("y_pos"))
    // expected purchases accumulate as 1e-9-scaled integers (cnt·y_pos
    // exact division by n_pos) — a float sum over positions would be
    // partial-aggregation-order-dependent
    val byTypePos = pos.groupBy("event_type", "pos")
      .agg(count(lit(1)).as("cnt"), sum("y").as("yc"))
      .join(broadcast(prior), "pos")
      .withColumn("t", expr("(cnt * y_pos * 1000000000) div n_pos"))
    byTypePos.groupBy("event_type")
      .agg(sum("cnt").as("n"), sum("yc").as("clicks"),
        sum("t").as("st"))
      .select(col("event_type"), col("n"), col("clicks"),
        round(col("st").cast("double") / 1000000000.0, 6).as("expected"),
        round(col("clicks").cast("double") /
          (col("st").cast("double") / 1000000000.0), 6).as("coec"))
      .orderBy("event_type")
  }
  val q221Sql: String =
    """WITH pos AS (SELECT event_type,
      |    least(row_number() OVER (PARTITION BY user_id,
      |      date_trunc('hour', ts) ORDER BY ts, event_id), 10) AS pos,
      |    CASE WHEN value > 300.0e0 THEN 1 ELSE 0 END AS y
      |  FROM events),
      |prior AS (SELECT pos, count(*)::BIGINT AS n_pos,
      |    CAST(sum(y) AS BIGINT) AS y_pos
      |  FROM pos GROUP BY 1),
      |btp AS (SELECT event_type, pos, count(*)::BIGINT AS cnt,
      |    CAST(sum(y) AS BIGINT) AS yc
      |  FROM pos GROUP BY 1, 2),
      |terms AS (SELECT event_type, cnt, yc,
      |    (cnt * y_pos * 1000000000) // n_pos AS t
      |  FROM btp JOIN prior USING (pos))
      |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
      |  CAST(sum(yc) AS BIGINT) AS clicks,
      |  round(CAST(sum(t) AS BIGINT)::DOUBLE / 1000000000.0e0, 6)
      |    AS expected,
      |  round(CAST(sum(yc) AS BIGINT)::DOUBLE /
      |        (CAST(sum(t) AS BIGINT)::DOUBLE / 1000000000.0e0), 6) AS coec
      |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q220_conformal" -> (q220 _),
    "q221_coec" -> (q221 _))

  val oracles: Map[String, String] = Map(
    "q220_conformal" -> q220Sql,
    "q221_coec" -> q221Sql)
}
