package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 "wave 47" query set (q341–q344): engagement/window depth —
  * longest activity streaks (gaps-and-islands), session-quality
  * rollup (bounce rate, exact median duration), DAU/MAU stickiness
  * with a bounded trailing-window explode, and daily exact percentile
  * envelopes. Same contract as every wave: DuckDB oracle per query,
  * exact integers to every rank decision, lower medians rank-pinned.
  */
object Wave47Queries extends QueryRegistry {

  private def dayIdx(c: org.apache.spark.sql.Column) =
    (datediff(date_trunc("day", c).cast("date"),
      lit("2024-01-01").cast("date")) + 1).cast("long")

  // ---------------------------------------------------------------- q341
  /** Longest activity streak per user (gaps-and-islands): consecutive
    * active DAYS group by idx − dense_rank (pure integers); per user
    * the longest island, island count, and active-day count — the
    * engagement depth metric behind the one-long activity bitmaps
    * (q269, which cap at 64 days where this does not).
    */
  def q341(s: SparkSession, dir: String): DataFrame = {
    val days = ExtQueries.events(s, dir)
      .select(col("user_id"), dayIdx(col("ts")).as("idx")).distinct()
    val w = Window.partitionBy("user_id").orderBy("idx")
    val isl = days.withColumn("grp",
        col("idx") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
    isl.groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }
  val q341Sql: String =
    """WITH days AS (SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx
      |  FROM events),
      |isl AS (SELECT user_id,
      |    idx - row_number() OVER (PARTITION BY user_id ORDER BY idx)
      |      AS grp,
      |    idx
      |  FROM days),
      |lens AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(count(*) AS BIGINT) AS n_streaks
      |FROM lens GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q342
  /** Session-quality rollup over the q55 sessionization (30-min gap):
    * bounce rate (single-event sessions), exact LOWER-median session
    * duration (rank-pinned on integer micros), and mean events per
    * session — the health card on top of the per-session table.
    */
  def q342(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessionize.sessionStats(
        ExtQueries.events(s, dir).select("user_id", "event_id", "ts"),
        "user_id", "ts", "event_id", gapSeconds = 1800)
      .select(col("n_events"),
        (unix_micros(col("session_end")) -
          unix_micros(col("session_start"))).as("dur_us"))
    val w = Window.orderBy(col("dur_us"), col("n_events"))
    val med = sess
      .withColumn("rn", row_number().over(
        Window.orderBy(col("dur_us"), col("n_events"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rn") === expr("(nn + 1) div 2"))
      .select(col("dur_us").as("median_dur_us"))
    sess.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        sum("n_events").as("tot_events"))
      .crossJoin(med)
      .select(col("n_sessions"),
        round(col("n_bounce").cast("double")
          / col("n_sessions").cast("double"), 6).as("bounce_rate"),
        col("median_dur_us"),
        round(col("tot_events").cast("double")
          / col("n_sessions").cast("double"), 6).as("mean_events"))
  }
  val q342Sql: String =
    """WITH g AS (SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sx AS (SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS session_idx
      |  FROM g),
      |sess AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
      |  FROM sx GROUP BY user_id, session_idx),
      |med AS (SELECT dur_us AS median_dur_us FROM (
      |    SELECT dur_us, n_events,
      |      row_number() OVER (ORDER BY dur_us, n_events) AS rn,
      |      count(*) OVER () AS nn
      |    FROM sess) WHERE rn = (nn + 1) // 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |  round(CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
      |  med.median_dur_us,
      |  round(CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS mean_events
      |FROM sess, med GROUP BY med.median_dur_us""".stripMargin

  // ---------------------------------------------------------------- q343
  /** DAU/MAU stickiness per day: daily distinct users over
    * trailing-30-day distinct users, via the BOUNDED ×30 day-offset
    * explode (the q265 discipline at window 30 — never a quadratic
    * self-join). Both counts exact. Output:
    * (idx, dau, mau, stickiness).
    */
  def q343(s: SparkSession, dir: String): DataFrame = {
    val days = ExtQueries.events(s, dir)
      .select(col("user_id"), dayIdx(col("ts")).as("idx")).distinct()
      .persist()
    val dau = days.groupBy("idx").agg(count(lit(1)).as("dau"))
    val span = days.select(col("user_id"), col("idx"),
        explode(sequence(col("idx"), col("idx") + 29)).as("d"))
      .select(col("user_id"), col("d")).distinct()
      .join(dau.select(col("idx").as("d")), Seq("d")) // only real days
      .groupBy("d").agg(count(lit(1)).as("mau"))
    dau.join(span, col("idx") === col("d"))
      .select(col("idx"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("idx")
  }
  val q343Sql: String =
    """WITH days AS (SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx
      |  FROM events),
      |dau AS (SELECT idx, CAST(count(*) AS BIGINT) AS dau
      |  FROM days GROUP BY idx),
      |span AS (SELECT d, CAST(count(*) AS BIGINT) AS mau FROM (
      |    SELECT DISTINCT user_id, idx + k AS d
      |    FROM days, range(0, 30) t(k))
      |  WHERE d IN (SELECT idx FROM dau)
      |  GROUP BY d)
      |SELECT dau.idx, dau.dau, span.mau,
      |  round(CAST(dau.dau AS DOUBLE) / CAST(span.mau AS DOUBLE), 6)
      |    AS stickiness
      |FROM dau JOIN span ON span.d = dau.idx
      |ORDER BY idx""".stripMargin

  // ---------------------------------------------------------------- q344
  /** Daily exact percentile envelope: per day, the LOWER p10/p50/p90
    * of event values in cents (nearest-rank ⌈q·n⌉, rank-pinned by
    * (cents, event_id) — no interpolation, no float ordering) — the
    * distribution band behind the mean-only daily rollups.
    */
  def q344(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir).select(dayIdx(col("ts")).as("idx"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("cents"),
      col("event_id"))
    val w = Window.partitionBy("idx").orderBy(col("cents"), col("event_id"))
    val ranked = ev.withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("idx")))
    def pick(q: Int): org.apache.spark.sql.Column =
      max(when(col("rn") === expr(s"greatest(($q * nn + 99) div 100, 1L)"),
        col("cents")))
    ranked.groupBy("idx")
      .agg(max("nn").as("n"), pick(10).as("p10"), pick(50).as("p50"),
        pick(90).as("p90"))
      .orderBy("idx")
  }
  val q344Sql: String =
    """WITH ev AS (SELECT
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS idx,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents,
      |    event_id
      |  FROM events),
      |ranked AS (SELECT idx, cents,
      |    row_number() OVER (PARTITION BY idx ORDER BY cents, event_id)
      |      AS rn,
      |    count(*) OVER (PARTITION BY idx) AS nn
      |  FROM ev)
      |SELECT idx, CAST(max(nn) AS BIGINT) AS n,
      |  CAST(max(CASE WHEN rn = greatest((10 * nn + 99) // 100, 1)
      |    THEN cents END) AS BIGINT) AS p10,
      |  CAST(max(CASE WHEN rn = greatest((50 * nn + 99) // 100, 1)
      |    THEN cents END) AS BIGINT) AS p50,
      |  CAST(max(CASE WHEN rn = greatest((90 * nn + 99) // 100, 1)
      |    THEN cents END) AS BIGINT) AS p90
      |FROM ranked GROUP BY idx ORDER BY idx""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q341_streaks" -> (q341 _),
    "q342_session_quality" -> (q342 _),
    "q343_stickiness" -> (q343 _),
    "q344_percentile_envelope" -> (q344 _))

  val oracles: Map[String, String] = Map(
    "q341_streaks" -> q341Sql,
    "q342_session_quality" -> q342Sql,
    "q343_stickiness" -> q343Sql,
    "q344_percentile_envelope" -> q344Sql)
}
