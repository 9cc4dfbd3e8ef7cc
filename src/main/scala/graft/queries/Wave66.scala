package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 66" query set (q406–q407): offline policy evaluation
  * (the IPS/SNIPS counterfactual replay every recommendation/curation
  * policy change is judged by before shipping) and sorted-neighborhood
  * blocking (the OTHER classic entity-resolution candidate generator,
  * beside q226's deletion-neighborhood and q111's token-bucket joins).
  * Both linear: one pass for the replay, a w-slot offset join for SNM.
  */
object Wave66Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q406
  /** Offline policy evaluation by importance sampling: replay the
    * logged (uniform-propensity) event stream under the deterministic
    * target policy π(user) = purchase if user_id%3=0 else click, and
    * report IPS and SNIPS value estimates.
    *
    * Scale shape: ONE narrow pass over the log — the match indicator
    * and cent-quantized reward aggregate in the same stage; the action
    * cardinality (the uniform propensity's 1/K) is a one-row broadcast.
    * Rewards stay exact integer cents until the final division.
    */
  def q406(s: SparkSession, dir: String): DataFrame = {
    val e = ExtQueries.events(s, dir)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("r"))
    val k = e.agg(countDistinct("event_type").as("k_actions"))
    val m = e.select(
      (when(col("user_id") % 3 === 0, "purchase").otherwise("click")
        === col("event_type")).as("hit"), col("r"))
    m.agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("hit"), col("r")).otherwise(0L)).as("srm"))
      .crossJoin(broadcast(k))
      .select(col("n"), col("k_actions"), col("n_matched"),
        round((col("srm") * col("k_actions")).cast("double") / 100.0
          / col("n").cast("double"), 6).as("ips"),
        round(col("srm").cast("double") / 100.0
          / col("n_matched").cast("double"), 6).as("snips"))
  }
  val q406Sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS r FROM events),
      |m AS (SELECT (CASE WHEN user_id % 3 = 0 THEN 'purchase'
      |    ELSE 'click' END) = event_type AS hit, r FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM e)
      |    AS k_actions,
      |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  round(CAST(sum(CASE WHEN hit THEN r ELSE 0 END)
      |      * (SELECT count(DISTINCT event_type) FROM e) AS DOUBLE)
      |    / 100.0e0 / CAST(count(*) AS DOUBLE), 6) AS ips,
      |  round(CAST(sum(CASE WHEN hit THEN r ELSE 0 END) AS DOUBLE)
      |    / 100.0e0
      |    / CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE), 6)
      |    AS snips
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q407
  /** Sorted-neighborhood entity-resolution blocking over part names:
    * records sort within 3-char prefix blocks, each record pairs with
    * its next `w = 5` neighbors in sort order, and candidates verify
    * with Jaro-Winkler ≥ 0.9 (the [[graft.ops.FuzzyJoin.jaroWinkler]]
    * expression — same scores as DuckDB's built-in, pinned by q257).
    * Output is the one-row blocking census.
    *
    * Scale shape: the rank window partitions by BLOCK (never one
    * global ordering), and the neighbor join is a 5-slot offset
    * explode + equi join on (block, rank) — candidates are ≤ 5n at any
    * corpus size, the textbook SNM bound. Window-boundary misses are
    * the documented multi-pass-SNM tradeoff (a second pass with a
    * different key recovers them).
    */
  def q407(s: SparkSession, dir: String): DataFrame = {
    val p = T(s, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        substring(col("p_name"), 1, 3).as("blk"))
    val r = p.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("blk")
        .orderBy(col("p_name"), col("p_partkey"))))
    val probes = r.select(col("blk"), col("p_name").as("name_a"),
        explode(sequence(lit(1), lit(5))).as("d"), col("rk"))
      .select(col("blk"), col("name_a"), (col("rk") + col("d")).as("rk"))
    val cand = probes.join(
        r.select(col("blk"), col("rk"), col("p_name").as("name_b")),
        Seq("blk", "rk"))
      .select(round(graft.ops.FuzzyJoin.jaroWinkler(
        col("name_a"), col("name_b")), 6).as("jw"))
    val base = p.agg(count(lit(1)).as("n_records"),
      countDistinct("blk").as("n_blocks"))
    cand.agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jw") >= 0.9, 1L).otherwise(0L)).as("n_matched"))
      .crossJoin(broadcast(base))
      .select(col("n_records"), col("n_blocks"), col("n_candidates"),
        col("n_matched"),
        round(col("n_matched").cast("double")
          / col("n_candidates").cast("double"), 6).as("match_rate"))
  }
  val q407Sql: String =
    """WITH p AS (SELECT p_partkey, p_name,
      |    substr(p_name, 1, 3) AS blk FROM part),
      |r AS (SELECT *, row_number() OVER (PARTITION BY blk
      |    ORDER BY p_name, p_partkey) AS rk FROM p),
      |cand AS (SELECT
      |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      |  FROM r a JOIN r b ON a.blk = b.blk
      |    AND b.rk - a.rk BETWEEN 1 AND 5)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_records,
      |  (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM p) AS n_blocks,
      |  CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(sum(CASE WHEN jw >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  round(CAST(sum(CASE WHEN jw >= 0.9 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS match_rate
      |FROM cand""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q406_offline_policy_eval" -> (q406 _),
    "q407_sorted_neighborhood" -> (q407 _))

  val oracles: Map[String, String] = Map(
    "q406_offline_policy_eval" -> q406Sql,
    "q407_sorted_neighborhood" -> q407Sql)
}
