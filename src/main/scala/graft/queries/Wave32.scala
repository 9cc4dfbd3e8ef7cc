package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 "wave 32" query set (q281–q284): alpha-beta tracking
  * filter, B-cubed clustering evaluation, hierarchy share rollup, and
  * a count-sketch frequency estimator. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave32Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q281
  /** Alpha-beta filter ([[graft.ops.Trend.alphaBeta]], α=0.5 β=0.1)
    * over each event type's daily series — the constant-gain tracking
    * recurrence beside Holt (q156), replayed by the oracle's
    * recursive CTE.
    */
  def q281(s: SparkSession, dir: String): DataFrame = {
    val daily = ExtQueries.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast(DecimalType(18, 6))).cast("double"),
        6).as("daily"))
      .withColumn("idx",
        (datediff(col("day").cast("date"), lit("2024-01-01").cast("date"))
          + 1).cast("long"))
      .select("event_type", "idx", "daily")
    graft.ops.Trend.alphaBeta(daily, "event_type", "idx", "daily",
        alpha = 0.5, beta = 0.1)
      .orderBy("event_type")
  }
  val q281Sql: String =
    """WITH RECURSIVE s AS (SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |                   CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
      |      AS idx,
      |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS daily
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT event_type, daily,
      |    row_number() OVER (PARTITION BY event_type ORDER BY idx) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS len
      |  FROM s),
      |rec AS (
      |  SELECT event_type, rn, len, daily AS x, 0.0e0 AS v
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.event_type, n.rn, n.len,
      |    (rec.x + rec.v)
      |      + 0.5e0 * (n.daily - (rec.x + rec.v)) AS x,
      |    rec.v + 0.1e0 * (n.daily - (rec.x + rec.v)) AS v
      |  FROM rec JOIN n
      |    ON n.event_type = rec.event_type AND n.rn = rec.rn + 1)
      |SELECT event_type, len AS n, round(x, 6) AS x, round(v, 6) AS v,
      |  round(x + v, 6) AS forecast
      |FROM rec WHERE rn = len ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q282
  /** B-cubed evaluation ([[graft.ops.ext.ClusterEval.bCubed]]): the
    * first-two-sign quadrant "clustering" of the embeddings scored
    * against the gold labels — the per-item-weighted external quality
    * metric beside the pairwise-F harness (q208) and silhouette
    * (q234).
    */
  def q282(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val assign = emb.select(col("vec_id").as("item"),
      concat(
        when(element_at(col("embedding"), 1) > 0, "p").otherwise("n"),
        when(element_at(col("embedding"), 2) > 0, "p").otherwise("n"))
        .as("cluster"))
    val truth = emb.select(col("vec_id").as("item"),
      col("label").cast("string").as("gold"))
    graft.ops.ext.ClusterEval.bCubed(assign, truth)
  }
  val q282Sql: String =
    """WITH j AS (SELECT vec_id AS item,
      |    (CASE WHEN embedding[1] > 0 THEN 'p' ELSE 'n' END)
      |      || (CASE WHEN embedding[2] > 0 THEN 'p' ELSE 'n' END)
      |      AS cluster,
      |    CAST(label AS VARCHAR) AS gold
      |  FROM embeddings),
      |cells AS (SELECT cluster, gold, CAST(count(*) AS BIGINT) AS ncg
      |  FROM j GROUP BY 1, 2),
      |nc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS nc
      |  FROM j GROUP BY 1),
      |ng AS (SELECT gold, CAST(count(*) AS BIGINT) AS ng
      |  FROM j GROUP BY 1),
      |agg AS (SELECT CAST(sum(ncg) AS BIGINT) AS n,
      |    CAST(count(DISTINCT cells.cluster) AS BIGINT) AS n_clusters,
      |    CAST(count(DISTINCT cells.gold) AS BIGINT) AS n_classes,
      |    CAST(sum(CAST(floor(CAST(ncg * ncg AS DOUBLE)
      |      / CAST(nc AS DOUBLE) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS pq,
      |    CAST(sum(CAST(floor(CAST(ncg * ncg AS DOUBLE)
      |      / CAST(ng AS DOUBLE) * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS rq
      |  FROM cells JOIN nc USING (cluster) JOIN ng USING (gold)),
      |pr AS (SELECT n, n_clusters, n_classes,
      |    CAST(pq AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE) AS p,
      |    CAST(rq AS DOUBLE) / 1000000000.0e0 / CAST(n AS DOUBLE) AS r
      |  FROM agg)
      |SELECT n AS n_items, n_clusters, n_classes,
      |  round(p, 6) AS b3_precision, round(r, 6) AS b3_recall,
      |  round(2.0e0 * p * r / (p + r), 6) AS b3_f1
      |FROM pr""".stripMargin

  // ---------------------------------------------------------------- q283
  /** Hierarchy share rollup ([[graft.ops.GroupStats.ratioToParent]]):
    * order revenue shares down region → nation → market segment —
    * the ratio-to-parent drill-down that q39's rollup totals feed.
    */
  def q283(s: SparkSession, dir: String): DataFrame = {
    val rev = T(s, dir, "orders")
      .join(T(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(T(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(T(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("c_mktsegment"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    graft.ops.GroupStats.ratioToParent(rev,
        Seq("r_name", "n_name", "c_mktsegment"), "cents")
      .orderBy("level", "key")
  }
  val q283Sql: String =
    """WITH rev AS (SELECT r_name, n_name, c_mktsegment,
      |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |deep AS (SELECT r_name, n_name, c_mktsegment,
      |    CAST(sum(cents) AS BIGINT) AS v
      |  FROM rev GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(v) AS BIGINT) AS pv FROM deep),
      |l1 AS (SELECT 'r_name' AS level, r_name AS key,
      |    CAST(sum(v) AS BIGINT) AS value,
      |    round(CAST(sum(v) AS DOUBLE) / CAST(pv AS DOUBLE), 6)
      |      AS parent_share
      |  FROM deep, tot GROUP BY r_name, pv),
      |p1 AS (SELECT r_name, CAST(sum(v) AS BIGINT) AS pv
      |  FROM deep GROUP BY 1),
      |l2 AS (SELECT 'n_name' AS level, r_name || '/' || n_name AS key,
      |    CAST(sum(v) AS BIGINT) AS value,
      |    round(CAST(sum(v) AS DOUBLE) / CAST(any_value(p1.pv) AS DOUBLE),
      |      6) AS parent_share
      |  FROM deep JOIN p1 USING (r_name) GROUP BY r_name, n_name),
      |p2 AS (SELECT r_name, n_name, CAST(sum(v) AS BIGINT) AS pv
      |  FROM deep GROUP BY 1, 2),
      |l3 AS (SELECT 'c_mktsegment' AS level,
      |    deep.r_name || '/' || deep.n_name || '/' || c_mktsegment AS key,
      |    v AS value,
      |    round(CAST(v AS DOUBLE) / CAST(p2.pv AS DOUBLE), 6)
      |      AS parent_share
      |  FROM deep JOIN p2 ON deep.r_name = p2.r_name
      |    AND deep.n_name = p2.n_name)
      |SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL
      |SELECT * FROM l3 ORDER BY level, key""".stripMargin

  // ---------------------------------------------------------------- q284
  /** Count-sketch ([[graft.ops.ext.Sketches.countSketchEstimate]],
    * depth 5 × width 256): the signed-median unbiased counterpart to
    * count-min (q69), every counter and the exact integer median
    * probe hash-matched against the oracle's md5 replica.
    */
  def q284(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Sketches.countSketchEstimate(
        ExtQueries.events(s, dir), "user_id", depth = 5, width = 256)
      .orderBy("user_id")
  val q284Sql: String = {
    val cell =
      "('0x'||substr(md5(d::VARCHAR||':'||user_id::VARCHAR),1,8))::BIGINT % 256 AS bucket, " +
        "CASE WHEN ('0x'||substr(md5('s'||d::VARCHAR||':'||user_id::VARCHAR),1,8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS s"
    s"""WITH cells AS (SELECT user_id, d, $cell
       |  FROM events, range(5) t(d)),
       |sketch AS (SELECT d, bucket, CAST(sum(s) AS BIGINT) AS counter
       |  FROM cells GROUP BY 1, 2),
       |truth AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_true
       |  FROM events GROUP BY 1),
       |probes AS (SELECT user_id, d, $cell
       |  FROM truth, range(5) t(d)),
       |est AS (SELECT user_id, s * counter AS est
       |  FROM probes JOIN sketch USING (d, bucket)),
       |med AS (SELECT user_id, CAST(est AS BIGINT) AS cs_estimate
       |  FROM (SELECT user_id, est, row_number() OVER (
       |      PARTITION BY user_id ORDER BY est) AS r FROM est)
       |  WHERE r = 3)
       |SELECT t.user_id, t.n_true, m.cs_estimate
       |FROM truth t JOIN med m USING (user_id)
       |ORDER BY user_id""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q281_alpha_beta" -> (q281 _),
    "q282_bcubed" -> (q282 _),
    "q283_ratio_to_parent" -> (q283 _),
    "q284_count_sketch" -> (q284 _))

  val oracles: Map[String, String] = Map(
    "q281_alpha_beta" -> q281Sql,
    "q282_bcubed" -> q282Sql,
    "q283_ratio_to_parent" -> q283Sql,
    "q284_count_sketch" -> q284Sql)
}
