package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 14" query set (q216-q219): temperature-scaled
  * multilingual budget apportionment, grid-bucketed density clustering
  * (DBSCAN's scale path), incremental view maintenance by monoid
  * merge, and first-order Markov conversion attribution with removal
  * effects. Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * deterministic tie-breaks everywhere.
  */
object Wave14Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q216
  /** Temperature-scaled language budget (UNIMAX/XLM-R sampling): raw
    * shares p_l^0.7 flatten head languages, then a 200-doc budget
    * apportions by LARGEST REMAINDER — the only apportionment whose
    * total is exactly the budget. The p^τ weights quantize to 1e-9
    * BEFORE apportionment, so every subsequent step is integer
    * arithmetic (ties by lang); libm touches nothing that ranks.
    */
  def q216(s: SparkSession, dir: String): DataFrame = {
    val budget = 200L
    val counts = T(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n_l"))
    val total = counts.agg(sum("n_l").as("n"))
    val wq = counts.crossJoin(broadcast(total))
      .select(col("lang"), col("n_l"),
        floor(pow(col("n_l").cast("double") / col("n"), 0.7)
          * 1000000000.0 + 0.5).cast("long").as("wq"))
    val sw = wq.agg(sum("wq").as("sw"))
    val base = wq.crossJoin(broadcast(sw))
      .select(col("lang"), col("n_l"), col("wq"),
        expr(s"($budget * wq) div sw").as("a0"),
        expr(s"($budget * wq) % sw").as("rem"))
    val spare = base.agg((lit(budget) - sum("a0")).as("spare"))
    val wr = Window.orderBy(col("rem").desc, col("lang"))
    base.crossJoin(broadcast(spare))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .select(col("lang"), col("n_l"), col("wq"),
        (col("a0") + when(col("rk") <= col("spare"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("lang")
  }
  val q216Sql: String =
    """WITH c AS (SELECT lang, count(*)::BIGINT AS n_l
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM c),
      |wq AS (SELECT lang, n_l,
      |    CAST(floor(pow(n_l::DOUBLE / n, 0.7e0) * 1000000000.0e0 + 0.5e0)
      |         AS BIGINT) AS wq
      |  FROM c, t),
      |sw AS (SELECT CAST(sum(wq) AS BIGINT) AS sw FROM wq),
      |base AS (SELECT lang, n_l, wq.wq,
      |    (200 * wq.wq) // sw.sw AS a0, (200 * wq.wq) % sw.sw AS rem
      |  FROM wq, sw),
      |sp AS (SELECT 200 - CAST(sum(a0) AS BIGINT) AS spare FROM base),
      |rk AS (SELECT lang, n_l, wq, a0,
      |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
      |  FROM base)
      |SELECT lang, n_l, wq,
      |  CAST(a0 + CASE WHEN rk <= sp.spare THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc
      |FROM rk, sp ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q217
  /** Grid-bucketed density clustering — DBSCAN's 100 TB shape: points
    * hash to grid cells (one narrow map), core cells pass a density
    * floor, and clusters are connected components of the core-cell
    * 8-adjacency graph ([[graft.ops.ext.Dedup.connectedComponentsStar]]
    * again — the component kernel is one operator reused everywhere).
    * Cells, not points, enter the join: the pair space is the
    * OCCUPIED-cell count, never n². minPts scales with corpus size so
    * every SF clusters.
    */
  def q217(s: SparkSession, dir: String): DataFrame = {
    val pts = T(s, dir, "embeddings")
      .select(floor(col("embedding").getItem(0).cast("double") * 8.0)
        .cast("long").as("cx"),
        floor(col("embedding").getItem(1).cast("double") * 8.0)
          .cast("long").as("cy"))
    val total = pts.agg(count(lit(1)).as("n"))
    val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >= greatest(lit(5L), expr("n div 50")))
      .select(col("cx"), col("cy"), col("cnt"),
        ((col("cx") + 100) * 1000 + col("cy") + 100).as("cid"))
    val edges = cells.as("a").join(cells.as("b"),
        abs(col("a.cx") - col("b.cx")) <= 1 &&
          abs(col("a.cy") - col("b.cy")) <= 1 &&
          col("a.cid") < col("b.cid"))
      .select(col("a.cid").as("id_a"), col("b.cid").as("id_b"))
    val comp = graft.ops.ext.Dedup.connectedComponentsStar(edges)
    // singleton core cells (no adjacent core cell) are their own cluster
    val labeled = cells.join(comp.withColumnRenamed("id", "cid"),
        Seq("cid"), "left")
      .withColumn("cluster", coalesce(col("component"), col("cid")))
    labeled.groupBy("cluster")
      .agg(count(lit(1)).as("n_cells"), sum("cnt").as("n_points"))
      .orderBy("cluster")
  }
  val q217Sql: String =
    """WITH RECURSIVE pts AS (SELECT
      |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 8.0e0) AS BIGINT) AS cx,
      |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 8.0e0) AS BIGINT) AS cy
      |  FROM embeddings),
      |t AS (SELECT count(*)::BIGINT AS n FROM pts),
      |cells AS (SELECT cx, cy, count(*)::BIGINT AS cnt,
      |    (cx + 100) * 1000 + cy + 100 AS cid
      |  FROM pts, t GROUP BY cx, cy, t.n
      |  HAVING count(*) >= greatest(5, t.n // 50)),
      |e AS (SELECT a.cid AS src, b.cid AS dst
      |  FROM cells a JOIN cells b
      |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
      |   AND a.cid < b.cid),
      |edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, r.label FROM reach r JOIN edges e2 ON e2.src = r.id),
      |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
      |SELECT coalesce(comp.component, cells.cid) AS cluster,
      |  count(*)::BIGINT AS n_cells, CAST(sum(cnt) AS BIGINT) AS n_points
      |FROM cells LEFT JOIN comp ON comp.id = cells.cid
      |GROUP BY 1 ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------- q218
  /** Incremental view maintenance by monoid merge: the per-user
    * (count, Σq, max) view maintained as merge(agg(base), agg(delta))
    * — never re-reading base — must equal the full recompute, which is
    * exactly what the oracle computes. Count/sum/max are commutative
    * monoids, so the merge is two partial aggregations and a 2-way
    * combine; the sum is 1e-4-fixed-point (the q193 discipline), so
    * merge equality is bit-exact. At 100 TB this is the difference
    * between scanning yesterday's 99.9 TB and scanning today's 0.1 TB.
    */
  def q218(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), col("ts"),
        floor(col("value") * 10000.0 + 0.5).cast("long").as("q"))
    val cut = ev.agg(date_trunc("day", max("ts")).as("cut"))
    val tagged = ev.crossJoin(broadcast(cut))
    def agg(df: DataFrame): DataFrame = df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"), max("q").as("mq"))
    val base = agg(tagged.filter(col("ts") < col("cut")))
    val delta = agg(tagged.filter(col("ts") >= col("cut")))
    base.withColumnRenamed("n", "n_b").withColumnRenamed("sq", "sq_b")
      .withColumnRenamed("mq", "mq_b")
      .join(delta, Seq("user_id"), "full")
      .select(col("user_id"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n"), lit(0L)))
          .as("n_events"),
        round((coalesce(col("sq_b"), lit(0L)) + coalesce(col("sq"), lit(0L)))
          .cast("double") / 10000.0, 6).as("total_value"),
        (greatest(coalesce(col("mq_b"), lit(Long.MinValue)),
          coalesce(col("mq"), lit(Long.MinValue))).cast("double") / 10000.0)
          .as("max_value"))
      .orderBy("user_id")
  }
  val q218Sql: String =
    """WITH q AS (SELECT user_id,
      |    CAST(floor(value * 10000.0e0 + 0.5e0) AS BIGINT) AS q
      |  FROM events)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |  round(CAST(sum(q) AS DOUBLE) / 10000.0e0, 6) AS total_value,
      |  max(q)::DOUBLE / 10000.0e0 AS max_value
      |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q219
  /** First-order Markov conversion attribution with removal effects:
    * per-user paths truncate at the first purchase (conversion); the
    * transition counts fit in |types|² rows, so the absorption solve
    * runs on a collected matrix — driver math bounded by the STATE
    * SPACE, never the data (the q190 merge-table discipline); all the
    * data-sized work (path truncation, transition counting) is
    * distributed. The iteration quantizes every term to 1e-12 before
    * an integer sum, so engine and the oracle's recursive-CTE replay
    * agree bit-exactly. Output: each channel's removal effect — the
    * conversion probability lost when the channel is deleted — the
    * attribution signal last-touch (q132) structurally cannot see.
    */
  def q219(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iters = 30
    val ev = ExtQueries.events(s, dir)
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val conv = ev
      .withColumn("pt",
        min(when(col("event_type") === "purchase",
          struct(col("ts"), col("event_id")))).over(
          Window.partitionBy("user_id")))
      .filter(col("pt").isNull ||
        struct(col("ts"), col("event_id")) <= col("pt"))
    val steps = conv
      .withColumn("nxt", lead("event_type", 1).over(wu))
      .withColumn("frm", col("event_type"))
    val trans = steps
      .select(col("frm"), coalesce(col("nxt"), lit("NULL")).as("to"))
      .unionByName(conv.groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
          .as("f"))
        .select(lit("START").as("frm"), col("f.event_type").as("to")))
      .groupBy("frm", "to").agg(count(lit(1)).as("c"))
    // state space is tiny by construction (|types|+1 rows of outdegree)
    val rows = trans.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val outdeg = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val states = (rows.map(_._1) ++ rows.map(_._2)).distinct
      .filterNot(st => st == "purchase" || st == "NULL").sorted
    def absorb(removed: Option[String]): Long = {
      // v_i = P(reach purchase from i), 1e12-scaled; every term is
      // floor-quantized BEFORE the (order-free) integer sum — the same
      // expression shape the oracle's unrolled CTEs replay.
      var v = states.map(_ => 0L)
      for (_ <- 1 to iters) {
        v = states.map { st =>
          if (removed.contains(st)) 0L
          else rows.filter(r => r._1 == st)
            .map { case (_, to, c) =>
              val p = c.toDouble / outdeg(st)
              val tv = if (to == "purchase") 1000000000000.0
                       else if (to == "NULL" || removed.contains(to)) 0.0
                       else v(states.indexOf(to)).toDouble
              math.floor(p * tv + 0.5).toLong
            }.sum
        }
      }
      v(states.indexOf("START"))
    }
    val vb = absorb(None)
    val channels = states.filterNot(_ == "START")
    val out = channels.map { ch =>
      val vr = absorb(Some(ch))
      (ch, BigDecimal((vb - vr).toDouble / vb.toDouble).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    out.toSeq.toDF("channel", "removal_effect").orderBy("channel")
  }
  val q219Sql: String = {
    // every CTE is MATERIALIZED: plain (inlined) CTEs re-expand the
    // whole v-chain at each reference — exponential in the iteration
    // count — and DuckDB cannot decorrelate an outer join inside a
    // correlated subquery, so the step is pure joins.
    val step = (k: Int) => s"""v$k AS MATERIALIZED (
       |  SELECT s.removed, st.state,
       |    CASE WHEN st.state = s.removed THEN 0
       |         ELSE coalesce(tt.v, 0) END AS v
       |  FROM scen s CROSS JOIN states st
       |  LEFT JOIN (
       |    SELECT p.removed, t.frm AS state,
       |      CAST(sum(CAST(floor((t.c::DOUBLE / o.s) *
       |        (CASE WHEN t."to" = 'purchase' THEN 1000000000000.0e0
       |              WHEN t."to" = 'NULL' THEN 0.0e0
       |              WHEN t."to" = p.removed THEN 0.0e0
       |              ELSE coalesce(pv.v, 0)::DOUBLE END) + 0.5e0)
       |        AS BIGINT)) AS BIGINT) AS v
       |    FROM scen p CROSS JOIN trans t
       |    JOIN od o ON o.frm = t.frm
       |    LEFT JOIN v${k - 1} pv
       |      ON pv.removed = p.removed AND pv.state = t."to"
       |    GROUP BY p.removed, t.frm
       |  ) tt ON tt.removed = s.removed AND tt.state = st.state)"""
    s"""WITH ev AS MATERIALIZED (SELECT user_id, ts, event_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS rn
       |  FROM events),
       |pp AS MATERIALIZED (SELECT user_id, min(rn) AS prn FROM ev
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS MATERIALIZED (SELECT ev.* FROM ev LEFT JOIN pp USING (user_id)
       |  WHERE pp.prn IS NULL OR ev.rn <= pp.prn),
       |steps AS (
       |  SELECT event_type AS frm,
       |    coalesce(lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY rn), 'NULL') AS "to"
       |  FROM kept
       |  UNION ALL
       |  SELECT 'START' AS frm, arg_min(event_type, rn) AS "to"
       |  FROM kept GROUP BY user_id),
       |trans AS MATERIALIZED (SELECT frm, "to", count(*)::BIGINT AS c
       |  FROM steps GROUP BY 1, 2),
       |od AS MATERIALIZED (SELECT frm, CAST(sum(c) AS BIGINT) AS s FROM trans
       |  GROUP BY 1),
       |states AS MATERIALIZED (SELECT DISTINCT state FROM (
       |    SELECT frm AS state FROM trans UNION SELECT "to" FROM trans)
       |  WHERE state NOT IN ('purchase', 'NULL')),
       |scen AS MATERIALIZED (SELECT 'BASE' AS removed
       |  UNION ALL SELECT state FROM states WHERE state <> 'START'),
       |v0 AS MATERIALIZED (SELECT s.removed, st.state, CAST(0 AS BIGINT) AS v
       |  FROM scen s CROSS JOIN states st),
       |${(1 to 30).map(step).mkString(",\n")},
       |fin AS (SELECT removed, v FROM v30 WHERE state = 'START')
       |SELECT r.removed AS channel,
       |  round((b.v - r.v)::DOUBLE / b.v::DOUBLE, 6) AS removal_effect
       |FROM fin r, fin b
       |WHERE b.removed = 'BASE' AND r.removed <> 'BASE'
       |ORDER BY channel""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q216_temperature_budget" -> (q216 _),
    "q217_grid_dbscan" -> (q217 _),
    "q218_ivm_merge" -> (q218 _),
    "q219_markov_attribution" -> (q219 _))

  val oracles: Map[String, String] = Map(
    "q216_temperature_budget" -> q216Sql,
    "q217_grid_dbscan" -> q217Sql,
    "q218_ivm_merge" -> q218Sql,
    "q219_markov_attribution" -> q219Sql)
}
