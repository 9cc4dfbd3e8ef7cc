package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 49" query set (q349–q352): graph structure, third
  * installment — partition modularity, onion-layer decomposition,
  * temporal graph diff, and a seed-set reach/harmonic census. Same
  * contract as every wave: DuckDB oracle per query, community terms
  * quantized to 1e-9 before cross-community sums, exact-rational
  * harmonic sums (LCM-scaled), deterministic peels.
  */
object Wave49Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q349
  /** Newman modularity ([[graft.ops.Graph.modularity]]) of the
    * minShared = 3 component partition (q311's communities) measured
    * ON the denser minShared = 2 co-order graph — "do the strong-tie
    * clusters explain the weak-tie structure". Nodes outside any
    * strong component count as singleton communities.
    */
  def q349(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    // ONE distinct + self-join + count over lineitem serves BOTH
    // graphs: the persisted pair-count frame filters to shared >= 2
    // (the weak-tie measurement graph) and shared >= 3 (the strong-tie
    // community graph) — round 5 built each threshold from its own
    // full lineitem scan, doubling the dominant cost.
    val pc = graft.ops.Graph.coOccurrencePairCounts(li, "l_orderkey",
      "l_partkey").persist()
    val e2 = pc.filter(col("shared") >= 2L).select("src", "dst")
    val e3 = pc.filter(col("shared") >= 3L).select("src", "dst")
    val comp = graft.ops.ext.Dedup.connectedComponentsStar(
      e3.select(col("src").as("id_a"), col("dst").as("id_b")))
    val nodes = e2.select(col("src").as("node"))
      .unionByName(e2.select(col("dst").as("node"))).distinct()
    val communities = nodes
      .join(comp.withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("community"))
    graft.ops.Graph.modularity(e2, communities)
  }
  val q349Sql: String =
    s"""WITH RECURSIVE e2 AS (${Wave6Queries.coOrderEdgesSql}),
       |e3 AS (SELECT a.item AS src, b.item AS dst
       |  FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |        FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |        FROM lineitem) b
       |    ON a.g = b.g AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |edges3 AS (SELECT src, dst FROM e3 UNION ALL SELECT dst, src FROM e3),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges3
       |  UNION
       |  SELECT x.dst, r.label FROM reach r JOIN edges3 x ON x.src = r.id),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |nodes AS (SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2)),
       |cm AS (SELECT n.node, coalesce(c.component, n.node) AS community
       |  FROM nodes n LEFT JOIN comp c ON c.id = n.node),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e2),
       |intra AS (SELECT ca.community, CAST(count(*) AS BIGINT) AS m_c
       |  FROM e2 JOIN cm ca ON ca.node = e2.src
       |          JOIN cm cb ON cb.node = e2.dst
       |  WHERE ca.community = cb.community
       |  GROUP BY 1),
       |degc AS (SELECT cm.community, CAST(count(*) AS BIGINT) AS d_c
       |  FROM (SELECT src AS node FROM e2
       |        UNION ALL SELECT dst FROM e2) sym
       |  JOIN cm ON cm.node = sym.node
       |  GROUP BY 1),
       |terms AS (SELECT d.community, coalesce(i.m_c, 0) AS m_c, d.d_c,
       |    CAST(floor((CAST(coalesce(i.m_c, 0) AS DOUBLE)
       |        / CAST(m.m AS DOUBLE)
       |      - (CAST(d.d_c AS DOUBLE) / (2.0e0 * CAST(m.m AS DOUBLE)))
       |        * (CAST(d.d_c AS DOUBLE) / (2.0e0 * CAST(m.m AS DOUBLE))))
       |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS qt
       |  FROM degc d LEFT JOIN intra i USING (community), m)
       |SELECT m.m AS n_edges, CAST(count(*) AS BIGINT) AS n_communities,
       |  CAST(sum(m_c) AS BIGINT) AS intra_edges,
       |  round(CAST(sum(qt) AS DOUBLE) / 1000000000.0e0, 6) AS modularity
       |FROM terms, m GROUP BY m.m""".stripMargin

  // ---------------------------------------------------------------- q350
  /** Onion decomposition ([[graft.ops.Graph.onionLayers]], 6 peel
    * rounds) of the co-order graph: every node's peel layer and its
    * degree at peel time — the fine structure the single k-core
    * number (q159) flattens.
    */
  def q350(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.onionLayers(Wave6Queries.coOrderEdges(s, dir),
      rounds = 6).orderBy("node")
  val q350Sql: String = {
    def round_(i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM s${i - 1} GROUP BY node),
         |mn$i AS MATERIALIZED (SELECT min(deg) AS mn FROM d$i),
         |p$i AS MATERIALIZED (SELECT d.node, ${i}::BIGINT AS layer,
         |    d.deg AS final_deg
         |  FROM d$i d, mn$i WHERE d.deg = mn$i.mn),
         |s$i AS MATERIALIZED (SELECT s.node, s.nbr FROM s${i - 1} s
         |  WHERE s.node NOT IN (SELECT node FROM p$i)
         |    AND s.nbr NOT IN (SELECT node FROM p$i))""".stripMargin
    s"""WITH e AS MATERIALIZED (${Wave6Queries.coOrderEdgesSql}),
       |s0 AS MATERIALIZED (SELECT src AS node, dst AS nbr FROM e
       |       UNION ALL SELECT dst, src FROM e),
       |${(1 to 6).map(round_).mkString(",\n")},
       |rest AS (SELECT node, 7::BIGINT AS layer,
       |    CAST(count(*) AS BIGINT) AS final_deg
       |  FROM s6 GROUP BY node)
       |SELECT node, layer, final_deg FROM (
       |  ${(1 to 6).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")}
       |  UNION ALL SELECT * FROM rest)
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q351
  /** Temporal graph diff: the co-order graph built from the FIRST half
    * of the shipping window vs the second (split at the midpoint epoch
    * day — pure integers), compared edge-set-wise: persisted, added,
    * removed, jaccard — the drift census for any co-occurrence
    * structure a model consumes.
    */
  def q351(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_partkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
        .as("day"))
    val cut = li.agg(expr("(min(day) + max(day)) div 2").as("cut"))
    val withCut = li.crossJoin(cut)
    def half(cond: org.apache.spark.sql.Column): DataFrame =
      graft.ops.Graph.coOccurrenceEdges(withCut.filter(cond),
        "l_orderkey", "l_partkey", minShared = 2L)
    val g1 = half(col("day") <= col("cut")).persist()
    val g2 = half(col("day") > col("cut")).persist()
    val common = g1.join(g2, Seq("src", "dst")).agg(count(lit(1)).as("common"))
    val n1 = g1.agg(count(lit(1)).as("n_edges_1"))
    val n2 = g2.agg(count(lit(1)).as("n_edges_2"))
    n1.crossJoin(n2).crossJoin(common)
      .select(col("n_edges_1"), col("n_edges_2"), col("common"),
        (col("n_edges_2") - col("common")).as("added"),
        (col("n_edges_1") - col("common")).as("removed"),
        round(col("common").cast("double") /
          (col("n_edges_1") + col("n_edges_2") - col("common"))
            .cast("double"), 6).as("jaccard"))
  }
  val q351Sql: String = {
    def half(op: String): String =
      s"""SELECT a.item AS src, b.item AS dst
         |  FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
         |        FROM li, cut WHERE day $op cut) a
         |  JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
         |        FROM li, cut WHERE day $op cut) b
         |    ON a.g = b.g AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    s"""WITH li AS (SELECT l_orderkey, l_partkey,
       |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS day
       |  FROM lineitem),
       |cut AS (SELECT (min(day) + max(day)) // 2 AS cut FROM li),
       |g1 AS (${half("<=")}),
       |g2 AS (${half(">")}),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS common
       |  FROM g1 JOIN g2 USING (src, dst)),
       |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_1 FROM g1),
       |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_2 FROM g2)
       |SELECT n_edges_1, n_edges_2, common,
       |  n_edges_2 - common AS added, n_edges_1 - common AS removed,
       |  round(CAST(common AS DOUBLE)
       |    / CAST(n_edges_1 + n_edges_2 - common AS DOUBLE), 6) AS jaccard
       |FROM n1, n2, c""".stripMargin
  }

  // ---------------------------------------------------------------- q352
  /** Seed-set reach census: one multi-source BFS (suppliers 1–3, 4
    * hops, the q262 graph) aggregated into the reachability card —
    * reached share, eccentricity, exact mean distance, and harmonic
    * reach Σ 1/d with the rationals LCM-scaled (×12: every d ≤ 4
    * divides it, so the sum is EXACT integers end to end).
    */
  def q352(s: SparkSession, dir: String): DataFrame = {
    val fwd = T(s, dir, "lineitem").select(col("l_suppkey").as("src"),
      (col("l_partkey") + 1000000L).as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = T(s, dir, "supplier").filter(col("s_suppkey") <= 3)
      .select(col("s_suppkey").as("node"))
    val d = graft.ops.Graph.bfsDistances(edges, seeds, maxHops = 4)
    d.agg(count(lit(1)).as("n_nodes"),
        sum(when(col("dist") >= 1, 1L).otherwise(0L)).as("n_reached"),
        max("dist").as("eccentricity"),
        sum(when(col("dist") >= 1, col("dist")).otherwise(0L)).as("sd"),
        sum(when(col("dist") >= 1, expr("12 div dist")).otherwise(0L))
          .as("h12"))
      .select(col("n_nodes"), col("n_reached"), col("eccentricity"),
        round(col("n_reached").cast("double")
          / col("n_nodes").cast("double"), 6).as("reached_share"),
        round(col("sd").cast("double") / col("n_reached").cast("double"),
          6).as("mean_dist"),
        round(col("h12").cast("double") / lit(12.0), 6).as("harmonic"))
  }
  val q352Sql: String = {
    def level(i: Int): String =
      s"""f$i AS (SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM s${i - 1})),
         |s$i AS (SELECT node, dist FROM s${i - 1}
         |        UNION ALL SELECT node, $i AS dist FROM f$i)""".stripMargin
    s"""WITH fwd AS (SELECT DISTINCT l_suppkey AS src,
       |    1000000 + l_partkey AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM fwd
       |          UNION SELECT dst, src FROM fwd),
       |seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier
       |          WHERE s_suppkey <= 3),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node FROM seeds),
       |s0 AS (SELECT node, 0 AS dist FROM seeds),
       |f0 AS (SELECT node FROM seeds),
       |${(1 to 4).map(level).mkString(",\n")},
       |dd AS (SELECT n.node, coalesce(s.dist, -1) AS dist
       |  FROM nodes n LEFT JOIN s4 s USING (node))
       |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(count(CASE WHEN dist >= 1 THEN 1 END) AS BIGINT)
       |    AS n_reached,
       |  CAST(max(dist) AS BIGINT) AS eccentricity,
       |  round(CAST(count(CASE WHEN dist >= 1 THEN 1 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS reached_share,
       |  round(CAST(sum(CASE WHEN dist >= 1 THEN dist ELSE 0 END)
       |      AS DOUBLE)
       |    / CAST(count(CASE WHEN dist >= 1 THEN 1 END) AS DOUBLE), 6)
       |    AS mean_dist,
       |  round(CAST(sum(CASE WHEN dist >= 1 THEN 12 // dist ELSE 0 END)
       |      AS DOUBLE) / 12.0e0, 6) AS harmonic
       |FROM dd""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q349_modularity" -> (q349 _),
    "q350_onion_layers" -> (q350 _),
    "q351_graph_diff" -> (q351 _),
    "q352_reach_census" -> (q352 _))

  val oracles: Map[String, String] = Map(
    "q349_modularity" -> q349Sql,
    "q350_onion_layers" -> q350Sql,
    "q351_graph_diff" -> q351Sql,
    "q352_reach_census" -> q352Sql)
}
