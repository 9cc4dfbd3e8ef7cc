package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 60" query set (q387–q389): structure fingerprinting
  * and measurement pre-flights — Weisfeiler-Leman color refinement
  * over the co-order graph (the structure-dedup primitive for
  * graph-shaped training samples), a Simpson's-paradox sign-flip
  * census (the aggregation audit any per-segment metric needs before
  * pooling), and a Bloom-filter false-positive calibration (the
  * sizing pre-flight for every bloom-gated join/decontamination pass
  * in this engine). Same contract as every wave: DuckDB oracle per
  * query, exact integer sums, one fixed-shape double division per
  * reported ratio.
  */
object Wave60Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q387
  /** Weisfeiler-Leman color refinement, 2 rounds, over the co-order
    * graph: label₀ = degree, labelᵣ₊₁ = md5(labelᵣ ‖ '|' ‖ sorted
    * neighbor labelᵣ list), reported as the per-round partition
    * census (class count, singleton count, max class size). Two
    * structurally different graphs almost surely split into different
    * censuses — the cheap isomorphism-negative test, and the
    * refinement labels are the dedup key for graph-shaped samples.
    *
    * Scale shape: each round is ONE aggregation over the symmetric
    * edge list joined to the previous round's node labels (shuffle on
    * node, then on neighbor) — no per-node adjacency ever leaves the
    * row, the sorted neighbor-label list is a per-node collect over a
    * caller-bounded degree (co-order baskets), and rounds are FIXED at
    * 2 (WL stabilizes in ≤ diameter rounds; 2 is the standard kernel
    * depth). md5 on identical strings makes every label engine-exact.
    */
  def q387(s: SparkSession, dir: String): DataFrame = {
    val e = Wave6Queries.coOrderEdges(s, dir)
    val sym = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint(true)
    val l0 = sym.groupBy("node")
      .agg(count(lit(1)).cast("string").as("lab"))
    def refine(labels: DataFrame): DataFrame = sym
      .join(labels.withColumnRenamed("node", "nbr")
        .withColumnRenamed("lab", "nlab"), Seq("nbr"))
      .groupBy("node")
      .agg(concat_ws(",", sort_array(collect_list(col("nlab")))).as("ns"))
      .join(labels, Seq("node"))
      .select(col("node"),
        substring(md5(concat(col("lab"), lit("|"), col("ns"))), 1, 8)
          .as("lab"))
    val l1 = refine(l0).localCheckpoint(false)
    val l2 = refine(l1)
    def census(labels: DataFrame, round: Int): DataFrame = labels
      .groupBy("lab").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
        max(col("sz")).as("max_class"))
      .select(lit(round.toLong).as("round"), col("n_classes"),
        col("n_singletons"), col("max_class"))
    census(l0, 0).unionByName(census(l1, 1)).unionByName(census(l2, 2))
      .orderBy("round")
  }
  val q387Sql: String =
    s"""WITH e AS (${Wave6Queries.coOrderEdgesSql}),
       |sym AS (SELECT src AS node, dst AS nbr FROM e
       |        UNION ALL SELECT dst, src FROM e),
       |l0 AS (SELECT node, count(*)::VARCHAR AS lab FROM sym
       |       GROUP BY node),
       |l1 AS (SELECT s.node,
       |    substr(md5(l.lab || '|'
       |      || string_agg(ln.lab, ',' ORDER BY ln.lab)), 1, 8) AS lab
       |  FROM sym s JOIN l0 ln ON ln.node = s.nbr
       |  JOIN l0 l ON l.node = s.node
       |  GROUP BY s.node, l.lab),
       |l2 AS (SELECT s.node,
       |    substr(md5(l.lab || '|'
       |      || string_agg(ln.lab, ',' ORDER BY ln.lab)), 1, 8) AS lab
       |  FROM sym s JOIN l1 ln ON ln.node = s.nbr
       |  JOIN l1 l ON l.node = s.node
       |  GROUP BY s.node, l.lab),
       |c0 AS (SELECT lab, count(*) AS sz FROM l0 GROUP BY lab),
       |c1 AS (SELECT lab, count(*) AS sz FROM l1 GROUP BY lab),
       |c2 AS (SELECT lab, count(*) AS sz FROM l2 GROUP BY lab)
       |SELECT 0::BIGINT AS round, count(*)::BIGINT AS n_classes,
       |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
       |  max(sz)::BIGINT AS max_class FROM c0
       |UNION ALL
       |SELECT 1, count(*)::BIGINT,
       |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT,
       |  max(sz)::BIGINT FROM c1
       |UNION ALL
       |SELECT 2, count(*)::BIGINT,
       |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT,
       |  max(sz)::BIGINT FROM c2
       |ORDER BY round""".stripMargin

  // ---------------------------------------------------------------- q388
  /** Simpson's-paradox sign-flip census: per-nation OLS slope of line
    * revenue (cents) on quantity vs the pooled slope — how many
    * segments disagree in SIGN with the pooled trend, and the widest
    * gap. The aggregation audit to run before pooling any per-segment
    * metric into a headline number.
    *
    * Scale shape: ONE pass builds per-group exact integer moment sums
    * (map-side combinable); pooled moments are their roll-up
    * (bit-identical to pooling raw rows), so the fact is scanned
    * once. Slopes are one fixed-shape double division per group,
    * quantized to 1e-6 before the flip compare and the gap max.
    */
  def q388(s: SparkSession, dir: String): DataFrame = {
    val f = T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("y"))
    val g = f.groupBy("n_name").agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val beta = (col("n").cast("double") * col("sxy").cast("double")
      - col("sx").cast("double") * col("sy").cast("double")) /
      (col("n").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
    val gq = g.select(col("n_name"),
      floor(beta * 10000.0 + 0.5).cast("long").as("bq"))
    val pooled = g.agg(sum("n").as("n"), sum("sx").as("sx"),
        sum("sy").as("sy"), sum("sxy").as("sxy"), sum("sxx").as("sxx"))
      .select(floor(beta * 10000.0 + 0.5).cast("long").as("pbq"))
    gq.crossJoin(broadcast(pooled))
      .agg(count(lit(1)).as("n_groups"),
        max(col("pbq")).as("pbq"),
        sum(when(signum(col("bq")) =!= signum(col("pbq")), 1L)
          .otherwise(0L)).as("n_sign_flips"),
        max(abs(col("bq") - col("pbq"))).as("gapq"))
      .select(col("n_groups"),
        round(col("pbq").cast("double") / 1000000.0, 6).as("pooled_beta"),
        col("n_sign_flips"),
        round(col("gapq").cast("double") / 1000000.0, 6).as("max_gap"))
  }
  val q388Sql: String = {
    val beta = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""".stripMargin
    s"""WITH f AS (SELECT n_name, CAST(l_quantity AS BIGINT) AS x,
       |    CAST(floor(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT) AS y
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |g AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM f GROUP BY 1),
       |gq AS (SELECT n_name,
       |    CAST(floor($beta * 10000.0e0 + 0.5e0) AS BIGINT) AS bq
       |  FROM g),
       |p AS (SELECT CAST(floor($beta * 10000.0e0 + 0.5e0) AS BIGINT)
       |    AS pbq
       |  FROM (SELECT CAST(sum(n) AS BIGINT) AS n,
       |      CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
       |      CAST(sum(sxy) AS BIGINT) AS sxy,
       |      CAST(sum(sxx) AS BIGINT) AS sxx FROM g))
       |SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |  round(CAST(max(pbq) AS DOUBLE) / 1000000.0e0, 6) AS pooled_beta,
       |  CAST(sum(CASE WHEN sign(bq) <> sign(pbq) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sign_flips,
       |  round(CAST(max(abs(bq - pbq)) AS DOUBLE) / 1000000.0e0, 6)
       |    AS max_gap
       |FROM gq, p""".stripMargin
  }

  // ---------------------------------------------------------------- q389
  /** Bloom-filter false-positive calibration: insert the even part
    * keys into an m = 2¹⁸-bit, k = 3 filter (md5-sliced hash family,
    * engine-portable), probe the disjoint odd keys, report measured
    * FPR against the exact integer load factor ⌊1000·k·n/m⌋ — the
    * sizing pre-flight for every bloom-gated join/decontamination in
    * this engine (q66, q187). No transcendentals: the theoretical
    * (1−e^(−kn/m))^k curve belongs in the notebook reading this
    * table, not in a bit-exact oracle.
    *
    * Scale shape: the bit set is a distinct-aggregation of k·n longs;
    * the probe is one equi-join of the probe hashes against the bit
    * set (posting-list bounded), then a per-key all-k-matched count.
    * Nothing is ever collected; the "filter" is relational, which is
    * exactly how a 100 TB bloom pre-flight has to run — you cannot
    * hold the real filter in one JVM, but you CAN measure its FPR.
    */
  def q389(s: SparkSession, dir: String): DataFrame = {
    val m = 1L << 18
    val k = 3
    val keys = T(s, dir, "part").select(col("p_partkey").as("key"))
    def hashes(df: DataFrame): DataFrame = df.select(col("key"),
      explode(array((0 until k).map(i =>
        conv(substring(md5(concat(lit(s"$i:"), col("key").cast("string"))),
          1, 8), 16, 10).cast("long") % m): _*)).as("h"))
    val ins = keys.filter(col("key") % 2 === 0)
    val bits = hashes(ins).select("h").distinct()
    val probe = hashes(keys.filter(col("key") % 2 === 1))
    val matched = probe.join(bits, Seq("h"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("hits"))
    val nIns = ins.agg(count(lit(1)).as("n_ins"))
    val nProbe = keys.filter(col("key") % 2 === 1)
      .agg(count(lit(1)).as("n_probe"))
    val fps = matched.filter(col("hits") === k)
      .agg(count(lit(1)).as("n_fp"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    nIns.crossJoin(nProbe).crossJoin(fps).crossJoin(nBits)
      .select(col("n_ins"), col("n_probe"), col("n_fp"),
        col("n_bits_set"),
        (lit(1000L * k) * col("n_ins") / lit(m)).cast("long")
          .as("load_milli"),
        round(col("n_fp").cast("double") / col("n_probe").cast("double"),
          6).as("fpr"))
  }
  val q389Sql: String = {
    def h(src: String) =
      s"""SELECT key, ('0x' || substr(md5(i.i || ':' || key::VARCHAR),
         |      1, 8))::BIGINT % 262144 AS h
         |  FROM $src, (SELECT unnest([0, 1, 2])::VARCHAR AS i) i""".stripMargin
    s"""WITH ik AS (SELECT p_partkey AS key FROM part
       |  WHERE p_partkey % 2 = 0),
       |pk AS (SELECT p_partkey AS key FROM part WHERE p_partkey % 2 = 1),
       |bits AS (SELECT DISTINCT h FROM (${h("ik")})),
       |ph AS (${h("pk")}),
       |mt AS (SELECT key, count(*) AS hits FROM ph
       |  SEMI JOIN bits ON ph.h = bits.h GROUP BY key),
       |agg AS (SELECT
       |    (SELECT count(*) FROM ik)::BIGINT AS n_ins,
       |    (SELECT count(*) FROM pk)::BIGINT AS n_probe,
       |    (SELECT count(*) FROM mt WHERE hits = 3)::BIGINT AS n_fp,
       |    (SELECT count(*) FROM bits)::BIGINT AS n_bits_set)
       |SELECT n_ins, n_probe, n_fp, n_bits_set,
       |  (3000 * n_ins // 262144)::BIGINT AS load_milli,
       |  round(CAST(n_fp AS DOUBLE) / CAST(n_probe AS DOUBLE), 6) AS fpr
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q387_wl_refinement" -> (q387 _),
    "q388_simpson_flips" -> (q388 _),
    "q389_bloom_fpr" -> (q389 _))

  val oracles: Map[String, String] = Map(
    "q387_wl_refinement" -> q387Sql,
    "q388_simpson_flips" -> q388Sql,
    "q389_bloom_fpr" -> q389Sql)
}
