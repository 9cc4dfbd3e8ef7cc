package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 91" query set (q460–q462): truss decomposition, the
  * HumanEval pass@k estimator, and vocabulary-richness estimation —
  *
  *  - q460 k-truss peel ([[graft.ops.Graph.trussPeel]]): bounded-round
  *    iterative peeling of edges below the support threshold — the
  *    cohesive-subgraph extractor one level stronger than k-core; each
  *    round is the degree-ordered triangle kernel on the shrinking
  *    survivor set, `localCheckpoint`ed so lineage stays linear.
  *  - q461 pass@k ([[graft.ops.ext.Eval.passAtK]]): the unbiased
  *    1 − C(n−c,k)/C(n,k) estimator (Chen et al. 2021) as a fixed-order
  *    product fold — bit-deterministic across engines, no factorials,
  *    no UDF.
  *  - q462 vocabulary richness ([[graft.ops.ext.TextAnalysis
  *    .vocabRichness]]): Chao1 lower-bound richness, Good–Turing unseen
  *    mass, and Turing coverage per source from the frequency spectrum —
  *    the "is this source's vocabulary exhausted" table.
  */
object Wave91Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q460
  /** 3-truss peel, 3 rounds, over the co-order graph: every surviving
    * edge must sit in ≥ 1 surviving triangle — the triangle-connected
    * core (at the gate scale that is ~5% of edges; the other 95% peel
    * in round 1). Survivors reported with residual support.
    */
  def q460(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.trussPeel(Wave6Queries.coOrderEdges(s, dir),
        k = 3L, rounds = 3)
      .orderBy("src", "dst")
  val q460Sql: String = {
    val k = 3
    // one support computation over edge CTE `prev`, emitting sup$i;
    // every CTE is MATERIALIZED — dir$i is referenced three times and
    // DuckDB would otherwise inline the round tree exponentially
    def supportBlock(i: Int, prev: String): String =
      s"""sym$i AS MATERIALIZED (SELECT a AS node, b AS nbr FROM $prev
         |  UNION ALL SELECT b, a FROM $prev),
         |deg$i AS MATERIALIZED (SELECT node, count(*) AS deg
         |  FROM sym$i GROUP BY 1),
         |dir$i AS MATERIALIZED (SELECT
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN e.a ELSE e.b END AS u,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN e.b ELSE e.a END AS v,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |         THEN db.deg ELSE da.deg END AS dv
         |  FROM $prev e JOIN deg$i da ON e.a = da.node
         |       JOIN deg$i db ON e.b = db.node),
         |tri$i AS MATERIALIZED (SELECT e1.u, e1.v AS v1, e2.v AS v2
         |  FROM dir$i e1 JOIN dir$i e2 ON e1.u = e2.u
         |    AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
         |  JOIN dir$i d ON d.u = e1.v AND d.v = e2.v),
         |sup$i AS MATERIALIZED (SELECT e.a, e.b,
         |    coalesce(s.c, 0) AS support
         |  FROM $prev e LEFT JOIN (SELECT a, b, count(*) AS c FROM (
         |      SELECT least(u, v1) AS a, greatest(u, v1) AS b FROM tri$i
         |      UNION ALL SELECT least(u, v2), greatest(u, v2) FROM tri$i
         |      UNION ALL SELECT least(v1, v2), greatest(v1, v2) FROM tri$i)
         |    GROUP BY 1, 2) s ON s.a = e.a AND s.b = e.b)""".stripMargin
    val rounds = (1 to 3).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      supportBlock(i, prev) + ",\n" +
        s"""e$i AS MATERIALIZED (SELECT a, b FROM sup$i
           |  WHERE support >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT src AS a, dst AS b FROM (${Wave6Queries.coOrderEdgesSql})),
       |$rounds,
       |${supportBlock(4, "e3")}
       |SELECT a AS src, b AS dst, support::BIGINT AS support,
       |  support >= ${k - 2} AS in_truss
       |FROM sup4 ORDER BY src, dst""".stripMargin
  }

  // ---------------------------------------------------------------- q461
  /** pass@{1,5,10} per part: lineitems of a part are the "samples",
    * returned items ('R') the "correct" ones — per-task n, c plus the
    * three unbiased estimates; tasks need n ≥ 10 so every k is valid.
    */
  def q461(s: SparkSession, dir: String): DataFrame = {
    val tasks = T(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c"))
      .where(col("n") >= 10)
    graft.ops.ext.Eval.passAtK(tasks, "n", "c", Seq(1, 5, 10))
      .orderBy("l_partkey")
  }
  val q461Sql: String = {
    def p(k: Int): String =
      s"""round(1.0 - list_reduce(
         |    list_transform(generate_series(0, ${k - 1}),
         |      i -> (n - c - i)::DOUBLE / (n - i)),
         |    (a, b) -> a * b), 6) AS pass_at_$k""".stripMargin
    s"""WITH tasks AS (SELECT l_partkey, count(*)::BIGINT AS n,
       |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM lineitem GROUP BY 1 HAVING count(*) >= 10)
       |SELECT l_partkey, n, c,
       |  ${p(1)},
       |  ${p(5)},
       |  ${p(10)}
       |FROM tasks ORDER BY l_partkey""".stripMargin
  }

  // ---------------------------------------------------------------- q462
  /** Vocabulary richness per source over `documents`: Chao1, unseen
    * mass, coverage from the token-frequency spectrum.
    */
  def q462(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.TextAnalysis.vocabRichness(
      T(s, dir, "documents"), "text", "source")
  val q462Sql: String =
    """WITH tf AS (SELECT source, t, count(*) AS c
      |  FROM (SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9]+'),
      |      x -> len(x) > 0)) AS t
      |    FROM documents)
      |  GROUP BY 1, 2),
      |spec AS (SELECT source, sum(c)::BIGINT AS n_tokens,
      |    count(*)::BIGINT AS n_distinct,
      |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
      |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
      |  FROM tf GROUP BY 1)
      |SELECT source, n_tokens, n_distinct, f1, f2,
      |  round(n_distinct + f1::DOUBLE * (f1 - 1) / (2.0 * (f2 + 1)), 4)
      |    AS chao1,
      |  round(f1::DOUBLE / n_tokens, 6) AS unseen_mass,
      |  round(1.0 - f1::DOUBLE / n_tokens, 6) AS coverage
      |FROM spec ORDER BY source""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q460_ktruss_peel" -> (q460 _),
    "q461_pass_at_k" -> (q461 _),
    "q462_vocab_richness" -> (q462 _))

  val oracles: Map[String, String] = Map(
    "q460_ktruss_peel" -> q460Sql,
    "q461_pass_at_k" -> q461Sql,
    "q462_vocab_richness" -> q462Sql)
}
