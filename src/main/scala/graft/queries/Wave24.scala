package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 "wave 24" query set (q249–q252): HITS hub/authority scores,
  * the Mann–Whitney rank-sum test, the two-group log-rank survival
  * test, and TextRank keyword extraction. Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, fixed-point quantization before any
  * cross-row float sum, deterministic tie-breaks.
  */
object Wave24Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q249
  /** HITS ([[graft.ops.Graph.hits]]) over the directed supplier→part
    * graph from lineitem (q77's bipartite graph, kept directed so hubs
    * = suppliers, authorities = parts): 2 max-normalized rounds of
    * integer-scaled mutual reinforcement, every rank bit-exact against
    * the unrolled-CTE oracle the same way PageRank (q77) is.
    */
  def q249(s: SparkSession, dir: String): DataFrame = {
    val edges = T(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
    graft.ops.Graph.hits(edges, rounds = 2).orderBy("node")
  }
  val q249Sql: String = {
    def authRound(hPrev: String, i: Int): String =
      s"""a${i}r AS (SELECT e.dst AS node, sum(h.hub) AS raw
         |  FROM edges e JOIN $hPrev h ON e.src = h.node GROUP BY 1),
         |a$i AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000000000
         |    // (SELECT max(raw) FROM a${i}r) AS BIGINT) AS auth
         |  FROM a${i}r),
         |h${i}r AS (SELECT e.src AS node, sum(a.auth) AS raw
         |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
         |h$i AS (SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000000000
         |    // (SELECT max(raw) FROM h${i}r) AS BIGINT) AS hub
         |  FROM h${i}r)""".stripMargin
    s"""WITH edges AS (SELECT DISTINCT l_suppkey AS src,
       |    1000000 + l_partkey AS dst FROM lineitem),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS hub
       |       FROM nodes),
       |${authRound("h0", 1)},
       |${authRound("h1", 2)}
       |SELECT n.node, coalesce(h2.hub, 0) AS hub,
       |  coalesce(a2.auth, 0) AS auth
       |FROM nodes n LEFT JOIN h2 USING (node) LEFT JOIN a2 USING (node)
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q250
  /** Mann–Whitney U ([[graft.ops.NonParam.mannWhitney]]): order values
    * (quantized to cents) of priority orders ('1-URGENT') vs low
    * ('5-LOW') — the rank-sum complement to the KS distance (q153) and
    * Welch t (q163) two-sample tests. Doubled integer ranks over the
    * distinct-value domain, DECIMAL rank sums, tie-corrected normal z.
    */
  def q250(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    graft.ops.NonParam.mannWhitney(o, "cents", "grp", "1-URGENT", "5-LOW")
  }
  val q250Sql: String =
    """WITH src AS (SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |counts AS (SELECT v,
      |    CAST(sum(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM src GROUP BY v),
      |ranked AS (SELECT ca, cb,
      |    2 * coalesce(sum(ca + cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + ca + cb + 1 AS r2
      |  FROM counts),
      |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
      |    CAST(sum(cb) AS BIGINT) AS n_b,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS r2a,
      |    CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
      |      - (ca + cb)) AS HUGEINT) AS tie
      |  FROM ranked),
      |mid AS (SELECT n_a, n_b,
      |    r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2a, tie,
      |    n_a + n_b AS n
      |  FROM agg)
      |SELECT n_a, n_b,
      |  round(CAST(u2a AS DOUBLE) / 2.0e0, 6) AS u_a,
      |  round(CAST(CAST(n_a AS HUGEINT) * n_b * 2 - u2a AS DOUBLE)
      |    / 2.0e0, 6) AS u_b,
      |  CAST(tie AS BIGINT) AS tie_term,
      |  round((CAST(u2a AS DOUBLE)
      |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0e0
      |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |      * ((CAST(n AS DOUBLE) + 1.0e0)
      |        - CAST(tie AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
      |      / 12.0e0), 6) AS z
      |FROM mid""".stripMargin

  // ---------------------------------------------------------------- q251
  /** Log-rank test ([[graft.ops.Survival.logRank]]): user lifetimes in
    * whole hours (first→last event), right-censored for users still
    * active in the last tenth of the observation window, compared
    * between even and odd user ids — the inference companion to the
    * q162 Kaplan–Meier curve. Integer death/at-risk counts, per-time
    * terms quantized to 1e-9 before the cross-time sums.
    */
  def q251(s: SparkSession, dir: String): DataFrame = {
    val ev = ExtQueries.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(
      (min(col("us")) + expr("(max(us) - min(us)) * 9 div 10")).as("cut"))
    val users = ev.groupBy("user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .crossJoin(broadcast(bounds))
      .select(
        expr("(last_us - first_us) div 3600000000").as("dur_h"),
        (col("last_us") < col("cut")).as("observed"),
        when(pmod(col("user_id"), lit(2L)) === 0, "even").otherwise("odd")
          .as("grp"))
    graft.ops.Survival.logRank(users, "dur_h", "observed", "grp",
      "even", "odd")
  }
  val q251Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |bounds AS (SELECT min(us) + (max(us) - min(us)) * 9 // 10 AS cut
      |  FROM ev),
      |users AS (SELECT (max(us) - min(us)) // 3600000000 AS t,
      |    max(us) < (SELECT cut FROM bounds) AS observed,
      |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp
      |  FROM ev GROUP BY user_id),
      |pert AS (SELECT t,
      |    CAST(sum(CASE WHEN grp = 'even' AND observed THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN grp = 'odd' AND observed THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2,
      |    CAST(sum(CASE WHEN grp = 'even' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS l1,
      |    CAST(sum(CASE WHEN grp = 'odd' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS l2
      |  FROM users GROUP BY t),
      |tot AS (SELECT CAST(sum(l1) AS BIGINT) AS t1,
      |    CAST(sum(l2) AS BIGINT) AS t2 FROM pert),
      |risk AS (SELECT t, d1, d2,
      |    t1 - coalesce(CAST(sum(l1) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS n1,
      |    t2 - coalesce(CAST(sum(l2) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS n2
      |  FROM pert, tot),
      |terms AS (SELECT d1, d2,
      |    CAST((d1 + d2) * n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS e1,
      |    CASE WHEN n1 + n2 > 1 THEN
      |      CAST((d1 + d2) * n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
      |        * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      |        * (CAST((n1 + n2) - (d1 + d2) AS DOUBLE)
      |          / CAST((n1 + n2) - 1 AS DOUBLE))
      |      ELSE 0.0e0 END AS v
      |  FROM risk WHERE d1 + d2 > 0 AND n1 + n2 > 0),
      |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o_1,
      |    CAST(sum(d2) AS BIGINT) AS o_2,
      |    CAST(sum(CAST(floor(e1 * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS eq,
      |    CAST(sum(CAST(floor(v * 1000000000.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS vq
      |  FROM terms),
      |mid AS (SELECT o_1, o_2,
      |    CAST(eq AS DOUBLE) / 1000000000.0e0 AS e1d,
      |    CAST(o_1 + o_2 AS DOUBLE)
      |      - CAST(eq AS DOUBLE) / 1000000000.0e0 AS e2d,
      |    CAST(vq AS DOUBLE) / 1000000000.0e0 AS vd
      |  FROM agg)
      |SELECT o_1, o_2, round(e1d, 6) AS e_1, round(e2d, 6) AS e_2,
      |  round(vd, 6) AS v,
      |  round((CAST(o_1 AS DOUBLE) - e1d) * (CAST(o_1 AS DOUBLE) - e1d)
      |    / vd, 6) AS chi2
      |FROM mid""".stripMargin

  // ---------------------------------------------------------------- q252
  /** TextRank keywords (Mihalcea & Tarau 2004): adjacent-token
    * co-occurrence edges over the documents corpus (undirected, so
    * both directions feed [[graft.ops.Graph.pageRank]]'s integer-exact
    * 3 rounds), top-25 words by rank. The pair build is one
    * (doc, pos+1) equi-self-join on the exploded token frame — O(doc
    * length) pairs per doc, never corpus-quadratic — and the vocabulary
    * graph the rounds iterate is orders smaller than the corpus.
    */
  def q252(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.TextAnalysis
    val toks = T(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val fwd = toks.as("a")
      .join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id")
          && col("b.pos") === col("a.pos") + 1
          && col("a.w") =!= col("b.w"))
      .select(col("a.w").as("src"), col("b.w").as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = graft.ops.Graph.pageRank(edges, iterations = 3)
    ranks.orderBy(col("rank").desc, col("node"))
      .limit(25)
      .select(col("node").as("word"), col("rank"))
  }
  val q252Sql: String = {
    def round(prev: String, i: Int): String =
      s"""c$i AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS s
         |  FROM edges e JOIN $prev r ON e.src = r.node
         |  JOIN outdeg o ON e.src = o.src GROUP BY 1),
         |r$i AS (SELECT n.node,
         |    (SELECT 15 * 1000000000000 // 100 // n FROM params)
         |      + 85 * coalesce(c.s, 0) // 100 AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    s"""WITH toks AS (SELECT doc_id, o AS pos, w
       |  FROM (SELECT doc_id, unnest(t) AS w,
       |          generate_subscripts(t, 1) AS o
       |        FROM (SELECT doc_id,
       |                list_filter(string_split_regex(lower(text),
       |                  '[^a-z0-9]+'), x -> len(x) > 0) AS t
       |              FROM documents))),
       |fwd AS (SELECT DISTINCT a.w AS src, b.w AS dst
       |  FROM toks a JOIN toks b
       |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.w <> b.w),
       |edges AS (SELECT src, dst FROM fwd
       |          UNION SELECT dst, src FROM fwd),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |params AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, (SELECT 1000000000000 // n FROM params) AS rank
       |       FROM nodes),
       |${round("r0", 1)},
       |${round("r1", 2)},
       |${round("r2", 3)}
       |SELECT node AS word, CAST(rank AS BIGINT) AS rank FROM r3
       |ORDER BY rank DESC, word LIMIT 25""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q249_hits" -> (q249 _),
    "q250_mann_whitney" -> (q250 _),
    "q251_logrank" -> (q251 _),
    "q252_textrank" -> (q252 _))

  val oracles: Map[String, String] = Map(
    "q249_hits" -> q249Sql,
    "q250_mann_whitney" -> q250Sql,
    "q251_logrank" -> q251Sql,
    "q252_textrank" -> q252Sql)
}
