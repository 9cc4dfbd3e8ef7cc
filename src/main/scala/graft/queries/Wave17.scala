package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 17" query set (q224-q226): successive-halving arm
  * screening (the AutoML budget allocator), Qini uplift curves (causal
  * ranking evaluation), and end-to-end entity resolution (blocked
  * fuzzy pairs → component clusters). Same contract as every wave:
  * DuckDB oracle per query, doubles round to 6 dp, integer sums
  * BIGINT-cast in the oracle, deterministic tie-breaks everywhere.
  */
object Wave17Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q224
  /** Successive halving over data sources (the Hyperband inner loop,
    * data-side): round 1 scores every source on a 25% md5-sample,
    * keeps the top 10; round 2 rescores survivors on 50%, keeps 5;
    * round 3 scores the full corpus, keeps 2. Budget concentrates on
    * promising arms — the screening pattern for "which corpus slices
    * deserve the expensive quality model". Means come from integer
    * sums; ranking compares identical-int-derived doubles with source
    * tie-breaks (pinned-argmax discipline).
    */
  def q224(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "source", "n_chars")
    def sample(df: DataFrame, thr: String): DataFrame =
      df.filter(substring(md5(col("doc_id").cast("string")), 1, 8) < thr)
    def score(df: DataFrame, keep: Int, roundNo: Int): DataFrame = {
      val m = df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sc"))
        .withColumn("mean_chars", col("sc").cast("double") / col("n_docs"))
      val w = Window.orderBy(col("mean_chars").desc, col("source"))
      m.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= keep)
        .select(lit(roundNo.toLong).as("round"), col("source"), col("rk"),
          col("n_docs"), round(col("mean_chars"), 6).as("mean_chars"))
    }
    val r1 = score(sample(d, "40000000"), 10, 1)
    val r2 = score(sample(d, "80000000")
      .join(broadcast(r1.select("source")), "source"), 5, 2)
    val r3 = score(d.join(broadcast(r2.select("source")), "source"), 2, 3)
    r1.unionByName(r2).unionByName(r3).orderBy("round", "rk")
  }
  val q224Sql: String = {
    def stage(k: Int, src: String, keep: Int) =
      s"""m$k AS MATERIALIZED (SELECT source, count(*)::BIGINT AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sc
         |  FROM $src GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT $k::BIGINT AS round, source,
         |    rk, n_docs, round(sc::DOUBLE / n_docs, 6) AS mean_chars
         |  FROM (SELECT *, row_number() OVER (ORDER BY
         |      sc::DOUBLE / n_docs DESC, source) AS rk FROM m$k)
         |  WHERE rk <= $keep)"""
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       |s1 AS (SELECT * FROM d
       |  WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '40000000'),
       |${stage(1, "s1", 10)},
       |s2 AS (SELECT d.* FROM d JOIN r1 USING (source)
       |  WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '80000000'),
       |${stage(2, "s2", 5)},
       |s3 AS (SELECT d.* FROM d JOIN r2 USING (source)),
       |${stage(3, "s3", 2)}
       |SELECT round, source, CAST(rk AS BIGINT) AS rk, n_docs, mean_chars
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r3)
       |ORDER BY round, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q225
  /** Qini uplift curve: users ranked by engagement score, treatment =
    * user parity, outcome = any high-value event; at each decile the
    * incremental conversions are cum_t − cum_c·(N_t-so-far scaling) —
    * the causal counterpart of an ROC curve, and the standard check
    * that a targeting score finds the PERSUADABLES, not just likely
    * converters. Ranks and cumulative counts are integers; the two
    * scaling divisions are the only doubles, identical shape both
    * engines.
    */
  def q225(s: SparkSession, dir: String): DataFrame = {
    val users = ExtQueries.events(s, dir)
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("score"),
        max((col("value") > 200.0).cast("long")).as("y"))
      .withColumn("t", (col("user_id") % 2).cast("long"))
    val w = Window.orderBy(col("score").desc, col("user_id"))
    val ranked = users.withColumn("rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(users.agg(count(lit(1)).as("n"))))
      .withColumn("decile", expr("least(10, 1 + (rn - 1) * 10 div n)"))
    val byDec = ranked.groupBy("decile")
      .agg(sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 1, col("y")).otherwise(lit(0L))).as("yt"),
        sum(when(col("t") === 0, col("y")).otherwise(lit(0L))).as("yc"))
    val wd = Window.orderBy("decile")
    byDec
      .withColumn("cnt", sum("nt").over(wd))
      .withColumn("cnc", sum("nc").over(wd))
      .withColumn("cyt", sum("yt").over(wd))
      .withColumn("cyc", sum("yc").over(wd))
      .select(col("decile"), col("cnt"), col("cnc"), col("cyt"), col("cyc"),
        when(col("cnc") === 0, lit(null))
          .otherwise(round(col("cyt").cast("double") -
            col("cyc").cast("double") * col("cnt") / col("cnc"), 6))
          .as("qini"))
      .orderBy("decile")
  }
  val q225Sql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT))
      |         AS BIGINT) AS score,
      |    max(CASE WHEN value > 200.0e0 THEN 1 ELSE 0 END)::BIGINT AS y,
      |    user_id % 2 AS t
      |  FROM events GROUP BY user_id),
      |n AS (SELECT count(*)::BIGINT AS n FROM u),
      |rk AS (SELECT u.*, row_number() OVER (ORDER BY score DESC, user_id)
      |    AS rn FROM u),
      |dec AS (SELECT *, least(10, 1 + (rn - 1) * 10 // n.n) AS decile
      |  FROM rk, n),
      |bd AS (SELECT decile,
      |    CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
      |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
      |  FROM dec GROUP BY 1)
      |SELECT decile,
      |  CAST(sum(nt) OVER wd AS BIGINT) AS cnt,
      |  CAST(sum(nc) OVER wd AS BIGINT) AS cnc,
      |  CAST(sum(yt) OVER wd AS BIGINT) AS cyt,
      |  CAST(sum(yc) OVER wd AS BIGINT) AS cyc,
      |  CASE WHEN CAST(sum(nc) OVER wd AS BIGINT) = 0 THEN NULL
      |       ELSE round(CAST(sum(yt) OVER wd AS BIGINT)::DOUBLE
      |        - CAST(sum(yc) OVER wd AS BIGINT)::DOUBLE
      |          * CAST(sum(nt) OVER wd AS BIGINT)
      |          / CAST(sum(nc) OVER wd AS BIGINT), 6) END AS qini
      |FROM bd WINDOW wd AS (ORDER BY decile)
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q226
  /** End-to-end entity resolution: a record corpus with two typo
    * generations (dropped char, appended char), blocked Levenshtein
    * pairing (q111's machinery, both-direction candidates), and
    * component clustering into entities — dedup for STRUCTURED records
    * where near-dup text machinery doesn't apply. The name's id field
    * is an md5 token: serial ids would make every adjacent pair lev-1
    * (the classic reason match keys exclude serial fields), so matches
    * here are exactly the planted typo variants. Output is every
    * record in a multi-record entity with its canonical (min) id; the
    * oracle replays the closure with a recursive CTE.
    */
  def q226(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents")
      .select(col("doc_id").as("id"),
        concat(col("source"), lit("-"), col("lang"), lit("-"),
          substring(md5(col("doc_id").cast("string")), 1, 6)).as("name"))
    val v1 = base.filter(col("id") % 10 === 0)
      .select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 6), substring(col("name"), 8, 100))
          .as("name"))
    val v2 = base.filter(col("id") % 15 === 0)
      .select((col("id") + 2000000L).as("id"),
        concat(col("name"), lit("x")).as("name"))
    val recs = base.unionByName(v1).unionByName(v2)
    // candidate generation via the deletion-neighborhood join
    // ([[graft.ops.FuzzyJoin.lev1SelfPairs]]) — LINEAR fan-out in the
    // corpus. Blocking on `source` (the round-4 shape) is Σ_block |b|²:
    // the 10× sf1 bench step grew it ~78× (few sources, each block 10×
    // bigger). The oracle keeps the block-join formulation — fine for
    // an oracle, fatal for an engine. The same-first-field and length
    // predicates stay as verify filters so semantics match exactly.
    val pairs = graft.ops.FuzzyJoin.lev1SelfPairs(recs, "id", "name")
      .filter(substring_index(col("name_a"), "-", 1) ===
          substring_index(col("name_b"), "-", 1) &&
        abs(length(col("name_a")) - length(col("name_b"))) <= 1)
      .select(col("id_a"), col("id_b"))
    graft.ops.ext.Dedup.connectedComponentsStar(pairs).orderBy("id")
  }
  val q226Sql: String =
    """WITH RECURSIVE base AS (
      |  SELECT doc_id AS id,
      |    source || '-' || lang || '-' ||
      |      substr(md5(doc_id::VARCHAR), 1, 6) AS name
      |  FROM documents),
      |recs AS (
      |  SELECT id, name FROM base
      |  UNION ALL
      |  SELECT id + 1000000, substr(name, 1, 6) || substr(name, 8)
      |  FROM base WHERE id % 10 = 0
      |  UNION ALL
      |  SELECT id + 2000000, name || 'x' FROM base WHERE id % 15 = 0),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM recs a JOIN recs b
      |    ON split_part(a.name, '-', 1) = split_part(b.name, '-', 1)
      |   AND abs(len(a.name) - len(b.name)) <= 1
      |   AND a.id < b.id
      |  WHERE levenshtein(a.name, b.name) <= 1),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
      |SELECT id, min(label) AS component FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_successive_halving" -> (q224 _),
    "q225_qini" -> (q225 _),
    "q226_entity_resolution" -> (q226 _))

  val oracles: Map[String, String] = Map(
    "q224_successive_halving" -> q224Sql,
    "q225_qini" -> q225Sql,
    "q226_entity_resolution" -> q226Sql)
}
