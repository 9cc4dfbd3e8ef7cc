package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 16" query set (q222-q223): a distributed
  * gradient-boosting training loop (3 rounds of L2 regression stumps)
  * and the feature-hashing trick with its collision audit. Same
  * contract as every wave: DuckDB oracle per query, doubles round to
  * 6 dp, integer sums BIGINT-cast in the oracle, deterministic
  * tie-breaks everywhere.
  */
object Wave16Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q222
  /** L2 gradient boosting with regression stumps, 3 rounds, lr=0.5 —
    * the distributed ML TRAINING LOOP in miniature: each round is one
    * sorted prefix-scan over value-grouped residual sums (the q210
    * split machinery), the chosen stump is a broadcast 1-row frame
    * (never a collect), and the next round's residuals derive from the
    * model expression. Residuals quantize to 1e-9 integers per row
    * BEFORE every prefix sum, and the split argmax compares doubles
    * built from identical integers — the q173 pinned-argmax
    * discipline round after round. The oracle unrolls the 3 rounds as
    * materialized CTE stages.
    */
  def q222(s: SparkSession, dir: String): DataFrame = {
    val lr = 0.5
    val d = T(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("x"),
        (col("lang") === "en").cast("long").as("y"))
    val g0 = d.agg(sum("y").as("sy"), count(lit(1)).as("n"))
    val f0 = col("sy").cast("double") / col("n")

    // one boosting round: given the current model value F (a Column
    // over x built from prior stumps), return the chosen stump as a
    // 1-row DataFrame (t, nl, nr, sl, sr) with 1e-9-scaled residual sums
    def round_(base: DataFrame, f: Column): DataFrame = {
      val rq = base.withColumn("rq",
        floor((col("y") - f) * 1000000000.0 + 0.5).cast("long"))
      val byVal = rq.groupBy("x")
        .agg(count(lit(1)).as("c"), sum("rq").as("sr"))
      val wv = Window.orderBy("x")
      val wall = Window.partitionBy(lit(1))
      val pre = byVal
        .withColumn("nl", sum("c").over(wv))
        .withColumn("sl", sum("sr").over(wv))
        .withColumn("n", sum("c").over(wall))
        .withColumn("st", sum("sr").over(wall))
        .filter(col("nl") < col("n"))
      val gain = (col("sl").cast("double") * col("sl").cast("double")) /
        col("nl") +
        ((col("st") - col("sl")).cast("double") *
          (col("st") - col("sl")).cast("double")) / (col("n") - col("nl"))
      val wr = Window.orderBy(col("gain").desc, col("x"))
      pre.withColumn("gain", gain)
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") === 1)
        .select(col("x").as("t"), col("nl"), (col("n") - col("nl")).as("nr"),
          col("sl"), (col("st") - col("sl")).as("sr"), col("gain"))
    }
    def stumpCol(pfx: String): Column =
      when(col("x") <= col(s"${pfx}_t"),
        col(s"${pfx}_sl").cast("double") / 1000000000.0 / col(s"${pfx}_nl"))
        .otherwise(
          col(s"${pfx}_sr").cast("double") / 1000000000.0 / col(s"${pfx}_nr"))
    def renameStump(df: DataFrame, pfx: String): DataFrame =
      df.columns.foldLeft(df)((acc, c) => acc.withColumnRenamed(c, s"${pfx}_$c"))

    val base0 = d.crossJoin(broadcast(g0))
    val s1 = round_(base0, f0)
    val base1 = base0.crossJoin(broadcast(renameStump(s1, "s1")))
    val f1 = f0 + lit(lr) * stumpCol("s1")
    val s2 = round_(base1, f1)
    val base2 = base1.crossJoin(broadcast(renameStump(s2, "s2")))
    val f2 = f1 + lit(lr) * stumpCol("s2")
    val s3 = round_(base2, f2)

    def out(df: DataFrame, r: Int): DataFrame =
      df.select(lit(r.toLong).as("round"), col("t").as("threshold"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        round(col("sl").cast("double") / 1000000000.0 / col("nl"), 6)
          .as("mean_left"),
        round(col("sr").cast("double") / 1000000000.0 / col("nr"), 6)
          .as("mean_right"),
        round(col("gain") / 1000000000.0 / 1000000000.0, 6).as("gain"))
    out(s1, 1).unionByName(out(s2, 2)).unionByName(out(s3, 3))
      .orderBy("round")
  }
  val q222Sql: String = {
    // stage k: residuals under model f{k-1}, value-grouped prefix scan,
    // argmax stump — all MATERIALIZED (plain CTEs re-expand chains)
    def stage(k: Int, fExpr: String): String =
      s"""rq$k AS MATERIALIZED (SELECT x, y,
         |    CAST(floor((y - ($fExpr)) * 1000000000.0e0 + 0.5e0) AS BIGINT)
         |      AS rq
         |  FROM d${(1 until k).map(i => s", s$i").mkString}
         |  ${if (k == 1) "" else s"CROSS JOIN g0"}),
         |bv$k AS MATERIALIZED (SELECT x, count(*)::BIGINT AS c,
         |    CAST(sum(rq) AS BIGINT) AS sr
         |  FROM rq$k GROUP BY 1),
         |pre$k AS MATERIALIZED (SELECT x,
         |    CAST(sum(c) OVER wv AS BIGINT) AS nl,
         |    CAST(sum(sr) OVER wv AS BIGINT) AS sl,
         |    CAST(sum(c) OVER wa AS BIGINT) AS n,
         |    CAST(sum(sr) OVER wa AS BIGINT) AS st
         |  FROM bv$k WINDOW wv AS (ORDER BY x), wa AS ()),
         |s$k AS MATERIALIZED (SELECT x AS t$k, nl AS nl$k, n - nl AS nr$k,
         |    sl AS sl$k, st - sl AS sr$k,
         |    (sl::DOUBLE * sl::DOUBLE) / nl
         |      + ((st - sl)::DOUBLE * (st - sl)::DOUBLE) / (n - nl) AS gain$k
         |  FROM (SELECT *, row_number() OVER (ORDER BY
         |      (sl::DOUBLE * sl::DOUBLE) / nl
         |        + ((st - sl)::DOUBLE * (st - sl)::DOUBLE) / (n - nl) DESC,
         |      x) AS rk
         |    FROM pre$k WHERE nl < n)
         |  WHERE rk = 1)"""
    val f0 = "g0.sy::DOUBLE / g0.n"
    def stump(k: Int) =
      s"""0.5e0 * (CASE WHEN x <= s$k.t$k
         | THEN s$k.sl$k::DOUBLE / 1000000000.0e0 / s$k.nl$k
         | ELSE s$k.sr$k::DOUBLE / 1000000000.0e0 / s$k.nr$k END)"""
        .stripMargin.replace("\n", "")
    val f1 = s"$f0 + ${stump(1)}"
    val f2 = s"$f1 + ${stump(2)}"
    s"""WITH d AS MATERIALIZED (SELECT doc_id, n_chars AS x,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |g0 AS MATERIALIZED (SELECT CAST(sum(y) AS BIGINT) AS sy,
       |    count(*)::BIGINT AS n FROM d),
       |${stage(1, s"(SELECT $f0 FROM g0)")},
       |${stage(2, f1)},
       |${stage(3, f2)},
       |res AS (
       |  SELECT 1::BIGINT AS round, t1 AS threshold, nl1 AS n_left,
       |    nr1 AS n_right,
       |    round(sl1::DOUBLE / 1000000000.0e0 / nl1, 6) AS mean_left,
       |    round(sr1::DOUBLE / 1000000000.0e0 / nr1, 6) AS mean_right,
       |    round(gain1 / 1000000000.0e0 / 1000000000.0e0, 6) AS gain
       |  FROM s1
       |  UNION ALL
       |  SELECT 2, t2, nl2, nr2,
       |    round(sl2::DOUBLE / 1000000000.0e0 / nl2, 6),
       |    round(sr2::DOUBLE / 1000000000.0e0 / nr2, 6),
       |    round(gain2 / 1000000000.0e0 / 1000000000.0e0, 6)
       |  FROM s2
       |  UNION ALL
       |  SELECT 3, t3, nl3, nr3,
       |    round(sl3::DOUBLE / 1000000000.0e0 / nl3, 6),
       |    round(sr3::DOUBLE / 1000000000.0e0 / nr3, 6),
       |    round(gain3 / 1000000000.0e0 / 1000000000.0e0, 6)
       |  FROM s3)
       |SELECT * FROM res ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q223
  /** The feature-hashing trick with its collision audit: tokens hash
    * to 2^10 buckets (portable md5), and the audit reports per-bucket
    * load plus the two numbers that decide if the hash width is safe —
    * the fraction of buckets with collisions and the fraction of
    * token MASS that shares a bucket with a different token. One
    * groupBy cascade; the hash is the same md5-prefix family every
    * portable sketch in this repo uses.
    */
  def q223(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents").select(
      explode(graft.ops.ext.TextAnalysis.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024"))
    val buckets = tf.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"), sum("c").as("mass"))
    buckets.agg(
        count(lit(1)).as("n_buckets_used"),
        sum(when(col("n_tokens") > 1, 1L).otherwise(0L))
          .as("n_buckets_colliding"),
        sum("mass").as("total_mass"),
        sum(when(col("n_tokens") > 1, col("mass")).otherwise(lit(0L)))
          .as("colliding_mass"))
      .select(col("n_buckets_used"), col("n_buckets_colliding"),
        round(col("n_buckets_colliding").cast("double") /
          col("n_buckets_used"), 6).as("bucket_collision_rate"),
        round(col("colliding_mass").cast("double") / col("total_mass"), 6)
          .as("mass_collision_rate"))
  }
  val q223Sql: String =
    """WITH tf AS (SELECT tok, count(*)::BIGINT AS c,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
      |  FROM (SELECT unnest(list_filter(
      |      string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0))
      |      AS tok FROM documents)
      |  GROUP BY tok),
      |b AS (SELECT bucket, count(*)::BIGINT AS n_tokens,
      |    CAST(sum(c) AS BIGINT) AS mass
      |  FROM tf GROUP BY 1)
      |SELECT count(*)::BIGINT AS n_buckets_used,
      |  CAST(sum(CASE WHEN n_tokens > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_buckets_colliding,
      |  round(sum(CASE WHEN n_tokens > 1 THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*), 6) AS bucket_collision_rate,
      |  round(sum(CASE WHEN n_tokens > 1 THEN mass ELSE 0 END)::DOUBLE
      |        / sum(mass), 6) AS mass_collision_rate
      |FROM b""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_boosted_stumps" -> (q222 _),
    "q223_feature_hashing" -> (q223 _))

  val oracles: Map[String, String] = Map(
    "q222_boosted_stumps" -> q222Sql,
    "q223_feature_hashing" -> q223Sql)
}
