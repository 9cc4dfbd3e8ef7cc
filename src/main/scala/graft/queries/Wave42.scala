package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ext.TextAnalysis

/** Round-5 "wave 42" query set (q321–q324): model-evaluation and
  * release analytics — ECE/MCE calibration summaries, the Murphy
  * Brier decomposition, Krippendorff's alpha inter-rater agreement,
  * and a differentially-private count-release audit. Same contract as
  * every wave: DuckDB oracle per query, doubles round to 6 dp,
  * cross-row float sums quantized to integers first, deterministic
  * tie-breaks.
  */
object Wave42Queries extends QueryRegistry {
  import CoreQueries.T

  /** The q150 logistic-quality score + en/not-en label, shared by the
    * calibration queries; SQL twin of
    * [[graft.ops.ext.TextAnalysis.logisticQuality]]. */
  private val pkSql: String = {
    val stop = TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(",")
    s"""f AS (SELECT doc_id, (lang = 'en') AS pos,
       |    len(toks)::DOUBLE AS nt,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS pr,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains([$stop], t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS sr
       |  FROM (SELECT doc_id, lang,
       |          list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                      t -> len(t)>0) AS toks,
       |          length(text)::DOUBLE AS nc,
       |          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE AS np
       |        FROM documents)),
       |sc AS (SELECT doc_id, pos,
       |    round(1.0 / (1.0 + exp(-(-1.0 + sr * 4.0 + pr * (-6.0)
       |                             + ln(nt + 1) * 0.5))), 6) AS p_keep
       |  FROM f)""".stripMargin
  }

  private def scored(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.logisticQuality(T(s, dir, "documents"), "text")
      .select(col("doc_id"), col("p_keep"), (col("lang") === "en").as("pos"))

  // ---------------------------------------------------------------- q321
  /** Calibration error summary ([[graft.ops.ext.Eval.eceMce]]): ECE
    * and MCE of the q150 quality score against the en label over 10
    * equal-width bins — the scalar verdict the per-decile table
    * (q150) leaves to the reader.
    */
  def q321(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Eval.eceMce(scored(s, dir), "p_keep", "pos")
  val q321Sql: String =
    s"""WITH $pkSql,
       |b AS (SELECT least(CAST(floor(p_keep * 10) AS BIGINT), 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(p_keep AS DECIMAL(18,6))) AS sp,
       |    CAST(count(CASE WHEN pos THEN 1 END) AS BIGINT) AS n_pos
       |  FROM sc GROUP BY 1),
       |per AS (SELECT bin, n,
       |    CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
       |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
       |  FROM b),
       |q AS (SELECT n, abs(acc - conf) AS gap,
       |    CAST(floor(CAST(n AS DOUBLE) * abs(acc - conf)
       |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS qc
       |  FROM per)
       |SELECT CAST(sum(n) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS n_bins,
       |  round(CAST(sum(qc) AS DOUBLE) / 1000000000.0e0
       |    / CAST(sum(n) AS DOUBLE), 6) AS ece,
       |  round(max(gap), 6) AS mce
       |FROM q""".stripMargin

  // ---------------------------------------------------------------- q322
  /** Murphy decomposition of the Brier score
    * ([[graft.ops.ext.Eval.brierDecomposition]]): brier = reliability
    * − resolution + uncertainty over the same 10 bins — separating
    * "is the score honest" (reliability) from "does it separate"
    * (resolution).
    */
  def q322(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Eval.brierDecomposition(scored(s, dir), "p_keep", "pos")
  val q322Sql: String =
    s"""WITH $pkSql,
       |rows_ AS (SELECT p_keep AS p, pos,
       |    CAST(floor((p_keep - CASE WHEN pos THEN 1.0e0 ELSE 0.0e0 END)
       |      * (p_keep - CASE WHEN pos THEN 1.0e0 ELSE 0.0e0 END)
       |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS qb,
       |    least(CAST(floor(p_keep * 10) AS BIGINT), 9) AS bin
       |  FROM sc),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |    CAST(sum(qb) AS BIGINT) AS sqb,
       |    CAST(count(CASE WHEN pos THEN 1 END) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS ybar
       |  FROM rows_),
       |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS conf,
       |    CAST(count(CASE WHEN pos THEN 1 END) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS acc
       |  FROM rows_ GROUP BY 1),
       |terms AS (SELECT
       |    CAST(sum(CAST(floor(CAST(n AS DOUBLE) * (conf - acc)
       |      * (conf - acc) * 1000000000.0e0 + 0.5e0) AS BIGINT))
       |      AS BIGINT) AS srel,
       |    CAST(sum(CAST(floor(CAST(n AS DOUBLE) * (acc - ybar)
       |      * (acc - ybar) * 1000000000.0e0 + 0.5e0) AS BIGINT))
       |      AS BIGINT) AS sres
       |  FROM bins, tot)
       |SELECT nn AS n,
       |  round(CAST(sqb AS DOUBLE) / 1000000000.0e0
       |    / CAST(nn AS DOUBLE), 6) AS brier,
       |  round(CAST(srel AS DOUBLE) / 1000000000.0e0
       |    / CAST(nn AS DOUBLE), 6) AS reliability,
       |  round(CAST(sres AS DOUBLE) / 1000000000.0e0
       |    / CAST(nn AS DOUBLE), 6) AS resolution,
       |  round(ybar * (1.0e0 - ybar), 6) AS uncertainty
       |FROM tot, terms""".stripMargin

  // ---------------------------------------------------------------- q323
  /** Krippendorff's alpha
    * ([[graft.ops.ext.Eval.krippendorffAlpha]], nominal) over three
    * "raters" per document: the gold lang, the q18 stopword language
    * ID on the full text, and the same classifier on the first half —
    * the chance-corrected agreement number behind the confusion
    * matrix (q289) and Cohen's kappa (q171, which handles only two
    * raters).
    */
  def q323(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    val ratings = d.select(col("doc_id").as("u"), col("lang").as("c"))
      .unionByName(d.select(col("doc_id").as("u"),
        TextAnalysis.langId(col("text")).as("c")))
      .unionByName(d.select(col("doc_id").as("u"),
        TextAnalysis.langId(expr("substr(text, 1, length(text) div 2)"))
          .as("c")))
    graft.ops.ext.Eval.krippendorffAlpha(ratings, "u", "c")
  }
  val q323Sql: String = {
    def langCase(toks: String): String = {
      def hits(lang: String): String = {
        val words = TextAnalysis.StopwordSets(lang)
          .map(w => s"'$w'").mkString(",")
        s"len(list_filter($toks, t -> list_contains([$words], t)))"
      }
      val g = s"greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")})"
      s"""CASE WHEN $g = 0 THEN 'und'
         |    WHEN ${hits("fr")} = $g THEN 'fr'
         |    WHEN ${hits("es")} = $g THEN 'es'
         |    WHEN ${hits("en")} = $g THEN 'en'
         |    ELSE 'de' END""".stripMargin
    }
    s"""WITH base AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |                t -> len(t)>0) AS toks,
       |    list_filter(string_split_regex(lower(
       |        substr(text, 1, length(text) // 2)),'[^a-z0-9]+'),
       |      t -> len(t)>0) AS toks_h
       |  FROM documents),
       |ratings AS (SELECT doc_id AS u, lang AS c FROM base
       |  UNION ALL SELECT doc_id, ${langCase("toks")} FROM base
       |  UNION ALL SELECT doc_id, ${langCase("toks_h")} FROM base),
       |uc AS (SELECT u, c, CAST(count(*) AS BIGINT) AS k
       |  FROM ratings GROUP BY u, c),
       |units AS (SELECT u, m,
       |    ((m * (m - 1) - agree) * 1000000) // (m - 1) AS qd
       |  FROM (SELECT u, CAST(sum(k) AS BIGINT) AS m,
       |      CAST(sum(k * (k - 1)) AS BIGINT) AS agree
       |    FROM uc GROUP BY u)
       |  WHERE m >= 2),
       |pair AS (SELECT r.u, r.c FROM ratings r JOIN units USING (u)),
       |ct AS (SELECT c, CAST(count(*) AS BIGINT) AS nc
       |  FROM pair GROUP BY c),
       |tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS n_categories,
       |    CAST(sum(nc * nc) AS BIGINT) AS snc2
       |  FROM ct),
       |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(qd) AS BIGINT) AS sqd
       |  FROM units)
       |SELECT n_units, n AS n_ratings, n_categories,
       |  CASE WHEN n * n = snc2 THEN 1.0e0 ELSE
       |    round(1.0e0 - (CAST(sqd AS DOUBLE) / 1000000.0e0)
       |      * CAST(n - 1 AS DOUBLE)
       |      / CAST(n * n - snc2 AS DOUBLE), 6) END AS alpha
       |FROM ds, tot""".stripMargin
  }

  // ---------------------------------------------------------------- q324
  /** DP count-release audit ([[graft.ops.ext.Privacy.dpCountAudit]],
    * ε ∈ {0.1, 1, 10}): per-source document counts with reproducible
    * Laplace noise — the utility-vs-privacy ladder a release pipeline
    * publishes next to its k-anonymity audit (q215).
    */
  def q324(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Privacy.dpCountAudit(T(s, dir, "documents"), "source",
      Seq(0.1, 1.0, 10.0)).orderBy("source", "eps")
  val q324Sql: String =
    """WITH counts AS (SELECT source AS g, CAST(count(*) AS BIGINT)
      |    AS true_count
      |  FROM documents GROUP BY 1),
      |eps(eps, ei) AS (VALUES (0.1e0, 0), (1.0e0, 1), (10.0e0, 2)),
      |noised AS (SELECT g, eps, true_count,
      |    CAST(floor(-(1.0e0 / eps) * sign(w)
      |      * ln(1.0e0 - 2.0e0 * abs(w)) * 1000000.0e0 + 0.5e0)
      |      AS BIGINT) AS qn
      |  FROM (SELECT g, eps, true_count,
      |      ('0x' || substr(md5(g || ':' || ei::VARCHAR), 1, 6))::BIGINT
      |        / 16777216.0e0 - 0.5e0 AS w
      |    FROM counts, eps))
      |SELECT g AS source, eps, true_count,
      |  round(CAST(true_count AS DOUBLE)
      |    + CAST(qn AS DOUBLE) / 1000000.0e0, 6) AS noised,
      |  round(abs(CAST(qn AS DOUBLE) / 1000000.0e0), 6) AS abs_err
      |FROM noised ORDER BY source, eps""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q321_ece_mce" -> (q321 _),
    "q322_brier_decomp" -> (q322 _),
    "q323_krippendorff" -> (q323 _),
    "q324_dp_audit" -> (q324 _))

  val oracles: Map[String, String] = Map(
    "q321_ece_mce" -> q321Sql,
    "q322_brier_decomp" -> q322Sql,
    "q323_krippendorff" -> q323Sql,
    "q324_dp_audit" -> q324Sql)
}
