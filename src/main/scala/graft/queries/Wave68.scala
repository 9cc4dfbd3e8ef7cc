package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 68" query set (q410): representation-similarity
  * diagnostics — uncentered linear CKA between the two halves of the
  * embedding space ([[graft.ops.ext.Spectral.linearCkaSplit]]), the
  * number a dimensionality-truncation decision reads first. One
  * GramMoments pass; the oracle replays the q146 split-long gram
  * construction and takes the Frobenius block ratios.
  */
object Wave68Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q410
  def q410(s: SparkSession, dir: String): DataFrame =
    graft.ops.ext.Spectral.linearCkaSplit(
      T(s, dir, "embeddings"), "embedding", dims = 64, splitAt = 32)
  val q410Sql: String = {
    val vq = "CAST(floor((a.x * b.x + 4.0) * 100000000.0e0 + 0.5e0) AS BIGINT)"
    s"""WITH v AS (SELECT vec_id AS id, [x::DOUBLE for x in embedding] AS vec
       |           FROM embeddings),
       |e AS (SELECT id, CAST(o - 1 AS BIGINT) AS i, x
       |      FROM (SELECT id, unnest(vec) AS x,
       |              generate_subscripts(vec, 1) AS o FROM v)),
       |m AS (SELECT a.i AS i, b.i AS j,
       |        (CAST(CAST(sum(($vq >> 20)) AS HUGEINT) * 1048576
       |              + sum(($vq & 1048575)) AS DOUBLE) / 100000000.0e0
       |         - 4.0 * count(*)) / count(*) AS m
       |      FROM e a JOIN e b USING (id) GROUP BY 1, 2),
       |s AS (SELECT CASE
       |        WHEN i < 32 AND j < 32 THEN 'xx'
       |        WHEN i >= 32 AND j >= 32 THEN 'yy'
       |        WHEN i < 32 AND j >= 32 THEN 'xy'
       |        ELSE 'yx' END AS blk, m
       |      FROM m),
       |f AS (SELECT blk,
       |        CAST(sum(CAST(m * m AS DECIMAL(38,18))) AS DOUBLE) AS ss
       |      FROM s WHERE blk <> 'yx' GROUP BY 1)
       |SELECT CAST(64 AS BIGINT) AS d, CAST(32 AS BIGINT) AS split_at,
       |  round((SELECT ss FROM f WHERE blk = 'xy')
       |    / (sqrt((SELECT ss FROM f WHERE blk = 'xx'))
       |       * sqrt((SELECT ss FROM f WHERE blk = 'yy'))), 6) AS cka,
       |  round(sqrt((SELECT ss FROM f WHERE blk = 'xx')), 6) AS fro_xx,
       |  round(sqrt((SELECT ss FROM f WHERE blk = 'yy')), 6) AS fro_yy,
       |  round(sqrt((SELECT ss FROM f WHERE blk = 'xy')), 6) AS fro_xy""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q410_linear_cka" -> (q410 _))

  val oracles: Map[String, String] = Map(
    "q410_linear_cka" -> q410Sql)
}
