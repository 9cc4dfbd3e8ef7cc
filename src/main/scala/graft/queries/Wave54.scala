package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 "wave 54" query set (q369–q372): agreement and robust
  * association — winsorized correlation, Kendall's W concordance,
  * Page's L ordered trend, and Lin's concordance correlation. Same
  * contract as every wave: DuckDB oracle per query, rank thresholds
  * pinned on exact integers, moment sums as longs into fixed-shape
  * doubles.
  */
object Wave54Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q369
  /** Winsorized Pearson correlation: both variables clamped at their
    * exact p05/p95 nearest-rank values before the moment pass — the
    * outlier-robust r beside the raw Pearson (q124), reported side by
    * side so the winsorization's effect is visible. Quantity in
    * deci-units, line value in whole dollars: every Σ stays a long.
    *
    * The nearest-rank cut comes from a value HISTOGRAM cumsum (the
    * q370 `rank2` discipline), not a `row_number` over the raw rows:
    * the value at rank k is the smallest v with cum(v) ≥ k, identical
    * for any tie-break among equal values, so the global window only
    * ever sorts |distinct values| histogram rows — the raw-row global
    * sort was this query's single-partition 9× sf1 scaler.
    */
  def q369(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(
      floor(col("l_quantity") * 10.0 + 0.5).cast("long").as("x"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) div 100")
        .as("y")).persist()
    def bounds(c: String): DataFrame = {
      val hist = li.groupBy(col(c).as("v")).agg(count(lit(1)).as("t"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("t").over(w))
        .withColumn("nn", sum("t").over(Window.partitionBy(lit(1))))
      cum.groupBy().agg(
        min(when(col("cum") >= expr("greatest((5 * nn) div 100, 1L)"),
          col("v"))).as(s"lo_$c"),
        min(when(col("cum") >= expr("greatest((95 * nn) div 100, 1L)"),
          col("v"))).as(s"hi_$c"))
    }
    val b = bounds("x").crossJoin(bounds("y"))
    val cl = li.crossJoin(b)
      .select(col("x"), col("y"),
        least(greatest(col("x"), col("lo_x")), col("hi_x")).as("wx"),
        least(greatest(col("y"), col("lo_y")), col("hi_y")).as("wy"),
        col("lo_x"), col("hi_x"), col("lo_y"), col("hi_y"))
    def r(xc: String, yc: String) = {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      (d(col("n")) * d(col(s"s_${xc}_${yc}"))
        - d(col(s"s_$xc")) * d(col(s"s_$yc"))) /
        sqrt((d(col("n")) * d(col(s"s_${xc}_$xc"))
          - d(col(s"s_$xc")) * d(col(s"s_$xc")))
          * (d(col("n")) * d(col(s"s_${yc}_$yc"))
            - d(col(s"s_$yc")) * d(col(s"s_$yc"))))
    }
    cl.groupBy("lo_x", "hi_x", "lo_y", "hi_y")
      .agg(count(lit(1)).as("n"),
        sum("x").as("s_x"), sum("y").as("s_y"),
        sum(col("x") * col("x")).as("s_x_x"),
        sum(col("y") * col("y")).as("s_y_y"),
        sum(col("x") * col("y")).as("s_x_y"),
        sum("wx").as("s_wx"), sum("wy").as("s_wy"),
        sum(col("wx") * col("wx")).as("s_wx_wx"),
        sum(col("wy") * col("wy")).as("s_wy_wy"),
        sum(col("wx") * col("wy")).as("s_wx_wy"))
      .select(col("n"), col("lo_x"), col("hi_x"), col("lo_y"),
        col("hi_y"), round(r("x", "y"), 6).as("r_raw"),
        round(r("wx", "wy"), 6).as("r_winsorized"))
  }
  val q369Sql: String = {
    def bounds(c: String): String =
      s"""SELECT min($c) AS lo_$c, max($c) AS hi_$c FROM (
         |  SELECT $c, row_number() OVER (ORDER BY $c, ok, ln) AS rn,
         |    count(*) OVER () AS nn FROM li)
         |WHERE rn = greatest((5 * nn) // 100, 1)
         |   OR rn = greatest((95 * nn) // 100, 1)""".stripMargin
    def r(x: String, y: String, sxy: String, sx: String, sy: String,
        sxx: String, syy: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE)
         |    - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
         |  / sqrt((CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)
         |      - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
         |    * (CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)
         |      - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
       |    CAST(floor(l_quantity * 10.0e0 + 0.5e0) AS BIGINT) AS x,
       |    CAST(floor(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT) // 100
       |      AS y
       |  FROM lineitem),
       |bx AS (${bounds("x")}),
       |by_ AS (${bounds("y")}),
       |cl AS (SELECT x, y,
       |    least(greatest(x, lo_x), hi_x) AS wx,
       |    least(greatest(y, lo_y), hi_y) AS wy,
       |    lo_x, hi_x, lo_y, hi_y
       |  FROM li, bx, by_),
       |m AS (SELECT lo_x, hi_x, lo_y, hi_y,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(wx) AS BIGINT) AS swx, CAST(sum(wy) AS BIGINT) AS swy,
       |    CAST(sum(wx * wx) AS BIGINT) AS swxx,
       |    CAST(sum(wy * wy) AS BIGINT) AS swyy,
       |    CAST(sum(wx * wy) AS BIGINT) AS swxy
       |  FROM cl GROUP BY 1, 2, 3, 4)
       |SELECT n, lo_x, hi_x, lo_y, hi_y,
       |  round(${r("x", "y", "sxy", "sx", "sy", "sxx", "syy")}, 6)
       |    AS r_raw,
       |  round(${r("wx", "wy", "swxy", "swx", "swy", "swxx", "swyy")}, 6)
       |    AS r_winsorized
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- q370
  /** Kendall's W (coefficient of concordance) for three "judges"
    * ranking the parts — total quantity, total revenue, and distinct
    * orders: do the three popularity measures agree? Ranks ride
    * DOUBLED integers (mid-ranks exact under ties), the deviation sum
    * collapses to (n·ΣR² − (ΣR)²)/(4n) — exact longs — and the tie
    * correction Σ(t³−t) per judge is exact. One fixed-shape double at
    * the end. Output: (n_parts, k, w).
    */
  def q370(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val metrics = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(floor(col("l_quantity") * 10.0 + 0.5).cast("long"))
        .as("m1"),
        sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .as("m2"),
        count_distinct(col("l_orderkey")).as("m3")).persist()
    def rank2(c: String): DataFrame = {
      val hist = metrics.groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("t"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val mr = hist
        .withColumn("mr2", lit(2) * coalesce(sum("t").over(w), lit(0L))
          + col("t") + 1)
      metrics.select(col("pk"), col(c).as("v"))
        .join(mr.select(col("v"), col("mr2").as(s"r_$c")), Seq("v"))
        .select("pk", s"r_$c")
    }
    def ties(c: String): DataFrame =
      metrics.groupBy(col(c)).agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * col("t") * col("t") - col("t"))
          .as(s"tt_$c"))
    val joined = rank2("m1").join(rank2("m2"), Seq("pk"))
      .join(rank2("m3"), Seq("pk"))
      .select(col("pk"),
        (col("r_m1") + col("r_m2") + col("r_m3")).as("r2"))
    val agg = joined.agg(count(lit(1)).as("n"), sum("r2").as("sr"),
      sum(col("r2") * col("r2")).as("srr"))
    val tt = ties("m1").crossJoin(ties("m2")).crossJoin(ties("m3"))
      .select((col("tt_m1") + col("tt_m2") + col("tt_m3")).as("tt"))
    agg.crossJoin(tt)
      .select(col("n").as("n_parts"), lit(3L).as("k"),
        // S = (nΣR²−(ΣR)²)/(4n); W = 12S/(k²(n³−n) − k·T)
        round((lit(12.0) * ((col("n").cast("double")
            * col("srr").cast("double")
          - col("sr").cast("double") * col("sr").cast("double"))
          / (lit(4.0) * col("n").cast("double"))))
          / (lit(9.0) * (col("n").cast("double")
              * col("n").cast("double") * col("n").cast("double")
            - col("n").cast("double"))
            - lit(3.0) * col("tt").cast("double")), 6).as("w"))
  }
  val q370Sql: String = {
    def rank2(c: String): String =
      s"""SELECT m.pk, mr.mr2 AS r_$c
         |FROM metrics m JOIN (
         |  SELECT v, 2 * coalesce(sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + t + 1 AS mr2, v AS vv
         |  FROM (SELECT $c AS v, CAST(count(*) AS BIGINT) AS t
         |        FROM metrics GROUP BY 1)) mr ON mr.vv = m.$c""".stripMargin
    def tie(c: String): String =
      s"""SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tt
         |FROM (SELECT CAST(count(*) AS BIGINT) AS t
         |      FROM metrics GROUP BY $c)""".stripMargin
    s"""WITH metrics AS MATERIALIZED (SELECT l_partkey AS pk,
       |    CAST(sum(CAST(floor(l_quantity * 10.0e0 + 0.5e0) AS BIGINT))
       |      AS BIGINT) AS m1,
       |    CAST(sum(CAST(floor(l_extendedprice * 100.0e0 + 0.5e0)
       |      AS BIGINT)) AS BIGINT) AS m2,
       |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS m3
       |  FROM lineitem GROUP BY 1),
       |r1 AS (${rank2("m1")}),
       |r2_ AS (${rank2("m2")}),
       |r3 AS (${rank2("m3")}),
       |j AS (SELECT r1.pk, r1.r_m1 + r2_.r_m2 + r3.r_m3 AS r2
       |  FROM r1 JOIN r2_ USING (pk) JOIN r3 USING (pk)),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(r2) AS BIGINT) AS sr,
       |    CAST(sum(r2 * r2) AS BIGINT) AS srr
       |  FROM j),
       |tt AS (SELECT (SELECT tt FROM (${tie("m1")}))
       |    + (SELECT tt FROM (${tie("m2")}))
       |    + (SELECT tt FROM (${tie("m3")})) AS tt)
       |SELECT n AS n_parts, 3::BIGINT AS k,
       |  round((12.0e0 * ((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
       |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
       |    / (4.0e0 * CAST(n AS DOUBLE))))
       |    / (9.0e0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
       |      - 3.0e0 * CAST(tt AS DOUBLE)), 6) AS w
       |FROM agg, tt""".stripMargin
  }

  // ---------------------------------------------------------------- q371
  /** Page's L trend test: within each user, the three month-thirds'
    * activity counts rank 1..3 (doubled mid-ranks, expression-level —
    * k = 3 needs no window), and L = Σ j·rank accumulates as doubled
    * integers; z against the no-tie normal approximation (documented,
    * oracle-identical) — the ordered-alternative sharpening of
    * Cochran's Q (q360): not just "do thirds differ" but "do they
    * TREND".
    */
  def q371(s: SparkSession, dir: String): DataFrame = {
    val act = ExtQueries.events(s, dir).select(col("user_id"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("d0"))
      .withColumn("p", expr("least(d0 div 10, 2L)"))
      .groupBy("user_id", "p").agg(count(lit(1)).as("c"))
    val pivAggs = (0 to 2).map(j =>
      sum(when(col("p") === j, col("c")).otherwise(0L)).as(s"v$j"))
    val piv = act.groupBy("user_id").agg(pivAggs.head, pivAggs.tail: _*)
    def rank2(j: Int): org.apache.spark.sql.Column = {
      val others = (0 to 2).filter(_ != j)
      lit(1L) + others.map { m =>
        lit(2L) * when(col(s"v$m") < col(s"v$j"), 1L).otherwise(0L) +
          when(col(s"v$m") === col(s"v$j"), 1L).otherwise(0L)
      }.reduce(_ + _)
    }
    val l2 = piv.select(((0 to 2).map(j =>
      lit(j + 1L) * rank2(j)).reduce(_ + _)).as("l2u"))
    l2.agg(count(lit(1)).as("n"), sum("l2u").as("l2"))
      .select(col("n"), col("l2"),
        // E[L2] = 2E[L] = n·k(k+1)²/2 with k=3 → 24n; Var[L] no-tie =
        // n·k²(k+1)(k²−1)/144 = 2n
        (col("n") * 24L).as("e_l2"),
        round(((col("l2") - col("n") * 24L).cast("double") / lit(2.0))
          / sqrt(lit(2.0) * col("n").cast("double")), 6).as("z"))
  }
  val q371Sql: String = {
    def rank2(j: Int): String = {
      val others = (0 to 2).filter(_ != j)
      "1 + " + others.map(m =>
        s"2 * (CASE WHEN v$m < v$j THEN 1 ELSE 0 END) + " +
          s"(CASE WHEN v$m = v$j THEN 1 ELSE 0 END)").mkString(" + ")
    }
    s"""WITH act AS (SELECT user_id,
       |    least(CAST(date_diff('day', DATE '2024-01-01',
       |      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) // 10, 2)
       |      AS p,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |piv AS (SELECT user_id,
       |    CAST(coalesce(sum(CASE WHEN p = 0 THEN c END), 0) AS BIGINT)
       |      AS v0,
       |    CAST(coalesce(sum(CASE WHEN p = 1 THEN c END), 0) AS BIGINT)
       |      AS v1,
       |    CAST(coalesce(sum(CASE WHEN p = 2 THEN c END), 0) AS BIGINT)
       |      AS v2
       |  FROM act GROUP BY user_id),
       |l AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(1 * (${rank2(0)}) + 2 * (${rank2(1)})
       |      + 3 * (${rank2(2)})) AS BIGINT) AS l2
       |  FROM piv)
       |SELECT n, l2, n * 24 AS e_l2,
       |  round((CAST(l2 - n * 24 AS DOUBLE) / 2.0e0)
       |    / sqrt(2.0e0 * CAST(n AS DOUBLE)), 6) AS z
       |FROM l""".stripMargin
  }

  // ---------------------------------------------------------------- q372
  /** Lin's concordance correlation (CCC): agreement between two
    * measurements of the same per-part revenue — actual line value vs
    * quantity × retail price — penalizing BOTH scatter and systematic
    * (discount-shaped) shift, which plain Pearson ignores. CCC =
    * 2s_xy / (s_x² + s_y² + (x̄ − ȳ)²) from one exact-integer moment
    * agg (whole-dollar units keep every Σ a long). Output:
    * (n, pearson_r, ccc, mean_shift).
    */
  def q372(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .join(T(s, dir, "part").select(col("p_partkey"),
        col("p_retailprice")), col("l_partkey") === col("p_partkey"))
    val per = li.groupBy(col("l_partkey"))
      .agg(expr("CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) " +
        "AS BIGINT)) AS BIGINT) div 100").as("x"),
        expr("CAST(sum(CAST(floor(l_quantity * p_retailprice * 100.0 " +
          "+ 0.5) AS BIGINT)) AS BIGINT) div 100").as("y"))
    val m = per.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val vx = d("sxx") / d("n") - (d("sx") / d("n")) * (d("sx") / d("n"))
    val vy = d("syy") / d("n") - (d("sy") / d("n")) * (d("sy") / d("n"))
    val cxy = d("sxy") / d("n") - (d("sx") / d("n")) * (d("sy") / d("n"))
    val shift = d("sx") / d("n") - d("sy") / d("n")
    m.select(col("n"),
      round(cxy / sqrt(vx * vy), 6).as("pearson_r"),
      round(lit(2.0) * cxy / (vx + vy + shift * shift), 6).as("ccc"),
      round(shift, 6).as("mean_shift"))
  }
  val q372Sql: String =
    """WITH per AS (SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100.0e0 + 0.5e0)
      |      AS BIGINT)) AS BIGINT) // 100 AS x,
      |    CAST(sum(CAST(floor(l_quantity * p_retailprice * 100.0e0
      |      + 0.5e0) AS BIGINT)) AS BIGINT) // 100 AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM per),
      |v AS (SELECT n,
      |    CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS vx,
      |    CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vy,
      |    CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cxy,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS shift
      |  FROM m)
      |SELECT n, round(cxy / sqrt(vx * vy), 6) AS pearson_r,
      |  round(2.0e0 * cxy / (vx + vy + shift * shift), 6) AS ccc,
      |  round(shift, 6) AS mean_shift
      |FROM v""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q369_winsorized_corr" -> (q369 _),
    "q370_kendalls_w" -> (q370 _),
    "q371_pages_l" -> (q371 _),
    "q372_lins_ccc" -> (q372 _))

  val oracles: Map[String, String] = Map(
    "q369_winsorized_corr" -> q369Sql,
    "q370_kendalls_w" -> q370Sql,
    "q371_pages_l" -> q371Sql,
    "q372_lins_ccc" -> q372Sql)
}
