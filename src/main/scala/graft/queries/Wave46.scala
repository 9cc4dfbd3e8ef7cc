package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 "wave 46" query set (q337–q340): the classic relational
  * decision-support shapes — correlated EXISTS (semi join), scalar-
  * subquery share filters, DISTINCT-count with a NOT-IN exclusion,
  * and anti join against an exact average — the TPC-H Q4/Q11/Q16/Q22
  * idiom family, expressed Spark-first (leftsemi/leftanti joins, AQE
  * picks build sides). Money compares in exact cents with
  * cross-multiplied thresholds, so no float boundary can flip a row.
  */
object Wave46Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q337
  /** Correlated EXISTS → LEFT SEMI join (the TPC-H Q4 shape): orders
    * with at least one line shipped more than 60 days after the order
    * date, counted per priority. The semi join carries the
    * cross-table predicate INTO the join condition — one pass, no
    * distinct, no fan-out (a plain inner join would double-count
    * multi-late orders).
    */
  def q337(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 60),
        "leftsemi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }
  val q337Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND CAST(l.l_shipdate AS DATE)
      |        > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q338
  /** Scalar-subquery share filter (the TPC-H Q11 shape): parts whose
    * total ordered quantity exceeds 1.5× the MEAN part share — a
    * scale-free threshold (a fixed fraction goes empty as the part
    * domain grows). Compared as a CROSS-MULTIPLIED exact integer
    * (2·pq·n_parts > 3·grand_qty in deci-units) — no float boundary.
    * Top 20 by quantity, partkey tie-break.
    */
  def q338(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_partkey"),
      floor(col("l_quantity") * 10.0 + 0.5).cast("long").as("qd"))
    val per = li.groupBy("l_partkey").agg(sum("qd").as("pq"))
    val tot = per.agg(sum("pq").as("gq"), count(lit(1)).as("np"))
    per.crossJoin(tot)
      .filter(col("pq") * col("np") * 2 > col("gq") * 3)
      .orderBy(col("pq").desc, col("l_partkey")).limit(20)
      .select(col("l_partkey"),
        round(col("pq").cast("double") / 10.0, 6).as("total_qty"),
        round(col("pq").cast("double") / col("gq").cast("double"), 6)
          .as("share"))
  }
  val q338Sql: String =
    """WITH per AS (SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_quantity * 10.0e0 + 0.5e0) AS BIGINT))
      |      AS BIGINT) AS pq
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(pq) AS BIGINT) AS gq,
      |    CAST(count(*) AS BIGINT) AS np FROM per)
      |SELECT l_partkey,
      |  round(CAST(pq AS DOUBLE) / 10.0e0, 6) AS total_qty,
      |  round(CAST(pq AS DOUBLE) / CAST(gq AS DOUBLE), 6) AS share
      |FROM per, tot WHERE pq * np * 2 > gq * 3
      |ORDER BY pq DESC, l_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q339
  /** DISTINCT-count with a NOT-IN exclusion (the TPC-H Q16 shape):
    * per (brand, size-band), how many DISTINCT suppliers ship the
    * parts — excluding suppliers whose return ('R') share exceeds the
    * corpus return share (the "worse than average" blacklist,
    * compared as cross-multiplied exact integers — no float
    * boundary). The exclusion is a LEFT ANTI join on a pre-aggregated
    * blacklist — never a correlated per-row subquery.
    */
  def q339(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val per = li.groupBy("l_suppkey").agg(count(lit(1)).as("n"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("nr"))
    val tot = per.agg(sum("n").as("tn"), sum("nr").as("tr"))
    val bad = per.crossJoin(tot)
      .filter(col("nr") * col("tn") > col("tr") * col("n"))
      .select(col("l_suppkey"))
    val p = T(s, dir, "part").select(col("p_partkey"), col("p_brand"),
      (col("p_size") - pmod(col("p_size"), lit(10))).as("size_band"))
    li.select(col("l_partkey"), col("l_suppkey"))
      .join(bad, Seq("l_suppkey"), "leftanti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "size_band")
      .agg(count_distinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy("p_brand", "size_band")
  }
  val q339Sql: String =
    """WITH per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
      |      AS nr
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
      |    CAST(sum(nr) AS BIGINT) AS tr FROM per),
      |bad AS (SELECT l_suppkey FROM per, tot WHERE nr * tn > tr * n)
      |SELECT p.p_brand,
      |  CAST(p.p_size - (p.p_size % 10) AS BIGINT) AS size_band,
      |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE l.l_suppkey NOT IN (SELECT l_suppkey FROM bad)
      |GROUP BY 1, 2 ORDER BY p_brand, size_band""".stripMargin

  // ---------------------------------------------------------------- q340
  /** Anti join against an exact average (the TPC-H Q22 shape):
    * customers with an above-average positive balance and NO URGENT
    * orders — per market segment, their count and total balance. The
    * average threshold compares as cents·n > Σcents (exact integers),
    * and "no orders" is one LEFT ANTI join.
    */
  def q340(s: SparkSession, dir: String): DataFrame = {
    val c = T(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"),
      floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"))
    val pos = c.filter(col("cents") > 0)
    val thr = pos.agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val rich = pos.crossJoin(thr)
      .filter(col("cents") * col("n") > col("s"))
    val o = T(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    rich.join(o, col("c_custkey") === col("o_custkey"), "leftanti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("total_cents"))
      .select(col("c_mktsegment"), col("n_customers"),
        round(col("total_cents").cast("double") / 100.0, 6)
          .as("total_balance"))
      .orderBy("c_mktsegment")
  }
  val q340Sql: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100.0e0 + 0.5e0) AS BIGINT) AS cents
      |  FROM customer),
      |pos AS (SELECT * FROM c WHERE cents > 0),
      |thr AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS s FROM pos),
      |rich AS (SELECT pos.* FROM pos, thr WHERE cents * n > s)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(CAST(sum(cents) AS DOUBLE) / 100.0e0, 6) AS total_balance
      |FROM rich
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = rich.c_custkey
      |    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q337_exists_semi" -> (q337 _),
    "q338_share_filter" -> (q338 _),
    "q339_distinct_exclusion" -> (q339 _),
    "q340_anti_avg" -> (q340 _))

  val oracles: Map[String, String] = Map(
    "q337_exists_semi" -> q337Sql,
    "q338_share_filter" -> q338Sql,
    "q339_distinct_exclusion" -> q339Sql,
    "q340_anti_avg" -> q340Sql)
}
