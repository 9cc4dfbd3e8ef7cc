package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 57" query set (q379–q380): the remaining TPC-H
  * subquery-decorrelation classics — the Q2 shape (correlated SCALAR
  * subquery: per-group min compared back to the row) and the Q20
  * shape (nested IN with an aggregated HAVING threshold). Both are
  * declared as the decorrelated plan itself — aggregate + equi join /
  * chained semi joins — so no per-row subquery can ever appear, which
  * is exactly the rewrite a correlated form must reach to survive
  * 100 TB.
  */
object Wave57Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q379
  /** Cheapest source per part (the TPC-H Q2 shape): for size-10 parts,
    * every (part, supplier) line priced AT the part's global minimum
    * l_extendedprice. The classic correlated scalar subquery
    * (`WHERE price = (SELECT min(price) ... WHERE same part)`)
    * declared as its decorrelation: one map-side-combinable min
    * aggregation on l_partkey, equality-joined back to the fact — the
    * aggregation's shuffle partitioning is reused by the join, so the
    * whole subquery surface costs ONE exchange of (partkey, min).
    * Ties (several suppliers at the min) stay in, as in the SQL form.
    */
  def q379(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val minP = li.groupBy("l_partkey")
      .agg(min("l_extendedprice").as("min_price"))
    val p = T(s, dir, "part").filter(col("p_size") === 10)
      .select(col("p_partkey"), col("p_type"))
    li.join(minP, Seq("l_partkey"))
      .filter(col("l_extendedprice") === col("min_price"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(T(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_type"), col("s_name"),
        round(col("min_price"), 6).as("min_price"))
      .orderBy("p_partkey", "s_name").limit(100)
  }
  val q379Sql: String =
    """SELECT p.p_partkey, p.p_type, s.s_name,
      |  round(l.l_extendedprice, 6) AS min_price
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |WHERE p.p_size = 10
      |  AND l.l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = l.l_partkey)
      |ORDER BY p.p_partkey, s.s_name LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q380
  /** Excess-inventory suppliers (the TPC-H Q20 shape): suppliers who
    * moved more than 90 units of any single PROMO part — the nested
    * `IN (SELECT ... GROUP BY ... HAVING sum > T)` declared as its
    * decorrelation: broadcast-semi the fact against the filtered dim,
    * ONE (suppkey, partkey) aggregation with the HAVING as a plain
    * filter, then a key-only semi join into supplier. l_quantity is
    * integer-valued here, so the threshold compare is exact longs.
    */
  def q380(s: SparkSession, dir: String): DataFrame = {
    val promo = T(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val qty = T(s, dir, "lineitem")
      .join(promo, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
      .filter(col("sq") > 90L)
    T(s, dir, "supplier")
      .join(qty.select(col("l_suppkey")).distinct(),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }
  val q380Sql: String =
    """SELECT s.s_suppkey, s.s_name FROM supplier s
      |WHERE s.s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE p.p_type = 'PROMO'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING sum(CAST(l_quantity AS BIGINT)) > 90)
      |ORDER BY s.s_suppkey""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q379_cheapest_source" -> (q379 _),
    "q380_excess_suppliers" -> (q380 _))

  val oracles: Map[String, String] = Map(
    "q379_cheapest_source" -> q379Sql,
    "q380_excess_suppliers" -> q380Sql)
}
