package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.queries.{CoreQueries, ExtQueries}; operator
  * implementations in graft.{io, ops, exec, streaming, model}.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q07(spark, "/root/testdata/sf0.001")

  /** Every query registry, once; [[queries]] and [[oracleSql]] derive
    * from it.
    */
  private val registries: Seq[QueryRegistry] = Seq(
    CoreQueries, ExtQueries, PipeQueries, Wave4Queries, Wave5Queries,
    Wave6Queries, Wave7Queries, Wave8Queries, Wave9Queries, Wave10Queries,
    Wave11Queries, Wave12Queries, Wave13Queries, Wave14Queries, Wave15Queries,
    Wave16Queries, Wave17Queries, Wave18Queries, Wave19Queries, Wave20Queries,
    Wave21Queries, Wave22Queries, Wave23Queries, Wave24Queries, Wave25Queries,
    Wave26Queries, Wave27Queries, Wave28Queries, Wave29Queries, Wave30Queries,
    Wave31Queries, Wave32Queries, Wave33Queries, Wave34Queries, Wave35Queries,
    Wave36Queries, Wave37Queries, Wave38Queries, Wave39Queries, Wave40Queries,
    Wave41Queries, Wave42Queries, Wave43Queries, Wave44Queries, Wave45Queries,
    Wave46Queries, Wave47Queries, Wave48Queries, Wave49Queries, Wave50Queries,
    Wave51Queries, Wave52Queries, Wave53Queries, Wave54Queries, Wave55Queries,
    Wave56Queries, Wave57Queries, Wave58Queries, Wave59Queries, Wave60Queries,
    Wave61Queries, Wave62Queries, Wave63Queries, Wave64Queries, Wave65Queries,
    Wave66Queries, Wave67Queries, Wave68Queries, Wave69Queries, Wave70Queries,
    Wave71Queries, Wave72Queries, Wave73Queries, Wave74Queries, Wave75Queries,
    Wave76Queries, Wave77Queries, Wave78Queries, Wave79Queries, Wave80Queries,
    Wave81Queries, Wave82Queries, Wave83Queries, Wave84Queries, Wave85Queries,
    Wave86Queries, Wave87Queries, Wave88Queries, Wave89Queries, Wave90Queries,
    Wave91Queries, Wave92Queries, Wave93Queries, Wave94Queries, Wave95Queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query is oracle-checked (the two
    * xxhash-based queries check engine-portable INVARIANTS of their
    * results; see q14/q17 scaladoc).
    */
  def oracleSql: Map[String, String] =
    registries.flatMap(_.oracles).toMap
}
