package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 72" query set (q415–q416): the table log's lifecycle
  * close-out — VACUUM retention (compaction only reclaims space once
  * unreferenced directories actually go away) and commit-level
  * zone-map pruning (the parquet footer min/max idea lifted to the
  * table format, so a point read skips whole COMMITS without opening
  * a footer). With q411–q413 this makes [[graft.io.TxLog]] a complete
  * minimal lake: append, time travel, compact, change feed, merge,
  * vacuum, data skipping.
  */
object Wave72Queries extends QueryRegistry {
  import CoreQueries.T

  private def rmTree(table: String): Unit = {
    val root = java.nio.file.Paths.get(table)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (it.hasNext) java.nio.file.Files.delete(it.next())
    }
  }

  private def yearSlice(s: SparkSession, dir: String, yr: Int): DataFrame =
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === yr)
      .select(col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("yr"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))

  // ---------------------------------------------------------------- q415
  /** VACUUM census: append 1996 + 1997, compact, vacuum(keep=1). The
    * contract: exactly the two pre-compaction directories are deleted,
    * the current snapshot still reads every row, and the kept-window
    * version list shrinks to the compacted version only.
    */
  def q415(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_vacuum"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.compact(s, table)
    val removed = graft.io.TxLog.vacuum(table, keepVersions = 1)
    val vs = graft.io.TxLog.versions(table)
    graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(removed.toLong).as("dirs_removed"),
        lit(vs.length.toLong).as("versions_kept"),
        lit(vs.last.toLong).as("current_version"),
        col("n_rows"), col("total_cents"))
  }
  private val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"
  val q415Sql: String =
    s"""SELECT CAST(2 AS BIGINT) AS dirs_removed,
       |  CAST(1 AS BIGINT) AS versions_kept,
       |  CAST(3 AS BIGINT) AS current_version,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)""".stripMargin

  // ---------------------------------------------------------------- q416
  /** Zone-map pruned point read: three zone-mapped year commits, then
    * a yr=1997 read — the census proves exactly ONE of three commit
    * directories is scanned and the pruned read returns precisely the
    * 1997 rows (an in-frame filter closes the gap between "can
    * contain" and "matches", same as parquet row-group pruning).
    */
  def q416(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_zone"
    rmTree(table)
    Seq(1996, 1997, 1998).foreach(yr =>
      graft.io.TxLog.commitWithZone(s, table, yearSlice(s, dir, yr), "yr"))
    val (df, scanned, total) =
      graft.io.TxLog.readPruned(s, table, "yr", 1997L)
    df.filter(col("yr") === 1997L)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(scanned.toLong).as("dirs_scanned"),
        lit(total.toLong).as("dirs_total"),
        col("n_rows"), col("total_cents"))
  }
  val q416Sql: String =
    s"""SELECT CAST(1 AS BIGINT) AS dirs_scanned,
       |  CAST(3 AS BIGINT) AS dirs_total,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) = 1997""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q415_txlog_vacuum" -> (q415 _),
    "q416_txlog_zonemap" -> (q416 _))

  val oracles: Map[String, String] = Map(
    "q415_txlog_vacuum" -> q415Sql,
    "q416_txlog_zonemap" -> q416Sql)
}
