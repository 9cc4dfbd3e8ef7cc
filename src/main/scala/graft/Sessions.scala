package graft

import org.apache.spark.sql.SparkSession

/** THE engine session config, in one place, and the only
  * `SparkSession.builder()` in main code. Bench (the timed runs), Verify
  * (the correctness gate), the CLI, the dev plan dumper (`DevPlan`, the
  * committed before/after plan evidence) and the flowbench harness all
  * build their session here, so none can drift from the others — a copy
  * that lacked the two shuffled-hash-join knobs would plan a different
  * join strategy than the bench executes. The CLI alone may override
  * the master (`SPARK_GRAFT_MASTER`), a deployment setting.
  *
  * Knobs (all env-overridable, local defaults keep the driver's bench
  * comparable; production values are a cluster submit's concern):
  *
  *  - `spark.sql.shuffle.partitions` = the session's core count — the
  *    scale-adaptive part is AQE coalescing, on everywhere.
  *  - shuffled hash join allowed where its size conditions hold
  *    (guide §3.1/§9): SHJ skips sort-merge's per-partition sort; the
  *    planner's size conditions still gate the choice and the AQE
  *    rewrite only fires under the 64m local-map threshold, so
  *    build-side memory stays bounded at any scale. Measured at sf0.1
  *    (round 9): join-heavy stats/graph queries ~5–10% faster, none
  *    slower.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCALMAP", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
