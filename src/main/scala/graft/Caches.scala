package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}

/** Registry for DataFrames cached inside query builders.
  *
  * Query functions cache subtrees that feed multiple consumers within
  * ONE query run (both sides of a self-join, multi-job merge applies).
  * Those caches must not outlive the query: in a 57-query suite they
  * accumulate, evict each other, and force recomputation of exactly
  * the subtrees they were meant to protect (round-1 bench showed a
  * 10× inflation of cdc_apply_full from this). Builders register every
  * cache here; the harness (Bench/Verify) calls [[clear]] after each
  * query's consuming action.
  */
object Caches {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val hooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Cache `df` and track it for the next [[clear]]. */
  def register(df: DataFrame): DataFrame = synchronized {
    live += df
    df.cache()
  }

  /** [[register]] `df` and materialize it with ONE job, the aggregate
    * `agg +: aggs` over it. Returns `df` re-rooted on the cached data
    * (`GraftSqlBridge.cachedRelation`), with the aggregate's row: a
    * loop that builds round N+1 on the returned frame adds O(1) plan
    * nodes per round instead of nesting round N's plan, and the planner
    * still sees the partitioning the cache was filled with. The cache
    * drops its RDD lineage once filled (`truncateCacheLineage`), so a
    * round's tasks do not carry earlier rounds either.
    *
    * The probe runs with adaptive execution OFF
    * (`GraftSqlBridge.aggregateOnce`). Under AQE a cache fill is its
    * own query stage and the aggregate's partial stage another, each
    * submitted as a job before the result job: three jobs for one
    * probe, where a job costs tens of ms of CPU outside its tasks and
    * the data is small. Planned without AQE, the fill, the partial
    * aggregate and the final one are stages of one job. Nothing
    * adaptive is lost: the probe's output is one row, and the cache
    * keeps the adaptive plan `df` was cached with, so exchanges inside
    * `df` still run as their own stages and jobs with coalesced
    * partitions.
    */
  def materialize(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Row) = {
    val cached = register(df)
    GraftSqlBridge.truncateCacheLineage(cached)
    val row = GraftSqlBridge.aggregateOnce(cached, agg +: aggs)
    (GraftSqlBridge.cachedRelation(cached), row)
  }

  /** Run `hook` on every [[clear]] (for module-local cache maps). */
  def onClear(hook: () => Unit): Unit = synchronized { hooks += hook }

  /** Unpersist everything registered since the last clear. */
  def clear(): Unit = synchronized {
    live.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    live.clear()
    hooks.foreach(h => try h() catch { case _: Throwable => () })
  }
}
