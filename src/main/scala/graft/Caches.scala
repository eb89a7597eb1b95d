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

  /** [[register]] `df` for a fill planned with adaptive execution OFF
    * (`GraftSqlBridge.adaptiveOff`), marked to drop its RDD lineage
    * once filled (`truncateCacheLineage`), so a round's tasks do not
    * carry earlier rounds. The cache is not filled here: the first job
    * that reads it fills it, so a [[materialize]] of a frame built on
    * `df` fills both caches in its one job. Returns `df`; once filled,
    * `GraftSqlBridge.cachedRelation` re-roots it.
    *
    * Under AQE a cache keeps an adaptive plan, and every exchange
    * inside it is a query stage that AQE submits as its own job before
    * the job that reads the cache. Planned without AQE, those exchanges
    * are stages of the reading job. A job costs tens of ms of CPU
    * outside its tasks and the data here is small; what is given up is
    * AQE's partition coalescing and join re-planning inside the cached
    * plan. Plans built on the cache still run adaptively.
    */
  def stage(df: DataFrame): DataFrame = {
    val off = register(GraftSqlBridge.adaptiveOff(df))
    GraftSqlBridge.truncateCacheLineage(off)
    df
  }

  /** [[stage]] `df` and fill it with ONE job, the aggregate
    * `agg +: aggs` over it, planned in the same AQE-off session
    * (`GraftSqlBridge.aggregateOnce`; one session clone per call): the
    * fill, every exchange inside `df`, the partial aggregate and the
    * final one are stages of that job. Returns `df` re-rooted on the
    * cached data (`GraftSqlBridge.cachedRelation`), with the
    * aggregate's row: a loop that builds round N+1 on the returned
    * frame adds O(1) plan nodes per round instead of nesting round N's
    * plan, and the planner still sees the partitioning the cache was
    * filled with.
    */
  def materialize(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Row) = {
    val off = GraftSqlBridge.adaptiveOff(df)
    stage(off)
    val row = GraftSqlBridge.aggregateOnce(off, agg +: aggs)
    (GraftSqlBridge.cachedRelation(df), row)
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
