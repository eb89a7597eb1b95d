package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to `private[sql]` constructors the public API does
  * not expose: building a DataFrame from a custom LogicalPlan and
  * unwrapping a Column to its Catalyst Expression. This is the
  * standard extension seam for libraries that add their own logical
  * operators (Spark's own connectors use the same package-scoped
  * access); everything else in graft stays on public API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  private def inMemoryRelation(df: DataFrame): (classic.SparkSession, execution.columnar.InMemoryRelation) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rel = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalArgumentException("the frame is not cached"))
      .cachedRepresentation
    (ds.sparkSession, rel)
  }

  /** Marks the cache of `df`, cached but not yet filled, to drop its
    * RDD lineage once the first job fills it. The filled blocks are the
    * data, so this writes no copy and adds no job. A loop that builds
    * each round's cache on the last one needs it: with every cache
    * keeping its lineage, a 100-round k-core peel overflowed the stack
    * serializing its tasks.
    */
  def truncateCacheLineage(df: DataFrame): Unit =
    inMemoryRelation(df)._2.cacheBuilder.cachedColumnBuffers.localCheckpoint()

  /** A cached `df` re-rooted on its in-memory data: one `LogicalRDD`
    * leaf over the cache scan, with the cache's statistics and the
    * partitioning of the plan that filled it, so `df` must already be
    * materialized. A plan built on it holds that leaf where `df`'s
    * whole plan was. The `InMemoryRelation` itself would not do for a
    * loop: plan descriptions print its cached plan (twice under AQE),
    * so a chain of them doubles with every link, and under AQE it
    * reports unknown partitioning even once materialized.
    */
  def cachedRelation(df: DataFrame): DataFrame = {
    val (s, rel) = inMemoryRelation(df)
    val filled = rel.cachedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val rdd = classic.Dataset.ofRows(s, rel).queryExecution.toRdd
    classic.Dataset.ofRows(s, execution.LogicalRDD(rel.output, rdd, filled.outputPartitioning)(
      s, Some(rel.computeStats())))
  }

  /** The one-row aggregate `aggs` over `df`, planned in a session with
    * adaptive execution off, so the scan, the partial aggregate and the
    * final one are stages of ONE job; under AQE each exchange is a
    * query stage submitted as its own job. A `df` already in such a
    * session ([[adaptiveOff]]) is planned in it as is, with no second
    * clone. A cache under `df` fills with the plan it was cached with:
    * in the same job when that plan is not adaptive either.
    */
  def aggregateOnce(df: DataFrame, aggs: Seq[Column]): Row = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val s = classic.SparkSession.getOrCloneSessionWithConfigsOff(
      ds.sparkSession, Seq(internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED))
    classic.Dataset.ofRows(s, ds.agg(aggs.head, aggs.tail: _*).queryExecution.analyzed).head()
  }

  /** `df` in a clone of its session with adaptive execution off
    * (`getOrCloneSessionWithConfigsOff`, the call Spark's
    * `CacheManager` makes for every cache fill), or `df` itself when
    * its session already has it off. A cache filled from the returned
    * frame keeps a plan whose exchanges are stages of the job that
    * fills it, not query stages that AQE submits as jobs of their own.
    */
  def adaptiveOff(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val s = classic.SparkSession.getOrCloneSessionWithConfigsOff(
      ds.sparkSession, Seq(internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED))
    if (s eq ds.sparkSession) df else classic.Dataset.ofRows(s, ds.queryExecution.analyzed)
  }

  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a Catalyst Expression as a public Column — for expressions
    * whose constants are computed at plan-build time (e.g. a trained
    * PQ codebook) and so can't go through the function registry.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def catalogPlugin(spark: SparkSession, name: String): connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.catalog(name)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.logical

  def buildPlannerStrategies(ext: SparkSessionExtensions, spark: SparkSession): Seq[execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  def registerFunctions(ext: SparkSessionExtensions,
                        registry: catalyst.analysis.FunctionRegistry): catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)
}
