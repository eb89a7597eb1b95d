package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata star schema (see
  * TESTDATA.md). Parquet scans here are the leaves of every plan, so
  * all column pruning / filter pushdown flows through these.
  */
object Tables {
  // memoized base relations: `spark.read.parquet` pays driver-side
  // file listing + footer schema inference on EVERY call, and a
  // 246-query suite re-resolves the same 10 immutable testdata files
  // hundreds of times. The memo returns the already-analyzed
  // DataFrame (no data is cached — scans still stream from parquet);
  // keyed by session so a restarted session re-resolves.
  private val relMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relMemo.getOrElseUpdate(
      (System.identityHashCode(spark), s"$dir/$name.parquet"),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
    * natively; with `spark.sql.legacy.parquet.nanosAsLong=true` it
    * arrives as a nano-precision long. Truncate to micros (same as
    * DuckDB's nanos handling) and expose as TIMESTAMP_NTZ.
    */
  private def fixNanos(df: DataFrame, colName: String): DataFrame =
    df.schema.find(_.name == colName) match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integral `div`, NOT `/`: long / int promotes to double, which
        // cannot represent nanosecond-epoch magnitudes exactly
        df.withColumn(colName,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"`$colName` div 1000"))
            .cast("timestamp_ntz"))
      case _ => df
    }

  /** Restore worker parallelism ahead of a CPU-heavy per-row stage
    * (JSON codecs, hash signatures) when the source collapsed to
    * fewer splits than cores — the testdata tables are single-file /
    * single-row-group parquet, which pins the whole stage to one
    * task. No-op when the scan already has enough partitions, so at
    * production scale (inputs in thousands of splits) this never
    * introduces a shuffle; use it only where per-row compute, not
    * the scan, dominates.
    */
  def parallel(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch planning handles this
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  // memoized like the base relations: a frame's `rdd` is planned once
  // per Dataset, so `parallel(events(...))` plans it once per session
  // instead of on every call
  def events(spark: SparkSession, dir: String): DataFrame    =
    relMemo.getOrElseUpdate((System.identityHashCode(spark), s"$dir/events.parquet#ts"),
      fixNanos(load(spark, dir, "events"), "ts"))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
