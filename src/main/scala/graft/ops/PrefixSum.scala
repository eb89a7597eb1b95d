package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed prefix sum: a running total per group in a stable
  * order, WITHOUT a per-group window.
  *
  * `Window.partitionBy(group).orderBy(order)` serializes each group
  * onto one reducer — on a low-cardinality group key (a corpus with 5
  * sources, a language column with 5 values) that is 5 straggler
  * tasks doing a full per-group sort at any scale. This operator is
  * the scale-safe equivalent:
  *
  *   1. range-repartition by (group, order…) — P ordered partitions,
  *      P sized by `spark.sql.shuffle.partitions`, each holding a
  *      contiguous slice of one-or-more groups;
  *   2. one tiny aggregation of per-(partition, group) subtotals,
  *      collected: a partition holds a contiguous (group, order…)
  *      range, so only a group straddling a boundary appears in more
  *      than one, about |groups| + P rows (refused past
  *      [[MaxSubtotals]]);
  *   3. exclusive prefix offsets per (partition, group) broadcast
  *      back, and a partition-local running sum adds them in.
  *
  * The result is identical to the window formulation (the global
  * (group, order…) sort order fully determines the running total —
  * partition boundaries cancel out) but the only per-row data
  * movement is ONE range shuffle, and no task ever holds more than
  * one partition's rows. Deterministic: range sampling only moves
  * boundaries, never the order.
  */
object PrefixSum {

  /** Most per-(partition, group) subtotal rows the driver collects —
    * each is a few longs, so this bounds the offset table at tens of
    * MB. More means too many groups for a driver-side prefix.
    */
  private val MaxSubtotals = 1000000

  /** Adds `cumCol` = inclusive running sum of `valueCol` (long) within
    * each `groupCol` group, ordered by `orderCols` ascending.
    * `orderCols` must be unique per row within a group for the result
    * to be well-defined (true for primary-key-ish columns).
    */
  /** Global (ungrouped) running total of `valueCol` in `orderCols`
    * order — the scale-safe replacement for
    * `Window.orderBy(...)` with NO partitionBy, which Spark itself
    * flags ("No Partition Defined for Window operation! Moving all
    * data to a single partition"). Same mechanics as [[runningTotal]]
    * with a single constant group: one range shuffle, partition-local
    * sums, broadcast per-partition offsets.
    */
  def runningTotalGlobal(df: DataFrame, orderCols: Seq[String],
                         valueCol: String, cumCol: String): DataFrame = {
    val g = "_psg"
    runningTotal(df.withColumn(g, lit(0)), g, orderCols, valueCol, cumCol).drop(g)
  }

  def runningTotal(df: DataFrame, groupCol: String, orderCols: Seq[String],
                   valueCol: String, cumCol: String): DataFrame =
    runningTotals(df, groupCol, orderCols, Seq(valueCol -> cumCol))

  /** Several running totals over the SAME (group, order) in ONE pass —
    * a rank (`_one` column) and a cumulative value, say. N chained
    * [[runningTotal]] calls pay N range shuffles, N pinned caches and
    * N subtotal collect jobs; sharing the order they fuse into one of
    * each (guide §2.4: operations keyed the same way share one
    * exchange). `valueCols` maps value column → output column; a
    * null value adds 0.
    */
  def runningTotals(df: DataFrame, groupCol: String, orderCols: Seq[String],
                    valueCols: Seq[(String, String)]): DataFrame =
    runningTotals(df, groupCol, orderCols, valueCols, MaxSubtotals)

  private[ops] def runningTotals(df: DataFrame, groupCol: String, orderCols: Seq[String],
                                 valueCols: Seq[(String, String)],
                                 maxSubtotals: Int): DataFrame = {
    val sortCols = (groupCol +: orderCols).map(col)
    val parts = df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    // pin the physical partitioning: range boundaries come from
    // sampling, so the subtotal pass and the accumulation pass must
    // observe the SAME partitions (registered → harness unpersists)
    val pinned = graft.Caches.register(parts)
    // pass 1: per-(partition, group) subtotals of EVERY value column —
    // about |groups| + P rows, capped BEFORE they reach the driver.
    // Null values count as 0 (an all-null subtotal is 0, not null)
    val aggs = valueCols.map { case (v, _) => coalesce(sum(col(v)), lit(0L)).as(s"_sub_$v") }
    val rows = pinned
      .groupBy(spark_partition_id().as("_pid"), col(groupCol).as("_grp"))
      .agg(aggs.head, aggs.tail: _*)
      .limit(maxSubtotals + 1)
      .collect()
    require(rows.length <= maxSubtotals,
      s"PrefixSum: more than $maxSubtotals (partition, group) subtotals; " +
        s"too many '$groupCol' groups for a driver-side running total")
    // exclusive prefixes per group over ascending partition id, one
    // vector of offsets per (partition, group)
    val offsets: Map[(Int, Any), List[Long]] = rows
      .groupBy(_.get(1))
      .flatMap { case (_, parts) =>
        val accs = Array.fill(valueCols.length)(0L)
        parts.sortBy(_.getInt(0)).map { r =>
          val off = accs.toList
          var i = 0
          while (i < accs.length) { accs(i) += r.getLong(2 + i); i += 1 }
          (r.getInt(0), r.get(1)) -> off
        }
      }
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val groupIdx = pinned.schema.fieldIndex(groupCol)
    val valueIdxs = valueCols.map { case (v, _) => pinned.schema.fieldIndex(v) }.toArray
    val outSchema = StructType(pinned.schema.fields ++
      valueCols.map { case (_, c) => StructField(c, LongType, nullable = false) })
    // pass 2: partition-local running sums seeded by the broadcast
    // offsets — a narrow map over the pinned partitions, no shuffle
    pinned.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var cur: Any = None
      val accs = Array.fill(valueIdxs.length)(0L)
      it.map { r =>
        val g = r.get(groupIdx)
        if (cur != g) {
          cur = g
          val off = bc.value.getOrElse((pid, g), Nil)
          var i = 0
          while (i < accs.length) { accs(i) = if (off.isEmpty) 0L else off(i); i += 1 }
        }
        var i = 0
        while (i < accs.length) {
          if (!r.isNullAt(valueIdxs(i))) accs(i) += r.getLong(valueIdxs(i))
          i += 1
        }
        // accs is reused across rows — copy the snapshot into the row
        Row.fromSeq(r.toSeq ++ accs.toList)
      }
    }(Encoders.row(outSchema))
  }
}
