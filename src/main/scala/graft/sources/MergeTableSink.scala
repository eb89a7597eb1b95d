package graft.sources

import graft.cdc.{CdcModel, MergeTable, Precombine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col

/** Streaming write into a MergeTable —
  * `df.writeStream.format("mergetable").option("path", root)
  * .option("keys", "id")...start()` — the inbound counterpart of the
  * change-feed source, so the lake table is a first-class streaming
  * sink the way the reference's Iceberg tables are
  * (kafka-iceberg-streaming-emrserverless-v2.py:218-225 reaches the
  * same shape through foreachBatch).
  *
  * Two apply modes (option `apply`):
  *  - `upsert` (default): every micro-batch row is an after-image;
  *    rows are precombined to one per key (by the `ordering` columns
  *    if given, else arbitrary-but-deterministic max) and MERGEd.
  *  - `changes`: rows are normalized change events carrying an
  *    `opclass` column (I/U/D), precombined on `ordering` to each
  *    key's final event: a final D removes the key, any other lands
  *    as a keyed upsert — one commit per batch.
  *
  * Exactly-once: MergeTable commits are atomic and the engine replays
  * a failed batch from the checkpoint; both apply modes are
  * idempotent per batch (upsert/delete of the same rows converges to
  * the same state), so replay is safe. The batch is cached for the
  * duration of the apply because a merge consumes it more than once.
  */
class MergeTableSink(
    path: String,
    keys: Seq[String],
    mode: String,
    numBuckets: Option[Int],
    applyMode: String,
    ordering: Seq[String],
    partitionCols: Seq[String] = Nil,
    txnAppId: Option[String] = None,
    branch: String = MergeTable.MainBranch) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // rewrap: the engine hands a DataFrame over the streaming plan,
    // which cannot be the subject of new (batch) queries directly
    val batch = org.apache.spark.sql.graft.StreamingShim.asBatch(data)
    // an existing table's recorded layout AND write mode win over the
    // sink options: with recorded metadata present, a sink 'buckets'
    // option must not bucket a recorded-flat table (map+getOrElse,
    // not flatMap+orElse — recorded None IS the layout), and a
    // default-mode stream pointed at a MOR/dv table must not rewrite
    // it as flat COW bases each batch
    val meta = MergeTable.readMeta(path)
    val table = new MergeTable(data.sparkSession, path, keys,
      meta.map(_.mode).getOrElse(mode),
      meta.map(_.numBuckets).getOrElse(numBuckets),
      partitionCols = meta.map(_.partitionCols).getOrElse(partitionCols),
      branch = branch)
    // idempotent-writer option: with txnAppId set, the (appId,
    // batchId) watermark rides the batch's own commits, so a
    // checkpoint-replayed batch SKIPS instead of re-applying —
    // Delta's txnAppId/txnVersion contract. Without it, replay
    // safety still holds by per-batch value idempotence.
    txnAppId match {
      case Some(app) => table.txn(app, batchId) { applyBatch(table, batch) }
      case None => applyBatch(table, batch)
    }
  }

  private def applyBatch(table: MergeTable, batch: DataFrame): Unit = {
    applyMode match {
      case "changes" =>
        // one precombine across ALL op classes decides each key's
        // FINAL event by `ordering` — losers of the same key are gone,
        // a final D drops the key, anything else lands. (NOT
        // applyChanges' semantics: there deletes apply after upserts,
        // so a D-then-reinsert within one batch would lose the newer
        // row.) Upsert and delete keys are disjoint by construction,
        // so both land in ONE replace commit. Persist the POST-
        // aggregation frame: the op-class probe, the summary and the
        // write would otherwise re-run the precombine shuffle each.
        val finalPerKey = Precombine.latestByKey(batch, keys, ordering).persist()
        try {
          val present = finalPerKey.groupBy("opclass").count()
            .collect().map(_.getString(0)).toSet // ≤ 3 rows
          val deleted = col("opclass") === CdcModel.OpDelete
          val upserts = Some(finalPerKey.filter(!deleted).drop("opclass").drop(ordering: _*))
            .filter(_ => present.exists(o => o != null && o != CdcModel.OpDelete))
          // deletes against a never-created table are a no-op (the
          // rows can't exist) — a delete-only first batch, e.g. from
          // a compacted topic's tombstones, must not crash the stream
          val deletes = Some(finalPerKey.filter(deleted))
            .filter(_ => present.contains(CdcModel.OpDelete))
          table.replaceKeys(upserts, deletes)
        } finally finalPerKey.unpersist()
      case _ =>
        // no ordering option → order by ALL non-key columns: an
        // arbitrary-but-DETERMINISTIC winner, so a replayed batch
        // commits the identical row (dropDuplicates' survivor
        // depends on partition order and would break replay)
        val ord = if (ordering.nonEmpty) ordering
          else batch.columns.filterNot(keys.contains).toSeq
        val deduped =
          (if (ord.isEmpty) batch.dropDuplicates(keys) // keys-only schema
           else Precombine.latestByKey(batch, keys, ord)
             .drop(ordering: _*)) // user-supplied ordering cols are meta; data cols stay
            .persist() // upsert consumes it more than once (key count + merge)
        try { if (!deduped.isEmpty) table.upsert(deduped) }
        finally deduped.unpersist()
    }
  }

  override def toString: String = s"MergeTableSink[$path]"
}

object MergeTableSink {
  private[sources] def fromOptions(parameters: Map[String, String]): MergeTableSink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("mergetable sink requires option 'path'"))
    val keys = parameters.get("keys").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        "mergetable sink requires option 'keys' (merge is by primary key)"))
    val mode = parameters.getOrElse("mode", MergeTable.CopyOnWrite)
    val buckets = parameters.get("buckets").map(_.toInt)
    val applyMode = parameters.getOrElse("apply", "upsert")
    require(applyMode == "upsert" || applyMode == "changes",
      s"mergetable sink option 'apply' must be upsert|changes, got $applyMode")
    val ordering = parameters.get("ordering")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    if (applyMode == "changes") require(ordering.nonEmpty,
      "mergetable sink apply=changes requires option 'ordering' (precombine columns)")
    val partitions = parameters.get("partitions")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    new MergeTableSink(path, keys, mode, buckets, applyMode, ordering, partitions,
      txnAppId = parameters.get("txnAppId"),
      branch = parameters.getOrElse("branch", MergeTable.MainBranch))
  }
}
