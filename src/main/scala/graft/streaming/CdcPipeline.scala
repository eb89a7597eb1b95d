package graft.streaming

import graft.cdc.{CdcModel, MergeTable, Precombine, TableConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC ingestion: readStream → envelope parse → multi-table
  * demux → per-table merge apply, in a foreachBatch micro-batch loop —
  * the reference's processBatch structure
  * (kafka-iceberg-streaming-emrserverless-v2.py:218-225,
  * transaction_log_util.py:55-168) re-expressed on MergeTable.
  *
  * Scale notes: each trigger probes the batch ONCE — a
  * `groupBy(tbl, opclass).count()` over the cached parsed batch, at
  * most three rows per table (bounded by the table count, not the
  * batch size — the shape of the reference's datatables.collect()).
  * It names the tables to apply and, per table, the op classes
  * present, so an empty trigger, an upsert-only or a delete-only
  * table costs no further probe. Each table's changes are then
  * filtered from the cached batch, precombined, and land in ONE
  * commit per table (see MergeTable.applyChanges).
  * Rate limiting (maxOffsetsPerTrigger-style) belongs on the source
  * options. foreachBatch is at-least-once; end-to-end the loop is
  * effectively-once because each table's commit is idempotent
  * (replacing the same keys by the same rows converges), so a
  * checkpoint-replayed batchId re-lands the identical state.
  */
final class CdcPipeline(
    spark: SparkSession,
    parse: DataFrame => DataFrame,
    tablesRoot: String,
    configs: Seq[TableConfig],
    databaseName: String) {

  /** Apply one normalized micro-batch: demux to per-table routes and
    * fold each table's changes into its MergeTable.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val parsed = parse(batch).filter(col("db") === databaseName).cache()
    try {
      // bounded by 3 × table count
      val routes = parsed.groupBy("tbl", "opclass").count().collect()
        .groupMap(_.getString(0))(_.getString(1))
      routes.foreach { case (tbl, opClasses) =>
        val conf = TableConfig.forTable(configs, databaseName, tbl)
        val changes = parsed.filter(col("tbl") === tbl)
        val schema = CdcModel.inferPayloadSchema(spark, changes, "payload")
        val decoded = TableConfig.applyTimestampFields(
          CdcModel.decodePayload(changes, schema, keep = Seq("opclass", "ts_ms")), conf)
        val table = MergeTable.forConfig(spark, s"$tablesRoot/$databaseName/$tbl", conf)
        val ordering = "ts_ms" +: conf.precombineKey.toSeq
        table.applyChanges(decoded, ordering = ordering, metaCols = Seq("ts_ms"),
          opClasses = Some(opClasses.toSet))
      }
    } finally parsed.unpersist()
  }

  /** Wire a streaming source through the batch loop. */
  def start(source: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}

/** Kafka source options builder, mirroring msg/KafkaConnector.py:17-33
  * (topics list, consumer group, offset/timestamp start, rate limit,
  * fetch sizing). The returned map plugs into
  * `spark.readStream.format("kafka").options(...)` on a cluster with
  * the Kafka connector on the classpath; tests use file/memory
  * sources through the same pipeline.
  */
object KafkaCdcSource {
  def options(
      bootstrapServers: String,
      topics: String,
      jobName: String,
      startingOffset: String = "latest",
      maxOffsetsPerTrigger: Long = 200000L,
      maxPartitionFetchBytes: Long = 10485760L): Map[String, String] = {
    // consumer-level settings need the "kafka." prefix — Spark's
    // provider forwards only prefixed entries to the consumer and
    // silently drops unknown plain options
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics,
      "kafka.group.id" -> s"group-$jobName",
      "failOnDataLoss" -> "false",
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "kafka.max.partition.fetch.bytes" -> maxPartitionFetchBytes.toString)
    if (startingOffset == "earliest" || startingOffset == "latest")
      base + ("startingOffsets" -> startingOffset)
    else
      base + ("startingTimestamp" -> startingOffset)
  }
}
