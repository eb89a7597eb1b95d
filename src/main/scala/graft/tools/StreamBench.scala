package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** End-to-end streaming CDC throughput measurement — the checkpointed
  * pipeline SURVEY §5 quotes: file-source Debezium envelopes → parse →
  * 3-table demux → precombine → MergeTable apply. Prints ONE JSON line
  * with the throughput and the contention witnesses (task-time +
  * loadavg, the Bench adjudication fields), so a number taken on a
  * noisy host is self-describing.
  *
  * Usage: `runMain graft.tools.StreamBench [nEvents] [nBatches]`
  * (defaults 1,000,000 × 1). Events are synthesized in-engine from
  * `spark.range` — no dependence on testdata scale. Each batch is
  * staged as [[FilesPerBatch]] files and the source reads that many
  * files per trigger, so a batch is one trigger; the JSON line reports
  * the triggers the query actually ran and their input rows (from
  * `recentProgress`), not the staged batch count.
  *
  * `runMain graft.tools.StreamBench dedup [nDocs] [nBatches]`
  * measures the OTHER checkpointed ingest path instead:
  * [[graft.streaming.DedupStream]] (fingerprint collapse → index
  * anti-join → exactly-once accepted/index MergeTable writes) over a
  * synthetic corpus that is ~1/3 duplicates within and across
  * batches.
  */
object StreamBench {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

  /** Files each staged batch is written as — and the source's
    * `maxFilesPerTrigger`, so one trigger reads exactly one batch.
    */
  private val FilesPerBatch = 8

  /** `"triggers":…,"rows_per_trigger":[…]` JSON fields for the
    * triggers that read input (a final empty trigger is not one).
    */
  private def triggerFields(q: org.apache.spark.sql.streaming.StreamingQuery): String = {
    val rows = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    s""""triggers":${rows.size},"rows_per_trigger":[${rows.mkString(",")}]"""
  }

  private def session(): org.apache.spark.sql.SparkSession = {
    val s = graft.GraftSession.builder("graft-stream-bench", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def taskCounter(spark: org.apache.spark.sql.SparkSession) = {
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        taskMs.addAndGet(Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L))
    })
    taskMs
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dedup")) { runDedup(args.drop(1).toSeq); return }
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val spark = session()
    import graft.cdc.{Debezium, MergeTable, TableConfig}
    import graft.streaming.CdcPipeline

    val taskMs = taskCounter(spark)

    val root = "target/stream_bench"
    MergeTable.drop(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))

    // synthetic event stream: ~20% deletes, keys recur so precombine
    // and the merge path both do real per-key work
    def events(batch: Int) = spark.range(n)
      .select(
        (col("id") + batch * n).as("event_id"),
        (col("id") % (n / 4)).as("user_id"),
        when(col("id") % 10 === 0, "signup")
          .when(col("id") % 10 === 9, "error")
          .otherwise("click").as("event_type"),
        (col("id") % 1000).cast("double").as("value"),
        timestamp_seconds(lit(1700000000L) + col("id") % 86400).as("ts"))
    (0 until nBatches).foreach { b =>
      Debezium.synthesizeFromEvents(events(b)).repartition(FilesPerBatch)
        .write.mode("overwrite").text(s"$root/in/batch$b")
    }

    val pipeline = new CdcPipeline(
      spark,
      parse = df => Debezium.parse(df, "value"),
      tablesRoot = s"$root/tables",
      configs = (0 to 2).map(i =>
        TableConfig(db = "graftdb", table = s"events_$i",
          primaryKey = Seq("user_id"), precombineKey = Some("event_id"))),
      databaseName = "graftdb")

    val load0 = loadAvg()
    val task0 = taskMs.get()
    val t0 = System.nanoTime()
    val q = pipeline.start(
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", FilesPerBatch)
        .text(s"$root/in/*"),
      checkpoint = s"$root/ckpt")
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val landed = (0 to 2).map { i =>
      new MergeTable(spark, s"$root/tables/graftdb/events_$i", Seq("user_id"))
        .read().count()
    }.sum
    println(f"""{"metric":"stream_cdc_events_per_s","value":${n * nBatches / sec}%.0f,"unit":"events/s","events":${n * nBatches},"batches":$nBatches,${triggerFields(q)},"wall_sec":$sec%.1f,"task_total_sec":${(taskMs.get() - task0) / 1000.0}%.1f,"loadavg_start":$load0%.1f,"loadavg_end":${loadAvg()}%.1f,"cpus":"$cpus","rows_landed":$landed}""")
    spark.stop()
  }

  /** DedupStream ingest throughput: nBatches parquet drops of nDocs
    * docs each. Text keys: doc 6k+5 reuses 6k+4's key (1/6 of every
    * batch duplicates WITHIN the batch) and, past batch 0, doc 6k+3
    * reuses a previous-batch key (another ~1/6 duplicates ACROSS
    * batches against the index) — so every steady-state batch is
    * ~1/3 duplicate and both the in-batch collapse and the index
    * anti-join do real work every trigger.
    */
  private def runDedup(args: Seq[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = session()
    import graft.cdc.MergeTable
    val taskMs = taskCounter(spark)
    val root = "target/stream_bench_dedup"
    MergeTable.drop(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    // canonical key of doc x: 6k+5 folds onto 6k+4
    def kfun(x: org.apache.spark.sql.Column) =
      x - when(pmod(x, lit(6)) === 5, 1L).otherwise(0L)
    (0 until nBatches).foreach { b =>
      val gid = col("id") + b * n
      val key = when(pmod(gid, lit(6)) === 3 && gid >= n, kfun(gid - n))
        .otherwise(kfun(gid))
      spark.range(n).select(
          gid.as("doc_id"),
          concat(lit("document text body "), md5(key.cast("string"))).as("text"))
        .repartition(FilesPerBatch)
        .write.mode("overwrite").parquet(s"$root/in/batch$b")
    }
    val ds = new graft.streaming.DedupStream(spark, s"$root/tables")
    val load0 = loadAvg()
    val task0 = taskMs.get()
    val t0 = System.nanoTime()
    val q = ds.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", FilesPerBatch).parquet(s"$root/in/*"),
      checkpoint = s"$root/ckpt")
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val accepted = new MergeTable(spark, s"$root/tables/accepted", Seq("doc_id"))
      .read().count()
    println(f"""{"metric":"stream_dedup_docs_per_s","value":${n * nBatches / sec}%.0f,"unit":"docs/s","docs":${n * nBatches},"batches":$nBatches,${triggerFields(q)},"accepted":$accepted,"wall_sec":$sec%.1f,"task_total_sec":${(taskMs.get() - task0) / 1000.0}%.1f,"loadavg_start":$load0%.1f,"loadavg_end":${loadAvg()}%.1f,"cpus":"$cpus"}""")
    spark.stop()
  }
}
