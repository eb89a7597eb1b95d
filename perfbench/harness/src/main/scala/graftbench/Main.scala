package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.{Debezium, MergeTable, TableConfig}
import graft.streaming.CdcPipeline

/** One benchmark run in one JVM: `Main <config.json>`.
  *
  * The config (written by `perfbench/run.py`) names the workload, the
  * generated inputs and the time budget. The run sets up, warms up
  * untimed, measures, dumps the outputs the checks need, and writes a
  * result JSON: timings, counters, and in traced runs the per-layer
  * record and every span.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    val cores = cfg.get("cores").asInt()
    val spark = graft.GraftSession.builder("graft-perfbench", s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val probe = new SpeedProbe
    probe.start()
    val clock = new TaskClock
    spark.sparkContext.addSparkListener(clock)
    val tracer = if (cfg.get("trace").asBoolean()) {
      val t = new Tracer(spark)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val run = new Run(spark, cfg, clock, probe, tracer)
    val result = cfg.get("workload").asText() match {
      case "cdc_stream" => run.cdcStream()
      case _ => run.registryOps()
    }
    spark.stop()
    probe.finish()
    val loops = probe.loopTimesNs.sorted
    def pct(q: Double) = if (loops.isEmpty) 0L else loops(((loops.size - 1) * q).toInt)
    Json.save(cfg.get("out").asText(), result ++ Map(
      "session_ms" -> sessionMs,
      "probe_loop_ns" -> Map("p10" -> pct(0.1), "p50" -> pct(0.5), "p90" -> pct(0.9), "n" -> loops.size),
      "errors" -> run.errors.toSeq))
  }
}

final class Run(spark: SparkSession, cfg: JsonNode, clock: TaskClock, probe: SpeedProbe,
                tracer: Option[Tracer]) {
  private val work = cfg.get("work").asText()
  private val seconds = cfg.get("seconds").asDouble()
  private val cores = cfg.get("cores").asInt()
  // a bound on the timed ops, far above what the time budget allows
  private val MaxOps = 1000
  val errors = mutable.ArrayBuffer.empty[String]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def drain(): Unit = BenchBus.drain(spark.sparkContext)
  private def span[T](name: String, op: Int)(body: => T): T =
    tracer.fold(body)(_.span(name, op)(body))
  private def fail(what: String, e: Throwable): Unit = synchronized {
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  /** CPU time of the whole JVM (driver, executor threads, JIT, GC) but
    * the speed probe, ns. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - probe.ownCpuNs

  /** An op's CPU figures over [t0, t1] (nanoTime), as measured and at
    * the probe's reference speed. */
  private def cpuFigures(t0: Long, t1: Long, cpuNs: Long, taskNs: Long): Map[String, Any] = {
    val speed = probe.speed(t0, t1)
    Map("cpu_s" -> cpuNs / 1e9, "task_s" -> taskNs / 1e9, "speed" -> speed,
      "cpu_ref_s" -> cpuNs / 1e9 / speed, "task_ref_s" -> taskNs / 1e9 / speed)
  }

  /** Driver old-gen occupancy right after a full collection, MiB. */
  private def heapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map { p =>
        val after = Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)
        (if (after > 0) after else p.getUsage.getUsed) / 1048576.0
      }.getOrElse(0.0)
  }

  /** Start of the timed region: every earlier event delivered first. */
  private def beginTimed(): (Long, Long) = {
    drain()
    tracer.foreach(_.recording = true)
    (clock.cpuNs.get(), System.currentTimeMillis())
  }

  private def endTimed(task0: Long): Double = {
    drain()
    tracer.foreach(_.recording = false)
    (clock.cpuNs.get() - task0) / 1e9
  }

  // -- batch_ops: registry ops in a closed loop ------------------------------

  def registryOps(): Map[String, Any] = {
    val data = cfg.get("data").asText()
    val ops = Json.strings(cfg.get("ops"))
    val seed = cfg.get("seed").asLong()
    val fns = graft.SparkEntry.queries
    // warm-up, untimed, in a fixed order (`warm_ops`: each op twice), so
    // class loading, code generation and the JIT have seen each op's paths
    val warm = Json.strings(cfg.get("warm_ops")).map { name =>
      val w0 = System.nanoTime()
      try fns(name)(spark, data).collect()
      catch { case e: Throwable => fail(s"warm-up $name", e) }
      graft.Caches.clear()
      name -> secs(w0)
    }
    val heapWarm = heapMb()

    val (task0, timedStartMs) = beginTimed()
    val t0 = System.nanoTime()
    val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // the first pass's results, checked against the oracle afterwards
    val outputs = mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]
    var taskMark = task0
    // closed loop: one whole pass over the ops in the seed's order, then
    // ops of further passes (each in its own seeded order) while the
    // timed region is shorter than the time budget
    var n = 0
    def orderOf(pass: Int) =
      if (pass == 0) ops else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
    var order = orderOf(0)
    while (n < ops.size || (secs(t0) < seconds && n < MaxOps)) {
      val pass = n / ops.size
      val i = n % ops.size
      if (i == 0) order = orderOf(pass)
      val name = order(i)
      val opId = n
      resetOpPlan()
      val cpu0 = processCpuNs()
      val o0 = System.nanoTime()
      var ok = true
      var callS, execS = 0.0
      val windowStart = tracer.map(_.now()).getOrElse(0L)
      span(name, opId) {
        try {
          val c0 = System.nanoTime()
          val df = span("call", opId)(fns(name)(spark, data))
          callS = secs(c0)
          val c1 = System.nanoTime()
          val rows = span("execute", opId)(df.collect())
          execS = secs(c1)
          if (pass == 0) outputs(name) = (df.schema, rows)
        } catch { case e: Throwable => ok = false; fail(name, e) }
        span("cache_clear", opId)(graft.Caches.clear())
      }
      val wall = secs(o0)
      val windowEnd = tracer.map(_.now()).getOrElse(0L)
      // every event of the op delivered: its task time is complete
      drain()
      val taskNow = clock.cpuNs.get()
      val cpu = cpuFigures(o0, System.nanoTime(), processCpuNs() - cpu0, taskNow - taskMark)
      taskMark = taskNow
      val planRec = tracer.map(t => t.plans.synchronized(opPlan(t.plans))).getOrElse(Map.empty)
      opRecs += Map("name" -> name, "pass" -> pass, "s" -> wall, "ok" -> ok,
        "call_s" -> callS, "execute_s" -> execS,
        "cache_clear_s" -> (wall - callS - execS),
        "window_ns" -> Seq(windowStart, windowEnd)) ++ cpu ++ planRec
      n += 1
    }
    val timedS = secs(t0)
    endTimed(task0)
    val heapEnd = heapMb()

    val checkDir = s"$work/check"
    outputs.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    val oracle = graft.SparkEntry.oracleSql
    Json.save(s"$checkDir/oracle_sql.json", ops.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    val windows = opRecs.map(r => r("window_ns").asInstanceOf[Seq[Long]]).map(w => (w(0), w(1))).toSeq
    Map(
      "timed_start_ms" -> timedStartMs,
      "timed_s" -> timedS,
      "warm_up_s" -> warm.toMap,
      "warm_rounds_s" -> warm.map(_._2),
      "ops" -> opRecs.toSeq,
      "heap_mb" -> math.max(heapWarm, heapEnd),
      "heap_samples_mb" -> Seq(heapWarm, heapEnd),
      "layers" -> tracer.map(t => layers(t, windows, timedS)),
      "spans" -> tracer.map(spanRows))
  }

  // planning totals at the current op's start, for per-op deltas
  private var opBase = (0L, 0L, 0L, 0L)
  private def resetOpPlan(): Unit = tracer.foreach { t =>
    val p = t.plans
    opBase = (p.analysisMs, p.optimizationMs, p.physicalMs, p.actions)
    p.opNodesMax = 0
  }
  private def opPlan(p: PlanTotals): Map[String, Any] = Map(
    "analysis_ms" -> (p.analysisMs - opBase._1),
    "optimization_ms" -> (p.optimizationMs - opBase._2),
    "physical_ms" -> (p.physicalMs - opBase._3),
    "actions" -> (p.actions - opBase._4),
    "plan_nodes_max" -> p.opNodesMax)

  // -- cdc_stream: a staged Debezium backlog through CdcPipeline ------------

  private val cdcTables = Seq(
    "orders_cow" -> MergeTable.CopyOnWrite,
    "orders_mor" -> MergeTable.MergeOnRead,
    "orders_dv" -> MergeTable.DeletionVectors)

  private def filesUnder(root: String): Seq[Path] =
    if (!Files.exists(Paths.get(root))) Nil
    else {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** A closed-loop producer in front of a running CdcPipeline stream:
    * it moves one generated file group into the watched directory,
    * waits until the stream has applied it, and only then moves the
    * next. The first `warm_triggers` groups are the untimed warm-up;
    * then groups follow until the timed region has lasted `seconds`,
    * two at least.
    */
  def cdcStream(): Map[String, Any] = {
    val root = s"$work/main"
    val staged = cfg.get("cdc_staged").asText()
    val in = cfg.get("cdc_in").asText()
    val available = cfg.get("groups").asInt()
    val warm = cfg.get("warm_triggers").asInt()
    Files.createDirectories(Paths.get(in))
    val configs = cdcTables.map { case (t, mode) =>
      TableConfig(db = "graftdb", table = t, primaryKey = Seq("id"),
        precombineKey = Some("seq"), writeMergeMode = mode)
    }
    val pipeline = new CdcPipeline(spark, df => Debezium.parse(df, "value"),
      s"$root/tables", configs, "graftdb")
    val applied = new java.util.concurrent.atomic.AtomicInteger
    // the same foreachBatch wiring as CdcPipeline.start, with spans
    // around the pipeline call and a cache clear after every trigger
    val q = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", cfg.get("files_per_group").asInt())
      .text(s"$in/*")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the stream thread carries the call site of start(); clear it
        // so each job's call site names the graft frame that ran it
        spark.sparkContext.clearCallSite()
        span("process_batch", id.toInt)(pipeline.processBatch(b, id))
        span("cache_clear", id.toInt)(graft.Caches.clear())
        applied.incrementAndGet()
        ()
      }
      .start()
    // stage group g and wait until the stream has applied it
    def feed(g: Int): Double = {
      val g0 = System.nanoTime()
      val name = f"g$g%04d"
      Files.move(Paths.get(staged, name), Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the directory before the move can end
      // the wait without the group: wait again until it is applied
      while (applied.get() <= g) {
        q.exception.foreach(e => throw e)
        q.processAllAvailable()
      }
      secs(g0)
    }
    val warmS = (0 until warm).map(feed)
    val heapWarm = heapMb()
    val (task0, timedStartMs) = beginTimed()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    // per timed trigger: JVM CPU-seconds and executor task CPU-seconds
    val perTrigger = mutable.ArrayBuffer.empty[Map[String, Any]]
    var g = warm
    // at least two timed triggers, so the median is not one sample
    while (g < available && (g < warm + 2 || secs(t0) < seconds)) {
      val c0 = processCpuNs()
      val k0 = clock.cpuNs.get()
      val w0 = System.nanoTime()
      val wall = feed(g)
      drain()
      perTrigger += Map("batch" -> g, "s" -> wall) ++
        cpuFigures(w0, System.nanoTime(), processCpuNs() - c0, clock.cpuNs.get() - k0)
      g += 1
    }
    val timedS = secs(t0)
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val taskS = endTimed(task0)
    q.stop()
    val heapEnd = heapMb()
    val progress = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

    val tables = cdcTables.map { case (t, mode) =>
      val troot = s"$root/tables/graftdb/$t"
      val df = new MergeTable(spark, troot, Seq("id"), mode).read()
      df.write.mode("overwrite").parquet(s"$work/check/$t")
      Map("table" -> t, "mode" -> mode, "rows" -> df.count(),
        "bytes" -> filesUnder(troot).map(Files.size).sum)
    }
    val triggers = progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> d)
    }
    val windows = triggers.filter(_("batch").asInstanceOf[Long] >= warm).map { t =>
      val s = t("start_ms").asInstanceOf[Long]
      (s * 1000000L, (s + t("duration_ms").asInstanceOf[Map[String, Long]]("triggerExecution")) * 1000000L)
    }
    Map(
      "timed_start_ms" -> timedStartMs,
      "timed_s" -> timedS,
      "task_s" -> taskS,
      "cpu_s" -> cpuS,
      "per_trigger" -> perTrigger.toSeq,
      "staged_groups" -> g,
      "warm_rounds_s" -> warmS,
      "triggers" -> triggers,
      "tables" -> tables,
      "heap_mb" -> math.max(heapWarm, heapEnd),
      "heap_samples_mb" -> Seq(heapWarm, heapEnd),
      "layers" -> tracer.map(t => layers(t, windows, timedS)),
      "spans" -> tracer.map(spanRows))
  }

  // -- per-layer record of the timed region (traced runs) -------------------

  private def spanRows(t: Tracer): Seq[Seq[Any]] =
    t.spans.toSeq.map(s => Seq(s.id, s.name, s.parent, s.op, s.start, s.end))

  /** Totals over the timed region. `windows` are the ops' [start, end]
    * in epoch ns; driver-only time is each op's wall minus the union of
    * the Spark job intervals inside it.
    */
  private def layers(t: Tracer, windows: Seq[(Long, Long)], wallS: Double): Map[String, Any] = t.synchronized {
    val stages = t.stages.values.filter(_.tasks > 0).toSeq
    def sum(f: StageRec => Long): Long = stages.map(f).sum
    val jobIv = t.jobs.values.filter(_.endMs >= 0).map(j => (j.startMs * 1000000L, j.endMs * 1000000L)).toSeq
    val driverOnlyNs = windows.map { case (a, b) => (b - a) - Tracer.unionWithin(jobIv, a, b) }.sum
    val taskS = sum(_.runMs) / 1000.0
    val mib = 1048576.0
    // task seconds and job counts per graft module / call site
    val byModule = stages.groupBy(s => Tracer.moduleOf(t.siteOfStage(s)))
      .map { case (m, ss) => m -> ss.map(_.runMs).sum / 1000.0 }
    val bySite = stages.groupBy(t.siteOfStage)
      .map { case (s, ss) => (if (s.isEmpty) "returned_frame" else s) -> ss.map(_.runMs).sum / 1000.0 }
    val spanNames = t.spans.map(s => s.id -> s).toMap
    val jobsBySpan = t.jobs.values.groupBy(j => spanNames.get(j.span).map(_.name).getOrElse("none"))
      .map { case (n, js) => n -> js.size }
    val p = t.plans
    Map(
      "wall_s" -> wallS,
      "planning.analysis_ms" -> p.analysisMs,
      "planning.optimization_ms" -> p.optimizationMs,
      "planning.physical_ms" -> p.physicalMs,
      "planning.actions" -> p.actions,
      "planning.plan_nodes_max" -> p.nodesMax,
      "planning.cached_relations_max" -> p.cachedMax,
      "spark.jobs" -> t.jobs.size,
      "spark.stages" -> stages.size,
      "spark.tasks" -> sum(_.tasks),
      "spark.driver_only_s" -> driverOnlyNs / 1e9,
      "executor.task_s" -> taskS,
      "executor.gc_s" -> sum(_.gcMs) / 1000.0,
      "executor.busy_ratio" -> taskS / (wallS * cores),
      "executor.shuffle_read_mb" -> sum(_.shuffleRead) / mib,
      "executor.shuffle_write_mb" -> sum(_.shuffleWrite) / mib,
      "executor.spill_mb" -> sum(_.spill) / mib,
      "executor.input_mb" -> sum(_.input) / mib,
      "executor.output_mb" -> sum(_.outBytes) / mib,
      "executor.output_rows" -> sum(_.outRecords),
      "task_s_by_module" -> byModule,
      "task_s_by_site" -> bySite,
      "jobs_by_span" -> jobsBySpan)
  }
}
