package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{count, lit, sum}

/** Spark jobs per action, counted from `SparkListenerJobStart` events,
  * and SQL executions that ran no job. At batch size a job costs more
  * than its data (tens of ms of CPU outside the tasks for a trivial
  * action), and an execution that moves no data still plans a whole
  * query, so the counts of the costliest corpus ops are pinned here.
  * The listener bus is drained before the counts are read, so every
  * event of the body has been delivered.
  */
class JobBudgetSpec extends SparkSpec {
  /** (jobs, SQL executions none of whose jobs ran) of `body`. */
  private def jobs(body: => Unit): (Int, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val withJob = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => withJob.add(id.toLong))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.executionId)
        case _ =>
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    started.removeAll(withJob)
    (n.get, started.size)
  }

  test("Caches.materialize fills and probes a 4-partition frame in one job") {
    var total = 0L
    val (n, idle) = jobs {
      total = Caches.materialize(spark.range(0, 1000, 1, 4).toDF(), count(lit(1)), sum("id"))
        ._2.getLong(1)
    }
    Caches.clear()
    assert(total === 999L * 1000 / 2)
    assert(n === 1)
    assert(idle === 0)
  }

  test("Caches.materialize fills a frame with an exchange inside in one job") {
    var total = 0L
    val (n, idle) = jobs {
      total = Caches.materialize(spark.range(0, 1000, 1, 4).toDF().repartition(3),
        count(lit(1)), sum("id"))._2.getLong(1)
    }
    Caches.clear()
    assert(total === 999L * 1000 / 2)
    assert(n === 1)
    assert(idle === 0)
  }

  // budgets are the job counts of a second run at sf0.001 (the first
  // also lists files and reads footers)
  for ((op, budget) <- Seq("graph_kcore" -> 5, "graph_kcore_fixpoint" -> 5,
      "docs_bm25_search" -> 2, "search_hybrid_rrf" -> 7, "dedup_minhash_lsh" -> 6))
    test(s"registry op $op runs at most $budget Spark jobs") {
      def run(): Unit = {
        SparkEntry.queries(op)(spark, sfDir).collect()
        Caches.clear()
      }
      run()
      val (n, idle) = jobs(run())
      info(s"$op: $n jobs, $idle executions without a job")
      assert(n <= budget, s"$op ran $n jobs")
      assert(idle === 0, s"$op started $idle SQL executions that ran no job")
    }
}
