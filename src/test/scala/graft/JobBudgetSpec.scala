package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{count, lit, sum}

/** Spark jobs per action, counted from `SparkListenerJobStart` events.
  * At batch size a job costs more than its data (tens of ms of CPU
  * outside the tasks for a trivial action), so the job counts of the
  * costliest corpus ops are pinned here. The listener bus is drained
  * before the count is read, so every job of the body has been
  * delivered.
  */
class JobBudgetSpec extends SparkSpec {
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("Caches.materialize fills and probes a 4-partition frame in one job") {
    var total = 0L
    val n = jobs {
      total = Caches.materialize(spark.range(0, 1000, 1, 4).toDF(), count(lit(1)), sum("id"))
        ._2.getLong(1)
    }
    Caches.clear()
    assert(total === 999L * 1000 / 2)
    assert(n === 1)
  }

  // budgets are the job counts of a second run at sf0.001 (the first
  // also lists files and reads footers)
  for ((op, budget) <- Seq("graph_kcore" -> 11, "docs_bm25_search" -> 6))
    test(s"registry op $op runs at most $budget Spark jobs") {
      def run(): Unit = {
        SparkEntry.queries(op)(spark, sfDir).collect()
        Caches.clear()
      }
      run()
      val n = jobs(run())
      assert(n <= budget, s"$op ran $n jobs")
    }
}
