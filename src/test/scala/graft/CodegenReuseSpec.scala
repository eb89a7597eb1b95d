package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, sum}

/** Generated code is compiled once and then served from Spark's
  * codegen cache, which `GraftSession.builder` sizes to graft's working
  * set. Compiles are counted with the JVM-wide
  * janino timer, which records one sample per cache miss on the planning
  * thread or an executor thread.
  */
class CodegenReuseSpec extends SparkSpec {
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("80 distinct plans compile once: the cache outgrows Spark's default") {
    // each plan inlines `i` into both of its whole-stage classes (the
    // partial aggregate and the final one), and each class takes one
    // entry under the planning thread's class loader and one under the
    // executor's: 320 entries, past the default of 100
    def pass(): Unit = (1 to 80).foreach { i =>
      spark.range(0, 64, 1, 2).select((col("id") * i).as("x"))
        .filter(col("x") % (i + 1) === 0)
        .agg((sum("x") + lit(i)).as("s")).collect()
    }
    val first = compiles(pass())
    assert(first > 100, s"the first pass should overflow a 100-entry cache, compiled $first")
    assert(compiles(pass()) === 0)
  }

  // graft's own plans inline no per-run literal into generated code,
  // AQE's run-dependent stage numbering stays out of the class names,
  // and a cache fill (kcore's edge cache) compiles under the same
  // executor class loader every time
  for (op <- Seq("docs_bm25_search", "graph_kcore"))
    test(s"registry op $op compiles nothing on its second run") {
      def run(): Unit = {
        SparkEntry.queries(op)(spark, sfDir).collect()
        Caches.clear()
      }
      run()
      assert(compiles(run()) === 0)
    }
}
