package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The distributed prefix-sum operator, focused on the fused
  * multi-value form added in r16: N running totals over one
  * (group, order) must equal N chained single-value passes — same
  * values, one range shuffle instead of N.
  */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  private def frame() = (1 to 1000)
    .map(i => (i % 7, i, (i % 13).toLong, 1L))
    .toDF("g", "ord", "v", "one")

  test("fused runningTotals equals chained runningTotal calls") {
    val df = frame()
    val fused = PrefixSum.runningTotals(df, "g", Seq("ord"),
      Seq("v" -> "cv", "one" -> "rn"))
      .select("g", "ord", "cv", "rn").collect().map(_.toSeq).toSet
    val chained = PrefixSum.runningTotal(
      PrefixSum.runningTotal(df, "g", Seq("ord"), "v", "cv"),
      "g", Seq("ord"), "one", "rn")
      .select("g", "ord", "cv", "rn").collect().map(_.toSeq).toSet
    graft.Caches.clear()
    assert(fused == chained)
    assert(fused.size == 1000)
  }

  test("running totals match the window formulation per group") {
    val df = frame()
    val got = PrefixSum.runningTotals(df, "g", Seq("ord"),
      Seq("v" -> "cv", "one" -> "rn"))
      .select("g", "ord", "cv", "rn").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    graft.Caches.clear()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expect = df.select(col("g"), col("ord"),
        sum("v").over(w).as("cv"), sum("one").over(w).as("rn"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
  }

  test("global variant indexes every row exactly once") {
    val df = frame()
    val got = PrefixSum.runningTotalGlobal(df, Seq("ord"), "one", "i")
      .select("i").collect().map(_.getLong(0)).toSeq.sorted
    graft.Caches.clear()
    assert(got == (1L to 1000L))
  }

  test("an all-null value column totals 0 instead of failing") {
    val df = (1 to 200).map(i => (i % 3, i, Option.empty[Long], Option(i.toLong).filter(_ % 2 == 0)))
      .toDF("g", "ord", "v", "w")
    val got = PrefixSum.runningTotals(df, "g", Seq("ord"), Seq("v" -> "cv", "w" -> "cw"))
      .select("g", "ord", "cv", "cw").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    graft.Caches.clear()
    assert(got.size == 200)
    assert(got.values.forall(_._1 == 0L))
    // nulls interleaved with values add 0: the window sum over the non-null ones
    val expect = (1 to 200).map { i =>
      (i % 3, i) -> (1 to i).filter(j => j % 3 == i % 3 && j % 2 == 0).map(_.toLong).sum
    }.toMap
    assert(got.map { case (k, v) => k -> v._2 } == expect)
  }

  test("too many (partition, group) subtotals are refused before the driver holds them") {
    val df = frame()
    val e = intercept[IllegalArgumentException] {
      PrefixSum.runningTotals(df, "g", Seq("ord"), Seq("v" -> "cv"), maxSubtotals = 6)
    }
    graft.Caches.clear()
    assert(e.getMessage.contains("subtotals"))
    // 7 groups fit a cap of |groups| + P
    val ok = PrefixSum.runningTotals(df, "g", Seq("ord"), Seq("v" -> "cv"), maxSubtotals = 7 + 4)
      .count()
    graft.Caches.clear()
    assert(ok == 1000)
  }
}
