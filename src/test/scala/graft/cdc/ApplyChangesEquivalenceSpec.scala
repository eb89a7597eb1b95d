package graft.cdc

import graft.SparkSpec
import graft.sources.MergeTableSink
import graft.streaming.CdcPipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** One change batch lands in ONE commit per table, on every write mode
  * and layout, with exactly the outcome of the old two-commit
  * (upsert, then delete) apply. Batches are randomized per seed; each
  * mixes inserts, updates and deletes, a key both upserted and
  * deleted, and a delete-then-reinsert.
  */
class ApplyChangesEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private final case class Ev(op: String, id: Long, v: String, p: Int, ts: Long)
  private type State = Map[Long, (String, Int)]

  // (mode, buckets, partition cols): deletion vectors don't compose
  // with value partitioning
  private val layouts: Seq[(String, Option[Int], Seq[String])] = for {
    mode <- Seq(MergeTable.CopyOnWrite, MergeTable.MergeOnRead, MergeTable.DeletionVectors)
    (buckets, parts) <- Seq((None, Nil), (Some(4), Nil), (None, Seq("p")), (Some(4), Seq("p")))
    if mode != MergeTable.DeletionVectors || parts.isEmpty
  } yield (mode, buckets, parts)

  private def fresh(name: String): String = {
    val root = s"target/test_tmp/applyeq_$name"
    MergeTable.drop(root)
    root
  }

  private def tag(mode: String, buckets: Option[Int], parts: Seq[String]): String =
    s"$mode " + ((buckets, parts) match {
      case (None, Nil) => "flat"
      case (Some(_), Nil) => "bucketed"
      case (None, _) => "partitioned"
      case _ => "composed"
    })

  /** Randomized batches over a small key space: fresh inserts (which
    * always survive), updates and deletes of live keys, deletes of
    * absent keys, a key updated then deleted, a key deleted then
    * re-inserted, and same-key inserts outranked by an update.
    */
  private def batches(seed: Int, n: Int): Seq[Seq[Ev]] = {
    val rnd = new Random(seed)
    var ts = 0L
    var next = 0L
    def ev(op: String, id: Long): Ev = {
      ts += 1
      Ev(op, id, s"$op$id@$ts", rnd.nextInt(3), ts)
    }
    (0 until n).map { _ =>
      val live = (0L until next).filter(_ => rnd.nextBoolean())
      val fresh = (0 until 3 + rnd.nextInt(3)).map { _ => next += 1; next - 1 }
      val evs = Seq.newBuilder[Ev]
      fresh.foreach(k => evs += ev("I", k))
      live.foreach { k =>
        rnd.nextInt(5) match {
          case 0 => evs += ev("U", k)
          case 1 => evs += ev("D", k)
          case 2 => evs += ev("U", k); evs += ev("D", k) // upserted and deleted
          case 3 => evs += ev("D", k); evs += ev("I", k) // delete, then re-insert
          case _ => evs += ev("I", k); evs += ev("U", k); evs += ev("I", k)
        }
      }
      evs += ev("D", next + 100) // a key that never existed
      rnd.shuffle(evs.result())
    }
  }

  /** The old applyChanges: inserts ∪ upserts precombined (an update
    * outranks an insert, then the later event wins), upserted; then
    * every deleted key removed.
    */
  private def foldApply(s: State, b: Seq[Ev]): State = {
    val merged = b.filter(e => e.op != "D").groupBy(_.id).map { case (id, es) =>
      val w = es.maxBy(e => (if (e.op == "U") 1 else 0, e.ts))
      id -> (w.v, w.p)
    }
    (s ++ merged) -- b.filter(_.op == "D").map(_.id)
  }

  /** The sink's changes mode: each key's latest event decides. */
  private def foldFinal(s: State, b: Seq[Ev]): State =
    b.groupBy(_.id).foldLeft(s) { case (acc, (id, es)) =>
      val w = es.maxBy(_.ts)
      if (w.op == "D") acc - id else acc + (id -> (w.v, w.p))
    }

  private def frame(b: Seq[Ev]): DataFrame =
    b.map(e => (e.op, e.id, e.v, e.p, e.ts)).toDF("opclass", "id", "v", "p", "ts_ms")

  private def state(t: MergeTable): State =
    t.read().select(col("id"), col("v"), col("p").cast("int")).as[(Long, String, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  private def table(root: String, mode: String, buckets: Option[Int], parts: Seq[String]) =
    // no auto-compaction, so every version is one apply's commit
    new MergeTable(spark, root, Seq("id"), mode, buckets, maxDeltas = 1000,
      partitionCols = parts)

  layouts.foreach { case (mode, buckets, parts) =>
    test(s"applyChanges equals the two-commit fold in one commit: ${tag(mode, buckets, parts)}") {
      val root = fresh(s"ac_${tag(mode, buckets, parts).replace(' ', '_')}")
      val t = table(root, mode, buckets, parts)
      val bs = batches(seed = 7 + buckets.getOrElse(0) + parts.size, n = 3)
      var expect: State = Map.empty
      bs.foreach { b =>
        val before = t.versions().size
        t.applyChanges(frame(b), ordering = Seq("ts_ms"))
        expect = foldApply(expect, b)
        assert(t.versions().size === before + 1, "one commit per batch")
        assert(state(t) === expect)
      }
      assert(t.history().map(_._5).drop(1).forall(_ == "apply-changes"))
      // foreachBatch is at-least-once: a replayed batch converges
      t.applyChanges(frame(bs.last), ordering = Seq("ts_ms"))
      assert(state(t) === expect)
    }

    test(s"sink changes mode folds each key's final event in one commit: ${tag(mode, buckets, parts)}") {
      val root = fresh(s"sink_${tag(mode, buckets, parts).replace(' ', '_')}")
      val sink = new MergeTableSink(root, Seq("id"), mode, buckets, "changes",
        Seq("ts_ms"), parts)
      val t = table(root, mode, buckets, parts)
      val bs = batches(seed = 11 + buckets.getOrElse(0) + parts.size, n = 3)
      var expect: State = Map.empty
      bs.zipWithIndex.foreach { case (b, i) =>
        val before = t.versions().size
        sink.addBatch(i, frame(b))
        expect = foldFinal(expect, b)
        assert(t.versions().size === before + 1, "one commit per batch")
        assert(state(t) === expect)
      }
      sink.addBatch(bs.size - 1, frame(bs.last))
      assert(state(t) === expect)
    }
  }

  test("a 3-table CdcPipeline trigger makes exactly one commit per table") {
    val root = fresh("pipeline")
    val modes = Seq("t_cow" -> MergeTable.CopyOnWrite, "t_mor" -> MergeTable.MergeOnRead,
      "t_dv" -> MergeTable.DeletionVectors)
    val pipeline = new CdcPipeline(spark, df => Debezium.parse(df, "value"),
      s"$root/tables",
      modes.map { case (tbl, mode) =>
        TableConfig(db = "graftdb", table = tbl, primaryKey = Seq("id"), writeMergeMode = mode)
      },
      "graftdb")
    def envelopes(b: Seq[Ev]): DataFrame = {
      val perTable = modes.map(_._1).map { tbl =>
        frame(b).select(
          when(col("opclass") === "I", "c").when(col("opclass") === "U", "u")
            .otherwise("d").as("op"),
          to_json(struct(col("id"), col("v"), col("p"))).as("img"),
          col("ts_ms"), lit(tbl).as("tbl"))
      }.reduce(_.union(_))
      perTable.select(to_json(struct(
        when(col("op") === "d", col("img")).as("before"),
        when(col("op") =!= "d", col("img")).as("after"),
        to_json(struct(lit("graftdb").as("db"), col("tbl").as("table"))).as("source"),
        col("op"), col("ts_ms"))).as("value"))
    }
    var expect: State = Map.empty
    batches(seed = 3, n = 2).zipWithIndex.foreach { case (b, i) =>
      val tables = modes.map { case (tbl, mode) =>
        new MergeTable(spark, s"$root/tables/graftdb/$tbl", Seq("id"), mode)
      }
      val before = tables.map(_.versions().size)
      pipeline.processBatch(envelopes(b), i.toLong)
      expect = foldApply(expect, b)
      assert(tables.map(_.versions().size) === before.map(_ + 1))
      tables.foreach(t => assert(state(t) === expect, t.root))
    }
  }

  test("the summary's key relation holds each binary key once") {
    val root = fresh("binkeys")
    val t = new MergeTable(spark, root, Seq("k"))
    val rows = Seq((Array[Byte](1, 2), "a"), (Array[Byte](3), "b")).toDF("k", "v")
    // [1,2] lands AND is dropped; [4] is dropped twice
    val drops = Seq(Array[Byte](1, 2), Array[Byte](4), Array[Byte](4)).toDF("k")
    assert(t.summaryKeyCount(rows, drops) === Some(3L))
    // and the binary-keyed write path applies by content
    t.upsert(rows)
    t.applyChanges(Seq(("U", Array[Byte](3), "B", 2L), ("D", Array[Byte](1, 2), "", 2L))
      .toDF("opclass", "k", "v", "ts_ms"), ordering = Seq("ts_ms"))
    val got = t.read().as[(Array[Byte], String)].collect().map { case (k, v) => k.toSeq -> v }
    assert(got.toSeq === Seq(Seq[Byte](3) -> "B"))
  }

  test("statsRowCount declines a dir that lists no parquet files") {
    val root = fresh("emptylisting")
    val t = new MergeTable(spark, root, Seq("id"))
    t.upsert(Seq((1L, "a")).toDF("id", "v"))
    val dir = t.entriesAtVersion(t.versions().last).head._2
    assert(t.statsRowCount(dir) === Some(1L)) // served from the footer stats
    // the stats survive, the listing comes back empty: that proves
    // nothing about the rows, so the caller must count
    val files = Files.list(Paths.get(root, "data", dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    files.filter(_.toString.endsWith(".parquet")).foreach(Files.delete)
    assert(FileStats.readFull(Paths.get(root), dir).exists(_.nonEmpty))
    assert(t.statsRowCount(dir) === None)
  }
}
