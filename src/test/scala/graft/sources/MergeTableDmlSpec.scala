package graft.sources

import graft.SparkSpec
import graft.cdc.MergeTable

class MergeTableDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): (String, MergeTable) = {
    val root = s"target/test_tables/dml_$name"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
      initial = Some(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "name", "v")))
    (root, t)
  }

  private def view(root: String, name: String): Unit =
    spark.read.format("mergetable").option("path", root).load()
      .createOrReplaceTempView(name)

  test("MERGE USING an inline subquery source (multi-iteration resolution)") {
    // an inline UNION source leaves the ON clause unresolved for one
    // extra analyzer pass; the rule must wait for it instead of
    // mis-judging `'t.id = 's.id` (regression: UnresolvedAttribute IS
    // an Attribute, so the premature side checks all read false and
    // the merge was rejected as a non-key condition)
    val (_, t) = freshTable("merge_subquery")
    view(t.root, "dml_subq_target")
    spark.sql("""MERGE INTO dml_subq_target t USING
                 (SELECT 2L AS id, 'B' AS name, 200L AS v
                  UNION ALL SELECT 4L, 'd', 40L) s
                 ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("SQL MERGE INTO: UPDATE SET * / INSERT * is a transactional upsert") {
    val (root, t) = freshTable("merge_upsert")
    view(root, "dml_target")
    Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("MERGE with a source key WIDER than the target key fails loudly") {
    val root = "target/test_tables/dml_narrow_key"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
      initial = Some(Seq((1, "a")).toDF("id", "name"))) // id: INT
    view(root, "dml_target")
    // 2^31 is out of int range: narrowing it through a plain Cast
    // would silently wrap to Int.MinValue and upsert a key the
    // statement never named — the engine must reject, not wrap
    Seq((2147483648L, "x")).toDF("id", "name")
      .createOrReplaceTempView("dml_source")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("wider"), e.getMessage)
    assert(t.read().count() === 1, "the rejected MERGE must not write")
  }

  test("MERGE with equal-width keys up-cast on BOTH sides still upserts") {
    val root = "target/test_tables/dml_bothcast_key"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
      initial = Some(Seq((1, "a")).toDF("id", "name"))) // id: INT
    view(root, "dml_target")
    // user-written widening casts on BOTH sides: nothing narrows
    // (both keys are INT), so the keyed upsert must accept — the
    // width check judges the attribute types under the casts, not
    // which side carries a cast
    Seq((1, "A"), (2, "b")).toDF("id", "name")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s
        |ON CAST(t.id AS BIGINT) = CAST(s.id AS BIGINT)
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "A"), (2, "b")))
  }

  test("MERGE with a source key NARROWER than the target key still upserts") {
    val root = "target/test_tables/dml_widen_key"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
      initial = Some(Seq((1L, "a")).toDF("id", "name"))) // id: BIGINT
    view(root, "dml_target")
    // analyzer widens the SOURCE side (t.id = CAST(s.id AS BIGINT)) —
    // injective, so the fast keyed-upsert path still applies
    Seq((1, "A"), (2, "b")).toDF("id", "name")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "A"), (2L, "b")))
  }

  test("SQL MERGE INTO: WHEN MATCHED THEN DELETE removes matched keys") {
    val (root, t) = freshTable("merge_delete")
    view(root, "dml_target")
    Seq(Tuple1(2L), Tuple1(9L)).toDF("id").createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (3L, "c", 30L)))
  }

  test("SQL MERGE INTO: insert-only merge adds only new keys") {
    val (root, t) = freshTable("merge_insert_only")
    view(root, "dml_target")
    Seq((2L, "CHANGED", 999L), (5L, "e", 50L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (5L, "e", 50L)))
  }

  test("SQL DELETE FROM with predicate deletes matching rows' keys") {
    val (root, t) = freshTable("delete_where")
    view(root, "dml_target")
    spark.sql("DELETE FROM dml_target WHERE v >= 20 AND name <> 'c'")
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (3L, "c", 30L)))
  }

  test("SQL UPDATE with WHERE rewrites only matching rows, read-modify SET") {
    val (root, t) = freshTable("update_where")
    view(root, "dml_target")
    spark.sql("UPDATE dml_target SET v = v + 5, name = 'up' WHERE id >= 2")
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "up", 25L), (3L, "up", 35L)))
  }

  test("SQL UPDATE without WHERE touches every row; other columns pass through") {
    val (root, t) = freshTable("update_all")
    view(root, "dml_target")
    spark.sql("UPDATE dml_target SET v = v * 2")
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 20L), (2L, "b", 40L), (3L, "c", 60L)))
  }

  test("SQL UPDATE of a primary-key column is rejected loudly") {
    val (root, _) = freshTable("update_pk")
    view(root, "dml_target")
    val e = intercept[Exception](spark.sql("UPDATE dml_target SET id = id + 1"))
    assert(e.getMessage.contains("primary-key"))
  }

  test("SQL UPDATE with duplicate SET assignments is rejected loudly") {
    val (root, _) = freshTable("update_dup_set")
    view(root, "dml_target")
    val e = intercept[Exception](
      spark.sql("UPDATE dml_target SET v = 1, v = 2"))
    assert(e.getMessage.contains("duplicate SET"))
  }

  test("SQL UPDATE matching no rows is a committed no-op") {
    val (root, t) = freshTable("update_none")
    view(root, "dml_target")
    spark.sql("UPDATE dml_target SET v = 0 WHERE id > 100")
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("partial SET updates only the assigned column; INSERT * adds new keys") {
    val (root, t) = freshTable("merge_partial")
    view(root, "dml_target")
    Seq((2L, "IGNORED", 100L), (4L, "d", 40L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + 1
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
    // id 2: v from the SET expression, name kept from the TARGET;
    // id 4: whole row inserted from the source
    assert(out === Seq((1L, "a", 10L), (2L, "b", 101L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("partial SET without an insert clause leaves unmatched source rows out") {
    val (root, t) = freshTable("merge_partial_noins")
    view(root, "dml_target")
    Seq((3L, "x", 300L), (9L, "z", 900L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = upper(s.name)""".stripMargin)
    val out = t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "X", 30L)))
  }

  test("identity assignment on a subset of columns is partial, not star") {
    val (root, t) = freshTable("merge_partial_identity")
    view(root, "dml_target")
    Seq((2L, "SHOULD_NOT_LAND", 222L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    // `SET v = s.v` on a 3-column table must keep the target's name
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val out = t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "a", 10L), (2L, "b", 222L), (3L, "c", 30L)))
  }

  test("SET value may reference the target side (read-modify-write)") {
    val (root, t) = freshTable("merge_rmw")
    view(root, "dml_target")
    Seq((2L, "B", 7L), (3L, "C", 1L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "b", 27L), (3L, "c", 31L)))
  }

  test("conditional clauses: the CDC delete-flag MERGE form") {
    val (root, t) = freshTable("merge_cdc_flag")
    view(root, "dml_target")
    // op D → delete; otherwise upsert; never insert a bare delete
    Seq((1L, "A1", 100L, "U"), (2L, "gone", 0L, "D"),
        (4L, "d", 40L, "U"), (5L, "never", 0L, "D"))
      .toDF("id", "name", "v", "op").createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET name = s.name, v = s.v
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, name, v)
        |  VALUES (s.id, s.name, s.v)""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "A1", 100L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("first matching clause wins when conditions overlap") {
    val (root, t) = freshTable("merge_first_match")
    view(root, "dml_target")
    Seq((2L, "both", 200L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    // both conditions true for id=2 — the first clause must claim it
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED AND s.v > 100 THEN UPDATE SET v = s.v
        |WHEN MATCHED AND s.v > 0 THEN DELETE""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "b", 200L), (3L, "c", 30L)))
  }

  test("conditional merge with a composite primary key") {
    val root = "target/test_tables/dml_cond_multikey"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("a", "b"),
      initial = Some(Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L))
        .toDF("a", "b", "v")))
    spark.read.format("mergetable").option("path", root).load()
      .createOrReplaceTempView("mk_target")
    Seq((1L, "x", 5L, "U"), (1L, "y", 0L, "D"), (3L, "z", 99L, "U"))
      .toDF("a", "b", "v", "op").createOrReplaceTempView("mk_source")
    spark.sql(
      """MERGE INTO mk_target t USING mk_source s
        |ON t.a = s.a AND t.b = s.b
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        |WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (a, b, v) VALUES (s.a, s.b, s.v)""".stripMargin)
    assert(t.read().orderBy("a", "b").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "x", 15L), (2L, "x", 30L), (3L, "z", 99L)))
  }

  test("general MERGE lands update, delete and insert in ONE commit") {
    // matched update + matched delete + not-matched insert: the keys
    // are disjoint, so one replace step lands them; a twin table
    // replays the former two-commit form (upsert, then delete)
    val layouts = Seq(
      ("one_cow", MergeTable.CopyOnWrite, None, Nil),
      ("one_mor", MergeTable.MergeOnRead, None, Nil),
      ("one_dv", MergeTable.DeletionVectors, None, Nil),
      ("one_bucketed", MergeTable.CopyOnWrite, Some(4), Nil),
      ("one_partitioned", MergeTable.CopyOnWrite, None, Seq("name")))
    val init = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    Seq((1L, "A1", 100L, "U"), (2L, "x", 0L, "D"), (4L, "d", 40L, "U"))
      .toDF("id", "name", "v", "op").createOrReplaceTempView("one_src")
    for ((name, mode, buckets, partitions) <- layouts) {
      def table(suffix: String): MergeTable = {
        val root = s"target/test_tables/dml_${name}_$suffix"
        MergeTable.drop(root)
        MergeTable.createIfAbsent(spark, root, Seq("id"),
          initial = Some(init.toDF("id", "name", "v")),
          mode = mode, numBuckets = buckets, partitionCols = partitions)
      }
      val t = table("sql")
      val before = t.versions().size
      view(t.root, "one_target")
      spark.sql(
        """MERGE INTO one_target t USING one_src s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET name = s.name, v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, name, v)
          |  VALUES (s.id, s.name, s.v)""".stripMargin)
      assert(t.versions().size === before + 1, name)
      assert(t.history().last._5 === "merge", name)
      val twin = table("twin")
      twin.upsert(Seq((1L, "A1", 100L), (4L, "d", 40L)).toDF("id", "name", "v"))
      twin.delete(Seq(2L).toDF("id"))
      def rows(m: MergeTable) = m.read().select("id", "name", "v")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(rows(t) === rows(twin), name)
      assert(rows(t) === Seq((1L, "A1", 100L), (3L, "c", 30L), (4L, "d", 40L)), name)
    }
  }

  test("general merge compiles to ONE join — no branch-per-clause union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
    val (root, _) = freshTable("merge_one_join")
    view(root, "dml_target")
    Seq((2L, "B", 200L, "U")).toDF("id", "name", "v", "op")
      .createOrReplaceTempView("dml_source")
    val parsed = spark.sessionState.sqlParser.parsePlan(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, name, v)
        |  VALUES (s.id, s.name, s.v)""".stripMargin)
    val analyzed = spark.sessionState.analyzer.execute(parsed)
    val cmd = analyzed.collectFirst { case c: MergeTableDmlCommand => c }
    assert(cmd.isDefined, s"expected MergeTableDmlCommand, got:\n${analyzed.treeString}")
    def count(p: LogicalPlan)(f: PartialFunction[LogicalPlan, Boolean]): Int =
      p.collect(f).size
    // the target is scanned once: one join, no union of per-clause
    // branches (which would re-scan the table per clause group)
    assert(count(cmd.get.source) { case _: Join => true } === 1)
    assert(count(cmd.get.source) { case _: Union => true } === 0)
  }

  test("WHEN NOT MATCHED BY SOURCE updates and deletes unmatched target rows") {
    val (root, t) = freshTable("merge_nmbs")
    view(root, "dml_target")
    Seq((2L, "B", 200L)).toDF("id", "name", "v")
      .createOrReplaceTempView("dml_source")
    // full sync: matched keys take the source row, absent keys with
    // small v are dropped, other absent keys get flagged
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'stale'""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((2L, "B", 200L), (3L, "stale", 30L)))
  }

  test("unsupported MERGE shapes fail loudly, not silently") {
    val (root, _) = freshTable("merge_bad")
    view(root, "dml_target")
    Seq((2L, "B", 200L)).toDF("id", "name", "v").createOrReplaceTempView("dml_source")
    // non-PK merge condition
    val e1 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.name = s.name
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(e1.getMessage.contains("primary key"), e1.getMessage)
    // SET of a primary-key column
    val e2 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = s.id + 1""".stripMargin))
    assert(e2.getMessage.contains("primary-key"), e2.getMessage)
    // INSERT that skips a primary-key column
    val e3 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (name, v) VALUES (s.name, s.v)""".stripMargin))
    assert(e3.getMessage.contains("primary-key"), e3.getMessage)
    // NOT MATCHED clause referencing the target side (null after the
    // outer join — must fail, not silently evaluate)
    val e4 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN NOT MATCHED AND t.v > 0 THEN INSERT *""".stripMargin))
    assert(e4.getMessage.contains("other side"), e4.getMessage)
    // NOT MATCHED BY SOURCE clause referencing the source side
    val e5 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE""".stripMargin))
    assert(e5.getMessage.contains("other side"), e5.getMessage)
    // a same-side merge condition names the PK but is a cartesian
    // match under ANSI — must be rejected, not run as a keyed upsert
    val e6 = intercept[Exception](spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = t.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(e6.getMessage.contains("target and source"), e6.getMessage)
  }

  test("extra source columns do not widen the target through MERGE") {
    val (root, t) = freshTable("merge_no_widen")
    view(root, "dml_target")
    Seq((2L, "B", 200L, "EXTRA")).toDF("id", "name", "v", "surplus")
      .createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // ANSI MERGE writes the target's columns; the source-only column
    // must not evolve the table schema through the fast-path upsert
    assert(t.read().columns.toSeq === Seq("id", "name", "v"))
    assert(t.read().orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L)))
  }

  test("SQL MERGE INTO a merge-on-read table goes through the delta path") {
    val root = "target/test_tables/dml_mor"
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
      initial = Some(Seq((1L, 10L), (2L, 20L)).toDF("id", "v")),
      mode = MergeTable.MergeOnRead)
    spark.read.format("mergetable").option("path", root)
      .option("keys", "id").option("mode", MergeTable.MergeOnRead).load()
      .createOrReplaceTempView("dml_target")
    Seq((2L, 200L), (3L, 30L)).toDF("id", "v").createOrReplaceTempView("dml_source")
    spark.sql(
      """MERGE INTO dml_target t USING dml_source s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().orderBy("id").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 200L), (3L, 30L)))
    // the SQL write appended a delta, it did not rewrite the base
    assert(t.versions().size === 2)
  }

  test("randomized MERGE/UPDATE/DELETE sequences match a model across layouts") {
    // model-based fuzz of the DML surface (the MergeTableModelSpec
    // pattern applied to SQL verbs): random clause sets and
    // predicates driven through spark.sql must keep the table equal
    // to a trivial in-memory replay — across COW, MOR, bucketed COW
    // and deletion-vector layouts. Fixed seed keeps failures
    // reproducible.
    val rnd = new scala.util.Random(81405L)
    val layouts = Seq(
      ("fz_cow", MergeTable.CopyOnWrite, None, Nil),
      ("fz_mor", MergeTable.MergeOnRead, None, Nil),
      ("fz_bucketed", MergeTable.CopyOnWrite, Some(4), Nil),
      ("fz_dv", MergeTable.DeletionVectors, None, Nil),
      // partitioned by `name`, which the ops mutate constantly —
      // every partial-SET and star merge exercises partition moves
      ("fz_partitioned", MergeTable.CopyOnWrite, None, Seq("name")))
    for ((name, mode, buckets, partitions) <- layouts) {
      val root = s"target/test_tables/dml_$name"
      MergeTable.drop(root)
      val init = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      val t = MergeTable.createIfAbsent(spark, root, Seq("id"),
        initial = Some(init.toDF("id", "name", "v")),
        mode = mode, numBuckets = buckets, partitionCols = partitions)
      var model: Map[Long, (String, Long)] =
        init.map(r => r._1 -> ((r._2, r._3))).toMap
      def srcRows(): Seq[(Long, String, Long)] =
        Seq.fill(1 + rnd.nextInt(4))(rnd.nextLong(12L)).distinct
          .map(k => (k, s"n${rnd.nextInt(5)}", rnd.nextLong(50L)))
      for (step <- 1 to 12) {
        view(root, "fuzz_target")
        rnd.nextInt(5) match {
          case 0 => // full star upsert
            val rows = srcRows()
            rows.toDF("id", "name", "v").createOrReplaceTempView("fuzz_src")
            spark.sql(
              """MERGE INTO fuzz_target t USING fuzz_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            model ++= rows.map(r => r._1 -> ((r._2, r._3)))
          case 1 => // conditional clauses: read-modify update, else delete
            val cut = rnd.nextLong(45L)
            val rows = srcRows()
            rows.toDF("id", "name", "v").createOrReplaceTempView("fuzz_src")
            spark.sql(
              s"""MERGE INTO fuzz_target t USING fuzz_src s ON t.id = s.id
                 |WHEN MATCHED AND t.v < $cut THEN UPDATE SET v = t.v + s.v
                 |WHEN MATCHED THEN DELETE
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            model = rows.foldLeft(model) { case (m, (k, sn, sv)) =>
              m.get(k) match {
                case Some((tn, tv)) if tv < cut => m + (k -> ((tn, tv + sv)))
                case Some(_) => m - k
                case None => m + (k -> ((sn, sv)))
              }
            }
          case 2 => // partial-SET merge: only name changes on match
            val rows = srcRows()
            rows.toDF("id", "name", "v").createOrReplaceTempView("fuzz_src")
            spark.sql(
              """MERGE INTO fuzz_target t USING fuzz_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET name = s.name
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            model = rows.foldLeft(model) { case (m, (k, sn, sv)) =>
              m.get(k) match {
                case Some((_, tv)) => m + (k -> ((sn, tv)))
                case None => m + (k -> ((sn, sv)))
              }
            }
          case 3 => // self-referencing UPDATE under a random predicate
            val d = 1 + rnd.nextInt(7)
            val add = 1 + rnd.nextInt(9)
            spark.sql(s"UPDATE fuzz_target SET v = v + $add, " +
              s"name = concat(name, 'u') WHERE v % $d = 0")
            model = model.map { case (k, (n, v)) =>
              if (v % d == 0) k -> ((n + "u", v + add)) else k -> ((n, v))
            }
          case 4 => // predicate DELETE; skipped when it would empty the table
            val c = rnd.nextLong(60L)
            val par = rnd.nextInt(2)
            val doomed = model.filter { case (k, (_, v)) => v > c && k % 2 == par }
            if (doomed.size < model.size) {
              spark.sql(s"DELETE FROM fuzz_target WHERE v > $c AND id % 2 = $par")
              model --= doomed.keys
            }
        }
        val actual = t.read().as[(Long, String, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(actual === model, s"$name diverged from the model at step $step")
      }
    }
  }
}
