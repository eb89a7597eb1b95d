package graft.cdc

import graft.{QueryDef, QueryModule}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC operator block: every capability of the reference pipeline,
  * exercised against the correctness gate by synthesizing CDC
  * envelopes deterministically from `events` and letting the DuckDB
  * oracle compute the expected result directly from `events` — a
  * serialize→parse→apply defect anywhere shows up as a hash mismatch.
  */
object CdcQueries extends QueryModule {

  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  // synthesized Debezium envelopes are input staging shared by the
  // multiple jobs of ONE query run (parse, isEmpty probes, merge
  // writes) — cached via the central registry so the harness clears
  // it between queries instead of letting 57 queries' caches evict
  // each other mid-pipeline
  private val synthCache = scala.collection.concurrent.TrieMap[(Int, String), DataFrame]()
  graft.Caches.onClear(() => synthCache.clear())
  // Tables.parallel: envelope synthesis + parse are per-row JSON
  // codecs — pinned to ONE task by the single-split testdata file
  // unless parallelism is restored first (no-op on multi-split input)
  private def debeziumEnvelopes(s: SparkSession, dir: String): DataFrame =
    synthCache.getOrElseUpdate((System.identityHashCode(s), dir),
      graft.Caches.register(Debezium.synthesizeFromEvents(Tables.parallel(events(s, dir)))))

  // absolute, captured at class-load from the launch CWD (the driver
  // may chdir later); overridable for checkouts whose target dir is
  // elsewhere
  private val tmpBase: String = sys.props.get("graft.tmp.dir")
    .getOrElse(java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
      .toAbsolutePath.resolve("target").resolve("graft_tmp").toString)

  private def tmpRoot(name: String, dir: String): String =
    s"$tmpBase/${name}_${dir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  // latest row per user among a filtered subset, ordered by (ts, event_id)
  private def latestPerUser(df: DataFrame, withTs: Boolean = false): DataFrame = {
    val latest = Precombine.latestByKey(
      df.select("user_id", "event_id", "event_type", "value", "ts"),
      Seq("user_id"), Seq("ts", "event_id"))
    if (withTs) latest else latest.select("user_id", "event_id", "event_type", "value")
  }

  /** The merge gates' two inputs: the latest row per user among the
    * events before the cut (max(event_id) div 2), narrowed by
    * `keepBase`, and among the events from the cut on. One max probe;
    * each half is its own pruned scan of `events`, so nothing is
    * cached and nothing needs unpersisting.
    */
  private def baseAndChanges(s: SparkSession, dir: String, keepBase: Column = lit(true),
      withTs: Boolean = false): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    val cut = ev.agg(max("event_id")).head().getLong(0) / 2
    (latestPerUser(ev.filter(col("event_id") < cut && keepBase), withTs),
      latestPerUser(ev.filter(col("event_id") >= cut), withTs))
  }

  private val latestSqlTemplate =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events %s) WHERE rn = 1""".stripMargin

  // -- envelope round trips ------------------------------------------------

  private def debeziumParse(s: SparkSession, dir: String): DataFrame = {
    val parsed = Debezium.parse(debeziumEnvelopes(s, dir))
    // cached before the global sort: range partitioning SAMPLES its
    // child to pick bounds, and with no exchange below the sort that
    // sample pass re-runs the whole map-side JSON parse — the cache
    // makes the second pass a read (the frame is genuinely consumed
    // twice: once to sample, once to sort)
    graft.Caches.register(
      CdcModel.decodePayload(parsed, Debezium.eventsPayloadSchema,
          keep = Seq("opclass", "db", "tbl", "ts_ms"))
        .select("opclass", "db", "tbl", "ts_ms", "event_id", "user_id", "event_type", "value"))
      .orderBy("event_id")
  }

  private val debeziumParseSql =
    """SELECT CASE WHEN event_type = 'signup' THEN 'I'
      |            WHEN event_type = 'error' THEN 'D'
      |            ELSE 'U' END AS opclass,
      |  'graftdb' AS db,
      |  'events_' || CAST(user_id % 3 AS VARCHAR) AS tbl,
      |  epoch_ms(ts) AS ts_ms,
      |  event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  private def dmsParse(s: SparkSession, dir: String): DataFrame = {
    val parsed = Dms.parse(Dms.synthesizeFromEvents(Tables.parallel(events(s, dir))))
    // cached before the global sort — see debeziumParse
    graft.Caches.register(
      CdcModel.decodePayload(parsed, Debezium.eventsPayloadSchema,
          keep = Seq("opclass", "db", "tbl", "ts_ms"))
        .select("opclass", "db", "tbl", "ts_ms", "event_id", "user_id", "event_type", "value"))
      .orderBy("event_id")
  }

  // -- routing -------------------------------------------------------------

  private def opSplit(s: SparkSession, dir: String): DataFrame =
    Debezium.parse(debeziumEnvelopes(s, dir))
      .groupBy("tbl", "opclass").agg(count(lit(1)).as("n"))
      .orderBy("tbl", "opclass")

  private val opSplitSql =
    """SELECT 'events_' || CAST(user_id % 3 AS VARCHAR) AS tbl,
      |  CASE WHEN event_type = 'signup' THEN 'I'
      |       WHEN event_type = 'error' THEN 'D'
      |       ELSE 'U' END AS opclass,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def demux(s: SparkSession, dir: String): DataFrame =
    CdcModel.routes(Debezium.parse(debeziumEnvelopes(s, dir)))
      .orderBy("db", "tbl")

  private val demuxSql =
    """SELECT DISTINCT 'graftdb' AS db, 'events_' || CAST(user_id % 3 AS VARCHAR) AS tbl
      |FROM events ORDER BY db, tbl""".stripMargin

  // -- precombine ----------------------------------------------------------

  private def latestByKey(s: SparkSession, dir: String): DataFrame =
    latestPerUser(events(s, dir)).orderBy("user_id")

  private val latestByKeySql = latestSqlTemplate.format("") + "\nORDER BY user_id"

  private def latestMultiKey(s: SparkSession, dir: String): DataFrame =
    Precombine.latestByKey(
      events(s, dir).select("user_id", "event_type", "event_id", "value", "ts"),
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")

  private val latestMultiKeySql =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // -- merge apply through the real MergeTable IO path ---------------------

  private def applyUpsertWith(variant: String, mode: String, buckets: Option[Int],
      compactAfter: Boolean = false, partitions: Seq[String] = Nil)(
      s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot(s"apply_upsert_$variant", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base),
      mode = mode, numBuckets = buckets, partitionCols = partitions)
    t.upsert(changes)
    if (compactAfter) t.compact()
    t.read().select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private def applyUpsert(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("cow", MergeTable.CopyOnWrite, None)(s, dir)

  /** Same semantics through the merge-on-read path: delta commit +
    * read-time reconciliation must produce the identical table.
    */
  private def applyUpsertMor(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("mor", MergeTable.MergeOnRead, None)(s, dir)

  /** Same semantics through the bucketed partition-scoped COW path. */
  private def applyUpsertBucketed(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("bucketed", MergeTable.CopyOnWrite, Some(8))(s, dir)

  /** Same semantics through the deletion-vector path: matched keys'
    * old rows are masked positionally, the change rows append — no
    * data-file rewrite, no key reconciliation at read.
    */
  private def applyUpsertDv(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("dv", MergeTable.DeletionVectors, None)(s, dir)

  /** Same semantics through deletion vectors COMPOSED with hash
    * bucketing: the mask scan touches only the batch's buckets, new
    * rows land bucket-partitioned, and the post-write compaction
    * (`compactAfter`) folds masks per dirty bucket — so the gate
    * hashes the full write→mask→compact lifecycle of the composed
    * mode.
    */
  private def applyUpsertDvBucketed(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("dv_bucketed", MergeTable.DeletionVectors, Some(8),
      compactAfter = true)(s, dir)

  /** Same semantics through the VALUE-partitioned layout (partitioned
    * by `event_type`): the upsert scans the snapshot once for the
    * batch keys' holding partitions, rewrites only the touched
    * partition dirs (a user whose latest event_type CHANGED moves
    * partitions in the same commit), and the read unions the leaf
    * dirs — so the gate hashes partition-scoped merge correctness
    * including cross-partition key moves.
    */
  private def applyUpsertPartitioned(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("partitioned", MergeTable.CopyOnWrite, None,
      partitions = Seq("event_type"))(s, dir)

  /** Same semantics through bucketed MOR: bucket-partitioned seed,
    * flat delta upsert, then per-bucket compaction (`compactAfter`)
    * so the gate hashes the post-compaction bucket layout.
    */
  private def applyUpsertMorBucketed(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("mor_bucketed", MergeTable.MergeOnRead, Some(8),
      compactAfter = true)(s, dir)

  /** Same semantics through MOR COMPOSED with value partitioning —
    * the standard high-rate CDC lake layout (per-date dirs, O(batch)
    * flat delta commits): partitioned seed, flat delta upsert whose
    * read reconciles by key across partitions, then compaction
    * (`compactAfter`) that rewrites ONLY the partitions holding or
    * receiving the batch's keys — so the gate hashes the full
    * delta→reconcile→dirty-partition-compact lifecycle, including
    * users whose latest event_type moved partitions.
    */
  private def applyUpsertPartitionedMor(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("partitioned_mor", MergeTable.MergeOnRead, None,
      compactAfter = true, partitions = Seq("event_type"))(s, dir)

  /** Same semantics through the COMPOSED layout (value partitions ×
    * hash buckets — the Iceberg `PARTITIONED BY (date, bucket(n,id))`
    * shape): the scoped merge rewrites only the touched
    * (partition × bucket) cells, with the holder scan cut by the key
    * hash to the batch's buckets across all partitions — so the gate
    * hashes cell-scoped merge correctness including cross-partition
    * key moves inside a bucket.
    */
  private def applyUpsertComposed(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("composed", MergeTable.CopyOnWrite, Some(8),
      partitions = Seq("event_type"))(s, dir)

  /** The composed layout under MOR — the high-rate CDC shape at its
    * most pruned: partitioned × bucketed seed, O(batch) flat delta
    * upsert, then compaction (`compactAfter`) folding ONLY the dirty
    * cells, so the gate hashes the full
    * delta→reconcile→dirty-cell-compact lifecycle.
    */
  private def applyUpsertComposedMor(s: SparkSession, dir: String): DataFrame =
    applyUpsertWith("composed_mor", MergeTable.MergeOnRead, Some(8),
      compactAfter = true, partitions = Seq("event_type"))(s, dir)

  private val applyUpsertSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1)
      |SELECT user_id, event_id, event_type, value FROM changes
      |UNION ALL
      |SELECT b.* FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = b.user_id)
      |ORDER BY user_id""".stripMargin

  /** Same state transition as cdc_apply_upsert, but driven through
    * the SQL surface the reference actually uses (MERGE INTO … WHEN
    * MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *,
    * transaction_log_util.py:279-301) — hash-matched against the same
    * oracle, so SQL and API paths are proven equivalent.
    */
  private def applyUpsertViaSql(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("apply_upsert_via_sql", dir)
    MergeTable.drop(root)
    MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    s.read.format("mergetable").option("path", root).option("keys", "user_id").load()
      .createOrReplaceTempView("graft_merge_target")
    changes.createOrReplaceTempView("graft_merge_source")
    s.sql(
      """MERGE INTO graft_merge_target t USING graft_merge_source s
        |ON t.user_id = s.user_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    new MergeTable(s, root, Seq("user_id")).read()
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  /** `UPDATE t SET … WHERE p` — the fourth DML verb, compiled by
    * [[graft.sources.ResolveMergeTableDml]] into a read-modify-upsert
    * that rewrites ONLY the matching keys' rows (COW joins on the key
    * set; MOR would append a delta). The SET list mixes a
    * self-referencing expression (`value = value * 2`, the
    * read-modify form — doubling is IEEE-exact, so no rounding
    * needed) with a constant assignment, and the WHERE predicate
    * keeps a non-vacuous ~1/5 slice at every SF. The oracle
    * recomputes the final table state.
    */
  private def applyUpdateViaSql(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
    val root = tmpRoot("apply_update_via_sql", dir)
    MergeTable.drop(root)
    MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    s.read.format("mergetable").option("path", root).option("keys", "user_id").load()
      .createOrReplaceTempView("graft_update_target")
    s.sql(
      """UPDATE graft_update_target
        |SET value = value * 2, event_type = 'adjusted'
        |WHERE user_id % 5 = 2""".stripMargin)
    new MergeTable(s, root, Seq("user_id")).read()
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private val applyUpdateSql =
    """WITH base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT user_id, event_id,
      |  CASE WHEN user_id % 5 = 2 THEN 'adjusted' ELSE event_type END AS event_type,
      |  CASE WHEN user_id % 5 = 2 THEN value * 2 ELSE value END AS value
      |FROM base ORDER BY user_id""".stripMargin

  /** The general conditional-MERGE surface in its canonical CDC use:
    * a delete-flag batch applied in ONE statement — matched rows whose
    * change is a `signup` event are deleted, other matched rows
    * accumulate (`SET value = t.value + s.value`, the read-modify
    * form), and unmatched non-signup changes insert. Compiled by
    * [[graft.sources.ResolveMergeTableDml.generalMerge]] into one
    * outer join with first-match CASE routing; the oracle recomputes
    * the same final state, verifying clause order, conditions, both
    * delete paths, and the read-modify arithmetic end to end.
    */
  private def applyMergeConditional(s: SparkSession, dir: String): DataFrame = {
    // base excludes every 7th user so the NOT MATCHED clauses are
    // non-vacuous at every SF (at sf0.01+ all users are active in both
    // halves, so without the carve-out nothing would ever insert)
    val (base, changes) = baseAndChanges(s, dir, keepBase = col("user_id") % 7 =!= 3)
    val root = tmpRoot("apply_merge_conditional", dir)
    MergeTable.drop(root)
    MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    s.read.format("mergetable").option("path", root).option("keys", "user_id").load()
      .createOrReplaceTempView("graft_cond_target")
    changes.createOrReplaceTempView("graft_cond_source")
    s.sql(
      """MERGE INTO graft_cond_target t USING graft_cond_source s
        |ON t.user_id = s.user_id
        |WHEN MATCHED AND s.event_type = 'signup' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = t.value + s.value
        |WHEN NOT MATCHED AND s.event_type <> 'signup' THEN INSERT *""".stripMargin)
    new MergeTable(s, root, Seq("user_id")).read()
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private val applyMergeConditionalSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events
      |    WHERE event_id < (SELECT c FROM cut) AND user_id % 7 <> 3) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1)
      |SELECT user_id, event_id, event_type, value FROM (
      |  SELECT b.user_id, b.event_id, b.event_type, b.value + c.value AS value
      |  FROM base b JOIN changes c ON b.user_id = c.user_id
      |  WHERE c.event_type <> 'signup'
      |  UNION ALL
      |  SELECT b.user_id, b.event_id, b.event_type, b.value FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = b.user_id)
      |  UNION ALL
      |  SELECT c.user_id, c.event_id, c.event_type, c.value FROM changes c
      |  WHERE c.event_type <> 'signup'
      |    AND NOT EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id))
      |ORDER BY user_id""".stripMargin

  /** Partial-SET MERGE (the most-used non-star MERGE form in
    * Iceberg/Delta practice): update ONE column from a source-side
    * expression, keep every other target column, insert unmatched
    * keys. Compiled by [[graft.sources.ResolveMergeTableDml]] into a
    * read-modify-upsert; the oracle recomputes the same final state,
    * so the hash verifies that untouched columns really came from the
    * target and assigned ones from the source expression.
    */
  private def applyUpsertPartialViaSql(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("apply_upsert_partial", dir)
    MergeTable.drop(root)
    MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    s.read.format("mergetable").option("path", root).option("keys", "user_id").load()
      .createOrReplaceTempView("graft_partial_target")
    changes.createOrReplaceTempView("graft_partial_source")
    s.sql(
      """MERGE INTO graft_partial_target t USING graft_partial_source s
        |ON t.user_id = s.user_id
        |WHEN MATCHED THEN UPDATE SET value = s.value * 2
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    new MergeTable(s, root, Seq("user_id")).read()
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private val applyUpsertPartialSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1)
      |SELECT user_id, event_id, event_type, value FROM (
      |  SELECT b.user_id, b.event_id, b.event_type, c.value * 2 AS value
      |  FROM base b JOIN changes c ON b.user_id = c.user_id
      |  UNION ALL
      |  SELECT b.user_id, b.event_id, b.event_type, b.value FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = b.user_id)
      |  UNION ALL
      |  SELECT c.user_id, c.event_id, c.event_type, c.value FROM changes c
      |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.user_id = c.user_id))
      |ORDER BY user_id""".stripMargin

  /** Same state transition again, but through a catalog identifier
    * (`MERGE INTO graft.gate.<t>`) — the reference's actual addressing
    * mode (`glue_catalog.db.table`,
    * kafka-iceberg-streaming-emrserverless-v2.py): CREATE TABLE +
    * INSERT seed + MERGE all via SQL, read back via the catalog.
    */
  private def applyUpsertViaCatalog(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val tbl = "upsert_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              TBLPROPERTIES('keys'='user_id')""")
    base.createOrReplaceTempView("graft_catalog_base")
    changes.createOrReplaceTempView("graft_catalog_changes")
    s.sql(s"INSERT INTO graft.gate.$tbl SELECT user_id, event_id, event_type, value FROM graft_catalog_base")
    s.sql(s"""MERGE INTO graft.gate.$tbl t USING graft_catalog_changes s
              ON t.user_id = s.user_id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
    s.table(s"graft.gate.$tbl")
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  /** LAYOUT MIGRATION mid-pipeline (r12): seed FLAT through the
    * catalog, migrate to 8 hash buckets (`ALTER TABLE … SET LAYOUT
    * BUCKETS 8` — the rewrite + `_META` update every table performs
    * when it outgrows its first layout), then MERGE the second half
    * of the stream against the MIGRATED table. The oracle is the same
    * upsert oracle as the un-migrated gates, so the hash certifies
    * both that the migration preserved every row bit-for-bit AND that
    * the post-migration bucket-scoped MERGE path produces the
    * identical answer the flat path would have.
    */
  private def applyUpsertMigrated(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val tbl = "migrate_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              TBLPROPERTIES('keys'='user_id')""")
    base.createOrReplaceTempView("graft_migrate_base")
    changes.createOrReplaceTempView("graft_migrate_changes")
    s.sql(s"INSERT INTO graft.gate.$tbl SELECT user_id, event_id, event_type, value FROM graft_migrate_base")
    s.sql(s"ALTER TABLE graft.gate.$tbl SET LAYOUT BUCKETS 8")
    s.sql(s"""MERGE INTO graft.gate.$tbl t USING graft_migrate_changes s
              ON t.user_id = s.user_id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
    s.table(s"graft.gate.$tbl")
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  /** HIDDEN day-partitioning end to end (r12b): the table declares
    * `PARTITIONED BY (days(ts))` — the Iceberg transform — so rows
    * land in day dirs derived from the timestamp at write time while
    * the derived column stays invisible to every reader and writer
    * (users insert and select only `ts`). Seed + MERGE flow through
    * the derived-injection write path; the final projection drops
    * `ts`, so the gate hash-matches the SAME upsert oracle as the
    * identity-partitioned gates — certifying that hidden partitioning
    * changes the LAYOUT and nothing else.
    */
  private def applyUpsertHidden(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir, withTs = true)
    val tbl = "hidden_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING,
               value DOUBLE, ts TIMESTAMP_NTZ)
              TBLPROPERTIES('keys'='user_id') PARTITIONED BY (days(ts))""")
    base.createOrReplaceTempView("graft_hidden_base")
    changes.createOrReplaceTempView("graft_hidden_changes")
    s.sql(s"""INSERT INTO graft.gate.$tbl
              SELECT user_id, event_id, event_type, value, ts FROM graft_hidden_base""")
    s.sql(s"""MERGE INTO graft.gate.$tbl t USING graft_hidden_changes s
              ON t.user_id = s.user_id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
    s.table(s"graft.gate.$tbl")
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  /** DYNAMIC partition overwrite through the catalog (r12): seed a
    * value-partitioned table, then `INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic` with a source covering ONE
    * partition (its own users reweighted — their keys live only
    * there, so the PK guard stays quiet). The staged v2 write must
    * replace exactly that partition and carry every other one
    * verbatim; the oracle recomputes the expected table with a CASE.
    */
  private def dynamicOverwriteGate(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
      .select("user_id", "event_id", "event_type", "value")
    val tbl = "dynow_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              TBLPROPERTIES('keys'='user_id') PARTITIONED BY (event_type)""")
    base.createOrReplaceTempView("graft_dynow_base")
    s.sql(s"INSERT INTO graft.gate.$tbl SELECT * FROM graft_dynow_base")
    val minType = base.agg(min("event_type")).head().getString(0)
    base.filter(col("event_type") === minType)
      .withColumn("value", round(col("value") * 2, 2))
      .createOrReplaceTempView("graft_dynow_src")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try s.sql(s"INSERT OVERWRITE graft.gate.$tbl SELECT * FROM graft_dynow_src")
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.table(s"graft.gate.$tbl")
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private val dynamicOverwriteSql =
    """WITH base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT user_id, event_id, event_type,
      |  CASE WHEN event_type = (SELECT min(event_type) FROM base)
      |       THEN round(value * 2, 2) ELSE value END AS value
      |FROM base ORDER BY user_id""".stripMargin

  /** Write-audit-publish through the catalog (r12, Iceberg refs): the
    * change batch MERGEs onto a WAP branch (`spark.graft.wap.branch`,
    * auto-forked at the current head), main stays UNTOUCHED for the
    * audit window — asserted loudly, a silent write-through would
    * still hash-match after publish — and `ALTER TABLE … FAST
    * FORWARD` publishes the branch. The published main state must
    * equal a direct upsert, which is exactly what the oracle
    * recomputes.
    */
  private def applyUpsertWapBranch(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val tbl = "wap_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              TBLPROPERTIES('keys'='user_id')""")
    base.createOrReplaceTempView("graft_wap_base")
    changes.createOrReplaceTempView("graft_wap_changes")
    s.sql(s"INSERT INTO graft.gate.$tbl SELECT user_id, event_id, event_type, value FROM graft_wap_base")
    val seeded = s.table(s"graft.gate.$tbl").count()
    s.conf.set(MergeTable.WapBranchConf, "audit")
    try {
      s.sql(s"""MERGE INTO graft.gate.$tbl t USING graft_wap_changes s
                ON t.user_id = s.user_id
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
    } finally s.conf.unset(MergeTable.WapBranchConf)
    require(s.table(s"graft.gate.$tbl").count() == seeded,
      "WAP leak: main advanced during the audit window")
    s.sql(s"ALTER TABLE graft.gate.$tbl FAST FORWARD audit")
    s.table(s"graft.gate.$tbl")
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  /** ANALYZE gate (r12): seed a catalog table, `ANALYZE TABLE …
    * COMPUTE STATISTICS FOR COLUMNS event_type`, and emit the persisted
    * statistics as a row. At 5 distinct values HLL++'s linear-counting
    * correction is exact and deterministic, so the NDV (plus the exact
    * null count and row count) hash-matches a DuckDB replay — value
    * certification for the stats CBO consumes (`TableStatsSpec` pins
    * the attributeStats plumbing).
    */
  private def analyzeStatsGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = latestPerUser(events(s, dir))
      .select("user_id", "event_id", "event_type", "value")
    val tbl = "anlz_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              TBLPROPERTIES('keys'='user_id')""")
    base.createOrReplaceTempView("graft_anlz_base")
    s.sql(s"INSERT INTO graft.gate.$tbl SELECT * FROM graft_anlz_base")
    s.sql(s"ANALYZE TABLE graft.gate.$tbl COMPUTE STATISTICS FOR COLUMNS event_type")
    val wh = s.conf.get("spark.sql.catalog.graft.root", "target/graft_warehouse")
    val st = MergeTable.open(s, s"$wh/gate/$tbl").tableStats().get
    val c = st.cols("event_type")
    Seq(("event_type", c.ndv, c.nullCount, st.rows))
      .toDF("column", "ndv", "null_count", "n_rows")
  }

  private val analyzeStatsSql =
    """WITH base AS (
      |  SELECT user_id, event_type FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT 'event_type' AS column,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS ndv,
      |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM base""".stripMargin

  /** SHALLOW CLONE lifecycle: seed a table, zero-copy clone it, apply
    * the change batch to the CLONE, read the clone back. Same oracle
    * as the plain upsert — the clone must behave exactly like a real
    * table seeded with the same snapshot — while `ShallowCloneSpec`
    * pins the metadata-only mechanics (no bytes copied, divergence
    * isolation, vacuum safety, clone-of-clone).
    */
  private def shallowCloneUpsert(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val srcRoot = tmpRoot("clone_src", dir)
    val dstRoot = tmpRoot("clone_dst", dir)
    MergeTable.drop(srcRoot); MergeTable.drop(dstRoot)
    MergeTable.createIfAbsent(s, srcRoot, Seq("user_id"), initial = Some(base))
    val c = MergeTable.shallowClone(s, srcRoot, dstRoot)
    c.upsert(changes)
    c.read().select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** Metadata-only aggregate pushdown through the catalog: count(*) /
    * count(col) / min / max over a seeded mergetable fold out of the
    * per-file footer stats recorded at commit time (the Delta/Iceberg
    * "count(*) never scans" path — `AggregatePushdownSpec` proves the
    * plan has no aggregate node and reads zero records; this gate
    * proves the folded VALUES are exact, nulls included, against a
    * DuckDB replay that aggregates the real rows).
    */
  /** Storage-partitioned-join gate: two CO-BUCKETED catalog
    * mergetables (per-customer order aggregates ⋈ customer balances,
    * both keyed and hash-bucketed on `custkey`) joined through the
    * DSv2 Batch path — Spark aligns the scans' KeyGroupedPartitioning
    * bucket-for-bucket and elides the shuffle on BOTH sides (the
    * plan shape `StoragePartitionedJoinSpec` pins with broadcast
    * disabled; at gate scale AQE may broadcast the small side
    * instead, also shuffle-free); this gate
    * hash-certifies the VALUES that come out of that path against a
    * DuckDB replay of the same join. At 100 TB this is the fact⋈fact
    * join shape, with the dominant shuffle gone.
    */
  private def catalogSpjJoin(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    for (t <- Seq(s"spj_orders_$sfx", s"spj_cust_$sfx")) {
      s.sql(s"DROP TABLE IF EXISTS graft.gate.$t")
    }
    s.sql(s"""CREATE TABLE graft.gate.spj_orders_$sfx
              (custkey BIGINT, n_orders BIGINT, total DECIMAL(18,2))
              TBLPROPERTIES('keys'='custkey', 'buckets'='8')""")
    s.sql(s"""CREATE TABLE graft.gate.spj_cust_$sfx
              (custkey BIGINT, acctbal DOUBLE)
              TBLPROPERTIES('keys'='custkey', 'buckets'='8')""")
    graft.tables.Tables.load(s, dir, "orders").createOrReplaceTempView("spj_gate_orders")
    graft.tables.Tables.load(s, dir, "customer").createOrReplaceTempView("spj_gate_customer")
    s.sql(s"""INSERT INTO graft.gate.spj_orders_$sfx
              SELECT o_custkey, count(*), sum(CAST(o_totalprice AS DECIMAL(18,2)))
              FROM spj_gate_orders GROUP BY o_custkey""")
    s.sql(s"""INSERT INTO graft.gate.spj_cust_$sfx
              SELECT c_custkey, c_acctbal FROM spj_gate_customer""")
    s.sql(
      s"""SELECT a.custkey, a.n_orders,
         |  round(CAST(a.total AS DOUBLE), 2) AS total, c.acctbal
         |FROM graft.gate.spj_orders_$sfx a
         |JOIN graft.gate.spj_cust_$sfx c ON a.custkey = c.custkey
         |ORDER BY a.custkey""".stripMargin)
  }

  private val catalogSpjJoinSql =
    """WITH a AS (
      |  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
      |  FROM orders GROUP BY 1)
      |SELECT a.custkey, a.n_orders,
      |  round(CAST(a.total AS DOUBLE), 2) AS total, c.c_acctbal AS acctbal
      |FROM a JOIN customer c ON a.custkey = c.c_custkey
      |ORDER BY a.custkey""".stripMargin

  /** Sorted-bucket join gate (r12): the SPJ gate's co-bucketed pair,
    * rewritten with `OPTIMIZE … SORT BY (custkey)` before the join —
    * the read path now also reports per-partition ordering
    * (`SupportsReportOrdering`), so the merge join runs with neither a
    * shuffle nor a sort (`SortedBucketSpec` pins the plan; a falsely
    * reported order would make THIS gate's values wrong, which is
    * what the DuckDB replay certifies).
    */
  private def catalogSortedJoin(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    for (t <- Seq(s"srt_orders_$sfx", s"srt_cust_$sfx")) {
      s.sql(s"DROP TABLE IF EXISTS graft.gate.$t")
    }
    s.sql(s"""CREATE TABLE graft.gate.srt_orders_$sfx
              (custkey BIGINT, n_orders BIGINT, total DECIMAL(18,2))
              TBLPROPERTIES('keys'='custkey', 'buckets'='8')""")
    s.sql(s"""CREATE TABLE graft.gate.srt_cust_$sfx
              (custkey BIGINT, acctbal DOUBLE)
              TBLPROPERTIES('keys'='custkey', 'buckets'='8')""")
    graft.tables.Tables.load(s, dir, "orders").createOrReplaceTempView("srt_gate_orders")
    graft.tables.Tables.load(s, dir, "customer").createOrReplaceTempView("srt_gate_customer")
    s.sql(s"""INSERT INTO graft.gate.srt_orders_$sfx
              SELECT o_custkey, count(*), sum(CAST(o_totalprice AS DECIMAL(18,2)))
              FROM srt_gate_orders GROUP BY o_custkey""")
    s.sql(s"""INSERT INTO graft.gate.srt_cust_$sfx
              SELECT c_custkey, c_acctbal FROM srt_gate_customer""")
    s.sql(s"OPTIMIZE graft.gate.srt_orders_$sfx SORT BY (custkey)")
    s.sql(s"OPTIMIZE graft.gate.srt_cust_$sfx SORT BY (custkey)")
    s.sql(
      s"""SELECT a.custkey, a.n_orders,
         |  round(CAST(a.total AS DOUBLE), 2) AS total, c.acctbal
         |FROM graft.gate.srt_orders_$sfx a
         |JOIN graft.gate.srt_cust_$sfx c ON a.custkey = c.custkey
         |ORDER BY a.custkey""".stripMargin)
  }

  /** Gate for the TRUE DSv2 write path (11w): CTAS into a BUCKETED
    * catalog table seeds through `MergeTableBatchWrite` — the engine
    * rebalances by the catalog bucket function, executors demux rows
    * into per-bucket dirs replaying the write-side hash, the driver
    * commits the staged leaves — and the grouped read-back
    * hash-matches direct DuckDB SQL over the source table. Any row
    * lost, duplicated, or mis-bucketed by the executor-side writer
    * breaks the hash; a mis-bucketed row would also surface through
    * bucket-pruned point reads (spec-pinned in WriteDistributionSpec).
    */
  private def catalogCtasClustered(s: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"ctas_clustered_$sfx"
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    graft.tables.Tables.load(s, dir, "customer")
      .createOrReplaceTempView("ctas_gate_customer")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              TBLPROPERTIES('keys'='custkey', 'buckets'='8')
              AS SELECT c_custkey AS custkey, c_acctbal AS bal,
                        c_mktsegment AS seg
                 FROM ctas_gate_customer""")
    s.sql(
      s"""SELECT seg, count(*) AS n, round(sum(bal), 2) AS total
         |FROM graft.gate.$tbl GROUP BY seg ORDER BY seg""".stripMargin)
  }

  private val catalogCtasClusteredSql =
    """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(c_acctbal), 2) AS total
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Gate for DSv2 Batch reads over DELETION-VECTOR snapshots (11x):
    * a dv-mode catalog table takes an INSERT (v2 flat append), a
    * masking upsert, and a masking delete, then the full read — served
    * by `MergeTableBatchScan` with each file's masked positions
    * shipped in its input partitions — hash-matches a DuckDB replay of
    * the same upsert-then-delete history. A mask hitting the wrong
    * physical row, or a masked row resurfacing, breaks the hash.
    */
  private def catalogDvBatchRead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val tbl = s"dv_batch_read_$sfx"
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (okey BIGINT, ckey BIGINT, price DOUBLE)
              TBLPROPERTIES('keys'='okey', 'mode'='deletion-vectors')""")
    val orders = graft.tables.Tables.load(s, dir, "orders")
    orders.createOrReplaceTempView("dv_gate_orders")
    s.sql(s"""INSERT INTO graft.gate.$tbl
              SELECT o_orderkey, o_custkey, o_totalprice
              FROM dv_gate_orders WHERE o_orderkey % 7 = 0""")
    // the API mutators address the table at the catalog's own root
    // (absolute, launch-anchored — see GraftSession)
    val t = MergeTable.open(s,
      s"${s.conf.get("spark.sql.catalog.graft.root")}/gate/$tbl")
    t.upsert(orders.filter(col("o_orderkey") % 21 === 0)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("ckey"),
        (col("o_totalprice") * 2).as("price")))
    t.delete(orders.filter(col("o_orderkey") % 35 === 0)
      .select(col("o_orderkey").as("okey")))
    s.sql(
      s"""SELECT okey, ckey, round(price, 2) AS price
         |FROM graft.gate.$tbl ORDER BY okey""".stripMargin)
  }

  private val catalogDvBatchReadSql =
    """WITH base AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ckey,
      |    o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |up AS (
      |  SELECT o_orderkey AS okey, o_totalprice * 2 AS price
      |  FROM orders WHERE o_orderkey % 21 = 0),
      |merged AS (
      |  SELECT b.okey, b.ckey, coalesce(u.price, b.price) AS price
      |  FROM base b LEFT JOIN up u ON b.okey = u.okey)
      |SELECT okey, ckey, round(price, 2) AS price
      |FROM merged WHERE okey % 35 <> 0 ORDER BY okey""".stripMargin

  private def aggPushdown(s: SparkSession, dir: String): DataFrame = {
    val seed = latestPerUser(events(s, dir))
      .withColumn("nv", when(col("event_type") === "error",
        lit(null).cast("double")).otherwise(col("value")))
    val tbl = "aggpush_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING,
               value DOUBLE, nv DOUBLE)
              TBLPROPERTIES('keys'='user_id')""")
    seed.createOrReplaceTempView("graft_aggpush_seed")
    s.sql(s"""INSERT INTO graft.gate.$tbl
              SELECT user_id, event_id, event_type, value, nv
              FROM graft_aggpush_seed""")
    s.sql(s"""SELECT count(*) AS cnt, count(nv) AS cnt_nv,
                     min(user_id) AS umin, max(user_id) AS umax,
                     min(event_type) AS tmin, max(event_type) AS tmax,
                     min(value) AS vmin, max(value) AS vmax
              FROM graft.gate.$tbl""")
  }

  private val aggPushdownSql =
    s"""WITH latest AS (${latestSqlTemplate.format("")}),
       |seeded AS (
       |  SELECT user_id, event_type, value,
       |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS nv
       |  FROM latest)
       |SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(count(nv) AS BIGINT) AS cnt_nv,
       |  min(user_id) AS umin, max(user_id) AS umax,
       |  min(event_type) AS tmin, max(event_type) AS tmax,
       |  min(value) AS vmin, max(value) AS vmax
       |FROM seeded""".stripMargin

  /** Partition-FILTERED metadata aggregation: the table is value-
    * partitioned by event_type, the WHERE names only the partition
    * column, and the whole filtered count/min/max folds from the
    * matching partition dirs' footer stats — zero data files opened
    * (`SELECT count(*) … WHERE date = …` at 100 TB is O(manifest)).
    * The plan-identity contract (MergeTableMetadataAggScan, zero
    * records read) is in AggregatePushdownSpec; this gate hashes the
    * VALUES against DuckDB computing the same filtered aggregates.
    */
  private def aggPushdownPartitioned(s: SparkSession, dir: String): DataFrame = {
    val seed = latestPerUser(events(s, dir))
    val tbl = "aggpushpv_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    s.sql(s"DROP TABLE IF EXISTS graft.gate.$tbl")
    s.sql(s"""CREATE TABLE graft.gate.$tbl
              (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
              PARTITIONED BY (event_type)
              TBLPROPERTIES('keys'='user_id')""")
    seed.createOrReplaceTempView("graft_aggpushpv_seed")
    s.sql(s"""INSERT INTO graft.gate.$tbl
              SELECT user_id, event_id, event_type, value
              FROM graft_aggpushpv_seed""")
    s.sql(s"""SELECT count(*) AS cnt, min(user_id) AS umin,
                     max(user_id) AS umax, min(value) AS vmin,
                     max(value) AS vmax
              FROM graft.gate.$tbl
              WHERE event_type IN ('click', 'view')""")
  }

  private val aggPushdownPartitionedSql =
    s"""WITH latest AS (${latestSqlTemplate.format("")})
       |SELECT CAST(count(*) AS BIGINT) AS cnt,
       |  min(user_id) AS umin, max(user_id) AS umax,
       |  min(value) AS vmin, max(value) AS vmax
       |FROM latest WHERE event_type IN ('click', 'view')""".stripMargin

  /** DELETE FROM … WHERE, through SQL (reference surface:
    * transaction_log_util.py:304-334); same oracle as cdc_apply_delete.
    */
  private def applyDeleteViaSql(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
    val root = tmpRoot("apply_delete_via_sql", dir)
    MergeTable.drop(root)
    MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    s.read.format("mergetable").option("path", root).option("keys", "user_id").load()
      .createOrReplaceTempView("graft_delete_target")
    s.sql("DELETE FROM graft_delete_target WHERE event_type = 'error'")
    new MergeTable(s, root, Seq("user_id")).read().orderBy("user_id")
  }

  private def applyDelete(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
    val root = tmpRoot("apply_delete", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.delete(base.filter(col("event_type") === "error").select("user_id"))
    t.read().orderBy("user_id")
  }

  /** Same delete semantics through the deletion-vector path: the
    * deleted rows' data files are never rewritten — a positional
    * `(file, row_index)` mask commits instead, and the read-side
    * anti-join must hide exactly those rows. Same oracle as
    * cdc_apply_delete, so the hash certifies the mask addresses the
    * right physical rows.
    */
  private def applyDeleteDv(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
    val root = tmpRoot("apply_delete_dv", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base),
      mode = MergeTable.DeletionVectors)
    t.delete(base.filter(col("event_type") === "error").select("user_id"))
    t.read().orderBy("user_id")
  }

  private val applyDeleteSql =
    s"""SELECT * FROM (
       |${latestSqlTemplate.format("")}
       |) WHERE event_type <> 'error' ORDER BY user_id""".stripMargin

  private def applyFull(s: SparkSession, dir: String): DataFrame = {
    val parsed = Debezium.parse(debeziumEnvelopes(s, dir))
    val decoded = CdcModel.decodePayload(parsed, Debezium.eventsPayloadSchema,
      keep = Seq("opclass", "ts_ms"))
    // deletes target only a subset of users (uid % 7): every user has
    // ≥1 error event at the gate SFs, so deleting all error users left
    // an empty table and a vacuous 0-rows-vs-0-rows oracle compare
    val batch = decoded.filter(
      col("opclass") =!= CdcModel.OpDelete || col("user_id") % 7 === 0)
    val root = tmpRoot("apply_full", dir)
    MergeTable.drop(root)
    val t = new MergeTable(s, root, Seq("user_id"))
    t.applyChanges(batch, ordering = Seq("ts_ms", "event_id"), metaCols = Seq("ts_ms"))
    t.read().select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  private val applyFullSql =
    """WITH del AS (SELECT DISTINCT user_id FROM events
      |             WHERE event_type = 'error' AND user_id % 7 = 0),
      |upd AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type IN ('click','view','purchase')) WHERE rn = 1),
      |ins AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type = 'signup') WHERE rn = 1),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT i.* FROM ins i WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.user_id = i.user_id))
      |SELECT m.user_id, m.event_id, m.event_type, m.value FROM merged m
      |WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = m.user_id)
      |ORDER BY m.user_id""".stripMargin

  // -- data source read path -----------------------------------------------

  /** Same state as cdc_apply_upsert, but read back through the
    * registered `mergetable` data source with a pushed filter — the
    * gate verifies the format() read path end to end.
    */
  /** Stats-pruned read off a z-order-clustered table: seed from the
    * latest-per-user state, OPTIMIZE ZORDER by (user_id, event_id)
    * into multiple files, then read back through the source with a
    * selective user_id predicate — the scan consults footer min/max
    * and opens only matching files ([[graft.cdc.FileStats]]), and the
    * oracle proves skipped files never hide matching rows.
    */
  private def clusteredRead(s: SparkSession, dir: String): DataFrame = {
    val base = latestPerUser(events(s, dir))
    val root = tmpRoot("clustered_read", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.cluster(Seq("user_id", "event_id"), targetFiles = 8)
    val cut = base.agg(max("user_id")).head().getLong(0) / 2
    s.read.format("mergetable").option("path", root).load()
      .filter(col("user_id") <= cut)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  private val clusteredReadSql =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT user_id, event_id, event_type, value FROM latest
      |WHERE user_id <= (SELECT max(user_id) // 2 FROM latest)
      |ORDER BY user_id""".stripMargin

  private def sourceRead(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("source_read", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.upsert(changes)
    s.read.format("mergetable").option("path", root).load()
      .filter(col("event_type") =!= "error")
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  private val sourceReadSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1),
      |merged AS (
      |  SELECT user_id, event_id, event_type, value FROM changes
      |  UNION ALL
      |  SELECT b.* FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = b.user_id))
      |SELECT user_id, event_id, event_type, value FROM merged
      |WHERE event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  // -- change feed (time travel diff) --------------------------------------

  /** Outbound CDC: apply base then changes as two commits, then read
    * the change feed between the versions. Must reconstruct exactly
    * the I/U rows of the second commit (no deletes in this path).
    */
  private def changeFeed(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("change_feed", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.upsert(changes)
    t.changesBetween(1, t.versions().max)
      .select("user_id", "event_id", "event_type", "value", "_change")
      .orderBy("user_id")
  }

  /** Incremental materialized-view maintenance — the downstream
    * consumer a change feed exists FOR: a pre-aggregated view (count +
    * sum per group) is maintained by applying feed deltas (+ for
    * I/U_post, − for U_pre/D) instead of re-aggregating the table.
    * The gate pushes an upsert AND a delete commit through a real
    * MergeTable, replays `changesBetween(…, updatePreImages = true)`,
    * folds the deltas into the seed aggregate, and must hash-match an
    * oracle that re-aggregates the FINAL table state from scratch —
    * certifying the retraction algebra end to end. Sums accumulate in
    * decimal (order-independent), cast to double only at the edge.
    * At 100 TB this is the difference between touching O(changes)
    * and O(table) per refresh; nothing here shuffles more than the
    * feed and the group keys.
    */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("incremental_agg", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.upsert(changes)
    t.delete(t.read().filter(col("user_id") % 7 === 0).select("user_id"))
    val dec = col("value").cast("decimal(18,6)")
    // the maintained view, seeded from the v1 snapshot (= base)
    val agg0 = base.groupBy("event_type").agg(
      count(lit(1)).as("n0"), sum(dec).as("v0"))
    val feed = t.changesBetween(1, t.versions().max, updatePreImages = true)
    val additive = col("_change").isin(CdcModel.OpInsert, "U_post")
    val deltas = feed.groupBy("event_type").agg(
      sum(when(additive, lit(1L)).otherwise(lit(-1L))).as("dn"),
      sum(when(additive, dec).otherwise(-dec)).as("dv"))
    val zero = lit(0).cast("decimal(28,6)")
    agg0.join(deltas, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
        round((coalesce(col("v0"), zero) + coalesce(col("dv"), zero))
          .cast("double"), 3).as("total_value"))
      .filter(col("n_rows") > 0)
      .orderBy("event_type")
  }

  private val incrementalAggSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1),
      |merged AS (
      |  SELECT user_id, event_type, value FROM changes
      |  UNION ALL
      |  SELECT b.user_id, b.event_type, b.value FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = b.user_id))
      |SELECT event_type, count(*) AS n_rows,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 3) AS total_value
      |FROM merged WHERE user_id % 7 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SCD Type-2 history build — the warehouse-standard consumer of a
    * CDC stream: per key, consecutive equal values of the tracked
    * attribute collapse into one validity interval
    * [valid_from, valid_to), open-ended for the current row. Runs =
    * lag-compare → running-sum run ids → one aggregation; every
    * window partitions on `user_id` (unbounded cardinality — scales
    * with the data, unlike a per-attribute window). Interval edges
    * exported as epoch-ms so both engines truncate nanos identically.
    */
  private def scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = events(s, dir)
      .select("user_id", "event_type", "ts", "event_id")
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull ||
          lag("event_type", 1).over(w) =!= col("event_type"), 1).otherwise(0))
      .withColumn("ver", sum("chg").over(wRun).cast("long"))
    val hist = runs.groupBy("user_id", "ver").agg(
      min("event_type").as("event_type"), // constant within a run
      count(lit(1)).as("n_events"),
      min("ts").as("vf"))
    val wVer = Window.partitionBy("user_id").orderBy("ver")
    hist
      // session TZ is UTC (GraftSession), so NTZ→TIMESTAMP is identity
      .withColumn("valid_from_ms", unix_millis(col("vf").cast("timestamp")))
      .withColumn("valid_to_ms",
        unix_millis(lead("vf", 1).over(wVer).cast("timestamp")))
      .withColumn("is_current", lead("vf", 1).over(wVer).isNull)
      .select("user_id", "ver", "event_type", "n_events",
        "valid_from_ms", "valid_to_ms", "is_current")
      .orderBy("user_id", "ver")
  }

  private val scd2Sql =
    """WITH ordered AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events),
      |runs AS (
      |  SELECT user_id, event_type, ts,
      |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ver
      |  FROM ordered),
      |hist AS (
      |  SELECT user_id, ver, min(event_type) AS event_type,
      |    count(*) AS n_events, min(ts) AS vf
      |  FROM runs GROUP BY user_id, ver)
      |SELECT user_id, ver, event_type, n_events,
      |  epoch_ms(vf) AS valid_from_ms,
      |  epoch_ms(lead(vf) OVER (PARTITION BY user_id ORDER BY ver)) AS valid_to_ms,
      |  (lead(vf) OVER (PARTITION BY user_id ORDER BY ver) IS NULL) AS is_current
      |FROM hist ORDER BY user_id, ver""".stripMargin

  private val changeFeedSql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1)
      |SELECT c.user_id, c.event_id, c.event_type, c.value,
      |  CASE WHEN b.user_id IS NULL THEN 'I' ELSE 'U' END AS _change
      |FROM changes c LEFT JOIN base b ON c.user_id = b.user_id
      |WHERE b.user_id IS NULL
      |   OR b.event_id IS DISTINCT FROM c.event_id
      |   OR b.event_type IS DISTINCT FROM c.event_type
      |   OR b.value IS DISTINCT FROM c.value
      |ORDER BY c.user_id""".stripMargin

  /** Batch CDF replay through the `readChangeFeed` reader option —
    * PER-VERSION semantics (each key's LATEST change in the window),
    * which netting cannot produce: a key inserted at v1 and deleted
    * at v3 must surface as `D` with its pre-delete image, and a key
    * updated at v2 as `U` — from `startingVersion` 0 a netted diff
    * would drop the former and call the latter `I`. Three commits
    * (base, upsert, delete) make all three outcomes non-vacuous; the
    * oracle reconstructs each key's last operation relationally.
    */
  private def changeFeedReplay(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("change_feed_replay", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.upsert(changes)
    t.delete(t.read().filter(col("user_id") % 7 === 0).select("user_id"))
    s.read.format("mergetable").option("path", root)
      .option("readChangeFeed", "true").load()
      .select("user_id", "event_id", "event_type", "value", "_change")
      .orderBy("user_id")
  }

  /** The same per-version CDF surfaced through SQL: Delta's
    * `table_changes(t, v1[, v2])` TVF (injected via
    * `SparkSessionExtensions.injectTableFunction`), sharing
    * [[MergeTable.changeFeed]] with the reader option so the two
    * surfaces cannot drift — and sharing the oracle with
    * `cdc_change_feed_replay`, so the hash certifies the SQL path
    * end to end.
    */
  private def tableChangesSqlQuery(s: SparkSession, dir: String): DataFrame = {
    val (base, changes) = baseAndChanges(s, dir)
    val root = tmpRoot("table_changes_sql", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("user_id"), initial = Some(base))
    t.upsert(changes)
    t.delete(t.read().filter(col("user_id") % 7 === 0).select("user_id"))
    s.sql(
      s"""SELECT user_id, event_id, event_type, value, _change
         |FROM table_changes('$root', 0)
         |ORDER BY user_id""".stripMargin)
  }

  private val changeFeedReplaySql =
    """WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
      |base AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id < (SELECT c FROM cut)) WHERE rn = 1),
      |changes AS (
      |  SELECT user_id, event_id, event_type, value FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id >= (SELECT c FROM cut)) WHERE rn = 1),
      |joined AS (
      |  SELECT coalesce(c.user_id, b.user_id) AS user_id,
      |    coalesce(c.event_id, b.event_id) AS event_id,
      |    coalesce(c.event_type, b.event_type) AS event_type,
      |    coalesce(c.value, b.value) AS value,
      |    b.user_id IS NOT NULL AS in_base,
      |    c.user_id IS NOT NULL AS in_changes,
      |    (b.user_id IS NOT NULL AND c.user_id IS NOT NULL AND (
      |       b.event_id IS DISTINCT FROM c.event_id
      |       OR b.event_type IS DISTINCT FROM c.event_type
      |       OR b.value IS DISTINCT FROM c.value)) AS updated
      |  FROM base b FULL OUTER JOIN changes c ON b.user_id = c.user_id)
      |SELECT user_id, event_id, event_type, value,
      |  CASE WHEN user_id % 7 = 0 THEN 'D'
      |       WHEN updated THEN 'U'
      |       WHEN in_changes AND NOT in_base THEN 'I'
      |       ELSE 'I' END AS _change
      |FROM joined ORDER BY user_id""".stripMargin

  // -- schema evolution ----------------------------------------------------

  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val oldRows = ev.filter(col("event_id") % 2 === 0).select("event_id", "user_id", "value")
    val newRows = ev.filter(col("event_id") % 2 === 1).select("event_id", "user_id", "value", "event_type")
    val root = tmpRoot("schema_evolution", dir)
    MergeTable.drop(root)
    val t = MergeTable.createIfAbsent(s, root, Seq("event_id"), initial = Some(oldRows))
    t.append(newRows)
    t.read().agg(
      count(lit(1)).as("n_rows"),
      count(col("event_type")).as("n_typed"),
      countDistinct(col("user_id")).as("n_users"))
  }

  private val schemaEvolutionSql =
    """SELECT count(*) AS n_rows, count(event_type) AS n_typed,
      |  count(DISTINCT user_id) AS n_users
      |FROM (
      |  SELECT event_id, user_id, value, NULL AS event_type FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type FROM events WHERE event_id % 2 = 1)""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("debezium_parse", debeziumParse, Some(debeziumParseSql)),
    QueryDef("dms_parse", dmsParse, Some(debeziumParseSql)), // same normal form → same oracle
    QueryDef("cdc_op_split", opSplit, Some(opSplitSql)),
    QueryDef("cdc_demux", demux, Some(demuxSql)),
    QueryDef("cdc_latest_by_key", latestByKey, Some(latestByKeySql)),
    QueryDef("cdc_latest_multi_key", latestMultiKey, Some(latestMultiKeySql)),
    QueryDef("cdc_apply_upsert", applyUpsert, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_mor", applyUpsertMor, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_bucketed", applyUpsertBucketed, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_mor_bucketed", applyUpsertMorBucketed, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_dv", applyUpsertDv, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_dv_bucketed", applyUpsertDvBucketed, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_partitioned", applyUpsertPartitioned, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_partitioned_mor", applyUpsertPartitionedMor, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_composed", applyUpsertComposed, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_composed_mor", applyUpsertComposedMor, Some(applyUpsertSql)),
    QueryDef("cdc_apply_delete", applyDelete, Some(applyDeleteSql)),
    QueryDef("cdc_apply_delete_dv", applyDeleteDv, Some(applyDeleteSql)),
    QueryDef("cdc_apply_upsert_sql", applyUpsertViaSql, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_partial", applyUpsertPartialViaSql, Some(applyUpsertPartialSql)),
    QueryDef("cdc_apply_merge_conditional", applyMergeConditional, Some(applyMergeConditionalSql)),
    QueryDef("cdc_apply_upsert_catalog", applyUpsertViaCatalog, Some(applyUpsertSql)),
    QueryDef("cdc_migrate_layout", applyUpsertMigrated, Some(applyUpsertSql)),
    QueryDef("cdc_apply_upsert_hidden", applyUpsertHidden, Some(applyUpsertSql)),
    QueryDef("cdc_dynamic_overwrite", dynamicOverwriteGate, Some(dynamicOverwriteSql)),
    QueryDef("cdc_branch_wap", applyUpsertWapBranch, Some(applyUpsertSql)),
    QueryDef("catalog_spj_join", catalogSpjJoin, Some(catalogSpjJoinSql)),
    QueryDef("catalog_sorted_join", catalogSortedJoin, Some(catalogSpjJoinSql)),
    QueryDef("cdc_analyze_stats", analyzeStatsGate, Some(analyzeStatsSql)),
    QueryDef("catalog_ctas_clustered", catalogCtasClustered, Some(catalogCtasClusteredSql)),
    QueryDef("catalog_dv_batch_read", catalogDvBatchRead, Some(catalogDvBatchReadSql)),
    QueryDef("mergetable_agg_pushdown", aggPushdown, Some(aggPushdownSql)),
    QueryDef("mergetable_agg_pushdown_partitioned", aggPushdownPartitioned, Some(aggPushdownPartitionedSql)),
    QueryDef("mergetable_shallow_clone", shallowCloneUpsert, Some(applyUpsertSql)),
    QueryDef("cdc_apply_delete_sql", applyDeleteViaSql, Some(applyDeleteSql)),
    QueryDef("cdc_apply_update_sql", applyUpdateViaSql, Some(applyUpdateSql)),
    QueryDef("cdc_change_feed", changeFeed, Some(changeFeedSql)),
    QueryDef("cdc_change_feed_replay", changeFeedReplay, Some(changeFeedReplaySql)),
    QueryDef("cdc_table_changes_sql", tableChangesSqlQuery, Some(changeFeedReplaySql)),
    QueryDef("cdc_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    QueryDef("cdc_scd2", scd2, Some(scd2Sql)),
    QueryDef("mergetable_source_read", sourceRead, Some(sourceReadSql)),
    QueryDef("mergetable_clustered_read", clusteredRead, Some(clusteredReadSql)),
    QueryDef("cdc_apply_full", applyFull, Some(applyFullSql)),
    QueryDef("schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
  )
}
