package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A commit lost the optimistic-concurrency CAS: another writer
  * claimed the version this operation was about to commit. Retry =
  * re-read and re-apply ([[MergeTable.withRetry]]). Subclasses the
  * JDK's ConcurrentModificationException for source compatibility,
  * but carries its own type so the retry loop can't be tricked into
  * re-running a mutation by an UNRELATED CME (e.g. a collection
  * mutated during iteration inside the caller's closure) — Iceberg's
  * CommitFailedException plays the same role.
  */
class CommitConflictException(msg: String)
  extends java.util.ConcurrentModificationException(msg)

/** A write batch (or, for ADD CONSTRAINT, the existing table data)
  * contains rows that fail a CHECK constraint — Delta's
  * InvariantViolationException role. The write commits nothing.
  */
class ConstraintViolationException(msg: String)
  extends IllegalStateException(msg)

/** Parquet-backed lake table with the write semantics the reference
  * gets from Iceberg: create-if-absent, append with schema evolution,
  * MERGE-style upsert, key-delete — plus the two write strategies the
  * reference configures per table (tables.json `write.merge.mode`):
  *
  *  - '''copy-on-write''' (default): upsert/delete rewrite the live
  *    data (matched rows replaced in place); reads are plain scans.
  *  - '''merge-on-read''': upsert/delete append small delta
  *    directories (deletes as tombstones); reads reconcile base +
  *    deltas (latest per key wins, tombstones drop) and deltas are
  *    auto-compacted into a new base after `maxDeltas` commits.
  *    Write-cheap, read-heavier — the right trade for high-rate CDC.
  *  - '''deletion-vectors''': upsert/delete never rewrite data files
  *    — superseded rows are masked by POSITIONAL delete files
  *    (`(file, row_index)` pairs, the Iceberg-v2 positional-delete /
  *    Delta deletion-vector idea), and an upsert's new rows land as a
  *    plain appended file. Reads anti-join the base scan against the
  *    broadcast mask on (file, pos) — no per-key shuffle
  *    reconciliation at all, which is what makes this mode cheaper to
  *    READ than MOR while staying O(batch) to write; compaction
  *    folds masks back into a clean base.
  *
  * Orthogonally, '''hash bucketing''' (`numBuckets`) makes writes
  * partition-scoped: data lives in per-bucket directories keyed by
  * hash(primary key). Under COW, upsert/delete rewrite ONLY the
  * buckets containing touched keys; under MOR, deltas stay O(batch)
  * and compaction rewrites only the buckets the pending deltas
  * touch. At 100 TB a CDC batch touching 0.1% of keys pays for
  * ~tens of buckets, not the table.
  *
  * Reference semantics being matched:
  *  - append w/ merge-schema: transaction_log_util.py:216-218
  *  - MERGE INTO ... WHEN MATCHED UPDATE SET * / NOT MATCHED INSERT *:
  *    transaction_log_util.py:279-284
  *  - DELETE FROM ... WHERE EXISTS(pk match): transaction_log_util.py:326-327
  *  - COW/MOR per-table modes: aws-emr-serverless/iceberg/config/tables.json
  *
  * Layout (all paths under `root`):
  * {{{
  *   data/<uuid>/...               immutable data directories
  *   manifests/v<NNNNN>.txt        typed entries, one per line:
  *                                   base:<dir>     live base data
  *                                   delta:<dir>    MOR delta (commit order)
  *                                   dv:<dir>       positional delete mask
  *                                   b<i>:<subdir>  bucket i's live dir
  *   _LATEST                       current manifest name (atomic pointer)
  * }}}
  * Commits are atomic: write data dir → write manifest → same-dir
  * rename of the pointer (atomic on POSIX). Readers resolve the
  * pointer once and only see fully-written manifests — the snapshot-
  * isolation idea Iceberg implements with its metadata tree.
  */
final class MergeTable(
    spark: SparkSession,
    val root: String,
    val keys: Seq[String],
    val mode: String = MergeTable.CopyOnWrite,
    val numBuckets: Option[Int] = None,
    val maxDeltas: Int = 8,
    val partitionCols: Seq[String] = Nil,
    val branch: String = MergeTable.MainBranch) {

  // BRANCHES (Iceberg refs): a branch is a forked manifest LINEAGE —
  // its own `branches/<name>/manifests/` dir seeded with a copy of the
  // fork-point manifest, version numbering continuing the parent's.
  // Data/stats/bloom dirs are shared (branch commits land new dirs in
  // the same `data/`), so branching is O(1 manifest copy) and
  // fast-forward is pure metadata. All mutators, time travel, and the
  // change feed on a branch instance address the branch lineage
  // unchanged — the ONE root of indirection is `manifestDir`.
  require(MergeTable.validRefName(branch), s"invalid branch name '$branch'")

  // VALUE partitioning (the data-lake date-partition layout,
  // complementing hash buckets): rows live in per-value directories
  // of `partitionCols`, upsert/delete rewrite ONLY the partitions the
  // batch touches (its own rows' partitions plus the partitions
  // currently holding the batch's keys — so a row MOVING partitions
  // is removed from its old home), and analytic reads prune whole
  // partition directories from pushed filters. The partition-scoped
  // rewrite composes with COW (per-batch partition rewrites) and with
  // MOR (O(batch) flat delta appends + dirty-partition compaction —
  // the standard high-rate CDC lake layout); deletion vectors don't
  // compose (masks address flat base files, and a partitioned dv
  // write would pay the same key-restricted scan as the COW rewrite
  // without its read-side payoff).
  //
  // The two layouts ALSO stack (partitionCols + numBuckets — the
  // Iceberg `PARTITIONED BY (date, bucket(n, id))` shape): rows live
  // in `_graft_p_<col>=<v>/…/_graft_bucket=<i>` leaf dirs ("pb"
  // manifest entries), analytic reads prune on the partition
  // predicate AND point lookups prune to one bucket, and the scoped
  // merge pays for the touched (partition × bucket) cells — with the
  // holder scan first cut by the key hash to the batch's buckets
  // across all partitions, something neither layout gives alone.
  require(partitionCols.isEmpty || mode == MergeTable.CopyOnWrite ||
      mode == MergeTable.MergeOnRead,
    "value partitioning composes with copy-on-write or merge-on-read only")

  // numBuckets composes with any write mode: bucketed COW rewrites
  // only touched buckets; bucketed MOR appends flat deltas and
  // compacts only the buckets those deltas touch; bucketed deletion
  // vectors mask positions inside per-bucket dirs (masks address
  // (file, pos) — the file path already carries the bucket), so a
  // write scans only the touched buckets for positions to mask, the
  // appended rows land bucket-partitioned, and compaction folds masks
  // back per dirty bucket. O(batch) writes + bucket-pruned reads in
  // one mode.

  private val rootPath = Paths.get(root)
  private val dataDir = rootPath.resolve("data")
  private val branchesDir = rootPath.resolve("branches")
  private val refsDir = rootPath.resolve("refs")
  private val manifestDir =
    if (branch == MergeTable.MainBranch) rootPath.resolve("manifests")
    else branchesDir.resolve(branch).resolve("manifests")
  private val pointer =
    if (branch == MergeTable.MainBranch) rootPath.resolve("_LATEST")
    else branchesDir.resolve(branch).resolve("_LATEST")

  private val Tombstone = MergeTable.TombstoneColName
  // the ONE definition lives on the companion (shared with the DSv2
  // writer's executor-side demux, which must produce byte-identical
  // leaf-dir names)
  private[graft] val BucketCol = MergeTable.BucketColName
  private val FileCol = "_graft_file"
  private val PosCol = "_graft_pos"
  // commit-version / within-run sequence stamps of the grouped
  // change-feed folds (changeRun / changeRunDv)
  private val RunCv = "_graft_run_cv"
  private val RunSeq = "_graft_run_seq"

  // -- metadata ------------------------------------------------------------

  /** The current snapshot = the HIGHEST-versioned manifest file. The
    * manifest's atomic appearance in `manifests/` IS the commit point
    * (the Delta-log rule): a writer that crashes after creating its
    * manifest has still committed (its data dirs were fully written
    * first), and one that crashes before has left nothing visible —
    * so no crash can wedge later writers. `_LATEST` is kept as a
    * best-effort convenience pointer, not the source of truth.
    */
  private def currentManifest(): Option[Path] = {
    val names = Option(manifestDir.toFile.list()).getOrElse(Array.empty[String])
      .filter(_.matches("v\\d+\\.txt"))
    if (names.isEmpty) None
    else Some(manifestDir.resolve(
      names.maxBy(_.stripPrefix("v").stripSuffix(".txt").toLong)))
  }

  /** The table version whose entries the current operation read —
    * the optimistic-concurrency base [[commit]] CASes against. Every
    * mutator re-reads the manifest (via [[entries]] or [[read]])
    * before building its commit, so the conflict window spans the
    * whole read-modify-write including the data write.
    */
  @volatile private var readVersion: Long = 0L

  private def manifestVersion(m: Path): Long =
    m.getFileName.toString.stripPrefix("v").stripSuffix(".txt").toLong

  /** The one place the manifest filename format lives. */
  private def manifestPath(version: Long): Path =
    manifestDir.resolve(f"v$version%05d.txt")

  /** Typed manifest entries in commit order. Bare lines are bases
    * (backward compat with the original format). RAW view: on an
    * incremental manifest this returns the `@delta` directive and
    * `+tag`/`-tag` op lines verbatim — every snapshot consumer must
    * go through [[resolveManifest]] instead; the raw parse is only
    * correct for per-manifest verbatim lines (`txn`, `sort`), which
    * full AND incremental manifests both carry in full.
    */
  private def parseManifest(m: Path): Seq[(String, String)] =
    MergeTable.parseManifestLines(m)

  /** Materialized manifest: this manifest's verbatim `txn`/`sort`
    * lines followed by its full data entry list, resolving
    * incremental (`@delta:<baseVersion>`) manifests against their
    * base chain in the same lineage directory. Commits write O(delta)
    * bytes (the Delta-log shape — at 1M-file scale a small append
    * must not rewrite a 1M-line manifest); reads pay a bounded chain
    * walk (the checkpoint interval caps depth) over immutable files.
    */
  private def resolveManifest(m: Path): Seq[(String, String)] =
    MergeTable.resolveManifestIn(m)

  /** True when `m` holds an incremental body. */
  private def isDeltaManifest(m: Path): Boolean =
    MergeTable.deltaBaseOf(m).isDefined

  /** Length of the `@delta` chain under `m` (0 = full manifest). */
  private def chainDepth(m: Path): Int = MergeTable.chainDepthOf(m)

  /** Data entries only: `txn` watermark lines (idempotent-writer
    * bookkeeping, see [[txn]]) ride the same manifest for atomicity
    * but are invisible to every snapshot/diff consumer.
    */
  private def entries(): Seq[(String, String)] =
    currentManifest() match {
      case Some(m) if Files.exists(m) =>
        readVersion = manifestVersion(m)
        resolveManifest(m).filterNot(e =>
          e._1 == "txn" || e._1 == "sort" || e._1 == "op")
      case _ =>
        readVersion = 0L
        Nil
    }

  /** The within-bucket sort recorded by the CURRENT manifest, if any
    * (see [[sortBuckets]]): the `sort` marker line rides the sorting
    * rewrite's own commit and — because every later commit rebuilds
    * its manifest from [[entries]], which drops it — is invalidated
    * by ANY subsequent write. Physical column names.
    */
  def currentSortedBy(): Seq[String] =
    currentManifest().toSeq.flatMap(parseManifest).collectFirst {
      case ("sort", cols) => cols.split(",").toSeq
    }.getOrElse(Nil)

  /** Per-application transaction watermarks recorded in the current
    * manifest (Delta's txnAppId/txnVersion idempotent-writer state).
    */
  def txns(): Map[String, Long] =
    currentManifest().toSeq.flatMap(parseManifest).collect {
      case ("txn", kv) =>
        val Array(app, v) = kv.split("=", 2)
        app -> v.toLong
    }.toMap

  /** The last committed transaction version for `appId`, if any. */
  def lastTxn(appId: String): Option[Long] = txns().get(appId)

  /** The txn line to attach to the next commit — set ONLY while
    * [[recordTxnMarker]] writes its completion marker. Volatile, not
    * thread-safe across concurrent txn() calls on ONE instance —
    * writers use an instance per stream/thread, same as the rest of
    * the mutator surface.
    */
  @volatile private var pendingTxn: Option[(String, Long)] = None
  @volatile private var inTxn: Boolean = false
  @volatile private var txnCommitCount: Int = 0

  /** Operation label the NEXT commits record (Delta's
    * `DESCRIBE HISTORY` operation column): public mutators wrap their
    * body so every commit they produce carries an `op:` line — a
    * verbatim per-manifest metadata line like `txn`, never part of
    * the entry diff. Nested wraps keep the innermost label (an
    * auto-compaction inside an upsert records `compact`).
    */
  @volatile private var pendingOp: String = ""
  private def withOp[T](name: String)(body: => T): T = {
    val prev = pendingOp
    pendingOp = name
    try body finally pendingOp = prev
  }

  /** Idempotent writer transaction (Delta's txnAppId/txnVersion):
    * runs `op` only when `version` is strictly newer than the last
    * committed watermark for `appId`. The watermark is recorded by a
    * COMPLETION MARKER commit after the op's own commits all landed
    * (same entries + the txn line) — so the skip decision implies the
    * WHOLE op committed, not just its first commit: a multi-commit op
    * (a write and the auto-compaction it triggers, several writes
    * under one batch id) that crashes midway leaves no watermark and
    * replays in full, which per-batch idempotence makes safe;
    * recording on the first commit instead would make replay skip the
    * op's unfinished tail and lose it forever. An op that commits
    * nothing records nothing (replay re-runs the no-op). Returns None
    * on skip.
    */
  def txn[T](appId: String, version: Long)(op: => T): Option[T] = {
    require(!appId.contains("=") && !appId.contains("\n") && !appId.contains(":"),
      s"txn appId must not contain '=', ':' or newline: $appId")
    if (lastTxn(appId).exists(_ >= version)) None
    else {
      txnCommitCount = 0
      inTxn = true
      val result = try op finally inTxn = false
      if (txnCommitCount > 0) recordTxnMarker(appId, version)
      Some(result)
    }
  }

  /** Single-commit idempotent writer transaction: the watermark line
    * rides the op's OWN commit (Delta's SetTransaction-in-the-same-
    * commit shape), so there is NO window where the data committed but
    * the watermark did not — replay after any crash either re-runs a
    * never-committed op or skips a fully-committed one. This is the
    * form NON-idempotent single-commit ops (a plain append) must use;
    * [[txn]]'s separate completion marker is for multi-commit ops,
    * which replay in full and must therefore be per-batch idempotent.
    * An op that commits more than once fails loudly after the fact —
    * its first commit already carried the watermark, so a crash
    * between its commits would make replay skip the unfinished tail.
    */
  def txnAtomic[T](appId: String, version: Long)(op: => T): Option[T] = {
    require(!appId.contains("=") && !appId.contains("\n") && !appId.contains(":"),
      s"txn appId must not contain '=', ':' or newline: $appId")
    if (lastTxn(appId).exists(_ >= version)) None
    else {
      txnCommitCount = 0
      inTxn = true
      pendingTxn = Some(appId -> version)
      val result =
        try op
        finally { inTxn = false; pendingTxn = None }
      require(txnCommitCount <= 1,
        s"txnAtomic($appId, $version) op committed $txnCommitCount times; the " +
          "watermark rode its FIRST commit, so a crash between its commits " +
          "would lose the tail on replay — multi-commit ops must use txn()")
      Some(result)
    }
  }

  private def recordTxnMarker(appId: String, version: Long): Unit = {
    var attempts = 0
    while (true) {
      val es = entries()
      val baseV = readVersion
      pendingTxn = Some(appId -> version)
      try { commitAt(es, baseV); pendingTxn = None; return }
      catch {
        case e: CommitConflictException =>
          pendingTxn = None
          attempts += 1
          if (attempts > 20) throw e
      }
    }
  }

  private val metaPath = rootPath.resolve("_META.json")

  /** Self-describing table: keys/mode/buckets persist next to the data
    * so a catalog (or another session) can open the table without
    * out-of-band knowledge — the role Iceberg's table metadata plays.
    * Written once on first commit; callers opening via
    * [[MergeTable.open]] get the recorded configuration.
    */
  private def persistMeta(): Unit = if (!Files.exists(metaPath)) {
    Files.createDirectories(rootPath)
    MergeTable.writeMeta(root,
      MergeTable.Meta(keys, mode, numBuckets, None, partitionCols = partitionCols))
  }

  /** Atomic commit with optimistic concurrency: the manifest body is
    * staged to a temp file and hard-linked into the `readVersion + 1`
    * slot — POSIX link() is atomic and fails if the target exists, so
    * exactly ONE writer can claim a version (Iceberg's commit CAS
    * role) and readers can never observe a half-written manifest. A
    * loser learns a concurrent writer committed after this operation
    * read the table and raises instead of silently overwriting the
    * other manifest or publishing a snapshot built from stale entries
    * (the lost-update anomaly). The caller re-reads and retries.
    */
  /** Returns the version this commit claimed — callers needing the
    * committed version use the return value, not the shared
    * `readVersion` (which a concurrent reader on the same instance
    * may have advanced in the meantime).
    */
  /** Test hook: runs at the top of every commit attempt, inside the
    * read→CAS conflict window, so specs can deterministically
    * interleave a concurrent winner without racing real threads.
    */
  private[cdc] var onBeforeCommit: () => Unit = () => ()

  private def commit(newEntries: Seq[(String, String)]): Long =
    commitAt(newEntries, readVersion)

  /** Commit against an EXPLICIT base version. Mutators whose
    * read-modify-write internally re-reads the manifest (the DV
    * paths' writeMask) must pin the version their entry snapshot was
    * read at: the instance-level `readVersion` advances on every
    * internal re-read, and a commit built from an older snapshot but
    * CASed at a newer version would silently drop the interleaved
    * writer's entries (lost update with a SUCCEEDING CAS — the one
    * shape the conflict machinery cannot catch after the fact).
    */
  private def commitAt(newEntries: Seq[(String, String)], baseVersion: Long): Long = {
    // txnAtomic's single-commit guard must fire BEFORE a second commit
    // can land: the first commit already carried the watermark, so if a
    // misused multi-commit op crashed between its commits, replay would
    // silently skip the unfinished tail. (pendingTxn is set during the
    // op only under txnAtomic — txn() records its marker after the op.)
    require(!(inTxn && pendingTxn.isDefined && txnCommitCount >= 1),
      s"txnAtomic op attempted a SECOND commit (appId=${pendingTxn.map(_._1).getOrElse("?")}); " +
        "the watermark rode its first commit, so a crash between commits " +
        "would lose the tail on replay — multi-commit ops must use txn()")
    onBeforeCommit()
    // a branch lineage only accepts commits once createBranch recorded
    // its fork — otherwise a typo'd branch name would silently start
    // an EMPTY independent lineage instead of a fork
    if (branch != MergeTable.MainBranch && baseVersion == 0)
      require(Files.exists(branchesDir.resolve(branch).resolve("_FORK")),
        s"branch '$branch' at $root was never created — run createBranch first")
    Files.createDirectories(manifestDir)
    persistMeta()
    val version = baseVersion + 1
    val target = manifestPath(version)
    // txn watermarks carry forward from the base manifest and merge
    // the pending one — they ride every commit (and survive rebases,
    // which re-enter here with an advanced base version)
    val baseM = manifestPath(baseVersion)
    val carried: Map[String, Long] =
      (if (baseVersion > 0 && Files.exists(baseM))
        parseManifest(baseM).collect { case ("txn", kv) =>
          val Array(app, v) = kv.split("=", 2); app -> v.toLong
        }.toMap
      else Map.empty[String, Long]) ++ pendingTxn
    val txnLines = carried.toSeq.sortBy(_._1).map { case (a, v) => s"txn:$a=$v" }
    val opLines = if (pendingOp.isEmpty) Nil else Seq(s"op:$pendingOp")
    // Incremental encoding (the Delta-log shape): when the new entry
    // list is the base's list minus some removals plus a trailing
    // suffix — every append/scoped commit — write only the diff plus
    // this commit's verbatim txn/sort lines, so commit cost is
    // O(changed entries), not O(table files). A 100 TB table holds
    // ~1M data files; a small streaming append must not rewrite a
    // 1M-line manifest on every trigger. Every `checkpointInterval`th
    // chain link falls back to a full manifest to bound the read-side
    // chain walk, and any non-diff-shaped commit (restore, layout
    // migration) writes full. Correctness is checked by ROUND-TRIP:
    // the encoded diff is accepted only if replaying it over the base
    // reproduces `newEntries` exactly.
    val fullBody =
      (opLines ++ txnLines ++ newEntries.map { case (t, d) => s"$t:$d" }).mkString("\n")
    val deltaBody: Option[String] =
      if (baseVersion > 0 && Files.exists(baseM) &&
          chainDepth(baseM) + 1 < MergeTable.checkpointInterval(spark)) {
        // `sort` markers are per-manifest metadata (dropped by any
        // later commit), written verbatim like `txn` lines — the diff
        // covers data entries only, so raw-parse consumers of the
        // newest manifest's txn/sort lines stay correct on deltas
        val sortLines = newEntries.collect { case ("sort", c) => s"sort:$c" }
        val newData = newEntries.filterNot(_._1 == "sort")
        val baseData = resolveManifest(baseM)
          .filterNot(e => e._1 == "txn" || e._1 == "sort" || e._1 == "op")
        val newSet = newData.toSet
        val removed = baseData.filterNot(newSet.contains)
        val removedSet = removed.toSet
        val kept = baseData.filterNot(removedSet.contains)
        val appended = newData.drop(kept.length)
        if (kept ++ appended == newData &&
            removed.length + appended.length < newData.length) {
          val ops = removed.map { case (t, d) => s"-$t:$d" } ++
            appended.map { case (t, d) => s"+$t:$d" }
          Some((Seq(s"@delta:$baseVersion") ++ opLines ++ txnLines ++ sortLines ++ ops)
            .mkString("\n"))
        } else None
      } else None
    // Two-level checkpoint: when the commit cannot encode as a diff
    // (interval reached or non-diff shape) and the entry list is big
    // enough to matter, the checkpoint body is a manifest LIST over
    // immutable content-addressed segment files — unchanged runs
    // re-reference the previous checkpoint's segments, so checkpoint
    // cost is O(list + changed segments), not O(table files)
    val body = deltaBody.getOrElse {
      val dataEntries = newEntries.filterNot(_._1 == "sort")
      if (dataEntries.length >= 2 * MergeTable.segmentSize(spark)) {
        val sortLines = newEntries.collect { case ("sort", c) => s"sort:$c" }
        segmentedBody(
          if (baseVersion > 0 && Files.exists(baseM)) Some(baseM) else None,
          opLines ++ txnLines ++ sortLines, dataEntries)
      } else fullBody
    }
    val staged = manifestDir.resolve(s".staged.${UUID.randomUUID()}")
    Files.write(staged, body.getBytes)
    try Files.createLink(target, staged)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(staged)
        throw new CommitConflictException(
          s"concurrent commit to $root: version $version was committed by another " +
            "writer after this operation read the table; re-read and retry")
    } finally Files.deleteIfExists(staged)
    // best-effort convenience pointer (NOT the commit point — see
    // currentManifest); still atomic so its readers never see torn text
    val tmp = rootPath.resolve(s"_LATEST.tmp.${UUID.randomUUID()}")
    Files.write(tmp, target.getFileName.toString.getBytes)
    Files.move(tmp, pointer, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    readVersion = version
    if (inTxn) txnCommitCount += 1
    version
  }

  /** Build a two-level (`@segments:1`) checkpoint body for `data`
    * entries, reusing the previous checkpoint's segment files for
    * every contiguous unchanged run (greedy first-entry match), and
    * writing the rest as fresh content-addressed segments — full-size
    * chunks only; each run's trailing partial chunk stays inline as
    * `e:` lines (a partial chunk would never be re-referenced
    * verbatim, the next commits' appends land right after it).
    * Segment files land BEFORE the manifest CAS — a losing commit
    * leaves only unreferenced segments for vacuum's GC. Self-checked
    * by reconstruction before returning.
    */
  private def segmentedBody(baseM: Option[Path], metaLines: Seq[String],
      data: Seq[(String, String)]): String = {
    val segsDir = manifestDir.resolve("segs")
    Files.createDirectories(segsDir)
    val segSize = MergeTable.segmentSize(spark)
    // prior checkpoint's segments (the base's chain root), indexed by
    // first entry for O(1) candidate lookup during the greedy walk
    val prior: Seq[(String, Seq[(String, String)])] = baseM.toSeq.flatMap { b =>
      val chainRoot = MergeTable.chainRootOf(b)
      if (!MergeTable.isSegmentsManifest(chainRoot)) Nil
      else MergeTable.parseManifestLines(chainRoot).collect {
        case ("s", name) if Files.exists(chainRoot.getParent.resolve("segs").resolve(name)) =>
          name -> MergeTable.parseManifestLines(
            chainRoot.getParent.resolve("segs").resolve(name))
      }
    }
    val byFirst = prior.filter(_._2.nonEmpty).groupBy(_._2.head)
    def writeSeg(lines: Seq[(String, String)]): String = {
      val bytes = lines.map { case (t, d) => s"$t:$d" }.mkString("\n").getBytes
      val digest = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
        .map("%02x".format(_)).mkString
      val name = s"$digest.seg"
      val f = segsDir.resolve(name)
      if (!Files.exists(f)) {
        val stagedSeg = segsDir.resolve(s".staged.${UUID.randomUUID()}")
        Files.write(stagedSeg, bytes)
        try Files.move(stagedSeg, f, StandardCopyOption.ATOMIC_MOVE)
        catch { // concurrent writer of the SAME content — fine either way
          case _: java.nio.file.FileAlreadyExistsException => ()
        } finally Files.deleteIfExists(stagedSeg)
      } else {
        // content-dedup hit on a segment that may only be referenced by
        // an already-expired manifest — refresh its mtime so vacuum's
        // grace window protects it until this checkpoint's CAS; if it
        // vanished between the exists check and the touch, write fresh
        try Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        catch { case _: java.nio.file.NoSuchFileException | _: java.io.IOException =>
          val stagedSeg = segsDir.resolve(s".staged.${UUID.randomUUID()}")
          Files.write(stagedSeg, bytes)
          try Files.move(stagedSeg, f, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          finally Files.deleteIfExists(stagedSeg)
        }
      }
      name
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def flush(): Unit = {
      var i = 0
      while (pending.length - i >= segSize) {
        val chunk = pending.slice(i, i + segSize).toSeq
        out += s"s:${writeSeg(chunk)}"
        emitted ++= chunk
        i += segSize
      }
      pending.drop(i).foreach { case (t, d) =>
        out += s"e:$t:$d"; emitted += ((t, d))
      }
      pending.clear()
    }
    var i = 0
    while (i < data.length) {
      val reused = byFirst.getOrElse(data(i), Nil).iterator
        .filter(_._2.length <= data.length - i)
        .find { case (_, lines) => data.slice(i, i + lines.length) == lines }
      reused match {
        case Some((name, lines)) =>
          flush()
          // Refresh the reused segment's mtime so vacuum's age-gated GC
          // covers REUSE, not just fresh staging: concurrent
          // expireSnapshots can drop the prior checkpoint (the only
          // manifest referencing this segment) and a vacuum would then
          // see an old unreferenced file — deleting it just before this
          // checkpoint's CAS links it. Touching moves it inside the
          // grace window; if it already vanished, rewrite it fresh
          // (content-addressed: same bytes -> same name).
          val kept =
            try { Files.setLastModifiedTime(segsDir.resolve(name),
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())); name }
            catch { case _: java.nio.file.NoSuchFileException | _: java.io.IOException =>
              writeSeg(lines) }
          out += s"s:$kept"; emitted ++= lines; i += lines.length
        case None =>
          pending += data(i); i += 1
      }
    }
    flush()
    require(emitted.toSeq == data,
      s"segmented checkpoint round-trip mismatch at $root — refusing to commit")
    (Seq("@segments:1") ++ metaLines ++ out).mkString("\n")
  }

  // -- conflict-validated rebase commits -----------------------------------
  //
  // The plain commit CAS serializes EVERY pair of concurrent writers,
  // even two upserting disjoint date partitions — at 1000 executors
  // that turns a partitioned ingest fleet into a retry convoy, each
  // loser re-running its full read-modify-WRITE. Iceberg's answer is
  // conflict validation + rebase: a loser inspects what the winner
  // actually changed, and when the two commits provably compose
  // (disjoint scopes, no concurrently-added rows for its keys) it
  // re-anchors its ALREADY-WRITTEN entries on the winner's manifest
  // and retries only the metadata CAS. Soundness notes per shape:
  //  - hash buckets: a key's bucket is a pure hash, so disjoint
  //    bucket scopes imply disjoint key sets — rebase needs no data
  //    scan;
  //  - value partitions: partition dirs are value-addressed, so two
  //    writers CAN target the same key in different partitions; the
  //    rebase additionally scans the winner's ADDED dirs for this
  //    batch's keys (O(winner's batch)) and bails on overlap;
  //  - MOR delta appends: read-side reconciliation is per-key
  //    latest-by-manifest-order, so appending after the winner is
  //    exactly the serialization "this writer committed second" —
  //    always sound while the winner only added entries;
  //  - deletion vectors: reads do NOT reconcile per key, so appends
  //    rebase only when key-disjoint from the winner's added rows
  //    (and never over a compaction, which invalidates mask paths).

  /** True when the data dirs `winner` ADDED relative to `base` hold
    * any key of `ks` — the serializable-isolation validation: a
    * concurrent commit that landed rows for this operation's keys
    * cannot be rebased over (a serial execution would have merged
    * them). dv entries (position masks) and ing entries (copyInto
    * file ledgers) carry no key columns and are excluded. Costs one
    * scan of the winner's added dirs only.
    */
  private def addedKeysOverlap(base: Seq[(String, String)],
      winner: Seq[(String, String)], ks: DataFrame): Boolean = {
    val baseDirs = base.map(_._2).toSet
    val added = winner.filter { case (t, d) =>
      t != "dv" && t != "ing" && !baseDirs.contains(d) }
    added.nonEmpty &&
      !readDirs(added.map(_._2)).join(ks, keys, "left_semi").isEmpty
  }

  private def isSubsequence[A](sub: Seq[A], sup: Seq[A]): Boolean = {
    var i = 0
    sup.foreach { x => if (i < sub.length && sub(i) == x) i += 1 }
    i == sub.length
  }

  /** Append-shaped commit (adds entries, removes none) with automatic
    * rebase. On a CAS loss: if every entry this commit read still
    * exists in the winner's manifest (pure appends interleaved — no
    * compaction/rewrite removed dirs the new entries may reference),
    * the read-time delta order survives as a subsequence (precedence
    * intact for per-key reconciliation), and `validateKeys` (when
    * set) finds none of this batch's keys in the winner's added rows,
    * then the same already-written entries re-anchor on the winner's
    * manifest and only the metadata CAS retries. Anything else
    * surfaces as [[CommitConflictException]] for the caller's full
    * [[withRetry]] re-run.
    */
  private def commitAppend(readBase: Seq[(String, String)],
      added: Seq[(String, String)], validateKeys: Option[DataFrame],
      maxRebases: Int = 20, baseVersion: Long = -1L,
      conflictOnAddedTags: Set[String] = Set.empty): Long = {
    var base = readBase
    // pin the CAS target to the version `readBase` was read at —
    // internal manifest re-reads after that point (writeMask) advance
    // `readVersion` and would otherwise let a stale-base commit CAS-
    // succeed over an interleaved writer (silent lost update)
    var baseV = if (baseVersion >= 0) baseVersion else readVersion
    var rebases = 0
    while (true) {
      try return commitAt(base ++ added, baseV)
      catch {
        case e: CommitConflictException =>
          rebases += 1
          if (rebases > maxRebases) throw e
          val winner = entries()
          baseV = readVersion
          val winnerSet = winner.toSet
          if (!base.forall(winnerSet.contains)) throw e
          if (!isSubsequence(base.filter(_._1 == "delta"),
            winner.filter(_._1 == "delta"))) throw e
          if (conflictOnAddedTags.nonEmpty) {
            val baseDirs = base.map(_._2).toSet
            if (winner.exists(e =>
              conflictOnAddedTags.contains(e._1) && !baseDirs.contains(e._2)))
              throw e
          }
          if (validateKeys.exists(ks => addedKeysOverlap(base, winner, ks))) throw e
          base = winner
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Scope-replacing commit with automatic rebase: `updated` replaces
    * every entry whose scope id (per `scopeOf`) is in `touched`;
    * entries outside the scope carry over from the latest manifest.
    * On a CAS loss the commit rebases onto the winner when the
    * interleaved commits changed only scopes DISJOINT from `touched`
    * (an unscoped change — compaction, layout migration — always
    * conflicts) and, when `validateKeys` is set, introduced no rows
    * for this batch's keys. Writers rewriting disjoint buckets or
    * partitions then commit concurrently without re-running their
    * data writes.
    */
  private def commitScoped(readBase: Seq[(String, String)], touched: Set[String],
      updated: Seq[(String, String)],
      scopeOf: ((String, String)) => Option[String],
      validateKeys: Option[DataFrame], maxRebases: Int = 20,
      baseVersion: Long = -1L): Long = {
    var base = readBase
    var baseV = if (baseVersion >= 0) baseVersion else readVersion
    var rebases = 0
    while (true) {
      val untouched = base.filterNot(e => scopeOf(e).exists(touched.contains))
      try return commitAt(untouched ++ updated, baseV)
      catch {
        case e: CommitConflictException =>
          rebases += 1
          if (rebases > maxRebases) throw e
          val winner = entries()
          baseV = readVersion
          val changed = (base.toSet diff winner.toSet) ++ (winner.toSet diff base.toSet)
          val changedScopes = changed.toSeq.map(scopeOf)
          if (changedScopes.contains(None)) throw e
          if (changedScopes.flatten.exists(touched.contains)) throw e
          if (validateKeys.exists(ks => addedKeysOverlap(base, winner, ks))) throw e
          base = winner
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def writeData(df: DataFrame): String = {
    val dir = UUID.randomUUID().toString
    df.write.mode(SaveMode.Overwrite).parquet(dataDir.resolve(dir).toString)
    recordStats(dir)
    dir
  }

  /** Footer-derived per-file min/max beside the manifests — O(files)
    * at commit time, consulted by stats-pruned reads. With
    * `graft.mergetable.bloomIndex=true`, also one distributed bloom
    * aggregation over the key tuple per commit (O(batch)), consulted
    * by point-lookup pruned reads. Advisory: a failure to collect
    * must never fail the commit.
    */
  private def recordStats(dir: String): Unit = {
    try FileStats.write(rootPath, dir, FileStats.collect(dataDir, dir))
    catch { case _: Throwable => () }
    if (spark.conf.getOption("graft.mergetable.bloomIndex").contains("true"))
      try FileBlooms.buildIndex(spark, rootPath, dataDir, dir, keys)
      catch { case _: Throwable => () }
  }

  private def readDirs(dirs: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(dirs.map(d => dataDir.resolve(d).toString): _*)

  def exists: Boolean = currentManifest().isDefined

  /** Test hooks: pretend this instance last read `v` and attempt a
    * raw commit on that base, so specs can exercise the commit CAS
    * without a second thread.
    */
  private[cdc] def forceReadVersion(v: Long): Unit = readVersion = v
  private[cdc] def commitProbe(newEntries: Seq[(String, String)]): Unit =
    commit(newEntries)

  /** The manifest file of one committed version in THIS lineage
    * (inspection-table surface — raw bytes, see the object's
    * parse/resolve helpers).
    */
  private[graft] def manifestFile(v: Long): Path = manifestPath(v)

  /** Committed version numbers, ascending (manifests are immutable —
    * this is the time-travel index).
    */
  def versions(): Seq[Long] =
    Option(manifestDir.toFile.list()).getOrElse(Array.empty)
      .filter(_.matches("v\\d+\\.txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toLong).sorted.toSeq

  private def entriesAt(version: Long): Seq[(String, String)] = {
    val m = manifestPath(version)
    require(Files.exists(m), s"no version $version at $root")
    resolveManifest(m).filterNot(e =>
      e._1 == "txn" || e._1 == "sort" || e._1 == "op")
  }

  private def bucketExpr = pmod(xxhash64(keys.map(col): _*), lit(numBuckets.get))

  /** Both layouts declared: partition dirs nest per-bucket subdirs. */
  private def composed: Boolean = numBuckets.isDefined && partitionCols.nonEmpty

  /** The change batch's key set for COW anti-joins, broadcast when
    * small. Key-only and O(batch) — bounded by maxOffsetsPerTrigger in
    * the streaming path — but an unbounded batch API caller could OOM
    * the driver with a forced broadcast, so above
    * `graft.mergetable.broadcastKeyLimit` keys (default 4M) the hint
    * is dropped and the join shuffles instead (AQE still picks the
    * cheapest strategy). The size probe counts at most limit+1 key
    * rows, so it never materializes a huge batch to decide.
    */
  private def keySet(changes: DataFrame, dedup: Boolean = false): DataFrame = {
    val projected = changes.select(keys.map(col): _*)
    val k = if (dedup) projected.distinct() else projected
    val limit = broadcastKeyLimit
    val small = k.limit(math.min(limit + 1, Int.MaxValue.toLong).toInt).count() <= limit
    if (small) broadcast(k) else k
  }

  private def broadcastKeyLimit: Long =
    spark.conf.getOption("graft.mergetable.broadcastKeyLimit")
      .map(_.toLong).getOrElse(4000000L)

  /** Everything the scoped-merge paths need to know about a batch,
    * from ONE bounded collect: the buckets its keys hash into, the
    * leaf dirs its rows land in, whether any row lands at all, and
    * its distinct key set as a driver-local relation. Before this,
    * each was its own Spark job — bucket collect, leaf collect,
    * broadcast-size probe count, plus a fresh broadcast BUILD of the
    * key set per consuming join — and every one of them re-evaluated
    * the whole batch subtree (for the CDC gates, a window over the
    * change stream, re-run 4-6× per commit). The local-relation key
    * set makes each downstream broadcast build a driver-side
    * LocalTableScan, no batch recompute.
    */
  private final case class BatchSummary(
      buckets: Set[Long], leaves: Set[String], keySet: DataFrame, hasRows: Boolean)

  /** One job over a replace step's input (see [[replace]]): distinct
    * (partition cols…, bucket, keys…, landing) rows of `rows` ∪
    * `dropKeys`, abandoned (None) past `broadcastKeyLimit` rows so an
    * unbounded batch keeps the per-value multi-job path instead of
    * pulling itself onto the driver — the same memory bound the
    * broadcast key set already implied. Buckets and the key set cover
    * both inputs; leaf names (rendered when `withPartitions`) cover
    * only the landing `rows`.
    */
  private def batchSummary(rows: Option[DataFrame], dropKeys: Option[DataFrame],
      withPartitions: Boolean, withBucket: Boolean): Option[BatchSummary] = {
    val pcols = if (withPartitions && rows.isDefined) partitionCols else Nil
    val bucket = if (withBucket) Seq(bucketExpr.as(BucketCol)) else Nil
    val landing = "_graft_landing"
    val rowSide = rows.map(r => r.select(pcols.map(col) ++ bucket ++ keys.map(col) :+
      lit(true).as(landing): _*))
    val dropSide = dropKeys.map(d => d.select(pcols.map(c =>
      lit(null).cast(rows.get.schema(c).dataType).as(c)) ++ bucket ++ keys.map(col) :+
      lit(false).as(landing): _*))
    val projected = (rowSide.toSeq ++ dropSide).reduce(_.union(_)).distinct()
    val limit = broadcastKeyLimit
    val collected = projected.limit(math.min(limit + 1, Int.MaxValue.toLong).toInt).collect()
    if (collected.length > limit) return None
    val projSchema = projected.schema
    val bIdx = pcols.size
    val kOff = pcols.size + bucket.size
    val lIdx = kOff + keys.size
    val buckets =
      if (withBucket) collected.map(_.getLong(bIdx)).toSet else Set.empty[Long]
    val leaves =
      if (pcols.isEmpty) Set.empty[String]
      else collected.filter(_.getBoolean(lIdx)).map(leafName(_, withBucket)).toSet
    // a key may appear under several partition tuples, and once landing
    // and once dropped — dedupe by the key VALUES (Seq equality handles
    // nulls; binary values compare by content, not array identity),
    // never by Row identity
    val keyVals = collected.map(r => (kOff until lIdx).map(r.get))
      .distinctBy(_.map { case b: Array[Byte] => b.toSeq; case v => v })
    val keyRows: Seq[org.apache.spark.sql.Row] =
      keyVals.map(org.apache.spark.sql.Row.fromSeq).toSeq
    val ksLocal = spark.createDataFrame(keyRows.asJava,
      org.apache.spark.sql.types.StructType(projSchema.slice(kOff, lIdx)))
    Some(BatchSummary(buckets, leaves, broadcast(ksLocal), collected.exists(_.getBoolean(lIdx))))
  }

  /** Rows in the driver-local key set of a summary over `rows` ∪
    * `dropKeys` (test hook for the key dedupe).
    */
  private[cdc] def summaryKeyCount(rows: DataFrame, dropKeys: DataFrame): Option[Long] =
    batchSummary(Some(rows), Some(dropKeys), withPartitions = false, withBucket = false)
      .map(_.keySet.count())

  /** Exact row count of a just-written data dir, served from the
    * footer stats [[recordStats]] persisted at write time — a
    * driver-side JSON read instead of a Spark count job. None unless
    * the stats cover EVERY parquet file in the dir (stats are
    * advisory; a partial sum could undercount and must never be
    * served) and the dir lists at least one file (an empty listing
    * proves nothing about what was written), so callers fall back to
    * the count job.
    */
  private[cdc] def statsRowCount(dir: String): Option[Long] = {
    val base = dataDir.resolve(dir)
    FileStats.readFull(rootPath, dir).flatMap { full =>
      val files = FileStats.listParquetFiles(base).map(f => base.relativize(f).toString)
      if (files.nonEmpty && files.forall(full.contains)) Some(files.map(full(_).rows).sum)
      else None
    }
  }

  // -- read ----------------------------------------------------------------

  /** Snapshot read. COW: plain scan of live dirs. MOR: reconcile base
    * + ordered deltas (latest per key, tombstones drop). `mergeSchema`
    * unions schemas so appends that added columns read with nulls
    * back-filled — the reference's accept-any-schema behavior.
    */
  def read(): DataFrame = toLogical(rewriteSource())

  /** The frame COW rewrites, compactions and clustering re-store:
    * PHYSICAL column names (a rewrite must never leak logical names
    * into data files — the column mapping is permanent, like Delta's)
    * minus metadata-dropped columns, which the rewrite thereby
    * physically reclaims (the Iceberg metadata-drop contract). Time
    * travel and the change feed keep history.
    */
  private def rewriteSource(): DataFrame = {
    val df = readEntries(entries())
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
      .filter(df.columns.contains)
    if (dropped.isEmpty) df else df.drop(dropped: _*)
  }

  /** The column-mapping table (logical surface name → physical stored
    * name), read fresh so DDL applied by any other instance is seen.
    */
  private def renames: Map[String, String] =
    MergeTable.readMeta(root).map(_.renames).getOrElse(Map.empty)

  /** HIDDEN partitioning (Iceberg's `days(ts)` transform): derived
    * partition column → source column, read fresh like [[renames]].
    * The derived column is INJECTED into write batches (day string of
    * the source timestamp), stored with the rows (so key-addressed
    * scoped merges and compactions see it), dropped from every public
    * read surface, and absent from the declared schema — callers
    * write and read only the source column, yet the layout, pruning,
    * SHOW PARTITIONS, and partition-scoped maintenance all work on
    * the derived day dirs.
    */
  private def derivedPartitions: Map[String, String] =
    MergeTable.readMeta(root).map(_.derivedPartitions).getOrElse(Map.empty)

  /** Inject derived partition columns into a write batch (no-op when
    * the batch already carries them — base rows re-written by a
    * scoped merge do). The transform granularity is carried by the
    * derived column's NAME suffix, fixed at CREATE: `<src>_day` =
    * days(src) (date string), `<src>_month` = months(src) (yyyy-MM).
    */
  private def withDerived(df: DataFrame): DataFrame =
    derivedPartitions.foldLeft(df) { case (d, (c, src)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, MergeTable.derivedColumn(c, col(src)))
    }

  /** physical → logical rename at every public read surface: data
    * files keep their physical names forever, so renamed columns —
    * including in TIME-TRAVEL reads of pre-rename versions and the
    * change feed — always surface under the current logical name.
    */
  private def toLogical(df: DataFrame): DataFrame = {
    // derived partition columns are LAYOUT artifacts, not table
    // columns — every public read surface hides them (Iceberg's
    // hidden-partitioning contract)
    val hidden = derivedPartitions.keys.toSeq.filter(df.columns.contains)
    val visible = if (hidden.isEmpty) df else df.drop(hidden: _*)
    // ONE positional pass over all names at once (toDF), never a
    // sequential withColumnRenamed fold: a legal RENAME chain whose
    // intermediate name is later reused makes the fold rename the
    // wrong (just-renamed) column and emit duplicate names
    val phys2log = renames.collect { case (l, p) if l != p => p -> l }
    if (phys2log.isEmpty) visible
    else visible.toDF(visible.columns.map(c => phys2log.getOrElse(c, c)).toIndexedSeq: _*)
  }

  /** logical → physical translation for incoming write batches. */
  private def toPhysical(df: DataFrame): DataFrame = {
    val log2phys = renames.filter { case (l, p) => l != p }
    if (log2phys.isEmpty) df
    else df.toDF(df.columns.map(c => log2phys.getOrElse(c, c)).toIndexedSeq: _*)
    }

  /** Time travel: snapshot as of a committed version (manifests are
    * never rewritten, so any un-vacuumed version stays readable).
    */
  def readVersion(version: Long): DataFrame = toLogical(snapshotAt(version))

  /** Physical-name snapshot at a version — every internal consumer
    * (diffs, rewrites, masks) works in physical space; only the
    * public surfaces rename.
    */
  private def snapshotAt(version: Long): DataFrame = readEntries(entriesAt(version))

  /** Roll the table back to an earlier committed snapshot by
    * COMMITTING a new version carrying the old version's entries —
    * Delta's RESTORE shape: history only rolls forward, nothing is
    * rewritten or deleted, so time travel still sees the undone
    * versions and concurrent writers still race through the same
    * commit CAS. Data the undone versions introduced merely becomes
    * unreferenced, for [[vacuum]] to reclaim. Returns the NEW
    * (post-restore) table version.
    */
  def restore(version: Long): Long = withOp("restore") {
    val target = entriesAt(version)
    entries() // refresh readVersion — the optimistic-concurrency base
    require(version <= readVersion, s"cannot restore $root to $version: latest is $readVersion")
    commit(target)
  }

  /** Commit-log facts per version, oldest first: (version, commit
    * wall-clock millis — the same manifest mtime that `timestampAsOf`
    * resolves against — base entry count, delta entry count, and the
    * operation label the committing mutator recorded (`op:` manifest
    * line; empty for commits that predate labels or bypassed the
    * public mutator surface).
    */
  def history(): Seq[(Long, Long, Int, Int, String)] =
    versions().map { v =>
      val es = entriesAt(v)
      // the op label is verbatim per manifest (full AND incremental) —
      // a raw parse reads it without resolving the chain
      val op = parseManifest(manifestPath(v))
        .collectFirst { case ("op", name) => name }.getOrElse("")
      (v, Files.getLastModifiedTime(manifestPath(v)).toMillis,
        es.count(_._1 == "base"), es.count(_._1 == "delta"), op)
    }

  /** Change feed between two committed versions: one row per changed
    * key with `_change` = I (inserted), U (updated), D (deleted) and
    * the row image (after-image for I/U, before-image for D) — the
    * outbound counterpart of the CDC ingestion path, computed as a
    * single full-outer join of the two snapshots on the primary key.
    *
    * With `updatePreImages = true` each update instead emits TWO rows
    * — `U_pre` (before-image) then `U_post` (after-image), the shape
    * Delta's change-data-feed publishes — which is what downstream
    * incremental aggregate maintenance needs: without the pre-image a
    * consumer cannot retract the old value from a running sum. Still
    * one join pass: the pre/post rows come from a 2-element explode
    * of the already-joined row, not a second join of the snapshots.
    */
  def changesBetween(fromVersion: Long, toVersion: Long,
      updatePreImages: Boolean = false): DataFrame =
    toLogical(changesImpl(fromVersion, toVersion, updatePreImages, None))

  private def changesImpl(fromVersion: Long, toVersion: Long,
      updatePreImages: Boolean,
      restrictTo: Option[DataFrame]): DataFrame = {
    val after0 = snapshotAt(toVersion)
    // version 0 = the empty table before the first commit, so a feed
    // can replay history from the beginning (everything starts as I)
    val before0 = if (fromVersion == 0L) after0.limit(0) else snapshotAt(fromVersion)
    // key restriction (delta-append commits only): keys outside the
    // committed batch provably did not change, so both snapshots are
    // cut to the batch's key set BEFORE the diff join — with AQE the
    // small key set broadcasts and the snapshots never shuffle here
    val after = restrictTo.map(k => after0.join(k, keys, "left_semi")).getOrElse(after0)
    val before = restrictTo.map(k => before0.join(k, keys, "left_semi")).getOrElse(before0)
    val common = before.columns.intersect(after.columns).filterNot(keys.contains).toSeq
    val b = before.select((keys ++ common).map(col): _*)
      .withColumn("_b", lit(true))
      .withColumnsRenamed(common.map(c => c -> s"_b_$c").toMap)
    val a = after.select((keys ++ common).map(col): _*)
      .withColumn("_a", lit(true))
    val joined = b.join(a, keys, "full_outer")
    // compare RAW after vs before values (null-safe) — coalescing here
    // would both hide updates that set a column to NULL and emit the
    // stale before-value as the after-image
    val changed =
      if (common.isEmpty) lit(false)
      else common.map(c => !(col(c) <=> col(s"_b_$c"))).reduce(_ || _)
    val changeOp = when(col("_b").isNull, CdcModel.OpInsert)
      .when(col("_a").isNull, CdcModel.OpDelete)
      .otherwise(CdcModel.OpUpsert)
    val filtered = joined
      .withColumn("_change", changeOp)
      .filter(col("_change") =!= CdcModel.OpUpsert || changed)
    if (!updatePreImages)
      filtered.select(
        keys.map(col) ++
          common.map(c =>
            when(col("_a").isNull, col(s"_b_$c")).otherwise(col(c)).as(c)) :+
          col("_change"): _*)
    else {
      def img(change: Column, pre: Boolean): Column = struct(
        (common.map(c => (if (pre) col(s"_b_$c") else col(c)).as(c)) :+
          change.as("_change")): _*)
      val rows = when(col("_b").isNull, array(img(lit(CdcModel.OpInsert), pre = false)))
        .when(col("_a").isNull, array(img(lit(CdcModel.OpDelete), pre = true)))
        .otherwise(array(img(lit("U_pre"), pre = true), img(lit("U_post"), pre = false)))
      filtered
        .select(keys.map(col) :+ explode(rows).as("_r"): _*)
        .select(keys.map(col) ++ common.map(c => col(s"_r.$c")) :+ col("_r._change"): _*)
    }
  }

  /** Batch change feed over `(fromVersion, toVersion]` with
    * PER-VERSION replay semantics — each key reports its LATEST
    * change inside the window, the way Delta's `table_changes`
    * answers "what happened to each row": a row inserted then deleted
    * within the window surfaces as `D` (with its last before-image),
    * and an insert-then-update surfaces as `U`. Contrast with
    * [[changesBetween]], which nets the two endpoint snapshots — the
    * right primitive for incremental view maintenance (apply the net
    * delta once) but the wrong one for an audit/CDF consumer, for whom
    * netting erases intra-window history.
    *
    * Implementation: one [[changesBetween]] per committed version in
    * the window (consecutive-snapshot diff), unioned with a commit
    * tag, then cut to each key's newest change with a window-max over
    * the primary key — high-cardinality partitioning, one shuffle.
    * Cost is O(versions) snapshot diffs, the honest price of
    * per-version fidelity; callers wanting a cheap catch-up delta use
    * `changesBetween` directly. The commit tag is dropped so the
    * frame is exactly snapshot-schema + `_change` (matching the batch
    * reader's contract); consumers needing commit provenance tail the
    * streaming source, which emits `_commit_version` per batch.
    */
  def changeFeed(fromVersion: Long, toVersion: Long,
      updatePreImages: Boolean = false): DataFrame = {
    val stepVs = versions().filter(v => v > fromVersion && v <= toVersion)
    if (stepVs.isEmpty) return changesBetween(toVersion, toVersion, updatePreImages)
    // classify each step: ADDITIVE commits — MOR delta appends (Left)
    // and dv upsert/delete commits (Right: masks + sibling data dirs,
    // nothing removed) — can share ONE grouped diff per run of the
    // same kind (changeRun / changeRunDv), so a window of N such
    // commits plans O(runs) jobs, not O(N). The dv entry is REQUIRED
    // for the Right kind: a mask-less additive commit may be a bronze
    // append carrying duplicate keys, which has no per-key state
    val steps = (fromVersion +: stepVs.init).zip(stepVs).map { case (lo, hi) =>
      val before = if (lo == 0L) Seq.empty else entriesAt(lo)
      val after = entriesAt(hi)
      val added = after.filterNot(before.contains)
      val removed = before.filterNot(after.contains)
      val kind: Option[Either[Seq[String], Seq[(String, String)]]] =
        if (removed.nonEmpty || added.isEmpty) None
        else if (added.forall(_._1 == "delta")) Some(Left(added.map(_._2)))
        else if (added.exists(_._1 == "dv") &&
            added.forall(e => e._1 == "dv" || e._1 == "base" || e._1.matches("b\\d+")))
          Some(Right(added))
        else None
      (lo, hi, kind)
    }
    val segs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val run = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Either[Seq[String], Seq[(String, String)]])]
    def stepSeg(lo: Long, hi: Long): DataFrame =
      changeStep(lo, hi, updatePreImages).withColumn("_commit_version", lit(hi))
    def flushRun(): Unit = if (run.nonEmpty) {
      val lo = run.head._1
      val runDataDirs = run.toSeq.flatMap {
        case (_, _, Left(ds)) => ds
        case (_, _, Right(es)) =>
          es.filter(e => e._1 == "base" || e._1.matches("b\\d+")).map(_._2)
      }
      if (run.size == 1) segs += stepSeg(lo, run.head._2)
      else if (runSchemaUniform(lo, runDataDirs))
        segs += (run.head._3 match {
          case Left(_) => changeRun(lo,
            run.toSeq.collect { case (_, h, Left(ds)) => (h, ds) }, updatePreImages)
          case Right(_) => changeRunDv(lo,
            run.toSeq.collect { case (_, h, Right(es)) => (h, es) }, updatePreImages)
        })
      else
        // a run that introduces new columns mid-run falls back to
        // per-version steps: the netted per-step diff compares only
        // columns present in BOTH snapshots, which the grouped fold
        // cannot reproduce without a per-version column set
        run.foreach { case (l, h, _) => segs += stepSeg(l, h) }
      run.clear()
    }
    steps.foreach {
      case (lo, hi, Some(k)) =>
        // runs are homogeneous: a kind switch closes the open run
        if (run.nonEmpty && run.head._3.isLeft != k.isLeft) flushRun()
        run += ((lo, hi, k))
      case (lo, hi, None) => flushRun(); segs += stepSeg(lo, hi)
    }
    flushRun()
    // schema evolution: columns added by later versions read as
    // nulls for earlier ranges via unionByName
    val all = segs.reduce(_.unionByName(_, allowMissingColumns = true))
    // filter (not max_by) so a U_pre/U_post pair from the winning
    // version survives intact
    val perKey = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    toLogical(all.withColumn("_maxv", max(col("_commit_version")).over(perKey))
      .filter(col("_commit_version") === col("_maxv"))
      .drop("_maxv", "_commit_version"))
  }

  /** True when no data dir of the run carries a column outside the
    * run's base schema (run-start snapshot; for a from-0 run, the
    * first dir) — the condition under which the grouped fold and
    * the per-version diffs agree exactly. Driver-side footer reads,
    * O(dirs).
    */
  private def runSchemaUniform(lo: Long, dirs: Seq[String]): Boolean = {
    val dirCols = dirs.map(d =>
      spark.read.parquet(dataDir.resolve(d).toString)
        .schema.fieldNames.toSet - Tombstone)
    val base =
      if (lo == 0L) dirCols.headOption.getOrElse(Set.empty)
      else snapshotAt(lo).columns.toSet
    dirCols.forall(_.subsetOf(base))
  }

  /** ONE grouped diff for a run of consecutive delta-append commits
    * `(lo, last]` — the O(runs) replay path. MOR reconciliation is
    * row-replacement, so a key's state after each commit IS its
    * latest delta row: the run's per-key state chain is the
    * key-restricted run-start snapshot (seq 0) followed by the run's
    * delta rows in commit order. Each link is classified against its
    * predecessor with `lag` (tombstone over live = D, live over
    * absent/tombstone = I, live over different live = U, equal or
    * tombstone-over-absent = no-op), and the key's LATEST effective
    * change — tagged `_commit_version` from its own commit — is what
    * the outer per-key combiner sees, exactly as if every version had
    * been diffed separately. One window over the unbounded PK instead
    * of one full-outer join per version.
    */
  private def changeRun(lo: Long, runSteps: Seq[(Long, Seq[String])],
      updatePreImages: Boolean): DataFrame = {
    val parts = runSteps.flatMap { case (v, dirs) => dirs.map(d => (v, d)) }
    val tagged = parts.zipWithIndex.map { case ((v, d), i) =>
      readDirs(Seq(d)).withColumn(RunCv, lit(v)).withColumn(RunSeq, lit((i + 1).toLong))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    changeRunFromTagged(lo, tagged, updatePreImages)
  }

  /** ONE grouped diff for a run of consecutive ADDITIVE dv commits
    * `(lo, last]` — [[changeRun]]'s counterpart for the deletion-
    * vector write path, where an upsert adds masks + sibling data
    * dirs and a delete adds masks only, leaving every prior entry in
    * place. A key's effective state after each commit is its commit's
    * appended row (live) or, when only masked, absent (tombstone) —
    * so the run folds into the same per-key chain as a MOR run. The
    * per-commit masked keys are recovered with ONE positional join
    * for the whole run: every file visible during it (run-start bases
    * + run-added dirs) scans once with (file, pos) against the union
    * of the run's masks tagged by commit seq. Masks are disjoint by
    * construction (writeMask consults the already-masked snapshot),
    * and a same-commit appended row supersedes its key's mask — that
    * commit is an update, not a delete+insert.
    */
  private def changeRunDv(lo: Long, runSteps: Seq[(Long, Seq[(String, String)])],
      updatePreImages: Boolean): DataFrame = {
    def dataDirs(es: Seq[(String, String)]): Seq[String] =
      es.filter(e => e._1 == "base" || e._1.matches("b\\d+")).map(_._2)
    val withSeq = runSteps.zipWithIndex.map { case ((v, es), i) => (v, es, (i + 1).toLong) }
    val appends = withSeq.flatMap { case (v, es, seq) =>
      val ds = dataDirs(es)
      if (ds.isEmpty) None
      else Some(readDirs(ds).withColumn(RunCv, lit(v)).withColumn(RunSeq, lit(seq)))
    }
    val maskParts = withSeq.flatMap { case (v, es, seq) =>
      val dvDirs = es.filter(_._1 == "dv").map(_._2)
      if (dvDirs.isEmpty) None
      else Some(readDirs(dvDirs).select(col(FileCol), col(PosCol))
        .withColumn(RunCv, lit(v)).withColumn(RunSeq, lit(seq)))
    }
    val tombs = maskParts.reduceOption(_.unionByName(_)).map { masks =>
      val visible = (if (lo == 0L) Seq.empty else entriesAt(lo))
        .filter(e => e._1 == "base" || e._1.matches("b\\d+")).map(_._2) ++
        runSteps.flatMap(s => dataDirs(s._2))
      val scan = readDirs(visible).select(
        keys.map(col) :+ col("_metadata.file_path").as(FileCol) :+
          col("_metadata.row_index").as(PosCol): _*)
      val masked = scan.join(masks, Seq(FileCol, PosCol))
        .select(keys.map(col) ++ Seq(col(RunCv), col(RunSeq)): _*)
      val appendedKeys = withSeq.flatMap { case (_, es, seq) =>
        val ds = dataDirs(es)
        if (ds.isEmpty) None
        else Some(readDirs(ds).select(keys.map(col): _*).withColumn(RunSeq, lit(seq)))
      }
      appendedKeys.reduceOption(_.unionByName(_))
        .map(ak => masked.join(ak, keys :+ RunSeq, "left_anti"))
        .getOrElse(masked)
        .withColumn(Tombstone, lit(true))
    }
    val tagged = (appends ++ tombs)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    changeRunFromTagged(lo, tagged, updatePreImages)
  }

  /** The shared run fold: `tagged` carries one effective row per
    * (key, commit-in-run) — a live row or a `Tombstone`=true marker —
    * stamped with [[RunCv]]/[[RunSeq]]; each key's chain is
    * classified against its predecessor and the latest effective
    * change survives, exactly as if every version had been diffed
    * separately. One window over the unbounded PK instead of one
    * full-outer join per version.
    */
  private def changeRunFromTagged(lo: Long, tagged: DataFrame,
      updatePreImages: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val CvCol = RunCv
    val SeqCol = RunSeq
    val runKeys = tagged.select(keys.map(col): _*).distinct()
    val start =
      if (lo == 0L) tagged.limit(0)
      else snapshotAt(lo).join(runKeys, keys, "left_semi")
        .withColumn(CvCol, lit(lo)).withColumn(SeqCol, lit(0L))
    val all0 = start.unionByName(tagged, allowMissingColumns = true)
    val all = if (all0.columns.contains(Tombstone)) all0
      else all0.withColumn(Tombstone, lit(false))
    val dataCols = all.columns.filterNot(c =>
      keys.contains(c) || c == CvCol || c == SeqCol || c == Tombstone).toSeq
    val state = struct(dataCols.map(col) :+
      coalesce(col(Tombstone), lit(false)).as(Tombstone): _*)
    val chain = Window.partitionBy(keys.map(col): _*).orderBy(col(SeqCol))
    val withPrev = all.withColumn("_prev", lag(state, 1).over(chain))
      .filter(col(SeqCol) > 0) // the start state is context, not a change
    val ownTomb = coalesce(col(Tombstone), lit(false))
    val prevLive = col("_prev").isNotNull && !col(s"_prev.$Tombstone")
    val changed =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c => !(col(c) <=> col(s"_prev.$c"))).reduce(_ || _)
    val changeOp = when(ownTomb && prevLive, lit(CdcModel.OpDelete))
      .when(!ownTomb && !prevLive, lit(CdcModel.OpInsert))
      .when(!ownTomb && prevLive && changed, lit(CdcModel.OpUpsert))
      .otherwise(lit(null)) // no-op link: invisible to the feed
    val candidates = withPrev.withColumn("_change", changeOp)
      .filter(col("_change").isNotNull)
    val perKey = Window.partitionBy(keys.map(col): _*)
    val latest = candidates
      .withColumn("_maxseq", max(col(SeqCol)).over(perKey))
      .filter(col(SeqCol) === col("_maxseq"))
    if (!updatePreImages)
      latest.select(keys.map(col) ++
        dataCols.map(c => when(col("_change") === CdcModel.OpDelete,
          col(s"_prev.$c")).otherwise(col(c)).as(c)) ++
        Seq(col("_change"), col(CvCol).as("_commit_version")): _*)
    else {
      def img(change: Column, pre: Boolean): Column = struct(
        dataCols.map(c => (if (pre) col(s"_prev.$c") else col(c)).as(c)) :+
          change.as("_change"): _*)
      val rows = when(col("_change") === CdcModel.OpInsert,
          array(img(lit(CdcModel.OpInsert), pre = false)))
        .when(col("_change") === CdcModel.OpDelete,
          array(img(lit(CdcModel.OpDelete), pre = true)))
        .otherwise(array(img(lit("U_pre"), pre = true),
          img(lit("U_post"), pre = false)))
      latest
        .select(keys.map(col) ++
          Seq(col(CvCol).as("_commit_version"), explode(rows).as("_r")): _*)
        .select(keys.map(col) ++ dataCols.map(c => col(s"_r.$c")) ++
          Seq(col("_r._change"), col("_commit_version")): _*)
    }
  }

  /** One version's diff for the per-version feed, KEY-RESTRICTED when
    * the commit shape allows it: a pure delta-append commit (the MOR
    * upsert/delete path — new delta dirs, nothing removed) can only
    * have changed keys that appear in its own delta rows (tombstones
    * included), so both snapshots are semi-joined on that key set
    * before the full-outer diff. At scale this turns the per-version
    * diff from a 2×snapshot shuffle into a batch-key broadcast
    * against two snapshot scans — the feed costs O(versions × scan),
    * not O(versions × shuffle). Any other commit shape (COW rewrite,
    * compaction, dv mask, restore) falls back to the unrestricted
    * diff, which stays correct for all of them.
    */
  private def changeStep(lo: Long, hi: Long, updatePreImages: Boolean): DataFrame = {
    val before = if (lo == 0L) Seq.empty else entriesAt(lo)
    val after = entriesAt(hi)
    val added = after.filterNot(before.contains)
    val removed = before.filterNot(after.contains)
    val restrict =
      if (added.isEmpty && removed.isEmpty) None
      else if (removed.nonEmpty) {
        // SCOPED rewrite (partition-/bucket-scoped COW upsert/delete,
        // dirty-partition or dirty-bucket compaction, delta-shedding
        // restores): visible state is a pure function of the entry
        // set, and a key's rows live in its partition/bucket dirs —
        // so any CHANGED key has a row in a touched (added or
        // removed) dir, and semi-joining both snapshots on the
        // touched dirs' keys prices the diff at the dirty dirs, not
        // the table. Requires at least one surviving data entry (a
        // full rewrite's "restriction" is the whole key space — skip)
        // and no dv mask among the changes (a removed mask un-hides
        // rows living in UNTOUCHED dirs)
        val touched = added ++ removed
        val okTypes = touched.forall(e =>
          e._1 == "pv" || e._1 == "pb" || e._1 == "base" || e._1 == "delta" ||
            e._1 == "ing" || e._1.matches("b\\d+"))
        val touchedData = touched.filterNot(_._1 == "ing").map(_._2)
        val someUntouched = before.intersect(after).exists(_._1 != "ing")
        if (okTypes && someUntouched && touchedData.nonEmpty)
          Some(readDirs(touchedData).select(keys.map(col): _*).distinct())
        else None
      }
      else if (added.forall(_._1 == "delta"))
        // MOR delta-append: changed keys are the delta rows' keys
        Some(readDirs(added.map(_._2)).select(keys.map(col): _*).distinct())
      else {
        val dataAdds = added.filter(e =>
          e._1 == "base" || e._1 == "pv" || e._1 == "pb" || e._1.matches("b\\d+"))
        val dvAdds = added.filter(_._1 == "dv")
        if (dvAdds.size + dataAdds.size != added.size) None
        else if (dataAdds.nonEmpty)
          // dv UPSERT (mask + sibling data dirs) or plain data append:
          // masked positions can only belong to the batch's keys
          // (writeMask semi-joins them), so changed keys ⊆ the
          // appended rows' keys
          Some(readDirs(dataAdds.map(_._2)).select(keys.map(col): _*).distinct())
        else if (lo > 0L)
          // pure dv DELETE commit: the changed keys are exactly the
          // rows the new masks hide — recovered by a positional
          // semi-join of the PRE-commit snapshot against the added
          // masks (one scan + broadcast mask, no key shuffle)
          Some(readWithPos(before)
            .join(readDirs(dvAdds.map(_._2)).select(FileCol, PosCol),
              Seq(FileCol, PosCol), "left_semi")
            .select(keys.map(col): _*).distinct())
        else None
      }
    changesImpl(lo, hi, updatePreImages, restrict)
  }

  private def readEntries(rawEs: Seq[(String, String)]): DataFrame = {
    // `ing` entries are the copyInto file ledger — table metadata, not
    // table rows; every data read skips them
    val es = rawEs.filterNot(_._1 == "ing")
    require(es.nonEmpty, s"MergeTable at $root is empty/uninitialized")
    val deltas = es.filter(_._1 == "delta")
    if (es.exists(_._1 == "dv")) readWithPos(es).drop(FileCol, PosCol)
    else if (deltas.isEmpty) readDirs(es.map(_._2))
    else {
      // bucketed MOR: b<i> entries are per-bucket bases; partitioned
      // MOR: pv entries are per-partition bases; composed MOR: pb
      // entries are per-(partition × bucket) bases
      val baseDirs = es.filter(e =>
        e._1 == "base" || e._1 == "pv" || e._1 == "pb" ||
          e._1.matches("b\\d+")).map(_._2)
      val parts =
        (if (baseDirs.nonEmpty) Seq(readDirs(baseDirs).withColumn("_graft_seq", lit(0))) else Nil) ++
          deltas.zipWithIndex.map { case ((_, d), i) =>
            readDirs(Seq(d)).withColumn("_graft_seq", lit(i + 1))
          }
      val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      val reconciled = Precombine.latestByKey(unioned, keys, Seq("_graft_seq"))
      val dropped =
        if (reconciled.columns.contains(Tombstone))
          reconciled.filter(!coalesce(col(Tombstone), lit(false))).drop(Tombstone)
        else reconciled
      dropped.drop("_graft_seq")
    }
  }

  /** Live rows of a deletion-vector snapshot WITH their physical
    * address columns ([[FileCol]], [[PosCol]]): one scan of the base
    * files projecting `_metadata.file_path`/`row_index`, anti-joined
    * against the union of committed masks. The mask side is key-free
    * and broadcast when small (same `broadcastKeyLimit` guard as the
    * COW key set), so the base never shuffles — the read-side win
    * over MOR's per-key reconciliation. Masked positions referencing
    * files outside this snapshot (possible after RESTORE) simply
    * never match.
    */
  private def readWithPos(es: Seq[(String, String)]): DataFrame = {
    val scan = readDirs(
      es.filter(e => e._1 == "base" || e._1.matches("b\\d+")).map(_._2))
      .withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))
    val dvDirs = es.filter(_._1 == "dv").map(_._2)
    if (dvDirs.isEmpty) scan
    else {
      val mask = readDirs(dvDirs).select(FileCol, PosCol)
      val limit = broadcastKeyLimit
      // mask size from the dv dirs' commit-time footer stats (exact
      // row counts, driver-side) — the count job only runs when some
      // dir's stats are missing/partial (stats are advisory)
      val dvRows = dvDirs.map(statsRowCount)
      val small =
        if (dvRows.forall(_.isDefined)) dvRows.flatten.sum <= limit
        else mask
          .limit(math.min(limit + 1, Int.MaxValue.toLong).toInt).count() <= limit
      scan.join(if (small) broadcast(mask) else mask,
        Seq(FileCol, PosCol), "left_anti")
    }
  }

  /** Write the `(file, pos)` mask for live rows whose key appears in
    * `changeKeys`; returns the dv entry, or None when nothing
    * matched (the commit then skips the entry and the orphan dir is
    * vacuum-reclaimable). The parquet row count is footer-served, so
    * the emptiness probe costs no data read. On a bucketed layout,
    * `bucketScope` restricts the position scan to the buckets the
    * change batch hashes into — keys outside those buckets provably
    * cannot match, so the mask costs O(touched buckets), not O(table).
    */
  /** Test hook: runs at writeMask entry — inside the window between a
    * DV mutator's entry-snapshot capture and the mask's own manifest
    * re-read, where an interleaved winner must surface as a CAS
    * conflict (not a silently-succeeding stale-base commit).
    */
  private[cdc] var onBeforeMask: () => Unit = () => ()

  private def writeMask(changeKeys: DataFrame,
      bucketScope: Option[Set[Long]] = None): Option[(String, String)] = {
    onBeforeMask()
    val es = entries()
    val scanEs = bucketScope match {
      case Some(bs) => es.filter { case (t, _) =>
        t == "dv" || (t.matches("b\\d+") && bs.contains(t.stripPrefix("b").toLong))
      }
      case None => es
    }
    // every key hashes into a bucket with no live dir yet (all-new
    // buckets): nothing can match, and a zero-path scan would fail
    if (!scanEs.exists(e => e._1 == "base" || e._1.matches("b\\d+"))) return None
    val masked = readWithPos(scanEs)
      .join(changeKeys, keys, "left_semi")
      .select(FileCol, PosCol)
    val dir = writeData(masked)
    // emptiness from the footer stats recordStats just persisted — a
    // driver-side JSON read, not a count job (stats are advisory, so
    // a missing/partial stats file falls back to the count)
    val n = statsRowCount(dir).getOrElse(
      spark.read.parquet(dataDir.resolve(dir).toString).count())
    if (n > 0) Some("dv" -> dir) else None
  }

  // -- CHECK constraints ---------------------------------------------------

  /** Registered CHECK constraints (name → SQL expression), read fresh
    * from table metadata so every writer instance sees DDL applied by
    * any other instance.
    */
  def constraints: Map[String, String] =
    MergeTable.readMeta(root).map(_.constraints).getOrElse(Map.empty)

  /** Add a CHECK constraint, first proving the EXISTING data satisfies
    * it (Delta's ADD CONSTRAINT contract — a constraint that is
    * already violated would make every future write un-attributable).
    * SQL null semantics: a row passes unless the expression is
    * definitively false.
    */
  def addConstraint(name: String, exprSql: String): Unit = {
    val cur = MergeTable.readMeta(root)
      .getOrElse(MergeTable.Meta(keys, mode, numBuckets, None))
    require(!cur.constraints.contains(name),
      s"constraint $name already exists on $root")
    if (exists) {
      val bad = read().filter(!coalesce(expr(exprSql), lit(true))).count()
      if (bad > 0) throw new ConstraintViolationException(
        s"cannot add CHECK constraint $name ($exprSql): " +
          s"$bad existing row(s) violate it")
    }
    MergeTable.writeMeta(root,
      cur.copy(constraints = cur.constraints + (name -> exprSql)))
  }

  def dropConstraint(name: String): Unit = {
    val cur = MergeTable.readMeta(root)
      .getOrElse(MergeTable.Meta(keys, mode, numBuckets, None))
    require(cur.constraints.contains(name), s"no constraint $name on $root")
    MergeTable.writeMeta(root, cur.copy(constraints = cur.constraints - name))
  }

  /** Reject a batch violating any CHECK constraint BEFORE anything is
    * written — the write stays all-or-nothing. One aggregation pass
    * counts violations of every constraint at once (O(batch), not
    * O(batch × constraints)). A constrained column absent from an
    * evolving batch is null for the stored rows, and null passes
    * CHECK, so it is added as null for evaluation.
    */
  private def enforceConstraints(df: DataFrame): Unit = {
    val cs = constraints
    if (cs.isEmpty) return
    val ordered = cs.toSeq
    val present = df.columns.map(_.toLowerCase).toSet
    val evalDf = ordered.flatMap { case (_, sql) =>
      spark.sessionState.sqlParser.parseExpression(sql).references.map(_.name)
    }.distinct.foldLeft(df) { (d, c) =>
      if (present.contains(c.toLowerCase)) d else d.withColumn(c, lit(null))
    }
    val aggs = ordered.zipWithIndex.map { case ((_, sql), i) =>
      sum(when(!coalesce(expr(sql), lit(true)), lit(1L)).otherwise(lit(0L)))
        .as(s"_c$i")
    }
    val row = evalDf.agg(aggs.head, aggs.tail: _*).head()
    ordered.zipWithIndex.foreach { case ((name, sql), i) =>
      if (!row.isNullAt(i) && row.getLong(i) > 0)
        throw new ConstraintViolationException(
          s"CHECK constraint $name ($sql) violated by ${row.getLong(i)} row(s)")
    }
  }

  // -- writes --------------------------------------------------------------

  /** Run a mutation, retrying on optimistic-concurrency conflicts
    * (another writer claimed the version this instance was about to
    * commit). Every mutator re-reads the manifest on entry, so a
    * retry recomputes against the winning writer's snapshot; and
    * upsert/delete/append of the same batch are idempotent per batch,
    * so re-running a partially-applied multi-commit operation (a write
    * and its auto-compaction) converges. This is Iceberg's commit-retry loop,
    * surfaced as an explicit combinator.
    */
  def withRetry[T](maxAttempts: Int = 5)(op: => T): T = {
    var attempt = 1
    while (true) {
      try return op
      catch {
        // ONLY the dedicated conflict type: a generic JDK CME raised
        // by unrelated code in the closure must surface, not silently
        // re-run a side-effectful mutation
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          // exponential backoff + jitter (the Iceberg commit-retry
          // shape): an immediate-retry loop turns a contended table
          // into a CAS convoy — writers re-reading and re-committing
          // in lockstep can starve each other through non-rebaseable
          // conflicts (append racing a compaction) however many
          // attempts they get; jittered sleep de-synchronizes them.
          // 40 ms doubling to a 1 s cap, sleeping uniformly in
          // [base/2, base].
          val base = math.min(1000L, 20L << math.min(attempt, 6))
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(base / 2, base + 1))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append-only insert with schema evolution: new files only, no
    * rewrite of existing data (O(batch) at any table size). In MOR
    * mode appended rows join reconciliation like any delta (so the
    * table converges to one row per key); bucketed tables route
    * appends through upsert to keep the bucket invariant.
    */
  def append(df: DataFrame): Unit = withOp("append") { appendImpl(df) }

  private def appendImpl(df: DataFrame): Unit = {
    // bucketed/partitioned layouts keep their one-dir-per-partition
    // invariant by routing appends through the scoped merge
    if (numBuckets.isDefined || partitionCols.nonEmpty) { upsert(df); return }
    enforceConstraints(df)
    val physical = toPhysical(df)
    mode match {
      case MergeTable.MergeOnRead =>
        commitAppend(entries(), Seq("delta" -> writeData(physical)), None)
        // append-only MOR workloads must hit the same delta bound as
        // upserts, or reads reconcile an unbounded chain
        maybeCompact()
      case _ => commit(entries() :+ ("base" -> writeData(physical)))
    }
  }

  // -- DSv2 externally-staged appends --------------------------------------
  //
  // The catalog's true BATCH_WRITE path: executors write parquet files
  // directly under data/<staging-uuid> (no Row round-trip through an
  // InsertableRelation), then the driver commits the staged dirs with
  // the SAME manifest shapes the V1 writers produce. Spark executes a
  // V1 fallback write from the stored ANALYZED query (deliberately —
  // see AppendData.storeAnalyzedQuery), so a write-side
  // RequiresDistributionAndOrdering request is only honored on a real
  // v2 write; these commit halves are what make that request real.

  /** Fresh staging dir for a v2 write: (relative dir name, absolute path). */
  private[graft] def allocateStagingDir(): (String, java.nio.file.Path) = {
    val dir = UUID.randomUUID().toString
    val p = dataDir.resolve(dir)
    Files.createDirectories(p)
    (dir, p)
  }

  private[graft] def stagingPathOf(dir: String): java.nio.file.Path =
    dataDir.resolve(dir)

  /** Commit externally-staged FLAT append files — the staged twin of
    * [[append]]'s flat branch (COW base entry / MOR delta entry +
    * compaction bound), with the same blind-append rebase MOR deltas
    * get: concurrent appends compose, a concurrent rewrite conflicts.
    */
  private[graft] def commitStagedAppend(dir: String): Unit = withOp("append") {
    require(numBuckets.isEmpty && partitionCols.isEmpty,
      "staged flat append on a bucketed/partitioned table")
    recordStats(dir)
    mode match {
      case MergeTable.MergeOnRead =>
        commitAppend(entries(), Seq("delta" -> dir), None)
        maybeCompact()
      case _ =>
        commitAppend(entries(), Seq("base" -> dir), None)
    }
  }

  /** Commit an externally-staged FULL OVERWRITE of a FLAT table (the
    * INSERT OVERWRITE / truncate-then-append shape): one new base
    * entry REPLACES every data entry of the current snapshot — base,
    * MOR deltas, dv masks all drop — while the COPY INTO ledger
    * carries (the ledger records which SOURCE files were ingested;
    * replacing the content does not un-ingest them — the same rule
    * rewriteSource applies). Time travel still reads the pre-overwrite
    * versions; the change feed sees an ordinary COW rewrite commit.
    * A CAS race is a REAL conflict (two writers both replacing the
    * table, or a mutation racing the overwrite) and propagates.
    */
  private[graft] def commitStagedOverwrite(dir: String): Unit = withOp("overwrite") {
    require(numBuckets.isEmpty && partitionCols.isEmpty,
      "staged overwrite supports flat layouts only")
    recordStats(dir)
    commit(ledgerEntries(entries()) :+ ("base" -> dir))
    ()
  }

  /** Commit an externally-staged FIRST write of a bucketed table —
    * the staged twin of a bucketed seed: the staging dir already holds
    * `_graft_bucket=<i>` leaf dirs (the v2 writer demuxes rows by the
    * replayed write-side hash). Throws CommitConflictException if a
    * concurrent writer seeded first — the caller owns the fallback.
    */
  private[graft] def commitStagedBucketedSeed(dir: String): Unit = withOp("append") {
    val written = listBuckets(dir)
    written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
    // a declared write-side sort (meta.sortBy + the v2 write's
    // requiredOrdering) lands the seed PRESORTED — record the marker
    // ONLY when every bucket dir is a single file (one sorted run):
    // an AQE skew-split writes a bucket as two sorted files with
    // overlapping ranges, which is not a per-partition order a scan
    // may claim
    val sortCols = MergeTable.readMeta(root).map(_.sortBy).getOrElse(Nil)
    // one sorted run per dir = all of the dir's files came from ONE
    // writer: a maxRecordsPerFile roll shares the part-NNNNN-uuid
    // prefix (differing only in the -cNNN sequence, concatenating in
    // roll = path order), while an AQE skew-split writes under two
    // prefixes with overlapping ranges
    val sortable = sortCols.nonEmpty && partitionCols.isEmpty &&
      written.forall { i =>
        FileStats.listParquetFiles(dataDir.resolve(dir).resolve(s"$BucketCol=$i"))
          .map(_.getFileName.toString.replaceAll("-c\\d+.*$", ""))
          .distinct.size <= 1
      }
    commit(written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i") ++
      (if (sortable) Seq("sort" -> sortCols.mkString(",")) else Nil))
    ()
  }

  /** Commit an externally-staged FIRST write of a value-partitioned
    * table — the staged twin of writePartitioned's seed: the staging
    * dir holds `_graft_p_<col>=<val>` leaf paths.
    */
  private[graft] def commitStagedPartitionedSeed(dir: String): Unit = withOp("append") {
    val leaves = listPartitionLeaves(dataDir.resolve(dir), partitionCols.size)
    leaves.foreach(rel => recordStats(s"$dir/$rel"))
    commit(leaves.sorted.map(rel => "pv" -> s"$dir/$rel"))
    ()
  }

  /** Commit an externally-staged FIRST write of a COMPOSED
    * (partitioned × bucketed) table: the staging dir holds
    * `_graft_p_<col>=<val>/…/_graft_bucket=<i>` leaf paths.
    */
  private[graft] def commitStagedComposedSeed(dir: String): Unit = withOp("append") {
    val leaves = listComposedLeaves(dataDir.resolve(dir))
    leaves.foreach(rel => recordStats(s"$dir/$rel"))
    commit(leaves.sorted.map(rel => "pb" -> s"$dir/$rel"))
    ()
  }

  /** Commit an externally-staged DYNAMIC partition overwrite: the
    * staged leaves REPLACE exactly the partitions present in the
    * staged data (all their cells on a composed layout — buckets the
    * source skipped drop with their partition); untouched partitions
    * carry over verbatim, and the commit is partition-scoped so
    * disjoint-partition writers rebase. Two loud refusals guard the
    * semantics: pending MOR deltas (flat, not partition-attributable
    * — compact first), and a staged key already living in an
    * UNTOUCHED partition (partition replacement never reaches other
    * partitions, so the table would end up with a duplicated primary
    * key; cover that partition in the source or use MERGE INTO).
    */
  private[graft] def commitStagedDynamicOverwrite(dir: String): Unit = withOp("dynamic-overwrite") {
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite requires a value-partitioned layout")
    val tag = if (composed) "pb" else "pv"
    val leaves =
      if (composed) listComposedLeaves(dataDir.resolve(dir))
      else listPartitionLeaves(dataDir.resolve(dir), partitionCols.size)
    leaves.foreach(rel => recordStats(s"$dir/$rel"))
    val updated = leaves.sorted.map(rel => tag -> s"$dir/$rel")
    if (!exists) { commit(updated); return }
    val es = entries()
    require(!es.exists(_._1 == "delta"),
      s"dynamic partition overwrite on $root requires compaction first: " +
        "pending MOR deltas are not partition-attributable")
    require(es.forall(e => e._1 == tag || e._1 == "ing"),
      s"table at $root has a different layout than its metadata declares")
    def partOf(d: String): String =
      d.split("/", 2)(1).split('/').filter(_.startsWith(PartPrefix)).mkString("/")
    val replaced = updated.map(e => partOf(e._2)).toSet
    val untouched = es.filter(e => e._1 == tag && !replaced.contains(partOf(e._2)))
    // the staged data itself must be PK-unique: partition replacement
    // writes rows VERBATIM (no merge), so a duplicate key inside the
    // source — within one partition or split across two staged
    // partitions — would commit a silent PK violation the
    // untouched-partition clash scan can never see
    val dup = readDirs(Seq(dir)).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select(keys.map(col): _*).limit(1).collect()
    require(dup.isEmpty,
      s"dynamic partition overwrite source is not unique on primary key " +
        s"(${keys.mkString(", ")}): e.g. ${dup.mkString(", ")} — deduplicate " +
        "the source or use MERGE INTO")
    lazy val stagedKeys =
      keySet(readDirs(Seq(dir)).select(keys.map(col): _*), dedup = true)
    // PARTITION-KEYED tables (partition cols ⊆ primary key) skip the
    // untouched-partition clash scan entirely: a row's partition values
    // are part of its key, every row physically sits in the partition
    // its own values name, so a staged key can only ever collide inside
    // a partition the source REPLACES — the commit is pure dir
    // replacement, zero data files opened beyond the staged-dup check
    val partitionKeyed =
      partitionCols.forall(c => keys.exists(_.equalsIgnoreCase(c)))
    if (untouched.nonEmpty && !partitionKeyed) {
      // composed layouts cut the clash scan by the key hash first: a
      // staged key can only hide in its own bucket's cells, whatever
      // the partition — |staged buckets| cells per untouched
      // partition, not the partition
      val scanEs =
        if (composed) {
          val bs = affectedBuckets(readDirs(Seq(dir)))
          untouched.filter(e => bucketIdOf(e._2).exists(bs.contains))
        } else untouched
      val clash =
        if (scanEs.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else readDirs(scanEs.map(_._2))
          .join(stagedKeys, keys, "left_semi")
          .select(keys.map(col): _*).limit(1).collect()
      require(clash.isEmpty,
        s"dynamic partition overwrite would duplicate primary key " +
          s"(${keys.mkString(", ")}) = ${clash.mkString(", ")}: it lives in " +
          "a partition the source does not overwrite — cover that partition " +
          "in the source or use MERGE INTO for row-level movement")
    }
    commitScoped(es, replaced, updated,
      { case (t, d) => if (t == tag) Some(partOf(d)) else None },
      validateKeys = Some(stagedKeys))
    ()
  }

  /** Incremental file ingest — the COPY INTO / Auto Loader shape:
    * load ONLY the source-dir files not yet ingested, appending their
    * rows and the updated file ledger in ONE atomic commit, so each
    * file lands exactly once under retries, restarts, and concurrent
    * writers (the ledger entry and the data entry are the same
    * manifest line set — there is no window where one exists without
    * the other). The ledger is an `ing:` data dir holding one
    * `src_file` string per ingested file; reads skip it, rewrites and
    * compactions carry it, RESTORE rolls it back with the data (so
    * re-copy after restore re-ingests — state and ledger stay
    * consistent), and vacuum protects it like any referenced dir.
    *
    * Append semantics (the bronze-layer contract): rows land as-is;
    * key reconciliation is downstream's job. Flat COW and MOR layouts
    * only — bucketed/partitioned tables take batches through
    * [[upsert]]. Returns the number of newly ingested files.
    *
    * 100 TB shape: the ledger anti-join is distributed (file PATHS,
    * not contents); only the new batch's rows are read; the commit is
    * append-shaped, so concurrent copyInto/upsert writers compose
    * through the rebase path.
    */
  def copyInto(srcDir: String): Int = withOp("copy-into") { copyIntoImpl(srcDir) }

  private def copyIntoImpl(srcDir: String): Int = {
    require(numBuckets.isEmpty && partitionCols.isEmpty,
      "copyInto supports flat layouts; route bucketed/partitioned tables through upsert")
    import spark.implicits._
    val files = FileStats.listParquetFiles(Paths.get(srcDir))
      .map(_.toAbsolutePath.toString).sorted
    if (files.isEmpty) return 0
    // internal retry: the rebase path REFUSES to compose with a
    // winner that added its own ledger entry (the anti-join below was
    // computed against a manifest without it — blind re-anchoring
    // would ingest the same files twice); the re-run recomputes the
    // anti-join against the winner's ledger and converges on exactly
    // the still-missing files
    withRetry() {
      val es = entries()
      val baseV = readVersion
      val ingDirs = es.filter(_._1 == "ing").map(_._2)
      val newFiles =
        if (ingDirs.isEmpty) files
        else {
          val ledger = readDirs(ingDirs).select(col("src_file"))
          files.toDF("src_file").join(ledger, Seq("src_file"), "left_anti")
            .as[String].collect().sorted.toSeq
        }
      if (newFiles.isEmpty) 0
      else {
        val rows = spark.read.parquet(newFiles: _*)
        val dataTag = if (mode == MergeTable.MergeOnRead) "delta" else "base"
        val ledgerEntry = "ing" -> writeData(newFiles.toDF("src_file"))
        commitAppend(es,
          Seq(dataTag -> writeData(toPhysical(rows)), ledgerEntry), None,
          baseVersion = baseV, conflictOnAddedTags = Set("ing"))
        if (mode == MergeTable.MergeOnRead) maybeCompact()
        newFiles.size
      }
    }
  }

  /** MERGE-style upsert: `changes` must already be deduped to one row
    * per key (use [[Precombine.latestByKey]]). Matched keys take the
    * change row, unmatched existing rows are kept, new keys insert.
    * Schemas union (allowMissingColumns) so added columns evolve the
    * table. One [[replace]] commit with nothing dropped.
    *
    * COW: full rewrite (one join). Bucketed COW: only buckets
    * containing changed keys are rewritten. MOR: O(batch) delta
    * append + periodic compaction.
    */
  def upsert(changes: DataFrame): Unit = withOp("upsert") {
    replace(Some(landable(changes)), None)
  }

  /** Constraint check + column-mapping translation of rows about to
    * land. Constraints are declared against LOGICAL names, so they
    * check the batch before the translation.
    */
  private def landable(rows: DataFrame): DataFrame = {
    enforceConstraints(rows)
    withDerived(toPhysical(rows))
  }

  /** The ONE write step behind upsert, delete, applyChanges and the
    * sink's changes mode: replace every stored row whose key is in
    * keys(`rows`) ∪ `dropKeys` by `rows`, in ONE commit — Iceberg's
    * single-snapshot `MERGE … WHEN MATCHED AND op='d' THEN DELETE`.
    * `rows` (physical, one per key) are what lands; `dropKeys` are
    * keys to remove that no row replaces, and callers keep the two
    * key sets disjoint. One bounded [[batchSummary]] over the union
    * key set serves the mask, the anti-join and the rebase validation:
    *
    *  - COW flat: one rewrite, `current ⟕anti keys ∪ rows`.
    *  - COW bucketed / partitioned / composed: the scoped merge of
    *    the touched buckets or cells.
    *  - MOR: one delta holding `rows` plus tombstones for `dropKeys`.
    *  - DV: one mask over the union keys plus an appended base of
    *    `rows`, in one [[commitAppend]].
    *
    * A fresh table is seeded from `rows` (nothing stored to drop).
    */
  private def replace(rows: Option[DataFrame], dropKeys: Option[DataFrame]): Unit =
    if (rows.isEmpty && dropKeys.isEmpty) ()
    else if (!exists) rows.foreach(seed)
    else mode match {
      case MergeTable.DeletionVectors => dvReplace(rows, dropKeys)
      case MergeTable.MergeOnRead =>
        // subsequent writes are flat O(batch) deltas whatever the
        // layout — key reconciliation supersedes the old row even when
        // the new one belongs to a DIFFERENT partition, so partition
        // moves need no write-time index lookup. Type-gate the rows
        // now: a delta with a non-renderable partition column would
        // only explode at compaction time.
        if (partitionCols.nonEmpty) rows.foreach(requirePartitionable)
        val tombstones = dropKeys.map(_.select(keys.map(col): _*).distinct()
          .withColumn(Tombstone, lit(true)))
        val delta = (rows.toSeq ++ tombstones).reduce(_.unionByName(_, allowMissingColumns = true))
        commitAppend(entries(), Seq("delta" -> writeData(delta)), None)
        maybeCompact()
      case _ if composed => composedMerge(rows, dropKeys)
      case _ if partitionCols.nonEmpty => partitionedMerge(rows, dropKeys)
      case _ if numBuckets.isDefined => bucketedMerge(rows, dropKeys)
      case _ =>
        val es = entries()
        // the local-relation key set spares the write job a second
        // evaluation of the batch inside its broadcast build (anti-
        // join semantics are dedup-insensitive)
        val ks = batchSummary(rows, dropKeys, withPartitions = false, withBucket = false)
          .map(_.keySet).getOrElse(keySet(unionKeys(rows, dropKeys)))
        val keep = rewriteSource().join(ks, keys, "left_anti")
        val result = rows.map(_.unionByName(keep, allowMissingColumns = true)).getOrElse(keep)
        commit(ledgerEntries(es) ++ Seq("base" -> writeData(result)))
    }

  /** First write of any layout: one write job in the layout's shape. */
  private def seed(rows: DataFrame): Unit =
    if (composed) { requirePartitionable(rows); commit(writeComposed(rows)) }
    else if (numBuckets.isDefined) commit(writeBucketed(rows))
    else if (partitionCols.nonEmpty) { requirePartitionable(rows); commit(writePartitioned(rows)) }
    else commit(Seq("base" -> writeData(rows)))

  /** The key columns of a replace step's two inputs, unioned — the
    * fallback key source when the batch is too large to summarize.
    */
  private def unionKeys(rows: Option[DataFrame], dropKeys: Option[DataFrame]): DataFrame =
    (rows.toSeq ++ dropKeys).map(_.select(keys.map(col): _*)).reduce(_.union(_))

  /** Deletion-vector replace: O(batch), no data-file rewrite, no
    * key-shuffle on read — mask the union keys' current positions and
    * append the rows as a new base file. One atomic commit carries
    * both entries, so readers never see the mask without the
    * replacement rows. Bucketed: the position scan touches only the
    * buckets the keys hash into, and the appended rows land
    * bucket-partitioned (a bucket may accumulate several dirs between
    * compactions — masks, not manifest order, do the superseding). A
    * step that masks nothing and lands nothing commits nothing
    * (idempotent replay converges without version churn).
    */
  private def dvReplace(rows: Option[DataFrame], dropKeys: Option[DataFrame]): Unit = {
    val es = entries()
    val baseV = readVersion // writeMask re-reads the manifest below
    val summary = batchSummary(rows, dropKeys,
      withPartitions = false, withBucket = numBuckets.isDefined)
    val ks = summary.map(_.keySet).getOrElse(keySet(unionKeys(rows, dropKeys), dedup = true))
    val scope = numBuckets.map(_ =>
      summary.map(_.buckets).getOrElse(affectedBuckets(unionKeys(rows, dropKeys))))
    val dv = writeMask(ks, scope)
    // the summary proves an empty `rows` (every row dropped) without
    // writing an empty base file
    val appended = rows.filter(_ => summary.forall(_.hasRows)).toSeq.flatMap { r =>
      if (numBuckets.isDefined) writeBucketed(r) else Seq("base" -> writeData(r))
    }
    if (dv.nonEmpty || appended.nonEmpty) {
      commitAppend(es, dv.toSeq ++ appended, validateKeys = Some(ks), baseVersion = baseV)
      maybeCompact()
    }
  }

  /** `ing` file-ledger entries ([[copyInto]]) survive every snapshot-
    * replacing rewrite — they are bookkeeping about SOURCE files, not
    * table rows, so a COW rewrite/compaction/clustering that rebuilds
    * the data entries must carry them verbatim. (RESTORE deliberately
    * does NOT special-case them: rolling back to a pre-ingest version
    * rolls back the ledger too, so re-copy re-ingests — the state and
    * the ledger stay consistent.)
    */
  private def ledgerEntries(es: Seq[(String, String)]): Seq[(String, String)] =
    es.filter(_._1 == "ing")

  /** Key-delete: drop all rows whose PK appears in `deleteKeys` — one
    * [[replace]] commit that lands no rows.
    */
  def delete(deleteKeys: DataFrame): Unit = withOp("delete") {
    require(exists, s"cannot delete from uninitialized table $root")
    replace(None, Some(deleteKeys.select(keys.map(col): _*)))
  }

  /** Partition-scoped merge: rewrite only the buckets whose keys are
    * touched by this batch. One write job; untouched buckets keep
    * their existing directories (buckets emptied by drops vanish).
    */
  private def bucketedMerge(rows: Option[DataFrame], dropKeys: Option[DataFrame]): Unit = {
    // one collect serves the touched-bucket set AND the key set (the
    // old path collected buckets, probe-counted the key set, and
    // rebuilt its broadcast per consuming join)
    val summary = batchSummary(rows, dropKeys, withPartitions = false, withBucket = true)
    val affected = summary.map(_.buckets)
      .getOrElse(affectedBuckets(unionKeys(rows, dropKeys))) // bounded by numBuckets
    val currentSeq = entries()
    val current = currentSeq.toMap // tag -> dir; bucket entries are b<i>
    // only b<digits> tags are bucket entries; a non-bucketed layout
    // (base:/delta: entries) opened with numBuckets is a caller error —
    // validated BEFORE the rewrite so a misconfigured open fails fast
    // instead of after a full wasted data write
    require(current.keys.forall(_.matches("b\\d+")),
      s"table at $root has a non-bucketed layout; migrate before opening with numBuckets")
    val affectedDirs = affected.toSeq.sorted
      .flatMap(i => current.get(s"b$i").map(i -> _))
    val ks = summary.map(_.keySet)
      .getOrElse(keySet(unionKeys(rows, dropKeys), dedup = true))
    val keep = if (affectedDirs.isEmpty) None
      else Some(readDirs(affectedDirs.map(_._2)).withColumn(BucketCol, bucketExpr)
        .join(ks, keys, "left_anti"))
    val result = (rows.map(_.withColumn(BucketCol, bucketExpr)).toSeq ++ keep)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(return) // nothing lands and no touched bucket holds data
    val dir = UUID.randomUUID().toString
    result.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(dataDir.resolve(dir).toString)
    val written = listBuckets(dir)
    written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
    val updated = written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i")
    // disjoint-bucket writers rebase instead of conflicting: a key's
    // bucket is a pure hash, so scope disjointness implies key
    // disjointness — no validation scan needed
    commitScoped(currentSeq, affected.map(i => s"b$i"), updated,
      { case (t, _) => if (t.matches("b\\d+")) Some(t) else None },
      validateKeys = None)
    ()
  }

  private def listBuckets(dir: String): Set[Long] =
    Option(dataDir.resolve(dir).toFile.list()).getOrElse(Array.empty)
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toLong).toSet

  /** The bucket ids a batch's keys hash into — bounded by numBuckets,
    * so the collect is a scalar cut, not a data pull.
    */
  private def affectedBuckets(batch: DataFrame): Set[Long] =
    batch.select(bucketExpr.as(BucketCol)).distinct()
      .collect().map(_.getLong(0)).toSet

  /** One bucket-partitioned write job; returns the per-bucket manifest
    * entries for the buckets the data actually landed in.
    */
  private def writeBucketed(df: DataFrame): Seq[(String, String)] = {
    val dir = UUID.randomUUID().toString
    df.withColumn(BucketCol, bucketExpr)
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(dataDir.resolve(dir).toString)
    val written = listBuckets(dir)
    written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
    written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i")
  }

  // -- value-partitioned layout --------------------------------------------

  private[graft] val PartPrefix = MergeTable.PartPrefixName

  /** Partition column types are restricted to the ones whose
    * `toString` rendering is exactly what Spark's partition-dir
    * naming writes (string/integral/boolean) — the partition-scoped
    * merge derives the batch's leaf-dir names driver-side and a
    * rendering mismatch (dates, floats) would silently split a
    * partition in two.
    */
  private def requirePartitionable(df: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    partitionCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt match {
        case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType => true
        case _ => false
      }, s"partition column $c must be string/integral/boolean, got $dt")
    }
  }

  /** One partition-directory write job: each partition column is
    * DUPLICATED into a `_graft_p_<col>` twin used only for directory
    * layout, so the real column stays inside the parquet files and
    * leaf-dir reads need no value reconstruction. Returns one "pv"
    * manifest entry per leaf partition dir written.
    */
  private def writePartitioned(df: DataFrame): Seq[(String, String)] = {
    val dir = UUID.randomUUID().toString
    val tagged = partitionCols.foldLeft(df)((d, c) => d.withColumn(PartPrefix + c, col(c)))
    tagged.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols.map(PartPrefix + _): _*)
      .parquet(dataDir.resolve(dir).toString)
    val leaves = listPartitionLeaves(dataDir.resolve(dir), partitionCols.size)
    leaves.foreach(rel => recordStats(s"$dir/$rel"))
    leaves.sorted.map(rel => "pv" -> s"$dir/$rel")
  }

  /** Relative paths of a write's leaf partition dirs (depth =
    * partition-column count). Driver-side walk, O(partitions).
    */
  private def listPartitionLeaves(base: Path, depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq(base.relativize(p).toString.replace('\\', '/'))
      else Option(p.toFile.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(PartPrefix)).toSeq
        .flatMap(n => walk(p.resolve(n), d - 1))
    walk(base, depth)
  }

  /** The leaf-dir names a batch's rows land in, rendered EXACTLY like
    * Spark's partition-dir naming (escapePathName over toString —
    * guaranteed aligned by [[requirePartitionable]]'s type gate), with
    * the key-hash bucket appended on the composed layout. Bounded by
    * the batch's distinct (partition, bucket) tuples.
    */
  private def leafNames(df: DataFrame, withBucket: Boolean): Set[String] =
    df.select(partitionCols.map(col) ++
        (if (withBucket) Seq(bucketExpr.as(BucketCol)) else Nil): _*)
      .distinct().collect().map(leafName(_, withBucket)).toSet

  /** One leaf name from a row holding the partition values (in
    * `partitionCols` order) and, when `withBucket`, the bucket id after
    * them — the ONE rendering every leaf-name derivation shares.
    */
  private def leafName(r: org.apache.spark.sql.Row, withBucket: Boolean): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val parts = partitionCols.zipWithIndex.map { case (c, i) =>
      val v = r.get(i)
      val rendered =
        if (v == null) "__HIVE_DEFAULT_PARTITION__"
        else ExternalCatalogUtils.escapePathName(v.toString)
      s"$PartPrefix$c=$rendered"
    }.mkString("/")
    if (withBucket) s"$parts/$BucketCol=${r.getLong(partitionCols.size)}" else parts
  }

  /** Partition-scoped COW merge: rewrite ONLY the partition dirs the
    * batch touches — the partitions its own rows land in, plus every
    * partition currently HOLDING one of its keys (one key-restricted
    * snapshot scan — the Hudi global-index shape), so a row whose
    * partition value CHANGED is removed from its old home in the same
    * commit. Untouched partitions keep their directories verbatim; at
    * 100 TB a CDC batch pays for its partitions, not the table.
    */
  private def partitionedMerge(rows: Option[DataFrame], dropKeys: Option[DataFrame]): Unit = {
    rows.foreach(requirePartitionable)
    val current = entries()
    require(current.forall(_._1 == "pv"),
      s"table at $root has a non-partitioned layout; migrate before opening with partitionCols")
    def leafOf(entryDir: String): String = entryDir.split("/", 2)(1)
    // one collect serves the key set and the landing leaf names (the
    // old path probe-counted the key set, collected leaf names in a
    // second job, and rebuilt the key-set broadcast per consuming join)
    val summary = batchSummary(rows, dropKeys, withPartitions = true, withBucket = false)
    val ks = summary.map(_.keySet).getOrElse(keySet(unionKeys(rows, dropKeys), dedup = true))
    // leaf attribution from the file path Spark itself wrote — exact
    // by construction, one scan restricted to the batch's key set
    val holders: Set[String] =
      if (current.isEmpty) Set.empty
      else readDirs(current.map(_._2))
        // the metadata column resolves only on the scan itself, so it
        // is projected BEFORE the semi-join
        .select(col("_metadata.file_path").as("_graft_f") +: keys.map(col): _*)
        .join(ks, keys, "left_semi")
        .select(regexp_replace(
          regexp_extract(col("_graft_f"),
            "/((?:_graft_p_[^/]+/)+)[^/]+$", 1),
          "/$", "").as("_graft_leaf"))
        .distinct().collect().map(_.getString(0)).toSet
    val affected = holders ++ summary.map(_.leaves)
      .getOrElse(rows.map(leafNames(_, withBucket = false)).getOrElse(Set.empty))
    if (affected.isEmpty) return // nothing lands and nothing held these keys
    val result = scopedResult(rows, current.filter(e => affected.contains(leafOf(e._2))), ks)
    // disjoint-partition writers rebase instead of conflicting; unlike
    // buckets, partition dirs are value-addressed, so the rebase also
    // validates the winner added no rows for this batch's keys (a key
    // concurrently upserted into ANOTHER partition would otherwise
    // survive in both homes)
    commitScoped(current, affected, writePartitioned(result),
      { case (t, d) => if (t == "pv") Some(leafOf(d)) else None },
      validateKeys = Some(ks))
    ()
  }

  /** A scoped COW merge's rewrite of its touched dirs: the landing
    * `rows` plus the dirs' stored rows outside the key set `ks`.
    */
  private def scopedResult(rows: Option[DataFrame],
      touched: Seq[(String, String)], ks: DataFrame): DataFrame = {
    val keep =
      if (touched.isEmpty) None
      else Some(readDirs(touched.map(_._2)).join(ks, keys, "left_anti"))
    (rows.toSeq ++ keep).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // -- composed (partitioned × bucketed) layout ------------------------------

  /** Bucket id of a composed/bucketed entry dir (its trailing
    * `_graft_bucket=<i>` segment). */
  private def bucketIdOf(d: String): Option[Long] =
    s"$BucketCol=(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong)

  /** One composed write job: partition-column twins for the value
    * dirs PLUS the bucket column, so each leaf is one
    * (partition tuple × bucket) cell. Returns one "pb" manifest entry
    * per leaf written.
    */
  private def writeComposed(df: DataFrame): Seq[(String, String)] = {
    val dir = UUID.randomUUID().toString
    val tagged = partitionCols.foldLeft(df)((d, c) => d.withColumn(PartPrefix + c, col(c)))
      .withColumn(BucketCol, bucketExpr)
    tagged.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols.map(PartPrefix + _) :+ BucketCol: _*)
      .parquet(dataDir.resolve(dir).toString)
    val leaves = listComposedLeaves(dataDir.resolve(dir))
    leaves.foreach(rel => recordStats(s"$dir/$rel"))
    leaves.sorted.map(rel => "pb" -> s"$dir/$rel")
  }

  /** Relative leaf paths of a composed write: the partition-depth walk
    * plus each leaf's bucket subdirs. Driver-side, O(leaves).
    */
  private def listComposedLeaves(base: Path): Seq[String] =
    listPartitionLeaves(base, partitionCols.size).flatMap { rel =>
      Option(base.resolve(rel).toFile.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(s"$BucketCol=")).toSeq.map(b => s"$rel/$b")
    }

  /** Scoped COW merge on the composed layout: rewrite ONLY the
    * (partition × bucket) cells the batch touches. The holder scan —
    * the one key-restricted pass that catches partition moves — is
    * first cut by the KEY HASH to the batch's buckets across all
    * partitions (a key can only live in its own bucket, whatever its
    * partition), so at 100 TB it reads |batch buckets| cells per
    * partition, not the table; the plain partitioned layout has no
    * such cut. Untouched cells keep their directories verbatim.
    */
  /** The composed-layout cell scope of a manifest entry's dir (the
    * `_graft_p_…/_graft_bucket=i` suffix below the commit dir). */
  private def composedScopeOf(d: String): String = d.split("/", 2)(1)

  /** Cells of `candidateEntries` currently HOLDING any of `ks`'s keys,
    * attributed from the file path Spark itself wrote — exact by
    * construction. Callers pre-cut `candidateEntries` by the batch's
    * key-hash buckets, so the one key-restricted scan reads
    * |batch buckets| cells per partition, not the table. ONE
    * definition: composedMerge and compactComposed must derive holder
    * cells identically or the two write paths silently diverge.
    */
  private def composedHolders(candidateEntries: Seq[(String, String)],
                              ks: DataFrame): Set[String] =
    if (candidateEntries.isEmpty) Set.empty
    else readDirs(candidateEntries.map(_._2))
      .select(col("_metadata.file_path").as("_graft_f") +: keys.map(col): _*)
      .join(ks, keys, "left_semi")
      .select(regexp_extract(col("_graft_f"),
        s"/((?:_graft_p_[^/]+/)+$BucketCol=\\d+)/[^/]+$$", 1).as("_graft_leaf"))
      .distinct().collect().map(_.getString(0)).toSet

  private def composedMerge(rows: Option[DataFrame], dropKeys: Option[DataFrame]): Unit = {
    rows.foreach(requirePartitionable)
    val current = entries()
    require(current.forall(e => e._1 == "pb" || e._1 == "ing"),
      s"table at $root has a non-composed layout; migrate before opening " +
        "with both partitionCols and numBuckets")
    def scopeOf(d: String): String = composedScopeOf(d)
    // one collect serves the key set, the bucket cut AND the landing
    // cell names (the old path ran a probe count, a bucket collect and
    // a leaf collect — each re-evaluating the batch — plus a fresh
    // key-set broadcast build per consuming join)
    val summary = batchSummary(rows, dropKeys, withPartitions = true, withBucket = true)
    val ks = summary.map(_.keySet).getOrElse(keySet(unionKeys(rows, dropKeys), dedup = true))
    val bs = summary.map(_.buckets).getOrElse(affectedBuckets(unionKeys(rows, dropKeys)))
    val candidates = current.filter(e =>
      e._1 == "pb" && bucketIdOf(e._2).exists(bs.contains))
    val holders = composedHolders(candidates, ks)
    val affected = holders ++ summary.map(_.leaves)
      .getOrElse(rows.map(leafNames(_, withBucket = true)).getOrElse(Set.empty))
    if (affected.isEmpty) return // nothing lands and nothing held these keys
    val result = scopedResult(rows,
      current.filter(e => e._1 == "pb" && affected.contains(scopeOf(e._2))), ks)
    // cell scopes are only HALF value-addressed: the bucket half is a
    // pure key hash, but a key concurrently upserted under ANOTHER
    // partition lands in a disjoint cell of the SAME bucket — so the
    // rebase validates the winner added no rows for this batch's
    // keys, exactly like the plain partitioned layout
    commitScoped(current, affected, writeComposed(result),
      { case (t, d) => if (t == "pb") Some(scopeOf(d)) else None },
      validateKeys = Some(ks))
    ()
  }

  /** Composed-MOR housekeeping: fold the flat deltas into ONLY the
    * dirty (partition × bucket) cells — the delta keys' buckets cut
    * the holder scan exactly as in [[composedMerge]], and new rows
    * land in their own cells. Untouched cells carry over verbatim.
    */
  private def compactComposed(): Unit = {
    val es = entries()
    val deltaEntries = es.filter(_._1 == "delta")
    if (deltaEntries.isEmpty) return
    val pbEntries = es.filter(_._1 == "pb")
    def scopeOf(d: String): String = composedScopeOf(d)
    val deltas = readDirs(deltaEntries.map(_._2))
    // one bounded collect serves the key set AND the bucket cut (see
    // batchSummary; the landing-cell collect below runs on `live`, a
    // different frame, so it stays its own job)
    val summary = batchSummary(Some(deltas), None, withPartitions = false, withBucket = true)
    val ks = summary.map(_.keySet).getOrElse(keySet(deltas, dedup = true))
    val bs = summary.map(_.buckets).getOrElse(affectedBuckets(deltas))
    val candidates = pbEntries.filter(e => bucketIdOf(e._2).exists(bs.contains))
    val holders = composedHolders(candidates, ks)
    val live =
      if (deltas.columns.contains(Tombstone))
        deltas.filter(!coalesce(col(Tombstone), lit(false)))
      else deltas
    val landing: Set[String] =
      if (partitionCols.forall(live.columns.contains)) leafNames(live, withBucket = true)
      else {
        // tombstone-only deltas carry no partition columns; a LIVE
        // row could only come from an upsert delta, type-gated to
        // include them
        require(live.isEmpty, s"delta rows lack partition columns $partitionCols")
        Set.empty
      }
    val dirty = holders ++ landing
    if (dirty.isEmpty) {
      commit(ledgerEntries(es) ++ pbEntries)
      return
    }
    val dirtyPb = pbEntries.filter(e => dirty.contains(scopeOf(e._2)))
    val untouched = pbEntries.filterNot(e => dirty.contains(scopeOf(e._2)))
    val reconciled = readEntries(dirtyPb ++ deltaEntries)
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
      .filter(reconciled.columns.contains)
    val result = if (dropped.isEmpty) reconciled else reconciled.drop(dropped: _*)
    commit(ledgerEntries(es) ++ untouched ++ writeComposed(result))
  }

  /** Fold deltas into the base (MOR housekeeping). Bucketed tables
    * compact ONLY the buckets the pending deltas touch — at 100 TB a
    * compaction pays for the dirty buckets, not the table.
    */
  def compact(): Unit = withOp("compact") {
    compactImpl()
  }

  private def compactImpl(): Unit =
    if (composed) compactComposed()
    else if (numBuckets.isDefined && mode == MergeTable.DeletionVectors) compactDvBuckets()
    else if (numBuckets.isDefined) compactBuckets()
    else if (partitionCols.nonEmpty) compactPartitioned()
    else {
      // no-op when already one base and nothing pending: a scheduled
      // COMPACT on an idle COW table must not rewrite the whole
      // snapshot (and must report 0 versions, per the SQL contract).
      // For deletion vectors this is the mask fold: the rewrite
      // materializes the anti-joined live rows, so the new snapshot
      // is a single clean base with no dv entries (and prunable
      // again).
      val es = entries()
      if (es.exists(e => e._1 == "delta" || e._1 == "dv") ||
          es.count(_._1 == "base") > 1)
        commit(ledgerEntries(es) ++ Seq("base" -> writeData(rewriteSource())))
    }

  /** Partitioned-MOR housekeeping: fold pending flat deltas into the
    * partition dirs they touch, rewriting ONLY the dirty partitions —
    * a partition is dirty when it currently HOLDS a delta key (the
    * old home of an updated/moved/deleted row, found by the same
    * key-restricted base scan as [[partitionedMerge]]'s global index)
    * or when a live delta row LANDS in it. Every delta key's old home
    * is in the first set and its new home in the second, so rows in
    * untouched partitions provably cannot change and their
    * directories survive verbatim: at 100 TB a compaction pays for
    * the dirty partitions, not the table. Compaction also restores
    * partition/stats prunability and metadata aggregation (delta-
    * bearing snapshots always scan fully).
    */
  private def compactPartitioned(): Unit = {
    val es = entries()
    val deltaEntries = es.filter(_._1 == "delta")
    if (deltaEntries.isEmpty) return
    val pvEntries = es.filter(_._1 == "pv")
    def leafOf(d: String): String = d.split("/", 2)(1)
    val deltas = readDirs(deltaEntries.map(_._2))
    // one bounded collect replaces the key-set probe count and the
    // per-join broadcast rebuilds (see batchSummary)
    val ks = batchSummary(Some(deltas), None, withPartitions = false, withBucket = false)
      .map(_.keySet).getOrElse(keySet(deltas, dedup = true))
    // old homes: leaf attribution from the file path Spark itself
    // wrote, one key-restricted scan of the partition bases
    val holders: Set[String] =
      if (pvEntries.isEmpty) Set.empty
      else readDirs(pvEntries.map(_._2))
        .select(col("_metadata.file_path").as("_graft_f") +: keys.map(col): _*)
        .join(ks, keys, "left_semi")
        .select(regexp_replace(
          regexp_extract(col("_graft_f"),
            "/((?:_graft_p_[^/]+/)+)[^/]+$", 1),
          "/$", "").as("_graft_leaf"))
        .distinct().collect().map(_.getString(0)).toSet
    // new homes: where the live (non-tombstone) delta rows land
    val live =
      if (deltas.columns.contains(Tombstone))
        deltas.filter(!coalesce(col(Tombstone), lit(false)))
      else deltas
    val landing: Set[String] =
      if (partitionCols.forall(live.columns.contains)) leafNames(live, withBucket = false)
      else {
        // tombstone-only deltas carry no partition columns; a LIVE
        // row could only come from an upsert delta, which the write
        // path type-gates to include them
        require(live.isEmpty, s"delta rows lack partition columns $partitionCols")
        Set.empty
      }
    val dirty = holders ++ landing
    if (dirty.isEmpty) {
      // the deltas were pure no-ops (tombstones for keys the table
      // never held) — shed them without touching any partition
      commit(ledgerEntries(es) ++ pvEntries)
      return
    }
    val dirtyPv = pvEntries.filter(e => dirty.contains(leafOf(e._2)))
    val untouched = pvEntries.filterNot(e => dirty.contains(leafOf(e._2)))
    // reconcile ONLY the dirty partitions' bases with the deltas
    // (latest per key, tombstones drop) and re-store them partitioned
    val reconciled = readEntries(dirtyPv ++ deltaEntries)
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
      .filter(reconciled.columns.contains)
    val result = if (dropped.isEmpty) reconciled else reconciled.drop(dropped: _*)
    commit(ledgerEntries(es) ++ untouched ++ writePartitioned(result))
  }

  /** Bucketed deletion-vector housekeeping: fold masks back into
    * clean per-bucket bases, rewriting ONLY the dirty buckets — a
    * bucket is dirty when any committed mask hides one of its rows
    * (the mask's file path carries the bucket dir) or when appends
    * have chained multiple dirs onto it. Untouched buckets keep their
    * existing directories; all dv entries drop (masks can only
    * reference dirty buckets' files, which were just rewritten).
    */
  private def compactDvBuckets(): Unit = {
    val es = entries()
    val dvEntries = es.filter(_._1 == "dv")
    val bucketOf = (t: String) => t.stripPrefix("b").toLong
    val multi = es.filter(_._1.matches("b\\d+")).groupBy(_._1)
      .filter(_._2.size > 1).keySet.map(bucketOf)
    val masked: Set[Long] =
      if (dvEntries.isEmpty) Set.empty
      else readDirs(dvEntries.map(_._2))
        .select(regexp_extract(col(FileCol), s"$BucketCol=(\\d+)", 1)
          .cast("long").as(BucketCol))
        .distinct().collect().map(_.getLong(0)).toSet // bounded by numBuckets
    val dirty = multi ++ masked
    if (dirty.isEmpty && dvEntries.isEmpty) return
    val dirtyEs = es.filter { case (t, _) =>
      t.matches("b\\d+") && dirty.contains(bucketOf(t))
    }
    val untouched = es.filter { case (t, _) =>
      t.matches("b\\d+") && !dirty.contains(bucketOf(t))
    }
    // stale masks can name buckets with no live dirs (post-RESTORE);
    // with nothing to rewrite the commit just sheds the dv entries
    if (dirtyEs.isEmpty) { commit(untouched); return }
    val live = readWithPos(dirtyEs ++ dvEntries).drop(FileCol, PosCol)
    commit(untouched ++ writeBucketed(live))
  }

  private def compactBuckets(): Unit = {
    val es = entries()
    val deltaEntries = es.filter(_._1 == "delta")
    if (deltaEntries.isEmpty) return
    val bucketDirs = es.filter(_._1.matches("b\\d+")).toMap
    val deltas = readDirs(deltaEntries.map(_._2))
    val affected = deltas.select(bucketExpr.as(BucketCol)).distinct()
      .collect().map(_.getLong(0)).toSet // bounded by numBuckets
    val affectedBase = affected.toSeq.sorted
      .flatMap(i => bucketDirs.get(s"b$i")).map("base" -> _)
    // reconcile ONLY the dirty buckets' bases against the deltas
    // (every delta row hashes into an affected bucket by definition)
    val reconciled = readEntries(affectedBase ++ deltaEntries)
    val dir = UUID.randomUUID().toString
    reconciled.withColumn(BucketCol, bucketExpr)
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(dataDir.resolve(dir).toString)
    val written = listBuckets(dir)
    written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
    val untouched = es.filter { case (t, _) =>
      t.matches("b\\d+") && !affected.contains(t.stripPrefix("b").toLong)
    }
    commit(untouched ++ written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i"))
  }

  /** Expire old snapshots, keeping the newest `keepLast` manifests
    * (Iceberg's expire_snapshots): time travel and change-feed replay
    * below the horizon are given up — `readVersion(v)` /
    * `changesBetween(v, …)` on an expired version fail with the
    * standard "no version" error. Version NUMBERING is unaffected:
    * the commit CAS targets readVersion+1 derived from the newest
    * manifest, and expired files can never be re-created because
    * versions only grow — so concurrent writers are safe. Pair with
    * [[vacuum]] to also reclaim the expired snapshots' data dirs.
    */
  def expireSnapshots(keepLast: Int): Int = {
    require(keepLast >= 1, "expireSnapshots must keep at least the current snapshot")
    // TAGGED versions are pinned retention points the user explicitly
    // asked to keep (Iceberg's tag-retention rule) — expiry skips them,
    // so a tag read never dangles
    val pinned = tags().map(tagVersion).toSet
    val all = versions()
    val expired = all.dropRight(keepLast).filterNot(pinned.contains)
    val expiredSet = expired.toSet
    // a retained INCREMENTAL manifest whose `@delta` base is about to
    // expire is MATERIALIZED first (full body, atomic in-place
    // replace, original mtime preserved so `timestampAsOf` keeps
    // resolving the same instant) — the user's KEEP-n contract trims
    // exactly what was asked while every retained snapshot stays
    // readable. Chains passing through another RETAINED manifest need
    // no work: materializing that one repairs every chain above it.
    all.filterNot(expiredSet.contains).foreach { v =>
      val m = manifestPath(v)
      if (MergeTable.deltaBaseOf(m).exists(expiredSet.contains)) {
        val mtime = Files.getLastModifiedTime(m)
        val tmp = manifestDir.resolve(s".materialize.${UUID.randomUUID()}")
        Files.write(tmp, MergeTable.materializedBody(m))
        Files.move(tmp, m, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(m, mtime)
      }
    }
    expired.foreach(v => Files.deleteIfExists(manifestPath(v)))
    expired.length
  }

  /** Remove data directories no longer referenced by any REF — the
    * current manifest, every branch head, and every tagged version
    * (Iceberg-style expire/vacuum; data dirs are shared across
    * branches, so reclamation must see all lineages). Readers of the
    * current snapshot are unaffected; time travel to pre-vacuum,
    * untagged manifests is given up — the standard retention
    * trade-off.
    */
  def vacuum(): Int = {
    def headEntries(dir: Path): Seq[(String, String)] = {
      val names = Option(dir.toFile.list()).getOrElse(Array.empty[String])
        .filter(_.matches("v\\d+\\.txt"))
      if (names.isEmpty) Nil
      else resolveManifest(dir.resolve(
        names.maxBy(_.stripPrefix("v").stripSuffix(".txt").toLong)))
    }
    val mainDir = rootPath.resolve("manifests")
    val refEntries: Seq[(String, String)] =
      entries() ++ headEntries(mainDir) ++
        branches().flatMap(b => headEntries(branchManifestDir(b))) ++
        tags().flatMap { t =>
          val m = mainDir.resolve(f"v${tagVersion(t)}%05d.txt")
          if (Files.exists(m)) resolveManifest(m) else Nil
        }
    val live = refEntries.filterNot(e =>
        e._1 == "txn" || e._1 == "ref" || e._1 == "sort" || e._1 == "op")
      .map(_._2.split("/", 2)(0)).toSet
    // segment files no manifest of their lineage references are
    // checkpoint leftovers (expired checkpoints, lost CAS races) —
    // GC'd alongside the data orphans. O(manifests) raw scans.
    // AGE-GATED: a checkpointing writer stages its segments BEFORE the
    // manifest CAS, so a fresh unreferenced segment may belong to an
    // in-flight commit — deleting it would brick the manifest the
    // writer is about to link. Only segments older than the grace
    // window reclaim (the standard object-store GC rule).
    def gcSegs(dir: Path): Unit = {
      val segs = dir.resolve("segs")
      if (!Files.isDirectory(segs)) return
      val grace = spark.conf.getOption("graft.mergetable.vacuumSegGraceMs")
        .map(_.toLong).getOrElse(600000L)
      val cutoff = System.currentTimeMillis() - grace
      val referenced = Option(dir.toFile.list()).getOrElse(Array.empty[String])
        .filter(_.matches("v\\d+\\.txt"))
        .flatMap(n => MergeTable.parseManifestLines(dir.resolve(n))
          .collect { case ("s", s) => s })
        .toSet
      Option(segs.toFile.list()).getOrElse(Array.empty[String])
        .filter(n => n.endsWith(".seg") && !referenced.contains(n))
        .map(segs.resolve)
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach(Files.deleteIfExists)
    }
    gcSegs(mainDir)
    branches().foreach(b => gcSegs(branchManifestDir(b)))
    val onDisk = Option(dataDir.toFile.list()).getOrElse(Array.empty)
    val orphans = onDisk.filterNot(live.contains)
    val statsDir = rootPath.resolve("stats")
    val bloomsDir = rootPath.resolve("blooms")
    orphans.foreach { d =>
      MergeTable.drop(dataDir.resolve(d).toString)
      // this dir's stats/bloom entries share its uuid prefix (flat
      // names); bloom entries are sharded parquet DIRECTORIES
      Seq(statsDir, bloomsDir).foreach { idx =>
        Option(idx.toFile.list()).getOrElse(Array.empty)
          .filter(_.startsWith(d))
          .foreach { f =>
            val p = idx.resolve(f)
            if (Files.isDirectory(p)) MergeTable.drop(p.toString)
            else Files.deleteIfExists(p)
          }
      }
    }
    orphans.length
  }

  /** TRUNCATE: commit an EMPTY entry list — every row leaves the
    * current snapshot in one metadata commit, zero data I/O, history
    * intact (time travel still reads pre-truncate versions; [[vacuum]]
    * reclaims the now-unreferenced dirs). The Delta/Iceberg truncate
    * shape, and the degenerate case the emptied-table read path
    * serves. Returns the truncation commit's version.
    */
  def truncate(): Long = withOp("truncate") {
    require(exists, s"cannot truncate uninitialized table $root")
    entries() // refresh the CAS base
    commit(Nil)
  }

  // -- metadata-only partition delete ---------------------------------------

  /** Drop whole partition dirs from the manifest WITHOUT touching a
    * data file — the retention shape (`DELETE WHERE ts < cutoff` on a
    * day-partitioned table) that at 100 TB must be a metadata commit,
    * not a rewrite of every surviving row. `drop(leafDir)` decides per
    * pv leaf (the caller proved its predicate partition-COMPLETE:
    * every row of a matched dir satisfies it — see
    * `MergeTableDmlCommand.partitionDropKeep`). Eligible only when
    * the snapshot is PURE pv entries: MOR deltas or dv masks hold
    * rows OUTSIDE the dirs and a dir drop would resurrect or miss
    * them — those layouts return None and the caller falls back to
    * the row-level delete. Commits through the scoped-rebase path, so
    * disjoint-partition writers compose. Returns the dropped-dir
    * count (Some(0) = eligible, nothing matched, no commit).
    */
  def deletePartitions(drop: String => Boolean): Option[Int] = withOp("delete") {
    if (!exists) Some(0)
    else {
      val es = entries()
      // pv (value-partitioned) and pb (composed partition×bucket) leaves
      // both carry partition dirs, so both drop metadata-only — for pb
      // every bucket cell of a matched partition leaf goes (the
      // predicate ignores the trailing _graft_bucket segment). Anything
      // holding rows OUTSIDE partition dirs (MOR deltas, dv masks,
      // plain/bucketed bases) refuses to the row-level fallback.
      if (es.exists(e => e._1 != "pv" && e._1 != "pb" && e._1 != "ing")) None
      else {
        val baseV = readVersion
        def leafOf(d: String): String = d.split("/", 2)(1)
        val partTags = Set("pv", "pb")
        val dropped = es.filter(e => partTags(e._1) && drop(leafOf(e._2)))
        if (dropped.isEmpty) Some(0)
        else {
          commitScoped(es, dropped.map(e => leafOf(e._2)).toSet, Nil,
            { case (t, d) => if (partTags(t)) Some(leafOf(d)) else None },
            validateKeys = None, baseVersion = baseV)
          // report LOGICAL partitions dropped: on the composed pb layout
          // each partition leaf holds one entry per bucket cell, and the
          // per-entry count would read e.g. 8 for one dropped partition
          Some(dropped.map(e =>
            leafOf(e._2).replaceAll("/_graft_bucket=\\d+$", "")).toSet.size)
        }
      }
    }
  }

  // -- layout migration ------------------------------------------------------

  /** One-shot LAYOUT MIGRATION — the "table outgrew its first layout"
    * operation (flat → bucketed when upserts start rewriting the
    * whole base; 8 → 64 buckets when the table grew 10×; flat →
    * partitioned-by-day when retention/pruning arrives): rewrites the
    * CURRENT snapshot into the target layout in ONE commit and
    * records the new layout in `_META.json`. History is preserved —
    * time travel and the change feed read pre-migration versions
    * through their own entry tags (reads are tag-driven, not
    * config-driven), and the migration commit itself is an ordinary
    * version in the log. MOR deltas and dv masks fold into the
    * rewritten base (the migration doubles as a compaction).
    *
    * Concurrency: the rewrite commits through the normal CAS; a
    * concurrent writer that loses re-reads the NEW manifest but may
    * still hold the OLD layout config — its rewrite-from-snapshot
    * paths stay row-correct (every reader/writer reconciles from
    * tags), but its entries land in the old layout, undoing the
    * migration's file arrangement. Like every table format's layout
    * change, run it in a quiet window. Refuses with active branches
    * (their lineages would pin mixed layouts across `_META` updates)
    * and with a declared `sortBy` (drop it first). THIS instance's
    * cached config is stale after the call — reopen via
    * [[MergeTable.open]].
    *
    * Returns the migration commit's version.
    */
  def migrateLayout(toBuckets: Option[Int], toPartitionCols: Seq[String]): Long = withOp("migrate-layout") {
    require(branch == MergeTable.MainBranch,
      "layout migration runs on the main lineage")
    require(branches().isEmpty,
      s"cannot migrate layout of $root with active branches " +
        s"(${branches().mkString(", ")}) — publish or drop them first")
    toBuckets.foreach(n => require(n > 0, s"buckets must be positive, got $n"))
    val meta0 = MergeTable.readMeta(root).getOrElse(
      throw new IllegalStateException(s"no _META.json at $root — nothing to migrate"))
    require(meta0.sortBy.isEmpty,
      "declared sortBy pins the bucketed-sorted layout — drop it before migrating")
    require(meta0.derivedPartitions.isEmpty,
      "hidden (derived) partitioning migrates by recreating the table — " +
        "SET LAYOUT does not rewrite derived columns")
    require(toPartitionCols.isEmpty || mode != MergeTable.DeletionVectors,
      "deletion-vectors mode refuses partitioned layouts (same rule as CREATE)")
    val target = new MergeTable(spark, root, keys, mode, toBuckets, maxDeltas,
      toPartitionCols)
    val snap = rewriteSource() // reconciled snapshot, physical names
    toPartitionCols.foreach(c => require(snap.columns.contains(c),
      s"partition column '$c' is not in the schema"))
    if (toPartitionCols.nonEmpty) target.requirePartitionable(snap)
    val newEntries =
      if (toBuckets.isDefined && toPartitionCols.nonEmpty) target.writeComposed(snap)
      else if (toPartitionCols.nonEmpty) target.writePartitioned(snap)
      else if (toBuckets.isDefined) target.writeBucketed(snap)
      else Seq("base" -> target.writeData(snap))
    // data first, commit second, meta last: a crash before the meta
    // write leaves new-tagged entries under the old config — reads
    // stay correct (tag-driven) and re-running the migration converges
    val v = commit(newEntries)
    MergeTable.writeMeta(root, meta0.copy(numBuckets = toBuckets,
      partitionCols = toPartitionCols, sortBy = Nil))
    v
  }

  // -- branches & tags (Iceberg refs) ---------------------------------------

  private def branchManifestDir(name: String): Path =
    branchesDir.resolve(name).resolve("manifests")

  private def manifestVersionsIn(dir: Path): Seq[Long] =
    Option(dir.toFile.list()).getOrElse(Array.empty[String])
      .filter(_.matches("v\\d+\\.txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toLong).sorted.toSeq

  /** A branch exists once its fork record landed — a branch of an
    * EMPTY table legitimately has no manifest until its first commit.
    */
  def branchExists(name: String): Boolean =
    Files.exists(branchesDir.resolve(name).resolve("_FORK")) ||
      manifestVersionsIn(branchManifestDir(name)).nonEmpty

  def branches(): Seq[String] =
    Option(branchesDir.toFile.list()).getOrElse(Array.empty[String])
      .filter(branchExists).sorted.toSeq

  /** Fork a branch at `fromVersion` (default: the current head). O(1):
    * the fork manifest is copied into the branch's own lineage dir and
    * version numbering continues from there; data dirs are shared.
    * The copied manifest's atomic link is the existence CAS — two
    * concurrent creators race to exactly one winner.
    */
  def createBranch(name: String, fromVersion: Option[Long] = None): Long = {
    require(MergeTable.validRefName(name) && name != MergeTable.MainBranch,
      s"invalid branch name '$name'")
    require(!branchExists(name), s"branch '$name' already exists at $root")
    entries()
    val v = fromVersion.getOrElse(readVersion)
    require(v == 0 || Files.exists(manifestPath(v)),
      s"cannot branch at version $v of $root: no such committed version")
    val bdir = branchManifestDir(name)
    Files.createDirectories(bdir)
    if (v > 0) {
      val staged = bdir.resolve(s".staged.${UUID.randomUUID()}")
      // a fork seed crosses lineage directories, so an incremental or
      // segmented fork manifest is MATERIALIZED (its @delta chain and
      // `s:` segment refs live in the source dir and would dangle in
      // the branch's); plain full manifests copy byte-identically
      val srcM = manifestPath(v)
      Files.write(staged,
        if (MergeTable.needsMaterializing(srcM)) MergeTable.materializedBody(srcM)
        else Files.readAllBytes(srcM))
      try Files.createLink(bdir.resolve(f"v$v%05d.txt"), staged)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(s"branch '$name' already exists at $root")
      } finally Files.deleteIfExists(staged)
    }
    val tmp = branchesDir.resolve(name).resolve(s"_FORK.tmp.${UUID.randomUUID()}")
    Files.write(tmp, v.toString.getBytes)
    Files.move(tmp, branchesDir.resolve(name).resolve("_FORK"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    v
  }

  /** This table on another branch — same configuration, the branch's
    * manifest lineage. The write surface (upsert/delete/compact/DML),
    * time travel, and the change feed all work on the returned
    * instance unchanged.
    */
  def forBranch(name: String): MergeTable =
    if (name == branch) this
    else {
      require(name == MergeTable.MainBranch || branchExists(name),
        s"no branch '$name' at $root (existing: ${branches().mkString(", ")})")
      new MergeTable(spark, root, keys, mode, numBuckets, maxDeltas,
        partitionCols, name)
    }

  def dropBranch(name: String): Unit = {
    require(name != MergeTable.MainBranch, "cannot drop the main branch")
    require(name != branch, s"cannot drop branch '$name' from an instance reading it")
    require(branchExists(name), s"no branch '$name' at $root")
    MergeTable.drop(branchesDir.resolve(name).toString)
  }

  /** The version a branch forked at (recorded at create; falls back to
    * the branch's lowest manifest — its seeded fork copy).
    */
  def forkVersion(name: String): Long = {
    val f = branchesDir.resolve(name).resolve("_FORK")
    if (Files.exists(f)) new String(Files.readAllBytes(f)).trim.toLong
    else manifestVersionsIn(branchManifestDir(name)).headOption.getOrElse(
      throw new IllegalStateException(s"branch '$name' at $root has no fork record"))
  }

  /** Fast-forward publish (Iceberg's `fast_forward`, the WAP commit
    * step): replay the branch's commits (fork, head] onto THIS lineage
    * one manifest at a time — history-preserving (the change feed sees
    * the branch's individual commits) and IDEMPOTENT/resumable: a
    * version this lineage already has must be byte-identical (an
    * earlier partial publish), anything else is a divergence refusal.
    * Each manifest appearance is atomic and every intermediate state
    * is a committed branch snapshot, so concurrent readers are safe at
    * any point. Refuses when this lineage advanced past the fork with
    * its OWN commits — fast-forward never merges.
    */
  def fastForward(from: String): Long = {
    require(branchExists(from), s"no branch '$from' at $root")
    val srcDir = branchManifestDir(from)
    val fork = forkVersion(from)
    val srcVers = manifestVersionsIn(srcDir)
    val head = srcVers.lastOption.getOrElse(
      throw new IllegalStateException(s"branch '$from' has no commits to publish"))
    if (head == fork) { entries(); return readVersion } // nothing new on the branch
    val missing = ((fork + 1) to head).filterNot(srcVers.contains)
    require(missing.isEmpty,
      s"branch '$from' expired snapshot(s) ${missing.mkString(", ")}: " +
        "fast-forward replays the full commit range — re-create the branch " +
        "or avoid EXPIRE SNAPSHOTS on unpublished branches")
    ((fork + 1) to head).foreach { v =>
      val target = manifestPath(v)
      val srcM = srcDir.resolve(f"v$v%05d.txt")
      // an incremental source manifest resolves in-place after the
      // copy (version numbering is shared across lineages and its
      // bases were published first) EXCEPT when this lineage expired
      // the base (the fork manifest) — that one is materialized, as
      // is any SEGMENTED checkpoint (its `s:` refs resolve against
      // the branch's segs dir, not this lineage's)
      val srcBytes =
        if (MergeTable.deltaBaseOf(srcM).exists(b => !Files.exists(manifestPath(b))) ||
            MergeTable.isSegmentsManifest(srcM))
          MergeTable.materializedBody(srcM)
        else Files.readAllBytes(srcM)
      // resumability must accept a logically-identical prior publish
      // (an earlier run may have materialized where this one copies
      // verbatim, or vice versa) — byte equality first, resolved
      // content equality as the tie-breaker
      def sameAsTarget(): Boolean =
        java.util.Arrays.equals(Files.readAllBytes(target), srcBytes) ||
          (try resolveManifest(target) == MergeTable.resolveManifestIn(srcM)
          catch { case _: Exception => false })
      if (Files.exists(target)) {
        if (!sameAsTarget()) throw new CommitConflictException(
          s"cannot fast-forward '$from' into '$branch' at $root: version $v " +
            s"diverged ('$branch' advanced past the fork at $fork with its own " +
            "commits) — fast-forward never merges")
      } else {
        Files.createDirectories(manifestDir)
        val staged = manifestDir.resolve(s".staged.${UUID.randomUUID()}")
        Files.write(staged, srcBytes)
        try Files.createLink(target, staged)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            if (!sameAsTarget()) throw new CommitConflictException(
              s"concurrent commit to $root claimed version $v during " +
                s"fast-forward of '$from'; re-read and retry")
        } finally Files.deleteIfExists(staged)
      }
    }
    entries() // refresh readVersion to the published head
    val tmp = rootPath.resolve(s"_LATEST.tmp.${UUID.randomUUID()}")
    Files.write(tmp, f"v$head%05d.txt".getBytes)
    Files.move(tmp, pointer, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    head
  }

  private def tagPath(name: String): Path = refsDir.resolve(s"tag.$name.txt")

  def tagExists(name: String): Boolean = Files.exists(tagPath(name))

  def tags(): Seq[String] =
    Option(refsDir.toFile.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("tag.") && n.endsWith(".txt"))
      .map(_.stripPrefix("tag.").stripSuffix(".txt")).sorted.toSeq

  /** Pin a named immutable tag on a committed MAIN-lineage version
    * (Iceberg tags). Tagged manifests are protected from
    * [[expireSnapshots]] and their data dirs from [[vacuum]], so a
    * `VERSION AS OF '<tag>'` read never dangles.
    */
  def createTag(name: String, version: Option[Long] = None): Long = {
    require(branch == MergeTable.MainBranch,
      "tags pin main-lineage versions; create them from the main instance")
    require(MergeTable.validRefName(name), s"invalid tag name '$name'")
    entries()
    val v = version.getOrElse(readVersion)
    require(v >= 1 && Files.exists(manifestPath(v)),
      s"cannot tag version $v of $root: no such committed version")
    Files.createDirectories(refsDir)
    val staged = refsDir.resolve(s".staged.${UUID.randomUUID()}")
    Files.write(staged, s"ref:$v".getBytes)
    try Files.createLink(tagPath(name), staged)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"tag '$name' already exists at $root")
    } finally Files.deleteIfExists(staged)
    v
  }

  def tagVersion(name: String): Long = {
    require(tagExists(name), s"no tag '$name' at $root")
    new String(Files.readAllBytes(tagPath(name))).trim.stripPrefix("ref:").toLong
  }

  def dropTag(name: String): Unit = {
    require(tagExists(name), s"no tag '$name' at $root")
    Files.deleteIfExists(tagPath(name))
  }

  // -- table-level column statistics (ANALYZE TABLE → CBO) ------------------

  private def tableStatsPath: Path =
    rootPath.resolve("stats").resolve("_TABLE_STATS.json")

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`: ONE aggregate
    * job over the snapshot computes per-column NDV (HLL++ — the only
    * scale-safe distinct count; a 100 TB exact distinct per column is
    * a shuffle each), null count (exact), and avg/max byte length
    * (computed for string/binary, the type's fixed width otherwise),
    * persisted atomically beside the file stats with the version they
    * were computed at. Served to the planner through the DSv2 scan's
    * `columnStats()` (graft.sources.MergeTableBatchScan), where
    * `spark.sql.cbo.enabled` join reordering and selectivity
    * estimation pick them up — NDVs are what decides a join order, and
    * like every engine's ANALYZE they are estimates that survive later
    * writes (the recorded version makes staleness inspectable).
    */
  def analyzeColumns(columns: Seq[String] = Nil): MergeTable.TableStats = {
    require(exists, s"cannot analyze uninitialized table $root")
    val snap = read()
    val cols = if (columns.nonEmpty) columns else snap.columns.toSeq
    cols.foreach(c => require(snap.columns.contains(c),
      s"ANALYZE column '$c' is not in the table schema"))
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val fixedWidth: Map[String, Long] = cols.flatMap { c =>
      snap.schema(c).dataType match {
        case StringType | BinaryType => None
        case t => Some(c -> t.defaultSize.toLong)
      }
    }.toMap
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      val base = Seq(
        approx_count_distinct(col(c)).as(s"__ndv_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        // the column's HLL REGISTERS (DataSketches), persisted so
        // incremental ANALYZE can union a delta sketch in later —
        // values sketch through a canonical string rendering so the
        // delta pass (possibly a narrower unioned delta schema)
        // hashes identically
        hll_sketch_agg(col(c).cast("string"), MergeTable.hllLgK(spark))
          .as(s"__hll_$c"))
      if (fixedWidth.contains(c)) base
      else base ++ Seq(
        avg(length(col(c))).as(s"__avg_$c"),
        max(length(col(c))).as(s"__max_$c"))
    }
    // equi-height histograms for the NUMERIC analyzed columns (the CBO
    // skew signal — NDV alone cannot show a heavy hitter): bin
    // endpoints ride the SAME aggregate job as approximate percentiles
    // at 0, 1/n, …, 1 (ApproximatePercentile — the only scale-safe
    // quantile; Spark's own ANALYZE histogram uses it too)
    val numBins = spark.conf.getOption("graft.mergetable.histogramBins")
      .map(_.toInt).getOrElse(64)
    val numericCols: Seq[String] = cols.filter { c =>
      import org.apache.spark.sql.types._
      snap.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => true
        case _ => false
      }
    }
    val histCols: Seq[String] = if (numBins <= 0) Nil else numericCols
    // exact numeric min/max ride the same job — CBO's FilterEstimation
    // gates every estimate on the value interval before NDV/histogram
    val rangeAggs = numericCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max2_$c")))
    val histAggs = histCols.map { c =>
      val probs = array((0 to numBins).map(i => lit(i.toDouble / numBins)): _*)
      percentile_approx(col(c).cast("double"), probs, lit(10000)).as(s"__pct_$c")
    }
    // a mergeable KLL quantile sketch rides along per histogram column
    // — the persisted half incremental ANALYZE re-derives bin edges
    // from (percentile_approx cannot be saved and merged)
    val kllAggs = histCols.map { c =>
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.KllSketchAgg(
        GraftSqlBridge.expression(col(c).cast("double"))).toAggregateExpression())
        .as(s"__kll_$c")
    }
    val row = snap.agg(aggs.head, (aggs.tail ++ rangeAggs ++ histAggs ++ kllAggs): _*).head()
    val rows = row.getAs[Long]("__rows")
    // per-bin NDVs in ONE more pass: ApproxCountDistinctForIntervals
    // (the expression Spark's ANALYZE histogram uses) sketches every
    // bin of every histogram column in a single aggregate job
    val endpoints: Map[String, Seq[Double]] = histCols.flatMap { c =>
      Option(row.getAs[scala.collection.Seq[Double]](s"__pct_$c"))
        .map(v => c -> v.toSeq)
    }.toMap
    val binNdvs: Map[String, Seq[Long]] =
      if (endpoints.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.GraftSqlBridge
        import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal => CatLit}
        val ndvAggs = endpoints.toSeq.sortBy(_._1).map { case (c, eps) =>
          val agg = org.apache.spark.sql.catalyst.expressions.aggregate
            .ApproxCountDistinctForIntervals(
              GraftSqlBridge.expression(col(c).cast("double")),
              CreateArray(eps.map(e => CatLit(e): org.apache.spark.sql.catalyst.expressions.Expression)))
          GraftSqlBridge.column(agg.toAggregateExpression()).as(s"__ndvs_$c")
        }
        val r = snap.agg(ndvAggs.head, ndvAggs.tail: _*).head()
        endpoints.keys.map(c =>
          c -> r.getAs[scala.collection.Seq[Long]](s"__ndvs_$c").toSeq).toMap
      }
    val colStats = cols.map { c =>
      val nulls = Option(row.getAs[Any](s"__nulls_$c"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val (avgLen, maxLen) = fixedWidth.get(c) match {
        case Some(w) => (w, w)
        case None => (
          Option(row.getAs[Any](s"__avg_$c"))
            .map(v => math.max(1L, math.round(v.asInstanceOf[Double]))).getOrElse(1L),
          Option(row.getAs[Any](s"__max_$c"))
            .map(v => v.asInstanceOf[Number].longValue).getOrElse(1L))
      }
      val hist = for {
        eps <- endpoints.get(c)
        ndvs <- binNdvs.get(c)
        if eps.length == numBins + 1 && ndvs.length == numBins && rows > nulls
      } yield MergeTable.Hist(
        height = (rows - nulls).toDouble / numBins,
        bins = (0 until numBins).map(i =>
          MergeTable.HistBin(eps(i), eps(i + 1), math.max(ndvs(i), 1L))))
      val (mn, mx) =
        if (!numericCols.contains(c)) (None, None)
        else (Option(row.getAs[Any](s"__min_$c")).map(_.asInstanceOf[Double]),
          Option(row.getAs[Any](s"__max2_$c")).map(_.asInstanceOf[Double]))
      c -> MergeTable.ColumnStats(
        ndv = row.getAs[Long](s"__ndv_$c"),
        nullCount = nulls, avgLen = avgLen, maxLen = maxLen, hist = hist,
        min = mn, max = mx,
        hllB64 = Option(row.getAs[Array[Byte]](s"__hll_$c"))
          .map(java.util.Base64.getEncoder.encodeToString),
        kllB64 =
          if (!histCols.contains(c)) None
          else Option(row.getAs[Array[Byte]](s"__kll_$c"))
            .map(java.util.Base64.getEncoder.encodeToString))
    }.toMap
    val stats = MergeTable.TableStats(readVersion, rows, colStats)
    MergeTable.writeTableStats(tableStatsPath, stats)
    stats
  }

  /** Incremental ANALYZE (r14): fold the rows COMMITTED SINCE the
    * last ANALYZE into the persisted stats instead of rescanning the
    * table — at 100 TB a nightly full ANALYZE is a full table pass;
    * this is O(delta rows read) + O(manifest).
    *
    *  - NDV: the delta rows' HLL sketch unions into the PERSISTED
    *    registers — sketch algebra is exact under union, and
    *    re-observed values (COW rewrites, upserts of existing keys)
    *    are idempotent, so the estimate matches a full recompute's;
    *  - row count: exact from footer stats when every file carries
    *    them (`statsRowCount` — covers COW rewrites and deletes),
    *    else prev + delta;
    *  - null counts / lengths / min-max: folded monotonically from
    *    the delta (exact under append; deletes can leave them
    *    conservative, like every engine's incremental stats). Commits
    *    that REPLACED entries (COW rewrites, compaction) would
    *    double-count re-contained rows, and a MOR delta committed by
    *    an UPSERT supersedes base rows the prior stats still count —
    *    both degrade to the full pass; only commits whose recorded op
    *    is `append` fold;
    *  - histograms: re-derived from a persisted mergeable KLL quantile
    *    sketch (`kllB64`) unioned with the delta's sketch — bin edges
    *    stay fold-fresh with bounded rank error (~1.65% at k=200), so
    *    the heavy-hitter signal CBO and the skew-salting rule read
    *    never decays; pre-KLL stats keep their old bins until the
    *    next full pass.
    *
    * Falls back to a full [[analyzeColumns]] when no prior stats (or
    * pre-r14 stats without sketches) exist.
    */
  def analyzeIncremental(): MergeTable.TableStats = {
    require(exists, s"cannot analyze uninitialized table $root")
    val prev = tableStats() match {
      case Some(p) if p.cols.nonEmpty && p.cols.values.forall(_.hllB64.isDefined) => p
      case _ => return analyzeColumns()
    }
    val es = entries() // refresh the version pointer
    val curV = readVersion
    if (curV == prev.version) return prev
    val dataTags = Set("base", "pv", "pb", "delta")
    def dataEntries(s: Seq[(String, String)]) =
      s.filter(e => dataTags(e._1) || e._1.matches("b\\d+"))
    // the stats version's manifest may have been EXPIRED since — the
    // fold base is gone, so degrade to the full pass (the documented
    // no-prior-stats contract), never a crash
    val prevSet =
      try dataEntries(entriesAtVersion(prev.version)).toSet
      catch { case _: IllegalArgumentException => return analyzeColumns() }
    val cur = dataEntries(es)
    val added = cur.filterNot(prevSet)
    val removed = prevSet -- cur.toSet
    if (added.isEmpty) { // deletes only: counts tighten, sketches hold
      val s = prev.copy(version = curV,
        rows = statsRowCount.getOrElse(prev.rows))
      MergeTable.writeTableStats(tableStatsPath, s)
      return s
    }
    // entries REPLACED (COW upsert/delete rewrites, compaction): the
    // "added" dirs re-contain surviving old rows, so folding them
    // would double-count nulls, length weight, and KLL mass. Only the
    // pure-append shapes fold incrementally — anything that rewrote
    // takes the full pass.
    if (removed.nonEmpty) return analyzeColumns()
    // a MOR delta committed by an UPSERT supersedes base rows that the
    // previous stats still count (row count, null counts, KLL mass all
    // double-count the re-written keys) — only commits whose recorded
    // op is `append` (caller asserts new rows) are fold-safe. The op
    // label is verbatim per manifest; a missing manifest (expired
    // in-between version) degrades to the full pass like the fold base.
    val opsSince =
      try versions().filter(v => v > prev.version && v <= curV).map(v =>
        parseManifest(manifestPath(v))
          .collectFirst { case ("op", name) => name }.getOrElse(""))
      catch { case _: Exception => return analyzeColumns() }
    if (!opsSince.forall(_ == "append")) return analyzeColumns()
    // O(delta): ONLY the added dirs are read, logical-named like the
    // full pass; MOR tombstones carry no values and fold out
    val raw = toLogical(readDirs(added.map(_._2)))
    val delta =
      if (raw.columns.contains(Tombstone))
        raw.filter(!coalesce(col(Tombstone), lit(false))).drop(Tombstone)
      else raw
    val analyzed = prev.cols.keys.toSeq.sorted.filter(delta.columns.contains)
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val varWidth = analyzed.filter(c => delta.schema(c).dataType match {
      case StringType | BinaryType => true
      case _ => false
    }).toSet
    // type-gated like the full pass (NOT prev-min/max-gated: a column
    // all-null at full-ANALYZE time must still pick up bounds from
    // later deltas — widen(None, v) self-heals)
    val numericCols = analyzed.filter { c =>
      import org.apache.spark.sql.types._
      delta.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => true
        case _ => false
      }
    }
    // histogram columns whose persisted KLL sketch can absorb the
    // delta: their bin edges re-derive from the MERGED sketch, so
    // incremental histograms do not decay (pre-KLL stats keep the old
    // bins until the next full pass)
    val kllCols = analyzed.filter(c =>
      prev.cols(c).kllB64.isDefined && prev.cols(c).hist.isDefined).toSet
    val aggs = count(lit(1)).as("__rows") +: analyzed.flatMap { c =>
      val base = Seq(
        hll_sketch_agg(col(c).cast("string"), MergeTable.hllLgK(spark)).as(s"__hll_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
      val len = if (!varWidth.contains(c)) Nil else Seq(
        avg(length(col(c))).as(s"__avg_$c"),
        max(length(col(c))).as(s"__max_$c"))
      val rng = if (!numericCols.contains(c)) Nil else Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max2_$c"))
      val kll = if (!kllCols.contains(c)) Nil else {
        import org.apache.spark.sql.GraftSqlBridge
        Seq(GraftSqlBridge.column(graft.functions.KllSketchAgg(
          GraftSqlBridge.expression(col(c).cast("double"))).toAggregateExpression())
          .as(s"__kll_$c"))
      }
      base ++ len ++ rng ++ kll
    }
    val row = delta.agg(aggs.head, aggs.tail: _*).head()
    val deltaRows = row.getAs[Long]("__rows")
    val newRows = statsRowCount.getOrElse(prev.rows + deltaRows)
    val cols = prev.cols.map { case (c, p) =>
      // a stats column the delta files don't carry reads as NULL in
      // the added rows (schema-evolution backfill) — fold the nulls
      if (!analyzed.contains(c)) c -> p.copy(nullCount = p.nullCount + deltaRows)
      else {
        val deltaSketch = Option(row.getAs[Array[Byte]](s"__hll_$c"))
        val (ndv, hll) = MergeTable.hllUnion(p.hllB64.get, deltaSketch)
        val dNulls = Option(row.getAs[Any](s"__nulls_$c"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val (avgLen, maxLen) =
          if (!varWidth.contains(c)) (p.avgLen, p.maxLen)
          else {
            val dAvg = Option(row.getAs[Any](s"__avg_$c"))
              .map(_.asInstanceOf[Double]).getOrElse(0.0)
            val dMax = Option(row.getAs[Any](s"__max_$c"))
              .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
            val pN = math.max(prev.rows - p.nullCount, 0L)
            val dN = math.max(deltaRows - dNulls, 0L)
            val blended =
              if (pN + dN == 0) p.avgLen
              else math.max(1L, math.round(
                (p.avgLen.toDouble * pN + dAvg * dN) / (pN + dN)))
            (blended, math.max(p.maxLen, dMax))
          }
        def widen(old: Option[Double], dv: Option[Double], lo: Boolean) =
          (old ++ dv).reduceOption((a, b) => if (lo == (a <= b)) a else b)
        val (mn, mx) =
          if (!numericCols.contains(c)) (p.min, p.max)
          else (widen(p.min, Option(row.getAs[Any](s"__min_$c"))
                  .map(_.asInstanceOf[Double]), lo = true),
                widen(p.max, Option(row.getAs[Any](s"__max2_$c"))
                  .map(_.asInstanceOf[Double]), lo = false))
        val newNulls = p.nullCount + dNulls
        // histogram re-derivation from the MERGED KLL sketch: equal
        // edges mark a heavy-hitter bin (ndv 1 by construction); the
        // remaining distincts spread over the range bins — the same
        // skew signal CBO and the salting rule read, now fold-fresh
        val (hist2, kll2) =
          if (!kllCols.contains(c)) (p.hist, p.kllB64)
          else {
            val prevBytes = java.util.Base64.getDecoder.decode(p.kllB64.get)
            val mergedBytes = Option(row.getAs[Array[Byte]](s"__kll_$c"))
              .map(d => graft.functions.KllSketchAgg.mergeBytes(prevBytes, d))
              .getOrElse(prevBytes)
            val numBins = p.hist.get.bins.length
            val rebuilt = graft.functions.KllSketchAgg.edges(mergedBytes, numBins)
              .map { eps =>
                val heavyBins = (0 until numBins).count(i => eps(i) == eps(i + 1))
                val rangeBins = math.max(numBins - heavyBins, 1)
                val remaining = math.max(1L, ndv - heavyBins)
                MergeTable.Hist(
                  height = math.max(newRows - newNulls, 0L).toDouble / numBins,
                  bins = (0 until numBins).map { i =>
                    val bNdv = if (eps(i) == eps(i + 1)) 1L
                    else math.max(1L, remaining / rangeBins)
                    MergeTable.HistBin(eps(i), eps(i + 1), bNdv)
                  })
              }.orElse(p.hist)
            (rebuilt, Some(java.util.Base64.getEncoder.encodeToString(mergedBytes)))
          }
        c -> p.copy(ndv = ndv, nullCount = newNulls,
          avgLen = avgLen, maxLen = maxLen, min = mn, max = mx,
          hist = hist2, hllB64 = Some(hll), kllB64 = kll2)
      }
    }
    val stats = MergeTable.TableStats(curV, newRows, cols)
    MergeTable.writeTableStats(tableStatsPath, stats)
    stats
  }

  /** The persisted ANALYZE result, if any. */
  def tableStats(): Option[MergeTable.TableStats] =
    MergeTable.readTableStats(tableStatsPath)

  // -- stats-pruned reads & clustering -------------------------------------

  /** Current manifest entries, exposed so a reader can pin ONE pointer
    * resolution across schema, scan, and stats pruning.
    */
  private[graft] def currentEntries(): Seq[(String, String)] =
    entries().filterNot(_._1 == "ing") // ledger entries are not data

  /** [[currentEntries]] plus the snapshot's `sort` marker, from ONE
    * manifest resolution — a reader claiming per-partition ordering
    * must read the marker from the SAME manifest its entries were
    * pinned at, or a commit landing between the two reads could pin
    * unsorted entries under a newer manifest's sort claim.
    */
  private[graft] def currentEntriesWithSort(): (Seq[(String, String)], Seq[String]) = {
    val raw = currentManifest() match {
      case Some(m) if Files.exists(m) =>
        readVersion = manifestVersion(m)
        resolveManifest(m)
      case _ =>
        readVersion = 0L
        Nil
    }
    (raw.filterNot(e =>
      e._1 == "txn" || e._1 == "sort" || e._1 == "ing" || e._1 == "op"),
      raw.collectFirst { case ("sort", c) => c.split(",").toSeq }.getOrElse(Nil))
  }

  private[graft] def entriesAtVersion(version: Long): Seq[(String, String)] =
    entriesAt(version)

  private[graft] def readFrom(es: Seq[(String, String)]): DataFrame = readEntries(es)

  /** Absolute path of a commit dir's data root. */
  private[graft] def dirPath(d: String): Path = dataDir.resolve(d)

  /** Total on-disk bytes of the data files a snapshot references —
    * the planner-facing size estimate behind the source relation's
    * `sizeInBytes`. Driver-side directory walk, O(files), no data
    * read. For MOR/dv snapshots the sum includes deltas and masks:
    * reconciliation only ever REPLACES or REMOVES rows, so the sum
    * stays a safe upper bound for broadcast decisions.
    */
  private[graft] def snapshotBytes(es: Seq[(String, String)]): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    es.map { case (_, d) => walk(dataDir.resolve(d).toFile) }.sum
  }

  /** The snapshot's parquet files with their per-file column ranges,
    * for stats-pruned scans — or None when the snapshot has MOR deltas
    * (pruning rows BEFORE key reconciliation would resurrect
    * overwritten/deleted rows, so delta-bearing reads always scan
    * fully; compaction restores prunability). Files without recorded
    * stats surface an empty map and are always kept.
    */
  def prunableFiles(es: Seq[(String, String)]): Option[Seq[(Path, Map[String, (String, String, String)])]] = {
    // dv-bearing snapshots skip stats pruning like delta-bearing
    // ones — not for correctness (a mask only ever REMOVES rows, so
    // dropping a file is safe) but because the source's pruned-scan
    // path builds a raw file scan that would bypass the positional
    // anti-join; compaction restores prunability
    if (es.isEmpty || es.exists(e => e._1 == "delta" || e._1 == "dv")) None
    // `ing` ledger files are bookkeeping, not rows — current callers
    // already pre-filter them (currentEntriesWithSort), but a future
    // caller passing raw entries must not surface phantom ledger rows
    else Some(es.filterNot(_._1 == "ing").flatMap { case (_, d) =>
      val stats = FileStats.read(rootPath, d)
      val base = dataDir.resolve(d)
      FileStats.listParquetFiles(base).map { f =>
        f -> stats.flatMap(_.get(base.relativize(f).toString)).getOrElse(Map.empty)
      }
    })
  }

  /** Footer-derived per-file metadata (exact row count, per-column
    * null counts, min/max ranges) for metadata-only aggregate
    * pushdown — or None when the snapshot cannot be aggregated from
    * manifests alone: MOR deltas / dv masks change the visible row
    * set at read time, and a file without a recorded stats entry has
    * unknown counts. Unlike pruning (advisory — an unknown file is
    * scanned), aggregation is all-or-nothing: every file must be
    * accounted for or the engine falls back to a real scan.
    */
  private[graft] def aggregatableFiles(
      rawEs: Seq[(String, String)]): Option[Seq[FileStats.FileMeta]] =
    aggregatableFilesByDir(rawEs).map(_.flatMap(_._2))

  /** [[prunableFiles]] for a DELETION-VECTOR snapshot: per-file stats
    * of the base data files, with dv (and ledger) entries excluded
    * from the listing. Pruning a dv snapshot is safe only for a
    * reader that applies the positional mask ITSELF above the raw
    * file scan (the DSv2 Batch path) — a mask only ever removes rows,
    * so dropping a whole file drops its masked positions with it; the
    * V1 pruned-scan path must keep using [[prunableFiles]], which
    * refuses. None when the snapshot also carries MOR deltas (row
    * visibility then needs per-key reconciliation, not a mask).
    */
  def prunableFilesDv(es: Seq[(String, String)]): Option[Seq[(Path, Map[String, (String, String, String)])]] = {
    if (es.isEmpty || es.exists(_._1 == "delta")) None
    else Some(es.filterNot(e => e._1 == "dv" || e._1 == "ing").flatMap { case (_, d) =>
      val stats = FileStats.read(rootPath, d)
      val base = dataDir.resolve(d)
      FileStats.listParquetFiles(base).map { f =>
        f -> stats.flatMap(_.get(base.relativize(f).toString)).getOrElse(Map.empty)
      }
    })
  }

  /** [[prunableFiles]] for a MOR (delta-bearing) snapshot: per-file
    * stats of the BASE data files only, deltas excluded. Pruning a
    * delta-bearing snapshot is safe ONLY for a reader that reconciles
    * the delta layer ITSELF above the raw file scan (the DSv2 Batch
    * path: superseded base rows are dropped against the broadcast
    * delta key set, and the reconciled delta rows ride along) —
    * dropping a whole base file then drops only rows that are either
    * superseded (replaced by a delta winner) or provably filtered.
    * The V1 pruned-scan path must keep using [[prunableFiles]], which
    * refuses. None when the snapshot has no deltas (COW/dv shapes own
    * those) or also carries dv masks.
    */
  def prunableFilesMor(es: Seq[(String, String)]): Option[Seq[(Path, Map[String, (String, String, String)])]] = {
    if (es.isEmpty || !es.exists(_._1 == "delta") || es.exists(_._1 == "dv")) None
    else Some(es.filterNot(e => e._1 == "delta" || e._1 == "ing").flatMap { case (_, d) =>
      val stats = FileStats.read(rootPath, d)
      val base = dataDir.resolve(d)
      FileStats.listParquetFiles(base).map { f =>
        f -> stats.flatMap(_.get(base.relativize(f).toString)).getOrElse(Map.empty)
      }
    })
  }

  /** Total rows across a snapshot's MOR delta entries, folded from
    * footer stats (recorded at commit) — the size gate the Batch
    * read's driver-side delta reconciliation consults before paying
    * the collect. None when any delta file lacks a stats entry (size
    * unknowable without a read).
    */
  private[graft] def morDeltaRows(es: Seq[(String, String)]): Option[Long] = {
    val per = es.filter(_._1 == "delta").map { case (_, d) =>
      FileStats.readFull(rootPath, d).flatMap { full =>
        val base = dataDir.resolve(d)
        val files = FileStats.listParquetFiles(base)
        val metas = files.flatMap(f => full.get(base.relativize(f).toString))
        if (metas.size == files.size) Some(metas.map(_.rows).sum) else None
      }
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** On-disk bytes of a snapshot's delta entries — the Batch scan's
    * size-estimate top-up (reconciliation only replaces/removes base
    * rows, so base + delta stays a safe upper bound).
    */
  private[graft] def morDeltaBytes(es: Seq[(String, String)]): Long =
    snapshotBytes(es.filter(_._1 == "delta"))

  /** The RECONCILED delta layer of a MOR snapshot: one row per key —
    * the latest delta row across the snapshot's delta commits, with a
    * [[MergeTable.TombstoneColName]] boolean preserved (true = the
    * key's final state is deleted). Exactly the per-key resolution
    * [[readEntries]] applies, restricted to seq ≥ 1: base rows carry
    * seq 0 and lose to ANY delta row, so "reconciled deltas + base
    * rows whose key appears in no delta" is the same visible set.
    */
  private[graft] def morDeltaLatest(es: Seq[(String, String)]): DataFrame = {
    val deltas = es.filter(_._1 == "delta")
    require(deltas.nonEmpty, s"snapshot at $root has no delta entries")
    val parts = deltas.zipWithIndex.map { case ((_, d), i) =>
      readDirs(Seq(d)).withColumn("_graft_seq", lit(i + 1))
    }
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val withTomb =
      if (unioned.columns.contains(Tombstone)) unioned
      else unioned.withColumn(Tombstone, lit(false))
    Precombine.latestByKey(withTomb, keys, Seq("_graft_seq"))
      .withColumn(Tombstone, coalesce(col(Tombstone), lit(false)))
      .drop("_graft_seq")
  }

  /** Per-file EXACT footer row counts of a snapshot's base data files
    * (path-keyed, all-or-nothing like [[aggregatableFiles]]) — the
    * Batch scan's post-pruning numRows source: advisory filters prune
    * whole files but never change a surviving file's output, so the
    * survivors' footer rows ARE the scan's exact output count, and
    * CBO selectivity math above the scan gets a real child cardinality
    * even on filtered reads. None when any file lacks a stats entry.
    */
  private[graft] def fileRowsByPath(es: Seq[(String, String)]): Option[Map[Path, Long]] = {
    val dirs = es.filterNot(e =>
      e._1 == "dv" || e._1 == "ing" || e._1 == "delta").map(_._2)
    val per = dirs.map { d =>
      FileStats.readFull(rootPath, d).flatMap { full =>
        val base = dataDir.resolve(d)
        val files = FileStats.listParquetFiles(base)
        val metas = files.map(f =>
          full.get(base.relativize(f).toString).map(f -> _.rows))
        if (metas.forall(_.isDefined)) Some(metas.flatten) else None
      }
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten.toMap)
  }

  /** dv entry dirs of a snapshot. */
  private[graft] def dvDirsOf(es: Seq[(String, String)]): Seq[String] =
    es.filter(_._1 == "dv").map(_._2)

  /** Total masked positions of a snapshot's dv entries, folded from
    * footer stats (writeMask records them at commit) — the size gate
    * a driver-resident mask load consults before paying the read.
    * None when any mask file lacks stats.
    */
  private[graft] def dvMaskRows(es: Seq[(String, String)]): Option[Long] = {
    val per = dvDirsOf(es).map { d =>
      FileStats.readFull(rootPath, d).flatMap { full =>
        val base = dataDir.resolve(d)
        val files = FileStats.listParquetFiles(base)
        val metas = files.flatMap(f => full.get(base.relativize(f).toString))
        if (metas.size == files.size) Some(metas.map(_.rows).sum) else None
      }
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** The positional mask of a snapshot, collected to the driver and
    * grouped per base file: normalized path → SORTED masked row
    * indexes. Size-gated by the caller via [[dvMaskRows]].
    */
  private[graft] def dvMaskByFile(es: Seq[(String, String)]): Map[String, Array[Long]] = {
    val dirs = dvDirsOf(es)
    if (dirs.isEmpty) return Map.empty
    readDirs(dirs).select(FileCol, PosCol).collect()
      .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).sorted }
  }

  /** Exact row count of the current snapshot folded from parquet
    * footer stats alone — the same manifest-only fold metadata-only
    * aggregate pushdown serves `count(*)` from, as a direct API for
    * engine components (a stream's startup sizing probe) that need
    * the number without planning a query. O(manifest), ZERO data
    * files opened. None when the snapshot cannot be answered from
    * manifests (MOR deltas / dv masks, or a file without recorded
    * stats) — callers fall back to a real count.
    */
  def statsRowCount: Option[Long] =
    if (!exists) Some(0L)
    else aggregatableFiles(entries()).map(_.map(_.rows).sum)

  /** Per-ENTRY-dir grouping of [[aggregatableFiles]]: the dir string
    * keeps its `_graft_p_<col>=<val>` partition segments, so
    * partition-filtered metadata aggregation can include or exclude
    * whole dirs exactly (every row of a dir shares its partition
    * tuple).
    */
  private[graft] def aggregatableFilesByDir(
      rawEs: Seq[(String, String)]): Option[Seq[(String, Seq[FileStats.FileMeta])]] = {
    val es = rawEs.filterNot(_._1 == "ing") // ledger entries are not data
    if (es.exists(e => e._1 == "delta" || e._1 == "dv")) return None
    val perDir = es.map { case (_, d) =>
      val full = FileStats.readFull(rootPath, d).getOrElse(Map.empty)
      val base = dataDir.resolve(d)
      val files = FileStats.listParquetFiles(base)
      val metas = files.flatMap(f => full.get(base.relativize(f).toString))
      if (metas.size == files.size) Some(d -> metas) else None
    }
    if (perDir.exists(_.isEmpty)) None else Some(perDir.map(_.get))
  }

  /** The snapshot dirs whose bloom index exists and covers every
    * file of the commit (written while `graft.mergetable.bloomIndex`
    * was true). Cheap driver-side marker checks — O(dirs), never
    * O(files).
    */
  private[graft] def bloomCoveredDirs(es: Seq[(String, String)]): Seq[String] =
    es.map(_._2).distinct.filter(d => FileBlooms.covered(rootPath, d))

  /** Absolute paths under the given bloom-covered dirs whose blooms
    * might contain any of `hashes`. Executor-side probe: the driver
    * receives only surviving names, never bloom bytes — see
    * [[FileBlooms.mightContain]].
    */
  private[graft] def bloomSurvivors(dirs: Seq[String], hashes: Seq[Long]): Set[Path] =
    FileBlooms.mightContain(spark, rootPath, dirs, hashes)
      .map { case (d, rel) => dataDir.resolve(d).resolve(rel) }.toSet

  /** Z-order clustering (the OPTIMIZE ZORDER maintenance op): rewrite
    * the snapshot range-partitioned and sorted by the interleaved
    * z-value of `cols`, so per-file min/max ranges become tight on
    * EVERY clustering column and stats pruning serves predicates on
    * any of them. Numeric columns only; `targetFiles` bounds the file
    * count (default: shuffle partitions). Like compact(), this is a
    * whole-snapshot rewrite — schedule it, don't run it per batch.
    */
  /** Small-file bin-packing (Delta's plain `OPTIMIZE`): rewrite the
    * flat snapshot into ceil(totalBytes / targetBytes) files when the
    * current layout holds more — the lake-maintenance answer to
    * drip-fed appends/ingests whose many small files tax every scan's
    * task scheduling and footer reads. A no-op (no commit, version
    * unchanged) when the snapshot is already at-or-under the target
    * count, when deltas/masks are pending (COMPACT owns that fold),
    * or on bucketed/partitioned layouts (their write paths keep
    * per-scope file counts bounded). Preserves the copyInto ledger.
    * Returns the number of files after the call.
    */
  def optimizeFiles(targetBytes: Long = 128L * 1024 * 1024,
                    keepLeaf: String => Boolean = _ => true): Int =
    withOp("optimize")(optimizeFilesImpl(targetBytes, keepLeaf))

  private def optimizeFilesImpl(targetBytes: Long,
                                keepLeaf: String => Boolean): Int = {
    require(exists, s"cannot optimize uninitialized table $root")
    val es = entries()
    val dataEs = es.filterNot(_._1 == "ing")
    if (dataEs.exists(e => e._1 == "delta" || e._1 == "dv"))
      return currentFileCount()
    if (composed)
      return optimizeComposedDirs(es, targetBytes, keepLeaf)
    if (numBuckets.isDefined)
      return optimizeBucketDirs(es, targetBytes, keepLeaf)
    if (partitionCols.nonEmpty)
      return optimizePartitionDirs(es, targetBytes, keepLeaf)
    val files = dataEs.flatMap { case (_, d) =>
      FileStats.listParquetFiles(dataDir.resolve(d)) }
    val total = files.map(f => Files.size(f)).sum
    val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    if (files.size <= want) return files.size
    commit(ledgerEntries(es) ++
      Seq("base" -> writeData(rewriteSource().repartition(want))))
    currentFileCount()
  }

  /** Partition-scoped bin-packing (`OPTIMIZE … [WHERE partition
    * equalities]`): rewrite ONLY the selected partition dirs whose
    * file count exceeds what their bytes need at the target size —
    * each fragmented partition coalesces with its own O(partition)
    * job, untouched partitions keep their directories verbatim, and
    * ONE atomic commit swaps them all. OPTIMIZE pays for the
    * fragmented (selected) partitions, not the table.
    */
  private def optimizePartitionDirs(es: Seq[(String, String)], targetBytes: Long,
      keepLeaf: String => Boolean): Int = {
    def leafOf(d: String): String = d.split("/", 2)(1)
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
    val toRewrite = es.filter(e => e._1 == "pv" && keepLeaf(leafOf(e._2)))
      .filter { case (_, d) =>
        val fs = FileStats.listParquetFiles(dataDir.resolve(d))
        val total = fs.map(f => Files.size(f)).sum
        fs.size > math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      }
    if (toRewrite.nonEmpty) {
      val rewritten = toRewrite.flatMap { case (_, d) =>
        val fs = FileStats.listParquetFiles(dataDir.resolve(d))
        val total = fs.map(f => Files.size(f)).sum
        val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
        val src0 = readDirs(Seq(d))
        val src = dropped.filter(src0.columns.contains) match {
          case Nil => src0
          case ds => src0.drop(ds: _*)
        }
        writePartitioned(src.repartition(want))
      }
      commit(es.filterNot(toRewrite.contains) ++ rewritten)
    }
    currentFileCount()
  }

  /** Bucket-scoped bin-packing (the bucketed twin of
    * [[optimizePartitionDirs]]): rewrite ONLY the selected bucket
    * dirs whose file count exceeds what their bytes need at the
    * target size — each fragmented bucket coalesces with its own
    * O(bucket) job, untouched buckets keep their directories
    * verbatim, and the commit is BUCKET-SCOPED so concurrent
    * disjoint-bucket writers rebase instead of conflicting (a key's
    * bucket is a pure hash — scope disjointness implies key
    * disjointness, same as [[bucketedMerge]]).
    */
  private def optimizeBucketDirs(es: Seq[(String, String)], targetBytes: Long,
      keepLeaf: String => Boolean): Int = {
    def leafOf(d: String): String = d.split("/", 2)(1)
    def wantOf(d: String): (Int, Int) = {
      val fs = FileStats.listParquetFiles(dataDir.resolve(d))
      val total = fs.map(f => Files.size(f)).sum
      (fs.size, math.max(1, math.ceil(total.toDouble / targetBytes).toInt))
    }
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
    // stat each dir ONCE and carry (n, want) into the rewrite: a
    // second walk re-lists and re-stats every file, and a concurrent
    // writer landing between walks would make the rewrite's `want`
    // disagree with the one that selected the dir
    val toRewrite = es.filter(e => e._1.matches("b\\d+") && keepLeaf(leafOf(e._2)))
      .map { case (t, d) => (t, d, wantOf(d)) }
      .collect { case (t, d, (n, want)) if n > want => (t, d, want) }
    if (toRewrite.nonEmpty) {
      val updated = toRewrite.flatMap { case (_, d, want) =>
        val src0 = readDirs(Seq(d))
        val src = dropped.filter(src0.columns.contains) match {
          case Nil => src0
          case ds => src0.drop(ds: _*)
        }
        val dir = UUID.randomUUID().toString
        src.repartition(want).withColumn(BucketCol, bucketExpr)
          .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
          .parquet(dataDir.resolve(dir).toString)
        val written = listBuckets(dir)
        written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
        written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i")
      }
      commitScoped(es, toRewrite.map(_._1).toSet, updated,
        { case (t, _) => if (t.matches("b\\d+")) Some(t) else None },
        validateKeys = None)
    }
    currentFileCount()
  }

  /** Cell-scoped bin-packing on the composed layout (the
    * partitioned × bucketed twin of [[optimizeBucketDirs]]): each
    * selected fragmented (partition × bucket) cell coalesces with its
    * own O(cell) job, untouched cells keep their directories
    * verbatim, and the commit is CELL-SCOPED so concurrent
    * disjoint-cell writers rebase instead of conflicting (the rewrite
    * adds no rows, so no key validation is needed).
    */
  private def optimizeComposedDirs(es: Seq[(String, String)], targetBytes: Long,
      keepLeaf: String => Boolean): Int = {
    def leafOf(d: String): String = d.split("/", 2)(1)
    def wantOf(d: String): (Int, Int) = {
      val fs = FileStats.listParquetFiles(dataDir.resolve(d))
      val total = fs.map(f => Files.size(f)).sum
      (fs.size, math.max(1, math.ceil(total.toDouble / targetBytes).toInt))
    }
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
    // stat each dir ONCE and carry want into the rewrite (see
    // optimizeBucketDirs for why)
    val toRewrite = es.filter(e => e._1 == "pb" && keepLeaf(leafOf(e._2)))
      .map { case (t, d) => (t, d, wantOf(d)) }
      .collect { case (t, d, (n, want)) if n > want => (d, want) }
    if (toRewrite.nonEmpty) {
      val updated = toRewrite.flatMap { case (d, want) =>
        val src0 = readDirs(Seq(d))
        val src = dropped.filter(src0.columns.contains) match {
          case Nil => src0
          case ds => src0.drop(ds: _*)
        }
        // each source dir is ONE cell, so the composed write emits
        // exactly one leaf back
        writeComposed(src.repartition(want))
      }
      commitScoped(es, toRewrite.map(r => leafOf(r._1)).toSet, updated,
        { case (t, d) => if (t == "pb") Some(leafOf(d)) else None },
        validateKeys = None)
    }
    currentFileCount()
  }

  /** Metadata-only per-bucket summary (`SHOW PARTITIONS` on a
    * hash-bucketed table): one row per bucket — spec `bucket=<i>`,
    * file count, EXACT row count when every file has footer stats
    * (None otherwise), on-disk bytes. Driver-side O(files) stat walk,
    * zero data reads; pending MOR deltas surface as one
    * "(pending deltas)" row like [[partitionSummary]].
    */
  def bucketSummary(): Seq[(String, Long, Option[Long], Long)] = {
    require(numBuckets.isDefined, s"table at $root is not hash-bucketed")
    val es = entries()
    // composed layouts attribute each pb cell to its bucket id, so a
    // bucket's row folds across every partition it appears in
    val dirsByBucket =
      es.filter(_._1.matches("b\\d+"))
        .map(e => (e._1.stripPrefix("b").toLong, e._2)) ++
        es.filter(_._1 == "pb").flatMap(e => bucketIdOf(e._2).map(_ -> e._2))
    val perBucket = dirsByBucket.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (i, tagged) =>
        val stats = tagged.map { case (_, d) =>
          val base = dataDir.resolve(d)
          val files = FileStats.listParquetFiles(base)
          val rows = FileStats.readFull(rootPath, d).flatMap { full =>
            val metas = files.map(f => full.get(base.relativize(f).toString))
            if (metas.exists(_.isEmpty)) None else Some(metas.flatten.map(_.rows).sum)
          }
          (files.size.toLong, rows, files.map(f => Files.size(f)).sum)
        }
        (s"bucket=$i", stats.map(_._1).sum,
          if (stats.exists(_._2.isEmpty)) None else Some(stats.flatMap(_._2).sum),
          stats.map(_._3).sum)
      }
    val deltas = es.filter(_._1 == "delta")
    val deltaRow =
      if (deltas.isEmpty) Nil
      else {
        val files = deltas.flatMap(e => FileStats.listParquetFiles(dataDir.resolve(e._2)))
        Seq(("(pending deltas)", files.size.toLong, Option.empty[Long],
          files.map(f => Files.size(f)).sum))
      }
    perBucket ++ deltaRow
  }

  /** Metadata-only per-partition summary (`SHOW PARTITIONS`): one row
    * per partition — spec (`col=val[/col2=val2]`, path-escaped like
    * the dir names), file count, EXACT row count when every file has
    * footer stats (None otherwise), on-disk bytes. Driver-side
    * O(files) stat walk, zero data reads. Pending MOR deltas are not
    * partition-attributable and surface as one "(pending deltas)"
    * row.
    */
  def partitionSummary(): Seq[(String, Long, Option[Long], Long)] = {
    require(partitionCols.nonEmpty, s"table at $root is not value-partitioned")
    def leafOf(d: String): String = d.split("/", 2)(1)
    // the composed layout's trailing bucket segment is not part of
    // the partition spec — its cells fold into their partition's row
    def specOf(leaf: String): String =
      leaf.split('/').filter(_.startsWith(PartPrefix))
        .map(_.stripPrefix(PartPrefix)).mkString("/")
    val es = entries()
    val perLeaf = es.filter(e => e._1 == "pv" || e._1 == "pb").map { case (_, d) =>
      val base = dataDir.resolve(d)
      val files = FileStats.listParquetFiles(base)
      val rows = FileStats.readFull(rootPath, d).flatMap { full =>
        val metas = files.map(f => full.get(base.relativize(f).toString))
        if (metas.exists(_.isEmpty)) None else Some(metas.flatten.map(_.rows).sum)
      }
      (specOf(leafOf(d)), files.size.toLong, rows, files.map(f => Files.size(f)).sum)
    }
    val merged = perLeaf.groupBy(_._1).toSeq.map { case (spec, rs) =>
      (spec, rs.map(_._2).sum,
        if (rs.exists(_._3.isEmpty)) None else Some(rs.flatMap(_._3).sum),
        rs.map(_._4).sum)
    }.sortBy(_._1)
    val deltas = es.filter(_._1 == "delta")
    val deltaRow =
      if (deltas.isEmpty) Nil
      else {
        val files = deltas.flatMap(e => FileStats.listParquetFiles(dataDir.resolve(e._2)))
        Seq(("(pending deltas)", files.size.toLong, Option.empty[Long],
          files.map(f => Files.size(f)).sum))
      }
    merged ++ deltaRow
  }

  private def currentFileCount(): Int =
    entries().filterNot(_._1 == "ing").map { case (_, d) =>
      FileStats.listParquetFiles(dataDir.resolve(d)).size
    }.sum

  /** Sorting rewrite for hash-bucketed tables (Hive/Spark's
    * bucketed-SORTED-table shape, `OPTIMIZE … SORT BY`): the
    * reconciled snapshot is rewritten one task per bucket with rows
    * sorted by `cols` inside each bucket dir, and the commit carries a
    * `sort` marker line recording it. While the marker is current, the
    * DSv2 batch scan reports per-partition ordering
    * ([[graft.sources.MergeTableBatchScan]]'s `SupportsReportOrdering`)
    * — so two co-bucketed sorted tables SORT-MERGE JOIN with neither a
    * shuffle (storage-partitioned join) nor a sort, the dominant two
    * costs of a fact⋈fact join at scale. Any later commit rebuilds its
    * manifest without the marker, so a write invalidates the ordering
    * claim automatically and the scan falls back to reporting none.
    * MOR deltas and dv masks are folded by the rewrite (it starts from
    * the reconciled snapshot); the marker then lasts until their next
    * delta lands.
    */
  def sortBuckets(cols: Seq[String]): Int = withOp("sort") {
    require(exists, s"cannot sort uninitialized table $root")
    require(cols.nonEmpty, "sortBuckets needs at least one sort column")
    val n = numBuckets.getOrElse(throw new IllegalArgumentException(
      "sortBuckets needs a hash-bucketed layout (use cluster() to z-order " +
        "flat or partitioned tables)"))
    val snap = rewriteSource()
    val rn = renames
    val phys = cols.map(c => rn.getOrElse(c, c))
    phys.foreach(c => require(snap.columns.contains(c),
      s"sort column '$c' is not in the table schema"))
    val dir = UUID.randomUUID().toString
    if (composed) {
      // per-CELL sorted runs on the composed layout: one writer task
      // per (partition × bucket) cell, each cell's file(s) one sorted
      // run. A WHOLE bucket's scan partition concatenates its cells
      // across partitions, which no column order survives — so the
      // marker's scan-side claim is conditional: the Batch scan
      // reports the ordering only when pruning left ≤ ONE cell per
      // surviving bucket (the day-filtered join shape), and composed
      // SPJ joins then skip their sorts too.
      val tagged = partitionCols.foldLeft(snap)((d, c) =>
          d.withColumn(PartPrefix + c, col(c)))
        .withColumn(BucketCol, bucketExpr)
      val cellCols = partitionCols.map(PartPrefix + _) :+ BucketCol
      tagged.repartition(cellCols.map(col): _*)
        .sortWithinPartitions((cellCols ++ phys).map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy(cellCols: _*)
        .parquet(dataDir.resolve(dir).toString)
      val leaves = listComposedLeaves(dataDir.resolve(dir))
      leaves.foreach(rel => recordStats(s"$dir/$rel"))
      commit(ledgerEntries(entries()) ++
        leaves.sorted.map(rel => "pb" -> s"$dir/$rel") ++
        Seq("sort" -> phys.mkString(",")))
      return leaves.size
    }
    require(partitionCols.isEmpty,
      "sortBuckets needs a hash-bucketed layout; plain value partitioning " +
        "z-orders per dir via OPTIMIZE … ZORDER BY instead")
    // repartition BY THE BUCKET ID: each id lands in exactly one task,
    // so each bucket dir is written by one writer as one sorted run
    // (sortWithinPartitions leads with the id — ids sharing a task
    // stay contiguous and each dir's file is still fully sorted)
    snap.withColumn(BucketCol, bucketExpr)
      .repartition(n, col(BucketCol))
      .sortWithinPartitions((BucketCol +: phys).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(dataDir.resolve(dir).toString)
    val written = listBuckets(dir)
    written.foreach(i => recordStats(s"$dir/$BucketCol=$i"))
    commit(ledgerEntries(entries()) ++
      written.toSeq.sorted.map(i => s"b$i" -> s"$dir/$BucketCol=$i") ++
      Seq("sort" -> phys.mkString(",")))
    written.size
  }

  def cluster(cols: Seq[String], targetFiles: Int = 0,
              keepLeaf: String => Boolean = _ => true): Unit =
    withOp("zorder")(clusterImpl(cols, targetFiles, keepLeaf))

  private def clusterImpl(cols: Seq[String], targetFiles: Int,
                          keepLeaf: String => Boolean): Unit = {
    require(exists, s"cannot cluster uninitialized table $root")
    require(numBuckets.isEmpty, "cluster() conflicts with a hash-bucketed layout")
    if (partitionCols.nonEmpty) {
      clusterPartitionDirs(cols, targetFiles, keepLeaf)
      return
    }
    val snap = rewriteSource()
    // caller-facing column names are logical; the rewrite source is
    // physical, so map them through the rename table
    val rn = renames
    val z = MergeTable.zValue(snap, cols.map(c => rn.getOrElse(c, c)))
    val p = if (targetFiles > 0) targetFiles
      else spark.sessionState.conf.numShufflePartitions
    val clustered = snap.withColumn(ZCol, z)
      .repartitionByRange(p, col(ZCol))
      .sortWithinPartitions(ZCol)
      .drop(ZCol)
    commit(ledgerEntries(entries()) ++ Seq("base" -> writeData(clustered)))
  }

  /** Per-partition Z-order (`OPTIMIZE … [WHERE …] ZORDER BY` on a
    * value-partitioned table — the Delta norm): each selected
    * partition dir rewrites z-clustered WITHIN itself (each dir its
    * own O(partition) job, per-dir file count preserved unless
    * `targetFiles` overrides), untouched partitions keep their
    * directories verbatim, and ONE atomic commit swaps them — so
    * clustering pays for the selected partitions, not the table, and
    * the partition-dir pruning the layout exists for is undisturbed.
    * Pending MOR deltas are not partition-attributed yet; compact
    * first, loudly.
    */
  private def clusterPartitionDirs(cols: Seq[String], targetFiles: Int,
      keepLeaf: String => Boolean): Unit = {
    val es = entries()
    require(!es.exists(e => e._1 == "delta" || e._1 == "dv"),
      s"cluster() on $root with pending deltas: compact() first so every " +
        "row is partition-attributed")
    def leafOf(d: String): String = d.split("/", 2)(1)
    val rn = renames
    val physCols = cols.map(c => rn.getOrElse(c, c))
    val dropped = MergeTable.readMeta(root).map(_.droppedColumns).getOrElse(Nil)
    val toRewrite = es.filter(e => e._1 == "pv" && keepLeaf(leafOf(e._2)))
    if (toRewrite.isEmpty) return
    val rewritten = toRewrite.flatMap { case (_, d) =>
      val p = if (targetFiles > 0) targetFiles
        else math.max(1, FileStats.listParquetFiles(dataDir.resolve(d)).size)
      val src0 = readDirs(Seq(d))
      val src = dropped.filter(src0.columns.contains) match {
        case Nil => src0
        case ds => src0.drop(ds: _*)
      }
      val z = MergeTable.zValue(src, physCols)
      writePartitioned(src.withColumn(ZCol, z)
        .repartitionByRange(p, col(ZCol))
        .sortWithinPartitions(ZCol)
        .drop(ZCol))
    }
    commit(es.filterNot(toRewrite.contains) ++ rewritten)
  }

  private val ZCol = "_graft_zvalue"

  private def maybeCompact(): Unit =
    // dv entries count against the same bound as MOR deltas: each one
    // adds a broadcast-side mask to every read, and (in DV mode) a
    // sibling base file — compaction folds both chains
    if (entries().count(e => e._1 == "delta" || e._1 == "dv") >= maxDeltas)
      try compact()
      catch {
        // OPPORTUNISTIC housekeeping: the mutation that triggered this
        // has ALREADY committed, so a compaction losing its CAS to a
        // concurrent writer must not surface — a caller's retry loop
        // would re-run the whole (successful) mutation, committing a
        // duplicate delta per conflict: under 3-way contention the
        // fuzz produced 157 delta commits from a 12-op schedule, a
        // write amplifier that at fleet scale turns compaction races
        // into unbounded version churn. The delta count still exceeds
        // the bound, so whichever writer commits next re-triggers the
        // fold; explicit compact() calls keep surfacing conflicts.
        case _: CommitConflictException => ()
      }

  /** Apply a full normalized change batch (opclass I/U/D) with the
    * reference's outcome — inserts land, upserts replace matched keys
    * (outranking same-key inserts), deletes remove keys (processBatch
    * structure, transaction_log_util.py:86-168). `ordering` are the
    * precombine columns (e.g. ts_ms); `metaCols` are envelope-only
    * columns to drop from the stored rows. `opClasses` names the op
    * classes the batch holds when the caller already knows them (a
    * demux probe); otherwise one bounded aggregate finds them.
    *
    * The reference's stepwise append + MERGE + DELETE collapses into
    * ONE [[replace]] commit: inserts ∪ upserts priority-precombine to
    * one row per key (`merged`), and with `deleteKeys` the batch's D
    * keys, the step lands the merged rows of keys outside `deleteKeys`
    * in place of keys(merged) ∪ deleteKeys — exactly the old
    * upsert-then-delete outcome. The commit is IDEMPOTENT (replacing
    * the same keys by the same rows converges): a checkpoint-replayed
    * micro-batch — foreachBatch is at-least-once — reapplies to the
    * identical table state instead of appending duplicate-PK rows,
    * which an append of the inserts would also do whenever a
    * re-inserted key exists.
    */
  // NOTE on labels: each non-empty batch is ONE commit labelled
  // `apply-changes` in history (plus a `compact` when it triggers one)
  def applyChanges(batch: DataFrame, ordering: Seq[String], metaCols: Seq[String] = Nil,
      opClasses: Option[Set[String]] = None): Unit = withOp("apply-changes") {
    val present = opClasses.getOrElse(
      batch.groupBy("opclass").count().collect().map(_.getString(0)).toSet) // ≤ 3 rows
    if (present.isEmpty) return
    val hasRows = present.contains(CdcModel.OpInsert) || present.contains(CdcModel.OpUpsert)
    val hasDeletes = present.contains(CdcModel.OpDelete)
    val drops = if (metaCols.nonEmpty) metaCols else ordering
    // ONE aggregation per key: the winning insert/upsert row (an upsert
    // outranks an insert, then the later `ordering` wins; a delete has
    // no rank, and max_by skips null ranks) and whether the batch
    // deletes the key. Rows and deleted keys both read it, so a query
    // holding both (the summary, a MOR delta) shuffles the batch once,
    // and no anti-join against the deletes is needed. Not persisted: a
    // cached plan keeps spark.sql.shuffle.partitions output partitions
    // (AQE may not coalesce it), so every write of a small batch would
    // land that many tiny files.
    val deleted = col("opclass") === CdcModel.OpDelete
    val rank = when(col("opclass") === CdcModel.OpUpsert, 1)
      .when(col("opclass") === CdcModel.OpInsert, 0)
    val others = batch.columns.filterNot(c => keys.contains(c) || c == "opclass").toSeq
    val perKey = batch.groupBy(keys.map(col): _*).agg(
      max_by(struct(others.map(col): _*),
        when(rank.isNotNull, struct(rank +: ordering.map(col): _*))).as("_row"),
      max(deleted).as("_deleted"))
    val deleteKeys = perKey.filter(col("_deleted")).select(keys.map(col): _*)
    // a fresh table is seeded from the batch's rows even when none
    // survive, so it exists with the batch's schema afterwards
    val rows = if (!hasRows && exists) None else {
      val merged = perKey.filter(col("_row").isNotNull)
      val upserted = (m: DataFrame) =>
        m.select(keys.map(col) ++ others.map(c => col(s"_row.$c").as(c)): _*).drop(drops: _*)
      enforceConstraints(upserted(merged))
      Some(withDerived(toPhysical(upserted(merged.filter(!coalesce(col("_deleted"), lit(false)))))))
    }
    replace(rows, if (hasDeletes) Some(deleteKeys) else None)
  }

  /** The sink's changes mode and general SQL MERGE: `rows` land and
    * `dropKeys` (disjoint from keys(`rows`)) vanish in ONE commit
    * labelled `op` — see [[replace]].
    */
  private[graft] def replaceKeys(rows: Option[DataFrame], dropKeys: Option[DataFrame],
      op: String = "apply-changes"): Unit =
    withOp(op) {
      replace(rows.map(landable), dropKeys.map(_.select(keys.map(col): _*)))
    }
}

object MergeTable {
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"
  val DeletionVectors = "deletion-vectors"

  /** MOR delete markers inside delta files — shared with the DSv2
    * Batch scan's driver-side delta reconciliation.
    */
  private[graft] val TombstoneColName = "_graft_tombstone"

  // -- incremental manifests ------------------------------------------------
  //
  // A manifest file is either FULL (every `tag:dir` line verbatim) or
  // INCREMENTAL: first line `@delta:<baseVersion>`, then this commit's
  // verbatim `txn:`/`sort:` lines, then `-tag:dir` (entry removed vs
  // the base's resolved list) and `+tag:dir` (entry appended) ops.
  // Resolution replays the chain of immutable files; the writer caps
  // chain depth at `graft.mergetable.manifestCheckpointInterval`
  // (default 16) by periodically writing a full checkpoint manifest,
  // so reads stay O(interval) file opens while commits stay O(delta)
  // bytes — without this, every commit rewrites the whole file list
  // and a 100 TB table's streaming append pays O(1M lines) per trigger.

  private[graft] def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption("graft.mergetable.manifestCheckpointInterval")
      .map(_.toInt).getOrElse(16)

  /** Raw lines of one manifest file, split `tag:rest`. */
  private[graft] def parseManifestLines(m: Path): Seq[(String, String)] =
    new String(Files.readAllBytes(m)).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      .map { line =>
        line.split(":", 2) match {
          case Array(tag, dir) => (tag, dir)
          case Array(dir) => ("base", dir)
        }
      }

  /** The base version an incremental manifest resolves against. */
  private[graft] def deltaBaseOf(m: Path): Option[Long] =
    parseManifestLines(m).headOption.collect { case ("@delta", v) => v.toLong }

  private[graft] def chainDepthOf(m: Path): Int =
    deltaBaseOf(m) match {
      case Some(v) => 1 + chainDepthOf(m.getParent.resolve(f"v$v%05d.txt"))
      case None => 0
    }

  /** The chain's root (checkpoint) manifest — `m` itself when full. */
  private[graft] def chainRootOf(m: Path): Path =
    deltaBaseOf(m) match {
      case Some(v) => chainRootOf(m.getParent.resolve(f"v$v%05d.txt"))
      case None => m
    }

  // -- segmented (two-level) checkpoint manifests ---------------------------
  //
  // A CHECKPOINT manifest (chain root) can itself be TWO-LEVEL: first
  // line `@segments:1`, then this commit's verbatim op/txn/sort lines,
  // then — in entry order — `s:<file>` references to immutable
  // content-addressed segment files under `<manifestDir>/segs/` (each
  // holding a run of `tag:dir` entry lines) and inline `e:<tag>:<dir>`
  // tail entries. The incremental log (r12) made COMMITS O(delta)
  // bytes, but every `checkpointInterval`th chain root still rewrote
  // O(table files) lines — at ~1M files the residual metadata
  // bottleneck. Two-level checkpoints cap that at O(manifest list +
  // changed segments): unchanged entry runs re-REFERENCE the previous
  // checkpoint's segment files; only runs the interval's commits
  // touched are rewritten. Content addressing (sha1 of body) makes
  // segments immutable, naturally deduplicated, and safe under
  // concurrent checkpointers (same content → same file).

  private[graft] def segmentSize(spark: SparkSession): Int =
    spark.conf.getOption("graft.mergetable.manifestSegmentSize")
      .map(_.toInt).getOrElse(512)

  /** True when `m` holds a two-level (`@segments`) checkpoint body. */
  private[graft] def isSegmentsManifest(m: Path): Boolean =
    parseManifestLines(m).headOption.exists(_._1 == "@segments")

  /** A checkpoint manifest that cannot be byte-copied across lineage
    * directories: `@delta` chains dangle and `s:` segment references
    * resolve against the manifest's OWN `segs/` dir.
    */
  private[graft] def needsMaterializing(m: Path): Boolean =
    deltaBaseOf(m).isDefined || isSegmentsManifest(m)

  /** Materialized (tag, rest) lines of the manifest at `m`, resolving
    * an `@delta` chain within `m`'s own directory: this manifest's
    * verbatim `txn`/`sort` lines first, then the full data entry list
    * in commit order. Full manifests return their lines unchanged.
    */
  private[graft] def resolveManifestIn(m: Path): Seq[(String, String)] = {
    val raw = parseManifestLines(m)
    raw.headOption match {
      case Some(("@segments", _)) =>
        val segsDir = m.getParent.resolve("segs")
        raw.tail.flatMap {
          case ("s", name) =>
            val f = segsDir.resolve(name)
            require(Files.exists(f),
              s"segmented checkpoint $m references missing segment $name — " +
                "segments are retained while any manifest references them " +
                "(vacuum GCs only unreferenced ones)")
            parseManifestLines(f)
          case ("e", rest) => rest.split(":", 2) match {
            case Array(t, d) => Seq((t, d))
            case Array(d) => Seq(("base", d))
          }
          case meta => Seq(meta) // verbatim op/txn/sort lines
        }
      case Some(("@delta", bv)) =>
        val basePath = m.getParent.resolve(f"v${bv.toLong}%05d.txt")
        require(Files.exists(basePath),
          s"incremental manifest $m references missing base v$bv — its " +
            "checkpoint chain was broken (snapshot expiry must retain chain bases)")
        val baseData = resolveManifestIn(basePath)
          .filterNot(e => e._1 == "txn" || e._1 == "sort" || e._1 == "op")
        val removed = raw.collect {
          case (t, d) if t.startsWith("-") => (t.stripPrefix("-"), d) }.toSet
        val added = raw.collect {
          case (t, d) if t.startsWith("+") => (t.stripPrefix("+"), d) }
        val meta = raw.filter(e => e._1 == "txn" || e._1 == "sort" || e._1 == "op")
        meta ++ baseData.filterNot(removed.contains) ++ added
      case _ => raw
    }
  }

  /** Test/tooling view of one manifest's RESOLVED full body as
    * `tag:rest` lines — what the equivalent full manifest would hold.
    */
  def manifestLines(m: Path): Seq[String] =
    resolveManifestIn(m).map { case (t, d) => s"$t:$d" }

  /** Resolved full body bytes for materializing a delta manifest when
    * a lineage copy cannot carry its chain (branch seeds, publishes
    * over an expired base).
    */
  private[graft] def materializedBody(m: Path): Array[Byte] =
    manifestLines(m).mkString("\n").getBytes

  /** The default (unforked) manifest lineage. */
  val MainBranch = "main"

  /** Branch/tag names become directory/file segments — keep them to
    * the portable-safe charset. ALL-DIGIT names are rejected:
    * `VERSION AS OF '<digits>'` always resolves as numeric time
    * travel, so a tag or branch named `7` could be created but never
    * read by name (or worse, silently shadowed by manifest version 7).
    */
  private[graft] def validRefName(n: String): Boolean =
    n.nonEmpty && n.length <= 128 && n.matches("[A-Za-z0-9_\\-]+") &&
      !n.forall(_.isDigit)

  /** The WAP session conf (Iceberg's `spark.wap.branch`): when set,
    * catalog reads serve the named branch IF the table has it (main
    * otherwise) and catalog writes land ON it, forking it from the
    * current head on first write — so an audit pipeline runs
    * unmodified against staged data, and a validated branch publishes
    * with one `ALTER TABLE … FAST FORWARD`.
    */
  val WapBranchConf = "spark.graft.wap.branch"

  private[graft] def wapBranch(spark: SparkSession): Option[String] =
    spark.conf.getOption(WapBranchConf).map(_.trim).filter(_.nonEmpty)

  /** The branch a catalog WRITE lands on under an active WAP conf,
    * ensured to exist: forked at the table's current head on first
    * use (Iceberg's `spark.wap.branch` ergonomics). Returns the
    * branch-scoped table, or the main instance when no WAP branch is
    * set. Concurrent first writers race on createBranch's atomic
    * seed — the loser sees the branch exist and proceeds onto it.
    */
  private[graft] def forWrite(spark: SparkSession, root: String, keys: Seq[String],
                              mode: String = CopyOnWrite,
                              numBuckets: Option[Int] = None,
                              partitionCols: Seq[String] = Nil): MergeTable = {
    val t = new MergeTable(spark, root, keys, mode, numBuckets,
      partitionCols = partitionCols)
    wapBranch(spark) match {
      case None => t
      // 'main' names the unforked lineage — setting the conf to it is
      // the natural way to say "no WAP routing", not a branch to fork
      case Some(MainBranch) => t
      case Some(b) =>
        if (!t.branchExists(b)) {
          try t.createBranch(b)
          catch { case _: IllegalArgumentException | _: IllegalStateException
            if t.branchExists(b) => () } // concurrent creator won the seed
        }
        t.forBranch(b)
    }
  }

  /** Physical layout dir-naming constants — the single source of
    * truth: the instance fields (read-side dir parsing, scoped
    * merges) and the DSv2 writer's executor-side demux
    * (graft.sources.MergeTableBatchWrite) must produce byte-identical
    * leaf-dir names.
    */
  private[graft] val BucketColName = "_graft_bucket"
  private[graft] val PartPrefixName = "_graft_p_"

  /** Persisted table configuration (`_META.json` at the table root).
    * `schemaJson` is set for catalog-created tables with a declared
    * schema and updated by ALTER TABLE ADD COLUMNS;
    * `droppedColumns` records metadata-only column drops by PHYSICAL
    * name (hidden at read, physically removed by the next rewrite);
    * `renames` is the column-mapping table (LOGICAL surface name →
    * PHYSICAL stored name, the Delta/Iceberg column-mapping idea):
    * data files keep physical names forever, readers rename
    * physical→logical at the surface, writers translate
    * logical→physical on the way in — so RENAME COLUMN is a pure
    * metadata commit and re-adding a dropped name under a fresh
    * physical id can never resurrect old values.
    */
  final case class Meta(keys: Seq[String], mode: String,
                        numBuckets: Option[Int], schemaJson: Option[String],
                        constraints: Map[String, String] = Map.empty,
                        droppedColumns: Seq[String] = Nil,
                        renames: Map[String, String] = Map.empty,
                        partitionCols: Seq[String] = Nil,
                        sortBy: Seq[String] = Nil,
                        derivedPartitions: Map[String, String] = Map.empty)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One equi-height histogram bin: value range + distinct count. */
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** Equi-height histogram of a numeric column (Spark's CBO shape —
    * `spark.sql.statistics.histogram.enabled`): ~rows/numBins rows per
    * bin, so SKEW is visible as narrow heavy bins — the thing NDV
    * alone cannot show, and the thing that actually breaks 100 TB
    * joins.
    */
  final case class Hist(height: Double, bins: Seq[HistBin])

  /** Per-column ANALYZE statistics (byte lengths; ndv is HLL++).
    * `min`/`max` are exact, recorded for numeric columns (CBO's
    * FilterEstimation gates EVERY range/equality estimate on the
    * value interval before it ever consults NDV or the histogram).
    * `hllB64` persists the column's DataSketches HLL REGISTERS (not
    * the estimate) so incremental ANALYZE can union a delta sketch
    * into them — merging estimates is impossible, merging registers
    * is exact sketch algebra.
    */
  final case class ColumnStats(ndv: Long, nullCount: Long, avgLen: Long,
                               maxLen: Long, hist: Option[Hist] = None,
                               min: Option[Double] = None,
                               max: Option[Double] = None,
                               hllB64: Option[String] = None,
                               kllB64: Option[String] = None)

  /** Table-level ANALYZE result, stamped with the version it was
    * computed at (staleness is inspectable; serving stale stats is the
    * standard engine trade-off).
    */
  final case class TableStats(version: Long, rows: Long, cols: Map[String, ColumnStats])

  private[cdc] def writeTableStats(path: java.nio.file.Path, stats: TableStats): Unit = {
    val node = mapper.createObjectNode()
    node.put("version", stats.version)
    node.put("rows", stats.rows)
    val cs = node.putObject("cols")
    stats.cols.toSeq.sortBy(_._1).foreach { case (c, s) =>
      val cn = cs.putObject(c)
      cn.put("ndv", s.ndv); cn.put("nulls", s.nullCount)
      cn.put("avgLen", s.avgLen); cn.put("maxLen", s.maxLen)
      s.min.foreach(cn.put("min", _))
      s.max.foreach(cn.put("max", _))
      s.hllB64.foreach(cn.put("hll", _))
      s.kllB64.foreach(cn.put("kll", _))
      s.hist.foreach { h =>
        val hn = cn.putObject("hist")
        hn.put("height", h.height)
        val bs = hn.putArray("bins")
        h.bins.foreach { b =>
          val bn = bs.addArray()
          bn.add(b.lo); bn.add(b.hi); bn.add(b.ndv)
        }
      }
    }
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".stats.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The ONE logical-plan-side derivation of a hidden partition column
    * from its source Column — shared by the write path (withDerived)
    * and the Batch scan's MOR winner-tuple derivation, so the two can
    * never diverge (the executor-side byte twin is
    * `GraftGranule.render`; the granularity rides the derived column's
    * name suffix, fixed at CREATE).
    */
  private[graft] def derivedColumn(c: String,
      src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (c.endsWith("_month")) date_format(src, "yyyy-MM")
    else to_date(src).cast("string")

  /** HLL precision (DataSketches lgConfigK) used by ANALYZE sketches;
    * must stay stable across full and incremental passes of one table
    * (unions of mixed-precision sketches degrade to the coarser).
    */
  private[graft] def hllLgK(spark: SparkSession): Int =
    spark.conf.getOption("graft.mergetable.hllLgK").map(_.toInt).getOrElse(12)

  /** Union the persisted HLL registers with a delta sketch; returns
    * (estimate, merged registers base64). Pure sketch algebra — no
    * Spark job.
    */
  private[graft] def hllUnion(prevB64: String,
      delta: Option[Array[Byte]]): (Long, String) = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val prevSketch = HllSketch.heapify(java.util.Base64.getDecoder.decode(prevB64))
    val u = new Union(prevSketch.getLgConfigK)
    u.update(prevSketch)
    delta.foreach(b => u.update(HllSketch.heapify(b)))
    val merged = u.getResult(prevSketch.getTgtHllType)
    (math.round(merged.getEstimate),
      java.util.Base64.getEncoder.encodeToString(merged.toUpdatableByteArray))
  }

  /** The persisted ANALYZE result of the table at `root`, if any —
    * the path-keyed twin of `tableStats()` for callers (the skew-
    * salting optimizer rule) that hold a relation, not an instance.
    */
  private[graft] def statsAt(root: String): Option[TableStats] =
    readTableStats(java.nio.file.Paths.get(root)
      .resolve("stats").resolve("_TABLE_STATS.json"))

  private[cdc] def readTableStats(path: java.nio.file.Path): Option[TableStats] = {
    if (!Files.exists(path)) None
    else {
      import scala.jdk.CollectionConverters._
      val n = mapper.readTree(Files.readAllBytes(path))
      Some(TableStats(n.get("version").asLong, n.get("rows").asLong,
        n.get("cols").fields().asScala.map { e =>
          val hist = Option(e.getValue.get("hist")).map { h =>
            Hist(h.get("height").asDouble,
              h.get("bins").elements().asScala.map { b =>
                HistBin(b.get(0).asDouble, b.get(1).asDouble, b.get(2).asLong)
              }.toSeq)
          }
          e.getKey -> ColumnStats(e.getValue.get("ndv").asLong,
            e.getValue.get("nulls").asLong, e.getValue.get("avgLen").asLong,
            e.getValue.get("maxLen").asLong, hist,
            Option(e.getValue.get("min")).map(_.asDouble),
            Option(e.getValue.get("max")).map(_.asDouble),
            Option(e.getValue.get("hll")).map(_.asText),
            Option(e.getValue.get("kll")).map(_.asText))
        }.toMap))
    }
  }

  def writeMeta(root: String, meta: Meta): Unit = {
    val node = mapper.createObjectNode()
    val ks = node.putArray("keys")
    meta.keys.foreach(ks.add)
    node.put("mode", meta.mode)
    meta.numBuckets.foreach(node.put("buckets", _))
    meta.schemaJson.foreach(node.put("schema", _))
    if (meta.constraints.nonEmpty) {
      val cs = node.putObject("constraints")
      meta.constraints.foreach { case (n, sql) => cs.put(n, sql) }
    }
    if (meta.droppedColumns.nonEmpty) {
      val dc = node.putArray("dropped")
      meta.droppedColumns.foreach(dc.add)
    }
    if (meta.renames.nonEmpty) {
      val rn = node.putObject("renames")
      meta.renames.foreach { case (logical, physical) => rn.put(logical, physical) }
    }
    if (meta.partitionCols.nonEmpty) {
      val pc = node.putArray("partitions")
      meta.partitionCols.foreach(pc.add)
    }
    if (meta.sortBy.nonEmpty) {
      val sb = node.putArray("sortBy")
      meta.sortBy.foreach(sb.add)
    }
    if (meta.derivedPartitions.nonEmpty) {
      val dp = node.putObject("derivedPartitions")
      meta.derivedPartitions.foreach { case (c, src) => dp.put(c, src) }
    }
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(root).resolve("_META.json"),
      mapper.writeValueAsBytes(node))
  }

  def readMeta(root: String): Option[Meta] = {
    val p = Paths.get(root).resolve("_META.json")
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readAllBytes(p))
      import scala.jdk.CollectionConverters._
      Some(Meta(
        n.get("keys").elements().asScala.map(_.asText).toSeq,
        Option(n.get("mode")).map(_.asText).getOrElse(CopyOnWrite),
        Option(n.get("buckets")).map(_.asInt),
        Option(n.get("schema")).map(_.asText),
        Option(n.get("constraints")).map { c =>
          c.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        }.getOrElse(Map.empty),
        Option(n.get("dropped")).map(_.elements().asScala.map(_.asText).toSeq)
          .getOrElse(Nil),
        Option(n.get("renames")).map { r =>
          r.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        }.getOrElse(Map.empty),
        Option(n.get("partitions")).map(_.elements().asScala.map(_.asText).toSeq)
          .getOrElse(Nil),
        Option(n.get("sortBy")).map(_.elements().asScala.map(_.asText).toSeq)
          .getOrElse(Nil),
        Option(n.get("derivedPartitions")).map { d =>
          d.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        }.getOrElse(Map.empty)))
    }
  }

  /** Latest committed version whose manifest was written at or before
    * the given epoch-micros timestamp — the commit-time-travel index
    * (manifest files are immutable, so their mtime IS the commit
    * time). None when the table has no commit that old.
    */
  def versionAtTimestamp(root: String, micros: Long): Option[Long] = {
    val manifests = Paths.get(root).resolve("manifests")
    if (!Files.isDirectory(manifests)) None
    else {
      val s = Files.list(manifests)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.matches("v\\d+\\.txt"))
        .filter(p => Files.getLastModifiedTime(p).toInstant.toEpochMilli * 1000L <= micros)
        .map(_.getFileName.toString.stripPrefix("v").stripSuffix(".txt").toLong)
        .maxOption
      finally s.close()
    }
  }

  /** Earliest committed version whose manifest was written at or after
    * the given epoch-micros timestamp — the Delta-CDF
    * `startingTimestamp` index (the feed INCLUDES the first commit
    * at-or-after the bound, where [[versionAtTimestamp]] serves the
    * at-or-BEFORE reads of `timestampAsOf`/`endingTimestamp`). None
    * when every commit predates the timestamp.
    */
  def versionAtOrAfterTimestamp(root: String, micros: Long): Option[Long] = {
    val manifests = Paths.get(root).resolve("manifests")
    if (!Files.isDirectory(manifests)) None
    else {
      val s = Files.list(manifests)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.matches("v\\d+\\.txt"))
        .filter(p => Files.getLastModifiedTime(p).toInstant.toEpochMilli * 1000L >= micros)
        .map(_.getFileName.toString.stripPrefix("v").stripSuffix(".txt").toLong)
        .minOption
      finally s.close()
    }
  }

  /** Reader-facing timestamp parse: epoch millis (all digits) or an
    * ISO-8601 instant / `yyyy-MM-dd[ T]HH:mm:ss` local datetime
    * interpreted as UTC — the forms Delta's `timestampAsOf` accepts.
    */
  def parseTimestampMicros(s: String): Long =
    if (s.trim.matches("\\d+")) s.trim.toLong * 1000L
    else {
      val t = s.trim.replace(' ', 'T')
      val instant =
        try java.time.Instant.parse(t)
        catch { case _: Exception =>
          java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC) }
      instant.toEpochMilli * 1000L
    }

  /** Interleaved-bit z-value of up to 4 numeric columns: each column
    * linearly scaled to 16 bits against its observed min/max (one
    * bounded aggregation), bit j of column i landing at position
    * j·n + i — the standard space-filling-curve key that keeps file
    * ranges tight on every clustering dimension simultaneously, where
    * a lexicographic sort is tight only on the first. Pure column
    * expression; stays in whole-stage codegen.
    */
  private[cdc] def zValue(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.size <= 4, "z-order supports 1-4 columns")
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order column $c must be numeric, got $dt")
    }
    val n = cols.size
    // one bounded aggregation for the scaling ranges: 2·n doubles
    val aggExprs = cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val row = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    def bounds(i: Int): (Double, Double) = (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = bounds(i)
      val span = if (mx > mn) mx - mn else 1.0
      least(greatest(
        (((col(c).cast("double") - mn) / span) * 65535.0).cast("long"), lit(0L)), lit(65535L))
    }
    scaled.zipWithIndex.map { case (s, i) =>
      (0 until 16).map { j =>
        shiftleft(shiftrightunsigned(s, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** Open an existing table from its persisted metadata. */
  def open(spark: SparkSession, root: String): MergeTable = {
    val meta = readMeta(root).getOrElse(
      throw new IllegalArgumentException(s"no MergeTable metadata at $root"))
    new MergeTable(spark, root, meta.keys, meta.mode, meta.numBuckets,
      partitionCols = meta.partitionCols)
  }

  /** Create-if-absent, seeding with `initial` when the table is new —
    * the reference's CREATE TABLE IF NOT EXISTS + first append
    * (transaction_log_util.py:202-218).
    */
  def createIfAbsent(spark: SparkSession, root: String, keys: Seq[String],
                     initial: Option[DataFrame] = None,
                     mode: String = CopyOnWrite,
                     numBuckets: Option[Int] = None,
                     partitionCols: Seq[String] = Nil): MergeTable = {
    val t = new MergeTable(spark, root, keys, mode, numBuckets,
      partitionCols = partitionCols)
    if (!t.exists) initial.foreach(df => t.upsert(df))
    t
  }

  /** Open honoring a reference-style table config (write modes). */
  def forConfig(spark: SparkSession, root: String, conf: TableConfig): MergeTable =
    new MergeTable(spark, root, conf.primaryKey, mode = conf.writeMergeMode)

  /** SHALLOW CLONE (Delta parity): a new table whose first commit
    * references the SOURCE's data dirs — zero data copied, O(entries)
    * metadata. Works because manifest entries resolve through
    * `dataDir.resolve(dir)`, and resolving an ABSOLUTE dir returns it
    * unchanged: the clone's manifest simply records the source dirs
    * absolutely. From then on the tables diverge independently —
    * writes/compaction land new LOCAL dirs, and the clone's vacuum
    * only ever lists its own `data/` so it can never reclaim source
    * files. File stats are copied under the absolute-dir names so
    * stats pruning and metadata-only aggregation keep working on the
    * cloned snapshot.
    *
    * `versionAsOf` clones a historical snapshot; like the source's own
    * time travel it is read under the CURRENT column mapping. Caveat
    * (same as Delta): VACUUM or EXPIRE SNAPSHOTS on the source can
    * remove dirs a clone still references — clones are cheap forks,
    * not backups.
    */
  def shallowClone(spark: SparkSession, srcRoot: String, dstRoot: String,
                   versionAsOf: Option[Long] = None): MergeTable = {
    val src = open(spark, srcRoot)
    require(src.exists, s"cannot clone uninitialized table $srcRoot")
    require(readMeta(dstRoot).isEmpty && !new MergeTable(spark, dstRoot,
      src.keys, src.mode).exists, s"clone target $dstRoot already exists")
    val v = versionAsOf.getOrElse(src.versions().max)
    val srcData = Paths.get(srcRoot).resolve("data").toAbsolutePath
    val es = src.entriesAtVersion(v)
    // cloning a clone re-resolves already-absolute dirs to themselves
    val abs = es.map { case (t, d) => (t, srcData.resolve(d).toString) }
    val meta = readMeta(srcRoot).get
    val dstExisted = Files.exists(Paths.get(dstRoot))
    writeMeta(dstRoot, meta)
    // copy the per-dir footer stats under their absolute-dir names so
    // the clone prunes and metadata-aggregates like the source.
    // Cleanup-on-failure: meta lands BEFORE the first manifest commit,
    // and a crash between the two would leave a meta-only husk that
    // later clone attempts refuse as "already exists" — so a failed
    // clone removes what it wrote (the whole dir when it created it)
    try {
      val srcPath = Paths.get(srcRoot)
      val dstPath = Paths.get(dstRoot)
      es.zip(abs).foreach { case ((_, origD), (_, absD)) =>
        FileStats.readFull(srcPath, origD).foreach(FileStats.write(dstPath, absD, _))
      }
      val dst = new MergeTable(spark, dstRoot, meta.keys, meta.mode,
        meta.numBuckets, partitionCols = meta.partitionCols)
      dst.commit(abs)
      dst
    } catch {
      case t: Throwable =>
        try {
          if (!dstExisted) drop(dstRoot)
          else {
            Files.deleteIfExists(Paths.get(dstRoot).resolve("_META.json"))
            drop(Paths.get(dstRoot).resolve("stats").toString)
          }
        } catch { case _: Throwable => () } // best-effort; surface the original
        throw t
    }
  }

  /** Destroy all table state (test helper). */
  def drop(root: String): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p) // close: one leaked FD per directory otherwise
        try s.iterator().asScala.toList.foreach(rm) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rm(Paths.get(root))
  }
}
