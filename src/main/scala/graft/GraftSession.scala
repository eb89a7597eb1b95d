package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration graft expects.
  *
  * Tuned for correctness-determinism (UTC session time zone) and for
  * scale-readiness: AQE handles runtime coalescing/skew, shuffle
  * partition count is sized for the local harness but meant to be
  * overridden (`spark.sql.shuffle.partitions`) on a real cluster.
  *
  * Generated-code cache: Spark keeps every class janino compiled for
  * whole-stage codegen in one JVM-wide LRU keyed by `(context class
  * loader, source)`. Under `local[N]` the planning thread's compile check
  * and the executor threads run under different class loaders, so a class
  * takes two entries. Spark's default of 100 entries (about 50 classes)
  * is smaller than the five batch_ops ops need, so the LRU evicted
  * their classes on every pass and janino recompiled them on both sides
  * (663 compiles and 11.4 s of janino in one 20 s run on a 4-core VM).
  * With 1000 entries, and the two class-name and class-loader settings
  * below, that run compiles 156 entries in all, none in its timed ops.
  * One `graft.Verify` pass over all 246 queries at sf0.01 compiles
  * 3,344 times, an upper bound on the entries every query together
  * could use; 1000 holds any one workload's working set, not all of
  * graft's at once. The setting is static: it is read once, when the
  * `CodeGenerator` object is first used, so it takes effect because
  * every entry point builds its session here before it runs a query.
  */
object GraftSession {
  def builder(appName: String = "graft", master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      // full extension surface (planner strategy, native functions,
      // MERGE INTO / DELETE FROM resolution for mergetable targets) —
      // the same wiring a cluster gets from spark.sql.extensions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // `graft.db.t` SQL identifiers over MergeTables (time travel,
      // INSERT/MERGE/DELETE) — root is overridable per deployment
      .config("spark.sql.catalog.graft", "graft.sources.MergeTableCatalog")
      // absolute, anchored to the launch CWD (same anchoring as
      // CdcQueries.tmpRoot) — Verify/Bench may chdir later
      .config("spark.sql.catalog.graft.root",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
          java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
            .toAbsolutePath.resolve("target").resolve("graft_warehouse").toString))
      .config("spark.sql.parquet.compression.codec", "zstd")
      // storage-partitioned joins over the catalog's bucketed
      // mergetables: align KeyGroupedPartitioning scans instead of
      // shuffling both sides (pushPartValues tolerates one side
      // missing some bucket ids)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // a join on (id, k) over tables bucketed on id is still
      // co-located by the id hash — don't demand the FULL join key
      // set as partition keys before skipping the shuffle (real CDC
      // joins carry extra equi conjuncts beside the table key)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000") // see the object doc
      // AQE numbers whole-stage codegen stages in the order it plans
      // query stages, which follows stage completion order, so two
      // runs of one op can number a stage differently; with the id in
      // the generated class name that is a new source and a recompile
      .config("spark.sql.codegen.useIdInClassName", "false")
      // every cache fill runs in a clone of the session (the
      // CacheManager's AQE-off copy), and with per-session artifact
      // isolation each clone gets its own executor class loader, so a
      // cached plan was recompiled on the executors on every run;
      // graft adds no session artifacts, so sessions share one loader
      .config("spark.sql.artifact.isolation.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
