#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload, one JVM per run.

    python3 perfbench/run.py --workload <cdc_stream|batch_ops>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
harness (``perfbench/harness``, an sbt build that depends on the root
project) and caches the classpath; later runs rebuild only when a
source file changed. Each run generates its inputs from the seed, sets
up a fresh warehouse and fresh table roots under ``perfbench/.runs``,
warms up untimed, measures, checks the outputs, and prints a report
followed by one JSON line (the last line of stdout). The full record,
with spans in traced runs, is kept in ``perfbench/.runs/artifacts``.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
RUNS = os.path.join(HERE, ".runs")
STAMP = os.path.join(HARNESS, "target", "bench-classpath.json")
CORES = 4
JVM_TIMEOUT_S = 165

# The registry ops of batch_ops (names in graft's SparkEntry registry):
# lake ops, bound by planning, driver and commit work, and corpus ops,
# bound by executor work. The seed permutes their order.
LAKE_OPS = ["cdc_apply_upsert", "mergetable_source_read"]
CORPUS_OPS = ["graph_kcore", "dedup_minhash_lsh", "docs_bm25_search"]
WORKLOADS = {
    # groups of `group_events` envelopes; the first `warm_triggers` are
    # the untimed warm-up, then groups follow until the time is up
    "cdc_stream": {"group_events": 1000, "files_per_group": 4,
                   "warm_triggers": 2, "max_groups": 40},
    # the warm-up runs every op `warm_passes` times: after one, an op's
    # next runs still took 10% to 40% less CPU
    "batch_ops": {"ops": LAKE_OPS + CORPUS_OPS, "sf": 0.01, "warm_passes": 2},
}
TABLES_SEED = 42
# JVM flags graft's own build passes to forked runs (JDK 17 module
# opens for Spark, UTC, no UI, parallel GC, a large code cache)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# -- build -----------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".sbt", ".scala", ".java", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"graft sources not found under {ROOT}; run from a full checkout")
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


# -- helpers ---------------------------------------------------------------

def steal_share():
    """(steal, total) jiffies of all CPUs since boot: time the host ran
    something else while this machine's virtual CPUs wanted to run."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return (f[7] if len(f) > 7 else 0), sum(f)
    except (OSError, ValueError):
        return 0, 1


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def tail_percentile(values):
    """(percentile, value, samples beyond) for the highest percentile
    with at least ten samples beyond it, or None when too few."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    k = n - 10                    # s[k:] are the ten beyond s[k-1]
    pct = 100.0 * k / n
    return pct, s[k - 1], n - k


def run_jvm(cp, config, work):
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(config, fh)
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # TieredStopAtLevel=1: only the quick C1 compiler, which has compiled
    # the hot code by the end of the warm-up; with C2 a run of this length
    # is timed while compiler threads still take up to 2 of the 4 cores
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={jtmp}",
            f"-Dgraft.tmp.dir={os.path.join(work, 'graft_tmp')}",
            "-cp", cp, "graftbench.Main", cfg_path]
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness JVM failed (exit {code})")
    with open(config["out"]) as fh:
        return json.load(fh)


def dir_stats(root, since_ms):
    """MergeTable manifests and data files written under ``root`` at or
    after ``since_ms``."""
    commits = files = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                if os.stat(p).st_mtime * 1000 < since_ms:
                    continue
            except OSError:
                continue
            if os.path.basename(d) == "manifests" and f.startswith("v") and f.endswith(".txt"):
                commits += 1
            elif f.endswith(".parquet") and f"{os.sep}data{os.sep}" in p:
                files += 1
    return commits, files


# -- workloads ---------------------------------------------------------------

def prepare(workload, seed, work, seconds, trace):
    import gen
    spec = WORKLOADS[workload]
    config = {"workload": workload, "seed": seed, "trace": bool(trace),
              "seconds": seconds, "cores": CORES, "work": work,
              "out": os.path.join(work, "result.json")}
    expect = {}
    if workload == "cdc_stream":
        backlog = os.path.join(work, "backlog")
        groups = gen.write_cdc_backlog(
            backlog, seed, [spec["group_events"]] * spec["max_groups"],
            spec["files_per_group"])
        config.update(cdc_staged=os.path.join(backlog, "staged"),
                      cdc_in=os.path.join(backlog, "in"), groups=len(groups),
                      files_per_group=spec["files_per_group"],
                      warm_triggers=spec["warm_triggers"])
        expect = {"groups": groups}
    else:
        # the tables are the same for every seed (as the project's test
        # tables are); the seed permutes the order of the ops
        data = os.path.join(work, "data")
        gen.write_tables(data, TABLES_SEED, spec["sf"])
        ops = list(spec["ops"])
        random.Random(seed).shuffle(ops)
        config.update(data=data, ops=ops, warm_ops=spec["ops"] * spec["warm_passes"])
    return config, expect


def timed_triggers(res):
    warm = WORKLOADS["cdc_stream"]["warm_triggers"]
    return [t for t in res["triggers"] if t["batch"] >= warm]


CPU_KEYS = ("cpu_ref_s", "task_ref_s", "cpu_s", "task_s", "speed")


def op_medians(res):
    """{op: {figure: median over the op's timed runs}}: wall time and
    the CPU figures of CPU_KEYS."""
    ok = [o for o in res["ops"] if o["ok"]]
    return {n: {k: statistics.median(o[k] for o in ok if o["name"] == n)
                for k in ("s",) + CPU_KEYS}
            for n in sorted({o["name"] for o in ok})}


def summarize(workload, res, expect, work):
    """(checks, end-to-end figures, report figures, op times, attempted,
    failed). Every end-to-end and report figure but events_per_s and
    store_bytes_per_row is per op: a trigger on cdc_stream, a registry
    op on batch_ops. Wall times are in the report only: on a shared
    host they follow the time other machines take from this one's CPUs
    (steal_share) far more than the CPU-seconds do."""
    import check
    import gen
    extra = {}
    if workload == "cdc_stream":
        groups = expect["groups"][:res["staged_groups"]]
        checks = check.check_cdc(os.path.join(work, "check"), gen.expected_tables(groups),
                                 groups, os.path.join(work, "main", "ckpt"),
                                 res["triggers"])
        trig = timed_triggers(res)
        op_s = [t["duration_ms"]["triggerExecution"] / 1000.0 for t in trig]
        n = max(1, len(trig))
        # per trigger: medians, so the compaction trigger (the third
        # timed one) does not decide them; op_s_mean includes it
        per = res["per_trigger"]
        cpu = {k: statistics.median(t[k] for t in per) for k in CPU_KEYS}
        extra["op_s_mean"] = (res["timed_s"] / n, "s")
        events = sum(t["rows"] for t in trig)
        live = sum(t["rows"] for t in res["tables"])
        extra["events_per_s"] = (events / res["timed_s"], "1/s")
        extra["store_bytes_per_row"] = (
            sum(t["bytes"] for t in res["tables"]) / max(1, live), "B")
        extra["timed_triggers"] = (len(trig), "count")
        attempted = len(trig)
        failed = attempted if any(checks.values()) else 0
    else:
        checks = check.check_registry(os.path.join(work, "check"),
                                      os.path.join(work, "data"),
                                      WORKLOADS[workload]["ops"])
        # each op's time and task time: the median of its timed passes
        med = op_medians(res)
        op_s = [m["s"] for m in med.values()] or [0.0]
        # per op: the mean over the ops, each counted once
        cpu = {k: statistics.mean(m[k] for m in med.values()) if med else 0.0
               for k in CPU_KEYS}
        extra["op_s_mean"] = (statistics.mean(op_s), "s")
        extra["pass_s"] = (sum(op_s), "s")
        extra["timed_ops"] = (len(res["ops"]), "count")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"] or checks.get(o["name"]))
    # CPU-seconds at the speed probe's reference speed (see Probe.scala):
    # on a shared host the same work takes up to 1.7x the CPU-seconds,
    # with the load elsewhere on the host; the figures as measured, and
    # the speed, are in the report. Executor task-seconds are a share of
    # the JVM's that moves between runs (whichever thread first needs a
    # generated class compiles it), so they are reported, not gated.
    e2e = {"cpu_ref_s_per_op": cpu["cpu_ref_s"]}
    extra["task_ref_s_per_op"] = (cpu["task_ref_s"], "s")
    extra["cpu_s_per_op"] = (cpu["cpu_s"], "s")
    extra["task_s_per_op"] = (cpu["task_s"], "s")
    extra["cpu_speed"] = (cpu["speed"], "ratio")
    extra["op_s_p50"] = (statistics.median(op_s) if op_s else 0.0, "s")
    tail = tail_percentile(op_s)
    if tail:
        extra["op_s_tail"] = (tail[1], "s",
                              f"p{tail[0]:.0f} of {len(op_s)} ops, {tail[2]} beyond")
    extra["fail_ratio"] = (failed / max(1, attempted), "ratio")
    return checks, e2e, extra, op_s, attempted, failed


def per_layer(workload, res, op_s, work):
    """Per-layer metrics of a traced run, per timed op: the layers every
    workload crosses (BENCHMARK.json's per_layer list), then the
    workload's own module layers (report and artifact only)."""
    L = res["layers"]
    n_ops = len(timed_triggers(res)) if workload == "cdc_stream" else len(res["ops"])
    n_ops = max(1, n_ops)
    generic = {}
    for k in ["planning.analysis_ms", "planning.optimization_ms",
              "planning.physical_ms", "planning.actions", "spark.jobs",
              "spark.stages", "spark.tasks", "spark.driver_only_s",
              "executor.task_s", "executor.gc_s", "executor.shuffle_read_mb",
              "executor.shuffle_write_mb", "executor.input_mb",
              "executor.output_mb"]:
        generic[k] = L[k] / n_ops
    for k in ["planning.plan_nodes_max", "planning.cached_relations_max",
              "executor.busy_ratio"]:
        generic[k] = L[k]
    spans = res["spans"] or []
    def span_s(name):
        return sum(s[5] - s[4] for s in spans if s[1] == name) / 1e9 / n_ops
    module = {"executor.spill_mb": L["executor.spill_mb"] / n_ops}
    if workload == "cdc_stream":
        trig = timed_triggers(res)
        d = [t["duration_ms"] for t in trig]
        med = lambda xs: statistics.median(xs) if xs else 0.0
        events = sum(t["rows"] for t in trig)
        module.update({
            "streaming.trigger_ms_p50": med([x["triggerExecution"] for x in d]),
            "streaming.add_batch_ms_p50": med([x.get("addBatch", 0) for x in d]),
            "streaming.planning_ms_p50": med([x.get("queryPlanning", 0) for x in d]),
            "streaming.wal_commit_ms_p50": med([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            "streaming.offsets_ms_p50": med([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
            "streaming.batches": len(trig),
            "streaming.rows_per_batch": events / n_ops,
            # trigger time outside processBatch: the stream's own work
            "streaming.outside_process_batch_s": sum(op_s) / n_ops - span_s("process_batch"),
        })
        by_site = L["task_s_by_site"]
        parse_sites = ("graft.streaming.", "graft.cdc.Debezium", "graft.cdc.CdcModel")
        module.update({
            "cdc.process_batch_s": span_s("process_batch"),
            "cdc.parse_task_s": sum(v for k, v in by_site.items() if k.startswith(parse_sites)) / n_ops,
            "cdc.apply_task_s": sum(v for k, v in by_site.items()
                                    if k.startswith("graft.cdc.") and not k.startswith(parse_sites)) / n_ops,
            "cdc.rows_written_per_change": L["executor.output_rows"] / max(1, events),
        })
        commits, files = dir_stats(os.path.join(work, "main", "tables"), res["timed_start_ms"])
        generic["op.call_s"] = span_s("process_batch")
    else:
        ops = res["ops"]
        for fam, names in (("lake", LAKE_OPS), ("corpus", CORPUS_OPS)):
            mine = [o for o in ops if o["name"] in names]
            k = max(1, len(mine))
            module[f"{fam}.build_s"] = sum(o["call_s"] for o in mine) / k
            module[f"{fam}.execute_s"] = sum(o["execute_s"] for o in mine) / k
            module[f"{fam}.cache_clear_s"] = sum(o["cache_clear_s"] for o in mine) / k
        groups = {"graph": ("graph_",), "dedup": ("dedup_",), "search": ("docs_",)}
        for g, pre in groups.items():
            mine = [o for o in ops if o["name"].startswith(pre)]
            module[f"corpus.{g}_s"] = sum(o["s"] for o in mine) / max(1, len(mine))
        # each op drops and recreates its tables, so what the run leaves
        # behind is the last pass's commits and files
        commits, files = 0, 0
        for d in ("graft_tmp", "warehouse"):
            c, f = dir_stats(os.path.join(work, d), res["timed_start_ms"])
            commits, files = commits + c, files + f
        generic["op.call_s"] = sum(o["call_s"] for o in ops) / n_ops
        module["plan_nodes_max_by_op"] = {o["name"]: o.get("plan_nodes_max", 0)
                                          for o in ops if o["pass"] == 0}
    generic["mergetable.commits"] = commits / n_ops
    generic["mergetable.files_written"] = files / n_ops
    generic["op.cache_clear_s"] = span_s("cache_clear")
    generic["driver.heap_mb"] = res["heap_mb"]
    generic["traced.op_s_p50"] = statistics.median(op_s)
    generic["traced.op_s_mean"] = (res["timed_s"] / n_ops if workload == "cdc_stream"
                                   else statistics.mean(op_s))
    module["task_s_by_module"] = {k: v / n_ops for k, v in L["task_s_by_module"].items()}
    module["jobs_by_span"] = {k: v / n_ops for k, v in L["jobs_by_span"].items()}
    return generic, module


PER_LAYER_UNITS = {
    "planning.analysis_ms": "ms", "planning.optimization_ms": "ms",
    "planning.physical_ms": "ms", "planning.actions": "count",
    "planning.plan_nodes_max": "count", "planning.cached_relations_max": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_s": "s", "executor.task_s": "s", "executor.gc_s": "s",
    "executor.busy_ratio": "ratio", "executor.shuffle_read_mb": "MiB",
    "executor.shuffle_write_mb": "MiB", "executor.input_mb": "MiB",
    "executor.output_mb": "MiB", "mergetable.commits": "count",
    "mergetable.files_written": "count", "op.call_s": "s",
    "op.cache_clear_s": "s", "driver.heap_mb": "MiB",
    "traced.op_s_p50": "s", "traced.op_s_mean": "s",
}
E2E_UNITS = {"setup_s": "s", "cpu_ref_s_per_op": "s"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    sys.path.insert(0, HERE)
    t_setup = time.time()
    load_start = loadavg()
    steal_start = steal_share()
    work = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        config, expect = prepare(a.workload, a.seed, work, a.seconds, a.trace)
        t_gen = time.time() - t_setup
        res = run_jvm(cp, config, work)
        checks, e2e, extra, op_s, attempted, failed = summarize(a.workload, res, expect, work)
        # set-up: inputs, JVM and session start, once; then the warm-up,
        # as many rounds (triggers or ops) times their median round
        start_s = res["session_ms"] / 1000.0 - t_setup
        rounds = res["warm_rounds_s"]
        e2e["setup_s"] = start_s + len(rounds) * statistics.median(rounds)
        layer, module = per_layer(a.workload, res, op_s, work) if a.trace else ({}, {})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = loadavg()
    steal_end = steal_share()
    steal = (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1])
    correct = failed == 0 and not any(checks.values())

    witnesses = {"workload": a.workload, "seed": a.seed, "cores": CORES,
                 "nproc": os.cpu_count(), "loadavg_start": load_start,
                 "loadavg_end": load_end, "steal_share": steal, "trace": a.trace,
                 "heap_samples_mb": res["heap_samples_mb"],
                 "probe_loop_ns": res["probe_loop_ns"],
                 "setup_parts_s": {"inputs": t_gen,
                                   "jvm_and_session": start_s - t_gen,
                                   "warm_up": (res["timed_start_ms"] - res["session_ms"]) / 1000.0},
                 "warm_rounds_s": rounds, "warm_up_ops_s": res.get("warm_up_s")}
    print(f"workload {a.workload}  seed {a.seed}  cores {CORES}  nproc {os.cpu_count()}"
          f"  loadavg {load_start:.2f} -> {load_end:.2f}  steal {100 * steal:.1f}%  trace {a.trace}")
    print("  setup parts: " + "  ".join(f"{k} {v:.2f} s" for k, v in witnesses["setup_parts_s"].items()))
    for k, v in sorted(e2e.items()):
        print(f"  {k:<28} {v:>14.4f} {E2E_UNITS[k]}")
    for k, v in sorted(extra.items()):
        print(f"  {k:<28} {v[0]:>14.4f} {v[1]}" + (f"   ({v[2]})" if len(v) > 2 else ""))
    for name, why in sorted(checks.items()):
        if why:
            print(f"  CHECK FAILED {name}: {why}")
    for err in res.get("errors", []):
        print(f"  ERROR {err}")
    for k, v in sorted(layer.items()):
        print(f"  layer {k:<34} {v:>14.4f} {PER_LAYER_UNITS[k]}")
    for k, v in sorted(module.items()):
        if isinstance(v, dict):
            print(f"  layer {k:<34} " + json.dumps(v, sort_keys=True))
        else:
            print(f"  layer {k:<34} {v:>14.4f}")

    os.makedirs(os.path.join(RUNS, "artifacts"), exist_ok=True)
    art = os.path.join(RUNS, "artifacts",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as fh:
        json.dump({"witnesses": witnesses, "end_to_end": e2e,
                   "report": {k: v[0] for k, v in extra.items()},
                   "checks": checks, "per_layer": layer, "module_layers": module,
                   "ops": res.get("ops") or res.get("triggers"),
                   "per_trigger": res.get("per_trigger"),
                   "tables": res.get("tables"), "spans": res.get("spans")}, fh)
    metrics = layer if a.trace else e2e
    units = PER_LAYER_UNITS if a.trace else E2E_UNITS
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
