#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload catalog|ingest_ctr|dedup_corpus|ingest_pruned \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck

Run from the repository root. The first run builds graft and the
benchmark harness from source with sbt (offline), then every run starts
one JVM that generates the workload's inputs from the seed, warms up,
and runs whole passes of the workload in a closed loop for `--seconds`.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is a fuller report: host, load,
calibration drift, tail latency, failed ratio and every failed check.
Generated inputs, build output and traces stay under perfbench/ in
directories git ignores.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
OUT = os.path.join(BENCH, ".out")
# ingest_pruned is not in BENCHMARK.json: it probes the pruned-read defect
# (README, "Known defect") and fails its checks until the reader is fixed.
WORKLOADS = ("catalog", "ingest_ctr", "dedup_corpus", "ingest_pruned")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_s": "s", "pass_s": "s",
    "input_mb_per_s": "MB/s", "heap_live_peak_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_job_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gap_s": "s", "scheduler.task_run_s": "s", "scheduler.cpu_util": "ratio",
    "scheduler.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.scan_s": "s",
    "sources.rows_per_line": "ratio", "sources.commit_s": "s", "sources.files_written": "count",
    "sources.bytes_written_per_row": "B",
    "functions.minhash_s": "s", "functions.minhash_docs_per_s": "1/s",
    "operators.candidate_pairs": "count", "operators.verified_pairs": "count",
    "operators.pair_yield": "ratio", "operators.pinned_mb": "MB",
    "jvm.gc_s": "s", "trace.overhead_s": "s", "trace.reconcile_err_max": "ratio",
}
# A traced op's layer self times must sum to its wall time within this share.
RECONCILE_TOLERANCE = 0.05

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout:.0f}s: {cmd[0]}")
        return -1, None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the harness with sbt (offline) unless the sources
    are unchanged since the last build; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        opts += " -Dsbt.offline=true -Xmx3g"
    env["SBT_OPTS"] = opts.strip()
    log("building graft and the harness with sbt")
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], BENCH, BUILD_LIMIT_S, env, subprocess.PIPE)
    if rc != 0 or not out:
        raise SystemExit(f"build failed (sbt exit {rc})")
    lines = [l for l in out.decode().splitlines() if l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build failed: sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def java_cmd(cp, work, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", cp, "perfbench.Main"] + args)


# ---------------------------------------------------------------- oracle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Oracle CTEs are evaluated once each (DuckDB inlines them otherwise, and
# emb_pca's eight-step power iteration then re-runs its Gram matrix 2^8 times).
CTE = re.compile(r"\b(\w+)\s+AS\s+\(\s*SELECT", re.I)


def same(a, b):
    if a == b:
        return True
    if a is None or b is None:
        return a is None and b is None
    try:
        return (a != a) and (b != b)  # both NaN / NaT
    except Exception:
        return False


def oracle_compare(input_dir, dump_dir):
    """Hash-compares every dumped key against its DuckDB oracle (columns
    sorted by name, exact values, as tools/compare_oracle.py does); keys
    without an oracle must return rows. Returns {key: error or None}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet/*.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    keys = sorted(d for d in os.listdir(dump_dir) if os.path.isdir(os.path.join(dump_dir, d)))
    res = {}
    for k in sorted(set(keys) | set(oracle)):
        try:
            got = con.sql(f"SELECT * FROM '{dump_dir}/{k}/*.parquet'").df()
            if k not in oracle:
                res[k] = None if len(got) > 0 else "no rows"
                continue
            exp = con.sql(CTE.sub(lambda m: m.group(1) + " AS MATERIALIZED (SELECT", oracle[k])).df()
            exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
            if list(exp.columns) != list(got.columns):
                res[k] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            elif len(exp) != len(got):
                res[k] = f"rows {len(got)} vs {len(exp)}"
            else:
                bad = next(((c, i) for c in exp.columns
                            for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist()))
                            if not same(a, b)), None)
                res[k] = None if bad is None else f"column {bad[0]} row {bad[1]} differs"
        except Exception as e:  # missing dump (the key threw) or oracle error
            res[k] = f"{type(e).__name__}: {str(e)[:200]}"
    return res


# ---------------------------------------------------------------- metrics

def tail(values):
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    s = sorted(values)
    return {"value": s[n - 11], "percentile": math.floor(100 * (n - 10) / n), "samples": n}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check that the generators are deterministic per seed")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log(f"graft sources not found under {ROOT}: run from a graft checkout")
        return 2
    cp = build()
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    result_file = os.path.join(work, "result.json")
    try:
        if a.selfcheck:
            rc, _ = run_group(java_cmd(cp, work, ["selfcheck", work, result_file]), ROOT, RUN_LIMIT_S,
                              stdout=sys.stderr)
            if rc != 0:
                return 1
            with open(result_file) as f:
                res = json.load(f)
            ok = all(v["same_seed_identical"] and v["other_seed_differs"] for v in res.values())
            print(json.dumps(res))
            print(json.dumps({"selfcheck": "pass" if ok else "FAIL"}))
            return 0 if ok else 1

        # the JVM gets what is left of the run limit once the oracle
        # compare's share is set aside (a build does not count against it)
        rc, _ = run_group(java_cmd(cp, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                              work, result_file]), ROOT, RUN_LIMIT_S - 20, stdout=sys.stderr)
        if rc != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM failed (exit {rc})")
            return 1
        with open(result_file) as f:
            r = json.load(f)

        errors = [op["error"] for op in r["ops"] if op["error"]]
        failed = len(errors)
        checks = list(r["checks"])
        oracle = None
        if a.workload == "catalog":
            oracle = oracle_compare(r["input_dir"], r["dump_dir"])
            bad = {k: v for k, v in oracle.items() if v}
            checks += [f"oracle {k}: {v}" for k, v in sorted(bad.items())]
            failed += sum(1 for op in r["ops"] if op["name"] in bad and not op["error"])
        attempted = len(r["ops"])
        correct = failed == 0 and not checks

        walls = [op["wall_s"] for op in r["ops"]]
        pass_s = statistics.median(r["pass_s"])
        e2e = {
            "setup_s": r["setup_s"],
            "op_p50_s": statistics.median(walls),
            "pass_s": pass_s,
            "input_mb_per_s": r["input_bytes_per_pass"] / 1048576.0 / pass_s,
            "heap_live_peak_mb": r["heap_live_peak_mb"],
        }
        report = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host_cpus": r["host_cpus"], "loadavg_start": r["loadavg_start"], "loadavg_end": r["loadavg_end"],
            "calib_before_s": r["calib_before_s"], "calib_after_s": r["calib_after_s"],
            "calib_drift": r["calib_drift"], "of_record": not r["calib_drift"],
            "passes": len(r["pass_s"]), "ops": attempted, "timed_s": r["timed_s"],
            "failed_ratio": failed / attempted, "op_tail_s": tail(walls),
            "setup_parts_s": {"session": r["session_s"], "generate": r["gen_s"], "warmup": r["warmup_s"]},
            "oracle_keys": None if oracle is None else len(oracle),
            "failed_checks": checks + errors[:20],
        }
        if a.trace == 0:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            report["end_to_end"] = e2e
        else:
            layer = dict(r["per_pass"])
            for k in ("jvm.gc_s", "trace.overhead_s", "trace.reconcile_err_max"):
                layer[k] = r[k]
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
            report["reconcile"] = {"max": r["trace.reconcile_err_max"], "median": r["trace.reconcile_err_median"],
                                   "tolerance": RECONCILE_TOLERANCE,
                                   "within": r["trace.reconcile_err_max"] <= RECONCILE_TOLERANCE}
            report["layers_extra"] = {k: v for k, v in layer.items() if k not in PER_LAYER}
            report["spans"] = r["trace.spans"]
        os.makedirs(OUT, exist_ok=True)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(OUT, f"spans-{a.workload}-{a.seed}.json"))
        with open(os.path.join(OUT, "results.jsonl"), "a") as f:
            f.write(json.dumps(dict(report, metrics=metrics)) + "\n")
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
