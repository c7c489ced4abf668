#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (cached under .bench_build/ by a hash of the sources);
inputs are generated from the seed and cached per seed; the DuckDB oracle
digests are cached per dataset, seed and oracle SQL text.

Each run starts one JVM (heap pinned, local[nproc], shuffle partitions =
nproc) that sets up once (session start and a warm pass), then measures a closed loop of passes
over the workload's op list for --seconds, then checks every op's output
(graftbench/src/main/scala/graftbench/Main.scala). The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones, and trace.jsonl (one row per op) is kept in
the run directory named on stderr.

Extra options, for the self-test: --data DIR uses an existing table
directory instead of generated tables; --expect-wrong OP
corrupts OP's expected digest, which must then count as a failure.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170.0

WORKLOADS = {
    # overhead-bound: fixed per-query cost (planning, job scheduling)
    # dominates at this scale; a rank loop, substrate consumers, a
    # scratch-leaf query and a cheap scan
    "sf0.1-mix": {
        "tables": 0.1,
        "heap": "3g",
        "ops": [
            "knn_pagerank", "minhash_near_dup", "audience_overlap",
            "kaplan_meier", "topk_limit",
        ],
    },
    # volume-bound: scan, parse, window shuffle and a blocked join over
    # generated tables at 2.5x the fixture's scale
    "sf0.25-volume": {
        "tables": 0.25,
        "heap": "3g",
        "ops": ["json_extract", "running_total", "record_linkage"],
    },
    # the provisioning CLI: plans and effect sinks, writes beside re-applies
    "provision": {
        "tables": None,
        "heap": "2g",
        "ops": [f"{kind}:{dist}" for dist in ("cdh", "cdp", "hdp")
                for kind in ("users", "users-reapply", "dirs", "dirs-reapply", "plan")],
    },
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "retained_mb": "MB", "ok_frac": "ratio",
}

COUNT, MS, MB, BYTES = "count", "ms", "MB", "bytes"
PER_LAYER = {
    "operators.build_ms": MS, "operators.jobs": COUNT, "operators.job_ms": MS,
    "substrate.builds": COUNT, "substrate.build_s": "s", "substrate.live": COUNT,
    "substrate.jobs": COUNT, "substrate.job_ms": MS,
    "cache_mb": MB, "storage.rdds": COUNT, "storage.mem_mb": MB, "storage.disk_mb": MB,
    "storage.local_dir_mb": MB, "storage.rdds_growth": COUNT,
    "storage.mem_mb_growth": MB, "storage.local_dir_mb_growth": MB,
    "catalyst.analysis_ms": MS, "catalyst.optimization_ms": MS,
    "catalyst.planning_ms": MS, "catalyst.exchanges": COUNT,
    "catalyst.broadcasts": COUNT,
    "exec.jobs": COUNT, "exec.stages": COUNT, "exec.tasks": COUNT,
    "exec.job_cover_ms": MS, "exec.driver_gap_ms": MS,
    "exec.driver_gap_share": "ratio", "exec.queue_ms": MS, "exec.run_ms": MS,
    "exec.cpu_ms": MS, "exec.gc_ms": MS, "exec.busy_frac": "ratio",
    "exchange.shuffle_write_bytes": BYTES, "exchange.shuffle_read_bytes": BYTES,
    "exchange.fetch_wait_ms": MS, "exchange.spill_mem_bytes": BYTES,
    "exchange.spill_disk_bytes": BYTES,
    "scan.bytes_read": BYTES, "scan.records_read": COUNT,
    "plans.jobs": COUNT, "plans.job_ms": MS,
    "sinks.jobs": COUNT, "sinks.job_ms": MS, "sinks.mutations": COUNT,
    "tables.jobs": COUNT, "tables.job_ms": MS,
    "jvm.gc_ms": MS, "jvm.heap_used_mb": MB,
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s",
    "trace.overhead_s": "s", "fail_frac": "ratio",
}

# per-op counters summed over a pass (the rest are derived or sampled)
SUMMED = [k for k in PER_LAYER if k.split(".")[0] in
          ("operators", "catalyst", "exec", "exchange", "scan", "plans", "sinks", "tables")
          and k not in ("exec.busy_frac", "exec.driver_gap_share")] + ["substrate.jobs", "substrate.job_ms"]

_children = []


def fail(msg: str, code: int = 2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg: str):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()
    if _:
        sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        _children.remove(p)


# ---- build -----------------------------------------------------------------

def source_hash() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(deadline: float) -> str:
    cp_file = BUILD / f"classpath-{source_hash()}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    log("building the engine and the harness with sbt")
    log_file = BUILD / "build.log"
    with open(log_file, "w") as out:
        rc = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export graftbench/Runtime/fullClasspath"],
            deadline - time.time(), cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = log_file.read_text().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log_file}")
    cp_file.write_text(cp[-1].strip())
    return cp[-1].strip()


# ---- inputs ----------------------------------------------------------------

def dataset(kind: str, arg, seed: int, deadline: float) -> Path:
    name = f"{kind}-{arg}-s{seed}" if arg is not None else f"{kind}-s{seed}"
    d = BUILD / "data" / name
    if (d / ".done").exists():
        os.utime(d)
        return d
    tmp = d.with_name(name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = [str(arg)] if arg is not None else []
    log(f"generating {name}")
    rc = run_child([sys.executable, str(BENCH / "gendata.py"), kind, *args, str(seed), str(tmp)],
                   deadline - time.time())
    if rc != 0:
        fail(f"input generation failed for {name} (exit {rc})")
    (tmp / ".done").write_text("")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    # keep the most recently used datasets (a few hundred MB at most)
    kept = sorted((p for p in (BUILD / "data").iterdir() if (p / ".done").exists()),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for old in kept[30:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


# ---- oracle ----------------------------------------------------------------

def _compare_module():
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT / "tools"))
    import compare  # tools/compare.py: the repo's own oracle gate
    return compare


def digest(con, relation: str) -> dict:
    """Order-insensitive digest of a result: row count, column names and
    types, and the sum of per-row hashes over every value's exact text form
    (so -0.0 and 0.0 differ, NaN equals NaN, as in tools/compare.py)."""
    cols = con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    names = sorted(c[0] for c in cols)
    types = {c[0]: str(c[1]) for c in cols}
    values = ", ".join(f'CAST("{n}" AS VARCHAR)' for n in names)
    rows, h = con.sql(f"SELECT count(*), sum(hash({values})) FROM {relation}").fetchone()
    nested = lambda t: "NESTED" if t.endswith("]") or t.startswith(("STRUCT", "MAP")) else t
    return {"rows": rows, "hash": str(h), "columns": [[n, nested(types[n])] for n in names],
            "types": [types[n] for n in names]}


def check_sql_outputs(table_dir: Path, run_dir: Path, ops, wrong: str) -> dict:
    """op -> None when the Spark output matches the DuckDB oracle, else why."""
    import duckdb
    compare = _compare_module()
    oracle_sql = json.loads((run_dir / "oracle_sql.json").read_text())
    cache = BUILD / "oracle"
    cache.mkdir(exist_ok=True)
    tables = hashlib.sha256(str(table_dir).encode())
    for f in sorted(table_dir.glob("*.parquet")):
        tables.update(f"{f.name} {f.stat().st_size} {f.stat().st_mtime_ns}".encode())
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in compare.TABLES:
        if (table_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    verdict = {}
    for op in ops:
        sql = oracle_sql.get(op)
        if sql is None:
            verdict[op] = "no oracle SQL declared"
            continue
        key = cache / (hashlib.sha256(tables.hexdigest().encode() + sql.encode()).hexdigest()[:24] + ".json")
        if key.exists():
            want = json.loads(key.read_text())
        else:
            want = digest(con, f"({compare.unionfind_rewrite(con, sql)})")
            key.write_text(json.dumps(want))
        if wrong in (op, op.split(":")[0]):
            want = dict(want, hash=str(int(want["hash"] or 0) + 1))
        got = digest(con, f"read_parquet('{run_dir / 'check' / op}/*.parquet')")
        problems = compare.decimal_output_problems(list(zip(
            [c[0] for c in got["columns"]], got["types"])))
        for k in ("columns", "rows", "hash"):
            if got[k] != want[k]:
                problems.append(f"{k}: oracle={want[k]} spark={got[k]}")
        verdict[op] = "; ".join(problems) or None
    return verdict


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res: dict, wrong_ops: set, seconds: float):
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    lat, attempted, failed = [], 0, 0
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            bad = o["error"] is not None or o["op"] in wrong_ops
            failed += bad
            # a failed op misses any latency limit
            lat.append(max(o["ms"], seconds * 1000) if bad else o["ms"])
    metrics = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(walls),
        "op_p50_ms": quantile(lat, 0.5),
        "op_p90_ms": quantile(lat, 0.9),
        "retained_mb": res["retained_mb"],
        "ok_frac": 1 - failed / attempted,
    }
    pq = statistics.quantiles(walls, n=4) if len(walls) > 1 else [walls[0]] * 3
    note = (f"pass_s median of {len(walls)} passes (IQR {pq[2] - pq[0]:.3f} s); "
            f"op_p50_ms and op_p90_ms over {len(lat)} ops, "
            f"{sum(x > metrics['op_p90_ms'] for x in lat)} beyond p90; "
            f"fail_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")
    return metrics, attempted, failed, note


def per_layer(res: dict, trace_rows: list, wrong_ops: set, cores: int):
    ops = [r for r in trace_rows if "op" in r]
    bounds = [r for r in trace_rows if "boundary" in r]
    traced = sorted({r["pass"] for r in ops if r["pass"] > 0})
    per_pass = []
    for p in traced:
        rows = [r for r in ops if r["pass"] == p]
        s = {k: sum(r.get(k, 0) for r in rows) for k in SUMMED + ["sinks.mutations"]}
        wall = sum(r["wall_ms"] for r in rows)
        s["exec.busy_frac"] = s["exec.run_ms"] / (s["exec.job_cover_ms"] * cores) if s["exec.job_cover_ms"] else 0.0
        s["exec.driver_gap_share"] = s["exec.driver_gap_ms"] / wall if wall else 0.0
        per_pass.append(s)
    m = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
    m["substrate.builds"] = sum(r["substrate.builds"] for r in ops)
    m["substrate.build_s"] = sum(r["substrate.build_s"] for r in ops)
    m["substrate.live"] = ops[-1]["substrate.live"]
    m["cache_mb"] = res["cache_mb"]
    last = bounds[-1]
    for k in ("storage.rdds", "storage.mem_mb", "storage.disk_mb", "storage.local_dir_mb"):
        m[k] = last[k]
    for k in ("storage.rdds", "storage.mem_mb", "storage.local_dir_mb"):
        m[k + "_growth"] = (last[k] - bounds[0][k]) / (len(bounds) - 1) if len(bounds) > 1 else 0.0
    m["jvm.gc_ms"] = statistics.median(b["jvm.gc_ms"] for b in bounds)
    m["jvm.heap_used_mb"] = statistics.median(b["jvm.heap_used_mb"] for b in bounds)
    walls = {t: [p["wall_s"] for p in res["passes"] if p["traced"] == t] for t in (False, True)}
    m["trace.untraced_pass_s"] = statistics.median(walls[False])
    m["trace.traced_pass_s"] = statistics.median(walls[True])
    # passes come in pairs (1, 2), (3, 4), ... over the same ops, one traced
    pairs = {}
    for p in res["passes"]:
        pairs.setdefault((p["pass"] + 1) // 2, {})[p["traced"]] = p["wall_s"]
    m["trace.overhead_s"] = statistics.median(v[True] - v[False] for v in pairs.values() if len(v) == 2)
    all_ops = [o for p in res["passes"] for o in p["ops"]]
    failed = sum(o["error"] is not None or o["op"] in wrong_ops for o in all_ops)
    m["fail_frac"] = failed / len(all_ops)
    return m, len(all_ops), failed


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", help="existing table directory to use instead of generated tables")
    ap.add_argument("--expect-wrong", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()
    started = time.time()
    deadline = started + DEADLINE_S

    for needed in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/gen_sf.py",
                   "tools/compare.py"):
        if not (ROOT / needed).exists():
            fail(f"run from the root of a graft checkout: {needed} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    signal.signal(signal.SIGTERM, stop_children)
    BUILD.mkdir(exist_ok=True)

    w = WORKLOADS[args.workload]
    cp = build(started + 840)
    # a run that had to build gets its full measuring budget after the build
    deadline = max(deadline, min(time.time() + DEADLINE_S, started + 890))
    if w["tables"] is None:
        data = dataset("provision", None, args.seed, deadline)
    elif args.data:
        data = Path(args.data).resolve()
    else:
        data = dataset("tables", w["tables"], args.seed, deadline)

    cores = len(os.sched_getaffinity(0))
    run_dir = BUILD / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    local_dir = run_dir / "spark-local"
    tmp_dir = run_dir / "tmp"
    local_dir.mkdir(parents=True)
    tmp_dir.mkdir()
    # keep only the most recent runs' directories
    runs = sorted((BUILD / "runs").iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in runs[8:]:
        shutil.rmtree(old, ignore_errors=True)

    heap = w["heap"]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp_dir}"]
    if args.trace:
        # whole call stacks, so a job's innermost engine frame is always in it
        cmd.append("-Dspark.callstack.depth=400")
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--data", str(data),
            "--ops", ",".join(w["ops"]), "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--out", str(run_dir), "--local-dir", str(local_dir)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local_dir))
    jvm_start = time.time()
    with open(run_dir / "jvm.log", "w") as jlog:
        rc = run_child(cmd, deadline - time.time() - 10, cwd=run_dir, env=env,
                       stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not (run_dir / "result.json").exists():
        tail = (run_dir / "jvm.log").read_text()[-2000:]
        fail(f"harness JVM failed (exit {rc}); log tail:\n{tail}", 1)
    res = json.loads((run_dir / "result.json").read_text())
    jvm_done = time.time()

    checks = {c["op"]: c["error"] for c in res["check"]}
    if w["tables"] is not None:
        for op, err in check_sql_outputs(data, run_dir, w["ops"], args.expect_wrong).items():
            checks[op] = checks[op] or err
    else:
        for op in w["ops"]:
            if args.expect_wrong in (op, op.split(":")[0]):
                checks[op] = "deliberately wrong expectation"
    wrong = {op for op, err in checks.items() if err}
    for op in sorted(wrong):
        log(f"check failed for {op}: {checks[op]}")

    if args.trace:
        rows = [json.loads(ln) for ln in (run_dir / "trace.jsonl").read_text().splitlines()]
        metrics, attempted, failed = per_layer(res, rows, wrong, cores)
        units = PER_LAYER
        log(f"per-op trace rows: {run_dir / 'trace.jsonl'}")
    else:
        metrics, attempted, failed, note = end_to_end(res, wrong, args.seconds)
        units = END_TO_END
        print(f"{args.workload} seed {args.seed}: " + ", ".join(
            f"{k}={metrics[k]:.4g} {units[k]}" for k in units) + f" ({note})")
    log(f"{time.time() - started:.1f} s in all: JVM {jvm_done - jvm_start:.1f} s, "
        f"oracle compare {time.time() - jvm_done:.1f} s")
    shutil.rmtree(run_dir / "check", ignore_errors=True)
    shutil.rmtree(local_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_children()
