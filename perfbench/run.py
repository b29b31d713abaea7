#!/usr/bin/env python3
"""graft benchmark: first-sight vs repeat query latency, one workload per call.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The script builds the library and
the benchmark driver from source (sbt), generates the workload's tables,
then measures in fresh JVMs at local[nproc]:

  * a closed loop with one client and one query at a time: every query's
    first execution in the session, then REPEAT_ROUNDS repeat rounds (more
    only while fewer than --seconds of repeats have run);
  * two further JVMs that only set up, so set-up time is a median of three;
  * an untimed correctness gate: each query's result is written to parquet
    and compared with DuckDB running the query's oracle SQL.

--seed fixes the generated tables: the same sizes and value distributions
for every seed, different values. Queries run in the order workloads.json
lists them. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of
the traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SPEC = json.loads((HERE / "workloads.json").read_text())
WORKLOADS = SPEC["workloads"]
RUN_TIMEOUT_S = 160
SETUP_SAMPLES = 3
# Repeat rounds after the first pass (a traced run runs each twice, traced
# and untraced). More run only if --seconds is not spent by then; with the
# --seconds of BENCHMARK.json it always is.
REPEAT_ROUNDS = 2
# A fixed heap and young generation, and few malloc arenas: without them
# the resident high-water mark follows G1's and glibc's sizing decisions,
# which vary run to run by more than a third (measured 1.1-2.4 GiB). These
# come after the library's JVM options, so they override its heap size.
FIXED_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
JVM_ENV = dict(os.environ, MALLOC_ARENA_MAX="2")

END_TO_END = {
    "setup_s": "s", "first_total_s": "s", "repeat_total_s": "s",
    "scan_mrows_per_s": "Mrows/s", "peak_rss_mb": "MiB",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    """Everything the build reads: both build definitions and all sources."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.properties")) + sorted(d.glob("*.sbt"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles library + driver with sbt when any source changed; returns
    the classpath and JVM options of the build's launch spec, and the
    sources' hash."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise BenchError(f"no library sources under {ROOT}: run from a source checkout")
    sha = source_sha()
    spec = HERE / "target" / "launch.txt"
    stamp = WORK / "build.sha"
    if not (spec.is_file() and stamp.is_file() and stamp.read_text() == sha):
        if shutil.which("sbt") is None:
            raise BenchError("sbt is not on PATH")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log("building library and driver with sbt")
        t0 = time.monotonic()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=850)
        if p.returncode != 0 or not spec.is_file():
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError("sbt build failed")
        log(f"build took {time.monotonic() - t0:.1f} s")
        WORK.mkdir(exist_ok=True)
        stamp.write_text(sha)
    lines = spec.read_text().splitlines()
    return lines[0], lines[1:], sha


# ---------------------------------------------------------------- data

def dataset(sf, seed):
    """The workload's tables for this seed, generated once per checkout."""
    gen = HERE / "datagen.py"
    tag = hashlib.sha256(gen.read_bytes()).hexdigest()[:10]
    out = WORK / "data" / f"sf{sf}-seed{seed}-{tag}"
    if not (out / "embeddings.parquet").is_file():
        log(f"generating sf{sf} tables for seed {seed}")
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(tmp), str(sf), str(seed)],
                       check=True, timeout=300)
        tmp.rename(out)
    return out


# ---------------------------------------------------------------- JVMs

def launch(classpath, jvm_opts, plan, deadline):
    """Runs the driver on one plan. Returns (seconds from process start to
    the ready marker, result dict)."""
    run_dir = Path(plan["work"])
    props = run_dir / f"{plan['mode']}-{plan['tag']}.properties"
    plan["out"] = str(run_dir / f"{plan['mode']}-{plan['tag']}.json")
    props.write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    cmd = (["java", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + jvm_opts + FIXED_HEAP
           + ["-cp", classpath, "perfbench.Driver", str(props)])
    errlog = open(run_dir / f"{plan['mode']}-{plan['tag']}.log", "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errlog, text=True, env=JVM_ENV)
    ready = []

    def watch():  # on a thread, so a driver that hangs cannot block the deadline
        for line in proc.stdout:
            if not ready and line.strip() == "PERFBENCH_READY":
                ready.append(time.monotonic() - t0)

    reader = threading.Thread(target=watch, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"driver ({plan['mode']}) timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join()
        proc.stdout.close()
        errlog.close()
    if proc.returncode != 0 or not ready or not Path(plan["out"]).is_file():
        tail = Path(errlog.name).read_text()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"driver ({plan['mode']}) exited with {proc.returncode}")
    return ready[0], json.loads(Path(plan["out"]).read_text())


# ---------------------------------------------------------------- gate

def load_oracle_tools():
    path = ROOT / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # imports duckdb: a missing DuckDB fails loudly here
    return mod


# The ETL leg's expected output: lineitem plus the job's load timestamp.
# Its row order is unspecified, so it is compared as a multiset.
ETL_ORACLE = ("SELECT *, TIMESTAMP '2022-01-01 00:00:00' AS current_ts "
              "FROM lineitem")


def multiset_diff(con, files, sql):
    got = f"SELECT * FROM read_parquet({files!r})"
    n_got, n_exp = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (got, sql))
    if n_got != n_exp:
        return f"row count {n_got} != {n_exp}"
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {sql})").fetchone()[0]
    return f"{extra} rows differ from the oracle" if extra else None


def gate(data_dir, gate_dir, queries, oracle_sql):
    """Compares each query's gate parquet with DuckDB running its oracle
    SQL (rows, schema, values); returns {query: None if correct else
    reason}. A query without oracle SQL fails: the tables change with the
    seed, so there is no fixed record to fall back on."""
    oracle = load_oracle_tools()
    import duckdb
    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for q in queries:
        files = sorted(str(p) for p in (gate_dir / q).glob("*.parquet"))
        if not files:
            verdict[q] = "no gate output"
            continue
        if q == "taxi_etl":
            verdict[q] = multiset_diff(con, files, ETL_ORACLE)
            continue
        sql = oracle_sql.get(q)
        if sql is None:
            verdict[q] = "no oracle SQL"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        try:
            rel = con.sql(sql)
            lint = oracle.dtype_lint(got, rel.columns, [str(t) for t in rel.types])
            ok, msg = (False, lint) if lint else oracle.compare(got, rel.df())
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, msg = False, f"oracle error: {e}"
        verdict[q] = None if ok else msg
    return verdict


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, min_samples):
    """The highest of p99/p95/p90/p75/p50 with >= 10 samples beyond it,
    judged on the guaranteed sample count so the percentile is the same on
    every run, as (value, percentile); (None, None) when none has."""
    for p in (99, 95, 90, 75, 50):
        if min_samples * (100 - p) / 100 >= 10:
            return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p
    return None, None


def rounds_of(execs):
    by = {}
    for e in execs:
        by.setdefault(e["round"], []).append(e)
    return by


def end_to_end(res, setups, rows, n_queries):
    execs = res["execs"]
    by = rounds_of(execs)
    first = [e["wall"] for e in by[0]]
    # With query-major order each query may repeat a different number of
    # times; a round is complete only if every query ran in it.
    full = [r for r in sorted(by) if r > 0 and len(by[r]) == n_queries]
    round_walls = [sum(e["wall"] for e in by[r]) for r in full]
    repeats = [e["wall"] for e in execs if e["round"] > 0]
    per_query = {}
    for e in execs:
        if e["round"] > 0:
            per_query.setdefault(e["q"], []).append(e["wall"])
    tail_v, tail_p = tail(repeats, n_queries * REPEAT_ROUNDS)
    repeat_total = median(round_walls)
    m = {
        "setup_s": median(setups),
        "first_total_s": sum(first),
        "repeat_total_s": repeat_total,
        "scan_mrows_per_s": rows / repeat_total / 1e6 if repeat_total else 0.0,
        "peak_rss_mb": res["memory_mb"]["VmHWM"],
    }
    # Printed and recorded, not gated: with four queries a per-query
    # median is the mean of two queries' latencies (see README).
    info = {
        "first_p50_s": median(first),
        # Each query's repeat wall is the median of its repeats.
        "repeat_p50_s": median([median(v) for v in per_query.values()]),
        "repeat_tail_s": tail_v, "repeat_tail_pct": tail_p,
        "repeat_samples": len(repeats), "repeat_rounds": len(full),
        "input_rows_per_round": rows,
    }
    return m, info


# Per-layer metrics of one set of traced executions:
# name -> (unit, how to compute it from the executions' records).
def _sum(f, scale=1.0):
    return lambda es: sum(f(e) for e in es) * scale


def _max(f, scale=1.0):
    return lambda es: max((f(e) for e in es), default=0) * scale


def _ratio(a, b):
    return lambda es: (sum(map(a, es)) / s) if (s := sum(map(b, es))) else 0.0


def _batch_p50(es):
    return median([b for e in es for b in e["t"]["batch_ms"]])


MB = 1 / 1048576
LAYER = {
    "queries.build_s": ("s", _sum(lambda e: e["build_s"])),
    "queries.action_s": ("s", _sum(lambda e: e["action_s"])),
    "queries.actions": ("count", _sum(lambda e: e["t"]["actions"])),
    "catalyst.analysis_ms": ("ms", _sum(lambda e: e["t"]["analysis_ms"])),
    "catalyst.optimization_ms": ("ms", _sum(lambda e: e["t"]["optimization_ms"])),
    "catalyst.planning_ms": ("ms", _sum(lambda e: e["t"]["planning_ms"])),
    "codegen.compiles": ("count", _sum(lambda e: e["compiles"])),
    "codegen.compile_ms": ("ms", _sum(lambda e: e["compile_ms"])),
    "codegen.bytecode_kb": ("KiB", _sum(lambda e: e["bytecode_kb"])),
    "jvm.jit_ms": ("ms", _sum(lambda e: e["jit_ms"])),
    "jvm.codecache_mb": ("MiB", _max(lambda e: e["codecache_mb"])),
    "jvm.metaspace_mb": ("MiB", _max(lambda e: e["metaspace_mb"])),
    "scheduler.jobs": ("count", _sum(lambda e: e["t"]["jobs"])),
    "scheduler.stages": ("count", _sum(lambda e: e["t"]["stages"])),
    "scheduler.tasks": ("count", _sum(lambda e: e["t"]["tasks"])),
    "scheduler.driver_gap_s": ("s", _sum(lambda e: e["driver_gap_s"])),
    "executor.task_s": ("s", _sum(lambda e: e["t"]["task_ms"], 1e-3)),
    "executor.cpu_s": ("s", _sum(lambda e: e["t"]["cpu_ns"], 1e-9)),
    "executor.cpu_ratio": ("ratio", _ratio(lambda e: e["t"]["cpu_ns"] / 1e6,
                                           lambda e: e["t"]["task_ms"])),
    "executor.gc_s": ("s", _sum(lambda e: e["t"]["gc_ms"], 1e-3)),
    "shuffle.write_mb": ("MiB", _sum(lambda e: e["t"]["shuffle_write_b"], MB)),
    "shuffle.read_mb": ("MiB", _sum(lambda e: e["t"]["shuffle_read_b"], MB)),
    "shuffle.fetch_wait_s": ("s", _sum(lambda e: e["t"]["fetch_wait_ms"], 1e-3)),
    "shuffle.spill_mb": ("MiB", _sum(lambda e: e["t"]["spill_b"], MB)),
    "scan.mb": ("MiB", _sum(lambda e: e["t"]["scan_b"], MB)),
    "scan.rows": ("count", _sum(lambda e: e["t"]["input_rows"])),
    "write.mb": ("MiB", _sum(lambda e: e["t"]["output_b"], MB)),
    "write.rows": ("count", _sum(lambda e: e["t"]["output_rows"])),
    "fs.write_ops": ("count", _sum(lambda e: e["fs_write_ops"])),
    "fs.write_mb": ("MiB", _sum(lambda e: e["fs_write_b"], MB)),
    "fs.read_ops": ("count", _sum(lambda e: e["fs_read_ops"])),
    "storage.block_updates": ("count", _sum(lambda e: e["t"]["block_updates"])),
    "storage.peak_mem_mb": ("MiB", _max(lambda e: e["t"]["peak_storage_b"], MB)),
    "storage.leaked_rdds": ("count", _sum(lambda e: e["leaked_rdds"])),
    "streaming.batches": ("count", _sum(lambda e: e["t"]["batches"])),
    "streaming.batch_p50_ms": ("ms", _batch_p50),
    "streaming.idle_s": ("s", _sum(lambda e: e["t"]["stream_idle_ms"], 1e-3)),
    "streaming.state_rows": ("count", _max(lambda e: e["t"]["state_rows"])),
    "streaming.state_mb": ("MiB", _max(lambda e: e["t"]["state_b"], MB)),
    "self.query_s": ("s", _sum(lambda e: e["self"].get("query", 0.0))),
    "self.action_s": ("s", _sum(lambda e: e["self"].get("action", 0.0))),
    "self.job_s": ("s", _sum(lambda e: e["self"].get("job", 0.0))),
    "self.stage_s": ("s", _sum(lambda e: e["self"].get("stage", 0.0))),
    "self.batch_s": ("s", _sum(lambda e: e["self"].get("batch", 0.0))),
}
SETUP_LAYER = ("setup.jvm_s", "setup.session_s", "setup.warmup_s")


def covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Per execution: each span kind's self time (its duration minus the
    part its child spans cover), and the query wall no job covers."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["kind"] == "workload":
            continue
        iv = [(c["startMs"], c["endMs"]) for c in kids.get(s["id"], [])]
        dur = s["endMs"] - s["startMs"]
        per = out.setdefault(s["exec"], {})
        per[s["kind"]] = per.get(s["kind"], 0.0) + (dur - covered(iv, s["startMs"], s["endMs"])) / 1e3
    gaps = {}
    for s in spans:
        if s["kind"] == "query":
            jobs = [(j["startMs"], j["endMs"]) for j in spans
                    if j["kind"] == "job" and j["exec"] == s["id"]]
            gaps[s["id"]] = (s["endMs"] - s["startMs"] - covered(jobs, s["startMs"], s["endMs"])) / 1e3
    return out, gaps


def per_layer(res, setup_parts, spans):
    trace = res["trace"]
    selfs, gaps = self_times(spans)
    execs = []
    for e in res["execs"]:
        if e["traced"]:
            execs.append(dict(e, t=trace[e["id"]], self=selfs.get(e["id"], {}),
                              driver_gap_s=gaps.get(e["id"], 0.0)))
    by = rounds_of(execs)
    # Only complete repeat rounds, as in end_to_end: with query-major order
    # a quick query may fit more repeats than the others.
    all_by = rounds_of(res["execs"])
    full = [r for r in sorted(all_by) if r > 0 and len(all_by[r]) == len(all_by[0])]
    m = {}
    for name, (unit, f) in LAYER.items():
        m[name] = (f(by[0]), unit)
        m[name + ".repeat"] = (median([f(by[r]) for r in full if r in by]), unit)
    for k in SETUP_LAYER:
        m[k] = (median([p[k.split(".")[1]] for p in setup_parts]), "s")
    # Traced rounds against the rounds run with the listeners detached.
    traced_r = [sum(e["wall"] for e in all_by[r]) for r in full if r in by]
    plain_r = [sum(e["wall"] for e in all_by[r]) for r in full if r not in by]
    over = median(traced_r) - median(plain_r) if traced_r and plain_r else 0.0
    m["trace.overhead_s"] = (over, "s")
    m["trace.overhead_frac"] = (over / median(plain_r) if plain_r else 0.0, "ratio")
    plan_fp = {}
    for e in execs:
        plan_fp.setdefault(e["q"], []).append(e["t"]["plan_fp"])
    return m, plan_fp


# ---------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v


def steal_pct(a, b):
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- run

def run_workload(name, seed, seconds, trace):
    wl = WORKLOADS[name]
    sf = wl["sf"]
    t_start = time.monotonic()
    classpath, jvm_opts, sha = build()
    data = dataset(sf, seed)
    # The first run in a checkout also builds; the deadline covers only
    # the measured part.
    deadline = time.monotonic() + RUN_TIMEOUT_S
    queries = list(wl["queries"])
    nproc = len(os.sched_getaffinity(0))
    tag = f"{name}-s{seed}-t{trace}"
    run_dir = WORK / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    base = {"tag": tag, "work": run_dir, "cores": nproc, "data": data,
            "localDir": run_dir / "local", "warmup": SPEC["warmup"]}
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    phases = {"prepare": time.monotonic() - t_start}
    t = time.monotonic()
    ready, res = launch(classpath, jvm_opts, dict(
        base, mode="run", workload=name, queries=",".join(queries), order=wl["order"],
        seconds=seconds, repeatRounds=REPEAT_ROUNDS,
        trace=trace, gateDir=run_dir / "gate", spans=run_dir / "spans.jsonl"), deadline)
    phases["main_jvm"] = time.monotonic() - t
    t = time.monotonic()
    setups, setup_parts = [ready], [res["setup"]]
    for i in range(1, SETUP_SAMPLES):
        s, r = launch(classpath, jvm_opts, dict(base, mode="setup", tag=f"{tag}-{i}"), deadline)
        setups.append(s)
        setup_parts.append(r["setup"])
    phases["setup_jvms"] = time.monotonic() - t
    t = time.monotonic()
    cpu1 = cpu_times()
    host = {"nproc": nproc, "cores": res["cores"], "sf": sf,
            "java": res["java_version"], "spark": res["spark_version"],
            "git_commit": git_commit(), "source_sha": sha,
            "cpu_steal_pct": steal_pct(cpu0, cpu1),
            "loadavg_start": load0, "loadavg_end": os.getloadavg()[0]}

    g = res["gate"]
    verdict = gate(data, run_dir / "gate", queries, res.get("oracle_sql", {}))
    for q, err in g["errors"].items():
        verdict[q] = f"gate run failed: {err}"
    wrong = {q: v for q, v in verdict.items() if v}
    phases["gate_compare"] = time.monotonic() - t
    failed_execs = [e for e in res["execs"] if not e["ok"] or e["q"] in wrong]
    attempted = len(res["execs"])
    rows = sum(g["input_rows"].get(q, 0) for q in queries)

    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "queries": queries, "order": wl["order"], "host": host,
              "setup_samples_s": setups, "setup_parts": setup_parts,
              "wrong": wrong, "exec_errors": {e["q"]: e["error"] for e in res["execs"] if e["error"]},
              "execs": [{k: e[k] for k in ("q", "round", "wall", "build_s", "action_s", "ok")}
                        for e in res["execs"]],
              "memory_mb": res["memory_mb"], "phase_s": phases,
              "wall_s": time.monotonic() - t_start}
    if trace:
        spans = [json.loads(l) for l in Path(run_dir / "spans.jsonl").read_text().splitlines() if l]
        layer, plan_fp = per_layer(res, setup_parts, spans)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        record.update(plan_fp=plan_fp, leaked_rdds={
            e["q"]: e["leaked_rdds"] for e in res["execs"] if e.get("leaked_rdds")})
    else:
        e2e, info = end_to_end(res, setups, rows, len(queries))
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        record.update(info)
    record["metrics"] = metrics
    record["failed_frac"] = len(failed_execs) / attempted
    rec_dir = WORK / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    stem = rec_dir / f"{tag}-{int(time.time())}"
    Path(f"{stem}.json").write_text(json.dumps(record, indent=1))
    if trace:
        shutil.copy(run_dir / "spans.jsonl", f"{stem}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {name}  seed {seed}  sf {sf}  local[{res['cores']}]  "
          f"queries {len(queries)}  order {wl['order']}")
    for k, v in metrics.items():
        print(f"  {k:34s} {v['value']:14.6f} {v['unit']}")
    print(f"  {'failed_frac':34s} {record['failed_frac']:14.6f} ratio "
          f"({len(failed_execs)} of {attempted} executions)")
    if not trace:
        for k in ("first_p50_s", "repeat_p50_s"):
            print(f"  {k:34s} {info[k]:14.6f} s (not gated)")
        if info["repeat_tail_s"] is None:
            print(f"  {'repeat_tail_s':34s} {'n/a':>14s} s ({info['repeat_samples']} repeat "
                  f"executions: no percentile has 10 beyond it; not gated)")
        else:
            print(f"  {'repeat_tail_s':34s} {info['repeat_tail_s']:14.6f} s "
                  f"(p{info['repeat_tail_pct']} of {info['repeat_samples']} repeat executions "
                  f"over {info['repeat_rounds']} rounds; not gated)")
    print(f"  correctness: {'PASS' if not wrong else 'FAIL ' + json.dumps(wrong)[:2000]}")
    return {"correct": not wrong and not failed_execs, "attempted": attempted,
            "failed": len(failed_execs), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    names = list(WORKLOADS)
    if a.workload != "all" and a.workload not in names:
        log(f"unknown workload {a.workload}; known: {', '.join(names)}")
        return 2
    try:
        if a.workload == "all":
            results = {n: run_workload(n, a.seed, a.seconds, a.trace) for n in names}
            out = {"correct": all(r["correct"] for r in results.values()),
                   "attempted": sum(r["attempted"] for r in results.values()),
                   "failed": sum(r["failed"] for r in results.values()),
                   "metrics": {f"{n}/{k}": v for n, r in results.items()
                               for k, v in r["metrics"].items()}}
        else:
            out = run_workload(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.SubprocessError, OSError, ImportError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
