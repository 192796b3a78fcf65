#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds the library and the
benchmark from source on first use (cached by a hash of the sources),
generates the seeded inputs, runs one workload in a fresh JVM and prints
the result as JSON on the last line of stdout. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics as M

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "target" / "e2e"

WORKLOADS = ("curate_train", "hybrid_serve")
BATCH_QUERIES = {"curate_train": ["q129", "q135"]}
# Share of each keyed table a seed keeps, in permille of the sf0.1 shape.
PERMILLE = 250
# hybrid_serve arrival rate, requests per second: about half the rate the
# serve loop sustained on a 4-core host (README.md).
RATE = 27.0

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "lat_p50_ms": "ms", "lat_p95_ms": "ms",
    "ingest_ms": "ms", "ok_pct": "%", "heap_live_mb": "MiB",
}

SPAN_NAMES = ["pass", "query", "operators.build", "operators.action", "sources.scan",
              "serve.batch", "hybrid.fused_with_content",
              "indexset.append", "indexset.snapshot", "retrieval.bm25", "quantize.probe",
              "indexset.fetch", "control"]

PER_LAYER = {
    "catalyst.plan_ms": "ms", "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "jit.compile_ms": "ms", "jit.warm_passes": "count", "sched.jobs": "count",
    "sched.stages": "count", "sched.tasks": "count", "driver.gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.busy_pct": "%", "scan.input_mb": "MiB",
    "scan.records": "count", "exec.gc_s": "s", "jvm.gc_pause_ms": "ms",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "shuffle.spill_mb": "MiB",
    "shuffle.records_per_out_row": "ratio", "operators.build_s": "s",
    "operators.action_s": "s", "checkpoint.jobs": "count", "checkpoint.s": "s",
    **{f"query.{q}.s": "s" for qs in BATCH_QUERIES.values() for q in qs},
    "loadgen.late_ms": "ms", "serve.queue_ms": "ms", "serve.batch_ms": "ms",
    "serve.batch_size": "count", "serve.busy_pct": "%", "retrieval.bm25_ms": "ms",
    "quantize.probe_ms": "ms", "indexset.fetch_ms": "ms",
    "serve.rows_scanned_per_result": "ratio", "indexset.append_ms": "ms",
    "indexset.snapshot_ms": "ms", "indexset.segments": "count", "indexset.publish_s": "s",
    "tasks.failed": "count", "sources.gen_s": "s", "host.control_ms": "ms",
    "host.control_drift_pct": "%", "tracing.overhead_pct": "%",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
}

# Tables cut to the seed's subset, with the key that keeps related rows
# together; the others (dimensions) are kept whole.
SUBSET_KEYS = {"documents": "doc_id", "embeddings": "vec_id", "events": "user_id",
               "lineitem": "l_orderkey", "orders": "o_orderkey"}


def fail(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(2)


def tier1_env():
    """The tier-1 suite's core and memory rules, unless already set."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if "SPARK_DRIVER_MEM" not in env:
        gib = 2
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        gib = min(8, max(2, int(line.split()[1]) // 2097152))
        except OSError:
            pass
        env["SPARK_DRIVER_MEM"] = f"{gib}g"
    return env


def source_hash(env):
    h = hashlib.sha256(env["SPARK_DRIVER_MEM"].encode())
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.*")),
             *sorted((ROOT / "src" / "main").rglob("*")),
             BENCH / "build.sbt", *sorted((BENCH / "project").glob("*.*")),
             *sorted((BENCH / "src" / "main").rglob("*"))]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def run_logged(cmd, cwd, env, log, timeout):
    """Runs cmd to completion; kills it on timeout or when this process is stopped."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def tail(path, n=30):
    try:
        return "".join(open(path, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def build(env, deadline):
    """Classpath and JVM options (the root build's javaOptions), built once per source hash."""
    spec = WORK / f"launch-{source_hash(env)}.txt"
    if not spec.exists():
        WORK.mkdir(parents=True, exist_ok=True)
        for old in WORK.glob("launch-*.txt"):  # specs of earlier sources
            old.unlink()
        log = WORK / "build.log"
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                        BENCH, env, log, deadline - time.time())
        if rc != 0:
            fail(f"build failed (rc={rc}):\n{tail(log)}")
        shutil.copy(BENCH / "target" / "launch.txt", spec)
    lines = spec.read_text().splitlines()
    return lines[0], lines[1:]


def generate_full(cp, opts, env, key, deadline):
    """GenScale's sf0.1 tables, written once per source hash."""
    out = WORK / f"gen-{key}"
    if not (out / "_DONE").exists():
        for old in WORK.glob("gen-*"):  # inputs of earlier sources
            shutil.rmtree(old, ignore_errors=True)
        out.mkdir(parents=True)
        rc = run_logged(["java", *opts, f"-Djava.io.tmpdir={out}", "-cp", cp, "graftbench.Gen",
                         str(out)], out, env, out / "gen.log", deadline - time.time())
        if rc != 0:
            fail(f"generation failed (rc={rc}):\n{tail(out / 'gen.log')}")
        (out / "_DONE").write_text("")
    return out


def keep_mask(keys, seed, permille):
    """Seeded, key-keyed row subset: splitmix64 of key and seed, mod 1000."""
    import numpy as np
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) ^ np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(1000)) < np.uint64(permille)


def subset(full, out, seed):
    """The seed's inputs: each keyed table cut to PERMILLE/1000 of its keys."""
    import pyarrow.parquet as pq
    out.mkdir(parents=True)
    for src in sorted(full.glob("*.parquet")):
        t = pq.read_table(src)
        key = SUBSET_KEYS.get(src.stem)
        if key:
            t = t.filter(keep_mask(t.column(key).to_numpy(), seed, PERMILLE))
        dst = out / src.name
        dst.mkdir()
        # INT96 timestamps, as Spark wrote them, so the engine reads the
        # same physical types as from its own generator.
        pq.write_table(t, dst / "part-00000.parquet", use_deprecated_int96_timestamps=True)


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- metrics

def end_to_end(w, rec):
    m = {"setup_s": rec["boot_s"] + M.median(rec["prep_s"])}
    if w in BATCH_QUERIES:
        timed = [p for p in rec["passes"] if p["kind"] == "timed"]
        w0, w1 = rec["window_ms"]
        lat = [ns / 1e6 for s, e, _, ns in rec["jobs"] if s >= w0 and e <= w1]
        m["cold_s"] = rec["passes"][0]["wall_s"]
        m["warm_s"] = M.median([p["wall_s"] for p in timed])
        m["ingest_ms"] = M.median(rec["ingest_s"]) * 1000.0
    else:
        lat, _ = M.open_loop(rec["requests"])
        m["cold_s"] = rec["cold_s"]
        m["warm_s"] = M.median(rec["batch_ms"]) / 1000.0
        m["ingest_ms"] = M.median(rec["append"]["ingest_ms"])
    m["lat_p50_ms"] = M.median(lat)
    m["lat_p95_ms"] = M.percentile(lat, 0.95)
    att = rec["attempted"]
    m["ok_pct"] = 100.0 * (att - rec["failed"]) / att
    m["heap_live_mb"] = rec["heap_live_mb"]
    return m, len(lat)


def per_layer(w, rec, gen_s, publish_s):
    m = {k: 0.0 for k in PER_LAYER}
    eng = rec["engine"]
    ctl = rec["control_ms"]
    m["sources.gen_s"] = gen_s
    m["host.control_ms"] = M.median(ctl["before"] + ctl["after"])
    m["host.control_drift_pct"] = 100.0 * (M.median(ctl["after"]) / M.median(ctl["before"]) - 1)
    m["tracing.overhead_pct"] = rec["overhead_pct"]
    m["jit.warm_passes"] = rec["warm_passes"]
    m["tasks.failed"] = eng.get("tasks_failed", 0.0)
    cores = rec["cores"]
    if w in BATCH_QUERIES:
        passes = rec["passes"]
        cold = passes[0]
        timed = [p for p in passes if p["kind"] == "timed"]
        n = len(timed)
        out_rows = sum(int(q["digest"].split(":")[0]) for p in timed for q in p["queries"]
                       if q["digest"])
        m["codegen.compiles"] = cold["codegen_compiles"]
        m["codegen.compile_ms"] = cold["codegen_ms"]
        m["jit.compile_ms"] = cold["jit_ms"]
        m["operators.build_s"] = M.median([sum(q["build_s"] for q in p["queries"]) for p in timed])
        m["operators.action_s"] = M.median([sum(q["action_s"] for q in p["queries"]) for p in timed])
        for i, name in enumerate(BATCH_QUERIES[w]):
            m[f"query.{name}.s"] = M.median(
                [p["queries"][i]["build_s"] + p["queries"][i]["action_s"] for p in timed])
    else:
        n = 1
        m["codegen.compiles"], m["codegen.compile_ms"] = rec["cold_codegen"]
        m["jit.compile_ms"] = rec["cold_jit_ms"]
        lat, queue = M.open_loop(rec["requests"])
        m["loadgen.late_ms"] = M.median(M.lateness(rec["wakes"]))
        m["serve.queue_ms"] = M.median(queue)
        m["serve.batch_ms"] = M.median(rec["batch_ms"])
        m["serve.batch_size"] = sum(rec["batch_sizes"]) / len(rec["batch_sizes"])
        w0, w1 = rec["window_ms"]
        m["serve.busy_pct"] = 100.0 * sum(rec["batch_ms"]) / (w1 - w0)
        m["retrieval.bm25_ms"] = M.median(rec["layer_ms"]["bm25"])
        m["quantize.probe_ms"] = M.median(rec["layer_ms"]["probe"])
        m["indexset.fetch_ms"] = M.median(rec["layer_ms"]["fetch"])
        scanned, rows = rec["scan_rows"]
        m["serve.rows_scanned_per_result"] = scanned / rows if rows else 0.0
        m["indexset.append_ms"] = M.median(rec["append"]["append_ms"])
        m["indexset.snapshot_ms"] = M.median(rec["append"]["snapshot_ms"])
        m["indexset.segments"] = rec["append"]["segments"]
        m["indexset.publish_s"] = publish_s
        out_rows = rec["out_rows"]
    w0, w1 = rec["window_ms"]
    window_s = (w1 - w0) / 1000.0
    jobs = [(s, e, ck) for s, e, ck, _ in rec["jobs"] if e > w0 and s < w1]
    m["sched.jobs"] = len(jobs) / n
    m["checkpoint.jobs"] = sum(1 for j in jobs if j[2]) / n
    m["checkpoint.s"] = sum(e - s for s, e, ck in jobs if ck) / 1000.0 / n
    m["driver.gap_s"] = (window_s - M.union_length(
        M.clip([(s, e) for s, e, _ in jobs], w0, w1)) / 1000.0) / n
    m["catalyst.plan_ms"] = eng.get("plan_ms", 0.0) / n
    m["sched.stages"] = eng.get("stages", 0.0) / n
    m["sched.tasks"] = eng.get("tasks", 0.0) / n
    m["exec.run_s"] = eng.get("run_ms", 0.0) / 1000.0 / n
    m["exec.cpu_s"] = eng.get("cpu_ns", 0.0) / 1e9 / n
    m["exec.busy_pct"] = 100.0 * eng.get("run_ms", 0.0) / 1000.0 / (window_s * cores)
    m["scan.input_mb"] = eng.get("input_bytes", 0.0) / 1048576.0 / n
    m["scan.records"] = eng.get("input_records", 0.0) / n
    m["exec.gc_s"] = eng.get("gc_ms", 0.0) / 1000.0 / n
    m["jvm.gc_pause_ms"] = rec["jvm_gc_ms"] / n
    m["shuffle.write_mb"] = eng.get("shuffle_write_bytes", 0.0) / 1048576.0 / n
    m["shuffle.read_mb"] = eng.get("shuffle_read_bytes", 0.0) / 1048576.0 / n
    m["shuffle.spill_mb"] = eng.get("spill_bytes", 0.0) / 1048576.0 / n
    m["shuffle.records_per_out_row"] = (
        eng.get("shuffle_write_records", 0.0) / n / (out_rows / n) if out_rows else 0.0)
    for name, ns in M.self_times(rec["spans"]).items():
        if f"self.{name}_s" in m:
            m[f"self.{name}_s"] = ns / 1e9
    return m


def main():
    t_start = time.time()
    # a stop request unwinds through run_logged, which ends the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    env = tier1_env()
    key = source_hash(env)
    first = not (WORK / f"launch-{key}.txt").exists()
    deadline = t_start + (880 if first else 170)
    cp, opts = build(env, deadline)
    full = generate_full(cp, opts, env, key, deadline)

    run_dir = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        g0 = time.time()
        subset(full, run_dir / "data", a.seed)
        if a.workload == "hybrid_serve":
            shutil.copytree(full / "index", run_dir / "index")
        gen_s = time.time() - g0

        env["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp")
        load0, (cpu0, steal0) = loadavg(), cpu_times()
        launch_ms = int(time.time() * 1000)
        rc = run_logged(["java", *opts, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
                         "graftbench.Main", "--workload", a.workload,
                         "--data", str(run_dir / "data"), "--work", str(run_dir),
                         "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--launch-ms", str(launch_ms),
                         "--rate", str(RATE)],
                        run_dir, env, run_dir / "jvm.log", deadline - time.time())
        if rc != 0 or not (run_dir / "record.json").exists():
            fail(f"{a.workload} run failed (rc={rc}):\n{tail(run_dir / 'jvm.log')}")
        cpu1, steal1 = cpu_times()
        rec = json.loads((run_dir / "record.json").read_text())
        results = WORK / "results"
        results.mkdir(parents=True, exist_ok=True)
        shutil.copy(run_dir / "record.json",
                    results / f"{a.workload}-seed{a.seed}-trace{a.trace}.record.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, lat_samples = end_to_end(a.workload, rec)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "permille": PERMILLE, "rate_per_s": RATE if a.workload == "hybrid_serve" else None,
        "cores": rec["cores"], "nproc": len(os.sched_getaffinity(0)), "jvm_args": rec["jvm_args"],
        "lat_samples": lat_samples, "warm_passes": rec["warm_passes"],
        "control_ms": rec["control_ms"],
        "host": {"loadavg": [load0, loadavg()],
                 "steal_pct": 100.0 * (steal1 - steal0) / max(1, cpu1 - cpu0)},
        "digests": {q["name"]: q["digest"] for q in rec["passes"][0]["queries"]}
        if a.workload in BATCH_QUERIES else {},
        "end_to_end": e2e,
    }
    if a.trace:
        publish_s = json.loads((full / "publish.json").read_text())["publish_s"]
        values = per_layer(a.workload, rec, gen_s, publish_s)
        units = PER_LAYER
    else:
        values = e2e
        units = END_TO_END
    detail["metrics"] = values
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(detail, indent=1))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
