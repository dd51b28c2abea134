#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload batch --seed 1 --seconds 8 --trace 0

Builds the harness and the project's sources (once per source state),
generates the workload's inputs from the seed, runs the harness JVM,
checks every op's output, and prints one line per metric followed by the
result as a single JSON line. Work files go to .perfbench/ in the
checkout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
DEADLINE_S = 170
JVM_OPTS = [
    *[x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "--add-modules", "jdk.incubator.vector",
    "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted(list((ROOT / "src" / "main").rglob("*.scala")) +
                   list((BENCH / "src").rglob("*.scala")) +
                   [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, deadline, log, **kw):
    """Run `cmd` in its own process group with output to `log`; on timeout
    kill the whole group and wait for it. Returns the exit code, or None on
    timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(deadline):
    """Compile once per source state; return the harness classpath and
    whether this run built it."""
    stamp = WORK / "build" / "stamp.json"
    digest = source_digest()
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s["digest"] == digest:
            return s["classpath"], False
    stamp.parent.mkdir(parents=True, exist_ok=True)
    log = WORK / "build" / "sbt.log"
    tmp = WORK / "build" / "tmp"
    tmp.mkdir(exist_ok=True)
    # Keep sbt's server socket, boot lock and native-library scratch files
    # out of the shared temp and home directories.
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                    f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                    "compile", "export Runtime/fullClasspath"],
                   deadline, log, cwd=BENCH,
                   env=dict(os.environ, COURSIER_MODE="offline"))
    lines = log.read_text().splitlines()
    if rc != 0:
        die("build failed:\n" + "\n".join(lines[-30:]))
    cp = [l for l in lines if "scala-2.13/classes" in l and ":" in l][-1]
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp.strip()}))
    return cp.strip(), True


def run_jvm(cp, workload, data, work, seconds, trace, cores, deadline):
    out = work / "harness.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "perfbench.Harness", workload, str(data), str(work), str(seconds),
           str(trace), str(cores), str(out)]
    log = work / "jvm.log"
    rc = run_group(cmd, deadline, log, cwd=work,
                   env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")))
    if rc is None:
        die(f"harness timed out; log in {log}")
    if rc != 0 or not out.exists():
        tail = log.read_text().splitlines()[-30:]
        die(f"harness exited with {rc}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


# ---- output checks -------------------------------------------------------

def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in rel.fetchall():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(("f", repr(v)))
            elif hasattr(v, "isoformat"):
                vals.append(("t", v.isoformat()))
            else:
                vals.append((type(v).__name__, str(v)))
        rows.append(tuple(vals))
    rows.sort()
    return sorted(cols), rows


def oracle_failures(data, check_dir, ops):
    """Compare each registry op's result with DuckDB running the op's
    oracle SQL on the same generated inputs (columns by name, rows sorted,
    floats by exact value)."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.loads((check_dir / "oracle_sql.json").read_text())
    fails = []
    for name in ops:
        res = check_dir / name
        if name not in oracle:
            fails.append((name, "no oracle SQL"))
            continue
        if not res.exists():
            fails.append((name, "no result"))
            continue
        got = canon(con.query(f"SELECT * FROM '{res}/*.parquet'"))
        want = canon(con.query(oracle[name]))
        if got[0] != want[0]:
            fails.append((name, f"columns {got[0]} != {want[0]}"))
        elif got[1] != want[1]:
            fails.append((name, f"rows differ ({len(got[1])} vs {len(want[1])})"))
    return fails


def la_failures(data, check_dir):
    """LA results against numpy on the same X. The products must match
    closely; the L2 fit solves the normal equations, whose condition number
    reaches 1e10 on some seeds, so it is held to a normwise backward error
    (a backward-stable solve gives about 1e-15) rather than to numpy's
    answer."""
    size = json.loads((data / "inputs.json").read_text())
    n, c = size["la_rows"], size["la_cols"]
    x = np.fromfile(data / "la_x.f64", "<f8").reshape(n, c)
    w = ((np.arange(c) % 7) - 3) / 10.0
    gram, rhs = x.T @ x, x.T @ (x @ w)
    got = {}
    for name, shape in (("la_gram", (c, c)), ("la_multiply", (n, c)),
                        ("la_l2", (c,))):
        f = check_dir / f"{name}.f64"
        if f.exists():
            got[name] = np.fromfile(f, "<f8").reshape(shape)
    fails = [(name, "no result") for name in ("la_gram", "la_multiply", "la_l2")
             if name not in got]
    for name, want in (("la_gram", gram), ("la_multiply", x @ x[:c])):
        if name in got and not np.allclose(got[name], want, rtol=1e-7, atol=1e-7):
            fails.append((name, f"max abs diff {np.abs(got[name] - want).max():.3g}"))
    if "la_l2" in got:
        v = got["la_l2"]
        err = np.linalg.norm(gram @ v - rhs) / (
            np.linalg.norm(gram, 2) * np.linalg.norm(v) + np.linalg.norm(rhs))
        if not err <= 1e-12:
            fails.append(("la_l2", f"backward error {err:.3g} > 1e-12"))
    return fails


# ---- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def e2e_metrics(h):
    passes = h["passes"]
    reads = [o["s"] for o in h["ops"] if o["kind"] == "read"]
    return {
        "setup_s": median(h["setup_s"]),
        "pass_s": median([p["s"] for p in passes]),
        "query_p50_s": median(reads),
        "heap_peak_mb": max(p["heap_mb"] for p in passes),
    }


def layer_metrics(h, per_layer_names):
    traced = [p for p in h["passes"] if p["traced"]]
    plain = [p for p in h["passes"] if not p["traced"]]
    traced_idx = {i + 1 for i, p in enumerate(h["passes"])
                  if p["traced"]}
    ops = [o for o in h["ops"] if o["pass"] in traced_idx]
    m = {}
    for k in traced[0]["layers"] if traced else []:
        m[k] = median([p["layers"][k] for p in traced])
    phases = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
              "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
              "commit_offsets_s": "commitOffsets"}
    for name, key in phases.items():
        m[f"streaming.{name}"] = median(
            [b.get(key, 0) / 1000.0 for b in h["stream_batches"]])
    batches = [o["s"] for o in ops if o["kind"] == "batch"]
    m["streaming.batch_p50_s"] = median(batches)
    m["streaming.batch_p90_s"] = pct(batches, 0.9)
    m["storage.write_p50_s"] = median(
        [o["s"] for o in ops if o["kind"] == "write"])
    m["trace.pass_s"] = median([p["s"] for p in traced])
    m["trace.overhead_s"] = (m["trace.pass_s"] -
                             median([p["s"] for p in plain]))
    m["trace.spans"] = float(h["spans"])
    missing = [k for k in per_layer_names if k not in m]
    if missing:
        die(f"harness gave no value for {missing}")
    return {k: m[k] for k in per_layer_names}


def fingerprint(h):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "jdk": h["java_version"], "spark": h["spark_version"],
            "git_commit": commit, "source_sha256": source_digest()}


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("no project sources next to perfbench/; run from a checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end" if a.trace == 0
                                     else "per_layer"]]
    units = {m["name"]: m["unit"] for m in
             spec["end_to_end"] + spec["per_layer"]}
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    # The first run in a checkout also builds, and may take 900 s in all.
    cp, built = build(t_start + 850)
    deadline = t_start + (880 if built else DEADLINE_S)

    work = WORK / f"run-{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    digest = gen.check_deterministic(work / "gen", a.seed, a.workload)
    data = work / "gen" / "a"
    print(f"generate_s {time.time() - t0:.3f} s (inputs sha256 {digest[:16]}, "
          "generated twice, byte-identical)")

    cores = len(os.sched_getaffinity(0))
    h = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, cores,
                deadline)

    check_dir = work / "check"
    fails = [(f["op"], f["reason"]) for f in
             h["warmup_failures"] + h["check_failures"]]
    fails += oracle_failures(data, check_dir, h["registry_ops"])
    if a.workload == "batch":
        fails += la_failures(data, check_dir)
    for i, p in enumerate(h["passes"]):
        if p["conservation"] is not None:
            fails.append(("conservation", f"pass {i + 1}: {p['conservation']}"))
    bad_ops = {op for op, _ in fails}
    attempted = len(h["ops"])
    failed = sum(1 for o in h["ops"]
                 if o["error"] is not None or o["name"] in bad_ops)
    for o in h["ops"]:
        if o["error"] is not None:
            fails.append((o["name"], f"pass {o['pass']}: {o['error']}"))
    correct = not fails

    if a.trace == 0:
        metrics = e2e_metrics(h)
    else:
        metrics = layer_metrics(h, names)
    for op, why in fails:
        print(f"FAILED {op}: {why}")
    print(f"error_rate {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} ops)")
    for k in names:
        print(f"{k} {metrics[k]:.6g} {units[k]}")
    fp = fingerprint(h)
    print("fingerprint " + json.dumps(fp, sort_keys=True))
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in names}}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(result, workload=a.workload, seed=a.seed,
                        seconds=a.seconds, fingerprint=fp,
                        failures=[{"op": o, "reason": r} for o, r in fails]),
                   indent=1))
    for d in ("gen", "check", "spark-local", "tmp", "warehouse", "checkpoints"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
