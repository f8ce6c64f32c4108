#!/usr/bin/env python3
"""Benchmark of the ingest and batch paths.

    python3 perfbench/run.py --workload <remote-write|gate-batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's own code from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are unchanged.
Each run prepares the seed's inputs (timed, reported as prep_s in the
artifact), starts one JVM for the workload, checks the program's outputs,
writes a full artifact to .bench_build/results/ and prints one JSON line:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
A failed or wrong operation makes the exit code non-zero.

    python3 perfbench/run.py --selftest     # the statistics' own checks
    python3 perfbench/run.py --workload remote-write --seed 1 --seconds 25 --rate 0
                                            # remote-write's capacity probe
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("remote-write", "gate-batch")
GATE_SF = 0.01
# remote-write's offered load, batches of 1000 samples per second; kept
# below the capacity that --rate 0 (a closed loop beside the reader) measures
RW_RATE = 4
RUN_DEADLINE_S = 172


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------- statistics ----------

def percentile(values, q):
    """Nearest-rank q-quantile, refused unless at least ten samples lie
    beyond it (a p90 needs 100 samples, a p99 1000)."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        raise ValueError(f"p{q * 100:g} needs {round(10 / (1 - q))} samples, have {n}")
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


def latencies(ops):
    """Latency of each successful operation, from when it was due: an open
    loop's stall is charged to every request that waited behind it."""
    return [done - due for due, _sent, done, ok in ops if ok]


def lateness(ops):
    """How late the generator sent each operation."""
    return [sent - due for due, sent, _done, _ok in ops]


def best(segments):
    """Each repeated piece of work (a gate query, the remote-write schedule)
    at its best run, least wall time and least CPU taken separately, summed
    over the pieces: (wall s, CPU s, JIT CPU s, operations, completed)."""
    wall = cpu = jit = ops = done = 0
    for runs in segments.values():
        wall += min(r[0] for r in runs)
        cpu += min(r[1] for r in runs)
        jit += min(r[4] for r in runs)
        ops += runs[0][2]
        done += min(r[3] for r in runs)
    return wall, cpu, jit, ops, done


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def selftest():
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile(list(range(1, 21)), 0.5) == 10
    for n, q in ((99, 0.9), (999, 0.99), (19, 0.5)):
        try:
            percentile(list(range(n)), q)
            raise AssertionError(f"p{q} of {n} samples must be refused")
        except ValueError:
            pass
    # open loop due every 10 ms; the second request stalls 100 ms, so the
    # third, sent late behind it, is charged its wait
    ops = [(0.00, 0.00, 0.005, 1), (0.01, 0.01, 0.11, 1), (0.02, 0.11, 0.115, 1),
           (0.03, 0.115, 0.12, 0)]
    lat = latencies(ops)
    assert [round(x, 3) for x in lat] == [0.005, 0.1, 0.095], lat
    assert [round(x, 3) for x in lateness(ops)] == [0.0, 0.0, 0.09, 0.085]
    assert failed_ratio(4, 1) == 0.25
    # each query at its best run; a failure anywhere leaves it uncompleted
    segs = {"a": [[2.0, 3.0, 1, 1, 0.5], [1.0, 4.0, 1, 1, 0.2]], "b": [[1.0, 1.0, 1, 0, 0.1]]}
    assert best(segs) == (2.0, 4.0, 0.30000000000000004, 2, 1), best(segs)
    try:
        failed_ratio(0, 0)
        raise AssertionError("zero attempts must be refused")
    except ValueError:
        pass


# ---------- build ----------

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("program sources (src/main/scala) not found; run from the repository root")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip(), digest


# ---------- environment ----------

def nproc():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of physical memory, at most 4 GiB: the host's memory is
    shared, and the largest working set (remote-write's store) is far smaller."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, kb // 1024 // 4))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def cpu_ticks():
    """(steal, total) CPU ticks so far: on a virtual machine, time the
    hypervisor gave to others moves every timed metric"""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------- gate oracle ----------

def gate_check(data_dir, out_dir):
    """Every gate output against its DuckDB oracle (exact after sorting
    columns by name and rows by value); outputs without an oracle must have
    rows. Returns failure strings."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = []
    outputs = sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d)))
    for name in outputs:
        got = pq.read_table(os.path.join(out_dir, name)).to_pandas()
        if name not in oracle:
            if len(got) == 0:
                fails.append(f"{name}: no rows")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            fails.append(f"{name}: oracle SQL error {e}")
            continue
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            fails.append(f"{name}: columns {list(got.columns)} vs {list(exp.columns)}")
            continue
        if len(got) != len(exp):
            fails.append(f"{name}: rows {len(got)} vs {len(exp)}")
            continue
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
        for c in got.columns:
            g, e = got[c], exp[c]
            if g.dtype.kind == "f" or e.dtype.kind == "f":
                g, e = g.astype(float).values, e.astype(float).values
                same = (g == e) | (pd.isna(g) & pd.isna(e))
                if not same.all():
                    i = (~same).argmax()
                    fails.append(f"{name}: column {c} row {i}: {g[i]!r} vs {e[i]!r}")
                    break
            elif not g.astype(str).equals(e.astype(str)):
                i = (g.astype(str) != e.astype(str)).idxmax()
                fails.append(f"{name}: column {c} row {i}: {g[i]!r} vs {e[i]!r}")
                break
    missing = set(oracle) - set(outputs)
    fails += [f"{n}: no output" for n in sorted(missing)]
    return fails


# ---------- metrics ----------

def operations(workload, phase):
    """The operations a user of this workload waits on: remote-write's
    writes (timed from their due time), gate-batch's queries."""
    return phase["writes"] if workload == "remote-write" else phase["queries"]


def attempts(phase):
    ops = phase["queries"] + phase["writes"]
    return len(ops), sum(1 for o in ops if not o[3])


def end_to_end(phase, setup_s):
    """What running the workload costs a user: set-up, CPU and memory. CPU
    is taken over the whole remote-write schedule, whose operations are its
    writes and reads, or over gate-batch's queries, each at its best of the
    passes (the JVM still compiles through the first ones, and interference
    only ever adds time). Wall-clock figures are per-layer: on a shared
    virtual machine they move with the host's load far more than CPU does."""
    _wall, cpu, _jit, ops, _done = best(phase["segments"])
    return {
        "setup_s": setup_s,
        "cpu_s_per_op": cpu / ops,
        "heap_retained_mb": phase["heap_retained_mb"],
    }


def ops_per_s(phase):
    """Completed operations per second, over the same work as cpu_s_per_op."""
    wall, _cpu, _jit, _ops, done = best(phase["segments"])
    return done / wall


def workload_figures(workload, phase, attempted, failed):
    """Figures of one workload's own path, reported with the layers (zero
    on the workloads that do not take that path)."""
    lat = latencies(operations(workload, phase))
    _wall, _cpu, jit, ops, _done = best(phase["segments"])
    f = {"failed_ratio": failed_ratio(attempted, failed), "ops_per_s": ops_per_s(phase),
         "op_p50_s": percentile(lat, 0.5), "op_mean_s": statistics.mean(lat),
         # the JIT compilers' CPU, left out of cpu_s_per_op
         "jvm.jit_cpu_s": jit / ops}
    if workload == "remote-write":
        lat = latencies(phase["writes"])
        f["write_p50_s"] = percentile(lat, 0.5)
        f["write_p90_s"] = percentile(lat, 0.9)
        f["write_samples_per_s"] = phase["figures"]["write_samples_per_s"]
        f["loadgen.late_p90_s"] = percentile(lateness(phase["writes"]), 0.9)
        reads = [done - sent for _due, sent, done, ok in phase["queries"] if ok]
        f["read_mean_s"] = statistics.mean(reads)
        f["reads"] = len(reads)
    for fam in ("q", "pq", "lp"):
        k = f"gate_{fam}_s"
        if k in phase["figures"]:
            f[k] = phase["figures"][k]
    return f


def java_cmd(cp, tmp, args):
    return (["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, log_path, deadline):
    """Runs one benchmark JVM to its end; returns (exit code, spawn time)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(log_path, "w") as lf:
        spawned = time.time()
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc, spawned


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=RW_RATE,
                    help="remote-write batches/s; 0 probes capacity in a closed loop")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    selftest()
    if args.selftest:
        print("selftest ok")
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    load_before = loadavg()
    ticks_before = cpu_ticks()
    t_start = time.time()
    cp, digest = build()
    # the first run in a checkout builds; the deadline counts from here
    deadline = time.time() + RUN_DEADLINE_S
    cpus = nproc()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    for stale in glob.glob(os.path.join(results, tag + ".*")):
        shutil.rmtree(stale) if os.path.isdir(stale) else os.remove(stale)

    # preparation: the seed's inputs, outside set-up and the timed phase
    prep_py = 0.0
    if args.workload == "gate-batch":
        data = os.path.join(BUILD, "data", f"gate-seed{args.seed}-sf{GATE_SF}")
        if not os.path.exists(os.path.join(data, "embeddings.parquet")):
            t0 = time.time()
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import gatedata
            gatedata.generate(data + ".tmp", args.seed, GATE_SF)
            shutil.rmtree(data, ignore_errors=True)
            os.rename(data + ".tmp", data)
            prep_py = time.time() - t0
    else:
        data = os.path.join(BUILD, "data", "none")
    os.makedirs(data, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    jvm_log = os.path.join(results, f"{tag}.jvm.log")
    rc, spawned = run_jvm(java_cmd(cp, tmp, [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--out", out, "--cpus", str(cpus),
        "--local-dir", local, "--rate", str(args.rate)]), jvm_log, deadline)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        log(f"benchmark JVM failed ({rc}); log in {jvm_log}")
        return 1
    raw = json.load(open(out))
    # set-up: from process start to ready
    setup_s = raw["ready_epoch_ms"] / 1000.0 - spawned

    checks = list(raw["check_failures"])
    if args.workload == "gate-batch":
        checks += gate_check(data, out[:-len(".json")] + ".gate")
    failures = list(raw["timed"]["failures"]) + checks
    # a wrong output counts as a failed operation
    attempted, failed = attempts(raw["timed"])
    failed = min(attempted, failed + len(checks))
    e2e = end_to_end(raw["timed"], setup_s)
    figures = workload_figures(args.workload, raw["timed"], attempted, failed)
    if args.trace:
        traced_e2e = end_to_end(raw["traced"], setup_s)
        layers = dict(raw["layers"])
        layers.update(figures)
        # tracing overhead: how much worse each timed figure is with tracing
        # on (set-up is never traced)
        for k in ("cpu_s_per_op", "heap_retained_mb"):
            layers[f"trace.overhead.{k}"] = traced_e2e[k] - e2e[k]
        layers["trace.overhead.ops_per_s"] = figures["ops_per_s"] - ops_per_s(raw["traced"])
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload does not pass through did no work: 0
        metrics = {n: {"value": layers.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = not failures and failed == 0
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "correct": correct, "attempted": attempted, "failed": failed, "failures": failures[:50],
        "metrics": metrics, "end_to_end_all": e2e, "workload_figures": figures,
        "env": dict(raw["env"], git_commit=git_commit(), source_sha256=digest,
                    load_before_run=load_before, load_after_run=loadavg(),
                    xmx_mb_requested=heap_mb(), nproc=cpus,
                    cpu_steal_share=steal / total if total else 0.0),
        "prep_s": raw["prep_s"] + prep_py,
        "timed_wall_s": raw["timed"]["wall_s"], "timed_segments": raw["timed"]["segments"],
        "samples": {"queries": len(raw["timed"]["queries"]), "writes": len(raw["timed"]["writes"])},
        "run_wall_s": time.time() - t_start,
    }
    with open(os.path.join(results, f"{tag}.artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for msg in failures[:20]:
        log(f"FAIL {msg}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
