"""Benchmark of the query registry in a warmed session.

    python3 perfbench/run.py --workload kg-doc --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  It generates the seed's input tables
(cached per seed under ``.perfbench_run/``), starts one Spark driver
process (``worker.py``) on ``local[k]``, k = min(4, cores), warms the
workload's timed set (``summary.TIMED_SET``) with one pass, times passes
over it for ``--seconds`` and summarises the first ``TIMED_PASSES``,
checks every output against the DuckDB oracles, and prints the metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, read from outside the program.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

from summary import TIMED_PASSES, WORKLOADS, best_latencies, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORK = os.path.join(ROOT, ".perfbench_run")
PROGRAM_FILES = ("__spark_entry__.py", "spark_tensors_spark/queries",
                 "tests/oracle_harness.py", "scripts/gen_scale.py")
# Input size as gen_scale.py's multiplier of sf0.1: 0.01 gives sf0.001-sized
# tables (6k lineitem, 1k events, 50 documents, 20 embeddings).
SCALE = "0.01"
CORES = min(4, os.cpu_count() or 1)
RUN_LIMIT_S = 170


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def inputs(seed: int) -> str:
    """Tables in the schemas of TESTDATA.md, shaped by scripts/gen_scale.py
    with its generator seeded from ``seed``; cached per seed."""
    out = os.path.join(WORK, "data", f"seed{seed}-x{SCALE}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # gen_scale.py fixes its seed; its tables are reused unchanged, with
    # numpy's generator constructor bound to this run's seed.
    code = (
        "import runpy, sys, numpy as np\n"
        "make = np.random.default_rng\n"
        f"np.random.default_rng = lambda _seed=None: make({seed})\n"
        f"sys.argv = ['gen_scale.py', {SCALE!r}, {tmp!r}]\n"
        f"runpy.run_path({os.path.join(ROOT, 'scripts', 'gen_scale.py')!r},"
        " run_name='__main__')\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   stdout=subprocess.DEVNULL, timeout=120)
    os.replace(tmp, out)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """Busy (non-idle, non-steal) and steal jiffies of the whole host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


def own_cpu_s() -> float:
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


def session_members(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    text = f.read()
                if int(text[text.rindex(")") + 2:].split()[3]) == sid:
                    out.append(int(name))
            except (OSError, ValueError):
                continue
    return out


def stop_session(sid: int) -> None:
    """Wait briefly for the worker's descendants (JVM, Python daemon) to
    exit, then kill what remains."""
    for _ in range(50):
        if not session_members(sid):
            return
        time.sleep(0.2)
    for pid in session_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_members(sid):
        time.sleep(0.2)


def run_worker(job: dict, log_path: str, budget: float) -> float:
    """Start the worker in its own session; return its spawn epoch."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}  # engine defaults only
    env.update(PYTHONPATH=ROOT, TMPDIR=job["work"],
               SPARK_LOCAL_DIRS=os.path.join(job["work"], "spark-local"),
               SPARK_DRIVER_MEM="3g", PYTHONHASHSEED="0")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(job)],
            cwd=job["work"], env=env, stdout=log, stderr=log,
            start_new_session=True)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            stop_session(proc.pid)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"worker exited with {code}", 3)
    return spawn


def clean_tree(had_warehouse: bool, worker_pid: int) -> None:
    """Remove what the queries wrote into the checkout: their sink
    directories under spark-warehouse/ are keyed by the worker's pid."""
    wh = os.path.join(ROOT, "spark-warehouse")
    if not had_warehouse:
        shutil.rmtree(wh, ignore_errors=True)
        return
    sinks = os.path.join(wh, "_sinks")
    if os.path.isdir(sinks):
        for name in os.listdir(sinks):
            if name.endswith(f"_{worker_pid}"):
                shutil.rmtree(os.path.join(sinks, name), ignore_errors=True)


def summarised(res: dict) -> list:
    """The first TIMED_PASSES timed passes: the same pass positions on
    every commit, however many passes fit the window."""
    return res["passes"][:TIMED_PASSES]


def end_to_end(res: dict, setup_s: float) -> tuple[dict, str]:
    lat = [e["latency_s"] for e in res["executions"]
           if 0 <= e["pass"] < TIMED_PASSES and e["latency_s"] is not None]
    best = best_latencies(res["executions"])
    pct, tail, beyond = tail_percentile(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(best.values()), "s"),
        "query_p50_s": (statistics.median(best.values()), "s"),
    }
    # With fewer than 20 samples no percentile above the median has ten
    # samples beyond it, so the tail is reported here and not gated.
    note = (f"query_tail_s {tail:.4f} s: p{pct} of {len(lat)} samples, "
            f"{beyond} beyond it; all-sample median "
            f"{statistics.median(lat):.4f} s\n"
            "best latency per query (s): "
            + ", ".join(f"{n} {v:.3f}" for n, v in best.items()))
    return metrics, note


def per_layer(res: dict) -> tuple[dict, str]:
    passes = summarised(res)
    metrics = {n: statistics.median(p["metrics"][n] for p in passes)
               for n in passes[0]["metrics"]}
    encode_s, encode_jobs = res["kg_encode"]
    metrics.update({
        "kg.encode_s": encode_s,
        "kg.encode_jobs": encode_jobs,
        "session.start_s": res["session_start_s"],
        "session.jvm_cpu_s": res["setup_cpu"]["jvm_cpu_s"],
        "session.driver_cpu_s": res["setup_cpu"]["driver_cpu_s"],
        "trace.wall_s": statistics.median(p["wall_s"] for p in passes),
    })
    units = _units()
    out = {n: (v, units[n]) for n, v in metrics.items()}
    note = ("tracing overhead = trace.wall_s here minus wall_s of "
            "untraced runs of the same workload")
    return out, note


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()

    missing = [p for p in PROGRAM_FILES
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"program files missing from {ROOT}: {', '.join(missing)}", 2)

    data = inputs(args.seed)
    work = os.path.join(WORK, f"run{os.getpid()}")
    os.makedirs(work)
    had_warehouse = os.path.isdir(os.path.join(ROOT, "spark-warehouse"))
    result = os.path.join(work, "result.json")
    job = dict(root=ROOT, work=work, data=data, workload=args.workload,
               seconds=args.seconds, trace=bool(args.trace), cores=CORES,
               result=result)

    load0, (busy0, steal0), own0 = os.getloadavg(), cpu_jiffies(), own_cpu_s()
    log_path = os.path.join(WORK, f"last-{args.workload}.log")
    try:
        spawn = run_worker(job, log_path,
                           RUN_LIMIT_S - (time.monotonic() - t_begin))
        with open(result) as f:
            res = json.load(f)
        worker_pid = res["pid"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1, (busy1, steal1), own1 = os.getloadavg(), cpu_jiffies(), own_cpu_s()
    clean_tree(had_warehouse, worker_pid)

    tick = os.sysconf("SC_CLK_TCK")
    foreign = (busy1 - busy0) / tick - (own1 - own0)
    setup_s = res["ready_epoch"] - spawn
    if args.trace:
        metrics, note = per_layer(res)
    else:
        metrics, note = end_to_end(res, setup_s)
    failures = res["failures"]
    attempted = len(res["executions"])
    print(f"workload {args.workload}: {len(res['queries'])} queries, "
          f"{len(res['passes'])} timed passes ({TIMED_PASSES} summarised), "
          f"ops {attempted} (warm-up and timed), "
          f"ops_failed {len(failures)}, setup {setup_s:.2f} s "
          f"(session start {res['session_start_s']:.2f} s, "
          f"warm-up {res['warm_s']:.2f} s)")
    print(note)
    print("timed pass walls (s): "
          + ", ".join(f"{p['wall_s']:.3f}" for p in res["passes"]))
    for name in res["queries"]:
        print(f"latencies of {name} (s), warm-up first: " + ", ".join(
            "failed" if e["latency_s"] is None else f"{e['latency_s']:.3f}"
            for e in res["executions"] if e["name"] == name))
    print(f"contention: loadavg {load0[0]:.2f} -> {load1[0]:.2f}, "
          f"cpu outside this run {foreign:.1f} s, "
          f"steal {(steal1 - steal0) / tick:.1f} s")
    for idx, msg in sorted(failures.items(), key=lambda kv: int(kv[0])):
        print(f"failed: {res['executions'][int(idx)]['name']}: {msg}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
