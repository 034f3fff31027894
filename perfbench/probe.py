"""Whole-module probe: the data the timed sets of summary.TIMED_SET were
chosen from, and the share of its workload that a timed set covers.

    python3 perfbench/probe.py --workload events-stream --seed 1 --passes 3

Run from the root of a checkout.  One session on ``local[k]`` runs every
query of the workload's modules ``--passes`` times, with the traced run's
collectors around each query.  For the last pass it prints, per layer
and in cost order, each query's latency, jobs, Python-worker CPU, JVM
write MB and stateful-operator count, marks the timed set with ``*``,
and gives the set's share of the layer's latency and jobs.  It takes
whole minutes per pass and is not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

from run import CORES, ROOT, WORK, clean_tree, inputs
from summary import WORKLOADS, layer_of, timed_set, workload_queries


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    data = inputs(args.seed)
    work = os.path.join(WORK, f"probe{os.getpid()}")
    os.makedirs(work)
    had_warehouse = os.path.isdir(os.path.join(ROOT, "spark-warehouse"))
    # the Python workers the JVM forks import the package from ROOT
    os.environ.update(TMPDIR=work, SPARK_DRIVER_MEM="3g", PYTHONPATH=ROOT)
    sys.path.insert(0, ROOT)
    import __spark_entry__
    from collectors import (MB, ProgressLog, SparkCounters, io_bytes,
                            python_workers_cpu)
    from worker import start_session, stop, traced_query

    spark = start_session({"work": work, "cores": CORES})
    try:
        registry = __spark_entry__.queries()
        queries = workload_queries(registry, args.workload)
        timed = timed_set(registry, args.workload)
        counters, log = SparkCounters(spark), ProgressLog()
        spark.streams.addListener(log)
        for p in range(args.passes):
            t0, rows = time.perf_counter(), []
            for name, fn in queries.items():
                py0, _ = python_workers_cpu(counters.jvm_pid)
                w0, n_events = io_bytes(counters.jvm_pid)[1], len(log.events)
                build_s, action_s, _cols, _rows, rec = traced_query(
                    spark, counters, f"probe{p}:{name}", name, fn, data)
                rows.append((name, build_s + action_s, rec["jobs"],
                             python_workers_cpu(counters.jvm_pid)[0] - py0,
                             (io_bytes(counters.jvm_pid)[1] - w0) / MB,
                             n_events))
            print(f"pass {p}: {time.perf_counter() - t0:.1f} s", flush=True)
        time.sleep(1.0)  # let the listener bus deliver the last events
        report(queries, timed, rows, log.events)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        clean_tree(had_warehouse, os.getpid())


def report(queries, timed, rows, events):
    by_layer: dict[str, list] = {}
    for i, (name, lat, jobs, py, write, n_events) in enumerate(rows):
        end = rows[i + 1][5] if i + 1 < len(rows) else len(events)
        state_ops = sum(len(e.stateOperators) for e in events[n_events:end])
        by_layer.setdefault(layer_of(queries[name]), []).append(
            (lat, name, jobs, py, write, state_ops))
    for layer, rs in sorted(by_layer.items()):
        rs.sort()
        print(f"{layer}: {len(rs)} queries, median "
              f"{rs[(len(rs) - 1) // 2][1]}")
        for lat, name, jobs, py, write, state_ops in rs:
            mark = "*" if name in timed else " "
            print(f" {mark} {name:34s} {lat:6.2f} s {jobs:3d} jobs "
                  f"py {py:5.2f} s write {write:5.2f} MB state ops {state_ops}")
        tot_s, tot_j = sum(r[0] for r in rs), sum(r[2] for r in rs)
        in_s = sum(r[0] for r in rs if r[1] in timed)
        in_j = sum(r[2] for r in rs if r[1] in timed)
        print(f"  timed set: {in_s:.1f} of {tot_s:.1f} s "
              f"({in_s / tot_s:.0%}), {in_j} of {tot_j} jobs "
              f"({in_j / tot_j:.0%})")


if __name__ == "__main__":
    main()
