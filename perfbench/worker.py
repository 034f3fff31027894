"""One benchmark process: the Spark driver that runs a workload.

Started by ``run.py`` with a JSON job description as its only argument.
It builds the engine's session, warms the workload's timed set, runs
timed passes over it for the requested seconds, checks every output, and
writes a JSON result file.  With tracing on, it also reads the
collectors of ``collectors.py`` around each query call and forcing action.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

from collectors import (
    MB,
    ProgressLog,
    SparkCounters,
    io_bytes,
    proc_cpu_s,
    python_workers_cpu,
    streaming_totals,
)
from summary import LAYERS, TIMED_PASSES, layer_of, timed_set


class Collected:
    """A finished result in the shape ``oracle_harness.run_spark`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def start_session(job):
    from spark_tensors_spark.session import get_session

    work = job["work"]
    spark = get_session(
        app_name="perfbench",
        master=f"local[{job['cores']}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark):
    """Stop the session and wait for the JVM to exit, so its CPU is
    accounted to this process tree."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run_query(spark, fn, data):
    """Call the query function, then force it with ``collect``.
    Returns (build_s, action_s, df, columns, rows)."""
    t0 = time.perf_counter()
    df = fn(spark, data)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, df, df.columns, rows


def traced_query(spark, counters, tag, name, fn, data):
    """``run_query`` with the outside-in counters read around it."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, name)
    job0, stage0 = counters.next_ids()
    rdds0, _ = counters.persisted()
    try:
        build_s, action_s, df, cols, rows = run_query(spark, fn, data)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    job1, stage1 = counters.next_ids()
    rdds1, _ = counters.persisted()
    rec = counters.stage_totals(stage0, stage1)
    rec.update(
        jobs=job1 - job0,
        untagged_jobs=job1 - job0 - counters.tagged_jobs(tag),
        catalyst_ms=counters.catalyst_ms(df),
        leaked=rdds1 > rdds0,
    )
    return build_s, action_s, cols, rows, rec


def run_pass(spark, queries, data, results, pass_no, counters=None, tag=""):
    """One pass over the query set.  Appends one record per execution
    to ``results`` and returns the pass's summed latency.  ``pass_no`` is
    -1 for the warm-up pass."""
    wall = 0.0
    for name, fn in queries.items():
        rec = {"name": name, "layer": layer_of(fn), "pass": pass_no}
        try:
            if counters is None:
                build_s, action_s, _df, cols, rows = run_query(spark, fn, data)
            else:
                build_s, action_s, cols, rows, extra = traced_query(
                    spark, counters, f"{tag}:{name}", name, fn, data)
                rec.update(extra)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc(file=sys.stderr)
        else:
            rec.update(build_s=build_s, action_s=action_s,
                       latency_s=build_s + action_s, columns=cols, rows=rows)
            wall += build_s + action_s
        results.append(rec)
    return wall


def check(results, oracles, spark, data):
    """Hash-compare each oracled query's first result, from warm-up, with
    its DuckDB oracle; require rows from rows-only queries; require every
    later execution of a query to return the same normalized rows.
    Returns the failure messages by execution index."""
    from tests.oracle_harness import compare, duck_connection, normalize

    failures = {}
    first_digest = {}
    con = duck_connection(data)
    try:
        for i, rec in enumerate(results):
            if "error" in rec:
                failures[i] = rec["error"]
                continue
            name, cols, rows = rec["name"], rec["columns"], rec["rows"]
            digest = hashlib.sha256(repr(normalize(
                cols, [tuple(r) for r in rows])).encode()).hexdigest()
            if name not in first_digest:
                first_digest[name] = digest
                if name in oracles:
                    ok, detail = compare(lambda _s, _d: Collected(cols, rows),
                                         oracles[name], spark, data, con=con)
                    if not ok:
                        failures[i] = f"oracle: {detail}"[:300]
                elif not rows:
                    failures[i] = "rows-only query returned no rows"
            elif digest != first_digest[name]:
                failures[i] = "result differs from its first execution"
    finally:
        con.close()
    return failures


def encode_chain(spark, counters, data):
    """The kg dictionary memo's build chain, called cold: the cache is
    cleared first, or its plans would match the memo's persisted frames."""
    from spark_tensors_spark.kg.dictionary import build_dictionaries, encode_triples
    from spark_tensors_spark.kg.graph_source import triples_raw

    spark.catalog.clearCache()
    job0, _ = counters.next_ids()
    t0 = time.perf_counter()
    raw = triples_raw(spark, data)
    ent, rel = build_dictionaries(raw)
    encode_triples(raw, ent, rel).count()
    return time.perf_counter() - t0, counters.next_ids()[0] - job0


def layer_metrics(records, cores) -> dict:
    out = {}
    for layer in LAYERS:
        rs = [r for r in records if r["layer"] == layer]
        build = sum(r["build_s"] for r in rs)
        action = sum(r["action_s"] for r in rs)
        task_s = sum(r["task_s"] for r in rs)
        out.update({
            f"{layer}.build_s": build,
            f"{layer}.action_s": action,
            f"{layer}.jobs": sum(r["jobs"] for r in rs),
            f"{layer}.tasks": sum(r["tasks"] for r in rs),
            f"{layer}.task_s": task_s,
            f"{layer}.busy_frac": (task_s / (cores * (build + action))
                                   if rs else 0.0),
        })
    return out


def traced_pass(spark, counters, queries, data, results, log, cores, pass_no):
    """One pass with every collector read around it; returns the pass's
    summed latency and its per-layer metrics."""
    first, n_events = len(results), len(log.events)
    py0, _ = python_workers_cpu(counters.jvm_pid)
    io0 = io_bytes(counters.jvm_pid)
    wall = run_pass(spark, queries, data, results, pass_no, counters,
                    f"pb{pass_no}")
    py1, py_workers = python_workers_cpu(counters.jvm_pid)
    io1 = io_bytes(counters.jvm_pid)
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    rdds, cached_mb = counters.persisted()
    ok = [r for r in results[first:] if "error" not in r]
    jobs = sum(r["jobs"] for r in ok)
    m = layer_metrics(ok, cores)
    m.update({
        "functions.py_cpu_s": py1 - py0,
        "functions.py_workers": py_workers,
        "session.gc_s": sum(r["gc_s"] for r in ok),
        "io.read_mb": (io1[0] - io0[0]) / MB,
        "io.write_mb": (io1[1] - io0[1]) / MB,
        "io.shuffle_mb": sum(r["shuffle_mb"] for r in ok),
        "queries.jobs_total": jobs,
        "queries.s_per_job": wall / jobs if jobs else 0.0,
        "queries.catalyst_ms": sum(r["catalyst_ms"] for r in ok),
        "queries.persisted_rdds": rdds,
        "queries.cached_mb": cached_mb,
        "queries.leaky_n": sum(1 for r in ok if r["leaked"]),
        "streaming.untagged_jobs": sum(r["untagged_jobs"] for r in ok),
    })
    m.update({f"streaming.{k}": v for k, v in
              streaming_totals(log.events[n_events:]).items()})
    return wall, m


def main(job):
    sys.path.insert(0, job["root"])
    import __spark_entry__

    data, cores, seconds, tracing = (
        job["data"], job["cores"], job["seconds"], job["trace"])
    t_start = time.perf_counter()
    spark = start_session(job)
    session_start_s = time.perf_counter() - t_start
    oracles = __spark_entry__.oracle_sql()
    queries = timed_set(__spark_entry__.queries(), job["workload"])
    counters = SparkCounters(spark)

    t_warm = time.perf_counter()
    warm = []
    run_pass(spark, queries, data, warm, -1)
    ready = time.time()
    warm_s = time.perf_counter() - t_warm
    setup_cpu = {"jvm_cpu_s": proc_cpu_s(counters.jvm_pid),
                 "driver_cpu_s": sum(os.times()[:2])}

    if tracing:
        log = ProgressLog()
        spark.streams.addListener(log)
    # Closed loop, one client: whole passes back to back until the window
    # has passed and at least TIMED_PASSES have run.  run.py summarises only
    # the first TIMED_PASSES, so a faster program that fits more passes is
    # still read at the same pass positions.  Every pass of a traced run is
    # traced.
    results, passes = [], []
    t_window = time.perf_counter()
    while (len(passes) < TIMED_PASSES
           or time.perf_counter() - t_window < seconds):
        n = len(passes)
        if tracing:
            wall, m = traced_pass(spark, counters, queries, data, results,
                                  log, cores, n)
        else:
            wall, m = run_pass(spark, queries, data, results, n), None
        passes.append({"wall_s": wall, "metrics": m})

    executions = warm + results
    failures = check(executions, oracles, spark, data)
    encode = None
    if tracing:
        spark.streams.removeListener(log)
        encode = encode_chain(spark, counters, data)
    stop(spark)

    with open(job["result"], "w") as f:
        json.dump({
            "pid": os.getpid(),
            "ready_epoch": ready,
            "session_start_s": session_start_s,
            "warm_s": warm_s,
            "setup_cpu": setup_cpu,
            "queries": list(queries),
            "passes": passes,
            "executions": [{"name": r["name"], "pass": r["pass"],
                            "latency_s": r.get("latency_s")}
                           for r in executions],
            "failures": failures,
            "kg_encode": encode,
        }, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
