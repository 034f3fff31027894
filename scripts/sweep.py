"""Full local oracle sweep: run every queries() entry against its
oracle_sql() via tests/oracle_harness.compare (type-faithful, r4).

Usage: python scripts/sweep.py [sf_dir] [name_filter_substr]
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
from spark_tensors_spark.session import get_session

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filt = sys.argv[2] if len(sys.argv) > 2 else ""
    # the console progress bar writes "[Stage N:>" onto the result lines
    spark = get_session(app_name="oracle-sweep",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    from tests.oracle_harness import compare, duck_connection
    qs, osql = e.queries(), e.oracle_sql()
    con = duck_connection(sf)
    fails, rows_only = [], []
    for name, fn in qs.items():
        if filt and filt not in name:
            continue
        t0 = time.time()
        if name not in osql:
            try:
                n = fn(spark, sf).count()
                print(f"{name:34s} ROWS-ONLY {n} rows {time.time()-t0:.1f}s", flush=True)
                rows_only.append(name)
            except Exception as ex:
                print(f"{name:34s} ERROR {ex}", flush=True)
                fails.append((name, str(ex)[:200]))
            continue
        try:
            ok, det = compare(fn, osql[name], spark, sf, con)
        except Exception as ex:
            ok, det = False, f"EXC {type(ex).__name__}: {ex}"
        print(f"{name:34s} {'OK ' if ok else 'FAIL'} {det[:160]} {time.time()-t0:.1f}s", flush=True)
        if not ok:
            fails.append((name, det[:300]))
    con.close()
    print(f"\n=== {len(fails)} failures, {len(rows_only)} rows-only ===")
    for n, d in fails:
        print(f"FAIL {n}: {d}")
    spark.stop()
    sys.exit(1 if fails else 0)

main()
