#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN — this
file is the guide-§1.4 noop-sink isolation bench the optimization round
cites in OPTIMIZATION_r06.md).

Usage:
    python bench_extra.py --sf /root/testdata/sf1.0 -q simhash_pairs -q ann_ivf_topk
    python bench_extra.py --sf /root/testdata/sf1.0 --all
    python bench_extra.py --explain plans/r06 -q semantic_dedup   # write .explain("formatted")

Per query: one cold force (Catalyst+codegen compile) then best-of-N warm
forces through the noop sink, with /proc/stat steal sampled around each
run so a slow number can be attributed to co-tenant load.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from bench import _proc_stat_sample, _steal_pct, build_spark, force


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("-q", "--query", action="append", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--warm-runs", type=int, default=2)
    ap.add_argument("--explain", metavar="DIR", default=None,
                    help="also write <DIR>/<query>.txt with explain('formatted')")
    ap.add_argument("--explain-suffix", default="", help="filename suffix, e.g. _before")
    ap.add_argument("--no-time", action="store_true", help="explain only, skip execution")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from embulk_filter_timestamp_format_spark.operators import unpersist_intermediates

    qs = E.queries()
    names = list(qs) if args.all else args.query
    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}{args.explain_suffix}.txt"), "w") as f:
                f.write(txt)
            unpersist_intermediates()
            if args.no_time:
                out[name] = {"explained": True}
                continue
        s0 = _proc_stat_sample()
        t0 = time.time()
        force(fn(spark, args.sf))
        cold = time.time() - t0
        steal_cold = _steal_pct(s0, _proc_stat_sample())
        best, steals = float("inf"), []
        for _ in range(args.warm_runs):
            s0 = _proc_stat_sample()
            t0 = time.time()
            force(fn(spark, args.sf))
            best = min(best, time.time() - t0)
            steals.append(_steal_pct(s0, _proc_stat_sample()))
        unpersist_intermediates()
        out[name] = {"cold": round(cold, 3), "warm": round(best, 3),
                     "steal_cold": steal_cold, "steal_warm": steals}
        print(name, json.dumps(out[name]), flush=True)
    print(json.dumps({"sf": args.sf, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
