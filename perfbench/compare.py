#!/usr/bin/env python3
"""Compare two sets of benchmark records (e.g. a parent and a change).

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as written by run.py
(.bench_build/perfbench/results/*.json; span dumps are ignored). For every
workload and end-to-end metric it prints both sides' median and quartile
spread and whether the new median is worse than the base by more than the
metric's bound in BENCHMARK.json. Records taken on a different host shape
(cores, memory, JDK/Scala/Spark, master) or with different workload sizes
are never compared: the pair is reported as not_comparable.
"""
import glob
import json
import os
import statistics
import sys

SHAPE_KEYS = ("nproc", "mem_total_mb", "master", "cores_used", "jdk", "scala", "spark")


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("trace") and r.get("metrics"):
            recs.append(r)
    return recs


def shape(r):
    h = r["host"]
    # MemTotal in whole GiB: the same host reports slightly different totals
    return tuple(round(h[k] / 1024) if k == "mem_total_mb" else h[k]
                 for k in SHAPE_KEYS) + (json.dumps(r["provenance"]["sizes"], sort_keys=True),)


def spread(vs):
    if len(vs) < 2:
        return float("nan")
    q = statistics.quantiles(vs, n=4)
    return (q[2] - q[0]) / statistics.median(vs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted({r["workload"] for r in base + new}):
        b = [r for r in base if r["workload"] == wl]
        n = [r for r in new if r["workload"] == wl]
        shapes = {shape(r) for r in b + n}
        if not b or not n:
            print(f"{wl}: missing records on one side")
            continue
        if len(shapes) > 1:
            print(f"{wl}: not_comparable (records from {len(shapes)} host shapes or sizes)")
            continue
        for name, m in sorted(spec.items()):
            bv = [r["metrics"][name] for r in b if name in r["metrics"]]
            nv = [r["metrics"][name] for r in n if name in r["metrics"]]
            if not bv or not nv:
                continue
            bm, nm = statistics.median(bv), statistics.median(nv)
            worse = (nm - bm) / bm if m["better"] == "lower" else (bm - nm) / bm
            verdict = "regressed" if worse > m["bound"] else "within bound"
            print(f"{wl:17s} {name:24s} base {bm:.5g} (iqr {spread(bv):.3f}, n={len(bv)})"
                  f"  new {nm:.5g} (iqr {spread(nv):.3f}, n={len(nv)})"
                  f"  worse by {worse:+.3f} vs bound {m['bound']}: {verdict}")


if __name__ == "__main__":
    main()
