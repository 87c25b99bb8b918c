#!/usr/bin/env python3
"""Isolated A/B benchmark: one fresh JVM per (variant x query) cell.

The in-process driver bench (graft.Bench, all ~98 queries in ONE shared
JVM) demonstrably cannot resolve sub-2x perf claims on the shuffle-heavy
d-suite: round-over-round swings of +/-60% on untouched code (r7->r8:
d7 -46%, d3 +60%, d12 +63%). This runner removes the cross-QUERY JVM
confound: each cell gets its own cold-started JVM running graft.Bench
restricted to that one query (SPARK_GRAFT_BENCH_ONLY), with
SPARK_GRAFT_BENCH_ITERS=N in-JVM iterations and SPARK_GRAFT_BENCH_RAW=1
so every per-iteration sample lands in the report.

Why N iterations in ONE JVM per cell, not one JVM per SAMPLE (the r8
design): measured 2026-08-13, this host's guest-memory first-touch path
degrades monotonically (1us -> 550us/page over hours, superlinear under
concurrent faulting), so every fresh JVM pays minutes of sys-time
faulting its heap in — a per-sample JVM would measure the host's fault
path, not the query, and accelerate the degradation for every later
sample. One JVM per cell pays the fault tax once (untimed: Bench's
warmup + iteration 1 absorb heap growth; the median over N shrugs off
iteration 1), and the per-iteration raw samples still expose the spread.

Reported per cell: n, median, p25/p75, IQR, and raw samples.

Usage:
  tools/bench_isolated.py --out BENCH_ISOLATED.json --iters 9 \
      label=CLASSES_DIR:QUERY ...

e.g. an A/B of d9 across two builds plus twin-query comparisons:
  tools/bench_isolated.py --out BENCH_ISOLATED_r10.json --iters 9 \
      d9@pre=/root/repo/.ab-pre/target/scala-2.13/classes:d9_dup_clusters \
      d9@post=/root/repo/target/scala-2.13/classes:d9_dup_clusters \
      m6=/root/repo/target/scala-2.13/classes:m6_merge_badkey \
      m12=/root/repo/target/scala-2.13/classes:m12_merge_badkey_salted
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Mirrors build.sbt's jdk17AddOpens — Spark 4.x on JDK 17 outside
# spark-submit needs the module opens spark-submit would inject.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_cell(classes, query, iters, sf_dir, cpus, mem, timeout):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{mem}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:/opt/spark/jars/*",
        "graft.Bench",
    ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_BENCH_ITERS": str(iters),
        "SPARK_GRAFT_BENCH_ONLY": query,
        "SPARK_GRAFT_BENCH_RAW": "1",
        # Route graft.Bench's durable copy to a scratch file: without
        # this every cell CLOBBERS the repo's full-run BENCH_SELF.json
        # with a one-query report (bitten in r19).
        "SPARK_GRAFT_BENCH_OUT": f"/tmp/bench_cell_{query}.json",
    })
    r = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=timeout)
    # The bench prints TWO JSON lines since r21 (full per-query map first,
    # compact driver-parseable summary last) — take the one carrying the
    # per-query map.
    line = next((l for l in reversed(r.stdout.splitlines())
                 if l.startswith('{"metric"') and '"queries"' in l), None)
    if r.returncode != 0 or line is None:
        raise RuntimeError(
            f"cell failed rc={r.returncode}: {r.stderr.strip()[-500:]}")
    obj = json.loads(line)
    t = obj["queries"].get(query)
    if t is None or t < 0:
        raise RuntimeError(f"query {query} failed in-bench: {obj.get('failed')}")
    return t, obj.get("raw", {}).get(query, [t])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--iters", type=int, default=9,
                    help="in-JVM iterations per cell (median reported)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--mem", default="8g")
    ap.add_argument("--timeout", type=int, default=3600)
    ap.add_argument("cells", nargs="+",
                    help="label=CLASSES_DIR:QUERY[:SF_DIR] "
                         "(per-cell SF_DIR overrides --sf-dir; used by the "
                         "scale-stress protocol to interleave scale factors)")
    args = ap.parse_args()

    cells = []
    for c in args.cells:
        label, rest = c.split("=", 1)
        parts = rest.split(":")
        if len(parts) >= 3 and parts[-1].startswith("/"):
            classes, query, sf = ":".join(parts[:-2]), parts[-2], parts[-1]
        else:
            classes, query = rest.rsplit(":", 1)
            sf = args.sf_dir
        cells.append({"label": label, "classes": classes, "query": query,
                      "sf_dir": sf})

    out = {
        "protocol": {
            "mode": "fresh JVM per cell; N in-JVM iterations "
                    "(SPARK_GRAFT_BENCH_ONLY + ITERS + RAW)",
            "iters": args.iters, "sf_dir": args.sf_dir,
            "cpus": args.cpus, "mem": args.mem,
        },
        "cells": {},
    }
    t0 = time.time()
    for cell in cells:
        try:
            med, samples = run_cell(cell["classes"], cell["query"], args.iters,
                                    cell["sf_dir"], args.cpus, args.mem, args.timeout)
            s = sorted(samples)
            qs = statistics.quantiles(s, n=4, method="inclusive") if len(s) >= 2 else [s[0]] * 3
            stats = {"n": len(s), "median": round(statistics.median(s), 3),
                     "p25": round(qs[0], 3), "p75": round(qs[2], 3),
                     "iqr": round(qs[2] - qs[0], 3),
                     "min": round(s[0], 3), "max": round(s[-1], 3),
                     "samples": [round(x, 3) for x in samples]}
            print(f"[{time.time()-t0:7.1f}s] {cell['label']}: median={med:.3f}s "
                  f"({len(samples)} samples)", file=sys.stderr, flush=True)
        except Exception as e:
            stats = {"n": 0, "error": str(e)}
            print(f"[{time.time()-t0:7.1f}s] {cell['label']}: ERROR {e}",
                  file=sys.stderr, flush=True)
        out["cells"][cell["label"]] = {
            "query": cell["query"], "classes": cell["classes"],
            "sf_dir": cell["sf_dir"], **stats}
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)
    print(json.dumps({k: {kk: v[kk] for kk in ("median", "p25", "p75", "n")
                          if kk in v}
                      for k, v in out["cells"].items()}, indent=2))


if __name__ == "__main__":
    main()
